package graft

import java.math.RoundingMode
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Generates `fixtures/golden/q_compression_ratio.sql` — the value-level
 * DuckDB oracle for the one registry entry with no SQL-expressible
 * oracle (r11 verdict item 2): DuckDB has no deflate, so the expected
 * values are pinned per document, computed here with java.util.zip
 * DIRECTLY (an inline Deflater loop, independent of the engine's
 * [[graft.functions.DeflateOps]] codegen path — the same independence
 * pattern TextExpressionsSpec uses, extended to every gate document).
 *
 * The emitted SQL is corpus-adaptive: one pinned VALUES block per gate
 * scale factor, selected by the md5 of the ordered document texts —
 * counts alone cannot discriminate (sf0.001 and sf0.01 both hold 500
 * docs with different content), a content hash can. An unpinned corpus
 * selects zero branches → 0 oracle rows → a LOUD row-count failure,
 * never a silent pass.
 *
 *   sbt "runMain graft.Tools gen-compression-golden"
 */
object GenCompressionGolden {
  /** Raw-deflate ratio, default level — inline and independent of
   *  DeflateOps (no shared helper on purpose). */
  private def deflateRatio(text: String): Double = {
    val in = text.getBytes(StandardCharsets.UTF_8)
    if (in.length == 0) return 1.0
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(in); d.finish()
      val buf = new Array[Byte](4096)
      var out = 0L
      while (!d.finished()) out += d.deflate(buf)
      out.toDouble / in.length
    } finally d.end()
  }

  /** Spark round(col, 6) semantics: HALF_UP at 6 decimals. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  def run(spark: SparkSession, sfDirs: Seq[String]): Unit = {
    val branches = sfDirs.map { dir =>
      val rows0 = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").collect()
      // ADVICE r12: a NULL text would NPE here while DuckDB's string_agg
      // silently skips NULLs — diverging discriminators with no error.
      // Fail loudly at generation instead.
      require(!rows0.exists(_.isNullAt(1)),
        s"$dir/documents.parquet carries NULL text — the discriminator " +
          "contract assumes non-null texts")
      val docs = rows0.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      // the same discriminator the SQL computes:
      // md5(string_agg(md5(text), '|' ORDER BY doc_id)) — per-doc md5s
      // first (ADVICE r12), so a '|' INSIDE a text can never make two
      // different corpora concatenate identically (md5 hex is
      // separator-free by construction)
      val corpusHash = md5Hex(docs.map(d => md5Hex(d._2)).mkString("|"))
      val rows = docs.zipWithIndex.map { case ((id, text), i) =>
        val v = round6(deflateRatio(text))
        // first row carries the casts that type the whole VALUES block
        if (i == 0) s"(CAST($id AS BIGINT), CAST($v AS DOUBLE))"
        else s"($id, $v)"
      }
      s"""SELECT doc_id, deflate_ratio FROM (VALUES
         |${rows.mkString(",\n")}
         |) v(doc_id, deflate_ratio)
         |WHERE (SELECT md5(string_agg(md5(text), '|' ORDER BY doc_id)) FROM documents) = '$corpusHash'""".stripMargin
    }

    val sql = s"-- generated by graft.GenCompressionGolden over ${sfDirs.mkString(", ")}\n" +
      s"-- java.util.zip raw deflate (default level), round HALF_UP 6dp\n" +
      branches.mkString("\nUNION ALL\n")
    val out = Paths.get("/root/repo/fixtures/golden/q_compression_ratio.sql")
    Files.writeString(out, sql)
    println(s"[gen-compression-golden] wrote $out (${branches.size} corpora)")
  }
}
