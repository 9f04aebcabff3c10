package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.ext.Dedup
import graft.sequential.SequentialChecks

/** Property-based invariants (SURVEY §5.3). Each case runs real Spark
  * jobs, so the per-property case count is kept small. */
object EngineProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = TestSpark.spark

  private case class Rec(serial: Long, bundle: Long, record: Long, size: Long, sec: Int)

  private def toDf(recs: Seq[Rec]) = {
    import spark.implicits._
    recs.map(r => ("f", r.serial, r.bundle, r.record, r.size,
      Timestamp.valueOf(f"2019-05-14 19:05:${r.sec}%02d"),
      Timestamp.valueOf(f"2019-05-14 19:05:${r.sec}%02d"), "log"))
      .toDF(SequentialChecks.FileCol, SequentialChecks.SerialNumber,
        SequentialChecks.BundleId, SequentialChecks.RecordId,
        SequentialChecks.BundleSize, SequentialChecks.GeneratedAt,
        SequentialChecks.ReceivedAt, SequentialChecks.LogFileName)
  }

  private def seqResults(recs: Seq[Rec]): Set[(String, Boolean, String, Option[Long])] =
    SequentialChecks(toDf(recs))
      .select("field_path", "valid", "details", "serial_number")
      .collect().toSet[org.apache.spark.sql.Row]
      .map(r => (Option(r.getString(0)).orNull, r.getBoolean(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))

  private val genRecs: Gen[List[Rec]] = for {
    n <- Gen.choose(2, 7)
    serials <- Gen.pick(n, 100L to 140L)
    recs <- Gen.sequence[List[Rec], Rec](serials.toList.sorted.map { s =>
      for {
        b <- Gen.choose(0L, 2L)
        r <- Gen.choose(0L, 4L)
        sz <- Gen.choose(1L, 5L)
        sec <- Gen.choose(0, 59)
      } yield Rec(s, b, r, sz, sec)
    })
  } yield recs

  property("sequential verdicts are invariant to input row order") =
    Prop.forAll(genRecs) { recs =>
      seqResults(recs) == seqResults(scala.util.Random.shuffle(recs))
    }

  property("perfect bundles yield only the passing sentinel") =
    Prop.forAll(Gen.choose(2, 5), Gen.choose(1, 3)) { (size, nBundles) =>
      val recs = (0 until nBundles).flatMap { b =>
        (0 until size).map { i =>
          Rec(100L + b * size + i, b, i, size, (b * size + i) % 60)
        }
      }
      seqResults(recs) == Set(("SequentialCheck", true, "", None))
    }

  property("deleting exactly one field fails exactly that presence rule") = {
    val fields = Seq("fa", "fb", "fc")
    val ini = "[_settings]\nDataType = json\nSequential = False\n\n" +
      fields.map(f => s"[$f]\nType = string\n").mkString("\n")
    val suite = graft.config.SuiteLoader.fromString(ini)
    val schema = org.apache.spark.sql.types.StructType(fields.map(f =>
      org.apache.spark.sql.types.StructField(f, org.apache.spark.sql.types.StringType)))
    Prop.forAll(Gen.oneOf(fields)) { dropped =>
      val json = fields.filterNot(_ == dropped)
        .map(f => s""""$f":"x"""").mkString("{", ",", "}")
      val ds = spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING)
      val df = spark.read.schema(schema).json(ds)
      val failed = df.select(explode(
        graft.rules.RuleCompiler.validationsColumn(suite, schema)).as("v"))
        .filter(!col("v.valid")).select("v.field_path")
        .collect().map(_.getString(0)).toSet
      failed == Set(dropped)
    }
  }

  property("exact dedup keeps the minimum id of every duplicate group") =
    Prop.forAll(Gen.listOfN(12, Gen.oneOf("aa", "bb", "cc", "dd"))) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val kept = Dedup.dropExactDuplicates(df, "text", "id")
        .select("id").collect().map(_.getLong(0)).toSet
      val expected = texts.zipWithIndex.groupBy(_._1).values
        .map(_.map(_._2.toLong).min).toSet
      kept == expected
    }

  property("minhash signatures of identical texts are identical") =
    Prop.forAll(Gen.alphaNumStr.suchThat(_.length > 10)) { text =>
      import spark.implicits._
      val df = Seq((1L, text + " " + text), (2L, text + " " + text)).toDF("id", "text")
      val sigs = df.select(Dedup.minhashSignature(
        Dedup.wordShingles(col("text"), 2), 16).as("sig"))
        .collect().map(_.getSeq[Long](0))
      sigs(0) == sigs(1)
    }

  property("word n-grams: count, window content, and distinct-equals-shingles") =
    Prop.forAll(Gen.listOf(Gen.oneOf("aa", "b", "ccc", " ", "\t", "Dd"))) { pieces =>
      import spark.implicits._
      val text = pieces.mkString(" ")
      val n = 2
      val grams = Seq(Tuple1(text)).toDF("text")
        .select(graft.functions.GraftFunctions.graftWordNgrams(col("text"), n))
        .head().getSeq[String](0)
      // independent reference: Java-regex tokenization of the same text.
      // NB space-ONLY trim: the engine-wide convention (native expression,
      // Spark's trim(), DuckDB's trim() all strip 0x20 only — Java's
      // String#trim would also strip a leading/trailing tab and diverge
      // from all three)
      val spaceTrimmed = text.toLowerCase
        .replaceAll("^ +", "").replaceAll(" +$", "")
      val words = spaceTrimmed.split("\\s+", -1).toSeq
      val expected = words.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      val shingles = Seq(Tuple1(text)).toDF("text")
        .select(graft.functions.GraftFunctions.graftWordShingles(col("text"), n))
        .head().getSeq[String](0)
      (grams == (if (words.size < n) Seq.empty else expected)) &&
        grams.distinct == shingles
    }

  private val genEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 18)
    edges <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 14L)
      b <- Gen.choose(0L, 14L)
    } yield (a, b))
  } yield {
    val es = edges.filter { case (a, b) => a != b }
    if (es.isEmpty) List((0L, 1L)) else es
  }

  /** Reference union-find over the same edge list. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  property("star-contraction components equal union-find on random graphs") =
    Prop.forAll(genEdges) { edges =>
      import spark.implicits._
      // chains, cliques, self-reversed duplicates — whatever the
      // generator produces, the distributed contraction must agree.
      // localThreshold = 0 forces the star-contraction rounds (the
      // default would route these driver-small graphs to the local
      // union-find path, which is checked separately below)
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.duplicateComponents(pairs, localThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(edges)
    }

  property("local union-find fast path equals the reference union-find") =
    Prop.forAll(genEdges) { edges =>
      import spark.implicits._
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.duplicateComponents(pairs) // small -> local path
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(edges)
    }

  private val genAsOf: Gen[(List[(String, Long, Long)], List[(String, Long, Long)])] =
    for {
      nl <- Gen.choose(1, 8)
      nr <- Gen.choose(0, 8)
      mk = (n: Int, base: Long) => Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        t <- Gen.choose(0L, 12L) // small domain: ties are COMMON on purpose
        id <- Gen.choose(base, base + 100L)
      } yield (k, t, id))
      l <- mk(nl, 0L)
      r <- mk(nr, 1000L)
    } yield (l, r.distinctBy(x => (x._1, x._2, x._3)))

  property("latest-wins upsert equals the in-memory fold") =
    Prop.forAll(
      Gen.listOfN(6, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0, 9))),
      Gen.listOfN(6, Gen.zip(Gen.zip(Gen.choose(0L, 6L), Gen.choose(0, 9)),
        Gen.option(Gen.oneOf(true, false))))) { (baseRows, updRows) =>
      import spark.implicits._
      val base = baseRows.zipWithIndex
        .map { case ((k, v), i) => (k, s"b$i", v) }.toDF("id", "payload", "version")
      val updates = updRows.zipWithIndex
        .map { case (((k, v), del), i) => (k, s"u$i", v, del) }
        .toDF("id", "payload", "version", "deleted")
      val got = graft.ext.Upsert
        .latestSnapshot(base, updates, Seq("id"), "version", Some("deleted"))
        .select("id", "payload").as[(Long, String)].collect().toMap
      // reference fold: per key the max (version, src, input-order) wins —
      // row_number ties inside the same side resolve by input order, so
      // the reference keeps the LAST seen row at equal (version, src)
      val all = baseRows.zipWithIndex.map { case ((k, v), i) =>
        (k, s"b$i", v, 0, false) } ++
        updRows.zipWithIndex.map { case (((k, v), del), i) =>
          (k, s"u$i", v, 1, del.getOrElse(false)) }
      val want = all.groupBy(_._1).flatMap { case (k, rows) =>
        val winner = rows.maxBy(r => (r._3, r._4))
        if (winner._5) None else Some(k -> winner._2)
      }
      // ties on (version, src) within one side are arbitrary in Spark's
      // row_number — compare only keys whose winner is unique
      val unambiguous = all.groupBy(_._1).collect {
        case (k, rows) if rows.count(r =>
          (r._3, r._4) == (rows.maxBy(x => (x._3, x._4))._3,
            rows.maxBy(x => (x._3, x._4))._4)) == 1 => k
      }.toSet
      // ambiguous keys (ties on version+side) may legally resolve either
      // way — including deleted-vs-kept — so only unambiguous keys are
      // value-compared
      unambiguous.forall(k => got.get(k) == want.get(k))
    }

  property("as-of join equals the in-memory point-in-time reference") =
    Prop.forAll(genAsOf) { case (lrows, rrows) =>
      import spark.implicits._
      val left = lrows.toDF("k", "lt", "lid")
      val right = rrows.toDF("rk", "rt", "rid")
      val got = graft.plans.AsOf
        .joinAsOf(left, right, "lt", "rt", Seq("k" -> "rk"), tieBreak = Some("rid"))
        .select("k", "lt", "lid", "rid")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      val want = lrows.map { case (k, lt, lid) =>
        val m = rrows.filter(r => r._1 == k && r._2 <= lt)
        (k, lt, lid,
          if (m.isEmpty) None
          else Some(m.maxBy(r => (r._2, r._3))._3)) // latest time, max tieBreak
      }.toSet
      got == want
    }

  // ---- BM25 vs in-memory reference --------------------------------------

  private val bmVocab = Vector("cat", "dog", "bird", "fish", "worm", "ant", "bee", "fly")

  private val genBm25: Gen[(List[(Long, String)], List[String])] = for {
    nDocs <- Gen.choose(3, 8)
    texts <- Gen.listOfN(nDocs,
      Gen.choose(1, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(bmVocab)).map(_.mkString(" "))))
    nTerms <- Gen.choose(1, 2)
    terms <- Gen.pick(nTerms, bmVocab)
  } yield (texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }, terms.toList)

  /** Same formula, same association order, same rounding as
    * [[graft.ext.Retrieval.bm25TopK]] — scores must agree bit-for-bit
    * after the 6-dp round. */
  private def refBm25(docs: Seq[(Long, String)], terms: Seq[String],
                      k: Int, k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+").toSeq }
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.size.toDouble).sum / n
    val dfs = terms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    toks.map { case (id, ws) =>
      val dl = ws.size.toDouble
      val score = terms.map { t =>
        val tf = ws.count(_ == t).toDouble
        val df = dfs(t)
        val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl))
      }.reduce(_ + _)
      id -> BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.filter(_._2 > 0.0).sortBy { case (id, s) => (-s, id) }.take(k)
  }

  property("bm25 top-k equals the in-memory reference") =
    Prop.forAll(genBm25) { case (docs, terms) =>
      import spark.implicits._
      val got = graft.ext.Retrieval
        .bm25TopK(docs.toDF("doc_id", "text"), "text", "doc_id", terms, k = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      got == refBm25(docs, terms, k = 5)
    }

  private val genWords: Gen[Seq[String]] =
    Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 12).map(i => s"w$i")))

  property("chunking covers every token exactly ceil(len/stride) times total") =
    // no shrinking: shrunk cases leave the generator's domain (empty
    // words) and falsify the MODEL, not the operator. Full coverage is
    // only claimed for stride <= window — stride > window is deliberate
    // token SUB-SAMPLING (gaps between chunks), asserted separately.
    Prop.forAllNoShrink(genWords, Gen.choose(2, 8), Gen.choose(1, 6)) { (ws, window, strideRaw) =>
      import spark.implicits._
      val stride = math.min(strideRaw, window)
      val df = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
      val rows = graft.ext.Packing.chunkDocuments(df, "text", "doc_id", window, stride)
        .collect().sortBy(_.getLong(1))
      val len = if (ws.isEmpty) 1 else ws.length // split("") yields [""]
      val expectedStarts = (0L until len.toLong by stride.toLong).toSeq
      val starts = rows.map(_.getLong(2)).toSeq
      val lengths = rows.map(_.getLong(3)).toSeq
      starts == expectedStarts &&
        lengths.forall(_ >= 1) && lengths.forall(_ <= window) &&
        // every token covered: union of [start, start+n) is [0, len)
        starts.zip(lengths).flatMap { case (s, n) => s until s + n }
          .toSet == (0L until len.toLong).toSet
    }

  property("chunking with stride > window sub-samples: gaps exactly stride-window") =
    Prop.forAllNoShrink(Gen.choose(10, 40)) { n =>
      import spark.implicits._
      val ws = (0 until n).map(i => s"w$i")
      val df = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
      val rows = graft.ext.Packing.chunkDocuments(df, "text", "doc_id",
          window = 3, stride = 5)
        .collect().sortBy(_.getLong(1))
      val covered = rows.flatMap(r => r.getLong(2) until r.getLong(2) + r.getLong(3)).toSet
      val expected = (0L until n.toLong).filter(_ % 5 < 3).toSet
      covered == expected
    }

  property("splitLabel respects cumulative band order and is deterministic") =
    Prop.forAll(Gen.choose(50, 300)) { n =>
      import spark.implicits._
      val fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val df = (0 until n).map(_.toLong).toDF("id")
      val a = df.select(col("id"), graft.ext.Sampling.splitLabel(col("id"), fracs).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val b = df.select(col("id"), graft.ext.Sampling.splitLabel(col("id"), fracs).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // deterministic, labels valid, and every label appears given enough ids
      a == b && a.values.forall(Set("train", "val", "test")) &&
        (n < 150 || a.values.toSet.size == 3)
    }

  property("MP3 header walk recovers exactly the frames the writer emitted") = {
    // pure JVM round-trip (no Spark job): random frame lists with mixed
    // bitrates/padding at each sample rate; the walk must recover the
    // frame count, sample rate, and total bitrate — and survive garbage
    val genFrames = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(1, 14), Gen.choose(0, 1))))
    Prop.forAll(Gen.choose(0, 2), genFrames) { (srIdx, frames) =>
      val bytes = graft.ext.Multimodal.mp3Bytes(srIdx, frames)
      val withGarbage = bytes ++ Array.fill(7)(0x13.toByte)
      val expectedSr = Seq(44100, 48000, 32000)(srIdx)
      val expectedBr = frames.map { case (br, _) =>
        Seq(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)(br).toLong
      }.sum
      graft.ext.Multimodal.walkMp3(bytes) == ((frames.length, expectedSr, expectedBr)) &&
        graft.ext.Multimodal.walkMp3(withGarbage)._1 == frames.length
    }
  }

  property("H.264 NAL scan recovers exactly the writer's type sequence") = {
    val genTypes = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(1, 5, 6, 7, 8, 9)))
    Prop.forAll(genTypes) { types =>
      graft.ext.Multimodal.scanNalTypes(graft.ext.Multimodal.h264Bytes(types)) == types
    }
  }

  property("winnowing DF form equals the Column form on random docs") = {
    val genDocs = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, genWords.map(_.mkString(" "))))
    Prop.forAll(genDocs) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val colForm = df.select(col("doc_id"),
          explode(graft.ext.TextAnalysis.winnowFingerprints(col("text"), 3, 4)).as("fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dfForm = graft.ext.TextAnalysis
        .winnowFingerprintsDF(df, "text", "doc_id", 3, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      colForm == dfForm
    }
  }

  private val genPts: Gen[List[(Long, Double, Double)]] = for {
    n <- Gen.choose(5, 40)
    pts <- Gen.listOfN(n, for {
      lat <- Gen.choose(-8000, 8000).map(_ / 100.0) // ±80°, 0.01° grid
      lon <- Gen.choose(-17000, 17000).map(_ / 100.0)
    } yield (lat, lon))
  } yield pts.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }

  property("radius-join halo equals brute force on random point clouds") =
    Prop.forAll(genPts, Gen.choose(1, 5)) { (pts, probeN) =>
      import spark.implicits._
      val df = pts.toDF("id", "lat", "lon")
      // probes drawn from the cloud itself; radius safely under the
      // 0.5° cell edge at 80° latitude (0.5·111045·cos80° ≈ 9641 m)
      val probes = pts.take(probeN).map { case (i, la, lo) => (i, la, lo) }
        .toDF("probe_id", "probe_lat", "probe_lon")
      val blocked = graft.ext.Geo.radiusJoin(df, probes, "lat", "lon",
          9000.0, 0.5)
        .select("probe_id", "id").as[(Long, Long)].collect().toSet
      val brute = df.crossJoin(probes)
        .withColumn("d", graft.ext.Geo.haversineMeters(col("lat"), col("lon"),
          col("probe_lat"), col("probe_lon")))
        .filter(col("d") <= 9000.0)
        .select("probe_id", "id").as[(Long, Long)].collect().toSet
      blocked == brute
    }

  property("haversine is symmetric, non-negative, and zero on the diagonal") =
    Prop.forAll(genPts) { pts =>
      import spark.implicits._
      val df = pts.take(8).toDF("id", "lat", "lon")
      val b = df.select(col("id").as("id2"), col("lat").as("lat2"),
        col("lon").as("lon2"))
      val d = df.crossJoin(b).select(col("id"), col("id2"),
          graft.ext.Geo.haversineMeters(col("lat"), col("lon"),
            col("lat2"), col("lon2")).as("d"),
          graft.ext.Geo.haversineMeters(col("lat2"), col("lon2"),
            col("lat"), col("lon")).as("drev"))
        .collect()
      d.forall { r =>
        val (i, j, x, y) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
        x >= 0 && math.abs(x - y) < 1e-9 && (i != j || x < 1e-6)
      }
    }

  property("native dateutil parse equals the Column-chain specification") = {
    val genTs: Gen[String] = Gen.oneOf(
      Gen.oneOf(
        "2019-05-14T19:05:47Z", "2019-05-14T19:05:47.123456Z",
        "May 14 2019 19:05:47 +0000", "20190514T190547Z",
        "2019-05-14", "May 14 2019", "05/14/2019 19:05",
        "14 May 2019 19:05:47 GMT", "2019-05-14 19:05:47 UTC",
        "2019-05-14T19:05:47+05:30", "Tue, 14 May 2019 19:05:47 +0000",
        "Tue May 14 19:05:47 2019", "May 14, 2019 7:05:47 PM",
        "14/05/2019 19:05:47", "2019.05.14 19:05:47", "14-May-2019 19:05",
        "20190514", "0000-01-01", "00000101", "2019-13-05", "2019-02-31",
        "2019-05-14T25:05:47Z", "not-a-timestamp",
        "2019-05-14T19:05:47Z GMT", "2019-05-14 19:05:47 America/New_York",
        // r8 zone-suffix closure: RFC-1123, POSIX tzstr (sign-inverted,
        // hour-only, compact, zero), bare tznames (naive), hour gate
        "Tue, 14 May 2019 19:05:47 GMT", "2019-05-14 19:05:47 UTC+05:30",
        "2019-05-14 19:05:47 GMT-7", "2019-05-14 19:05:47 UTC+0530",
        "2019-05-14 19:05:47 UTC+0", "2019-05-14 19:05:47 EST",
        "2019-05-14 19:05:47 PQRST", "2019-05-14 EST", "20190514 GMT+3",
        "2019-05-14T19:05:47+05:00 EST", "Tue, 14 May 2019 19:05:47 UT",
        "2019-05-14 19:05:47 NZ", "2019-05-14 19:05:47 XUTC"),
      for { // random near-ISO strings probe the guards' edges
        y <- Gen.choose(0, 2100); m <- Gen.choose(0, 19)
        d <- Gen.choose(0, 39); sep <- Gen.oneOf("-", "/", ".")
      } yield f"$y%04d$sep$m%02d$sep$d%02d")
    Prop.forAll(Gen.listOfN(12, genTs)) { vals =>
      import spark.implicits._
      val df = vals.toDF("ts")
      val both = df.select(
          graft.rules.RuleCompiler.parseTimestamp(col("ts"), None).as("native"),
          DateutilColumnChain.parseTimestampColumnSpec(col("ts")).as("spec"))
        .collect()
      both.forall(r => r.get(0) == r.get(1))
    }
  }

  property("count-min estimates never undercount, and are exact when wide") =
    Prop.forAll(Gen.listOfN(60, Gen.choose(0, 12))) { keys =>
      import spark.implicits._
      val df = keys.map(k => s"k$k").toDF("k")
      val exact = keys.map(k => s"k$k")
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      // squeezed: collisions guaranteed, bias must stay one-sided
      val squeezed = graft.ext.Sketches.heavyHitters(df, "k",
          depth = 3, width = 8, k = 13).collect()
      // wide: width >> distinct keys, estimates must be EXACT
      val wide = graft.ext.Sketches.heavyHitters(df, "k",
          depth = 3, width = 1024, k = 13).collect()
      squeezed.nonEmpty &&
        squeezed.forall { r =>
          r.getLong(1) >= r.getLong(2) && r.getLong(2) == exact(r.getString(0))
        } &&
        wide.forall(r => r.getLong(1) == r.getLong(2))
    }

  property("triangle census equals the brute-force triple count") =
    Prop.forAll(Gen.choose(4, 9), Gen.choose(30, 70)) { (n, pct) =>
      import spark.implicits._
      // deterministic pseudo-random graph from (n, pct)
      val pairs = for { a <- 0 until n; b <- a + 1 until n
        if (a * 31 + b * 17 + pct) % 100 < pct } yield (a, b)
      if (pairs.isEmpty) true
      else {
        val edges = pairs.toDF("a", "b")
        val r = graft.ext.Graph.triangleStats(edges).collect()(0)
        val es = pairs.toSet
        val brute = (for { a <- 0 until n; b <- a + 1 until n; c <- b + 1 until n
          if es((a, b)) && es((b, c)) && es((a, c)) } yield 1).size
        r.getLong(2) == brute.toLong && r.getLong(1) == pairs.size.toLong
      }
    }

  property("scd2History conserves rows and chains validity per key") =
    Prop.forAll(Gen.listOfN(20, for {
      k <- Gen.choose(1, 3); a <- Gen.oneOf("X", "Y", "Z")
      d <- Gen.choose(1, 30)
    } yield (k, a, d))) { raw =>
      import spark.implicits._
      val rows = raw.zipWithIndex.map { case ((k, a, d), i) => (k, a, d, i) }
      val df = rows.toDF("k", "attr", "d", "id")
      val hist = graft.ext.Upsert.scd2History(df, "k", "attr", Seq("d", "id"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          r.getBoolean(4), r.getLong(5)))
      val byKey = hist.groupBy(_._1)
      byKey.forall { case (_, islands) =>
        val sorted = islands.sortBy(_._3)
        // exactly one open (current) interval per key, at the end
        sorted.count(_._5) == 1 && sorted.last._5 &&
        // each valid_to chains to the NEXT island's valid_from, and
        // consecutive islands always change the attribute
        sorted.toSeq.sliding(2).forall {
          case scala.collection.Seq(a, b) =>
            a._4.contains(b._3) && a._2 != b._2
          case _ => true
        }
      } && hist.map(_._6).sum == rows.size
    }

  property("tripSummaries conserves fixes and trip ids are dense from 1") =
    Prop.forAll(Gen.listOfN(25, for {
      k <- Gen.choose(1, 3); t <- Gen.choose(0L, 500L)
    } yield (k, t))) { raw =>
      import spark.implicits._
      val ns = 1000000000L
      val rows = raw.zipWithIndex.map { case ((k, t), i) =>
        (k, t * 60L * ns, i.toLong, 0.001 * (i % 7), 0.001 * (i % 5))
      }
      val df = rows.toDF("k", "ts", "id", "lat", "lon")
      val trips = graft.ext.Geo.tripSummaries(df, "k", "ts", "id",
          "lat", "lon", gapNs = 3600L * ns, cellDeg = 0.05)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getAs[Long]("n_fixes")))
      trips.map(_._3).sum == rows.size &&
        trips.groupBy(_._1).forall { case (_, ts) =>
          ts.map(_._2).sorted.toSeq == (1L to ts.length).toSeq
        }
    }

  property("ntileFromRank equals the SQL ntile window for random n and k") =
    Prop.forAll(Gen.choose(1, 40), Gen.choose(1, 8)) { (n, k) =>
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      val df = (1 to n).map(i => (i.toLong, n.toLong)).toDF("r", "n")
      val got = df.select(graft.ext.Ranking.ntileFromRank("r", "n", k).as("b"))
        .collect().map(_.getAs[Any]("b").toString.toLong).sorted.toSeq
      val want = df.select(ntile(k).over(Window.orderBy(col("r"))).as("b"))
        .collect().map(_.getInt(0).toLong).sorted.toSeq
      got == want
    }

  property("keepBestDuplicates equals the in-memory argmax on random corpora") =
    Prop.forAll(Gen.listOfN(10, for {
      t <- Gen.oneOf("aa", "bb", "cc")
      s <- Gen.choose(0, 9)
    } yield (t, s))) { rows =>
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((t, s), i) => (i.toLong, t, s / 10.0) }
        .toDF("id", "text", "score")
      val got = Dedup.keepBestDuplicates(df, "text", "id", "score")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = rows.zipWithIndex.groupBy(_._1._1).values.flatMap { g =>
        val canon = g.minBy { case ((_, s), i) => (-s, i) }._2.toLong
        g.map { case (_, i) => i.toLong -> canon }
      }.toMap
      got == expected
    }

  property("calibrationBins: counts partition the input and ECE is bounded") =
    Prop.forAll(Gen.listOfN(20, for {
      s <- Gen.choose(0, 100)
      y <- Gen.oneOf(true, false)
    } yield (s / 100.0, y))) { rows =>
      import spark.implicits._
      val df = rows.toDF("score", "label")
      val got = graft.ext.Stats.calibrationBins(df, "score", "label", bins = 5)
        .collect()
      val n = got.map(_.getLong(1)).sum
      val ece = got.headOption.map(_.getDouble(5)).getOrElse(0.0)
      n == rows.length && ece >= 0.0 && ece <= 1.0 &&
        got.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 4) &&
        got.forall(r => math.abs(r.getDouble(2) - r.getDouble(3)) -
          r.getDouble(4) < 1e-6 + 1e-9)
    }
}
