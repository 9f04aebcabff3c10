package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Geo, Linkage, Sketches, Upsert}

/** Hand-computed pins for the spatial/trajectory operators
  * ([[graft.ext.Geo]]) and the round's warehouse/sketch/linkage
  * additions: haversine against a textbook value, radius-join blocking
  * equal to brute force across cell boundaries, trip legs, SCD2
  * islands, count-min one-sided bias, and fuzzy best-match selection. */
class GeoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("haversineMeters: equator degree and pole-to-pole pins") {
    val df = Seq((0.0, 0.0, 0.0, 1.0), (90.0, 0.0, -90.0, 0.0))
      .toDF("lat1", "lon1", "lat2", "lon2")
      .select(Geo.haversineMeters(col("lat1"), col("lon1"),
        col("lat2"), col("lon2")).as("d"))
      .collect().map(_.getDouble(0))
    // one degree of longitude on the equator: R·π/180 ≈ 111195 m
    assert(math.abs(df(0) - 6371000.0 * math.Pi / 180.0) < 1e-6)
    // antipodal poles: half the great circle, R·π
    assert(math.abs(df(1) - 6371000.0 * math.Pi) < 1e-6)
  }

  test("bearingDegrees: compass pins at the equator") {
    val b = Seq(
      (0.0, 0.0, 1.0, 0.0),  // due north
      (0.0, 0.0, 0.0, 1.0),  // due east
      (0.0, 0.0, -1.0, 0.0), // due south
      (0.0, 0.0, 0.0, -1.0)) // due west
      .toDF("lat1", "lon1", "lat2", "lon2")
      .select(Geo.bearingDegrees(col("lat1"), col("lon1"),
        col("lat2"), col("lon2")).as("b"))
      .collect().map(_.getDouble(0))
    assert(b.zip(Seq(0.0, 90.0, 180.0, 270.0))
      .forall { case (got, want) => math.abs(got - want) < 1e-9 })
  }

  test("cellCounts: points bin to the enclosing cell, negatives floor down") {
    val pts = Seq((0.07, -0.01, 2.0), (0.08, -0.01, 3.0), (0.02, 0.02, 5.0))
      .toDF("lat", "lon", "v")
    val r = Geo.cellCounts(pts, "lat", "lon", "v", 0.05)
      .orderBy("cell_lat").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq((0L, 0L, 1L), (1L, -1L, 2L)))
    assert(r(1).getDouble(3) == 5.0) // 2.0 + 3.0 in cell (1, -1)
  }

  test("radiusJoin: cell-halo candidates equal brute force at the boundary") {
    // probe sits just inside cell (0,0); matches straddle 3 cells
    val probes = Seq((0L, 0.049, 0.049)).toDF("probe_id", "probe_lat", "probe_lon")
    val pts = (0 until 100).map { i =>
      (i.toLong, 0.0005 * i, 0.098 - 0.0005 * i)
    }.toDF("id", "lat", "lon")
    val blocked = Geo.radiusJoin(pts, probes, "lat", "lon", 2000.0, 0.05)
      .select("id").as[Long].collect().sorted
    val brute = pts.crossJoin(probes)
      .withColumn("d", Geo.haversineMeters(col("lat"), col("lon"),
        col("probe_lat"), col("probe_lon")))
      .filter(col("d") <= 2000.0).select("id").as[Long].collect().sorted
    assert(brute.nonEmpty && blocked.toSeq == brute.toSeq)
  }

  test("tripStats: two-leg trajectory sums legs and derives speed") {
    // 3 fixes along the equator, 0.01° apart, 10 s apart
    val ns = 1000000000L
    val pts = Seq((1, 0L * ns, 0L, 0.0, 0.0), (1, 10L * ns, 1L, 0.0, 0.01),
      (1, 20L * ns, 2L, 0.0, 0.02)).toDF("k", "ts", "id", "lat", "lon")
    val r = Geo.tripStats(pts, "k", "ts", "id", "lat", "lon").collect()(0)
    val leg = 6371000.0 * math.Pi / 180.0 * 0.01 // ≈ 1111.95 m
    assert(r.getAs[Long]("n_fixes") == 3L)
    assert(math.abs(r.getAs[Double]("total_m") - 2 * leg) < 0.02)
    assert(math.abs(r.getAs[Double]("max_leg_m") - leg) < 0.02)
    assert(r.getAs[Double]("duration_s") == 20.0)
    assert(math.abs(r.getAs[Double]("avg_speed_mps") - 2 * leg / 20.0) < 0.01)
  }

  test("scd2History: islands collapse with correct validity chain") {
    val ch = Seq((1, "A", 1, 10), (1, "A", 2, 11), (1, "B", 3, 12),
      (1, "A", 4, 13), (2, "C", 1, 14)).toDF("k", "attr", "d", "id")
    val r = Upsert.scd2History(ch, "k", "attr", Seq("d", "id"))
      .orderBy("k", "valid_from").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getInt(2),
        Option(x.get(3)), x.getBoolean(4), x.getLong(5)))
    assert(r.toSeq == Seq(
      (1, "A", 1, Some(3), false, 2L),
      (1, "B", 3, Some(4), false, 1L),
      (1, "A", 4, None, true, 1L),
      (2, "C", 1, None, true, 1L)))
  }

  test("countMin: estimates are exact on a wide sketch, >= exact when squeezed") {
    val keys = (Seq.fill(5)("x") ++ Seq.fill(3)("y") ++ Seq("z")).toDF("k")
    val wide = Sketches.heavyHitters(keys, "k", depth = 4, width = 1024, k = 3)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(wide.toSeq == Seq(("x", 5L, 5L), ("y", 3L, 3L), ("z", 1L, 1L)))
    // width 1: every key collides into one counter = total stream length
    val squeezed = Sketches.heavyHitters(keys, "k", depth = 2, width = 1, k = 3)
      .collect()
    assert(squeezed.forall(r => r.getLong(1) == 9L && r.getLong(1) >= r.getLong(2)))
  }

  test("triangleStats: K4 has 4 triangles and clustering 1") {
    val k4 = (for { a <- 0 to 3; b <- 0 to 3 if a < b } yield (a, b)).toDF("a", "b")
    val r = graft.ext.Graph.triangleStats(k4).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((4L, 6L, 4L, 1.0)))
  }

  test("fuzzyBestMatch: nearest reference wins, ties break on key") {
    val refs = Seq((1, "red widget"), (2, "red wagon"), (3, "blue widget"))
      .toDF("rk", "rn")
    val probes = Seq((10, "red widgez"), (11, "red xyzzy")).toDF("pk", "pn")
    val r = Linkage.fuzzyBestMatch(probes, refs, "pk", "pn", "rk", "rn", 2)
      .collect().map(x => (x.getInt(0), x.getInt(2), x.getInt(4), x.getLong(5)))
    // probe 10: widget at lev 1 beats wagon (lev 5 > 2, filtered)
    assert(r.toSeq == Seq((10, 1, 1, 1L)))
  }

  test("fuzzyBestMatch: duplicate names — every copy counts, min key represents") {
    // the name-dedup fast path must still report ROW-level candidate
    // counts and the minimum key of the winning name
    val refs = Seq((7, "red widget"), (4, "red widget"), (9, "red widget"),
      (2, "red wagon")).toDF("rk", "rn")
    val probes = Seq((10, "red widgez"), (11, "red widgez")).toDF("pk", "pn")
    val r = Linkage.fuzzyBestMatch(probes, refs, "pk", "pn", "rk", "rn", 2)
      .collect().map(x => (x.getInt(0), x.getInt(2), x.getInt(4), x.getLong(5)))
      .sortBy(_._1)
    // three widget copies are all candidates (lev 1); min key 4 wins;
    // both probe rows (same name) get the match
    assert(r.toSeq == Seq((10, 4, 1, 3L), (11, 4, 1, 3L)))
  }

  test("inConvexPolygon/geofenceCounts: half-plane tests, overlap counts twice") {
    val tri = Seq((0.0, 0.0), (0.0, 2.0), (2.0, 1.0)) // CCW triangle
    val sq = Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0))
    // at lat 0.5 the right edge of the triangle is lon 1.75: 1.7 in, 1.8 out
    val pts = Seq((0.5, 0.5, 1.0), (0.5, 1.7, 2.0), (0.5, 1.8, 3.0),
      (1.9, 1.0, 4.0), (3.0, 3.0, 8.0)).toDF("lat", "lon", "v")
    val in = pts.select(col("lat"),
      Geo.inConvexPolygon(col("lat"), col("lon"), tri).as("t"),
      Geo.inConvexPolygon(col("lat"), col("lon"), sq).as("s")).collect()
      .map(r => (r.getBoolean(1), r.getBoolean(2)))
    assert(in.toSeq == Seq((true, true), (true, false), (false, false),
      (true, false), (false, false)))
    val z = Geo.geofenceCounts(pts, "lat", "lon", "v",
        Seq("tri" -> tri, "sq" -> sq)).orderBy("zone").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // (0.5,0.5) is inside BOTH zones — counted in each
    assert(z.toSeq == Seq(("sq", 1L, 1.0), ("tri", 3L, 2.333333)))
  }

  test("tripSegments/tripSummaries: gaps split trips, legs stay intra-trip") {
    val ns = 1000000000L
    // user 1: fixes at 0s,10s then a 2h gap then 7210s,7220s — two trips
    val pts = Seq(
      (1, 0L * ns, 0L, 0.0, 0.00), (1, 10L * ns, 1L, 0.0, 0.01),
      (1, 7210L * ns, 2L, 0.0, 0.10), (1, 7220L * ns, 3L, 0.0, 0.11))
      .toDF("k", "ts", "id", "lat", "lon")
    // the public segmentation op itself (not just the roll-up's inline
    // twin): trip ids are 1-based per-key cumsums at gap boundaries
    val seg = graft.ext.Geo.tripSegments(pts, "k", "ts", "id",
        gapNs = 3600L * ns)
      .orderBy("ts").collect().map(_.getAs[Long]("trip_seq"))
    assert(seg.toSeq == Seq(1L, 1L, 2L, 2L))
    val r = graft.ext.Geo.tripSummaries(pts, "k", "ts", "id", "lat", "lon",
        gapNs = 3600L * ns, cellDeg = 0.05)
      .orderBy("trip_seq").collect()
    assert(r.length == 2)
    val leg = 6371000.0 * math.Pi / 180.0 * 0.01
    assert(r.map(_.getAs[Long]("n_fixes")).toSeq == Seq(2L, 2L))
    // each trip covers ONE 0.01° leg — the 0.09° inter-trip jump is not counted
    assert(r.forall(x => math.abs(x.getAs[Double]("trip_m") - leg) < 0.02))
    assert(r(0).getAs[Long]("o_cell_lon") == 0L) // origin cell of trip 1
    assert(r(1).getAs[Long]("o_cell_lon") == 2L) // 0.10 / 0.05
  }

  test("colocationPairs: halo join equals brute force, same-key pairs excluded") {
    val ns = 1000000000L
    val pts = (0 until 60).map { i =>
      // 3 users interleaved in time, walking near the 0.02° cell boundary
      (i % 3, i.toLong, i * 60L * ns, 0.0195 + 0.0002 * (i / 3), 0.02 - 0.0002 * (i / 3))
    }.toDF("k", "id", "ts", "lat", "lon")
    val blocked = graft.ext.Geo.colocationPairs(pts, "k", "id", "ts",
        "lat", "lon", distM = 300.0, dtNs = 120L * ns, cellDeg = 0.01)
      .orderBy("key_a", "key_b").collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getLong(2)))
    val a = pts.select(col("k").as("ka"), col("ts").as("ta"),
      col("lat").as("la"), col("lon").as("na"))
    val brute = a.crossJoin(pts)
      .filter(col("ka") < col("k") &&
        abs(col("ta") - col("ts")) <= 120L * ns)
      .withColumn("d", Geo.haversineMeters(col("la"), col("na"),
        col("lat"), col("lon")))
      .filter(col("d") <= 300.0)
      .groupBy(col("ka"), col("k")).agg(count(lit(1)).as("n"))
      .orderBy("ka", "k").collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getLong(2)))
    assert(brute.nonEmpty && blocked.toSeq == brute.toSeq)
    assert(blocked.forall(p => p._1 < p._2))
  }

  test("colocationPairs hot-cell valve: overloaded cells drop, cool cells unaffected") {
    val ns = 1000000000L
    // hot cell: 8 users stacked on one spot/bucket (28 pairs from one
    // cell); cool pair: 2 users 10° away, same times
    val hot = (0 until 8).map(i => (i, i.toLong, 0L, 0.005, 0.005))
    val cool = Seq((100, 100L, 0L, 10.005, 10.005), (101, 101L, 0L, 10.005, 10.005))
    val pts = (hot ++ cool).toDF("k", "id", "ts", "lat", "lon")
    def run(cap: Long) = graft.ext.Geo.colocationPairs(pts, "k", "id", "ts",
        "lat", "lon", distM = 300.0, dtNs = 120L * ns, cellDeg = 0.01,
        maxCellFixes = cap).collect()
        .map(x => (x.getInt(0), x.getInt(1))).toSet
    // cap above the hot load: every pair surfaces
    assert(run(100L).size == 28 + 1)
    // cap below it: the hot cell's quadratic face is excluded entirely,
    // the cool pair is untouched
    assert(run(4L) == Set((100, 101)))
    intercept[IllegalArgumentException](run(0L))
  }

  test("hotCells readout names the excluded groups; strict mode fails loudly " +
      "(r14 ADVICE — the valve must not be silent)") {
    val ns = 1000000000L
    val hot = (0 until 8).map(i => (i, i.toLong, 0L, 0.005, 0.005))
    val cool = Seq((100, 100L, 0L, 10.005, 10.005), (101, 101L, 0L, 10.005, 10.005))
    val pts = (hot ++ cool).toDF("k", "id", "ts", "lat", "lon")
    // the readout reports exactly the (cell, bucket) the valve excludes
    val report = graft.ext.Geo.hotCells(pts, "ts", "lat", "lon",
      dtNs = 120L * ns, cellDeg = 0.01, maxCellFixes = 4L).collect()
    assert(report.length == 1 && report.head.getLong(3) == 8L,
      s"expected the one 8-fix hot cell, got ${report.toSeq}")
    // strict mode: refuses instead of returning silently-incomplete pairs
    val e = intercept[IllegalArgumentException] {
      graft.ext.Geo.colocationPairs(pts, "k", "id", "ts", "lat", "lon",
        distM = 300.0, dtNs = 120L * ns, cellDeg = 0.01,
        maxCellFixes = 4L, strictHotCells = true)
    }
    assert(e.getMessage.contains("1 (cell, bucket) groups") &&
      e.getMessage.contains("hotCells"))
    val eSliced = intercept[IllegalArgumentException] {
      graft.ext.Geo.colocationPairsSliced(pts, "k", "id", "ts", "lat", "lon",
        distM = 300.0, dtNs = 120L * ns, cellDeg = 0.01,
        maxCellFixes = 4L, strictHotCells = true)
    }
    assert(eSliced.getMessage.contains("strictHotCells"))
    // a cool corpus passes strict and equals non-strict
    val coolPts = cool.toDF("k", "id", "ts", "lat", "lon")
    val strictOk = graft.ext.Geo.colocationPairs(coolPts, "k", "id", "ts",
      "lat", "lon", distM = 300.0, dtNs = 120L * ns, cellDeg = 0.01,
      maxCellFixes = 4L, strictHotCells = true).collect()
    assert(strictOk.length == 1)
  }

  test("colocationPairsSliced skips empty slices: one epoch-0 outlier must " +
      "not grid-iterate the whole span (r14 ADVICE)") {
    val ns = 1000000000L
    val dt = 120L * ns
    // a tight cluster of encounters far from epoch... plus ONE corrupt
    // epoch-0 fix. Raw-range iteration at sliceBuckets=4 would launch
    // ~5.7M slices (centuries of 2-minute buckets / 4); populated-slice
    // iteration launches 2. The 60 s timeout is the regression guard.
    val base = 87000000L * dt // ~2730 CE in 2-min buckets: a huge raw span
    val cluster = (0 until 20).map { i =>
      (i % 4, i.toLong, base + i.toLong * 10L * ns, 0.005, 0.005)
    }
    val outlier = Seq((99, 99L, 0L, 50.005, 50.005))
    val pts = (cluster ++ outlier).toDF("k", "id", "ts", "lat", "lon")
    val done = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fut = done.submit(new java.util.concurrent.Callable[Set[(Int, Int)]] {
        def call(): Set[(Int, Int)] =
          graft.ext.Geo.colocationPairsSliced(pts, "k", "id", "ts",
              "lat", "lon", distM = 300.0, dtNs = dt, cellDeg = 0.01,
              sliceBuckets = 4L)
            .collect().map(x => (x.getInt(0), x.getInt(1))).toSet
      })
      val sliced = fut.get(60, java.util.concurrent.TimeUnit.SECONDS)
      val oneShot = graft.ext.Geo.colocationPairs(pts, "k", "id", "ts",
          "lat", "lon", distM = 300.0, dtNs = dt, cellDeg = 0.01)
        .collect().map(x => (x.getInt(0), x.getInt(1))).toSet
      assert(oneShot.nonEmpty && sliced == oneShot,
        "empty-slice skipping must not change the answer")
    } finally done.shutdownNow()
  }

  test("colocationPairsSliced == one-shot across slice boundaries") {
    val ns = 1000000000L
    val dt = 120L * ns
    // encounters engineered to STRADDLE every slice boundary: pairs in
    // adjacent time buckets (within dt but across the bucket edge), with
    // sliceBuckets=2 so cross-boundary partners come from the overlap read
    val pts = (0 until 40).flatMap { i =>
      val t0 = i.toLong * dt + (dt - 10L * ns) // near the top of bucket i
      Seq((i % 5, 2L * i, t0, 0.005 + 0.0001 * (i % 3), 0.005),
          ((i + 1) % 5, 2L * i + 1, t0 + 20L * ns, 0.005, 0.005))
    }.toDF("k", "id", "ts", "lat", "lon")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getInt(0), x.getInt(1),
        x.getLong(2), x.getDouble(3))).toSet
    val oneShot = agg(graft.ext.Geo.colocationPairs(pts, "k", "id", "ts",
      "lat", "lon", distM = 300.0, dtNs = dt, cellDeg = 0.01))
    val sliced = agg(graft.ext.Geo.colocationPairsSliced(pts, "k", "id", "ts",
      "lat", "lon", distM = 300.0, dtNs = dt, cellDeg = 0.01,
      sliceBuckets = 2L))
    assert(oneShot.nonEmpty && sliced == oneShot)
  }

  test("colocationPairsSliced == one-shot at a fine dtNs over a long span") {
    // 1 ms buckets over ~8 hours: millions of buckets, a handful of
    // populated slices. Three clusters, each straddling a slice edge of
    // the default 32768-bucket slices; one before epoch 0, where bucket
    // and slice ids are negative
    val ms = 1000000L
    val slice = 32768L * ms
    val pts = Seq(-100L, 150L, 330L).zipWithIndex.flatMap { case (edge, c) =>
      (-3 to 3).map { j =>
        ((j + 3) % 4 + 10 * c, (10 * c + j + 3).toLong, edge * slice + j * 400000L,
          0.005 + 0.0001 * ((j + 3) % 2), 0.005)
      }
    }.toDF("k", "id", "ts", "lat", "lon")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getInt(0), x.getInt(1),
        x.getLong(2), x.getDouble(3))).toSet
    val oneShot = agg(graft.ext.Geo.colocationPairs(pts, "k", "id", "ts",
      "lat", "lon", distM = 300.0, dtNs = ms, cellDeg = 0.01))
    val sliced = agg(graft.ext.Geo.colocationPairsSliced(pts, "k", "id", "ts",
      "lat", "lon", distM = 300.0, dtNs = ms, cellDeg = 0.01))
    assert(oneShot.size >= 9 && sliced == oneShot)
  }

  test("typeTransitions: bigram counts and row-normalized probabilities") {
    val ns = 1000000000L
    val ev = Seq((1, 0L, 0L, "a"), (1, 1L * ns, 1L, "b"), (1, 2L * ns, 2L, "a"),
      (1, 3L * ns, 3L, "b"), (2, 0L, 4L, "a"), (2, 1L * ns, 5L, "c"))
      .toDF("u", "ts", "id", "t")
    val r = graft.ext.Events.typeTransitions(ev, "u", "ts", "id", "t")
      .orderBy("prev_type", "next_type").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3)))
    // from 'a': a→b twice, a→c once; from 'b': b→a once
    assert(r.toSeq == Seq(("a", "b", 2L, 0.666667), ("a", "c", 1L, 0.333333),
      ("b", "a", 1L, 1.0)))
  }

  test("ntileFromRank matches the ntile window for ragged n") {
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(3, 7, 10, 11, 23); k <- Seq(2, 5)) {
      val df = (1 to n).map(i => (i.toLong, n.toLong)).toDF("r", "n")
      val got = df.select(col("r"),
          graft.ext.Ranking.ntileFromRank("r", "n", k).as("b"))
        .orderBy("r").collect().map(_.getAs[Any]("b").toString.toLong)
      val want = df.select(col("r"),
          ntile(k).over(Window.orderBy(col("r"))).as("b"))
        .orderBy("r").collect().map(_.getInt(1).toLong)
      assert(got.toSeq == want.toSeq, s"n=$n k=$k")
    }
  }

  test("geofenceTransitions/zoneDwell: entry, exit, and step-function dwell") {
    val ns = 1000000000L
    val z = Seq("box" -> Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)))
    // outside -> in (10s) -> in (20s) -> outside (40s): one entry, one exit
    val pts = Seq((1, 0L, 0L, 5.0, 5.0), (1, 10L * ns, 1L, 0.5, 0.5),
      (1, 30L * ns, 2L, 0.6, 0.6), (1, 70L * ns, 3L, 5.0, 5.0))
      .toDF("k", "ts", "id", "lat", "lon")
    val tr = graft.ext.Geo.geofenceTransitions(pts, "k", "ts", "id",
        "lat", "lon", z).orderBy("ts").collect()
      .map(r => (Option(r.getString(3)), Option(r.getString(4))))
    assert(tr.toSeq == Seq((None, Some("box")), (Some("box"), None)))
    val dw = graft.ext.Geo.zoneDwell(pts, "k", "ts", "id", "lat", "lon", z)
      .collect()(0)
    // intervals starting at the two in-zone fixes: 20s + 40s
    assert((dw.getString(0), dw.getLong(1), dw.getLong(2),
      dw.getDouble(3)) == (("box", 1L, 2L, 60.0)))
  }

  test("geoKnn: bounded-radius top-k equals brute force with deterministic ties") {
    val probes = Seq((0L, 0.025, 0.025)).toDF("probe_id", "probe_lat", "probe_lon")
    val pts = (0 until 50).map(i => (i.toLong, 0.001 * i, 0.05 - 0.001 * i))
      .toDF("id", "lat", "lon")
    val got = graft.ext.Geo.geoKnn(pts, probes, "lat", "lon", "id",
        k = 3, maxRadiusM = 3000.0, cellDeg = 0.05)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getInt(1)))
    val brute = pts.crossJoin(probes)
      .withColumn("d", Geo.haversineMeters(col("lat"), col("lon"),
        col("probe_lat"), col("probe_lon")))
      .filter(col("d") <= 3000.0).orderBy(col("d"), col("id"))
      .limit(3).collect().map(_.getLong(0))
    assert(got.map(_._1).toSeq == brute.toSeq && got.map(_._2).toSeq == Seq(1, 2, 3))
  }

  test("trajectoryJaccard: shared-cell pairs carry exact set Jaccard") {
    // user 1 visits cells {0,1,2}; user 2 visits {1,2,3}; user 3 visits {9}
    def fix(u: Int, cell: Int) = (u, 0.021 * cell + 0.001, 0.0)
    val pts = Seq(fix(1, 0), fix(1, 1), fix(1, 2), fix(1, 2), // revisit dedups
      fix(2, 1), fix(2, 2), fix(2, 3), fix(3, 9)).toDF("k", "lat", "lon")
    val r = graft.ext.Geo.trajectoryJaccard(pts, "k", "lat", "lon",
        cellDeg = 0.021, threshold = 0.3).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSeq == Seq((1, 2, 2L, 0.5))) // |∩|=2, |∪|=4; user 3 unpaired
  }

  test("bucketedIntervalJoin equals brute force, intervals spanning many buckets") {
    val pts = (0L until 200L).map(p => (p, p * 7 % 173)).toDF("id", "x")
    val ivs = Seq((0, 10L, 30L), (1, 25L, 26L), (2, 0L, 173L), (3, 160L, 200L))
      .toDF("iv", "lo", "hi") // iv 2 spans 18 buckets at width 10
    val got = graft.ext.Intervals.bucketedIntervalJoin(pts, "x", ivs,
        "lo", "hi", bucketWidth = 10L)
      .select("iv", "id").as[(Int, Long)].collect().sorted.toSeq
    val brute = pts.crossJoin(ivs)
      .filter(col("x") >= col("lo") && col("x") < col("hi"))
      .select("iv", "id").as[(Int, Long)].collect().sorted.toSeq
    assert(brute.nonEmpty && got == brute)
  }

  test("autocorrelation: a period-2 alternating series has acf -1 at lag 1, +1 at lag 2") {
    val s = (0 until 20).map(i => ("g", i, if (i % 2 == 0) 1.0 else 5.0))
      .toDF("g", "i", "v")
    val r = graft.ext.Stats.autocorrelation(s, "g", "i", "v", Seq(1, 2))
      .orderBy("lag_h").collect()
    assert(r(0).getDouble(2) == -1.0 && r(1).getDouble(2) == 1.0)
    assert(r(0).getLong(3) == 19L && r(1).getLong(3) == 18L)
  }
}
