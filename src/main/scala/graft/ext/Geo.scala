package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Spatial analytics over point streams — the geo face of the
 * connected-vehicle domain the reference ingests (BSM records carry
 * `metadata.receivedMessageDetails.locationData.latitude/longitude`,
 * cf. reference `odevalidator/config_2.ini` position rules): grid-cell
 * density aggregation, radius search with cell blocking, and per-key
 * trajectory statistics.
 *
 * Scale shape: everything is keyed by an integer grid cell or by the
 * trajectory key — one shuffle each, no all-pairs stage anywhere. The
 * radius join blocks candidates through a 3×3 cell neighborhood around
 * each probe (correct whenever the radius fits inside one cell edge at
 * the working latitude), so the big point table is joined on cell keys
 * and only candidates pay the haversine; with a small probe set the
 * exploded neighborhood broadcasts and the point table never shuffles
 * at all.
 */
object Geo {

  /** Earth mean radius (IUGG), meters. */
  val EarthRadiusM = 6371000.0

  /**
   * Great-circle distance in meters between two (degree) coordinate
   * pairs — the haversine formula, written once so the Scala API and
   * every oracle share the exact operation order (IEEE doubles make
   * the result reproducible across engines at matching rounding).
   */
  def haversineMeters(lat1: Column, lon1: Column,
                      lat2: Column, lon2: Column): Column = {
    val root = sqrt(
      pow(sin(radians(lat2 - lat1) / 2), lit(2.0)) +
        cos(radians(lat1)) * cos(radians(lat2)) *
          pow(sin(radians(lon2 - lon1) / 2), lit(2.0)))
    // conditional clamp, NOT least(): near-antipodal rounding can push
    // the radicand to 1 + 1ulp where bare asin returns NaN — and
    // least() would swallow NULL inputs (least(null, 1) = 1), turning a
    // missing coordinate into a π·R distance
    lit(2.0 * EarthRadiusM) * asin(when(root > 1.0, lit(1.0)).otherwise(root))
  }

  /**
   * Initial great-circle bearing from point 1 to point 2, degrees in
   * [0, 360) — the heading a vehicle reports between consecutive
   * fixes. Same IEEE-portability contract as [[haversineMeters]].
   */
  def bearingDegrees(lat1: Column, lon1: Column,
                     lat2: Column, lon2: Column): Column = {
    val dLon = radians(lon2 - lon1)
    val y = sin(dLon) * cos(radians(lat2))
    val x = cos(radians(lat1)) * sin(radians(lat2)) -
      sin(radians(lat1)) * cos(radians(lat2)) * cos(dLon)
    (degrees(atan2(y, x)) + 360.0) % 360.0
  }

  /** Integer grid-cell index of a coordinate at `cellDeg` resolution. */
  def cellOf(coord: Column, cellDeg: Double): Column =
    floor(coord / lit(cellDeg)).cast("long")

  /**
   * Grid-density aggregation: points binned to (cellLat, cellLon) at
   * `cellDeg` resolution with per-cell count, value sum and centroid.
   * One map-side-combined aggregate on the cell key — the spatial
   * GROUP BY that heat-maps 100 TB of position reports.
   */
  def cellCounts(points: DataFrame, latCol: String, lonCol: String,
                 valueCol: String, cellDeg: Double): DataFrame =
    points
      .withColumn("cell_lat", cellOf(col(latCol), cellDeg))
      .withColumn("cell_lon", cellOf(col(lonCol), cellDeg))
      .groupBy(col("cell_lat"), col("cell_lon"))
      .agg(
        count(lit(1)).as("n_points"),
        round(sum(col(valueCol)), 6).as("value_sum"),
        round(avg(col(latCol)), 6).as("centroid_lat"),
        round(avg(col(lonCol)), 6).as("centroid_lon"))

  /**
   * Radius search: every point within `radiusM` meters of any probe.
   * Candidate generation is a cell-key equi-join: each probe expands to
   * its 3×3 neighbor cells, points carry their own cell — so only the
   * probe side (small by contract) is exploded and broadcast, and the
   * haversine runs on candidates only, never all pairs.
   *
   * Correctness bound: the 1-cell halo covers the radius iff
   * `radiusM <= cellDeg * 111_045 * cos(maxLat)` (the shortest cell
   * edge in meters at the working latitude); callers pick `cellDeg`
   * accordingly, exactly like choosing an LSH band width.
   *
   * `probes` schema: (probe_id, probe_lat, probe_lon).
   */
  def radiusJoin(points: DataFrame, probes: DataFrame,
                 latCol: String, lonCol: String,
                 radiusM: Double, cellDeg: Double): DataFrame = {
    val halo = probes
      .withColumn("dlat", explode(sequence(lit(-1), lit(1))))
      .withColumn("dlon", explode(sequence(lit(-1), lit(1))))
      .select(col("probe_id"), col("probe_lat"), col("probe_lon"),
        (cellOf(col("probe_lat"), cellDeg) + col("dlat")).as("cell_lat"),
        (cellOf(col("probe_lon"), cellDeg) + col("dlon")).as("cell_lon"))
    val cells = points
      .withColumn("cell_lat", cellOf(col(latCol), cellDeg))
      .withColumn("cell_lon", cellOf(col(lonCol), cellDeg))
    cells
      .join(broadcast(halo), Seq("cell_lat", "cell_lon"))
      .withColumn("dist_m",
        haversineMeters(col(latCol), col(lonCol),
          col("probe_lat"), col("probe_lon")))
      .filter(col("dist_m") <= lit(radiusM))
      .drop("cell_lat", "cell_lon", "dlat", "dlon")
  }

  /**
   * Point-in-convex-polygon containment as pure Column algebra: the
   * half-plane test per edge (vertices in counter-clockwise (lat, lon)
   * order, lon as x / lat as y), reduced by AND. Codegen'd arithmetic,
   * no geometry library — at planar city scale the equirectangular
   * approximation these tests imply is the standard choice.
   */
  def inConvexPolygon(lat: Column, lon: Column,
                      verts: Seq[(Double, Double)]): Column =
    verts.indices.map { i =>
      val (y1, x1) = verts(i)
      val (y2, x2) = verts((i + 1) % verts.size)
      (lit(x2 - x1) * (lat - lit(y1)) -
        lit(y2 - y1) * (lon - lit(x1))) >= 0
    }.reduce(_ && _)

  /**
   * Geofence aggregation: each point tested against every zone (a
   * broadcast-small literal list), zone membership exploded, per-zone
   * count + value mean. A point inside overlapping zones counts in
   * each — the alerting contract. One narrow projection + one
   * zone-keyed aggregate; the point table never shuffles by anything
   * wider than the zone name.
   *
   * `zones`: (name, CCW vertices) pairs.
   */
  def geofenceCounts(points: DataFrame, latCol: String, lonCol: String,
                     valueCol: String,
                     zones: Seq[(String, Seq[(Double, Double)])]): DataFrame =
    points
      .select(col(valueCol).as("_v"),
        explode(array(zones.map { case (name, vs) =>
          when(inConvexPolygon(col(latCol), col(lonCol), vs), lit(name))
        }: _*)).as("zone"))
      .filter(col("zone").isNotNull)
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_points"),
        round(avg(col("_v")), 6).as("avg_value"))

  /**
   * First-match zone label for a point — zones checked in list order,
   * null when outside all (the CASE chain both engines share).
   */
  def zoneOf(lat: Column, lon: Column,
             zones: Seq[(String, Seq[(Double, Double)])]): Column =
    zones.foldRight(lit(null).cast("string")) { case ((name, vs), rest) =>
      when(inConvexPolygon(lat, lon, vs), lit(name)).otherwise(rest)
    }

  /**
   * Geofence entry/exit transitions: each key's fixes labeled with
   * their first-match zone, consecutive-fix label CHANGES emitted as
   * transition events (from_zone/to_zone, null = outside) — the
   * alerting op a CV pipeline runs on every position report. One
   * key-partitioned window; the zone test is codegen'd half-plane
   * algebra, so the stream side never joins anything.
   */
  def geofenceTransitions(points: DataFrame, keyCol: String, tsCol: String,
                          idCol: String, latCol: String, lonCol: String,
                          zones: Seq[(String, Seq[(Double, Double)])])
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    points
      .withColumn("zone", zoneOf(col(latCol), col(lonCol), zones))
      .withColumn("prev_zone", lag(col("zone"), 1).over(w))
      .withColumn("_had_prev",
        lag(col(tsCol), 1).over(w).isNotNull) // first fix is no transition
      .filter(col("_had_prev") && !(col("zone") <=> col("prev_zone")))
      .select(col(keyCol), col(tsCol).as("ts"), col(idCol),
        col("prev_zone").as("from_zone"), col("zone").as("to_zone"))
  }

  /**
   * Per-zone dwell time: inter-fix intervals attributed to the zone of
   * the EARLIER fix (the step-function convention), summed per
   * (key, zone) and rolled up to zone totals — "how long do vehicles
   * spend downtown". Same single key window + one aggregate.
   */
  def zoneDwell(points: DataFrame, keyCol: String, tsCol: String,
                idCol: String, latCol: String, lonCol: String,
                zones: Seq[(String, Seq[(Double, Double)])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    points
      .withColumn("zone", zoneOf(col(latCol), col(lonCol), zones))
      .withColumn("_next_ts", lead(col(tsCol), 1).over(w))
      .filter(col("zone").isNotNull && col("_next_ts").isNotNull)
      .groupBy(col("zone"))
      .agg(
        countDistinct(col(keyCol)).as("n_vehicles"),
        count(lit(1)).as("n_intervals"),
        ((sum(col("_next_ts") - col(tsCol))) / lit(1000000000L))
          .cast("double").as("dwell_s"))
      .withColumn("dwell_s", round(col("dwell_s"), 3))
  }

  /**
   * Bounded-radius k-nearest-neighbors: for each probe, the `k`
   * closest points within `maxRadiusM` — [[radiusJoin]]'s halo
   * candidates cut by a per-probe window over (distance, id), the
   * deterministic total order. The radius bound is what keeps the op
   * an equi-join (true unbounded kNN needs an expanding search — at
   * 100 TB you pick the radius you actually care about, exactly like
   * an LSH probe budget). Window state is probe-bounded.
   */
  def geoKnn(points: DataFrame, probes: DataFrame,
             latCol: String, lonCol: String, idCol: String,
             k: Int, maxRadiusM: Double, cellDeg: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dist_m"), col(idCol))
    radiusJoin(points, probes, latCol, lonCol, maxRadiusM, cellDeg)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col(idCol),
        round(col("dist_m"), 2).as("dist_m"))
  }

  /**
   * Trajectory similarity: users whose visited-cell SETS overlap —
   * per-key distinct grid cells, candidate pairs through the shared-
   * cell inverted index (the same bounded-bucket discipline as the
   * n-gram Jaccard family — never all-pairs), exact Jaccard ≥
   * `threshold` on the candidate set. A hub cell every vehicle crosses
   * is the hot-bucket case: `maxCellKeys > 0` drops cells visited by
   * more than that many keys BEFORE the index, sizes and intersections
   * alike, so the metric becomes exact Jaccard over the non-hub cell
   * universe — the same bounded-fan-out valve as MinHash's
   * `maxBucketSize`, and usually the better metric anyway (a cell
   * everyone crosses carries no similarity signal, exactly like a
   * stopword in document Jaccard).
   */
  def trajectoryJaccard(points: DataFrame, keyCol: String,
                        latCol: String, lonCol: String,
                        cellDeg: Double, threshold: Double,
                        maxCellKeys: Int = 0): DataFrame = {
    val cellsAll = points.select(col(keyCol),
        cellOf(col(latCol), cellDeg).as("cl"),
        cellOf(col(lonCol), cellDeg).as("cn"))
      .distinct()
    val cells =
      if (maxCellKeys <= 0) cellsAll
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("cl"), col("cn"))
        cellsAll.withColumn("_df", count(lit(1)).over(w))
          .filter(col("_df") <= maxCellKeys).drop("_df")
      }
    val sizes = cells.groupBy(col(keyCol).as("_k")).agg(count(lit(1)).as("_n"))
    val b = cells.select(col(keyCol).as("_kb"), col("cl"), col("cn"))
    val common = cells.join(b,
        cells("cl") === b("cl") && cells("cn") === b("cn") &&
          cells(keyCol) < col("_kb"))
      .groupBy(cells(keyCol).as("key_a"), col("_kb").as("key_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("_k").as("key_a"), col("_n").as("_na")), "key_a")
      .join(sizes.select(col("_k").as("key_b"), col("_n").as("_nb")), "key_b")
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("_na") + col("_nb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("key_a"), col("key_b"), col("n_common"), col("jaccard"))
  }

  /**
   * Per-key trajectory statistics: order each key's fixes by
   * (tsCol, idCol), measure consecutive-fix haversine legs, and reduce
   * to path length, sharpest leg, duration and mean speed. One
   * key-partitioned window plus one aggregate on the same key — a
   * single shuffle, AQE-splittable when one vehicle dominates.
   *
   * `tsCol` is epoch nanos (the engine's long-nanos contract,
   * cf. [[graft.ingest.Readers.tsToNanos]]).
   */
  def tripStats(points: DataFrame, keyCol: String, tsCol: String,
                idCol: String, latCol: String, lonCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val legs = points
      .withColumn("prev_lat", lag(col(latCol), 1).over(w))
      .withColumn("prev_lon", lag(col(lonCol), 1).over(w))
      .withColumn("leg_m",
        haversineMeters(col("prev_lat"), col("prev_lon"),
          col(latCol), col(lonCol)))
    legs
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_fixes"),
        // exact long-mm accumulation, one trailing division — same
        // order-independence fix as tripSummaries (round-of-double-sum
        // at a .005 boundary is partial-agg-order dependent)
        (sum(floor(col("leg_m") * lit(1e3)).cast("long")) / lit(1000.0))
          .as("total_m"),
        round(max(col("leg_m")), 2).as("max_leg_m"),
        ((max(col(tsCol)) - min(col(tsCol))) / lit(1000000000L))
          .cast("double").as("duration_s"))
      .withColumn("avg_speed_mps",
        round(when(col("duration_s") > 0,
          col("total_m") / col("duration_s")).otherwise(lit(0.0)), 6))
  }

  /**
   * Trip segmentation: split each key's fix stream into trips wherever
   * the inter-fix gap exceeds `gapNs` — the sessionization islands
   * trick (gap flag → running sum), the same shape as the engine's
   * event sessionization but over the trajectory contract. Returns the
   * input plus a per-key `trip_seq` (1-based).
   */
  def tripSegments(points: DataFrame, keyCol: String, tsCol: String,
                   idCol: String, gapNs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    points
      .withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("_new_trip",
        when(col("_prev_ts").isNull ||
          col(tsCol) - col("_prev_ts") > gapNs, 1).otherwise(0))
      .withColumn("trip_seq",
        sum(col("_new_trip")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .drop("_prev_ts", "_new_trip")
  }

  /**
   * Per-trip roll-up over segmented fixes: fix count, intra-trip path
   * length, duration, and the origin/destination grid cells (first/last
   * fix at `cellDeg`). Same single key-shuffle discipline as
   * [[tripStats]] — the leg window and the aggregate share the
   * (key, trip) partitioning.
   */
  def tripSummaries(points: DataFrame, keyCol: String, tsCol: String,
                    idCol: String, latCol: String, lonCol: String,
                    gapNs: Long, cellDeg: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Everything rides the KEY window — a (key, trip) window would cost
    // a second exchange, but hashpartitioning(key) already colocates a
    // key's trips: legs are nulled at trip starts instead of
    // partition-reset, trip ends come from lead(new_trip), and the
    // (key, trip_seq) groupBy re-uses the window's exchange.
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fixes = points
      .withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("_new_trip",
        when(col("_prev_ts").isNull ||
          col(tsCol) - col("_prev_ts") > gapNs, 1).otherwise(0))
      .withColumn("trip_seq", sum(col("_new_trip")).over(wCum))
      .withColumn("_prev_lat", lag(col(latCol), 1).over(w))
      .withColumn("_prev_lon", lag(col(lonCol), 1).over(w))
      .withColumn("_leg_m",
        when(col("_new_trip") === 1, lit(null).cast("double"))
          .otherwise(haversineMeters(col("_prev_lat"), col("_prev_lon"),
            col(latCol), col(lonCol))))
      // Integer-millimeter legs: round(sum(double), 2) was hash-flaky —
      // partial-agg accumulation order shifts the sum a few ULPs, and
      // with enough legs per trip a sum lands on a .005 rounding
      // boundary (r7 driver red). floor-to-mm per leg is a per-row
      // deterministic op, the long sum is exact in any order, and the
      // single /1000.0 division is the same IEEE op in every engine.
      .withColumn("_leg_mm",
        floor(col("_leg_m") * lit(1e3)).cast("long"))
      .withColumn("_nxt_new", lead(col("_new_trip"), 1).over(w))
      .withColumn("_is_last",
        col("_nxt_new").isNull || col("_nxt_new") === 1)
    fixes
      .groupBy(col(keyCol), col("trip_seq"))
      .agg(
        count(lit(1)).as("n_fixes"),
        coalesce(sum(col("_leg_mm")), lit(0L)).as("trip_mm"),
        ((max(col(tsCol)) - min(col(tsCol))) / lit(1000000000L))
          .cast("double").as("duration_s"),
        max(when(col("_new_trip") === 1,
          cellOf(col(latCol), cellDeg))).as("o_cell_lat"),
        max(when(col("_new_trip") === 1,
          cellOf(col(lonCol), cellDeg))).as("o_cell_lon"),
        max(when(col("_is_last"),
          cellOf(col(latCol), cellDeg))).as("d_cell_lat"),
        max(when(col("_is_last"),
          cellOf(col(lonCol), cellDeg))).as("d_cell_lon"))
      .withColumn("trip_m", col("trip_mm") / lit(1000.0))
  }

  /**
   * Origin–destination matrix: trips rolled up to (origin cell →
   * destination cell) counts — the flow aggregation transit planners
   * run over CV trajectories. One extra map-side-combined aggregate
   * over [[tripSummaries]].
   */
  def odMatrix(points: DataFrame, keyCol: String, tsCol: String,
               idCol: String, latCol: String, lonCol: String,
               gapNs: Long, cellDeg: Double): DataFrame =
    tripSummaries(points, keyCol, tsCol, idCol, latCol, lonCol,
        gapNs, cellDeg)
      .groupBy(col("o_cell_lat"), col("o_cell_lon"),
        col("d_cell_lat"), col("d_cell_lon"))
      .agg(count(lit(1)).as("n_trips"),
        // avg over exact integer millimeters, one division chain at the
        // end — round(avg(double), 2) is the same boundary-flake family
        // as the trip_m sum (see tripSummaries).
        (sum(col("trip_mm")).cast("double") / count(lit(1)) / lit(1000.0))
          .as("avg_trip_m"))

  /**
   * Spatio-temporal co-location: pairs of DISTINCT keys with fixes
   * within `distM` meters AND `dtNs` nanos of each other, aggregated to
   * per-pair encounter counts. Candidate generation is an equi-join on
   * a composite (cell, timeBucket) key with the 3×3 spatial halo and
   * ±1 temporal halo exploded on ONE side (27× that side, nothing on
   * the other) — both sides shuffle once by the composite key, never
   * all-pairs; correct iff `distM` fits one cell edge and `dtNs` one
   * bucket, the same halo-covers-radius contract as [[radiusJoin]].
   * A pair can surface through several buckets, so candidates dedup on
   * the event-id pair before verification counts them.
   *
   * HOT-CELL VALVE (`maxCellFixes`, finite by default — same posture as
   * `Dedup.minhashCandidatePairs`' hot-bucket cap and
   * `Retrieval.tfidfCosinePairs`' df-cut): candidate volume per
   * (cell, bucket) is n², i.e. QUADRATIC in local density — the r14
   * sf100 probe measured the failure mode as a filled disk (a 1000×
   * density replication put ~10⁶× candidates in one shuffle). A cell
   * whose fix count within one time bucket exceeds the cap is excluded
   * from pair generation entirely (10k fixes in one 0.02°×2h cell is
   * ~5·10⁷ pairs from that cell alone — at that density, per-pair
   * encounter listing is the wrong question; aggregate per-cell counts
   * instead). The cap never binds at gate SF (max cell load there is
   * orders below it), so the DuckDB brute-force oracle stays exact.
   *
   * This core emits VERIFIED ENCOUNTERS unaggregated —
   * (key_a, key_b, dist_m, pair_tb) — shared by the one-shot
   * [[colocationPairs]] aggregate and the time-sliced
   * [[colocationPairsSliced]] driver.
   */
  private[graft] def coloEncounters(points: DataFrame, keyCol: String, idCol: String,
                                    tsCol: String, latCol: String, lonCol: String,
                                    distM: Double, dtNs: Long,
                                    cellDeg: Double,
                                    maxCellFixes: Long): DataFrame = {
    require(maxCellFixes > 0, "maxCellFixes must be positive")
    // home-cell load, computed ONCE before the halo explode; the window
    // partitioning (cl, cn, tb) is the a-side join key, so its exchange
    // is reused by the join rather than added to it
    val cool = points.select(
        col(keyCol).as("__key"), col(idCol).as("__id"),
        col(tsCol).as("__ts"), col(latCol).as("__lat"),
        col(lonCol).as("__lon"),
        cellOf(col(latCol), cellDeg).as("__cl"),
        cellOf(col(lonCol), cellDeg).as("__cn"),
        // integer `div`, not floor(double /): epoch nanos exceed double's
        // 53-bit exact range, and a boundary misassignment would defeat
        // the ±1 temporal halo
        expr(s"$tsCol div $dtNs").as("__tb"))
      .withColumn("__cell_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__cl"), col("__cn"), col("__tb"))))
      .filter(col("__cell_n") <= lit(maxCellFixes))
      .drop("__cell_n")
    def sided(tag: String) = cool.select(
      col("__key").as(s"${tag}_key"), col("__id").as(s"${tag}_id"),
      col("__ts").as(s"${tag}_ts"), col("__lat").as(s"${tag}_lat"),
      col("__lon").as(s"${tag}_lon"),
      col("__cl").as(s"${tag}_cl"),
      col("__cn").as(s"${tag}_cn"),
      col("__tb").as(s"${tag}_tb"))
    val a = sided("a")
    // CANONICAL-DIRECTION HALO (r14 sf100 probe finding): the textbook
    // 3×3×3 halo shuffles 27 copies of the exploded side — at 10⁸ fixes
    // that is ~180 GB in one exchange, which filled the probe box's disk
    // while being only LINEAR work. Half the directions are redundant:
    // for a cross-cell pair with offset v ≠ 0, exactly one of ±v is
    // lexicographically positive, and BOTH fixes sit on both sides of a
    // self-join — so 13 positive directions + the home cell (14 copies,
    // 1.93× less shuffle) still discover every pair EXACTLY ONCE when
    // the pair is canonicalized afterwards (least/greatest key). The
    // same-cell copy (d = 0) would discover (x,y) and (y,x) both, so it
    // alone tie-breaks on the fix id.
    val dirs = (for {
      dl <- -1 to 1; dn <- -1 to 1; dt <- -1 to 1
      if (dl, dn, dt) == ((0, 0, 0)) ||
        dl > 0 || (dl == 0 && (dn > 0 || (dn == 0 && dt > 0)))
    } yield struct(lit(dl).as("dl"), lit(dn).as("dn"), lit(dt).as("dt"),
      lit(dl == 0 && dn == 0 && dt == 0).as("d0"))).toSeq
    val b = sided("b")
      .withColumn("__dir", explode(array(dirs: _*)))
      .select(col("b_key"), col("b_id"), col("b_ts"), col("b_lat"),
        col("b_lon"), (col("b_cl") + col("__dir.dl")).as("b_cl"),
        (col("b_cn") + col("__dir.dn")).as("b_cn"),
        (col("b_tb") + col("__dir.dt")).as("b_tb"),
        col("__dir.d0").as("__d0"))
    a.join(b,
        col("a_cl") === col("b_cl") && col("a_cn") === col("b_cn") &&
          col("a_tb") === col("b_tb") && col("a_key") =!= col("b_key") &&
          (!col("__d0") || col("a_id") < col("b_id")))
      .select(col("a_key"), col("b_key"),
        col("a_ts"), col("b_ts"), col("a_lat"), col("a_lon"),
        col("b_lat"), col("b_lon"))
      .withColumn("dist_m",
        haversineMeters(col("a_lat"), col("a_lon"),
          col("b_lat"), col("b_lon")))
      .filter(col("dist_m") <= lit(distM) &&
        abs(col("a_ts") - col("b_ts")) <= lit(dtNs))
      // the encounter's HOME bucket: min of the two fixes' own buckets —
      // the slice-assignment key of colocationPairsSliced (recomputed
      // from the timestamps already in flight; adds no shuffle width)
      .withColumn("pair_tb",
        least(expr(s"a_ts div $dtNs"), expr(s"b_ts div $dtNs")))
      .select(least(col("a_key"), col("b_key")).as("key_a"),
        greatest(col("a_key"), col("b_key")).as("key_b"),
        col("dist_m"), col("pair_tb"))
  }

  /**
   * Monitoring readout for the hot-cell valve (r14 ADVICE — the valve
   * must not be SILENT): every (cell, time-bucket) group whose fix
   * count exceeds `maxCellFixes`, i.e. exactly the groups
   * [[coloEncounters]] excludes from pair generation. One
   * map-side-combined groupBy over the fixes — cheap enough to run
   * beside any production colocation job as its completeness signal; or
   * pass `strictHotCells = true` to the drivers to fail loudly instead
   * of proceeding incomplete (the `Dedup.MaxExactPairsDocs` posture).
   */
  def hotCells(points: DataFrame, tsCol: String, latCol: String,
               lonCol: String, dtNs: Long, cellDeg: Double,
               maxCellFixes: Long = 10000L): DataFrame =
    points.groupBy(
        cellOf(col(latCol), cellDeg).as("cell_lat"),
        cellOf(col(lonCol), cellDeg).as("cell_lon"),
        expr(s"$tsCol div $dtNs").as("bucket"))
      .agg(count(lit(1)).as("n_fixes"))
      .filter(col("n_fixes") > lit(maxCellFixes))

  /** Strict-mode guard shared by both colocation drivers. */
  private def requireNoHotCells(points: DataFrame, tsCol: String,
                                latCol: String, lonCol: String, dtNs: Long,
                                cellDeg: Double, maxCellFixes: Long): Unit = {
    val hot = hotCells(points, tsCol, latCol, lonCol, dtNs, cellDeg, maxCellFixes)
    val sample = hot.orderBy(col("n_fixes").desc).limit(4).collect()
    require(sample.isEmpty,
      s"strictHotCells: ${hot.count()} (cell, bucket) groups exceed " +
        s"maxCellFixes=$maxCellFixes and would be excluded from pair " +
        s"generation — worst: ${sample.map(r =>
          s"(${r.get(0)},${r.get(1)},tb=${r.get(2)})=${r.get(3)}").mkString(", ")}. " +
        "Raise maxCellFixes, aggregate per-cell counts instead of pairs, " +
        "or run non-strict beside the Geo.hotCells readout.")
  }

  /** One-shot co-location: aggregate every verified encounter.
   *  `strictHotCells = true` fails loudly when the valve would exclude
   *  any (cell, bucket) group, instead of returning silently-incomplete
   *  pairs (r14 ADVICE). */
  def colocationPairs(points: DataFrame, keyCol: String, idCol: String,
                      tsCol: String, latCol: String, lonCol: String,
                      distM: Double, dtNs: Long,
                      cellDeg: Double,
                      maxCellFixes: Long = 10000L,
                      strictHotCells: Boolean = false): DataFrame = {
    if (strictHotCells)
      requireNoHotCells(points, tsCol, latCol, lonCol, dtNs, cellDeg, maxCellFixes)
    coloEncounters(points, keyCol, idCol, tsCol, latCol, lonCol,
        distM, dtNs, cellDeg, maxCellFixes)
      .groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("n_encounters"),
        round(min(col("dist_m")), 2).as("closest_m"))
  }

  /**
   * TIME-SLICED co-location — the unbounded-history production shape
   * (r14 sf100 probe finding): the one-shot plan's halo exchange is
   * linear but its single-stage disk high-water is `copies × rows ×
   * width` (~90 GB at 10⁸ fixes — routine on a cluster's aggregate
   * disk, over a single box's). Encounters are TIME-LOCAL (`dtNs`
   * reaches at most one bucket away), so history splits exactly into
   * bucket-range slices processed as separate jobs: slice k reads fixes
   * with `tb ∈ [lo, hi+1]` (one overlap bucket catches cross-boundary
   * partners), keeps encounters whose home bucket (`pair_tb` = min of
   * the two fixes' buckets) lies in `[lo, hi]` — each encounter lands
   * in EXACTLY one slice — and lands per-slice partial aggregates in a
   * scratch dir; the final pass sums partials per pair. Identical
   * results to [[colocationPairs]] by construction (counts partition
   * across slices; min-of-mins), same DuckDB brute-force oracle. This
   * is the same incremental-driver pattern as q_incremental_dedup: a
   * production deployment runs one slice per arriving day/week and only
   * ever pays the final merge.
   */
  def colocationPairsSliced(points: DataFrame, keyCol: String, idCol: String,
                            tsCol: String, latCol: String, lonCol: String,
                            distM: Double, dtNs: Long,
                            cellDeg: Double,
                            maxCellFixes: Long = 10000L,
                            sliceBuckets: Long = 32768L,
                            strictHotCells: Boolean = false): DataFrame = {
    require(sliceBuckets > 0, "sliceBuckets must be positive")
    val spark = points.sparkSession
    if (strictHotCells)
      requireNoHotCells(points, tsCol, latCol, lonCol, dtNs, cellDeg, maxCellFixes)
    // ONE discovery aggregate: the POPULATED slices (r14 ADVICE — one
    // corrupt epoch-0 outlier must not grid-iterate thousands of empty
    // slices) with each slice's min and max bucket, so driver state is
    // bounded by the slice count, not the bucket count. Slices are
    // anchored at bucket 0 (exact floor division: `div` truncates
    // toward zero); any anchor partitions the encounters the same way.
    val tb = expr(s"$tsCol div $dtNs")
    val slices = points.select(tb.as("__tb"))
      .groupBy(expr(s"(__tb - pmod(__tb, $sliceBuckets)) div $sliceBuckets").as("__si"))
      .agg(min(col("__tb")).as("lo"), max(col("__tb")).as("hi"))
      .orderBy(col("__si"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    if (slices.isEmpty) // empty input: the one-shot plan handles it
      return colocationPairs(points, keyCol, idCol, tsCol, latCol, lonCol,
        distM, dtNs, cellDeg, maxCellFixes)
    val gridSlices = slices.last._1 - slices.head._1 + 1
    if (slices.length < gridSlices)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"colocationPairsSliced: ${gridSlices - slices.length} empty " +
          s"slices skipped (${slices.length} populated of $gridSlices)")
    // slice [lo, hi] reads fixes in [lo, hi + 1]: an encounter's home
    // bucket is one of its fixes' buckets, so it lies inside exactly one
    // populated slice's [lo, hi], and its partner at most one bucket on
    def sliceAgg(lo: Long, hi: Long): DataFrame = {
      val part = points.filter(tb.between(lo, hi + 1))
      coloEncounters(part, keyCol, idCol, tsCol, latCol, lonCol,
          distM, dtNs, cellDeg, maxCellFixes)
        .filter(col("pair_tb").between(lo, hi))
        .groupBy(col("key_a"), col("key_b"))
        .agg(count(lit(1)).as("n"), min(col("dist_m")).as("closest"))
    }
    val merged =
      if (slices.length <= 4) {
        // r16: few populated slices (the common case — 32768 buckets of
        // 2 h is ~7.5 years per slice) don't need the scratch spill at
        // all: union the per-slice partial aggregates into ONE action.
        // Disk high-water is ≤ 4 slices, and the per-slice parquet
        // round-trip + the per-slice System.gc() (a full-heap pause per
        // slice) disappear. Results identical: counts partition across
        // slices, min-of-mins.
        slices.map { case (_, lo, hi) => sliceAgg(lo, hi) }.reduce(_.unionByName(_))
      } else {
        val scratch = java.nio.file.Files.createTempDirectory("graft-colo-")
        sys.addShutdownHook(graft.util.Fs.deleteRecursively(scratch))
        slices.zipWithIndex.foreach { case ((_, lo, hi), i) =>
          sliceAgg(lo, hi).write.mode("overwrite").parquet(s"$scratch/slice=$i")
          // separate jobs: each slice's shuffle state goes unreachable
          // here, so the ContextCleaner can reap it before the next slice
          // runs — the disk high-water stays one slice, the entire point
          System.gc()
        }
        spark.read.parquet(scratch.toString)
      }
    merged
      .groupBy(col("key_a"), col("key_b"))
      .agg(sum(col("n")).as("n_encounters"),
        round(min(col("closest")), 2).as("closest_m"))
  }
}
