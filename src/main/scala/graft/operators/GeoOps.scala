package graft.operators

import graft.Tables
import graft.functions.ZCurveExpressions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geospatial family (north-star: "geospatial UDFs matching GeoMesa's
  * domain", BASELINE.json): Z2/Z3 curve keys and the range-scan shape they
  * enable. Events gain deterministic synthetic coordinates (integer
  * arithmetic on ids — oracle-portable), standing in for a real point
  * column.
  *
  * Scale: z-keys are the sort/partition keys of a GeoMesa-style layout — a
  * bbox query becomes `z2 BETWEEN zmin AND zmax` + exact refine, which
  * parquet min/max row-group stats prune server-side. The encode itself is
  * one codegen'd expression per row, shuffle-free.
  */
object GeoOps {

  /** Column-metadata tag marking a `z2` column as carrying THIS library's
    * layout contract: the 16-bit-scaled Morton key of the row's integral
    * `lon`/`lat`, as produced by [[z2Keys]]. [[graft.plans.ZRangePruning]]
    * fires ONLY on tagged columns — a user table that happens to carry a
    * LongType column named `z2` with different scaling must never be
    * range-pruned (it would be silently wrong). The tag rides the schema:
    * Spark persists column metadata in the parquet footer, so a stored
    * z2 layout keeps the contract across write/read.
    */
  val Z2Tag = "graft.z2.scale16"

  /** Same contract for `z3`: 10-bit-scaled (lon, lat) + hour-bin `t10`
    * interleave, as produced by [[z3Keys]]. Time is only monotone in the key
    * *within* an epoch (the hour bin wraps at 1024), which is why
    * [[graft.plans.ZRangePruning]]'s z3 branch requires bounds on the
    * binned `t10` column — never the raw timestamp.
    */
  val Z3Tag = "graft.z3.scale10.hourbin"

  private val z2TagMeta =
    new org.apache.spark.sql.types.MetadataBuilder().putBoolean(Z2Tag, true).build()

  private val z3TagMeta =
    new org.apache.spark.sql.types.MetadataBuilder().putBoolean(Z3Tag, true).build()

  /** Deterministic synthetic coordinates: lon ∈ [-180, 179], lat ∈ [-90, 89]. */
  def withCoords(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_id"), col("ts"), col("user_id"),
      ((col("user_id") * 37 + col("event_id") * 11) % 360 - 180).as("lon"),
      ((col("event_id") * 17 + col("user_id") * 5) % 180 - 90).as("lat"))

  /** 16-bit scaled grid coords (GeoMesa Z2 resolution model). */
  def scaled(spark: SparkSession, sfDir: String): DataFrame =
    withCoords(spark, sfDir)
      .withColumn("x", expr("(lon + 180) * 65535 div 360"))
      .withColumn("y", expr("(lat + 90) * 65535 div 180"))

  /** Z2 keys for every event point; the `z2` column carries [[Z2Tag]] so
    * the pruning rule knows the layout contract holds.
    */
  def z2Keys(spark: SparkSession, sfDir: String): DataFrame =
    scaled(spark, sfDir)
      .select(col("event_id"), col("lon"), col("lat"), col("x"), col("y"),
        ZCurveExpressions.z2(spark, "x", "y").as("z2", z2TagMeta))

  /** Z3 keys: 10-bit x, y and hour-bin time — the (space, time) key behind
    * `catalog_<sft>_z3` tables.
    */
  def z3Keys(spark: SparkSession, sfDir: String): DataFrame =
    withCoords(spark, sfDir)
      .withColumn("x10", expr("(lon + 180) * 1023 div 360"))
      .withColumn("y10", expr("(lat + 90) * 1023 div 180"))
      .withColumn("t10", expr("(unix_timestamp(ts) div 3600) % 1024"))
      .select(col("event_id"), col("x10"), col("y10"), col("t10"),
        ZCurveExpressions.z3(spark, "x10", "y10", "t10").as("z3", z3TagMeta))

  /** The z3-keyed *layout* — [[z2Layout]]'s (space, time) sibling, the shape
    * of GeoMesa's primary `catalog_<sft>_z3` index: one row per event with
    * coordinates, hour bin, and the tagged z3 key, stored sorted by z3 so
    * row-group min/max stats are tight along the curve. A box query bounding
    * lon/lat/t10 gets the injected `z3 BETWEEN` range from
    * [[graft.plans.ZRangePruning]] and prunes both space AND time in one
    * key — the reason GeoMesa makes z3 (not z2) its default index.
    */
  def z3Layout(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "z3_layout", Tables.Parquet()) {
      withCoords(spark, sfDir)
        .withColumn("x10", expr("(lon + 180) * 1023 div 360"))
        .withColumn("y10", expr("(lat + 90) * 1023 div 180"))
        .withColumn("t10", expr("(unix_timestamp(ts) div 3600) % 1024"))
        .select(col("event_id"), col("lon"), col("lat"), col("t10"),
          ZCurveExpressions.z3(spark, "x10", "y10", "t10").as("z3", z3TagMeta))
        .sortWithinPartitions(col("z3"))
    }

  /** The z2-keyed *layout*: [[z2Keys]] materialized as a table (staged to
    * tmp parquet via the derived registry; on a 100-TB deployment this is
    * the parquet table written sorted/partitioned by z2). Materialization is
    * what makes [[graft.plans.ZRangePruning]] effective: over a stored
    * relation the bbox filter sits directly on a parquet scan that carries
    * the z2 column, so the injected range reaches row-group min/max pruning
    * for real — over the in-memory derivation Catalyst rightly pushes the
    * filter below the z2 projection instead. Sorted by z2 on write so the
    * row-group stats are tight (the GeoMesa layout).
    */
  def z2Layout(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "z2_layout", Tables.Parquet())(
      z2Keys(spark, sfDir).sortWithinPartitions(col("z2")))

  /** X-G geodesic math: per-user great-circle path length — haversine
    * distance between each user's consecutive points (lag window on event
    * time), summed per user. All trig is codegen'd built-ins; Spark and
    * DuckDB libm results agree to ~1 ulp, far inside the oracle compare's
    * 9 significant digits. One shuffle on user_id (window + final agg
    * share the partitioning).
    */
  def userPathLength(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val R = 6371.0088 // mean Earth radius, km
    withCoords(spark, sfDir)
      .withColumn("plon", lag(col("lon"), 1).over(w))
      .withColumn("plat", lag(col("lat"), 1).over(w))
      .where(col("plon").isNotNull)
      .withColumn("hav",
        pow(sin(radians(col("lat") - col("plat")) / 2), 2) +
          cos(radians(col("plat"))) * cos(radians(col("lat"))) *
            pow(sin(radians(col("lon") - col("plon")) / 2), 2))
      .withColumn("seg_km", lit(2 * R) * asin(sqrt(col("hav"))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"), sum(col("seg_km")).as("path_km"))
  }

  /** Exact bbox filter — the refine step of a geo query. */
  def bboxFilter(spark: SparkSession, sfDir: String,
                 lonMin: Int, lonMax: Int, latMin: Int, latMax: Int): DataFrame =
    withCoords(spark, sfDir)
      .where(col("lon") >= lonMin && col("lon") <= lonMax &&
        col("lat") >= latMin && col("lat") <= latMax)
      .select(col("event_id"), col("lon"), col("lat"))

  /** X-G spatial self-join: all event pairs within king-move adjacency on
    * the 1° grid (|Δlon| ≤ 1 ∧ |Δlat| ≤ 1) — the grid-bucket join that
    * replaces the quadratic distance cross-join at scale. Each left-side
    * point is replicated into its 3×3 neighbor cells (bounded 9× blow-up)
    * and equi-joined on the cell key, so the only data movement is ONE hash
    * shuffle on (cell_lon, cell_lat); the exact predicate is then implied by
    * cell equality. The same plan refines a real metric (haversine < d)
    * after the cell join — this is the geo twin of the LSH band join
    * (`dd_minhash_candidates`): coarse bucket, then exact check, never
    * all-pairs. `a_id < b_id` emits each unordered pair exactly once (a
    * pair matches exactly one offset of its left member). Antimeridian
    * wrap-around cells are not stitched (the corpus grid is synthetic
    * degrees, not a sphere) — at production the cell key is a z2 prefix,
    * which GeoMesa wraps the same way. Cohort-bounded so the oracle's
    * brute-force O(n²) recompute stays replayable.
    */
  def neighborPairs(spark: SparkSession, sfDir: String, maxUserId: Long = 40L): DataFrame = {
    val pts = withCoords(spark, sfDir)
      .where(col("user_id") < maxUserId)
      .select(col("event_id"), col("lon"), col("lat"))
    val offsets = for { dx <- Seq(-1, 0, 1); dy <- Seq(-1, 0, 1) } yield (dx, dy)
    val probe = pts
      .select(col("event_id").as("a_id"), col("lon").as("a_lon"), col("lat").as("a_lat"),
        explode(array(offsets.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"))
      .select(col("a_id"), col("a_lon"), col("a_lat"),
        (col("a_lon") + col("o.dx")).as("cell_lon"),
        (col("a_lat") + col("o.dy")).as("cell_lat"))
    probe.join(pts,
        col("cell_lon") === col("lon") && col("cell_lat") === col("lat") &&
          col("a_id") < col("event_id"))
      .select(col("a_id"), col("event_id").as("b_id"),
        col("a_lon"), col("a_lat"),
        col("lon").as("b_lon"), col("lat").as("b_lat"))
  }

  /** Grid-DBSCAN density threshold: a cell is CORE with ≥ this many
    * points (1 / 141 / 19 348 core cells at sf0.001/0.01/0.1 — engaged at
    * every SF), and bounded label-refinement rounds (one more than
    * [[CcRounds]]: the cell lattice is denser than the proximity graph). */
  val DbscanMinPts = 3
  val DbscanRounds = 4

  /** X-C76: grid-density clustering (DBSCAN-lite) — the DENSITY member of
    * the clustering family (k-means partitions everything; this finds
    * arbitrary-shape dense regions and ignores sparse noise): a 1°-cell
    * census keeps cells with ≥ [[DbscanMinPts]] points (core), adjacent
    * core cells (8-neighborhood) merge into clusters. This is the
    * standard grid approximation of DBSCAN — at planet scale the cell
    * census IS the first stage of any density clusterer, because the cell
    * count is GEOMETRY-bounded (≤360·180) no matter the corpus, so after
    * one map-side census every later stage is metadata-sized.
    *
    * Adjacency is the bounded 9-offset replicate join ([[neighborPairs]]'
    * pattern — never cells²); cluster labels are the [[ccLabels]]
    * recurrence (1-hop min-label + pointer-jump shortcut) on the cell
    * graph, run a FIXED [[DbscanRounds]] rounds — the bounded-round
    * label-refinement semantics the CC family already established,
    * replayed round-for-round by the oracle, so labels are
    * engine-identical whether or not the lattice's giant component has
    * fully converged. All-integer arithmetic end to end: hash-exact.
    */
  def gridDbscan(spark: SparkSession, sfDir: String): DataFrame = {
    val census = withCoords(spark, sfDir)
      .groupBy(col("lon"), col("lat")).agg(count(lit(1)).as("n_points"))
      .where(col("n_points") >= DbscanMinPts)
      .withColumn("cell", (col("lon") + 180) * 1000 + (col("lat") + 90))
    // The label recurrence below references its input frame four times per
    // round (prop + union, then the compression self-join), so an
    // unstaged foldLeft re-executes the upstream subtree 4^rounds times —
    // including the corpus-sized event census (the r8 bench caught the
    // unstaged version at 15.8 s against a sub-second family). Every
    // intermediate past the census is GEOMETRY-bounded (≤360·180 rows), so
    // the lineage cut uses `localCheckpoint` — same constant plan depth
    // and execute-once guarantee as the old per-attempt tmp-parquet stage,
    // minus six parquet encode/list/decode round-trips per invocation
    // (guide §5: localCheckpoint is the cheap lineage cut when fault
    // tolerance of the intermediate is not needed — in local mode it never
    // is). Measured r15 at sf0.1 isolated: 3.15 → 1.8 s. The blocks die
    // with the query's RDDs (ContextCleaner), never pinned session-long.
    def stage(df: DataFrame, name: String): DataFrame = df.localCheckpoint()
    val cells = stage(census, "cells")
    val offsets = for { dx <- Seq(-1, 0, 1); dy <- Seq(-1, 0, 1)
                        if dx != 0 || dy != 0 } yield (dx, dy)
    val probe = cells
      .select(col("cell").as("src"), col("lon"), col("lat"),
        explode(array(offsets.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"))
      .select(col("src"), (col("lon") + col("o.dx")).as("nlon"),
        (col("lat") + col("o.dy")).as("nlat"))
    // Checkpointed frames carry no size stats (Scan ExistingRDD →
    // UnknownPartitioning), so without hints the planner falls back to
    // sort-merge + two exchanges per bounded join. Every frame below is
    // geometry-bounded, so broadcast is always safe and always right.
    val edges = stage(probe
      .join(broadcast(cells.select(col("cell").as("dst"), col("lon").as("nlon"),
        col("lat").as("nlat"))), Seq("nlon", "nlat"))
      .select(col("src"), col("dst")), "edges")
    val init = cells.select(col("cell").as("v"), col("cell").as("label"))
    val lab = (1 to DbscanRounds).foldLeft(init) { (l, i) =>
      val prop = edges
        .join(broadcast(l.select(col("v").as("src"), col("label"))), Seq("src"))
        .select(col("dst").as("v"), col("label"))
      val p = stage(l.union(prop)
        .groupBy(col("v")).agg(min(col("label")).as("label")), s"round$i")
      p.join(broadcast(p.select(col("v").as("label"), col("label").as("ll"))),
          Seq("label"))
        .select(col("v"), col("ll").as("label"))
    }
    cells.join(broadcast(lab), col("cell") === col("v"))
      .select(col("lon"), col("lat"), col("n_points"), col("label").as("cluster"))
  }

  /** Geohash base-32 alphabet (the standard Niemeyer encoding; shared
    * literal with the oracle SQL). */
  val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** X-C72: geohash cell keys — the third spatial key family next to
    * z2/z3: the PREFIX-shareable base-32 encoding (every prefix of a
    * geohash is the containing coarser cell, so LIKE 'u09%' is a range
    * scan — the property GeoMesa's attribute+geo filters and every
    * geo-sharded store lean on). 6 characters = 30 bits = 15 bits per
    * axis; a geohash interleaves LON first from the top bit, which is
    * exactly the [[graft.functions.ZEncode2]] Morton with (lat, lon)
    * argument order (lat → even/low positions, lon → odd/high) — the same
    * codegen'd expression that keys the z2 layout, reused, then five-bit
    * groups are mapped through the alphabet with in-row substr arithmetic
    * (no UDF). Integer scaling ((deg+offset)·2¹⁵ div span) is exact in
    * both engines; the whole row is integer/string arithmetic —
    * hash-exact. Event-cardinality projection: at 100 TB this is the
    * write-path key computation, one codegen stage over the scan.
    */
  def geohashKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val chars = (0 until 6).map { j =>
      s"substr('$GeohashAlphabet', CAST((shiftright(gh30, ${25 - 5 * j}) & 31) AS INT) + 1, 1)"
    }.mkString(", ")
    withCoords(spark, sfDir)
      .withColumn("lon15", expr("((lon + 180) * 32768) div 360"))
      .withColumn("lat15", expr("((lat + 90) * 32768) div 180"))
      .withColumn("gh30", ZCurveExpressions.z2(spark, "lat15", "lon15"))
      .select(col("event_id"), col("lon"), col("lat"), col("gh30"),
        expr(s"concat($chars)").as("geohash"))
  }

  /** Mean Earth radius (km) doubled — the haversine output scale, carried
    * as one literal so both engines parse the identical double. */
  val EarthDiamKm = 12742.0

  /** X-C71: haversine great-circle refinement of the proximity join — the
    * real-distance (km) step a geo pipeline runs AFTER the cheap degree-box
    * candidate stage ([[neighborPairs]]): box adjacency is the INDEX
    * (GeoMesa's z2 prefix at production), the sphere distance is the
    * EXACT predicate, and splitting them this way is exactly how a
    * planet-scale distance join avoids trigonometry on the full cross
    * product — the 3×3-cell candidate set bounds the blow-up, so the trig
    * runs on pair-cardinality rows only. Per candidate pair: the integer
    * degree coords and 2R·asin(√(sin²(Δφ/2) + cosφ₁cosφ₂sin²(Δλ/2))).
    * The formula is a deterministic per-row IEEE chain (libm sin/cos/asin
    * agree across engines to ~1 ulp — ~10⁻¹³ km here); emission rounds to
    * 6 dp (millimeters), far above the drift — the
    * [[TimeSeriesOps.ewmaDaily]] argument, per-row instead of per-sum.
    */
  def haversinePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val s1 = sin(radians((col("b_lat") - col("a_lat")).cast("double") / 2.0))
    val s2 = sin(radians((col("b_lon") - col("a_lon")).cast("double") / 2.0))
    val h = s1 * s1 +
      cos(radians(col("a_lat").cast("double"))) *
      cos(radians(col("b_lat").cast("double"))) * (s2 * s2)
    neighborPairs(spark, sfDir)
      .select(col("a_id"), col("b_id"),
        col("a_lon"), col("a_lat"), col("b_lon"), col("b_lat"),
        round(lit(EarthDiamKm) * asin(sqrt(h)), 6).as("km"))
  }

  /** Grid-kNN geometry: 2^12-unit cells on the 16-bit scaled grid, k
    * neighbors, and the completeness radius the 3×3 candidate set
    * guarantees — any point within [[KnnRadius]] of a lies in a's nine
    * cells (cells are [[KnnRadius]] wide, so |Δx| ≤ radius spans at most
    * one cell boundary per axis).
    */
  val KnnCellShift = 12
  val KnnK = 3
  val KnnRadius: Long = 1L << KnnCellShift

  /** X-C24: bounded k-nearest-neighbor join — "for every point, its k
    * closest points within radius r": grid-bucket the scaled coords into
    * r-wide cells, replicate each probe into its 3×3 neighborhood (the
    * same bounded 9× blow-up as [[neighborPairs]] — never all-pairs), join
    * on cell, filter to the EXACT radius, and rank with the library's own
    * [[graft.plans.TopKPerKeyExec]] (bounded per-key heaps, partial+final,
    * one exchange, no sort) — a Window row_number would sort every
    * candidate list; the heap keeps k. Distances are EXACT integer
    * squared-Euclidean on the scaled grid (no floating point anywhere), so
    * the brute-force O(n²) oracle reproduces the result hash-exactly; ties
    * break by neighbor id. The radius bound is what makes grid kNN
    * complete: the oracle's unbucketed scan proves the 9-cell candidate
    * set dropped nothing.
    */
  def knnJoin(spark: SparkSession, sfDir: String, maxUserId: Long = 40L): DataFrame = {
    val pts = scaled(spark, sfDir)
      .where(col("user_id") < maxUserId)
      .select(col("event_id"), col("x"), col("y"),
        shiftright(col("x"), KnnCellShift).as("cx"),
        shiftright(col("y"), KnnCellShift).as("cy"))
    val offsets = for { dx <- Seq(-1, 0, 1); dy <- Seq(-1, 0, 1) } yield (dx, dy)
    val probe = pts
      .select(col("event_id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        col("cx").as("acx"), col("cy").as("acy"),
        explode(array(offsets.map { case (dx, dy) =>
          struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")) }: _*)).as("o"))
      .select(col("a_id"), col("ax"), col("ay"),
        (col("acx") + col("o.dx")).as("cell_x"),
        (col("acy") + col("o.dy")).as("cell_y"))
    val d2 = (col("ax") - col("x")) * (col("ax") - col("x")) +
      (col("ay") - col("y")) * (col("ay") - col("y"))
    val cands = probe.join(pts,
        col("cell_x") === col("cx") && col("cell_y") === col("cy") &&
          col("a_id") =!= col("event_id"))
      .select(col("a_id"), col("event_id").as("b_id"), d2.as("d2"))
      .where(col("d2") <= KnnRadius * KnnRadius)
    graft.plans.TopKPerKey(cands, KnnK, Seq("a_id"), Seq("d2" -> true, "b_id" -> true))
  }

  /** X-C26: triangle counting on the proximity graph — the
    * clustering-coefficient backbone of graph analytics, run with the
    * standard distributed EDGE-ITERATOR algorithm: orient every edge
    * low-id → high-id (each triangle then has exactly ONE wedge a<b<c, so
    * nothing double-counts), self-join the oriented edge list on the wedge
    * pivot (b), and close each wedge with a semi-join back to the edge
    * list. Two joins, both keyed on vertex ids — at 100 TB this
    * partitions by vertex and the wedge blow-up is Σ deg(v)², the known
    * cost of the algorithm (mitigated in production by degree-ordering the
    * orientation, which this low-id orientation approximates for the
    * synthetic grid). Emits per-vertex triangle participation counts —
    * pure integer arithmetic, brute-force oracle.
    */
  def triangleCounts(spark: SparkSession, sfDir: String): DataFrame = {
    // low-id orientation of the staged symmetric edge list — identical to
    // neighborPairs' (a_id < b_id) pairs, but read from the one staged
    // graph layout instead of re-running the proximity join
    val edges = symEdges(spark, sfDir).where(col("src") < col("dst"))
      .select(col("src").as("a_id"), col("dst").as("b_id"))
    val wedges = edges.as("e1").join(edges.as("e2"),
        col("e1.b_id") === col("e2.a_id"))
      .select(col("e1.a_id").as("a"), col("e1.b_id").as("b"), col("e2.b_id").as("c"))
    val triangles = wedges.join(edges,
        col("a") === col("a_id") && col("c") === col("b_id"), "leftsemi")
    triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy(col("vertex"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** X-C61: degree distribution — vertices per degree over the proximity
    * graph, with each degree's share of the vertex set: the first chart of
    * any graph audit (a heavy tail means hub vertices that will skew every
    * per-vertex join; a missing tail means the proximity radius is too
    * tight). The degrees ride free on the staged edge layout; the rollup
    * is one map-side aggregate whose output is bounded by max-degree —
    * metadata-sized at any corpus. Share is one exact-BIGINT division.
    */
  def degreeHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val deg = symEdges(spark, sfDir)
      .select(col("src").as("vertex"), col("deg")).distinct()
    val n = deg.agg(count(lit(1)).as("n_vertices"))
    deg.groupBy(col("deg")).agg(count(lit(1)).as("n_with_degree"))
      .crossJoin(broadcast(n))
      .select(col("deg"), col("n_with_degree"), col("n_vertices"),
        (col("n_with_degree").cast("double") / col("n_vertices")).as("share"))
  }

  /** X-C55: local clustering coefficient — per vertex with deg ≥ 2,
    * cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)): the fraction of a vertex's
    * neighbor pairs that are themselves connected, the standard
    * "community-ness vs hub-ness" vertex metric (a spam hub touching many
    * unrelated vertices scores ~0; a tight cluster member ~1). Pure
    * composition over already-staged work: the per-vertex triangle counts
    * ([[triangleCounts]]) left-joined to the degrees the staged edge
    * layout already carries — one vertex-sized join and one exact BIGINT
    * division; no new corpus-scale stage.
    */
  def clusteringCoefficient(spark: SparkSession, sfDir: String): DataFrame = {
    val deg = symEdges(spark, sfDir)
      .select(col("src").as("vertex"), col("deg")).distinct()
    deg.join(triangleCounts(spark, sfDir), Seq("vertex"), "left")
      .where(col("deg") >= 2)
      .select(col("vertex"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        ((coalesce(col("n_triangles"), lit(0L)) * 2L).cast("double") /
          (col("deg") * (col("deg") - 1L)).cast("double"))
          .as("clustering_coeff"))
  }

  /** Fixed-point scale for the exact-integer PageRank: 10^12 is divisible
    * by 20, so both the teleport term (3·S/20) and the per-edge damped
    * share (17·pr div (20·deg)) are exact integer arithmetic. */
  val PrScale = 1000000000000L

  /** Unrolled power-iteration count. */
  val PrIters = 3

  /** X-C28: PageRank over the proximity graph — the canonical iterative
    * vertex-centric computation, expressed as [[PrIters]] unrolled rounds of
    * the Pregel plan shape: join the (src-keyed) degree-annotated edge list
    * to the current rank vector, then one dst-keyed sum — per round exactly
    * one vertex-partitioned join + one vertex-keyed aggregate, which is how
    * every distributed PageRank runs (at 100 TB the edge list is bucketed by
    * src so the join is co-located and only the vertex-sized rank vector
    * moves; the edge list itself is staged once and never re-derived per
    * round). Arithmetic is EXACT integers end to end: ranks live at
    * [[PrScale]] fixed point, damping 0.85 is the rational 17/20 applied as
    * `(17·pr) div (20·deg)` (floor division — identical in both engines on
    * positive operands), so three rounds produce bit-identical bigint ranks
    * with no float-summation drift. Undirected graph: each neighbor pair
    * contributes both directions, so every vertex has deg ≥ 1 and receives
    * mass — no dangling-node term needed.
    */
  /** Degree- and weight-annotated symmetric edge list of the proximity
    * graph, staged once per (session, sf) — the ONE shared edge layout
    * every graph op reads ([[pageRank]], [[bfsHops]], [[sssp]], [[kCore]],
    * [[triangleCounts]]): `(src, dst, w, deg)` with
    * `w = 1 + |Δlon| + |Δlat|` (the exact integer grid-Manhattan weight
    * [[sssp]] relaxes over) and `deg` the undirected degree. At 100 TB
    * this is the graph's bucketed-by-src edge table, written once —
    * per-query re-derivation of the 9-cell proximity join (what sssp and
    * triangleCounts did through r6) would repeat the corpus-scale
    * geometry work on every graph query.
    */
  private[graft] def symEdges(spark: SparkSession, sfDir: String): DataFrame =
    // r16 (VERDICT r15 #2): staged BUCKETED by src (the `bucketed_orders`
    // idiom, guide §6) instead of plain parquet. Every iterative consumer
    // ([[pageRank]], [[personalizedPageRank]], [[bfsHops]], [[sssp]],
    // [[kCore]]'s first round) joins this table on `src` once per round:
    // with the bucketed layout the scan itself reports hash partitioning
    // on src, so when the vertex-side frame outgrows the broadcast
    // threshold the per-round join exchanges ONLY the vertex-sized rank/
    // frontier vector — the edge list never shuffles (plan evidence:
    // plans/r16/geo_pagerank_noBHJ_{before,after}.txt, captured with
    // broadcast disabled to expose the at-scale shape). At bench SF the
    // vertex side broadcasts and the plans are unchanged.
    Tables.stage(spark, sfDir, "sym_edges", Tables.Bucketed("src")) {
      val e = neighborPairs(spark, sfDir)
        .select(col("a_id"), col("b_id"),
          (lit(1L) + abs(col("a_lon") - col("b_lon")) +
            abs(col("a_lat") - col("b_lat"))).cast("long").as("w"))
      val sym = e.select(col("a_id").as("src"), col("b_id").as("dst"), col("w"))
        .union(e.select(col("b_id").as("src"), col("a_id").as("dst"), col("w")))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      sym.join(deg, Seq("src"))
    }

  def pageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val und = symEdges(spark, sfDir)
    val teleport = 3L * PrScale / 20L
    val init = und.select(col("src").as("v")).distinct()
      .select(col("v"), lit(PrScale).as("pr"))
    (1 to PrIters).foldLeft(init) { (pr, _) =>
      und.join(pr.withColumnRenamed("v", "src"), Seq("src"))
        .select(col("dst"), expr("(17 * pr) div (20 * deg)").as("share"))
        .groupBy(col("dst"))
        .agg((sum(col("share")) + lit(teleport)).as("pr"))
        .select(col("dst").as("v"), col("pr"))
    }
  }

  /** X-C54: personalized PageRank — the same fixed-point Pregel rounds as
    * [[pageRank]], but the teleport mass lands ONLY on a seed set (the
    * [[BfsSeedMod]] panel): the recommendation / trust-propagation
    * primitive ("rank everything by proximity to THESE nodes"). The
    * defining scale property is LOCALITY and the plan exploits it: mass
    * starts at the seeds and only ever flows along edges, so the rank
    * vector's support — the only thing that shuffles per round — grows
    * with the seed neighborhood, not the graph (each round joins edges to
    * the positive-mass rows only; vertices the mass never reaches never
    * appear in any frame). Arithmetic is the exact [[PrScale]] fixed point
    * with damping 17/20 as floor division — bit-identical bigint ranks,
    * replayed by an unrolled oracle whose per-round contributions
    * (inflow shares ∪ seed teleports) sum in one grouped aggregate.
    */
  def personalizedPageRank(spark: SparkSession, sfDir: String,
      seedMod: Long = BfsSeedMod): DataFrame = {
    val und = symEdges(spark, sfDir)
    val seeds = und.select(col("src").as("v")).distinct()
      .where(col("v") % seedMod === 0)
    val teleport = 3L * PrScale / 20L
    val init = seeds.select(col("v"), lit(PrScale).as("pr"))
    val ranks = (1 to PrIters).foldLeft(init) { (pr, _) =>
      val contrib = und.join(pr.withColumnRenamed("v", "src"), Seq("src"))
        .select(col("dst").as("v"), expr("(17 * pr) div (20 * deg)").as("x"))
      contrib.union(seeds.select(col("v"), lit(teleport).as("x")))
        .groupBy(col("v")).agg(sum(col("x")).as("pr"))
        .where(col("pr") > 0)
    }
    ranks.select(col("v"), col("pr"), (col("v") % seedMod === 0).as("is_seed"))
  }

  /** BFS frontier rounds and the seed-selection modulus. */
  val BfsHops = 3
  val BfsSeedMod = 97L

  /** X-C29: bounded multi-source BFS — min-hop distance (≤ [[BfsHops]])
    * from a deterministic seed set over the proximity graph, the
    * "blast-radius" / neighborhood-expansion query of graph analytics.
    * Pregel plan shape like [[pageRank]], but with a shrinking working set:
    * each round joins the src-keyed edge list to the CURRENT FRONTIER only
    * (not the full visited set) and anti-joins out already-visited
    * vertices, so per round the data in motion is one vertex-sized label
    * list — at 100 TB the edge list stays put (bucketed by src) and only
    * frontier labels shuffle. Hops are exact integers; min-hop semantics
    * come from the frontier construction itself (a vertex enters `visited`
    * at its first reachable round), which the oracle's union-of-rounds
    * min() reproduces.
    */
  /** Bounded relaxation rounds for [[sssp]]. */
  val SsspRounds = 3

  /** X-C30: bounded weighted single-source(-set) shortest paths — the
    * weighted generalization of [[bfsHops]]: min total edge weight from
    * the same deterministic seed set within ≤ [[SsspRounds]] relaxations
    * (Bellman–Ford rounds, so round k holds the exact min over all ≤k-edge
    * paths; weights are strictly positive so longer paths only ever add).
    * Edge weight is the exact integer 1 + |Δlon| + |Δlat| (grid Manhattan
    * step + 1 — strictly positive even for co-located points), so every
    * distance is exact integer arithmetic and the oracle's unrolled
    * union-min rounds replay it bit-for-bit. Plan shape per round: one
    * src-keyed join of the edge list to the current distance vector + one
    * dst-keyed min — identical wire cost to a [[pageRank]] round (at
    * 100 TB the edge list is bucketed by src and stays put; only the
    * vertex-sized distance vector moves). Unlike BFS the frontier cannot
    * shrink to newly-visited vertices only — a later round may IMPROVE an
    * already-reached vertex through a heavier-but-shorter-hop path — so
    * each round relaxes the full distance vector, which is still
    * vertex-sized.
    */
  def sssp(spark: SparkSession, sfDir: String,
           seedMod: Long = BfsSeedMod): DataFrame = {
    val und = symEdges(spark, sfDir).select(col("src"), col("dst"), col("w"))
    val seeds = und.select(col("src").as("v")).distinct()
      .where(col("v") % seedMod === 0)
      .select(col("v"), lit(0L).as("d"))
    (1 to SsspRounds).foldLeft(seeds) { (dist, _) =>
      val relax = und
        .join(dist.select(col("v").as("src"), col("d").as("ds")), Seq("src"))
        .select(col("dst").as("v"), (col("ds") + col("w")).as("d"))
      dist.union(relax).groupBy(col("v")).agg(min(col("d")).as("d"))
    }
  }

  def bfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = symEdges(spark, sfDir).select(col("src"), col("dst"))
    val seeds = edges.select(col("src").as("v")).distinct()
      .where(col("v") % BfsSeedMod === 0)
      .select(col("v"), lit(0L).as("hops"))
    val (reached, _) = (1 to BfsHops).foldLeft((seeds, seeds)) {
      case ((visited, frontier), h) =>
        val next = edges
          .join(frontier.select(col("v").as("src")), Seq("src"))
          .select(col("dst").as("v")).distinct()
          .join(visited, Seq("v"), "left_anti")
          .select(col("v"), lit(h.toLong).as("hops"))
        (visited.union(next), next)
    }
    reached
  }

  /** Minimum degree for [[kCore]] membership. */
  val KcoreK = 3

  /** Bounded peeling rounds for [[kCore]]. */
  val KcoreRounds = 3

  /** X-C37: bounded k-core decomposition — iteratively peel vertices of
    * degree < [[KcoreK]] from the proximity graph for [[KcoreRounds]]
    * rounds and report the surviving vertices with their residual degree.
    * k-core is the standard graph-quality filter (spam/link-farm vertices
    * fall out of the core; well-connected content stays), and peeling is
    * its canonical distributed algorithm. Each round is one map-side-
    * combinable degree count over the CURRENT edge set plus two semi-joins
    * that drop edges touching a peeled endpoint — the edge set only ever
    * SHRINKS, so unlike PageRank's fixed wire cost per round, later rounds
    * get cheaper (the same monotone-working-set argument as [[bfsHops]]).
    * Bounded rounds keep the job's stage count static and predictable at
    * 100 TB (a fixpoint loop would re-plan per iteration and its tail
    * rounds move almost no data); on this graph 3 rounds reach the true
    * 3-core, and the bounded semantics are exactly what the unrolled
    * oracle replays. All arithmetic is integer — bit-exact cross-engine.
    */
  def kCore(spark: SparkSession, sfDir: String,
            k: Int = KcoreK): DataFrame = {
    val edges0 = symEdges(spark, sfDir).select(col("src"), col("dst"))
    val pruned = (1 to KcoreRounds).foldLeft(edges0) { (e, _) =>
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("src").as("v"))
      e.join(keep.select(col("v").as("src")), Seq("src"), "leftsemi")
        .join(keep.select(col("v").as("dst")), Seq("dst"), "leftsemi")
    }
    pruned.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("v"), col("deg"))
  }

  /** Shortcutted label-propagation rounds for [[connectedComponents]]. */
  val CcRounds = 3

  /** X-C51: connected components by min-label propagation WITH pointer
    * jumping — the Shiloach–Vishkin-style shortcut that makes distributed
    * CC feasible at 100 TB. Plain min-propagation needs diameter rounds (a
    * path component of 10^6 vertices would need 10^6 shuffles); adding the
    * label(label(v)) shortcut after each propagation roughly DOUBLES the
    * covered radius per round, so [[CcRounds]] bounded rounds reach radius
    * ~2^R — O(log diameter) total. Each round is two shuffles on the one
    * staged edge layout: a src-keyed propagate + min-combine (map-side
    * partial min), then a label-keyed self-join of the label table (vertex-
    * sized, far smaller than edges). Labels are vertex ids and min-only
    * monotone, so l(v) ≤ v always holds, every label IS a live vertex row
    * (the shortcut join is total), and the bounded-round result replays
    * bit-for-bit in the unrolled integer oracle — the same bounded-
    * semantics contract as [[bfsHops]]/[[kCore]].
    */
  def connectedComponents(spark: SparkSession, sfDir: String): DataFrame =
    ccLabels(spark, sfDir)

  /** The converged label table, staged once per (session, sf) like
    * [[symEdges]]: component labels are a stored vertex-sized artifact a
    * production graph refreshes WITH the graph — recomputing the full
    * O(log d)-round pipeline inside every consumer (the census, the label
    * read, any per-component rollup) would repeat its per-round shuffles on
    * each query. Vertex-sized parquet, so consumers get a pruned scan.
    */
  private[graft] def ccLabels(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "cc_labels", Tables.Parquet()) {
      val edges = symEdges(spark, sfDir).select(col("src"), col("dst"))
      val init = edges.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("label"))
      (1 to CcRounds).foldLeft(init) { (lab, _) =>
        val prop = edges
          .join(lab.select(col("v").as("src"), col("label")), Seq("src"))
          .select(col("dst").as("v"), col("label"))
        val p = lab.union(prop)
          .groupBy(col("v")).agg(min(col("label")).as("label"))
        p.join(p.select(col("v").as("label"), col("label").as("ll")), Seq("label"))
          .select(col("v"), col("ll").as("label"))
      }
    }

  /** Component-size census over [[connectedComponents]] — the rollup a
    * graph-quality audit reads (giant-component share, dust count). Label-
    * cardinality aggregate over the vertex-sized label table.
    */
  def componentSizes(spark: SparkSession, sfDir: String): DataFrame =
    connectedComponents(spark, sfDir)
      .groupBy(col("label")).agg(count(lit(1)).as("n_vertices"))
      .select(col("label").as("component"), col("n_vertices"))

  /** Top scored pairs emitted by [[linkPrediction]]. */
  val LinkPredK = 50

  /** X-C64: common-neighbor link prediction — the top non-adjacent vertex
    * pairs ranked by shared-neighbor count, with the neighborhood-Jaccard
    * score common/(deg_a + deg_b − common): the classic "which edges are
    * missing" primitive (entity-resolution candidate pairs, record-linkage
    * blocking, graph-completion suggestions). Same wedge plan as
    * [[triangleCounts]]: one self-join of the staged edge layout on the
    * pivot vertex (Σ deg² wedges, the algorithm's known cost), one
    * map-side-combinable pair count, then an ANTI join against the edge
    * list keeps only non-edges — candidates never materialize beyond the
    * wedge stream, and the final cut is a TakeOrderedAndProject at
    * [[LinkPredK]], never a global sort. Counts and degrees are exact
    * BIGINTs; the Jaccard is one IEEE division of exact operands (the
    * ranking itself orders on the integer count with (a,b) tie-break, so
    * the cut is engine-identical).
    */
  def linkPrediction(spark: SparkSession, sfDir: String): DataFrame = {
    val e = symEdges(spark, sfDir).select(col("src"), col("dst"))
    val deg = symEdges(spark, sfDir)
      .select(col("src").as("v"), col("deg")).distinct()
    val common = e.select(col("src").as("mid"), col("dst").as("a"))
      .join(e.select(col("src").as("mid"), col("dst").as("b")), Seq("mid"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"), "left_anti")
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double"))
          .as("jaccard"))
      .orderBy(col("common").desc, col("a"), col("b"))
      .limit(LinkPredK)
  }

  /** X-C68: Adamic–Adar link prediction — [[linkPrediction]]'s wedge count
    * re-weighted by neighbor RARITY: each shared neighbor w contributes
    * 1/ln(deg(w)), so a hub shared by everyone says little while a rare
    * mutual contact says a lot (the standard upgrade from raw
    * common-neighbors in entity resolution and graph completion). Same
    * scale shape as the wedge count: ONE self-join of the staged edge
    * layout on the pivot (Σ deg² wedges — the algorithm's cost), with the
    * pivot's degree picked up IN the wedge row (the staged layout already
    * carries `deg`, so no extra join touches the wedge stream), a
    * map-side-combinable pair aggregate, and an ANTI join keeping
    * non-edges. Wedge pivots always have deg ≥ 2, so ln(deg) > 0.
    *
    * Anchored (r11, retiring the lint-whitelist entry): each wedge's
    * 1/ln(deg) term uses the libm-free [[graft.functions.DetLog]] chain
    * (deg is an integer) and quantizes to the 1e12 grid, so the per-pair
    * sum is an EXACT long aggregation — order-free at any degree — and
    * the emission is one division + round mirrored in the oracle. The
    * top-[[LinkPredK]] cut orders on the ROUNDED value (ties → (a, b)).
    */
  def adamicAdar(spark: SparkSession, sfDir: String): DataFrame = {
    val e = symEdges(spark, sfDir)
    val termQ = round(lit(1.0) / graft.functions.DetLog.ln(col("deg")) *
      lit(1.0e12), 0).cast("long")
    val scored = e.select(col("src").as("mid"), col("dst").as("a"), col("deg"))
      .join(e.select(col("src").as("mid"), col("dst").as("b")), Seq("mid"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"), sum(termQ).as("aaq"))
    scored
      .join(e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("common"),
        round(col("aaq").cast("double") / lit(1.0e12), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(LinkPredK)
  }

  /** Z-range coarse scan + exact refine — the GeoMesa index-scan shape:
    * one z2 BETWEEN range (with Morton false positives) then the precise
    * predicate. Emits per-event coarse/exact flags for the bbox
    * [-60..0] × [-30..30], so the oracle checks both the pruning set and
    * the refinement.
    */
  def z2RangeScan(spark: SparkSession, sfDir: String): DataFrame = {
    val (lonMin, lonMax, latMin, latMax) = (-60, 0, -30, 30)
    def sx(lon: Int) = (lon + 180) * 65535 / 360
    def sy(lat: Int) = (lat + 90) * 65535 / 180
    val zMin = zMorton(sx(lonMin), sy(latMin))
    val zMax = zMorton(sx(lonMax), sy(latMax))
    scaled(spark, sfDir)
      .withColumn("z2", ZCurveExpressions.z2(spark, "x", "y"))
      .where(col("z2").between(zMin, zMax))
      .select(col("event_id"), col("z2"),
        (col("lon").between(lonMin, lonMax) && col("lat").between(latMin, latMax))
          .as("exact_match"))
  }

  /** Driver-side Morton for range endpoints (mirrors [[graft.functions.ZEncode2]]). */
  def zMorton(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Cell edge (degrees) for the [[hotspots]] lattice: 30° ⇒ a full
    * 12×6 = 72-cell grid — coarse enough that every cell has Poisson-scale
    * mass, and the FULL lattice (zero cells included, the Gi* requirement)
    * stays geometry-bounded at any corpus size.
    */
  val HotspotCellDeg = 30

  /** X-C: Getis–Ord Gi* hotspot statistic — the spatial-statistics member
    * of the anomaly family ([[gridDbscan]] finds dense SHAPES; Gi* asks
    * per cell whether its NEIGHBORHOOD's mass is significantly above or
    * below the global mean — the hot/cold-spot map of spatial
    * epidemiology and crime analytics, Getis & Ord 1992): for each cell
    * of the full [[HotspotCellDeg]]° lattice, z = (Σ_{j∈N(i)} x_j −
    * x̄·W_i) / (S·√((n·W_i − W_i²)/(n−1))) over the 8-neighborhood plus
    * self (edge cells clamp, W_i ∈ {4,6,9}), cut at ±1.96 into
    * hot/cold/none. The synthetic corpus scatters points ~uniformly, so
    * mostly-none with a few chance-level flags is the CORRECT map.
    *
    * Scale shape: one map-side census collapses the corpus to the
    * 72-cell lattice; the neighborhood sum is the bounded 9-offset
    * replicate join (the [[neighborPairs]] pattern) on lattice-sized
    * rows; global mean/deviation are a one-row broadcast.
    * Determinism: census counts exact BIGINTs; x̄, S, and z are fixed
    * written IEEE chains over exact integers.
    */
  def hotspots(spark: SparkSession, sfDir: String): DataFrame = {
    val (nx, ny) = (360 / HotspotCellDeg, 180 / HotspotCellDeg)
    val counts = withCoords(spark, sfDir)
      .select(floor((col("lon") + 180) / HotspotCellDeg).cast("long").as("gx"),
        floor((col("lat") + 90) / HotspotCellDeg).cast("long").as("gy"))
      .groupBy(col("gx"), col("gy")).agg(count(lit(1)).as("x"))
    val lattice = spark.range(nx.toLong).select(col("id").as("gx"))
      .crossJoin(spark.range(ny.toLong).select(col("id").as("gy")))
    val cells = lattice.join(counts, Seq("gx", "gy"), "left")
      .select(col("gx"), col("gy"), coalesce(col("x"), lit(0L)).as("x"))
    val stats = cells.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val contrib = cells
      .select(col("x"), explode(array(offsets.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"),
        col("gx"), col("gy"))
      .select((col("gx") + col("o.dx")).as("cgx"),
        (col("gy") + col("o.dy")).as("cgy"), col("x"))
      .where(col("cgx") >= 0 && col("cgx") < nx &&
        col("cgy") >= 0 && col("cgy") < ny)
      .groupBy(col("cgx").as("gx"), col("cgy").as("gy"))
      .agg(sum(col("x")).as("w_sum"), count(lit(1)).as("w_n"))
    val nD = col("n").cast("double")
    val mean = col("sx").cast("double") / nD
    val s = sqrt(col("sxx").cast("double") / nD - mean * mean)
    val wD = col("w_n").cast("double")
    val z = (col("w_sum").cast("double") - mean * wD) /
      (s * sqrt((nD * wD - wD * wD) / (nD - 1.0)))
    cells.join(contrib, Seq("gx", "gy"))
      .crossJoin(broadcast(stats))
      .select(col("gx"), col("gy"), col("x"), col("w_n"), col("w_sum"),
        z.as("gi_z"),
        when(z > 1.96, "hot").when(z < -1.96, "cold")
          .otherwise("none").as("spot"))
  }

  /** Driver-side 3-way Morton (mirrors [[graft.functions.ZEncode3]]). */
  def zMorton3(x: Long, y: Long, t: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 10) {
      z |= ((x >> i) & 1L) << (3 * i)
      z |= ((y >> i) & 1L) << (3 * i + 1)
      z |= ((t >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    z
  }

  /** Bounding box probed by [[zorderTxScan]] (the z2RangeScan window). */
  val ZTxBbox: (Int, Int, Int, Int) = (-60, 0, -30, 30)

  /** Event coordinates persisted as a Z-ORDER-compacted TxTable (once per
    * session): 8 append files (the ingest-batch shape), then
    * [[graft.sources.TxTable.compactZ]] folds them into 4 files clustered
    * by the (lon, lat) Morton key — each file's commit-logged stats bound
    * BOTH dimensions, the layout [[zorderTxScan]]'s pruned probe relies on.
    */
  private[graft] def geoTxTable(spark: SparkSession, sfDir: String): String =
    Tables.memo(spark, sfDir, "txtable_geo_z") {
      val root = Tables.uniqueStageDir(spark, sfDir, "txtable_geo_z")
      graft.sources.TxTable.append(spark, root,
        withCoords(spark, sfDir).select(col("event_id"), col("lon"), col("lat"))
          .repartition(8), op = "geo_ingest")
      graft.sources.TxTable.compactZ(spark, root, targetFiles = 4,
        xCol = "lon", yCol = "lat"): Unit
      root
    }

  /** X-M2c: bbox probe through the Z-ORDER-compacted TxTable — the
    * multi-dimensional data-skipping read: `readWhere` consults the
    * commit-logged per-file (lon, lat) ranges the Morton clustering made
    * tight on BOTH axes, so a bbox opens only the files whose quadrant
    * intersects it (a linear lon-sort would prune lat probes not at all —
    * AcidSpec pins that contrast). The oracle replays the bbox straight
    * off the events derivation, so pruning is proven result-identical.
    */
  def zorderTxScan(spark: SparkSession, sfDir: String): DataFrame = {
    val (lonMin, lonMax, latMin, latMax) = ZTxBbox
    graft.sources.TxTable.readWhere(spark, geoTxTable(spark, sfDir),
        col("lon").between(lonMin, lonMax) &&
          col("lat").between(latMin, latMax))
      .agg(count(lit(1)).as("n_events"),
        min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"),
        min(col("lat")).as("min_lat"), max(col("lat")).as("max_lat"),
        sum(col("event_id")).as("id_sum"))
  }
}
