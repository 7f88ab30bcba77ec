package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Q, Tables => T}
import Det._

/** SURVEY.md §3.9: the reference's own EO computations, re-expressed over
  * the graded relational corpus (no raster fixtures exist yet — SURVEY
  * §8.3): band math -> arithmetic over value columns, bitmask QA -> integer
  * bit ops, regrid -> integer bucketing, composites/anomaly/zonal ->
  * grouped/windowed reductions, WOfS decision tree -> chained CASE,
  * geomedian -> typed Aggregator (functions.Geomedian).
  *
  * All double-valued outputs are scaled BIGINTs; means/sums over the
  * arbitrary-precision `events.value` go through the 6-dp element grid
  * first (Det rule 3), so aggregation order is free on both engines.
  */
object EO {

  /** 2-D affine grid transform `(x,y) -> (a·x + b·y + c, d·x + e·y + f)` —
    * the `dc.load(resolution=, crs=)` reprojection core, reduced to the
    * affine part (a full CRS datum shift needs a geodesy library that is
    * not in this sandbox). Pure column math: each output coordinate is a
    * fixed per-row IEEE op sequence, so it is bit-identical across engines
    * and stays inside WholeStageCodegen. Exactly invertible when
    * `a·e − b·d ≠ 0` (see [[Affine.invert]]; round-trip property-tested in
    * EngineSpec). */
  final case class Affine(a: Double, b: Double, c: Double,
                          d: Double, e: Double, f: Double) {
    def det: Double = a * e - b * d
    def apply(x: Double, y: Double): (Double, Double) =
      (a * x + b * y + c, d * x + e * y + f)
    def invert: Affine = {
      val inv = 1.0 / det
      // [xp - c, yp - f] times the inverse 2x2 matrix
      Affine(e * inv, -b * inv, (b * f - c * e) * inv,
        -d * inv, a * inv, (c * d - a * f) * inv)
    }
    /** Spark columns for the transformed coordinates. */
    def cols(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column)
        : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
      (lit(a) * x + lit(b) * y + lit(c), lit(d) * x + lit(e) * y + lit(f))
    /** Oracle-SQL twins of [[cols]] — same literals, same op order. */
    def sql(x: String, y: String): (String, String) =
      (s"(($a) * ($x) + ($b) * ($y) + ($c))", s"(($d) * ($x) + ($e) * ($y) + ($f))")
  }

  /** 30°-rotation + anisotropic scale + offset used by eo_regrid_affine;
    * the literals are the exact decimal renderings of the doubles, so the
    * Spark `lit` and the SQL text parse to identical bits. */
  val RegridAffine: Affine = Affine(
    0.8660254037844387, -0.5, 12.5,
    0.5, 0.8660254037844387, -40.0)

  /** Packs `events` into the RasterGrid tile layout with a TIME axis:
    * t = event_id % 4 (low bits, so the contiguous id space gives every
    * (tile, pos) a complete 4-deep stack), pos = (id div 4) % 256,
    * tile_y = (id div 4) div 256, tile_x = 0. One band DataFrame per
    * (name, expr); values cast to float32 — the callers keep them
    * small-integer-valued so every float op is exact and matches the
    * DuckDB double oracle bit-for-bit. The collect per (band, time, tile)
    * is bounded by the FIXED 256-pixel tile size at any corpus scale —
    * tile COUNT grows, tile size doesn't (the real raster layout).
    *
    * A "complete 4-deep stack" at every (tile, pos) additionally needs
    * the events row count ≡ 0 (mod 4) with contiguous event_id (true of
    * every driver corpus). The downstream composites no longer DEPEND on
    * it: RasterGrid.temporalMedianComposite sizes its pixel loop from the
    * longest stack entry and skips missing pixels (ADVICE r6), so a
    * ragged tail degrades to a shallower per-pixel median, not an
    * out-of-bounds or nondeterministic read. */
  private def eventTiles(s: SparkSession, d: String,
      bands: Seq[(String, Column)]): DataFrame = {
    val base = T.events(s, d)
      .withColumn("rest", expr("event_id div 4"))
      .withColumn("time", (col("event_id") % 4).cast("int"))
      .withColumn("pos", (col("rest") % 256).cast("int"))
      .withColumn("tile", expr("rest div 256"))
    bands.map { case (name, v) =>
      base.withColumn("x", v.cast("float"))
        .groupBy("time", "tile")
        .agg(array_sort(collect_list(struct(col("pos"), col("x")))).as("pxs"))
        .select(lit("events").as("product"), lit(name).as("band"), col("time"),
          col("tile").cast("int").as("tile_y"), lit(0).as("tile_x"),
          transform(col("pxs"), e => e.getField("x")).as("data"))
    }.reduce(_ unionByName _)
  }

  /** Rounds of the grid-quantized Weiszfeld iteration (eo_geomedian) —
    * ONE constant consumed by both the Spark plan and the generated
    * oracle CTE chain so the two sides can never drift. Six rounds from
    * the centroid land within ~1e-4 of the converged classic on this
    * corpus family (GeomedianSpec pins 1e-3). */
  private val GeomedianRounds = 6

  /** The geomedian oracle CTE chain (ux, m0, d/w/m per round) up to
    * m$K — shared VERBATIM by eo_geomedian and eo_geomad so the two
    * keys' iterates can never drift. Callers prepend "WITH " and append
    * their own final CTEs/SELECT. */
  private def gmChainSql(k: Int): String = {
    val iters = (1 to k).map { t =>
      val prev = s"m${t - 1}"
      // single-consumer chain: the denominator folds into the SAME
      // (label, pos) aggregation (each vector contributes exactly once
      // per pos), so no CTE is referenced twice and the plan grows
      // LINEARLY with rounds on both engines
      s"d$t AS (SELECT u.label, u.vec_id, " +
        "SUM(CAST(FLOOR((u.x - m.v) * (u.x - m.v) * 1e10 + 0.5) AS BIGINT)) AS d2l " +
        s"FROM ux u JOIN $prev m ON u.label = m.label AND u.pos = m.pos GROUP BY u.label, u.vec_id), " +
        s"w$t AS (SELECT label, vec_id, CASE WHEN d2l = 0 THEN 100000.0 " +
        s"ELSE 1.0 / SQRT(CAST(d2l AS DOUBLE) / 1e10) END AS w FROM d$t), " +
        s"m$t AS MATERIALIZED (SELECT label, pos, CAST(numl AS DOUBLE) / CAST(denl AS DOUBLE) AS v FROM " +
        s"(SELECT u.label, u.pos, SUM(CAST(FLOOR(u.x * w.w * 1e10 + 0.5) AS BIGINT)) AS numl, " +
        s"SUM(CAST(FLOOR(w.w * 1e10 + 0.5) AS BIGINT)) AS denl " +
        s"FROM ux u JOIN w$t w ON u.label = w.label AND u.vec_id = w.vec_id GROUP BY u.label, u.pos) nm)"
    }.mkString(", ")
    // ux and each w_t have multiple consumers: MATERIALIZED stops
    // DuckDB's default CTE inlining from copying the subtree per
    // consumer (which doubles the plan every iteration — the same
    // exponential blowup localCheckpoint prevents on the Spark side)
    "ux AS MATERIALIZED (SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS x, " +
      "UNNEST(RANGE(0, LEN(embedding))) AS pos FROM embeddings), " +
      "m0 AS MATERIALIZED (SELECT label, pos, CAST(" + Det.sqlMean6("x") + " AS DOUBLE) / 1e6 AS v " +
      "FROM ux GROUP BY label, pos), " + iters
  }

  /** Spark twin of [[gmChainSql]]: the K-round grid-quantized Weiszfeld
    * iterate. Returns (ux, med) — ux the persisted exploded
    * (vec_id, label, pos, x) frame (caller may reuse; lifecycle rides
    * the session), med the final (label, pos, v) iterate whose v is a
    * ratio of two exact longs and therefore engine-identical. */
  private def gmIterates(s: SparkSession, d: String, k: Int): (DataFrame, DataFrame) = {
    val ux = T.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var med = ux.groupBy("label", "pos")
      .agg((Det.mean6(col("x")).cast("double") / lit(1e6)).as("v"))
    for (_ <- 1 to k) {
      // single-consumer chain: the per-label denominator folds into
      // the SAME (label, pos) aggregation (each vector contributes
      // exactly once per pos, so the per-pos weight sum IS the
      // per-label sum) — no relation is referenced twice, the plan
      // grows linearly with rounds, and no lineage checkpoint is
      // needed (a dists consumed by den AND numerator doubled the
      // plan per round: measured planner heap exhaustion at K = 10)
      // localCheckpoint flattens the iterate's lineage each round:
      // an all-lazy K-round chain re-plans 2K nested broadcast
      // stages (measured at K=10: 2x slower than eager tiny jobs)
      val dists = ux.join(broadcast(med), Seq("label", "pos"))
        .groupBy("label", "vec_id")
        .agg(sum(floor((col("x") - col("v")) * (col("x") - col("v")) * lit(1e10) + lit(0.5))).as("d2l"))
        // a coincident point takes the grid's MAXIMUM weight 1e5
        // (= 1/sqrt of the floored minimum distance) instead of
        // dropping out — the Vardi-Zhang-style cap keeps the
        // denominator positive even if EVERY point coincides with
        // the iterate (an all-identical group would otherwise hit
        // 0/0), and the iterate correctly stays at the common point
        .withColumn("w", when(col("d2l") === 0, lit(100000.0))
          .otherwise(lit(1.0) / sqrt(col("d2l").cast("double") / lit(1e10))))
        .localCheckpoint()
      med = ux.join(broadcast(dists.select("label", "vec_id", "w")), Seq("label", "vec_id"))
        .groupBy("label", "pos")
        .agg(
          sum(floor(col("x") * col("w") * lit(1e10) + lit(0.5))).as("numl"),
          sum(floor(col("w") * lit(1e10) + lit(0.5))).as("denl"))
        .select(col("label"), col("pos"),
          (col("numl").cast("double") / col("denl").cast("double")).as("v"))
    }
    (ux, med)
  }

  /** Min-plus relaxation rounds for eo_tile_distance — the graph_bfs
    * fixed-depth contract on the raster grid: both engines run the SAME
    * K; distances beyond K stay at the 999 sentinel identically. K=8
    * covers the widest gap a 16x16 tile's interior can hold from its
    * own mask pixels in Manhattan metric rings. Declared BEFORE `all`
    * (object vals initialize in declaration order — a forward reference
    * from the `all` initializer would silently read 0, the KcoreRounds
    * lesson). */
  private val DistRounds = 8

  /** Inverse of [[eventTiles]]'s packing for oracle comparison: one row
    * per (tile, `pos`, `v`) of the packed array `arr` across whatever
    * time/band rows the composite left. */
  private def unpackTiles(tiles: DataFrame, arr: Column = col("data"),
      pos: String = "pos", v: String = "v"): DataFrame =
    tiles.select(tileId, posexplode(arr).as(Seq(pos, v)))

  /** The packed tiles' tile_y key as the long `tile` id the oracles use. */
  private def tileId: Column = col("tile_y").cast("long").as("tile")

  /** The t = 0 slice of the full 256-pixel [[eventTiles]] of one band —
    * the input of every positional 16×16 tile key. */
  private def t0Tiles(s: SparkSession, d: String, band: (String, Column)): DataFrame =
    eventTiles(s, d, Seq(band)).where(size(col("data")) === 256 && col("time") === 0)

  /** The Horn gradient of the t = 0 user_id tiles, one row per interior
    * pixel: (tile, opos, p) with p = struct(gx, gy). */
  private def hornPixels(s: SparkSession, d: String): DataFrame =
    unpackTiles(graft.raster.RasterGrid.focalGradient3x3(
      t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16),
      arrays_zip(col("gx"), col("gy")), "opos", "p")

  /** [[hornPixels]] with the components as longs: (tile, opos, gx, gy). */
  private def hornGradient(s: SparkSession, d: String): DataFrame =
    hornPixels(s, d).select(col("tile"), col("opos"),
      col("p.gx").cast("long").as("gx"), col("p.gy").cast("long").as("gy"))

  /** Event rows on the tile grid, unpacked: tile, the caller's pixel
    * `coords`, t, then `vals` (the row form of [[eventTiles]]' layout). */
  private def eventPixels(s: SparkSession, d: String, coords: Seq[Column],
      vals: Column*): DataFrame =
    T.events(s, d).select((expr("(event_id div 4) div 256").as("tile") +: coords) ++
      ((col("event_id") % 4).as("t") +: vals): _*)

  /** An event pixel's coordinates in its 16×16 tile: (py, px), or the
    * packed index pos. */
  private def pyPx: Seq[Column] = Seq(
    expr("((event_id div 4) % 256) div 16").as("py"),
    expr("((event_id div 4) % 256) % 16").as("px"))
  private def tilePos: Seq[Column] = Seq(expr("(event_id div 4) % 256").as("pos"))

  /** The tiles of `px` whose t = 0 slice is complete (256 pixels). */
  private def fullTiles(px: DataFrame): DataFrame =
    px.where(col("t") === 0).groupBy("tile")
      .agg(count(lit(1)).as("c")).where(col("c") === 256).select("tile")

  /** The `keep` rows of `px` that lie on a [[fullTiles]] tile. */
  private def onFullTiles(px: DataFrame, keep: Column): DataFrame =
    px.where(keep).join(broadcast(fullTiles(px)), "tile")

  /** The 16-bin DN histogram groups (tile, bin = min(v div 32, 15)) of
    * the full tiles' t = 0 pixels, v = user_id. */
  private def tileBins(s: SparkSession, d: String): RelationalGroupedDataset =
    onFullTiles(eventPixels(s, d, Nil, col("user_id").as("v")), col("t") === 0)
      .groupBy(col("tile"), least(expr("v div 32"), lit(15L)).as("bin"))

  /** The set t = 0 mask pixels (user_id parity) of the full tiles as
    * (tile, py, px, pid), pid the global pixel id — the clump keys' p0. */
  private def maskPixels(s: SparkSession, d: String): DataFrame =
    onFullTiles(eventPixels(s, d, pyPx :+ expr("event_id div 4").as("pid"),
      (col("user_id") % 2).as("m")), col("t") === 0 && col("m") === 1)
      .select("tile", "py", "px", "pid")

  /** Whether packed pixel index p lies in its 16×16 tile's 14×14 interior. */
  private def interior(p: Column): Column =
    shiftright(p, 4).between(1, 14) && p.bitwiseAND(lit(15)).between(1, 14)

  /** Oracle twin of [[eventPixels]]: the `px` CTE (tile, `coords`, t,
    * `vals`). Callers prepend `WITH ` and append their own CTEs. */
  private def pxSql(coords: String, vals: String): String =
    s"px AS (SELECT (event_id // 4) // 256 AS tile, ${coords}event_id % 4 AS t, $vals FROM events)"

  /** [[pxSql]] plus `full_t`, the oracle twin of [[fullTiles]]. */
  private def fullTilesSql(coords: String, vals: String): String =
    pxSql(coords, vals) +
      ", full_t AS (SELECT tile FROM px WHERE t = 0 GROUP BY tile HAVING COUNT(*) = 256)"

  /** [[pxSql]] coordinates: (py, px) in the tile, or the packed pos.
    * Declared BEFORE `all` (object-init order). */
  private val PyPxSql = "((event_id // 4) % 256) // 16 AS py, ((event_id // 4) % 256) % 16 AS px, "
  private val PosSql = "(event_id // 4) % 256 AS pos, "

  /** The `p0` CTE: the full tiles' t = 0 pixels as (tile, `cols`). */
  private def p0Sql(cols: String): String =
    s"p0 AS (SELECT tile, $cols FROM px JOIN full_t USING (tile) WHERE t = 0)"

  /** `WITH px, full_t, p0, ` of the 3×3 stencil keys: p0 = (tile, py, px,
    * `name`) with `name` = CAST(`v` AS BIGINT). */
  private def gridSql(v: String, name: String): String =
    "WITH " + fullTilesSql(PyPxSql, s"CAST($v AS BIGINT) AS $name") + ", " +
      p0Sql(s"py, px, $name") + ", "

  /** The 3×3 neighbourhood self-join of `src` (o = centre, nb = each of
    * its 9 cells) over the centres with py, px in [lo, hi]. */
  private def nb3x3Sql(src: String, lo: Int, hi: Int): String =
    s"FROM $src o JOIN $src nb ON nb.tile = o.tile " +
      "AND nb.py BETWEEN o.py - 1 AND o.py + 1 AND nb.px BETWEEN o.px - 1 AND o.px + 1 " +
      s"WHERE o.py BETWEEN $lo AND $hi AND o.px BETWEEN $lo AND $hi "

  /** A 3×3 stencil CTE `name` over p0's 14×14 interior: (tile, opos,
    * `aggs` over the neighbours nb of each centre o). */
  private def stencilSql(name: String, aggs: String): String =
    s"$name AS (SELECT o.tile, (o.py - 1) * 14 + (o.px - 1) AS opos, $aggs " +
      nb3x3Sql("p0", 1, 14) + "GROUP BY o.tile, opos)"

  /** Oracle twin of [[hornGradient]]: [[gridSql]] over user_id plus the
    * Horn stencil CTE g(tile, opos, gx, gy). */
  private def hornSql: String =
    gridSql("user_id", "v") + stencilSql("g",
      "CAST(SUM(nb.v * (nb.px - o.px) * (CASE WHEN nb.py = o.py THEN 2 ELSE 1 END)) AS BIGINT) AS gx, " +
        "CAST(SUM(nb.v * (nb.py - o.py) * (CASE WHEN nb.px = o.px THEN 2 ELSE 1 END)) AS BIGINT) AS gy")

  /** Oracle twin of [[tileBins]]: the per-(tile, bin) `aggs` over the
    * full tiles' t = 0 pixels p. */
  private def tileBinsSql(aggs: String): String =
    s"SELECT p.tile, LEAST(p.v // 32, 15) AS bin, $aggs " +
      "FROM px p JOIN full_t USING (tile) WHERE p.t = 0 GROUP BY p.tile, bin"

  /** Oracle twin of [[maskPixels]] + [[clumpLabeled]]: p0, the right/down
    * pairs `ed` and cl(pid, clump = min pid reachable over 4-adjacency),
    * by a recursive closure. */
  private def maskClumpsSql: String =
    "WITH RECURSIVE " + fullTilesSql(PyPxSql + "(event_id // 4) AS pid, ", "user_id % 2 AS m") +
      ", p0 AS (SELECT p.tile, py, px, pid FROM px p JOIN full_t USING (tile) " +
      "WHERE t = 0 AND m = 1), " +
      "ed AS (SELECT a.pid AS d1, b.pid AS d2 FROM p0 a JOIN p0 b ON a.tile = b.tile " +
      "AND ((b.py = a.py AND b.px = a.px + 1) OR (b.py = a.py + 1 AND b.px = a.px))), " +
      "edges AS (SELECT d1, d2 FROM ed UNION ALL SELECT d2, d1 FROM ed), " +
      "reach AS (SELECT pid AS a, pid AS b FROM p0 " +
      "UNION SELECT r.a, e.d2 FROM reach r JOIN edges e ON r.b = e.d1), " +
      "cl AS (SELECT a AS pid, MIN(b) AS clump FROM reach GROUP BY a)"

  /** Rounds of D8 flow-accumulation relaxation (eo_tile_flow_acc) — the
    * graph_bfs fixed-K contract: both engines run the SAME K, and the
    * spec pins the K+1 fixpoint. Longest monotone descent measured ≤ 7
    * on both graded corpora; 10 leaves headroom. Declared BEFORE `all`
    * (object-init order — the SsspRounds lesson). */
  private val FlowAccRounds = 10

  /** D8 neighbor offsets: (dy, dx, direction code), E→SE→S→…→NE. */
  private val D8Offs = Seq((0, 1, 1), (1, 1, 2), (1, 0, 4), (1, -1, 8),
    (0, -1, 16), (-1, -1, 32), (-1, 0, 64), (-1, 1, 128))

  /** Oracle `CASE dir …` mapping a D8 direction code to its dy or dx. */
  private def dirCaseSql(of: ((Int, Int, Int)) => Int): String =
    "CASE dir " + D8Offs.init.map(o => s"WHEN ${o._3} THEN ${of(o)}").mkString(" ") +
      s" ELSE ${of(D8Offs.last)} END"
  private val DirDySql = dirCaseSql(_._1)
  private val DirDxSql = dirCaseSql(_._2)

  /** The D8 keys' p0: the full tiles' t = 0 elevations (tile, py, px, z). */
  private val D8P0Sql =
    "p0 AS (SELECT p.tile, py, px, z FROM px p JOIN full_t USING (tile) WHERE t = 0)"

  /** The D8 oracle prelude up to the steepest-descent pick: px/full_t
    * with z = s2(value), the caller's `p0` CTE, the [[D8Offs]] offsets,
    * and pick(tile, py, px, best, dir) per interior pixel — max drop,
    * min direction code on ties. Ends with ", ". */
  private def d8PickSql(p0: String): String =
    "WITH " + fullTilesSql(PyPxSql, sqlS2("value") + " AS z") + ", " + p0 + ", " +
      "offs AS (SELECT * FROM (VALUES " +
      D8Offs.map { case (dy, dx, dir) => s"($dy, $dx, $dir)" }.mkString(", ") +
      ") AS v(dy, dx, dir)), " +
      "nb AS (SELECT o.tile, o.py, o.px, f.dir, o.z - n.z AS drop " +
      "FROM p0 o CROSS JOIN offs f " +
      "JOIN p0 n ON n.tile = o.tile AND n.py = o.py + f.dy AND n.px = o.px + f.dx " +
      "WHERE o.py BETWEEN 1 AND 14 AND o.px BETWEEN 1 AND 14), " +
      "wb AS (SELECT tile, py, px, dir, drop, " +
      "MAX(drop) OVER (PARTITION BY tile, py, px) AS best FROM nb), " +
      "pick AS (SELECT tile, py, px, MAX(best) AS best, " +
      "CAST(MIN(CASE WHEN drop = best THEN dir END) AS BIGINT) AS dir " +
      "FROM wb GROUP BY tile, py, px), "

  /** The flow-accumulation oracle chain after [[d8PickSql]]: fl (each
    * pick's interior target), a0 = 1 per pixel, then FlowAccRounds
    * relaxation rounds a1..aK of acc = 1 + Σ inflowing acc. */
  private def flowAccSql: String =
    s"fl AS MATERIALIZED (SELECT tile, py, px, py + ($DirDySql) AS ty, px + ($DirDxSql) AS tx " +
      s"FROM pick WHERE best > 0 AND py + ($DirDySql) BETWEEN 1 AND 14 " +
      s"AND px + ($DirDxSql) BETWEEN 1 AND 14), " +
      "a0 AS MATERIALIZED (SELECT tile, py, px, CAST(1 AS BIGINT) AS acc FROM pick), " +
      (1 to FlowAccRounds).map { k =>
        s"a$k AS MATERIALIZED (SELECT n.tile, n.py, n.px, " +
          "1 + COALESCE(SUM(u.acc), 0) AS acc " +
          "FROM a0 n LEFT JOIN fl ON fl.tile = n.tile AND fl.ty = n.py AND fl.tx = n.px " +
          s"LEFT JOIN a${k - 1} u ON u.tile = fl.tile AND u.py = fl.py AND u.px = fl.px " +
          "GROUP BY n.tile, n.py, n.px)"
      }.mkString(", ")

  /** The packed D8 flow map shared by eo_tile_flow_acc and
    * eo_tile_watershed: one row per full t=0 tile with `flow` a 256-long
    * array — flow[p] = the downstream pixel index picked by steepest
    * descent (max drop, min direction code on ties — the lexicographic
    * struct `greatest`), or -1 for boundary-ring pixels, pits, and cells
    * whose pick leaves the graded 14×14 interior. ONE aggregation
    * Exchange; the pick itself is a map-only array projection. */
  private def d8FlowPacked(s: SparkSession, d: String): DataFrame = {
    val packed = eventPixels(s, d, tilePos, Det.s2(col("value")).as("z"))
      .where(col("t") === 0)
      .groupBy("tile")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("z")))),
        e => e.getField("z")).as("zarr"),
        count(lit(1)).as("c"))
      .where(col("c") === 256)
      .select("tile", "zarr")
    val idx = sequence(lit(0), lit(255))
    // flow[p] = downstream pixel index, or -1 (boundary, pit, or target
    // on the boundary ring — flows exiting the graded interior)
    val flowCol = transform(idx, p => {
      val cands = D8Offs.map { case (dy, dx, dir) =>
        val np = p + lit(dy * 16 + dx)
        struct((element_at(col("zarr"), p + 1) -
          element_at(col("zarr"), np + 1)).as("drop"),
          lit(-dir).as("nd"), np.as("np"))
      }
      val pick = greatest(cands: _*)
      when(interior(p),
        when(pick.getField("drop") > 0 && interior(pick.getField("np")),
          pick.getField("np")).otherwise(lit(-1)))
        .otherwise(lit(-1))
    })
    packed.select(col("tile"), col("zarr"), flowCol.as("flow"))
  }

  /** Pointer-doubling rounds for eo_tile_watershed: ptr ← ptr∘ptr, so
    * J doublings resolve chains up to 2^J. The 14×14 graded interior
    * bounds every flow path at 196 cells < 2^8 — J=8 is EXACT root
    * resolution, not a convergence assumption (the spec still pins the
    * J+1 fixpoint). Declared BEFORE `all` (object-init order). */
  private val WatershedDoublings = 8

  /** The eo_tile_flow_acc core, K parameterized — SHUFFLE-ONCE since
    * round 12 (VERDICT r11 item 2): flow routing never leaves a tile, so
    * the plan must never re-shuffle per round. Tiles pack to 256-long z
    * arrays in ONE groupBy aggregation; the D8 steepest-descent pick
    * (max drop, min dir on ties — a lexicographic struct `greatest`),
    * the flow map and ALL K relaxation rounds then run inside the packed
    * arrays via higher-order array functions (the RasterGrid
    * discipline). The former plan ran each round as a global
    * (tile, py, px) join + shuffle + localCheckpoint (~10 Exchanges, ~17
    * jobs); this one is a single aggregation Exchange followed by K
    * stacked map-only projections (CollapseProject keeps them separate —
    * each round's array is referenced 8× per element, so inlining is
    * blocked and the unrolled expression stays linear in K). Pinned by
    * PlanContractSpec. Returns (tile, zarr, acc): acc the packed
    * 256-long accumulation array (interior pixels carry their
    * accumulation, boundary 0), zarr the s2 elevation array carried
    * through for downstream terrain composites (eo_twi). */
  private def flowAccPacked(s: SparkSession, d: String, k: Int): DataFrame = {
    val idx = sequence(lit(0), lit(255))
    var df = d8FlowPacked(s, d)
      .select(col("tile"), col("zarr"), col("flow"),
        transform(idx, p =>
          when(interior(p), lit(1L)).otherwise(lit(0L))).as("acc"))
    for (_ <- 1 to k) {
      // acc'[p] = 1 + Σ acc[n] over the 8 neighbors n draining into p —
      // only a neighbor can flow into p, so the scan is complete
      val nextAcc = transform(idx, p => {
        val inflow = D8Offs.map { case (dy, dx, _) =>
          val np = p + lit(dy * 16 + dx)
          when(element_at(col("flow"), np + 1) === p,
            element_at(col("acc"), np + 1)).otherwise(lit(0L))
        }.reduce(_ + _)
        when(interior(p), lit(1L) + inflow).otherwise(lit(0L))
      })
      df = df.select(col("tile"), col("zarr"), col("flow"), nextAcc.as("acc"))
    }
    df.select("tile", "zarr", "acc")
  }

  /** The eo_tile_flow_acc relaxation, K parameterized so the spec can
    * run K and K+1 and assert the fixpoint. Returns one row per interior
    * pixel: (tile, py, px, acc) — an unpacking view over
    * [[flowAccPacked]]. */
  def flowAccumulation(s: SparkSession, d: String, k: Int): DataFrame =
    // LAZY lineage cut before the explode: the post-explode FILTER drags
    // the k-round stacked generator expression through constraint/
    // nullability analysis whose recursion is exponential in the
    // transform tree's branching (measured: the suite's k=10/11 fixpoint
    // re-derivation spun >20 min in CaseWhen.nullable; the graded key's
    // aggregate consumer never hits that path). The cut is spec-path
    // only — the graded eo_tile_flow_acc plan stays checkpoint-free and
    // keeps its PlanContractSpec shuffle-once pin.
    flowAccPacked(s, d, k).localCheckpoint(false)
      .select(col("tile"), posexplode(col("acc")).as(Seq("pos", "acc")))
      .where(col("acc") > 0)
      .select(col("tile"), expr("CAST(pos div 16 AS BIGINT)").as("py"),
        expr("CAST(pos % 16 AS BIGINT)").as("px"), col("acc"))

  /** The eo_tile_watershed core, doublings parameterized so the spec
    * can run J and J+1 and assert the (exact) fixpoint. Returns one row
    * per interior pixel: (tile, pos, basin) with basin = the pos of the
    * terminal cell its D8 flow path reaches (a pit, or the last interior
    * cell before flow exits the graded window). Pointer DOUBLING over
    * the packed flow array — ptr ← ptr[ptr[·]] is a map-only array
    * projection, so the whole labeling is the one d8FlowPacked Exchange
    * plus J stacked projections (each round's array is read twice per
    * element through nested element_at, so the lineage is cut per round
    * with a LAZY localCheckpoint — the eo_tile_distance discipline). */
  def watershedBasins(s: SparkSession, d: String, j: Int): DataFrame = {
    val idx = sequence(lit(0), lit(255))
    var df = d8FlowPacked(s, d).select(col("tile"),
      transform(idx, p => {
        val f = element_at(col("flow"), p + 1)
        when(f === -1, p).otherwise(f)
      }).as("ptr"))
    for (_ <- 1 to j) {
      df = df.select(col("tile"),
        transform(idx, p =>
          element_at(col("ptr"), element_at(col("ptr"), p + 1) + 1)).as("ptr"))
        .localCheckpoint(false)
    }
    df.select(col("tile"), posexplode(col("ptr")).as(Seq("pos", "basin")))
      .where(interior(col("pos")))
  }

  /** eo_polygon_overlay's AOIs: RECTILINEAR polygons (axis-aligned
    * edges) as ordered vertex lists on join_pip's 256-grid — an L, a T
    * and a plain rectangle, so concave overlay cases are exercised.
    * Shoelace areas: 12000, 5700, 8000. */
  private[graft] val OverlayAois: Seq[Seq[(Int, Int)]] = Seq(
    Seq((40, 40), (160, 40), (160, 100), (100, 100), (100, 180), (40, 180)),
    Seq((180, 60), (260, 60), (260, 90), (235, 90), (235, 200), (205, 200),
      (205, 90), (180, 90)),
    Seq((60, 200), (220, 200), (220, 250), (60, 250)))

  /** Hand-decomposed DISJOINT rectangle covers of [[OverlayAois]]
    * ((x0, y0, x1, y1), half-open convention irrelevant — areas are
    * side products). GeometrySpec proves Σ rect areas == shoelace area
    * per AOI and pairwise disjointness, so the decomposition cannot
    * silently drift from the vertex lists. */
  private[graft] val OverlayAoiRects: Seq[Seq[(Int, Int, Int, Int)]] = Seq(
    Seq((40, 40, 160, 100), (40, 100, 100, 180)),
    Seq((180, 60, 260, 90), (205, 90, 235, 200)),
    Seq((60, 200, 220, 250)))

  val all: Seq[Q] = Seq(

    // NDVI-shaped normalized difference with div-0 guard (xr.where analogue).
    Q("eo_bandmath", Some(
      "SELECT l_orderkey, l_linenumber, " +
        "CASE WHEN (l_extendedprice + l_extendedprice * l_discount) = 0 THEN NULL " +
        "ELSE " + sqlS6("(l_extendedprice - l_extendedprice * l_discount) / " +
          "(l_extendedprice + l_extendedprice * l_discount)") + " END AS nd " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber, nd"),
      (s, d) => {
        val a = col("l_extendedprice")
        val b = col("l_extendedprice") * col("l_discount")
        T.lineitem(s, d)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            when(a + b === 0, lit(null)).otherwise(s6((a - b) / (a + b))).as("nd"))
          .orderBy("l_orderkey", "l_linenumber", "nd")
      }),

    // Tasseled Cap transform (round 12) — the Kauth-Thomas rotation in
    // its published Landsat-TM reflectance form [Crist & Cicone 1984,
    // table coefficients reproduced verbatim below]: brightness /
    // greenness / wetness as fixed linear combinations of six bands.
    // The classic EO index product beyond the ratio family
    // (eo_bandmath's NDVI shape) — pure map-only band math that fuses
    // into the scan at any archive scale. Six synthetic reflectance
    // bands derive from events residues (the eo_unmix discipline: exact
    // integer residues over one IEEE divide each); each TC component is
    // a LEFT-ASSOCIATIVE six-term dot product of shared decimal
    // literals, so both engines evaluate the identical IEEE expression
    // tree, then s6-quantize.
    Q("eo_tasseled_cap", Some {
      val bands = Seq(
        "value / 1000.0",
        "CAST(user_id % 512 AS DOUBLE) / 512.0",
        "CAST(event_id % 97 AS DOUBLE) / 97.0",
        "CAST(user_id % 101 AS DOUBLE) / 101.0",
        "CAST(event_id % 89 AS DOUBLE) / 89.0",
        "CAST(user_id % 83 AS DOUBLE) / 83.0")
      def dot(cs: Seq[Double]) =
        cs.zip(bands).map { case (c, b) => s"$c * ($b)" }.mkString(" + ")
      "WITH b AS (SELECT event_id, " +
        sqlS6(dot(Seq(0.3037, 0.2793, 0.4743, 0.5585, 0.5082, 0.1863))) + " AS tcb6, " +
        sqlS6(dot(Seq(-0.2848, -0.2435, -0.5436, 0.7243, 0.0840, -0.1800))) + " AS tcg6, " +
        sqlS6(dot(Seq(0.1509, 0.1973, 0.3279, 0.3406, -0.7112, -0.4572))) + " AS tcw6 " +
        "FROM events) " +
        "SELECT event_id, tcb6, tcg6, tcw6, " +
        "CAST(CASE WHEN tcg6 > 100000 THEN 1 ELSE 0 END AS BIGINT) AS vegetated " +
        "FROM b ORDER BY event_id"
    },
      (s, d) => {
        val bands = Seq[Column](
          col("value") / 1000.0,
          (col("user_id") % 512).cast("double") / 512.0,
          (col("event_id") % 97).cast("double") / 97.0,
          (col("user_id") % 101).cast("double") / 101.0,
          (col("event_id") % 89).cast("double") / 89.0,
          (col("user_id") % 83).cast("double") / 83.0)
        def dot(cs: Seq[Double]) =
          cs.zip(bands).map { case (c, b) => lit(c) * b }.reduce(_ + _)
        T.events(s, d)
          .select(col("event_id"),
            s6(dot(Seq(0.3037, 0.2793, 0.4743, 0.5585, 0.5082, 0.1863))).as("tcb6"),
            s6(dot(Seq(-0.2848, -0.2435, -0.5436, 0.7243, 0.0840, -0.1800))).as("tcg6"),
            s6(dot(Seq(0.1509, 0.1973, 0.3279, 0.3406, -0.7112, -0.4572))).as("tcw6"))
          .select(col("event_id"), col("tcb6"), col("tcg6"), col("tcw6"),
            when(col("tcg6") > 100000L, 1L).otherwise(0L).as("vegetated"))
          .orderBy("event_id")
      }),

    // The spectral-index menu (round 12, third wave) [Rouse et al. 1974
    // NDVI; McFeeters 1996 NDWI; Huete 1988 SAVI; Huete et al. 2002
    // EVI — the index endpoints every EO API exposes next to band
    // math]: four published indices over synthesized INTEGER band DNs,
    // each index an exact integer ratio through ONE halfUpDiv — the
    // L=0.5 and G=2.5 literals clear to integer form (SAVI =
    // 3(n−r)/(2(n+r)+1), EVI = 5(n−r)/(2n+12r−15b+2)) so no float
    // coefficient ever multiplies a measurement. NDVI/NDWI NULL on the
    // zero-sum pixel, EVI NULL on its known non-positive-denominator
    // domain edge (documented GDAL behavior); the 3-way land-cover
    // decision (veg / water / other) is the graded classification
    // lane. Map-only — fuses into the scan at any archive size.
    Q("eo_spectral_indices", Some(
      "WITH b AS (SELECT event_id, " +
        "CAST(user_id % 83 AS BIGINT) AS bl, CAST(event_id % 89 AS BIGINT) AS gr, " +
        "CAST(user_id % 101 AS BIGINT) AS rd, CAST(event_id % 97 AS BIGINT) AS nr " +
        "FROM events), " +
        "ix AS (SELECT event_id, " +
        "CASE WHEN nr + rd = 0 THEN NULL ELSE " +
        sqlHalfUpDiv("(nr - rd) * 1000000", "nr + rd") + " END AS ndvi6, " +
        "CASE WHEN gr + nr = 0 THEN NULL ELSE " +
        sqlHalfUpDiv("(gr - nr) * 1000000", "gr + nr") + " END AS ndwi6, " +
        sqlHalfUpDiv("3 * (nr - rd) * 1000000", "2 * (nr + rd) + 1") + " AS savi6, " +
        "CASE WHEN 2 * nr + 12 * rd - 15 * bl + 2 <= 0 THEN NULL ELSE " +
        sqlHalfUpDiv("5 * (nr - rd) * 1000000", "2 * nr + 12 * rd - 15 * bl + 2") +
        " END AS evi6 FROM b) " +
        "SELECT event_id, ndvi6, ndwi6, savi6, evi6, " +
        "CASE WHEN ndvi6 > 300000 THEN 'veg' WHEN ndwi6 > 0 THEN 'water' " +
        "ELSE 'other' END AS cover " +
        "FROM ix ORDER BY event_id"),
      (s, d) => {
        val b = T.events(s, d).select(col("event_id"),
          (col("user_id") % 83).cast("long").as("bl"),
          (col("event_id") % 89).cast("long").as("gr"),
          (col("user_id") % 101).cast("long").as("rd"),
          (col("event_id") % 97).cast("long").as("nr"))
        val ix = b.select(col("event_id"),
          when(col("nr") + col("rd") === 0, lit(null))
            .otherwise(halfUpDiv((col("nr") - col("rd")) * 1000000L,
              col("nr") + col("rd"))).as("ndvi6"),
          when(col("gr") + col("nr") === 0, lit(null))
            .otherwise(halfUpDiv((col("gr") - col("nr")) * 1000000L,
              col("gr") + col("nr"))).as("ndwi6"),
          halfUpDiv(lit(3) * (col("nr") - col("rd")) * 1000000L,
            lit(2) * (col("nr") + col("rd")) + 1).as("savi6"),
          when(lit(2) * col("nr") + lit(12) * col("rd") -
              lit(15) * col("bl") + 2 <= 0, lit(null))
            .otherwise(halfUpDiv(lit(5) * (col("nr") - col("rd")) * 1000000L,
              lit(2) * col("nr") + lit(12) * col("rd") -
                lit(15) * col("bl") + 2)).as("evi6"))
        ix.select(col("event_id"), col("ndvi6"), col("ndwi6"),
            col("savi6"), col("evi6"),
            when(col("ndvi6") > 300000L, "veg")
              .when(col("ndwi6") > 0L, "water")
              .otherwise("other").as("cover"))
          .orderBy("event_id")
      }),

    // Landsat pixel_qa-style bitmask filter + clear-count (synthesized flags).
    Q("eo_bitmask", Some(
      "SELECT l_returnflag, " +
        "CAST(SUM(CASE WHEN ((l_orderkey % 256) & 3) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clear, " +
        "CAST(COUNT(*) AS BIGINT) AS n_total FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
      (s, d) =>
        T.lineitem(s, d)
          .withColumn("flags", col("l_orderkey") % 256)
          .groupBy("l_returnflag")
          .agg(
            sum(when(col("flags").bitwiseAND(3) === 0, 1).otherwise(0))
              .cast("bigint").as("n_clear"),
            count(lit(1)).as("n_total"))
          .orderBy("l_returnflag")),

    // Resample onto a coarse output grid (dc.load(resolution=...) analogue):
    // integer cell ids, per-cell grid-mean + grid-sum + count.
    Q("eo_regrid", Some(
      "SELECT CAST(FLOOR(value / 50) AS BIGINT) AS gx, user_id % 10 AS gy, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        sqlMean6("value") + " AS mean_val, " +
        sqlSum6("value") + " AS sum_val " +
        "FROM events GROUP BY gx, gy ORDER BY gx, gy"),
      (s, d) =>
        T.events(s, d)
          .groupBy(
            floor(col("value") / 50).as("gx"),
            (col("user_id") % 10).as("gy"))
          .agg(
            count(lit(1)).as("n"),
            mean6(col("value")).as("mean_val"),
            sum6(col("value")).as("sum_val"))
          .orderBy("gx", "gy")),

    // True affine reprojection (rotation + scale + offset), inverse-mapped:
    // each source pixel (x = value, y = user_id % 100) lands in the
    // destination cell FLOOR(affine(x,y) / 25) — dc.load(resolution=, crs=)
    // minus the datum shift (no geodesy jar in the sandbox). The transform
    // is per-row column math (codegen'd, engine-bit-identical); the per-cell
    // reduction uses the 6-dp element grid (Det rule 3).
    Q("eo_regrid_affine", Some {
      val (xs, ys) = RegridAffine.sql("value", "CAST(user_id % 100 AS DOUBLE)")
      "SELECT CAST(FLOOR(" + xs + " / 25) AS BIGINT) AS gx, " +
        "CAST(FLOOR(" + ys + " / 25) AS BIGINT) AS gy, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        sqlMean6("value") + " AS mean_val " +
        "FROM events GROUP BY gx, gy ORDER BY gx, gy"
    },
      (s, d) => {
        val (xc, yc) = RegridAffine.cols(
          col("value"), (col("user_id") % 100).cast("double"))
        T.events(s, d)
          .groupBy(
            floor(xc / 25).cast("long").as("gx"),
            floor(yc / 25).cast("long").as("gy"))
          .agg(
            count(lit(1)).as("n"),
            mean6(col("value")).as("mean_val"))
          .orderBy("gx", "gy")
      }),

    // Per-pixel temporal median mosaic analogue: exact median per user over
    // the 6-dp grid; ×2 makes the even-count midpoint an exact integer.
    Q("eo_composite_median", Some(
      "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(FLOOR(QUANTILE_CONT(" + sqlS6("value") + ", 0.5) * 2 + 0.5) AS BIGINT) AS med2 " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
      (s, d) =>
        T.events(s, d)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n"),
            floor(percentile(s6(col("value")), lit(0.5)) * 2 + 0.5).cast("long").as("med2"))
          .orderBy("user_id")),

    // NDVI-anomaly analogue: observation minus (event_type x month)
    // climatology. One shuffle: the climatology is a window grid-sum/count,
    // not a separate aggregate + join; the anomaly is derived with a fixed
    // double op sequence over exact integers (output: 4-dp scaled).
    Q("eo_anomaly", Some(
      "SELECT event_id, event_type, " +
        "CAST(FLOOR((CAST(v6 AS DOUBLE) - CAST(sumw AS DOUBLE) / cntw) / 100 + 0.5) AS BIGINT) AS anomaly " +
        "FROM (SELECT event_id, event_type, " + sqlS6("value") + " AS v6, " +
        "SUM(" + sqlS6("value") + ") OVER (PARTITION BY event_type, MONTH(ts)) AS sumw, " +
        "COUNT(*) OVER (PARTITION BY event_type, MONTH(ts)) AS cntw FROM events) x " +
        "ORDER BY event_id"),
      (s, d) => {
        val w = Window.partitionBy(col("event_type"), month(col("ts")))
        T.events(s, d)
          .withColumn("v6", s6(col("value")))
          .withColumn("sumw", sum(col("v6")).over(w))
          .withColumn("cntw", count(lit(1)).over(w))
          .select(
            col("event_id"), col("event_type"),
            floor((col("v6").cast("double") - col("sumw").cast("double") / col("cntw"))
              / lit(100) + lit(0.5)).cast("long").as("anomaly"))
          .orderBy("event_id")
      }),

    // WOfS-style regression-tree classifier (Mueller et al. 2016, RSE 174):
    // chained threshold CASE over two derived bands, class counts per group.
    Q("eo_decision_tree", Some(
      "SELECT l_returnflag, cls, CAST(COUNT(*) AS BIGINT) AS n FROM (" +
        "SELECT l_returnflag, CASE " +
        "WHEN l_discount > 0.06 AND l_tax > 0.04 THEN 'A' " +
        "WHEN l_discount > 0.06 THEN 'B' " +
        "WHEN l_tax > 0.04 THEN 'C' ELSE 'D' END AS cls FROM lineitem) x " +
        "GROUP BY l_returnflag, cls ORDER BY l_returnflag, cls"),
      (s, d) =>
        T.lineitem(s, d)
          .withColumn("cls",
            when(col("l_discount") > 0.06 && col("l_tax") > 0.04, "A")
              .when(col("l_discount") > 0.06, "B")
              .when(col("l_tax") > 0.04, "C")
              .otherwise("D"))
          .groupBy("l_returnflag", "cls")
          .agg(count(lit(1)).as("n"))
          .orderBy("l_returnflag", "cls")),

    // Zonal statistics over AOI polygons analogue: zones from a broadcast
    // dimension join, stats per zone.
    Q("eo_zonal_stats", Some(
      "SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n, " +
        sqlS6("MIN(value)") + " AS min_val, " +
        sqlS6("MAX(value)") + " AS max_val, " +
        sqlMean6("value") + " AS mean_val, " +
        sqlSum6("value") + " AS sum_val " +
        "FROM events JOIN nation ON CAST(user_id % 25 AS INT) = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
      // thin instantiation of the parameterized library op (round 10)
      (s, d) => graft.analytics.Zonal.stats(
        T.events(s, d).join(broadcast(T.nation(s, d)),
          (col("user_id") % 25).cast("int") === col("n_nationkey")),
        zone = col("n_name"), value = col("value"))
        .orderBy("n_name")),

    // Zonal majority (round 9, fourth wave) — the MODE-per-zone raster
    // product (GDAL majority resample / classification zonal mode):
    // which land-cover class dominates each administrative zone. Counts
    // per (zone, class) in one shuffle; the pick is a window top-1 by
    // (count DESC, class ASC) — the deterministic tie-break agg_mode
    // established (max_by's tie choice is implementation-defined, so it
    // never appears in graded surfaces). Share on the s6 grid from
    // exact longs. The window runs over zone×class rows — bounded by
    // |zones|·|classes| at any data scale.
    Q("eo_zonal_majority", Some(
      "WITH c AS (SELECT n.n_name, e.event_type, CAST(COUNT(*) AS BIGINT) AS n_class " +
        "FROM events e JOIN nation n ON CAST(e.user_id % 25 AS INT) = n.n_nationkey " +
        "GROUP BY n.n_name, e.event_type), " +
        "t AS (SELECT n_name, CAST(SUM(n_class) AS BIGINT) AS n_total FROM c GROUP BY n_name), " +
        "r AS (SELECT n_name, event_type, n_class, " +
        "ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY n_class DESC, event_type) AS rn FROM c) " +
        "SELECT r.n_name, r.event_type AS maj_class, r.n_class, t.n_total, " +
        sqlS6("CAST(r.n_class AS DOUBLE) / CAST(t.n_total AS DOUBLE)") + " AS share6 " +
        "FROM r JOIN t ON t.n_name = r.n_name WHERE r.rn = 1 ORDER BY r.n_name"),
      (s, d) => {
        val c = T.events(s, d)
          .join(broadcast(T.nation(s, d)),
            (col("user_id") % 25).cast("int") === col("n_nationkey"))
          .groupBy("n_name", "event_type")
          .agg(count(lit(1)).as("n_class"))
        val t = c.groupBy("n_name").agg(sum(col("n_class")).as("n_total"))
        val w = Window.partitionBy("n_name")
          .orderBy(col("n_class").desc, col("event_type"))
        c.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .join(broadcast(t), "n_name")
          .select(col("n_name"), col("event_type").as("maj_class"), col("n_class"),
            col("n_total"),
            s6(col("n_class").cast("double") / col("n_total").cast("double")).as("share6"))
          .orderBy("n_name")
      }),

    // Lee speckle filter (round 9, fifth wave) — the adaptive local
    // filter of every SAR (Sentinel-1) preprocessing chain (Lee 1980):
    // out = m + (x − m)·v/(v + σₙ²), where m and v are the 3×3 local
    // mean/variance — smooth where the window is flat, preserve edges
    // where it isn't. COMPOSED from the native focalSum3x3 over the
    // band and its square (the eo_tile_focal_var construction): both
    // stencils + the per-pixel filter run in ONE map-only projection.
    // m, v and the gain are a FIXED IEEE sequence from exact integer
    // window sums (both engines bit-agree), floored to cent-grid
    // output. σₙ² = 400 DN² — the noise constant a real chain
    // calibrates from the sensor.
    Q("eo_tile_lee", Some(
      gridSql("user_id", "v") +
        "fs AS (SELECT o.tile, (o.py - 1) * 14 + (o.px - 1) AS opos, o.v AS x, " +
        "CAST(SUM(nb.v) AS BIGINT) AS sv, CAST(SUM(nb.v * nb.v) AS BIGINT) AS svv " +
        nb3x3Sql("p0", 1, 14) + "GROUP BY o.tile, opos, o.v), " +
        "lee AS (SELECT tile, opos, " +
        sqlS2("CAST(sv AS DOUBLE) / 9.0 + (CAST(x AS DOUBLE) - CAST(sv AS DOUBLE) / 9.0) * " +
          "((CAST(9 * svv - sv * sv AS DOUBLE) / 81.0) / " +
          "(CAST(9 * svv - sv * sv AS DOUBLE) / 81.0 + 400.0))") + " AS f FROM fs) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(f) AS BIGINT) AS sum_f, " +
        "CAST(SUM(f * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM lee GROUP BY tile ORDER BY tile"),
      (s, d) => {
        import graft.raster.TileExprs
        val grid = t0Tiles(s, d, "v" -> col("user_id"))
        // interior pixel values align with the stencil outputs by
        // slicing the same 14x14 window out of the original tile
        val interior = transform(
          sequence(lit(0), lit(14 * 14 - 1)),
          o => element_at(col("data"),
            ((o / 14).cast("int") + 1) * 16 + (o % 14).cast("int") + 2))
        val both = grid.select(tileId,
          TileExprs.focal3(col("data"), 16, 16).as("fs"),
          TileExprs.focal3(transform(col("data"), e => e * e), 16, 16).as("fs2"),
          interior.as("xs"))
        val ex = both.select(col("tile"),
            posexplode(arrays_zip(col("fs"), col("fs2"), col("xs")))
              .as(Seq("opos", "p")))
          .select(col("tile"), col("opos"),
            col("p.fs").cast("long").as("sv"), col("p.fs2").cast("long").as("svv"),
            col("p.xs").cast("long").as("x"))
        val svD = col("sv").cast("double")
        val m = svD / lit(9.0)
        val v = (lit(9L) * col("svv") - col("sv") * col("sv")).cast("double") / lit(81.0)
        val f = s2(m + (col("x").cast("double") - m) * (v / (v + lit(400.0))))
        ex.select(col("tile"), col("opos"), f.as("f"))
          .groupBy("tile")
          .agg(count(lit(1)).as("n_out"), sum(col("f")).as("sum_f"),
            sum(col("f") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Per-pixel linear trend (round 9, fifth wave) — the change-
    // detection raster product (vegetation greening/browning maps,
    // coastal-change rates): OLS slope of the observation series
    // against time, per pixel group. The agg_regr exact-moment
    // discipline at pixel granularity: x = epoch DAYS (int), y = cents,
    // five int64 moment sums per pixel (x ≤ ~2e4 keeps x²·n far inside
    // int64), slope/intercept as one fixed double sequence; NULL on
    // degenerate time spreads. The slope surfaces in s6 cents/day. One
    // shuffle on the pixel key — embarrassingly partitionable like
    // every per-pixel temporal reduction.
    Q("eo_trend", Some {
      val nD = "CAST(n AS DOUBLE)"
      val sxD = "CAST(sx AS DOUBLE)"; val syD = "CAST(sy AS DOUBLE)"
      val sxyD = "CAST(sxy AS DOUBLE)"; val sxxD = "CAST(sxx AS DOUBLE)"
      val den = s"($nD * $sxxD - $sxD * $sxD)"
      "WITH b AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS x, " +
        sqlS2("value") + " AS y FROM events), " +
        "m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, " +
        "CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx " +
        "FROM b GROUP BY user_id) " +
        "SELECT user_id, n, " +
        s"CASE WHEN n < 2 OR $den <= 0.0 THEN NULL ELSE " +
        sqlS6(s"($nD * $sxyD - $sxD * $syD) / $den") + " END AS slope6, " +
        s"CASE WHEN n < 2 OR $den <= 0.0 THEN NULL ELSE " +
        sqlS2(s"($syD - ($nD * $sxyD - $sxD * $syD) / $den * $sxD) / $nD") +
        " END AS icept_c FROM m ORDER BY user_id"
    },
      (s, d) => {
        val m = T.events(s, d)
          .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("x"),
            s2(col("value")).as("y"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
        val den = nD * col("sxx").cast("double") - sxD * sxD
        val slope = (nD * col("sxy").cast("double") - sxD * syD) / den
        m.select(col("user_id"), col("n"),
            when(col("n") < 2 || den <= 0.0, lit(null)).otherwise(s6(slope)).as("slope6"),
            when(col("n") < 2 || den <= 0.0, lit(null))
              .otherwise(s2((syD - slope * sxD) / nD)).as("icept_c"))
          .orderBy("user_id")
      }),

    // Cloud-shadow geometric projection (round 9, fifth wave) — the
    // fmask-family step after cloud detection: project each cloud pixel
    // along the sun vector (here a fixed (dx=2, dy=1) offset — the
    // integer displacement a real pipeline derives from sun
    // elevation/azimuth and cloud height) and flag the landing pixel as
    // shadow; the usable-pixel mask is cloud ∪ shadow. Pure coordinate
    // algebra: the shadow test is an EQUI self-join on the shifted
    // (tile, py−1, px−2) key — map-side at any scale, zero-filled at
    // tile borders (compose the halo exchange when cross-tile shadows
    // matter, the focal contract). Counts + position checksum per tile.
    Q("eo_tile_shift_mask", Some(
      "WITH " + fullTilesSql(PyPxSql, "CAST(user_id % 2 AS BIGINT) AS m") + ", " +
        "p0 AS (SELECT p.tile, py, px, m FROM px p JOIN full_t USING (tile) WHERE t = 0), " +
        "sh AS (SELECT o.tile, o.py, o.px, o.m AS cloud, " +
        "COALESCE(src.m, 0) AS shadow FROM p0 o " +
        "LEFT JOIN p0 src ON src.tile = o.tile AND src.py = o.py - 1 AND src.px = o.px - 2), " +
        "c AS (SELECT tile, py * 16 + px AS pos, cloud, shadow, " +
        "CASE WHEN cloud = 1 OR shadow = 1 THEN 1 ELSE 0 END AS bad FROM sh) " +
        "SELECT tile, CAST(SUM(cloud) AS BIGINT) AS n_cloud, " +
        "CAST(SUM(CASE WHEN shadow = 1 AND cloud = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_shadow_only, " +
        "CAST(SUM(1 - bad) AS BIGINT) AS n_clear, " +
        "CAST(SUM(bad * (pos + 1)) AS BIGINT) AS checksum " +
        "FROM c GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val p0 = onFullTiles(eventPixels(s, d, pyPx, (col("user_id") % 2).as("m")),
            col("t") === 0)
          .select("tile", "py", "px", "m")
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val src = p0.select(col("tile").as("ts"), col("py").as("sy"),
          col("px").as("sx"), col("m").as("sm"))
        val sh = p0.join(src,
            col("ts") === col("tile") && col("sy") === col("py") - 1 &&
              col("sx") === col("px") - 2, "left")
          .select(col("tile"), (col("py") * 16 + col("px")).as("pos"),
            col("m").as("cloud"), coalesce(col("sm"), lit(0L)).as("shadow"))
        val bad = when(col("cloud") === 1 || col("shadow") === 1, 1L).otherwise(0L)
        sh.select(col("tile"), col("pos"), col("cloud"), col("shadow"), bad.as("bad"))
          .groupBy("tile")
          .agg(sum(col("cloud")).as("n_cloud"),
            sum(when(col("shadow") === 1 && col("cloud") === 0, 1L).otherwise(0L))
              .as("n_shadow_only"),
            sum(lit(1L) - col("bad")).as("n_clear"),
            sum(col("bad") * (col("pos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // D8 flow direction (round 9, seventh wave) — the hydrology primitive
    // under every watershed/flow-accumulation product (O'Callaghan &
    // Mark 1984; gdaldem's drainage model): each interior pixel drains
    // toward its steepest-descent neighbor, encoded by the ESRI power-
    // of-two direction code (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64,
    // NE=128; flats and pits = 0). Instead of eight shifted self-joins,
    // ONE join against an exploded 8-row offset dimension reaches every
    // neighbor — the offsets broadcast, so the cost is one equi-join on
    // the shifted coordinate key, the eo_tile_shift_mask shape
    // generalized. Elevations are exact cents; the argmax resolves
    // (drop DESC, dir ASC) via a min over encoded pairs, never max_by.
    // Output = per-tile direction histogram with drop and position
    // checksums pinning every pixel's decision.
    Q("eo_tile_d8", Some(
      d8PickSql(D8P0Sql) +
        "d AS (SELECT tile, py * 16 + px AS pos, " +
        "CASE WHEN best > 0 THEN dir ELSE 0 END AS dir, " +
        "CASE WHEN best > 0 THEN best ELSE 0 END AS drop FROM pick) " +
        "SELECT tile, dir, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(drop) AS BIGINT) AS sum_drop, " +
        "CAST(SUM(pos + 1) AS BIGINT) AS checksum " +
        "FROM d GROUP BY tile, dir ORDER BY tile, dir"),
      (s, d) => {
        val p0 = onFullTiles(eventPixels(s, d, pyPx, s2(col("value")).as("z")),
            col("t") === 0)
          .select("tile", "py", "px", "z")
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val offDf = s.createDataFrame(D8Offs).toDF("dy", "dx", "dir")
        val nbr = p0.select(col("tile").as("nt"), col("py").as("ny"),
          col("px").as("nx"), col("z").as("nz"))
        val nb = p0.where(col("py").between(1, 14) && col("px").between(1, 14))
          .crossJoin(broadcast(offDf))
          .join(nbr, col("nt") === col("tile") &&
            col("ny") === col("py") + col("dy") &&
            col("nx") === col("px") + col("dx"))
          .select(col("tile"), col("py"), col("px"), col("dir"),
            (col("z") - col("nz")).as("drop"))
        // argmax with the (drop DESC, dir ASC) tie rule: per-pixel max
        // via a window over the 8 neighbor rows, then the min qualifying
        // direction — never max_by (implementation-defined ties)
        val wPix = org.apache.spark.sql.expressions.Window
          .partitionBy("tile", "py", "px")
        val pick = nb.withColumn("best", max(col("drop")).over(wPix))
          .groupBy("tile", "py", "px")
          .agg(max(col("best")).as("best"),
            min(when(col("drop") === col("best"), col("dir"))).as("dir_raw"))
        pick.select(col("tile"), (col("py") * 16 + col("px")).as("pos"),
            when(col("best") > 0, col("dir_raw")).otherwise(0L).cast("long").as("dir"),
            when(col("best") > 0, col("best")).otherwise(0L).as("drop"))
          .groupBy("tile", "dir")
          .agg(count(lit(1)).as("n"), sum("drop").as("sum_drop"),
            sum(col("pos") + 1).as("checksum"))
          .orderBy("tile", "dir")
      }),

    // Morphological gradient (round 9, closing wave) — Beucher's
    // dilation − erosion, the edge detector of grayscale morphology
    // (the boundary-extraction step after eo_tile_morph's binary
    // closing): two NEW native extremum stencils (TileFocalExtremum3x3,
    // the max/min siblings of the focal-sum family) feed one per-pixel
    // subtract, all map-only per tile; comparisons are exact in float32
    // so integer pixels stay integral and the DuckDB oracle spells the
    // same 9-neighbor MAX/MIN via the offsets-dimension join on global
    // pixel coordinates. Interior 14×14, the focal halo contract.
    Q("eo_tile_morph_gradient", Some(
      "WITH " + fullTilesSql(PyPxSql, "CAST(user_id AS BIGINT) AS v") + ", " +
        "p0 AS (SELECT p.tile, py, px, v FROM px p JOIN full_t USING (tile) WHERE t = 0), " +
        "offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) AS o(dy, dx)), " +
        "nb AS (SELECT o.tile, o.py, o.px, n.v FROM p0 o CROSS JOIN offs f " +
        "JOIN p0 n ON n.tile = o.tile AND n.py = o.py + f.dy AND n.px = o.px + f.dx " +
        "WHERE o.py BETWEEN 1 AND 14 AND o.px BETWEEN 1 AND 14), " +
        "g AS (SELECT tile, py, px, MAX(v) - MIN(v) AS grad FROM nb GROUP BY tile, py, px) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(grad) AS BIGINT) AS sum_grad, CAST(MAX(grad) AS BIGINT) AS max_grad, " +
        "CAST(SUM(grad * ((py - 1) * 14 + (px - 1) + 1)) AS BIGINT) AS checksum " +
        "FROM g GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val grad = graft.raster.RasterGrid.morphGradient3x3(
          t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16)
        unpackTiles(grad, pos = "opos", v = "g")
          .groupBy("tile")
          .agg(count(lit(1)).as("n"),
            sum(col("g").cast("long")).as("sum_grad"),
            max(col("g").cast("long")).as("max_grad"),
            sum(col("g").cast("long") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Zonal cross-tabulation (round 9, seventh wave) — the accuracy-
    // assessment / land-cover-transition CONTINGENCY table (zone ×
    // class counts with row shares) that every classified-map validation
    // starts from: zones from the spatial key, classes from the same
    // threshold rule eo_decision_tree grades, counted in one hash
    // aggregate with the zone totals broadcast back for the share
    // divide. Exact counts; shares one IEEE divide on the s6 grid.
    Q("eo_crosstab", Some(
      "WITH b AS (SELECT user_id % 8 AS zone, " +
        "CASE WHEN value < 200 THEN 'low' WHEN value < 600 THEN 'mid' ELSE 'high' END AS cls " +
        "FROM events), " +
        "c AS (SELECT zone, cls, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY zone, cls), " +
        "t AS (SELECT zone, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY zone) " +
        "SELECT c.zone, c.cls, c.n, " +
        sqlS6("CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)") + " AS share6 " +
        "FROM c JOIN t ON t.zone = c.zone ORDER BY c.zone, c.cls"),
      (s, d) => {
        val c = T.events(s, d)
          .select((col("user_id") % 8).as("zone"),
            when(col("value") < 200, "low").when(col("value") < 600, "mid")
              .otherwise("high").as("cls"))
          .groupBy("zone", "cls").agg(count(lit(1)).as("n"))
        val t = c.groupBy("zone").agg(sum("n").as("tot"))
        c.join(broadcast(t), "zone")
          .select(col("zone"), col("cls"), col("n"),
            s6(col("n").cast("double") / col("tot").cast("double")).as("share6"))
          .orderBy("zone", "cls")
      }),

    // Otsu automatic thresholding (round 9, seventh wave; REVISED round
    // 10) — the histogram-based threshold selection (Otsu 1979) behind
    // every unsupervised water/cloud/shadow mask: per tile, the 16-bin
    // DN histogram (the eo_tile_histogram binning) is scanned for the
    // cut maximizing between-class variance. The argmax stays EXACT and
    // since round 10 ALL-INTEGER: the score ω₀ω₁(μ₀−μ₁)² is monotone in
    // (s₀c₁ − s₁c₀)²/(c₀c₁); the graded/ranked form is the 1e4-scaled
    // integer quotient num²·10⁴ div (c₀·c₁) — num ≤ 3840·256 keeps
    // num²·10⁴ < 2⁶³, the operands are non-negative so floor- and
    // truncating integer division agree on every engine build (r9's
    // driver-red ranked on the DOUBLE ratio and s6-floored it; the
    // driver's libm-adjacent double pipeline disagreed by an ulp).
    // Ties rank to the smaller cut. Everything after the per-tile
    // histogram partial agg is (tile × 16)-sized.
    Q("eo_tile_otsu", Some {
      val num = "(s0 * c1 - s1 * c0)"
      val score = s"(($num * $num * 10000) // (c0 * c1))"
      "WITH " + fullTilesSql("", "CAST(user_id AS BIGINT) AS v") + ", " +
        "h AS (" + tileBinsSql("CAST(COUNT(*) AS BIGINT) AS n, " +
          "CAST(SUM(LEAST(p.v // 32, 15)) AS BIGINT) AS sv") + "), " +
        "c AS (SELECT tile, bin, " +
        "SUM(n) OVER (PARTITION BY tile ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0, " +
        "SUM(sv) OVER (PARTITION BY tile ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0, " +
        "SUM(n) OVER (PARTITION BY tile) AS ct, SUM(sv) OVER (PARTITION BY tile) AS st FROM h), " +
        "k AS (SELECT tile, bin, c0, ct - c0 AS c1, s0, st - s0 AS s1 FROM c " +
        "WHERE c0 > 0 AND ct - c0 > 0), " +
        "r AS (SELECT tile, bin, c0, c1, CAST(" + score + " AS BIGINT) AS score, " +
        s"ROW_NUMBER() OVER (PARTITION BY tile ORDER BY $score DESC, bin) AS rn FROM k) " +
        "SELECT tile, bin AS cut_bin, CAST(c0 AS BIGINT) AS n_below, CAST(c1 AS BIGINT) AS n_above, " +
        "score AS sep4 FROM r WHERE rn = 1 ORDER BY tile"
    },
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = tileBins(s, d)
          .agg(count(lit(1)).as("n"),
            sum(least(expr("v div 32"), lit(15L))).as("sv"))
        val wCum = Window.partitionBy("tile").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy("tile")
        val c = h.select(col("tile"), col("bin"),
          sum("n").over(wCum).as("c0"), sum("sv").over(wCum).as("s0"),
          sum("n").over(wAll).as("ct"), sum("sv").over(wAll).as("st"))
        val k = c.select(col("tile"), col("bin"), col("c0"),
            (col("ct") - col("c0")).as("c1"), col("s0"),
            (col("st") - col("s0")).as("s1"))
          .where(col("c0") > 0 && col("c1") > 0)
        // num ≤ 3840·256 ⇒ num²·10⁴ ≤ ~9.7e15 < 2⁶³; operands non-negative
        // so div == floor division — exact int64 on both engines
        val score = expr("(num * num * 10000L) div (c0 * c1)")
        val kn = k.withColumn("num",
          col("s0") * col("c1") - col("s1") * col("c0"))
          .withColumn("score", score)
        val wPick = Window.partitionBy("tile")
          .orderBy(col("score").desc, col("bin"))
        kn.withColumn("rn", row_number().over(wPick))
          .where(col("rn") === 1)
          .select(col("tile"), col("bin").as("cut_bin"), col("c0").as("n_below"),
            col("c1").as("n_above"), col("score").as("sep4"))
          .orderBy("tile")
      }),

    // Change vector analysis (round 9, seventh wave) — the classic
    // two-band bi-temporal change detector (Malila 1980): per pixel,
    // the change vector (Δb₁, Δb₂) between epochs t=0 and t=1 yields a
    // MAGNITUDE (squared, exact int64 — the √ stays out of the graded
    // surface per the Det trig/ulp rule) and a DIRECTION quadrant
    // (brightening/greening combinations), the pair analysts threshold
    // into change classes. Bands derive from the event payload (b1 =
    // user_id, b2 = cents); one (tile, pos) self-join aligns the two
    // epochs — equi, never cartesian — and the rollup is tile-sized:
    // per (tile, quadrant) counts, summed squared magnitude, and a
    // position checksum pinning every pixel's classification.
    Q("eo_cva", Some(
      "WITH " + fullTilesSql(PosSql,
        "CAST(user_id AS BIGINT) AS b1, " + sqlS2("value") + " AS b2") + ", " +
        "p0 AS (SELECT p.tile, pos, b1, b2 FROM px p JOIN full_t USING (tile) WHERE t = 0), " +
        "p1 AS (SELECT p.tile, pos, b1, b2 FROM px p JOIN full_t USING (tile) WHERE t = 1), " +
        "cv AS (SELECT p0.tile, p0.pos, p1.b1 - p0.b1 AS d1, p1.b2 - p0.b2 AS d2 " +
        "FROM p0 JOIN p1 ON p1.tile = p0.tile AND p1.pos = p0.pos), " +
        "cls AS (SELECT tile, pos, d1 * d1 + d2 * d2 AS mag2, " +
        "CAST(CASE WHEN d1 >= 0 AND d2 >= 0 THEN 0 WHEN d1 < 0 AND d2 >= 0 THEN 1 " +
        "WHEN d1 < 0 AND d2 < 0 THEN 2 ELSE 3 END AS BIGINT) AS quadrant FROM cv) " +
        "SELECT tile, quadrant, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(mag2) AS BIGINT) AS sum_mag2, " +
        "CAST(SUM(pos + 1) AS BIGINT) AS checksum " +
        "FROM cls GROUP BY tile, quadrant ORDER BY tile, quadrant"),
      (s, d) => {
        val px = eventPixels(s, d, tilePos,
          col("user_id").as("b1"), s2(col("value")).as("b2"))
        def epoch(t: Int) = onFullTiles(px, col("t") === t)
          .select(col("tile"), col("pos"), col("b1"), col("b2"))
        val p1 = epoch(1).select(col("tile"), col("pos"),
          col("b1").as("b1b"), col("b2").as("b2b"))
        val cv = epoch(0).join(p1, Seq("tile", "pos"))
          .select(col("tile"), col("pos"),
            (col("b1b") - col("b1")).as("d1"), (col("b2b") - col("b2")).as("d2"))
        cv.select(col("tile"), col("pos"),
            (col("d1") * col("d1") + col("d2") * col("d2")).as("mag2"),
            when(col("d1") >= 0 && col("d2") >= 0, 0L)
              .when(col("d1") < 0 && col("d2") >= 0, 1L)
              .when(col("d1") < 0 && col("d2") < 0, 2L).otherwise(3L).as("quadrant"))
          .groupBy("tile", "quadrant")
          .agg(count(lit(1)).as("n"), sum("mag2").as("sum_mag2"),
            sum(col("pos") + 1).as("checksum"))
          .orderBy("tile", "quadrant")
      }),

    // D8 flow ACCUMULATION (round 9, seventh wave) — gdaldem's
    // contributing-area product, the step after eo_tile_d8 that turns
    // directions into drainage: acc(v) = 1 + Σ acc(u) over the cells
    // draining into v. Steepest DESCENT makes the flow graph acyclic, and
    // on a random field the longest monotone path is short (measured ≤ 7
    // at both graded SFs), so K=10 relaxation rounds reach the fixpoint
    // with headroom — Round9eOpsSpec pins round K+1 changes nothing, the
    // graph_bfs/CcRounds contract. Each round is one equi join on the
    // (tile, ty, tx) flow key + one partial agg, localCheckpoint'd;
    // flows into the tile's boundary ring exit the graded interior, the
    // same halo caveat as every focal key. The oracle shares eo_tile_d8's
    // pick chain (d8PickSql).
    Q("eo_tile_flow_acc", Some(
      d8PickSql(D8P0Sql) + flowAccSql +
        s" SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_cells, " +
        "CAST(MAX(acc) AS BIGINT) AS max_acc, CAST(SUM(acc) AS BIGINT) AS sum_acc, " +
        "CAST(SUM(acc * (py * 16 + px + 1)) AS BIGINT) AS checksum " +
        s"FROM a$FlowAccRounds GROUP BY tile ORDER BY tile"),
      (s, d) => {
        // rollup stays inside the packed array — no second shuffle; the
        // boundary ring carries acc = 0 and drops out of every statistic
        val idx = sequence(lit(0), lit(255))
        flowAccPacked(s, d, FlowAccRounds)
          .select(col("tile"),
            aggregate(col("acc"), lit(0L),
              (s0, x) => s0 + when(x > 0, 1L).otherwise(0L)).as("n_cells"),
            array_max(col("acc")).as("max_acc"),
            aggregate(col("acc"), lit(0L), (s0, x) => s0 + x).as("sum_acc"),
            aggregate(idx, lit(0L), (s0, p) => s0 +
              element_at(col("acc"), p + 1) * (p + 1).cast("long"))
              .as("checksum"))
          .orderBy("tile")
      }),

    // Watershed basin labeling (round 12) — the catchment-delineation
    // product beside eo_tile_flow_acc [PK GDAL/WhiteboxTools watershed;
    // the D8 basin partition of O'Callaghan & Mark 1984]: every interior
    // pixel is labeled with the TERMINAL cell its steepest-descent flow
    // path reaches (a pit, or the last interior cell before flow exits
    // the graded window), so each basin is exactly one terminal's
    // catchment. The Spark side resolves roots by POINTER DOUBLING over
    // the shared packed flow array — ptr ← ptr[ptr[·]], J=8 doublings
    // resolve chains up to 2^8 = 256 > the 196-cell interior, so root
    // resolution is EXACT, not a convergence assumption — one
    // aggregation Exchange total (the d8FlowPacked shuffle) plus J
    // map-only projections. The oracle runs the identical doubling as J
    // MATERIALIZED self-join rounds over (tile, pos, ptr). Graded per
    // (tile, basin): member count and the order-free Σ(pos+1) checksum.
    // At archive scale basins never cross tiles (the halo contract), so
    // the labeling is embarrassingly parallel in tiles.
    Q("eo_tile_watershed", Some {
      val rounds = (1 to WatershedDoublings).map { k =>
        s"r$k AS MATERIALIZED (SELECT a.tile, a.pos, b.ptr " +
          s"FROM r${k - 1} a JOIN r${k - 1} b ON b.tile = a.tile AND b.pos = a.ptr)"
      }.mkString(", ")
      d8PickSql(D8P0Sql) +
        // ptr0: the flow target when it stays interior, else self (root)
        s"r0 AS MATERIALIZED (SELECT tile, py * 16 + px AS pos, " +
        s"CASE WHEN best > 0 AND py + ($DirDySql) BETWEEN 1 AND 14 " +
        s"AND px + ($DirDxSql) BETWEEN 1 AND 14 " +
        s"THEN (py + ($DirDySql)) * 16 + px + ($DirDxSql) ELSE py * 16 + px END AS ptr " +
        "FROM pick), " +
        rounds +
        s" SELECT tile, CAST(ptr AS BIGINT) AS basin, " +
        "CAST(COUNT(*) AS BIGINT) AS n_cells, " +
        "CAST(SUM(pos + 1) AS BIGINT) AS cksum " +
        s"FROM r$WatershedDoublings GROUP BY tile, basin ORDER BY tile, basin"
    },
      (s, d) =>
        watershedBasins(s, d, WatershedDoublings)
          .groupBy(col("tile"), col("basin").cast("long").as("basin"))
          .agg(count(lit(1)).as("n_cells"),
            sum((col("pos") + 1).cast("long")).as("cksum"))
          .orderBy("tile", "basin")),

    // Topographic Wetness Index (round 12) — Beven & Kirkby 1979's
    // ln(a / tan β), THE terrain composite that fuses two already-graded
    // primitives: upslope contributing area a = the D8 flow
    // accumulation (eo_tile_flow_acc's packed relaxation, zarr carried
    // through) and local slope tan β from the central-difference
    // gradient (eo_tile_gradient's stencil). ln is the PORTABLE lnInt
    // (Det round-10 transcendental discipline — no libm reaches the
    // graded integer): twi = lnInt(acc) − 0.5·lnInt(max(gx²+gy², 1)),
    // a fixed IEEE op sequence over exact longs, then s6. Everything
    // after the one flow-acc aggregation Exchange is map-only array
    // projection — the full two-product composite costs ONE shuffle.
    // Graded per interior pixel (tile, pos, acc, twi6): flat cells ride
    // the max(·,1) guard identically on both engines.
    Q("eo_twi", Some(
      d8PickSql("p0 AS MATERIALIZED (SELECT p.tile, py, px, z " +
        "FROM px p JOIN full_t USING (tile) WHERE t = 0)") + flowAccSql + ", " +
        "gr AS (SELECT o.tile, o.py, o.px, ea.z - we.z AS gx, so.z - no.z AS gy " +
        "FROM p0 o " +
        "JOIN p0 ea ON ea.tile = o.tile AND ea.py = o.py AND ea.px = o.px + 1 " +
        "JOIN p0 we ON we.tile = o.tile AND we.py = o.py AND we.px = o.px - 1 " +
        "JOIN p0 so ON so.tile = o.tile AND so.py = o.py + 1 AND so.px = o.px " +
        "JOIN p0 no ON no.tile = o.tile AND no.py = o.py - 1 AND no.px = o.px " +
        "WHERE o.py BETWEEN 1 AND 14 AND o.px BETWEEN 1 AND 14) " +
        s"SELECT a.tile, CAST(a.py * 16 + a.px AS BIGINT) AS pos, CAST(a.acc AS BIGINT) AS acc, " +
        sqlS6("(" + Det.sqlLnInt("a.acc") + " - 0.5 * " +
          Det.sqlLnInt("GREATEST(g.gx * g.gx + g.gy * g.gy, 1)") + ")") + " AS twi6 " +
        s"FROM a$FlowAccRounds a JOIN gr g ON g.tile = a.tile AND g.py = a.py AND g.px = a.px " +
        "ORDER BY a.tile, pos"),
      (s, d) => {
        val idx = sequence(lit(0), lit(255))
        def z(arr: Column, p: Column, off: Int) = element_at(arr, p + lit(off) + 1)
        // the packed stage only GATHERS (acc, g2) per pixel; the portable
        // lnInt expression (a ~40-op IEEE sequence) is applied per
        // EXPLODED ROW where it codegens, not 256× inside an interpreted
        // array transform (measured 3.6 → ~1 s at sf0.1)
        val inArr = transform(idx, p => {
          val gx = z(col("zarr"), p, 1) - z(col("zarr"), p, -1)
          val gy = z(col("zarr"), p, 16) - z(col("zarr"), p, -16)
          when(interior(p),
            struct(element_at(col("acc"), p + 1).as("a"),
              greatest(gx * gx + gy * gy, lit(1L)).as("g2")))
            .otherwise(lit(null))
        })
        flowAccPacked(s, d, FlowAccRounds)
          .select(col("tile"), posexplode(inArr).as(Seq("pos", "pz")))
          .where(col("pz").isNotNull)
          .select(col("tile"), col("pos").cast("long").as("pos"),
            col("pz.a").as("acc"),
            s6(lnInt(col("pz.a")) - lit(0.5) * lnInt(col("pz.g2"))).as("twi6"))
          .orderBy("tile", "pos")
      }),

    // Percentile contrast stretch (round 9, fifth wave) — the p2/p98
    // display normalization every RGB quicklook/browse-image pipeline
    // applies (GDAL translate -scale, QGIS cumulative-cut): per tile,
    // clip to the 2nd/98th percentile and rescale to 0..255. Percentile
    // picks are NEAREST-RANK-LOWER integer index math (the
    // eo_composite_percentile rule — no interpolation, no Det rule-4
    // argument needed); the rescale is one shared IEEE multiply/divide
    // floored back to ints, clamped identically. Ranks ride a per-tile
    // window over the FIXED 256-pixel tiles; one shuffle on the tile key.
    Q("eo_tile_stretch", Some(
      "WITH " + fullTilesSql("((event_id // 4) % 256) AS pos, ", "CAST(user_id AS BIGINT) AS v") +
        ", p0 AS (SELECT p.tile, pos, v FROM px p JOIN full_t USING (tile) WHERE t = 0), " +
        "r AS (SELECT tile, pos, v, ROW_NUMBER() OVER (PARTITION BY tile ORDER BY v, pos) AS rn, " +
        "COUNT(*) OVER (PARTITION BY tile) AS n FROM p0), " +
        "b AS (SELECT tile, " +
        "CAST(MIN(CASE WHEN rn = ((n - 1) * 2) // 100 + 1 THEN v END) AS BIGINT) AS lo, " +
        "CAST(MIN(CASE WHEN rn = ((n - 1) * 98) // 100 + 1 THEN v END) AS BIGINT) AS hi " +
        "FROM r GROUP BY tile), " +
        "st AS (SELECT p0.tile, p0.pos, CASE WHEN b.hi <= b.lo THEN 0 ELSE " +
        "LEAST(255, GREATEST(0, CAST(FLOOR(CAST(p0.v - b.lo AS DOUBLE) * 255.0 / " +
        "CAST(b.hi - b.lo AS DOUBLE) + 0.5) AS BIGINT))) END AS sv " +
        "FROM p0 JOIN b ON b.tile = p0.tile) " +
        "SELECT st.tile, b.lo, b.hi, CAST(SUM(sv) AS BIGINT) AS sum_sv, " +
        "CAST(SUM(sv * (pos + 1)) AS BIGINT) AS checksum " +
        "FROM st JOIN b ON b.tile = st.tile GROUP BY st.tile, b.lo, b.hi ORDER BY st.tile"),
      (s, d) => {
        val p0 = onFullTiles(eventPixels(s, d, tilePos, col("user_id").as("v")),
            col("t") === 0)
          .select("tile", "pos", "v")
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val wT = Window.partitionBy("tile")
        val r = p0.withColumn("rn", row_number().over(wT.orderBy(col("v"), col("pos"))))
          .withColumn("n", count(lit(1)).over(wT))
        val b = r.groupBy("tile").agg(
          min(when(col("rn") === expr("((n - 1) * 2) div 100 + 1"), col("v"))).as("lo"),
          min(when(col("rn") === expr("((n - 1) * 98) div 100 + 1"), col("v"))).as("hi"))
        val sv = when(col("hi") <= col("lo"), 0L).otherwise(
          least(lit(255L), greatest(lit(0L),
            floor((col("v") - col("lo")).cast("double") * lit(255.0) /
              (col("hi") - col("lo")).cast("double") + lit(0.5)).cast("long"))))
        p0.join(broadcast(b), "tile")
          .select(col("tile"), col("pos"), col("lo"), col("hi"), sv.as("sv"))
          .groupBy("tile", "lo", "hi")
          .agg(sum(col("sv")).as("sum_sv"),
            sum(col("sv") * (col("pos") + 1)).as("checksum"))
          .select("tile", "lo", "hi", "sum_sv", "checksum")
          .orderBy("tile")
      }),

    // Seasonal composite (round 9, fifth wave) — the calendar-grouped
    // reduction of every ODC stats config (weekly/monthly medians
    // instead of whole-archive ones): per (pixel group, ISO week —
    // chosen because the graded corpus spans one calendar month),
    // the EXACT median on the doubled-integer grid (odd count = 2·mid,
    // even = mid1+mid2 — the win_movmedian rule, so no interpolation
    // double ever surfaces). month() is UTC on both engines. One
    // shuffle on the (pixel, month) key; partitions stay
    // observations-per-pixel-per-week-bounded at any archive size.
    Q("eo_composite_seasonal", Some(
      "WITH b AS (SELECT user_id, EXTRACT(WEEK FROM ts) AS m, " + sqlS6("value") + " AS v6 " +
        "FROM events) " +
        "SELECT user_id, CAST(m AS INTEGER) AS week, CAST(COUNT(*) AS BIGINT) AS n_obs, " +
        "CAST(MEDIAN(v6) * 2 AS BIGINT) AS med2 " +
        "FROM b GROUP BY user_id, m ORDER BY user_id, week"),
      (s, d) => {
        val srt = T.events(s, d)
          .select(col("user_id"), weekofyear(col("ts")).as("week"), s6(col("value")).as("v6"))
          .groupBy("user_id", "week")
          .agg(count(lit(1)).as("n_obs"),
            sort_array(collect_list(col("v6"))).as("vs"))
        srt.select(col("user_id"), col("week"), col("n_obs"),
            expr("CASE WHEN size(vs) % 2 = 1 THEN element_at(vs, CAST((size(vs) + 1) DIV 2 AS INT)) * 2 " +
              "ELSE element_at(vs, CAST(size(vs) DIV 2 AS INT)) + " +
              "element_at(vs, CAST(size(vs) DIV 2 + 1 AS INT)) END").as("med2"))
          .orderBy("user_id", "week")
      }),

    // Max-NDVI mosaic: per pixel-group, keep the observation with the
    // highest index value (the reference's max-NDVI composite product) —
    // argmax via window, ties broken by event_id.
    Q("eo_composite_maxndvi", Some(
      "SELECT user_id, event_id, " + sqlS6("value") + " AS best_val FROM (" +
        "SELECT user_id, event_id, value, ROW_NUMBER() OVER (" +
        "PARTITION BY user_id ORDER BY value DESC, event_id) AS rn FROM events) x " +
        "WHERE rn = 1 ORDER BY user_id"),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
        T.events(s, d)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("event_id"), s6(col("value")).as("best_val"))
          .orderBy("user_id")
      }),

    // Water-permanency statistics (WOfS summary product): per pixel-group,
    // the share of observations classified wet, over all clear obs.
    Q("eo_water_permanency", Some(
      "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs, " +
        "CAST(SUM(CASE WHEN value > 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_wet, " +
        sqlS6("CAST(SUM(CASE WHEN value > 250 THEN 1 ELSE 0 END) AS DOUBLE) " +
          "/ CAST(COUNT(*) AS DOUBLE)") + " AS pct_wet " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
      (s, d) =>
        T.events(s, d)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_obs"),
            sum(when(col("value") > 250, 1).otherwise(0)).cast("bigint").as("n_wet"),
            s6(sum(when(col("value") > 250, 1).otherwise(0)).cast("double")
              / count(lit(1)).cast("double")).as("pct_wet"))
          .orderBy("user_id")),

    // Per-pixel phenology metrics (round 9, second wave) — the NDVI
    // seasonal-curve statistics of a vegetation-condition product: peak
    // value, time of peak, clear observations above the green threshold,
    // and the season extent (first/last threshold crossing). Time-of-peak
    // ties break to the EARLIEST observation deterministically: the
    // per-pixel max is spread by an unbounded window (one shuffle + sort
    // on the pixel key; the following aggregate reuses the exchange) and
    // t_peak is MIN(ts) over the rows equal to it — never max_by, whose
    // tie pick is implementation-defined on both engines. Doubles are
    // only compared (parquet values, bit-identical), never aggregated;
    // every output is an exact long (s2 peak, epoch seconds).
    Q("eo_phenology", Some(
      "WITH w AS (SELECT user_id, ts, value, MAX(value) OVER (PARTITION BY user_id) AS mx FROM events) " +
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs, " +
        sqlS2("MAX(value)") + " AS peak_c, " +
        "CAST(MIN(CASE WHEN value = mx THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS BIGINT) AS t_peak, " +
        "CAST(SUM(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_above, " +
        "CAST(MIN(CASE WHEN value > 200 THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS BIGINT) AS first_above, " +
        "CAST(MAX(CASE WHEN value > 200 THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS BIGINT) AS last_above, " +
        "CAST(MAX(CASE WHEN value > 200 THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) - " +
        "MIN(CASE WHEN value > 200 THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS BIGINT) AS season_len " +
        "FROM w GROUP BY user_id ORDER BY user_id"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val mx = max(col("value")).over(Window.partitionBy("user_id"))
        val es = epochS(col("ts"))
        T.events(s, d)
          .select(col("user_id"), col("value"), es.as("es"), mx.as("mx"))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_obs"),
            s2(max(col("value"))).as("peak_c"),
            min(when(col("value") === col("mx"), col("es"))).as("t_peak"),
            sum(when(col("value") > 200, 1).otherwise(0)).cast("bigint").as("n_above"),
            min(when(col("value") > 200, col("es"))).as("first_above"),
            max(when(col("value") > 200, col("es"))).as("last_above"))
          .withColumn("season_len", col("last_above") - col("first_above"))
          .orderBy("user_id")
      }),

    // Revisit-cadence statistics (round 9, second wave) — the
    // acquisition-planning diagnostic of any observation archive: per
    // pixel, the min/max/mean gap between consecutive observations.
    // LAG orders by the bare timestamp: tied timestamps pick an
    // arbitrary neighbor, but the MULTISET of consecutive diffs over a
    // sorted sequence is tie-permutation-invariant, so the min/max/sum
    // aggregates are engine-exact without a tie-break column (the
    // agg_gini argument). Gaps are exact epoch-second longs; the mean
    // is one floored scaled divide. One shuffle on the pixel key.
    Q("eo_cadence", Some(
      "WITH g AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t FROM events), " +
        "l AS (SELECT user_id, t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) AS gap FROM g) " +
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps, " +
        "CAST(MIN(gap) AS BIGINT) AS gap_min, CAST(MAX(gap) AS BIGINT) AS gap_max, " +
        "CAST(FLOOR(CAST(SUM(gap) AS DOUBLE) * 1e6 / COUNT(*) + 0.5) AS BIGINT) AS gap_mean6 " +
        "FROM l WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("t")
        T.events(s, d)
          .select(col("user_id"), epochS(col("ts")).as("t"))
          .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
          .where(col("gap").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            min(col("gap")).as("gap_min"), max(col("gap")).as("gap_max"),
            floor(sum(col("gap")).cast("double") * lit(1e6) / count(lit(1)) + lit(0.5))
              .cast("long").as("gap_mean6"))
          .orderBy("user_id")
      }),

    // Two-endmember linear unmixing (fractional-cover product family):
    // closed-form fraction clamp((x - e0) / (e1 - e0), 0, 1).
    Q("eo_unmix", Some(
      "SELECT event_id, " +
        sqlS6("LEAST(GREATEST((value - 50.0) / (400.0 - 50.0), 0.0), 1.0)") +
        " AS veg_fraction FROM events ORDER BY event_id"),
      (s, d) =>
        T.events(s, d)
          .select(col("event_id"),
            s6(least(greatest((col("value") - 50.0) / (400.0 - 50.0), lit(0.0)), lit(1.0)))
              .as("veg_fraction"))
          .orderBy("event_id")),

    // THREE-endmember constrained unmix (round 12, VERDICT r11 item 4) —
    // the real fractional-cover shape (veg/soil/water per pixel, the
    // FC-family product [PK]): with two bands plus the sum-to-one
    // constraint, three endmembers are EXACTLY determined — the pixel's
    // barycentric coordinates in the band-space triangle, solved in
    // closed form by the 2×2 Cramer rule with every endmember coordinate
    // a shared decimal literal — E1 = (10, −5), E2 = (330, −5),
    // E3 = (170, 520) in (value, user_id mod 512) band space, chosen so
    // BOTH lanes fire at both graded SFs (measured inside counts:
    // 767/1000 at sf0.001, 5194/10000 at sf0.01); det = 168000. Pixels
    // outside the triangle (inside = all fᵢ ≥ 0, graded as its own
    // column so both lanes are pinned) get the standard non-negativity
    // CLAMP + renormalize: cᵢ = max(fᵢ, 0), fᵢ' = cᵢ/Σc — Σc > 0 always
    // since Σfᵢ = 1. Every operation is a fixed IEEE sequence over the
    // stored doubles and literals (Det rule 2), so the s6 outputs
    // hash-match. Map-only over the scan at any scale; the endmember
    // matrix broadcasts trivially (it is literals).
    Q("eo_unmix3", Some {
      val b1 = "value"; val b2 = "CAST(user_id % 512 AS DOUBLE)"
      val f1 = s"((($b1) - 170.0) * -525.0 - 160.0 * (($b2) - 520.0)) / 168000.0"
      val f2 = s"(-160.0 * (($b2) - 520.0) + (($b1) - 170.0) * 525.0) / 168000.0"
      "WITH f AS (SELECT event_id, " +
        s"$f1 AS f1, $f2 AS f2, 1.0 - ($f1) - ($f2) AS f3 FROM events), " +
        "c AS (SELECT event_id, " +
        "CASE WHEN f1 >= 0.0 AND f2 >= 0.0 AND f3 >= 0.0 THEN 1 ELSE 0 END AS inside, " +
        "GREATEST(f1, 0.0) AS c1, GREATEST(f2, 0.0) AS c2, GREATEST(f3, 0.0) AS c3 FROM f) " +
        "SELECT event_id, CAST(inside AS BIGINT) AS inside, " +
        sqlS6("c1 / (c1 + c2 + c3)") + " AS frac1, " +
        sqlS6("c2 / (c1 + c2 + c3)") + " AS frac2, " +
        sqlS6("c3 / (c1 + c2 + c3)") + " AS frac3 " +
        "FROM c ORDER BY event_id"
    },
      (s, d) => {
        val b1 = col("value")
        val b2 = (col("user_id") % 512).cast("double")
        val f1 = ((b1 - 170.0) * -525.0 - lit(160.0) * (b2 - 520.0)) / 168000.0
        val f2 = (lit(-160.0) * (b2 - 520.0) + (b1 - 170.0) * 525.0) / 168000.0
        T.events(s, d)
          .select(col("event_id"), f1.as("f1"), f2.as("f2"),
            (lit(1.0) - f1 - f2).as("f3"))
          .select(col("event_id"),
            when(col("f1") >= 0.0 && col("f2") >= 0.0 && col("f3") >= 0.0, 1L)
              .otherwise(0L).as("inside"),
            greatest(col("f1"), lit(0.0)).as("c1"),
            greatest(col("f2"), lit(0.0)).as("c2"),
            greatest(col("f3"), lit(0.0)).as("c3"))
          .select(col("event_id"), col("inside"),
            s6(col("c1") / (col("c1") + col("c2") + col("c3"))).as("frac1"),
            s6(col("c2") / (col("c1") + col("c2") + col("c3"))).as("frac2"),
            s6(col("c3") / (col("c1") + col("c2") + col("c3"))).as("frac3"))
          .orderBy("event_id")
      }),

    // End-to-end product generation in ONE Catalyst plan — the reference's
    // per-product worker shape (SURVEY §1): QA-mask -> band math ->
    // temporal composite -> per-zone summary. No intermediate
    // materialization; the optimizer fuses mask+bandmath into the scan.
    // Yearly medians live on the half-integer 6-dp grid, so their sum (and
    // hence AVG) is exact in double space in any order (Det rule 3).
    Q("eo_product_pipeline", Some(
      "WITH masked AS (SELECT l_returnflag, YEAR(l_shipdate) AS y, " +
        sqlS6("(l_extendedprice - l_extendedprice * l_discount) / " +
          "(l_extendedprice + l_extendedprice * l_discount)") + " AS nd6 " +
        "FROM lineitem WHERE ((l_orderkey % 256) & 3) = 0), " +
        "composite AS (SELECT l_returnflag, y, QUANTILE_CONT(nd6, 0.5) AS med_nd, " +
        "CAST(COUNT(*) AS BIGINT) AS n_obs FROM masked GROUP BY l_returnflag, y) " +
        "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_years, " +
        "CAST(SUM(n_obs) AS BIGINT) AS n_obs, " +
        "CAST(FLOOR(AVG(med_nd) * 100 + 0.5) AS BIGINT) AS mean_yearly_median " +
        "FROM composite GROUP BY l_returnflag ORDER BY l_returnflag"),
      (s, d) => {
        val a = col("l_extendedprice")
        val b = col("l_extendedprice") * col("l_discount")
        T.lineitem(s, d)
          .where(((col("l_orderkey") % 256).bitwiseAND(3)) === 0)
          .select(col("l_returnflag"), year(col("l_shipdate")).as("y"),
            s6((a - b) / (a + b)).as("nd6"))
          .groupBy("l_returnflag", "y")
          .agg(percentile(col("nd6"), lit(0.5)).as("med_nd"), count(lit(1)).as("n_obs"))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_years"),
            sum(col("n_obs")).as("n_obs"),
            floor(avg(col("med_nd")) * 100 + 0.5).cast("long").as("mean_yearly_median"))
          .orderBy("l_returnflag")
      }),

    // The tile-array band-math path of RasterGrid, graded end-to-end: pixels
    // pack into FIXED-SIZE tiles (tile = event_id/1024 block, pos = id%1024
    // — tile size stays bounded at any corpus scale, tile COUNT grows, the
    // real raster layout), two bands align positionally, and NDVI runs as
    // zip_with array math exactly like RasterGrid.bandMath2. Every pixel
    // value is an exact stored double / integer length, so the per-pixel
    // ratio is bit-identical across engines and the s6 grid has no tie
    // risk. As close to "oracle-graded raster" as the fixture-less corpus
    // allows (VERDICT r03 missing #1; RasterPruningSpec covers the IO side).
    Q("eo_tile_bandmath", Some(
      "WITH px AS (SELECT event_id // 1024 AS tile, event_id % 1024 AS pos, " +
        "value AS red, CAST(LENGTH(props) AS DOUBLE) AS nir FROM events), " +
        "tiles AS (SELECT tile, LIST(red ORDER BY pos) AS red, LIST(nir ORDER BY pos) AS nir " +
        "FROM px GROUP BY tile), " +
        "nd AS (SELECT tile, LEN(red) AS n_px, LIST_TRANSFORM(RANGE(1, LEN(red) + 1), " +
        "i -> CASE WHEN nir[i] + red[i] <> 0 THEN (nir[i] - red[i]) / (nir[i] + red[i]) ELSE 0.0 END) AS ndvi FROM tiles), " +
        "s AS (SELECT tile, n_px, LIST_SUM(LIST_TRANSFORM(ndvi, x -> CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT))) AS suml FROM nd) " +
        "SELECT tile, CAST(n_px AS BIGINT) AS n_px, " +
        "CAST(FLOOR(CAST(suml AS DOUBLE) / n_px + 0.5) AS BIGINT) AS mean_ndvi6 " +
        "FROM s ORDER BY tile"),
      (s, d) => {
        // integer division, not floor(double /): the oracle's `//` is exact
        // integer division at ANY id magnitude, while IEEE double division
        // loses exactness past 2^53 (ADVICE r5)
        val px = T.events(s, d).select(
          expr("event_id div 1024").as("tile"),
          (col("event_id") % 1024).as("pos"),
          col("value").as("red"),
          length(col("props")).cast("double").as("nir"))
        // per-tile packed bands: sort the pixel structs by pos (unique in a
        // tile), then project each band — the collect is bounded by the
        // fixed tile size, never by the corpus
        val tiles = px.groupBy("tile").agg(
          array_sort(collect_list(struct(col("pos"), col("red"), col("nir")))).as("pxs"))
          .select(col("tile"),
            transform(col("pxs"), e => e.getField("red")).as("red"),
            transform(col("pxs"), e => e.getField("nir")).as("nir"))
        val ndvi = zip_with(col("nir"), col("red"), (n, r) =>
          when(n + r =!= 0, (n - r) / (n + r)).otherwise(lit(0.0)))
        tiles
          .withColumn("suml", aggregate(
            transform(ndvi, x => floor(x * lit(1e6) + lit(0.5)).cast("long")),
            lit(0L), (acc, x) => acc + x))
          .select(col("tile"),
            size(col("red")).cast("long").as("n_px"),
            floor(col("suml").cast("double") / size(col("red")) + lit(0.5)).cast("long").as("mean_ndvi6"))
          .orderBy("tile")
      }),

    // ---- RasterGrid composite paths, graded end-to-end (VERDICT r5 #3):
    // the same fixture-less trick as eo_tile_bandmath, extended to a TIME
    // dimension. time lives in the LOW bits of event_id (t = id % 4), so
    // the contiguous id space gives every (tile, pos) a complete 4-deep
    // observation stack; pixel values are small-integer-derived (exact in
    // float32 AND float64), so RasterGrid's float tile math is
    // bit-identical to the DuckDB double brute force. These keys call the
    // ACTUAL raster/RasterGrid.scala functions — the library code a real
    // product pipeline runs — not reimplementations of them.

    // temporalMedianComposite (the reference's median mosaic [PK]): 4-deep
    // stack exercises the even-depth branch (mean of the two middles ==
    // DuckDB MEDIAN interpolation; both are exact on integer pixels). The
    // packed composite is then reduced to per-tile scalars on the exact
    // integer grid: doubled pixel sums (medians land on halves) plus a
    // position-weighted checksum that pins every pixel to its slot.
    Q("eo_tile_composite_median", Some(
      "WITH " + pxSql(PosSql, "CAST(user_id AS DOUBLE) AS v") + ", " +
        "med AS (SELECT tile, pos, MEDIAN(v) AS mv FROM px GROUP BY tile, pos) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(SUM(CAST(mv * 2 AS BIGINT)) AS BIGINT) AS sum2, " +
        "CAST(SUM(CAST(mv * 2 AS BIGINT) * (pos + 1)) AS BIGINT) AS checksum " +
        "FROM med GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val comp = graft.raster.RasterGrid.temporalMedianComposite(
          eventTiles(s, d, Seq("v" -> col("user_id"))))
        unpackTiles(comp)
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_px"),
            sum((col("v") * 2).cast("long")).as("sum2"),
            sum((col("v") * 2).cast("long") * (col("pos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // temporalArgmaxComposite (the max-NDVI mosaic shape [PK]): the value
    // band at the time where the score band peaks, earliest time on ties —
    // the oracle spells the same pick as ROW_NUMBER(score DESC, t ASC).
    Q("eo_tile_argmax", Some(
      "WITH " + pxSql(PosSql,
        "CAST(user_id AS DOUBLE) AS score, CAST(event_id % 1000 AS DOUBLE) AS v") + ", " +
        "pick AS (SELECT tile, pos, v FROM (SELECT tile, pos, v, " +
        "ROW_NUMBER() OVER (PARTITION BY tile, pos ORDER BY score DESC, t ASC) AS rn FROM px) WHERE rn = 1) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS sum_v, " +
        "CAST(SUM(CAST(v AS BIGINT) * (pos + 1)) AS BIGINT) AS checksum " +
        "FROM pick GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val comp = graft.raster.RasterGrid.temporalArgmaxComposite(
          eventTiles(s, d,
            Seq("score" -> col("user_id"), "v" -> (col("event_id") % 1000))),
          scoreBand = "score", dataBand = "v")
        unpackTiles(comp)
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_px"),
            sum(col("v").cast("long")).as("sum_v"),
            sum(col("v").cast("long") * (col("pos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // downsample (dc.load(resolution=...) within the tile grid): the
    // 256-pixel tiles are a 16x16 raster; factor-4 block means produce
    // 4x4 outputs. A block mean of 16 small integers is bs/16 — exactly
    // representable in float32 (dyadic) — so scaling by 16 recovers the
    // integer block sum bit-for-bit. Partial edge tiles (the id space
    // rarely ends on a 1024-event boundary) are excluded on BOTH sides:
    // downsample addresses pixels positionally and a short tile has no
    // defined 16x16 geometry. Graded on the t=0 scene slice — the
    // downsample path is time-independent, and the per-output inlined
    // block fold is interpreted higher-order eval (measured ~6 ms/row),
    // so the slice keeps the graded run eval-light without narrowing
    // coverage.
    Q("eo_tile_downsample", Some(
      "WITH " + fullTilesSql(PosSql, "CAST(user_id AS DOUBLE) AS v") + ", " +
        "blk AS (SELECT tile, t, ((pos // 16) // 4) * 4 + (pos % 16) // 4 AS opos, " +
        "SUM(CAST(v AS BIGINT)) AS bs FROM px JOIN full_t USING (tile) " +
        "WHERE t = 0 GROUP BY tile, t, opos) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(bs) AS BIGINT) AS sum16, " +
        "CAST(SUM(bs * (t * 16 + opos + 1)) AS BIGINT) AS checksum " +
        "FROM blk GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val ds = graft.raster.RasterGrid.downsample(
          t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16, factor = 4)
        ds.select(col("time"), tileId, posexplode(col("data")).as(Seq("opos", "v")))
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum((col("v") * 16).cast("long")).as("sum16"),
            sum((col("v") * 16).cast("long") * (col("time") * 16 + col("opos") + 1))
              .as("checksum"))
          .orderBy("tile")
      }),

    // Overview pyramid (VERDICT r7 #5 — the COG overview chain [PK]):
    // levels 1 (8x8) and 2 (4x4) from RasterGrid.pyramid, i.e. factor-2
    // block means applied iteratively. Level-k mean × 4^k recovers the
    // integer block sum exactly (the block sum stays far below 2^24, so
    // every intermediate bs/4^j is dyadic-exact in float32; RasterSpec
    // additionally pins level 2 == one factor-4 downsample bit-for-bit).
    // Same full-tile t=0 grading slice as eo_tile_downsample, same
    // reason: positional pixel math needs the defined 16x16 geometry and
    // the inlined block folds are interpreted higher-order eval.
    Q("eo_tile_pyramid", Some(
      "WITH " + fullTilesSql(PosSql, "CAST(user_id AS DOUBLE) AS v") + ", " +
        p0Sql("pos, v") + ", " +
        "l1 AS (SELECT 1 AS level, tile, ((pos // 16) // 2) * 8 + (pos % 16) // 2 AS opos, " +
        "SUM(CAST(v AS BIGINT)) AS bs FROM p0 GROUP BY tile, opos), " +
        "l2 AS (SELECT 2 AS level, tile, ((pos // 16) // 4) * 4 + (pos % 16) // 4 AS opos, " +
        "SUM(CAST(v AS BIGINT)) AS bs FROM p0 GROUP BY tile, opos), " +
        "lv AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2) " +
        "SELECT level, tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(bs) AS BIGINT) AS sum_px, " +
        "CAST(SUM(bs * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM lv GROUP BY level, tile ORDER BY level, tile"),
      (s, d) => {
        val pyr = graft.raster.RasterGrid.pyramid(
          t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16, levels = 2)
        pyr.where(col("level") >= 1)
          .select(col("level"), tileId, posexplode(col("data")).as(Seq("opos", "v")))
          .withColumn("bs", (col("v") * call_function("shiftleft", lit(1L),
            (col("level") * 2).cast("int")).cast("double")).cast("long"))
          .groupBy("level", "tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum(col("bs")).as("sum_px"),
            sum(col("bs") * (col("opos") + 1)).as("checksum"))
          .orderBy("level", "tile")
      }),

    // Categorical majority downsample (round 10, third wave) — GDAL's
    // resampling='mode' path, completing the resampling family next to
    // the mean (eo_tile_downsample/pyramid), bilinear (eo_tile_upsample)
    // and cubic (eo_tile_cubic) members: class rasters (land cover, QA
    // classes) must NEVER be averaged — each 2×2 block takes its most
    // frequent class, ties to the SMALLEST class id (the
    // eo_zonal_majority (count DESC, class ASC) rule — max_by's
    // implementation-defined tie pick never enters a graded surface).
    // Class band = user_id % 8 over the standard full event tiles.
    // Plan: one (tile, block, class) partial agg (map-side combine
    // collapses 256 pixels to ≤ 4·64 cells before any shuffle) + a
    // WindowGroupLimit rank pick + the per-tile output census — no
    // joins, no pixel shuffle. Graded on n_out and the position-weighted
    // class checksum, so one wrong block winner breaks the hash.
    Q("eo_tile_resample_majority", Some(
      "WITH " + fullTilesSql(PosSql, "CAST(user_id % 8 AS BIGINT) AS v") + ", " +
        p0Sql("pos, v") + ", " +
        "blk AS (SELECT tile, ((pos // 16) // 2) * 8 + (pos % 16) // 2 AS opos, v, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM p0 GROUP BY tile, opos, v), " +
        "pick AS (SELECT tile, opos, v FROM (SELECT *, ROW_NUMBER() OVER " +
        "(PARTITION BY tile, opos ORDER BY c DESC, v) AS rn FROM blk) r WHERE rn = 1) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(v) AS BIGINT) AS sum_cls, " +
        "CAST(SUM(v * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM pick GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val base = T.events(s, d)
          .withColumn("rest", expr("event_id div 4"))
          .where(col("event_id") % 4 === 0)
          .select(expr("rest div 256").as("tile"),
            (col("rest") % 256).cast("int").as("pos"),
            (col("user_id") % 8).as("v"))
        val full = base.groupBy("tile").agg(count(lit(1)).as("npx"))
          .where(col("npx") === 256).select("tile")
        val blk = base.join(broadcast(full), "tile")
          .groupBy(col("tile"),
            (((col("pos") / 16).cast("int") / 2).cast("int") * 8 +
              ((col("pos") % 16) / 2).cast("int")).as("opos"),
            col("v"))
          .agg(count(lit(1)).as("c"))
        val wPick = Window.partitionBy("tile", "opos")
          .orderBy(col("c").desc, col("v"))
        blk.withColumn("rn", row_number().over(wPick))
          .where(col("rn") === 1)
          .groupBy("tile")
          .agg(count(lit(1)).as("n_out"), sum(col("v")).as("sum_cls"),
            sum(col("v") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // COG overview selection (round 10, third wave) — the read-path
    // DECISION rasterio/GDAL make before any window read [PK: GDAL
    // overview selection picks the largest-decimation overview whose
    // factor does not exceed the requested one, so a read never
    // upsamples]: for each requested decimation factor f the law is
    // level = max{L ≤ maxLevel : 2^L ≤ f}, spelled as the SAME generated
    // CASE chain on both engines (no log2 call — the eo_geohash no-libm
    // discipline), and the graded row carries the level PLUS the full
    // pixel census of the pyramid level actually read (n_px, exact
    // 4^L-scaled sum, position-weighted checksum) — so choosing the
    // wrong overview OR reading it wrong breaks the hash. The factor
    // table is a broadcast literal; levels are the eo_tile_pyramid
    // machinery (RasterGrid.pyramid block means, v·4^L exact int64);
    // the per-level census is THREE rows joined to the factor table —
    // at archive scale the decision stays metadata-sized while the
    // census is the one scan of the chosen level.
    Q("eo_cog_overview_select", Some(
      "WITH " + fullTilesSql(PosSql, "CAST(user_id AS DOUBLE) AS v") + ", " +
        p0Sql("pos, v") + ", " +
        "l0 AS (SELECT 0 AS level, tile, pos AS opos, CAST(v AS BIGINT) AS bs FROM p0), " +
        "l1 AS (SELECT 1 AS level, tile, ((pos // 16) // 2) * 8 + (pos % 16) // 2 AS opos, " +
        "SUM(CAST(v AS BIGINT)) AS bs FROM p0 GROUP BY tile, opos), " +
        "l2 AS (SELECT 2 AS level, tile, ((pos // 16) // 4) * 4 + (pos % 16) // 4 AS opos, " +
        "SUM(CAST(v AS BIGINT)) AS bs FROM p0 GROUP BY tile, opos), " +
        "lv AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL SELECT * FROM l2), " +
        "census AS (SELECT level, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(SUM(bs) AS BIGINT) AS sum_px, " +
        "CAST(SUM(bs * (opos + 1)) AS BIGINT) AS checksum FROM lv GROUP BY level), " +
        "f AS (SELECT UNNEST([1, 2, 3, 4, 5, 8]) AS factor), " +
        "sel AS (SELECT factor, CAST(CASE WHEN factor >= 4 THEN 2 " +
        "WHEN factor >= 2 THEN 1 ELSE 0 END AS INT) AS level FROM f) " +
        "SELECT sel.factor, sel.level, c.n_px, c.sum_px, c.checksum " +
        "FROM sel JOIN census c ON c.level = sel.level ORDER BY sel.factor"),
      (s, d) => {
        val pyr = graft.raster.RasterGrid.pyramid(
          t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16, levels = 2)
        val census = pyr
          .select(col("level"),
            posexplode(col("data")).as(Seq("opos", "v")))
          .withColumn("bs", (col("v") * call_function("shiftleft", lit(1L),
            (col("level") * 2).cast("int")).cast("double")).cast("long"))
          .groupBy("level")
          .agg(count(lit(1)).as("n_px"), sum(col("bs")).as("sum_px"),
            sum(col("bs") * (col("opos") + 1)).as("checksum"))
        val factors = s.range(0, 6).select(
          element_at(typedLit(Seq(1, 2, 3, 4, 5, 8)), (col("id") + 1).cast("int"))
            .as("factor"))
        val sel = factors.select(col("factor"),
          when(col("factor") >= 4, 2).when(col("factor") >= 2, 1)
            .otherwise(0).cast("int").as("level"))
        sel.join(broadcast(census), "level")
          .select(col("factor"), col("level"), col("n_px"),
            col("sum_px"), col("checksum"))
          .orderBy("factor")
      }),

    // Halo-exchange focal composition (round 8) — the CROSS-TILE half of
    // the focal-stats story that eo_tile_focal's scaladoc promises
    // ("compose the halo exchange explicitly when borders matter"): each
    // tile receives its vertical neighbors' adjacent border rows (tiles
    // stack on tile_y; 2×16 floats per tile — the entire shuffle), is
    // padded to 18×16, and the SAME map-only focalSum3x3 then covers all
    // 16 of the tile's own rows, not just its 14-row interior. Only
    // tiles with BOTH neighbors present are emitted (global-interior
    // semantics). At 100 TB this is the real distributed-raster pattern:
    // a border-sliver shuffle (~2/h of the data) buys seam-free focal
    // output; the oracle ignores tiling entirely and joins on GLOBAL
    // pixel coordinates, so any seam error breaks the hash.
    Q("eo_tile_focal_halo", Some(
      "WITH " + fullTilesSql(PosSql, "CAST(user_id AS BIGINT) AS v") + ", " +
        "core AS (SELECT f.tile FROM full_t f JOIN full_t a ON a.tile = f.tile - 1 " +
        "JOIN full_t b ON b.tile = f.tile + 1), " +
        "pg AS (SELECT p.tile, p.tile * 16 + p.pos // 16 AS gy, p.pos % 16 AS gx, p.v " +
        "FROM px p JOIN full_t USING (tile) WHERE p.t = 0), " +
        "ctr AS (SELECT pg.tile, pg.gy, pg.gx FROM pg JOIN core USING (tile) " +
        "WHERE pg.gx BETWEEN 1 AND 14), " +
        "fs AS (SELECT o.tile, (o.gy - o.tile * 16) * 14 + o.gx - 1 AS opos, " +
        "CAST(SUM(nb.v) AS BIGINT) AS fsum FROM ctr o JOIN pg nb " +
        "ON nb.gy BETWEEN o.gy - 1 AND o.gy + 1 AND nb.gx BETWEEN o.gx - 1 AND o.gx + 1 " +
        "GROUP BY o.tile, opos) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(fsum) AS BIGINT) AS sum_fs, " +
        "CAST(SUM(fsum * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM fs GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val grid = t0Tiles(s, d, "v" -> col("user_id"))
        // the halo exchange: ship each tile's first/last row to the
        // neighbor that needs it (keyed re-partition of 16-float rows)
        val fromAbove = grid.select((col("tile_y") + 1).as("tile_y"),
          slice(col("data"), 241, 16).as("halo_top"))
        val fromBelow = grid.select((col("tile_y") - 1).as("tile_y"),
          slice(col("data"), 1, 16).as("halo_bot"))
        val padded = grid.join(fromAbove, "tile_y").join(fromBelow, "tile_y")
          .select(col("product"), col("band"), col("time"),
            col("tile_y"), col("tile_x"),
            concat(col("halo_top"), col("data"), col("halo_bot")).as("data"))
        val f = graft.raster.RasterGrid.focalSum3x3(padded, h = 18, w = 16)
        unpackTiles(f)
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum(col("v").cast("long")).as("sum_fs"),
            sum(col("v").cast("long") * (col("pos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Bilinear upsample (round 8) — the finer-than-stored resampling path
    // (dc.load resampling='bilinear' [PK rasterio/GDAL]): each 16×16 tile
    // doubles to 32×32 via RasterGrid.upsampleBilinear2x; even outputs
    // reproduce inputs exactly, odd outputs are 2-/4-neighbor means with
    // dyadic weights, so 4× every output is the exact integer 2×2-block
    // sum the oracle spells through four positional self-joins. Map-only
    // per tile (no shuffle); position-weighted checksum pins every output
    // pixel to its (oy, ox) slot, grading the clamp rows too.
    Q("eo_tile_upsample", Some(
      "WITH " + fullTilesSql(PosSql, "CAST(user_id AS DOUBLE) AS v") + ", " +
        p0Sql("pos, v") + ", " +
        "o AS (SELECT f.tile, t1.oy, t2.ox FROM full_t f, range(0,32) t1(oy), range(0,32) t2(ox)), " +
        "g AS (SELECT tile, oy, ox, oy//2 AS y0, ox//2 AS x0, " +
        "LEAST(oy//2 + oy%2, 15) AS y1, LEAST(ox//2 + ox%2, 15) AS x1 FROM o), " +
        "u AS (SELECT g.tile, g.oy, g.ox, (a.v + b.v + c.v + e.v) AS s4 FROM g " +
        "JOIN p0 a ON a.tile = g.tile AND a.pos = g.y0*16 + g.x0 " +
        "JOIN p0 b ON b.tile = g.tile AND b.pos = g.y0*16 + g.x1 " +
        "JOIN p0 c ON c.tile = g.tile AND c.pos = g.y1*16 + g.x0 " +
        "JOIN p0 e ON e.tile = g.tile AND e.pos = g.y1*16 + g.x1) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(CAST(s4 AS BIGINT)) AS BIGINT) AS sum4, " +
        "CAST(SUM(CAST(s4 AS BIGINT) * (oy*32 + ox + 1)) AS BIGINT) AS checksum " +
        "FROM u GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val up = graft.raster.RasterGrid.upsampleBilinear2x(
          t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16)
        unpackTiles(up, pos = "opos")
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum((col("v") * 4).cast("long")).as("sum4"),
            sum((col("v") * 4).cast("long") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Cubic-convolution upsample (round 9, seventh wave) — GDAL's
    // resampling='cubic' in its row-axis 2× form, the sharper sibling
    // eo_tile_upsample's bilinear key: odd samples take the Catmull-Rom
    // t=1/2 taps (−1, 9, 9, −1)/16 with edge clamp, even samples
    // reproduce the input. Runs as the native codegen'd TileUpCubicRows
    // stencil (map-only per tile); outputs stay SIXTEEN-SCALED exact
    // integers so float32 never leaves the integer grid and the oracle
    // spells the same integer taps via positional self-joins. RasterSpec
    // pins interpolation exactness on a known ramp.
    Q("eo_tile_cubic", Some(
      "WITH " + fullTilesSql(PyPxSql, "CAST(user_id AS BIGINT) AS v") + ", " +
        "p0 AS (SELECT p.tile, py, px, v FROM px p JOIN full_t USING (tile) WHERE t = 0), " +
        "o AS (SELECT tile, py, px, v, " +
        "GREATEST(px - 1, 0) AS xm, LEAST(px + 1, 15) AS xp, LEAST(px + 2, 15) AS xq FROM p0), " +
        "u AS (SELECT o.tile, o.py, o.px, 16 * o.v AS even_v, " +
        "-a.v + 9 * o.v + 9 * b.v - c.v AS odd_v FROM o " +
        "JOIN p0 a ON a.tile = o.tile AND a.py = o.py AND a.px = o.xm " +
        "JOIN p0 b ON b.tile = o.tile AND b.py = o.py AND b.px = o.xp " +
        "JOIN p0 c ON c.tile = o.tile AND c.py = o.py AND c.px = o.xq), " +
        "e AS (SELECT tile, py * 32 + 2 * px AS opos, even_v AS v FROM u " +
        "UNION ALL SELECT tile, py * 32 + 2 * px + 1, odd_v FROM u) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(v) AS BIGINT) AS sum16, " +
        "CAST(SUM(v * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM e GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val up = graft.raster.RasterGrid.upsampleCubic2xRows(
          t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16)
        unpackTiles(up, pos = "opos")
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum(col("v").cast("long")).as("sum16"),
            sum(col("v").cast("long") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Focal statistics (round 8) — the neighborhood-op class (GDAL focal
    // stats / xarray rolling [PK]): 3×3 unnormalized box sum over each
    // tile's 14×14 interior via RasterGrid.focalSum3x3, map-only per
    // tile. The halo problem is the scale design point: edge pixels need
    // neighbor-tile borders, so the primitive computes the interior and
    // the halo exchange composes explicitly (see focalSum3x3 scaladoc).
    // Same full-tile t=0 slice as the other positional tile keys; the
    // oracle spells the 9-neighbor sum as a bounded relational self-join.
    Q("eo_tile_focal", Some(
      gridSql("user_id", "v") + stencilSql("fs", "CAST(SUM(nb.v) AS BIGINT) AS fsum") +
        " SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(fsum) AS BIGINT) AS sum_fs, " +
        "CAST(SUM(fsum * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM fs GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val foc = graft.raster.RasterGrid.focalSum3x3(
          t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16)
        unpackTiles(foc, pos = "opos")
          .withColumn("fsum", col("v").cast("long"))
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum(col("fsum")).as("sum_fs"),
            sum(col("fsum") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Binary morphology — closing = dilate ∘ erode (round 9): the
    // cloud/shadow MASK CLEANUP step of every optical-EO pipeline
    // (fmask's buffered cloud masks, GDAL sieve/morphology [PK]): fill
    // pinholes in the detection mask without growing its support beyond
    // one dilation. Both halves ride the SAME native focal stencil as
    // eo_tile_focal (a 0/1 mask's 3×3 box sum is exact in float32):
    // dilate = fsum > 0, erode = fsum = 9 — so the whole operator is two
    // map-only array passes per tile, NO shuffle, and each pass shrinks
    // the interior by one ring (16² → 14² → 12²; compose the halo
    // exchange of eo_tile_focal_halo when seams matter). The oracle
    // spells both passes as bounded relational neighbor joins on global
    // pixel coordinates, so any off-by-one in either ring breaks the
    // hash. Mask = user_id parity (~half the pixels set — both
    // morphology directions exercised on every tile).
    Q("eo_tile_morph", Some(
      gridSql("user_id % 2", "m") +
        "dil AS (SELECT o.tile, o.py, o.px, " +
        "CASE WHEN SUM(nb.m) > 0 THEN 1 ELSE 0 END AS dm " +
        nb3x3Sql("p0", 1, 14) + "GROUP BY o.tile, o.py, o.px), " +
        "er AS (SELECT o.tile, (o.py - 2) * 12 + (o.px - 2) AS opos, " +
        "CASE WHEN SUM(nb.dm) = 9 THEN 1 ELSE 0 END AS cm " +
        nb3x3Sql("dil", 2, 13) + "GROUP BY o.tile, o.py, o.px) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(cm) AS BIGINT) AS n_set, " +
        "CAST(SUM(cm * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM er GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val dil = graft.raster.RasterGrid.focalSum3x3(
            t0Tiles(s, d, "m" -> (col("user_id") % 2)), h = 16, w = 16)
          .withColumn("data", transform(col("data"),
            v => when(v > 0f, lit(1.0f)).otherwise(lit(0.0f))))
        val closed = graft.raster.RasterGrid.focalSum3x3(dil, h = 14, w = 14)
          .withColumn("data", transform(col("data"),
            v => when(v === 9.0f, lit(1.0f)).otherwise(lit(0.0f))))
        unpackTiles(closed, pos = "opos")
          .withColumn("cm", col("v").cast("long"))
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum(col("cm")).as("n_set"),
            sum(col("cm") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Horn 3×3 terrain gradient (round 8) — RasterGrid.focalGradient3x3
    // driven end-to-end: the slope/aspect/hillshade building block
    // graded on its exact integer-weighted component sums gx/gy (the
    // atan/sqrt slope stays OUT of the graded surface — trig ulps are
    // not cross-engine portable; Det discipline). Same events-derived
    // 16×16 tiles and interior/halo contract as eo_tile_focal; the
    // oracle spells the weighted neighbor join with the same
    // (nb.px − o.px) · (2 if same row else 1) weights. Per-tile sums +
    // position-weighted checksums pin every interior pixel's components.
    Q("eo_tile_gradient", Some(
      hornSql +
        " SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(gx) AS BIGINT) AS sum_gx, CAST(SUM(gy) AS BIGINT) AS sum_gy, " +
        "CAST(SUM(gx * (opos + 1)) AS BIGINT) AS cksum_x, " +
        "CAST(SUM(gy * (opos + 1)) AS BIGINT) AS cksum_y " +
        "FROM g GROUP BY tile ORDER BY tile"),
      (s, d) => {
        hornGradient(s, d)
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum(col("gx")).as("sum_gx"), sum(col("gy")).as("sum_gy"),
            sum(col("gx") * (col("opos") + 1)).as("cksum_x"),
            sum(col("gy") * (col("opos") + 1)).as("cksum_y"))
          .orderBy("tile")
      }),

    // Hillshade illumination (round 10 second wave) — the shaded-relief
    // product beside slope/aspect [Horn 1981], made INTEGER-EXACT the
    // same way eo_tile_aspect dodged atan2: the surface normal of a
    // unit-cell Horn stencil is n = (−gx, −gy, 8), the sun is the FIXED
    // integer vector S = (2, −3, 6) (southeast, ~53° elevation), and
    // the graded surface is the raw illumination dot product
    // d = −2·gx + 3·gy + 48 — exact int64 per interior pixel — plus the
    // lit/shadow partition (d > 0), which is exactly the cast-shadow
    // mask decision. The 1/(|n|·|S|) normalization is a positive
    // monotone map that cannot change the sign or the ordering, so it
    // stays out of the graded surface per the Det √-rule (the
    // eo_tile_gradient precedent). Same native focal stencil machinery,
    // one aggregate — no new plan shape.
    Q("eo_tile_hillshade", Some(
      hornSql + ", " +
        "hs AS (SELECT tile, opos, (-2) * gx + 3 * gy + 48 AS d FROM g) " +
        "SELECT tile, " +
        "CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lit, " +
        "CAST(SUM(CASE WHEN d <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_shadow, " +
        "CAST(SUM(d) AS BIGINT) AS sum_d, " +
        "CAST(SUM(d * (opos + 1)) AS BIGINT) AS cksum " +
        "FROM hs GROUP BY tile ORDER BY tile"),
      (s, d) => {
        hornPixels(s, d)
          .select(col("tile"), col("opos"),
            (lit(-2) * col("p.gx").cast("long") + lit(3) * col("p.gy").cast("long")
              + lit(48)).as("d"))
          .groupBy("tile")
          .agg(
            sum(when(col("d") > 0, 1).otherwise(0)).cast("long").as("n_lit"),
            sum(when(col("d") <= 0, 1).otherwise(0)).cast("long").as("n_shadow"),
            sum(col("d")).as("sum_d"),
            sum(col("d") * (col("opos") + 1)).as("cksum"))
          .orderBy("tile")
      }),

    // Aspect (slope direction) octants from the Sobel gradient (round 9,
    // second wave) — the terrain-analysis product beside hillshade, made
    // INTEGER-EXACT: instead of atan2 (libm, engine-variant at the ulp),
    // the eight compass sectors are classified by the rational slope
    // 5/12 ≈ tan 22.6° — `12·|minor| ≤ 5·|major|` picks the cardinal
    // sectors, signs pick the rest, pure int64 comparisons identical in
    // both engines. Flat cells (gx=gy=0) class separately, as GIS aspect
    // conventions do. Same focal machinery and cost as eo_tile_gradient
    // (one halo-free in-tile stencil + one aggregate).
    Q("eo_tile_aspect", Some(
      hornSql + ", " +
        "a AS (SELECT tile, opos, CASE " +
        "WHEN gx = 0 AND gy = 0 THEN 'FLAT' " +
        "WHEN 12 * ABS(gy) <= 5 * ABS(gx) THEN (CASE WHEN gx > 0 THEN 'E' ELSE 'W' END) " +
        "WHEN 12 * ABS(gx) <= 5 * ABS(gy) THEN (CASE WHEN gy > 0 THEN 'N' ELSE 'S' END) " +
        "WHEN gx > 0 AND gy > 0 THEN 'NE' WHEN gx < 0 AND gy > 0 THEN 'NW' " +
        "WHEN gx < 0 AND gy < 0 THEN 'SW' ELSE 'SE' END AS aspect FROM g) " +
        "SELECT tile, aspect, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(SUM(opos + 1) AS BIGINT) AS cksum " +
        "FROM a GROUP BY tile, aspect ORDER BY tile, aspect"),
      (s, d) => {
        val g = hornGradient(s, d)
        val aspect = when(col("gx") === 0 && col("gy") === 0, "FLAT")
          .when(lit(12) * abs(col("gy")) <= lit(5) * abs(col("gx")),
            when(col("gx") > 0, "E").otherwise("W"))
          .when(lit(12) * abs(col("gx")) <= lit(5) * abs(col("gy")),
            when(col("gy") > 0, "N").otherwise("S"))
          .when(col("gx") > 0 && col("gy") > 0, "NE")
          .when(col("gx") < 0 && col("gy") > 0, "NW")
          .when(col("gx") < 0 && col("gy") < 0, "SW")
          .otherwise("SE")
        g.select(col("tile"), col("opos"), aspect.as("aspect"))
          .groupBy("tile", "aspect")
          .agg(count(lit(1)).as("n_px"), sum(col("opos") + 1).as("cksum"))
          .orderBy("tile", "aspect")
      }),

    // Per-tile value histogram (round 9, second wave) — the per-scene
    // DN-distribution stat every raster QA report carries (and the
    // input to histogram-matching normalization). Bins are pure integer
    // math (32-wide, clamped to 16 bins), so the histogram is one
    // hash aggregate over pixel rows with map-side combine — at archive
    // scale the combiner collapses each tile's 256 pixels to ≤16 rows
    // before the (tile, bin) shuffle.
    Q("eo_tile_histogram", Some(
      "WITH " + fullTilesSql("", "CAST(user_id AS BIGINT) AS v") + " " +
        tileBinsSql("CAST(COUNT(*) AS BIGINT) AS n_px, " +
          "CAST(MIN(p.v) AS BIGINT) AS v_min, CAST(MAX(p.v) AS BIGINT) AS v_max") +
        " ORDER BY p.tile, bin"),
      (s, d) => {
        tileBins(s, d)
          .agg(count(lit(1)).as("n_px"), min(col("v")).as("v_min"), max(col("v")).as("v_max"))
          .orderBy("tile", "bin")
      }),

    // Percentile composite (round 8) — the ODC percentile stat product
    // [PK odc-stats percentile]: per pixel (user_id as the pixel-group
    // analogue, as eo_composite_median established), the p10/p50/p90 of
    // the observation stack by the NEAREST-RANK-LOWER rule: value at
    // sorted position ((n-1)·k) div 10 + 1. Pure integer index math over
    // 6-dp-grid values — no interpolation, so determinism needs no Det
    // rule-4 argument at any p. One entity-bounded window (bounded
    // partition = observations per pixel) + one group-by; two shuffles on
    // the same key at any scale (AQE coalesces the tiny groups here).
    Q("eo_composite_percentile", Some(
      "WITH b AS (SELECT user_id, " + sqlS6("value") + " AS v6 FROM events), " +
        "r AS (SELECT user_id, v6, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v6) AS rn, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM b) " +
        "SELECT user_id, " +
        "MIN(CASE WHEN rn = ((n-1) * 1) // 10 + 1 THEN v6 END) AS p10, " +
        "MIN(CASE WHEN rn = ((n-1) * 5) // 10 + 1 THEN v6 END) AS p50, " +
        "MIN(CASE WHEN rn = ((n-1) * 9) // 10 + 1 THEN v6 END) AS p90 " +
        "FROM r GROUP BY user_id ORDER BY user_id"),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("v6")
        val wAll = Window.partitionBy("user_id")
        def pick(k: Int) = min(when(
          col("rn") === expr(s"((n - 1) * $k) div 10") + 1, col("v6")))
        T.events(s, d)
          .select(col("user_id"), s6(col("value")).as("v6"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wAll))
          .groupBy("user_id")
          .agg(pick(1).as("p10"), pick(5).as("p50"), pick(9).as("p90"))
          .orderBy("user_id")
      }),

    // MAD composite (round 8) — the dispersion member of the ODC TMAD
    // stat family [PK odc-stats tmads], in its 1-D per-band form: per
    // pixel group, the median absolute deviation around the temporal
    // median (both medians nearest-rank-lower on the 6-dp grid — all
    // integer index math, no interpolation). The per-group median table
    // is group-level (one row per pixel group) and joins back broadcast;
    // at archive scale it follows the same key-partitioned join as any
    // group-stat reattachment. Robust-dispersion screens cloud/sensor
    // artifacts the mean/stddev composite absorbs.
    Q("eo_composite_mad", Some(
      "WITH b AS (SELECT user_id, " + sqlS6("value") + " AS v6 FROM events), " +
        "r AS (SELECT user_id, v6, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v6) AS rn, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM b), " +
        "med AS (SELECT user_id, MIN(CASE WHEN rn = (n-1) // 2 + 1 THEN v6 END) AS med " +
        "FROM r GROUP BY user_id), " +
        "dev AS (SELECT b.user_id, m.med, ABS(b.v6 - m.med) AS ad " +
        "FROM b JOIN med m ON b.user_id = m.user_id), " +
        "r2 AS (SELECT user_id, med, ad, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ad) AS rn, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM dev) " +
        "SELECT user_id, MIN(med) AS med, " +
        "MIN(CASE WHEN rn = (n-1) // 2 + 1 THEN ad END) AS mad " +
        "FROM r2 GROUP BY user_id ORDER BY user_id"),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("v6")
        val wAll = Window.partitionBy("user_id")
        val b = T.events(s, d)
          .select(col("user_id"), s6(col("value")).as("v6"))
        val med = b
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wAll))
          .groupBy("user_id")
          .agg(min(when(col("rn") === expr("(n - 1) div 2") + 1, col("v6"))).as("med"))
        val w2 = Window.partitionBy("user_id").orderBy("ad")
        b.join(broadcast(med), "user_id")
          .withColumn("ad", abs(col("v6") - col("med")))
          .withColumn("rn", row_number().over(w2))
          .withColumn("n", count(lit(1)).over(wAll))
          .groupBy("user_id")
          .agg(min(col("med")).as("med"),
            min(when(col("rn") === expr("(n - 1) div 2") + 1, col("ad"))).as("mad"))
          .orderBy("user_id")
      }),

    // Windowed tile read (round 8) — the COG window / rasterio partial-
    // read analogue: RasterGrid.windowRead prunes to the tiles the global
    // pixel bbox [4,12)×[8,40) intersects (a tile-KEY predicate — the
    // partition prune at archive scale) and crops each survivor's packed
    // array to the in-bbox pixels. Graded on the full-tile t=0 slice
    // (positional math needs the 16x16 geometry, as eo_tile_downsample
    // established); the oracle applies the same global-coordinate
    // predicate relationally. Tiles 0-2 survive — tile 0 and 2 partially
    // cropped, tile 1 fully inside on y — so the key checks both the
    // prune and the crop edge arithmetic.
    Q("eo_window_read", Some(
      "WITH " + fullTilesSql(PosSql, "CAST(user_id AS DOUBLE) AS v") + ", " +
        "win AS (SELECT tile, pos, v FROM px JOIN full_t USING (tile) WHERE t = 0 " +
        "AND pos % 16 >= 4 AND pos % 16 < 12 " +
        "AND tile * 16 + pos // 16 >= 8 AND tile * 16 + pos // 16 < 40) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS sum_v, " +
        "CAST(SUM(CAST(v AS BIGINT) * (pos + 1)) AS BIGINT) AS checksum " +
        "FROM win GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val win = graft.raster.RasterGrid.windowRead(t0Tiles(s, d, "v" -> col("user_id")),
          h = 16, w = 16, x0 = 4, x1 = 12, y0 = 8, y1 = 40)
        win.select(tileId, explode(col("win")).as("e"))
          .select(col("tile"), col("e.pos").as("pos"),
            col("e.v").cast("long").as("v"))
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_px"),
            sum(col("v")).as("sum_v"),
            sum(col("v") * (col("pos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Z-order (Morton) spatial key (round 8) — the 100-TB LAYOUT primitive:
    // interleaving the bits of the grid (x, y) gives a 1-D key whose ranges
    // are spatially compact, so sorting/range-partitioning a 100-TB scene
    // table by zkey turns any bbox query into a handful of contiguous key
    // ranges (file skipping via min/max stats — the Delta/Hudi Z-ORDER
    // clustering story, and the tile-id scheme a SceneCatalog index would
    // range-prune on). Graded: 8-bit x/y from integer columns, the 16-bit
    // Morton code spelled as the same closed-form bit sum on both engines,
    // then per-zone (zkey div 1024) counts/sums + min/max zkey showing each
    // zone covers a contiguous key range. Pure map arithmetic + one partial
    // agg — no shuffle beyond the group-by at any scale.
    Q("eo_zorder", Some {
      val x = "(event_id % 256)"; val y = "(user_id % 256)"
      val z = (0 until 8).map(b =>
        s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      "WITH zk AS (SELECT CAST(" + z + " AS BIGINT) AS zkey, value FROM events) " +
        "SELECT CAST(zkey // 1024 AS BIGINT) AS zone, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(MIN(zkey) AS BIGINT) AS z_min, CAST(MAX(zkey) AS BIGINT) AS z_max, " +
        sqlSum6("value") + " AS sum_val " +
        "FROM zk GROUP BY zone ORDER BY zone"
    },
      (s, d) => {
        val x = col("event_id") % 256
        val y = col("user_id") % 256
        val z = (0 until 8).map { b =>
          (shiftright(x, b).bitwiseAND(lit(1)) * lit(1L << (2 * b))) +
            (shiftright(y, b).bitwiseAND(lit(1)) * lit(1L << (2 * b + 1)))
        }.reduce(_ + _)
        T.events(s, d)
          .select(z.cast("long").as("zkey"), col("value"))
          .groupBy(expr("zkey div 1024").as("zone"))
          .agg(
            count(lit(1)).as("n"),
            min(col("zkey")).as("z_min"), max(col("zkey")).as("z_max"),
            sum6(col("value")).as("sum_val"))
          .orderBy("zone")
      }),

    // Geohash bucketing (round 9, seventh wave) — the base32 spatial key
    // every catalog/tile service uses for prefix-range pruning
    // (Niemeyer's geohash; eo_zorder grades the raw Morton key, this
    // grades the ENCODED string and its prefix aggregation). Entirely
    // integer: micro-degree coordinates quantize by INTEGER division
    // (never a float), 13 lon + 12 lat bits interleave lon-first into
    // the 25-bit cell code, and the 2-char prefix maps through the
    // base32 alphabet by position. One map + one partial-agg shuffle on
    // the ≤1024-value prefix domain — the layout-key shape: at 100 TB
    // this IS the write-partitioning column, computed scan-side.
    Q("eo_geohash", Some {
      val latU = "((event_id * 131) % 180000001 - 90000000)"
      val lonU = "((event_id * 7919) % 360000001 - 180000000)"
      val latQ = s"((($latU + 90000000) * 4096) // 180000001)"
      val lonQ = s"((($lonU + 180000000) * 8192) // 360000001)"
      val code = ((0 to 12).map(j => s"((($lonQ >> ${12 - j}) & 1) << ${24 - 2 * j})") ++
        (0 to 11).map(j => s"((($latQ >> ${11 - j}) & 1) << ${23 - 2 * j})"))
        .mkString(" + ")
      val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
      "WITH c AS (SELECT CAST(" + code + " AS BIGINT) AS code, value FROM events), " +
        s"g AS (SELECT SUBSTRING('$alpha', CAST((code >> 20) & 31 AS INT) + 1, 1) || " +
        s"SUBSTRING('$alpha', CAST((code >> 15) & 31 AS INT) + 1, 1) AS gh2, code, value FROM c) " +
        "SELECT gh2, CAST(COUNT(*) AS BIGINT) AS n, " +
        sqlCentSum("value") + " AS sum_val_c, " +
        "CAST(MIN(code) AS BIGINT) AS code_min, CAST(MAX(code) AS BIGINT) AS code_max " +
        "FROM g GROUP BY gh2 ORDER BY gh2"
    },
      (s, d) => {
        val latQ = expr("(((event_id * 131) % 180000001 - 90000000 + 90000000) * 4096) div 180000001")
        val lonQ = expr("(((event_id * 7919) % 360000001 - 180000000 + 180000000) * 8192) div 360000001")
        val code = ((0 to 12).map(j =>
          shiftright(lonQ, 12 - j).bitwiseAND(lit(1L)) * lit(1L << (24 - 2 * j))) ++
          (0 to 11).map(j =>
            shiftright(latQ, 11 - j).bitwiseAND(lit(1L)) * lit(1L << (23 - 2 * j))))
          .reduce(_ + _)
        val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
        T.events(s, d)
          .select(code.cast("long").as("code"), col("value"))
          .withColumn("gh2", expr(
            s"substring('$alpha', CAST((code >> 20) & 31 AS INT) + 1, 1) || " +
              s"substring('$alpha', CAST((code >> 15) & 31 AS INT) + 1, 1)"))
          .groupBy("gh2")
          .agg(count(lit(1)).as("n"), centSum(col("value")).as("sum_val_c"),
            min("code").as("code_min"), max("code").as("code_max"))
          .orderBy("gh2")
      }),

    // zonalStats (AOI polygon statistics [PK], rasterized zones): the zone
    // ids ride as a second tile-aligned band derived from the same event
    // rows, so pixel i of the data tile pairs with pixel i of the zone
    // tile exactly as a rasterized polygon layer would. This op is
    // genuinely pixel-relational — RasterGrid explodes to (zone, value)
    // pairs and classic partial aggregation takes over.
    Q("eo_tile_zonal", Some(
      "WITH px AS (SELECT CAST(user_id AS DOUBLE) AS v, " +
        "CAST(event_id % 5 AS INT) AS zone FROM events) " +
        "SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_pixels, " +
        "CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS sum_l, " +
        sqlS6("SUM(v) / COUNT(*)") + " AS mean6 " +
        "FROM px GROUP BY zone ORDER BY zone"),
      (s, d) => {
        val grid = eventTiles(s, d,
          Seq("v" -> col("user_id"), "zone" -> (col("event_id") % 5)))
        val zs = graft.raster.RasterGrid.zonalStats(
          grid.where(col("band") === "v"),
          grid.where(col("band") === "zone"))
        zs.select(col("zone"), col("n_pixels"),
            col("sum_val").cast("long").as("sum_l"),
            s6(col("mean_val")).as("mean6"))
          .orderBy("zone")
      }),

    // maskWhere (the xr.where(qa, x, NaN) analogue): QA band = props
    // length (8 or 9), keep == 8. NaN holes are counted and the kept
    // pixels reduce on the exact integer grid; NULL-vs-NaN semantics stay
    // engine-local (oracle counts NULLs, Spark counts NaNs).
    Q("eo_tile_maskwhere", Some(
      "WITH " + pxSql(PosSql,
        "CAST(user_id AS DOUBLE) AS v, CAST(LENGTH(props) AS DOUBLE) AS qa") + ", " +
        "m AS (SELECT tile, pos, CASE WHEN qa = 8 THEN v ELSE NULL END AS mv FROM px) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(COUNT(*) - COUNT(mv) AS BIGINT) AS n_masked, " +
        "CAST(COALESCE(SUM(CAST(mv AS BIGINT)), 0) AS BIGINT) AS sum_kept, " +
        "CAST(COALESCE(SUM(CAST(mv AS BIGINT) * (pos + 1)), 0) AS BIGINT) AS checksum " +
        "FROM m GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val masked = graft.raster.RasterGrid.maskWhere(
          eventTiles(s, d,
            Seq("v" -> col("user_id"), "qa" -> length(col("props")))),
          dataBand = "v", qaBand = "qa")(q => q === 8.0)
        unpackTiles(masked)
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_px"),
            count(when(isnan(col("v")), 1)).as("n_masked"),
            coalesce(sum(when(!isnan(col("v")), col("v").cast("long"))), lit(0L)).as("sum_kept"),
            coalesce(sum(when(!isnan(col("v")), col("v").cast("long") * (col("pos") + 1))), lit(0L))
              .as("checksum"))
          .orderBy("tile")
      }),

    // RasterGrid.fuseFirstValid — the ODC GroupBy/fuse_func step [PK
    // datacube fuse_func]: overlapping datasets in one observation group
    // fold in precedence order (t here) and each pixel takes the first
    // non-nodata value, later scenes only filling holes. Half the pixels
    // are nodata (user_id parity), so fusion genuinely cascades through
    // the 4-deep precedence chain and ~1/16 of pixels stay nodata —
    // grading the fill, the precedence pick AND the all-nodata branch.
    // The oracle spells the same pick as FIRST(v ORDER BY t) over valid
    // observations.
    Q("eo_tile_fuse", Some(
      "WITH " + pxSql(PosSql,
        "CASE WHEN user_id % 2 = 0 THEN NULL ELSE CAST(user_id AS DOUBLE) END AS v") + ", " +
        "fused AS (SELECT tile, pos, FIRST(v ORDER BY t) FILTER (WHERE v IS NOT NULL) AS fv " +
        "FROM px GROUP BY tile, pos) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(COUNT(fv) AS BIGINT) AS n_filled, " +
        "CAST(COALESCE(SUM(CAST(fv AS BIGINT)), 0) AS BIGINT) AS sum_fused, " +
        "CAST(COALESCE(SUM(CAST(fv AS BIGINT) * (pos + 1)), 0) AS BIGINT) AS checksum " +
        "FROM fused GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val nodata = when(col("user_id") % 2 === 0, lit(Float.NaN))
          .otherwise(col("user_id"))
        val fused = graft.raster.RasterGrid.fuseFirstValid(
          eventTiles(s, d, Seq("v" -> nodata)))
        unpackTiles(fused)
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_px"),
            count(when(!isnan(col("v")), 1)).as("n_filled"),
            coalesce(sum(when(!isnan(col("v")), col("v").cast("long"))), lit(0L)).as("sum_fused"),
            coalesce(sum(when(!isnan(col("v")), col("v").cast("long") * (col("pos") + 1))), lit(0L))
              .as("checksum"))
          .orderBy("tile")
      }),

    // True-CRS reprojection of a geographic grid into UTM zone 33 — the
    // datum-true Snyder transverse-Mercator series (functions.Crs), closing
    // the dc.load(crs=) projection gap beyond eo_regrid_affine's affine
    // tier. The oracle spells the SAME series with identical interpolated
    // constants (Crs.sqlUtmForwardCtes). Outputs land on the integer-METER
    // grid (Det s0): java.lang.Math and libm trig differ by last-ulps
    // (~1e-9 m here), and the 0.5 m slack absorbs that while leaving the
    // projection itself fully graded. Round-trip/anchor accuracy is pinned
    // in CrsSpec; this key grades the forward projection end-to-end.
    Q("eo_reproject", Some(
      "WITH g AS (SELECT event_id, CAST(user_id % 160 AS DOUBLE) / 2 - 40 AS lat, " +
        "12.0 + CAST(event_id % 24 AS DOUBLE) / 4 AS lon FROM events), " +
        graft.functions.Crs.sqlUtmForwardCtes("g", 33) +
        " SELECT event_id, lat, lon, " + sqlS0("easting") + " AS easting_m, " +
        sqlS0("northing") + " AS northing_m FROM crs_out ORDER BY event_id"),
      (s, d) => {
        // lat/lon derive from integer columns through exact dyadic steps
        // (halves/quarters), so the inputs are bit-identical across engines
        val geo = T.events(s, d).select(col("event_id"),
          ((col("user_id") % 160).cast("double") / 2 - 40).as("lat"),
          (lit(12.0) + (col("event_id") % 24).cast("double") / 4).as("lon"))
        geo
          .withColumn("utm", graft.functions.Crs.utmForward(col("lat"), col("lon"), 33))
          .select(col("event_id"), col("lat"), col("lon"),
            s0(col("utm.easting")).as("easting_m"),
            s0(col("utm.northing")).as("northing_m"))
          .orderBy("event_id")
      }),

    // The inverse direction of eo_reproject: UTM zone-33 meter grids back
    // to geographic degrees (Snyder eqs. 8-17..8-25), graded against the
    // same-constants SQL twin. Outputs on the 6-dp degree grid (s6,
    // ~11 cm slack vs ~1e-12 deg trig-library noise).
    Q("eo_reproject_inv", Some(
      "WITH g AS (SELECT event_id, 100000.0 + CAST(event_id % 80 AS DOUBLE) * 10000 AS easting, " +
        "CAST(user_id % 90 AS DOUBLE) * 100000 AS northing FROM events), " +
        graft.functions.Crs.sqlUtmInverseCtes("g", 33, southern = false) +
        " SELECT event_id, " + sqlS6("lat") + " AS lat6, " + sqlS6("lon") + " AS lon6 " +
        "FROM crsi_out ORDER BY event_id"),
      (s, d) => {
        val utm = T.events(s, d).select(col("event_id"),
          (lit(100000.0) + (col("event_id") % 80).cast("double") * 10000).as("easting"),
          ((col("user_id") % 90).cast("double") * 100000).as("northing"))
        utm
          .withColumn("geo",
            graft.functions.Crs.utmInverse(col("easting"), col("northing"), 33, southern = false))
          .select(col("event_id"),
            s6(col("geo.lat")).as("lat6"),
            s6(col("geo.lon")).as("lon6"))
          .orderBy("event_id")
      }),

    // Multi-zone reprojection (VERDICT r5 #5): a global mosaic never lives
    // in one UTM zone, so the grid here spans zones 26-35 (lon -30..29.75)
    // and every point projects into ITS OWN zone, selected per row from
    // the longitude (Crs.utmForwardZoned). The integer zone is exact
    // column math (same IEEE division both engines); the meter outputs
    // land on the s0 grid like eo_reproject (0.5 m slack vs ~1e-9 m
    // engine trig noise).
    Q("eo_reproject_multizone", Some(
      "WITH g AS (SELECT event_id, CAST(user_id % 160 AS DOUBLE) / 2 - 40 AS lat, " +
        "-30.0 + CAST(event_id % 240 AS DOUBLE) / 4 AS lon FROM events), " +
        graft.functions.Crs.sqlUtmForwardZonedCtes("g") +
        " SELECT event_id, zone, " + sqlS0("easting") + " AS easting_m, " +
        sqlS0("northing") + " AS northing_m FROM crs_out ORDER BY event_id"),
      (s, d) => {
        val geo = T.events(s, d).select(col("event_id"),
          ((col("user_id") % 160).cast("double") / 2 - 40).as("lat"),
          (lit(-30.0) + (col("event_id") % 240).cast("double") / 4).as("lon"))
        geo
          .withColumn("utm", graft.functions.Crs.utmForwardZoned(col("lat"), col("lon")))
          .select(col("event_id"), col("utm.zone").as("zone"),
            s0(col("utm.easting")).as("easting_m"),
            s0(col("utm.northing")).as("northing_m"))
          .orderBy("event_id")
      }),

    // Sinusoidal (MODIS-grid) reprojection, forward AND inverse (round
    // 11, VERDICT r10 missing #3 — the Albers/sinusoidal-class gap
    // beyond the transverse-Mercator family): the equal-area projection
    // every MODIS land product ships on [PK: SR-ORG:6974 — sphere
    // R = 6371007.181 m], x = R·λ·cosφ, y = R·φ. Forward lands on the
    // integer-meter grid (s0; libm-vs-Math trig last-ulps ≈ 1e-9 m
    // against 0.5 m slack, the eo_reproject argument), and the INVERSE
    // consumes those quantized integers — bit-identical inputs on both
    // engines — back to 6-dp degrees. Both directions use explicit
    // shared literals for the degree/radian scale so the op sequence is
    // one fixed IEEE chain per row; CrsSpec pins equator/meridian
    // anchors and the roundtrip error bound.
    Q("eo_reproject_sinu", Some {
      val D2R = "0.017453292519943295"
      val R2D = "57.29577951308232"
      val R = "6371007.181"
      "WITH g AS (SELECT event_id, CAST(user_id % 160 AS DOUBLE) / 2 - 40 AS lat, " +
        "-30.0 + CAST(event_id % 240 AS DOUBLE) / 4 AS lon FROM events), " +
        s"f AS (SELECT event_id, lat, lon, " +
        s"$R * (lon * $D2R) * COS(lat * $D2R) AS x, $R * (lat * $D2R) AS y FROM g), " +
        "q AS (SELECT event_id, " + sqlS0("x") + " AS x_m, " + sqlS0("y") + " AS y_m FROM f), " +
        s"i AS (SELECT event_id, x_m, y_m, " +
        s"(CAST(y_m AS DOUBLE) / $R) * $R2D AS lat2, " +
        s"(CAST(x_m AS DOUBLE) / ($R * COS(CAST(y_m AS DOUBLE) / $R))) * $R2D AS lon2 FROM q) " +
        "SELECT event_id, x_m, y_m, " + sqlS6("lat2") + " AS lat6, " +
        sqlS6("lon2") + " AS lon6 FROM i ORDER BY event_id"
    },
      (s, d) => {
        val D2R = 0.017453292519943295
        val R2D = 57.29577951308232
        val R = 6371007.181
        val geo = T.events(s, d).select(col("event_id"),
          ((col("user_id") % 160).cast("double") / 2 - 40).as("lat"),
          (lit(-30.0) + (col("event_id") % 240).cast("double") / 4).as("lon"))
        val f = geo.select(col("event_id"),
          s0(lit(R) * (col("lon") * lit(D2R)) * cos(col("lat") * lit(D2R))).as("x_m"),
          s0(lit(R) * (col("lat") * lit(D2R))).as("y_m"))
        f.select(col("event_id"), col("x_m"), col("y_m"),
            s6((col("y_m").cast("double") / lit(R)) * lit(R2D)).as("lat6"),
            s6((col("x_m").cast("double") /
              (lit(R) * cos(col("y_m").cast("double") / lit(R)))) * lit(R2D))
              .as("lon6"))
          .orderBy("event_id")
      }),

    // Albers equal-area CONIC reprojection, forward and inverse (round
    // 11 — the second member of VERDICT r10's "Albers/sinusoidal-class"
    // gap, closing it completely): the sphere form of the projection
    // CONUS-wide products ship on [PK: Snyder 1987 eqs. 14-1..14-11;
    // EPSG:5070's spherical analogue], standard parallels 29.5°/45.5°,
    // origin (23°N, 96°W), MODIS sphere radius. All projection
    // constants (n, 2n, C, ρ0, λ0 in radians) are PRECOMPUTED
    // round-trip decimal literals shared verbatim by both engines, so
    // each row is one fixed IEEE chain over sin/cos/√ (forward) and
    // atan2/asin (inverse) — trig under the coarse-grid rule (integer
    // meters / 6-dp degrees), the eo_reproject argument. The inverse
    // consumes the QUANTIZED integer meters, so its inputs are
    // bit-identical across engines by construction.
    Q("eo_reproject_albers", Some {
      val N = "0.6028370046288244"
      val TwoN = "1.2056740092576488"
      val Cc = "1.351221325417899"
      val Rho0 = "9914729.120503271"
      val Lam0 = "-1.6755160819145565"
      val D2R = "0.017453292519943295"
      val R2D = "57.29577951308232"
      val R = "6371007.181"
      "WITH g AS (SELECT event_id, CAST(user_id % 160 AS DOUBLE) / 2 - 40 AS lat, " +
        "-120.0 + CAST(event_id % 240 AS DOUBLE) / 4 AS lon FROM events), " +
        s"f AS (SELECT event_id, ($R * SQRT($Cc - $TwoN * SIN(lat * $D2R))) / $N AS rho, " +
        s"$N * (lon * $D2R - $Lam0) AS th FROM g), " +
        s"q AS (SELECT event_id, " + sqlS0("rho * SIN(th)") + " AS x_m, " +
        sqlS0(s"$Rho0 - rho * COS(th)") + " AS y_m FROM f), " +
        s"i AS (SELECT event_id, x_m, y_m, " +
        s"SQRT(CAST(x_m AS DOUBLE) * CAST(x_m AS DOUBLE) + " +
        s"($Rho0 - CAST(y_m AS DOUBLE)) * ($Rho0 - CAST(y_m AS DOUBLE))) AS rho, " +
        s"ATAN2(CAST(x_m AS DOUBLE), $Rho0 - CAST(y_m AS DOUBLE)) AS th FROM q), " +
        s"j AS (SELECT event_id, x_m, y_m, " +
        s"ASIN(($Cc - ((rho * $N) / $R) * ((rho * $N) / $R)) / $TwoN) * $R2D AS lat2, " +
        s"($Lam0 + th / $N) * $R2D AS lon2 FROM i) " +
        "SELECT event_id, x_m, y_m, " + sqlS6("lat2") + " AS lat6, " +
        sqlS6("lon2") + " AS lon6 FROM j ORDER BY event_id"
    },
      (s, d) => {
        val N = 0.6028370046288244
        val TwoN = 1.2056740092576488
        val Cc = 1.351221325417899
        val Rho0 = 9914729.120503271
        val Lam0 = -1.6755160819145565
        val D2R = 0.017453292519943295
        val R2D = 57.29577951308232
        val R = 6371007.181
        val geo = T.events(s, d).select(col("event_id"),
          ((col("user_id") % 160).cast("double") / 2 - 40).as("lat"),
          (lit(-120.0) + (col("event_id") % 240).cast("double") / 4).as("lon"))
        val f = geo.select(col("event_id"),
          ((lit(R) * sqrt(lit(Cc) - lit(TwoN) * sin(col("lat") * lit(D2R)))) / lit(N))
            .as("rho"),
          (lit(N) * (col("lon") * lit(D2R) - lit(Lam0))).as("th"))
        val q = f.select(col("event_id"),
          s0(col("rho") * sin(col("th"))).as("x_m"),
          s0(lit(Rho0) - col("rho") * cos(col("th"))).as("y_m"))
        val dy = lit(Rho0) - col("y_m").cast("double")
        val rho = sqrt(col("x_m").cast("double") * col("x_m").cast("double") +
          dy * dy)
        val th = atan2(col("x_m").cast("double"), dy)
        q.select(col("event_id"), col("x_m"), col("y_m"),
            s6(asin((lit(Cc) - ((rho * lit(N)) / lit(R)) * ((rho * lit(N)) / lit(R))) /
              lit(TwoN)) * lit(R2D)).as("lat6"),
            s6((lit(Lam0) + th / lit(N)) * lit(R2D)).as("lon6"))
          .orderBy("event_id")
      }),

    // Geomedian composite per label (Roberts et al. 2017), as a
    // GRID-QUANTIZED Weiszfeld iteration — round 6 made the last
    // property-only key oracle-graded by redefining the iteration to be
    // engine-exact: every per-point contribution quantizes to the 1e-10
    // grid BEFORE summation (FLOOR(·*1e10+0.5) longs — exact and
    // order-free, the Det discipline applied inside an iterative solver),
    // so each round's distances, weights, and the updated iterate are
    // bit-identical in any engine and any merge order. GeomedianRounds
    // (= 6) fixed rounds
    // from the mean6 centroid; d2l >= 1 bounds w <= 1e5 so every scaled
    // product stays far inside signed 64 bits (|x| < 1 here); d2l = 0
    // (point within half-grid of the iterate) contributes weight 0 — the
    // classic epsilon guard on the grid. The float-precision classic
    // stays in functions.Geomedian/GeomedianAgg (unit-tested;
    // GeomedianSpec pins this key to it within 1e-3), and
    // GeomedianDistributed carries the same K-round pattern to
    // archive-scale group counts.
    Q("eo_geomedian", Some {
      val K = GeomedianRounds
      "WITH " + gmChainSql(K) + ", " +
        "cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label) " +
        "SELECT c.label, c.n, " +
        (1 to 4).map(g => sqlS6(s"MAX(CASE WHEN m.pos = ${g - 1} THEN m.v END)") + s" AS g$g")
          .mkString(", ") +
        s" FROM cnt c JOIN m$K m ON c.label = m.label GROUP BY c.label, c.n ORDER BY c.label"
    },
      (s, d) => {
        val (_, med) = gmIterates(s, d, GeomedianRounds)
        val cnt = T.embeddings(s, d).groupBy("label").agg(count(lit(1)).as("n"))
        cnt.join(med.where(col("pos") < 4), "label")
          .groupBy("label", "n")
          .agg(
            s6(max(when(col("pos") === 0, col("v")))).as("g1"),
            s6(max(when(col("pos") === 1, col("v")))).as("g2"),
            s6(max(when(col("pos") === 2, col("v")))).as("g3"),
            s6(max(when(col("pos") === 3, col("v")))).as("g4"))
          .orderBy("label")
      }),

    // GeoMAD dispersion triple (round 12) — the second half of the ODC
    // GeoMAD product [PK Roberts, Dunn & Mueller 2018 "Open Data Cube
    // products using high-dimensional statistics"; odc-stats gm_tmad]:
    // around the GRADED geomedian vector (the shared gmChainSql /
    // gmIterates chain, so this key and eo_geomedian can never drift),
    // the three per-observation deviation medians — EMAD (Euclidean
    // distance), SMAD (cosine distance 1 − cosθ) and BCMAD
    // (Bray-Curtis dissimilarity Σ|x−g| / Σ(x+g)). Per-vector distance
    // moments are exact integer sums of floor-quantized products (the
    // geomedian discipline); each distance then takes at most two IEEE
    // sqrt + one divide on identical longs (engine-exact), lands on the
    // s6 grid, and the per-label median is nearest-rank-lower integer
    // index math (the eo_composite_mad rule). One extra broadcast join
    // + one label-keyed window pass beyond the geomedian itself — the
    // full GeoMAD fits in the same shuffle budget at archive scale.
    Q("eo_geomad", Some {
      val K = GeomedianRounds
      "WITH " + gmChainSql(K) + ", " +
        "dv AS (SELECT u.label, u.vec_id, " +
        "SUM(CAST(FLOOR((u.x - m.v) * (u.x - m.v) * 1e10 + 0.5) AS BIGINT)) AS d2l, " +
        "SUM(CAST(FLOOR(u.x * m.v * 1e10 + 0.5) AS BIGINT)) AS dotl, " +
        "SUM(CAST(FLOOR(u.x * u.x * 1e10 + 0.5) AS BIGINT)) AS xxl, " +
        "SUM(CAST(FLOOR(m.v * m.v * 1e10 + 0.5) AS BIGINT)) AS vvl, " +
        "SUM(CAST(FLOOR(ABS(u.x - m.v) * 1e10 + 0.5) AS BIGINT)) AS bnl, " +
        "SUM(CAST(FLOOR((u.x + m.v) * 1e10 + 0.5) AS BIGINT)) AS bdl " +
        s"FROM ux u JOIN m$K m ON u.label = m.label AND u.pos = m.pos " +
        "GROUP BY u.label, u.vec_id), " +
        "dd AS (SELECT label, vec_id, " +
        sqlS6("SQRT(CAST(d2l AS DOUBLE) / 1e10)") + " AS e6, " +
        sqlS6("CASE WHEN xxl = 0 OR vvl = 0 THEN 0.0 ELSE " +
          "1.0 - CAST(dotl AS DOUBLE) / (SQRT(CAST(xxl AS DOUBLE)) * SQRT(CAST(vvl AS DOUBLE))) END") +
        " AS sm6, " +
        sqlS6("CASE WHEN bdl = 0 THEN 0.0 ELSE CAST(bnl AS DOUBLE) / CAST(bdl AS DOUBLE) END") +
        " AS bc6 FROM dv), " +
        "r AS (SELECT label, e6, sm6, bc6, " +
        "ROW_NUMBER() OVER (PARTITION BY label ORDER BY e6) AS re, " +
        "ROW_NUMBER() OVER (PARTITION BY label ORDER BY sm6) AS rs, " +
        "ROW_NUMBER() OVER (PARTITION BY label ORDER BY bc6) AS rb, " +
        "COUNT(*) OVER (PARTITION BY label) AS n FROM dd) " +
        "SELECT label, CAST(MAX(n) AS BIGINT) AS n, " +
        "MIN(CASE WHEN re = (n - 1) // 2 + 1 THEN e6 END) AS emad6, " +
        "MIN(CASE WHEN rs = (n - 1) // 2 + 1 THEN sm6 END) AS smad6, " +
        "MIN(CASE WHEN rb = (n - 1) // 2 + 1 THEN bc6 END) AS bcmad6 " +
        "FROM r GROUP BY label ORDER BY label"
    },
      (s, d) => {
        val (ux, med) = gmIterates(s, d, GeomedianRounds)
        val x = col("x"); val v = col("v")
        val dv = ux.join(broadcast(med), Seq("label", "pos"))
          .groupBy("label", "vec_id")
          .agg(
            sum(floor((x - v) * (x - v) * lit(1e10) + lit(0.5))).as("d2l"),
            sum(floor(x * v * lit(1e10) + lit(0.5))).as("dotl"),
            sum(floor(x * x * lit(1e10) + lit(0.5))).as("xxl"),
            sum(floor(v * v * lit(1e10) + lit(0.5))).as("vvl"),
            sum(floor(abs(x - v) * lit(1e10) + lit(0.5))).as("bnl"),
            sum(floor((x + v) * lit(1e10) + lit(0.5))).as("bdl"))
        val dd = dv.select(col("label"), col("vec_id"),
          s6(sqrt(col("d2l").cast("double") / lit(1e10))).as("e6"),
          s6(when(col("xxl") === 0 || col("vvl") === 0, lit(0.0))
            .otherwise(lit(1.0) - col("dotl").cast("double") /
              (sqrt(col("xxl").cast("double")) * sqrt(col("vvl").cast("double")))))
            .as("sm6"),
          s6(when(col("bdl") === 0, lit(0.0))
            .otherwise(col("bnl").cast("double") / col("bdl").cast("double")))
            .as("bc6"))
        val byLabel = Window.partitionBy("label")
        val r = dd
          .withColumn("re", row_number().over(byLabel.orderBy("e6")))
          .withColumn("rs", row_number().over(byLabel.orderBy("sm6")))
          .withColumn("rb", row_number().over(byLabel.orderBy("bc6")))
          .withColumn("n", count(lit(1)).over(byLabel))
        r.groupBy("label")
          .agg(max(col("n")).as("n"),
            min(when(col("re") === expr("(n - 1) div 2") + 1, col("e6"))).as("emad6"),
            min(when(col("rs") === expr("(n - 1) div 2") + 1, col("sm6"))).as("smad6"),
            min(when(col("rb") === expr("(n - 1) div 2") + 1, col("bc6"))).as("bcmad6"))
          .orderBy("label")
      }),

    // Temporal gap-fill (round 7): per-pixel forward-fill of QA-masked
    // observations — the time-series repair step between masking and
    // compositing (the reference stack's per-pixel "last valid
    // observation" carry-forward [PK xarray ffill / gap-filled
    // geomedians]). Idiomatic Spark: `last(v, ignoreNulls)` over a
    // (tile, pos)-partitioned time window — each partition is one pixel's
    // 4-obs series, so windows are entity-bounded at any corpus scale and
    // the shuffle is the same (tile, pos) key the tile layout already
    // uses. Graded per (tile, time): filled/missing pixel counts + the
    // s6 sum of the filled series (order-free exact longs).
    Q("eo_gap_fill", Some(
      "WITH px AS (SELECT CAST(event_id % 4 AS INTEGER) AS t, " +
        "CAST((event_id // 4) % 256 AS INTEGER) AS pos, " +
        "(event_id // 4) // 256 AS tile, " +
        "CASE WHEN user_id % 4 <> 0 THEN value END AS v FROM events), " +
        "f AS (SELECT tile, t, v, LAST_VALUE(v IGNORE NULLS) OVER " +
        "(PARTITION BY tile, pos ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv FROM px) " +
        "SELECT tile, t, " +
        "CAST(COUNT(CASE WHEN v IS NULL AND fv IS NOT NULL THEN 1 END) AS BIGINT) AS n_filled, " +
        "CAST(COUNT(CASE WHEN fv IS NULL THEN 1 END) AS BIGINT) AS n_missing, " +
        "CAST(SUM(CASE WHEN fv IS NOT NULL THEN " + Det.sqlS6("fv") + " END) AS BIGINT) AS sum_v6 " +
        "FROM f GROUP BY tile, t ORDER BY tile, t"),
      (s, d) => {
        val base = T.events(s, d).select(
          (col("event_id") % 4).cast("int").as("t"),
          expr("event_id div 4 % 256").cast("int").as("pos"),
          expr("event_id div 4 div 256").as("tile"),
          // QA mask stand-in: every 4th pixel-obs is a gap (null)
          when(col("user_id") % 4 =!= 0, col("value")).as("v"))
        val w = Window.partitionBy("tile", "pos").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        base
          .withColumn("fv", last(col("v"), ignoreNulls = true).over(w))
          .groupBy("tile", "t")
          .agg(
            count(when(col("v").isNull && col("fv").isNotNull, 1)).as("n_filled"),
            count(when(col("fv").isNull, 1)).as("n_missing"),
            sum(when(col("fv").isNotNull, s6(col("fv")))).as("sum_v6"))
          .orderBy("tile", "t")
      }),

    // Savitzky-Golay 5-point quadratic smoothing (round 9, third wave) —
    // THE standard NDVI time-series filter (Chen et al. 2004, "A simple
    // method for reconstructing a high-quality NDVI time-series data set
    // based on the Savitzky-Golay filter"): per entity series, the
    // least-squares-exact convolution (−3, 12, 17, 12, −3)/35. The tap
    // weights keep the numerator an EXACT int64 over cents (four
    // lag/lead copies from ONE entity-partitioned window pass), and the
    // /35 is one shared IEEE divide floored back to the grid — no trig,
    // no accumulation order anywhere. Interior points only (all five
    // taps present), as the published filter defines them. One shuffle +
    // one in-partition sort at any scale.
    Q("eo_sg_smooth", Some(
      "WITH v AS (SELECT user_id, event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t, " +
        sqlS2("value") + " AS x FROM events), " +
        "w AS (SELECT user_id, event_id, x, " +
        "LAG(x, 2) OVER win AS l2, LAG(x, 1) OVER win AS l1, " +
        "LEAD(x, 1) OVER win AS d1, LEAD(x, 2) OVER win AS d2 " +
        "FROM v WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id)) " +
        "SELECT event_id, user_id, x, " +
        "CAST(FLOOR(CAST(-3 * l2 + 12 * l1 + 17 * x + 12 * d1 - 3 * d2 AS DOUBLE) / 35.0 + 0.5) AS BIGINT) AS sg " +
        "FROM w WHERE l2 IS NOT NULL AND d2 IS NOT NULL ORDER BY event_id"),
      (s, d) => {
        val win = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
        T.events(s, d)
          .select(col("user_id"), col("event_id"), epochS(col("ts")).as("t"),
            s2(col("value")).as("x"))
          .withColumn("l2", lag(col("x"), 2).over(win))
          .withColumn("l1", lag(col("x"), 1).over(win))
          .withColumn("d1", lead(col("x"), 1).over(win))
          .withColumn("d2", lead(col("x"), 2).over(win))
          .where(col("l2").isNotNull && col("d2").isNotNull)
          .select(col("event_id"), col("user_id"), col("x"),
            floor((lit(-3) * col("l2") + lit(12) * col("l1") + lit(17) * col("x") +
              lit(12) * col("d1") - lit(3) * col("d2")).cast("double") / lit(35.0)
              + lit(0.5)).cast("long").as("sg"))
          .orderBy("event_id")
      }),

    // Terrain Ruggedness Index (round 9, third wave) — the
    // neighborhood-heterogeneity terrain product beside slope/aspect
    // (Riley et al. 1999), as the native TileFocalTri3x3 stencil:
    // per interior pixel, Σ|neighbor − center| over the 8-neighborhood
    // (abs-sum form — exact in float32 on these small-integer pixels,
    // where the published square-root form would leave the integer
    // grid). Map-only per tile like every in-tile stencil; compose
    // eo_tile_focal_halo's halo exchange when seams matter. The oracle
    // spells the 8-neighbor abs-diff sum as the bounded relational
    // self-join, pinning every interior pixel via the position-weighted
    // checksum.
    Q("eo_tile_tri", Some(
      gridSql("user_id", "v") +
        stencilSql("fs", "CAST(SUM(ABS(nb.v - o.v)) AS BIGINT) AS tri") +
        " SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(tri) AS BIGINT) AS sum_tri, " +
        "CAST(SUM(tri * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM fs GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val t = graft.raster.RasterGrid.focalTri3x3(
          t0Tiles(s, d, "v" -> col("user_id")), h = 16, w = 16)
        unpackTiles(t, pos = "opos")
          .withColumn("tri", col("v").cast("long"))
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_out"),
            sum(col("tri")).as("sum_tri"),
            sum(col("tri") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Discrete Laplacian / curvature (round 9, fourth wave) — the
    // second-derivative terrain product beside slope and aspect
    // (profile-curvature screening, edge detection on masks): the
    // plus-shaped N+S+E+W−4c kernel as a fourth native stencil
    // (TileFocalLaplace3x3 — it is NOT composable from the 9-sum
    // focal3, which can't isolate the cross). Same interior/halo
    // contract, map-only per tile, integer-exact on these pixels. The
    // oracle weights the neighbor join 1 on the cross, −4 on center, 0
    // on corners.
    // Solar position (round 12, third wave) [Iqbal 1983 / the NOAA
    // simplified solar geometry; PK: every ODC NBAR/illumination
    // correction and fmask shadow cast needs per-observation sun
    // angles] — declination from day-of-year, hour angle from
    // time-of-day + longitude, and the solar elevation sine
    // sin h = sinφ·sinδ + cosφ·cosδ·cos H. Trig discipline is
    // eo_harmonic's coarse-grid rule: every trig ARGUMENT is an exact
    // rational both engines share bit-for-bit (integer degrees /
    // quantized declination / exact hs·15/3600 hour angle), every trig
    // RESULT is s4-floored immediately, and the elevation sine is then
    // PURE integer arithmetic on the e8 grid (sphi4·sdec4 +
    // halfUpDiv(cphi4·cdec4·cha4, 1e4) — products ≤1e12, well inside
    // the halfUpDiv 2^53 bound). The day/night flag is the graded
    // decision lane. Map-only — fuses into the scan at any SF.
    Q("eo_sun_position", Some(
      "WITH b AS (SELECT event_id, " +
        "CAST(user_id % 13 AS BIGINT) * 10 - 60 AS lat, " +
        "CAST(event_id % 24 AS BIGINT) * 15 - 180 AS lon, " +
        "(CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400) % 365 AS d, " +
        "CAST(FLOOR(EPOCH(ts)) AS BIGINT) % 86400 AS hs FROM events), " +
        "q1 AS (SELECT *, " +
        sqlS4("-23.44 * COS(PI() * (CAST(d + 10 AS DOUBLE) * 360.0 / 365.0) / 180.0)") +
        " AS dec4, " +
        "CAST(hs * 15 + lon * 3600 - 648000 AS DOUBLE) / 3600.0 AS hdeg FROM b), " +
        "q2 AS (SELECT event_id, lat, lon, d, dec4, " +
        sqlS4("hdeg") + " AS ha4, " +
        sqlS4("SIN(PI() * (CAST(dec4 AS DOUBLE) / 10000.0) / 180.0)") + " AS sdec4, " +
        sqlS4("COS(PI() * (CAST(dec4 AS DOUBLE) / 10000.0) / 180.0)") + " AS cdec4, " +
        sqlS4("SIN(PI() * CAST(lat AS DOUBLE) / 180.0)") + " AS sphi4, " +
        sqlS4("COS(PI() * CAST(lat AS DOUBLE) / 180.0)") + " AS cphi4, " +
        sqlS4("COS(PI() * hdeg / 180.0)") + " AS cha4 FROM q1), " +
        "q3 AS (SELECT event_id, lat, lon, d, dec4, ha4, " +
        "sphi4 * sdec4 + " + sqlHalfUpDiv("cphi4 * cdec4 * cha4", "10000") +
        " AS se8 FROM q2) " +
        "SELECT event_id, lat, lon, d, dec4, ha4, se8, " +
        "CAST(CASE WHEN se8 > 0 THEN 1 ELSE 0 END AS INT) AS is_day " +
        "FROM q3 ORDER BY event_id"),
      (s, d) => {
        val b = T.events(s, d).select(col("event_id"),
          ((col("user_id") % 13).cast("long") * 10 - 60).as("lat"),
          ((col("event_id") % 24).cast("long") * 15 - 180).as("lon"),
          (expr("unix_timestamp(ts) div 86400") % 365).as("d"),
          (epochS(col("ts")) % 86400).as("hs"))
        def rad(x: Column): Column = lit(math.Pi) * x / lit(180.0)
        val q1 = b.withColumn("dec4",
            s4(lit(-23.44) * cos(rad((col("d") + 10).cast("double") *
              lit(360.0) / lit(365.0)))))
          .withColumn("hdeg",
            (col("hs") * 15 + col("lon") * 3600 - 648000).cast("double") /
              lit(3600.0))
        val q2 = q1.select(col("event_id"), col("lat"), col("lon"), col("d"),
          col("dec4"), s4(col("hdeg")).as("ha4"),
          s4(sin(rad(col("dec4").cast("double") / lit(10000.0)))).as("sdec4"),
          s4(cos(rad(col("dec4").cast("double") / lit(10000.0)))).as("cdec4"),
          s4(sin(rad(col("lat").cast("double")))).as("sphi4"),
          s4(cos(rad(col("lat").cast("double")))).as("cphi4"),
          s4(cos(rad(col("hdeg")))).as("cha4"))
        q2.select(col("event_id"), col("lat"), col("lon"), col("d"),
            col("dec4"), col("ha4"),
            (col("sphi4") * col("sdec4") +
              halfUpDiv(col("cphi4") * col("cdec4") * col("cha4"),
                lit(10000L))).as("se8"))
          .withColumn("is_day",
            when(col("se8") > 0, 1).otherwise(0).cast("int"))
          .orderBy("event_id")
      }),

    // Terrain curvature (round 12, third wave) [Zevenbergen & Thorne
    // 1987, "Quantitative analysis of land surface topography"] — the
    // second-derivative terrain product above slope/aspect (hollows vs
    // ridges, flow convergence — the curvature rasters every DEM suite
    // ships beside hillshade). The quadratic-surface coefficients are
    // the classic 3×3 finite differences: d2 = z4+z6−2z5, e2 =
    // z2+z8−2z5, f4 = −z1+z3+z7−z9, g2 = z6−z4, h2 = z2−z8, and with
    // L = 1 the PLAN and PROFILE curvatures reduce to
    //   plan = (2·d2·h2² + 2·e2·g2² − f4·g2·h2) / (2·(g2²+h2²))
    //   prof = −(2·d2·g2² + 2·e2·h2² + f4·g2·h2) / (2·(g2²+h2²)).
    // The graded surface is the INTEGER NUMERATORS (the eo_tile_gradient
    // /hillshade Det √-rule: the positive denominator never flips a
    // sign, and flat pixels zero every numerator term by construction),
    // summed per tile with an order-free position-weighted checksum so
    // every interior pixel is pinned to its slot. float32 stencils
    // cannot carry these ≥2^40 products exactly, so BOTH engines spell
    // the identical bounded neighbor self-join — one join + one
    // partial agg, tile-local at any archive size.
    Q("eo_tile_curvature", Some(
      gridSql("user_id", "v") +
        stencilSql("comp", "CAST(SUM(nb.v * (CASE WHEN nb.py = o.py AND ABS(nb.px - o.px) = 1 THEN 1 " +
        "WHEN nb.py = o.py AND nb.px = o.px THEN -2 ELSE 0 END)) AS BIGINT) AS d2, " +
        "CAST(SUM(nb.v * (CASE WHEN nb.px = o.px AND ABS(nb.py - o.py) = 1 THEN 1 " +
        "WHEN nb.py = o.py AND nb.px = o.px THEN -2 ELSE 0 END)) AS BIGINT) AS e2, " +
        "CAST(SUM(nb.v * (CASE WHEN nb.py = o.py - 1 AND nb.px = o.px - 1 THEN -1 " +
        "WHEN nb.py = o.py - 1 AND nb.px = o.px + 1 THEN 1 " +
        "WHEN nb.py = o.py + 1 AND nb.px = o.px - 1 THEN 1 " +
        "WHEN nb.py = o.py + 1 AND nb.px = o.px + 1 THEN -1 ELSE 0 END)) AS BIGINT) AS f4, " +
        "CAST(SUM(nb.v * (CASE WHEN nb.py = o.py AND nb.px = o.px + 1 THEN 1 " +
        "WHEN nb.py = o.py AND nb.px = o.px - 1 THEN -1 ELSE 0 END)) AS BIGINT) AS g2, " +
        "CAST(SUM(nb.v * (CASE WHEN nb.px = o.px AND nb.py = o.py - 1 THEN 1 " +
        "WHEN nb.px = o.px AND nb.py = o.py + 1 THEN -1 ELSE 0 END)) AS BIGINT) AS h2") + ", " +
        "cur AS (SELECT tile, opos, " +
        "2 * d2 * h2 * h2 + 2 * e2 * g2 * g2 - f4 * g2 * h2 AS pn, " +
        "-(2 * d2 * g2 * g2 + 2 * e2 * h2 * h2 + f4 * g2 * h2) AS fn " +
        "FROM comp) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(pn) AS BIGINT) AS sum_plan, " +
        "CAST(SUM(ABS(pn)) AS BIGINT) AS sum_abs_plan, " +
        "CAST(SUM(fn) AS BIGINT) AS sum_prof, " +
        "CAST(SUM(pn * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM cur GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val px = T.events(s, d)
          .select(expr("event_id div 4").as("pid"),
            (col("event_id") % 4).as("t"), col("user_id").cast("long").as("v"))
          .select(expr("pid div 256").as("tile"),
            expr("(pid % 256) div 16").as("py"),
            (col("pid") % 16).as("px"), col("t"), col("v"))
        val fullT = px.where(col("t") === 0).groupBy("tile")
          .agg(count(lit(1)).as("cnt")).where(col("cnt") === 256)
          .select("tile")
        val p0 = px.join(fullT, "tile").where(col("t") === 0)
          .select("tile", "py", "px", "v")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val o = p0.select(col("tile"), col("py").as("oy"), col("px").as("ox"))
          .where(col("oy").between(1, 14) && col("ox").between(1, 14))
        val j = o.join(p0.select(col("tile"), col("py"), col("px"), col("v")),
          Seq("tile"))
          .where(col("py").between(col("oy") - 1, col("oy") + 1) &&
            col("px").between(col("ox") - 1, col("ox") + 1))
        def wsum(c: Column): Column = sum(col("v") * c).cast("long")
        val comp = j.groupBy(col("tile"),
            ((col("oy") - 1) * 14 + (col("ox") - 1)).as("opos"))
          .agg(
            wsum(when(col("py") === col("oy") &&
                abs(col("px") - col("ox")) === 1, 1L)
              .when(col("py") === col("oy") && col("px") === col("ox"), -2L)
              .otherwise(0L)).as("d2"),
            wsum(when(col("px") === col("ox") &&
                abs(col("py") - col("oy")) === 1, 1L)
              .when(col("py") === col("oy") && col("px") === col("ox"), -2L)
              .otherwise(0L)).as("e2"),
            wsum(when(col("py") === col("oy") - 1 && col("px") === col("ox") - 1, -1L)
              .when(col("py") === col("oy") - 1 && col("px") === col("ox") + 1, 1L)
              .when(col("py") === col("oy") + 1 && col("px") === col("ox") - 1, 1L)
              .when(col("py") === col("oy") + 1 && col("px") === col("ox") + 1, -1L)
              .otherwise(0L)).as("f4"),
            wsum(when(col("py") === col("oy") && col("px") === col("ox") + 1, 1L)
              .when(col("py") === col("oy") && col("px") === col("ox") - 1, -1L)
              .otherwise(0L)).as("g2"),
            wsum(when(col("px") === col("ox") && col("py") === col("oy") - 1, 1L)
              .when(col("px") === col("ox") && col("py") === col("oy") + 1, -1L)
              .otherwise(0L)).as("h2"))
        val cur = comp.select(col("tile"), col("opos"),
          (lit(2) * col("d2") * col("h2") * col("h2") +
            lit(2) * col("e2") * col("g2") * col("g2") -
            col("f4") * col("g2") * col("h2")).as("pn"),
          (-(lit(2) * col("d2") * col("g2") * col("g2") +
            lit(2) * col("e2") * col("h2") * col("h2") +
            col("f4") * col("g2") * col("h2"))).as("fn"))
        cur.groupBy("tile")
          .agg(count(lit(1)).as("n_out"), sum(col("pn")).as("sum_plan"),
            sum(abs(col("pn"))).as("sum_abs_plan"),
            sum(col("fn")).as("sum_prof"),
            sum(col("pn") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    Q("eo_tile_laplace", Some(
      gridSql("user_id", "v") +
        stencilSql("lp", "CAST(SUM(nb.v * (CASE WHEN nb.py = o.py AND nb.px = o.px THEN -4 " +
          "WHEN ABS(nb.py - o.py) + ABS(nb.px - o.px) = 1 THEN 1 ELSE 0 END)) AS BIGINT) AS lap") +
        " SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(lap) AS BIGINT) AS sum_lap, " +
        "CAST(SUM(ABS(lap)) AS BIGINT) AS sum_abs, " +
        "CAST(SUM(lap * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM lp GROUP BY tile ORDER BY tile"),
      (s, d) => {
        import graft.raster.TileExprs
        val grid = t0Tiles(s, d, "v" -> col("user_id"))
        unpackTiles(grid, TileExprs.laplace3(col("data"), 16, 16), "opos", "v")
          .withColumn("lap", col("v").cast("long"))
          .groupBy("tile")
          .agg(count(lit(1)).as("n_out"), sum(col("lap")).as("sum_lap"),
            sum(abs(col("lap"))).as("sum_abs"),
            sum(col("lap") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Batched AOI × catalog spatial join (round 9, fourth wave) — "which
    // scenes intersect EACH of my study areas", the many-AOI form of the
    // catalog query (datacube users run one bbox at a time; a production
    // stats service runs thousands). SEMANTICS (the oracle) is the brute
    // cross-join bbox test; the PLAN decomposes each AOI into its
    // covered grid cells (entity-bounded explode — AOIs are small boxes
    // on the tile grid) and EQUI-joins scenes on the cell key: no
    // cartesian anywhere (PlanContractSpec pins it), the cell join is
    // the 2-D binned analogue of join_range_bucketed, and at archive
    // scale it is the S2/geohash cover-cells pattern verbatim. AOIs
    // derive from the nation table (10 deterministic 3×2 boxes).
    Q("eo_catalog_aoi_batch", Some(
      "WITH sc AS (SELECT event_id, CAST(user_id % 8 AS INTEGER) AS tile_x, " +
        "CAST(user_id % 5 AS INTEGER) AS tile_y FROM events), " +
        "aoi AS (SELECT n_nationkey AS aoi_id, n_nationkey % 5 AS x0, n_nationkey % 5 + 2 AS x1, " +
        "n_nationkey % 3 AS y0, n_nationkey % 3 + 1 AS y1 FROM nation WHERE n_nationkey < 10) " +
        "SELECT a.aoi_id, CAST(COUNT(*) AS BIGINT) AS n_scenes, " +
        "CAST(COUNT(DISTINCT s.tile_x * 5 + s.tile_y) AS BIGINT) AS n_tiles, " +
        "CAST(SUM(s.event_id) AS BIGINT) AS checksum " +
        "FROM aoi a JOIN sc s ON s.tile_x BETWEEN a.x0 AND a.x1 " +
        "AND s.tile_y BETWEEN a.y0 AND a.y1 " +
        "GROUP BY a.aoi_id ORDER BY a.aoi_id"),
      (s, d) => {
        val sc = T.events(s, d).select(col("event_id"),
          (col("user_id") % 8).cast("int").as("tile_x"),
          (col("user_id") % 5).cast("int").as("tile_y"))
        val aoi = T.nation(s, d).where(col("n_nationkey") < 10)
          .select(col("n_nationkey").as("aoi_id"),
            (col("n_nationkey") % 5).as("x0"), (col("n_nationkey") % 3).as("y0"))
        // cover cells: each AOI explodes into its (cx, cy) grid cells,
        // the scene side joins on the EQUI cell key — never a cross join
        val cells = aoi
          .select(col("aoi_id"),
            explode(sequence(col("x0"), col("x0") + 2)).as("cx"), col("y0"))
          .select(col("aoi_id"), col("cx"),
            explode(sequence(col("y0"), col("y0") + 1)).as("cy"))
        sc.join(broadcast(cells),
            col("tile_x") === col("cx").cast("int") &&
              col("tile_y") === col("cy").cast("int"))
          .groupBy("aoi_id")
          .agg(count(lit(1)).as("n_scenes"),
            countDistinct(col("tile_x") * 5 + col("tile_y")).as("n_tiles"),
            sum(col("event_id")).as("checksum"))
          .orderBy("aoi_id")
      }),

    // Focal variance (round 9, third wave) — local texture/heterogeneity
    // (the GLCM-free variance texture band of classification stacks),
    // COMPOSED from the existing stencil instead of a fourth kernel:
    // the 9·Σx² − (Σx)² variance numerator needs only focalSum3x3 over
    // the band AND over its square (x² ≤ 149² and its 9-sum stay exact
    // in float32, < 2²⁴). Both stencils run in ONE map-only projection
    // per tile — no join, no shuffle beyond the shared tile build — and
    // the integer combine happens on the exploded longs. Oracle spells
    // the same n·Σx²−S² over the 9-neighbor join.
    Q("eo_tile_focal_var", Some(
      gridSql("user_id", "v") +
        stencilSql("fs",
          "CAST(SUM(nb.v) AS BIGINT) AS sv, CAST(SUM(nb.v * nb.v) AS BIGINT) AS svv") + ", " +
        "vr AS (SELECT tile, opos, 9 * svv - sv * sv AS vn FROM fs) " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_out, " +
        "CAST(SUM(vn) AS BIGINT) AS sum_vn, " +
        "CAST(SUM(vn * (opos + 1)) AS BIGINT) AS checksum " +
        "FROM vr GROUP BY tile ORDER BY tile"),
      (s, d) => {
        import graft.raster.TileExprs
        val grid = t0Tiles(s, d, "v" -> col("user_id"))
        val both = grid.select(tileId,
          TileExprs.focal3(col("data"), 16, 16).as("fs"),
          TileExprs.focal3(transform(col("data"), e => e * e), 16, 16).as("fs2"))
        both.select(col("tile"),
            posexplode(arrays_zip(col("fs"), col("fs2"))).as(Seq("opos", "p")))
          .select(col("tile"), col("opos"),
            (lit(9L) * col("p.fs2").cast("long")
              - col("p.fs").cast("long") * col("p.fs").cast("long")).as("vn"))
          .groupBy("tile")
          .agg(count(lit(1)).as("n_out"), sum(col("vn")).as("sum_vn"),
            sum(col("vn") * (col("opos") + 1)).as("checksum"))
          .orderBy("tile")
      }),

    // Raster clump / sieve labeling (round 9, third wave) — GDAL's
    // sieve/clump and ODC's raster polygonization both start from
    // CONNECTED-COMPONENT LABELS of a mask under 4-adjacency. Pixels of
    // the t=0 detection mask (user_id parity, the eo_tile_morph mask)
    // become nodes keyed by GLOBAL pixel id (tile·256 + pos), in-tile
    // right/down neighbor pairs become edges (4-adjacency; ids already
    // canonically ordered), and the SAME star-contraction + size-gated
    // union-find machinery that labels duplicate clusters
    // (Llm.componentLabels) labels the clumps — min pixel id per clump,
    // deterministic. Edges never cross tiles, so at archive scale the
    // contraction is embarrassingly tile-local (a per-tile labeler in a
    // mapPartitions would also work; the shared machinery is preferred
    // over a second implementation). Oracle: the recursive-CTE closure
    // over the same adjacency.
    Q("eo_tile_clump", Some(
      maskClumpsSql +
        " SELECT p0.tile, cl.clump, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(SUM(p0.pid + 1) AS BIGINT) AS cksum " +
        "FROM cl JOIN p0 ON p0.pid = cl.pid " +
        "GROUP BY p0.tile, cl.clump ORDER BY p0.tile, cl.clump"),
      (s, d) => clumpRollup(maskPixels(s, d))),

    // Raster POLYGONIZE (round 12, VERDICT r11 item 5) — the
    // gdal_polygonize step that turns eo_tile_clump's labeled regions
    // into vector features (the raster→vector boundary of every
    // mapping product [PK]). A rectilinear region's geometry is fully
    // determined by integer invariants, so the ring walk becomes
    // RELATIONAL corner counting: at each corner-lattice point (17×17
    // per tile) the number k of region cells among its 4 surrounding
    // cells classifies the point — k=1 or 3 → one polygon vertex, k=2
    // with the two cells DIAGONAL (their quadrant codes q = dx+2·dy sum
    // to 3) → the boundary passes through twice = two vertices,
    // otherwise none. Perimeter = 4·area − 2·(internal 4-adjacencies).
    // Graded per region: area, perimeter, vertex count and the
    // order-free vertex-coordinate checksum Σ v·(cy·17+cx+1) — a wrong
    // ring anywhere moves some corner and breaks it. Each pixel fans
    // out to exactly 4 corner contributions (map-side combined), so
    // polygonize costs one extra (tile, clump, corner) partial agg over
    // the clump labeling — no walk, no driver loop, any archive scale.
    Q("eo_polygonize", Some(
      maskClumpsSql + ", " +
        "lp AS (SELECT p0.tile, p0.py, p0.px, p0.pid, cl.clump " +
        "FROM cl JOIN p0 ON p0.pid = cl.pid), " +
        "adjc AS (SELECT l.tile, l.clump, CAST(COUNT(*) AS BIGINT) AS n_adj " +
        "FROM ed JOIN lp l ON l.pid = ed.d1 GROUP BY l.tile, l.clump), " +
        "crn AS (SELECT tile, clump, px + dx AS cx, py + dy AS cy, " +
        "dx + 2 * dy AS qq FROM lp CROSS JOIN " +
        "(VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS c(dx, dy)), " +
        "vc AS (SELECT tile, clump, cx, cy, COUNT(*) AS k, SUM(qq) AS sq " +
        "FROM crn GROUP BY tile, clump, cx, cy), " +
        "vv AS (SELECT tile, clump, cx, cy, CASE WHEN k = 1 OR k = 3 THEN 1 " +
        "WHEN k = 2 AND sq = 3 THEN 2 ELSE 0 END AS v FROM vc), " +
        "ar AS (SELECT tile, clump, CAST(COUNT(*) AS BIGINT) AS area " +
        "FROM lp GROUP BY tile, clump), " +
        "vt AS (SELECT tile, clump, CAST(SUM(v) AS BIGINT) AS n_vertices, " +
        "CAST(SUM(v * (cy * 17 + cx + 1)) AS BIGINT) AS vx_checksum " +
        "FROM vv GROUP BY tile, clump) " +
        "SELECT ar.tile, ar.clump, ar.area, " +
        "CAST(4 * ar.area - 2 * COALESCE(adjc.n_adj, 0) AS BIGINT) AS perimeter, " +
        "vt.n_vertices, vt.vx_checksum " +
        "FROM ar JOIN vt ON vt.tile = ar.tile AND vt.clump = ar.clump " +
        "LEFT JOIN adjc ON adjc.tile = ar.tile AND adjc.clump = ar.clump " +
        "ORDER BY ar.tile, ar.clump"),
      (s, d) => {
        val (labRaw, pairs) = clumpLabeled(maskPixels(s, d))
        val labC = labRaw
          .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
        val adjc = pairs
          .join(labC.select(col("pid").as("d1"), col("tile").as("at"),
            col("cluster").as("ac")), "d1")
          .groupBy("at", "ac").agg(count(lit(1)).as("n_adj"))
        val crn = labC.select(col("tile"), col("cluster"), col("py"), col("px"),
            explode(array(Seq((0, 0), (1, 0), (0, 1), (1, 1)).map { case (dx, dy) =>
              struct(lit(dx).as("dx"), lit(dy).as("dy"))
            }: _*)).as("c"))
          .select(col("tile"), col("cluster"),
            (col("px") + col("c.dx")).as("cx"),
            (col("py") + col("c.dy")).as("cy"),
            (col("c.dx") + lit(2) * col("c.dy")).as("qq"))
        val vc = crn.groupBy("tile", "cluster", "cx", "cy")
          .agg(count(lit(1)).as("k"), sum("qq").as("sq"))
          .select(col("tile"), col("cluster"), col("cx"), col("cy"),
            when(col("k") === 1 || col("k") === 3, 1L)
              .when(col("k") === 2 && col("sq") === 3, 2L)
              .otherwise(0L).as("v"))
        val vt = vc.groupBy("tile", "cluster")
          .agg(sum("v").as("n_vertices"),
            sum(col("v") * (col("cy") * 17 + col("cx") + 1)).as("vx_checksum"))
        val ar = labC.groupBy("tile", "cluster").agg(count(lit(1)).as("area"))
        ar.join(vt, Seq("tile", "cluster"))
          .join(adjc, col("at") === col("tile") && col("ac") === col("cluster"),
            "left")
          .select(col("tile"), col("cluster").as("clump"), col("area"),
            (lit(4) * col("area") - lit(2) * coalesce(col("n_adj"), lit(0L)))
              .cast("long").as("perimeter"),
            col("n_vertices"), col("vx_checksum"))
          .orderBy("tile", "clump")
      }),

    // Latest-pixel mosaic (round 9, sixth wave) — the "most recent
    // clear observation" composite of every browse/monitoring service
    // (odc-stats `latest`; GEE mosaic()): per pixel group keep the
    // newest unmasked observation. Distinct from eo_tile_fuse (first
    // valid in DATASET-PRECEDENCE order within a load group): this is
    // max-time across the whole series under the cloud mask. One
    // window per pixel key, ties broken (t DESC, event_id DESC) —
    // value copied out as an exact scaled long (Det rule 1). Pixels
    // with zero clear observations drop out on both engines.
    Q("eo_composite_latest", Some(
      "SELECT user_id, event_id, t, " + sqlS6("value") + " AS v6 FROM (" +
        "SELECT user_id, event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t, value, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT) DESC, event_id DESC) AS rn " +
        "FROM events WHERE event_type <> 'error') x " +
        "WHERE rn = 1 ORDER BY user_id"),
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("t").desc, col("event_id").desc)
        T.events(s, d)
          .where(col("event_type") =!= "error")
          .select(col("user_id"), col("event_id"), epochS(col("ts")).as("t"),
            col("value"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("t"),
            s6(col("value")).as("v6"))
          .orderBy("user_id")
      }),

    // Theil–Sen robust trend (round 9, sixth wave) — the median-of-
    // pairwise-slopes change estimator the Landsat time-series
    // literature prefers over OLS for outlier-laden stacks (Sen 1968;
    // dense NDVI trend mapping): per pixel group, the median slope over
    // all observation pairs with distinct epoch-day x. Quadratic in the
    // TEMPORAL DEPTH ONLY (T observations per pixel → T²/2 pairs, T is
    // the archive revisit count, bounded at any spatial scale), pixels
    // independent — the per-pixel self-join shuffles once on the pixel
    // key and never crosses pixels. Each slope is ONE shared IEEE
    // divide s6-floored; the median is the doubled-grid exact pick
    // (odd: 2·mid, even: mid-pair sum — DuckDB MEDIAN(BIGINT)·2).
    Q("eo_theilsen", Some(
      "WITH b AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS x, " +
        sqlS2("value") + " AS y FROM events), " +
        "p AS (SELECT a.user_id, " +
        sqlS6("CAST(b2.y - a.y AS DOUBLE) / CAST(b2.x - a.x AS DOUBLE)") + " AS s6 " +
        "FROM b a JOIN b b2 ON b2.user_id = a.user_id AND b2.x > a.x) " +
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(MEDIAN(s6) * 2 AS BIGINT) AS slope2 " +
        "FROM p GROUP BY user_id ORDER BY user_id"),
      (s, d) => {
        val b = T.events(s, d)
          .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("x"),
            s2(col("value")).as("y"))
        val b2 = b.select(col("user_id").as("u2"), col("x").as("x2"),
          col("y").as("y2"))
        val pairs = b.join(b2,
            col("u2") === col("user_id") && col("x2") > col("x"))
          .select(col("user_id"),
            s6((col("y2") - col("y")).cast("double") /
              (col("x2") - col("x")).cast("double")).as("sl"))
        pairs.groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            sort_array(collect_list(col("sl"))).as("vs"))
          .select(col("user_id"), col("n_pairs"),
            expr("CASE WHEN size(vs) % 2 = 1 THEN element_at(vs, CAST((size(vs) + 1) DIV 2 AS INT)) * 2 " +
              "ELSE element_at(vs, CAST(size(vs) DIV 2 AS INT)) + " +
              "element_at(vs, CAST(size(vs) DIV 2 + 1 AS INT)) END").as("slope2"))
          .orderBy("user_id")
      }),

    // Mann–Kendall trend test (round 9, sixth wave) — eo_theilsen's
    // statistical companion: THE standard significance test the EO
    // change-detection literature pairs with the Sen slope (Mann 1945,
    // Kendall 1975; NDVI/water-level monotone-trend maps). The series is
    // first collapsed to one observation per epoch day (earliest by
    // (t, event_id) — a deterministic pick both engines share), then
    // S = Σ sign(y_j − y_i) over time-ordered day pairs is a PURE
    // INTEGER, the tie-corrected variance 18·Var(S) = n(n−1)(2n+5) −
    // Σ_t t(t−1)(2t+5) is exact int64 (n = temporal depth, bounded), and
    // the continuity-corrected Z is ONE shared IEEE sequence. Quadratic
    // in temporal depth only, like eo_theilsen; all shuffles on the
    // pixel key.
    Q("eo_mk_trend", Some(
      "WITH e AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS x, " +
        "CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t, event_id, " + sqlS2("value") + " AS y " +
        "FROM events), " +
        "d AS (SELECT user_id, x, y FROM (SELECT user_id, x, y, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id, x ORDER BY t, event_id) AS rn FROM e) z " +
        "WHERE rn = 1), " +
        "p AS (SELECT a.user_id, CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sg " +
        "FROM d a JOIN d b ON b.user_id = a.user_id AND b.x > a.x), " +
        "s AS (SELECT user_id, CAST(SUM(sg) AS BIGINT) AS s_stat FROM p GROUP BY user_id), " +
        "n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days FROM d GROUP BY user_id), " +
        "tg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS tc FROM d GROUP BY user_id, y), " +
        "tv AS (SELECT user_id, CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_adj " +
        "FROM tg GROUP BY user_id), " +
        "v AS (SELECT n.user_id, n_days, COALESCE(s_stat, 0) AS s_stat, " +
        "n_days * (n_days - 1) * (2 * n_days + 5) - tie_adj AS var18 " +
        "FROM n LEFT JOIN s ON s.user_id = n.user_id JOIN tv ON tv.user_id = n.user_id) " +
        "SELECT user_id, n_days, s_stat, " +
        "CASE WHEN var18 <= 0 THEN NULL " +
        "WHEN s_stat > 0 THEN " +
        sqlS6("CAST(s_stat - 1 AS DOUBLE) / SQRT(CAST(var18 AS DOUBLE) / 18.0)") + " " +
        "WHEN s_stat < 0 THEN " +
        sqlS6("CAST(s_stat + 1 AS DOUBLE) / SQRT(CAST(var18 AS DOUBLE) / 18.0)") + " " +
        "ELSE 0 END AS z6 FROM v ORDER BY user_id"),
      (s, dd) => {
        val w = Window.partitionBy("user_id", "x").orderBy(col("t"), col("event_id"))
        val d = T.events(s, dd)
          .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("x"),
            epochS(col("ts")).as("t"), col("event_id"), s2(col("value")).as("y"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select("user_id", "x", "y")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val b = d.select(col("user_id").as("u2"), col("x").as("x2"), col("y").as("y2"))
        val sStat = d.join(b, col("u2") === col("user_id") && col("x2") > col("x"))
          .select(col("user_id"),
            when(col("y2") > col("y"), 1L).when(col("y2") < col("y"), -1L)
              .otherwise(0L).as("sg"))
          .groupBy("user_id").agg(sum(col("sg")).as("s_stat"))
        val n = d.groupBy("user_id").agg(count(lit(1)).as("n_days"))
        val tv = d.groupBy("user_id", "y").agg(count(lit(1)).as("tc"))
          .groupBy("user_id")
          .agg(sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5)).as("tie_adj"))
        val v = n.join(sStat, Seq("user_id"), "left").join(tv, "user_id")
          .select(col("user_id"), col("n_days"),
            coalesce(col("s_stat"), lit(0L)).as("s_stat"),
            (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5) -
              col("tie_adj")).as("var18"))
        val sd = sqrt(col("var18").cast("double") / lit(18.0))
        v.select(col("user_id"), col("n_days"), col("s_stat"),
            when(col("var18") <= 0, lit(null))
              .when(col("s_stat") > 0, s6((col("s_stat") - 1).cast("double") / sd))
              .when(col("s_stat") < 0, s6((col("s_stat") + 1).cast("double") / sd))
              .otherwise(lit(0L)).as("z6"))
          .orderBy("user_id")
      }),

    // Raster sieve (round 9, sixth wave) — GDAL's sieve filter, the
    // standard cleanup AFTER clump labeling (eo_tile_clump): remove
    // connected components smaller than the minimum mapping unit
    // (3 px here) and report per tile what survived. Same 4-adjacency
    // machinery (clumpRollup → Llm.componentLabels star contraction,
    // tile-local edges so contraction stays tile-bounded at archive
    // scale) plus ONE clump-count-sized aggregate on top; the oracle
    // extends the recursive-closure clump oracle with the same HAVING
    // rollup. Pixel checksums pin WHICH pixels survived, not just how
    // many.
    Q("eo_tile_sieve", Some(
      maskClumpsSql + ", " +
        "cs AS (SELECT p0.tile, cl.clump, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(SUM(p0.pid + 1) AS BIGINT) AS cksum " +
        "FROM cl JOIN p0 ON p0.pid = cl.pid GROUP BY p0.tile, cl.clump) " +
        "SELECT tile, " +
        "CAST(SUM(CASE WHEN n_px >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clumps_kept, " +
        "CAST(SUM(CASE WHEN n_px >= 3 THEN n_px ELSE 0 END) AS BIGINT) AS n_px_kept, " +
        "CAST(SUM(CASE WHEN n_px < 3 THEN n_px ELSE 0 END) AS BIGINT) AS n_px_removed, " +
        "CAST(SUM(CASE WHEN n_px >= 3 THEN cksum ELSE 0 END) AS BIGINT) AS cksum_kept " +
        "FROM cs GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val kept = col("n_px") >= 3
        clumpRollup(maskPixels(s, d))
          .groupBy("tile")
          .agg(sum(when(kept, 1L).otherwise(0L)).as("n_clumps_kept"),
            sum(when(kept, col("n_px")).otherwise(0L)).as("n_px_kept"),
            sum(when(!kept, col("n_px")).otherwise(0L)).as("n_px_removed"),
            sum(when(kept, col("cksum")).otherwise(0L)).as("cksum_kept"))
          .orderBy("tile")
      }),

    // Harmonic seasonal fit (round 9, sixth wave) — the single-
    // frequency harmonic regression y = a + β·cos(ωd) + γ·sin(ωd)
    // (ω = 2π/365) behind CCDC/Landsat phenology models and the
    // odc-stats seasonal products: per pixel, the seasonal AMPLITUDE
    // and mean level. Trig enters ONCE per row and is s6-QUANTIZED
    // immediately (the eo_reproject coarse-grid rule: a 1-ulp trig
    // library difference flips a 1e-6 floor only on razor-edge inputs,
    // absent from this 366-value domain) — after that every moment is
    // an exact int64 and the 3×3 Cramer solve is ONE fixed double
    // sequence per pixel (the agg_ols_multi construction with
    // (cos, sin) as the two predictors). One partial-agg shuffle on
    // the pixel key; amplitude = √(B²+Γ²) in cents via the IEEE-exact
    // sqrt, never POWER.
    Q("eo_harmonic", Some {
      def D(x: String) = s"CAST($x AS DOUBLE)"
      val (n, sc, ss, sy) = (D("n"), D("sc"), D("ss"), D("sy"))
      val (scc, scs, sss, syc, sys) =
        (D("scc"), D("scs"), D("sss"), D("syc"), D("sys"))
      val det = s"($n * ($scc * $sss - $scs * $scs) - $sc * ($sc * $sss - $scs * $ss) + " +
        s"$ss * ($sc * $scs - $scc * $ss))"
      val det0 = s"($sy * ($scc * $sss - $scs * $scs) - $syc * ($sc * $sss - $ss * $scs) + " +
        s"$sys * ($sc * $scs - $ss * $scc))"
      val det1 = s"($n * ($syc * $sss - $scs * $sys) - $sc * ($sy * $sss - $ss * $sys) + " +
        s"$ss * ($sy * $scs - $ss * $syc))"
      val det2 = s"($n * ($scc * $sys - $syc * $scs) - $sc * ($sc * $sys - $sy * $scs) + " +
        s"$ss * ($sc * $syc - $sy * $scc))"
      val bb = s"($det1 / $det * 1e6)"
      val gg = s"($det2 / $det * 1e6)"
      "WITH b AS (SELECT user_id, " +
        "(CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400) % 365 AS yday, " +
        sqlS2("value") + " AS y FROM events), " +
        "q AS (SELECT user_id, y, " +
        sqlS6("COS(2.0 * PI() * CAST(yday AS DOUBLE) / 365.0)") + " AS c6, " +
        sqlS6("SIN(2.0 * PI() * CAST(yday AS DOUBLE) / 365.0)") + " AS s6 " +
        "FROM b), " +
        "m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(c6) AS BIGINT) AS sc, CAST(SUM(s6) AS BIGINT) AS ss, " +
        "CAST(SUM(y) AS BIGINT) AS sy, " +
        "CAST(SUM(c6 * c6) AS BIGINT) AS scc, CAST(SUM(c6 * s6) AS BIGINT) AS scs, " +
        "CAST(SUM(s6 * s6) AS BIGINT) AS sss, " +
        "CAST(SUM(y * c6) AS BIGINT) AS syc, CAST(SUM(y * s6) AS BIGINT) AS sys " +
        "FROM q GROUP BY user_id) " +
        "SELECT user_id, n, " +
        s"CASE WHEN $det <= 0.0 THEN NULL ELSE " +
        sqlS0(s"$det0 / $det") + " END AS mean_c, " +
        s"CASE WHEN $det <= 0.0 THEN NULL ELSE " +
        sqlS0(s"SQRT($bb * $bb + $gg * $gg)") + " END AS amp_c " +
        "FROM m ORDER BY user_id"
    },
      (s, dd) => {
        val ang = lit(2.0) * lit(math.Pi) * col("yday").cast("double") / lit(365.0)
        val q = T.events(s, dd)
          .select(col("user_id"),
            (expr("unix_timestamp(ts) div 86400") % 365).as("yday"),
            s2(col("value")).as("y"))
          .select(col("user_id"), col("y"),
            s6(cos(ang)).as("c6"), s6(sin(ang)).as("s6"))
        val m = q.groupBy("user_id").agg(count(lit(1)).as("n"),
          sum(col("c6")).as("sc"), sum(col("s6")).as("ss"), sum(col("y")).as("sy"),
          sum(col("c6") * col("c6")).as("scc"), sum(col("c6") * col("s6")).as("scs"),
          sum(col("s6") * col("s6")).as("sss"),
          sum(col("y") * col("c6")).as("syc"), sum(col("y") * col("s6")).as("sys"))
        def D(c: String) = col(c).cast("double")
        val (n, sc, ss, sy) = (D("n"), D("sc"), D("ss"), D("sy"))
        val (scc, scs, sss, syc, sys) = (D("scc"), D("scs"), D("sss"), D("syc"), D("sys"))
        val det = n * (scc * sss - scs * scs) - sc * (sc * sss - scs * ss) +
          ss * (sc * scs - scc * ss)
        val det0 = sy * (scc * sss - scs * scs) - syc * (sc * sss - ss * scs) +
          sys * (sc * scs - ss * scc)
        val det1 = n * (syc * sss - scs * sys) - sc * (sy * sss - ss * sys) +
          ss * (sy * scs - ss * syc)
        val det2 = n * (scc * sys - syc * scs) - sc * (sc * sys - sy * scs) +
          ss * (sc * syc - sy * scc)
        val bb = det1 / det * lit(1e6); val gg = det2 / det * lit(1e6)
        m.select(col("user_id"), col("n"),
            when(det <= 0.0, lit(null)).otherwise(s0(det0 / det)).as("mean_c"),
            when(det <= 0.0, lit(null))
              .otherwise(s0(sqrt(bb * bb + gg * gg))).as("amp_c"))
          .orderBy("user_id")
      }),

    // Grid distance transform (round 9, sixth wave) — Manhattan
    // distance to the nearest masked pixel, the "distance to cloud"
    // proximity band fmask-family pipelines buffer their masks with
    // (and GDAL's gdal_proximity): K=8 min-plus relaxation rounds of
    // dist ← min(dist, 1 + min over 4-neighbors) — graph_bfs's
    // relational Bellman-Ford step ON THE RASTER GRID, tile-local
    // (cross-tile proximity composes via the halo contract). 999 is
    // the beyond-K sentinel on BOTH engines (no NULL/LEAST divergence);
    // K bounds the traceable distance, fixed and shared with the
    // unrolled all-stages-MATERIALIZED oracle chain (the graph_kcore
    // feasibility lesson). Spark rounds localCheckpoint so the plan
    // stays linear in K. Output is the per-tile distance histogram
    // (≤ K+2 rows per tile) with a position checksum.
    Q("eo_tile_distance", Some {
      val rounds = (1 to DistRounds).map { k =>
        val prev = s"d${k - 1}"
        s"nb$k AS MATERIALIZED (SELECT tile, py, px, MIN(dist) AS mind FROM (" +
          s"SELECT tile, py + 1 AS py, px, dist FROM $prev " +
          s"UNION ALL SELECT tile, py - 1, px, dist FROM $prev " +
          s"UNION ALL SELECT tile, py, px + 1, dist FROM $prev " +
          s"UNION ALL SELECT tile, py, px - 1, dist FROM $prev) u " +
          s"GROUP BY tile, py, px), " +
          s"d$k AS MATERIALIZED (SELECT p.tile, p.py, p.px, " +
          s"LEAST(p.dist, COALESCE(nb.mind, 999) + 1) AS dist " +
          s"FROM $prev p LEFT JOIN nb$k nb ON nb.tile = p.tile AND nb.py = p.py AND nb.px = p.px)"
      }.mkString(", ")
      "WITH " + fullTilesSql(PyPxSql, "user_id % 2 AS m") + ", " +
        "d0 AS MATERIALIZED (SELECT p.tile, py, px, " +
        "CASE WHEN m = 1 THEN 0 ELSE 999 END AS dist " +
        "FROM px p JOIN full_t USING (tile) WHERE t = 0), " +
        rounds +
        s" SELECT tile, CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        s"CAST(SUM(py * 16 + px + 1) AS BIGINT) AS cksum " +
        s"FROM d$DistRounds GROUP BY tile, dist ORDER BY tile, dist"
    },
      (s, d) => {
        // SHUFFLE-ONCE since round 12 (the flowAccPacked discipline,
        // VERDICT r11 item 8): the K=8 min-plus relaxation never leaves
        // a tile, so tiles pack to 256-long distance arrays in ONE
        // groupBy and all rounds run as stacked map-only projections —
        // the former plan paid a union + agg + join + localCheckpoint
        // per round (~16 Exchanges, 8 jobs). The oracle keeps its
        // unrolled MATERIALIZED chain; each packed round computes the
        // identical LEAST(d, min valid-neighbor + 1). The LAZY
        // localCheckpoint per round is load-bearing: a plain stacked
        // chain of these projections sent the OPTIMIZER into a
        // multi-GB blowup (measured — GC death spiral before the first
        // task), so each round's logical plan is cut to a LogicalRDD
        // WITHOUT paying an eager materialization job; execution still
        // happens inside the one consuming action.
        var packed = eventPixels(s, d, tilePos, (col("user_id") % 2).as("m"))
          .where(col("t") === 0)
          .groupBy("tile")
          .agg(transform(array_sort(collect_list(struct(col("pos"),
            when(col("m") === 1, 0L).otherwise(999L).as("dv")))),
            e => e.getField("dv")).as("darr"),
            count(lit(1)).as("c"))
          .where(col("c") === 256)
          .select("tile", "darr")
        val idx = sequence(lit(0), lit(255))
        def pyOf(p: Column) = shiftright(p, 4)
        def pxOf(p: Column) = p.bitwiseAND(lit(15))
        for (_ <- 1 to DistRounds) {
          val next = transform(idx, p => {
            val nbMin = Seq((-1, 0), (1, 0), (0, -1), (0, 1)).map {
              case (dy, dx) =>
                val np = p + lit(dy * 16 + dx)
                when(pyOf(p) + dy >= 0 && pyOf(p) + dy <= 15 &&
                  pxOf(p) + dx >= 0 && pxOf(p) + dx <= 15,
                  element_at(col("darr"), np + 1)).otherwise(lit(999L))
            }.reduce(least(_, _))
            least(element_at(col("darr"), p + 1), nbMin + 1)
          })
          packed = packed.select(col("tile"), next.as("darr"))
            .localCheckpoint(false)
        }
        packed
          .select(col("tile"), posexplode(col("darr")).as(Seq("pos", "dist")))
          .groupBy(col("tile"), col("dist"))
          .agg(count(lit(1)).as("n_px"),
            // py*16 + px + 1 = pos + 1 on the row-major layout
            sum((col("pos") + 1).cast("long")).as("cksum"))
          .orderBy("tile", "dist")
      }),

    // Catalog spatial kNN (round 9, sixth wave) — "the 3 nearest scene
    // footprints to each AOI point", the catalog query behind
    // find-closest-acquisition tooling: scene CENTERS are the distinct
    // (tile_x, tile_y) grid cells with their acquisition counts (the
    // catalog dictionary — metadata-sized at any archive scale, like
    // join_fuzzy's vocabulary), AOI points come from the nation grid.
    // Distance is SQUARED integer Euclidean (no √ — monotone, so the
    // ranking is exact), per-point top-3 via a window that Catalyst
    // plans as a WindowGroupLimit heap, ties pinned (d2, tile_x,
    // tile_y). The dictionary broadcasts; the nested-loop is
    // points × dictionary, never points × acquisitions.
    Q("join_spatial_knn", Some(
      "WITH sc AS (SELECT CAST(user_id % 8 AS INTEGER) AS tile_x, " +
        "CAST(user_id % 5 AS INTEGER) AS tile_y, CAST(COUNT(*) AS BIGINT) AS n_acq " +
        "FROM events GROUP BY 1, 2), " +
        "pt AS (SELECT n_nationkey AS aoi_id, CAST(n_nationkey % 11 AS INTEGER) AS px, " +
        "CAST(n_nationkey % 7 AS INTEGER) AS py FROM nation), " +
        "d AS (SELECT aoi_id, tile_x, tile_y, n_acq, " +
        "CAST((tile_x - px) * (tile_x - px) + (tile_y - py) * (tile_y - py) AS BIGINT) AS d2, " +
        "ROW_NUMBER() OVER (PARTITION BY aoi_id " +
        "ORDER BY (tile_x - px) * (tile_x - px) + (tile_y - py) * (tile_y - py), tile_x, tile_y) AS rn " +
        "FROM pt CROSS JOIN sc) " +
        "SELECT aoi_id, CAST(rn AS INTEGER) AS rn, tile_x, tile_y, d2, n_acq " +
        "FROM d WHERE rn <= 3 ORDER BY aoi_id, rn"),
      (s, d) => {
        val sc = T.events(s, d)
          .groupBy((col("user_id") % 8).cast("int").as("tile_x"),
            (col("user_id") % 5).cast("int").as("tile_y"))
          .agg(count(lit(1)).as("n_acq"))
        val pt = T.nation(s, d).select(col("n_nationkey").as("aoi_id"),
          (col("n_nationkey") % 11).cast("int").as("px"),
          (col("n_nationkey") % 7).cast("int").as("py"))
        val d2 = ((col("tile_x") - col("px")) * (col("tile_x") - col("px")) +
          (col("tile_y") - col("py")) * (col("tile_y") - col("py"))).cast("long")
        val w = Window.partitionBy("aoi_id")
          .orderBy(((col("tile_x") - col("px")) * (col("tile_x") - col("px")) +
            (col("tile_y") - col("py")) * (col("tile_y") - col("py"))).asc,
            col("tile_x"), col("tile_y"))
        pt.crossJoin(broadcast(sc))
          .withColumn("d2", d2)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select("aoi_id", "rn", "tile_x", "tile_y", "d2", "n_acq")
          .orderBy("aoi_id", "rn")
      }),

    // Tile texture entropy (round 9, sixth wave) — the histogram-
    // entropy texture band of land-cover classification stacks (the
    // information-theoretic sibling of eo_tile_focal_var's variance
    // texture): Shannon entropy of each full tile's 16-bin DN
    // histogram. Rides eo_tile_histogram's exact binning; each
    // -(c/256)·ln(c/256) term is s6-floored BEFORE the order-free
    // per-tile sum (the agg_entropy discipline). Two partial-agg
    // shuffles on the tile key, map-side combinable.
    Q("eo_texture_entropy", Some(
      "WITH " + fullTilesSql("", "CAST(user_id AS BIGINT) AS v") + ", " +
        "h AS (" + tileBinsSql("CAST(COUNT(*) AS BIGINT) AS c") + ") " +
        "SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_bins, " +
        "CAST(SUM(" +
        sqlS6("-(CAST(c AS DOUBLE) / 256.0) * " + sqlLnRatio("c", "256")) +
        ") AS BIGINT) AS entropy6 " +
        "FROM h GROUP BY tile ORDER BY tile"),
      (s, d) => {
        val h = tileBins(s, d).agg(count(lit(1)).as("c"))
        val p = col("c").cast("double") / lit(256.0)
        h.select(col("tile"), s6(-p * lnRatio(col("c"), lit(256L))).as("e6"))
          .groupBy("tile")
          .agg(count(lit(1)).as("n_bins"), sum(col("e6")).as("entropy6"))
          .orderBy("tile")
      }),

    // Brovey ratio pansharpening (round 10) — the standard fusion step
    // that sharpens low-resolution multispectral bands with a co-located
    // high-resolution panchromatic band: out_b = 3·band·pan/(r+g+b)
    // [Pohl & van Genderen 1998 review; the GDAL pansharpen default].
    // Bands are synthesized integers from each event row (cent digits +
    // user/event residues — the eo_bandmath discipline), so numerator
    // products are exact int64 and the ratio is ONE shared IEEE
    // multiply/divide sequence per band, s6-floored (Det rule 3).
    // Map-only: no shuffle at any scale; at 100 TB this is a pure
    // codegen'd projection over the fused scan.
    Q("eo_pansharpen", Some(
      "WITH b AS (SELECT event_id, " + sqlS2("value") + " AS cents, user_id FROM events), " +
        "c AS (SELECT event_id, cents % 256 AS r, (cents // 256) % 256 AS g, " +
        "user_id % 256 AS bl, 1 + event_id % 255 AS pan FROM b) " +
        "SELECT event_id, CAST(r + g + bl AS BIGINT) AS intens, " +
        "CASE WHEN r + g + bl = 0 THEN NULL ELSE " +
        sqlS6("3.0 * r * pan / (r + g + bl)") + " END AS r6, " +
        "CASE WHEN r + g + bl = 0 THEN NULL ELSE " +
        sqlS6("3.0 * g * pan / (r + g + bl)") + " END AS g6, " +
        "CASE WHEN r + g + bl = 0 THEN NULL ELSE " +
        sqlS6("3.0 * bl * pan / (r + g + bl)") + " END AS b6 " +
        "FROM c ORDER BY event_id"),
      (s, d) => {
        val den = col("r") + col("g") + col("bl")
        def sharp(b: Column) =
          when(den === 0, lit(null))
            .otherwise(s6(lit(3.0) * b * col("pan") / den))
        T.events(s, d)
          .select(col("event_id"), s2(col("value")).as("cents"), col("user_id"))
          .select(col("event_id"),
            (col("cents") % 256).as("r"),
            (expr("cents div 256") % 256).as("g"),
            (col("user_id") % 256).as("bl"),
            (lit(1) + col("event_id") % 255).as("pan"))
          .select(col("event_id"), den.cast("long").as("intens"),
            sharp(col("r")).as("r6"), sharp(col("g")).as("g6"),
            sharp(col("bl")).as("b6"))
          .orderBy("event_id")
      }),

    // Marching-squares contour cases (round 10) — the isoline-extraction
    // primitive behind every contour/coastline product [Lorensen & Cline
    // 1987's 2-D form]: each interior 2×2 pixel cell classifies into one
    // of 16 topology cases by thresholding its four corners (bit weights
    // TL=8 TR=4 BL=2 BR=1); the per-tile case histogram is the graded
    // surface (cases 1..14 are the crossing cells a vectorizer would
    // emit segments for). Instead of a 4-way self-join, each pixel
    // EXPLODES into the ≤4 cells it corners (a broadcast 2×2 offset
    // grid) and one (tile, cy, cx) partial agg sums the bit weights —
    // at archive scale that is one map-side-combined shuffle of
    // tile-local keys, no join on pixel coordinates at all. Pure
    // integer comparisons — no float topology ambiguity.
    Q("eo_tile_contour", Some(
      "WITH " + fullTilesSql(
        "((event_id // 4) % 256) // 16 AS py, ((event_id // 4) % 256) % 16 AS qx, ",
        "CASE WHEN user_id >= 64 THEN 1 ELSE 0 END AS b") + ", " +
        "corners AS (SELECT p.tile, p.py - dr AS cy, p.qx - dc AS cx, " +
        "(CASE WHEN dr = 0 AND dc = 0 THEN 8 WHEN dr = 0 THEN 4 " +
        "WHEN dc = 0 THEN 2 ELSE 1 END) * p.b AS wb " +
        "FROM px p JOIN full_t USING (tile) " +
        "CROSS JOIN (SELECT UNNEST([0, 1]) AS dr) r " +
        "CROSS JOIN (SELECT UNNEST([0, 1]) AS dc) c " +
        "WHERE p.t = 0 AND p.py - dr BETWEEN 0 AND 14 AND p.qx - dc BETWEEN 0 AND 14), " +
        "cells AS (SELECT tile, cy, cx, CAST(SUM(wb) AS BIGINT) AS mcase " +
        "FROM corners GROUP BY tile, cy, cx) " +
        "SELECT tile, mcase, CAST(COUNT(*) AS BIGINT) AS n_cells " +
        "FROM cells GROUP BY tile, mcase ORDER BY tile, mcase"),
      (s, d) => {
        val px = eventPixels(s, d, Seq(expr("((event_id div 4) % 256) div 16").as("py"),
            expr("((event_id div 4) % 256) % 16").as("qx")),
          when(col("user_id") >= 64, 1).otherwise(0).as("b"))
        val offs = s.range(0, 2).select(col("id").as("dr"))
          .crossJoin(s.range(0, 2).select(col("id").as("dc")))
        val wb = when(col("dr") === 0 && col("dc") === 0, 8)
          .when(col("dr") === 0, 4).when(col("dc") === 0, 2).otherwise(1) * col("b")
        onFullTiles(px, col("t") === 0)
          .crossJoin(broadcast(offs))
          .select(col("tile"), (col("py") - col("dr")).as("cy"),
            (col("qx") - col("dc")).as("cx"), wb.as("wb"))
          .where(col("cy").between(0, 14) && col("cx").between(0, 14))
          .groupBy("tile", "cy", "cx")
          .agg(sum(col("wb")).as("mcase"))
          .groupBy("tile", "mcase")
          .agg(count(lit(1)).as("n_cells"))
          .orderBy("tile", "mcase")
      }),

    // Polygon–polygon overlay (round 13, VERDICT r12 item 5) — the
    // intersection-area census between scene FOOTPRINTS and AOI polygons
    // (the ODC `geopolygon` load path [PK]: "which scenes overlap my
    // AOI, and by how much" — the query every EO archive answers before
    // loading a single pixel), EXACT on the integer grid. Footprints are
    // deterministic rectangles on join_pip's 256-grid (origin
    // (event_id%256, event_id·37 % 256), sides 8 + id-derived %25 — see
    // the fp comment for why user_id is unusable). The three AOIs are
    // RECTILINEAR polygons (L, T, plain rect — axis-aligned edges), each
    // carried in TWO literal broadcast dictionaries: the ORIENTED EDGE
    // list, from which the graded aoi_area is derived relationally by
    // the exact shoelace sum Σ(x1·y2 − x2·y1) = 2A (all int64, the
    // closed-loop identity; GeometrySpec re-derives it scalar-side and
    // against a brute-force rasterization), and a DISJOINT-RECTANGLE
    // decomposition (hand-decomposed constants; the spec proves
    // Σ rect areas == shoelace area), against which rect∩rect clipping
    // is the exact integer max(0, min−max) product — so every
    // intersection area is exact without rational edge-edge points.
    // Plan shape: footprints ⋈ broadcast AOI-bbox prefilter → ⋈
    // broadcast rect dictionary → one (scene, aoi) partial agg → one
    // aoi rollup; fan-out is |footprints in bbox| × |rects of that AOI|
    // (dictionary-bounded, the join_pip discipline) — never
    // |scenes| × |all AOI edges|. Graded per AOI: the shoelace area,
    // hit census, total overlap area, id checksum and the best-scene
    // IoU (s6 of exact integers).
    Q("eo_polygon_overlay", Some {
      val edges = OverlayAois.zipWithIndex.map { case (p, id) =>
        p.indices.map { i =>
          val (x1, y1) = p(i); val (x2, y2) = p((i + 1) % p.size)
          s"($id, $x1, $y1, $x2, $y2)"
        }.mkString(", ")
      }.mkString(", ")
      val rects = OverlayAoiRects.zipWithIndex.flatMap { case (rs, id) =>
        rs.map { case (x0, y0, x1, y1) => s"($id, $x0, $y0, $x1, $y1)" }
      }.mkString(", ")
      val bboxes = OverlayAois.zipWithIndex.map { case (p, id) =>
        s"($id, ${p.map(_._1).min}, ${p.map(_._2).min}, " +
          s"${p.map(_._1).max}, ${p.map(_._2).max})"
      }.mkString(", ")
      s"WITH ed(aoi_id, x1, y1, x2, y2) AS (VALUES $edges), " +
        s"rc(aoi_id, rx0, ry0, rx1, ry1) AS (VALUES $rects), " +
        s"bb(aoi_id, bx0, by0, bx1, by1) AS (VALUES $bboxes), " +
        "sh AS (SELECT aoi_id, CAST(ABS(SUM(x1 * y2 - x2 * y1)) // 2 AS BIGINT) AS aoi_area " +
        "FROM ed GROUP BY aoi_id), " +
        // footprint geometry derives from event_id alone (×37/×13 are
        // odd → bijections mod 256): user_id spans only 0..14 at
        // sf0.001, so a user_id-derived dimension would leave every
        // footprint below the AOIs (measured — the degenerate-lane rule)
        "fp AS (SELECT event_id AS scene_id, " +
        "event_id % 256 AS fx0, (event_id * 37) % 256 AS fy0, " +
        "event_id % 256 + 8 + event_id % 25 AS fx1, " +
        "(event_id * 37) % 256 + 8 + (event_id * 13) % 25 AS fy1 FROM events), " +
        "cand AS (SELECT fp.*, bb.aoi_id FROM fp JOIN bb " +
        "ON fp.fx0 < bb.bx1 AND fp.fx1 > bb.bx0 AND fp.fy0 < bb.by1 AND fp.fy1 > bb.by0), " +
        "ia AS (SELECT c.scene_id, c.aoi_id, " +
        "(c.fx1 - c.fx0) * (c.fy1 - c.fy0) AS fp_area, " +
        "CAST(SUM(GREATEST(0, LEAST(c.fx1, r.rx1) - GREATEST(c.fx0, r.rx0)) * " +
        "GREATEST(0, LEAST(c.fy1, r.ry1) - GREATEST(c.fy0, r.ry0))) AS BIGINT) AS inter " +
        "FROM cand c JOIN rc r ON r.aoi_id = c.aoi_id " +
        "GROUP BY c.scene_id, c.aoi_id, fp_area), " +
        "hit AS (SELECT ia.*, sh.aoi_area FROM ia JOIN sh ON sh.aoi_id = ia.aoi_id " +
        "WHERE ia.inter > 0) " +
        "SELECT aoi_id, MAX(aoi_area) AS aoi_area, " +
        "CAST(COUNT(*) AS BIGINT) AS n_scenes, " +
        "CAST(SUM(inter) AS BIGINT) AS inter_sum, " +
        "CAST(SUM(scene_id) AS BIGINT) AS checksum, " +
        "CAST(MAX(" +
        sqlS6("CAST(inter AS DOUBLE) / CAST(fp_area + aoi_area - inter AS DOUBLE)") +
        ") AS BIGINT) AS max_iou6 " +
        "FROM hit GROUP BY aoi_id ORDER BY aoi_id"
    },
      (s, d) => {
        val sq = s
        import sq.implicits._
        val ed = OverlayAois.zipWithIndex.flatMap { case (p, id) =>
          p.indices.map { i =>
            val (x1, y1) = p(i); val (x2, y2) = p((i + 1) % p.size)
            (id, x1.toLong, y1.toLong, x2.toLong, y2.toLong)
          }
        }.toDF("aoi_id", "x1", "y1", "x2", "y2")
        val rc = OverlayAoiRects.zipWithIndex.flatMap { case (rs, id) =>
          rs.map { case (x0, y0, x1, y1) =>
            (id, x0.toLong, y0.toLong, x1.toLong, y1.toLong)
          }
        }.toDF("aoi_id", "rx0", "ry0", "rx1", "ry1")
        val bb = OverlayAois.zipWithIndex.map { case (p, id) =>
          (id, p.map(_._1).min.toLong, p.map(_._2).min.toLong,
            p.map(_._1).max.toLong, p.map(_._2).max.toLong)
        }.toDF("aoi_id", "bx0", "by0", "bx1", "by1")
        val sh = ed.groupBy("aoi_id")
          .agg((abs(sum(col("x1") * col("y2") - col("x2") * col("y1"))) / 2)
            .cast("long").as("aoi_area"))
        val fp = T.events(s, d).select(
          col("event_id").as("scene_id"),
          (col("event_id") % 256).as("fx0"),
          (col("event_id") * 37 % 256).as("fy0"),
          (col("event_id") % 256 + 8 + col("event_id") % 25).as("fx1"),
          (col("event_id") * 37 % 256 + 8 + col("event_id") * 13 % 25).as("fy1"))
        val cand = fp.join(broadcast(bb),
          col("fx0") < col("bx1") && col("fx1") > col("bx0") &&
            col("fy0") < col("by1") && col("fy1") > col("by0"))
        val clip =
          greatest(lit(0L), least(col("fx1"), col("rx1")) - greatest(col("fx0"), col("rx0"))) *
            greatest(lit(0L), least(col("fy1"), col("ry1")) - greatest(col("fy0"), col("ry0")))
        val ia = cand.join(broadcast(rc), "aoi_id")
          .groupBy(col("scene_id"), col("aoi_id"),
            ((col("fx1") - col("fx0")) * (col("fy1") - col("fy0"))).as("fp_area"))
          .agg(sum(clip).as("inter"))
        val iou = s6(col("inter").cast("double") /
          (col("fp_area") + col("aoi_area") - col("inter")).cast("double"))
        ia.join(broadcast(sh), "aoi_id")
          .where(col("inter") > 0)
          .groupBy("aoi_id")
          .agg(max(col("aoi_area")).as("aoi_area"),
            count(lit(1)).as("n_scenes"),
            sum(col("inter")).as("inter_sum"),
            sum(col("scene_id")).as("checksum"),
            max(iou).as("max_iou6"))
          .orderBy("aoi_id")
      }),

    // Inverse-distance-weighted gridding (round 14, VERDICT r13 item 6)
    // [PK: gdal_grid invdist with max radius — the geostatistics step
    // between sparse station observations and a raster product]:
    // stations are a hash-derandomized 1/20 draw of events, placed on
    // the 256-grid by the odd-multiplier bijections (event_id·37 /
    // ·13 mod 256 — the eo_polygon_overlay geometry rule; user_id is
    // too narrow), and each 16-px target cell (center (16gx+8,
    // 16gy+8)) averages the stations of its 3×3 CELL RING with weight
    // floor(1e6/(d²+1)) — the +1 removes the exact-hit pole; weights,
    // products and the final halfUpDiv are pure int64 (w ≤ 1e6,
    // v6 ≤ 5e8 → term ≤ 5e14; ~180 ring stations/cell at sf0.1 →
    // Σ ≤ 1e17, ~90× inside int64 even at a 10× corpus). SEMANTICS is
    // ring-bounded IDW; the PLAN is the cover-cell EQUI-join — each
    // target explodes its 9 ring cells and stations join on their cell
    // id (the eo_catalog_aoi_batch pattern: never all-pairs, so the
    // neighbor search shards by cell at archive scale).
    Q("eo_idw", Some(
      "WITH st AS (SELECT (event_id * 37) % 256 AS sx, (event_id * 13) % 256 AS sy, " +
        sqlS6("value") + " AS v6 FROM events " +
        "WHERE " + sqlHash32("'idw:' || CAST(event_id AS VARCHAR)") + " % 20 = 0), " +
        "g AS (SELECT gx.g AS gx, gy.g AS gy FROM " +
        "(SELECT UNNEST(RANGE(0, 16)) AS g) gx, (SELECT UNNEST(RANGE(0, 16)) AS g) gy), " +
        "nb AS (SELECT g.gx, g.gy, st.v6, " +
        "(st.sx - (g.gx * 16 + 8)) * (st.sx - (g.gx * 16 + 8)) + " +
        "(st.sy - (g.gy * 16 + 8)) * (st.sy - (g.gy * 16 + 8)) AS d2 " +
        "FROM g JOIN st ON st.sx // 16 BETWEEN g.gx - 1 AND g.gx + 1 " +
        "AND st.sy // 16 BETWEEN g.gy - 1 AND g.gy + 1), " +
        "w AS (SELECT gx, gy, v6, CAST(FLOOR(1e6 / (d2 + 1)) AS BIGINT) AS w FROM nb) " +
        "SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS n_nbrs, " +
        "CAST(" + sqlHalfUpDiv("SUM(w * v6)", "SUM(w)") + " AS BIGINT) AS est6 " +
        "FROM w GROUP BY gx, gy ORDER BY gx, gy"),
      (s, d) => {
        val st = T.events(s, d)
          .where(pmod(hash32(concat(lit("idw:"),
            col("event_id").cast("string"))), lit(20)) === 0)
          .select(pmod(col("event_id") * 37, lit(256)).as("sx"),
            pmod(col("event_id") * 13, lit(256)).as("sy"),
            s6(col("value")).as("v6"))
          .withColumn("cellx", floor(col("sx") / 16).cast("long"))
          .withColumn("celly", floor(col("sy") / 16).cast("long"))
        val grid = s.range(0, 16).select(col("id").as("gx"))
          .crossJoin(s.range(0, 16).select(col("id").as("gy")))
        // cover cells: each target explodes its 3×3 ring, stations join
        // on the EQUI cell key (out-of-range ring cells match nothing)
        val ring = grid
          .select(col("gx"), col("gy"),
            explode(sequence(col("gx") - 1, col("gx") + 1)).as("rx"))
          .select(col("gx"), col("gy"), col("rx"),
            explode(sequence(col("gy") - 1, col("gy") + 1)).as("ry"))
        val d2 =
          (col("sx") - (col("gx") * 16 + 8)) * (col("sx") - (col("gx") * 16 + 8)) +
            (col("sy") - (col("gy") * 16 + 8)) * (col("sy") - (col("gy") * 16 + 8))
        st.join(broadcast(ring),
            col("cellx") === col("rx") && col("celly") === col("ry"))
          .select(col("gx"), col("gy"), col("v6"),
            floor(lit(1e6) / (d2 + 1)).cast("long").as("w"))
          .groupBy("gx", "gy")
          .agg(count(lit(1)).as("n_nbrs"),
            halfUpDiv(sum(col("w") * col("v6")), sum(col("w"))).as("est6"))
          .orderBy("gx", "gy")
      }),

    // Polygon dissolve / union area (round 14, VERDICT r13 item 7) —
    // the rest of the geopolygon toolchain [PK] beside
    // eo_polygon_overlay's intersection: the DISSOLVED (union) area of
    // all overlapping scene footprints, by scanline decomposition on
    // the integer grid. Each footprint (the overlay key's event_id
    // rects, widths 8..32) explodes into its unit-x columns (fan-out
    // bounded by the max width), and per column the union of y
    // intervals is the classic sweep: sort by (y0, y1, scene_id), the
    // covered novelty of an interval is max(0, y1 − max(y0,
    // runmax(prev y1))) — a single window, no join anywhere, exact
    // integers end-to-end. Graded per 16-px x band: covered columns,
    // raw length (Σ heights, with multiplicity) and union area, so
    // over-/under-merge both break the hash (raw_len − union_area is
    // exactly the dissolved overlap). At archive scale columns shard
    // by x (the group key); Round14OpsSpec pins the
    // inclusion-exclusion law on a hand-checked overlap plus a full
    // scalar sweep mirror.
    Q("eo_polygon_dissolve", Some(
      "WITH fp AS (SELECT event_id AS scene_id, " +
        "event_id % 256 AS fx0, (event_id * 37) % 256 AS fy0, " +
        "event_id % 256 + 8 + event_id % 25 AS fx1, " +
        "(event_id * 37) % 256 + 8 + (event_id * 13) % 25 AS fy1 FROM events), " +
        "cols AS (SELECT scene_id, fy0, fy1, UNNEST(RANGE(fx0, fx1)) AS x FROM fp), " +
        "sw AS (SELECT x, fy0, fy1, MAX(fy1) OVER (PARTITION BY x " +
        "ORDER BY fy0, fy1, scene_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm " +
        "FROM cols), " +
        "cov AS (SELECT x, fy1 - fy0 AS rawl, " +
        "GREATEST(0, fy1 - GREATEST(fy0, COALESCE(pm, fy0))) AS ul FROM sw) " +
        "SELECT x // 16 AS band, CAST(COUNT(DISTINCT x) AS BIGINT) AS n_cols, " +
        "CAST(SUM(rawl) AS BIGINT) AS raw_len, CAST(SUM(ul) AS BIGINT) AS union_area " +
        "FROM cov GROUP BY band ORDER BY band"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val fp = T.events(s, d).select(
          col("event_id").as("scene_id"),
          (col("event_id") % 256).as("fx0"),
          (col("event_id") * 37 % 256).as("fy0"),
          (col("event_id") % 256 + 8 + col("event_id") % 25).as("fx1"),
          (col("event_id") * 37 % 256 + 8 + col("event_id") * 13 % 25).as("fy1"))
        val cols = fp.select(col("scene_id"), col("fy0"), col("fy1"),
          explode(sequence(col("fx0"), col("fx1") - 1)).as("x"))
        val sweep = Window.partitionBy("x")
          .orderBy(col("fy0"), col("fy1"), col("scene_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        cols.withColumn("pm", max(col("fy1")).over(sweep))
          .select(col("x"), (col("fy1") - col("fy0")).as("rawl"),
            greatest(lit(0L), col("fy1") -
              greatest(col("fy0"), coalesce(col("pm"), col("fy0")))).as("ul"))
          .groupBy(floor(col("x") / 16).cast("long").as("band"))
          .agg(countDistinct(col("x")).as("n_cols"),
            sum(col("rawl")).as("raw_len"), sum(col("ul")).as("union_area"))
          .orderBy("band")
      }),

    // DATA-DRIVEN AOI overlay (round 15, VERDICT r14 missing #5 / SURVEY
    // §8.4's remaining candidate): eo_polygon_overlay's AOIs are plan
    // literals; the operational shape is AOIs AS DATA — a second table
    // of request bboxes (here a hash-derandomized 1/200 draw of events,
    // geometry from the ×53/×29/×7 odd-multiplier bijections, DISTINCT
    // multipliers from the footprints' ×37/×13 so overlap is
    // non-degenerate). The join discipline is the eo_idw / catalog
    // cover-cell rule: BOTH sides explode their covered 16-px cells and
    // candidates come from one EQUI join on the cell id — intersecting
    // rects always share a covered cell (pigeonhole over interval
    // overlap), so the candidate set is complete and the range-overlap
    // theta join never appears. NO broadcast hint on either side: both
    // grow with the corpus, AQE picks the strategy (the embBcast
    // contract, here with zero hints at all). Exact integer clipping,
    // IoU on the s6 grid; concave data-driven polygons remain join_pip's
    // domain — operational AOIs are catalog bboxes.
    Q("eo_polygon_overlay_dyn", Some(
      "WITH ao AS (SELECT event_id AS aoi_id, " +
        "(event_id * 53) % 256 AS ax0, (event_id * 29) % 256 AS ay0, " +
        "(event_id * 53) % 256 + 16 + event_id % 33 AS ax1, " +
        "(event_id * 29) % 256 + 16 + (event_id * 7) % 17 AS ay1 " +
        "FROM events WHERE " + sqlHash32("'aoi:' || CAST(event_id AS VARCHAR)") + " % 200 = 0), " +
        "fp AS (SELECT event_id AS scene_id, " +
        "event_id % 256 AS fx0, (event_id * 37) % 256 AS fy0, " +
        "event_id % 256 + 8 + event_id % 25 AS fx1, " +
        "(event_id * 37) % 256 + 8 + (event_id * 13) % 25 AS fy1 FROM events), " +
        "ac AS (SELECT aoi_id, ax0, ay0, ax1, ay1, cx, " +
        "UNNEST(RANGE(ay0 // 16, ay1 // 16 + 1)) AS cy FROM " +
        "(SELECT *, UNNEST(RANGE(ax0 // 16, ax1 // 16 + 1)) AS cx FROM ao)), " +
        "fc AS (SELECT scene_id, fx0, fy0, fx1, fy1, cx, " +
        "UNNEST(RANGE(fy0 // 16, fy1 // 16 + 1)) AS cy FROM " +
        "(SELECT *, UNNEST(RANGE(fx0 // 16, fx1 // 16 + 1)) AS cx FROM fp)), " +
        "cand AS (SELECT DISTINCT f.scene_id, f.fx0, f.fy0, f.fx1, f.fy1, " +
        "a.aoi_id, a.ax0, a.ay0, a.ax1, a.ay1 " +
        "FROM fc f JOIN ac a ON a.cx = f.cx AND a.cy = f.cy), " +
        "ia AS (SELECT scene_id, aoi_id, " +
        "(fx1 - fx0) * (fy1 - fy0) AS fp_area, (ax1 - ax0) * (ay1 - ay0) AS aoi_area, " +
        "GREATEST(0, LEAST(fx1, ax1) - GREATEST(fx0, ax0)) * " +
        "GREATEST(0, LEAST(fy1, ay1) - GREATEST(fy0, ay0)) AS inter FROM cand) " +
        "SELECT aoi_id, MAX(aoi_area) AS aoi_area, " +
        "CAST(COUNT(*) AS BIGINT) AS n_scenes, " +
        "CAST(SUM(inter) AS BIGINT) AS inter_sum, " +
        "CAST(SUM(scene_id) AS BIGINT) AS checksum, " +
        "CAST(MAX(" +
        sqlS6("CAST(inter AS DOUBLE) / CAST(fp_area + aoi_area - inter AS DOUBLE)") +
        ") AS BIGINT) AS max_iou6 " +
        "FROM ia WHERE inter > 0 GROUP BY aoi_id ORDER BY aoi_id"),
      (s, d) => {
        val ao = T.events(s, d)
          .where(hash32(concat(lit("aoi:"), col("event_id").cast("string")))
            % 200 === 0)
          .select(col("event_id").as("aoi_id"),
            (col("event_id") * 53 % 256).as("ax0"),
            (col("event_id") * 29 % 256).as("ay0"),
            (col("event_id") * 53 % 256 + 16 + col("event_id") % 33).as("ax1"),
            (col("event_id") * 29 % 256 + 16 + col("event_id") * 7 % 17).as("ay1"))
        val fp = T.events(s, d).select(
          col("event_id").as("scene_id"),
          (col("event_id") % 256).as("fx0"),
          (col("event_id") * 37 % 256).as("fy0"),
          (col("event_id") % 256 + 8 + col("event_id") % 25).as("fx1"),
          (col("event_id") * 37 % 256 + 8 + col("event_id") * 13 % 25).as("fy1"))
        def cells(df: DataFrame, x0: String, y0: String, x1: String,
            y1: String): DataFrame =
          df.withColumn("cx", explode(sequence(
              floor(col(x0) / 16).cast("long"), floor(col(x1) / 16).cast("long"))))
            .withColumn("cy", explode(sequence(
              floor(col(y0) / 16).cast("long"), floor(col(y1) / 16).cast("long"))))
        val cand = cells(fp, "fx0", "fy0", "fx1", "fy1")
          .join(cells(ao, "ax0", "ay0", "ax1", "ay1"), Seq("cx", "cy"))
          .drop("cx", "cy")
          .distinct()
        val inter =
          greatest(lit(0L), least(col("fx1"), col("ax1")) - greatest(col("fx0"), col("ax0"))) *
            greatest(lit(0L), least(col("fy1"), col("ay1")) - greatest(col("fy0"), col("ay0")))
        val iou = s6(col("inter").cast("double") /
          (col("fp_area") + col("aoi_area") - col("inter")).cast("double"))
        cand
          .select(col("scene_id"), col("aoi_id"),
            ((col("fx1") - col("fx0")) * (col("fy1") - col("fy0"))).as("fp_area"),
            ((col("ax1") - col("ax0")) * (col("ay1") - col("ay0"))).as("aoi_area"),
            inter.as("inter"))
          .where(col("inter") > 0)
          .groupBy("aoi_id")
          .agg(max(col("aoi_area")).as("aoi_area"),
            count(lit(1)).as("n_scenes"),
            sum(col("inter")).as("inter_sum"),
            sum(col("scene_id")).as("checksum"),
            max(iou).as("max_iou6"))
          .orderBy("aoi_id")
      }),

    // VECTOR→RASTER burn-in (round 16, VERDICT r15 #8) — gdal_rasterize
    // with -add semantics [PK], the INVERSE of eo_polygonize: the
    // overlay_dyn AOI table (data-driven request bboxes, the
    // hash-derandomized 1/200 draw) burns into 16×16-px tile masks —
    // per pixel, burn = the COUNT of covering AOIs (the additive burn;
    // the binary mask is burn ≥ 1). Discipline is the cover-cell rule
    // end to end: each AOI explodes to its covered cells, clips to an
    // exact integer sub-rect per cell (empty edge clips filtered — an
    // AOI whose boundary lands on a cell edge covers no pixel there),
    // and only CLIPPED pixels ever materialize — work is linear in
    // burned pixels, never tiles × AOIs, and the per-tile aggregate
    // shuffles on the tile key alone. Graded per touched tile: distinct
    // burned pixels, total burn mass, and the position-weighted
    // checksum Σ (py·16+px+1)·burn that pins every pixel to its slot
    // (the eo_tile discipline). Oracle = per-pixel point-in-bbox: pixels
    // of candidate (tile, AOI) pairs tested against the raw containment
    // predicate — cell-candidate pruning is exact by the pigeonhole
    // rule (an AOI covering a pixel covers that pixel's cell).
    Q("eo_rasterize", Some(
      "WITH ao AS (SELECT event_id AS aoi_id, " +
        "(event_id * 53) % 256 AS ax0, (event_id * 29) % 256 AS ay0, " +
        "(event_id * 53) % 256 + 16 + event_id % 33 AS ax1, " +
        "(event_id * 29) % 256 + 16 + (event_id * 7) % 17 AS ay1 " +
        "FROM events WHERE " + sqlHash32("'aoi:' || CAST(event_id AS VARCHAR)") + " % 200 = 0), " +
        "ac AS (SELECT aoi_id, ax0, ay0, ax1, ay1, cx, " +
        "UNNEST(RANGE(ay0 // 16, ay1 // 16 + 1)) AS cy FROM " +
        "(SELECT *, UNNEST(RANGE(ax0 // 16, ax1 // 16 + 1)) AS cx FROM ao)), " +
        "tl AS (SELECT DISTINCT cx, cy FROM ac), " +
        "px AS (SELECT cx, cy, x, UNNEST(RANGE(cy * 16, cy * 16 + 16)) AS y FROM " +
        "(SELECT cx, cy, UNNEST(RANGE(cx * 16, cx * 16 + 16)) AS x FROM tl)), " +
        "cand AS (SELECT DISTINCT a.aoi_id, a.ax0, a.ay0, a.ax1, a.ay1, a.cx, a.cy FROM ac a), " +
        "hit AS (SELECT p.cx, p.cy, p.x, p.y, CAST(COUNT(*) AS BIGINT) AS burn " +
        "FROM px p JOIN cand c ON c.cx = p.cx AND c.cy = p.cy " +
        "AND p.x >= c.ax0 AND p.x < c.ax1 AND p.y >= c.ay0 AND p.y < c.ay1 " +
        "GROUP BY p.cx, p.cy, p.x, p.y) " +
        "SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_px, " +
        "CAST(SUM(burn) AS BIGINT) AS burn_sum, " +
        "CAST(SUM(((y % 16) * 16 + (x % 16) + 1) * burn) AS BIGINT) AS cksum " +
        "FROM hit GROUP BY cx, cy ORDER BY cx, cy"),
      (s, d) => {
        val ao = T.events(s, d)
          .where(hash32(concat(lit("aoi:"), col("event_id").cast("string")))
            % 200 === 0)
          .select(col("event_id").as("aoi_id"),
            (col("event_id") * 53 % 256).as("ax0"),
            (col("event_id") * 29 % 256).as("ay0"),
            (col("event_id") * 53 % 256 + 16 + col("event_id") % 33).as("ax1"),
            (col("event_id") * 29 % 256 + 16 + col("event_id") * 7 % 17).as("ay1"))
        val ac = ao
          .withColumn("cx", explode(sequence(
            floor(col("ax0") / 16).cast("long"), floor(col("ax1") / 16).cast("long"))))
          .withColumn("cy", explode(sequence(
            floor(col("ay0") / 16).cast("long"), floor(col("ay1") / 16).cast("long"))))
        // exact integer clip of the AOI to this cell; boundary-touching
        // cells clip empty and drop (the RANGE cover includes the cell
        // holding the exclusive upper bound)
        val clip = ac.select(col("aoi_id"), col("cx"), col("cy"),
            greatest(col("ax0"), col("cx") * 16).as("x0"),
            least(col("ax1"), (col("cx") + 1) * 16).as("x1"),
            greatest(col("ay0"), col("cy") * 16).as("y0"),
            least(col("ay1"), (col("cy") + 1) * 16).as("y1"))
          .where(col("x1") > col("x0") && col("y1") > col("y0"))
        val pix = clip
          .withColumn("x", explode(sequence(col("x0"), col("x1") - 1)))
          .withColumn("y", explode(sequence(col("y0"), col("y1") - 1)))
        val burn = pix.groupBy("cx", "cy", "x", "y")
          .agg(count(lit(1)).as("burn"))
        burn.groupBy("cx", "cy")
          .agg(count(lit(1)).as("n_px"),
            sum(col("burn")).as("burn_sum"),
            sum(((col("y") % 16) * 16 + (col("x") % 16) + 1) * col("burn"))
              .as("cksum"))
          .orderBy("cx", "cy")
      }))

  /** 4-adjacency connected-component labeling over masked pixels:
    * returns (labeled = (tile, py, px, pid, cluster), pairs = the
    * right+down in-tile adjacency (d1, d2)) — shared by eo_tile_clump's
    * rollup, eo_tile_sieve and eo_polygonize. */
  private[graft] def clumpLabeled(pixels: DataFrame): (DataFrame, DataFrame) = {
    val p0 = pixels
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val a = p0.select(col("tile"), col("py"), col("px"), col("pid").as("d1"))
    val b = p0.select(col("tile").as("tb"), col("py").as("qy"),
      col("px").as("qx"), col("pid").as("d2"))
    // right + down in-tile neighbors; pid order follows raster order
    val pairs = a.join(b, col("tb") === col("tile") &&
        ((col("qy") === col("py") && col("qx") === col("px") + 1) ||
          (col("qy") === col("py") + 1 && col("qx") === col("px"))))
      .select("d1", "d2")
      .transform(Cached(_)) // multi-consumer cache; lifecycle: Cached scaladoc
    val labels = graft.operators.Llm.componentLabels(
      p0.select(col("pid").as("doc_id")), pairs)
    val labeled = labels.join(p0, col("doc_id") === col("pid"))
      .select("tile", "py", "px", "pid", "cluster")
    (labeled, pairs)
  }

  /** 4-adjacency connected-component rollup over set mask pixels
    * (tile, py, px, pid — pid globally unique, raster-ordered within a
    * tile): per (tile, clump) size + id checksum, clump = min pid in the
    * component. Shared by eo_tile_clump, eo_tile_sieve and the
    * generative spec. */
  private[graft] def clumpRollup(pixels: DataFrame): DataFrame = {
    val (labeled, _) = clumpLabeled(pixels)
    labeled
      .groupBy(col("tile"), col("cluster").as("clump"))
      .agg(count(lit(1)).as("n_px"), sum(col("pid") + 1).as("cksum"))
      .orderBy("tile", "clump")
  }
}
