package graft

import org.apache.spark.sql.functions._

import graft.raster.{RasterGrid, TileExprs}

/** Tile-granular raster layer (SURVEY §8.5): synthesized grids, checked
  * against straightforward Scala-side reference computations. */
class RasterSpec extends SparkSpec {

  private val H = 8; private val W = 8

  private def grid(band: String)(f: (Int, Int, Int) => Float) =
    RasterGrid.synthesize(spark, "test_prod", band,
      nTilesX = 2, nTilesY = 2, h = H, w = W, times = Seq(0, 1, 2))(f)

  test("band math computes NDVI pixel-wise across the tile grid") {
    val red = grid("red")((x, y, t) => 1.0f + x + y + t)
    val nir = grid("nir")((x, y, t) => 3.0f + 2 * x + y + t)
    val ndvi = RasterGrid.bandMath2(red.unionByName(nir), "nir", "red", "ndvi") {
      (n, r) => ((n - r) / (n + r)).cast("float")
    }
    assert(ndvi.count() == 2 * 2 * 3) // one row per tile per time
    val row = ndvi.where(col("tile_x") === 1 && col("tile_y") === 0 &&
      col("time") === 2).head()
    val data = row.getAs[scala.collection.Seq[Float]]("data")
    // global pixel of tile (1,0) local (px,py): x = 8+px, y = py
    for (py <- 0 until H; px <- 0 until W) {
      val x = W + px; val y = py
      val r = 1.0f + x + y + 2; val n = 3.0f + 2 * x + y + 2
      assert(math.abs(data(py * W + px) - (n - r) / (n + r)) < 1e-6)
    }
  }

  test("temporal median composite matches per-pixel sorted middle") {
    // values vary with time as t*t - 2t (non-monotone: 0, -1, 0) plus
    // a pixel-dependent base, so median ordering is exercised
    val g = grid("b1")((x, y, t) => x + y + (t * t - 2 * t).toFloat)
    val comp = RasterGrid.temporalMedianComposite(g)
    assert(comp.count() == 4) // one per tile, time collapsed
    val data = comp.where(col("tile_x") === 0 && col("tile_y") === 1)
      .head().getAs[scala.collection.Seq[Float]]("data")
    for (py <- 0 until H; px <- 0 until W) {
      val x = px; val y = H + py
      val stack = Seq(0, 1, 2).map(t => x + y + (t * t - 2 * t).toFloat).sorted
      assert(data(py * W + px) == stack(1)) // odd depth -> exact middle
    }
    // even time depth -> mean of the two middles
    val g2 = RasterGrid.synthesize(spark, "p", "b", 1, 1, 2, 2, Seq(0, 1, 2, 3)) {
      (x, y, t) => (t * 10 + x).toFloat
    }
    val d2 = RasterGrid.temporalMedianComposite(g2).head()
      .getAs[scala.collection.Seq[Float]]("data")
    assert(d2(0) == (10f + 20f) / 2)
  }

  test("fuseFirstValid takes the first non-NaN in precedence order, holes stay NaN") {
    // per pixel, time t's value is NaN unless t >= (x % 4): pixel x=0
    // fills from t0, x=1 from t1, …, x=3 from t3; value encodes (x, t) so
    // the PICK is observable, not just the fill
    val g = RasterGrid.synthesize(spark, "p", "b", 1, 1, 4, 4, Seq(0, 1, 2, 3)) {
      (x, y, t) => if (t >= x % 4) (100 * t + 10 * x + y).toFloat else Float.NaN
    }
    val fused = RasterGrid.fuseFirstValid(g)
    assert(fused.count() == 1)
    val data = fused.head().getAs[scala.collection.Seq[Float]]("data")
    for (py <- 0 until 4; px <- 0 until 4) {
      val want = (100 * (px % 4) + 10 * px + py).toFloat // first valid t = x%4
      assert(data(py * 4 + px) == want, s"pixel ($px,$py)")
    }
    // a pixel no dataset covers stays NaN
    val g2 = RasterGrid.synthesize(spark, "p", "b", 1, 1, 1, 2, Seq(0, 1)) {
      (x, y, t) => if (x == 0) t.toFloat else Float.NaN
    }
    val d2 = RasterGrid.fuseFirstValid(g2).head()
      .getAs[scala.collection.Seq[Float]]("data")
    assert(d2(0) == 0f && d2(1).isNaN)
  }

  test("halo-padded focal equals the seam-free global focal on a multi-tile grid") {
    import org.apache.spark.sql.functions._
    val h = 4; val w = 4; val nT = 3
    // value depends on GLOBAL y so any seam mistake shifts the sums
    val g = RasterGrid.synthesize(spark, "p", "b", 1, nT, h, w, Seq(0)) {
      (x, y, _) => (y * 10 + x + 1).toFloat
    }
    val fromAbove = g.select((col("tile_y") + 1).as("tile_y"),
      slice(col("data"), (h - 1) * w + 1, w).as("halo_top"))
    val fromBelow = g.select((col("tile_y") - 1).as("tile_y"),
      slice(col("data"), 1, w).as("halo_bot"))
    val padded = g.join(fromAbove, "tile_y").join(fromBelow, "tile_y")
      .select(col("product"), col("band"), col("time"), col("tile_y"), col("tile_x"),
        concat(col("halo_top"), col("data"), col("halo_bot")).as("data"))
    val f = RasterGrid.focalSum3x3(padded, h + 2, w)
    // only the middle tile has both neighbors
    val rows = f.collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("tile_y") == 1)
    val out = rows.head.getAs[scala.collection.Seq[Float]]("data")
    val global = Array.tabulate(nT * h, w)((y, x) => (y * 10 + x + 1).toFloat)
    for (iy <- 0 until h; ix <- 1 until w - 1) {
      val gy = h + iy // middle tile's global rows
      val want = (for (dy <- -1 to 1; dx <- -1 to 1)
        yield global(gy + dy)(ix + dx)).sum
      assert(out(iy * (w - 2) + (ix - 1)) == want, s"($ix,$iy)")
    }
  }

  test("bilinear 2x upsample matches brute force; even outputs reproduce inputs") {
    val h = 4; val w = 4
    val g = RasterGrid.synthesize(spark, "p", "b", 1, 1, h, w, Seq(0)) {
      (x, y, _) => (7 * x + 3 * y * y + 1).toFloat
    }
    val in = Array.tabulate(h, w)((y, x) => (7 * x + 3 * y * y + 1).toFloat)
    val up = RasterGrid.upsampleBilinear2x(g, h, w).head()
      .getAs[scala.collection.Seq[Float]]("data")
    assert(up.length == 4 * h * w)
    for (oy <- 0 until 2 * h; ox <- 0 until 2 * w) {
      val y0 = oy / 2; val x0 = ox / 2
      val y1 = math.min(y0 + oy % 2, h - 1); val x1 = math.min(x0 + ox % 2, w - 1)
      val want = (in(y0)(x0) + in(y0)(x1) + in(y1)(x0) + in(y1)(x1)) / 4.0f
      assert(up(oy * 2 * w + ox) == want, s"($ox,$oy)")
      if (oy % 2 == 0 && ox % 2 == 0)
        assert(up(oy * 2 * w + ox) == in(y0)(x0), s"even ($ox,$oy) not exact")
    }
  }

  test("median composite survives ragged stacks (ADVICE r6: no OOB, no order dependence)") {
    // three times with DIFFERENT tile lengths: t0 has 4 pixels, t1 has 2,
    // t2 has 4 — pixel 0/1 median over {0,10,20},{1,11,21}; pixel 2/3 over
    // the two entries that have them -> even count -> mean of middles
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("product", StringType), StructField("band", StringType),
      StructField("time", IntegerType), StructField("tile_y", LongType),
      StructField("tile_x", LongType),
      StructField("data", ArrayType(FloatType))))
    val rows = Seq(
      Row("p", "b", 0, 0L, 0L, Seq(0f, 1f, 2f, 3f)),
      Row("p", "b", 1, 0L, 0L, Seq(10f, 11f)),
      Row("p", "b", 2, 0L, 0L, Seq(20f, 21f, 22f, 23f)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val d = RasterGrid.temporalMedianComposite(df).head()
      .getAs[scala.collection.Seq[Float]]("data")
    assert(d.length == 4) // sized by the LONGEST entry, not entry 1
    assert(d(0) == 10f && d(1) == 11f) // odd count 3 -> exact middle
    assert(d(2) == (2f + 22f) / 2 && d(3) == (3f + 23f) / 2) // even count 2
  }

  test("argmax composite picks the data value at peak score, earliest-time ties") {
    // score peaks at t=1 for even global x, at t=2 for odd; data = t*100+x
    val score = grid("ndvi")((x, y, t) =>
      if (x % 2 == 0) (if (t == 1) 5f else t.toFloat)
      else (if (t == 2) 5f else t.toFloat))
    val data = grid("red")((x, y, t) => (t * 100 + x).toFloat)
    val comp = RasterGrid.temporalArgmaxComposite(
      score.unionByName(data), "ndvi", "red")
    assert(comp.count() == 4)
    val d = comp.where(col("tile_x") === 0 && col("tile_y") === 0)
      .head().getAs[scala.collection.Seq[Float]]("data")
    for (py <- 0 until H; px <- 0 until W) {
      val expectT = if (px % 2 == 0) 1 else 2
      assert(d(py * W + px) == (expectT * 100 + px).toFloat,
        s"pixel ($px,$py): got ${d(py * W + px)}")
    }
    // tie case: constant score -> earliest time wins
    val flat = grid("ndvi")((_, _, _) => 1f)
    val tied = RasterGrid.temporalArgmaxComposite(
      flat.unionByName(data), "ndvi", "red")
      .where(col("tile_x") === 0 && col("tile_y") === 0)
      .head().getAs[scala.collection.Seq[Float]]("data")
    assert(tied(3) == 3f) // t=0, x=3
  }

  test("QA mask turns flagged pixels into NaN and composites skip nothing silently") {
    val v = grid("b1")((x, y, t) => 100.0f + t)
    val qa = grid("qa")((x, y, t) => if ((x + y) % 2 == 0) 0f else 1f)
    val masked = RasterGrid.maskWhere(v.unionByName(qa), "b1", "qa")(q => q === 0f)
    val data = masked.where(col("tile_x") === 0 && col("tile_y") === 0 &&
      col("time") === 0).head().getAs[scala.collection.Seq[Float]]("data")
    for (py <- 0 until H; px <- 0 until W) {
      val expectClear = (px + py) % 2 == 0
      assert(data(py * W + px).isNaN != expectClear)
    }
  }

  test("downsample block-means within the tile, no shuffle in the plan") {
    val g = grid("b1")((x, y, t) => x.toFloat) // value = global x
    val ds = RasterGrid.downsample(g, H, W, 2)
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"downsample must be map-only:\n$plan")
    val data = ds.where(col("tile_x") === 1 && col("tile_y") === 0 &&
      col("time") === 0).head().getAs[scala.collection.Seq[Float]]("data")
    for (oy <- 0 until H / 2; ox <- 0 until W / 2) {
      val xs = Seq(W + ox * 2, W + ox * 2 + 1) // two columns of the block
      assert(data(oy * (W / 2) + ox) == xs.sum.toFloat / 2)
    }
  }

  test("pyramid level k equals one factor-2^k downsample, shuffle-free") {
    val g = grid("b1")((x, y, t) => (x * 7 + y * 3 + t).toFloat)
    val pyr = RasterGrid.pyramid(g, H, W, levels = 2)
    val plan = pyr.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pyramid must be map-only:\n$plan")
    // level k carries (H/2^k)x(W/2^k) pixels, all tiles/times present
    for (k <- 0 to 2)
      assert(pyr.where(col("level") === k).count() == 2 * 2 * 3)
    val lvl2 = pyr.where(col("level") === 2).drop("level")
    val direct = RasterGrid.downsample(g, H, W, factor = 4)
    // block mean of block means == factor-4 block mean, bit-for-bit
    // (dyadic sums): compare per-(tile,time) arrays exactly
    val key = Seq("product", "band", "time", "tile_y", "tile_x")
    val joined = lvl2.as("a").join(direct.as("b"), key)
      .select(col("a.data").as("da"), col("b.data").as("db")).collect()
    assert(joined.length == 2 * 2 * 3)
    joined.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Float]]("da") ==
        r.getAs[scala.collection.Seq[Float]]("db"))
    }
  }

  test("focal 3x3 sum matches brute force on the tile interior") {
    val g = grid("b1")((x, y, t) => (x + 10 * y + t).toFloat)
    val foc = RasterGrid.focalSum3x3(g, H, W)
    assert(foc.count() == 2 * 2 * 3)
    val row = foc.where(col("tile_x") === 1 && col("tile_y") === 0 &&
      col("time") === 1).head()
    val data = row.getAs[scala.collection.Seq[Float]]("data")
    assert(data.length == (H - 2) * (W - 2))
    for (oy <- 0 until H - 2; ox <- 0 until W - 2) {
      val want = (for (dy <- -1 to 1; dx <- -1 to 1) yield {
        val x = W + (ox + 1 + dx); val y = oy + 1 + dy
        (x + 10 * y + 1).toFloat
      }).sum
      assert(data(oy * (W - 2) + ox) == want, s"mismatch at ($ox,$oy)")
    }
  }

  test("focal 3x3 TRI matches brute force on the tile interior") {
    val g = grid("b1")((x, y, t) => (x * 5 + 11 * y + 2 * t).toFloat)
    val tri = RasterGrid.focalTri3x3(g, H, W)
    assert(tri.count() == 2 * 2 * 3)
    val row = tri.where(col("tile_x") === 1 && col("tile_y") === 1 &&
      col("time") === 2).head()
    val data = row.getAs[scala.collection.Seq[Float]]("data")
    assert(data.length == (H - 2) * (W - 2))
    def v(x: Int, y: Int) = ((W + x) * 5 + 11 * (H + y) + 4).toFloat
    for (oy <- 0 until H - 2; ox <- 0 until W - 2) {
      val c = v(ox + 1, oy + 1)
      val want = (for (dy <- -1 to 1; dx <- -1 to 1 if dy != 0 || dx != 0)
        yield math.abs(v(ox + 1 + dx, oy + 1 + dy) - c)).sum
      assert(data(oy * (W - 2) + ox) == want, s"TRI mismatch at ($ox,$oy)")
    }
  }

  test("focal variance numerator (9·Σx² − S²) matches brute force") {
    // the eo_tile_focal_var composition: focal3 over the band and over
    // its square, combined as integers after the stencils
    val g = grid("b1")((x, y, t) => (x * 3 + 7 * y + t).toFloat)
    val fs = RasterGrid.focalSum3x3(g, H, W)
    val fs2 = RasterGrid.focalSum3x3(
      g.withColumn("data", org.apache.spark.sql.functions.transform(
        col("data"), e => e * e)), H, W)
    val key = Seq("product", "band", "time", "tile_y", "tile_x")
    val joined = fs.as("a").join(fs2.as("b"), key)
      .where(col("tile_x") === 0 && col("tile_y") === 1 && col("time") === 1)
      .select(col("a.data").as("s"), col("b.data").as("ss")).head()
    val s = joined.getAs[scala.collection.Seq[Float]]("s")
    val ss = joined.getAs[scala.collection.Seq[Float]]("ss")
    def v(x: Int, y: Int) = (x * 3 + 7 * (H + y) + 1).toLong
    for (oy <- 0 until H - 2; ox <- 0 until W - 2) {
      val nbrs = for (dy <- -1 to 1; dx <- -1 to 1) yield v(ox + 1 + dx, oy + 1 + dy)
      val want = 9 * nbrs.map(n => n * n).sum - nbrs.sum * nbrs.sum
      val gotNum = 9 * ss(oy * (W - 2) + ox).toLong -
        s(oy * (W - 2) + ox).toLong * s(oy * (W - 2) + ox).toLong
      assert(gotNum == want, s"variance numerator mismatch at ($ox,$oy)")
      assert(gotNum >= 0, "n·Σx²−S² is nonnegative by Cauchy-Schwarz")
    }
  }

  test("focal 3x3 Laplacian matches brute force on the tile interior") {
    val lap = RasterGrid.synthesize(spark, "p", "b",
      nTilesX = 1, nTilesY = 1, h = H, w = W, times = Seq(0))(
      (x, y, _) => (x * x + 2 * y * y).toFloat)
    val out = lap.select(TileExprs.laplace3(col("data"), H, W).as("d")).head()
      .getAs[scala.collection.Seq[Float]]("d")
    assert(out.length == (H - 2) * (W - 2))
    def v(x: Int, y: Int) = (x * x + 2 * y * y).toFloat
    for (oy <- 0 until H - 2; ox <- 0 until W - 2) {
      val (cx, cy) = (ox + 1, oy + 1)
      val want = v(cx, cy - 1) + v(cx, cy + 1) + v(cx - 1, cy) + v(cx + 1, cy) -
        4.0f * v(cx, cy)
      assert(out(oy * (W - 2) + ox) == want, s"laplace mismatch at ($ox,$oy)")
      // the discrete Laplacian of x² + 2y² is the constant 2 + 4 = 6
      assert(out(oy * (W - 2) + ox) == 6.0f)
    }
  }

  test("Lee-filter algebra: flat windows pass through, gain stays in [0,1)") {
    // the eo_tile_lee composition evaluated on a synthetic tile: the
    // filter is m + (x-m)·v/(v+σ²) from the two focal sums
    val g = RasterGrid.synthesize(spark, "p", "b",
      nTilesX = 1, nTilesY = 1, h = H, w = W, times = Seq(0))(
      (x, y, _) => if (y < H / 2) 7.0f else (x * 9 + y * 3).toFloat)
    val row = g.select(
      TileExprs.focal3(col("data"), H, W).as("fs"),
      TileExprs.focal3(org.apache.spark.sql.functions.transform(
        col("data"), e => e * e), H, W).as("fs2")).head()
    val fs = row.getAs[scala.collection.Seq[Float]]("fs")
    val fs2 = row.getAs[scala.collection.Seq[Float]]("fs2")
    def v(x: Int, y: Int) = if (y < H / 2) 7.0f else (x * 9 + y * 3).toFloat
    for (oy <- 0 until H - 2; ox <- 0 until W - 2) {
      val x = v(ox + 1, oy + 1).toDouble
      val sv = fs(oy * (W - 2) + ox).toDouble
      val m = sv / 9.0
      val vn = (9.0 * fs2(oy * (W - 2) + ox) - sv * sv) / 81.0
      val k = vn / (vn + 400.0)
      assert(k >= 0.0 && k < 1.0, s"gain out of range at ($ox,$oy)")
      val f = m + (x - m) * k
      // flat windows (top half): v = 0 -> the filter returns the mean,
      // which equals the constant itself
      if (oy + 2 < H / 2) assert(f == 7.0, s"flat window not identity at ($ox,$oy)")
      // everywhere: the output lies between the window mean and x
      assert((f >= math.min(m, x) - 1e-9) && (f <= math.max(m, x) + 1e-9),
        s"filter overshoot at ($ox,$oy)")
    }
  }

  test("focal 3x3 Horn gradient matches brute force on the tile interior") {
    val g = grid("b1")((x, y, t) => (x * x + 3 * y + t).toFloat)
    val grad = RasterGrid.focalGradient3x3(g, H, W)
    assert(grad.count() == 2 * 2 * 3)
    val row = grad.where(col("tile_x") === 0 && col("tile_y") === 1 &&
      col("time") === 2).head()
    val gx = row.getAs[scala.collection.Seq[Float]]("gx")
    val gy = row.getAs[scala.collection.Seq[Float]]("gy")
    assert(gx.length == (H - 2) * (W - 2) && gy.length == (H - 2) * (W - 2))
    def v(x: Int, y: Int) = (x * x + 3 * (H + y) + 2).toFloat
    for (oy <- 0 until H - 2; ox <- 0 until W - 2) {
      val wantX = (for (dy <- -1 to 1; dx <- -1 to 1) yield
        v(ox + 1 + dx, oy + 1 + dy) * dx * (if (dy == 0) 2 else 1)).sum
      val wantY = (for (dy <- -1 to 1; dx <- -1 to 1) yield
        v(ox + 1 + dx, oy + 1 + dy) * dy * (if (dx == 0) 2 else 1)).sum
      assert(gx(oy * (W - 2) + ox) == wantX, s"gx mismatch at ($ox,$oy)")
      assert(gy(oy * (W - 2) + ox) == wantY, s"gy mismatch at ($ox,$oy)")
    }
  }

  test("windowRead prunes to intersecting tiles and crops to the exact bbox") {
    // value encodes the global coordinate so the crop is fully checkable
    val g = grid("b1")((x, y, t) => (1000 * t + 100 * y + x).toFloat)
    // bbox [3,13)x[5,14) over the 16x16 global grid: hits all 4 tiles
    val win = RasterGrid.windowRead(g, H, W, x0 = 3, x1 = 13, y0 = 5, y1 = 14)
    assert(win.count() == 4 * 3) // every tile intersects, all 3 times
    val got = win.select(col("tile_y"), col("tile_x"), col("time"),
        explode(col("win")).as("e"))
      .select(col("tile_y"), col("tile_x"), col("time"),
        col("e.pos").as("pos"), col("e.v").as("v"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getFloat(4))).toSet
    val want = (for {
      t <- 0 until 3; ty <- 0 until 2; tx <- 0 until 2
      py <- 0 until H; px <- 0 until W
      x = tx * W + px; y = ty * H + py
      if x >= 3 && x < 13 && y >= 5 && y < 14
    } yield (ty, tx, t, py * W + px, (1000 * t + 100 * y + x).toFloat)).toSet
    assert(got == want)
    // a bbox left of the grid prunes every tile before any pixel math
    assert(RasterGrid.windowRead(g, H, W, -20, -4, 0, 16).count() == 0)
  }

  test("zonal stats aggregate pixel values by an aligned zone raster") {
    val v = grid("b1")((x, y, t) => 1.0f) // every pixel contributes 1
    val zones = grid("zone")((x, y, t) => (if (x < 8) 0 else 1).toFloat)
    val zs = RasterGrid.zonalStats(v, zones).collect()
    assert(zs.length == 2)
    // 3 times x 2 tile rows x (8x8) tile = 384 pixels per zone half
    assert(zs.forall(_.getAs[Long]("n_pixels") == 3 * 2 * H * W))
    assert(zs.forall(r => math.abs(r.getAs[Double]("mean_val") - 1.0) < 1e-9))
  }

  test("native stencils fail loudly on geometry/array mismatch, not garbage") {
    // the stencils index from (h, w, factor) literals; an OOB
    // UnsafeArrayData read is UNCHECKED, so a wrong geometry must throw
    // (the element_at forms they replaced returned NULL instead)
    val g = grid("b1")((x, y, t) => 1.0f)
    for (bad <- Seq(
        RasterGrid.upsampleBilinear2x(g, 2 * H, 2 * W), // claims 4x the pixels
        RasterGrid.focalSum3x3(g, H + 2, W + 2),
        RasterGrid.downsample(g, 4 * H, 4 * W, 2))) {
      val e = intercept[Exception](bad.collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("tile geometry")),
        s"expected the geometry guard, got: $e")
    }
    // SQL callers bypass RasterGrid's require()s — the expression guard
    // still catches them (undersized h*w vs a 64-element array is fine,
    // oversized throws; exercised via the registered SQL name)
    graft.functions.GraftExtensions.register(spark)
    val sqlErr = intercept[Exception](
      g.selectExpr(s"graft_tile_down(data, ${4 * H}, ${4 * W}, 2) AS d")
        .collect())
    def sqlMsgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ sqlMsgs(t.getCause)
    assert(sqlMsgs(sqlErr).exists(_.contains("tile geometry")))
  }
}
