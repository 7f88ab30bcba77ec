package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.{UnicodeExprs, VectorExprs}
import graft.raster.TileExprs

/** Every native Catalyst expression carries BOTH `nullSafeEval` and
  * `doGenCode`; if they diverge, flipping whole-stage codegen silently
  * changes graded output. One property over all 16: on edge inputs (null,
  * NaN, ±Inf, −0.0, empty and length-mismatched arrays, scaled-long
  * saturation and wrap-around, tile geometries `requireGeometry` rejects)
  * the generated and the interpreted path return the same raw bits, or
  * both throw the same exception class.
  *
  * Inputs come from an RDD, not a local Seq: over a LocalRelation the
  * optimizer's ConvertToLocalRelation would evaluate the projection
  * itself, interpreted, in both modes. */
class NativeExprSpec extends SparkSpec {

  private val H = 6
  private val W = 6

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def arr(t: DataType) = ArrayType(t, containsNull = true)

  // scaled-long bounds: 303.7f² · 1e14 and 30370² · 1e10 pass Long.MaxValue,
  // so the (long) floor saturates and the running sum wraps
  private val vectors = frame(
    StructType(Seq("fa", "fb").map(StructField(_, arr(FloatType))) ++
      Seq("da", "db").map(StructField(_, arr(DoubleType))) ++
      Seq("ia", "ib").map(StructField(_, arr(IntegerType))) ++
      Seq(StructField("lut", arr(LongType)), StructField("code", arr(IntegerType)))),
    Seq(
      Row(null, Seq(1f), null, Seq(1d), null, Seq(1), null, Seq(0)),
      Row(Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq()),
      Row(Seq(1f, 2f, 3f), Seq(4f), Seq(1d, 2d, 3d), Seq(0.5d), Seq(1, 2, 3), Seq(2),
        Seq(5L, 6L, 7L), Seq(0, 1)),
      Row(Seq(Float.NaN, 1f), Seq(1f, 1f), Seq(Double.NaN, 1d), Seq(0d, 0d),
        Seq(Int.MinValue, 0, Int.MaxValue), Seq(Int.MinValue, Int.MaxValue),
        Seq(Long.MaxValue, Long.MinValue), Seq(0, 0)),
      Row(Seq(Float.PositiveInfinity, Float.NegativeInfinity, -0.0f),
        Seq(1f, 1f, -0.0f), Seq(Double.PositiveInfinity, -0.0d), Seq(Double.NegativeInfinity, 0.0d),
        Seq(-3, -1), Seq(-3, -2, -1), Seq(Long.MaxValue, 1L, Long.MaxValue, 1L), Seq(0, 0)),
      Row(Seq(303.7f, 303.7f, 303.7f), Seq(303.7f, 303.7f, 303.7f),
        Seq(30370d, -30370d, 1e9d), Seq(0d, 0d, -1e9d),
        Seq(7), Seq(7), Seq(Long.MaxValue, Long.MaxValue, Long.MaxValue), Seq(0, 0, 0)),
      Row(Seq(-303.7f, 1e-3f, null), Seq(303.7f, 1e-3f, 2f), Seq(-1e-7d, 1e-7d), Seq(1e-7d, -1e-7d),
        Seq(1, 3, 5, 7), Seq(), Seq(1L, 2L, 3L, 4L, 5L), Seq(1, 0))))

  private val vectorCols: Seq[Column] = Seq(
    VectorExprs.dot(col("fa"), col("fb")),
    VectorExprs.sdotl(col("fa"), col("fb")),
    VectorExprs.sl2(col("da"), col("db")),
    VectorExprs.sl2e10(col("da"), col("db")),
    VectorExprs.icount(col("ia"), col("ib")),
    VectorExprs.pqadc(col("lut"), col("code")))

  // NaN, ±Inf, −0.0 and spikes in 6×6 tiles (the tiles of the former
  // tile-only codegen check), plus a null tile
  private val tiles: DataFrame = {
    val rnd = new scala.util.Random(11)
    frame(StructType(Seq(StructField("data", arr(FloatType)))), Seq(
      Row(Seq.fill(H * W)(Float.NaN)),
      Row(Seq.tabulate(H * W)(i => if (i % 7 == 0) Float.NaN else i.toFloat)),
      Row(Seq.tabulate(H * W) {
        case 0 => Float.NegativeInfinity
        case 1 => Float.PositiveInfinity
        case 2 => -0.0f
        case _ => rnd.nextFloat() * 100f - 50f
      }),
      Row(null)))
  }

  private val tileCols: Seq[(Int, Int, Int) => Column] = Seq(
    (h, w, _) => TileExprs.max3(col("data"), h, w),
    (h, w, _) => TileExprs.min3(col("data"), h, w),
    (h, w, _) => TileExprs.focal3(col("data"), h, w),
    (h, w, _) => TileExprs.tri3(col("data"), h, w),
    (h, w, _) => TileExprs.laplace3(col("data"), h, w),
    (h, w, _) => TileExprs.up2x(col("data"), h, w),
    (h, w, _) => TileExprs.upCubic(col("data"), h, w),
    (h, w, f) => TileExprs.down(col("data"), h, w, f))

  private val strings = frame(StructType(Seq(StructField("s", StringType))), Seq(
    Row(null), Row(""), Row("Ångström"), Row("Café"), Row("MiXeD ascii 42!"),
    Row("ßﬁ İstanbul"), Row("😀 \u0000 \ud800")))

  private val stringCols: Seq[Column] =
    Seq(UnicodeExprs.unorm(col("s")), Det.hash32(col("s")))

  /** Raw bits of every cell: boxed-Float equality treats +0.0 != -0.0 but
    * canonicalizes NaN payloads; raw bits catch both. */
  private def bits(v: Any): Any = v match {
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case r: Row => r.toSeq.map(bits)
    case other => other
  }

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || (t.getCause eq t)) t else rootCause(t.getCause)

  /** Left: the root cause class of a failed collect; right: the rows' bits. */
  private def run(df: DataFrame, cols: Seq[Column], wholeStage: Boolean): Either[String, Seq[Any]] = {
    val q = df.select(cols: _*)
    assert(q.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]) == wholeStage)
    try Right(q.collect().toSeq.map(bits))
    catch { case e: Exception => Left(rootCause(e).getClass.getName) }
  }

  private def bothModes(df: DataFrame, cols: Seq[Column]) = {
    val confs = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage",
      "spark.sql.codegen.fallback")
    val before = confs.map(k => k -> spark.conf.getOption(k))
    def set(vs: String*): Unit = confs.zip(vs).foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // generated: whole-stage codegen, no fallback to interpretation
      set("CODEGEN_ONLY", "true", "false")
      val gen = run(df, cols, wholeStage = true)
      // interpreted: no whole-stage codegen, interpreted projections
      set("NO_CODEGEN", "false", "true")
      val interp = run(df, cols, wholeStage = false)
      (gen, interp)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("all 16 native expressions: codegen and interpreted paths agree bit for bit on edge inputs") {
    val valid = Seq(
      ("vectors", vectors, vectorCols),
      ("tiles", tiles, tileCols.map(_(H, W, 2))),
      ("strings", strings, stringCols))
    valid.foreach { case (what, df, cols) =>
      val (gen, interp) = bothModes(df, cols)
      assert(gen.isRight, s"$what: codegen threw ${gen.left.getOrElse("")}")
      assert(gen == interp, s"$what: codegen=$gen interpreted=$interp")
    }
    // geometries requireGeometry rejects: too few pixels for h×w, a
    // dimension under the stencil's minimum, a zero factor
    val short = frame(StructType(Seq(StructField("data", arr(FloatType)))),
      Seq(Row(Seq.fill(4)(1f))))
    val rejected = tileCols.map(_(H, W, 2)) ++ tileCols.take(5).map(_(2, 2, 1)) ++
      Seq(TileExprs.upCubic(col("data"), 1, 4), TileExprs.down(col("data"), 2, 2, 0))
    rejected.foreach { c =>
      val (gen, interp) = bothModes(short, Seq(c))
      assert(gen == Left(classOf[IllegalArgumentException].getName), s"$c codegen: $gen")
      assert(interp == gen, s"$c: codegen=$gen interpreted=$interp")
    }
  }

  test("dot, sl2 and sl2e10 equal their Scala mirrors bit for bit on the edge inputs") {
    // the driver-side callers (the graph-ANN beam search) compute with the
    // mirrors what the plans compute with the expressions; a null element
    // reads as 0, as the Catalyst arrays store it
    def floats(v: Any) = v.asInstanceOf[scala.collection.Seq[Any]]
      .map { case null => 0f; case f: Float => f }.toArray
    def doubles(v: Any) = v.asInstanceOf[scala.collection.Seq[Any]]
      .map { case null => 0d; case d: Double => d }.toArray
    def mirror[A](f: (A, A) => Any, of: Any => A)(a: Any, b: Any): Any =
      if (a == null || b == null) null else f(of(a), of(b))
    val want = vectors.collect().toSeq.map { r =>
      bits(Row(mirror(VectorExprs.dot(_: Array[Float], _: Array[Float]), floats)(r(0), r(1)),
        mirror(VectorExprs.sl2(_: Array[Double], _: Array[Double]), doubles)(r(2), r(3)),
        mirror(VectorExprs.sl2e10(_: Array[Double], _: Array[Double]), doubles)(r(2), r(3))))
    }
    val cols = Seq(VectorExprs.dot(col("fa"), col("fb")), VectorExprs.sl2(col("da"), col("db")),
      VectorExprs.sl2e10(col("da"), col("db")))
    val (gen, interp) = bothModes(vectors, cols)
    assert(gen == Right(want), s"codegen=$gen mirrors=$want")
    assert(interp == Right(want), s"interpreted=$interp mirrors=$want")
  }
}
