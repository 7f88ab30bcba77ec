package graft.raster

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import org.apache.spark.sql.{Column, GraftInternal}

/** Native Catalyst expressions for the fixed-stencil tile hot paths
  * (SURVEY §5.3, the same justification as functions.VectorExprs): the
  * higher-order `transform` forms of the upsample/focal kernels are
  * interpreted per OUTPUT PIXEL — lambda dispatch + an element_at walk
  * per term — which the bench measured as the whole cost of the keys
  * (eo_tile_upsample 4.5 s for ~96 graded tiles; the focal keys carried
  * the same eval class even after the flat-9-term unroll). A stencil is
  * a tight index loop over one primitive float array: exactly what
  * `doGenCode` expresses and whole-stage codegen inlines — no boxing, no
  * closure dispatch, one `UnsafeArrayData.fromPrimitiveArray` per tile.
  *
  * Determinism: float arithmetic in the IDENTICAL association order as
  * the transform forms they replace (left-assoc 4-term / 9-term sums),
  * so results are bit-for-bit unchanged and the DuckDB oracles and
  * brute-force specs hold without modification. Interpreted nullSafeEval
  * mirrors the generated Java exactly.
  *
  * (h, w) arrive as foldable int literals (tile geometry is plan-time
  * constant); the Column helpers in [[TileExprs]] build the expressions
  * directly, like the vector family, and `GraftExtensions` names them
  * for SQL text.
  */
case class TileUpsample2x(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = TileExprs.Up2xName

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_tile_up2x expects (array<float>, int, int), got $other")
    }

  override def nullSafeEval(d: Any, hh: Any, ww: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val h = hh.asInstanceOf[Int]; val w = ww.asInstanceOf[Int]
    TileExprs.requireGeometry(prettyName, a.numElements(), h, w, 1)
    val ow = 2 * w
    val out = new Array[Float](4 * h * w)
    var oy = 0
    while (oy < 2 * h) {
      val y0 = oy / 2
      val y1 = math.min(y0 + oy % 2, h - 1)
      var ox = 0
      while (ox < ow) {
        val x0 = ox / 2
        val x1 = math.min(x0 + ox % 2, w - 1)
        out(oy * ow + ox) =
          (a.getFloat(y0 * w + x0) + a.getFloat(y0 * w + x1) +
            a.getFloat(y1 * w + x0) + a.getFloat(y1 * w + x1)) / 4.0f
        ox += 1
      }
      oy += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, hh, ww) => {
      val h = ctx.freshName("h"); val w = ctx.freshName("w")
      val ow = ctx.freshName("ow"); val out = ctx.freshName("out")
      val oy = ctx.freshName("oy"); val ox = ctx.freshName("ox")
      val y0 = ctx.freshName("y0"); val y1 = ctx.freshName("y1")
      val x0 = ctx.freshName("x0"); val x1 = ctx.freshName("x1")
      s"""
         |int $h = $hh; int $w = $ww; int $ow = 2 * $w;
         |graft.raster.TileExprs.requireGeometry("${TileExprs.Up2xName}", $d.numElements(), $h, $w, 1, 1);
         |float[] $out = new float[4 * $h * $w];
         |for (int $oy = 0; $oy < 2 * $h; $oy++) {
         |  int $y0 = $oy / 2;
         |  int $y1 = java.lang.Math.min($y0 + $oy % 2, $h - 1);
         |  for (int $ox = 0; $ox < $ow; $ox++) {
         |    int $x0 = $ox / 2;
         |    int $x1 = java.lang.Math.min($x0 + $ox % 2, $w - 1);
         |    $out[$oy * $ow + $ox] =
         |      ($d.getFloat($y0 * $w + $x0) + $d.getFloat($y0 * $w + $x1) +
         |       $d.getFloat($y1 * $w + $x0) + $d.getFloat($y1 * $w + $x1)) / 4.0f;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** 3×3 interior box sum — the focal kernel, 9 terms left-assoc like the
  * unrolled transform it replaces. Output (h-2)×(w-2). */
case class TileFocalSum3x3(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = TileExprs.Focal3Name

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_tile_focal3 expects (array<float>, int, int), got $other")
    }

  override def nullSafeEval(d: Any, hh: Any, ww: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val h = hh.asInstanceOf[Int]; val w = ww.asInstanceOf[Int]
    TileExprs.requireGeometry(prettyName, a.numElements(), h, w, 1, minDim = 3)
    val oh = h - 2; val ow = w - 2
    val out = new Array[Float](oh * ow)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val c = (oy + 1) * w + (ox + 1)
        out(oy * ow + ox) =
          a.getFloat(c - w - 1) + a.getFloat(c - w) + a.getFloat(c - w + 1) +
            a.getFloat(c - 1) + a.getFloat(c) + a.getFloat(c + 1) +
            a.getFloat(c + w - 1) + a.getFloat(c + w) + a.getFloat(c + w + 1)
        ox += 1
      }
      oy += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, hh, ww) => {
      val h = ctx.freshName("h"); val w = ctx.freshName("w")
      val oh = ctx.freshName("oh"); val ow = ctx.freshName("ow")
      val out = ctx.freshName("out"); val c = ctx.freshName("c")
      val oy = ctx.freshName("oy"); val ox = ctx.freshName("ox")
      s"""
         |int $h = $hh; int $w = $ww;
         |graft.raster.TileExprs.requireGeometry("${TileExprs.Focal3Name}", $d.numElements(), $h, $w, 1, 3);
         |int $oh = $h - 2; int $ow = $w - 2;
         |float[] $out = new float[$oh * $ow];
         |for (int $oy = 0; $oy < $oh; $oy++) {
         |  for (int $ox = 0; $ox < $ow; $ox++) {
         |    int $c = ($oy + 1) * $w + ($ox + 1);
         |    $out[$oy * $ow + $ox] =
         |      $d.getFloat($c - $w - 1) + $d.getFloat($c - $w) + $d.getFloat($c - $w + 1) +
         |      $d.getFloat($c - 1) + $d.getFloat($c) + $d.getFloat($c + 1) +
         |      $d.getFloat($c + $w - 1) + $d.getFloat($c + $w) + $d.getFloat($c + $w + 1);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Terrain Ruggedness Index stencil — (data, h, w): per interior pixel,
  * the sum of |neighbor − center| over the 8-neighborhood (Riley et al.
  * 1999 take the square root of squared diffs; the abs-sum form keeps
  * small-integer pixels exact in float32, the same reason focalSum3x3
  * is unnormalized). Output (h−2)×(w−2), row-major, left-assoc 8-term
  * sum in the interpreted and generated paths alike. */
case class TileFocalTri3x3(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = TileExprs.Tri3Name

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_tile_tri3 expects (array<float>, int, int), got $other")
    }

  override def nullSafeEval(d: Any, hh: Any, ww: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val h = hh.asInstanceOf[Int]; val w = ww.asInstanceOf[Int]
    TileExprs.requireGeometry(prettyName, a.numElements(), h, w, 1, minDim = 3)
    val oh = h - 2; val ow = w - 2
    val out = new Array[Float](oh * ow)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val c = (oy + 1) * w + (ox + 1)
        val v = a.getFloat(c)
        out(oy * ow + ox) =
          Math.abs(a.getFloat(c - w - 1) - v) + Math.abs(a.getFloat(c - w) - v) +
            Math.abs(a.getFloat(c - w + 1) - v) + Math.abs(a.getFloat(c - 1) - v) +
            Math.abs(a.getFloat(c + 1) - v) + Math.abs(a.getFloat(c + w - 1) - v) +
            Math.abs(a.getFloat(c + w) - v) + Math.abs(a.getFloat(c + w + 1) - v)
        ox += 1
      }
      oy += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, hh, ww) => {
      val h = ctx.freshName("h"); val w = ctx.freshName("w")
      val oh = ctx.freshName("oh"); val ow = ctx.freshName("ow")
      val out = ctx.freshName("out"); val c = ctx.freshName("c")
      val oy = ctx.freshName("oy"); val ox = ctx.freshName("ox")
      val v = ctx.freshName("v")
      s"""
         |int $h = $hh; int $w = $ww;
         |graft.raster.TileExprs.requireGeometry("${TileExprs.Tri3Name}", $d.numElements(), $h, $w, 1, 3);
         |int $oh = $h - 2; int $ow = $w - 2;
         |float[] $out = new float[$oh * $ow];
         |for (int $oy = 0; $oy < $oh; $oy++) {
         |  for (int $ox = 0; $ox < $ow; $ox++) {
         |    int $c = ($oy + 1) * $w + ($ox + 1);
         |    float $v = $d.getFloat($c);
         |    $out[$oy * $ow + $ox] =
         |      Math.abs($d.getFloat($c - $w - 1) - $v) + Math.abs($d.getFloat($c - $w) - $v) +
         |      Math.abs($d.getFloat($c - $w + 1) - $v) + Math.abs($d.getFloat($c - 1) - $v) +
         |      Math.abs($d.getFloat($c + 1) - $v) + Math.abs($d.getFloat($c + $w - 1) - $v) +
         |      Math.abs($d.getFloat($c + $w) - $v) + Math.abs($d.getFloat($c + $w + 1) - $v);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Discrete 4-neighbor Laplacian stencil — (data, h, w): per interior
  * pixel, N + S + E + W − 4·center (the plus-shaped second-derivative
  * kernel of curvature/edge analysis; exact in float32 on small-integer
  * pixels). Output (h−2)×(w−2), row-major. */
case class TileFocalLaplace3x3(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = TileExprs.Laplace3Name

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_tile_laplace3 expects (array<float>, int, int), got $other")
    }

  override def nullSafeEval(d: Any, hh: Any, ww: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val h = hh.asInstanceOf[Int]; val w = ww.asInstanceOf[Int]
    TileExprs.requireGeometry(prettyName, a.numElements(), h, w, 1, minDim = 3)
    val oh = h - 2; val ow = w - 2
    val out = new Array[Float](oh * ow)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val c = (oy + 1) * w + (ox + 1)
        out(oy * ow + ox) =
          a.getFloat(c - w) + a.getFloat(c + w) + a.getFloat(c - 1) +
            a.getFloat(c + 1) - 4.0f * a.getFloat(c)
        ox += 1
      }
      oy += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, hh, ww) => {
      val h = ctx.freshName("h"); val w = ctx.freshName("w")
      val oh = ctx.freshName("oh"); val ow = ctx.freshName("ow")
      val out = ctx.freshName("out"); val c = ctx.freshName("c")
      val oy = ctx.freshName("oy"); val ox = ctx.freshName("ox")
      s"""
         |int $h = $hh; int $w = $ww;
         |graft.raster.TileExprs.requireGeometry("${TileExprs.Laplace3Name}", $d.numElements(), $h, $w, 1, 3);
         |int $oh = $h - 2; int $ow = $w - 2;
         |float[] $out = new float[$oh * $ow];
         |for (int $oy = 0; $oy < $oh; $oy++) {
         |  for (int $ox = 0; $ox < $ow; $ox++) {
         |    int $c = ($oy + 1) * $w + ($ox + 1);
         |    $out[$oy * $ow + $ox] =
         |      $d.getFloat($c - $w) + $d.getFloat($c + $w) + $d.getFloat($c - 1) +
         |      $d.getFloat($c + 1) - 4.0f * $d.getFloat($c);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Block-mean downsample by an integer factor — (data, h, w, factor).
  * Accumulation order matches the `aggregate` fold it replaces: k-order
  * row-major within the block from a 0.0f seed, one float divide by
  * factor² at the end. Output (h/factor)×(w/factor). */
case class TileDownsample(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def prettyName: String = TileExprs.DownName

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_tile_down expects (array<float>, int, int, int), got $other")
    }

  override def nullSafeEval(d: Any, hh: Any, ww: Any, ff: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val h = hh.asInstanceOf[Int]; val w = ww.asInstanceOf[Int]
    val f = ff.asInstanceOf[Int]
    TileExprs.requireGeometry(prettyName, a.numElements(), h, w, f)
    val oh = h / f; val ow = w / f
    val out = new Array[Float](oh * ow)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        var acc = 0.0f
        var k = 0
        while (k < f * f) {
          acc += a.getFloat((oy * f + k / f) * w + (ox * f + k % f))
          k += 1
        }
        out(oy * ow + ox) = acc / (f * f).toFloat
        ox += 1
      }
      oy += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, hh, ww, ff) => {
      val h = ctx.freshName("h"); val w = ctx.freshName("w")
      val f = ctx.freshName("f"); val oh = ctx.freshName("oh")
      val ow = ctx.freshName("ow"); val out = ctx.freshName("out")
      val oy = ctx.freshName("oy"); val ox = ctx.freshName("ox")
      val k = ctx.freshName("k"); val acc = ctx.freshName("acc")
      s"""
         |int $h = $hh; int $w = $ww; int $f = $ff;
         |graft.raster.TileExprs.requireGeometry("${TileExprs.DownName}", $d.numElements(), $h, $w, $f, 1);
         |int $oh = $h / $f; int $ow = $w / $f;
         |float[] $out = new float[$oh * $ow];
         |for (int $oy = 0; $oy < $oh; $oy++) {
         |  for (int $ox = 0; $ox < $ow; $ox++) {
         |    float $acc = 0.0f;
         |    for (int $k = 0; $k < $f * $f; $k++) {
         |      $acc += $d.getFloat(($oy * $f + $k / $f) * $w + ($ox * $f + $k % $f));
         |    }
         |    $out[$oy * $ow + $ox] = $acc / (float) ($f * $f);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f1: Expression, f2: Expression, f3: Expression, f4: Expression): Expression =
    copy(first = f1, second = f2, third = f3, fourth = f4)
}

/** Horizontal cubic-convolution 2× upsample (Catmull-Rom at t = 1/2,
  * GDAL resampling='cubic' along the row axis): even outputs reproduce
  * the input ×16, odd outputs are the integer tap sum −p₋₁ + 9p₀ + 9p₁
  * − p₂ with edge clamp — SIXTEEN-SCALED so every output is an exact
  * small integer in float32 (the /16 is deferred to the consumer, the
  * focalSum3x3 unnormalized-sum discipline). Output h×2w. */
case class TileUpCubicRows(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = TileExprs.UpCubicName

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_tile_upcubic expects (array<float>, int, int), got $other")
    }

  override def nullSafeEval(d: Any, hh: Any, ww: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val h = hh.asInstanceOf[Int]; val w = ww.asInstanceOf[Int]
    TileExprs.requireGeometry(prettyName, a.numElements(), h, w, 1, 2)
    val ow = 2 * w
    val out = new Array[Float](h * ow)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val xm = math.max(x - 1, 0)
        val xp = math.min(x + 1, w - 1)
        val xq = math.min(x + 2, w - 1)
        out(y * ow + 2 * x) = a.getFloat(y * w + x) * 16.0f
        out(y * ow + 2 * x + 1) =
          -a.getFloat(y * w + xm) + 9.0f * a.getFloat(y * w + x) +
            9.0f * a.getFloat(y * w + xp) - a.getFloat(y * w + xq)
        x += 1
      }
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, hh, ww) => {
      val h = ctx.freshName("h"); val w = ctx.freshName("w")
      val ow = ctx.freshName("ow"); val out = ctx.freshName("out")
      val y = ctx.freshName("y"); val x = ctx.freshName("x")
      val xm = ctx.freshName("xm"); val xp = ctx.freshName("xp")
      val xq = ctx.freshName("xq")
      s"""
         |int $h = $hh; int $w = $ww; int $ow = 2 * $w;
         |graft.raster.TileExprs.requireGeometry("${TileExprs.UpCubicName}", $d.numElements(), $h, $w, 1, 2);
         |float[] $out = new float[$h * $ow];
         |for (int $y = 0; $y < $h; $y++) {
         |  for (int $x = 0; $x < $w; $x++) {
         |    int $xm = java.lang.Math.max($x - 1, 0);
         |    int $xp = java.lang.Math.min($x + 1, $w - 1);
         |    int $xq = java.lang.Math.min($x + 2, $w - 1);
         |    $out[$y * $ow + 2 * $x] = $d.getFloat($y * $w + $x) * 16.0f;
         |    $out[$y * $ow + 2 * $x + 1] =
         |      -$d.getFloat($y * $w + $xm) + 9.0f * $d.getFloat($y * $w + $x) +
         |      9.0f * $d.getFloat($y * $w + $xp) - $d.getFloat($y * $w + $xq);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** 3×3 interior focal EXTREMUM — one stencil class for both the grayscale
  * DILATE (max) and ERODE (min) of mathematical morphology; float
  * comparisons are exact (no arithmetic), so composition stays on the
  * integer grid whenever inputs are small integers. Output (h−2)×(w−2),
  * the focalSum3x3 interior/halo contract. */
case class TileFocalExtremum3x3(first: Expression, second: Expression,
    third: Expression, isMax: Boolean)
    extends TernaryExpression {

  override def prettyName: String =
    if (isMax) TileExprs.Max3Name else TileExprs.Min3Name

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, int, int), got $other")
    }

  override def nullSafeEval(d: Any, hh: Any, ww: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val h = hh.asInstanceOf[Int]; val w = ww.asInstanceOf[Int]
    TileExprs.requireGeometry(prettyName, a.numElements(), h, w, 1, minDim = 3)
    val oh = h - 2; val ow = w - 2
    val out = new Array[Float](oh * ow)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val c = (oy + 1) * w + (ox + 1)
        // seed with ±Infinity and scan all 9 neighbors — IDENTICAL to the
        // codegen path below (a value seed + strict comparisons would
        // retain a NaN seed while codegen silently skips NaN, making
        // wholestage-codegen on/off change the output; ADVICE r9)
        var m = if (isMax) Float.NegativeInfinity else Float.PositiveInfinity
        var i = 0
        val offs = Array(-w - 1, -w, -w + 1, -1, 0, 1, w - 1, w, w + 1)
        while (i < 9) {
          val v = a.getFloat(c + offs(i))
          if (if (isMax) v > m else v < m) m = v
          i += 1
        }
        out(oy * ow + ox) = m
        ox += 1
      }
      oy += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, hh, ww) => {
      val h = ctx.freshName("h"); val w = ctx.freshName("w")
      val oh = ctx.freshName("oh"); val ow = ctx.freshName("ow")
      val out = ctx.freshName("out"); val c = ctx.freshName("c")
      val oy = ctx.freshName("oy"); val ox = ctx.freshName("ox")
      val m = ctx.freshName("m"); val v = ctx.freshName("v")
      val cmp = if (isMax) ">" else "<"
      val offs = Seq("- $W - 1", "- $W", "- $W + 1", "- 1", "", "+ 1",
        "+ $W - 1", "+ $W", "+ $W + 1")
      val reads = offs.map(o => o.replace("$W", w)).map { o =>
        s"""|    { float $v = $d.getFloat($c $o); if ($v $cmp $m) $m = $v; }"""
          .stripMargin
      }
      s"""
         |int $h = $hh; int $w = $ww;
         |graft.raster.TileExprs.requireGeometry("$prettyName", $d.numElements(), $h, $w, 1, 3);
         |int $oh = $h - 2; int $ow = $w - 2;
         |float[] $out = new float[$oh * $ow];
         |for (int $oy = 0; $oy < $oh; $oy++) {
         |  for (int $ox = 0; $ox < $ow; $ox++) {
         |    int $c = ($oy + 1) * $w + ($ox + 1);
         |    float $m = ${if (isMax) "Float.NEGATIVE_INFINITY" else "Float.POSITIVE_INFINITY"};
         |${reads.mkString("\n")}
         |    $out[$oy * $ow + $ox] = $m;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object TileExprs {

  val Up2xName = "graft_tile_up2x"
  val UpCubicName = "graft_tile_upcubic"
  val Max3Name = "graft_tile_max3"
  val Min3Name = "graft_tile_min3"
  val Focal3Name = "graft_tile_focal3"
  val Tri3Name = "graft_tile_tri3"
  val Laplace3Name = "graft_tile_laplace3"
  val DownName = "graft_tile_down"

  /** One branch per TILE (not per pixel): the stencils index the pixel
    * array purely from the (h, w, factor) literals, and an
    * UnsafeArrayData.getFloat past numElements is an UNCHECKED platform
    * read — silent garbage, where the element_at forms they replaced
    * returned NULL. Mismatched geometry must fail loudly instead.
    * Called from both the interpreted eval and the generated Java. */
  def requireGeometry(fn: String, n: Int, h: Int, w: Int, f: Int,
      minDim: Int = 1): Unit = {
    if (h < minDim || w < minDim || f < 1 || n < h * w)
      throw new IllegalArgumentException(
        s"$fn: tile geometry (h=$h, w=$w, factor=$f) needs ${h.max(0) * w.max(0)}" +
          s" pixels (min dim $minDim) but the array has $n elements")
  }

  private def stencil(e: (Expression, Expression, Expression) => Expression)(
      data: Column, h: Int, w: Int): Column =
    GraftInternal.column(e(GraftInternal.expression(data), Literal(h), Literal(w)))

  def up2x(data: Column, h: Int, w: Int): Column = stencil(TileUpsample2x)(data, h, w)

  def upCubic(data: Column, h: Int, w: Int): Column = stencil(TileUpCubicRows)(data, h, w)

  def max3(data: Column, h: Int, w: Int): Column =
    stencil(TileFocalExtremum3x3(_, _, _, isMax = true))(data, h, w)

  def min3(data: Column, h: Int, w: Int): Column =
    stencil(TileFocalExtremum3x3(_, _, _, isMax = false))(data, h, w)

  def focal3(data: Column, h: Int, w: Int): Column = stencil(TileFocalSum3x3)(data, h, w)

  def tri3(data: Column, h: Int, w: Int): Column = stencil(TileFocalTri3x3)(data, h, w)

  def laplace3(data: Column, h: Int, w: Int): Column = stencil(TileFocalLaplace3x3)(data, h, w)

  def down(data: Column, h: Int, w: Int, factor: Int): Column =
    GraftInternal.column(TileDownsample(
      GraftInternal.expression(data), Literal(h), Literal(w), Literal(factor)))
}
