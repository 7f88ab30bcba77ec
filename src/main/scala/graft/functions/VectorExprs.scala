package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.{Column, GraftInternal, SparkSession, SparkSessionExtensions}

import graft.raster.{TileDownsample, TileExprs, TileFocalExtremum3x3, TileFocalLaplace3x3,
  TileFocalSum3x3, TileFocalTri3x3, TileUpCubicRows, TileUpsample2x}

/** Native Catalyst expression for the vector hot path (SURVEY §5.3): a
  * whole-stage-codegen dot product over two float arrays.
  *
  * Preference order applied (builder contract): built-in higher-order
  * functions already express dot products, but their per-element lambda is
  * interpreted; for the ANN/similarity paths that fold 64 elements per row
  * pair this is the measured bottleneck, which justifies dropping to a
  * custom `Expression` with `doGenCode` — a tight primitive `for` loop in
  * generated Java, no boxing, no closure dispatch. A Scala UDF would box
  * every array; this stays inside WholeStageCodegen.
  *
  * Deterministic: strict left-to-right accumulation in array order, same in
  * interpreted and codegen paths.
  */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorExprs.dot(l.asInstanceOf[ArrayData].toFloatArray(), r.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Scaled-long dot product: per element accumulate
  * `FLOOR(a[i]*b[i]*1e14 + 0.5)` as a 64-bit integer — the exact twin of
  * the oracle's `SUM(CAST(FLOOR(a.x * b.x * 1e14 + 0.5) AS BIGINT))` over
  * an unnested layout (Det rule 3: each element canonicalizes via pure IEEE
  * ops, the integer sum is exact and order-free, so the posexplode + shuffle
  * + hash-agg a long-sum plan needs collapses into one per-row codegen'd
  * loop). VERDICT r01 item 6. */
case class FloatVecScaledDotL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sdotl expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorExprs.sdotl(l.asInstanceOf[ArrayData].toFloatArray(), r.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) java.lang.Math.floor(
         |    (double) $a.getFloat($i) * (double) $b.getFloat($i) * 1e14 + 0.5);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Scaled-long squared distance over two double arrays: per element
  * accumulate `FLOOR((a[i]-b[i])² * 1e14 + 0.5)` as a 64-bit integer — the
  * exact twin of the oracle's unnested
  * `SUM(CAST(FLOOR((u.x - c.c) * (u.x - c.c) * 1e14 + 0.5) AS BIGINT))`
  * (Det rule 3: pure IEEE per-element ops, exact order-free integer sum),
  * collapsing the posexplode + pos-join + dim×-row hash-agg the distance
  * computation otherwise needs into one per-pair codegen'd loop. */
case class DoubleVecScaledL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sl2 expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorExprs.sl2(l.asInstanceOf[ArrayData].toDoubleArray(), r.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += (long) java.lang.Math.floor($d * $d * 1e14 + 0.5);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[DoubleVecScaledL2]] at the 1e10 grid — the LOF family's distance
  * quantization (dq_outlier_lof/`_ann` floor per-element squared diffs
  * at 1e10 before the exact long sum, Quality.scala). Same exact-twin
  * argument as the 1e14 form; a separate expression rather than a scale
  * argument keeps both whole-stage codegen'd with literal constants.
  * Round 13: replaces the interpreted zip_with+aggregate higher-order
  * fold on the LOF pair stages (HOFs are CodegenFallback — measured
  * ~1.5 s of the exact key's steady time). */
case class DoubleVecScaledL2E10(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sl2e10 expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorExprs.sl2e10(l.asInstanceOf[ArrayData].toDoubleArray(), r.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += (long) java.lang.Math.floor($d * $d * 1e10 + 0.5);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED, duplicate-free int-id arrays — the
  * set-similarity verify kernel (llm_ngram_jaccard runs it on ~2.2M
  * candidate pairs per bench). `array_intersect` builds a hash set per
  * invocation (one allocation + rehash per ROW); this is the classic
  * two-pointer merge: zero allocation, branch-predictable, whole-stage
  * codegen'd. Callers own the contract that both arrays are ascending and
  * distinct (array_sort over dictionary ids in the shipped plans);
  * DetLemmaSpec proves equivalence to array_intersect generatively. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_icount expects (array<int>, array<int>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var acc = 0L
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { acc += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val acc = ctx.freshName("acc")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $acc = 0L;
         |while ($i < $na && $j < $nb) {
         |  int $x = $a.getInt($i); int $y = $b.getInt($j);
         |  if ($x == $y) { $acc++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** PQ asymmetric-distance sum over packed arrays — the batched ADC scan
  * kernel (llm_ann_batch_pq). `lut` is one query's M·K distance table
  * flattened row-major (index m*K + ck, K inferred as lut.len / code.len);
  * `code` is one vector's M centroid ids. Returns Σ_m lut[m*K + code[m]]
  * — exactly the former join-on-(m, ck) + SUM(d2) aggregate, but computed
  * per (query, vector) PAIR: the M-row expansion never materializes, so
  * the Q·N pair scan feeds M× fewer rows into the plan (guide §2.3).
  * Long addition is order-free, so the sum is bit-identical to the
  * aggregate it replaces (AnnPropertySpec pins the equality). */
case class PqAdcSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_pqadc expects (array<bigint>, array<int>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val lut = l.asInstanceOf[ArrayData]
    val code = r.asInstanceOf[ArrayData]
    val m = code.numElements()
    val k = if (m == 0) 0 else lut.numElements() / m
    var i = 0; var acc = 0L
    while (i < m) {
      acc += lut.getLong(i * k + code.getInt(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val m = ctx.freshName("m"); val k = ctx.freshName("k")
      val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      s"""
         |int $m = $r.numElements();
         |int $k = ($m == 0) ? 0 : $l.numElements() / $m;
         |long $acc = 0L;
         |for (int $i = 0; $i < $m; $i++) {
         |  $acc += $l.getLong($i * $k + $r.getInt($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {

  private def native(e: (Expression, Expression) => Expression)(a: Column, b: Column): Column =
    GraftInternal.column(e(GraftInternal.expression(a), GraftInternal.expression(b)))

  /** Column-level helper: [[FloatVecDot]]. */
  def dot(a: Column, b: Column): Column = native(FloatVecDot)(a, b)

  /** Column-level helper: [[FloatVecScaledDotL]]. */
  def sdotl(a: Column, b: Column): Column = native(FloatVecScaledDotL)(a, b)

  /** Column-level helper: [[DoubleVecScaledL2]]. */
  def sl2(a: Column, b: Column): Column = native(DoubleVecScaledL2)(a, b)

  /** Column-level helper: [[DoubleVecScaledL2E10]]. */
  def sl2e10(a: Column, b: Column): Column = native(DoubleVecScaledL2E10)(a, b)

  // The interpreted evaluation of dot, sdotl, sl2 and sl2e10 on plain
  // arrays, for driver-side callers (the graph-ANN index kernel and beam
  // search) that need the expressions' exact integers. NativeExprSpec
  // checks them against the generated code bit for bit. A null element
  // reads as 0, as the Catalyst arrays store it.

  /** [[FloatVecDot]]: the double sum of float products, left to right. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** [[FloatVecScaledDotL]]: the exact long sum of the scaled, floored
    * float products. */
  def sdotl(a: Array[Float], b: Array[Float]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor(a(i).toDouble * b(i).toDouble * 1e14 + 0.5).toLong
      i += 1
    }
    acc
  }

  /** [[DoubleVecScaledL2]]. */
  def sl2(a: Array[Double], b: Array[Double]): Long = scaledL2(a, b, 1e14)

  /** [[DoubleVecScaledL2E10]]. */
  def sl2e10(a: Array[Double], b: Array[Double]): Long = scaledL2(a, b, 1e10)

  private def scaledL2(a: Array[Double], b: Array[Double], scale: Double): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a(i) - b(i)
      acc += math.floor(d * d * scale + 0.5).toLong
      i += 1
    }
    acc
  }

  /** Column-level helper: [[SortedIntersectCount]] — both arrays must be
    * sorted ascending and duplicate-free. */
  def icount(a: Column, b: Column): Column = native(SortedIntersectCount)(a, b)

  /** Column-level helper: [[PqAdcSum]] — `lut` flattened row-major over
    * (m, ck), `code` the M centroid ids. */
  def pqadc(lut: Column, code: Column): Column = native(PqAdcSum)(lut, code)
}

/** Config-level registration: `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions` gives a session
  * the full custom tier — every SQL-callable native expression as a
  * built-in AND the as-of join's planner strategy + pushdown rule (the
  * SparkSessionExtensions surface of the contract; `AsOf.join` also
  * registers imperatively for sessions built without the conf). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfPushDown)
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {

  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def fn[E <: Expression](name: String)(build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name), build)

  /** The one name → constructor table of the SQL-callable native
    * expressions. The Column helpers (VectorExprs, TileExprs, UnicodeExprs)
    * build their expressions directly and need none of it; `Md5Low32` has
    * no SQL name (Det.hash32 is its only caller). */
  val functions: Seq[FunctionDescription] = Seq(
    fn("graft_dot")(c => FloatVecDot(c(0), c(1))),
    fn("graft_sdotl")(c => FloatVecScaledDotL(c(0), c(1))),
    fn("graft_sl2")(c => DoubleVecScaledL2(c(0), c(1))),
    fn("graft_sl2e10")(c => DoubleVecScaledL2E10(c(0), c(1))),
    fn("graft_icount")(c => SortedIntersectCount(c(0), c(1))),
    fn("graft_pqadc")(c => PqAdcSum(c(0), c(1))),
    fn(TileExprs.Up2xName)(c => TileUpsample2x(c(0), c(1), c(2))),
    fn(TileExprs.UpCubicName)(c => TileUpCubicRows(c(0), c(1), c(2))),
    fn(TileExprs.Max3Name)(c => TileFocalExtremum3x3(c(0), c(1), c(2), isMax = true)),
    fn(TileExprs.Min3Name)(c => TileFocalExtremum3x3(c(0), c(1), c(2), isMax = false)),
    fn(TileExprs.Focal3Name)(c => TileFocalSum3x3(c(0), c(1), c(2))),
    fn(TileExprs.Tri3Name)(c => TileFocalTri3x3(c(0), c(1), c(2))),
    fn(TileExprs.Laplace3Name)(c => TileFocalLaplace3x3(c(0), c(1), c(2))),
    fn(TileExprs.DownName)(c => TileDownsample(c(0), c(1), c(2), c(3))),
    fn(UnicodeExprs.NormName) { c =>
      require(c.length == 1, s"${UnicodeExprs.NormName} takes exactly one argument")
      UnicodeNormExpr(c.head)
    })

  /** Registers [[functions]] in a running session, for callers that name
    * a native expression in SQL text. Idempotent. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
