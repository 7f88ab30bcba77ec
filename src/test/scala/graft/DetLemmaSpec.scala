package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions._

/** Generative proofs of the Det scaled-grid lemmas the whole t2 strategy
  * rests on (Det.scala scaladoc; SURVEY §8.2). Each lemma is checked over
  * ScalaCheck-generated data with fixed seeds (repeatable):
  *
  *  1. s6/s2 grid sums are EXACT and merge-order-free: any partitioning,
  *     ordering or salt of the rows yields bit-identical long sums.
  *  2. avg6/mean6 derive from the exact integer sum and count with one
  *     IEEE multiply/divide — invariant to partition count.
  *  3. centSum equals BigDecimal cent accounting exactly for 2-dp money.
  *  4. The scaled-long vector dot (FloatVecScaledDotL) equals the
  *     relational unnest+floor+sum formulation element for element.
  */
class DetLemmaSpec extends SparkSpec {

  private def money(seed: Long, n: Int): List[Double] =
    Gen.listOfN(n, Gen.chooseNum(0L, 9999999L))
      .apply(Gen.Parameters.default, Seed(seed)).get
      .map(c => c / 100.0) // exact 2-dp money doubles

  private def doubles(seed: Long, n: Int): List[Double] =
    Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6))
      .apply(Gen.Parameters.default, Seed(seed)).get

  test("lemma 1: s6/s2 grid sums are exact and invariant to partitioning, order and salt") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      val xs = doubles(seed, 2000)
      val expected = xs.map(x => math.floor(x * 1e6 + 0.5).toLong).sum
      for (parts <- Seq(1, 7, 32); shuffled <- Seq(xs, xs.reverse, scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle(xs))) {
        val got = spark.createDataset(shuffled).repartition(parts)
          .agg(Det.sum6(col("value"))).head().getLong(0)
        assert(got == expected, s"seed=$seed parts=$parts")
      }
    }
  }

  test("lemma 2: mean6/avg6 are partition-count invariant") {
    import spark.implicits._
    for (seed <- 4L to 6L) {
      val xs = money(seed, 1500)
      val byParts = Seq(1, 5, 32).map { p =>
        val df = spark.createDataset(xs).repartition(p)
        (df.agg(Det.mean6(col("value"))).head().getLong(0),
          df.agg(Det.avg6(col("value"))).head().getLong(0))
      }
      assert(byParts.distinct.size == 1, s"seed=$seed -> $byParts")
    }
  }

  test("lemma 3: centSum equals BigDecimal cent accounting exactly") {
    import spark.implicits._
    for (seed <- 7L to 9L) {
      val xs = money(seed, 1500)
      val expected = xs.map(x => BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum.*(BigDecimal(100)).toLongExact
      val got = spark.createDataset(xs).repartition(11)
        .agg(Det.centSum(col("value"))).head().getLong(0)
      assert(got == expected, s"seed=$seed")
    }
  }

  test("lemma 4: the codegen scaled dot equals the relational unnest formulation") {
    import spark.implicits._
    import graft.functions.VectorExprs.sdotl
    for (seed <- 10L to 12L) {
      val a = doubles(seed, 64).map(x => (x / 1e6).toFloat)
      val b = doubles(seed + 100, 64).map(x => (x / 1e6).toFloat)
      val df = Seq((a, b)).toDF("a", "b")
      val viaExpr = df.select(sdotl(col("a"), col("b"))).head().getLong(0)
      val viaRelational = df
        .select(posexplode(col("a")).as(Seq("i", "xa")), col("b"))
        .select(floor(col("xa").cast("double") * element_at(col("b"), col("i") + 1).cast("double") * lit(1e14) + lit(0.5)).as("t"))
        .agg(sum(col("t"))).head().getLong(0)
      assert(viaExpr == viaRelational, s"seed=$seed")
    }
  }

  test("lemma 5: the two-pointer SortedIntersectCount equals array_intersect size") {
    import spark.implicits._
    import graft.functions.VectorExprs.icount
    val rnd = new scala.util.Random(77)
    // 500 random sorted distinct id-array pairs of skewed sizes — one
    // DataFrame so the codegen path (not just interpreted eval) runs
    val pairs = Seq.fill(500) {
      def arr() = (0 until (1 + rnd.nextInt(60)))
        .map(_ => rnd.nextInt(200)).distinct.sorted.toArray
      (arr(), arr())
    }
    val df = pairs.toDF("a", "b")
    val got = df.select(icount(col("a"), col("b"))).collect().map(_.getLong(0)).toSeq
    val viaBuiltin = df.select(size(array_intersect(col("a"), col("b"))).cast("long"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == viaBuiltin)
    val expected = pairs.map { case (a, b) => (a.toSet & b.toSet).size.toLong }
    assert(got == expected)
  }

  test("lemma 5b: PqAdcSum over packed arrays equals the (m, ck) join + SUM aggregate") {
    import spark.implicits._
    import graft.functions.VectorExprs.pqadc
    val rnd = new scala.util.Random(4242)
    val (mM, kK) = (5, 7)
    // lut: one row-major M*K long array; code: M centroid ids — the
    // packed batched-ADC layout (llm_ann_batch_pq round-17 rewrite)
    val rows = Seq.fill(300) {
      val lut = Array.fill(mM * kK)(rnd.nextLong() % 1000000L)
      val code = Array.fill(mM)(rnd.nextInt(kK))
      (lut, code)
    }
    val got = rows.toDF("lut", "code")
      .select(pqadc(col("lut"), col("code"))).collect().map(_.getLong(0)).toSeq
    val expected = rows.map { case (lut, code) =>
      code.zipWithIndex.map { case (ck, m) => lut(m * kK + ck) }.sum }
    assert(got == expected)
  }

  test("lemma 6: Spark lnInt/expP equal the Scala mirrors bit-for-bit; halfUpDiv is exact") {
    import spark.implicits._
    // lnInt: wide integer domain incl. powers of two and their neighbours
    val ns = ((1L to 4096L) ++ (0 to 50).flatMap(e =>
      Seq((1L << math.min(e, 52)) - 1, 1L << math.min(e, 52),
        (1L << math.min(e, 52)) + 1)) ++
      Seq(999999937L, 4503599627370495L)).distinct.filter(_ >= 1)
    val gotLn = spark.createDataset(ns).toDF("n").repartition(7)
      .select(col("n"), Det.lnInt(col("n")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ns.foreach { n =>
      val mirror = Det.lnIntD(n)
      assert(java.lang.Double.doubleToLongBits(gotLn(n)) ==
        java.lang.Double.doubleToLongBits(mirror), s"lnInt($n)")
      assert(math.abs(mirror - math.log(n.toDouble)) < 2e-9, s"lnInt($n) accuracy")
    }
    // expP: grid over the FULL portable domain [-43, 43], knife-edge
    // half-multiples of ln2, and out-of-domain points that must SATURATE
    // (round-11: |k| ≥ 63 shifts wrap on the JVM but zero in DuckDB, so
    // expP clamps its input to ±43 in all three twin forms).
    val xs = ((-4300 to 4300).map(_ / 100.0) ++
      (-62 to 62).map(_ * 0.34657359027997264) ++
      Seq(-1e9, -700.0, -43.001, 43.001, 700.0, 1e9)).distinct
    val gotExp = spark.createDataset(xs).toDF("x").repartition(5)
      .select(col("x"), Det.expP(col("x")).as("e"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    xs.foreach { x =>
      val mirror = Det.expPD(x)
      assert(java.lang.Double.doubleToLongBits(gotExp(x)) ==
        java.lang.Double.doubleToLongBits(mirror), s"expP($x)")
      if (math.abs(x) <= 43.0)
        assert(math.abs(mirror / math.exp(x) - 1.0) < 1e-14, s"expP($x) accuracy")
      else  // saturation: out-of-domain inputs pin to the ±43 boundary value
        assert(mirror == Det.expPD(math.signum(x) * 43.0), s"expP($x) saturation")
    }
    // halfUpDiv == floor(s/n + 1/2) for every sign combination of s
    val cases = for (sv <- -500L to 500L; nv <- Seq(1L, 2L, 3L, 7L, 360L)) yield (sv, nv)
    val gotH = spark.createDataset(cases.toSeq).toDF("s", "n")
      .select(col("s"), col("n"), Det.halfUpDiv(col("s"), col("n")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (sv, nv) =>
      val expect = Math.floorDiv(2 * sv + nv, 2 * nv)
      assert(gotH((sv, nv)) == expect, s"halfUpDiv($sv, $nv)")
    }
  }

  test("lemma 7: hash32Scala equals the hash32 Column form bit-for-bit") {
    // the driver-side twin exists ONLY for plan-time constants (the NSW
    // sign table); any drift from the Column/SQL forms would silently
    // de-derandomize a graded geometry, so pin it over the actual input
    // shapes in use plus generic strings
    val inputs = (for (p <- 0 until 8; j <- 0 until 64) yield s"$p:$j") ++
      Seq("", "nsw:entry:0", "kll:7", "ransac:123", "a b c", "é")
    val got = spark.createDataset(inputs.toSeq)(
        org.apache.spark.sql.Encoders.STRING).toDF("s")
      .select(col("s"), Det.hash32(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach { in =>
      assert(got(in) == Det.hash32Scala(in), s"hash32Scala($in)")
    }
  }
}
