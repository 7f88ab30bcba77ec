package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers for the DuckDB-oracle hash match (SURVEY.md §8.2).
  *
  * REVISED after round 1: the original strategy projected DECIMAL columns
  * (round→cast, decimal-element sums). The driver's CORRECTNESS_r01.json
  * falsified it — all 41 hash-failing keys carried a DECIMAL column derived
  * from doubles, zero non-decimal keys failed, and the "a float64 can never
  * sit on a decimal rounding tie" assumption broke empirically:
  * AVG(l_discount) at sf0.01 = 0.0499185000000047, i.e. frac(x·1e6) =
  * 0.50000000469 — a knife-edge 6dp tie that different engine builds may
  * round apart. VERDICT.md (round 1) prescribes the replacement used here.
  *
  * The surviving, provable rules:
  *
  *  1. Canonical numeric output = scaled BIGINT, never DECIMAL and never a
  *     derived DOUBLE. `FLOOR(x*1e6 + 0.5)` is a pure IEEE-double op
  *     sequence: given bit-identical `x` it is bit-identical in every
  *     engine, and the resulting integers hash identically everywhere.
  *     (For negative x this is round-half-toward-+∞ — one shared definition
  *     on both sides, still deterministic.)
  *
  *  2. A per-row scalar computed from parquet values with +,-,*,/ , abs,
  *     floor/ceil, greatest/least, sqrt (all IEEE-exact or correctly
  *     rounded) is bit-identical across engines, so rule 1 applies to it
  *     directly. ln/log10/pow/exp may differ by 1 ulp between libm
  *     builds — round 9's driver proved this risk REAL (win_survival
  *     et al.), so since round 10 NO graded surface calls libm: every
  *     ln/exp goes through the portable fixed-IEEE-sequence helpers
  *     below ([[lnInt]]/[[lnRatio]]/[[expP]]), and integer divisions in
  *     oracles only ever see non-negative operands (DuckDB `//` is
  *     truncating in 1.0.0 but floor-style in other builds; on
  *     non-negative operands all builds agree). Graded epoch arithmetic
  *     additionally assumes non-negative epochs (post-1970 corpus) —
  *     pinned here so future corpora can't silently violate it. The
  *     remaining libm surface is trig (sin/cos/tan in the CRS keys),
  *     documented per key, whose outputs quantize to integer meters
  *     with ~1e-9 m of drift against a 1 m grid.
  *
  *  3. An engine-internal double AGGREGATION (SUM/AVG/STDDEV over doubles)
  *     is order-dependent and must never reach an output. Canonicalize each
  *     element to the integer grid FIRST (`s2`/`s6`), sum the longs
  *     (exact, order-free, codegen'd), and derive ratios/means/variances
  *     from those exact integers with a FIXED double op sequence — each op
  *     has identical integer inputs on both engines, so the double result
  *     is bit-identical by induction.
  *
  *  4. Percentile interpolation over INTEGER inputs with p ∈ {.25,.5,.75}
  *     is exact in double space (both engines' lerp formulas agree on
  *     exact values), so percentiles run over scaled longs and re-scale
  *     the result by 100 into an integer output.
  *
  * DuckDB twins (see each helper): SUM(BIGINT) is HUGEINT there — always
  * CAST the outer sum back to BIGINT; FLOOR returns DOUBLE there — the
  * value is integral, so CAST AS BIGINT is exact.
  */
object Det {

  /** Canonical 6-dp scaled-long projection of a deterministic double.
    * Oracle twin: CAST(FLOOR((x) * 1e6 + 0.5) AS BIGINT). */
  def s6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)).cast("long")

  /** 4-dp variant. Oracle: CAST(FLOOR((x) * 1e4 + 0.5) AS BIGINT). */
  def s4(c: Column): Column = floor(c * lit(1e4) + lit(0.5)).cast("long")

  /** Integer cents of a 2-dp money double (exact: representation error of
    * a 2-dp value is ≪ 0.5 cent). Oracle: CAST(FLOOR((x) * 100 + 0.5) AS BIGINT). */
  def s2(c: Column): Column = floor(c * lit(100) + lit(0.5)).cast("long")

  /** Nearest-integer units (scale 0: FLOOR(x+0.5) is the same op on both
    * engines, so even exact .5 ties break identically).
    * Oracle: CAST(FLOOR((x) + 0.5) AS BIGINT). */
  def s0(c: Column): Column = floor(c + lit(0.5)).cast("long")

  /** Exact, order-free integer-cent sum of a 2-dp money double.
    * Oracle twin: CAST(SUM(CAST(FLOOR((x) * 100 + 0.5) AS BIGINT)) AS BIGINT). */
  def centSum(c: Column): Column = sum(s2(c))

  /** 6-dp scaled mean of a 2-dp money double, derived exactly:
    * FLOOR(centSum * 1e4 / n + 0.5). The sum and count are exact integers;
    * the multiply and divide are one IEEE op each.
    * Oracle twin: [[Det.sqlAvg6]]. */
  def avg6(c: Column): Column =
    floor(sum(s2(c)).cast("double") * lit(1e4) / count(lit(1)) + lit(0.5)).cast("long")

  /** Exact, order-free sum over the 6-dp grid of an arbitrary-precision
    * double (canonicalize per element, then sum longs).
    * Oracle twin: [[Det.sqlSum6]]. */
  def sum6(c: Column): Column = sum(s6(c))

  /** 6-dp-grid mean of an arbitrary-precision double: exact grid-sum and
    * count, one cast, one divide. Oracle twin: [[Det.sqlMean6]]. */
  def mean6(c: Column): Column =
    floor(sum(s6(c)).cast("double") / count(lit(1)) + lit(0.5)).cast("long")

  /** Whole seconds since epoch for the ns-precision `events.ts` (both
    * engines already agree at µs; second floor is engine-identical).
    * Oracle twin: CAST(FLOOR(EPOCH(ts)) AS BIGINT). */
  def epochS(c: Column): Column = unix_timestamp(c)

  /** Exact integer round-half-up of the rational s/n — the ALL-INTEGER
    * replacement for `FLOOR(CAST(sum AS DOUBLE)/count + 0.5)` (r9's
    * win_decompose driver-red showed the double-divide form is not
    * portable across engine builds when the numerator is negative).
    * Requires n > 0 (any sign s); equals floor(s/n + 1/2) exactly.
    *
    * Implementation: floor((2s+n)/(2n)) via the pmod identity
    * a − pmod(a,b) = b·⌊a/b⌋; the final divide is of an exact multiple
    * of b, hence IEEE-exact. Bound: |2s+n| must stay < 2^53 (callers
    * sum day-series cents — ≲1e12 ≪ 2^53).
    * Oracle twin: [[Det.sqlHalfUpDiv]] (mathematically identical, spelled
    * with `//` applied to NON-NEGATIVE operands only, where floor- and
    * truncation-style integer division agree on every DuckDB build —
    * local 1.0.0 truncates `-7//2 = -3`, other builds floor; graded
    * surfaces must never hand `//` a negative operand). */
  def halfUpDiv(s: Column, n: Column): Column = {
    val a = s.cast("long") * 2 + n.cast("long")
    val b = n.cast("long") * 2
    ((a - pmod(a, b)).cast("double") / b.cast("double")).cast("long")
  }

  /** Oracle twin of [[halfUpDiv]]: round-half-up of s/n (n > 0) with
    * every `//` operand non-negative, so floor/trunc `//` builds agree.
    * s<0 branch: floor((2s+n)/(2n)) = −((−2s+n−1) // (2n)). */
  def sqlHalfUpDiv(s: String, n: String): String =
    s"(CASE WHEN ($s) >= 0 THEN (2*($s) + ($n)) // (2*($n)) " +
      s"ELSE -(((-2)*($s) + ($n) - 1) // (2*($n))) END)"

  // ---- portable transcendentals (round 10) ----------------------------
  //
  // Round 9's driver disagreed with the local DuckDB on exactly the keys
  // whose graded integer floored a bare libm LN (win_survival et al.) —
  // the Det rule-2 "1 ulp between libm builds, accepted residual risk"
  // realized. These helpers remove libm from the graded surface entirely:
  // each is ONE FIXED sequence of IEEE +,-,*,/ ops (all correctly rounded
  // by the standard), so given identical inputs every engine — Spark's
  // JVM, DuckDB's C++, the Scala test mirrors — computes bit-identical
  // doubles BY CONSTRUCTION, independent of libm build. Verified: the
  // DuckDB 1.0.0 evaluation of these exact op sequences matches an
  // IEEE-double mirror bit-for-bit over 1..3000, 2^52±1, 7^13 (ln) and
  // a [−3.25, 10.125] grid (exp); DetLemmaSpec pins Spark == mirror.
  //
  // Accuracy (not graded, but keeps the semantics honest): lnP is the
  // atanh series 2z(1 + z²/3 + … + z¹⁴/15), z = (m−1)/(m+1) ≤ 1/3 after
  // the power-of-two reduction x = 2^e·m, m ∈ [1,2) — |lnP − ln| ≤ ~1e-9.
  // expP is the Taylor sum to r¹³/13! after r = x − k·ln2, |r| ≤ ln2/2 —
  // ~1e-16 relative, |x| ≤ 700.
  //
  // SQL-side note: the builders textually substitute their argument ~10
  // times — pass a SHORT column reference (alias complex expressions in
  // a prior CTE), or the oracle string balloons.

  private val Ln2 = 0.6931471805599453
  private val FactD: Array[Double] = Array(1.0, 1.0, 2.0, 6.0, 24.0, 120.0,
    720.0, 5040.0, 40320.0, 362880.0, 3628800.0, 39916800.0, 479001600.0,
    6227020800.0)

  /** Portable natural log of a positive BIGINT (fixed IEEE op sequence;
    * see block comment). Caller guarantees x ≥ 1. */
  def lnInt(c: Column): Column = {
    val x = c.cast("long")
    val e = length(bin(x)) - 1
    val p2 = call_function("shiftleft", lit(1L), e)
    val m = x.cast("double") / p2.cast("double")
    val z = (m - lit(1.0)) / (m + lit(1.0))
    val w = z * z
    val ser = Seq(13, 11, 9, 7, 5, 3).foldLeft(lit(1.0 / 15.0)) { (acc, k) =>
      lit(1.0 / k) + w * acc
    }
    e.cast("double") * lit(Ln2) + lit(2.0) * z * (lit(1.0) + w * ser)
  }

  /** Scala mirror of [[lnInt]] — same op sequence, for test mirrors. */
  def lnIntD(x: Long): Double = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val m = x.toDouble / (1L << e).toDouble
    val z = (m - 1.0) / (m + 1.0)
    val w = z * z
    var ser = 1.0 / 15.0
    Seq(13, 11, 9, 7, 5, 3).foreach(k => ser = 1.0 / k + w * ser)
    e.toDouble * Ln2 + 2.0 * z * (1.0 + w * ser)
  }

  /** Oracle twin of [[lnInt]]. `x` MUST be a short column reference. */
  def sqlLnInt(x: String): String = {
    val e = s"(length(bin(CAST(($x) AS BIGINT))) - 1)"
    val p2 = s"(CAST(1 AS BIGINT) << $e)"
    val m = s"(CAST(($x) AS DOUBLE) / CAST($p2 AS DOUBLE))"
    val z = s"(($m - 1.0) / ($m + 1.0))"
    val w = s"($z * $z)"
    val ser = Seq(13, 11, 9, 7, 5, 3)
      .foldLeft("(1.0/15.0)")((acc, k) => s"((1.0/$k.0) + $w * $acc)")
    s"(CAST($e AS DOUBLE) * 0.6931471805599453 + (2.0 * $z * (1.0 + $w * $ser)))"
  }

  /** Portable ln(a/b) over positive BIGINTs = lnInt(a) − lnInt(b) (one
    * more correctly-rounded subtract; error ≤ ~2e-9). */
  def lnRatio(a: Column, b: Column): Column = lnInt(a) - lnInt(b)
  def lnRatioD(a: Long, b: Long): Double = lnIntD(a) - lnIntD(b)
  def sqlLnRatio(a: String, b: String): String =
    s"(${sqlLnInt(a)} - ${sqlLnInt(b)})"

  /** Portable exp of a double (fixed IEEE op sequence; see block
    * comment). True domain is |x| ≤ 43 (|k| ≤ 62): the 2^k scaling is a
    * SINGLE 64-bit shift, and at |k| ≥ 63 JVM shiftleft wraps mod 64
    * while DuckDB's << returns 0 (and 1L<<63 is negative) — the engines
    * diverge exactly where a wider domain would be needed. All three twin
    * forms therefore SATURATE: the input is clamped to [-43, 43] (so
    * e^x for |x| > 43 returns e^±43, identically in every engine). */
  private val ExpPClamp = 43.0
  def expP(c0: Column): Column = {
    val c = least(greatest(c0, lit(-ExpPClamp)), lit(ExpPClamp))
    val k = floor(c / lit(Ln2) + lit(0.5)).cast("long")
    val r = c - k.cast("double") * lit(Ln2)
    val ser = (0 to 12).reverse.foldLeft(lit(1.0 / FactD(13))) { (acc, i) =>
      lit(1.0 / FactD(i)) + r * acc
    }
    when(k >= 0,
      ser * call_function("shiftleft", lit(1L), k.cast("int")).cast("double"))
      .otherwise(
        ser / call_function("shiftleft", lit(1L), (-k).cast("int")).cast("double"))
  }

  /** Scala mirror of [[expP]] (same saturating clamp). */
  def expPD(x0: Double): Double = {
    val x = math.min(ExpPClamp, math.max(-ExpPClamp, x0))
    val k = math.floor(x / Ln2 + 0.5).toLong
    val r = x - k.toDouble * Ln2
    var ser = 1.0 / FactD(13)
    (0 to 12).reverse.foreach(i => ser = 1.0 / FactD(i) + r * ser)
    if (k >= 0) ser * (1L << k).toDouble else ser / (1L << -k).toDouble
  }

  /** Oracle twin of [[expP]] (same saturating clamp). `x` MUST be a
    * short column reference. */
  def sqlExpP(x0: String): String = {
    val x = s"(LEAST(GREATEST(($x0), -43.0), 43.0))"
    val k = s"(CAST(FLOOR(($x) / 0.6931471805599453 + 0.5) AS BIGINT))"
    val r = s"(($x) - CAST($k AS DOUBLE) * 0.6931471805599453)"
    val ser = (0 to 12).reverse
      .foldLeft(s"(1.0/${FactD(13).toLong}.0)") { (acc, i) =>
        s"((1.0/${FactD(i).toLong}.0) + $r * $acc)"
      }
    s"(CASE WHEN $k >= 0 THEN $ser * CAST((CAST(1 AS BIGINT) << $k) AS DOUBLE) " +
      s"ELSE $ser / CAST((CAST(1 AS BIGINT) << (-$k)) AS DOUBLE) END)"
  }

  // ---- oracle-SQL twins (string builders keep both sides textually in
  // ---- lock-step; every helper above has exactly one SQL form)

  /** Portable 32-bit string hash shared bit-for-bit with DuckDB: the
    * little-endian uint32 of the FIRST FOUR md5 digest bytes. Spark reads
    * it from the hex text (byte-swapped 8-char conv); DuckDB masks its
    * md5_number_upper (the LE uint64 of digest bytes 1-8). Exists so
    * sketch operators (minhash/simhash/sign-LSH) can be graded against
    * the oracle — crc32 has no DuckDB twin. */
  def hash32(c: Column): Column =
    // native single-pass evaluation (round 16 optimization): the former
    // conv(concat(substring(md5(c),7,2), ...), 16, 10) spelling
    // re-evaluated md5 once per substring reference inside Filter
    // predicates and paid hex slicing + a base-16 parse — measured ~4.5x
    // the digest itself (OPTIMIZATION_r16.md §5: 6.3 s vs 1.4 s over
    // 320k rows). Same value bit-for-bit
    // (DetLemmaSpec pins Column == Scala == SQL agreement).
    org.apache.spark.sql.GraftInternal.column(
      graft.functions.Md5Low32(org.apache.spark.sql.GraftInternal.expression(c)))

  /** Driver-side scalar twin of [[hash32]]/[[sqlHash32]]: MD5 low four
    * bytes read little-endian, bit-identical to the Column and SQL forms —
    * DetLemmaSpec pins the three-way agreement. For PLAN-TIME constants
    * (inputs that are plan literals, e.g. the NSW derandomized sign
    * table) and for driver kernels that mirror a plan bit for bit (the
    * graph-ANN index kernel, LlmExtras.AnnIndex, which AnnBeamSpec checks
    * against its plan). Never use it on row data in place of a plan: a
    * plan's hashes stay in the Column form so both engines compute them. */
  def hash32Scala(str: String): Long = {
    val dg = java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8"))
    ((dg(3) & 0xffL) << 24) | ((dg(2) & 0xffL) << 16) |
      ((dg(1) & 0xffL) << 8) | (dg(0) & 0xffL)
  }

  def sqlS6(x: String): String = s"CAST(FLOOR(($x) * 1e6 + 0.5) AS BIGINT)"

  /** Oracle twin of [[hash32]]. */
  def sqlHash32(x: String): String =
    s"CAST(md5_number_upper($x) & 4294967295 AS BIGINT)"
  def sqlS4(x: String): String = s"CAST(FLOOR(($x) * 1e4 + 0.5) AS BIGINT)"
  def sqlS2(x: String): String = s"CAST(FLOOR(($x) * 100 + 0.5) AS BIGINT)"
  def sqlS0(x: String): String = s"CAST(FLOOR(($x) + 0.5) AS BIGINT)"
  def sqlCentSum(x: String): String =
    s"CAST(SUM(${sqlS2(x)}) AS BIGINT)"
  def sqlSum6(x: String): String =
    s"CAST(SUM(${sqlS6(x)}) AS BIGINT)"
  def sqlMean6(x: String): String =
    s"CAST(FLOOR(CAST(SUM(${sqlS6(x)}) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)"
  def sqlAvg6(x: String): String =
    s"CAST(FLOOR(CAST(SUM(${sqlS2(x)}) AS DOUBLE) * 1e4 / COUNT(*) + 0.5) AS BIGINT)"
}
