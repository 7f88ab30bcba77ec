package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The runner's failure accounting and digest check. Needs the benchmark's
  * input tables in `PERFBENCH_DATA` and a workload's keys in
  * `PERFBENCH_KEYS`; `python3 perfbench/run.py --test` sets both. */
class PerfBenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val dataDir = sys.env.getOrElse("PERFBENCH_DATA",
    cancel("PERFBENCH_DATA not set: run through perfbench/run.py --test"))
  private lazy val keys = sys.env.getOrElse("PERFBENCH_KEYS",
    cancel("PERFBENCH_KEYS not set: run through perfbench/run.py --test")).split(",").toSeq
  private var spark: SparkSession = _

  override def beforeAll(): Unit = spark = PerfBench.session(2)
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a key that throws is a failed run, not a fast success") {
    val r = PerfBench.runKey(spark, "throws",
      (_, _) => throw new IllegalStateException("deliberate"), dataDir,
      Some((1L, "0:0")))
    assert(r.status == "error")
    assert(r.failed)
    assert(r.error.contains("deliberate"))
  }

  test("a perturbed digest or row count is reported as a mismatch") {
    val fn = SparkEntry.queries("agg_cube")
    val first = PerfBench.runKey(spark, "agg_cube", fn, dataDir, None)
    assert(first.status == "unrecorded")
    val expect = (first.rows, first.digest)
    assert(PerfBench.runKey(spark, "agg_cube", fn, dataDir, Some(expect)).status == "ok")
    val badDigest = (first.rows, first.digest.reverse)
    val badRows = (first.rows + 1, first.digest)
    for (bad <- Seq(badDigest, badRows)) {
      val r = PerfBench.runKey(spark, "agg_cube", fn, dataDir, Some(bad))
      assert(r.status == "mismatch")
      assert(r.failed)
    }
  }

  test("the digest ignores row order, counts duplicates and accepts maps") {
    val df = spark.range(100).select(col("id"), map(lit("k"), col("id")).as("m"))
    val (n, d) = PerfBench.digest(df)
    assert(n == 100)
    assert(PerfBench.digest(df.orderBy(col("id").desc).repartition(3)) == ((n, d)))
    // a row added twice would cancel out of an XOR digest; sums keep it
    val seven = df.where(col("id") === 7)
    assert(PerfBench.digest(df.union(seven).union(seven))._2 != d)
  }

  test("one workload under two seeds gives identical digests") {
    def digests(seed: Long) = PerfBench.permute(keys, seed).map { k =>
      val r = PerfBench.runKey(spark, k, SparkEntry.queries(k), dataDir, None)
      assert(r.status == "unrecorded", s"$k: ${r.error}")
      k -> (r.rows, r.digest)
    }.toMap
    assert(PerfBench.permute(keys, 1) != PerfBench.permute(keys, 2))
    assert(digests(1) == digests(2))
  }
}
