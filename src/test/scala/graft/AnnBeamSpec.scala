package graft

import scala.reflect.ClassTag
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}

import graft.operators.LlmExtras
import graft.operators.LlmExtras.{AnnRun, BatchBeam, QueryBeam}

/** The graph-ANN beam search's two lowerings ([[LlmExtras.BeamSearch]])
  * return the same visited rows: the driver-side rounds that run under
  * the ANN gate and the checkpointed relational rounds that run over it.
  * The relational lowering is called directly here, never through the
  * gate; this spec is the only one that runs it.
  *
  * Random inputs the corpus never produces: duplicate vectors (equal d2,
  * so the v tie-break decides), isolated nodes, visited nodes that are not
  * searched members, and beams wider than the frontier. Inputs come from
  * RDDs, so the relational rounds evaluate graft_sl2 in generated code,
  * not interpreted over a local relation. */
class AnnBeamSpec extends SparkSpec {
  import spark.implicits._

  /** Disjoint random graphs, node ids offset by 1000 per graph: the
    * searched members (v, e), the directed layered adjacency (layer, s,
    * t), the queries (qid, qe) and their seeds (qid, v). */
  private final case class Graphs(members: Seq[(Long, Array[Double])],
      adj: Seq[(Int, Long, Long)], queries: Seq[(Long, Array[Double])],
      seeds: Seq[(Long, Long)])

  /** Vector coordinates come from a 4-value palette over 2 dimensions, so
    * many nodes share a vector and many distances tie. */
  private def vector(rnd: Random): Array[Double] =
    Array.fill(2)(Seq(0.0, 0.5, 1.0, -0.25)(rnd.nextInt(4)))

  private def graphs(rnd: Random, n: Int, queriesPerGraph: Int): Graphs = {
    val parts = (0 until n).map { g =>
      val ids = (0 until 1 + rnd.nextInt(12)).map(i => 1000L * g + 3 * i + 1)
      val members = ids.filter(_ => rnd.nextDouble() < 0.85).map(v => v -> vector(rnd))
      val adj = for {
        layer <- 0 to 2
        p = rnd.nextDouble() * 0.4
        inLayer = ids.filter(_ => layer == 0 || rnd.nextDouble() < 0.5)
        s <- inLayer
        t <- inLayer if s != t && rnd.nextDouble() < p
      } yield (layer, s, t)
      val queries = (0 until queriesPerGraph).map(j => (10L * g + j) -> vector(rnd))
      val seeds = queries.flatMap { case (qid, _) =>
        Seq.fill(1 + rnd.nextInt(2))(qid -> ids(rnd.nextInt(ids.size))).distinct
      }
      Graphs(members, adj, queries, seeds)
    }
    Graphs(parts.flatMap(_.members), parts.flatMap(_.adj), parts.flatMap(_.queries),
      parts.flatMap(_.seeds))
  }

  private def frame[T <: Product : ClassTag : Encoder](rows: Seq[T],
      cols: String*): DataFrame =
    spark.sparkContext.parallelize(rows, 2).toDS().toDF(cols: _*)

  /** A frame's rows as sorted long tuples: the two lowerings' multisets. */
  private def rows(df: DataFrame): Seq[Seq[Long]] = {
    import scala.math.Ordering.Implicits.seqOrdering
    df.collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSeq.sorted
  }

  /** Search (steps, beam) and descent (stepsU, beamU, steps0, beam0)
    * shapes, each run once per lowering: every relational round costs
    * several scheduler jobs. Beam 9 and 12 are wider than any of these
    * graphs' frontiers; beam 1 is HNSW's greedy upper-layer walk. */
  private val narrow = ((3, 2), (2, 1, 3, 3))
  private val wide = ((3, 9), (1, 6, 2, 12))

  test("batched search and descent: driver rounds equal relational rounds on 100 random graphs") {
    val g = graphs(new Random(20261019L), 100, 2)
    val embv = frame(g.members, "v", "e")
    val qv = frame(g.queries, "qid", "qe")
    val adjAll = frame(g.adj, "layer", "s", "t")
    def beam(onDriver: Boolean) = new BatchBeam(sfDir, embv, qv, onDriver)
    val seed = beam(false).withD2(frame(g.seeds, "qid", "v"))
    val ((steps, b), (su, bu, s0, b0)) = wide
    val flat = adjAll.where($"layer" === 0).select("s", "t")
    val want = rows(beam(false).search(seed, flat, steps, b))
    assert(want.nonEmpty)
    assert(rows(beam(true).search(seed, flat, steps, b)) == want, "search")
    assert(rows(beam(true).descend(seed, adjAll, su, bu, s0, b0)) ==
      rows(beam(false).descend(seed, adjAll, su, bu, s0, b0)), "descend")
  }

  test("single-query search and descent: driver rounds equal relational rounds on 16 random graphs") {
    // one query over 16 disjoint graphs, seeded in several of them, so
    // one beam ranks the nodes of different graphs
    val g = graphs(new Random(7L), 16, 1)
    val embv = frame(g.members, "v", "e")
    val qArr = frame(g.queries.take(1).map(q => Tuple1(q._2)), "qe")
    val adjAll = frame(g.adj, "layer", "s", "t")
    val seed = frame(g.seeds.map(s => Tuple1(s._2)).distinct, "v")
    def beam(onDriver: Boolean) = new QueryBeam(embv, qArr, onDriver)
    val ((steps, b), (su, bu, s0, b0)) = narrow
    val flat = adjAll.where($"layer" === 0).select("s", "t")
    assert(rows(beam(true).search(seed, flat, steps, b)) ==
      rows(beam(false).search(seed, flat, steps, b)), "search")
    assert(rows(beam(true).descend(seed, adjAll, su, bu, s0, b0)) ==
      rows(beam(false).descend(seed, adjAll, su, bu, s0, b0)), "descend")
  }

  test("the five graph-ANN keys visit the same nodes in both lowerings at sf0.001") {
    assert(LlmExtras.annUnderGate(sfDir), "the keys run on the driver at sf0.001")
    val runs: Seq[(String, (SparkSession, String, Boolean) => AnnRun)] =
      Seq("llm_ann_nsw" -> LlmExtras.annNsw, "llm_ann_batch_nsw" -> LlmExtras.annBatchNsw,
        "llm_ann_hnsw" -> LlmExtras.annHnsw, "llm_ann_batch_hnsw" -> LlmExtras.annBatchHnsw,
        "llm_ann_hnsw_upsert" -> LlmExtras.annHnswUpsert)
    for ((key, run) <- runs) {
      val want = rows(run(spark, sfDir, false).visited)
      spark.catalog.clearCache()
      val got = rows(run(spark, sfDir, true).visited)
      spark.catalog.clearCache()
      assert(want.nonEmpty && got == want, s"$key: ${got.size} vs ${want.size} visited rows")
    }
  }
}
