package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.Graph

/** The driver-side graph kernels on random small graphs the corpus never
  * produces: isolated nodes, several components, directed edges, and
  * round counts below the diameter, so unconverged states are compared
  * too. Each kernel's in-memory rounds are checked against an independent
  * textbook algorithm: hop-truncated BFS and Floyd–Warshall for
  * [[Graph.minPlusRounds]], Kruskal and a per-round minimum-cross-edge
  * recount for [[Graph.boruvkaRounds]]; the Spark wrappers are checked
  * against those rounds and against their row bound. */
class GraphKernelSpec extends SparkSpec {
  import spark.implicits._

  private val Inf = 999L

  /** A random graph: node ids (spread, not 0..n-1, so nothing leans on
    * dense ids) and directed edges (a, b, cost). */
  private def randomGraph(rnd: Random, maxCost: Int): (Seq[Int], Seq[(Int, Int, Long)]) = {
    val ids = (0 until 1 + rnd.nextInt(12)).map(i => 7 * i + 3)
    val p = rnd.nextDouble() * 0.4
    val edges = for (a <- ids; b <- ids if a != b && rnd.nextDouble() < p)
      yield (a, b, 1L + rnd.nextInt(maxCost))
    (ids, edges)
  }

  private def seeds(sources: Seq[Int], ids: Seq[Int]): Seq[(Int, Int, Long)] =
    for (u <- sources; v <- ids) yield (u, v, if (u == v) 0L else Inf)

  private def minPlus(sources: Seq[Int], ids: Seq[Int], edges: Seq[(Int, Int, Long)],
      rounds: Int): Map[(Int, Int), Long] = {
    val sd = seeds(sources, ids)
    sd.map(t => (t._1, t._2)).zip(Graph.minPlusRounds(sd, edges, rounds)).toMap
  }

  /** Undirected edges with unique costs (a random permutation of
    * 1..|E|) over a random graph's node pairs. */
  private def randomMstInput(rnd: Random): (Seq[Int], Seq[(Long, Long, Long)]) = {
    val (ids, directed) = randomGraph(rnd, 1)
    val pairs = directed.map { case (a, b, _) => (math.min(a, b).toLong, math.max(a, b).toLong) }
      .distinct
    (ids, pairs.zip(rnd.shuffle((1 to pairs.size).map(_.toLong))).map {
      case ((x, y), c) => (x, y, c)
    })
  }

  test("minPlus equals hop-truncated BFS (unit costs) and Floyd-Warshall (weighted)") {
    val rnd = new Random(20261019L)
    for (g <- 1 to 100) {
      val (ids, unit) = randomGraph(rnd, 1)
      val sources = (ids.filter(_ => rnd.nextBoolean()) :+ ids.head).distinct
      val k = rnd.nextInt(ids.size + 1)
      val hops = mutable.Map.empty[(Int, Int), Long]
      for (u <- sources) {
        var frontier = Set(u)
        hops((u, u)) = 0L
        for (h <- 1 to k) {
          frontier = unit.collect { case (a, b, _) if frontier(a) => b }
            .filterNot(v => hops.contains((u, v))).toSet
          frontier.foreach(v => hops((u, v)) = h.toLong)
        }
      }
      assert(minPlus(sources, ids, unit, k) == (for (u <- sources; v <- ids)
        yield (u, v) -> hops.getOrElse((u, v), Inf)).toMap, s"unit graph $g, K=$k")

      val (wIds, weighted) = randomGraph(rnd, 20)
      val fw = mutable.Map.empty[(Int, Int), Long].withDefaultValue(Inf)
      wIds.foreach(v => fw((v, v)) = 0L)
      for ((a, b, c) <- weighted) fw((a, b)) = math.min(fw((a, b)), c)
      for (m <- wIds; u <- wIds; v <- wIds)
        fw((u, v)) = math.min(fw((u, v)), fw((u, m)) + fw((m, v)))
      val wk = wIds.size - 1 + rnd.nextInt(3)
      assert(minPlus(wIds, wIds, weighted, wk) ==
        (for (u <- wIds; v <- wIds) yield (u, v) -> math.min(fw((u, v)), Inf)).toMap,
        s"weighted graph $g, K=$wk")
    }
  }

  test("boruvka picks each round's minimum cross edges; its edges equal Kruskal's") {
    val rnd = new Random(8L)
    for (g <- 1 to 100) {
      val (ids, edges) = randomMstInput(rnd)
      val rounds = 1 + rnd.nextInt(4)
      val got = Graph.boruvkaRounds(edges, rounds)
      assert(got.map(_._1).distinct.length == got.length, s"graph $g: an edge picked twice")

      // per round: the previous rounds' picks define the partition
      def components(picked: Set[Long]): Long => Long = {
        val parent = mutable.Map.empty[Long, Long]
        def find(v: Long): Long = parent.get(v).filter(_ != v).map(find).getOrElse(v)
        for ((x, y, c) <- edges if picked(c)) {
          val (rx, ry) = (find(x), find(y))
          if (rx != ry) parent(rx) = ry
        }
        find
      }
      for (r <- 1 to rounds) {
        val comp = components(got.collect { case (c, pr) if pr < r => c }.toSet)
        val cross = edges.filter { case (x, y, _) => comp(x) != comp(y) }
        val want = ids.map(_.toLong).groupBy(comp).keys.flatMap { k =>
          cross.filter { case (x, y, _) => comp(x) == k || comp(y) == k }
            .map(_._3).minOption
        }.toSet
        assert(got.collect { case (c, pr) if pr == r => c }.toSet == want, s"graph $g round $r")
      }

      if (rounds >= 32 - Integer.numberOfLeadingZeros(ids.size - 1)) {
        val kruskalParent = mutable.Map.empty[Long, Long]
        def find(v: Long): Long = kruskalParent.get(v).filter(_ != v).map(find).getOrElse(v)
        val mst = edges.sortBy(_._3).filter { case (x, y, _) =>
          val (rx, ry) = (find(x), find(y))
          if (rx != ry) { kruskalParent(rx) = ry; true } else false
        }
        assert(got.map(_._1).toSet == mst.map(_._3).toSet, s"graph $g vs Kruskal")
      }
    }
  }

  test("the Spark kernels return their in-memory rounds' rows in their inputs' schema") {
    val rnd = new Random(3L)
    for (_ <- 1 to 3) {
      val (ids, edges) = randomGraph(rnd, 5)
      val sd = seeds(ids, ids).toDF("u", "v", "d")
      val got = Graph.minPlus(sd, edges.map(e => (e._1.toLong, e._2.toLong, e._3))
        .toDF("a", "b", "cost"), 3)
      assert(got.schema == sd.schema)
      assert(got.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap ==
        minPlus(ids, ids, edges, 3))
      val (_, mst) = randomMstInput(rnd)
      val picks = Graph.boruvka(mst.toDF("x", "y", "cost"), 2)
      assert(picks.schema.map(f => (f.name, f.dataType)) == Seq("cost" -> LongType, "r" -> LongType))
      assert(picks.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Graph.boruvkaRounds(mst, 2).toSet)
    }
  }

  test("the kernels refuse an input over their row bound") {
    val over = spark.range(Graph.LocalKernelMaxRows + 1L)
    intercept[Graph.LocalKernelBoundExceeded] {
      Graph.minPlus(over.select(lit(0).as("u"), col("id").cast("int").as("v"), lit(Inf).as("d")),
        Seq((0L, 1L, 1L)).toDF("a", "b", "cost"), 1)
    }
    intercept[Graph.LocalKernelBoundExceeded] {
      Graph.boruvka(over.select(col("id").as("x"), (col("id") + 1).as("y"), col("id").as("cost")), 1)
    }
  }
}
