package graft

import org.apache.spark.sql.functions._

import graft.functions.{GeomedianAgg, GeomedianDistributed, GraftExtensions, VectorExprs}
import graft.sources.ProductSink

/** Engine-surface tests: the distributed geomedian path, the native
  * codegen'd vector expression, and the product sink contract. */
class EngineSpec extends SparkSpec {

  test("distributed geomedian matches the Aggregator within tolerance") {
    val df = Tables.embeddings(spark, sfDir)
    val dist = GeomedianDistributed.geomedian(df, "label", "embedding")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val gm = udaf(new GeomedianAgg())
    val agg = df.groupBy("label")
      .agg(gm(col("embedding")).as("gmed"))
      .collect().map(r => r.getInt(0).toString -> r.getSeq[Double](1)).toMap
    assert(dist.keySet == agg.keySet)
    dist.foreach { case (g, v) =>
      v.zip(agg(g)).foreach { case (a, b) =>
        // different iteration counts (15 vs 20) and start order: loose bound
        assert(math.abs(a - b) < 1e-3, s"label $g: $a vs $b")
      }
    }
  }

  test("graft_dot equals the higher-order-function fold") {
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val rows = e.select(
        VectorExprs.dot(col("embedding"), col("embedding")).as("native"),
        aggregate(
          zip_with(col("embedding"), col("embedding"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0d), (acc, x) => acc + x).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
    }
  }

  test("graft_dot resolves in SQL text after GraftExtensions.register") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sfDir).limit(5).createOrReplaceTempView("emb_t")
    val n = spark.sql("SELECT graft_dot(embedding, embedding) AS d FROM emb_t")
      .where(col("d") > 0).count()
    assert(n == 5)
  }

  test("graft_dot rejects non-float-array inputs") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sfDir).limit(1).createOrReplaceTempView("doc_t")
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(text, text) FROM doc_t").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_dot") ||
      err.getMessage.toLowerCase.contains("datatype"))
  }

  test("product sink round-trips with partition pruning") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val product = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), (col("user_id") % 5).as("tile"))
      .agg(count(lit(1)).as("n"))
    val m = ProductSink.write(product, "event_counts", out, Seq("event_type"))
    assert(m.rows == product.count())
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/event_counts/_manifest.json"))
    // eo3-style dataset doc: measurements + partition-key extents + lineage
    assert(manifest.contains("\"measurements\"") && manifest.contains("\"n\": \"bigint\""))
    assert(manifest.contains("\"extents\"") && manifest.contains("\"event_type\""))

    val back = ProductSink.read(spark, out, "event_counts")
      .where(col("event_type") === "click")
    // partition filter must prune at the file source, not post-scan
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"no partition pruning in plan:\n$plan")
    assert(back.count() > 0)

    // MEASURED pruning: the filtered scan must read strictly fewer files
    // than the full product (one event_type directory vs all of them)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // execute THIS dataset's plan (count() builds another)
      val top = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      top.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(sys.error(s"no FileSourceScanExec in plan:\n$top"))
    }
    val allFiles = filesRead(ProductSink.read(spark, out, "event_counts"))
    val prunedFiles = filesRead(ProductSink.read(spark, out, "event_counts")
      .where(col("event_type") === "click"))
    assert(prunedFiles < allFiles,
      s"pruning not measured: read $prunedFiles of $allFiles files")
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a static conf, set in SparkSpec's builder
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sfDir).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bkt")
      Tables.lineitem(spark, sfDir).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt")
      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-bucketed layout: sort-merge join with ZERO shuffle exchanges
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 6000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("csv and json round-trip through spark.read (non-graded source formats)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val src = Tables.nation(spark, sfDir)
    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation_csv")
    src.write.mode("overwrite").json(s"$tmp/nation_json")
    src.write.mode("overwrite").orc(s"$tmp/nation_orc")
    val csv = spark.read.option("header", "true").schema(Tables.nationSchema)
      .csv(s"$tmp/nation_csv")
    val json = spark.read.schema(Tables.nationSchema).json(s"$tmp/nation_json")
    val orc = spark.read.schema(Tables.nationSchema).orc(s"$tmp/nation_orc")
    assert(csv.count() == 25 && json.count() == 25 && orc.count() == 25)
    assert(csv.orderBy("n_nationkey").collect().toSeq ==
      src.orderBy("n_nationkey").collect().toSeq)
    assert(orc.orderBy("n_nationkey").collect().toSeq ==
      src.orderBy("n_nationkey").collect().toSeq)
  }

  test("a session built with GraftExtensions carries the full custom tier") {
    import org.apache.spark.sql.SparkSession
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // new SparkSession on the same context through the extensions class
      // (spark.sql.extensions is a STATIC conf — on a cluster it rides
      // spark-submit; on a shared test context withExtensions exercises
      // the identical injection path)
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      assert(s2 ne orig)
      // vector built-in resolves in SQL without imperative registration
      import s2.implicits._
      val one = s2.sql(
        "SELECT graft_dot(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))")
        .head().getDouble(0)
      assert(one == 1.0)
      // so does every other SQL-callable native expression
      val tile = "array_repeat(CAST(1.0 AS FLOAT), 16), 4, 4"
      val calls = Map(
        "graft_dot" -> "array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))",
        "graft_sdotl" -> "array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))",
        "graft_sl2" -> "array(1.0D), array(2.0D)",
        "graft_sl2e10" -> "array(1.0D), array(2.0D)",
        "graft_icount" -> "array(1, 2), array(2, 3)",
        "graft_pqadc" -> "array(5L, 6L), array(1)",
        "graft_tile_up2x" -> tile, "graft_tile_upcubic" -> tile,
        "graft_tile_max3" -> tile, "graft_tile_min3" -> tile,
        "graft_tile_focal3" -> tile, "graft_tile_tri3" -> tile,
        "graft_tile_laplace3" -> tile, "graft_tile_down" -> s"$tile, 2",
        "graft_unorm" -> "'Café'")
      assert(calls.keySet ==
        graft.functions.GraftExtensions.functions.map(_._1.funcName).toSet)
      calls.foreach { case (name, args) =>
        assert(!s2.sql(s"SELECT $name($args)").head().isNullAt(0), name)
      }
      // the as-of logical plan strategy is available without AsOf.join's
      // imperative extraStrategies path
      val l = Seq((1L, 10L)).toDF("lk", "lt")
      val r = Seq((1L, 9L, 7L)).toDF("rk", "rt", "rid")
      def attr(df: org.apache.spark.sql.DataFrame, n: String) =
        df.queryExecution.analyzed.output.find(_.name == n).get
      val plan = graft.plans.AsOfJoinPlan(
        l.queryExecution.analyzed, r.queryExecution.analyzed,
        attr(l, "lk"), attr(r, "rk"), attr(l, "lt"), attr(r, "rt"), attr(r, "rid"))
      val out = org.apache.spark.sql.GraftInternal.ofRows(s2, plan).collect()
      assert(out.length == 1 && out(0).getLong(4) == 7L)
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  test("dynamic partition pruning fires on a partitioned fact joined to a filtered dim") {
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables.lineitem(spark, sfDir)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(s"$out/li")
    import spark.implicits._
    Seq(("A", "accept"), ("N", "none"), ("R", "reject"))
      .toDF("flag", "label").write.mode("overwrite").parquet(s"$out/dim")
    // dim must be a real scan: a filtered LocalRelation constant-folds
    // away the Filter node the PartitionPruning rule looks for
    val dim = spark.read.parquet(s"$out/dim")
    val fact = spark.read.parquet(s"$out/li")
    val joined = fact.join(
        broadcast(dim.where(col("label") === "accept")),
        fact("l_returnflag") === dim("flag"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"dynamic partition pruning did not plan:\n$plan")
    // and it actually prunes: only the A partition's files are read.
    // AQE wraps executed subtrees in QueryStageExec leaves — recurse.
    joined.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val factScan = scans(joined.queryExecution.executedPlan)
      .find(_.toString.contains("/li")).get
    val pruned = factScan.metrics("numFiles").value
    val all = spark.read.parquet(s"$out/li").inputFiles.length
    assert(pruned < all, s"DPP read $pruned of $all files — no runtime pruning")
  }

  test("affine regrid transform round-trips (invert . apply = identity)") {
    import graft.operators.EO
    val aff = EO.RegridAffine
    val inv = aff.invert
    assert(math.abs(aff.det) > 1e-9, "transform must be invertible")
    val rng = new scala.util.Random(42)
    (0 until 1000).foreach { _ =>
      val (x, y) = (rng.nextDouble() * 500, rng.nextDouble() * 100)
      val (xp, yp) = aff(x, y)
      val (xr, yr) = inv(xp, yp)
      assert(math.abs(xr - x) < 1e-9 && math.abs(yr - y) < 1e-9,
        s"round-trip drifted: ($x,$y) -> ($xp,$yp) -> ($xr,$yr)")
    }
    // rotation preserves areas up to |det|: a 30° pure rotation has det 1
    assert(math.abs(aff.det - 1.0) < 1e-12)
    // and the graded query agrees with a direct per-row computation
    val out = SparkEntry.queries("eo_regrid_affine")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val direct = Tables.events(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("value"),
        (org.apache.spark.sql.functions.col("user_id") % 100).cast("double").as("y"))
      .collect()
      .map(r => aff(r.getDouble(0), r.getDouble(1)))
      .map { case (xp, yp) => (math.floor(xp / 25).toLong, math.floor(yp / 25).toLong) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val queryCells = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(queryCells == direct, "per-cell counts diverge from the direct affine")
  }
}
