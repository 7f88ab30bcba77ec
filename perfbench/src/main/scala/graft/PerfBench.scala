package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark runner: one JVM, one single-client closed loop over a
  * workload's registry keys.
  *
  * Each key is timed from outside the program in three spans: `build`
  * (`SparkEntry.queries(key)(spark, dataDir)`, including any eager actions
  * the builder runs), `plan` (`df.queryExecution.executedPlan`) and
  * `action` (one job that folds every output column into an
  * order-independent digest and a row count). A key that throws, or whose
  * digest or row count differs from the recorded one, is a failed
  * operation; it is never timed as a success.
  *
  * A run is one cold pass over the seed-permuted key list. The pass reads
  * a hard-linked copy of the input tables, so no cache or memo keyed by
  * input path carries work from the warm-ups into a timed key. `setup_s`
  * is the time from JVM start to the first timed key.
  * With `--trace 1` a [[Tracer]] listener records jobs, stages and task
  * metrics, and JVM-wide codegen, rule and GC counters are read at every
  * span boundary. Everything is kept in memory and written to `--out` as
  * one JSON object when the run ends.
  *
  * {{{
  * graft.PerfBench --data DIR --keys k1,k2 --expected FILE --seed N
  *   --trace 0|1 --cpus C --out FILE
  * }}}
  * `--expected` is a TSV of `key, rows, digest`; a key missing from it is
  * reported as `unrecorded`.
  */
object PerfBench {

  /** One key run. `status` is ok, error, mismatch or unrecorded. */
  final case class KeyRun(key: String, startMs: Long,
      buildS: Double, planS: Double, actionS: Double, rows: Long,
      digest: String, status: String, error: String,
      spans: Seq[Span] = Nil) {
    def wallS: Double = buildS + planS + actionS
    def failed: Boolean = status != "ok"
  }

  /** A timed span with the JVM-wide counter deltas taken around it. */
  final case class Span(layer: String, startMs: Long, durS: Double,
      counters: Map[String, Double])

  /** The session graft.Bench builds: local[cpus], shuffle partitions =
    * cpus, AQE on, UI off, UTC. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Bench's untimed warm-ups, against the benchmark's own data:
    * a trivial aggregate, the flagship `agg_group` builder and one 2-row
    * RocksDB streaming aggregation. A warm-up that fails fails the run:
    * its cost would otherwise land on a timed key. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").count()
    operators.Aggregates.aggGroup(spark, dataDir).count()
    val warmDir = java.nio.file.Files.createTempDirectory("perfbench_warm")
    val pk = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(pk)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.range(2).write.mode("overwrite").parquet(s"$warmDir/in")
      spark.conf.set(pk,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = spark.readStream.schema("id LONG").parquet(s"$warmDir/in")
        .groupBy("id").count()
        .writeStream.format("memory").queryName("perfbench_warm_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(p) => spark.conf.set(pk, p)
        case None => spark.conf.unset(pk)
      }
      spark.catalog.dropTempView("perfbench_warm_stream")
      maintenance.Compaction.deleteRecursively(warmDir)
    }
    // the runner's own digest action, so the first timed key does not
    // pay for compiling it
    digest(spark.range(1000).selectExpr("id", "map('k', id) AS m", "cast(id AS string) AS s"))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The digest action's DataFrame: one row of (row count, sum of the low
    * and of the high 32 bits of each row's xxhash64 over every column).
    * Sums of halves cannot overflow at any realistic row count and, unlike
    * XOR, do not cancel duplicate rows. Columns are renamed by position
    * first (outputs may repeat a name); map-typed values go through
    * `to_json` and variants through a string cast, as xxhash64 rejects
    * both. */
  def digestFrame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val byPos = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = col(s"c$i")
      f.dataType match {
        case _: VariantType => c.cast(StringType)
        case t if hasMap(t) => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    byPos.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  /** Runs the digest action: (row count, "lo:hi" digest). */
  def digest(df: DataFrame): (Long, String) = {
    val r = digestFrame(df).collect().head
    (r.getLong(0), s"${r.getLong(1).toHexString}:${r.getLong(2).toHexString}")
  }

  /** JVM-wide counters read at span boundaries in a traced run. */
  def counters(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Map(
      "compile_s" -> CodeGenerator.compileTime / 1e9,
      "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "rules_s" -> RuleExecutor.getCurrentMetrics().time / 1e9,
      "gc_s" -> gcMs / 1e3)
  }

  private def timed[A](layer: String, traced: Boolean, spans: collection.mutable.Buffer[Span])(
      body: => A): (A, Double) = {
    val c0 = if (traced) counters() else Map.empty[String, Double]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val d = (System.nanoTime() - t0) / 1e9
    if (traced) {
      val c1 = counters()
      spans += Span(layer, startMs, d, c1.map { case (k, v) => k -> (v - c0(k)) })
    }
    (out, d)
  }

  /** A fresh directory of hard links to the input tables, under the JVM's
    * temporary directory. */
  def linkedCopy(dataDir: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("perfbench_data")
    val files = new java.io.File(dataDir).listFiles().filter(_.getName.endsWith(".parquet"))
    for (f <- files) java.nio.file.Files.createLink(dir.resolve(f.getName), f.toPath)
    dir.toString
  }

  /** The key order of a run: the only thing the workload seed sets. */
  def permute(keys: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(keys)

  /** Builds, plans and digests one key, then clears the cache as
    * graft.Bench does. Non-fatal exceptions become a failed record. */
  def runKey(spark: SparkSession, key: String,
      fn: (SparkSession, String) => DataFrame, dataDir: String,
      expected: Option[(Long, String)], traced: Boolean = false): KeyRun = {
    val spans = collection.mutable.ArrayBuffer.empty[Span]
    val startMs = System.currentTimeMillis()
    var build, plan, action = 0.0
    val rec = try {
      val (df, b) = timed("build", traced, spans)(fn(spark, dataDir))
      build = b
      plan = timed("plan", traced, spans)(df.queryExecution.executedPlan)._2
      val ((rows, dig), a) = timed("action", traced, spans)(digest(df))
      action = a
      val (status, err) = expected match {
        case None => ("unrecorded", "")
        case Some((r, d)) if r == rows && d == dig => ("ok", "")
        case Some((r, d)) => ("mismatch", s"expected $r rows / $d, got $rows / $dig")
      }
      KeyRun(key, startMs, build, plan, action, rows, dig, status, err)
    } catch {
      case NonFatal(e) =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
          .linesIterator.nextOption().getOrElse("").take(300)
        KeyRun(key, startMs, build, plan, action, -1L, "", "error", msg)
    } finally spark.catalog.clearCache()
    rec.copy(spans = spans.toSeq)
  }

  final case class TracedJob(id: Int, startMs: Long, stageIds: Seq[Int],
      var endMs: Long = -1L)

  /** Task metrics of one stage attempt, summed over its tasks. */
  final class StageAgg(val id: Int) {
    var startMs, endMs = -1L
    var tasks, failedTasks = 0
    var runMs, cpuNs, gcMs = 0L
    var shWrite, shRead, spill, inBytes, inRows, outBytes, outRows = 0L
  }

  /** Scheduler events of a traced run, attributed to spans afterwards by
    * time. Spark stamps events with the wall clock in ms. */
  final class Tracer extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, TracedJob]()
    val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAgg]()

    private def stage(id: Int, attempt: Int) =
      stages.computeIfAbsent((id, attempt), _ => new StageAgg(id))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, TracedJob(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.startMs = i.submissionTime.getOrElse(-1L)
      s.endMs = i.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.shRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled
          s.inBytes += m.inputMetrics.bytesRead
          s.inRows += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
          s.outRows += m.outputMetrics.recordsWritten
        }
      }
    }

    def toJson: String = {
      val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
        s"""{"id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""stages":${j.stageIds.mkString("[", ",", "]")}}"""
      }
      val ss = stages.values.asScala.toSeq.sortBy(_.id).map { s =>
        s"""{"id":${s.id},"start_ms":${s.startMs},"end_ms":${s.endMs},"tasks":${s.tasks},""" +
          s""""failed_tasks":${s.failedTasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},""" +
          s""""gc_ms":${s.gcMs},"shuffle_write_b":${s.shWrite},"shuffle_read_b":${s.shRead},""" +
          s""""spill_b":${s.spill},"input_b":${s.inBytes},"input_rows":${s.inRows},""" +
          s""""output_b":${s.outBytes},"output_rows":${s.outRows}}"""
      }
      s"""{"jobs":${js.mkString("[", ",", "]")},"stages":${ss.mkString("[", ",", "]")}}"""
    }
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def spanJson(s: Span): String =
    s"""{"layer":${str(s.layer)},"start_ms":${s.startMs},"dur_s":${num(s.durS)},""" +
      s.counters.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
        .mkString(",") + "}"

  private def recordJson(r: KeyRun): String =
    s"""{"key":${str(r.key)},"start_ms":${r.startMs},""" +
      s""""build_s":${num(r.buildS)},"plan_s":${num(r.planS)},"action_s":${num(r.actionS)},""" +
      s""""rows":${r.rows},"digest":${str(r.digest)},"status":${str(r.status)},""" +
      s""""error":${str(r.error)},"spans":${r.spans.map(spanJson).mkString("[", ",", "]")}}"""

  def readExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, r, d) = l.split("\t")
      k -> (r.toLong, d)
    }.toMap
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val dataDir = need("data")
    val keys = need("keys").split(",").toSeq.filter(_.nonEmpty)
    val expected = opt.get("expected").map(readExpected).getOrElse(Map.empty)
    val seed = need("seed").toLong
    val traced = need("trace") == "1"
    val cpus = need("cpus").toInt
    val out = need("out")

    val registry = SparkEntry.queries
    val unknown = keys.filterNot(registry.contains)
    require(unknown.isEmpty, s"keys not in the registry: ${unknown.mkString(",")}")

    val spark = session(cpus)
    warmUp(spark, dataDir)
    val passDir = linkedCopy(dataDir)

    val tracer = if (traced) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val runC0 = if (traced) counters() else Map.empty[String, Double]
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cpu0 = os.getProcessCpuTime
    val records = permute(keys, seed).map(k =>
      runKey(spark, k, registry(k), passDir, expected.get(k), traced))
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9

    val jvm = if (traced) {
      val runC1 = counters()
      val deltas = runC1.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${str(k)}:${num(v - runC0(k))}" }.mkString(",")
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      s""","heap_after_gc_mb":${num(heapMb)},"run_counters":{$deltas}"""
    } else ""
    spark.stop() // drains the listener bus before the trace is written
    val trace = tracer.map(t => s""","trace":${t.toJson}$jvm""").getOrElse("")

    val json = s"""{"cpus":$cpus,"seed":$seed,"setup_s":${num(setupS)},""" +
      s""""wall_s":${num(records.map(_.wallS).sum)},"cpu_s":${num(cpuS)},""" +
      s""""records":${records.map(recordJson).mkString("[", ",", "]")}$trace}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
  }
}
