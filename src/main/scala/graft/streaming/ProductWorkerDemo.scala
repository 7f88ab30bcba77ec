package graft.streaming

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.ProductSink

/** The reference's queue-worker loop (SURVEY §1 step 1), re-expressed:
  * Redis BRPOP becomes a Structured Streaming file source over a job-spec
  * directory — each JSON file is one product-generation job (product name,
  * input scale dir, output location). `foreachBatch` plays the worker body:
  * it resolves the product to a registered graft query, runs it on the
  * cluster, and commits the result through ProductSink (data first, then
  * manifest). Job transport is driver-side by design — the JOBS are tiny,
  * the PROCESSING is distributed.
  *
  * Failure semantics (the reference's retry + dead-letter queue [PK]):
  * each job gets `maxAttempts` tries; a job that still fails (or names an
  * unknown product) is written to `<workDir>/dead/` as JSON with the
  * attempt count and last error, and the worker moves on — one poison job
  * never wedges the queue. Only non-fatal errors are retried; a fatal
  * one (OOM, linkage) propagates. Covered by WorkerSpec.
  *
  * Run: sbt "runMain graft.streaming.ProductWorkerDemo"
  */
object ProductWorkerDemo {

  val jobSchema: StructType = StructType(Seq(
    StructField("job_id", LongType),
    StructField("product", StringType),
    StructField("sf_dir", StringType),
    StructField("out_dir", StringType)))

  sealed trait JobResult
  final case class Done(jobId: Long, product: String, rows: Long, path: String)
      extends JobResult
  final case class Dead(jobId: Long, product: String, attempts: Int, error: String)
      extends JobResult

  /** One job, with bounded retries; never throws. */
  def processJob(
      spark: SparkSession,
      job: Row,
      deadDir: String,
      maxAttempts: Int = 3): JobResult = {
    val jobId = job.getAs[Long]("job_id")
    val product = job.getAs[String]("product")
    val dir = job.getAs[String]("sf_dir")
    val out = job.getAs[String]("out_dir")

    def dead(attempts: Int, err: String): Dead = {
      Files.createDirectories(Paths.get(deadDir))
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      Files.writeString(Paths.get(deadDir, s"job_$jobId.json"),
        s"""{"job_id": $jobId, "product": ${q(product)}, "sf_dir": ${q(dir)}, """ +
          s""""attempts": $attempts, "error": ${q(err)}}""")
      Dead(jobId, product, attempts, err)
    }

    graft.SparkEntry.queries.get(product) match {
      case None => dead(attempts = 0, s"unknown product: $product")
      case Some(build) =>
        var attempt = 0
        var lastErr = ""
        while (attempt < maxAttempts) {
          attempt += 1
          try {
            val m = ProductSink.write(build(spark, dir), product, out,
              Seq.empty, lineage = Some(dir))
            return Done(jobId, product, m.rows, m.path)
          } catch {
            case NonFatal(e) =>
              lastErr = Option(e.getMessage).getOrElse(e.getClass.getName)
          }
        }
        dead(attempt, lastErr)
    }
  }

  /** The worker body shared by the streaming demo and WorkerSpec. */
  def runBatch(spark: SparkSession, batch: DataFrame, deadDir: String): Seq[JobResult] =
    batch.orderBy("job_id").collect().toSeq.map { job =>
      val r = processJob(spark, job, deadDir)
      r match {
        case Done(id, p, rows, path) =>
          println(s"[worker] job $id -> $p: $rows rows at $path")
        case Dead(id, p, attempts, err) =>
          println(s"[worker] job $id -> $p: DEAD after $attempts attempts ($err)")
      }
      r
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = Files.createTempDirectory("graft_worker").toString
    val jobsDir = s"$work/jobs"
    val outDir = s"$work/products"
    val deadDir = s"$work/dead"
    Files.createDirectories(Paths.get(jobsDir))

    // enqueue product jobs (the queue producer) — job 4 is poison: it
    // names a product that does not exist and must land in dead/, not
    // wedge the worker
    Seq(
      (1L, "eo_product_pipeline", sfDir),
      (2L, "eo_water_permanency", sfDir),
      (3L, "llm_text_stats", sfDir),
      (4L, "no_such_product", sfDir),
      (5L, "eo_bandmath", "/nonexistent/dir")
    ).foreach { case (id, product, dir) =>
      Files.writeString(Paths.get(jobsDir, s"job_$id.json"),
        s"""{"job_id": $id, "product": "$product", "sf_dir": "$dir", "out_dir": "$outDir"}""")
    }

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-product-worker")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = spark.readStream.schema(jobSchema).json(jobsDir)

    val query = jobs.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        runBatch(spark, batch, deadDir); ()
      }
      .start()
    query.awaitTermination(180000)

    val written = new java.io.File(outDir).list()
    println(s"[worker] products written: ${Option(written).map(_.sorted.mkString(", ")).getOrElse("none")}")
    val dead = new java.io.File(deadDir).list()
    println(s"[worker] dead-lettered: ${Option(dead).map(_.sorted.mkString(", ")).getOrElse("none")}")
    spark.stop()
  }
}
