package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE on — it is part of the scale design (SCALING.md "Knobs") AND
      // measured faster here: interleaved A/B at sf0.1 local[32] gave
      // 53.7/50.5 s on vs 66.3/58.8 s off (partition coalescing beats the
      // re-planning latency).
      .config("spark.sql.adaptive.enabled", "true")
      // spark.sql.files.openCostInBytes was A/B'd at 256 KB vs the 4 MB
      // default on a 20-key heavy/trivial mix (round 16, REPS=3): wash
      // on the totals (33.33 vs 33.48 s), heavy per-row keys unchanged
      // after the Det.hash32 native rewrite removed the single-split
      // pain, trivial keys slightly WORSE (more tasks per tiny scan).
      // Left at default per guide §1.2 (config only after algorithm).
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: JIT/codegen/class-loading and the parquet reader
    // pipeline otherwise land on whichever query happens to run first
    // (~2.5 s of one-time cost mis-attributed to a 125-row cross join)
    spark.range(1000).selectExpr("sum(id)").count()
    try SparkEntry.entry(spark).count() catch { case NonFatal(e) =>
      System.err.println(s"[bench] warm-up FAILED: ${e.getClass.getName}: ${e.getMessage}")
    }
    // untimed STREAMING warm-up (round 13, r12 verdict #6): the first
    // streaming query in a JVM pays one-time micro-batch-planner /
    // state-store / RocksDB-JNI class loading + codegen (~2 s, measured:
    // exec_session first=4.19 s vs steady 1.92 s in the same JVM) that
    // otherwise lands on whichever stream_exec_* key happens to run
    // first. One 2-row memory-sink aggregation under the RocksDB
    // provider absorbs it here, like the batch warm-up above.
    // NonFatal only (an OOM here must surface, not be swallowed into a
    // skewed first stream_exec_* timing), warn on failure so a silently
    // missing warm-up is visible in the bench log, and drop the memory
    // table + temp dir afterwards (ADVICE r13 #5).
    val warmDir = java.nio.file.Files.createTempDirectory("graft_bench_warm")
    try {
      spark.range(2).write.mode("overwrite").parquet(s"$warmDir/in")
      graft.streaming.StreamTwins.withConfs(spark, graft.streaming.StreamTwins.RocksDb) {
        // hold the handle and stop in a finally: if awaitTermination throws,
        // the outer cleanup would otherwise delete warmDir under a
        // still-active query (ADVICE r14 #3; stop on a terminated query is
        // a no-op)
        var q: org.apache.spark.sql.streaming.StreamingQuery = null
        try {
          q = spark.readStream.schema("id LONG").parquet(s"$warmDir/in")
            .groupBy("id").count()
            .writeStream.format("memory").queryName("graft_warm_stream")
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } finally {
          if (q != null) {
            try q.stop() catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] streaming warm-up FAILED (first stream_exec key will absorb its fixed cost): $e")
    } finally {
      try spark.catalog.dropTempView("graft_warm_stream") catch { case scala.util.control.NonFatal(_) => () }
      graft.maintenance.Compaction.deleteRecursively(warmDir)
    }
    // local-iteration filter only (unset on the driver): comma-separated
    // key names to time a subset without the full registry run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // untimed staging pre-warm (round 15, VERDICT r14 #1): the exec
    // family's JVM-lifetime split writes + scalar collects otherwise
    // land inside the FIRST key per split group's timed region — on the
    // driver box that showed as stream_exec_restart 2.5→10.7 s and
    // stream_exec_late 3.4→9.6 s in r14 while both were flat locally.
    // Skipped when a SPARK_GRAFT_ONLY subset names no stream_exec_* key:
    // local batch-only iteration shouldn't pay the split writes (ADVICE
    // r15 #2). Unset on the driver → always runs there.
    if (only.isEmpty || only.exists(_.startsWith("stream_exec_")))
      try graft.streaming.StreamTwins.prewarmStaging(spark, sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] staging pre-warm FAILED (first stream_exec keys will absorb the split writes): $e")
      }
    // NOTE (round 16, optimization): the short-lived "ANN index-memo
    // pre-warm" that briefly lived here (JVM-lifetime index builds
    // forced untimed before the loop) was REMOVED — the optimization
    // contract requires every key's timed region to compute its own
    // index from the parquet inputs. See LlmExtras.materializeIndex scaladoc.
    // steady-state mode (round 12, VERDICT r11 item 9): REPS>1 re-runs
    // each key in the same warmed JVM and records the MIN of the later
    // runs next to the first run, so a verdict can separate shared-box
    // contention (first inflated, steady stable) from a real plan
    // regression (both inflated) numerically instead of by argument.
    // Unset on the driver — the graded shape is unchanged there.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    // a key that throws (NonFatal) is still timed, but reported on stderr
    // and counted in total_summary's n_failed — never a silent fast success
    val failed = collection.mutable.Set[String]()
    def run(name: String, fn: (SparkSession, String) => DataFrame): Unit =
      try fn(spark, sfDir).count() catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
    val runStart = System.nanoTime()
    val results = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      run(name, fn)
      val t1 = System.nanoTime()
      // drop this key's persisted subtrees before the next key runs:
      // nothing unpersists inside the plans, so without this the storage
      // pool fills with dead cached blocks from earlier keys and late
      // keys pay eviction/spill churn (the BENCH_r03..r05 "tail
      // contention" signature — measured here as 2-5x per-key variance).
      // Each key still pays its own materialization cost in full.
      spark.catalog.clearCache()
      val steady = if (reps <= 1) Double.NaN else (2 to reps).map { _ =>
        val s0 = System.nanoTime()
        run(name, fn)
        val s1 = System.nanoTime()
        spark.catalog.clearCache()
        (s1 - s0) / 1e9
      }.min
      // (duration, start offset from run start) — the offset lets a reader
      // separate box-contention tail inflation from real plan regressions:
      // a trivial key that is slow ONLY when its offset is late is noise.
      name -> (((t1 - t0) / 1e9, (t0 - runStart) / 1e9, steady))
    }
    // ms precision: full-precision doubles made the r01 JSON line long
    // enough that the driver's capture truncated the per-key tail
    val qs = results.map { case (k, (d, at, st)) =>
      if (st.isNaN) f""""$k":[$d%.3f,$at%.2f]"""
      else f""""$k":[$d%.3f,$at%.2f,$st%.3f]"""
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val line1 = s"""{"metric":"total","value":$total,"unit":"sec","queries_at":$qs,"sf":"$sfDir"}"""
    println(line1)
    // COMPACT full-coverage line (round 10, VERDICT r9 task 6): the
    // driver keeps only the LAST ~2000 bytes of stdout, so the long
    // per-key line above loses its head (~300 of 360 keys were invisible
    // to rounds 3-9). This line carries EVERY key's duration in
    // DECISECONDS, values only, in SORTED KEY ORDER (reconstruct names
    // by sorting the registry keyset) — ~1.2 KB, inside the capture.
    val ds = results.toSeq.sortBy(_._1)
      .map { case (_, (d, _, _)) => math.round(d * 10).toString }
      .mkString("[", ",", "]")
    val line2 = s"""{"metric":"per_key_ds","unit":"ds","order":"sorted_keys","n_keys":${results.size},"v":$ds}"""
    println(line2)
    // short, FINAL summary line: even a tail-truncated capture of the
    // lines above still parses this headline. Distinct metric name so a
    // first-total-wins or summing parser cannot double-count (ADVICE r5).
    val slowest5 = results.toSeq.sortBy(-_._2._1).take(5)
      .map { case (k, (d, _, _)) => f""""$k":$d%.3f""" }.mkString("{", ",", "}")
    val line3 = f"""{"metric":"total_summary","value":$total%.3f,"unit":"sec","n_keys":${results.size},"n_failed":${failed.size},"slowest5":$slowest5,"sf":"$sfDir"}"""
    println(line3)
    // durable copy (round 17, VERDICT r16 #7): every BENCH_r*.json back to
    // r01 carries `parsed: null` because the driver keeps only the last
    // ~2000 bytes of stdout and sbt's epilogue follows the JSON lines. The
    // SAME three lines land in BENCH_out.json (cwd) so a parser never
    // depends on stdout capture. Best-effort: a read-only cwd must not
    // fail the bench (stdout stays byte-identical either way).
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_out.json"),
      s"$line1\n$line2\n$line3\n".getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] BENCH_out.json write failed (stdout lines remain authoritative): $e")
    }
    spark.stop()
  }
}
