package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.SessionFactory

/** The benchmark: one process, one workload, one seed.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> [--out <trace dir>]
  * }}}
  *
  * Untraced (`--trace 0`) it prints the end-to-end metrics. Traced, it
  * alternates untraced ops with ops run under spans and listeners,
  * prints the per-layer metrics of the traced ops, and reports the
  * tracing overhead as the change in median op latency between the two
  * groups. The last stdout line is the result object; lines before it
  * starting with `#` describe the inputs and the trace.
  */
object Main {

  /** End-to-end metrics and units, in `BENCHMARK.json` order. Every
    * workload reports all of them; "op" is the workload's unit of work
    * (a five-job pass, a curation chain, a stream catch-up).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_op_s" -> "s", "op_ms_p50" -> "ms", "read_ms_p50" -> "ms",
    "write_amp" -> "ratio", "space_amp" -> "ratio", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workload.Names.contains(workload)) usage(s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val out = opts.get("out").map(Paths.get(_).toAbsolutePath)

    val (spark, setupS) = setUp()
    val exit = try {
      Stats.deleteTree(work)
      Files.createDirectories(work)
      val result = run(spark, workload, seed, seconds, traced, work, out, setupS)
      println(result)
      0
    } finally {
      spark.stop()
      Stats.deleteTree(work)
    }
    sys.exit(exit)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workload.Names.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir> [--out <dir>]")
    sys.exit(2)
  }

  /** Builds the `SessionFactory` session (`local[SPARK_GRAFT_CPUS]`,
    * which run.py sets to the machine's core count) and runs a warm-up
    * query; returns the session and the seconds from JVM start until
    * the warm-up has finished. One cold build per process: a rebuild in
    * the same JVM would skip class loading and JIT, the cost a user
    * starting the pipeline pays.
    */
  private def setUp(): (SparkSession, Double) = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SessionFactory.build("perfbench", Some(s"local[${SessionFactory.localCores}]"))
    warmUp(spark)
    (spark, (System.currentTimeMillis() - jvmStart) / 1000.0)
  }

  private def warmUp(spark: SparkSession): Unit =
    spark.range(0, 200000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 97 AS g", "size(graft_shingle_hashes(cast(id AS string), 3)) AS n")
      .groupBy("g").sum("n").collect()

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double, tracing: Boolean,
                  work: Path, out: Option[Path], setupS: Double): String = {
    val tracer = new Tracer(s"$name-$seed-${ProcessHandle.current.pid}")
    val ctx = new Ctx(spark, work, seed, tracer)
    val w = Workload(name, ctx)
    val t0 = System.nanoTime()
    val inputs = w.prepare()
    val prepareS = (System.nanoTime() - t0) / 1e9
    inputs.foreach { case (k, v) => println(s"# input $k = $v") }
    println(f"# prepare_s = $prepareS%.3f")

    // A traced run alternates untraced and traced ops in the order
    // U T T U U T T U ..., so warm-up drift falls on both groups alike.
    val cold = w.op(0)
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Step]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Step]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9 + cold.latencyMs.sum / 1000
    var i = 1
    while (elapsed < seconds || untraced.size < w.minWarmOps || (tracing && traced.size < w.minWarmOps)) {
      if (tracing && (i - 1) % 4 / 2 != (i - 1) % 2) {
        tracer.start(spark)
        try traced += tracer.span("op")(w.op(i)) finally tracer.stop()
      } else untraced += w.op(i)
      i += 1
    }
    val extras = if (tracing) w.traceExtras() else Map.empty[String, Any]
    val fin = w.finish()
    fin.info.foreach { case (k, v) => println(s"# $k = $v") }

    // attempted and failed count the same units: every op, and the
    // end-of-run check as one more
    val steps = cold +: (untraced ++ traced).toSeq
    val attempted = steps.size + 1L
    val failures = steps.flatMap(_.failures) ++ fin.failures
    failures.take(20).foreach(f => println(s"# FAILED: $f"))
    val failed = steps.count(_.failures.nonEmpty) + (if (fin.failures.nonEmpty) 1L else 0L)

    val metrics: Seq[(String, Double, String)] =
      if (!tracing) {
        val lat = untraced.flatMap(_.latencyMs).toSeq
        val reads = untraced.flatMap(_.readMs).toSeq
        println(s"# samples: ops=${lat.size} reads=${reads.size} cold_op=1 setup=1")
        println(s"# op_ms = ${lat.map(x => f"$x%.0f").mkString(", ")}; read_ms = ${reads.map(x => f"$x%.0f").mkString(", ")}")
        // throughput is the same figure as op_ms_p50, so it is not a metric
        println(f"# input rows per op = ${w.rowsPerOp}; per second of median op = ${w.rowsPerOp / Stats.median(lat) * 1000}%.0f")
        val values = Map(
          "setup_s" -> setupS,
          "cold_op_s" -> cold.latencyMs.head / 1000.0,
          "op_ms_p50" -> Stats.median(lat),
          "read_ms_p50" -> Stats.median(reads),
          "write_amp" -> fin.writeAmp,
          "space_amp" -> fin.spaceAmp,
          "peak_rss_mb" -> Stats.peakRssMb())
        EndToEnd.map { case (n, unit) => (n, values(n), unit) }
      } else {
        val base = Stats.median(untraced.flatMap(_.latencyMs).toSeq)
        val withTrace = Stats.median(traced.flatMap(_.latencyMs).toSeq)
        val overheadPct = if (base > 0) (withTrace / base - 1) * 100 else 0.0
        println(f"# trace overhead: median op $base%.1f ms untraced (${untraced.size} ops), " +
          f"$withTrace%.1f ms traced (${traced.size} ops): $overheadPct%+.1f%%")
        val layer = tracer.layerMetrics(traced.size) ++ extras.collect { case (k, v: Double) => k -> v }
        println("# self time by span (s, calls):")
        tracer.selfTimes.foreach { case (n, s, c) => println(f"#   $n%-22s $s%9.3f $c%6d") }
        extras.foreach { case (k, v) => if (!v.isInstanceOf[Double]) println(s"# $k = $v") }
        out.foreach { dir =>
          Files.createDirectories(dir)
          val file = dir.resolve(s"trace-$name-seed$seed.json")
          Files.writeString(file, Json.render(Map(
            "run_id" -> tracer.runId, "workload" -> name, "seed" -> seed, "inputs" -> inputs,
            "spans" -> tracer.spansJson,
            "self_s" -> tracer.selfTimes.map { case (n, s, c) => Map("name" -> n, "self_s" -> s, "calls" -> c) },
            "layers" -> layer, "extras" -> extras, "overhead_pct" -> overheadPct)))
          println(s"# trace written to $file")
        }
        Layers.Names.map { case (n, unit) => (n, if (n == "trace.overhead_pct") overheadPct else layer.getOrElse(n, 0.0), unit) }
      }
    resultLine(failures.isEmpty, attempted, failed, metrics)
  }

  /** The result object: the last line of the benchmark's stdout. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String = {
    import scala.collection.immutable.ListMap
    Json.render(ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)))
  }
}

/** The per-layer metric names and units, in `BENCHMARK.json` order. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "jobs.ingestion_s" -> "s", "jobs.dimension_s" -> "s", "jobs.fact_s" -> "s",
    "jobs.aggregation_s" -> "s", "jobs.quality_s" -> "s",
    "io.overwrite_ms" -> "ms", "io.apply_deletes_ms" -> "ms", "io.read_ms" -> "ms",
    "io.files_scanned_per_read" -> "count", "io.table_files" -> "count", "io.delete_entries" -> "count",
    "io.files_written" -> "count", "io.bytes_written" -> "bytes",
    "io.timer.stage_write_ms" -> "ms", "io.timer.move_ms" -> "ms", "io.timer.manifest_ms" -> "ms",
    "io.timer.stats_ms" -> "ms", "io.timer.dml_probe_ms" -> "ms", "io.fast_path_share" -> "ratio",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.driver_gap_s" -> "s",
    "dedup.exact_s" -> "s", "dedup.near_dup_s" -> "s", "text.score_s" -> "s",
    "operators.scatter_tasks" -> "count",
    "functions.shingle_ns_per_row" -> "ns", "functions.minhash_ns_per_row" -> "ns",
    "functions.simhash_ns_per_row" -> "ns", "functions.winnow_ns_per_row" -> "ns",
    "functions.textcounts_ns_per_row" -> "ns", "functions.bpe_ns_per_row" -> "ns",
    "functions.cosine_ns_per_row" -> "ns",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.lifecycle_ms" -> "ms", "trace.overhead_pct" -> "%")
}
