package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a module: recorded by the benchmark around the
  * call, never from inside the library.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the engine listeners of a traced run.
  *
  * Off by default: `span` is then a plain call, and no listener is
  * registered, so the timed (untraced) runs carry no instrumentation.
  * `start` turns recording on for one op and registers a
  * `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener`; `stop` drains and unregisters them. The
  * counters add up over every traced op. Everything runs on the
  * single driver thread of the closed loop, so the span stack needs no
  * locking; the listeners are fed on Spark's bus threads and only
  * append to concurrent queues.
  */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var on = false
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private val sparkListener = new EngineListener
  private val qeListener = new PhaseListener
  private val streamListener = new StreamListener
  private var session: SparkSession = _
  private var timersAtStart: Map[String, (Double, Long)] = Map.empty
  private var filesAtStart, bytesAtStart, startNs = 0L
  private var tracedNs = 0L
  private val timerDelta = mutable.HashMap.empty[String, (Double, Long)]
  private var filesDelta, bytesDelta = 0L

  private val queryWalls = mutable.ArrayBuffer.empty[(java.util.UUID, Double)]
  private val createdNs = System.nanoTime()

  def enabled: Boolean = on

  /** Wall time of one streaming query run, start to terminate. */
  def queryWall(runId: java.util.UUID, wallMs: Double): Unit = if (on) queryWalls += ((runId, wallMs))

  def span[T](name: String)(f: => T): T = {
    if (!on) return f
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, t0, System.nanoTime(), runId)
    }
  }

  /** A per-layer observation taken from outside the library (a file
    * count, a row ratio); reported as the mean of its samples.
    */
  def sample(name: String, v: Double): Unit =
    if (on) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Start tracing one op: recording on, listeners registered, counters
    * snapshotted. `stop` ends it; the metrics add up over all traced ops.
    */
  def start(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    timersAtStart = timers()
    filesAtStart = graft.io.TableIO.filesWritten.get()
    bytesAtStart = graft.io.TableIO.bytesWritten.get()
    startNs = System.nanoTime()
    on = true
  }

  /** Stop tracing: wait until the listeners have seen every event of
    * the op, then unregister them.
    */
  def stop(): Unit = {
    if (!on) return
    on = false
    tracedNs += System.nanoTime() - startNs
    timers().foreach { case (k, (sec, n)) =>
      val (s0, n0) = timersAtStart.getOrElse(k, (0.0, 0L))
      val (s1, n1) = timerDelta.getOrElse(k, (0.0, 0L))
      timerDelta(k) = (s1 + sec - s0, n1 + n - n0)
    }
    filesDelta += graft.io.TableIO.filesWritten.get() - filesAtStart
    bytesDelta += graft.io.TableIO.bytesWritten.get() - bytesAtStart
    sparkListener.drain()
    streamListener.drain(queryWalls.size)
    // the Catalyst listener shares the engine listener's queue; give it
    // the events the engine listener has already seen
    Thread.sleep(50)
    session.sparkContext.removeSparkListener(sparkListener)
    session.listenerManager.unregister(qeListener)
    session.streams.removeListener(streamListener)
  }

  private def timers(): Map[String, (Double, Long)] =
    graft.io.Timers.snapshot().map { case (k, s, n) => k -> (s, n) }.toMap

  private def spanSeconds(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds).toSeq

  /** Self time per span name: duration minus the time its children
    * cover (children of one span never overlap on the one driver
    * thread, so their durations add).
    */
  def selfTimes: Seq[(String, Double, Int)] = {
    val childTime = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent != 0) childTime(s.parent) += s.seconds)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(s => s.seconds - childTime(s.id)).sum, ss.size)
    }.sortBy(-_._2)
  }

  /** Every per-layer metric of `Layers.names`, 0 for a layer this run
    * never called. Counts and engine times are per workload op (`ops`).
    */
  def layerMetrics(ops: Int): Map[String, Double] = {
    val perOp = 1.0 / math.max(1, ops)
    val ms = (n: String) => Stats.median(spanSeconds(n)) * 1000.0
    val s = (n: String) => Stats.median(spanSeconds(n))
    def tms(labels: String*): Double =
      labels.map(l => timerDelta.get(l).map(_._1).getOrElse(0.0)).sum * 1000.0 * perOp
    def tcalls(l: String): Double = timerDelta.get(l).map(_._2.toDouble).getOrElse(0.0)
    val e = sparkListener
    val wallS = tracedNs / 1e9
    val m = mutable.LinkedHashMap[String, Double](
      "jobs.ingestion_s" -> s("jobs.ingestion"),
      "jobs.dimension_s" -> s("jobs.dimension"),
      "jobs.fact_s" -> s("jobs.fact"),
      "jobs.aggregation_s" -> s("jobs.aggregation"),
      "jobs.quality_s" -> s("jobs.quality"),
      "io.overwrite_ms" -> ms("io.overwrite"),
      "io.apply_deletes_ms" -> ms("io.apply_deletes"),
      "io.read_ms" -> ms("io.read"),
      "io.files_written" -> filesDelta * perOp,
      "io.bytes_written" -> bytesDelta * perOp,
      "io.timer.stage_write_ms" -> tms("stageWrite.writeJob", "stageWrite.writeJobFast"),
      "io.timer.move_ms" -> tms("stageWrite.move"),
      "io.timer.manifest_ms" -> tms("commit.manifestJson"),
      "io.timer.stats_ms" -> tms("commit.stats"),
      "io.timer.dml_probe_ms" -> tms("dml.conflictProbe", "dml.pruneProbe"),
      "io.fast_path_share" -> {
        val fast = tcalls("stageWrite.writeJobFast")
        val all = fast + tcalls("stageWrite.writeJob")
        if (all == 0) 0.0 else fast / all
      },
      "spark.analysis_ms" -> qeListener.phaseMs("analysis") * perOp,
      "spark.optimization_ms" -> qeListener.phaseMs("optimization") * perOp,
      "spark.planning_ms" -> qeListener.phaseMs("planning") * perOp,
      "spark.jobs" -> e.jobs * perOp,
      "spark.stages" -> e.stages * perOp,
      "spark.tasks" -> e.tasks * perOp,
      "spark.task_s" -> e.taskNs / 1e9 * perOp,
      "spark.gc_s" -> e.gcNs / 1e9 * perOp,
      "spark.shuffle_bytes" -> e.shuffleBytes * perOp,
      "spark.input_bytes" -> e.inputBytes * perOp,
      "spark.driver_gap_s" -> math.max(0.0, wallS - e.jobUnionS) * perOp,
      "dedup.exact_s" -> s("dedup.exact"),
      "dedup.near_dup_s" -> s("dedup.near_dup"),
      "text.score_s" -> s("text.score"),
      "streaming.trigger_ms" -> streamListener.medianMs("triggerExecution"),
      "streaming.add_batch_ms" -> streamListener.medianMs("addBatch"),
      "streaming.wal_commit_ms" -> streamListener.medianMs("walCommit"),
      "streaming.commit_offsets_ms" -> streamListener.medianMs("commitOffsets"),
      "streaming.latest_offset_ms" -> streamListener.medianMs("latestOffset"),
      "streaming.query_planning_ms" -> streamListener.medianMs("queryPlanning"),
      "streaming.lifecycle_ms" -> Stats.median(queryWalls.toSeq.map { case (run, wallMs) =>
        wallMs - streamListener.triggerTotalMs(run) })
    )
    samples.foreach { case (k, v) => m(k) = Stats.mean(v.toSeq) }
    m.toMap
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> (s.startNs - createdNs), "end_ns" -> (s.endNs - createdNs), "run_id" -> s.runId)
  }
}

/** Job, stage and task totals plus the union of job intervals (for the
  * driver gap: wall time during which no Spark job ran).
  */
private final class EngineListener extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var jobs, stages, tasks = 0L
  @volatile var taskNs, gcNs, shuffleBytes, inputBytes = 0L
  @volatile private var started, ended, sqlStarted, sqlEnded = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1; jobs += 1; jobStarts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    val t0 = jobStarts.remove(e.jobId)
    intervals.add((t0, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => sqlStarted += 1
      case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => sqlEnded += 1
      case _ =>
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L
      gcNs += m.jvmGCTime * 1000000L
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Wait (bounded) until every started job and SQL execution has
    * reported its end; the bus delivers a job's task ends before it.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(ended < started || sqlEnded < sqlStarted) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Seconds covered by at least one job (union of [start, end]). */
  def jobUnionS: Double = {
    val iv = intervals.asScala.toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}

/** Catalyst phase times from `QueryExecution.tracker`, summed. */
private final class PhaseListener extends QueryExecutionListener {
  private val totals = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      totals.merge(phase, summary.durationMs, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def phaseMs(phase: String): Double = Option(totals.get(phase)).map(_.doubleValue).getOrElse(0.0)
}

/** Per-trigger durations from `StreamingQueryProgress.durationMs`,
  * and each query run's total trigger time.
  */
private final class StreamListener extends StreamingQueryListener {
  private val durations = new ConcurrentLinkedQueue[(String, Long)]()
  private val triggerMs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    d.asScala.foreach { case (k, v) => durations.add((k, v.longValue)) }
    Option(d.get("triggerExecution")).foreach(t =>
      triggerMs.merge(e.progress.runId, t, (a: java.lang.Long, b: java.lang.Long) => a + b))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  @volatile private var terminated = 0
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { terminated += 1 }

  /** Wait (bounded) until `queries` query runs have terminated. */
  def drain(queries: Int): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(terminated < queries) && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def triggerTotalMs(runId: java.util.UUID): Double =
    Option(triggerMs.get(runId)).map(_.doubleValue).getOrElse(0.0)

  def medianMs(key: String): Double =
    Stats.median(durations.asScala.toSeq.collect { case (k, v) if k == key => v.toDouble })
}
