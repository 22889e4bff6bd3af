package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run shares: the session, its scratch directory
  * inside the checkout, the seed and the tracer (off unless traced).
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val tracer: Tracer) {
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)
  /** One timed read of `table` through `TableIO`, consumed by `f`: the
    * latency is appended to `into`, an exception becomes a failure
    * message. Traced runs also sample the scan's files and the table's
    * state.
    */
  def read[T](io: graft.io.TableIO, table: String, into: mutable.Buffer[Double])(
      f: org.apache.spark.sql.DataFrame => T): Either[String, T] = {
    val (ms, r) = Workload.timed(span("io.read") {
      val df = io.read(table)
      if (tracer.enabled) {
        tracer.sample("io.files_scanned_per_read", df.inputFiles.length)
        val v = io.catalog.currentVersion(table).get
        tracer.sample("io.table_files", io.catalog.manifest(table, v).size)
        tracer.sample("io.delete_entries", io.catalog.pendingDeletes(table, v).size)
      }
      f(df)
    })
    into += ms
    r
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    java.nio.file.Files.createDirectories(p)
    p
  }
}

/** One closed-loop op of a workload: the latencies the user sees, the
  * reads it made, and the calls that failed or returned a wrong answer.
  */
final case class Step(latencyMs: Seq[Double], readMs: Seq[Double], failures: Seq[String])

/** The end-of-run checks and the amplification ratios they measure. */
final case class Finish(writeAmp: Double, spaceAmp: Double, failures: Seq[String], info: Map[String, Any])

/** A workload: `prepare` generates the inputs and any starting tables
  * (untimed), `op` runs one unit of the closed loop, `finish` checks
  * the final state. A thrown exception counts as one failed call.
  */
trait Workload {
  def prepare(): Map[String, Any]
  def op(i: Int): Step
  def finish(): Finish
  /** Input rows (lineitems, documents, events) one op processes. */
  def rowsPerOp: Long
  /** Warm ops a run holds even when they outlast `--seconds`. */
  def minWarmOps: Int = 3
  /** Per-layer observations taken once, at the end of a traced run. */
  def traceExtras(): Map[String, Any] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("etl_pipeline", "curation", "stream_ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_pipeline" => new EtlWorkload(ctx)
    case "curation" => new CurationWorkload(ctx)
    case "stream_ingest" => new StreamWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Time `f`, turning an exception into a failure message. */
  def timed[T](f: => T): (Double, Either[String, T]) = {
    val t0 = System.nanoTime()
    val r = try Right(f) catch {
      case scala.util.control.NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    ((System.nanoTime() - t0) / 1e6, r)
  }
}
