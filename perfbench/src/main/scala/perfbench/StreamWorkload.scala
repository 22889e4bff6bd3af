package perfbench

import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.io.TableIO
import graft.streaming.TableSink

/** Stream catch-up: one op lands the next generated `events` file in
  * the watched directory and runs one `AvailableNow`
  * `TableSink.upsertStreamMOR` query into a table keyed by `user_id`
  * (latest `event_id` wins), timed from the landing to the query's
  * termination with its commit visible. One op is a cycle of
  * `ApplyEvery` such batches, a snapshot read checked against a
  * driver-side model of the landed events, and `applyDeletes`.
  */
final class StreamWorkload(ctx: Ctx) extends Workload {
  import StreamWorkload._
  private val spark = ctx.spark
  private val wh = ctx.dir("stream-wh")
  private val io = TableIO(spark, wh.toString)
  private val staging = ctx.dir("stream-staging")
  private val incoming = ctx.dir("stream-in")
  private val checkpoint = ctx.work.resolve("stream-ckpt").toString
  private val model = mutable.HashMap.empty[Long, (Long, Double)]
  private var landedBytes = 0L

  /** Cycles are short; more of them steady the medians. */
  override def minWarmOps: Int = 4

  def prepare(): Map[String, Any] = {
    val rows = (0 until MaxBatches).flatMap(b => Gen.eventBatch(ctx.seed, b, BatchEvents, Users))
    Gen.frame(spark, rows, Gen.EventsSchema)
      .withColumn("batch", (col("event_id") / BatchEvents).cast("int"))
      .repartition(col("batch")).write.partitionBy("batch").parquet(staging.resolve("all").toString)
    Map("events_per_file" -> BatchEvents, "users" -> Users, "files_available" -> MaxBatches,
      "apply_deletes_every" -> ApplyEvery)
  }

  private def land(b: Int): Unit = {
    val dir = staging.resolve(s"all/batch=$b")
    val s = Files.list(dir)
    val part = try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get() finally s.close()
    landedBytes += Files.size(part)
    Files.move(part, incoming.resolve(f"events-$b%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Land file `b` and run one catch-up query; returns its latency. */
  private def batch(b: Int, fails: mutable.ArrayBuffer[String]): Double = {
    require(b < MaxBatches, s"stream workload ran out of generated files ($MaxBatches)")
    val before = io.catalog.currentVersion(Target).getOrElse(0)
    val (ms, res) = Workload.timed {
      land(b)
      val stream = spark.readStream.schema(Gen.EventsSchema).parquet(incoming.toString)
      val t0 = System.nanoTime()
      val q = TableSink.upsertStreamMOR(stream, io, Target, checkpoint, Seq("user_id"), Seq("event_id"),
        availableNow = true)
      q.awaitTermination()
      ctx.tracer.queryWall(q.runId, (System.nanoTime() - t0) / 1e6)
      q.exception.foreach(e => throw e)
      val after = io.catalog.currentVersion(Target).getOrElse(0)
      require(after == before + 1, s"batch $b: table version $before -> $after, expected one commit")
    }
    res.left.foreach(e => fails += s"batch $b: $e")
    Gen.eventBatch(ctx.seed, b, BatchEvents, Users).foreach { r =>
      val u = r.getLong(2)
      if (model.get(u).forall(_._1 < r.getLong(0))) model(u) = (r.getLong(0), r.getDouble(4))
    }
    ms
  }

  /** One `applyDeletes` cycle: `ApplyEvery` batches, then a snapshot
    * read (carrying their pending deletes) checked against the model,
    * then `applyDeletes`. Whole cycles keep the samples of a run at the
    * same mix of clean and dirty snapshots.
    */
  def op(i: Int): Step = {
    val fails = mutable.ArrayBuffer.empty[String]
    val lat = (0 until ApplyEvery).map(j => batch(i * ApplyEvery + j, fails))
    val reads = mutable.ArrayBuffer.empty[Double]
    val got = ctx.read(io, Target, reads) { df =>
      val row = df.agg(count(lit(1)), sum("event_id")).head()
      (row.getLong(0), row.getLong(1))
    }
    val want = (model.size.toLong, model.valuesIterator.map(_._1).sum)
    got.fold(e => fails += s"read: $e", g => if (g != want) fails += s"cycle $i: snapshot (count, sum id) $g, model $want")
    val (_, a) = Workload.timed(ctx.span("io.apply_deletes")(io.applyDeletes(Target)))
    a.left.foreach(e => fails += s"applyDeletes: $e")
    Step(lat, reads.toSeq, fails.toSeq)
  }

  /** One sample of the op latency is one catch-up batch. */
  def rowsPerOp: Long = BatchEvents

  def finish(): Finish = {
    val rows = io.read(Target).select("user_id", "event_id", "value").collect().toSeq
    val fails = Checks.table("final stream table", model, rows.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))))
    val whBytes = Stats.duBytes(wh)
    val p = ctx.work.resolve("stream-compact").toString
    io.read(Target).coalesce(1).write.parquet(p)
    Finish(whBytes.toDouble / landedBytes, whBytes.toDouble / Stats.duBytes(java.nio.file.Paths.get(p)),
      fails, Map("final_rows" -> rows.size, "landed_bytes" -> landedBytes))
  }
}

object StreamWorkload {
  val Target = "default.stream_latest"
  val BatchEvents = 1000
  val Users = 20000
  val MaxBatches = 80
  val ApplyEvery = 2
}
