package perfbench

import org.apache.spark.sql.functions._

import graft.io.TableIO
import graft.jobs.{AggregationJob, DataQualityJob, DimensionJob, FactJob, IngestionJob}

/** The reference's own workload: the five jobs in order over a
  * generated star schema, each pass into a fresh warehouse. One op is
  * one five-job pass; the four reads after it load the outputs back
  * through `TableIO` and feed the checks.
  */
final class EtlWorkload(ctx: Ctx) extends Workload {
  import EtlWorkload.Lines
  private val spark = ctx.spark
  private val in = ctx.dir("etl-input").toString
  private var planted: Gen.StarPlanted = _
  private var sqlRevenue = 0.0
  private var inputBytes = 0L
  private var lastWarehouse: Option[java.nio.file.Path] = None
  private val writeAmps = scala.collection.mutable.ArrayBuffer.empty[Double]

  def prepare(): Map[String, Any] = {
    val s = Gen.star(ctx.seed, Lines)
    planted = s.planted
    inputBytes =
      Gen.write(spark, s.nation, Gen.NationSchema, s"$in/nation.parquet") +
      Gen.write(spark, s.customer, Gen.CustomerSchema, s"$in/customer.parquet") +
      Gen.write(spark, s.supplier, Gen.SupplierSchema, s"$in/supplier.parquet") +
      Gen.write(spark, s.orders, Gen.OrdersSchema, s"$in/orders.parquet", files = 2) +
      Gen.write(spark, s.lineitem, Gen.LineitemSchema, s"$in/lineitem.parquet", files = 4)
    // the pipeline's row rules restated as plain SQL over the raw input
    spark.read.parquet(s"$in/lineitem.parquet").createOrReplaceTempView("perfbench_lineitem")
    sqlRevenue = spark.sql(
      """SELECT sum(l_extendedprice * (1 - l_discount)) FROM perfbench_lineitem
        |WHERE l_quantity > 0 AND l_quantity < 1000 AND l_extendedprice > 0
        |  AND l_discount >= 0 AND l_discount < 1 AND l_shipdate IS NOT NULL""".stripMargin)
      .head().getDouble(0)
    Map("lineitem_rows" -> Lines, "orders_rows" -> s.orders.size, "customer_rows" -> s.customer.size,
      "supplier_rows" -> s.supplier.size, "input_bytes" -> inputBytes,
      "planted_rejects" -> planted.rejects, "planted_orphan_customer_rows" -> planted.orphanCustRows,
      "planted_orphan_supplier_rows" -> planted.orphanSuppRows, "nation_pairs" -> planted.nationPairs)
  }

  def op(i: Int): Step = {
    val wh = ctx.work.resolve(s"etl-wh-$i")
    val io = TableIO(spark, wh.toString)
    val (ms, res) = Workload.timed {
      ctx.span("jobs.ingestion")(IngestionJob.run(spark, in, io))
      ctx.span("jobs.dimension")(DimensionJob.run(spark, in, io))
      ctx.span("jobs.fact")(FactJob.run(spark, in, io))
      ctx.span("jobs.aggregation")(AggregationJob.run(spark, in, io))
      ctx.span("jobs.quality")(DataQualityJob.run(spark, in, io).collect().head)
    }
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    def read[T](table: String)(f: org.apache.spark.sql.DataFrame => T): T =
      ctx.read(io, table, reads)(f).fold(e => throw new IllegalStateException(e), identity)
    val failures = res match {
      case Left(err) => Seq(err)
      case Right(q) =>
        try {
          val fact = read(FactJob.Target)(_.agg(count(lit(1)), sum("revenue")).head())
          val pair = read(AggregationJob.PairTarget)(
            _.agg(sum("total_trips"), sum("total_revenue").cast("double")).head())
          val time = read(AggregationJob.TimeTarget)(
            _.agg(sum("trip_count"), sum("total_revenue").cast("double")).head())
          val top = read(AggregationJob.TopTarget)(_.agg(count(lit(1)), max("trip_count")).head())
          val quality = q.schema.fieldNames.map(n => n -> q.getAs[Long](n)).toMap
          Checks.etl(planted, sqlRevenue, Checks.EtlObserved(
            fact.getLong(0), fact.getDouble(1), pair.getLong(0), pair.getDouble(1),
            time.getLong(0), time.getDouble(1), top.getLong(0), top.getLong(1), quality))
        } catch { case scala.util.control.NonFatal(e) => Seq(s"check failed: $e") }
    }
    writeAmps += Stats.duBytes(wh).toDouble / inputBytes
    lastWarehouse.foreach(Stats.deleteTree)
    lastWarehouse = Some(wh)
    Step(Seq(ms), reads.toSeq, failures)
  }

  def rowsPerOp: Long = Lines

  def finish(): Finish = {
    // space: the last pass's warehouse against a compact copy of the
    // live rows of every table it holds
    val wh = lastWarehouse.get
    val io = TableIO(spark, wh.toString)
    val tables = Seq(IngestionJob.Target, DimensionJob.LocationTarget, DimensionJob.DateTarget,
      FactJob.Target, AggregationJob.PairTarget, AggregationJob.TimeTarget, AggregationJob.TopTarget)
    val compact = tables.zipWithIndex.map { case (t, j) =>
      val p = ctx.work.resolve(s"etl-compact-$j").toString
      io.read(t).coalesce(1).write.parquet(p)
      Stats.duBytes(java.nio.file.Paths.get(p))
    }.sum
    Finish(Stats.median(writeAmps.toSeq), Stats.duBytes(wh).toDouble / compact, Nil, Map.empty)
  }
}

object EtlWorkload {
  val Lines = 60000
}
