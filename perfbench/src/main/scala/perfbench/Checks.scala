package perfbench

/** Output checks as pure functions of what the workload observed and
  * what the generator planted: each returns the list of mismatches
  * (empty when correct), so a corrupted result is easy to test.
  */
object Checks {

  private def near(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** What one ETL pass left in its warehouse. */
  final case class EtlObserved(factRows: Long, factRevenue: Double,
                               pairTrips: Long, pairRevenue: Double,
                               timeTrips: Long, timeRevenue: Double,
                               topRows: Long, topTrips: Long,
                               quality: Map[String, Long])

  /** `sqlRevenue` is plain Spark SQL over the raw input, independent of
    * the pipeline's code.
    */
  def etl(p: Gen.StarPlanted, sqlRevenue: Double, o: EtlObserved): Seq[String] = {
    val expectRows = p.lineitems - p.rejects
    val errs = Seq.newBuilder[String]
    if (o.factRows != expectRows) errs += s"fact rows ${o.factRows} != input ${p.lineitems} - planted rejects ${p.rejects}"
    if (!near(o.factRevenue, sqlRevenue, 1e-9)) errs += s"fact sum(revenue) ${o.factRevenue} != SQL over input $sqlRevenue"
    if (!near(sqlRevenue, p.revenue, 1e-9)) errs += s"SQL revenue $sqlRevenue != generated ${p.revenue}"
    if (o.pairTrips != o.factRows) errs += s"pair summary trips ${o.pairTrips} != fact rows ${o.factRows}"
    if (!near(o.pairRevenue, o.factRevenue, 1e-6)) errs += s"pair summary revenue ${o.pairRevenue} != fact ${o.factRevenue}"
    if (o.timeTrips != o.factRows) errs += s"time summary trips ${o.timeTrips} != fact rows ${o.factRows}"
    if (!near(o.timeRevenue, o.factRevenue, 1e-6)) errs += s"time summary revenue ${o.timeRevenue} != fact ${o.factRevenue}"
    if (o.topRows != math.min(50L, p.nationPairs)) errs += s"top pairs rows ${o.topRows} != min(50, ${p.nationPairs})"
    if (o.topTrips > o.factRows || o.topTrips <= 0) errs += s"top pairs trips ${o.topTrips} outside (0, ${o.factRows}]"
    val q = o.quality
    def qc(k: String, want: Long): Unit =
      if (!q.get(k).contains(want)) errs += s"quality $k ${q.get(k)} != $want"
    qc("null_cust_nation", p.orphanCustRows)
    qc("null_supp_nation", p.orphanSuppRows)
    qc("invalid_quantity", 0L)
    qc("negative_revenue", 0L)
    qc("total_rows", expectRows)
    errs.result()
  }

  /** Rows of a keyed table against the driver-side model. */
  def table[K, V](what: String, model: collection.Map[K, V], rows: Seq[(K, V)]): Seq[String] = {
    val got = rows.toMap
    val errs = Seq.newBuilder[String]
    if (got.size != rows.size) errs += s"$what: ${rows.size - got.size} duplicate keys"
    val missing = model.keys.count(k => !got.contains(k))
    val extra = got.keys.count(k => !model.contains(k))
    val wrong = got.count { case (k, v) => model.get(k).exists(_ != v) }
    if (missing > 0) errs += s"$what: $missing model rows missing"
    if (extra > 0) errs += s"$what: $extra rows not in the model"
    if (wrong > 0) errs += s"$what: $wrong rows differ from the model"
    errs.result()
  }

  /** Curated doc ids against the planted roles. */
  def curation(roles: Map[Long, Gen.Role.Value], kept: Seq[Long]): Seq[String] = {
    import Gen.Role._
    val got = kept.toSet
    val errs = Seq.newBuilder[String]
    if (got.size != kept.size) errs += s"curated output repeats ${kept.size - got.size} doc ids"
    def wrong(what: String, role: Gen.Role.Value, inOutput: Boolean): Unit = {
      val ids = roles.collect { case (id, r) if r == role && got.contains(id) == inOutput => id }.toSeq.sorted
      if (ids.nonEmpty) errs += s"${ids.size} $what (ids ${ids.take(5).mkString(",")})"
    }
    wrong("unplanted docs dropped", Kept, inOutput = false)
    wrong("planted exact duplicates kept", ExactDup, inOutput = true)
    wrong("planted near-duplicates not clustered", NearDup, inOutput = true)
    wrong("planted low-quality docs kept", LowQuality, inOutput = true)
    val unknown = got.count(id => !roles.contains(id))
    if (unknown > 0) errs += s"$unknown doc ids not in the input"
    errs.result()
  }
}
