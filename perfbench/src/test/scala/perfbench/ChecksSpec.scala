package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every output check accepts the right answer and rejects a
  * deliberately corrupted one.
  */
class ChecksSpec extends AnyFunSuite {

  private val planted = Gen.StarPlanted(lineitems = 1000, rejects = 20, orphanCustRows = 9,
    orphanSuppRows = 11, nationPairs = 80, revenue = 5000.0)
  private val good = Checks.EtlObserved(
    factRows = 980, factRevenue = 5000.0, pairTrips = 980, pairRevenue = 5000.0,
    timeTrips = 980, timeRevenue = 5000.0, topRows = 50, topTrips = 40,
    quality = Map("null_cust_nation" -> 9L, "null_supp_nation" -> 11L, "invalid_quantity" -> 0L,
      "negative_revenue" -> 0L, "total_rows" -> 980L))

  test("etl: the planted answers pass") {
    assert(Checks.etl(planted, 5000.0, good).isEmpty)
  }

  test("etl: each corruption is caught") {
    val corrupted = Seq(
      good.copy(factRows = 981),
      good.copy(factRevenue = 5001.0),
      good.copy(pairTrips = 979),
      good.copy(pairRevenue = 4990.0),
      good.copy(timeTrips = 900),
      good.copy(timeRevenue = 5100.0),
      good.copy(topRows = 49),
      good.copy(topTrips = 0),
      good.copy(quality = good.quality.updated("null_cust_nation", 8L)),
      good.copy(quality = good.quality.updated("null_supp_nation", 0L)),
      good.copy(quality = good.quality.updated("invalid_quantity", 1L)),
      good.copy(quality = good.quality - "total_rows"))
    corrupted.foreach(c => assert(Checks.etl(planted, 5000.0, c).nonEmpty, c))
    assert(Checks.etl(planted, 5200.0, good).nonEmpty, "SQL revenue off the generated revenue")
  }

  private val model = Map(1L -> (10L, "a"), 2L -> (20L, "b"), 3L -> (30L, "c"))

  test("table: the model's rows pass in any order") {
    assert(Checks.table("t", model, model.toSeq.reverse).isEmpty)
  }

  test("table: a missing, extra, changed or duplicated row is caught") {
    val rows = model.toSeq
    assert(Checks.table("t", model, rows.tail).nonEmpty)
    assert(Checks.table("t", model, rows :+ (4L -> (40L, "d"))).nonEmpty)
    assert(Checks.table("t", model, rows.map { case (k, (v, p)) => k -> (if (k == 2) v + 1 else v, p) }).nonEmpty)
    assert(Checks.table("t", model, rows :+ rows.head).nonEmpty)
  }

  private val roles: Map[Long, Gen.Role.Value] = Map(
    0L -> Gen.Role.Kept, 1L -> Gen.Role.Kept, 2L -> Gen.Role.LowQuality,
    3L -> Gen.Role.ExactDup, 4L -> Gen.Role.NearDup)

  test("curation: exactly the kept docs pass") {
    assert(Checks.curation(roles, Seq(0L, 1L)).isEmpty)
  }

  test("curation: a kept duplicate, a dropped original or a kept junk doc is caught") {
    assert(Checks.curation(roles, Seq(0L, 1L, 3L)).nonEmpty, "exact duplicate kept")
    assert(Checks.curation(roles, Seq(0L, 1L, 4L)).nonEmpty, "near duplicate not clustered")
    assert(Checks.curation(roles, Seq(0L)).nonEmpty, "unplanted doc dropped")
    assert(Checks.curation(roles, Seq(0L, 1L, 2L)).nonEmpty, "low-quality doc kept")
    assert(Checks.curation(roles, Seq(0L, 1L, 1L)).nonEmpty, "repeated id")
    assert(Checks.curation(roles, Seq(0L, 1L, 99L)).nonEmpty, "unknown id")
  }
}
