package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the star schema is a function of the seed") {
    val a = Gen.star(7, 4000)
    val b = Gen.star(7, 4000)
    assert(a == b)
    assert(Gen.star(8, 4000).lineitem != a.lineitem)
  }

  test("planted star-schema counts match the rows") {
    val s = Gen.star(3, 6000)
    val custKeys = s.customer.map(_.getLong(0)).toSet
    val suppKeys = s.supplier.map(_.getLong(0)).toSet
    val orderCust = s.orders.map(o => o.getLong(0) -> o.getLong(1)).toMap
    def rejected(r: org.apache.spark.sql.Row): Boolean =
      r.isNullAt(4) || r.isNullAt(5) || r.isNullAt(6) || r.isNullAt(10) ||
        r.getDouble(4) <= 0 || r.getDouble(5) <= 0
    val valid = s.lineitem.filterNot(rejected)
    assert(s.planted.rejects == s.lineitem.size - valid.size)
    assert(s.planted.rejects > 0)
    assert(s.planted.orphanCustRows == valid.count(r => !custKeys.contains(orderCust(r.getLong(0)))))
    assert(s.planted.orphanSuppRows == valid.count(r => !suppKeys.contains(r.getLong(2))))
    assert(s.planted.orphanCustRows > 0 && s.planted.orphanSuppRows > 0)
  }

  test("the corpus is a function of the seed, with the stated role fractions") {
    val a = Gen.corpus(11, 1000, 50, 8)
    val b = Gen.corpus(11, 1000, 50, 8)
    assert(a.docs == b.docs)
    assert(a.roles == b.roles)
    assert(a.embeddings.map(_.getSeq[Float](1)) == b.embeddings.map(_.getSeq[Float](1)))
    assert(Gen.corpus(12, 1000, 50, 8).docs != a.docs)
    val byRole = a.roles.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(byRole(Gen.Role.Kept) == 700)
    assert(byRole(Gen.Role.LowQuality) == 100)
    assert(byRole(Gen.Role.ExactDup) == 100)
    assert(byRole(Gen.Role.NearDup) == 100)
  }

  test("every planted copy has a lower-id original with the same or nearly the same text") {
    val c = Gen.corpus(5, 500, 0, 4)
    val text = c.docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    val originals = c.roles.collect { case (id, Gen.Role.Kept) => id }
    c.roles.foreach {
      case (id, Gen.Role.ExactDup) =>
        assert(originals.exists(o => o < id && text(o) == text(id)))
      case (id, Gen.Role.NearDup) =>
        val t = text(id)
        assert(originals.exists { o =>
          val u = text(o)
          o < id && u.length == t.length && u != t && u.indices.count(i => u(i) != t(i)) <= t.length / 500 + 1
        })
      case _ =>
    }
  }

  test("event batches are a function of the seed and batch number") {
    assert(Gen.eventBatch(1, 3, 200, 50) == Gen.eventBatch(1, 3, 200, 50))
    assert(Gen.eventBatch(1, 3, 200, 50) != Gen.eventBatch(2, 3, 200, 50))
    val ids = Gen.eventBatch(1, 3, 200, 50).map(_.getLong(0))
    assert(ids == (600L until 800L))
  }
}
