package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Gen.Order
import perfbench.TableOp._

class TableModelSpec extends AnyFunSuite {

  private def o(k: Long, price: Double = 10.0, status: String = "O") =
    Order(k, cust = 1, status, price, "1-URGENT")

  private def fresh() = new TableModel((1L to 10L).map(k => o(k)))

  test("writes replay with SQL semantics and report the rows they touch") {
    val m = fresh()
    assert(m.apply(Insert(Seq(o(11), o(12)))) == 2)
    assert(m.size == 12 && m.maxKey == 12)
    // MERGE: key 3 is updated, key 20 inserted
    assert(m.apply(Merge(Seq(o(3, 99.5), o(20)))) == 2)
    assert(m.get(3).map(_.price).contains(99.5) && m.get(20).isDefined)
    // DELETE of an inclusive key range; absent keys are not counted
    assert(m.apply(Delete(11, 19)) == 2)
    assert(m.get(11).isEmpty && m.get(12).isEmpty && m.get(20).isDefined)
    // UPDATE adds to the price and sets the status on the range
    assert(m.apply(Update(1, 2, 0.25, "F")) == 2)
    assert(m.get(1).contains(o(1, 10.25, "F")) && m.get(3).exists(_.status == "O"))
    assert(m.apply(Optimize) == 0)
    assertThrows[IllegalArgumentException](m.apply(Count))
  }

  test("checksum is order-independent and matches the SQL digest's arithmetic") {
    val rows = Seq(o(1, 10.25, "F"), o(2, 0.75, "P"))
    val c = TableModel.checksum(rows)
    assert(c == Checksum(rows = 2, keySum = 3, centSum = 1025 + 75, statusSum = 'F'.toLong + 'P'))
    assert(TableModel.checksum(rows.reverse) == c)
  }

  test("range checksums are inclusive of both ends") {
    val m = fresh()
    assert(m.checksum(3, 5) == TableModel.checksum(Seq(o(3), o(4), o(5))))
    assert(m.checksum() == TableModel.checksum((1L to 10L).map(k => o(k))))
  }

  test("committed versions keep their digest for AS OF reads") {
    val m = fresh()
    m.commit(1)
    val v1 = m.checksum()
    m.apply(Delete(1, 5))
    m.commit(2)
    assert(m.at(1).contains(v1))
    assert(m.at(2).exists(_.rows == 5))
    assert(m.at(3).isEmpty)
    assert(m.committed == Seq(1L, 2L))
  }
}
