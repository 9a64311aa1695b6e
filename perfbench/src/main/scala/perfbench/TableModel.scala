package perfbench

import scala.collection.mutable

import perfbench.Gen.Order

/** Order-independent digest of a set of orders rows, computed the same
  * way in SQL (see [[TableModel.ChecksumSql]]) and in the model. */
final case class Checksum(rows: Long, keySum: Long, centSum: Long, statusSum: Long)

/** A table op of the `table_mutations` mix. */
sealed trait TableOp { def kind: String }
object TableOp {
  final case class Insert(rows: Seq[Order]) extends TableOp { val kind = "insert" }
  /** Upsert: matched keys take the source row, others are inserted. */
  final case class Merge(rows: Seq[Order]) extends TableOp { val kind = "merge" }
  final case class Delete(lo: Long, hi: Long) extends TableOp { val kind = "delete" }
  /** Adds `delta` to the price and sets the status on a key range. */
  final case class Update(lo: Long, hi: Long, delta: Double, status: String) extends TableOp {
    val kind = "update"
  }
  case object Optimize extends TableOp { val kind = "optimize" }
  final case class Point(key: Long) extends TableOp { val kind = "point" }
  final case class Range(lo: Long, hi: Long) extends TableOp { val kind = "range" }
  /** Read of an older version, checked against that version's digest. */
  final case class AsOf(version: Long) extends TableOp { val kind = "as_of" }
  case object Count extends TableOp { val kind = "count" }

  val writes: Set[String] = Set("insert", "merge", "delete", "update", "optimize")
}

/** In-memory key → row model of the `table_mutations` table. It replays
  * every write the engine is sent, so each read has an expected answer,
  * and it keeps the digest of every committed version for `AS OF`
  * reads. */
final class TableModel(initial: Seq[Order]) {
  import TableOp._

  private val rows = mutable.TreeMap.empty[Long, Order] ++ initial.map(o => o.key -> o)
  private val versions = mutable.LongMap.empty[Checksum]

  def size: Int = rows.size
  def maxKey: Long = if (rows.isEmpty) 0L else rows.lastKey
  def get(key: Long): Option[Order] = rows.get(key)
  def keysIn(lo: Long, hi: Long): Int = rows.range(lo, hi + 1).size

  /** Apply a write; returns the rows it touched. */
  def apply(op: TableOp): Long = op match {
    case Insert(rs) => rs.foreach(o => rows(o.key) = o); rs.size.toLong
    case Merge(rs) => rs.foreach(o => rows(o.key) = o); rs.size.toLong
    case Delete(lo, hi) =>
      val ks = rows.range(lo, hi + 1).keys.toSeq
      ks.foreach(rows.remove); ks.size.toLong
    case Update(lo, hi, d, s) =>
      val hit = rows.range(lo, hi + 1).values.toSeq
      hit.foreach(o => rows(o.key) = o.copy(price = o.price + d, status = s)); hit.size.toLong
    case Optimize => 0L
    case other => throw new IllegalArgumentException(s"$other is not a write")
  }

  def checksum(lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Checksum =
    TableModel.checksum(rows.range(lo, if (hi == Long.MaxValue) hi else hi + 1).values)

  /** Record the current state as table version `v`. */
  def commit(v: Long): Unit = versions(v) = checksum()
  def at(v: Long): Option[Checksum] = versions.get(v)
  def committed: Seq[Long] = versions.keys.toSeq.sorted
}

object TableModel {
  def checksum(rs: Iterable[Order]): Checksum = {
    var n, k, c, s = 0L
    rs.foreach { o => n += 1; k += o.key; c += (o.price * 100).toLong; s += o.status.charAt(0).toLong }
    Checksum(n, k, c, s)
  }

  /** The engine-side digest; prices are multiples of 0.25, so
    * `price * 100` is exact on both sides. */
  val ChecksumSql: String =
    "count(*), coalesce(sum(o_orderkey), 0), " +
      "coalesce(sum(cast(o_totalprice * 100 AS BIGINT)), 0), coalesce(sum(ascii(o_orderstatus)), 0)"
}
