package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.Versioned
import perfbench.Gen.Order
import perfbench.TableOp._

/** `table_mutations`: one writer in a closed loop against a `graft`
  * catalog table seeded with orders-shaped rows. 60% of ops are
  * commits — INSERT, MERGE INTO, DELETE and UPDATE of 10–1,000 rows,
  * and `CALL graft.system.optimize` once per cycle of ten ops — and 40%
  * are reads: a point lookup, a key range, `VERSION AS OF` an older
  * version and `COUNT(*)`. A key→row model replays the same ops; every
  * read must match it.
  *
  * Why: the per-commit floor and manifest growth dominate, and reads
  * run beside writes, so a write-path saving that costs pruning or
  * space shows on the read latencies. */
final class TableMutations(seed: Long) extends Workload {
  import TableMutations._

  private val rnd = new Random(seed)
  private var spark: SparkSession = _
  private var table: String = _
  private var model: TableModel = _
  private val mismatches = mutable.ArrayBuffer.empty[String]
  // traced-window tallies
  private var readBytes, readLiveBytes, writeBytes, rowsWritten = 0L

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    table = dir.resolve("wh/orders").toString
    val init = (1L to InitialRows).map(k => Gen.order(rnd, k))
    model = new TableModel(init)
    view(init)
    Trace.span("sources", "sources.create")(
      spark.sql("CREATE TABLE graft.orders TBLPROPERTIES ('key' = 'o_orderkey') AS SELECT * FROM src"))
    model.commit(Versioned.latestVersion(spark, table))
  }

  private def view(rows: Seq[Order]): Unit = {
    val s = spark
    import s.implicits._
    rows.map(o => (o.key, o.cust, o.status, o.price, o.priority))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .createOrReplaceTempView("src")
  }

  private var sizes: Iterator[Int] = Iterator.empty

  private def key(): Long = 1 + (rnd.nextLong() & Long.MaxValue) % model.maxKey

  /** Op `seq` of the cycle; each cycle's MERGE, DELETE and UPDATE take
    * the row-count ladder in a seeded order. */
  private def nextOp(seq: Long): TableOp = {
    if (seq % Cycle.size == 0) sizes = rnd.shuffle(Sizes).iterator
    Cycle((seq % Cycle.size).toInt) match {
      case "insert" => Insert((1 to InsertRows).map(i => Gen.order(rnd, model.maxKey + i)))
      case "merge" =>
        // about half the source keys match existing rows
        val n = sizes.next()
        val old = Seq.fill(n / 2)(key()).distinct
        Merge((old ++ (1 to n - old.size).map(model.maxKey + _)).map(k => Gen.order(rnd, k)))
      case "delete" => val lo = key(); Delete(lo, lo + sizes.next() - 1)
      case "update" =>
        val lo = key()
        Update(lo, lo + sizes.next() - 1, 0.25 * (1 + rnd.nextInt(40)), Gen.statuses(rnd.nextInt(3)))
      case "optimize" => Optimize
      case "point" => Point(key())
      case "range" => val lo = key(); Range(lo, lo + RangeWidth - 1)
      case "as_of" => val vs = model.committed; AsOf(vs(rnd.nextInt(vs.size)))
      case _ => Count
    }
  }

  private def sql(q: String): Array[Row] = spark.sql(q).collect()

  private def digest(r: Row): Checksum = Checksum(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  private def run(op: TableOp): Long = op match {
    case Insert(rows) => view(rows); sql("INSERT INTO graft.orders SELECT * FROM src"); rows.size
    case Merge(rows) =>
      view(rows)
      sql("MERGE INTO graft.orders t USING src s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      rows.size
    case Delete(lo, hi) =>
      val n = model.keysIn(lo, hi)
      sql(s"DELETE FROM graft.orders WHERE o_orderkey BETWEEN $lo AND $hi"); n
    case Update(lo, hi, d, s) =>
      val n = model.keysIn(lo, hi)
      // two comparisons, not BETWEEN: the graft UPDATE rewrite fails
      // analysis on a BETWEEN condition (INTERNAL_ERROR, unresolved object)
      sql(s"UPDATE graft.orders SET o_totalprice = o_totalprice + ${d}D, o_orderstatus = '$s' " +
        s"WHERE o_orderkey >= $lo AND o_orderkey <= $hi"); n
    case Optimize => sql("CALL graft.system.optimize(table => 'orders')"); 0L
    case Point(k) =>
      val got = sql("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
        s"FROM graft.orders WHERE o_orderkey = $k")
        .map(r => Order(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))).toSeq
      expect(op, got, model.get(k).toSeq); got.size
    case Range(lo, hi) =>
      val got = digest(sql(s"SELECT ${TableModel.ChecksumSql} FROM graft.orders " +
        s"WHERE o_orderkey BETWEEN $lo AND $hi").head)
      expect(op, got, model.checksum(lo, hi)); got.rows
    case AsOf(v) =>
      val got = digest(sql(s"SELECT ${TableModel.ChecksumSql} FROM graft.orders VERSION AS OF $v").head)
      expect(op, got, model.at(v).orNull); got.rows
    case Count =>
      val got = sql("SELECT count(*) FROM graft.orders").head.getLong(0)
      expect(op, got, model.size.toLong); 1L
  }

  private def expect(op: TableOp, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(s"$op read $got, model holds $want")

  private def step(seq: Long): OpRec = {
    val op = nextOp(seq)
    val isWrite = TableOp.writes(op.kind)
    val before = if (Trace.enabled) Counters.active.map(_.tally()) else None
    val rec = try Workload.timed(op.kind)(Trace.span("sources", s"sources.${op.kind}")(run(op)))
      catch { case e: IllegalStateException =>
        mismatches += e.getMessage
        val now = System.nanoTime()
        OpRec(op.kind, now, now, 0, ok = false)
      }
    if (isWrite) {
      model.apply(op)
      model.commit(Versioned.latestVersion(spark, table))
    }
    for (b <- before; c <- Counters.active) {
      val d = c.tally() - b
      if (isWrite) { writeBytes += d.outputBytes; rowsWritten += rec.rows }
      else { readBytes += d.inputBytes; readLiveBytes += liveBytes() }
    }
    rec
  }

  private def snapshot = Versioned.snapshot(spark, table)
  private def liveBytes(): Long = snapshot.files.map(_.bytes).sum

  def measure(deadlineNs: Long): Seq[OpRec] =
    Workload.closedLoop(clients, deadlineNs, Cycle.size)((_, seq) => step(seq))

  def check(): Seq[String] = {
    val end = digest(sql(s"SELECT ${TableModel.ChecksumSql} FROM graft.orders").head)
    mismatches.toSeq ++ (if (end == model.checksum()) Nil
      else Seq(s"final table digest $end, model ${model.checksum()}"))
  }

  override def extras(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val ok = ops.filter(_.ok)
    def tail(prefix: String, xs: Seq[OpRec]) =
      Stats.tail(xs.map(_.ms), 90).map(v => (s"${prefix}_p90_ms", v, "ms")).toSeq
    def lat(prefix: String, xs: Seq[OpRec]) =
      (if (xs.isEmpty) Nil else Seq((s"${prefix}_p50_ms", Workload.p50(xs), "ms"))) ++ tail(prefix, xs)
    val (w, r) = ok.partition(o => TableOp.writes(o.kind))
    tail("op", ok) ++ lat("write", w) ++ lat("read", r) ++
      Seq(("optimize_runs", ops.count(_.kind == "optimize").toDouble, "count"))
  }

  def layers(ops: Seq[OpRec], spans: Seq[Span], setup: Seq[Span], t: Tally): Map[String, Double] = {
    val byKind = ops.groupBy(_.kind).map { case (k, xs) => k -> xs.map(_.ms).sum / xs.size }
    val snap = snapshot
    val live = snap.files.map(_.bytes).sum.toDouble
    val liveRows = math.max(snap.files.map(_.rows).sum, 1L)
    val onDisk = Files.walk(java.nio.file.Paths.get(table)).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum().toDouble
    Seq("insert", "merge", "delete", "update", "optimize").map(k =>
      s"sources.commit_ms.$k" -> byKind.getOrElse(k, 0.0)).toMap ++
      Seq("point", "range", "as_of", "count").map(k =>
        s"sources.read_ms.$k" -> byKind.getOrElse(k, 0.0)).toMap ++ Map(
      "sources.read_bytes_skipped_ratio" ->
        (if (readLiveBytes > 0) 1.0 - readBytes.toDouble / readLiveBytes else 0.0),
      "sources.live_files_end" -> snap.files.size.toDouble,
      "sources.space_amp" -> onDisk / math.max(live, 1.0),
      "sources.write_amp" -> writeBytes / math.max(rowsWritten * live / liveRows, 1.0))
  }
}

object TableMutations {
  val InitialRows = 60000
  /** The op mix, repeated: six commits (five DML, one OPTIMIZE) and four
    * reads per cycle. The reads are the fastest ops and two inserts the
    * next fastest, so the latency median falls among the inserts rather
    * than in a gap between two kinds of op. */
  val Cycle: Seq[String] = Seq("insert", "point", "merge", "range", "delete", "as_of", "update",
    "count", "insert", "optimize")
  /** Rows per MERGE, DELETE and UPDATE, one each per cycle. */
  val Sizes: Seq[Int] = Seq(10, 250, 1000)
  val InsertRows = 100
  val RangeWidth = 500
}
