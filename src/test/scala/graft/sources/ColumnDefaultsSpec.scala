package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Versioned.addColumn]] + column DEFAULTS — the Iceberg
  * initial-default semantics the q119 gate rides on:
  *   - the add is metadata-only (zero data files rewritten);
  *   - pre-add rows read the default, while a post-add row that
  *     explicitly stores NULL keeps its NULL (the distinction a bare
  *     coalesce would get wrong);
  *   - appends omitting the column get it materialized (write-default);
  *   - both read paths (Versioned.read and the Catalyst-integrated
  *     VersionedScan) agree row-for-row, and skipping still prunes
  *     through the era-grouped scan;
  *   - a full rewrite spends the defaults (fresh files, no stamps).
  */
class ColumnDefaultsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(tag: String): String =
    Files.createTempDirectory(s"coldef_$tag").toString + "/t"

  test("initial-default: pre-add rows read it; explicit post-add NULL survives") {
    import spark.implicits._
    val t = freshTable("init")
    Versioned.commit(spark, t,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), Some("k"), 2)
    val before = Versioned.snapshot(spark, t)
    Versioned.addColumn(spark, t, "tier", "string", Some("'bronze'"))
    val after = Versioned.snapshot(spark, t)
    assert(after.files.map(_.path).toSet == before.files.map(_.path).toSet,
      "add-column must rewrite no data file")
    assert(after.files.forall(_.noCols == Seq("tier")))
    // post-add append: one row supplies a value, one an EXPLICIT null
    Versioned.appendCommit(spark, t,
      Seq((11L, "v11", Some("gold")), (12L, "v12", None))
        .toDF("k", "v", "tier"), Some("k"), 1)
    val rows = Versioned.read(spark, t)
      .select("k", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L).contains("bronze"), "pre-add row must read the default")
    assert(rows(10L).contains("bronze"))
    assert(rows(11L).contains("gold"))
    assert(rows(12L).isEmpty,
      "an explicitly-stored NULL after the add must stay NULL")
  }

  test("write-default: an append omitting the column materializes it") {
    import spark.implicits._
    val t = freshTable("wd")
    Versioned.commit(spark, t,
      Seq((1L, "a")).toDF("k", "v"), Some("k"), 1)
    Versioned.addColumn(spark, t, "score", "bigint", Some("7"))
    Versioned.appendCommit(spark, t,
      Seq((2L, "b")).toDF("k", "v"), Some("k"), 1)
    val rows = Versioned.read(spark, t).select("k", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 7L, 2L -> 7L))
    // the appended file carries the column physically (no stamp)
    val appended = Versioned.snapshot(spark, t).files.filter(_.noCols.isEmpty)
    assert(appended.nonEmpty, "appended file must not be stamped noCols")
  }

  test("VersionedScan agrees with Versioned.read and still prunes files") {
    import spark.implicits._
    val t = freshTable("scan")
    Versioned.commit(spark, t,
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "x"), Some("k"), 4)
    Versioned.addColumn(spark, t, "flag", "int", Some("1"))
    val a = Versioned.read(spark, t).orderBy("k")
      .collect().map(_.toSeq).toSeq
    val b = VersionedScan.read(spark, t).orderBy("k")
      .collect().map(_.toSeq).toSeq
    assert(a == b, "both read paths must agree under defaults")
    // skipping: a key-range filter through the era-grouped scan — read
    // the executed scan's numFiles metric (inputFiles reports the
    // pre-pruning listing)
    val pruned = VersionedScan.read(spark, t).filter(col("k") <= 10)
    // collect() executes THIS QueryExecution (count() would spawn its
    // own and leave these metrics at zero)
    assert(pruned.collect().length == 10)
    def scannedFiles(p: org.apache.spark.sql.execution.SparkPlan): Long = {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      p.collect {
        case s: FileSourceScanExec
            if s.relation.location.isInstanceOf[VersionedFileIndex] =>
          s.metrics("numFiles").value
        case a: AdaptiveSparkPlanExec => scannedFiles(a.executedPlan)
        case q: QueryStageExec => scannedFiles(q.plan)
      }.sum
    }
    val n = scannedFiles(pruned.queryExecution.executedPlan)
    assert(n > 0 && n < 4,
      s"the range predicate must still skip files per era group (scanned $n)")
  }

  test("a full rewrite spends the defaults and clears the stamps") {
    import spark.implicits._
    val t = freshTable("spend")
    Versioned.commit(spark, t, Seq((1L, "a")).toDF("k", "v"), Some("k"), 1)
    Versioned.addColumn(spark, t, "n", "bigint", Some("42"))
    Versioned.commit(spark, t, Versioned.read(spark, t), Some("k"), 1)
    val snap = Versioned.snapshot(spark, t)
    assert(snap.defaults.isEmpty, "full rewrite must clear spent defaults")
    assert(snap.files.forall(_.noCols.isEmpty))
    assert(Versioned.read(spark, t).select("n").head().getLong(0) == 42L,
      "the default is materialized in the rewritten files")
  }

  test("SET/DROP DEFAULT move the write default only; the ADD-time default is frozen") {
    import spark.implicits._
    val t = freshTable("frozen")
    Versioned.commit(spark, t, Seq((1L, "a")).toDF("k", "v"), Some("k"), 1)
    Versioned.addColumn(spark, t, "tier", "string", Some("'bronze'"))
    Versioned.setColumnDefault(spark, t, "tier", Some("'silver'"))
    def tiers: Map[Long, Option[String]] = Versioned.read(spark, t)
      .select("k", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tiers(1L).contains("bronze"),
      "SET DEFAULT must not retroactively change what pre-add rows read")
    Versioned.appendCommit(spark, t, Seq((2L, "b")).toDF("k", "v"), Some("k"), 1)
    assert(tiers(2L).contains("silver"),
      "an append omitting the column takes the NEW write default")
    Versioned.setColumnDefault(spark, t, "tier", None)
    assert(tiers(1L).contains("bronze"),
      "DROP DEFAULT must not flip pre-add rows to NULL")
    val scan = VersionedScan.read(spark, t).select("k", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(scan(1L).contains("bronze") && scan(2L).contains("silver"),
      "the Catalyst-integrated scan agrees on the frozen initial default")
  }

  test("SET DEFAULT after a no-default add: pre-add rows stay NULL") {
    import spark.implicits._
    val t = freshTable("later")
    Versioned.commit(spark, t, Seq((1L, "a")).toDF("k", "v"), Some("k"), 1)
    Versioned.addColumn(spark, t, "extra", "string")
    Versioned.setColumnDefault(spark, t, "extra", Some("'x'"))
    val r = Versioned.read(spark, t).select("k", "extra").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(r(1L).isEmpty,
      "the column did not exist when row 1 was written — its initial default is NULL")
    Versioned.appendCommit(spark, t, Seq((2L, "b")).toDF("k", "v"), Some("k"), 1)
    val r2 = Versioned.read(spark, t).select("k", "extra").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(r2(1L).isEmpty && r2(2L).contains("x"),
      "write default applies forward only")
  }

  test("DROP COLUMN purges its default entries; re-add over dropped data refuses") {
    import spark.implicits._
    val t = freshTable("dropdef")
    Versioned.commit(spark, t, Seq((1L, "a")).toDF("k", "v"), Some("k"), 1)
    Versioned.addColumn(spark, t, "tier", "string", Some("'bronze'"))
    Versioned.dropColumn(spark, t, "tier")
    val snap = Versioned.snapshot(spark, t)
    assert(snap.defaults.isEmpty && snap.initialDefaults.isEmpty,
      "a dropped column's default entries must go with it — a stale " +
        "initial default would resurrect on any future use of the name")
    // the dropped column's physical data still lives in old files:
    // re-adding the name would read the dead values as the new column
    val e = intercept[IllegalArgumentException] {
      Versioned.addColumn(spark, t, "tier", "string")
    }
    assert(e.getMessage.contains("rewrite the table"),
      s"re-add over dropped physical data must refuse loudly: $e")
    // after a full rewrite (narrower schema materialized) the name is
    // free again and behaves like a brand-new column
    Versioned.commit(spark, t, Versioned.read(spark, t), Some("k"), 1)
    Versioned.addColumn(spark, t, "tier", "string", Some("'silver'"))
    assert(Versioned.read(spark, t).select("tier").head().getString(0)
      == "silver", "post-rewrite re-add takes its own fresh default")
  }

  test("copy-on-write rewrites keep the ADD-time default of the rows they move") {
    import spark.implicits._
    // (op, commit key, run → keys the op removed or restated). The
    // round-robin commits spread every key range over all 4 files, so
    // each op rewrites pre-add files
    val ops: Seq[(String, Option[String], String => Set[Long])] = Seq(
      ("compactSmallFiles", None, t => {
        Versioned.compactSmallFiles(spark, t, 1L << 30); Set.empty[Long] }),
      ("reclusterIncremental", None, t => {
        Versioned.reclusterIncremental(spark, t, "k"); Set.empty[Long] }),
      ("deleteWhereKeyIn", None, t => {
        Versioned.deleteWhereKeyIn(spark, t, Seq(7L).toDF("k"), "k"); Set(7L) }),
      ("replaceWhereRange", Some("k"), t => {
        Versioned.replaceWhereRange(spark, t, 5L, 6L,
          Seq((5L, "r5", "gold")).toDF("k", "v", "tier"))
        Set(5L, 6L) }),
      ("deleteWhere", None, t => {
        Versioned.deleteWhere(spark, t, "k = 7"); Set(7L) }))
    val lost = ops.map { case (name, key, run) =>
      val t = freshTable(name)
      Versioned.commit(spark, t,
        (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"), key, 4)
      Versioned.addColumn(spark, t, "tier", "string", Some("'bronze'"))
      val v = Versioned.latestVersion(spark, t)
      val moved = run(t)
      assert(Versioned.latestVersion(spark, t) == v + 1, s"$name: one commit")
      assert(Versioned.snapshot(spark, t).files.exists(_.noCols.isEmpty),
        s"$name rewrote no pre-add file")
      val tiers = Versioned.read(spark, t).select("k", "tier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      name -> ((1L to 40L).toSet -- moved)
        .filterNot(k => tiers.get(k).flatten.contains("bronze")).size
    }.filter(_._2 > 0)
    assert(lost.isEmpty, s"pre-add rows that lost the default, per op: $lost")
  }

  test("no default: pre-add rows read NULL (plain add-column)") {
    import spark.implicits._
    val t = freshTable("plain")
    Versioned.commit(spark, t, Seq((1L, "a")).toDF("k", "v"), Some("k"), 1)
    Versioned.addColumn(spark, t, "extra", "string")
    val r = Versioned.read(spark, t).select("extra").head()
    assert(r.isNullAt(0))
  }
}
