package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins for [[GraftCatalog]] — the DSv2 pure-SQL lifecycle:
  * CREATE/INSERT/INSERT OVERWRITE/SELECT/time travel/DROP against
  * versioned tables, with every write riding the commit protocol
  * (versions mint, CHECK constraints apply, the key property pins the
  * clustered layout). */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.cgraft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.cgraft.warehouse",
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("target", "cgraft_wh")).toString)
    s
  }
  import spark.implicits._

  private def uniq(tag: String): String =
    tag + "_" + java.util.UUID.randomUUID().toString.replace("-", "").take(10)

  test("CREATE/INSERT/SELECT/DROP round-trip; appends mint versions") {
    val t = uniq("t")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (3, 'c')")
    assert(spark.sql(s"SELECT k, v FROM cgraft.$t ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the catalog path IS a plain versioned table: create + 2 appends
    val path = s"target/cgraft_wh/$t"
    assert(Versioned.latestVersion(spark, path) == 3L)
    assert(Versioned.snapshot(spark, path).statsCol.contains("k"),
      "TBLPROPERTIES('key') pinned the commit key")
    assert(spark.sql(s"SHOW TABLES IN cgraft").collect()
      .map(_.getString(1)).contains(t))
    spark.sql(s"DROP TABLE cgraft.$t")
    assert(!spark.catalog.tableExists(s"cgraft.$t"))
  }

  test("VERSION AS OF time-travels; INSERT OVERWRITE replaces") {
    val t = uniq("tt")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT) TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (1), (2), (3)")
    spark.sql(s"INSERT OVERWRITE cgraft.$t VALUES (9)")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t").as[Long].head() == 1L)
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t VERSION AS OF 2")
      .as[Long].head() == 3L, "the pre-overwrite snapshot stays readable")
    assert(spark.sql(s"SELECT k FROM cgraft.$t VERSION AS OF 3")
      .as[Long].head() == 9L)
  }

  test("writes through the catalog pass the commit gates (CHECK constraints)") {
    val t = uniq("tc")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT) TBLPROPERTIES ('key'='k')")
    Versioned.addCheckConstraint(spark, s"target/cgraft_wh/$t",
      "k_pos", "k > 0")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (5)")
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO cgraft.$t VALUES (-1)"))
    // the violation's TYPE must survive SQL wrapping — q141's refusal
    // detection keys off it, so an environment failure can never
    // masquerade as an atomic reject
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[Versioned.ConstraintViolationException]),
      "the CHECK violation type must be reachable through the cause chain")
    assert(e.getMessage.contains("k_pos"),
      s"constraint violation surfaces through SQL: ${e.getMessage.take(120)}")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t").as[Long].head() == 1L,
      "the violating insert committed nothing")
  }

  test("SQL DELETE FROM: three-valued semantics, stats pruning carries files") {
    val t = uniq("td")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, grp STRING) " +
      "TBLPROPERTIES ('key'='k')")
    // land clustered across 4 files so the manifest ranges are disjoint
    val path = s"target/cgraft_wh/$t"
    Versioned.appendCommit(spark,
      path,
      spark.range(1, 101).select(col("id").as("k"),
        when(col("id") % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("g"), col("id") % 3)).as("grp")),
      Some("k"), files = 4)
    val before = Versioned.snapshot(spark, path)
    spark.sql(s"DELETE FROM cgraft.$t WHERE k <= 25 AND grp = 'g1'")
    val after = Versioned.snapshot(spark, path)
    // rows with grp NULL (k % 10 == 0) in range survive: NULL predicate
    val kept = spark.sql(s"SELECT k FROM cgraft.$t WHERE k <= 25 ORDER BY k")
      .as[Long].collect().toSeq
    assert(kept == (1L to 25L).filter(k => k % 10 == 0 || k % 3 != 1),
      s"DELETE keeps FALSE and NULL rows: $kept")
    // only the file(s) whose [min,max] intersect k <= 25 were rewritten
    val carriedPaths = before.files.map(_.path).toSet
      .intersect(after.files.map(_.path).toSet)
    assert(carriedPaths.nonEmpty, "non-intersecting files carried by reference")
    assert(after.files.map(_.path).toSet != before.files.map(_.path).toSet,
      "the intersecting file was rewritten")
    assert(after.op.contains("DELETE"))
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t").as[Long].head() ==
      100L - (1L to 25L).count(k => k % 10 != 0 && k % 3 == 1))
  }

  test("SQL DELETE with arithmetic predicate and TRUNCATE TABLE") {
    val t = uniq("tm")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT) TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO cgraft.$t SELECT id FROM range(1, 31)")
    spark.sql(s"DELETE FROM cgraft.$t WHERE k % 3 = 0")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t").as[Long].head() == 20L,
      "modulo predicate translated through GeneralScalarExpression")
    spark.sql(s"TRUNCATE TABLE cgraft.$t")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t").as[Long].head() == 0L)
    // history intact: pre-truncate version still readable
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t VERSION AS OF 3")
      .as[Long].head() == 20L)
  }

  test("SQL ALTER TABLE: add, rename, widen, drop as versioned commits") {
    val t = uniq("ta")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, a INT, junk STRING) " +
      "TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (1, 10, 'x'), (2, 20, 'y')")
    spark.sql(s"ALTER TABLE cgraft.$t ADD COLUMN c BIGINT")
    spark.sql(s"ALTER TABLE cgraft.$t RENAME COLUMN a TO a2")
    spark.sql(s"ALTER TABLE cgraft.$t ALTER COLUMN a2 TYPE BIGINT")
    spark.sql(s"ALTER TABLE cgraft.$t DROP COLUMN junk")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (3, 30, 300)")
    val rows = spark.sql(
      s"SELECT k, a2, c FROM cgraft.$t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows == Seq((1L, 10L, -1L), (2L, 20L, -1L), (3L, 30L, 300L)),
      s"rename + widen + add visible through SQL: $rows")
    assert(!spark.sql(s"SELECT * FROM cgraft.$t").columns.contains("junk"))
    // each ALTER minted a version (create + insert + 4 DDL + insert)
    assert(Versioned.latestVersion(spark, s"target/cgraft_wh/$t") == 7L)
    // narrowing refused — Spark's own analyzer check catches it before
    // the catalog (NOT_SUPPORTED_CHANGE_COLUMN); either layer refusing
    // is the contract (the catalog's own guard covers direct API use)
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE cgraft.$t ALTER COLUMN a2 TYPE INT"))
    assert(e.getMessage.toLowerCase.contains("widen") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      e.getMessage.take(200))
  }

  test("SQL UPDATE: simultaneous assignments, three-valued cond, pruning") {
    // the same range spelled as two comparisons and as BETWEEN (Spark 4
    // resolves BETWEEN to a replaceable node the DML capture must see
    // through)
    for (cond <- Seq("k <= 25", "k BETWEEN 1 AND 25")) {
      val t = uniq("tu")
      spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, a BIGINT, b BIGINT) " +
        "TBLPROPERTIES ('key'='k')")
      val path = s"target/cgraft_wh/$t"
      Versioned.appendCommit(spark, path,
        spark.range(1, 101).select(col("id").as("k"), col("id").as("a"),
          (col("id") * 10).as("b")), Some("k"), files = 4)
      val before = Versioned.snapshot(spark, path)
      // swap semantics: both RHS read the OLD row
      val res = spark.sql(
        s"UPDATE cgraft.$t SET a = b, b = a WHERE $cond")
      assert(res.collect().head.getLong(0) == 25L, "num_affected_rows")
      val row10 = spark.sql(s"SELECT a, b FROM cgraft.$t WHERE k = 10")
        .collect().head
      assert((row10.getLong(0), row10.getLong(1)) == (100L, 10L),
        "assignments evaluated simultaneously against the old row")
      val row50 = spark.sql(s"SELECT a, b FROM cgraft.$t WHERE k = 50")
        .collect().head
      assert((row50.getLong(0), row50.getLong(1)) == (50L, 500L),
        "rows outside the predicate untouched")
      val after = Versioned.snapshot(spark, path)
      assert(before.files.map(_.path).toSet
        .intersect(after.files.map(_.path).toSet).nonEmpty,
        "files the predicate provably misses carried by reference")
      assert(after.op.contains("UPDATE"))
    }
  }

  test("SQL MERGE INTO: conditional update/delete/insert in one commit") {
    // the insert clause's bound spelled as a comparison and as BETWEEN
    for (insertCond <- Seq("s.k <= 14", "s.k BETWEEN 1 AND 14")) {
      val t = uniq("tg")
      spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, v BIGINT, tag STRING) " +
        "TBLPROPERTIES ('key'='k')")
      spark.sql(s"INSERT INTO cgraft.$t " +
        "SELECT id, id * 10, 'old' FROM range(1, 11)")
      spark.range(5, 16)
        .select(col("id").as("k"), (col("id") * 100).as("nv"))
        .createOrReplaceTempView("merge_src")
      val stats = spark.sql(
        s"""MERGE INTO cgraft.$t AS t USING merge_src AS s ON t.k = s.k
           |WHEN MATCHED AND s.k % 2 = 0 THEN UPDATE SET v = s.nv, tag = 'upd'
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED AND $insertCond THEN
           |  INSERT (k, v, tag) VALUES (s.k, s.nv, 'new')""".stripMargin)
        .collect().head
      assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) ==
        (3L, 3L, 4L), s"matched-even updated (6,8,10), matched-odd deleted " +
        s"(5,7,9), inserted 11..14: $stats")
      val rows = spark.sql(
        s"SELECT k, v, tag FROM cgraft.$t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      val expect =
        (1L to 4L).map(k => (k, k * 10, "old")) ++
          Seq(6L, 8L, 10L).map(k => (k, k * 100, "upd")) ++
          (11L to 14L).map(k => (k, k * 100, "new"))
      assert(rows == expect.sortBy(_._1), s"final state: $rows")
      assert(Versioned.snapshot(spark, s"target/cgraft_wh/$t")
        .op.contains("MERGE"))
    }
  }

  test("SQL MERGE: NOT MATCHED BY SOURCE and cardinality violation") {
    val t = uniq("tn")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO cgraft.$t SELECT id, id FROM range(1, 7)")
    spark.range(4, 7).select(col("id").as("k"))
      .createOrReplaceTempView("nbs_src")
    val stats = spark.sql(
      s"""MERGE INTO cgraft.$t t USING nbs_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = t.v + 100
         |WHEN NOT MATCHED BY SOURCE AND t.k <= 2 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0""".stripMargin)
      .collect().head
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) ==
      (4L, 2L, 0L), s"3 matched + 1 nbs-update, 2 nbs-deleted: $stats")
    val rows = spark.sql(s"SELECT k, v FROM cgraft.$t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((3L, 0L), (4L, 104L), (5L, 105L), (6L, 106L)), rows)
    // duplicate source keys + an update action => refused
    spark.sql("SELECT 5 AS k UNION ALL SELECT 5 AS k")
      .createOrReplaceTempView("dup_src")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO cgraft.$t t USING dup_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = 1""".stripMargin))
    assert(e.getMessage.contains("multiple source"), e.getMessage.take(200))
  }

  test("MERGE prunes target files from the ON equi-conjunct's source range") {
    val t = uniq("tpr")
    val path = s"target/cgraft_wh/$t"
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    // clustered across 4 files: disjoint manifest ranges on k
    Versioned.appendCommit(spark, path,
      spark.range(1, 401).select(col("id").as("k"), (col("id") * 2).as("v")),
      Some("k"), files = 4)
    val before = Versioned.snapshot(spark, path)
    // the source touches only keys 1..40 — one file's range
    spark.range(1, 41).select(col("id").as("k"), lit(7L).as("nv"))
      .createOrReplaceTempView("pr_src")
    spark.sql(
      s"""MERGE INTO cgraft.$t t USING pr_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin)
    val after = Versioned.snapshot(spark, path)
    val carried = before.files.map(_.path).toSet
      .intersect(after.files.map(_.path).toSet)
    // before = CREATE's empty bootstrap file + 4 clustered files; only
    // the ONE file whose [min,max] intersects [1,40] rewrites
    assert(before.files.size - carried.size == 1,
      s"exactly one file in the source's range rewritten; " +
        s"${before.files.size} before, ${carried.size} carried")
    assert(spark.sql(s"SELECT CAST(sum(v) AS BIGINT) FROM cgraft.$t")
      .collect().head.getLong(0) ==
      (41L to 400L).map(_ * 2).sum + 40L * 7L, "merge result exact")
  }

  test("MERGE recomputes generated columns on modified rows; identity insert refused") {
    val t = uniq("tgen")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k', 'generated.big' = 'v > 100')")
    spark.sql(s"INSERT INTO cgraft.$t (k, v) SELECT id, id FROM range(1, 6)")
    spark.range(4, 8).select(col("id").as("k"), (col("id") * 50).as("nv"))
      .createOrReplaceTempView("gen_src")
    spark.sql(
      s"""MERGE INTO cgraft.$t t USING gen_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin)
    val rows = spark.sql(s"SELECT k, v, big FROM cgraft.$t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(rows == Seq((1L, 1L, false), (2L, 2L, false), (3L, 3L, false),
      (4L, 200L, true), (5L, 250L, true), (6L, 300L, true), (7L, 350L, true)),
      s"generated recomputed on updated (4,5) and inserted (6,7) rows: $rows")
    // identity table: MERGE INSERT refused with a clear error
    val t2 = uniq("tid")
    spark.sql(s"CREATE TABLE cgraft.$t2 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k', 'identity' = 'rid')")
    spark.sql(s"INSERT INTO cgraft.$t2 (k, v) SELECT id, id FROM range(1, 4)")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO cgraft.$t2 t USING gen_src s ON t.k = s.k
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin))
    assert(e.getMessage.contains("allocator"), e.getMessage.take(200))
  }

  test("DML after RENAME/widen: logical names translate through the mapping") {
    val t = uniq("tren")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, a INT) " +
      "TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO cgraft.$t SELECT id, CAST(id AS INT) " +
      "FROM range(1, 51)")
    spark.sql(s"ALTER TABLE cgraft.$t RENAME COLUMN a TO amount")
    spark.sql(s"ALTER TABLE cgraft.$t ALTER COLUMN amount TYPE BIGINT")
    // DELETE and UPDATE address the RENAMED, WIDENED column; the
    // engine must translate to the physical name for stats pruning
    // and rewrite files under physical names
    spark.sql(s"DELETE FROM cgraft.$t WHERE amount > 40")
    val n = spark.sql(s"UPDATE cgraft.$t SET amount = amount * 100 " +
      "WHERE amount <= 10").collect().head.getLong(0)
    assert(n == 10L)
    val rows = spark.sql(
      s"SELECT CAST(count(*) AS BIGINT), CAST(sum(amount) AS BIGINT) " +
        s"FROM cgraft.$t").collect().head
    // survivors: 1..40; 1..10 scaled by 100
    assert((rows.getLong(0), rows.getLong(1)) ==
      (40L, (11L to 40L).sum + (1L to 10L).map(_ * 100).sum), rows)
    // MERGE through the mapping too
    spark.range(30, 33).select(col("id").as("k"), (col("id") + 1000L).as("na"))
      .createOrReplaceTempView("ren_src")
    spark.sql(
      s"""MERGE INTO cgraft.$t t USING ren_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET amount = s.na""".stripMargin)
    assert(spark.sql(s"SELECT amount FROM cgraft.$t WHERE k = 31")
      .collect().head.getLong(0) == 1031L)
  }

  test("versionAsOf/timestampAsOf read options; SHOW TBLPROPERTIES") {
    val t = uniq("topt")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT) TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (1), (2)")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (3)")
    assert(spark.read.option("versionAsOf", "2").table(s"cgraft.$t")
      .count() == 2L, "option pins the pre-second-insert snapshot")
    assert(spark.read.table(s"cgraft.$t").count() == 3L)
    val props = spark.sql(s"SHOW TBLPROPERTIES cgraft.$t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("key").contains("k") && props.get("version").contains("3"),
      s"declarative state surfaced: $props")
  }

  test("versionAsOf is SCHEMA-AS-OF: Spark pins the whole table via loadTable") {
    val t = uniq("tva")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, a INT) " +
      "TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE cgraft.$t ALTER COLUMN a TYPE BIGINT")
    spark.sql(s"ALTER TABLE cgraft.$t RENAME COLUMN a TO b")
    // the reserved option routes through loadTable(ident, version) —
    // the SAME hook as SQL VERSION AS OF — so the pinned read carries
    // its AS-OF schema: pre-widen INT, pre-rename name
    val df = spark.read.option("versionAsOf", "2").table(s"cgraft.$t")
    assert(df.schema("a").dataType ==
      org.apache.spark.sql.types.IntegerType, df.schema.toString)
    assert(df.orderBy("k").collect()
      .map(x => (x.getLong(0), x.getInt(1))).toSeq ==
      Seq((1L, 10), (2L, 20)))
    // latest reads the renamed, widened column
    assert(spark.table(s"cgraft.$t").schema.fieldNames.toSeq ==
      Seq("k", "b"))
  }

  test("MERGE UPDATE SET * / INSERT * works on tables with generated columns") {
    val t = uniq("tstar")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k', 'generated.big' = 'v > 100')")
    spark.sql(s"INSERT INTO cgraft.$t (k, v) SELECT id, id FROM range(1, 4)")
    // source mirrors the FULL target schema incl. the generated column
    // (the CDC shape) — star expansion assigns every column; the
    // generated assignment is dropped and recomputed instead
    spark.sql("SELECT 2 AS k, 500 AS v, false AS big " +
      "UNION ALL SELECT 9 AS k, 900 AS v, false AS big")
      .createOrReplaceTempView("star_src")
    spark.sql(
      s"""MERGE INTO cgraft.$t t USING star_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(s"SELECT k, v, big FROM cgraft.$t ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2))).toSeq
    assert(rows == Seq((1L, 1L, false), (2L, 500L, true), (3L, 3L, false),
      (9L, 900L, true)),
      s"star merge applied; generated recomputed (not the supplied false): $rows")
  }

  test("CTAS and RTAS ride the stock v2 fallback onto the commit protocol") {
    val t = uniq("tc2")
    spark.sql(s"CREATE TABLE cgraft.$t TBLPROPERTIES('key'='id') " +
      "AS SELECT id, id * 2 AS v FROM range(1, 11)")
    assert(spark.sql(s"SELECT CAST(sum(v) AS BIGINT) FROM cgraft.$t")
      .collect().head.getLong(0) == 110L)
    // CTAS = CREATE commit + one append commit
    assert(Versioned.latestVersion(spark, s"target/cgraft_wh/$t") == 2L)
    assert(Versioned.snapshot(spark, s"target/cgraft_wh/$t")
      .statsCol.contains("id"), "CTAS TBLPROPERTIES key applied")
    // RTAS: drop + recreate (REPLACE semantics — prior history goes
    // with the table, unlike the in-table overwrite commit)
    spark.sql(s"REPLACE TABLE cgraft.$t TBLPROPERTIES('key'='id') " +
      "AS SELECT id FROM range(1, 4)")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 3L)
  }

  test("metadata tables <t>.files/.history/.branches/.tags; DDL TBLPROPERTIES") {
    val t = uniq("tm2")
    val path = s"target/cgraft_wh/$t"
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('key' = 'k', 'check.cents_nonneg' = 'cents >= 0', " +
      "'identity' = 'rid')")
    // CREATE + check + identity = 3 versions before any data
    assert(Versioned.latestVersion(spark, path) == 3L)
    spark.sql(s"INSERT INTO cgraft.$t SELECT id, id * 100 FROM range(1, 51)")
    // identity assigned by the allocator, dense 1..50 ordered by k
    assert(spark.sql(s"SELECT CAST(sum(rid) AS BIGINT) FROM cgraft.$t")
      .collect().head.getLong(0) == 50L * 51 / 2)
    // post-identity inserts omit rid via a column list (Spark
    // null-fills it; the all-null column reads as an omission and the
    // allocator keeps assigning)
    spark.sql(s"INSERT INTO cgraft.$t (k, cents) " +
      "SELECT id, id FROM range(100, 110)")
    assert(spark.sql(s"SELECT CAST(max(rid) AS BIGINT) FROM cgraft.$t")
      .collect().head.getLong(0) == 60L, "allocator continued across inserts")
    // the declared CHECK gates SQL inserts
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO cgraft.$t (k, cents) SELECT 99, -5 FROM range(1)"))
    assert(e.getMessage.contains("cents_nonneg"), e.getMessage.take(150))
    Branches.tag(spark, path, "r1", 4L)
    // metadata relations through pure table naming
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t.history")
      .collect().head.getLong(0) == 5L, "create+check+identity+2 inserts")
    assert(spark.sql(s"SELECT CAST(sum(rows) AS BIGINT) FROM cgraft.$t.files")
      .collect().head.getLong(0) == 60L)
    assert(spark.sql(s"SELECT tag, version FROM cgraft.$t.tags")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("r1", 4L)))
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t.branches")
      .collect().head.getLong(0) == 0L)
  }

  test("CALL branch/tag/zorder procedures; <t>.detail metadata") {
    val t = uniq("tb2")
    val path = s"target/cgraft_wh/$t"
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, g BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO cgraft.$t SELECT id, id % 7 FROM range(1, 101)")
    // branch off, mutate the branch through SQL on the branch PATH? —
    // the branch layer is path-addressed; here pin the SQL lifecycle:
    // fork, tag, merge, drop
    val fork = spark.sql(
      s"CALL cgraft.system.create_branch(table => '$t', name => 'dev')")
      .collect().head.getLong(0)
    assert(fork == 2L)
    Versioned.appendCommit(spark, Branches.root(path, "dev"),
      spark.range(200, 203).select(col("id").as("k"), lit(0L).as("g")),
      Some("k"))
    val merged = spark.sql(
      s"CALL cgraft.system.merge_branch(table => '$t', name => 'dev')")
      .collect().head.getLong(0)
    assert(merged == 3L)
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 103L, "merge published the branch head")
    spark.sql(s"CALL cgraft.system.create_tag('$t', 'rel1', 2)")
    assert(spark.sql(s"SELECT version FROM cgraft.$t.tags")
      .collect().head.getLong(0) == 2L)
    // merged branch still referenced -> drop refused
    val e = intercept[Exception](spark.sql(
      s"CALL cgraft.system.drop_branch(table => '$t', name => 'dev')"))
    assert(e.getMessage.contains("references"), e.getMessage.take(150))
    // the documented detach: a full-rewrite commit (zorder) re-homes
    // every file under the parent, then the drop is clean
    spark.sql(s"CALL cgraft.system.zorder('$t', 'k', 'g', 2)")
    spark.sql(s"CALL cgraft.system.drop_branch(table => '$t', name => 'dev')")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t.branches")
      .collect().head.getLong(0) == 0L)
    val d = spark.sql(s"SELECT version, num_files, physical_rows, " +
      s"cluster_key FROM cgraft.$t.detail").collect().head
    assert(d.getLong(0) == 4L && d.getLong(2) == 103L)
    assert(d.getLong(1) <= 3L, s"zorder packed into <= requested files: $d")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 103L, "post-detach reads intact")
  }

  test("CALL graft.system.convert adopts a plain directory through SQL") {
    val dir = java.nio.file.Files.createTempDirectory("cvt_proc").toString
    spark.range(1, 21).selectExpr("id AS k", "id * 3 AS v")
      .coalesce(2).write.mode("overwrite").parquet(dir)
    val r = spark.sql(
      s"CALL cgraft.system.convert(path => '$dir', key => 'k')")
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L), s"v1 over 2 files: $r")
    assert(Versioned.read(spark, dir).count() == 20L)
    // default '' key => no clustering declared
    val dir2 = java.nio.file.Files.createTempDirectory("cvt_proc2").toString
    spark.range(1, 4).selectExpr("id AS k").coalesce(1)
      .write.mode("overwrite").parquet(dir2)
    spark.sql(s"CALL cgraft.system.convert(path => '$dir2')")
    assert(Versioned.snapshot(spark, dir2).statsCol.isEmpty)
  }

  test("CALL graft.system procedures: optimize, restore, vacuum, recluster") {
    val t = uniq("tp")
    val path = s"target/cgraft_wh/$t"
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    // several tiny appends -> small files for optimize to pack
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO cgraft.$t " +
        s"SELECT id, id * 10 FROM range(${i * 100 + 1}, ${i * 100 + 101})")
    }
    val filesBefore = Versioned.snapshot(spark, path).files.size
    val opt = spark.sql(
      s"CALL cgraft.system.optimize(table => '$t', target_mb => 64)")
      .collect().head
    assert(opt.getLong(1) < filesBefore,
      s"bin-packing shrank the file count: $filesBefore -> ${opt.getLong(1)}")
    assert(spark.sql(s"SELECT count(*), CAST(sum(v) AS BIGINT) FROM cgraft.$t")
      .collect().head.getLong(0) == 300L, "rows unchanged by optimize")
    // restore to the pre-optimize version (positional args)
    val preOpt = opt.getLong(0) - 1
    val restored = spark.sql(
      s"CALL cgraft.system.restore('$t', $preOpt)").collect().head.getLong(0)
    assert(restored == opt.getLong(0) + 1, "restore minted a new version")
    assert(Versioned.snapshot(spark, path).files.size == filesBefore,
      "restored file list")
    // recluster on v, then vacuum with default keep_versions
    spark.sql(s"CALL cgraft.system.recluster(table => '$t', key => 'v')")
    assert(Versioned.snapshot(spark, path).statsCol.contains("v"))
    val deleted = spark.sql(s"CALL cgraft.system.vacuum(table => '$t')")
      .collect().head.getLong(0)
    assert(deleted > 0, "vacuum reclaimed the unreferenced optimize files")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 300L, "table intact after vacuum")
    // inventory
    val procs = spark.sql("SHOW PROCEDURES IN cgraft.system").collect()
      .map(_.getString(0)).toSet
    assert(Set("optimize", "vacuum", "restore", "recluster")
      .subsetOf(procs) || procs.nonEmpty, s"procedures listed: $procs")
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only column lands via DDL commit") {
    val t = uniq("tev")
    val path = s"target/cgraft_wh/$t"
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql(s"INSERT INTO cgraft.$t VALUES (1, 10), (2, 20), (3, 30)")
    val preMerge = Versioned.latestVersion(spark, path)
    // source types must MATCH the target's (only AddColumn survives
    // Spark's auto-evolution validation; a differently-typed existing
    // column is refused by the analyzer before the catalog sees it)
    spark.sql("SELECT CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v, p " +
      "FROM VALUES (2, 200, 'hi'), (9, 900, 'new') AS s(k, v, p)")
      .createOrReplaceTempView("ev_spec_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO cgraft.$t AS t
         |USING ev_spec_src AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v, p = s.p
         |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)
         |""".stripMargin)
    // untouched rows read null for the evolved column; matched rows
    // carry the update-fill, inserts the insert-fill
    assert(spark.sql(s"SELECT k, v, p FROM cgraft.$t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("-"))).toSeq ==
      Seq((1L, 10L, "-"), (2L, 200L, "hi"), (3L, 30L, "-"),
        (9L, 900L, "new")))
    // the widening rode the analyzer: exactly TWO commits past the
    // insert — the metadata-only ADD COLUMN and the merge itself
    assert(Versioned.latestVersion(spark, path) == preMerge + 2,
      "ADD COLUMN commit + MERGE commit")
    // per-version schemas survive: the pre-merge snapshot still reads
    // two columns (schema-as-of through VERSION AS OF)
    assert(spark.sql(s"SELECT * FROM cgraft.$t VERSION AS OF $preMerge")
      .columns.toSeq == Seq("k", "v"))
    // a merge whose source adds NO columns must not mint a DDL version
    spark.sql("SELECT * FROM VALUES (1, 11) AS s(k, v)")
      .createOrReplaceTempView("ev_spec_src2")
    val before2 = Versioned.latestVersion(spark, path)
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO cgraft.$t AS t
         |USING ev_spec_src2 AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |""".stripMargin)
    assert(Versioned.latestVersion(spark, path) == before2 + 1,
      "no-change evolution is free: only the merge commit minted")
  }

  test("explicit NULL into a GENERATED ALWAYS identity column is refused in SQL") {
    // Delta-parity pin for GraftTable.planOmitsIdentity: in BOTH SQL
    // shapes the user's NULL survives to insert() distinguishably —
    // VALUES lands as a LocalRelation (no projection at all), and
    // SELECT NULL keeps its own projection BELOW the analyzer's
    // by-name projection (whose identity slot then references an
    // attribute, not a foldable null) — so both hit the ALWAYS
    // refusal. Only Spark's own column-list null-fill (the omission
    // case, pinned in the metadata-tables test) reads as a top-level
    // foldable null and routes to the allocator.
    val t = uniq("tid")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT) " +
      "TBLPROPERTIES ('key' = 'k', 'identity' = 'rid')")
    // the identity column joins the schema with the first data commit
    spark.sql(s"INSERT INTO cgraft.$t VALUES (1)")
    val e1 = intercept[Exception](spark.sql(
      s"INSERT INTO cgraft.$t (k, rid) SELECT 7L, CAST(NULL AS BIGINT)"))
    assert(e1.getMessage.contains("GENERATED ALWAYS"),
      s"SELECT-NULL shape refused: ${e1.getMessage.take(150)}")
    val e2 = intercept[Exception](
      spark.sql(s"INSERT INTO cgraft.$t (k, rid) VALUES (8, NULL)"))
    assert(e2.getMessage.contains("GENERATED ALWAYS"),
      s"VALUES shape refused: ${e2.getMessage.take(150)}")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 1L, "refused inserts committed nothing")
  }

  test("standard-SQL DDL: DEFAULT, IDENTITY, GENERATED, CHECK via CREATE/ALTER") {
    val t = uniq("tddl")
    spark.sql(s"""CREATE TABLE cgraft.$t (
      k BIGINT,
      cents BIGINT DEFAULT 500,
      rid BIGINT GENERATED ALWAYS AS IDENTITY,
      band STRING GENERATED ALWAYS AS
        (CASE WHEN cents > 100 THEN 'hi' ELSE 'lo' END),
      CONSTRAINT cents_nonneg CHECK (cents >= 0)
    ) TBLPROPERTIES ('key' = 'k')""")
    // omitted column-list insert: Spark substitutes the declared
    // DEFAULT; rid comes from the allocator; band is recomputed
    spark.sql(s"INSERT INTO cgraft.$t (k) VALUES (1)")
    spark.sql(s"INSERT INTO cgraft.$t (k, cents) VALUES (2, 50)")
    val rows = spark.sql(s"SELECT k, cents, rid, band FROM cgraft.$t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(rows == Seq((1L, 500L, 1L, "hi"), (2L, 50L, 2L, "lo")), s"$rows")
    // the CREATE-declared CHECK gates atomically: nothing commits
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO cgraft.$t (k, cents) VALUES (3, -1)"))
    assert(e.getMessage.contains("cents_nonneg"), e.getMessage.take(150))
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 2L)
    // ADD CONSTRAINT validates EXISTING data before publishing
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE cgraft.$t ADD CONSTRAINT cents_big CHECK (cents >= 100)"))
    assert(e2.getMessage.toLowerCase.contains("cents_big") ||
      e2.getMessage.toLowerCase.contains("violat"), e2.getMessage.take(200))
    spark.sql(
      s"ALTER TABLE cgraft.$t ADD CONSTRAINT cents_cap CHECK (cents <= 10000)")
    val e3 = intercept[Exception](
      spark.sql(s"INSERT INTO cgraft.$t (k, cents) VALUES (4, 20000)"))
    assert(e3.getMessage.contains("cents_cap"), e3.getMessage.take(150))
    // SET DEFAULT replaces, DROP DEFAULT clears (write-forward only)
    spark.sql(s"ALTER TABLE cgraft.$t ALTER COLUMN cents SET DEFAULT 7")
    spark.sql(s"INSERT INTO cgraft.$t (k) VALUES (5)")
    assert(spark.sql(s"SELECT cents FROM cgraft.$t WHERE k = 5")
      .collect().head.getLong(0) == 7L)
    assert(spark.sql(s"SELECT cents FROM cgraft.$t WHERE k = 1")
      .collect().head.getLong(0) == 500L,
      "SET DEFAULT is not retroactive: stored rows keep their values")
    spark.sql(s"ALTER TABLE cgraft.$t ALTER COLUMN cents DROP DEFAULT")
    spark.sql(s"INSERT INTO cgraft.$t (k) VALUES (6)")
    assert(spark.sql(s"SELECT cents FROM cgraft.$t WHERE k = 6")
      .collect().head.isNullAt(0), "cleared default -> null fill")
    // DROP CONSTRAINT re-opens the gate
    spark.sql(s"ALTER TABLE cgraft.$t DROP CONSTRAINT cents_cap")
    spark.sql(s"INSERT INTO cgraft.$t (k, cents) VALUES (7, 20000)")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 5L)
    // BY DEFAULT identity and non-CHECK constraints are refused at CREATE
    val e4 = intercept[Exception](spark.sql(
      s"CREATE TABLE cgraft.${uniq("tbad")} (k BIGINT, " +
        "rid BIGINT GENERATED BY DEFAULT AS IDENTITY)"))
    assert(e4.getMessage.contains("ALWAYS"), e4.getMessage.take(150))
  }

  test("DROP CONSTRAINT is case-insensitive; DEFAULT refused on identity/generated") {
    val t = uniq("tcc")
    spark.sql(s"CREATE TABLE cgraft.$t (k BIGINT, cents BIGINT, " +
      "CONSTRAINT Cents_Cap CHECK (cents <= 100)) " +
      "TBLPROPERTIES ('key' = 'k', 'identity' = 'rid', " +
      "'generated.band' = 'CASE WHEN cents > 10 THEN 1 ELSE 0 END')")
    // IF EXISTS with a case-mismatched name: drops, never throws
    spark.sql(s"ALTER TABLE cgraft.$t DROP CONSTRAINT IF EXISTS cents_cap")
    spark.sql(s"INSERT INTO cgraft.$t (k, cents) VALUES (1, 500)")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 1L, "the cap is gone")
    // IF EXISTS on a truly absent name: clean no-op
    spark.sql(s"ALTER TABLE cgraft.$t DROP CONSTRAINT IF EXISTS ghost")
    // defaults on allocator/recompute columns are refused up front
    val e1 = intercept[Exception](spark.sql(
      s"ALTER TABLE cgraft.$t ALTER COLUMN rid SET DEFAULT 0"))
    assert(e1.getMessage.contains("identity"), e1.getMessage.take(150))
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE cgraft.$t ALTER COLUMN band SET DEFAULT 1"))
    assert(e2.getMessage.contains("generated") ||
      e2.getMessage.contains("band"), e2.getMessage.take(150))
    // the table still appends fine after the refusals
    spark.sql(s"INSERT INTO cgraft.$t (k, cents) VALUES (2, 7)")
    assert(spark.sql(s"SELECT count(*) FROM cgraft.$t")
      .collect().head.getLong(0) == 2L)
  }
}
