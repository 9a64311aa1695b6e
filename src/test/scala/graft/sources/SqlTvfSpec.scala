package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.vector.{AnnCorpus, AnnIndex, AnnPin, AnnRequest, AnnServe}

/** Pins for the graft_* SQL table-valued functions (GraftExtensions):
  * `graft_table` must read through the SAME VersionedFileIndex the
  * Column API uses — so SQL WHERE predicates prune manifest files
  * in-plan — and the version/timestamp argument must pin the snapshot
  * (time travel from plain SQL). */
class SqlTvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), tag).toString

  private def scanFiles(df: DataFrame): Long = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
    }.flatten
    walk(df.queryExecution.executedPlan)
      .find(_.relation.location.isInstanceOf[VersionedFileIndex])
      .getOrElse(fail("no VersionedFileIndex scan under the TVF"))
      .metrics("numFiles").value
  }

  test("graft_table resolves to the versioned relation; SQL WHERE prunes files") {
    val t = tmp("tvf_prune")
    Versioned.commit(spark, t,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), Some("k"), 4)
    val df = spark.sql(s"SELECT k, v FROM graft_table('$t') WHERE k <= 10")
    assert(df.count() == 10)
    assert(scanFiles(df) < 4,
      "a range predicate through the SQL TVF must skip non-overlapping files")
  }

  test("a LARGE id-IN list (optimizer InSet) still file-prunes") {
    val t = tmp("tvf_inset")
    Versioned.commit(spark, t,
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v"), Some("k"), 8)
    // 15 literals > the In→InSet conversion threshold (10), all inside
    // the first quarter of the key range — the scan must still skip
    // the non-overlapping files (the ANN pool-fetch shape)
    val ids = (1L to 15L).mkString(", ")
    val df = spark.sql(
      s"SELECT k, v FROM graft_table('$t') WHERE k IN ($ids)")
    assert(df.count() == 15)
    assert(scanFiles(df) < 8,
      "an InSet-sized id list must keep manifest file-skipping")
  }

  test("version argument time-travels; latest sees the merge") {
    val t = tmp("tvf_ver")
    Versioned.commit(spark, t,
      (1L to 50L).map(k => (k, k * 10L)).toDF("k", "x"), Some("k"), 2)
    Versioned.mergeCommit(spark, t,
      Seq((1L, 999L), (51L, 510L)).toDF("k", "x"), Seq("k"))
    val v1 = spark.sql(s"SELECT sum(x) AS s, count(*) AS n FROM graft_table('$t', 1)").head()
    val v2 = spark.sql(s"SELECT sum(x) AS s, count(*) AS n FROM graft_table('$t')").head()
    assert(v1.getLong(1) == 50 && v2.getLong(1) == 51)
    assert(v2.getLong(0) - v1.getLong(0) == (999L - 10L) + 510L)
  }

  test("timestamp argument resolves through the commit-ts walk") {
    val t = tmp("tvf_ts")
    Versioned.commit(spark, t, Seq((1L, "a")).toDF("k", "v"), Some("k"))
    val tsAfterV1 = Versioned.snapshot(spark, t, 1).ts
      .getOrElse(fail("v1 manifest must record a commit ts"))
    Versioned.mergeCommit(spark, t, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    val asOf = java.time.Instant.ofEpochMilli(tsAfterV1)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString.replace('T', ' ')
    val n = spark.sql(
      s"SELECT count(*) AS n FROM graft_table('$t', TIMESTAMP '$asOf')").head().getLong(0)
    assert(n == 1, "the pre-merge timestamp must resolve to version 1")
  }

  test("TIMESTAMP_NTZ AS OF resolves through the session timezone, not UTC") {
    val t = tmp("tvf_ntz")
    Versioned.commit(spark, t, Seq((1L, "a")).toDF("k", "v"), Some("k"))
    val tsAfterV1 = Versioned.snapshot(spark, t, 1).ts
      .getOrElse(fail("v1 manifest must record a commit ts"))
    Versioned.mergeCommit(spark, t, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      // the NTZ literal names the v1 instant by its TOKYO wall clock;
      // a UTC-fixed reading would land 9 hours early — before the
      // table existed
      val wall = java.time.Instant.ofEpochMilli(tsAfterV1)
        .atZone(java.time.ZoneId.of("Asia/Tokyo")).toLocalDateTime
        .toString.replace('T', ' ')
      val n = spark.sql(
        s"SELECT count(*) AS n FROM graft_table('$t', TIMESTAMP_NTZ '$wall')")
        .head().getLong(0)
      assert(n == 1,
        "an NTZ wall-clock in a non-UTC session must resolve to version 1")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("graft_scd2 surfaces dimensionHistory: intervals track the key's versions") {
    val t = tmp("tvf_scd2")
    Versioned.commit(spark, t,
      (1L to 10L).map(k => (k, k * 10L)).toDF("k", "x"), Some("k"), 2)
    Versioned.mergeCommit(spark, t, Seq((1L, 999L)).toDF("k", "x"), Seq("k"))
    Versioned.deleteWhereKeyIn(spark, t, Seq(2L).toDF("k"), "k")
    val rows = spark.sql(
      s"""SELECT k, x, valid_from, valid_to FROM graft_scd2('$t', 'k')
         |WHERE k <= 2 ORDER BY k, valid_from""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq(
        (1L, 10L, 1L, 2L),              // base value, superseded at v2
        (1L, 999L, 2L, Long.MaxValue),  // current
        (2L, 20L, 1L, 3L)))             // closed by the v3 delete
    // SQL and Column API agree row-for-row
    assert(spark.sql(s"SELECT * FROM graft_scd2('$t', 'k')").count() ==
      Versioned.dimensionHistory(spark, t, "k").count())
  }

  test("graft_history and graft_files surface the commit log and manifest") {
    val t = tmp("tvf_meta")
    Versioned.commit(spark, t,
      (1L to 20L).map(k => (k, k)).toDF("k", "x"), Some("k"), 2)
    Versioned.mergeCommit(spark, t, Seq((21L, 21L)).toDF("k", "x"), Seq("k"))
    assert(spark.sql(s"SELECT * FROM graft_history('$t')").count() == 2)
    val files = spark.sql(
      s"SELECT sum(rows) AS r, count(*) AS f FROM graft_files('$t', 1)").head()
    assert(files.getLong(0) == 20L && files.getLong(1) == 2L)
  }

  test("tags and branches resolve in SQL: graft_table(path, 'tag') + inventory TVFs") {
    val t = tmp("tvf_branch")
    Versioned.commit(spark, t,
      (1L to 30L).map(k => (k, k)).toDF("k", "x"), Some("k"), 2)
    Branches.tag(spark, t, "r1")
    Branches.create(spark, t, "dev")
    Versioned.commit(spark, Branches.root(t, "dev"),
      Versioned.read(spark, Branches.root(t, "dev")).filter($"k" <= 5),
      Some("k"), 1, expected = Some(1L))
    Versioned.mergeCommit(spark, t, Seq((31L, 31L)).toDF("k", "x"), Seq("k"))
    // tag pins v1 even though main moved on
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$t', 'r1')")
      .head().getLong(0) == 30L)
    // a branch root is a table path — the same TVF reads its head
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_table('${Branches.root(t, "dev")}')")
      .head().getLong(0) == 5L)
    assert(spark.sql(s"SELECT * FROM graft_branches('$t')").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("dev", 1L, 2L)))
    assert(spark.sql(s"SELECT * FROM graft_tags('$t')").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("r1", 1L)))
  }

  test("graft_row_ids surfaces row tracking in SQL and stays stable " +
      "across an append") {
    val t = tmp("tvf_rowids")
    Versioned.commit(spark, t,
      (1L to 30L).map(k => (k, s"v$k")).toDF("k", "v"), Some("k"), 3)
    val before = spark.sql(s"SELECT k, _row_id FROM graft_row_ids('$t')")
      .as[(Long, Long)].collect().toMap
    assert(before.values.toSet == (0L until 30L).toSet)
    Versioned.appendCommit(spark, t,
      (31L to 40L).map(k => (k, s"v$k")).toDF("k", "v"), Some("k"), 1)
    val after = spark.sql(s"SELECT k, _row_id FROM graft_row_ids('$t')")
      .as[(Long, Long)].collect().toMap
    assert(after.values.toSet == (0L until 40L).toSet)
    assert(before.forall { case (k, id) => after(k) == id },
      "ids stable through the append, straight from SQL")
    // version argument time-travels the id view too
    assert(spark.sql(s"SELECT count(*) FROM graft_row_ids('$t', 1)")
      .as[Long].head() == 30L)
  }

  test("graft_diff surfaces the keyed change feed in SQL") {
    val t = tmp("tvf_diff")
    Versioned.commit(spark, t,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), Some("k"), 1)
    Versioned.mergeCommit(spark, t,
      Seq((2L, 21L), (3L, 30L)).toDF("k", "v"), Seq("k"))
    val ops = spark.sql(
      s"SELECT k, change_type FROM graft_diff('$t', 'k', 1, 2) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(ops.map(_._1) == Seq(2L, 3L) &&
      ops(0)._2.toLowerCase.startsWith("u") &&
      ops(1)._2.toLowerCase.startsWith("i"), s"got $ops")
  }

  test("ann_ensure + graft_ann_search: build, zero-rebuild re-CALL, incremental refresh") {
    val wh = tmp("annwh")
    spark.conf.set("spark.sql.catalog.anng", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.anng.warehouse", wh)
    val emb = graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding")
    emb.filter(col("vec_id") < 300).createOrReplaceTempView("ann_base")
    spark.sql("CREATE TABLE anng.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM ann_base")
    def ensure(): Map[String, Long] = spark.sql(
      "CALL anng.system.ann_ensure(index_root => 'ix', table => 'e', " +
        "id_col => 'vec_id', emb_col => 'embedding')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ensure() == Map("ivf_centroids" -> 1L, "ivf_assignments" -> 1L))
    assert(ensure() == Map("ivf_centroids" -> 1L, "ivf_assignments" -> 1L),
      "re-CALL on an unchanged corpus must mint nothing")
    // the artifacts are ordinary catalog tables under the root namespace
    assert(spark.sql("SELECT count(*) FROM anng.ix.ivf_centroids")
      .head().getLong(0) == 16L)
    // corpus append through SQL; refresh assigns ONLY the delta
    emb.filter(col("vec_id") >= 300).createOrReplaceTempView("ann_more")
    spark.sql("INSERT INTO anng.e SELECT * FROM ann_more")
    assert(ensure() == Map("ivf_centroids" -> 1L, "ivf_assignments" -> 2L),
      "refresh appends assignments, never retrains")
    val hits = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/ix', '$wh/e', " +
        "'vec_id', 'embedding', 0, 10, 4)")
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(0L) && hits.size == 10,
      "self-match found; full top-k over the refreshed index")
    // unknown kind refuses loudly
    val e = intercept[Exception](spark.sql(
      "CALL anng.system.ann_ensure(index_root => 'ix', table => 'e', " +
        "id_col => 'vec_id', emb_col => 'embedding', kind => 'blargh')"))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("unknown kind")), s"$e")
    // a typo'd probe id is an ERROR, never a silently empty top-k
    val e2 = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', " +
        "'vec_id', 'embedding', 999999, 5)"))
    assert(causes(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("no row with vec_id = 999999")), s"$e2")
  }

  test("graft_ann_search is kind-complete: pq and hnsw serve what the Scala API serves") {
    val wh = tmp("annkind")
    spark.conf.set("spark.sql.catalog.annk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annk.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").createOrReplaceTempView("annk_src")
    spark.sql("CREATE TABLE annk.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annk_src")
    def ensure(kind: String): Unit = spark.sql(
      s"CALL annk.system.ann_ensure(index_root => 'ix', table => 'e', " +
        s"id_col => 'vec_id', emb_col => 'embedding', kind => '$kind', " +
        "k => 16, m => 8)").collect()
    ensure("ivf"); ensure("pq"); ensure("hnsw")
    val corpus = graft.sources.VersionedScan.read(spark, s"$wh/e")
    val probeDf = corpus.filter(col("vec_id") === 0L).select(col("embedding"))
    // PQ through the (nProbe, kind) tail == the library serving call
    val sqlPq = spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5, 4, 'pq')")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val apiPq = AnnServe.single(AnnIndex.serve(spark, s"$wh/ix",
        AnnRequest("pq", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 5, width = Some(4),
        pool = Some(64))))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sqlPq == apiPq, "SQL pq door must serve the library's answer")
    // the cid-clustered CODES layout: the door's answers are identical
    // once the pruned ADC scan exists, and ann_stats reports freshness
    def pqStats(): Map[String, Long] = spark.sql(
      "CALL annk.system.ann_stats(index_root => 'ix')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pqStats()("pq_lists_fresh") == 0L, "no layout yet")
    spark.sql("CALL annk.system.ann_optimize_serving(index_root => 'ix', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'pq')").collect()
    assert(spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5, 4, 'pq')")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == apiPq,
      "the pruned codes layout must serve identical answers")
    val stP = pqStats()
    assert(stP("pq_lists_version") == 1L && stP("pq_lists_fresh") == 1L,
      s"the stats view must carry the pq layout + freshness: $stP")
    // HNSW through the kind-only tail == the library serving call
    val sqlNsw = spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5, 'hnsw')")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probe = corpus.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<float>"))
      .as[Array[Float]].head()
    val apiNsw = AnnServe.single(AnnIndex.serve(spark, s"$wh/ix",
        AnnRequest("hnsw", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        AnnServe.vectorProbe(spark, probe), 5)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sqlNsw == apiNsw, "SQL hnsw door must serve the library's answer")
    // for the hnsw kind the integral tail is the BEAM WIDTH (ef), not
    // a list count — it reaches the committed serve (r13: the recall
    // lever the 2.2M rehearsal measured, exposed through the door)
    val sqlNswWide = spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5, 1024, 'hnsw')")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val apiNswWide = AnnIndex.serve(spark, s"$wh/ix",
        AnnRequest("hnsw", AnnCorpus.committed(spark, s"$wh/e"), "vec_id",
        "embedding", corpus.filter(col("vec_id") === 0)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv")),
        5, width = Some(1024)))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(sqlNswWide == apiNswWide,
      "the hnsw door's integral tail must reach the beam width")
    // an EXPLICIT non-positive width is refused at parse time (r14):
    // ef = 0 would otherwise read as 'unset' downstream and silently
    // serve at the stored build beam instead of erroring
    val badWidth = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5, 0, 'hnsw')").collect())
    assert(badWidth.getMessage.contains(">= 1"), badWidth.getMessage)
    // ARRAY of probe ids = the batch door: one plan per question SET,
    // per-probe slices equal the per-probe single calls
    val batch = spark.sql(
      s"SELECT probe_id, vec_id, score FROM graft_ann_search('$wh/ix', " +
        s"'$wh/e', 'vec_id', 'embedding', array(0, 1, 2), 5, 'hnsw')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    Seq(0L, 1L, 2L).foreach { pid =>
      val single = spark.sql(
        s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
          s"'vec_id', 'embedding', $pid, 5, 'hnsw')")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.filter(_._1 == pid).map(t => (t._2, t._3)).toSeq == single,
        s"batch slice for probe $pid must equal the single-probe door")
    }
    // the batch ivf door rides Ivf.searchBatch
    val bi = spark.sql(
      s"SELECT probe_id, vec_id, score FROM graft_ann_search('$wh/ix', " +
        s"'$wh/e', 'vec_id', 'embedding', array(0, 1), 5, 4, 'ivf')")
      .collect()
    assert(bi.map(_.getLong(0)).toSet == Set(0L, 1L) && bi.length == 10)
    // a typo'd id inside the array is an ERROR listing the missing ids
    val e3 = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', 'vec_id', " +
        "'embedding', array(0, 987654), 5, 'hnsw')"))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e3).exists(c => c.getMessage != null &&
      c.getMessage.contains("987654")), s"$e3")
    // CALL ann_reshard migrates the shard count as one commit and the
    // door keeps serving the same answers over the new layout
    val rr = spark.sql(
      "CALL annk.system.ann_reshard(index_root => 'ix', table => 'e', " +
        "id_col => 'vec_id', emb_col => 'embedding', shards => 8)")
      .head()
    val v = rr.getLong(0)
    assert(v == 2L, "reshard lands exactly one new edge-table version")
    assert(rr.getLong(1) == -1L,
      "without refresh_serving the layout column reports -1 (not chained)")
    // a reshard stales the shard layout by construction; chaining
    // refresh_serving lands the new one with the migration
    val rr2 = spark.sql(
      "CALL annk.system.ann_reshard(index_root => 'ix', table => 'e', " +
        "id_col => 'vec_id', emb_col => 'embedding', shards => 4, " +
        "refresh_serving => true)").head()
    assert(rr2.getLong(0) == 3L && rr2.getLong(1) >= 1L,
      s"chained reshard must land edges AND the shard layout: $rr2")
    val after = spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5, 'hnsw')")
      .collect().map(r => r.getLong(0)).toSet
    assert(after.contains(0L) && after.size == 5,
      "post-reshard serve returns a full top-k incl. the self-match")
    // duplicate ids in the batch array would silently collapse to one
    // probe slice — refused with the offenders named (ADVICE r11)
    val e4 = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', 'vec_id', " +
        "'embedding', array(0, 1, 0), 5, 'hnsw')"))
    assert(causes(e4).exists(c => c.getMessage != null &&
      c.getMessage.contains("duplicate probe ids")), s"$e4")
    // a corpus id column literally named probe_id collides with the
    // batch result's prepended column — door-level diagnostic, not the
    // library's generic require
    val e5 = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', 'probe_id', " +
        "'embedding', array(0, 1), 5, 'hnsw')"))
    assert(causes(e5).exists(c => c.getMessage != null &&
      c.getMessage.contains("rename the corpus column")), s"$e5")
  }

  private def causesOf(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causesOf(t.getCause)

  test("graft_ann_search serves an AD-HOC query vector — the /ask shape, all kinds") {
    val wh = tmp("annadhoc")
    spark.conf.set("spark.sql.catalog.annq", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annq.warehouse", wh)
    val emb = graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 300)
    emb.createOrReplaceTempView("annq_src")
    spark.sql("CREATE TABLE annq.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annq_src")
    Seq("ivf", "pq", "hnsw").foreach(kind => spark.sql(
      s"CALL annq.system.ann_ensure(index_root => 'ix', table => 'e', " +
        s"id_col => 'vec_id', emb_col => 'embedding', kind => '$kind', " +
        "k => 16, m => 8)").collect())
    val corpus = graft.sources.VersionedScan.read(spark, s"$wh/e")
    val embType = corpus.schema("embedding").dataType
    // a question vector that is NOT any corpus row (deterministic,
    // corpus-dim components)
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    val vec = Array.tabulate(dim)(i => ((i % 7) - 3) * 0.25)
    val sqlVec = vec.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
    val probeDf = spark.range(1)
      .select(typedLit(vec).cast(embType).as("embedding"))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // ivf (auto nProbe): SQL == the Scala API fed the same vector
    val sqlIvf = rows(spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
        s"'vec_id', 'embedding', $sqlVec, 5, 4, 'ivf')"))
    assert(sqlIvf == rows(AnnServe.single(AnnIndex.serve(spark,
        s"$wh/ix", AnnRequest("ivf", AnnCorpus.Frame(corpus), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 5,
        width = Some(4))))),
      "ad-hoc ivf probe must serve the library's answer bit-for-bit")
    val sqlPq = rows(spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
        s"'vec_id', 'embedding', $sqlVec, 5, 4, 'pq')"))
    assert(sqlPq == rows(AnnServe.single(AnnIndex.serve(spark,
        s"$wh/ix", AnnRequest("pq", AnnCorpus.Frame(corpus), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 5,
        width = Some(4), pool = Some(64))))),
      "ad-hoc pq probe must serve the library's answer bit-for-bit")
    val sqlNsw = rows(spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
        s"'vec_id', 'embedding', $sqlVec, 5, 'hnsw')"))
    import spark.implicits._
    val fvec = probeDf.select(col("embedding").cast("array<float>"))
      .as[Array[Float]].head()
    assert(sqlNsw == rows(AnnServe.single(AnnIndex.serve(spark,
        s"$wh/ix", AnnRequest("hnsw", AnnCorpus.Frame(corpus), "vec_id",
        "embedding", AnnServe.vectorProbe(spark, fvec), 5)))),
      "ad-hoc hnsw probe must serve the library's answer bit-for-bit")
    // a NULL component is a typed error naming the position
    val eNull = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', 'vec_id', " +
        "'embedding', array(CAST(0.1 AS DOUBLE), CAST(NULL AS DOUBLE)), " +
        "5, 'ivf')"))
    assert(causesOf(eNull).exists(c => c.getMessage != null &&
      c.getMessage.contains("NULL component at query vector position 1")),
      s"$eNull")
    // a wrong-width vector is a typed error naming both widths
    val eDim = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', 'vec_id', " +
        "'embedding', array(CAST(0.1 AS DOUBLE), CAST(0.2 AS DOUBLE)), " +
        "5, 'ivf')"))
    assert(causesOf(eDim).exists(c => c.getMessage != null &&
      c.getMessage.contains(s"2 components") &&
      c.getMessage.contains(s"have $dim")), s"$eDim")
    // a string-element array is neither ids nor a vector
    val eStr = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', 'vec_id', " +
        "'embedding', array('a', 'b'), 5, 'ivf')"))
    assert(causesOf(eStr).exists(c => c.getMessage != null &&
      c.getMessage.contains("row ids")), s"$eStr")
    // a BATCH of ad-hoc query vectors (array of fractional arrays)
    // rides one plan, probe_id = the vector's batch position, and
    // every per-position slice equals the single-vector door
    val vec2 = Array.tabulate(dim)(i => ((i % 5) - 2) * 0.3)
    val sqlVec2 = vec2.map(v => s"CAST($v AS DOUBLE)")
      .mkString("array(", ", ", ")")
    val batch = spark.sql(
      s"SELECT probe_id, vec_id, score FROM graft_ann_search('$wh/ix', " +
        s"'$wh/e', 'vec_id', 'embedding', array($sqlVec, $sqlVec2), 5, " +
        "'hnsw')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.map(_._1).toSet == Set(0L, 1L) && batch.length == 10)
    Seq(0L -> sqlVec, 1L -> sqlVec2).foreach { case (pid, sv) =>
      val one = rows(spark.sql(
        s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
          s"'vec_id', 'embedding', $sv, 5, 'hnsw')"))
      assert(batch.filter(_._1 == pid).map(t => (t._2, t._3)).toSeq == one,
        s"vector-batch slice $pid must equal the single-vector door")
    }
    // a NULL vector inside the batch names its position
    val eBn = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/e', 'vec_id', " +
        s"'embedding', array($sqlVec, CAST(NULL AS ARRAY<DOUBLE>)), 5, " +
        "'hnsw')"))
    assert(causesOf(eBn).exists(c => c.getMessage != null &&
      c.getMessage.contains("NULL query vector at batch position 1")),
      s"$eBn")
  }

  test("graft_ann_search auto-detects the kind; ambiguous/missing roots get named errors") {
    val wh = tmp("annauto")
    spark.conf.set("spark.sql.catalog.anna", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.anna.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 200)
      .createOrReplaceTempView("anna_src")
    spark.sql("CREATE TABLE anna.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM anna_src")
    spark.sql("CALL anna.system.ann_ensure(index_root => 'hx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'hnsw')").collect()
    // hx holds exactly ONE kind: no kind argument needed — the door
    // serves the hnsw graph (score column, 5 rows, self-match present)
    val auto = spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/hx', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5)")
      .collect().map(_.getLong(0)).toSet
    assert(auto.contains(0L) && auto.size == 5,
      "single-kind root must auto-detect and serve")
    // a multi-kind root refuses auto-detection, naming the candidates
    spark.sql("CALL anna.system.ann_ensure(index_root => 'hx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf')").collect()
    val eAmb = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/hx', '$wh/e', 'vec_id', " +
        "'embedding', 0, 5)"))
    assert(causesOf(eAmb).exists(c => c.getMessage != null &&
      c.getMessage.contains("ambiguous index root") &&
      c.getMessage.contains("ivf") && c.getMessage.contains("hnsw")),
      s"$eAmb")
    // asking for a kind whose artifacts are MISSING is a named error
    // (not whatever latestVersion == 0 produces downstream), and it
    // lists what IS committed
    val eMiss = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/hx', '$wh/e', 'vec_id', " +
        "'embedding', 0, 5, 'pq')"))
    assert(causesOf(eMiss).exists(c => c.getMessage != null &&
      c.getMessage.contains("no committed 'pq' index") &&
      c.getMessage.contains("hnsw")), s"$eMiss")
    // an empty root names the bootstrap move
    val eNone = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/nothing_here', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5)"))
    assert(causesOf(eNone).exists(c => c.getMessage != null &&
      c.getMessage.contains("no committed ANN artifacts")), s"$eNone")
  }

  test("graft_ann_search TIMESTAMP tail serves the index AND corpus as of the instant") {
    val wh = tmp("annasof")
    spark.conf.set("spark.sql.catalog.annt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annt.warehouse", wh)
    val emb = graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding")
    emb.filter(col("vec_id") < 200).createOrReplaceTempView("annt_base")
    spark.sql("CREATE TABLE annt.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annt_base")
    def ensure(kind: String): Unit = spark.sql(
      s"CALL annt.system.ann_ensure(index_root => 'ix', table => 'e', " +
        s"id_col => 'vec_id', emb_col => 'embedding', kind => '$kind', " +
        "k => 16, m => 8)").collect()
    ensure("ivf"); ensure("pq"); ensure("hnsw")
    val tMid = System.currentTimeMillis()
    Thread.sleep(10)
    // generation 2: the corpus grows and every tier refreshes
    emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)
      .createOrReplaceTempView("annt_more")
    spark.sql("INSERT INTO annt.e SELECT * FROM annt_more")
    ensure("ivf"); ensure("pq"); ensure("hnsw")
    val lit = java.time.Instant.ofEpochMilli(tMid)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace('T', ' ')
    // resolve the same-instant corpus exactly like the door does (the
    // catalog CTAS lands v1 as a metadata-only CREATE — the data is v2)
    val baseCorpus = graft.sources.VersionedScan.read(spark, s"$wh/e",
      Versioned.snapshotAsOf(spark, s"$wh/e", tMid).version)
    val probeDf = baseCorpus.filter(col("vec_id") === 0L).select(col("embedding"))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Seq("ivf", "pq", "hnsw").foreach { kind =>
      val sqlAsOf = rows(spark.sql(
        s"SELECT vec_id, score FROM graft_ann_search('$wh/ix', '$wh/e', " +
          s"'vec_id', 'embedding', 0, 5, 4, '$kind', TIMESTAMP '$lit')"))
      val api = kind match {
        case "ivf" => rows(AnnServe.single(AnnIndex.serve(spark,
            s"$wh/ix", AnnRequest("ivf", AnnCorpus.Frame(baseCorpus),
            "vec_id", "embedding", AnnServe.oneProbe(probeDf, "embedding"), 5,
            width = Some(4), pin = AnnPin.AsOf(tMid)))))
        case "pq" => rows(AnnServe.single(AnnIndex.serve(spark,
            s"$wh/ix", AnnRequest("pq", AnnCorpus.Frame(baseCorpus), "vec_id",
            "embedding", AnnServe.oneProbe(probeDf, "embedding"), 5,
            width = Some(4), pool = Some(64), pin = AnnPin.AsOf(tMid)))))
        case _ =>
          val p = probeDf.select(
            org.apache.spark.sql.functions.lit(0L).as("pid"),
            col("embedding"))
          rows(AnnIndex.serve(spark, s"$wh/ix",
              AnnRequest("hnsw", AnnCorpus.Frame(baseCorpus), "vec_id",
              "embedding", p, 5, pin = AnnPin.AsOf(tMid))).drop("pid"))
      }
      assert(sqlAsOf == api,
        s"$kind AS OF through the door must equal the library's " +
          "historical serve")
      // the historical serve must NOT cover generation-2 ids — proof
      // the corpus view pinned to the instant too
      assert(sqlAsOf.forall(_._1 < 200L),
        s"$kind AS OF served a generation-2 row: $sqlAsOf")
    }
  }

  test("ann_optimize_serving: the SQL ivf door serves from the pruned lists layout") {
    val wh = tmp("annopt")
    spark.conf.set("spark.sql.catalog.anno", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.anno.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 300)
      .createOrReplaceTempView("anno_src")
    spark.sql("CREATE TABLE anno.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM anno_src")
    spark.sql("CALL anno.system.ann_ensure(index_root => 'ox', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 16)").collect()
    def door() = spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/ox', '$wh/e', " +
        "'vec_id', 'embedding', 0, 10, 2, 'ivf')")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = door() // no lists yet: the join-plan fallback
    val v = spark.sql("CALL anno.system.ann_optimize_serving(" +
      "index_root => 'ox', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding')").head().getLong(0)
    assert(v == 1L, "first optimize commits the lists layout")
    assert(spark.sql("CALL anno.system.ann_optimize_serving(" +
      "index_root => 'ox', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding')").head().getLong(0) == 1L,
      "an up-to-date layout must not re-commit")
    assert(door() == before,
      "the pruned layout must serve exactly the join plan's answers")
    // the inventory names the new artifact
    val st = spark.sql("CALL anno.system.ann_stats(index_root => 'ox')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("ivf_lists_version") == 1L, s"$st")
    // freshness observability: named with the corpus table, ann_stats
    // reports the stamp state — a corpus commit stales it (serving
    // falls back to the join plan, correctly but silently), and one
    // optimize restores the pruned path
    def fresh(): Long = spark.sql("CALL anno.system.ann_stats(" +
      "index_root => 'ox', table => 'e')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .apply("ivf_lists_fresh")
    assert(fresh() == 1L, "a just-optimized layout must report fresh")
    spark.sql("INSERT INTO anno.e SELECT vec_id + 1000 AS vec_id, " +
      "embedding FROM anno_src WHERE vec_id < 20")
    assert(fresh() == 0L,
      "a corpus commit must surface as stale, not lose the I/O promise silently")
    spark.sql("CALL anno.system.ann_optimize_serving(" +
      "index_root => 'ox', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding')").collect()
    assert(fresh() == 1L, "one optimize restores the fresh stamp")
    // refresh_serving => true chains the optimize into the ensure, so
    // an index refresh lands with its serving layout already fresh
    spark.sql("INSERT INTO anno.e SELECT vec_id + 2000 AS vec_id, " +
      "embedding FROM anno_src WHERE vec_id < 20")
    val ensured = spark.sql("CALL anno.system.ann_ensure(" +
      "index_root => 'ox', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding', kind => 'ivf', k => 16, " +
      "refresh_serving => true)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ensured.contains("ivf_lists"),
      s"refresh_serving must land (and report) the lists artifact: $ensured")
    assert(fresh() == 1L,
      "an ensure with refresh_serving must leave the layout fresh")
    // refresh_serving chains each kind's OWN layout: an hnsw ensure
    // lands the shard layout in the same call
    val hn = spark.sql("CALL anno.system.ann_ensure(index_root => 'ox2', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'hnsw', refresh_serving => true)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hn.contains("nsw_edges") && hn("nsw_layout") == 1L,
      s"hnsw refresh_serving must land the shard layout: $hn")
  }

  test("ann_stats surfaces artifact versions and the serve-cache counters") {
    val wh = tmp("annstats")
    spark.conf.set("spark.sql.catalog.anns", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.anns.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 200)
      .createOrReplaceTempView("anns_src")
    spark.sql("CREATE TABLE anns.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM anns_src")
    spark.sql("CALL anns.system.ann_ensure(index_root => 'sx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'hnsw')").collect()
    def stats(): Map[String, Long] = spark.sql(
      "CALL anns.system.ann_stats(index_root => 'sx')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s0 = stats()
    assert(s0("nsw_edges_version") == 1L && s0("ivf_centroids_version") == 0L,
      s"artifact inventory must name what is (and is not) committed: $s0")
    // a cold serve reconstructs shard graphs — builds move, and the
    // cache holds this root's graphs afterward
    def serve(): Unit = spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/sx', '$wh/e', 'vec_id', " +
        "'embedding', 0, 5)").collect()
    serve()
    val s1 = stats()
    assert(s1("serve_builds_total") > s0("serve_builds_total"),
      s"a cold serve must report reconstructions: $s0 -> $s1")
    assert(s1("cached_shard_graphs") >= 1L,
      s"the cache must hold this root's graphs after a serve: $s1")
    // a warm repeat reconstructs NOTHING and the hit counter moves —
    // the observable difference between a warm session and a cogroup
    serve()
    val s2 = stats()
    assert(s2("serve_builds_total") == s1("serve_builds_total"),
      s"a warm serve must not rebuild: $s1 -> $s2")
    assert(s2("serve_cache_hits_total") > s1("serve_cache_hits_total"),
      s"a warm serve must report cache hits: $s1 -> $s2")
    // the hnsw serving layout rides the same procedure and inventory
    val lv = spark.sql("CALL anns.system.ann_optimize_serving(" +
      "index_root => 'sx', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding', kind => 'hnsw')").head().getLong(0)
    assert(lv == 1L, "first hnsw optimize commits the shard layout")
    val s3 = spark.sql("CALL anns.system.ann_stats(" +
      "index_root => 'sx', table => 'e')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s3("nsw_layout_version") == 1L && s3("nsw_layout_fresh") == 1L,
      s"the stats view must carry the hnsw layout + freshness: $s3")
  }

  test("graft_ann_search filter tail: prefiltered committed serving, exact at full width") {
    val wh = tmp("annfilter")
    spark.conf.set("spark.sql.catalog.annf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annf.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding", "label").filter(col("vec_id") < 300)
      // a boolean metadata column: the r16 typo-guard relaxation pins
      // that a bare boolean corpus column IS a filter predicate
      .withColumn("is_even", expr("vec_id % 2 = 0"))
      .createOrReplaceTempView("annf_src")
    spark.sql("CREATE TABLE annf.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annf_src")
    spark.sql("CALL annf.system.ann_ensure(index_root => 'fx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 16, refresh_serving => true)").collect()
    spark.sql("CALL annf.system.ann_ensure(index_root => 'fx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'pq', m => 8)").collect()
    val pred = "label IN (2, 3) AND vec_id % 5 != 0"
    // filtered-committed ≡ filtered-exact at FULL width: probing every
    // list makes routing a no-op, so the prefiltered serve must equal
    // the brute-force cosine top-k over the matching rows
    val exact = spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id, vec_cosine_sim(embedding,
         |    (SELECT embedding FROM annf.e WHERE vec_id = 0)) AS s
         |  FROM annf.e WHERE $pred)
         |ORDER BY s DESC, vec_id LIMIT 5""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    val served = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'ivf', '$pred')")
      .collect().map(_.getLong(0)).toSeq
    assert(served == exact,
      "full-width filtered serving must equal the exact filtered top-k")
    // membership is EXACT at any width (prefilter, never post-filter):
    // a narrow serve may under-fill, but never violates the predicate
    val narrow = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 2, 'ivf', '$pred')")
      .collect().map(_.getLong(0)).toSeq
    val matching = spark.sql(s"SELECT vec_id FROM annf.e WHERE $pred")
      .collect().map(_.getLong(0)).toSet
    assert(narrow.nonEmpty && narrow.forall(matching),
      s"every filtered result must satisfy the predicate: $narrow")
    // the pq door composes the same way, and SQL ≡ the Scala API form
    val servedPq = spark.sql(
      s"SELECT vec_id, score FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'pq', '$pred')")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val corpus = graft.sources.VersionedScan.read(spark, s"$wh/e")
    val apiPq = AnnServe.single(AnnIndex.serve(spark, s"$wh/fx",
        AnnRequest("pq", AnnCorpus.committed(spark, s"$wh/e"), "vec_id",
        "embedding", AnnServe.oneProbe(
          corpus.filter(col("vec_id") === 0).select(col("embedding")),
          "embedding"),
        5, width = Some(16), pool = Some(40),
        allowed = Some(corpus.filter(expr(pred)).select("vec_id")))))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(servedPq.map(_._1).forall(matching),
      "pq filtered results must satisfy the predicate")
    assert(servedPq.map(_._1) == apiPq.map(_._1),
      "the SQL pq filter door must serve the library's filtered answer")
    // the batch door: per-probe slices == the single-probe filtered door
    val batch = spark.sql(
      s"SELECT probe_id, vec_id FROM graft_ann_search('$wh/fx', " +
        s"'$wh/e', 'vec_id', 'embedding', array(0, 1), 5, 16, 'ivf', " +
        s"'$pred')")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    Seq(0L, 1L).foreach { pid =>
      val single = spark.sql(
        s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
          s"'vec_id', 'embedding', $pid, 5, 16, 'ivf', '$pred')")
        .collect().map(_.getLong(0)).toSeq
      assert(batch.filter(_._1 == pid).map(_._2).toSeq == single,
        s"filtered batch slice for probe $pid must equal the single door")
    }
    // filter + AS OF compose — including the FULL 10-argument form
    // (width, kind, filter, timestamp all given): the filtered
    // historical serve must equal the filtered current serve while the
    // corpus hasn't moved past the instant
    val nowLit = java.time.Instant.now().plusMillis(5)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace('T', ' ')
    Thread.sleep(10)
    val servedAsOf = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'ivf', '$pred', " +
        s"TIMESTAMP '$nowLit')")
      .collect().map(_.getLong(0)).toSeq
    assert(servedAsOf == exact,
      "the 10-arg filtered AS-OF form must serve the filtered exact top-k")
    // hnsw cannot push a predicate: refused by name, never post-filtered
    spark.sql("CALL annf.system.ann_ensure(index_root => 'fx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'hnsw')").collect()
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 'hnsw', '$pred')").collect())
    assert(e.getMessage.contains("routing tiers"), e.getMessage)
    // two non-kind strings = filter given twice, refused
    val e2 = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 'ivf', '$pred', 'label = 2')")
      .collect())
    assert(e2.getMessage.contains("filter given twice"), e2.getMessage)
    // FILL OBSERVABILITY (r15): a filtered result carries `fill` =
    // rows actually returned for its probe, so an under-filled k is
    // visible IN the result. A predicate matching fewer than k rows
    // at full width returns exactly the matches, each row reporting
    // the under-fill
    val sparsePred = "vec_id IN (7, 12, 23)"
    val sparse = spark.sql(
      s"SELECT vec_id, fill FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'ivf', '$sparsePred')")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(sparse.map(_._1).toSet == Set(7L, 12L, 23L),
      s"full width over a 3-row predicate returns exactly the matches: " +
        s"${sparse.toSeq}")
    assert(sparse.forall(_._2 == 3),
      s"every row must report the probe's under-filled count: " +
        s"${sparse.toSeq}")
    // the batch form reports fill PER PROBE
    val sparseBatch = spark.sql(
      s"SELECT probe_id, fill FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', array(0, 1), 5, 16, 'ivf', " +
        s"'$sparsePred')")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    Seq(0L, 1L).foreach { pid =>
      assert(sparseBatch.filter(_._1 == pid).forall(_._2 == 3),
        s"probe $pid must report its own fill: ${sparseBatch.toSeq}")
    }
    // the fill window's exchange must not destroy the batch doors'
    // documented (probe_id, score desc, id) output order
    assert(sparseBatch.map(_._1).toSeq == sparseBatch.map(_._1).sorted.toSeq,
      s"filtered batch results keep their probe_id order: " +
        s"${sparseBatch.toSeq}")
    // an UNFILTERED serve keeps its r14 schema — no fill column
    assert(spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'ivf')")
      .columns.toSeq == Seq("vec_id", "score"),
      "unfiltered results must not grow a fill column")
    // FILL = 0 (r16): a probe whose filter leaves ZERO candidates
    // surfaces as one all-null row carrying fill = 0 — r15 returned
    // no rows at all, hiding exactly the most-under-filled case
    val zeroSingle = spark.sql(
      s"SELECT vec_id, score, fill FROM graft_ann_search('$wh/fx', " +
        s"'$wh/e', 'vec_id', 'embedding', 0, 5, 16, 'ivf', " +
        "'vec_id = -1')").collect()
    assert(zeroSingle.length == 1 && zeroSingle(0).isNullAt(0) &&
      zeroSingle(0).isNullAt(1) && zeroSingle(0).getInt(2) == 0,
      s"a zero-match filter must surface one null row with fill = 0: " +
        s"${zeroSingle.toSeq}")
    // ... and the batch form surfaces EVERY probe at fill = 0
    val zeroBatch = spark.sql(
      s"SELECT probe_id, vec_id, fill FROM graft_ann_search('$wh/fx', " +
        s"'$wh/e', 'vec_id', 'embedding', array(0, 1), 5, 16, 'ivf', " +
        "'vec_id = -1')").collect()
      .map(r => (r.getLong(0), r.isNullAt(1), r.getInt(2)))
    assert(zeroBatch.toSeq.sorted == Seq((0L, true, 0), (1L, true, 0)),
      s"zero-match batch probes must each surface fill = 0: " +
        s"${zeroBatch.toSeq}")
    // KIND-TYPO GUARD (r15, relaxed r16): a single bare identifier
    // naming no known kind AND no boolean corpus column is refused
    // with both roles named, never silently reinterpreted as a filter
    // predicate (the unresolved-column — or silent-semantics-change —
    // hazard)
    val eTypo = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 'ivff')").collect())
    assert(eTypo.getMessage.contains("names no known kind"),
      eTypo.getMessage)
    // ... a bare NON-boolean corpus column is refused too, naming its
    // type (it cannot be a predicate by itself)
    val eNonBool = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 'label')").collect())
    assert(eNonBool.getMessage.contains("not boolean"),
      eNonBool.getMessage)
    // ... but a bare BOOLEAN corpus column is a genuine predicate
    // (the pre-r15 behavior the r15 guard broke — ADVICE r15), and so
    // is the literal 'true'
    val evens = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'ivf', 'is_even')")
      .collect().map(_.getLong(0))
    assert(evens.nonEmpty && evens.forall(_ % 2 == 0),
      s"a bare boolean corpus column must filter: ${evens.toSeq}")
    // ... case-INsensitively, matching Spark's own column resolution
    val evensUpper = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'ivf', 'IS_EVEN')")
      .collect().map(_.getLong(0)).toSeq
    assert(evensUpper == evens.toSeq,
      s"the guard must resolve bare columns case-insensitively: " +
        s"$evensUpper vs ${evens.toSeq}")
    val unfiltered = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'ivf')")
      .collect().map(_.getLong(0)).toSeq
    val litTrue = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, 'ivf', 'true')")
      .collect().map(_.getLong(0)).toSeq
    assert(litTrue == unfiltered,
      s"the literal 'true' filter must serve the unfiltered answer " +
        s"(plus fill): $litTrue vs $unfiltered")
    // ... while stray whitespace / case around a REAL kind reads as
    // the kind it obviously is, not as a filter
    assert(spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/fx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, ' IVF ', '$pred')")
      .collect().map(_.getLong(0)).toSeq == exact,
      "' IVF ' must parse as the kind, composing with the filter")
    // an hnsw-ONLY root has no filtered path at all: the refusal names
    // the workaround (ensure an ivf routing tier alongside)
    spark.sql("CALL annf.system.ann_ensure(index_root => 'fxh', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'hnsw')").collect()
    val eOnly = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/fxh', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, '$pred')").collect())
    assert(eOnly.getMessage.contains("no routing tier yet") &&
      eOnly.getMessage.contains("ann_ensure"), eOnly.getMessage)
  }

  test("filtered single-probe serves plan LAZILY: EXPLAIN runs no more jobs than the unfiltered form (r17)") {
    // VERDICT r16: the fill column's bounded collect made planning a
    // filtered single-probe serve execute it — the ONLY query surface
    // where EXPLAIN had data-dependent cost. The r17 shape (global
    // agg over the k-limited serve + explode_outer) is one lazy
    // linear plan, so EXPLAIN pays exactly the resolution-time checks
    // every committed serve pays (probe fetch, routing
    // literalization) and nothing serve-sized: the job count must
    // EQUAL the unfiltered form's, for both routing kinds.
    val wh = tmp("annlazy")
    spark.conf.set("spark.sql.catalog.annlz", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annlz.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding", "label").filter(col("vec_id") < 300)
      .createOrReplaceTempView("annlz_src")
    spark.sql("CREATE TABLE annlz.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annlz_src")
    spark.sql("CALL annlz.system.ann_ensure(index_root => 'lx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 16, refresh_serving => true)").collect()
    spark.sql("CALL annlz.system.ann_ensure(index_root => 'lx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'pq', m => 8)").collect()
    def query(kind: String, filtered: Boolean): String =
      s"EXPLAIN SELECT * FROM graft_ann_search('$wh/lx', '$wh/e', " +
        s"'vec_id', 'embedding', 0, 5, 16, '$kind'" +
        (if (filtered) ", 'label IN (2, 3)'" else "") + ")"
    def jobsDuring(tag: String)(body: => Unit): Int = {
      val sc = spark.sparkContext
      sc.setJobGroup(tag, tag)
      try body finally sc.clearJobGroup()
      Thread.sleep(500) // the status store drains listener events async
      sc.statusTracker.getJobIdsForGroup(tag).length
    }
    for (kind <- Seq("ivf", "pq")) {
      // warm both forms once so lazy first-use init cannot skew counts
      spark.sql(query(kind, filtered = false)).collect()
      spark.sql(query(kind, filtered = true)).collect()
      val ju = jobsDuring(s"lazy-$kind-u") {
        spark.sql(query(kind, filtered = false)).collect() }
      val jf = jobsDuring(s"lazy-$kind-f") {
        spark.sql(query(kind, filtered = true)).collect() }
      // ivf: strict equality — the filter (a lazy semi-join over the
      // candidate scan) and the fill both plan without a job. pq: the
      // tier's DESIGNED construction cost is the pool literalization
      // (the ADC scan collects ≤ pool ids so the full-precision fetch
      // file-prunes), and a filter prefilters INSIDE that pass (the
      // FilteredAnnSpec membership contract), whose semi-join adds
      // exactly its broadcast job — one more than unfiltered, still
      // nothing fill-shaped (the r16 collect added the whole serve)
      val allowedExtra = if (kind == "pq") 1 else 0
      assert(jf == ju + allowedExtra,
        s"$kind: EXPLAIN on the filtered single-probe form ran $jf " +
          s"jobs vs the unfiltered form's $ju (allowed extra: " +
          s"$allowedExtra) — the fill path must plan lazily, never " +
          "execute the serve at resolution time")
    }
    // the deferred plan still serves the r16 contract: fill = the
    // probe's true row count, score-desc order, one all-null fill = 0
    // row on a zero-match filter (pinned in the filter-tail test —
    // this re-checks through the SAME root EXPLAIN just planned)
    val rows = spark.sql(
      s"SELECT vec_id, score, fill FROM graft_ann_search('$wh/lx', " +
        s"'$wh/e', 'vec_id', 'embedding', 0, 5, 16, 'ivf', " +
        "'label IN (2, 3)')").collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(2) == rows.length),
      s"deferred fill must report the true row count: ${rows.toSeq}")
  }

  test("ann_ensure's default m adapts to the embedding width; fill survives a probe_id-named id column") {
    val wh = tmp("annadapt")
    spark.conf.set("spark.sql.catalog.annad", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annad.warehouse", wh)
    // a 24-dim corpus: the old fixed default m=8 divided it, a fixed
    // m=16 would hard-error under the r15 d%m==0 rule — the default
    // must adapt (largest divisor of 24 at most 16 = 12)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select(col("vec_id").as("probe_id"),
        slice(col("embedding"), 1, 24).as("embedding"))
      .filter(col("probe_id") < 200)
      .createOrReplaceTempView("annad_src")
    spark.sql("CREATE TABLE annad.e TBLPROPERTIES ('key'='probe_id') " +
      "AS SELECT * FROM annad_src")
    spark.sql("CALL annad.system.ann_ensure(index_root => 'ax', " +
      "table => 'e', id_col => 'probe_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 16)").collect()
    spark.sql("CALL annad.system.ann_ensure(index_root => 'ax', " +
      "table => 'e', id_col => 'probe_id', emb_col => 'embedding', " +
      "kind => 'pq')").collect()
    assert(spark.sql(
      s"SELECT max(sub) FROM graft_table('$wh/ax/pq_codebooks')")
      .head().getInt(0) == 11,
      "the defaulted m must be the largest divisor of 24 at most 16 (12)")
    // the SAME fixture's id column is literally named probe_id — a
    // single-probe FILTERED serve must not misroute into the batch
    // fill branch (fill would read 1 and the order flip id-major):
    // fill reports the probe's true row count, score-desc order holds
    val rows = spark.sql(
      s"SELECT probe_id, score, fill FROM graft_ann_search('$wh/ax', " +
        s"'$wh/e', 'probe_id', 'embedding', 0, 5, 16, 'ivf', " +
        "'probe_id IN (7, 12, 23)')")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(rows.map(_._1).toSet == Set(7L, 12L, 23L), rows.toSeq.toString)
    assert(rows.forall(_._3 == 3),
      s"single-probe fill must be the probe's row count, never the " +
        s"batch branch's per-id 1: ${rows.toSeq}")
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-_).toSeq,
      s"single filtered results keep score-desc order: ${rows.toSeq}")
  }

  test("ann_ensure spill: SQL-built spilled root serves deduped through the door; stats expose the eps; non-ivf refuses") {
    val wh = tmp("annspill")
    spark.conf.set("spark.sql.catalog.annsp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annsp.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 300)
      .createOrReplaceTempView("annsp_src")
    spark.sql("CREATE TABLE annsp.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annsp_src")
    spark.sql("CALL annsp.system.ann_ensure(index_root => 'sx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 16, spill => 0.2D, " +
      "refresh_serving => true)").collect()
    // the door serves the spilled root with no duplicate ids, and at
    // full width it is the exact top-k (spill adds candidates only)
    val served = spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/sx', '$wh/e', " +
        "'vec_id', 'embedding', 0, 10, 2, 'ivf')")
      .collect().map(_.getLong(0)).toSeq
    assert(served.distinct.size == served.size,
      s"the spilled door must dedup boundary vectors: $served")
    val exact = spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id, vec_cosine_sim(embedding,
         |    (SELECT embedding FROM annsp.e WHERE vec_id = 0)) AS s
         |  FROM annsp.e)
         |ORDER BY s DESC, vec_id LIMIT 10""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(spark.sql(
      s"SELECT vec_id FROM graft_ann_search('$wh/sx', '$wh/e', " +
        "'vec_id', 'embedding', 0, 10, 16, 'ivf')")
      .collect().map(_.getLong(0)).toSeq == exact,
      "full width on a spilled root must serve the exact top-k")
    // the filter tail composes with spill (prefilter + dedup)
    val filtered = spark.sql(
      s"SELECT vec_id, fill FROM graft_ann_search('$wh/sx', '$wh/e', " +
        "'vec_id', 'embedding', 0, 5, 2, 'ivf', 'vec_id % 2 = 0')")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(filtered.map(_._1).distinct.size == filtered.size &&
      filtered.forall(_._1 % 2 == 0),
      s"filtered spilled serve: exact membership, no dups: " +
        s"${filtered.toSeq}")
    // ann_stats surfaces the frozen eps (x 1e6)
    val eps = spark.sql("CALL annsp.system.ann_stats(" +
      "index_root => 'sx', table => 'e')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .apply("ivf_spill_eps_e6")
    assert(eps == 200000L, s"stats must expose the stored eps: $eps")
    // spill on a non-ivf kind refuses by name
    val e = intercept[Exception](spark.sql(
      "CALL annsp.system.ann_ensure(index_root => 'sx2', " +
        "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
        "kind => 'hnsw', spill => 0.2D)").collect())
    assert(e.getMessage.contains("multi-assignment") &&
      e.getMessage.contains("ivf"), e.getMessage)
  }

  test("ann_spill_preview prices the spill knob: one pass, monotone curve, matches the build") {
    val wh = tmp("annspillprev")
    spark.conf.set("spark.sql.catalog.annpv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annpv.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 300)
      .createOrReplaceTempView("annpv_src")
    spark.sql("CREATE TABLE annpv.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annpv_src")
    // no centroids yet: the preview refuses with the ensure remedy —
    // it measures the root's OWN quantizer, never a hypothetical one
    val e = intercept[Exception](spark.sql(
      "CALL annpv.system.ann_spill_preview(index_root => 'px', " +
        "table => 'e', id_col => 'vec_id', emb_col => 'embedding')")
      .collect())
    assert(e.getMessage.contains("no committed IVF centroids") &&
      e.getMessage.contains("ann_ensure"), e.getMessage)
    spark.sql("CALL annpv.system.ann_ensure(index_root => 'px', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 16)").collect()
    val curve = spark.sql(
      "CALL annpv.system.ann_spill_preview(index_root => 'px', " +
        "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
        "max_eps => 0.2D)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // ladder doubles from 0.01 and is capped at max_eps
    assert(curve.map(_._1).toSeq ==
      Seq(10000L, 20000L, 40000L, 80000L, 160000L, 200000L),
      s"ladder: ${curve.toSeq}")
    assert(curve.forall(_._4 == 300L), s"rows: ${curve.toSeq}")
    // the fraction is monotone in eps (a wider band can only admit
    // more vectors)
    assert(curve.map(_._3).toSeq == curve.map(_._3).sorted.toSeq,
      s"monotone: ${curve.toSeq}")
    // the preview counts EXACTLY what the build would land: a real
    // spilled build at a rung's eps multi-assigns that many rows
    import graft.sources.VersionedScan
    val built = AnnIndex.ensureIvf(spark,
      s"$wh/px2", VersionedScan.read(spark, s"$wh/e"),
      "vec_id", "embedding", 16, spill = 0.04)
    // px2 trains its own centroids — preview against px2 so the
    // quantizers match
    val prevPx2 = spark.sql(
      "CALL annpv.system.ann_spill_preview(index_root => 'px2', " +
        "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
        "max_eps => 0.04D)")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val builtSpilled = VersionedScan.read(spark,
        AnnIndex.ivfAssignmentsTable(s"$wh/px2"))
      .filter(col("cid2").isNotNull).count()
    assert(prevPx2(40000L) == builtSpilled,
      s"the preview must count what the build lands: " +
        s"${prevPx2(40000L)} vs $builtSpilled")
  }

  test("ann_tune walks the width ladder to the cheapest target-meeting width") {
    val wh = tmp("anntuune")
    spark.conf.set("spark.sql.catalog.anntu", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.anntu.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 300)
      .createOrReplaceTempView("anntu_src")
    spark.sql("CREATE TABLE anntu.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM anntu_src")
    spark.sql("CALL anntu.system.ann_ensure(index_root => 'tx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 16)").collect()
    // target 1.0 is guaranteed meetable at width 16 (= every list, the
    // exact serve), so the walk must terminate with a chosen row; the
    // laws are structural — exactly ONE chosen row, it is the LAST,
    // every rung before it measured BELOW the target (minimality on
    // the doubling ladder), and the rungs double from 1
    val curve = spark.sql("CALL anntu.system.ann_tune(" +
      "index_root => 'tx', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding', kind => 'ivf', k => 10, " +
      "target_recall => 1.0D, probes => 16, max_width => 16)")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2)))
    assert(curve.nonEmpty && curve.last._3,
      s"the walk must end on the chosen width: ${curve.toSeq}")
    assert(curve.count(_._3) == 1,
      s"exactly one chosen row: ${curve.toSeq}")
    assert(curve.init.forall(_._2 < 1000000L),
      s"every rung before the chosen one measured below target — " +
        s"the chosen width is minimal on the ladder: ${curve.toSeq}")
    assert(curve.map(_._1).toSeq ==
      Iterator.iterate(1)(_ * 2).take(curve.length).toSeq,
      s"rungs double from 1: ${curve.toSeq}")
    assert(curve.last._2 == 1000000L,
      s"the all-lists rung serves exactly: ${curve.toSeq}")
    // an unmeetable target refuses LOUDLY with the max width's
    // measured recall in the error — the caller learns whether to
    // raise max_width or improve the tier
    val e = intercept[Exception](spark.sql("CALL anntu.system.ann_tune(" +
      "index_root => 'tx', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding', kind => 'ivf', k => 10, " +
      "target_recall => 0.999D, probes => 16, max_width => 1)")
      .collect())
    assert(e.getMessage.contains("not met at max width 1") &&
      e.getMessage.contains("measured"), e.getMessage)
    // the hnsw ladder starts at k (the effective beam is max(ef, k)):
    // a beam wider than the corpus recovers the exact top-k, so the
    // chosen width exists and the first rung is k
    spark.sql("CALL anntu.system.ann_ensure(index_root => 'tx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'hnsw')").collect()
    val hCurve = spark.sql("CALL anntu.system.ann_tune(" +
      "index_root => 'tx', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding', kind => 'hnsw', k => 10, " +
      "target_recall => 1.0D, probes => 8, max_width => 1024)")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2)))
    assert(hCurve.head._1 == 10,
      s"the hnsw ladder floors at k: ${hCurve.toSeq}")
    assert(hCurve.last._3 && hCurve.last._2 == 1000000L,
      s"a beam past the corpus size meets target 1.0: ${hCurve.toSeq}")
    // the pool column (r16): pq rungs report the door's width-scaled
    // rerank pool — the curve names BOTH knobs it exercised; kinds
    // without a pool report -1
    spark.sql("CALL anntu.system.ann_ensure(index_root => 'tx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'pq', m => 8)").collect()
    val pqCurve = spark.sql("CALL anntu.system.ann_tune(" +
      "index_root => 'tx', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding', kind => 'pq', k => 10, " +
      "target_recall => 0.9D, probes => 8, max_width => 16)")
      .collect().map(r => (r.getInt(0), r.getInt(3)))
    assert(pqCurve.forall { case (w, pool) =>
        pool == graft.vector.AnnIndex.pqRerankPool(10, w) },
      s"pq rungs must report the door's own pool: ${pqCurve.toSeq}")
    val ivfPools = spark.sql("CALL anntu.system.ann_tune(" +
      "index_root => 'tx', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding', kind => 'ivf', k => 10, " +
      "target_recall => 1.0D, probes => 16, max_width => 16)")
      .collect().map(_.getInt(3))
    assert(ivfPools.forall(_ == -1),
      s"non-pq rungs report pool = -1: ${ivfPools.toSeq}")
  }

  test("ann_spill_tune composes price x value: cheapest (eps, width) pair chosen; refusal names the best-achievable pair (r17)") {
    val wh = tmp("annsptune")
    spark.conf.set("spark.sql.catalog.annst", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annst.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 300)
      .createOrReplaceTempView("annst_src")
    spark.sql("CREATE TABLE annst.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annst_src")
    spark.sql("CALL annst.system.ann_ensure(index_root => 'vx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 32)").collect()
    val curve = spark.sql("CALL annst.system.ann_spill_tune(" +
      "index_root => 'vx', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'embedding', k => 10, target_recall => 0.95D, " +
      "probes => 8, max_width => 32, max_eps => 0.2D)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // exactly ONE chosen pair, and it meets the target
    val chosenRows = curve.filter(_._6)
    assert(chosenRows.length == 1, s"one chosen pair: ${curve.toSeq}")
    val chosen = chosenRows.head
    assert(chosen._4 >= 950000L,
      s"the chosen pair must meet the target: ${curve.toSeq}")
    // PAIR MINIMALITY on the measured grid: no other measured
    // target-meeting (eps, width) costs less than the chosen one
    val meeting = curve.filter(r => r._3 > 0 && r._4 >= 950000L)
    assert(meeting.nonEmpty && meeting.forall(_._5 >= chosen._5),
      s"chosen must be the cheapest meeting pair: ${curve.toSeq}")
    // the plain width-only baseline always walks FIRST (eps = 0,
    // fraction 0) — the curve contains ann_tune's answer to compare
    assert(curve.head._1 == 0L && curve.head._2 == 0L,
      s"plain rung walks first: ${curve.toSeq}")
    // the cost column IS the scanned-rows proxy: width x (1 + frac)
    curve.filter(_._3 > 0).foreach { r =>
      val expect = math.round(r._3 * (1.0 + r._2 / 1e6) * 1e6)
      assert(math.abs(r._5 - expect) <= r._3 * 2 + 2,
        s"cost = width x (1 + frac): $r in ${curve.toSeq}")
    }
    // a preview-pruned rung reports its priced fraction and nothing
    // else — no build was paid for it
    curve.filter(_._3 == -1).foreach { r =>
      assert(r._4 == -1L && r._5 == -1L && !r._6,
        s"pruned rungs carry no measurement: $r")
    }
    // per-rung widths walk the doubling ladder from 1
    curve.filter(_._3 > 0).groupBy(_._1).foreach { case (_, rs) =>
      val ws = rs.map(_._3).toSeq
      assert(ws == Iterator.iterate(1)(_ * 2).take(ws.length).toSeq,
        s"widths double from 1 within a rung: ${curve.toSeq}")
    }
    // an unmeetable target refuses naming the BEST-ACHIEVABLE pair —
    // the operator learns which knob to raise
    val e = intercept[Exception](spark.sql(
      "CALL annst.system.ann_spill_tune(index_root => 'vx', " +
        "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
        "k => 10, target_recall => 0.999D, probes => 8, " +
        "max_width => 1, max_eps => 0.2D)").collect())
    assert(e.getMessage.contains("best achievable") &&
      e.getMessage.contains("eps="), e.getMessage)
    // the shadow builds never touch the root: still exactly one
    // committed assignments generation, and it stays PLAIN
    assert(graft.sources.Versioned.latestVersion(spark,
      AnnIndex.ivfAssignmentsTable(s"$wh/vx")) == 1L,
      "tuning must not commit to the tuned root")
    assert(!VersionedScan.read(spark,
      AnnIndex.ivfAssignmentsTable(s"$wh/vx")).columns.contains("cid2"),
      "the tuned root keeps its plain scheme")
  }

  test("ann_recall measures recall@k against the exact oracle") {
    val wh = tmp("annrecall")
    spark.conf.set("spark.sql.catalog.annr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annr.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select(col("vec_id"), col("embedding"),
        // a SECOND embedding column with different neighbor geometry
        // (an 8-d prefix slice) — the memo-key independence fixture
        slice(col("embedding"), 1, 8).as("emb2"))
      .filter(col("vec_id") < 200)
      .createOrReplaceTempView("annr_src")
    spark.sql("CREATE TABLE annr.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annr_src")
    spark.sql("CALL annr.system.ann_ensure(index_root => 'rx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf', k => 8)").collect()
    spark.sql("CALL annr.system.ann_ensure(index_root => 'rx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'hnsw')").collect()
    def recall(kind: String, width: Int): (Long, Long) = {
      val r = spark.sql("CALL annr.system.ann_recall(" +
        s"index_root => 'rx', table => 'e', id_col => 'vec_id', " +
        s"emb_col => 'embedding', kind => '$kind', probes => 4, " +
        s"k => 5, width => $width)").head()
      (r.getLong(0), r.getLong(1))
    }
    // width = every list / a beam wider than the corpus ⇒ the served
    // set IS the exact set: recall must be 1.0 (the fixture's own pin)
    val (full, pairs) = recall("ivf", 8)
    assert(pairs == 20L, s"4 probes x k=5 oracle pairs, got $pairs")
    assert(full == 1000000L, s"all-lists ivf recall must be exact: $full")
    assert(recall("hnsw", 1024)._1 == 1000000L,
      "a beam wider than the corpus must recover the exact top-k")
    // a narrow width can only do worse or equal — pinned against the
    // all-lists run, not just the [0,1] range
    val narrow = recall("ivf", 1)._1
    assert(narrow >= 0L && narrow <= full,
      s"narrow width must not beat the all-lists recall: $narrow vs $full")
    val e = intercept[Exception](recall("lsh", 4))
    assert(e.getMessage.contains("unknown kind"), e.getMessage)
    // ORACLE MEMO INDEPENDENCE (r14): a second embedding column of the
    // SAME (table, version) measured at the same (probes, k) must get
    // ITS OWN exact oracle — the pre-fix memo key omitted the column
    // names, so this measurement would silently reuse `embedding`'s
    // cached ground truth and read < 1.0 at an exact-recovering width
    spark.sql("CALL annr.system.ann_ensure(index_root => 'rx2', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'emb2', " +
      "kind => 'hnsw')").collect()
    val emb2Full = spark.sql("CALL annr.system.ann_recall(" +
      "index_root => 'rx2', table => 'e', id_col => 'vec_id', " +
      "emb_col => 'emb2', kind => 'hnsw', probes => 4, k => 5, " +
      "width => 1024)").head().getLong(0)
    assert(emb2Full == 1000000L,
      s"emb2's wide-beam recall must be exact against ITS OWN oracle, " +
        s"not embedding's cached one: $emb2Full")
  }

  test("ann_vacuum reclaims dead index generations; serving survives") {
    val wh = tmp("annvac")
    spark.conf.set("spark.sql.catalog.annv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.annv.warehouse", wh)
    graft.sources.Tables.embeddings(spark, graft.TestSpark.sf)
      .select("vec_id", "embedding").filter(col("vec_id") < 200)
      .createOrReplaceTempView("annv_src")
    spark.sql("CREATE TABLE annv.e TBLPROPERTIES ('key'='vec_id') " +
      "AS SELECT * FROM annv_src")
    spark.sql("CALL annv.system.ann_ensure(index_root => 'vx', " +
      "table => 'e', id_col => 'vec_id', emb_col => 'embedding', " +
      "kind => 'ivf')").collect()
    // a retrain lands a NEW generation and keeps the old one readable —
    // exactly the history ann_vacuum exists to reclaim
    val emb = Versioned.read(spark, s"$wh/e")
    AnnIndex.retrainIvf(spark, s"$wh/vx", emb, "vec_id", "embedding")
    assert(Versioned.latestVersion(spark,
      AnnIndex.ivfCentroidsTable(s"$wh/vx")) >= 2L,
      "retrain must mint a new centroids generation")
    val out = spark.sql("CALL annv.system.ann_vacuum(" +
      "index_root => 'vx', keep_versions => 1)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // only committed tiers report: an ivf-only root has no pq/nsw rows
    assert(out.keySet == Set("ivf_centroids", "ivf_assignments"),
      s"only the committed artifacts may report: $out")
    assert(out.values.sum > 0L,
      s"vacuum must reclaim the dead generation's files: $out")
    // the live generation is untouched — SQL serving still answers
    val served = spark.sql(
      s"SELECT * FROM graft_ann_search('$wh/vx', '$wh/e', 'vec_id', " +
        "'embedding', 0, 5)").collect()
    assert(served.length == 5, "post-vacuum serving must be unharmed")
  }
}
