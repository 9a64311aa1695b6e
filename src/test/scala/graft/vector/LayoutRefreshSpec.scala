package graft.vector

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.{Tables, Versioned, VersionedScan}

/** The derived serving layouts (`ivf_lists`, `pq_lists`, `nsw_layout`)
  * under every event that can move them, one row per kind × event. Each
  * row builds a layout over its own committed corpus, applies the event
  * (re-ensuring the index after a corpus change), refreshes, and checks:
  *   - the freshness key reads 0 while the layout is stale (after a
  *     corpus change or a foreign write) and 1 after the refresh;
  *   - the refreshed layout's rows equal the from-scratch derivation
  *     over the current generations;
  *   - a small delta carries untouched files by path, while `force` and
  *     a foreign write rebuild and carry none;
  *   - a second optimize returns the same version.
  * One more row per kind pins the committed stamp strings to their
  * persisted format, so a layout built by an older release stays fresh
  * with no re-cluster. */
class LayoutRefreshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val emb = Tables.embeddings(spark, TestSpark.sf)
    .select("vec_id", "embedding")

  /** One layout kind: its table and key column, how to (re-)ensure the
    * index it derives from, how to optimize it, its freshness key, and
    * its from-scratch derivation. */
  private case class Kind(name: String, key: String,
      table: String => String,
      ensure: (String, DataFrame) => Unit,
      optimize: (String, String, Boolean) => Long,
      fresh: (String, String) => Long,
      scratch: (String, DataFrame) => DataFrame)

  private val ivf = Kind("ivf", "cid", AnnIndex.ivfListsTable,
    (root, c) => AnnIndex.ensureIvf(spark, root, c, "vec_id", "embedding", 16),
    (root, t, force) => AnnIndex.optimizeIvfServing(spark, root, t, "vec_id",
      "embedding", force = force),
    (root, t) => AnnIndex.listsFreshness(spark, root, t)("ivf_lists_fresh"),
    (root, c) => AnnIndex.loadIvf(spark, root)._2.select("vec_id", "cid")
      .join(c, "vec_id").select(col("cid"), col("vec_id"), col("embedding")))
  private val pq = Kind("pq", "cid", AnnIndex.pqListsTable,
    (root, c) => {
      AnnIndex.ensureIvf(spark, root, c, "vec_id", "embedding", 16)
      AnnIndex.ensurePq(spark, root, c, "vec_id", "embedding", m = 8, k = 16)
    },
    (root, _, force) => AnnIndex.optimizePqServing(spark, root, "vec_id",
      force),
    (root, _) => AnnIndex.pqListsFreshness(spark, root)("pq_lists_fresh"),
    (root, _) => AnnIndex.loadPq(spark, root)._2
      .select("vec_id", "sub", "code")
      .join(AnnIndex.loadIvf(spark, root)._2.select("vec_id", "cid"),
        "vec_id")
      .select(col("cid"), col("vec_id"), col("sub"), col("code")))
  private val hnsw = Kind("hnsw", "shard", AnnIndex.nswLayoutTable,
    (root, c) => AnnIndex.ensureNsw(spark, root, c, "vec_id", "embedding"),
    (root, t, force) => AnnIndex.optimizeNswServing(spark, root, t, "vec_id",
      "embedding", force = force),
    (root, t) =>
      AnnIndex.nswLayoutFreshness(spark, root, t)("nsw_layout_fresh"),
    // the fixture's corpus sizes the index at the 4-shard floor
    (_, c) => c.select(pmod(col("vec_id").cast("long"), lit(4L)).as("shard"),
      col("vec_id"), col("embedding")))

  /** A layout's rows as sorted (key, id, hash of the rest) triples. */
  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long)] = {
    val Array(key, id, rest @ _*) = df.columns
    df.select(col(key).cast("long"), col(id).cast("long"),
        xxhash64(rest.map(col): _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
  }

  /** A committed corpus (3/4 of the embeddings, 4 files) and an index
    * root whose layout of `kind` is built: (root, corpus table). */
  private def fixture(kind: Kind): (String, String) = {
    val dir = Files.createTempDirectory(s"layout_${kind.name}").toString
    val (root, corpusT) = (dir + "/ix", dir + "/emb")
    Versioned.commit(spark, corpusT, emb.filter(col("vec_id") % 4 =!= 0),
      Some("vec_id"), 4)
    kind.ensure(root, VersionedScan.read(spark, corpusT))
    assert(kind.optimize(root, corpusT, false) == 1L)
    assert(kind.fresh(root, corpusT) == 1L)
    (root, corpusT)
  }

  private def files(table: String, v: Long): Set[String] =
    Versioned.snapshot(spark, table, v).files.map(_.path).toSet

  /** An event: what it does to (root, corpus table, layout table), and
    * whether it leaves the layout stale, carries untouched files, or
    * rebuilds it whole. */
  private case class Event(name: String,
      run: (Kind, String, String, String) => Unit,
      stale: Boolean, force: Boolean = false, carries: Boolean = true)

  private def corpusEvent(name: String)(change: String => Unit) =
    Event(name, (kind, root, corpusT, _) => {
      change(corpusT)
      kind.ensure(root, VersionedScan.read(spark, corpusT))
    }, stale = true)

  private val events = Seq(
    corpusEvent("1-row append") { t =>
      Versioned.appendCommit(spark, t, emb.filter(col("vec_id") === 0L),
        Some("vec_id"), 1)
    },
    corpusEvent("MoR update") { t =>
      Versioned.upsertMergeOnRead(spark, t,
        emb.filter(col("vec_id") === 5L).withColumn("embedding",
          expr("transform(embedding, x -> x * 2)")
            .cast(emb.schema("embedding").dataType)),
        "vec_id", files = 1)
    },
    corpusEvent("MoR delete") { t =>
      Versioned.deleteMergeOnRead(spark, t,
        emb.filter(col("vec_id") === 6L).select("vec_id"), "vec_id")
    },
    // a row-preserving binpack keeps the stamp: nothing to refresh
    Event("row-preserving compactCommit", (_, _, _, lT) =>
      Versioned.compactCommit(spark, lT, targetFiles = 1), stale = false),
    // an unstamped foreign write may have changed rows: full rebuild
    Event("foreign unstamped write", (kind, _, _, lT) =>
      Versioned.appendCommit(spark, lT,
        VersionedScan.read(spark, lT).limit(1), Some(kind.key), 1),
      stale = true, carries = false),
    Event("force", (_, _, _, _) => (), stale = false, force = true,
      carries = false))

  for (kind <- Seq(ivf, pq, hnsw); ev <- events)
    test(s"layout row: ${kind.name}, ${ev.name}") {
      val (root, corpusT) = fixture(kind)
      val lT = kind.table(root)
      ev.run(kind, root, corpusT, lT)
      val before = Versioned.latestVersion(spark, lT)
      assert(kind.fresh(root, corpusT) == (if (ev.stale) 0L else 1L),
        "freshness before the refresh")
      val lv = kind.optimize(root, corpusT, ev.force)
      assert(kind.fresh(root, corpusT) == 1L, "freshness after the refresh")
      val refreshes = ev.stale || ev.force
      assert(lv == (if (refreshes) before + 1 else before),
        "a stale or forced layout commits once; a fresh one returns as is")
      assert(rowsOf(VersionedScan.read(spark, lT, lv)) == rowsOf(
        kind.scratch(root, VersionedScan.read(spark, corpusT))),
        "the layout's rows must equal the from-scratch derivation")
      val (was, now) = (files(lT, before), files(lT, lv))
      if (!refreshes) assert(now == was)
      else if (ev.carries)
        assert((was intersect now).nonEmpty && was != now,
          s"a small delta rewrites only dirty files: $was vs $now")
      else assert((was intersect now).isEmpty,
        s"a rebuild carries no file: $was vs $now")
      assert(kind.optimize(root, corpusT, false) == lv,
        "a second optimize must return the same version")
    }

  /** The persisted stamp format of each kind, at the latest generations. */
  private def expectedStamp(kind: Kind, root: String, corpusT: String) = {
    def v(t: String) = Versioned.latestVersion(spark, t)
    def fp(t: String) = Versioned.manifestFingerprint(spark, t, v(t))
    val (aT, qT, h) = (AnnIndex.ivfAssignmentsTable(root),
      AnnIndex.pqCodesTable(root), corpusT.hashCode)
    kind.name match {
      case "ivf" =>
        s"ivf-lists-a${v(aT)}-g${fp(aT)}-t$h-c${v(corpusT)}-f${fp(corpusT)}"
      case "pq" => s"pq-lists-a${v(aT)}-f${fp(aT)}-q${v(qT)}-g${fp(qT)}"
      case _ => s"nsw-layout-t$h-c${v(corpusT)}-f${fp(corpusT)}-s4"
    }
  }

  for (kind <- Seq(ivf, pq, hnsw))
    test(s"layout stamp format: ${kind.name}") {
      val (root, corpusT) = fixture(kind)
      val lT = kind.table(root)
      assert(Versioned.snapshot(spark, lT).txn ==
        Some(expectedStamp(kind, root, corpusT)), "the bootstrap stamp")
      events.head.run(kind, root, corpusT, lT)
      assert(kind.optimize(root, corpusT, false) == 2L)
      assert(Versioned.snapshot(spark, lT).txn ==
        Some(expectedStamp(kind, root, corpusT)),
        "the O(delta) refresh's stamp")
    }
}
