package graft.vector

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** [[AnnIndex]] — persisted ANN index tables with d11-style
  * incremental maintenance:
  *   - run 2 over an unchanged corpus mints NO version (zero rebuild,
  *     observable in the version numbers the s15 gate emits);
  *   - an incremental refresh against the FROZEN trained structures is
  *     bit-identical to a full assignment/encode pass over the grown
  *     corpus with those same structures;
  *   - serving over the committed index returns exactly what the
  *     build-per-run tier (s03/s12) returns on the same data, so the
  *     recall floors measured in IvfSpec/PqAnnSpec carry over
  *     unchanged. */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val emb = Tables.embeddings(spark, TestSpark.sf)

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"annix_$tag").toString + "/ix"

  test("IVF: zero rebuild when current; incremental == full assign on frozen centroids") {
    val root = freshRoot("ivf")
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    assert(AnnIndex.ensureIvf(spark, root, base, "vec_id", "embedding", 16)
      == (1L, 1L), "first ensure trains + assigns: one commit per table")
    assert(AnnIndex.ensureIvf(spark, root, base, "vec_id", "embedding", 16)
      == (1L, 1L), "an up-to-date index must mint NOTHING on re-ensure")
    // corpus grows; refresh assigns ONLY the delta against the frozen
    // centroids and appends — one new assignments version, centroids
    // untouched
    assert(AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
      == (1L, 2L), "refresh appends assignments, never retrains")
    val (cents, incremental) = AnnIndex.loadIvf(spark, root)
    val full = Ivf.assign(emb, "vec_id", "embedding", cents)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs(incremental) == pairs(full),
      "incremental refresh must be bit-identical to a full assign " +
        "against the same frozen centroids")
    assert(incremental.count() == emb.count())
  }

  test("IVF: serving the committed index == the build-per-run s03 tier") {
    val root = freshRoot("serve")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    val probeDf = emb.orderBy("vec_id").limit(1).select(col("embedding"))
    val persisted = AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4))))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cents = Ivf.centroids(emb, "vec_id", "embedding", 16)
    val rebuilt = Ivf.search(emb,
        Ivf.assign(emb, "vec_id", "embedding", cents), cents,
        "vec_id", "embedding", probeDf, "embedding", k = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(persisted == rebuilt,
      "the committed index must serve exactly what a fresh build serves — " +
        "IvfSpec's recall floor transfers unchanged")
  }

  test("IVF: a crash between the two bootstrap commits is repairable") {
    val root = freshRoot("wedge")
    // simulate the torn bootstrap: centroids landed, assignments never
    graft.sources.Versioned.commit(spark,
      AnnIndex.ivfCentroidsTable(root),
      Ivf.centroids(emb, "vec_id", "embedding", 16), Some("cid"), 1)
    // ensure must finish the bootstrap (reusing the committed
    // centroids, not retraining) instead of wedging on the refresh path
    assert(AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
      == (1L, 1L), "repair completes without minting a second centroids version")
    assert(AnnIndex.loadIvf(spark, root)._2.count() == emb.count())
  }

  test("HNSW: ascending append resumes; committed graph == from-scratch rebuild") {
    val root = freshRoot("nsw")
    val cut = 375L
    val base = emb.filter(col("vec_id") < cut)
    assert(AnnIndex.ensureNsw(spark, root, base, "vec_id", "embedding") == 1L)
    assert(AnnIndex.ensureNsw(spark, root, base, "vec_id", "embedding") == 1L,
      "an up-to-date graph must mint nothing")
    // ascending-id append: every shard resumes its insertion from the
    // stored adjacency; the committed edge set must be bit-identical
    // to building the grown corpus from scratch
    assert(AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding") == 2L)
    val incremental = edgeSet(root)
    val fullRoot = freshRoot("nswfull")
    AnnIndex.ensureNsw(spark, fullRoot, emb, "vec_id", "embedding")
    assert(incremental == edgeSet(fullRoot),
      "resumed construction must produce the full build's exact graph")
  }

  test("HNSW: interleaved inserts rebuild the shard, same graph as full build") {
    val root = freshRoot("nswmix")
    // the BASE skips interleaved ids, so the append is NOT an
    // ascending suffix — the resume prefix is unusable and the shard
    // must fall back to a from-scratch rebuild (still deterministic)
    AnnIndex.ensureNsw(spark, root, emb.filter(col("vec_id") % 3 =!= 1),
      "vec_id", "embedding")
    AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding")
    val fullRoot = freshRoot("nswmixfull")
    AnnIndex.ensureNsw(spark, fullRoot, emb, "vec_id", "embedding")
    assert(edgeSet(root) == edgeSet(fullRoot),
      "out-of-order inserts must converge to the full build's graph")
  }

  test("HNSW: serving the committed graph == the build-per-run s04 tier") {
    import spark.implicits._
    val root = freshRoot("nswserve")
    AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding")
    val probe = emb.orderBy("vec_id").limit(1)
      .select(col("embedding").cast("array<float>")).as[Array[Float]].head()
    val persisted = AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("hnsw", AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.vectorProbe(spark, probe), 10)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = NswAnn.search(emb, "vec_id", "embedding", probe, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(persisted == rebuilt,
      "the committed graph must serve exactly what a fresh build serves — " +
        "NswAnnSpec's recall floor transfers unchanged")
  }

  private def edgeSet(root: String): Set[(Long, Long, Int, Int, Long)] =
    graft.sources.VersionedScan.read(spark, AnnIndex.nswEdgesTable(root))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSet

  /** `emb` with vec_id 5's embedding rewritten (an UPDATE/MERGE on the
    * corpus) — same ids, one changed value. */
  private def updatedCorpus = {
    val dt = emb.schema("embedding").dataType
    emb.withColumn("embedding",
      when(col("vec_id") === 5L,
        expr("transform(embedding, x -> x * 2)").cast(dt))
        .otherwise(col("embedding")))
  }

  test("IVF: an updated embedding re-assigns via MoR upsert; a removed id tombstones") {
    val root = freshRoot("ivfcrud")
    assert(AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
      == (1L, 1L))
    // UPDATE: id 5's vector changed — the vh mismatch must re-assign
    // exactly that id (one MoR upsert version), not report current
    assert(AnnIndex.ensureIvf(spark, root, updatedCorpus,
      "vec_id", "embedding", 16) == (1L, 2L),
      "a changed embedding must mint a refresh, not read as current")
    val (cents, asg) = AnnIndex.loadIvf(spark, root)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs(asg) ==
      pairs(Ivf.assign(updatedCorpus, "vec_id", "embedding", cents)),
      "post-update assignments must equal a full assign over the " +
        "current corpus on the frozen centroids")
    assert(asg.count() == emb.count(), "upsert must not duplicate the id")
    // DELETE: dropping ids must tombstone their assignments
    val shrunk = updatedCorpus.filter(col("vec_id") % 7 =!= 3)
    assert(AnnIndex.ensureIvf(spark, root, shrunk,
      "vec_id", "embedding", 16) == (1L, 3L))
    val after = AnnIndex.loadIvf(spark, root)._2
    assert(after.count() == shrunk.count())
    assert(after.filter(col("vec_id") % 7 === 3).isEmpty,
      "removed ids must not serve from the index")
    // and a re-ensure on the same corpus is current again
    assert(AnnIndex.ensureIvf(spark, root, shrunk,
      "vec_id", "embedding", 16) == (1L, 3L))
  }

  test("HNSW batch serve: one reconstruction per shard per JOB, zero on repeat") {
    import spark.implicits._
    val root = freshRoot("nswbatch")
    AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding")
    val probes = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val b0 = AnnIndex.serveBuilds.get()
    val batch = AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.Frame(emb), "vec_id", "embedding", probes, 5)).collect()
    val b1 = AnnIndex.serveBuilds.get()
    assert(b1 - b0 == 4L,
      s"3 probes over 4 shards must reconstruct each shard ONCE " +
        s"(not per probe); got ${b1 - b0} builds")
    // repeat at the same (index, corpus) state: the executor-side
    // cache serves every shard's graph — zero reconstructions
    val batch2 = AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.Frame(emb), "vec_id", "embedding", probes, 5)).collect()
    assert(AnnIndex.serveBuilds.get() == b1,
      "a repeat search must reuse the cached shard graphs")
    def rows(a: Array[org.apache.spark.sql.Row]) =
      a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(batch) == rows(batch2))
    // per-probe results equal the build-per-run tier exactly — the
    // amortization changes the cost, never the answer
    emb.orderBy("vec_id").limit(3)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().foreach { case (pid, pv) =>
        val single = NswAnn.search(emb, "vec_id", "embedding", pv, k = 5)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val got = batch.filter(_.getLong(0) == pid)
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq
        assert(got == single, s"probe $pid must match the fresh-build tier")
      }
  }

  test("serve cache never survives a drop-root retrain that reuses version numbers") {
    import org.apache.commons.io.FileUtils
    val root = freshRoot("nswgen")
    val corpusA = emb.filter(col("vec_id") < 200L)
    AnnIndex.ensureNsw(spark, root, corpusA, "vec_id", "embedding")
    val probes = corpusA.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    // fill the executor cache for generation 1
    AnnIndex.serve(spark, root, AnnRequest("hnsw", AnnCorpus.Frame(corpusA),
        "vec_id", "embedding", probes, 5)).collect()
    // the documented retrain: drop the root, rebuild over a DIFFERENT
    // corpus — version numbers restart at 1, same (table, version)
    FileUtils.deleteDirectory(new java.io.File(root))
    val corpusB = emb.filter(col("vec_id") >= 100L && col("vec_id") < 300L)
    AnnIndex.ensureNsw(spark, root, corpusB, "vec_id", "embedding")
    val probesB = corpusB.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val served = AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.Frame(corpusB), "vec_id", "embedding", probesB, 5))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // ids < 100 exist ONLY in the dead generation's graph: serving one
    // would prove a stale cache hit across generations
    assert(served.forall(_ >= 100L),
      s"retrained index served dead-generation rows: $served")
    // and the answers equal a fresh build-per-run search (no cache
    // artifact of any kind)
    val fresh = freshRoot("nswgenfresh")
    AnnIndex.ensureNsw(spark, fresh, corpusB, "vec_id", "embedding")
    val freshServed = AnnIndex.serve(spark, fresh, AnnRequest("hnsw",
        AnnCorpus.Frame(corpusB), "vec_id", "embedding", probesB, 5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val gotServed = AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.Frame(corpusB), "vec_id", "embedding", probesB, 5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotServed == freshServed)
  }

  test("HNSW reshard: one commit, bit-identical to a fresh build at the new count") {
    val root = freshRoot("nswresh")
    assert(AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding",
      shards = 2) == 1L)
    assert(AnnIndex.reshardNsw(spark, root, emb, "vec_id", "embedding", 4)
      == 2L, "reshard lands as one commit on the existing table")
    val fresh = freshRoot("nswresh4")
    AnnIndex.ensureNsw(spark, fresh, emb, "vec_id", "embedding", shards = 4)
    assert(edgeSet(root) == edgeSet(fresh),
      "resharded graph must equal a from-scratch build at the new count")
    // the migrated shard count is now the stored parameter: a
    // parameterless re-ensure reads as current, not as drift
    assert(AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding") == 2L)
    // reshard EAGERLY dropped the pre-reshard generation's cached
    // graphs (they can never be served again — the 2.2M rehearsal
    // OOM'd holding them through the rebuild, PLANS r12); serving the
    // new layout repopulates with exactly the new shard count
    val probes = emb.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    AnnIndex.serve(spark, root, AnnRequest("hnsw", AnnCorpus.Frame(emb),
        "vec_id", "embedding", probes, 5)).collect()
    assert(AnnIndex.serveStats(spark, root)("cached_shard_graphs") == 4L,
      "post-reshard cache must hold only the new generation's graphs")
  }

  test("HNSW shard auto-sizing follows the corpus size, prime above the floor") {
    assert(AnnIndex.nswAutoShards(0L) == 4)
    assert(AnnIndex.nswAutoShards(1L << 18) == 4)
    assert(AnnIndex.nswAutoShards((1L << 18) * 6 + 1) == 7)
    // composite raw counts round to the next prime: pmod membership
    // must spread strided id spaces (a stride-10 corpus at 10 shards
    // would put every row in shard 0 — the task-OOM the sizing exists
    // to prevent)
    assert(AnnIndex.nswAutoShards(100L * (1L << 18)) == 101)
    assert(AnnIndex.nswAutoShards(10L * (1L << 18)) == 11)
    assert(AnnIndex.nextPrime(4) == 5)
    assert(AnnIndex.nextPrime(14) == 17)
  }

  test("a mixed NEW+CHANGED+REMOVED delta lands as ONE atomic commit") {
    val root = freshRoot("ivfatomic")
    // base misses the %4==0 ids (they will classify NEW), contains
    // id 5 (CHANGED via updatedCorpus) and id 11 (REMOVED below)
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    assert(AnnIndex.ensureIvf(spark, root, base, "vec_id", "embedding", 16)
      == (1L, 1L))
    val mixed = updatedCorpus.filter(col("vec_id") =!= 11L)
    // one ensure, all three classes non-empty → exactly ONE new
    // version: a reader (or a crash) can never observe the upserts
    // without the deletes or vice versa
    assert(AnnIndex.ensureIvf(spark, root, mixed, "vec_id", "embedding", 16)
      == (1L, 2L),
      "the whole classified delta must land as one commit, not one per class")
    val (cents, asg) = AnnIndex.loadIvf(spark, root)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs(asg) == pairs(Ivf.assign(mixed, "vec_id", "embedding", cents)),
      "the atomic refresh must equal a full assign over the current corpus")
    assert(asg.count() == mixed.count())
  }

  test("PQ: caller m drift is inert — codes always encode under the trained m") {
    val root = freshRoot("pqm")
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    assert(AnnIndex.ensurePq(spark, root, base, "vec_id", "embedding",
      m = 4, k = 16) == (1L, 1L))
    // refresh passes the DEFAULT m = 8 (a CALL that omitted the
    // parameter): the delta must still encode under the trained m = 4,
    // or its codes would be incomparable garbage
    assert(AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding",
      m = 8, k = 16) == (1L, 2L))
    val (books, codes) = AnnIndex.loadPq(spark, root)
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "sub", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(triples(codes) ==
      triples(Pq.encode(emb, "vec_id", "embedding", books, m = 4)),
      "incremental codes must match a full encode at the trained m")
  }

  test("HNSW: updated/deleted vectors invalidate the resume prefix, not just new ids") {
    val root = freshRoot("nswcrud")
    assert(AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding") == 1L)
    // UPDATE: same id set, one changed vector — must mint a rebuild
    // whose graph equals a from-scratch build over the current corpus
    assert(AnnIndex.ensureNsw(spark, root, updatedCorpus,
      "vec_id", "embedding") == 2L,
      "a changed vector must not read as up-to-date")
    val fullRoot = freshRoot("nswcrudfull")
    AnnIndex.ensureNsw(spark, fullRoot, updatedCorpus, "vec_id", "embedding")
    assert(edgeSet(root) == edgeSet(fullRoot))
    // DELETE: a removed id must mint a rebuild too
    val shrunk = updatedCorpus.filter(col("vec_id") =!= 11L)
    assert(AnnIndex.ensureNsw(spark, root, shrunk,
      "vec_id", "embedding") == 3L)
    val shrunkRoot = freshRoot("nswcrudshrunk")
    AnnIndex.ensureNsw(spark, shrunkRoot, shrunk, "vec_id", "embedding")
    assert(edgeSet(root) == edgeSet(shrunkRoot))
  }

  test("an emptied corpus drains the index cleanly and re-ensures as current") {
    val root = freshRoot("ivfempty")
    val base = emb.filter(col("vec_id") < 100L)
    AnnIndex.ensureIvf(spark, root, base, "vec_id", "embedding", 16)
    val none = emb.filter(lit(false))
    // every indexed id is REMOVED — one MoR delete version
    assert(AnnIndex.ensureIvf(spark, root, none,
      "vec_id", "embedding", 16) == (1L, 2L))
    assert(AnnIndex.loadIvf(spark, root)._2.isEmpty)
    // and the empty-vs-empty staleness aggregate must report current,
    // not NPE on a null sum
    assert(AnnIndex.ensureIvf(spark, root, none,
      "vec_id", "embedding", 16) == (1L, 2L))
    val nroot = freshRoot("nswempty")
    AnnIndex.ensureNsw(spark, nroot, base, "vec_id", "embedding")
    assert(AnnIndex.ensureNsw(spark, nroot, none,
      "vec_id", "embedding") == 2L, "drain commits a rebuild")
    assert(AnnIndex.ensureNsw(spark, nroot, none,
      "vec_id", "embedding") == 2L, "empty-vs-empty reads as current")
  }

  test("time-travel serving: the index AS OF a past instant reproduces that retrieval") {
    val root = freshRoot("ivfasof")
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    // generation 1 commits first; the refresh lands strictly later
    AnnIndex.ensureIvf(spark, root, base, "vec_id", "embedding", 16)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    val probeDf = emb.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // AS OF t1 (between the generations): the historical serve must
    // equal what the v1 index served — same plan, older snapshot pins
    val asOf = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.Frame(base), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4),
        pin = AnnPin.AsOf(t1)))))
    val (c1, a1) = (graft.sources.VersionedScan.read(spark,
        AnnIndex.ivfCentroidsTable(root), 1),
      graft.sources.VersionedScan.read(spark,
        AnnIndex.ivfAssignmentsTable(root), 1))
    val v1Serve = rows(Ivf.search(base, a1, c1, "vec_id", "embedding",
      probeDf, "embedding", k = 10, nProbe = 4))
    assert(asOf == v1Serve,
      "AS OF between generations must serve the older index exactly")
    // and the current serve differs in coverage: the refreshed index
    // answers over the grown corpus
    val now = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4)))))
    assert(now.map(_._1).toSet != asOf.map(_._1).toSet ||
      AnnIndex.loadIvf(spark, root)._2.count() > a1.count(),
      "the refreshed index must cover the grown corpus")
  }

  test("IVF centroid auto-sizing follows the corpus size, prime above the floor") {
    assert(AnnIndex.ivfAutoK(0L) == 16)
    assert(AnnIndex.ivfAutoK(16L * (1L << 13)) == 16)
    // per-list bound: k grows with n so a probe's rerank stays
    // ~nProbe × 2^13 rows however large the corpus gets
    assert(AnnIndex.ivfAutoK((1L << 13) * 20 + 1) == 23)
    // composite raw counts round to the next prime: the deterministic
    // trainer SEEDS by pmod(id, k) stratification, and a strided id
    // space under a composite k folds the seed groups onto few
    // residues (stride-10 at k = 10 would seed ONE group)
    assert(AnnIndex.ivfAutoK(100L * (1L << 13)) == 101)
    // ensureIvf with k <= 0 trains at the derived count — observable
    // as the committed centroid-table row count (floor 16 here)
    val root = freshRoot("ivfauto")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding")
    assert(AnnIndex.loadIvf(spark, root)._1.count() == 16L)
  }

  test("IVF retrain: CAS commits at the new k, search == a fresh build at that k") {
    val root = freshRoot("ivfretrain")
    assert(AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
      == (1L, 1L))
    // the operational move for a corpus that outgrew its build-time k:
    // one retrain call lands centroids v2 + full reassign v2 — history
    // preserved (v1 still serves AS OF its instant), versions never reuse
    assert(AnnIndex.retrainIvf(spark, root, emb, "vec_id", "embedding", 32)
      == (2L, 2L), "retrain lands one CAS commit per artifact table")
    val probeDf = emb.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val retrained = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4)))))
    val fresh = freshRoot("ivfretrainfresh")
    AnnIndex.ensureIvf(spark, fresh, emb, "vec_id", "embedding", 32)
    assert(retrained == rows(AnnServe.single(AnnIndex.serve(spark, fresh,
        AnnRequest("ivf", AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4))))),
      "the retrained index must serve exactly what a fresh build at " +
        "the new k serves")
    // the retrained index reads as CURRENT: a follow-up ensure (any k —
    // k only matters at training) mints nothing
    assert(AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
      == (2L, 2L), "post-retrain ensure must mint nothing")
    // versions never reuse: a second retrain lands the NEXT slots (the
    // CAS-at-observed-slot landing is what makes a racing writer —
    // retrain or ensure, whose morCommit publish pins its observed
    // snapshot the same way — fail loudly instead of clobbering;
    // the CAS mechanics themselves are VersionedConcurrencySpec's)
    assert(AnnIndex.retrainIvf(spark, root, emb, "vec_id", "embedding")
      == (3L, 3L), "auto-k retrain (newK <= 0) lands the next slots")
    // retraining an index that was never built is a named refusal
    val e = intercept[IllegalArgumentException] {
      AnnIndex.retrainIvf(spark, freshRoot("ivfnone"), emb,
        "vec_id", "embedding", 32)
    }
    assert(e.getMessage.contains("no committed IVF index"))
  }

  test("PQ retrain: CAS commits at the new (m, k), codes == a fresh encode") {
    val root = freshRoot("pqretrain")
    assert(AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding",
      m = 4, k = 16) == (1L, 1L))
    assert(AnnIndex.retrainPq(spark, root, emb, "vec_id", "embedding",
      m = 8, k = 16) == (2L, 2L))
    val (books, codes) = AnnIndex.loadPq(spark, root)
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "sub", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(triples(codes) ==
      triples(Pq.encode(emb, "vec_id", "embedding", books, m = 8)),
      "retrained codes must equal a full encode under the new codebooks")
    // the retrained index reads as current; the caller's stale m is
    // inert as ever (m derives from the committed codebooks)
    assert(AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding",
      m = 4, k = 16) == (2L, 2L), "post-retrain ensure must mint nothing")
  }

  test("IVF lists layout: file-pruned serving == the join plan; stale stamp falls back") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("ivflists")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.filter(col("vec_id") % 4 =!= 0).select("vec_id", "embedding"),
      Some("vec_id"), 2)
    def corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("ivflists")
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    val t0 = System.currentTimeMillis() // index exists, no layout yet
    Thread.sleep(5)
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 1L)
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 1L,
      "an up-to-date lists layout must return without committing")
    val probeDf = corpus.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2))))
    assert(rows(served) == rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2))))),
      "lists serving must answer exactly like the join plan")
    // the IVF promise at the I/O level: the candidate scan
    // manifest-prunes to the chosen lists' files (2 of 16 cids across
    // 4 cid-range files can touch at most 2)
    val totalFiles = graft.sources.Versioned.snapshot(spark,
      AnnIndex.ivfListsTable(root)).files.size
    assert(totalFiles >= 4, s"fixture needs multiple files, got $totalFiles")
    def walk(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
    }.flatten
    val again = AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2))))
    again.collect()
    val listScans = walk(again.queryExecution.executedPlan).filter(
      _.relation.location.isInstanceOf[graft.sources.VersionedFileIndex])
    assert(listScans.nonEmpty, "no versioned scan under the lists serve")
    val scanned = listScans.map(_.metrics("numFiles").value).min
    assert(scanned < totalFiles,
      s"the chosen-lists scan must file-prune: read $scanned of $totalFiles")
    // the batch twin serves from the same layout, per-probe == single
    val probes = corpus.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val batch = AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 5,
        width = Some(2)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val viaJoin = AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.Frame(corpus), "vec_id", "embedding", probes, 5,
        width = Some(2)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.toSeq == viaJoin.toSeq,
      "batch lists serving must equal the batch join plan")
    // STALENESS: the corpus grows and the index refreshes — the stamp
    // no longer matches, so committed serving falls back to the join
    // plan over the CURRENT corpus (never stale lists files)
    val t1 = System.currentTimeMillis() // era 1: layout v1 is fresh
    Thread.sleep(5)
    graft.sources.Versioned.appendCommit(spark, corpusT,
      emb.filter(col("vec_id") % 4 === 0).select("vec_id", "embedding"),
      Some("vec_id"), 1)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    val grown = AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2))))
    assert(rows(grown) == rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2))))),
      "a stale stamp must fall back to the join plan over the grown corpus")
    // one refresh restores the pruned path, stamped at the new identity
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 2L)
    assert(rows(AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2)))))
      == rows(grown), "the refreshed layout must serve the same answers")
    // AS-OF serving rides the layout that was FRESH AT the instant:
    // t1 names era 1, whose lists-v1 stamp matches the same-instant
    // (assignments v1, corpus v1) identity — the historical candidate
    // scan file-prunes exactly like the era's live serve did
    val asOf1 = AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT, AnnPin.AsOf(t1)), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(2), pin = AnnPin.AsOf(t1))))
    assert(rows(asOf1) == rows(served),
      "the historical pruned serve must reproduce era-1 answers")
    asOf1.collect()
    val asOfScans = walk(asOf1.queryExecution.executedPlan).filter(sc =>
      sc.relation.location.isInstanceOf[graft.sources.VersionedFileIndex] &&
      sc.relation.location.rootPaths.head.toString ==
        AnnIndex.ivfListsTable(root))
    assert(asOfScans.nonEmpty, "the AS-OF serve must scan the lists layout")
    assert(asOfScans.map(_.metrics("numFiles").value).max < totalFiles,
      "the AS-OF candidate scan must file-prune")
    // batch twin: same era resolution, same answers as the era-1 batch
    assert(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT, AnnPin.AsOf(t1)), "vec_id",
        "embedding", probes, 5, width = Some(2), pin = AnnPin.AsOf(t1)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq == batch.toSeq,
      "the AS-OF batch serve must reproduce the era-1 batch answers")
    // an instant BEFORE any layout commit falls back to the join plan
    assert(rows(AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT, AnnPin.AsOf(t0)), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(2), pin = AnnPin.AsOf(t0))))) == rows(served),
      "a pre-layout instant must serve via the join-plan fallback")
  }

  test("PQ committed serving: literalized pool fetch == the in-plan pool") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("pqcommit")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding"), Some("vec_id"), 4)
    val corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("pqcommitted")
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, corpus, "vec_id", "embedding",
      m = 8, k = 16)
    val probeDf = corpus.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the committed form collects the pool ranking (bounded by `pool`)
    // so the full-precision fetch carries literal id predicates the
    // manifest can prune on — the ANSWERS must be exactly the in-plan
    // form's (same ranking, same ties)
    val expected = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("pq", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4),
        pool = Some(50)))))
    def committedRows() = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("pq", AnnCorpus.committed(spark, corpusT), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(4), pool = Some(50)))))
    assert(committedRows() == expected,
      "the literalized pool fetch must serve the in-plan form's answers")
    // the cid-clustered CODES layout: identical answers, and the ADC
    // scan's cid filter file-prunes the layout to the probed lists
    assert(AnnIndex.optimizePqServing(spark, root, "vec_id") == 1L)
    assert(AnnIndex.optimizePqServing(spark, root, "vec_id") == 1L,
      "an up-to-date pq_lists layout must return without committing")
    assert(AnnIndex.pqListsFreshness(spark, root)("pq_lists_fresh") == 1L)
    assert(committedRows() == expected,
      "pruned-codes serving must answer exactly like the join form")
    val plT = AnnIndex.pqListsTable(root)
    val totalPl = graft.sources.Versioned.snapshot(spark, plT).files.size
    assert(totalPl >= 4, s"fixture needs multiple pq_lists files: $totalPl")
    def walk(pn: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = pn.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => Seq(sc)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
    }.flatten
    // the serve's ADC-scan shape: literal cid predicates over the
    // cid-clustered layout — per-file stats must drop files
    val adc = graft.sources.VersionedScan.read(spark, plT)
      .filter(col("cid").isin(0L, 1L))
    adc.collect()
    val adcScanned = walk(adc.queryExecution.executedPlan)
      .filter(_.relation.location
        .isInstanceOf[graft.sources.VersionedFileIndex])
      .map(_.metrics("numFiles").value).min
    assert(adcScanned < totalPl,
      s"the cid filter must file-prune the codes layout: $adcScanned of $totalPl")
    // a new codes generation stales the stamp: serving falls back to
    // the join form over the CURRENT artifacts — never old codes
    AnnIndex.retrainPq(spark, root, corpus, "vec_id", "embedding",
      m = 8, k = 16)
    assert(AnnIndex.pqListsFreshness(spark, root)("pq_lists_fresh") == 0L,
      "a retrain must surface as pq_lists staleness")
    assert(committedRows() == rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("pq", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4),
        pool = Some(50))))),
      "a stale codes layout must fall back to the retrained join form")
    assert(AnnIndex.optimizePqServing(spark, root, "vec_id") == 2L,
      "one optimize restores the pruned layout at the new generation")
  }

  test("PQ batch committed serving: literalized pool fetch == the batch plan, file-pruned") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("pqbatchc")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.filter(col("vec_id") % 4 =!= 0).select("vec_id", "embedding"),
      Some("vec_id"), 16)
    def corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("pqbatchc")
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, corpus, "vec_id", "embedding",
      m = 8, k = 16)
    import spark.implicits._
    // probes collected eagerly so the final plan's only versioned scan
    // is the full-precision fetch (the pruning pin below reads it)
    val probeRows = corpus.orderBy("vec_id").limit(2)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Double])].collect().toSeq
    def probes = probeRows.toDF("probe_id", "pv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val committed = AnnIndex.serve(spark, root, AnnRequest("pq",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 3,
        width = Some(4), pool = Some(5)))
    assert(rows(committed) == rows(AnnIndex.serve(spark, root,
        AnnRequest("pq", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        probes, 3, width = Some(4), pool = Some(5)))),
      "the literalized batch pool fetch must serve the batch plan's answers")
    // the point of the form: the full-precision fetch manifest-prunes
    // to the files holding pool rows instead of scanning the corpus —
    // probes × pool = 10 distinct ids can touch at most 10 of the
    // 16 id-range files, whatever the ADC ranking picks
    val totalFiles = graft.sources.Versioned.snapshot(spark, corpusT)
      .files.size
    assert(totalFiles >= 12, s"fixture needs multiple files, got $totalFiles")
    def walk(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
    }.flatten
    val again = AnnIndex.serve(spark, root, AnnRequest("pq",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 3,
        width = Some(4), pool = Some(5)))
    again.collect()
    val scans = walk(again.queryExecution.executedPlan).filter(
      _.relation.location.isInstanceOf[graft.sources.VersionedFileIndex])
    assert(scans.nonEmpty, "no versioned scan under the batch pq serve")
    val scanned = scans.map(_.metrics("numFiles").value).min
    assert(scanned < totalFiles,
      s"the pool fetch must file-prune: read $scanned of $totalFiles")
    // the cid-clustered codes layout serves the batch identically
    AnnIndex.optimizePqServing(spark, root, "vec_id")
    assert(rows(AnnIndex.serve(spark, root, AnnRequest("pq",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 3,
        width = Some(4), pool = Some(5)))) == rows(committed),
      "the pruned-codes batch serve must answer exactly like the join form")
    // AS-OF twin: a second generation lands; serving the first instant
    // through the committed form == the join-plan historical twin
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    graft.sources.Versioned.appendCommit(spark, corpusT,
      emb.filter(col("vec_id") % 4 === 0).select("vec_id", "embedding"),
      Some("vec_id"), 1)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, corpus, "vec_id", "embedding",
      m = 8, k = 16)
    val baseView = graft.sources.VersionedScan.read(spark, corpusT, 1)
    assert(rows(AnnIndex.serve(spark, root, AnnRequest("pq",
        AnnCorpus.committed(spark, corpusT, AnnPin.AsOf(t1)), "vec_id",
        "embedding", probes, 3, width = Some(4), pool = Some(5),
        pin = AnnPin.AsOf(t1)))) ==
      rows(AnnIndex.serve(spark, root, AnnRequest("pq",
          AnnCorpus.Frame(baseView), "vec_id", "embedding", probes, 3,
          width = Some(4), pool = Some(5), pin = AnnPin.AsOf(t1)))),
      "the committed AS-OF batch form must serve the historical twin's answers")
  }

  test("committed serving tolerates an int-typed corpus id column") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("annintid")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select(col("vec_id").cast("int").as("vec_id"), col("embedding")),
      Some("vec_id"), 4)
    val corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("intid")
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, corpus, "vec_id", "embedding",
      m = 8, k = 16)
    val probeDf = corpus.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getDouble(1))).toSeq
    // the committed pool fetch reads ids GENERICALLY — an int-id corpus
    // (fine through the type-agnostic join plan) must serve through the
    // literalized path identically, keeping the column's own type
    val committed = AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("pq", AnnCorpus.committed(spark, corpusT), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(4), pool = Some(50))))
    assert(committed.schema("vec_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(rows(committed) == rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("pq", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4),
        pool = Some(50))))),
      "an int-id corpus must serve committed exactly like the join plan")
  }

  test("batch committed serving: integral probe ids enforced, one schema across routes") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("annpidty")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding"), Some("vec_id"), 2)
    val corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("pidty")
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    val probes = corpus.orderBy("vec_id").limit(2)
      .select(col("vec_id").cast("int").as("probe_id"),
        col("embedding").as("pv"))
    // join-plan route first (no lists layout yet): int probe id stays int
    val viaJoin = AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 5,
        width = Some(2)))
    assert(viaJoin.schema("probe_id").dataType == IntegerType)
    val joinRows = viaJoin.collect().toSeq
    // the fresh-lists route must return the SAME schema (its long widen
    // is internal) and the same rows
    AnnIndex.optimizeIvfServing(spark, root, corpusT, "vec_id", "embedding")
    val viaLists = AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 5,
        width = Some(2)))
    assert(viaLists.schema.map(f => (f.name, f.dataType)) ==
      viaJoin.schema.map(f => (f.name, f.dataType)),
      "fresh-lists and join-plan serving must be schema-identical")
    assert(viaLists.collect().toSeq == joinRows)
    // a non-integral probe id fails loudly on BOTH routes — never a
    // silent NULL collapse into one rerank partition
    val bad = probes.select(col("probe_id").cast("string").as("probe_id"),
      col("pv"))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.serve(spark, root, AnnRequest("ivf",
          AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", bad, 5,
          width = Some(2)))
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("IVF/PQ retrain: a torn pair is detected and completed, never built over") {
    val root = freshRoot("torn")
    val base = emb.filter(col("vec_id") % 2 === 0)
    AnnIndex.ensureIvf(spark, root, base, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, base, "vec_id", "embedding", m = 4, k = 8)
    // simulate a retrain that crashed between its two commits: the
    // stamped centroids landed, their reassign never did
    graft.sources.Versioned.commit(spark, AnnIndex.ivfCentroidsTable(root),
      Ivf.centroids(base, "vec_id", "embedding", 23), Some("cid"), files = 1,
      txn = Some("ivf-retrain-c-from1-k23"), op = "RETRAIN",
      expected = Some(1L))
    val (cv, av) = AnnIndex.retrainIvf(spark, root, base,
      "vec_id", "embedding", newK = 23)
    assert(cv == 2L,
      "repair must reuse the stranded centroids, not mint a third generation")
    assert(av == 2L)
    // r14: the root carries RESIDUAL pq codes (ensurePq trained them
    // against centroids gen 1), so every retrainIvf exit CHAINS a
    // retrainPq — the codebooks re-stamp to the new generation and the
    // codes re-encode; serving through the committed door stays
    // coherent instead of refusing on the stamp mismatch
    assert(graft.sources.Versioned.latestVersion(spark,
      AnnIndex.pqCodebooksTable(root)) == 2L,
      "the repair exit must chain the residual-PQ heal")
    val (cents, asg) = AnnIndex.loadIvf(spark, root)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs(asg) ==
      pairs(Ivf.assign(base, "vec_id", "embedding", cents)),
      "the completed pair must assign against the stranded centroids")
    // with the pair whole, the next retrain mints a fresh generation
    val (cv2, av2) = AnnIndex.retrainIvf(spark, root, base,
      "vec_id", "embedding", newK = 23)
    assert(cv2 == 3L && av2 == 3L)
    // a torn pair + a DIFFERENT requested k: the repair heals the
    // stranded generation first, then lands the requested retrain on
    // top — the caller's migration is never silently discarded
    graft.sources.Versioned.commit(spark, AnnIndex.ivfCentroidsTable(root),
      Ivf.centroids(base, "vec_id", "embedding", 23), Some("cid"), files = 1,
      txn = Some("ivf-retrain-c-from3-k23"), op = "RETRAIN",
      expected = Some(3L))
    val (cv3, av3) = AnnIndex.retrainIvf(spark, root, base,
      "vec_id", "embedding", newK = 29)
    assert(cv3 == 5L && av3 == 5L,
      "repair (asg v4) then the requested retrain (cents v5, asg v5)")
    assert(AnnIndex.loadIvf(spark, root)._1.count() == 29L,
      "the served generation must carry the REQUESTED centroid count")
    // the PQ twin detects and completes its own torn pair — by now the
    // chained heals moved the pq tables to v4 (one retrainPq per
    // retrainIvf exit above), so the stranded generation is v5
    val bvNow = graft.sources.Versioned.latestVersion(spark,
      AnnIndex.pqCodebooksTable(root))
    assert(bvNow == 4L, s"three heals after v1: $bvNow")
    graft.sources.Versioned.commit(spark, AnnIndex.pqCodebooksTable(root),
      Pq.codebooks(base, "vec_id", "embedding", 4, 8), Some("sub"), files = 1,
      txn = Some(s"pq-retrain-b-from$bvNow-m4-k8"), op = "RETRAIN",
      expected = Some(bvNow))
    val (bv, pcv) = AnnIndex.retrainPq(spark, root, base,
      "vec_id", "embedding", m = 4, k = 8)
    assert(bv == bvNow + 1 && pcv == bvNow + 1,
      "PQ repair completes the stranded codebooks without retraining")
  }

  test("serve counters flow back through accumulators from the task-side path") {
    // the statics describe the serving JVM; ann_stats reads the
    // ACCUMULATORS, which aggregate task-side increments back to the
    // driver — the path that stays truthful on a multi-executor
    // cluster. Both the cold (cogroup build) and warm (cache hit)
    // branches must add through it.
    val root = freshRoot("accum")
    AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding")
    def stats() = AnnIndex.serveStats(spark, root)
    val probes = emb.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    def serve() = AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.Frame(emb), "vec_id", "embedding", probes, 5)).collect()
    val s0 = stats()
    serve()
    val s1 = stats()
    assert(s1("serve_builds_total") > s0("serve_builds_total"),
      s"cold-serve reconstructions must aggregate to the driver: $s0 -> $s1")
    serve()
    val s2 = stats()
    assert(s2("serve_builds_total") == s1("serve_builds_total"),
      s"a warm serve must not rebuild: $s1 -> $s2")
    assert(s2("serve_cache_hits_total") > s1("serve_cache_hits_total"),
      s"warm-serve hits must aggregate to the driver: $s1 -> $s2")
  }

  test("serve-cache bound is LRU: crossing it evicts coldest-only, recent use survives") {
    // the semantics every serve-side memo shares (shardGraphs,
    // committedShardSets, nswParams): the old size>cap → clear() cliff
    // dumped EVERY live index's warm state one index past the bound
    val m = new AnnIndex.LruMap[Int, String](4)
    (1 to 4).foreach(i => m.put(i, s"v$i"))
    assert(m.get(1).contains("v1")) // 1 is now the most recently USED
    m.put(5, "v5")                  // evicts 2 (the coldest), never 1
    assert(m.get(2).isEmpty, "the least-recently-used entry evicts")
    assert(m.get(1).contains("v1"),
      "a recently-read entry must survive the bound crossing")
    assert(m.size == 4)
    (6 to 20).foreach(i => m.put(i, s"v$i"))
    assert(m.size == 4, "the bound holds under sustained inserts")
    assert(m.keys.toSet == Set(17, 18, 19, 20))
    m.removeIf(_ < 19)
    assert(m.keys.toSet == Set(19, 20))
  }

  test("HNSW shard layout: a partial-miss serve reads only the missing shards' files") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("nswlayout")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding"), Some("vec_id"), 2)
    val corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("nswlayout")
    AnnIndex.ensureNsw(spark, root, corpus, "vec_id", "embedding")
    assert(AnnIndex.optimizeNswServing(spark, root, corpusT,
      "vec_id", "embedding") == 1L)
    assert(AnnIndex.optimizeNswServing(spark, root, corpusT,
      "vec_id", "embedding") == 1L,
      "an up-to-date layout must return without committing")
    assert(AnnIndex.nswLayoutFreshness(spark, root, corpusT)
      .apply("nsw_layout_fresh") == 1L)
    Thread.sleep(5)
    val t1 = System.currentTimeMillis() // layout v1 is fresh
    Thread.sleep(5)
    import spark.implicits._
    val probeRows = corpus.orderBy("vec_id").limit(3)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().toSeq
    def probes = probeRows.toDF("probe_id", "pv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def serve() = AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes,
        5))
    val cold = rows(serve()) // reconstructs + caches every shard
    // lose ONE shard — the deterministic stand-in for a SoftReference
    // shed under memory pressure or an executor that never built it
    AnnIndex.evictShard(AnnIndex.nswEdgesTable(root), 1L)
    val b0 = AnnIndex.serveBuilds.get()
    val partial = serve()
    assert(rows(partial) == cold,
      "a partial-miss serve must answer exactly like the warm serve")
    assert(AnnIndex.serveBuilds.get() == b0 + 1,
      "exactly the missing shard rebuilds — resident shards serve from cache")
    // the rebuild read ONLY the missing shard's layout files, not the
    // corpus: the layout is shard-clustered with per-file shard stats
    val layoutT = AnnIndex.nswLayoutTable(root)
    val totalFiles = graft.sources.Versioned.snapshot(spark, layoutT)
      .files.size
    assert(totalFiles >= 4, s"fixture needs multiple layout files: $totalFiles")
    def walk(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => Seq(sc)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
    }.flatten
    val layoutScans = walk(partial.queryExecution.executedPlan).filter(sc =>
      sc.relation.location.isInstanceOf[graft.sources.VersionedFileIndex] &&
      sc.relation.location.rootPaths.head.toString == layoutT)
    assert(layoutScans.nonEmpty, "the partial serve must scan the layout table")
    val scanned = layoutScans.map(_.metrics("numFiles").value).max
    assert(scanned < totalFiles,
      s"the missing-shard fetch must file-prune: read $scanned of $totalFiles")
    // the rebuilt shard re-cached under the identity key: fully warm again
    val b1 = AnnIndex.serveBuilds.get()
    assert(rows(serve()) == cold)
    assert(AnnIndex.serveBuilds.get() == b1,
      "the repaired shard must serve from cache on the next call")
    // a corpus commit stales the layout — observable, and serving
    // simply stops using it (full-cogroup fallback, never stale rows)
    val oneVec = corpus.orderBy("vec_id").limit(1)
      .select(col("embedding")).as[Seq[Double]].head()
    graft.sources.Versioned.appendCommit(spark, corpusT,
      Seq((100000L, oneVec)).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast(corpus.schema("embedding").dataType)),
      Some("vec_id"), 1)
    assert(AnnIndex.nswLayoutFreshness(spark, root, corpusT)
      .apply("nsw_layout_fresh") == 0L,
      "a corpus commit must surface as layout staleness")
    // ef (search beam width) flows through the committed door: the
    // committed serve at a given ef must answer exactly like the
    // frame door at the same ef (same engine, same beam), and a wider
    // beam explores a candidate superset, so the returned top-k's
    // scores can only improve or stay equal — the recall lever the
    // 2.2M rehearsal measured, exposed instead of pinned at 32
    val fresh = graft.sources.VersionedScan.read(spark, corpusT)
    for (e <- Seq(8, 64)) {
      val viaCommitted = rows(AnnIndex.serve(spark, root, AnnRequest("hnsw",
          AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes,
          5, width = Some(e))))
      val viaFrame = rows(AnnIndex.serve(spark, root, AnnRequest("hnsw",
          AnnCorpus.Frame(fresh), "vec_id", "embedding", probes, 5,
          width = Some(e))))
      assert(viaCommitted == viaFrame,
        s"committed and frame doors must serve identically at ef=$e")
    }
    val narrow = rows(AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 5,
        width = Some(8)))).map(_._3).sum
    val wideSum = rows(AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 5,
        width = Some(1024)))).map(_._3).sum
    assert(wideSum >= narrow - 1e-9,
      s"a wider beam must never return a worse top-k: $wideSum vs $narrow")
    // AS OF: a partial miss repairs from the layout that was fresh AT
    // the pin — the latest layout's stamp names the grown corpus
    AnnIndex.ensureNsw(spark, root,
      graft.sources.VersionedScan.read(spark, corpusT), "vec_id", "embedding")
    assert(AnnIndex.optimizeNswServing(spark, root, corpusT,
      "vec_id", "embedding") == 2L)
    def serveAsOf() = AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.committed(spark, corpusT, AnnPin.AsOf(t1)), "vec_id",
        "embedding", probes, 5, pin = AnnPin.AsOf(t1)))
    assert(rows(serveAsOf()) == cold)
    AnnIndex.evictShard(AnnIndex.nswEdgesTable(root), 1L)
    val partialAsOf = serveAsOf()
    assert(rows(partialAsOf) == cold,
      "an AS OF partial-miss serve must answer exactly like the era's serve")
    val asOfScans = walk(partialAsOf.queryExecution.executedPlan).filter(
      sc => sc.relation.location.isInstanceOf[graft.sources.VersionedFileIndex] &&
        sc.relation.location.rootPaths.head.toString == layoutT)
    assert(asOfScans.nonEmpty,
      "the AS OF partial serve must scan the layout fresh at the pin")
    val scannedAsOf = asOfScans.map(_.metrics("numFiles").value).max
    assert(scannedAsOf < totalFiles, "the AS OF missing-shard fetch must " +
      s"file-prune: read $scannedAsOf of $totalFiles")
  }

  test("committed-corpus serving: identical answers, ZERO corpus I/O when warm") {
    import org.apache.spark.sql.functions.col
    // the corpus is a pinned committed snapshot, so (table, version,
    // manifest fingerprint) identity replaces row hashing entirely —
    // a warm serve must not read the corpus AT ALL
    val dir = Files.createTempDirectory("anncommit")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding"), Some("vec_id"), 2)
    val corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("nswcommitted")
    AnnIndex.ensureNsw(spark, root, corpus, "vec_id", "embedding")
    // probes collected EAGERLY (the corpus files get deleted below)
    import spark.implicits._
    val probeRows = corpus.orderBy("vec_id").limit(3)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().toSeq
    def probes = probeRows.toDF("probe_id", "pv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaFrame = rows(AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.Frame(corpus), "vec_id", "embedding", probes, 5)))
    val b0 = AnnIndex.serveBuilds.get()
    val cold = rows(AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes,
        5)))
    assert(cold == viaFrame,
      "committed-corpus serving must answer exactly like the frame form")
    assert(AnnIndex.serveBuilds.get() > b0,
      "the first committed serve reconstructs (identity keys are new)")
    val b1 = AnnIndex.serveBuilds.get()
    // warm repeat: zero reconstruction AND zero corpus I/O — proven by
    // deleting the corpus DATA files (manifests stay: identity is
    // metadata); the serve must still answer, bit-identically
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(corpusT, "data"))
    val warm = rows(AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes,
        5)))
    assert(warm == cold, "warm committed serve must reproduce the answers")
    assert(AnnIndex.serveBuilds.get() == b1,
      "a warm committed serve must not rebuild")
  }

  test("time-travel serving parity: PQ and HNSW AS OF reproduce the old generation") {
    val rootP = freshRoot("pqasof")
    val rootN = freshRoot("nswasof")
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    AnnIndex.ensureIvf(spark, rootP, base, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, rootP, base, "vec_id", "embedding", m = 8, k = 16)
    AnnIndex.ensureNsw(spark, rootN, base, "vec_id", "embedding")
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    AnnIndex.ensureIvf(spark, rootP, emb, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, rootP, emb, "vec_id", "embedding", m = 8, k = 16)
    AnnIndex.ensureNsw(spark, rootN, emb, "vec_id", "embedding")
    val probeDf = emb.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // PQ: AS OF between the generations == serving the v1-pinned
    // artifacts explicitly (all four tables resolve at the instant);
    // the corpus view is the same-instant snapshot — base here
    val asOfPq = rows(AnnServe.single(AnnIndex.serve(spark, rootP,
        AnnRequest("pq", AnnCorpus.Frame(base), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(4),
        pool = Some(64), pin = AnnPin.AsOf(t1)))))
    def at(t: String) = graft.sources.VersionedScan.read(spark, t, 1)
    val v1Pq = rows(Pq.searchIvfPq(base,
      at(AnnIndex.ivfAssignmentsTable(rootP)),
      at(AnnIndex.ivfCentroidsTable(rootP)),
      at(AnnIndex.pqCodesTable(rootP)), at(AnnIndex.pqCodebooksTable(rootP)),
      "vec_id", "embedding", probeDf, "embedding", m = 8, k = 10,
      nProbe = 4, pool = 64))
    assert(asOfPq == v1Pq,
      "PQ AS OF between generations must serve the older index exactly")
    // HNSW: AS OF resolves the edge table's v1 graph; paired with the
    // same-instant corpus the reconstruction is exactly generation 1's
    val probes = base.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val asOfNsw = AnnIndex.serve(spark, rootN, AnnRequest("hnsw",
        AnnCorpus.Frame(base), "vec_id", "embedding", probes, 5,
        pin = AnnPin.AsOf(t1)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // the ground truth: a fresh index built over ONLY the base corpus
    val freshN = freshRoot("nswasoffresh")
    AnnIndex.ensureNsw(spark, freshN, base, "vec_id", "embedding")
    val v1Nsw = AnnIndex.serve(spark, freshN, AnnRequest("hnsw",
        AnnCorpus.Frame(base), "vec_id", "embedding", probes, 5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(asOfNsw == v1Nsw,
      "HNSW AS OF between generations must serve the older graph exactly")
    // and the CURRENT serve covers the grown corpus (coverage moved on)
    assert(AnnIndex.serve(spark, rootN, AnnRequest("hnsw",
        AnnCorpus.Frame(emb), "vec_id", "embedding", probes, 5)).count() == 10L)
  }

  test("OPTIMIZE on the index tables composes: serving and staleness survive compaction") {
    // the index artifacts are ORDINARY graft tables, so the standard
    // maintenance surface applies — after accumulated MoR refreshes,
    // compaction folds the DV into clean files and must change neither
    // the served answers nor ensure's (id, vh) staleness verdict
    val root = freshRoot("ivfopt")
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    AnnIndex.ensureIvf(spark, root, base, "vec_id", "embedding", 16)
    // two refreshes: an update (MoR upsert + DV) and a growth wave
    AnnIndex.ensureIvf(spark, root,
      updatedCorpus.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding", 16)
    AnnIndex.ensureIvf(spark, root, updatedCorpus, "vec_id", "embedding", 16)
    val probeDf = emb.orderBy("vec_id").limit(1).select(col("embedding"))
    def serve() = AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.Frame(updatedCorpus), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(4))))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = serve()
    val aT = AnnIndex.ivfAssignmentsTable(root)
    val vOpt = graft.sources.Versioned.compactCommit(spark, aT, targetFiles = 1)
    assert(serve() == before,
      "compaction must not change what the index serves")
    // the compacted snapshot still reads as CURRENT — vh rows survived
    // the rewrite, so re-ensure mints nothing
    assert(AnnIndex.ensureIvf(spark, root, updatedCorpus,
      "vec_id", "embedding", 16) == (1L, vOpt),
      "an ensure after OPTIMIZE must read the compacted index as current")
  }

  test("HNSW: build-parameter drift is refused, not silently hybridized") {
    val root = freshRoot("nswparams")
    AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding", m = 8)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding", m = 16)
    }
    assert(e.getMessage.contains("drop the index root"))
  }

  test("PQ: zero rebuild when current; incremental == full encode on frozen codebooks") {
    val root = freshRoot("pq")
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    assert(AnnIndex.ensurePq(spark, root, base, "vec_id", "embedding",
      m = 8, k = 16) == (1L, 1L))
    assert(AnnIndex.ensurePq(spark, root, base, "vec_id", "embedding",
      m = 8, k = 16) == (1L, 1L), "up-to-date PQ index must mint nothing")
    assert(AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding",
      m = 8, k = 16) == (1L, 2L), "refresh appends codes, never retrains")
    val (books, incremental) = AnnIndex.loadPq(spark, root)
    val full = Pq.encode(emb, "vec_id", "embedding", books, m = 8)
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "sub", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(triples(incremental) == triples(full),
      "incremental encode must match a full encode on frozen codebooks")
    assert(incremental.select("vec_id").distinct().count() == emb.count())
  }

  test("residual PQ: new indexes self-describe, delta == full encode, full width is exact") {
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val root = freshRoot("pqresid")
    AnnIndex.ensureIvf(spark, root, base, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, base, "vec_id", "embedding", m = 8, k = 16)
    val (books, _) = AnnIndex.loadPq(spark, root)
    // the scheme is stamped ON the artifact (enc + the centroids
    // generation it subtracts) — that is what lets every serving path
    // branch off the table itself and raw indexes keep serving raw
    assert(books.columns.contains("cgv"),
      "residual codebooks must carry the centroids-generation stamp")
    assert(books.select("enc").distinct().head().getString(0) == "residual")
    // incremental residual delta (landDelta path) == a FULL residual
    // encode of the grown corpus against the same frozen centroids +
    // codebooks — the raw tier's delta≡full contract, scheme-adjusted
    AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding", m = 8, k = 16)
    val cents = AnnIndex.loadIvf(spark, root)._1
    val resid = emb.select(col("vec_id"), col("embedding"))
      .join(Ivf.assign(emb, "vec_id", "embedding", cents), "vec_id")
      .join(broadcast(cents), "cid")
      .select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"), col("centroid"),
          (a, b) => a - b).as("__resid"))
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "sub", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(triples(AnnIndex.loadPq(spark, root)._2) ==
      triples(Pq.encode(resid, "vec_id", "__resid", books, 8)),
      "residual delta encode must equal a full residual encode on the " +
        "same frozen centroids + codebooks")
    // mechanical exactness: probing EVERY list with a corpus-sized pool
    // makes the ADC cut a no-op, so the exact rerank must recover the
    // exact cosine top-k — joins drop nothing, duplicate nothing
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    val probeRow = emb.orderBy("vec_id").select("embedding").head()
    val probe = probeRow.getSeq[Float](0).map(_.toDouble)
    val exact = Knn.exactTopK(emb, "embedding", "vec_id", probe, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val served = AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("pq",
        AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(emb.orderBy("vec_id").limit(1).select(col("embedding")), "embedding"),
        10, width = Some(16), pool = Some(emb.count().toInt))))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served == exact,
      "all-lists + corpus-sized pool must recover the exact top-k")
  }

  test("residual PQ coherence: an unhealed centroids generation refuses; retrain heals") {
    val root = freshRoot("pqcoherence")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding", m = 8, k = 16)
    val probeDf = emb.orderBy("vec_id").limit(1).select(col("embedding"))
    def serve() = AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("pq",
        AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 5, width = Some(4),
        pool = Some(50)))).collect()
    assert(serve().length == 5)
    // an out-of-band centroids commit (what a crash between retrainIvf
    // and its chained PQ heal leaves): serving and delta-ensure refuse
    // LOUDLY — residual codes against the wrong coarse space would
    // rank through the wrong geometry
    graft.sources.Versioned.commit(spark, AnnIndex.ivfCentroidsTable(root),
      Ivf.centroids(emb, "vec_id", "embedding", 23), Some("cid"), files = 1,
      expected = Some(1L))
    val e = intercept[IllegalArgumentException](serve())
    assert(e.getMessage.contains("torn chain"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding",
        m = 8, k = 16))
    assert(e2.getMessage.contains("torn chain"), e2.getMessage)
    // retrainIvf heals: its exit re-trains the residual books against
    // the generation it lands, and serving resumes
    AnnIndex.retrainIvf(spark, root, emb, "vec_id", "embedding", newK = 16)
    assert(serve().length == 5, "a healed chain must serve again")
  }

  test("residual PQ bootstrap torn before its first codes commit heals (r15)") {
    import org.apache.commons.io.FileUtils
    import graft.sources.Versioned
    // LEG 1 — retrainIvf's chained heal: codebooks committed, the
    // codes commit never landed (a crash between ensurePq's two
    // bootstrap commits), then an IVF retrain moves the generation.
    // Pre-r15 both remedies the torn-chain error names threw
    // require(cv > 0) on exactly this state — and retrainIvf failed
    // only AFTER landing its centroids+assignments pair, leaving the
    // chain it promised to heal. Now the chained retrainPq completes
    // the bootstrap by landing the FIRST codes commit.
    val root = freshRoot("pqboot")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding", m = 4, k = 8)
    FileUtils.deleteDirectory(
      new java.io.File(AnnIndex.pqCodesTable(root)))
    AnnIndex.retrainIvf(spark, root, emb, "vec_id", "embedding", newK = 16)
    assert(Versioned.latestVersion(spark, AnnIndex.pqCodesTable(root)) == 1L,
      "the chained heal must land the first codes commit")
    val probeDf = emb.orderBy("vec_id").limit(1).select(col("embedding"))
    assert(AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("pq",
        AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 5, width = Some(4),
        pool = Some(50))))
      .collect().length == 5, "the healed chain must serve")
    // LEG 2 — ann_ensure's own bootstrap repair: same torn state, the
    // generation moved by an out-of-band centroids commit; re-running
    // ensurePq must re-train the stranded books against the CURRENT
    // generation (CAS on the stranded slot) and complete the codes
    // commit, instead of refusing with remedies that do run now but
    // should not be needed for a bootstrap
    val root2 = freshRoot("pqboot2")
    AnnIndex.ensureIvf(spark, root2, emb, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root2, emb, "vec_id", "embedding", m = 4, k = 8)
    FileUtils.deleteDirectory(
      new java.io.File(AnnIndex.pqCodesTable(root2)))
    Versioned.commit(spark, AnnIndex.ivfCentroidsTable(root2),
      Ivf.centroids(emb, "vec_id", "embedding", 23), Some("cid"),
      files = 1, expected = Some(1L))
    val (bv2, cv2) = AnnIndex.ensurePq(spark, root2, emb,
      "vec_id", "embedding", m = 4, k = 8)
    assert(bv2 == 2L && cv2 == 1L,
      s"bootstrap repair re-trains the stranded books (v2) and lands " +
        s"the first codes commit (v1): ($bv2, $cv2)")
    assert(AnnServe.single(AnnIndex.serve(spark, root2, AnnRequest("pq",
        AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 5, width = Some(4),
        pool = Some(50))))
      .collect().length == 5, "the repaired bootstrap must serve")
    // idempotent: a re-ensure on the repaired root mints nothing
    assert(AnnIndex.ensurePq(spark, root2, emb, "vec_id", "embedding",
      m = 4, k = 8) == (2L, 1L),
      "a repaired root must be steady state for the next ensure")
  }

  test("PQ build refuses an m that does not divide the embedding width (r15)") {
    // FAISS's d % m == 0 rule, enforced at the ONE training chokepoint
    // (trainBooks): components splits contiguous floor(D/m)-wide
    // subspaces, so a non-dividing m leaves a ragged tail subspace
    // whose training stride (floor(D/m)) and encode stride
    // (floor(D/codebookM), codebookM = max(sub)+1 = m+1 there)
    // DISAGREE — the codes would silently quantize different
    // dimensions than the books trained on
    val root = freshRoot("pqragged")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val badM = (2 to dim).find(m => dim % m != 0).get
    val e = intercept[IllegalArgumentException](
      AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding",
        m = badM, k = 8))
    assert(e.getMessage.contains("must divide the embedding width"),
      e.getMessage)
    // retrainPq rides the same chokepoint
    AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding", m = 4, k = 8)
    val e2 = intercept[IllegalArgumentException](
      AnnIndex.retrainPq(spark, root, emb, "vec_id", "embedding",
        m = badM, k = 8))
    assert(e2.getMessage.contains("must divide the embedding width"),
      e2.getMessage)
  }

  test("tuneWidth: an uncapped max_width terminates (overflow-safe ladder) (r15)") {
    val dir = Files.createTempDirectory("tunewide")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding"), Some("vec_id"), 4)
    val root = freshRoot("tunewide")
    AnnIndex.ensureIvf(spark, root,
      graft.sources.VersionedScan.read(spark, corpusT),
      "vec_id", "embedding", 16)
    // Int.MaxValue is the natural "no cap" spelling — the ladder must
    // walk in Long (an Int ladder doubles past 2^30 into negatives
    // that stay < maxWidth forever) and stop at the first meeting
    // width, far below the cap
    val curve = AnnIndex.tuneWidth(spark, root, corpusT,
      "vec_id", "embedding", "ivf", probes = 8, k = 10,
      target = 1.0, maxWidth = Int.MaxValue)
    assert(curve.last._2 == 1.0 && curve.last._1 <= 16,
      s"the walk must stop at the first exact width: $curve")
  }

  test("serving RAGGED legacy codebooks refuses with the retrain remedy (r15)") {
    import graft.sources.Versioned
    // a pre-r15 root could train with m not dividing D — subs 0..m
    // with a shorter tail centroid; such an index was never coherent
    // (training stride floor(D/m), encode stride floor(D/(m+1))) and
    // max(sub)+1 is NOT its training m, so the serve must refuse with
    // the named retrain remedy instead of slicing garbage
    val root = freshRoot("pqraggedlegacy")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding", m = 4, k = 8)
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val badM = (2 to dim).find(m => dim % m != 0).get
    // forge the legacy artifact: ragged raw books over the coherent v1
    Versioned.commit(spark, AnnIndex.pqCodebooksTable(root),
      Pq.codebooks(emb, "vec_id", "embedding", badM, 8), Some("sub"),
      files = 1, expected = Some(1L))
    val probeDf = emb.orderBy("vec_id").limit(1).select(col("embedding"))
    val e = intercept[IllegalArgumentException](
      AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("pq",
          AnnCorpus.Frame(emb), "vec_id", "embedding",
          AnnServe.oneProbe(probeDf, "embedding"), 5, width = Some(4),
          pool = Some(50))))
        .collect())
    assert(e.getMessage.contains("RAGGED") &&
      e.getMessage.contains("retrainPq"), e.getMessage)
  }

  test("retrainPq's stranded catch-up refuses RAGGED books instead of re-encoding garbage (r16)") {
    import graft.sources.Versioned
    // ADVICE r15: the torn-pair catch-up (stranded RETRAIN codebooks,
    // codes commit never landed) derived m via codebookM = max(sub)+1
    // with no uniformity check — a pre-r15 ragged stranded retrain
    // would re-encode codes at m+1 on boundaries the training never
    // used, landing garbage codes that only the LATER serve refuses.
    // The repair must refuse like the serve does.
    val root = freshRoot("pqraggedstranded")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding", m = 4, k = 8)
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val badM = (2 to dim).find(m => dim % m != 0).get
    // forge the stranded state: ragged RETRAIN books (v2) whose codes
    // commit never landed — exactly the torn pair the catch-up heals
    Versioned.commit(spark, AnnIndex.pqCodebooksTable(root),
      Pq.codebooks(emb, "vec_id", "embedding", badM, 8), Some("sub"),
      files = 1, op = "RETRAIN",
      txn = Some(s"pq-retrain-b-from1-m$badM-k8"), expected = Some(1L))
    val e = intercept[IllegalArgumentException](
      AnnIndex.retrainPq(spark, root, emb, "vec_id", "embedding",
        m = 4, k = 8))
    assert(e.getMessage.contains("RAGGED"), e.getMessage)
  }

  test("spilled IVF root (r16): committed serves == join plan with dedup; delta, retrain and layout refresh keep the scheme") {
    import graft.sources.{Versioned, VersionedScan}
    val dir = Files.createTempDirectory("ivfspill")
    val corpusT = dir.toString + "/emb"
    Versioned.commit(spark, corpusT,
      emb.filter(col("vec_id") % 4 =!= 0).select("vec_id", "embedding"),
      Some("vec_id"), 2)
    def corpus = VersionedScan.read(spark, corpusT)
    val root = freshRoot("ivfspill")
    assert(AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding",
      16, spill = 0.2) == (1L, 1L))
    assert(AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding",
      16, spill = 0.2) == (1L, 1L),
      "an up-to-date spilled index must mint NOTHING on re-ensure")
    val aT = AnnIndex.ivfAssignmentsTable(root)
    assert(VersionedScan.read(spark, aT).columns.contains("cid2") &&
      VersionedScan.read(spark, aT).columns.contains("spill_eps"),
      "a spilled root's assignments must carry the scheme columns")
    val probeDf = corpus.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // join-plan fallback (no layout yet): spilled serve, no duplicates
    val viaJoin = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.committed(spark, corpusT), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(2)))))
    assert(viaJoin.map(_._1).distinct.size == viaJoin.size,
      s"spilled join-plan serve must dedup: $viaJoin")
    // lists layout: rows fan to BOTH lists (spl marker), pruned serve
    // answers exactly like the join plan
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 1L)
    val lT = AnnIndex.ivfListsTable(root)
    val layout = VersionedScan.read(spark, lT)
    assert(layout.columns.contains("spl"),
      "a spilled layout must carry the dedup marker")
    val nSpilled = VersionedScan.read(spark, aT)
      .filter(col("cid2").isNotNull).count()
    assert(layout.count() == corpus.count() + nSpilled,
      "the layout must hold one row per list MEMBERSHIP")
    val served = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.committed(spark, corpusT), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(2)))))
    assert(served == viaJoin,
      "spilled lists serving must answer exactly like the join plan")
    // batch committed == batch join plan, per (probe, id) unique
    val probes = corpus.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val batch = AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes, 5,
        width = Some(2)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.map(t => (t._1, t._2)).distinct.length == batch.length,
      "spilled batch serve must not emit duplicate (probe, id) rows")
    assert(batch.toSeq == AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.Frame(corpus), "vec_id", "embedding", probes, 5,
        width = Some(2)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq, "spilled batch lists serving must equal the batch join plan")
    // DELTA lands under the STORED scheme (caller passes no spill):
    // incremental must equal a full multi-assignment over the grown
    // corpus against the frozen centroids
    val t1 = System.currentTimeMillis() // era 1: spilled index + layout v1
    Thread.sleep(5)
    Versioned.appendCommit(spark, corpusT,
      emb.filter(col("vec_id") % 4 === 0).select("vec_id", "embedding"),
      Some("vec_id"), 1)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    val stored = VersionedScan.read(spark, aT)
      .select("vec_id", "cid", "cid2").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val full = Ivf.assignSpill(corpus, "vec_id", "embedding",
        VersionedScan.read(spark, AnnIndex.ivfCentroidsTable(root)), 0.2)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(stored == full,
      "the spilled delta must be bit-identical to a full multi-assign " +
        "against the frozen centroids")
    // layout refresh (append-mostly delta) serves the grown corpus,
    // and the refreshed rows == a forced from-scratch re-cluster
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 2L)
    val grownServed = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.committed(spark, corpusT), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(2)))))
    assert(grownServed == rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.Frame(corpus), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2))))),
      "the refreshed spilled layout must serve the join-plan answer")
    def layoutRows(v: Long) = VersionedScan.read(spark, lT, v)
      .select("cid", "vec_id").orderBy("cid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding", force = true)
    assert(layoutRows(2L) == layoutRows(
      Versioned.latestVersion(spark, lT)),
      "the incremental spilled refresh must equal the from-scratch layout")
    // AS-OF serving on the spilled root: the era-1 instant resolves
    // the era's layout (fresh-at-that-instant stamp) and must
    // reproduce the era-1 answers — deduped, never duplicated rows
    val asOf1 = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT, AnnPin.AsOf(t1)), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(2), pin = AnnPin.AsOf(t1)))))
    assert(asOf1 == served,
      s"the spilled AS-OF serve must reproduce era-1: $asOf1 vs $served")
    // RETRAIN keeps the frozen scheme: new centroids, multi-assigned
    // at the stored eps
    AnnIndex.retrainIvf(spark, root, corpus, "vec_id", "embedding", 17)
    val retrained = VersionedScan.read(spark, aT)
    assert(retrained.columns.contains("cid2"),
      "a retrain must keep the spilled scheme")
    assert(retrained.select("spill_eps").head().getDouble(0) == 0.2,
      "a retrain must keep the stored eps")
    val afterRetrain = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.committed(spark, corpusT), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(16)))))
    // full width stays exact brute force, spill or not (same probe
    // frame as the serves — probeDf pinned the pre-append corpus
    // version, so its first row differs from the grown corpus's)
    val brute = corpus.crossJoin(
        org.apache.spark.sql.functions.broadcast(
          probeDf.select(col("embedding").as("__p"))))
      .select(col("vec_id"),
        graft.functions.vec_cosine_sim(col("embedding"), col("__p"))
          .as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(10)
    assert(afterRetrain == rows(brute),
      "full width on the retrained spilled root must be exact")
  }

  test("spilled root's measured recall through the committed door >= the plain root's at every width (r16)") {
    import graft.sources.Versioned
    // the audit surface itself (measureRecall — what ann_recall and
    // ann_tune report) must see the spill lift: same corpus, same
    // trained centroids, one spilled and one plain root, the MEASURED
    // recall through the committed door monotone >= at equal nProbe
    val dir = Files.createTempDirectory("spillrecall")
    val corpusT = dir.toString + "/emb"
    Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding").filter(col("vec_id") < 400),
      Some("vec_id"), 2)
    val corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val plainRoot = freshRoot("recallplain")
    val spillRoot = freshRoot("recallspill")
    AnnIndex.ensureIvf(spark, plainRoot, corpus, "vec_id", "embedding", 16)
    // share the trained centroids so the comparison isolates the
    // assignment scheme (the rehearsal leg's recipe)
    Versioned.commit(spark, AnnIndex.ivfCentroidsTable(spillRoot),
      graft.sources.VersionedScan.read(spark,
        AnnIndex.ivfCentroidsTable(plainRoot)), Some("cid"), 1)
    AnnIndex.ensureIvf(spark, spillRoot, corpus, "vec_id", "embedding",
      spill = 0.2)
    for (w <- Seq(1, 2, 4)) {
      val (rPlain, _) = AnnIndex.measureRecall(spark, plainRoot, corpusT,
        "vec_id", "embedding", "ivf", probes = 8, k = 10, width = w)
      val (rSpill, _) = AnnIndex.measureRecall(spark, spillRoot, corpusT,
        "vec_id", "embedding", "ivf", probes = 8, k = 10, width = w)
      info(f"door recall@10 width=$w: plain $rPlain%.3f spilled $rSpill%.3f")
      assert(rSpill >= rPlain,
        f"width $w: spilled $rSpill%.3f < plain $rPlain%.3f")
    }
  }

  test("ensure*Current: unchanged (corpus, index) re-ensures with ZERO Spark jobs; any generation move invalidates (r16)") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("ensurecur")
    val corpusT = dir.toString + "/emb"
    Versioned.commit(spark, corpusT,
      emb.filter(col("vec_id") % 4 =!= 0).select("vec_id", "embedding"),
      Some("vec_id"), 2)
    val root = freshRoot("ensurecur")
    assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
      "vec_id", "embedding", 16) == (1L, 1L))
    // steady state: the SAME (corpus, index) generations re-ensure
    // with ZERO Spark jobs — the landDelta classification join (a
    // full corpus pass at 100 TB) must not run just to learn the
    // delta is empty
    val sc = spark.sparkContext
    sc.setJobGroup("ensure-zero-probe", "steady-state re-ensure")
    try {
      assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
        "vec_id", "embedding", 16) == (1L, 1L))
    } finally sc.clearJobGroup()
    Thread.sleep(500) // the status store drains listener events async
    val ran = sc.statusTracker.getJobIdsForGroup("ensure-zero-probe")
    assert(ran.isEmpty,
      s"a steady-state Current re-ensure must run ZERO jobs, ran " +
        s"${ran.length}")
    // a corpus commit MISSES: the delta lands against the frozen
    // centroids exactly like the classic path
    Versioned.appendCommit(spark, corpusT,
      emb.filter(col("vec_id") % 4 === 0).select("vec_id", "embedding"),
      Some("vec_id"), 1)
    assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
      "vec_id", "embedding", 16) == (1L, 2L),
      "a corpus commit must land its delta through the Current door")
    // an INDEX generation move misses too: a retrain lands new
    // centroids + assignments, and the next Current ensure re-keys
    // to the retrained generations without a stale hit
    AnnIndex.retrainIvf(spark, root,
      graft.sources.VersionedScan.read(spark, corpusT),
      "vec_id", "embedding", 17)
    assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
      "vec_id", "embedding", 16) == (2L, 3L),
      "a retrained root must re-key, not hit the pre-retrain memo")
    // the memo must NOT swallow the real path's refusals: an hnsw
    // build-parameter drift still refuses (m rides the key)
    val nroot = freshRoot("ensurecurnsw")
    AnnIndex.ensureNswCurrent(spark, nroot, corpusT,
      "vec_id", "embedding", m = 8)
    assert(AnnIndex.ensureNswCurrent(spark, nroot, corpusT,
      "vec_id", "embedding", m = 8) == 1L)
    val e = intercept[IllegalArgumentException](
      AnnIndex.ensureNswCurrent(spark, nroot, corpusT,
        "vec_id", "embedding", m = 16))
    assert(e.getMessage.toLowerCase.contains("m"), e.getMessage)
    // pq: steady state + the ivf-centroids generation rides ITS key
    AnnIndex.ensurePqCurrent(spark, root, corpusT,
      "vec_id", "embedding", m = 4, k = 8)
    val pq1 = AnnIndex.ensurePqCurrent(spark, root, corpusT,
      "vec_id", "embedding", m = 4, k = 8)
    assert(AnnIndex.ensurePqCurrent(spark, root, corpusT,
      "vec_id", "embedding", m = 4, k = 8) == pq1,
      "an unchanged pq root must be steady state through the memo")
  }

  test("the verified-current stamp persists across sessions: a FRESH JVM re-ensures with ZERO jobs; every invalidation still misses (r17)") {
    import graft.sources.Versioned
    // r16's zero-job ensure memo was session-local, so the FIRST
    // ensure of every new JVM still paid the full corpus+index
    // classification join on an unchanged pair — the weekly
    // cron-refresh shape reads 100 TB to learn nothing changed
    // (VERDICT r16). The durable stamp makes the cross-session steady
    // state metadata-only; clearing the memo simulates the fresh JVM.
    val dir = Files.createTempDirectory("ensurestamp")
    val corpusT = dir.toString + "/emb"
    Versioned.commit(spark, corpusT,
      emb.filter(col("vec_id") % 4 =!= 0).select("vec_id", "embedding"),
      Some("vec_id"), 2)
    val root = freshRoot("stamp")
    def jobs(tag: String)(body: => Unit): Int = {
      val sc = spark.sparkContext
      sc.setJobGroup(tag, tag)
      try body finally sc.clearJobGroup()
      Thread.sleep(500) // the status store drains listener events async
      sc.statusTracker.getJobIdsForGroup(tag).length
    }
    def fresh(): Unit = AnnIndex.clearEnsureCurrentMemoForTest()
    assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
      "vec_id", "embedding", 16) == (1L, 1L))
    fresh()
    val n0 = jobs("stamp-zero") {
      assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
        "vec_id", "embedding", 16) == (1L, 1L))
    }
    assert(n0 == 0,
      s"a fresh session's ensure on an unchanged pair must be " +
        s"metadata-only through the durable stamp, ran $n0 jobs")
    // a corpus commit invalidates ACROSS sessions: the stamped key
    // names the old corpus generation, the fresh session lands the
    // delta through the full path and re-stamps
    Versioned.appendCommit(spark, corpusT,
      emb.filter(col("vec_id") % 4 === 0).select("vec_id", "embedding"),
      Some("vec_id"), 1)
    fresh()
    assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
      "vec_id", "embedding", 16) == (1L, 2L),
      "a corpus commit must miss the stamp and land its delta")
    fresh()
    assert(jobs("stamp-zero2") {
      assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
        "vec_id", "embedding", 16) == (1L, 2L))
    } == 0, "the re-stamped pair must be metadata-only again")
    // an index-generation move (retrain) misses from a fresh session
    AnnIndex.retrainIvf(spark, root,
      graft.sources.VersionedScan.read(spark, corpusT),
      "vec_id", "embedding", 17)
    fresh()
    assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
      "vec_id", "embedding", 16) == (2L, 3L),
      "a retrained root must miss the stale stamp, not serve it")
    // arg drift still refuses from a fresh session — the structural
    // args ride the stamped key, so a drifted request can never be
    // answered "current" by a stamp recorded for different params
    val nroot = freshRoot("stampnsw")
    AnnIndex.ensureNswCurrent(spark, nroot, corpusT,
      "vec_id", "embedding", m = 8)
    fresh()
    assert(jobs("stamp-nsw") {
      assert(AnnIndex.ensureNswCurrent(spark, nroot, corpusT,
        "vec_id", "embedding", m = 8) == 1L)
    } == 0, "the nsw stamp must be metadata-only too")
    fresh()
    val eDrift = intercept[IllegalArgumentException](
      AnnIndex.ensureNswCurrent(spark, nroot, corpusT,
        "vec_id", "embedding", m = 16))
    assert(eDrift.getMessage.contains("m="), eDrift.getMessage)
    // pq stamp: steady state across sessions, keyed on the chain
    AnnIndex.ensurePqCurrent(spark, root, corpusT,
      "vec_id", "embedding", m = 4, k = 8)
    fresh()
    assert(jobs("stamp-pq") {
      AnnIndex.ensurePqCurrent(spark, root, corpusT,
        "vec_id", "embedding", m = 4, k = 8)
    } == 0, "the pq stamp must be metadata-only")
    // DROP-ROOT REBUILD reusing version numbers: the artifact tables
    // are deleted but the stamp file survives — the rebuilt tables'
    // manifests hash to different fingerprints, so the stale stamp
    // must MISS (a version-number-only key would serve the dead
    // generation as "current") and the full bootstrap runs
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(AnnIndex.ivfCentroidsTable(root), AnnIndex.ivfAssignmentsTable(root),
      AnnIndex.pqCodebooksTable(root), AnnIndex.pqCodesTable(root))
      .foreach(t => fsys.delete(new org.apache.hadoop.fs.Path(t), true))
    fresh()
    assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
      "vec_id", "embedding", 16) == (1L, 1L),
      "a drop-root rebuild must run the full bootstrap, never ride " +
        "the surviving stamp")
    fresh()
    assert(jobs("stamp-zero3") {
      assert(AnnIndex.ensureIvfCurrent(spark, root, corpusT,
        "vec_id", "embedding", 16) == (1L, 1L))
    } == 0, "the rebuilt root re-stamps")
  }

  test("PQ build refuses the scalar-degenerate regime by name (r16)") {
    // m = D (1-dim subspaces) materializes the corpus x m*k training
    // cross with no accuracy benefit over the s05/s11 scalar tiers —
    // the r15 rehearsal OOM'd the 2.2M build there; an operator gets
    // the named refusal instead of an executor OOM
    val root = freshRoot("pqscalardeg")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val e = intercept[IllegalArgumentException](
      AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding",
        m = dim, k = 8))
    assert(e.getMessage.contains("scalar-degenerate") &&
      e.getMessage.contains("s05"), e.getMessage)
  }

  test("a residual re-encode refuses a stamped generation whose fingerprint moved (r15)") {
    import graft.sources.Versioned
    // forge the state a drop-root centroids rebuild (reusing the
    // stamped version number) leaves behind a stranded codebooks
    // RETRAIN: the stamp still names v1, but v1's manifest no longer
    // hashes to the stamped fingerprint. The torn-pair repair's
    // re-encode must refuse LOUDLY instead of encoding residuals
    // against the imposter generation — the exact hazard the
    // fingerprints guard on every other path (stampedDeltaSides,
    // requireCoherentStamp).
    val root = freshRoot("pqimposter")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding", m = 4, k = 8)
    val forged = Pq.codebooks(emb, "vec_id", "embedding", 4, 8)
      .withColumn("enc", lit("residual"))
      .withColumn("cgv", lit(1L))
      .withColumn("cgf", lit(123456789L))
    Versioned.commit(spark, AnnIndex.pqCodebooksTable(root), forged,
      Some("sub"), files = 1, txn = Some("pq-retrain-b-from1-m4-k8"),
      op = "RETRAIN", expected = Some(1L))
    val e = intercept[IllegalArgumentException](
      AnnIndex.retrainPq(spark, root, emb, "vec_id", "embedding",
        m = 4, k = 8))
    assert(e.getMessage.contains("no longer hashes to the stamped " +
      "fingerprint"), e.getMessage)
  }

  test("multi-executor simulation: fast path off, a warm serve cogroups but reconstructs NOTHING") {
    // a 100-executor cluster is exactly a session where the DRIVER's
    // cache map is empty while executor caches are warm: the driver
    // fast path self-disables and the cogroup runs with task-side
    // cache hits. One JVM can't split the map, but it CAN disable the
    // fast path by conf and pin what such a session pays warm — the
    // shuffle, never the reconstruction.
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("annexec")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding"), Some("vec_id"), 2)
    val root = freshRoot("annexec")
    AnnIndex.ensureNsw(spark, root,
      graft.sources.VersionedScan.read(spark, corpusT),
      "vec_id", "embedding")
    val probes = emb.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    def serve() = AnnIndex.serve(spark, root, AnnRequest("hnsw",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding", probes,
        5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val warm = serve() // cold: builds + caches
    val b0 = AnnIndex.serveBuilds.get()
    val h0 = AnnIndex.serveHits.get()
    spark.conf.set("spark.graft.ann.residencyFastPath", "false")
    try {
      val viaCogroup = serve()
      assert(viaCogroup == warm,
        "the cogroup route must serve identical answers")
      assert(AnnIndex.serveBuilds.get() == b0,
        "executor-side cache hits must skip reconstruction even with " +
          "the driver fast path off — a 100-executor warm session pays " +
          "the shuffle, never the rebuild")
      assert(AnnIndex.serveHits.get() > h0,
        "the cogroup route's task-side lookups must register as hits")
    } finally spark.conf.unset("spark.graft.ann.residencyFastPath")
  }

  test("ivf_lists O(delta) refresh: dirty lists rewrite, clean files carry, rows == from-scratch") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("ivflistsinc")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.filter(col("vec_id") % 4 =!= 0).select("vec_id", "embedding"),
      Some("vec_id"), 4)
    def corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("ivflistsinc")
    val lT = AnnIndex.ivfListsTable(root)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 1L)
    val files1 = graft.sources.Versioned.snapshot(spark, lT)
      .files.map(_.path).toSet
    assert(files1.size >= 4, s"fixture needs several layout files: $files1")
    // a SMALL corpus delta (one appended row) stales the stamp; the
    // refresh must rewrite only the touched list's files
    graft.sources.Versioned.appendCommit(spark, corpusT,
      emb.filter(col("vec_id") === 0L).select("vec_id", "embedding"),
      Some("vec_id"), 1)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    val lv2 = AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding")
    assert(lv2 == 2L, "a stale layout must refresh as a new commit")
    val files2 = graft.sources.Versioned.snapshot(spark, lT, lv2)
      .files.map(_.path).toSet
    // (b) carry-by-reference: clean files appear with the SAME names in
    // both manifests — a full re-cluster would share none
    assert((files1 intersect files2).nonEmpty,
      s"untouched files must carry by reference: $files1 vs $files2")
    assert(files2 != files1, "the dirty list's file must have rewritten")
    // (a) refreshed ≡ from-scratch: the layout's rows equal the join
    // derivation over the CURRENT generations
    val (_, asg) = AnnIndex.loadIvf(spark, root)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cid"), col("vec_id"),
        org.apache.spark.sql.functions.xxhash64(col("embedding")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rowsOf(graft.sources.VersionedScan.read(spark, lT, lv2)) ==
      rowsOf(asg.select("vec_id", "cid")
        .join(corpus.select("vec_id", "embedding"), "vec_id")
        .select(col("cid"), col("vec_id"), col("embedding"))),
      "the refreshed layout must be row-identical to a from-scratch one")
    // the refreshed stamp is FRESH — pruned serving resumes, answering
    // exactly like the join plan
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == 1L)
    val probeDf = corpus.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2))))) ==
      rows(AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
          AnnCorpus.Frame(corpus), "vec_id", "embedding",
          AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2))))),
      "refreshed-layout serving must answer exactly like the join plan")
    // phase 2: a MoR UPDATE (a DV delta, not a file swap) — the old
    // image's list rewrites, the new image lands, clean files carry
    graft.sources.Versioned.upsertMergeOnRead(spark, corpusT,
      updatedCorpus.filter(col("vec_id") === 5L)
        .select("vec_id", "embedding"), "vec_id", files = 1)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    val lv3 = AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding")
    assert(lv3 == 3L)
    val files3 = graft.sources.Versioned.snapshot(spark, lT, lv3)
      .files.map(_.path).toSet
    assert((files2 intersect files3).nonEmpty,
      "an update must carry the untouched lists' files too")
    assert(rowsOf(graft.sources.VersionedScan.read(spark, lT, lv3)) ==
      rowsOf(AnnIndex.loadIvf(spark, root)._2.select("vec_id", "cid")
        .join(corpus.select("vec_id", "embedding"), "vec_id")
        .select(col("cid"), col("vec_id"), col("embedding"))),
      "the post-update layout must be row-identical to a from-scratch one")
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == 1L)
  }

  test("OPTIMIZE on a serving layout keeps the stamp; a foreign write reads stale") {
    // the O(delta) refresh accretes small delta files BY DESIGN, so
    // binpack on a layout is routine maintenance — it preserves rows,
    // and must not un-prune serving or cost a full re-cluster; any
    // OTHER unstamped commit (DML, foreign writes) may have changed
    // rows and must read as stale
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("ivfloptim")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding"), Some("vec_id"), 2)
    val corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("ivfloptim")
    val lT = AnnIndex.ivfListsTable(root)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 1L)
    val probeDf = corpus.orderBy("vec_id").limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = rows(AnnServe.single(AnnIndex.serve(spark, root,
        AnnRequest("ivf", AnnCorpus.committed(spark, corpusT), "vec_id",
        "embedding", AnnServe.oneProbe(probeDf, "embedding"), 10,
        width = Some(2)))))
    assert(graft.sources.Versioned.compactCommit(spark, lT,
      targetFiles = 1) == 2L)
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == 1L, "a row-preserving OPTIMIZE must keep the layout fresh")
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 2L,
      "a compacted-but-fresh layout must not recommit")
    assert(rows(AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("ivf",
        AnnCorpus.committed(spark, corpusT), "vec_id", "embedding",
        AnnServe.oneProbe(probeDf, "embedding"), 10, width = Some(2)))))
      == before, "serving must ride the compacted layout unchanged")
    // the O(delta) refresh must parse the stamp THROUGH the compaction
    // and rewrite the compacted files: append one new corpus row,
    // re-ensure, refresh — still incremental is not observable here
    // (one compacted file holds every list, so it rewrites), but the
    // stamp parse and the rows must survive the compacted base
    graft.sources.Versioned.appendCommit(spark, corpusT,
      emb.filter(col("vec_id") === 1L)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")),
      Some("vec_id"), 1)
    AnnIndex.ensureIvf(spark, root,
      graft.sources.VersionedScan.read(spark, corpusT),
      "vec_id", "embedding", 16)
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 3L,
      "a refresh over a compacted base must land (stamp parsed " +
        "through the OPTIMIZE commit)")
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == 1L)
    def currentRows() = {
      val (_, asg) = AnnIndex.loadIvf(spark, root)
      asg.select("vec_id", "cid")
        .join(graft.sources.VersionedScan.read(spark, corpusT)
          .select("vec_id", "embedding"), "vec_id")
        .count()
    }
    assert(graft.sources.VersionedScan.read(spark, lT).count()
      == currentRows(),
      "the refreshed-over-compaction layout must hold the full derivation")
    // a foreign unstamped write (not OPTIMIZE) may have changed rows:
    // freshness must drop, and the next optimize rebuilds
    graft.sources.Versioned.appendCommit(spark, lT,
      graft.sources.VersionedScan.read(spark, lT).limit(1),
      Some("cid"), 1)
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == 0L, "a foreign write must read as stale")
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 5L,
      "the next optimize must land a rebuilt layout")
    // FORCE: a whole-layout compaction keeps rows (fresh) but can
    // destroy pruning granularity; force re-clusters regardless
    graft.sources.Versioned.compactCommit(spark, lT, targetFiles = 1)
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == 1L)
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding", force = true) == 7L,
      "force must recommit the full cluster even when fresh")
    assert(graft.sources.Versioned.snapshot(spark, lT).files.size > 1,
      "the forced re-cluster must restore file granularity")
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == 1L)
  }

  test("layout refresh never trusts a foreign stamp: a different corpus table full-rebuilds") {
    // the stamp names the corpus TABLE (hash) and each source
    // generation's manifest FINGERPRINT; an incremental diff across a
    // table swap (or a drop-root version-number reuse) would carry
    // another table's rows under a fresh stamp — silently wrong. The
    // refresh must detect the foreign identity and pay the full
    // re-cluster: zero carried files, rows == the new table's own
    // derivation.
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("ivfforeign")
    val tA = dir.toString + "/embA"
    val tB = dir.toString + "/embB"
    graft.sources.Versioned.commit(spark, tA,
      emb.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding"),
      Some("vec_id"), 4)
    graft.sources.Versioned.commit(spark, tB,
      emb.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding"),
      Some("vec_id"), 4)
    val root = freshRoot("ivfforeign")
    val lT = AnnIndex.ivfListsTable(root)
    AnnIndex.ensureIvf(spark, root,
      graft.sources.VersionedScan.read(spark, tA),
      "vec_id", "embedding", 16)
    assert(AnnIndex.optimizeIvfServing(spark, root, tA,
      "vec_id", "embedding") == 1L)
    val filesA = graft.sources.Versioned.snapshot(spark, lT)
      .files.map(_.path).toSet
    // re-point the SAME root's serving at table B (index re-ensured
    // over B): the layout's stamp still names table A
    AnnIndex.ensureIvf(spark, root,
      graft.sources.VersionedScan.read(spark, tB),
      "vec_id", "embedding", 16)
    val lv2 = AnnIndex.optimizeIvfServing(spark, root, tB,
      "vec_id", "embedding")
    assert(lv2 == 2L)
    val filesB = graft.sources.Versioned.snapshot(spark, lT, lv2)
      .files.map(_.path).toSet
    assert((filesA intersect filesB).isEmpty,
      "a foreign-table stamp must full-rebuild, never carry files " +
        s"derived from another corpus: $filesA vs $filesB")
    val (_, asg) = AnnIndex.loadIvf(spark, root)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cid"), col("vec_id"),
        org.apache.spark.sql.functions.xxhash64(col("embedding")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rowsOf(graft.sources.VersionedScan.read(spark, lT, lv2)) ==
      rowsOf(asg.select("vec_id", "cid")
        .join(graft.sources.VersionedScan.read(spark, tB)
          .select("vec_id", "embedding"), "vec_id")
        .select(col("cid"), col("vec_id"), col("embedding"))),
      "the rebuilt layout must hold exactly table B's derivation")
  }

  test("layout refresh above the literal-IN cap rides the semi-join, rows == from-scratch (r15)") {
    // r14 ADVICE: near maxLayoutDelta the ~100k-literal isin plans cost
    // superlinear Catalyst planning — above isinLiteralCap (4096) the
    // delta lookups ride a broadcast semi-join instead. This pins the
    // big-delta path end-to-end: a 6000-row append (above the cap,
    // under maxLayoutDelta) still refreshes INCREMENTALLY (append-only
    // deltas carry every old file by name) and lands a layout
    // row-identical to a from-scratch re-cluster.
    val dir = Files.createTempDirectory("ivfsemijoin")
    val corpusT = dir.toString + "/emb"
    def vecs(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("vec_id"),
        array((0 until 8).map(i =>
          (pmod(col("id") * (i + 3), lit(97L)) / 97.0).cast("float")): _*)
          .as("embedding"))
    graft.sources.Versioned.commit(spark, corpusT, vecs(0, 3000),
      Some("vec_id"), 4)
    def corpus = graft.sources.VersionedScan.read(spark, corpusT)
    val root = freshRoot("semijoin")
    val lT = AnnIndex.ivfListsTable(root)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    assert(AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding") == 1L)
    val files1 = graft.sources.Versioned.snapshot(spark, lT)
      .files.map(_.path).toSet
    graft.sources.Versioned.appendCommit(spark, corpusT,
      vecs(3000, 9000), Some("vec_id"), 4)
    AnnIndex.ensureIvf(spark, root, corpus, "vec_id", "embedding", 16)
    val lv2 = AnnIndex.optimizeIvfServing(spark, root, corpusT,
      "vec_id", "embedding")
    assert(lv2 == 2L, "the big-delta refresh must land incrementally")
    val files2 = graft.sources.Versioned.snapshot(spark, lT, lv2)
      .files.map(_.path).toSet
    assert(files1.subsetOf(files2),
      s"an append-only delta must carry every old file by name: " +
        s"${files1.size} old, ${(files1 intersect files2).size} carried")
    val (_, asg) = AnnIndex.loadIvf(spark, root)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cid"), col("vec_id"),
        xxhash64(col("embedding")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rowsOf(graft.sources.VersionedScan.read(spark, lT, lv2)) ==
      rowsOf(asg.select("vec_id", "cid")
        .join(corpus.select("vec_id", "embedding"), "vec_id")
        .select(col("cid"), col("vec_id"), col("embedding"))),
      "the semi-join refresh must be row-identical to a from-scratch one")
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == 1L)
  }

  test("raw (pre-residual) PQ indexes keep serving and delta-encoding raw") {
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val root = freshRoot("pqrawlegacy")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16)
    // a pre-r14 index on disk: RAW codebooks (no scheme stamp) + codes
    val rawBooks = Pq.codebooks(base, "vec_id", "embedding", 8, 16)
    graft.sources.Versioned.commit(spark, AnnIndex.pqCodebooksTable(root),
      rawBooks, Some("sub"), files = 1)
    graft.sources.Versioned.commit(spark, AnnIndex.pqCodesTable(root),
      Pq.encode(base, "vec_id", "embedding", rawBooks, 8)
        .join(base.select(col("vec_id"), xxhash64(col("embedding")).as("vh")),
          "vec_id"),
      Some("vec_id"), files = 4)
    // the delta encodes under the STORED scheme — raw, even though the
    // root has centroids (residual is for NEW builds, never a silent
    // migration of committed codes)
    AnnIndex.ensurePq(spark, root, emb, "vec_id", "embedding", m = 8, k = 16)
    val (books, codes) = AnnIndex.loadPq(spark, root)
    assert(!books.columns.contains("cgv"), "raw books must stay unstamped")
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "sub", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(triples(codes) ==
      triples(Pq.encode(emb, "vec_id", "embedding", books, 8)),
      "a raw index's delta must encode raw against the frozen codebooks")
    // and raw serving rides the raw ADC unchanged — no coherence gate
    assert(AnnServe.single(AnnIndex.serve(spark, root, AnnRequest("pq",
        AnnCorpus.Frame(emb), "vec_id", "embedding",
        AnnServe.oneProbe(emb.orderBy("vec_id").limit(1).select(col("embedding")), "embedding"),
        5, width = Some(4), pool = Some(50)))).collect().length == 5)
  }

  test("explicit spill drift refuses loudly (r17): spill > 0 on a " +
      "plain root, or an eps contradicting the frozen scheme") {
    // ADVICE r16: a caller-requested spill > 0 on a committed PLAIN
    // root was silently ignored (stored scheme wins) and the Current
    // memo then stamped the drifted key as zero-job "success" — the
    // multi-assignment the caller asked for was never applied. Mirror
    // the hnsw build-parameter refusal: spill = 0 stays "no opinion"
    // (stored scheme wins, the default-caller contract), an explicit
    // eps must MATCH the frozen one or refuse with the drop-root
    // remedy.
    val plain = freshRoot("spilldrift")
    AnnIndex.ensureIvf(spark, plain, emb, "vec_id", "embedding", 16)
    val e1 = intercept[IllegalArgumentException](
      AnnIndex.ensureIvf(spark, plain, emb, "vec_id", "embedding", 16,
        spill = 0.1))
    assert(e1.getMessage.contains("PLAIN") &&
      e1.getMessage.contains("re-ensure"), e1.getMessage)
    // ...and through the zero-job Current door: spill rides the memo
    // key, so the drifted request must MISS and reach the refusal,
    // never return a memoized success
    val dir = Files.createTempDirectory("spilldriftc")
    val corpusT = dir.toString + "/emb"
    graft.sources.Versioned.commit(spark, corpusT,
      emb.select("vec_id", "embedding"), Some("vec_id"), 2)
    val plainC = freshRoot("spilldriftcur")
    AnnIndex.ensureIvfCurrent(spark, plainC, corpusT, "vec_id",
      "embedding", 16)
    AnnIndex.ensureIvfCurrent(spark, plainC, corpusT, "vec_id",
      "embedding", 16) // memoized plain re-ensure stays fine
    val e2 = intercept[IllegalArgumentException](
      AnnIndex.ensureIvfCurrent(spark, plainC, corpusT, "vec_id",
        "embedding", 16, spill = 0.1))
    assert(e2.getMessage.contains("PLAIN"), e2.getMessage)
    // spilled root: matching eps re-ensures clean; a DIFFERENT eps
    // refuses naming both values; spill = 0 rides the stored scheme
    val spilled = freshRoot("spilleps")
    AnnIndex.ensureIvf(spark, spilled, emb, "vec_id", "embedding", 16,
      spill = 0.2)
    assert(AnnIndex.ensureIvf(spark, spilled, emb, "vec_id", "embedding",
      16, spill = 0.2) == (1L, 1L), "matching eps must mint nothing")
    assert(AnnIndex.ensureIvf(spark, spilled, emb, "vec_id", "embedding",
      16) == (1L, 1L), "spill = 0 must defer to the stored scheme")
    val e3 = intercept[IllegalArgumentException](
      AnnIndex.ensureIvf(spark, spilled, emb, "vec_id", "embedding", 16,
        spill = 0.1))
    assert(e3.getMessage.contains("0.2") && e3.getMessage.contains("0.1"),
      e3.getMessage)
  }

  test("zero-row spilled assignments generation refuses instead of " +
      "silently degrading to a plain scheme (r17)") {
    // ADVICE r16: storedSpillEps defaulted to 0.0 when the current
    // generation held no readable rows — the next delta would then
    // assign PLAIN rows into a root whose schema still declares the
    // spilled scheme (silent scheme change / commit-time mismatch).
    val root = freshRoot("spillempty")
    AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16,
      spill = 0.2)
    val aT = AnnIndex.ivfAssignmentsTable(root)
    // simulate the removed-then-regrown state: a committed generation
    // carrying the spilled schema and ZERO rows
    graft.sources.Versioned.commit(spark, aT,
      graft.sources.VersionedScan.read(spark, aT).limit(0),
      Some("vec_id"), files = 1)
    val e = intercept[IllegalStateException](
      AnnIndex.ensureIvf(spark, root, emb, "vec_id", "embedding", 16))
    assert(e.getMessage.contains("ZERO readable rows") &&
      e.getMessage.contains("re-ensure"), e.getMessage)
  }
}
