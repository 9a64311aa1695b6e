package graft.vector

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.{Tables, Versioned, VersionedScan}

/** [[AnnIndex.serve]] against the in-memory reference kernels, one row
  * per serving situation: kind × pin × {1, 3 probes} × corpus form ×
  * {unfiltered, filtered}. The corpus forms are a plain frame, a
  * committed table whose derived serving layouts were fresh at the
  * pin, and one whose layouts were stale then. Every row must return
  * exactly the reference's rows in the reference's order — same ids,
  * same scores, same ties. The reference reads the artifact tables at
  * the versions the pin names, so an AS OF row is also the
  * "as-of ≡ historical" pin, a committed row the "committed ≡ frame"
  * pin, and a one-probe row the "batch ≡ single" pin (its reference is
  * the single-probe kernel). */
class ServeEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val (k, width) = (5, 2)

  /** One index root over its own committed corpus, grown in three
    * waves, the artifacts re-ensured after every wave. A `fresh`
    * fixture refreshes every serving layout after every wave; a stale
    * one builds them over wave 1 only, so at the recorded instant (and
    * after) every layout's stamp names an older generation. `asOf` is
    * an instant between waves 2 and 3, where the latest and the
    * historical generations differ. */
  private final class Fixture(fresh: Boolean) {
    val root: String = Files.createTempDirectory("serveq").toString + "/ix"
    val corpusT: String = root + "/corpus"
    private val all = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding", "label")
    private def wave(i: Int) = all.filter(col("vec_id") % 4 === i)
    private def ensure(): Unit = {
      val c = VersionedScan.read(spark, corpusT)
      AnnIndex.ensureIvf(spark, root, c, "vec_id", "embedding", 8)
      AnnIndex.ensurePq(spark, root, c, "vec_id", "embedding", m = 8, k = 8)
      AnnIndex.ensureNsw(spark, root, c, "vec_id", "embedding")
    }
    private def optimize(): Unit = {
      AnnIndex.optimizeIvfServing(spark, root, corpusT, "vec_id", "embedding")
      AnnIndex.optimizePqServing(spark, root, "vec_id")
      AnnIndex.optimizeNswServing(spark, root, corpusT, "vec_id", "embedding")
    }
    Versioned.commit(spark, corpusT, wave(0).unionByName(wave(1)),
      Some("vec_id"), files = 4)
    ensure()
    optimize()
    Versioned.appendCommit(spark, corpusT, wave(2), Some("vec_id"), 1)
    ensure()
    if (fresh) optimize()
    Thread.sleep(5)
    val asOf: Long = System.currentTimeMillis()
    Thread.sleep(5)
    Versioned.appendCommit(spark, corpusT, wave(3), Some("vec_id"), 1)
    ensure()
    if (fresh) optimize()
    val expectFresh: Long = if (fresh) 1L else 0L
    assert(AnnIndex.listsFreshness(spark, root, corpusT)("ivf_lists_fresh")
      == expectFresh)
    assert(AnnIndex.pqListsFreshness(spark, root)("pq_lists_fresh")
      == expectFresh)
    assert(AnnIndex.nswLayoutFreshness(spark, root, corpusT)
      .apply("nsw_layout_fresh") == expectFresh)
  }
  private lazy val freshFx = new Fixture(fresh = true)
  private lazy val staleFx = new Fixture(fresh = false)

  private def versionOf(table: String, pin: AnnPin): Long = pin match {
    case AnnPin.Latest => Versioned.latestVersion(spark, table)
    case AnnPin.AsOf(ts) => Versioned.snapshotAsOf(spark, table, ts).version
  }
  private def readAt(table: String, pin: AnnPin): DataFrame =
    VersionedScan.read(spark, table, versionOf(table, pin))

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("probe_id").cast("long"), col("vec_id").cast("long"),
        col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** The reference: the in-memory kernels over the pin-resolved
    * artifacts and the (filtered) corpus snapshot of the same pin —
    * the single-probe kernel for one probe, the batch kernel for a
    * set. */
  private def reference(fx: Fixture, kind: String, pin: AnnPin,
      probes: DataFrame,
      allowed: Option[DataFrame]): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    val r = fx.root
    def semi(df: DataFrame) = allowed.fold(df)(a =>
      df.join(a, Seq("vec_id"), "left_semi"))
    val corpus = semi(readAt(fx.corpusT, pin))
    val pids = probes.select("probe_id").as[Long].collect().toSeq.sorted
    def onePerProbe(serve: DataFrame => DataFrame) = pids.flatMap { pid =>
      rows(serve(probes.filter(col("probe_id") === pid)
          .select(col("embedding")))
        .select(lit(pid).as("probe_id"), col("vec_id"), col("score")))
    }
    lazy val (cents, asg) = (readAt(AnnIndex.ivfCentroidsTable(r), pin),
      readAt(AnnIndex.ivfAssignmentsTable(r), pin))
    lazy val (books, codes) = (readAt(AnnIndex.pqCodebooksTable(r), pin),
      semi(readAt(AnnIndex.pqCodesTable(r), pin)))
    lazy val m = books.agg(max("sub")).head().getAs[Number](0).intValue + 1
    lazy val pool = AnnIndex.pqRerankPool(k, width)
    (kind, pids.size) match {
      case ("ivf", 1) => onePerProbe(p => Ivf.search(corpus, asg, cents,
        "vec_id", "embedding", p, "embedding", k, width))
      case ("ivf", _) => rows(Ivf.searchBatch(corpus, asg, cents, "vec_id",
        "embedding", probes, "probe_id", "embedding", k, width))
      case ("pq", 1) => onePerProbe(p => Pq.searchIvfPq(corpus, asg, cents,
        codes, books, "vec_id", "embedding", p, "embedding", m, k, width,
        pool))
      case ("pq", _) => rows(Pq.searchIvfPqBatch(corpus, asg, cents, codes,
        books, "vec_id", "embedding", probes, "probe_id", "embedding", m, k,
        width, pool))
      case _ => onePerProbe(p => NswAnn.search(corpus, "vec_id", "embedding",
          p.select(col("embedding").cast("array<float>")).as[Array[Float]]
            .head(), k)
        .withColumnRenamed("cos", "score"))
    }
  }

  for {
    kind <- Seq("ivf", "pq", "hnsw")
    asOf <- Seq(false, true)
    nProbes <- Seq(1, 3)
    form <- Seq("frame", "committed+fresh layout", "committed+stale layout")
    filtered <- if (kind == "hnsw") Seq(false) else Seq(false, true)
  } test(s"serve == reference: $kind, ${if (asOf) "as-of" else "latest"}, " +
      s"$nProbes probe(s), $form" + (if (filtered) ", filtered" else "")) {
    val fx = if (form.endsWith("stale layout")) staleFx else freshFx
    val pin = if (asOf) AnnPin.AsOf(fx.asOf) else AnnPin.Latest
    val corpusAt = readAt(fx.corpusT, pin)
    val probes = corpusAt.orderBy("vec_id").limit(nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val allowed = if (!filtered) None
      else Some(corpusAt.filter(col("label") % 2 === 0).select("vec_id"))
    val corpus =
      if (form == "frame") AnnCorpus.Frame(corpusAt)
      else AnnCorpus.committed(spark, fx.corpusT, pin)
    val served = rows(AnnIndex.serve(spark, fx.root, AnnRequest(kind,
      corpus, "vec_id", "embedding", probes, k,
      width = if (kind == "hnsw") None else Some(width), pin = pin,
      allowed = allowed)))
    assert(served.nonEmpty, "the fixture must serve rows")
    assert(served == reference(fx, kind, pin, probes, allowed))
  }
}
