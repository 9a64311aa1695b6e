package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.{Bronze, Silver}
import graft.rag.Retrieval
import graft.sources.{Lake, Versioned}
import graft.text.Chunkers
import graft.vector.HashingEmbedder

/** `ask_serving`: chat users ask questions, two clients in a closed
  * loop, each waiting for its answer. An ask embeds the question, takes
  * the top-3 chunk ids from `graft_ann_search` over the ivf or the hnsw
  * index, fetches their text from the corpus table and assembles the
  * prompt with Retrieval's template. Every sixth op is a 16-question
  * batch through one plan. Questions are seeded paraphrases of corpus
  * chunks, a fifth of them off-corpus.
  *
  * The set-up lands the corpus the way the crawler pipeline does: raw
  * book JSON through `Lake.readJson`, Bronze and Silver, chunked and
  * embedded by Retrieval, committed, then indexed by `ann_ensure`.
  *
  * Why: tiny read-only requests, where planning, job scheduling,
  * index-metadata reads and the serve caches dominate and the commit
  * path is never touched. */
final class AskServing(seed: Long) extends Workload {
  import AskServing._

  override val clients = 2

  private var spark: SparkSession = _
  private var wh: String = _
  private val embedder = HashingEmbedder(Dim)
  private var questions: IndexedSeq[String] = _
  private var chunksPerBook = 0.0
  /** (kind, question vector, ids served) per question, for recall. */
  private val served = new ConcurrentLinkedQueue[(String, Array[Float], Seq[Long])]()
  private var statsBefore: Map[String, Long] = Map.empty

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    wh = dir.resolve("wh").toString
    val books = (1L to CorpusBooks).map(n => Gen.book(seed, n))
    val raw = Files.createDirectories(dir.resolve("raw"))
    Files.write(raw.resolve("part-0.json"),
      books.map(b => Gen.bookJson(b, "2025-07-18 10:15:00")).mkString("", "\n", "\n").getBytes("UTF-8"))
    val silver = Trace.span("etl", "etl.land") {
      Silver.fromBronze(Bronze.fromRaw(Lake.readJson(spark, raw.toString)), "crawl0").localCheckpoint()
    }
    val chunks = Trace.span("rag", "rag.chunk_embed") {
      Retrieval.withEmbeddings(Retrieval.chunkTable(silver, chunker), embedder)
        .select(xxhash64(col("chunk_id"), col("document")).bitwiseAND(lit(Long.MaxValue)).as("chunk_key"),
          col("document"), col("metadata.book_source_url").as("source"), col("embedding"))
        .localCheckpoint()
    }
    // committed through the library: a catalog CTAS of the UDF-built
    // embedding column is refused as an incompatible append (array<float>
    // nullability)
    Trace.span("sources", "sources.corpus_commit")(Versioned.commit(spark, s"$wh/corpus", chunks, Some("chunk_key")))
    Kinds.foreach(k => Trace.span("vector", s"vector.ann_build.$k")(spark.sql(
      "CALL graft.system.ann_ensure(index_root => 'ix', table => 'corpus', id_col => 'chunk_key', " +
        s"emb_col => 'embedding', kind => '$k', refresh_serving => true)").collect()))
    chunksPerBook = books.map(b => chunker(b.document).size).sum.toDouble / books.size
    val r = new Random(seed)
    questions = IndexedSeq.fill(QuestionPool) {
      if (r.nextDouble() < OffCorpusShare) Gen.offCorpusQuestion(r)
      else {
        val cs = chunker(books(r.nextInt(books.size)).document)
        Gen.paraphrase(r, cs(r.nextInt(cs.size)))
      }
    }
  }

  private def vecSql(v: Array[Float]): String =
    v.map(x => s"CAST(${x.toDouble} AS DOUBLE)").mkString("array(", ", ", ")")

  private def search(probe: String, kind: String): String =
    s"SELECT * FROM graft_ann_search('$wh/ix', '$wh/corpus', 'chunk_key', 'embedding', " +
      s"$probe, $K, '$kind')"

  private def prompt(question: String, docs: Seq[String]): String =
    Trace.span("rag", "rag.prompt") {
      if (docs.isEmpty) Retrieval.RefusalAnswer
      else Retrieval.PromptTemplate.format(docs.mkString(Retrieval.ContextSeparator), question)
    }

  private def ask(seq: Long): OpRec = {
    val slot = Rotation((seq % Rotation.size).toInt)
    val batch = slot == "batch"
    // batches alternate between the two indexes
    val kind = if (batch) Kinds(((seq / Rotation.size) % Kinds.size).toInt) else slot
    val qs = (0 until (if (batch) BatchSize else 1))
      .map(i => questions(((seq * BatchSize + i) % questions.size).toInt))
    var ok = true
    val rec = Workload.timed(if (batch) "batch" else kind) {
      val vecs = qs.map(q => Trace.span("vector", "vector.embed")(embedder.embed(q)))
      val rows = Trace.span("vector", if (batch) "vector.ann_search.batch" else s"vector.ann_search.$kind") {
        spark.sql(search(if (batch) vecs.map(vecSql).mkString("array(", ", ", ")")
          else vecSql(vecs.head), kind)).collect()
      }
      val byProbe: Map[Long, Seq[(Long, Double)]] = rows.toSeq.map { r =>
        val pid = if (batch) r.getAs[Long]("probe_id") else 0L
        pid -> (r.getAs[Long]("chunk_key"), r.getAs[Double]("score"))
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sortBy(x => (-x._2, x._1)) }
      // the search serves ids; the context comes from the corpus table
      val docs = Trace.span("sources", "sources.context_fetch") {
        val keys = byProbe.values.flatten.map(_._1).toSeq.distinct
        if (keys.isEmpty) Map.empty[Long, String]
        else spark.sql("SELECT chunk_key, document FROM graft.corpus WHERE chunk_key IN " +
            keys.mkString("(", ", ", ")")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      qs.indices.foreach { i =>
        val hits = byProbe.getOrElse(i.toLong, Nil)
        val p = prompt(qs(i), hits.flatMap(h => docs.get(h._1)))
        if (hits.size != K || !p.contains(qs(i))) ok = false
        served.add((kind, vecs(i), hits.map(_._1)))
      }
      qs.size.toLong
    }
    rec.copy(ok = ok)
  }

  def measure(deadlineNs: Long): Seq[OpRec] = {
    if (Trace.enabled) statsBefore = serveStats()
    Workload.closedLoop(clients, deadlineNs, Rotation.size)((_, seq) => ask(seq))
  }

  private def serveStats(): Map[String, Long] = spark.sql(
    "CALL graft.system.ann_stats(index_root => 'ix')").collect()
    .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Recall@3 per kind against brute-force cosine top-3 over the
    * collected corpus; a served id counts as a hit when its exact
    * score ties or beats the exact third-best (ties are common with
    * hashed embeddings). */
  def recall(): Map[String, Double] = {
    val corpus = spark.sql("SELECT chunk_key, embedding FROM graft.corpus").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val byId = corpus.toMap
    served.asScala.toSeq.groupBy(_._1).map { case (kind, xs) =>
      kind -> xs.map { case (_, q, ids) =>
        val scores = corpus.map { case (_, v) => Exact.cosine(q, v) }
        val third = Exact.kthLargest(scores, K)
        ids.count(id => byId.get(id).exists(v => Exact.cosine(q, v) >= third - 1e-9)).toDouble / K
      }.sum / xs.size
    }
  }

  private lazy val recallByKind = recall()

  def check(): Seq[String] = Kinds.flatMap { k =>
    recallByKind.get(k) match {
      case None => Some(s"no $k asks served")
      case Some(r) if r < RecallFloor(k) => Some(f"$k recall@3 $r%.3f below the spec floor ${RecallFloor(k)}")
      case _ => None
    }
  }

  override def extras(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val tail = Stats.tail(ops.filter(_.ok).map(_.ms), 90).map(v => ("op_p90_ms", v, "ms"))
    tail.toSeq ++ Seq(("recall_at_3", if (recallByKind.isEmpty) 0.0 else recallByKind.values.min, "ratio")) ++
      recallByKind.toSeq.sorted.map { case (k, v) => (s"recall_at_3.$k", v, "ratio") }
  }

  def layers(ops: Seq[OpRec], spans: Seq[Span], setup: Seq[Span], t: Tally): Map[String, Double] = {
    val after = serveStats()
    def delta(k: String) = after.getOrElse(k, 0L) - statsBefore.getOrElse(k, 0L)
    val hits = delta("serve_cache_hits_total")
    val builds = delta("serve_builds_total")
    val byName = spans.groupBy(_.name)
    def meanMs(name: String) = byName.get(name).map(ss => ss.map(_.durNs).sum / 1e6 / ss.size).getOrElse(0.0)
    val results = ops.map(_.rows).sum * K
    Map(
      "vector.embed_us" -> meanMs("vector.embed") * 1000,
      "vector.ann_search_ms.ivf" -> meanMs("vector.ann_search.ivf"),
      "vector.ann_search_ms.hnsw" -> meanMs("vector.ann_search.hnsw"),
      "vector.ann_search_ms.batch" -> meanMs("vector.ann_search.batch"),
      "rag.prompt_ms" -> meanMs("rag.prompt"),
      "sources.context_fetch_ms" -> meanMs("sources.context_fetch"),
      "rag.chunks_per_book" -> chunksPerBook,
      "vector.ann_build_ms.ivf" -> Trace.totalByName(setup).getOrElse("vector.ann_build.ivf", 0L) / 1e6,
      "vector.ann_build_ms.hnsw" -> Trace.totalByName(setup).getOrElse("vector.ann_build.hnsw", 0L) / 1e6,
      "vector.rows_examined_per_result" -> t.scanRows.toDouble / math.max(results, 1L),
      "vector.serve_cache_hit_ratio" -> (if (hits + builds > 0) hits.toDouble / (hits + builds) else 0.0))
  }
}

object AskServing {
  val Kinds: Seq[String] = Seq("ivf", "hnsw")
  /** The op mix, repeated: single asks on the routing tier four times
    * for every graph-tier ask, so the latency median sits inside one
    * tier's distribution rather than in the gap between two, and one
    * 16-question batch. */
  val Rotation: Seq[String] = Seq("ivf", "ivf", "hnsw", "ivf", "ivf", "batch")
  val K = 3
  val Dim = 64
  val ChunkWidth = 200
  val chunker: String => Seq[String] = t => Chunkers.fixedSize(t, ChunkWidth)
  val CorpusBooks = 300
  val QuestionPool = 4096
  val OffCorpusShare = 0.2
  val BatchSize = 16
  /** The fixture floors of the repo's recall specs (IvfSpec, NswAnnSpec). */
  val RecallFloor: Map[String, Double] = Map("ivf" -> 0.3, "hnsw" -> 0.7)
}

/** Brute-force similarity in plain Scala — the recall oracle. */
object Exact {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  def kthLargest(xs: Array[Double], k: Int): Double =
    if (xs.length < k) Double.NegativeInfinity else xs.sorted(Ordering[Double].reverse)(k - 1)
}
