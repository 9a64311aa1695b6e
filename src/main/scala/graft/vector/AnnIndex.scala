package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Versioned, VersionedScan}

/** Which generation of the index artifacts a serve reads. */
sealed trait AnnPin
object AnnPin {
  case object Latest extends AnnPin
  /** The generation current AT `tsMillis` (epoch millis). */
  final case class AsOf(tsMillis: Long) extends AnnPin
}

/** The corpus a serve reranks against. */
sealed trait AnnCorpus
object AnnCorpus {
  /** Any frame holding the id and embedding columns. */
  final case class Frame(df: DataFrame) extends AnnCorpus
  /** A committed graft table at a resolved version — the form that
    * unlocks the derived serving layouts and snapshot-keyed caches. */
  final case class Committed(table: String, version: Long) extends AnnCorpus

  /** `table` at the version `pin` names ([[AnnIndex.versionAt]]). */
  def committed(spark: SparkSession, table: String,
      pin: AnnPin = AnnPin.Latest): Committed =
    Committed(table, AnnIndex.versionAt(spark, table, pin))
}

/** One ANN question set for [[AnnIndex.serve]]: `probes` is a
  * (probe id, vector) frame; `width` is nProbe (ivf/pq) or the search
  * beam ef (hnsw), None = the kind's default; `pool` is pq's rerank
  * pool, None = [[AnnIndex.pqRerankPool]] of (k, width); `allowed` is
  * an optional id-set frame restricting the candidates (ivf/pq
  * only). */
final case class AnnRequest(
    kind: String,
    corpus: AnnCorpus,
    idCol: String,
    embCol: String,
    probes: DataFrame,
    k: Int,
    width: Option[Int] = None,
    pool: Option[Int] = None,
    pin: AnnPin = AnnPin.Latest,
    allowed: Option[DataFrame] = None)

/** PERSISTED ANN indexes — the vector-side twin of the d11 MinHash
  * signature index: the expensive build artifacts (IVF centroids +
  * inverted-list assignments, PQ codebooks + codes, HNSW adjacency) are
  * committed as ordinary versioned graft tables, so a retrieval session
  * LOADS the index instead of rebuilding it per query run, and a change
  * to the corpus extends the index incrementally instead of retraining.
  *
  * The incremental contract mirrors FAISS's operational model: the
  * trained structures (coarse quantizer, codebooks) are FROZEN at
  * build; `ensure*` assigns/encodes ONLY the out-of-date vectors
  * against the frozen structures — bit-identical to what a full
  * assignment/encode pass over the current corpus would produce with
  * the same frozen structures (pinned in AnnIndexSpec). Retraining the
  * quantizer itself is an explicit rebuild (drop the index root), the
  * same way d11 re-shingles only under an explicit recompute.
  *
  * Staleness detection covers the full CRUD surface, never just id
  * presence: every index row records `vh = xxhash64(embedding)`, and
  * `ensure*` classifies corpus rows by a distributed join —
  *   - NEW (id absent): upsert the delta's assignments/codes —
  *     idempotent BY ID under racing writers (two concurrent ensures
  *     from the same base converge to one row per id even when their
  *     deltas differ because the corpus moved between observations);
  *   - CHANGED (id present, vh differs — an UPDATE/MERGE rewrote the
  *     embedding): re-encode and land via the merge-on-read upsert
  *     (O(delta) append + positional tombstones, zero file rewrite);
  *   - REMOVED (indexed id gone from the corpus): merge-on-read
  *     delete (deletion-vector tombstones, zero rewrite).
  * An index written before `vh` existed self-describes: value drift is
  * undetectable there (only id presence/absence is), which the ensure
  * paths honor by skipping the CHANGED class — rebuild to migrate.
  * When nothing is out of date no commit lands — "run 2 reuses the
  * committed index with zero rebuild" is observable as an unchanged
  * version number, which the s15 gate emits as columns.
  *
  * At 100 TB: the centroids/codebooks are model-sized broadcast tables;
  * the assignments/codes tables are the bucketed serving layout
  * (clustered by id via the commit key) and an incremental refresh
  * costs O(delta) assignment work + O(corpus ⋈ index-id) staleness
  * metadata — never a rescan-and-rewrite of the indexed corpus.
  */
object AnnIndex {

  def ivfCentroidsTable(root: String): String = s"$root/ivf_centroids"
  def ivfAssignmentsTable(root: String): String = s"$root/ivf_assignments"
  def pqCodebooksTable(root: String): String = s"$root/pq_codebooks"
  def pqCodesTable(root: String): String = s"$root/pq_codes"
  def pqListsTable(root: String): String = s"$root/pq_lists"

  /** Build (or refresh) the DERIVED cid-clustered PQ codes layout:
    * `(cid, id, sub, code)` committed CLUSTERED BY list id with
    * per-file cid stats — the layout real IVF-PQ index files ship, and
    * what makes the ADC scan's "stream codes for nProbe/k of the data"
    * true at the FILE level: the serving scan manifest-prunes to the
    * probed lists' files instead of reading the whole codes table and
    * joining assignments per serve. Derived, not truth (`pq_codes` +
    * `ivf_assignments` stay authoritative, O(delta) MoR-maintained);
    * the stamp names both source generations ([[pqLists]]), so any
    * ensure/retrain on either invalidates it and serving falls back to
    * the join form — never stale codes. An up-to-date layout returns
    * without committing; a stale one refreshes O(delta)
    * ([[refreshLayout]]). */
  def optimizePqServing(spark: SparkSession, root: String,
      idCol: String, force: Boolean = false): Long = {
    require(Versioned.latestVersion(spark, ivfAssignmentsTable(root)) > 0,
      s"no committed IVF routing at $root — the pq tier routes through " +
        "the IVF lists; ensure kind 'ivf' first")
    require(Versioned.latestVersion(spark, pqCodesTable(root)) > 0,
      s"no committed PQ codes at $root — ensure first")
    // the codes layout carries no embedding column
    refreshLayout(spark, pqLists(spark, root, AnnPin.Latest), idCol,
      embCol = "", force)
  }

  /** `pq_lists` freshness for `ann_stats` — artifact-internal (no
    * corpus identity involved), so it always reports. */
  def pqListsFreshness(spark: SparkSession, root: String): Map[String, Long] =
    Map("pq_lists_fresh" -> (if (freshLayout(spark,
      pqLists(spark, root, AnnPin.Latest), AnnPin.Latest).isDefined) 1L
      else 0L))

  /** The version of `table` a pin names: the latest commit, or the one
    * current AT the instant (the commit-ts walk every graft table
    * supports; it throws for an instant before the first commit). The
    * one pin → version rule every artifact table and a committed
    * corpus resolve through, so a historical serve reads the index,
    * its serving layouts and the corpus of the same instant. */
  def versionAt(spark: SparkSession, table: String, pin: AnnPin): Long =
    pin match {
      case AnnPin.Latest => Versioned.latestVersion(spark, table)
      case AnnPin.AsOf(ts) => Versioned.snapshotAsOf(spark, table, ts).version
    }

  private def readAt(spark: SparkSession, table: String,
      pin: AnnPin): DataFrame =
    VersionedScan.read(spark, table, versionAt(spark, table, pin))

  /** THE serving door: top-k per probe from the committed index of
    * `kind` under `root`, for every kind, pin and corpus form. Every
    * serve takes a (probe id, vector) frame and returns
    * (probe id, id, score) — top-k per probe by (score desc, id), rows
    * ordered by (probe id, score desc, id); a single question is a
    * batch of one (whose per-probe cuts plan as sorted limits — no
    * exchange, [[Pq.topPerProbe]]). The probe id must be integral; its
    * column keeps its name and type.
    *
    * The kernel follows from the request, never from a caller flag:
    *   - a [[AnnCorpus.Frame]] corpus rides the in-plan kernels
    *     ([[Ivf.searchBatch]], [[Pq.searchIvfPqBatch]], the shard-graph
    *     cogroup keyed by the frame's content);
    *   - a [[AnnCorpus.Committed]] corpus rides the layout-aware ones:
    *     ivf serves from the derived `ivf_lists` layout while its stamp
    *     names the pin-resolved (assignments, corpus) identity — the
    *     candidate scan manifest-prunes to the probed lists' files —
    *     else from the join plan; pq collects its bounded pool ranking
    *     so the full-precision fetch is a file-pruned literal id scan,
    *     and its ADC scan prunes to the probed lists of a fresh
    *     `pq_lists` layout; hnsw keys its graph cache on the snapshot's
    *     identity (zero corpus I/O when warm) and repairs a partial miss
    *     from a fresh `nsw_layout`. Results are the in-plan kernels'
    *     either way, ties included (pinned in ServeEquivalenceSpec).
    *
    * `width` is nProbe for ivf/pq (default 4; pq's rerank pool follows
    * [[pqRerankPool]] unless `pool` is given) and the search beam ef for
    * hnsw (default: the stored construction beam; the beam is floored
    * at k). `pin` resolves every artifact table through [[versionAt]] —
    * pair an [[AnnPin.AsOf]] with the same-instant corpus to reproduce a
    * past retrieval exactly. `allowed` (an id-set frame, normally
    * `corpus.filter(pred)`) is the s13 prefiltered composition:
    * membership is exact, ranking stays routing-approximate, a
    * selective filter can under-fill k at a fixed width. The hnsw graph
    * walk cannot push a predicate, so a filtered hnsw serve refuses. */
  def serve(spark: SparkSession, root: String, req: AnnRequest): DataFrame = {
    import req._
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType,
      LongType, ShortType}
    require(Set("ivf", "pq", "hnsw")(kind),
      s"AnnIndex.serve: unknown kind '$kind' (ivf | pq | hnsw)")
    require(k > 0 && width.forall(_ > 0) && pool.forall(_ > 0),
      s"AnnIndex.serve: k, width and pool must be positive " +
        s"($k, $width, $pool)")
    require(probes.columns.length == 2,
      "AnnIndex.serve: the probe frame is (probe id, vector), got " +
        probes.columns.mkString("(", ", ", ")"))
    val Array(pidCol, vecCol) = probes.columns
    require(pidCol != idCol,
      s"probe id column '$pidCol' must differ from the corpus id " +
        "column — both appear in the result")
    // integral only: the internal long widen must be lossless, and the
    // result schema identical whichever kernel serves (a non-integral
    // id would cast to NULL and collapse every probe into one rerank
    // partition)
    val pidType = probes.schema(pidCol).dataType
    require(Set[DataType](ByteType, ShortType, IntegerType,
      LongType)(pidType),
      s"AnnIndex.serve: probe id column '$pidCol' must be integral, " +
        s"got ${pidType.simpleString}")
    require(allowed.isEmpty || kind != "hnsw",
      "AnnIndex.serve: filtered search rides the routing tiers (ivf | " +
        "pq) — the hnsw graph walk cannot push a predicate")
    val p = probes.select(col(pidCol).cast("long").as("__pid"),
      col(vecCol).as("__probe"))
    // a probe frame whose plan bounds it to one row (a limit(1), a
    // one-row range or local relation) is a single question: its
    // per-probe cuts plan as sorted limits, without the windows'
    // exchanges — read from the analyzed plan, never by running it
    val single = probes.queryExecution.analyzed.maxRows.exists(_ <= 1)
    val committed = corpus match {
      case AnnCorpus.Committed(table, cv) =>
        require(cv > 0, s"AnnIndex.serve: $table has no commits")
        Some((table, cv))
      case _: AnnCorpus.Frame => None
    }
    lazy val emb = corpus match {
      case AnnCorpus.Committed(table, cv) =>
        VersionedScan.read(spark, table, cv)
      case AnnCorpus.Frame(df) => df
    }
    val nProbe = width.getOrElse(4)
    val served = kind match {
      case "ivf" =>
        committed.flatMap { case (t, cv) =>
          freshLayout(spark, ivfLists(spark, root, t, cv, pin), pin) } match {
          case Some(lists) =>
            ivfListsServe(readAt(spark, ivfCentroidsTable(root), pin), lists,
              idCol, embCol, p, single, k, nProbe, allowed)
          case None =>
            Ivf.searchBatch(restrict(emb, idCol, allowed),
              readAt(spark, ivfAssignmentsTable(root), pin),
              readAt(spark, ivfCentroidsTable(root), pin),
              idCol, embCol, p, "__pid", "__probe", k, nProbe)
        }
      case "pq" =>
        val (books, codes, m) = pqArtifacts(spark, root, pin)
        val (cents, asg) = (readAt(spark, ivfCentroidsTable(root), pin),
          readAt(spark, ivfAssignmentsTable(root), pin))
        val poolN = pool.getOrElse(pqRerankPool(k, nProbe))
        if (committed.isDefined)
          ivfPqCommittedServe(emb, idCol, embCol, p, single, cents, asg,
            books, codes, m, k, nProbe, poolN,
            freshLayout(spark, pqLists(spark, root, pin), pin), allowed)
        else
          // the filter restricts the codes BEFORE the pool cut, as the
          // committed form does — post-pool filtering would under-fill k
          Pq.searchIvfPqBatch(restrict(emb, idCol, allowed), asg, cents,
            restrict(codes, idCol, allowed), books, idCol, embCol, p,
            "__pid", "__probe", m, k, nProbe, poolN)
      case _ =>
        val ev = versionAt(spark, nswEdgesTable(root), pin)
        committed match {
          case Some((table, cv)) => nswCommittedServe(spark, root, table,
            cv, emb, idCol, embCol, p, k, width, ev, pin)
          case None => nswServe(spark, root, emb, idCol, embCol, p, k,
            width, ev)
        }
    }
    val out = served.select(col("__pid").cast(pidType).as(pidCol),
      col(idCol), col("score"))
    // a single probe's cut is already a sorted limit: sorting it again
    // would plan that top-k below a sort, where it runs as a shuffle
    if (single) out else out.orderBy(col(pidCol), desc("score"), col(idCol))
  }

  /** MEASURED recall@k of a committed index against the exact cosine
    * oracle — recall is data- and scale-dependent (the 2.2 M rehearsal:
    * hnsw 0.425 → 0.975 sweeping ef 32 → 512), so tuning the width
    * knobs (nProbe for ivf/pq, ef for hnsw) needs a measurement, not a
    * fixture number. Probes = the `probes` lowest-id corpus rows
    * (deterministic, reproducible across calls); the oracle is ONE
    * broadcast cosine pass over the corpus + a per-probe top-k window
    * (O(n × probes) — an AUDIT op to run at maintenance time, never on
    * the serve path), and the served side rides the kind's committed
    * door at the given `width` so the number describes exactly what
    * `graft_ann_search` would return. Returns (recall in [0,1],
    * oracle pair count). */
  /** Exact-oracle memo for [[measureRecall]]: a width sweep (the
    * procedure's stated purpose) re-asks the same oracle per point —
    * probes × k id pairs, tiny. The id/emb COLUMN NAMES are part of
    * the key: the oracle's content depends on which embedding column
    * it ranked (a table carrying two — say a 64-d column and its JL
    * projection — measured back-to-back at the same (table, version,
    * probes, k) would otherwise silently reuse the first column's
    * ground truth for the second: a wrong recall number, no error). */
  private val recallOracles =
    new LruMap[(String, Long, String, String, Int, Int), Set[(Long, Long)]](64)

  def measureRecall(spark: SparkSession, root: String,
      corpusTable: String, idCol: String, embCol: String, kind: String,
      probes: Int, k: Int, width: Int): (Double, Long) = {
    import graft.functions.vec_cosine_sim
    import org.apache.spark.sql.expressions.Window
    // every cheap check fires BEFORE the O(n × probes) oracle pass —
    // a typo'd kind or a missing index must fail in milliseconds, not
    // after a brute-force corpus scan
    require(probes > 0 && k > 0 && width > 0,
      s"measureRecall: probes/k/width must be positive ($probes/$k/$width)")
    val kindL = kind.toLowerCase
    require(Set("ivf", "pq", "hnsw")(kindL),
      s"measureRecall: unknown kind '$kind' (ivf | pq | hnsw)")
    require(idCol != "probe_id" && idCol != "__pv" && embCol != "__pv",
      s"measureRecall: the oracle adds probe_id/__pv columns — a " +
        s"corpus column with either name would collide; rename it")
    val artifactT = kindL match {
      case "ivf" => ivfCentroidsTable(root)
      case "pq" => pqCodesTable(root)
      case _ => nswEdgesTable(root)
    }
    require(Versioned.latestVersion(spark, artifactT) > 0,
      s"measureRecall: no committed $kindL index at $root — " +
        "CALL ann_ensure first")
    val cv = Versioned.latestVersion(spark, corpusTable)
    require(cv > 0, s"measureRecall: $corpusTable has no commits")
    val emb = VersionedScan.read(spark, corpusTable, cv)
    // probe rows collect ONCE (bounded by `probes`) and feed both the
    // oracle and the served side from a local relation
    val pSlim = emb.orderBy(idCol).limit(probes)
      .select(col(idCol).cast("long").as("probe_id"),
        col(embCol).as("__pv"))
    val pRows = pSlim.collect()
    require(pRows.nonEmpty,
      s"measureRecall: $corpusTable v$cv has no rows to probe")
    val p = spark.createDataFrame(
      java.util.Arrays.asList(pRows: _*), pSlim.schema)
    val oKey = (corpusTable, cv, idCol, embCol, probes, k)
    val exact = recallOracles.get(oKey).getOrElse {
      val v = emb.crossJoin(broadcast(p))
        .select(col("probe_id"), col(idCol).cast("long").as("__id"),
          vec_cosine_sim(col(embCol), col("__pv")).as("__s"))
        .withColumn("__rk", row_number().over(
          Window.partitionBy("probe_id").orderBy(desc("__s"), col("__id"))))
        .filter(col("__rk") <= k).select("probe_id", "__id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      recallOracles.put(oKey, v)
      v
    }
    // the same door graft_ann_search serves through, at the same width
    // (and, for pq, the same width-scaled pool)
    val served = serve(spark, root, AnnRequest(kindL,
      AnnCorpus.Committed(corpusTable, cv), idCol, embCol, p, k,
      Some(width)))
    val got = served.select(col("probe_id").cast("long"),
        col(idCol).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (exact.count(got).toDouble / exact.size, exact.size.toLong)
  }

  /** Target-recall width selection — the "pick" step that closes the
    * r12–r15 observability loop (ann_stats observes, ann_recall
    * measures, ann_tune CHOOSES): walk the width ladder (doubling —
    * nProbe for ivf/pq, ef for hnsw) through [[measureRecall]] and
    * stop at the FIRST width whose measured recall@k meets `target`.
    * Returns the walked curve as (width, recall, oraclePairs) rows,
    * the meeting width last — the cheapest serve for the recall goal,
    * which is the question every operator actually asks ("recall ≥
    * 0.9, minimal cost"), answered by measurement instead of a
    * hand-run sweep. The exact oracle is memoized per (table, version,
    * columns, probes, k) ([[recallOracles]]), so the whole ladder pays
    * ONE brute-force pass; each rung costs one committed-door serve.
    * The hnsw ladder starts at k (the effective beam is max(ef, k) —
    * below k every rung measures the same serve); ivf/pq start at 1.
    * An unmeetable target refuses loudly WITH the max width's measured
    * recall, so the caller knows whether to raise max_width or improve
    * the tier itself (pq: retrain at a larger m; hnsw: rebuild with a
    * larger construction beam). An audit op for maintenance windows,
    * never the serve path — same contract as [[measureRecall]]. */
  def tuneWidth(spark: SparkSession, root: String, corpusTable: String,
      idCol: String, embCol: String, kind: String, probes: Int, k: Int,
      target: Double, maxWidth: Int): Seq[(Int, Double, Long, Int)] = {
    require(target > 0.0 && target <= 1.0,
      s"tuneWidth: target recall must be in (0, 1], got $target")
    val kindL = kind.toLowerCase
    val floor = if (kindL == "hnsw") math.max(1, k) else 1
    require(maxWidth >= floor,
      s"tuneWidth: max width $maxWidth is below the $kindL ladder " +
        s"floor $floor" +
        (if (kindL == "hnsw") " (the effective beam is max(ef, k) — " +
          "widths below k all measure the same serve)" else ""))
    // the doubling walks in Long: an Int ladder would overflow past
    // 2^30 (max_width => Int.MaxValue is an operator's natural "no
    // cap" spelling) and every overflowed value stays < maxWidth —
    // a non-terminating takeWhile
    val ladder =
      Iterator.iterate(floor.toLong)(_ * 2).takeWhile(_ < maxWidth)
        .map(_.toInt).toSeq :+ maxWidth
    val curve =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long, Int)]
    for (w <- ladder) {
      val (r, n) = measureRecall(spark, root, corpusTable, idCol, embCol,
        kindL, probes, k, w)
      // the pq pool CO-WALKS the ladder through the one shared formula
      // ([[pqRerankPool]] — what the door serves at that width); each
      // rung REPORTS the pool it measured with, so the curve names
      // both knobs it exercised (the documented lever order is
      // m → pool → nProbe; m is a retrain-time decision) — -1 for
      // kinds without a rerank pool
      val pool = if (kindL == "pq") pqRerankPool(k, w) else -1
      curve += ((w, r, n, pool))
      if (r >= target) return curve.toSeq
    }
    val (wMax, rMax, _, _) = curve.last
    throw new IllegalArgumentException(
      f"tuneWidth: target recall@$k%d $target%.4f is not met at max " +
        f"width $wMax%d — measured $rMax%.4f there (over $probes%d " +
        "probes); raise max_width, improve the tier (pq: retrain at a " +
        "larger m; hnsw: rebuild with a larger construction beam), or " +
        "lower the target")
  }

  /** Joint (eps, width) selection for the SPILL knob — the pick step
    * that composes `ann_spill_preview`'s price with `ann_tune`'s
    * value (VERDICT r16: eps was the one knob without one). For each
    * rung of the eps ladder (plain eps = 0 always walks first as the
    * width-only baseline), build a SHADOW index from the root's OWN
    * committed centroids (one assignment pass per rung — never a
    * retrain, the trained quantizer stays frozen), walk the doubling
    * width ladder through the memoized exact-recall oracle
    * ([[recallOracles]] — ONE brute-force pass for the whole
    * (eps x width) grid), stopping each rung at its first
    * target-meeting width, and return the measured curve with
    * chosen = true on the CHEAPEST meeting pair, where
    * cost = width x (1 + spill fraction) — the expected scanned-rows
    * proxy (routing scans `width` lists whose rows grew by the
    * fraction). Rungs the preview prices out are SKIPPED without
    * paying their build: recall at a fixed width is monotone in eps
    * (IvfSpec), so a wider eps can only beat the incumbent by meeting
    * at a SMALLER width — at most HALF on a doubling ladder — and
    * when (1 + frac) x (bestWidth / 2) already reaches the best cost
    * the rung cannot win (reported with width = -1, its preview
    * fraction still named). Ties go to the SMALLER eps (smaller
    * index). Shadow artifacts live in a temp dir torn down before
    * returning; the root itself is never touched — apply the chosen
    * pair with `ann_ensure(spill => eps)` on a fresh root (spill
    * freezes at first build) and serve at the chosen width. An
    * unmeetable target refuses loudly naming the best-achievable
    * (eps, width, recall). An audit op for maintenance windows, never
    * the serve path — same contract as [[tuneWidth]]. */
  def tuneSpill(spark: SparkSession, root: String, corpusTable: String,
      idCol: String, embCol: String, probes: Int, k: Int,
      target: Double, maxWidth: Int,
      epsLadder: Seq[Double] = Seq(0.02, 0.05))
      : Seq[(Double, Double, Int, Double, Double, Boolean)] = {
    require(target > 0.0 && target <= 1.0,
      s"tuneSpill: target recall must be in (0, 1], got $target")
    require(maxWidth >= 1, s"tuneSpill: max width must be >= 1")
    require(epsLadder.nonEmpty && epsLadder.forall(_ > 0.0),
      "tuneSpill: every ladder eps must be positive")
    val cT = ivfCentroidsTable(root)
    require(Versioned.latestVersion(spark, cT) > 0,
      s"ann_spill_tune: no committed IVF centroids at $root — the " +
        "shadow builds reuse the root's own quantizer; CALL " +
        "graft.system.ann_ensure(..., kind => 'ivf') first")
    val cv = Versioned.latestVersion(spark, corpusTable)
    require(cv > 0, s"tuneSpill: $corpusTable has no commits")
    val corpus = VersionedScan.read(spark, corpusTable, cv)
    val cents = VersionedScan.read(spark, cT)
    val ladder = epsLadder.distinct.sorted
    // ONE assignment-cost pass prices every rung up front (the
    // preview's own machinery) — the prune below reads from here
    val fracs = spillCurve(spark, root, corpus, idCol, embCol, ladder)
      .map { case (e, s, n) =>
        e -> (if (n == 0L) 0.0 else s.toDouble / n) }.toMap
    val widthLadder =
      (Iterator.iterate(1L)(_ * 2).takeWhile(_ < maxWidth)
        .map(_.toInt).toSeq :+ maxWidth).distinct
    val tmp = java.nio.file.Files.createTempDirectory("graft_spill_tune")
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, Int, Double, Double, Boolean)]
    var best: Option[(Double, Int, Double)] = None // (eps, width, cost)
    try {
      for (((eps, frac), i) <- ((0.0, 0.0) +:
          ladder.map(e => (e, fracs(e)))).zipWithIndex) {
        val pruned = best.exists { case (_, bw, bc) =>
          (1.0 + frac) * (bw / 2.0) >= bc }
        if (pruned) rows += ((eps, frac, -1, -1.0, -1.0, false))
        else {
          val shadow = s"$tmp/r$i"
          Versioned.commit(spark, ivfCentroidsTable(shadow), cents,
            Some("cid"), files = 1)
          ensureIvf(spark, shadow, corpus, idCol, embCol, spill = eps)
          var met = false
          for (w <- widthLadder if !met) {
            val (r, _) = measureRecall(spark, shadow, corpusTable,
              idCol, embCol, "ivf", probes, k, w)
            val cost = (1.0 + frac) * w
            rows += ((eps, frac, w, r, cost, false))
            if (r >= target) {
              met = true
              if (best.forall(_._3 > cost)) best = Some((eps, w, cost))
            }
          }
        }
      }
    } finally {
      // the shadow builds are audit scratch, never state
      val p = new org.apache.hadoop.fs.Path(tmp.toString)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    best match {
      case Some((be, bw, _)) => rows.toSeq.map {
        case t @ (e, _, w, _, _, _) =>
          if (e == be && w == bw) t.copy(_6 = true) else t
      }
      case None =>
        val (e, _, w, r, _, _) = rows.filter(_._3 > 0).maxBy(_._4)
        throw new IllegalArgumentException(
          f"tuneSpill: target recall@$k%d $target%.4f is not met by " +
            f"any (eps, width) pair on the ladder — best achievable: " +
            f"recall $r%.4f at (eps=$e%.4f, width=$w%d) over $probes%d " +
            "probes; raise max_width or the eps ladder, improve the " +
            "quantizer (retrain at a larger k), or lower the target")
    }
  }

  /** Classify the corpus into NEW / CHANGED / REMOVED against the
    * indexed (id, vh) pairs and land the WHOLE delta as ONE atomic
    * commit (Versioned.upsertDeleteMergeOnRead when both kinds are
    * present): MoR delete for REMOVED, MoR upsert for CHANGED (an
    * UPDATEd embedding) AND for NEW — upserting the fresh class (instead of a
    * blind append) makes a racing ensure idempotent BY ID: two ensures
    * from the same base with different deltas (the corpus moved
    * between their observations) converge to one row per id instead
    * of one silently dropping rows to a txn dedupe or double-indexing
    * the overlap. The classification is ONE full-outer join, reduced
    * to the out-of-date delta and PINNED (eager localCheckpoint, see
    * the Dedup.minHashNearDups note): the class counts and every
    * landing branch read the same frozen delta-sized frame, so a
    * corpus commit racing the ensure cannot make the landed rows
    * diverge from the counts — and a stale refresh pays ONE corpus
    * join, not one per non-empty class. The up-to-date path pins an
    * empty frame and mints nothing. `indexed` rows: (idCol[, vh]) — a
    * pre-vh legacy index disables CHANGED detection (id presence is
    * all such an index records). */
  private def landDelta(spark: SparkSession, table: String,
      corpus: DataFrame, indexed: DataFrame, idCol: String, hasVh: Boolean,
      encode: DataFrame => DataFrame): Unit = {
    val ix = indexed.select(col(idCol),
      (if (hasVh) col("vh") else lit(null).cast("long")).as("__vh0"),
      lit(1).as("__ix"))
    // a NULL stored hash marks a pre-vh legacy row (vh itself is never
    // null): value drift is undetectable there, so such rows are NOT
    // "changed" — matching the documented rebuild-to-migrate contract
    // instead of surprise-re-encoding the whole legacy corpus
    val valueChanged =
      if (hasVh) col("__vh0").isNotNull && col("__vh0") =!= col("vh")
      else lit(false)
    val delta = corpus.withColumn("__c", lit(1))
      .join(ix, Seq(idCol), "full_outer")
      .withColumn("__cls",
        when(col("__c").isNull, lit("removed"))
          .when(col("__ix").isNull, lit("fresh"))
          .when(valueChanged, lit("changed")))
      .filter(col("__cls").isNotNull)
      .localCheckpoint(true)
    val byCls = delta.groupBy("__cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def branch(filter: org.apache.spark.sql.Column): DataFrame =
      delta.filter(filter).drop("__c", "__vh0", "__ix", "__cls")
    val nRemoved = byCls.getOrElse("removed", 0L)
    val nUpsert = byCls.getOrElse("changed", 0L) + byCls.getOrElse("fresh", 0L)
    // the whole delta lands as ONE commit, whatever mix of classes it
    // carries — a concurrent reader (or a crash mid-refresh) sees the
    // old index or the fully refreshed one, never a torn window where
    // the upserts landed but the deletes are pending. CHANGED and NEW
    // share the upsert path (both are encode-then-land-by-id), so the
    // mixed case is one upsert+delete publication, not three commits.
    if (nRemoved > 0L && nUpsert > 0L)
      Versioned.upsertDeleteMergeOnRead(spark, table,
        encode(branch(col("__cls").isin("changed", "fresh"))),
        branch(col("__cls") === "removed").select(idCol), idCol, files = 1)
    else if (nUpsert > 0L)
      Versioned.upsertMergeOnRead(spark, table,
        encode(branch(col("__cls").isin("changed", "fresh"))),
        idCol, files = 1)
    else if (nRemoved > 0L)
      Versioned.deleteMergeOnRead(spark, table,
        branch(col("__cls") === "removed").select(idCol), idCol)
  }

  /** Vectors-per-inverted-list target for the auto-sized centroid
    * count — [[nswShardTarget]]'s IVF analogue, and the documented
    * per-list COST BOUND: a probe at nProbe lists exact-reranks
    * ~nProbe × (n / k) candidate rows, so a build-frozen k under a
    * growing corpus marches the per-probe scan cost toward a full
    * corpus scan (the cliff the HNSW sizing rule fixed one tier over).
    * With k = ceil(n / 2^13), every list holds ≈ 8k vectors and the
    * per-probe rerank stays ~nProbe · 8k rows — constant as the corpus
    * grows, at the price of a k-row broadcast for routing (k = n/2^13
    * is ~12k centroids at 10^8 vectors: comfortably broadcastable). A
    * corpus that outgrew its build-time k migrates with [[retrainIvf]]
    * (CAS commits, history preserved), never by drop-root. */
  val ivfListTarget: Long = 1L << 13

  /** Corpus-derived centroid count: ceil(n / [[ivfListTarget]]), floor
    * 16 (small corpora keep the historical default — and enough lists
    * for nProbe routing to prune at all). Counts above the floor round
    * to the next PRIME for the same strided-id reason as
    * [[nswAutoShards]]: the deterministic trainer seeds by
    * `pmod(id, k)` stratification (Ivf.centroids), and a composite k
    * folds a strided id space onto few residues — a stride-10 corpus
    * at k = 10 would seed ONE group, collapsing the codebook to a
    * single effective centroid. */
  def ivfAutoK(n: Long): Int = {
    val raw = math.max(16L, (n + ivfListTarget - 1L) / ivfListTarget).toInt
    if (raw <= 16) raw else nextPrime(raw)
  }

  /** Ensure the persisted IVF index at `root` covers exactly the rows
    * of `emb`: the first call trains the coarse quantizer and assigns
    * the whole corpus (one commit per index table); later calls land
    * only the NEW/CHANGED/REMOVED delta against the FROZEN committed
    * centroids, and mint nothing when the index is already current.
    * `k <= 0` (the scale-safe default) derives the centroid count from
    * the corpus size at first build ([[ivfAutoK]]); an existing index
    * keeps its trained k either way (k only matters at training — the
    * frozen-structure contract). Returns (centroidsVersion,
    * assignmentsVersion). */
  def ensureIvf(spark: SparkSession, root: String, emb: DataFrame,
      idCol: String, embCol: String, k: Int = -1,
      spill: Double = 0.0): (Long, Long) = {
    require(spill >= 0.0,
      s"ensureIvf: spill must be >= 0 (got $spill) — 0 is single " +
        "assignment, > 0 multi-assigns within the (1+spill) band")
    val (cT, aT) = (ivfCentroidsTable(root), ivfAssignmentsTable(root))
    val corpus = emb.select(col(idCol), col(embCol))
      .withColumn("vh", xxhash64(col(embCol)))
    // spill > 0 = MULTI-ASSIGNMENT (Ivf.assignSpill): boundary vectors
    // whose second-nearest centroid nearly ties (d2 <= (1+eps)*d1)
    // join that list too — the routing-recall lever that widens the
    // scan only by the spill fraction. Like k, the scheme FREEZES at
    // first build: deltas and retrains re-read the stored eps (the
    // spill_eps constant column), so an id assigned today routes
    // exactly like its cohort
    def assignRows(rows: DataFrame, cents: DataFrame, eps: Double) =
      (if (eps > 0.0)
         Ivf.assignSpill(rows, idCol, embCol, cents, eps)
           .withColumn("spill_eps", lit(eps))
       else Ivf.assign(rows, idCol, embCol, cents))
        .join(rows.select(col(idCol), col("vh")), Seq(idCol))
    // bootstrap-complete is judged by the LAST artifact: a crash
    // between the two bootstrap commits leaves centroids without
    // assignments, and the repair path must stay reachable (training
    // only re-runs if the centroids commit itself is missing)
    if (Versioned.latestVersion(spark, aT) == 0L) {
      if (Versioned.latestVersion(spark, cT) == 0L)
        Versioned.commit(spark, cT,
          Ivf.centroids(emb, idCol, embCol,
            if (k > 0) k else ivfAutoK(emb.count())), Some("cid"), files = 1)
      // assign against the COMMITTED centroids (doubles round-trip
      // parquet exactly), so the stored assignment is the one every
      // later load reproduces
      Versioned.commit(spark, aT,
        assignRows(corpus, VersionedScan.read(spark, cT), spill),
        Some(idCol), files = 4)
    } else {
      // pin the index read to the observed version so the lazy read
      // cannot drift to a newer snapshot between classification and
      // landing (the corpus side is pinned inside landDelta)
      val av = Versioned.latestVersion(spark, aT)
      val cents = VersionedScan.read(spark, cT)
      val asg = VersionedScan.read(spark, aT, av)
      // spill = 0 is "no opinion" and the stored scheme wins (the
      // frozen-structure contract k already follows); the eps read is
      // one stats-pruned 1-row job, paid only by spilled roots with a
      // delta to land (or by an explicit spill request's drift check)
      lazy val storedEps = storedSpillEps(spark, root, av, asg)
      // an EXPLICIT spill > 0 that contradicts the committed scheme
      // must refuse loudly — mirroring the hnsw build-parameter
      // refusal — never ride stored-scheme-wins into a zero-job
      // "success" that applied nothing (the Current memo would then
      // stamp the drifted key as current, ADVICE r16)
      if (spill > 0.0) {
        require(asg.columns.contains("cid2"),
          s"ann index at $root was committed PLAIN (single-" +
            s"assignment); got spill=$spill — the multi-assignment " +
            "scheme freezes at first build like k: drop the index " +
            s"root tables ($cT, $aT) and re-ensure to rebuild spilled")
        require(math.round(spill * 1e6) == math.round(storedEps * 1e6),
          s"ann index at $root was committed with spill_eps=" +
            s"$storedEps; got spill=$spill — the multi-assignment " +
            "band freezes at first build like k: drop the index root " +
            "and re-ensure to change it")
      }
      landDelta(spark, aT, corpus, asg, idCol,
        asg.columns.contains("vh"),
        assignRows(_, cents,
          if (asg.columns.contains("cid2")) storedEps else 0.0))
    }
    (Versioned.latestVersion(spark, cT), Versioned.latestVersion(spark, aT))
  }

  /** The frozen spill eps of a SPILLED root's committed assignments
    * (the spill_eps constant column), memoized per generation like the
    * trained m — a steady-state re-ensure must not pay a driver job to
    * re-read an immutable constant. A spilled-schema generation whose
    * rows are all gone (e.g. a delta removed every row, before a
    * re-grow) REFUSES instead of defaulting to 0.0: the frozen eps is
    * unrecoverable, and silently assigning the next delta plain would
    * be a scheme change (or a commit-time schema mismatch) on a root
    * the schema still declares spilled (ADVICE r16). */
  private val spillEpsMemo = new LruMap[(String, Long, Long), Double](256)
  private def storedSpillEps(spark: SparkSession, root: String,
      av: Long, asg: => DataFrame): Double = {
    val aT = ivfAssignmentsTable(root)
    val key = (aT, av, Versioned.manifestFingerprint(spark, aT, av))
    spillEpsMemo.get(key).getOrElse {
      val head = asg.select(col("spill_eps")).limit(1).collect().headOption
      if (head.isEmpty)
        throw new IllegalStateException(
          s"spilled IVF root $root: the current assignments " +
            s"generation (v$av) carries the multi-assignment schema " +
            "but holds ZERO readable rows, so the frozen spill_eps " +
            "cannot be recovered — drop the index root tables " +
            s"(${ivfCentroidsTable(root)}, $aT) and re-ensure (the " +
            "rebuild re-freezes the eps), or restore a non-empty " +
            "assignments version")
      val v = head.map(_.getDouble(0)).get
      spillEpsMemo.put(key, v)
      v
    }
  }

  /** "Index generation X is exactly current for corpus generation Y"
    * — the memo behind the [[ensureIvfCurrent]] family. Every ensure
    * on an unchanged corpus otherwise pays the landDelta
    * classification join (a FULL corpus + index pass just to learn
    * the delta is empty — at 100 TB that is a 100 TB read per
    * re-ensure); with the memo the steady state is METADATA-ONLY
    * (version + manifest-fingerprint reads, zero Spark jobs). The key
    * carries the caller's structural args (k/m/spill — a drifted
    * request must still reach the real path's refusal/ignore
    * semantics) and the (version, fingerprint) generation of EVERY
    * involved table — corpus AND all of the kind's artifact tables —
    * so a corpus commit, a retrain, a torn chain (one artifact moved,
    * its pair did not) or a drop-root rebuild reusing version numbers
    * (fingerprint) all MISS and take the full path, where the
    * existing coherence checks and repairs fire exactly as before.
    * Session-local: the first ensure of a (root, corpus) pair in a
    * JVM always verifies the hard way. */
  private val ensureCurrentMemo = new LruMap[Seq[Any], Unit](512)
  private def generationKey(spark: SparkSession,
      tables: Seq[String]): Seq[Any] =
    tables.flatMap { t =>
      val v = Versioned.latestVersion(spark, t)
      Seq(t, v,
        if (v > 0) Versioned.manifestFingerprint(spark, t, v) else 0L)
    }

  /** DURABLE twin of [[ensureCurrentMemo]] (r17): the verified-current
    * key persisted as a tiny JSON marker under the index root
    * (`<root>/_ensure_stamps/<kind>.json`), so a FRESH JVM's ensure on
    * an unchanged (corpus, index) pair is metadata-only too — the
    * session-local memo alone still paid one full corpus+index
    * classification join per JVM, which for a scheduled
    * "refresh if needed" job from cron is a 100 TB read per week on
    * data that never changed (VERDICT r16). The stamp is ADVISORY and
    * self-invalidating: it is trusted only when it equals, element for
    * element, the key freshly computed from live metadata (every
    * involved table's version + manifest fingerprint + the caller's
    * structural args), so a corpus commit, retrain, torn chain,
    * drop-root fingerprint reuse, or arg drift all mismatch and take
    * the full path — where the existing coherence checks and refusals
    * fire exactly as before, and a SUCCESSFUL ensure then overwrites
    * the stamp with the new generation key. Readers tolerate a
    * missing/corrupt/mid-replace stamp as a plain miss (every failure
    * mode degrades to the pre-r17 behavior, never to a false hit);
    * the overwrite is write-temp + rename, and a racing writer's lost
    * stamp only costs the loser's next session one classification
    * join. */
  private def stampPath(root: String, kindTag: String) =
    new org.apache.hadoop.fs.Path(root, s"_ensure_stamps/$kindTag.json")
  private def stampKeyStrings(key: Seq[Any]): Seq[String] =
    key.map(String.valueOf)
  private def readStamp(spark: SparkSession, root: String,
      kindTag: String): Option[Seq[String]] =
    try {
      val p = stampPath(root, kindTag)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val bytes =
          try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(bytes).get("key")
        if (node == null || !node.isArray) None
        else Some((0 until node.size).map(i => node.get(i).asText))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  private def writeStamp(spark: SparkSession, root: String,
      kindTag: String, key: Seq[Any]): Unit =
    try {
      val p = stampPath(root, kindTag)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(p.getParent,
        s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      val arr = node.putArray("key")
      stampKeyStrings(key).foreach(arr.add)
      val out = f.create(tmp, true)
      try out.write(mapper.writeValueAsBytes(node)) finally out.close()
      // local rename replaces atomically (POSIX); HDFS-class stores
      // refuse an occupied destination — delete-then-rename leaves a
      // tiny no-stamp window a reader treats as a miss (advisory)
      if (f.exists(p)) f.delete(p, false)
      if (!f.rename(tmp, p)) f.delete(tmp, false)
    } catch { case scala.util.control.NonFatal(_) => () }
  private def stampMatches(spark: SparkSession, root: String,
      kindTag: String, key: Seq[Any]): Boolean =
    readStamp(spark, root, kindTag).contains(stampKeyStrings(key))

  /** TEST hook: forget the session-local ensure memo, simulating a
    * FRESH JVM — the durable stamp path is only observable when the
    * in-memory memo cannot answer first. */
  private[vector] def clearEnsureCurrentMemoForTest(): Unit =
    ensureCurrentMemo.removeIf(_ => true)

  /** The one body of the ensure*Current family: pin the corpus
    * generation, key it with the kind, `root`, the caller's structural
    * `args` and every artifact table's generation ([[generationKey]]),
    * and answer `current` on a memo or durable-stamp hit. A miss runs
    * `ensure` over the pinned corpus, then records the key in both.
    * The corpus generation PINS in the key; the artifact generations
    * re-read per use (a def) so the post-ensure put records the
    * generations the ensure just landed — a racing corpus commit after
    * the pin simply misses on its own next lookup. */
  private def ensureCurrent[R](spark: SparkSession, root: String,
      kind: String, corpusTable: String, args: Seq[Any], arts: Seq[String])(
      current: => R)(ensure: DataFrame => R): R = {
    val cv = Versioned.latestVersion(spark, corpusTable)
    require(cv > 0,
      s"ensure${kind.capitalize}Current: $corpusTable has no commits")
    val cfp = Versioned.manifestFingerprint(spark, corpusTable, cv)
    def key = Seq(kind, root) ++ args ++ Seq(corpusTable, cv, cfp) ++
      generationKey(spark, arts)
    if (ensureCurrentMemo.get(key).isDefined ||
        stampMatches(spark, root, kind, key)) {
      ensureCurrentMemo.put(key, ())
      current
    } else {
      val r = ensure(VersionedScan.read(spark, corpusTable, cv))
      ensureCurrentMemo.put(key, ())
      writeStamp(spark, root, kind, key)
      r
    }
  }

  /** [[ensureIvf]] for a corpus that IS a versioned table — the form
    * the SQL door and every serving-shaped caller should use: the
    * corpus identity is true by construction (this reads the table
    * itself), so an unchanged (corpus, index) pair re-ensures with
    * ZERO Spark jobs (see [[ensureCurrentMemo]]). Passing the table
    * instead of a DataFrame is what makes the claim honest — a
    * caller-shaped frame (filtered, transformed) cannot ride the
    * memo and keeps the classification-join path via [[ensureIvf]]. */
  def ensureIvfCurrent(spark: SparkSession, root: String,
      corpusTable: String, idCol: String, embCol: String, k: Int = -1,
      spill: Double = 0.0): (Long, Long) = {
    val (cT, aT) = (ivfCentroidsTable(root), ivfAssignmentsTable(root))
    ensureCurrent(spark, root, "ivf", corpusTable,
      Seq(idCol, embCol, k, spill), Seq(cT, aT))(
      (Versioned.latestVersion(spark, cT), Versioned.latestVersion(spark, aT)))(
      ensureIvf(spark, root, _, idCol, embCol, k, spill))
  }

  /** [[ensurePq]]'s versioned-table twin — zero-job steady state; the
    * memo key carries the IVF centroids generation too, so a torn
    * residual chain (centroids retrained, codes not re-encoded)
    * misses and reaches ensurePq's own coherence refusal. */
  def ensurePqCurrent(spark: SparkSession, root: String,
      corpusTable: String, idCol: String, embCol: String, m: Int,
      k: Int): (Long, Long) = {
    val (bT, qT) = (pqCodebooksTable(root), pqCodesTable(root))
    ensureCurrent(spark, root, "pq", corpusTable, Seq(idCol, embCol, m, k),
      Seq(bT, qT, ivfCentroidsTable(root)))(
      (Versioned.latestVersion(spark, bT), Versioned.latestVersion(spark, qT)))(
      ensurePq(spark, root, _, idCol, embCol, m, k))
  }

  /** [[ensureNsw]]'s versioned-table twin — zero-job steady state;
    * m/ef/shards ride the key so a build-parameter drift still
    * reaches ensureNsw's own refusal. */
  def ensureNswCurrent(spark: SparkSession, root: String,
      corpusTable: String, idCol: String, embCol: String, m: Int = 8,
      ef: Int = 32, shards: Int = -1): Long = {
    val eT = nswEdgesTable(root)
    ensureCurrent(spark, root, "nsw", corpusTable,
      Seq(idCol, embCol, m, ef, shards), Seq(eT))(
      Versioned.latestVersion(spark, eT))(
      ensureNsw(spark, root, _, idCol, embCol, m, ef, shards))
  }

  /** Load the committed IVF index: (centroids, assignments). */
  def loadIvf(spark: SparkSession, root: String): (DataFrame, DataFrame) =
    (VersionedScan.read(spark, ivfCentroidsTable(root)),
      VersionedScan.read(spark, ivfAssignmentsTable(root)))

  /** Retrain the committed IVF quantizer at a NEW centroid count —
    * [[reshardNsw]]'s IVF twin, the operational alternative to
    * drop-root retrain for a corpus that outgrew its build-time k (see
    * [[ivfListTarget]] for the per-list cost bound this maintains).
    * Trains fresh centroids over the current corpus (`newK <= 0` =
    * [[ivfAutoK]] of the corpus size) and lands new centroids + a FULL
    * reassign as expected-slot CAS commits on the existing tables:
    * history is preserved (time travel to the pre-retrain index still
    * works: [[serve]] with an [[AnnPin.AsOf]] pin), version numbers
    * never reuse, and a writer racing either commit makes the CAS fail
    * loudly instead of clobbering — conversely an `ensure` that
    * classified against the pre-retrain index loses ITS publish to the
    * same CAS (morCommit pins the observed snapshot), so
    * stale-generation assignments can never land over the retrained
    * index.
    *
    * The pair is two commits, not one (the artifacts are two tables):
    * a crash between them leaves new centroids routing over the prior
    * assignment — DEGRADED recall (the old cid space ranks against new
    * centroids), never wrong results (the rerank is exact over
    * whatever candidates routing yields). The torn state is DETECTED
    * on the next call: each retrain stamps its commits (the centroids
    * commit, and the assignments commit with the centroids version it
    * reassigned for), so "centroids retrained but their reassign never
    * landed" is two metadata reads — and the re-call then COMPLETES
    * the stranded pair (reassigns against the already-minted
    * centroids, mints no new generation) instead of training yet
    * another one over the degraded window. Committed PQ codes under
    * the same root: RAW-encoded codes (pre-residual indexes) stay
    * VALID across an IVF retrain — they encode the vector against
    * their own codebooks, and routing only selects which codes are
    * scanned. RESIDUAL codes (the r14 default for new indexes) encode
    * x − centroid, so an IVF retrain invalidates them — this call
    * CHAINS a [[retrainPq]] at the stored (m, k) on every exit whose
    * centroids generation differs from the codebooks' stamp (the
    * FAISS-faithful rule: retraining the coarse quantizer retrains the
    * residual codebooks). A crash between the IVF pair and the chained
    * PQ retrain leaves a TORN CHAIN that serving and ensurePq refuse
    * loudly ([[requireResidualCoherent]]); re-running retrainIvf heals
    * it (the IVF pair reads current, the PQ chain re-fires). Returns
    * (centroids version, assignments version). */
  def retrainIvf(spark: SparkSession, root: String, emb: DataFrame,
      idCol: String, embCol: String, newK: Int = -1): (Long, Long) = {
    val (cT, aT) = (ivfCentroidsTable(root), ivfAssignmentsTable(root))
    val cv = Versioned.latestVersion(spark, cT)
    val av = Versioned.latestVersion(spark, aT)
    require(cv > 0L && av > 0L, s"no committed IVF index at $root to retrain")
    // every exit passes here: residual PQ codebooks stamped to an older
    // centroids generation re-train + re-encode against the new one
    def healed(r: (Long, Long)): (Long, Long) = {
      healResidualPq(spark, root, emb, idCol, embCol)
      r
    }
    val corpus = emb.select(col(idCol), col(embCol))
      .withColumn("vh", xxhash64(col(embCol)))
    // a SPILLED root keeps its scheme across retrains (frozen like k):
    // the reassign re-reads the stored eps and multi-assigns against
    // the new centroids
    val asgCur = VersionedScan.read(spark, aT, av)
    val retrainEps =
      if (asgCur.columns.contains("cid2"))
        storedSpillEps(spark, root, av, asgCur)
      else 0.0
    def reassign(centroidsV: Long, expectedAv: Long): Long =
      Versioned.commit(spark, aT,
        (if (retrainEps > 0.0)
           Ivf.assignSpill(corpus, idCol, embCol,
             VersionedScan.read(spark, cT, centroidsV), retrainEps)
             .withColumn("spill_eps", lit(retrainEps))
         else Ivf.assign(corpus, idCol, embCol,
           VersionedScan.read(spark, cT, centroidsV)))
          .join(corpus.select(col(idCol), col("vh")), Seq(idCol)),
        Some(idCol), files = 4, op = "RETRAIN",
        txn = Some(s"ivf-retrain-asg-c$centroidsV"), expected = Some(expectedAv))
    // TORN-PAIR REPAIR: the latest centroids commit is a stamped
    // retrain whose reassign never landed (no assignments commit in
    // the txn ring names it) — complete THAT pair rather than minting
    // another generation on top of the degraded window. Pre-stamp
    // retrains (or plain ensures) never match: the repair only fires
    // on provably-torn state. A caller who asked for a DIFFERENT k
    // than the stranded generation is NOT silently short-changed: the
    // pair heals first, then the requested retrain lands on top.
    val cSnap = Versioned.snapshot(spark, cT, cv)
    var avCur = av
    if (cSnap.op.contains("RETRAIN") &&
        cSnap.txn.exists(_.startsWith("ivf-retrain-c")) &&
        !Versioned.snapshot(spark, aT, av)
          .seenTxn(Some(s"ivf-retrain-asg-c$cv"))) {
      avCur = reassign(cv, av)
      // the stranded generation's REQUESTED k rides its stamp (the
      // trained row count is only the effective size — a stratified
      // seed can occupy fewer cells); an unparseable stamp means the
      // request is unknown, so an explicit caller k retrains on top
      val strandedK = cSnap.txn
        .flatMap("""-k(\d+)$""".r.findFirstMatchIn(_))
        .map(_.group(1).toInt)
      if (newK <= 0 || strandedK.contains(newK)) return healed((cv, avCur))
    }
    val k = if (newK > 0) newK else ivfAutoK(emb.count())
    val newCv = Versioned.commit(spark, cT,
      Ivf.centroids(emb, idCol, embCol, k), Some("cid"), files = 1,
      op = "RETRAIN", txn = Some(s"ivf-retrain-c-from$cv-k$k"),
      expected = Some(cv))
    // the reassign reads the COMMITTED new centroids (round-tripped
    // through parquet exactly like ensure's bootstrap), so the stored
    // assignment is the one every later load reproduces
    healed((newCv, reassign(newCv, avCur)))
  }

  /** [[retrainIvf]]'s residual-PQ chain: when the root carries
    * residual-encoded codebooks stamped to a DIFFERENT centroids
    * generation than the current one, re-train them (and re-encode the
    * codes) via [[retrainPq]] at the stored (m, k). Raw codebooks (and
    * roots without a PQ tier) are untouched — raw codes are valid
    * across IVF retrains by construction. */
  private def healResidualPq(spark: SparkSession, root: String,
      emb: DataFrame, idCol: String, embCol: String): Unit = {
    val bT = pqCodebooksTable(root)
    if (Versioned.latestVersion(spark, bT) == 0L) return
    val books = VersionedScan.read(spark, bT)
    residualStamp(books).foreach { case (cgv, cgf) =>
      val cT = ivfCentroidsTable(root)
      val cvNow = Versioned.latestVersion(spark, cT)
      if (cgv != cvNow ||
          cgf != Versioned.manifestFingerprint(spark, cT, cvNow)) {
        val (m, k) = codebookShape(books)
        retrainPq(spark, root, emb, idCol, embCol, m, k)
      }
    }
  }

  /** [[retrainIvf]]'s PQ sibling: retrain the committed codebooks at a
    * new (m, k) over the current corpus and land codebooks + a FULL
    * re-encode as expected-slot CAS commits with history preserved —
    * for a corpus whose value distribution drifted past what the
    * build-time codebooks quantize well (the codes' accuracy analogue
    * of the IVF list-size cliff). Same two-commit contract as
    * [[retrainIvf]], including the torn-pair repair: a crash between
    * them leaves new codebooks over prior codes — DEGRADED ADC
    * accuracy (still exact-reranked) — and the next call detects the
    * stamped-but-unpaired codebooks commit and COMPLETES it (re-encode
    * only, no new training) instead of minting another generation; a
    * racing writer on either table fails the CAS cleanly. Returns
    * (codebooks version, codes version). */
  def retrainPq(spark: SparkSession, root: String, emb: DataFrame,
      idCol: String, embCol: String, m: Int, k: Int): (Long, Long) = {
    val (bT, cT) = (pqCodebooksTable(root), pqCodesTable(root))
    val ivfT = ivfCentroidsTable(root)
    val bv = Versioned.latestVersion(spark, bT)
    val cv = Versioned.latestVersion(spark, cT)
    // codebooks-without-codes is a TORN BOOTSTRAP (a crash between
    // ensurePq's two commits), not a missing index: the retrain heals
    // it by landing the FIRST codes commit (expected-slot 0 CAS) —
    // refusing here would leave both remedies the torn-chain error
    // names (retrainPq, retrainIvf's chained heal) throwing on the
    // exact state they promise to repair
    require(bv > 0L, s"no committed PQ codebooks at $root to retrain")
    val corpus = emb.select(col(idCol), col(embCol))
      .withColumn("vh", xxhash64(col(embCol)))
    // re-encode under the BOOKS' stored scheme: residual books subtract
    // their stamped centroids generation, raw books encode the vector
    def reencode(booksV: Long, expectedCv: Long): Long = {
      val books = VersionedScan.read(spark, bT, booksV)
      // m rides trainedM, not the bare max(sub)+1: a RAGGED stranded
      // generation (pre-r15, m not dividing the width) must refuse
      // here with the retrain remedy exactly like the serve does —
      // max(sub)+1 would re-encode its codes at m+1 on boundaries the
      // training never used and the catch-up commit would land
      // garbage codes (ADVICE r15)
      val mBooks = trainedM(spark, root, books, booksV)
      val coded = residualStamp(books) match {
        case Some((cgv, cgf)) =>
          requireStampedGeneration(spark, root, cgv, cgf, "retrainPq")
          Pq.encode(residualFrame(corpus, idCol, embCol,
              VersionedScan.read(spark, ivfT, cgv)), idCol, "__resid",
            books, mBooks)
        case None => Pq.encode(corpus, idCol, embCol, books, mBooks)
      }
      Versioned.commit(spark, cT,
        coded.join(corpus.select(col(idCol), col("vh")), Seq(idCol)),
        Some(idCol), files = 4, op = "RETRAIN",
        txn = Some(s"pq-retrain-codes-b$booksV"), expected = Some(expectedCv))
    }
    // same torn-pair repair as retrainIvf, same caller-parameter
    // honesty: heal the stranded pair, and if the requested (m, k)
    // differs from the stranded codebooks' shape, land the requested
    // retrain on top instead of silently returning the old structure
    val bSnap = Versioned.snapshot(spark, bT, bv)
    var cvCur = cv
    if (cv > 0L && bSnap.op.contains("RETRAIN") &&
        bSnap.txn.exists(_.startsWith("pq-retrain-b")) &&
        !Versioned.snapshot(spark, cT, cv)
          .seenTxn(Some(s"pq-retrain-codes-b$bv"))) {
      cvCur = reencode(bv, cv)
      // same requested-vs-effective distinction as retrainIvf: the
      // stranded (m, k) ride the stamp, never the trained row count
      val stranded = bSnap.txn
        .flatMap("""-m(\d+)-k(\d+)$""".r.findFirstMatchIn(_))
        .map(g => (g.group(1).toInt, g.group(2).toInt))
      if (stranded.contains((m, k))) return (bv, cvCur)
    }
    // train at the scheme the root supports TODAY: committed centroids
    // ⇒ residual (this is also the explicit migration door for a raw
    // index — retrain once and it serves residual from then on)
    val trained = trainBooks(spark, root, emb, idCol, embCol, m, k)
    val newBv = Versioned.commit(spark, bT, trained, Some("sub"), files = 1,
      op = "RETRAIN", txn = Some(s"pq-retrain-b-from$bv-m$m-k$k"),
      expected = Some(bv))
    (newBv, reencode(newBv, cvCur))
  }

  def ivfListsTable(root: String): String = s"$root/ivf_lists"

  /** Build (or refresh) the DERIVED inverted-list serving layout: the
    * corpus vectors CLUSTERED BY their IVF list id, committed with
    * per-file `cid` stats — which makes "search nProbe of k lists"
    * true at the FILE level: a probe's candidate scan manifest-prunes
    * to ~nProbe/k of the files instead of joining across the whole
    * id-clustered corpus (the layout real IVF index files ship). The
    * table is derived, not truth: `ivf_assignments` (id-keyed, O(delta)
    * MoR maintenance) stays authoritative, and the lists commit stamps
    * the (assignments, corpus) generations it derives from
    * ([[ivfLists]]) — [[serve]] reads it ONLY while that stamp
    * matches, else falls back to the join plan, so staleness can never
    * serve wrong rows. Refreshing is O(delta) ([[refreshLayout]]):
    * only the files whose lists changed rewrite, the rest carry by
    * reference — the full re-cluster is the bootstrap and the
    * fallback, not the steady state. An up-to-date layout returns its
    * current version without committing. */
  def optimizeIvfServing(spark: SparkSession, root: String,
      corpusTable: String, idCol: String, embCol: String,
      force: Boolean = false): Long = {
    require(Versioned.latestVersion(spark, ivfAssignmentsTable(root)) > 0,
      s"no committed IVF index at $root — ensure first")
    val cv = Versioned.latestVersion(spark, corpusTable)
    require(cv > 0, s"optimizeIvfServing: $corpusTable has no commits")
    refreshLayout(spark, ivfLists(spark, root, corpusTable, cv,
      AnnPin.Latest), idCol, embCol, force)
  }

  /** Freshness report for the derived lists layout vs a corpus table —
    * the `ann_stats` surface behind "is my serving still file-pruned?".
    * [[serve]] silently (and correctly) falls back to the join plan
    * the moment the stamp goes stale; without this an
    * operator could lose the nProbe/k I/O promise for days and only
    * discover it by reading executed plans. SEMANTICS (r14): fresh
    * means the layout's ROWS still match the stamped derivation — a
    * row-preserving OPTIMIZE keeps it fresh even though an aggressive
    * whole-layout binpack coarsens per-file cid ranges (pruning
    * PRECISION, never correctness); `ann_optimize_serving(force =>
    * true)` re-clusters to restore granularity. Keys:
    * `ivf_lists_fresh` (1 = the current (assignments, corpus)
    * identity matches the stamp; 0 = stale or no layout — re-CALL
    * ann_optimize_serving),
    * `ivf_lists_stamped_assignments_version` (what the layout was
    * derived from; -1 when absent). Costs the same metadata reads the
    * serving-route decision pays. */
  def listsFreshness(spark: SparkSession, root: String,
      corpusTable: String): Map[String, Long] = {
    val lT = ivfListsTable(root)
    val lv = Versioned.latestVersion(spark, lT)
    val cv = Versioned.latestVersion(spark, corpusTable)
    val lay = ivfLists(spark, root, corpusTable, cv, AnnPin.Latest)
    val stamped =
      if (lv == 0L) -1L
      else effectiveLayoutStamp(spark, lT, lv).flatMap(lay.parse)
        .map(_("a")).getOrElse(-1L)
    val fresh = lv > 0L && cv > 0L &&
      freshLayout(spark, lay, AnnPin.Latest).isDefined
    Map(
      "ivf_lists_fresh" -> (if (fresh) 1L else 0L),
      "ivf_lists_stamped_assignments_version" -> stamped)
  }

  /** One derived serving layout — `ivf_lists` ([[ivfLists]]),
    * `pq_lists` ([[pqLists]]) or `nsw_layout` ([[nswLayout]]) — as the
    * one refresh ([[refreshLayout]]) and the one reader
    * ([[freshLayout]]) see it: `table`, clustered by the integral
    * `key` column, and its freshness stamp — `prefix`, then
    * `-<tag><value>` for each of `tags`. `gens` names the stamped
    * source generations as (source table, version tag, manifest
    * fingerprint tag): the fingerprints bind the commit to the EXACT
    * generations it derives from (drop-root rebuilds reuse version
    * numbers), so any ensure that mints, or any corpus commit,
    * invalidates it. Every other tag is an exact-match field — the
    * corpus table hash, the shard count. `values` resolve on first
    * use, so a reader pays the sources' metadata reads only once a
    * layout commit exists. The stamp strings are the persisted format
    * (a layout committed under them stays fresh across upgrades). */
  private abstract class Layout(val table: String, val key: String,
      prefix: String, tags: Seq[String],
      val gens: Seq[(String, String, String)]) {
    protected def values: Seq[Long]
    lazy val fields: Seq[(String, Long)] = tags.zip(values)
    lazy val stamp: String =
      prefix + fields.map { case (t, v) => s"-$t$v" }.mkString
    /** Tag → value of a stamp in this layout's format. */
    def parse(s: String): Option[Map[String, Long]] =
      (prefix + tags.map(t => s"-$t(-?\\d+)").mkString).r
        .findFirstMatchIn(s).map(m =>
          tags.indices.map(i => tags(i) -> m.group(i + 1).toLong).toMap)
    /** The layout's rows with every source read through `only`: the
      * identity for the full re-cluster, an id restriction for the
      * fresh rows of a delta. */
    def rows(idCol: String, embCol: String)(
        only: DataFrame => DataFrame): DataFrame
    /** The keys whose files hold the OLD images of `oldIds` under the
      * `stamped` generations; None = fall back to the full re-cluster. */
    def dirty(idCol: String, stamped: Map[String, Long],
        oldIds: Seq[Any]): Option[Seq[Long]]
    /** The full re-cluster's file count, before the [4, 4096] clamp. */
    def files: Int
  }

  /** A layout table's EFFECTIVE stamp: the latest commit's txn — or,
    * when the trailing commits are row-preserving OPTIMIZE compactions,
    * the stamp of the most recent stamped commit beneath them. Binpack
    * on a serving layout is routine maintenance (the O(delta) refresh
    * accretes small delta files by design) and must not cost a full
    * re-cluster on the next refresh nor silently un-prune serving. The
    * walk stops at the FIRST unstamped non-OPTIMIZE commit — DML,
    * RESTORE, foreign writes: their rows may differ from the stamped
    * derivation, so they must read as stale — and is bounded by
    * compaction cadence (8), never history length. Testing the
    * EXPECTED stamp against this (instead of the recent-txn ring)
    * keeps a corpus RESTORE honest: an old identity resurfacing never
    * matches a NEWER restamp's layout rows. */
  private def effectiveLayoutStamp(spark: SparkSession, lT: String,
      lv: Long): Option[String] = {
    var v = lv
    var steps = 0
    while (v > 0 && steps <= 8) {
      val sn = scala.util.Try(Versioned.snapshot(spark, lT, v))
        .getOrElse(return None)
      if (sn.txn.isDefined) return sn.txn
      if (!sn.op.contains("OPTIMIZE")) return None
      v -= 1
      steps += 1
    }
    None
  }

  /** Build or refresh the layout `lay` — the one refresh protocol of
    * every serving layout. A layout whose effective stamp already
    * equals `lay.stamp` returns its version without committing. A
    * stale one refreshes O(delta) first: parse the stale stamp's
    * source generations, diff each against the current one
    * ([[stampedDeltaSides]]: fingerprints verified, DV deltas of MoR
    * DML folded in — O(changed files), never a table scan), then
    * rewrite ONLY the files holding the delta's old images, carrying
    * the rest by reference ([[Versioned.rewriteFilesByKey]]). The
    * refreshed layout is row-identical to a from-scratch rebuild
    * (pinned in LayoutRefreshSpec). The full re-cluster is the
    * bootstrap, the fallback — an unparseable/foreign/pre-r14 stamp,
    * an exact field that moved (another corpus table, a reshard), a
    * stamped generation whose version number a drop-root rebuild
    * reused, a delta past [[maxLayoutDelta]], dirty keys past half the
    * layout's files — and the explicit door (`force`) for restoring
    * pruning granularity after a whole-layout compaction. */
  private def refreshLayout(spark: SparkSession, lay: Layout, idCol: String,
      embCol: String, force: Boolean): Long = {
    val lT = lay.table
    val lv = Versioned.latestVersion(spark, lT)
    val oldStamp =
      if (lv > 0) effectiveLayoutStamp(spark, lT, lv) else None
    if (!force && oldStamp.contains(lay.stamp)) return lv
    def incremental(): Option[Long] = scala.util.Try {
      val old = oldStamp.flatMap(lay.parse).getOrElse(return None)
      val genTags = lay.gens.flatMap { case (_, vt, ft) => Seq(vt, ft) }.toSet
      if (lay.fields.exists { case (t, v) => !genTags(t) && old(t) != v })
        return None
      val cur = lay.fields.toMap
      val sides = lay.gens.map { case (t, vt, ft) =>
        stampedDeltaSides(spark, t, idCol, old(vt), old(ft), cur(vt))
          .getOrElse(return None)
      }
      val oldIds: Seq[Any] = sides.flatMap(_._1).distinct
      val deltaIds: Seq[Any] = sides.flatMap { case (o, n) => o ++ n }.distinct
      if (deltaIds.size > maxLayoutDelta) return None
      // REWRITE keys are the OLD images' keys only: a changed/removed
      // row's old image must leave its file, but a NEW row simply lands
      // in the refresh's own key-sorted delta files next to the carried
      // ones (the scan prunes by key stats across all files) — so an
      // append-mostly delta rewrites NOTHING, however many keys it
      // spreads over
      val dirty = lay.dirty(idCol, old, oldIds).getOrElse(return None)
      // COST-AWARE fallback (r15 crossover rehearsal at 2.2M: a 50-row
      // random-spread update already rewrote 35/67 files and the
      // refresh read 4.4 s vs the full re-cluster's 2.3–3.4 s — the
      // binding unit is dirty FILES, not dirty keys): preview with the
      // rewrite's own matcher, O(files) driver arithmetic
      val (touchedF, totalF) =
        Versioned.filesTouchedByKey(spark, lT, lv, lay.key, dirty)
      if (touchedF * 2 > totalF) return None
      val deltaNew =
        if (deltaIds.isEmpty) VersionedScan.read(spark, lT, lv).limit(0)
        else lay.rows(idCol, embCol)(restrictToIds(spark, _, idCol, deltaIds))
      Some(Versioned.rewriteFilesByKey(spark, lT, lay.key, dirty,
        Some(lay.stamp), "OPTIMIZE_SERVING", lv)(
        layoutReplace(spark, idCol, deltaNew.schema(idCol).dataType,
          deltaIds, deltaNew)))
    }.toOption.flatten
    if (!force && lv > 0) incremental().foreach(return _)
    Versioned.commit(spark, lT, lay.rows(idCol, embCol)(identity),
      Some(lay.key), files = math.max(4, math.min(4096, lay.files)),
      txn = Some(lay.stamp), op = "OPTIMIZE_SERVING",
      expected = if (lv > 0) Some(lv) else None)
  }

  /** The layout `lay` that was fresh at `pin` — Some only when a layout
    * commit existed at the pin AND its effective stamp names exactly
    * `lay.stamp`, i.e. the pin-resolved source generations; anything
    * else (no layout yet, one already stale then, an instant before
    * any commit) sends the serve to the join plan or the full cogroup,
    * never to stale or wrong-era files. Metadata reads only: the
    * layout version, its effective stamp, then the sources'. */
  private def freshLayout(spark: SparkSession, lay: Layout,
      pin: AnnPin): Option[DataFrame] = scala.util.Try {
    val lv = versionAt(spark, lay.table, pin)
    if (lv > 0L &&
        effectiveLayoutStamp(spark, lay.table, lv).contains(lay.stamp))
      Some(VersionedScan.read(spark, lay.table, lv))
    else None
  }.toOption.flatten

  /** `ivf_lists`: the corpus vectors keyed by IVF list, derived from the
    * assignments at `pin` (resolved on first use) and the corpus
    * identity (`corpusTable`, `cv`); stamped
    * `ivf-lists-a<av>-g<afp>-t<table hash>-c<cv>-f<cfp>` (the stamp
    * names the corpus TABLE too: a layout derived from a different
    * table must never diff against this one). A SPILLED root's layout
    * carries each boundary vector in BOTH its lists' files (the derived
    * layout is not keyed, so the duplicate is legal) — that keeps the
    * serve's manifest pruning complete under multi-assignment; the
    * `spl` marker column tells the serve to dedup candidates by id.
    * Old images resolve their lists by an id lookup of the STAMPED
    * assignments generation (id-clustered, so it file-prunes); an id
    * with no old assignment had no layout row. The file count tracks
    * the list count so per-file cid ranges stay tight — for PRUNING
    * precision and for the O(delta) refresh's REWRITE granularity. */
  private def ivfLists(spark: SparkSession, root: String,
      corpusTable: String, cv: Long, pin: AnnPin): Layout = {
    val aT = ivfAssignmentsTable(root)
    new Layout(ivfListsTable(root), "cid", "ivf-lists",
        Seq("a", "g", "t", "c", "f"),
        Seq((aT, "a", "g"), (corpusTable, "c", "f"))) {
      private lazy val a = versionAt(spark, aT, pin)
      protected lazy val values: Seq[Long] = Seq(a,
        Versioned.manifestFingerprint(spark, aT, a),
        corpusTable.hashCode.toLong, cv,
        Versioned.manifestFingerprint(spark, corpusTable, cv))
      private def spilled(asg: DataFrame) = asg.columns.contains("cid2")
      def rows(idCol: String, embCol: String)(
          only: DataFrame => DataFrame): DataFrame = {
        val asg = VersionedScan.read(spark, aT, a)
        val base = Ivf.memberPairs(only(asg), idCol)
          .join(only(VersionedScan.read(spark, corpusTable, cv))
            .select(col(idCol), col(embCol)), idCol)
          .select(col("cid"), col(idCol), col(embCol))
        if (spilled(asg)) base.withColumn("spl", lit(true)) else base
      }
      // spill freezes at bootstrap, so the stamped and current schemes
      // cannot differ — but guard anyway: the full re-cluster is always
      // correct
      def dirty(idCol: String, stamped: Map[String, Long],
          oldIds: Seq[Any]): Option[Seq[Long]] = {
        val asg0 = VersionedScan.read(spark, aT, stamped("a"))
        if (spilled(asg0) != spilled(VersionedScan.read(spark, aT, a))) None
        else Some(listsOf(Ivf.memberPairs(
          restrictToIds(spark, asg0, idCol, oldIds), idCol), oldIds))
      }
      def files: Int = (VersionedScan.read(spark,
        ivfCentroidsTable(root)).count() / 4).toInt
    }
  }

  /** `pq_lists`: the codes keyed by their list in the assignments, both
    * at `pin` (resolved on first use); stamped
    * `pq-lists-a<av>-f<afp>-q<qv>-g<qfp>`. Its delta is the union of
    * the ASSIGNMENTS diff (routing moves) and the CODES diff
    * (re-encodes); only the lists holding changed OLD images rewrite.
    * Same file-count rule as [[ivfLists]]. */
  private def pqLists(spark: SparkSession, root: String,
      pin: AnnPin): Layout = {
    val (aT, qT) = (ivfAssignmentsTable(root), pqCodesTable(root))
    new Layout(pqListsTable(root), "cid", "pq-lists", Seq("a", "f", "q", "g"),
        Seq((aT, "a", "f"), (qT, "q", "g"))) {
      private lazy val a = versionAt(spark, aT, pin)
      private lazy val q = versionAt(spark, qT, pin)
      protected lazy val values: Seq[Long] = Seq(a,
        Versioned.manifestFingerprint(spark, aT, a), q,
        Versioned.manifestFingerprint(spark, qT, q))
      def rows(idCol: String, embCol: String)(
          only: DataFrame => DataFrame): DataFrame =
        only(VersionedScan.read(spark, qT, q))
          .select(col(idCol), col("sub"), col("code"))
          .join(only(VersionedScan.read(spark, aT, a))
            .select(col(idCol), col("cid")), idCol)
          .select(col("cid"), col(idCol), col("sub"), col("code"))
      def dirty(idCol: String, stamped: Map[String, Long],
          oldIds: Seq[Any]): Option[Seq[Long]] =
        Some(listsOf(restrictToIds(spark,
          VersionedScan.read(spark, aT, stamped("a")), idCol, oldIds), oldIds))
      def files: Int = (VersionedScan.read(spark,
        ivfCentroidsTable(root)).count() / 4).toInt
    }
  }

  /** `nsw_layout`: the corpus identity (`corpusTable`, `cv`, `cfp`)
    * keyed by `pmod(id, gshards)`; stamped
    * `nsw-layout-t<table hash>-c<cv>-f<cfp>-s<gshards>`, so a corpus
    * commit or a reshard (new shard count) invalidates it, and a
    * changed shard count or a foreign corpus table always rebuilds. The
    * delta is exactly the corpus delta; only the shards holding changed
    * OLD images rewrite. One file ≈ one shard, so the partial-miss scan
    * prunes to exactly the missing shards' files. */
  private def nswLayout(spark: SparkSession, root: String,
      corpusTable: String, cv: Long, cfp: Long, gshards: Int): Layout =
    new Layout(nswLayoutTable(root), "shard", "nsw-layout",
        Seq("t", "c", "f", "s"), Seq((corpusTable, "c", "f"))) {
      protected lazy val values: Seq[Long] =
        Seq(corpusTable.hashCode.toLong, cv, cfp, gshards.toLong)
      def rows(idCol: String, embCol: String)(
          only: DataFrame => DataFrame): DataFrame =
        only(VersionedScan.read(spark, corpusTable, cv)).select(
          pmod(col(idCol).cast("long"), lit(gshards.toLong)).as("shard"),
          col(idCol), col(embCol))
      def dirty(idCol: String, stamped: Map[String, Long],
          oldIds: Seq[Any]): Option[Seq[Long]] =
        Some(oldIds.map(id => math.floorMod(
          id.asInstanceOf[Number].longValue, gshards.toLong)).distinct)
      def files: Int = gshards
    }

  /** The distinct `cid`s of `pairs` — and no job at all when the delta
    * has no old images. */
  private def listsOf(pairs: => DataFrame, oldIds: Seq[Any]): Seq[Long] =
    if (oldIds.isEmpty) Seq.empty
    else pairs.select("cid").distinct().collect()
      .map(_.getAs[Number](0).longValue).toSeq

  /** Bound on the collected delta of an incremental layout refresh:
    * past ~100k changed rows the full re-cluster is competitive (and
    * the collected driver-side id sets stop being "tiny") — fall
    * back. Lookups above [[isinLiteralCap]] already ride a broadcast
    * semi-join instead of literal IN, so the binding cost here is the
    * collect + broadcast, not Catalyst planning. */
  private val maxLayoutDelta = 100000

  /** Literal one-column id frame for the anti-join side of a layout
    * refresh — built from COLLECTED ids (delta-bounded) so removed ids
    * participate too (they exist in no current table to select from). */
  private def idFrame(spark: SparkSession, idCol: String,
      idType: org.apache.spark.sql.types.DataType,
      ids: Seq[Any]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(
        ids.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType))))

  /** Literal-IN lists stay cheap only while they are small: near
    * [[maxLayoutDelta]] a ~100k-literal `isin` costs superlinear
    * Catalyst planning time and driver memory — enough to make the
    * O(delta) refresh SLOWER than the full re-cluster it exists to
    * avoid (r14 ADVICE). Above this cap the delta lookups switch to a
    * broadcast semi-join against the collected id frame. */
  private val isinLiteralCap = 4096

  /** Restrict `df` to a collected (delta-bounded) id set: a literal IN
    * while the list is small — literal predicates are what the
    * manifest's per-file stats prune on — and a broadcast-hashed LEFT
    * SEMI join above [[isinLiteralCap]], where the un-pruned but
    * single-pass distributed scan beats a driver-side literal tree. */
  private def restrictToIds(spark: SparkSession, df: DataFrame,
      idCol: String, ids: Seq[Any]): DataFrame =
    if (ids.size <= isinLiteralCap) df.filter(col(idCol).isin(ids: _*))
    else df.join(broadcast(idFrame(spark, idCol,
      df.schema(idCol).dataType, ids)), Seq(idCol), "left_semi")

  /** The capped two-sided id delta of ONE source table between a
    * STAMPED generation and the current one — the shared collection
    * step of every O(delta) layout refresh. None = fall back to the
    * full re-cluster: an unreadable version, a delta past
    * [[maxLayoutDelta]], or a STAMP-IDENTITY mismatch — `fp0` is the
    * manifest fingerprint the layout's stamp recorded for v0, and if
    * v0's manifest no longer hashes to it the version number was
    * REUSED by a drop-root rebuild: a version-pair diff would compare
    * the wrong generation, so the refresh must not trust it (the
    * pre-r14 behavior — a full rebuild — resumes). Verified-equal
    * versions are a genuinely empty delta. */
  private def stampedDeltaSides(spark: SparkSession, table: String,
      idCol: String, v0: Long, fp0: Long,
      v1: Long): Option[(Seq[Any], Seq[Any])] = scala.util.Try {
    if (Versioned.manifestFingerprint(spark, table, v0) != fp0) None
    else if (v0 == v1) Some((Seq.empty[Any], Seq.empty[Any]))
    else Versioned.fileDiffIds(spark, table, v0, v1, idCol).flatMap {
      case (oldSide, newSide) =>
        def capped(df: DataFrame): Option[Seq[Any]] = {
          val r = df.distinct().limit(maxLayoutDelta + 1).collect()
          if (r.length > maxLayoutDelta) None
          else Some(r.map(_.get(0)).toSeq)
        }
        for (o <- capped(oldSide); nw <- capped(newSide)) yield (o, nw)
    }
  }.toOption.flatten

  /** The shared replacement closure of every layout refresh: drop the
    * delta ids' old images from the rewritten files' rows, append the
    * fresh delta rows. */
  private def layoutReplace(spark: SparkSession, idCol: String,
      idType: org.apache.spark.sql.types.DataType, deltaIds: Seq[Any],
      deltaNew: DataFrame)(covered: DataFrame): DataFrame =
    covered.join(broadcast(idFrame(spark, idCol, idType, deltaIds)),
      Seq(idCol), "left_anti").unionByName(deltaNew)

  /** The corpus view a FILTERED search ranks within: the s13
    * prefiltered composition — membership is exact (only matching rows
    * can appear), ranking stays routing-approximate; a selective
    * filter under-fills k at fixed width, the documented knob being
    * nProbe (FilteredAnnSpec pins the laws). `allowed` is an id-set
    * frame (one idCol column), normally `corpus.filter(pred)`. */
  private def restrict(df: DataFrame, idCol: String,
      allowed: Option[DataFrame]): DataFrame =
    allowed.map(a =>
      df.join(a.select(col(idCol)), Seq(idCol), "left_semi")).getOrElse(df)

  /** The pruned serve over a fresh lists layout — per-probe routing
    * collected driver-side (probes × nProbe pairs) so the scan carries
    * LITERAL cid predicates the manifest prunes on (a join could not):
    * ONE stats-pruned scan over the union of chosen lists, candidates
    * fanned to their probes by a broadcast join, per-probe
    * rerank ([[Pq.topPerProbe]]: a sorted limit for a `single` probe).
    * `p` is (__pid, __probe); returns (__pid, idCol, score). */
  private def ivfListsServe(cents: DataFrame, lists: DataFrame,
      idCol: String, embCol: String, p: DataFrame, single: Boolean, k: Int,
      nProbe: Int, allowed: Option[DataFrame]): DataFrame = {
    import graft.functions.vec_cosine_sim
    val spark = p.sparkSession
    import spark.implicits._
    // ONE routing implementation across the ivf and pq tiers
    // (Pq.probeLists) — the collect is probes × nProbe, driver-bounded
    val pairs = Pq.probeLists(cents, p, nProbe, single)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val chosen = pairs.map(_._2).distinct
    // the filter semi-joins the PRUNED candidate scan, never the whole
    // layout — prefilter semantics on the pruned plan
    val cand =
      restrict(lists.filter(col("cid").isin(chosen: _*)), idCol, allowed)
    // one probe owns every chosen list: no fan-out join to plan
    val fanned =
      if (single) cand.crossJoin(broadcast(p))
      else cand.join(broadcast(pairs.toDF("__pid", "cid")), "cid")
        .join(broadcast(p), "__pid")
    val scored = fanned.select(col("__pid"), col(idCol),
      vec_cosine_sim(col(embCol), col("__probe")).as("score"))
    // spilled layouts dedup per (probe, id) before the rerank — a
    // boundary vector in two of one probe's lists must score once.
    // Dedup AFTER scoring (the copies are byte-identical, scores are
    // equal doubles): (pid, id, score) distinct hash-aggregates where
    // an (pid, id, embedding) dedup would sort-aggregate. Plain
    // layouts keep the exact r15 plan.
    Pq.topPerProbe(
      if (lists.columns.contains("spl")) scored.distinct() else scored,
      single, k, desc("score"), col(idCol))
  }

  /** The pq rerank-pool a width knob implies — ONE formula shared by
    * the SQL door (GraftTvfs.annSearch) and [[measureRecall]], so the
    * audited recall always describes what the door serves: the pool
    * scales with the width (the 2.2M rehearsal read recall@10 0.600 at
    * nProbe=32/pool=256 vs 0.388 under a fixed k-derived pool — pool
    * binds before ADC quality once routing widens). */
  def pqRerankPool(k: Int, width: Int): Int =
    math.max(math.max(64, 8 * k), 8 * width)

  /** (trained m, centroid lengths uniform?) memoized per (books
    * table, version, manifest fingerprint) — [[residualStampMemo]]'s
    * twin: both are immutable per generation, and every committed pq
    * SERVE (and every steady-state re-ensure) was paying a driver
    * aggregate job just to re-derive two small constants. The
    * fingerprint in the key is the usual reused-version-number
    * guard. */
  private val codebookMMemo =
    new LruMap[(String, Long, Long), (Int, Boolean)](256)
  private def codebookMCached(spark: SparkSession, root: String,
      bv: Long, books: => DataFrame): (Int, Boolean) = {
    val bT = pqCodebooksTable(root)
    val key = (bT, bv, Versioned.manifestFingerprint(spark, bT, bv))
    codebookMMemo.get(key).getOrElse {
      val r = books.agg(max(col("sub")),
        countDistinct(org.apache.spark.sql.functions.size(col("centroid"))))
        .head()
      val v = (r.getAs[Number](0).intValue + 1, r.getLong(1) == 1L)
      codebookMMemo.put(key, v)
      v
    }
  }

  /** The trained m for a root's committed codebooks through the memo —
    * bv <= 0 resolves the latest generation. Refuses RAGGED codebooks
    * (non-uniform centroid lengths — a pre-r15 build whose m did not
    * divide the embedding width): such an index was never coherent
    * (its training stride ⌊D/m⌋ and its encode/serve stride ⌊D/(m+1)⌋
    * disagreed from day one), and max(sub)+1 is NOT its training m,
    * so serving it through [[Pq.subDist]] would be silent garbage —
    * the named remedy is a retrain at a dividing m. */
  private def trainedM(spark: SparkSession, root: String,
      books: => DataFrame, bv: Long = -1L): Int = {
    val (m, uniform) = codebookMCached(spark, root,
      if (bv > 0) bv
      else Versioned.latestVersion(spark, pqCodebooksTable(root)), books)
    require(uniform,
      s"PQ codebooks at $root are RAGGED (non-uniform subspace " +
        "widths — built before r15 with an m that does not divide the " +
        "embedding width; training and encoding never agreed on the " +
        "subspace boundaries): run retrainPq (or CALL ann_ensure after " +
        "dropping the pq artifacts) with an m that divides the width")
    m
  }

  /** Trained (m, k) of committed codebooks — both derivable because the
    * empty-cell repair keeps the codebook DENSE m×k. */
  private def codebookShape(books: DataFrame): (Int, Int) = {
    val r = books.agg(max(col("sub")), max(col("cid"))).head()
    (r.getAs[Number](0).intValue + 1, r.getAs[Number](1).intValue + 1)
  }

  /** ONE predicate for the scalar-degenerate PQ bound — shared by the
    * training-chokepoint refusal below and ann_ensure's defaulted-m
    * divisor search, so the auto-derive can never resolve to an m the
    * build immediately refuses (the r15 chokepoint precedent). m = 1
    * (whole-vector quantization) is allowed; m >= 2 needs >= 2 dims
    * per subspace. */
  def pqSubspacesOk(d: Int, m: Int): Boolean = m == 1 || d / m >= 2

  /** Train PQ codebooks at (m, k) under the scheme the root supports
    * TODAY: committed IVF centroids ⇒ RESIDUAL books stamped to the
    * current generation (version + manifest fingerprint), else raw —
    * the ONE recipe behind ensurePq's bootstrap, its torn-bootstrap
    * repair, and retrainPq (three sites that must stamp identically or
    * the repair paths diverge). Also the chokepoint for FAISS's
    * d % m == 0 rule: [[Pq.components]] splits contiguous ⌊D/m⌋-wide
    * subspaces, so an m that does not divide the width would train and
    * delta-encode the ragged tail on DIFFERENT boundaries — refused
    * loudly here (one stats-bounded 1-row read, build-time cost). */
  private def trainBooks(spark: SparkSession, root: String, emb: DataFrame,
      idCol: String, embCol: String, m: Int, k: Int): DataFrame = {
    emb.filter(col(embCol).isNotNull)
      .select(org.apache.spark.sql.functions.size(col(embCol)))
      .limit(1).collect().headOption.map(_.getInt(0))
      .foreach { d =>
        require(d % m == 0,
          s"PQ subspace count m=$m must divide the embedding width $d " +
            "(FAISS's d % m == 0 rule): the contiguous-subspace split " +
            "would otherwise leave a ragged tail that trains and encodes " +
            "on different boundaries — pick m from the width's divisors")
        // the scalar-degenerate regime (1-dim subspaces, m == D)
        // REFUSES by name instead of OOMing the build: the training
        // cross materializes n x m*k rows, and at m = D that is the
        // r15 rehearsal's recorded 2.2M build cliff — with no
        // accuracy reason to pay it, because quantizing scalars is
        // exactly what the s05 int8 and s11 IVF-SQ tiers already do
        // without a codebook cross (m <= D/2 keeps >= 2 dims per
        // subspace, the smallest split where PQ beats scalar
        // quantization)
        require(pqSubspacesOk(d, m),
          s"PQ at m=$m over width-$d embeddings is scalar-degenerate " +
            "(each subspace holds < 2 dimensions): the training cross " +
            s"materializes corpus x m*k rows with no accuracy benefit " +
            "over scalar quantization — use the int8 (s05) or IVF-SQ " +
            "(s11) scalar tiers for that regime, or pick m <= " +
            s"${d / 2}")
      }
    val ivfT = ivfCentroidsTable(root)
    val cgv = Versioned.latestVersion(spark, ivfT)
    if (cgv > 0L) stampResidual(
      Pq.codebooks(residualFrame(emb, idCol, embCol,
        VersionedScan.read(spark, ivfT, cgv)), idCol, "__resid", m, k),
      cgv, Versioned.manifestFingerprint(spark, ivfT, cgv))
    else Pq.codebooks(emb, idCol, embCol, m, k)
  }

  /** x − centroid(assigned list): the FAISS IVF-PQ residual. Assignment
    * is recomputed against the FROZEN committed centroids (the same
    * deterministic rule `ensureIvf` stores), so encode-time residuals
    * agree with the assignments table whenever both derive from the
    * same centroids generation — which the codebook stamp enforces.
    * Returns (idCol, __resid). */
  private def residualFrame(rows: DataFrame, idCol: String, embCol: String,
      cents: DataFrame): DataFrame =
    rows.select(col(idCol), col(embCol))
      .join(Ivf.assign(rows, idCol, embCol, cents), idCol)
      .join(broadcast(cents), "cid")
      .select(col(idCol),
        zip_with(col(embCol).cast("array<double>"), col("centroid"),
          (a, b) => a - b).as("__resid"))

  /** Stamp residual codebooks with the centroids GENERATION they were
    * trained against (version AND manifest fingerprint — drop-root
    * rebuilds reuse version numbers): the stamp is both the scheme
    * marker ([[Pq.isResidual]]) and the coherence bond every serve and
    * delta-encode checks — residual codes are only meaningful next to
    * the exact coarse centroids their residuals subtract. */
  private def stampResidual(books: DataFrame, cgv: Long,
      cgf: Long): DataFrame =
    books.withColumn("enc", lit("residual"))
      .withColumn("cgv", lit(cgv)).withColumn("cgf", lit(cgf))

  /** The (version, fingerprint) a residual codebook is stamped with,
    * None for a raw (pre-residual) codebook. */
  private def residualStamp(books: DataFrame): Option[(Long, Long)] =
    if (!Pq.isResidual(books)) None
    else {
      val r = books.select(col("cgv"), col("cgf")).head()
      Some((r.getLong(0), r.getLong(1)))
    }

  /** [[residualStamp]] memoized per (books table, version, manifest
    * fingerprint): the stamp is immutable per generation, and without
    * the memo every pq SERVE would pay a driver-side collect job over
    * the codebooks just to re-read two constants — the fingerprint in
    * the key is the usual reused-version-number guard. */
  private val residualStampMemo =
    new LruMap[(String, Long, Long), Option[(Long, Long)]](256)
  private def residualStampCached(spark: SparkSession, bT: String,
      bv: Long, books: => DataFrame): Option[(Long, Long)] = {
    val key = (bT, bv, Versioned.manifestFingerprint(spark, bT, bv))
    residualStampMemo.get(key).getOrElse {
      val v = residualStamp(books)
      residualStampMemo.put(key, v)
      v
    }
  }

  /** Refuse to serve (or delta-encode) residual codes against a
    * DIFFERENT centroids generation than they were trained for — the
    * torn-chain state an IVF retrain that crashed before its PQ heal
    * leaves behind. Raw codebooks pass untouched (their codes don't
    * reference the coarse centroids). Loud, never silently wrong. */
  private def requireCoherentStamp(spark: SparkSession, root: String,
      stamp: Option[(Long, Long)], centsVersion: Long,
      what: String): Unit =
    stamp.foreach { case (cgv, cgf) =>
      require(cgv == centsVersion &&
        cgf == Versioned.manifestFingerprint(spark,
          ivfCentroidsTable(root), centsVersion),
        s"$what: residual-encoded PQ codes at $root were trained " +
          s"against centroids generation v$cgv but this call resolves " +
          s"v$centsVersion — an IVF retrain landed without its PQ " +
          "re-train (torn chain); run retrainPq (or retrainIvf again, " +
          "which heals the chain) to restore coherence — a chain torn " +
          "during ann_ensure's bootstrap (codebooks committed, no " +
          "codes commit yet) also heals by re-running ann_ensure")
    }

  private def requireResidualCoherent(spark: SparkSession, root: String,
      books: DataFrame, centsVersion: Long, what: String): Unit =
    requireCoherentStamp(spark, root, residualStamp(books), centsVersion,
      what)

  /** Before a residual encode READS the stamped centroids generation,
    * prove v`cgv`'s manifest still hashes to the stamped fingerprint —
    * a drop-root rebuild REUSES version numbers, and re-encoding
    * residuals against an imposter generation would land incoherent
    * codes with no error anywhere ([[stampedDeltaSides]] and
    * [[requireCoherentStamp]] guard the same hazard on their paths;
    * this is the encode-side twin). Loud, never silently wrong. */
  private def requireStampedGeneration(spark: SparkSession, root: String,
      cgv: Long, cgf: Long, what: String): Unit =
    // a MISSING stamped manifest (the generation's version file is
    // gone — a drop-root rebuild with fewer commits) is the same
    // imposter state as a fingerprint mismatch: the named diagnostic,
    // never a raw FileNotFoundException. ONLY that case maps here — a
    // transient storage error must propagate, not masquerade as
    // version-number reuse and send the operator to a rebuild
    require((try Versioned.manifestFingerprint(spark,
        ivfCentroidsTable(root), cgv) == cgf
      catch { case _: java.io.FileNotFoundException => false }),
      s"$what: residual PQ codebooks at $root are stamped to centroids " +
        s"generation v$cgv, but that version's manifest no longer " +
        "hashes to the stamped fingerprint — the version number was " +
        "reused by a drop-root rebuild, so the stamped generation no " +
        "longer exists; run retrainPq (or retrainIvf) to re-train " +
        "against the current generation")

  /** Ensure the persisted PQ index at `root` covers exactly the rows of
    * `emb`: first call trains the per-subspace codebooks and encodes
    * the corpus; later calls encode the NEW/CHANGED/REMOVED delta
    * against the FROZEN committed codebooks — with the subspace count
    * DERIVED from the codebooks, so `m` cannot drift from the
    * training-time value.
    *
    * ENCODING SCHEME: when the root already carries committed IVF
    * centroids (the order serving requires anyway — the pq tier routes
    * through the IVF lists), a FIRST build trains RESIDUAL codebooks
    * over x − centroid(assigned list), the FAISS IVF-PQ recipe:
    * residuals concentrate the quantization range, the standard recall
    * lever (the r13 2.2 M rehearsal read raw ivfpq recall@10 at 0.338
    * vs 0.650 for the IVF routing above it). Without centroids the
    * build stays raw. The scheme is stamped ON the codebooks
    * ([[stampResidual]]), so existing raw indexes keep serving raw
    * forever, every later delta encodes under the STORED scheme, and a
    * residual delta additionally requires the stamped centroids
    * generation to still be current — a torn retrain chain fails
    * loudly instead of landing incoherent codes.
    * Returns (codebooksVersion, codesVersion). */
  def ensurePq(spark: SparkSession, root: String, emb: DataFrame,
      idCol: String, embCol: String, m: Int, k: Int): (Long, Long) = {
    val (bT, cT) = (pqCodebooksTable(root), pqCodesTable(root))
    val ivfT = ivfCentroidsTable(root)
    val corpus = emb.select(col(idCol), col(embCol))
      .withColumn("vh", xxhash64(col(embCol)))
    // encode under the stored scheme: residual books subtract the
    // centroids generation they are STAMPED with (coherence with the
    // CURRENT generation is checked before any commit lands)
    def encodeRows(rows: DataFrame, books: DataFrame, mUse: Int) = {
      val coded = residualStamp(books) match {
        case Some((cgv, cgf)) =>
          requireStampedGeneration(spark, root, cgv, cgf, "ensurePq")
          Pq.encode(residualFrame(rows, idCol, embCol,
              VersionedScan.read(spark, ivfT, cgv)), idCol, "__resid",
            books, mUse)
        case None => Pq.encode(rows, idCol, embCol, books, mUse)
      }
      coded.join(rows.select(col(idCol), col("vh")), Seq(idCol))
    }
    // same bootstrap-repair shape as ensureIvf: branch on the LAST
    // artifact so a crash between the two commits is recoverable
    if (Versioned.latestVersion(spark, cT) == 0L) {
      val bv0 = Versioned.latestVersion(spark, bT)
      if (bv0 == 0L) {
        Versioned.commit(spark, bT,
          trainBooks(spark, root, emb, idCol, embCol, m, k),
          Some("sub"), files = 1)
      } else {
        // BOOTSTRAP REPAIR of a torn residual chain: the codebooks
        // commit landed but the codes commit never did, and the
        // centroids generation moved meanwhile (an IVF retrain, or a
        // drop-root rebuild reusing the stamped version number). No
        // codes depend on the stranded books, so re-running ann_ensure
        // COMPLETES the bootstrap — re-train at the stored shape
        // against the CURRENT generation (CAS on the stranded slot)
        // instead of refusing with a remedy that cannot run
        val books0 = VersionedScan.read(spark, bT, bv0)
        residualStamp(books0).foreach { case (cgv0, cgf0) =>
          val cvNow = Versioned.latestVersion(spark, ivfT)
          if (cgv0 != cvNow || cgf0 !=
              Versioned.manifestFingerprint(spark, ivfT, cvNow)) {
            val (m0, k0) = codebookShape(books0)
            Versioned.commit(spark, bT,
              trainBooks(spark, root, emb, idCol, embCol, m0, k0),
              Some("sub"), files = 1, op = "RETRAIN",
              txn = Some(s"pq-bootstrap-repair-from$bv0"),
              expected = Some(bv0))
          }
        }
      }
      val books = VersionedScan.read(spark, bT)
      requireResidualCoherent(spark, root, books,
        Versioned.latestVersion(spark, ivfT), "ensurePq")
      // trainedM, not bare max(sub)+1: books trained THIS call are
      // uniform by construction, but a stranded RAW legacy book (torn
      // pre-r15 bootstrap, no residual stamp to trigger the repair
      // above) could be ragged — refuse with the retrain remedy
      // instead of encoding garbage codes (the retrainPq precedent)
      Versioned.commit(spark, cT,
        encodeRows(corpus, books, trainedM(spark, root, books)),
        Some(idCol), files = 4)
    } else {
      // same version pinning as ensureIvf; the stamp read rides the
      // per-generation memo — the zero-rebuild steady state (the s16/
      // s20 bench shape re-ensures every rep) must not pay a driver
      // collect just to re-read two immutable constants
      val cv = Versioned.latestVersion(spark, cT)
      val books = VersionedScan.read(spark, bT)
      requireCoherentStamp(spark, root,
        residualStampCached(spark, bT,
          Versioned.latestVersion(spark, bT), books),
        Versioned.latestVersion(spark, ivfT), "ensurePq")
      val codes = VersionedScan.read(spark, cT, cv)
      val mStored = trainedM(spark, root, books)
      val hasVh = codes.columns.contains("vh")
      val indexed =
        if (hasVh) codes.select(col(idCol), col("vh")).distinct()
        else codes.select(col(idCol)).distinct()
      landDelta(spark, cT, corpus, indexed, idCol, hasVh,
        encodeRows(_, books, mStored))
    }
    (Versioned.latestVersion(spark, bT), Versioned.latestVersion(spark, cT))
  }

  /** Load the committed PQ index: (codebooks, codes). */
  def loadPq(spark: SparkSession, root: String): (DataFrame, DataFrame) =
    (VersionedScan.read(spark, pqCodebooksTable(root)),
      VersionedScan.read(spark, pqCodesTable(root)))

  /** The pin-resolved PQ serving artifacts (codebooks, codes, trained
    * m) behind the residual coherence gate every pq serve rides: residual
    * codes stamped to a centroids generation other than the one the pin
    * resolves (a retrained-but-unhealed chain, or a historical instant
    * inside one) refuse loudly instead of ranking through the wrong
    * coarse space. Raw indexes pass untouched. The subspace count is the
    * TRAINED one — codes are only comparable under it. */
  private def pqArtifacts(spark: SparkSession, root: String,
      pin: AnnPin): (DataFrame, DataFrame, Int) = {
    val bT = pqCodebooksTable(root)
    val bv = versionAt(spark, bT, pin)
    val books = VersionedScan.read(spark, bT, bv)
    val codes = readAt(spark, pqCodesTable(root), pin)
    requireCoherentStamp(spark, root,
      residualStampCached(spark, bT, bv, books),
      versionAt(spark, ivfCentroidsTable(root), pin), "pq serving")
    (books, codes, trainedM(spark, root, books, bv))
  }

  def nswEdgesTable(root: String): String = s"$root/nsw_edges"
  def nswLayoutTable(root: String): String = s"$root/nsw_layout"

  /** Build (or refresh) the DERIVED shard-clustered serving layout for
    * the committed HNSW index — [[optimizeIvfServing]]'s graph twin:
    * corpus rows keyed by `pmod(id, shards)`, committed CLUSTERED BY
    * shard with per-file shard stats ([[nswLayout]]). What it buys is
    * the PARTIAL-MISS serve: a warm session that lost one shard (a
    * SoftReference shed under memory pressure, an executor that never
    * built it) re-reads ONLY that shard's files instead of paying the
    * full corpus+edges cogroup — at 100 TB the difference between a
    * shard-sized read and a corpus-sized one. An up-to-date layout
    * returns its version without committing; a stale one refreshes
    * O(delta) ([[refreshLayout]]) — only the shards whose membership
    * changed rewrite. */
  def optimizeNswServing(spark: SparkSession, root: String,
      corpusTable: String, idCol: String, embCol: String,
      force: Boolean = false): Long = {
    val eT = nswEdgesTable(root)
    val ev = Versioned.latestVersion(spark, eT)
    require(ev > 0, s"no committed HNSW index at $root — ensure first")
    val gshards = storedNswParams(spark, eT, ev,
      VersionedScan.read(spark, eT, ev)).map(_._3).getOrElse(
      throw new IllegalStateException(
        s"index at $root predates build-parameter rows; re-ensure it " +
          "once before optimizing serving"))
    val cv = Versioned.latestVersion(spark, corpusTable)
    require(cv > 0, s"optimizeNswServing: $corpusTable has no commits")
    refreshLayout(spark, nswLayout(spark, root, corpusTable, cv,
      Versioned.manifestFingerprint(spark, corpusTable, cv), gshards),
      idCol, embCol, force)
  }

  /** nsw_layout freshness for `ann_stats` — [[listsFreshness]]'s HNSW
    * twin: 1 = partial-miss serving is file-pruned, 0 = stale or no
    * layout (serving still correct, full cogroup on any miss). */
  def nswLayoutFreshness(spark: SparkSession, root: String,
      corpusTable: String): Map[String, Long] = {
    val eT = nswEdgesTable(root)
    val ev = Versioned.latestVersion(spark, eT)
    val cv = Versioned.latestVersion(spark, corpusTable)
    val fresh = ev > 0L && cv > 0L &&
      Versioned.latestVersion(spark, nswLayoutTable(root)) > 0L &&
      storedNswParams(spark, eT, ev, VersionedScan.read(spark, eT, ev))
        .exists(p => freshLayout(spark, nswLayout(spark, root, corpusTable,
          cv, Versioned.manifestFingerprint(spark, corpusTable, cv), p._3),
          AnnPin.Latest).isDefined)
    Map("nsw_layout_fresh" -> (if (fresh) 1L else 0L))
  }

  /** The NSW vector-hash column: levels/graph walk on FLOAT vectors
    * (cogroupShards casts), so the recorded hash is over the same cast
    * value everywhere. */
  private def nswVh(embCol: String) =
    xxhash64(col(embCol).cast("array<float>"))

  /** Build-parameter row for the committed edge table: one row with
    * `layer = -2` under the out-of-band shard -1 records (m, ef,
    * shards) in (src, rank, dst) — the committed graph's structure
    * parameters, which every resume/search must use regardless of what
    * a caller passes (a graph resumed under a different m/ef/shard
    * count is a silent hybrid matching no deterministic build). */
  private def paramsRow(spark: SparkSession, m: Int, ef: Int,
      shards: Int): DataFrame = {
    import spark.implicits._
    Seq((-1L, m.toLong, -2, ef, shards.toLong))
      .toDF("shard", "src", "layer", "rank", "dst")
  }

  /** Tiny synchronized LRU map — the bound every serve-side memo
    * shares. Exceeding `cap` evicts the least-recently-USED entries
    * only (reads count as use), so a many-index serving session
    * crossing the bound sheds the coldest indexes' state instead of
    * dumping every live one's (the old `size > cap → clear()` cliff:
    * bounded and safe, but one index too many silently re-cooled
    * EVERY warm serve in the session). Locking is per-operation and
    * never held across a computation — callers compute outside and
    * `put` (a racing twin computes the same value; last put wins). */
  private[vector] final class LruMap[K, V](cap: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size > cap
    }
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
    def removeIf(p: K => Boolean): Unit = m.synchronized {
      m.keySet.removeIf(k => p(k)); ()
    }
    def keys: Seq[K] = m.synchronized {
      import scala.jdk.CollectionConverters._
      // materialize under the lock — accessOrder iteration is not
      // thread-safe outside it
      m.keySet.asScala.toVector
    }
    def size: Int = m.synchronized(m.size)
  }

  /** (m, ef, shards) recorded by the layer = -2 row, memoized per
    * (table, version, manifest FINGERPRINT) — without the memo every
    * search would pay an O(edges) scan just to fetch three ints
    * (`layer` carries no file stats to prune on). The manifest
    * content fingerprint is part of the key because the documented
    * retrain path (drop the root, rebuild) REUSES version numbers: a
    * (table, version)-only memo — or even one keyed on the commit
    * timestamp, which a rebuild can repeat within the same
    * millisecond — would serve the dead generation's params to the
    * rebuilt index: wrong require() refusals at ensure, silently
    * wrong graph reconstruction at search. LRU-bounded at 256
    * (re-collecting is cheap, staleness is not). */
  private val nswParams =
    new LruMap[(String, Long, Long), Option[(Int, Int, Int)]](256)
  /** ((m, ef, shards) if recorded, the manifest fingerprint). The
    * fingerprint rides along so the serving hot path reads the
    * manifest ONCE per call — recomputing it for the graph-cache key
    * would be a second full manifest read per search. */
  private def storedNswParamsFp(spark: SparkSession, eT: String,
      version: Long, edges: DataFrame): (Option[(Int, Int, Int)], Long) = {
    val fp = Versioned.manifestFingerprint(spark, eT, version)
    val key = (eT, version, fp)
    (nswParams.get(key).getOrElse {
      // computed OUTSIDE the map lock (it runs a Spark job); a racing
      // twin recomputes the same immutable value — last put wins
      val v = edges.filter(col("layer") === -2)
        .select(col("src"), col("rank"), col("dst")).collect().headOption
        .map(r => (r.getLong(0).toInt, r.getInt(1), r.getLong(2).toInt))
      nswParams.put(key, v)
      v
    }, fp)
  }
  private def storedNswParams(spark: SparkSession, eT: String,
      version: Long, edges: DataFrame): Option[(Int, Int, Int)] =
    storedNswParamsFp(spark, eT, version, edges)._1

  /** Vectors-per-shard target for the auto-sized shard count: a shard
    * is materialized in ONE task's memory at build and serve
    * (cogroupShards's `vit.toArray`), so the shard count MUST grow
    * with the corpus — this is the documented sizing rule. 2^18
    * vectors ≈ 256k rows is 100–400 MB of float vectors at typical
    * embedding widths plus O(m) adjacency ints per node: comfortably
    * one task's working set. A grown corpus migrates with
    * [[reshardNsw]] (one commit), never by marching toward task OOM
    * under a build-frozen shard count. */
  val nswShardTarget: Long = 1L << 18

  /** Corpus-derived shard count: ceil(n / [[nswShardTarget]]),
    * floor 4 (small corpora keep the historical default — and enough
    * shards for the scatter-gather to parallelize at all). Counts
    * ABOVE the floor round up to the next PRIME: shard membership is
    * `pmod(id, shards)`, and real id spaces carry strides (sharded
    * ticket servers minting multiples of 10, all-even ids, ...) that
    * a composite count folds onto few residues — a stride-10 corpus
    * at 10 shards would put EVERY row in shard 0, exactly the
    * one-task-holds-the-corpus OOM the sizing exists to prevent. A
    * prime count spreads every stride that is not a multiple of the
    * prime itself; for an id space engineered around that prime, pass
    * an explicit count. The floor stays literal 4: at ≤4·2^18 rows
    * the whole corpus fits a few tasks regardless of residue
    * clustering, and the build-per-run tier ([[NswAnn.search]])
    * defaults to the same 4, keeping the persisted↔per-run equality
    * pins aligned. */
  def nswAutoShards(n: Long): Int = {
    val raw = math.max(4L, (n + nswShardTarget - 1L) / nswShardTarget).toInt
    if (raw <= 4) raw else nextPrime(raw)
  }

  /** Smallest prime ≥ x (trial division — x is a shard count, small). */
  private[vector] def nextPrime(x: Int): Int = {
    def isPrime(v: Int): Boolean =
      v >= 2 && (2 to math.sqrt(v.toDouble).toInt).forall(v % _ != 0)
    Iterator.from(math.max(x, 2)).find(isPrime).get
  }

  /** Ensure the persisted HNSW index at `root` covers exactly the rows
    * of `emb`. The per-shard graphs serialize as an EDGE table
    * `(shard, src, layer, rank, dst)` — `rank` preserves adjacency
    * LIST ORDER so a reconstructed graph walks identically to the
    * built one; a `layer = -1` marker row per node records membership
    * with the vector's hash in `dst` (a single-node shard has no
    * edges), and the `layer = -2` row pins the build parameters —
    * calling ensure with different (m, ef, shards) is REFUSED (drop
    * the root for an explicit retrain, or [[reshardNsw]] to migrate
    * the shard count as one commit). `shards = -1` (the default)
    * means: the stored shard count for an existing index, else
    * [[nswAutoShards]] of the corpus size — the scale-safe sizing an
    * explicit caller value overrides. A refresh RESUMES each shard's
    * insertion-ordered construction from the stored adjacency when
    * every new id sorts after the shard's indexed ids AND every
    * indexed vector is unchanged (the marker hashes prove it);
    * interleaved, updated, or deleted ids rebuild only their own
    * shard. Either way the committed graph is bit-identical to a
    * from-scratch build over the current corpus (insertion order and
    * id-derived levels are deterministic — pinned in AnnIndexSpec),
    * and the new edge set lands as one copy-on-write commit: graph
    * edges mutate under insertion (trim touches old nodes), so the
    * refresh is an index-sized rewrite, never a corpus rescan.
    * Returns the edge-table version; an up-to-date index mints
    * nothing. */
  def ensureNsw(spark: SparkSession, root: String, emb: DataFrame,
      idCol: String, embCol: String, m: Int = 8, ef: Int = 32,
      shards: Int = -1): Long = {
    val eT = nswEdgesTable(root)
    // optimistic loop: the rebuild lands with an expected-slot CAS
    // against the OBSERVED version, so a racing ensure cannot clobber
    // a fresher committed graph with one built from an older corpus
    // snapshot (last-writer-wins would); the loser re-observes — and
    // usually finds the twin's graph already current
    while (true) {
      val ev = Versioned.latestVersion(spark, eT)
      val prior =
        if (ev == 0L) None
        else Some(VersionedScan.read(spark, eT, ev))
      // shard count for THIS pass: stored params pin it for an
      // existing index (an explicit caller value must match — drift
      // is a retrain); a first build derives it from the corpus size
      // unless the caller pinned one. Stored params resolve ONCE (one
      // manifest read), shared by the derivation and the drift check.
      val stored = prior.flatMap(storedNswParams(spark, eT, ev, _))
      var effShards =
        if (shards > 0) shards
        else stored.map(_._3).getOrElse(nswAutoShards(emb.count()))
      stored.foreach { case (m0, ef0, s0) =>
        require(m0 == m && ef0 == ef && (shards <= 0 || s0 == shards),
          s"ann index at $root was built with (m=$m0, ef=$ef0, " +
            s"shards=$s0); got (m=$m, ef=$ef, shards=$shards) — " +
            "changing build parameters is a retrain: drop the index " +
            "root (or reshardNsw to migrate the shard count)")
        effShards = s0
      }
      prior.foreach { edges =>
        // one full-outer counting pass over (id, vh) pairs: any NEW,
        // CHANGED, or REMOVED row makes the prefix stale
        val markers = edges.filter(col("layer") === -1)
          .select(col("src").as(idCol), col("dst").as("__vh0"),
            lit(1).as("__ix"))
        val cur = emb.select(col(idCol).cast("long").as(idCol),
          nswVh(embCol).as("vh")).withColumn("__c", lit(1))
        val stale = cur.join(markers, Seq(idCol), "full_outer")
          .agg(coalesce(sum(when(col("__c").isNull || col("__ix").isNull ||
            col("__vh0") =!= col("vh"), 1L).otherwise(0L)), lit(0L)))
          .head().getLong(0)
        if (stale == 0L)
          return ev // the version this check VERIFIED covers `emb`
      }
      try {
        // the rebuild makes every cached graph of this table dead (new
        // version + fingerprint) — free them BEFORE the build job
        // needs the heap; if the CAS below loses, the only cost is a
        // re-reconstruction on the next serve of the surviving
        // generation
        invalidateServeCache(eT)
        return Versioned.commit(spark, eT,
          nswEdgeSet(emb, idCol, embCol, m, ef, effShards, prior),
          Some("src"), files = effShards,
          expected = if (ev > 0L) Some(ev) else None)
      } catch {
        case _: java.util.ConcurrentModificationException => () // raced
      }
    }
    -1L // unreachable: the loop exits only through return
  }

  /** Migrate the committed HNSW index to `newShards` shards as ONE
    * commit — the operational alternative to drop-root retrain for a
    * corpus that outgrew its build-time shard count (each shard must
    * fit one task's memory; see [[nswShardTarget]]). Shard membership
    * is `pmod(id, shards)` and insertion order / levels derive from
    * ids alone, so the resharded edge set is BIT-IDENTICAL to a fresh
    * build of the current corpus at `newShards` (pinned in
    * AnnIndexSpec) — but the table keeps its history: time travel to
    * the pre-reshard graph still works, and the expected-slot CAS
    * makes a racing ensure lose cleanly instead of clobbering. The
    * stored (m, ef) are reused; only the shard count changes. */
  def reshardNsw(spark: SparkSession, root: String, emb: DataFrame,
      idCol: String, embCol: String, newShards: Int): Long = {
    require(newShards > 0, s"reshardNsw needs a positive shard count")
    val eT = nswEdgesTable(root)
    val ev = Versioned.latestVersion(spark, eT)
    require(ev > 0L, s"no committed index at $root to reshard")
    val edges = VersionedScan.read(spark, eT, ev)
    val (m, ef, _) = storedNswParams(spark, eT, ev, edges).getOrElse(
      throw new IllegalStateException(
        s"index at $root predates build-parameter rows; " +
          "re-ensure it once to migrate before resharding"))
    // prior edges are bucketed under the OLD shard count — useless as
    // a resume prefix under the new one; the rebuild is a full
    // per-shard construction, which is exactly what a fresh build
    // pays. What reshard SAVES vs drop-root is operational: history,
    // version lineage, and the race-safe CAS landing.
    // same eager invalidation as the ensure rebuild: the pre-reshard
    // graphs are dead the moment the commit lands, and the rebuild job
    // is exactly when the heap needs the room
    invalidateServeCache(eT)
    Versioned.commit(spark, eT,
      nswEdgeSet(emb, idCol, embCol, m, ef, newShards, None),
      Some("src"), files = newShards, expected = Some(ev))
  }

  /** Executor-resident reconstructed-graph cache for the SERVING
    * path, keyed (edge table, version, manifest fingerprint, shard,
    * shard-content fingerprint) → the reconstructed (nodes, graph).
    * The manifest fingerprint distinguishes retrain GENERATIONS of
    * the same version number (same hazard as [[storedNswParams]]);
    * the shard-content fingerprint hashes the shard's OWN (id, vh)
    * pairs as delivered by the caller's corpus frame, because the
    * served graph depends on the corpus too (an uncommitted tail
    * resumes in memory) — index identity alone would serve a graph
    * built over a different corpus view. Values are SoftReferences:
    * the cache sheds shard-sized arrays under memory pressure instead
    * of pinning them, and the map itself is LRU-bounded at 256 keys —
    * a many-index session crossing the bound evicts the coldest
    * shards only, never a live index's warm graphs. On a cluster each
    * executor fills its own cache lazily — the standard shard-serving
    * residency model. */
  private val shardGraphs = new LruMap[
    (String, Long, Long, Long, Long),
    java.lang.ref.SoftReference[
      (Array[(Long, Array[Float], Long)], NswAnn.HnswGraph)]](256)

  /** Serving-path shard-graph reconstruction count — the observable
    * contract AnnIndexSpec pins: a batch search reconstructs each
    * shard at most ONCE for the whole probe set, and a repeat search
    * at the same (index, corpus) state reconstructs NOTHING (cache
    * hit). Observable in local mode because executors share the JVM;
    * on a cluster each executor keeps its own cache and counter. */
  private[vector] val serveBuilds =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Cache-hit twin of [[serveBuilds]]: shard graphs served from
    * [[shardGraphs]] without reconstruction. builds vs hits is the
    * warm-session signal an operator reads through
    * `CALL graft.system.ann_stats(...)` — the difference between a
    * sub-second serve and a corpus cogroup. */
  private[vector] val serveHits =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Cluster-true twins of the JVM-local counters: LongAccumulators
    * registered once per SparkContext and captured into every serve
    * closure, so builds/hits are aggregated back to the DRIVER from
    * whichever executor the task ran on — `ann_stats` reads these and
    * stays truthful on a real cluster, where the statics above only
    * describe the serving JVM they live in (the executor-side cache
    * behavior itself is unchanged). Observability counters: a retried
    * task may re-add (accumulator updates in transformations are
    * at-least-once), which can only over-report a build/hit, never
    * misreport residency. */
  private val serveAccums = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext,
    (org.apache.spark.util.LongAccumulator,
      org.apache.spark.util.LongAccumulator)]()
  private def accumsFor(sc: org.apache.spark.SparkContext)
      : (org.apache.spark.util.LongAccumulator,
         org.apache.spark.util.LongAccumulator) = {
    // a restarted session must not pin its dead predecessor (and the
    // predecessor's accumulators) through the map key forever
    serveAccums.keySet.removeIf(_.isStopped)
    serveAccums.computeIfAbsent(sc, c =>
      (c.longAccumulator("graft.ann.serve_builds"),
        c.longAccumulator("graft.ann.serve_cache_hits")))
  }

  /** The spill-fraction curve — `ann_spill_preview`'s engine, the
    * PICK step for the spill knob ([[tuneWidth]]'s role for the width
    * knob): what fraction of the corpus would multi-assign at each
    * eps on the ladder, measured against the root's OWN committed
    * centroids BEFORE paying a build. ONE pass: the two-nearest pairs
    * ([[graft.vector.Ivf.twoNearest]] — the exact first stage
    * assignSpill runs) reduce to one row of conditional counts, one
    * per rung, through the SAME band predicate the build applies —
    * the preview counts exactly what `ann_ensure(spill => eps)` would
    * land, at assignment-pass cost and zero commits. The fraction IS
    * the knob's price (index and scan grow by it); recall per rung
    * still needs a built root (`ann_recall`/`ann_tune`) — this tells
    * you which builds are worth paying for. */
  def spillCurve(spark: SparkSession, root: String, emb: DataFrame,
      idCol: String, embCol: String,
      epsLadder: Seq[Double]): Seq[(Double, Long, Long)] = {
    require(epsLadder.nonEmpty && epsLadder.forall(_ > 0.0),
      "spillCurve: every eps must be positive")
    val cT = ivfCentroidsTable(root)
    require(Versioned.latestVersion(spark, cT) > 0,
      s"ann_spill_preview: no committed IVF centroids at $root — the " +
        "preview measures the root's own quantizer; CALL " +
        "graft.system.ann_ensure(..., kind => 'ivf') first")
    val cents = VersionedScan.read(spark, cT)
    val pairs = Ivf.twoNearest(emb, idCol, embCol, cents)
      .select(col("m2.d1").as("d1"), col("m2.d2").as("d2"))
    val aggs = count(lit(1)).as("n") +:
      epsLadder.zipWithIndex.map { case (e, i) =>
        sum(when(Ivf.spillBand(col("d1"), col("d2"), e), 1L)
          .otherwise(0L)).as(s"s$i")
      }
    val row = pairs.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    epsLadder.zipWithIndex.map { case (e, i) =>
      (e, row.getLong(i + 1), n)
    }
  }

  /** `ann_stats`'s spill surface: the frozen multi-assignment eps of
    * the root's IVF assignments as eps x 1e6 (the recall_e6
    * convention) — 0 for a single-assignment root, -1 when no
    * assignments are committed. Metadata + one memoized 1-row read on
    * spilled roots. */
  def spillEpsE6(spark: SparkSession, root: String): Long = {
    val aT = ivfAssignmentsTable(root)
    val av = Versioned.latestVersion(spark, aT)
    if (av == 0L) -1L
    else {
      val asg = VersionedScan.read(spark, aT, av)
      if (!asg.columns.contains("cid2")) 0L
      else math.round(storedSpillEps(spark, root, av, asg) * 1e6)
    }
  }

  /** Serving-cache observability snapshot for the index at `root` —
    * the SQL-surfaced view behind `CALL graft.system.ann_stats`:
    * cumulative reconstruction/hit counters (JVM-wide — the serve work
    * happens wherever the executor is) plus the cache residency for
    * THIS index's edge table (every committed generation/version's
    * entries count; `live` excludes entries the JVM already shed under
    * memory pressure — values are SoftReferences). Local-mode
    * semantics: executors share this JVM, so the numbers describe the
    * whole session; on a cluster each executor keeps its own cache and
    * counters and this reads the DRIVER's (typically zero builds) —
    * per-executor aggregation would ride metrics, not this call. */
  def serveStats(spark: SparkSession, root: String): Map[String, Long] = {
    val eT = nswEdgesTable(root)
    val keys = shardGraphs.keys.filter(_._1 == eT)
    val live = keys.count(k =>
      shardGraphs.get(k).exists(_.get() != null))
    val (ba, ha) = accumsFor(spark.sparkContext)
    Map(
      "serve_builds_total" -> ba.value.longValue,
      "serve_cache_hits_total" -> ha.value.longValue,
      "cached_shard_graphs" -> keys.size.toLong,
      "cached_shard_graphs_live" -> live.toLong)
  }

  /** Drop every cached shard graph for `eT` — called after a commit
    * that replaces the table's edge set (ensure rebuild, reshard):
    * the old generation can never be served again (the cache key's
    * version + manifest fingerprint changed), so holding its graphs
    * is pure heap pressure. Relying on SoftReference clearing alone
    * is NOT enough: the 2.2M-row rehearsal OOM'd a post-reshard
    * rebuild under JDK's GCLocker-starved allocation path, which
    * throws before soft references are guaranteed cleared (PLANS
    * r12) — eager invalidation of provably-dead entries closes it. */
  private def invalidateServeCache(eT: String): Unit = {
    shardGraphs.removeIf(_._1 == eT)
  }

  /** Drop one shard's cached graphs for `eT` — the deterministic
    * stand-in for a SoftReference shed / executor loss, so specs,
    * gates and operators can exercise the partial-miss serve on
    * demand. */
  def evictShard(eT: String, shard: Long): Unit =
    shardGraphs.removeIf(kk => kk._1 == eT && kk._4 == shard)

  /** FNV-1a over an id-ascending (id, vector-hash) stream — the cheap
    * (O(n) longs, no distance math) corpus-consistency component of
    * the [[shardGraphs]] key. The ONE implementation both serve paths
    * share: the cogroup path feeds it node triples, the warm fast
    * path feeds it the light (id, vh) pass — identical folds or the
    * cache could never hit across paths. */
  private def pairsFingerprint(pairs: Iterator[(Long, Long)]): Long = {
    var h = 0xcbf29ce484222325L
    pairs.foreach { case (id, vh) =>
      h = (h ^ id) * 0x100000001b3L
      h = (h ^ vh) * 0x100000001b3L
    }
    h
  }

  private def shardFingerprint(
      nodes: Array[(Long, Array[Float], Long)]): Long =
    pairsFingerprint(nodes.iterator.map(n => (n._1, n._3)))

  /** Non-empty shard ids of a committed corpus version under a shard
    * count — memoized per (table, version, manifest fingerprint,
    * shards): the ONE id-column-only scan a corpus version ever pays
    * for committed serving (later warm serves are zero corpus I/O).
    * Bounded like the other memos. */
  private val committedShardSets =
    new LruMap[(String, Long, Long, Int), Array[Long]](256)

  /** Cache-key component for committed-corpus serving: the identity of
    * an immutable pinned snapshot — as strong as hashing every row,
    * because manifests reference immutable files. Salted so it can
    * never collide with the content-fingerprint scheme's fold. */
  private def corpusIdentityKey(table: String, cv: Long, cfp: Long,
      gshards: Int): Long =
    pairsFingerprint(Iterator(
      (0x636f6d6d69747464L ^ table.hashCode.toLong, cv),
      (cfp, gshards.toLong)))

  /** [[nswServe]] for a COMMITTED corpus (`emb` is `corpusTable` at
    * `cv`). Because the corpus is a pinned immutable snapshot,
    * consistency needs NO row hashing: the (table, version, manifest
    * fingerprint) identity keys the graph cache, so a WARM serve costs
    * zero corpus I/O — probes beam-search the resident graphs directly
    * (the 2.2M rehearsal's 16 B/row light pass drops to nothing; at
    * 100 TB the warm serve cost is independent of corpus size). A cold
    * serve pays one id-column scan (the memoized shard list) + the
    * reconstruction cogroup, exactly like the frame form. A partial
    * miss repairs from the `nsw_layout` that was fresh at `pin`. */
  private def nswCommittedServe(spark: SparkSession, root: String,
      corpusTable: String, cv: Long, emb: DataFrame, idCol: String,
      embCol: String, p: DataFrame, k: Int, ef: Option[Int],
      ev: Long, pin: AnnPin): DataFrame = {
    val eT = nswEdgesTable(root)
    val params =
      if (ev > 0) storedNswParams(spark, eT, ev,
        VersionedScan.read(spark, eT, ev))
      else None
    params match {
      case Some((_, _, gshards)) =>
        val cfp = Versioned.manifestFingerprint(spark, corpusTable, cv)
        val ssKey = (corpusTable, cv, cfp, gshards)
        val shardsOf = committedShardSets.get(ssKey).getOrElse {
          // one id-only scan, computed OUTSIDE the map lock
          val v = emb.select(pmod(col(idCol).cast("long"),
              lit(gshards.toLong)).as("s"))
            .distinct().collect().map(_.getLong(0)).sorted
          committedShardSets.put(ssKey, v)
          v
        }
        nswServe(spark, root, emb, idCol, embCol, p, k, ef, ev,
          identity = Some(corpusIdentityKey(corpusTable, cv, cfp, gshards)),
          knownShards = Some(shardsOf),
          layout = freshLayout(spark,
            nswLayout(spark, root, corpusTable, cv, cfp, gshards), pin))
      case None =>
        // legacy table (or no index yet — let the frame path produce
        // its usual diagnostics): never cached, identity buys nothing
        nswServe(spark, root, emb, idCol, embCol, p, k, ef, ev)
    }
  }

  /** Scatter-gather top-k for a probe set `p` (__pid, __probe) over the
    * committed per-shard graphs at edge-table version `ev` (a historical
    * `ev` reconstructs exactly the graph that generation built; the
    * cache keys on (version, manifest fingerprint, shard content), so
    * historical and current serves cache independently). The
    * corpus+edges cogroup runs ONCE for the whole set, each shard's
    * graph is reconstructed at most once per job — and not at all when
    * [[shardGraphs]] already holds it from a previous serve at the same
    * (index, corpus) state — and every probe beam-searches the
    * in-memory graph. Probes collect to the driver and broadcast,
    * bounded by the batch size, never by the corpus. Graph structure
    * always follows the committed parameters (a pre-params legacy table
    * falls back to the historical defaults m = 8, ef = 32, 4 shards).
    * Returns (__pid, idCol, score), top-k per probe by (score desc,
    * id). */
  private def nswServe(spark: SparkSession, root: String,
      emb: DataFrame, idCol: String, embCol: String, p: DataFrame, k: Int,
      ef: Option[Int], ev: Long,
      identity: Option[Long] = None,
      knownShards: Option[Array[Long]] = None,
      layout: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val eT = nswEdgesTable(root)
    val edges = VersionedScan.read(spark, eT, ev)
    val (params, fp) = storedNswParamsFp(spark, eT, ev, edges)
    val (gm, gef, gshards) = params.getOrElse((8, ef.getOrElse(32), 4))
    val probes = p
      .select(col("__pid"), col("__probe").cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    require(probes.nonEmpty, "AnnIndex.serve: empty probe set")
    // per-probe global top-k over the per-shard candidates — the shared
    // tail of every serve path below
    def topK(local: DataFrame): DataFrame = Pq.topPerProbe(local,
      probes.length == 1, k, desc("score"), col(idCol))
    val bc = spark.sparkContext.broadcast(probes)
    // driver-registered, task-incremented: the adds ride back with
    // task completion, so ann_stats aggregates across executors
    val (buildsAcc, hitsAcc) = accumsFor(spark.sparkContext)
    // the SEARCH beam: an EXPLICIT ef is the caller's serve-time
    // choice, floored at k only (a beam narrower than the result
    // cannot fill it) — callers trade recall for latency downward as
    // well as upward; UNSET serves at the stored construction beam, so
    // an index deliberately built with a large ef keeps its recall
    // through default-serving doors instead of silently dropping to a
    // fixed 32
    val beam = math.max(ef.getOrElse(gef), k)
    val verified = params.isDefined
    // one tiny task per entry, executor-local cache lookup; None
    // reported on ANY miss so the caller can fall back — never a
    // partial answer from a half-resident batch
    def serveFromCache(entries: Array[(Long, Long)])
        : Option[Seq[(Long, Long, Double)]] = {
      val served = spark.sparkContext
        .parallelize(entries.toSeq, entries.length)
        .map { case (shard, cfp) =>
          shardGraphs.get((eT, ev, fp, shard, cfp))
            .flatMap(r => Option(r.get)) match {
            case Some((cn, g)) =>
              serveHits.incrementAndGet()
              hitsAcc.add(1L)
              val vecs = cn.map(_._2)
              val cnt = new NswAnn.DistCounter
              Some(bc.value.iterator.flatMap { case (pid, pv) =>
                NswAnn.searchLocal(g, vecs, pv, beam, cnt)
                  .take(k).map { case (i, cos) => (pid, cn(i)._1, cos) }
              }.toVector)
            case None => None
          }
        }.collect()
      if (served.forall(_.isDefined)) Some(served.toSeq.flatMap(_.get))
      else None
    }
    def serveCogroup(embSrc: DataFrame, edgesSrc: DataFrame): DataFrame =
      cogroupShards(embSrc, idCol, embCol, edgesSrc, gshards) {
        (shard, nodes, edgeRows) =>
          val (cn, g) =
            if (!verified) {
              // a pre-params legacy table's markers carry ids, not
              // hashes — it cannot PROVE the stored adjacency matches
              // current vector values (or that gm/gef match its build),
              // so legacy searches rebuild per job and never cache; one
              // ensureNsw migrates the table and restores cached serve
              serveBuilds.incrementAndGet()
              buildsAcc.add(1L)
              (nodes, resumeShard(nodes, edgeRows, gm, gef,
                new NswAnn.DistCounter, vhMarkers = false))
            } else {
              val key = (eT, ev, fp, shard,
                identity.getOrElse(shardFingerprint(nodes)))
              val cached = shardGraphs.get(key).flatMap(r => Option(r.get))
              cached.foreach { _ =>
                serveHits.incrementAndGet()
                hitsAcc.add(1L)
              }
              cached.getOrElse {
                  serveBuilds.incrementAndGet()
                  buildsAcc.add(1L)
                  val built = (nodes, resumeShard(nodes, edgeRows, gm, gef,
                    new NswAnn.DistCounter))
                  shardGraphs.put(key,
                    new java.lang.ref.SoftReference(built))
                  built
                }
            }
          val vecs = cn.map(_._2)
          val cnt = new NswAnn.DistCounter
          bc.value.iterator.flatMap { case (pid, pv) =>
            NswAnn.searchLocal(g, vecs, pv, beam, cnt)
              .take(k).map { case (i, cos) => (pid, cn(i)._1, cos) }
          }
      }.toDF("__pid", idCol, "score")
    // the driver fast path can be disabled by conf — the multi-JVM
    // SIMULATION hook: a 100-executor cluster is exactly a session
    // where this JVM's map is empty while executor caches are warm,
    // and the spec that pins what such a session pays warm drives the
    // cogroup path below with caches intact through this flag
    val fastPathOn = spark.conf
      .get("spark.graft.ann.residencyFastPath", "true") != "false"
    if (verified && fastPathOn) {
      // WARM FAST PATH — the 2.2M-row rehearsal (PLANS r12) showed a
      // fully-cached serve still paying the full-vector cogroup just
      // to re-derive the consistency fingerprint. The vectors are only
      // needed on RECONSTRUCTION (the cached nodes carry them), so the
      // check shrinks to a light pass shuffling (id, vh, shard) —
      // ~16 bytes/row instead of the whole embedding — and when every
      // shard is resident at this exact (index generation, corpus
      // content) state the probes beam-search the cached graphs in one
      // tiny task per shard, zero vector I/O. ANY miss (first serve, a
      // SoftReference shed under memory pressure, a task landing on an
      // executor that never built the shard) falls back to the full
      // cogroup below, which rebuilds and re-caches — results are
      // identical either way (same cached nodes, same beam search;
      // the batch≡single and zero-on-repeat pins in AnnIndexSpec run
      // through this path).
      //
      // CLUSTER SCOPE — the honest cost model, stated precisely. The
      // pre-checks read the SERVING JVM's cache map, so the fast path
      // engages where that map is the real one: local mode and
      // driver-colocated serving sessions. On a multi-executor
      // cluster the driver's map is empty, the fast path self-disables
      // (the generation guard sees no keys), and a WARM serve pays:
      // the corpus+edges COGROUP SHUFFLE (for a committed corpus with
      // a fresh shard layout, a shard-pruned read; else corpus-sized
      // I/O) — but ZERO graph reconstruction: the cogroup's task-side
      // lookups hit each executor's own cache (the standard
      // shard-serving residency model; the residencyFastPath=false
      // spec pins exactly this shuffle-but-no-rebuild behavior in one
      // JVM). Closing the remaining shuffle would need placement-aware
      // cache fill (shard→executor-pinned build tasks) — deliberately
      // NOT attempted: Dataset cogroup tasks place by shuffle
      // partition, and a bolted-on preferredLocations serve layer
      // could never converge to where the builds actually cached.
      // The generation guard also spares every COLD serve the light
      // pass: no key of this (table, version, manifest) generation in
      // the map → nothing can possibly be warm.
      val anyOfGeneration = shardGraphs.keys
        .exists(kk => kk._1 == eT && kk._2 == ev && kk._3 == fp)
      // identity route (committed-corpus serving): the corpus is a
      // pinned immutable snapshot, so its (table, version, manifest
      // fingerprint) identity IS its content — no row scan needed at
      // all; the shard list arrives memoized from the wrapper
      val light: Array[(Long, Long)] = (identity, knownShards) match {
        case (Some(ik), Some(ss)) => ss.map(sh => (sh, ik))
        case _ if !anyOfGeneration => Array.empty
        case _ => emb.select(col(idCol).cast("long").as("id"),
            nswVh(embCol).as("vh"))
          .withColumn("shard", pmod(col("id"), lit(gshards.toLong)))
          .as[(Long, Long, Long)]
          .groupByKey(_._3)
          .mapGroups { (shard, it) =>
            (shard, pairsFingerprint(
              it.map(t => (t._1, t._2)).toArray.sortBy(_._1).iterator))
          }.collect()
      }
      // per-shard residency (driver pre-check; the task-side lookup
      // below is the executor-local truth): fully-resident serves skip
      // all I/O, and a PARTIAL miss with a fresh shard layout reads
      // only the missing shards' files — never all-or-nothing
      val (resident, missing) = light.partition { case (shard, cfp) =>
        shardGraphs.get((eT, ev, fp, shard, cfp)).exists(_.get() != null)
      }
      if (light.nonEmpty && missing.isEmpty) {
        serveFromCache(light) match {
          case Some(rows) => return topK(
            spark.createDataset(rows).toDF("__pid", idCol, "score"))
          case None => () // raced a SoftReference shed — full path below
        }
      } else if (resident.nonEmpty && missing.nonEmpty && layout.isDefined) {
        // PARTIAL MISS on a committed corpus with a fresh shard
        // layout: resident shards beam-search their cached graphs
        // (zero I/O), and the rebuild cogroup scans ONLY the missing
        // shards — the layout's per-file shard stats prune the rest
        // of the corpus out of the read. Rebuilt graphs re-cache
        // under the identity key, so the next serve is fully warm.
        serveFromCache(resident) match {
          case Some(cachedRows) =>
            val missSet = missing.map(_._1).toSeq
            val fetched = serveCogroup(
              layout.get.filter(col("shard").isin(missSet: _*)),
              edges.filter(col("shard").isin(missSet: _*)))
            return topK(
              spark.createDataset(cachedRows)
                .toDF("__pid", idCol, "score")
                .unionByName(fetched))
          case None => () // pre-check raced — full path below
        }
      }
    }
    topK(serveCogroup(emb, edges))
  }

  /** Full edge set for the current corpus: per shard, resume (or
    * rebuild) the graph, then serialize markers + ordered adjacency,
    * plus the one build-parameter row. */
  private def nswEdgeSet(emb: DataFrame, idCol: String, embCol: String,
      m: Int, ef: Int, shards: Int, prior: Option[DataFrame]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val priorEdges = prior.getOrElse(
      Seq.empty[(Long, Long, Int, Int, Long)]
        .toDF("shard", "src", "layer", "rank", "dst"))
    cogroupShards(emb, idCol, embCol, priorEdges, shards) {
      (shard, nodes, edgeRows) =>
        val cnt = new NswAnn.DistCounter
        val g = resumeShard(nodes, edgeRows, m, ef, cnt)
        val markers = nodes.iterator.map(n => (shard, n._1, -1, 0, n._3))
        val links = g.adj.iterator.zipWithIndex.flatMap { case (layers, i) =>
          layers.iterator.zipWithIndex.flatMap { case (ns, layer) =>
            ns.iterator.zipWithIndex.map { case (j, rank) =>
              (shard, nodes(i)._1, layer, rank, nodes(j)._1)
            }
          }
        }
        markers ++ links
    }.toDF("shard", "src", "layer", "rank", "dst")
      .unionByName(paramsRow(spark, m, ef, shards))
  }

  /** Co-partition vectors and index edges by shard and run `f` once
    * per shard with the sorted node array (id, vector, vector-hash) +
    * its edge rows. The params row's shard -1 carries no nodes and is
    * skipped. */
  private def cogroupShards[T: org.apache.spark.sql.Encoder](
      emb: DataFrame, idCol: String, embCol: String,
      edges: DataFrame, shards: Int)(
      f: (Long, Array[(Long, Array[Float], Long)],
          Array[(Long, Long, Int, Int, Long)]) => Iterator[T])
      : org.apache.spark.sql.Dataset[T] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vds = emb.select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<float>").as("v"))
      .withColumn("vh", xxhash64(col("v")))
      .withColumn("shard", pmod(col("id"), lit(shards.toLong)))
      .as[(Long, Array[Float], Long, Long)]
      .groupByKey(_._4)
    val eds = edges
      .select(col("shard").cast("long"), col("src").cast("long"),
        col("layer").cast("int"), col("rank").cast("int"),
        col("dst").cast("long"))
      .as[(Long, Long, Int, Int, Long)]
      .groupByKey(_._1)
    vds.cogroup(eds) { (shard, vit, eit) =>
      val nodes = vit.toArray.map(t => (t._1, t._2, t._3)).sortBy(_._1)
      if (nodes.isEmpty) Iterator.empty
      else f(shard, nodes, eit.toArray)
    }
  }

  /** Reconstruct a shard's graph from stored edges and CONTINUE the
    * insertion-ordered build for any ids past the indexed prefix.
    * Stored adjacency is usable as a resume prefix only when the
    * indexed ids are EXACTLY the ascending-id prefix of the current
    * shard contents AND every indexed vector still hashes to what the
    * marker recorded (an UPDATEd embedding invalidates the graph built
    * over the old value); otherwise (interleaved inserts, foreign or
    * deleted rows, changed vectors, a pre-vh legacy index whose
    * markers carry ids) the shard rebuilds from scratch — both paths
    * land on the same graph a full build produces. */
  private def resumeShard(nodes: Array[(Long, Array[Float], Long)],
      edgeRows: Array[(Long, Long, Int, Int, Long)], m: Int, ef: Int,
      cnt: NswAnn.DistCounter, vhMarkers: Boolean = true)
      : NswAnn.HnswGraph = {
    val ids = nodes.map(_._1)
    val idx = ids.zipWithIndex.toMap
    val oldVh = edgeRows.iterator.filter(_._3 == -1)
      .map(e => e._2 -> e._5).toMap
    val p = ids.segmentLength(oldVh.contains, 0)
    // vhMarkers=false (pre-params legacy markers carry ids): the
    // prefix is NEVER usable — there is no proof the stored adjacency
    // was built over the current vector values or these (m, ef)
    val prefixUsable = vhMarkers && oldVh.nonEmpty && p == oldVh.size &&
      oldVh.keysIterator.forall(idx.contains) &&
      (0 until p).forall(i => oldVh(ids(i)) == nodes(i)._3)
    val prefix =
      if (!prefixUsable) None
      else {
        val adj = Array.tabulate(p)(i =>
          Array.fill(NswAnn.levelOf(ids(i), m) + 1)(
            scala.collection.mutable.ArrayBuffer.empty[Int]))
        edgeRows.filter(e => e._3 >= 0)
          .sortBy(e => (e._2, e._3, e._4))
          .foreach { case (_, src, layer, _, dst) =>
            for (si <- idx.get(src); di <- idx.get(dst))
              if (si < p && layer < adj(si).length) adj(si)(layer) += di
          }
        Some(adj.map(_.map(_.toArray)))
      }
    NswAnn.build(ids, nodes.map(_._2), m, ef, cnt, prefix)
  }

  /** The committed pq serve (`emb` is the pinned corpus snapshot):
    * rank through the given artifacts, COLLECT the per-probe pool
    * ranking (≤ probes × pool rows — the ADC scan over the slim codes
    * table is the tier's designed cost, the collect is bounded by the
    * serving batch, never the corpus), then fetch the full-precision
    * rows with ONE literal id-IN scan that manifest-prunes to the files
    * actually holding pool rows (the corpus is id-clustered by its
    * commit key) — the in-plan form's `emb ⋈ broadcast(pooled)` reads
    * every corpus file for the same rows. Results are exactly
    * [[Pq.searchIvfPqBatch]]'s (same ranking, same ties). `p` is
    * (__pid, __probe); returns (__pid, idCol, score). */
  private def ivfPqCommittedServe(emb: DataFrame, idCol: String,
      embCol: String, p: DataFrame, single: Boolean, cents: DataFrame,
      asg: DataFrame, books: DataFrame, codes: DataFrame, m: Int, k: Int,
      nProbe: Int, pool: Int, pqLists: Option[DataFrame],
      allowed: Option[DataFrame]): DataFrame = {
    import graft.functions.vec_cosine_sim
    val spark = p.sparkSession
    // with a fresh cid-clustered layout the routing pairs collect too
    // (probes × nProbe — serving-bounded) so the ADC scan carries
    // literal cid predicates and manifest-prunes to the probed lists'
    // files; else the join form computes identical candidates in-plan
    // a filter applies BEFORE the pool cut (post-pool filtering would
    // under-fill k — the FilteredAnnSpec anti-pattern): the restricted
    // candidate set rides the same pruned/join ADC either way
    val pooled = pqLists match {
      case Some(pl) =>
        val listsDf = Pq.probeLists(cents, p, nProbe, single)
        val pairRows = listsDf.collect()
        val chosenCids = pairRows.map(_.getLong(1)).distinct.toSeq
        val pairsLists = spark.createDataFrame(
          java.util.Arrays.asList(pairRows: _*), listsDf.schema)
        Pq.adcPool(
          restrict(pl.filter(col("cid").isin(chosenCids: _*)), idCol,
            allowed),
          broadcast(pairsLists), cents, books, idCol, p, m, pool, single)
      case None =>
        Pq.pooledRanking(asg, cents,
          restrict(codes, idCol, allowed), books, idCol,
          p, m, nProbe, pool, single)
    }
    // the per-probe pool ranking COLLECTS — bounded by probes × pool,
    // the same serving-bounded action the single-probe form uses — so
    // the fetch below carries literal id predicates the manifest can
    // prune on; ids keep the codes column's own type (= the corpus
    // id type they were encoded from)
    val sel = pooled.select(col("__pid"), col(idCol))
    val pairs = sel.collect()
    val ids = pairs.map(_.get(1)).distinct.toSeq
    val pairsDf = spark.createDataFrame(
      java.util.Arrays.asList(pairs: _*), sel.schema)
    Pq.topPerProbe(
      emb.filter(if (ids.isEmpty) lit(false) else col(idCol).isin(ids: _*))
        .join(broadcast(pairsDf), idCol)
        .join(broadcast(p), "__pid")
        .select(col("__pid"), col(idCol),
          vec_cosine_sim(col(embCol), col("__probe")).as("score")),
      single, k, desc("score"), col(idCol))
  }
}
