package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.vec_cosine_sim

/** Product quantization (PQ): split the embedding into `m` contiguous
  * subspaces, learn a small per-subspace codebook, and store each
  * vector as `m` small codes — the classic memory tier below scalar
  * quantization (s05's int8 is 4× smaller than float32; PQ at m=8,
  * k=16 codes a 64-dim vector in 8 NIBBLES of payload, 32× below the
  * stored doubles). Search is asymmetric distance computation (ADC):
  * the probe is NOT quantized — per subspace, its exact L2² to each of
  * the k codebook centroids lands in an m×k distance table, and a
  * stored vector's approximate distance is m table lookups summed.
  * Composed with IVF routing ([[Ivf]]) this is the FAISS IVF-PQ shape,
  * the layout billion-scale indexes actually ship.
  *
  * Covers the vector-store scan behind the reference's retriever
  * (`/root/reference/src/api.py:38-42` — `collection.query(...,
  * n_results=3)` against ChromaDB) at the scale its Chroma store
  * cannot reach.
  *
  * Like [[Ivf]], training is deterministic (stratified means by id,
  * one Lloyd refinement) — same plan shape as k-means|| codebooks,
  * which plug in unchanged. Everything is lazy DataFrame work:
  * codebooks and distance tables broadcast (m·k rows), the ADC scan is
  * a broadcast-join + one groupBy over the codes table.
  *
  * At 100 TB the codes table IS the index file layout: m
  * codes/vector, clustered by IVF list so a probe streams codes for
  * nProbe/k of the data, sums m lookups per candidate, and fetches
  * full-precision vectors only for the `pool` finalists.
  */
object Pq {

  /** Residual-encoded codebooks self-describe through their stamp
    * columns (`enc`/`cgv`/`cgf`, written by AnnIndex at train time):
    * presence of the centroids-generation stamp IS the scheme marker,
    * so every serving path — current, AS-OF, committed, literalized —
    * branches off the artifact itself and a pre-residual (raw) index
    * keeps serving through the raw ADC unchanged. */
  private[vector] def isResidual(books: DataFrame): Boolean =
    books.columns.contains("cgv")

  /** Per-(id, subspace, position) components of the embedding:
    * sub = d / (D/m), pos = d % (D/m). D is read from the column
    * itself (`size`), so ragged inputs fail loudly in the division
    * rather than silently mis-bucketing. */
  private def components(emb: DataFrame, idCol: String, embCol: String,
      m: Int): DataFrame =
    emb.select(col(idCol), (size(col(embCol)) / m).cast("int").as("__sd"),
        posexplode(col(embCol)).as(Seq("d", "v")))
      .select(col(idCol), (col("d") / col("__sd")).cast("int").as("sub"),
        pmod(col("d"), col("__sd")).as("pos"), col("v").cast("double").as("v"))

  /** Deterministic per-subspace codebooks: stratify vectors by
    * `id mod k` inside each subspace, take elementwise means, then one
    * Lloyd refinement (re-assign, re-mean). Output: (sub, cid,
    * centroid array<double> of length D/m) — m·k rows total, broadcast
    * wherever used. */
  def codebooks(emb: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int): DataFrame = {
    val comp = components(emb, idCol, embCol, m)
    val seeded = comp.withColumn("cid", pmod(col(idCol), lit(k.toLong)))
    // m·k tiny rows hiding a full component aggregation; referenced
    // TWICE below (the refinement's nearestCodeVec broadcast + the
    // empty-cell left_anti union) — materialize so the seed pass runs
    // once (guide §2.4). Eager: Dedup.minHashNearDups note.
    val seed = meanBooks(seeded).localCheckpoint(true)
    // one refinement: re-assign each (id, sub) subvector to its nearest
    // seed centroid, then re-mean — the k-means update step, once. A
    // cell the refinement empties (no subvector re-chose it) keeps its
    // seed centroid, so the codebook is ALWAYS m×k — the standard
    // empty-cluster repair, and what keeps code values dense in [0, k).
    // The reassignment runs at the VECTOR level (nearestCodeVec) —
    // never the n × D × k component-join intermediate.
    val reassigned = comp.join(
      nearestCodeVec(emb, idCol, embCol, seed, m)
        .withColumnRenamed("code", "cid"),
      Seq(idCol, "sub"))
    // refined appears twice in the result plan (rows + the empty-cell
    // anti-join key set) and the result itself feeds encode + every
    // ADC table in a consumer's plan — materialize both (m·k rows)
    // so the refinement's corpus pass runs exactly once.
    val refined = meanBooks(reassigned).localCheckpoint(true)
    refined.unionByName(
      seed.join(refined.select("sub", "cid"), Seq("sub", "cid"), "left_anti"))
      .localCheckpoint(true)
  }

  private def meanBooks(assignedComp: DataFrame): DataFrame =
    assignedComp.groupBy("sub", "cid", "pos").agg(avg(col("v")).as("c"))
      .groupBy("sub", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        t => t.getField("c")).as("centroid"))

  /** Nearest codebook entry per (id, sub), computed at the VECTOR
    * level: one broadcast cross of the corpus against the m·k codebook
    * rows, a fused subspace fold per pair ([[subDist]]), and a
    * per-(id, sub) min_by. The r14 component-explode form joined
    * n × D component rows against the codebook's exploded positions —
    * an n × D × k intermediate that OOM'd the 2.2M build at m = 32
    * (1-dim subspaces) and doubled build wall-clock at m = 16; this
    * form materializes n × m·k rows, each doing its D/m-wide work
    * inside one expression, and the in-order fold makes d2
    * DETERMINISTIC where the join-then-sum float order was not. Ties
    * break toward the smaller code, the same rule as before. */
  private def nearestCodeVec(emb: DataFrame, idCol: String,
      embCol: String, books: DataFrame, m: Int): DataFrame =
    emb.select(col(idCol), col(embCol).cast("array<double>").as("__pv"))
      .crossJoin(broadcast(bookRows(books)))
      .select(col(idCol), col("sub"), col("code"),
        subDist(col("__pv"), m).as("d2"))
      .groupBy(idCol, "sub")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

  /** Encode every vector as m codes: (id, sub, code). This table is
    * the stored index — m·log2(k) bits per vector. */
  def encode(emb: DataFrame, idCol: String, embCol: String,
      books: DataFrame, m: Int): DataFrame =
    nearestCodeVec(emb, idCol, embCol, books, m)

  /** The codebook rows every ADC table crosses against: (sub, code,
    * centroid) — m·k rows, broadcast wherever used. */
  private def bookRows(books: DataFrame): DataFrame =
    books.select(col("sub"), col("cid").as("code"), col("centroid"))

  /** The subspace-sliced L2² between a full-width vector column and a
    * codebook centroid row: slice the vector to the row's own subspace
    * and fold the squared differences IN ARRAY ORDER — one scalar
    * expression per (vector, sub, code) pair, replacing the r14
    * posexplode→join→groupBy pipeline that materialized vectors × k ×
    * D joined rows and paid two aggregate exchanges per serve (the s20
    * regression's steady-state cost; the in-order fold is also
    * DETERMINISTIC where the groupBy sum's float order was not).
    * The slice start MUST use [[components]]' stride sd = ⌊D/m⌋ from
    * the VECTOR and m — when m ∤ D the trailing subspace is ragged
    * (sub = m holds the D mod m leftover positions, shorter centroid),
    * so `sub · |centroid|` would address the wrong dimensions there;
    * the slice LENGTH is the row's own centroid length, which equals
    * that subspace's true width for full and ragged rows alike. */
  private def subDist(vec: org.apache.spark.sql.Column,
      m: Int): org.apache.spark.sql.Column =
    aggregate(
      zip_with(
        slice(vec, col("sub") * (size(vec) / m).cast("int") + lit(1),
          size(col("centroid"))),
        col("centroid"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)

  /** ADC distance table for one probe: (sub, code, pdist) = exact L2²
    * from the probe's sub-vector to each codebook centroid — m·k rows,
    * computed once per query (one broadcast cross, zero shuffles),
    * broadcast to the scan. */
  def distanceTable(probeDf: DataFrame, probeCol: String, books: DataFrame,
      m: Int): DataFrame = {
    val p = probeDf.select(col(probeCol).cast("array<double>").as("__pv"))
    bookRows(books).crossJoin(broadcast(p))
      .select(col("sub"), col("code"), subDist(col("__pv"), m).as("pdist"))
  }

  /** ADC distance tables for the RESIDUAL scheme, single probe — the
    * FAISS IVF-PQ lookup: codes quantize x − centroid(list(x)), so the
    * probe side of each subspace distance is the probe's RESIDUAL to
    * the candidate's own coarse centroid — one m×k table PER PROBED
    * LIST, keyed (cid, sub, code). nProbe × m × k rows:
    * serving-bounded, broadcast like the raw table. `chosenCents` is
    * the coarse-centroid rows of the probed lists only. */
  private[vector] def residualTableSingle(probeDf: DataFrame, probeCol: String,
      chosenCents: DataFrame, books: DataFrame, m: Int): DataFrame = {
    val p = probeDf.select(col(probeCol).cast("array<double>").as("__pv"))
    val rv = chosenCents
      .select(col("cid"), col("centroid").cast("array<double>").as("__cc"))
      .crossJoin(broadcast(p))
      .select(col("cid"),
        zip_with(col("__pv"), col("__cc"), (a, b) => a - b).as("__rv"))
    rv.crossJoin(broadcast(bookRows(books)))
      .select(col("cid"), col("sub"), col("code"),
        subDist(col("__rv"), m).as("pdist"))
  }

  /** IVF-PQ serving for a PROBE SET — the batch twin of
    * [[searchIvfPq]] ([[Ivf.searchBatch]]'s shape on the quantized
    * tier): per-probe IVF routing and per-probe ADC distance tables
    * are built in ONE broadcast pass each (probes × k and
    * probes × m·k rows — serving-batch-sized), a single codes scan
    * fans candidates to the probes whose lists they sit in, the pool
    * cut and the exact rerank are per-probe PARTITIONED windows, and
    * the full-precision fetch reads only probes × pool finalist rows.
    * Returns (probeIdCol, idCol, score), top-k per probe by
    * (score desc, id); per-probe results are exactly [[searchIvfPq]]'s
    * (pinned in PqAnnSpec). */
  def searchIvfPqBatch(
      emb: DataFrame, assigned: DataFrame, cents: DataFrame,
      codes: DataFrame, books: DataFrame,
      idCol: String, embCol: String,
      probes: DataFrame, probeIdCol: String, probeCol: String,
      m: Int, k: Int, nProbe: Int, pool: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probeIdCol != idCol,
      s"probe id column '$probeIdCol' must differ from the corpus id " +
        "column — both appear in the result")
    val p = probes.select(col(probeIdCol).as("__pid"),
      col(probeCol).as("__probe"))
    val pooled = pooledRanking(assigned, cents, codes, books, idCol,
      p, m, nProbe, pool)
    val wk = Window.partitionBy("__pid").orderBy(desc("score"), col(idCol))
    emb.join(broadcast(pooled), idCol)
      .join(broadcast(p), "__pid")
      .select(col("__pid"), col(idCol),
        vec_cosine_sim(col(embCol), col("__probe")).as("score"))
      .withColumn("__rk", row_number().over(wk))
      .filter(col("__rk") <= k).drop("__rk")
      .select(col("__pid").as(probeIdCol), col(idCol), col("score"))
      .orderBy(col(probeIdCol), desc("score"), col(idCol))
  }

  /** The per-probe pool ranking — the shared first half of every
    * batch IVF-PQ serve: per-probe IVF routing and per-probe ADC
    * tables in ONE broadcast pass each, a single codes scan fans
    * candidates to the probes whose lists they sit in, and a per-probe
    * PARTITIONED window keeps the `pool` best approximate distances.
    * Input `p` is (__pid, __probe); output (__pid, idCol) — at most
    * probes × pool rows. [[searchIvfPqBatch]] joins it in-plan;
    * a committed [[AnnIndex.serve]] COLLECTS it so the full-precision
    * fetch can file-prune on literal id predicates. */
  private[vector] def pooledRanking(
      assigned: DataFrame, cents: DataFrame,
      codes: DataFrame, books: DataFrame, idCol: String,
      p: DataFrame, m: Int, nProbe: Int, pool: Int,
      single: Boolean = false): DataFrame =
    adcPool(codes.join(assigned, idCol), probeLists(cents, p, nProbe, single),
      cents, books, idCol, p, m, pool, single)

  /** Per-probe IVF routing: (__pid, cid), nProbe rows per probe — one
    * broadcast cross over the k centroids, per-probe cut. */
  private[vector] def probeLists(cents: DataFrame, p: DataFrame,
      nProbe: Int, single: Boolean = false): DataFrame = {
    import graft.functions.vec_l2
    topPerProbe(broadcast(cents).crossJoin(broadcast(p))
        .select(col("__pid"), col("cid"),
          vec_l2(col("centroid"), col("__probe")).as("cdist")),
      single, nProbe, col("cdist"), col("cid"))
      .select("__pid", "cid")
  }

  /** The `n` first rows per probe (`__pid`) by `order`. A probe SET
    * cuts with a per-probe PARTITIONED window, never a global funnel;
    * a `single` probe — the common one-question ask — cuts with a
    * sorted limit, which plans without the window's exchange. */
  private[vector] def topPerProbe(df: DataFrame, single: Boolean, n: Int,
      order: org.apache.spark.sql.Column*): DataFrame =
    if (single) df.orderBy(order: _*).limit(n)
    else df.withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("__pid")
          .orderBy(order: _*)))
      .filter(col("__r") <= n).drop("__r")

  /** The ADC scan + per-probe pool cut over a cid-carrying codes
    * source: `codesWithCid` is (cid, idCol, sub, code) rows — either
    * `codes ⋈ assigned` in-plan (the join form) or the committed
    * cid-clustered pq_lists layout already filtered to the probed
    * lists (AnnIndex's pruned form); `lists` is the per-probe routing
    * (__pid, cid); `cents` feeds the RESIDUAL scheme's per-list probe
    * residuals (unused by the raw scheme). Returns (__pid, idCol),
    * ≤ pool rows per probe. */
  private[vector] def adcPool(codesWithCid: DataFrame, lists: DataFrame,
      cents: DataFrame, books: DataFrame, idCol: String, p: DataFrame,
      m: Int, pool: Int, single: Boolean = false): DataFrame = {
    val pArr = p.select(col("__pid"),
      col("__probe").cast("array<double>").as("__pv"))
    // per-probe ADC tables in one broadcast cross each ([[subDist]] —
    // array-sliced in-order folds, zero shuffles). Raw: (pid, sub,
    // code, pdist) — the probe's own subvectors against the codebooks.
    // Residual (FAISS IVF-PQ): the lookup depends on the candidate's
    // LIST too — the probe residual (probe − coarse centroid) per
    // probed list feeds the table, keyed (pid, cid, sub, code);
    // probes × nProbe × m × k rows, still serving-bounded and
    // broadcast.
    val (dt, dtKeys) =
      if (!isResidual(books))
        (bookRows(books).crossJoin(broadcast(pArr))
          .select(col("__pid"), col("sub"), col("code"),
            subDist(col("__pv"), m).as("pdist")),
          Seq("__pid", "sub", "code"))
      else {
        val rv = broadcast(lists).join(broadcast(pArr), "__pid")
          .join(broadcast(cents.select(col("cid"),
            col("centroid").cast("array<double>").as("__cc"))), "cid")
          .select(col("__pid"), col("cid"),
            zip_with(col("__pv"), col("__cc"), (a, b) => a - b).as("__rv"))
        (rv.crossJoin(broadcast(bookRows(books)))
          .select(col("__pid"), col("cid"), col("sub"), col("code"),
            subDist(col("__rv"), m).as("pdist")),
          Seq("__pid", "cid", "sub", "code"))
      }
    topPerProbe(codesWithCid
        .join(broadcast(lists), "cid")
        .join(broadcast(dt), dtKeys)
        .groupBy("__pid", idCol)
        .agg(sum(col("pdist")).as("adist")),
      single, pool, col("adist"), col(idCol))
      .select("__pid", idCol)
  }

  /** IVF-PQ serving path: route the probe to its nProbe nearest IVF
    * lists, ADC-scan ONLY those lists' codes (m broadcast-lookups +
    * one sum per candidate), keep the `pool` best approximate
    * distances, then exact-cosine-rerank the pool against
    * full-precision vectors. Precision of the final top-k against the
    * pool is exact; recall is measured in PqAnnSpec. */
  def searchIvfPq(
      emb: DataFrame, assigned: DataFrame, cents: DataFrame,
      codes: DataFrame, books: DataFrame,
      idCol: String, embCol: String,
      probeDf: DataFrame, probeCol: String,
      m: Int, k: Int, nProbe: Int, pool: Int): DataFrame = {
    import graft.functions.vec_l2
    val probe = probeDf.select(col(probeCol).as("__probe"))
    val lists = broadcast(cents).crossJoin(broadcast(probe))
      .select(col("cid"), vec_l2(col("centroid"), col("__probe")).as("cdist"))
      .orderBy(col("cdist"), col("cid")).limit(nProbe)
      .select("cid")
    // raw codes look up one m×k probe table; residual codes (FAISS
    // IVF-PQ) look up the per-probed-list residual tables, keyed by
    // the candidate's own list id
    val (dt, dtKeys) =
      if (!isResidual(books))
        (distanceTable(probe, "__probe", books, m), Seq("sub", "code"))
      else
        (residualTableSingle(probe, "__probe",
          cents.join(broadcast(lists), "cid"), books, m),
          Seq("cid", "sub", "code"))
    val poolIds = codes.join(assigned, idCol)
      .join(broadcast(lists), "cid")
      .join(broadcast(dt), dtKeys)
      .groupBy(idCol)
      .agg(sum(col("pdist")).as("adist"))
      .orderBy(col("adist"), col(idCol)).limit(pool)
      .select(idCol)
    emb.join(broadcast(poolIds), idCol)
      .crossJoin(broadcast(probe))
      .select(col(idCol), vec_cosine_sim(col(embCol), col("__probe")).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }
}
