package graft

/** Scale rehearsal for the persisted-HNSW serving claims (the
  * 2^18-vectors/shard sizing rule, the rank-pruned batch rerank, the
  * executor-resident shard-graph cache), which the fixture-scale gates
  * cannot exercise: `runMain graft.AnnScaleProbe [nRows]` generates a
  * deterministic synthetic embedding table big enough to force >4 auto
  * shards (default 2.2M rows, 32-dim), commits it as a versioned
  * table, then runs the full operational sequence — auto-sized
  * ensureNsw, cold + warm batch serves at growing probe counts,
  * reshardNsw — printing timings, the derived shard count, per-shard
  * sizes and the serve-cache counters. The fixture lands in a temp
  * dir and is TORN DOWN at the end; results are recorded in PLANS.md,
  * not committed. */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2200000L)
    // optional second arg: comma-separated legs to run ("nsw,ivf,pq"),
    // so one tier's numbers can be re-measured without paying the
    // others' builds
    val legs = args.drop(1).headOption.map(_.split(',').toSet)
      .getOrElse(Set("nsw", "ivf", "pq"))
    val dim = 32
    val spark = Sessions.local()
    import org.apache.spark.sql.functions._
    import graft.vector.{AnnCorpus, AnnIndex, AnnRequest}
    val dir = java.nio.file.Files.createTempDirectory("annscale")
    val root = dir.toString + "/ix"
    val corpusT = dir.toString + "/emb"
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    // every leg serves through the one door: top-k per probe of a
    // (probe id, vector) frame
    def ann(r: String, kind: String, corpus: AnnCorpus,
        probes: org.apache.spark.sql.DataFrame, width: Option[Int] = None,
        k: Int = 10, pool: Option[Int] = None) =
      AnnIndex.serve(spark, r, AnnRequest(kind, corpus, "vec_id",
        "embedding", probes, k, width, pool))
    def committed = AnnCorpus.committed(spark, corpusT)
    // deterministic pseudo-random unit-cube embeddings derived from the
    // row id — no RNG state, so any rerun reproduces exactly
    timed(s"commit synthetic corpus (n=$n, dim=$dim)") {
      graft.sources.Versioned.commit(spark, corpusT,
        spark.range(n).select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), i -> " +
            "cast(pmod(xxhash64(id, i), 1000) as float) / 500.0 - 1.0)")
            .cast("array<float>").as("embedding")),
        Some("vec_id"), files = 32)
    }
    val emb = graft.sources.VersionedScan.read(spark, corpusT)
    // the single-question probe the 1-probe legs serve
    def ivfProbe = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    if (legs("nsw")) {
    val auto = AnnIndex.nswAutoShards(n)
    println(s"[scale] nswAutoShards($n) = $auto " +
      s"(target ${AnnIndex.nswShardTarget}/shard)")
    println(f"[scale] est. per-shard working set: ${
      n / auto * (dim * 4L + 64L) / 1e6}%.0f MB " +
      s"(${n / auto} vectors x (${dim * 4} B + adjacency))")
    timed("ensureNsw (auto shards, full build)") {
      AnnIndex.ensureNsw(spark, root, emb, "vec_id", "embedding")
    }
    def probes(c: Int) = emb.filter(col("vec_id") < c)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    def serve(c: Int, label: String): Unit = timed(
      s"hnsw serve, frame corpus $label ($c probes, k=10)") {
      ann(root, "hnsw", AnnCorpus.Frame(emb), probes(c)).count()
    }
    serve(1, "COLD")     // reconstructs every shard once
    serve(1, "warm")     // zero reconstruction, one 16 B/row light pass
    serve(8, "warm")
    serve(64, "warm")
    println(s"[scale] serveStats: ${AnnIndex.serveStats(spark, root).toSeq.sorted}")
    // committed-corpus form: identity-keyed residency — the first call
    // rebuilds under the new key scheme, every warm call is ZERO
    // corpus I/O (no light pass, no vector shuffle)
    def serveC(c: Int, label: String): Unit = timed(
      s"hnsw serve, committed corpus $label ($c probes, k=10)") {
      ann(root, "hnsw", committed, probes(c)).count()
    }
    serveC(8, "COLD")
    serveC(1, "warm zero-I/O")
    serveC(8, "warm zero-I/O")
    serveC(64, "warm zero-I/O")
    println(s"[scale] serveStats: ${AnnIndex.serveStats(spark, root).toSeq.sorted}")
    // PARTIAL-MISS leg: lose ONE shard graph (memory pressure /
    // executor churn stand-in) and serve again — WITHOUT the shard
    // layout the repair pays the full corpus+edges cogroup; WITH it,
    // only the missing shard's files are read. The pair of timings is
    // the layout's value at scale.
    AnnIndex.evictShard(AnnIndex.nswEdgesTable(root), 1L)
    serveC(8, "partial-miss WITHOUT layout (full cogroup)")
    timed("optimizeNswServing (shard layout commit)") {
      AnnIndex.optimizeNswServing(spark, root, corpusT,
        "vec_id", "embedding")
    }
    AnnIndex.evictShard(AnnIndex.nswEdgesTable(root), 1L)
    serveC(8, "partial-miss WITH layout (one shard's files)")
    serveC(8, "warm zero-I/O after repair")
    println(s"[scale] serveStats: ${AnnIndex.serveStats(spark, root).toSeq.sorted}")
    // the next sizing step up (what another ~50% growth would derive)
    val grown = AnnIndex.nswAutoShards(n + n / 2)
    timed(s"reshardNsw -> $grown shards") {
      AnnIndex.reshardNsw(spark, root, emb, "vec_id", "embedding", grown)
    }
    serve(8, "post-reshard COLD")
    println(s"[scale] serveStats: ${AnnIndex.serveStats(spark, root).toSeq.sorted}")
    }
    // IVF leg: auto-k train, the cid-clustered lists layout, and the
    // pruned serve vs the join plan — the nProbe/k file-skipping claim
    // measured at scale
    val ivfRoot = dir.toString + "/ivfix"
    if (legs("ivf") || legs("pq")) {
    println(s"[scale] ivfAutoK($n) = ${AnnIndex.ivfAutoK(n)}")
    timed("ensureIvf (auto k, train + full assign)") {
      AnnIndex.ensureIvf(spark, ivfRoot, emb, "vec_id", "embedding")
    }
    timed("optimizeIvfServing (lists layout commit)") {
      AnnIndex.optimizeIvfServing(spark, ivfRoot, corpusT,
        "vec_id", "embedding")
    }
    timed("ivf serve JOIN plan, frame corpus (1 probe, nProbe=8)") {
      ann(ivfRoot, "ivf", AnnCorpus.Frame(emb), ivfProbe, Some(8)).count()
    }
    timed("ivf serve LISTS cold (1 probe, nProbe=8)") {
      ann(ivfRoot, "ivf", committed, ivfProbe, Some(8)).count()
    }
    timed("ivf serve LISTS warm (1 probe, nProbe=8)") {
      ann(ivfRoot, "ivf", committed, ivfProbe, Some(8)).count()
    }
    // PQ leg: codebook train + full encode at scale, then the ADC
    // scan's two shapes — the join form (reads every code row +
    // assignments per serve) vs the cid-clustered pq_lists layout
    // (streams only the probed lists' code files) — s24's claim
    // measured at 2.2M
    if (legs("pq")) {
      // optional third arg: PQ subspace count (default 4 = 8 dims per
      // subspace; m=8 halves the per-subspace dimensionality and the
      // quantization error — the recall leg quantifies what that buys)
      val pqM = args.drop(2).headOption.map(_.toInt).getOrElse(4)
      timed(s"ensurePq (m=$pqM, k=16, train + full encode)") {
        AnnIndex.ensurePq(spark, ivfRoot, emb, "vec_id", "embedding",
          m = pqM, k = 16)
      }
      timed("pq serve JOIN form, frame corpus (1 probe, nProbe=8, pool=64)") {
        ann(ivfRoot, "pq", AnnCorpus.Frame(emb), ivfProbe, Some(8),
          pool = Some(64)).count()
      }
      timed("pq serve pre-layout (literal fetch, join ADC)") {
        ann(ivfRoot, "pq", committed, ivfProbe, Some(8),
          pool = Some(64)).count()
      }
      timed("optimizePqServing (cid-clustered codes commit)") {
        AnnIndex.optimizePqServing(spark, ivfRoot, "vec_id")
      }
      timed("pq serve PQ-LISTS cold (pruned ADC)") {
        ann(ivfRoot, "pq", committed, ivfProbe, Some(8),
          pool = Some(64)).count()
      }
      timed("pq serve PQ-LISTS warm (pruned ADC)") {
        ann(ivfRoot, "pq", committed, ivfProbe, Some(8),
          pool = Some(64)).count()
      }
      // BATCH leg — the r13 headline: the join-form batch (every
      // corpus file read to fetch ≤ probes×pool rows) vs the
      // literalized committed batch (collected pool ranking → id-IN
      // scan that manifest-prunes, riding the fresh pq_lists ADC).
      // Two batch sizes on purpose: at 8 probes the probed-cid union
      // covers ~nProbe·batch/k of the lists and the ADC prune shows;
      // at 64 probes the union saturates every list (64·8 ≥ k) and
      // the prune is neutral by construction — there the literalized
      // fetch's value is file-count at 100 TB, not local wall-clock.
      def pqProbes(c: Int) = emb.filter(col("vec_id") < c)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      for (c <- Seq(8, 64)) {
        timed(s"pq serve JOIN form, frame corpus ($c probes, nProbe=8, pool=64)") {
          ann(ivfRoot, "pq", AnnCorpus.Frame(emb), pqProbes(c), Some(8),
            pool = Some(64)).count()
        }
        timed(s"pq serve committed (literal fetch + pruned ADC, $c probes)") {
          ann(ivfRoot, "pq", committed, pqProbes(c), Some(8),
            pool = Some(64)).count()
        }
        timed(s"pq serve committed repeat (warm artifacts, $c probes)") {
          ann(ivfRoot, "pq", committed, pqProbes(c), Some(8),
            pool = Some(64)).count()
        }
      }
    }
    }
    // RECALL leg — recall@10 measured AT 2.2M, not fixture scale
    // (recall is data- and scale-dependent: list occupancy, code
    // quantization error and graph connectivity all change with n).
    // Exact oracle = one broadcast cosine pass + per-probe top-10;
    // everything is deterministic, so these numbers are reproducible
    // run to run and belong in PLANS next to the timings.
    if (legs("ivf") || legs("pq") || legs("nsw")) {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.vec_cosine_sim
      val kR = 10
      val probesR = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val exact = timed("exact cosine top-10 oracle (8 probes, brute force)") {
        emb.crossJoin(broadcast(probesR))
          .select(col("probe_id"), col("vec_id"),
            vec_cosine_sim(col("embedding"), col("pv")).as("score"))
          .withColumn("__rk", row_number().over(
            Window.partitionBy("probe_id")
              .orderBy(desc("score"), col("vec_id"))))
          .filter(col("__rk") <= kR)
          .select("probe_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      def recall(label: String)(served: org.apache.spark.sql.DataFrame): Unit = {
        val got = served.select(col("probe_id").cast("long"),
            col("vec_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"[scale] recall@$kR $label: ${
          exact.count(got).toDouble / exact.size}%.3f")
      }
      if (legs("ivf") || legs("pq"))
        for (np <- Seq(8, 32)) recall(s"ivf nProbe=$np")(
          ann(ivfRoot, "ivf", AnnCorpus.Frame(emb), probesR, Some(np), kR))
      if (legs("pq")) {
        for ((np, pool) <- Seq(8 -> 64, 32 -> 256))
          recall(s"ivfpq nProbe=$np pool=$pool")(ann(ivfRoot, "pq",
            AnnCorpus.Frame(emb), probesR, Some(np), kR, Some(pool)))
        // the committed door itself (what graft_ann_search serves and
        // what CALL ann_recall reports) — the r14 residual-encoding
        // lift is judged HERE at equal m/nProbe/pool vs the r13 raw
        // numbers (PLANS runs 10-11: raw m=8 read 0.338 @ width 8)
        for (w <- Seq(8, 32)) {
          val (r, _) = AnnIndex.measureRecall(spark, ivfRoot, corpusT,
            "vec_id", "embedding", "pq", probes = 8, k = kR, width = w)
          println(f"[scale] ann_recall pq committed width=$w: $r%.3f")
        }
      }
      // hnsw recall vs BEAM WIDTH — the lever the committed door (and
      // the TVF's integral tail for kind 'hnsw') exposes since r13;
      // after the first serve the graphs are warm, so each sweep
      // point costs beam-search compute only
      if (legs("nsw")) for (e <- Seq(32, 128, 512)) {
        recall(s"hnsw ef=$e (post-reshard graph)")(
          ann(root, "hnsw", committed, probesR, Some(e), kR))
      }
    }
    // O(delta) LAYOUT-REFRESH leg (r14) — LAST, because it mutates the
    // corpus: after a 2.2M full optimize, a 1k-row append and a
    // 100-row MoR update must refresh the ivf_lists layout in time
    // ∝ delta + touched files, never corpus (r13 re-clustered the
    // whole layout on every stamp change). Carried-file counts make
    // the carry-by-reference visible next to the timings.
    if (legs("layouts")) {
      import graft.sources.{Versioned, VersionedScan}
      val lT = AnnIndex.ivfListsTable(ivfRoot)
      timed("ensureIvf (layout leg, reuse or build)") {
        AnnIndex.ensureIvf(spark, ivfRoot,
          VersionedScan.read(spark, corpusT), "vec_id", "embedding")
      }
      timed("optimizeIvfServing FULL (bootstrap re-cluster)") {
        AnnIndex.optimizeIvfServing(spark, ivfRoot, corpusT,
          "vec_id", "embedding")
      }
      def layoutFiles(): Set[String] = Versioned.snapshot(spark, lT)
        .files.map(_.path).toSet
      val f0 = layoutFiles()
      timed("corpus append (1k new rows)") {
        Versioned.appendCommit(spark, corpusT,
          spark.range(n, n + 1000).select(col("id").as("vec_id"),
            expr(s"transform(sequence(0, ${dim - 1}), i -> " +
              "cast(pmod(xxhash64(id, i), 1000) as float) / 500.0 - 1.0)")
              .cast("array<float>").as("embedding")),
          Some("vec_id"), 1)
      }
      timed("ensureIvf (1k delta)") {
        AnnIndex.ensureIvf(spark, ivfRoot,
          VersionedScan.read(spark, corpusT), "vec_id", "embedding")
      }
      timed("optimizeIvfServing INCREMENTAL (1k append)") {
        AnnIndex.optimizeIvfServing(spark, ivfRoot, corpusT,
          "vec_id", "embedding")
      }
      val f1 = layoutFiles()
      println(s"[scale] layout files after append: ${f1.size} " +
        s"(carried ${(f0 intersect f1).size} of ${f0.size})")
      timed("corpus MoR update (100 rows)") {
        Versioned.upsertMergeOnRead(spark, corpusT,
          VersionedScan.read(spark, corpusT)
            .filter(col("vec_id") < 100)
            .select(col("vec_id"),
              expr("transform(embedding, x -> x * 2)")
                .cast("array<float>").as("embedding")),
          "vec_id", files = 1)
      }
      timed("ensureIvf (100-row update delta)") {
        AnnIndex.ensureIvf(spark, ivfRoot,
          VersionedScan.read(spark, corpusT), "vec_id", "embedding")
      }
      timed("optimizeIvfServing INCREMENTAL (100-row MoR update)") {
        AnnIndex.optimizeIvfServing(spark, ivfRoot, corpusT,
          "vec_id", "embedding")
      }
      val f2 = layoutFiles()
      println(s"[scale] layout files after update: ${f2.size} " +
        s"(carried ${(f1 intersect f2).size} of ${f1.size})")
    }
    // REFRESH-vs-REBUILD CROSSOVER leg (r15, VERDICT item 5): where
    // does the O(delta) refresh's cost cross the full re-cluster's as
    // the dirty fraction grows? Appends never rewrite (dirtyCids = ∅),
    // so the binding axis is UPDATED rows: each update dirties its old
    // image's list, and random embeddings spread a contiguous id range
    // uniformly over the k lists — the dirty-list count saturates fast
    // (271(1 − e^(−d/271)) for this fixture's k). Run 18's measurement
    // (full re-cluster 2.3–3.4 s vs incremental 4.0–4.4 s at d=50–150,
    // 35–61 of 67 files rewritten) drove the r15 COST-AWARE guard:
    // the layout refresh now previews the dirty FILE fraction
    // (Versioned.filesTouchedByKey) and falls back past 1/2 — this leg
    // re-measures where that crossover sits.
    if (legs("crossover")) {
      import graft.sources.{Versioned, VersionedScan}
      val lT = AnnIndex.ivfListsTable(ivfRoot)
      timed("ensureIvf (crossover leg, reuse or build)") {
        AnnIndex.ensureIvf(spark, ivfRoot,
          VersionedScan.read(spark, corpusT), "vec_id", "embedding")
      }
      // full re-cluster baseline, measured TWICE (warm the scans)
      timed("optimizeIvfServing FULL #1 (force re-cluster)") {
        AnnIndex.optimizeIvfServing(spark, ivfRoot, corpusT,
          "vec_id", "embedding", force = true)
      }
      timed("optimizeIvfServing FULL #2 (force re-cluster, warm)") {
        AnnIndex.optimizeIvfServing(spark, ivfRoot, corpusT,
          "vec_id", "embedding", force = true)
      }
      def layoutFiles(): Set[String] = Versioned.snapshot(spark, lT)
        .files.map(_.path).toSet
      var off = 0L
      for (d <- Seq(50, 100, 150, 250, 500)) {
        timed(s"corpus MoR update ($d rows)") {
          Versioned.upsertMergeOnRead(spark, corpusT,
            VersionedScan.read(spark, corpusT)
              .filter(col("vec_id") >= off && col("vec_id") < off + d)
              .select(col("vec_id"),
                expr("transform(embedding, x -> x * 2)")
                  .cast("array<float>").as("embedding")),
            "vec_id", files = 1)
        }
        off += d
        timed(s"ensureIvf ($d-row update delta)") {
          AnnIndex.ensureIvf(spark, ivfRoot,
            VersionedScan.read(spark, corpusT), "vec_id", "embedding")
        }
        val before = layoutFiles()
        timed(s"optimizeIvfServing after $d-row update") {
          AnnIndex.optimizeIvfServing(spark, ivfRoot, corpusT,
            "vec_id", "embedding")
        }
        val after = layoutFiles()
        val carried = (before intersect after).size
        println(s"[scale] crossover d=$d: carried $carried of " +
          s"${before.size} files" +
          (if (carried == 0) " (FULL rebuild path)" else " (incremental)"))
      }
    }
    // SPILL leg (r16, VERDICT item 2): the routing ceiling itself —
    // recall@10 of the EXACT-reranked ivf tier vs nProbe is bounded by
    // what the lists contain; multi-assignment (ann_ensure spill)
    // raises that bound by putting boundary vectors in their runner-up
    // list too. This leg measures, at 2.2M: the spill fraction per
    // eps, recall plain vs spilled at equal nProbe, and the serve cost
    // delta (the scan grows by the spill fraction). Numbers → PLANS.
    if (legs("spill")) {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.vec_cosine_sim
      val kR = 10
      timed("ensureIvf (spill leg, plain root reuse or build)") {
        AnnIndex.ensureIvf(spark, ivfRoot, emb, "vec_id", "embedding")
      }
      val probesR = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val exact = timed("exact cosine top-10 oracle (8 probes)") {
        emb.crossJoin(broadcast(probesR))
          .select(col("probe_id"), col("vec_id"),
            vec_cosine_sim(col("embedding"), col("pv")).as("score"))
          .withColumn("__rk", row_number().over(
            Window.partitionBy("probe_id")
              .orderBy(desc("score"), col("vec_id"))))
          .filter(col("__rk") <= kR)
          .select("probe_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select(col("probe_id").cast("long"),
            col("vec_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        exact.count(got).toDouble / exact.size
      }
      // nProbe=64 on the PLAIN root is the honest comparator for
      // eps=0.02 spill at nProbe=32: both scan ~1.5-2x the base
      // volume — the question is which buys more recall per scanned
      // row
      for (np <- Seq(8, 32, 64)) {
        val t0 = System.nanoTime()
        val r = recallOf(
          ann(ivfRoot, "ivf", AnnCorpus.Frame(emb), probesR, Some(np), kR))
        println(f"[scale] spill-leg recall@$kR PLAIN nProbe=$np: " +
          f"$r%.3f (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      }
      for (eps <- Seq(0.02, 0.05, 0.1)) {
        val sRoot = dir.toString + s"/spill${(eps * 100).toInt}"
        // reuse the PLAIN root's trained centroids so the comparison
        // isolates the assignment scheme (same lists, same routing)
        timed(s"spilled root eps=$eps (copy centroids + multi-assign)") {
          graft.sources.Versioned.commit(spark,
            AnnIndex.ivfCentroidsTable(sRoot),
            graft.sources.VersionedScan.read(spark,
              AnnIndex.ivfCentroidsTable(ivfRoot)), Some("cid"), 1)
          AnnIndex.ensureIvf(spark, sRoot, emb, "vec_id", "embedding",
            spill = eps)
        }
        val frac = graft.sources.VersionedScan.read(spark,
            AnnIndex.ivfAssignmentsTable(sRoot))
          .filter(col("cid2").isNotNull).count().toDouble / n
        println(f"[scale] spill fraction eps=$eps: $frac%.3f")
        for (np <- Seq(8, 32)) {
          val t0 = System.nanoTime()
          val r = recallOf(
            ann(sRoot, "ivf", AnnCorpus.Frame(emb), probesR, Some(np), kR))
          println(f"[scale] spill-leg recall@$kR SPILLED eps=$eps " +
            f"nProbe=$np: $r%.3f (${(System.nanoTime() - t0) / 1e9}%.1f s)")
        }
        // COMMITTED-LAYOUT serving at scale, smallest eps only: the
        // spilled lists layout is (1 + fraction)x the corpus rows —
        // measure the layout build, the pruned serve (cold + warm,
        // with the score-then-distinct dedup), and pin spilled
        // committed == spilled join plan at 2.2M
        if (eps == 0.02) {
          timed("optimizeIvfServing PLAIN (lists layout)") {
            AnnIndex.optimizeIvfServing(spark, ivfRoot, corpusT,
              "vec_id", "embedding")
          }
          timed(s"optimizeIvfServing SPILLED eps=$eps") {
            AnnIndex.optimizeIvfServing(spark, sRoot, corpusT,
              "vec_id", "embedding")
          }
          for ((label, r) <- Seq("PLAIN" -> ivfRoot, "SPILLED" -> sRoot);
               pass <- Seq("cold", "warm")) {
            timed(s"ivf serve committed $label $pass (1 probe, nProbe=8)") {
              ann(r, "ivf", committed, ivfProbe, Some(8)).count()
            }
          }
          val viaLayout = ann(sRoot, "ivf", committed, ivfProbe, Some(8))
            .collect().toSeq
          val viaJoin = ann(sRoot, "ivf", AnnCorpus.Frame(emb), ivfProbe,
              Some(8)).collect().toSeq
          println(s"[scale] spilled committed == join plan at 2.2M: " +
            s"${viaLayout == viaJoin}")
        }
      }
    }
    // CLUSTERED-SPILL leg (r17, VERDICT item 2): the uniform-ish hash
    // corpus above is distance-CONCENTRATED — nearest-centroid margins
    // are thin everywhere, so eps=0.02 multi-assigns ~45% of it and
    // spill's per-scanned-row win over just widening nProbe is modest
    // (PLANS r16, the honest negative). Real embedding corpora are
    // CLUSTERED with anisotropic spread and Zipfian cluster sizes:
    // most points sit deep inside a cluster (margin >> eps) and only
    // genuine boundary points spill — the regime the knob was built
    // for. This leg builds exactly that shape (mixture of 64
    // hash-derived centers, Zipf(1.1) sizes, per-(cluster, dim) noise
    // scales spanning 0.05-0.35, Irwin-Hall approximate Gaussians —
    // all id-derived, rerun-reproducible) and re-measures the spill
    // curve: fraction per eps, recall plain vs spilled at equal
    // nProbe, and cost = nProbe x (1 + fraction). Numbers + the
    // turn-it-on guidance → PLANS.md / ann_ensure's help.
    if (legs("spillc")) {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.vec_cosine_sim
      val kR = 10
      val nC = 64
      val corpusCT = dir.toString + "/embc"
      timed(s"commit CLUSTERED corpus (n=$n, dim=$dim, $nC clusters)") {
        // Zipf(1.1) cumulative boundaries over [0, 1) — cluster c owns
        // [b(c), b(c+1)); membership = how many boundaries lie at or
        // below the id's uniform draw
        val w = (1 to nC).map(c => 1.0 / math.pow(c, 1.1))
        val cum = w.scanLeft(0.0)(_ + _).init.map(_ / w.sum)
        val bounds = cum.mkString("array(", ", ", ")")
        graft.sources.Versioned.commit(spark, corpusCT,
          spark.range(n).select(col("id").as("vec_id"),
            expr(s"size(filter($bounds, b -> b <= " +
              "pmod(xxhash64(id, 424242), 1000000) / 1000000.0)) - 1")
              .as("cl"))
            .select(col("vec_id"),
              expr(s"""transform(sequence(0, ${dim - 1}), j ->
                 | cast(pmod(xxhash64(cl * 7919, j), 1000) as float)
                 |   / 250.0 - 2.0
                 | + (0.05 + 0.3 * pow(pmod(xxhash64(cl, j + 777),
                 |     1000) / 1000.0, 2.0))
                 |   * (( pmod(xxhash64(vec_id, j * 4 + 0), 1000)
                 |      + pmod(xxhash64(vec_id, j * 4 + 1), 1000)
                 |      + pmod(xxhash64(vec_id, j * 4 + 2), 1000)
                 |      + pmod(xxhash64(vec_id, j * 4 + 3), 1000)
                 |      ) / 1000.0 - 2.0) * 1.732)
                 |""".stripMargin.replace('\n', ' '))
                .cast("array<float>").as("embedding")),
          Some("vec_id"), files = 32)
      }
      val embC = graft.sources.VersionedScan.read(spark, corpusCT)
      val cRoot = dir.toString + "/ixc"
      timed("ensureIvf CLUSTERED (auto k, train + assign)") {
        AnnIndex.ensureIvf(spark, cRoot, embC, "vec_id", "embedding")
      }
      val probesC = embC.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val exactC = timed("exact cosine top-10 oracle (8 probes)") {
        embC.crossJoin(broadcast(probesC))
          .select(col("probe_id"), col("vec_id"),
            vec_cosine_sim(col("embedding"), col("pv")).as("score"))
          .withColumn("__rk", row_number().over(
            Window.partitionBy("probe_id")
              .orderBy(desc("score"), col("vec_id"))))
          .filter(col("__rk") <= kR)
          .select("probe_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      def recallC(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select(col("probe_id").cast("long"),
            col("vec_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        exactC.count(got).toDouble / exactC.size
      }
      for (np <- Seq(8, 16, 32, 64)) {
        val r = recallC(
          ann(cRoot, "ivf", AnnCorpus.Frame(embC), probesC, Some(np), kR))
        println(f"[scale] spillc recall@$kR PLAIN nProbe=$np: $r%.3f " +
          f"(cost $np%d)")
      }
      for (eps <- Seq(0.01, 0.02, 0.05)) {
        val sRoot = dir.toString + s"/spillc${(eps * 100).toInt}"
        timed(s"spilled CLUSTERED root eps=$eps") {
          graft.sources.Versioned.commit(spark,
            AnnIndex.ivfCentroidsTable(sRoot),
            graft.sources.VersionedScan.read(spark,
              AnnIndex.ivfCentroidsTable(cRoot)), Some("cid"), 1)
          AnnIndex.ensureIvf(spark, sRoot, embC, "vec_id", "embedding",
            spill = eps)
        }
        val frac = graft.sources.VersionedScan.read(spark,
            AnnIndex.ivfAssignmentsTable(sRoot))
          .filter(col("cid2").isNotNull).count().toDouble / n
        println(f"[scale] spillc fraction eps=$eps: $frac%.3f")
        for (np <- Seq(8, 16, 32)) {
          val r = recallC(
            ann(sRoot, "ivf", AnnCorpus.Frame(embC), probesC, Some(np), kR))
          println(f"[scale] spillc recall@$kR SPILLED eps=$eps " +
            f"nProbe=$np: $r%.3f (cost ${np * (1 + frac)}%.1f)")
        }
      }
      // dogfood the r17 pick step at scale on the same fixture: the
      // chosen (eps, width) pair and the walked curve
      timed("tuneSpill (target 0.95, maxWidth 64, ladder 0.02/0.05)") {
        AnnIndex.tuneSpill(spark, cRoot, corpusCT, "vec_id",
          "embedding", probes = 8, k = kR, target = 0.95,
          maxWidth = 64, epsLadder = Seq(0.02, 0.05))
          .foreach { case (e, f, w, r, c, ch) =>
            println(f"[scale] spillc tune eps=$e%.3f frac=$f%.3f " +
              f"width=$w%d recall=$r%.3f cost=$c%.1f chosen=$ch")
          }
      }
    }
    // PQ BUILD A/B leg (r16, VERDICT item 1): the r15 vector-level
    // fold (Pq.nearestCodeVec) removed the n x D x k exploded
    // intermediate — structurally right — but its wall-clock was only
    // ever read under a drifting box phase (586 s vs 378 s, with
    // untouched IVF legs 1.3-2x inflated in the same run). The s20
    // lesson: only INTERLEAVED A/B settles it. This leg re-implements
    // the r14 component-join ENCODE here (probe-only code, never the
    // engine) and alternates old/new encode passes on the same books.
    if (legs("buildab")) {
      val mAb = args.drop(2).headOption.map(_.toInt).getOrElse(16)
      val books = timed(s"codebooks m=$mAb k=16 (shared by both legs)") {
        val b = graft.vector.Pq.codebooks(emb, "vec_id", "embedding",
          mAb, 16)
        b.localCheckpoint(true)
      }
      // the r14 shape: explode the corpus to components, join the
      // books' exploded positions on (sub, pos), sum squared diffs per
      // (id, sub, cid) — the n x D x k joined intermediate — then the
      // per-(id, sub) argmin
      def oldEncode(): Long = {
        val sd = dim / mAb
        val comp = emb.select(col("vec_id"),
            org.apache.spark.sql.functions.posexplode(col("embedding"))
              .as(Seq("d", "v")))
          .select(col("vec_id"), (col("d") / sd).cast("int").as("sub"),
            pmod(col("d"), lit(sd)).as("pos"),
            col("v").cast("double").as("v"))
        val bookComp = books.select(col("sub"), col("cid"),
            org.apache.spark.sql.functions.posexplode(col("centroid"))
              .as(Seq("pos", "c")))
        comp.join(bookComp, Seq("sub", "pos"))
          .groupBy("vec_id", "sub", "cid")
          .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
          .groupBy("vec_id", "sub")
          .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("code"))
          .count()
      }
      def newEncode(): Long =
        graft.vector.Pq.encode(emb, "vec_id", "embedding", books, mAb)
          .count()
      // interleaved: N O N O N O — the box phase hits both legs alike
      for (rep <- 1 to 3) {
        timed(s"encode NEW fold (rep $rep, m=$mAb)") { newEncode() }
        timed(s"encode OLD component-join (rep $rep, m=$mAb)") { oldEncode() }
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    println("[scale] fixture torn down")
    spark.stop()
  }
}
