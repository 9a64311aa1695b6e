package graft.sources

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** SQL stored procedures for table MAINTENANCE — the Iceberg
  * `CALL catalog.system.<proc>(...)` surface over the versioned
  * format, riding Spark 4's native ProcedureCatalog hook (no parser
  * extension, no custom plan):
  *
  * {{{
  * CALL graft.system.optimize(table => 't1', target_mb => 128)
  * CALL graft.system.vacuum(table => 't1', keep_versions => 2)
  * CALL graft.system.restore(table => 't1', version => 3)
  * CALL graft.system.recluster(table => 't1', key => 'custkey')
  * }}}
  *
  * Maintenance is EXACTLY the lifecycle tier that fits procedures
  * rather than DML or DDL: each call is one library commit
  * ([[Versioned.compactSmallFiles]] bin-packing, branch-aware
  * [[Versioned.vacuum]], CAS'd [[Versioned.restore]],
  * violators-only [[Versioned.reclusterIncremental]]) with the same
  * conflict detection as every other writer, and each returns a
  * one-row summary relation (a [[LocalScan]] — the engine treats it
  * like any scanned source). Argument coercion, named-argument
  * binding and defaults are Spark's: parameters declare SQL default
  * expressions, so `CALL graft.system.optimize(table => 't1')`
  * compacts toward the default 128 MB target.
  */
private[sources] object GraftProcedures {

  val names: Seq[String] = Seq("optimize", "vacuum", "restore", "recluster",
    "zorder", "create_branch", "merge_branch", "drop_branch", "create_tag",
    "convert", "repo_commit", "repo_snapshot", "ann_ensure", "ann_reshard",
    "ann_stats", "ann_optimize_serving", "ann_vacuum", "ann_recall",
    "ann_tune", "ann_spill_preview", "ann_spill_tune")

  def load(cat: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty ||
      ident.namespace.toSeq == Seq("system"),
      s"unknown procedure namespace ${ident.namespace.mkString(".")}")
    def tablePath(args: InternalRow): String = {
      val parts = args.getUTF8String(0).toString.split('.')
      cat.pathOf(Identifier.of(parts.dropRight(1), parts.last))
    }
    ident.name.toLowerCase match {
      case "optimize" => proc("optimize",
        "optimize(table, target_mb): bin-pack small files toward target_mb",
        Seq(in("table", StringType),
          in("target_mb", IntegerType, Some("128"))),
        StructType(Seq(StructField("version", LongType),
          StructField("files", LongType)))) { (spark, args) =>
        val p = tablePath(args)
        val v = Versioned.compactSmallFiles(spark, p,
          args.getInt(1).toLong << 20)
        InternalRow(v, Versioned.snapshot(spark, p).files.size.toLong)
      }
      case "vacuum" => proc("vacuum",
        "vacuum(table, keep_versions, min_age_minutes): GC files " +
          "unreferenced by kept versions, branches and staged commits; " +
          "files younger than min_age_minutes are spared (in-flight " +
          "commit protection)",
        Seq(in("table", StringType),
          in("keep_versions", IntegerType, Some("2")),
          in("min_age_minutes", IntegerType, Some("0"))),
        StructType(Seq(StructField("deleted_files", LongType)))) {
        (spark, args) =>
          InternalRow(
            Versioned.vacuum(spark, tablePath(args), args.getInt(1),
              args.getInt(2).toLong * 60000L).toLong)
      }
      case "restore" => proc("restore",
        "restore(table, version): roll the table forward to an old " +
          "snapshot as a NEW commit (history stays intact)",
        Seq(in("table", StringType), in("version", LongType)),
        StructType(Seq(StructField("new_version", LongType)))) {
        (spark, args) =>
          InternalRow(
            Versioned.restore(spark, tablePath(args), args.getLong(1)))
      }
      case "recluster" => proc("recluster",
        "recluster(table, key, files): evolve the clustering key; only " +
          "files violating the new spec rewrite",
        Seq(in("table", StringType), in("key", StringType),
          in("files", IntegerType, Some("4"))),
        StructType(Seq(StructField("version", LongType)))) {
        (spark, args) =>
          InternalRow(Versioned.reclusterIncremental(spark, tablePath(args),
            args.getUTF8String(1).toString, args.getInt(2)))
      }
      case "zorder" => proc("zorder",
        "zorder(table, col_a, col_b, files): OPTIMIZE ZORDER — rewrite " +
          "Morton-interleaved on two dimensions so range reads on " +
          "EITHER prune",
        Seq(in("table", StringType), in("col_a", StringType),
          in("col_b", StringType), in("files", IntegerType, Some("4"))),
        StructType(Seq(StructField("version", LongType)))) {
        (spark, args) =>
          InternalRow(Versioned.zorderCommit(spark, tablePath(args),
            args.getUTF8String(1).toString, args.getUTF8String(2).toString,
            args.getInt(3)))
      }
      case "create_branch" => proc("create_branch",
        "create_branch(table, name, version): fork a zero-copy branch " +
          "at version (default latest); the branch is a full table",
        Seq(in("table", StringType), in("name", StringType),
          in("version", LongType, Some("-1"))),
        StructType(Seq(StructField("fork_version", LongType)))) {
        (spark, args) =>
          InternalRow(Branches.create(spark, tablePath(args),
            args.getUTF8String(1).toString, args.getLong(2)))
      }
      case "merge_branch" => proc("merge_branch",
        "merge_branch(table, name): publish the branch head onto the " +
          "parent (refused unless fast-forward from the fork point)",
        Seq(in("table", StringType), in("name", StringType)),
        StructType(Seq(StructField("new_version", LongType)))) {
        (spark, args) =>
          InternalRow(Branches.merge(spark, tablePath(args),
            args.getUTF8String(1).toString))
      }
      case "drop_branch" => proc("drop_branch",
        "drop_branch(table, name, force): delete a branch; refused if " +
          "the parent still references its files unless force",
        Seq(in("table", StringType), in("name", StringType),
          in("force", org.apache.spark.sql.types.BooleanType,
            Some("false"))),
        StructType(Seq(StructField("dropped",
          org.apache.spark.sql.types.BooleanType)))) {
        (spark, args) =>
          Branches.drop(spark, tablePath(args),
            args.getUTF8String(1).toString, args.getBoolean(2))
          InternalRow(true)
      }
      case "convert" => proc("convert",
        "convert(path, key): adopt an existing plain-parquet directory " +
          "as a versioned table in place — files referenced, never " +
          "rewritten; '' key = none",
        Seq(in("path", StringType), in("key", StringType, Some("''"))),
        StructType(Seq(StructField("version", LongType),
          StructField("files", LongType)))) { (spark, args) =>
        val p = args.getUTF8String(0).toString
        val key = Option(args.getUTF8String(1)).map(_.toString)
          .filter(_.nonEmpty)
        val v = Versioned.convertInPlace(spark, p, key)
        InternalRow(v, Versioned.snapshot(spark, p).files.size.toLong)
      }
      case "repo_commit" => procRows("repo_commit",
        "repo_commit(repo, tables, expected): atomically publish ONE " +
          "pointer manifest pinning each named member table " +
          "(comma-separated; 'name:version' pins an EXPLICIT version — " +
          "what a transaction that just landed its table commits should " +
          "pass, so a concurrent writer's half-done commit can never " +
          "leak into the pointer; a bare name pins the current latest, " +
          "safe only single-writer). Unnamed members carry forward; " +
          "expected = the repo version the transaction derived from " +
          "(-1 = latest). Returns the full pinned {table -> version} " +
          "map of the new repo version.",
        Seq(in("repo", StringType), in("tables", StringType),
          in("expected", LongType, Some("-1"))),
        repoPinSchema) { (spark, args) =>
        val repo = args.getUTF8String(0).toString
        val members = args.getUTF8String(1).toString
          .split(',').map(_.trim).filter(_.nonEmpty)
        require(members.nonEmpty, "repo_commit needs at least one table")
        val pins = members.map { spec =>
          // split limit -1: a trailing colon ('a:') must be a loud
          // error, never a silent fall-through to the bare-name
          // latest pin (the concurrent-writer leak explicit pins
          // exist to prevent)
          val (m, explicit) = spec.split(":", -1) match {
            case Array(n) => (n.trim, None)
            case Array(n, v) =>
              (n.trim, Some(try v.trim.toLong catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"repo_commit: bad table spec '$spec' " +
                      "(name or name:version)")
              }))
            case _ => throw new IllegalArgumentException(
              s"repo_commit: bad table spec '$spec' (name or name:version)")
          }
          val latest = Versioned.latestVersion(spark, Repo.tableRoot(repo, m))
          require(latest > 0, s"repo member $m has no commits at " +
            Repo.tableRoot(repo, m))
          // an explicit pin must name a REAL version: pointer manifests
          // are immutable, so a dangling pin would poison the repo
          // version (and every later carried map) permanently
          explicit.foreach(v => require(v > 0 && v <= latest,
            s"repo member $m has no version $v (latest: $latest)"))
          m -> explicit.getOrElse(latest)
        }.toMap
        val rv = Repo.commit(spark, repo, pins, args.getLong(2))
        Repo.snapshot(spark, repo, rv).toSeq.sortBy(_._1).map { case (t, v) =>
          InternalRow(rv,
            org.apache.spark.unsafe.types.UTF8String.fromString(t), v)
        }.toArray
      }
      case "repo_snapshot" => procRows("repo_snapshot",
        "repo_snapshot(repo, version): the pointer map {table -> " +
          "pinned version} at a repo version (-1 = latest) — the " +
          "consistent cross-table view a reader resolves",
        Seq(in("repo", StringType), in("version", LongType, Some("-1"))),
        repoPinSchema) { (spark, args) =>
        val repo = args.getUTF8String(0).toString
        val v0 = args.getLong(1)
        val rv = if (v0 > 0) v0 else Repo.latestVersion(spark, repo)
        Repo.snapshot(spark, repo, rv).toSeq.sortBy(_._1).map { case (t, v) =>
          InternalRow(rv,
            org.apache.spark.unsafe.types.UTF8String.fromString(t), v)
        }.toArray
      }
      // SQL door for the persisted ANN indexes (graft.vector.AnnIndex):
      // the index artifacts land as ordinary versioned tables UNDER
      // the index root's catalog namespace (ann_ensure(index_root =>
      // 'ix', ...) puts the IVF centroids at graft.ix.ivf_centroids —
      // queryable like any table), and re-CALLing on an unchanged
      // corpus is the documented zero-rebuild no-op: the returned
      // versions don't move. Serving is the graft_ann_search TVF.
      case "ann_ensure" => procRows("ann_ensure",
        "ann_ensure(index_root, table, id_col, emb_col, kind, k, m, " +
          "refresh_serving, spill): " +
          "build or incrementally refresh a persisted ANN index over " +
          "the table's embedding column — kind 'ivf' (k inverted " +
          "lists; k <= 0, the default, derives k from the corpus size " +
          "so per-list scan cost stays bounded as the corpus grows), " +
          "'pq' (m subspaces x k codes; m <= 0, the default, = the " +
          "largest divisor of the embedding width at most 16 — the " +
          "2.2M rehearsal read recall@10 0.875 at m=16 vs 0.600 " +
          "at m=8 at equal width/pool, for 2x the code bytes and ADC " +
          "cost; m must divide the embedding width, FAISS's d%m==0 " +
          "rule; k <= 0 = 16; new builds under an ivf root encode " +
          "RESIDUALS x - centroid, the FAISS recipe — existing raw " +
          "indexes keep their scheme), 'hnsw' " +
          "(sharded graph, m <= 0 = degree 8, shard count " +
          "corpus-derived); spill > 0 (ivf only) MULTI-ASSIGNS " +
          "boundary vectors to their second-nearest list when " +
          "d2 <= (1+spill) x d1 — the routing-recall lever at a " +
          "fixed nProbe (index and scan grow by the spill fraction " +
          "only; frozen at first build like k); only " +
          "not-yet-indexed ids are processed, against the frozen " +
          "trained structures; " +
          "refresh_serving => true chains ann_optimize_serving for the " +
          "kind (ivf lists / pq codes layout / hnsw shard layout) so " +
          "the serving layout lands fresh with the index commit",
        Seq(in("index_root", StringType), in("table", StringType),
          in("id_col", StringType), in("emb_col", StringType),
          in("kind", StringType, Some("'ivf'")),
          in("k", IntegerType, Some("-1")),
          // ONE m parameter serves two kinds (pq subspace count, hnsw
          // graph degree), so the default is the sentinel and each
          // kind resolves its own evidence-backed value below
          in("m", IntegerType, Some("-1")),
          in("refresh_serving", org.apache.spark.sql.types.BooleanType,
            Some("false")),
          // ivf only: MULTI-ASSIGNMENT slack (FAISS/ScaNN spilling) —
          // a vector whose second-nearest centroid is within
          // (1 + spill) x its nearest distance joins that list too.
          // The routing-recall lever at a fixed nProbe: the index and
          // scan grow by the spill fraction only. Frozen at first
          // build like k; 0 (the default) = single assignment
          in("spill", org.apache.spark.sql.types.DoubleType,
            Some("0.0"))),
        StructType(Seq(StructField("artifact", StringType),
          StructField("version", LongType)))) { (spark, args) =>
        import graft.vector.AnnIndex
        // both names resolve with the SAME dot-to-namespace rule, so a
        // namespaced root ('ns.ix') keeps its artifacts addressable as
        // graft.ns.ix.ivf_centroids — the documented contract
        def resolve(i: Int): String = resolvePath(cat, args, i)
        val root = resolve(0)
        val emb = VersionedScan.read(spark, resolve(1))
        val (idCol, embCol) = (args.getUTF8String(2).toString,
          args.getUTF8String(3).toString)
        val refreshServing = !args.isNullAt(7) && args.getBoolean(7)
        val spill = if (args.isNullAt(8)) 0.0 else args.getDouble(8)
        def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        val kindArg = args.getUTF8String(4).toString.toLowerCase
        require(spill == 0.0 || kindArg == "ivf",
          "ann_ensure: spill is the ivf tier's multi-assignment knob — " +
            "pq routes through the primary assignment only (residual " +
            "coherence) and the hnsw graph has no lists; pass spill " +
            "with kind => 'ivf'")
        kindArg match {
          case "ivf" =>
            // the Current form: the corpus identity is the table the
            // door resolved, so an unchanged (corpus, index) pair
            // re-ensures with ZERO Spark jobs (the landDelta
            // classification join — a full corpus pass at 100 TB —
            // runs only when a generation actually moved)
            val (cv, av) = AnnIndex.ensureIvfCurrent(spark, root,
              resolve(1), idCol, embCol, args.getInt(5), spill)
            val base = Array(InternalRow(u("ivf_centroids"), cv),
              InternalRow(u("ivf_assignments"), av))
            if (!refreshServing) base
            else base :+ InternalRow(u("ivf_lists"),
              AnnIndex.optimizeIvfServing(spark, root, resolve(1),
                idCol, embCol))
          case "pq" =>
            // checked BEFORE any commit lands: refresh_serving derives
            // the codes layout from the IVF routing, and failing AFTER
            // ensurePq committed would strand a partial effect behind
            // a confusing error
            if (refreshServing) require(Versioned.latestVersion(spark,
              AnnIndex.ivfAssignmentsTable(root)) > 0,
              "ann_ensure: refresh_serving on the pq kind derives the " +
                "cid-clustered codes layout from the IVF routing — " +
                "ensure kind 'ivf' under this root first")
            // PQ's k is codes-per-subspace (codebook size), not a
            // list count — no corpus-derived rule; <= 0 = the
            // historical default. m <= 0 = the LARGEST DIVISOR of the
            // embedding width at most 16: the r15 2.2M rehearsal read
            // committed-door recall@10 0.875 at m=16 vs 0.600 at m=8
            // (nProbe=32, pool=256) — within 0.05 of the IVF routing
            // ceiling — for 2x the code bytes, encode and ADC cost;
            // and m must divide the width (FAISS's d%m==0 rule), so a
            // fixed default would hard-error on widths like 24 or 40
            // that the old m=8 built fine. Recall-vs-cost callers
            // pass m explicitly. The width read is one stats-bounded
            // 1-row job, paid only on defaulted calls.
            val mPq =
              if (args.getInt(6) > 0) args.getInt(6)
              else {
                import org.apache.spark.sql.functions.{col, size}
                emb.filter(col(embCol).isNotNull)
                  .select(size(col(embCol))).limit(1)
                  .collect().headOption.map(_.getInt(0))
                  // the divisor search also honors trainBooks'
                  // scalar-degenerate bound (AnnIndex.pqSubspacesOk —
                  // the ONE shared predicate): a width-2 corpus
                  // defaults to m=1, never a refused m=2
                  .flatMap(d =>
                    (16 to 1 by -1).find(m => d % m == 0 &&
                      AnnIndex.pqSubspacesOk(d, m)))
                  .getOrElse(16)
              }
            val (bv, cv) = AnnIndex.ensurePqCurrent(spark, root,
              resolve(1), idCol, embCol, mPq,
              if (args.getInt(5) > 0) args.getInt(5) else 16)
            val base = Array(InternalRow(u("pq_codebooks"), bv),
              InternalRow(u("pq_codes"), cv))
            if (!refreshServing) base
            else base :+ InternalRow(u("pq_lists"),
              AnnIndex.optimizePqServing(spark, root, idCol))
          case "hnsw" =>
            // hnsw reads the same parameter as its graph DEGREE —
            // unchanged default 8 (the pq default moving to 16 must
            // not silently rebuild every hnsw root's graphs)
            val ev = AnnIndex.ensureNswCurrent(spark, root, resolve(1),
              idCol, embCol,
              m = if (args.getInt(6) > 0) args.getInt(6) else 8)
            val base = Array(InternalRow(u("nsw_edges"), ev))
            if (!refreshServing) base
            else base :+ InternalRow(u("nsw_layout"),
              AnnIndex.optimizeNswServing(spark, root, resolve(1),
                idCol, embCol))
          case other => throw new IllegalArgumentException(
            s"ann_ensure: unknown kind '$other' (ivf | pq | hnsw)")
        }
      }
      // shard-count migration for a grown HNSW corpus: one commit,
      // bit-identical to a fresh build at the new count, history kept
      // (the operational alternative to drop-root retrain — see
      // AnnIndex.reshardNsw and the nswShardTarget sizing rule)
      case "ann_reshard" => proc("ann_reshard",
        "ann_reshard(index_root, table, id_col, emb_col, shards, " +
          "refresh_serving): migrate the committed HNSW index to a new " +
          "shard count as ONE commit (shards must track corpus size: " +
          "~2^18 vectors per shard); time travel to the pre-reshard " +
          "graph still works; a reshard STALES the shard-clustered " +
          "serving layout by construction (its stamp names the shard " +
          "count), so refresh_serving => true chains " +
          "ann_optimize_serving — nsw_layout_version is -1 when not " +
          "chained",
        Seq(in("index_root", StringType), in("table", StringType),
          in("id_col", StringType), in("emb_col", StringType),
          in("shards", IntegerType),
          in("refresh_serving", org.apache.spark.sql.types.BooleanType,
            Some("false"))),
        StructType(Seq(StructField("version", LongType),
          StructField("nsw_layout_version", LongType)))) { (spark, args) =>
        def resolve(i: Int): String = resolvePath(cat, args, i)
        val (root, corpus) = (resolve(0), resolve(1))
        val (idCol, embCol) = (args.getUTF8String(2).toString,
          args.getUTF8String(3).toString)
        val v = graft.vector.AnnIndex.reshardNsw(spark, root,
          VersionedScan.read(spark, corpus), idCol, embCol,
          args.getInt(4))
        val lv = if (!args.isNullAt(5) && args.getBoolean(5))
          graft.vector.AnnIndex.optimizeNswServing(spark, root, corpus,
            idCol, embCol)
        else -1L
        InternalRow(v, lv)
      }
      // derived inverted-list serving layout for the IVF tier: the
      // corpus vectors clustered by list id with per-file cid stats, so
      // a probe's candidate scan manifest-prunes to ~nProbe/k of the
      // files (the IVF promise at the I/O level). Stamped with the
      // (assignments, corpus) identity it derives from — serving falls
      // back to the join plan the moment either moves, so the layout
      // can never serve stale rows; re-CALL after a batch of ensures
      // to refresh (an up-to-date layout returns without committing).
      case "ann_optimize_serving" => proc("ann_optimize_serving",
        "ann_optimize_serving(index_root, table, id_col, emb_col, " +
          "kind, force): build or refresh the derived serving layout " +
          "— kind 'ivf' commits the cid-clustered corpus lists " +
          "(graft_ann_search's ivf kind file-prunes to the probed " +
          "lists while the stamp is fresh), 'pq' the cid-clustered " +
          "CODES layout (the ADC scan streams only the probed lists' " +
          "code files), 'hnsw' the shard-clustered corpus layout (a " +
          "warm serve that lost shards re-reads ONLY those shards' " +
          "files instead of the whole corpus); a stale layout " +
          "refreshes O(delta); force => true re-clusters even when " +
          "fresh — the door for restoring pruning granularity after " +
          "a whole-layout OPTIMIZE compaction",
        Seq(in("index_root", StringType), in("table", StringType),
          in("id_col", StringType), in("emb_col", StringType),
          in("kind", StringType, Some("'ivf'")),
          in("force", org.apache.spark.sql.types.BooleanType,
            Some("false"))),
        StructType(Seq(StructField("version", LongType)))) { (spark, args) =>
        def resolve(i: Int): String = resolvePath(cat, args, i)
        import graft.vector.AnnIndex
        val idc = args.getUTF8String(2).toString
        val emc = args.getUTF8String(3).toString
        val force = !args.isNullAt(5) && args.getBoolean(5)
        InternalRow(args.getUTF8String(4).toString.toLowerCase match {
          case "ivf" =>
            AnnIndex.optimizeIvfServing(spark, resolve(0), resolve(1),
              idc, emc, force = force)
          case "pq" =>
            AnnIndex.optimizePqServing(spark, resolve(0), idc, force)
          case "hnsw" =>
            AnnIndex.optimizeNswServing(spark, resolve(0), resolve(1),
              idc, emc, force = force)
          case other => throw new IllegalArgumentException(
            s"ann_optimize_serving: unknown kind '$other' (ivf | pq | hnsw)")
        })
      }
      // serving observability for the persisted ANN indexes: artifact
      // versions (0 = kind not committed) + the executor-resident
      // shard-graph cache counters — builds vs hits is how an operator
      // sees whether a retrieval session is WARM (the difference
      // between a sub-second serve and a corpus cogroup). Counters are
      // JVM-cumulative; in local mode executors share this JVM so they
      // describe the whole session, on a cluster this reads the
      // driver's (see AnnIndex.serveStats).
      case "ann_stats" => procRows("ann_stats",
        "ann_stats(index_root[, table]): committed artifact versions " +
          "and serve-cache counters (reconstructions vs cache hits) " +
          "for a persisted ANN index — the warm-session observability " +
          "view; pq_lists_fresh always, and with the corpus table " +
          "named also ivf_lists_fresh, " +
          "ivf_lists_stamped_assignments_version and nsw_layout_fresh " +
          "(0 = that derived layout went stale and serving fell back " +
          "to the join plan or the full cogroup — re-CALL " +
          "ann_optimize_serving to restore file-pruned serving)",
        Seq(in("index_root", StringType),
          in("table", StringType, Some("''"))),
        StructType(Seq(StructField("metric", StringType),
          StructField("value", LongType)))) { (spark, args) =>
        import graft.vector.AnnIndex
        def resolve(i: Int): String = resolvePath(cat, args, i)
        val root = resolve(0)
        def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        val versions = Seq(
          "ivf_centroids_version" -> AnnIndex.ivfCentroidsTable(root),
          "ivf_assignments_version" -> AnnIndex.ivfAssignmentsTable(root),
          "pq_codebooks_version" -> AnnIndex.pqCodebooksTable(root),
          "pq_codes_version" -> AnnIndex.pqCodesTable(root),
          "ivf_lists_version" -> AnnIndex.ivfListsTable(root),
          "pq_lists_version" -> AnnIndex.pqListsTable(root),
          "nsw_edges_version" -> AnnIndex.nswEdgesTable(root),
          "nsw_layout_version" -> AnnIndex.nswLayoutTable(root))
          .map { case (m, t) => m -> Versioned.latestVersion(spark, t) } :+
          // the frozen multi-assignment eps (x 1e6; 0 = single
          // assignment, -1 = no ivf assignments) — how an operator
          // reads back the routing-recall lever a root was built with
          ("ivf_spill_eps_e6" -> AnnIndex.spillEpsE6(spark, root))
        // lists freshness is relative to a corpus identity, so it only
        // reports when the caller names the table
        val corpus = args.getUTF8String(1).toString
        // pq_lists freshness is artifact-internal — it reports with or
        // without the corpus table
        val freshness =
          (AnnIndex.pqListsFreshness(spark, root) ++
            (if (corpus.isEmpty) Map.empty[String, Long]
             else AnnIndex.listsFreshness(spark, root, resolve(1)) ++
               AnnIndex.nswLayoutFreshness(spark, root, resolve(1))))
            .toSeq.sortBy(_._1)
        (versions ++ freshness ++ AnnIndex.serveStats(spark, root).toSeq.sortBy(_._1))
          .map { case (m, v) => InternalRow(u(m), v) }.toArray
      }
      // recall is data- and scale-dependent, so tuning the width knob
      // (nProbe for ivf/pq, ef for hnsw) needs a MEASUREMENT against
      // the exact oracle — one broadcast cosine pass over the corpus,
      // an audit op for maintenance windows, never the serve path
      case "ann_recall" => proc("ann_recall",
        "ann_recall(index_root, table, id_col, emb_col, kind, probes, " +
          "k, width): measured recall@k of the committed index vs the " +
          "exact cosine oracle over the `probes` lowest-id corpus rows " +
          "— width = nProbe (ivf/pq) or ef (hnsw), served through the " +
          "same committed door graft_ann_search uses; recall_e6 is " +
          "recall x 1e6",
        Seq(in("index_root", StringType), in("table", StringType),
          in("id_col", StringType), in("emb_col", StringType),
          in("kind", StringType),
          in("probes", IntegerType, Some("16")),
          in("k", IntegerType, Some("10")),
          in("width", IntegerType, Some("8"))),
        StructType(Seq(StructField("recall_e6", LongType),
          StructField("oracle_pairs", LongType)))) { (spark, args) =>
        def resolve(i: Int): String = resolvePath(cat, args, i)
        val (r, n) = graft.vector.AnnIndex.measureRecall(spark,
          resolve(0), resolve(1), args.getUTF8String(2).toString,
          args.getUTF8String(3).toString, args.getUTF8String(4).toString,
          args.getInt(5), args.getInt(6), args.getInt(7))
        InternalRow(math.round(r * 1e6), n)
      }
      // ann_recall measures recall AT a width; ann_tune answers the
      // question the operator actually has — "recall >= target,
      // cheapest width" — by walking the doubling width ladder through
      // the SAME memoized oracle (one brute-force pass for the whole
      // sweep) and stopping at the first width that meets the target
      case "ann_tune" => procRows("ann_tune",
        "ann_tune(index_root, table, id_col, emb_col, kind, k, " +
          "target_recall, probes, max_width): walk the width ladder " +
          "(doubling — nProbe for ivf/pq, ef for hnsw; the hnsw " +
          "ladder starts at k) through the memoized exact-recall " +
          "oracle and return the measured curve, stopping at the " +
          "FIRST width whose recall@k meets the target (chosen = " +
          "true on that row — the cheapest width for the recall " +
          "goal); on the pq kind the rerank pool CO-WALKS the ladder " +
          "(pool = the door's own width-scaled formula, reported per " +
          "rung; -1 for other kinds) — the lever order is m (retrain) " +
          "-> pool -> nProbe; a target the index cannot meet at " +
          "max_width refuses loudly, naming max_width's measured " +
          "recall. SCHEMA NOTE (r16): the pool column is a TRAILING " +
          "add to the r15 (width, recall_e6, chosen) row — name-based " +
          "consumers are unaffected; positional readers of column 3 " +
          "must switch to names",
        Seq(in("index_root", StringType), in("table", StringType),
          in("id_col", StringType), in("emb_col", StringType),
          in("kind", StringType),
          in("k", IntegerType, Some("10")),
          in("target_recall", DoubleType, Some("0.9D")),
          in("probes", IntegerType, Some("16")),
          in("max_width", IntegerType, Some("256"))),
        StructType(Seq(StructField("width", IntegerType),
          StructField("recall_e6", LongType),
          StructField("chosen", BooleanType),
          StructField("pool", IntegerType)))) { (spark, args) =>
        def resolve(i: Int): String = resolvePath(cat, args, i)
        val target = args.getDouble(6)
        graft.vector.AnnIndex.tuneWidth(spark, resolve(0), resolve(1),
          args.getUTF8String(2).toString, args.getUTF8String(3).toString,
          args.getUTF8String(4).toString, args.getInt(7), args.getInt(5),
          target, args.getInt(8))
          .map { case (w, r, _, pool) =>
            InternalRow(w, math.round(r * 1e6), r >= target, pool)
          }.toArray
      }
      // ann_tune picks the WIDTH for a recall target; this picks the
      // SPILL eps by its price — the fraction of the corpus that
      // would multi-assign (= the index/scan growth) at each rung,
      // measured against the root's own committed centroids in ONE
      // assignment-cost pass, zero commits. An audit op: run it
      // before paying a spilled build.
      case "ann_spill_preview" => procRows("ann_spill_preview",
        "ann_spill_preview(index_root, table, id_col, emb_col, " +
          "max_eps): the spill-fraction curve — for each eps on the " +
          "doubling ladder up to max_eps (0.01 0.02 0.04 ... " +
          "max_eps), the fraction of the corpus whose second-nearest " +
          "centroid lies within (1+eps) x the nearest distance, i.e. " +
          "what ann_ensure(spill => eps) would multi-assign; the " +
          "fraction IS the knob's price (index and scan grow by it) " +
          "— one pass against the root's committed IVF centroids, " +
          "nothing committed; recall per rung needs a built root " +
          "(ann_recall / ann_tune)",
        Seq(in("index_root", StringType), in("table", StringType),
          in("id_col", StringType), in("emb_col", StringType),
          in("max_eps", DoubleType, Some("0.2D"))),
        StructType(Seq(StructField("eps_e6", LongType),
          StructField("spilled_fraction_e6", LongType),
          StructField("spilled_rows", LongType),
          StructField("rows", LongType)))) { (spark, args) =>
        def resolve(i: Int): String = resolvePath(cat, args, i)
        val maxEps = args.getDouble(4)
        require(maxEps > 0.0,
          s"ann_spill_preview: max_eps must be positive, got $maxEps")
        // doubling ladder from 0.01, capped at max_eps (always
        // included) — the same walk shape ann_tune uses for widths
        val ladder = (Iterator.iterate(0.01)(_ * 2)
          .takeWhile(_ < maxEps).toSeq :+ maxEps).distinct
        graft.vector.AnnIndex.spillCurve(spark, resolve(0),
          VersionedScan.read(spark, resolve(1)),
          args.getUTF8String(2).toString, args.getUTF8String(3).toString,
          ladder)
          .map { case (e, s, n) =>
            InternalRow(math.round(e * 1e6),
              if (n == 0L) 0L else math.round(s.toDouble / n * 1e6),
              s, n)
          }.toArray
      }
      // the spill knob's PICK step (r17): ann_spill_preview prices
      // eps, ann_recall/ann_tune value a BUILT root — this composes
      // them, answering "cheapest (eps, nProbe) meeting the target"
      // the way ann_tune answers it for width alone. Each un-pruned
      // rung pays one assignment-cost shadow build against the
      // root's own frozen centroids; the exact oracle is ONE
      // memoized brute-force pass for the whole grid. The width-only
      // form (ann_tune) stays the default pick step; reach for this
      // when the tune curve says routing (not pool/m) binds recall.
      case "ann_spill_tune" => procRows("ann_spill_tune",
        "ann_spill_tune(index_root, table, id_col, emb_col, k, " +
          "target_recall, probes, max_width, max_eps): joint " +
          "(eps, width) selection for the IVF spill knob — walk a " +
          "deliberately SHORT two-rung eps ladder (max_eps/2, " +
          "max_eps; plain 0 first as the width-only baseline), each " +
          "rung a SHADOW build from the root's committed centroids " +
          "(assignment cost, torn down after, the root untouched), " +
          "and each rung's doubling width walk stops at its first " +
          "target-meeting width; chosen = true on the CHEAPEST pair " +
          "by cost = width x (1 + spill fraction), the expected " +
          "scanned-rows proxy; rungs the preview fraction prices out " +
          "are skipped without a build (width = -1); ties prefer the " +
          "smaller eps; apply the winner with ann_ensure(spill => " +
          "eps) on a fresh root; an unmeetable target refuses " +
          "naming the best-achievable (eps, width, recall)",
        Seq(in("index_root", StringType), in("table", StringType),
          in("id_col", StringType), in("emb_col", StringType),
          in("k", IntegerType, Some("10")),
          in("target_recall", DoubleType, Some("0.9D")),
          in("probes", IntegerType, Some("16")),
          in("max_width", IntegerType, Some("256")),
          in("max_eps", DoubleType, Some("0.05D"))),
        StructType(Seq(StructField("eps_e6", LongType),
          StructField("spilled_fraction_e6", LongType),
          StructField("width", IntegerType),
          StructField("recall_e6", LongType),
          StructField("cost_e6", LongType),
          StructField("chosen", BooleanType)))) { (spark, args) =>
        def resolve(i: Int): String = resolvePath(cat, args, i)
        val maxEps = args.getDouble(8)
        require(maxEps > 0.0,
          s"ann_spill_tune: max_eps must be positive, got $maxEps")
        graft.vector.AnnIndex.tuneSpill(spark, resolve(0), resolve(1),
          args.getUTF8String(2).toString, args.getUTF8String(3).toString,
          args.getInt(6), args.getInt(4), args.getDouble(5),
          args.getInt(7), Seq(maxEps / 2, maxEps).distinct)
          .map { case (e, f, w, r, c, chosen) =>
            InternalRow(math.round(e * 1e6), math.round(f * 1e6), w,
              if (r < 0) -1L else math.round(r * 1e6),
              if (c < 0) -1L else math.round(c * 1e6), chosen)
          }.toArray
      }
      // retrain/reshard/re-optimize all land NEW generations and keep
      // history (CAS commits), so a long-lived serving root
      // accumulates dead data files until they are reclaimed —
      // per-artifact vacuum with the SAME retention semantics as the
      // table-level procedure (kept versions + in-flight age guard).
      // Committed artifact tables only; absent tiers report nothing.
      case "ann_vacuum" => procRows("ann_vacuum",
        "ann_vacuum(index_root, keep_versions, min_age_minutes): GC " +
          "dead index generations — vacuums every committed artifact " +
          "table under the root (centroids/assignments/codebooks/" +
          "codes/lists/edges/layout), one row per artifact with the " +
          "reclaimed file count",
        Seq(in("index_root", StringType),
          in("keep_versions", IntegerType, Some("2")),
          in("min_age_minutes", IntegerType, Some("0"))),
        StructType(Seq(StructField("artifact", StringType),
          StructField("deleted_files", LongType)))) { (spark, args) =>
        import graft.vector.AnnIndex
        val root = resolvePath(cat, args, 0)
        val keep = args.getInt(1)
        val ageMs = args.getInt(2).toLong * 60000L
        def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        Seq(
          "ivf_centroids" -> AnnIndex.ivfCentroidsTable(root),
          "ivf_assignments" -> AnnIndex.ivfAssignmentsTable(root),
          "ivf_lists" -> AnnIndex.ivfListsTable(root),
          "pq_codebooks" -> AnnIndex.pqCodebooksTable(root),
          "pq_codes" -> AnnIndex.pqCodesTable(root),
          "pq_lists" -> AnnIndex.pqListsTable(root),
          "nsw_edges" -> AnnIndex.nswEdgesTable(root),
          "nsw_layout" -> AnnIndex.nswLayoutTable(root))
          .filter { case (_, t) => Versioned.latestVersion(spark, t) > 0L }
          .map { case (n, t) =>
            InternalRow(u(n), Versioned.vacuum(spark, t, keep, ageMs).toLong)
          }.toArray
      }
      case "create_tag" => proc("create_tag",
        "create_tag(table, name, version): immutable named version " +
          "pointer (create-exclusive — re-tagging a name fails)",
        Seq(in("table", StringType), in("name", StringType),
          in("version", LongType, Some("-1"))),
        StructType(Seq(StructField("version", LongType)))) {
        (spark, args) =>
          InternalRow(Branches.tag(spark, tablePath(args),
            args.getUTF8String(1).toString, args.getLong(2)))
      }
      case other => throw new UnsupportedOperationException(
        s"no procedure $other; available: ${names.mkString(", ")}")
    }
  }

  /** Dot-to-namespace argument resolution, shared by every procedure
    * that names a table or index root ('ns.t' addresses the catalog's
    * ns namespace) — ONE definition so the surfaces cannot diverge. */
  private def resolvePath(cat: GraftCatalog, args: InternalRow,
      i: Int): String = {
    val parts = args.getUTF8String(i).toString.split('.')
    cat.pathOf(Identifier.of(parts.dropRight(1), parts.last))
  }

  private def in(name: String, dt: DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  private val repoPinSchema = StructType(Seq(
    StructField("repo_version", LongType),
    StructField("table", StringType),
    StructField("version", LongType)))

  /** One-row-result procedure: `body` runs the maintenance commit and
    * returns the summary row; the scan handed back is LOCAL (the
    * result is driver metadata — the distributed work happened inside
    * the library call as ordinary Spark jobs). */
  private def proc(procName: String, desc: String,
      params: Seq[ProcedureParameter], resultSchema: StructType)(
      body: (SparkSession, InternalRow) => InternalRow): UnboundProcedure =
    procRows(procName, desc, params, resultSchema)(
      (spark, args) => Array(body(spark, args)))

  /** Multi-row variant (repo pointer maps): same LocalScan contract,
    * `body` returns every result row. */
  private def procRows(procName: String, desc: String,
      params: Seq[ProcedureParameter], resultSchema: StructType)(
      body: (SparkSession, InternalRow) => Array[InternalRow]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): JIterator[Scan] = {
        val resultRows = body(SparkSession.active, input)
        Collections.singletonList[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = resultRows
          override def readSchema(): StructType = resultSchema
          override def toString: String = s"GraftProcedureResult($procName)"
        }).iterator()
      }
    }
}
