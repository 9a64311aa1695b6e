package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{SimHashAgg, VectorCosineSim, VectorDot, VectorL2Distance, VectorL2Norm}

/** SparkSessionExtensions entry point: registers graft's custom
  * Catalyst expressions in the SQL function registry, so the SQL front
  * door reaches them (`SELECT vec_cosine_sim(a, b) ...`) exactly like
  * the Column API — one engine surface, two dialects. Wire with
  * `.withExtensions(new GraftExtensions)` (Sessions.local does) or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Four injection kinds and no more: scalar/aggregate expressions,
  * table-valued functions over the versioned format (`graft_table`,
  * `graft_history`, `graft_files` — SQL time travel with the same
  * manifest file-skipping as the Column API), ONE optimizer rule
  * ([[graft.plans.MetadataOnlyCount]] — global count(*) over a
  * versioned scan folds to the manifest's row sum, Delta's
  * OptimizeMetadataOnlyQuery move), and ONE resolution rule
  * ([[graft.plans.GraftDmlRewrite]] — UPDATE/MERGE INTO over a graft
  * catalog table become RunnableCommands, Delta's MergeIntoCommand
  * pattern). SURVEY §4.2's conclusion — no custom physical plans or
  * strategies — still holds: the TVFs resolve to plans built from
  * EXISTING relations (VersionedScan's HadoopFsRelation), the
  * optimizer rule only REPLACES a subtree with a LocalRelation, and
  * the DML commands plan through the stock ExecutedCommandExec;
  * Catalyst plans everything with stock operators.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer rule: global COUNT(*) over a versioned scan collapses
    // to the manifest's precomputed row sum (Delta's
    // OptimizeMetadataOnlyQuery move) — see graft.plans.MetadataOnlyCount.
    ext.injectOptimizerRule(graft.plans.MetadataOnlyCount.apply)
    // Optimizer rule: catalog reads of graft tables inline the native
    // file-scan plan (Delta's relation-inline move) — restores exact
    // manifest statistics (auto-broadcast), metadata-only aggregates
    // and full pushdown that the V1Scan fallback bridge hides — see
    // graft.plans.GraftScanInline.
    ext.injectOptimizerRule(graft.plans.GraftScanInline.apply)
    // Resolution rule: UPDATE / MERGE INTO over a graft catalog table
    // rewrite to RunnableCommands orchestrating one atomic
    // copy-on-write commit each (Delta's MergeIntoCommand pattern) —
    // see graft.plans.GraftDmlRewrite. DELETE FROM needs no rule: the
    // table implements SupportsDeleteV2, Spark's native hook.
    ext.injectResolutionRule(_ => new graft.plans.GraftDmlRewrite)
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vec_l2"),
      info("vec_l2", "vec_l2(a, b) - Euclidean distance between two arrays"),
      (args: Seq[Expression]) => VectorL2Distance(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vec_cosine_sim"),
      info("vec_cosine_sim", "vec_cosine_sim(a, b) - cosine similarity in [-1, 1]"),
      (args: Seq[Expression]) => VectorCosineSim(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(a) - L2 norm of an array"),
      (args: Seq[Expression]) => VectorL2Norm(args(0))))
    ext.injectFunction((FunctionIdentifier("simhash_agg"),
      info("simhash_agg", "simhash_agg(h) - 60-bit SimHash over 64-bit token hashes"),
      (args: Seq[Expression]) => SimHashAgg(args(0)).toAggregateExpression()))
    // Spark ships Bloom-filter expressions for its internal runtime
    // filters but does not register them publicly; exposing them makes
    // the sketch-accelerated join pattern (build on the small side,
    // pre-filter the big side before the shuffle) directly expressible
    // — see q47.
    ext.injectFunction((FunctionIdentifier("bloom_filter_agg"),
      info("bloom_filter_agg",
        "bloom_filter_agg(xxhash64(x), estItems, numBits) - build a Bloom filter"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("might_contain"),
      info("might_contain",
        "might_contain(bf, xxhash64(x)) - probabilistic membership; false negatives never occur"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args(0), args(1))))
    // Curation primitives, as raw Catalyst trees (a Column built from
    // `functions._` wraps unresolved ColumnNodes that cannot embed in a
    // registry builder — the analyzer never descends into them). Parity
    // with the Column-API versions (CurationQueries.mdBucket,
    // ZOrder.interleave16) is pinned in ZOrderSpec; q59 gates the SQL
    // path against DuckDB.
    ext.injectFunction((FunctionIdentifier("md_bucket"),
      info("md_bucket",
        "md_bucket(key) - deterministic md5 hash bucket in [0, 1000); the reproducible sampling gate"),
      (args: Seq[Expression]) => CurationExprs.mdBucket(args(0))))
    ext.injectFunction((FunctionIdentifier("zorder_key"),
      info("zorder_key",
        "zorder_key(a, b) - Morton interleave of the low 16 bits of two non-negative ints"),
      (args: Seq[Expression]) => CurationExprs.interleave16(args(0), args(1))))

    // Table-valued functions: the SQL front door to the versioned
    // table format. `graft_table` resolves to the SAME
    // VersionedFileIndex-backed relation the Column API reads
    // (VersionedScan.read), so SQL `WHERE` predicates prune manifest
    // files in-plan exactly like df.filter — pinned in SqlTvfSpec.
    // The second argument is `VERSION AS OF` (integer) or `TIMESTAMP
    // AS OF` (timestamp literal, resolved through the commit-ts walk
    // in Versioned.snapshotAsOf). Arguments must be foldable — they
    // are evaluated at resolution time, which is also when the
    // manifest is pinned (snapshot isolation: a concurrent commit
    // cannot shift an already-resolved query).
    ext.injectTableFunction((FunctionIdentifier("graft_table"),
      info("graft_table",
        "graft_table(path[, version|timestamp]) - versioned-table snapshot as a relation with manifest file-skipping"),
      (args: Seq[Expression]) => GraftTvfs.table(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_history"),
      info("graft_history",
        "graft_history(path) - the table's commit log (DESCRIBE HISTORY)"),
      (args: Seq[Expression]) => GraftTvfs.history(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_files"),
      info("graft_files",
        "graft_files(path[, version]) - the snapshot's manifest as rows (file, rows, bytes, per-column stats)"),
      (args: Seq[Expression]) => GraftTvfs.files(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_branches"),
      info("graft_branches",
        "graft_branches(path) - branch inventory (branch, fork_version, head_version)"),
      (args: Seq[Expression]) => GraftTvfs.branches(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_tags"),
      info("graft_tags",
        "graft_tags(path) - tag inventory (tag, version)"),
      (args: Seq[Expression]) => GraftTvfs.tags(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_diff"),
      info("graft_diff",
        "graft_diff(path, key, fromVersion, toVersion) - keyed change feed (table_changes) as rows"),
      (args: Seq[Expression]) => GraftTvfs.diff(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_scd2"),
      info("graft_scd2",
        "graft_scd2(path, key) - the commit log's SCD2 expansion: one row per (key, value-state) with [valid_from, valid_to) version bounds"),
      (args: Seq[Expression]) => GraftTvfs.scd2(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_repo"),
      info("graft_repo",
        "graft_repo(path[, repoVersion]) - the repo pointer as rows (member, version)"),
      (args: Seq[Expression]) => GraftTvfs.repo(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_row_ids"),
      info("graft_row_ids",
        "graft_row_ids(path[, version]) - snapshot rows plus the stable _row_id (row tracking: manifest baseRowId + in-file position)"),
      (args: Seq[Expression]) => GraftTvfs.rowIds(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_repo_table"),
      info("graft_repo_table",
        "graft_repo_table(path, member[, repoVersion]) - a member table pinned by the repo pointer"),
      (args: Seq[Expression]) => GraftTvfs.repoTable(args)))
    ext.injectTableFunction((FunctionIdentifier("graft_ann_search"),
      info("graft_ann_search",
        "graft_ann_search(indexRoot, tablePath, idCol, embCol, probeId | array(probeIds) | array<float> queryVector, k[, nProbe][, kind][, filter][, TIMESTAMP asOf]) - approximate top-k over a COMMITTED ANN index (CALL graft.system.ann_ensure builds it); kind 'ivf' | 'pq' | 'hnsw', auto-detected when the root holds exactly one; the integral tail is the tier's search-width knob — nProbe (probed lists) for ivf/pq, ef (beam width) for hnsw; a string tail naming no kind is a FILTER predicate over the corpus columns (prefiltered search on the routing tiers: membership exact, ranking routing-approximate; widen nProbe when the filter is selective; filtered results carry a fill column — rows returned for the probe, < k = under-filled); the probe is a row id (its stored embedding), an ARRAY of ids (one batch plan, result gains a probe_id column), or an ad-hoc query vector that need not be a corpus row — one FRACTIONAL array literal, or an ARRAY of them (a question batch through one plan, probe_id = batch position); a TIMESTAMP tail argument serves the index (and corpus) AS OF that instant"),
      (args: Seq[Expression]) => GraftTvfs.annSearch(args)))
  }
}

/** Builders behind the graft_* table-valued functions: evaluate the
  * foldable SQL arguments, delegate to the versioned read paths, and
  * hand the analyzer the resulting logical plan. */
private[graft] object GraftTvfs {
  import org.apache.spark.sql.{GraftShims, SparkSession}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.types.{StringType, TimestampType, TimestampNTZType}

  import graft.sources.{Branches, Versioned, VersionedScan}

  private def arg(e: Expression, what: String): Any = {
    require(e.foldable, s"graft TVF $what argument must be a literal")
    e.eval()
  }

  /** Epoch millis of a foldable timestamp argument. TimestampType
    * literals eval to epoch MICROseconds directly; a TimestampNTZ
    * literal carries a zoneless wall-clock LocalDateTime, which this
    * interprets in the SESSION timezone (the same convention Spark's
    * own NTZ→instant casts use) — so an embedder running a non-UTC
    * session resolves AS OF to the instant the user's wall clock
    * named, never one shifted by the session offset. */
  private def tsArgMillis(e: Expression, what: String): Long = {
    val micros = arg(e, what).asInstanceOf[Long]
    e.dataType match {
      case TimestampNTZType =>
        // DateTimeUtils.getZoneId, not ZoneId.of: Spark's conf accepts
        // short ids ("PST") and unpadded offsets ("+8:00") that the
        // bare JDK parser throws on — resolve them the way Spark does
        val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .getZoneId(SparkSession.active
            .sessionState.conf.sessionLocalTimeZone)
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToLocalDateTime(micros).atZone(zone).toInstant.toEpochMilli
      case _ => micros / 1000L
    }
  }

  private def pathOf(args: Seq[Expression]): String =
    String.valueOf(arg(args.head, "path"))

  def table(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.size <= 2,
      "usage: graft_table(path[, version|timestamp|tag])")
    val spark = SparkSession.active
    val path = pathOf(args)
    val df = if (args.size == 1) VersionedScan.read(spark, path)
    else args(1).dataType match {
      case TimestampType | TimestampNTZType =>
        val ver = Versioned.snapshotAsOf(spark, path,
          tsArgMillis(args(1), "timestamp")).version
        VersionedScan.read(spark, path, ver)
      case StringType =>
        // a string second argument is a TAG — the immutable named
        // version pointer (Branches.tag); resolution is one tiny
        // metadata read, then the same pinned-manifest scan
        val ver = Branches.tagVersion(spark, path,
          String.valueOf(arg(args(1), "tag")))
        VersionedScan.read(spark, path, ver)
      case _ =>
        VersionedScan.read(spark, path,
          arg(args(1), "version").asInstanceOf[Number].longValue)
    }
    GraftShims.logicalPlan(df)
  }

  def scd2(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2, "usage: graft_scd2(path, key)")
    val spark = SparkSession.active
    GraftShims.logicalPlan(Versioned.dimensionHistory(spark, pathOf(args),
      String.valueOf(arg(args(1), "key"))))
  }

  def repo(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.size <= 2,
      "usage: graft_repo(path[, repoVersion])")
    val spark = SparkSession.active
    import spark.implicits._
    val rv = if (args.size == 2)
      arg(args(1), "repoVersion").asInstanceOf[Number].longValue else -1L
    GraftShims.logicalPlan(
      graft.sources.Repo.snapshot(spark, pathOf(args), rv).toSeq.sorted
        .toDF("member", "version"))
  }

  def annSearch(args: Seq[Expression]): LogicalPlan = {
    // 6 fixed + up to FOUR optional tail roles (width, kind, filter,
    // AS OF — each at most once, any order)
    require(args.size >= 6 && args.size <= 10,
      "usage: graft_ann_search(indexRoot, tablePath, idCol, embCol, " +
        "probeId | array(probeIds) | queryVector, k" +
        "[, nProbe][, kind][, filter][, TIMESTAMP asOf])")
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import org.apache.spark.sql.types.{ArrayType, ByteType, DataType,
      DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType}
    val root = pathOf(args)
    val table = String.valueOf(arg(args(1), "tablePath"))
    val idCol = String.valueOf(arg(args(2), "idCol"))
    val embCol = String.valueOf(arg(args(3), "embCol"))
    val k = arg(args(5), "k").asInstanceOf[Number].intValue
    // the optional tail is TYPED, not positional: an integral argument
    // is the tier's SEARCH-WIDTH knob (nProbe for ivf/pq, ef — the
    // beam width, the recall lever the 2.2M rehearsal measured — for
    // hnsw), a string is the kind OR (r14) a FILTER predicate over the
    // corpus columns (a string naming a known kind is the kind,
    // anything else is the filter — each at most once), a timestamp is
    // AS OF — so `..., 10, 'hnsw')`, `..., 10, 4, 'pq')`,
    // `..., 10, 4, 'ivf', 'label IN (2, 3)')` and `..., 10, 4, 'ivf',
    // TIMESTAMP '...')` all parse, and a repeated role is refused
    var width: Option[Int] = None
    var kindOpt: Option[String] = None
    var filterOpt: Option[String] = None
    var asOf: Option[Long] = None
    val knownKinds = Set("ivf", "pq", "hnsw")
    args.drop(6).foreach { a =>
      a.dataType match {
        case StringType =>
          val raw = String.valueOf(arg(a, "kind"))
          // trimmed + lowercased BEFORE the role split, so 'IVF' and
          // 'ivf ' (stray whitespace) read as the kind they obviously
          // are instead of silently becoming filter predicates
          val norm = raw.trim.toLowerCase
          if (knownKinds(norm)) {
            require(kindOpt.isEmpty, "graft_ann_search: kind given twice")
            kindOpt = Some(norm)
          } else {
            // a single bare identifier ('ivff', 'hsnw') is almost
            // always a kind TYPO — routing it to the filter role
            // surfaces as a confusing unresolved-column error (or,
            // worse, a typo that happens to parse silently changes
            // result semantics). But it is NOT always a typo: a bare
            // BOOLEAN corpus column ('is_active') and the literals
            // true/false are legitimate predicates that served as
            // filters before r15's guard. The typo refusal therefore
            // DEFERS until the corpus schema is resolved below — a
            // bare identifier that names a boolean corpus column (or
            // a boolean literal) stays a filter; anything else
            // refuses with both roles named.
            require(filterOpt.isEmpty,
              "graft_ann_search: filter given twice (a string argument " +
                "naming no known kind is the filter predicate)")
            filterOpt = Some(raw)
          }
        case TimestampType | TimestampNTZType =>
          require(asOf.isEmpty,
            "graft_ann_search: AS OF timestamp given twice")
          asOf = Some(tsArgMillis(a, "asOf"))
        case ByteType | ShortType | IntegerType | LongType =>
          require(width.isEmpty, "graft_ann_search: nProbe given twice")
          val nProbe = arg(a, "nProbe").asInstanceOf[Number].intValue
          // validated AT PARSE time, matching measureRecall: an explicit
          // non-positive width is a caller error — for hnsw an ef of 0
          // would otherwise read as 'unset' downstream and silently
          // serve at the stored build beam instead of being refused,
          // and a 0-list nProbe would serve an empty candidate set
          require(nProbe >= 1,
            s"graft_ann_search: the search-width argument (nProbe for " +
              s"ivf/pq, ef for hnsw) must be >= 1, got $nProbe")
          width = Some(nProbe)
        case other => throw new IllegalArgumentException(
          "graft_ann_search: unexpected tail argument of type " +
            s"${other.simpleString} (nProbe integer, kind string, " +
            "AS OF timestamp)")
      }
    }
    // the corpus view pins to ONE resolved version for the whole call
    // (probe fetch, dim check, serve) — and to the SAME instant as the
    // index artifacts when AS OF is given: the historical serve
    // reranks against the corpus the index was built over, one
    // argument for the whole stack
    import graft.vector.{AnnCorpus, AnnIndex, AnnPin, AnnRequest}
    val pin = asOf.fold[AnnPin](AnnPin.Latest)(AnnPin.AsOf(_))
    val corpus = AnnCorpus.committed(spark, table, pin)
    val emb = VersionedScan.read(spark, table, corpus.version)
    // DEFERRED KIND-TYPO GUARD (r15, relaxed r16): a bare-identifier
    // filter string is validated against the now-resolved corpus
    // schema — a boolean corpus column and the true/false literals
    // are genuine predicates (the pre-r15 behavior the r15 guard
    // broke, ADVICE r15); anything else is almost certainly a kind
    // typo ('ivff', 'hsnw') and refuses with both roles named, never
    // a downstream unresolved-column error. Runs BEFORE kind
    // auto-detection so a typo'd kind on a multi-kind root gets THIS
    // message, not "ambiguous root — pass the kind".
    filterOpt.map(_.trim).filter(_.matches("[A-Za-z_][A-Za-z0-9_]*"))
      .foreach { bare =>
        val isBoolLit = Set("true", "false")(bare.toLowerCase)
        // resolve with the SESSION's own resolver — the exact
        // (name, name) => Boolean the analyzer will use for
        // emb.filter(expr(...)) below, so the guard can never drift
        // from what the downstream resolution actually does (a bare
        // 'IS_ACTIVE' over is_active passes under the default
        // case-insensitive resolution, refuses under
        // spark.sql.caseSensitive=true where expr() would fail)
        val resolver = spark
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.conf.resolver
        val corpusField =
          emb.schema.fields.find(f => resolver(f.name, bare))
        require(isBoolLit || corpusField.exists(
            _.dataType == org.apache.spark.sql.types.BooleanType),
          s"graft_ann_search: string argument '$bare' names no " +
            "known kind (ivf | pq | hnsw) but looks like one (a " +
            "single bare identifier, no operators)" +
            corpusField.map(f => s" — the corpus column '$bare' is " +
              s"${f.dataType.simpleString}, not boolean, so it cannot " +
              "be a filter by itself; write an explicit predicate " +
              s"(e.g. '$bare = ...') or pass a known kind")
            .getOrElse(" and names no corpus column — pass a known " +
              "kind, or filter on a boolean corpus column / an " +
              s"explicit predicate (e.g. '$bare = true')"))
      }
    // artifact inventory under the root: drives kind auto-detection
    // and gives a missing kind a NAMED diagnostic instead of whatever
    // `latestVersion == 0` produces downstream
    def committed(t: String): Boolean =
      graft.sources.Versioned.latestVersion(spark, t) > 0L
    val found = Seq(
      "ivf" -> committed(AnnIndex.ivfAssignmentsTable(root)),
      "pq" -> committed(AnnIndex.pqCodesTable(root)),
      "hnsw" -> committed(AnnIndex.nswEdgesTable(root)))
      .collect { case (kn, true) => kn }
    val kind = kindOpt.getOrElse {
      require(found.nonEmpty,
        s"graft_ann_search: no committed ANN artifacts under $root — " +
          "CALL graft.system.ann_ensure(...) first")
      require(found.size == 1,
        s"graft_ann_search: ambiguous index root $root (committed " +
          s"kinds: ${found.mkString(", ")}) — pass the kind argument")
      found.head
    }
    if (!Set("ivf", "pq", "hnsw")(kind))
      throw new IllegalArgumentException(
        s"graft_ann_search: unknown kind '$kind' (ivf | pq | hnsw)")
    require(found.contains(kind),
      s"graft_ann_search: no committed '$kind' index under $root " +
        s"(committed kinds: ${if (found.isEmpty) "none"
          else found.mkString(", ")}) — " +
        s"CALL graft.system.ann_ensure(..., kind => '$kind') first")
    if (kind == "pq") require(found.contains("ivf"),
      "graft_ann_search: the pq tier routes through the IVF lists — " +
        s"CALL graft.system.ann_ensure(..., kind => 'ivf') under $root first")
    // FILTERED SEARCH (r14): the predicate is a boolean SQL expression
    // over the CORPUS table's columns, composed as s13's prefiltered
    // search — membership is exact (only matching rows can appear),
    // ranking stays routing-approximate, and a selective filter
    // under-fills k at a fixed width (widen nProbe to recover —
    // FilteredAnnSpec pins the laws). Rides the routing tiers only:
    // the hnsw graph walk is structure-blind, so a filtered hnsw
    // serve is refused by name rather than silently post-filtered
    // (the under-fill anti-pattern).
    val allowed = filterOpt.map { f =>
      emb.filter(org.apache.spark.sql.functions.expr(f))
        .select(col(idCol))
    }
    if (allowed.isDefined) require(kind != "hnsw",
      "graft_ann_search: filtered search rides the routing tiers " +
        "(ivf | pq) — the hnsw graph walk cannot push a predicate; " +
        "use kind => 'ivf' or 'pq'" +
        (if (found.contains("ivf")) ""
         else " (this root has no routing tier yet: CALL " +
           s"graft.system.ann_ensure(index_root => '...', ..., kind " +
           "=> 'ivf') alongside the hnsw index, then pass 'ivf')"))
    def isFractional(dt: DataType): Boolean = dt match {
      case FloatType | DoubleType | _: DecimalType => true
      case _ => false
    }
    // the result of every batch form prepends a literal probe_id
    // column; a corpus whose id column is ALSO named probe_id deserves
    // a door-level diagnostic, not the library's generic column clash
    def requireProbeIdFree(): Unit = require(idCol != "probe_id",
      s"graft_ann_search: the batch form adds a probe_id column to " +
        s"the result — a corpus id column named 'probe_id' would " +
        "collide; rename the corpus column or probe ids one at a time")
    // the single forms serve a batch of one under an internal probe-id
    // column (a corpus id column may itself be named probe_id) and
    // drop it at the end; its value comes from DATA (the row's id, a
    // range), never a literal — a foldable key would fold the fill
    // window's partitioning away
    val singlePid = "__pid"
    def decodeVector(raw: Any, elemType: DataType,
        where: String): Array[Double] = {
      val a = raw.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      require(a.numElements() > 0, s"graft_ann_search: empty query vector$where")
      (0 until a.numElements()).map { j =>
        val c = a.get(j, elemType)
        require(c != null,
          s"graft_ann_search: NULL component at query vector position $j$where")
        c match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue
          case other => throw new IllegalArgumentException(
            s"graft_ann_search: non-numeric query vector component $other$where")
        }
      }.toArray
    }
    // a wrong-width vector must be a typed error naming both widths,
    // never a silent zero-similarity scan or a runtime shape failure
    // deep in a distance kernel; the check is one stats-bounded 1-row
    // read — serving-call cost
    def requireCorpusWidth(widths: Seq[Int]): Unit = {
      val dim = emb.filter(col(embCol).isNotNull)
        .select(org.apache.spark.sql.functions.size(col(embCol)))
        .limit(1).collect().headOption.map(_.getInt(0))
      dim.foreach(d => widths.foreach(w => require(w == d,
        s"graft_ann_search: query vector has $w components " +
          s"but $table.$embCol vectors have $d")))
    }
    // every form becomes (probe frame (pid, embCol), its pid column, the
    // driver-known probe-id set the fill diagnostic joins from)
    val (probes, pidCol, pids) = args(4).dataType match {
      case at: ArrayType if at.elementType.isInstanceOf[ArrayType] &&
          isFractional(at.elementType.asInstanceOf[ArrayType].elementType) =>
        // BATCH OF AD-HOC QUERY VECTORS — a question SET none of whose
        // embeddings are corpus rows (array(array<float>, ...)): the
        // whole batch rides ONE plan through the tier's probe-set path
        // exactly like the id-array form, with probe_id = the vector's
        // position in the literal (0-based) so callers can join the
        // answers back to their questions.
        requireProbeIdFree()
        val inner = at.elementType.asInstanceOf[ArrayType]
        val ad = arg(args(4), "queryVectors")
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        require(ad.numElements() > 0,
          "graft_ann_search: empty query-vector batch")
        val vecs = (0 until ad.numElements()).map { i =>
          val v = ad.get(i, at.elementType)
          require(v != null,
            s"graft_ann_search: NULL query vector at batch position $i")
          decodeVector(v, inner.elementType, s" (batch position $i)")
        }
        requireCorpusWidth(vecs.map(_.length))
        import spark.implicits._
        (vecs.zipWithIndex
          .map { case (v, i) => (i.toLong, v) }.toDF("probe_id", "__qv")
          .select(col("probe_id"),
            col("__qv").cast(emb.schema(embCol).dataType).as(embCol)),
          "probe_id", vecs.indices.map(_.toLong))
      case at: ArrayType if isFractional(at.elementType) =>
        // AD-HOC QUERY VECTOR — the reference's /ask shape: embed an
        // arbitrary question OUTSIDE the corpus and search with the
        // fresh vector (a fractional array literal; row ids are
        // integral, so the element type disambiguates). The literal
        // becomes a one-row probe frame cast to the corpus embedding
        // type — SQL and Scala API serve bit-identically.
        val vec = decodeVector(arg(args(4), "queryVector"),
          at.elementType, "")
        requireCorpusWidth(Seq(vec.length))
        (spark.range(1).select(col("id").as(singlePid),
          typedLit(vec).cast(emb.schema(embCol).dataType).as(embCol)),
          singlePid, Seq(0L))
      case at: ArrayType =>
        require(Set[DataType](ByteType, ShortType, IntegerType,
          LongType)(at.elementType),
          "graft_ann_search: the probe array must hold row ids " +
            "(integers) or query-vector components (floats); got " +
            s"array<${at.elementType.simpleString}>")
        val ad = arg(args(4), "probeIds")
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        require(ad.numElements() > 0,
          "graft_ann_search: empty probe id array")
        val ids = (0 until ad.numElements()).map { i =>
          val v = ad.get(i, at.elementType)
          // a NULL element gets the same deliberate diagnostic as a
          // typo'd id, never a bare NPE
          require(v != null,
            s"graft_ann_search: NULL probe id at array position $i")
          v.asInstanceOf[Number].longValue
        }
        // duplicates would silently collapse to one probe slice in the
        // isin fetch below — refuse with the offenders named
        val dup = ids.groupBy(identity).collect {
          case (id, hits) if hits.size > 1 => id }.toSeq.sorted
        require(dup.isEmpty,
          "graft_ann_search: duplicate probe ids " +
            s"${dup.mkString("(", ", ", ")")} — each id serves one slice")
        requireProbeIdFree()
        // ARRAY of probe ids = the batch door: one plan serves the
        // whole question set through the tier's probe-set path. Every
        // id must resolve — a silently shrunken batch is the typo'd-id
        // hazard at set size
        val probes = emb.filter(col(idCol).isin(ids: _*))
          .select(col(idCol).cast("long").as("probe_id"), col(embCol))
        val hit = probes.select("probe_id").collect().map(_.getLong(0)).toSet
        val missing = ids.filterNot(hit)
        require(missing.isEmpty,
          s"graft_ann_search: no row with $idCol in " +
            s"${missing.mkString("(", ", ", ")")} in $table")
        (probes, "probe_id", ids)
      case _ =>
        val v = arg(args(4), "probeId")
        // the scalar form gets the same deliberate diagnostic as an
        // array element, never a bare NPE
        require(v != null, "graft_ann_search: NULL probe id")
        val probeId = v.asInstanceOf[Number].longValue
        // search-by-row: the probe is an in-plan 1-row subquery (the
        // named row's own embedding) — no vector literal crosses the
        // SQL boundary
        val probeDf = emb.filter(col(idCol) === probeId).limit(1)
          .select(col(idCol).cast("long").as(singlePid), col(embCol))
        // a missing probe row must be an ERROR, not a silently empty
        // top-k (a typo'd id is indistinguishable from "no neighbors"
        // otherwise); the check is one stats-pruned 1-row lookup at
        // resolution time — serving-call cost, like the row fetch
        require(!probeDf.isEmpty,
          s"graft_ann_search: no row with $idCol = $probeId in $table")
        (probeDf, singlePid, Seq(probeId))
    }
    val result = AnnIndex.serve(spark, root, AnnRequest(kind, corpus, idCol,
      embCol, probes, k, width, pin = pin, allowed = allowed))
    // FILL OBSERVABILITY (r15, hardened r16): a selective filter
    // under-fills k at a fixed width for two DIFFERENT reasons — the
    // corpus holds < k matching rows (no width helps), or routing
    // dropped matches (widen nProbe). A filtered result therefore
    // carries a `fill` column = rows actually returned for its probe,
    // so "why did I get 3 rows for k=10?" is answerable from the
    // result itself: fill < k says under-filled; `SELECT count(*) FROM
    // graft_table(...) WHERE <filter>` then attributes which reason.
    // A probe whose filter leaves ZERO candidates surfaces as one
    // all-null row carrying fill = 0 — r15 dropped exactly the
    // most-under-filled probe from the diagnostic (ADVICE r15).
    // Unfiltered serves keep their schema byte-identical to r14.
    val withFill =
      if (filterOpt.isEmpty) result
      else {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{broadcast, coalesce,
          count, desc}
        // the corpus id column may not be named fill — the added column
        // would silently REPLACE it (same convention as the probe_id
        // guard: loud, never a silent column swap)
        require(idCol != "fill",
          "graft_ann_search: filtered results add a fill column — a " +
            "corpus id column named 'fill' would be overwritten; " +
            "rename the corpus column")
        // per-probe count over the REAL probe-id column (a non-foldable
        // partition key — never an unpartitioned WindowExec), then a
        // LEFT join FROM the driver-known probe-id set (a local
        // relation, batch-sized) so empty probes surface with fill = 0;
        // the counted side is ≤ probes × k rows — broadcast. The join
        // destroys the serve's final sort, so the documented
        // (probe id, score desc, id) order re-asserts after (desc sorts
        // nulls last, so a fill = 0 row trails its probe). Lazy: the
        // serve executes once, at action time — EXPLAIN runs only the
        // resolution-time checks every serve pays (SqlTvfSpec pins it).
        val counted = result
          .withColumn("fill",
            count(lit(1)).over(Window.partitionBy(col(pidCol))).cast("int"))
        import spark.implicits._
        pids.toDF(pidCol)
          .join(broadcast(counted), Seq(pidCol), "left")
          .withColumn("fill", coalesce(col("fill"), lit(0)))
          .orderBy(col(pidCol), desc("score"), col(idCol))
      }
    GraftShims.logicalPlan(
      if (pidCol == singlePid) withFill.drop(singlePid) else withFill)
  }

  def repoTable(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 2 && args.size <= 3,
      "usage: graft_repo_table(path, member[, repoVersion])")
    val spark = SparkSession.active
    val rv = if (args.size == 3)
      arg(args(2), "repoVersion").asInstanceOf[Number].longValue else -1L
    GraftShims.logicalPlan(graft.sources.Repo.read(spark, pathOf(args),
      String.valueOf(arg(args(1), "member")), rv))
  }

  def diff(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 4,
      "usage: graft_diff(path, key, fromVersion, toVersion)")
    val spark = SparkSession.active
    GraftShims.logicalPlan(Versioned.changes(spark, pathOf(args),
      arg(args(2), "fromVersion").asInstanceOf[Number].longValue,
      arg(args(3), "toVersion").asInstanceOf[Number].longValue,
      Seq(String.valueOf(arg(args(1), "key")))))
  }

  def branches(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 1, "usage: graft_branches(path)")
    val spark = SparkSession.active
    import spark.implicits._
    GraftShims.logicalPlan(
      Branches.list(spark, pathOf(args))
        .toDF("branch", "fork_version", "head_version"))
  }

  def tags(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 1, "usage: graft_tags(path)")
    val spark = SparkSession.active
    import spark.implicits._
    GraftShims.logicalPlan(
      Branches.tags(spark, pathOf(args)).toDF("tag", "version"))
  }

  def history(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 1, "usage: graft_history(path)")
    GraftShims.logicalPlan(
      Versioned.history(SparkSession.active, pathOf(args)))
  }

  def rowIds(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.size <= 2,
      "usage: graft_row_ids(path[, version])")
    val version =
      if (args.size == 2) arg(args(1), "version").asInstanceOf[Number].longValue
      else -1L
    GraftShims.logicalPlan(Versioned.readWithRowIds(
      SparkSession.active, pathOf(args), version))
  }

  def files(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.size <= 2,
      "usage: graft_files(path[, version])")
    val version =
      if (args.size == 2) arg(args(1), "version").asInstanceOf[Number].longValue
      else -1L
    GraftShims.logicalPlan(
      Versioned.filesTable(SparkSession.active, pathOf(args), version))
  }
}

/** Catalyst-tree twins of [[graft.operators.CurationQueries.mdBucket]]
  * and [[graft.functions.ZOrder.interleave16]] for the SQL function
  * registry. Same node-for-node shapes as what the Column API builds —
  * agreement is asserted in ZOrderSpec and oracle-gated by q59. */
private[graft] object CurationExprs {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

  def mdBucket(key: Expression): Expression =
    Remainder(
      Cast(Conv(Substring(Md5(Cast(Cast(key, StringType), BinaryType)),
        Literal(1), Literal(8)), Literal(16), Literal(10)), LongType),
      Literal(1000L))

  def interleave16(a: Expression, b: Expression): Expression = {
    val a16 = Pmod(Cast(a, LongType), Literal(65536L))
    val b16 = Pmod(Cast(b, LongType), Literal(65536L))
    (0 until 16).map { i =>
      BitwiseOr(
        ShiftLeft(BitwiseAnd(ShiftRightUnsigned(a16, Literal(i)), Literal(1L)),
          Literal(2 * i)),
        ShiftLeft(BitwiseAnd(ShiftRightUnsigned(b16, Literal(i)), Literal(1L)),
          Literal(2 * i + 1)))
    }.reduce[Expression]((x, y) => BitwiseOr(x, y))
  }
}
