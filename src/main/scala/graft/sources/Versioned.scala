package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, element_at, lit, split}

/** Lightweight versioned-table layer: an atomic commit log + snapshot
  * reads over plain parquet — the Delta/Iceberg transaction surface the
  * single-snapshot [[Lake]] operations (MERGE, DELETE, CDC, compaction)
  * compose with, built from public Spark/Hadoop APIs only.
  *
  * Layout under a table root:
  * {{{
  *   data/c_<uuid>/part-*.parquet    immutable once referenced
  *   _versions/v00000001.json        manifest: the EXACT file list (+
  *                                   per-file row counts and min/max key
  *                                   stats) that IS version 1
  * }}}
  *
  * Protocol (the Delta log protocol in miniature):
  *  - ONE write sequence. Every commit that adds data lands its files
  *    through [[land]]: a fresh `data/c_<uuid>/` directory nobody
  *    references yet, the default shaping (range-partitioned and sorted
  *    on the cluster key, round-robin without one), the write, the
  *    CHECK gate (a violation deletes the directory), then footer stats
  *    and bloom bitsets. Every copy-on-write mutation (OPTIMIZE,
  *    recluster, DELETE, UPDATE, MERGE, replaceWhere, layout refresh)
  *    then shares [[rewrite]]'s tail: one read of the touched files
  *    (defaults, deletion vector, physical names), [[land]], dropping
  *    the touched files' DV entries, and publication of carried ++ new
  *    files CAS'd on the snapshot it was derived from.
  *  - Publication places a fully-written temp manifest at `v{N}.json`
  *    by CREATE-EXCLUSIVE placement. Readers either see the complete
  *    manifest or no manifest — never a partial multi-file commit.
  *  - Optimistic concurrency: publication is a putIfAbsent behind the
  *    pluggable [[ManifestPublisher]] trait — `link(2)` on local
  *    filesystems (atomic fail-if-exists; local RENAME is
  *    check-then-act and can silently replace under a race), exclusive
  *    server-side rename on HDFS-class stores. S3-class stores slot a
  *    conditional-put implementation into the same trait (Delta's
  *    LogStore move); VersionedConcurrencySpec drives both a
  *    check-then-act double (provably loses a commit) and a
  *    conditional-put double (losers fail cleanly) through an injected
  *    deterministic race.
  *  - CONFLICT DETECTION (Delta's commit-conflict model): a losing
  *    writer does not blindly re-target `N+1` — that would publish a
  *    file list computed from a stale snapshot and silently drop the
  *    concurrent commit's changes. Mutations (DELETE, REPLACE_WHERE,
  *    MERGE, OPTIMIZE, MoR ops, RESTORE) carry the version they were
  *    derived from and throw `ConcurrentModificationException` on
  *    conflict; blind APPENDs rebase automatically onto the new latest
  *    snapshot (their added files are independent of prior state)
  *    unless the clustering column or deletion vector changed
  *    underneath them. Explicit whole-table overwrite commits stay
  *    last-writer-wins by design.
  *  - Snapshot isolation for free: data files are IMMUTABLE (a commit
  *    only ever adds directories; nothing rewrites in place), so a reader
  *    that resolved version N's file list keeps a consistent view no
  *    matter how many commits land after it — the never-rewrite-a-path
  *    contract [[Lake.compactTo]] documents, enforced structurally.
  *  - Per-file stats come from parquet FOOTERS at commit time (metadata
  *    reads of just-written files — O(files in the commit), never a data
  *    scan), exactly Delta's add-file stats. [[deleteWhereKeyIn]] uses
  *    them for file skipping: untouched files carry into the new version
  *    BY REFERENCE (same path, same bytes), only intersecting files are
  *    rewritten.
  *
  * The reference has no table format at all — each run overwrites its
  * whole output (`/root/reference/jobs/bronze_transformation.py:73`);
  * this layer is what makes its bronze/silver layers safely mutable and
  * time-travelable at lakehouse scale.
  */
object Versioned {

  /** Per-column footer statistics of one data file (Delta add-file
    * stats): `typ` is the stats domain ("long" covers INT32/INT64 —
    * including DATE's epoch-day physical value; "double" covers
    * FLOAT/DOUBLE; "string" is UTF-8 Binary), `mn`/`mx` are the
    * canonical string renderings of the typed min/max, `nulls` is the
    * column's null count (None when any block reported unknown).
    * String min/max compare LEXICOGRAPHICALLY BY CODE POINT — exact
    * for ASCII and all of the BMP; pruning on them stays conservative
    * either way because a non-overlap decision only drops files whose
    * recorded range provably excludes the predicate. */
  final case class ColStat(typ: String, mn: String, mx: String,
      nulls: Option[Long]) {
    def longRange: Option[(Long, Long)] =
      if (typ == "long") Some((mn.toLong, mx.toLong)) else None
  }

  /** One immutable data file of a snapshot; `path` is table-relative,
    * EXCEPT in a shallow [[clone]]'s manifests, where it may be an
    * absolute URI into the source table (Delta shallow-clone
    * semantics) — [[resolve]] handles both. `minKey`/`maxKey` are the
    * commit-key (`statsCol`) long range — the fast path every keyed
    * mutation prunes on; `stats` is the PER-COLUMN min/max/null-count
    * map harvested from the same footer reads (capped at
    * [[statsColumnCap]] leaf columns), which lets range reads and
    * keyed deletes prune on ANY recorded column, not just the commit
    * key. `bytes` is the physical file size ([[compactCommit]]'s
    * bin-packing input). Older manifests deserialize with empty
    * stats/zero bytes — every consumer treats missing stats as
    * "cannot prune, must scan". */
  /** `noCols`: PHYSICAL columns this file predates (stamped by
    * [[addColumn]] on every file entry alive at the add — never on
    * files written afterwards). The read paths substitute the
    * column's declared default for exactly these files, which is what
    * keeps an added-with-default column distinguishable from a
    * post-add row that legitimately stores NULL (Iceberg's
    * initial-default semantics; Delta/Iceberg key the same decision
    * off per-file schema ids). */
  /** `baseRowId`: the file's ROW-TRACKING base (Delta row tracking /
    * Iceberg row lineage) — row `i` of this file has stable id
    * `baseRowId + i`. Assigned once, at the publication that first
    * references the file, from the table's monotone high-water mark
    * ([[Snapshot.rowHwm]]); a file carried by reference keeps its
    * base, so its rows keep their ids across appends, metadata
    * commits, DV deletes and any commit that does not rewrite the
    * file. A REWRITE (OPTIMIZE, recluster, materializing upsert)
    * produces new files and therefore new ids — the same contract as
    * Delta without materialized-row-id columns. */
  final case class DataFile(path: String, rows: Long,
      minKey: Option[Long], maxKey: Option[Long],
      bytes: Long = 0L, stats: Map[String, ColStat] = Map.empty,
      bloom: Option[String] = None, noCols: Seq[String] = Nil,
      baseRowId: Option[Long] = None)

  /** Per-column stats are recorded for the first N supported leaf
    * columns in schema order — Delta's `dataSkippingNumIndexedCols`
    * bound, keeping manifest size O(files × N) regardless of how wide
    * the table is. */
  val statsColumnCap = 32

  /** The storage primitive the whole commit protocol rests on: place
    * the fully-written `tmp` at `dst` IFF `dst` does not exist, and
    * report which happened — an atomic putIfAbsent. Everything above
    * (compare-and-swap on the exact version slot, conflict detection,
    * append rebase) is sound exactly when this primitive is; a
    * check-then-act implementation (exists? then overwriting rename —
    * what a plain S3 PUT gives you) can silently replace a concurrent
    * winner's manifest, which VersionedConcurrencySpec demonstrates
    * with an injected race. Delta solves the same problem with its
    * pluggable LogStore; an object-store implementation belongs here
    * (S3 conditional writes / GCS if-generation-match / ABFS ETag),
    * leaving the protocol untouched. */
  trait ManifestPublisher {
    def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean
  }

  object ManifestPublisher {
    /** Filesystem-appropriate default: link(2) on LOCAL filesystems
      * (atomic fail-if-exists — local Hadoop rename is check-then-act
      * over POSIX rename(2), which REPLACES an existing destination;
      * two in-flight renames can both "succeed" and one manifest is
      * silently lost, caught by VersionedConcurrencySpec under suite
      * parallelism), exclusive server-side rename on HDFS-class
      * stores. */
    object Auto extends ManifestPublisher {
      def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean = {
        val isLocalFs = f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem] ||
          f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
        if (isLocalFs) {
          val dstNio = java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath)
          val tmpNio = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
          try { java.nio.file.Files.createLink(dstNio, tmpNio); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        } else f.rename(tmp, dst)
      }
    }

    /** Object-store publisher: stream the manifest straight into
      * `FileSystem.create(dst, overwrite = false)` — the generic hook
      * stores map to their native conditional create (S3 `PutObject`
      * with `If-None-Match: *`, GCS `if-generation-match: 0`, ABFS
      * ETag precondition), where the object materializes ATOMICALLY at
      * close and a concurrent winner surfaces as
      * [[org.apache.hadoop.fs.FileAlreadyExistsException]] — exactly
      * the putIfAbsent contract, with no rename (object stores have no
      * atomic rename to lean on; this is Delta's S3 LogStore problem
      * solved with the store's own conditional write instead of a
      * DynamoDB double).
      *
      * NOT for POSIX/HDFS filesystems: there `create` + write exposes
      * a PARTIAL manifest to concurrent readers before close (and
      * local `create(false)` is itself check-then-act) — [[Auto]] is
      * the publisher for those. `createExclusive` is the overridable
      * store primitive so the concurrency spec can pin the race window
      * deterministically while exercising the real streaming path. */
    class ConditionalCreate extends ManifestPublisher {
      protected def createExclusive(f: FileSystem,
          dst: Path): java.io.OutputStream = f.create(dst, false)
      /** True only for a LOST CONDITIONAL-CREATE RACE — the slot is
        * already occupied. Matched narrowly: the typed
        * FileAlreadyExistsException, or a precondition-failure message
        * ("already exists", If-None-Match, HTTP 412). A bare "exist"
        * substring would also match "does not exist" (missing parent
        * dir / bucket), turning a persistent environment failure into
        * 64 futile CAS retries that mask the real cause. */
      private def lostRace(e: java.io.IOException): Boolean =
        e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] || {
          val m = if (e.getMessage == null) "" else e.getMessage.toLowerCase
          // "412" matches only as a standalone token (`\b412\b`):
          // ABFS surfaces its ETag-precondition loss as '..., 412,
          // PUT, ...' without the word "precondition", while a bare
          // substring would also hit request ids and byte counts —
          // the broad-match class this predicate exists to avoid
          m.contains("already exists") || m.contains("if-none-match") ||
            m.contains("precondition") ||
            ConditionalCreate.Http412.pattern.matcher(m).find()
        }
      def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean = {
        val out =
          try createExclusive(f, dst)
          catch { case e: java.io.IOException if lostRace(e) => return false }
        var ok = false
        try {
          val in = f.open(tmp)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          finally in.close()
          ok = true
        } finally {
          // FAILURE path — free the claimed slot (see releaseSlot)
          if (!ok) releaseSlot(f, out, dst, closeFirst = true)
        }
        // SUCCESS path closes OUTSIDE the finally so a close-time
        // conditional-write loss (the store checked If-None-Match at
        // commit time and someone else won) reports as a clean raced
        // loser — publish's CAS loop then rebases/refuses normally
        // instead of failing the statement with a raw FS exception.
        // A close failure that is NOT a lost race gets the same
        // slot-release handling as the copy-failure path: on a
        // create-claims-slot store a truncated dst would otherwise
        // occupy the version slot, bricking retries and breaking
        // readers of that version.
        try { out.close(); true }
        catch {
          case e: java.io.IOException if lostRace(e) => false
          case e: java.io.IOException =>
            releaseSlot(f, out, dst, closeFirst = false); throw e
        }
      }

      /** Free a claimed-but-not-committed slot. Two store families,
        * two safe behaviors:
        *  - abort-capable (S3A, signaled via the stream capability —
        *    FSDataOutputStream implements Abortable unconditionally,
        *    so the marker interface alone proves nothing): the
        *    conditional claim happens at CLOSE, so abort() drops the
        *    upload and NOTHING materializes — and dst must NEVER be
        *    deleted, because until our own close succeeds we own
        *    nothing there (a concurrent winner may have committed the
        *    slot);
        *  - otherwise: create-claims-the-slot semantics (the
        *    exclusive create succeeded, dst is OURS and may hold
        *    partial bytes) — suppress the close error and free the
        *    slot so retries are not bricked. Stores whose close()
        *    performs the conditional commit MUST surface the abort
        *    capability (S3A does); on one that does not, a crash
        *    between close and delete can leave a truncated manifest —
        *    documented residual, use a store-specific publisher there.
        * `closeFirst` is false when the caller's own close() already
        * failed — closing again would double-close. */
      private def releaseSlot(f: FileSystem, out: java.io.OutputStream,
          dst: Path, closeFirst: Boolean): Unit = {
        val canAbort = out match {
          case sc: org.apache.hadoop.fs.StreamCapabilities =>
            sc.hasCapability("fs.capability.outputstream.abort")
          case _: org.apache.hadoop.fs.Abortable => true
          case _ => false
        }
        if (canAbort) {
          try out.asInstanceOf[org.apache.hadoop.fs.Abortable].abort()
          catch { case _: Throwable => () }
          if (closeFirst)
            try out.close() catch { case _: java.io.IOException => () }
        } else {
          if (closeFirst)
            try out.close() catch { case _: java.io.IOException => () }
          try f.delete(dst, false) catch { case _: java.io.IOException => () }
        }
      }
    }
    object ConditionalCreate extends ConditionalCreate {
      private[sources] val Http412 = "\\b412\\b".r
    }

    /** Effective publisher for a commit: an explicit argument wins; the
      * default routes through the session conf
      * `spark.graft.manifestPublisher` ("auto" | "conditional-create"),
      * so an object-store deployment sets it ONCE and EVERY commit
      * path — appends, DML, DDL, procedures, repo pointers — publishes
      * through the store's conditional create without threading a
      * parameter into each of them. */
    def resolve(spark: org.apache.spark.sql.SparkSession,
        explicit: ManifestPublisher): ManifestPublisher =
      if (!(explicit eq Auto)) explicit
      else spark.conf.get("spark.graft.manifestPublisher", "auto") match {
        case "conditional-create" => ConditionalCreate
        case other =>
          require(other == "auto",
            s"spark.graft.manifestPublisher: unknown publisher $other " +
              "(auto | conditional-create)")
          Auto
      }
  }

  /** `txn`: the writer-supplied transaction id of the commit that
    * produced this version (Delta's `txn` action) — lets an
    * at-least-once writer (foreachBatch) detect that its batch already
    * committed and skip the replay. `op`: the operation that produced
    * the version (COMMIT/APPEND/DELETE/RESTORE/…) — what DESCRIBE
    * HISTORY surfaces via [[history]]. `dv`/`dvRows`: the version's
    * DELETION VECTOR sidecar ([[deleteMergeOnRead]]) — a parquet of
    * tombstoned commit keys that readers anti-join away; data files
    * stay untouched until OPTIMIZE materializes the deletes.
    *
    * `schemaJson`: the version's PHYSICAL read schema (Spark
    * StructType JSON) — the manifest, not the files, is the source of
    * truth (Delta stores the schema in its log for the same reason).
    * Reads resolve against it with no footer I/O; files written before
    * a type WIDENING ([[widenColumn]]) upcast at scan time
    * (INT32→long, float→double — the Spark 4 parquet reader's widening
    * promotions), and files predating an added column surface it as
    * null. None on pre-schema manifests → reads fall back to
    * `mergeSchema` footer resolution.
    *
    * `mapping`: ordered logical→physical COLUMN MAPPING (Delta column
    * mapping): readers project and rename physical columns to the
    * logical schema, so [[renameColumn]] and [[dropColumn]] are
    * metadata-only commits — data files never rewrite and keep their
    * original (physical) column names. None = identity (no rename or
    * drop has ever happened). A logical column absent from the mapping
    * is dropped; `statsCol` and every per-file stat stay keyed by
    * PHYSICAL name.
    *
    * `constraints`: the table's CHECK constraints as (name, SQL
    * expression) pairs over LOGICAL column names (Delta table
    * constraints). Carried forward by every commit; enforced by
    * [[land]]'s gate against the just-written batch BEFORE
    * publication, with SQL CHECK semantics (a NULL
    * evaluation satisfies the constraint — `NOT NULL` is spelled
    * `col IS NOT NULL`, which is FALSE, not NULL, on null input).
    *
    * `generated`: GENERATED columns as (name, SQL expression) pairs
    * over LOGICAL names (Delta generated columns). A write that does
    * not supply the column gets it COMPUTED ([[commit]]/
    * [[appendCommit]]); a write that does supply it is VALIDATED
    * against the expression (`name <=> (expr)`) through the same
    * atomic CHECK gate as table constraints. Enforcement metadata
    * only — a reader ignoring it is never wrong, so no reader
    * protocol bump.
    *
    * `ts`: commit timestamp (epoch millis) recorded at publication —
    * the `TIMESTAMP AS OF` axis. Resolution via [[snapshotAsOf]]
    * MONOTONIZES across versions exactly like Delta (a version's
    * effective timestamp is clamped to ≥ its predecessor's), so a
    * wall-clock regression between writers can never reorder time
    * travel against the version axis.
    *
    * `bloomCfg`: the table's BLOOM FILTER INDEX, if any — (physical
    * column, bits, hash count). Per-file bloom bitsets live on the
    * [[DataFile]] entries; [[readPointLookup]] prunes with them where
    * min/max stats can't (high-cardinality equality under an
    * interleaved layout). A file WITHOUT a bloom is always a
    * candidate — missing index data degrades to a scan, never to a
    * wrong answer.
    *
    * `segments`: the manifest's file list as (segment name, entries)
    * groups — the Iceberg manifest-list shape. A commit writes ONE new
    * immutable segment for its new files and references surviving base
    * segments by name, so an append's manifest serialization is
    * O(batch + segment names), not O(table files), and a metadata-only
    * commit (RESTORE, constraint DDL) serializes no file entries at
    * all. `files` is always the flat concatenation — every consumer
    * reads that; segments exist for the WRITE path's carry-by-reference
    * and for [[vacuum]]'s segment GC. Pre-segmentation manifests inline
    * their file list (`segments` empty). */
  final case class Snapshot(version: Long, statsCol: Option[String],
      files: Seq[DataFile], txn: Option[String] = None,
      op: Option[String] = None, dv: Option[String] = None,
      dvRows: Option[Long] = None, schemaJson: Option[String] = None,
      mapping: Option[Seq[(String, String)]] = None,
      constraints: Seq[(String, String)] = Nil,
      ts: Option[Long] = None,
      bloomCfg: Option[(String, Int, Int)] = None,
      segments: Seq[(String, Seq[DataFile])] = Nil,
      generated: Seq[(String, String)] = Nil,
      defaults: Seq[(String, String)] = Nil,
      identity: Option[(String, Long)] = None,
      rowHwm: Option[Long] = None,
      initialDefaults: Seq[(String, String)] = Nil,
      recentTxns: Seq[String] = Nil) {

    /** Has `t` been applied by THIS commit or any of the last
      * [[Versioned.txnRingSize]] txn-stamped commits? The ring is what
      * makes idempotent-writer dedup survive INTERVENING commits (a
      * latest-txn-only check misses a twin separated by any other
      * writer); a manifest written before the ring falls back to its
      * own txn — the old latest-only behavior. */
    def seenTxn(t: Option[String]): Boolean =
      t.isDefined && (txn == t || recentTxns.contains(t.get))

    /** Physical read schema, when the manifest records one. */
    def physicalSchema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

    /** Physical name of a logical column (identity when unmapped). */
    def physicalName(logical: String): String =
      mapping.flatMap(_.collectFirst { case (l, p) if l == logical => p })
        .getOrElse(logical)

    /** Logical name of a physical column, if still mapped. */
    def logicalName(physical: String): Option[String] =
      mapping match {
        case Some(m) => m.collectFirst { case (l, p) if p == physical => l }
        case None => Some(physical)
      }

    /** Physical columns of `df` renamed to the logical schema (mapped
      * columns `df` lacks and dropped columns fall away); `keep` columns
      * ride along unrenamed. */
    private[sources] def toLogical(df: DataFrame, keep: String*): DataFrame =
      mapping match {
        case Some(m) => df.select(m.collect {
          case (l, p) if df.columns.contains(p) => col(p).as(l)
        } ++ keep.map(col): _*)
        case None => df
      }

    /** Logical columns of `df` renamed to their physical names; `keep`
      * columns ride along unrenamed. */
    private[sources] def toPhysical(df: DataFrame, keep: String*): DataFrame =
      mapping match {
        case Some(m) =>
          df.select(m.map { case (l, p) => col(l).as(p) } ++ keep.map(col): _*)
        case None => df
      }
  }

  /** PROTOCOL VERSIONING (Delta's reader-version / table-features
    * gate): every manifest records the MINIMUM reader protocol needed
    * to interpret it correctly, and [[snapshot]] refuses manifests
    * demanding more than this build understands — a clean
    * "upgrade your reader" error instead of a silently wrong read
    * (e.g. a reader that ignored `segments` would see an empty table;
    * one that ignored `dv` would resurrect deleted rows). History:
    *   1 = inline file lists (+ schema/mapping/DV/constraints — all
    *       ignorable-safe or self-describing),
    *   2 = segmented file lists (readers MUST resolve `segments`).
    * THIS writer always emits segmented manifests, so every commit it
    * publishes stamps (and requires) reader 2; protocol-1 manifests
    * remain readable, not writable-compatibly. */
  val supportedReaderVersion = 2

  /** Bound of the recent-txn ring each manifest carries
    * ([[Snapshot.seenTxn]]): idempotent-writer dedup survives up to
    * this many intervening commits. cherryPick/revert intentionally
    * stay LATEST-only — re-applying one after an intervening commit
    * (e.g. cherry-pick → revert → cherry-pick again) is a legitimate
    * new mutation, not a replay. */
  val txnRingSize = 64

  /** Segment-count bound: a manifest references at most this many
    * segments before publication folds them into one (see the
    * compaction note in `publish`). Resolution of ANY snapshot is
    * therefore at most `maxSegments + 1` metadata reads, however many
    * commits the table has seen. */
  val maxSegments = 16

  private val VersionFile = """v(\d{8})\.json""".r

  private[sources] def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionsDir(table: String) = new Path(table, "_versions")

  /** A manifest entry's physical location: table-relative normally,
    * absolute for files a shallow [[clone]] references in its source. */
  private[sources] def resolve(table: String, p: String): Path = {
    val pp = new Path(p)
    if (pp.isAbsolute || pp.toUri.getScheme != null) pp else new Path(table, p)
  }

  /** Latest committed version, or 0 if the table has no commits yet. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val dir = versionsDir(table)
    val f = fs(spark, table)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).map(_.getPath.getName).collect {
      case VersionFile(n) => n.toLong
    }.foldLeft(0L)(math.max)
  }

  /** Content fingerprint of a version's manifest FILE: XXH64 over its
    * bytes — 64 bits of REAL entropy. This is the only identity that
    * distinguishes two GENERATIONS of the same version number — the
    * documented drop-root retrain reuses version numbers, and a
    * rebuild can land within the same millisecond as the dead
    * generation, so neither (table, version) nor the commit timestamp
    * suffices as a cache key for per-snapshot state
    * (graft.vector.AnnIndex memoizes on this). A murmur32<<32|length
    * scheme was rejected: manifests of rival generations differ mostly
    * in fixed-width UUIDs, making the length half near-constant, and a
    * 2^-32 collision on the guard that decides which generation's
    * shard graphs get served is a silent wrong-results hazard, not a
    * perf one. */
  def manifestFingerprint(spark: SparkSession, table: String,
      version: Long): Long = {
    require(version > 0, s"manifestFingerprint needs a committed version")
    val p = new Path(versionsDir(table), f"v$version%08d.json")
    val in = fs(spark, table).open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42L)
  }

  /** Resolve a manifest. `version <= 0` means latest. */
  def snapshot(spark: SparkSession, table: String, version: Long = -1L): Snapshot = {
    val v = if (version > 0) version else latestVersion(spark, table)
    require(v > 0, s"versioned table $table has no commits")
    val p = new Path(versionsDir(table), f"v$v%08d.json")
    val in = fs(spark, table).open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val root = new ObjectMapper().readTree(bytes)
    Option(root.get("minReader")).filterNot(_.isNull).map(_.asInt)
      .filter(_ > supportedReaderVersion).foreach { need =>
        throw new UnsupportedOperationException(
          s"version $v of $table requires reader protocol $need; this " +
            s"build supports up to $supportedReaderVersion — upgrade the " +
            "reader (refusing a silently wrong read)")
      }
    val statsCol = Option(root.get("statsCol")).filterNot(_.isNull).map(_.asText)
    val txn = Option(root.get("txn")).filterNot(_.isNull).map(_.asText)
    val op = Option(root.get("op")).filterNot(_.isNull).map(_.asText)
    val dv = Option(root.get("dv")).filterNot(_.isNull).map(_.asText)
    val dvRows = Option(root.get("dvRows")).filterNot(_.isNull).map(_.asLong)
    val schemaJson = Option(root.get("schema")).filterNot(_.isNull).map(_.asText)
    val mapping = Option(root.get("mapping")).filterNot(_.isNull).map { m =>
      m.elements().asScala.map(e => (e.get("l").asText, e.get("p").asText)).toSeq
    }
    val constraints = Option(root.get("constraints")).filterNot(_.isNull)
      .map(_.elements().asScala.map(e =>
        (e.get("n").asText, e.get("e").asText)).toSeq)
      .getOrElse(Nil)
    val generated = Option(root.get("generated")).filterNot(_.isNull)
      .map(_.elements().asScala.map(e =>
        (e.get("n").asText, e.get("e").asText)).toSeq)
      .getOrElse(Nil)
    val defaults = Option(root.get("defaults")).filterNot(_.isNull)
      .map(_.elements().asScala.map(e =>
        (e.get("n").asText, e.get("e").asText)).toSeq)
      .getOrElse(Nil)
    // initial (ADD-time) defaults are recorded separately from the
    // mutable write defaults; a manifest written before the split
    // conflated them, so its absence falls back to `defaults` — the
    // old behavior, preserved for legacy tables. New manifests emit
    // the key whenever either list is non-empty, so a write-default
    // declared by SET DEFAULT (no ADD-time default) parses as an
    // EMPTY initial list, not a retroactive one.
    val initialDefaults = Option(root.get("initialDefaults"))
      .filterNot(_.isNull)
      .map(_.elements().asScala.map(e =>
        (e.get("n").asText, e.get("e").asText)).toSeq)
      .getOrElse(defaults)
    val identity = Option(root.get("identity")).filterNot(_.isNull)
      .map(i => (i.get("col").asText, i.get("next").asLong))
    val ts = Option(root.get("ts")).filterNot(_.isNull).map(_.asLong)
    val bloomCfg = Option(root.get("bloom")).filterNot(_.isNull).map(b =>
      (b.get("col").asText, b.get("m").asInt, b.get("k").asInt))
    // segmented manifests list their file entries in immutable
    // side-files; legacy manifests inline them
    val (files, segments) =
      if (root.has("segments")) {
        val segs = root.get("segments").elements().asScala.map { e =>
          val name = e.asText
          name -> loadSegment(spark, table, name)
        }.toSeq
        (segs.flatMap(_._2), segs)
      } else
        (root.get("files").elements().asScala.map(parseFileNode).toSeq,
          Nil)
    val rowHwm = Option(root.get("rhw")).filterNot(_.isNull).map(_.asLong)
    // the recent-txn ring is backward-IGNORABLE (a reader without it
    // only loses dedup robustness, never data correctness), so it does
    // not bump the reader protocol; pre-ring manifests fall back to
    // their own txn (Snapshot.seenTxn)
    val recentTxns = Option(root.get("recentTxns")).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText).toSeq)
      .getOrElse(txn.toSeq)
    Snapshot(v, statsCol, files, txn, op, dv, dvRows, schemaJson, mapping,
      constraints, ts, bloomCfg, segments, generated, defaults, identity,
      rowHwm, initialDefaults, recentTxns)
  }

  private def parseFileNode(
      n: com.fasterxml.jackson.databind.JsonNode): DataFile = {
    def longOpt(k: String) =
      Option(n.get(k)).filterNot(_.isNull).map(_.asLong)
    val stats = Option(n.get("stats")).filterNot(_.isNull).map { s =>
      s.fieldNames().asScala.map { k =>
        val v = s.get(k)
        k -> ColStat(v.get("t").asText, v.get("mn").asText,
          v.get("mx").asText,
          Option(v.get("nc")).filterNot(_.isNull).map(_.asLong))
      }.toMap
    }.getOrElse(Map.empty[String, ColStat])
    DataFile(n.get("path").asText, n.get("rows").asLong,
      longOpt("minKey"), longOpt("maxKey"),
      longOpt("bytes").getOrElse(0L), stats,
      Option(n.get("bf")).filterNot(_.isNull).map(_.asText),
      Option(n.get("noc")).filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
      longOpt("bri"))
  }

  /** Segment files are IMMUTABLE once a manifest references them —
    * write-once UUID names — so a JVM-wide cache by qualified path is
    * sound and makes the O(versions) metadata walks ([[history]],
    * [[snapshotAsOf]], [[changes]]) parse each segment once instead of
    * once per version that carries it. */
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFile]]()

  /** Test hook: segments are immutable in production, but specs that
    * hand-edit one to simulate a legacy manifest must drop the cache. */
  private[sources] def clearSegmentCache(): Unit = segmentCache.clear()

  private def loadSegment(spark: SparkSession, table: String,
      name: String): Seq[DataFile] = {
    val f = fs(spark, table)
    val p = new Path(versionsDir(table), name)
    val key = f.makeQualified(p).toString
    val cached = segmentCache.get(key)
    if (cached != null) return cached
    val in = f.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val parsed = new ObjectMapper().readTree(bytes).get("files")
      .elements().asScala.map(parseFileNode).toSeq
    if (segmentCache.size > 4096) segmentCache.clear() // crude bound
    segmentCache.put(key, parsed)
    parsed
  }

  /** Snapshot read: the scan's file list is EXACTLY the manifest's —
    * no directory listing, no files from other versions (pinned in
    * PlanBehaviorSpec via `inputFiles`). Schema comes from the
    * MANIFEST when recorded (zero footer I/O at plan time; widened
    * types upcast in the scan, pre-evolution files surface added
    * columns as null) with a `mergeSchema` footer-merge fallback for
    * pre-schema manifests; the column mapping then projects physical
    * names to the logical schema. */
  def read(spark: SparkSession, table: String, version: Long = -1L): DataFrame = {
    val snap = snapshot(spark, table, version)
    readFiles(spark, table, snap, snap.files)
  }

  /** The physical scan of `files` under `snap`'s schema contract —
    * NO mapping projection (physical column names). */
  private def rawRead(spark: SparkSession, table: String, snap: Snapshot,
      files: Seq[DataFile]): DataFrame = {
    val abs = files.map(f => resolve(table, f.path).toString)
    snap.physicalSchema match {
      case Some(sch) => spark.read.schema(sch).parquet(abs: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(abs: _*)
    }
  }

  /** Physical scan with COLUMN DEFAULTS substituted: files are grouped
    * by which declared-default columns they predate (their `noCols`
    * stamps) and each group scans separately with the default
    * expression projected over exactly the missing columns — so a
    * pre-add row reads the declared default while a post-add row that
    * stores NULL keeps its NULL (the Iceberg initial-default
    * distinction a bare `coalesce` would get wrong). Group count is
    * bounded by the distinct stamp sets (≤ defaulted columns + 1),
    * never by file count. */
  private def rawReadWithDefaults(spark: SparkSession, table: String,
      snap: Snapshot, files: Seq[DataFile]): DataFrame = {
    import org.apache.spark.sql.functions.expr
    if (snap.initialDefaults.isEmpty || files.isEmpty)
      rawRead(spark, table, snap, files)
    else files.groupBy(_.noCols.toSet).toSeq.sortBy(_._1.mkString(","))
      .map { case (missing, fs0) =>
        // the hidden `_metadata` column does not survive a union, so
        // the positions the DV paths address rows by are materialized
        // per branch; consumers prefer these and drop them
        val base = rawRead(spark, table, snap, fs0)
          .withColumn("__graft_file", col("_metadata.file_path"))
          .withColumn("__graft_pos", col("_metadata.row_index"))
        snap.initialDefaults.foldLeft(base) {
          case (df, (phys, e)) =>
            if (missing.contains(phys))
              df.withColumn(phys, expr(e).cast(df.schema(phys).dataType))
            else df
        }
      }.reduce(_ unionByName _)
  }

  /** Live rows of a file subset in PHYSICAL names: physical scan
    * (defaults substituted) → deletion vector. The one read every
    * [[rewrite]] feeds its row logic. */
  private def physicalRead(spark: SparkSession, table: String, snap: Snapshot,
      files: Seq[DataFile]): DataFrame =
    applyDv(spark, table, snap, rawReadWithDefaults(spark, table, snap, files))
      .drop("__graft_file", "__graft_pos")

  /** Full logical read of a file subset: [[physicalRead]] → column-
    * mapping projection (rename to logical names, dropped columns
    * pruned). */
  private[sources] def readFiles(spark: SparkSession, table: String, snap: Snapshot,
      files: Seq[DataFile]): DataFrame =
    snap.toLogical(physicalRead(spark, table, snap, files))

  /** Logical snapshot read with STABLE ROW IDS (Delta row tracking /
    * Iceberg row lineage): appends an extra `_row_id` long column =
    * the row's file's manifest-recorded [[DataFile.baseRowId]] + the
    * row's position within the file (`_metadata.row_index` — a
    * constant-folded parquet metadata column, no data I/O). Ids are
    * unique within the snapshot and STABLE across every commit that
    * carries the file by reference (appends, metadata DDL, DV
    * deletes); a rewrite reassigns the rewritten rows. The file→base
    * map is the manifest itself — O(files) driver metadata joined
    * BROADCAST against the scan on the (write-once UUID) file name,
    * so the scan stays one pass and shuffle-free. Deletion vectors
    * and column mapping apply exactly as in [[read]]. */
  def readWithRowIds(spark: SparkSession, table: String,
      version: Long = -1L, withCommitVersion: Boolean = false): DataFrame = {
    val snap = snapshot(spark, table, version)
    val missing = snap.files.filter(_.baseRowId.isEmpty)
    require(missing.isEmpty,
      s"$table version ${snap.version} predates row tracking on " +
        s"${missing.size} file(s) — rewrite them (OPTIMIZE) to assign ids")
    // `_row_commit` (Delta's row_commit_version for unmodified rows):
    // the FIRST version whose manifest references the row's file —
    // derived from the commit log (O(versions) cached metadata, no
    // schema change). Vacuumed versions are skipped; a file whose
    // introducing version was vacuumed reports the earliest version
    // that still references it — a conservative upper bound.
    val addedAt: Map[String, Long] =
      if (!withCommitVersion) Map.empty
      else {
        val dir = versionsDir(table)
        val f = fs(spark, table)
        val m = scala.collection.mutable.LinkedHashMap[String, Long]()
        (1L to snap.version).foreach { v =>
          if (f.exists(new Path(dir, f"v$v%08d.json")))
            snapshot(spark, table, v).files.foreach { df =>
              val n = new Path(df.path).getName
              if (!m.contains(n)) m(n) = v
            }
        }
        m.toMap
      }
    val raw0 = rawReadWithDefaults(spark, table, snap, snap.files)
    val staged =
      if (raw0.columns.contains("__graft_file")) raw0
      else raw0.withColumn("__graft_file", col("_metadata.file_path"))
        .withColumn("__graft_pos", col("_metadata.row_index"))
    val live = applyDv(spark, table, snap, staged)
    // join key is the file NAME (part-*-<uuid>.parquet — write-once
    // unique), not the full path: the scan's file_path rendering and
    // the manifest's relative path agree on the name unconditionally
    val baseDf = spark.createDataFrame(snap.files.map(df => {
      val n = new Path(df.path).getName
      (n, df.baseRowId.get, addedAt.getOrElse(n, snap.version))
    })).toDF("__rt_name", "__rt_base", "__rt_ver")
    val extras = "_row_id" +:
      (if (withCommitVersion) Seq("_row_commit") else Nil)
    val withId0 = live
      .withColumn("__rt_n", element_at(split(col("__graft_file"), "/"), -1))
      .join(broadcast(baseDf), col("__rt_n") === col("__rt_name"))
      .withColumn("_row_id", col("__rt_base") + col("__graft_pos"))
    val withId = (if (withCommitVersion)
        withId0.withColumn("_row_commit", col("__rt_ver"))
      else withId0)
      .drop("__graft_file", "__graft_pos", "__rt_n", "__rt_name",
        "__rt_base", "__rt_ver")
    snap.toLogical(withId, extras: _*)
  }

  /** Merge-on-read: subtract the snapshot's deletion vector, if any —
    * one BROADCAST anti-join on POSITION (file URI, row index), exactly
    * Delta's DV addressing. Positional (not keyed) tombstones are what
    * make [[upsertMergeOnRead]] sound: a re-inserted key's NEW row sits
    * in a new file at a new position, so only the old occurrence is
    * masked. The `_metadata` columns are constant-folded by the parquet
    * reader — no data-column cost. */
  private[sources] def applyDv(spark: SparkSession, table: String, snap: Snapshot,
      base: DataFrame): DataFrame = snap.dv match {
    case Some(dvRel) =>
      val dvDf = spark.read.parquet(resolve(table, dvRel).toString)
      // a defaults union has already materialized its positions
      val staged =
        if (base.columns.contains("__graft_file"))
          base.withColumn("__f", col("__graft_file"))
            .withColumn("__p", col("__graft_pos"))
        else base.withColumn("__f", col("_metadata.file_path"))
          .withColumn("__p", col("_metadata.row_index"))
      staged.join(broadcast(dvDf),
          col("__f") === col("__dv_file") && col("__p") === col("__dv_pos"),
          "left_anti")
        .drop("__f", "__p")
    case None => base
  }

  /** Positions of every live row of `snap` whose `key` is in
    * `tombstoneKeys` — the DV computation: a key-column-only scan
    * (semi-join against the broadcast tombstones) that projects
    * `_metadata` positions. Reads no other column; with a ranged
    * commit layout the scan could further stats-prune, but the
    * key-only projection already makes this I/O-light. */
  private def dvPositions(spark: SparkSession, table: String, snap: Snapshot,
      tombstoneKeys: DataFrame, key: String): DataFrame = {
    // defaults-aware: deleting by a defaulted column must see the
    // substituted values for pre-add files, not their physical nulls
    val rawD = rawReadWithDefaults(spark, table, snap, snap.files)
    val raw =
      if (rawD.columns.contains("__graft_file"))
        rawD.select(col(key), col("__graft_file").as("__dv_file"),
          col("__graft_pos").as("__dv_pos"))
      else rawD.select(col(key),
        col("_metadata.file_path").as("__dv_file"),
        col("_metadata.row_index").as("__dv_pos"))
    val live = snap.dv match { // rows already tombstoned stay tombstoned
      case Some(rel) => raw.join(
        broadcast(spark.read.parquet(resolve(table, rel).toString)),
        Seq("__dv_file", "__dv_pos"), "left_anti")
      case None => raw
    }
    live
      .join(broadcast(tombstoneKeys.select(col(key)).distinct()), Seq(key), "left_semi")
      .select("__dv_file", "__dv_pos")
  }

  /** Commit `df` as the table's next version. With `statsCol` set the
    * data lands range-partitioned and sorted on that key across `files`
    * files, so per-file [min,max] ranges are tight and mostly disjoint —
    * the layout that makes [[deleteWhereKeyIn]]'s file skipping bite
    * (same lever as [[Lake.zorderWrite]], one dimension). Returns the
    * committed version number. */
  def commit(spark: SparkSession, table: String, df: DataFrame,
      statsCol: Option[String] = None, files: Int = 4,
      txn: Option[String] = None, op: String = "COMMIT",
      expected: Option[Long] = None, ts: Option[Long] = None,
      layout: Option[DataFrame => DataFrame] = None,
      publisher: ManifestPublisher = ManifestPublisher.Auto): Long = {
    val baseSnap = {
      val base = expected.getOrElse(latestVersion(spark, table))
      if (base <= 0) None else Some(snapshot(spark, table, base))
    }
    // GENERATED columns the batch does not supply are computed here
    // (before shaping, so the layout sees them); supplied ones are
    // validated through the CHECK gate
    val gens = baseSnap.map(_.generated).getOrElse(Nil)
    val gdf = applyGenerated(df, gens)
    // a full rewrite resets physical names to LOGICAL ones, so a bloom
    // index follows its column's logical identity: recompute the
    // bitsets under the new name if the column survives the rewrite,
    // clear the index if it doesn't
    val rewrittenCfg: Option[(String, Int, Int)] = baseSnap.flatMap(bs =>
      bs.bloomCfg.flatMap { case (physC, m, k) =>
        val marker = if (isTokenCfg(physC)) TokenPrefix else ""
        bs.logicalName(bloomPhys(physC)).filter(gdf.columns.contains)
          .map(l => (marker + l, m, k))
      })
    // a full rewrite lands logical column names, so the gate sees the
    // batch as written; caller-SUPPLIED generated-column values ride it
    // as synthetic equality checks. `layout` overrides the default
    // shaping — the hook multi-dim clustering ([[zorderCommit]]) plugs
    // its Morton sort into
    val entries = land(spark, table, gdf, files, statsCol, statsCol,
      rewrittenCfg, Some(gdf.schema),
      checks = baseSnap.map(_.constraints).getOrElse(Nil) ++
        generatedChecks(gens, df.columns),
      layout = layout).files
    // a full rewrite materializes every column into fresh files
    // (no noCols stamps), so declared defaults are spent: clear them
    // with the mapping reset
    publish(spark, table, statsCol, entries, txn, op, expected = expected,
      schemaJson = Some(gdf.schema.json), ts = ts,
      bloomCfg = Some(rewrittenCfg), baseSnapHint = baseSnap,
      defaults = Some(Nil), initialDefaults = Some(Nil),
      publisher = publisher)
  }

  /** Dense, key-ordered IDENTITY allocation WITHOUT a global window.
    *
    * A single `row_number().over(Window.orderBy(key))` moves the whole
    * batch to one task — the WindowExec "No Partition Defined" funnel
    * that caps identity-table ingest at single-task throughput.
    * Instead: range-partition the batch on the key (global order
    * ACROSS partitions), sort within partitions, stamp
    * `monotonically_increasing_id` (= partitionId << 33 | rowIdx — a
    * shuffle-free projection), collect the O(partitions) per-partition
    * counts, and resolve the stamp to a dense id with broadcast
    * cumulative offsets: id = next + offset(pid) + rowIdx. Same ids
    * as the global row_number (any permutation within equal keys is a
    * valid allocation for both), fully partition-parallel.
    *
    * The stamped frame is LOCAL-CHECKPOINTED across the two passes:
    * the count job and the write job are separate physical plans, and
    * an uncached RangePartitioner re-draws its sampled boundaries per
    * plan — different boundaries between passes would mis-align the
    * offsets and break density. A plain persist() would not suffice:
    * persist keeps lineage, so an evicted/lost block silently
    * RECOMPUTES — against a non-deterministic source (rand(), a
    * concurrently-appended table) the recomputed partition can carry a
    * different row count than `counts` recorded, and ids would
    * duplicate across partition offset ranges. localCheckpoint CUTS
    * lineage (the mergeInto precedent): a lost block fails the job
    * loudly instead. Returns the assigned frame plus the checkpointed
    * handle; the caller releases it once the batch files have
    * landed. */
  private[graft] def allocateIdentity(df: DataFrame, idCol: String,
      orderKey: String, next: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val parts = math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val mid = "__graft_mid"
    val pid = shiftright(col(mid), 33).cast("int")
    val stamped = df.repartitionByRange(parts, col(orderKey))
      .sortWithinPartitions(orderKey)
      .withColumn(mid, monotonically_increasing_id())
      .localCheckpoint(true)
    val counts =
      try stamped.groupBy(pid.as("p")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      catch { case e: Throwable =>
        GraftShims.releaseCheckpoint(stamped); throw e }
    val maxPid = if (counts.isEmpty) 0 else counts.keys.max
    val offsets = (0 to maxPid).scanLeft(0L)((acc, p) =>
      acc + counts.getOrElse(p, 0L)).dropRight(1)
    val assigned = stamped.withColumn(idCol,
      lit(next) + element_at(array(offsets.map(lit(_)): _*), pid + 1) +
        col(mid).bitwiseAND(lit((1L << 33) - 1)))
      .drop(mid)
    (assigned, stamped)
  }

  /** APPEND as a commit — the ingest-path workhorse: the new version's
    * manifest lists every prior file BY REFERENCE plus the newly
    * landed ones, so appending to a petabyte table costs the new data
    * write + O(files in this batch) footer reads + one manifest —
    * never a rewrite. First append on an empty table bootstraps it. */
  def appendCommit(spark: SparkSession, table: String, df: DataFrame,
      statsCol: Option[String] = None, files: Int = 4,
      txn: Option[String] = None, ts: Option[Long] = None): Long = {
    val prior =
      if (latestVersion(spark, table) == 0)
        Snapshot(0L, statsCol, Seq.empty)
      else snapshot(spark, table)
    if (prior.seenTxn(txn)) return prior.version
    // GENERATED columns the batch does not supply are computed on the
    // LOGICAL batch (their expressions are declared logically) before
    // mapping/write; supplied ones are validated in the CHECK gate
    val gdf0 = applyGenerated(df, prior.generated)
    // WRITE-DEFAULT: a batch omitting a defaulted column lands it
    // materialized — appended files carry no noCols stamp, so the read
    // path expects the column physically present
    val gdf1 = prior.defaults.foldLeft(gdf0) { case (acc, (phys, e)) =>
      val lname = prior.mapping
        .flatMap(_.find(_._2 == phys).map(_._1)).getOrElse(phys)
      if (acc.columns.contains(lname)) acc
      else acc.withColumn(lname, org.apache.spark.sql.functions.expr(e))
    }
    // IDENTITY: dense ids from the manifest's high-water mark, batch
    // ordered by the commit key (deterministic); ALWAYS semantics —
    // a batch supplying the column is refused. Allocation is the
    // two-pass partition-offset scheme — no global window, no
    // single-task funnel (see allocateIdentity).
    val (gdf, identityHold) = prior.identity match {
      case Some((idCol, next)) =>
        require(!gdf1.columns.contains(idCol),
          s"$idCol is GENERATED ALWAYS AS IDENTITY on $table — " +
            "the allocator assigns it; remove it from the batch")
        val orderKey = statsCol.orElse(prior.statsCol).getOrElse(
          throw new IllegalArgumentException(
            s"identity assignment on $table needs a commit key to order the batch"))
        val (assigned, hold) = allocateIdentity(gdf1, idCol, orderKey, next)
        (assigned, Some(hold))
      case None => (gdf1, None)
    }
    // incoming columns are LOGICAL: translate to physical names under
    // the table's column mapping (a NEW logical column gets itself as
    // its physical name and extends the mapping)
    // a NEW logical column keeps its own name as its physical name —
    // which must not collide with a physical name already backing a
    // DIFFERENT logical column (e.g. after renameColumn(b -> c), a new
    // logical "b" would land in physical "b", the data behind logical
    // c). Delta prevents this with synthetic field ids; here the append
    // refuses the collision explicitly.
    // the refusal paths between allocation and the landing (mapping
    // collisions, schema-merge conflicts, an unresolvable shaping key)
    // must release the persisted identity batch too — otherwise each
    // failed append to an identity table leaks a batch-sized cache
    // entry; once the batch has landed it is released as well
    val (newMapping, resolved, landed) = try {
      prior.mapping.foreach { m =>
        val newCols = gdf.columns.filterNot(c => m.exists(_._1 == c))
        val collisions = newCols.filter(c => m.exists(_._2 == c))
        require(collisions.isEmpty,
          s"append to $table: new column(s) ${collisions.mkString(", ")} " +
            "collide with physical names still backing renamed columns; " +
            "pick different names")
      }
      val physDf = prior.mapping match {
        case Some(m) => gdf.select(gdf.columns.map(c =>
          col(c).as(prior.physicalName(c))): _*)
        case None => gdf
      }
      val newMapping0 = prior.mapping.map { m =>
        m ++ gdf.columns.filterNot(c => m.exists(_._1 == c)).map(c => (c, c))
      }
      // schema evolution on the append path: widen where the batch is
      // wider (int→long, float→double), append brand-new columns, and
      // cast the batch to the resolved physical types before writing so
      // every file of a schema generation is read-compatible
      val resolved0 = prior.schemaJson match {
        case Some(_) =>
          Some(mergeSchemas(prior.physicalSchema.get, physDf.schema, table))
        case None if prior.version == 0L => Some(physDf.schema)
        case None => None // legacy table: keep footer-merge semantics
      }
      val aligned0 = resolved0 match {
        case Some(sch) => physDf.select(physDf.columns.map { c =>
          val t = sch(c).dataType
          if (physDf.schema(c).dataType == t) col(c) else col(c).cast(t).as(c)
        }: _*)
        case None => physDf
      }
      // CHECK gate on the landed batch, projected back to LOGICAL names
      // (constraints are declared logically; the files carry physical
      // names under column mapping); a maintained bloom index blooms
      // ITS OWN batch — O(batch), the carried files keep their bitsets
      // by reference
      (newMapping0, resolved0,
        land(spark, table, aligned0, files, prior.statsCol, prior.statsCol,
          prior.bloomCfg, resolved0,
          checks = prior.constraints ++
            generatedChecks(prior.generated, df.columns),
          view = _.select(gdf.columns.map(c =>
            col(prior.physicalName(c)).as(c)): _*)))
    } finally identityHold.foreach(GraftShims.releaseCheckpoint)
    // row-less part files carry no data: keep the manifest free of
    // them, and make an EMPTY batch a no-op version (a streaming sink's
    // filtered-out micro-batch must not mint commits)
    val newEntries = landed.files.filter(_.rows > 0)
    if (newEntries.isEmpty && prior.version > 0) {
      fs(spark, table).delete(new Path(table, landed.rel), true)
      return prior.version
    }
    // Blind appends REBASE on conflict (Delta's automatic resolution):
    // a concurrent commit changes which prior files exist, never what
    // this append adds — so the file list is recomputed from the new
    // latest snapshot and publication retries. A concurrent change to
    // the clustering column, deletion vector, constraint set, or bloom
    // index is NOT mechanically mergeable (this batch's footer stats /
    // positions / CHECK gate / bitsets would be stale) and surfaces as
    // a conflict instead.
    try publish(spark, table, prior.statsCol, prior.files ++ newEntries, txn,
      op = "APPEND", dv = prior.dv, dvRows = prior.dvRows,
      expected = Some(prior.version),
      rebase = Some { snap =>
        // the entry-point txn dedup only sees commits that landed
        // BEFORE this append started; a CONCURRENT append carrying the
        // same txn id (two racing idempotent writers, not a sequential
        // replay) would otherwise rebase past its twin and double-land
        // the batch. Re-check at every rebase and bail out as applied.
        if (snap.seenTxn(txn))
          throw new TxnAlreadyApplied(snap.version)
        // the published schemaJson/mapping were RESOLVED from `prior`;
        // carrying them past a concurrent schema or mapping change
        // would silently revert it (a rename undone, a widened column
        // re-narrowed, a dropped column resurrected). Schema compares
        // by (name, type) so a nullability-only difference (e.g. an
        // OPTIMIZE re-deriving the schema through a parquet read)
        // stays rebase-able — nullable widening is upcast-safe.
        def shape(js: Option[String]) = js.map(j =>
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
            .fields.toSeq.map(f => (f.name, f.dataType)))
        if (snap.statsCol != prior.statsCol || snap.dv != prior.dv ||
            snap.constraints != prior.constraints ||
            snap.generated != prior.generated ||
            snap.defaults != prior.defaults ||
            snap.initialDefaults != prior.initialDefaults ||
            snap.identity != prior.identity ||
            snap.bloomCfg != prior.bloomCfg ||
            shape(snap.schemaJson) != shape(prior.schemaJson) ||
            snap.mapping != prior.mapping)
          throw new java.util.ConcurrentModificationException(
            s"append to $table cannot rebase past a concurrent clustering, " +
              "deletion-vector, constraint, generated-column, " +
              "column-default, identity, bloom-index, schema, or mapping " +
              "change: re-run the append")
        snap.files ++ newEntries
      },
      schemaJson = resolved.map(_.json), mapping = newMapping, ts = ts,
      // the id high-water mark advances ATOMICALLY with this append;
      // a concurrent append's advance surfaces as the rebase conflict
      // above, so overlapping id ranges are structurally impossible
      identity = prior.identity.map { case (c, next) =>
        Some((c, next + newEntries.map(_.rows).sum))
      },
      baseSnapHint = if (prior.version > 0) Some(prior) else None)
    catch { case applied: TxnAlreadyApplied =>
      // the concurrent twin's commit IS this batch — drop our
      // never-referenced duplicate data dir and report its version
      fs(spark, table).delete(new Path(table, landed.rel), true)
      applied.version
    }
  }

  /** Control-flow signal from the append rebase: a concurrent commit
    * carrying the SAME txn id already landed this batch. */
  private final class TxnAlreadyApplied(val version: Long)
    extends RuntimeException with scala.util.control.NoStackTrace

  /** Thrown when a write's batch violates a table CHECK constraint:
    * the commit aborts BEFORE publication — no version lands and the
    * orphaned (never-referenced) data directory is removed, so readers
    * and concurrent writers are untouched. */
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  /** The write-path CHECK gate: evaluate every table constraint against
    * the just-written (still unreferenced) batch and throw before
    * publication on any violating row. SQL CHECK semantics — a NULL
    * evaluation SATISFIES the constraint (so `NOT NULL` is spelled
    * `col IS NOT NULL`). A constraint referencing a column absent from
    * this batch is vacuously satisfied: after schema merge the batch
    * surfaces that column as NULL. Cost = ONE column-pruned scan of the
    * new files (all constraints OR'd into a single predicate), never a
    * recompute of the caller's input plan; per-constraint counts are
    * gathered only on the failure path, for the error message. */
  private def checkConstraints(spark: SparkSession, batch: DataFrame,
      cs: Seq[(String, String)], table: String): Unit = {
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val present = batch.columns.map(_.toLowerCase).toSet
    val applicable = cs.filter { case (_, e) =>
      constraintRefs(spark, e).subsetOf(present)
    }
    if (applicable.isEmpty) return
    def violates(e: String) = coalesce(expr(e), lit(true)) === false
    val firstBad = batch
      .filter(applicable.map(c => violates(c._2)).reduce(_ || _))
      .take(1)
    if (firstBad.nonEmpty) {
      val detail = applicable.map { case (n, e) =>
        (n, e, batch.filter(violates(e)).count())
      }.filter(_._3 > 0)
        .map { case (n, e, c) => s"$n CHECK ($e): $c violating rows" }
        .mkString("; ")
      throw new ConstraintViolationException(
        s"commit to $table rejected — $detail")
    }
  }

  /** Column names a constraint expression references (lowercased;
    * struct paths count their root column). */
  private def constraintRefs(spark: SparkSession, e: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(e).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase
    }.toSet

  /** ADD CONSTRAINT (Delta `ALTER TABLE … ADD CONSTRAINT`): validates
    * that the EXISTING table satisfies `sqlExpr` (one scan of the
    * current snapshot through mapping + deletion vectors), then
    * publishes a METADATA-ONLY commit carrying the new constraint —
    * same file list, CAS'd on the current version so a concurrent
    * write whose batch this validation never saw surfaces as a
    * conflict instead of landing unchecked. Every subsequent write
    * that lands new rows enforces it through [[land]]'s gate (commits,
    * appends and their streaming sinks, staged appends, MoR upserts,
    * UPDATE, MERGE, replaceWhere) on the incoming batch only —
    * O(batch), never O(table). */
  def addCheckConstraint(spark: SparkSession, table: String, name: String,
      sqlExpr: String): Long = {
    val cur = snapshot(spark, table)
    require(!cur.constraints.exists(_._1 == name),
      s"constraint $name already exists on $table")
    // parse + resolve eagerly: a malformed or dangling expression must
    // fail THIS DDL, not some later write
    val full = read(spark, table, cur.version)
    val missing = constraintRefs(spark, sqlExpr) --
      full.columns.map(_.toLowerCase).toSet
    require(missing.isEmpty,
      s"constraint $name references absent columns: ${missing.mkString(", ")}")
    checkConstraints(spark, full, Seq((name, sqlExpr)), table)
    publish(spark, table, cur.statsCol, cur.files, op = "ADD CONSTRAINT",
      dv = cur.dv, dvRows = cur.dvRows, expected = Some(cur.version),
      schemaJson = cur.schemaJson, mapping = cur.mapping,
      constraints = Some(cur.constraints :+ (name -> sqlExpr)))
  }

  /** DROP CONSTRAINT: a metadata-only commit without the named check. */
  def dropCheckConstraint(spark: SparkSession, table: String,
      name: String): Long = {
    val cur = snapshot(spark, table)
    require(cur.constraints.exists(_._1 == name),
      s"no constraint $name on $table")
    publish(spark, table, cur.statsCol, cur.files, op = "DROP CONSTRAINT",
      dv = cur.dv, dvRows = cur.dvRows, expected = Some(cur.version),
      schemaJson = cur.schemaJson, mapping = cur.mapping,
      constraints = Some(cur.constraints.filterNot(_._1 == name)))
  }

  /** Compute absent GENERATED columns on a LOGICAL batch. foldLeft so
    * a later generated column may reference an earlier one. A column
    * the batch already carries is left untouched here — it is
    * VALIDATED instead (see [[generatedChecks]]). */
  private def applyGenerated(df: DataFrame,
      gens: Seq[(String, String)]): DataFrame =
    gens.foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d
      else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
    }

  /** Synthetic CHECK expressions validating caller-SUPPLIED values of
    * generated columns: `name <=> (expr)` — null-safe equality, so a
    * supplied null only passes where the expression is null too. Only
    * columns present in the ORIGINAL batch get a check; ones
    * [[applyGenerated]] computed are correct by construction. */
  private def generatedChecks(gens: Seq[(String, String)],
      originalCols: Seq[String]): Seq[(String, String)] = {
    val present = originalCols.map(_.toLowerCase).toSet
    gens.collect { case (n, e) if present(n.toLowerCase) =>
      (s"generated:$n", s"$n <=> ($e)")
    }
  }

  /** ADD a GENERATED column (Delta generated columns): every
    * subsequent write computes `name` AS `sqlExpr` when the batch
    * does not supply it, and validates `name <=> (sqlExpr)` through
    * the atomic CHECK gate when it does — a wrong supplied value
    * aborts the commit before publication. Metadata-only commit,
    * CAS'd on the current version; existing files are NOT rewritten
    * (pre-DDL files read the column as null under per-version schema
    * semantics, exactly like q78 add-column evolution). The column
    * must not already exist, and the expression must resolve against
    * the current schema NOW — a dangling expression fails this DDL,
    * not some later write. */
  def addGeneratedColumn(spark: SparkSession, table: String, name: String,
      sqlExpr: String): Long = {
    val cur = snapshot(spark, table)
    require(!cur.generated.exists(_._1.equalsIgnoreCase(name)),
      s"generated column $name already declared on $table")
    val full = read(spark, table, cur.version)
    require(!full.columns.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists on $table; a generated column " +
        "must introduce a new name")
    val missing = constraintRefs(spark, sqlExpr) --
      full.columns.map(_.toLowerCase).toSet
    require(missing.isEmpty,
      s"generated column $name references absent columns: " +
        missing.mkString(", "))
    full.select(org.apache.spark.sql.functions.expr(sqlExpr)) // resolves or throws
    publish(spark, table, cur.statsCol, cur.files, op = "ADD GENERATED",
      dv = cur.dv, dvRows = cur.dvRows, expected = Some(cur.version),
      schemaJson = cur.schemaJson, mapping = cur.mapping,
      generated = Some(cur.generated :+ (name -> sqlExpr)))
  }

  /** DROP a GENERATED column declaration: metadata-only; the column's
    * DATA (where already written) stays — only the compute/validate
    * behavior ends, mirroring Delta's `ALTER COLUMN ... DROP
    * EXPRESSION`. */
  def dropGeneratedColumn(spark: SparkSession, table: String,
      name: String): Long = {
    val cur = snapshot(spark, table)
    require(cur.generated.exists(_._1.equalsIgnoreCase(name)),
      s"no generated column $name on $table")
    publish(spark, table, cur.statsCol, cur.files, op = "DROP GENERATED",
      dv = cur.dv, dvRows = cur.dvRows, expected = Some(cur.version),
      schemaJson = cur.schemaJson, mapping = cur.mapping,
      generated = Some(cur.generated.filterNot(_._1.equalsIgnoreCase(name))))
  }

  /** TIMESTAMP AS OF resolution: the latest version whose MONOTONIZED
    * commit timestamp is ≤ `tsMillis`. Monotonization (Delta's
    * commit-timestamp adjustment): a version's effective time is
    * max(recorded ts, predecessor's effective time), so the timestamp
    * axis always agrees with the version axis even when writer clocks
    * regress between commits. O(versions) driver-side manifest reads,
    * no data or footer I/O. Versions already reclaimed by [[vacuum]]
    * are skipped; pre-`ts` manifests inherit their predecessor's
    * effective time. */
  def snapshotAsOf(spark: SparkSession, table: String,
      tsMillis: Long): Snapshot = {
    val latest = latestVersion(spark, table)
    require(latest > 0, s"versioned table $table has no commits")
    val f = fs(spark, table)
    var eff = Long.MinValue
    var hit = 0L
    var anyTs = false
    (1L to latest).foreach { v =>
      if (f.exists(new Path(versionsDir(table), f"v$v%08d.json"))) {
        val s = snapshot(spark, table, v)
        anyTs ||= s.ts.isDefined
        eff = math.max(eff, s.ts.getOrElse(eff))
        if (eff <= tsMillis) hit = v
      }
    }
    // a table whose manifests never recorded a timestamp must refuse —
    // treating ts-less versions as minus-infinity would resolve ANY
    // target (even epoch 0) to the newest such version, silently wrong
    require(anyTs,
      s"$table predates commit timestamps: no manifest records a ts; " +
        "time-travel it by VERSION instead")
    require(hit > 0,
      s"no version of $table committed at or before timestamp $tsMillis")
    snapshot(spark, table, hit)
  }

  /** Time travel by timestamp — [[read]] at [[snapshotAsOf]]. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame = {
    val snap = snapshotAsOf(spark, table, tsMillis)
    readFiles(spark, table, snap, snap.files)
  }

  /** OPTIMIZE ZORDER BY through the commit log: full rewrite of the
    * latest snapshot sorted by the Morton interleave of `(dimA, dimB)`
    * (range-partitioned — the sort is distributed, never a one-task
    * funnel), published atomically as the next version. The new
    * manifest has NO 1-D clustering key (`statsCol` = None): the
    * z-layout's pruning flows through the PER-COLUMN footer stats,
    * which come out tight on BOTH dimensions — [[readColRange]] on
    * either column then skips non-intersecting files, the property a
    * single-key sort can only give one column. Same concurrency story
    * as [[compactCommit]]: CAS on the optimized version, readers of
    * old versions untouched. */
  def zorderCommit(spark: SparkSession, table: String, dimA: String,
      dimB: String, files: Int = 4): Long = {
    val cur = snapshot(spark, table)
    commit(spark, table, read(spark, table, cur.version), None, files,
      op = "ZORDER", expected = Some(cur.version),
      layout = Some { df =>
        df.withColumn("__zkey",
            graft.functions.ZOrder.interleave16(col(dimA), col(dimB)))
          .repartitionByRange(files, col("__zkey"))
          .sortWithinPartitions("__zkey")
          .drop("__zkey")
      })
  }

  /** Metadata-only COUNT(*) (Delta's metadata query optimization):
    * the logical row count straight from the manifest — physical file
    * rows minus live deletion-vector tombstones, O(files) driver
    * arithmetic, ZERO data or footer I/O. Exact by construction: every
    * entry's `rows` was recorded from the footer at commit time and
    * `dvRows` counts live tombstones. At 100 TB, `count(*)` costs a
    * manifest parse. */
  def metaCount(spark: SparkSession, table: String,
      version: Long = -1L): Long = {
    val snap = snapshot(spark, table, version)
    snap.files.map(_.rows).sum - snap.dvRows.getOrElse(0L)
  }

  /** Metadata-only MIN/MAX of the commit key: the envelope of the
    * per-file key ranges. None when any file lacks key stats — or when
    * a deletion vector is live, since a tombstone may have removed the
    * extreme row (the stats bound the PHYSICAL file contents); callers
    * then fall back to a key-column scan. */
  def metaKeyRange(spark: SparkSession, table: String,
      version: Long = -1L): Option[(Long, Long)] = {
    val snap = snapshot(spark, table, version)
    val ok = snap.dv.isEmpty && snap.files.nonEmpty &&
      snap.files.forall(f => f.minKey.isDefined && f.maxKey.isDefined)
    if (!ok) None
    else Some((snap.files.map(_.minKey.get).min,
      snap.files.map(_.maxKey.get).max))
  }

  /** Metadata-only MIN/MAX of ANY recorded long-domain column (the
    * general form of [[metaKeyRange]], over the per-column footer
    * stats): the envelope of the per-file ranges, None when any file
    * lacks the stat or a deletion vector is live. The caller names the
    * LOGICAL column; stats are keyed physically. */
  def metaColRange(spark: SparkSession, table: String, column: String,
      version: Long = -1L): Option[(Long, Long)] = {
    val snap = snapshot(spark, table, version)
    val phys = snap.physicalName(column)
    val ranges = snap.files.map(_.stats.get(phys).flatMap(_.longRange))
    if (snap.dv.isDefined || snap.files.isEmpty || ranges.exists(_.isEmpty))
      None
    else Some((ranges.map(_.get._1).min, ranges.map(_.get._2).max))
  }

  /** Per-file bloom bitsets for `entries`, computed in ONE distributed
    * pass over `scan` (which must read exactly those files under the
    * generation's physical schema — hash inputs must match what
    * [[readPointLookup]] will hash at query time): k hash positions
    * per value via `pmod(hash(col, seed), m)` (codegen'd Murmur3),
    * exploded, deduped per file, collected as O(files × m/8) driver
    * state. A file whose indexed column is all-NULL gets the EMPTY
    * bitset — an equality lookup never matches NULL, so pruning it is
    * exact, not approximate. */
  /** Marker distinguishing a TOKEN index config from a value index in
    * the manifest's `bloom` entry: the recorded column is
    * `tok:<physical>` and the per-file bitsets hold the DISTINCT
    * lowercase whitespace tokens of the column rather than its values.
    * Kept as a string prefix so the manifest format (column, bits, k)
    * is unchanged and old readers simply never match it (conservative:
    * they scan). */
  private[sources] val TokenPrefix = "tok:"
  private[sources] def isTokenCfg(c: String): Boolean = c.startsWith(TokenPrefix)
  private[sources] def bloomPhys(c: String): String = c.stripPrefix(TokenPrefix)

  private def attachBlooms(spark: SparkSession, table: String,
      scan: DataFrame, entries: Seq[DataFile], physCol: String,
      m: Int, k: Int): Seq[DataFile] = {
    // row-less files (an empty batch) get the EMPTY bitset without a job
    if (entries.forall(_.rows == 0L)) return entries.map(_.copy(bloom = Some("")))
    import org.apache.spark.sql.functions.{array, collect_list, explode, hash, input_file_name, lit, lower, pmod, split}
    // value index blooms the column's values; token index blooms the
    // DISTINCT lowercase whitespace tokens (the same tokenization the
    // keyword probe and the in-plan array_contains pattern hash)
    val values =
      if (isTokenCfg(physCol))
        scan.select(input_file_name().as("__f"),
            explode(split(lower(col(bloomPhys(physCol))), " ")).as("__v"))
          .filter(col("__v") =!= "")
      else scan
        .select(input_file_name().as("__f"), col(physCol).as("__v"))
        .filter(col("__v").isNotNull)
    val perFile = values
      .select(col("__f"), explode(array((0 until k).map(i =>
        pmod(hash(col("__v"), lit(i)), lit(m))): _*)).as("__p"))
      .distinct()
      .groupBy("__f").agg(collect_list("__p").as("__ps"))
      .collect()
      .map { r =>
        val bs = new java.util.BitSet(m)
        r.getSeq[Int](1).foreach(bs.set)
        new Path(r.getString(0)).toUri.getPath ->
          java.util.Base64.getEncoder.encodeToString(bs.toByteArray)
      }.toMap
    val f = fs(spark, table)
    entries.map { e =>
      val qualified = f.makeQualified(resolve(table, e.path)).toUri.getPath
      e.copy(bloom = Some(perFile.getOrElse(qualified, "")))
    }
  }

  /** CREATE BLOOMFILTER INDEX (Delta's bloom filter index): one
    * distributed pass computes a per-file bloom over `column` for every
    * file of the current snapshot, published as a metadata commit; from
    * then on the WRITE PATHS maintain it (each append/rewrite blooms
    * its own batch — O(batch), never O(table)). Sizing: `bits` per
    * file and `k` hashes give FPP ≈ (1−e^(−k·n/bits))^k for n distinct
    * values per file — the default 2^16 bits (8 KiB, ~11 KiB base64 in
    * the manifest) holds FPP < 2% to ~10k distinct values per file;
    * size bits toward 10·n for big files. Every rewrite path
    * (OPTIMIZE, recluster, targeted DELETE/REPLACE, MoR upsert)
    * re-blooms its own output as it lands ([[land]]) — O(touched
    * files) — so the index never decays under steady-state
    * maintenance. */
  def addBloomIndex(spark: SparkSession, table: String, column: String,
      bits: Int = 1 << 16, k: Int = 4): Long = {
    require(bits > 0 && (bits & 7) == 0, s"bits must be a positive multiple of 8: $bits")
    require(k > 0 && k <= 16, s"hash count out of range: $k")
    val cur = snapshot(spark, table)
    val phys = cur.physicalName(column)
    val withBlooms = attachBlooms(spark, table,
      rawRead(spark, table, cur, cur.files), cur.files, phys, bits, k)
    publish(spark, table, cur.statsCol, withBlooms, op = "ADD BLOOM INDEX",
      dv = cur.dv, dvRows = cur.dvRows, expected = Some(cur.version),
      schemaJson = cur.schemaJson, mapping = cur.mapping,
      bloomCfg = Some(Some((phys, bits, k))))
  }

  /** Point lookup with BLOOM + min/max file skipping: candidate files
    * are those whose per-column stats admit the value AND whose bloom
    * (when present) has all k bits set; everything else is skipped
    * without I/O. This is the pruning tier min/max can't provide — a
    * high-cardinality equality under an interleaved layout overlaps
    * every file's range, but blooms stay selective. The residual
    * equality filter keeps the result exact regardless of bloom false
    * positives. At 100 TB: O(files) driver-side bitset probes, then a
    * scan of only the files that can contain the key. */
  def readPointLookup(spark: SparkSession, table: String, column: String,
      value: Any): DataFrame = {
    val snap = snapshot(spark, table)
    val phys = snap.physicalName(column)
    val positions: Option[Seq[Int]] = snap.bloomCfg.collect {
      case (c, m, k) if c == phys =>
        import org.apache.spark.sql.functions.{array, hash, lit, pmod}
        val castLit = snap.physicalSchema
          .flatMap(_.fields.find(_.name == phys))
          .map(f => lit(value).cast(f.dataType)).getOrElse(lit(value))
        spark.range(1).select(array((0 until k).map(i =>
          pmod(hash(castLit, lit(i)), lit(m))): _*).as("ps"))
          .head().getSeq[Int](0)
    }
    def bloomAdmits(f: DataFile): Boolean = (positions, f.bloom) match {
      case (Some(ps), Some(b64)) =>
        val bs = java.util.BitSet.valueOf(
          java.util.Base64.getDecoder.decode(b64))
        ps.forall(bs.get)
      case _ => true // no index / unbloomed file: must scan
    }
    def statsAdmit(f: DataFile): Boolean =
      f.stats.get(phys) match {
        case Some(cs) => overlaps(cs, value, value).getOrElse(true)
        case None => true
      }
    val candidates = snap.files.filter(f => statsAdmit(f) && bloomAdmits(f))
    val result =
      if (candidates.isEmpty) {
        val sch = readFiles(spark, table, snap, snap.files).schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      } else readFiles(spark, table, snap, candidates)
    result.filter(col(column) === lit(value))
  }

  /** CREATE a TOKEN (inverted) INDEX on a text column: one distributed
    * pass blooms the DISTINCT lowercase whitespace tokens of `column`
    * per file, published as a metadata commit — the full-text analogue
    * of [[addBloomIndex]]. From then on every write path maintains it
    * (each append/rewrite tokenizes and blooms its own batch —
    * O(batch tokens), never O(table)). A keyword search
    * ([[readKeywordSearch]], or a plain
    * `array_contains(split(lower(text), ' '), w)` predicate through
    * [[VersionedScan]] — the in-plan path, pinned in TokenIndexSpec)
    * then skips every file whose token set provably lacks the word.
    * Sizing: text files hold far more distinct tokens than distinct
    * values — the default 2^17 bits (16 KiB/file) holds FPP < 2% to
    * ~20k distinct tokens per file; size toward 10·vocab for bigger
    * files. At 100 TB this is the difference between a corpus grep and
    * a posting-list probe: O(files) driver bitset tests, then a scan
    * of only the files that can contain the term. */
  def addTokenIndex(spark: SparkSession, table: String, column: String,
      bits: Int = 1 << 17, k: Int = 4): Long = {
    require(bits > 0 && (bits & 7) == 0, s"bits must be a positive multiple of 8: $bits")
    require(k > 0 && k <= 16, s"hash count out of range: $k")
    val cur = snapshot(spark, table)
    val phys = cur.physicalName(column)
    val cfgCol = TokenPrefix + phys
    val withBlooms = attachBlooms(spark, table,
      rawRead(spark, table, cur, cur.files), cur.files, cfgCol, bits, k)
    publish(spark, table, cur.statsCol, withBlooms, op = "ADD TOKEN INDEX",
      dv = cur.dv, dvRows = cur.dvRows, expected = Some(cur.version),
      schemaJson = cur.schemaJson, mapping = cur.mapping,
      bloomCfg = Some(Some((cfgCol, bits, k))))
  }

  /** Keyword search through the token index: candidate files are those
    * whose token bloom has all k bits of `lowercase(word)` set;
    * everything else is skipped without I/O. The residual
    * `array_contains` filter keeps the result exact regardless of
    * bloom false positives — and is the SAME tokenization the index
    * recorded, so there are no false negatives. Case-insensitive by
    * construction (tokens are stored lowercased). */
  def readKeywordSearch(spark: SparkSession, table: String, column: String,
      word: String): DataFrame =
    readKeywordSearchAll(spark, table, column, Seq(word))

  /** Multi-term AND search: a file is scanned only if its token bloom
    * admits EVERY term (conjunction prunes multiplicatively — each
    * term's bitset test is independent), and the residual requires all
    * terms in the row. The same conjunction prunes in-plan through
    * [[VersionedScan]] because Catalyst hands the file index each
    * `array_contains` conjunct separately. */
  def readKeywordSearchAll(spark: SparkSession, table: String,
      column: String, words: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{array_contains, lower, split}
    val (result, ws) = tokenPrunedRead(spark, table, column, words)
    ws.foldLeft(result)((df, w) =>
      df.filter(array_contains(split(lower(col(column)), " "), w)))
  }

  /** Phrase search through the token index: candidate files are pruned
    * on EVERY term of the phrase (a file containing the phrase as
    * adjacent whitespace tokens necessarily contains each term as a
    * token, so the conjunction is lossless), then the residual requires
    * the tokens ADJACENT in order — `' '||lower(col)||' '` containing
    * `' w1 w2 … '`, whole-token adjacency under the index's
    * single-space tokenization. Same cost shape as
    * [[readKeywordSearchAll]]: O(files) driver bitset tests, scan of
    * only admitted files, exact residual — the rarest phrase term does
    * the pruning, the contains() keeps exactness. */
  def readPhraseSearch(spark: SparkSession, table: String, column: String,
      phrase: String): DataFrame = {
    import org.apache.spark.sql.functions.{concat, lit, lower}
    val terms = phrase.trim.split("\\s+").toSeq
    val (result, ws) = tokenPrunedRead(spark, table, column, terms)
    result.filter(concat(lit(" "), lower(col(column)), lit(" "))
      .contains(" " + ws0(terms) + " "))
  }

  /** Canonical lowercase single-space rendering of a token sequence. */
  private def ws0(terms: Seq[String]): String =
    terms.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(" ")

  /** Shared candidate selection for the token-index search family: scan
    * only the files whose token bloom admits EVERY word. Returns the
    * pruned relation plus the normalized (lowercased, deduped) words
    * for the caller's residual predicate. */
  private def tokenPrunedRead(spark: SparkSession, table: String,
      column: String, words: Seq[String]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{array, hash, lit, pmod}
    require(words.nonEmpty, "keyword search needs at least one term")
    val snap = snapshot(spark, table)
    val phys = snap.physicalName(column)
    val ws = words.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    // all terms' bit positions in ONE local projection (no Spark job)
    val positions: Option[Seq[Seq[Int]]] = snap.bloomCfg.collect {
      case (c, m, k) if isTokenCfg(c) && bloomPhys(c) == phys =>
        spark.range(1).select(array(ws.map(w =>
          array((0 until k).map(i =>
            pmod(hash(lit(w), lit(i)), lit(m))): _*)): _*).as("ps"))
          .head().getSeq[scala.collection.Seq[Int]](0).map(_.toSeq)
    }
    def admits(f: DataFile): Boolean = (positions, f.bloom) match {
      case (Some(perWord), Some(b64)) =>
        val bs = java.util.BitSet.valueOf(
          java.util.Base64.getDecoder.decode(b64))
        perWord.forall(_.forall(bs.get))
      case _ => true // no index / unbloomed file: must scan
    }
    val candidates = snap.files.filter(admits)
    val result =
      if (candidates.isEmpty) {
        val sch = readFiles(spark, table, snap, snap.files).schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      } else readFiles(spark, table, snap, candidates)
    (result, ws)
  }

  /** Append-path schema resolution: same-named fields must match or
    * WIDEN (int→long, float→double — the promotions the parquet reader
    * executes at scan time); batch-only fields append at the end.
    * Anything else is a real schema conflict and throws. */
  private def mergeSchemas(table0: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType,
      table: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
      case (x, y) if x == y => Some(x)
      case (IntegerType, LongType) | (LongType, IntegerType) => Some(LongType)
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }
    val merged = table0.fields.map { f =>
      batch.fields.find(_.name == f.name) match {
        case Some(g) => f.copy(
          dataType = widen(f.dataType, g.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"append to $table: column ${f.name} has incompatible types " +
                s"${f.dataType.simpleString} vs ${g.dataType.simpleString}")),
          nullable = f.nullable || g.nullable)
        case None => f
      }
    }
    // a column the batch INTRODUCES records NULLABLE regardless of the
    // batch's own nullability: every pre-existing file lacks it, and a
    // required-column read over those files is a hard error (the
    // identity column — a non-nullable row_number — hit exactly this)
    val added = batch.fields.filterNot(g => table0.fieldNames.contains(g.name))
      .map(_.copy(nullable = true))
    StructType(merged ++ added)
  }

  /** RESTORE to an earlier version as a NEW commit (Delta RESTORE):
    * the new manifest lists exactly `toVersion`'s files BY REFERENCE —
    * metadata-only, no data read or rewritten, O(files in that
    * version). History is append-only: the rolled-back versions stay
    * readable for audit/time-travel until [[vacuum]] reclaims what
    * nothing kept references. Returns the new version number. */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val base = latestVersion(spark, table)
    val snap = snapshot(spark, table, toVersion)
    // segment-carry against the RESTORED snapshot: its segments still
    // exist (vacuum keeps them) and match this file list exactly, so a
    // restore serializes zero file entries
    publish(spark, table, snap.statsCol, snap.files, op = "RESTORE",
      dv = snap.dv, dvRows = snap.dvRows, expected = Some(base),
      schemaJson = snap.schemaJson, mapping = snap.mapping,
      segBaseOverride = Some(snap))
  }

  /** Stats-pruned snapshot read — manifest DATA SKIPPING on the read
    * path (the same footer [min,max] stats [[deleteWhereKeyIn]] prunes
    * writes with): only files whose key range on the manifest's
    * `statsCol` intersects `[lo, hi]` enter the scan, and a residual
    * filter keeps the result exact (stats prune FILES, the filter
    * prunes ROWS — both are needed, neither alone suffices). Stat-less
    * files are conservatively included. Pruning is O(files) driver
    * arithmetic over the already-parsed manifest — no data or footer
    * I/O; at 100 TB a point/range lookup touches only the files the
    * range-partitioned commit layout put the keys in (pinned in
    * PlanBehaviorSpec via `inputFiles`). */
  def readKeyRange(spark: SparkSession, table: String, lo: Long, hi: Long,
      version: Long = -1L): DataFrame = {
    val snap = snapshot(spark, table, version)
    val physKey = snap.statsCol.getOrElse(throw new IllegalArgumentException(
      s"versioned table $table has no stats column to range-prune on"))
    // statsCol is a PHYSICAL name; the range read speaks logical
    val key = snap.logicalName(physKey).getOrElse(
      throw new IllegalArgumentException(
        s"the stats column $physKey of $table was dropped from the " +
          "logical schema; range-prune a live column via readColRange"))
    readColRange(spark, table, key, lo, hi, snap.version)
  }

  /** Can a file whose recorded stats are `cs` hold a row in `[lo, hi]`?
    * None = the predicate's type doesn't match the recorded domain —
    * cannot prune. Numeric predicates compare in the stat's own domain
    * (a long predicate against double stats widens, never truncates). */
  private def overlaps(cs: ColStat, lo: Any, hi: Any): Option[Boolean] =
    (cs.typ, lo, hi) match {
      case ("long", l: Number, h: Number) =>
        Some(cs.mx.toLong >= l.longValue && cs.mn.toLong <= h.longValue)
      case ("double", l: Number, h: Number) =>
        Some(cs.mx.toDouble >= l.doubleValue && cs.mn.toDouble <= h.doubleValue)
      case ("string", l: String, h: String) =>
        Some(utf8Compare(cs.mx, l) >= 0 && utf8Compare(cs.mn, h) <= 0)
      case _ => None
    }

  /** Unsigned lexicographic UTF-8 byte order — the order parquet
    * records Binary min/max in (= code-point order for valid UTF-8).
    * java.lang.String comparison is UTF-16 CODE-UNIT order, which
    * disagrees for supplementary-plane text (surrogates D800–DFFF sort
    * below E000–FFFF) — pruning with it could drop files that hold
    * matching rows. */
  private[sources] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Stats-pruned range read on ANY recorded column — the general form
    * of [[readKeyRange]] (which remains the commit-key fast path):
    * per-column manifest stats mean a table range-filtered on a second,
    * third, ... column still skips every file whose footer [min,max]
    * provably excludes the range, with a residual filter keeping the
    * result exact. Whether it BITES depends on layout: a column
    * correlated with ingest order (batch-banded tenant keys, event
    * time) prunes hard; an uncorrelated one degrades to a full scan
    * with identical semantics — the Delta data-skipping contract.
    * `lo`/`hi` take Long for integral columns, Double for
    * floating-point, String for UTF-8 text; stat-less or
    * type-mismatched files are conservatively scanned. Pruning is
    * O(files) driver arithmetic over the parsed manifest — no I/O. */
  def readColRange(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, version: Long = -1L): DataFrame = {
    val snap = snapshot(spark, table, version)
    // the caller names a LOGICAL column; per-file stats (and the commit
    // key) are keyed by PHYSICAL name under column mapping
    val phys = snap.physicalName(column)
    def fileStat(f: DataFile): Option[ColStat] =
      f.stats.get(phys).orElse {
        // pre-stats-map manifests: the commit key's legacy minKey/maxKey
        if (snap.statsCol.contains(phys))
          for (mn <- f.minKey; mx <- f.maxKey)
            yield ColStat("long", mn.toString, mx.toString, None)
        else None
      }
    val keep = snap.files.filter { f =>
      fileStat(f).flatMap(overlaps(_, lo, hi)).getOrElse(true)
    }
    // both branches go through the LOGICAL view (schema contract,
    // deletion vector, mapping projection), so the result shape always
    // equals read()'s — pruned, unpruned, or empty
    val base =
      if (keep.isEmpty)
        // every file provably disjoint: empty result, correct schema
        // (Filter(false) collapses to an empty relation)
        readFiles(spark, table, snap, snap.files).filter(lit(false))
      else readFiles(spark, table, snap, keep)
    base.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** The latest commit's transaction id, if any — the streaming-writer
    * idempotency check (single writer per table by contract; the
    * check-then-commit pair is not atomic across writers). */
  def latestTxn(spark: SparkSession, table: String): Option[String] =
    if (latestVersion(spark, table) == 0) None
    else snapshot(spark, table).txn

  /** MERGE as a commit: upsert `source` into the latest snapshot and
    * publish the result as the next version (full rewrite — MERGE can
    * touch any row; targeted mutations use [[deleteWhereKeyIn]]). With
    * `txn` set, a replayed at-least-once batch whose id matches the
    * latest commit is SKIPPED (returns the current version) — Delta's
    * streaming-sink idempotency. */
  def mergeCommit(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], files: Int = 4, txn: Option[String] = None): Long = {
    val cur = snapshot(spark, table)
    if (cur.seenTxn(txn)) return cur.version
    // full rewrite in LOGICAL space: the commit resets the mapping, so
    // its clustering key is the commit key's logical name (None if a
    // rename/drop removed it from the logical schema)
    commit(spark, table,
      Lake.mergeUpsert(read(spark, table, cur.version), source, keys),
      cur.statsCol.flatMap(cur.logicalName), files, txn, op = "MERGE",
      expected = Some(cur.version))
  }

  /** OPTIMIZE as a commit: rewrite the latest snapshot into
    * `targetFiles` files (content-identical, keyed layout preserved)
    * and publish it as the next version — small-file compaction through
    * the commit log, so concurrent readers of the old version are
    * untouched and the swap is atomic. Old files become unreferenced
    * and are reclaimed by [[vacuum]]. */
  def compactCommit(spark: SparkSession, table: String, targetFiles: Int): Long = {
    val cur = snapshot(spark, table)
    commit(spark, table, read(spark, table, cur.version),
      cur.statsCol.flatMap(cur.logicalName),
      targetFiles, op = "OPTIMIZE", expected = Some(cur.version))
  }

  /** Size-tiered OPTIMIZE (Delta OPTIMIZE binpack / Iceberg
    * rewrite_data_files): rewrite ONLY the files smaller than
    * `minFill × targetBytes`, packing them toward `targetBytes` using
    * the manifest's per-file byte sizes — files already at (or above)
    * target carry into the new version BY REFERENCE. This is the
    * steady-state companion to [[compactCommit]]'s whole-table
    * rewrite: streaming ingest leaves a tail of small files per
    * batch, and re-packing just that tail costs O(small files), not
    * O(table) — at 100 TB the difference between a maintenance tick
    * and a full rewrite. Bin count = ceil(small bytes / target); with
    * a clustering key the rewrite is range-partitioned + sorted on it,
    * so packing PRESERVES the layout every range read prunes on.
    * Touched files are read through the live DV (no resurrection);
    * legacy entries without recorded sizes are left untouched
    * (unknown size ⇒ don't churn). No-op (returns the current
    * version) when fewer than two files qualify. */
  def compactSmallFiles(spark: SparkSession, table: String,
      targetBytes: Long, minFill: Double = 0.75): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val snap = snapshot(spark, table)
    val cutoff = (targetBytes * minFill).toLong
    val touched = snap.files.filter(f => f.bytes > 0L && f.bytes < cutoff)
    if (touched.size < 2) return snap.version
    val bins = math.max(1,
      math.ceil(touched.map(_.bytes).sum.toDouble / targetBytes).toInt)
    rewrite(spark, table, snap, touched, "OPTIMIZE")(files = bins)
      .fold(snap.version)(_.version)
  }

  /** AUTO COMPACTION on the write path (Delta autoCompact /
    * optimizeWrite's follow-on): land the append, then — when the
    * resulting snapshot holds `minSmallFiles`-or-more files under the
    * [[compactSmallFiles]] fill cutoff — immediately bin-pack them as
    * a FOLLOW-ON OPTIMIZE commit. Two commits by design, exactly like
    * Delta: the append's CAS never carries the compaction's risk (a
    * concurrent writer aborts the OPTIMIZE retry, not the ingest),
    * and a log-tailing reader sees a clean append followed by a
    * rewrite it may skip (`ignoreChanges`). A previous auto-compact's
    * output re-enters the small pool if still under the cutoff, so
    * steady trickle ingest converges to ~`targetBytes` files instead
    * of accumulating per-batch fragments. Returns the latest version. */
  def appendWithAutoCompact(spark: SparkSession, table: String,
      df: DataFrame, statsCol: Option[String] = None, files: Int = 4,
      targetBytes: Long = 128L << 20, minSmallFiles: Int = 8,
      txn: Option[String] = None): Long = {
    val v = appendCommit(spark, table, df, statsCol, files, txn)
    val snap = snapshot(spark, table, v)
    val cutoff = (targetBytes * 0.75).toLong
    val small = snap.files.count(f => f.bytes > 0L && f.bytes < cutoff)
    if (small >= math.max(2, minSmallFiles))
      compactSmallFiles(spark, table, targetBytes)
    else v
  }

  /** A fresh directory name under `data/` that no manifest references
    * yet: `c` for landed data files, `dv` for deletion-vector
    * sidecars. */
  private def freshDir(kind: String): String =
    s"data/${kind}_" + java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** The CHECK gate, run by [[land]] on every batch it lands: evaluate
    * `checks` over the just-written (still unreferenced) files seen
    * through `view` (logical names, optionally restricted to the rows
    * that are new), and on a violation delete the directory and throw
    * before anything publishes — one column-pruned scan of the batch,
    * never a recompute of the caller's plan. */
  private def constraintGate(spark: SparkSession, table: String, rel: String,
      checks: Seq[(String, String)], view: DataFrame => DataFrame): Unit = {
    if (checks.isEmpty) return
    val dir = new Path(table, rel)
    try checkConstraints(spark, view(spark.read.parquet(dir.toString)),
      checks, table)
    catch { case e: ConstraintViolationException =>
      fs(spark, table).delete(dir, true); throw e }
  }

  /** Files one commit landed: their table-relative directory and their
    * manifest entries. */
  private final case class Landed(rel: String, files: Seq[DataFile])

  /** LAND a commit's new data files — the first half of every write
    * that adds data ([[commit]], [[appendCommit]], [[stageAppend]], the
    * merge-on-read ops and every [[rewrite]]); publication is the
    * second. `rows` (physical names) lands under a fresh `data/c_<id>/`
    * shaped by `layout` when given, else range-partitioned and sorted on
    * `key` across `files` files (round-robin without a key). `finish`
    * runs on the shaped frame just before the write: row markers are
    * observed there, ABOVE the range shuffle (below it, the
    * RangePartitioner's sampling pass would count them twice), and
    * dropped. Then the CHECK gate, footer stats keyed on `statsCol`, and
    * — when the table keeps a `bloom` index — the batch's own bitsets,
    * read under `schema`: O(batch), never O(table). */
  private def land(spark: SparkSession, table: String, rows: DataFrame,
      files: Int, key: Option[String], statsCol: Option[String],
      bloom: Option[(String, Int, Int)],
      schema: Option[org.apache.spark.sql.types.StructType],
      checks: Seq[(String, String)] = Nil,
      view: DataFrame => DataFrame = identity,
      layout: Option[DataFrame => DataFrame] = None,
      finish: DataFrame => DataFrame = identity): Landed = {
    val rel = freshDir("c")
    val dir = new Path(table, rel).toString
    val shaped = layout.map(_(rows)).getOrElse(key match {
      case Some(k) =>
        rows.repartitionByRange(files, col(k)).sortWithinPartitions(k)
      case None => if (files > 0) rows.repartition(files) else rows
    })
    finish(shaped).write.mode("errorifexists").parquet(dir)
    constraintGate(spark, table, rel, checks, view)
    val listed = listDataFiles(spark, table, rel, statsCol)
    Landed(rel, bloom match {
      case Some((c, m, k)) => attachBlooms(spark, table,
        schema.fold(spark.read)(spark.read.schema).parquet(dir), listed, c, m, k)
      case None => listed
    })
  }

  /** What a [[rewrite]] published: the new version, the files it
    * landed, and the live tombstone count of its deletion vector. */
  private final case class Rewritten(version: Long, added: Seq[DataFile],
      dvRows: Option[Long])

  /** The COPY-ON-WRITE tail every file-rewriting mutation shares. The
    * caller classifies `snap`'s files (`touched` rewrite, the rest carry
    * BY REFERENCE — same path, same bytes, never read) and supplies the
    * row logic; this reads the touched files ONE way — column defaults
    * substituted, deletion vector applied (a raw read would move masked
    * rows to positions the positional DV cannot address), physical
    * names — hands them to `rows`, lands the result through [[land]]
    * (one file per touched file unless `files` says otherwise,
    * clustered on `clusterBy` or else `statsCol` when present), drops the
    * DV entries that addressed the touched files, and publishes carried
    * ++ landed files CAS'd on `snap`. A changed clustering key re-derives
    * the carried files' key ranges from their per-column stats. `gate`,
    * when set, restricts the CHECK gate's logical view to the rows that
    * are new; ops that only drop or move existing rows leave it None.
    *
    * ZERO-MATCH RULE: a rewrite that touches no file, adds no rows of its
    * own (`adds`), records no `txn` and keeps the clustering key changes
    * nothing — no commit (None), so a no-op statement neither mints a
    * version nor competes for the CAS slot against real writers. */
  private def rewrite(spark: SparkSession, table: String, snap: Snapshot,
      touched: Seq[DataFile], op: String)(
      rows: DataFrame => DataFrame = identity,
      files: Int = math.max(1, touched.size),
      statsCol: Option[String] = snap.statsCol,
      clusterBy: Option[String] = None,
      txn: Option[String] = None, adds: Boolean = false,
      gate: Option[DataFrame => DataFrame] = None,
      finish: DataFrame => DataFrame = identity): Option[Rewritten] = {
    val writes = touched.nonEmpty || adds
    if (!writes && txn.isEmpty && statsCol == snap.statsCol) return None
    val tp = touched.map(_.path).toSet
    val carried = snap.files.filterNot(f => tp(f.path)).map { f =>
      if (statsCol == snap.statsCol) f
      else {
        val r = statsCol.flatMap(f.stats.get).flatMap(_.longRange)
        f.copy(minKey = r.map(_._1), maxKey = r.map(_._2))
      }
    }
    val added = if (!writes) Nil else {
      val in =
        if (touched.nonEmpty) physicalRead(spark, table, snap, touched)
        else spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          snap.physicalSchema.getOrElse(
            rawRead(spark, table, snap, snap.files).schema))
      val out = rows(in)
      land(spark, table, out, files,
        clusterBy.orElse(statsCol).filter(out.columns.contains), statsCol,
        snap.bloomCfg, snap.physicalSchema,
        checks = if (gate.isDefined) snap.constraints else Nil,
        view = w => gate.fold(w)(_(snap.toLogical(w))),
        finish = finish).files
    }
    val (dv, dvRows) = dropDvEntries(spark, table, snap, touched)
    Some(Rewritten(publish(spark, table, statsCol, carried ++ added, txn, op,
      dv = dv, dvRows = dvRows, expected = Some(snap.version),
      schemaJson = snap.schemaJson, mapping = snap.mapping,
      baseSnapHint = Some(snap)), added, dvRows))
  }

  /** INCREMENTAL RE-CLUSTERING (the Liquid-clustering companion to
    * q88's whole-table re-cluster commit): evolve the table's
    * clustering spec to `newKey` rewriting ONLY the files that VIOLATE
    * it. A file violates when its manifest [min,max] span on the new
    * key exceeds `wideFraction` of the key's global span (or it has no
    * recorded stats — can't prove conformance): a span that wide means
    * the file answers almost every range probe, so it contributes
    * nothing to pruning. Files already tight on the new key — banded
    * ingest, earlier recluster output — carry BY REFERENCE with their
    * minKey/maxKey re-derived from the per-column stats map, so a spec
    * change after mostly-conforming ingest costs O(violating files),
    * not a table rewrite; with nothing violating it is METADATA-ONLY
    * (and no commit at all when `newKey` already is the spec).
    * Conforming files may still overlap the rewritten ones (range
    * reads stay exact via the residual filter; pruning is best-effort,
    * exactly Delta Liquid's contract), and one tick converges: the
    * rewrite lands `files` range partitions each spanning ≈ 1/files of
    * the domain, below any wideFraction ≥ 1/files. */
  def reclusterIncremental(spark: SparkSession, table: String,
      newKey: String, files: Int = 4, wideFraction: Double = 0.5): Long = {
    val snap = snapshot(spark, table)
    val phys = snap.physicalName(newKey)
    def range(f: DataFile): Option[(Long, Long)] =
      f.stats.get(phys).flatMap(_.longRange)
    val ranged = snap.files.flatMap(range)
    if (ranged.isEmpty) // no stats anywhere: degrade to the full re-cluster
      return commit(spark, table, read(spark, table, snap.version),
        Some(newKey), files, op = "RECLUSTER", expected = Some(snap.version))
    val lo = ranged.map(_._1).min
    val hi = ranged.map(_._2).max
    val width = math.max(1L, hi - lo)
    val touched = snap.files.filter { f =>
      range(f) match {
        case Some((mn, mx)) => (mx - mn).toDouble > wideFraction * width
        case None => true // unprovable ⇒ rewrite
      }
    }
    // nothing violating: a new key is a pure metadata re-spec, the
    // current one a no-op
    rewrite(spark, table, snap, touched, "RECLUSTER")(
      files = files, statsCol = Some(phys)).fold(snap.version)(_.version)
  }

  /** The file matcher behind [[rewriteFilesByKey]] and its cost
    * preview [[filesTouchedByKey]] — ONE rule so the preview counts
    * exactly what the rewrite would touch: a file is dirty when its
    * recorded key range intersects the sorted dirty-key set; a
    * statless file cannot be proven clean, so it counts dirty. */
  private def dirtyFileMatcher(clusterCol: String,
      dirtyKeys: Seq[Long]): DataFile => Boolean = {
    val sorted = dirtyKeys.distinct.sorted.toArray
    (f: DataFile) =>
      f.stats.get(clusterCol).flatMap(_.longRange)
        .orElse(for (mn <- f.minKey; mx <- f.maxKey) yield (mn, mx)) match {
        case Some((mn, mx)) =>
          val i = java.util.Arrays.binarySearch(sorted, mn)
          val from = if (i >= 0) i else -i - 1
          from < sorted.length && sorted(from) <= mx
        case None => true // no stats: cannot prove the file clean
      }
  }

  /** (files a [[rewriteFilesByKey]] at these keys would rewrite, total
    * files) — the COST PREVIEW an O(delta) layout refresh decides
    * incremental-vs-full on: the r15 crossover rehearsal showed a
    * refresh rewriting over half the layout's files costs MORE than
    * the full re-cluster it exists to avoid (wall-clock locally, I/O
    * at scale), so the caller falls back when touched/total crosses
    * 1/2. O(files) driver arithmetic over the manifest, zero data
    * I/O. */
  def filesTouchedByKey(spark: SparkSession, table: String, version: Long,
      clusterCol: String, dirtyKeys: Seq[Long]): (Int, Int) = {
    val snap = snapshot(spark, table, version)
    (snap.files.count(dirtyFileMatcher(clusterCol, dirtyKeys)),
      snap.files.size)
  }

  /** PARTIAL REWRITE on an integral cluster column — the commit
    * primitive behind O(delta) maintenance of DERIVED serving layouts
    * (graft.vector.AnnIndex's ivf_lists / nsw_layout / pq_lists): only
    * the files whose per-file [min,max] stats range on `clusterCol`
    * contains a dirty key rewrite (plus stat-less files — innocence
    * unprovable); every other file carries into the new version BY
    * REFERENCE, same path, same bytes, never read. `replace` maps the
    * rewritten files' rows (DV applied) to their replacement — it must
    * re-provide EVERY surviving row of those files, since the files
    * themselves leave the manifest — and it may ALSO carry rows whose
    * keys are outside `dirtyKeys` entirely (an append-through-refresh:
    * new keys land in the fresh range-sorted files next to the carried
    * ones; readers prune by stats across all files, so multiple files
    * per key are fine). New files land range-partitioned on
    * `clusterCol` (per-file stats stay tight for pruning), one per
    * rewritten file. Cost: O(rewritten files + replacement), never
    * O(table). Refused (fall back to a full rewrite) for
    * column-mapped or initial-defaulted tables — partial rewrites
    * would mix physical-name generations. */
  def rewriteFilesByKey(spark: SparkSession, table: String,
      clusterCol: String, dirtyKeys: Seq[Long], txn: Option[String],
      op: String, expected: Long)
      (replace: DataFrame => DataFrame): Long = {
    val snap = snapshot(spark, table, expected)
    require(snap.mapping.isEmpty && snap.initialDefaults.isEmpty,
      s"rewriteFilesByKey: $table carries column mapping / initial " +
        "defaults — partial rewrite would mix name generations")
    // the stamped txn IS the refresh's record, so even a delta that
    // rewrites and adds nothing publishes (`adds`)
    rewrite(spark, table, snap,
      snap.files.filter(dirtyFileMatcher(clusterCol, dirtyKeys)), op)(
      rows = replace, statsCol = Some(clusterCol), txn = txn,
      adds = true).fold(snap.version)(_.version)
  }

  /** Ids of rows in files that DIFFER between two versions of a table —
    * the manifest-level change superset an O(delta) layout refresh
    * diffs on: rows can only have appeared, changed or moved through a
    * file that is in exactly one of the two manifests, so reading the
    * id column of those files (column-pruned, O(changed files)) bounds
    * the delta without scanning the table. Returns the two sides
    * SEPARATELY — (ids in files v0 lost, ids in files v1 gained):
    * the old side is what can force a rewrite of a derived layout's
    * files (an OLD image must leave), the union is the upsert set.
    * A DELETION-VECTOR delta (MoR upserts/deletes between the
    * versions) is folded in by diffing the DV entries themselves and
    * reading the referenced rows' ids by position — newly-dead rows
    * join the old side, resurrected rows the new side, both bounded by
    * the files the DV delta touches. None when either version is
    * unreadable. Ids come back WITHOUT DV application — a conservative
    * superset, which is the contract: extra ids cost extra rewrite,
    * never wrong rows. */
  def fileDiffIds(spark: SparkSession, table: String, v0: Long, v1: Long,
      idCol: String): Option[(DataFrame, DataFrame)] = scala.util.Try {
    val s0 = snapshot(spark, table, v0)
    val s1 = snapshot(spark, table, v1)
    val p0 = s0.files.map(_.path).toSet
    val p1 = s1.files.map(_.path).toSet
    val only0 = s0.files.filterNot(f => p1(f.path))
    val only1 = s1.files.filterNot(f => p0(f.path))
    def ids(sn: Snapshot, fl: Seq[DataFile]): DataFrame =
      if (fl.isEmpty) read(spark, table, v1).select(idCol).limit(0)
      else rawRead(spark, table, sn, fl)
        .select(col(sn.physicalName(idCol)).as(idCol))
    var oldSide = ids(s0, only0)
    var newSide = ids(s1, only1)
    if (s0.dv != s1.dv) {
      def dvDf(sn: Snapshot): DataFrame = sn.dv match {
        case Some(rel) => spark.read.parquet(resolve(table, rel).toString)
        case None => spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__dv_file",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("__dv_pos",
              org.apache.spark.sql.types.LongType))))
      }
      val dv0 = dvDf(s0)
      val dv1 = dvDf(s1)
      // ids at the positions a DV delta names, read from the files it
      // touches only (column-pruned + file-bounded)
      def idsAt(sn: Snapshot, positions: DataFrame): DataFrame = {
        // DV entries record `_metadata.file_path` (a URI like
        // file:///...), manifest entries a table-relative path — match
        // on the uuid'd FILE NAME, the component both share
        val touched = positions.select("__dv_file").distinct()
          .collect().map(_.getString(0).split('/').last).toSet
        val fl = sn.files.filter(f => touched(f.path.split('/').last))
        if (fl.isEmpty) read(spark, table, v1).select(idCol).limit(0)
        else rawRead(spark, table, sn, fl)
          .select(col(sn.physicalName(idCol)).as(idCol),
            col("_metadata.file_path").as("__dv_file"),
            col("_metadata.row_index").as("__dv_pos"))
          // no broadcast hint: a mass-delete wave's DV delta can be
          // millions of positions — let AQE pick the join side
          .join(positions, Seq("__dv_file", "__dv_pos"), "left_semi")
          .select(idCol)
      }
      // rows newly dead in v1 (their old image must leave a layout)...
      oldSide = oldSide.unionByName(
        idsAt(s1, dv1.join(dv0, Seq("__dv_file", "__dv_pos"), "left_anti")))
      // ...and rows a RESTORE resurrected (they are new again)
      newSide = newSide.unionByName(
        idsAt(s0, dv0.join(dv1, Seq("__dv_file", "__dv_pos"), "left_anti")))
    }
    (oldSide, newSide)
  }.toOption

  /** DLT-style EXPECTATIONS on the write path: commit only the rows
    * that pass EVERY check; quarantine the rest to a side table (same
    * commit protocol — nothing is silently dropped) and return the
    * per-check violation counts from a single aggregation pass.
    * Checks are named boolean Columns; a null check result counts as a
    * violation (SQL three-valued logic must not smuggle rows past a
    * gate). Returns (committed version, committed rows, quarantined
    * rows, violations per check — a row violating two checks counts in
    * both). */
  def commitWithExpectations(spark: SparkSession, table: String, df: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)],
      quarantineTable: String, statsCol: Option[String] = None,
      files: Int = 4): (Long, Long, Long, Map[String, Long]) = {
    import org.apache.spark.sql.functions.{coalesce => cz, count, lit, sum, when}
    require(checks.nonEmpty, "commitWithExpectations needs at least one check")
    val passAll = checks.map { case (_, c) => cz(c, lit(false)) }.reduce(_ && _)
    val aggCols =
      sum(when(passAll, 0L).otherwise(1L)).as("_fail") +:
        checks.map { case (name, c) =>
          sum(when(cz(c, lit(false)), 0L).otherwise(1L)).as(s"_v_$name")
        }
    val countsRow = df.agg(count(lit(1)).as("_n"), aggCols: _*).collect()(0)
    val total = countsRow.getAs[Long]("_n")
    val failed = countsRow.getAs[Long]("_fail")
    val violations = checks.map { case (name, _) =>
      name -> countsRow.getAs[Long](s"_v_$name")
    }.toMap
    val v = commit(spark, table, df.filter(passAll), statsCol, files)
    if (failed > 0)
      commit(spark, quarantineTable, df.filter(!passAll), statsCol, files)
    (v, total - failed, failed, violations)
  }

  /** Stats-pruned GDPR DELETE as a commit: only files whose footer
    * [min,max] range on the table's `statsCol` intersects a tombstone
    * key are rewritten (anti-join, tombstones broadcast); every other
    * file carries into the new version BY REFERENCE — same path, same
    * bytes, never read. Pruning is DISTRIBUTED: the (tiny, dim-sized)
    * file-stats relation broadcast-joins the tombstone table on the
    * range predicate and only the touched FILE LIST comes back to the
    * driver — bounded by file count, so a very large erasure batch
    * never materializes on the driver. A table without stats on `key`
    * (or stat-less files) degrades to a conservative full rewrite with
    * identical semantics. */
  def deleteWhereKeyIn(spark: SparkSession, table: String,
      tombstones: DataFrame, key: String): Long = {
    val snap = snapshot(spark, table)
    // the caller keys on the LOGICAL name; stats, files and the
    // rewrite all operate in physical space
    val physKey = snap.physicalName(key)
    val physTombstones = tombstones.select(col(key).as(physKey))
    // pruning range for the key on each file: the per-column stats map
    // first (ANY recorded integral column prunes, not just the commit
    // key), then the legacy commit-key minKey/maxKey fields
    def keyRange(f: DataFile): Option[(Long, Long)] =
      f.stats.get(physKey).flatMap(_.longRange).orElse {
        if (snap.statsCol.contains(physKey))
          for (mn <- f.minKey; mx <- f.maxKey) yield (mn, mx)
        else None
      }
    val ranged = snap.files.flatMap(f => keyRange(f).map(f -> _))
    val withStats = ranged.map(_._1)
    val statless = snap.files.filterNot(withStats.contains)
    val touchedStatful: Seq[DataFile] =
      if (withStats.isEmpty) Seq.empty
      else {
        import spark.implicits._
        val statsDf = broadcast(
          ranged.map { case (f, (lo, hi)) => (f.path, lo, hi) }
            .toDF("__path", "__lo", "__hi"))
        val touchedPaths = physTombstones
          .select(col(physKey).cast("long").as("__k")).distinct()
          .join(statsDf, col("__k") >= col("__lo") && col("__k") <= col("__hi"))
          .select("__path").distinct()
          .collect().map(_.getString(0)).toSet
        withStats.filter(f => touchedPaths.contains(f.path))
      }
    // survivors land clustered on the tombstone key
    rewrite(spark, table, snap, statless ++ touchedStatful, "DELETE")(
      rows = _.join(broadcast(physTombstones), Seq(physKey), "left_anti"),
      clusterBy = Some(physKey)).fold(snap.version)(_.version)
  }

  /** DV entries addressing rewritten (now unreferenced) files are dead;
    * drop them so dvRows stays the exact live-tombstone count. */
  private def dropDvEntries(spark: SparkSession, table: String,
      snap: Snapshot, touched: Seq[DataFile]): (Option[String], Option[Long]) =
    snap.dv match {
      case Some(old) if touched.nonEmpty =>
        val dvDf = spark.read.parquet(resolve(table, old).toString)
        val touchedCond = touched.map { f =>
          val p = new Path(f.path)
          val suffix = if (p.isAbsolute || p.toUri.getScheme != null)
            p.toUri.getPath else "/" + f.path
          col("__dv_file").endsWith(suffix)
        }.reduce(_ || _)
        val kept = dvDf.filter(!touchedCond)
        val keptN = kept.count()
        if (keptN == 0L) (None, None)
        else if (snap.dvRows.contains(keptN)) (Some(old), snap.dvRows)
        else { val (r, n) = writeDv(spark, table, kept); (Some(r), Some(n)) }
      case _ => (snap.dv, snap.dvRows)
    }

  /** General-predicate copy-on-write DELETE (Delta's `DELETE FROM t
    * WHERE <any predicate>`): removes every row where `predicate`
    * evaluates TRUE (SQL three-valued semantics — FALSE and NULL rows
    * survive, matching `DELETE` everywhere). File classification rides
    * the SAME conservative stats algebra as the Catalyst-integrated
    * scan ([[VersionedFileIndex]]): the predicate is translated to
    * physical names, resolved against the manifest schema, and every
    * file whose recorded per-column min/max/null-count/bloom provably
    * excludes a match carries into the new version BY REFERENCE — so a
    * predicate on ANY recorded column prunes, not just the commit key
    * ([[deleteWhereKeyIn]] stays the broadcast-tombstone fast path for
    * keyed bulk erasure). Untranslatable predicates degrade to a full
    * rewrite with identical semantics, never a wrong answer. Touched
    * files are read through the live deletion vector, column defaults
    * and mapping (a raw read would resurrect DV-masked rows or lose
    * default substitution), filtered logically, and rewritten under
    * their physical names; DV entries addressing rewritten files are
    * dropped. CAS'd on the snapshot the delete was computed from.
    *
    * This is the engine behind the pure-SQL door: [[GraftTable]]
    * implements `SupportsDeleteV2` by translating Spark's pushed V2
    * predicates to one conjunction and calling here, so
    * `DELETE FROM graft.t WHERE ...` is this exact commit. */
  def deleteWhere(spark: SparkSession, table: String,
      predicate: String): Long =
    deleteWhereExpr(spark, table,
      spark.sessionState.sqlParser.parseExpression(predicate))

  /** Files of `snap` a LOGICAL-name predicate cannot be proven to miss
    * — the write-side twin of the scan's data skipping: translate to
    * physical names, resolve against the manifest schema, run the
    * index's conservative `admits`. `None` predicate (or a legacy
    * manifest, or a resolution failure) classifies everything touched
    * — a full rewrite, never a missed row. */
  private def filesPossiblyMatching(spark: SparkSession, table: String,
      snap: Snapshot,
      parsed: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[DataFile] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    (parsed, snap.physicalSchema) match {
      case (Some(pe), Some(sch)) =>
        val physParsed = pe.transformUp {
          case ua: UnresolvedAttribute =>
            UnresolvedAttribute(
              snap.physicalName(ua.nameParts.head) +: ua.nameParts.tail)
        }
        val attrs = sch.fields.map(f =>
          f.name.toLowerCase -> AttributeReference(f.name, f.dataType,
            f.nullable)()).toMap
        val resolved0 =
          try Some(physParsed.transformUp {
            case ua: UnresolvedAttribute if ua.nameParts.size == 1 =>
              attrs(ua.nameParts.head.toLowerCase)
          })
          catch { case _: NoSuchElementException => None }
        resolved0 match {
          case Some(re0) =>
            // constant-fold before classification: a resolved SQL
            // condition renders literals as Cast(Literal) trees, which
            // the index's admits() would conservatively skip past —
            // folding them recovers the typed literals it prunes on
            val re = re0.transformUp {
              case e: org.apache.spark.sql.catalyst.expressions.Literal => e
              case e if e.deterministic && e.foldable =>
                try org.apache.spark.sql.catalyst.expressions.Literal
                  .create(e.eval(
                    org.apache.spark.sql.catalyst.expressions.EmptyRow),
                    e.dataType)
                catch { case _: Exception => e }
            }
            new VersionedFileIndex(spark, table, snap)
              .admittedEntries(Seq(re))
          case None => snap.files
        }
      case _ => snap.files
    }
  }

  private[sources] def deleteWhereExpr(spark: SparkSession, table: String,
      parsed: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val snap = snapshot(spark, table)
    // the predicate arrives over LOGICAL names; stats keys and the file
    // split live in physical space. DELETE keeps rows where the
    // predicate is FALSE **or NULL**: a bare !pred would silently drop
    // the NULL rows (three-valued logic)
    val keep = not(coalesce(
      org.apache.spark.sql.GraftShims.column(parsed), lit(false)))
    rewrite(spark, table, snap,
      filesPossiblyMatching(spark, table, snap, Some(parsed)), "DELETE")(
      rows = phys => snap.toPhysical(snap.toLogical(phys).filter(keep)))
      .fold(snap.version)(_.version)
  }

  /** [[readFiles]] keeping the positional identity columns
    * (`__graft_file`, `__graft_pos`) alongside the logical schema —
    * what row-level rewrites ([[mergeInto]]) key per-target-row
    * bookkeeping (cardinality checks) off. */
  private[sources] def readFilesWithPos(spark: SparkSession, table: String,
      snap: Snapshot, files: Seq[DataFile]): DataFrame = {
    val raw0 = rawReadWithDefaults(spark, table, snap, files)
    val staged =
      if (raw0.columns.contains("__graft_file")) raw0
      else raw0.withColumn("__graft_file", col("_metadata.file_path"))
        .withColumn("__graft_pos", col("_metadata.row_index"))
    snap.toLogical(applyDv(spark, table, snap, staged),
      "__graft_file", "__graft_pos")
  }

  /** Copy-on-write UPDATE (Delta's `UPDATE t SET ... WHERE ...`):
    * rows where `cond` is TRUE get `sets` applied (all assignments
    * evaluated against the OLD row simultaneously — `SET a = b, b = a`
    * swaps); FALSE and NULL rows carry unchanged. File classification
    * is the same manifest-stats split as [[deleteWhereExpr]]: files the
    * predicate provably misses carry BY REFERENCE, matched files are
    * read through DV + defaults + mapping, rewritten with the
    * conditional projection, and CHECK-gated. Unassigned GENERATED
    * columns are RECOMPUTED on updated rows (their dependencies may
    * have changed — Delta's generated-column update semantics);
    * assigning one explicitly is refused, as is the identity column.
    * Returns the number of updated rows. Expressions arrive with
    * UNRESOLVED attributes over logical column names (the SQL door's
    * [[graft.plans.GraftDmlRewrite]] remaps resolved references to
    * names before calling here). */
  def updateWhere(spark: SparkSession, table: String,
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      sets: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)])
      : Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, when}
    import org.apache.spark.sql.GraftShims
    val snap = snapshot(spark, table)
    // EVERY validation precedes the commit: an invalid statement must
    // never mint a version
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    val logicalCols = logicalColumns(spark, table, snap).map(_._1)
    sets.foreach { case (n, _) =>
      require(logicalCols.contains(n), s"no column $n in $table") }
    snap.identity.foreach { case (idCol, _) =>
      require(!sets.exists(_._1.equalsIgnoreCase(idCol)),
        s"cannot UPDATE identity column $idCol of $table")
    }
    sets.foreach { case (n, _) =>
      require(!snap.generated.exists(_._1.equalsIgnoreCase(n)),
        s"cannot UPDATE generated column $n of $table — it is recomputed")
    }
    val touched = filesPossiblyMatching(spark, table, snap, cond)
    val condCol = cond.map(e => coalesce(GraftShims.column(e), lit(false)))
      .getOrElse(lit(true))
    // the marker is staged BEFORE the projection: the condition reads
    // OLD values, the projection replaces them
    def marked(logical: DataFrame) = logical.withColumn("__graft_upd", condCol)
    val setMap = sets.toMap
    // the marker RIDES THROUGH the shuffle so num_affected_rows is
    // observed ABOVE it, in the write stage — one evaluation of the
    // touched-file scan instead of a separate count job
    val obs = new org.apache.spark.sql.Observation(
      "graft_upd_" + java.util.UUID.randomUUID().toString.take(8))
    // the marker may be evaluated by TWO jobs (the rewrite's write and,
    // if the listener never delivers, the recount): a non-deterministic
    // condition (rand() < 0.1) re-evaluated per job would report a count
    // that diverges from the rows actually rewritten — pin ONE
    // evaluation by materializing the marked rows, the same guard
    // [[mergeInto]] applies to its source. Deterministic conditions (the
    // normal case) keep the checkpoint-free path; cost when it fires is
    // bounded by the touched-file set, never the table.
    var pinned: Option[DataFrame] = None
    try {
      rewrite(spark, table, snap, touched, "UPDATE")(
        rows = { phys =>
          val logical = snap.toLogical(phys)
          val staged0 = marked(logical)
          val staged =
            if (staged0.queryExecution.analyzed.expressions
                .exists(e => !e.deterministic)) {
              pinned = Some(staged0.localCheckpoint(true)); pinned.get
            } else staged0
          val projected = staged.select(logical.columns.map { c =>
            setMap.get(c) match {
              case Some(v) => when(col("__graft_upd"),
                GraftShims.column(v).cast(logical.schema(c).dataType))
                .otherwise(col(c)).as(c)
              case None => col(c)
            }
          } :+ col("__graft_upd"): _*)
          // recompute generated columns from the UPDATED row; untouched
          // rows keep their stored value (pre-DDL rows keep their nulls)
          snap.toPhysical(snap.generated.foldLeft(projected) {
            case (df, (n, e)) =>
              if (df.columns.contains(n))
                df.withColumn(n, when(col("__graft_upd"), expr(e)).otherwise(col(n)))
              else df
          }, "__graft_upd")
        },
        gate = Some(identity),
        finish = _.observe(obs, org.apache.spark.sql.functions.sum(
            when(col("__graft_upd"), 1L).otherwise(0L)).cast("long").as("u"))
          .drop("__graft_upd"))
        .fold(0L)(_ => observedLong(obs, pinned.getOrElse(
          marked(readFiles(spark, table, snap, touched)))
          .filter(col("__graft_upd")).count()))
    // the conditional checkpoint frees its blocks deterministically —
    // unpersist on a checkpointed plan is a silent no-op, hence the shim
    } finally pinned.foreach(GraftShims.releaseCheckpoint)
  }

  /** Read the observed metrics after their action ran. The
    * ExecutionListener delivers ASYNCHRONOUSLY, so this blocks on the
    * observation's future with a 10 s ceiling (normal delivery is
    * milliseconds); on timeout it returns empty and the caller falls
    * back to its recount job — correctness never depends on the
    * listener, only the saved pass does. */
  private[sources] def observedMetrics(
      obs: org.apache.spark.sql.Observation): Map[String, Any] =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(10, "s"))
      row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
        n -> row.get(i) }.toMap
    } catch { case _: java.util.concurrent.TimeoutException => Map.empty }

  private def observedLong(obs: org.apache.spark.sql.Observation,
      fallback: => Long, key: String = "u"): Long = {
    val m = observedMetrics(obs)
    if (m.isEmpty) fallback
    else m.get(key).flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])
  }

  /** One resolved MERGE action for [[mergeInto]]. Expressions carry
    * UNRESOLVED attributes over the merge namespace: `__t_<col>` for
    * target columns, `__s_<col>` for source columns (the SQL door's
    * rewrite remaps resolved references; the prefixes make same-named
    * target/source columns unambiguous after the join). `sets` keys
    * are plain target logical names. */
  sealed trait MergeActSpec {
    def cond: Option[org.apache.spark.sql.catalyst.expressions.Expression]
  }
  final case class UpdateAct(
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      sets: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends MergeActSpec
  final case class DeleteAct(
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression])
    extends MergeActSpec
  final case class InsertAct(
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      sets: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends MergeActSpec

  final case class MergeStats(updated: Long, deleted: Long, inserted: Long)

  /** General SQL MERGE as ONE atomic copy-on-write commit (Delta's
    * two-pass MERGE design): pass 1 finds the target files that hold a
    * match (inner join on the ON condition, collecting distinct file
    * names — O(files) on the driver); pass 2 rewrites exactly those
    * files (left-outer join against the source, first-match-wins
    * action cascade per row) and appends the not-matched inserts
    * (anti-join of the source against the FULL target), publishing
    * rewrites + inserts + carried files together — readers see the
    * whole MERGE or none of it. Matched rows route to the FIRST
    * matched action whose condition holds (SQL MERGE's order
    * contract); unrouted rows carry. `WHEN NOT MATCHED BY SOURCE`
    * actions force a full-table rewrite classification (every target
    * row must be examined — the semantics, not a shortcut).
    *
    * Cardinality: a target row with MULTIPLE source matches is
    * REFUSED when any matched action exists (the SQL standard's
    * non-deterministic-update error; Delta raises the same), detected
    * per target row via the positional identity columns.
    *
    * At 100 TB the dominant costs are the joins over touched files
    * and the insert anti-join, all shuffling on the ON condition's
    * equi-keys (Catalyst extracts them) and bounded by touched files
    * + source size. Cost accounting (r9): pass 1's inner join runs
    * ONCE and carries the cardinality check as a fused per-(file,pos)
    * aggregation (Delta's findTouchedFiles + multipleMatches shape);
    * the rewrite join runs once, in the write job, with num_updated
    * observed above its shuffle (CollectMetrics) and num_deleted
    * derived from manifest arithmetic; the insert anti-join also runs
    * once — num_inserted is observed in the same write and file
    * sizing uses the checkpointed source's cached row count as the
    * insert upper bound. The checkpointed source keeps every pass
    * consistent. Pass 1 itself is column-pruned to the join keys plus
    * file position. */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      matched: Seq[MergeActSpec], notMatched: Seq[InsertAct],
      notMatchedBySource: Seq[MergeActSpec]): MergeStats = {
    import org.apache.spark.sql.functions.{coalesce, lit, sum, when}
    import org.apache.spark.sql.GraftShims
    val snap = snapshot(spark, table)
    val tgtAll = readFilesWithPos(spark, table, snap, snap.files)
    val tCols = tgtAll.columns.filterNot(_.startsWith("__graft_")).toSeq
    val tTypes = tCols.map(c => c -> tgtAll.schema(c).dataType).toMap
    // action VALIDATION before any work: assignment keys must name real
    // target columns (case-insensitive resolution to the canonical
    // name — a silently dropped assignment is the worst failure mode),
    // and the identity / generated columns are allocator/recompute
    // territory, never assignable (updateWhere's exact contract)
    def canon(k: String): String = tCols.find(_.equalsIgnoreCase(k))
      .getOrElse(throw new IllegalArgumentException(
        s"MERGE into $table: assignment names absent column $k"))
    // identity assignment is REFUSED (ids come only from the
    // allocator); GENERATED-column assignments are DROPPED silently —
    // the recompute overwrites them anyway, and refusing would break
    // the standard CDC shape `UPDATE SET * / INSERT *`, whose star
    // expansion names every column with no way to exclude one.
    def cleanSets(sets: Seq[(String,
        org.apache.spark.sql.catalyst.expressions.Expression)]) = {
      sets.foreach { case (k, _) =>
        val c = canon(k)
        snap.identity.foreach { case (idCol, _) =>
          require(!c.equalsIgnoreCase(idCol),
            s"cannot assign identity column $idCol of $table in MERGE") }
      }
      sets.map { case (k, v) => canon(k) -> v }
        .filterNot { case (k, _) =>
          snap.generated.exists(_._1.equalsIgnoreCase(k)) }
    }
    val matchedC = matched.map {
      case UpdateAct(c0, sets) => UpdateAct(c0, cleanSets(sets))
      case other => other
    }
    val notMatchedC = notMatched.map(ia =>
      InsertAct(ia.cond, cleanSets(ia.sets)))
    val notMatchedBySourceC = notMatchedBySource.map {
      case UpdateAct(c0, sets) => UpdateAct(c0, cleanSets(sets))
      case other => other
    }
    // identity refusal BEFORE any cluster work (validate-before-work):
    // both inputs to the decision are driver metadata
    if (notMatchedC.nonEmpty) snap.identity.foreach { case (idCol, _) =>
      throw new UnsupportedOperationException(
        s"MERGE INSERT into $table: the table has identity column " +
          s"$idCol (GENERATED ALWAYS); the merge insert path cannot " +
          "route through the allocator — append the unmatched rows " +
          "separately or drop the identity declaration")
    }
    def prefixT(df: DataFrame) = df.select(tCols.map(c =>
      col(c).as("__t_" + c)) ++
      df.columns.filter(_.startsWith("__graft_")).map(col): _*)
    // the source is MATERIALIZED once with TRUNCATED lineage
    // (localCheckpoint, Delta's merge-source materialization): pass 1,
    // the cardinality check, the rewrite join and the insert anti-join
    // must all see the SAME source rows — a plain persist() would
    // silently RECOMPUTE evicted/lost blocks from lineage, and a
    // non-deterministic source (rand()/uuid()/a concurrently-appended
    // table) would then update one row set and anti-join against
    // another. With the lineage cut, a lost block fails the statement
    // loudly instead — corruption downgraded to a retry. The presence
    // marker lives OUTSIDE the "__s_"/"__t_" prefix namespaces, so no
    // source column can collide with it.
    val src = source.select(source.columns.map(c =>
      col(c).as("__s_" + c)): _*).withColumn("__graft_matched", lit(true))
      .localCheckpoint(true)
    val condCol = GraftShims.column(cond)
    try {
    // ---- manifest pruning from the ON condition's equi-conjuncts
    // (Delta's merge file-pruning move): for every `t.x = s.y`
    // top-level conjunct, ONE tiny aggregate computes the source's
    // [min, max] of y, and target files whose recorded stats on x
    // provably exclude that range can hold NO match — they are out of
    // scope for BOTH the pass-1 join and the insert anti-join (a
    // target row outside the source's key range matches nothing, so
    // it cannot affect which source rows are unmatched). Null source
    // keys match nothing under SQL equality, so min/max over non-null
    // values is exact. A small-source MERGE into a huge table
    // therefore scans candidate files, not the table.
    val equiPairs: Seq[(String, String)] = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo => CEq}
      def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
        e match {
          case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
      conjuncts(cond).collect {
        case CEq(UnresolvedAttribute(Seq(a)), UnresolvedAttribute(Seq(b)))
            if a.startsWith("__t_") && b.startsWith("__s_") =>
          (a.drop(4), b.drop(4))
        case CEq(UnresolvedAttribute(Seq(b)), UnresolvedAttribute(Seq(a)))
            if a.startsWith("__t_") && b.startsWith("__s_") =>
          (a.drop(4), b.drop(4))
      }
    }
    val candidates: Seq[DataFile] =
      if (equiPairs.isEmpty) snap.files
      else {
        import org.apache.spark.sql.functions.{max => fmax, min => fmin}
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        import org.apache.spark.sql.catalyst.expressions.{And => CAnd, GreaterThanOrEqual => CGe, LessThanOrEqual => CLe, Literal => CLit}
        val aggs = equiPairs.zipWithIndex.flatMap { case ((_, s), i) =>
          Seq(fmin(col("__s_" + s)).as(s"__lo$i"),
            fmax(col("__s_" + s)).as(s"__hi$i"))
        }
        val row = src.agg(aggs.head, aggs.tail: _*).collect()(0)
        if (row.isNullAt(0)) Nil // empty / all-null source: no matches
        else {
          val rangePred = equiPairs.zipWithIndex.map { case ((t, _), i) =>
            CAnd(
              CGe(UnresolvedAttribute(t), CLit.create(row.get(2 * i))),
              CLe(UnresolvedAttribute(t), CLit.create(row.get(2 * i + 1))))
          }.reduce[org.apache.spark.sql.catalyst.expressions.Expression](CAnd)
          filesPossiblyMatching(spark, table, snap, Some(rangePred))
        }
      }
    // candidate relation for joins (empty-candidate case short-circuits
    // before any scan is built)
    def tgtCand = readFilesWithPos(spark, table, snap, candidates)
    // ---- pass 1: which files hold a matched row — FUSED with the
    // cardinality check (Delta's findTouchedFiles + multipleMatches
    // accumulator in one job): the same inner join that discovers the
    // touched files aggregates per-(file,pos) match counts, so a
    // multi-match refusal costs no second evaluation of the join. The
    // per-file summary is O(candidate files) driver rows. Duplicate
    // matches can only involve candidate-file rows, so the candidate
    // join covers the check even when NOT MATCHED BY SOURCE forces the
    // full-table rewrite classification below.
    val matchSummary: Option[Array[(String, Long)]] =
      if (matchedC.isEmpty || candidates.isEmpty) None
      else Some {
        prefixT(tgtCand).join(src, condCol, "inner")
          .groupBy(col("__graft_file"), col("__graft_pos"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
          .groupBy(col("__graft_file"))
          .agg(org.apache.spark.sql.functions.max(col("n")).as("mx"))
          .collect()
          .map(r => (new Path(r.getString(0)).getName, r.getLong(1)))
      }
    matchSummary.foreach { m =>
      require(!m.exists(_._2 > 1L),
        s"MERGE into $table: a target row matches multiple source " +
          "rows and a matched action exists — non-deterministic " +
          "update (refine the ON condition or pre-aggregate the source)")
    }
    val touched: Seq[DataFile] =
      if (notMatchedBySourceC.nonEmpty) snap.files
      else matchSummary match {
        case None => Nil
        case Some(m) =>
          val names = m.map(_._1).toSet
          snap.files.filter(f => names.contains(new Path(f.path).getName))
      }
    // ---- pass 2: rewrite touched files through the action cascade
    def branchConds(acts: Seq[MergeActSpec], base: org.apache.spark.sql.Column)
        : Seq[(MergeActSpec, org.apache.spark.sql.Column)] = {
      var notEarlier = lit(true)
      acts.map { a =>
        val c = a.cond.map(e => coalesce(GraftShims.column(e), lit(false)))
          .getOrElse(lit(true))
        val b = base && notEarlier && c
        notEarlier = notEarlier && !c
        (a, b)
      }
    }
    val present = coalesce(col("__graft_matched"), lit(false))
    // cardinality already refused above, fused into pass 1
    val all = branchConds(matchedC, present) ++
      branchConds(notMatchedBySourceC, !present)
    val delCond = all.collect { case (_: DeleteAct, b) => b }
      .reduceOption(_ || _).getOrElse(lit(false))
    val updCond = all.collect { case (_: UpdateAct, b) => b }
      .reduceOption(_ || _).getOrElse(lit(false))
    def joined(target: DataFrame) =
      prefixT(target).join(src, condCol, "left_outer")
    def survivors(target: DataFrame) =
      joined(target).filter(!delCond).select(tCols.map { c =>
        val chain = all.collect { case (ua: UpdateAct, b) =>
          ua.sets.find(_._1 == c).map(s => (b,
            GraftShims.column(s._2).cast(tTypes(c))))
        }.flatten
        chain.foldRight(col("__t_" + c)) { case ((b, v), acc) =>
          when(b, v).otherwise(acc)
        }.as(c)
      } :+ updCond.as("__graft_mod") :+ lit(false).as("__graft_ins"): _*)
    // ---- inserts: source rows no target row matches. The anti-join's
    // target side is the PRUNED candidate set: a target row outside
    // every equi-conjunct's source range matches no source row, so it
    // cannot change which source rows are unmatched. (Identity-table
    // refusal already happened up front, before any cluster work.)
    val inserts =
      if (notMatchedC.isEmpty) None
      else {
        val unmatched =
          if (candidates.isEmpty) src
          else src.join(prefixT(tgtCand), condCol, "left_anti")
        val iBranches = branchConds(notMatchedC, lit(true))
        val anyIns = iBranches.map(_._2).reduceOption(_ || _)
          .getOrElse(lit(false))
        Some(unmatched.filter(anyIns).select(tCols.map { c =>
          val chain = iBranches.collect { case (ia: InsertAct, b) =>
            ia.sets.find(_._1 == c).map(s => (b,
              GraftShims.column(s._2).cast(tTypes(c))))
          }.flatten
          chain.foldRight(lit(null).cast(tTypes(c))) { case ((b, v), acc) =>
            when(b, v).otherwise(acc)
          }.as(c)
        } :+ lit(true).as("__graft_mod") :+ lit(true).as("__graft_ins"): _*))
      }
    // the anti-join is NOT pre-counted: num_inserted rides the write
    // job's observation (the __graft_ins marker), so the anti-join
    // evaluates ONCE. File count follows DATA VOLUME, not just
    // touched-file count: an insert-only (or insert-heavy) MERGE must
    // not funnel its whole insert set through one task. The insert
    // upper bound is the checkpointed source's row count — a cached
    // count, no join — and rows per file the table's own manifest
    // average (fallback 1M rows); over-partitioning when few source
    // rows insert just yields fewer non-empty output files.
    val srcCountForSizing = if (inserts.isDefined) src.count() else 0L
    val avgRows = {
      val withRows = snap.files.filter(_.rows > 0)
      if (withRows.isEmpty) 1000000L
      else math.max(1L, withRows.map(_.rows).sum / withRows.size)
    }
    val insertFiles =
      if (srcCountForSizing == 0L) 0L
      else math.max(1L, (srcCountForSizing + avgRows - 1) / avgRows)
    // num_updated/num_deleted cost no separate pre-write aggregation
    // over the rewrite join: updated rides the WRITE job as an observed
    // metric on the __graft_mod marker ABOVE the shuffle, and deleted is
    // pure MANIFEST ARITHMETIC — live rows of touched files minus
    // survivors written
    val obsM = new org.apache.spark.sql.Observation(
      "graft_merge_" + java.util.UUID.randomUUID().toString.take(8))
    rewrite(spark, table, snap, touched, "MERGE")(
      rows = { phys =>
        val rows0 = ((if (touched.isEmpty) None
          else Some(survivors(snap.toLogical(phys)))) ++ inserts)
          .reduce(_ unionByName _)
        // MERGE-modified rows (updated or inserted) get their GENERATED
        // columns recomputed from the post-merge values — exactly
        // updateWhere's semantics; untouched survivor rows keep their
        // stored values (pre-DDL nulls included)
        snap.toPhysical(snap.generated.foldLeft(rows0) { case (df, (n, e)) =>
          if (df.columns.contains(n))
            df.withColumn(n, when(col("__graft_mod"),
              org.apache.spark.sql.functions.expr(e)).otherwise(col(n)))
          else df
        }, "__graft_mod", "__graft_ins")
      },
      files = math.max(1, touched.size + insertFiles.toInt),
      adds = inserts.isDefined, gate = Some(identity),
      finish = _.observe(obsM,
          sum(when(col("__graft_mod"), 1L).otherwise(0L)).cast("long").as("m"),
          sum(when(col("__graft_ins"), 1L).otherwise(0L)).cast("long").as("i"))
        .drop("__graft_mod", "__graft_ins")) match {
      case None => MergeStats(0L, 0L, 0L)
      case Some(done) =>
        // fallbacks (listener never delivered) re-evaluate the
        // anti-join / rewrite-join once — consistent because the source
        // is checkpointed
        val metrics = observedMetrics(obsM)
        def metric(k: String): Option[Long] =
          if (metrics.isEmpty) None
          else Some(metrics.get(k).flatMap(Option(_))
            .fold(0L)(_.asInstanceOf[Long]))
        val insertedCount = metric("i").getOrElse(
          inserts.map(_.count()).getOrElse(0L))
        val updated = metric("m").map(_ - insertedCount).getOrElse {
          if (touched.isEmpty) 0L
          else Option(joined(readFiles(spark, table, snap, touched))
            .agg(sum(when(updCond, 1L).otherwise(0L))).collect()(0).get(0))
            .fold(0L)(_.asInstanceOf[Long])
        }
        val dvOnTouched = snap.dvRows.getOrElse(0L) - done.dvRows.getOrElse(0L)
        val liveTouched = touched.map(_.rows).sum - dvOnTouched
        MergeStats(updated,
          liveTouched - (done.added.map(_.rows).sum - insertedCount),
          insertedCount)
    }
    } finally GraftShims.releaseCheckpoint(src)
  }

  /** Delta-style `replaceWhere` on the commit key: atomically replace
    * every row in `[lo, hi]` with `replacement` (restricted to the
    * range — out-of-range replacement rows are filtered out, keeping
    * the operation's write scope equal to its declared predicate),
    * rewriting ONLY the files whose
    * manifest [min,max] stats intersect the range. Non-intersecting
    * files carry into the new version BY REFERENCE — the partition-
    * overwrite contract: restating one day/shard of a 100 TB table
    * costs that shard's rewrite plus one manifest, never a table scan
    * (VersionedSpec asserts untouched paths are carried verbatim).
    * Touched files are read THROUGH the live deletion vector (raw
    * positions would resurrect DV-masked rows); DV entries for
    * rewritten files are dropped. */
  def replaceWhereRange(spark: SparkSession, table: String, lo: Long, hi: Long,
      replacement: DataFrame, txn: Option[String] = None): Long = {
    val snap = snapshot(spark, table)
    if (snap.seenTxn(txn)) return snap.version
    val key = snap.statsCol.getOrElse(throw new IllegalArgumentException(
      s"versioned table $table has no stats column to range-replace on"))
    val inRange = col(key) >= lo && col(key) <= hi
    // the replacement arrives in LOGICAL names; the rewrite operates in
    // physical space alongside the surviving physical rows
    val physReplacement = snap.toPhysical(replacement)
    val touched = snap.files.filter { f =>
      (f.minKey, f.maxKey) match {
        case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
        case _ => true // stat-less: conservatively rewrite
      }
    }
    rewrite(spark, table, snap, touched, "REPLACE_WHERE")(
      // NULL-key rows are outside every range: a bare !inRange is NULL
      // for them (three-valued logic) and would silently drop them from
      // rewritten files — deleteWhereKeyIn's anti-join keeps them, and
      // the two rewrite paths must agree
      rows = _.filter(!inRange || col(key).isNull)
        .unionByName(physReplacement.filter(inRange)),
      txn = txn, adds = true,
      // the replacement rows are NEW data: they must pass the CHECK gate
      // like any append. The rewritten files also carry survivors (the
      // out-of-range rows), which are provably valid — restrict the
      // check to the in-range rows so its cost is O(new rows), not
      // O(touched files). Null-key survivors fall out too (inRange is
      // NULL→false for them). If the key left the logical schema the
      // restriction is skipped — a conservative full check, never a
      // missed one.
      gate = Some(df => snap.logicalName(key) match {
        case Some(lk) if df.columns.contains(lk) =>
          df.filter(col(lk) >= lo && col(lk) <= hi)
        case _ => df
      })).fold(snap.version)(_.version)
  }

  /** MERGE-ON-READ DELETE via a deletion vector (Delta DVs / Iceberg
    * v2 position deletes, keyed rather than positional): the new
    * version's manifest lists every data file UNCHANGED and adds a
    * compact tombstone sidecar of deleted commit keys; [[read]]
    * subtracts it with one broadcast anti-join. The write-amplification
    * trade inverted from [[deleteWhereKeyIn]]: delete cost is
    * O(tombstones) — a petabyte table pays a kilobyte write — while
    * reads pay the anti-join until OPTIMIZE ([[compactCommit]], which
    * reads through the DV and publishes clean files with no `dv`,
    * Delta's purge) materializes it. Repeated MoR deletes ACCUMULATE
    * (old DV ∪ new tombstones, rewritten — DVs are small by contract;
    * bulk erasure belongs on the copy-on-write path). Time travel and
    * [[restore]] stay exact: each version pins its own DV. */
  def deleteMergeOnRead(spark: SparkSession, table: String,
      tombstones: DataFrame, key: String): Long =
    morCommit(spark, table, None, Some(tombstones), key, 1, "DELETE_MOR")

  /** The ONE merge-on-read publication sequence all three MoR ops
    * share — snapshot pin, physical-name mapping, position-tombstone
    * scan over the union of masked keys, CHECK-gated new-file landing,
    * DV accumulation, single conflict-checked publish. deleteMergeOnRead
    * is this with no source, upsertMergeOnRead with no tombstones,
    * upsertDeleteMergeOnRead with both: keeping the sequence in one
    * body means a future change (a new gate, a DV format move) cannot
    * silently diverge across the three ops. */
  private def morCommit(spark: SparkSession, table: String,
      source: Option[DataFrame], tombstones: Option[DataFrame],
      key: String, files: Int, op: String): Long = {
    val snap = snapshot(spark, table)
    val physKey = snap.physicalName(key)
    require(snap.statsCol.contains(physKey),
      s"merge-on-read ops key on the table's commit key; " +
        s"got $key vs ${snap.statsCol}")
    // source arrives in logical names; new files land physical
    val physSource = source.map(snap.toPhysical(_))
    // one position scan over the union of masked keys: live old
    // occurrences of upserted keys AND the removed keys together
    val deadKeys = (physSource.map(_.select(col(physKey))).toSeq ++
      tombstones.map(_.select(col(key).as(physKey))).toSeq)
      .reduce(_ unionByName _)
    val hits = dvPositions(spark, table, snap, deadKeys, physKey)
    val combined = snap.dv match {
      case Some(old) => spark.read.parquet(resolve(table, old).toString)
        .unionByName(hits).distinct()
      case None => hits
    }
    // upserted rows are NEW data: CHECK-gated like any append
    val newFiles = physSource.map(ps =>
      land(spark, table, ps, files, Some(physKey), snap.statsCol,
        snap.bloomCfg, snap.physicalSchema, checks = snap.constraints,
        view = snap.toLogical(_)).files).getOrElse(Seq.empty)
    val (dvRel, n) = writeDv(spark, table, combined)
    publish(spark, table, snap.statsCol, snap.files ++ newFiles,
      op = op, dv = Some(dvRel), dvRows = Some(n),
      expected = Some(snap.version),
      schemaJson = snap.schemaJson, mapping = snap.mapping)
  }

  /** MERGE-ON-READ UPSERT in ONE atomic commit (Hudi's MOR write path /
    * Delta UPDATE-with-DVs): the source rows land as NEW files and
    * every LIVE old occurrence of a source key becomes a positional DV
    * entry — published together, so readers see either the old rows or
    * the new rows, never both and never neither. Write amplification is
    * O(source) + a key-only scan to locate old positions, regardless of
    * table size; reads pay the DV anti-join until OPTIMIZE
    * ([[compactCommit]]) folds everything into clean files. Repeated
    * upserts compose because positions, not keys, are masked: the
    * previous upsert's file is scanned like any other and its now-stale
    * row just gains a DV entry. */
  def upsertMergeOnRead(spark: SparkSession, table: String,
      source: DataFrame, key: String, files: Int = 2): Long =
    morCommit(spark, table, Some(source), None, key, files, "UPSERT_MOR")

  /** MERGE-ON-READ UPSERT + DELETE in ONE atomic commit — the combined
    * refresh primitive for a classified delta (NEW/CHANGED rows to
    * upsert AND removed keys to tombstone, e.g. an ANN index refresh,
    * [[graft.vector.AnnIndex]]): the source rows land as new files,
    * and the deletion vector gains entries for every live occurrence
    * of a source key PLUS every tombstone key, published together.
    * A reader therefore sees either the old state or the FULLY
    * refreshed one — never a torn window where the upsert landed but
    * the deletes are still pending (which landing the classes as
    * separate commits would expose). Cost matches one upsert: the new
    * files are O(source), the DV delta O(source + tombstones). */
  def upsertDeleteMergeOnRead(spark: SparkSession, table: String,
      source: DataFrame, tombstones: DataFrame, key: String,
      files: Int = 2): Long =
    morCommit(spark, table, Some(source), Some(tombstones), key, files,
      "MERGE_MOR")

  /** One-file DV sidecar write (a DV is a bitmap-compact structure, not
    * a dataset); returns (relative path, entry count). */
  private def writeDv(spark: SparkSession, table: String,
      dv: DataFrame): (String, Long) = {
    val rel = freshDir("dv")
    dv.coalesce(1).write.mode("errorifexists")
      .parquet(new Path(table, rel).toString)
    (rel, spark.read.parquet(resolve(table, rel).toString).count())
  }

  /** CHANGE DATA FEED across a version range — Delta's
    * `table_changes(from, to)`: the per-commit diffs of consecutive
    * snapshots, stamped with the version that introduced them.
    * Each step is one keyed full-outer join ([[Lake.snapshotDiff]]);
    * cost is proportional to the versions walked, so consumers should
    * checkpoint their last-read version and request deltas — exactly
    * how a streaming reader tails a Delta table. */
  def changes(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion >= 1 && toVersion > fromVersion,
      s"need 1 <= fromVersion < toVersion; got [$fromVersion, $toVersion]")
    (fromVersion + 1 to toVersion).map { v =>
      Lake.snapshotDiff(read(spark, table, v - 1), read(spark, table, v), keys)
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** Delta-semantics CHANGE FEED: `startingVersion` is INCLUSIVE of
    * the changes that commit introduced (Delta's readChangeFeed
    * contract), so starting at 1 emits the table's creation as
    * inserts — the case [[changes]]'s version-pair walk cannot
    * express (there is no version 0 snapshot to diff against; an
    * empty frame of v1's schema stands in). Keys default to the
    * table's commit key. */
  def changeFeed(spark: SparkSession, table: String, startingVersion: Long,
      endingVersion: Long = -1L, keys: Seq[String] = Nil): DataFrame = {
    val to = if (endingVersion > 0) endingVersion
      else latestVersion(spark, table)
    require(startingVersion >= 1 && startingVersion <= to,
      s"need 1 <= startingVersion <= $to; got $startingVersion")
    val snap = snapshot(spark, table, to)
    val ks = if (keys.nonEmpty) keys else Seq(
      snap.statsCol.flatMap(snap.logicalName).getOrElse(
        throw new IllegalArgumentException(
          s"$table has no commit key — pass option(\"key\", ...) " +
            "to choose the change-feed identity column")))
    val v1Creation =
      if (startingVersion == 1L) {
        val v1 = read(spark, table, 1)
        Some(Lake.snapshotDiff(v1.limit(0), v1, ks)
          .withColumn("version", lit(1L)))
      } else None
    val tail =
      if (to > math.max(startingVersion - 1, 1) || startingVersion > 1)
        Some(changes(spark, table, math.max(startingVersion - 1, 1), to, ks))
      else None
    (v1Creation, tail) match {
      case (Some(c), Some(t)) => c.unionByName(t)
      case (Some(c), None) => c
      case (None, Some(t)) => t
      case (None, None) => // single-version table read from v1: creation only
        throw new IllegalStateException("unreachable: startingVersion bounds")
    }
  }

  /** SCD2 view of the COMMIT LOG — the table's full key history as
    * validity intervals: one row per (key, value-state) with
    * `[valid_from, valid_to)` VERSION bounds (valid_to = Long.MaxValue
    * while current). This is the q52 SCD2 shape derived mechanically
    * from version history instead of maintained by a writer — the
    * substrate for temporal/as-of enrichment joins (st26): an event
    * carrying the version current at its time joins the dimension row
    * whose interval contains it.
    *
    * Built from ONE v1 snapshot plus the change feed — O(|v1| + |Δ|),
    * NOT O(versions × table): upserts open an interval at their commit
    * version, every row's interval closes at the key's next change
    * (one `lead` window over the key — a single shuffle), and delete
    * tombstones close their predecessor then drop out. Join it
    * broadcast when the dimension is small; at scale the equi-key join
    * shuffles once and the interval predicate rides along as a
    * residual (the q65 as-of shape). */
  def dimensionHistory(spark: SparkSession, table: String, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, lead, lit, not}
    val latest = latestVersion(spark, table)
    val v1 = read(spark, table, 1)
    val valueCols = v1.schema.fields.filterNot(_.name == key).toSeq
    val open = v1.withColumn("valid_from", lit(1L)).withColumn("_dead", lit(false))
    val hist =
      if (latest <= 1) open
      else {
        val ch = changes(spark, table, 1, latest, Seq(key))
        val upserts = ch.filter(col("change_type").isin("insert", "update"))
          .select(col(key) +: valueCols.map(f => col(s"new_${f.name}").as(f.name))
            :+ col("version").as("valid_from") :+ lit(false).as("_dead"): _*)
        val dels = ch.filter(col("change_type") === "delete")
          .select(col(key) +: valueCols.map(f => lit(null).cast(f.dataType).as(f.name))
            :+ col("version").as("valid_from") :+ lit(true).as("_dead"): _*)
        open.unionByName(upserts).unionByName(dels)
      }
    val w = Window.partitionBy(key).orderBy("valid_from")
    hist
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(w), lit(Long.MaxValue)))
      .filter(not(col("_dead"))).drop("_dead")
  }

  /** One version's change-feed delta as an op-coded (I/U/D) batch in
    * [[Lake.applyChanges]]'s grammar — the unit [[cherryPick]] ports
    * and [[revert]] inverts. `invert` swaps the delta's direction:
    * inserts become D, deletes re-insert the OLD rows, updates carry
    * old values instead of new. */
  private def opDelta(spark: SparkSession, table: String, version: Long,
      key: String, invert: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.when
    val ch = changes(spark, table, version - 1, version, Seq(key))
    val valueCols = read(spark, table, version).columns.filterNot(_ == key).toSeq
    val side = if (invert) "old" else "new"
    val (toD, toI) = if (invert) ("insert", "delete") else ("delete", "insert")
    ch.select(col(key) +: valueCols.map(c => col(s"${side}_$c").as(c)) :+
      when(col("change_type") === toD, lit("D"))
        .when(col("change_type") === toI, lit("I"))
        .otherwise(lit("U")).as("op"): _*)
  }

  /** CHERRY-PICK: apply ONE source commit's delta onto another table of
    * the same schema lineage (typically a [[Branches]] fork) as a new
    * commit — the git/Nessie operation that ports a single fix without
    * merging unrelated history. The delta is the version's change feed
    * op-coded through [[Lake.applyChanges]] (the full MERGE grammar),
    * so cost is O(|delta|) + one pass of the target — never a history
    * walk. Semantics are ROW-LEVEL (git's patch application, not a
    * three-way merge): the delta lands on the target's CURRENT state,
    * and the commit is txn-stamped `cherry-<src>@<v>` so a replay
    * returns the existing version instead of applying twice. */
  def cherryPick(spark: SparkSession, src: String, version: Long,
      dst: String, key: String, files: Int = 4): Long = {
    val txn = Some(s"cherry-$src@$version")
    val cur = snapshot(spark, dst)
    if (cur.txn == txn) return cur.version
    commit(spark, dst,
      Lake.applyChanges(read(spark, dst),
        opDelta(spark, src, version, key, invert = false), Seq(key)),
      Some(key), files, txn = txn, op = "CHERRYPICK",
      expected = Some(cur.version))
  }

  /** REVERT: a new commit that UNDOES one prior commit's delta on the
    * same table — git revert, and the operation [[restore]] is NOT:
    * RESTORE rewinds the whole table to a version; revert surgically
    * subtracts one commit while keeping everything after it, and
    * history stays intact (the revert is itself a commit, op=REVERT).
    * The inverse delta applies at the HEAD row-by-row: the commit's
    * inserts are deleted, its deletes re-insert the old rows, its
    * updates restore old values — re-inserting them if a LATER commit
    * deleted the key (row-level semantics; a three-way conflict model
    * is git's, not a table format's). txn `revert-<v>` makes replays
    * idempotent. */
  def revert(spark: SparkSession, table: String, version: Long,
      key: String, files: Int = 4): Long = {
    val txn = Some(s"revert-$version")
    val cur = snapshot(spark, table)
    if (cur.txn == txn) return cur.version
    commit(spark, table,
      Lake.applyChanges(read(spark, table),
        opDelta(spark, table, version, key, invert = true), Seq(key)),
      Some(key), files, txn = txn, op = "REVERT",
      expected = Some(cur.version))
  }

  /** DESCRIBE HISTORY: the commit log as a DataFrame — one row per
    * version with the operation that produced it, file count, row
    * count, and writer txn id. Reads MANIFESTS only (O(versions)
    * driver-side JSON parses, no data or footer I/O), exactly like
    * Delta's history — the audit surface that makes time travel
    * ([[read]] at a version) and [[restore]] navigable. Versions
    * already reclaimed by [[vacuum]] are absent by design. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val latest = latestVersion(spark, table)
    val dir = versionsDir(table)
    val f = fs(spark, table)
    (1L to latest).flatMap { v =>
      if (!f.exists(new Path(dir, f"v$v%08d.json"))) None
      else {
        val s = snapshot(spark, table, v)
        // logical rows: physical file rows minus live DV tombstones
        Some((s.version, s.op.getOrElse("COMMIT"), s.files.size.toLong,
          s.files.map(_.rows).sum - s.dvRows.getOrElse(0L), s.txn))
      }
    }.toDF("version", "operation", "n_files", "n_rows", "txn")
  }

  /** SHALLOW CLONE (zero-copy branch): publish `dst`'s v1 as a manifest
    * whose entries point at `src`'s data files by ABSOLUTE path — no
    * data is read or copied, so branching a petabyte table costs one
    * manifest write. The clone is immediately a first-class table:
    * commits to it land under its OWN `data/` and never touch the
    * source; commits to the source add files the clone's manifest
    * doesn't reference, so neither side sees the other's writes —
    * snapshot isolation across tables, from the same immutability
    * contract that gives it within a table. Delta's documented
    * shallow-clone caveat applies to FREESTANDING clones: [[vacuum]]
    * on the source can reclaim files such a clone still references
    * (vacuum only scans its own `data/`, so vacuum on the CLONE is
    * always safe). Forks created as [[graft.sources.Branches]] under
    * `_branches/` are exempt — vacuum walks branch manifests and keeps
    * their referenced parent files. */
  def clone(spark: SparkSession, src: String, dst: String,
      version: Long = -1L, op: String = "CLONE"): Long = {
    val snap = snapshot(spark, src, version)
    require(latestVersion(spark, dst) == 0,
      s"clone target $dst already has commits")
    val f = fs(spark, src)
    val absolute = snap.files.map { df =>
      df.copy(path = f.makeQualified(resolve(src, df.path)).toString)
    }
    publish(spark, dst, snap.statsCol, absolute, op = op,
      dv = snap.dv.map(p => f.makeQualified(resolve(src, p)).toString),
      dvRows = snap.dvRows,
      schemaJson = snap.schemaJson, mapping = snap.mapping)
  }

  /** Export one consistent snapshot for ENGINES THAT DON'T SPEAK THE
    * COMMIT LOG (DuckDB, Presto, Athena — Delta's symlink-format
    * manifest / `GENERATE symlink_format_manifest`):
    *
    *  - a PLAIN snapshot (no deletion vector, no column mapping, no
    *    file awaiting a default substitution) exports as a symlink
    *    manifest — `manifest.txt` under `outDir`, one absolute
    *    data-file URI per line, ZERO data movement. The listed files
    *    are immutable (never rewritten in place), so the export stays
    *    a consistent view no matter what commits later; VACUUM past
    *    the exported version is what invalidates it, same as Delta.
    *  - a snapshot whose logical view differs from its raw bytes (DVs
    *    to subtract, columns to rename/drop, defaults to substitute)
    *    MATERIALIZES: the logical read lands as plain parquet under
    *    `outDir/data` — the only form an external reader can consume
    *    correctly. One distributed write, no driver data path.
    *
    * Returns the absolute file URIs an external reader should scan,
    * paired with `materialized` telling which path was taken. */
  def exportSnapshot(spark: SparkSession, table: String, outDir: String,
      version: Long = -1L, files: Int = 4): (Seq[String], Boolean) = {
    val snap = snapshot(spark, table, version)
    val f = fs(spark, table)
    val plain0 = snap.dv.isEmpty && snap.mapping.isEmpty &&
      snap.files.forall(_.noCols.isEmpty)
    // a WIDENED column (manifest long/double over INT32/FLOAT files)
    // reads at the narrow type for an engine that ignores the
    // manifest — detect by comparing declared types against the
    // footer-merged schema (footer metadata only, no data I/O; export
    // is a rare operation, O(files) footers is its natural cost)
    val plain = plain0 && snap.physicalSchema.forall { declared =>
      val footer = spark.read.option("mergeSchema", "true")
        .parquet(snap.files.map(df =>
          resolve(table, df.path).toString): _*).schema
      val byName = footer.fields.map(fd => fd.name -> fd.dataType).toMap
      declared.fields.forall(fd => byName.get(fd.name).forall(_ == fd.dataType))
    }
    if (plain) {
      val uris = snap.files.map(df =>
        f.makeQualified(resolve(table, df.path)).toString)
      val dir = new Path(outDir)
      f.mkdirs(dir)
      val out = f.create(new Path(dir, "manifest.txt"), true)
      try out.write((uris.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8)) finally out.close()
      (uris, false)
    } else {
      val dataDir = new Path(outDir, "data")
      readFiles(spark, table, snap, snap.files)
        .repartition(files)
        .write.mode("errorifexists").parquet(dataDir.toString)
      val uris = f.listStatus(dataDir).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .map(p => f.makeQualified(p).toString).toSeq.sorted
      (uris, true)
    }
  }

  /** Read back an export produced by [[exportSnapshot]] — what the
    * external engine sees: the symlink manifest's listed files, or the
    * materialized `data/` directory. */
  def readExport(spark: SparkSession, outDir: String): DataFrame = {
    val f = FileSystem.get(new Path(outDir).toUri,
      spark.sparkContext.hadoopConfiguration)
    val link = new Path(outDir, "manifest.txt")
    if (f.exists(link)) {
      val in = f.open(link)
      val txt = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8) finally in.close()
      val uris = txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      spark.read.parquet(uris: _*)
    } else spark.read.parquet(new Path(outDir, "data").toString)
  }

  // ------------------------------------------------------------------
  // Schema evolution beyond add-column: column mapping + type widening

  /** Logical column names of a snapshot, bootstrapping an identity
    * mapping from the physical schema when none exists yet. */
  private def logicalColumns(spark: SparkSession, table: String,
      snap: Snapshot): Seq[(String, String)] =
    snap.mapping.getOrElse {
      val sch = snap.physicalSchema.getOrElse(
        rawRead(spark, table, snap, snap.files).schema)
      sch.fieldNames.toSeq.map(n => (n, n))
    }

  /** RENAME a column as a METADATA-ONLY commit (Delta column mapping):
    * the new manifest carries the same file list BY REFERENCE and a
    * mapping where logical `from` becomes `to` over the unchanged
    * physical name — zero data I/O at any table size, old versions
    * keep their old name, and a later [[commit]] full-rewrite folds
    * the mapping back to identity. */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Long = {
    val snap = snapshot(spark, table)
    val m = logicalColumns(spark, table, snap)
    require(m.exists(_._1 == from), s"no column $from in $table")
    require(!m.exists(_._1 == to), s"column $to already exists in $table")
    val renamed = m.map { case (l, p) => (if (l == from) to else l, p) }
    publish(spark, table, snap.statsCol, snap.files, op = "RENAME_COLUMN",
      dv = snap.dv, dvRows = snap.dvRows, expected = Some(snap.version),
      schemaJson = snap.schemaJson, mapping = Some(renamed))
  }

  /** DROP a column as a METADATA-ONLY commit: the logical entry leaves
    * the mapping; data files keep the physical column (readers prune
    * it — columnar formats never pay for unread columns) until a
    * rewrite (OPTIMIZE / MERGE) materializes the narrower schema.
    * Time travel before the drop still sees the column. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val snap = snapshot(spark, table)
    val m = logicalColumns(spark, table, snap)
    require(m.exists(_._1 == name), s"no column $name in $table")
    require(m.size > 1, s"cannot drop the last column of $table")
    // dropping the bloom-indexed column drops the index with it
    // (value or token — compare under the tok: marker)
    val keepBloom = snap.bloomCfg.filter(c =>
      bloomPhys(c._1) != snap.physicalName(name))
    // the dropped column's default entries go with it — a stale
    // initial-default entry would RESURRECT the old ADD-time value if
    // the physical name ever served a column again, and nothing else
    // can clear initialDefaults short of a full rewrite
    val phys = snap.physicalName(name)
    publish(spark, table, snap.statsCol,
      if (keepBloom.isEmpty) snap.files.map(_.copy(bloom = None))
      else snap.files,
      op = "DROP_COLUMN",
      dv = snap.dv, dvRows = snap.dvRows, expected = Some(snap.version),
      schemaJson = snap.schemaJson,
      mapping = Some(m.filterNot(_._1 == name)),
      bloomCfg = Some(keepBloom),
      defaults = Some(snap.defaults.filterNot(_._1 == phys)),
      initialDefaults = Some(snap.initialDefaults.filterNot(_._1 == phys)))
  }

  /** WIDEN a column's type (int→long or float→double) as a
    * METADATA-ONLY commit: the manifest's physical schema records the
    * wider type and every scan upcasts old files at read time (the
    * Spark 4 parquet reader's widening promotions) — no rewrite, and
    * appends after the widening land the wide type natively. The
    * narrowing direction is refused: it could truncate. */
  /** Widen target columns to match a WIDER-typed merge source —
    * `MERGE WITH SCHEMA EVOLUTION`'s type-evolution half (Delta's
    * behavior). Spark's stock evolution on the
    * AUTOMATIC_SCHEMA_EVOLUTION capability only emits AddColumn
    * changes at analysis; a CDC source whose column widened
    * int→bigint or float→double would otherwise hit the merge's
    * assignment alignment as a DOWN-cast (runtime overflow). Each
    * widenable same-named diff routes through [[widenColumn]]'s
    * metadata-only commit; anything non-widenable is left for the
    * alignment cast to refuse. Runs once per MERGE statement, before
    * the merge reads its snapshot. */
  private[graft] def widenForMerge(spark: SparkSession, table: String,
      srcSchema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    val snap = snapshot(spark, table)
    if (snap.physicalSchema.isEmpty) return
    val phys = snap.physicalSchema.get
    val m = logicalColumns(spark, table, snap)
    srcSchema.fields.foreach { f =>
      m.find(_._1.equalsIgnoreCase(f.name)).foreach { case (logical, physical) =>
        (phys.fields.find(_.name == physical).map(_.dataType), f.dataType) match {
          case (Some(IntegerType), LongType) | (Some(FloatType), DoubleType) =>
            widenColumn(spark, table, logical)
          case _ => ()
        }
      }
    }
  }

  def widenColumn(spark: SparkSession, table: String, name: String): Long = {
    import org.apache.spark.sql.types._
    val snap = snapshot(spark, table)
    val phys = snap.physicalName(name)
    val sch = snap.physicalSchema.getOrElse(
      rawRead(spark, table, snap, snap.files).schema)
    require(sch.fieldNames.contains(phys), s"no column $name in $table")
    val widenedSch = StructType(sch.fields.map { f =>
      if (f.name != phys) f
      else f.dataType match {
        case IntegerType => f.copy(dataType = LongType)
        case FloatType => f.copy(dataType = DoubleType)
        case LongType | DoubleType => f // already wide: idempotent
        case other => throw new IllegalArgumentException(
          s"cannot widen $name: ${other.simpleString} has no widening")
      }
    })
    // widening the bloom-indexed column INVALIDATES its bitsets: the
    // recorded hashes were taken at the narrow type, lookups would
    // hash the wide one — a silent false-negative path. Clear the
    // index; re-add it after the widening if still wanted.
    val keepBloom = snap.bloomCfg.filter(c => bloomPhys(c._1) != phys)
    publish(spark, table, snap.statsCol,
      if (keepBloom.isEmpty && snap.bloomCfg.isDefined)
        snap.files.map(_.copy(bloom = None))
      else snap.files,
      op = "WIDEN_COLUMN",
      dv = snap.dv, dvRows = snap.dvRows, expected = Some(snap.version),
      schemaJson = Some(widenedSch.json), mapping = snap.mapping,
      bloomCfg = Some(keepBloom))
  }

  /** ADD a column with an optional DEFAULT as a METADATA-ONLY commit
    * (Iceberg's initial-default / Delta's ALTER ADD COLUMN): no data
    * file is rewritten at any table size. Every file entry alive at
    * the add is stamped `noCols += column` — the durable, vacuum-proof
    * marker the read paths key default substitution off — so pre-add
    * rows read `default` while post-add rows that store NULL keep
    * NULL. Appends after the add MATERIALIZE the column (a batch that
    * omits it gets the default filled at write — write-default ≡
    * initial-default here), and a full-rewrite commit clears the
    * stamps with the files it replaces. Without `default` this is
    * plain add-column: pre-add rows read NULL (q78's union-schema
    * behavior, now declared in the manifest schema).
    *
    * The stamping voids carried manifest segments once (whole-entry
    * equality), so this DDL commit serializes O(files) metadata — the
    * price of self-contained era information; Iceberg pays the same
    * via per-file schema ids. */
  def addColumn(spark: SparkSession, table: String, name: String,
      typeDdl: String, default: Option[String] = None): Long = {
    import org.apache.spark.sql.types._
    val snap = snapshot(spark, table)
    val m = logicalColumns(spark, table, snap)
    require(!m.exists(_._1 == name), s"column $name already exists in $table")
    require(!m.exists(_._2 == name),
      s"physical name $name still backs a renamed column in $table")
    val sch = snap.physicalSchema.getOrElse(
      rawRead(spark, table, snap, snap.files).schema)
    // a DROPPED column's physical data still lives in old files under
    // this name — re-adding over it would read the dead column's old
    // values into the "new" column (and duplicate the field in the
    // physical schema). Delta dodges this with synthetic field ids;
    // here the re-add refuses explicitly: rewrite the table (which
    // materializes the narrower schema) or pick another name.
    require(!sch.fieldNames.contains(name),
      s"physical column $name still exists in $table's data files " +
        "(dropped earlier?) — rewrite the table before re-adding the " +
        "name, or choose a different one")
    val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(typeDdl)
    val newSch = StructType(sch.fields :+ StructField(name, dt, nullable = true))
    publish(spark, table, snap.statsCol,
      snap.files.map(f => f.copy(noCols = (f.noCols :+ name).distinct)),
      op = "ADD_COLUMN",
      dv = snap.dv, dvRows = snap.dvRows, expected = Some(snap.version),
      schemaJson = Some(newSch.json),
      mapping = Some(m :+ (name, name)),
      defaults = Some(snap.defaults ++ default.map(d => (name, d))),
      // the ADD-time default is FROZEN here: later SET/DROP DEFAULT
      // only moves the write default, never what pre-add rows read
      initialDefaults =
        Some(snap.initialDefaults ++ default.map(d => (name, d))))
  }

  /** Declare (or with `None` clear) the WRITE default of an EXISTING
    * column — SQL `ALTER COLUMN c SET/DROP DEFAULT` semantics: batches
    * that omit the column from here on land it materialized as the
    * default; rows already written keep their stored values (no
    * retroactive fill — the standard write-default contract, distinct
    * from [[addColumn]]'s initial default, which also covers the
    * pre-add era via noCols stamps). Metadata-only commit at any
    * table size. */
  def setColumnDefault(spark: SparkSession, table: String, name: String,
      sqlExpr: Option[String]): Long = {
    val snap = snapshot(spark, table)
    // identity/generated columns are allocator/recompute territory —
    // a default on them would make every subsequent append refuse
    // (the write-default fold materializes the column BEFORE the
    // identity/generated branches run); same refusal as updateWhere's.
    // DROP DEFAULT (None) is always allowed — it is the REPAIR path
    // for a table that somehow carries such a default.
    if (sqlExpr.isDefined) {
      snap.identity.foreach { case (idCol, _) =>
        require(!idCol.equalsIgnoreCase(name),
          s"cannot set a DEFAULT on identity column $idCol of $table") }
      require(!snap.generated.exists(_._1.equalsIgnoreCase(name)),
        s"cannot set a DEFAULT on generated column $name of $table — " +
          "it is recomputed")
    }
    val m = logicalColumns(spark, table, snap)
    val phys = m.find(_._1.equalsIgnoreCase(name)).map(_._2).getOrElse(
      throw new IllegalArgumentException(s"no column $name in $table"))
    publish(spark, table, snap.statsCol, snap.files, op = "SET_DEFAULT",
      dv = snap.dv, dvRows = snap.dvRows, expected = Some(snap.version),
      schemaJson = snap.schemaJson, mapping = snap.mapping,
      defaults = Some(snap.defaults.filterNot(_._1 == phys) ++
        sqlExpr.map(e => (phys, e))),
      baseSnapHint = Some(snap))
  }

  /** Declare an IDENTITY column (Delta `GENERATED ALWAYS AS IDENTITY`)
    * as a metadata-only commit: every subsequent [[appendCommit]]
    * assigns the batch dense ids from the manifest's high-water mark
    * (`next`), ordered by the batch's commit key, and advances the
    * mark ATOMICALLY with the append (same manifest, same CAS — two
    * concurrent appends can never mint overlapping ids: the loser's
    * rebase detects the moved mark and re-runs with fresh ids).
    * ALWAYS semantics: a batch supplying the column is refused — ids
    * come only from the allocator.
    *
    * Scale note, stated rather than hidden: dense per-batch assignment
    * is sequential BY DEFINITION — the batch sorts through one
    * `row_number` window, O(batch), not O(table). Ingest batches are
    * bounded (micro-batches, CDC chunks), which is what makes the
    * dense contract affordable; a gap-tolerant parallel allocator
    * (per-partition ranges off the same mark) is the variant you'd
    * reach for on unbounded bulk loads, at the price of id gaps. */
  def setIdentity(spark: SparkSession, table: String, name: String,
      start: Long = 1L): Long = {
    val snap = snapshot(spark, table)
    val m = logicalColumns(spark, table, snap)
    require(!m.exists(_._1 == name), s"column $name already exists in $table")
    require(snap.identity.isEmpty,
      s"$table already has identity column ${snap.identity.map(_._1).orNull}")
    publish(spark, table, snap.statsCol, snap.files, op = "SET_IDENTITY",
      dv = snap.dv, dvRows = snap.dvRows, expected = Some(snap.version),
      schemaJson = snap.schemaJson, mapping = snap.mapping,
      identity = Some(Some((name, start))))
  }

  // ------------------------------------------------------------------

  /** Footer-only stats for the part files under `table/<rel>`: row count
    * from block metadata, per-column min/max/null-count from column-chunk
    * statistics (merged across row groups: min of mins, max of maxes,
    * summed nulls — None if any block's count is unknown), file size
    * from the directory listing. INT32/INT64 record as "long" (DATE's
    * epoch-day physical value included), FLOAT/DOUBLE as "double",
    * UTF-8 Binary as "string"; unsupported physical types (INT96
    * timestamps, nested, fixed-len) are skipped — consumers treat a
    * missing column as unprunable. Never reads data pages; cost is one
    * footer parse per JUST-WRITTEN file — O(files in the commit). */
  /** Order-preserving bounded-parallel map for independent driver-side
    * metadata I/O (parquet footer reads). */
  private def parallelMap[A, B](xs: Seq[A])(fn: A => B): Seq[B] = {
    if (xs.size <= 2) return xs.map(fn)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, xs.size))
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      Await.result(Future.traverse(xs)(x => Future(fn(x))), Duration.Inf)
    } finally pool.shutdown()
  }

  private def listDataFiles(spark: SparkSession, table: String, rel: String,
      statsCol: Option[String]): Seq[DataFile] = {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = if (rel.isEmpty) new Path(table) else new Path(table, rel)
    val f = fs(spark, table)
    val statuses = f.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    // footer reads are independent metadata round-trips: run them on a
    // bounded pool (16-way) — a normal commit touches a handful of
    // files, but convertInPlace can adopt tens of thousands, where a
    // serial driver loop over an object store is the whole cost
    parallelMap(statuses) { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          // chunk stats per leaf column, in schema order, capped
          val byCol = blocks.flatMap(_.getColumns.asScala)
            .groupBy(_.getPath.toDotString)
          val colOrder = blocks.headOption.toSeq
            .flatMap(_.getColumns.asScala.map(_.getPath.toDotString))
            .take(statsColumnCap)
          val stats: Map[String, ColStat] = colOrder.flatMap { name =>
            val chunks = byCol(name)
            val ss = chunks.map(_.getStatistics).filter(s =>
              s != null && s.hasNonNullValue)
            if (ss.size != chunks.size) None // a block without stats ⇒ unknown
            else {
              val nulls =
                if (ss.forall(_.isNumNullsSet)) Some(ss.map(_.getNumNulls).sum)
                else None
              val isString = chunks.head.getPrimitiveType.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              ss.head match {
                case _: LongStatistics =>
                  val ls = ss.collect { case s: LongStatistics => s }
                  Some(name -> ColStat("long", ls.map(_.getMin).min.toString,
                    ls.map(_.getMax).max.toString, nulls))
                case _: IntStatistics =>
                  val is = ss.collect { case s: IntStatistics => s }
                  Some(name -> ColStat("long", is.map(_.getMin).min.toString,
                    is.map(_.getMax).max.toString, nulls))
                case _: DoubleStatistics =>
                  val ds = ss.collect { case s: DoubleStatistics => s }
                  Some(name -> ColStat("double", ds.map(_.getMin).min.toString,
                    ds.map(_.getMax).max.toString, nulls))
                case _: FloatStatistics =>
                  val fl = ss.collect { case s: FloatStatistics => s }
                  Some(name -> ColStat("double",
                    fl.map(_.getMin.toDouble).min.toString,
                    fl.map(_.getMax.toDouble).max.toString, nulls))
                case _: BinaryStatistics if isString =>
                  val bs = ss.collect { case s: BinaryStatistics => s }
                  // combine per-block bounds in UTF-8 BYTE order (the
                  // order parquet computed them in), and drop the stat
                  // entirely if a recorded bound doesn't round-trip
                  // UTF-8 (a truncated+incremented binary max can be
                  // invalid UTF-8 — keeping a mangled bound could prune
                  // wrongly; no stat = conservatively scanned)
                  val mnS = bs.map(_.genericGetMin.toStringUsingUTF8)
                    .reduce((p, q) => if (utf8Compare(p, q) <= 0) p else q)
                  val mxS = bs.map(_.genericGetMax.toStringUsingUTF8)
                    .reduce((p, q) => if (utf8Compare(p, q) >= 0) p else q)
                  val faithful = bs.forall { s =>
                    java.util.Arrays.equals(s.genericGetMin.getBytes,
                      s.genericGetMin.toStringUsingUTF8
                        .getBytes(StandardCharsets.UTF_8)) &&
                    java.util.Arrays.equals(s.genericGetMax.getBytes,
                      s.genericGetMax.toStringUsingUTF8
                        .getBytes(StandardCharsets.UTF_8))
                  }
                  if (faithful) Some(name -> ColStat("string", mnS, mxS, nulls))
                  else None
                case _ => None
              }
            }
          }.toMap
          // commit-key fast path: the same numbers, pre-resolved
          val (mn, mx) = statsCol.flatMap(k => stats.get(k))
            .flatMap(_.longRange) match {
            case Some((lo, hi)) => (Some(lo), Some(hi))
            case None => (None, None)
          }
          DataFile(
            if (rel.isEmpty) st.getPath.getName
            else s"$rel/${st.getPath.getName}",
            rows, mn, mx, st.getLen, stats)
        } finally reader.close()
      }
  }

  /** CONVERT an existing plain-parquet directory into a versioned
    * table IN PLACE (Delta's `CONVERT TO DELTA`): the top-level
    * `*.parquet` files are ADOPTED BY REFERENCE — zero bytes move,
    * zero rows rewrite — with one footer pass collecting the same
    * per-file stats every commit records, and ONE manifest publishes
    * as version 1. From then on the directory IS a versioned table:
    * appends, MERGE, DV deletes, time travel, the catalog and format
    * doors all apply; pre-conversion readers that listed the
    * directory still work (the adopted files never move). Converting
    * a petabyte of history costs its footer reads and a manifest.
    *
    * Caveats, stated: only non-partitioned single-directory layouts
    * convert (Hive-partitioned trees carry values in paths, not
    * columns — rewrite those via [[commit]]); and adopted root-level
    * files sit outside `data/`, so [[vacuum]] never reclaims them
    * even after a rewrite drops the last reference — reclaiming
    * pre-conversion bytes is a manual decision, exactly Delta's
    * stance on converted tables. */
  def convertInPlace(spark: SparkSession, dir: String,
      statsCol: Option[String] = None): Long = {
    require(latestVersion(spark, dir) == 0,
      s"$dir is already a versioned table")
    val f = fs(spark, dir)
    val hasSubdirData = f.listStatus(new Path(dir))
      .exists(s => s.isDirectory &&
        !s.getPath.getName.startsWith("_"))
    require(!hasSubdirData,
      s"convert of $dir: partitioned/nested layouts do not convert in " +
        "place (partition values live in paths); rewrite via commit()")
    val entries = listDataFiles(spark, dir, "", statsCol)
    require(entries.nonEmpty, s"no parquet files to convert at $dir")
    // the manifest records the schema so converted reads plan with
    // zero footer I/O, like any other commit
    val schema = spark.read.parquet(dir).schema
    require(statsCol.forall(schema.fieldNames.contains),
      s"stats column ${statsCol.orNull} absent from $dir's schema")
    publish(spark, dir, statsCol, entries, op = "CONVERT",
      schemaJson = Some(schema.json))
  }

  /** The ONE DataFile JSON writer — manifest segments and staged
    * records alike; [[parseFileNode]] reads it back. */
  private def putFile(arr: com.fasterxml.jackson.databind.node.ArrayNode,
      df: DataFile): Unit = {
    val n = arr.addObject()
    n.put("path", df.path)
    n.put("rows", df.rows)
    df.minKey.foreach(n.put("minKey", _))
    df.maxKey.foreach(n.put("maxKey", _))
    df.baseRowId.foreach(n.put("bri", _))
    if (df.bytes > 0L) n.put("bytes", df.bytes)
    df.bloom.foreach(n.put("bf", _))
    if (df.noCols.nonEmpty) {
      val nc = n.putArray("noc")
      df.noCols.foreach(nc.add)
    }
    if (df.stats.nonEmpty) {
      val s = n.putObject("stats")
      df.stats.toSeq.sortBy(_._1).foreach { case (k, cs) =>
        val o = s.putObject(k)
        o.put("t", cs.typ)
        o.put("mn", cs.mn)
        o.put("mx", cs.mx)
        cs.nulls.foreach(o.put("nc", _))
      }
    }
  }

  /** Serialize + atomically publish a manifest as the next free version
    * number; the version IS the filename (content never goes stale on a
    * rename retry).
    *
    * OPTIMISTIC CONCURRENCY (Delta's conflict model): `expected` is the
    * version the caller's file list was COMPUTED from. If another
    * writer has published past it by the time this manifest lands, the
    * naive retry would publish a file list that silently DROPS the
    * concurrent commit's changes (lost update). Instead:
    *   - with a `rebase` hook (blind appends): the file list is
    *     recomputed from the NEW latest snapshot and publication
    *     retries — Delta's automatic append resolution;
    *   - without one (deletes, replaces, compactions, merges): throw
    *     `ConcurrentModificationException` — the mutation read a
    *     snapshot that is no longer the table, so the caller must
    *     re-derive it;
    *   - with `expected = None` (explicit whole-table overwrite
    *     commits): last-writer-wins by design, blind slot retry.
    * Package-private so the protocol spec can drive the race
    * deterministically. */
  private[sources] def publish(spark: SparkSession, table: String,
      statsCol: Option[String], files: Seq[DataFile],
      txn: Option[String] = None, op: String = "COMMIT",
      dv: Option[String] = None, dvRows: Option[Long] = None,
      expected: Option[Long] = None,
      rebase: Option[Snapshot => Seq[DataFile]] = None,
      publisher: ManifestPublisher = ManifestPublisher.Auto,
      schemaJson: Option[String] = None,
      mapping: Option[Seq[(String, String)]] = None,
      constraints: Option[Seq[(String, String)]] = None,
      ts: Option[Long] = None,
      bloomCfg: Option[Option[(String, Int, Int)]] = None,
      segBaseOverride: Option[Snapshot] = None,
      baseSnapHint: Option[Snapshot] = None,
      generated: Option[Seq[(String, String)]] = None,
      defaults: Option[Seq[(String, String)]] = None,
      identity: Option[Option[(String, Long)]] = None,
      initialDefaults: Option[Seq[(String, String)]] = None): Long = {
    val f = fs(spark, table)
    val dir = versionsDir(table)
    f.mkdirs(dir)
    // CHECK constraints and the bloom index config carry forward by
    // default (None = inherit from the version this commit derives
    // from); DDL commits pass an explicit replacement — for the bloom
    // config Some(None) is the explicit CLEAR (a widen/drop of the
    // indexed column invalidates every recorded bitset). Callers that
    // already parsed the base snapshot pass it as `baseSnapHint` so the
    // write path costs one manifest parse, not two.
    lazy val baseSnap: Option[Snapshot] = baseSnapHint.orElse {
      val base = expected.getOrElse(latestVersion(spark, table))
      if (base <= 0) None else Some(snapshot(spark, table, base))
    }
    val carried: Seq[(String, String)] = constraints.getOrElse(
      baseSnap.map(_.constraints).getOrElse(Nil))
    val genCarried: Seq[(String, String)] = generated.getOrElse(
      baseSnap.map(_.generated).getOrElse(Nil))
    // defaults carry forward unconditionally-safely: substitution is
    // keyed off per-file noCols stamps, so a stale entry over fully
    // materialized files is inert
    val defCarried: Seq[(String, String)] = defaults.getOrElse(
      baseSnap.map(_.defaults).getOrElse(Nil))
    // ADD-time initial defaults carry independently of the mutable
    // write defaults — only addColumn extends them, only a full
    // rewrite clears them
    val initCarried: Seq[(String, String)] = initialDefaults.getOrElse(
      baseSnap.map(_.initialDefaults).getOrElse(Nil))
    val idCarried: Option[(String, Long)] = identity.getOrElse(
      baseSnap.flatMap(_.identity))
    val bloomCarried: Option[(String, Int, Int)] = bloomCfg.getOrElse(
      baseSnap.flatMap(_.bloomCfg))
    // One wall-clock read per commit, captured BEFORE publication and
    // reused on rebase retries: the recorded timestamp is the commit's
    // logical time, not the last retry's.
    val tsVal = ts.getOrElse(System.currentTimeMillis())
    // Segments this publish wrote that no live manifest references yet:
    // cleaned up on conflict/abort, kept once the manifest lands.
    var pendingSegs: List[Path] = Nil
    def writeTmp(fileList0: Seq[DataFile], segBase: Option[Snapshot]): Path = {
      val mapper = new ObjectMapper()
      // ROW TRACKING: files first referenced by THIS publication get a
      // baseRowId from the table's monotone high-water mark; carried
      // files keep theirs (entry equality ⇒ segment carry still fires).
      // Assignment happens here — inside the CAS loop — so a rebase
      // retry re-assigns from the NEW base's mark, never a stale one.
      // Tables written before row tracking derive a conservative mark
      // from whatever ids their files already carry.
      var rowHwmNext = segBase.map(s => s.rowHwm.getOrElse(
        s.files.flatMap(df => df.baseRowId.map(_ + df.rows))
          .foldLeft(0L)(math.max))).getOrElse(0L)
      val fileList = fileList0.map { df =>
        if (df.baseRowId.isDefined) df
        else { val b = rowHwmNext; rowHwmNext += df.rows
          df.copy(baseRowId = Some(b)) }
      }
      // SEGMENTATION (the Iceberg manifest-list shape): a base segment
      // whose files ALL survive into this commit is carried BY NAME;
      // everything else lands in one new immutable segment. Appends
      // therefore serialize O(batch) file entries; metadata-only
      // commits (RESTORE, DDL) serialize none; a mutation rewrites
      // only the segments it touched. A file entry whose CONTENT
      // changed (new bloom, new stats) naturally voids its old
      // segment's carry — carry is by whole-entry equality, never by
      // path alone.
      val newSet = fileList.toSet
      val baseSegs = segBase.map(_.segments).getOrElse(Nil)
      val carriedSegs0 = baseSegs.filter { case (_, fs0) =>
        fs0.nonEmpty && fs0.forall(newSet.contains)
      }
      // SEGMENT COMPACTION (Delta's checkpoint cadence / Iceberg
      // rewrite_manifests): every commit adds one segment, so an
      // append-heavy table would make snapshot resolution O(commits)
      // metadata reads. When the reference list would exceed the
      // threshold, fold everything into ONE fresh segment — O(files)
      // serialization once per `maxSegments` commits, amortized
      // O(files/maxSegments), and snapshot resolution stays bounded.
      val carriedSegs =
        if (carriedSegs0.size >= maxSegments) Nil else carriedSegs0
      val inCarried = carriedSegs.flatMap(_._2).toSet
      val leftover = fileList.filterNot(inCarried.contains)
      val segRefs = carriedSegs.map(_._1) ++ (if (leftover.isEmpty) Nil else {
        val segName = "seg_" + java.util.UUID.randomUUID().toString
          .replace("-", "").take(16) + ".json"
        val segRoot = mapper.createObjectNode()
        val arr = segRoot.putArray("files")
        leftover.foreach(putFile(arr, _))
        val segPath = new Path(dir, segName)
        val out = f.create(segPath, false)
        try out.write(mapper.writerWithDefaultPrettyPrinter()
          .writeValueAsBytes(segRoot)) finally out.close()
        pendingSegs ::= segPath
        Seq(segName)
      })
      val root = mapper.createObjectNode()
      // this writer always emits segmented file lists → reader 2
      root.put("minReader", 2)
      statsCol.foreach(root.put("statsCol", _))
      txn.foreach(root.put("txn", _))
      // the recent-txn RING: the base's ring plus this commit's txn,
      // bounded at txnRingSize — idempotency dedup then survives up to
      // that many intervening commits (Delta keeps a per-app txn map;
      // a bounded ring of txn ids covers the same replay window for
      // string-stamped writers without a second keyspace). Derived
      // from segBase, so a rebase retry extends the NEW base's ring.
      val ring = (segBase.map(_.recentTxns).getOrElse(Nil) ++ txn)
        .takeRight(txnRingSize)
      if (ring.nonEmpty) {
        val ra = root.putArray("recentTxns")
        ring.foreach(ra.add)
      }
      root.put("op", op)
      root.put("ts", tsVal)
      root.put("rhw", rowHwmNext)
      if (carried.nonEmpty) {
        val arr = root.putArray("constraints")
        carried.foreach { case (n, e) =>
          val o = arr.addObject(); o.put("n", n); o.put("e", e)
        }
      }
      if (genCarried.nonEmpty) {
        val arr = root.putArray("generated")
        genCarried.foreach { case (n, e) =>
          val o = arr.addObject(); o.put("n", n); o.put("e", e)
        }
      }
      if (defCarried.nonEmpty) {
        val arr = root.putArray("defaults")
        defCarried.foreach { case (n, e) =>
          val o = arr.addObject(); o.put("n", n); o.put("e", e)
        }
      }
      // emitted whenever EITHER default list is live, so a
      // write-default-only manifest records an explicitly EMPTY
      // initial list instead of falling into the legacy conflation
      if (initCarried.nonEmpty || defCarried.nonEmpty) {
        val arr = root.putArray("initialDefaults")
        initCarried.foreach { case (n, e) =>
          val o = arr.addObject(); o.put("n", n); o.put("e", e)
        }
      }
      idCarried.foreach { case (c, next) =>
        val o = root.putObject("identity")
        o.put("col", c); o.put("next", next)
      }
      bloomCarried.foreach { case (c, m, k) =>
        val o = root.putObject("bloom")
        o.put("col", c); o.put("m", m); o.put("k", k)
      }
      dv.foreach(root.put("dv", _))
      dvRows.foreach(root.put("dvRows", _))
      schemaJson.foreach(root.put("schema", _))
      mapping.foreach { m =>
        val arr = root.putArray("mapping")
        m.foreach { case (l, p) =>
          val o = arr.addObject(); o.put("l", l); o.put("p", p)
        }
      }
      val sarr = root.putArray("segments")
      segRefs.foreach(sarr.add)
      val bytes = mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(root)
      val tmp = new Path(dir,
        ".tmp_" + java.util.UUID.randomUUID().toString.replace("-", "").take(16))
      val out = f.create(tmp, false)
      try { out.write(bytes) } finally out.close()
      tmp
    }
    // An expected-set commit targets EXACTLY base+1 — the slot IS the
    // compare-and-swap. Checking latestVersion separately would be
    // check-then-act: a commit landing between the check and the
    // placement would be silently overwritten in the next free slot.
    // With exact-slot targeting, any concurrent commit occupies base+1
    // and the collision is detected atomically by the putIfAbsent.
    var tmp = writeTmp(files, segBaseOverride.orElse(baseSnap))
    var v = expected.map(_ + 1).getOrElse(latestVersion(spark, table) + 1)
    var attempts = 0
    val pub = ManifestPublisher.resolve(spark, publisher)
    while (!pub.putIfAbsent(f, tmp, new Path(dir, f"v$v%08d.json"))) {
      attempts += 1
      require(attempts < 64, s"could not publish a commit to $table after $attempts attempts")
      if (expected.isDefined) rebase match {
        case Some(rb) =>
          // blind append: rebase the file list onto the new latest
          // snapshot and CAS on ITS successor slot
          f.delete(tmp, false) // unconditional: on non-local stores the
          // tmp was never renamed either (conflict paths must not leak)
          pendingSegs.foreach(f.delete(_, false)) // unreferenced orphans
          pendingSegs = Nil
          val snap = snapshot(spark, table)
          tmp = writeTmp(rb(snap), Some(snap))
          v = snap.version + 1
        case None =>
          f.delete(tmp, false)
          pendingSegs.foreach(f.delete(_, false))
          throw new java.util.ConcurrentModificationException(
            s"commit to $table computed from version ${expected.get}, but " +
              s"version $v already exists: re-derive the mutation from the " +
              "current snapshot")
      } else {
        // expected=None (whole-table overwrite): data-wise the retry is
        // last-writer-wins by design, but the tmp manifest CARRIES
        // metadata (constraints, bloom config) resolved from the
        // pre-race base — if a concurrent commit changed either, blind
        // retry would silently drop the change AND skip its write-path
        // gate. Detect and surface instead.
        val nowSnap =
          if (latestVersion(spark, table) > 0)
            Some(snapshot(spark, table)) else None
        if (nowSnap.map(_.constraints).getOrElse(Nil) != carried ||
            nowSnap.flatMap(_.bloomCfg) != bloomCarried) {
          f.delete(tmp, false)
          pendingSegs.foreach(f.delete(_, false))
          throw new java.util.ConcurrentModificationException(
            s"overwrite commit to $table raced a constraint or bloom-index " +
              "change: re-run the commit so its batch passes the new gates")
        }
        // REWRITE the tmp manifest against the post-race base: the
        // first tmp baked the pre-race recentTxns ring (re-putting it
        // would silently drop the interleaved writer's txn from the
        // dedup window) and pre-race segment references
        f.delete(tmp, false)
        pendingSegs.foreach(f.delete(_, false))
        pendingSegs = Nil
        tmp = writeTmp(files, nowSnap)
        v = math.max(v + 1, latestVersion(spark, table) + 1)
      }
    }
    // link-based publishers leave tmp behind; rename-based ones moved
    // it — delete is a no-op then
    f.delete(tmp, false)
    v
  }

  /** Garbage-collect data files unreferenced by the newest
    * `keepVersions` manifests, then drop the older manifests — Delta
    * VACUUM. Time travel remains exact for every kept version (their
    * file lists are untouched); older versions become unreadable, which
    * is the explicit trade. Returns the number of data files deleted. */
  /** The snapshot's manifest as a queryable DataFrame — Iceberg's
    * `table$files` / Delta's DESCRIBE DETAIL surface: one row per live
    * data file with its recorded rows, bytes, commit-key range, stats
    * coverage and bloom presence. Pure manifest projection: O(files)
    * driver memory and zero data I/O, which is the point — layout
    * inspection ("are my files sized right? ranges disjoint? stats
    * recorded?") must never cost a table scan. Pairs with [[history]]
    * (the version axis) as the table's introspection surface. */
  def filesTable(spark: SparkSession, table: String,
      version: Long = -1L): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, table, version)
    snap.files.map(f => (f.path, f.rows, f.bytes, f.minKey, f.maxKey,
      f.stats.size, f.bloom.isDefined))
      .toDF("path", "rows", "bytes", "min_key", "max_key",
        "n_stat_cols", "has_bloom")
  }

  // ===== WRITE-AUDIT-PUBLISH (Iceberg's WAP pattern, Delta's staged
  // commits): an append whose data files land physically but whose
  // manifest sits OUTSIDE the version chain — invisible to every
  // reader — until an explicit publish. The audit step runs arbitrary
  // DataFrame checks against the WOULD-BE table state ([[readStaged]] =
  // base snapshot + staged files) and then either [[publishStaged]]
  // (atomic, conflict-checked — one manifest put, zero data movement)
  // or [[dropStaged]] (removes the staged files; the live table never
  // saw them). This is the quality gate shape a 100 TB ingest needs:
  // validation cost is a scan of the BATCH (plus whatever the audit
  // queries touch), and a failed audit costs nothing to roll back
  // because nothing was ever committed. CHECK constraints still gate
  // at STAGE time (they are table invariants, not audit opinions). =====

  private def stagedDir(table: String) = new Path(versionsDir(table), "_staged")

  private def stagedPath(table: String, id: String) =
    new Path(stagedDir(table), s"$id.json")

  /** A staged commit's record: the batch's file entries plus the
    * TABLE RULES it was validated under (serialized at stage time, so
    * publication never needs the base manifest — which vacuum may
    * have reclaimed by then). `rules` is the canonical JSON rendering
    * of (statsCol, schemaJson, mapping, constraints, generated,
    * bloomCfg); publish compares it against the CURRENT snapshot's
    * rendering — equal strings = staged files still valid. */
  private final case class Staged(base: Long, rel: String,
      files: Seq[DataFile], rules: String)

  private def rulesJson(s: Snapshot): String = {
    val mapper = new ObjectMapper()
    val n = mapper.createObjectNode()
    s.statsCol.foreach(n.put("statsCol", _))
    s.schemaJson.foreach(n.put("schema", _))
    s.mapping.foreach { m =>
      val a = n.putArray("mapping")
      m.foreach { case (l, p) => a.addArray().add(l).add(p) }
    }
    if (s.constraints.nonEmpty) {
      val a = n.putArray("constraints")
      s.constraints.foreach { case (c, e) => a.addArray().add(c).add(e) }
    }
    if (s.generated.nonEmpty) {
      val a = n.putArray("generated")
      s.generated.foreach { case (c, e) => a.addArray().add(c).add(e) }
    }
    s.bloomCfg.foreach { case (c, m, k) =>
      n.putArray("bloom").add(c).add(m).add(k)
    }
    mapper.writeValueAsString(n)
  }

  private def loadStaged(spark: SparkSession, table: String,
      id: String): Staged = {
    val f = fs(spark, table)
    val p = stagedPath(table, id)
    require(f.exists(p), s"no staged commit $id on $table")
    val in = f.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val root = new ObjectMapper().readTree(bytes)
    Staged(root.get("base").asLong, root.get("rel").asText,
      root.get("files").elements().asScala.map(parseFileNode).toSeq,
      root.get("rules").asText)
  }

  /** Stage an append: the batch is shaped, CHECK-gated, footer-stat'd
    * and bloomed exactly like [[appendCommit]]'s, but records only a
    * staged manifest under `_versions/_staged/` — no version lands.
    * WAP stages DATA, not DDL: the batch must carry exactly the
    * table's logical columns (schema evolution goes through the
    * normal append path). Returns the stage id. */
  def stageAppend(spark: SparkSession, table: String, df: DataFrame,
      files: Int = 4): String = {
    val prior = snapshot(spark, table)
    require(prior.version >= 1, s"stageAppend: $table has no committed version")
    val gdf = applyGenerated(df, prior.generated)
    val logicalCols: Set[String] = prior.mapping match {
      case Some(m) => m.map(_._1).toSet
      case None => prior.physicalSchema.map(_.fieldNames.toSet)
        .getOrElse(gdf.columns.toSet)
    }
    require(gdf.columns.toSet == logicalCols,
      s"stageAppend: batch columns ${gdf.columns.sorted.mkString(",")} != " +
        s"table columns ${logicalCols.toSeq.sorted.mkString(",")} — " +
        "WAP stages data, not schema changes")
    val physDf = prior.mapping match {
      case Some(_) => gdf.select(gdf.columns.map(c =>
        col(c).as(prior.physicalName(c))): _*)
      case None => gdf
    }
    val aligned = prior.physicalSchema match {
      case Some(sch) => physDf.select(physDf.columns.map { c =>
        val t = sch(c).dataType
        if (physDf.schema(c).dataType == t) col(c) else col(c).cast(t).as(c)
      }: _*)
      case None => physDf
    }
    val landed = land(spark, table, aligned, files, prior.statsCol,
      prior.statsCol, prior.bloomCfg, prior.physicalSchema,
      checks = prior.constraints ++ generatedChecks(prior.generated, df.columns),
      view = _.select(gdf.columns.map(c => col(prior.physicalName(c)).as(c)): _*))
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("base", prior.version)
    root.put("rel", landed.rel)
    root.put("rules", rulesJson(prior))
    val arr = root.putArray("files")
    landed.files.foreach(putFile(arr, _))
    val f = fs(spark, table)
    f.mkdirs(stagedDir(table))
    val out = f.create(stagedPath(table, id), false)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(root)) finally out.close()
    id
  }

  /** The WOULD-BE table state of a staged commit: the base snapshot's
    * live rows (deletion vector applied, mapping projected) plus the
    * staged batch — what audit queries run against. Reads see ONLY
    * manifest-listed + this stage's files; other stages stay invisible
    * (stages audit independently). */
  def readStaged(spark: SparkSession, table: String, id: String): DataFrame = {
    val st = loadStaged(spark, table, id)
    val snap = snapshot(spark, table, st.base)
    readFiles(spark, table, snap, snap.files ++ st.files)
  }

  /** Atomically publish a staged commit as the table's next version:
    * the staged files join the CURRENT latest snapshot's file list by
    * reference (append semantics — publication is one manifest put).
    * Commits that landed after the stage are fine AS LONG AS the
    * table-level contracts the stage was validated under are unchanged;
    * a concurrent change to clustering, schema, mapping, constraints,
    * generated columns, or the bloom config means the staged files were
    * prepared under stale rules — surfaced as
    * `ConcurrentModificationException`, stage retained for re-staging
    * decisions. `txn` gives exactly-once republish after a driver
    * retry, matching [[appendCommit]]'s idempotence contract. */
  def publishStaged(spark: SparkSession, table: String, id: String,
      txn: Option[String] = None): Long = {
    val st = loadStaged(spark, table, id)
    val cur = snapshot(spark, table)
    if (cur.seenTxn(txn)) {
      fs(spark, table).delete(stagedPath(table, id), false)
      return cur.version
    }
    // compare against the rules RECORDED at stage time (not a re-read
    // of the base manifest, which vacuum may have reclaimed)
    if (rulesJson(cur) != st.rules)
      throw new java.util.ConcurrentModificationException(
        s"publishStaged($table, $id): table rules (clustering/schema/" +
          s"mapping/constraints/generated/bloom) changed since stage " +
          s"(base v${st.base}, now v${cur.version}) — staged files were " +
          "prepared under stale rules; drop and re-stage")
    val v = publish(spark, table, cur.statsCol, cur.files ++ st.files, txn,
      op = "WAP PUBLISH", dv = cur.dv, dvRows = cur.dvRows,
      expected = Some(cur.version), schemaJson = cur.schemaJson,
      mapping = cur.mapping, baseSnapHint = Some(cur))
    fs(spark, table).delete(stagedPath(table, id), false)
    v
  }

  /** Abandon a staged commit: removes its manifest AND its data files —
    * the audit failed, the live table never referenced them, rollback
    * is a directory delete. */
  def dropStaged(spark: SparkSession, table: String, id: String): Unit = {
    val st = loadStaged(spark, table, id)
    val f = fs(spark, table)
    f.delete(new Path(table, st.rel), true)
    f.delete(stagedPath(table, id), false)
  }

  /** Ids of commits currently staged on `table`. */
  def stagedIds(spark: SparkSession, table: String): Seq[String] = {
    val f = fs(spark, table)
    val d = stagedDir(table)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted
  }

  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 2,
      minAgeMs: Long = 0L): Int = {
    // keep < 1 would compute keepFrom = latest + 1 — an EMPTY kept set
    // that GCs the live version's data files out from under its
    // surviving manifest (a bricked table, not a smaller one). Refuse
    // at the single chokepoint every vacuum door routes through.
    require(keepVersions >= 1,
      s"vacuum(keepVersions = $keepVersions): must keep at least the " +
        "current version — a table with zero kept versions is not " +
        "empty, it is unreadable")
    val f = fs(spark, table)
    val latest = latestVersion(spark, table)
    if (latest == 0) return 0
    // RETENTION GUARD (Delta's vacuum retention): a candidate file
    // younger than `minAgeMs` is spared even when no kept manifest
    // references it — it may belong to an IN-FLIGHT commit whose
    // manifest has not published yet. With the default 0 the caller
    // asserts no concurrent writers (the maintenance-writer contract
    // below); production ingest-concurrent vacuums should pass an age
    // comfortably above the longest commit's write time.
    val ageCutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(st: org.apache.hadoop.fs.FileStatus): Boolean =
      minAgeMs <= 0L || st.getModificationTime <= ageCutoff
    val keepFrom = math.max(1L, latest - keepVersions + 1)
    val keptSnaps = (keepFrom to latest).map(v => snapshot(spark, table, v))
    // staged-but-unpublished WAP files are live (their manifest sits
    // outside the version chain) — vacuum must not reclaim them
    val stagedKeep = stagedIds(spark, table)
      .flatMap(id => loadStaged(spark, table, id).files.map(_.path)).toSet
    // BRANCH manifests (shallow forks under _branches/) reference this
    // table's data files by ABSOLUTE URI, and every branch version can
    // still be read — so any parent file ANY branch manifest resolves
    // must survive a parent vacuum, or the fork silently loses data
    // (the shallow-clone hazard Delta documents; here it is closed in
    // code). O(branch versions × files) driver metadata, no data I/O.
    val branchesDir = new Path(table, "_branches")
    val qualifiedRoot = f.makeQualified(new Path(table)).toString + "/"
    val (branchKeep, branchDvKeep): (Set[String], Set[String]) =
      if (!f.exists(branchesDir)) (Set.empty, Set.empty)
      else {
        val snaps = f.listStatus(branchesDir).filter(_.isDirectory).toSeq
          .flatMap { b =>
            val bRoot = b.getPath.toString
            (1L to latestVersion(spark, bRoot))
              .map(v => snapshot(spark, bRoot, v))
          }
        def toRel(p: String): Option[String] =
          if (p.startsWith(qualifiedRoot)) Some(p.stripPrefix(qualifiedRoot))
          else None
        (snaps.flatMap(_.files.map(_.path)).flatMap(toRel).toSet,
          snaps.flatMap(_.dv).flatMap(toRel).toSet)
      }
    // REPO pointers (_repo/ manifests in the PARENT directory) pin
    // member-table VERSIONS: a `repo_snapshot` / `graft_repo_table`
    // read at an old pointer must still resolve, so vacuuming a
    // member keeps every version any retained pointer pins — its
    // manifest, files, DV sidecar, and segments all survive. Pins are
    // released by deleting the pointer manifests themselves (repo
    // retention), never implicitly by member vacuum. O(repo versions)
    // pointer reads of O(tables) entries each — driver metadata only.
    val tQualified = f.makeQualified(new Path(table))
    val repoPinned: Set[Long] = {
      val parent = tQualified.getParent
      if (parent == null || !f.exists(new Path(parent, "_repo"))) Set.empty
      else {
        val repo = parent.toString
        // tolerate GAPS — but ONLY not-found: a deleted pointer
        // manifest IS the documented release mechanism for its pins
        // and must never brick later member vacuums; any other read
        // failure propagates (silently skipping pins on a transient
        // error would delete pinned files)
        (1L to Repo.latestVersion(spark, repo))
          .flatMap { rv =>
            try Repo.snapshot(spark, repo, rv).get(tQualified.getName)
            catch { case _: java.io.FileNotFoundException => None }
          }
          .filter(v => v >= 1L && v < keepFrom).toSet
      }
    }
    // a pin whose member manifest is already gone (stripped by a
    // pre-repo-aware vacuum) is unrecoverable — skipping it keeps
    // vacuum operational instead of failing forever on old damage
    val pinnedSnaps = repoPinned.toSeq.sorted.flatMap { v =>
      try Some(snapshot(spark, table, v))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val keep = keptSnaps.flatMap(_.files.map(_.path)).toSet ++ stagedKeep ++
      branchKeep ++ pinnedSnaps.flatMap(_.files.map(_.path))
    // deletion-vector sidecars referenced by kept manifests survive too
    val dvKeep = keptSnaps.flatMap(_.dv).toSet ++ branchDvKeep ++
      pinnedSnaps.flatMap(_.dv)
    val dataDir = new Path(table, "data")
    if (!f.exists(dataDir)) return 0
    var deleted = 0
    f.listStatus(dataDir).foreach { d =>
      val dirRel = s"data/${d.getPath.getName}"
      f.listStatus(d.getPath).foreach { st =>
        val rel = s"$dirRel/${st.getPath.getName}"
        if (st.getPath.getName.endsWith(".parquet") && !keep.contains(rel) &&
            !dvKeep.contains(dirRel) && oldEnough(st)) {
          if (f.delete(st.getPath, false)) deleted += 1
        }
      }
      // a commit directory with no parquet left holds only write
      // markers (_SUCCESS, .crc) — remove it whole, provided nothing
      // kept lives there, everything remaining is past retention, and
      // every remaining entry is a recognizable marker FILE. A
      // SUBDIRECTORY (e.g. an in-flight writer's _temporary staging
      // tree, whose parquet lives below the top level) always vetoes
      // the removal — object stores synthesize directory mtimes, so
      // the retention guard alone cannot be trusted for trees.
      def isMarkerFile(s: org.apache.hadoop.fs.FileStatus): Boolean =
        s.isFile && {
          val n = s.getPath.getName
          n == "_SUCCESS" || n.endsWith(".crc") || n.startsWith("_committed") ||
            n.startsWith("_started")
        }
      val remaining = f.listStatus(d.getPath)
      if (!dvKeep.contains(dirRel) &&
          !remaining.exists(s => keep.contains(s"$dirRel/${s.getPath.getName}")) &&
          remaining.forall(isMarkerFile) &&
          remaining.forall(oldEnough))
        f.delete(d.getPath, true)
    }
    (1L until keepFrom).filterNot(repoPinned).foreach { v =>
      f.delete(new Path(versionsDir(table), f"v$v%08d.json"), false)
    }
    // segment GC: a segment referenced only by dropped manifests is
    // unreachable (kept manifests name theirs explicitly). Like data
    // files, segments of an IN-FLIGHT commit are invisible here only
    // because vacuum is a maintenance op — run it from the table's
    // maintenance writer, not concurrently with ingest.
    val keptSegs = keptSnaps.flatMap(_.segments.map(_._1)).toSet ++
      pinnedSnaps.flatMap(_.segments.map(_._1))
    f.listStatus(versionsDir(table)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("seg_") && n.endsWith(".json") &&
          !keptSegs.contains(n) && oldEnough(st))
        f.delete(st.getPath, false)
    }
    deleted
  }
}
