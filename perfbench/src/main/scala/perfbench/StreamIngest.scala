package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.Events

/** `stream_ingest`: event files replay through `Events.readStream` with
  * `maxFilesPerTrigger = 1` and `Trigger.AvailableNow`, through a
  * stream-static enrichment join (users, stored with `format("graft")`)
  * and a watermarked one-hour window aggregation into the `graft` sink.
  * Replay files hold from none up to 5k rows, in a seeded order. An op is one
  * micro-batch; each replay runs [[StreamIngest.FilesPerReplay]] files
  * and a watermark-flushing sentinel file.
  *
  * Why: the only workload that exercises the streaming layer. */
final class StreamIngest(seed: Long) extends Workload {
  import StreamIngest._

  private val rnd = new Random(seed)
  private var spark: SparkSession = _
  private var dir: Path = _
  private var users: String = _
  private var replays = 0
  /** Replay runs of the measured windows: (replay dir, sink table). */
  private val runs = mutable.ArrayBuffer.empty[(String, String)]
  private var stateRows, stateBytes = 0L

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    this.dir = dir
    users = dir.resolve("wh/users").toString
    import spark.implicits._
    val rows = (1L to Users).map(u => (u, Segments(rnd.nextInt(Segments.size))))
    Trace.span("sources", "sources.create")(
      rows.toDF("user_id", "segment").write.format("graft").option("key", "user_id").save(users))
    writeReplayFiles()
  }

  /** Generate every replay file in one Spark job: rows are keyed by
    * their file number and hash-partitioned so partition i is file i.
    * Every replay has the same seeded file sizes (so replays compare) and
    * ends with a sentinel file: one event a day ahead, which moves the
    * watermark past every window so the final no-data batch emits them. */
  private def writeReplayFiles(): Unit = {
    val perReplay = FilesPerReplay + 1
    val sizes = rnd.shuffle(Sizes)
    var id = 0L
    def event(f: Int, tsSec: Long, user: Long, kind: String): (Int, Row) = {
      id += 1
      f -> Row(id, LocalDateTime.ofEpochSecond(tsSec, 0, ZoneOffset.UTC), user, kind,
        0.25 * rnd.nextInt(400), s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val rows = (0 until Replays).flatMap { r =>
      sizes.zipWithIndex.flatMap { case (n, i) =>
        val f = r * perReplay + i
        // ten minutes of event time per file, in file order, so nothing
        // arrives behind the watermark
        (0 until n).map(_ => event(f, Base + f * 600L + rnd.nextInt(600),
          1L + rnd.nextInt(Users + 50), Gen.eventTypes(rnd.nextInt(Gen.eventTypes.size))))
      } :+ event(r * perReplay + FilesPerReplay,
        Base + (r + 1) * perReplay * 600L + 86400L, -1L, Events.SentinelType)
    }
    val staging = dir.resolve("staging").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8).partitionBy(new HashPartitioner(Replays * perReplay)).values,
      Events.rawSchema).write.parquet(staging)
    val empty = dir.resolve("staging_empty").toString
    spark.createDataFrame(java.util.List.of[Row](), Events.rawSchema).coalesce(1).write.parquet(empty)
    def parts(d: String) = Files.list(java.nio.file.Paths.get(d)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    // part-NNNNN-...: NNNNN is the partition, so the file number
    val byFile = parts(staging).map(p => p.getFileName.toString.slice(5, 10).toInt -> p).toMap
    val emptyFile = parts(empty).head
    val mtime0 = System.currentTimeMillis() - 3600000L
    (0 until Replays).foreach { r =>
      val rd = Files.createDirectories(dir.resolve(s"replay$r"))
      (0 until perReplay).foreach { i =>
        val dst = rd.resolve(f"$i%04d.parquet")
        byFile.get(r * perReplay + i) match {
          case Some(p) => Files.move(p, dst)
          case None => Files.copy(emptyFile, dst)
        }
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + i * 1000L))
      }
    }
  }

  /** The pipeline, shared by the stream and its batch recomputation.
    * The stream keeps the sentinels: a filter on them would be pushed
    * below the watermark, which then never sees them; their windows lie
    * beyond the final watermark and are never emitted. */
  private def enrichAndAggregate(events: DataFrame, static: DataFrame): DataFrame =
    events.join(static, Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("events"), sum("value").as("value"))
      .select(col("window.start").as("window_start"), col("segment"), col("events"), col("value"))

  /** One replay: a fresh checkpoint and sink over one replay directory;
    * each micro-batch becomes one op. */
  private def replay(): Seq[OpRec] = {
    val r = replays % Replays
    replays += 1
    val replayDir = dir.resolve(s"replay$r").toString
    val sink = dir.resolve(s"wh/sink$replays").toString
    val ss = Events.streamingSession(spark)
    ss.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val q = enrichAndAggregate(
        Events.readStream(ss, replayDir, maxFilesPerTrigger = 1).withWatermark("ts", "10 minutes"),
        ss.read.format("graft").load(users))
      .writeStream.format("graft").option("path", sink)
      .option("checkpointLocation", dir.resolve(s"ckpt$replays").toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    runs += ((replayDir, sink))
    progress.lastOption.foreach { p =>
      stateRows = p.stateOperators.map(_.numRowsTotal).sum
      stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
    }
    progress.map(batchOp)
  }

  private def batchOp(p: StreamingQueryProgress): OpRec = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp)
    val startNs = start.getEpochSecond * 1000000000L + start.getNano
    val total = d.getOrElse("triggerExecution", 0L)
    if (Trace.enabled) {
      // the streaming layer reports phases as durations: lay them end to
      // end under the batch's root span
      val root = Trace.nextId()
      var t = startNs
      Buckets.foreach { b =>
        val ms = d.getOrElse(b, 0L)
        Trace.record(Span(Trace.nextId(), root, root, "streaming", s"streaming.$b", t, t + ms * 1000000L))
        t += ms * 1000000L
      }
      Trace.record(Span(root, 0L, root, Trace.Driver, "batch", startNs, startNs + total * 1000000L))
    }
    OpRec("batch", startNs, startNs + total * 1000000L, p.numInputRows, ok = true)
  }

  def measure(deadlineNs: Long): Seq[OpRec] = {
    runs.clear()
    val out = mutable.ArrayBuffer.empty[OpRec]
    while (System.nanoTime() < deadlineNs) out ++= replay()
    out.toSeq
  }

  def check(): Seq[String] = {
    val static = spark.read.format("graft").load(users)
    runs.toSeq.flatMap { case (replayDir, sink) =>
      val batch = enrichAndAggregate(
        Events.normalize(spark.read.schema(Events.rawSchema).parquet(replayDir))
          .filter(col("event_type") =!= Events.SentinelType), static)
      val want = batch.collect().toSet
      val got = spark.read.format("graft").load(sink).select(batch.columns.map(col).toIndexedSeq: _*)
        .collect().toSet
      if (got == want) None
      else Some(s"sink $sink holds ${got.size} windows, batch recomputation ${want.size} " +
        s"(missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)})")
    }
  }

  override def extras(ops: Seq[OpRec]): Seq[(String, Double, String)] =
    Stats.tail(ops.map(_.ms), 90).map(v => ("op_p90_ms", v, "ms")).toSeq ++
      Seq(("empty_batch_p50_ms", Workload.p50(ops.filter(_.rows == 0)), "ms"))

  def layers(ops: Seq[OpRec], spans: Seq[Span], setup: Seq[Span], t: Tally): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val total = Trace.totalByName(spans)
    Buckets.map(b => s"streaming.${Snake(b)}_ms" -> total.getOrElse(s"streaming.$b", 0L) / 1e6 / n).toMap ++
      Map("streaming.state_rows" -> stateRows.toDouble,
        "streaming.state_mem_mb" -> stateBytes / 1048576.0)
  }
}

object StreamIngest {
  val Replays = 4
  /** Rows per replay file, in a seeded order: empty batches beside full
    * ones, so the per-batch floor and the per-row cost separate. */
  val Sizes: Seq[Int] = Seq(0, 0, 300, 1200, 2500, 3800, 5000)
  val FilesPerReplay: Int = Sizes.size
  val Users = 2000
  val Segments: IndexedSeq[String] = IndexedSeq("new", "casual", "regular", "loyal")
  /** 2025-01-01T00:00:00Z */
  val Base = 1735689600L
  /** `durationMs` buckets of a micro-batch, in execution order. */
  val Buckets: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  val Snake: Map[String, String] = Map("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
    "queryPlanning" -> "query_planning", "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
    "commitOffsets" -> "commit_offsets")
}
