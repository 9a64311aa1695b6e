package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One completed op: an ingest crawl, an ask, a table op or a
  * micro-batch. `rows` are user rows: books landed, questions
  * answered, rows read or changed, events. */
final case class OpRec(kind: String, startNs: Long, endNs: Long, rows: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A benchmark workload: builds its fixture, runs ops until a deadline,
  * then checks the engine's outputs against the generator's model. */
trait Workload {
  /** Concurrent closed-loop clients. */
  def clients: Int = 1

  /** Build the fixture under `dir` in `spark`, whose `graft` catalog
    * is rooted at `dir/wh`. Timed as set-up. */
  def setup(spark: SparkSession, dir: Path): Unit

  /** Run ops until `deadlineNs`, one record per op. */
  def measure(deadlineNs: Long): Seq[OpRec]

  /** Untimed output checks after the run; one string per failure. */
  def check(): Seq[String]

  /** Workload-specific end-to-end figures, (name, value, unit). */
  def extras(ops: Seq[OpRec]): Seq[(String, Double, String)] = Nil

  /** Per-layer figures of the traced window (`spans`, `t`) and the
    * traced set-up (`setup`). */
  def layers(ops: Seq[OpRec], spans: Seq[Span], setup: Seq[Span], t: Tally): Map[String, Double]
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "ask_serving" => new AskServing(seed)
    case "table_mutations" => new TableMutations(seed)
    case "stream_ingest" => new StreamIngest(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Closed loop: each client issues its next op when the previous one
    * returns. `op(client, seq)` times its own engine work, so input
    * generation between ops stays outside the measured time. Ops run in
    * whole periods of `period` seqs — a workload whose op mix repeats
    * every `period` ops measures the same mix in every run. */
  def closedLoop(clients: Int, deadlineNs: Long, period: Int = 1)(
      op: (Int, Long) => OpRec): Seq[OpRec] = {
    var next = 0L
    var stopped = false
    def take(): Option[Long] = synchronized {
      if (!stopped && System.nanoTime() >= deadlineNs && next % period == 0) stopped = true
      if (stopped) None else { next += 1; Some(next - 1) }
    }
    val out = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var s = take()
        while (s.isDefined) {
          val t0 = System.nanoTime()
          out.add(try op(c, s.get) catch {
            case e: Exception =>
              Main.log(s"op ${s.get} failed: $e")
              OpRec("failed", t0, System.nanoTime(), 0, ok = false)
          })
          s = take()
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sortBy(_.startNs)
  }

  /** Time `body` as one op of `kind`. */
  def timed(kind: String)(body: => Long): OpRec = {
    val t0 = System.nanoTime()
    val rows = Trace.op(kind)(body)
    OpRec(kind, t0, System.nanoTime(), rows, ok = true)
  }

  def p50(recs: Seq[OpRec]): Double =
    if (recs.isEmpty) 0.0 else Stats.median(recs.map(_.ms))
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>`.
  * The process's working directory is its scratch root; the launcher
  * deletes it afterwards. The last stdout line is the result JSON. */
object Main {
  /** Set-up repetitions; `setup_s` reports their median. */
  val SetupReps = 3
  /** Warm-up length, as a share of the measured window. */
  val WarmupShare = 0.3

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val out = Paths.get(arg("out"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val line = run(name, seed, seconds, traced, out, cpus)
    println(line)
    System.out.flush()
    // skip Spark's shutdown hooks: everything they would clean up lies
    // under the scratch root, which the launcher deletes
    Runtime.getRuntime.halt(0)
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, out: Path,
      cpus: Int): String = {
    Workload(name, seed) // reject an unknown name before starting Spark
    val root = Paths.get("").toAbsolutePath
    val t0 = System.nanoTime()
    val base = graft.Sessions.local(cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9

    // set-up, repeated; the last fixture is the one measured
    val setups = ArrayBuffer.empty[Double]
    var w: Workload = null
    var session: SparkSession = null
    var prevDir: Path = null
    (1 to SetupReps).foreach { i =>
      val dir = Files.createDirectories(root.resolve(s"fixture$i"))
      val spark = base.newSession()
      session = spark
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse", dir.resolve("wh").toString)
      w = Workload(name, seed)
      // the traced run traces its last set-up, for the set-up's layer split
      Trace.enabled = traced && i == SetupReps
      val s0 = System.nanoTime()
      try Trace.op("setup")(w.setup(spark, dir)) finally Trace.enabled = false
      setups += (System.nanoTime() - s0) / 1e9
      if (prevDir != null) deleteTree(prevDir)
      prevDir = dir
    }
    val setupS = sessionS + Stats.median(setups.toSeq)
    val setupSpans = Trace.recorded
    Trace.clear()
    log(f"session $sessionS%.2f s, fixture builds ${setups.map(s => f"$s%.2f").mkString(", ")} s")

    // warm-up: JIT, Spark's code caches and the engine's serve caches
    w.measure(System.nanoTime() + (WarmupShare * seconds * 1e9).toLong)

    val result = if (!traced) {
      val ops = w.measure(System.nanoTime() + (seconds * 1e9).toLong)
      val failures = w.check()
      failures.foreach(f => log(s"CHECK FAILED: $f"))
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      val metrics = endToEnd(ops, w.clients) ++ Seq(
        ("setup_s", setupS, "s"), ("heap_after_gc_mb", heapMb, "MB"))
      report(name, ops, failures, metrics, w.extras(ops))
    } else {
      // untraced quarter, traced half, untraced quarter: the op_p50_ms
      // ratio of traced to untraced ops is the tracing overhead, and
      // warm-up drift falls on both sides of it
      def window(share: Double) = System.nanoTime() + (share * seconds * 1e9).toLong
      val before0 = w.measure(window(0.25))
      val counters = new Counters(session)
      counters.register()
      val before = counters.tally()
      Trace.enabled = true
      val ops = w.measure(window(0.5))
      Trace.enabled = false
      val t = counters.tally() - before
      counters.unregister()
      val plain = before0 ++ w.measure(window(0.25))
      val spans = Trace.recorded
      val failures = w.check()
      failures.foreach(f => log(s"CHECK FAILED: $f"))
      writeSpans(out, name, seed, setupSpans ++ spans)
      val metrics = layerMetrics(w, ops, spans, setupSpans, t, plain)
      report(name, ops ++ plain, failures, metrics.toSeq.sortBy(_._1).map {
        case (k, v) => (k, v, Layers.unit(k)) }, Nil)
    }
    result
  }

  /** End-to-end figures of a measured window: throughput is ops (rows)
    * per second of client busy time, so generator time between ops is
    * not counted against the engine. */
  def endToEnd(ops: Seq[OpRec], clients: Int): Seq[(String, Double, String)] = {
    val done = ops.filter(_.ok)
    val busyS = ops.map(_.ms).sum / 1000.0 / clients
    Seq(("ops_per_s", done.size / busyS, "op/s"),
      ("rows_per_s", done.map(_.rows).sum / busyS, "rows/s"),
      ("op_p50_ms", Workload.p50(done), "ms"))
  }

  /** Every per-layer metric, zero where this workload does not reach
    * the layer, plus the trace's own accounting. */
  def layerMetrics(w: Workload, ops: Seq[OpRec], spans: Seq[Span], setupSpans: Seq[Span],
      t: Tally, plain: Seq[OpRec]): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val self = Trace.selfByLayer(spans)
    val wallMs = ops.map(_.ms).sum
    val selfMs = Layers.opLayers.map(l => s"self_ms_per_op.$l" -> self.getOrElse(l, 0L) / 1e6 / n)
    val setupSelf = Trace.selfByLayer(setupSpans)
    val setupMs = (Layers.setupLayers :+ Trace.Driver).map(l =>
      s"setup_ms.${if (l == Trace.Driver) "driver_other" else l}" -> setupSelf.getOrElse(l, 0L) / 1e6)
    val accounted = self.values.sum / 1e6
    val own = Map(
      "trace.op_p50_ms" -> Workload.p50(ops),
      "trace.overhead_ratio" -> Workload.p50(ops) / math.max(Workload.p50(plain), 1e-9),
      "trace.driver_other_ms_per_op" -> self.getOrElse(Trace.Driver, 0L) / 1e6 / n,
      "trace.accounted_ratio" -> (if (wallMs > 0) accounted / wallMs else 0.0))
    val measured = w.layers(ops, spans, setupSpans, t) ++ Counters.perOp(t, ops.size) ++
      selfMs ++ setupMs ++ own
    Layers.all.map(m => m.name -> measured.getOrElse(m.name, 0.0)).toMap
  }

  def report(name: String, ops: Seq[OpRec], failures: Seq[String],
      metrics: Seq[(String, Double, String)], extras: Seq[(String, Double, String)]): String = {
    val attempted = math.max(ops.size, 1)
    val failed = math.min(attempted, ops.count(!_.ok) + failures.size)
    (metrics ++ extras :+ (("error_rate", failed.toDouble / attempted, "ratio")))
      .foreach { case (k, v, u) => println(s"$name $k = $v $u") }
    println(s"$name ops = ${ops.size} (${ops.groupBy(_.kind).map { case (k, v) =>
      s"$k:${v.size}" }.toSeq.sorted.mkString(" ")})")
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def writeSpans(out: Path, name: String, seed: Long, spans: Seq[Span]): Unit = {
    Files.createDirectories(out)
    val f = out.resolve(s"spans-$name-seed$seed.jsonl")
    Files.write(f, Trace.toJsonLines(spans).toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
    log(s"${spans.size} spans written to $f")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
}
