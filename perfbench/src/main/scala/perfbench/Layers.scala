package perfbench

/** A per-layer metric of the traced run and the end-to-end metric it
  * should move, on which workload, when an optimisation changes it. */
final case class LayerMetric(name: String, unit: String, better: String, moves: String)

/** The per-layer metrics every traced run reports. A workload that does
  * not reach a layer reports 0 for it. Layers are the engine's modules
  * as the benchmark calls them: `etl` (Bronze, Silver, Lake.readJson),
  * `rag` (Retrieval), `vector` (Embedder, graft_ann_search and the ANN
  * procedures), `sources` (Versioned, the graft catalog's DML and
  * procedures), `streaming` (Events.readStream and Structured
  * Streaming) and `spark`, the engine underneath, seen through
  * listeners. */
object Layers {
  /** Layers the ops call, and layers the set-ups call. */
  val opLayers: Seq[String] = Seq("rag", "vector", "sources", "streaming")
  val setupLayers: Seq[String] = Seq("etl", "rag", "vector", "sources")

  private def m(name: String, unit: String, better: String, moves: String) =
    LayerMetric(name, unit, better, moves)

  private val ask = "ask_serving op_p50_ms, ops_per_s (recall_at_3 must not move)"
  private val write = "table_mutations write_p50_ms, write_p90_ms; stream_ingest op_p50_ms"
  private val read = "table_mutations read_p50_ms, read_p90_ms"
  private val stream = "stream_ingest op_p50_ms, rows_per_s"

  val all: Seq[LayerMetric] = Seq(
    m("vector.embed_us", "us", "lower", ask),
    m("vector.ann_search_ms.ivf", "ms", "lower", ask),
    m("vector.ann_search_ms.hnsw", "ms", "lower", ask),
    m("vector.ann_search_ms.batch", "ms", "lower", ask),
    m("sources.context_fetch_ms", "ms", "lower", ask),
    m("rag.prompt_ms", "ms", "lower", ask),
    m("rag.chunks_per_book", "count", "lower", "ask_serving setup_s (chunks to embed and index)"),
    m("vector.ann_build_ms.ivf", "ms", "lower", "ask_serving setup_s"),
    m("vector.ann_build_ms.hnsw", "ms", "lower", "ask_serving setup_s"),
    m("vector.rows_examined_per_result", "ratio", "lower", ask),
    m("vector.serve_cache_hit_ratio", "ratio", "higher", ask),
    m("sources.commit_ms.insert", "ms", "lower", write),
    m("sources.commit_ms.merge", "ms", "lower", write),
    m("sources.commit_ms.delete", "ms", "lower", write),
    m("sources.commit_ms.update", "ms", "lower", write),
    m("sources.commit_ms.optimize", "ms", "lower", write),
    m("sources.read_ms.point", "ms", "lower", read),
    m("sources.read_ms.range", "ms", "lower", read),
    m("sources.read_ms.as_of", "ms", "lower", read),
    m("sources.read_ms.count", "ms", "lower", read),
    m("sources.read_bytes_skipped_ratio", "ratio", "higher", read),
    m("sources.live_files_end", "count", "lower", read),
    m("sources.space_amp", "ratio", "lower", "table_mutations space on disk (compaction trade-off)"),
    m("sources.write_amp", "ratio", "lower", write),
    m("streaming.add_batch_ms", "ms", "lower", stream),
    m("streaming.query_planning_ms", "ms", "lower", stream),
    m("streaming.get_batch_ms", "ms", "lower", stream),
    m("streaming.latest_offset_ms", "ms", "lower", stream),
    m("streaming.wal_commit_ms", "ms", "lower", stream),
    m("streaming.commit_offsets_ms", "ms", "lower", stream),
    m("streaming.state_rows", "count", "lower", stream),
    m("streaming.state_mem_mb", "MB", "lower", stream),
    m("spark.jobs_per_op", "count", "lower", "ask_serving, stream_ingest op_p50_ms (latency floor)"),
    m("spark.tasks_per_op", "count", "lower", "ask_serving, stream_ingest op_p50_ms"),
    m("spark.task_cpu_ms_per_op", "ms", "lower", "crawl_ingest rows_per_s"),
    m("spark.shuffle_bytes_per_op", "bytes", "lower", "crawl_ingest rows_per_s"),
    m("spark.spill_bytes_per_op", "bytes", "lower", "crawl_ingest rows_per_s"),
    m("spark.planning_ms_per_op", "ms", "lower", ask),
  ) ++ opLayers.map(l => m(s"self_ms_per_op.$l", "ms", "lower",
    s"op_p50_ms of every workload that calls $l")) ++
    (setupLayers :+ "driver_other").map(l => m(s"setup_ms.$l", "ms", "lower", s"setup_s: set-up time in $l")) ++ Seq(
    m("trace.driver_other_ms_per_op", "ms", "lower", "op_p50_ms: op time outside every layer span"),
    m("trace.op_p50_ms", "ms", "lower", "op_p50_ms, measured with tracing on"),
    m("trace.overhead_ratio", "ratio", "lower", "none: traced over untraced op_p50_ms"),
    m("trace.accounted_ratio", "ratio", "higher", "none: layer self times plus driver_other over op wall time"))

  private val units = all.map(x => x.name -> x.unit).toMap

  def unit(name: String): String = units(name)
}
