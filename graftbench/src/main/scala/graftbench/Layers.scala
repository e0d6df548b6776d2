package graftbench

/** Per-layer metrics derived from a traced phase's spans, and the
  * end-to-end metric each one is expected to move. */
object Layers {

  private val modules = Seq("sources", "pipeline", "operators.dedup",
    "operators.minhash_store", "operators.knn")

  /** `probeFrom` is the index of the first single-layer probe span;
    * spans before it belong to the traced timed phase. Totals are per
    * pass; per-query figures average the workload's query operations. */
  def compute(w: Workload, t: Tracer, passes: Int,
              probeFrom: Int): Seq[(String, Double, String)] = {
    val phaseOps = t.spans.take(probeFrom).toSeq
    val probes = t.spans.drop(probeFrom).toSeq
    def attr(ss: Seq[Span], k: String): Seq[Double] = ss.flatMap(_.attrs.get(k))
    def perPass(k: String): Double = attr(phaseOps, k).sum / passes.max(1)
    val queryOps = phaseOps.filter(s => w.queryKinds.contains(s.name))
    def perQuery(k: String): Double = attr(queryOps, k).sum / queryOps.size.max(1)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def secs(ss: Seq[Span], name: String): Seq[Double] = ss.filter(_.name == name).map(_.seconds)
    val searches = phaseOps.filter(_.name == "knn.search")
    val searchQueries = attr(searches, "queries").sum
    val parse = probes.filter(_.name == "sources.parse")
    val storeOps = phaseOps.filter(_.attrs.contains("store.files"))
    val minhashPairs = probes.filter(_.name == "dedup.minhash_pairs")

    Seq(
      ("spark.jobs", perPass("jobs"), "count"),
      ("spark.stages", perPass("stages"), "count"),
      ("spark.tasks", perPass("tasks"), "count"),
      ("spark.driver_gap_s", perPass("driver_gap_s"), "s"),
      ("spark.task_run_s", perPass("task_run_s"), "s"),
      ("spark.shuffle_write_mb", perPass("shuffle_write_mb"), "MB"),
      ("spark.spill_mb", perPass("spill_mb"), "MB"),
      ("spark.input_mb", perPass("input_mb"), "MB"),
      ("spark.output_mb", perPass("output_mb"), "MB")) ++
      modules.map(m => (s"$m.stage_s", perPass(s"stage_s:$m"), "s")) ++
      Seq(
        ("sources.list_members_s", med(secs(probes, "sources.list_members")), "s"),
        ("sources.member_header_ms", med(secs(probes, "sources.member_header")) * 1e3, "ms"),
        ("sources.parse_mb_per_s",
          if (parse.isEmpty) 0.0 else attr(parse, "bytes").sum / 1e6 / parse.map(_.seconds).sum, "MB/s"),
        ("schema.colspec_ms", med(secs(probes, "schema.colspec")) * 1e3, "ms"),
        ("operators.combine_parts_s", secs(probes, "operators.combine_parts").sum, "s"),
        ("operators.long_pivot_s", secs(probes, "operators.long_pivot").sum, "s"),
        ("pipeline.files_written", med(attr(phaseOps, "pipeline.files_written")), "count"),
        ("plans.planning_ms", med(attr(queryOps, "planning_ms")), "ms"),
        ("spark.jobs_per_query", perQuery("jobs"), "count"),
        ("sources.files_per_query", perQuery("files_read"), "count"),
        ("sources.mb_read_per_query", perQuery("input_mb"), "MB"),
        ("operators.dedup.exact_s", med(secs(phaseOps, "dedup.exact")), "s"),
        ("operators.dedup.minhash_s", med(secs(minhashPairs, "dedup.minhash_pairs")), "s"),
        ("operators.dedup.pairs_found", med(attr(minhashPairs, "pairs_found")), "count"),
        ("operators.minhash_store.write_s", med(secs(phaseOps, "minhash.write")), "s"),
        ("operators.minhash_store.probe_s", med(secs(phaseOps, "minhash.probe")), "s"),
        ("operators.minhash_store.append_s", med(secs(phaseOps, "minhash.append")), "s"),
        ("operators.knn.write_ivf_s", med(secs(phaseOps, "knn.write_ivf")), "s"),
        ("operators.knn.append_ivf_s", med(secs(phaseOps, "knn.append_ivf")), "s"),
        ("operators.knn.compact_s", med(secs(phaseOps, "knn.compact")), "s"),
        ("operators.knn.search_ms_per_query",
          if (searchQueries == 0) 0.0 else searches.map(_.seconds).sum * 1e3 / searchQueries, "ms"),
        ("operators.knn.rows_scanned_per_query",
          if (searchQueries == 0) 0.0 else attr(searches, "input_records").sum / searchQueries, "count"),
        ("store.bytes_on_disk", med(attr(storeOps, "store.bytes_on_disk")), "bytes"),
        ("store.files", med(attr(storeOps, "store.files")), "count"))
  }

  /** The end-to-end metric a per-layer metric should move on `workload`
    * (workload figure, with the benchmark metric that carries it). */
  def moves(metric: String, workload: String): String = {
    val home: Map[String, String] = metric match {
      case m if m.startsWith("spark.") && m != "spark.jobs_per_query" => Map(
        "ffiec_ingest_query" -> "ingest_mb_per_s (wall_s)",
        "corpus_curate" -> "dedup_docs_per_s (wall_s)")
      case "sources.stage_s" | "pipeline.stage_s" | "sources.list_members_s" |
           "sources.member_header_ms" | "sources.parse_mb_per_s" | "schema.colspec_ms" |
           "operators.combine_parts_s" | "operators.long_pivot_s" =>
        Map("ffiec_ingest_query" -> "ingest_mb_per_s (wall_s)")
      case "pipeline.files_written" => Map("ffiec_ingest_query" -> "out_bytes_per_in_byte")
      case "plans.planning_ms" | "spark.jobs_per_query" => Map(
        "ffiec_ingest_query" -> "query_p50_ms (op_p50_ms)",
        "corpus_curate" -> "search_qps")
      case "sources.files_per_query" | "sources.mb_read_per_query" => Map(
        "ffiec_ingest_query" -> "query tail percentile",
        "corpus_curate" -> "search_qps")
      case m if m.startsWith("operators.dedup.") =>
        Map("corpus_curate" -> "dedup_docs_per_s, dedup_pair_recall")
      case "operators.knn.stage_s" | "operators.knn.search_ms_per_query" |
           "operators.knn.rows_scanned_per_query" =>
        Map("corpus_curate" -> "search_qps, search_recall_at_10 (recall)")
      case m if m.startsWith("operators.minhash_store.") || m.startsWith("operators.knn.") ||
        m.startsWith("store.") => Map("corpus_curate" -> "store_op_p50_ms (op_p50_ms)")
      case _ => Map.empty
    }
    home.getOrElse(workload,
      if (metric == "trace.overhead_ratio") "none: cost of tracing itself"
      else s"none expected: $workload does not exercise this layer")
  }
}
