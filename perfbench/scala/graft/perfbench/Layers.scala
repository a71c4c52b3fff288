package graft.perfbench

/** Every per-layer metric the traced run prints, with its unit. A
  * workload that does not exercise a layer prints 0 for it (no calls,
  * no work). */
object Layers {
  val AnalyticsQueries: Seq[String] = Seq("q126_pagerank", "q21_text_quality", "q117_data_card",
    "q124_bpe_train", "q104_kmeans_lloyd", "q17_dedup_ngram_jaccard", "q176_stream_search",
    "q46_stream_event_window", "q87_durable_ann", "q24_pricing_summary")

  val All: Seq[(String, String)] = {
    val b = Seq.newBuilder[(String, String)]
    b += "serving.self_ms_p50" -> "ms"
    b += "serving.resp_bytes_mean" -> "bytes"
    for (mnt <- Seq("live", "durable")) {
      val classes = if (mnt == "live") Schedule.LiveClasses else Schedule.DurableClasses
      classes.foreach { k =>
        b += s"store.$mnt.$k.ms_p50" -> "ms"
        b += s"spark.$mnt.$k.jobs" -> "count"
      }
      b += s"spark.$mnt.tasks_per_req" -> "count"
      b += s"spark.$mnt.exec_cpu_ms_per_req" -> "ms"
      b += s"spark.$mnt.input_bytes_per_req" -> "bytes"
      b += s"spark.$mnt.shuffle_bytes_per_req" -> "bytes"
      b += s"spark.$mnt.outside_jobs_ms_p50" -> "ms"
      b += s"store.$mnt.index_builds" -> "count"
      b += s"store.$mnt.index_hit_ratio" -> "ratio"
      b += s"store.$mnt.starved_skips" -> "1/1000req"
      if (mnt == "durable") b += "store.durable.exact_rescues" -> "1/1000req"
    }
    AnalyticsQueries.foreach { q =>
      val short = q.takeWhile(_ != '_')
      b += s"analytics.$short.wall_s" -> "s"
      b += s"analytics.$short.jobs" -> "count"
      b += s"analytics.$short.exec_cpu_s" -> "s"
      b += s"analytics.$short.outside_jobs_s" -> "s"
    }
    b += "analytics.shuffle_bytes" -> "bytes"
    b += "analytics.spill_bytes" -> "bytes"
    Seq("cpu_ms_per_op", "p50_ms", "ops_per_s").foreach(n => b += s"harness.trace_overhead_pct.$n" -> "%")
    b.result()
  }

  /** Every name of [[All]], valued from `measured` or 0. */
  def complete(measured: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val m = measured.toMap
    val unknown = m.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    All.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }
}
