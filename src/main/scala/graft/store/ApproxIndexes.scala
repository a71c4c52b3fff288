package graft.store

/** The approximate-index vocabulary both mounts serve, and the metrics
  * each index ranks by — one table for both stores, both REST search
  * routes and both explain paths.
  *
  * The durable IVF layout clusters the raw vectors (ip rides the
  * MIPS-augmented layout, single-query only), so it serves cosine, l2
  * and ip for one query and cosine or l2 for a batch. Every other index,
  * and every index on the live mount, trains on angular structure
  * (normalized subvectors, sign bits, normalized-L2 graphs, sign-LSH
  * bands) and reranks by cosine. */
private[graft] object ApproxIndexes {

  val Names: Seq[String] = Seq("lsh", "ivf", "pq", "bq", "imi", "hnsw")

  def metrics(index: String, batch: Boolean, durable: Boolean): Set[String] =
    if (durable && index == "ivf") {
      if (batch) Set("cosine", "l2") else Set("cosine", "l2", "ip")
    } else Set("cosine")

  /** A typo'd index fails even where no index runs (an exact search), so
    * the request never silently serves a different query. */
  def requireKnown(index: String): Unit =
    require(Names.contains(index),
      s"unknown approx index '$index' (expected " +
        Names.init.map(n => s"'$n'").mkString(", ") + s" or '${Names.last}')")

  /** Argument validation for every indexed search; it runs before any
    * starvation short-circuit, so cache state never turns an invalid
    * request into a served one. */
  def requireMetric(index: String, metric: String, batch: Boolean,
                    durable: Boolean): Unit = {
    requireKnown(index)
    val ok = metrics(index, batch, durable)
    require(ok(metric),
      s"${if (durable) "durable" else "live"} ${if (batch) "batch " else ""}" +
        s"'$index' search supports ${ok.toSeq.sorted.mkString("|")}, got metric '$metric'")
  }

  /** The indexed batch preamble: bounds on k and the batch, and one
    * dimensionality (a layout is built for one dim). */
  def requireBatch(queries: Seq[Seq[Float]], k: Int): Unit = {
    require(k >= 1 && k <= 1000, "top_k must be in [1, 1000]")
    require(queries.nonEmpty && queries.size <= Scoring.InListMax,
      s"batch size must be in [1, ${Scoring.InListMax}]")
    require(queries.forall(_.length == queries.head.length),
      "all batch queries must share one dimensionality")
  }
}
