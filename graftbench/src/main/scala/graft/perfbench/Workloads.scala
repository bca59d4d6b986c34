package graft.perfbench

/** The fixed op sets. A run executes them in an order drawn from the
  * seed; the tables are fixed, so the seed changes only order (and,
  * for ingest, the batch split and arrival order). Sizes measured at
  * local[4] on the bundled sf0.01 tables are in README.md. */
object Workloads {

  /** Eager superstep loops (driver-bound: rounds × jobs per round,
    * persist/Rebind churn, one exchange per round) next to the two
    * kernel ops with the most task CPU on the bundled tables (few jobs).
    * The traced run's `op.<name>.*` lines split the two: loops show in
    * time outside jobs, kernels in executor CPU. */
  val batch: Seq[String] = Seq(
    "graph_label_prop", "text_bpe_encode", "graph_jaccard_links", "graph_triangles")

  /** Batch queries whose answers the ingest streams must reproduce
    * (the gates StreamingSpec already holds them to). */
  val ingestTruth: Seq[String] = Seq("text_search_index_delta", "ev_sessionize")

  val names: Seq[String] = Seq("batch", "ingest")

  /** Length of one measured pass at local[4] (README.md); `--seconds`
    * over it, rounded, is the fixed number of measured passes. */
  val nominalPassSeconds: Map[String, Double] =
    Map("batch" -> 13.0, "ingest" -> 12.0)

  /** Every op's query name, for recording expected fingerprints. */
  def allQueries: Seq[String] = (batch ++ ingestTruth).distinct
}
