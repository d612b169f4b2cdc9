package perfbench

/** The benchmark's workloads, over the sf0.01 tables in the benchmark's
  * `data/`. `export` selects Verify's `coalesce(1)` parquet write as the
  * timed action instead of the `noop` sink. */
final case class Workload(name: String, queries: Seq[String], export: Boolean)

object Workloads {
  /** Every 12th of the 92 CoreQueries, AnalyticsQueries, WranglingQueries,
    * QualityQueries, StatsQueries, GraphQueries, EventQueries and
    * CleaningQueries queries in numeric order, from the 4th on: short
    * independent star-schema and event queries with no shared stages and
    * no driver loops. */
  val relationalQueries: Seq[String] = Seq(
    "q04_dedup_keep_first", "q16_conditional_sum", "q44_order_gaps",
    "q56_salted_join", "q71_category_drift", "q118_histogram_drift",
    "q131_trend_slope", "q147_markup_strip")

  /** PipelineQueries consumers of four shared stages: the dedup word-gram
    * postings (2 consumers), the packed sequences (3), the unigram
    * histogram and the unigram scores (2). */
  val dedupQueries: Seq[String] = Seq(
    "q28_jaccard_exact", "q59_containment", "q61_token_packing",
    "q193_packing_card", "q200_takedown_blast", "q213_xent_frozen",
    "q214_unigram_compact")

  val all: Seq[Workload] = Seq(
    Workload("dedup_stages", dedupQueries, export = false),
    Workload("relational_export", relationalQueries, export = true))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))

  /** The tail percentile reported for a workload: the highest whole
    * percentile that leaves at least 10 latency samples above it in a run
    * of `minPasses` passes, with that sample count. Fixed per workload so
    * that runs with different pass counts report the same percentile. */
  def tailPercentile(w: Workload, minPasses: Int): (Double, Int) = {
    val n = w.queries.size * minPasses
    (math.floor(100.0 * (n - 10) / n), n)
  }
}
