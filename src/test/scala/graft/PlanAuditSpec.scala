package graft

import graft.queries.{AnalyticsQueries, CoreQueries, CorpusQueries, GraphQueries, PipelineQueries, QualityQueries, ScaleQueries, StatsQueries, WranglingQueries}

/** Living assertions over the physical plans of representative graded
  * queries — the properties that make them scale (predicate/projection
  * pushdown, broadcast joins, partial aggregation, top-k group limits).
  * A regression that silently de-optimizes a plan fails here, not in a
  * benchmark eyeball. Strings are specific to Spark 4.1's plan rendering. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** LIVE parquet scans of a query's physical plan: descends through the
    * AQE wrapper but treats InMemoryTableScan as a LEAF, so a cached
    * stage's (already-paid) build plan doesn't count against the query —
    * the string rendering does include it, which is why plan-string
    * "FileScan" counting over-reports on stage-riding queries. */
  private def liveScans(name: String): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case f: FileSourceScanExec => Seq(f.toString.linesIterator.next())
      case other => other.children.flatMap(walk)
    }
    walk(SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan)
  }

  /** The LIVE part of a query's physical plan as text: descends through
    * the AQE wrapper but stops at InMemoryTableScan leaves, so a cached
    * stage's (already-paid) build plan — which the plain string
    * rendering of [[plan]] DOES include — can't leak its operators into
    * a "the warm query must not do X" assertion. */
  private def livePlan(name: String): String =
    liveText(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)

  private def liveText(plan: org.apache.spark.sql.execution.SparkPlan)
      : String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _: InMemoryTableScanExec => Seq("InMemoryTableScan")
      case other => other.simpleString(24) +: other.children.flatMap(walk)
    }
    walk(plan).mkString("\n")
  }

  /** The build plan of the registered stage `key` as text, in
    * [[livePlan]]'s form: the physical plan its cache entry was built
    * from, with the stages IT reads as InMemoryTableScan leaves. */
  private def stageBuildPlan(key: String): String = {
    import org.apache.spark.sql.classic
    val cache = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val df = PipelineQueries.stages.collectFirst {
      case ((_, d, k), df) if d == dir && k == key => df
    }.getOrElse(fail(s"stage $key is not registered"))
    val cached = cache.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .getOrElse(fail(s"stage $key is not cached"))
    liveText(cached.cachedRepresentation.cacheBuilder.cachedPlan)
  }

  /** The registered stages `name`'s live plan reads through an
    * InMemoryTableScan, matched by cache identity (the scan reads the
    * stage's own cached data), not by plan text. */
  private def stagesRead(name: String): Set[String] = {
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[AnyRef] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cacheBuilder)
      case other => other.children.flatMap(walk)
    }
    val read = walk(SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan)
    val cache = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    PipelineQueries.stages.toSeq.collect {
      case ((_, d, key), df) if d == dir &&
          cache.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
            .exists(c => read.exists(_ eq c.cachedRepresentation.cacheBuilder)) =>
        key
    }.toSet
  }

  test("q01: filter and projection are pushed into the parquet scan") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("isnotnull(l_shipdate") && p.contains("FileScan parquet"))
    // scan reads exactly the 5 needed columns — pruning worked
    assert(p.contains(
      "FileScan parquet [l_orderkey#") && !p.contains("l_comment"))
    assert(p.contains("l_shipdate"))
  }

  test("q07: semi join broadcasts the deduplicated probe-side keys") {
    val p = plan("q07_semi_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
    // the big side is projected to the join key only before broadcast
    assert(p.contains("FileScan parquet [l_partkey#"))
  }

  test("q13: grouped aggregation is partial (map-side) then final") {
    val p = plan("q13_group_agg")
    assert(p.contains("partial_count") && p.contains("partial_sum"))
    // exactly one hash-partitioned exchange between partial and final
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1)
  }

  test("q19: row-local validation adds no exchange beyond the output sort") {
    val p = plan("q19_email_validity")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"))
  }

  test("q29: broadcast one-pass scan with partial top-k before the shuffle") {
    val p = plan("q29_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    // WindowGroupLimit prunes to k rows per partition pre-exchange
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q04: dedup is a single hash exchange on the key, no global sort before the window") {
    val p = plan("q04_dedup_keep_first")
    assert(p.contains("row_number()"))
    assert("Exchange hashpartitioning\\(o_orderkey".r.findAllIn(p).size === 1)
  }

  test("q06: global top-k compiles to TakeOrderedAndProject, not a full sort") {
    val p = plan("q06_mode_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q27: LSH near-dup has no cartesian product and no broadcast nested loop") {
    val p = plan("q27_minhash_neardup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q37: ANN bucketing is scan + project with only the output-sort exchange") {
    val p = plan("q37_ann_buckets")
    assert("Exchange".r.findAllIn(p).size === 1)
    assert(p.contains("graft_dot"), "native expression must be in the plan")
  }

  test("q41: as-of join is union + ONE key exchange — no join node at all") {
    val p = plan("q41_asof_join")
    assert(p.contains("Union"))
    assert(!p.contains("Join"), "as-of must not compile to a join")
    // one hash exchange for the per-key window, one range for the output sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q42: sessionize shares one sort for both window passes") {
    val p = plan("q42_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    // lag + running sum must not each re-sort: exactly one per-key Sort
    // (the second Sort in the plan is the grading-only output orderBy)
    assert("Sort \\[user_id".r.findAllIn(p).size === 1, p)
  }

  test("q48: hash sample is a narrow filter on the scan — no exchange but the output sort") {
    val p = plan("q48_hash_sample")
    assert("Exchange".r.findAllIn(p).size === 1) // rangepartitioning only
    assert(p.contains("rangepartitioning"))
    assert(p.contains("Filter"))
  }

  test("q47: per-group top-k prunes with WindowGroupLimit before the exchange") {
    val p = plan("q47_topk_per_group")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q52: SCD2 joins only the current slice; history unions in with no shuffle") {
    val p = plan("q52_scd2_merge")
    assert(p.contains("Union"))
    // the delta is broadcast against the current slice; nothing in the
    // merge shuffles by key (the only hash exchanges would be AQE quirks)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q59: containment join is an equi-join on the shingle, no cartesian") {
    val p = plan("q59_containment")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q61: packing is ONE shard exchange, sorted in-partition, streaming mapPartitions") {
    // this audit reads the COLD build plan; another suite in the same
    // JVM may have materialized the shared "packed" stage (e.g.
    // PackingSpec's q262 reconciliation), whose cache rendering would
    // add its own exchanges to the string
    graft.queries.PipelineQueries.clearStages()
    val p = plan("q61_token_packing")
    assert(p.contains("MapPartitions"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q69: composite split is a pure narrow projection over the scan") {
    val p = plan("q69_composite_split")
    assert("Exchange".r.findAllIn(p).size === 1) // output sort only
    assert(p.contains("rangepartitioning"))
    assert(!p.contains("Join"))
  }

  test("q70: drift aggregates each batch BEFORE the full-outer of per-group counts") {
    val p = plan("q70_volume_drift")
    assert(p.contains("partial_count"), "map-side combine must precede the shuffle")
    assert(p.contains("FullOuter"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q71: each batch is aggregated exactly once; the share total windows " +
      "over the tiny per-category aggregate, not the rows") {
    val p = plan("q71_category_drift")
    // One scan + one final count aggregate per input batch — the broadcast
    // formulation referenced the unpersisted counts subplan twice and
    // re-aggregated each batch per consumer.
    assert("FileScan parquet".r.findAllIn(p).length == 2, p)
    assert("HashAggregate".r.findAllIn(p).length == 4, // partial+final × 2
      "each batch must be aggregated exactly once: " + p)
    // The single-partition exchanges sit ABOVE the aggregate (≤ one row per
    // category), never above the row-level scans.
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("q72: quality-score fixture joins broadcast; score is a pure projection") {
    val p = plan("q72_weighted_quality")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q73: registry anti join broadcasts the digest side") {
    val p = plan("q73_incremental_dedup")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q74: range join is a keyed join after the bucket explode — never a nested loop") {
    val p = plan("q74_range_join")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q75: tf-idf scans the corpus once for terms plus one metadata-only count") {
    val q = SparkEntry.queries("q75_tfidf_terms")(spark, dir)
    q.collect()  // let AQE finalize so runtime exchange reuse is visible
    val p = q.queryExecution.executedPlan.toString
    // the n_docs count scan reads ZERO columns (parquet footer metadata)
    assert(p.contains("FileScan parquet []"), p)
    // top-k per doc prunes before the final sort
    assert(p.contains("WindowGroupLimit"), p)
    // df must NOT be a window over term: a stopword's window partition is
    // unsplittable (straggler at scale). Partial-agg + join is the shape,
    // and the tf/df branches share ONE tokenize+shuffle pass via AQE
    // exchange reuse (the sum(1) canonicalization trick in tfidfTopTerms).
    assert(!p.contains("windowspecdefinition(term"), p)
    assert(p.contains("partial_count(tf"), p)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"), p)
  }

  test("q79: z-value is a pure narrow projection — only the output sort exchanges") {
    val p = plan("q79_zorder_value")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q80: mixture probabilities broadcast back onto the corpus — no corpus shuffle") {
    val p = plan("q80_mixture_resample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the stats pass aggregates partial-then-final; the single-partition
    // exchange only ever carries the per-category aggregate
    assert(p.contains("partial_count"), p)
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("q81: repetition signal is row-local — only the output sort exchanges") {
    val p = plan("q81_repetition")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("q109: shard-and-order windows are PARTITIONED — no single-partition sort") {
    val p = plan("q109_shard_order")
    assert(!p.contains("Exchange SinglePartition"), p)
    // window keyed by the shard column, then only the output sort
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("q110: temperature targets aggregate partial-then-final; " +
      "single-partition exchange carries only the per-category aggregate") {
    val p = plan("q110_temperature_mix")
    assert(p.contains("partial_count"), p)
    // the one single-partition exchange sits ABOVE the aggregate (tiny),
    // mirroring q80's audited shape
    assert(p.contains("Exchange SinglePartition"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q111: blocklist rides a broadcast hash anti-join on the domain key") {
    val p = plan("q111_host_block")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q112: BPE pairs aggregate partially on both the word and pair keys; " +
      "top-k is TakeOrdered, not a global sort") {
    val p = plan("q112_bpe_pairs")
    assert(p.contains("partial_count") && p.contains("partial_sum"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q114: Luhn validation is row-local — only the output sort exchanges") {
    val p = plan("q114_luhn_cards")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("q117: skew report scans the corpus ONCE — both consumers read the " +
      "materialized per-key aggregate") {
    val p = plan("q117_skew_report")
    assert(!p.contains("FileScan"), p) // only checkpoint scans remain
    assert("Scan ExistingRDD".r.findAllIn(p).size === 2, p)
  }

  test("q115: overlap matrix joins on the content key — no cartesian, and " +
      "the corpus is distinct-scanned once for both self-join sides") {
    val p = plan("q115_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("FileScan"), p)
    assert("Scan ExistingRDD".r.findAllIn(p).size === 2, p)
  }

  test("q113: CDC chunking is a single corpus scan (no union of scans)") {
    val p = plan("q113_cdc_chunks")
    assert("FileScan".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Union"), p)
  }

  test("q94: capped SemDeDup pair pass is an equi-join on the cluster key " +
    "with a rank-capped reference side — never a cartesian") {
    val p = plan("q94_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    // the maxPerCluster guard materializes as a row_number window over the
    // cluster key feeding the reference (build) side of the pair join
    assert(p.contains("row_number()"), p)
    assert(p.contains("hashpartitioning(cluster"), p)
  }

  test("q158: exact-substring dedup reads the persisted gram stage on " +
    "both sides — the md5-per-position pass runs once, never twice") {
    val p = plan("q158_exact_substring")
    assert(!p.contains("CartesianProduct"), p)
    // stats side + cover side both read the cache (each InMemoryTableScan
    // re-prints the cached relation's originating FileScan, so the scan
    // string count can't distinguish cached from re-computed — the
    // InMemoryTableScan count is the invariant)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    // the cover join's gram side is Bloom-pruned row-locally before the
    // join (native binary-search membership over the broadcast bit row)
    assert(p.contains("graft_sorted_contains"), p)
  }

  test("q158: ONE full-gram shuffle — the duplicated-gram stats aggregate " +
    "lives inside the persisted xsub_stats stage; the main plan contains " +
    "NO gram aggregate and reads the gram cache exactly once") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val lp = SparkEntry.queries("q158_exact_substring")(spark, dir)
      .queryExecution.optimizedPlan
    // r8's regression: a SECOND groupBy(gm).agg(countDistinct(id)) harvest
    // ran in the main plan on top of the stats aggregate. Now every
    // distinct-holder count lives inside the cached stage (InMemoryRelation
    // is a leaf — collect does not descend into cachedPlan), so the main
    // tree must have zero of them.
    val gramAggs = lp.collect {
      case a: Aggregate if a.aggregateExpressions.exists(
        _.toString.toLowerCase.contains("count(distinct")) => a
    }
    assert(gramAggs.isEmpty, gramAggs.mkString("\n"))
    // cache leaves: the gram stage feeds the probe ONCE; the tiny stats
    // stage is read twice (bloom build + cover join) = 3 total
    val caches = lp.collect { case r: InMemoryRelation => r }
    assert(caches.size === 3, lp.toString)
  }

  test("q169: the dedup data card rides the persisted stages (gram, " +
    "chunk, LSH) — doc-keyed joins + one rollup, no pair fan-out") {
    val p = plan("q169_dedup_card")
    assert(!p.contains("CartesianProduct"), p)
    // all three dedup inputs read caches: the gram stage (cover join
    // touches it twice more via q158's shape), the CDC chunk stage, and
    // the whole-corpus LSH fingerprint stage (both filtered sides)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4, p)
  }

  test("q169: outside the persisted stages the data card never reads " +
    "document TEXT — the only live parquet scans are metadata-only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q169_dedup_card")(spark, dir).queryExecution
    // InMemoryTableScan is a leaf in the physical tree — collect sees
    // only the MAIN plan's parquet scans; the text-reading scans all
    // live inside the cached gram/chunk/LSH stages. Column pruning must
    // have stripped `text` from every live scan.
    val fs = qe.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(fs.nonEmpty)
    assert(!fs.exists(_.output.exists(_.name == "text")),
      fs.map(_.output.map(_.name).mkString(",")).mkString("\n"))
    assert(qe.optimizedPlan.collect { case c: InMemoryRelation => c }.size >= 4)
  }

  test("q171: IVF-ADC search joins the STORED index against a broadcast " +
    "probe set — both stages cached, no cartesian, no full-vector join") {
    val p = plan("q171_ivf_adc")
    assert(!p.contains("CartesianProduct"), p)
    // pq_assigned + ivf_adc_index both ride the stage cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    // the probe-lookup side is broadcast into the index join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q174: residual IVF-PQ keeps the q171 search shape — stored index " +
    "vs broadcast probe set, stages cached, no cartesian") {
    val p = plan("q174_ivfpq_residual")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q178: the SemDeDup registry prune reads ONLY cached stages (batch " +
    "assignment three ways + exemplars) — no retraining, no corpus " +
    "rescan, no cartesian pair join") {
    val p = plan("q178_semdedup_registry")
    assert(!p.contains("CartesianProduct"), p)
    // batchA is consumed three times (refs + pair a-side + output base)
    // and the exemplar table once — all through the stage cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4, p)
    // the within-batch pair join is a cluster equi-join, never all-pairs
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q179: the nprobe curve keeps the q171 search shape — ONE scan of " +
    "the stored index against one broadcast probe-lookup carrying the " +
    "np fan-out; stages cached, no cartesian, no per-nprobe rescan") {
    val p = plan("q179_ivf_nprobe_curve")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly one join against the stored (ivf, slice, code) index —
    // the three curve points do NOT triple-scan the codes
    assert("Join.*ivf#".r.findAllIn(p).size <= 1, p)
  }

  test("q180: the slice audit rides the cached pq assignment with a " +
    "broadcast codebook join and partial integer aggregation") {
    val p = plan("q180_pq_energy_audit")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q172: the gram registry decision rides the persisted gram stage " +
    "on every side (batch grams, registry digests, stats) — no rescan, " +
    "history covered via a semi join") {
    val p = plan("q172_xsub_registry")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p)
  }

  test("q173: the rolling-gram production path stays native — the plan " +
    "carries the rolling-hash expression, not a per-position md5") {
    val p = plan("q173_xsub_rolling")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.toLowerCase.contains("graft_rolling"), p)
    assert(!p.contains("md5"), p)
  }

  test("q159: the registry decision is bucket-keyed semi/anti joins — " +
    "history is never self-joined and nothing goes cartesian") {
    val p = plan("q159_neardup_registry")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q163: span removal never explodes the corpus — the only Generate " +
    "nodes live inside the cached gram stage") {
    val p = plan("q163_substr_removal")
    assert(!p.contains("CartesianProduct"), p)
    // the reassembly is row-local: above the InMemoryTableScans there is
    // no Generate (explode); the only explodes are inside the cached
    // gram stage's InMemoryRelation rendering
    val aboveCache = p.split("InMemoryRelation").head
    assert(!aboveCache.contains("Generate"), aboveCache)
  }

  test("q162: the hilbert value is a pure projection over the scan — no " +
    "join, no exchange beyond the output sort") {
    val p = plan("q162_hilbert3")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q122: basket pairs equi-join on the basket key; frequency and " +
    "total joins broadcast") {
    val p = plan("q122_basket_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // N rides a broadcast nested loop of ONE row (the columnless count) —
    // the only BNLJ allowed here
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("q123: fuzzy match candidates come from an EQUI-join on the " +
    "variant key — never a cartesian levenshtein scan") {
    val p = plan("q123_fuzzy_match")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.toLowerCase.contains("levenshtein"), p)
  }

  test("q124: robust stats windows are PARTITIONED by the group — no " +
    "single-partition exchange; median/MAD joins broadcast") {
    val p = plan("q124_robust_stats")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q125: grid resample fill window is partitioned by the key; the " +
    "only single-partition exchange is the 1-row span aggregate") {
    val p = plan("q125_grid_resample")
    // LOCF window partitioned by user_id (never a global sort over rows)
    assert(p.contains("windowspecdefinition(user_id"), p)
    // exactly one SinglePartition exchange, and it feeds the columnless
    // span min/max (partial-then-final — 1 row per input partition)
    assert("Exchange SinglePartition".r.findAllIn(p).size === 1, p)
    assert(p.contains("partial_min(_bk") && p.contains("partial_max(_bk"), p)
    // the span rides the only broadcast nested loop (1 row × keys)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 1, p)
    // the grid joins the picked observations with a broadcast hash join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q126: prefix filter still verifies via equi-joins only") {
    val p = plan("q126_prefix_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q127: weighted sample is a narrow map + TakeOrderedAndProject") {
    val p = plan("q127_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q130: trailing features are ONE per-key window — a single hash " +
    "exchange plus the output sort") {
    val p = plan("q130_trailing_features")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q131/q132: integer-sum statistics aggregate partial-then-final") {
    val p1 = plan("q131_trend_slope")
    assert(p1.contains("partial_sum"), p1)
    val p2 = plan("q132_gini_diversity")
    assert(p2.contains("partial_sum"), p2)
    assert(!p2.contains("Exchange SinglePartition"), p2)
  }

  test("q143: sorted neighborhood joins on the rank bucket — no nested " +
    "loop; the only single-partition window is the offsets pass") {
    val p = plan("q143_sorted_neighborhood")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.toLowerCase.contains("levenshtein"), p)
  }

  test("q136: rendezvous sharding is a pure projection — no join, no " +
    "explode, only the output sort exchanges") {
    val p = plan("q136_rendezvous")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Join") && !p.contains("Generate"), p)
  }

  test("q137: phrase search scans the corpus ONCE — no per-term re-scan " +
    "and no self-join") {
    val p = plan("q137_phrase_search")
    assert("FileScan".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q138: hard negatives are one broadcast corpus pass") {
    val p = plan("q138_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("FileScan".r.findAllIn(p).size === 2, p) // queries + corpus
  }

  test("q135: χ² windows run over the CELL table after full aggregation " +
    "— the single-partition exchange moves ≤ |A|·|B| rows") {
    val p = plan("q135_chi2")
    // the only SinglePartition exchange is above the final aggregate
    val agg = p.indexOf("HashAggregate")
    val sp = p.indexOf("Exchange SinglePartition")
    assert(sp === -1 || agg === -1 || sp < agg, p)
    assert(p.contains("partial_count"), p)
  }

  test("q146: boilerplate set BROADCASTS onto the doc filter (the corpus " +
    "is never exploded back and re-grouped); three scans total, one of " +
    "them source-column-only") {
    val p = plan("q146_boilerplate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("FileScan".r.findAllIn(p).size === 3, p)
    // the per-source total pass prunes to the source column alone
    assert(p.contains("FileScan parquet [source#"), p)
    // reassembly is row-local: no grouping above the OUTER broadcast join
    val bj = p.indexOf("BroadcastHashJoin")
    assert(!p.substring(0, bj).contains("HashAggregate"), p)
  }

  test("q147: markup strip is a pure projection — no exchange beyond the " +
    "output sort, no join") {
    val p = plan("q147_markup_strip")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q149: bloom prune touches the fact side with NO exchange before " +
    "the row-local filter (broadcast bits + native binary search), and " +
    "the residual join is a broadcast semi join") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches
    // graded plan: the checkpointed prune feeds a broadcast semi join
    val p = plan("q149_bloom_prune")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the prune pipeline itself (pre-checkpoint): filter directly above
    // the broadcast of the bits row — no fact-side exchange at all
    val dim = graft.Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % 17 === 0)
      .select(col("c_custkey").cast("string").as("k"))
    val bits = Sketches.bloomBitsArray(dim, col("k"), 16384L, 3)
    val fact = graft.Tables.load(spark, dir, "orders")
      .select(col("o_custkey").cast("string").as("k"))
    val pp = Sketches.bloomPrune(fact, col("k"), bits, 16384L, 3)
      .queryExecution.executedPlan.toString
    // Catalyst folds the prune predicate INTO the broadcast join's
    // condition — the fact side below it is a bare column-pruned scan
    val bnlj = pp.indexOf("BroadcastNestedLoopJoin")
    assert(bnlj >= 0, pp)
    val joinLine = pp.substring(bnlj, pp.indexOf('\n', bnlj))
    assert(joinLine.contains("graft_sorted_contains"), pp)
    assert(!pp.substring(0, bnlj).contains("Exchange"), pp)
    assert(pp.contains("FileScan parquet [o_custkey#"), pp)
  }

  test("q153: decontamination is one broadcast corpus pass — the shuffle " +
    "carries one partially-aggregated row per vector") {
    val p = plan("q153_embed_decon")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // map-side partial max BELOW the hash exchange: the corpus×eval
    // product collapses per vector before anything moves
    assert(p.contains("partial_max"), p)
  }

  test("q154: temporal split labels with a broadcast scalar cutoff — no " +
    "data-side sort, no single-partition window over the events") {
    val p = plan("q154_temporal_split")
    // the labeling pass: events scan + broadcast cutoff + range sort out
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only window machinery ran inside globalRank (checkpointed
    // before this plan); the labeled output has no Window node at all
    assert(!p.contains("Window"), p)
  }

  test("q156: sentence stats are a pure projection — no exchange beyond " +
    "the output sort, no join") {
    val p = plan("q156_sentence_stats")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q181: the frozen-append search keeps the q171 shape — the UNION " +
    "index (history + appended codes) rides the stage cache and joins " +
    "one broadcast probe-lookup; no cartesian, no retraining in-plan") {
    val p = plan("q181_index_append")
    assert(!p.contains("CartesianProduct"), p)
    // append_index + pq_hist_assigned (codebook side) both cached
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q182: the tau curve rides the cached q166 assignment on both " +
    "pair sides — one capped cluster equi-join, row-local tau fan-out, " +
    "no per-tau re-prune, no cartesian pair join") {
    val p = plan("q182_semdedup_tau_curve")
    assert(!p.contains("CartesianProduct"), p)
    // assigned (pair a-side) + refs (b-side) both read the stage cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    // the curve fan-out is a generator over the per-vector max, and the
    // pair join runs ONCE — cosine appears in a single join, not |taus|
    assert(p.contains("Generate"), p)
    assert("graft_cosine".r.findAllIn(p).size <= 2, p)
  }

  test("q183: rank metrics keep the q171 search shape — stored index vs " +
    "broadcast probe-lookup, stages cached, integer discount sums " +
    "partially aggregated, no cartesian") {
    val p = plan("q183_ann_rank_metrics")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q184: the SQ8 scan reads the persisted quantized index with the " +
    "broadcast-query one-pass shape and a windowed top-k prefilter — " +
    "no cartesian, no raw-float corpus join") {
    val p = plan("q184_sq8_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q193: the packing card is one bin-sized aggregate over the " +
    "persisted q61 packing — no re-pack, no join, no cartesian") {
    val p = plan("q193_packing_card")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    // the greedy pack must come from the stage, not re-run: the LIVE
    // plan has no MapPartitions node (the one in the printed tree is
    // the cached stage's one-time build plan)
    import org.apache.spark.sql.execution.MapPartitionsExec
    val qe = SparkEntry.queries("q193_packing_card")(spark, dir)
      .queryExecution
    assert(qe.sparkPlan.collect { case m: MapPartitionsExec => m }.isEmpty)
  }

  /** The physical plan of `name` before AQE re-plans it. */
  private def preAqePlan(name: String)
      : org.apache.spark.sql.execution.SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan

  /** The names of a join's key columns, in key order. */
  private def keyNames(keys: Seq[org.apache.spark.sql.catalyst.expressions
      .Expression]): Seq[String] =
    keys.map(_.references.map(_.name).mkString(","))

  test("q192: the CMS curve probes ONE broadcast sketch keyed by " +
    "(width, d, bucket) for every width — sketch-sized aggregates, no " +
    "cartesian") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = plan("q192_cms_width_curve")
    assert(!p.contains("CartesianProduct"), p)
    val probes = preAqePlan("q192_cms_width_curve").collect {
      case j: BroadcastHashJoinExec
          if keyNames(j.leftKeys) == Seq("width", "d", "bucket") => j
    }
    assert(probes.size === 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("q191: the bloom curve checks every probe against ONE broadcast " +
    "table of sorted bit arrays, one row per size, with the row-local " +
    "membership filter — no cartesian") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val p = plan("q191_bloom_curve")
    assert(!p.contains("CartesianProduct"), p)
    val bitsTables = preAqePlan("q191_bloom_curve").collect {
      case j: BroadcastNestedLoopJoinExec
          if j.children.exists(_.output.exists(_.name == "bloom_bits")) => j
    }
    assert(bitsTables.size === 1, p)
    assert(p.toLowerCase.contains("graft_sorted_contains") ||
      p.contains("SortedArrayContains"), p)
  }

  test("q190: the geometry curve bands every geometry from ONE read of " +
    "the persisted signature table and joins the persisted truth pairs " +
    "— the corpus text is never rescanned, no cartesian") {
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val p = plan("q190_lsh_geometry")
    assert(!p.contains("CartesianProduct"), p)
    val sigs = PipelineQueries.stages.collectFirst {
      case ((_, d, k), df) if d == dir && k == "md5_sigs" => df
    }.getOrElse(fail("stage md5_sigs is not registered"))
    val cached = spark.asInstanceOf[classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(sigs.asInstanceOf[classic.Dataset[_]])
      .getOrElse(fail("stage md5_sigs is not cached"))
    val live = preAqePlan("q190_lsh_geometry")
    val builder = cached.cachedRepresentation.cacheBuilder
    val sigReads = live.collect {
      case m: InMemoryTableScanExec if m.relation.cacheBuilder eq builder => m
    }
    assert(sigReads.size === 1, p)
    assert(stagesRead("q190_lsh_geometry").contains("pairs"), p)
    // the LIVE plan has no parquet scan at all — InMemoryTableScan is a
    // leaf, so collect() over sparkPlan sees only the main plan's scans;
    // every documents scan lives inside a cached stage's build plan
    val scans = live.collect { case f: FileSourceScanExec => f }
    assert(scans.isEmpty, scans.mkString("\n"))
  }

  test("the five column-keyed tuning curves are each one plan: no Union " +
    "in the live plans of q190, q191, q192, q235 and q263") {
    import org.apache.spark.sql.execution.UnionExec
    Seq("q190_lsh_geometry", "q191_bloom_curve", "q192_cms_width_curve",
        "q235_rrf_k_curve", "q263_vocab_growth").foreach { name =>
      val unions = preAqePlan(name).collect { case u: UnionExec => u }
      assert(unions.isEmpty, s"$name:\n${preAqePlan(name)}")
    }
  }

  test("q152: the recall join on (qid, vec_id) is a broadcast hash join " +
    "in the plan before AQE, not a shuffle join left to AQE to convert") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val sp = preAqePlan("q152_ann_recall")
    val recall = sp.collect {
      case j: BroadcastHashJoinExec
          if keyNames(j.leftKeys) == Seq("qid", "vec_id") => j
    }
    assert(recall.size === 1, sp.toString)
  }

  test("q189: the decision card rides ONLY persisted stages — six gauge " +
    "aggregates over cached indexes, no cartesian, no new training") {
    val p = plan("q189_index_card")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 6, p)
  }

  test("q188: semantic balancing rides the cached assignment — targets " +
    "and keep probabilities are topic-sized broadcasts, membership is a " +
    "row-local hash test, no cartesian") {
    val p = plan("q188_semantic_balance")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q187: code-switching detection is a pure row-local projection — " +
    "no exchange beyond the output sort, no join, no explode") {
    val p = plan("q187_lang_mix")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
  }

  test("q186: the IVF-SQ8 search joins the STORED quantized index " +
    "against a broadcast probe set — stage cached, no cartesian, " +
    "windowed top-k prefilter") {
    val p = plan("q186_ivf_sq8")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q185: the drift gauge rides the persisted coarse assignment — a " +
    "list-count aggregate plus one broadcast one-row total join, no new " +
    "corpus or embedding scan") {
    val p = plan("q185_index_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the LIVE reads are the cached (vec_id, cluster) stage — no scan in
    // the main plan touches the embedding column (the mentions inside
    // the InMemoryRelation block are the stage's one-time build plan)
    val liveScans = "InMemoryTableScan \\[[^\\]]*\\]".r.findAllIn(p).toList
    assert(liveScans.nonEmpty && !liveScans.exists(_.contains("embedding")),
      liveScans.mkString("\n"))
  }

  test("q194: the takedown is a LEFT-ANTI join over the STORED index — " +
    "and the purge subtree in isolation (cached store + tombstone list) " +
    "contains ZERO file scans: the corpus is never reopened to delete") {
    val p = plan("q194_index_takedown")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
    // append_index, pq_hist_assigned and takedown_exact all ride the cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p)
    // structural no-corpus-rescan: purge(cached store, literal tombs)
    // must plan without any FileSourceScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import sqlImplicits._
    val idx = PipelineQueries.stage(spark, dir, "append_index")(
      sys.error("append_index must already be cached by the q194 plan"))
    val shrunk = graft.operators.Takedown.purge(idx,
      Seq(9L, 32L, 55L).toDF("vec_id"), "vec_id")
    val scans = shrunk.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty, scans.mkString("\n"))
  }

  test("q195: the registry takedown's ENTIRE live plan reads only cached " +
    "stages — tombstones derive from the registry itself, so not a " +
    "single parquet scan survives outside the one-time stage builds") {
    val df = SparkEntry.queries("q195_registry_takedown")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty, scans.mkString("\n"))
  }

  test("q196: the composed release funnel's live plan reads ONLY the " +
    "cached gate table — zero parquet scans outside the shared stage " +
    "builds, one conditional aggregate, a row-local stack unpivot") {
    val df = SparkEntry.queries("q196_release_funnel")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty, scans.mkString("\n"))
    // the funnel rows come from ONE partial+final aggregate over the
    // cache, unpivoted row-locally
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("Generate"), p)
  }

  test("q199: the takedown receipt is one aggregate per store over the " +
    "cached stores — each store read through its InMemoryTableScan, the " +
    "tombstones a broadcast hash join, no nested-loop or cartesian join") {
    assert(Set("append_codes", "append_index", "sq8_index",
      "semreg_exemplars").subsetOf(stagesRead("q199_takedown_receipt")))
    val p = livePlan("q199_takedown_receipt")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!plan("q199_takedown_receipt").contains("CartesianProduct"), p)
  }

  test("q198: the NSW search reads the STORED edge stage for its hops — " +
    "frontier joins are hash joins, candidate scoring touches only the " +
    "gathered ids, no cartesian corpus pair join") {
    val p = plan("q198_nsw_lite")
    assert(!p.contains("CartesianProduct"), p)
    // nsw_edges_ranked + ivf_coarse + exact_dot_topk ride the cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q200: the blast radius reads ONLY the cached packing manifest — " +
    "tombstones derive from it, so the entire live plan is parquet-free") {
    val df = SparkEntry.queries("q200_takedown_blast")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty, scans.mkString("\n"))
  }

  test("q201: every degree point rides the SAME ranked edge stage — the " +
    "graph is never rebuilt per point and no cartesian appears") {
    val p = plan("q201_nsw_degree_curve")
    assert(!p.contains("CartesianProduct"), p)
    // one InMemoryTableScan of the ranked edges per curve point (x2
    // hops), plus coarse/exact stages
    assert("InMemoryTableScan".r.findAllIn(p).size >= 6, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q208: the release-to-release lifecycle's live plan reads ONLY " +
    "cached stages — both eras' gates, the takedown, the admissions and " +
    "the diff all derive from persisted tables, zero corpus rescans") {
    val df = SparkEntry.queries("q208_release_lifecycle")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty, scans.mkString("\n"))
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q209: all three repair policies per rate ride cached stages — " +
    "purged and repaired are row-local passes over the ONE ranked edge " +
    "stage (no per-rate graph build), and no cartesian appears") {
    val p = plan("q209_nsw_takedown_curve")
    assert(!p.contains("CartesianProduct"), p)
    // purged + repaired per rate read the ranked stage (plus
    // coarse/exact/rebuilt stages) — many cache reads, zero rebuilds
    // outside the three explicit per-rate rebuilt stages
    assert("InMemoryTableScan".r.findAllIn(p).size >= 12, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q202: the nightly funnel's live plan reads only cached stages — " +
    "history is consulted through its registries, never rescanned") {
    val df = SparkEntry.queries("q202_incremental_funnel")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty, scans.mkString("\n"))
    assert(p.contains("partial_sum"), p)
    assert(p.contains("Generate"), p)
  }

  test("q210: both split policies and the leak join ride the cached " +
    "cc_labels/pairs stages; the label join broadcasts; the per-policy " +
    "counts aggregate map-side") {
    val p = plan("q210_split_leakage")
    assert(!p.contains("CartesianProduct"), p)
    // labels (counts side, twice via the union) + pairs (leak side)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q211: the unigram model's total is a broadcast one-row " +
    "aggregate and both aggregations are partial (the token->model " +
    "join's strategy is size-driven — broadcast at toy sf, shuffle at " +
    "scale — so it is deliberately NOT pinned here)") {
    val p = plan("q211_unigram_xent")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // one-row total only
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q212: the weight join broadcasts the tiny label table, the " +
    "corpus is scanned once, and the per-source sums are partial") {
    val p = plan("q212_soft_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
    // one live parquet scan (documents); labels ride the cached stage
    val scans = liveScans("q212_soft_dedup")
    assert(scans.size === 1, scans.mkString("\n"))
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q213: the frozen model rides the cached unigram_hist stage, its " +
    "(total,|V|) pair is one broadcast row, OOV keeps rows via a left " +
    "join, and the era filter is pushed into the batch scan") {
    val p = plan("q213_xent_frozen")
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // one-row stats only
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,250)"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q214: the merge night is one full-outer join on term over the " +
    "cached registry — history is never rescanned, the batch is counted " +
    "with map-side partials") {
    val p = plan("q214_unigram_compact")
    assert(p.contains("FullOuter"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("partial_count"), p)
    // one live parquet scan: the batch era; history is the registry
    val scans = liveScans("q214_unigram_compact")
    assert(scans.size === 1, scans.mkString("\n"))
  }

  test("q215: the hashed-feature DSIR model joins as a BROADCAST hash " +
    "join (the fixed-B feature space is the paper's scale move — no " +
    "vocab-sized shuffle reaches the scoring pass) and the bucket " +
    "counts aggregate map-side") {
    val p = plan("q215_dsir_weights")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // one-row stats/mean
    assert(p.contains("partial_sum"), p)
  }

  test("q216: both era filters are pushed into their parquet scans, " +
    "the lag windows are PARTITIONED by doc (never a global window), " +
    "and the (tot,|V|) pair is one broadcast row") {
    val p = plan("q216_bigram_lambda_curve")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "LessThan(doc_id,250)"), p)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,250)"), p)
    assert(p.contains("windowspecdefinition(id#"), p) // partitioned lag
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q217: the filter-overlap card rides the fixture_features stage " +
    "— ONE fixture computation per session (round-13: previously the " +
    "token and per-char branches each recomputed it and joined), so " +
    "the live plan is a row-local projection of the cached stage + one " +
    "aggregate: no join, no cartesian, no live corpus scan once the " +
    "stage is materialized, map-side partial sums") {
    // materialize the stage the way a session would (q97 rides it too)
    SparkEntry.queries("q97_gopher_rules")(spark, dir).count()
    val p = plan("q217_filter_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Join"), p) // the two-pass self-join is gone
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q217_filter_overlap").isEmpty, p)
  }

  test("q218: the fitted Naive-Bayes model (per-bucket log-odds) joins " +
    "as a BROADCAST hash join — the fixed-B model table is one " +
    "broadcastable side regardless of vocabulary, the same scale shape " +
    "as q215 — and the closed-form training aggregates map-side") {
    val p = plan("q218_nb_classifier")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // one-row stats/prior
    assert(p.contains("partial_sum"), p)
  }

  test("q219: BM25 postings are pruned to the query vocabulary by " +
    "BROADCAST joins before scoring, the per-query top-k is a " +
    "WindowGroupLimit (no global sort of the scored set), and tf " +
    "aggregates map-side") {
    val p = plan("q219_bm25_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q220: perceptual near-dup is banded, never all-pairs — the " +
    "cross-candidate side is a (chunk, value) grouped aggregate and the " +
    "star side an fp equi-join; the payload column is pruned away " +
    "before every exchange (only the 64-bit hash shuffles)") {
    val p = plan("q220_phash_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("MapPartitions"), p) // the typed codec path
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
    // no exchange carries the binary payload — hashes shuffle, bytes don't
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("payload")), p)
  }

  test("q221: the epoch-shuffle manifest is bin-sized and its global " +
    "positions come from the range-partition + broadcast-offset rank " +
    "construction — the only unpartitioned window is the <=parts-row " +
    "offsets pass, and the bin aggregation is map-side partial") {
    val p = plan("q221_epoch_shuffle")
    assert(!p.contains("CartesianProduct"), p)
    // globalRank materializes the range-parted bins (localCheckpoint →
    // Scan ExistingRDD) and joins the broadcast offsets back — the
    // per-partition row_number is partitioned by _pid, never global
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("windowspecdefinition(_pid"), p)
  }

  test("q223: the classifier-eval card rides the persisted nb_scores " +
    "stage (no rescoring) joined to a truth side whose held-out-era " +
    "filter is pushed into the parquet scan; the card is one " +
    "map-side-partial aggregate") {
    SparkEntry.queries("q218_nb_classifier")(spark, dir).count()
    val p = plan("q223_classifier_eval")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,250)"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q224: Kneser–Ney scoring keeps q216's shapes — era filters " +
    "pushed to the parquet scans, lag windows PARTITIONED by doc, the " +
    "(n1all, V) scalars one broadcast row, model joins vocab-sized " +
    "equi-joins (deliberately not broadcast), no cartesian") {
    val p = plan("q224_kneser_ney")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "LessThan(doc_id,250)"), p)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,250)"), p)
    assert(p.contains("windowspecdefinition(id#"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q222: the selection-agreement card reads BOTH persisted score " +
    "stages — once materialized the live plan is a doc-keyed join of " +
    "two cached tables + one aggregate, no live corpus scan, no " +
    "cartesian") {
    SparkEntry.queries("q215_dsir_weights")(spark, dir).count()
    SparkEntry.queries("q218_nb_classifier")(spark, dir).count()
    val p = plan("q222_selection_agreement")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("partial_sum"), p)
    assert(liveScans("q222_selection_agreement").isEmpty, p)
  }

  test("q225: the DoReMi step rides BOTH persisted score stages — the " +
    "only live scan is the documents source-column projection (filter " +
    "pushed), the aggregation is map-side partial, and the two " +
    "normalizers are window sums over the domain-sized grouped table " +
    "(ONE plan subtree — a scalar crossJoin would re-plan the corpus " +
    "branch per normalizer), no cartesian") {
    SparkEntry.queries("q213_xent_frozen")(spark, dir).count()
    SparkEntry.queries("q224_kneser_ney")(spark, dir).count()
    val p = plan("q225_doremi_step")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("partial_sum"), p)
    val live = liveScans("q225_doremi_step")
    assert(live.size === 1, live)
    assert(live.head.contains("documents"), live)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,250)"), p)
  }

  test("q227: the decon-agreement card rides the persisted decon_flags " +
    "stage for its lexical side, the semantic side is the one " +
    "broadcast max-cosine pass the gate costs anyway (the only " +
    "non-equi join is the documented probe x eval broadcast), and the " +
    "benchmark-era filters reach the scans — no cartesian") {
    SparkEntry.queries("q82_decontamination")(spark, dir).count()
    val p = plan("q227_decon_agreement")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("PushedFilters"), p)
  }

  test("q226: the calibration card ranks through equalFreqBins' " +
    "range-partition construction (localCheckpoint -> Scan ExistingRDD; " +
    "the per-partition row_number is partitioned by _pid, never " +
    "global), the bin total is a broadcast one-row side, no cartesian") {
    SparkEntry.queries("q218_nb_classifier")(spark, dir).count()
    val p = plan("q226_calibration_card")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("windowspecdefinition(_pid"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q228: the hybrid fusion's lexical side prunes postings to the " +
    "query vocabulary by BROADCAST before df counting, the dense side " +
    "is the one broadcast corpus scan, every per-query top-k is a " +
    "WindowGroupLimit (never a global sort), and the fusion shuffles " +
    "only list-sized rows — no cartesian") {
    val p = plan("q228_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // dense qxcorpus scan
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q229: the bucket card rides the persisted uni_scores stage — " +
    "the only live scan is the documents (doc_id, lang) projection " +
    "read ONCE, and the CDF, cuts, buckets and card all live on the " +
    "bounded (group, xent) grouped table with group-partitioned " +
    "windows (never an empty-partition data window, never a re-joined " +
    "score pass) — no cartesian") {
    SparkEntry.queries("q213_xent_frozen")(spark, dir).count()
    val p = plan("q229_perplexity_buckets")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    val live = liveScans("q229_perplexity_buckets")
    assert(live.size === 1 && live.head.contains("documents"), live)
    assert(p.contains("windowspecdefinition(_grp"), p)
  }

  test("q230: the threshold curve rides the persisted nb_scores stage " +
    "with NO live scan at all — one broadcast stats row, all deltas " +
    "priced in a single partial-then-final aggregate pass, the grid " +
    "unpivoted afterward — no cartesian beyond the documented one-row " +
    "broadcast") {
    SparkEntry.queries("q218_nb_classifier")(spark, dir).count()
    val p = plan("q230_selection_threshold_curve")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q230_selection_threshold_curve").isEmpty, p)
    assert(p.contains("partial_count"), p)
    // exactly one GRID unpivot generate (the cached stage's own plan
    // rendering contains its tokenize explodes — not this query's cost)
    assert("Generate explode\\(array\\(struct\\(delta".r
      .findAllIn(p).size === 1, p)
  }

  test("q219/q228 ride the shared term_tf postings stage: once it is " +
    "warm, q219 has ZERO live scans (fixture queries) and q228's only " +
    "live reads are the eval-query and dense-side projections — the " +
    "corpus text is tokenized once per session, not once per retrieval " +
    "query") {
    SparkEntry.queries("q219_bm25_topk")(spark, dir).count()
    assert(liveScans("q219_bm25_topk").isEmpty)
    // the round-14 dl fold: warm BM25 reads document lengths from the
    // persisted doc_len sibling stage instead of re-aggregating the
    // postings per call — the LIVE plan (cached stage builds are leaves)
    // must carry NO id-keyed aggregate (the scoring aggregate is
    // (qid, id)-keyed; the stats row is key-free; a bare [id]
    // HashAggregate would be the dl rebuild)
    locally {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      def walk(p: SparkPlan): Seq[HashAggregateExec] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _: InMemoryTableScanExec => Seq.empty
        case h: HashAggregateExec => Seq(h) ++ h.children.flatMap(walk)
        case other => other.children.flatMap(walk)
      }
      val aggs = walk(SparkEntry.queries("q219_bm25_topk")(spark, dir)
        .queryExecution.executedPlan)
      assert(aggs.forall(h => h.groupingExpressions.map(_.name) !=
        Seq("id")), aggs.map(_.groupingExpressions.map(_.name)))
    }
    // every live text read in q228 carries the eval-set filter — the
    // corpus-wide text (the expensive side) comes from the stage
    val live = liveScans("q228_hybrid_rrf")
    assert(live.forall(s =>
      !s.contains("ReadSchema: struct<doc_id:bigint,text") ||
        s.contains("% 97) = 0)")), live)
  }

  test("q236: the mix manifest is a pure stage/checkpoint-rider — ZERO " +
    "live parquet scans (the corpus is read only by the persisted " +
    "doc_source_tokens/mix_sample stages), no cartesian beyond the " +
    "broadcast one-row card/digest attachments") {
    SparkEntry.queries("q236_mix_manifest")(spark, dir).count()
    assert(liveScans("q236_mix_manifest").isEmpty)
    val p = plan("q236_mix_manifest")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q237: the postings lifecycle serves BM25 entirely from persisted " +
    "stages — ZERO live scans once warm (registry provenance rides " +
    "doc_source_tokens, postings/dl ride term_tf/doc_len), compaction's " +
    "tombstone anti-join and the live-doc semi-joins are broadcast, and " +
    "the top-k is a WindowGroupLimit") {
    SparkEntry.queries("q237_postings_lifecycle")(spark, dir).count()
    assert(liveScans("q237_postings_lifecycle").isEmpty)
    val p = plan("q237_postings_lifecycle")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q238: the rejection ledger is a pure projection of the persisted " +
    "release-gate table — zero live scans, zero joins, zero aggregates; " +
    "the per-doc governance answer costs nothing beyond the funnel") {
    SparkEntry.queries("q196_release_funnel")(spark, dir).count()
    assert(liveScans("q238_rejection_ledger").isEmpty)
    // the LIVE plan (the cached gate table is a leaf) must be nothing
    // but projection + the output sort — no join, no aggregate
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _: InMemoryTableScanExec => Seq("InMemoryTableScan")
      case other => other.nodeName +: other.children.flatMap(nodes)
    }
    val ns = nodes(SparkEntry.queries("q238_rejection_ledger")(spark, dir)
      .queryExecution.executedPlan)
    assert(ns.contains("InMemoryTableScan"), ns)
    assert(!ns.exists(n => n.contains("Join") || n.contains("Aggregate")),
      ns)
  }

  test("q239: the cross-modal card rides the persisted phash_pairs and " +
    "semdedup_assign stages — the only live read is the embeddings " +
    "universe projection (no payload, no text), the perceptual drop set " +
    "is broadcast, no cartesian") {
    SparkEntry.queries("q220_phash_neardup")(spark, dir).count()
    SparkEntry.queries("q94_semdedup")(spark, dir).count()
    val live = liveScans("q239_modal_agreement")
    assert(live.forall(s => s.contains("embeddings") &&
      !s.contains("embedding:")), live)
    val p = plan("q239_modal_agreement")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q240: the score-store takedown receipt rides the four persisted " +
    "score stages and the doc_source_tokens tombstone source — zero " +
    "live scans once warm, every purge a broadcast hash join") {
    SparkEntry.queries("q215_dsir_weights")(spark, dir).count()
    SparkEntry.queries("q224_kneser_ney")(spark, dir).count()
    SparkEntry.queries("q218_nb_classifier")(spark, dir).count()
    SparkEntry.queries("q213_xent_frozen")(spark, dir).count()
    SparkEntry.queries("q236_mix_manifest")(spark, dir).count()
    assert(liveScans("q240_score_takedown").isEmpty)
    assert(Set("dsir_scores", "kn_scores", "nb_scores", "uni_scores")
      .subsetOf(stagesRead("q240_score_takedown")))
    val p = livePlan("q240_score_takedown")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!plan("q240_score_takedown").contains("CartesianProduct"), p)
  }

  test("q241: the incremental re-pack touches only the blast radius — " +
    "zero live scans (rides the persisted q61 packing), dirty-bin set " +
    "and offsets broadcast, the greedy's shuffle keyed by shard") {
    SparkEntry.queries("q61_token_packing")(spark, dir).count()
    assert(liveScans("q241_incremental_repack").isEmpty)
    val p = plan("q241_incremental_repack")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("MapPartitions"), p) // the per-shard greedy
  }

  test("q242: the postings ops card is one broadcast flag join + one " +
    "aggregate over the persisted postings/provenance stages — zero " +
    "live scans warm, partial aggregation map-side") {
    SparkEntry.queries("q219_bm25_topk")(spark, dir).count()
    SparkEntry.queries("q236_mix_manifest")(spark, dir).count()
    assert(liveScans("q242_postings_ops").isEmpty)
    val p = plan("q242_postings_ops")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q234: the macro/micro card rides BOTH persisted score stages — " +
    "the only live reads are the two (doc_id, source) projections " +
    "(one per union branch), never the corpus text, no cartesian") {
    SparkEntry.queries("q213_xent_frozen")(spark, dir).count()
    SparkEntry.queries("q224_kneser_ney")(spark, dir).count()
    val p = plan("q234_macro_micro_xent")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    val live = liveScans("q234_macro_micro_xent")
    assert(live.size === 2 && live.forall(_.contains("documents")), live)
    assert(live.forall(!_.contains("text")),
      "the corpus text must come from the stages")
  }

  test("q232: the UniMax waterfill rides the persisted source_tokens " +
    "stage (which itself rides doc_features and folds the documents " +
    "source join) — ZERO live scans once the stage is warm, and every " +
    "waterfill window runs over the 20-row domain table (the " +
    "mixture-family idiom) — no cartesian") {
    val p = plan("q232_unimax_allocation")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q232_unimax_allocation").isEmpty, p)
  }

  test("q231: the eval-severity card broadcasts the bench grams and " +
    "streams the corpus shingle scan once (windows partitioned by " +
    "doc), items with zero hits survive the LEFT join — no cartesian, " +
    "no corpus self-join") {
    val p = plan("q231_eval_contamination")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("windowspecdefinition(id#"), p)
    assert(p.contains("LeftOuter") || p.contains("BuildRight"), p)
    assert(p.contains("PushedFilters"), p)
  }

  test("q243: the rebalance night re-ranks the persisted per-doc " +
    "manifest — zero live scans (NO re-tokenization), the k-row " +
    "allocations broadcast, no cartesian") {
    val p = plan("q243_mix_rebalance")
    assert(!p.contains("CartesianProduct"), p)
    // the k-row card is checkpointed once (rows + total both read it),
    // so the served plan's leaves are ExistingRDD — and critically no
    // live parquet scan anywhere (the night never re-tokenizes)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(liveScans("q243_mix_rebalance").isEmpty, p)
  }

  test("q244: the release-mix capstone rides release_gates + " +
    "doc_source_tokens — zero live scans warm; the packing input and " +
    "realization are checkpointed once each (Scan ExistingRDD leaves)") {
    val p = plan("q244_release_mix")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(liveScans("q244_release_mix").isEmpty, p)
  }

  test("q251: the shared over-fetched candidate list is a checkpointed " +
    "leaf reused by every filter point, and every quantizer — shared " +
    "and per-partition — is served FROZEN from the persisted " +
    "ivf_part_centroids stage: ZERO quantizer training in the warm " +
    "plan (no posexplode centroid build) — no cartesian, " +
    "WindowGroupLimit top-k") {
    val p = plan("q251_partitioned_ann")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    val lp = livePlan("q251_partitioned_ann")
    assert(!lp.contains("posexplode"),
      "quantizer training must NOT appear in the warm plan — the " +
        "frozen stage serves it:\n" + lp)
    assert(lp.contains("InMemoryTableScan"), lp)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q255: the lifecycle nights probe the persisted hist-trained " +
    "quantizer stage — zero quantizer training warm (no posexplode), " +
    "append is a union of list rows and takedown a filter, no " +
    "cartesian beyond the broadcast query/centroid products") {
    val p = plan("q255_part_index_nights")
    assert(!p.contains("CartesianProduct"), p)
    val lp = livePlan("q255_part_index_nights")
    assert(!lp.contains("posexplode"),
      "the nights must serve the frozen artifact, never retrain:\n" + lp)
    assert(lp.contains("InMemoryTableScan"), lp)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q252: both metering packings and their cross evaluations read " +
    "the one checkpointed (doc, w_ws, w_bpe) manifest — zero live " +
    "scans warm (the text is never re-encoded), no cartesian") {
    val p = plan("q252_bpe_packing")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(liveScans("q252_bpe_packing").isEmpty, p)
  }

  test("q254: the BPE re-metered capstone rides release_mix_sample + " +
    "bpe_tokens — zero live scans warm (the text is never re-encoded); " +
    "both packings and both bin evaluations read the one checkpointed " +
    "two-unit instance table, no cartesian") {
    val p = plan("q254_release_bpe_pack")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(liveScans("q254_release_bpe_pack").isEmpty, p)
  }

  test("q253: the curriculum order rides mix_packed + nb_scores — " +
    "zero live scans warm, globalRank's range partition (no " +
    "single-partition window over the bins), no cartesian") {
    val p = plan("q253_curriculum_order")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q253_curriculum_order").isEmpty, p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("q256: the composed schedule rides the persisted per-doc / " +
    "source-token / feature / score stages — zero live scans warm; " +
    "the decile cut uses globalRank's range partition, no cartesian " +
    "beyond the broadcast one-row budgets and bin count") {
    val p = plan("q256_training_schedule")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q256_training_schedule").isEmpty, p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("q271: the BPE-metered schedule rides the persisted " +
    "doc_bpe_tokens / doc_source_tokens / feature / score stages and " +
    "its checkpointed instance tables — zero live scans warm, decile " +
    "cut range-partitioned, no cartesian beyond the broadcast one-row " +
    "budgets and bin count") {
    val p = plan("q271_bpe_schedule")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q271_bpe_schedule").isEmpty, p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("q272: the quality-bar curve's ten threshold rows ride the " +
    "checkpointed decile pool and exposure tables — zero live scans " +
    "warm, every curve-row aggregate a broadcast one-row join, no " +
    "cartesian beyond those broadcasts") {
    val p = plan("q272_anneal_quality_bar")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q272_anneal_quality_bar").isEmpty, p)
  }

  test("q250: the governance-shift card is two k-row projections of " +
    "the persisted realizations — zero live scans warm, broadcast " +
    "share totals, no cartesian") {
    val p = plan("q250_governance_shift")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q250_governance_shift").isEmpty, p)
  }

  test("q246: the length-curve's four greedy passes all read the one " +
    "persisted per-doc manifest — zero live scans warm, no cartesian " +
    "(the truncation scalars are broadcast single rows)") {
    val p = plan("q246_packing_length_curve")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q246_packing_length_curve").isEmpty, p)
  }

  test("q247: the bin QA rides the persisted mix_packed and " +
    "doc_source_tokens stages — zero live scans warm, partial " +
    "aggregation before each exchange, no cartesian") {
    val p = plan("q247_shard_qa")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q247_shard_qa").isEmpty, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q249: four waterfills ride the one persisted source_tokens " +
    "stage — zero live scans warm, every window over the 20-row domain " +
    "table, no cartesian") {
    val p = plan("q249_epoch_cap_curve")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q249_epoch_cap_curve").isEmpty, p)
  }

  test("the Mixture grids are single grouped plans: no Union in the " +
    "live plans of q204 (alpha grid) and q249 (cap grid), nor in the " +
    "build plans of the ten-threshold anneal stages behind q272 and " +
    "q279 (threshold grid)") {
    Seq("q204_temperature_curve", "q249_epoch_cap_curve").foreach { q =>
      val p = livePlan(q)
      assert(!p.contains("Union"), s"$q:\n$p")
    }
    SparkEntry.queries("q272_anneal_quality_bar")(spark, dir)
    SparkEntry.queries("q279_anneal_quality_bar_bpe")(spark, dir)
    Seq("anneal_bar_realized", "anneal_bar_realized_bpe").foreach { key =>
      val p = stageBuildPlan(key)
      assert(!p.contains("Union"), s"$key:\n$p")
    }
  }

  test("the per-predicate quantizer stages are single keyed plans: no " +
    "Union in the build plans of ivf_part_centroids (q251) and " +
    "ivf_part_hist_centroids (q255)") {
    Seq("q251_partitioned_ann" -> "ivf_part_centroids",
      "q255_part_index_nights" -> "ivf_part_hist_centroids").foreach {
      case (q, key) =>
        SparkEntry.queries(q)(spark, dir)
        val p = stageBuildPlan(key)
        assert(!p.contains("Union"), s"$key:\n$p")
    }
  }

  test("the filtered-search cards are single keyed plans: no Union in " +
    "the live plans of q245, q251 and q255") {
    Seq("q245_filtered_ann", "q251_partitioned_ann",
      "q255_part_index_nights").foreach { q =>
      val p = livePlan(q)
      assert(!p.contains("Union"), s"$q:\n$p")
    }
  }

  test("q248: both phase waterfills and the quality pool ride persisted " +
    "stages (source_tokens / doc_source_tokens / doc_features) — zero " +
    "live scans warm; the explicit budgets are broadcast scalar rows, " +
    "no cartesian") {
    val p = plan("q248_anneal_schedule")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q248_anneal_schedule").isEmpty, p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("q245: the over-fetched IVF candidate list is materialized ONCE " +
    "(a checkpointed leaf — the centroid build never re-plans per " +
    "filter point), every per-filter re-rank is a WindowGroupLimit " +
    "top-k over that list, and the exact sides are broadcast one-pass " +
    "scans — no cartesian") {
    val p = plan("q245_filtered_ann")
    assert(!p.contains("CartesianProduct"), p)
    // the shared candidate list: localCheckpoint leaves, not a
    // re-planned IVF chain (labelCentroids' posexplode would show up)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("posexplode"),
      "the IVF probe pass must not be re-planned per filter")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q257: both packing-discipline cards ride the one persisted q61 " +
    "packing — zero live scans warm, the stream layout's cumsum window " +
    "is PARTITIONED by shard (no single-partition window over the " +
    "corpus manifest), no cartesian") {
    val p = plan("q257_stream_packing")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q257_stream_packing").isEmpty, p)
    assert(p.contains("hashpartitioning(shard"),
      "the stream cumsum must shuffle by shard, not globally:\n" + p)
  }

  test("q258: the loader-shard checksums ride the persisted packing " +
    "through the epoch order's range-partitioned rank — zero live " +
    "scans warm, the XOR fingerprints partially aggregate map-side, " +
    "the row count is a broadcast single row (no cartesian)") {
    val p = plan("q258_shard_checksums")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q258_shard_checksums").isEmpty, p)
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("partial_bit_xor"),
      "the order fingerprint must combine map-side:\n" + p)
  }

  test("q259: the shuffle-QA card rides the persisted packing + " +
    "doc_source_tokens stages — zero live scans warm; adjacency is a " +
    "pos-keyed equi-join (no single-partition window over the epoch), " +
    "no cartesian beyond the broadcast one-row aggregates") {
    val p = plan("q259_shuffle_qa")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q259_shuffle_qa").isEmpty, p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q260: the batching card is one projection + one 5-group " +
    "aggregate over the persisted bpe_tokens stage — zero live scans " +
    "warm (the corpus is never re-encoded), partial aggregation " +
    "map-side, no cartesian") {
    val p = plan("q260_batch_buckets")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q260_batch_buckets").isEmpty, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q262: the invalidation card rides the persisted packing — zero " +
    "live scans warm; the repair greedy runs only over the blast " +
    "radius (the q241 shape), both fingerprint passes aggregate " +
    "map-side, part boundaries come from a broadcast one-row count") {
    val p = plan("q262_shard_invalidation")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q262_shard_invalidation").isEmpty, p)
    assert(p.contains("partial_bit_xor"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q263: one corpus tokenize pass — the curve points read the " +
    "checkpointed (term, bucket, count) table and the tiny histograms, " +
    "never the corpus (five filters over checkpointed leaves)") {
    val p = plan("q263_vocab_growth")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(liveScans("q263_vocab_growth").isEmpty,
      "the corpus must be tokenized once, at checkpoint time:\n" + p)
  }

  test("q264: both phase realizations ride the persisted per-doc / " +
    "source / feature stages — zero live scans warm, the exposure is " +
    "one doc-keyed join + one histogram aggregate, no cartesian " +
    "beyond the broadcast one-row budgets") {
    val p = plan("q264_anneal_exposure")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q264_anneal_exposure").isEmpty, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q265: the fertility night is one join of two persisted stages " +
    "+ one source-keyed aggregate — zero live scans warm (the corpus " +
    "is never re-encoded), no cartesian") {
    val p = plan("q265_fertility_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q265_fertility_drift").isEmpty, p)
  }

  test("q266: the shard-count curve's four greedy passes all read the " +
    "one persisted per-doc manifest — zero live scans warm, no " +
    "cartesian (the q246 audit with the other dial)") {
    val p = plan("q266_shard_curve")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(liveScans("q266_shard_curve").isEmpty, p)
  }

  test("q267: the eval draw rides the persisted per-doc stage — zero " +
    "live scans warm; the seat allocation is domain-sized, the " +
    "broadcast allocation joins onto ONE source-partitioned window " +
    "(no global sort), no cartesian") {
    val p = plan("q267_eval_draw")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q267_eval_draw").isEmpty, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(source"),
      "the draw window must partition by source:\n" + p)
  }

  test("q268: the confusion card is ONE corpus projection (the q23 " +
    "langid expressions, pushed column set) + a matrix-sized window — " +
    "partial aggregation map-side, no join, no cartesian") {
    val p = plan("q268_langid_confusion")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q273: the misrouting card is the q268 projection + ONE " +
    "doc-keyed join to the persisted token counts — zero live scans " +
    "beyond the single documents projection, matrix-sized windows, " +
    "no cartesian") {
    val p = plan("q273_langid_misrouting")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q273_langid_misrouting").length <= 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("q274: the priority-keep card rides the persisted cc_labels + " +
    "doc_source_tokens stages — zero live scans warm; the priority " +
    "table broadcasts, both survivor rules are label-table windows, " +
    "no cartesian") {
    val p = plan("q274_priority_keep")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q274_priority_keep").isEmpty, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q278: the tuned anneal's threshold choice, curve, baseline " +
    "and tuned realization all ride the checkpointed decile pool — " +
    "zero live scans warm, the one-row threshold broadcast, no " +
    "cartesian beyond those broadcasts") {
    val p = plan("q278_tuned_anneal")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q278_tuned_anneal").isEmpty, p)
  }

  test("q279: the BPE quality-bar curve rides the persisted BPE decile " +
    "pool and ten-threshold realization — zero live scans warm, every " +
    "curve-row aggregate a broadcast one-row join, no cartesian beyond " +
    "those broadcasts") {
    val p = plan("q279_anneal_quality_bar_bpe")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q279_anneal_quality_bar_bpe").isEmpty, p)
  }

  test("q280: the BPE tuned anneal's threshold choice, curve, baseline " +
    "and tuned realization all ride the persisted BPE anneal stages — " +
    "zero live scans warm, the one-row threshold broadcast, no " +
    "cartesian beyond those broadcasts") {
    val p = plan("q280_tuned_anneal_bpe")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q280_tuned_anneal_bpe").isEmpty, p)
  }

  test("q275: the priority-impact ledger rides the persisted " +
    "cc_labels + doc_source_tokens stages and its checkpointed " +
    "member/group tables — zero live scans warm, no cartesian") {
    val p = plan("q275_priority_impact")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q275_priority_impact").isEmpty, p)
  }

  test("q276: the unit-distortion card is two domain-sized waterfills " +
    "over the persisted source_tokens / doc_bpe_tokens stages — zero " +
    "live scans warm, broadcast one-row budgets, no cartesian") {
    val p = plan("q276_share_distortion")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q276_share_distortion").isEmpty, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q277: the misrouting-allocation card is one checkpointed " +
    "corpus projection + two domain-sized waterfills — zero live " +
    "scans warm, no cartesian beyond the broadcast budget") {
    val p = plan("q277_misrouting_allocation")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q277_misrouting_allocation").isEmpty, p)
  }

  test("q282: the priority funnel rides the persisted release_gates / " +
    "cc_labels / doc_source_tokens stages and its checkpointed ledger " +
    "rows — zero live scans warm, no cartesian (the broadcast priority " +
    "join sits behind the ledger checkpoint, as q275's member tables " +
    "do)") {
    val p = plan("q282_priority_funnel")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q282_priority_funnel").isEmpty, p)
  }

  test("q283: the split-calibrated correction is one checkpointed " +
    "projection split two ways + a broadcast matrix correction + three " +
    "domain-sized waterfills — zero live scans warm, no cartesian " +
    "beyond the broadcast budget") {
    val p = plan("q283_split_corrected_allocation")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q283_split_corrected_allocation").isEmpty, p)
  }

  test("q284: the priority mix shift rides the checkpointed priority " +
    "gate table + two domain-sized waterfills — zero live scans warm, " +
    "broadcast share totals, no cartesian beyond those broadcasts") {
    val p = plan("q284_priority_mix_shift")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q284_priority_mix_shift").isEmpty, p)
  }

  test("q281: the corrected-allocation card is the same checkpointed " +
    "projection + a broadcast matrix-sized correction + three " +
    "domain-sized waterfills — zero live scans warm, the matrix and " +
    "column sums broadcast, no cartesian beyond the broadcast budget") {
    val p = plan("q281_corrected_allocation")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q281_corrected_allocation").isEmpty, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q269: the source matrix rides the persisted pairs + " +
    "doc_source_tokens stages — zero live scans warm; two id-keyed " +
    "lookups onto the pair list, the share window runs on the " +
    "matrix-sized aggregate, no cartesian") {
    val p = plan("q269_dup_source_matrix")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q269_dup_source_matrix").isEmpty, p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q270: both anneal variants ride the persisted per-doc / " +
    "feature stages — zero live scans warm; the rank-prefixed window " +
    "still partitions by source (no global sort), no cartesian beyond " +
    "the broadcast one-row budgets") {
    val p = plan("q270_fresh_anneal")
    assert(!p.contains("CartesianProduct"), p)
    assert(liveScans("q270_fresh_anneal").isEmpty, p)
    assert(p.contains("hashpartitioning(source"),
      "the realization windows must partition by source:\n" + p)
  }

  test("q261: the leave-one-out card is domain-sized end to end — the " +
    "k-squared pairs come from broadcasting the k-row domain stage " +
    "against itself, every window partitions by the dropped source, " +
    "zero live scans warm") {
    val p = plan("q261_mix_sensitivity")
    assert(liveScans("q261_mix_sensitivity").isEmpty, p)
    assert(p.contains("hashpartitioning(dropped"),
      "the waterfill windows must partition by dropped:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }
}
