package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sequence packing for training-data batching: assign each document to a
  * bin so no bin's total weight (token count) exceeds `budget` — the step
  * that turns a cleaned corpus into fixed-budget training sequences.
  *
  * Greedy packing is inherently sequential (each decision depends on the
  * running bin fill), so it cannot be a pure relational plan. The scale
  * shape: shard the corpus by a deterministic hash of the id (shards are
  * independent → embarrassingly parallel), hash-partition by shard and
  * sort WITHIN partitions by (shard, id) — Spark's external sort, which
  * spills — then run the sequential greedy as a pure streaming pass over
  * each partition's iterator. No shard is ever materialized in memory:
  * the greedy state is three scalars, so a shard larger than executor
  * memory still packs (the sort spills; the scan streams). Shard count
  * controls the parallelism/packing-quality trade: more shards = more
  * parallel + marginally more slack in the last bin of each shard.
  *
  * Deterministic: shard = md5-based hash of the id's string form (stable
  * across runs/partitionings), in-shard order = the id's natural order
  * (its original type — a string id sorts lexicographically). An
  * over-budget single document gets its own bin (never dropped, never
  * split — splitting is [[graft.functions.TextAnalysis.chunks]]'s job
  * upstream).
  */
object Packing {

  /** @return (id, weight, shard, bin) — bin is per-shard, 0-based; `id`
    * keeps its original type. A NULL/non-numeric weight fails fast with a
    * clear message (silently casting would corrupt the packing). */
  def packGreedy(df: DataFrame, idCol: String, weightCol: String,
      budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0)
    val keyed = df.select(col(idCol).as("id"),
      col(weightCol).cast("long").as("w"),
      Sampling.hashBucket(col(idCol).cast("string"), shards).as("shard"))
    val arranged = keyed
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
    val outSchema = arranged.schema.add("bin", LongType, nullable = false)
    arranged.mapPartitions { rows =>
      var curShard = -1L // hashBucket is in [0, shards), so -1 never collides
      var bin = 0L
      var fill = 0L
      rows.map { r =>
        if (r.isNullAt(1))
          throw new IllegalArgumentException(
            s"packGreedy: weight '$weightCol' is NULL or non-numeric for id ${r.get(0)}")
        val shard = r.getLong(2)
        if (shard != curShard) { curShard = shard; bin = 0L; fill = 0L }
        val w = r.getLong(1)
        if (fill > 0 && fill + w > budget) { bin += 1; fill = 0L }
        fill += w
        Row(r.get(0), w, shard, bin)
      }
    }(Encoders.row(outSchema))
  }

  /** Seeded EPOCH SHUFFLE — the deterministic training order that hands
    * a stored packing's bins to a trainer reproducibly: rank bins by
    * `md5(seed:shard:bin)` (tiebreak (shard, bin) — total order), one
    * permutation per seed, so epoch N's order is a pure function of
    * (packing, N) and any engine, any partitioning, any restart
    * re-derives the identical sequence — the same md5 discipline as
    * [[Sampling.hashBucket]]. Docs inside a bin keep their pack order;
    * the shuffle permutes whole bins (sequence assembly happened at
    * packing time and is not re-randomized).
    *
    * Scale shapes: the manifest is BIN-sized (corpus tokens / budget
    * rows), aggregated from the packing with one map-side-combinable
    * groupBy; the global position comes from [[Ranking.globalRank]]'s
    * range-partition + broadcast-offset construction — NO
    * single-partition window even when bins number in the billions. To
    * hand the order to a trainer as files, range-partition the result
    * on `pos` and write ([[Layout.clusteredWrite]] — each file then
    * covers a disjoint contiguous slice of the epoch, which is exactly
    * a data-loader shard; PackingSpec pins the file-range property).
    *
    * @return (pos, shard, bin, n_docs, n_tokens, order_key) — pos is
    *         1-based and unique; order_key the md5 hex the order is
    *         defined by */
  def epochShuffle(packed: DataFrame, seed: Long,
      parts: Int = 32): DataFrame = {
    val bins = packed.groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_tokens"))
      .withColumn("order_key",
        md5(concat_ws(":", lit(seed), col("shard"), col("bin"))
          .cast("binary")))
    Ranking.globalRank(bins,
        Seq(col("order_key"), col("shard"), col("bin")), parts)
      .select(col("rank").as("pos"), col("shard"), col("bin"),
        col("n_docs"), col("n_tokens"), col("order_key"))
  }

  /** The packing-efficiency CARD — the padding-waste accounting a
    * training-data batch actually reports (every unfilled token slot in
    * a fixed-length training sequence is wasted compute): bins, docs,
    * packed tokens, nominal capacity, the summed per-bin waste
    * `max(0, budget − fill)`, the global fill rate, the hottest bin and
    * the over-budget bin count (legal only for single over-budget
    * docs — [[packStats]]' invariant, PackingSpec pins it). All columns
    * are exact integers except the one fill-rate division; the input is
    * a (persisted) [[packGreedy]] table, so the card costs one
    * bin-sized aggregate.
    * @return one row: (n_bins, n_docs, total_tokens, capacity,
    *         sum_waste, max_fill, n_overbudget, fill_rate) */
  def packCard(packed: DataFrame, budget: Long): DataFrame =
    packed.groupBy(col("shard"), col("bin"))
      .agg(sum(col("w")).as("fill"), count(lit(1)).as("docs"))
      .agg(count(lit(1)).as("n_bins"),
        coalesce(sum(col("docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("fill")), lit(0L)).as("total_tokens"),
        (count(lit(1)) * budget).as("capacity"),
        coalesce(sum(when(col("fill") < budget, lit(budget) - col("fill"))
          .otherwise(0L)), lit(0L)).as("sum_waste"),
        coalesce(max(col("fill")), lit(0L)).as("max_fill"),
        coalesce(sum(when(col("fill") > budget, 1L).otherwise(0L)),
          lit(0L)).as("n_overbudget"))
      // empty-packing guard: zero capacity reads as zero fill, not null
      .withColumn("fill_rate",
        Stats.guardedRatio(col("total_tokens"), col("capacity")))

  /** Takedown BLAST RADIUS over a stored packing — when a tombstone set
    * arrives, the packed training batches containing condemned docs are
    * DIRTY and must be reassembled (a fixed-length sequence with a hole
    * is not servable); everything else ships untouched. One row:
    * total/dirty bin counts, the condemned docs and token mass, the
    * innocent docs/tokens that need re-packing because they share a bin
    * with a condemned doc, and the dirty fraction — the number that
    * decides whether the night re-packs incrementally (small radius) or
    * rebuilds the snapshot (radius ≈ 1).
    *
    * Scale shape: one semi-join of the packed table against the
    * (broadcast) tombstones to mark dirty bins, one bin-keyed
    * aggregate, one bin-count-sized reduction — the corpus text is
    * never touched, only the (id, w, shard, bin) manifest. */
  def takedownBlastRadius(packed: DataFrame, tombstones: DataFrame,
      idCol: String): DataFrame = {
    val tomb = tombstones.select(col(idCol).as("id")).distinct()
      .withColumn("__t", lit(true))
    val flagged = packed.join(broadcast(tomb), Seq("id"), "left")
      .select(col("id"), col("w"), col("shard"), col("bin"),
        coalesce(col("__t"), lit(false)).as("__t"))
    val bins = flagged.groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("docs"), sum(col("w")).as("fill"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("n_tomb"),
        sum(when(col("__t"), col("w")).otherwise(0L)).as("w_tomb"))
    bins.agg(count(lit(1)).as("n_bins"),
        coalesce(sum(when(col("n_tomb") > 0, 1L).otherwise(0L)), lit(0L))
          .as("n_dirty_bins"),
        coalesce(sum(col("n_tomb")), lit(0L)).as("n_docs_dropped"),
        coalesce(sum(col("w_tomb")), lit(0L)).as("tokens_dropped"),
        coalesce(sum(when(col("n_tomb") > 0, col("docs") - col("n_tomb"))
          .otherwise(0L)), lit(0L)).as("n_docs_repack"),
        coalesce(sum(when(col("n_tomb") > 0, col("fill") - col("w_tomb"))
          .otherwise(0L)), lit(0L)).as("tokens_repack"))
      .select(col("n_bins"), col("n_dirty_bins"), col("n_docs_dropped"),
        col("tokens_dropped"), col("n_docs_repack"), col("tokens_repack"),
        // empty-manifest guard: no bins means nothing is dirty, not null
        Stats.guardedRatio(col("n_dirty_bins"), col("n_bins"))
          .as("dirty_frac"))
  }

  /** INCREMENTAL RE-PACK — the night that follows
    * [[takedownBlastRadius]]'s verdict when the radius is small: bins
    * containing a condemned doc are DIRTY (a fixed-length training
    * sequence with a hole is not servable); every clean bin ships
    * UNTOUCHED (byte-identical (shard, bin) assignment — the artifact a
    * trainer already downloaded stays valid), the condemned docs are
    * dropped, and the dirty bins' INNOCENT docs are re-packed by the
    * same per-shard greedy into FRESH bin ids (continuing after each
    * shard's current max bin, so repaired ids never collide with kept
    * ones). Deterministic: the re-pack orders by the same (shard, id)
    * key as [[packGreedy]], so any engine, any partitioning and any
    * re-run produce the identical repaired manifest.
    *
    * Delete == rebuild deliberately does NOT hold for packing (a
    * from-scratch re-pack would reshuffle EVERY bin and invalidate the
    * whole shipped artifact) — that asymmetry is exactly why this night
    * exists and why [[takedownBlastRadius]] prices the choice.
    *
    * Scale shape: the greedy runs ONLY over the innocent docs of dirty
    * bins — the blast radius, not the corpus; the clean side is one
    * anti-join pass-through. The tombstone and dirty-bin join sides are
    * deliberately UNHINTED: when [[takedownBlastRadius]] reports a
    * small radius AQE broadcasts them, and when the radius approaches 1
    * (dirty is bin-count-sized — manifest scale) the joins fall back to
    * a shuffle instead of OOMing the driver on a forced broadcast. Only
    * the per-shard bin offsets (shard-count-sized by construction) keep
    * the explicit hint. `budget` and `shards` must be the original
    * packing's (the shard of an id is a pure hash, so re-packed docs
    * land back in their own shards).
    *
    * @return (id, w, shard, bin, repacked) — the full repaired
    *         manifest; `repacked` marks rows whose bin changed */
  def incrementalRepack(packed: DataFrame, tombstones: DataFrame,
      idCol: String, budget: Long, shards: Int): DataFrame = {
    val tomb = tombstones.select(col(idCol).as("id")).distinct()
    val dirty = packed.join(tomb, Seq("id"), "left_semi")
      .select(col("shard"), col("bin")).distinct()
    val clean = packed.join(dirty, Seq("shard", "bin"), "left_anti")
      .select(col("id"), col("w"), col("shard"), col("bin"),
        lit(false).as("repacked"))
    val innocent = packed.join(dirty, Seq("shard", "bin"), "left_semi")
      .join(tomb, Seq("id"), "left_anti")
      .select(col("id"), col("w"))
    val offsets = packed.groupBy(col("shard"))
      .agg(max(col("bin")).as("__maxbin"))
    val repacked = packGreedy(innocent, "id", "w", budget, shards)
      .join(broadcast(offsets), Seq("shard"))
      .select(col("id"), col("w"), col("shard"),
        (col("__maxbin") + 1L + col("bin")).as("bin"),
        lit(true).as("repacked"))
    clean.unionByName(repacked)
  }

  /** The SEQUENCE-LENGTH decision curve — what each candidate training
    * sequence length costs, measured: for every budget L in the grid,
    * one greedy packing of the SAME weight manifest and its efficiency
    * face (bins, padding waste, fill rate), plus the truncation
    * pressure a length-L trainer faces (tokens beyond L in documents
    * longer than L — the mass that either truncates or forces an
    * over-budget single-doc bin, counted both ways: `n_overbudget`
    * bins and `trunc_tokens`). Short L wastes nothing per bin but
    * truncates long documents; long L keeps documents whole but pads.
    * The row a run reads before fixing max_seq_len.
    *
    * Scale shape: |budgets| independent [[packGreedy]] passes over the
    * (id, weight) MANIFEST — never the text; each pass is the
    * shard-parallel streaming greedy, each card one bin-sized
    * aggregate. Pass a persisted per-doc stage so the grid shares one
    * materialization.
    *
    * @return one row per budget: (budget, n_bins, n_docs, total_tokens,
    *         sum_waste, fill_rate, n_overbudget, trunc_tokens,
    *         trunc_frac) */
  def packLengthCurve(df: DataFrame, idCol: String, weightCol: String,
      budgets: Seq[Long], shards: Int): DataFrame = {
    require(budgets.nonEmpty, "need at least one budget point")
    budgets.distinct.sorted.map { b =>
      val card = packCard(packGreedy(df, idCol, weightCol, b, shards), b)
      val tr = df.agg(coalesce(sum(greatest(
        col(weightCol).cast("long") - lit(b), lit(0L))), lit(0L))
        .as("trunc_tokens"))
      card.crossJoin(broadcast(tr))
        .select(lit(b).as("budget"), col("n_bins"), col("n_docs"),
          col("total_tokens"), col("sum_waste"), col("fill_rate"),
          col("n_overbudget"), col("trunc_tokens"),
          when(col("total_tokens") > 0,
            round(col("trunc_tokens").cast("double") /
              col("total_tokens").cast("double"), 6))
            .otherwise(lit(0.0)).as("trunc_frac"))
    }.reduce(_ unionByName _)
  }

  /** The SHARD-COUNT decision curve — the packing's parallelism dial
    * measured: more shards = more parallel greedy streams (and, at a
    * takedown, a smaller ordered re-sort domain) at the price of one
    * potentially-short tail bin PER SHARD. For each candidate count,
    * one [[packGreedy]] pass over the same manifest reduced to its
    * [[packCard]] face — the measured answer to "how much packing
    * quality does scaling out cost" (bounded a priori by
    * shards·(budget−1) waste; this card shows the real number).
    *
    * Scale shape: |grid| independent shard-parallel greedy passes over
    * the (id, weight) MANIFEST (pass a persisted stage), each card one
    * bin-sized aggregate.
    *
    * @return one row per shard count: (shards, n_bins, n_docs,
    *         total_tokens, sum_waste, fill_rate, max_fill,
    *         n_overbudget) */
  def packShardCurve(df: DataFrame, idCol: String, weightCol: String,
      budget: Long, shardGrid: Seq[Int]): DataFrame = {
    require(shardGrid.nonEmpty, "need at least one shard count")
    shardGrid.distinct.sorted.map { n =>
      packCard(packGreedy(df, idCol, weightCol, budget, n), budget)
        .select(lit(n.toLong).as("shards"), col("n_bins"), col("n_docs"),
          col("total_tokens"), col("sum_waste"), col("fill_rate"),
          col("max_fill"), col("n_overbudget"))
    }.reduce(_ unionByName _)
  }

  /** Per-bin SOURCE-DIVERSITY QA of a stored packing — the shard-audit
    * a trainer runs before trusting gradient batches: a bin dominated
    * by one source makes a correlated batch however good the global
    * mix is. Joins the packed manifest to a per-doc attribute and
    * reduces to a bounded histogram: one row per distinct
    * sources-per-bin count, with the bins/docs/tokens it covers and
    * how many of those bins are DOMINATED (one source holding at least
    * half the bin's tokens — an exact integer predicate, no float).
    *
    * Scale shape: one equi-join of the bin manifest to the per-doc
    * attribute table (both id-keyed; at scale both bucketable), two
    * bin-keyed aggregates, one histogram-sized reduction. The corpus
    * text is never touched.
    *
    * @param docKey  expression over the packed rows yielding the doc
    *                key (an instance-expanded packing divides the
    *                epoch factor back out, e.g. `expr("id div 8")`)
    * @param docAttr the per-doc attribute table, keyed by attrKeyCol
    * @return (n_sources, n_bins, n_docs, n_tokens, n_dominated) */
  def binDiversityCard(packed: DataFrame, docKey: Column,
      docAttr: DataFrame, attrKeyCol: String, attrCol: String)
      : DataFrame = {
    val joined = packed.withColumn("__k", docKey)
      .join(docAttr.select(col(attrKeyCol).as("__k"),
        col(attrCol).as("__a")), Seq("__k"))
      .select(col("shard"), col("bin"), col("w"), col("__a"))
    val perSrc = joined.groupBy(col("shard"), col("bin"), col("__a"))
      .agg(count(lit(1)).as("docs"), sum(col("w")).as("tok"))
    val perBin = perSrc.groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_sources"), sum(col("docs")).as("docs"),
        sum(col("tok")).as("tok"), max(col("tok")).as("dom_tok"))
    perBin.groupBy(col("n_sources"))
      .agg(count(lit(1)).as("n_bins"), sum(col("docs")).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        sum(when(col("dom_tok") * 2 >= col("tok"), 1L).otherwise(0L))
          .as("n_dominated"))
  }

  /** CONTIGUOUS-STREAM packing layout — the GPT-style alternative to
    * [[packGreedy]]: per shard, documents are laid out back-to-back in
    * id order as ONE token stream and the stream is cut every `budget`
    * tokens. Every bin is exactly full (zero padding — only each
    * shard's LAST bin is short), at the price of SPLITTING documents
    * across bin boundaries; the greedy keeps every document whole at
    * the price of per-bin padding. [[streamPackCard]] reduces this
    * layout to the efficiency card that prices the trade.
    *
    * Pure relational plan (no mapPartitions): the layout is ONE
    * per-shard cumulative-sum window (shards sort independently — no
    * global sort, no single-partition window; the same parallel shape
    * as the greedy's per-shard external sort) plus integer arithmetic
    * on each doc's [start_off, end_off) stream interval. Deterministic
    * for the same reasons as the greedy: md5 shard hash, id order.
    *
    * `first_bin`/`last_bin` guard the w = 0 edge with greatest(): a
    * zero-weight doc occupies no tokens, and (end_off − 1) for the
    * shard's FIRST such doc is −1, where Spark's `div` truncates
    * toward zero and DuckDB's `//` floors — the guard pins both
    * engines to the doc's offset bin.
    *
    * @return (id, w, shard, start_off, first_bin, last_bin,
    *         n_segments) — offsets 0-based within the shard's stream,
    *         bins 0-based per shard; n_segments is the number of bins
    *         the doc spans (1 = never split) */
  def packStream(df: DataFrame, idCol: String, weightCol: String,
      budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0)
    val keyed = df.select(col(idCol).as("id"),
      // NULL/non-numeric weight fails fast like packGreedy (a silent
      // cast would corrupt the layout)
      coalesce(col(weightCol).cast("long"), raise_error(concat(
        lit(s"packStream: weight '$weightCol' is NULL or non-numeric" +
          " for id "), col(idCol).cast("string")))).as("w"),
      Sampling.hashBucket(col(idCol).cast("string"), shards).as("shard"))
    val win = Window.partitionBy(col("shard")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.withColumn("end_off", sum(col("w")).over(win))
      .withColumn("start_off", col("end_off") - col("w"))
      .withColumn("first_bin", expr(s"start_off div $budget"))
      .withColumn("last_bin",
        greatest(expr(s"(end_off - 1) div $budget"), col("first_bin")))
      .select(col("id"), col("w"), col("shard"), col("start_off"),
        col("first_bin"), col("last_bin"),
        (col("last_bin") - col("first_bin") + 1L).as("n_segments"))
  }

  /** The [[packStream]] efficiency card — same accounting face as
    * [[packCard]] plus the splitting cost the stream layout pays
    * instead of padding: documents split across a bin boundary and the
    * worst per-doc segment count. Waste is each shard's short LAST bin
    * only (⌈tok/budget⌉·budget − tok); every other bin is exactly
    * full by construction. One shard-keyed aggregate (shard-count
    * rows) then one reduction — the corpus is never re-touched.
    *
    * @return one row: (n_bins, n_docs, total_tokens, sum_waste,
    *         fill_rate, n_docs_split, split_frac, max_segments) */
  def streamPackCard(streamed: DataFrame, budget: Long): DataFrame = {
    val bins = s"(tok + ${budget - 1}) div $budget"
    val per = streamed.groupBy(col("shard")).agg(
      max(col("start_off") + col("w")).as("tok"), count(lit(1)).as("docs"),
      sum(when(col("last_bin") > col("first_bin"), 1L).otherwise(0L))
        .as("nsplit"),
      max(col("n_segments")).as("maxseg"))
    per.agg(
        coalesce(sum(expr(bins)), lit(0L)).as("n_bins"),
        coalesce(sum(col("docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("tok")), lit(0L)).as("total_tokens"),
        coalesce(sum(expr(s"($bins) * $budget - tok")), lit(0L))
          .as("sum_waste"),
        coalesce(sum(col("nsplit")), lit(0L)).as("n_docs_split"),
        coalesce(max(col("maxseg")), lit(1L)).as("max_segments"))
      .select(col("n_bins"), col("n_docs"), col("total_tokens"),
        col("sum_waste"),
        when(col("n_bins") === 0, lit(0.0))
          .otherwise(round(col("total_tokens").cast("double") /
            (col("n_bins") * budget).cast("double"), 6)).as("fill_rate"),
        col("n_docs_split"),
        Stats.guardedRatio(col("n_docs_split"), col("n_docs"))
          .as("split_frac"),
        col("max_segments"))
  }

  /** SHUFFLE-QA card — the data-order audit a trainer runs on an
    * [[epochShuffle]] order before trusting its gradient batches:
    * (a) WITHIN an epoch, how often adjacent positions carry the same
    * dominant source (a run of same-source batches = correlated
    * gradients), against the exact expectation under a uniform random
    * permutation (Σ c_s·(c_s−1) / (N·(N−1)) — a pure rational, so both
    * engines agree to the rounding digit); and (b) ACROSS two epoch
    * orders, how soon a bin recurs — the gap (N − pos₁) + pos₂ from a
    * bin's slot in epoch A to its slot in epoch B, whose minimum and
    * near-recurrence count (< N/10) catch a shuffle that replays the
    * tail of one epoch at the head of the next.
    *
    * Scale shape: dominant source per bin is one bin-keyed aggregate
    * over the packed manifest joined to the per-doc attribute (both
    * id-keyed); adjacency is a self-JOIN on pos+1 (shuffles at
    * manifest size — NO single-partition window over the epoch);
    * cross-epoch gaps are a bin-keyed equi-join of the two orders.
    * All counts exact integers; the two rates are the only divisions.
    *
    * @param epochA/epochB two [[epochShuffle]] orders of the SAME
    *                      packing (different seeds)
    * @param domSrc        (shard, bin, dom) dominant-attribute table —
    *                      see [[binDominantAttr]]
    * @return one row: (n_pos, n_adj_same, adj_same_rate,
    *         exp_same_rate, min_cross_gap, n_close_cross) */
  def shuffleQaCard(epochA: DataFrame, epochB: DataFrame,
      domSrc: DataFrame): DataFrame = {
    val a = epochA.select(col("pos"), col("shard"), col("bin"))
      .join(domSrc, Seq("shard", "bin"))
    val adj = a.select(col("pos"), col("dom"))
      .join(a.select((col("pos") - 1L).as("pos"), col("dom").as("dom2")),
        Seq("pos"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dom") === col("dom2"), 1L).otherwise(0L))
          .as("n_adj_same"))
    val counts = a.groupBy(col("dom")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_pos"),
        coalesce(sum(col("c") * (col("c") - 1L)), lit(0L)).as("same_mass"))
    val gaps = epochA.select(col("shard"), col("bin"),
        col("pos").as("pos_a"))
      .join(epochB.select(col("shard"), col("bin"), col("pos").as("pos_b")),
        Seq("shard", "bin"))
    val cross = gaps.crossJoin(broadcast(counts.select(col("n_pos"))))
      .select(((col("n_pos") - col("pos_a")) + col("pos_b")).as("gap"),
        col("n_pos"))
      .agg(min(col("gap")).as("min_cross_gap"),
        sum(when(col("gap") * 10L < col("n_pos"), 1L)
          .otherwise(0L)).as("n_close_cross"))
    counts.crossJoin(broadcast(adj)).crossJoin(broadcast(cross))
      .select(col("n_pos"), col("n_adj_same"),
        Stats.guardedRatio(col("n_adj_same"), col("n_pairs"))
          .as("adj_same_rate"),
        when(col("n_pos") < 2, lit(0.0))
          .otherwise(round(col("same_mass").cast("double") /
            (col("n_pos") * (col("n_pos") - 1L)).cast("double"), 6))
          .as("exp_same_rate"),
        col("min_cross_gap"), col("n_close_cross"))
  }

  /** Dominant attribute per bin of a stored packing: the attribute
    * value holding the largest token mass in each bin (ties broken by
    * the attribute's order — max(struct(tok, attr)) is a total order,
    * so the winner is engine-independent). Same join shape as
    * [[binDiversityCard]]. */
  def binDominantAttr(packed: DataFrame, docKey: Column,
      docAttr: DataFrame, attrKeyCol: String, attrCol: String)
      : DataFrame =
    packed.withColumn("__k", docKey)
      .join(docAttr.select(col(attrKeyCol).as("__k"),
        col(attrCol).as("__a")), Seq("__k"))
      .groupBy(col("shard"), col("bin"), col("__a"))
      .agg(sum(col("w")).as("tok"))
      .groupBy(col("shard"), col("bin"))
      .agg(max(struct(col("tok"), col("__a"))).as("__m"))
      .select(col("shard"), col("bin"), col("__m.__a").as("dom"))

  /** LENGTH-BUCKETED dynamic-batching card — the other way trainers
    * fight padding waste (next to packing): group sequences by length
    * into ascending buckets, pad each sequence only to ITS bucket's
    * boundary, and compare against the naive pad-everything-to-max
    * baseline. Sequences longer than the LAST boundary truncate to it
    * (the max_seq_len rule) and the truncated mass is reported, never
    * silently dropped. One row per bucket plus the `~total` row whose
    * `saved_frac` is the headline: the fraction of the naive padding
    * bill the bucketing avoids.
    *
    * All columns are exact integers except the one saved_frac
    * division. One projection + one bucket-keyed aggregate over the
    * per-sequence length table (a persisted stage at scale) — the
    * corpus text is never touched.
    *
    * @param buckets ascending positive boundaries; the last is the
    *                training max_seq_len
    * @return (bucket "L%04d" / "~total", n_seqs, n_tokens, capacity,
    *         pad_waste, trunc_tokens, maxpad_waste, saved_frac — null
    *         on bucket rows, one division on ~total) */
  def lengthBucketCard(df: DataFrame, lenCol: String,
      buckets: Seq[Long]): DataFrame = {
    require(buckets.nonEmpty && buckets.head > 0 &&
      buckets == buckets.distinct.sorted, "buckets must be ascending > 0")
    val lmax = buckets.last
    val len = col(lenCol).cast("long")
    val clamped = least(len, lit(lmax))
    val bucket = buckets.init.reverse.foldLeft(lit(lmax)) { (acc, b) =>
      when(clamped <= b, lit(b)).otherwise(acc)
    }
    val per = df.select(clamped.as("__len"), bucket.as("__b"),
        greatest(len - lit(lmax), lit(0L)).as("__tr"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("__len")).as("n_tokens"),
        (count(lit(1)) * col("__b")).as("capacity"),
        (count(lit(1)) * col("__b") - sum(col("__len"))).as("pad_waste"),
        sum(col("__tr")).as("trunc_tokens"),
        (count(lit(1)) * lmax - sum(col("__len"))).as("maxpad_waste"))
    val rows = per.select(
      format_string("L%04d", col("__b")).as("bucket"),
      col("n_seqs"), col("n_tokens"), col("capacity"), col("pad_waste"),
      col("trunc_tokens"), col("maxpad_waste"),
      lit(null).cast("double").as("saved_frac"))
    val tot = per.agg(
        coalesce(sum(col("n_seqs")), lit(0L)).as("n_seqs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("capacity")), lit(0L)).as("capacity"),
        coalesce(sum(col("pad_waste")), lit(0L)).as("pad_waste"),
        coalesce(sum(col("trunc_tokens")), lit(0L)).as("trunc_tokens"),
        coalesce(sum(col("maxpad_waste")), lit(0L)).as("maxpad_waste"))
      .select(lit("~total").as("bucket"), col("n_seqs"), col("n_tokens"),
        col("capacity"), col("pad_waste"), col("trunc_tokens"),
        col("maxpad_waste"),
        when(col("maxpad_waste") === 0, lit(0.0))
          .otherwise(round(lit(1.0) - col("pad_waste").cast("double") /
            col("maxpad_waste").cast("double"), 6)).as("saved_frac"))
    rows.unionByName(tot)
  }

  /** Packing efficiency report: bins, mean fill ratio, over-budget bins
    * (only legal for single over-budget docs). */
  def packStats(packed: DataFrame, budget: Long): DataFrame =
    packed.groupBy(col("shard"), col("bin"))
      .agg(sum(col("w")).as("fill"), count(lit(1)).as("docs"))
      .agg(count(lit(1)).as("bins"),
        coalesce(round(avg(col("fill")).cast("double") / budget, 4),
          lit(0.0)).as("mean_fill"),
        count(when(col("fill") > budget && col("docs") > 1, 1))
          .as("illegal_bins"))
}
