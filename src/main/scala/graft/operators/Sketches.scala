package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch structures built from plain relational operators — count-min
  * frequency estimation and Bloom membership — complementing the builtin
  * HLL/KLL aggregates (`approx_count_distinct`, `percentile_approx`,
  * contract-checked in SketchSpec and q77).
  *
  * Why relational sketches: the sketch STATE lives in DataFrames
  * ((row, bucket) counts / set bit positions), so it is mergeable across
  * batches with a `groupBy`+`sum`/`distinct` union — the property that
  * matters on an append-only corpus — and persists as ordinary parquet.
  * Hashes are the md5-60bit bridge, so every estimate is deterministic
  * and cross-engine reproducible (graded with exact row-level oracles,
  * not tolerance checks — a luxury HLL internals can't offer).
  *
  * Scale: building either sketch is one explode (×depth/×numHashes) plus
  * one aggregation keyed by (row, bucket)/(bit) — map-side combinable,
  * output size bounded by the sketch geometry (depth×width / numBits),
  * independent of input cardinality. Probing joins the TINY sketch table
  * (broadcast) — the corpus is never rescanned.
  */
object Sketches {

  /** The md5-60bit bridge hash of `key` under hash function `seed` (a
    * string column). A bucket is this hash mod the sketch width, so the
    * hash does not depend on the width and a curve over widths computes
    * it once. */
  private def seedHash(seed: Column, key: Column): Column =
    NearDup.md5Hash60(concat_ws("|", seed, key))

  private def bucketOf(seed: Int, key: Column, width: Long): Column =
    pmod(seedHash(lit(seed.toString), key), lit(width))

  /** Fast NON-portable bucket hash (native xxhash64) for sketches whose
    * bits never cross the engine boundary. The md5 bridge above exists so
    * a DuckDB oracle can replay every bit; a Bloom used purely as an
    * internal pre-join prune ([[bloomPrune]]) is output-transparent —
    * ANY hash family yields the identical final result — so paying an
    * md5 per probe per row on a corpus-sized fact table is pure waste.
    * Build and probe must use the same function; pass this as `bucket`
    * to BOTH [[bloomBitsArray]] and [[bloomPrune]]. */
  val xxBucket: (Int, Column, Long) => Column =
    (seed, key, width) => pmod(xxhash64(lit(seed), key), lit(width))

  /** `df`'s rows once per count-min hash row `d < depth`, with the key's
    * hash under seed `d` in `__h`. */
  private def depthHashes(df: DataFrame, key: Column, depth: Int): DataFrame =
    df.withColumn("d", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("__h", seedHash(col("d").cast("string"), key))

  /** The count-min build, keyed: the [[depthHashes]] rows counted per
    * (keys…, d, bucket), bucket = `__h` mod `width`. */
  private def countMinBy(hashed: DataFrame, width: Column,
      keys: Seq[String]): DataFrame =
    hashed.groupBy(keys.map(col) ++ Seq(col("d"),
        pmod(col("__h"), width).as("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** The count-min probe, keyed: each [[depthHashes]] row of the probes
    * joins the broadcast sketch on (keys…, d, bucket), and the estimate
    * is the min over d per (cols…, keys…). */
  private def estimateBy(cms: DataFrame, hashed: DataFrame,
      cols: Seq[String], width: Column, keys: Seq[String]): DataFrame =
    hashed.withColumn("bucket", pmod(col("__h"), width))
      .join(broadcast(cms), keys ++ Seq("d", "bucket"), "left")
      .groupBy((cols ++ keys).map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  /** Count-min sketch state: (d, bucket, cnt) — `depth` independent hash
    * rows of `width` buckets, each holding the count of keys landing in
    * it. Merge two batches' states by unioning and summing cnt. */
  def countMin(df: DataFrame, key: Column, depth: Int, width: Long): DataFrame = {
    require(depth > 0 && width > 0, "need positive depth and width")
    countMinBy(depthHashes(df.select(key.as("__k")), col("__k"), depth),
      lit(width), Nil)
  }

  /** Point-frequency estimates for `probes` against a [[countMin]] state:
    * min over the depth rows of the probed bucket's count. Never
    * undercounts (collisions only ADD); the overcount is bounded by
    * (input size / width) per row w.h.p. All probe columns survive. */
  def countMinEstimate(cms: DataFrame, probes: DataFrame, key: Column,
      depth: Int, width: Long): DataFrame =
    estimateBy(cms, depthHashes(probes.withColumn("__k", key), col("__k"),
      depth), probes.columns.toSeq, lit(width), Nil)

  /** The count-min WIDTH curve — the memory/accuracy dial of the
    * frequency sketch priced on the actual key distribution (the
    * estimator-error member of the tuning tables, next to the Bloom
    * sizing curve's membership FP dial): for each candidate width, the
    * total and worst per-key OVERCOUNT of the sketch against the exact
    * counts, plus the undercount count — which is structurally ZERO
    * (collisions only add; `n_under` rides in the output as a live
    * invariant, and SketchesSpec pins it). Overcount shrinks as width
    * grows (fewer collisions per row); the measured curve is what a
    * deployment reads before fixing depth×width memory.
    *
    * Scale shape: ONE plan for every width. Each key is hashed once per
    * depth row, then replicated per width with bucket = hash mod width:
    * one sketch build grouped by (width, d, bucket), one broadcast
    * probe joined on (width, d, bucket) over the exact key counts, one
    * error aggregate grouped by width. The width grid is left-joined
    * onto the errors, so every width keeps a row. Each point equals
    * [[countMinEstimate]] over [[countMin]] at that width. All error
    * columns are exact integers; only the final mean divides.
    *
    * @param key the key column in its STRING form (hash input)
    * @return one row per distinct width, ascending: (width, depth,
    *         n_keys, n_under, sum_over, max_over, mean_over) */
  def countMinWidthCurve(df: DataFrame, key: Column, widths: Seq[Long],
      depth: Int): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ > 0) && depth > 0,
      "need at least one width, and positive depth and widths")
    val ws = array(widths.distinct.sorted.map(lit): _*)
    def perWidth(hashed: DataFrame) = hashed.withColumn("width", explode(ws))
    val exact = df.groupBy(key.as("__k"))
      .agg(count(lit(1)).as("exact_cnt"))
    val cms = countMinBy(perWidth(depthHashes(df.select(key.as("__k")),
      col("__k"), depth)), col("width"), Seq("width"))
    val errs = estimateBy(cms, perWidth(depthHashes(exact, col("__k"), depth)),
        exact.columns.toSeq, col("width"), Seq("width"))
      .groupBy(col("width"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("cms_est") < col("exact_cnt"), 1L).otherwise(0L))
          .as("n_under"),
        sum(col("cms_est") - col("exact_cnt")).as("sum_over"),
        max(col("cms_est") - col("exact_cnt")).as("max_over"))
    val counts = Seq("n_keys", "n_under", "sum_over", "max_over")
    df.sparkSession.range(1).select(explode(ws).as("width"))
      .join(broadcast(errs), Seq("width"), "left")
      .select(col("width") +: lit(depth.toLong).as("depth") +:
        counts.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .withColumn("mean_over",
        Stats.guardedRatio(col("sum_over"), col("n_keys")))
  }

  /** The distinct (keys…, bit) rows of `bits` over `df`. */
  private def setBits(df: DataFrame, bits: Seq[Column],
      keys: Seq[String]): DataFrame =
    df.select(keys.map(col) :+ explode(array(bits: _*)).as("bit"): _*)
      .distinct()

  /** Bloom filter state: the distinct set bit positions of `numBits`
    * slots under `numHashes` hash functions. Merge batches by union +
    * distinct. */
  def bloomBits(df: DataFrame, key: Column, numBits: Long,
      numHashes: Int): DataFrame = {
    require(numBits > 0 && numHashes > 0, "need positive bits and hashes")
    setBits(df, (0 until numHashes).map(bucketOf(_, key, numBits)), Nil)
  }

  /** Membership verdicts for `probes` against a [[bloomBits]] state:
    * `bloom_maybe` is true iff ALL the probe's bits are set — guaranteed
    * true for every key the filter was built from (no false negatives);
    * false positives occur at the geometry's rate. */
  def bloomMaybeContains(bits: DataFrame, probes: DataFrame, key: Column,
      numBits: Long, numHashes: Int): DataFrame = {
    val keyed = probes.withColumn("__bit", explode(array(
      (0 until numHashes).map(bucketOf(_, key, numBits)): _*)))
    keyed.join(broadcast(bits.withColumn("__set", lit(true))),
        keyed("__bit") === bits("bit"), "left")
      .groupBy(probes.columns.map(col): _*)
      .agg(min(coalesce(col("__set"), lit(false))).as("bloom_maybe"))
  }

  /** The whole Bloom identity — geometry AND hash family — as ONE value
    * shared by build and probe, so the two sides CANNOT diverge: a bits
    * array built under one bucket function and probed under another has
    * silent false NEGATIVES (wrong, over-pruned results — not a
    * slowdown), and the free-floating `bucket` default args on
    * [[bloomBitsArray]]/[[bloomPrune]] let exactly that compile. Build
    * and prune through one `BloomConfig` instance instead; the raw
    * functions remain for the (already-consistent) legacy call sites. */
  final case class BloomConfig(numBits: Long, numHashes: Int,
      bucket: (Int, Column, Long) => Column = bucketOf) {
    require(numBits > 0 && numHashes > 0, "need positive bits and hashes")
    /** [[bloomBitsArray]] under this config's hash family. */
    def bitsArray(df: DataFrame, key: Column): DataFrame =
      bloomBitsArray(df, key, numBits, numHashes, bucket)
    /** [[bloomPrune]] under this config's hash family — feed it ONLY a
      * [[bitsArray]] built from the same instance. */
    def prune(fact: DataFrame, key: Column, bits: DataFrame): DataFrame =
      bloomPrune(fact, key, bits, numBits, numHashes, bucket)
  }

  /** [[BloomConfig]] over the fast native hash — the right family for a
    * Bloom used purely as an engine-internal prune (output-transparent,
    * never replayed by an oracle). */
  def xxBloom(numBits: Long, numHashes: Int): BloomConfig =
    BloomConfig(numBits, numHashes, xxBucket)

  /** The Bloom SIZING curve — the bits-per-key dial priced on the
    * actual key set (the sketch-family member of the engine's tuning
    * tables, next to nprobe/τ/LSH-geometry): for each candidate filter
    * size, the measured false-positive rate against a probe set that is
    * DISJOINT from the build keys by construction, so every pass is a
    * false positive and the rate is measured, not modeled. fp_rate is
    * non-increasing in bits (a larger filter at the same key set and
    * hash count sets a sparser fraction of its bits; SketchesSpec pins
    * the monotone curve and cross-checks each point against theory).
    *
    * Scale shape: ONE plan for every size. Build keys and probes are
    * hashed once per hash function; a bit is the hash mod `num_bits`,
    * a column. The build's bits, replicated per size, collapse to one
    * sorted array per size — a broadcast table of |sizes| rows — and
    * every probe is checked against each row by the row-local
    * binary-search membership of [[bloomPrune]]. The false positives
    * are counted per size and left-joined onto the size grid, so every
    * size keeps a row. Each point equals [[BloomConfig.prune]] over
    * [[BloomConfig.bitsArray]] at that size.
    *
    * @return one row per distinct size, ascending: (num_bits,
    *         num_hashes, n_keys, n_probes, n_fp, fp_rate) */
  def bloomSizingCurve(build: DataFrame, absentProbes: DataFrame,
      key: Column, numBitsCurve: Seq[Long], numHashes: Int): DataFrame = {
    require(numBitsCurve.nonEmpty && numBitsCurve.forall(_ > 0) &&
      numHashes > 0, "need at least one filter size, positive bits and hashes")
    val sizes = array(numBitsCurve.distinct.sorted.map(lit): _*)
    val hs = (0 until numHashes).map(s => s"__h$s")
    def hashed(df: DataFrame) = df.select((0 until numHashes).map(s =>
      seedHash(lit(s.toString), key).as(hs(s))): _*)
    val bits = hs.map(h => pmod(col(h), col("num_bits")))
    val tables = bitsArrayBy(hashed(build)
      .withColumn("num_bits", explode(sizes)), bits, Seq("num_bits"))
    val fp = pruneBy(hashed(absentProbes), tables, bits)
      .groupBy(col("num_bits")).agg(count(lit(1)).as("n_fp"))
    val totals = build.agg(count(lit(1)).as("n_keys"))
      .crossJoin(absentProbes.agg(count(lit(1)).as("n_probes")))
    build.sparkSession.range(1).select(explode(sizes).as("num_bits"))
      .join(broadcast(fp), Seq("num_bits"), "left")
      .crossJoin(broadcast(totals))
      .select(col("num_bits"), lit(numHashes.toLong).as("num_hashes"),
        col("n_keys"), col("n_probes"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"))
      .withColumn("fp_rate", Stats.guardedRatio(col("n_fp"), col("n_probes")))
  }

  /** The sorted-array Bloom build, keyed: the distinct `bits` of `df`
    * collapsed to one sorted `bloom_bits` array per key tuple. */
  private def bitsArrayBy(df: DataFrame, bits: Seq[Column],
      keys: Seq[String]): DataFrame =
    setBits(df, bits, keys)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("bit"))).as("bloom_bits"))

  /** [[bloomBits]] collapsed to ONE row holding the sorted set-bit
    * positions — the broadcastable form [[bloomPrune]] consumes. Size is
    * bounded by min(numBits, |keys|·numHashes) longs, chosen small by
    * construction (a 1M-bit filter is ≤ 8 MB). */
  def bloomBitsArray(df: DataFrame, key: Column, numBits: Long,
      numHashes: Int,
      bucket: (Int, Column, Long) => Column = bucketOf): DataFrame =
    bitsArrayBy(df, (0 until numHashes).map(bucket(_, key, numBits)), Nil)

  /** The Bloom prune: `fact` crossed with the broadcast `bitsArray` rows
    * — one row per filter — and kept where every bit of `bits` is set in
    * the row's `bloom_bits`. */
  private def pruneBy(fact: DataFrame, bitsArray: DataFrame,
      bits: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def contains(h: Column): Column = ColumnBridge.toColumn(
      graft.expressions.SortedArrayContains(
        ColumnBridge.toExpression(col("bloom_bits")),
        ColumnBridge.toExpression(h)))
    fact.crossJoin(broadcast(bitsArray))
      .filter(bits.map(contains).reduce(_ && _))
      .drop("bloom_bits")
  }

  /** Bloom-pruned pre-join filter — the 100 TB shuffle cutter: before a
    * fact⋈dim join whose dim side is selective, drop the fact rows whose
    * join key CANNOT match (bloom has no false negatives) as a pure
    * row-local projection. The bit array rides a broadcast; membership is
    * the native binary-search expression (O(log bits) per probe, where
    * `array_contains` would scan the whole array per row); the fact table
    * is never shuffled, grouped or exploded — the surviving (usually
    * tiny) fraction proceeds to the real join, which now shuffles only
    * matches + the false-positive residue.
    *
    * Contrast [[bloomMaybeContains]]: that emits per-row verdicts via a
    * bit-table join and re-grouping (a probe-side shuffle) — right for
    * auditing a sketch, wrong for pruning a corpus. */
  def bloomPrune(fact: DataFrame, key: Column, bitsArray: DataFrame,
      numBits: Long, numHashes: Int,
      bucket: (Int, Column, Long) => Column = bucketOf): DataFrame =
    pruneBy(fact, bitsArray, (0 until numHashes).map(bucket(_, key, numBits)))
}
