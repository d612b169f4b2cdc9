package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed statistics with portable arithmetic — trend detection,
  * diversity, digit-distribution auditing, weighted medians and
  * independence testing, engineered so every output is either an exact
  * integer or a SHORT fixed chain of IEEE operations on exact integers
  * (and therefore bit-identical in any engine at any parallelism).
  *
  * The recurring trick: keep every AGGREGATION in integers (counts,
  * integer sums, cross-multiplied comparisons) where addition is
  * associative, and spend doubles only in the final per-row projection.
  * A float Σ differs between engines in the last ulp because float
  * addition does not associate; an integer Σ never does.
  */
object Stats {

  /** `num / den` as one IEEE division of the two counts, rounded to 6
    * decimals, and 0.0 — not null, not an ANSI divide-by-zero error —
    * when `den` is 0. A null `den` gives null. Every recall, precision,
    * rate and Jaccard column over exact integer counts is this division.
    *
    * Ratios that look alike but differ stay written out where they are:
    * the shares of [[Similarity.listOccupancyDrift]] are divided before
    * they are rounded; [[Packing.streamPackCard]]'s `fill_rate` guards
    * `n_bins` but divides by `n_bins · budget`;
    * [[Packing.lengthBucketCard]]'s `saved_frac` is `1 − a/b`; and a
    * ratio guarded by `den > 0` gives 0.0, not null, on a null count. */
  private[graft] def guardedRatio(num: Column, den: Column): Column =
    when(den === 0, lit(0.0))
      .otherwise(round(num.cast("double") / den.cast("double"), 6))

  /** Trailing-window activity features per key — for each event, the
    * count / min / max of the key's events in the half-open time window
    * (t − span, t]. The classic feature-store "activity in the last 24h"
    * computed with a RANGE frame: one window per key ordered by time, no
    * self-join, no explode of the window contents.
    *
    * Count is an integer; min/max SELECT observed values (order-free
    * reductions, portable verbatim). A trailing float mean is
    * deliberately not offered here: a windowed float sum is
    * accumulation-order-sensitive — derive means downstream from
    * decimal/integer sums if needed.
    *
    * @param time integral time column name (e.g. epoch micros)
    * @param span trailing window width in `time` units
    */
  def trailingWindowFeatures(df: DataFrame, key: String, time: String,
      valueCol: String, span: Long): DataFrame = {
    require(span > 0, "span must be positive")
    val w = Window.partitionBy(col(key)).orderBy(col(time))
      .rangeBetween(-(span - 1), 0) // (t − span, t] on integral time
    df.withColumn("w_cnt", count(lit(1)).over(w))
      .withColumn("w_min", min(col(valueCol)).over(w))
      .withColumn("w_max", max(col(valueCol)).over(w))
  }

  /** Per-key least-squares trend over an INTEGER series — "is this user's
    * daily activity rising or falling", the drift/trend detector run over
    * count series (which are integers by construction — and integer sums
    * are exact, so the regression is too).
    *
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), emitted BOTH as the exact
    * integer numerator/denominator pair (cross-multiply them to compare
    * trends exactly, no division error) and as one IEEE division.
    * Overflow needs n·|Σxy| < 2^63: with day-index x and count y, fine for
    * centuries of daily buckets; require() the caller caps the series
    * length upstream.
    *
    * @param x integral regressor column (e.g. day index)
    * @param y integral response column (e.g. daily count)
    * @return (<key>, n, slope_num, slope_den, slope) — slope_den = 0 (and
    *         slope NULL) when all x are equal
    */
  def trendSlope(df: DataFrame, key: String, x: String, y: String)
      : DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(col(x)).as("sx"), sum(col(y)).as("sy"),
        sum(col(x) * col(y)).as("sxy"), sum(col(x) * col(x)).as("sxx"))
      .select(col(key), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("slope",
        when(col("slope_den") =!= 0,
          col("slope_num").cast("double") / col("slope_den")))

  /** Gini diversity (1 − Σ share²) of a categorical column per group —
    * "how concentrated is each language's corpus across sources". The
    * portable alternative to Shannon entropy: entropy needs ln (libm,
    * last-ulp differs across engines), while Gini is Σc² and N — both
    * exact integers — and ONE division: 1 − Σc²/N². 0 = one category owns
    * everything; → 1 − 1/k for k equal categories.
    *
    * One aggregation keyed by (group, category), one keyed by group —
    * map-side partials on both, no window over data rows.
    */
  def giniDiversity(df: DataFrame, group: String, category: String)
      : DataFrame =
    df.groupBy(col(group), col(category)).agg(count(lit(1)).as("c"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_cats"), sum(col("c")).as("n"),
        sum(col("c") * col("c")).as("ssq"))
      .withColumn("gini",
        lit(1.0) - col("ssq").cast("double") / (col("n") * col("n")))

  /** First significant digit of |value|, for |value| ≥ 1 (NULL below —
    * the sub-1 first digit lives under the decimal point, out of scope).
    * The digit comes from the INTEGER part via string of a long: integer
    * formatting is identical everywhere, float formatting is not, and
    * the floor BEFORE the long cast matters — a bare double→long cast
    * truncates in Spark but ROUNDS in DuckDB. Also on the SQL surface as
    * `graft_first_digit`. */
  def firstDigit(c: Column): Column =
    when(abs(c) >= 1,
      substring(floor(abs(c)).cast("long").cast("string"), 1, 1)
        .cast("int"))

  /** First-significant-digit profile per group — the Benford's-law audit
    * used to flag fabricated numeric columns (organic magnitudes follow
    * P(d) = log10(1+1/d); uniform-made-up numbers don't).
    *
    * Output keeps exact counts plus the observed share (one division);
    * comparison against the Benford expectation is the consumer's
    * decision (the expected shares are nine constants).
    */
  def benfordProfile(df: DataFrame, group: String, valueCol: String)
      : DataFrame = {
    val counts = df
      .withColumn("digit", firstDigit(col(valueCol)))
      .filter(col("digit").isNotNull)
      .groupBy(col(group), col("digit")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(group))
    counts
      .withColumn("n", sum(col("cnt")).over(w))
      .withColumn("share", col("cnt").cast("double") / col("n"))
  }

  /** Weighted lower median per group: the smallest value v such that the
    * cumulative weight through v reaches half the total — "the price such
    * that half the QUANTITY traded at or below it". Integer weights keep
    * the half-total comparison exact (cross-multiplied: 2·cumw ≥ W, no
    * division); the answer is an observed value, portable verbatim.
    *
    * One per-group window for the running weight (ordered by value with a
    * total tiebreak), one per-group argmin over qualifying rows.
    */
  def weightedMedian(df: DataFrame, group: String, valueCol: String,
      weight: Column, tie: Column): DataFrame = {
    val wc = Window.partitionBy(col(group))
      .orderBy(col(valueCol), col("_tb")) // _tb: tie evaluated pre-projection
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy(col(group))
    df.select(col(group), col(valueCol), weight.as("_w"), tie.as("_tb"))
      .withColumn("_cum", sum(col("_w")).over(wc))
      .withColumn("_tot", sum(col("_w")).over(wg))
      .filter(col("_cum") * 2 >= col("_tot"))
      .groupBy(col(group))
      .agg(min(struct(col(valueCol).as("_v"), col("_tb"))).as("_s"),
        max(col("_tot")).as("w_total"))
      .select(col(group), col("_s").getField("_v").as("w_median"),
        col("w_total"))
  }

  /** Rolling distinct-entity counts — "7-day active users per day", the
    * windowed-distinct statistic a plain window frame cannot express
    * (count(DISTINCT) is not a supported window function, and a naive
    * per-day self-join re-scans the activity table once per window day).
    *
    * Contribution trick: reduce to DISTINCT (entity, bucket) activity
    * first, then each activity row CONTRIBUTES to the `window` report
    * buckets [b, b+window) — a bounded explode (fan-out = window) — and
    * one count-distinct per report bucket finishes the job. Report
    * buckets are restricted to OBSERVED activity buckets (left-semi join
    * with the distinct bucket list), so trailing phantom days never
    * appear. Two shuffles total, both keyed; fan-out independent of
    * entity popularity.
    *
    * @param bucket integral time bucket expression
    * @param window trailing width in buckets (≥ 1)
    * @return (bucket, n_active) — distinct entities active in
    *         [bucket − window + 1, bucket] */
  def rollingActiveCounts(df: DataFrame, entity: String, bucket: Column,
      window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val act = df.select(col(entity).as("_e"), bucket.as("_b")).distinct()
    val days = act.select(col("_b").as("bucket")).distinct()
    act
      .select(col("_e"),
        explode(sequence(col("_b"), col("_b") + (window - 1)))
          .as("bucket"))
      .join(days, Seq("bucket"), "left_semi")
      .groupBy(col("bucket"))
      .agg(count_distinct(col("_e")).as("n_active"))
  }

  /** Exact rank-based quantiles per group: for each requested q = num/den,
    * the OBSERVED value at ascending rank ⌈q·n⌉ — the rank form every
    * engine agrees on (interpolating quantiles differ across engines in
    * their even-n/tie handling; a rank-selected value is copied verbatim).
    * The rank is exact integer arithmetic: (num·n + den − 1) div den.
    *
    * ONE window pass serves every quantile: each row emits the quantile
    * names whose rank it holds (an array filter + explode — no per-q
    * re-scan of the unpersisted ranked subplan).
    *
    * @param quantiles (name, num, den) with 0 < num ≤ den
    * @return (<group>, q, value, n) — one row per group per quantile */
  def groupQuantiles(df: DataFrame, group: String, valueCol: String,
      tie: Column, quantiles: Seq[(String, Long, Long)]): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (nm, num, den) =>
      require(num > 0 && den >= num, s"quantile $nm must be in (0, 1]")
    }
    val w = Window.partitionBy(col(group)).orderBy(col(valueCol), col("_tb"))
    val ranked = df
      .select(col(group), col(valueCol), tie.as("_tb"))
      .filter(col(valueCol).isNotNull)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(group))))
    def rankOf(num: Long, den: Long): Column = {
      val a = col("_n") * num + (den - 1)
      ((a - pmod(a, lit(den))) / den).cast("long")
    }
    val served = quantiles.map { case (nm, num, den) =>
      when(col("_rn") === rankOf(num, den), lit(nm))
        .otherwise(lit(null).cast("string"))
    }
    ranked
      .withColumn("q",
        explode(filter(array(served: _*), x => x.isNotNull)))
      .select(col(group), col("q"), col(valueCol).as("value"),
        col("_n").as("n"))
  }

  /** Contingency table with χ² contributions — the independence check
    * between two categorical columns ("is return flag independent of line
    * status"). Observed counts, row/column totals and N are exact
    * integers; expected = rowTot·colTot/N is ONE division, and the χ²
    * contribution (obs − exp)²/exp is the SAME three-operation chain in
    * any engine — bit-identical because its inputs are. The total χ² is
    * the consumer's sum (or compare per-cell contributions directly —
    * at scale the hot cells are the answer anyway).
    *
    * Shape: one aggregation on (a, b); row/col totals are windows over
    * the CELL table (≤ |A|·|B| rows), never over the data.
    */
  def contingencyChi2(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("obs"))
    val wa = Window.partitionBy(col(aCol))
    val wb = Window.partitionBy(col(bCol))
    val wn = Window.partitionBy()
    cells
      .withColumn("row_tot", sum(col("obs")).over(wa))
      .withColumn("col_tot", sum(col("obs")).over(wb))
      .withColumn("n", sum(col("obs")).over(wn))
      .withColumn("expected",
        (col("row_tot") * col("col_tot")).cast("double") / col("n"))
      .withColumn("chi2",
        (col("obs") - col("expected")) * (col("obs") - col("expected")) /
          col("expected"))
  }

  /** Cohen's κ between two categorical raters — the label-QA statistic
    * ("do the heuristic labeler and the recorded label agree beyond
    * chance") run before trusting either column as training signal.
    * κ = (N·agree − Σₖ rowTotₖ·colTotₖ) / (N² − Σₖ rowTotₖ·colTotₖ):
    * every term is an exact integer and κ is ONE IEEE division, so the
    * result is identical in any engine; κ is NULL when chance agreement
    * is total (N² = Σ, the undefined case).
    *
    * Shape: ONE corpus aggregation to the (a, b) cell table (≤ |A|·|B|
    * rows, localCheckpoint'ed — its two consumers below would otherwise
    * each re-run the corpus scan); per-category marginals come from a
    * single explode of each cell into its row- and column-side
    * contribution (not two unions — one reference, one pass), which also
    * yields a marginal row for categories only ONE rater ever uses
    * (their product term is 0, exactly the κ definition). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("ka"), col(bCol).as("kb"))
      .agg(count(lit(1)).as("n")).localCheckpoint(true)
    val catTot = cells.select(explode(array(
        struct(col("ka").as("k"), col("n").as("rn"), lit(0L).as("cn")),
        struct(col("kb").as("k"), lit(0L).as("rn"), col("n").as("cn")))).as("e"))
      .groupBy(col("e.k"))
      .agg(sum(col("e.rn")).as("rtot"), sum(col("e.cn")).as("ctot"))
    val chance = catTot.agg(sum(col("rtot") * col("ctot")).as("chance"))
    cells.agg(sum(col("n")).as("n_items"),
        sum(when(col("ka") === col("kb"), col("n")).otherwise(lit(0L)))
          .as("agree"))
      .crossJoin(broadcast(chance))
      .select(col("n_items"), col("agree"), col("chance"),
        when(col("n_items") * col("n_items") === col("chance"),
          lit(null).cast("double"))
          .otherwise(round(
            (col("n_items") * col("agree") - col("chance")).cast("double") /
              (col("n_items") * col("n_items") - col("chance")).cast("double"),
            6)).as("kappa"))
  }
}
