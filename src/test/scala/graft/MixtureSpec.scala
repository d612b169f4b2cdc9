package graft

import org.apache.spark.sql.functions._

import graft.operators.Mixture

/** Mixture resampling: maximal output under downsampling-only, binding
  * category kept whole, untargeted categories dropped, membership stable
  * under repartitioning. */
class MixtureSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private val targets = Map("en" -> 0.4, "es" -> 0.2, "fr" -> 0.2, "de" -> 0.2)

  private def docs = Tables.load(spark, dir, "documents")

  test("binding category keeps every row; untargeted category is dropped") {
    val in = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val binding = targets.minBy { case (k, t) => in(k) / t }._1
    val out = Mixture.resampleToMixture(docs, "lang",
      col("doc_id").cast("string"), targets)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out(binding) === in(binding), s"binding=$binding must keep 100%")
    assert(!out.contains("zh"), "untargeted category must be dropped")
  }

  test("achieved shares track the target mixture") {
    val out = Mixture.resampleToMixture(docs, "lang",
      col("doc_id").cast("string"), targets)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = out.values.sum.toDouble
    targets.foreach { case (k, t) =>
      val share = out.getOrElse(k, 0L) / total
      // hash-bucket sampling is binomial around p; ±6 share points is a
      // generous bound at 500 docs while still catching a wrong formula
      assert(math.abs(share - t) < 0.06, f"$k share=$share%.3f target=$t")
    }
  }

  test("membership is invariant under repartitioning") {
    val a = Mixture.resampleToMixture(docs, "lang",
      col("doc_id").cast("string"), targets)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val b = Mixture.resampleToMixture(docs.repartition(7, col("source")), "lang",
      col("doc_id").cast("string"), targets)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("invalid targets and reserved columns are rejected") {
    assertThrows[IllegalArgumentException] {
      Mixture.resampleToMixture(docs, "lang", col("doc_id"), Map.empty)
    }
    assertThrows[IllegalArgumentException] {
      Mixture.resampleToMixture(docs, "lang", col("doc_id"), Map("en" -> 0.0))
    }
    assertThrows[IllegalArgumentException] {
      Mixture.resampleToMixture(docs.withColumn("__p", lit(1)), "lang",
        col("doc_id"), Map("en" -> 1.0))
    }
  }

  test("temperatureTargets: shares sum to ~1 and compress toward uniform") {
    val rows = Mixture.temperatureTargets(docs, "lang")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-5)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-5)
    // α = 0.5 compresses: every category above-average in raw share loses
    // share, every below-average category gains — strictly, unless uniform.
    val k = rows.length
    rows.foreach { case (_, _, raw, temp) =>
      if (raw > 1.0 / k + 1e-9) assert(temp < raw)
      if (raw < 1.0 / k - 1e-9) assert(temp > raw)
    }
    // ranking preserved: temperature rebalances, never reorders
    assert(rows.sortBy(_._3).map(_._1).toSeq ==
      rows.sortBy(_._4).map(_._1).toSeq)
  }

  test("temperatureCurve: alpha=1 reproduces natural shares, alpha=0 is " +
      "uniform, the max share flattens monotonically as alpha falls, " +
      "and the alpha=0.5 point equals temperatureTargets") {
    val cat = docs.select(col("doc_id"), col("lang").as("topic"))
    val curve = Mixture.temperatureCurve(cat, "topic",
      alphas = Seq(0.0, 0.5, 1.0)).persist()
    try {
      val k = cat.select(col("topic")).distinct().count()
      // alpha = 0: uniform 1/k
      val uni = math.rint(1e6 / k) / 1e6
      assert(curve.filter(col("alpha") === 0.0)
        .filter(abs(col("share_t") - uni) > 2e-6).count() === 0L)
      // alpha = 1: share_t == share_raw
      assert(curve.filter(col("alpha") === 1.0)
        .filter(abs(col("share_t") - col("share_raw")) > 2e-6)
        .count() === 0L)
      // flattening: max share non-increasing as alpha falls
      val maxes = curve.groupBy(col("alpha"))
        .agg(max(col("share_t")).as("m")).orderBy(col("alpha"))
        .collect().map(_.getDouble(1))
      assert(maxes.toSeq === maxes.sorted.toSeq, maxes.toSeq.toString)
      // the 0.5 point is exactly temperatureTargets
      val half = curve.filter(col("alpha") === 0.5)
        .select(col("topic"), col("share_t"))
      val tt = Mixture.temperatureTargets(cat, "topic")
        .select(col("topic"), col("share_t"))
      assert(half.except(tt).count() === 0L)
      assert(tt.except(half).count() === 0L)
    } finally { curve.unpersist(); () }
  }

  test("temperatureTargets feeds resampleToMixture as-is") {
    val targets = Mixture.temperatureTargets(docs, "lang")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val out = Mixture.resampleToMixture(docs, "lang",
      col("doc_id").cast("string"), targets)
    assert(out.count() > 0)
  }

  test("resampleToTargets with a static target table is row-identical " +
      "to resampleToMixture with the same map") {
    import sqlImplicits._
    val tdf = targets.toSeq.toDF("lang", "share_t")
    val viaTable = Mixture.resampleToTargets(docs, "lang",
        col("doc_id").cast("string"), tdf)
      .select(col("doc_id"))
    val viaMap = Mixture.resampleToMixture(docs, "lang",
        col("doc_id").cast("string"), targets)
      .select(col("doc_id"))
    assert(viaTable.except(viaMap).count() === 0L)
    assert(viaMap.except(viaTable).count() === 0L)
    // an untargeted category is dropped, exactly like an omitted map key
    assert(Mixture.resampleToTargets(docs, "lang",
      col("doc_id").cast("string"), tdf)
      .filter(col("lang") === "zh").count() === 0L)
    // a duplicated target row saturates (max share wins) instead of
    // double-joining and inflating the sample
    val dup = tdf.unionByName(Seq(("en", 0.1)).toDF("lang", "share_t"))
    val viaDup = Mixture.resampleToTargets(docs, "lang",
        col("doc_id").cast("string"), dup)
      .select(col("doc_id"))
    assert(viaDup.except(viaMap).count() === 0L)
    assert(viaMap.except(viaDup).count() === 0L)
  }

  // --- unimaxAllocation ------------------------------------------------------

  test("unimaxAllocation: hand-checked waterfill — small domains " +
      "saturate at their cap, the rest share the remaining budget") {
    import sqlImplicits._
    // caps [10, 20, 100], B = 130*6 div 13 = 60: a and b saturate
    // (10*3+0=30<=60, 20*2+10=50<=60), c gets (60-30)/1 = 30
    val counts = Seq(("a", 10L), ("b", 20L), ("c", 100L))
      .toDF("dom", "n_tok")
    val out = Mixture.unimaxAllocation(counts, "dom", "n_tok",
        maxEpochs = 1L, budgetNum = 6L, budgetDen = 13L)
      .orderBy(col("dom")).collect()
    assert(out.map(r => (r.getAs[String]("dom"), r.getAs[Boolean]("saturated"),
      r.getAs[Long]("alloc"))).toSeq ===
      Seq(("a", true, 10L), ("b", true, 20L), ("c", false, 30L)))
    assert(out.forall(_.getAs[Long]("leftover") === 0L))
    assert(out.head.getAs[Double]("epochs_used") === 1.0)
  }

  test("unimaxAllocation: a budget beyond total capacity saturates " +
      "everyone and reports the surplus; a floor remainder is " +
      "reported, never spread") {
    import sqlImplicits._
    val counts = Seq(("a", 10L), ("b", 20L), ("c", 50L), ("d", 50L))
      .toDF("dom", "n_tok")
    val surplus = Mixture.unimaxAllocation(counts, "dom", "n_tok",
      maxEpochs = 1L, budgetNum = 2L, budgetDen = 1L).collect()
    assert(surplus.forall(_.getAs[Boolean]("saturated")))
    assert(surplus.forall(_.getAs[Long]("leftover") === 130L))
    // B = 130*9 div 26 = 45: a saturates (10*4=40<=45), share
    // (45-10)/3 = 11 each, 45-10-33 = 2 left over
    val rem = Mixture.unimaxAllocation(counts, "dom", "n_tok",
        maxEpochs = 1L, budgetNum = 9L, budgetDen = 26L)
      .orderBy(col("dom")).collect()
    assert(rem.map(_.getAs[Long]("alloc")).toSeq === Seq(10L, 11L, 11L, 11L))
    assert(rem.forall(_.getAs[Long]("leftover") === 2L))
    val b = 45L
    assert(rem.map(_.getAs[Long]("alloc")).sum +
      rem.head.getAs[Long]("leftover") === b,
      "allocations plus leftover must reconstruct the budget exactly")
  }

  test("unimaxAllocation is invariant under input repartitioning") {
    import sqlImplicits._
    val counts = Seq(("a", 13L), ("b", 29L), ("c", 71L), ("d", 71L),
      ("e", 5L)).toDF("dom", "n_tok")
    val once = Mixture.unimaxAllocation(counts, "dom", "n_tok",
      maxEpochs = 2L, budgetNum = 3L, budgetDen = 4L)
    val again = Mixture.unimaxAllocation(counts.repartition(7), "dom",
      "n_tok", maxEpochs = 2L, budgetNum = 3L, budgetDen = 4L)
    assert(once.exceptAll(again).isEmpty && again.exceptAll(once).isEmpty)
  }

  test("dataConstrainedValue: one epoch is worth itself, under-allocation " +
      "is worth its allocation, and repetition decays by the fitted law") {
    import sqlImplicits._
    val alloc = Seq(("one", 100L, 100L), ("under", 100L, 60L),
      ("twice", 100L, 200L)).toDF("dom", "n_tok", "alloc")
    val out = Mixture.dataConstrainedValue(alloc, "dom", "n_tok", "alloc")
      .collect().map(r => r.getAs[String]("dom") -> r).toMap
    assert(out("one").getAs[Double]("eff_tokens") === 100.0 &&
      out("one").getAs[Double]("value_frac") === 1.0)
    assert(out("under").getAs[Double]("eff_tokens") === 60.0 &&
      out("under").getAs[Double]("value_frac") === 1.0)
    // R_D = 1: D' = 100*(1 + 15.39*(1 - e^(-1/15.39)))
    val expected = BigDecimal(100.0 * (1.0 + 15.39 *
      (1.0 - math.exp(-1.0 / 15.39))))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("twice").getAs[Double]("eff_tokens") === expected)
    assert(out("twice").getAs[Double]("value_frac") < 1.0)
  }

  test("q232/q233 graded geometry: both waterfill regimes appear on the " +
      "graded corpus, and every source's repeat value sits strictly " +
      "below 1 with the most-repeated source worth the least") {
    val card = SparkEntry.queries("q232_unimax_allocation")(spark, dir)
      .collect()
    val nSat = card.count(_.getAs[Boolean]("saturated"))
    assert(nSat > 0 && nSat < card.length,
      s"q232 must exercise BOTH regimes; got $nSat/${card.length} " +
        "saturated — retune the budget fraction if the corpus changed")
    val value = SparkEntry.queries("q233_repeat_value")(spark, dir)
      .collect()
    assert(value.forall(_.getAs[Double]("value_frac") < 1.0))
    val byEpochs = value.sortBy(_.getAs[Double]("epochs"))
    assert(byEpochs.last.getAs[Double]("value_frac") <=
      byEpochs.head.getAs[Double]("value_frac"),
      "more repetition must not be worth more per token")
  }

  test("unimaxAllocationBudget: an explicit budget equal to the standard " +
      "fraction reproduces unimaxAllocation row-for-row") {
    import sqlImplicits._
    val counts = Seq(("a", 100L), ("b", 40L), ("c", 7L), ("d", 900L))
      .toDF("dom", "n_tok")
    val std = Mixture.unimaxAllocation(counts, "dom", "n_tok",
      maxEpochs = 3L, budgetNum = 5L, budgetDen = 4L)
    val b = counts.agg(expr("(sum(n_tok) * 5) div 4").as("b"))
    val exp = Mixture.unimaxAllocationBudget(counts, "dom", "n_tok",
      maxEpochs = 3L, budget = b)
    assert(std.exceptAll(exp).isEmpty && exp.exceptAll(std).isEmpty)
  }

  test("epochCapCurve: allocation + leftover conserve the budget at every " +
      "cap, allocation is non-decreasing in the cap, and effective value " +
      "never exceeds the allocation") {
    import sqlImplicits._
    val counts = Seq(("a", 10L), ("b", 50L), ("c", 200L), ("d", 1000L))
      .toDF("dom", "n_tok")
    val budget = (10L + 50L + 200L + 1000L) * 2
    val rows = Mixture.epochCapCurve(counts, "dom", "n_tok",
      caps = Seq(1L, 2L, 4L, 16L), budgetNum = 2L, budgetDen = 1L)
      .orderBy(col("max_epochs")).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("total_alloc") + r.getAs[Long]("leftover")
        === budget, s"budget must be conserved: $r")
      assert(r.getAs[Double]("eff_tokens") <=
        r.getAs[Long]("total_alloc").toDouble, r.toString)
      assert(r.getAs[Long]("n_domains") === 4L)
      // the leftover is either CAPACITY-bound (everything saturated:
      // exactly the budget the caps cannot absorb) or the waterfill's
      // integer remainder, strictly under the unsaturated domain count
      // (NOT monotone in the cap — a looser cap can strand a couple of
      // remainder tokens a tight all-saturating cap didn't)
      val unsat = 4L - r.getAs[Long]("n_saturated")
      if (unsat == 0L)
        assert(r.getAs[Long]("total_alloc") ===
          (10L + 50L + 200L + 1000L) * r.getAs[Long]("max_epochs")
            .min(budget), r.toString)
      else assert(r.getAs[Long]("leftover") < unsat, r.toString)
    }
    // cap 1 cannot exceed one epoch of everything
    assert(rows.head.getAs[Long]("total_alloc") === budget / 2)
  }

  test("q248 graded geometry: the two phases split the corpus budget " +
      "EXACTLY (sum of allocations and leftovers = T), the anneal pool " +
      "is a strict subset of the full pool, and anneal never repeats") {
    val card = SparkEntry.queries("q248_anneal_schedule")(spark, dir)
      .collect()
    val (p1, p2) = card.partition(_.getAs[String]("phase") == "1_pretrain")
    assert(p1.length === 20 && p2.length === 20)
    val t = SparkEntry.queries("q232_unimax_allocation")(spark, dir)
      .agg(sum(col("n_tok"))).collect().head.getLong(0)
    val spent = (p1 ++ p2).map(_.getAs[Long]("alloc")).sum
    val stranded = p1.map(_.getAs[Long]("leftover")).head +
      p2.map(_.getAs[Long]("leftover")).head
    assert(spent + stranded === t,
      s"exact split violated: $spent + $stranded != $t")
    p2.foreach { r =>
      assert(r.getAs[Long]("n_tok") <= t &&
        r.getAs[Double]("epochs_used") <= 1.0001,
        s"anneal must not repeat: $r")
    }
    val full = p1.map(r => r.getAs[String]("source") ->
      r.getAs[Long]("n_tok")).toMap
    p2.foreach { r =>
      assert(r.getAs[Long]("n_tok") <=
        full(r.getAs[String]("source")),
        "quality pool cannot exceed the source's tokens")
    }
  }

  test("unimaxAllocationBudget: an empty or multi-row budget fails fast " +
      "instead of silently returning garbage") {
    import sqlImplicits._
    val counts = Seq(("a", 100L), ("b", 40L)).toDF("dom", "n_tok")
    val empty = Seq.empty[Long].toDF("b")
    val multi = Seq(100L, 200L).toDF("b")
    val e1 = intercept[Exception] {
      Mixture.unimaxAllocationBudget(counts, "dom", "n_tok", 2L, empty)
        .collect()
    }
    assert(e1.getMessage.contains("exactly one row") ||
      Option(e1.getCause).exists(_.getMessage.contains("exactly one row")))
    val e2 = intercept[Exception] {
      Mixture.unimaxAllocationBudget(counts, "dom", "n_tok", 2L, multi)
        .collect()
    }
    assert(e2.getMessage.contains("exactly one row") ||
      Option(e2.getCause).exists(_.getMessage.contains("exactly one row")))
  }

  test("zero-capacity domain composed into dataConstrainedValue reads as " +
      "0 epochs / 0 value, never NaN") {
    import sqlImplicits._
    val counts = Seq(("a", 100L), ("empty", 0L)).toDF("dom", "n_tok")
    val al = Mixture.unimaxAllocation(counts, "dom", "n_tok",
      maxEpochs = 2L, budgetNum = 1L, budgetDen = 1L)
    val out = Mixture.dataConstrainedValue(
      al.select(col("dom"), col("n_tok"), col("alloc")),
      "dom", "n_tok", "alloc")
      .collect().map(r => r.getAs[String]("dom") -> r).toMap
    val z = out("empty")
    assert(z.getAs[Long]("alloc") === 0L)
    assert(z.getAs[Double]("epochs") === 0.0 &&
      !z.getAs[Double]("epochs").isNaN)
    assert(z.getAs[Double]("eff_tokens") === 0.0 &&
      z.getAs[Double]("value_frac") === 0.0)
  }

  test("leaveOneOutSensitivity: base matches unimaxAllocation, deltas " +
      "are never negative at a fixed budget, each drop conserves the " +
      "budget up to the integer leftover, and every drop's own LOO " +
      "group matches a hand-filtered re-waterfill") {
    import sqlImplicits._
    val counts = Seq(("a", 100L), ("b", 200L), ("c", 700L), ("d", 2000L))
      .toDF("dom", "n_tok")
    // q232 operating point shape: cap 1, budget 9/10 of T = 2700
    val loo = Mixture.leaveOneOutSensitivity(counts, "dom", "n_tok",
      maxEpochs = 1L, budgetNum = 9L, budgetDen = 10L).collect()
    assert(loo.length === 12) // 4 × 3 ordered pairs
    val base = Mixture.unimaxAllocation(counts, "dom", "n_tok", 1L, 9L, 10L)
      .collect().map(r => r.getAs[String]("dom") -> r.getAs[Long]("alloc"))
      .toMap
    loo.foreach { r =>
      assert(r.getAs[Long]("alloc_base") === base(r.getAs[String]("source")))
      assert(r.getAs[Long]("delta") >= 0L,
        "losing a source never shrinks a survivor at fixed budget: " + r)
    }
    // per dropped domain: Σalloc ≤ B and the leftover is < the number
    // of unsaturated survivors (the waterfill remainder bound)
    val b = 3000L * 9L / 10L // ⌊9T/10⌋ over the FULL table = 2700
    loo.groupBy(_.getAs[String]("dropped")).foreach { case (d, rows) =>
      val tot = rows.map(_.getAs[Long]("alloc_drop")).sum
      val caps = rows.map(r => math.min(r.getAs[Long]("n_tok"), b)).sum
      assert(tot <= b, s"drop $d over-allocates")
      assert(tot === math.min(b, rows.map(_.getAs[Long]("n_tok")).sum)
        || b - tot < 3, s"drop $d leaves more than the integer remainder")
      assert(caps >= tot)
    }
    // hand-check one group: drop d → survivors a,b,c all saturate
    // (total cap 1000 < 2700) and the rest of the budget is leftover
    val dropD = loo.filter(_.getAs[String]("dropped") == "d")
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("alloc_drop"))
      .toMap
    assert(dropD === Map("a" -> 100L, "b" -> 200L, "c" -> 700L))
    // drop a: b,c saturate (ssat = 900), d takes (2700 − 900) ÷ 1 —
    // exactly 100 more than its base share (a's freed saturation)
    val dropA = loo.filter(_.getAs[String]("dropped") == "a")
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("alloc_drop"))
      .toMap
    assert(dropA === Map("b" -> 200L, "c" -> 700L, "d" -> 1800L))
  }

  // --- grouped grids equal their per-point calls -----------------------------

  /** A domain table with a zero-capacity domain, and budgets under which
    * some caps saturate every domain and others leave the large ones
    * unsaturated. */
  private def gridDomains = {
    import sqlImplicits._
    Seq(("z", 0L), ("a", 10L), ("b", 50L), ("c", 200L), ("d", 1000L))
      .toDF("dom", "n_tok")
  }

  test("epochCapCurve: every grouped cap row equals a standalone " +
      "unimaxAllocation + dataConstrainedValue at that cap") {
    val caps = Seq(16L, 1L, 4L, 2L, 4L)
    val curve = Mixture.epochCapCurve(gridDomains, "dom", "n_tok",
        caps = caps, budgetNum = 1L, budgetDen = 1L)
      .collect().map(r => r.getAs[Long]("max_epochs") -> r).toMap
    assert(curve.keySet === caps.toSet)
    val nSat = caps.distinct.map { cap =>
      val one = Mixture.unimaxAllocation(gridDomains, "dom", "n_tok", cap,
        1L, 1L)
      val al = one.collect()
      val cents = Mixture.dataConstrainedValue(
          one.select(col("dom"), col("n_tok"), col("alloc")),
          "dom", "n_tok", "alloc").collect()
        .map(r => math.round(r.getAs[Double]("eff_tokens") * 100)).sum
      val total = al.map(_.getAs[Long]("alloc")).sum
      val sat = al.count(_.getAs[Boolean]("saturated")).toLong
      val r = curve(cap)
      assert(r.getAs[Long]("n_domains") === 5L, r.toString)
      assert(r.getAs[Long]("n_saturated") === sat, r.toString)
      assert(r.getAs[Long]("total_alloc") === total, r.toString)
      assert(r.getAs[Long]("leftover") ===
        al.map(_.getAs[Long]("leftover")).min, r.toString)
      assert(r.getAs[Double]("eff_tokens") === cents / 100.0, r.toString)
      assert(r.getAs[Double]("value_frac") === BigDecimal(
        cents.toDouble / (total.toDouble * 100.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, r.toString)
      sat
    }
    // the grid exercises both regimes: some cap saturates every domain,
    // another leaves some unsaturated
    assert(nSat.contains(5L) && nSat.exists(_ < 5L), nSat.toString)
  }

  test("unimaxAllocationBudget keyed by a grid column: each group's rows " +
      "equal a standalone call on that group's slice") {
    import sqlImplicits._
    val grid = gridDomains.crossJoin(Seq(1L, 3L).toDF("g"))
      .withColumn("n_tok", col("n_tok") * col("g"))
    val budget = Seq(700L).toDF("b")
    val keyed = Mixture.unimaxAllocationBudget(grid, "dom", "n_tok", 2L,
      budget, keys = Seq("g"))
    assert(keyed.columns.head === "g")
    Seq(1L, 3L).foreach { g =>
      val one = Mixture.unimaxAllocationBudget(
        grid.filter(col("g") === g).select(col("dom"), col("n_tok")),
        "dom", "n_tok", 2L, budget)
      val got = keyed.filter(col("g") === g).drop("g")
      assert(got.exceptAll(one).isEmpty && one.exceptAll(got).isEmpty,
        s"group g=$g")
    }
  }

  test("temperatureCurve: every alpha's rows in the grouped curve equal " +
      "a one-alpha call") {
    import sqlImplicits._
    val cat = Seq("x" -> 1, "y" -> 4, "y" -> 5, "z" -> 6, "z" -> 7,
        "z" -> 8, "w" -> 9, "w" -> 10, "w" -> 11, "w" -> 12)
      .toDF("topic", "id")
    val alphas = Seq(1.0, 0.0, 0.75, 0.5)
    val curve = Mixture.temperatureCurve(cat, "topic", alphas)
    assert(curve.count() === 4L * alphas.size)
    alphas.foreach { a =>
      val got = curve.filter(col("alpha") === a)
      val one = Mixture.temperatureCurve(cat, "topic", Seq(a))
      assert(got.exceptAll(one).isEmpty && one.exceptAll(got).isEmpty,
        s"alpha=$a")
    }
  }
}
