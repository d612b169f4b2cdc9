package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Product quantization (`pqAssigned` / `pqCodebook` / `pqAdcTopK` /
  * `pqRecallAtK`) — structural invariants of the code/codebook pair, the
  * integer-ADC scoring contract, and the recall gauge against the exact
  * inner-product scan. */
class PqSpec extends SparkSpec {
  import sqlImplicits._

  private val dir = "/root/testdata/sf0.001"
  private val (m, sub) = (8, 8)

  private def emb = Tables.load(spark, dir, "embeddings")

  test("pqAssigned emits exactly m rows per vector, each carrying the " +
    "right subvector slice") {
    val n = emb.count()
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 1, k = 8)
    assert(assigned.count() === n * m)
    assert(assigned.groupBy(col("vec_id")).agg(
      countDistinct(col("slice")).as("s")).filter(col("s") =!= m)
      .count() === 0L)
    // slice j of vec v must equal elements [j*sub+1, (j+1)*sub] of v
    val bad = assigned.join(
        emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("full")),
        Seq("vec_id"))
      .filter(col("e") =!= slice(col("full"),
        (col("slice") * sub + 1).cast("int"), lit(sub)))
    assert(bad.count() === 0L)
  }

  test("the m slice quantizers train as one plan: building pqAssigned " +
    "at m = 8 starts no more Spark jobs than at m = 1") {
    def jobs(slices: Int): Int =
      jobsDuring(Similarity.pqAssigned(emb, slices, sub, iters = 2, k = 32))
    val (one, eight) = (jobs(1), jobs(8))
    assert(one > 0, "the eager Lloyd rounds start jobs at build time")
    assert(eight <= one, s"m = 8 started $eight jobs, m = 1 started $one")
  }

  test("keyed training equals per-slice training: every slice of " +
    "pqAssigned and of its codebook matches lloydAssigned and " +
    "trainedCentroids on that slice alone, row for row") {
    val k = 16
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 2, k = k)
      .persist()
    try {
      val cb = Similarity.pqCodebook(assigned).persist()
      try {
        def rows(df: DataFrame): Seq[(Long, Seq[Double], Long)] =
          df.collect().map(r =>
            (r.getLong(0), r.getSeq[Double](1).toSeq, r.getLong(2))).toSeq
            .sortBy(r => (r._1, r._3))
        def cents(df: DataFrame): Seq[(Long, Seq[Double])] =
          df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
            .toSeq.sortBy(_._1)
        (0 until m).foreach { j =>
          val alone = Similarity.lloydAssigned(
            emb.select(col("vec_id"),
              slice(col("embedding").cast("array<double>"), j * sub + 1, sub)
                .as("embedding")),
            iters = 2, k = k)
          val keyed = assigned.filter(col("slice") === j.toLong)
          val got = rows(keyed.select(col("vec_id"), col("e"), col("cluster")))
          assert(got.nonEmpty, s"slice $j is empty")
          assert(got === rows(alone.select(col("vec_id"), col("e"),
            col("cluster"))), s"slice $j assignment")
          assert(cents(cb.filter(col("slice") === j.toLong)
              .select(col("code"), col("centroid"))) ===
            cents(Similarity.trainedCentroids(alone)), s"slice $j codebook")
        }
      } finally { cb.unpersist(); () }
    } finally { assigned.unpersist(); () }
  }

  test("pqAssigned with k = 0 fails with an error naming k") {
    val e = intercept[IllegalArgumentException](
      Similarity.pqAssigned(emb, m, sub, iters = 1, k = 0))
    assert(e.getMessage.contains("k (codewords per slice) must be >= 1"),
      e.getMessage)
  }

  test("pqCodebook is self-consistent with the codes: every (slice, code) " +
    "in use has a codeword of the slice width") {
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 2, k = 16)
      .persist()
    try {
      val cb = Similarity.pqCodebook(assigned)
      assert(cb.filter(size(col("centroid")) =!= sub).count() === 0L)
      val orphaned = assigned
        .select(col("slice"), col("cluster").as("code")).distinct()
        .join(cb, Seq("slice", "code"), "left_anti")
      assert(orphaned.count() === 0L)
      // k codewords per slice at most (clusters can vanish, never split)
      assert(cb.groupBy(col("slice")).count()
        .filter(col("count") > 16).count() === 0L)
    } finally { assigned.unpersist(); () }
  }

  test("ADC score is the exact integer sum of the per-slice rounded " +
    "partials (driver-side replay over the collected codebook)") {
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 1, k = 8)
      .persist()
    try {
      val queries = emb.filter(col("vec_id") < 2)
      val got = Similarity.pqAdcTopK(queries, assigned, k = 5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap
      assert(got.nonEmpty)
      val cb = Similarity.pqCodebook(assigned).collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          r.getSeq[Double](2).toArray)).toMap
      val codes = assigned.select(col("slice"), col("vec_id"), col("cluster"))
        .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getLong(2))
        .toMap
      val qv = queries.select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
        .toMap
      got.foreach { case ((qid, vid), adc) =>
        val expected = (0 until m).map { j =>
          val cw = cb((j.toLong, codes((vid, j.toLong))))
          val qs = qv(qid).slice(j * sub, (j + 1) * sub)
          val d = qs.zip(cw).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
          math.round(BigDecimal(d).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
        }.sum
        assert(adc === expected, s"adc mismatch for ($qid, $vid)")
      }
    } finally { assigned.unpersist(); () }
  }

  test("recall gauge: PQ ADC top-10 recovers far more of the exact " +
    "inner-product top-10 than chance") {
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 2, k = 32)
      .persist()
    try {
      val r = Similarity.pqRecallAtK(emb.filter(col("vec_id") < 8), emb,
          assigned, k = 10)
        .agg(avg(col("recall")).as("r")).head().getDouble(0)
      // chance for k=10 of 499 is ~0.02; the graded sf0.01 run measures
      // ~0.31 on this geometry — gate well above chance, below measured
      assert(r >= 0.15, s"mean recall $r — PQ index quality collapsed")
    } finally { assigned.unpersist(); () }
  }

  test("ivfAdcIndex: m code rows per vector, each carrying the vector's " +
    "coarse list; no floats in the stored table") {
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 1, k = 8)
      .persist()
    try {
      val coarse = Similarity.assignToCentroids(emb)
        .select(col("vec_id"), col("cluster"))
      val idx = Similarity.ivfAdcIndex(coarse, assigned)
      assert(idx.count() === emb.count() * m)
      // every row's ivf equals its vector's coarse assignment
      val bad = idx.join(coarse.withColumnRenamed("cluster", "expected"),
          Seq("vec_id"))
        .filter(col("ivf") =!= col("expected"))
      assert(bad.count() === 0L)
      assert(idx.columns.toSet === Set("vec_id", "slice", "code", "ivf"))
    } finally { assigned.unpersist(); () }
  }

  test("ivfAdcTopK with nprobe >= the list count is row-identical to the " +
    "full-scan pqAdcTopK (probing everything IS the full scan)") {
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 1, k = 8)
      .persist()
    try {
      val coarse = Similarity.assignToCentroids(emb)
        .select(col("vec_id"), col("cluster"))
      val idx = Similarity.ivfAdcIndex(coarse, assigned)
      val nLists = coarse.select(col("cluster")).distinct().count().toInt
      val q = emb.filter(col("vec_id") < 4)
      val full = Similarity.pqAdcTopK(q, assigned, k = 10)
      val probedAll = Similarity.ivfAdcTopK(q, emb, idx, assigned,
        nprobe = nLists, k = 10)
      assert(probedAll.exceptAll(full).count() === 0L)
      assert(full.exceptAll(probedAll).count() === 0L)
    } finally { assigned.unpersist(); () }
  }

  test("pruning never alters a score: every ivfAdcTopK pair carries " +
    "exactly the full-ADC integer score, and the recall gauge stays " +
    "well above chance at nprobe=2") {
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 2, k = 32)
      .persist()
    try {
      val coarse = Similarity.assignToCentroids(emb)
        .select(col("vec_id"), col("cluster"))
      val idx = Similarity.ivfAdcIndex(coarse, assigned).persist()
      val q = emb.filter(col("vec_id") < 8)
      val pruned = Similarity.ivfAdcTopK(q, emb, idx, assigned,
        nprobe = 2, k = 10)
      // full ADC scores for ALL pairs (k large enough to keep everything)
      val full = Similarity.pqAdcTopK(q, assigned, k = 100000)
        .select(col("qid"), col("vec_id"), col("adc").as("full_adc"))
      val joined = pruned.join(full, Seq("qid", "vec_id"), "left").persist()
      assert(joined.filter(col("full_adc").isNull).count() === 0L,
        "pruned result contained a pair absent from the full scan")
      assert(joined.filter(col("adc") =!= col("full_adc")).count() === 0L,
        "pruning changed an ADC score")
      val r = Similarity.ivfAdcRecallAtK(q, emb, idx, assigned,
          nprobe = 2, k = 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      assert(r >= 0.10, s"mean IVF-ADC recall $r collapsed")
      joined.unpersist(); idx.unpersist()
    } finally { assigned.unpersist(); () }
  }

  test("recall-vs-nprobe curve: mean recall is non-decreasing, each point " +
    "matches the single-shot gauge, and probing every list tops out the " +
    "curve") {
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 1, k = 8)
      .persist()
    try {
      val coarse = Similarity.assignToCentroids(emb)
        .select(col("vec_id"), col("cluster"))
      val idx = Similarity.ivfAdcIndex(coarse, assigned).persist()
      val nLists = coarse.select(col("cluster")).distinct().count().toInt
      val q = emb.filter(col("vec_id") < 4)
      val curve = Similarity.ivfAdcRecallCurve(q, emb, idx, assigned,
        nprobes = Seq(1, 2, nLists), k = 10).persist()
      // the mean curve is the dial: non-decreasing in nprobe
      val means = curve.groupBy(col("nprobe"))
        .agg(avg(col("recall")).as("r"))
        .orderBy(col("nprobe"))
        .collect().map(_.getDouble(1))
      assert(means.length === 3)
      assert(means.sliding(2).forall(p => p(0) <= p(1) + 1e-12),
        s"mean recall decreased along the curve: ${means.mkString(", ")}")
      // every curve point row-matches the independently-computed gauge
      for (np <- Seq(1, 2, nLists)) {
        val point = curve.filter(col("nprobe") === np)
          .select(col("qid"), col("n_exact"), col("hits"), col("recall"))
        val gauge = Similarity.ivfAdcRecallAtK(q, emb, idx, assigned,
          nprobe = np, k = 10)
        assert(point.except(gauge).count() === 0L, s"np=$np extra rows")
        assert(gauge.except(point).count() === 0L, s"np=$np missing rows")
      }
      curve.unpersist(); idx.unpersist()
    } finally { assigned.unpersist(); () }
  }

  test("residual IVF-PQ: residuals carry strictly less energy than the " +
    "raw vectors, the two-term score is exactly base + ADC sum, and the " +
    "gauge stays above chance") {
    val coarseA = Similarity.assignToCentroids(emb).persist()
    try {
      val cents = Similarity.labelCentroids(emb)
      val res = Similarity.ivfResiduals(coarseA, cents)
      // energy: mean ||r||² < mean ||v||² — the reason residual encoding
      // quantizes finer on the same code budget
      val rawE = emb.select(avg(Similarity.dot(
        col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")))).head().getDouble(0)
      val resE = res.select(avg(Similarity.dot(
        col("embedding"), col("embedding")))).head().getDouble(0)
      assert(resE < rawE, s"residual energy $resE !< raw $rawE")
      val assignedRes = Similarity.pqAssigned(res, m, sub, iters = 2, k = 32)
        .persist()
      val idx = Similarity.ivfAdcIndex(
        coarseA.select(col("vec_id"), col("cluster")), assignedRes).persist()
      val q = emb.filter(col("vec_id") < 4)
      // two-term exactness: every result's adc equals the residual ADC
      // sum (recomputed via a full-probe pqAdcTopK over the residual
      // codes) plus the query-list base term
      val got = Similarity.ivfPqAdcTopK(q, emb, idx, assignedRes,
        nprobe = 2, k = 5)
      val resOnly = Similarity.pqAdcTopK(q, assignedRes, k = 100000)
        .select(col("qid"), col("vec_id"), col("adc").as("res_adc"))
      val base = q.select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qe"))
        .crossJoin(broadcast(
          cents.select(col("label").as("ivf"), col("centroid"))))
        .select(col("qid"), col("ivf"),
          round(round(Similarity.dot(col("qe"), col("centroid")), 6) * 1e6)
            .cast("long").as("base"))
      val lists = coarseA.select(col("vec_id"), col("cluster").as("ivf"))
      val bad = got.join(lists, Seq("vec_id"))
        .join(base, Seq("qid", "ivf"))
        .join(resOnly, Seq("qid", "vec_id"))
        .filter(col("adc") =!= col("res_adc") + col("base"))
      assert(bad.count() === 0L, "adc != base + residual sum")
      val r = Similarity.ivfPqRecallAtK(emb.filter(col("vec_id") < 8), emb,
          idx, assignedRes, nprobe = 2, k = 10)
        .agg(avg(col("recall"))).head().getDouble(0)
      assert(r >= 0.10, s"mean residual IVF-PQ recall $r collapsed")
      assignedRes.unpersist(); idx.unpersist()
    } finally { coarseA.unpersist(); () }
  }

  test("identical vectors quantize to identical codes and tie in ADC") {
    val base = Array.tabulate(64)(i => (math.sin(i * 1.7) * 0.5).toFloat)
    val other = Array.tabulate(64)(i => (math.cos(i * 2.3) * 0.5).toFloat)
    val vecs = Seq(
      (0L, 1L, base), (1L, 1L, base), (2L, 2L, other),
      (3L, 2L, other.map(x => (x * 0.9f + 0.01f)))
    ).toDF("vec_id", "label", "embedding")
    val assigned = Similarity.pqAssigned(vecs, m, sub, iters = 1, k = 2)
    val codes = assigned.select(col("vec_id"), col("slice"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    (0 until m).foreach { j =>
      assert(codes((0L, j.toLong)) === codes((1L, j.toLong)),
        s"identical vectors diverged on slice $j")
    }
  }

  test("frozen encode: append invariance (piecewise == one-pass), full " +
      "slice coverage, and every code exists in the frozen codebook") {
    val hist = emb.filter(col("vec_id") % 4 =!= 3)
    val batch = emb.filter(col("vec_id") % 4 === 3)
    val cb = Similarity.pqCodebook(
      Similarity.pqAssigned(hist, m, sub, iters = 1, k = 8)).persist()
    try {
      val onePass = Similarity.pqEncodeFrozen(emb, cb)
      val pieces = Similarity.pqEncodeFrozen(hist, cb)
        .unionByName(Similarity.pqEncodeFrozen(batch, cb))
      assert(onePass.except(pieces).count() === 0L)
      assert(pieces.except(onePass).count() === 0L)
      assert(onePass.count() === emb.count() * m)
      val orphaned = onePass
        .select(col("slice"), col("cluster").as("code")).distinct()
        .join(cb, Seq("slice", "code"), "left_anti")
      assert(orphaned.count() === 0L)
    } finally { cb.unpersist(); () }
  }

  test("SQ8: a binary {0, s} corpus round-trips losslessly — the " +
      "quantized scan IS the exact scan") {
    // elements ∈ {0, 0.5} are float32-exact, x/s ∈ {0, 1} is an exact
    // division, so codes are exactly {0, 127} and
    // intdot·s_a·s_b/127² = overlap·s² reproduces the exact dot product
    def v(ns: Int*) = ns.map(n => (n * 0.5).toFloat).toArray
    val vecs = Seq(
      (0L, 1L, v(1, 1, 0, 0)), (1L, 1L, v(1, 0, 1, 0)),
      (2L, 2L, v(1, 1, 1, 0)), (3L, 2L, v(0, 1, 1, 1)),
      (4L, 2L, v(1, 0, 0, 1))).toDF("vec_id", "label", "embedding")
    val quant = Similarity.sq8Quantize(vecs)
    // codes really are the saturated integers
    val qs = quant.filter(col("vec_id") === 0L)
      .select(col("qv")).collect()(0).getSeq[Double](0)
    assert(qs === Seq(127.0, 127.0, 0.0, 0.0))
    val got = Similarity.sq8DotTopK(vecs.filter(col("vec_id") < 2), quant,
        k = 3)
      .select(col("qid"), col("vec_id"), col("sim"), col("rnk"))
    val want = Similarity.bruteForceDotTopK(vecs.filter(col("vec_id") < 2),
        vecs, k = 3)
      .select(col("qid"), col("vec_id"), col("sim"), col("rnk"))
    assert(got.except(want).count() === 0L)
    assert(want.except(got).count() === 0L)
  }

  test("SQ8 on the real corpus: recall@10 far above the PQ gauge at the " +
      "same k — int8 barely perturbs the ranking") {
    val queries = emb.filter(col("vec_id") < 8)
    val quant = Similarity.sq8Quantize(emb).persist()
    try {
      val sq8 = Similarity.sq8RecallAtK(queries, emb, quant, k = 10)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
      assert(sq8 >= 0.8, s"SQ8 mean recall $sq8 — int8 should be near-exact")
    } finally { quant.unpersist(); () }
  }

  test("IVF-SQ8 with nprobe >= the list count is row-identical to the " +
      "full SQ8 scan (probing everything IS the full scan)") {
    val queries = emb.filter(col("vec_id") < 4)
    val quant = Similarity.sq8Quantize(emb)
    val coarse = Similarity.assignToCentroids(emb)
      .select(col("vec_id"), col("cluster").as("ivf"))
    val index = quant.join(coarse, Seq("vec_id")).persist()
    try {
      val nLists = emb.select(col("label")).distinct().count().toInt
      val routed = Similarity.ivfSq8TopK(queries, emb, index,
          nprobe = nLists, k = 5)
        .select(col("qid"), col("vec_id"), col("sim"), col("rnk"))
      val full = Similarity.sq8DotTopK(queries, quant, k = 5)
        .select(col("qid"), col("vec_id"), col("sim"), col("rnk"))
      assert(routed.except(full).count() === 0L)
      assert(full.except(routed).count() === 0L)
    } finally { index.unpersist(); () }
  }

  test("listOccupancyDrift: counts conserve the corpus split, shares sum " +
      "to 1, and drift is the exact share gap") {
    val coarse = Similarity.assignToCentroids(emb)
      .select(col("vec_id"), col("cluster"))
    val drift = Similarity.listOccupancyDrift(coarse,
      col("vec_id") % 4 === 3).persist()
    try {
      val t = drift.agg(sum(col("n_hist")), sum(col("n_batch")),
          sum(col("share_hist")), sum(col("share_batch")))
        .collect()(0)
      assert(t.getLong(0) === emb.filter(col("vec_id") % 4 =!= 3).count())
      assert(t.getLong(1) === emb.filter(col("vec_id") % 4 === 3).count())
      assert(math.abs(t.getDouble(2) - 1.0) < 1e-4)
      assert(math.abs(t.getDouble(3) - 1.0) < 1e-4)
      assert(drift.filter(col("drift") < 0 || col("drift") > 1)
        .count() === 0L)
      // drift really is |share_batch − share_hist| up to the rounding
      assert(drift.filter(
        abs(col("drift") - abs(col("share_batch") - col("share_hist")))
          > 2e-6).count() === 0L)
    } finally { drift.unpersist(); () }
  }

  test("listOccupancyDrift zero-guard: a predicate matching ALL rows " +
      "(empty history) yields share_hist 0.0 and a defined drift, " +
      "never nulls") {
    val coarse = Similarity.assignToCentroids(emb)
      .select(col("vec_id"), col("cluster"))
    val drift = Similarity.listOccupancyDrift(coarse, lit(true))
    assert(drift.filter(col("share_hist").isNull ||
      col("share_batch").isNull || col("drift").isNull).count() === 0L)
    assert(drift.filter(col("share_hist") =!= 0.0).count() === 0L)
    assert(drift.filter(abs(col("drift") - col("share_batch")) > 2e-6)
      .count() === 0L)
  }

  test("index decision card: every family row's hit sum equals its " +
      "standalone gauge, and the lossless families top the table") {
    val sfDir = dir
    def sumHits(q: String): Long =
      SparkEntry.queries(q)(spark, sfDir)
        .agg(sum(col("hits"))).collect()(0).getLong(0)
    val card = SparkEntry.queries("q189_index_card")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(card("pq") === sumHits("q168_pq_recall"))
    assert(card("ivf_adc") === sumHits("q171_ivf_adc"))
    assert(card("ivf_pq_res") === sumHits("q174_ivfpq_residual"))
    assert(card("sq8") === sumHits("q184_sq8_recall"))
    assert(card("ivf_sq8") === sumHits("q186_ivf_sq8"))
    assert(card("nsw_lite") === sumHits("q198_nsw_lite"))
    assert(card("exact") === card.values.max,
      "exact must top the hit table")
  }

  test("rank metrics agree with the recall gauge (n_rel_found == hits) " +
      "and sit in their defined ranges; a rank-1 hit means mrr == 1") {
    val queries = emb.filter(col("vec_id") < 8)
    val assigned = Similarity.pqAssigned(emb, m, sub, iters = 2, k = 16)
      .persist()
    try {
      val coarse = Similarity.assignToCentroids(emb)
        .select(col("vec_id"), col("cluster"))
      val index = Similarity.ivfAdcIndex(coarse, assigned)
        .persist()
      try {
        val metrics = Similarity.ivfAdcRankMetrics(queries, emb, index,
          assigned, nprobe = 2, k = 10).persist()
        try {
          val recall = Similarity.ivfAdcRecallAtK(queries, emb, index,
            assigned, nprobe = 2, k = 10)
          val mismatched = metrics.join(recall, Seq("qid"))
            .filter(col("n_rel_found") =!= col("hits"))
          assert(mismatched.count() === 0L)
          assert(metrics.filter(col("mrr") < 0 || col("mrr") > 1 ||
            col("ndcg") < 0 || col("ndcg") > 1).count() === 0L)
          // mrr == 1 iff the approximate rank-1 item is exact-relevant
          val approxTop = Similarity.ivfAdcTopK(queries, emb, index,
              assigned, nprobe = 2, k = 10)
            .filter(col("rnk") === 1L)
            .select(col("qid"), col("vec_id"))
          val exactSet = Similarity.bruteForceDotTopK(queries, emb, 10)
            .select(col("qid"), col("vec_id"))
          val top1Hit = approxTop.join(exactSet, Seq("qid", "vec_id"),
              "left_semi")
            .select(col("qid")).collect().map(_.getLong(0)).toSet
          metrics.select(col("qid"), col("mrr")).collect().foreach { r =>
            assert((r.getDouble(1) == 1.0) === top1Hit(r.getLong(0)),
              s"mrr/top-1 disagreement for qid ${r.getLong(0)}")
          }
        } finally { metrics.unpersist(); () }
      } finally { index.unpersist(); () }
    } finally { assigned.unpersist(); () }
  }
}
