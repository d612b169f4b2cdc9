package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Mixture, NearDup, Packing, Similarity,
  Sketches, Takedown}

/** The division-hardening sweep (ADVICE pattern, bitten twice before
  * round 11's guards): every curve/card operator must stay WELL-DEFINED
  * on an EMPTY corpus — counts zero, rates 0.0, never a silent null
  * from an unguarded division. Each test asserts no-throw plus no-null
  * in every output column (the one documented exception: an empty
  * registry's `last_batch` is null — "no batch seen" is the honest
  * value, there is no division behind it). */
class EmptyInputSpec extends SparkSpec {

  private def assertNoNulls(df: DataFrame,
      allowNull: Set[String] = Set.empty): Unit = {
    val cols = df.columns
    df.collect().foreach { r =>
      cols.zipWithIndex.foreach { case (c, i) =>
        if (!allowNull(c))
          assert(!r.isNullAt(i), s"unguarded null in column $c of row $r")
        if (!r.isNullAt(i)) r.get(i) match {
          case d: Double => assert(!d.isNaN, s"NaN in column $c of row $r")
          case _ => ()
        }
      }
    }
  }

  private def emptyDocs = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }
  private def emptyEmb = {
    import spark.implicits._
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
  }
  private def emptyPacked = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long)].toDF("id", "w", "shard", "bin")
  }

  test("packing family: packGreedy of an empty corpus is empty; the " +
      "card, stats and blast radius report zeros with fill/dirty " +
      "fractions 0.0, never null") {
    import spark.implicits._
    val packed = Packing.packGreedy(emptyDocs, "doc_id",
      "doc_id", budget = 512L, shards = 4)
    assert(packed.count() === 0L)
    val card = Packing.packCard(emptyPacked, budget = 512L)
    assertNoNulls(card)
    assert(card.collect().head.getAs[Double]("fill_rate") === 0.0)
    val stats = Packing.packStats(emptyPacked, budget = 512L)
    assertNoNulls(stats)
    assert(stats.collect().head.getAs[Double]("mean_fill") === 0.0)
    val blast = Packing.takedownBlastRadius(emptyPacked,
      Seq(1L, 2L).toDF("id"), "id")
    assertNoNulls(blast)
    val b = blast.collect().head
    assert(b.getAs[Long]("n_bins") === 0L)
    assert(b.getAs[Double]("dirty_frac") === 0.0)
  }

  test("takedown family: purging an empty store is empty and the " +
      "receipt files an all-zero line") {
    import spark.implicits._
    val store = Seq.empty[(Long, Long)].toDF("vec_id", "code")
    val tombs = Seq(3L, 9L).toDF("vec_id")
    assert(Takedown.purge(store, tombs, "vec_id").count() === 0L)
    val receipt = Takedown.purgeReceipt(store, tombs, "vec_id", "s")
    assertNoNulls(receipt)
    val r = receipt.collect().head
    assert(r.getAs[Long]("rows_before") === 0L &&
      r.getAs[Long]("rows_dropped") === 0L &&
      r.getAs[Long]("rows_after") === 0L)
  }

  test("similarity curves: tau curve, contamination curve, occupancy " +
      "drift, dimension truncation and quantStats are all well-defined " +
      "on an empty embedding corpus") {
    import spark.implicits._
    val assigned = Seq.empty[(Long, Array[Double], Int)]
      .toDF("vec_id", "e", "cluster")
    val tau = Similarity.semDedupTauCurve(assigned, Seq(0.2, 0.5))
    assertNoNulls(tau)
    assert(tau.collect().forall(_.getAs[Double]("dup_rate") === 0.0))
    val cont = Similarity.contaminationTauCurve(emptyEmb, emptyEmb,
      Seq(0.3, 0.7))
    assertNoNulls(cont)
    assert(cont.collect().forall(_.getAs[Double]("rate") === 0.0))
    val coarse = Seq.empty[(Long, Int)].toDF("vec_id", "cluster")
    val drift = Similarity.listOccupancyDrift(coarse, col("vec_id") >= 250)
    assertNoNulls(drift)
    assert(drift.count() === 0L)
    assert(Similarity.dimTruncationCurve(emptyEmb, emptyEmb,
      dims = Seq(4), k = 5).count() === 0L)
    assert(Similarity.quantStats(emptyEmb).count() === 0L)
    // the non-empty degenerate: an all-zero vector quantizes to zeros,
    // never divides by its zero scale
    val zeroVec = Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val qs = Similarity.quantStats(zeroVec)
    assertNoNulls(qs)
    assert(qs.collect().head.getAs[Double]("scale") === 0.0)
  }

  test("quantizer chain: pqAssigned, pqCodebook, pqAdcTopK, " +
      "lloydAssigned with k > 0 and labelCentroids return zero rows on " +
      "an empty embedding corpus") {
    val assigned = Similarity.pqAssigned(emptyEmb, m = 2, sub = 2,
      iters = 2, k = 4)
    assert(assigned.count() === 0L)
    assert(Similarity.pqCodebook(assigned).count() === 0L)
    assert(Similarity.pqAdcTopK(emptyEmb, assigned, k = 5).count() === 0L)
    assert(Similarity.lloydAssigned(emptyEmb, iters = 2, k = 4)
      .count() === 0L)
    assert(Similarity.labelCentroids(emptyEmb.withColumn("label", lit(0L)))
      .count() === 0L)
  }

  test("filtered-search cards on an empty corpus: filteredAnnRecall and " +
      "filteredIndexComparison return one zeroed row per filter, " +
      "selectivity 0.0 included") {
    val corpus = emptyEmb.withColumn("label", lit(0))
    val filters = Seq("all" -> lit(true), "even" -> (col("vec_id") % 2 === 0))
    val ann = Similarity.filteredAnnRecall(corpus, corpus, filters,
      nprobe = 1, k = 3, overfetch = 2)
    val cmp = Similarity.filteredIndexComparison(corpus, corpus, filters,
      nprobe = 1, k = 3, overfetch = 2)
    Seq(ann, cmp).foreach { card =>
      assertNoNulls(card)
      val rows = card.collect()
      assert(rows.map(_.getAs[String]("filt")).toSeq === Seq("all", "even"))
      rows.foreach { r =>
        card.columns.filter(_ != "filt").foreach { c =>
          assert(r.getAs[Any](c) match {
            case n: Long => n == 0L
            case d: Double => d == 0.0
          }, s"$c of $r")
        }
      }
    }
  }

  test("mixture family: temperature curve/targets and resampling are " +
      "empty on an empty corpus, not null-bearing") {
    import spark.implicits._
    val cat = Seq.empty[(Long, String)].toDF("vec_id", "topic")
    assert(Mixture.temperatureCurve(cat, "topic",
      Seq(0.0, 0.5, 1.0)).count() === 0L)
    val targets = Mixture.temperatureTargets(cat, "topic")
    assert(targets.count() === 0L)
    assert(Mixture.resampleToTargets(cat, "topic",
      col("vec_id").cast("string"), targets).count() === 0L)
  }

  test("sketch curves: count-min width and bloom sizing report zero " +
      "error/fp rates on empty builds and probes, never null") {
    import spark.implicits._
    val d = emptyDocs
    val cms = Sketches.countMinWidthCurve(d, col("doc_id").cast("string"),
      widths = Seq(16L, 64L), depth = 3)
    assertNoNulls(cms)
    // one row per width: forall alone would pass on a vanished curve
    val cmsRows = cms.collect()
    assert(cmsRows.length === 2)
    assert(cmsRows.forall(r => r.getAs[Long]("n_keys") === 0L &&
      r.getAs[Double]("mean_over") === 0.0))
    val bloom = Sketches.bloomSizingCurve(d, d,
      col("doc_id").cast("string"), numBitsCurve = Seq(64L), numHashes = 2)
    assertNoNulls(bloom)
    val bloomRows = bloom.collect()
    assert(bloomRows.length === 1)
    assert(bloomRows.forall(_.getAs[Double]("fp_rate") === 0.0))
  }

  test("lsh geometry curve: empty signatures and truth produce guarded " +
      "zero recall/precision rows") {
    import spark.implicits._
    val sigs = Seq.empty[(Long, Array[Long])].toDF("id", "sig")
    val truth = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val curve = NearDup.lshGeometryCurve(sigs, Seq((4, 2)), truth)
    assertNoNulls(curve)
    val rows = curve.collect()
    assert(rows.length === 1) // one row per geometry, even on no input
    rows.foreach { r =>
      assert(r.getAs[Long]("n_candidates") === 0L)
      assert(r.getAs[Double]("recall") === 0.0)
      assert(r.getAs[Double]("precision") === 0.0)
    }
  }

  test("registry ops card: an empty provenance log files an all-zero " +
      "family row whose only null is the documented last_batch") {
    import spark.implicits._
    val log = Seq.empty[(String, String, Long)].toDF("k", "src", "batch")
    val tomb = Seq.empty[(String, Long)].toDF("src", "x")
    val row = Dedup.registryOpsCard(log, "k", "src", "batch", tomb,
      minBatch = 1L, family = "empty")
    assertNoNulls(row, allowNull = Set("last_batch"))
    val r = row.collect().head
    assert(r.getAs[Long]("n_rows") === 0L &&
      r.getAs[Long]("n_live") === 0L &&
      r.getAs[Long]("n_keys_live") === 0L)
  }

  test("LM/selection family: the bigram λ-curve on empty eras still " +
      "emits one guarded zero row per λ, and DSIR on an empty corpus " +
      "is empty, never null") {
    val d = emptyDocs
    val curve = graft.functions.TextAnalysis.bigramLambdaCurve(
      d, d, "doc_id", "text", lambdas = Seq(0.0, 0.5))
    assertNoNulls(curve)
    val rows = curve.collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tok") === 0L)
      assert(r.getAs[Double]("xent") === 0.0)
    }
    val dsir = graft.functions.TextAnalysis.dsirLogRatio(
      d, "doc_id", "text", isTarget = lit(true))
    assert(dsir.count() === 0L)
  }

  test("round-13 family: NB scores, KN scoring, BM25 and the epoch " +
      "shuffle are all well-defined on empty inputs — empty in, empty " +
      "out (per-doc/per-bin ops), and KN against an EMPTY history " +
      "degenerates to the documented uniform-certainty regime (p = 1, " +
      "xent 0) rather than a null or a -ln 0") {
    import sqlImplicits._
    val d = emptyDocs
    assert(graft.functions.TextAnalysis.nbQualityScore(
      d, "doc_id", "text", isTrain = lit(true), isTarget = lit(true))
      .count() === 0L)
    assert(graft.functions.TextAnalysis.knBigramXent(
      d, d, "doc_id", "text").count() === 0L)
    // empty HISTORY, non-empty batch: continuation collapses to the
    // single OOV outcome (pc = 1) — every token scores ln 1 = 0; the
    // honest reading is "a model with no evidence constrains nothing"
    val batch = Seq((1L, "x y")).toDF("doc_id", "text")
    val kn = graft.functions.TextAnalysis.knBigramXent(
      d, batch, "doc_id", "text")
    assertNoNulls(kn)
    assert(kn.head().getDouble(4) === 0.0)
    assert(graft.functions.TextAnalysis.bm25TopK(
      d, "doc_id", "text", queries = Seq(1L -> "x"), k = 5)
      .count() === 0L)
    assert(Packing.epochShuffle(
      Packing.packGreedy(d.select(col("doc_id"),
        lit(1L).as("n_tok")), "doc_id", "n_tok", 10L, 2), seed = 1L)
      .count() === 0L)
  }

  test("round-13 second wave: RRF over empty rank lists, buckets over " +
      "an empty score set and severity over an empty bench are all " +
      "empty-in/empty-out; the threshold curve keeps its documented " +
      "one-row-per-delta shape with zero kept counts and null " +
      "threshold/fractions") {
    import sqlImplicits._
    val ranks = Seq.empty[(Long, Long, Long)].toDF("qid", "id", "rnk")
    assert(graft.functions.TextAnalysis.rrfFuse(
      Seq("a" -> ranks, "b" -> ranks), k = 5).count() === 0L)
    val scores = Seq.empty[(Long, String, Double, Long)]
      .toDF("doc_id", "lang", "xent", "n_tok")
    assert(graft.functions.TextAnalysis.perplexityBuckets(
      scores, "lang", "xent", "n_tok").count() === 0L)
    val d = emptyDocs
    assert(graft.operators.NearDup.evalContaminationSeverity(
      d, "doc_id", "text", d, "doc_id", "text", k = 4).count() === 0L)
    // a non-empty CORPUS against an empty bench is still empty (the
    // card is per bench item), never an error
    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assert(graft.operators.NearDup.evalContaminationSeverity(
      corpus, "doc_id", "text", d, "doc_id", "text", k = 4).count() === 0L)
    val curve = graft.functions.TextAnalysis.selectionThresholdCurve(
      scores, "xent", "n_tok", deltas = Seq(-1.0, 0.0, 1.0))
    val rows = curve.orderBy(col("delta")).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") === 0L &&
        r.getAs[Long]("kept_tok") === 0L)
      assert(r.isNullAt(r.fieldIndex("thr")) &&
        r.isNullAt(r.fieldIndex("keep_frac")))
    }
    // an EMPTY TRAIN SLICE on a non-empty corpus: every doc scores the
    // smoothing-only constants (logit exactly 0.0), never NULL — the
    // coalesced prior keeps the "scoring stays total" contract
    val untrained = graft.functions.TextAnalysis.nbQualityScore(
      Seq((1L, "x y"), (2L, "z")).toDF("doc_id", "text"),
      "doc_id", "text", isTrain = lit(false), isTarget = lit(true),
      buckets = 8)
    assertNoNulls(untrained)
    untrained.collect().foreach { r =>
      assert(r.getAs[Double]("nb_logit") === 0.0 &&
        !r.getAs[Boolean]("nb_keep") && !r.getAs[Boolean]("nb_selected"))
    }
    // budget planning over an empty domain table: empty in, empty out
    val doms = Seq.empty[(String, Long, Long)].toDF("dom", "n_tok", "alloc")
    assert(graft.operators.Mixture.unimaxAllocation(
      doms.select(col("dom"), col("n_tok")), "dom", "n_tok",
      maxEpochs = 1L, budgetNum = 1L, budgetDen = 1L).count() === 0L)
    assert(graft.operators.Mixture.dataConstrainedValue(
      doms, "dom", "n_tok", "alloc").count() === 0L)
  }

  test("round-15 cards stay well-defined on empty inputs: the length " +
      "curve and epoch-cap curve keep one zeroed row per grid point, " +
      "the bin QA is empty-in/empty-out, and the filtered-ANN card " +
      "reports recall 0.0 on an empty predicate, never null") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, Long)].toDF("doc_id", "n_tok")
    val lc = Packing.packLengthCurve(noDocs, "doc_id", "n_tok",
      budgets = Seq(64L, 512L), shards = 4)
      .orderBy(col("budget")).collect()
    assert(lc.length === 2)
    lc.foreach { r =>
      assert(r.getAs[Long]("n_bins") === 0L &&
        r.getAs[Long]("trunc_tokens") === 0L &&
        r.getAs[Double]("fill_rate") === 0.0 &&
        r.getAs[Double]("trunc_frac") === 0.0)
    }
    val emptyPacked = Seq.empty[(Long, Long, Long, Long)]
      .toDF("id", "w", "shard", "bin")
    val attrs = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(Packing.binDiversityCard(emptyPacked, col("id"), attrs,
      "doc_id", "source").count() === 0L)
    val caps = Mixture.epochCapCurve(
      Seq.empty[(String, Long)].toDF("dom", "n_tok"), "dom", "n_tok",
      caps = Seq(1L, 4L), budgetNum = 2L, budgetDen = 1L)
      .orderBy(col("max_epochs")).collect()
    assert(caps.length === 2)
    caps.foreach { r =>
      assert(r.getAs[Long]("n_domains") === 0L &&
        r.getAs[Double]("eff_tokens") === 0.0 &&
        r.getAs[Double]("value_frac") === 0.0)
    }
    // a predicate NO vector satisfies: n_pass 0, zero ground truth,
    // recall 0.0 (the guarded division), never a null or a throw
    val corpus = (0L until 30L)
      .map(i => (i, Array.fill(4)((i % 5).toFloat + 1f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val card = Similarity.filteredAnnRecall(
      corpus.filter(col("vec_id") < 2), corpus,
      Seq("none" -> (col("vec_id") < 0)), nprobe = 1, k = 3,
      overfetch = 2).collect()
    assert(card.length === 1)
    assert(card.head.getAs[Long]("n_pass") === 0L &&
      card.head.getAs[Long]("n_exact") === 0L &&
      card.head.getAs[Double]("recall") === 0.0 &&
      card.head.getAs[Double]("selectivity") === 0.0)
  }
}
