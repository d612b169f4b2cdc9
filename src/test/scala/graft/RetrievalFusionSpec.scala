package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.NearDup

/** Round-13 second wave: RRF hybrid fusion (hand-checked integer
  * contributions + tiebreak + the DataFrame/Seq BM25 equivalence),
  * the eval-side contamination severity card (planted grams, clean
  * rows survive), CCNet perplexity buckets (hand-checked CDF value
  * cuts, ties fall together, partitioning invariance), and the
  * selection-threshold curve (exact mean arithmetic, monotone kept
  * counts). */
class RetrievalFusionSpec extends SparkSpec {
  import sqlImplicits._

  private val dir = "/root/testdata/sf0.01"

  // --- rrfFuse ---------------------------------------------------------------

  test("rrfFuse: hand-checked integer contributions — round(1e6/(60+r)) " +
      "per side, absent side contributes nothing, fused order by sum") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("qid", "id", "rnk")
    val b = Seq((1L, 20L, 1L), (1L, 40L, 2L)).toDF("qid", "id", "rnk")
    val out = TextAnalysis.rrfFuse(Seq("a" -> a, "b" -> b), k = 10)
      .orderBy(col("rnk")).collect()
    // contributions: r1 = 16393, r2 = 16129, r3 = 15873
    assert(out.map(r => (r.getAs[Long]("id"), r.getAs[Long]("rrf"))).toSeq ===
      Seq((20L, 16129L + 16393L), (10L, 16393L), (40L, 16129L),
        (30L, 15873L)))
    val d20 = out.find(_.getAs[Long]("id") == 20L).get
    assert(d20.getAs[Long]("a_rnk") === 2L && d20.getAs[Long]("b_rnk") === 1L)
    val d10 = out.find(_.getAs[Long]("id") == 10L).get
    assert(d10.getAs[Long]("b_rnk") === 0L, "absent side reports rank 0")
  }

  test("rrfFuse: equal fused scores break by id ascending, and k truncates") {
    val a = Seq((1L, 11L, 1L)).toDF("qid", "id", "rnk")
    val b = Seq((1L, 7L, 1L)).toDF("qid", "id", "rnk")
    val out = TextAnalysis.rrfFuse(Seq("a" -> a, "b" -> b), k = 1).collect()
    assert(out.length === 1 && out.head.getAs[Long]("id") === 7L,
      "tie at 16393 must keep the lower id")
  }

  test("bm25TopKTerms over an explicit (qid, term) table equals bm25TopK " +
      "over the equivalent Seq query set") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 100)
    val qs = Seq(1L -> "hash join", 2L -> "stream batch window")
    val fromSeq = TextAnalysis.bm25TopK(docs, "doc_id", "text", qs, k = 5)
    val qterms = qs.flatMap { case (qid, t) =>
      t.split(" ").toSeq.distinct.map(w => (qid, w)) }.toDF("qid", "term")
    val fromDf = TextAnalysis.bm25TopKTerms(docs, "doc_id", "text",
      qterms, k = 5)
    assert(fromSeq.exceptAll(fromDf).isEmpty &&
      fromDf.exceptAll(fromSeq).isEmpty)
  }

  test("bm25TopKFromTf dlOpt contract: a docLengths stage (and any per-doc " +
      "row-restriction of it) is bit-identical to the in-plan dl rebuild") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 100)
    val tf = TextAnalysis.termFrequencies(docs, "doc_id", "text")
      .localCheckpoint(true)
    val qterms = Seq((1L, "hash"), (1L, "join"), (2L, "stream"))
      .toDF("qid", "term")
    val derived = TextAnalysis.bm25TopKFromTf(tf, qterms, k = 5)
    val staged = TextAnalysis.bm25TopKFromTf(tf, qterms, k = 5,
      dlOpt = Some(TextAnalysis.docLengths(tf)))
    assert(staged.exceptAll(derived).isEmpty &&
      derived.exceptAll(staged).isEmpty,
      "a consistent dlOpt must not change a single scored row")
    // the restriction case q228/q237 rely on: dl is per-doc, so a corpus
    // row-restriction filters tf and dl IDENTICALLY — the stats (N, avgdl)
    // derived from the restricted dlOpt must equal a from-scratch build
    val sub = docs.filter(col("doc_id") % 2 === 0)
    val subTf = TextAnalysis.termFrequencies(sub, "doc_id", "text")
    val restricted = TextAnalysis.bm25TopKFromTf(subTf, qterms, k = 5,
      dlOpt = Some(TextAnalysis.docLengths(tf)
        .join(sub.select(col("doc_id").as("id")), Seq("id"), "left_semi")))
    val rebuilt = TextAnalysis.bm25TopKFromTf(subTf, qterms, k = 5)
    assert(restricted.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(restricted).isEmpty,
      "restricting a persisted dl stage must equal rebuilding dl from " +
        "the restricted postings")
  }

  test("unimaxAllocation: a zero-capacity domain allocates zero without " +
      "aborting, and the waterfill over the rest is unchanged") {
    import graft.operators.Mixture
    val withZero = Seq(("a", 100L), ("b", 50L), ("empty", 0L))
      .toDF("dom", "n_tok")
    val out = Mixture.unimaxAllocation(withZero, "dom", "n_tok",
      maxEpochs = 2L, budgetNum = 1L, budgetDen = 1L)
      .orderBy(col("dom")).collect()
    val z = out.find(_.getAs[String]("dom") == "empty").get
    assert(z.getAs[Long]("alloc") === 0L &&
      z.getAs[Double]("epochs_used") === 0.0 &&
      z.getAs[Boolean]("saturated"),
      "zero-capacity domain must carry through as a saturated alloc=0 row")
    val without = Mixture.unimaxAllocation(
      Seq(("a", 100L), ("b", 50L)).toDF("dom", "n_tok"),
      "dom", "n_tok", maxEpochs = 2L, budgetNum = 1L, budgetDen = 1L)
      .orderBy(col("dom")).collect()
    // same total budget (sum n_tok unchanged by the zero row), so the
    // nonzero domains' allocations must be identical
    assert(out.filter(_.getAs[String]("dom") != "empty")
      .map(r => (r.getAs[String]("dom"), r.getAs[Long]("alloc"))).toSeq ===
      without.map(r => (r.getAs[String]("dom"), r.getAs[Long]("alloc")))
        .toSeq)
  }

  test("q228: every fused score is exactly the sum its side ranks imply, " +
      "and both retrievers contribute rows") {
    val out = SparkEntry.queries("q228_hybrid_rrf")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (bm, cs) = (r.getAs[Long]("bm25_rnk"), r.getAs[Long]("cos_rnk"))
      val expected =
        (if (bm > 0) math.round(1e6 / (60 + bm)) else 0L) +
          (if (cs > 0) math.round(1e6 / (60 + cs)) else 0L)
      assert(r.getAs[Long]("rrf") === expected, s"inconsistent row $r")
      assert(bm > 0 || cs > 0, "a fused row must come from some side")
    }
    assert(out.exists(_.getAs[Long]("bm25_rnk") > 0) &&
      out.exists(_.getAs[Long]("cos_rnk") > 0),
      "both sides must reach the fused top-k on the graded corpus")
  }

  test("rrfFuse: the K constant can flip the fused order when sides " +
      "OVERLAP — a sharp single-list leader beats two mediocre hits at " +
      "small K, loses at large K (rank gaps compress) — which is why " +
      "q235 ships the curve; on q228's near-disjoint sides it measures " +
      "K-invariant (overlap 1.0 at every grid point, asserted below)") {
    // X: a-rank 1, b-rank 20.  Y: a-rank 8, b-rank 8.
    // K=20:   X = 1/21 + 1/40 = 72619 > Y = 2/28 = 71428  (X first)
    // K=1000: X = 999 + 980  =  1979 < Y = 2*992 = 1984   (Y first)
    val a = Seq((1L, 100L, 1L), (1L, 200L, 8L)).toDF("qid", "id", "rnk")
    val b = Seq((1L, 100L, 20L), (1L, 200L, 8L)).toDF("qid", "id", "rnk")
    def top(kc: Int) = TextAnalysis.rrfFuse(
      Seq("a" -> a, "b" -> b), k = 1, kconst = kc).head().getAs[Long]("id")
    assert(top(20) === 100L && top(1000) === 200L)
    val curve = SparkEntry.queries("q235_rrf_k_curve")(spark, dir)
      .orderBy(col("kconst")).collect()
    assert(curve.map(_.getAs[Long]("kconst")).toSeq === Seq(20L, 60L, 100L))
    val base = curve.find(_.getAs[Long]("kconst") == 60L).get
    assert(base.getAs[Double]("overlap_frac") === 1.0,
      "the K=60 row is the baseline self-overlap identity")
    curve.foreach(r => assert(r.getAs[Long]("n_fused") ===
      r.getAs[Long]("n_shared"),
      "measured: the graded corpus's near-disjoint sides are K-invariant"))
  }

  test("rrfFuseBy: the rows of every K equal the one-constant rrfFuse, " +
      "for duplicate and out-of-order constants") {
    val a = Seq((1L, 100L, 1L), (1L, 200L, 8L), (1L, 300L, 2L),
      (2L, 100L, 3L), (2L, 400L, 1L)).toDF("qid", "id", "rnk")
    val b = Seq((1L, 100L, 20L), (1L, 200L, 8L), (1L, 500L, 1L),
      (2L, 400L, 2L), (2L, 400L, 5L)).toDF("qid", "id", "rnk")
    val sides = Seq("a" -> a, "b" -> b)
    val keyed = TextAnalysis.rrfFuseBy(sides, k = 2, Seq(1000, 20, 60, 20))
      .collect()
    assert(keyed.map(_.getAs[Int]("kconst")).distinct.sorted.toSeq ===
      Seq(20, 60, 1000))
    Seq(20, 60, 1000).foreach { kc =>
      val one = TextAnalysis.rrfFuse(sides, k = 2, kconst = kc).collect()
        .map(_.toSeq).toSet
      assert(keyed.filter(_.getAs[Int]("kconst") == kc)
        .map(_.toSeq.tail).toSet === one, s"K=$kc")
    }
  }

  // --- evalContaminationSeverity ----------------------------------------------

  test("evalContaminationSeverity: planted shared 4-grams produce the " +
      "exact containment fraction; clean items keep zero rows") {
    val bench = Seq(
      (1L, "a b c d e f"), // grams: "a b c d","b c d e","c d e f" (3)
      (2L, "q r s t")      // single gram, nowhere in the corpus
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "x x b c d e x"),    // shares "b c d e"
      (11L, "a b c d e zz"),     // shares "a b c d" and "b c d e"
      (12L, "unrelated words entirely here")
    ).toDF("doc_id", "text")
    val out = NearDup.evalContaminationSeverity(corpus, "doc_id", "text",
        bench, "doc_id", "text", k = 4)
      .orderBy(col("bench_id")).collect()
    assert(out.length === 2)
    val r1 = out(0)
    assert(r1.getAs[Long]("n_grams") === 3L &&
      r1.getAs[Long]("shared_grams") === 2L &&
      r1.getAs[Long]("corpus_docs") === 2L &&
      r1.getAs[Double]("containment") === 0.666667)
    val r2 = out(1)
    assert(r2.getAs[Long]("n_grams") === 1L &&
      r2.getAs[Long]("shared_grams") === 0L &&
      r2.getAs[Long]("corpus_docs") === 0L &&
      r2.getAs[Double]("containment") === 0.0)
  }

  test("q231 agrees with the q82 corpus-side pass: the total shared " +
      "(bench gram, corpus doc) bipartite edge set has the same support " +
      "on both sides") {
    val card = SparkEntry.queries("q231_eval_contamination")(spark, dir)
    val corpusSide = SparkEntry.queries("q82_decontamination")(spark, dir)
    // bench items with hits  <->  corpus docs flagged: both read the same
    // join, so either both are empty or both are non-empty
    val benchHit = card.filter(col("shared_grams") > 0).count()
    val corpusHit = corpusSide.count()
    assert((benchHit > 0) === (corpusHit > 0))
    // every contaminated bench item's corpus_docs is bounded by the
    // total flagged corpus docs
    card.filter(col("corpus_docs") > 0).collect().foreach { r =>
      assert(r.getAs[Long]("corpus_docs") <= corpusHit)
    }
  }

  // --- perplexityBuckets -------------------------------------------------------

  test("perplexityBuckets: hand-checked CDF value cuts — 3/3/3 split " +
      "lands one xent value per bucket with exact token shares") {
    val scores = (1 to 9).map { i =>
      (i.toLong, "g", 1.0 + (i - 1) / 3, 10L)
    }.toDF("doc_id", "lang", "xent", "n_tok")
    val out = TextAnalysis.perplexityBuckets(scores, "lang", "xent", "n_tok")
      .orderBy(col("bucket")).collect()
    assert(out.map(r => (r.getAs[String]("bucket"), r.getAs[Long]("n_docs"),
      r.getAs[Double]("min_xent"))).toSeq ===
      Seq(("head", 3L, 1.0), ("middle", 3L, 2.0), ("tail", 3L, 3.0)))
    out.foreach(r => assert(r.getAs[Double]("tok_share") === 0.333333))
  }

  test("perplexityBuckets: ties at a cut all fall on the same side " +
      "(value thresholds, not row tertiles), and the result is invariant " +
      "under input repartitioning") {
    val scores = Seq((1L, "g", 1.0, 1L), (2L, "g", 1.0, 1L),
      (3L, "g", 1.0, 1L), (4L, "g", 1.0, 1L),
      (5L, "g", 2.0, 1L), (6L, "g", 2.0, 1L))
      .toDF("doc_id", "lang", "xent", "n_tok")
    val out = TextAnalysis.perplexityBuckets(scores, "lang", "xent", "n_tok")
      .orderBy(col("bucket")).collect()
    // cum(1.0)=4: 12 >= 6 -> cut1=1.0; 12 >= 12 -> cut2=1.0 too, so the
    // four tied docs are ALL head and the middle bucket is empty
    assert(out.map(r => (r.getAs[String]("bucket"),
      r.getAs[Long]("n_docs"))).toSeq === Seq(("head", 4L), ("tail", 2L)))
    val re = TextAnalysis.perplexityBuckets(scores.repartition(7),
      "lang", "xent", "n_tok")
    assert(TextAnalysis.perplexityBuckets(scores, "lang", "xent", "n_tok")
      .exceptAll(re).isEmpty)
  }

  test("q229: per language the three buckets partition the scored docs " +
      "and head.max_xent <= middle.min_xent <= tail.min_xent") {
    val rows = SparkEntry.queries("q229_perplexity_buckets")(spark, dir)
      .collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    val scored = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") >= 250)
    byLang.foreach { case (lang, rs) =>
      val nDocs = rs.map(_.getAs[Long]("n_docs")).sum
      assert(nDocs === scored.filter(col("lang") === lang).count(),
        s"$lang buckets must partition its scored docs")
      val m = rs.map(r => r.getAs[String]("bucket") ->
        (r.getAs[Double]("min_xent"), r.getAs[Double]("max_xent"))).toMap
      for (h <- m.get("head"); mid <- m.get("middle")) {
        assert(h._2 < mid._1, s"$lang head/middle overlap")
      }
      for (mid <- m.get("middle"); tl <- m.get("tail")) {
        assert(mid._2 < tl._1, s"$lang middle/tail overlap")
      }
    }
  }

  // --- selectionThresholdCurve ---------------------------------------------------

  test("selectionThresholdCurve: exact mean arithmetic on a hand fixture " +
      "and monotone non-increasing kept counts") {
    val scores = Seq((1L, -1.0, 10L), (2L, 0.0, 20L), (3L, 1.0, 30L))
      .toDF("doc_id", "logit", "n_tok")
    val out = TextAnalysis.selectionThresholdCurve(scores, "logit", "n_tok",
      deltas = Seq(-0.5, 0.0, 0.5)).collect()
    // mean = 0.0 exactly (sum of scaled logits = 0)
    assert(out.map(r => (r.getAs[Double]("delta"), r.getAs[Double]("thr"),
      r.getAs[Long]("n_kept"), r.getAs[Long]("kept_tok"))).toSeq ===
      Seq((-0.5, -0.5, 2L, 50L), (0.0, 0.0, 2L, 50L), (0.5, 0.5, 1L, 30L)))
    assert(out.head.getAs[Double]("keep_frac") === 0.666667)
  }

  test("q230: kept counts are non-increasing in delta and every fraction " +
      "is consistent with its counts") {
    val rows = SparkEntry.queries("q230_selection_threshold_curve")(
      spark, dir).collect()
    assert(rows.length === 7)
    val kept = rows.map(_.getAs[Long]("n_kept"))
    assert(kept.zip(kept.tail).forall { case (a, b) => a >= b },
      s"n_kept must be non-increasing: ${kept.toSeq}")
    assert(kept.head > kept.last,
      "the graded grid must actually move the cut on this corpus")
  }
}
