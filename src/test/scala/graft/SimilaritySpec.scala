package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.util.Random

import graft.operators.Similarity

/** Behaviour of the similarity-search operators on a clustered synthetic
  * corpus: brute force is the ground truth, IVF recall at full probe count,
  * hyperplane LSH bucket equality for identical vectors. */
class SimilaritySpec extends SparkSpec {
  import sqlImplicits._

  private val dim = 16

  /** 4 well-separated clusters × 25 vectors (label = cluster). */
  private lazy val corpus = {
    val rnd = new Random(11)
    val centers = Vector.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (0 until 100).map { i =>
      val c = i % 4
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.3).toFloat)
      (i.toLong, v.toSeq, c)
    }.toDF("vec_id", "embedding", "label")
  }

  test("bruteForceTopK: nearest neighbour of a vector is in its own cluster") {
    val top1 = Similarity.bruteForceTopK(corpus.filter(col("vec_id") < 4), corpus, 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toMap
    top1.foreach { case (q, n) =>
      assert(n % 4 === q % 4, s"query $q: neighbour $n from another cluster")
    }
  }

  test("ivfTopK with all lists probed equals brute force") {
    val q = corpus.filter(col("vec_id") < 4)
    val bf = Similarity.bruteForceTopK(q, corpus, 5)
      .select("qid", "vec_id", "rnk").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(q, corpus, nprobe = 4, k = 5)
      .select("qid", "vec_id", "rnk").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf === bf)
  }

  test("ivfTopK with nprobe=1 still finds same-cluster neighbours") {
    val got = Similarity.ivfTopK(corpus.filter(col("vec_id") < 4), corpus, 1, 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
    assert(got.nonEmpty)
    got.foreach { case (q, n) => assert(n % 4 === q % 4) }
  }

  test("hyperplane LSH: identical vectors share a bucket, clusters separate") {
    val withDup = corpus.unionByName(
      corpus.filter(col("vec_id") === 0)
        .select(lit(999L).as("vec_id"), col("embedding"), col("label")))
    val buckets = withDup
      .select(col("vec_id"), Similarity.hyperplaneBuckets(dim, 8, 42L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(999L) === buckets(0L), "identical vectors must collide")
    // same-cluster vectors should mostly share buckets (tight clusters)
    val sameCluster = (0 until 100 by 4).map(i => buckets(i.toLong)).distinct
    assert(sameCluster.size <= 3,
      s"cluster 0 spread over ${sameCluster.size} buckets — planes not separating")
  }

  test("cosineNearDups finds planted near-identical vectors via LSH blocking") {
    val rnd = new Random(23)
    // 3 planted near-dup pairs (tiny perturbation) among 100 random vectors
    val base = (0 until 100).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val planted = Seq(0L, 1L, 2L).map { i =>
      (200L + i, base(i.toInt)._2.map(v => v + (rnd.nextGaussian() * 0.01).toFloat))
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDups(corpus, dim, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 200L), (1L, 201L), (2L, 202L)))
    // the bucket cap must not disturb results when no bucket is hot
    val capped = Similarity.cosineNearDups(corpus, dim, threshold = 0.99,
      maxDocsPerBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === got)
  }

  test("cosine of a vector with itself is 1") {
    val one = corpus.limit(5)
      .select(round(Similarity.cosine(
        col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")), 9).as("c"))
      .collect().map(_.getDouble(0))
    assert(one.forall(_ === 1.0))
  }

  test("quantStats: hand-checked int8 quantization, zero-vector safe") {
    import sqlImplicits._
    val df = Seq(
      (1L, Seq(0.5f, -0.25f, 0.125f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantStats(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // v=[.5,-.25,.125], s=.5 → q=floor([127,-63.5,31.75])=[127,-64,31]
    val (l1, sat, s, err) = got(1L)
    assert(l1 == 127L + 64L + 31L)
    assert(sat == 1L)
    assert(s == 0.5)
    // floor quantization error is bounded by one step = s/127
    assert(err > 0.0 && err <= 0.5 / 127.0 + 1e-9)
    assert(got(2L) === ((0L, 0L, 0.0, 0.0)))
  }

  test("lloydAssignments: clean-seeded clusters are a fixpoint; a planted " +
      "mislabel is corrected by the second iteration") {
    // corrupt ONE label: vector 0 (cluster 0) claims label 3. Iteration-1
    // centroids are barely perturbed (24-25 vectors average per cluster),
    // so assignment 1 already sends vec 0 to its geometric cluster — and
    // iteration 2 must agree (fixpoint on well-separated blobs).
    val corrupted = corpus.withColumn("label",
      when(col("vec_id") === 0L, lit(3)).otherwise(col("label")))
    val a1 = Similarity.lloydAssignments(corrupted, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = Similarity.lloydAssignments(corrupted, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2(0L) == a2(4L), "mislabeled vector not reunited with its blob")
    assert(a1 == a2, "well-separated blobs should be a Lloyd fixpoint")
    // every vector sits with its geometric cluster-mates
    (0 until 4).foreach { c =>
      val members = (0 until 100).filter(_ % 4 == c).map(i => a2(i.toLong))
      assert(members.distinct.size == 1, s"cluster $c split: $members")
    }
  }

  test("semDedup maxPerCluster: degenerate all-one-cluster corpus is still " +
      "resolved exactly with a tiny reference cap") {
    // 200 identical vectors in ONE cluster — the hot-cluster worst case the
    // cap exists for. With cap = 8 each vector compares against at most 8
    // reference rows (bounded candidates), and because the global min id is
    // in every reference prefix, the verdicts are still EXACT: everyone but
    // vector 0 is a dup.
    val e = Seq.fill(dim)(1.0)
    val assigned = (0 until 200).map(i => (i.toLong, e, 1L))
      .toDF("vec_id", "e", "cluster")
    val got = Similarity.semDedupFromAssigned(assigned, tau = 0.9,
        maxPerCluster = 8L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got.size === 200)
    assert(!got(0L), "min-id representative must survive")
    assert((1 until 200).forall(i => got(i.toLong)),
      "every identical copy must be marked dup despite the cap")
  }

  test("semDedup: a cap at least as large as every cluster is exact") {
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val uncapped = verdicts(Similarity.semDedup(corpus, tau = 0.999))
    val capped = verdicts(
      Similarity.semDedup(corpus, tau = 0.999, maxPerCluster = 100L))
    assert(capped === uncapped)
  }

  test("lloydAssignments with explicit k > |labels|: hash-seeded clusters " +
      "stay within k and never mix the separated blobs") {
    val a = Similarity.lloydAssignments(corpus, iters = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.length === 100, "every vector assigned exactly once")
    val clusters = a.map(_._2).distinct
    assert(clusters.length >= 4 && clusters.length <= 10,
      s"got ${clusters.length} clusters from k = 10 seeds")
    // seeds are real vectors, blobs are well separated — no cluster may
    // contain members of two different blobs
    a.groupBy(_._2).foreach { case (c, members) =>
      val blobs = members.map(_._1 % 4).distinct
      assert(blobs.size === 1, s"cluster $c mixes blobs $blobs")
    }
  }

  test("quantStats max_err is bounded by one quantization step corpus-wide") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // scale and max_err are reported rounded to 6 decimals, so the bound
    // check needs rounding slack (±5e-7 on each side)
    val bad = Similarity.quantStats(emb)
      .filter(col("max_err") > col("scale") / 127.0 + 2e-6).count()
    assert(bad == 0L)
  }

  test("dimTruncationCurve: the full-width point IS the exact scan " +
      "(recall 1.0 for every query), mean recall is monotone in width " +
      "at the graded geometry, and every width emits every query") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val curve = Similarity.dimTruncationCurve(queries, emb,
      dims = Seq(16, 32, 64), k = 10).persist()
    try {
      assert(curve.count() === 3L * queries.count())
      assert(curve.filter(col("dim") === 64 && col("recall") =!= 1.0)
        .count() === 0L, "full width must reproduce the exact scan")
      val means = curve.groupBy(col("dim"))
        .agg(avg(col("recall")).as("m")).orderBy(col("dim"))
        .collect().map(_.getDouble(1))
      assert(means.toSeq === means.sorted.toSeq, means.toSeq.toString)
    } finally { curve.unpersist(); () }
  }

  test("filteredAnnRecall: with every vector in one IVF list the probe " +
      "sees everything, so sufficient over-fetch gives recall 1.0 at " +
      "every selectivity") {
    // one label → nprobe=1 still scans the whole corpus; overfetch
    // k·10 ≥ |corpus| → the post-filter re-rank IS the exact pre-filter
    val one = corpus.withColumn("label", lit(0))
    val card = Similarity.filteredAnnRecall(one.filter(col("vec_id") < 3),
      one, Seq("all" -> lit(true), "even" -> (col("vec_id") % 2 === 0),
        "few" -> (col("vec_id") % 10 === 0)),
      nprobe = 1, k = 5, overfetch = 20)
    val rows = card.collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Double]("recall") === 1.0,
        s"${r.getAs[String]("filt")}: expected full recall, got $r")
    }
    val few = rows.find(_.getAs[String]("filt") == "few").get
    assert(few.getAs[Long]("n_pass") === 10L &&
      few.getAs[Double]("selectivity") === 0.1)
  }

  test("filteredAnnRecall: an unfiltered point at overfetch=1 reproduces " +
      "recallAtK's aggregate hits exactly") {
    val q = corpus.filter(col("vec_id") < 4)
    val card = Similarity.filteredAnnRecall(q, corpus,
      Seq("all" -> lit(true)), nprobe = 2, k = 5, overfetch = 1)
      .collect().head
    val per = Similarity.recallAtK(q, corpus, nprobe = 2, k = 5)
      .agg(sum(col("n_exact")), sum(col("hits"))).collect().head
    assert(card.getAs[Long]("n_exact") === per.getLong(0) &&
      card.getAs[Long]("hits") === per.getLong(1))
  }

  test("filteredIndexComparison: probing every list makes BOTH paths " +
      "exact — the partitioned index because its quantizer covers the " +
      "partition, the post-filter because the over-fetch covers the " +
      "corpus") {
    val q = corpus.filter(col("vec_id") < 3)
    val rows = Similarity.filteredIndexComparison(q, corpus,
      Seq("third" -> (col("vec_id") % 3 === 0),
        "even" -> (col("vec_id") % 2 === 0)),
      nprobe = 4, k = 5, overfetch = 20).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_part") === 1.0 &&
        r.getAs[Double]("recall_post") === 1.0, r.toString)
    }
  }

  test("filteredIndexComparison: the partitioned path's ground truth " +
      "and shared-candidate path agree with filteredAnnRecall's on the " +
      "same geometry (one implementation, two cards)") {
    val q = corpus.filter(col("vec_id") < 4)
    val filt = Seq("third" -> (col("vec_id") % 3 === 0))
    val cmp = Similarity.filteredIndexComparison(q, corpus, filt,
      nprobe = 2, k = 5, overfetch = 4).collect().head
    val card = Similarity.filteredAnnRecall(q, corpus, filt,
      nprobe = 2, k = 5, overfetch = 4).collect().head
    assert(cmp.getAs[Long]("n_exact") === card.getAs[Long]("n_exact"))
    assert(cmp.getAs[Long]("hits_post") === card.getAs[Long]("hits"))
    assert(cmp.getAs[Double]("recall_post") ===
      card.getAs[Double]("recall"))
  }

  test("filteredAnnRecall: post-filter recall can only improve with " +
      "over-fetch (the card's dial is monotone here)") {
    val q = corpus.filter(col("vec_id") < 4)
    val filt = Seq("third" -> (col("vec_id") % 3 === 0))
    def rec(of: Int): Double =
      Similarity.filteredAnnRecall(q, corpus, filt, nprobe = 2, k = 5,
        overfetch = of).collect().head.getAs[Double]("recall")
    val r1 = rec(1); val r4 = rec(4); val r20 = rec(20)
    assert(r1 <= r4 && r4 <= r20, s"$r1 / $r4 / $r20")
  }

  test("frozen == live: ivfTopKFrozen over the snapshot's own " +
      "labelCentroids reproduces ivfTopK row-for-row, and " +
      "filteredIndexComparison served from a persisted (filt, label, " +
      "centroid) artifact is bit-identical to the live-training form") {
    val q = corpus.filter(col("vec_id") < 4)
    val live = Similarity.ivfTopK(q, corpus, nprobe = 2, k = 5)
    val frozen = Similarity.ivfTopKFrozen(q, corpus,
      Similarity.labelCentroids(corpus), nprobe = 2, k = 5)
    assert(live.exceptAll(frozen).isEmpty &&
      frozen.exceptAll(live).isEmpty)
    val filt = Seq("third" -> (col("vec_id") % 3 === 0),
      "even" -> (col("vec_id") % 2 === 0))
    val art = (("0_all" -> lit(true)) +: filt).map { case (n, p) =>
      Similarity.labelCentroids(corpus.filter(p))
        .withColumn("filt", lit(n))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val liveCmp = Similarity.filteredIndexComparison(q, corpus, filt,
      nprobe = 2, k = 5, overfetch = 4)
    val frozenCmp = Similarity.filteredIndexComparison(q, corpus, filt,
      nprobe = 2, k = 5, overfetch = 4, frozen = Some(art))
    assert(liveCmp.exceptAll(frozenCmp).isEmpty &&
      frozenCmp.exceptAll(liveCmp).isEmpty)
  }

  test("append night is a pure union: a frozen quantizer probing " +
      "hist UNION batch equals probing the whole corpus — no re-encode, " +
      "no retrain (the q181 identity at partition granularity)") {
    val q = corpus.filter(col("vec_id") < 4)
    val hist = corpus.filter(col("vec_id") % 3 =!= 2)
    val batch = corpus.filter(col("vec_id") % 3 === 2)
    val cents = Similarity.labelCentroids(hist).localCheckpoint(true)
    val piecewise = Similarity.ivfTopKFrozen(q,
      hist.unionByName(batch), cents, nprobe = 2, k = 5)
    val onePass = Similarity.ivfTopKFrozen(q, corpus, cents,
      nprobe = 2, k = 5)
    assert(piecewise.exceptAll(onePass).isEmpty &&
      onePass.exceptAll(piecewise).isEmpty)
  }

  /** Three filter points for the keyed-plan tests, one of them
    * satisfied by no vector. */
  private val threeFilters = Seq("even" -> (col("vec_id") % 2 === 0),
    "none" -> (col("vec_id") < 0), "third" -> (col("vec_id") % 3 === 0))

  test("keyed equals per filter: every filter's n_pass, n_exact, " +
      "hits_post and hits_part (live and frozen) equal counts built from " +
      "bruteForceTopK / ivfTopK / ivfTopKFrozen on corpus.filter(p), an " +
      "unsatisfiable filter included") {
    val q = corpus.filter(col("vec_id") < 4)
    val (nprobe, k, overfetch) = (2, 5, 4)
    val art = (("0_all" -> lit(true)) +: threeFilters).map { case (n, p) =>
      Similarity.labelCentroids(corpus.filter(p)).withColumn("filt", lit(n))
    }.reduce(_ unionByName _).localCheckpoint(true)
    def pairs(df: DataFrame): Set[(Long, Long)] = df.select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Similarity.ivfTopK(q, corpus, nprobe, k * overfetch)
      .select("qid", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val live = Similarity.filteredIndexComparison(q, corpus, threeFilters,
      nprobe, k, overfetch).collect()
    val frozen = Similarity.filteredIndexComparison(q, corpus, threeFilters,
      nprobe, k, overfetch, frozen = Some(art)).collect()
    val ann = Similarity.filteredAnnRecall(q, corpus, threeFilters,
      nprobe, k, overfetch).collect()
    Seq(live, frozen, ann).foreach { rows =>
      assert(rows.map(_.getAs[String]("filt")).toSeq ===
        threeFilters.map(_._1))
    }
    threeFilters.foreach { case (name, p) =>
      val sub = corpus.filter(p)
      val ids = sub.select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = pairs(Similarity.bruteForceTopK(q, sub, k))
      val post = cand.filter(c => ids(c._2)).groupBy(_._1).values
        .flatMap(_.sortBy(c => (-c._3, c._2)).take(k))
        .map(c => (c._1, c._2)).toSet
      val partLive = pairs(Similarity.ivfTopK(q, sub, nprobe, k))
      val partFrozen = pairs(Similarity.ivfTopKFrozen(q, sub,
        art.filter(col("filt") === name), nprobe, k))
      def row(rows: Array[Row]): Row =
        rows.find(_.getAs[String]("filt") == name).get
      Seq(live -> partLive, frozen -> partFrozen).foreach {
        case (rows, part) =>
          val r = row(rows)
          assert(r.getAs[Long]("n_pass") === ids.size.toLong, s"$name $r")
          assert(r.getAs[Long]("n_exact") === exact.size.toLong, s"$name $r")
          assert(r.getAs[Long]("hits_post") === (exact & post).size.toLong,
            s"$name $r")
          assert(r.getAs[Long]("hits_part") === (exact & part).size.toLong,
            s"$name $r")
      }
      val a = row(ann)
      assert(a.getAs[Long]("n_exact") === exact.size.toLong &&
        a.getAs[Long]("hits") === (exact & post).size.toLong, s"$name $a")
      if (name == "none") assert(ids.isEmpty && exact.isEmpty)
      else assert(exact.size === 4 * k)
    }
  }

  test("each filtered-search card is one plan over its filters: three " +
      "filters start at most 2 more Spark jobs than one") {
    val q = corpus.filter(col("vec_id") < 4)
    val cards = Seq[(String, Seq[(String, Column)] => DataFrame)](
      "filteredAnnRecall" -> (f => Similarity.filteredAnnRecall(q, corpus,
        f, nprobe = 2, k = 5, overfetch = 4)),
      "filteredIndexComparison" -> (f => Similarity.filteredIndexComparison(
        q, corpus, f, nprobe = 2, k = 5, overfetch = 4)))
    cards.foreach { case (name, card) =>
      def jobs(n: Int): Int =
        jobsDuring { card(threeFilters.take(n)).collect(); () }
      val (one, three) = (jobs(1), jobs(3))
      assert(three <= one + 2,
        s"$name: $one jobs over 1 filter, $three over 3")
    }
  }
}
