package graft

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.operators.NearDup

/** Cross-validation of the two Jaccard implementations (LSH must equal the
  * exact inverted-index join at high similarity), plus SimHash behaviour. */
class NearDupSpec extends SparkSpec {
  import sqlImplicits._

  /** Synthetic corpus: 40 base docs of 60 random words, 10 near-dup pairs
    * created by swapping a handful of words (J ≈ 0.75–0.95), 2 exact dups. */
  private lazy val corpus = {
    val rnd = new Random(7)
    val vocab = Vector.tabulate(200)(i => s"w$i")
    def doc(): Seq[String] = Seq.fill(60)(vocab(rnd.nextInt(vocab.size)))
    val base = Vector.fill(40)(doc())
    val nearDups = (0 until 10).map { i =>
      val d = base(i).toArray
      val mutations = 1 + i % 4
      (0 until mutations).foreach(_ => d(rnd.nextInt(d.length)) = vocab(rnd.nextInt(vocab.size)))
      d.toSeq
    }
    val all = base ++ nearDups :+ base(20) :+ base(21)
    all.zipWithIndex.map { case (words, i) => (i.toLong, words.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  test("verifiedPairs (MinHash LSH) equals exactJaccardPairs at threshold 0.5") {
    val exact = NearDup.exactJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = NearDup.verifiedPairs(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture produced no qualifying pairs")
    assert(lsh === exact)
  }

  test("exact duplicates surface with jaccard 1.0") {
    val exact = NearDup.exactJaccardPairs(corpus, "doc_id", "text", 3, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.toSet === Set((20L, 50L), (21L, 51L)))
  }

  test("wordShingles: short texts fall back to one whole-text shingle") {
    val got = Seq("a b", "one two three four").toDF("t")
      .select(NearDup.wordShingles(col("t"), 3).as("sh"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(got(0) === Seq("a b"))
    assert(got(1) === Seq("one two three", "two three four"))
  }

  test("simhash: identical texts get identical fingerprints, near-dups are close") {
    val fp = NearDup.simhash(corpus, "doc_id", "text")
    val pairs = fp.as("a").join(fp.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        NearDup.hamming64(col("a.fp"), col("b.fp")).as("ham"))
    val exact = pairs.filter(col("d1") === 20 && col("d2") === 50).head().getInt(2)
    assert(exact === 0, "exact dup must have hamming 0")
    // near-dup (1 mutated word of 60) vs unrelated docs
    val near = pairs.filter(col("d1") === 0 && col("d2") === 40).head().getInt(2)
    val unrelatedAvg = pairs.filter(col("d1") < 20 && col("d2") < 20)
      .agg(avg(col("ham"))).head().getDouble(0)
    assert(near < unrelatedAvg / 2,
      s"near-dup hamming $near should be well under unrelated average $unrelatedAvg")
  }

  test("connectedComponents: chains collapse transitively to the min id") {
    // components: {1,2,3,4} via chain, {10,11}, {20,21,22} via triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("d1", "d2")
    val got = NearDup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("simhashCandidateEdges finds the exact-dup pairs via chunk banding") {
    val fp = NearDup.simhash(corpus, "doc_id", "text")
    val cands = NearDup.simhashCandidateEdges(fp, "id", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((20L, 50L)) && cands.contains((21L, 51L)))
  }

  test("degenerate corpus: 10k identical fingerprints stay LINEAR (star, not clique)") {
    // mass-duplicated boilerplate — every doc has the same SimHash. The
    // clique is 50M pairs; the star contract is 9,999 rep->member edges.
    val fps = (0L until 10000L).map(i => (i, 0x0ABCDEF012345L)).toDF("id", "fp")
    val cands = NearDup.simhashCandidateEdges(fps, "id", "fp")
    assert(cands.count() === 9999L)
    val sample = cands.limit(100).collect()
    assert(sample.forall(_.getLong(0) === 0L), "every edge must anchor at the min id")
  }

  test("degenerate corpus: hot chunk buckets respect maxFpsPerBucket") {
    // 10k DISTINCT fingerprints that agree on chunks 0-2 (low 48 bits all
    // zero) — uncapped, the three shared buckets each explode ~50M pairs.
    val fps = (0L until 10000L).map(i => (i, i << 48)).toDF("id", "fp")
    val capped = NearDup.simhashCandidateEdges(fps, "id", "fp", maxFpsPerBucket = 100)
    assert(capped.count() === 0L)
    // the cap only drops oversized buckets — small ones still pair up
    val small = (0L until 10L).map(i => (i, i << 48)).toDF("id", "fp")
    assert(NearDup.simhashCandidateEdges(small, "id", "fp", maxFpsPerBucket = 100)
      .count() === 45L)
  }

  test("degenerate corpus: lshCandidates drops oversized buckets under the cap") {
    val oneBucket = (0L until 10000L).map(i => (i, 0, "sig")).toDF("id", "band", "bucket")
    assert(NearDup.lshCandidates(oneBucket, maxDocsPerBucket = 100).count() === 0L)
    // uncapped default preserves the existing contract on small buckets
    val smallBucket = (0L until 10L).map(i => (i, 0, "sig")).toDF("id", "band", "bucket")
    assert(NearDup.lshCandidates(smallBucket).count() === 45L)
  }

  test("connectedComponents: a 200-link chain converges within default maxIter") {
    // path graph 0-1-2-…-200: diameter 200. Plain min-label propagation
    // would need 200 rounds and silently truncate at 20; pointer jumping
    // must collapse it in <= log2(200)+c rounds.
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = NearDup.connectedComponents(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 201)
    assert(labels.forall(_._2 === 0L),
      s"non-converged labels: ${labels.filter(_._2 != 0L).take(5).mkString(",")}")
  }

  test("winnowing finds a copied paragraph across otherwise-different docs") {
    val para = "the quick brown fox jumps over the lazy dog again and again tonight"
    val a = s"completely unrelated preamble text here that goes on $para"
    val b = s"$para followed by a totally different ending about other things"
    val c = "no shared content in this document at all, nothing to see here friends"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val fps = NearDup.winnowedFingerprints(df, "doc_id", "text")
    // shared substring >= n + w - 1 = 23 chars guarantees >= 1 common fp;
    // the 68-char paragraph produces many
    val pairs = NearDup.overlapPairs(fps, minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
    // whole-document 3-gram Jaccard misses the same pair at any usable bar
    val post = NearDup.shinglePostings(df, "doc_id", "text", 3)
    assert(NearDup.exactJaccardPairs(post, 0.5).count() === 0L)
  }

  test("xx64 production winnowing preserves the selection structure") {
    val para = "the quick brown fox jumps over the lazy dog again and again tonight"
    val a = s"completely unrelated preamble text here that goes on $para"
    val b = s"$para followed by a totally different ending about other things"
    val c = "no shared content in this document at all, nothing to see here friends"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val xxFps = NearDup.winnowedFingerprints(df, "doc_id", "text",
      gramHash = NearDup.xx64)
    // the winnowing GUARANTEE is hash-independent: the copied paragraph
    // must surface as the only overlap pair under xxhash64 exactly as it
    // does under md5 (which positions win each window differs; the
    // detected pair set must not)
    val pairs = NearDup.overlapPairs(xxFps, minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
    // selection density is governed by w, not by the hash: per doc, one
    // fingerprint per window of 8 positions (dedup collapses repeats), so
    // the xx64 count stays within 2x of md5's
    val mdCount = NearDup.winnowedFingerprints(df, "doc_id", "text").count()
    val xxCount = xxFps.count()
    assert(xxCount <= mdCount * 2 && mdCount <= xxCount * 2,
      s"md5 picked $mdCount fps, xx64 picked $xxCount")
  }

  test("containmentPairs catches a short doc embedded in a long one") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long0 = s"$short " +
      (1 to 60).map(i => s"tok$i").mkString(" ") // short ⊂ long
    val df = Seq((1L, short), (2L, long0), (3L, "unrelated words only here now"))
      .toDF("doc_id", "text")
    val post = NearDup.shinglePostings(df, "doc_id", "text", 3)
    val cont = NearDup.containmentPairs(post, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq === Seq((1L, 2L, 1.0)), cont.mkString(","))
    // … while symmetric Jaccard stays far below any dedup threshold
    val jac = NearDup.exactJaccardPairs(post, 0.5).count()
    assert(jac === 0L)
  }

  test("contaminationReport flags corpus docs sharing k-grams with the benchmark") {
    val leak = "the quick brown fox jumps over the lazy dog"
    val corpus = Seq(
      (10L, s"intro words then $leak and a tail"),   // contains the phrase
      (11L, "completely different content with no overlap at all"),
      (12L, s"$leak $leak")                           // repeats it — same distinct grams
    ).toDF("doc_id", "text")
    val bench = Seq((1L, leak), (2L, "unrelated benchmark prompt text here"))
      .toDF("doc_id", "text")
    val got = NearDup.contaminationReport(corpus, "doc_id", "text",
      bench, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the 9-token phrase has 6 distinct 4-grams; both carriers hit only
    // benchmark doc 1, and repetition does not inflate the DISTINCT count
    assert(got.keySet === Set(10L, 12L))
    assert(got(10L) === ((6L, 1L)))
    assert(got(12L) === ((6L, 1L)))
    // minShared above the overlap suppresses the report
    assert(NearDup.contaminationReport(corpus, "doc_id", "text",
      bench, "doc_id", "text", k = 4, minShared = 7L).count() === 0L)
  }

  test("cdcChunks: chunks tile the document exactly and re-sync after an insertion") {
    val tail = Random.alphanumeric.take(400).mkString
    val docs = Seq(
      (1L, s"common prefix $tail"),
      (2L, s"INSERTED-EDIT common prefix $tail"),  // same content, shifted
      (3L, "tiny")                                  // shorter than the window
    ).toDF("doc_id", "text")
    val got = NearDup.cdcChunks(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))

    // tiling: per doc, chunks are contiguous from 1 and lengths sum to len
    val texts = Map(1L -> s"common prefix $tail",
      2L -> s"INSERTED-EDIT common prefix $tail", 3L -> "tiny")
    got.groupBy(_._1).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._3 == 1L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3)
        case _ =>
      }
      assert(sorted.map(_._4).sum == texts(id).length.toLong)
    }
    // doc 3 is one whole-doc chunk
    assert(got.filter(_._1 == 3L).map(x => (x._2, x._3, x._4)).toSeq ==
      Seq((1L, 1L, 4L)))
    // re-synchronization: after the insertion shifts everything, the two
    // docs still share most chunk hashes (boundaries are content-defined)
    val h1 = got.filter(_._1 == 1L).map(_._5).toSet
    val h2 = got.filter(_._1 == 2L).map(_._5).toSet
    assert((h1 & h2).size >= h1.size / 2,
      s"only ${(h1 & h2).size} of ${h1.size} chunks survived the insertion")
  }

  test("groupRepresentatives keeps the best-scored member, ties to lower id") {
    // two groups: {1,2,3} canonical 1, {7,9} canonical 7
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "canonical")
    // group 1: doc 2 has the top score; group 7: scores tie — rep is 7
    val scores = Seq((1L, 0.4), (2L, 0.9), (3L, 0.9 - 1e-9),
      (7L, 0.5), (9L, 0.5)).toDF("doc_id", "score")
    val got = NearDup.groupRepresentatives(labels, scores)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((2L, false)) && got(2L) == ((2L, true)) &&
      got(3L) == ((2L, false)))
    assert(got(7L) == ((7L, true)) && got(9L) == ((7L, false)))
  }

  test("row-local minhash signatures: bit-identical to the aggregate " +
      "path, zero exchanges, same LSH buckets") {
    val agg = NearDup.minhashSignatures(corpus, "doc_id", "text",
        k = 3, numHashes = 64, seed = 42L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rlDf = NearDup.minhashSignaturesRowLocal(corpus, "doc_id", "text",
      k = 3, numHashes = 64, seed = 42L)
    val rl = rlDf.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rl === agg, "signatures must match the aggregate formulation")
    // the point of the native expression: the signature job has NO
    // exchange at all — the aggregate path shuffles partial signatures
    val p = rlDf.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    val lshA = NearDup.minHashLsh(corpus, "doc_id", "text", 3, 16, 4, 42L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val lshB = NearDup.minHashLshRowLocal(corpus, "doc_id", "text", 3, 16, 4, 42L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(lshB === lshA)
    // null text yields no signature row on either path
    val withNull = corpus.unionByName(
      Seq((999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assert(NearDup.minhashSignaturesRowLocal(withNull, "doc_id", "text",
      3, 8, 42L).filter(col("id") === 999L).isEmpty)
  }

  test("incrementalNearDups: history collisions and lower-id batch mates " +
      "drop; fresh docs survive; appending survivors converges") {
    def lsh(d: org.apache.spark.sql.DataFrame) =
      NearDup.minHashLsh(d, "doc_id", "text", k = 3, bands = 16,
        rowsPerBand = 4, seed = 42L)
    val freshText = (0 until 60).map(i => s"f$i").mkString(" ")
    // batch: the corpus' near/exact dups of the base docs (ids >= 40) plus
    // two IDENTICAL genuinely-new docs (100, 101)
    val batch = corpus.filter(col("doc_id") >= 40).unionByName(
      Seq((100L, freshText), (101L, freshText)).toDF("doc_id", "text"))
    val registry = lsh(corpus.filter(col("doc_id") < 40))
    val out = NearDup.incrementalNearDups(lsh(batch), registry)
    val survivors = out.select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    // exact dups of base docs MUST collide with the registry
    assert(!survivors.contains(50L) && !survivors.contains(51L))
    // the new content survives once: 100 kept, its in-batch twin dropped
    assert(survivors.contains(100L), s"fresh doc dropped: $survivors")
    assert(!survivors.contains(101L), "keep-first must drop the twin")
    // convergence: append the survivors' fingerprints, re-run the same
    // batch — everything now collides with history, nothing survives
    val reg2 = registry.select("band", "bucket")
      .unionByName(out.select("band", "bucket"))
    assert(NearDup.incrementalNearDups(lsh(batch), reg2).isEmpty)
  }

  test("repeatedSpans finds a copied mid-line paragraph where line dedup " +
      "sees nothing, exempting the first holder") {
    // 60-char paragraph embedded mid-line in both docs; every character
    // adjacent to the paragraph differs between the docs, so the maximal
    // common substring is EXACTLY the paragraph — and since neither doc
    // contains a full line equal to one of the other's, C4-style line
    // dedup (q88) can remove nothing here.
    val para = "the quick brown fox jumps over the lazy dog once more tonight"
    assert(para.length === 61)
    val a = (1L, "X" * 40 + para + "Y" * 40)
    val b = (2L, "B" + "Z" * 39 + para + "W" * 40)
    val df = Seq(a, b).toDF("doc_id", "text")
    val spans = NearDup.repeatedSpans(df, "doc_id", "text", L = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 is the min-id holder of every shared gram — exempt
    assert(spans.forall(_._1 == 2L), s"first holder must keep its copy: ${spans.toSeq}")
    // doc 2: ONE merged span, exactly the paragraph (1-based start = 41)
    assert(spans.toSeq === Seq((2L, 41L, 61L, 61L - 32L + 1L)))
  }

  test("chunkDupStats: an exact copy's chunks are all duplicates of the " +
      "original's; unique docs carry none") {
    val rnd = new Random(5)
    val txt = Seq.fill(120)("w" + rnd.nextInt(100000)).mkString(" ")
    val other = Seq.fill(120)("x" + rnd.nextInt(100000)).mkString(" ")
    val docs = Seq((1L, txt), (2L, txt), (3L, other))
      .toDF("doc_id", "text")
    val got = NearDup.chunkDupStats(
        NearDup.cdcChunks(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getDouble(5)))).toMap
    val (n2, dup2, frac2) = got(2L)
    assert(n2 === dup2 && frac2 === 1.0,
      s"copy doc must be fully duplicate: $got")
    assert(got(1L)._2 === 0L && got(3L)._2 === 0L,
      s"original and unique docs must carry no dup chunks: $got")
  }

  test("removeRepeatedSpans splices spans out and reassembles: copy docs " +
      "lose exactly the paragraph, the first holder is untouched") {
    val para = "the quick brown fox jumps over the lazy dog once more tonight"
    val a = (1L, "X" * 40 + para + "Y" * 40)
    val b = (2L, "B" + "Z" * 39 + para + "W" * 40)
    val df = Seq(a, b).toDF("doc_id", "text")
    val spans = NearDup.repeatedSpans(df, "doc_id", "text", L = 32)
    val got = NearDup.removeRepeatedSpans(df, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((a._2, 0L, 0L)), "first holder keeps its copy")
    assert(got(2L) === (("B" + "Z" * 39 + "W" * 40, 1L, para.length.toLong)))
    // a doc made ONLY of duplicated content empties out (drop downstream)
    val c = Seq((1L, para + "#" + para), (2L, para), (3L, para))
      .toDF("doc_id", "text")
    val cSpans = NearDup.repeatedSpans(c, "doc_id", "text", L = 32)
    val cGot = NearDup.removeRepeatedSpans(c, "doc_id", "text", cSpans)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cGot(2L) === "" && cGot(3L) === "")
  }

  test("repeatedSpans: three holders — all but the min-id doc get the span; " +
      "disjoint repeats stay separate islands") {
    val p1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa ll"
    val p2 = "one two three four five six seven eight nine ten eleven tw"
    assert(p1.length >= 32 && p2.length >= 32)
    // doc 1 holds both paragraphs first; docs 2 and 3 copy them with a
    // distinct separator wider than L so the two spans cannot merge
    val df = Seq(
      (1L, p1 + " @@1@@ " + p2),
      (2L, "U" * 50 + p1 + "V" * 50 + p2 + "T" * 10),
      (3L, p2 + "#" * 50 + p1)).toDF("doc_id", "text")
    val got = NearDup.repeatedSpans(df, "doc_id", "text", L = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(!got.contains(1L), "min-id holder is exempt")
    assert(got(2L).length === 2, s"doc 2 spans: ${got(2L).toSeq}")
    assert(got(3L).length === 2, s"doc 3 spans: ${got(3L).toSeq}")
    // doc 2's spans are exactly the two planted paragraphs
    assert(got(2L).map(s => (s._2, s._3)).sortBy(_._1).toSeq ===
      Seq((51L, p1.length.toLong), (51L + p1.length + 50L, p2.length.toLong)))
  }

  test("lshGeometryCurve: refining geometries form a candidate SUPERSET " +
      "chain, so candidate counts and recall are non-decreasing in bands " +
      "and every curve point matches its standalone candidate set") {
    val sigs = NearDup.minhashSignatures(corpus, "doc_id", "text",
      k = 3, numHashes = 16, seed = 42L).persist()
    try {
      val truth = NearDup.exactJaccardPairs(
        NearDup.shinglePostings(corpus, "doc_id", "text", k = 3),
        threshold = 0.5).select(col("d1"), col("d2")).persist()
      try {
        val geoms = Seq((4, 4), (8, 2), (16, 1))
        val curve = NearDup.lshGeometryCurve(sigs, geoms, truth)
          .orderBy(col("bands"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
        assert(curve.map(_._1).toSeq === Seq(4L, 8L, 16L))
        // candidate volume and hits non-decreasing along the refinement
        assert(curve.map(_._2).toSeq === curve.map(_._2).sorted.toSeq)
        assert(curve.map(_._4).toSeq === curve.map(_._4).sorted.toSeq)
        // superset chain on the actual pair sets, not just the counts
        def cands(b: Int, r: Int) =
          NearDup.lshCandidates(NearDup.minHashLsh(corpus, "doc_id",
            "text", k = 3, bands = b, rowsPerBand = r, seed = 42L))
        val c44 = cands(4, 4); val c82 = cands(8, 2)
        assert(c44.except(c82).count() === 0L,
          "a (4,4) candidate must also be an (8,2) candidate")
        // per-point equality with the standalone candidate set
        assert(curve(0)._2 === c44.count())
        assert(curve(1)._2 === c82.count())
        // the planted near-dups are all caught at every geometry here
        val nTrue = truth.count()
        assert(curve.forall(_._3 === nTrue))
      } finally { truth.unpersist(); () }
    } finally { sigs.unpersist(); () }
  }

  test("lshGeometryCurve guards: an oversized geometry fails loudly " +
      "instead of silently bucketing empties, and an empty truth set " +
      "yields recall 0.0, not null") {
    val sigs = NearDup.minhashSignatures(corpus, "doc_id", "text",
      k = 3, numHashes = 8, seed = 42L)
    val noTruth = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d1",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("d2",
          org.apache.spark.sql.types.LongType))))
    // 8-hash signatures cannot serve a (16,1) geometry: runtime error,
    // not an empty-string mega-bucket
    val ex = intercept[Exception] {
      NearDup.lshGeometryCurve(sigs, Seq((16, 1)), noTruth).collect()
    }
    assert(ex.getMessage != null)
    // empty truth: recall must come back 0.0 (the precision-guard mirror)
    val row = NearDup.lshGeometryCurve(sigs, Seq((4, 2)), noTruth)
      .select(col("recall"), col("precision")).collect()(0)
    assert(!row.isNullAt(0) && row.getDouble(0) === 0.0)
  }

  /** Hand-made 4-hash signatures: docs 1, 2 agree on their first three
    * hashes, docs 3, 4 on their first; no two signatures are equal. */
  private def smallSigs = Seq(
    (1L, Array(1L, 2L, 3L, 4L)), (2L, Array(1L, 2L, 3L, 5L)),
    (3L, Array(9L, 9L, 9L, 9L)), (4L, Array(9L, 8L, 7L, 6L))
  ).toDF("id", "sig")

  test("lshGeometryCurve: every config row equals the one-point " +
      "lshCandidates(bandBuckets) recount, for duplicate and " +
      "out-of-order configs and a geometry no pair reaches") {
    val sigs = smallSigs
    val truth = Seq((1L, 2L), (1L, 3L)).toDF("d1", "d2")
    // (1, 4): one band of the whole signature, and no two are equal
    val configs = Seq((2, 2), (4, 1), (1, 4), (2, 2))
    val curve = NearDup.lshGeometryCurve(sigs, configs, truth).collect()
    assert(curve.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      configs.map { case (b, r) => (b.toLong, r.toLong) }.sorted)
    curve.foreach { row =>
      val (b, r) = (row.getLong(0).toInt, row.getLong(1).toInt)
      val cand = NearDup.lshCandidates(NearDup.bandBuckets(sigs, b, r))
      val n = cand.count()
      val hits = cand.join(truth, Seq("d1", "d2"), "left_semi").count()
      def frac(a: Long, d: Long) = if (d == 0L) 0.0
        else BigDecimal(a.toDouble / d)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert((row.getLong(2), row.getLong(3), row.getLong(4),
        row.getDouble(5), row.getDouble(6)) ===
        ((n, 2L, hits, frac(hits, 2L), frac(hits, n))), s"($b, $r)")
    }
    assert(curve.filter(_.getLong(0) == 1L).head.getLong(2) === 0L)
  }

  test("lshGeometryCurve is one plan: three geometries start at most 2 " +
      "more Spark jobs than one") {
    val sigs = smallSigs
    val truth = Seq((1L, 2L)).toDF("d1", "d2")
    def jobs(n: Int): Int = jobsDuring {
      NearDup.lshGeometryCurve(sigs, Seq((4, 1), (2, 2), (1, 4)).take(n),
        truth).collect(); ()
    }
    val (one, three) = (jobs(1), jobs(3))
    assert(three <= one + 2, s"$one jobs over 1 geometry, $three over 3")
  }
}
