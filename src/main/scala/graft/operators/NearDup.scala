package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection over text at scale (SURVEY.md §2.14): word-shingle
  * Jaccard similarity, computed two ways —
  *
  *  - [[exactJaccardPairs]]: posting-list (inverted-index) join on the shingle
  *    itself. Exact, but the shuffle fans out by shingle frequency: a shingle
  *    shared by d documents emits O(d²) candidate pairs, so a hot shingle
  *    ("click here to subscribe") makes the plan quadratic at 100 TB.
  *  - [[minHashLsh]] + [[verifiedPairs]]: MinHash signatures banded into LSH
  *    buckets. The join key is a (band, band-hash) bucket, so the pair
  *    fan-out is bounded by bucket size regardless of shingle frequency —
  *    this is the 100 TB path. Candidates are then verified with the exact
  *    Jaccard, so the output contains no false positives; recall is
  *    1-(1-s^r)^b per pair of true similarity s (default 64 hashes, 16
  *    bands × 4: ≥ 0.9998 at s = 0.8, ≥ 1-4e-8 at s = 0.9) and
  *    deterministic for a fixed seed — raise `bands` for corpora with
  *    many pairs near the threshold.
  *
  * SimHash ([[simhash]]) covers the same need with a single 64-bit
  * fingerprint per document and Hamming-ball search via chunk banding
  * ([[simhashCandidateEdges]]) — cheaper per document, coarser than MinHash.
  *
  * No crossJoin anywhere: every pair generation is an equi-join on a bucket
  * key (shingle, LSH band bucket, or SimHash chunk).
  *
  * Plan shape note: both signature computations explode to one row per
  * (doc, shingle/token), hash ONCE per row, and reduce with per-hash-function
  * aggregates. Map-side partial aggregation means the doc-key shuffle only
  * carries per-partition partial signatures, and the base hash is never
  * recomputed per hash function (an array-expression formulation would
  * re-evaluate xxhash64 numHashes times per shingle).
  */
object NearDup {

  /** Distinct word k-grams of `text`, the unit set for Jaccard. Documents
    * with fewer than k tokens contribute their whole token sequence as one
    * shingle. */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Posting-list form of [[wordShingles]]: one row per (doc, distinct
    * shingle), with the doc's shingle-set size on every row. Built from
    * posexplode + window `lead`s instead of the array higher-order
    * functions — HOFs are CodegenFallback (interpreted per row), which made
    * the array form the hot spot; this shape stays inside whole-stage
    * codegen except the exchanges keyed by the doc id.
    * Dedup and set size are ONE `collect_set` aggregate (set semantics give
    * the distinct for free, size comes from the array) instead of
    * distinct + a count window — one key shuffle, not two. The per-doc set
    * must fit in a row: fine for documents with bounded shingle counts
    * (the LLM-corpus shape); a corpus with pathological multi-GB docs
    * would cap doc length upstream anyway.
    * Short docs (< k tokens) degrade to one whole-text shingle exactly like
    * [[wordShingles]] (concat_ws skips the null leads). */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    shingleRows(df, idCol, textCol, k)
      .groupBy(col("id")).agg(collect_set(col("g")).as("gs"))
      .select(col("id"), size(col("gs")).cast("long").as("n"),
        explode(col("gs")).as("g"))

  // --- exact: inverted-index join ------------------------------------------

  /** All pairs (d1 < d2) with shingle-Jaccard ≥ `threshold`, exactly.
    * Plan: explode shingles → self-equi-join on the shingle (inverted
    * index) → count common shingles per pair → filter on the Jaccard.
    * Shuffles on the shingle then on the pair key; see the class doc for
    * the hot-shingle caveat that motivates the LSH variant. */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double): DataFrame =
    exactJaccardPairs(shinglePostings(df, idCol, textCol, k), threshold)

  /** [[exactJaccardPairs]] over a precomputed (id, g, n) postings table.
    * Spark does NOT reuse an aliased subplan across self-join sides, so
    * when the caller persists the postings this halves the work — the
    * staged form a multi-query dedup pipeline should use. */
  def exactJaccardPairs(sh: DataFrame, threshold: Double): DataFrame = {
    // Set size rides along with every posting row, which kills two birds:
    // the pair join can size-prune exactly (J ≥ τ forces τ·|B| ≤ |A| ≤
    // |B|/τ — pairs outside the band can't qualify, so they never fan out),
    // and no size-lookup joins are needed after the aggregation (the sizes
    // are already in the grouping key).
    sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("a.n") >= col("b.n") * threshold &&
          col("b.n") >= col("a.n") * threshold)
      .groupBy(col("a.id").as("d1"), col("a.n").as("na"),
        col("b.id").as("d2"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))
  }

  /** Containment pairs: inter / min(|A|, |B|) ≥ `threshold` — catches the
    * asymmetric case Jaccard misses (a short doc embedded in a long one:
    * J = |A|/|B| can be tiny while containment is 1.0). Same inverted-index
    * shape as [[exactJaccardPairs]] but WITHOUT the size-band prune — wide
    * size ratios are exactly the pairs being looked for, so every shared
    * shingle fans out; at 100 TB run it on an LSH-candidate set or behind
    * a hot-shingle frequency cap rather than raw. One more consumer of a
    * persisted postings stage. */
  def containmentPairs(sh: DataFrame, threshold: Double): DataFrame =
    sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("d1"), col("a.n").as("na"),
        col("b.id").as("d2"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / least(col("na"), col("nb")))
          .as("cont"))
      .filter(col("cont") >= threshold)
      .select(col("d1"), col("d2"), round(col("cont"), 4).as("containment"))

  /** [[exactJaccardPairs]] with PREFIX FILTERING (the All-Pairs/PPJoin
    * family, Bayardo et al. 2007): instead of indexing EVERY shingle of
    * every document, index only each document's prefix — its
    * |d| − ⌈τ·|d|⌉ + 1 rarest shingles under one global shingle order.
    * Any pair with J ≥ τ shares ≥ ⌈τ·|A∪B|⌉ shingles, and two prefixes
    * that long must overlap in at least one of them (pigeonhole under the
    * common order), so the candidate set stays COMPLETE while the inverted
    * index shrinks to the prefix — and because the order is
    * ascending-document-frequency, the surviving index entries are
    * precisely the RARE shingles: the hot-shingle quadratic blowup that
    * motivates LSH mostly disappears while the result stays exact.
    *
    * The threshold arrives as a RATIONAL τ = thrNum/thrDen so the prefix
    * length ⌈τn⌉ is computed in exact integer arithmetic ((num·n+den−1)
    * div den) — a float ⌈τ·n⌉ that rounds up one too far would SHORTEN a
    * prefix and silently drop true pairs.
    *
    * Plan: one aggregate for document frequency, one per-doc window for
    * the prefix ranks (partitioned by doc — no global sort), the
    * candidate equi-join on the prefix shingle with the exact size-band
    * prune in cross-multiplied integers, then ONE verification join of
    * the candidates back to the full postings. Output contract identical
    * to [[exactJaccardPairs]] (d1 < d2, jaccard rounded to 4). */
  def prefixFilteredJaccardPairs(sh: DataFrame, thrNum: Long,
      thrDen: Long): DataFrame = {
    require(thrNum > 0 && thrDen >= thrNum,
      "threshold must be a rational in (0, 1]")
    val dfreq = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // Global order = (document frequency asc, shingle asc): total, shared
    // by every document, rarest-first.
    val ranked = sh.join(dfreq, Seq("g"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
    // prefix length = n − ⌈τn⌉ + 1, all longs: ⌈τn⌉ = (num·n+den−1) div den
    val ceilTauN = {
      val a = col("n") * thrNum + (thrDen - 1)
      ((a - pmod(a, lit(thrDen))) / thrDen).cast("long")
    }
    val prefix = ranked.filter(col("rnk") <= col("n") - ceilTauN + 1)
      .select(col("id"), col("n"), col("g"), col("rnk"))

    // POSITIONAL filter (PPJoin, Xiao et al. 2008): a pair with J ≥ τ
    // has overlap o ≥ α = ⌈τ(|A|+|B|)/(1+τ)⌉, and its FIRST shared
    // shingle under the global order (at ranks i in A, j in B) bounds
    // o ≤ 1 + min(|A|−i, |B|−j) — every other shared shingle sits
    // strictly after both ranks. The first shared shingle of a true
    // pair is inside both prefixes (o ≥ α ≥ τ·max(|A|,|B|) under the
    // size band, while a miss would cap o at ⌈τn⌉−1), so requiring
    // 1 + min(na−i, nb−j) ≥ α on at least one matching prefix row keeps
    // the candidate set complete while cutting the hot-prefix fan-out
    // that grew 7× at 10× data (SCALEPROBE_r18). Integer-exact via
    // cross-multiplication: u ≥ ⌈x/y⌉ ⟺ u·y ≥ x for positive ints.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("a.n") * thrDen >= col("b.n") * thrNum &&
          col("b.n") * thrDen >= col("a.n") * thrNum &&
          (lit(1L) + least(col("a.n") - col("a.rnk"),
            col("b.n") - col("b.rnk"))) * (thrNum + thrDen) >=
            (col("a.n") + col("b.n")) * thrNum)
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .distinct()

    val inter = sh.as("x")
      .join(cand, col("x.id") === col("d1"))
      .join(sh.as("y"),
        col("y.id") === col("d2") && col("x.g") === col("y.g"))
      .groupBy(col("d1"), col("x.n").as("na"), col("d2"),
        col("y.n").as("nb"))
      .agg(count(lit(1)).as("inter"))

    inter
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jac"))
      // same final gate as exactJaccardPairs (one double compare) so the
      // two operators are output-identical by construction
      .filter(col("jac") >= thrNum.toDouble / thrDen)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))
  }

  // --- MinHash + LSH --------------------------------------------------------

  /** 2^31-1, the Mersenne prime used by the universal hash family
    * h_i(x) = (a_i·x + b_i) mod p. Shingle base-hashes are reduced below p
    * first so a_i·x stays < 2^62 — no Long overflow under ANSI mode. */
  private val P = 2147483647L

  /** The (a_i, b_i) universal-hash coefficients for `n` MinHash functions
    * under `seed` — public so an oracle can replay the exact signature
    * pipeline (the coefficients become SQL literals, the way q37 inlines
    * its hyperplanes). */
  def hashCoefficients(seed: Long, n: Int): Seq[(Long, Long)] =
    (0 until n).map(coef(seed, _))

  /** Deterministic per-hash coefficients (splitmix64 of the seed). */
  private def coef(seed: Long, i: Int): (Long, Long) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val a = Math.floorMod(mix(seed * 2654435761L + i), P - 1) + 1
    val b = Math.floorMod(mix(seed * 40503L + i + 1), P)
    (a, b)
  }

  /** Raw (id, g) shingle rows — duplicates allowed, no set size. The cheap
    * input for MinHash: `min` is invariant under duplicates, so the
    * distinct + size-window exchanges of [[shinglePostings]] are pure waste
    * on the signature path. */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "t")))
    val w = Window.partitionBy("id").orderBy("pos")
    val lastLead = lead(col("t"), k - 1).over(w)
    val g = concat_ws(" ",
      (col("t") +: (1 until k).map(i => lead(col("t"), i).over(w))): _*)
    toks.withColumn("g", g)
      .withColumn("complete", lastLead.isNotNull)
      .filter(col("complete") || col("pos") === 0)
      .select(col("id"), col("g"))
  }

  /** Benchmark decontamination — the eval-set hygiene pass every
    * pretraining corpus needs: corpus documents sharing at least
    * `minShared` distinct word `k`-grams with ANY benchmark document,
    * with the shared-gram and benchmark-doc counts for triage.
    *
    * Scale shape: the benchmark side is an eval set — small by nature —
    * so its distinct (bench doc, gram) pairs BROADCAST; the corpus side
    * is one codegen'd scan through the same lead-window shingle shape as
    * [[shinglePostings]], and only matching rows (rare by construction)
    * reach the per-doc aggregation shuffle. The corpus is never
    * shuffled wholesale and never self-joined. */
  def contaminationReport(corpus: DataFrame, corpusId: String,
      corpusText: String, benchmark: DataFrame, benchId: String,
      benchText: String, k: Int, minShared: Long = 1L): DataFrame = {
    val cg = shingleRows(corpus, corpusId, corpusText, k)
    val bg = broadcast(benchmark
      .select(col(benchId).as("bid"),
        explode(wordShingles(col(benchText), k)).as("g"))
      .distinct())
    cg.join(bg, Seq("g"))
      .groupBy(col("id"))
      .agg(countDistinct(col("g")).as("shared_grams"),
        countDistinct(col("bid")).as("bench_docs"))
      .filter(col("shared_grams") >= minShared)
      .select(col("id").as("doc_id"), col("shared_grams"), col("bench_docs"))
  }

  /** [[contaminationReport]] read from the EVAL side — the per-item
    * severity card every public contamination report tabulates (the
    * PaLM / GPT-4 appendices' "fraction of each eval item's n-grams
    * found in training data"): for each benchmark document, how many of
    * ITS distinct word k-grams appear anywhere in the corpus
    * (containment fraction) and how many corpus documents hit it. The
    * corpus-side report (q82) answers "which training docs to drop";
    * this answers "which eval items are already burned" — the two
    * directions of the same join.
    *
    * Same scale shape as the corpus report: the benchmark side is an
    * eval set — small by nature — so its distinct (bench doc, gram)
    * pairs BROADCAST; the corpus streams through the lead-window
    * shingle scan once; only matching grams reach the bench-doc-sized
    * aggregation. Items with zero corpus hits survive through the left
    * join with exact zeros (an eval card must list the CLEAN items
    * too — that is its point).
    *
    * @return per benchmark doc: (bench_id, n_grams, shared_grams,
    *         corpus_docs, containment = shared/n 6-dp)
    */
  def evalContaminationSeverity(corpus: DataFrame, corpusId: String,
      corpusText: String, benchmark: DataFrame, benchId: String,
      benchText: String, k: Int): DataFrame = {
    val bg = benchmark.select(col(benchId).as("bench_id"),
      explode(wordShingles(col(benchText), k)).as("g"))
    val btot = bg.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_grams"))
    val hits = shingleRows(corpus, corpusId, corpusText, k)
      .join(broadcast(bg), Seq("g"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("g")).as("shared_grams"),
        countDistinct(col("id")).as("corpus_docs"))
    btot.join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
        coalesce(col("corpus_docs"), lit(0L)).as("corpus_docs"),
        round(coalesce(col("shared_grams"), lit(0L)).cast("double") /
          col("n_grams").cast("double"), 6).as("containment"))
  }

  /** (id, sig: array<long>) — MinHash signatures of the shingle sets.
    * One xxhash64 per (doc, shingle); numHashes `min` aggregates reduce to
    * the signature with map-side partial aggregation. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, seed: Long,
      baseHash: Column => Column = c => xxhash64(c)): DataFrame =
    signaturesOf(shingleRows(df, idCol, textCol, k), numHashes, seed, baseHash)

  /** [[minhashSignatures]] over a precomputed (id, g) shingle table —
    * `min` is duplicate-invariant, so the signature of the distinct
    * posting set equals the signature of the raw shingle multiset and a
    * persisted postings stage can feed both the signature and the verify
    * paths. */
  def minhashSignaturesFromPostings(sh: DataFrame, numHashes: Int,
      seed: Long,
      baseHash: Column => Column = c => xxhash64(c)): DataFrame =
    signaturesOf(sh.select(col("id"), col("g")), numHashes, seed, baseHash)

  /** `baseHash` is the shingle base hash feeding the universal family —
    * xxhash64 (codegen-native) for production, [[md5Hash60]] when an
    * external oracle must replay the identical signature (same pattern as
    * [[simhash]]'s tokenHash). */
  private def signaturesOf(sh: DataFrame, numHashes: Int,
      seed: Long, baseHash: Column => Column): DataFrame = {
    val hashed = sh.select(col("id"), pmod(baseHash(col("g")), lit(P)).as("h"))
    val aggs = (0 until numHashes).map { i =>
      val (a, b) = coef(seed, i)
      min(pmod(col("h") * a + b, lit(P))).as(s"m_$i")
    }
    hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m_$i")): _*).as("sig"))
  }

  /** ROW-LOCAL MinHash signatures — the dedicated-signature-job fast
    * path: the whole signature folds inside the projection via the native
    * [[graft.expressions.MinHashSignature]] expression (one codegen'd
    * loop over the doc's own shingle array), so the corpus is NEVER
    * exploded and NEVER shuffled for its signatures — where the aggregate
    * spelling ([[minhashSignatures]]) pays a corpus-sized exchange of
    * partial signatures. Bit-identical output (same hash family, same
    * set semantics — `min` ignores the array-vs-multiset difference).
    * Use the aggregate spelling only when shingle postings are already
    * staged for other consumers. */
  def minhashSignaturesRowLocal(df: DataFrame, idCol: String,
      textCol: String, k: Int, numHashes: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val sig = ColumnBridge.toColumn(graft.expressions.MinHashSignature(
      ColumnBridge.toExpression(wordShingles(col(textCol), k)),
      numHashes, seed))
    // null text is filtered explicitly: wordShingles' short-doc fallback
    // (concat_ws) degrades a NULL text to [""] rather than null, but the
    // aggregate path's explode drops such rows — same contract here
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), sig.as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** [[minHashLsh]] on the row-local signature path: the ONLY shuffle of
    * the whole LSH pipeline is then the bucket groupBy over
    * (id, band, bucket) rows — bands·|corpus| short rows, not shingles. */
  def minHashLshRowLocal(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, rowsPerBand: Int, seed: Long): DataFrame =
    bandBuckets(minhashSignaturesRowLocal(df, idCol, textCol, k,
      bands * rowsPerBand, seed), bands, rowsPerBand)

  /** (id, band, bucket) rows: the signature cut into `bands` bands of
    * `rowsPerBand` values, each band rendered to a join key. */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String, k: Int,
      bands: Int, rowsPerBand: Int, seed: Long,
      baseHash: Column => Column = c => xxhash64(c)): DataFrame =
    bandBuckets(minhashSignatures(df, idCol, textCol, k, bands * rowsPerBand,
      seed, baseHash), bands, rowsPerBand)

  private[graft] def bandBuckets(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    bandBucketsBy(sigs, lit(bands), lit(rowsPerBand), Nil)

  /** [[bandBuckets]] with the geometry as columns: (keys…, id, band,
    * bucket) rows, each signature cut into `bands` bands of `rows`
    * values, so one pass bands every geometry its rows carry. */
  private def bandBucketsBy(sigs: DataFrame, bands: Column, rows: Column,
      keys: Seq[String]): DataFrame = {
    val ks = keys.map(col)
    sigs.select(ks ++ Seq(col("id"), col("sig"),
        explode(sequence(lit(0), bands - 1)).as("band")): _*)
      .select(ks ++ Seq(col("id"), col("band"),
        concat_ws(",", transform(slice(col("sig"), col("band") * rows + 1,
          rows), v => v.cast("string"))).as("bucket")): _*)
  }

  /** Candidate pairs (d1 < d2) sharing at least one LSH bucket. Single pass:
    * group by bucket, collect the member ids, explode the within-bucket
    * pairs — the signature pipeline is computed ONCE (a self-join would
    * recompute it for both sides), and the fan-out is bounded by bucket
    * size by construction.
    *
    * `maxDocsPerBucket` drops buckets larger than that BEFORE the member
    * arrays are built (the count is a window over the bucket key, so no
    * oversized array ever materializes). On a degenerate corpus —
    * mass-duplicated boilerplate collapsing to one signature — an uncapped
    * bucket is O(corpus) in ONE row and the pair explode is quadratic,
    * exactly when a dedup pipeline is most needed. A genuine near-dup pair
    * lost to one oversized bucket still surfaces through any other of its
    * `bands` buckets; fully-identical docs belong to
    * [[graft.operators.Dedup.exactDedupByDigest]] upstream. */
  def lshCandidates(lsh: DataFrame,
      maxDocsPerBucket: Long = Long.MaxValue): DataFrame =
    lshCandidatesBy(lsh, Nil, maxDocsPerBucket)

  /** [[lshCandidates]] per key tuple: buckets are (keys…, band, bucket)
    * and the pairs (keys…, d1, d2) are distinct per key tuple. */
  private def lshCandidatesBy(lsh: DataFrame, keys: Seq[String],
      maxDocsPerBucket: Long): DataFrame = {
    val ks = keys.map(col)
    val bucketKey = ks ++ Seq(col("band"), col("bucket"))
    val pruned =
      if (maxDocsPerBucket == Long.MaxValue) lsh
      else lsh.withColumn("__n",
          count(lit(1)).over(Window.partitionBy(bucketKey: _*)))
        .filter(col("__n") <= maxDocsPerBucket)
        .drop("__n")
    pruned.groupBy(bucketKey: _*)
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(ks ++ Seq(explode(col("ids")).as("d1"), col("ids")): _*)
      .select(ks ++ Seq(col("d1"), explode(col("ids")).as("d2")): _*)
      .filter(col("d1") < col("d2"))
      .select(ks ++ Seq(col("d1"), col("d2")): _*)
      .distinct()
  }

  /** The LSH GEOMETRY tuning curve — the (bands, rowsPerBand) dial of
    * MinHash dedup priced on the actual corpus, the fingerprint-family
    * mirror of the ANN nprobe curve and the SemDeDup τ curve: for each
    * candidate geometry over the SAME signature budget, the candidate
    * count, the hit count against a verified truth set, and the
    * resulting recall/precision. The S-curve theory says more, shorter
    * bands catch lower-similarity pairs at higher candidate cost; this
    * query measures where THIS corpus sits on that trade.
    *
    * Monotone BY CONSTRUCTION when geometries refine each other (rows
    * halving as bands double over one signature): a pair agreeing on a
    * wide band agrees on both its half-width sub-bands, so the
    * candidate sets form a SUPERSET CHAIN as bands grow and recall is
    * non-decreasing (NearDupSpec pins both).
    *
    * Scale shape: ONE plan for every geometry over the persisted
    * signature table, read once. Each signature row is replicated per
    * distinct geometry and cut with the geometry as columns (band j's
    * bucket is `slice(sig, j·rows + 1, rows)`); the bucket groups are
    * keyed by (bands, rows_per_band, band, bucket) and the pairs are
    * distinct per geometry. One left join onto the distinct truth pairs
    * flags the hits, and one aggregate grouped by geometry counts
    * candidates and hits. The configs, as given, are the grid the
    * counts are left-joined onto, so a repeated config repeats its row
    * and a geometry without candidates keeps a zeroed row. Each point
    * equals [[lshCandidates]] over that geometry's [[bandBuckets]]. The
    * corpus text is never rescanned, and the truth join is pairs sized.
    *
    * @param sigs    persisted [[minhashSignatures]] output (id, sig)
    * @param configs (bands, rowsPerBand) pairs; bands·rowsPerBand must
    *                not exceed the signature length
    * @param truth   verified true pairs (d1, d2)
    * @return one row per config, ordered by bands: (bands,
    *         rows_per_band, n_candidates, n_true, hits, recall,
    *         precision) */
  def lshGeometryCurve(sigs: DataFrame, configs: Seq[(Int, Int)],
      truth: DataFrame): DataFrame = {
    require(configs.nonEmpty, "need at least one geometry")
    // An oversized geometry (bands·rows > |sig|) would slice() empty
    // arrays and silently bucket every doc together in the overflow
    // bands — fail LOUDLY instead: assert_true rides the plan (NULL on
    // success, runtime error on the first undersized signature), so the
    // guard needs no driver-side action and no extra signature param.
    val need = configs.map { case (b, r) => b * r }.max
    val checked = sigs
      .withColumn("__sig_ok", assert_true(size(col("sig")) >= need,
        concat(lit(s"lshGeometryCurve: geometries need $need minhashes, " +
          "signature has "), size(col("sig")))))
      .filter(col("__sig_ok").isNull).drop("__sig_ok")
    val geom = Seq("bands", "rows_per_band")
    def geoms(cs: Seq[(Int, Int)]): Column = explode(array(cs.map {
      case (b, r) => struct(lit(b).as("bands"), lit(r).as("rows_per_band"))
    }: _*))
    val banded = checked.select(col("id"), col("sig"),
        geoms(configs.distinct).as("g")).select("id", "sig", "g.*")
    val cand = lshCandidatesBy(bandBucketsBy(banded, col("bands"),
      col("rows_per_band"), geom), geom, Long.MaxValue)
    val tr = truth.select(col("d1"), col("d2"))
    val counts = cand
      .join(tr.distinct().withColumn("__hit", lit(1L)), Seq("d1", "d2"),
        "left")
      .groupBy(geom.map(col): _*)
      .agg(count(lit(1)).as("n_candidates"), sum(col("__hit")).as("hits"))
    sigs.sparkSession.range(1).select(geoms(configs).as("g"))
      .select("g.*").join(broadcast(counts), geom, "left")
      .crossJoin(broadcast(tr.agg(count(lit(1)).as("n_true"))))
      .select(col("bands").cast("long").as("bands"),
        col("rows_per_band").cast("long").as("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_true"), coalesce(col("hits"), lit(0L)).as("hits"))
      .select(col("*"),
        Stats.guardedRatio(col("hits"), col("n_true")).as("recall"),
        Stats.guardedRatio(col("hits"), col("n_candidates"))
          .as("precision"))
      .orderBy(col("bands"))
  }

  /** Cross-batch incremental NEAR-dup dedup — the fingerprint-level mirror
    * of [[graft.operators.Dedup.incrementalNew]], the nightly-append story
    * for MinHash: keep only the docs of `batchLsh` (an (id, band, bucket)
    * table from [[minHashLsh]] over the new batch) that are near-new, i.e.
    * share NO LSH bucket with the persisted fingerprint registry of all
    * prior batches AND have no lower-id bucket-mate anywhere in this
    * batch, kept or not (the keep-first rule, same as SemDeDup's: the
    * lowest id per bucket survives; everything above it drops, even when
    * the doc it matched was itself dropped by a still-lower id).
    *
    * The registry carries one (band, bucket) row per historical
    * fingerprint — tiny next to the corpus, broadcast by AQE when it fits
    * — and the decision is fingerprint-level by design: the historical
    * docs' texts are NOT needed, so nightly increments never rescan
    * history (recall/precision are the banding curve, class doc). The
    * registry for the NEXT run is the union of the old registry and this
    * result's (band, bucket) rows — the caller appends, exactly like
    * `incrementalNew`'s digest registry.
    *
    * Plan: one semi join (batch × registry) on the bucket key, one
    * within-batch candidate pass ([[lshCandidates]], bucket-size-capped),
    * two anti joins on the doc id. No self-join of history, no text
    * comparison, no corpus shuffle beyond the bucket keys.
    *
    * @return the surviving docs' LSH rows (id, band, bucket) — ready to
    *         append to the registry
    */
  def incrementalNearDups(batchLsh: DataFrame, registry: DataFrame,
      maxDocsPerBucket: Long = Long.MaxValue): DataFrame = {
    val reg = registry.select(col("band"), col("bucket")).distinct()
    val vsHistory = batchLsh.join(reg, Seq("band", "bucket"), "left_semi")
      .select(col("id")).distinct()
    val fresh = batchLsh.join(vsHistory, Seq("id"), "left_anti")
    val dups = lshCandidates(fresh, maxDocsPerBucket)
      .select(col("d2").as("id")).distinct()
    fresh.join(dups, Seq("id"), "left_anti")
  }

  /** Registry lifecycle for the LSH fingerprint registry of
    * [[incrementalNearDups]] — the (band, bucket)-level mirror of
    * [[graft.operators.Dedup.compactRegistry]], same monotonic-growth
    * problem and same retirement rules: rows
    * `(band, bucket, sourceCol, batchCol)` (one per appended survivor
    * fingerprint), a holder retires when its source is tombstoned or its
    * batch ages past `minBatch`, and a BUCKET stays in the registry iff
    * any holder survives — so near-dups of still-live content keep
    * dropping after a compaction, while a fully-retired source's content
    * becomes admissible again (the takedown contract).
    *
    * Same scale shape: filter + broadcast anti join + one map-side-
    * combinable aggregate on the (band, bucket) key. Output keeps the
    * provenance columns (earliest surviving holder) so compactions
    * compose, and feeds [[incrementalNearDups]] directly — it only reads
    * `band`/`bucket`.
    *
    * @return (band, bucket, first_batch, first_source, n_holders)
    */
  def compactFingerprints(registry: DataFrame, sourceCol: String,
      batchCol: String, tombstoned: DataFrame,
      minBatch: Long = Long.MinValue): DataFrame = {
    val ts = tombstoned
      .select(col(tombstoned.columns.head).as(sourceCol)).distinct()
    registry
      .filter(col(batchCol) >= minBatch)
      .join(broadcast(ts), Seq(sourceCol), "left_anti")
      .groupBy(col("band"), col("bucket"))
      .agg(min(struct(col(batchCol), col(sourceCol))).as("__f"),
        count(lit(1)).as("n_holders"))
      .select(col("band"), col("bucket"),
        col("__f")(batchCol).as("first_batch"),
        col("__f")(sourceCol).as("first_source"), col("n_holders"))
  }

  /** LSH candidates verified with the exact Jaccard — same output contract
    * as [[exactJaccardPairs]] (zero false positives; recall per class doc). */
  def verifiedPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 4,
      seed: Long = 42L, maxDocsPerBucket: Long = Long.MaxValue): DataFrame =
    verifiedPairsStaged(shinglePostings(df, idCol, textCol, k), threshold,
      bands, rowsPerBand, seed, maxDocsPerBucket)

  /** [[verifiedPairs]] over a precomputed (id, g, n) postings table. When
    * the caller persists the postings, the whole tokenize→shingle pipeline
    * runs ONCE and feeds both the signature and the verify paths — and any
    * other consumer (exact baseline, component grouping) for free. This is
    * the staged form a multi-query dedup pipeline should use at scale:
    * materialize postings, then derive. */
  def verifiedPairsStaged(post: DataFrame, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4, seed: Long = 42L,
      maxDocsPerBucket: Long = Long.MaxValue): DataFrame = {
    val cands = lshCandidates(bandBuckets(
      minhashSignaturesFromPostings(post, bands * rowsPerBand, seed),
      bands, rowsPerBand), maxDocsPerBucket)
    // Verify with ONE pass over the postings. Referencing the postings twice
    // (pa/pb joins) would recompute the whole shingle pipeline per side —
    // Spark does not reuse the aliased subplan. Instead: melt each candidate
    // pair into two (pair, member, side) rows, broadcast that (candidates
    // are small by LSH construction), join the postings once, then count
    // per (pair, shingle) how many sides carry it — sides==2 is an
    // intersection hit. Sizes ride along per side.
    val members = cands.select(col("d1"), col("d2"), explode(array(
        struct(col("d1").as("m"), lit(1).as("side")),
        struct(col("d2").as("m"), lit(2).as("side")))).as("x"))
      .select(col("d1"), col("d2"), col("x.m").as("m"), col("x.side").as("side"))
    post.join(broadcast(members), col("id") === col("m"))
      .groupBy(col("d1"), col("d2"), col("g"))
      .agg(max(when(col("side") === 1, col("n"))).as("na_g"),
        max(when(col("side") === 2, col("n"))).as("nb_g"),
        count(lit(1)).as("sides"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(when(col("sides") === 2, 1)).as("inter"),
        max(col("na_g")).as("na"), max(col("nb_g")).as("nb"))
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))
  }

  // --- SimHash --------------------------------------------------------------

  /** (id, fp: long) — SimHash over the whitespace-token multiset: bit i of
    * the fingerprint is the sign of Σ_tokens (±1 depending on bit i of
    * tokenHash(token)). Same explode/aggregate shape as
    * [[minhashSignatures]]: one hash per (doc, token), numBits sum
    * aggregates. Default 64 bits of xxhash64; pass an md5-derived hash and
    * 60 bits for a fingerprint a SQL oracle can reproduce (graded q38). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      numBits: Int = 64,
      tokenHash: Column => Column = c => xxhash64(c)): DataFrame = {
    val tok = df
      .select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("t"))
      .select(col("id"), tokenHash(col("t")).as("h"))
    val aggs = (0 until numBits).map { i =>
      sum(when(col("h").bitwiseAND(shiftleft(lit(1L), i)) =!= 0, 1).otherwise(-1))
        .as(s"s_$i")
    }
    val bits = (0 until numBits).map { i =>
      when(col(s"s_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    tok.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), bits.reduce((a, b) => a.bitwiseOR(b)).as("fp"))
  }

  /** Portable 60-bit token hash: the first 15 hex digits of md5, which both
    * Spark (`conv`) and DuckDB (`'0x…'::BIGINT`) turn into the same
    * integer — the cross-engine-verifiable alternative to xxhash64. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Candidate pairs whose SimHash fingerprints agree on at least one of
    * four 16-bit chunks (pigeonhole: Hamming distance ≤ 3 guarantees an
    * intact chunk). Equi-join on (chunk index, chunk value).
    *
    * Scale design — only 4×65,536 chunk buckets exist, so at corpus scale
    * a naive per-doc bucketing is quadratic by construction. Two defenses:
    *
    *  1. Identical fingerprints collapse FIRST: a same-fp group is an
    *     equivalence class at Hamming distance 0, so it is emitted as a
    *     linear star around its min id instead of an O(group²) clique
    *     ([[connectedComponents]] downstream recovers the full group).
    *     Mass-duplicated boilerplate — the degenerate corpus — therefore
    *     costs O(group), and only DISTINCT fingerprints enter the join.
    *  2. `maxFpsPerBucket` drops chunk buckets holding more distinct
    *     fingerprints than that, before any member array is built — the
    *     same ubiquity cap as [[overlapPairs]]' `maxDocsPerFp`: a chunk
    *     value shared by thousands of distinct fingerprints carries no
    *     similarity signal but contributes O(d²) pairs.
    *
    * Output contract: (d1 < d2) pairs; same-fp groups appear as
    * rep–member edges, cross-fp candidates as rep–rep edges. Consumers
    * verify with [[hamming64]] and group with [[connectedComponents]].
    * Renamed from `simhashCandidates` when the contract changed from
    * all chunk-sharing pairs to star + rep–rep EDGES — a caller that
    * hamming-verifies pairs without running [[connectedComponents]] would
    * silently miss member-level cross-group pairs, so stale callers now
    * fail at compile time instead. */
  def simhashCandidateEdges(df: DataFrame, idCol: String, fpCol: String,
      maxFpsPerBucket: Long = Long.MaxValue): DataFrame = {
    val docs = df.select(col(idCol).as("id"), col(fpCol).as("fp"))
    val reps = docs.groupBy(col("fp")).agg(min(col("id")).as("rep"))
    val star = docs.join(reps, Seq("fp"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("d1"), col("id").as("d2"))
    val chunks = reps.select(col("rep").as("id"),
      explode(array((0 until 4).map { j =>
        struct(lit(j).as("chunk"),
          shiftright(col("fp"), j * 16).bitwiseAND(0xffffL).as("v"))
      }: _*)).as("c"))
      .select(col("id"), col("c.chunk").as("chunk"), col("c.v").as("v"))
    val pruned =
      if (maxFpsPerBucket == Long.MaxValue) chunks
      else chunks.withColumn("__n",
          count(lit(1)).over(Window.partitionBy(col("chunk"), col("v"))))
        .filter(col("__n") <= maxFpsPerBucket)
        .drop("__n")
    val cross = pruned.groupBy(col("chunk"), col("v"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("d1"), col("ids"))
      .select(col("d1"), explode(col("ids")).as("d2"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    star.unionAll(cross).distinct()
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // --- winnowing (local-overlap fingerprints) -------------------------------

  /** Winnowed fingerprints (the MOSS document-fingerprinting scheme): hash
    * every char `n`-gram, keep the MINIMUM hash of each sliding window of
    * `w` consecutive positions, distinct per doc. Guarantees: any shared
    * substring of length ≥ n + w - 1 contributes at least one COMMON
    * fingerprint to both docs — so local overlap (a copied paragraph
    * inside otherwise-different docs) is detectable where whole-document
    * similarity is ~0. Explode/window shape (one hash per position, one
    * min-window pass keyed by doc) — two exchanges, both on the doc id.
    * Hashing every character position is the dominant cost by design
    * (that is what winnowing is). `gramHash` picks the per-position hash:
    * the default md5 lets a SQL oracle reproduce every fingerprint
    * bit-for-bit (graded q62); production runs pass [[xx64]] — ~10×
    * cheaper per position and codegen-native. The hash choice moves WHICH
    * position wins each window minimum, but not the winnowing guarantee
    * or the selection density — WinnowSpec asserts both variants surface
    * the same planted overlap. */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
      n: Int = 16, w: Int = 8,
      gramHash: Column => Column = c => md5(c.cast("binary"))): DataFrame = {
    val positions = df
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(length(col("t")) >= n)
      .select(col("id"), col("t"),
        posexplode(sequence(lit(1), length(col("t")) - (n - 1))).as(Seq("p", "i")))
      .select(col("id"), col("i"),
        gramHash(col("t").substr(col("i"), lit(n))).as("h"))
    winnowMin(positions, w)
  }

  /** The window-min selection stage shared by both hashing paths:
    * positions = (id, i, h), one hash per gram position. */
  private def winnowMin(positions: DataFrame, w: Int): DataFrame = {
    val win = Window.partitionBy(col("id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    positions
      .withColumn("last_i", max(col("i")).over(
        Window.partitionBy(col("id"))))
      // only complete windows (i + w - 1 <= last position) — incomplete
      // tails would make the fingerprint set depend on w vs text length
      .withColumn("fp", min(col("h")).over(win))
      .filter(col("i") <= col("last_i") - (w - 1))
      .select(col("id"), col("fp"))
      .distinct()
  }

  /** [[winnowedFingerprints]] on the native O(len) rolling hash
    * (graft.expressions.RollingHash) — the production hot path. The md5
    * and xx64 forms hash each position's SUBSTRING: O(len·n) work plus a
    * temporary string per position; the rolling expression emits every
    * window hash in one allocation-free codegen'd pass, so the per-
    * position cost drops from "hash n bytes + allocate" to a multiply-add.
    * Same explode/window-min selection stage afterwards, so the winnowing
    * guarantee and density are unchanged (WinnowRollingSpec re-asserts
    * both); fingerprint VALUES differ from the other hash choices, as
    * with any `gramHash` swap — byte-level windows, see RollingHash. */
  def winnowedFingerprintsRolling(df: DataFrame, idCol: String,
      textCol: String, n: Int = 16, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val hs = ColumnBridge.toColumn(graft.expressions.RollingHash(
      ColumnBridge.toExpression(col(textCol)),
      n, graft.expressions.RollingHash.DefaultBase))
    val positions = df
      .select(col(idCol).as("id"), posexplode(hs).as(Seq("p", "h")))
      .select(col("id"), (col("p") + 1).as("i"), col("h"))
    winnowMin(positions, w)
  }

  /** Production gram hash for [[winnowedFingerprints]]: xxhash64 — a
    * codegen-native 64-bit hash, ~10× cheaper per position than md5 (no
    * hex-string materialization, stays inside whole-stage codegen). Not
    * reproducible from SQL engines without xxhash64, which is why the
    * oracle-graded path keeps md5. */
  val xx64: Column => Column = c => xxhash64(c)

  /** Pairs sharing at least `minShared` winnowed fingerprints — the
    * local-overlap miner (inverted-index join on the fingerprint, same
    * bucket-bounded shape as [[exactJaccardPairs]]). `maxDocsPerFp` drops
    * fingerprints shared by more than that many docs before the join —
    * ubiquitous (template/boilerplate) n-grams carry no overlap signal
    * but contribute O(d²) join pairs each; the cap is what bounds the
    * worst case at corpus scale. */
  def overlapPairs(fps: DataFrame, minShared: Long,
      maxDocsPerFp: Long = Long.MaxValue): DataFrame = {
    val pruned =
      if (maxDocsPerFp == Long.MaxValue) fps
      else fps.withColumn("__d",
          count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("__d") <= maxDocsPerFp)
        .drop("__d")
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("d1"), col("b.id").as("d2"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  // --- pairs → dedup groups -------------------------------------------------

  /** Connected components over a near-dup pair list: (doc, canonical) where
    * canonical = the smallest id reachable through pairs — the survivor a
    * dedup keeps for each group (transitively: if A~B and B~C, all three
    * map to min(A,B,C) even when A~C was never emitted as a pair).
    *
    * Min-label propagation PLUS pointer jumping each round: after pulling
    * the neighborhood minimum (one edge join), every node also adopts its
    * label's label (one self-join) — the pointer-doubling step that
    * collapses label chains geometrically, so convergence is O(log
    * diameter) rounds, not O(diameter). A plain propagation loop needs as
    * many rounds as the longest chain and silently truncates at `maxIter`
    * (a 100-link chain of near-dups — shingled spam variants — would get
    * split labels); with jumping, maxIter=20 covers diameters beyond any
    * real corpus (2^20 ≈ 10^6). The label table holds only docs that
    * appear in a pair — tiny relative to the corpus — and lineage is
    * truncated per round (localCheckpoint) so iterations don't stack
    * plans. Driver-checked fixpoint. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .unionAll(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("nid"))
        .agg(min(col("label")).as("nlabel"))
      val relaxed = labels.join(neighborMin, labels("id") === col("nid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint(true)
      // pointer jump: label := label(label). Labels are node ids, so the
      // lookup is a self-join; least() keeps monotonicity.
      val next = relaxed.as("x")
        .join(relaxed.select(col("id").as("jid"), col("label").as("jlabel"))
          .as("y"), col("x.label") === col("y.jid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("y.jlabel"), col("x.label")))
            .as("label"))
        .localCheckpoint(true)
      converged = next.withColumnRenamed("label", "next_label")
        .join(labels, Seq("id"))
        .filter(col("next_label") =!= col("label")).isEmpty
      labels = next
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("canonical"))
  }

  /** Content-defined chunking: cut every document into variable-length
    * chunks whose BOUNDARIES are decided by content (a rolling w-gram hash
    * hitting 0 mod `modulus`), not by fixed offsets. Fixed-size chunking
    * breaks under insertion — one added sentence shifts every later chunk
    * and nothing dedups; content-defined boundaries re-synchronize right
    * after the edit, so chunk-level dedup still collapses the unchanged
    * tail (the rsync/LBFS trick, applied to corpus text).
    *
    * A chunk starts at position 1 and at every i > 1 where
    * md5-60(text[i, i+w)) ≡ 0 (mod modulus); expected chunk length ≈
    * `modulus` chars. Same per-position explode shape as
    * [[winnowedFingerprints]] — O(total chars) rows, per-doc partitioned
    * window, no shuffle wider than the doc key — and the same hash
    * portability contract: md5 for cross-engine grading, [[xx64]] for
    * production.
    *
    * @return (id, chunk_idx, start, chunk_len, chunk_md5) — 1-based char
    *         offsets; docs shorter than `w` form a single chunk
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, modulus: Long = 64L): DataFrame = {
    require(w >= 2 && modulus >= 2, "need w >= 2 and modulus >= 2")
    val base = df.select(col(idCol).as("id"), col(textCol).as("t"),
      length(col(textCol)).cast("long").as("len"))
      .filter(col("t").isNotNull)
    // ONE corpus scan: every position candidate comes out of a single
    // explode (s = 1 is the forced first boundary; s >= 2 takes the hash
    // test). The union-of-two-scans formulation reads the corpus twice.
    // greatest(.., 1) keeps the sequence ascending for docs shorter than
    // w+1 (Spark's sequence(a, b) runs DESCENDING when b < a) — those
    // docs emit exactly the s = 1 whole-doc chunk.
    val starts = base
      .select(col("id"), col("t"), col("len"),
        explode(sequence(lit(1L),
          greatest(col("len") - (w - 1), lit(1L)))).as("s"))
      .filter(col("s") === 1L ||
        pmod(md5Hash60(col("t").substr(col("s").cast("int"), lit(w))),
          lit(modulus)) === 0L)
    val byDoc = Window.partitionBy(col("id")).orderBy(col("s"))
    starts
      .withColumn("e", lead(col("s"), 1, null).over(byDoc))
      .withColumn("e", coalesce(col("e"), col("len") + 1))
      .withColumn("chunk_idx", row_number().over(byDoc).cast("long"))
      .select(col("id"), col("chunk_idx"), col("s").as("start"),
        (col("e") - col("s")).as("chunk_len"),
        md5(col("t").substr(col("s").cast("int"),
          (col("e") - col("s")).cast("int")).cast("binary")).as("chunk_md5"))
  }

  /** [[cdcChunks]] on the native O(len) rolling hash — the production
    * variant, same motivation and speedup as
    * [[winnowedFingerprintsRolling]] (the per-position boundary hash is
    * the dominant cost; the rolling expression computes all of them in
    * one codegen'd pass). Boundary rule: position s ≥ 2 opens a chunk
    * when its w-byte window hash ≡ 0 (mod modulus); s = 1 is the forced
    * first boundary, injected as a SENTINEL element prepended to the
    * hash array so short docs (< w bytes, empty hash array) still emit
    * their whole-doc chunk — one corpus scan, no union. Boundary
    * POSITIONS differ from the md5 variant (different hash family), but
    * the content-defined property — boundaries re-synchronize after an
    * insertion — is the contract, re-asserted in WinnowRollingSpec.
    * Chunk ids are xxhash64 (codegen-native; this variant exists for
    * throughput, not oracle replay).
    *
    * Offsets are UTF-8 BYTE offsets throughout, unlike the char-based md5
    * variant: [[graft.expressions.RollingHash]] windows are byte windows,
    * so `start`/`chunk_len` count bytes and chunks are sliced out of the
    * encoded bytes. Mixing units (byte boundaries into char substr) would
    * misalign or truncate chunks on multi-byte text; keeping everything in
    * bytes makes the slicing exact (a boundary may fall inside a
    * multi-byte character — harmless for dedup identity, which only needs
    * byte-stable chunk content). On ASCII the two variants' units agree. */
  def cdcChunksRolling(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, modulus: Long = 64L): DataFrame = {
    require(w >= 2 && modulus >= 2, "need w >= 2 and modulus >= 2")
    import org.apache.spark.sql.graft.ColumnBridge
    val hs = ColumnBridge.toColumn(graft.expressions.RollingHash(
      ColumnBridge.toExpression(col("t")),
      w, graft.expressions.RollingHash.DefaultBase))
    val base = df.select(col(idCol).as("id"), col(textCol).as("t"),
      encode(col(textCol), "UTF-8").as("tb"),
      octet_length(col(textCol)).cast("long").as("len"))
      .filter(col("t").isNotNull)
    val starts = base
      .select(col("id"), col("tb"), col("len"),
        posexplode(concat(array(lit(0L)), hs)).as(Seq("q", "h")))
      // q = 0 is the sentinel (forced s = 1); q >= 1 maps to s = q, and
      // q = 1 duplicates the sentinel so only q >= 2 takes the hash test
      .filter(col("q") === 0 ||
        (col("q") >= 2 && pmod(col("h"), lit(modulus)) === 0L))
      .select(col("id"), col("tb"), col("len"),
        greatest(col("q"), lit(1L)).as("s"))
    val byDoc = Window.partitionBy(col("id")).orderBy(col("s"))
    starts
      .withColumn("e", lead(col("s"), 1, null).over(byDoc))
      .withColumn("e", coalesce(col("e"), col("len") + 1))
      .withColumn("chunk_idx", row_number().over(byDoc).cast("long"))
      .select(col("id"), col("chunk_idx"), col("s").as("start"),
        (col("e") - col("s")).as("chunk_len"),
        xxhash64(col("tb").substr(col("s").cast("int"),
          (col("e") - col("s")).cast("int"))).as("chunk_id"))
  }

  /** Exact-substring dedup — the ExactSubstr companion of line-level C4
    * dedup (Lee et al. 2021, arXiv:2107.06499 "Deduplicating Training
    * Data Makes Language Models Better", §4.1), in its bounded-gram form:
    * find, per document, the merged character spans covered by length-`L`
    * character grams that ALSO occur in another document, exempting each
    * gram's first holder (minimum doc id) so at least one copy of every
    * repeated substring survives — keep-first applied in span space. This
    * catches the case line dedup provably misses: a copied PARAGRAPH
    * embedded mid-line with different surrounding text, where no two
    * docs share an identical whole line.
    *
    * The full suffix-array construction of the paper is replaced by the
    * L-gram cover: a maximal repeated substring of length m ≥ L is
    * covered by exactly its m − L + 1 duplicated grams, which merge back
    * into one [start, start+m) span in the island pass; substrings
    * shorter than L are below the removal threshold by definition. That
    * trade makes the operator one corpus explode + two digest-keyed
    * shuffles instead of a global suffix sort — and DuckDB-replayable.
    *
    * Scale shape: O(total chars) gram rows out of ONE corpus scan (same
    * per-position family as winnowing/CDC); gram stats are a groupBy on
    * the md5 digest (well-distributed key); the join back is 1:1 per
    * occurrence (no pair fan-out — unlike pair mining, a gram in d docs
    * contributes d rows, not d²); interval merging is a per-doc window.
    * Hash: md5 for cross-engine grading, same contract as [[cdcChunks]].
    *
    * @param L minimum span length in characters (the dedup threshold —
    *          Lee et al. use 50 BPE tokens; L counts chars here)
    * @return (id, span_start, span_len, n_grams) — 1-based char offsets,
    *         one row per maximal removed span, only for NON-first docs
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      L: Int = 32): DataFrame =
    repeatedSpansFromGrams(repeatedSpanGrams(df, idCol, textCol, L), L)

  /** Stage 1 of [[repeatedSpans]]: the per-position L-gram digest table
    * `(id, s, gm)` — one row per character position. The downstream pass
    * reads this TWICE (gram-stats aggregate + the cover join), and Spark
    * re-evaluates an unpersisted subplan per reference, which doubles the
    * dominant md5-per-position cost — callers should persist it (the
    * postings-stage pattern; q158 rides the pipeline stage cache). */
  def repeatedSpanGrams(df: DataFrame, idCol: String, textCol: String,
      L: Int): DataFrame = {
    require(L >= 2, "L must be >= 2")
    df.select(col(idCol).as("id"), col(textCol).as("t"),
        length(col(textCol)).cast("long").as("len"))
      .filter(col("t").isNotNull && length(col("t")) >= L)
      .select(col("id"),
        explode(sequence(lit(1L), col("len") - (L - 1))).as("s"),
        col("t"))
      .select(col("id"), col("s"),
        md5(col("t").substr(col("s").cast("int"), lit(L)).cast("binary"))
          .as("gm"))
  }

  /** Production variant of [[repeatedSpanGrams]] on the native O(len)
    * rolling hash — the [[winnowedFingerprintsRolling]] split applied to
    * the exact-substring stage (its md5-per-position kernel is the
    * heaviest single stage in the bench). One allocation-free codegen'd
    * pass emits every L-byte window hash; per-position cost drops from
    * "hash L chars + allocate a substring + hex-encode" to a multiply-add,
    * and the whole scan stays inside whole-stage codegen.
    *
    * Contract differences vs the md5 variant, same as the winnowing and
    * CDC splits: positions `s` are 1-based UTF-8 BYTE offsets (RollingHash
    * windows are byte windows) and `gm` is a 64-bit polynomial hash, so
    * downstream [[repeatedSpansFromGrams]] spans are byte spans and L
    * counts bytes. On ASCII the two variants agree position-for-position
    * (byte = char), which is what ExactSubstrRollingSpec pins; on
    * multi-byte text the guarantee is byte-level — exactly what
    * cross-document duplicated-content detection needs. Not DuckDB-
    * replayable (the polynomial is native), which is why the graded q158
    * path keeps md5; this is the path a 100 TB run would configure. */
  def repeatedSpanGramsRolling(df: DataFrame, idCol: String, textCol: String,
      L: Int): DataFrame = {
    require(L >= 2, "L must be >= 2")
    import org.apache.spark.sql.graft.ColumnBridge
    val hs = ColumnBridge.toColumn(graft.expressions.RollingHash(
      ColumnBridge.toExpression(col(textCol)),
      L, graft.expressions.RollingHash.DefaultBase))
    df.select(col(idCol).as("id"), posexplode(hs).as(Seq("p", "gm")))
      .select(col("id"), (col("p") + 1).cast("long").as("s"), col("gm"))
  }

  /** The ONE full-gram aggregate of the exact-substring family: per gram
    * digest, the first (min-id) holder and the distinct-holder count,
    * filtered to cross-doc duplicated digests. Map-side combinable on the
    * digest (hot boilerplate grams reduce within each task — no
    * window-over-hot-key funnel), and after the `n_docs >= 2` filter the
    * result is duplicated-grams-only — small relative to the corpus.
    * Both the plain and the Bloom-pruned span passes derive everything
    * (the Bloom build input AND the cover-join stats side) from this one
    * table, so the O(total chars) digest shuffle is paid exactly once;
    * pipelines that run several consumers should persist it (q158/q163/
    * q169 ride a shared stage). */
  def repeatedGramStats(grams: DataFrame): DataFrame =
    grams.groupBy(col("gm"))
      .agg(min(col("id")).as("first_id"),
        countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= 2)

  /** Island merge of covered positions `(id, s)` into maximal spans: a
    * covered start opens a new span iff it begins past every previous
    * interval's end (adjacent intervals merge too). Per-doc window only —
    * no global sort. */
  private def spansFromCovered(covered: DataFrame, L: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("id")).orderBy(col("s"))
    covered
      .withColumn("pm", max(col("s") + L).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island", sum(
        when(col("pm").isNull || col("s") > col("pm"), 1L).otherwise(0L))
        .over(byDoc))
      .groupBy(col("id"), col("island"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) + L - min(col("s"))).as("span_len"),
        count(lit(1)).as("n_grams"))
      .select(col("id"), col("span_start"), col("span_len"), col("n_grams"))
  }

  /** Stage 2 of [[repeatedSpans]] over a (persisted) [[repeatedSpanGrams]]
    * table: [[repeatedGramStats]] (duplicated-grams-only — small, so AQE
    * turns the cover join into a broadcast against the cached gram table)
    * joined back per occurrence, islands merged per doc. */
  def repeatedSpansFromGrams(grams: DataFrame, L: Int): DataFrame = {
    val stats = repeatedGramStats(grams)
    val covered = grams.join(stats, Seq("gm"))
      .filter(col("id") =!= col("first_id"))
      .select(col("id"), col("s"))
    spansFromCovered(covered, L)
  }

  /** Cross-batch exact-substring dedup — the gram-digest mirror of
    * [[incrementalNearDups]] (and of Dedup.incrementalNew), closing the
    * registry-family triangle: the digest family has q73, the fingerprint
    * family q159, and this gives the gram family its nightly-append
    * story. A new batch's spans are found WITHOUT rescanning historical
    * corpus text: history is summarized as its distinct gram digests (the
    * registry — one row per digest, tiny next to the corpus), and a
    * batch position is covered iff its gram
    *  (a) appears in the registry (historical content: EVERY batch
    *      occurrence is covered, no first-holder exemption — one copy
    *      already survives in history), or
    *  (b) is duplicated across batch docs (the [[repeatedSpans]]
    *      within-batch rule, min-id holder exempt).
    * With an EMPTY registry this degrades exactly to
    * [[repeatedSpansFromGrams]] (XsubRegistrySpec pins it).
    *
    * Scale shape: one semi join of batch grams against the registry
    * digest set (well-distributed key, broadcast when the registry fits)
    * + the usual within-batch stats aggregate over BATCH grams only +
    * the per-doc island window. History text is never read; the
    * registry for the NEXT run is the old registry plus this batch's
    * [[gramRegistry]] rows — the caller appends, exactly like the other
    * two registries, and Dedup.compactRegistry(log, "gm", …) compacts
    * the provenance log (the digest column name is a parameter there —
    * composition needs no new code; XsubRegistrySpec replays it).
    *
    * @param registry any DataFrame whose FIRST column is the historical
    *                 gram digest (extra provenance columns ignored)
    * @param stats    optional precomputed (persisted) [[repeatedGramStats]]
    *                 of the BATCH grams — pipelines running several
    *                 registry decisions over one batch (q172/q175) pay
    *                 the within-batch aggregate once
    * @return (id, span_start, span_len, n_grams) — batch docs only */
  def repeatedSpansVsRegistry(grams: DataFrame, registry: DataFrame,
      L: Int, stats: Option[DataFrame] = None): DataFrame = {
    val reg = registry.select(col(registry.columns.head).as("gm")).distinct()
    val st = stats.getOrElse(repeatedGramStats(grams))
    val histCovered = grams.join(reg, Seq("gm"), "left_semi")
      .select(col("id"), col("s"))
    val batchCovered = grams.join(st, Seq("gm"))
      .filter(col("id") =!= col("first_id"))
      .select(col("id"), col("s"))
    // a position covered both ways must count once in the island pass
    spansFromCovered(histCovered.unionByName(batchCovered).distinct(), L)
  }

  /** The registry-append rows for [[repeatedSpansVsRegistry]]: one row
    * per distinct gram digest of this batch with its first (min-id)
    * holder — the provenance a compaction log wants (map the holder to
    * source/batch columns and Dedup.compactRegistry does the rest).
    * Map-side-combinable aggregate on the digest; no skew. */
  def gramRegistry(grams: DataFrame): DataFrame =
    grams.groupBy(col("gm")).agg(min(col("id")).as("first_holder"))

  /** [[repeatedSpansFromGrams]] with a Bloom-pruned cover join — the q149
    * shuffle cutter applied to the engine's heaviest query. The duplicated
    * gram digests (post `n_docs >= 2` filter) are rare relative to the
    * corpus, yet the cover join streams EVERY gram row through the join
    * operator; when the stats side outgrows the broadcast threshold at
    * corpus scale that join becomes a full shuffle of O(total chars) gram
    * rows. Here the duplicated digests build a Bloom bit array
    * (one broadcast row), and grams are pruned ROW-LOCALLY (native
    * binary-search membership, no exchange) before the join — the join
    * input shrinks to true matches + the false-positive residue.
    *
    * Result EXACTLY equals the unpruned operator: Bloom has no false
    * negatives, so every row of a duplicated gram survives the prune; and
    * the cover join is INNER against the duplicated-digest stats table,
    * so a false-positive digest (which has no stats row) contributes
    * nothing — the residue is self-cleaning (ExactSubstrBloomSpec pins
    * equality and the shrink).
    *
    * Cost: both the Bloom build input and the cover-join stats side
    * derive from the SINGLE [[repeatedGramStats]] aggregate — the
    * O(total chars) digest shuffle runs once, exactly as on the unpruned
    * path; the prune only ever removes work from the join. Callers with
    * several consumers (or whose stats table is read twice because this
    * operator uses it for both the Bloom build and the join) should pass
    * a persisted `stats` so neither consumer re-aggregates the grams —
    * the q158/q163/q169 stage pattern.
    *
    * @param numBits   Bloom geometry — size for the expected count of
    *                  DISTINCT duplicated digests (not total grams); the
    *                  default 2^20 bits / 3 hashes holds ~10^5 digests
    *                  under 2% false positives and broadcasts as ≤ 8 MB
    * @param numHashes hash probes per digest
    * @param stats     optional precomputed (persisted)
    *                  [[repeatedGramStats]] of `grams` */
  def repeatedSpansFromGramsPruned(grams: DataFrame, L: Int,
      numBits: Long = 1L << 20, numHashes: Int = 3,
      stats: Option[DataFrame] = None): DataFrame = {
    val st = stats.getOrElse(repeatedGramStats(grams))
    // the prune is output-transparent, so its bloom rides the fast
    // native hash — an md5 per probe per gram row would cost nearly as
    // much as the gram digests themselves. ONE BloomConfig value carries
    // the hash family to both build and probe, so they cannot diverge.
    val bloom = Sketches.xxBloom(numBits, numHashes)
    val bits = bloom.bitsArray(st.select(col("gm")), col("gm"))
    val pruned = bloom.prune(grams, col("gm"), bits)
    val covered = pruned.join(st, Seq("gm"))
      .filter(col("id") =!= col("first_id"))
      .select(col("id"), col("s"))
    spansFromCovered(covered, L)
  }

  /** Chunk-level dedup accounting over a [[cdcChunks]] table — the
    * "how much would content-addressed chunk dedup save" estimate a
    * storage/ingest layer runs before enabling CAS: per document, the
    * count and character mass of chunks whose content already occurred
    * earlier in the corpus (first occurrence = smallest (id, chunk_idx),
    * the q88 keep-first rule at chunk granularity).
    *
    * Scale shape: the first-occurrence table is a map-side-combinable
    * `min(struct)` per chunk digest (hot boilerplate chunks reduce within
    * each task — no window funnel), and the join back is 1:1 per chunk
    * row on the well-distributed digest key. Output is one row per doc.
    *
    * @return (id, n_chunks, total_chars, dup_chunks, dup_chars, dup_frac)
    */
  def chunkDupStats(chunks: DataFrame): DataFrame = {
    val firsts = chunks.groupBy(col("chunk_md5"))
      .agg(min(struct(col("id"), col("chunk_idx"))).as("f"))
      .select(col("chunk_md5"), col("f.id").as("fid"),
        col("f.chunk_idx").as("fidx"))
    chunks.join(firsts, Seq("chunk_md5"))
      .select(col("id"), col("chunk_len"),
        (col("id") === col("fid") && col("chunk_idx") === col("fidx"))
          .as("is_first"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("total_chars"),
        count(when(!col("is_first"), 1)).as("dup_chunks"),
        coalesce(sum(when(!col("is_first"), col("chunk_len"))), lit(0L))
          .as("dup_chars"))
      .withColumn("dup_frac",
        round(col("dup_chars").cast("double") / col("total_chars"), 6))
  }

  /** The REMOVAL half of exact-substring dedup: splice the
    * [[repeatedSpans]] spans out of each document and reassemble the
    * survivors — q88's line-reassembly, at character-span granularity.
    * Docs with no spans pass through unchanged; a fully-covered doc
    * yields an empty clean text (drop it downstream, like q88's
    * all-boilerplate case).
    *
    * Scale shape: spans are rare relative to the corpus (they only exist
    * where cross-doc duplication was found), so the per-doc span arrays
    * are small and the reassembly is ROW-LOCAL: one groupBy of the span
    * table (bounded by spans-per-doc), one equi-join against the corpus,
    * and a pure expression that walks the sorted span array emitting the
    * complement segments (`transform` over indices + `array_join` — the
    * array_sort(collect_list(struct)) ordering idiom, deterministic at
    * any parallelism). The corpus is never exploded.
    *
    * @param spans (id, span_start, span_len) — 1-based char offsets,
    *              non-overlapping per doc (repeatedSpans' islands)
    * @return (id, text_clean, n_spans, removed_chars)
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("span_start"), col("span_len"))))
        .as("sp"))
    // complement segments: segment i spans [end of span i-1, start of
    // span i), with segment 0 starting at 1 and segment size(sp) ending
    // past the last character
    val segStart = (i: Column) => when(i === 0, lit(1L))
      .otherwise(element_at(col("sp"), i.cast("int"))("span_start") +
        element_at(col("sp"), i.cast("int"))("span_len"))
    val segEnd = (i: Column) => when(i === size(col("sp")),
        length(col("__t")).cast("long") + 1L)
      .otherwise(element_at(col("sp"), (i + 1).cast("int"))("span_start"))
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(sp, Seq("id"), "left")
      .select(col("id"),
        when(col("sp").isNull, col("__t"))
          .otherwise(array_join(
            transform(sequence(lit(0L), size(col("sp")).cast("long")), i =>
              col("__t").substr(segStart(i).cast("int"),
                (segEnd(i) - segStart(i)).cast("int"))),
            "")).as("text_clean"),
        coalesce(size(col("sp")), lit(0)).cast("long").as("n_spans"),
        coalesce(aggregate(col("sp"), lit(0L),
          (acc, s) => acc + s.getField("span_len")), lit(0L))
          .as("removed_chars"))
  }

  /** Which copy to KEEP per near-dup group — the step after
    * [[connectedComponents]] in a real dedup pipeline. The min-id canonical
    * label is an artifact of the clustering; what a corpus wants kept is
    * the BEST member (highest quality score), so this attaches, for every
    * labeled doc, the group representative chosen by (score desc, id asc)
    * and an `is_rep` keep flag.
    *
    * Inputs: `labels` = (doc_id, canonical) from connectedComponents;
    * `scores` = (doc_id, score). One equi-join (labels is only the paired
    * docs — tiny relative to the corpus — so it broadcasts) and one window
    * keyed by the group label; ties broken by doc_id so the choice is
    * total and engine-independent. */
  def groupRepresentatives(labels: DataFrame, scores: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("canonical"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    labels.join(scores, Seq("doc_id"))
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .withColumn("is_rep", col("doc_id") === col("rep_id"))
  }

  /** The LICENSING-AWARE survivor rule — the keep policy the q269
    * cross-source duplication matrix motivates: when the same content
    * sits in several sources, a governed corpus wants the copy from the
    * most PERMISSIVE source kept, not the lowest id or the best quality
    * score. Attaches, per labeled doc, the representative chosen by
    * (source priority asc, doc_id asc) — `priority` is a per-source
    * rank table (smaller = keep-preferred); sources ABSENT from it rank
    * last (Long.MaxValue), so an EMPTY priority table degenerates to
    * the min-id first-holder rule exactly (spec-pinned, as is a hand
    * fixture where priority flips the survivor).
    *
    * Inputs: `labels` = (doc_id, canonical) from
    * [[connectedComponents]]; `docSource` = (doc_id, source);
    * `priority` = (source, prio). The label table is pair-bounded
    * (tiny next to the corpus), the priority table domain-sized
    * (broadcast); one doc-keyed join + one window per group.
    * @return labels + (source, prio, rep_id, rep_source, rep_priority,
    *         is_rep) */
  def priorityRepresentatives(labels: DataFrame, docSource: DataFrame,
      priority: DataFrame): DataFrame = {
    val pr = priority.select(col(priority.columns.head).as("source"),
      col(priority.columns(1)).as("__p"))
    val w = Window.partitionBy(col("canonical"))
      .orderBy(col("prio"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    labels.join(docSource, Seq("doc_id"))
      .join(broadcast(pr), Seq("source"), "left")
      .withColumn("prio", coalesce(col("__p"), lit(Long.MaxValue)))
      .drop("__p")
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .withColumn("rep_source", first(col("source")).over(w))
      .withColumn("rep_priority", first(col("prio")).over(w))
      .withColumn("is_rep", col("doc_id") === col("rep_id"))
  }
}
