package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for the LLM-data-pipeline surface (SURVEY.md
  * §2.14): tokenization, token counting, language ID, quality scoring and
  * document fingerprinting over `documents.text`.
  *
  * Everything here is a pure Catalyst column expression — no UDFs — so the
  * whole family stays inside whole-stage codegen and each primitive has an
  * exact DuckDB equivalent for the oracle (`string_split_regex`,
  * `regexp_extract_all`, `list_filter`, `md5`).
  *
  * Scale: all functions are per-row (embarrassingly parallel, no shuffle);
  * at 100 TB they run at scan speed as part of the projection above the
  * parquet reader.
  */
object TextAnalysis {

  /** Whitespace tokenization (the reference-style baseline tokenizer). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish pre-tokenizer: runs of letters, runs of digits, or single
    * punctuation — the classic GPT-2-style split collapsed to character
    * classes that behave identically in Java regex and RE2 (DuckDB). */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpePattern), lit(0))).cast("long")

  /** Symbol characters (not alphanumeric, not whitespace) — the numerator
    * of Gopher-style symbol-to-word ratio rules. Counted on the lowercased
    * text so the class list matches the tokenizer's. */
  def symbolCount(text: Column): Column =
    length(regexp_replace(lower(text), "[a-z0-9\\s]", "")).cast("long")

  /** Trimmed non-empty sentence segments: split on runs of terminal
    * punctuation (`[.!?]+`). Deliberately the RE2-safe spelling — the
    * lookbehind form `(?<=[.!?])\s+` keeps the terminator but RE2 (DuckDB)
    * has no lookbehind, so both engines split on the terminator run and
    * trim. A document with no terminators is one sentence (its whole
    * trimmed text). Row-local, codegen'd, no shuffle. */
  def sentences(text: Column): Column =
    filter(transform(split(text, "[.!?]+"), s => trim(s)),
      s => length(s) > 0)

  // --- language ID (n-gram/stopword heuristic) ------------------------------

  /** Tiny per-language stopword inventories. A real pipeline would use
    * character-trigram profiles; stopword hits are the deterministic,
    * SQL-expressible version of the same idea and behave identically at any
    * scale (per-row work only). */
  val StopEn = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  val StopEs = Seq("el", "la", "de", "los", "las", "en", "y", "que", "por", "un")
  val StopFr = Seq("le", "les", "des", "et", "une", "dans", "pour", "est", "du", "au")
  val StopDe = Seq("der", "die", "das", "und", "ist", "mit", "von", "ein", "zu", "auf")

  /** Count of tokens that hit a stopword list — with multiplicity (NOT
    * `array_intersect`, which would dedup and undercount). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast("long")

  def stopwordRatio(text: Column, words: Seq[String]): Column = {
    val toks = tokens(lower(text))
    stopwordHits(toks, words) / size(toks)
  }

  /** Language ID: CJK codepoints dominate everything (script is stronger
    * evidence than stopwords); otherwise argmax of stopword hits with a
    * fixed precedence (en > es > fr > de) as the deterministic tiebreak;
    * zero evidence → 'und' (BCP-47 undetermined). */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val en = stopwordHits(toks, StopEn)
    val es = stopwordHits(toks, StopEs)
    val fr = stopwordHits(toks, StopFr)
    val de = stopwordHits(toks, StopDe)
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(en === 0 && es === 0 && fr === 0 && de === 0, lit("und"))
      .when(en >= es && en >= fr && en >= de, lit("en"))
      .when(es >= fr && es >= de, lit("es"))
      .when(fr >= de, lit("fr"))
      .otherwise(lit("de"))
  }

  /** [[langId]] over a pre-tokenized SLICE of a document — the half-doc
    * building block for code-switching detection (q187): identical
    * stopword-argmax and precedence rules, with the CJK script test on
    * the space-rejoined slice (script detection is unaffected by the
    * rejoin). Row-local, no shuffle. */
  def langIdOfTokens(toks: Column): Column = {
    val en = stopwordHits(toks, StopEn)
    val es = stopwordHits(toks, StopEs)
    val fr = stopwordHits(toks, StopFr)
    val de = stopwordHits(toks, StopDe)
    when(array_join(toks, " ").rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(en === 0 && es === 0 && fr === 0 && de === 0, lit("und"))
      .when(en >= es && en >= fr && en >= de, lit("en"))
      .when(es >= fr && es >= de, lit("es"))
      .when(fr >= de, lit("fr"))
      .otherwise(lit("de"))
  }

  // --- quality scoring ------------------------------------------------------

  /** Type-token ratio: distinct tokens / total tokens (repetition signal). */
  def typeTokenRatio(toks: Column): Column =
    size(array_distinct(toks)) / size(toks)

  def meanWordLength(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (acc, v) => acc + v) /
      size(toks)

  /** Composite quality score in [0,1]: half length-saturation (saturates at
    * 50 tokens), half lexical diversity. Deterministic per row — the only
    * floats are single divisions, no reduction-order sensitivity. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(lower(text))
    round(least(size(toks) / 50.0, lit(1.0)) * 0.5 +
      typeTokenRatio(toks) * 0.5, 4)
  }

  /** Word n-grams of a token array as a per-row array (space-joined), empty
    * when the doc has fewer than `n` tokens. Row-local (array HOF, no
    * explode/shuffle) — the building block for repetition signals where the
    * corpus-wide shingle-postings shape of NearDup would be overkill. */
  def wordGrams(toks: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => get(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher-style repetition signal: the fraction of word `n`-grams that
    * are duplicates of an earlier one in the same document —
    * (total − distinct) / total, 0 for docs too short to have any.
    * Boilerplate, keyword stuffing and looping generations all push this
    * up while length/TTR can stay plausible. Per-row only (no shuffle);
    * the raw (unrounded) fraction is returned so thresholds compare
    * exactly — round for display.
    *
    * PERF: this convenience form inlines the split+gram pipeline into
    * every reference — fine when the result is consumed ONCE. Queries
    * that combine it with other token-derived flags must use
    * [[dupGramFractionFrom]] over a MATERIALIZED grams column instead
    * (see [[withTokens]] for why). */
  def dupGramFraction(text: Column, n: Int = 3): Column =
    dupGramFractionFrom(wordGrams(tokens(lower(text)), n))

  /** [[dupGramFraction]] over an already-computed grams column. */
  def dupGramFractionFrom(grams: Column): Column =
    when(size(grams) <= 0, lit(0.0))
      .otherwise((size(grams) - size(array_distinct(grams))).cast("double") /
        size(grams))

  /** Append materialized token (and optionally word-`n`-gram) columns to
    * `docs` as STAGED projections — the load-bearing perf shape for every
    * multi-flag per-doc text battery, discovered the hard way in round 12:
    *
    * Spark's subexpression elimination SKIPS any expression containing a
    * lambda, so composing flags from `tokens(text)`-rooted Column
    * expressions re-evaluates the regex split once per reference — and
    * WORSE, [[wordGrams]]'s element lambda indexes the token array three
    * times per gram, so an inlined toks expression makes ONE grams
    * evaluation O(|text|·|grams|): quadratic per doc. (Measured on the
    * q97 battery at sf0.1: 36 s single-task inlined → ~1 s staged.)
    *
    * Materializing toks/grams as their own projections fixes both: the
    * flags reference cheap ATTRIBUTES, and CollapseProject deliberately
    * keeps a non-cheap projection that is referenced more than once, so
    * the optimizer cannot undo the staging. Row-local, zero shuffle,
    * column-pruned like any projection. */
  def withTokens(docs: org.apache.spark.sql.DataFrame, textCol: String,
      toksCol: String, gramsCol: Option[(String, Int)] = None)
      : org.apache.spark.sql.DataFrame = {
    val withT = docs.withColumn(toksCol, tokens(lower(col(textCol))))
    gramsCol.fold(withT) { case (gc, n) =>
      withT.withColumn(gc, wordGrams(col(toksCol), n))
    }
  }

  /** The five Gopher acceptance rules (Rae et al. 2021, table A1
    * condensed — word-count bounds, mean-word-length bounds, stopword
    * evidence, symbol-to-word ratio, duplicate-3-gram share) as integer-
    * exact flag columns over MATERIALIZED toks/grams attributes (see
    * [[withTokens]]). Every rule is an integer comparison (10·sym ≤ n,
    * 3n ≤ Σlen ≤ 10n, 8·(g−d) ≤ g) so verdicts are bit-exact across
    * engines with no float thresholds.
    *
    * @return (f_nwords, f_wlen, f_stop, f_sym, f_rep)
    */
  def gopherRuleCols(text: Column, toks: Column, grams: Column)
      : (Column, Column, Column, Column, Column) = {
    val n = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, w => length(w)),
      lit(0), (acc, v) => acc + v).cast("long")
    val sym = symbolCount(text)
    val g = size(grams).cast("long")
    val d = size(array_distinct(grams)).cast("long")
    (n.between(3L, 10000L),
      sumLen >= n * 3L && sumLen <= n * 10L,
      stopwordHits(toks, StopEn) >= 2L,
      sym * 10L <= n,
      (g - d) * 8L <= g)
  }

  /** Conjunction of the five [[gopherRuleCols]] flags. */
  def gopherAccept(text: Column, toks: Column, grams: Column): Column = {
    val (a, b, c, d, e) = gopherRuleCols(text, toks, grams)
    a && b && c && d && e
  }

  /** Character-diversity (Gini–Simpson) signal per document:
    * 1 − Σ (n_c / N)² over character counts — low values mean a few
    * characters dominate (padding runs, ASCII-art, degenerate
    * generations), complementary to the token-level [[dupGramFraction]].
    *
    * Numerically it is computed as (N² − Σ n_c²) / N²: the numerator is
    * EXACT integer arithmetic (order-free, shuffle-safe), so the single
    * final division is the only float op and both engines produce the
    * identical double. Explode → two doc-keyed aggregations with map-side
    * partials — codegen all the way, no HOF fallback in the hot path.
    * Empty texts produce no row (no characters to measure). */
  /** [[charDiversity]]'s statistic as a single row-local Column over a
    * NON-EMPTY text (an empty text divides 0/0 → null; the DataFrame
    * form drops such rows instead). Identical integer-exact arithmetic
    * and 4-dp rounding — `TextAnalysisSpec` pins the two forms equal —
    * so a projection can carry the diversity signal alongside other
    * per-doc flags in ONE pass (the q217 fixture stage). */
  def charDiversityCol(text: Column): Column = {
    val n2 = length(text).cast("long") * length(text).cast("long")
    // explicit empty guard: ANSI mode makes 0/0 an error, not a null
    when(length(text) > 0, round((n2 - charSumSq(text)).cast("double") / n2, 4))
  }

  /** Σ n_c² over per-character counts of `text` — the shared integer
    * numerator of both [[charDiversityCol]] and [[charDiversity]].
    *
    * Computed as ONE run-length pass over the SORTED character array
    * (equal chars are adjacent after array_sort, so a (prev, run, acc)
    * struct accumulator closes each run with run² in O(len) element
    * steps). The first shared form evaluated `filter(cs, _ === d)` per
    * DISTINCT character — O(distinct·len) per row, measured at 4.3s of
    * the 4.6s fixture_features build at sf0.1 (~93%); this form
    * re-measured at ~0.35s with bit-identical integer output (exact
    * long arithmetic either way, order-free). */
  private def charSumSq(text: Column): Column = {
    val sorted = array_sort(split(text, ""))
    aggregate(sorted,
      struct(lit(null).cast("string").as("p"),
        lit(0L).as("r"), lit(0L).as("a")),
      (st, c) => {
        val same = c <=> st.getField("p")
        struct(c.as("p"),
          when(same, st.getField("r") + 1L).otherwise(lit(1L)).as("r"),
          when(same, st.getField("a"))
            .otherwise(st.getField("a") +
              st.getField("r") * st.getField("r")).as("a"))
      },
      st => st.getField("a") + st.getField("r") * st.getField("r"))
  }

  def charDiversity(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // Row-local: one sorted run-length pass per row (see [[charSumSq]])
    // and ZERO shuffle. The first version exploded one row per character
    // and aggregated twice; at corpus scale that shuffles |corpus|·|doc|
    // rows to compute a per-row statistic. Integer arithmetic identical
    // to the exploded form, so the oracle is unchanged.
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars_counted"),
        charSumSq(col(textCol)).as("sumsq"))
      .select(col(idCol), col("n_chars_counted"), col("sumsq"),
        round((col("n_chars_counted") * col("n_chars_counted") -
          col("sumsq")).cast("double") /
          (col("n_chars_counted") * col("n_chars_counted")), 4)
          .as("char_diversity"))
  }

  // --- fingerprinting -------------------------------------------------------

  /** Rolling-hash document fingerprint: the minimum md5 over all character
    * n-grams (a 1-hash MinHash over the char-shingle set — two documents
    * sharing their lowest-hashing shingle collide, the winnowing building
    * block). md5-hex is used instead of xxhash64 so the DuckDB oracle
    * reproduces it bit-for-bit; the hex strings compare lexicographically
    * identically in both engines. Texts shorter than `n` fall back to the
    * whole-text digest. */
  def fingerprint(text: Column, n: Int = 16): Column =
    when(length(text) >= n,
      array_min(transform(sequence(lit(1), length(text) - (n - 1)),
        i => md5(text.substr(i, lit(n)).cast("binary")))))
      .otherwise(md5(text.cast("binary")))

  // --- PII redaction --------------------------------------------------------

  /** Email shape (same class structure as Validation's validity regex) and
    * long digit runs — both RE2-compatible so the DuckDB oracle replays
    * them byte-for-byte. */
  val EmailPiiPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern = "[0-9]{7,}"

  /** Redact PII before a corpus ships to training: emails first (their
    * local parts may contain digit runs — redacting numbers first would
    * shred the email match), then any remaining run of ≥7 digits (phones,
    * account numbers). Pure per-row regexp_replace chain — scan-speed, no
    * shuffle; Spark's regexp_replace is replace-ALL by default (the DuckDB
    * mirror needs the 'g' flag). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPiiPattern, "<EMAIL>"),
      LongNumberPattern, "<NUM>")

  /** How many emails were redacted (counted on the original text). */
  def piiEmailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPiiPattern), lit(0))).cast("long")

  /** How many digit runs were redacted — counted AFTER email redaction so
    * digits inside an email aren't double-counted. */
  def piiNumberCount(text: Column): Column =
    size(regexp_extract_all(
      regexp_replace(text, EmailPiiPattern, "<EMAIL>"),
      lit(LongNumberPattern), lit(0))).cast("long")

  /** Overlapping character chunks for context-window preparation: one row
    * per (doc, chunk) at offsets 0, size-overlap, 2(size-overlap), … while
    * the offset is inside the text (empty/short texts yield one chunk).
    * Explode-shaped (sequence → posexplode → substring), so it runs inside
    * whole-stage codegen at scan speed — per-row work only, no shuffle.
    * The trailing chunk is whatever remains (may be shorter than `size`).
    */
  def chunks(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, size: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val step = size - overlap
    df.select(col(idCol), col(textCol).as("_t"))
      .select(col(idCol), col("_t"),
        posexplode(sequence(lit(0L),
          greatest(length(col("_t")).cast("long") - 1, lit(0L)),
          lit(step.toLong))).as(Seq("chunk_idx", "off")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("off"),
        col("_t").substr((col("off") + 1).cast("int"), lit(size)).as("chunk"))
  }

  /** Exact phrase search over the corpus via a POSITIONAL inverted index —
    * the primitive behind "find every document containing this sentence"
    * (contamination spot-checks, quote tracing, boilerplate hunting).
    *
    * ONE corpus scan, no self-join: the positional postings are filtered
    * to the phrase terms, and each surviving posting emits (start = pos −
    * offset) for EVERY phrase offset its term occupies. A true occurrence
    * at `start` is then a (doc, start) group covering ALL offsets 0..n−1
    * — count(distinct offset) = n — so alignment is a single aggregation
    * keyed by the candidate start instead of n−1 joins over n references
    * to the same unpersisted index (which would re-scan the corpus per
    * phrase term). Fan-out per posting is bounded by the phrase length.
    *
    * @param phrase whitespace tokens of the phrase, in order (≥ 1)
    * @return (<idCol>, n_hits, first_pos) — docs with ≥1 occurrence;
    *         positions 0-based token offsets
    */
  def phraseHits(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    // offsets this term occupies in the phrase, as an array expression
    val offsetsOf: Column = {
      val js = phrase.zipWithIndex.map { case (w, j) =>
        when(col("term") === w, lit(j)).otherwise(lit(-1))
      }
      array_remove(array(js: _*), -1)
    }
    df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
      .select(col(idCol), col("pos"), explode(offsetsOf).as("j"))
      .select(col(idCol), (col("pos") - col("j")).as("start"), col("j"))
      .filter(col("start") >= 0)
      .groupBy(col(idCol), col("start"))
      .agg(count_distinct(col("j")).as("n_off"))
      .filter(col("n_off") === phrase.length)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        min(col("start")).cast("long").as("first_pos"))
  }

  /** Vocabulary coverage curve — for each requested vocab size k, the
    * fraction of ALL token occurrences covered by the k most frequent
    * words. The "how big must the vocab be" sizing statistic of
    * tokenizer design (coverage grows fast then flattens; the knee is
    * the budget answer).
    *
    * Scale shape: one corpus explode + word-count aggregation (map-side
    * partials); the global total is a broadcast 1-row sum of the COUNTS
    * table; the top-max(k) slice arrives via TakeOrdered (never a global
    * sort of the vocabulary), and the running sum is a single-partition
    * window over ≤ max(k) rows — the sequential dependency reduced to
    * the answer's own size, same discipline as Ranking's offsets pass.
    * Counts and cumulative sums are integers; the share is one division.
    *
    * @return (k, covered, total, share) — one row per requested k
    *         (ks larger than the vocabulary are absent)
    */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame, textCol: String,
      ks: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be positive")
    import org.apache.spark.sql.expressions.Window
    // Materialized once: `total` and `top` both read this aggregate, and
    // without the checkpoint each would re-run the full corpus explode +
    // word count (the materialize-once discipline used by
    // Affinity.pairSupport and the pipeline stage cache).
    val words = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val total = words.agg(sum(col("cnt")).as("total"))
    val top = words.orderBy(desc("cnt"), col("w")).limit(ks.max)
    val ord = Window.orderBy(desc("cnt"), col("w"))
    top
      .withColumn("rnk", row_number().over(ord))
      .withColumn("covered", sum(col("cnt")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rnk").isin(ks.map(Integer.valueOf): _*))
      .crossJoin(broadcast(total))
      .select(col("rnk").cast("long").as("k"), col("covered"),
        col("total"),
        (col("covered").cast("double") / col("total")).as("share"))
  }

  // --- TF-IDF keyword extraction -------------------------------------------

  /** Top-`k` characteristic terms per document by TF-IDF, with a RATIONAL
    * idf surrogate: score = tf × (N − df + 0.5) / (df + 0.5) — the BM25 idf
    * argument without the log. The log is monotone, so per-document term
    * RANKING is identical to BM25-idf's; dropping it keeps every score a
    * single IEEE multiply-of-a-divide over exactly-representable integers
    * (+0.5), which both Spark and DuckDB reproduce bit-for-bit — a `ln`
    * differing in its last ulp between libm implementations could flip a
    * rank at scoring boundaries and break cross-engine verification.
    *
    * Plan shape: the corpus is exploded and aggregated ONCE — tf via
    * groupBy(doc, term), then df as `tf.groupBy(term).count()` joined back
    * on term (one tf row per distinct (doc, term), so the per-term count
    * IS the document frequency) — no second tokenization pass and no
    * self-join of an unpersisted subplan. df is deliberately NOT a window
    * count over term: `count(*) over (partition by term)` puts every
    * (doc, term) row for a stopword into ONE WindowExec partition, and a
    * window partition can never be split — at corpus scale that is a
    * straggler task of billions of rows on "the". The partial aggregate +
    * equi-join shape is map-side combinable AND inherits AQE skew-join
    * splitting, so a hot term costs a split join, not a stuck task. Then a
    * per-doc window top-k (WindowGroupLimit prunes before the sort at
    * scale). `n_docs` — the corpus cardinality for the idf — comes from a
    * broadcast 1-row columnless count of `docs` (parquet answers it from
    * footer metadata; at 100 TB it is a metadata pass, not a data pass).
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf as sum(1), not count(*): identical value (every group has ≥1 row),
    // but sum's NULLABLE output means the df branch's count(tf) below can't
    // be constant-rewritten to count(1) — which keeps the tf subtree
    // canonically identical on both sides of the join, so ReuseExchange
    // shares ONE tokenize+shuffle pass between them instead of scanning
    // the corpus twice.
    val tf = docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("id"), col("term")).agg(sum(lit(1L)).as("tf"))
    val n = broadcast(docs.groupBy().agg(count(lit(1)).as("n_docs")))
    val df = tf.groupBy(col("term")).agg(count(col("tf")).as("df"))
    val scored = tf
      .join(df, "term")
      .crossJoin(n)
      .withColumn("score",
        col("tf") * ((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("id"), col("rnk").cast("long").as("rnk"), col("term"),
        col("tf"), col("df"), round(col("score"), 4).as("score"))
  }

  /** BM25 top-k retrieval — Robertson's public k1/b formula (Robertson &
    * Zaragoza 2009, "The Probabilistic Relevance Framework"), the
    * standard retrieval scorer behind dedup-by-retrieval and eval-set
    * mining:
    *
    *   score(q,d) = Σ_{t∈q} ln((N − df + 0.5)/(df + 0.5)) ·
    *                tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * — [[tfidfTopTerms]]'s idf argument with the log restored, plus the
    * two things raw TF-IDF lacks: term-frequency SATURATION (k1 bounds
    * how much a repeated term can earn) and document-LENGTH
    * normalization (b discounts long documents toward the corpus
    * average length).
    *
    * Cross-engine exactness: each per-term contribution is 6-rounded
    * then ×10⁶ integer-scaled BEFORE the per-(query, doc) sum (the q183
    * DCG discipline) — long sums are order-exact in any engine and any
    * partitioning, so the rank comparison is integer and the ln's
    * last-ulp hazard is confined to a contribution's 7th decimal.
    * Ties break by doc_id.
    *
    * Scale shapes: ONE corpus tokenize pass — tf per (doc, term), dl
    * derived from tf by a per-doc sum, never a second scan; postings
    * are pruned to the QUERY VOCABULARY by a broadcast join BEFORE df
    * counting and scoring, so the scoring join is |query-vocab
    * postings|, not the corpus; (N, total_tokens) is one broadcast row;
    * per-query top-k is a WindowGroupLimit row_number (partial top-k
    * before the shuffle), never a global sort. */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queries: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, text) =>
      text.toLowerCase.trim.split("\\s+").toSeq.distinct.map(t => (qid, t))
    }.toDF("qid", "term")
    bm25TopKTerms(docs, idCol, textCol, qterms, k, k1, b)
  }

  /** [[bm25TopK]] over a DataFrame query-term table — the form
    * DATA-DERIVED query sets use (eval documents as queries, the
    * dedup-by-retrieval probe set). `qterms` must be (qid, term),
    * DISTINCT per pair, and small relative to the corpus: it is
    * broadcast twice (once term-only to prune the postings, once with
    * qids to attach them), which is exactly the eval-set-sized shape
    * the lexical side of a hybrid retriever needs. */
  def bm25TopKTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, qterms: org.apache.spark.sql.DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame =
    bm25TopKFromTf(termFrequencies(docs, idCol, textCol), qterms, k, k1, b)

  /** The (id, term, tf) postings table BM25 scores over — exposed so a
    * session can build it ONCE as a persisted stage and feed every
    * retrieval query a row-restriction of it (the inverted-index-build
    * pass of a real deployment: at 100 TB this table is the thing you
    * materialize bucketed by term, not something each query re-derives
    * from text). */
  def termFrequencies(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("id"), col("term")).agg(sum(lit(1L)).as("tf"))

  /** The (id, dl) document-length table BM25's length normalization
    * reads — the natural SIBLING of the [[termFrequencies]] stage: dl
    * is a per-doc sum of tf, so a session that persists the postings
    * should persist this one-column derivative next to it and hand it
    * to [[bm25TopKFromTf]], making warm retrieval truly postings-only
    * (without it every BM25 call re-pays one postings-sized shuffle to
    * rebuild dl). */
  def docLengths(tf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tf.groupBy(col("id")).agg(sum(col("tf")).as("dl"))

  /** [[bm25TopKTerms]] over a PRECOMPUTED (id, term, tf) table — all
    * corpus statistics (dl, N, avgdl, df) derive from `tf` alone, so a
    * persisted postings stage fully replaces the text scan. Pass
    * `dlOpt` (a persisted [[docLengths]] table, or any per-doc
    * row-restriction of one — dl is per-doc, so corpus restrictions
    * are exact) to skip the per-call dl rebuild; when absent it is
    * derived from `tf` in-plan. */
  def bm25TopKFromTf(tf: org.apache.spark.sql.DataFrame,
      qterms: org.apache.spark.sql.DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      dlOpt: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val dl = dlOpt.getOrElse(docLengths(tf))
    val stats = broadcast(dl.groupBy().agg(
      sum(col("dl")).as("tot"), count(lit(1)).as("nd")))
    // postings restricted to the query vocabulary FIRST — df and the
    // scoring join never touch a non-query term
    val post = tf.join(broadcast(qterms.select(col("term")).distinct()),
      Seq("term"))
    val dfreq = broadcast(post.groupBy(col("term"))
      .agg(count(lit(1L)).as("df")))
    val avgdl = col("tot").cast("double") / col("nd").cast("double")
    val idf = log(((col("nd") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)))
    val sat = (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
      (col("tf").cast("double") +
        lit(k1) * ((lit(1.0) - lit(b)) +
          (lit(b) * col("dl").cast("double")) / avgdl))
    val contrib = post.join(broadcast(qterms), Seq("term"))
      .join(dfreq, Seq("term"))
      .join(dl, Seq("id"))
      .crossJoin(stats)
      .select(col("qid"), col("id"),
        round(round(idf * sat, 6) * lit(1e6)).cast("long").as("sc"))
    val scored = contrib.groupBy(col("qid"), col("id"))
      .agg(sum(col("sc")).as("ssc"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("ssc").desc, col("id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"),
        col("id"), round(col("ssc").cast("double") / lit(1e6), 6)
          .as("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fuse per-query rankings from heterogeneous retrievers —
    *
    *   score(q, d) = Σ_sides 1 / (K + rank_side(q, d))
    *
    * — the standard hybrid (lexical BM25 + dense cosine) combiner,
    * robust precisely because it reads only RANKS and never the
    * mutually-incomparable raw scores.
    *
    * Cross-engine exactness: each contribution is round(10⁶/(K+rank))
    * taken as a LONG before summing (HALF_UP rounding of a positive
    * double agrees between Spark's BigDecimal rounding and DuckDB's
    * away-from-zero), so the fused comparison is an integer with the
    * doc id as total tiebreak — order-exact in any engine and any
    * partitioning.
    *
    * Scale shapes: the inputs are per-query TOP-K LISTS, so every row
    * here is list-sized (≤ |queries|·k·|sides|): each side collapses to
    * one rank per (qid, id), and the sides meet in one full outer join
    * on (qid, id) — a doc absent from a side carries a null rank there
    * and contributes nothing to the sum. Every shuffle is at list
    * scale, never corpus scale. This is the one-constant case of
    * [[rrfFuseBy]].
    *
    * PRECONDITION: each side must carry at most ONE row per (qid, id) —
    * the natural shape of a top-k ranking. Duplicate rank rows within a
    * side are collapsed DEFENSIVELY to their best (minimum) rank before
    * fusing; without that guard a duplicated row would double-count its
    * contribution in the sum while the reported per-side rank took the
    * max — an inconsistent fused score with no error raised.
    *
    * @param sides (name, ranking) pairs; each ranking has columns
    *              (qid, id, rnk) with rnk 1-based
    * @return (qid, rnk, id, rrf, <name>_rnk per side; 0 = absent),
    *         top `k` fused rows per query
    */
  def rrfFuse(sides: Seq[(String, org.apache.spark.sql.DataFrame)],
      k: Int, kconst: Int = 60): org.apache.spark.sql.DataFrame =
    rrfFuseBy(sides, k, Seq(kconst)).drop("kconst")

  /** [[rrfFuse]] at every constant of `kconsts` in one plan: the sides
    * are joined once, each fused (qid, id) row is scored once per
    * distinct K with `kconst` a column, and the ranking window
    * partitions by (kconst, qid). The rows of one K equal
    * `rrfFuse(sides, k, K)`.
    *
    * @return (kconst, qid, rnk, id, rrf, <name>_rnk per side) */
  private[graft] def rrfFuseBy(
      sides: Seq[(String, org.apache.spark.sql.DataFrame)], k: Int,
      kconsts: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(sides.nonEmpty && k > 0 && kconsts.nonEmpty &&
      kconsts.forall(_ > 0), "need sides, k > 0 and kconst > 0")
    import org.apache.spark.sql.expressions.Window
    val rnks = sides.map { case (name, _) => s"${name}_rnk" }
    // best-rank collapse of any duplicate (qid, id) within a side (a
    // no-op shuffle at list size on well-formed top-k inputs)
    val ranked = sides.map { case (name, df) =>
        df.groupBy(col("qid"), col("id"))
          .agg(min(col("rnk").cast("long")).as(s"${name}_rnk"))
      }
      .reduce(_.join(_, Seq("qid", "id"), "full_outer"))
      .withColumn("kconst", explode(array(kconsts.distinct.map(lit): _*)))
    // each contribution is round(10⁶/(K+rank)) as a long; absent adds 0
    val rrf = rnks.map { r =>
      coalesce(round(lit(1e6) / (col("kconst").cast("double") +
        col(r).cast("double")), 0).cast("long"), lit(0L))
    }.reduce(_ + _)
    val w = Window.partitionBy(col("kconst"), col("qid"))
      .orderBy(col("rrf").desc, col("id").asc)
    ranked.select(Seq(col("kconst"), col("qid"), col("id"), rrf.as("rrf")) ++
        rnks.map(r => coalesce(col(r), lit(0L)).as(r)): _*)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(Seq(col("kconst"), col("qid"), col("rnk"), col("id"),
        col("rrf")) ++ rnks.map(col): _*)
  }

  /** Collocation mining: document-level term co-occurrence with
    * lift = (n_ab · N) / (n_a · n_b) — PMI's argument without the log (ln
    * differs in last-ulp across libms; the rational product-of-counts
    * doesn't). Emits every pair above the integral support floor
    * `n_ab · supportDen ≥ N` (SF-relative, no float threshold).
    *
    * Scale design: the pair join is keyed by DOC ID, so fan-out is bounded
    * by document length, never by term frequency — a hot term costs
    * nothing extra. The remaining hazard is the long document (L distinct
    * terms → L² pairs from one row): docs with more than `maxTermsPerDoc`
    * distinct terms are dropped from pair mining BEFORE the self-join —
    * fail-bounded like NearDup's `maxDocsPerFp`, and log what you drop
    * when tuning. Term frequencies and N still count every doc, so kept
    * pairs score identically whether or not outliers exist.
    */
  def collocations(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, supportDen: Long = 20L,
      maxTermsPerDoc: Int = 1000): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col(idCol).as("id"),
      explode(array_distinct(tokens(lower(col(textCol))))).as("term"))
    val nDocs = broadcast(docs.groupBy().agg(
      count(lit(1)).as("n_docs")))
    val tf = terms.groupBy(col("term")).agg(count(lit(1)).as("n_t"))
    val bounded = terms.withColumn("_l",
        count(lit(1)).over(Window.partitionBy(col("id"))))
      .filter(col("_l") <= maxTermsPerDoc).drop("_l")
    val pairs = bounded.as("a")
      .join(bounded.as("b"),
        col("a.id") === col("b.id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("t1"), col("b.term").as("t2"))
      .agg(count(lit(1)).as("n_ab"))
    pairs.crossJoin(nDocs)
      .filter(col("n_ab") * supportDen >= col("n_docs"))
      .join(broadcast(tf.withColumnRenamed("term", "t1")
        .withColumnRenamed("n_t", "n_t1")), Seq("t1"))
      .join(broadcast(tf.withColumnRenamed("term", "t2")
        .withColumnRenamed("n_t", "n_t2")), Seq("t2"))
      .select(col("t1"), col("t2"), col("n_ab"),
        round((col("n_ab") * col("n_docs")).cast("double") /
          (col("n_t1") * col("n_t2")).cast("double"), 6).as("lift"))
  }

  /** Vocabulary coverage: build the min-count vocabulary over the corpus
    * (terms with total occurrences ≥ `minCount`), then report each
    * document's out-of-vocabulary token count and fraction — the tokenizer
    * -fit metric run before committing to a vocab size. One explode pass
    * feeds both the vocabulary aggregate and the per-doc miss count (the
    * token table joins the tiny vocab with a LEFT join keyed by term;
    * per-term skew is irrelevant because the join output is immediately
    * re-aggregated by doc with map-side partials). The fraction is one
    * integer-over-integer double divide, rounded to 6 — cross-engine
    * exact.
    */
  def oovRate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minCount: Long): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val vocab = broadcast(toks.groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("term"), lit(true).as("_inv")))
    toks.join(vocab, Seq("term"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("id"), col("n_tok"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tok").cast("double"), 6)
          .as("oov_frac"))
  }

  /** Per-document unigram cross-entropy under the corpus's OWN unigram
    * language model — the CCNet-style (Wenzek et al., LREC 2020)
    * perplexity quality signal collapsed to its order-0 form: documents
    * whose tokens are systematically rare under the corpus distribution
    * (boilerplate lists, ID dumps, lorem-noise) score HIGH and are the
    * filter's first candidates; fluent prose built from head tokens
    * scores LOW. Order-0 because an n-gram LM's backoff chain is a
    * per-token sequential dependency, while the unigram form is two
    * aggregations and one join — the shape that scales:
    *
    *   - the model is `(term, ln p)` with p = count/total — ONE grouped
    *     count over the exploded corpus plus a one-row broadcast total
    *     (map-side partials make the count linear; no collect);
    *   - scoring re-joins tokens to the model BY TERM — a standard
    *     shuffle hash join (the model is |vocab|-sized, NOT broadcast:
    *     at 100 TB a web-corpus vocabulary is itself huge), immediately
    *     re-aggregated per doc, so term-frequency skew ("the") collapses
    *     into map-side partial sums;
    *   - every token is in-vocabulary by construction (the model is
    *     built on the same corpus), so the inner join drops nothing and
    *     smoothing is a non-issue — the incremental-scoring variant
    *     (new batch vs a FROZEN model) is where OOV handling would
    *     enter, via [[oovRate]]'s left-join shape.
    *
    * Cross-engine: counts are exact integers; ln(c) − ln(total) and the
    * per-doc mean are short double chains rounded once at the end.
    *
    * @return (id, n_tok, xent) — xent = −mean ln p(token), nats, 4 dp
    */
  def unigramXent(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = broadcast(counts.groupBy().agg(sum(col("cnt")).as("tot")))
    val model = counts.crossJoin(total).select(col("term"),
      (log(col("cnt").cast("double")) - log(col("tot").cast("double")))
        .as("logp"))
    toks.join(model, Seq("term"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"),
        round(-avg(col("logp")), 4).as("xent"))
  }

  /** Unigram term counts — the order-0 LM in table form `(term, cnt)`.
    * One grouped count over the exploded corpus (map-side partials);
    * the additive building block of the LM family's lifecycle: built
    * per era, merged by [[mergeUnigramCounts]] on append nights, scored
    * against by [[unigramXentFrozen]]. */
  def unigramCounts(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

  /** Merge two unigram count tables — counts are ADDITIVE, so the
    * append night is one union + grouped sum (never a rescan of the
    * history corpus: the registry IS the sufficient statistic of every
    * document ever counted — the property that makes an order-0 LM
    * maintainable incrementally where a neural scorer needs retraining). */
  def mergeUnigramCounts(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    a.unionByName(b).groupBy(col("term")).agg(sum(col("cnt")).as("cnt"))

  /** Score a NEW batch against a FROZEN unigram model `(term, cnt)` —
    * the deployment form of [[unigramXent]]: the model is an artifact
    * of a previous era, so the batch can (and does) contain
    * out-of-vocabulary tokens, handled by add-one smoothing over the
    * frozen vocabulary plus a single unseen type:
    *
    *   p(w) = (cnt(w) + 1) / (total + |V| + 1),   cnt(w) = 0 if unseen
    *
    * — every probability is positive, the distribution stays proper,
    * and the unseen-token penalty is the model's own tail mass, not an
    * arbitrary floor. Shapes: the (total, |V|) pair is ONE broadcast
    * one-row aggregate of the model; scoring joins batch tokens to the
    * model BY TERM with a LEFT join (OOV keeps the row, null cnt) and
    * re-aggregates per doc immediately — the [[unigramXent]] scale
    * argument unchanged.
    *
    * @return (id, n_tok, n_oov, xent) — xent in nats, 4 dp
    */
  def unigramXentFrozen(model: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = batch.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val stats = broadcast(model.groupBy().agg(
      coalesce(sum(col("cnt")), lit(0L)).as("tot"),
      count(lit(1)).as("v")))
    toks.join(model.select(col("term"), col("cnt")), Seq("term"), "left")
      .crossJoin(stats)
      .select(col("id"), col("cnt"),
        (log(coalesce(col("cnt"), lit(0L)).cast("double") + lit(1.0)) -
          log(col("tot").cast("double") + col("v").cast("double") + lit(1.0)))
          .as("logp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(-avg(col("logp")), 4).as("xent"))
  }

  /** DSIR-style importance log-ratio per document (Xie et al., NeurIPS
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): how much more likely a doc's tokens are under the
    * TARGET distribution (rows where `isTarget`) than under the RAW
    * corpus distribution, using HASHED unigram features — each token is
    * bucketed by the md5-60bit bridge into a FIXED `buckets`-slot
    * feature space, the paper's scale move and the reason this shape
    * survives 100 TB: both models together are one `buckets`-row table
    * (broadcastable — a few KB at B=4096) regardless of vocabulary
    * size, so scoring is a map-side broadcast join + per-doc sum.
    * Contrast [[unigramXent]], whose open-vocabulary model must
    * shuffle-join by term. Add-one smoothing over the B buckets keeps
    * both distributions proper on empty buckets, and because BOTH sides
    * are smoothed over the SAME B, the +ln(B) terms inside the two
    * normalizers are the only asymmetry — the ratio is well-defined for
    * every token.
    *
    * `selected` is the RELATIVE verdict — the doc's log-ratio above the
    * corpus mean (one broadcast row). Relative rather than the absolute
    * ratio>1 cut because add-one smoothing biases every ratio by
    * ln[(α·T+α·B)/(α·T+B)] (α = target share, T = raw token count): a
    * term that vanishes when T ≫ B — i.e. at any real corpus — but
    * swamps the signal when the toy corpus is comparable to B. The
    * mean-centered flag is scale-free: it reads the same ranking at
    * every sf. (The paper resamples WITH Gumbel noise proportional to
    * these weights; the deterministic flag is the gradable core, and
    * [[graft.operators.Sampling]]'s hash machinery is the seeded-noise
    * path when sampling is wanted.)
    *
    * @return (id, n_tok, log_ratio, selected), log_ratio in nats, 4 dp
    */
  /** Shared scaffold of the hashed-feature selectors ([[dsirLogRatio]],
    * [[nbQualityScore]]): tokenize, md5-60 bucket into the fixed
    * `buckets`-slot feature space, carry per-call flag columns. ONE
    * definition, so the bucket hash can never drift between the two
    * models (both oracles replay the same md5-hex-prefix CTE). */
  private def hashedTokenBuckets(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, buckets: Int,
      flags: Seq[(String, Column)]): org.apache.spark.sql.DataFrame =
    docs.select((col(idCol).as("id") +:
        flags.map { case (n, c) => c.as(n) }) :+
        explode(tokens(lower(col(textCol)))).as("term"): _*)
      .select((col("id") +: flags.map(f => col(f._1))) :+
        pmod(graft.operators.NearDup.md5Hash60(col("term")),
          lit(buckets.toLong)).as("f"): _*)

  /** The add-one-smoothed log-odds both hashed-feature models share:
    * ln((num+1)/(numTot+B)) − ln((den+1)/(denTot+B)) — written as the
    * four-term sum so both call sites (and their oracles) keep the
    * identical IEEE operation chain. */
  private def addOneLogOdds(num: Column, numTot: Column, den: Column,
      denTot: Column, b: Column): Column =
    log(num.cast("double") + lit(1.0)) - log(numTot.cast("double") + b) -
      log(den.cast("double") + lit(1.0)) + log(denTot.cast("double") + b)

  def dsirLogRatio(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, isTarget: Column,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val toks = hashedTokenBuckets(docs, idCol, textCol, buckets,
      Seq("tgt" -> isTarget))
    val counts = toks.groupBy(col("f")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val stats = broadcast(counts.groupBy().agg(
      coalesce(sum(col("ct")), lit(0L)).as("tt"),
      coalesce(sum(col("cr")), lit(0L)).as("tr")))
    val b = lit(buckets.toDouble)
    // per-bucket ln p_T − ln p_R, both add-one smoothed over B buckets
    val model = broadcast(counts.crossJoin(stats).select(col("f"),
      addOneLogOdds(col("ct"), col("tt"), col("cr"), col("tr"), b)
        .as("lr")))
    // every observed token's bucket is in the model by construction
    val perDoc = toks.join(model, Seq("f"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"),
        round(sum(col("lr")), 4).as("log_ratio"))
    // the mean is rounded to the SAME 4 dp as log_ratio before the
    // comparison: the distributed double average's partial-sum order
    // differs across engines/partitionings, and a doc sitting exactly
    // at the boundary must not flip its flag between them
    val meanLr = broadcast(perDoc.groupBy()
      .agg(round(avg(col("log_ratio")), 4).as("mlr")))
    perDoc.crossJoin(meanLr)
      .select(col("id"), col("n_tok"), col("log_ratio"),
        (col("log_ratio") > col("mlr")).as("selected"))
  }

  /** Closed-form Naive-Bayes quality classifier over hashed unigram
    * features — the fastText-style curated-vs-raw selection model every
    * public pipeline pairs with perplexity and DSIR (CCNet's linear
    * classifier, RedPajama/Llama's "looks like Wikipedia" filter), in
    * the one form that needs NO iterative training: with naive-Bayes
    * factorization the maximum-likelihood model IS a grouped count, so
    * training is a single aggregation (DuckDB-replayable, no SGD) and
    * the whole fitted model — per-bucket class log-odds — is ONE
    * `buckets`-row broadcastable table over [[dsirLogRatio]]'s fixed
    * hashed feature space.
    *
    * Train: per-(bucket, class) token counts over the `isTrain` slice
    * only (the labeled subset — held-out docs are scored by a model
    * that never saw them), add-one smoothed over the B buckets per
    * class. Score: per-doc sum of bucket log-odds (a map-side
    * BroadcastHashJoin — the 100 TB shape, same argument as DSIR) plus
    * the add-one-smoothed doc-level class-prior log-odds
    * ln(n_target+1) − ln(n_raw+1). A bucket never seen in training
    * scores the smoothing-only constant ln(tr+B) − ln(tt+B) (both
    * classes back off to 1/(tot+B)), carried through the left join's
    * coalesce so open-vocabulary scoring stays total.
    *
    * Two verdict flags, both over the 4-dp-ROUNDED logit (the repo's
    * bit-stability discipline — no unrounded distributed double ever
    * decides a flag): `nb_keep` is the absolute Bayes decision
    * logit > 0 — the deployment form, correct when corpus ≫ buckets
    * (any real scale) but swamped at toy scale by the same add-one
    * smoothing bias [[dsirLogRatio]]'s scaladoc derives (at sf0.01 it
    * keeps zero docs — an honest measurement, kept as documentation);
    * `nb_selected` is the mean-centered RELATIVE verdict (above the
    * corpus-mean logit), scale-free for the same reason q215's
    * `selected` is, and the flag the q222 agreement card grades.
    *
    * Relation to DSIR: the per-bucket log-odds is algebraically DSIR's
    * per-bucket log-ratio with class-conditional counts from the train
    * slice instead of whole-corpus target/raw counts, plus the prior —
    * which is exactly why grading their selection agreement (q222's
    * card) measures what the labeled slice adds, not implementation
    * noise.
    *
    * @return (id, n_tok, nb_logit, nb_keep, nb_selected), logit in
    *         nats, 4 dp
    */
  def nbQualityScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, isTrain: Column, isTarget: Column,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val toks = hashedTokenBuckets(docs, idCol, textCol, buckets,
      Seq("trn" -> isTrain, "tgt" -> isTarget))
    // train = one grouped count per (bucket, class) over the labeled slice
    val counts = toks.filter(col("trn")).groupBy(col("f")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("tgt"), 1L).otherwise(0L)).as("cr"))
    val stats = broadcast(counts.groupBy().agg(
      coalesce(sum(col("ct")), lit(0L)).as("tt"),
      coalesce(sum(col("cr")), lit(0L)).as("tr")))
    // coalesced like `stats` above: an EMPTY train slice must yield the
    // smoothing-only prior (ln 1 − ln 1 = 0), not a NULL that voids
    // every logit — the "scoring stays total" contract
    val prior = broadcast(docs.select(isTrain.as("trn"), isTarget.as("tgt"))
      .filter(col("trn")).groupBy().agg(
        coalesce(sum(when(col("tgt"), 1L).otherwise(0L)), lit(0L)).as("ndt"),
        coalesce(sum(when(!col("tgt"), 1L).otherwise(0L)), lit(0L))
          .as("ndr")))
    val b = lit(buckets.toDouble)
    // the fitted model: per-bucket class log-odds, ONE broadcastable table
    val model = broadcast(counts.crossJoin(stats).select(col("f"),
      addOneLogOdds(col("ct"), col("tt"), col("cr"), col("tr"), b)
        .as("lo")))
    val perDoc = toks.join(model, Seq("f"), "left").crossJoin(stats)
      .select(col("id"),
        coalesce(col("lo"),
          log(col("tr").cast("double") + b) -
            log(col("tt").cast("double") + b)).as("lo"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lo")).as("slo"))
    val logits = perDoc.crossJoin(prior)
      .select(col("id"), col("n_tok"),
        round(log(col("ndt").cast("double") + lit(1.0)) -
          log(col("ndr").cast("double") + lit(1.0)) + col("slo"), 4)
          .as("nb_logit"))
    val meanLogit = broadcast(logits.groupBy()
      .agg(round(avg(col("nb_logit")), 4).as("ml")))
    logits.crossJoin(meanLogit)
      .select(col("id"), col("n_tok"), col("nb_logit"),
        (col("nb_logit") > lit(0.0)).as("nb_keep"),
        (col("nb_logit") > col("ml")).as("nb_selected"))
  }

  /** Bigram-interpolation cross-entropy curve — the ORDER dial of the
    * n-gram LM family: score the batch era against the frozen
    * history-era models at several interpolation weights λ,
    *
    *   p_λ(w_i | w_{i−1}) = λ·p_ML-bigram + (1−λ)·p_add-one-unigram,
    *
    * where the bigram term is the maximum-likelihood conditional
    * c(w_{i−1}, w_i) / c(w_{i−1}·) on history (0 when the context or
    * pair is unseen, and for each doc's first token), and the unigram
    * term is [[unigramXentFrozen]]'s add-one form — so λ=0 reproduces
    * the pure frozen-unigram score and λ→1 trusts context fully (λ=1
    * itself is excluded: an unseen pair would price at −ln 0). Where
    * the curve's minimum lands tells how much order-1 context signal
    * the corpus actually carries — the measured answer to "is the
    * bigram model worth its storage over the unigram registry".
    *
    * Scale shapes: token sequencing is a lag window PARTITIONED BY doc
    * (never a global window); the three model joins are vocab-sized
    * equi-joins by term/pair (deliberately not broadcast — q211's
    * argument); and the λ grid is priced in ONE pass as parallel
    * aggregate columns over the scored-token frame, unpivoted to rows
    * afterward — the established one-pass curve discipline (q182/q201/
    * q204), never a per-λ rescan or a ×|grid| row explode.
    *
    * @return one row per λ: (lam, n_tok, n_ctx_hit, n_pair_hit, xent) —
    *         hit counts are λ-free coverage stats, xent in nats, 4 dp
    *
    * Empty-regime contract (Scala-only, excluded from the oracle): on an
    * EMPTY batch era this emits one row per λ with n_tok = 0 and
    * xent = 0.0 — the shape a downstream curve consumer can always
    * join — while the q216 SQL oracle (whose λ grid cross-joins the
    * scored set) would emit zero rows. The graded comparison never sees
    * the divergence (the sf tables are non-empty); `EmptyInputSpec`
    * pins the Scala shape.
    */
  def bigramLambdaCurve(hist: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      lambdas: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 0.9))
      : org.apache.spark.sql.DataFrame = {
    require(lambdas.nonEmpty && lambdas.forall(l => l >= 0.0 && l < 1.0),
      "each lambda must be in [0, 1): at 1.0 an unseen pair scores -ln 0")
    import org.apache.spark.sql.expressions.Window
    def seqToks(df: org.apache.spark.sql.DataFrame) =
      df.select(col(idCol).as("id"),
          posexplode(tokens(lower(col(textCol)))))
        .withColumnRenamed("col", "term")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val ht = seqToks(hist)
    val hbig = ht.withColumn("prev", lag(col("term"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("term")).agg(count(lit(1)).as("c2"))
    val hctx = hbig.groupBy(col("prev"))
      .agg(sum(col("c2")).as("c1"))
    val huni = ht.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val stats = broadcast(huni.groupBy().agg(
      coalesce(sum(col("c")), lit(0L)).as("tot"),
      count(lit(1)).as("v")))
    val scored = seqToks(batch)
      .withColumn("prev", lag(col("term"), 1).over(w))
      .join(hbig, Seq("prev", "term"), "left")
      .join(hctx, Seq("prev"), "left")
      .join(huni, Seq("term"), "left")
      .crossJoin(stats)
      .select(
        when(col("c2").isNotNull,
            col("c2").cast("double") / col("c1").cast("double"))
          .otherwise(lit(0.0)).as("pbi"),
        ((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("tot") + col("v") + lit(1L)).cast("double")).as("puni"),
        col("c1").isNotNull.as("ctx_hit"),
        col("c2").isNotNull.as("pair_hit"))
    // coalesce guards the empty-batch regime only (zero scored tokens →
    // avg is null): a present token always has puni > 0 and λ < 1 keeps
    // the mixture positive, so no other null can reach the log
    val xents = lambdas.zipWithIndex.map { case (l, i) =>
      coalesce(round(-avg(log(lit(l) * col("pbi") +
        lit(1.0 - l) * col("puni"))), 4), lit(0.0)).as(s"x_$i")
    }
    val one = scored.agg(
      count(lit(1)).as("n_tok"),
      (Seq(
        coalesce(sum(when(col("ctx_hit"), 1L).otherwise(0L)), lit(0L))
          .as("n_ctx_hit"),
        coalesce(sum(when(col("pair_hit"), 1L).otherwise(0L)), lit(0L))
          .as("n_pair_hit")) ++
        xents): _*)
    val stackExpr = s"stack(${lambdas.length}, " +
      lambdas.zipWithIndex
        .map { case (l, i) => s"CAST($l AS DOUBLE), x_$i" }
        .mkString(", ") + ") AS (lam, xent)"
    one.select(expr(stackExpr),
        col("n_tok"), col("n_ctx_hit"), col("n_pair_hit"))
      .select(col("lam"), col("n_tok"), col("n_ctx_hit"),
        col("n_pair_hit"), col("xent"))
      .orderBy(col("lam"))
  }

  /** Interpolated Kneser–Ney bigram scoring of a batch era under the
    * FROZEN history model — the smoothing the real CCNet-lineage LMs
    * use (Kneser & Ney 1995; Chen & Goodman 1998's interpolated form),
    * where [[bigramLambdaCurve]]'s naive λ-mixture was the dial. The
    * two ideas naive interpolation lacks: ABSOLUTE DISCOUNTING (each
    * seen bigram donates a fixed D of its count to smoothing, so
    * frequent pairs keep almost all their evidence while rare pairs
    * are shrunk hard) and the CONTINUATION distribution (a word's
    * back-off weight is how many DISTINCT contexts it follows, not how
    * often it occurs — "Francisco" is frequent but only ever follows
    * "San", so its continuation probability is tiny):
    *
    *   p(w|u) = (max(c(u,w) − D, 0) + D·N1+(u·)·p_c(w)) / c(u·)
    *   p_c(w) = (N1+(·w) + 1) / (N1+(··) + V + 1)
    *
    * with D = 0.75 (Chen–Goodman's rule-of-thumb, exactly binary-
    * representable). A doc-initial token or unseen context scores
    * p_c(w) directly. The continuation distribution is add-one
    * smoothed over the frozen vocabulary PLUS an OOV outcome — the
    * standard recipe leaves p_c(OOV) = 0 (−ln 0 on any novel token);
    * this keeps open-vocabulary scoring total while preserving the
    * continuation ordering, the same move [[unigramXentFrozen]] makes
    * for the unigram registry.
    *
    * Scale shapes (the q211/q216 discipline): token sequencing is a
    * lag window PARTITIONED by doc; the three model joins (pair,
    * context, continuation) are vocab-sized equi-joins — deliberately
    * NOT broadcast at open vocabulary; the two scalars (N1+(··), V)
    * are one broadcast row. Every count is an exact integer; D and the
    * divisions are the only float ops, so both engines produce
    * identical doubles and the 4-dp xent is bit-stable.
    *
    * @return per batch doc: (id, n_tok, n_ctx_hit, n_pair_hit, xent)
    */
  def knBigramXent(hist: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    def seqToks(df: org.apache.spark.sql.DataFrame) =
      df.select(col(idCol).as("id"),
          posexplode(tokens(lower(col(textCol)))))
        .withColumnRenamed("col", "term")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val ht = seqToks(hist)
    val hbig = ht.withColumn("prev", lag(col("term"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("term")).agg(count(lit(1)).as("c2"))
    // context totals + distinct-continuation counts, one pass over hbig
    val hctx = hbig.groupBy(col("prev"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1u"))
    // continuation counts: distinct left-contexts per word = the rows
    // of hbig grouped by term (hbig is already distinct per (u, w))
    val hcont = hbig.groupBy(col("term")).agg(count(lit(1)).as("n1w"))
    val stats = broadcast(hbig.groupBy().agg(
      coalesce(count(lit(1)), lit(0L)).as("n1all"))
      .crossJoin(ht.select(col("term")).distinct().groupBy()
        .agg(count(lit(1)).as("v"))))
    val d = lit(discount)
    val scored = seqToks(batch)
      .withColumn("prev", lag(col("term"), 1).over(w))
      .join(hbig, Seq("prev", "term"), "left")
      .join(hctx, Seq("prev"), "left")
      .join(hcont, Seq("term"), "left")
      .crossJoin(stats)
      .select(col("id"),
        col("c1").isNotNull.as("ctx_hit"),
        col("c2").isNotNull.as("pair_hit"),
        // p_c(w): add-one over frozen vocab + one OOV outcome
        ((coalesce(col("n1w"), lit(0L)) + lit(1L)).cast("double") /
          (col("n1all") + col("v") + lit(1L)).cast("double")).as("pc"),
        col("c2"), col("c1"), col("n1u"))
      .select(col("id"), col("ctx_hit"), col("pair_hit"),
        // c2 coalesced explicitly: Spark's greatest skips nulls but the
        // oracle must not depend on either engine's null-vs-greatest
        // lore — both sides discount a coalesced integer
        when(col("ctx_hit"),
          (greatest(coalesce(col("c2"), lit(0L)).cast("double") - d,
            lit(0.0)) +
            d * col("n1u").cast("double") * col("pc")) /
            col("c1").cast("double"))
          .otherwise(col("pc")).as("p"))
    scored.groupBy(col("id")).agg(
      count(lit(1)).as("n_tok"),
      coalesce(sum(when(col("ctx_hit"), 1L).otherwise(0L)), lit(0L))
        .as("n_ctx_hit"),
      coalesce(sum(when(col("pair_hit"), 1L).otherwise(0L)), lit(0L))
        .as("n_pair_hit"),
      round(-avg(log(col("p"))), 4).as("xent"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al., LREC 2020 — the
    * public pipeline's head/middle/tail split): per group (language),
    * cut the LM-scored documents into thirds by cross-entropy — the
    * classic quality stratification that trained filters largely
    * replaced but every corpus card still reports, because "which
    * third did we keep" is the first question about any perplexity
    * gate. Cuts are VALUE thresholds read off the grouped CDF:
    * cut1 = min xent v with 3·|{xent ≤ v}| ≥ N, cut2 likewise at 2N —
    * ties at a threshold all fall on the same side, so a doc's bucket
    * is a pure function of its (group, xent) pair in any engine and
    * any partitioning (row_number tertiles would instead depend on the
    * tiebreak order, and SQL ntile on the engine's remainder
    * placement).
    *
    * Scale shapes: xent is 4-dp, so the (group, xent) CDF table is
    * BOUNDED (groups × distinct 4-dp values, ~10⁵ rows per group at
    * ANY corpus size) — the doc-level scores are read in ONE grouped
    * pass, and everything downstream (CDF windows, cuts, bucket
    * assignment, the card, the token share) runs entirely on that
    * grouped table; the score table is never re-planned per branch
    * and never joined back.
    *
    * @param scores one row per scored doc: groupCol, xentCol (4-dp),
    *               tokCol
    * @return (group, bucket, n_docs, n_tok, min_xent, max_xent,
    *         tok_share) — head = lowest-xent (most-fluent) third
    */
  def perplexityBuckets(scores: org.apache.spark.sql.DataFrame,
      groupCol: String, xentCol: String, tokCol: String)
      : org.apache.spark.sql.DataFrame = {
    require(!scores.columns.contains("_grp"),
      "column _grp collides with perplexityBuckets internals")
    import org.apache.spark.sql.expressions.Window
    // ONE pass over the doc-level scores; everything after this line —
    // CDF, cuts, bucket assignment, the card itself — lives on the
    // bounded (group, 4-dp xent) grouped table, so the score table is
    // never re-planned per branch (the q225 normalizer lesson).
    val g = scores.groupBy(col(groupCol).as("_grp"), col(xentCol).as("x"))
      .agg(count(lit(1)).as("n"), sum(col(tokCol)).as("t"))
    val wc = Window.partitionBy(col("_grp")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wa = Window.partitionBy(col("_grp"))
    val bucketed = g.withColumn("cum", sum(col("n")).over(wc))
      .withColumn("ntot", sum(col("n")).over(wa))
      .withColumn("cut1",
        min(when(col("cum") * 3 >= col("ntot"), col("x"))).over(wa))
      .withColumn("cut2",
        min(when(col("cum") * 3 >= col("ntot") * 2, col("x"))).over(wa))
      .withColumn("bucket", when(col("x") <= col("cut1"), lit("head"))
        .when(col("x") <= col("cut2"), lit("middle"))
        .otherwise(lit("tail")))
    bucketed.groupBy(col("_grp").as(groupCol), col("bucket"))
      .agg(sum(col("n")).as("n_docs"), sum(col("t")).as("n_tok"),
        min(col("x")).as("min_xent"), max(col("x")).as("max_xent"))
      .withColumn("tok_share", round(col("n_tok").cast("double") /
        sum(col("n_tok")).over(Window.partitionBy(col(groupCol)))
          .cast("double"), 6))
  }

  /** Selection-threshold tuning curve for a mean-centered classifier
    * cut — the operating question behind every trained quality filter
    * (the FineWeb-Edu release ships exactly this sweep): what does
    * each candidate threshold COST in kept documents and kept tokens?
    * Thresholds are offsets δ over the mean logit, so the curve is
    * scale-free like the q218 `nb_selected` verdict itself.
    *
    * Cross-engine exactness (the q215 boundary discipline): the mean
    * is integer-exact — 4-dp logits ×10⁴ summed as longs, ONE final
    * division — each threshold is round(mean + δ, 4), and the kept
    * comparison is a 4-dp double against a 4-dp double, so no
    * partial-sum ordering can move a boundary doc between engines.
    * All δ are priced in ONE pass as parallel aggregate columns,
    * unpivoted to rows afterward (the established curve discipline) —
    * never a per-δ rescan.
    *
    * Empty-regime contract (Scala-only, the q216 precedent): on an
    * empty score set this emits one row per δ with n_kept = 0 and a
    * NULL threshold/fraction — the joinable curve shape — while a SQL
    * replay whose grid joins against the empty set may emit zero rows.
    *
    * @param scores one row per doc: logitCol (4-dp), tokCol
    * @return one row per δ, ascending: (delta, thr, n_kept, kept_tok,
    *         keep_frac, tok_frac)
    */
  def selectionThresholdCurve(scores: org.apache.spark.sql.DataFrame,
      logitCol: String, tokCol: String, deltas: Seq[Double])
      : org.apache.spark.sql.DataFrame = {
    require(deltas.nonEmpty, "need at least one delta")
    val ds = deltas.distinct.sorted
    val mean = col("sl").cast("double") / (col("n") * 10000L).cast("double")
    val stats = broadcast(scores.groupBy().agg(
      sum(round(col(logitCol) * 1e4, 0).cast("long")).as("sl"),
      count(lit(1)).as("n"), sum(col(tokCol)).as("ttok")))
    val perDelta = ds.zipWithIndex.flatMap { case (d, i) =>
      val thr = round(mean + lit(d), 4)
      Seq(
        max(thr).as(s"_h$i"),
        coalesce(sum(when(col(logitCol) >= thr, 1L).otherwise(0L)), lit(0L))
          .as(s"_k$i"),
        coalesce(sum(when(col(logitCol) >= thr, col(tokCol))
          .otherwise(lit(0L))), lit(0L)).as(s"_t$i"))
    }
    val aggCols = Seq(max(col("n")).as("n"), max(col("ttok")).as("ttok")) ++
      perDelta
    val one = scores.crossJoin(stats)
      .groupBy().agg(aggCols.head, aggCols.tail: _*)
    one.select(explode(array(ds.zipWithIndex.map { case (d, i) =>
        struct(lit(d).as("delta"), col(s"_h$i").as("thr"),
          col(s"_k$i").as("n_kept"), col(s"_t$i").as("kept_tok"))
      }: _*)).as("r"), col("n"), col("ttok"))
      .select(col("r.delta").as("delta"), col("r.thr").as("thr"),
        col("r.n_kept").as("n_kept"), col("r.kept_tok").as("kept_tok"),
        when(col("n") > 0, round(col("r.n_kept").cast("double") /
          col("n").cast("double"), 6)).as("keep_frac"),
        when(col("ttok") > 0, round(col("r.kept_tok").cast("double") /
          col("ttok").cast("double"), 6)).as("tok_frac"))
      .orderBy(col("delta"))
  }

  /** Adjacent-symbol pair counts — the statistic one BPE training
    * iteration maximizes (the top pair is the next merge). Counted the
    * way BPE trainers actually count: over the DISTINCT word vocabulary
    * weighted by word frequency, never over raw running text — the
    * vocabulary is orders of magnitude smaller than the corpus, so the
    * per-word char explode (the expensive part) runs on ~|V| rows while
    * the corpus contributes only a word-count aggregation. All counts are
    * integers — exact in any engine.
    *
    * Scale shape: one corpus aggregation (map-side partial counts keyed
    * by word) then an explode+sum over the vocab; top-k via
    * TakeOrderedAndProject (no global sort materialized).
    *
    * @return (pair, cnt) for the `topK` most frequent adjacent pairs,
    *         ties broken by pair text
    */
  def bpePairCounts(docs: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK > 0, "topK must be positive")
    val vocab = docs
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .filter(length(col("word")) >= 2)
    vocab
      .select(col("wc"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)
  }

  /** Separator for [[bpeSymbolCount]]'s symbol-string state: U+001F (unit
    * separator), assumed absent from the text (guard upstream if not). */
  private val BpeSep = "\u001f"

  /** Number of BPE tokens `word` encodes to under `merges` — the APPLY side
    * of BPE (q112's [[bpePairCounts]] is the training statistic): start
    * from characters, apply each merge rule in rank order, count surviving
    * symbols. Rule application is subword-nmt-style: one pass per rule
    * merging every left-to-right non-overlapping occurrence — which IS the
    * per-rule fixpoint, because merging (x, y) → "xy" only creates
    * adjacencies involving the NEW symbol "xy" ∉ {x, y}, so a rule can
    * never re-enable itself.
    *
    * Implementation: the symbol sequence is one string, every boundary a
    * DOUBLE ``; rule (x, y) is a literal replace of `·x··y·` with
    * `·xy·` (single seps at the edges). The double separator makes
    * adjacent disjoint occurrences character-disjoint — "x y x y" merges
    * both pairs in ONE replace scan — while the single-sep pattern edges
    * pin x and y to whole symbols (symbols never contain the separator).
    * Literal `replace` scans left-to-right non-overlapping identically in
    * Spark and DuckDB, so every intermediate state is engine-portable.
    * Pure string expressions — codegen'd, row-local, no UDF. */
  def bpeSymbolCount(word: Column, merges: Seq[(String, String)]): Column = {
    val s = BpeSep
    val init = concat(lit(s + s), array_join(split(word, ""), s + s),
      lit(s + s))
    val end = merges.foldLeft(init) { case (st, (x, y)) =>
      replace(st, lit(s + x + s + s + y + s), lit(s + x + y + s))
    }
    ((length(end) - length(replace(end, lit(s)))) / 2 - 1).cast("long")
  }

  /** BPE merge-rule TRAINING inside the engine (Sennrich et al. 2016,
    * arXiv:1508.07909 — the loop q112 computes one statistic of): `rounds`
    * greedy iterations, each counting adjacent SYMBOL pairs over the
    * frequency-weighted vocabulary state and merging the most frequent
    * pair everywhere (ties to the lexicographically smallest rendering —
    * deterministic, engine-portable). Round 1 counts character pairs
    * (every symbol is a character), so its winner equals
    * [[bpePairCounts]]' top row; later rounds count pairs over the merged
    * symbols — the part a single pair-count query cannot see.
    *
    * The in-engine iterative-training discipline is [[graft.operators.
    * Similarity.lloydAssigned]]'s, applied to strings: a FIXED round
    * count (reproducible, oracle-checkable), per-round
    * localCheckpoint so plans don't stack, every learned rule a
    * broadcast one-row join. State is the separator-encoded symbol
    * string of [[bpeSymbolCount]] — literal `replace` applies a rule to
    * every occurrence in one left-to-right scan identically in Spark and
    * DuckDB.
    *
    * Scale shape: ONE corpus explode builds the weighted vocabulary;
    * every round after that is vocabulary-sized (Zipf: |V| ≪ corpus) —
    * a row-local pair explode bounded by word length, a
    * map-side-combinable pair count, a TakeOrdered(1) argmax (no global
    * sort), and a broadcast of the single winning rule. The corpus is
    * never touched again.
    *
    * @return (rank, x, y, cnt) — merge rules in learned order; applying
    *         them via [[bpeSymbolCount]]/[[bpeTokenCounts]] reproduces
    *         the trained tokenizer */
  def bpeTrainMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1 && rounds <= 8, "rounds must be in [1, 8]")
    val s = BpeSep
    var vocab = docs
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .withColumn("st", concat(lit(s + s),
        array_join(split(col("word"), ""), s + s), lit(s + s)))
      .localCheckpoint(true)
    val learned = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    for (r <- 1 to rounds) {
      val syms = filter(split(col("st"), s + s), x => length(x) > 0)
      // a fully-merged word holds ONE symbol: sequence(1, 0) would step
      // DOWNWARD, so the pair list must be explicitly empty there
      val pairs = vocab.select(col("wc"), explode(
        when(size(syms) >= 2,
          transform(sequence(lit(1), size(syms) - 1),
            i => concat(element_at(syms, i.cast("int")), lit(s),
              element_at(syms, (i + 1).cast("int")))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      val winner = pairs.groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .withColumn("rank", lit(r.toLong))
        .localCheckpoint(true)
      learned += winner
      vocab = vocab.crossJoin(broadcast(winner.select(col("pair"))))
        .withColumn("st", replace(col("st"),
          concat(lit(s), split_part(col("pair"), lit(s), lit(1)),
            lit(s + s), split_part(col("pair"), lit(s), lit(2)), lit(s)),
          concat(lit(s), replace(col("pair"), lit(s), lit("")), lit(s))))
        .drop("pair")
        .localCheckpoint(true)
    }
    learned.result().reduce(_ unionByName _)
      .select(col("rank"),
        split_part(col("pair"), lit(s), lit(1)).as("x"),
        split_part(col("pair"), lit(s), lit(2)).as("y"),
        col("cnt"))
      .orderBy(col("rank"))
  }

  /** Per-document REAL tokenizer counts under a learned BPE merge table —
    * what a pipeline meters token budgets with (q99 meters whitespace
    * tokens; this is the trained-tokenizer version).
    *
    * Scale shape: the corpus is exploded ONCE into lowercased whitespace
    * words and aggregated to per-(doc, word) counts; the merge chain runs
    * over the DISTINCT global vocabulary only (vocabulary-sized work, not
    * corpus-sized — the standard trick: encode the vocab, multiply by
    * occurrence counts), then one equi-join on the word and a per-doc sum.
    * Zipf makes the vocabulary orders of magnitude smaller than the
    * corpus, and the join key is the word itself (hot words join to ONE
    * vocab row — no fan-out).
    *
    * @return (id, n_words, n_tokens) — whitespace words and BPE tokens
    */
  def bpeTokenCounts(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)])
      : org.apache.spark.sql.DataFrame = {
    require(merges.nonEmpty, "need at least one merge rule")
    val words = docs
      .select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("n_w"))
    val vocab = words.select(col("w")).distinct()
      .withColumn("n_sym", bpeSymbolCount(col("w"), merges))
    words.join(vocab, Seq("w"))
      .groupBy(col("id"))
      .agg(sum(col("n_w")).cast("long").as("n_words"),
        sum(col("n_w") * col("n_sym")).cast("long").as("n_tokens"))
  }

  // --- Unicode normalization ------------------------------------------------

  private def unicodeNorm(c: Column, mode: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.toColumn(graft.expressions.UnicodeNormalize(
      ColumnBridge.toExpression(c), mode))
  }

  /** Canonical composition (NFC) — DuckDB mirror: `nfc_normalize`. */
  def nfc(c: Column): Column =
    unicodeNorm(c, graft.expressions.UnicodeNormalize.Nfc)

  /** Compatibility composition (NFKC): also folds ligatures, full-width
    * forms and compatibility digits. No DuckDB mirror — spec-tested. */
  def nfkc(c: Column): Column =
    unicodeNorm(c, graft.expressions.UnicodeNormalize.Nfkc)

  /** Accent stripping (NFD → drop combining marks → NFC) — DuckDB mirror:
    * `strip_accents` (parity pinned on the Latin range). */
  def stripAccents(c: Column): Column =
    unicodeNorm(c, graft.expressions.UnicodeNormalize.Strip)

  /** The standard fuzzy-match key: compose, lowercase, strip accents —
    * "Café", "CAFÉ", "cafe" + combining acute and "cafe" all collapse to
    * one key. Lowercase runs between the two normalization steps so
    * accented CAPITALS fold before their marks are dropped. */
  def matchKey(c: Column): Column = stripAccents(lower(nfc(c)))

  // --- Markup stripping -----------------------------------------------------

  /** `<script>`/`<style>` elements with their CONTENT (non-greedy, so
    * adjacent blocks don't merge); alternation instead of a backreference
    * because the oracle's RE2 has none. Content containing a newline is
    * not matched (neither engine's `.` crosses lines) — acceptable for
    * single-line corpus records, documented for multi-line use. */
  val MarkupBlockPattern = "<script[^>]*>.*?</script>|<style[^>]*>.*?</style>"
  val MarkupTagPattern = "<[^>]+>"

  /** HTML/markup → text extraction (the WET-style step ahead of every
    * text-quality stage): drop script/style blocks, strip remaining tags
    * to spaces, decode the five entities that survive in running text,
    * collapse whitespace. Pure per-row regex chain — scan speed, no
    * shuffle, and every step has the identical RE2 spelling for the
    * oracle. Entity decode runs AFTER tag stripping so a decoded literal
    * `&lt;p&gt;` cannot be re-interpreted as a tag. */
  def stripMarkup(html: Column): Column = {
    val noBlocks = regexp_replace(html, MarkupBlockPattern, " ")
    val noTags = regexp_replace(noBlocks, MarkupTagPattern, " ")
    val decoded = Seq("&nbsp;" -> " ", "&amp;" -> "&", "&lt;" -> "<",
      "&gt;" -> ">", "&#39;" -> "'")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  // --- Boilerplate line removal ---------------------------------------------

  /** Per-source boilerplate line removal — the navigation/footer cleaner
    * that GLOBAL line dedup (C4-style, q88) misses: a header appearing in
    * every doc of one domain is boilerplate there even if it is globally
    * rare. A line is boilerplate in its source when it appears in at least
    * `num`/`den` of the source's docs (rational threshold — exact integer
    * comparison `n_docs·den ≥ num·tot`, no float).
    *
    * Scale shape — two corpus scans, NO line-level reassembly shuffle:
    * pass 1 counts distinct docs per (source, line) (the one intrinsic
    * shuffle; `array_distinct` before the explode keeps in-doc repeats
    * from inflating counts). The resulting boilerplate SET is small by
    * construction (only lines crossing the frequency floor survive), so
    * it aggregates to one array per source and BROADCASTS; pass 2 filters
    * each doc's line array row-locally against it. Keeping docs as rows
    * (never exploding them back) avoids shuffling the whole corpus by
    * line and re-grouping — the naive spelling's dominant cost.
    *
    * @return (id, source, n_lines, n_kept, text_clean) — text_clean is ''
    *         when every line was boilerplate
    */
  def stripBoilerplate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      srcCol: String, textCol: String, num: Int = 1, den: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    require(num >= 1 && den >= 1, "threshold must be a positive rational")
    val base = docs.select(col(idCol).as("id"), col(srcCol).as("source"),
      col(textCol).as("text"))
    val srcTot = base.groupBy(col("source")).agg(count(lit(1)).as("tot"))
    val lineDocs = base
      .select(col("source"),
        explode(array_distinct(split(col("text"), "\n"))).as("line"))
      .groupBy(col("source"), col("line")).agg(count(lit(1)).as("n_docs"))
    val boiler = lineDocs.join(srcTot, Seq("source"))
      .filter(col("n_docs") * den >= col("tot") * num)
      .groupBy(col("source")).agg(collect_list(col("line")).as("bl"))
    base.join(broadcast(boiler), Seq("source"), "left")
      .withColumn("ls", split(col("text"), "\n"))
      .withColumn("kept", filter(col("ls"),
        l => not(coalesce(array_contains(col("bl"), l), lit(false)))))
      .select(col("id"), col("source"),
        size(col("ls")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), "\n").as("text_clean"))
  }
}
