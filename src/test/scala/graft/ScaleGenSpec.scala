package graft

import org.apache.spark.sql.functions._

import graft.operators.NearDup

/** Methodology contracts of the ScaleGen N× slice (the scale-probe's
  * input): the generator must preserve the original corpus verbatim as
  * copy 0, keep per-copy token structure, and keep the copies'
  * gram vocabularies DISJOINT — that disjointness is what makes dedup
  * structure replicate linearly, which the `SCALEPROBE_r*.json` ratios
  * lean on. Runs at factor 3 over sf0.001 (same code path as the probe's
  * factor-10 sf0.1 run, sized for a spec). */
class ScaleGenSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val factor = 3

  private lazy val scaled = {
    val docs = Tables.load(spark, dir, "documents")
    val copies = spark.range(0, factor).select(col("id").as("cp"))
    docs.crossJoin(copies)
      .select((col("doc_id") * factor + col("cp")).as("doc_id"),
        when(col("cp") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            w => concat(w, lit("‿"), col("cp"))), " ")).as("text"))
      .persist()
  }

  test("copy 0 is the original corpus verbatim and every copy preserves " +
      "token counts") {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.count()
    assert(scaled.count() === n * factor)
    // copy 0: id*factor, text unchanged
    val c0 = scaled.filter(col("doc_id") % factor === 0)
      .select((col("doc_id") / factor).cast("long").as("doc_id"),
        col("text"))
    assert(c0.except(docs.select(col("doc_id"), col("text")))
      .count() === 0L)
    // token counts invariant across copies
    val tc = scaled.select((col("doc_id") % factor).as("cp"),
        (col("doc_id") - col("doc_id") % factor).as("orig"),
        size(split(trim(col("text")), "\\s+")).as("ntok"))
      .groupBy(col("orig"))
      .agg(countDistinct(col("ntok")).as("d"))
    assert(tc.filter(col("d") =!= 1).count() === 0L)
  }

  test("copy 0 of the embedding slice is the original vectors verbatim " +
      "(the same preservation gate as the text column)") {
    val emb = Tables.load(spark, dir, "embeddings")
    val copies = spark.range(0, factor).select(col("id").as("cp"))
    val scaledEmb = emb.crossJoin(copies)
      .select((col("vec_id") * factor + col("cp")).as("vec_id"),
        when(col("cp") === 0, col("embedding"))
          .otherwise(transform(col("embedding"),
            (x, d) => (x + ((col("vec_id") * 131 + col("cp") * 17 + d) % 1000
              - 500).cast("double") * lit(1e-4)).cast("float")))
          .as("embedding"))
    val c0 = scaledEmb.filter(col("vec_id") % factor === 0)
      .select((col("vec_id") / factor).cast("long").as("vec_id"),
        col("embedding"))
    assert(c0.except(emb.select(col("vec_id"), col("embedding")))
      .count() === 0L)
    // copies > 0 are all DISTINCT from the original (the offset is
    // nonzero in at least one dim for every vector)
    val cN = scaledEmb.filter(col("vec_id") % factor =!= 0)
      .select((col("vec_id") / factor).cast("long").as("vec_id"),
        col("embedding"))
    assert(cN.intersect(emb.select(col("vec_id"), col("embedding")))
      .count() === 0L)
  }

  test("gram vocabularies are disjoint across copies, so near-dup pairs " +
      "replicate linearly: every verified pair stays within one copy and " +
      "per-copy pair counts all equal the original's") {
    val sh = NearDup.shinglePostings(scaled, "doc_id", "text", k = 3)
    // a gram never appears in two different copies
    val cross = sh.select(col("g"), (col("id") % factor).as("cp"))
      .distinct()
      .groupBy(col("g")).agg(countDistinct(col("cp")).as("ncp"))
      .filter(col("ncp") > 1)
    assert(cross.count() === 0L)
    // verified pairs: all within-copy, and each copy mirrors the original
    val pairs = NearDup.verifiedPairsStaged(sh, threshold = 0.5)
    assert(pairs.filter(col("d1") % factor =!= col("d2") % factor)
      .count() === 0L)
    val orig = NearDup.verifiedPairsStaged(
      NearDup.shinglePostings(Tables.load(spark, dir, "documents"),
        "doc_id", "text", k = 3), threshold = 0.5).count()
    val perCopy = pairs.groupBy((col("d1") % factor).as("cp")).count()
      .collect().map(_.getLong(1))
    assert(perCopy.length === factor && perCopy.forall(_ === orig),
      s"per-copy pair counts ${perCopy.toSeq} vs original $orig")
  }
}
