package graft

import org.apache.spark.sql.functions._

/** Generates a LOCAL N× scale slice of the text/embedding tables for the
  * scale-probe ratios (`SCALEPROBE_r*.json`): `documents` and `embeddings`
  * are replicated `factor` times with deterministic per-copy
  * perturbation, everything else is left for the caller to symlink from
  * the source dir. Writes under /root/repo/tmp (never touches
  * /root/testdata).
  *
  * Perturbation is chosen to keep the data DISTRIBUTION realistic
  * rather than pathological: copy i > 0 suffixes every word with "‿i",
  * which (a) preserves token counts, language mix and length
  * distributions, but (b) makes word-gram and char-gram vocabularies
  * DISJOINT across copies — so dedup structure (near-dup pairs,
  * repeated substrings, LSH collisions) replicates linearly instead of
  * exploding quadratically into a 10-way near-dup soup no real 10×
  * corpus would exhibit. Embeddings mirror the text contract exactly:
  * copy 0 is the ORIGINAL vectors verbatim (same preservation gate as
  * the text column), and copies i > 0 get a small deterministic
  * per-(copy, dim) offset — distinct vectors, same cluster geometry. */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/tmp/scale10"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local("graft-scalegen")
    val copies = spark.range(0, factor).select(col("id").as("cp"))

    val docs = Tables.load(spark, src, "documents")
    docs.crossJoin(copies)
      .select((col("doc_id") * factor + col("cp")).as("doc_id"),
        when(col("cp") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            w => concat(w, lit("‿"), col("cp"))), " ")).as("text"),
        col("lang"), col("source"),
        length(when(col("cp") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            w => concat(w, lit("‿"), col("cp"))), " ")))
          .cast("long").as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.load(spark, src, "embeddings")
    emb.crossJoin(copies)
      .select((col("vec_id") * factor + col("cp")).as("vec_id"),
        when(col("cp") === 0, col("embedding"))
          .otherwise(transform(col("embedding"),
            (x, d) => (x + ((col("vec_id") * 131 + col("cp") * 17 + d) % 1000
              - 500).cast("double") * lit(1e-4)).cast("float")))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"SCALEGEN ok: $out factor=$factor docs=" +
      spark.read.parquet(s"$out/documents.parquet").count() +
      " embs=" + spark.read.parquet(s"$out/embeddings.parquet").count())
    spark.stop()
  }
}
