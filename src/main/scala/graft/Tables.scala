package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. At 100 TB these would be
  * partitioned directories; `spark.read.parquet` handles both shapes, and all
  * downstream operators avoid assumptions about partition count (filters and
  * projections are declared on the scan so Catalyst pushes them into the
  * parquet reader — verify with `.explain`: `PushedFilters`, `ReadSchema`).
  *
  * Schema memo: inferring a parquet schema reads footers in a Spark job, and
  * every query visit loads its tables again, so each table's schema is
  * inferred once and later loads pass it to `spark.read.schema(..)`. A memo
  * entry is valid for (applicationId, qualified path, modification time,
  * length) of the table's path. Rewriting a table (a new file, or new
  * entries in a partitioned directory) changes that stamp, so the table is
  * inferred again; entries of any other applicationId are evicted on access,
  * as `PipelineQueries.stages` does. Only the `StructType` is kept, never the
  * DataFrame: each load builds a fresh relation with fresh attribute ids,
  * which self-joins of one table rely on.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (applicationId, qualified path) -> ((modification time, length), schema) */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[(String, String), ((Long, Long), StructType)]

  /** The table's schema, inferred at most once per file state. A missing
    * path throws `FileNotFoundException` naming it. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val app = spark.sparkContext.applicationId
    schemas.keys.withFilter(_._1 != app).foreach(schemas.remove)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(p)
    val stamp = (status.getModificationTime, status.getLen)
    val k = (app, status.getPath.toString)
    schemas.get(k) match {
      case Some((`stamp`, schema)) => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(k, (stamp, schema))
        schema
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    // events.ts contract: epoch-NANOS LongType, whatever the generator
    // wrote. TIMESTAMP(NANOS) testdata already surfaces as that long (the
    // nanosAsLong session flag); TIMESTAMP(MICROS) testdata arrives as
    // (NTZ) TimestampType and is normalized here — the session timezone is
    // pinned to UTC, so the cast is the identity instant and `epoch nanos
    // DIV 1000` equals DuckDB's epoch_us(ts) exactly, either way.
    if (name == "events" &&
        df.schema("ts").dataType != org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions.expr(
          "unix_micros(cast(ts AS timestamp)) * 1000L"))
    else df
  }

  /** Register every table as a temp view so `spark.sql` mirrors the DuckDB
    * oracle's naming exactly. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
