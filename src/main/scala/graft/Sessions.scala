package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession so Verify, Bench and the
  * test suites agree on semantics-affecting config.
  *
  *  - `shuffle.partitions` = cpu count, not the 200 default: at local[32]
  *    over sf0.1 every extra empty partition is pure scheduling overhead; on
  *    a real cluster this knob is sized to the data (AQE coalesces down).
  *  - `legacy.parquet.nanosAsLong`: driver testdata generations have
  *    written `events.ts` as parquet TIMESTAMP(NANOS), which Spark 4.x
  *    otherwise rejects with PARQUET_TYPE_ILLEGAL at scan time. With the
  *    flag, such files surface `ts` as LongType (epoch nanos);
  *    TIMESTAMP(MICROS) generations surface a µs timestamp instead.
  *    Tables.load normalizes either to the epoch-nanos LongType contract —
  *    convert with `timestamp_micros(ts div 1000)` where a real timestamp
  *    is needed.
  *  - AQE is on by default in Spark 4 (runtime skew-join handling and
  *    shuffle-partition coalescing — part of the 100 TB story, SURVEY.md §4).
  *  - `adaptive.coalescePartitions.initialPartitionNum` = 8× cpu count:
  *    shuffles START wide and AQE coalesces small ones back down to the
  *    advisory size, so partition width scales with the DATA instead of
  *    the fixed cpu count. This is the spill guard the round-18 scale
  *    probe demanded: at 10× data the gram-family digest aggregates
  *    (`xsub_batch_stats`/`xsub_stats` — near-unique keys, no map-side
  *    reduction) overflowed their 32 per-partition hash maps into
  *    sort-spill and ran at 10.3–12.3× the 1× time; with width following
  *    data volume the same aggregates stay in memory and the ratio drops
  *    back under the data factor (SCALEPROBE_r18). At 100 TB this knob is
  *    exactly how a real cluster sizes shuffles — wide by default, AQE
  *    narrowing where volumes are small.
  *  - `codegen.cache.maxEntries` = [[CodegenCacheEntries]]: Spark keeps
  *    its generated classes in one JVM-wide LRU cache of 100 entries by
  *    default. One cold `count()` pass over the 284-query book at sf0.001
  *    compiles 3,939 distinct classes, and a full-materialization (noop
  *    write) pass after it compiles 4,098 more (measured with
  *    `CodegenMetrics` and an unbounded cache); even the 8 queries of one
  *    benchmark workload compile 137. At 100 the cache thrashes: every warm
  *    visit recompiles classes an earlier visit already built (45–76 per
  *    benchmark pass). With room for both passes a warm visit compiles
  *    only classes whose generated source changes from visit to visit.
  *    The cache is static, so the first session of a JVM fixes its size.
  */
object Sessions {
  /** Room for the 8,037 classes of both book passes measured above. */
  private val CodegenCacheEntries = 8192

  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(graft.expressions.GraftFunctions.install)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
