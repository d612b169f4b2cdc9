package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{Sessions, SparkEntry, Tables}
import graft.queries.PipelineQueries

/** One benchmark run: one workload, one Spark JVM, one driver thread
  * issuing one query at a time (closed loop, one client).
  *
  * Set-up is the JVM start, `Sessions.local` and an untimed visit of every
  * query that also checks each result's digest against the committed
  * expectation. The timed loop then runs whole passes until `--seconds`
  * have elapsed (and at least [[MinPasses]]). A pass clears the shared
  * `PipelineQueries` stages, rebuilds them as their own phase, then visits
  * every query in an order drawn from the seed: construct the DataFrame,
  * force its physical plan, and materialize every output column with the
  * final ORDER BY (a `noop`-sink write, or the `coalesce(1)` parquet write
  * Verify uses).
  *
  * With `--trace 1` the even passes run untraced and the odd passes charge
  * time and Spark work to spans; only per-layer metrics are printed then.
  */
object Main {
  val MinPasses = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    opts.getOrElse("mode", "run") match {
      case "run" => run(opts)
      case "dump" => dump(opts)
      case "selftest" => sys.exit(if (SelfTest.run(opts("data"))) 0 else 1)
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap still in use after a full collection, in MB, once every posted
    * listener event is delivered. The first collection lets Spark's
    * ContextCleaner drop the blocks of DataFrames that became unreachable;
    * the second frees what the cleaner released. */
  private def liveHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The seed's visit order for one pass. */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  /** Reads `expected/digests.tsv`: query, rows, digest. */
  private def expected(path: String): Map[String, Digest.Result] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .map(f => f(0) -> Digest.Result(f(1).toLong, f(2)))
      .toMap

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A measured number; JSON has no NaN or infinity. */
  private def num(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  private def metricsJson(ms: Seq[(String, String, Double)]): JObject =
    JObject(ms.map { case (n, u, v) => n -> (("value" -> num(v)) ~ ("unit" -> u)) }.toList)

  private def header(spark: SparkSession, opts: Map[String, String],
      loadStart: Double): JObject = {
    val conf = spark.conf
    val memKb = scala.util.Try(Files.readAllLines(Paths.get("/proc/meminfo"))
      .asScala.find(_.startsWith("MemTotal:")).get
      .split("\\s+")(1).toLong).getOrElse(-1L)
    ("nproc" -> Runtime.getRuntime.availableProcessors) ~
      ("mem_total_kb" -> memKb) ~
      ("heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20)) ~
      ("spark_version" -> spark.version) ~
      ("master" -> spark.sparkContext.master) ~
      ("shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions")) ~
      ("aqe_initial_partition_num" ->
        conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "")) ~
      ("commit" -> opts.getOrElse("commit", "unknown")) ~
      ("load_start" -> loadStart) ~
      ("load_end" -> loadAvg())
  }

  /** Computes each query's digest on one thread per core and records, under
    * `q@label`, every exception and every digest that differs from the
    * committed expectation. */
  private def check(digests: Seq[(String, () => Digest.Result)],
      want: Map[String, Digest.Result], label: String,
      failures: java.util.Map[String, String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    digests.map { case (q, digest) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val got = digest()
            want.get(q) match {
              case Some(e) if e == got => ()
              case Some(e) => failures.put(s"$q@$label", s"digest $got, expected $e")
              case None => failures.put(s"$q@$label", s"no expected digest (got $got)")
            }
          } catch {
            case e: Throwable =>
              failures.put(s"$q@$label", s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      })
    }.foreach(_.get())
    pool.shutdown()
  }

  private def parquetDigest(spark: SparkSession, path: String): Digest.Result = {
    val back = spark.read.parquet(path)
    Digest.ofRows(back.columns.toSeq, back.collect().iterator)
  }

  /** The set-up visit: warms JIT and codegen, learns which queries
    * register shared stages and which tables each reads, and checks every
    * result. Queries are constructed one by one (so each stage is credited
    * to the query that registered it), then run on one thread per core.
    * A method of its own so that none of its DataFrames outlive it. */
  private def setupVisit(spark: SparkSession, w: Workload,
      construct: String => DataFrame, materialize: (String, DataFrame) => Unit,
      exportDir: String, want: Map[String, Digest.Result],
      failures: java.util.Map[String, String]): (Seq[String], Seq[String]) = {
    val registrants = mutable.LinkedHashSet.empty[String]
    val tablesRead = mutable.LinkedHashSet.empty[String]
    val constructed = w.queries.flatMap { q =>
      val stagesBefore = PipelineQueries.stageCallCounts().keySet
      try {
        val df = construct(q)
        if ((PipelineQueries.stageCallCounts().keySet -- stagesBefore).nonEmpty)
          registrants += q
        df.inputFiles.foreach(f =>
          tablesRead += f.split('/').last.stripSuffix(".parquet"))
        Some(q -> df)
      } catch {
        case e: Throwable =>
          failures.put(s"$q@setup", s"construct: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }
    check(constructed.map { case (q, df) =>
      q -> { () =>
        if (w.export) {
          materialize(q, df)
          parquetDigest(spark, s"$exportDir/$q")
        } else Digest.of(df)
      }
    }, want, "setup", failures)
    (registrants.toSeq, tablesRead.toSeq)
  }

  def run(opts: Map[String, String]): Unit = {
    val loadStart = loadAvg()
    val w = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val dataDir = opts("data")
    val workDir = Paths.get(opts("work"))
    val exportDir = workDir.resolve("export").toString
    val want = expected(opts("expected"))

    val (spark, sessionS) = timed(Sessions.local("graft-perfbench"))
    val sc = spark.sparkContext
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    def construct(q: String): DataFrame = SparkEntry.queries(q)(spark, dataDir)
    def materialize(q: String, df: DataFrame): Unit =
      if (w.export) df.coalesce(1).write.mode("overwrite").parquet(s"$exportDir/$q")
      else df.write.format("noop").mode("overwrite").save()

    var attempted = w.queries.size.toLong
    val failures = new java.util.concurrent.ConcurrentSkipListMap[String, String]
    val (registrants, tablesRead) =
      setupVisit(spark, w, construct, materialize, exportDir, want, failures)
    val compilesSetup = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMsSetup = {
      val snap = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot
      if (compilesSetup <= snap.size) snap.getValues.sum.toDouble
      else snap.getMean * compilesSetup
    }
    // Tables layer, traced run only: one timed load per table the
    // workload reads (outside the passes, so it does not touch wall_s).
    val tablesLoadS =
      if (!trace) 0.0
      else tablesRead.map(t => timed(Tables.load(spark, dataDir, t).schema)._2).sum

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // Live heap once every query has run and the stages are cached. Read
    // here, not after the passes: what a pass leaves behind depends on the
    // seed's visit order (two levels 35 MB apart on relational_export).
    val setupHeapMb = liveHeapMb(sc)

    // Timed passes.
    val tracer = new Tracer(if (trace) sc else null)
    val plain = new Tracer(null)
    final case class Pass(wall: Double, traced: Boolean, root: Span,
        tr: Tracer, stagesBuilt: Int, hitRatio: Double, cachedMb: Double,
        gcS: Double)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val latencies = mutable.ArrayBuffer.empty[(String, Double)]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val tLoop = System.nanoTime()
    def elapsed = (System.nanoTime() - tLoop) / 1e9
    // A traced run alternates untraced and traced passes and ends on an
    // untraced one, so each traced pass has an untraced pass on both sides.
    val minPasses = if (trace) MinPasses + 1 else MinPasses
    while (passes.length < minPasses || elapsed < seconds ||
        (trace && passes.length % 2 == 0)) {
      val pass = passes.length
      val traced = trace && pass % 2 == 1
      val tr = if (traced) tracer else plain
      PipelineQueries.clearStages()
      System.gc()
      if (traced) tr.attach()
      val gc0 = gcSeconds()
      var stagesBuilt = 0
      var cachedMb = 0.0
      tr.span(s"pass$pass", "workload") {
        tr.span("stage_phase", "PipelineQueries") {
          registrants.foreach(q => tr.span(s"register:$q", "PipelineQueries")(
            scala.util.Try(construct(q))))
          tr.span("materialize", "PipelineQueries") {
            var at = System.nanoTime()
            PipelineQueries.materializeStagesTimed().foreach { case (k, s) =>
              stagesBuilt += 1
              at = tr.record(s"stage:$k", "PipelineQueries", at, s.max(0.0))
            }
          }
        }
        if (traced) cachedMb = tr.span("storage_info", "trace")(
          sc.getRDDStorageInfo.map(_.memSize).sum / 1e6)
        order(w.queries, seed, pass).foreach { q =>
          attempted += 1
          val t0 = System.nanoTime()
          tr.span(s"query:$q", "queries") {
            try {
              val df = tr.span("construct", "queries")(construct(q))
              tr.span("plan", "plan")(df.queryExecution.executedPlan)
              if (w.export) tr.span("write", "Verify")(materialize(q, df))
              else tr.span("exec", "exec")(materialize(q, df))
            } catch {
              case e: Throwable =>
                failures.put(s"$q@pass$pass", s"${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          }
          latencies += q -> (System.nanoTime() - t0) / 1e9
        }
      }
      val gcS = gcSeconds() - gc0
      val calls = PipelineQueries.stageCallCounts().values
      val hitRatio =
        if (calls.isEmpty) 0.0 else calls.map(_ - 1).sum.toDouble / calls.sum
      if (traced) tr.detach()
      val root = tr.spans.filter(_.name == s"pass$pass").last
      heapMb += liveHeapMb(sc)
      passes += Pass(root.seconds, traced, root, tr, stagesBuilt, hitRatio,
        cachedMb, gcS)
    }

    // Untimed: check the results of the path the timed passes took, which
    // the set-up visit does not (stages rebuilt by materializeStagesTimed
    // after clearStages, queries constructed one at a time). The export
    // workload's parquet is what the last pass wrote; the other workload's
    // queries are constructed and digested once more against the stages
    // the last pass built.
    attempted += w.queries.size
    check(w.queries.flatMap { q =>
      if (w.export) Some(q -> (() => parquetDigest(spark, s"$exportDir/$q")))
      else try {
        val df = construct(q)
        Some(q -> (() => Digest.of(df)))
      } catch {
        case e: Throwable =>
          failures.put(s"$q@final", s"construct: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }, want, "final", failures)
    PipelineQueries.clearStages()

    val untraced = passes.filterNot(_.traced)
    // The fastest of the first MinPasses untraced passes: host contention
    // and the JIT's warming only ever slow a pass down, so the minimum is
    // the steadiest reading of the workload's own cost. A fixed sample
    // count keeps a faster commit, which fits more passes into --seconds,
    // from getting a minimum over more samples.
    val wall = untraced.take(MinPasses).map(_.wall).min
    val (tailPct, tailN) = Workloads.tailPercentile(w, MinPasses)
    val sortedLat = latencies.map(_._2).sorted
    def pct(p: Double) = sortedLat(((p / 100) * (sortedLat.length - 1)).round.toInt)
    val e2e: Seq[(String, String, Double)] = Seq(
      ("setup_s", "s", setupS),
      ("wall_s", "s", wall),
      ("query_p50_s", "s", median(sortedLat.toSeq)),
      ("live_heap_mb", "MB", setupHeapMb))
    // Tracing overhead: each traced pass against the mean of the untraced
    // passes on either side of it, so the warming trend cancels.
    val overhead = median(passes.indices.filter(i => passes(i).traced).map { i =>
      passes(i).wall / ((passes(i - 1).wall + passes(i + 1).wall) / 2) - 1
    })
    val layers = if (trace) Layers.metrics(passes.filter(_.traced).map(p =>
      Layers.PassTrace(p.tr, p.root, p.stagesBuilt, p.hitRatio, p.cachedMb, p.gcS)).toSeq,
      cores = Runtime.getRuntime.availableProcessors,
      overhead = overhead, sessionS = sessionS, tablesLoadS = tablesLoadS,
      compiles = compilesSetup.toDouble, compileMs = compileMsSetup)
      else Seq.empty
    layers.collectFirst { case ("trace.unattributed_frac", _, v) => v }
      .filter(_ > Layers.UnattributedBound)
      .foreach(v => failures.put("trace", s"layer self times leave $v of the pass " +
        s"unattributed, above ${Layers.UnattributedBound}"))
    val failed = failures.size.toLong
    val result =
      ("correct" -> (failed == 0)) ~
        ("attempted" -> attempted) ~
        ("failed" -> failed) ~
        ("metrics" -> metricsJson(if (trace) layers else e2e))

    Files.createDirectories(workDir)
    val tag = s"${w.name}-seed$seed-trace${if (trace) 1 else 0}"
    val artifact =
      ("header" -> header(spark, opts, loadStart)) ~
        ("workload" -> w.name) ~ ("seed" -> seed) ~
        ("seconds" -> seconds) ~ ("trace" -> trace) ~
        ("passes" -> passes.length) ~
        ("pass_wall_s" -> passes.map(_.wall).toList) ~
        ("setup_heap_mb" -> setupHeapMb) ~
        ("pass_heap_mb" -> heapMb.toList) ~
        ("pass_traced" -> passes.map(_.traced).toList) ~
        ("query_samples" -> latencies.length) ~
        ("query_tail_s" -> pct(tailPct)) ~
        ("query_tail_percentile" -> tailPct) ~
        ("query_tail_min_samples" -> tailN) ~
        ("query_latency_s" -> JObject(latencies.groupBy(_._1).toList.sortBy(_._1)
          .map { case (q, xs) => q -> JArray(xs.map(x => JDouble(x._2)).toList) })) ~
        ("failed_frac" -> failed.toDouble / attempted) ~
        ("failures" -> JObject(failures.asScala.toList.map { case (k, v) => k -> JString(v) })) ~
        ("end_to_end" -> metricsJson(e2e)) ~
        ("per_layer" -> metricsJson(layers))
    Files.writeString(workDir.resolve(s"$tag.json"), compact(render(artifact)) + "\n")
    if (trace) Files.writeString(workDir.resolve(s"$tag.spans.jsonl"),
      passes.filter(_.traced).flatMap(p => p.tr.subtree(p.root))
        .map(s => Layers.spanJson(tracer, s)).mkString("\n") + "\n")
    failures.asScala.foreach { case (q, m) => System.err.println(s"[perfbench] FAILED $q: $m") }
    spark.stop()
    println(compact(render(result)))
  }

  /** Writes every workload query's result as parquet, its digest as a
    * `digests.tsv` line and its DuckDB oracle SQL, for `oracle.py` to
    * cross-check. */
  def dump(opts: Map[String, String]): Unit = {
    val dataDir = opts("data")
    val out = Paths.get(opts("out"))
    val spark = Sessions.local("graft-perfbench-dump")
    val names = Workloads.all.flatMap(_.queries).distinct.sorted
    val lines = names.map { q =>
      val df = SparkEntry.queries(q)(spark, dataDir)
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      val d = Digest.of(df)
      s"$q\t${d.rows}\t${d.hash}"
    }
    Files.createDirectories(out)
    Files.writeString(out.resolve("digests.tsv"), lines.mkString("", "\n", "\n"))
    Files.writeString(out.resolve("oracle_sql.json"),
      compact(render(JObject(names.flatMap(q =>
        SparkEntry.oracleSql.get(q).map(q -> JString(_))).toList))))
    spark.stop()
  }
}
