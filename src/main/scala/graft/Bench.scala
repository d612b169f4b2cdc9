package graft

import graft.queries.PipelineQueries
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Benchmark entry point: every `SparkEntry.queries` entry at
  * `SPARK_GRAFT_SF_DIR`, timed to `count()`. Emits a two-line JSON report
  * (the full per-query maps with median AND min, then the summary line
  * whose scalars sit last) after EVERY completed warm pass, and once more
  * after `spark.stop()` as the final words of the program: a reader of
  * stdout takes the last report printed, so a run cut short mid-pass still
  * carries every pass that completed. All emissions go through the pure
  * [[Bench.buildReport]], so the interim and final JSON are identical for
  * identical state (`BenchReportSpec`). Failures are never folded into
  * timings: a failed query reports `-1` in `queries` and its message in
  * `errors` (stack traces to stderr).
  *
  * A cold pass runs every query once (JVM/codegen warm-up), then
  * [[WarmPasses]] timed warm passes; the report carries the per-query
  * MEDIAN and MIN. The min is the contention-immune statistic for a
  * deterministic workload: a noisy window can only raise a pass's time, so
  * a single clean pass sets it. Each warm pass visits the queries in an
  * order rotated by 1/WarmPasses of the surface, so a noisy window lands
  * on different queries in different passes.
  *
  * Persisted pipeline stages are dropped before every pass and rebuilt as
  * their own timed phase ([[stagePhase]]), so per-query numbers are
  * marginal costs with stages warm and the totals reconcile exactly:
  * value = stage_build_sec + Σ median marginals, min_total_sec =
  * stage_build_min_sec + Σ min marginals.
  *
  * A pass whose end-of-pass 1-min load average exceeds [[LoadGate]] ran in
  * a contended window: it is discarded and re-run, at most [[MaxRetries]]
  * times so a permanently loaded host still terminates. [[DeadlineSec]]
  * bounds the whole run: before another pass or retry, elapsed + the
  * fastest observed pass must fit, else the run finalizes with the passes
  * in hand (`deadline_hit`; one completed warm pass is a valid report). A
  * contended pass is kept when the deadline leaves no room to replace it —
  * a noisy number beats a lost one, and `pass_load` exposes it.
  */
object Bench {

  private val WarmPasses = 5
  /** Above the bench's own steady-state load (clean windows measured
    * 1.6–3.3) and below the contended runs it exists to shed (4.4+). */
  private val LoadGate = 4.0
  private val MaxRetries = 2
  private val DeadlineSec = 2400.0

  /** Median of the non-negative (successful) observations; -1 if none. */
  private def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else if (ok.length % 2 == 1) ok(ok.length / 2)
    else (ok(ok.length / 2 - 1) + ok(ok.length / 2)) / 2.0
  }

  /** Fastest successful observation; -1 if none. */
  private[graft] def minOk(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** A JSON number rounded to `scale` decimals (the report's precision). */
  private[graft] def num(v: Double, scale: Int): JValue =
    JDecimal(BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP))

  /** Drops every persisted stage, then collects garbage: the iterative
    * operators' localCheckpoint blocks are freed by the ContextCleaner
    * only after GC. */
  def dropStages(): Unit = {
    PipelineQueries.clearStages()
    System.gc()
  }

  /** The stage phase: drop all stages, construct `queries` (which
    * registers the stages they ride) and force each registered stage
    * under its own clock, in registration order — which is topological, so
    * a stage's time is its own build with its dependencies already warm.
    * The phase clock starts BEFORE construction because constructors are
    * not action-free (eager Lloyd/checkpoint loops run jobs). Returns the
    * phase seconds, the per-stage seconds, and the queries that registered
    * at least one stage. */
  def stagePhase(spark: SparkSession, dir: String, queries: Seq[String])
      : (Double, Seq[(String, Double)], Seq[String]) = {
    dropStages()
    val t0 = System.nanoTime()
    val registrants = queries.filter { n =>
      val before = PipelineQueries.stages.size
      try SparkEntry.queries(n)(spark, dir)
      catch { case _: Throwable => () }
      PipelineQueries.stages.size > before
    }
    val perStage = PipelineQueries.materializeStagesTimed()
    ((System.nanoTime() - t0) / 1e9, perStage, registrants)
  }

  /** One timed visit: construct `name` at `dir` and `count()` it, with
    * construction under the clock. Returns (rows, seconds); a failure goes
    * to stderr with its stack trace and comes back as Left. */
  def timeCount(spark: SparkSession, dir: String, name: String)
      : Either[Throwable, (Long, Double)] = {
    val t0 = System.nanoTime()
    try {
      val rows = SparkEntry.queries(name)(spark, dir).count()
      Right((rows, (System.nanoTime() - t0) / 1e9))
    } catch { case e: Throwable =>
      System.err.println(s"[graft] $name @ $dir failed:")
      e.printStackTrace(System.err)
      Left(e)
    }
  }

  /** Everything the report is computed from — a snapshot of the run's
    * mutable state, taken after each completed warm pass and once more at
    * the very end. */
  final case class BenchState(
      names: Seq[String],
      passes: Seq[Map[String, Double]],
      stageSecs: Seq[Double],
      stagePass: Seq[Seq[(String, Double)]],
      consumers: Map[String, Long],
      errors: Seq[(String, String)],
      passLoads: Seq[Double],
      retriedSecs: Seq[Double],
      retriedLoads: Seq[Double],
      coldTotal: Double,
      deadlineHit: Boolean,
      sfDir: String,
      startEpoch: Long,
      endEpoch: Long)

  /** Build the two JSON report lines from a state snapshot. Pure — no
    * clock, no env, no filesystem — so a spec can pin it without Spark. */
  def buildReport(s: BenchState): (String, String) = {
    val names = s.names
    // per-pass totals (stage phase + that pass's query marginals)
    val passTotals = s.passes.zipWithIndex.map { case (m, i) =>
      s.stageSecs(i) + m.values.filter(_ >= 0).sum
    }
    val med = names.map(n => n -> median(s.passes.map(_(n))))
    val mins = names.map(n => n -> minOk(s.passes.map(_(n)))).toMap
    def obj(kvs: Seq[(String, JValue)]) = JObject(kvs.toList)
    def arr(xs: Seq[Double], scale: Int) = JArray(xs.map(num(_, scale)).toList)
    def consumers(k: String) = JInt(BigInt(s.consumers.getOrElse(k, 0L)))
    // A query that failed one pass but has a positive median recovered — its
    // timing is real; only persistent failures (median -1) surface as errors,
    // so the JSON never reports an error and a success for the same query.
    val persistent = med.collect { case (n, v) if v < 0 => n }.toSet
    val errors = obj(s.errors.collect {
      case (k, v) if persistent(k) => k -> JString(v)
    })
    val stageMed = median(s.stageSecs)
    val stageMin = minOk(s.stageSecs)
    // per-stage median/min across passes, in registration order; the gap
    // between stage_build_sec and the per-stage sum is the construction
    // of the stage-registering queries
    val stageKeys = s.stagePass.headOption.map(_.map(_._1)).getOrElse(Seq())
    val byStage = stageKeys.map { k =>
      val xs = s.stagePass.map(_.toMap.getOrElse(k, -1.0))
      (k, median(xs), minOk(xs))
    }
    val total = med.collect { case (_, v) if v >= 0 => v }.sum + stageMed
    val minTotal = mins.values.filter(_ >= 0).sum + stageMin
    // both lines end with the same summary scalars, so each parses alone
    // with the totals at its tail
    val summary = ("warm_passes" -> WarmPasses) ~ ("sf" -> s.sfDir)
    val totals = ("cold_total_sec" -> num(s.coldTotal, 3)) ~
      ("stage_build_sec" -> num(stageMed, 3)) ~
      ("stage_build_min_sec" -> num(stageMin, 3)) ~
      ("min_total_sec" -> num(minTotal, 3)) ~
      ("metric" -> "total") ~ ("unit" -> "sec") ~ ("value" -> total)
    val line1 =
      ("queries" -> obj(med.map { case (k, v) => k -> num(v, 3) })) ~
        ("queries_min" -> obj(med.map { case (k, _) => k -> num(mins(k), 3) })) ~
        ("errors" -> errors) ~
        ("stage_sec" -> obj(byStage.map { case (k, m, _) => k -> num(m, 3) })) ~
        ("stage_min_sec" -> obj(byStage.map { case (k, _, mn) => k -> num(mn, 3) })) ~
        ("stage_consumers" ->
          obj(stageKeys.map(k => k -> consumers(k)))) ~
        summary ~ totals
    // line 2: the 10 slowest queries by median as [min, median], the 5 most
    // expensive stages as [min, median, consumers], the per-pass totals
    // and loads (did the min come from a clean pass?), the discarded
    // passes, the deadline state and the run's epoch window
    val slowest = med.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => k -> arr(Seq(mins(k), v), 2) }
    val slowStages = byStage.sortBy(-_._2).take(5).map { case (k, m, mn) =>
      k -> JArray(List(num(mn, 2), num(m, 2), consumers(k)))
    }
    val line2 = ("slowest" -> obj(slowest)) ~
      ("slowest_stages" -> obj(slowStages)) ~ ("errors" -> errors) ~
      ("pass_sec" -> arr(passTotals, 1)) ~ ("pass_load" -> arr(s.passLoads, 1)) ~
      ("retried_sec" -> arr(s.retriedSecs, 1)) ~
      ("retried_load" -> arr(s.retriedLoads, 1)) ~
      ("load_gate" -> LoadGate) ~ ("passes_done" -> s.passes.length) ~
      ("deadline_sec" -> num(DeadlineSec, 0)) ~
      ("deadline_hit" -> s.deadlineHit) ~
      ("win" -> List(s.startEpoch, s.endEpoch)) ~
      summary ~ ("n_queries" -> names.size) ~ totals
    (compact(render(line1)), compact(render(line2)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    val tProg = System.nanoTime()
    def elapsedSec = (System.nanoTime() - tProg) / 1e9

    val names = SparkEntry.queries.keys.toSeq.sorted
    val tCold = System.nanoTime()
    names.foreach(timeCount(spark, sfDir, _))
    val coldTotal = (System.nanoTime() - tCold) / 1e9

    val errors = mutable.LinkedHashMap.empty[String, String]
    val stageSecs = mutable.Buffer.empty[Double]
    val passLoads = mutable.Buffer.empty[Double]
    val benchStartEpoch = System.currentTimeMillis() / 1000L
    val stagePass = mutable.Buffer.empty[Seq[(String, Double)]]
    // The first executed pass constructs ALL plans and records which
    // queries register stages; later passes re-construct only those, so
    // eager non-stage constructors run once per timed visit, not once
    // extra per pass.
    var registrants = Option.empty[Seq[String]]
    var consumers = Map.empty[String, Long]
    // wall time of every EXECUTED pass, kept or discarded — its min is
    // the estimate for "can one more pass fit before the deadline"
    val passWalls = mutable.Buffer.empty[Double]
    def passEstimate =
      if (passWalls.isEmpty) coldTotal else passWalls.min
    var deadlineHit = false
    val retriedSecs = mutable.Buffer.empty[Double]
    val retriedLoads = mutable.Buffer.empty[Double]
    val passesBuf = mutable.Buffer.empty[Map[String, Double]]
    def emitReport(): Unit = {
      val (l1, l2) = buildReport(BenchState(
        names = names,
        passes = passesBuf.toSeq,
        stageSecs = stageSecs.toSeq,
        stagePass = stagePass.toSeq,
        consumers = consumers,
        errors = errors.toSeq,
        passLoads = passLoads.toSeq,
        retriedSecs = retriedSecs.toSeq,
        retriedLoads = retriedLoads.toSeq,
        coldTotal = coldTotal,
        deadlineHit = deadlineHit,
        sfDir = sfDir,
        startEpoch = benchStartEpoch,
        endEpoch = System.currentTimeMillis() / 1000L))
      println(l1); println(l2)
      System.out.flush()
    }
    while (passesBuf.length < WarmPasses && !deadlineHit) {
      // the first pass always runs — one completed warm pass is the
      // minimum valid report
      if (passesBuf.nonEmpty && elapsedSec + passEstimate > DeadlineSec) {
        deadlineHit = true
        System.err.println(
          f"[bench] deadline: elapsed $elapsedSec%.0fs + est " +
            f"$passEstimate%.0fs > $DeadlineSec%.0fs — finalizing with " +
            s"${passesBuf.length} passes")
      } else {
        val pass = passesBuf.length
        val (stageSec, perStage, registered) =
          stagePhase(spark, sfDir, registrants.getOrElse(names))
        val callsAfterReg = PipelineQueries.stageCallCounts()
        val off = (pass * names.length) / WarmPasses
        val rotated = names.drop(off) ++ names.take(off)
        val timed = rotated.map { name =>
          name -> timeCount(spark, sfDir, name).fold(
            e => {
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .linesIterator.take(1).mkString
              -1.0
            },
            _._2)
        }.toMap
        // consumer counts: stage() calls during the TIMED loop only (the
        // stage phase's own calls subtracted) — one call per consuming
        // query construction
        if (registrants.isEmpty) {
          registrants = Some(registered)
          consumers = PipelineQueries.stageCallCounts()
            .map { case (k, n) => k -> (n - callsAfterReg.getOrElse(k, 0L)) }
        }
        val passWall = stageSec + timed.values.filter(_ >= 0).sum
        passWalls += passWall
        val load = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        val canReplace =
          elapsedSec + passEstimate <= DeadlineSec && retriedSecs.length < MaxRetries
        if (load > LoadGate && canReplace) {
          retriedSecs += passWall
          retriedLoads += load
          System.err.println(
            f"[bench] pass $pass discarded: load $load%.1f > gate " +
              f"$LoadGate%.1f (retry ${retriedSecs.length}/$MaxRetries)")
        } else {
          stagePass += perStage
          stageSecs += stageSec
          passLoads += load
          passesBuf += timed
          emitReport()
        }
      }
    }
    spark.stop()
    // final emission after spark.stop() so no executor/log line can
    // follow it
    emitReport()
  }
}
