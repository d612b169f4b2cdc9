package perfbench

import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Per-layer metrics of a traced run, averaged over its traced passes.
  * Every pass is one span tree: pass → stage_phase → (register:q,
  * materialize → stage:k) and pass → query:q → (construct, plan, exec or
  * write). The layer a span names gets the span's self time, so the layer
  * totals add up to the pass wall time; what no layer span covers is the
  * pass's own self time, reported as `trace.unattributed_frac`. */
object Layers {
  /** Largest share of a traced pass that may fall outside every layer;
    * a traced run above it reports itself incorrect. */
  val UnattributedBound = 0.02

  final case class PassTrace(tr: Tracer, root: Span, stagesBuilt: Int,
      hitRatio: Double, cachedMb: Double, gcS: Double)

  def metrics(traces: Seq[PassTrace], cores: Int, overhead: Double,
      sessionS: Double, tablesLoadS: Double, compiles: Double,
      compileMs: Double): Seq[(String, String, Double)] = {
    val n = traces.size.toDouble
    def perPass(f: PassTrace => Double): Double = traces.map(f).sum / n
    def spans(p: PassTrace, names: String*): Seq[Span] =
      p.tr.subtree(p.root).filter(s => names.contains(s.name))
    def secs(names: String*): Double = perPass(p => spans(p, names: _*).map(_.seconds).sum)
    def work(names: String*)(f: Work => Long): Double =
      perPass(p => spans(p, names: _*).map(s => f(s.work)).sum.toDouble)
    def all(f: Work => Long): Double =
      perPass(p => p.tr.subtree(p.root).map(s => f(s.work)).sum.toDouble)
    val mb = 1e6
    val execS = secs("exec", "write")
    val taskS = work("exec", "write")(_.taskMs) / 1e3
    val tracedWall = Main.median(traces.map(_.root.seconds))
    Seq(
      ("Sessions.start_s", "s", sessionS),
      ("Tables.load_s", "s", tablesLoadS),
      ("Tables.input_mb", "MB", all(_.inputBytes) / mb),
      ("queries.construct_s", "s", secs("construct")),
      ("queries.construct_jobs", "count", work("construct")(_.jobs)),
      ("plan.s", "s", secs("plan")),
      ("exec.s", "s", execS),
      ("exec.jobs", "count", work("exec", "write")(_.jobs)),
      ("exec.tasks", "count", work("exec", "write")(_.tasks)),
      ("exec.task_s", "s", taskS),
      ("exec.parallel_eff", "ratio", if (execS > 0) taskS / (execS * cores) else 0.0),
      ("exec.shuffle_write_mb", "MB", work("exec", "write")(_.shuffleWriteBytes) / mb),
      ("exec.shuffle_read_mb", "MB", work("exec", "write")(_.shuffleReadBytes) / mb),
      ("exec.spill_mb", "MB", all(_.spillBytes) / mb),
      ("exec.gc_s", "s", perPass(_.gcS)),
      ("exec.task_failures", "count", all(_.taskFailures)),
      ("codegen.compiles", "count", compiles),
      ("codegen.compile_ms", "ms", compileMs),
      ("PipelineQueries.stage_build_s", "s", secs("stage_phase")),
      ("PipelineQueries.stage_jobs", "count",
        perPass(p => p.tr.subtree(p.tr.children(p.root.id).head).map(_.work.jobs).sum.toDouble)),
      ("PipelineQueries.stages_built", "count", perPass(_.stagesBuilt.toDouble)),
      ("PipelineQueries.hit_ratio", "ratio", perPass(_.hitRatio)),
      ("PipelineQueries.cached_mb", "MB", perPass(_.cachedMb)),
      ("Verify.write_s", "s", secs("write")),
      ("Verify.output_mb", "MB", work("write")(_.outputBytes) / mb),
      ("trace.wall_s", "s", tracedWall),
      ("trace.overhead_frac", "ratio", overhead),
      ("trace.unattributed_frac", "ratio",
        perPass(p => p.tr.selfSeconds(p.root)) / perPass(_.root.seconds)),
      ("trace.ungrouped_jobs", "count", traces.head.tr.ungroupedJobs.toDouble / n))
  }

  def spanJson(tr: Tracer, s: Span): String = compact(render(
    ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~ ("layer" -> s.layer) ~
      ("start_s" -> s.startNs / 1e9) ~ ("dur_s" -> s.seconds) ~
      ("self_s" -> tr.selfSeconds(s)) ~
      ("jobs" -> s.work.jobs) ~ ("tasks" -> s.work.tasks) ~
      ("task_s" -> s.work.taskMs / 1e3) ~
      ("input_bytes" -> s.work.inputBytes) ~ ("output_bytes" -> s.work.outputBytes) ~
      ("shuffle_write_bytes" -> s.work.shuffleWriteBytes) ~
      ("shuffle_read_bytes" -> s.work.shuffleReadBytes) ~
      ("spill_bytes" -> s.work.spillBytes) ~ ("task_failures" -> s.work.taskFailures)))
}
