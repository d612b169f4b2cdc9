package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry}

/** The benchmark's own test. It shows that the timed action evaluates every
  * output column and the final ORDER BY, on a query whose `count()` skips
  * most of its work, and that the result digest ignores row order but not a
  * changed value. Prints one line per check; true when all pass. */
object SelfTest {
  private val checks = ArrayBuffer.empty[Boolean]

  private def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ok
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (detail.isEmpty) "" else s" ($detail)"}")
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case o => o.children.flatMap(nodes)
  })

  private def globalSorts(p: SparkPlan): Seq[SortExec] =
    nodes(p).collect { case s: SortExec if s.global => s }

  def digestChecks(): Unit = {
    val cols = Seq("id", "name", "x")
    val rows = (0 until 50).map(i => Row(i.toLong, s"name$i", i * 0.1))
    val base = Digest.ofRows(cols, rows.iterator)
    check("digest ignores row order",
      Digest.ofRows(cols, rows.reverse.iterator) == base &&
        Digest.ofRows(cols, new scala.util.Random(7).shuffle(rows).iterator) == base)
    check("digest changes when one value changes",
      Digest.ofRows(cols, rows.updated(17, Row(17L, "name17", 1.7001)).iterator) != base)
    check("digest changes when one string changes",
      Digest.ofRows(cols, rows.updated(3, Row(3L, "name3 ", 0.3)).iterator) != base)
    check("digest counts duplicate rows",
      Digest.ofRows(cols, (rows :+ rows.head).iterator).rows == base.rows + 1)
    check("digest ignores summation-order noise in doubles",
      Digest.ofRows(Seq("x"), Iterator(Row(0.1 + 0.2))) ==
        Digest.ofRows(Seq("x"), Iterator(Row(0.3))))
  }

  def run(data: String): Boolean = {
    digestChecks()
    val spark = Sessions.local("graft-perfbench-selftest")
    val plans = ArrayBuffer.empty[SparkPlan]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val q = "q106_embedding_quant"
    def df = SparkEntry.queries(q)(spark, data)
    def timedMedian(body: => Unit): Double = {
      body
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    }
    val countS = timedMedian(df.count())
    val noopS = timedMedian(df.write.format("noop").mode("overwrite").save())
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    plans.clear()
    val cols = df.columns.toSeq
    df.count()
    df.write.format("noop").mode("overwrite").save()
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val Seq(countPlan, writePlan) = plans.synchronized(plans.toSeq)
    check(s"$q: count() drops the final ORDER BY", globalSorts(countPlan).isEmpty)
    val sorts = globalSorts(writePlan)
    check(s"$q: the timed noop write keeps the final ORDER BY", sorts.nonEmpty)
    check(s"$q: the timed noop write evaluates every output column",
      sorts.headOption.exists(_.output.map(_.name) == cols),
      s"${cols.size} columns")
    check(s"$q: materializing costs more than counting", noopS > countS,
      f"count $countS%.3f s, noop write $noopS%.3f s")
    spark.stop()
    println(s"selftest: ${checks.count(identity)}/${checks.size} passed")
    checks.forall(identity)
  }
}
