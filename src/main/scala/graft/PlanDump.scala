package graft

/** Writes the full `explain("formatted")` text of the named queries to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence of an
  * optimization, written on demand rather than kept in the repository.
  *
  * args: <sfDir> <outDir> <suffix> <queryName>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("plan-dump")
    val (dir, out, suffix) = (args(0), args(1), args(2))
    new java.io.File(out).mkdirs()
    args.drop(3).foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$out/${q}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $out/${q}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $q FAILED: $e")
      }
    }
    spark.stop()
  }
}
