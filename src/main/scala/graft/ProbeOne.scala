package graft

/** Times named queries, one visit each:
  * `sbt "runMain graft.ProbeOne <sfDir> <query>..."`. Stages are dropped
  * before every visit, so each visit pays for the stages it rides; naming
  * a query N times gives N stage-cold passes. */
object ProbeOne {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("probe-one")
    args.drop(1).foreach { q =>
      Bench.dropStages()
      Bench.timeCount(spark, args(0), q).foreach { case (rows, sec) =>
        println(f"[probeone] $q rows=$rows sec=$sec%.3f")
      }
    }
    spark.stop()
  }
}
