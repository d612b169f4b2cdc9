package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Base for all suites: one shared local SparkSession per JVM (sbt forks a
  * single test JVM; suites share it to keep `sbt test` fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlImplicits = spark.implicits

  /** Spark jobs started while `body` runs, counted under a job group of
    * their own. A fence job in a second group is awaited afterwards: the
    * listener bus delivers events in order, so once the fence's start is
    * seen every job of `body` has been seen too. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"${getClass.getSimpleName}-${System.nanoTime()}"
    val fence = s"$group-fence"
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, getClass.getSimpleName)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, s"${getClass.getSimpleName} fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(fence) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(fence), "the fence job was never seen")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local("graft-test")
}
