package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, StructType}

/** `Tables.load`'s schema memo: a repeated load infers nothing, the memo
  * agrees with a fresh inference on every testdata table, a rewritten
  * table is inferred again, and a missing table names its path. */
class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, counted under a job group of
    * their own. A fence job in a second group is awaited afterwards: the
    * listener bus delivers events in order, so once the fence's start is
    * seen every job of `body` has been seen too. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val fence = s"$group-fence"
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "TablesSpec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "TablesSpec fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(fence) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(fence), "the fence job was never seen")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  private def tempDir(): String =
    Files.createTempDirectory("graft-tables").toString

  test("a second load of the same table starts no Spark job") {
    val tmp = tempDir()
    spark.range(5).selectExpr("id AS k").write.parquet(s"$tmp/t.parquet")
    assert(jobsDuring(Tables.load(spark, tmp, "t")) > 0,
      "the first load infers the schema in a job")
    assert(jobsDuring(Tables.load(spark, tmp, "t")) === 0)
    assert(Tables.load(spark, tmp, "t").count() === 5L)
  }

  test("the memoized schema of every testdata table equals a fresh inference") {
    Tables.names.foreach { n =>
      val path = s"$dir/$n.parquet"
      val fresh = spark.read.parquet(path).schema
      Tables.load(spark, dir, n)
      assert(Tables.schemaOf(spark, path) === fresh, n)
      val loaded = Tables.load(spark, dir, n).schema
      val expected =
        if (n == "events")
          StructType(fresh.map(f => if (f.name == "ts") f.copy(dataType = LongType) else f))
        else fresh
      assert(loaded === expected, n)
    }
    assert(Tables.load(spark, dir, "events").schema("ts").dataType === LongType,
      "events.ts is epoch-nanos LongType")
  }

  test("a table rewritten at the same path with another schema is inferred again") {
    val tmp = tempDir()
    val path = s"$tmp/t.parquet"
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert(Tables.load(spark, tmp, "t").schema.fieldNames.toSeq === Seq("a"))
    spark.range(4).selectExpr("id AS a", "cast(id AS string) AS b")
      .write.mode("overwrite").parquet(path)
    val df = Tables.load(spark, tmp, "t")
    assert(df.schema.fieldNames.toSeq === Seq("a", "b"))
    assert(df.where("b = '3'").count() === 1L)
  }

  test("loading a missing table fails with an error naming its path") {
    val tmp = tempDir()
    val e = intercept[Exception](Tables.load(spark, tmp, "absent"))
    assert(e.getMessage.contains(s"$tmp/absent.parquet"), e.getMessage)
  }
}
