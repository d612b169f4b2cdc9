package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StructType}

/** `Tables.load`'s schema memo: a repeated load infers nothing, the memo
  * agrees with a fresh inference on every testdata table, a rewritten
  * table is inferred again, and a missing table names its path. */
class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

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
