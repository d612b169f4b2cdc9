package graft
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only — the driver passes 2): run
    // just the queries whose name contains one of the comma-separated
    // substrings
    val keep: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(',').toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val json = compact(render(JObject(SparkEntry.oracleSql.toList.map {
      case (k, v) => k -> JString(v)
    })))
    // oracle_sql.json is written FIRST (pure metadata, zero compute): the
    // DuckDB oracle compare keys on this file, so a run killed mid-loop
    // still grades every query whose parquet landed.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
