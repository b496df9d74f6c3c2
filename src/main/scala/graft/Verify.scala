package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only the named queries (dev iteration;
    // the driver always passes exactly two args = full run)
    val only = args.drop(2).toSet
    val spark = GraftSession.getOrCreate(GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes quotes, backslashes and every control character:
    // a tab or CR in builder-authored SQL must not make the driver's
    // json.load fail and silently zero the round's correctness
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.mapper.writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
