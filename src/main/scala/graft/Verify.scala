package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(SessionConfs.cpusFromEnv(4))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_QUERIES=a,b,c → dump only that subset (iteration aid;
    // tools/check.py compares whatever dump dirs exist)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter(kv => only.forall(_(kv._1))).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def obj(m: Map[String, String]) = m
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    // SQL-expressible benchOnly twins: timed (never hash-compared) by
    // tools/bench_oracle.py so headline substitutions stay paired
    Files.writeString(Paths.get(s"$outDir/variant_sql.json"),
      obj(SparkEntry.benchOnlySql))
    spark.stop()
  }
}
