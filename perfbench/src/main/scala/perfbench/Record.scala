package perfbench

import org.apache.spark.sql.SparkSession

/** Writes expected.json from a `graft.Verify` dump whose queries
  * `tools/check.py` has matched against the DuckDB oracle on the
  * benchmark's own tables: row count and canonical hash per query, plus
  * the size of the table the profiler workload checks.
  *
  * Usage: perfbench.Record <dataDir> <verifyOutDir> <out.json> <query...>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, dump, out) = args.take(3)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    val queries = args.drop(3).toSeq.sorted.map { q =>
      val d = Canon.of(spark.read.parquet(s"$dump/$q"))
      q -> Map("rows" -> d.rows, "hash" -> d.hash)
    }
    def rows(t: String) = graft.Tables.load(spark, data, t).count()
    val json = Json.write(Map("events_rows" -> rows("events"),
      "queries" -> scala.collection.immutable.ListMap(queries: _*)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
