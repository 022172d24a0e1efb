package graft

import org.apache.spark.sql.SparkSession

/** Driver-free smoke: runs SparkEntry.entry (the flagship full profile)
  * and prints row count + a sample, mirroring the driver's t1 check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = SessionConfs.cpusFromEnv(4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows = ${df.count()}")
    df.show(30, truncate = false)
    spark.stop()
  }
}
