package graft

import graft.profiler.Profiler

/** Times the flagship full profile (all passes) of lineitem at a given
  * scale: `runMain graft.ProfileBench [sfDir]`. Prints one JSON line with
  * wall time for full and sampled modes plus the per-pass breakdown the
  * profile itself records.
  *
  * History: this harness located the pass-1 JIT wall — one fused
  * aggregation with ~200 sibling expressions generated an update method
  * past the JVM's 8 KB JIT threshold and ran interpreted (23 s at sf0.1);
  * segregated chunking (declarative chunks of ~30 + one object-aggregate
  * job) brought the same stats to ~7 s. See ProfilerOptions.aggChunkSize.
  */
object ProfileBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(SessionConfs.cpusFromEnv(32))
    val li = Tables.load(spark, sfDir, "lineitem")
    li.count() // warm
    val t0 = System.nanoTime()
    val p = Profiler.profile(li)
    val full = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ps = Profiler.profileSampled(li)
    val sampled = (System.nanoTime() - t1) / 1e9
    val passes = p.timesMs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"profile","rows":${p.rowCount},"cols":${p.columns.size},""" +
      s""""full_sec":$full,"sampled_sec":$sampled,""" +
      s""""sampled_rows":${ps.rowCount},"pass_ms":$passes,"sf":"$sfDir"}""")
    spark.stop()
  }
}
