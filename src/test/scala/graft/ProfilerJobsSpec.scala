package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Trace

/** Job counts of the profiler composites, as `Trace` counts them at the
  * test scale factor. A count is independent of host noise, so a pass
  * that starts an extra job fails here rather than in a timing. */
class ProfilerJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val expectedJobs = Seq(
    "profile_merge" -> 9,
    "profile_diff" -> 6,
    "profile_gate" -> 7,
    "report_flat" -> 7,
    "stream_gate" -> 20)

  for ((query, jobs) <- expectedJobs)
    test(s"$query runs $jobs Spark jobs") {
      // the first run at a data dir also stages input fixtures
      // (stream_gate writes its micro-batch files), so count the second
      SparkEntry.queries(query)(spark, SparkTestSession.sfDir).count()
      val r = Trace.measure(spark, query, SparkTestSession.sfDir)
      assert(r.jobs == jobs,
        s"$query: ${r.jobs} jobs, ${r.stages.size} stages")
    }
}
