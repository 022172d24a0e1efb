package graft.tools

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import graft.{Bench, Json, Session, SessionConfs, SparkEntry}

/** Where a query's time went: its Spark jobs, stages and tasks, the
  * executor time they used, and what is left on the driver.
  *
  * Warms up the way [[graft.Bench]] does, measures the scheduler floor
  * once (median empty 1-task job, median empty `cpus`-partition
  * shuffle), then per query clears the cache, runs it once and prints
  * one JSON object:
  *   - `sched_floor_s` = jobs × [empty 1-task job, empty shuffle], the
  *     fixed cost of that many scheduler round-trips;
  *   - `residual_s` = wall − `sched_floor_s`, as the same bracket: the
  *     plan work the job count does not explain;
  *   - `top_stages` = the 15 slowest stages, each labelled with its RDD
  *     scopes (the plan nodes it ran; AQE stage names are lambda
  *     callsites).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.Trace <query...> */
object Trace {

  final case class StageRow(id: Int, wallMs: Long, runMs: Long, cpuMs: Long,
      tasks: Int, label: String)

  final case class Record(query: String, wallS: Double, jobs: Int,
      stages: Seq[StageRow]) {
    def tasks: Int = stages.map(_.tasks).sum
    def runMs: Long = stages.map(_.runMs).sum
    def cpuMs: Long = stages.map(_.cpuMs).sum

    /** One JSON object; `floor` = (empty 1-task job s, empty shuffle s). */
    def json(floor: (Double, Double)): String = {
      def f(v: Double) = f"$v%.4f"
      val (lo, hi) = (jobs * floor._1, jobs * floor._2)
      val top = stages.sortBy(-_.wallMs).take(15).map(s =>
        s"""{"stage":${s.id},"wall_s":${f(s.wallMs / 1e3)},""" +
          s""""executor_run_ms":${s.runMs},"executor_cpu_ms":${s.cpuMs},""" +
          s""""tasks":${s.tasks},"label":${Json.str(s.label)}}""")
      s"""{"query":${Json.str(query)},"wall_s":${f(wallS)},""" +
        s""""jobs":$jobs,"stages":${stages.size},"tasks":$tasks,""" +
        s""""executor_run_ms":$runMs,"executor_cpu_ms":$cpuMs,""" +
        s""""sched_floor_s":[${f(lo)},${f(hi)}],""" +
        s""""residual_s":[${f(wallS - lo)},${f(wallS - hi)}],""" +
        s""""top_stages":${top.mkString("[", ",", "]")}}"""
    }
  }

  /** Counts jobs and collects every completed stage. */
  private final class Listener extends SparkListener {
    private var jobs = 0
    private val stages = ArrayBuffer.empty[StageRow]

    override def onJobStart(js: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = (for (s <- si.submissionTime; c <- si.completionTime)
        yield c - s).getOrElse(-1L)
      val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct
        .mkString(" ").take(110)
      val label =
        if (scopes.nonEmpty) scopes else si.name.takeWhile(_ != '\n').take(60)
      val tm = si.taskMetrics
      synchronized {
        stages += StageRow(si.stageId, wall, tm.executorRunTime,
          tm.executorCpuTime / 1000000L, si.numTasks, label)
      }
    }

    def result(query: String, wallS: Double): Record =
      synchronized { Record(query, wallS, jobs, stages.toSeq) }
  }

  /** Clear the cache, run query `name` once at `dir` and record it. */
  private[graft] def measure(spark: SparkSession, name: String,
      dir: String): Record = {
    val fn = (SparkEntry.queries ++ SparkEntry.benchOnly)(name)
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    Session.drainListenerBus(sc)
    val listener = new Listener
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val wallS = (System.nanoTime() - t0) / 1e9
      Session.drainListenerBus(sc)
      listener.result(name, wallS)
    } finally sc.removeSparkListener(listener)
  }

  private def medianS(n: Int)(f: => Unit): Double = {
    val xs = (1 to n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.sorted
    xs(n / 2)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")
    require(args.nonEmpty && dir.nonEmpty,
      "usage: SPARK_GRAFT_SF_DIR=<data dir> graft.tools.Trace <query...>")
    val cpus = SessionConfs.cpusFromEnv(4)
    val spark = Session.local(cpus)
    // without the codegen warm pass the first query's wall_s and
    // residual_s would time compilation, not work — fail loudly
    require(Bench.warm(spark, dir, Some(args.toSet)),
      "warm-up data missing: an unwarmed run would time codegen " +
        "compilation, not work")
    val sc = spark.sparkContext
    (1 to 5).foreach(_ => sc.parallelize(1 to 1, 1).count())
    val floor = (medianS(21)(sc.parallelize(1 to 1, 1).count()),
      medianS(11)(spark.range(cpus).repartition(cpus).count()))
    args.foreach(name => println(measure(spark, name, dir).json(floor)))
    spark.stop()
  }
}
