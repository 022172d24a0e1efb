package graft

import java.sql.Timestamp
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.profiler.{Codec, Profile, Profiler}

/** Distinct-day counts (`DatetimeStats.nDays`) come from a DataSketches
  * HLL over the days, for timestamp columns (pass 1) and for string
  * columns with discovered formats (pass 7). The sketch rides in the
  * profile, so merging chunks with disjoint days adds them up. */
class DistinctDaysSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Noon, so the day is the same in any session time zone within ±11 h. */
  private def noon(day: String) = Timestamp.valueOf(s"$day 12:00:00")

  private def month(m: Int, days: Int) = {
    import spark.implicits._
    (1 to days).map { d =>
      val day = f"2024-$m%02d-$d%02d"
      (noon(day), day)
    }.toDF("ts", "d")
  }

  private def days(p: Profile, c: String) = p.column(c).get.datetime.get

  test("nDays merges as a sketch union: January + February = their union") {
    val jan = month(1, 31)
    val feb = month(2, 29)
    val pj = Profiler.profile(jan)
    val pf = Profiler.profile(feb)
    val whole = Profiler.profile(jan.union(feb))
    for (c <- Seq("ts", "d")) {
      assert(days(pj, c).nDays == 31, c)
      assert(days(pf, c).nDays == 29, c)
      assert(days(pj.merge(pf), c).nDays == days(whole, c).nDays, c)
      assert(days(whole, c).nDays == 60, c)
    }

    // the Codec round-trip keeps the sketch, so decoded state still unions
    val pj2 = Codec.decode(Codec.encode(pj))
    val pf2 = Codec.decode(Codec.encode(pf))
    assert(days(pj2, "ts").daysSketch.get sameElements days(pj, "ts").daysSketch.get)
    assert(days(pj2.merge(pf2), "ts").nDays == 60)

    // JSON written without the field decodes to None and merges by max
    val legacy = Codec.encode(pj).replaceAll(",\"n_days_sketch\":\"[^\"]*\"", "")
    assert(!legacy.contains("n_days_sketch"))
    val old = Codec.decode(legacy)
    assert(days(old, "ts").daysSketch.isEmpty)
    assert(days(old, "ts").nDays == 31)
    assert(days(old.merge(pf2), "ts").nDays == 31)
  }

  test("no profile plan runs HyperLogLog++; nulls and unparseable strings " +
      "are not days") {
    import spark.implicits._
    val rows = (1 to 40).map { i =>
      val day = f"2024-03-${i % 10 + 1}%02d"
      (if (i % 4 == 0) None else Some(noon(day)),
        if (i % 5 == 0) "not a date" else if (i % 7 == 0) "n/a" else day)
    }
    val df = rows.toDF("ts", "d").coalesce(1)
    val tsDays = rows.flatMap(_._1).map(_.toLocalDateTime.toLocalDate).distinct
    val strDays = rows.map(_._2).filter(_.startsWith("2024-")).distinct

    // the helper also walks into adaptive plans and their query stages
    object Plans extends AdaptiveSparkPlanHelper
    def runsHllpp(qe: QueryExecution): Boolean =
      Plans.find(qe.executedPlan)(_.expressions.exists(
        _.exists(_.isInstanceOf[HyperLogLogPlusPlus]))).isDefined
    def plansOf(f: => Unit): Seq[Boolean] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val l = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          seen.add(runsHllpp(qe))
        override def onFailure(fn: String, qe: QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try { f; Session.drainListenerBus(spark.sparkContext) }
      finally spark.listenerManager.unregister(l)
      seen.toArray.toSeq.map(_.asInstanceOf[Boolean])
    }

    // the listener does see an HLL++ aggregate when one runs
    assert(plansOf(df.agg(approx_count_distinct(col("ts"))).collect())
      .contains(true))

    var p: Profile = null
    val plans = plansOf { p = Profiler.profile(df) }
    assert(plans.nonEmpty)
    assert(!plans.contains(true),
      s"${plans.count(identity)} of ${plans.size} profile plans run HyperLogLog++")

    assert(p.column("d").get.datetimeFormats.contains("yyyy-MM-dd"))
    assert(days(p, "ts").nDays == tsDays.size)
    assert(days(p, "d").nDays == strDays.size)
  }
}
