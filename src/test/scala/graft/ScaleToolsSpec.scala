package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SkewJoin
import graft.sources.Bucketing

/** Scale tooling: salted joins must preserve equi-join semantics while
  * spreading hot keys; bucketed tables must join with no exchange. */
class ScaleToolsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // 90% of the big side hits key 1
    val big = (1 to 2000).map(i =>
      (if (i % 10 == 0) (i % 5).toLong + 2 else 1L, i.toLong))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "d"),
      (6L, "e")).toDF("k", "tag")
    val plain = big.join(small, Seq("k")).groupBy("k", "tag")
      .agg(count(lit(1)).as("n"), sum("payload").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val salted = SkewJoin.saltedJoin(big, small, "k", salt = 8)
      .groupBy("k", "tag")
      .agg(count(lit(1)).as("n"), sum("payload").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(salted == plain)
    val hot = SkewJoin.hotKeys(big, "k", threshold = 0.5)
    assert(hot.keySet == Set("1"))
  }

  test("validators return exact counts and capped row ids") {
    import graft.functions.Validators
    val df = (1 to 100).map(i => (i.toLong, i.toDouble, s"s${i % 3}"))
      .toDF("id", "v", "tag")
    val r = Validators.isInRange(df, "id", "v", 10, 19, maxIds = 5)
    assert(r.matched == 10 && r.total == 100 && r.ratio == 0.1)
    assert(r.sampleIds == Seq(10L, 11L, 12L, 13L, 14L)) // capped preview
    val l = Validators.isInList(df, "id", "tag", Seq("s0"))
    assert(l.matched == df.filter(col("tag") === "s0").count())
  }

  test("bucketed tables join with zero exchanges") {
    SessionConfs.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      SessionConfs.withConf(spark, "spark.sql.adaptive.enabled", "false") {
        try {
          val facts = (1 to 5000).map(i => (i.toLong % 500, i.toLong))
            .toDF("k", "v")
          val dims = (1 to 5000).map(i => (i.toLong % 500, s"t$i"))
            .toDF("k", "t")
          Bucketing.writeBucketed(facts, "b_facts", "target/bucketed/facts", "k", 8)
          Bucketing.writeBucketed(dims, "b_dims", "target/bucketed/dims", "k", 8)
          val joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
            .groupBy("k").agg(count(lit(1)).as("n"))
          assert(Bucketing.isExchangeFree(joined),
            joined.queryExecution.executedPlan.toString.take(2000))
          // and the numbers are right
          assert(joined.agg(sum("n")).collect()(0).getLong(0) ==
            facts.join(dims, "k").count())
        } finally {
          Bucketing.drop(spark, "b_facts")
          Bucketing.drop(spark, "b_dims")
        }
      }
    }
  }
}
