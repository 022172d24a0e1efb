package graft

import org.scalatest.funsuite.AnyFunSuite
import SessionConfs.withConf

class SessionConfsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val setKey = "spark.sql.autoBroadcastJoinThreshold"
  // not a registered SQL conf, so it has no default to fall back on
  private val unsetKey = "graft.spec.never.set"

  /** `f` with `setKey` explicitly at a non-default value, unset after. */
  private def withSetKey(f: => Unit): Unit = {
    spark.conf.set(setKey, "12345")
    try f finally spark.conf.unset(setKey)
  }

  test("an explicitly set key gets its value back") {
    withSetKey {
      withConf(spark, setKey, "-1") {
        assert(spark.conf.get(setKey) == "-1")
      }
      assert(spark.conf.get(setKey) == "12345")
    }
  }

  test("a key that was never set is unset again") {
    assert(spark.conf.getOption(unsetKey).isEmpty)
    withConf(spark, unsetKey, "x") {
      assert(spark.conf.get(unsetKey) == "x")
    }
    assert(spark.conf.getOption(unsetKey).isEmpty)
    assert(!spark.conf.getAll.contains(unsetKey))
  }

  test("both keys are restored when the body throws") {
    withSetKey {
      val e = intercept[IllegalStateException] {
        withConf(spark, setKey, "-1") {
          withConf(spark, unsetKey, "x") {
            throw new IllegalStateException("body failed")
          }
        }
      }
      assert(e.getMessage == "body failed")
      assert(spark.conf.get(setKey) == "12345")
      assert(spark.conf.getOption(unsetKey).isEmpty)
    }
  }
}
