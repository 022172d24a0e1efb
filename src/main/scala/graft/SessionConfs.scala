package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides. A query function that tunes a runtime
  * knob (aggregate fallback thresholds, shuffle partitions for stream
  * state stores) must NOT leak it into the caller's live session — the
  * next query inherits a setting sized for someone else's plan. The
  * contract: the override is visible only while `f` runs, so the body
  * must EXECUTE anything that reads the conf (runtime SQLConf reads
  * happen at action time, not at DataFrame definition — return a
  * localCheckpoint'd/collected result, not a lazy plan, when the knob
  * matters to execution).
  */
object SessionConfs {

  /** Run `f` with `key` set to `value`, then restore the prior value
    * (or unset, if the key was never set). */
  def withConf[T](s: SparkSession, key: String, value: String)(f: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** The core count a main runs at: `SPARK_GRAFT_CPUS`, else `default`.
    * It becomes the `local[N]` master, the shuffle-partition count, a
    * JSON number and part of result filenames, so a value that is not a
    * positive integer exits here with a message instead. */
  def cpusFromEnv(default: Int): Int =
    parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default) match {
      case Right(n) => n
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(2)
    }

  private[graft] def parseCpus(raw: Option[String],
      default: Int): Either[String, Int] = raw match {
    case None => Right(default)
    case Some(s) => s.trim.toIntOption.filter(_ > 0).toRight(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'")
  }
}
