package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one local-session recipe every main and spec runs on. */
object Session {

  /** A `local[cpus]` session sized to the core count:
    *   - shuffle partitions = `cpus`;
    *   - 16 MB file splits: single large parquet files split at the
    *     default 128 MB starve a 32-thread executor (measured:
    *     labeler_votes' scan stage on 6 tasks, dsir_weights on 2);
    *   - ObjectHashAggregate's sort-based fallback raised from 128 keys
    *     per partition (Spark's conservative default, measured sorting
    *     the triangle pipeline's full half-edge stream) to 20M: every
    *     object-buffer aggregate in this suite keys on bounded or
    *     model-sized groups, so the hash path is safe at any suite scale;
    *   - UTC session time zone, no UI, WARN logging.
    * AQE keeps Spark's default (on). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "20000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Block until every event posted so far has reached the listeners,
    * so a caller can read what its listener saw. `listenerBus` is
    * private[spark] (public in bytecode), so this uses reflection; if no
    * `waitUntilEmpty` overload resolves (a Spark upgrade renamed it), it
    * fails loudly rather than leave listener readings racy. */
  def drainListenerBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val noArg = bus.getClass.getMethods.find(m =>
      m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
    val oneArg = bus.getClass.getMethods.find(m =>
      m.getName == "waitUntilEmpty" && m.getParameterCount == 1)
    (noArg, oneArg) match {
      case (Some(m), _) => m.invoke(bus)
      case (None, Some(m)) => m.invoke(bus, java.lang.Long.valueOf(10000L))
      case (None, None) => throw new IllegalStateException(
        "no waitUntilEmpty overload on LiveListenerBus: listener " +
          "readings would be racy without a drain")
    }
  }
}
