package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Stage, Tables}
import graft.operators._
import graft.profiler._

/** Expected outputs, kept with the benchmark (expected.json). */
final case class Expected(eventsRows: Long, queries: Map[String, Canon.Digest])

/** One workload: an untimed set-up, then timed units issued one at a
  * time by a single closed-loop caller. Output checks run after each
  * unit, outside its span. */
abstract class Workload(val rec: Recorder) {
  /** Units per cycle. A traced run alternates whole cycles between plain
    * and traced, so the cycles line up for the tracing-overhead ratio. */
  def cycle: Int = 1
  def setup(): Unit
  def step(i: Int, traced: Boolean): Unit
  /** Per-unit facts for the traced report, keyed by unit index. */
  val extras = mutable.Map.empty[Int, Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[(Int, String)]

  protected def check(i: Int, ok: Boolean, msg: => String): Unit =
    if (!ok) failures += i -> msg

  /** Runs one set-up phase and logs how long it took. */
  protected def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"[perfbench] set-up: $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, rec: Recorder, data: String,
      work: String, seed: Long, exp: Expected): Workload = name match {
    case "profile_stream" => new ProfileStream(spark, rec, data, work, seed, exp)
    case "operator_suite" => new OperatorSuite(spark, rec, data, seed, exp)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timesAttrs(p: Profile): Map[String, Any] = Map("times_ms" -> p.timesMs)
}

/** Micro-batch profiling of `events`: each step folds one staged batch
  * into the running state with `Profiler.update`, checkpoints it with
  * `Codec`, gates and diffs it against the first batch's profile, and
  * renders it with `Report.compact`. Many small calls, so per-job and
  * driver-side costs dominate. */
final class ProfileStream(spark: SparkSession, rec: Recorder, data: String,
    work: String, seed: Long, exp: Expected) extends Workload(rec) {
  private val nBatches = 20
  private val numeric = Seq("event_id", "user_id", "value")
  private var batches = IndexedSeq.empty[DataFrame]
  /** Exact per-column stats after the first k+1 batches, from plain
    * aggregates: (column -> (n, nulls, min, max)). */
  private var prefix = IndexedSeq.empty[Map[String, (Long, Long, Double, Double)]]
  private var prefixRows = IndexedSeq.empty[Long]
  private var state: Option[Profile] = None
  private var first: Option[Profile] = None

  private def stats(p: Profile): Map[String, (Long, Long, Double, Double)] =
    p.columns.map { c =>
      c.name -> (c.n, c.nulls, c.numeric.map(_.min).getOrElse(Double.NaN),
        c.numeric.map(_.max).getOrElse(Double.NaN))
    }.toMap

  def setup(): Unit = {
    val events = Tables.load(spark, data, "events")
    val dir = s"$work/stream_batches"
    phase("stage batches")(
      events.withColumn("batch", pmod(xxhash64(col("event_id"), lit(seed)), lit(nBatches)))
        .write.mode("overwrite").partitionBy("batch").parquet(dir))
    batches = (0 until nBatches).map(b => spark.read.parquet(s"$dir/batch=$b"))

    val cols = events.columns.toSeq
    val aggs = Seq(count(lit(1)).as("rows")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"$c.n"), sum(col(c).isNull.cast("long")).as(s"$c.nulls")) ++
        (if (numeric.contains(c))
          Seq(min(col(c)).cast("double").as(s"$c.min"), max(col(c)).cast("double").as(s"$c.max"))
        else Nil)
    }
    val perBatch = phase("batch stats")(
      spark.read.parquet(dir).groupBy("batch").agg(aggs.head, aggs.tail: _*).collect())
      .map(r => r.getAs[Int]("batch") -> r).toMap
    def d(r: Row, k: String) = if (r.isNullAt(r.fieldIndex(k))) Double.NaN else r.getAs[Double](k)
    var acc = Map.empty[String, (Long, Long, Double, Double)]
    var rows = 0L
    val pre = mutable.ArrayBuffer.empty[Map[String, (Long, Long, Double, Double)]]
    val preRows = mutable.ArrayBuffer.empty[Long]
    for (b <- 0 until nBatches) {
      val r = perBatch(b)
      rows += r.getAs[Long]("rows")
      acc = cols.map { c =>
        val (n, nulls) = (r.getAs[Long](s"$c.n"), r.getAs[Long](s"$c.nulls"))
        val (lo, hi) =
          if (numeric.contains(c)) (d(r, s"$c.min"), d(r, s"$c.max")) else (Double.NaN, Double.NaN)
        c -> (acc.get(c) match {
          case None => (n, nulls, lo, hi)
          case Some((n0, z0, lo0, hi0)) =>
            (n0 + n, z0 + nulls, math.min(lo0, lo), math.max(hi0, hi))
        })
      }.toMap
      pre += acc
      preRows += rows
    }
    prefix = pre.toIndexedSeq
    prefixRows = preRows.toIndexedSeq
    check(-1, rows == exp.eventsRows, s"staged $rows event rows, expected ${exp.eventsRows}")

    // full-size warm-up, and the whole-table reference for the merge-exact stats
    val whole = phase("whole-table profile")(Profiler.profile(events))
    check(-1, whole.rowCount == exp.eventsRows, s"whole-table rowCount ${whole.rowCount}")
    check(-1, sameStats(stats(whole), prefix.last),
      s"whole-table stats ${stats(whole)} differ from the batch totals ${prefix.last}")
    phase("warm-up step") {
      val p = Profiler.update(Some(whole), batches(0))
      Gate.check(whole, p)
      Diff.diff(whole, Codec.decode(Codec.encode(p)))
      Report.compact(p)
    }
  }

  private def sameStats(a: Map[String, (Long, Long, Double, Double)],
      b: Map[String, (Long, Long, Double, Double)]): Boolean =
    a.keySet == b.keySet && a.forall { case (c, (n, z, lo, hi)) =>
      val (n2, z2, lo2, hi2) = b(c)
      n == n2 && z == z2 && (lo == lo2 || lo.isNaN && lo2.isNaN) &&
        (hi == hi2 || hi.isNaN && hi2.isNaN)
    }

  def step(i: Int, traced: Boolean): Unit = {
    val k = i % nBatches
    if (k == 0) { state = None; first = None }
    val batch = batches(k)
    rec.unit("batch_step", traced, Map("batch" -> k)) {
      val s =
        if (traced) {
          val p = rec.spanWith("profile", Workload.timesAttrs)(Profiler.profile(batch))
          state.fold(p)(st => rec.span("merge")(st.merge(p)))
        } else Profiler.update(state, batch)
      val enc = rec.spanWith[String]("codec_encode", e => Map("bytes" -> e.length))(
        Codec.encode(s))
      val dec = rec.span("codec_decode")(Codec.decode(enc))
      val base = first.getOrElse(s)
      val gate = rec.span("gate")(Gate.check(base, s))
      rec.span("diff")(Diff.diff(base, s))
      (s, enc, dec, gate, rec.span("report")(Report.compact(s)))
    } match {
      case None =>
        check(i, ok = false, s"batch $k failed")
      case Some((s, enc, dec, gate, report)) =>
        check(i, s.rowCount == prefixRows(k),
          s"batch $k: rowCount ${s.rowCount}, expected ${prefixRows(k)}")
        check(i, sameStats(stats(s), prefix(k)),
          s"batch $k: stats ${stats(s)}, expected ${prefix(k)}")
        check(i, Codec.encode(dec) == enc, s"batch $k: checkpoint does not round-trip")
        check(i, gate.nonEmpty, s"batch $k: empty gate")
        check(i, report.nonEmpty, s"batch $k: empty report")
        state = Some(s)
        if (k == 0) first = state
    }
  }
}

/** Eight oracle-checked queries, one from each operator module whose
  * layer no other workload reaches: streaming state, graph, joins,
  * windows, labelers, file sources, the redaction pipeline and
  * multimodal decoding. Each pass runs them in an order shuffled by the
  * seed, with the cache cleared between queries. The timed call builds
  * the query and collects its rows, so every output column is computed;
  * the collected rows are then checked against expected.json. */
final class OperatorSuite(spark: SparkSession, rec: Recorder, data: String,
    seed: Long, exp: Expected) extends Workload(rec) {
  private val modules: Seq[QueryModule] = Seq(StreamingQueries, GraphQueries,
    JoinQueries, WindowQueries, LabelerQueries, ReaderQueries, PipelineQueries,
    MultimodalQueries)
  val queries: Seq[String] = Seq("stream_join", "graph_triangles", "join_pricing",
    "win_rankdist", "labeler_votes", "sniff_profile", "redact", "multimodal_decode")
  private val moduleOf: Map[String, String] = queries.map { q =>
    q -> modules.find(_.queries.contains(q))
      .map(_.getClass.getSimpleName.stripSuffix("$")).getOrElse("unknown")
  }.toMap
  private val rng = new scala.util.Random(seed)
  private var order = Seq.empty[String]
  private val metricsDir = Stage.dir("stream_metrics")

  override def cycle: Int = queries.size

  private def run(q: String): (Seq[String], Seq[Row]) = {
    val df = SparkEntry.queries(q)(spark, data)
    (df.columns.toSeq, df.collect().toSeq)
  }

  def setup(): Unit = {
    // a summary left by an earlier run must not be read as this run's
    val stale = java.nio.file.Files.list(metricsDir)
    try stale.toArray.foreach { case p: java.nio.file.Path =>
      if (p.getFileName.toString.endsWith(".summary.json")) java.nio.file.Files.delete(p)
    } finally stale.close()
    // full-size warm-up (one on a tenth of the tables left the first pass
    // 13% slower); sniff_profile also stages its reader fixtures here
    queries.foreach { q =>
      val (cols, rows) = phase(s"warm-up $q")(run(q))
      val got = Canon.of(cols, rows)
      check(-1, exp.queries.get(q).contains(got), s"set-up $q: $got, expected ${exp.queries.get(q)}")
      spark.catalog.clearCache()
    }
  }

  def step(i: Int, traced: Boolean): Unit = {
    if (i % cycle == 0) order = rng.shuffle(queries)
    val q = order(i % cycle)
    val summary = metricsDir.resolve(s"$q.summary.json")
    java.nio.file.Files.deleteIfExists(summary)
    val out = rec.unit("query", traced, Map("query" -> q, "module" -> moduleOf(q)))(
      rec.span(q)(run(q)))
    spark.catalog.clearCache()
    out match {
      case None => check(i, ok = false, s"$q failed")
      case Some((cols, rows)) =>
        val got = Canon.of(cols, rows)
        check(i, exp.queries.get(q).contains(got), s"$q: $got, expected ${exp.queries.get(q)}")
    }
    if (java.nio.file.Files.exists(summary))
      extras(i) = Map("stream" -> Json.read(java.nio.file.Files.readString(summary)))
  }
}
