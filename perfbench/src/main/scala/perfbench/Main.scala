package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.spark.sql.SparkSession

object Json {
  private val mapper = new ObjectMapper() with ClassTagExtensions
  mapper.registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): Map[String, Any] = mapper.readValue[Map[String, Any]](s)
}

/** Runs one workload for a fixed time and writes everything it measured
  * (spans, listener records, output-check failures, provenance) as one
  * JSON file; `run.py` turns that into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cpus C --data DIR --work DIR --expected FILE --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val exp = {
      val j = Json.read(Files.readString(Paths.get(a("expected"))))
      def long(v: Any) = v.asInstanceOf[Number].longValue
      Expected(long(j("events_rows")),
        j("queries").asInstanceOf[Map[String, Map[String, Any]]].map { case (q, d) =>
          q -> Canon.Digest(long(d("rows")), d("hash").toString)
        })
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the session settings graft.Bench runs the suite with
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "20000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session up after ${
      (System.currentTimeMillis() - ProcessHandle.current().info().startInstant().get().toEpochMilli) / 1e3}%.2f s")
    val rec = new Recorder(spark)
    val wl = Workload(a("workload"), spark, rec, a("data"), work, seed, exp)

    wl.setup()
    val emptyJobMs =
      if (!trace) Double.NaN
      else {
        def job(): Double = {
          val t0 = System.nanoTime()
          spark.sparkContext.parallelize(1 to 1, 1).count()
          (System.nanoTime() - t0) / 1e6
        }
        (1 to 5).foreach(_ => job())
        val xs = (1 to 21).map(_ => job()).sorted
        xs(xs.size / 2)
      }

    val firstCallMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minUnits = wl.cycle * (if (trace) 2 else 1)
    var i = 0
    while (i < minUnits || i % wl.cycle != 0 || System.nanoTime() < deadline) {
      wl.step(i, traced = trace && (i / wl.cycle) % 2 == 1)
      i += 1
    }

    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    val out = Map(
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version"),
      "first_call_ms" -> firstCallMs,
      "cycle" -> wl.cycle,
      "empty_job_ms" -> emptyJobMs,
      "vm_hwm_kb" -> hwmKb,
      "failures" -> wl.failures.map { case (u, m) => Map("unit" -> u, "message" -> m) },
      "extras" -> wl.extras.map { case (u, m) => u.toString -> m },
      "spans" -> rec.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6, "traced" -> s.traced,
          "ok" -> s.ok, "attrs" -> s.attrs)
      },
      "jobs" -> rec.jobs)
    Files.writeString(Paths.get(a("out")), Json.write(out))
    spark.stop()
  }
}
