package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan that keeps two decisions in one place each: how a session
  * is built (`Session.local`) and how a query scopes a conf override
  * (`SessionConfs.withConf`). */
class SessionLintSpec extends AnyFunSuite {

  /** (file name, trimmed line) of every Scala source line under `root`. */
  private def lines(root: String): Seq[(String, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap((p: Path) => Files.readAllLines(p).asScala
        .map(l => p.getFileName.toString -> l.trim))
    finally walk.close()
  }

  private lazy val main = lines("src/main/scala")
  private lazy val all = main ++ lines("src/test/scala")

  /** The only direct `conf.set` calls left in `src/main`, by file and key,
    * each with the reason it is not a `withConf` scope. */
  private val directSets = Map(
    ("Tables.scala", "spark.sql.legacy.parquet.nanosAsLong") ->
      "read at execution: a scope around the load would end before the read",
    ("StreamingQueries.scala", "spark.sql.legacy.parquet.nanosAsLong") ->
      "eventsStream: read at execution, as in Tables.load",
    ("SimilarityQueries.scala",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled") ->
      "ivfPersistedSearch sets it on its own dedicated newSession()")

  test("sessions are built only in Session.scala") {
    // split so that this line does not match itself
    val builder = "SparkSession." + "builder"
    val offenders = all.filter { case (f, l) =>
      l.contains(builder) && f != "Session.scala" &&
        !(f == "GraftExtensions.scala" && l.startsWith("*"))
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main reads and unsets confs only in SessionConfs") {
    val offenders = main.filter { case (f, l) =>
      (l.contains("conf.unset") || l.contains("conf.getOption")) &&
        f != "SessionConfs.scala"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every direct conf.set in src/main is on the allow-list") {
    val key = """conf\.set\("([^"]+)"""".r
    val sets = main.collect {
      case (f, l) if l.contains("conf.set(") && f != "SessionConfs.scala" =>
        (f, key.findFirstMatchIn(l).map(_.group(1)).getOrElse(l))
    }
    val unlisted = sets.filterNot(directSets.contains)
    assert(unlisted.isEmpty, unlisted.mkString("\n"))
    // an entry whose call is gone must leave the list too
    assert(directSets.keySet == sets.toSet)
  }
}
