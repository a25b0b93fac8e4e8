package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The library reads no environment: a deployment gets one behaviour
  * from its code and its conf, never a switch from an env var or JVM
  * property that a benchmark A/B left behind. Scans the library packages
  * (the measurement mains and `jobs` sit outside them) for env and
  * system-property reads and allows only the deployment lookups below. */
class LibraryEnvSpec extends AnyFunSuite {
  private val libraryDirs =
    Seq("engine", "compile", "streaming", "functions", "ops", "rules", "schema")
  private val read = """sys\.env|System\.getenv|sys\.props|System\.getProperty""".r

  /** file → the one line allowed to read the environment there. */
  private val allowed = Map(
    // `${var}` deploy-conf templating falls back to the environment, the
    // reference's templated DDL options (windows-process-access.sql:28-30)
    "engine/AlertPipeline.scala" -> "sys.env.getOrElse(m.group(1),",
    // the durable-index root is deployment config with no Spark conf home
    "engine/Tables.scala" -> """indexDirOverride.orElse(sys.env.get("GRAFT_INDEX_DIR"))""")

  test("library code reads no environment beyond the two deployment lookups") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val hits = libraryDirs.flatMap { d =>
      val files = java.nio.file.Files.walk(root.resolve(d))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
        .filter(l => read.findFirstIn(l).isDefined)
        .map(rel -> _)
    }
    assert(hits.toSet == allowed.toSet, hits.mkString("\n"))
  }
}
