package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The library reads no environment: a deployment gets one behaviour
  * from its code and its conf, never a switch from an env var or JVM
  * property that a benchmark A/B left behind. Scans the library packages
  * (the measurement mains and `jobs` sit outside them) and graft's shims
  * under `org.apache.spark.sql` for env and system-property reads, and
  * allows only the deployment lookups below.
  * StreamBench, the one streaming measurement main, is held to its
  * core-count read the same way, so a retired A/B switch cannot return. */
class LibraryEnvSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src/main/scala")
  private val libraryDirs =
    Seq("engine", "compile", "streaming", "functions", "ops", "rules", "schema")
      .map("graft/" + _) :+ "org/apache/spark/sql"
  private val read = """sys\.env|System\.getenv|sys\.props|System\.getProperty""".r

  /** file → the one line allowed to read the environment there. */
  private val allowed = Map(
    // `${var}` deploy-conf templating falls back to the environment, the
    // reference's templated DDL options (windows-process-access.sql:28-30)
    "graft/engine/AlertPipeline.scala" -> "sys.env.getOrElse(m.group(1),",
    // the durable-index root is deployment config with no Spark conf home
    "graft/engine/Tables.scala" -> """indexDirOverride.orElse(sys.env.get("GRAFT_INDEX_DIR"))""")

  /** (file relative to the source root, trimmed line) of every env read. */
  private def envReads(files: Seq[java.nio.file.Path]): Seq[(String, String)] =
    files.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
        .filter(l => read.findFirstIn(l).isDefined)
        .map(rel -> _)
    }

  test("library code reads no environment beyond the two deployment lookups") {
    val files = libraryDirs.flatMap { d =>
      val files = java.nio.file.Files.walk(root.resolve(d))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }
    val hits = envReads(files)
    assert(hits.toSet == allowed.toSet, hits.mkString("\n"))
  }

  test("StreamBench reads no environment beyond SPARK_GRAFT_CPUS") {
    val hits = envReads(Seq(root.resolve("graft/StreamBench.scala")))
    assert(hits == Seq("graft/StreamBench.scala" ->
      """.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")"""),
      hits.mkString("\n"))
  }
}
