package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The library reads no environment: a deployment gets one behaviour
  * from its code and its conf, never a switch from an env var or JVM
  * property that a benchmark A/B left behind. Scans the library packages
  * (the measurement mains and `jobs` sit outside them) and graft's shims
  * under `org.apache.spark.sql` for env and system-property reads, and
  * allows only the deployment lookups below.
  * The measurement mains are held to the env names each one reads today,
  * so a retired A/B switch cannot return. */
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

  /** measurement main → the env names it may read. `SPARK_GRAFT_CPUS` is
    * read once, by the shared session builder in Bench. The retired
    * triage switches (GRAFT_JOBLOG, GRAFT_PHASES, GRAFT_FORCE) are on no
    * list: `Bench time` prints what they added on every rep. */
  private val mainEnv = Map(
    "graft/Bench.scala" -> Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "GRAFT_BENCH_HEALTH_MAX", "GRAFT_BENCH_MAX_EXTRA", "GRAFT_BENCH_DETAIL"),
    "graft/ScaleProbe.scala" -> Set("GRAFT_SCALE_JSON"),
    "graft/PlanAudit.scala" -> Set("GRAFT_AUDIT_JSON"),
    "graft/Verify.scala" -> Set.empty[String],
    "graft/StreamBench.scala" -> Set.empty[String])

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

  test("measurement mains read only their own env names, each by a literal name") {
    // every file directly under graft/: a main not in the map reads nothing
    val files = {
      val s = java.nio.file.Files.list(root.resolve("graft"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(mainEnv.keySet.subsetOf(files.map(root.relativize(_).toString).toSet))
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\("([A-Za-z0-9_]+)"""".r
    val hits = envReads(files)
    // a read that names no literal (a computed name, a property) could
    // read anything, so none is allowed here
    val unnamed = hits.filter { case (_, l) => named.findFirstIn(l).isEmpty }
    assert(unnamed.isEmpty, unnamed.mkString("\n"))
    val names = hits.groupMap(_._1)(h => named.findAllMatchIn(h._2).map(_.group(1)).toSeq)
      .map { case (f, ns) => f -> ns.flatten.toSet }
    files.map(root.relativize(_).toString).foreach { f =>
      assert(names.getOrElse(f, Set.empty) == mainEnv.getOrElse(f, Set.empty), f)
    }
    assert(hits.count(_._2.contains("\"SPARK_GRAFT_CPUS\"")) == 1)
  }
}
