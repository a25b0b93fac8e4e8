package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]; infinite values sort
    * last (a missing alert counts as missing every limit). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(lo).isInfinite) s(lo)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** The benchmark's own SparkSession: graft's recommended defaults, every
  * scratch byte under the run's work directory. */
object Session {
  def build(work: File, cores: Int): SparkSession = {
    val tmp = new File(work, "spark-tmp"); tmp.mkdirs()
    val spark = graft.engine.SessionDefaults(SparkSession.builder())
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "default-checkpoint").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Files2 {
  def write(path: File, text: String): Unit = {
    path.getParentFile.mkdirs()
    Files.write(path.toPath, text.getBytes(StandardCharsets.UTF_8))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }

  def fresh(f: File): File = { deleteRecursively(f); f.mkdirs(); f }

  /** Data files of a file-sink directory (metadata and checksums excluded). */
  def sinkFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  /** Every line of a file, or of every visible file in a directory in
    * file-name order. */
  def lines(dir: File): Iterator[String] =
    (if (dir.isFile) Seq(dir) else sinkFiles(dir)).sortBy(_.getName).iterator
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }

  /** sink file name → batch id, from the file sink's own commit log. A
    * compacted log file (`N.compact`) lists every earlier batch's files
    * too, so the per-batch files are read first and a compacted entry only
    * names the batch of files no per-batch file claims. */
  def sinkBatches(dir: File): Map[String, Long] = {
    val log = new File(dir, "_spark_metadata")
    def entries(f: File): Seq[(String, Long)] = {
      val batch = f.getName.takeWhile(_.isDigit).toLong
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).flatMap { l =>
        "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map { m =>
          new File(new java.net.URI(m.group(1)).getPath).getName -> batch
        }
      }.toSeq finally src.close()
    }
    val files = Option(log.listFiles()).getOrElse(Array.empty[File]).toSeq
    val plain = files.filter(_.getName.matches("[0-9]+")).flatMap(entries).toMap
    val compact = files.filter(_.getName.matches("[0-9]+\\.compact")).flatMap(entries)
    compact.filterNot(e => plain.contains(e._1)).toMap ++ plain
  }
}

/** Everything one run reports, written as one JSON file for run.py. */
final class Result(val workload: String, val seed: Long, val cores: Int) {
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  var correct = true
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = { correct = false; problems += msg }

  def toJson: String = Json.obj(Seq(
    "workload" -> workload, "seed" -> seed, "cpus" -> cores,
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "end_to_end" -> endToEnd.toMap, "per_layer" -> perLayer.toMap,
    "info" -> info.toMap, "problems" -> problems.toSeq))
}
