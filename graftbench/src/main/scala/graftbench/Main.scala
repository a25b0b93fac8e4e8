package graftbench

import java.io.File

/** What every workload gets: its arguments and its directories. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: File, inputs: File, genCmd: Seq[String], latLimitMs: Double) {
  val spans = new Spans(trace)
  def corpus: File = new File(inputs, "corpus")
  def rules: File = new File(inputs, "rules")
  def tables: File = new File(inputs, "tables")
}

/** JVM side of the benchmark: runs one workload and writes its result
  * (and, traced, its spans) as JSON files for `run.py`. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cores").toInt, new File(kv("work")), new File(kv("inputs")),
      kv("gen").split(' ').toSeq, kv("lat-limit-ms").toDouble)
    val res = new Result(ctx.workload, ctx.seed, ctx.cores)
    try ctx.workload match {
      case "replay-builtin" => Replay.run(ctx, res)
      case "live-sigma" => Live.run(ctx, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"${e.getClass.getName}: ${e.getMessage}")
    }
    Files2.write(new File(kv("out")), res.toJson)
    if (ctx.trace) Files2.write(new File(kv("spans")), ctx.spans.toJson)
    System.exit(0)
  }
}
