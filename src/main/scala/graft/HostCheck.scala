package graft

/** One-shot host-health reading using the bench's OWN calibration loops —
  * run this before starting any record (batch bench, ScaleProbe,
  * StreamBench tfbattery/combined) to know whether the window is clean
  * WITHOUT paying a full measurement: prints the single-thread `calib`,
  * the all-core `calib_mt`, the 1-min load average, and a PASS/FAIL
  * verdict against the same gate `Bench.gatedPasses` enforces
  * (GRAFT_BENCH_HEALTH_MAX to override, default
  * [[Bench.HealthGateDefault]]). Clean-host norm on this box: both
  * ~0.10–0.13 s. Takes ~3 s; no Spark session. */
object HostCheck {
  def main(args: Array[String]): Unit = {
    val gate = sys.env.get("GRAFT_BENCH_HEALTH_MAX")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(Bench.HealthGateDefault)
    Bench.calibSecs(); Bench.calibMtSecs() // JIT warm
    val reps = args.headOption.flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(3)
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val readings = (1 to reps).map { _ =>
      val c = Bench.calibSecs()
      val m = Bench.calibMtSecs()
      (c, m)
    }
    val pass = readings.forall(_._2 <= gate)
    val body = readings.map { case (c, m) => f"""[$c%.3f,$m%.3f]""" }
      .mkString("[", ",", "]")
    println(f"""{"metric":"host_check","gate":$gate%.3f,"load":$load%.2f,"calib_pairs":$body,"pass":$pass}""")
  }
}
