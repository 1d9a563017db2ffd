package perfbench

/** JVM side of the benchmark: runs one workload and writes its raw record
  * (timings, per-layer figures, spans) as JSON. Metrics are derived, and
  * outputs checked, by `run.py`.
  *
  * Flags: --workload hist_wide|live_trickle|llm_suite --work DIR
  * --seconds N --trace 0|1 --cores N --out FILE; llm_suite also takes
  * --queries q1,q2,..., live_trickle --timeout SECONDS. */
object Driver {
  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val record = a("workload") match {
      case "hist_wide" => Hist.run(a)
      case "live_trickle" => Live.run(a)
      case "llm_suite" => Suite.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    Json.write(Files2.path(a("out")), record)
  }
}
