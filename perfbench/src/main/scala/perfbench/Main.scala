package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark harness entry point. One JVM runs one workload and writes its
  * raw samples (setup repeats, per-execution times and fingerprints,
  * per-trigger progress, traced layer counters) as JSON. `perfbench/run.py`
  * builds this program, launches it, checks outputs and reduces the
  * samples to the metrics named in `BENCHMARK.json`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <fixture dir> --inputs <generated inputs dir>
  *   --work <work dir> --out <json>
  *        perfbench.Main --generate <inputs dir> --data <fixture dir>
  */
object Main {
  final case class Config(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, inputs: String, work: String, out: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    kv.get("generate").foreach { dir => generate(need("data"), dir); return }
    val cfg = Config(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("data"),
      need("inputs"), need("work"), need("out"))
    val wl = cfg.workload match {
      case "job_shuffle" => new JobShuffle(cfg)
      case "stream_stateful" => new StreamStateful(cfg)
      case other => sys.error(s"unknown workload $other")
    }
    val raw = wl.run()
    Files.writeString(Paths.get(cfg.out), Json.write(raw))
  }

  /** Inputs that depend only on the program and the fixture tables, made
    * once per build: the IMDB-shaped tables of [[JobShuffle]] and the
    * per-trigger files of [[StreamStateful]]. */
  def generate(data: String, dir: String): Unit = {
    val spark = graft.GraftSession.build(appName = "perfbench-inputs")
    try {
      graft.tools.ImdbFixtures.write(spark, s"$dir/imdb", JobShuffle.Factor)
      StreamStateful.generate(spark, data, s"$dir/stream")
    } finally spark.stop()
  }
}
