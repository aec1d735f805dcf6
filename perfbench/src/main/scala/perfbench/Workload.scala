package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.rpt.RptConf

/** Shared run protocol: several timed set-ups (the last one's session is
  * kept), one untimed warmup pass whose results become the references,
  * closed-loop timed passes until the time budget is spent, retained heap,
  * then (with --trace 1) one traced pass, then the output checks. Every
  * pass visits the ops in an order drawn from the seed. */
abstract class Workload(cfg: Main.Config) {
  protected var spark: SparkSession = _
  protected val rng = new scala.util.Random(cfg.seed)
  protected val execs = mutable.ArrayBuffer[Map[String, Any]]()
  protected val checks = mutable.ArrayBuffer[Map[String, Any]]()
  protected val layers = mutable.LinkedHashMap[String, Double]()
  protected val spans = mutable.ArrayBuffer[Map[String, Any]]()
  protected val passes = mutable.ArrayBuffer[Map[String, Any]]()

  protected def now(): Double = System.nanoTime() / 1e9

  /** Session settings and view registration, part of every set-up. */
  protected def prepare(): Unit
  /** Untimed first pass: JIT, caches and reference results. */
  protected def warmup(): Unit
  /** One timed pass; returns (label, seconds) per timed total in it. */
  protected def pass(k: Int): Seq[(String, Double)]
  /** One traced pass filling `layers` and `spans`; returns its pass time. */
  protected def tracedPass(): Double
  /** Output checks that need the session, run after all timing. */
  protected def finish(): Unit = ()
  /** Pass number of the untimed warmup; timed passes count from 0. */
  protected val Warmup = -1

  protected def onOff(on: Boolean): Unit =
    spark.conf.set(RptConf.ENABLED, on.toString)

  protected def shuffled[T](xs: Seq[T]): Seq[T] = rng.shuffle(xs)

  /** Runs one op with construct-to-collect timing and returns the time;
    * failures are recorded, never rethrown. The fingerprint is taken after
    * the clock stops. */
  protected def timedCollect(op: String, passNo: Int, rule: String)(
      mk: => DataFrame): Double = {
    val t0 = now()
    try {
      val rows = mk.collect()
      val s = now() - t0
      execs += Map("op" -> op, "pass" -> passNo, "rule" -> rule, "s" -> s,
        "ok" -> true, "fp" -> Fingerprint.of(rows), "rows" -> rows.length)
      s
    } catch {
      case NonFatal(e) =>
        val s = now() - t0
        execs += Map("op" -> op, "pass" -> passNo, "rule" -> rule, "s" -> s,
          "ok" -> false, "err" -> Workload.describe(e))
        s
    }
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next()
    catch { case NonFatal(_) => "" }

  /** Single-thread CPU probe (fixed xorshift loop), run metadata only. */
  private def cpuCalMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) print("")
    ms
  }

  def run(): Map[String, Any] = {
    val loadBefore = loadavg()
    val cal = cpuCalMs()
    val setups = (1 to Workload.Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = GraftSession.build(appName = s"perfbench-${cfg.workload}")
      val session = now() - t0
      prepare()
      Map("s" -> (now() - t0), "session_s" -> session)
    }
    val w0 = now()
    warmup()
    val warmupS = now() - w0

    val t0 = now()
    var k = 0
    do {
      pass(k).foreach { case (label, s) =>
        passes += Map("pass" -> k, "label" -> label, "s" -> s)
      }
      k += 1
    } while (now() - t0 < cfg.seconds)
    val timedS = now() - t0

    // a few collections apart: Spark's ContextCleaner frees broadcasts and
    // shuffles only after the collection that clears their weak references
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val traced = if (cfg.trace) Some(tracedPass()) else None
    finish()
    spark.stop()
    Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "meta" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
        "cal_cpu_ms" -> cal, "timed_s" -> timedS),
      "setups" -> setups, "warmup_s" -> warmupS,
      "passes" -> passes, "execs" -> execs, "checks" -> checks,
      "heap_retained_mb" -> heapMb,
      "traced_pass_s" -> traced, "layers" -> layers, "spans" -> spans)
  }
}

object Workload {
  /** Set-ups per run; `setup_s` takes their median. */
  val Setups = 3

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}
