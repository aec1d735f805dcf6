package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.rpt.{JoinGraph, RptConf, RptProfiling, TransferSchedule}
import graft.tools.JobRealQueries

/** JOB crossover texts on IMDB-shaped fixtures in the shuffle regime. Each
  * query is timed from `spark.sql` to the return of `collect()`. The seed
  * permutes query order; the fixtures are generated once per build
  * ([[Main.generate]]) and only registered here. */
final class JobShuffle(cfg: Main.Config) extends Workload(cfg) {
  import JobShuffle._

  private val ops: Seq[(String, () => DataFrame)] =
    JobRealQueries.all.filter(q => Names.contains(q._1))
      .map { case (n, sql) => n -> (() => spark.sql(sql)) }

  override protected def prepare(): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Tables.foreach { t =>
      spark.read.parquet(s"${cfg.inputs}/imdb/$t.parquet").createOrReplaceTempView(t)
    }
  }

  /** The warmup runs both rules: its rule-off results are the references
    * every rule-on result must equal. */
  override protected def warmup(): Unit = {
    block(Warmup, rule = true)
    block(Warmup, rule = false)
  }

  /** A rule-on block; in traced runs also a rule-off block, which gives the
    * on/off speedup. Blocks, not per-query pairs: a query runs markedly
    * faster right after itself (measured 0.3-0.5 s on 18b and 2a, either
    * rule first), so a pair would hand that gain to its second side. */
  override protected def pass(k: Int): Seq[(String, Double)] = {
    val on = block(k, rule = true)
    if (cfg.trace) Seq("on" -> on, "off" -> block(k, rule = false))
    else Seq("on" -> on)
  }

  /** Every query once under one rule setting, in a seeded order. */
  private def block(k: Int, rule: Boolean): Double = {
    onOff(rule)
    try shuffled(ops).map { case (name, mk) =>
      timedCollect(name, k, if (rule) "on" else "off")(mk())
    }.sum
    finally onOff(true)
  }

  /** Rule-on pass with each query split into construct, optimize, physical
    * planning and execute spans, Spark jobs attributed per span, and the
    * rule's own view of the query (tracker timing, graph, schedule, builds,
    * probes). */
  override protected def tracedPass(): Double = {
    val tracer = new Tracer(spark)
    val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    val passMode = RptConf.passMode(spark.sessionState.conf)
    val (gc0, jit0) = Tracer.jvmTimes()
    var passS = 0.0
    shuffled(ops).foreach { case (name, mk) =>
      onOff(true)
      val t0 = now()
      val df = tracer.within(s"$name|construct")(mk())
      val t1 = now()
      val (fb0, fo0) = Tracer.fsRead()
      tracer.within(s"$name|plan")(df.queryExecution.optimizedPlan)
      val t2 = now()
      tracer.within(s"$name|plan")(df.queryExecution.executedPlan)
      val t3 = now()
      val (fb1, fo1) = Tracer.fsRead()
      val rows = tracer.within(s"$name|exec")(df.collect())
      val t4 = now()
      passS += t4 - t0
      add("queries.construct_ms", (t1 - t0) * 1e3)
      add("plan.optimize_ms", (t2 - t1) * 1e3)
      add("plan.physical_ms", (t3 - t2) * 1e3)
      add("exec.collect_ms", (t4 - t3) * 1e3)
      add("exec.result_rows", rows.length)
      add("plan.fs_read_bytes", fb1 - fb0)
      add("plan.fs_read_ops", fo1 - fo0)

      val qe = df.queryExecution
      qe.tracker.rules.find(_._1.endsWith("PredicateTransferRule"))
        .foreach { case (_, r) =>
          add("rpt.rule_ms", r.totalTimeNs / 1e6)
          add("rpt.rule_effective", r.numEffectiveInvocations)
        }
      val builds = RptProfiling.buildStats(qe)
      add("build.count", builds.count(!_.reused))
      add("build.reused", builds.count(_.reused))
      add("build.collect_ms", builds.filter(!_.reused).map(b => math.max(0L, b.collectMs)).sum)
      add("build.bytes", builds.filter(!_.reused).map(b => math.max(0L, b.dataBytes)).sum)
      val probes = RptProfiling.probeStats(qe)
      add("probe.count", probes.size)
      add("probe.rows_in", probes.map(p => math.max(0L, p.rowsIn)).sum)
      add("probe.rows_out", probes.map(p => math.max(0L, p.rowsOut)).sum)

      val jobs = tracer.jobsOf(s"$name|")
      val jobMs = unionMs(jobs.filter(_("span") == s"$name|exec").map(j =>
        (asLong(j("start_ms")), asLong(j("start_ms")) + asLong(j("dur_ms")))))
      val wallMs = (t4 - t0) * 1e3
      val unattributed = wallMs - (t3 - t0) * 1e3 - jobMs
      add("span.exec_jobs_ms", jobMs)
      add("span.unattributed_ms", unattributed)
      spans += Map("op" -> name, "wall_ms" -> wallMs, "children" -> Map(
        "construct_ms" -> (t1 - t0) * 1e3, "optimize_ms" -> (t2 - t1) * 1e3,
        "physical_ms" -> (t3 - t2) * 1e3, "execute_ms" -> (t4 - t3) * 1e3),
        "exec_jobs_ms" -> jobMs, "unattributed_ms" -> unattributed,
        "jobs" -> jobs)

      // the rule's inputs, recomputed on the rule-off plan, outside the span
      onOff(false)
      val plan = mk().queryExecution.optimizedPlan
      val g0 = now()
      val graph = JoinGraph.extract(plan)
      val g1 = now()
      val sched = TransferSchedule.largestRoot(graph, passMode)
      val g2 = now()
      onOff(true)
      add("rpt.graph_ms", (g1 - g0) * 1e3)
      add("rpt.schedule_ms", (g2 - g1) * 1e3)
      add("rpt.units", graph.units.size)
      add("rpt.edges", graph.edges.size)
      add("rpt.scheduled_ops", sched.size)
    }
    val (gc1, jit1) = Tracer.jvmTimes()
    add("jvm.gc_ms", gc1 - gc0)
    add("jvm.jit_ms", jit1 - jit0)
    val plan = tracer.total("|plan")
    add("plan.jobs", plan.jobs)
    val ex = tracer.total("|exec")
    ex.add(tracer.total("|construct"))
    ex.add(plan)
    ex.report(add)
    tracer.close()
    acc("probe.keep") =
      if (acc("probe.rows_in") > 0) acc("probe.rows_out") / acc("probe.rows_in")
      else 1.0
    layers ++= acc
    passS
  }

  private def asLong(v: Any): Long = v.asInstanceOf[Number].longValue

  /** Length of the union of [start, end) intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total.toDouble
  }
}

object JobShuffle {
  /** At this factor 17c gains about 2x; 2a, 8b and 18b are stand-downs
    * (the rule plans, the query must not slow down). */
  val Names = Seq("2a", "8b", "17c", "18b")
  val Factor = 0.005
  val Tables = Seq("title", "movie_companies", "movie_info",
    "movie_info_idx", "movie_keyword", "cast_info", "complete_cast",
    "comp_cast_type", "company_name", "company_type", "info_type",
    "keyword", "kind_type", "link_type", "movie_link", "name", "aka_name",
    "aka_title", "person_info", "char_name", "role_type")
}
