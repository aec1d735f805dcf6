package graft.tools

import graft.GraftSession
import graft.rpt.{AdaptiveProbe, RptConf}

/**
 * Payoff probe for the within-query adaptive probe drop
 * ([[graft.rpt.AdaptiveProbe]] — the reference's
 * `SelectivityOptionalFilter(1, 1000000)` wrap,
 * physical_create_bf.cpp:326-328).
 *
 * Two probe regimes on the sf fixture, both passing every planning-time
 * gate (the build carries a static filter beyond IsNotNull):
 *
 *  - WEAK: a LIKE / computed predicate that happens to keep every row —
 *    selective-LOOKING and unpriceable by footer stats, so every
 *    planning-time gate admits the build, the spliced probe keeps ~100%,
 *    and the per-row hash+bloom pays for nothing. The drop should
 *    recover most of the probe cost on THIS run.
 *  - STRONG: a top-~1% `o_totalprice` band — the probe cuts ~99% of
 *    lineitem. The drop must never fire here; its two counter
 *    increments per sampled row must not measurably slow the probe.
 *
 * Configs per regime: rule off / rule on bare / rule on + adaptive drop.
 * Min-of-N wall seconds, results asserted equal, one JSON line.
 *
 * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.AdaptiveDropProbe [runs]
 */
object AdaptiveDropProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = args.headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.build(appName = "graft-adaptive-drop-probe")
    spark.sparkContext.setLogLevel("WARN")

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val priceCut = orders.selectExpr("percentile_approx(o_totalprice, 0.99)")
      .collect()(0).getDouble(0)

    // two edges (the rule bails at minEdges <= 1); the filtered table's
    // build probes the next fact up the chain. LIGHT=1 swaps the lineitem
    // hub for an orders hub (orders⋈customer⋈nation) — at sf100 the
    // lineitem form accumulates too much shuffle for a single JVM (sf100
    // shuffle files are reclaimed at JVM exit only), and the weak probe
    // under test lands on the orders scan either way.
    val light = sys.env.get("SPARK_GRAFT_ADAPT_LIGHT").contains("1")
    def q(table: String, pred: String): org.apache.spark.sql.DataFrame = {
      val c = spark.read.parquet(s"$sfDir/customer.parquet")
      val o = if (table == "orders") orders.where(pred) else orders
      val cf = if (table == "customer") c.where(pred) else c
      if (light) {
        val n = spark.read.parquet(s"$sfDir/nation.parquet")
        o.join(cf, o("o_custkey") === cf("c_custkey"))
          .join(n, cf("c_nationkey") === n("n_nationkey"))
          .selectExpr("sum(o_totalprice) as s", "count(*) as n")
      } else {
        val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(cf, o("o_custkey") === cf("c_custkey"))
          .selectExpr("sum(l_extendedprice) as s", "count(*) as n")
      }
    }

    // the weak predicate must be one footer stats can NOT price, or the
    // planning-time keep-fraction gate (measuredUnselective) skips the
    // probe before the drop ever sees it — measured here: `o_totalprice
    // > 0` is statically visible as keep-1.0 and the rule plans no probe
    // at all. A LIKE / computed predicate that happens to match every row
    // is the realistic escape: selective-LOOKING, unpriceable at planning
    // time. At sf1 it rides on orders (1.5M — under the build cap, its
    // probe covers the 6M-row lineitem); at sf10+ orders exceeds the cap,
    // so the weak build moves to customer (always a decade under orders)
    // and its probe covers orders.
    val (weakTable, weakPred) =
      if (spark.read.parquet(s"$sfDir/orders.parquet").count() > 8000000L)
        ("customer", "length(c_mktsegment) > 3")
      else ("orders", "o_orderpriority LIKE '%-%'")
    // SPARK_GRAFT_ADAPT_REGIMES=weak limits the sweep (sf100 disk budget)
    val regimeFilter = sys.env.get("SPARK_GRAFT_ADAPT_REGIMES")
      .map(_.split(",").map(_.trim).toSet)
    val regimes = Seq(
      "weak" -> (weakTable, weakPred),
      "strong" -> (("orders", s"o_totalprice > $priceCut")))
      .filter { case (n, _) => regimeFilter.forall(_.contains(n)) }

    val configs = Seq(
      "off" -> Seq(RptConf.ENABLED -> "false"),
      "on" -> Seq(RptConf.ENABLED -> "true",
        RptConf.ADAPTIVE_PROBE -> "false"),
      "adapt" -> Seq(RptConf.ENABLED -> "true",
        RptConf.ADAPTIVE_PROBE -> "true"))

    val base = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")

    def withConf[T](pairs: Seq[(String, String)])(body: => T): T = {
      val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    for ((rname, (wtable, pred)) <- regimes) {
      // warm the page cache + codegen caches before any timed window, or
      // the first config measured pays cold I/O the later ones don't
      withConf(base :+ (RptConf.ENABLED -> "false")) { q(wtable, pred).collect() }
      val results = scala.collection.mutable.Map[String, String]()
      for ((cname, confs) <- configs) {
        withConf(base ++ confs) {
          if (sys.env.contains("GRAFT_DEBUG_PLAN") && cname == "adapt") {
            // scalastyle:off println
            println(s"=== $rname/$cname optimized plan ===")
            println(q(wtable, pred).queryExecution.optimizedPlan.toString)
            // scalastyle:on println
          }
          var best = Double.MaxValue
          var disables = 0L
          for (_ <- 1 to runs) {
            AdaptiveProbe.resetDisables()
            val t0 = System.nanoTime()
            val rows = q(wtable, pred).collect()
            val sec = (System.nanoTime() - t0) / 1e9
            // double sums are order-dependent (the drop legitimately
            // changes partial-agg row order); compare at 9 sig digits
            results(cname) = rows.map(r => (0 until r.length).map {
              case i if r.get(i).isInstanceOf[Double] =>
                "%.8e".format(r.getDouble(i))
              case i => String.valueOf(r.get(i))
            }.mkString(",")).mkString(";")
            if (sec < best) best = sec
            disables = math.max(disables, AdaptiveProbe.disables)
          }
          out(s"${rname}_${cname}_sec") = math.round(best * 1000) / 1000.0
          if (cname == "adapt") out(s"${rname}_disables") = disables
        }
      }
      require(results.values.toSet.size == 1,
        s"$rname results diverged across configs: $results")
    }

    // DEEP regime (SPARK_GRAFT_ADAPT_DEEP=1): the q35 8-probe plan whose
    // bare-vs-wrapped delta is the whole default-on question (RPTBENCH_r13
    // part 3 finding 2: ~7% per-row mechanics tax with ZERO latches on the
    // old two-branch codegen). Same-JVM min-of-N of rule-on bare vs
    // rule-on wrapped — cross-JVM q35 runs wobble more than the delta
    // under test. All probes here are selective (none latch), so the
    // wrapped time isolates the steady-state fast-path cost.
    if (sys.env.get("SPARK_GRAFT_ADAPT_DEEP").contains("1")) {
      val d = graft.queries.RelationalQueries.defs
        .find(_.name == "q35_job_depth").get
      def deepQ() = d.fn(spark, sfDir)
      withConf(base :+ (RptConf.ENABLED -> "true")) { deepQ().collect() }
      for ((cname, flag) <- Seq("bare" -> "false", "wrapped" -> "true")) {
        withConf(base ++ Seq(RptConf.ENABLED -> "true",
            RptConf.ADAPTIVE_PROBE -> flag)) {
          var best = Double.MaxValue
          for (_ <- 1 to runs) {
            AdaptiveProbe.resetDisables()
            val t0 = System.nanoTime()
            deepQ().collect()
            val sec = (System.nanoTime() - t0) / 1e9
            if (sec < best) best = sec
          }
          out(s"deep_${cname}_sec") = math.round(best * 1000) / 1000.0
          if (cname == "wrapped") out("deep_disables") = AdaptiveProbe.disables
        }
      }
    }

    val json = out.map {
      case (k, v: Double) => s""""$k":$v"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    // scalastyle:off println
    println(json)
    // scalastyle:on println
    spark.stop()
  }
}
