package graft.tools

import graft.GraftSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, IsNotNull, Not, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * PLANNING-ONLY sweep over the real JOB workload: for every query, plan
 * rule-on (no execution) and report each injected probe site — which
 * table's scan carries the BloomFilterMightContain, and whether that same
 * scan also carries its own static selective predicate. Built to test the
 * round-16 hypothesis that the residual interactive-scale loser class
 * (8a/8b, 9*, 18b/c, 19*, ...) is exactly the set of queries whose probed
 * fact is ALREADY selectively filtered (the transfer re-cuts rows the
 * off-plan's pushed filter + first cheap join kill anyway), while the
 * winning siblings (8c/8d, 17*, 6*, 16*) probe an unfiltered fact.
 *
 * Output: one PROBESITES_JSON line per regime with, per query, the probed
 * tables and their filtered-ness plus rough byte sizes. Fast (~planning
 * only), safe to run on the full 113.
 *
 * Usage: SPARK_GRAFT_SF_DIR=<imdbDir> runMain graft.tools.ProbeSites
 */
object ProbeSites {

  private val tables = Seq("title", "movie_companies", "movie_info",
    "movie_info_idx", "movie_keyword", "cast_info", "complete_cast",
    "comp_cast_type", "company_name", "company_type", "info_type",
    "keyword", "kind_type", "link_type", "movie_link", "name", "aka_name",
    "aka_title", "person_info", "char_name", "role_type")

  private def isStaticSelective(e: Expression): Boolean = e match {
    case _: IsNotNull => false
    case _: Not => false
    case _ if e.exists(_.isInstanceOf[SubqueryExpression]) => false
    case _ if e.exists(_.isInstanceOf[BloomFilterMightContain]) => false
    // join-key equalities never appear in a single-relation filter, so any
    // remaining conjunct is a static user predicate
    case _ => true
  }

  private def leafTable(l: LeafNode): String = l match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption.map { p =>
        p.getName.stripSuffix(".parquet")
      }.getOrElse("?")
    case other => other.nodeName
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR"))
    val spark = GraftSession.build(appName = "graft-probe-sites")
    spark.sparkContext.setLogLevel("WARN")
    tables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val queries = JobRealQueries.all
      .filter { case (n, _) => only.isEmpty || only(n) }

    // scalastyle:off println
    Seq("broadcast" -> "10485760", "shuffle" -> "-1").foreach {
      case (regime, bc) =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
        val rows = queries.map { case (name, sql) =>
          spark.conf.set("spark.graft.rpt.enabled", "true")
          val plan = spark.sql(sql).queryExecution.optimizedPlan
          // each probe site: a Filter whose condition carries a BF probe;
          // PhysicalOperation peels it down to the scanned leaf
          val sites = plan.collect {
            case f: Filter if f.condition.exists(
                _.isInstanceOf[BloomFilterMightContain]) =>
              f
          }.flatMap { f =>
            val PhysicalOperation(_, filters, leaf) = (f: LogicalPlan)
            leaf match {
              case l: LeafNode =>
                val selective = filters.exists(isStaticSelective)
                Some((leafTable(l), selective,
                  l.stats.sizeInBytes.toLong))
              case _ => None
            }
          }.distinct
          val parts = sites.map { case (t, sel, bytes) =>
            s"""{"table":"$t","filtered":$sel,"bytes":$bytes}"""
          }.mkString("[", ",", "]")
          s""""$name":$parts"""
        }
        println(s"""PROBESITES_JSON {"regime":"$regime",${rows.mkString(",")}}""")
    }
    // scalastyle:on println
    spark.stop()
  }
}
