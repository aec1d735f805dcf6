package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-span execution counters fed by a SparkListener. A span is the label
  * the calling thread carries in the local property [[Tracer.Key]] while it
  * runs one phase of one query; Spark copies local properties into every
  * job, stage and task that phase launches, so attribution needs no
  * instrumentation inside the library. Job spans keep their SQL execution
  * id for the span file. Spark delivers one listener's events on a single
  * thread; readers call [[ListenerBusAccess.drain]] first. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val bySpan = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long, String)]()
  private val jobs = mutable.ArrayBuffer[Map[String, Any]]()

  private def counters(span: String): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach {
        span =>
          counters(span).jobs += 1
          jobStart.put(e.jobId, (span, e.time,
            Option(e.properties.getProperty("spark.sql.execution.id"))
              .getOrElse("")))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0, exec) =>
        jobs.synchronized(jobs += Map("span" -> span, "job" -> e.jobId,
          "sql_execution_id" -> exec, "start_ms" -> t0,
          "dur_ms" -> (e.time - t0)))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach {
        span =>
          counters(span).stages += 1
          stageSpan.put(e.stageInfo.stageId, span)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (span <- Option(stageSpan.get(e.stageId));
           m <- Option(e.taskMetrics)) {
        val c = counters(span)
        c.tasks += 1
        c.busyMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inBytes += m.inputMetrics.bytesRead
        c.inRows += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
  }
  sc.addSparkListener(listener)

  /** Runs `f` with every Spark job it launches attributed to `span`. */
  def within[T](span: String)(f: => T): T = {
    sc.setLocalProperty(Key, span)
    try f finally sc.setLocalProperty(Key, null)
  }

  /** Finished job spans whose span label starts with `prefix`. */
  def jobsOf(prefix: String): Seq[Map[String, Any]] = {
    ListenerBusAccess.drain(sc)
    jobs.synchronized(jobs.filter(_("span").toString.startsWith(prefix)).toSeq)
  }

  /** Counters summed over every span whose label ends with `suffix`. */
  def total(suffix: String): Counters = {
    ListenerBusAccess.drain(sc)
    val t = new Counters
    bySpan.asScala.foreach { case (k, c) => if (k.endsWith(suffix)) t.add(c) }
    t
  }

  def close(): Unit = {
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(listener)
  }
}

object Tracer {
  val Key = "perfbench.span"

  final class Counters {
    var jobs, stages, tasks, busyMs, gcMs, inBytes, inRows = 0L
    var shuffleBytes, shuffleRecords, fetchWaitMs = 0L
    /** Reports these counters as the per-layer execution, scan and
      * shuffle metrics. */
    def report(add: (String, Double) => Unit): Unit = {
      add("exec.jobs", jobs); add("exec.stages", stages)
      add("exec.tasks", tasks); add("exec.task_busy_ms", busyMs)
      add("exec.task_gc_ms", gcMs)
      add("scan.bytes_read", inBytes); add("scan.rows_read", inRows)
      add("shuffle.bytes_written", shuffleBytes)
      add("shuffle.records_written", shuffleRecords)
      add("shuffle.fetch_wait_ms", fetchWaitMs)
    }
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      busyMs += o.busyMs; gcMs += o.gcMs
      inBytes += o.inBytes; inRows += o.inRows
      shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
      fetchWaitMs += o.fetchWaitMs
    }
  }

  /** Hadoop FileSystem (bytes read, read ops) summed over every scheme. */
  @annotation.nowarn("cat=deprecation")
  def fsRead(): (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getReadOps.toLong).sum)
  }

  /** (total GC ms, total JIT compilation ms) of this JVM so far. */
  def jvmTimes(): (Long, Long) = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    (gc, jit)
  }
}
