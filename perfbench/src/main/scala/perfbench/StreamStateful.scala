package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{GraftSession, SparkEntry}
import graft.streaming.{Event, StreamingOps}

/** The stateful streaming operators fed one time-ordered file per trigger
  * into a memory sink. The files are split once per build
  * ([[StreamStateful.generate]]). Events get one far-future sentinel row,
  * as in the registry drains, so every window, session and dedup entry
  * closes and each op's final output is comparable with its drain. */
final class StreamStateful(cfg: Main.Config) extends Workload(cfg) {
  import StreamStateful._

  private val evDir = s"${cfg.inputs}/stream/events"
  private val docDir = s"${cfg.inputs}/stream/docs"
  private var runs = 0

  /** Files per trigger: 1 in measured passes; the warmup takes them
    * `WarmupFilesPerTrigger` at a time, which runs the same code in fewer
    * triggers. */
  private var filesPerTrigger = 1

  private def fileStream(dir: String, schema: String): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(dir)

  /** (name, streamed plan, projection of the sink for the check, drain). */
  private def ops: Seq[(String, () => DataFrame, DataFrame => DataFrame, String)] = {
    val session = spark
    import session.implicits._
    def events() = fileStream(evDir, EventSchema)
    Seq(
      ("v08_hourly_rollup", () => StreamingOps.hourlyRollup(events()),
        (t: DataFrame) => t.where(s"event_type <> '$Sentinel'"),
        "v08_stream_hourly_rollup"),
      ("v09_sessionize_lite", () => StreamingOps.sessionizeLite(
          events().as[Event], gapSeconds = 1800, watermark = "30 minutes").toDF(),
        (t: DataFrame) => t.where("user_id >= 0").groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions")),
        "v09_stream_sessionize"),
      ("v10_interval_join", () => {
          val src = events()
          StreamingOps.intervalJoin(src.where("event_type = 'click'"),
            src.where("event_type = 'purchase'"))
        },
        (t: DataFrame) => t.selectExpr("user_id", "l_event_id", "r_event_id",
          "unix_micros(l_ts) AS l_us", "unix_micros(r_ts) AS r_us"),
        "v10_stream_interval_join"),
      ("v11_dedup_exact", () => StreamingOps.dedupExact(
          fileStream(docDir, DocSchema)),
        (t: DataFrame) => t.selectExpr("md5(text) AS h"),
        "v11_stream_dedup_exact"))
  }

  override protected def prepare(): Unit =
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

  /** Streams one op to completion; returns (wall s, executed triggers,
    * fingerprint of the checked projection, error). */
  private def runOp(name: String, mk: () => DataFrame, post: DataFrame => DataFrame,
      tracer: Option[Tracer] = None)
      : (Double, Seq[StreamingQueryProgress], Option[String], Option[String]) = {
    runs += 1
    val sink = s"perfbench_${name}_$runs"
    val ckpt = s"${cfg.work}/ckpt/$sink"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val t0 = now()
    try {
      val progress = tracer.fold(drive(mk(), sink, ckpt))(
        _.within(s"$name|exec")(drive(mk(), sink, ckpt)))
      val s = now() - t0
      val fp = Fingerprint.of(post(spark.table(sink)).collect())
      (s, progress, Some(fp), None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        (now() - t0, Nil, None, Some(Workload.describe(e)))
    } finally spark.catalog.dropTempView(sink)
  }

  private def drive(df: DataFrame, sink: String, ckpt: String)
      : Seq[StreamingQueryProgress] = {
    val q = df.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    q.recentProgress.filter(_.durationMs.containsKey("addBatch")).toSeq
  }

  private def record(name: String, passNo: Int,
      r: (Double, Seq[StreamingQueryProgress], Option[String], Option[String]))
      : Unit = {
    val (s, progress, fp, err) = r
    execs += Map("op" -> name, "pass" -> passNo, "rule" -> "on", "s" -> s,
      "ok" -> err.isEmpty, "fp" -> fp, "err" -> err,
      "rows" -> progress.map(_.numInputRows).sum,
      "triggers" -> progress.map { p =>
        Map("s" -> p.durationMs.get("triggerExecution").longValue / 1e3,
          "rows" -> p.numInputRows)
      })
  }

  override protected def warmup(): Unit = {
    filesPerTrigger = WarmupFilesPerTrigger
    try shuffled(ops).foreach { case (name, mk, post, _) =>
      record(name, Warmup, runOp(name, mk, post))
    } finally filesPerTrigger = 1
  }

  override protected def pass(k: Int): Seq[(String, Double)] = {
    var total = 0.0
    shuffled(ops).foreach { case (name, mk, post, _) =>
      val r = runOp(name, mk, post)
      record(name, k, r)
      total += r._1
    }
    Seq("on" -> total)
  }

  /** One pass with Spark jobs attributed per op and every trigger split
    * into the engine's own `durationMs` phases. */
  override protected def tracedPass(): Double = {
    val tracer = new Tracer(spark)
    val acc = scala.collection.mutable.LinkedHashMap[String, Double]()
      .withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    val (gc0, jit0) = Tracer.jvmTimes()
    var passS = 0.0
    shuffled(ops).foreach { case (name, mk, post, _) =>
      val (s, progress, _, _) = runOp(name, mk, post, Some(tracer))
      passS += s
      var trigMs = 0.0
      progress.foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
        def ms(k: String) = d.getOrElse(k, 0.0)
        Phases.foreach { case (key, metric) => add(metric, ms(key)) }
        val trig = ms("triggerExecution")
        trigMs += trig
        add("span.unattributed_ms", trig - Phases.map(x => ms(x._1)).sum)
        p.stateOperators.foreach { so =>
          add("stream.state_commit_ms", so.commitTimeMs)
          add("stream.late_rows_dropped", so.numRowsDroppedByWatermark)
        }
        spans += Map("op" -> name, "batch" -> p.batchId, "trigger_ms" -> trig,
          "children" -> Phases.map { case (k, _) => k -> ms(k) }.toMap,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
      }
      progress.lastOption.foreach { p =>
        add("stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum)
        add("stream.state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
      }
      add("span.unattributed_ms", s * 1e3 - trigMs)
    }
    val (gc1, jit1) = Tracer.jvmTimes()
    add("jvm.gc_ms", gc1 - gc0)
    add("jvm.jit_ms", jit1 - jit0)
    val ex = tracer.total("|exec")
    ex.report(add)
    tracer.close()
    layers ++= acc
    passS
  }

  /** Each op's registry drain, run once after all timing: the expected
    * final output of every streamed run of that op. */
  override protected def finish(): Unit = {
    val defs = SparkEntry.allDefs.map(d => d.name -> d).toMap
    ops.foreach { case (name, _, _, drain) =>
      val fp = try Some(Fingerprint.of(defs(drain).fn(spark, cfg.data).collect()))
        catch { case scala.util.control.NonFatal(_) => None }
      checks += Map("op" -> name, "kind" -> "drain", "drain" -> drain,
        "fp" -> fp)
    }
  }
}

object StreamStateful {
  /** Splits events (plus the sentinel) and documents under `data` into
    * `Files` time-ranged files each under `dir`, stamped so that they
    * arrive in time order. */
  def generate(spark: SparkSession, data: String, dir: String): Unit = {
    val ev = GraftSession.normalizeTs(spark.read.parquet(s"$data/events.parquet"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    val maxTs = ev.agg(max("ts")).head.getTimestamp(0)
    val sentinel = spark.range(1).select(lit(-1L).as("event_id"),
      lit(new java.sql.Timestamp(maxTs.getTime + 4L * 3600 * 1000)).as("ts"),
      lit(-1L).as("user_id"), lit(Sentinel).as("event_type"),
      lit(0.0).as("value"))
    ev.unionByName(sentinel).repartitionByRange(Files, col("ts"))
      .write.mode("overwrite").parquet(s"$dir/events")
    spark.read.parquet(s"$data/documents.parquet")
      .select(col("doc_id"), col("text"),
        expr("timestamp_micros(1000000000 + doc_id)").as("ts"))
      .repartitionByRange(Files, col("ts"))
      .write.mode("overwrite").parquet(s"$dir/docs")
    Seq("events", "docs").foreach { d =>
      new java.io.File(s"$dir/$d").listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1600000000000L + i * 60000L)
        }
    }
  }

  val Files = 4
  val WarmupFilesPerTrigger = 2
  val Sentinel = "__perfbench_sentinel"
  val EventSchema =
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
  val DocSchema = "doc_id LONG, text STRING, ts TIMESTAMP"
  /** `durationMs` phase -> per-layer metric. */
  val Phases = Seq(
    "latestOffset" -> "stream.latest_offset_ms",
    "getBatch" -> "stream.get_batch_ms",
    "queryPlanning" -> "stream.planning_ms",
    "addBatch" -> "stream.add_batch_ms",
    "walCommit" -> "stream.wal_ms",
    "commitOffsets" -> "stream.commit_offsets_ms")
}
