package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Features, FeatureStore}
import graft.streaming.StreamingJobs

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** stream: `windowedFeatures` -> `upsertOnlineStorePartitioned` fed from
  * a MemoryStream. A drain phase ingests a fixed backlog from an empty
  * checkpoint; then one generator thread sends the live events on their
  * schedule (an open loop: bursts with idle gaps longer than a trigger).
  * A query that fails is restarted from its checkpoint, at most
  * `MaxRestarts` times; every failure is recorded with its stack. */
object Stream {
  val MaxRestarts = 3

  def run(spark: SparkSession, a: Main.Args, tr: Tracer,
          res: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = s"${a.work}/stream_store"
    val ckpt = s"${a.work}/stream_ckpt"
    val progress = new ProgressListener(store)
    spark.streams.addListener(progress)
    val mem = MemoryStream[Ev]
    val backlog = spark.read.parquet(s"${a.input}/backlog.parquet").as[Ev].collect()
    val live = scala.io.Source.fromFile(s"${a.input}/live.csv").getLines()
      .filter(_.nonEmpty).map(_.split(",")).map(f =>
        (f(0).toLong, f(1).toDouble, f(2).toLong, f(3), f(4).toDouble)).toIndexedSeq

    def start(): StreamingQuery = {
      val feats = StreamingJobs.windowedFeatures(mem.toDF(), "user_id")
      StreamingJobs.upsertOnlineStorePartitioned(feats, Seq("user_id"),
        "window_end", "events", store, ckpt)
    }
    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    var q: StreamingQuery = null
    var restarts = 0
    /** Restarts a failed query from its checkpoint while restarts remain. */
    def watch(): Unit = if (q != null && !q.isActive) {
      q.exception.foreach { e =>
        val frames = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .flatMap(_.getStackTrace).find(_.getClassName.startsWith("graft."))
        failures += Map("at_ms" -> System.currentTimeMillis(),
          "error" -> e.getMessage.take(300),
          "location" -> frames.map(f => s"${f.getFileName}:${f.getLineNumber}").getOrElse(""))
      }
      q = if (restarts < MaxRestarts) { restarts += 1; start() } else null
    }

    res("first_op_ms") = System.currentTimeMillis()
    // drain: the whole backlog is one source offset, due at the start
    val drainStart = System.currentTimeMillis()
    val backlogOffset = offsetOf(mem.addData(backlog.toSeq))
    q = start()
    val drainDeadline = drainStart + 60000
    def drained = progress.batches.asScala.exists(_.endOffset >= backlogOffset)
    while (!drained && System.currentTimeMillis() < drainDeadline) {
      watch(); Thread.sleep(5)
    }
    // live: one generator thread sends each event at its due time
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double, Long)]()
    val liveStart = System.currentTimeMillis() + 200
    val gen = new Thread(() => live.foreach { case (id, dueOff, u, kind, v) =>
      val due = liveStart + dueOff
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val off = offsetOf(mem.addData(Seq(Ev(id, new Timestamp(due.toLong), u, kind, v,
        s"""{"k": ${id % 100}}"""))))
      sent.add((id, due, System.nanoTime() / 1e6 - nanoBase + baseMs, off))
    }, "perfbench-generator")
    gen.start()
    while (gen.isAlive) { watch(); Thread.sleep(5) }
    // grace: two trigger-sized idle periods for the last burst to land
    val end = System.currentTimeMillis() + 3000
    while (System.currentTimeMillis() < end) { watch(); Thread.sleep(5) }
    watch()
    if (q != null) q.stop()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    res("wall_ms") = System.currentTimeMillis() - drainStart
    res("backlog") = backlog.length
    res("drain_start_ms") = drainStart
    res("backlog_offset") = backlogOffset
    res("events") = sent.asScala.toSeq.map { case (id, due, s, off) =>
      Seq(id, due, s, off) }
    res("batches") = progress.batches.asScala.toSeq.map(b => Map(
      "run" -> b.runId, "batch" -> b.batchId, "start_offset" -> b.startOffset,
      "end_offset" -> b.endOffset, "start_ms" -> b.startMs,
      "durations" -> b.durations, "rows" -> b.inputRows,
      "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes,
      "buckets" -> b.buckets))
    res("run_ids") = progress.runIds.asScala.toSeq
    res("failures") = failures
    res("restarts") = restarts
    res("store_files") = Serve.storeFiles(store)
    res("store_mb") = Serve.storeBytes(store) / 1048576.0

    // output check, outside the timed region: the store must equal the
    // latest window per user over every event that was sent
    val all = (backlog.toSeq ++ sent.asScala.toSeq.sortBy(_._1).map {
      case (id, due, _, _) =>
        val (_, _, u, kind, v) = live.find(_._1 == id).get
        Ev(id, new Timestamp(due.toLong), u, kind, v, s"""{"k": ${id % 100}}""")
    }).toDS()
    val expected = FeatureStore.latestPerKey(
      Features.windowedActivity(all.toDF(), "user_id", "ts", "event_type", "value"),
      Seq("user_id"), "window_end", "events")
    val cols = Seq(col("user_id"), col("window_end"), col("clicks"), col("views"),
      col("events"), round(col("sum_value"), 6), round(col("avg_value"), 6),
      round(col("ctr"), 6))
    val exp = expected.select(cols: _*)
    val got =
      if (new java.io.File(store).exists) spark.read.parquet(store).select(cols: _*)
      else exp.limit(0)
    res("check_expected_rows") = exp.count()
    res("check_missing_rows") = exp.exceptAll(got).count()
    res("check_extra_rows") = got.exceptAll(exp).count()
  }

  private val baseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime() / 1e6

  private def offsetOf(o: Any): Long = o.toString.replaceAll("[^0-9-]", "").toLong
}
