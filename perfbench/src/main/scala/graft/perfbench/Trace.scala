package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One layer-boundary span: `name` is the layer, `op` the operation
  * (request or iteration) it belongs to. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, planEnd: Long, end: Long, rows: Long)

/** Spans around calls into the program's layers, recorded from outside.
  *
  * Disabled, [[call]] only evaluates its argument, so the untraced run
  * composes the same lazy plan the program would. Enabled, it sets the
  * Spark job group "s<id>.plan" while the layer's public function builds
  * its plan, then materializes the result under "s<id>.exec", so each
  * job the [[JobListener]] sees belongs to exactly one span and phase.
  * Materialization is a local checkpoint: later layers read the rows, not
  * a re-run of the plan, which keeps the traced output equal to the
  * untraced one. The tracer's own checkpoint RDDs (those that appear
  * while it checkpoints) are unpersisted by [[endOp]] before the leak
  * counters are read. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var op = -1
  private val ownRdds = mutable.Set[Int]()
  // one row per op: (op, persisted RDDs left by the program, their MB)
  val leaks = mutable.ArrayBuffer[(Int, Int, Double)]()

  /** Starts operation `id`; spans opened until [[endOp]] belong to it. */
  def beginOp(id: Int): Unit = op = id

  /** Ends the current operation: drops the tracer's checkpoints, then
    * records the persisted RDDs the program left behind. */
  def endOp(): Unit = if (enabled) {
    ownRdds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    ownRdds.clear()
    sc.clearJobGroup()
    val infos = sc.getRDDStorageInfo
    leaks += ((op, sc.getPersistentRDDs.size,
      infos.map(i => i.memSize + i.diskSize).sum / 1048576.0))
  }

  /** Calls one layer's public function and, traced, materializes its
    * output at the boundary. */
  def call(name: String)(plan: => DataFrame): DataFrame =
    if (!enabled) plan
    else {
      val (id, t0) = open(name, "plan")
      var planEnd = 0L
      var rows = 0L
      var out: DataFrame = null
      try {
        val df = try plan finally planEnd = System.nanoTime()
        sc.setJobGroup(s"s$id.exec", name)
        val before = sc.getPersistentRDDs.keySet
        out = df.localCheckpoint(eager = true)
        ownRdds ++= sc.getPersistentRDDs.keySet -- before
        sc.setJobGroup("trace", "trace")
        rows = out.count()
      } finally close(id, name, t0, planEnd, rows)
      out
    }

  private def open(name: String, phase: String): (Int, Long) = {
    val id = nextId
    nextId += 1
    stack = id :: stack
    sc.setJobGroup(s"s$id.$phase", name)
    (id, System.nanoTime())
  }

  private def close(id: Int, name: String, t0: Long, planEnd: Long,
                    rows: Long): Unit = {
    val t1 = System.nanoTime()
    stack = stack.tail
    spans += Span(id, name, stack.headOption.getOrElse(-1), op, t0,
      math.min(planEnd, t1), t1, rows)
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"s$p.exec", "")
      case None => sc.clearJobGroup()
    }
  }
}

/** Per-job-group counters, summed from task ends. A stage is attributed
  * to the job group in its submission properties, so stages that AQE or
  * a broadcast submit from other threads still land on the span that
  * caused them. Streaming micro-batch jobs carry the query's run id as
  * their group. */
final class JobListener extends SparkListener {
  final class Counters {
    var jobs, tasks, retries = 0L
    var runMs, cpuNs, shuffleBytes, spillBytes, gcMs, schedDelayMs = 0L
  }
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
  private def counters(g: String): Counters =
    groups.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    counters(g).synchronized { counters(g).jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, group(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, ""))
    val info = e.taskInfo
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (info.attemptNumber > 0 || info.failed || info.killed) c.retries += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        val duration = info.finishTime - info.launchTime
        c.schedDelayMs += math.max(0L, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }

  def snapshot: Map[String, Map[String, Long]] = groups.asScala.map {
    case (g, c) => g -> c.synchronized(Map(
      "jobs" -> c.jobs, "tasks" -> c.tasks, "retries" -> c.retries,
      "run_ms" -> c.runMs, "cpu_ns" -> c.cpuNs,
      "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
      "gc_ms" -> c.gcMs, "sched_delay_ms" -> c.schedDelayMs))
  }.toMap
}

/** Micro-batch progress as the streaming engine reports it, and the run
  * id of every (re)started query, which is the job group of its
  * micro-batch jobs. Offsets are MemoryStream positions: a batch makes
  * visible the events at offsets in (start, end]. `buckets` counts the
  * store's bucket directories holding a file written since the batch
  * started. */
final class ProgressListener(storePath: String) extends StreamingQueryListener {
  final case class Batch(runId: String, batchId: Long, startOffset: Long,
                         endOffset: Long, startMs: Long, durations: Map[String, Long],
                         inputRows: Long, stateRows: Long, stateBytes: Long,
                         buckets: Int)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  private def offset(s: String): Long =
    Option(s).map(_.trim).filter(_.nonEmpty).filter(_ != "null")
      .map(_.replaceAll("[^0-9-]", "")).filter(_.nonEmpty)
      .map(_.toLong).getOrElse(-1L)

  val runIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    runIds.add(e.runId.toString)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    batches.add(Batch(p.runId.toString, p.batchId,
      src.map(s => offset(s.startOffset)).getOrElse(-1L),
      src.map(s => offset(s.endOffset)).getOrElse(-1L),
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum,
      touchedBuckets(java.time.Instant.parse(p.timestamp).toEpochMilli)))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  private def touchedBuckets(sinceMs: Long): Int =
    Option(new java.io.File(storePath).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("__bucket="))
      .count(d => Option(d.listFiles()).toSeq.flatten.exists(_.lastModified >= sinceMs))
}
