package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{FeatureStore, Inference, Similarity}
import graft.streaming.StreamingJobs

/** The benchmark's Spark process: runs one workload for a fixed time and
  * writes what it measured, raw, to `<out>/result.json`; perfbench/run.py
  * turns that into metrics and checks the outputs.
  *
  * Usage: Main --workload W --input DIR --work DIR --out DIR
  *             --seconds S --trace 0|1 --cores N
  *
  * With --trace 0 every operation runs as the program composes it. With
  * --trace 1 the first half of the time runs untraced and the second half
  * traced (spans, job groups, listeners), so the run reports the tracing
  * overhead against itself; stream has the job listener attached for the
  * whole run instead. */
object Main {
  final case class Args(workload: String, input: String, work: String,
                        out: String, seconds: Double, trace: Boolean, cores: Int)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("input"), m("work"), m("out"),
      m("seconds").toDouble, m("trace") == "1", m("cores").toInt)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session")
    val jobs = new JobListener
    if (a.trace) spark.sparkContext.addSparkListener(jobs)
    val tr = new Tracer(spark, a.trace)
    val res = mutable.LinkedHashMap[String, Any]()
    try {
      a.workload match {
        case "serve" => Serve.run(spark, a, tr, res)
        case "eval" | "corpus" => Pipeline.run(spark, a, tr, res)
        case "stream" => Stream.run(spark, a, tr, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (a.trace) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        res("groups") = jobs.snapshot
        res("spans") = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start" -> s.start,
          "plan_end" -> s.planEnd, "end" -> s.end, "rows" -> s.rows))
        res("leaks") = tr.leaks.map { case (op, n, mb) =>
          Map("op" -> op, "rdds" -> n, "mb" -> mb) }
      }
      res("peak_rss_mb") = peakRssMb()
      res("marks") = marks
    } catch {
      case e: Throwable =>
        res("error") = e.toString + "\n" + e.getStackTrace.take(12).mkString("\n")
    }
    Files.writeString(Paths.get(s"${a.out}/result.json"), Json(res))
    spark.stop()
  }

  /** Set-up phase boundaries (epoch ms), reported with the result. */
  val marks = mutable.LinkedHashMap[String, Long]()
  def mark(name: String): Unit = marks(name) = System.currentTimeMillis()

  /** The process's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Runs ops for `seconds` (at least `min` of them). Returns the wall
    * time in ms of each op that succeeded and the number that threw; `op(i)`
    * runs operation i. */
  def timed(seconds: Double, min: Int, first: Int)(op: Int => Unit)
      : (mutable.ArrayBuffer[Double], Int) = {
    val lat = mutable.ArrayBuffer[Double]()
    var failed = 0
    val t0 = System.nanoTime()
    var i = first
    while (lat.size + failed < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = System.nanoTime()
      try {
        op(i)
        lat += (System.nanoTime() - s) / 1e6
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
      }
      i += 1
    }
    (lat, failed)
  }
}

/** serve: one user per request, closed loop with one client. */
object Serve {
  def run(spark: SparkSession, a: Main.Args, tr: Tracer,
          res: mutable.Map[String, Any]): Unit = {
    val in = a.input
    val cfg = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get(s"$in/serve.json")))
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val nowS = (cfg \ "now_s").extract[Long]
    val ttl = (cfg \ "ttl_s").extract[Long]
    val k = (cfg \ "k").extract[Int]
    val n = (cfg \ "n").extract[Int]
    val weights = (cfg \ "weights").extract[Seq[Double]].toArray
    val users = Files.readAllLines(Paths.get(s"$in/requests.txt")).asScala
      .filter(_.nonEmpty).map(_.toLong).toIndexedSeq

    // setup: both stores are built through the batch form of the
    // streaming upsert, so they have the online store's bucket layout
    val featPath = s"${a.work}/feature_store"
    val seenPath = s"${a.work}/seen_store"
    StreamingJobs.upsertBucketedBatch(
      spark.read.parquet(s"$in/user_features.parquet"), Seq("user_id"), "ts",
      "event_id", featPath, 64)
    StreamingJobs.upsertBucketedBatch(spark.read.parquet(s"$in/seen.parquet"),
      Seq("user_id", "item_id"), "ts", "ts", seenPath, 64)
    val featStore = spark.read.parquet(featPath)
    val seenStore = spark.read.parquet(seenPath)
      .select(col("user_id").as("query_id"), col("item_id"))
    val items = spark.read.parquet(s"$in/items.parquet")
    val itemVec = items.select(col("vec_id").as("item_id"), col("embedding").as("__iv"))
    val parts = spark.read.parquet(s"$in/part.parquet")
      .select(col("p_partkey"), col("p_name"))
    val view = FeatureStore.FeatureView("user_embedding", Seq("user_id"), "ts", ttl)
    val now = timestamp_seconds(lit(nowS))

    def request(t: Tracer, u: Long): DataFrame = {
      val keys = spark.range(1).select(lit(u).as("user_id"))
      val feat = t.call("ops.featurestore") {
        FeatureStore.onlineLookup(featStore, view, keys, now, "event_id")
      }
      val top = t.call("ops.similarity") {
        Similarity.bruteForceTopK(feat.select(col("user_id"), col("embedding")),
          items, "user_id", "vec_id", "embedding", k, "cosine")
      }
      val unseen = t.call("query") {
        top.join(seenStore, Seq("query_id", "item_id"), "left_anti")
      }
      val scored = t.call("ops.inference") {
        unseen.join(broadcast(itemVec), Seq("item_id"))
          .withColumn("rerank", Inference.linearScore(col("__iv"), weights))
      }
      t.call("query") {
        scored.orderBy(col("rerank").desc, col("item_id")).limit(n)
          .join(broadcast(parts), col("item_id") === col("p_partkey"))
          .select(col("query_id"), col("item_id"), col("score"), col("rerank"),
            col("p_name"))
      }
    }
    val responses = mutable.ArrayBuffer[(Long, Seq[Row])]()
    def serveOne(t: Tracer)(i: Int): Unit = {
      val u = users(i % users.size)
      t.beginOp(i)
      val rows = request(t, u).collect().toSeq
        .sortBy(r => (-r.getAs[Double]("rerank"), r.getAs[Long]("item_id")))
      t.endOp()
      responses += ((u, rows))
    }
    Main.mark("stores")
    val plain = new Tracer(spark, false)
    val warm = 5
    (0 until warm).foreach(serveOne(plain))
    responses.clear()
    Main.mark("warm")
    res("first_op_ms") = System.currentTimeMillis()
    val (lat, failed) = Main.timed(if (tr.enabled) a.seconds / 2 else a.seconds,
      3, warm)(serveOne(plain))
    res("latency_ms") = lat
    res("failed_ops") = failed
    if (tr.enabled) {
      val (tlat, tfailed) = Main.timed(a.seconds / 2, 3, warm + lat.size + failed)(serveOne(tr))
      res("traced_latency_ms") = tlat
      res("traced_failed_ops") = tfailed
    }
    res("responses") = responses.map { case (u, rows) =>
      Map("user" -> u, "rows" -> rows.map(_.toSeq)) }
    res("store_files") = storeFiles(featPath) + storeFiles(seenPath)
    res("store_mb") = (storeBytes(featPath) + storeBytes(seenPath)) / 1048576.0
  }

  def storeFiles(p: String): Long = files(p).count(_.getName.endsWith(".parquet"))
  def storeBytes(p: String): Long =
    files(p).filter(_.getName.endsWith(".parquet")).map(_.length).sum
  private def files(p: String): Seq[java.io.File] = {
    val f = new java.io.File(p)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(c => files(c.getPath))
    else Seq(f)
  }
}
