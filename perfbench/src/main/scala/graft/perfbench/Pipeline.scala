package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.eval.RankingMetrics
import graft.ops.{Dedup, Relational, TextAnalysis}

/** eval and corpus: a registry pipeline run whole, over and over.
  *
  * The timed runs call the registry query itself. The traced half calls
  * the same library functions in the same order as the registry body
  * (the mirrors below), one span per call, because a span can only be set
  * from outside a public call; the run checks that the mirror's output
  * equals the registry's. */
object Pipeline {
  val query = Map("eval" -> "c7_e2e_eval", "corpus" -> "c2_corpus_pipeline")

  def run(spark: SparkSession, a: Main.Args, tr: Tracer,
          res: mutable.Map[String, Any]): Unit = {
    val name = query(a.workload)
    val fn = SparkEntry.queries(name)
    val mirror: (Tracer, SparkSession, String) => DataFrame =
      if (a.workload == "eval") c7 else c2
    // warm-up: one untimed iteration (codegen, parquet readers, JIT)
    fn(spark, a.input).collect()
    Main.mark("warm")
    res("first_op_ms") = System.currentTimeMillis()
    var last: Array[org.apache.spark.sql.Row] = null
    var schema: org.apache.spark.sql.types.StructType = null
    val (lat, failed) = Main.timed(if (tr.enabled) a.seconds / 2 else a.seconds, 1, 0) { _ =>
      val df = fn(spark, a.input)
      last = df.collect()
      schema = df.schema
    }
    res("latency_ms") = lat
    res("failed_ops") = failed
    if (tr.enabled) {
      var traced: Array[org.apache.spark.sql.Row] = null
      val (tlat, tfailed) = Main.timed(a.seconds / 2, 1, lat.size + failed) { i =>
        tr.beginOp(i)
        traced = mirror(tr, spark, a.input).collect()
        tr.endOp()
      }
      res("traced_latency_ms") = tlat
      res("traced_failed_ops") = tfailed
      res("trace_equal") = traced != null && last != null &&
        traced.map(_.toString).sorted.sameElements(last.map(_.toString).sorted)
    }
    if (last == null) return
    val df = spark.createDataFrame(last.toList.asJava, schema)
    df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/result.parquet")
    Files.writeString(Paths.get(s"${a.out}/oracle.sql"), SparkEntry.oracleSql(name))
  }

  /** `c7_e2e_eval` (QueriesEval), one span per library call. */
  def c7(t: Tracer, s: SparkSession, d: String): DataFrame = {
    val ks = Seq(5, 10, 20, 50, 100)
    val li = t.call("sources")(SparkEntry.T(s, d, "lineitem"))
    val od = t.call("sources")(SparkEntry.T(s, d, "orders"))
    val base = li.join(od, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("it"),
        col("l_quantity").as("rating"), col("l_shipdate").as("sd"))
    val labeled = t.call("ops.relational")(Relational.implicitLabels(base, "rating", 25.0))
    val inter = t.call("query") {
      labeled.filter(col("label") === 1)
        .groupBy(col("u"), col("it")).agg(min(col("sd")).as("ts"))
        .localCheckpoint()
    }
    val core0 = t.call("ops.relational")(Relational.kCore(inter, "u", "it", 5, 5, 3))
    val core = t.call("query")(core0.localCheckpoint())
    val split0 = t.call("ops.relational") {
      Relational.timeSplit(
        core.withColumn("__tb", format_string("%020d%020d", col("u"), col("it"))),
        "ts", "__tb", 0.8, 0.1)
    }
    val split = t.call("query")(split0.localCheckpoint())
    val predGt = t.call("query") {
      val train = split.filter(col("split") === "train").select(col("u"), col("it"))
      val test = split.filter(col("split") === "test").select(col("u"), col("it"))
      val pop = train.groupBy(col("it")).agg(count(lit(1)).as("c"))
      val top100Arr = pop.orderBy(col("c").desc, col("it")).limit(100)
        .agg(sort_array(collect_list(struct((-col("c")).as("nc"), col("it"))))
          .as("__t"))
        .select(transform(col("__t"), x => x.getField("it")).as("__arr"))
      val users = split.select(col("u")).distinct()
      val topItems = top100Arr.select(explode(col("__arr")).as("it"))
      val seen = train.join(broadcast(topItems), Seq("it"), "left_semi")
        .groupBy(col("u")).agg(collect_set(col("it")).as("__excl"))
      val pred = users.join(seen, Seq("u"), "left")
        .crossJoin(broadcast(top100Arr))
        .select(col("u"),
          when(col("__excl").isNull, col("__arr"))
            .otherwise(filter(col("__arr"),
              x => !array_contains(col("__excl"), x))).as("pred"))
      val gt = test.groupBy(col("u"))
        .agg(sort_array(collect_set(col("it"))).as("gt"))
      gt.join(pred, Seq("u"), "left")
        .withColumn("pred",
          coalesce(col("pred"), array().cast(pred.schema("pred").dataType)))
        .localCheckpoint()
    }
    val per = t.call("eval")(RankingMetrics.perUserMetrics(predGt, "pred", "gt", ks))
    t.call("query") {
      val metricCols = ks.flatMap(k => Seq(s"recall_at_$k", s"precision_at_$k",
        s"ndcg_at_$k", s"hit_rate_at_$k")) ++ Seq("mrr", "map")
      val means = per.filter(size(col("gt")) > 0).agg(
        count(lit(1)).as("n_users"),
        metricCols.map(c => round(avg(col(c)), 6).as(c)): _*)
      val cov = predGt.select(explode(slice(col("pred"), 1, 100)).as("it"))
        .agg(countDistinct(col("it")).as("nd"))
      val cat = inter.agg(countDistinct(col("it")).as("nc"))
      means.crossJoin(cov).crossJoin(cat)
        .withColumn("coverage", col("nd") / col("nc"))
        .drop("nd", "nc")
    }
  }

  /** `c2_corpus_pipeline` (QueriesLlm), one span per library call. */
  def c2(t: Tracer, s: SparkSession, d: String): DataFrame = {
    val raw = t.call("sources")(SparkEntry.T(s, d, "documents"))
    val docs = t.call("ops.dedup") {
      raw.withColumn("__norm", Dedup.normalizeText(col("text")))
        .withColumn("__tokens", split(col("__norm"), " "))
    }
    val q = docs.filter(size(col("__tokens")) >= 30)
    val ex = t.call("ops.dedup")(Dedup.exactDedupFromNorm(q, "doc_id", "__norm"))
    val pairs = t.call("ops.dedup") {
      Dedup.tokenJaccardPairsFromTokens(ex, "doc_id", "__tokens", 0.7,
        bucketCols = Seq("lang", "source"))
    }
    val cc = t.call("ops.dedup")(Dedup.connectedComponents(pairs, "id1", "id2"))
    val resolved = ex.join(
      cc.filter(col("id") =!= col("component")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    val sp0 = t.call("ops.relational") {
      Relational.hashSplit(resolved, "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
    }
    val sp = t.call("query") {
      sp0.select(col("doc_id"), col("lang"), col("source"), col("split"),
        col("__tokens")).localCheckpoint(true)
    }
    val train = sp.filter(col("split") === "train")
    val test = sp.filter(col("split") === "test")
    val report = t.call("ops.text") {
      TextAnalysis.decontaminationReportFromTokens(train, test, "doc_id", "__tokens", n = 5)
    }
    val clean = train.join(
      report.filter(col("contaminated")).select(col("doc_id")), Seq("doc_id"), "left_anti")
    val capped = t.call("ops.relational") {
      Relational.capPerGroup(clean, Seq("lang"), 40, col("doc_id"))
    }
    t.call("query") {
      capped.select(col("doc_id"), col("lang"), col("source")).orderBy(col("doc_id"))
    }
  }
}
