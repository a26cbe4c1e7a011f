package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{QualityMonitor, TopKMonitor}

/** Streaming data-quality monitor: per-micro-batch rule metrics land
  * in the metrics table with exact counts, the batch evaluator is a
  * single aggregate pass however many rules are attached, and a
  * replayed batch (both monitors) replaces its rows rather than adding
  * a second copy.
  */
class QualityMonitorSpec extends SparkTestBase {
  import spark.implicits._

  private val rules = Seq(
    ("v_nonneg", col("v") >= 0L),
    ("v_small", col("v") < 100L),
    ("id_odd", col("id") % 2 === 1L))

  test("batch metrics: exact counts, single aggregate pass") {
    val df = (0 until 10).map(i => (i.toLong, (i * 30 - 30).toLong))
      .toDF("id", "v")
    val m = QualityMonitor.batchMetrics(df, rules)
    // one Aggregate however many rules — not one per rule
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val nAgg = m.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a
    }.size
    assert(nAgg === 1, s"evaluator re-plans the aggregate: $nAgg")
    val rows = m.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // v = 30i-30 ∈ {-30, 0, ..., 240}: one negative; ≥100 for i≥5
    assert(rows("v_nonneg") === (10L, 1L))
    assert(rows("v_small") === (10L, 5L))
    assert(rows("id_odd") === (10L, 5L))
  }

  test("null predicate counts as violation (unknown never passes)") {
    val df = Seq(Some(5L), None, Some(-1L)).toDF("v")
      .withColumn("id", lit(1L))
    val rows = QualityMonitor
      .batchMetrics(df, Seq(("v_nonneg", col("v") >= 0L)))
      .collect()
    assert(rows(0).getLong(1) === 3L && rows(0).getLong(2) === 2L)
  }

  test("streaming monitor appends exact per-batch metrics rows") {
    val src = Files.createTempDirectory("qm_src_").toString
    val metrics = Files.createTempDirectory("qm_met_").toString
    val ckpt = Files.createTempDirectory("qm_ck_").toString
    // batch 0 on disk before the stream starts
    (0 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("id bigint, v bigint")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = QualityMonitor.start(stream, rules, metrics, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.read.parquet(metrics)
    assert(got.count() === 3L, "3 rules × 1 batch")
    val m = got.collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"))).toMap
    assert(m("v_nonneg") === (20L, 0L))
    assert(m("v_small") === (20L, 0L))
    assert(m("id_odd") === (20L, 10L))
    // second batch arrives; monitor appends, first batch's rows remain
    (0 until 5).map(i => (i.toLong, -i.toLong)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = QualityMonitor.start(stream, rules, metrics, ckpt)
    try q2.processAllAvailable()
    finally q2.stop()
    val all = spark.read.parquet(metrics)
    assert(all.count() === 6L, "3 rules × 2 batches")
    val b2 = all.filter(col("rule") === "v_nonneg")
      .agg(sum(col("n_violations"))).collect()(0).getLong(0)
    assert(b2 === 4L, "batch-2 negatives (i=1..4) must be flagged")
  }

  /** Runs `start` over two micro-batches, deletes the checkpoint's last
    * commit and restarts it, so Spark replays batch 1. Returns the
    * metrics table with `batch_id` read back as long.
    */
  private def replayLastBatch(
      schema: String,
      batches: Seq[DataFrame])(
      start: (DataFrame, String, String) => StreamingQuery): DataFrame = {
    val src = Files.createTempDirectory("replay_src_").toString
    val metrics = Files.createTempDirectory("replay_met_").toString
    val ckpt = Files.createTempDirectory("replay_ck_").toString
    batches.foreach(_.coalesce(1).write.mode("append").parquet(src))
    def run(): StreamingQuery = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = start(stream, metrics, ckpt)
      try q.processAllAvailable() finally q.stop()
      q
    }
    run()
    val commit = new java.io.File(ckpt, "commits/1")
    assert(commit.delete(), s"no commit to drop: $commit")
    new java.io.File(ckpt, "commits/.1.crc").delete()
    val replay = run()
    val replayed = replay.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    assert(replayed.toSeq === Seq(1L), "the restart must replay exactly batch 1")
    spark.read.parquet(metrics)
      .withColumn("batch_id", col("batch_id").cast("long"))
  }

  test("a replayed monitor batch replaces its rows instead of adding a second copy") {
    val quality = replayLastBatch("id bigint, v bigint", Seq(
        (0 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "v"),
        (0 until 5).map(i => (i.toLong, -i.toLong)).toDF("id", "v"))) {
      (stream, metrics, ckpt) => QualityMonitor.start(stream, rules, metrics, ckpt)
    }
    val m = quality.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("rule")) ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations")))
    assert(m.length === 6, s"one row set per (batch_id, rule): ${m.toSeq}")
    assert(m.toMap === Map(
      (0L, "v_nonneg") -> (20L, 0L), (0L, "v_small") -> (20L, 0L),
      (0L, "id_odd") -> (20L, 10L),
      (1L, "v_nonneg") -> (5L, 4L), (1L, "v_small") -> (5L, 0L),
      (1L, "id_odd") -> (5L, 3L)))

    val topk = replayLastBatch("k string", Seq(
        (Seq.fill(30)("hot") ++ (0 until 10).map(i => s"u$i")).toDF("k"),
        (Seq.fill(20)("warm") ++ Seq.fill(5)("hot")).toDF("k"))) {
      (stream, metrics, ckpt) => TopKMonitor.start(stream, "k", 4, metrics, ckpt)
    }
    val snaps = topk.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("item"),
        r.getAs[Long]("rank")))
    assert(snaps.map(_._1).toSet === Set(0L, 1L))
    assert(snaps.groupBy(_._1).values.forall { s =>
      s.length <= 4 && s.map(_._2).distinct.length == s.length &&
        s.map(_._3).sorted.toSeq == (1L to s.length.toLong)
    }, s"one snapshot per batch_id: ${snaps.toSeq}")
    // the running summary restarts empty, so the replayed snapshot is
    // batch 1 alone, where "warm" leads
    assert(snaps.filter(s => s._1 == 1L && s._3 == 1L).map(_._2).toSeq ===
      Seq("warm"))
  }
}
