package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** MERGE-INTO semantics of the keyed upsert: replace on matched key,
  * insert on new key, pass through the rest — and the plan must anti-
  * join the base against broadcast update KEYS (one base scan, no base
  * shuffle for a small delta).
  */
class UpsertSpec extends SparkTestBase {

  test("upsert replaces matched keys, inserts new, passes the rest") {
    import spark.implicits._
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "v", "n")
    val updates = Seq((2L, "B!", 99), (9L, "new", 1)).toDF("k", "v", "n")
    val out = Upsert.upsert(base, updates, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(out === Set(
      (1L, "a", 10), // untouched
      (2L, "B!", 99), // replaced
      (3L, "c", 30), // untouched
      (9L, "new", 1))) // inserted
  }

  test("a small delta broadcasts: the base is never shuffled") {
    import spark.implicits._
    val base = spark.range(0, 100000)
      .select($"id".as("k"), ($"id" * 2).as("v"))
    val updates = Seq((5L, -1L), (100500L, -2L)).toDF("k", "v")
    val merged = Upsert.upsert(base, updates, Seq("k"))
    merged.collect()
    val plan = merged.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString()
      case p: SparkPlan => p.toString()
    }
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"anti join should broadcast the delta keys:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"base got shuffled for a 2-row delta:\n$plan")
  }

  test("incremental view maintenance: foreachBatch + upsert keeps a running aggregate table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the standard production pattern: per-batch partial aggregates
    // merged into a keyed serving table by upsert — exactly-once per
    // key without holding unbounded state in the stream itself
    val dir = java.nio.file.Files.createTempDirectory("upsert_ivm_").toString
    val table = s"$dir/totals"
    val src = MemoryStream[(String, Long)]
    val q = src.toDF().toDF("k", "x").writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val partial = batch.groupBy("k").agg(sum(col("x")).as("total"))
        val current =
          try spark.read.parquet(table)
          catch { case _: Exception => partial.limit(0) }
        val merged = Upsert.upsert(
          current,
          partial
            .join(current.withColumnRenamed("total", "prev"), Seq("k"), "left")
            .select(col("k"),
              (col("total") + coalesce(col("prev"), lit(0L))).as("total")),
          Seq("k"))
        // overwrite via tmp so a failed write can't destroy the table
        merged.write.mode("overwrite").parquet(s"$table.tmp")
        spark.read.parquet(s"$table.tmp").write.mode("overwrite").parquet(table)
      }
      .start()
    try {
      src.addData(("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      src.addData(("a", 4L), ("c", 100L))
      q.processAllAvailable()
      val totals = spark.read.parquet(table).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(totals === Map("a" -> 7L, "b" -> 10L, "c" -> 100L))
    } finally q.stop()
  }

  test("multi-column keys match on the full tuple") {
    import spark.implicits._
    val base = Seq((1L, "x", 1.0), (1L, "y", 2.0)).toDF("k1", "k2", "v")
    val updates = Seq((1L, "y", 9.9)).toDF("k1", "k2", "v")
    val out = Upsert.upsert(base, updates, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out === Set((1L, "x", 1.0), (1L, "y", 9.9)))
  }
}
