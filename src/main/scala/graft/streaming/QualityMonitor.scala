package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming data-quality observability: evaluate an expectation-rule
  * set (the q132 class) against every micro-batch and append one
  * metrics row per (batch, rule) to a parquet metrics table.
  *
  * The monitor is a `foreachBatch` side-channel: the rules fold into
  * ONE combinable aggregate pass per batch (conditional sums — no
  * shuffle beyond the single-row aggregate), so observing a stream
  * costs one narrow scan of each micro-batch regardless of rule count.
  * Checkpointed like any sink (K3), and each batch's rows are written
  * idempotently, so the metrics table holds one row set per
  * (batch, rule) even across replays; it is itself a queryable lake
  * table — alert thresholds are a filter away.
  */
object QualityMonitor {

  /** One metrics row per rule for a static batch: (rule, n_checked,
    * n_violations) — a null predicate counts as a violation (unknown
    * never passes a gate). Shared by the streaming monitor and tests.
    */
  def batchMetrics(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val aggs = rules.flatMap { case (name, pass) =>
      Seq(
        count(lit(1)).as(s"c_$name"),
        sum(when(coalesce(pass, lit(false)), 0L).otherwise(1L))
          .as(s"v_$name"))
    }
    // ONE aggregate row for all rules, exploded to long format — a
    // per-rule select over the wide row would re-plan (and re-scan)
    // the aggregate once per rule
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.map { case (name, _) =>
        struct(lit(name).as("rule"),
          col(s"c_$name").as("n_checked"),
          coalesce(col(s"v_$name"), lit(0L)).as("n_violations"))
      }: _*)).as("m"))
      .select("m.*")
  }

  /** Attach the monitor to a streaming DataFrame. Each micro-batch
    * writes its (rule, n_checked, n_violations) rows to the
    * `batch_id=` partition of `metricsPath`
    * ([[Sinks.writeBatchPartition]]), so a replayed batch replaces its
    * rows instead of adding a second copy.
    */
  def start(
      stream: DataFrame,
      rules: Seq[(String, Column)],
      metricsPath: String,
      checkpoint: String): StreamingQuery =
    Sinks.foreachBatchSink(stream, checkpoint) { (batch, id) =>
      Sinks.writeBatchPartition(batchMetrics(batch.toDF(), rules), id, metricsPath)
    }
}
