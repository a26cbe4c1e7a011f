package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.MisraGries

/** Streaming heavy-hitter observability: maintain a Misra-Gries
  * summary of a key column ACROSS micro-batches and append the
  * running top-k snapshot after each batch — the streaming face of
  * the q137 (exact) / q146 (Count-Min) frequency family.
  *
  * Per batch the executors compute one O(k)-state combinable
  * aggregation (the [[MisraGries]] Aggregator); the driver merges the
  * k-entry batch summary into the running summary with the SAME
  * mergeable-summaries rule, so the cumulative deficit bound
  * Σ_b N_b/(k+1) = N_total/(k+1) holds over the whole stream and the
  * cross-batch state is one k-entry map however long the stream runs.
  *
  * Snapshot writes are IDEMPOTENT per batch
  * ([[Sinks.writeBatchPartition]]): a replayed batch rewrites its own
  * `batch_id=` partition instead of appending duplicate rows. The
  * running summary itself lives on the driver: after a restart it
  * resumes EMPTY (monitoring-grade semantics — the history stays
  * queryable in the metrics table, and the last snapshot row set is
  * the warm-start if a caller wants to reload it; a replayed partition
  * therefore reflects the post-restart summary, which is the honest
  * state).
  */
object TopKMonitor {

  /** Attach to a streaming DataFrame; `keyCol` must be string-typed.
    * Each micro-batch writes (item, lb_count, rank, batch_id) rows —
    * the RUNNING (not per-batch) heavy-hitter view, counts being
    * lower bounds within N_total/(k+1) of truth. */
  def start(
      stream: DataFrame,
      keyCol: String,
      k: Int,
      metricsPath: String,
      checkpoint: String): StreamingQuery = {
    val mg = new MisraGries(k)
    // foreachBatch callbacks run sequentially for one query, so plain
    // driver-local state needs no synchronization
    var running: Map[String, Long] = mg.zero
    Sinks.foreachBatchSink(stream, checkpoint) { (batch, id) =>
      val batchSummary = batch.toDF()
        .agg(MisraGries.heavyHitters(col(keyCol), k).as("hh"))
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      running = mg.merge(running, batchSummary)
      val snap = mg.finish(running).zipWithIndex.map {
        case ((item, lb), i) => (item, lb, (i + 1).toLong)
      }
      val spark = batch.sparkSession
      import spark.implicits._
      Sinks.writeBatchPartition(
        snap.toDF("item", "lb_count", "rank"), id, metricsPath)
    }
  }
}
