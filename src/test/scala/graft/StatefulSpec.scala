package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Stateful

/** Stateful streaming: the streaming dedup keeps one row per key ACROSS
  * micro-batches (the state store carries it) within its watermark, and
  * the curation stream applies it to content fingerprints.
  */
class StatefulSpec extends SparkTestBase {

  test("streaming curation: gates drop, PII redacts, content dedup crosses batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val out = graft.streaming.CurationStream.pipeline(
      src.toDF().toDF("doc_id", "text"))
    val q = out.writeStream
      .format("memory").queryName("curated")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_curate_").toString)
      .start()
    try {
      src.addData(
        (1L, "the quick brown fox jumps over a dog mail user1@mail.net ok"),
        (2L, "1 2 3 4 5 6 7 8 9"), // alpha_ratio 0 → gated
        (3L, "too short"))          // n_tokens < 5 → gated
      q.processAllAvailable()
      // LATER batch: same content modulo case/whitespace/PII-span —
      // normalizes to the same fingerprint → stateful dedup drops it
      src.addData(
        (4L, "THE  quick brown fox jumps over a dog mail user1@mail.net ok"),
        (5L, "an entirely different document with enough letters here"))
      q.processAllAvailable()
      val rows = spark.table("curated").collect()
      val ids = rows.map(_.getAs[Long]("doc_id")).toSet
      assert(ids === Set(1L, 5L), s"kept $ids")
      val kept1 = rows.find(_.getAs[Long]("doc_id") == 1L).get
        .getAs[String]("text")
      assert(kept1.contains("[EMAIL]") && !kept1.contains("user1@mail.net"),
        s"PII not redacted: $kept1")
    } finally q.stop()
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming dedup drops re-deliveries across batches; state expires past watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, String)]
    val out = Stateful.streamingDedup(
      src.toDF().toDF("ts", "k"), Seq("k"),
      withinWatermark = Some(("ts", "10 minutes")))
    val q = out.writeStream
      .format("memory").queryName("dedup_stream")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_dedup_").toString)
      .start()
    try {
      src.addData((ts("2026-01-01 00:00:00"), "a"), (ts("2026-01-01 00:00:30"), "a"))
      q.processAllAvailable()
      // re-delivery in a LATER batch, inside the watermark: dropped
      src.addData((ts("2026-01-01 00:01:00"), "a"), (ts("2026-01-01 00:02:00"), "b"))
      q.processAllAvailable()
      val early = spark.table("dedup_stream").collect()
        .map(r => r.getString(1))
      assert(early.count(_ == "a") === 1, s"re-delivery not dropped: ${early.toSeq}")
      assert(early.count(_ == "b") === 1)
      // advance event time far beyond the watermark window: key state
      // for 'a' has expired, so a fresh 'a' is emitted again (bounded
      // state by design, not a correctness bug)
      src.addData((ts("2026-01-01 01:00:00"), "c"))
      q.processAllAvailable()
      src.addData((ts("2026-01-01 01:01:00"), "a"))
      q.processAllAvailable()
      val all = spark.table("dedup_stream").collect().map(_.getString(1))
      assert(all.count(_ == "a") === 2,
        s"expired key must re-emit (bounded state): ${all.toSeq}")
      // exact duplicate rows inside ONE batch, interleaved with other
      // keys, keep one row per key
      src.addData(
        (ts("2026-01-01 02:00:00"), "d"), (ts("2026-01-01 02:00:00"), "d"),
        (ts("2026-01-01 02:00:05"), "e"), (ts("2026-01-01 02:00:00"), "d"),
        (ts("2026-01-01 02:00:09"), "f"))
      q.processAllAvailable()
      val last = spark.table("dedup_stream").collect().map(_.getString(1))
        .filter(Set("d", "e", "f")).sorted
      assert(last.toSeq === Seq("d", "e", "f"), s"in-batch duplicates: ${last.toSeq}")
    } finally q.stop()
  }
}
