package graft.streaming

import org.apache.spark.sql.DataFrame

/** The one stateful streaming operator (headroom beyond the reference's
  * stateless spine, SURVEY §2.13 T7): the streaming dedup, which
  * [[CurationStream]] applies to document fingerprints.
  */
object Stateful {

  /** Streaming exact dedup — the continuous-ingestion form of the
    * batch exact-dedup operator (queries/Dedup q20): keep the first
    * row per key, dropping re-deliveries. With
    * `withinWatermark = Some(w)` the key state expires once the
    * event-time watermark passes `w` beyond a key's last sighting
    * (`dropDuplicatesWithinWatermark`) — the 100 TB form: unbounded
    * streams cannot keep every key forever, and upstream re-delivery
    * windows (e.g. a night's Kafka replay) are finite in practice.
    * Without it the dedup is global and state grows with distinct keys.
    */
  def streamingDedup(
      df: DataFrame,
      keyCols: Seq[String],
      withinWatermark: Option[(String, String)] = None): DataFrame =
    withinWatermark match {
      // (eventTimeCol, delay) travel together — a watermark without its
      // event-time column (or vice versa) is unrepresentable.
      case Some((eventTimeCol, w)) =>
        df.withWatermark(eventTimeCol, w)
          .dropDuplicatesWithinWatermark(keyCols)
      case None =>
        df.dropDuplicates(keyCols)
    }
}
