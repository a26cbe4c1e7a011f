package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The stateful streaming operators (headroom beyond the reference's
  * stateless spine, SURVEY §2.13 T7): a per-key running count kept in
  * the state store by `mapGroupsWithState`, and the one streaming dedup,
  * which [[CurationStream]] applies to document fingerprints.
  */
object Stateful {

  /** Cumulative alert count per key: each micro-batch emits the updated
    * (key, n_total) for keys it touched. State lives in the checkpointed
    * state store — exactly-once across restarts like any stateful op.
    */
  def runningCounts(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr(s"cast($key as string) as k")
      .as[String]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (k, n)
      }
      .toDF(key, "n_total")
  }

  /** Output mode stateful ops require. */
  val RequiredOutputMode: OutputMode = OutputMode.Update()

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
