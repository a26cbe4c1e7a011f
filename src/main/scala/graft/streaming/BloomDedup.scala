package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.functions.BloomSketchInternal

/** Streaming Bloom dedup: drop events whose key was already seen —
  * with O(m/8) state per shard FOREVER, however long the stream runs.
  *
  * `dropDuplicatesWithinWatermark` (T7) is exact but its state only
  * survives the watermark horizon: a duplicate arriving a day later
  * sails through. This operator is the other point on the trade:
  * UNBOUNDED horizon, bounded memory, approximate — no duplicate is
  * ever emitted twice (the bitmap has no false negatives), but a
  * fresh key can be falsely dropped at the bitmap's FP rate (size
  * `numBits` ≈ 16+ bits per expected distinct key for <0.3% at k=4).
  * That asymmetry (never re-emit, rarely over-drop) is the contract
  * exactly-once ingestion pipelines usually want at 100 TB, where
  * exact key-set state would grow without bound.
  *
  * Sharding: the stream groups by `shardCol` (e.g. `hash(key) % N`),
  * one bitmap per shard — state scales with shard count, not key
  * count, and each micro-batch updates a shard's bitmap once.
  */
object BloomDedup {

  /** @param df       input with a `shard` string column and a 64-bit
    *                  `key_hash` column (build with `xxhash64`)
    * @param numBits  bitmap bits per shard (power of two)
    * @param numHashes probe count k */
  def dedup(df: DataFrame, numBits: Int, numHashes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("cast(shard as string) as shard",
        "cast(key_hash as long) as kh", "cast(ts as long) as ts",
        "cast(id as long) as id")
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Byte], (String, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (shard: String, rows: Iterator[(String, Long, Long, Long)],
         state: GroupState[Array[Byte]]) =>
          val bm = state.getOption.getOrElse(new Array[Byte](numBits / 8))
          // deterministic fold order (the Locf/Throttle discipline)
          val out = rows.toSeq.sortBy(r => (r._3, r._4)).flatMap {
            case (_, kh, ts, id) =>
              if (BloomSketchInternal.mightContain(bm, kh, numHashes)) {
                None // seen (or FP): never emit twice
              } else {
                BloomSketchInternal.insert(bm, kh, numHashes)
                Some((shard, kh, ts, id))
              }
          }
          state.update(bm)
          out.iterator
      }
      .toDF("shard", "key_hash", "ts", "id")
  }
}
