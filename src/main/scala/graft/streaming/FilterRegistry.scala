package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** F6 user-defined filter plugins + T5 multi-query fan-out.
  *
  * The reference discovers Python filter modules by reflection and runs
  * one Kafka-publishing streaming query per filter over a shared source
  * (ref: bin/ztf/distribute.py:46-50, 167-223). In Scala the registry is
  * explicit — `name → (DataFrame => Column)` — no reflection needed; the
  * fan-out topology (one query and checkpoint per filter) is preserved.
  */
object FilterRegistry {

  type AlertFilter = DataFrame => Column

  private val registry = TrieMap[String, AlertFilter]()

  def register(name: String, f: AlertFilter): Unit = registry.put(name, f)
  def unregister(name: String): Unit = registry.remove(name)
  def get(name: String): Option[AlertFilter] = registry.get(name)
  def names: Seq[String] = registry.keys.toSeq.sorted

  /** Topic name per filter, matching the reference's convention. */
  def topicFor(filterName: String, prefix: String = "fink"): String =
    s"${prefix}_${filterName}"

  /** T5: one streaming query per filter over the shared source; each
    * sink gets its own checkpoint dir under `checkpointRoot`.
    */
  def fanOut(
      source: DataFrame,
      filterNames: Seq[String],
      checkpointRoot: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      sinkFor: (DataFrame, String, String) => StreamingQuery): Seq[StreamingQuery] =
    filterNames.map { name =>
      val f = registry.getOrElse(name, sys.error(s"unknown filter: $name"))
      val filtered = source.filter(f(source))
      sinkFor(filtered, name, s"$checkpointRoot/$name")
    }
}
