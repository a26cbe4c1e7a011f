package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ancestor-closure over an arbitrary (child, parent) edge list by
  * POINTER DOUBLING: each round composes the current closure with
  * itself twice (one lazy plan, one materialization), so reachable
  * distance QUADRUPLES per materialized round and a depth-D hierarchy
  * closes in ceil(log4 D) checkpointed rounds — the scale-safe
  * replacement for driver-side recursion or one-hop-per-round loops
  * (a 1M-deep chain needs 10 rounds, not 1M).
  *
  * Every round localCheckpoints (the [[graft.queries.Dedup]]
  * fixpoint discipline): without lineage truncation the logical plan
  * doubles per iteration and the driver dies on plan strings long
  * before data pressure.
  *
  * Failure contract: a local checkpoint lives only in executor block
  * storage with its lineage cut, so losing an executor after a round
  * fails the next job that reads that round instead of recomputing it
  * (with the lazy `localCheckpoint(false)` that job is the next round's
  * count, one job later than the eager form would fail), and the caller
  * reruns the whole closure.
  *
  * Output: (node, anc) — one row per proper ancestor of each node.
  * Cycles would never terminate; callers own acyclicity (a DAG/tree
  * contract, the same one SQL's WITH RECURSIVE has).
  */
object TreeClosure {

  /** One pointer-doubling composition: closure ∪ (closure ∘ closure),
    * deduped. The distinct stays INSIDE the lazy plan (no extra job)
    * and bounds the duplicate-pair blowup of composing an un-deduped
    * union with itself. Package-visible so TreeClosureSpec can pin
    * the double-jump plan shape (the outer jump references the inner
    * jump's subtree three times; avoiding a 3× recompute per round
    * depends on ReuseExchange collapsing those duplicated shuffle
    * subtrees — a Spark upgrade that broke that reuse would silently
    * triple per-round work, which the spec's assertion now catches). */
  private[graft] def jump(c: DataFrame): DataFrame = c
    .union(c
      .join(c.select(col("node").as("anc"), col("anc").as("anc2")),
        Seq("anc"))
      .select(col("node"), col("anc2").as("anc")))
    .distinct()

  def ancestors(edges: DataFrame): DataFrame = {
    val base = edges.toDF("node", "anc").localCheckpoint()
    var closure = base
    var closureCount = base.count()
    var grew = true
    while (grew) {
      // compose TWO doubling steps per checkpointed round (reach
      // quadruples per round): the closure rows are skinny int pairs,
      // so each round's cost is dominated by the fixed job/checkpoint
      // overhead, not data — halving the round count (ceil(log4 D)
      // instead of ceil(log2 D) materializations) is the win.
      // LAZY checkpoint + count: the eager form ran one job to
      // materialize the checkpoint and a second to count it; with
      // eager=false the count below is the action that materializes
      // the checkpoint blocks — ONE job per round instead of two
      // (r14; the count is mandatory anyway for the growth check)
      val next = jump(jump(closure)).localCheckpoint(false)
      // closure is monotone — growth check by count, not except();
      // carry the previous round's count instead of re-counting the
      // old checkpoint (one fewer job per round)
      val nextCount = next.count()
      grew = nextCount > closureCount
      closureCount = nextCount
      closure.unpersist()
      closure = next
    }
    closure
  }
}
