package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A query compiles its generated code once per JVM
  * ([[graft.core.GraftSession.configure]]): a warm run is served from
  * the compiled-class cache, also after more distinct classes than
  * Spark's default cache size (100) were compiled in between. q100 is a
  * multi-stage AQE query, so its whole-stage classes are only reusable
  * when their names do not carry the run's stage ids.
  */
class CodegenReuseSpec extends SparkTestBase {

  private val query = "q100_source_centroids"

  private def runQuery(): Unit =
    SparkEntry.queries(query)(spark, sf).write.format("noop").mode("overwrite").save()

  /** Classes compiled (cache misses) while `f` runs. */
  private def compilations(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second run of a multi-stage query compiles no class") {
    runQuery()
    assert(compilations(runQuery()) === 0)
  }

  test("150 other compiled classes between two runs evict none of the query's") {
    runQuery()
    // whole-stage codegen compiles on the driver when the plan is
    // executed into an RDD, so no job runs
    val others = compilations((1 to 150).foreach { i =>
      spark.range(10).selectExpr(s"id * $i AS v").queryExecution.executedPlan.execute()
    })
    assert(others >= 150, "each projection must compile its own class")
    assert(compilations(runQuery()) === 0)
  }
}
