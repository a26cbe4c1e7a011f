package graft


/** The typed plan audit agrees with the facts the string-grep specs
  * assert: a map-only query has zero exchanges, a star join has
  * broadcasts + pushed filters, and no registered query audits to a
  * cartesian product.
  */
class PlanAuditSpec extends SparkTestBase {

  private def audit(q: String): PlanAudit.Summary = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect() // settle AQE — audit the final plan
    PlanAudit.summarize(df)
  }

  test("map-only query: zero exchanges, codegen present") {
    val s = audit("q101_classifier_inference")
    assert(s.shuffleExchanges === 0 && s.broadcastExchanges === 0,
      s"q101 must stay exchange-free: $s")
    assert(s.scans >= 1 && s.wholeStageCodegenSpans >= 1)
    assert(s.cartesianProducts === 0)
  }

  test("star join: broadcasts, pushed filters, no cartesian") {
    val s = audit("q05_star_join")
    assert(s.broadcastExchanges >= 1, s"dims must broadcast: $s")
    assert(s.scans >= 3)
    assert(s.scansWithPushedFilters >= 1, s"filters must reach scans: $s")
    assert(s.cartesianProducts === 0)
  }

  test("window query audits its exchanges and windows") {
    val s = audit("q09_window_dedup")
    assert(s.windows >= 1, s"dedup is a window plan: $s")
    assert(s.cartesianProducts === 0)
  }
}
