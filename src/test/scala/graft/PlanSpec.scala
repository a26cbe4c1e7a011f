package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan assertions the registry golden (QueryPackSpec) cannot
  * express — the 100 TB scale contract: the filter column reaches the
  * parquet scan, column pruning, payload-free pair joins, and AQE's
  * runtime skew split and bloom filter.
  */
class PlanSpec extends SparkTestBase {

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString()
  }

  /** Executed plan string AFTER running the query, so AQE has replaced
    * its placeholders with final sub-plans.
    */
  private def finalPlanString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    // collect() (not a .write, which builds a SEPARATE QueryExecution)
    // so THIS df's adaptive plan is the one that executed
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString()
      case p: SparkPlan => p.toString()
    }
  }

  test("q02 pushes its filters into the parquet scan") {
    val p = planString("q02_filter_pushdown")
    assert(p.contains("l_quantity"), p)
    // projection pruning: the scan must not read all 16 lineitem cols
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment"), s"scan reads unneeded columns:\n$p")
  }

  test("q01 scan reads only the aggregated columns") {
    val p = planString("q01_pricing_summary")
    assert(!p.contains("l_partkey"), s"scan reads unneeded columns:\n$p")
  }

  test("q22 pair join ships ids only: no token arrays below the join") {
    val p = finalPlanString("q22_jaccard_blocked")
    // the salt-replicating Generate (explode of the salt sequence) must
    // project only scalar columns, never `toks` (they re-attach by id
    // above the candidate join)
    val generates = p.linesIterator
      .filter(l => l.contains("Generate explode"))
      .filter(l => l.contains("salt") || l.contains("sequence"))
      .toList
    assert(generates.nonEmpty, s"salt explode missing:\n$p")
    generates.foreach(g =>
      assert(!g.contains("toks"), s"token payload rides the salt explode:\n$g"))
  }

  test("AQE splits a skewed join partition at runtime (Y6 scale contract)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // shrink the skew thresholds so a test-sized hot key triggers the
      // same OptimizeSkewedJoin path a 100 TB hot key would
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 150k rows on ONE key vs a uniform right side — a classic
      // hot-key fact-fact join. The payload is a per-row md5 so the
      // hot shuffle partition cannot compress away below the skew
      // threshold (identical keys alone deflate to nothing).
      val left = spark.range(0, 160000)
        .select(
          when($"id" < 150000, 7L).otherwise($"id").as("k"),
          md5(concat(lit("row"), $"id".cast("string"))).as("pad"))
      val right = spark.range(0, 1000).select($"id".as("k"), lit(1).as("rv"))
      val j = left.join(right, "k")
      j.collect()
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString()
        case p: SparkPlan => p.toString()
      }
      assert(plan.contains("skew=true"),
        s"hot key was not split by AQE:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // Spark's runtime row-level filtering: a selective filter on the
    // dim side materializes a bloom filter that is pushed into the
    // fact scan — at 100 TB this is what keeps a fact-dim join from
    // reading fact rows the dim filter already excluded. On by default
    // at cluster scale (10 GB application-side threshold); the test
    // lowers the threshold so an sf-test-sized join exercises the path.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderstatus") === "F")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)))
      val p = j.queryExecution.optimizedPlan.toString()
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }


}
