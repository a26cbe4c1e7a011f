package graft.core

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults, shared by Verify, Bench
  * and the test suites so every run sees identical semantics.
  */
object GraftSession {

  /** Entries in the JVM-wide compiled-class cache. A cold pass of all
    * 341 registered queries at sf0.01 compiles 3 623 distinct classes
    * (metaspace ≈230 MB); 4 096 holds that working set with headroom. */
  private val CodegenCacheEntries: Int = 4096

  /** Apply engine defaults to a builder.
    *
    *  - `nanosAsLong`: some testdata vintages store `events.ts` as
    *    parquet TIMESTAMP(NANOS), which Spark 4 refuses to read natively
    *    ([PARQUET_TYPE_ILLEGAL]). With the flag that vintage surfaces as
    *    LongType epoch-nanoseconds; [[Tables.t]] then normalizes any
    *    vintage (ns-long, µs NTZ, µs LTZ) to epoch-µs longs.
    *  - UTC session TZ so date/timestamp literals agree with the oracle.
    *  - AQE on: runtime coalescing + skew-join handling is part of the
    *    100 TB design (SURVEY §4); local runs keep the same plan shape.
    *
    * Compiled-code reuse. A long-running broker plans the same queries
    * every trigger and every night, so each query compiles its generated
    * code once per JVM. Two defaults make that hold:
    *
    *  - `codegen.cache.maxEntries` = [[CodegenCacheEntries]]. Spark keeps
    *    compiled classes in one static, JVM-wide LRU keyed by the
    *    generated source text. Its size is read once, when the first
    *    class compiles in the JVM: a session built outside this method
    *    before that point leaves it at Spark's default of 100 for the
    *    life of the JVM. One pass of perfbench's 28-query registry slice
    *    compiles 449–537 classes, so at 100 the LRU evicted each query's
    *    classes before its next run.
    *  - `codegen.useIdInClassName` = false. Whole-stage codegen names its
    *    class after the stage id (`GeneratedIteratorForCodegenStage35`),
    *    AQE numbers stages in the order query stages materialize, and
    *    that order varies run to run. The name is part of the source
    *    text, so a multi-stage query (q100) missed the cache on every
    *    run. The cost: a generated class in a stack trace loses its
    *    stage suffix; `explain` still shows `WholeStageCodegen (n)`.
    *
    * The cache holds compiled code, never data or results, so reuse
    * cannot change an answer; the data caching contract is the one on
    * [[graft.SparkEntry.queries]].
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed tables (bucketed-layout operators) land in tmp, not CWD;
      // pid-scoped so concurrent JVMs (sbt test vs a Verify run) can't
      // clobber each other's managed-table locations
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse_${ProcessHandle.current().pid()}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Local session for mains/tests. */
  def local(appName: String, cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder().appName(appName).master(s"local[$cpus]"),
      shufflePartitions = math.max(cpus, 4))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
