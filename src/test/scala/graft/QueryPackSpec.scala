package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{OutputLint, QueryDef}

/** The registry sweep: every registered query runs ONCE at sf0.001, as
  * a `noop` write that observes its row count and order-independent
  * hash, and its test compares one line against
  * `src/test/resources/registry_golden.tsv`:
  *
  *   name, rows, hash (`lo:hi`, the summed 32-bit halves of each row's
  *   xxhash64 — columns in name order, doubles rounded to 6 decimals,
  *   maps as JSON), and the [[PlanAudit.Summary]] of the write's
  *   INITIAL adaptive plan.
  *
  * The golden pins the initial plan because AQE's final plan is not a
  * function of the query: it re-plans as stages finish, in a
  * timing-dependent order. Over three sweeps in one JVM the final
  * summary varied for q31, q138, q139, q243 and q318 (exchanges,
  * sorts, codegen spans, reuse), while every initial summary, row
  * count and hash held.
  *
  * The same test lints the query: no unpartitioned window (an empty
  * partitionSpec moves ALL rows to one task) and, for oracle-bearing
  * queries, primitive-only output columns (the oracle compare cannot
  * hash array/map/struct cells).
  *
  * On any mismatch the suite writes the full observed table to
  * `target/registry_golden.observed`, lines of queries that did not run
  * kept from the golden. To accept an intended change, copy that file
  * over the golden in the same diff.
  */
class QueryPackSpec extends SparkTestBase {

  private val allDefs: Seq[QueryDef] = SparkEntry.packs.flatten
  private val goldenResource = "/registry_golden.tsv"
  private val observedPath = Paths.get("target", "registry_golden.observed")
  private val metric = "golden"

  private val golden: Map[String, String] = Option(getClass.getResourceAsStream(goldenResource))
    .map { in =>
      val src = Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(l => l.takeWhile(_ != '\t') -> l).toMap
      finally src.close()
    }.getOrElse(Map.empty)

  private val observed = mutable.Map.empty[String, String]

  /** The noop write's own QueryExecution, delivered by the listener bus. */
  private val writes = new LinkedBlockingQueue[QueryExecution]()
  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.observedMetrics.contains(metric)) writes.put(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    Files.deleteIfExists(observedPath) // never leave a stale table to copy
    spark.listenerManager.register(listener)
  }

  override def afterAll(): Unit = {
    try {
      spark.listenerManager.unregister(listener)
      val differ = observed.collect { case (n, l) if !golden.get(n).contains(l) => n }
      if (differ.nonEmpty) {
        val table = (golden ++ observed).toSeq.sortBy(_._1).map(_._2)
        Files.createDirectories(observedPath.getParent)
        Files.write(observedPath, table.mkString("", "\n", "\n").getBytes("UTF-8"))
        println(s"registry golden: ${differ.size} queries differ " +
          s"(${differ.toSeq.sorted.mkString(", ")}); observed table in $observedPath")
      }
    } finally super.afterAll()
  }

  /** xxhash64 of each row: columns in name order, doubles rounded to 6
    * decimals, maps as JSON. None when column names are not unique. */
  private def rowHash(df: DataFrame): Option[Column] = {
    val fields = df.schema.fields.sortBy(_.name)
    val names = fields.map(_.name)
    if (fields.isEmpty || names.distinct.size != names.size) None
    else Some(xxhash64(fields.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _: MapType => to_json(c)
        case _ => c
      }
    }.toIndexedSeq: _*))
  }

  test("registry has no duplicate names and oracle keys are a subset") {
    val names = allDefs.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    val stale = golden.keySet -- names
    assert(stale.isEmpty, s"golden lines for unregistered queries: ${stale.toSeq.sorted}")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  allDefs.foreach { d =>
    test(s"${d.name} executes at sf0.001") {
      val df = d.fn(spark, sf)
      if (SparkEntry.oracleSql.contains(d.name)) {
        val bad = OutputLint.nonScalarFields(df.schema)
        assert(bad.isEmpty, s"non-scalar oracle output: ${bad.mkString(", ")}")
      }
      val h = rowHash(df)
      assert(h.nonEmpty, s"no hashable schema: ${df.schema.simpleString}")
      val qe = try {
        writes.clear()
        df.observe(metric, count(lit(1)).as("n"),
            sum(h.get.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
            sum(shiftrightunsigned(h.get, 32)).as("hi"))
          .write.format("noop").mode("overwrite").save()
        Option(writes.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("the noop write reported no QueryExecution"))
      } finally spark.catalog.clearCache()

      // an empty partitionSpec is the silent single-task trap; a
      // bounded rank/scan window says so with a constant partition key
      val unpartitioned = qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty, s"${unpartitioned.size} unpartitioned window(s)")

      val m = qe.observedMetrics(metric)
      val line = Seq(d.name, m.getAs[Long]("n"), s"${m.get(1)}:${m.get(2)}",
        PlanAudit.initial(qe).line).mkString("\t")
      observed(d.name) = line
      assert(golden.get(d.name).contains(line),
        s"\n  golden:   ${golden.getOrElse(d.name, "<none>")}\n  observed: $line")
    }
  }
}
