package graft

import org.apache.spark.sql.functions._

import graft.core.OutputLint

/** The q86 failure class: oracle-bearing queries must emit
  * primitive-only output columns (the driver's pandas row-sort cannot
  * hash array/map/struct cells). QueryPackSpec lints every oracle
  * query's schema; this spec checks the lint rejects an array output.
  */
class OutputLintSpec extends SparkTestBase {

  test("the lint rejects a deliberate array-valued output") {
    val df = spark.range(3).select(array(col("id")).as("a"), col("id"))
    val e = intercept[IllegalArgumentException] {
      OutputLint.assertDriverComparable("deliberate_array", df.schema)
    }
    assert(e.getMessage.contains("deliberate_array") &&
      e.getMessage.contains("a: array<bigint>"))
  }
}
