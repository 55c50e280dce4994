package graft.tools

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GatesSpec extends AnyFunSuite with SparkTestBase {

  test("gate registry: every query has oracle SQL and every oracle a query") {
    // Verify and Gates iterate `queries`; a key missing from `oracleSql`
    // would only surface in the external oracle compare
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 246)
  }

  test("lint flags an explode over transform(...), not a plain explode(split(...))") {
    val docs = spark.range(3).select(concat(lit("a b "), col("id").cast("string")).as("text"))
    val tokens = split(col("text"), " ")
    def lintOf(gen: org.apache.spark.sql.Column) =
      Gates.hits(docs.select(explode(gen).as("w")).queryExecution.executedPlan)
    assert(lintOf(transform(tokens, t => upper(t))) ===
      Seq("Generate over higher-order [transform]"))
    assert(lintOf(tokens).isEmpty)
  }
}
