package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The driver's exact smoke contract: SparkEntry.entry(spark) on a bare
  * session must return rows > 0 (no pre-registration assumed). */
class EntrySmokeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(8, "graft-entry-test")

  test("entry() yields extracted documents on a bare session") {
    val df = SparkEntry.entry(spark)
    val n = df.count()
    assert(n > 400, s"flagship extraction must yield most of 500 docs, got $n")
    assert(df.columns.toSeq == Seq("url", "text", "spans", "lang", "error"))
  }

  test("a second register leaves the registered functions as they are") {
    val reg = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_extract")
    val first = reg.lookupFunction(id).get
    GraftSession.register(spark)
    assert(reg.lookupFunction(id).get eq first)
  }

  test("every queries key runs at sf0.001 and oracleSql keys are a subset") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      "every oracle must have a query")
    // cheap structural check: each query builds a plan (no action)
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.schema.fields.nonEmpty, s"$name produced no schema")
    }
  }
}
