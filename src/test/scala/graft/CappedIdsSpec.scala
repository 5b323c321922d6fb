package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft_capped_ids — the single-pass df-cap aggregate behind the r6
  * d2/t4 pair-generation rewrite: NULL ⇔ the key's row count exceeds
  * the cap (the old `df > cap` hot set), else the sorted id array. */
class CappedIdsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(8, "graft-capped-ids-test")

  test("capped collect equals the two-pass hot-filter + collect_list reference") {
    import spark.implicits._
    // deterministic skewed key layout: key k appears k+1 times
    val rows = (0 until 40).flatMap(k => (0 to k).map(i => (k, k * 1000L + i)))
    val df = rows.toDF("key", "id").repartition(7) // force partial merges
    val got = df.groupBy("key")
      .agg(call_function("graft_capped_ids", col("id"), lit(20)).as("ids"))
    val kept = got.filter(col("ids").isNotNull)
      .select(col("key"), col("ids")).as[(Int, Seq[Long])].collect().toMap
    val poisoned = got.filter(col("ids").isNull).select("key").as[Int].collect().toSet
    // reference: two-pass formulation
    val dfc = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    dfc.foreach { case (k, ids) =>
      if (ids.size > 20) assert(poisoned.contains(k), s"key $k must be poisoned")
      else assert(kept(k) == ids, s"key $k ids mismatch")
    }
    // boundary: exactly cap ids is KEPT (hot means strictly greater)
    assert(kept(19).size == 20 && poisoned.contains(20))
  }

  test("duplicate (key, id) rows give distinct ids; the cap counts rows") {
    import spark.implicits._
    // key 1: ids 5,3 each twice (4 rows ≤ cap 4); key 2: id 9 five times
    // (5 rows > cap 4, poisoned although it holds one distinct id)
    val rows = Seq((1, 5L), (1, 3L), (1, 5L), (1, 3L)) ++ Seq.fill(5)((2, 9L))
    val got = rows.toDF("key", "id").repartition(3)
      .groupBy("key")
      .agg(call_function("graft_capped_ids", col("id"), lit(4)).as("ids"))
      .as[(Int, Option[Seq[Long]])].collect().toMap
    assert(got(1).contains(Seq(3L, 5L)), s"key 1: ${got(1)}")
    assert(got(2).isEmpty, s"key 2 must be poisoned: ${got(2)}")
  }

  test("cap is a plan-time literal with clear validation") {
    import spark.implicits._
    val df = Seq((1, 1L)).toDF("key", "id")
    val e = intercept[Exception] {
      df.groupBy("key")
        .agg(call_function("graft_capped_ids", col("id"), lit(0)).as("ids"))
        .collect()
    }
    assert(e.getMessage.contains("cap must be >= 1"), e.getMessage)
  }
}
