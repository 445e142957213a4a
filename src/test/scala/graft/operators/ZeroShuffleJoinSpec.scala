package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the writeBucketed contract: two tables bucketed on the join key
  * into the same bucket count join with NO shuffle exchange — the
  * pay-the-shuffle-once layout for keys joined every day. */
class ZeroShuffleJoinSpec extends SparkSpec {

  test("co-bucketed tables join with no exchange and match the plain join") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    TableStore.writeBucketed(orders, "bkt_orders", "o_custkey", 8)
    TableStore.writeBucketed(customer, "bkt_customer", "c_custkey", 8)
    try {
      // disable broadcast so the join MUST pick a shuffle-or-bucket path
      graft.SessionConf.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("bkt_orders")
          .join(spark.table("bkt_customer"),
            col("o_custkey") === col("c_custkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join still shuffles:\n$plan")
        // and it computes the same result as the plain join
        val expected = orders.join(customer,
          col("o_custkey") === col("c_custkey"))
        assert(joined.count() == expected.count())
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_customer")
    }
  }

  test("bucket-count mismatch still answers correctly (layout is an optimization)") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    TableStore.writeBucketed(orders, "bkt_o12", "o_custkey", 12)
    TableStore.writeBucketed(customer, "bkt_c8", "c_custkey", 8)
    try {
      val joined = spark.table("bkt_o12").join(spark.table("bkt_c8"),
        col("o_custkey") === col("c_custkey"))
      val expected = orders.join(customer,
        col("o_custkey") === col("c_custkey"))
      assert(joined.count() == expected.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_o12")
      spark.sql("DROP TABLE IF EXISTS bkt_c8")
    }
  }
}
