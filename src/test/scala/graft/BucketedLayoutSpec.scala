package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.BucketedLayout

/** The bucketed (lineitem, part) layout must be value-faithful to the
  * source tables AND exchange-free under the join it exists for. */
class BucketedLayoutSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("bucketed join is exchange-free; the plain-table twin is not") {
    // pinned at the full count (the sf0.001 fact alone derives one
    // bucket): the sort-free SMJ guard is about many sorted buckets
    val (li, pt) = BucketedLayout.ensure(spark, sf, buckets = BucketedLayout.Buckets)
    // force sort-merge (the strategy that engages past the broadcast
    // budget — at test scale the planner would broadcast and trivially
    // skip the exchange this spec is about)
    val bucketed = spark.table(li).hint("merge")
      .join(spark.table(pt), col("l_partkey") === col("p_partkey"))
    val bPlan = bucketed.queryExecution.executedPlan.toString
    assert(!bPlan.contains("Exchange"),
      s"bucketed merge join must not shuffle either side:\n$bPlan")
    assert(bPlan.contains("SortMergeJoin"))
    // round 13: with the legacy bucketedTableScan.outputOrdering conf
    // (set at session build repo-wide) the compact one-file-per-bucket
    // layout serves its WRITTEN sort order, so the merge join plans with
    // NO Sort on either side — scan-direct SMJ
    assert(!bPlan.contains("Sort "),
      s"compact bucketed SMJ must be sort-free under the legacy conf:\n$bPlan")
    // same join over the plain parquet scans shuffles both sides
    val plain = Tables.lineitem(spark, sf).hint("merge")
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    // the scans themselves are recognized as bucketed (co-location, the
    // thing the layout buys)
    assert(bPlan.contains("Bucketed: true"))
  }

  test("one file per bucket (write pre-clustered by the bucket hash)") {
    val (li, _) = BucketedLayout.ensure(spark, sf, buckets = BucketedLayout.Buckets)
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $li")
      .filter(col("col_name") === "Location").select("data_type").head.getString(0)
    val files = new java.io.File(loc.stripPrefix("file:"))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length <= BucketedLayout.Buckets,
      s"expected at most ${BucketedLayout.Buckets} files, found ${files.length}")
    // bucket ids in file names are what the reader keys on — all distinct
    val ids = files.map(_.getName.replaceAll(".*_(\\d{5})\\..*", "$1")).toSet
    assert(ids.size == files.length)
  }

  test("family layout gate: plain under the budget, bucketed past it") {
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    // default session at test scale: part broadcasts → plain scans
    val plainDf = SparkEntry.queries("q4_brand_revenue")(spark, sf)
    assert(!plainDf.queryExecution.executedPlan.toString.contains("Bucketed: true"))
    // a session past the broadcast budget with the per-bucket minimum
    // dropped: the SAME query flips to the co-located layout, same rows
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("graft.bucketed.minBucketBytes", "0")
    val bucketedDf = SparkEntry.queries("q4_brand_revenue")(s2, sf)
    assert(bucketedDf.queryExecution.executedPlan.toString.contains("Bucketed: true"))
    assert(rows(bucketedDf) == rows(plainDf))
  }

  test("orderkey family gate: plain at gate scale, co-located past it, same rows") {
    // default session at test scale: the gate returns None → plain scans
    val plainPlan = SparkEntry.queries("q6_ship_delay")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plainPlan.contains("Bucketed: true"))
    // a session with the per-bucket minimum dropped: the whole family
    // flips to the orderkey-co-located layout, same rows each
    val s2 = spark.newSession()
    s2.conf.set("graft.bucketed.minBucketBytes", "0")
    def hashExchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    for (q <- Seq("q2_dedup_merge", "q6_ship_delay", "q19_dup_groups",
                  "q20_orders_no_items", "q28_shipping_behavior",
                  // partkey-grain fact aggregates riding the q4 family's
                  // existing layout (Relational.liByPartkey)
                  "q12_rank_parts", "q14_pareto_parts")) {
      val plain = SparkEntry.queries(q)(spark, sf)
      val gated = SparkEntry.queries(q)(s2, sf)
      val gPlan = gated.queryExecution.executedPlan.toString
      assert(gPlan.contains("Bucketed: true"), s"$q gated plan not bucketed")
      // the fact exchanges are gone: group-by-only members run the whole
      // aggregation in the scan stage (zero hash exchanges), join members
      // keep at most the bounded post-join aggregation exchange — always
      // strictly fewer than the plain plan's fact shuffles
      val (gx, px) = (hashExchanges(gPlan),
        hashExchanges(plain.queryExecution.executedPlan.toString))
      if (q == "q2_dedup_merge" || q == "q19_dup_groups" ||
          q == "q20_orders_no_items" || q == "q12_rank_parts")
        assert(gx == 0, s"$q gated plan still hash-exchanges:\n$gPlan")
      else assert(gx < px, s"$q gated $gx >= plain $px hash exchanges")
      // value-faithfulness: same rows in the same order
      assert(gated.collect().toSeq == plain.collect().toSeq, s"$q rows differ")
    }
  }

  test("custkey family gate (q26): plain while customer broadcasts, co-located past it, same rows") {
    // default session at test scale: customer broadcasts → plain scans
    val plainDf = SparkEntry.queries("q26_order_month")(spark, sf)
    assert(!plainDf.queryExecution.executedPlan.toString.contains("Bucketed: true"))
    // past the broadcast budget with the per-bucket minimum dropped: the
    // custkey-bucketed (orders, customer) pair engages — the join is
    // co-partitioned (no custkey exchange on either side); only the
    // bounded month×nation post-join aggregation exchanges
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("graft.bucketed.minBucketBytes", "0")
    val gated = SparkEntry.queries("q26_order_month")(s2, sf)
    val gPlan = gated.queryExecution.executedPlan.toString
    assert(gPlan.contains("Bucketed: true"), s"q26 gated plan not bucketed:\n$gPlan")
    assert(!gPlan.contains("Exchange hashpartitioning(o_custkey") &&
           !gPlan.contains("Exchange hashpartitioning(c_custkey"),
      s"q26 gated plan still exchanges a custkey side:\n$gPlan")
    assert(gated.collect().toSeq == plainDf.collect().toSeq, "q26 rows differ")
    // the riders (q5/q10/q11/q13/q17/q21 — round 13, every member won
    // its sf10 AND sf30 isolated A/B): bucketed plan, no custkey
    // exchange on either side, same rows in the same order as plain
    for (q <- Seq("q5_region_revenue", "q10_distinct_customers",
                  "q11_pct_of_total", "q13_running_sales",
                  "q17_customer_dim", "q21_active_customers")) {
      val plain = SparkEntry.queries(q)(spark, sf)
      val g = SparkEntry.queries(q)(s2, sf)
      val p = g.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), s"$q gated plan not bucketed")
      assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
             !p.contains("Exchange hashpartitioning(c_custkey"),
        s"$q gated plan still exchanges a custkey side:\n$p")
      assert(g.collect().toSeq == plain.collect().toSeq, s"$q rows differ")
    }
  }

  test("q73 (bucketed) result equals q4 (source tables)") {
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val a = rows(SparkEntry.queries("q4_brand_revenue")(spark, sf))
    val b = rows(SparkEntry.queries("q73_bucketed_brand_revenue")(spark, sf))
    assert(a == b)
    assert(a.nonEmpty)
  }
}
