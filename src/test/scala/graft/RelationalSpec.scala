package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("every relational query returns rows") {
    Relational.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("q2 dedup-merge preserves quantity and sales totals") {
    val raw = Tables.lineitem(spark, sf)
      .agg(sum("l_quantity").as("q"), sum("l_extendedprice").as("s"))
      .head()
    val merged = Relational.q2_dedup_merge(spark, sf)
      .agg(sum("quantity").as("q"), sum("sales").as("s")).head()
    assert(math.abs(raw.getDouble(0) - merged.getDouble(0)) < 1e-6)
    assert(math.abs(raw.getDouble(1) - merged.getDouble(1)) < 1e-4)
  }

  test("q29 counting-based percentile is BIT-identical to the percentile aggregate") {
    import spark.implicits._
    // adversarial synthetic lineitem: odd/even counts (integer vs
    // fractional interpolation position), heavy ties spanning the rank
    // bracket, single-row group, NULLs mixed into a group, and a group
    // whose values are ALL null (row must survive with NULL percentiles)
    val rows = Seq(
      ("A", Some(1.0), Some(901.01)), ("A", Some(1.0), Some(902.02)),
      ("A", Some(1.0), Some(903.03)), ("A", Some(7.0), Some(904.04)),
      ("A", Some(9.0), Some(905.05)),                       // odd n, ties at median
      ("B", Some(2.0), Some(10.1)), ("B", Some(4.0), Some(20.2)),
      ("B", Some(4.0), Some(30.3)), ("B", Some(8.0), Some(40.4)), // even n
      ("C", Some(5.0), Some(55.5)),                         // single row
      ("D", Some(1.0), None), ("D", None, Some(2.5)),
      ("D", Some(3.0), Some(3.5)), ("D", None, None),       // NULLs mixed
      ("E", None, None), ("E", None, None))                 // all-NULL group
    val dir = java.nio.file.Files.createTempDirectory("q29spec").toString
    rows.toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .repartition(3).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    try {
      // BOTH plan branches (raw-into-window below the rawMaxRows gate,
      // counting grain above it) must be bit-identical to the aggregate
      val got = (for (rawMax <- Seq("1048576", "0")) yield {
        spark.conf.set("graft.percentile.rawMaxRows", rawMax)
        try Relational.q29_percentiles(spark, dir).collect()
        finally spark.conf.unset("graft.percentile.rawMaxRows")
      }).reduce { (a, b) => assert(a.sameElements(b),
        "raw and grained q29 branches diverge"); a }
      val want = Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
             expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
             count(lit(1)).as("n_items"))
        .orderBy("l_returnflag").collect()
      assert(got.length == want.length, "row count diverges")
      got.zip(want).foreach { case (g, w) =>
        assert(g.getString(0) == w.getString(0))
        Seq(1, 2).foreach { i =>
          val (gv, wv) = (g.isNullAt(i), w.isNullAt(i)) match {
            case (true, true)   => (0.0, 0.0)
            case (false, false) => (g.getDouble(i), w.getDouble(i))
            case _ => fail(s"${g.getString(0)} col $i null-mismatch: $g vs $w")
          }
          assert(java.lang.Double.doubleToRawLongBits(gv) ==
                 java.lang.Double.doubleToRawLongBits(wv),
            s"${g.getString(0)} col $i: $gv != $wv (bitwise)")
        }
        assert(g.getLong(3) == w.getLong(3), s"n_items diverges: $g vs $w")
      }
      // real-corpus cross-check at the fixture sf too
      val gotSf = Relational.q29_percentiles(spark, sf).collect()
      val wantSf = Tables.lineitem(spark, sf).groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)"),
             expr("percentile(l_extendedprice, 0.9)"), count(lit(1)))
        .orderBy("l_returnflag").collect()
      gotSf.zip(wantSf).foreach { case (g, w) =>
        assert(g.getDouble(1) == w.getDouble(1) && g.getDouble(2) == w.getDouble(2)
               && g.getLong(3) == w.getLong(3), s"sf fixture diverges: $g vs $w")
      }
    } finally {
      // no clearCaches: it would also evict the shared session's persisted
      // calendar; the dead temp path's cache entries are never read again
      graft.Fs.deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  test("q52 one-pass membership aggregation equals native INTERSECT/EXCEPT") {
    import org.apache.spark.sql.types.TimestampType
    def active(y: Int) = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit(s"$y-01-01").cast(TimestampType) &&
              col("o_orderdate") < lit(s"${y + 1}-01-01").cast(TimestampType))
      .select("o_custkey").distinct()
    val setOps = active(1995).intersect(active(2000))
      .withColumn("cohort", lit("retained"))
      .unionByName(active(1995).except(active(2000))
        .withColumn("cohort", lit("churned")))
      .select(col("cohort"), col("o_custkey"))
      .orderBy("cohort", "o_custkey")
    val onePass = Relational.q52_set_ops(spark, sf)
    assert(onePass.schema.fieldNames.toSeq == setOps.schema.fieldNames.toSeq)
    assert(onePass.collect().toSeq == setOps.collect().toSeq,
      "one-pass cohort result diverged from the intersect/except composition")
  }

  test("dimension broadcast budget swap leaves q4/q5 results identical") {
    val bc4 = Relational.q4_brand_revenue(spark, sf).collect().map(_.toSeq)
    val bc5 = Relational.q5_region_revenue(spark, sf).collect().map(_.toSeq)
    // a 1-byte budget forces customerB/partB onto the plain-join path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val sh4 = Relational.q4_brand_revenue(spark, sf).collect().map(_.toSeq)
      val sh5 = Relational.q5_region_revenue(spark, sf).collect().map(_.toSeq)
      assert(sh4.sameElements(bc4), "q4 changed under the plain-join path")
      assert(sh5.sameElements(bc5), "q5 changed under the plain-join path")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q8 rollup TOTAL row equals the sum of segment rows") {
    val rows = Relational.q8_rollup_segment(spark, sf).collect()
    val total = rows.find(_.getString(0) == "TOTAL").get
    val segs = rows.filterNot(_.getString(0) == "TOTAL")
    assert(math.abs(segs.map(_.getDouble(1)).sum - total.getDouble(1)) < 1e-4)
    assert(segs.map(_.getLong(2)).sum == total.getLong(2))
  }

  test("q11 cumulative pct reaches 100") {
    val last = Relational.q11_pct_of_total(spark, sf)
      .orderBy(desc("n_name")).select("cum_pct").head().getDouble(0)
    assert(math.abs(last - 100.0) < 1e-9)
  }

  test("q14 running revenue is at least the row revenue") {
    val bad = Relational.q14_pareto_parts(spark, sf)
      .filter(col("running_revenue") < col("revenue") - 1e-9).count()
    assert(bad == 0)
  }

  test("q16 calendar surrogate keys are dense and ordered by date") {
    val cal = Relational.q16_calendar_dim(spark, sf).collect()
    assert(cal.map(_.getInt(0)).toSeq == (1 to cal.length))
    val dates = cal.map(_.getDate(1).toLocalDate)
    assert(dates.sliding(2).forall(p => p(0).isBefore(p(1))))
  }

  test("q17 scalable surrogate-key rank equals the single-window form") {
    // default session at test scale: the single-partition window path
    val window = Relational.q17_customer_dim(spark, sf).collect().toSeq
    // forced past the row threshold: the distributed two-phase rank
    // (Tuning.globalRowNumber) must produce IDENTICAL numbers — unique
    // order key, offsets from realized counts
    val s2 = spark.newSession()
    s2.conf.set("graft.rank.maxWindowRows", "0")
    val scalable = Relational.q17_customer_dim(s2, sf).collect().toSeq
    assert(scalable == window)
    // and the scalable plan carries no single-partition window
    val plan = Relational.q17_customer_dim(s2, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window ["), s"scalable path still windows:\n$plan")
  }

  test("q13 two-phase running sum equals the direct window form") {
    // default session at test scale: the direct per-nation RANGE window
    val window = Relational.q13_running_sales(spark, sf).collect().toSeq
    // forced past the fact-size threshold: daily-cumsum + broadcast-back
    // must produce IDENTICAL values (a RANGE frame's running value IS the
    // per-(nation, day) cumulative; exact decimal both paths)
    val s2 = spark.newSession()
    s2.conf.set("graft.window.maxDirectRunningRows", "0")
    val twoPhase = Relational.q13_running_sales(s2, sf).collect().toSeq
    assert(twoPhase == window)
    // and the scalable plan windows only the bounded daily grain — no
    // window over the fact-row stream (the Window's child aggregates)
    val plan = Relational.q13_running_sales(s2, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Window"), "two-phase form should keep the daily window")
  }

  test("pivot zero-fill matches FILTER-count semantics on sparse combos") {
    // q53's coalesce-to-0 path is not exercised by the test data (every
    // segment has every status); prove the semantics on a sparse frame
    import spark.implicits._
    val sparse = Seq(("A", "F"), ("A", "F"), ("B", "O")).toDF("seg", "st")
    val pivoted = sparse.groupBy("seg").pivot("st", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("seg"), coalesce(col("F"), lit(0L)).as("n_f"),
              coalesce(col("O"), lit(0L)).as("n_o"),
              coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("seg").collect()
    assert(pivoted.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq(("A", 2L, 0L, 0L), ("B", 0L, 1L, 0L)))
  }

  test("q20 anti join and q21 semi join partition consistently") {
    val noItems = Relational.q20_orders_no_items(spark, sf).count()
    val orders = Tables.orders(spark, sf).count()
    val withItems = Tables.orders(spark, sf).join(
      Tables.lineitem(spark, sf).select("l_orderkey").distinct(),
      col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    assert(noItems + withItems == orders)
  }

  test("q12 ranks only parts that exist: a top l_partkey missing from part takes no rank slot") {
    // fixture: the full lineitem with part minus the top-revenue part, so
    // the foreign key is broken exactly where the ranking starts
    val li = Tables.lineitem(spark, sf)
    val rev = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    val top = li.groupBy("l_partkey").agg(expr(s"SUM($rev)").as("r"))
      .orderBy(desc("r")).head().get(0)
    val d = java.nio.file.Files.createTempDirectory("graft_q12_fk").toString
    li.write.parquet(s"$d/lineitem.parquet")
    Tables.part(spark, sf).filter(col("p_partkey") =!= lit(top))
      .write.parquet(s"$d/part.parquet")
    Tables.table(spark, d, "lineitem").createOrReplaceTempView("q12_fk_lineitem")
    Tables.table(spark, d, "part").createOrReplaceTempView("q12_fk_part")
    // the oracle's form: join part BEFORE ranking
    val expect = spark.sql(
      s"""WITH pr AS (
            SELECT p_partkey, p_name, SUM($rev) AS rev_d
            FROM q12_fk_lineitem JOIN q12_fk_part ON l_partkey = p_partkey
            GROUP BY p_partkey, p_name),
          r AS (
            SELECT CAST(RANK() OVER (ORDER BY rev_d DESC) AS INT) AS rnk,
              p_partkey, p_name, CAST(rev_d AS DOUBLE) AS revenue
            FROM pr)
          SELECT * FROM r WHERE rnk <= 10 ORDER BY rnk, p_partkey""").collect().toSeq
    val got = Relational.q12_rank_parts(spark, d).collect().toSeq
    assert(expect.size >= 10)
    assert(got == expect)
  }
}
