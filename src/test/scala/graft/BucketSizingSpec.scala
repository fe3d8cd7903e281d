package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BucketedLayout, StatsManifest}

/** Bucketed layouts are sized to their data: a family's bucket count is
  * derived from its fact bytes (BucketedLayout.bucketsFor), both layouts
  * of a family share it, the gates engage exactly at the full count, and
  * a fact that grows past a power of two is re-bucketed without leaving
  * the old copy behind. */
class BucketSizingSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val MB = 1L << 20

  test("derivation: largest power of two of fact / threshold, clamped to [1, Buckets]") {
    // (fact bytes, per-bucket threshold) → count, for the lineitem
    // families' 32 MB and the custkey family's 4 MB thresholds
    val cases = for (t <- Seq(32 * MB, 4 * MB)) yield Seq(
      (0L, t) -> 1,
      (t - 1, t) -> 1,
      (t, t) -> 1,
      (2 * t - 1, t) -> 1,
      (2 * t, t) -> 2,
      (3 * t, t) -> 2,
      (7 * t + t / 2, t) -> 4,
      (8 * t, t) -> 8,
      (31 * t, t) -> 16,
      (32 * t - 1, t) -> 16,
      (32 * t, t) -> 32,           // the gates' `bytes ≥ Buckets × threshold`
      (1000 * t, t) -> 32)         // clamp
    for (((bytes, t), want) <- cases.flatten)
      assert(BucketedLayout.bucketCount(bytes, t) == want, s"bytes=$bytes threshold=$t")
    // a non-positive threshold forces the full count (Verify's forced gate)
    assert(BucketedLayout.bucketCount(0L, 0L) == BucketedLayout.Buckets)
    assert(BucketedLayout.bucketCount(5 * MB, -1L) == BucketedLayout.Buckets)
  }

  /** A source dir whose tables have exact on-disk sizes (sparse files:
    * the derivation reads only the footprint). */
  private def sizedSource(sizes: (String, Long)*): String = {
    val d = Files.createTempDirectory("graft_bucket_sizing").toString
    for ((t, n) <- sizes) {
      Files.createDirectories(Paths.get(s"$d/$t.parquet"))
      val f = new java.io.RandomAccessFile(s"$d/$t.parquet/part-0.parquet", "rw")
      try f.setLength(n) finally f.close()
    }
    d
  }

  test("bucketsFor reads each family's fact and threshold") {
    val d = sizedSource("lineitem" -> 70 * MB, "orders" -> 20 * MB)
    // lineitem 70 MB / 32 MB → 2; orders 20 MB / 4 MB → 4
    for (k <- Seq("l_partkey", "p_partkey", "l_orderkey", "o_orderkey"))
      assert(BucketedLayout.bucketsFor(spark, d, k) == 2, k)
    for (k <- Seq("o_custkey", "c_custkey"))
      assert(BucketedLayout.bucketsFor(spark, d, k) == 4, k)
    // the shared setting sizes every family; the custkey one only custkey
    val s2 = spark.newSession()
    s2.conf.set("graft.bucketed.minBucketBytes", (10 * MB).toString)
    assert(BucketedLayout.bucketsFor(s2, d, "l_partkey") == 4)
    assert(BucketedLayout.bucketsFor(s2, d, "o_custkey") == 2)
    s2.conf.set("graft.bucketed.custkey.minBucketBytes", MB.toString)
    assert(BucketedLayout.bucketsFor(s2, d, "o_custkey") == 16)
    assert(BucketedLayout.bucketsFor(s2, d, "l_orderkey") == 4)
  }

  private def numBuckets(s: SparkSession, name: String): Int =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(name))
      .bucketSpec.get.numBuckets

  /** The partkey family's join, forced to sort-merge (at test scale the
    * planner would broadcast and trivially skip the exchange). */
  private def familyJoinPlan(s: SparkSession, li: String, pt: String): String =
    s.table(li).hint("merge")
      .join(s.table(pt), col("l_partkey") === col("p_partkey"))
      .queryExecution.executedPlan.toString

  test("both layouts of a family share the derived count; the join stays exchange-free at 1 and 32") {
    // test scale: the ~0.1 MB fact derives one bucket
    assert(BucketedLayout.bucketsFor(spark, sf, "l_partkey") == 1)
    val (li, pt) = BucketedLayout.ensure(spark, sf)
    assert(numBuckets(spark, li) == 1 && numBuckets(spark, pt) == 1)
    val p1 = familyJoinPlan(spark, li, pt)
    assert(p1.contains("SortMergeJoin") && p1.contains("Bucketed: true"))
    assert(!p1.contains("Exchange"), s"1-bucket family join must not shuffle:\n$p1")
    // a tiny per-bucket threshold derives the full count, as at gate scale
    val s32 = spark.newSession()
    s32.conf.set("graft.bucketed.minBucketBytes", "1")
    assert(BucketedLayout.bucketsFor(s32, sf, "l_partkey") == BucketedLayout.Buckets)
    val (li32, pt32) = BucketedLayout.ensure(s32, sf)
    assert(numBuckets(s32, li32) == BucketedLayout.Buckets &&
           numBuckets(s32, pt32) == BucketedLayout.Buckets)
    val p32 = familyJoinPlan(s32, li32, pt32)
    assert(p32.contains("SortMergeJoin") && p32.contains("Bucketed: true"))
    assert(!p32.contains("Exchange"), s"32-bucket family join must not shuffle:\n$p32")
    // the orderkey family too
    val (lo, od) = BucketedLayout.ensureOrderkey(s32, sf)
    assert(numBuckets(s32, lo) == BucketedLayout.Buckets &&
           numBuckets(s32, od) == BucketedLayout.Buckets)
  }

  test("q73 at the derived count equals the 32-bucket output by value") {
    def rows(df: DataFrame) = df.collect().toSeq
    val s32 = spark.newSession()
    s32.conf.set("graft.bucketed.minBucketBytes", "1")
    val at32 = rows(SparkEntry.queries("q73_bucketed_brand_revenue")(s32, sf))
    val derived = rows(SparkEntry.queries("q73_bucketed_brand_revenue")(spark, sf))
    assert(numBuckets(spark, BucketedLayout.ensure(spark, sf)._1) == 1)
    assert(derived.nonEmpty && derived == at32)
  }

  private def li = Tables.lineitem(spark, sf)
  private def base = li.filter(col("l_orderkey") % 10 =!= 0)
  private def delta = li.filter(col("l_orderkey") % 10 === 0)

  private def freshSource(df: DataFrame): String = {
    val d = Files.createTempDirectory("graft_bucket_src").toString
    df.write.parquet(s"$d/lineitem.parquet")
    Tables.clearCaches()
    d
  }

  private def ingest(src: String): Unit = {
    delta.write.mode("append").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
  }

  private def locOf(s: SparkSession, name: String): String =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(name))
      .location.getPath

  private def allRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.mkString("\u0000"))

  test("tripwire: one append to a 1-bucket layout adds one file and reads one footer") {
    val src = freshSource(base)
    val name = BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    assert(numBuckets(spark, name) == 1)
    assert(BucketedLayout.fileCount(spark, src, "lineitem", "l_orderkey") == 1)
    val manifest = Paths.get(s"${locOf(spark, name)}/${StatsManifest.FileName}")
    val before = Files.readString(manifest)
    ingest(src)
    assert(BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", delta) == name)
    assert(BucketedLayout.fileCount(spark, src, "lineitem", "l_orderkey") == 2)
    // replay the append's manifest refresh from the pre-append manifest:
    // it keeps the one base entry and reads the one new footer
    val after = Files.readString(manifest)
    Files.writeString(manifest, before)
    assert(StatsManifest.write(spark, locOf(spark, name), Seq("l_orderkey")) ==
      StatsManifest.Refresh(1, 1))
    assert(Files.readString(manifest) == after)
  }

  test("a fact crossing a power of two re-buckets, retires the old copy, equals a rebuild") {
    val src = freshSource(base)
    // a threshold just over half the base: the base derives 1 bucket, the
    // base plus the (smaller) delta derives 2
    val s2 = spark.newSession()
    val baseBytes = Tables.tableBytes(src, "lineitem")
    s2.conf.set("graft.bucketed.minBucketBytes", (baseBytes / 2 + 1).toString)
    val oldName = BucketedLayout.ensureTable(s2, src, "lineitem", "l_orderkey")
    val oldLoc = locOf(s2, oldName)
    assert(numBuckets(s2, oldName) == 1)
    ingest(src)
    assert(BucketedLayout.bucketsFor(s2, src, "l_orderkey") == 2)
    val name = BucketedLayout.appendDelta(s2, src, "lineitem", "l_orderkey", delta)
    assert(name != oldName && numBuckets(s2, name) == 2)
    // nothing of the 1-bucket copy is left: catalog table, directory,
    // and the content-address directory above it
    assert(!s2.catalog.tableExists(oldName))
    assert(!Files.exists(Paths.get(oldLoc)))
    assert(!Files.exists(Paths.get(oldLoc).getParent))
    // same rows as a from-scratch build of the grown source at 2 buckets
    val oracleSrc = freshSource(base.union(delta))
    val oracle = BucketedLayout.ensureTable(spark, oracleSrc, "lineitem", "l_orderkey", 2)
    assert(allRows(s2.table(name)) == allRows(spark.table(oracle)))
    // the re-bucketed layout is current: the next ensure serves it as is
    assert(BucketedLayout.ensureTable(s2, src, "lineitem", "l_orderkey") == name)
  }
}
