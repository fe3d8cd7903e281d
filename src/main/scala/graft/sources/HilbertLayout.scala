package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Hilbert-curve clustered layout — the k-dimensional generalization of
  * [[ZOrderLayout]] (which is 2-dim by construction: a 16+16 bit Morton
  * interleave). A workload slicing on THREE independent dimensions needs
  * footer stats selective on all three at once; with the Morton ladder
  * that means either widening the interleave (straightforward) or moving
  * to the Hilbert curve (this module): at equal bits the Hilbert curve's
  * unit-step adjacency keeps each contiguous key range — each output
  * file — a tighter box of the key space, because the curve never takes
  * Morton's bit-boundary jumps. Same consumption story as z-order: plain
  * parquet, ordinary footer min/max row-group skipping, a cluster
  * catalog's file-level pruning; no table format required.
  *
  * The curve value is LAYOUT-ONLY (ordered by, then dropped); q77's
  * oracle runs the identical slice on the PLAIN table, pinning
  * value-faithfulness exactly like q73/q74.
  */
object HilbertLayout {

  /** Algorithm tag, part of the content address (the BuildTag lesson). */
  val Tag = "h1"

  /** Bits per dimension: 3 dims × 16 bits = 48-bit index, comfortably a
    * long; 65k cells per axis is far finer than any file count. */
  val BitsPerDim = 16

  /** `bits`-bit rank of `c` within [lo, hi] — ZOrderLayout.rank16
    * generalized (the double intermediate affects row PLACEMENT only). */
  private def rank(c: Column, lo: Long, hi: Long, bits: Int): Column =
    if (hi <= lo) lit(0L)
    else ((c - lit(lo)).cast(DoubleType) *
          (((1L << bits) - 1).toDouble / (hi - lo).toDouble)).cast(LongType)

  /** Write `df` Hilbert-clustered on the (long-valued) dimension columns:
    * one tiny aggregate takes the row count and every dim's bounds
    * together, rank each dim, range-partition by the curve index so each
    * output file covers one contiguous curve range = one tight box of the
    * k-dim space, sort within for row-group stats, drop the key. `files`
    * sizes the write from the row count; zero rows write nothing.
    * Timestamps forced to stats-bearing TIMESTAMP_MICROS for this write
    * (the layout IS those stats) through ZOrderLayout's shared scope. */
  def writeHilbert(df: DataFrame, dims: Seq[Column], out: String,
                   files: Long => Int): Unit = {
    graft.functions.HilbertIdx.register(df.sparkSession)
    val aggs = dims.flatMap(d =>
      Seq(min(d.cast(LongType)), max(d.cast(LongType))))
    val bounds = df.agg(count(lit(1)), aggs: _*).head()
    val rows = bounds.getLong(0)
    if (rows > 0) {
      val ranked = dims.zipWithIndex.map { case (d, i) =>
        rank(d.cast(LongType), bounds.getLong(2 * i + 1),
             bounds.getLong(2 * i + 2), BitsPerDim)
      }
      val h = graft.functions.HilbertIdx.hilbert_idx(BitsPerDim, ranked: _*)
      ZOrderLayout.withMicrosTimestamps(df.sparkSession) {
        df.withColumn("__h", h)
          .repartitionByRange(files(rows), col("__h"))
          .sortWithinPartitions("__h")
          .drop("__h")
          .write.mode("overwrite").parquet(out)
      }
    }
  }

  /** Content address: source + algo only — ZOrderLayout's r13 rationale
    * (identity must not drift with source size; freshness is the
    * `_layout_meta` stamp). */
  private def hash(sfDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir|$Tag|$BitsPerDim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  private def locFor(sfDir: String) =
    s"/root/repo/target/hilbert/${hash(sfDir)}/lineitem"

  private def dims3 = Seq(col("l_partkey"),
    ZOrderLayout.dayOf(col("l_shipdate")), col("l_suppkey"))

  @volatile private var vacuumed = false
  private def vacuumLegacyOnce(): Unit = {
    if (vacuumed) return
    vacuumed = true
    LayoutMeta.vacuumLegacy("/root/repo/target/hilbert", "_h_ok")
  }

  /** Ensure the 3-dim Hilbert-clustered lineitem copy for `sfDir` exists,
    * clustered on (l_partkey, day(l_shipdate), l_suppkey) — the three
    * independent slice dimensions of q77. File-count sizing, stamp-checked
    * reuse/rebuild, and manifest backfill identical to
    * [[ZOrderLayout.ensureLineitem]]. */
  def ensureLineitem3(s: SparkSession, sfDir: String): String = synchronized {
    vacuumLegacyOnce()
    val targetBytes =
      s.conf.get("graft.zorder.targetBytes", (128L << 20).toString).toLong
    val files = math.max(16, math.ceil(
      graft.Tables.tableBytes(sfDir, "lineitem").toDouble / targetBytes).toInt)
    val loc = locFor(sfDir)
    val marker = Paths.get(s"$loc/_h_ok")
    val stamp = graft.Tables.pathStamp(s"$sfDir/lineitem.parquet")
    if (Files.exists(marker) && LayoutMeta.stamp(loc).contains(stamp)) {
      if (!Files.exists(Paths.get(s"$loc/${StatsManifest.FileName}")))
        StatsManifest.write(s, loc, StatsCols) // pre-manifest backfill
    } else {
      val dir = Paths.get(loc)
      if (Files.exists(dir)) graft.Fs.deleteTree(dir) // stale or partial
      writeHilbert(graft.Tables.lineitem(s, sfDir), dims3, loc, _ => files)
      StatsManifest.write(s, loc, StatsCols)
      // the freshly-clustered tightness IS the recluster policy's floor;
      // the domains recorded WITH it anchor the live metric's denominator
      // so outlier deltas can't shrink existing hull ratios (ADVICE r15)
      val fresh = StatsManifest.read(loc)
      val doms = fresh.fold(Map.empty[String, (Long, Long)])(
        StatsManifest.domainsOf(_, StatsCols))
      val floor = fresh.map(StatsManifest.pointProbeBytes(_, StatsCols, doms))
      LayoutMeta.write(loc, sfDir, "lineitem", stamp, floor, doms)
      Files.writeString(marker, "ok")
    }
    loc
  }

  /** O(delta) maintenance — [[ZOrderLayout.appendDeltaLineitem]]'s shape
    * on the 3-dim curve: delta clustered among itself, files moved in,
    * manifest refreshed (only the new files' footers read; true hulls →
    * pruning stays correct), stamp advanced LAST so every crash point
    * degrades to rebuild or to the loud unpruned fallback, never to
    * wrong. The delta's row count rides in the curve-bounds aggregate (no
    * separate count pass); a zero-row delta writes no file and still
    * passes the guard and the stamp advance. */
  def appendDeltaLineitem3(s: SparkSession, sfDir: String,
                           delta: org.apache.spark.sql.DataFrame): Unit =
    synchronized {
      val loc = locFor(sfDir)
      require(Files.exists(Paths.get(s"$loc/_h_ok")),
        s"appendDelta: no persisted hilbert layout at $loc — ensure first")
      val entries = StatsManifest.read(loc).getOrElse(Seq.empty)
      val rowsPerFile = math.max(1L,
        if (entries.isEmpty) Long.MaxValue
        else entries.map(_.rows).sum / entries.size)
      val tmp = s"$loc/.append_tmp"
      graft.Fs.deleteTree(Paths.get(tmp))
      writeHilbert(delta, dims3, tmp,
        rows => math.max(1, math.ceil(rows.toDouble / rowsPerFile).toInt))
      Option(new java.io.File(tmp).listFiles).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(s"$loc/${f.getName}")))
      graft.Fs.deleteTree(Paths.get(tmp))
      StatsManifest.write(s, loc, StatsCols)
      // row-conservation guard — BucketedLayout.appendDelta's discipline
      // (see ZOrderLayout.appendDeltaLineitem): a diverged source must
      // recluster, never get a fresh stamp.
      val layoutRows = StatsManifest.read(loc).map(_.map(_.rows).sum).getOrElse(-1L)
      val sourceRows = graft.Tables.tableRows(s, sfDir, "lineitem")
      if (layoutRows != sourceRows) {
        System.err.println(
          s"[hilbert] appendDelta divergence: layout holds $layoutRows rows, " +
          s"source holds $sourceRows — reclustering from source.")
        recluster(s, sfDir)
      } else
        // stamp advance carries the recorded recluster floor (see
        // ZOrderLayout.appendDeltaLineitem)
        LayoutMeta.write(loc, sfDir, "lineitem",
          graft.Tables.pathStamp(s"$sfDir/lineitem.parquet"),
          LayoutMeta.probeFloor(loc), LayoutMeta.floorDomains(loc))
    }

  /** Recluster policy — ZOrderLayout.maintain's shape on the 3-dim curve
    * (point-probe must-read bytes vs the recorded floor, recluster past
    * k×; see that scaladoc for the derivation and defaults). */
  def maintain(s: SparkSession, sfDir: String): Option[(Double, Double)] =
    synchronized {
      val loc = locFor(sfDir)
      StatsManifest.read(loc) match {
        case None => None
        case Some(entries) =>
          // metric against the domains recorded at the last (re)cluster
          // (pre-r16 meta: live domains until the next recluster records
          // one — ADVICE r15, see LayoutMeta.anchoredProbeBytes)
          val metric = LayoutMeta.anchoredProbeBytes(loc, entries, StatsCols)
          LayoutMeta.probeFloor(loc) match {
            case None =>
              LayoutMeta.write(loc, sfDir, "lineitem",
                LayoutMeta.stamp(loc).getOrElse(0L), Some(metric),
                StatsManifest.domainsOf(entries, StatsCols))
              None
            case Some(floor) =>
              val k = s.conf.get("graft.cluster.maxProbeBloat", "3.0").toDouble
              if (floor > 0 && metric > k * floor) {
                recluster(s, sfDir)
                Some((metric, floor))
              } else None
          }
      }
    }

  /** Full recluster — delta files fold back into the curve. */
  def recluster(s: SparkSession, sfDir: String): String = synchronized {
    graft.Fs.deleteTree(Paths.get(locFor(sfDir)))
    ensureLineitem3(s, sfDir)
  }

  /** Manifest-tracked pruning columns: the three clustered dimensions. */
  val StatsCols: Seq[String] = Seq("l_partkey", "l_shipdate", "l_suppkey")
}
