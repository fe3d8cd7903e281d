package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Maintenance, Tables}
import graft.operators._
import graft.sources.{BucketedLayout, HilbertLayout, LayoutMeta, SnapshotMerge, StatsManifest, ZOrderLayout}
import graft.streaming.BandIngest

/** The benchmark's JVM half. Reads a plan written by `perfbench/run.py`,
  * sets the workload up, runs the untimed verification pass (which is also
  * the warm-up), runs the closed timed loop, and writes one result JSON
  * (plus the span file when tracing). It drives graft through its query
  * maps and its ensure/append/tick/stream calls; living in package graft it
  * also reaches two `private[graft]` helpers, the shared-index invalidation
  * graft.Bench uses and the layout metadata behind `ingest.probe_bloat`.
  * Output checking and metric arithmetic happen in Python.
  *
  * Usage: graft.perfbench.Main <plan.json> */
object Main {
  type Q = (SparkSession, String) => DataFrame

  final case class Query(name: String, module: String, fn: Q)

  /** The `plans.BandJoin` queries, reported as their own layer. */
  val BandJoinQueries = Set("q47b_asof_exec", "q49b_band_join_exec", "q49c_band_left_outer")

  /** Every read-only query of the star and the corpus, by module. */
  val registry: Seq[Query] = {
    def mod(m: String, qs: Map[String, Q]) = qs.toSeq.map { case (n, f) => Query(n, m, f) }
    (mod("relational", Relational.queries) ++
      Warehouse.queries.toSeq.map { case (n, f) =>
        Query(n, if (BandJoinQueries(n)) "bandjoin" else "warehouse", f) } ++
      mod("multimodal", Multimodal.queries) ++ mod("textops", TextOps.queries) ++
      mod("pipelineops", PipelineOps.queries) ++ mod("vectorops", VectorOps.queries))
      .sortBy(_.name)
  }

  /** Pass order: query names sorted by SHA-256 of "seed:pass:name" (hex).
    * `perfbench/plan.py` holds the reference implementation; the executed
    * order is reported back and checked against it. */
  def passOrder(seed: Long, pass: Int, names: Seq[String]): Seq[String] = {
    def key(n: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$seed:$pass:$n".getBytes("UTF-8")).map("%02x".format(_)).mkString
    names.sortBy(key)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secs(t0: Long): Double = (Clock.us() - t0) / 1e6

  def timed[T](f: => T): (T, Double) = {
    val t0 = Clock.us(); val r = f; (r, secs(t0))
  }

  /** `f` over `xs` on `threads` threads, results in input order. */
  def parallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  def copyDir(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Option(new java.io.File(from).listFiles).toSeq.flatten.filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, Paths.get(to, f.getName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def errorText(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  def main(args: Array[String]): Unit = {
    val plan: JsonNode = new ObjectMapper().readTree(new java.io.File(args(0)))
    val run = new Run(plan)
    try run.execute()
    finally run.stop()
  }
}

final class Run(plan: JsonNode) {
  import Main._

  val workload: String = plan.get("workload").asText
  val seed: Long = plan.get("seed").asLong
  val seconds: Double = plan.get("seconds").asDouble
  val traceOn: Boolean = plan.get("trace").asBoolean
  val cores: Int = plan.get("cores").asInt
  val verifyThreads: Int = plan.get("verify_threads").asInt
  val data: String = plan.get("data").asText
  val work: String = plan.get("work").asText
  val target: String = plan.get("target").asText

  private def strings(node: JsonNode): Seq[String] = node.elements().asScala.map(_.asText).toSeq

  /** The query workload's queries: every registered query of the plan's
    * modules, and the plan's further queries by name. */
  val queries: Seq[Query] =
    if (workload == "query") {
      val modules = strings(plan.get("modules")).toSet
      val named = strings(plan.get("queries")).toSet
      registry.filter(q => modules(q.module) || named(q.name))
    } else Nil

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val out = mutable.LinkedHashMap[String, Any]()
  private val ops = mutable.ArrayBuffer[OpRecord]()

  def stop(): Unit = if (spark != null) spark.stop()

  // ---------------------------------------------------------------- setup

  /** Builds of the persisted structures, by layer name. */
  private def build(s: SparkSession, d: String, structure: String): Any = structure match {
    case "bucketed" => BucketedLayout.ensure(s, d); BucketedLayout.ensureOrderkey(s, d)
    case "zorder" => ZOrderLayout.ensureLineitem(s, d)
    case "hilbert" => HilbertLayout.ensureLineitem3(s, d)
    case "band" => BandIngest.ensure(s, d)
    case "snapmerge" => SnapshotMerge.ensureMerged(s, d)
    case "ivf" => IvfIndex.ensure(s, d)
    case "pq" => PqIndex.ensure(s, d)
    // the census artifacts are built while q42/q78 construct their scans
    case "lshcensus" =>
      VectorOps.queries("q42_lsh_neardup")(s, d); VectorOps.queries("q78_lsh_banded")(s, d)
  }

  /** The persisted structures a query reads. */
  private def reads(q: Query): Seq[String] = (q.module, q.name) match {
    case (_, "q73_bucketed_brand_revenue") => Seq("bucketed")
    case (_, "q74_zorder_slice") => Seq("zorder")
    case (_, "q77_hilbert_slice") => Seq("hilbert")
    case ("textops", _) => Seq("band")
    case ("pipelineops", _) => Seq("snapmerge")
    case ("vectorops", _) => Seq("ivf", "pq", "lshcensus")
    case _ => Nil
  }

  /** Structure builds of the workload: every structure its operations read. */
  private def structures(s: SparkSession, d: String): Seq[(String, () => Any)] = {
    val names =
      if (workload == "ingest") Seq("bucketed", "zorder", "hilbert", "band")
      else queries.flatMap(reads).distinct
    names.map(n => n -> (() => build(s, d, n)))
  }

  val IngestTables: Seq[(String, String)] =
    Seq(("lineitem", "l_orderkey"), ("orders", "o_orderkey"), ("part", "p_partkey"))

  /** The run-scoped input copy: the committed tables as they are, or
    * for ingest the base star (`key % 128 >= maxDays` on the three sliced
    * tables). The base star is written once into the plan's `base_cache`
    * directory and copied from there by later runs. */
  private def prepareInput(s: SparkSession, dir: String): Unit = {
    copyDir(data, dir)
    if (workload == "ingest") {
      val days = plan.get("ingest").get("max_days").asInt
      val cache = plan.get("base_cache").asText
      if (!Files.exists(Paths.get(cache, "_ok"))) {
        IngestTables.foreach { case (t, k) =>
          Tables.table(s, data, t).filter(col(k) % 128 >= days)
            .write.mode("overwrite").parquet(s"$cache/$t.parquet")
        }
        Files.createFile(Paths.get(cache, "_ok"))
      }
      IngestTables.foreach { case (t, _) =>
        Files.delete(Paths.get(dir, s"$t.parquet"))
        copyDir(s"$cache/$t.parquet", s"$dir/$t.parquet")
      }
      Tables.clearCaches()
    }
  }

  /** One cold set-up: a fresh session over a run-scoped input copy, then a
    * build of every persisted structure the workload reads, the independent
    * ones concurrently, as a deployment would build them. */
  private def setup(): String = {
    val dir = s"$work/src"
    val (s, sessionS) = timed(session(cores, work))
    spark = s
    prepareInput(s, dir)
    val before = Disk.census(target)
    val todo = structures(s, dir)
    val (builds, buildS) = timed(parallel(todo, todo.size) { case (name, f) =>
      s"${name}_s" -> timed(f())._2
    })
    out("setup") = Map[String, Any]("session_s" -> sessionS, "build_s" -> buildS,
      "bytes_written" -> Disk.written(before, Disk.census(target))) ++ builds
    out("source_bytes") = Disk.bytes(dir)
    tracer = new Tracer(spark, traceOn)
    dir
  }

  // ------------------------------------------------------------ operations

  /** One closed-loop operation: construct the DataFrame, then a noop-sink
    * write. Spans: op, construct, sink. */
  private def runOp(name: String, module: String, kind: String, parent: Long)
                   (construct: => DataFrame): OpRecord = {
    val id = tracer.newOp()
    tracer.enter(id)
    val t0 = Clock.us()
    var t1 = t0
    val err = try {
      val df = construct
      t1 = Clock.us()
      df.write.format("noop").mode("overwrite").save()
      None
    } catch { case e: Throwable => Some(errorText(e)) }
    val t2 = Clock.us()
    tracer.enter(-1)
    tracer.boundary()
    if (t1 == t0 && err.isDefined) t1 = t2 // construction failed: all of it was construct
    tracer.span("op", id, t0, t2, "name" -> name, "module" -> module, "op_kind" -> kind,
      "parent" -> parent)
    tracer.span("construct", id, t0, t1)
    tracer.span("sink", id, t1, t2)
    val rec = OpRecord(name, kind, parent, (t2 - t0) / 1e6, err)
    ops += rec
    rec
  }

  /** A timed step of an ingest batch (no DataFrame of its own). */
  private def runStep[T](name: String, parent: Long)(f: => T): (Option[T], OpRecord) = {
    val id = tracer.newOp()
    tracer.enter(id)
    val t0 = Clock.us()
    val (res, err) = try (Some(f), None) catch { case e: Throwable => (None, Some(errorText(e))) }
    val t1 = Clock.us()
    tracer.enter(-1)
    tracer.boundary()
    tracer.span("op", id, t0, t1, "name" -> name, "module" -> "ingest", "op_kind" -> "step",
      "parent" -> parent)
    val rec = OpRecord(name, "step", parent, (t1 - t0) / 1e6, err)
    ops += rec
    (res, rec)
  }

  private def verifyWrite(df: => DataFrame, dir: String): Option[String] =
    try { df.write.mode("overwrite").parquet(dir); None }
    catch { case e: Throwable => Some(errorText(e)) }

  // --------------------------------------------------------- query workload

  private def queryWorkload(d: String): Unit = {
    val s = spark
    // untimed verification pass, one execution per query on several threads
    // (planning is single-threaded per query) — also the JVM's warm-up
    TextOps.invalidateSharedIndex()
    val (verify, warmS) = timed(parallel(queries, verifyThreads) { q =>
      q.name -> verifyWrite(q.fn(s, d), s"$work/verify/${q.name}")
    })
    out("warmup_s") = warmS
    out("verify") = verify.map { case (n, e) =>
      Map("name" -> n, "dir" -> s"$work/verify/$n", "error" -> e) }

    val byName = queries.map(q => q.name -> q).toMap
    val orders = mutable.ArrayBuffer[Seq[String]]()
    var busy = 0.0
    var pass = 0
    while (pass == 0 || busy < seconds) {
      System.gc()
      // each pass rebuilds the shared shingle/winnow/decontamination indexes
      // once, in the first op that reads them, as graft.Bench does
      TextOps.invalidateSharedIndex()
      val order = passOrder(seed, pass, queries.map(_.name))
      orders += order
      order.foreach { n =>
        val q = byName(n)
        busy += runOp(n, q.module, "query", -1L)(q.fn(s, d)).wallS
      }
      pass += 1
    }
    out("orders") = orders.toSeq
    out("oracles") = oracles(d, queries.map(_.name))
    if (traceOn && queries.exists(_.module == "vectorops")) vectorQuality(d)
  }

  /** DuckDB oracle SQL of `names` over the input at `d`, with the persisted
    * index placeholders resolved as graft.Verify resolves them. */
  private def oracles(d: String, names: Seq[String]): Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }.map { case (n, sql) =>
      n -> sql.replace("__IVF__", IvfIndex.indexDirFor(spark, d))
        .replace("__PQ__", PqIndex.indexDir(d))
    }

  /** Waste and quality counters of the vector layers (traced runs). */
  private def vectorQuality(d: String): Unit = {
    val s = spark
    val cells = VectorOps.lshCodedScan(s, d, LshGate.bits(s, d))
      .groupBy("bucket", "extc").count().collect().map(_.getLong(2))
    out("lsh") = Map("cand_pairs" -> cells.map(n => n * (n - 1) / 2).sum,
      "max_cell" -> (if (cells.isEmpty) 0L else cells.max))
    // IVF recall@10 against the exact top-10 of the same probes
    verifyWrite(VectorOps.ivfSearch(s, d, IvfIndex.NProbe, 10), s"$work/quality/ivf10")
    val emb = Tables.embeddings(s, d)
    val vecs = emb.select(col("vec_id"), col("embedding").as("v"))
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, z) -> acc + z)")
    val exact = vecs.crossJoin(probes).filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", dot("qv", "v") / sqrt(dot("qv", "qv") * dot("v", "v")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"))
    verifyWrite(exact, s"$work/quality/exact10")
  }

  // ------------------------------------------------------------- ingest

  private def fingerprint(df: DataFrame): (Long, Long) = {
    val h = df.select(pmod(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*),
      lit(1000000000L)).as("h"))
    val r = h.agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }

  private def ingestWorkload(src: String): Unit = {
    val s = spark
    val ing = plan.get("ingest")
    val days = ing.get("max_days").asInt
    val slices = ing.get("slices").elements().asScala.map(_.asInt).toIndexedSeq
    val (mult, add, mod) = (ing.get("drop_mult").asLong, ing.get("drop_add").asLong,
      ing.get("drop_mod").asLong)
    val dropRes = ing.get("drop_res").elements().asScala.map(_.asLong).toIndexedSeq
    val idOffset = ing.get("id_offset").asLong
    val dropDir = s"$work/band_drop"
    val deltaDir = s"$work/band_delta"
    val ckpt = s"$work/band_ckpt"
    Files.createDirectories(Paths.get(dropDir))
    var idx = BandIngest.ensure(s, src)

    // the reads: star queries by name, and the band probe
    val byName = registry.map(q => q.name -> q).toMap
    val readNames = strings(ing.get("reads"))
    val readRounds = ing.get("read_rounds").asInt
    def read(n: String): (String, () => DataFrame) =
      if (n == "band_probe") ("streaming", () => BandIngest.bandsWithDelta(s, idx, deltaDir))
      else (byName(n).module, () => byName(n).fn(s, src))
    def verifyReads(tag: String): Seq[Map[String, Any]] =
      parallel(readNames, verifyThreads) { n =>
        val dir = s"$work/verify/$tag/$n"
        Map("name" -> n, "dir" -> dir, "error" -> verifyWrite(read(n)._2(), dir))
      }
    // untimed reads of the base state: the warm-up, and its output check
    val verify = mutable.ArrayBuffer[Map[String, Any]]()
    val (v0, warmS) = timed(verifyReads("base"))
    verify ++= v0.map(_ + ("batch" -> -1))
    out("warmup_s") = warmS

    val structRoots = Seq(target, deltaDir)
    def census() = structRoots.map(Disk.census).reduce(_ ++ _)
    val batches = mutable.ArrayBuffer[Map[String, Any]]()
    val orders = mutable.ArrayBuffer[Seq[String]]()
    var busy = 0.0
    var day = 0
    while (day < days && (day == 0 || busy < seconds)) {
      val slice = slices(day)
      // the day's inputs, prepared untimed: row counts and the document drop
      val deltaRows = IngestTables.map { case (t, k) =>
        Tables.table(s, data, t).filter(col(k) % 128 === slice).count() }.sum
      val drop = Tables.documents(s, data)
        .filter(pmod(col("doc_id") * mult + add, lit(mod)) === dropRes(day))
        .withColumn("doc_id", col("doc_id") + lit((day + 1) * idOffset))
      val staging = s"$work/band_staging"
      drop.coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles.filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(dropDir, s"documents_$day.parquet")))

      val batchId = tracer.newOp()
      val t0 = Clock.us()
      val steps = mutable.LinkedHashMap[String, OpRecord]()
      val written = mutable.LinkedHashMap[String, Long]()
      def step[T](name: String, layout: Boolean)(f: => T): Option[T] = {
        val before = if (layout) census() else Map.empty[String, (Long, Long)]
        val (r, rec) = runStep(name, batchId)(f)
        if (layout) written(name) = Disk.written(before, census())
        steps(name) = rec
        r
      }
      val srcBefore = Disk.census(src)
      step("source_write", layout = false) {
        IngestTables.foreach { case (t, k) =>
          Tables.table(s, data, t).filter(col(k) % 128 === slice)
            .write.mode("append").parquet(s"$src/$t.parquet")
        }
        Tables.clearCaches()
      }
      val deltaBytes = Disk.written(srcBefore, Disk.census(src))
      def delta(t: String, k: String) = Tables.table(s, data, t).filter(col(k) % 128 === slice)
      step("append_bucketed", layout = true) {
        BucketedLayout.appendDelta(s, src, "lineitem", "l_partkey", delta("lineitem", "l_orderkey"))
        BucketedLayout.appendDelta(s, src, "lineitem", "l_orderkey", delta("lineitem", "l_orderkey"))
        BucketedLayout.appendDelta(s, src, "orders", "o_orderkey", delta("orders", "o_orderkey"))
        BucketedLayout.appendDelta(s, src, "part", "p_partkey", delta("part", "p_partkey"))
      }
      step("append_zorder", layout = true) {
        ZOrderLayout.appendDeltaLineitem(s, src, delta("lineitem", "l_orderkey"))
      }
      step("append_hilbert", layout = true) {
        HilbertLayout.appendDeltaLineitem3(s, src, delta("lineitem", "l_orderkey"))
      }
      val actions = step("tick", layout = true)(Maintenance.tick(s, src)).getOrElse(Nil)
      step("band_stream", layout = true) {
        BandIngest.start(s, dropDir, idx, deltaDir, ckpt).awaitTermination()
      }
      // traced runs: the staleness the rebuild policy is about to judge
      val staleness = if (traceOn) Some(BandIngest.staleness(s, idx, deltaDir)) else None
      val rebuilt = step("band_rebuild", layout = true) {
        if (BandIngest.needsRebuild(s, idx, deltaDir)) {
          idx = BandIngest.rebuild(s, src, dropDir, deltaDir); true
        } else false
      }.getOrElse(false)
      val readRecs = (0 until readRounds).flatMap { r =>
        val order = passOrder(seed, day * readRounds + r, readNames)
        orders += order
        order.map { n =>
          val (module, f) = read(n)
          runOp(n, module, "read", batchId)(f())
        }
      }
      val t1 = Clock.us()
      val batchS = (t1 - t0) / 1e6
      tracer.span("op", batchId, t0, t1, "name" -> "batch", "module" -> "ingest",
        "op_kind" -> "batch", "parent" -> -1L)
      val batchRec = OpRecord("batch", "batch", -1L, batchS,
        (steps.values ++ readRecs).flatMap(_.error).headOption)
      ops += batchRec
      busy += batchS

      // untimed: per-batch evidence and the output check of this state
      val extra = mutable.LinkedHashMap[String, Any]()
      if (traceOn) {
        extra("staleness") = staleness
        val zloc = ZOrderLayout.ensureLineitem(s, src)
        val bloat = for {
          entries <- StatsManifest.read(zloc)
          floor <- LayoutMeta.probeFloor(zloc) if floor > 0
        } yield LayoutMeta.anchoredProbeBytes(zloc, entries, ZOrderLayout.StatsCols) / floor
        extra("probe_bloat") = bloat
      }
      verify ++= verifyReads(s"b$day").map(_ + ("batch" -> day))
      batches += (Map[String, Any]("day" -> day, "id" -> batchId, "delta_rows" -> deltaRows,
        "delta_bytes" -> deltaBytes, "steps" -> steps.map { case (n, r) => n -> r.wallS },
        "written" -> written, "folds" -> actions.count(_.fired), "rebuilt" -> rebuilt) ++ extra)
      day += 1
    }
    out("batches") = batches.toSeq
    out("orders") = orders.toSeq
    out("oracles") = oracles(src, readNames)
    out("verify") = verify.toSeq

    // end state: every maintained layout equals its source by value
    Tables.clearCaches()
    val li = Tables.table(s, src, "lineitem")
    val fidelity = mutable.LinkedHashMap[String, Boolean]()
    fidelity("zorder") = fingerprint(s.read.parquet(ZOrderLayout.ensureLineitem(s, src))) ==
      fingerprint(li)
    fidelity("hilbert") = fingerprint(s.read.parquet(HilbertLayout.ensureLineitem3(s, src))) ==
      fingerprint(li)
    Maintenance.BucketedFamilies.foreach { case (t, k) =>
      val name = BucketedLayout.ensureTable(s, src, t, k)
      fidelity(s"bucketed:$t/$k") =
        fingerprint(s.table(name)) == fingerprint(Tables.table(s, src, t))
    }
    out("fidelity") = fidelity
    out("structure_bytes") = structRoots.map(Disk.bytes).sum
    out("layout_files") = Disk.dataFiles(target)
    out("end_source_bytes") = Disk.bytes(src)
  }

  // ---------------------------------------------------------------- main

  def execute(): Unit = {
    val d = setup()
    if (workload == "ingest") ingestWorkload(d)
    else {
      queryWorkload(d)
      out("structure_bytes") = Disk.bytes(target)
      out("end_source_bytes") = Disk.bytes(d)
    }
    out("ops") = ops.toSeq.map(_.fields)
    out("drain_s") = tracer.drainNs / 1e9
    out("peak_rss_mb") = peakRssMb()
    out("cores") = cores
    if (traceOn) tracer.writeSpans(plan.get("spans").asText)
    Files.write(Paths.get(plan.get("out").asText), Json.render(out).getBytes("UTF-8"))
  }
}
