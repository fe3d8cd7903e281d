package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, read from the monotonic clock so two
  * stamps taken in one JVM subtract exactly. Spark's own event times are
  * epoch milliseconds; both land on one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** JSON text of Scala values (maps, sequences, options, scalars) through
  * Jackson, the ObjectMapper Spark already ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case xs: Iterable[_] => xs.map(toJava).toSeq.asJava
    case other => other
  }

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  def obj(kv: (String, Any)*): String = render(mutable.LinkedHashMap(kv: _*))
}

/** Spans and Spark counters of one benchmark run.
  *
  * Spans are recorded from the benchmark's own files, around its calls into
  * the program: op → construct / sink (the harness), sink → Catalyst phase
  * (a `QueryExecutionListener`), op → job → stage (a `SparkListener`). All
  * spans of one operation share its op id: the harness's spans carry it
  * directly, jobs carry it as the `perfbench.op` local property, stages
  * inherit it from their job, and Catalyst phases are matched to the sink
  * span that contains them when the spans are analysed. Nothing is
  * registered with Spark unless tracing is on. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val nextOp = new AtomicLong(0)
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageAgg = new ConcurrentHashMap[(Int, Int), Array[Long]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  /** Time spent draining the listener bus at op boundaries. */
  var drainNs = 0L

  // per-stage counters, indexed by these names
  private val Cols = Seq("tasks", "busy_ms", "cpu_ns", "wait_ms", "gc_ms",
    "spill_mem", "spill_disk", "shw_bytes", "shw_records", "shr_bytes",
    "fetch_wait_ms", "in_bytes", "in_rows")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
        .map(_.toLong).getOrElse(-1L)
      jobStart.put(e.jobId, (op, e.time))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (op, t0) = Option(jobStart.remove(e.jobId)).getOrElse((-1L, e.time))
      spans.add(Json.obj("kind" -> "job", "op" -> op, "job" -> e.jobId,
        "t0" -> t0 * 1000L, "t1" -> e.time * 1000L))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId, java.lang.Long.valueOf(
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val a = stageAgg.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => Array.fill(Cols.size)(0L))
      val submitted = Option(stageSubmit.get(e.stageId)).map(_.longValue)
        .getOrElse(e.taskInfo.launchTime)
      a.synchronized {
        a(0) += 1
        a(3) += math.max(0L, e.taskInfo.launchTime - submitted)
        if (m != null) {
          a(1) += m.executorRunTime; a(2) += m.executorCpuTime
          a(4) += m.jvmGCTime
          a(5) += m.memoryBytesSpilled; a(6) += m.diskBytesSpilled
          a(7) += m.shuffleWriteMetrics.bytesWritten
          a(8) += m.shuffleWriteMetrics.recordsWritten
          a(9) += m.shuffleReadMetrics.totalBytesRead
          a(10) += m.shuffleReadMetrics.fetchWaitTime
          a(11) += m.inputMetrics.bytesRead; a(12) += m.inputMetrics.recordsRead
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val a = Option(stageAgg.remove((si.stageId, si.attemptNumber())))
        .getOrElse(Array.fill(Cols.size)(0L))
      val job: Int = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1)
      val fields = Seq[(String, Any)]("kind" -> "stage", "stage" -> si.stageId,
        "job" -> job,
        "t0" -> si.submissionTime.getOrElse(0L) * 1000L,
        "t1" -> si.completionTime.getOrElse(0L) * 1000L) ++ Cols.zip(a.toSeq)
      spans.add(Json.obj(fields: _*))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
      record(func, qe, ok = false)
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (name, p) =>
        name -> Seq(p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
      spans.add(Json.obj("kind" -> "catalyst", "func" -> func, "ok" -> ok,
        "phases" -> phases))
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def newOp(): Long = nextOp.incrementAndGet()

  /** Mark the calling thread's jobs as belonging to `op` (−1 clears). */
  def enter(op: Long): Unit =
    if (enabled) sc.setLocalProperty("perfbench.op", if (op < 0) null else op.toString)

  /** Drain the listener bus so this op's events are recorded before the
    * next op starts. */
  def boundary(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(sc)
    drainNs += System.nanoTime() - t0
  }

  def span(kind: String, op: Long, t0: Long, t1: Long, extra: (String, Any)*): Unit =
    if (enabled) spans.add(Json.obj(
      (Seq[(String, Any)]("kind" -> kind, "op" -> op, "t0" -> t0, "t1" -> t1) ++ extra): _*))

  def writeSpans(path: String): Unit = {
    boundary()
    val lines = spans.asScala.toSeq
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.map(_ + "\n").mkString.getBytes("UTF-8"))
  }
}

/** One timed operation's harness record. */
final case class OpRecord(name: String, kind: String, parent: Long, wallS: Double,
                          error: Option[String]) {
  def fields: Map[String, Any] = Map("name" -> name, "kind" -> kind, "parent" -> parent,
    "wall_s" -> wallS, "error" -> error)
}

/** File censuses of the structure roots and the source. */
object Disk {
  /** (path → (size, mtime)) of every regular file under `root`. */
  def census(root: String): Map[String, (Long, Long)] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val out = mutable.Map[String, (Long, Long)]()
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.foreach { f =>
        val file = f.toFile
        if (file.isFile) out(f.toString) = (file.length(), file.lastModified())
      } finally st.close()
      out.toMap
    }
  }

  /** Bytes of files that are new or changed between two censuses. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  def bytes(root: String): Long = census(root).values.map(_._1).sum

  /** Parquet data files under `root`, leaving out hidden (temporary) dirs. */
  def dataFiles(root: String): Int =
    census(root).keys.map(_.stripPrefix(root)).count(p => p.endsWith(".parquet") && !p.contains("/."))
}
