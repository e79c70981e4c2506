package dedupbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed call into a layer. Jobs are attributed to the innermost open
  * span through a Spark local property, which threads spawned inside the
  * call (the pipeline's two verify threads, broadcast threads) inherit. */
final class Span(val id: Int, val name: String, val parent: Option[Int],
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  /** Counts set by the caller (rows out of an operator cut). */
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Per-call rollup of the jobs, stages and tasks under one span (its own
  * and its descendants'). */
final case class SpanStats(
    wallS: Double, selfS: Double, jobs: Int, stages: Int, tasks: Long,
    taskCpuS: Double, executorRunS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    peakExecMemMb: Double, driverGapS: Double)

/**
 * Span and counter recorder: one SparkListener rolls jobs, stages and tasks
 * up per span. Spans live in memory and are rolled up once, at the end,
 * after the listener bus has drained.
 */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Key = "dedupbench.span"

  import Recorder.{JobRec, StageAgg}

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobEnd = mutable.HashMap[Int, Long]()
  private val stageSpan = mutable.HashMap[Int, Option[Int]]()
  private val stages = mutable.HashMap[Int, StageAgg]()

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      jobs += JobRec(e.jobId, spanOf(e.properties), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peak = math.max(a.peak, m.peakExecutionMemory)
      }
    }
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  private var on = false
  /** Spans are recorded only while the listener is attached. */
  def attached: Boolean = on
  def attach(): Unit = { sc.addSparkListener(listener); on = true }
  def detach(): Unit = { sync(); sc.removeSparkListener(listener); on = false }
  def sync(): Unit = org.apache.spark.BenchListenerBus.drain(sc)

  /** Time `body` as a span named `name`, nested in the currently open one. */
  def span[T](name: String)(body: Span => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    try body(s)
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def subtree(s: Span): Set[Int] = {
    val kids = spans.filter(_.parent.contains(s.id))
    kids.flatMap(subtree).toSet + s.id
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    total + (curE - curS)
  }

  /** Rollup of one span; call after the work has finished. */
  def stats(s: Span): SpanStats = { sync(); rollup(s) }

  private def rollup(s: Span): SpanStats = synchronized {
    val ids = subtree(s)
    val js = jobs.filter(_.span.exists(ids.contains)).toSeq
    val st = stageSpan.collect { case (sid, Some(sp)) if ids.contains(sp) => sid }
      .flatMap(sid => stages.get(sid)).toSeq
    val jobIv = js.map(j => (j.startMs, jobEnd.getOrElse(j.id, s.endMs)))
    val kidIv = spans.filter(_.parent.contains(s.id)).map(k => (k.startNs, k.endNs)).toSeq
    val mb = 1024.0 * 1024.0
    SpanStats(
      wallS = s.wallS,
      selfS = (s.endNs - s.startNs - covered(kidIv, s.startNs, s.endNs)) / 1e9,
      jobs = js.size,
      stages = st.size,
      tasks = st.map(_.tasks).sum,
      taskCpuS = st.map(_.cpuNs).sum / 1e9,
      executorRunS = st.map(_.runMs).sum / 1e3,
      gcS = st.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = st.map(_.shufW).sum / mb,
      shuffleReadMb = st.map(_.shufR).sum / mb,
      spillMb = st.map(_.spill).sum / mb,
      peakExecMemMb = if (st.isEmpty) 0.0 else st.map(_.peak).max / mb,
      driverGapS = (s.endMs - s.startMs - covered(jobIv, s.startMs, s.endMs)) / 1e3)
  }

  /** Every span with its rollup as a JSON array (written once, at the end). */
  def spansJson: String = {
    sync()
    spans.map(s => spanJson(s, rollup(s))).mkString("[\n", ",\n", "\n]\n")
  }

  private def spanJson(s: Span, t: SpanStats): String = {
    val fields = Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.map(_.toString).getOrElse("null"),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "wall_s" -> Json.num(t.wallS), "self_s" -> Json.num(t.selfS),
      "jobs" -> t.jobs.toString, "stages" -> t.stages.toString,
      "tasks" -> t.tasks.toString, "task_cpu_s" -> Json.num(t.taskCpuS),
      "executor_run_s" -> Json.num(t.executorRunS), "gc_s" -> Json.num(t.gcS),
      "shuffle_write_mb" -> Json.num(t.shuffleWriteMb),
      "shuffle_read_mb" -> Json.num(t.shuffleReadMb),
      "spill_mb" -> Json.num(t.spillMb),
      "peak_exec_mem_mb" -> Json.num(t.peakExecMemMb),
      "driver_gap_s" -> Json.num(t.driverGapS)) ++
      s.extra.map { case (k, v) => k -> Json.num(v) }
    fields.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
  }
}

object Recorder {
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L; var peak = 0L
  }
  private final case class JobRec(id: Int, span: Option[Int], startMs: Long)
}

/** Heap after each collection (the peak is the memory record) and total GC
  * time of this JVM, which in local mode is driver and executors at once. */
final class JvmWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  private val gc0 = gcMs
  @volatile private var peak = 0L

  private val onGc: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, after) }
    }
  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  def peakHeapAfterGcMb: Double = peak / (1024.0 * 1024.0)
  def gcS: Double = (gcMs - gc0) / 1e3
}
