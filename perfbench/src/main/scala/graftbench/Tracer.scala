package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

/** Span recorder and Spark listener for the traced run.
  *
  * Spans nest run → setup | pass → query → build | action → job. The
  * open span's id travels to Spark as the `graftbench.span` local
  * property, so each job is attributed to the span whose call started
  * it. Spans stay in memory and are written out once at the end. The
  * listener bus is drained before a span closes, so every event the
  * span caused has been counted when its numbers are read.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  private val spans = mutable.ArrayBuffer(Span(0, -1, "run", Map.empty, nowUs, -1L))
  private var stack: List[Int] = List(0)
  private var enabled = true
  private val listener = new Listener
  sc.addSparkListener(listener)
  sc.setLocalProperty(SpanProperty, "0")

  def begin(name: String, tags: Map[String, String]): Unit = if (enabled) {
    val id = spans.size
    spans += Span(id, stack.head, name, tags, nowUs, -1L)
    stack = id :: stack
    sc.setLocalProperty(SpanProperty, id.toString)
  }

  /** Closes the innermost span; returns the jobs its own calls started. */
  def end(): Long = if (!enabled) 0L else {
    GraftBenchBus.drain(sc)
    val id = stack.head
    spans(id) = spans(id).copy(endUs = nowUs)
    stack = stack.tail
    sc.setLocalProperty(SpanProperty, stack.head.toString)
    Option(listener.jobsBySpan.get(id)).map(_.get).getOrElse(0L)
  }

  def beginPass(pass: Int): Unit = {
    begin("pass", Map("pass" -> pass.toString, "kind" -> (if (pass == 0) "cold" else "warm")))
    listener.bucket = new Bucket(System.currentTimeMillis())
  }

  /** Closes the pass span and returns its Spark runtime counters. */
  def endPass(): Map[String, Double] = {
    end()
    val b = listener.bucket
    val wallMs = (System.currentTimeMillis() - b.startMs).max(1L)
    val covered = coveredMs(b.intervals.toSeq, b.startMs, b.startMs + wallMs)
    Map(
      "jobs" -> b.jobs.toDouble, "stages" -> b.stages.toDouble, "tasks" -> b.tasks.toDouble,
      "driver_only_s" -> (wallMs - covered) / 1000.0,
      "task_cpu_s" -> b.cpuNs / 1e9,
      "busy_cores" -> b.runMs / wallMs.toDouble,
      "shuffle_write_mb" -> b.shuffleBytes / MB,
      "spill_mb" -> b.spillBytes / MB,
      "stored_mb" -> b.storedBytes / MB)
  }

  /** Stops recording (the untimed check pass is not traced). */
  def disable(): Unit = { GraftBenchBus.drain(sc); enabled = false }

  def writeSpans(f: File): Unit = {
    GraftBenchBus.drain(sc)
    sc.removeSparkListener(listener)
    if (spans.head.endUs < 0) spans(0) = spans.head.copy(endUs = nowUs)
    val jobs = listener.jobSpans.asScala.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((jobId, (parent, s, e)), i) =>
        Span(spans.size + i, parent, "job", Map("job" -> jobId.toString), s * 1000L, e * 1000L)
    }
    val w = new PrintWriter(f, "UTF-8")
    try (spans ++ jobs).foreach { s =>
      w.println(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "tags" -> s.tags, "start_us" -> s.startUs, "end_us" -> s.endUs))
    } finally w.close()
  }

  private final class Listener extends SparkListener {
    @volatile var bucket = new Bucket(System.currentTimeMillis())
    val jobsBySpan = new ConcurrentHashMap[Int, AtomicLong]()
    /** job id -> (span id, start ms, end ms) */
    val jobSpans = new ConcurrentHashMap[Int, (Int, Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(0)
      jobsBySpan.computeIfAbsent(span, _ => new AtomicLong()).incrementAndGet()
      jobSpans.put(e.jobId, (span, e.time, e.time))
      bucket.jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.get(e.jobId)).foreach { case (s, t0, _) => jobSpans.put(e.jobId, (s, t0, e.time)) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = bucket.stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val b = bucket
      b.tasks += 1
      b.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        b.cpuNs += m.executorCpuTime
        b.runMs += m.executorRunTime
        b.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        b.spillBytes += m.diskBytesSpilled
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isInstanceOf[RDDBlockId] && info.storageLevel.isValid)
        bucket.storedBytes += info.memSize + info.diskSize
    }
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
  private val MB = 1048576.0

  final case class Span(id: Int, parent: Int, name: String, tags: Map[String, String],
      startUs: Long, endUs: Long)

  /** Counters of one pass; only the listener thread writes them. */
  final class Bucket(val startMs: Long) {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, shuffleBytes, spillBytes, storedBytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  /** Milliseconds of [lo, hi) covered by at least one interval. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered, reach = 0L
    reach = lo
    intervals.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - s.max(reach); reach = e }
      }
    covered
  }
}
