package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** A timed interval at a layer boundary. `id` is shared by every span of
  * one micro-batch (or one drain, or one release tick); `parent` names
  * the span that caused it. Times are epoch milliseconds.
  */
final case class Span(id: String, name: String, parent: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent,
    "start_ms" -> startMs, "end_ms" -> endMs, "dur_ms" -> (endMs - startMs), "attrs" -> attrs)
}

/** In-memory span store, written out when the run ends. Spans are
  * recorded only from the benchmark's own code, around its calls into
  * each layer; nothing inside the engine is instrumented.
  */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  // one clock for every span: epoch ms, anchored once against nanoTime
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble

  def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.iterator.asScala.toSeq.sortBy(_.startMs)

  /** Share of [from, to] covered by the union of the named spans. */
  def coverage(names: Set[String], fromMs: Double, toMs: Double): Double = {
    val iv = all.filter(s => names(s.name))
      .map(s => (math.max(s.startMs, fromMs), math.min(s.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    if (toMs > fromMs) covered / (toMs - fromMs) else 0.0
  }

  /** One span per micro-batch plus child spans laid out from
    * `StreamingQueryProgress.durationMs` in execution order, and the
    * state operator's commit.
    */
  def addProgress(prefix: String, ps: Seq[StreamingQueryProgress]): Unit = ps.foreach { p =>
    val id = s"$prefix-b${p.batchId}"
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
    val total = d.getOrElse("triggerExecution", 0L).toDouble
    add(Span(id, "microbatch", prefix, start, start + total,
      Map("batch" -> p.batchId, "input_rows" -> p.numInputRows)))
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets").foreach { k =>
      d.get(k).foreach { v =>
        add(Span(id, s"microbatch.$k", id, t, t + v)); t += v
      }
    }
    p.stateOperators.headOption.foreach { so =>
      add(Span(id, "lww.state_commit", id, t - so.commitTimeMs, t,
        Map("rows_total" -> so.numRowsTotal, "rows_updated" -> so.numRowsUpdated,
          "memory_bytes" -> so.memoryUsedBytes)))
    }
  }
}

/** Engine-side work counted by a SparkListener over a window: jobs,
  * tasks, executor CPU, deserialize CPU, GC and shuffle bytes. Job spans
  * carry the micro-batch id the streaming engine stamps on each job.
  */
final class EngineMeter(tracer: Option[Tracer], prefix: String) extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val deserNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val batch = Option(e.properties).flatMap(p =>
      Option(p.getProperty("streaming.sql.batchId"))).getOrElse("")
    jobStart.put(e.jobId, (e.time, batch))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = tracer.foreach { t =>
    Option(jobStart.remove(e.jobId)).foreach { case (s, batch) =>
      val id = if (batch.isEmpty) s"$prefix-job${e.jobId}" else s"$prefix-b$batch"
      t.add(Span(id, "spark.job", id, s.toDouble, e.time.toDouble, Map("job" -> e.jobId)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      deserNs.addAndGet(m.executorDeserializeCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def metrics: Map[String, Double] = Map(
    "engine.jobs" -> jobs.get.toDouble,
    "engine.tasks" -> tasks.get.toDouble,
    "engine.exec_cpu_s" -> cpuNs.get / 1e9,
    "engine.deser_cpu_s" -> deserNs.get / 1e9,
    "engine.gc_s" -> gcMs.get / 1e3,
    "engine.shuffle_mb" -> shuffleBytes.get / 1048576.0)
}
