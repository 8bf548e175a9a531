package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** The release thread: moves each tick's pre-produced segment files into
  * the live topic when the tick's creation interval ends,
  * `t0Ns + (k + 1) * tickNs`, on a schedule that does not slow when the
  * pipeline slows (an open loop). It runs no Spark work. Release
  * lateness is scheduled-to-moved time per tick.
  */
final class Releaser(ticks: IndexedSeq[Seq[(Path, Path)]], t0Ns: Long, tickNs: Long)
    extends Thread("perfbench-release") {
  val startNs = new Array[Long](ticks.size)
  val doneNs = new Array[Long](ticks.size)
  setDaemon(true)

  def dueNs(k: Int): Long = t0Ns + (k + 1) * tickNs

  override def run(): Unit = {
    var k = 0
    while (k < ticks.size) {
      var wait = dueNs(k) - System.nanoTime()
      while (wait > 0) { LockSupport.parkNanos(wait); wait = dueNs(k) - System.nanoTime() }
      startNs(k) = System.nanoTime()
      ticks(k).foreach { case (from, to) =>
        Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      }
      doneNs(k) = System.nanoTime()
      k += 1
    }
  }

  def lateMs: IndexedSeq[Double] = ticks.indices.map(k => (doneNs(k) - dueNs(k)) / 1e6)
}

/** `cdc_live`: an open loop at a ladder of fixed offered rates into a
  * ProcessingTime-triggered pipeline, `string` decimal mode, uniform keys
  * over a key space as large as the run (insert-heavy, so state grows).
  */
object Live {
  /** One release per trigger interval; below the top rung a micro-batch
    * takes about 0.7 s, so triggers keep their schedule and each batch
    * applies one tick. */
  val TickMs = 1000
  val TriggerMs = 1000
  /** Offered rates (events/s); the first is the nominal rung, and the
    * last offers more than the pipeline can apply, so it measures the
    * delivered rate of a saturated pipeline. */
  val Rungs = Seq(400, 1200, 2400, 19200)
  val RungShare = Seq(0.45, 0.15, 0.15, 0.25)
  /** p99 latency limit a sustainable rung must meet. */
  val LimitMs = 3000.0
  /** A run whose release p99 lateness exceeds this is invalid. Latency
    * counts from the event's creation, so a late release is charged to
    * latency anyway; the limit only rejects a generator that cannot keep
    * its schedule. It sits above the longest stop-the-world pauses
    * ParallelGC takes on this heap (about 250 ms). */
  val LateLimitMs = 500.0
  val Mode = "string"
  /** Tick segments the warm pass streams, one micro-batch each: the first
    * few small ones, then the last of the top rung, so the per-row
    * paths are compiled at full batch size before the timed ladder. */
  val WarmSmall = 4
  val WarmLarge = 1

  final case class Plan(ticksPerRung: Seq[Int], perTick: Seq[Int], tickMs: Int) {
    def rate(r: Int): Double = perTick(r) * 1000.0 / tickMs
    val tickSizes: IndexedSeq[Int] =
      ticksPerRung.zip(perTick).flatMap { case (t, n) => Seq.fill(t)(n) }.toIndexedSeq
    val tickEnd: IndexedSeq[Long] = tickSizes.scanLeft(0L)(_ + _).tail
    val events: Int = tickSizes.sum
    /** First tick of each rung, plus the end. */
    val rungStartTick: IndexedSeq[Int] = ticksPerRung.scanLeft(0)(_ + _).toIndexedSeq
    private val ends = tickEnd.toArray
    def tickOf(lsn: Long): Int = {
      var i = java.util.Arrays.binarySearch(ends, lsn + 1)
      if (i < 0) i = -i - 1
      i
    }
    /** Creation time of an event, as an offset from the schedule start:
      * tick k's events are created evenly over [k, k + 1) ticks, the
      * last one at the instant the tick is released.
      */
    def dueOffsetNs(lsn: Long, tickNs: Long): Long = {
      val k = tickOf(lsn)
      val j = lsn - (if (k == 0) 0L else tickEnd(k - 1))
      k * tickNs + (j + 1) * tickNs / tickSizes(k)
    }
    def rungOf(tick: Int): Int = rungStartTick.lastIndexWhere(_ <= tick) min (ticksPerRung.size - 1)
  }

  def plan(seconds: Int): Plan = {
    val ticks = RungShare.map(s => math.max(2, math.round(seconds * 1000 * s / TickMs).toInt))
    Plan(ticks, Rungs.map(_ * TickMs / 1000), TickMs)
  }

  /** Latency arithmetic for one pass, from the schedule, the sink rows
    * (LSN and batch of each image) and the commit log.
    */
  final case class PassStats(
      rungLatency: IndexedSeq[IndexedSeq[Double]],
      rungBacklogEnd: IndexedSeq[Long],
      rungLastCommitMs: IndexedSeq[Double],
      backlogMax: Long)

  def passStats(plan: Plan, t0Ns: Long, tickNs: Long, released: IndexedSeq[Long],
                rows: Seq[(Long, Long)], commits: Seq[Commit],
                consumed: Map[Long, Long]): PassStats = {
    val commitEnd = commits.map(c => c.batchId -> c.endNs).toMap
    val nR = plan.ticksPerRung.size
    val lat = IndexedSeq.fill(nR)(scala.collection.mutable.ArrayBuffer.empty[Double])
    val lastCommit = Array.fill(nR)(0L)
    rows.foreach { case (lsn, batch) =>
      val tick = plan.tickOf(lsn)
      val r = plan.rungOf(tick)
      val end = commitEnd(batch)
      lat(r) += (end - (t0Ns + plan.dueOffsetNs(lsn, tickNs))) / 1e6
      lastCommit(r) = math.max(lastCommit(r), end)
    }
    // backlog(t) = events released by t minus events in batches committed by t
    val byCommit = commits.sortBy(_.endNs)
    def consumedBy(t: Long): Long =
      byCommit.takeWhile(_.endNs <= t).map(c => consumed.getOrElse(c.batchId, 0L)).sum
    def releasedBy(t: Long): Long =
      released.indices.filter(k => released(k) <= t).map(k => plan.tickSizes(k).toLong).sum
    val rungEnd = (1 to nR).map(i => t0Ns + plan.rungStartTick(i) * tickNs + tickNs / 2)
    val backlogEnd = rungEnd.map(t => releasedBy(t) - consumedBy(t))
    val backlogMax = (released ++ byCommit.map(_.startNs))
      .map(t => releasedBy(t) - consumedBy(t)).foldLeft(0L)(math.max)
    PassStats(lat.map(_.toIndexedSeq), backlogEnd,
      lastCommit.toIndexedSeq.map(_ / 1e6), backlogMax)
  }

  /** Highest rung of the passing prefix, and its measured delivery rate
    * (rung events over first due to last commit). None if no rung passes.
    */
  def sustained(plan: Plan, s: PassStats, t0Ns: Long, tickNs: Long): (Option[Int], Double) = {
    val passes = plan.ticksPerRung.indices.map { r =>
      val l = s.rungLatency(r)
      l.nonEmpty && Stats.pct(l, 0.99) <= LimitMs &&
        s.rungBacklogEnd(r) <= plan.rate(r) * LimitMs / 1000
    }
    val top = passes.takeWhile(identity).size - 1
    val r = math.max(top, 0)
    val firstDueMs = (t0Ns + plan.rungStartTick(r) * tickNs) / 1e6  // first creation
    val events = plan.ticksPerRung(r) * plan.perTick(r)
    (if (top >= 0) Some(top) else None,
      events / ((s.rungLastCommitMs(r) - firstDueMs) / 1000))
  }

  /** Delivered rate of the top rung: the input rows of the micro-batches
    * that applied its events, over those batches' execution time
    * (`triggerExecution`), so Structured Streaming's
    * `processedRowsPerSecond` over the rung. The rung offers more than
    * the pipeline applies per trigger, so its batches run back to back and
    * the rate is the pipeline's, not the release schedule's.
    *
    * @param rows    (LSN, batch ID) of every sink row
    * @param batches batch ID -> (input rows, trigger execution ms)
    */
  def saturatedEps(plan: Plan, rows: Seq[(Long, Long)], batches: Map[Long, (Long, Long)]): Double = {
    val top = plan.ticksPerRung.size - 1
    val ids = rows.collect { case (lsn, b) if plan.rungOf(plan.tickOf(lsn)) == top => b }.distinct
    val (in, ms) = ids.map(batches).foldLeft((0L, 0L)) { case ((a, b), (r, t)) => (a + r, b + t) }
    in / (ms / 1000.0)
  }

  def run(ctx: Ctx, setupStartNs: Long): Outcome = {
    import ctx._
    val p = plan(seconds)
    val passes = if (trace) Seq("plain", "traced") else Seq("plain")
    // ---- set-up: generate, pre-produce one segment per tick, warm pass
    val phase = new Phases
    val gen = phase("generate")(Gen.generate(spark, Shape(p.events, Mode), seed))
    val segments = p.tickEnd.indices.map { k =>
      gen.delivery.slice((if (k == 0) 0L else p.tickEnd(k - 1)).toInt, p.tickEnd(k).toInt)
    }
    val stage = work.resolve("stage")
    val produced = phase("produce")(Pipeline.produceTicks(spark, stage, segments))
    val holds = passes.map { pass =>
      produced.zipWithIndex.map { case (files, k) =>
        files.map { f =>
          val rel = stage.resolve(k.toString).relativize(f)
          val held = work.resolve(s"hold-$pass/$k").resolve(rel)
          Files.createDirectories(held.getParent)
          Files.createLink(held, f)
          held -> work.resolve(s"topic-$pass").resolve(rel)
        }
      }
    }
    val warmTicks = (0 until WarmSmall) ++ (produced.size - WarmLarge until produced.size)
    phase("warm")(warm(ctx, stage, warmTicks.map(k => k -> produced(k))))
    val setupS = (System.nanoTime() - setupStartNs) / 1e9
    val produceS = phase.toMap("produce")

    // ---- timed passes
    val results = passes.zip(holds).map { case (pass, hold) =>
      pass -> timedPass(ctx, pass, p, hold, pass == "traced")
    }.toMap
    val plain = results("plain")
    val traced = results.get("traced")

    // ---- correctness: the sink of every pass against the batch oracle
    val post = new Phases
    val oracle = Pipeline.oracle(spark, work.resolve("topic-plain"), Mode).cache()
    val oracleRows = post("oracle")(oracle.count())
    val genMismatch = post("generator")(Pipeline.generatorMismatches(spark, oracle, gen.expected))
    val sinkMismatch = post("sinks")(passes.map { pass =>
      Pipeline.mismatches(Pipeline.resolve(Pipeline.sinkRows(spark, work.resolve(s"sink-$pass"))),
        oracle)
    }.sum)
    val (rowsIn, malformed) =
      post("malformed")(Pipeline.malformed(spark, work.resolve("topic-plain"), Mode))
    val attempted = oracleRows * (passes.size + 1) + 1
    val failed = sinkMismatch + genMismatch + (if (malformed != gen.malformed) 1 else 0)

    val late = plain.late
    val invalid =
      if (Stats.pct(late, 0.99) > LateLimitMs)
        Some(f"release p99 lateness ${Stats.pct(late, 0.99)}%.1f ms exceeds $LateLimitMs ms")
      else None
    val layers = traced.map { t =>
      val prefix = Prefix.times(spark, work.resolve("topic-plain"), Mode)
      Layers.common(t.layerInput, prefix, rowsIn, malformed, sinkMismatch + genMismatch) ++ Map(
        "gen.events" -> gen.events.size.toDouble,
        "gen.release_late_ms_p99" -> Stats.pct(t.late, 0.99),
        "topic.produce_s" -> produceS,
        "topic.bytes_per_event" -> Fs.bytes(Fs.dataFiles(work.resolve("topic-plain"))).toDouble / rowsIn,
        "topic.backlog_max" -> t.backlogMax.toDouble,
        "ladder.sustained_eps" -> t.sustainedEps,
        "mem.peak_rss_mb" -> Proc.peakRssMb(),
        "trace.coverage" -> t.coverage) ++
        Layers.overhead(plain.e2e, t.e2e)
    }.getOrElse(Map.empty)
    val e2e = plain.e2e + ("setup_s" -> setupS)
    Outcome(e2e, layers, attempted, failed, invalid,
      Map("setup_phases_s" -> phase.toMap, "plan" -> Map("ticks_per_rung" -> p.ticksPerRung, "events_per_tick" -> p.perTick,
        "rates_eps" -> Rungs, "tick_ms" -> TickMs, "trigger_ms" -> TriggerMs,
        "latency_limit_ms" -> LimitMs, "release_late_limit_ms" -> LateLimitMs),
        "rungs" -> plain.rungNotes, "sustained_rung" -> plain.sustainedRung,
        "sustained_eps" -> plain.sustainedEps, "gc_ms" -> plain.gcMs,
        "jit_thread_cpu_s" -> plain.jitS,
        "latency_samples" -> plain.samples, "latency_beyond_p99" -> plain.beyond,
        "release_late_ms_p99" -> Stats.pct(late, 0.99), "peak_rss_mb" -> Proc.peakRssMb(),
        "topic_sha256" -> post("fingerprint")(Pipeline.fingerprint(spark, work.resolve("topic-plain"))),
        "post_phases_s" -> post.toMap,
        "oracle_rows" -> oracleRows, "malformed" -> malformed,
        "coverage" -> traced.map(_.coverage)),
      traced.map(_.spans).getOrElse(Nil))
  }

  /** A short stream over links to a few tick segments, one
    * segment per micro-batch, so the timed passes run on a warmed JIT and
    * a started engine.
    */
  private def warm(ctx: Ctx, stage: Path, ticks: Seq[(Int, Seq[Path])]): Unit = {
    import ctx._
    val topic = work.resolve("warm-topic")
    for ((k, files) <- ticks; f <- files) {
      val to = topic.resolve(stage.resolve(k.toString).relativize(f))
      Files.createDirectories(to.getParent)
      Files.createLink(to, f)
    }
    val log = new ConcurrentLinkedQueue[Commit]()
    val q = Pipeline.start(spark, "live_warm", topic, Mode, work.resolve("warm-ck"),
      work.resolve("warm-sink"), Trigger.AvailableNow(), Some(1), log)
    q.awaitTermination()
    Pipeline.sinkRows(spark, work.resolve("warm-sink")).count()
  }

  final case class PassResult(e2e: Map[String, Double], late: IndexedSeq[Double],
                              rungNotes: Seq[Map[String, Any]], sustainedRung: Option[Int],
                              sustainedEps: Double, gcMs: Long, jitS: Double,
                              samples: Int, beyond: Int, backlogMax: Long,
                              layerInput: Layers.Input, coverage: Double, spans: Seq[Span])

  private def timedPass(ctx: Ctx, pass: String, p: Plan, hold: IndexedSeq[Seq[(Path, Path)]],
                        traced: Boolean): PassResult = {
    import ctx._
    val topic = work.resolve(s"topic-$pass")
    Files.createDirectories(topic.resolve("partition=0"))
    val sink = work.resolve(s"sink-$pass")
    val log = new ConcurrentLinkedQueue[Commit]()
    val tracer = if (traced) Some(new Tracer) else None
    val meter = new EngineMeter(tracer, pass)
    if (traced) spark.sparkContext.addSparkListener(meter)
    val q = Pipeline.start(spark, s"live_$pass", topic, Mode, work.resolve(s"ck-$pass"), sink,
      Trigger.ProcessingTime(TriggerMs), None, log)
    awaitStarted(q)
    Main.settle()
    // triggers fire on epoch multiples of TriggerMs; releases sit half a
    // trigger interval after a boundary so no release races a file listing
    val nowMs = System.currentTimeMillis()
    val t0Ms = (nowMs / TriggerMs + 1) * TriggerMs + TriggerMs / 2
    val t0Ns = System.nanoTime() + (t0Ms - System.currentTimeMillis()) * 1000000L
    val tickNs = TickMs * 1000000L
    val cpu0 = Proc.cpuSeconds()
    val (gc0, jit0) = (Proc.gcMs(), Proc.compilerCpuSeconds())
    val rel = new Releaser(hold, t0Ns, tickNs)
    rel.start()
    rel.join()
    val total = p.events.toLong
    val deadline = System.nanoTime() + 60L * 1000000000L
    def consumed = q.recentProgress.map(_.numInputRows).sum
    while (consumed < total && System.nanoTime() < deadline) Thread.sleep(20)
    val cpu1 = Proc.cpuSeconds()
    val (gc1, jit1) = (Proc.gcMs(), Proc.compilerCpuSeconds())
    val progress: Seq[StreamingQueryProgress] = q.recentProgress.toSeq
    q.stop()
    if (traced) {
      org.apache.spark.GraftCpuMeter.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(meter)
    }
    require(consumed >= total || progress.map(_.numInputRows).sum >= total,
      s"live pass $pass: pipeline consumed ${progress.map(_.numInputRows).sum} of $total records")

    val commits = Pipeline.drainLog(log)
    val rows = Pipeline.sinkRows(spark, sink).select("lsn", "__batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val consumedByBatch = progress.map(x => x.batchId -> x.numInputRows).toMap
    val s = passStats(p, t0Ns, tickNs, rel.doneNs.toIndexedSeq, rows, commits, consumedByBatch)
    val (top, topEps) = sustained(p, s, t0Ns, tickNs)
    val nominal = s.rungLatency(0)
    val lastCommitNs = commits.map(_.endNs).max
    val e2e = Map(
      "latency_p50_ms" -> Stats.pct(nominal, 0.5),
      "latency_p99_ms" -> Stats.pct(nominal, 0.99),
      "throughput_eps" -> saturatedEps(p, rows, progress.map(x => x.batchId ->
        (x.numInputRows, x.durationMs.get("triggerExecution").longValue)).toMap),
      "cpu_s" -> (cpu1 - cpu0))
    val rungNotes = p.ticksPerRung.indices.map { r =>
      val l = s.rungLatency(r)
      Map[String, Any]("rate_eps" -> Rungs(r), "samples" -> l.size,
        "p50_ms" -> Stats.pct(l, 0.5), "p99_ms" -> Stats.pct(l, 0.99),
        "backlog_end" -> s.rungBacklogEnd(r))
    }
    val coverage = tracer.map { t =>
      rel.startNs.indices.foreach { k =>
        t.add(Span(s"$pass-t$k", "gen.release", pass, t.ms(rel.dueNs(k)), t.ms(rel.doneNs(k)),
          Map("tick" -> k, "events" -> p.tickSizes(k))))
      }
      commits.foreach { c =>
        t.add(Span(s"$pass-b${c.batchId}", "sink.addBatch", s"$pass-b${c.batchId}",
          t.ms(c.startNs), t.ms(c.endNs)))
      }
      t.addProgress(pass, progress)
      t.coverage(Set("microbatch", "gen.release"), t.ms(t0Ns), t.ms(lastCommitNs))
    }.getOrElse(0.0)
    PassResult(e2e, rel.lateMs, rungNotes, top, if (top.isDefined) topEps else 0.0,
      gc1 - gc0, jit1 - jit0, nominal.size, Stats.beyond(nominal, 0.99),
      s.backlogMax, Layers.Input(progress, commits, meter.metrics, sink, spark,
        (lastCommitNs - t0Ns) / 1e9),
      coverage, tracer.map(_.all).getOrElse(Nil))
  }

  /** Wait until the query has run its first (empty) trigger. */
  def awaitStarted(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (q.status.message.startsWith("Initializing") && System.nanoTime() < deadline)
      Thread.sleep(10)
  }
}
