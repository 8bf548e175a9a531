package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.Trigger

/** `cdc_backlog`: a large pre-produced backlog drained with
  * Trigger.AvailableNow at a fixed maxFilesPerTrigger. Zipf-skewed keys
  * (hot, update-heavy, small state), `precise` decimals, about 15 % of
  * events late, out of order or duplicated, and a fixed count of
  * malformed records. The drain repeats on fresh checkpoints and sinks
  * for the whole measured time; every drain's sink is checked.
  */
object Backlog {
  val Events = 60000
  val HotKeys = 2000
  val Zipf = 0.99
  val Disorder = 0.15
  val Malformed = 24
  /** Produce calls; with 4 partitions and 4 files per trigger, each
    * micro-batch takes one segment, so a drain is 3 equal batches of about
    * 21 000 records and the median record sits inside the second. */
  val Segments = 3
  val Partitions = 4
  val MaxFilesPerTrigger = 4
  val Mode = "precise"
  val WarmDrains = 2
  val MinDrains = 3

  final case class Drain(eps: Double, p50: Double, p99: Double, cpuS: Double, gcMs: Long,
                         jitS: Double, samples: Int,
                         beyond: Int, sink: java.nio.file.Path, layerInput: Option[Layers.Input],
                         coverage: Double, spans: Seq[Span])

  def run(ctx: Ctx, setupStartNs: Long): Outcome = {
    import ctx._
    val phase = new Phases
    val topic = work.resolve("topic")
    // only the counts and the expected state outlive set-up, so the timed
    // drains do not carry the generated records on the heap
    val (expected, nEvents, records) = {
      val gen = phase("generate")(Gen.generate(spark, Shape(Events, Mode, zipf = Zipf,
        hotKeys = HotKeys, disorder = Disorder, malformed = Malformed), seed))
      val perSeg = math.ceil(gen.delivery.size.toDouble / Segments).toInt
      phase("produce")(
        Pipeline.produce(spark, topic, gen.delivery.grouped(perSeg).toSeq, Partitions))
      (gen.expected, gen.events.size, gen.delivery.size.toLong)
    }
    // warm pass: full drains, checked like the timed ones
    val warmDrains = phase("warm")((0 until WarmDrains).map(w =>
      drain(ctx, s"warm$w", records, traced = false)))
    val setupS = (System.nanoTime() - setupStartNs) / 1e9

    // timed drains; with tracing, untraced and traced drains alternate
    val budgetNs = (if (trace) 2L else 1L) * seconds * 1000000000L
    val t0 = System.nanoTime()
    val drains = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Drain)]
    var i = 0
    while (drains.size < (if (trace) 2 * MinDrains else MinDrains) ||
        System.nanoTime() - t0 < budgetNs) {
      val traced = trace && i % 2 == 1
      drains += traced -> drain(ctx, s"d$i", records, traced)
      i += 1
    }
    val plain = drains.collect { case (false, d) => d }
    val traced = drains.collect { case (true, d) => d }

    // ---- correctness: every drain's sink against the batch oracle
    val post = new Phases
    val oracle = Pipeline.oracle(spark, topic, Mode).cache()
    val oracleRows = post("oracle")(oracle.count())
    val genMismatch = post("generator")(Pipeline.generatorMismatches(spark, oracle, expected))
    val (rowsIn, malformed) = post("malformed")(Pipeline.malformed(spark, topic, Mode))
    val sinkMismatch = post("sinks")((warmDrains ++ drains.map(_._2)).map { d =>
      Pipeline.mismatches(Pipeline.resolve(Pipeline.sinkRows(spark, d.sink)), oracle)
    }.sum)
    val attempted = oracleRows * (warmDrains.size + drains.size + 1) + 1
    val failed = sinkMismatch + genMismatch + (if (malformed != Malformed) 1 else 0)

    def summary(ds: Seq[Drain]): Map[String, Double] = Map(
      "latency_p50_ms" -> Stats.median(ds.map(_.p50)),
      "latency_p99_ms" -> Stats.median(ds.map(_.p99)),
      "throughput_eps" -> Stats.median(ds.map(_.eps)),
      "cpu_s" -> Stats.median(ds.map(_.cpuS)))
    val layers = if (traced.isEmpty) Map.empty[String, Double] else {
      val t = traced.last
      val prefix = post("prefix")(Prefix.times(spark, topic, Mode))
      Layers.common(t.layerInput.get, prefix, rowsIn, malformed, sinkMismatch + genMismatch) ++
        Map(
          "gen.events" -> nEvents.toDouble,
          "gen.release_late_ms_p99" -> 0.0,
          "topic.produce_s" -> phase.toMap("produce"),
          "topic.bytes_per_event" -> Fs.bytes(Fs.dataFiles(topic)).toDouble / rowsIn,
          "topic.backlog_max" -> records.toDouble,
          "ladder.sustained_eps" -> 0.0,
          "mem.peak_rss_mb" -> Proc.peakRssMb(),
          "trace.coverage" -> Stats.median(traced.map(_.coverage).toSeq)) ++
        Layers.overhead(summary(plain.toSeq), summary(traced.toSeq))
    }
    val e2e = summary(plain.toSeq) + ("setup_s" -> setupS)
    Outcome(e2e, layers, attempted, failed, None,
      Map("setup_phases_s" -> phase.toMap, "shape" -> Map("events" -> Events, "records" -> records, "hot_keys" -> HotKeys,
        "zipf" -> Zipf, "disorder" -> Disorder, "malformed" -> Malformed,
        "segments" -> Segments, "partitions" -> Partitions,
        "max_files_per_trigger" -> MaxFilesPerTrigger, "decimal_mode" -> Mode),
        "drains" -> drains.map { case (tr, d) => Map("traced" -> tr, "eps" -> d.eps,
          "p50_ms" -> d.p50, "p99_ms" -> d.p99, "cpu_s" -> d.cpuS, "gc_ms" -> d.gcMs,
          "jit_thread_cpu_s" -> d.jitS, "samples" -> d.samples,
          "beyond_p99" -> d.beyond) },
        "topic_sha256" -> post("fingerprint")(Pipeline.fingerprint(spark, topic)),
        "post_phases_s" -> post.toMap,
        "oracle_rows" -> oracleRows, "malformed" -> malformed,
        "peak_rss_mb" -> Proc.peakRssMb()),
      traced.flatMap(_.spans).toSeq)
  }

  /** One AvailableNow drain of the whole backlog into a fresh sink.
    * Every backlog record is due when the drain starts, so a record's
    * latency is the commit time of the micro-batch that consumed it minus
    * the drain start (one sample per record, superseded ones included).
    */
  def drain(ctx: Ctx, name: String, records: Long, traced: Boolean): Drain = {
    import ctx._
    val sink = work.resolve(s"sink-$name")
    val log = new ConcurrentLinkedQueue[Commit]()
    val tracer = if (traced) Some(new Tracer) else None
    val meter = new EngineMeter(tracer, name)
    if (traced) spark.sparkContext.addSparkListener(meter)
    Main.settle()
    val cpu0 = Proc.cpuSeconds()
    val (gc0, jit0) = (Proc.gcMs(), Proc.compilerCpuSeconds())
    val t0 = System.nanoTime()
    val q = Pipeline.start(spark, s"backlog_$name", work.resolve("topic"), Mode,
      work.resolve(s"ck-$name"), sink, Trigger.AvailableNow(), Some(MaxFilesPerTrigger), log)
    q.awaitTermination()
    val cpu1 = Proc.cpuSeconds()
    val (gc1, jit1) = (Proc.gcMs(), Proc.compilerCpuSeconds())
    if (traced) {
      org.apache.spark.GraftCpuMeter.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(meter)
    }
    val progress = q.recentProgress.toSeq
    val consumed = progress.map(_.numInputRows).sum
    require(consumed == records, s"drain $name consumed $consumed of $records records")
    val commits = Pipeline.drainLog(log)
    val end = commits.map(_.endNs).max
    val commitEnd = commits.map(c => c.batchId -> c.endNs).toMap
    val lat = progress.filter(_.numInputRows > 0).flatMap { p =>
      Seq.fill(p.numInputRows.toInt)((commitEnd(p.batchId) - t0) / 1e6) }
    val coverage = tracer.map { t =>
      t.add(Span(name, "drain", "", t.ms(t0), t.ms(end)))
      commits.foreach { c =>
        t.add(Span(s"$name-b${c.batchId}", "sink.addBatch", s"$name-b${c.batchId}",
          t.ms(c.startNs), t.ms(c.endNs)))
      }
      t.addProgress(name, progress)
      t.coverage(Set("microbatch"), t.ms(t0), t.ms(end))
    }.getOrElse(0.0)
    Drain(records / ((end - t0) / 1e9), Stats.pct(lat, 0.5), Stats.pct(lat, 0.99),
      cpu1 - cpu0, gc1 - gc0, jit1 - jit0, lat.size, Stats.beyond(lat, 0.99), sink,
      if (traced) Some(Layers.Input(progress, commits, meter.metrics, sink, spark,
        (end - t0) / 1e9)) else None,
      coverage, tracer.map(_.all).getOrElse(Nil))
  }
}
