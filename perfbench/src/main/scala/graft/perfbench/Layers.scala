package graft.perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.sources.Compaction
import graft.streaming.CdcPipeline

/** Self time of the stages the scan's codegen fuses together. Parse and
  * decode run inside the file scan's whole-stage-codegen loop, so no span
  * can time them; instead the topic is read as a batch and each prefix of
  * the pipeline is run to a no-op sink, and consecutive prefixes are
  * differenced. Each prefix is timed `Reps` times and the median kept.
  */
object Prefix {
  val Stages = Seq("scan", "parse", "decode", "lww")
  val Reps = 3

  def times(spark: SparkSession, topic: Path, mode: String): Map[String, Double] = {
    def frame(stage: String): DataFrame = {
      val raw = Pipeline.batchTopic(spark, topic)
      lazy val parsed = Pipeline.parsed(raw, mode)
      lazy val decoded = Pipeline.decoded(parsed, mode)
      stage match {
        case "scan" => raw
        case "parse" => parsed
        case "decode" => decoded
        case "lww" => CdcPipeline.materialize(Pipeline.changes(decoded)).toDF()
      }
    }
    Stages.map { s =>
      val ts = (0 until Reps).map { _ =>
        val t0 = System.nanoTime()
        frame(s).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      s -> Stats.median(ts)
    }.toMap
  }
}

/** Per-layer metrics shared by both CDC workloads. */
object Layers {

  /** What a traced timed pass leaves for the layer metrics. */
  final case class Input(progress: Seq[StreamingQueryProgress], commits: Seq[Commit],
                         engine: Map[String, Double], sink: Path, spark: SparkSession,
                         wallS: Double)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)

  def common(in: Input, prefix: Map[String, Double], rowsIn: Long, malformed: Long,
             mismatch: Long): Map[String, Double] = {
    val withData = in.progress.filter(_.numInputRows > 0)
    val state = withData.flatMap(_.stateOperators.headOption)
    val sinkRows = Pipeline.sinkRows(in.spark, in.sink).count()
    val writes = in.commits.map(c => (c.endNs - c.startNs) / 1e6)
    val rowsOut = rowsIn - malformed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(in.spark.sparkContext.hadoopConfiguration)
    val current = Compaction.resolve(fs, new org.apache.hadoop.fs.Path(in.sink.toString))
    val busy = in.progress.map(dur(_, "triggerExecution")).sum / 1e3
    Map(
      "topic.list_ms_p50" -> Stats.median(withData.map(p => dur(p, "latestOffset") + dur(p, "getBatch"))),
      "envelope.rows_in" -> rowsIn.toDouble,
      "envelope.rows_out" -> rowsOut.toDouble,
      "envelope.malformed" -> malformed.toDouble,
      "envelope.self_s" -> (prefix("parse") - prefix("scan")),
      "decimal.rows" -> rowsOut.toDouble,
      "decimal.self_s" -> (prefix("decode") - prefix("parse")),
      "lww.rows_in" -> rowsOut.toDouble,
      "lww.upserts_out" -> sinkRows.toDouble,
      "lww.useful_frac" -> (if (rowsOut > 0) sinkRows.toDouble / rowsOut else 0.0),
      "lww.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "lww.state_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "lww.commit_ms_p50" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
      "lww.self_s" -> (prefix("lww") - prefix("decode")),
      "sink.batches" -> in.commits.size.toDouble,
      "sink.rows" -> sinkRows.toDouble,
      "sink.write_ms_p50" -> Stats.pct(writes, 0.5),
      "sink.write_ms_p99" -> Stats.pct(writes, 0.99),
      "sink.skipped_redeliveries" -> (in.commits.size - in.commits.map(_.batchId).distinct.size).toDouble,
      "sink.files" -> Fs.dataFiles(Paths.get(current.toUri.getPath)).size.toDouble,
      "batch.count" -> in.progress.size.toDouble,
      "batch.duration_ms_p50" -> Stats.median(withData.map(dur(_, "triggerExecution"))),
      "batch.planning_ms_p50" -> Stats.median(withData.map(dur(_, "queryPlanning"))),
      "batch.wal_ms_p50" -> Stats.median(withData.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "batch.idle_frac" -> math.max(0.0, 1.0 - busy / in.wallS),
      "oracle.mismatch_rows" -> mismatch.toDouble) ++ in.engine
  }

  /** Tracing overhead per end-to-end metric: the traced pass's cost
    * relative to the untraced one (positive = tracing made it worse).
    */
  def overhead(plain: Map[String, Double], traced: Map[String, Double]): Map[String, Double] =
    Seq("latency_p50_ms" -> true, "latency_p99_ms" -> true, "throughput_eps" -> false,
      "cpu_s" -> true).map { case (k, lowerBetter) =>
      val (p, t) = (plain(k), traced(k))
      s"trace.overhead.$k" -> (if (lowerBetter) t / p - 1 else p / t - 1)
    }.toMap
}
