package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.functions.DebeziumDecimal
import graft.model.Schemas
import graft.operators.Materialize
import graft.sources.{Compaction, GraftStreamSink}
import graft.streaming.{CdcPipeline, FileTopic}
import graft.streaming.CdcPipeline.{ChangeRec, Upsert}

/** One committed sink call: micro-batch id and the call's start and end
  * (System.nanoTime).
  */
final case class Commit(batchId: Long, startNs: Long, endNs: Long)

/** The CDC pipeline under test, composed from the engine's public
  * functions only:
  * FileTopic.source → Envelope.parse → Envelope.currentImage +
  * DebeziumDecimal.fromMode → CdcPipeline.toChangeRecs →
  * CdcPipeline.materialize → GraftStreamSink.addBatch in foreachBatch.
  *
  * `Envelope.toRows` would drop `source.lsn`, so the image and decode
  * step is composed here to keep the LSN as the last-write-wins tiebreak.
  * The sink holds every upsert (tombstones included); [[resolve]] takes
  * the latest per key on read, because the engine's keyed parquet upsert
  * is first-write-wins and cannot hold updates.
  */
object Pipeline {

  val TopicName = "cdc.public.transactions"

  /** Wire payload schema for one `decimal.handling.mode`. */
  def payload(mode: String): StructType = mode match {
    case "precise" => Schemas.transactionPrecise
    case "string" | "double" =>
      val t = if (mode == "string") StringType else DoubleType
      StructType(Schemas.transaction.fields.map {
        case f if f.name == "amount" => f.copy(dataType = t)
        case f => f
      })
    case other => throw new IllegalArgumentException(s"decimal mode $other")
  }

  def parsed(raw: DataFrame, mode: String): DataFrame = Envelope.parse(raw, payload(mode))

  def decoded(parsed: DataFrame, mode: String): DataFrame =
    parsed
      .select(col("op"), col("ts_ms"), col("source.lsn").as("lsn"),
        Envelope.currentImage.as("__row"))
      .select(col("op"), col("ts_ms"), col("lsn"), col("__row.*"))
      .withColumn("amount", DebeziumDecimal.fromMode(mode, col("amount")))

  def changes(decoded: DataFrame): Dataset[ChangeRec] =
    CdcPipeline.toChangeRecs(decoded, "transaction_id", "lsn")

  def batchTopic(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema(FileTopic.recordSchema).parquet(dir.toString)

  /** Start the streaming pipeline. Each sink call is logged to `log`. */
  def start(spark: SparkSession, name: String, topic: Path, mode: String,
            checkpoint: Path, sink: Path, trigger: Trigger,
            maxFilesPerTrigger: Option[Int],
            log: ConcurrentLinkedQueue[Commit]): StreamingQuery = {
    val raw = FileTopic.source(spark, topic.toString, maxFilesPerTrigger)
    val upserts = CdcPipeline.materialize(changes(decoded(parsed(raw, mode), mode)))
    val graftSink = new GraftStreamSink(spark, sink.toString, OutputMode.Append())
    upserts.writeStream
      .queryName(name)
      .option("checkpointLocation", checkpoint.toString)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Upsert], id: Long) =>
        val t0 = System.nanoTime()
        // the batch id rides along so each sink row maps to its commit
        graftSink.addBatch(id, batch.toDF().withColumn("__batch", lit(id)))
        log.add(Commit(id, t0, System.nanoTime()))
        ()
      }
      .start()
  }

  /** Every upsert the sink holds, with the LSN of the image it carries. */
  def sinkRows(spark: SparkSession, sink: Path): DataFrame =
    Compaction.readTable(spark, sink.toString)
      .withColumn("lsn", get_json_object(col("json"), "$.lsn").cast("long"))

  /** Latest image per key, tombstones removed: the table the sink holds. */
  def resolve(sinkRows: DataFrame): DataFrame =
    Materialize.applyCdc(sinkRows, Seq("key"), Seq(col("tsMs"), col("lsn")))
      .select("key", "json")

  /** The batch recomputation: Materialize.applyCdc over every record in
    * the topic, rendered the way the stream renders its images.
    */
  def oracle(spark: SparkSession, topic: Path, mode: String): DataFrame = {
    val rows = decoded(parsed(batchTopic(spark, topic), mode), mode)
    val state = Materialize.applyCdc(rows, Seq("transaction_id"),
      Seq(col("ts_ms"), col("lsn")))
    CdcPipeline.toChangeRecs(state, "transaction_id", "lsn").toDF()
  }

  /** Rows on which two (key, json) tables disagree, either side missing. */
  def mismatches(a: DataFrame, b: DataFrame): Long =
    a.select(col("key"), col("json").as("a"))
      .join(b.select(col("key"), col("json").as("b")), Seq("key"), "full_outer")
      .filter(!col("a").eqNullSafe(col("b")))
      .count()

  /** Oracle rows that disagree with the generator's own bookkeeping
    * (winning LSN and amount per live key): an independent check of the
    * parse and decimal decode.
    */
  def generatorMismatches(spark: SparkSession, oracle: DataFrame,
                          expected: Map[String, Expected]): Long = {
    import spark.implicits._
    val exp = expected.toSeq.map { case (k, e) => (k, e.lsn, e.amountCents) }
      .toDF("key", "e_lsn", "e_cents")
    val got = oracle.select(col("key"), col("seq").as("g_lsn"),
      round(get_json_object(col("json"), "$.amount").cast("decimal(38,18)") * 100)
        .cast("long").as("g_cents"))
    got.join(exp, Seq("key"), "full_outer")
      .filter(!(col("g_lsn").eqNullSafe(col("e_lsn")) &&
        col("g_cents").eqNullSafe(col("e_cents"))))
      .count()
  }

  /** Records Envelope.parse drops (raw rows minus parsed rows). */
  def malformed(spark: SparkSession, topic: Path, mode: String): (Long, Long) = {
    val raw = batchTopic(spark, topic)
    val in = raw.count()
    (in, in - parsed(raw, mode).count())
  }

  /** SHA-256 over the topic's records (partition, offset, key, value) in
    * offset order. Parquet files also carry the produce time and random
    * file names, so equality is defined on the record bytes.
    */
  def fingerprint(spark: SparkSession, topic: Path): String = {
    val rows = batchTopic(spark, topic)
      .select(col("partition"), col("offset"),
        sha2(concat(col("key"), lit(Array[Byte](0)), col("value")), 256).as("h"))
      .orderBy("partition", "offset").collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(s"${r.getInt(0)}:${r.getLong(1)}:${r.getString(2)}\n".getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Produce each segment through FileTopic.produce into the topic at
    * `dir`; returns the data files each produce call wrote.
    */
  def produce(spark: SparkSession, dir: Path, segments: Seq[Seq[Rec]],
              nPartitions: Int): IndexedSeq[Seq[Path]] = {
    import spark.implicits._
    Files.createDirectories(dir)
    var known = Fs.dataFiles(dir).toSet
    segments.map { seg =>
      FileTopic.produce(seg.toDF(), dir.toString, TopicName, nPartitions,
        ordering = Seq(col("pos")))
      val now = Fs.dataFiles(dir)
      val fresh = now.filterNot(known)
      known = now.toSet
      fresh
    }.toIndexedSeq
  }

  /** One single-partition topic segment per tick, produced on a small
    * thread pool. Each tick gets its own staging topic whose offset
    * sidecar is seeded with the tick's base offset, so every record
    * carries the offset one sequential producer would have given it.
    */
  def produceTicks(spark: SparkSession, stage: Path,
                   ticks: IndexedSeq[Seq[Rec]]): IndexedSeq[Seq[Path]] = {
    val base = ticks.scanLeft(0L)(_ + _.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, spark.sparkContext.defaultParallelism)))
    try {
      val futures = ticks.indices.map { k =>
        pool.submit(new java.util.concurrent.Callable[Seq[Path]] {
          def call(): Seq[Path] = {
            val dir = stage.resolve(k.toString)
            Fs.write(dir.resolve("_graft_next_offsets"), s"0=${base(k)}")
            produce(spark, dir, Seq(ticks(k)), 1).head
          }
        })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  def drainLog(log: ConcurrentLinkedQueue[Commit]): Seq[Commit] =
    log.iterator.asScala.toSeq.sortBy(_.batchId)
}
