package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.gen.TransactionGen

/** One change event in source (LSN) order. */
final case class Event(lsn: Long, key: String, op: String, tsMs: Long)

/** One topic record in delivery order: the Kafka key, the envelope JSON
  * and its delivery position (the produce ordering).
  */
final case class Rec(key: String, value: String, pos: Long)

/** The final image a key should hold after every event is applied. */
final case class Expected(lsn: Long, amountCents: Long)

/** A generated workload: events in LSN order, records in delivery order
  * (which may repeat, delay or reorder events and holds the malformed
  * records), and the state last-write-wins must reach.
  */
final case class Generated(events: IndexedSeq[Event], delivery: IndexedSeq[Rec],
                           expected: Map[String, Expected], malformed: Int)

/** Key and disorder shape of a generated stream. */
final case class Shape(
    events: Int,
    decimalMode: String,
    /** 0 = uniform over fresh keys (insert-heavy); > 0 = Zipf exponent
      * over `hotKeys` keys (update-heavy). */
    zipf: Double = 0.0,
    hotKeys: Int = 0,
    /** Share of events that are late, out of order or duplicated; split
      * evenly between the three. */
    disorder: Double = 0.0,
    malformed: Int = 0)

/** Deterministic Debezium change-event generator. Row payloads come from
  * [[TransactionGen]] (the engine's own transaction generator); the op
  * sequence, amounts and delivery order come from a SplittableRandom
  * seeded with the workload seed, so one seed always yields the same
  * records in the same order. Skewed streams draw from a fixed hot-key
  * population ([[HotKeySeed]]).
  */
object Gen {

  val EpochMs = 1700000000000L
  /** Seed of the hot-key population. It is fixed, so which hash partition
    * each hot key falls in, and with it the partition skew, is the same
    * for every workload seed; the seed draws the traffic over the keys. */
  val HotKeySeed = 42L
  val Fields = Seq("transaction_id", "user_id", "timestamp", "amount",
    "currency", "city", "country", "merchant_name", "payment_method",
    "ip_address", "voucher_code", "affiliate_id")

  private final case class Base(fields: Array[String], cents: Long)
  private final case class Img(base: Base, cents: Long, payment: String)

  private val payments = Array("credit_card", "debit_card", "online_transfer")

  /** `n` transaction rows from [[TransactionGen.batch]], as strings. */
  private def baseRows(spark: SparkSession, n: Int, seed: Long): Array[Base] = {
    val df = TransactionGen.batch(spark, n.toLong, seed)
    df.collect().map { r =>
      val ts = r.getAs[java.sql.Timestamp]("timestamp").toInstant.toString
      val cents = r.getAs[java.math.BigDecimal]("amount")
        .movePointRight(2).longValueExact()
      Base(Fields.map {
        case "timestamp" => ts
        case "amount" => ""
        case f => String.valueOf(r.getAs[Any](f))
      }.toArray, cents)
    }
  }

  def generate(spark: SparkSession, shape: Shape, seed: Long): Generated = {
    val rng = new SplittableRandom(seed)
    val uniform = shape.zipf <= 0
    val nBase = if (uniform) shape.events else shape.hotKeys
    val base = baseRows(spark, nBase, if (uniform) seed else HotKeySeed)
    val baseByKey = base.iterator.map(b => b.fields(0) -> b).toMap
    val zipfCdf = if (uniform) Array.emptyDoubleArray else {
      val w = (1 to shape.hotKeys).map(k => 1.0 / math.pow(k, shape.zipf))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    // live keys with O(1) random pick and removal (swap-remove)
    val live = mutable.ArrayBuffer.empty[String]
    val liveIdx = mutable.HashMap.empty[String, Int]
    val image = mutable.HashMap.empty[String, Img]
    val lastLsn = mutable.HashMap.empty[String, Long]
    def addLive(k: String): Unit = { liveIdx(k) = live.size; live += k }
    def removeLive(k: String): Unit = {
      val i = liveIdx.remove(k).get
      val last = live.remove(live.size - 1)
      if (last != k) { live(i) = last; liveIdx(last) = i }
    }
    var nextFresh = 0
    val events = new Array[Event](shape.events)
    val values = new Array[String](shape.events)
    val mode = shape.decimalMode
    for (lsn <- 0 until shape.events) {
      // coarse ts_ms (4 events per ms): ties make the LSN the tiebreak
      val ts = EpochMs + lsn / 4
      val (key, op) =
        if (uniform) {
          val r = rng.nextDouble()
          if (live.isEmpty || r < 0.80) {
            val b = base(nextFresh); nextFresh += 1
            (b.fields(0), "c")
          } else (live(rng.nextInt(live.size)), if (r < 0.95) "u" else "d")
        } else {
          val u = rng.nextDouble()
          var i = java.util.Arrays.binarySearch(zipfCdf, u)
          if (i < 0) i = -i - 1
          val k = base(math.min(i, zipfCdf.length - 1)).fields(0)
          (k, if (!liveIdx.contains(k)) "c" else if (rng.nextDouble() < 0.08) "d" else "u")
        }
      val before = image.get(key)
      val after: Option[Img] = op match {
        case "c" =>
          val b = baseByKey(key)
          addLive(key); Some(Img(b, b.cents, b.fields(8)))
        case "u" =>
          val prev = before.get
          // about 5 % of updates are refunds, so precise mode decodes
          // negative two's-complement values too
          val cents = if (rng.nextDouble() < 0.05) -(1000 + rng.nextInt(99000))
                      else 1000 + rng.nextInt(99000)
          Some(prev.copy(cents = cents, payment = payments(rng.nextInt(3))))
        case _ => removeLive(key); None
      }
      after match {
        case Some(img) => image(key) = img
        case None => image.remove(key)
      }
      lastLsn(key) = lsn
      events(lsn) = Event(lsn, key, op, ts)
      values(lsn) = envelope(op, before.filter(_ => op != "c"), after, ts, lsn, mode)
    }
    val expected = image.map { case (k, img) =>
      k -> Expected(lastLsn(k), img.cents) }.toMap
    val delivery = deliver(events, values, shape, rng)
    Generated(events.toIndexedSeq, delivery, expected, shape.malformed)
  }

  /** Delivery order. Late events move 5 000–20 000 positions back, an
    * out-of-order event swaps behind its successor, and a duplicate is a
    * byte-identical redelivery 1–2 000 positions later. Malformed
    * records sit at evenly spread positions.
    */
  private def deliver(events: Array[Event], values: Array[String], shape: Shape,
                      rng: SplittableRandom): IndexedSeq[Rec] = {
    // positions are scaled by 4 so "just after the successor" is exact
    val out = mutable.ArrayBuffer.empty[(Long, Rec)]
    val third = shape.disorder / 3
    for (i <- events.indices) {
      val e = events(i)
      val r = rng.nextDouble()
      val pos =
        if (r < third) 4L * (i + 5000 + rng.nextInt(15000))
        else if (r < 2 * third) 4L * (i + 1) + 2
        else 4L * i
      out += pos -> Rec(e.key, values(i), 0)
      if (r >= 2 * third && r < 3 * third)
        out += (4L * (i + 1 + rng.nextInt(2000)) + 1) -> Rec(e.key, values(i), 0)
    }
    val n = events.length
    for (m <- 0 until shape.malformed) {
      val at = 4L * (n.toLong * (m + 1) / (shape.malformed + 1)) + 3
      out += at -> Rec(s"malformed-$m", malformedValue(m), 0)
    }
    out.sortBy(_._1).zipWithIndex.map { case ((_, rec), i) => rec.copy(pos = i.toLong) }
      .toIndexedSeq
  }

  /** Broken records of the kinds a consumer must skip: not JSON,
    * truncated JSON, and an envelope without an op.
    */
  def malformedValue(m: Int): String = m % 3 match {
    case 0 => "{not json"
    case 1 => """{"before":null,"after":{"transaction_id":"x""""
    case _ => s"""{"before":null,"after":null,"ts_ms":$m}"""
  }

  private def amountJson(cents: Long, mode: String): String = {
    val plain = java.math.BigDecimal.valueOf(cents, 2).toPlainString
    mode match {
      case "string" => "\"" + plain + "\""
      case "double" => plain
      case "precise" =>
        val b64 = java.util.Base64.getEncoder.encodeToString(
          java.math.BigInteger.valueOf(cents).toByteArray)
        s"""{"scale":2,"value":"$b64"}"""
      case other => throw new IllegalArgumentException(s"decimal mode $other")
    }
  }

  private def imageJson(img: Img, mode: String): String = {
    val sb = new StringBuilder("{")
    var i = 0
    while (i < Fields.length) {
      if (i > 0) sb.append(',')
      sb.append('"').append(Fields(i)).append("\":")
      Fields(i) match {
        case "amount" => sb.append(amountJson(img.cents, mode))
        case "payment_method" => Json.str(sb, img.payment)
        case _ => Json.str(sb, img.base.fields(i))
      }
      i += 1
    }
    sb.append('}').toString
  }

  private def envelope(op: String, before: Option[Img], after: Option[Img], tsMs: Long,
               lsn: Long, mode: String): String = {
    def img(o: Option[Img]) = o.map(imageJson(_, mode)).getOrElse("null")
    s"""{"before":${img(before)},"after":${img(after)},"op":"$op","ts_ms":$tsMs,""" +
      s""""source":{"db":"financialDB","schema":"public","table":"transactions",""" +
      s""""lsn":$lsn,"txId":$lsn}}"""
  }
}
