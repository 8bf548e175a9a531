package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks, at toy size: input determinism, the
  * release schedule and latency arithmetic, and sink ≡ batch oracle in
  * every decimal mode.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("perfbench-spec")

  override def afterAll(): Unit = {
    spark.stop()
    Fs.rmrf(root)
  }

  private def dir(name: String): Path = root.resolve(name)

  private val skewed = Shape(600, "precise", zipf = 0.99, hotKeys = 40, disorder = 0.15,
    malformed = 5)

  test("the same seed produces a byte-identical topic; another seed does not") {
    def topic(name: String, seed: Long): String = {
      val g = Gen.generate(spark, skewed, seed)
      Pipeline.produce(spark, dir(name), g.delivery.grouped(200).toSeq, 2)
      Pipeline.fingerprint(spark, dir(name))
    }
    val a = topic("det-a", 7)
    assert(a == topic("det-b", 7))
    assert(a != topic("det-c", 8))
  }

  test("generated streams carry the promised disorder and malformed records") {
    val g = Gen.generate(spark, skewed, 3)
    assert(g.malformed == 5)
    assert(g.delivery.count(_.key.startsWith("malformed-")) == 5)
    val lsns = g.delivery.filterNot(_.key.startsWith("malformed-"))
      .map(r => "\"lsn\":(\\d+)".r.findFirstMatchIn(r.value).get.group(1).toLong)
    assert(lsns.size > g.events.size, "some events are delivered twice")
    assert(lsns.zip(lsns.tail).exists { case (a, b) => b < a }, "some arrive out of order")
    assert(lsns.distinct.size == g.events.size, "every event is delivered")
  }

  test("release schedule: each tick is moved at the end of its interval") {
    val src = dir("rel-src")
    val dst = dir("rel-dst")
    Files.createDirectories(src); Files.createDirectories(dst)
    val ticks = (0 until 4).map { k =>
      val f = src.resolve(s"t$k"); Files.write(f, Array[Byte](k.toByte))
      Seq(f -> dst.resolve(s"t$k"))
    }
    val tickNs = 30L * 1000000L
    val t0 = System.nanoTime() + 20L * 1000000L
    val rel = new Releaser(ticks, t0, tickNs)
    rel.start(); rel.join()
    assert((0 until 4).forall(k => Files.exists(dst.resolve(s"t$k"))))
    (0 until 4).foreach { k =>
      assert(rel.dueNs(k) == t0 + (k + 1) * tickNs)
      assert(rel.startNs(k) >= rel.dueNs(k), s"tick $k released early")
    }
    assert(rel.lateMs.forall(_ >= 0))
  }

  test("latency arithmetic on a synthetic schedule") {
    // two rungs: 2 ticks of 2 events, then 1 tick of 4 events; 100 ms ticks
    val plan = Live.Plan(Seq(2, 1), Seq(2, 4), 100)
    val ms = 1000000L
    val tickNs = 100 * ms
    assert(plan.events == 8)
    assert((0L until 8L).map(plan.tickOf) == Seq(0, 0, 1, 1, 2, 2, 2, 2))
    assert(plan.rungOf(1) == 0 && plan.rungOf(2) == 1)
    // creation times spread evenly over each tick; the last at its end
    assert(plan.dueOffsetNs(0, tickNs) == 50 * ms)
    assert(plan.dueOffsetNs(1, tickNs) == 100 * ms)
    assert(plan.dueOffsetNs(4, tickNs) == 225 * ms)
    assert(plan.dueOffsetNs(7, tickNs) == 300 * ms)
    val t0 = 1000 * ms
    val released = IndexedSeq(t0 + 100 * ms, t0 + 200 * ms, t0 + 300 * ms)
    // batch 0 commits ticks 0-1 at 450 ms, batch 1 commits tick 2 at 700 ms
    val commits = Seq(Commit(0, t0 + 400 * ms, t0 + 450 * ms),
      Commit(1, t0 + 600 * ms, t0 + 700 * ms))
    val rows = (0L until 4L).map(_ -> 0L) ++ (4L until 8L).map(_ -> 1L)
    val s = Live.passStats(plan, t0, tickNs, released, rows, commits, Map(0L -> 4L, 1L -> 4L))
    assert(s.rungLatency(0) == Seq(400.0, 350.0, 300.0, 250.0))
    assert(s.rungLatency(1) == Seq(475.0, 450.0, 425.0, 400.0))
    // half a tick after each rung's last release nothing is committed yet
    assert(s.rungBacklogEnd == Seq(4L, 8L))
    assert(s.backlogMax == 8L)
    val (top, eps) = Live.sustained(plan, s, t0, tickNs)
    assert(top.contains(1))
    // rung 1: 4 events from first creation (200 ms) to last commit (700 ms)
    assert(math.abs(eps - 8.0) < 1e-9)
    // the top rung's rate counts only the batches that applied its events:
    // batch 1, 4 rows in 250 ms of trigger execution
    val batches = Map(0L -> (4L, 50L), 1L -> (4L, 250L))
    assert(math.abs(Live.saturatedEps(plan, rows, batches) - 16.0) < 1e-9)
  }

  for (mode <- Seq("string", "double", "precise")) {
    test(s"streamed sink equals Materialize.applyCdc in $mode mode") {
      val shape = skewed.copy(decimalMode = mode)
      val g = Gen.generate(spark, shape, 11)
      val topic = dir(s"sink-$mode-topic")
      Pipeline.produce(spark, topic, g.delivery.grouped(150).toSeq, 2)
      val log = new ConcurrentLinkedQueue[Commit]()
      val sink = dir(s"sink-$mode")
      val q = Pipeline.start(spark, s"spec_$mode", topic, mode, dir(s"sink-$mode-ck"), sink,
        Trigger.AvailableNow(), Some(2), log)
      q.awaitTermination()
      assert(log.size > 1, "the backlog drains in several micro-batches")
      val oracle = Pipeline.oracle(spark, topic, mode)
      assert(oracle.count() > 0)
      assert(Pipeline.mismatches(Pipeline.resolve(Pipeline.sinkRows(spark, sink)), oracle) == 0)
      assert(Pipeline.generatorMismatches(spark, oracle, g.expected) == 0)
      assert(Pipeline.malformed(spark, topic, mode)._2 == shape.malformed)
    }
  }

  test("a wrong sink row is counted as a mismatch") {
    import spark.implicits._
    val a = Seq(("k1", "{\"x\":1}"), ("k2", "{\"x\":2}")).toDF("key", "json")
    val b = Seq(("k1", "{\"x\":1}"), ("k2", "{\"x\":3}"), ("k3", "{}")).toDF("key", "json")
    assert(Pipeline.mismatches(a, b) == 2)
  }

  test("percentiles and the beyond-p99 count") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.pct(xs, 0.5) == 500.0)
    assert(Stats.pct(xs, 0.99) == 990.0)
    assert(Stats.beyond(xs, 0.99) == 10)
  }
}
