package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    invalid: Option[String],
    notes: Map[String, Any],
    spans: Seq[Span])

final case class Ctx(spark: SparkSession, work: Path,
                     seed: Long, seconds: Int, trace: Boolean)

/** Entry point of the CDC pipeline benchmark (launched by run.py).
  *
  * {{{
  * Main --workload cdc_live|cdc_backlog --seed N --seconds S --trace 0|1
  *      --out DIR [--cpus N]
  * }}}
  *
  * Prints the run description and every metric by name with its unit,
  * writes a JSON artifact (and, traced, the spans) under DIR, and ends
  * stdout with one JSON result line. Exit codes: 0 correct, 1 a sink or
  * decode mismatch (the result line says `"correct": false`), 2 bad
  * arguments, 3 an invalid run (the release thread fell behind its
  * schedule; no result line, not scored).
  */
object Main {

  val Units: Map[String, String] = Map(
    "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms", "throughput_eps" -> "1/s",
    "cpu_s" -> "s", "setup_s" -> "s")

  def layerUnit(name: String): String =
    if (name.startsWith("trace.") || name.endsWith("_frac")) "ratio"
    else if (name.endsWith("_eps")) "1/s"
    else if (name.endsWith("_ms") || name.contains("_ms_")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MiB"
    else if (name.endsWith("bytes_per_event")) "B"
    else if (name.endsWith("_bytes")) "B"
    else "count"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    Args(
      m.getOrElse("workload", ""),
      m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("out", "perfbench/out")).toAbsolutePath,
      m.get("cpus").map(_.toInt).getOrElse(math.min(4, nproc)))
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.util.Tuning.sqlDefaults.toMap)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep every micro-batch's progress for the latency and layer maths
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Conditions the numbers were measured under. */
  def describe(a: Args, stealPct: Double): Map[String, Any] = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "master" -> s"local[${a.cpus}]",
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "git_rev" -> sys.env.getOrElse("PERFBENCH_GIT_REV", "unknown"),
      "src_sha256" -> sys.env.getOrElse("PERFBENCH_SRC_SHA", "unknown"),
      "steal_pct" -> stealPct,
      "xmx" -> jvmArgs.filter(_.startsWith("-Xmx")).lastOption.getOrElse("default"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "gc_flag" -> jvmArgs.filter(_.matches("-XX:\\+Use.*GC")).lastOption.getOrElse("default"),
      "gc_collectors" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
  }

  /** Collect garbage before a timed part, so each starts from the same
    * heap state instead of inheriting set-up's garbage. */
  def settle(): Unit = { System.gc(); Thread.sleep(200) }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    if (!Set("cdc_live", "cdc_backlog")(a.workload) || a.seconds < 1) {
      System.err.println(s"usage: --workload cdc_live|cdc_backlog --seed N --seconds S " +
        s"--trace 0|1 --out DIR (got ${argv.mkString(" ")})")
      sys.exit(2)
    }
    sys.exit(run(a, t0))
  }

  def run(a: Args, setupStartNs: Long): Int = {
    val work = a.out.resolve(s"work-${ProcessHandle.current.pid}")
    Fs.rmrf(work)
    Files.createDirectories(work)
    val steal0 = Proc.stealJiffies()
    val spark = session(a.cpus, work)
    val sessionS = (System.nanoTime() - setupStartNs) / 1e9
    val outcome =
      try {
        val ctx = Ctx(spark, work, a.seed, a.seconds, a.trace)
        if (a.workload == "cdc_live") Live.run(ctx, setupStartNs)
        else Backlog.run(ctx, setupStartNs)
      } finally spark.stop()
    Fs.rmrf(work)
    val desc = describe(a, Proc.stealPct(steal0, Proc.stealJiffies()))
    val failFrac = outcome.failed.toDouble / math.max(1L, outcome.attempted)
    val layers: Map[String, Double] = if (a.trace) outcome.layers + ("fail_frac" -> failFrac) else Map.empty
    val metrics: Map[String, Double] = if (a.trace) layers else outcome.e2e

    val stem = f"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis()}"
    val artifact = a.out.resolve("artifacts").resolve(s"$stem.json")
    Fs.write(artifact, Json.render(Map(
      "run" -> desc,
      "end_to_end" -> outcome.e2e,
      "per_layer" -> layers,
      "correct" -> (outcome.failed == 0), "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "fail_frac" -> failFrac,
      "invalid" -> outcome.invalid,
      "notes" -> outcome.notes)))
    if (outcome.spans.nonEmpty)
      Fs.write(a.out.resolve("artifacts").resolve(s"$stem-spans.jsonl"),
        outcome.spans.map(s => Json.render(s.toMap)).mkString("", "\n", "\n"))

    println(s"run ${Json.render(desc)}")
    println(s"notes ${Json.render(outcome.notes + ("session_start_s" -> sessionS))}")
    (outcome.e2e.toSeq ++ layers.toSeq).sortBy(_._1).foreach { case (k, v) =>
      val unit = Units.getOrElse(k, layerUnit(k))
      println(f"metric $k%-36s $v%16.4f $unit")
    }
    println(s"artifact $artifact")
    outcome.invalid match {
      case Some(why) =>
        System.err.println(s"invalid run, not scored: $why")
        3
      case None =>
        val units = metrics.map { case (k, v) =>
          k -> Map("value" -> v, "unit" -> Units.getOrElse(k, layerUnit(k))) }
        println(Json.render(Map("correct" -> (outcome.failed == 0),
          "attempted" -> outcome.attempted, "failed" -> outcome.failed,
          "metrics" -> units)))
        if (outcome.failed == 0) 0 else 1
    }
  }
}
