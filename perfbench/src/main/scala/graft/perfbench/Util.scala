package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the result line and the artifacts. */
object Json {
  def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def render(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(','); first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case other => str(sb, other.toString)
  }
}

/** Wall time of named set-up phases, in call order. */
final class Phases {
  private val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally out(name) = (System.nanoTime() - t0) / 1e9
  }
  def toMap: Map[String, Double] = out.toMap
}

/** Order statistics over latency samples. */
object Stats {
  /** Nearest-rank percentile (q in [0, 1]) of unsorted values. */
  def pct(values: Seq[Double], q: Double): Double =
    if (values.isEmpty) Double.NaN else pctSorted(values.sorted.toIndexedSeq, q)

  def pctSorted(sorted: IndexedSeq[Double], q: Double): Double = {
    val rank = math.ceil(q * sorted.size).toInt
    sorted(math.min(sorted.size - 1, math.max(0, rank - 1)))
  }

  def median(values: Seq[Double]): Double = pct(values, 0.5)

  /** Samples strictly beyond the nearest-rank p99. */
  def beyond(values: Seq[Double], q: Double): Int = {
    val p = pct(values, q)
    values.count(_ > p)
  }
}

/** Process and host readings from /proc. */
object Proc {
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  private val clkTck = 100.0

  private def statCpu(stat: String): Double = {
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / clkTck
  }

  /** utime + stime of this process, every thread included (JIT compiler
    * and GC threads too), in seconds. */
  def cpuSeconds(): Double = statCpu(read("/proc/self/stat"))

  /** utime + stime of the JIT compiler threads alive now, in seconds, read
    * per thread from /proc. A note, not a metric: it shows how much of
    * `cpu_s` is compilation. Threads the JVM has stopped are missing, so
    * the difference of two readings is a lower bound. */
  def compilerCpuSeconds(): Double = {
    val tasks = Paths.get("/proc/self/task")
    val ids = Files.list(tasks).iterator.asScala.toList
    ids.flatMap { t =>
      try {
        val stat = read(t.resolve("stat").toString)
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler")) Some(statCpu(stat))
        else None
      } catch { case _: java.io.IOException => None }
    }.sum
  }

  /** Total collection time of every garbage collector, in ms. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double = status("VmHWM:") / 1024.0

  private def status(field: String): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith(field))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  /** (steal, total) jiffies summed over all CPUs. */
  def stealJiffies(): (Long, Long) = {
    val cpu = read("/proc/stat").linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
  }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)
}

/** Small file helpers over java.nio. */
object Fs {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator.asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists(_))
  }

  /** Regular data files under `root` (no dot or underscore sidecars). */
  def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
        !root.relativize(p).iterator.asScala.exists { s =>
          val t = s.toString; t.startsWith(".") || t.startsWith("_") }
    }.toSeq.sortBy(_.toString)

  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}
