package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Cumulative engine counters, read at span boundaries. */
final case class Counters(jobs: Long, tasks: Long, runMs: Double,
    cpuMs: Double, gcMs: Double, shuffleWriteB: Double, spillB: Double,
    skewSum: Double, skewStages: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, cpuMs - o.cpuMs, gcMs - o.gcMs,
    shuffleWriteB - o.shuffleWriteB, spillB - o.spillB,
    skewSum - o.skewSum, skewStages - o.skewStages)
}

/** Spark listener of the traced run: task metrics summed over the run,
  * per-stage task-time skew, and the time intervals of every job start and
  * task, so a streaming batch's idle time (no task running) can be read
  * off its interval. */
final class EngineListener extends SparkListener {
  private var c = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val taskSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.ArrayBuffer[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStarts += e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      c = c.copy(tasks = c.tasks + 1,
        runMs = c.runMs + m.executorRunTime,
        cpuMs = c.cpuMs + m.executorCpuTime / 1e6,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
        spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    if (info != null) {
      taskSpans += ((info.launchTime, info.finishTime))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        (info.finishTime - info.launchTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTaskMs.remove(e.stageInfo.stageId).foreach { ds =>
      if (ds.size >= 2) {
        val s = ds.sorted
        val med = math.max(1L, s(s.size / 2))
        c = c.copy(skewSum = c.skewSum + s.last.toDouble / med,
          skewStages = c.skewStages + 1)
      }
    }
  }

  def counters: Counters = synchronized(c)

  /** (spark jobs started, tasks launched, idle ms) inside [t0, t1] (epoch
    * ms): idle is the part of the interval no task covered. */
  def window(t0: Long, t1: Long): (Long, Long, Double) = synchronized {
    val jobs = jobStarts.count(t => t >= t0 && t <= t1).toLong
    val inside = taskSpans.filter { case (s, _) => s >= t0 && s <= t1 }
    val clipped = taskSpans.filter { case (s, f) => f > t0 && s < t1 }
      .map { case (s, f) => (math.max(s, t0), math.min(f, t1)) }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curF = -1L
    clipped.foreach { case (s, f) =>
      if (s > curF) {
        if (curF > curS) covered += curF - curS
        curS = s; curF = f
      } else curF = math.max(curF, f)
    }
    if (curF > curS) covered += curF - curS
    (jobs, inside.size.toLong, math.max(0L, (t1 - t0) - covered).toDouble)
  }
}

/** One recorded span: a call into the program, timed from the outside. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int,
    iter: Int, delta: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Untraced runs pay one branch per call; traced runs keep
  * every span and its listener counters in memory until the run ends. */
final class Recorder(val traced: Boolean, sc: SparkContext) {
  val listener: Option[EngineListener] =
    if (traced) {
      val l = new EngineListener
      sc.addSparkListener(l)
      Some(l)
    } else None
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  var iter: Int = -1

  private def counters: Counters = listener.map { l =>
    org.apache.spark.PerfbenchBus.drain(sc)
    l.counters
  }.getOrElse(Counters(0, 0, 0, 0, 0, 0, 0, 0, 0))

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val c0 = counters
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans(id) = Span(name, t0, t1, parent, iter, counters - c0)
      }
    }

  /** Spans of one name in measured iterations (iter >= 0). */
  def measured(name: String): Seq[Span] =
    spans.toSeq.filter(s => s != null && s.name == name && s.iter >= 0)
}

/** Host and JVM regime of a time window: hypervisor steal and other
  * processes' CPU (both as a share of all CPUs' time, /proc/stat), this
  * process's CPU, and the JVM's GC and JIT compile time. */
final case class Regime(wallNs: Long, procCpuNs: Long, gcMs: Long,
    jitMs: Long, jifTotal: Long, jifBusy: Long, jifSteal: Long, selfJif: Long)

object Regime {
  private def read(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    catch { case scala.util.control.NonFatal(_) => "" }

  def sample(): Regime = {
    val cpuLine = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).flatMap(_.toLongOption)).getOrElse(Array.empty[Long])
    def f(i: Int) = if (cpuLine.length > i) cpuLine(i) else 0L
    val total = cpuLine.sum
    val self = {
      val s = read("/proc/self/stat")
      val rest = s.substring(s.lastIndexOf(')') + 1).trim.split("\\s+")
      if (rest.length > 12) rest(11).toLong + rest(12).toLong else 0L
    }
    import scala.jdk.CollectionConverters._
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
    val jit = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    Regime(System.nanoTime(), os.getProcessCpuTime, gc, jit,
      total, total - f(3) - f(4), f(7), self)
  }

  /** The window's figures as name -> value. */
  def delta(a: Regime, b: Regime): Map[String, Double] = {
    val tot = math.max(1L, b.jifTotal - a.jifTotal).toDouble
    val steal = (b.jifSteal - a.jifSteal).max(0L)
    val self = (b.selfJif - a.selfJif).max(0L)
    val other = ((b.jifBusy - a.jifBusy) - steal - self).max(0L)
    Map(
      "wall_s" -> (b.wallNs - a.wallNs) / 1e9,
      "cpu_s" -> (b.procCpuNs - a.procCpuNs) / 1e9,
      "gc_ms" -> (b.gcMs - a.gcMs).toDouble,
      "jit_ms" -> (b.jitMs - a.jitMs).toDouble,
      "steal_pct" -> 100.0 * steal / tot,
      "other_pct" -> 100.0 * other / tot)
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON rendering for the result file the wrapper reads. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => apply(o.toString)
  }
}
