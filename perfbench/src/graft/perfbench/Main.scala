package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload iteration reports besides its host regime: named
  * samples (batch latencies, phase times, item counts), and what the
  * wrapper's output checks need to find the iteration's outputs. */
final class IterStats {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val check = mutable.LinkedHashMap[String, Any]()
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Times one measured section: wall and process CPU seconds go to
    * `<name>_wall_s` and `<name>_cpu_s`. Work outside these sections
    * (copying inputs, writing outputs for the checks) is not measured. */
  def work[T](name: String)(body: => T): T = {
    val c0 = IterStats.os.getProcessCpuTime
    val t0 = System.nanoTime()
    try body
    finally {
      add(s"${name}_wall_s", (System.nanoTime() - t0) / 1e9)
      add(s"${name}_cpu_s", (IterStats.os.getProcessCpuTime - c0) / 1e9)
    }
  }
}

object IterStats {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds of every thread of this process since it started. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9
}

final class Ctx(val spark: SparkSession, val rec: Recorder,
    val inputs: String, val work: String, val params: Map[String, String]) {
  val out: String = s"$work/out"
  /** Per-layer figures of the traced run, filled by the workload. */
  val layers = mutable.LinkedHashMap[String, Double]()
  def int(k: String): Int = params(k).toInt
  def long(k: String): Long = params(k).toLong
}

trait Workload {
  def iteration(ctx: Ctx, i: Int, st: IterStats): Unit
  /** Runs after the measured window; the traced run records per-layer
    * figures here. */
  def finish(ctx: Ctx, iters: Seq[IterStats]): Unit = ()
}

/** Benchmark driver JVM: Spark session, then whole iterations until the
  * measured window is spent. Writes `<work>/result.json`.
  *
  * Usage: graft.perfbench.Main --workload W --inputs DIR --work DIR
  *   --seconds S --trace 0|1 --cores N --launched-ms EPOCH_MS */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val launchedMs = a("launched-ms").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val wl: Workload = a("workload") match {
      case "job_dispatch" => JobDispatch
      case "corpus_ingest" => CorpusIngest
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val params = {
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(s"${a("inputs")}/params.properties")
      try p.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      p.asScala.toMap
    }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceLaunch = (System.currentTimeMillis() - launchedMs) / 1000.0
    System.out.println(f"[setup] session ready at $sinceLaunch%.2fs")
    val rec = new Recorder(traced, spark.sparkContext)
    val ctx = new Ctx(spark, rec, a("inputs"), a("work"), params)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ctx.out))

    val firstMeasuredMs = System.currentTimeMillis()
    val setupCpuS = IterStats.processCpuS
    val t0 = System.nanoTime()
    val iters = mutable.ArrayBuffer[(IterStats, Map[String, Double])]()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val i = iters.size
      val st = new IterStats
      rec.iter = i
      val r0 = Regime.sample()
      rec.span("iteration")(wl.iteration(ctx, i, st))
      val reg = Regime.delta(r0, Regime.sample())
      System.out.println(f"[regime] iter=$i wall=${reg("wall_s")}%.3fs " +
        f"cpu=${reg("cpu_s")}%.3fs gc=${reg("gc_ms")}%.0fms jit=${reg("jit_ms")}%.0fms " +
        f"steal=${reg("steal_pct")}%.1f%% other=${reg("other_pct")}%.1f%%")
      iters += ((st, reg))
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    rec.iter = -1
    wl.finish(ctx, iters.map(_._1).toSeq)
    if (traced) Layers.engine(ctx)

    def iterJson(st: IterStats, reg: Map[String, Double]) =
      Map("regime" -> reg, "samples" -> st.samples, "check" -> st.check)
    val result = Map(
      "workload" -> a("workload"),
      "traced" -> traced,
      "setup_cpu_s" -> setupCpuS,
      "setup_wall_s" -> (firstMeasuredMs - launchedMs) / 1000.0,
      "measured_s" -> measuredS,
      "peak_rss_mb" -> Regime.peakRssMb(),
      "iterations" -> iters.map { case (st, reg) => iterJson(st, reg) },
      "layers" -> ctx.layers,
      "spans" -> (if (traced) rec.spans.filter(_ != null).map(s => Map(
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "iter" -> s.iter,
        "spark_jobs" -> s.delta.jobs, "tasks" -> s.delta.tasks,
        "executor_run_ms" -> s.delta.runMs, "executor_cpu_ms" -> s.delta.cpuMs,
        "gc_ms" -> s.delta.gcMs, "shuffle_write_b" -> s.delta.shuffleWriteB,
        "spill_b" -> s.delta.spillB)) else Seq.empty))
    val tmp = java.nio.file.Paths.get(s"${ctx.work}/result.json.tmp")
    java.nio.file.Files.write(tmp, Json(result).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"${ctx.work}/result.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    spark.stop()
  }
}

/** Shared helpers for the workloads and the per-layer figures. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer engine counters of every phase span, per measured
    * iteration: executor run and CPU time, GC, shuffle write, spill, and
    * the mean over stages of (max / median task time). */
  val EnginePhases: Seq[String] = Seq("jobstream", "batchpipeline", "ingest",
    "fold", "text.warm", "ml", "vector", "export")

  def engine(ctx: Ctx): Unit = {
    val n = math.max(1, ctx.rec.measured("iteration").size)
    EnginePhases.foreach { p =>
      val ss = ctx.rec.measured(p)
      if (ss.nonEmpty) {
        def per(f: Counters => Double) = ss.map(s => f(s.delta)).sum / n
        ctx.layers(s"$p.executor_run_ms") = per(_.runMs)
        ctx.layers(s"$p.executor_cpu_ms") = per(_.cpuMs)
        ctx.layers(s"$p.gc_ms") = per(_.gcMs)
        ctx.layers(s"$p.shuffle_write_mb") = per(_.shuffleWriteB) / 1048576.0
        ctx.layers(s"$p.spill_mb") = per(_.spillB) / 1048576.0
        val stages = ss.map(_.delta.skewStages).sum
        ctx.layers(s"$p.task_skew") =
          if (stages == 0) 1.0 else ss.map(_.delta.skewSum).sum / stages
      }
    }
  }

  /** Recursive copy of a directory tree (inputs into an iteration's own
    * directory, outside the timed region). */
  def copyTree(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }

  /** Storage memory held by cached blocks, MB. */
  def cachedMb(ctx: Ctx): Double =
    ctx.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}
