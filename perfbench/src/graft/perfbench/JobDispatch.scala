package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.exec.{CommandRunner, MockRunner, RunResult}
import graft.pipeline.BatchPipeline
import graft.queries.EncodeQueries
import graft.streaming.JobStream
import graft.streaming.JobStream.JobRequest

/** Counts and times every external-command call of the traced run. The
  * counters are JVM-wide because Spark tasks run on deserialized copies
  * of the runner (one JVM in local mode). */
object RunnerCounters {
  val calls = new AtomicLong
  val nanos = new AtomicLong
}

final class CountingRunner(inner: CommandRunner) extends CommandRunner {
  def run(cmd: Seq[String], cwd: Option[java.io.File]): RunResult = {
    val t0 = System.nanoTime()
    try inner.run(cmd, cwd)
    finally {
      RunnerCounters.calls.incrementAndGet()
      RunnerCounters.nanos.addAndGet(System.nanoTime() - t0)
    }
  }
}

/** EncodeSrv's own loop. Phase A drains seeded job-request files through
  * `JobStream.start` (one file per micro-batch, closed loop); phase B runs
  * rounds of `BatchPipeline.runRound` plus `EncodeQueries.f1CommandCompile`
  * over the jobs snapshot. */
object JobDispatch extends Workload {
  private def runner(ctx: Ctx): CommandRunner =
    if (ctx.rec.traced) new CountingRunner(MockRunner) else MockRunner

  def iteration(ctx: Ctx, i: Int, st: IterStats): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tag = i.toString
    val nRequests = ctx.long("jd.requests")
    val capacity = ctx.int("jd.capacity")
    val snapshot = s"${ctx.inputs}/snapshot"

    // phase A: the poll loop over request files
    val events = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Int)]()
    val schema = org.apache.spark.sql.Encoders.product[JobRequest].schema
    val q = st.work("phase_a") {
      ctx.rec.span("jobstream") {
        val requests = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"${ctx.inputs}/requests").as[JobRequest]
        val q = JobStream.start(requests, runner(ctx), new JobStream.ClaimLedger,
          capacity,
          evs => events.synchronized {
            evs.zipWithIndex.foreach { case (e, k) => events += ((e.job_id, e.status, e.batch_id, k)) }
          },
          Trigger.AvailableNow(), Some(s"${ctx.work}/jd-$tag/ckpt"))
        q.awaitTermination()
        q
      }
    }
    val progress = q.recentProgress.toSeq
    progress.filter(_.numInputRows > 0).foreach(p =>
      st.add("batch_ms", p.durationMs.get("triggerExecution").toDouble))
    st.add("items", nRequests.toDouble)
    if (ctx.rec.traced) JobStreamLayers.record(ctx, progress, events.size, nRequests)

    val aPath = s"${ctx.out}/jd-$tag-a.csv"
    val w = new java.io.PrintWriter(aPath, "UTF-8")
    try events.foreach { case (id, s, b, k) => w.println(s"$id,$b,$k,$s") } finally w.close()

    // phase B: scheduler rounds and the command compile over the snapshot.
    // Nothing releases what a round caches, so the cache grows per round.
    val rounds = (0 until ctx.int("jd.rounds")).map { r =>
      val (round, f1) = st.work("phase_b") {
        ctx.rec.span("batchpipeline") {
          val round = ctx.rec.span("batchpipeline.runRound") {
            val res = BatchPipeline.runRound(spark, snapshot,
              capacity = ctx.int("jd.round_capacity"), runner(ctx), batchId = r.toLong)
            val nEvents = res.events.count()
            val statusCounts = res.finalJobs.groupBy(col("status")).count()
              .as[(String, Long)].collect().toMap
            (res, nEvents, statusCounts)
          }
          val f1 = ctx.rec.span("encodequeries.f1") {
            EncodeQueries.f1CommandCompile(spark, snapshot)
              .agg(count(lit(1)), count(col("cmd")))
              .as[(Long, Long)].collect().head
          }
          (round, f1)
        }
      }
      st.add("round_s", st.samples("phase_b_wall_s").last)
      if (ctx.rec.traced) st.add("cached_mb", Layers.cachedMb(ctx))
      // the round's events for the checks, outside the timed work
      val bPath = s"${ctx.out}/jd-$tag-b$r"
      round._1.events.toDF().select(col("job_id"), col("status"),
          monotonically_increasing_id().as("ord"))
        .write.parquet(bPath)
      Map("events_b" -> bPath, "round_events" -> round._2, "final_status" -> round._3,
        "f1_rows" -> f1._1, "f1_cmds" -> f1._2)
    }
    st.check ++= Map("events_a" -> aPath, "rounds" -> rounds.toList)
  }

  override def finish(ctx: Ctx, iters: Seq[IterStats]): Unit = if (ctx.rec.traced) {
    val n = math.max(1, iters.size)
    ctx.layers("exec.runner_calls") = RunnerCounters.calls.get.toDouble / n
    ctx.layers("exec.runner_ms") = RunnerCounters.nanos.get / 1e6 / n
    def spanS(name: String) = Layers.median(ctx.rec.measured(name).map(_.seconds))
    ctx.layers("batchpipeline.runRound_s") = spanS("batchpipeline.runRound")
    ctx.layers("encodequeries.f1_s") = spanS("encodequeries.f1")
    ctx.layers("batchpipeline.cached_mb") = iters.last.samples("cached_mb").last
    ctx.layers("jobstream.batch_p50_ms") = Layers.median(iters.flatMap(_.samples("batch_ms")))
    ctx.layers("jobstream.jobs_per_s") =
      iters.map(_.samples("items").sum).sum / iters.map(_.samples("phase_a_wall_s").sum).sum
    ctx.layers("batchpipeline.round_s") = Layers.median(iters.flatMap(_.samples("round_s")))
    JobStreamLayers.finish(ctx)
  }
}

/** Per-batch figures of the traced job stream, from the query's own
  * progress reports and the listener's job and task intervals. */
object JobStreamLayers {
  private val acc = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def record(ctx: Ctx, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      nEvents: Int, nJobs: Long): Unit = {
    val real = progress.filter(_.numInputRows > 0)
    real.foreach { p =>
      def d(k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      acc("addBatch") += d("addBatch"); acc("queryPlanning") += d("queryPlanning")
      acc("walCommit") += d("walCommit"); acc("commitOffsets") += d("commitOffsets")
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val (jobs, tasks, idle) = ctx.rec.listener.get.window(t0, t0 + d("triggerExecution").toLong)
      acc("jobs") += jobs; acc("tasks") += tasks; acc("idle") += idle
      acc("batches") += 1
    }
    acc("events") += nEvents; acc("claimed") += nJobs
  }

  def finish(ctx: Ctx): Unit = {
    val b = math.max(1.0, acc("batches"))
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets").foreach(k =>
      ctx.layers(s"jobstream.${k}_ms") = acc(k) / b)
    ctx.layers("jobstream.spark_jobs_per_batch") = acc("jobs") / b
    ctx.layers("jobstream.tasks_per_batch") = acc("tasks") / b
    ctx.layers("jobstream.idle_ms_per_batch") = acc("idle") / b
    ctx.layers("jobstream.events_per_job") = acc("events") / math.max(1.0, acc("claimed"))
  }
}
