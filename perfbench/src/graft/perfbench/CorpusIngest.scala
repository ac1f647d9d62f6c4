package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.pipeline.{BatchPipeline, CorpusCompaction}
import graft.queries.{MlQueries, TextQueries, VectorQueries}
import graft.sinks.LandingSink
import graft.streaming.EventStream

/** Build a corpus, then serve the ingest front door against it.
  *
  * The build is a cold batch job: the shared text dedup bases, classifier
  * and BPE training, the embedding quantizer with within-cell semantic
  * dedup, and the audited shard export. It uses no streaming machinery.
  *
  * The ingest part probes the built corpus: its fingerprint and LSH band
  * tables, and the classifier, BPE merges and DSIR weights trained on it.
  * Rounds follow: the round's arrival files drain through
  * `EventStream.ingestFrontDoorCapped` into `LandingSink` (one file per
  * micro-batch, closed loop, the cap's state kept across rounds), then a
  * `CorpusCompaction.compact` fold appends its deltas to the probe tables
  * the next round reads.
  *
  * Every iteration works on its own copy of the same inputs, so no in-JVM
  * memo or on-disk snapshot of an earlier iteration is reused. */
object CorpusIngest extends Workload {
  private var art: EventStream.IngestArtifacts = _
  private var corpusDocs: DataFrame = _

  private def probe0(ctx: Ctx) = s"${ctx.work}/ci-0/probe0"
  private def arrivals(ctx: Ctx, r: Int) = s"${ctx.inputs}/arrivals/r$r"

  def iteration(ctx: Ctx, i: Int, st: IterStats): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = s"${ctx.work}/ci-$i"
    Layers.copyTree(s"${ctx.inputs}/corpus", dir)
    val shards = s"${ctx.out}/ci-$i-shards"
    val v8Out = s"${ctx.out}/ci-$i-v8"
    val stages = scala.collection.mutable.LinkedHashMap[String, Double]()
    def stage[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try ctx.rec.span(name)(body) finally stages(name) = (System.nanoTime() - t0) / 1e9
    }
    val ckpt0 = if (ctx.rec.traced) TextQueries.checkpointBytes else 0L
    val audit = st.work("build") {
      stage("text.warm")(TextQueries.warmShared(spark, dir))
      stage("ml") {
        stage("ml.classifier")(MlQueries.fitted(spark, dir))
        stage("ml.bpe")(MlQueries.learnedMerges(spark, dir))
      }
      stage("vector") {
        stage("vector.quantizer")(VectorQueries.quantizerRows(spark, dir))
        stage("vector.semdedup")(VectorQueries.v8SemanticDedup(spark, dir)
          .write.parquet(v8Out))
      }
      stage("export") {
        val a = BatchPipeline.exportCleanCorpusAudited(spark, dir, shards,
          ctx.int("cb.shard_cap"))
        (a.manifest.select(col("lang"), regexp_extract(col("file"), "[^/]+$", 0),
            col("n_rows")).as[(String, String, Long)].collect().toSeq,
          a.expected.select(col("lang"), col("expected_rows")).as[(String, Long)].collect().toMap)
      }
    }
    st.add("round_s", st.samples("build_wall_s").last)
    if (ctx.rec.traced) {
      TextQueries.lastWarmStages.foreach { case (name, secs, rows, _) =>
        st.add(s"warm.$name.s", secs); st.add(s"warm.$name.rows", rows.toDouble)
      }
      st.add("ckpt_mb", (TextQueries.checkpointBytes - ckpt0) / 1048576.0)
      st.add("semdedup_dropped",
        spark.read.parquet(v8Out).filter(col("is_kept") === 0).count().toDouble)
    }
    st.check ++= Map("dir" -> dir, "shards" -> shards, "v8" -> v8Out,
      "manifest" -> audit._1.map { case (l, f, n) => Map("lang" -> l, "file" -> f, "n_rows" -> n) },
      "expected" -> audit._2)

    // the ingest front door against the built corpus
    st.work("ingest_setup") {
      corpusDocs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "source", "text")
      stage("setup.probe_tables") {
        corpusDocs.select(col("doc_id"), graft.ops.Fingerprint.col(col("text")).as("fp"))
          .write.parquet(s"$dir/probe0/fps")
        corpusDocs.select(col("doc_id"),
            posexplode(TextQueries.bandKeysCol(col("text"))).as(Seq("band", "bkey")))
          .write.parquet(s"$dir/probe0/bands")
      }
      // the classifier and merges are the build's, trained on this corpus
      val model = stage("setup.classifier")(MlQueries.fitted(spark, dir))
      val merges = stage("setup.bpe")(MlQueries.learnedMerges(spark, dir))
      val weights = stage("setup.dsir")(TextQueries.dsirBucketWeights(spark, dir))
      art = EventStream.IngestArtifacts(null, null, model, merges, weights)
    }
    val rounds = round(ctx, dir, ctx.int("ig.rounds"), st)
    stages.foreach { case (k, v) => st.add(s"stage.$k", v) }
    if (ctx.rec.traced) {
      IngestLayers.acc("probe_fps_rows") += spark.read.parquet(s"$dir/fps").count()
      IngestLayers.acc("probe_bands_rows") += spark.read.parquet(s"$dir/bands").count()
    }
    st.check ++= Map("dir" -> dir, "rounds" -> rounds)
    // the next iteration trains and builds afresh
    MlQueries.releaseModels()
    MlQueries.releaseBpe()
    VectorQueries.releaseCaches()
    TextQueries.releaseCaches()
  }

  /** Ingest rounds in directory `it`, from the probe tables in `it/probe0`. */
  private def round(ctx: Ctx, it: String, nRounds: Int,
      st: IterStats): List[Map[String, Any]] = {
    val spark = ctx.spark
    Layers.copyTree(s"$it/probe0/fps", s"$it/fps")
    Layers.copyTree(s"$it/probe0/bands", s"$it/bands")
    val fps = spark.read.parquet(s"$it/fps")
    val bands = spark.read.parquet(s"$it/bands")
    val a = art.copy(corpusFps = fps, corpusBands = bands)
    val schema = spark.read.parquet(arrivals(ctx, 0)).schema
    val cap = ctx.long("ig.cap")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$it/src"))
    var lastFolded = -1L
    (0 until nRounds).map { r =>
      new java.io.File(arrivals(ctx, r)).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$it/src/r$r-${f.getName}")))

      val q = st.work("drain") {
        ctx.rec.span("ingest") {
          val stream = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$it/src")
          val q = LandingSink.start(EventStream.ingestFrontDoorCapped(stream, a, cap),
            s"$it/land", s"$it/ckpt", Trigger.AvailableNow())
          require(LandingSink.drainAndStop(q, 150000L), s"round $r did not drain")
          q
        }
      }
      val progress = q.recentProgress.toSeq
      progress.filter(_.numInputRows > 0).foreach(p =>
        st.add("batch_ms", p.durationMs.get("triggerExecution").toDouble))
      st.add("items", progress.map(_.numInputRows).sum.toDouble)
      if (ctx.rec.traced) IngestLayers.record(progress)
      val maxBatch = progress.map(_.batchId).max

      val audit = st.work("fold") {
        ctx.rec.span("fold") {
          val landed = spark.read.parquet(s"$it/land")
            .filter(col("batch") > lastFolded && col("batch") <= maxBatch)
            .select("doc_id", "source", "text")
          val c = CorpusCompaction.compact(landed, corpusDocs, fps, bands)
          c.newFingerprints.write.mode("append").parquet(s"$it/fps")
          c.newBands.write.mode("append").parquet(s"$it/bands")
          c.appended.write.parquet(s"$it/appended/r$r")
          val row = c.audit.collect()(0)
          c.release()
          EventStream.refreshStaticArtifacts(fps, bands)
          row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap
        }
      }
      val rec = Map("round" -> r, "batch_lo" -> (lastFolded + 1), "batch_hi" -> maxBatch,
        "audit" -> audit, "appended" -> s"$it/appended/r$r")
      lastFolded = maxBatch
      rec
    }.toList
  }

  override def finish(ctx: Ctx, iters: Seq[IterStats]): Unit = {
    batchFrontDoor(ctx)
    if (ctx.rec.traced) {
      buildLayers(ctx, iters)
      IngestLayers.finish(ctx, iters)
      gateSplit(ctx)
    }
  }

  private def buildLayers(ctx: Ctx, iters: Seq[IterStats]): Unit = {
    def med(k: String) = Layers.median(iters.flatMap(_.samples.getOrElse(k, Nil)))
    Seq("toks", "sigs", "cands", "shingles", "simhash", "fps", "bigrams", "shared").foreach { s =>
      ctx.layers(s"text.warm.${s}_s") = med(s"warm.$s.s")
      ctx.layers(s"text.warm.${s}_rows") = med(s"warm.$s.rows")
    }
    ctx.layers("snapshot.ckpt_mb") = med("ckpt_mb")
    ctx.layers("build.wall_s") = med("build_wall_s")
    Seq("probe_tables", "classifier", "bpe", "dsir").foreach(k =>
      ctx.layers(s"setup.${k}_s") = med(s"stage.setup.$k"))
    ctx.layers("ml.classifier_s") = med("stage.ml.classifier")
    ctx.layers("ml.bpe_s") = med("stage.ml.bpe")
    ctx.layers("vector.quantizer_s") = med("stage.vector.quantizer")
    ctx.layers("vector.semdedup_s") = med("stage.vector.semdedup")
    ctx.layers("vector.semdedup_dropped") = med("semdedup_dropped")
    ctx.layers("export.write_s") = med("stage.export")
    ctx.layers("export.rows") = Layers.median(iters.map(
      _.check("manifest").asInstanceOf[Seq[Map[String, Any]]].map(_("n_rows").asInstanceOf[Long]).sum.toDouble))
    ctx.layers("export.shards") = Layers.median(iters.map(
      _.check("manifest").asInstanceOf[Seq[Map[String, Any]]].size.toDouble))
  }

  /** The batch front door over each round's arrivals of the first measured
    * iteration, against the probe tables as that round saw them (the
    * initial tables plus the folds of earlier rounds), for the check that
    * the stream keeps what the batch gates keep where the cap does not
    * bind. Runs after the measured window. */
  private def batchFrontDoor(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var fps = spark.read.parquet(s"${probe0(ctx)}/fps")
    var bands = spark.read.parquet(s"${probe0(ctx)}/bands")
    for (r <- 0 until ctx.int("ig.rounds")) {
      EventStream.ingestFrontDoor(spark.read.parquet(arrivals(ctx, r)),
          art.copy(corpusFps = fps, corpusBands = bands))
        .select("doc_id", "source").write.parquet(s"${ctx.out}/ig-batchfd-r$r")
      val app = spark.read.parquet(s"${ctx.work}/ci-0/appended/r$r")
      fps = fps.unionByName(app.select(col("doc_id"),
        graft.ops.Fingerprint.col(col("text")).as("fp")))
      bands = bands.unionByName(app.select(col("doc_id"),
        posexplode(TextQueries.bandKeysCol(col("text"))).as(Seq("band", "bkey"))))
    }
  }

  /** Each public gate and annotator applied in batch to round 0's arrivals
    * against the initial probe tables: time per 1,000 arrivals (median of
    * three passes) and, for gates, rows out / rows in. */
  private def gateSplit(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val arr = spark.read.parquet(arrivals(ctx, 0)).localCheckpoint(true)
    val n = arr.count().toDouble
    val fps0 = spark.read.parquet(s"${probe0(ctx)}/fps")
    val bands0 = spark.read.parquet(s"${probe0(ctx)}/bands")
    val steps: Seq[(String, Boolean, () => DataFrame)] = Seq(
      ("gate.quality", true, () => EventStream.filterQualityAtIngest(arr)),
      ("gate.corpus_exact", true, () => EventStream.dedupAgainstCorpus(arr, fps0)),
      ("gate.near_dup", true, () => EventStream.nearDupGateAtIngest(arr, bands0)),
      ("annot.classifier", false, () => EventStream.scoreQualityAtIngest(arr, art.model)),
      ("annot.bpe", false, () => EventStream.encodeAtIngest(arr, art.merges)),
      ("annot.dsir", false, () => EventStream.scoreImportanceAtIngest(arr, art.bucketWeights)))
    steps.foreach { case (name, gate, df) =>
      val ms = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.rec.span(name)(df().write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e6
      }
      ctx.layers(s"${name}_ms") = Layers.median(ms) * 1000.0 / math.max(1.0, n)
      if (gate) ctx.layers(s"$name.admit_ratio") = df().count() / math.max(1.0, n)
    }
  }
}

/** Per-batch stream figures of the traced ingest run. */
object IngestLayers {
  val acc = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def record(progress: Seq[StreamingQueryProgress]): Unit = {
    progress.filter(_.numInputRows > 0).foreach { p =>
      def d(k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets").foreach(k => acc(k) += d(k))
      acc("state_commit") += p.stateOperators.map(_.commitTimeMs).sum.toDouble
      acc("batches") += 1
    }
    progress.lastOption.foreach(p => acc("state_rows") += p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    acc("empty") += progress.count(_.numInputRows == 0)
    acc("rounds") += 1
  }

  def finish(ctx: Ctx, iters: Seq[IterStats]): Unit = {
    val b = math.max(1.0, acc("batches"))
    val rounds = math.max(1.0, acc("rounds"))
    val n = math.max(1, iters.size)
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets").foreach(k =>
      ctx.layers(s"ingest.${k}_ms") = acc(k) / b)
    ctx.layers("ingest.state_commit_ms") = acc("state_commit") / b
    ctx.layers("ingest.state_rows") = acc("state_rows") / rounds
    ctx.layers("ingest.empty_batches") = acc("empty") / rounds
    ctx.layers("ingest.batch_p50_ms") = Layers.median(iters.flatMap(_.samples("batch_ms")))
    ctx.layers("ingest.docs_per_s") =
      iters.map(_.samples("items").sum).sum / iters.map(_.samples("drain_wall_s").sum).sum
    val audits = iters.flatMap(_.check("rounds").asInstanceOf[Seq[Map[String, Any]]])
      .map(_("audit").asInstanceOf[Map[String, Long]])
    val arrived = iters.map(_.samples("items").sum).sum
    val landed = audits.map(_("n_arrivals")).sum.toDouble
    ctx.layers("sink.landed_rows") = landed / n
    ctx.layers("sink.admit_ratio") = landed / math.max(1.0, arrived)
    ctx.layers("fold.compact_s") = Layers.median(iters.flatMap(_.samples("fold_wall_s")))
    ctx.layers("fold.appended_rows") = audits.map(_("n_appended")).sum.toDouble / math.max(1, audits.size)
    ctx.layers("fold.probe_fps_rows") = acc("probe_fps_rows") / n
    ctx.layers("fold.probe_bands_rows") = acc("probe_bands_rows") / n
  }
}
