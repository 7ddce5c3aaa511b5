package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.DedupJob
import graft.pipeline.{DedupPipeline, PipelineOptions}

/** `incremental_probe`: a fixed sequence of new-doc batches goes through
  * `DedupJob.runIncremental` against the index persisted at set-up. The
  * corpus is split by a seeded hash of url into a base set and the batches;
  * set-up stages the corpus, splits it and builds the base index. Each round
  * restores a fresh copy of that index and runs every batch in order, so
  * with `--compact-every` at most the batch count every round folds deltas.
  * One step is one batch. There is no warm-up batch: set-up has already run
  * the pipeline once (the index build).
  */
object IncrementalProbe {

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val nBatches = c.args.int("batches")
    val perMille = c.args.int("batch_per_mille")
    val base = c.path("base")
    val index = c.path("index")
    val pristine = c.path("index0")
    def batch(k: Int) = c.path(s"batches/b$k")

    val t0 = System.nanoTime()
    val setups = (0 until c.args.int("setup_reps")).map { _ =>
      val s0 = System.nanoTime()
      BatchDedup.stageCorpus(spark, c.args.double("sf"), c.args.seed, c.path("corpus"))
      val corpus = spark.read.parquet(c.path("corpus"))
      // slot in [0, 1000): batch k takes slots [k·perMille, (k+1)·perMille)
      val slot = pmod(xxhash64(col("url"), lit(c.args.seed + 1)), lit(1000))
      corpus.where(slot >= nBatches * perMille).write.mode("overwrite").parquet(base)
      for (k <- 0 until nBatches)
        corpus.where(slot >= k * perMille && slot < (k + 1) * perMille)
          .write.mode("overwrite").parquet(batch(k))
      delete(index)
      buildIndex(spark, base, index)
      (System.nanoTime() - s0) / 1e9
    }
    c.out.put("setup_s", setups, into = "setup")
    copyDir(index, pristine)
    writeIds(c)

    c.kernelTexts(spark.read.parquet(batch(0)).select("text"))
    JvmStats.reset()
    val start = System.nanoTime()
    c.out.put("setup_wall_s", (start - t0) / 1e9)
    var traced = 0
    c.rounds(start) { r =>
      val tracedRound = c.args.trace && r % 2 == 1
      delete(index)
      copyDir(pristine, index)
      for (k <- 0 until nBatches) {
        if (tracedRound) c.op("traced_step", s"b$k")(tracedBatch(c, base, batch(k), k))
        else c.op("step", s"b$k")(step(spark, c, base, batch(k), index, c.path(s"out/inc/b$k")))
      }
      if (tracedRound) traced += 1
    }
    c.out.put("storage.index_mb", dirMb(index))
    if (c.args.trace && traced == 0) {
      c.round += 1
      for (k <- 0 until nBatches)
        c.op("traced_step", s"b$k")(tracedBatch(c, base, batch(k), k))
    }
    c.out.put("measure_s", (System.nanoTime() - start) / 1e9)
    if (c.args.trace) {
      Seq("index_read", "sweep", "sign", "probe").foreach(s =>
        c.spanMetrics(s"incremental.$s"))
      c.spanMetrics("storage.delta_write")
      // the parquet a batch's probe reads from the set-up index: its base
      // signature and band tables (Spark's task input metric misses most
      // of these reads on the local file system)
      c.out.put("incremental.index_read_mb", new java.io.File(pristine).listFiles()
        .filter(_.getName.startsWith("dedup_")).map(d => dirMb(d.getPath, ".parquet")).sum)
      c.layerSelfTimes()
    }
  }

  private def step(spark: SparkSession, c: Ctx, base: String, batch: String, index: String,
      out: String): Unit =
    DedupJob.runIncremental(spark, DedupJob.Args(input = base, output = out,
      checkpoint = Some(index), incremental = Some(batch),
      compactEvery = c.args.int("compact_every")))

  /** The base index exactly as `runIncremental` builds it on first use. */
  private def buildIndex(spark: SparkSession, base: String, index: String): Unit = {
    val cfg = graft.kernel.GraftConfig.default
    val ledger = new graft.ledger.Ledger(spark, index, cfg.configHash)
    graft.ops.MaintenanceOps.buildOrLoadDedupIndex(spark, spark.read.parquet(base), ledger,
      corpusTag = base, cfg, PipelineOptions(), fromHtml = true)
  }

  /** One batch against the set-up index, composed from the public layer
    * calls `runIncremental` makes on a state with no deltas yet: index read,
    * new-url sweep, signing, probe (pairs written), and the signature and
    * band deltas written through the table store. Each call is a span. */
  private def tracedBatch(c: Ctx, base: String, batchPath: String, k: Int): Unit = {
    val spark = c.spark
    val t = c.tracer
    t.round = c.round
    val cfg = graft.kernel.GraftConfig.default
    val pipe = new DedupPipeline(spark, cfg)
    val store = graft.storage.TableStore.parquet
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(d: DataFrame): DataFrame = { held += d; c.materialize(d); d }
    try t.span("incremental.batch") {
      val (oldSigs, oldBands) = t.span("incremental.index_read") {
        val ledger = new graft.ledger.Ledger(spark, c.path("index0"), cfg.configHash)
        val (s, b) = graft.ops.MaintenanceOps.buildOrLoadDedupIndex(spark,
          throw new IllegalStateException("set-up index missing"), ledger,
          corpusTag = base, cfg, PipelineOptions(), fromHtml = true)
        (keep(s), keep(b))
      }
      val fresh = t.span("incremental.sweep")(keep(graft.ops.MaintenanceOps.newDocs(
        pipe.extractStage(spark.read.parquet(batchPath), fromHtml = true), oldSigs)))
      val newSigs = t.span("incremental.sign")(keep(pipe.signatureStage(fresh).toDF()))
      val pairs = t.span("incremental.probe") {
        val p = pipe.probeDupPairs(oldSigs, newSigs, Some(oldBands))
        p.write.mode("overwrite").parquet(c.path(s"out/traced/b$k"))
        spark.read.parquet(c.path(s"out/traced/b$k")).count()
      }
      t.span("storage.delta_write") {
        store.write(newSigs, c.path(s"traced_delta/b$k/sigs"))
        store.write(pipe.repBandTable(newSigs), c.path(s"traced_delta/b$k/bands"))
      }
      c.out.put(s"b$k", pairs.toDouble, into = "batch_pairs")
      c.out.put(s"b$k", dirMb(c.path(s"traced_delta/b$k")), into = "delta_mb")
    } finally held.foreach(_.unpersist())
  }

  /** (url, doc_id) of every corpus doc, so the checks can map output pairs
    * back to urls and gold labels. The id depends on the url alone. */
  private def writeIds(c: Ctx): Unit = {
    import c.spark.implicits._
    c.spark.read.parquet(c.path("corpus")).select("url").as[String]
      .mapPartitions { it =>
        val k = new graft.pipeline.DocSig.Kernel(graft.kernel.GraftConfig.default)
        it.map(u => (u, k.compute(u, "").doc_id))
      }.toDF("url", "doc_id").write.mode("overwrite").parquet(c.path("ids"))
  }

  private def files(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (f.isDirectory) f.listFiles().toSeq.flatMap(x => files(x.getPath))
    else if (f.exists) Seq(f) else Nil
  }

  def dirMb(dir: String, suffix: String = ""): Double =
    files(dir).filter(_.getName.endsWith(suffix)).map(_.length).sum / (1024.0 * 1024.0)

  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.delete(x))
  }

  def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }
}
