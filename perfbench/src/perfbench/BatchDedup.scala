package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.DedupPipeline

/** `batch_dedup`: `DedupPipeline.run(fromHtml = true)` over the `CorpusGen`
  * corpus, written as (url, doc_id, cluster_id) parquet — what `DedupJob`
  * does. Set-up stages the corpus; each step is one whole pipeline run.
  */
object BatchDedup {

  /** The corpus at `sf` (content fixed by CorpusGen's seed 42), its row
    * order — and so its file and partition layout — drawn from `seed`. */
  def stageCorpus(spark: SparkSession, sf: Double, seed: Long, path: String): Unit = {
    val key = xxhash64(col("url"), lit(seed))
    graft.corpus.CorpusGen.generate(spark, sf, seed = 42L)
      .repartition(spark.sparkContext.defaultParallelism, key)
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val corpus = c.path("corpus")
    val t0 = System.nanoTime()
    val setups = (0 until c.args.int("setup_reps")).map { _ =>
      val s0 = System.nanoTime()
      stageCorpus(spark, c.args.double("sf"), c.args.seed, corpus)
      (System.nanoTime() - s0) / 1e9
    }
    c.out.put("setup_s", setups, into = "setup")
    // one untimed run warms JIT and codegen, so the timed steps start warm
    c.op("warmup", "pipeline")(pipeline(spark, corpus, c.path("out/warm")))
    c.kernelTexts(spark.read.parquet(corpus).select("text"))
    JvmStats.reset()
    val start = System.nanoTime()
    c.out.put("setup_wall_s", (start - t0) / 1e9)
    c.rounds(start) { r =>
      if (c.args.trace && r % 2 == 1) c.op("traced_step", "pipeline")(traced(c, corpus))
      else c.op("step", "pipeline")(pipeline(spark, corpus, c.path("out/batch")))
    }
    if (c.args.trace && !c.tracer.spans.exists(_.name == "pipeline.run")) {
      c.round += 1
      c.op("traced_step", "pipeline")(traced(c, corpus))
    }
    c.out.put("measure_s", (System.nanoTime() - start) / 1e9)
    if (c.args.trace) {
      Seq("extract", "signatures", "audit", "exact", "bands", "candidates", "verify", "assign")
        .foreach(s => c.spanMetrics(s"pipeline.$s"))
      c.spanMetrics("cluster.cc")
      c.layerSelfTimes()
    }
  }

  private def pipeline(spark: SparkSession, in: String, out: String): Unit =
    new DedupPipeline(spark).run(spark.read.parquet(in), fromHtml = true)
      .write.mode("overwrite").parquet(out)

  /** The same computation as `DedupPipeline.run`, composed from its public
    * stage functions, each materialized inside its own span so the layer
    * gets its own time, task time, shuffle volume and skew, plus the
    * candidate funnel counts. */
  private def traced(c: Ctx, corpus: String): Unit = {
    val spark = c.spark
    val t = c.tracer
    t.round = c.round
    val cfg = graft.kernel.GraftConfig.default
    val pipe = new DedupPipeline(spark, cfg)
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keepUntraced(d: DataFrame): (DataFrame, Long) = {
      held += d
      (d, c.materialize(d))
    }
    def keep(name: String)(df: => DataFrame): (DataFrame, Long) = t.span(name)(keepUntraced(df))
    try {
      val (edges, comps) = t.span("pipeline.run") {
        val (docs, _) = keep("pipeline.extract")(
          pipe.extractStage(spark.read.parquet(corpus), fromHtml = true))
        val (sigsRaw, _) = keep("pipeline.signatures")(pipe.signatureStage(docs).toDF())
        val (sigs0, _) = keep("pipeline.audit")(pipe.resolveIdCollisions(sigsRaw, urlUnique = true))
        val ((reps, nReps), (exactEdges, _)) = t.span("pipeline.exact") {
          val r = keepUntraced(pipe.exactGroups(sigs0)._1)
          (r, keepUntraced(pipe.exactGroups(sigs0, Some(r._1))._2))
        }
        val (bands, nPostings) = keep("pipeline.bands")(pipe.repBandTable(sigs0, Some(reps)))
        val (cands, nCands) = keep("pipeline.candidates")(
          pipe.candidateStage(bands, cfg.bandMatchesRequired))
        val (verified, nVerified) = keep("pipeline.verify")(
          pipe.verifyStage(cands, sigs0.where(col("hashable"))))
        val edges = exactEdges.select("src", "dst")
          .unionByName(verified.select(col("a").as("src"), col("b").as("dst")))
        val (comps, _) = keep("cluster.cc")(graft.cluster.ConnectedComponents.run(edges))
        keep("pipeline.assign")(sigs0.select("url", "doc_id")
          .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
          .select("url", "doc_id", "cluster_id"))
        c.out.put("pipeline.exact_reps", nReps.toDouble)
        c.out.put("pipeline.band_postings", nPostings.toDouble)
        c.out.put("pipeline.candidate_pairs", nCands.toDouble)
        c.out.put("pipeline.verified_pairs", nVerified.toDouble)
        c.out.put("pipeline.verify_yield", nVerified.toDouble / math.max(1L, nCands))
        (edges, comps)
      }
      c.out.put("cluster.edges_in", edges.count().toDouble)
      c.out.put("cluster.components", comps.select("component").distinct().count().toDouble)
    } finally held.foreach(_.unpersist())
  }
}
