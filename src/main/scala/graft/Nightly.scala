package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The nightly training-data runbook — every stage of the pipeline, in
  * dependency order, landed as real artifacts under one output dir,
  * with the integrity audit as the exit gate. This is the "a user of
  * the reference switches to this library" path made executable: a
  * fresh JVM composes from the persisted DerivedCache artifacts (or
  * builds them once on the first-ever night), so night N+1 pays serve
  * cost, not derive cost.
  *
  * Usage: runMain graft.Nightly <corpusDir> <outDir> [warcCrawlDir]
  *
  * With a third argument the CRAWL tier runs first: the WARC dir's
  * link-edge / host-rank / trust-rank / trap-verdict artifacts land
  * (or serve) through DerivedCache — so night N+1's crawl pays serve
  * cost — and the night's frontier + refetch manifests land under
  * `outDir/crawl/` for the next crawl cadence.
  *
  * Layout written:
  *   outDir/curated/        curated corpus, split-partitioned
  *   outDir/training_set/   budget-selected docs, split-partitioned
  *   outDir/shards/         packed token-ID bins, in-band EOS separators
  *   outDir/bounds/         q145 attention-boundary sidecar
  *   outDir/plan/           q136 epoch plan (per-source grants)
  *   outDir/manifest/       q139 per-(source, epoch) shard manifests
  *   outDir/order/          q142 per-epoch training order
  *   outDir/anneal_plan/    q149 annealed schedule (per-epoch grants)
  *   outDir/anneal_manifest/ q153 realized annealed manifests
  *   outDir/source_stats/   per-source stats (decomposes the grants)
  *   outDir/crawl/          (with warcCrawlDir) trap_verdicts,
  *                          frontier, refetch_queue, due_queue
  *                          manifests
  *   outDir/report.json     per-stage seconds + row counts + audit result
  *
  * Exit code 1 if the landed-shard audit reports violations — a nightly
  * must never hand the trainer an internally inconsistent export.
  */
object Nightly {
  /** The `health/` stage's table set — the audit family, one parquet
    * dir per query under `outDir/health/`.
    */
  val HealthQueries: Seq[String] = Seq(
    "q97_corpus_report", "q155_length_ks_drift", "q157_semantic_outliers",
    "q158_window_length_drift", "q160_source_overlap",
    "q162_nb_calibration", "q164_filter_funnel",
    // the gate-threshold operating curve and the resample-restoration
    // residual — both bounded rollups over the landed nb_scores_v1 /
    // funnel_stack_v2 artifacts
    "q169_nb_threshold_sweep", "q168_resample_audit",
    // markup residue left past the ingest front-end's HTML extraction
    // — nonzero means the funnel/LM/BPE operators are scoring tags
    "q171_markup_residue")

  def main(args: Array[String]): Unit = {
    val (corpus, out, crawl) = args match {
      case Array(c, o)    => (c, o, None)
      case Array(c, o, w) => (c, o, Some(w))
    }
    val spark = Run.session(Run.cores)
    val report = run(spark, corpus, out, crawl)
    println(report)
    spark.stop()
    if (!report.contains("\"audit_violations\":0")) sys.exit(1)
  }

  /** The stage sequence, returning the JSON report it also writes.
    * `crawl` (optional) points at a WARC crawl directory: the crawl
    * tier then runs FIRST — link edges → host/trust ranks → trap
    * verdicts land as DerivedCache artifacts (night N+1 pays serve
    * cost; the report's `crawl_artifacts` freshness rows prove it),
    * and the night's frontier + refetch manifests land under
    * `outDir/crawl/` for the next crawl cadence to consume.
    */
  def run(spark: SparkSession, corpus: String, out: String,
          crawl: Option[String] = None): String = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    def stage(name: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val n = body
      stages += ((name, (System.nanoTime() - t0) / 1e9, n))
      n
    }
    import operators.{Curation, Prep, WebGraph}

    crawl.foreach { cd =>
      stage("crawl_edges") {
        WebGraph.crawlLinkEdgesTable(spark, cd).count()
      }
      stage("crawl_ranks") {
        WebGraph.crawlHostRankTable(spark, cd).count() +
          WebGraph.crawlTrustRankTable(spark, cd).count()
      }
      stage("crawl_traps") {
        WebGraph.crawlTrapVerdictsTable(spark, cd)
          .write.mode("overwrite").parquet(s"$out/crawl/trap_verdicts")
        spark.read.parquet(s"$out/crawl/trap_verdicts").count()
      }
      stage("crawl_health") {
        // host health + Retry-After manifests: the circuit breaker
        // and the politeness windows the next cadence's frontier
        // composes into per-host caps (the frontier manifest below
        // already consumes both)
        WebGraph.crawlHealthTable(spark, cd)
          .write.mode("overwrite").parquet(s"$out/crawl/health")
        WebGraph.crawlBackoffTable(spark, cd)
          .write.mode("overwrite").parquet(s"$out/crawl/backoff")
        spark.read.parquet(s"$out/crawl/health").count()
      }
      stage("crawl_aliases") {
        // the unified alias-resolution manifest (301 chains +
        // rel=canonical, conflict policy applied): the `aliases`
        // frame the next cadence's frontier doors consume — landed
        // beside the frontier that itself collapses through it
        WebGraph.crawlAliasTable(spark, cd)
          .write.mode("overwrite").parquet(s"$out/crawl/aliases")
        spark.read.parquet(s"$out/crawl/aliases").count()
      }
      stage("crawl_frontier") {
        // the next cadence's fetch list: batch frontier over the
        // landed corpus — robots-gated, trap-capped via the verdict
        // artifact (the q191 composition) — SERVED from the
        // crawl_frontier_v3 artifact, so an unchanged corpus pays no
        // gunzip+parse on night N+1; the night's copy lands in outDir
        WebGraph.crawlFrontierTable(spark, cd)
          .write.mode("overwrite").parquet(s"$out/crawl/frontier")
        spark.read.parquet(s"$out/crawl/frontier").count()
      }
      stage("crawl_refetch") {
        // the recrawl manifest: q196's due pricing over the real
        // capture history — same serve-or-build lifecycle
        WebGraph.crawlRefetchQueueTable(spark, cd)
          .write.mode("overwrite").parquet(s"$out/crawl/refetch_queue")
        spark.read.parquet(s"$out/crawl/refetch_queue").count()
      }
      stage("crawl_due") {
        // the night's actionable work list: q198 over the real corpus
        // — interval channel at the snapshot's as-of, lastmod channel
        // from the sitemap hints the crawl actually captured
        WebGraph.crawlDueQueueTable(spark, cd)
          .write.mode("overwrite").parquet(s"$out/crawl/due_queue")
        spark.read.parquet(s"$out/crawl/due_queue").count()
      }
      stage("crawl_fetch_plan") {
        // the composed revalidation plan (q205): the due queue joined
        // with each page's newest captured validators — WHEN + HOW,
        // the table a recrawler drains
        WebGraph.crawlFetchPlanTable(spark, cd)
          .write.mode("overwrite").parquet(s"$out/crawl/fetch_plan")
        spark.read.parquet(s"$out/crawl/fetch_plan").count()
      }
    }

    stage("curate") {
      Curation.exportCurated(spark, corpus, s"$out/curated")
      spark.read.parquet(s"$out/curated").count()
    }
    stage("training_set") {
      Curation.exportTrainingSet(spark, corpus, s"$out/training_set")
      spark.read.parquet(s"$out/training_set").count()
    }
    stage("shards") {
      Curation.exportPackedTokenIdsSep(spark, corpus, s"$out/shards")
      spark.read.parquet(s"$out/shards").count()
    }
    stage("bounds") {
      Curation.packBoundaryRows(
          Curation.trainingSetVerdict(spark, corpus)
            .filter(col("keep") === 1L).select("doc_id"), spark, corpus)
        .write.mode("overwrite").parquet(s"$out/bounds")
      spark.read.parquet(s"$out/bounds").count()
    }
    stage("epoch_plan") {
      SparkEntry.queries("q136_epoch_plan")(spark, corpus)
        .write.mode("overwrite").parquet(s"$out/plan")
      spark.read.parquet(s"$out/plan").count()
    }
    stage("manifest") {
      SparkEntry.queries("q139_epoch_plan_execute")(spark, corpus)
        .write.mode("overwrite").parquet(s"$out/manifest")
      spark.read.parquet(s"$out/manifest").count()
    }
    stage("anneal") {
      // the annealed chain lands beside the static one: schedule,
      // realized manifests, and the source-stats table that decomposes
      // each grant (the audit reads all three from landed bytes)
      SparkEntry.queries("q149_anneal_schedule")(spark, corpus)
        .write.mode("overwrite").parquet(s"$out/anneal_plan")
      SparkEntry.queries("q153_anneal_execute")(spark, corpus)
        .write.mode("overwrite").parquet(s"$out/anneal_manifest")
      Prep.sourceStats(spark, corpus)
        .write.mode("overwrite").parquet(s"$out/source_stats")
      spark.read.parquet(s"$out/anneal_manifest").count()
    }
    stage("training_order") {
      SparkEntry.queries("q142_training_order")(spark, corpus)
        .write.mode("overwrite").parquet(s"$out/order")
      spark.read.parquet(s"$out/order").count()
    }
    stage("health") {
      // the morning read: every audit-family table an operator checks
      // before trusting the night's export — length-KS drift per source,
      // dedup yield, semantic outliers, window drift, the cross-source
      // duplication matrix, the quality gate's calibration, and the
      // q164 per-source filter-funnel survival table. All compose over
      // persisted artifacts (per-source stats, cluster labels, NB
      // counts, funnel_stack_v1), so a steady-state night costs
      // bounded rollups — the exceptions that re-pay corpus-sized work
      // when their artifact is stale after an append are q162 (the NB
      // rescore probe) and q164's funnel rescore pass, both ONE pass
      // over model layers that refresh incrementally. Reference
      // analogue: the dashboard endpoint as the one observability
      // surface (main.py:133-173).
      HealthQueries.map { q =>
        SparkEntry.queries(q)(spark, corpus)
          .write.mode("overwrite").parquet(s"$out/health/$q")
        spark.read.parquet(s"$out/health/$q").count()
      }.sum
    }
    // two landed-bytes reconciliations gate the night: the shard/
    // boundary audit and the plan/manifest/order audit — a nightly must
    // never hand the trainer an internally inconsistent export OR an
    // epoch stream that disagrees with its own manifests
    val violations = stage("audit") {
      Curation.auditPackedIdsExport(
          spark, s"$out/shards", Some(s"$out/bounds"),
          Some(Curation.EosId))
        .count() +
      operators.Prep.auditTrainingOrder(
          spark, s"$out/plan", s"$out/manifest", s"$out/order")
        .count() +
      operators.Prep.auditAnnealExecute(
          spark, s"$out/anneal_plan", s"$out/anneal_manifest",
          s"$out/source_stats")
        .count()
    }

    val body = stages.map { case (n, sec, rows) =>
      f"""{"stage":"$n","sec":$sec%.3f,"rows":$rows}"""
    }.mkString("[", ",", "]")
    // the DerivedCache freshness table rides the report: an operator
    // reads which artifacts will SERVE vs REBUILD on the next run —
    // the derive bill is visible before it is paid. After a clean
    // night every stage-backing artifact is fresh by construction; a
    // stale row here means the corpus moved under the run.
    // crawl-tier artifact freshness rides the report beside the
    // corpus-tier rows: night N+1's crawl serve-vs-rebuild bill is
    // visible before it is paid
    val crawlArtifacts = crawl
      .map(cd => s""""crawl_artifacts":${artifactStatusJson(spark, cd)},""")
      .getOrElse("")
    val report =
      s"""{"corpus":"$corpus","stages":$body,""" +
        s""""artifacts":${artifactStatusJson(spark, corpus)},""" +
        crawlArtifacts +
        s""""audit_violations":$violations}"""
    // through the Hadoop FS like every other artifact — the runbook's
    // outDir may be shared storage, not the driver's local disk
    val p = new org.apache.hadoop.fs.Path(s"$out/report.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write((report + "\n").getBytes("UTF-8")) finally os.close()
    report
  }

  /** [[operators.DerivedCache.status]] rendered as the report's
    * `artifacts` JSON array — strictly read-only (never triggers a
    * build), one row per landed artifact with its freshness, file
    * count, and byte size.
    */
  def artifactStatusJson(spark: SparkSession, corpus: String): String =
    operators.DerivedCache.status(spark, corpus).collect()
      .map { r =>
        s"""{"artifact":"${r.getString(0)}","fresh":${r.getBoolean(1)},""" +
          s""""n_files":${r.getLong(2)},"bytes":${r.getLong(3)}}"""
      }.mkString("[", ",", "]")
}
