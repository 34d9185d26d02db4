package graft.operators

import graft.{Memo, Q, Tables}
import graft.functions.Compress.deflate_ratio
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-run preparation operators — the last mile between a curated
  * corpus and a tokenized training shard: sequence packing, context-window
  * chunking, n-gram language-model scoring (perplexity filtering),
  * per-source distribution-drift audits, compressibility quality flags,
  * and PII detection/redaction. Extension surface beyond the reference
  * (which stops at per-row scoring, src/ingestion.py:21-38); these are the
  * operations a 100 TB pretraining pipeline runs AFTER curation and
  * BEFORE the tokenizer.
  *
  * Scale notes: everything here is linear in token count — array
  * higher-order functions inside codegen for per-doc work, hash shuffles
  * on bounded keys ((term), (term_a, term_b), (source)) for the corpus
  * statistics, broadcast for scalars only. No operator materializes
  * per-pair or per-vocabulary state on the driver.
  */
object Prep {
  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.Prep")

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def tokens(c: Column): Column = split(c, " ")

  /** The q87 deterministic-membership uniform: the key's 24-bit md5
    * prefix as an exact dyadic fraction in [0, 1) — integer / 2^24 is
    * exactly representable, so membership tests are bit-identical to
    * the oracle's digit-fold spelling of the same integer on any
    * engine. The exact spelling is LOAD-BEARING for stream==batch and
    * Spark==DuckDB equality; every membership site (epoch sampling,
    * plan execution, the funnel resample and its thinner, the crawl
    * frontier) must use THIS helper, never a re-spelling.
    */
  private[operators] def u01(key: Column): Column =
    conv(substring(md5(key), 1, 6), 16, 10).cast("double") /
      lit(16777216.0)
  private def spread(df: DataFrame): DataFrame = TrainingData.spread(df)

  /** GPT-style packing budget (tokens per training sequence). */
  val PackBudget = 512L

  /** q108 two-phase packing: docs per doc_id bucket. Each packing task
    * sees at most this many rows; the bucket-offset table is corpus/width
    * sized (tiny rows), the only place a per-shard sequential pass
    * remains. At production scale widen to ~1M docs/bucket.
    */
  val PackBucketWidth = 64L

  /** DSIR hashed-n-gram feature space (bucket count). 1024 here; the
    * paper's production setting is 2^20 — the score artifact stays
    * bounded by B either way.
    */
  val DsirB = 1024

  /** unigrams ++ bigrams of a token array as ONE array projection —
    * concat of a null-padded neighbor nulls the bigram, so tail
    * positions drop and the projection stays token-linear (shared by
    * the q117 batch scorer and the streaming ingest scorer, which MUST
    * featurize identically).
    */
  private[operators] def gramArray(tok: Column): Column =
    concat(
      tok,
      filter(
        zip_with(tok, slice(tok, lit(2), greatest(size(tok) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
        g => g.isNotNull))

  /** Feature bucket of a gram: first 6 md5 hex digits mod B — the same
    * spelling DuckDB evaluates in the q117 oracle.
    */
  private[operators] def dsirBucket(g: Column): Column =
    conv(substring(md5(g.cast("binary")), 1, 6), 16, 10).cast("long") % DsirB
  /** Context-window chunking geometry: window, stride (overlap = 16). */
  val ChunkLen = 64L
  val ChunkStride = 48L

  /** Minimum duplicated-run width (tokens) for exact-substring dedup
    * (q130) — the token-granularity analogue of Lee et al.'s 50-byte
    * ExactSubstr threshold.
    */
  val SubstrG = 20L

  // PII patterns — RE2-compatible (no backtracking constructs) so the
  // exact same strings run under Java regex and the DuckDB oracle.
  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePat = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Pat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Per-(event-time window, source, term) counts — the shared core of
    * the batch drift audit (q124) and the streaming monitor
    * [[driftTermCountsStream]]: one projection + explode + one windowed
    * aggregate with map-side partials. Input needs (ts, source, text).
    */
  def windowedTermCounts(frame: DataFrame, windowDur: String): DataFrame =
    frame
      .filter(col("source").isNotNull)
      .select(col("ts"), col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(window(col("ts"), windowDur), col("source"), col("term"))
      .agg(count(lit(1)).cast("long").as("n_wt"))
      .select((unix_micros(col("window.start")) / 1000L).cast("long").as("win_ms"),
              col("source"), col("term"), col("n_wt"))

  /** STREAMING drift core: [[windowedTermCounts]] under a watermark —
    * append mode emits a (window, source, term) count row exactly once,
    * when the watermark closes its window; state is bounded by the live
    * windows' vocabularies. Pair with [[driftReport]] per closed batch
    * (foreachBatch) for the in-stream KL monitor; DriftStreamSpec pins
    * stream counts == batch counts and report parity with q124.
    */
  def driftTermCountsStream(stream: DataFrame, windowDur: String,
                            watermarkDelay: String): DataFrame =
    windowedTermCounts(stream.withWatermark("ts", watermarkDelay), windowDur)

  /** Per-(event-time window, source) corpus statistics the epoch planner
    * consumes: doc count, the scaled-int mean quality (bit-identical to
    * [[mixtureWeightsCore]]'s convention — round(q*1e4) per doc, integer
    * mean, /1e4), and available tokens. One doc-level pass — projection
    * + one windowed aggregate with map-side partials; batch or stream
    * (stream callers go through [[windowedSourceStatsStream]] for the
    * watermark).
    */
  def windowedSourceStats(frame: DataFrame, windowDur: String): DataFrame =
    finalizeWinStats(windowedSourcePartialsOf(frame, windowDur))

  /** The ADDITIVE layer under [[windowedSourceStats]]: per (win_ms,
    * source), integer quality sum + doc count + token sum — a
    * commutative monoid over corpus files, which is what makes the
    * windowed stats append-incremental ([[winQualityParts]]).
    */
  private def windowedSourcePartialsOf(frame: DataFrame,
                                       windowDur: String): DataFrame = {
    val stopArr = array(TrainingData.enStop.map(lit): _*)
    val tok = split(col("text"), " ")
    val quality = round(least(lit(1.0), size(tok) / lit(64.0)) *
      (lit(0.5) +
        size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
          size(tok)), 4)
    frame
      .filter(col("source").isNotNull)
      .select(col("ts"), col("source"), quality.as("q"),
              size(tok).cast("long").as("nt"))
      .groupBy(window(col("ts"), windowDur), col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
           sum(round(col("q") * 10000, 0).cast("long")).as("qs"),
           sum("nt").cast("long").as("avail_tokens"))
      .select((unix_micros(col("window.start")) / 1000L).cast("long").as("win_ms"),
              col("source"), col("n_docs"), col("qs"), col("avail_tokens"))
  }

  /** The finalize over landed partials — same expression tree whether
    * the longs came from one pass or an incremental merge.
    */
  private def finalizeWinStats(parts: DataFrame): DataFrame =
    parts.select(col("win_ms"), col("source"), col("n_docs"),
                 (floor(col("qs") / col("n_docs") + lit(0.5)) / lit(10000.0))
                   .as("mean_quality"),
                 col("avail_tokens"))

  /** [[windowedSourceStats]] under a watermark — append mode emits each
    * closed (window, source) stats row exactly once (the
    * [[driftTermCountsStream]] contract; state is bounded by live
    * windows x sources).
    */
  def windowedSourceStatsStream(stream: DataFrame, windowDur: String,
                                watermarkDelay: String): DataFrame =
    windowedSourceStats(stream.withWatermark("ts", watermarkDelay), windowDur)

  /** KL drift of each (window, source) slice against the CORPUS
    * reference distribution (add-one smoothed over the corpus
    * vocabulary, the DSIR convention — a window term the corpus has
    * never seen carries the smoothed floor instead of an infinity).
    * Batch over any windowed-count frame — the second stage of the
    * streaming monitor and the body of q124. Scale shape mirrors q112:
    * per-slice totals derive from the count table (no second pass), the
    * vocabulary-sized reference joins on the shuffle path (never
    * broadcast), only the 1-row corpus scalars broadcast, and per-term
    * contributions round half-up to 1e-8-scaled BIGINTs before the
    * per-slice sum so reducer order cannot move the result.
    */
  def driftReport(counts: DataFrame, s: SparkSession, d: String): DataFrame =
    driftReportAgainst(counts,
      docs(s, d)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).cast("long").as("n_t")))

  /** [[driftReport]] against an explicit corpus reference `(term, n_t)`
    * — the append-incremental path derives the reference from the
    * persisted source-term-count artifact instead of a corpus pass
    * (sum over sources of n_st == the direct count, exactly).
    */
  def driftReportAgainst(counts: DataFrame, ref: DataFrame): DataFrame = {
    val tot = ref.agg(sum("n_t").as("n"), count(lit(1)).as("v"))
    val bySlice = counts.groupBy("win_ms", "source")
      .agg(sum("n_wt").as("n_ws"))
    val p = col("n_wt").cast("double") / col("n_ws")
    val q = (coalesce(col("n_t"), lit(0L)) + lit(1L)).cast("double") /
      (col("n") + col("v")).cast("double")
    counts
      .join(bySlice, Seq("win_ms", "source"))
      .join(ref.hint("shuffle_hash"), Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("win_ms"), col("source"),
              floor(p * log(p / q) * 100000000 + 0.5).cast("long").as("c"))
      .groupBy("win_ms", "source")
      .agg(count(lit(1)).cast("long").as("n_terms"),
           round(sum("c") / lit(100000000.0), 4).as("kl"))
  }

  /** Windowed (win_ms, source, bit-length-bin) doc counts — the
    * counting core of the length-drift monitor (q158), batch or stream
    * (stream callers go through [[lengthBinCountsStream]] for the
    * watermark). The bin is `length(bin(n_chars))` — integer
    * bit-length, exact in both engines (the q155 convention). State
    * under a watermark is bounded by live windows x sources x ~64 bins.
    */
  def windowedLengthBins(frame: DataFrame, windowDur: String): DataFrame =
    frame
      // ts too (the q83/q112 canonicalization recipe): the drift
      // report probes this table on (win_ms, source, b), the join
      // infers isnotnull(win_ms) -> isnotnull(ts) into the PROBE
      // branch only, and the forked scan filter would split that
      // branch off the shared counting exchange (a second corpus
      // pass). A null-ts doc has no window, so the filter is the
      // aggregation's own semantics made explicit.
      .filter(col("ts").isNotNull && col("source").isNotNull)
      .select(col("ts"), col("source"),
              length(bin(greatest(col("n_chars"), lit(1))))
                .cast("long").as("b"))
      .groupBy(window(col("ts"), windowDur), col("source"), col("b"))
      .agg(count(lit(1)).cast("long").as("n_wb"))
      .select((unix_micros(col("window.start")) / 1000L).cast("long")
                .as("win_ms"),
              col("source"), col("b"), col("n_wb"))
      // win_ms is non-null by construction (ts filtered above), but
      // the drift report's probe join INFERS isnotnull(win_ms) into
      // its branch alone — an extra scan-level conjunct that forks the
      // branch off the shared counting exchange. Asserting it here
      // puts the identical conjunct under EVERY consumer, so all of
      // them stay canonically equal (zero rows change).
      .filter(col("win_ms").isNotNull)

  /** [[windowedLengthBins]] under a watermark — append mode emits each
    * closed (window, source, bin) count exactly once (the
    * [[driftTermCountsStream]] contract).
    */
  def lengthBinCountsStream(stream: DataFrame, windowDur: String,
                            watermarkDelay: String): DataFrame =
    windowedLengthBins(stream.withWatermark("ts", watermarkDelay), windowDur)

  /** KS drift of each (window, source) slice's length distribution
    * against a corpus reference `(b, cc)` — q155's statistic made
    * CONTINUOUS, the second stage of the streaming length monitor and
    * the body of q158. The evaluation grid is the UNION of reference
    * and slice bins, so a streamed arrival longer than anything the
    * corpus has seen still contributes its sup-gap instead of being
    * silently clipped to the reference support. All cumulative counts
    * are exact integers; only the final bounded max touches doubles
    * (q101 half-up rounding). Scale shape: the counts table is
    * (windows x sources x ~64 bins)-bounded BY CONSTRUCTION — every
    * join/window here runs on bounded tables; the corpus-sized work
    * happened upstream in the one counting pass.
    */
  def lengthDriftReport(wb: DataFrame, ref: DataFrame): DataFrame = {
    // bin grid = reference bins ∪ slice bins, spelled as a FULL OUTER
    // join rather than union+distinct+left-join: the union's ref side
    // carries no other column, so pruning collapsed its aggregate
    // chain to a scan-level distinct — a subtree no longer canonically
    // equal to the shared counting exchange, i.e. a whole extra corpus
    // pass when ref derives from wb (the q158 batch shape). The join
    // form keeps cc alive on the ref side, so both sides bottom out in
    // the one exchange. Row set is identical: every b of either side.
    // the n_wb > 0 filter is vacuous (n_wb = count(*) >= 1) but load-
    // bearing: referencing n_wb stops RemoveRedundantAggregates from
    // collapsing the pruned distinct through the counting aggregate
    // into a scan-level distinct — the remaining way this branch could
    // fork off the shared exchange into its own corpus pass
    val refOnBins = ref
      .join(wb.filter(col("n_wb") > 0).select("b").distinct(),
            Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("cc"), lit(0L)).as("cc"))
    val wAll = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = refOnBins.select(col("b"),
      sum("cc").over(wAll).cast("long").as("cum"))
    val tot = ref.agg(sum("cc").cast("long").as("n"))
    val ns = wb.groupBy("win_ms", "source")
      .agg(sum("n_wb").cast("long").as("n_s"))
    val wS = Window.partitionBy("win_ms", "source").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ns.crossJoin(cum)
      .join(wb, Seq("win_ms", "source", "b"), "left")
      .select(col("win_ms"), col("source"), col("n_s"), col("b"),
              col("cum"), coalesce(col("n_wb"), lit(0L)).as("c"))
      .withColumn("cum_s", sum("c").over(wS).cast("long"))
      .crossJoin(broadcast(tot))
      .groupBy("win_ms", "source")
      .agg(max("n_s").as("n_docs"),
           (floor(max(abs(col("cum_s").cast("double") / col("n_s") -
                          col("cum").cast("double") / col("n"))) * 10000
                  + 0.5) / lit(10000.0)).as("ks"))
  }

  /** The corpus length-bin reference `(b, cc)` a streaming monitor
    * probes — one metadata-light scan of (n_chars) per corpus snapshot.
    */
  def corpusLengthBins(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(length(bin(greatest(col("n_chars"), lit(1))))
                .cast("long").as("b"))
      .groupBy("b").agg(count(lit(1)).cast("long").as("cc"))

  /** q112's body, reusable: per-source KL divergence of each source's
    * term distribution from the corpus marginal — (source, n_terms, kl).
    * One token shuffle with map-side partials; the explicit isNotNull
    * keeps every consumer on ONE canonical scan subtree for AQE stage
    * reuse; the vocabulary-sized term marginal is hinted onto the
    * shuffle path (PlanSpec pins the no-broadcast edge); contributions
    * are 1e-8-scaled-int, reducer-order-proof.
    */
  def sourceKl(s: SparkSession, d: String): DataFrame =
    klFromTermCounts(sourceTermCountsOf(spread(docs(s, d))))

  /** The (source, term, n_st) count derivation feeding [[sourceKl]] —
    * factored so the full corpus pass and the appended-slice delta pass
    * run the SAME plan over different inputs.
    */
  private def sourceTermCountsOf(docFrame: DataFrame): DataFrame =
    docFrame
      .filter(col("source").isNotNull)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("n_st"))

  /** [[sourceKl]]'s vocabulary-bounded tail over an already-landed
    * (source, term, n_st) table: identical expression tree whether the
    * counts came from one corpus pass or an incremental merge — integer
    * counts are associative, so the doubles (and the oracle hashes)
    * cannot drift.
    */
  private def klFromTermCounts(st: DataFrame): DataFrame = {
    val bySrc = st.groupBy("source").agg(sum("n_st").as("n_s"))
    // the term marginal is vocabulary-sized: hint it onto the shuffle
    // path (co-partitioned with st on term, no sort) — the planner's
    // auto-broadcast at toy scale is exactly the shape that OOMs the
    // executors at open-web vocabulary, and PlanSpec pins it out
    val byTerm = st.groupBy("term").agg(sum("n_st").as("n_t"))
      .hint("shuffle_hash")
    // corpus total from the BOUNDED per-source table — a derivation,
    // not another corpus pass
    val tot = bySrc.agg(sum("n_s").as("n"))
    st.join(bySrc, "source").join(byTerm, "term")
      .crossJoin(broadcast(tot))
      .select(col("source"),
        floor((col("n_st").cast("double") / col("n_s")) *
          log((col("n_st").cast("double") * col("n")) /
              (col("n_s").cast("double") * col("n_t"))) * 100000000 + 0.5)
          .cast("long").as("c"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_terms"),
           round(sum("c") / lit(100000000.0), 4).as("kl"))
  }

  /** End-to-end drift-monitor sink: [[driftTermCountsStream]] under a
    * watermark, each closed micro-batch rolled into its KL report
    * ([[driftReport]] against the corpus reference) and APPENDED to
    * `reportDir` parquet partitioned by epoch — the dashboard table a
    * crawl operator tails. Exactly-once per window: append mode emits a
    * window's counts in exactly one micro-batch, so each (win_ms,
    * source) report row lands in exactly one epoch partition, and a
    * crashed epoch replays idempotently ([[graft.Door.land]]).
    * DriftStreamSpec proves the landed rows equal the batch audit's.
    *
    * Caveat (inherent to append mode): the final OPEN window — the one
    * containing the max event time seen so far — is withheld until a
    * LATER arrival advances the watermark past its end (watermark =
    * max ts - delay < window end at the moment the window's own data
    * arrives). Under a draining door that means the newest window's report
    * lands only on the next run's data, or when the feed appends a
    * beyond-window sentinel/heartbeat row (DriftStreamSpec's far-future
    * sentinel demonstrates the pattern). Closed windows are unaffected.
    */
  def startDriftMonitor(docsStream: DataFrame, s: SparkSession, d: String,
                        reportDir: String, checkpointDir: String,
                        windowDur: String = "1 hour",
                        watermarkDelay: String = "0 seconds")
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.Door.start(
        driftTermCountsStream(docsStream, windowDur, watermarkDelay),
        checkpointDir) { (batch, id) =>
      if (!batch.isEmpty)
        graft.Door.land(driftReport(batch, s, d), id, reportDir)
    }

  /** The DoReMi-style decision step the drift monitor feeds: per CLOSED
    * event-time window, an executable epoch plan — [[windowedSourceStats]]
    * under the same watermark/window geometry as [[startDriftMonitor]],
    * each closed batch joined to the monitor's landed KL reports at
    * `reportDir` and pushed through [[epochPlanCore]], landing one
    * (win_ms, source) plan row set per window at `planDir` (parquet,
    * epoch-partitioned, idempotent replay: [[graft.Door.land]]).
    *
    * Run ORDER is the contract: start/await the drift monitor on the
    * feed first, then this planner on the same feed — both streams close
    * the same window set (same watermark rule over the same data), so
    * every stats window finds its KL row; a window absent from
    * `reportDir` (e.g. the monitor never ran on that span) is dropped by
    * the inner join rather than planned blind. EpochPlanStreamSpec pins
    * landed plans == the batch composition (stats + driftReport KL +
    * epochPlanCore) on every closed window.
    */
  def startEpochPlanner(docsStream: DataFrame, s: SparkSession, d: String,
                        reportDir: String, planDir: String,
                        checkpointDir: String,
                        windowDur: String = "1 hour",
                        watermarkDelay: String = "0 seconds",
                        budget: Long = EpochBudget)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.Door.start(
        windowedSourceStatsStream(docsStream, windowDur, watermarkDelay),
        checkpointDir) { (batch, id) =>
      if (!batch.isEmpty) {
        // reportDir may not exist yet (monitor not started / no closed
        // window landed): reading it would kill the stream with an
        // AnalysisException, and because append-mode emits each closed
        // window exactly once, every window in THIS batch would be
        // silently lost. Skip the batch loudly instead.
        val reportsReady = {
          val p = new org.apache.hadoop.fs.Path(reportDir)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.exists(p)
        }
        if (!reportsReady) {
          logger.warn(
            s"epoch planner: no drift reports at $reportDir yet; " +
            s"skipping batch $id (windows will NOT be planned — start " +
            "the drift monitor first, then re-run the planner)")
        } else {
          val kl = s.read.parquet(reportDir).select("win_ms", "source", "kl")
          val joined = batch.join(kl, Seq("win_ms", "source"))
          graft.Door.land(
            epochPlanCore(joined, budget, MaxEpochs, groupCols = Seq("win_ms")),
            id, planDir)
          // run-order mistakes drop windows via the inner join; make
          // that visible (cheap: batch is one closed window set)
          val dropped = batch.select("win_ms", "source").distinct()
            .join(kl.select("win_ms", "source").distinct(),
                  Seq("win_ms", "source"), "left_anti").count()
          if (dropped > 0) logger.warn(
            s"epoch planner: $dropped (win_ms, source) stats rows had no " +
            s"KL report in $reportDir and were dropped from batch $id")
        }
      }
    }

  /** Order-independent, CONSTANT-STATE doc-set digest: each doc hashes
    * to the first 60 bits of md5(doc_id) and the group digest is their
    * `bit_xor` — commutative, so the aggregate carries one long per
    * group regardless of group size (the round-11 collect_list spelling
    * held every doc_id of a (source, epoch) group in one buffer:
    * tens of GB per task at 100 TB). DuckDB re-derives it exactly
    * (hex-parse of md5 + bit_xor — see the q139/q141 oracles), and XOR
    * detects any single-doc difference between two manifests since a
    * doc_id appears at most once per (window, source, epoch) group.
    */
  def docSetDigest(docId: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.bit_xor(
      conv(substring(md5(docId.cast("string")), 1, 15), 16, 10)
        .cast("long"))

  /** Integrity audit over the LANDED planner artifacts — the q136 plan,
    * the q139 per-(source, epoch) manifests, and the q142 training
    * order — the reconciliation a trainer runs before trusting an
    * epoch stream, the planner twin of Curation.auditPackedIdsExport.
    * Self-contained on the artifact bytes (no corpus re-derivation):
    *
    *  - `manifest_dup` / `epoch_density`: per source, (source, epoch)
    *    rows must be unique and epochs dense 1..max (countDistinct-
    *    keyed, so a duplicate can never mask a hole);
    *  - `full_epoch_tokens`: q139's decomposition makes every epoch
    *    e <= planned DIV avail a FULL corpus pass — its manifest
    *    n_tokens must equal the plan's avail_tokens exactly;
    *  - `epoch_overrun`: no epoch past full+1 (the single fractional
    *    pass), and the fractional pass can never exceed avail_tokens;
    *  - `plan_universe`: every manifest source must be granted by the
    *    plan; every source granted a full epoch must have manifests;
    *  - `order_manifest_docs` / `_tokens` / `_digest`: per epoch, the
    *    order's instance count, token sum, and recomputed order-free
    *    doc-set digest must equal the manifests' (XOR of the
    *    per-source digests — sources partition an epoch's docs, so
    *    the XORs compose exactly). The digest names a single swapped
    *    doc_id even when counts happen to balance;
    *  - `pos_density`: per (epoch, shard), positions dense 0..n-1
    *    with no duplicates — a deleted or doubled order row is a
    *    skipped or re-fed training example.
    *
    * Returns (source, epoch, check, detail); empty means consistent.
    * Scale shape: everything aggregates to (source|epoch|shard)-bounded
    * tables before any join; the plan table broadcasts (sources-
    * bounded); the only corpus-sized scan is the order table feeding
    * one partial-aggregating groupBy per check.
    */
  def auditTrainingOrder(s: SparkSession, planDir: String,
                         manifestDir: String, orderDir: String)
      : DataFrame = {
    val plan = s.read.parquet(planDir).select(
      col("source"), col("avail_tokens"), col("planned_tokens"),
      expr("planned_tokens div avail_tokens").as("full_epochs"))
    val man = s.read.parquet(manifestDir)
    val ord = s.read.parquet(orderDir)
    val viol = (name: String, detail: org.apache.spark.sql.Column) =>
      struct(lit(name).as("check"), detail.cast("string").as("detail"))
    val out = (src: org.apache.spark.sql.Column,
               ep: org.apache.spark.sql.Column,
               v: org.apache.spark.sql.Column) =>
      Seq(src.cast("string").as("source"), ep.cast("long").as("epoch"),
          v.as("v"))

    val manAgg = man.groupBy("source")
      .agg(count(lit(1)).as("n"), countDistinct("epoch").as("nd"),
           min("epoch").as("mn"), max("epoch").as("mx"))
    val dup = manAgg.filter(col("n") =!= col("nd"))
      .select(out(col("source"), lit(-1L),
                  viol("manifest_dup", concat_ws("/", col("nd"), col("n")))): _*)
    val dens = manAgg.filter(col("mn") =!= 1L || col("mx") =!= col("nd"))
      .select(out(col("source"), lit(-1L),
                  viol("epoch_density",
                       concat_ws("/", col("mn"), col("mx"), col("nd")))): _*)

    // the plan table is sources-bounded — the one broadcast that's right
    val pm = man.join(broadcast(plan), Seq("source"), "inner")
    val full = pm
      .filter(col("epoch") <= col("full_epochs") &&
              col("n_tokens") =!= col("avail_tokens"))
      .select(out(col("source"), col("epoch"),
                  viol("full_epoch_tokens",
                       concat_ws("!=", col("n_tokens"), col("avail_tokens")))): _*)
    val overrun = pm
      .filter(col("epoch") > col("full_epochs") + 1 ||
              (col("epoch") === col("full_epochs") + 1 &&
               col("n_tokens") > col("avail_tokens")))
      .select(out(col("source"), col("epoch"),
                  viol("epoch_overrun",
                       concat_ws("/", col("full_epochs"), col("n_tokens")))): _*)
    val unknown = man.join(broadcast(plan.select("source")),
                           Seq("source"), "left_anti")
      .select(out(col("source"), col("epoch"),
                  viol("plan_universe", lit("manifest source not in plan"))): _*)
    val missing = plan.filter(col("full_epochs") >= 1L)
      .join(man.select("source").distinct(), Seq("source"), "left_anti")
      .select(out(col("source"), lit(-1L),
                  viol("plan_universe",
                       lit("granted source missing from manifests"))): _*)

    val mE = man.groupBy("epoch")
      .agg(sum("n_docs").as("m_docs"), sum("n_tokens").as("m_tok"),
           org.apache.spark.sql.functions.bit_xor(col("doc_digest"))
             .as("m_dig"))
    val oE = ord.groupBy("epoch")
      .agg(count(lit(1)).as("o_docs"), sum("n_tokens").as("o_tok"),
           docSetDigest(col("doc_id")).as("o_dig"))
    val cmp = mE.join(oE, Seq("epoch"), "full_outer")
    val cDocs = cmp.filter(!(col("m_docs") <=> col("o_docs")))
      .select(out(lit(""), col("epoch"),
                  viol("order_manifest_docs",
                       concat_ws("!=", col("m_docs"), col("o_docs")))): _*)
    val cTok = cmp.filter(!(col("m_tok") <=> col("o_tok")))
      .select(out(lit(""), col("epoch"),
                  viol("order_manifest_tokens",
                       concat_ws("!=", col("m_tok"), col("o_tok")))): _*)
    val cDig = cmp.filter(!(col("m_dig") <=> col("o_dig")))
      .select(out(lit(""), col("epoch"),
                  viol("order_manifest_digest",
                       concat_ws("!=", col("m_dig"), col("o_dig")))): _*)

    val pd = ord.groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n"), countDistinct("pos").as("nd"),
           min("pos").as("mn"), max("pos").as("mx"))
      .filter(col("n") =!= col("nd") || col("mn") =!= 0L ||
              col("mx") + 1 =!= col("nd"))
      .select(out(concat(lit("shard="), col("shard")), col("epoch"),
                  viol("pos_density",
                       concat_ws("/", col("mn"), col("mx"), col("nd"),
                                 col("n")))): _*)

    Seq(dup, dens, full, overrun, unknown, missing, cDocs, cTok, cDig, pd)
      .reduce(_ unionByName _)
      .select(col("source"), col("epoch"),
              col("v.check").as("check"), col("v.detail").as("detail"))
  }

  /** [[auditTrainingOrder]]'s twin for the ANNEALED chain: reconcile
    * the landed q149 schedule, q153 per-(source, epoch) manifests, and
    * the landed source-stats table (avail_tokens decomposes each
    * grant), from artifact bytes only:
    *
    *  - `manifest_dup`: (source, epoch) manifests must be unique;
    *  - `sched_universe`: every manifest row must be granted by the
    *    schedule; every grant of at least one full corpus copy
    *    (alloc_tok DIV n_s >= 1) must have landed a manifest;
    *  - `grant_tokens`: realized n_tokens must sit inside the grant's
    *    exact decomposition envelope [full*n_s, (full+1)*n_s] — below
    *    means lost docs, above means over-delivery;
    *  - `full_copy_digest`: every manifest whose grant includes a full
    *    corpus copy carries the ENTIRE source doc set, so their
    *    XOR digests must agree pairwise per source — one landed value,
    *    cross-checked with zero corpus access;
    *  - `stats_universe`: a scheduled source absent from the stats
    *    table cannot be decomposed at all.
    *
    * Returns (source, epoch, check, detail); empty means consistent.
    */
  def auditAnnealExecute(s: SparkSession, scheduleDir: String,
                         manifestDir: String, statsDir: String)
      : DataFrame = {
    val stats = s.read.parquet(statsDir)
      .select(col("source"), col("avail_tokens").as("n_s"))
    val sched = s.read.parquet(scheduleDir)
    val man = s.read.parquet(manifestDir)
    val viol = (name: String, detail: org.apache.spark.sql.Column) =>
      struct(lit(name).as("check"), detail.cast("string").as("detail"))
    val out = (src: org.apache.spark.sql.Column,
               ep: org.apache.spark.sql.Column,
               v: org.apache.spark.sql.Column) =>
      Seq(src.cast("string").as("source"), ep.cast("long").as("epoch"),
          v.as("v"))

    val dup = man.groupBy("source")
      .agg(count(lit(1)).as("n"), countDistinct("epoch").as("nd"))
      .filter(col("n") =!= col("nd"))
      .select(out(col("source"), lit(-1L),
                  viol("manifest_dup", concat_ws("/", col("nd"), col("n")))): _*)
    // the schedule and stats are (sources x epochs)- and
    // sources-bounded — the broadcasts that are right
    val schedFull = sched.join(broadcast(stats), Seq("source"), "left")
      .select(col("source"), col("epoch"), col("alloc_tok"), col("n_s"),
              expr("alloc_tok div n_s").as("fc"))
    val noStats = schedFull.filter(col("n_s").isNull)
      .select(out(col("source"), col("epoch"),
                  viol("stats_universe",
                       lit("scheduled source missing from stats"))): _*)
    val unknown = man.join(
        broadcast(sched.select("source", "epoch")),
        Seq("source", "epoch"), "left_anti")
      .select(out(col("source"), col("epoch"),
                  viol("sched_universe", lit("manifest has no grant"))): _*)
    val missing = schedFull.filter(col("fc") >= 1L)
      .join(man.select("source", "epoch"), Seq("source", "epoch"),
            "left_anti")
      .select(out(col("source"), col("epoch"),
                  viol("sched_universe",
                       lit("full-copy grant missing from manifests"))): _*)
    val jm = man.join(broadcast(schedFull.filter(col("n_s").isNotNull)),
                      Seq("source", "epoch"), "inner")
    val env = jm.filter(col("n_tokens") < col("fc") * col("n_s") ||
                        col("n_tokens") > (col("fc") + 1) * col("n_s"))
      .select(out(col("source"), col("epoch"),
                  viol("grant_tokens",
                       concat_ws("/", col("fc") * col("n_s"),
                                 col("n_tokens"),
                                 (col("fc") + 1) * col("n_s")))): _*)
    val dig = jm.filter(col("fc") >= 1L)
      .groupBy("source")
      .agg(countDistinct("doc_digest").as("nd"))
      .filter(col("nd") > 1L)
      .select(out(col("source"), lit(-1L),
                  viol("full_copy_digest",
                       concat_ws("/", lit("distinct_digests"), col("nd")))): _*)

    Seq(dup, noStats, unknown, missing, env, dig)
      .reduce(_ unionByName _)
      .select(col("source"), col("epoch"),
              col("v.check").as("check"), col("v.detail").as("detail"))
  }

  /** The plan-EXECUTION core shared by batch q141 and
    * [[startPlanExecutor]]: given framed docs (ts, doc_id, source, text)
    * and a per-(win_ms, source) plan carrying `full_epochs` and `rate`
    * (q139's exact grant decomposition, windowed), emit the realized
    * per-(win_ms, source, epoch) shard manifest. Every doc decides its
    * own epochs from its own bytes (q87's 24-bit md5 uniform vs the
    * remainder rate); the plan table is (windows x sources)-bounded and
    * broadcasts; the final aggregate groups by the event-time window
    * itself, so under a watermark the SAME plan closes windows in
    * append mode (the stream form) and in batch collapses to a plain
    * grouped aggregate.
    */
  def planExecuteCore(framed: DataFrame, plan: DataFrame,
                      windowDur: String): DataFrame = {
    val u = u01(col("text"))
    framed
      .filter(col("source").isNotNull)
      .select(col("ts"), col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"),
              u.as("u"),
              (unix_micros(window(col("ts"), windowDur).getField("start"))
                / 1000L).cast("long").as("win_ms"))
      .join(broadcast(plan), Seq("win_ms", "source"))
      .withColumn("n_epochs",
        col("full_epochs") + (col("u") < col("rate")).cast("long"))
      .filter(col("n_epochs") > 0)
      .select(col("ts"), col("source"), col("doc_id"), col("n_tokens"),
              explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
      .groupBy(window(col("ts"), windowDur), col("source"), col("epoch"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
           sum("n_tokens").cast("long").as("n_tokens"),
           docSetDigest(col("doc_id")).as("doc_digest"))
      .select((unix_micros(col("window.start")) / 1000L).cast("long")
                .as("win_ms"),
              col("source"), col("epoch"), col("n_docs"), col("n_tokens"),
              col("doc_digest"))
  }

  /** Read a landed plan dir ([[startEpochPlanner]]'s output schema) into
    * the (win_ms, source, full_epochs, rate) execution table. A planner
    * re-run into the same dir can land the same (win_ms, source) under a
    * DIFFERENT batch-id partition than the first run (dynamic overwrite
    * only replaces partitions the re-run touches), so keep exactly the
    * newest planning of each key — the max-`epoch` row — instead of
    * letting duplicates fan out every doc in the executor's inner join
    * and double-count manifests. The plan table is (windows x
    * sources)-bounded, so the dedup window is trivially cheap.
    */
  private def executionPlan(s: SparkSession, planDir: String): DataFrame =
    s.read.parquet(planDir)
      .withColumn("rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("win_ms", "source")
            .orderBy(col("epoch").desc)))
      .filter(col("rn") === 1)
      .select(col("win_ms"), col("source"),
              expr("planned_tokens DIV avail_tokens").as("full_epochs"),
              ((col("planned_tokens") % col("avail_tokens")).cast("double")
                / col("avail_tokens")).as("rate"))

  /** STREAMING plan execution — the last stage of the drift → plan →
    * sample loop: arriving docs sample themselves against the plans the
    * planner landed at `planDir` (stream-static join — the plan is the
    * persisted artifact, like the BPE merge cache), and each closed
    * (window, source, epoch) emits its shard manifest exactly once in
    * append mode. Run-order contract extends the planner's: monitor,
    * then planner, then this executor over the same feed — a window
    * with no landed plan is dropped by the inner join (start the
    * executor last). `planDir` must exist at start (clear require, not
    * a mid-stream AnalysisException); idempotent replay through
    * [[graft.Door.land]] under column `ingest_epoch` (`epoch` is the
    * plan's own column).
    */
  def startPlanExecutor(docsStream: DataFrame, s: SparkSession,
                        planDir: String, outDir: String,
                        checkpointDir: String,
                        windowDur: String = "1 hour",
                        watermarkDelay: String = "0 seconds")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val p = new org.apache.hadoop.fs.Path(planDir)
    require(p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p),
      s"startPlanExecutor: no landed plans at $planDir — run the drift " +
      "monitor, then the epoch planner, then this executor")
    graft.Door.start(
        planExecuteCore(docsStream.withWatermark("ts", watermarkDelay),
                        executionPlan(s, planDir), windowDur),
        checkpointDir) { (batch, id) =>
      graft.Door.land(batch, id, outDir, epoch = "ingest_epoch")
    }
  }

  /** q109's body, reusable on any (doc_id, text) frame — BATCH OR STREAM:
    * the whole pipeline is stateless per-row projection + generator, so
    * the same plan chunks a crawl stream micro-batch by micro-batch
    * (PrepSpec proves it under MemoryStream composed after
    * [[Curation.ingestStream]]).
    */
  def chunkDocs(docs: DataFrame): DataFrame = {
    val c = lit(ChunkLen)
    val st = lit(ChunkStride)
    val b = docs
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .withColumn("n", size(col("tok")).cast("long"))
      // true integral DIV, like the oracle's `//` — floor((a)/b) over
      // doubles is only exact below 2^53 (the ADVICE caveat q108 closed)
      .withColumn("nc",
        when(col("n") <= c, lit(1L))
          .otherwise(expr(
            s"1 + (n - $ChunkLen + $ChunkStride - 1) DIV $ChunkStride")))
    val chunk = slice(
      col("tok"), (col("chunk_idx") * st + 1).cast("int"), c.cast("int"))
    b.select(col("doc_id"), col("tok"),
             explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
              size(chunk).cast("long").as("chunk_tok"),
              md5(array_join(chunk, " ").cast("binary")).as("chunk_md5"))
  }

  /** Teacher-label thresholds and model geometry for q132's distilled
    * quality classifier. Docs with closed-form quality >= Hi train as
    * positives, <= Lo as negatives; the middle band is excluded (the
    * standard distillation margin). 2^15 hashed features — the fastText
    * regime; each LBFGS partial aggregate is one 256 KB dense vector.
    */
  val QcHi = 0.55
  val QcLo = 0.30
  val QcNumFeatures = 1 << 15

  /** q161/q162 teacher-label thresholds in the 4dp-scaled-integer
    * quality domain — the SAME bands as q132's LR distillation
    * ([[QcHi]]/[[QcLo]] × 10000), so the NB and LR students learn from
    * the identical teacher and their reports compare like-for-like.
    */
  val NbHiInt = 5500L
  val NbLoInt = 3000L

  /** q163 funnel thresholds — the offline-tuned constants a production
    * filter stack ships with (FineWeb/Dolma publish theirs the same
    * way): minimum token count, minimum q32 closed-form quality
    * (4dp-scaled integer, the q125 convention), and minimum mean token
    * log-probability under the corpus unigram LM (4dp, the q82
    * spelling). Set from the sf0.01 distribution so each stage
    * rejects a real tail (len ≈ p2, quality ≈ p25, lm ≈ p10); the NB
    * stage's threshold is not a constant — it is the q161 tuned theta,
    * re-derived from the same one-pass table.
    */
  val FsMinTokens = 16L
  val FsMinQualityInt = 3500L
  val FsMinLp4 = -3.45

  /** Per-doc Naive-Bayes LLR scores for q161/q162: (doc_id, source, qi,
    * s_int) where qi is the 4dp-scaled q32 teacher quality and s_int the
    * 1e-8-scaled add-one-smoothed multinomial-NB log-likelihood-ratio
    * (token LLR sum + class-prior log-odds), exact BIGINT arithmetic
    * after one floor-half-up per vocabulary term (the q117 convention).
    *
    * Scale shape: ONE tokenize pass builds the (doc, term, count) table
    * `cdc`, whose exchange both consumers reuse — the class-count
    * derivation keeps its label predicate ABOVE the aggregate (a
    * pre-aggregation filter would push into the scan branch and fork a
    * second tokenize pass — the q112 alignment lesson), and the class
    * prior is the labeled TOKEN-mass log-odds, i.e. a derivation of the
    * vocabulary totals rather than a third doc-count pass (with NB the
    * prior estimate is a modeling choice; token mass is the
    * length-weighted doc prior). The vocabulary-bounded LLR table joins
    * back shuffle_hash (no-broadcast vocabulary rule); only the 1-row
    * totals broadcast. Docs whose every token is outside the labeled
    * vocabulary still score (left join + coalesce 0): their LLR is
    * exactly the prior, matching the oracle's semantics.
    */
  /** The q32 teacher quality as a 4dp-scaled BIGINT — the exact column
    * spelling the q161/q162 oracles mirror (and the q125 convention).
    */
  private def teacherQi: Column = {
    val stopArr = array(TrainingData.enStop.map(lit): _*)
    val tok = split(col("text"), " ")
    round(least(lit(1.0), size(tok) / lit(64.0)) *
        (lit(0.5) +
          size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
            size(tok)) * 10000, 0).cast("long")
  }

  private[operators] def nbDocScores(s: SparkSession, d: String): DataFrame = {
    val tok = split(col("text"), " ")
    val cdc = spread(docs(s, d))
      .select(col("doc_id"), col("source"), teacherQi.as("qi"),
              explode(tok).as("term"))
      .groupBy("doc_id", "source", "qi", "term")
      .agg(count(lit(1)).cast("long").as("c"))
    val vt = cdc
      .groupBy("term")
      .agg(coalesce(sum(when(col("qi") >= NbHiInt, col("c"))), lit(0L))
             .cast("long").as("n_pt"),
           coalesce(sum(when(col("qi") <= NbLoInt, col("c"))), lit(0L))
             .cast("long").as("n_nt"))
      .filter(col("n_pt") + col("n_nt") > 0)
    val tots = vt.agg(sum("n_pt").cast("long").as("n_p"),
                      sum("n_nt").cast("long").as("n_n"),
                      count(lit(1)).cast("long").as("v"))
      .withColumn("p",
        floor(log(col("n_p").cast("double") / col("n_n"))
          * 100000000 + 0.5).cast("long"))
    val llr = vt.crossJoin(broadcast(tots))
      .select(col("term"),
        floor((log((col("n_pt") + lit(1.0)) / (col("n_p") + col("v")))
               - log((col("n_nt") + lit(1.0)) / (col("n_n") + col("v"))))
          * 100000000 + 0.5).cast("long").as("l"))
    cdc
      .join(llr.hint("shuffle_hash"), Seq("term"), "left")
      .groupBy("doc_id", "source", "qi")
      .agg(sum(col("c") * coalesce(col("l"), lit(0L))).cast("long")
             .as("tsum"))
      .crossJoin(broadcast(tots.select("p")))
      .select(col("doc_id"), col("source"), col("qi"),
              (col("tsum") + col("p")).as("s_int"))
  }

  /** q163/q164's per-doc gate table: every doc with its length, q32
    * teacher quality, unigram-LM mean log-probability, NB LLR bin, the
    * q161 tuned theta, and the four stage verdicts of the staged filter
    * funnel (len → quality → lm → nb). ONE tokenize pass builds the
    * (doc, term, count) table; the unigram marginal AND the NB class
    * counts are a single groupBy(term) derivation of it (one exchange,
    * both models), and the per-doc LM and NB sums ride ONE
    * shuffle_hash probe join against the combined vocabulary-bounded
    * score table (never broadcast — the no-broadcast-vocabulary rule;
    * only the 1-row totals and the 1-row tuned theta broadcast). The
    * LLR/bin/theta arithmetic is the exact q161 integer spelling, the
    * mean-logp the exact q82 4dp spelling, so the three single-model
    * queries and this composition can never drift.
    */
  private[graft] def filterStack(s: SparkSession, d: String): DataFrame = {
    val tok = split(col("text"), " ")
    // explicit isNotNulls at the base (the q83/q112 canonicalization
    // recipe): the cdc⋈st probe join infers isnotnull(term) on both
    // branches and the pd consumer would otherwise fork its cdc
    // subtree away from the tt/bb consumers' canonical form — the
    // corpus would tokenize once per consumer. Pre-filtering makes
    // every inferred predicate redundant, so all consumers share ONE
    // tokenize + cdc exchange (ReusedExchange, plan-checked).
    val cdc = spread(docs(s, d))
      // source too: q167's per-source weight join infers
      // isnotnull(source) into its probe branch alone otherwise
      .filter(col("doc_id").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), col("source"), teacherQi.as("qi"),
              size(tok).cast("long").as("n_tokens"), explode(tok).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("doc_id", "source", "qi", "n_tokens", "term")
      .agg(count(lit(1)).cast("long").as("c"))
    val tt = cdc.groupBy("term")
      .agg(sum("c").cast("long").as("uc"),
           coalesce(sum(when(col("qi") >= NbHiInt, col("c"))), lit(0L))
             .cast("long").as("n_pt"),
           coalesce(sum(when(col("qi") <= NbLoInt, col("c"))), lit(0L))
             .cast("long").as("n_nt"))
    // ONE totals row over the un-filtered tt: the labeled-vocabulary
    // restriction moves inside the aggregate (zero-count terms add 0 to
    // the sums; v counts only labeled terms), and the unigram total
    // rides the same row. A separate tt.agg(sum(uc)) branch is a trap:
    // the theta consumer prunes lp away, column pruning collapses that
    // branch's aggregate-over-aggregate to a bare row count, the pruned
    // subtree falls out of canonical equality with the shared cdc
    // exchange, and the corpus re-scans + re-explodes to produce one
    // row whose value is unused (measured: 2 scans; PlanSpec pins 1).
    val tots = tt
      .agg(sum("n_pt").cast("long").as("n_p"),
           sum("n_nt").cast("long").as("n_n"),
           count(when(col("n_pt") + col("n_nt") > 0, 1))
             .cast("long").as("v"),
           sum("uc").cast("double").as("total"))
      .withColumn("p",
        floor(log(col("n_p").cast("double") / col("n_n"))
          * 100000000 + 0.5).cast("long"))
    // combined per-term score row: unigram logp for the LM stage (as a
    // 1e-8-scaled BIGINT — the q161/q125 scaled-integer convention, so
    // the per-doc lpsum is EXACT integer arithmetic and the one-pass
    // audit, the artifact build, and the at-ingest gate agree
    // bit-for-bit instead of only through the 4dp round), the q161
    // add-one LLR for the NB stage (0 for unlabeled-vocabulary terms —
    // the LEFT JOIN + coalesce semantics, made inner because every
    // corpus term is in tt by construction)
    val st = tt.crossJoin(broadcast(tots))
      .select(col("term"),
        floor(log(col("uc").cast("double") / col("total"))
          * 100000000 + 0.5).cast("long").as("lpi"),
        when(col("n_pt") + col("n_nt") > 0,
          floor((log((col("n_pt") + lit(1.0)) / (col("n_p") + col("v")))
                 - log((col("n_nt") + lit(1.0)) / (col("n_n") + col("v"))))
            * 100000000 + 0.5).cast("long")).otherwise(lit(0L)).as("l"))
    val pd = cdc.join(st.hint("shuffle_hash"), "term")
      .groupBy("doc_id", "source", "qi", "n_tokens")
      .agg(sum(col("c") * col("l")).cast("long").as("tsum"),
           sum(col("c") * col("lpi")).cast("long").as("lpsumi"))
    val sb = pd.crossJoin(broadcast(tots.select("p")))
      .select(col("doc_id"), col("source"), col("qi"), col("n_tokens"),
              round(col("lpsumi").cast("double") / 100000000.0
                / col("n_tokens"), 4).as("lp4"),
              (col("tsum") + col("p")).as("s_int"))
      .withColumn("bin",
        least(greatest(floor(col("s_int").cast("double") / 50000000.0),
                       lit(-10)), lit(9)).cast("long"))
    funnelTuneAndVerdicts(s, sb)
  }

  /** The funnel's shared tail: tune theta over the scored per-doc
    * table (the exact q161 integer grid — 21 bounded theta rows, one
    * bounded bin rollup, one broadcast) and attach the four stage
    * verdicts, the composed keep bit, and the first-rejecting-stage
    * attribution. Shared verbatim by [[filterStack]] (the one-pass
    * audit plan) and [[funnelStackFromLayers]] (the artifact build), so
    * the two derivations carry the same theta/verdict expression tree.
    * `sb` must carry (doc_id, source, qi, n_tokens, lp4, s_int, bin).
    */
  private def funnelTuneAndVerdicts(s: SparkSession, sb: DataFrame)
      : DataFrame =
    attachVerdicts(sb.crossJoin(broadcast(tuneTheta(s, sb))),
                   col("theta"))

  /** The q161/q163 decision-threshold tuner, extracted verbatim: clip
    * scores to the half-nat bin grid, count teacher labels per bin
    * (one bounded rollup), and pick the boundary maximizing train-set
    * agreement over the 21-row theta domain — ties break low. Shared
    * by the NB score artifact build ([[nbScoresPlan]]) and the funnel
    * tail ([[funnelTuneAndVerdicts]]), so the single-model classifier
    * and the composed gate tune on the same expression tree. `sb`
    * must carry (bin, qi); returns the 1-row theta frame.
    */
  private def tuneTheta(s: SparkSession, sb: DataFrame): DataFrame = {
    val bb = sb.groupBy("bin")
      .agg(count(when(col("qi") >= NbHiInt, 1)).cast("long").as("pb"),
           count(when(col("qi") <= NbLoInt, 1)).cast("long").as("nb"))
    s.range(-10, 11).select(col("id").as("theta"))
      .crossJoin(bb)
      .groupBy("theta")
      .agg(sum(when(col("bin") < col("theta"), col("nb"))
                 .otherwise(col("pb"))).cast("long").as("hits"))
      .orderBy(col("hits").desc, col("theta").asc)
      .limit(1)
      .select("theta")
  }

  /** The q161/q162 per-doc NB score table BUILD: one tokenize pass to
    * the (doc, term, count) table ([[nbDocScores]] — class counts,
    * vocabulary, totals, and the prior are derivations of it, one
    * shuffle_hash probe join, no broadcast vocabulary), the half-nat
    * bin clip, and the tuned theta riding every row. The
    * from-first-principles plan PlanSpec audits; [[nbScores]] is what
    * the registry serves.
    */
  private[graft] def nbScoresPlan(s: SparkSession, d: String): DataFrame = {
    val sb = nbDocScores(s, d)
      .withColumn("bin",
        least(greatest(floor(col("s_int").cast("double") / 50000000.0),
                       lit(-10)), lit(9)).cast("long"))
    sb.crossJoin(broadcast(tuneTheta(s, sb)))
  }

  /** The q161 per-doc NB score table — (doc_id, source, qi, s_int,
    * bin, theta) — as a PERSISTED DerivedCache artifact
    * (`nb_scores_v1`): deterministic per corpus snapshot and consumed
    * by q161's per-source report, q162's calibration diagram, and the
    * distillation cross-checks, each previously re-training the model
    * inline per query (~1.5 s each at sf0.1; a corpus pass each at
    * scale). The funnel keeps its OWN artifact built from the
    * incremental layers ([[funnelStackFromLayers]]), so the
    * q161==q163 theta cross-check (FilterStackSpec) still compares
    * two independent derivations.
    */
  def nbScores(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuild(s, d, "nb_scores_v1")(nbScoresPlan(s, d))

  /** The NB class-conditional count layer of one document frame:
    * (term, n_pt, n_nt) over teacher-labeled docs. Per-doc
    * contributions are independent integer counts, so the layer is a
    * commutative monoid over corpus files — the property
    * [[nbClassCounts]] exploits.
    */
  private def nbClassCountsOf(docFrame: DataFrame): DataFrame =
    docFrame
      .select(teacherQi.as("qi"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(coalesce(sum(when(col("qi") >= NbHiInt, 1L)), lit(0L))
             .cast("long").as("n_pt"),
           coalesce(sum(when(col("qi") <= NbLoInt, 1L)), lit(0L))
             .cast("long").as("n_nt"))
      .filter(col("n_pt") + col("n_nt") > 0)

  /** q161's trained model as an APPEND-INCREMENTAL artifact: the
    * (term, n_pt, n_nt) class counts merge additively from the appended
    * slice only (the bigram_counts pattern), bit-identical to a full
    * recount — so the nightly crawl re-trains the quality gate for the
    * cost of the new files, and a fresh session (the at-ingest scorer)
    * loads the landed counts instead of re-tokenizing the corpus.
    */
  def nbClassCounts(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "nb_class_counts_v1")(
      { nbDerives.incrementAndGet()
        nbClassCountsOf(spread(docs(s, d))) })(
      files => { nbDerives.incrementAndGet()
        nbClassCountsOf(spread(s.read.parquet(files: _*))) })(
      (old, dl) => old.unionByName(dl).groupBy("term")
        .agg(sum("n_pt").cast("long").as("n_pt"),
             sum("n_nt").cast("long").as("n_nt")))

  /** Times the NB class-count artifact was DERIVED (full or delta) this
    * JVM — the ivfFits pin pattern: NbGateSpec asserts the at-ingest
    * gate scores every micro-batch without this moving, proving the
    * model is a stream-static artifact, never refit in-stream.
    */
  val nbDerives = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Quality-gate-at-ingest: score each arriving document's NB
    * log-likelihood ratio against the PERSISTED class counts
    * ([[nbClassCounts]] — trained offline, refreshed incrementally) and
    * route it by the offline-tuned q161 bin threshold. Works on a
    * streaming or batch `docFrame` in ONE pass (the dsirScoreStream
    * convention): n_tokens is computed before the explode and carried
    * through the aggregate as a grouping key, so no post-aggregation
    * self-join is ever planned — a stream-stream join Spark rejects.
    * Explode → stream-static shuffle_hash join on the vocabulary-
    * bounded LLR table → per-doc integer sum. The smoothing totals and
    * prior are ONE bounded row, collected once at plan-build time, so
    * each micro-batch pays only the probe join — the model never
    * re-derives in-stream.
    */
  def nbScoreStream(docFrame: DataFrame, s: SparkSession, d: String,
                    theta: Long): DataFrame =
    nbScorer(s, d, theta)(docFrame)

  /** The gate's BUILD-ONCE form: resolve the persisted class counts,
    * collect the one-row smoothing totals, and return a pure
    * frame->frame scorer over the now-fixed LLR table. The ingest
    * wiring ([[graft.operators.Curation.startCorpusMaintenance]]) calls
    * this once at stream start and applies the closure per micro-batch,
    * so the model resolves exactly once per stream — even when the gate
    * corpus is the same directory the stream is appending to
    * ([[nbDerives]] is the pin).
    */
  def nbScorer(s: SparkSession, d: String,
               theta: Long): DataFrame => DataFrame = {
    val counts = nbClassCounts(s, d)
    val Array(t0) = counts
      .agg(sum("n_pt").cast("long").as("n_p"),
           sum("n_nt").cast("long").as("n_n"),
           count(lit(1)).cast("long").as("v")).collect()
    val (nP, nN, v) = (t0.getLong(0), t0.getLong(1), t0.getLong(2))
    val pInt = math.floor(math.log(nP.toDouble / nN) * 1e8 + 0.5).toLong
    val llr = counts.select(col("term"),
      floor((log((col("n_pt") + lit(1.0)) / (nP + v))
             - log((col("n_nt") + lit(1.0)) / (nN + v)))
        * 100000000 + 0.5).cast("long").as("l"))
    docFrame => docFrame
      .select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), size(col("tok")).cast("long").as("n_tokens"),
              explode(col("tok")).as("term"))
      .join(llr.hint("shuffle_hash"), Seq("term"), "left")
      .groupBy("doc_id", "n_tokens")
      .agg((sum(coalesce(col("l"), lit(0L))) + lit(pInt)).cast("long")
             .as("s_int"))
      .withColumn("bin",
        least(greatest(floor(col("s_int").cast("double") / 50000000.0),
                       lit(-10)), lit(9)).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("s_int"),
              (floor(col("s_int") / lit(10000.0) + 0.5) / lit(10000.0))
                .as("llr"),
              col("bin"), (col("bin") >= theta).as("keep"))
  }

  /** The FULL q163 funnel at ingest — BUILD-ONCE form: resolve the two
    * persisted model layers (the NB class counts, [[nbClassCounts]];
    * the corpus unigram marginal, a vocabulary-bounded finalize of the
    * landed [[sourceTermCounts]] artifact — ZERO corpus passes), merge
    * them into ONE per-term score table, collect the bounded smoothing
    * totals, and return a pure frame->frame scorer that lands every
    * arriving doc's four stage scores, verdicts, final keep bit, and
    * first-rejecting stage in a single pass: tokenize → explode → one
    * left shuffle_hash probe join on the combined vocabulary-bounded
    * table (never broadcast) → one per-doc aggregate (n_tokens, source,
    * qi carried as grouping keys — the dsirScoreStream convention, so
    * the plan streams). The len and quality stages are stateless column
    * arithmetic; lm and nb are the probe sums. Terms outside the
    * trained vocabulary (novel crawl text — impossible on the training
    * corpus itself) take the unigram add-one-style floor ln(1/total)
    * for the lm stage and the q161 0-LLR convention for the nb stage:
    * novelty biases toward the lm gate, never a silent keep. Stage
    * arithmetic is the exact [[filterStack]] spelling (same constants,
    * same scaled integers), so gate verdicts == batch q163 doc-for-doc
    * on the corpus — FunnelGateSpec's pin. Theta is the offline-tuned
    * q161/q163 threshold, passed in (never re-tuned in-stream).
    */
  def funnelScorer(s: SparkSession, d: String,
                   theta: Long): DataFrame => DataFrame = {
    val (st, pInt, floorLpi) = funnelModel(s, d)
    docFrame => attachVerdicts(
        funnelScoreDocs(docFrame, st, pInt, floorLpi), lit(theta))
      .select("doc_id", "source", "qi", "n_tokens", "lp4", "s_int",
              "bin", "pass_len", "pass_quality", "pass_lm", "pass_nb",
              "keep", "reject_stage")
  }

  /** The four stage verdicts + composed keep bit + first-rejecting
    * stage, attached to a scored frame — ONE definition of the verdict
    * tree, shared by the gate (theta is the offline-tuned literal) and
    * the artifact/audit plans (theta rides the tuned broadcast
    * column): an edit to a stage threshold or the attribution order
    * cannot desynchronize the ingest gate from funnel_stack_v1.
    */
  private def attachVerdicts(scored: DataFrame, theta: Column): DataFrame =
    scored
      .withColumn("pass_len", col("n_tokens") >= FsMinTokens)
      .withColumn("pass_quality", col("qi") >= FsMinQualityInt)
      .withColumn("pass_lm", col("lp4") >= FsMinLp4)
      .withColumn("pass_nb", col("bin") >= theta)
      .withColumn("keep",
        col("pass_len") && col("pass_quality") &&
          col("pass_lm") && col("pass_nb"))
      .withColumn("reject_stage",
        when(!col("pass_len"), "len")
          .when(!col("pass_quality"), "quality")
          .when(!col("pass_lm"), "lm")
          .when(!col("pass_nb"), "nb")
          .otherwise("keep"))

  /** Resolve the funnel's two PERSISTED model layers into one combined
    * vocabulary-bounded per-term score table plus the collected bounded
    * constants: (st = (term, lpi, l), pInt = the scaled-integer NB
    * class prior, floorLpi = the out-of-vocabulary unigram floor
    * ln(1/total), 1e-8-scaled).
    * ZERO corpus passes — the NB class counts ([[nbClassCounts]]) and
    * the unigram marginal (a groupBy(term) finalize of the landed
    * [[sourceTermCounts]]) are both append-incremental artifacts. The
    * NB side is a left merge into the unigram vocabulary (its labeled
    * vocabulary is a subset of the corpus one). Shared by
    * [[funnelScorer]] (the at-ingest gate) and
    * [[funnelStackFromLayers]] (the `funnel_stack_v2` artifact build),
    * so the gate and the landed per-doc table carry the SAME
    * expression tree — and with lpi/lpsumi in the scaled-integer
    * convention, per-doc sums are EXACT integer arithmetic: the gate,
    * the artifact, and the one-pass audit agree bit-for-bit, not just
    * through the 4dp round.
    */
  private def funnelModel(s: SparkSession, d: String)
      : (DataFrame, Long, Long) = {
    val counts = nbClassCounts(s, d)
    val Array(t0) = counts
      .agg(sum("n_pt").cast("long").as("n_p"),
           sum("n_nt").cast("long").as("n_n"),
           count(lit(1)).cast("long").as("v")).collect()
    val (nP, nN, v) = (t0.getLong(0), t0.getLong(1), t0.getLong(2))
    val pInt = math.floor(math.log(nP.toDouble / nN) * 1e8 + 0.5).toLong
    val uni = sourceTermCounts(s, d).groupBy("term")
      .agg(sum("n_st").cast("long").as("uc"))
    val Array(u0) = uni.agg(sum("uc").cast("double").as("total")).collect()
    val total = u0.getDouble(0)
    // the out-of-vocabulary unigram floor ln(1/total), 1e-8-scaled like
    // every per-term lpi — the scaled-integer spelling keeps the
    // per-doc lpsum exact-integer on streams with novel terms too
    val floorLpi = math.floor(math.log(1.0 / total) * 1e8 + 0.5).toLong
    val st = uni.join(counts, Seq("term"), "left")
      .select(col("term"),
        floor(log(col("uc").cast("double") / total)
          * 100000000 + 0.5).cast("long").as("lpi"),
        when(col("n_pt") + col("n_nt") > 0,
          floor((log((col("n_pt") + lit(1.0)) / (nP + v))
                 - log((col("n_nt") + lit(1.0)) / (nN + v)))
            * 100000000 + 0.5).cast("long")).otherwise(lit(0L)).as("l"))
    (st, pInt, floorLpi)
  }

  /** Score one document frame against a resolved [[funnelModel]]:
    * tokenize → explode → ONE left shuffle_hash probe join on the
    * combined vocabulary-bounded score table (never broadcast) → one
    * per-doc aggregate with n_tokens/source/qi carried as grouping
    * keys — the dsirScoreStream one-pass convention, so the plan is
    * legal on a genuine streaming frame (no post-aggregation
    * self-join). Terms outside the trained vocabulary take the unigram
    * floor for the lm stage and the q161 0-LLR convention for the nb
    * stage: novelty biases toward the lm gate, never a silent keep.
    */
  private def funnelScoreDocs(docFrame: DataFrame, st: DataFrame,
                              pInt: Long, floorLpi: Long): DataFrame =
    docFrame
      .select(col("doc_id"), col("source"), teacherQi.as("qi"),
              split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("source"), col("qi"),
              size(col("tok")).cast("long").as("n_tokens"),
              explode(col("tok")).as("term"))
      .join(st.hint("shuffle_hash"), Seq("term"), "left")
      .groupBy("doc_id", "source", "qi", "n_tokens")
      .agg(sum(coalesce(col("lpi"), lit(floorLpi))).cast("long")
             .as("lpsumi"),
           (sum(coalesce(col("l"), lit(0L))) + lit(pInt)).cast("long")
             .as("s_int"))
      .withColumn("lp4",
        round(col("lpsumi").cast("double") / 100000000.0
          / col("n_tokens"), 4))
      .withColumn("bin",
        least(greatest(floor(col("s_int").cast("double") / 50000000.0),
                       lit(-10)), lit(9)).cast("long"))

  /** The `funnel_stack_v1` BUILD: the q163 per-doc gate table derived
    * from the persisted model layers — ONE corpus rescore pass
    * ([[funnelScoreDocs]] over the docs table), zero
    * tokenize-for-counting passes (the bigram-NLL precedent: per-doc
    * verdicts under a corpus-global model are not a per-file monoid,
    * but their count layers are, so after a nightly append the model
    * layers merge incrementally and only the rescore re-pays the
    * corpus). Theta tuning and verdict attribution are the exact
    * [[filterStack]] tail ([[funnelTuneAndVerdicts]]); the scoring
    * expression tree is the exact [[funnelScorer]] one, and lpsumi is
    * exact integer arithmetic over identical per-term lpi values, so
    * the landed artifact, the one-pass audit plan, and the at-ingest
    * gate agree bit-for-bit — summation order cannot flip a `pass_lm`
    * at a 4dp tie (the round-15 watch item, retired structurally).
    */
  private[graft] def funnelStackFromLayers(s: SparkSession,
                                               d: String): DataFrame = {
    funnelDerives.incrementAndGet()
    val (st, pInt, floorLpi) = funnelModel(s, d)
    val sb = funnelScoreDocs(spread(docs(s, d)), st, pInt, floorLpi)
      .select("doc_id", "source", "qi", "n_tokens", "lp4", "s_int", "bin")
    funnelTuneAndVerdicts(s, sb)
  }

  /** The q163 per-doc gate table as a PERSISTED DerivedCache artifact
    * (`funnel_stack_v2` — v1 carried a double lpsum whose lp4 could in
    * principle differ from the scaled-integer spelling at a 4dp tie,
    * so the derivation change bumps the version and orphans v1 bytes
    * rather than serving them): every doc's stage scores, tuned theta,
    * stage
    * verdicts, keep bit, and first-rejecting stage. The funnel verdict
    * is deterministic per corpus snapshot and consumed by five
    * registry queries (q163–q167) plus the nightly health stage — each
    * previously re-derived the full funnel (a tokenize pass + both
    * model layers) per query; now the first touch per corpus snapshot
    * pays ONE build ([[funnelStackFromLayers]]) and every consumer —
    * and every later SESSION — reads one narrow per-doc parquet. At
    * 100 TB the consumers' bill drops from five corpus passes per
    * audit batch to one rescore per snapshot plus bounded rollups.
    */
  def funnelStack(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuild(s, d, "funnel_stack_v2")(
      funnelStackFromLayers(s, d))

  /** Times the funnel stack was DERIVED this JVM (the nbDerives
    * pattern): specs assert consumers serve the landed artifact
    * without this moving.
    */
  val funnelDerives = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Train the distilled quality classifier: logistic regression over
    * hashed unigram term frequencies, labeled by the q32 closed-form
    * quality signal — the production recipe for scaling an expensive
    * quality judgment (an LLM judge, a human-labeled sample) to a
    * 100 TB corpus: compute the teacher on a bounded sample, distill
    * into a linear model, serve the model as a pure projection at
    * ingest. Training cost is maxIter treeAggregate passes over the
    * labeled slice (each partial one dense 2^15 vector); the fitted
    * model broadcasts whole. Deterministic given fixed input
    * partitioning (LBFGS with ordered tree aggregation).
    */
  /** Fitted quality models memoized per (session, corpus) — train once,
    * serve everywhere (the bpeCache/index-cache convention); the model
    * itself is a few hundred KB of coefficients.
    */
  private val qcCache = new Memo[Unit, org.apache.spark.ml.PipelineModel]()

  /** Evict this module's session memos for a corpus dir — the Prep
    * half of the corpus-change hooks (Curation.invalidate for
    * compaction, Curation.appendRefresh for nightly appends): after
    * the corpus changes, the cached merge lists, token vocabulary,
    * and fitted quality model all describe the OLD bytes, and a memo
    * hit would silently mix old-corpus state into new-corpus queries.
    */
  def invalidate(d: String): Unit = {
    bpeCache.invalidate(d)
    vocabCache.invalidate(d)
    qcCache.invalidate(d)
  }

  def qualityModelCached(s: SparkSession, d: String): org.apache.spark.ml.PipelineModel = {
    // session memo -> persisted model -> LBFGS fit (deterministic given
    // the fixed input partitioning, so served == refit): the nightly
    // fresh session loads coefficients instead of re-paying 20
    // treeAggregate passes
    qcCache(s, d)(
      DerivedCache.orBuildModel(s, d, "quality_model_v1")(
        trainQualityModel(spread(docs(s, d)))))
  }

  def trainQualityModel(docFrame: DataFrame): org.apache.spark.ml.PipelineModel = {
    val stopArr = array(TrainingData.enStop.map(lit): _*)
    val tok = tokens(col("text"))
    val teacher = docFrame.select(col("doc_id"), tok.as("tok"),
      (least(lit(1.0), size(tok) / lit(64.0)) *
        (lit(0.5) + size(filter(tok, t => array_contains(stopArr, t)))
          .cast("double") / size(tok))).as("q"))
    val train = teacher
      .withColumn("label",
        when(col("q") >= QcHi, 1.0).when(col("q") <= QcLo, 0.0))
      .filter(col("label").isNotNull)
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("tok").setOutputCol("features")
      .setNumFeatures(QcNumFeatures)
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(20).setRegParam(0.01)
    new org.apache.spark.ml.Pipeline().setStages(Array(tf, lr)).fit(train)
  }

  /** Score a (doc_id, ..., text) frame with a fitted quality model:
    * hashing + dot product only — no shuffle, no state, stream-legal.
    * Adds `p_hi`, the 4dp probability the doc is high-quality.
    */
  def scoreQuality(model: org.apache.spark.ml.PipelineModel,
                   frame: DataFrame): DataFrame =
    model.transform(frame.withColumn("tok", tokens(col("text"))))
      .withColumn("p_hi",
        round(element_at(
          org.apache.spark.ml.functions.vector_to_array(col("probability")), 2), 4))
      .drop("tok", "features", "rawPrediction", "probability", "prediction")

  /** Number of BPE merges q131 learns. Production tokenizers learn
    * 30k-100k; the loop shape (vocab-bounded pair-count passes, one
    * argmax per step) is identical at any K.
    */
  val BpeK = 16

  /** One BPE merge applied to a symbol array as a codegen'd fold —
    * greedy left-to-right, non-overlapping, exactly the sequential
    * tokenizer-training semantics: append each symbol unless the
    * accumulator tail is `l` and the symbol is `r`, in which case the
    * tail becomes the merged symbol. A tail merged THIS pass can never
    * re-merge (that would need l == l+r, impossible for nonempty r).
    */
  private[operators] def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 and
             element_at(acc, -1) === lit(l) and (s === lit(r)),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** q131's body: learn the first `k` byte-pair-encoding merges over the
    * corpus — the tokenizer-training step of a pretraining pipeline
    * (Sennrich et al. 2016), through [[bpeMergeList]] at `batch = 1`, the
    * exact sequential learner. All per-step work is bounded by the WORD
    * VOCABULARY, not the corpus: the (word, count) table is built in one
    * corpus pass, and each step counts adjacent-symbol pairs weighted by
    * word count and applies the winning merge. Ties break (count desc,
    * left, right) so the merge list is deterministic on any cluster.
    * Returns (step, left, right, pair_count), one row per learned merge.
    */
  def bpeMerges(docFrame: DataFrame, k: Int): DataFrame = {
    val spark = docFrame.sparkSession
    import spark.implicits._
    spark.createDataset(bpeMergeList(docFrame, k))
      .toDF("step", "left", "right", "pair_count")
  }

  /** Distinct-word ceiling under which BPE learning folds DRIVER-SIDE.
    * The (word, count) table is vocab-bounded by construction, so when
    * it is small the learning rounds are pure in-memory folds — no
    * reason to pay a shuffle round of per-job latency per step (the
    * dominant cost at bench scale: ~40 s of scheduling for ~0 s of
    * math). 2M words × ~16 bytes ≈ 32 MB collected — comfortably
    * driver-sized. An open-web vocabulary (~1e8 rows with typos/URLs)
    * stays on the distributed rounds, which are bit-identical (BpeSpec
    * pins both sides against the sequential reference).
    */
  val BpeDriverVocabMax = 2000000L

  /** The BPE learner behind [[bpeMerges]], returning the merge list as a
    * driver value (K rows — bounded by construction). One corpus pass
    * builds the cached (word, count) table. Each ROUND then runs ONE
    * pair count and admits up to `batch` mutually non-interacting merges
    * from the sorted pair table ([[admitBatch]]), applies them together,
    * and recounts. A round's first admission is always the sequential
    * argmax, so `batch = 1` is the exact sequential learner (q131's
    * oracle recomputes it independently). A larger batch is the
    * production-vocab-size form (SentencePiece-style): ~k/batch rounds
    * instead of k — a few hundred instead of 50k at a 32k-100k vocabulary.
    * Within a round the admitted merges are count-invariant to each
    * other, and across rounds counts are exact by recount. On real
    * corpora the list tracks the sequential one exactly (BpeSpec pins
    * equality at k=1024); adversarially-tied pattern families can
    * diverge past a round's first admission — the documented
    * batched-training trade. Under `driverVocabMax` distinct words the
    * rounds fold driver-side; above it each round is ONE Spark action
    * over a checkpointed vocab projection.
    */
  def bpeMergeList(docFrame: DataFrame, k: Int, batch: Int = 1,
                   driverVocabMax: Long = BpeDriverVocabMax,
                   byteLevel: Boolean = false)
      : Seq[(Long, String, String, Long)] = {
    require(batch >= 1, s"BPE batch must be at least 1, got $batch")
    val wc = docFrame
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).cast("long").as("wc"))
      .persist()
    val nVocab = wc.count()
    if (nVocab <= driverVocabMax) {
      val rows = wc.collect()
        .map(r => (initialSyms(r.getString(0), byteLevel), r.getLong(1)))
      wc.unpersist()
      bpeLearnLocal(rows, k, batch)
    } else
      try bpeLearnDistributed(
        wc.select(initialSymsCol(col("w"), byteLevel).as("syms"),
                  col("wc")), k, batch)
      finally wc.unpersist()
  }

  /** The ONE knob byte-level mode turns: the initial symbol split.
    * Char mode splits into code points; byte mode splits the word's
    * UTF-8 bytes into fixed-width lowercase-hex symbols ("00".."ff"),
    * so the alphabet is CLOSED BY CONSTRUCTION — 256 symbols cover
    * every string any crawl will ever deliver, and the `has_oov`
    * quarantine path is structurally unreachable for text (the reason
    * production tokenizers are byte-level — GPT-2, Sennrich §3.2
    * successors). Everything downstream — pair counting, argmax
    * tie-break (lowercase fixed-width hex sorts identically under
    * [[utf8Lt]] and numeric byte order), greedy merge application,
    * batching — is symbol-agnostic and shared verbatim with char mode.
    */
  private[operators] def initialSyms(w: String, byteLevel: Boolean)
      : Array[String] =
    if (byteLevel)
      w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => f"${b & 0xff}%02x")
    else w.split("")

  private[operators] def initialSymsCol(w: Column, byteLevel: Boolean)
      : Column =
    if (byteLevel) {
      val h = lower(hex(encode(w, "UTF-8")))
      transform(sequence(lit(0), (length(h) / lit(2)).cast("int") - 1),
                i => h.substr(i * lit(2) + lit(1), lit(2)))
    } else split(w, "")

  /** Spark's string sort is byte-wise over UTF-8 (`UTF8String.compareTo`)
    * = code-point order; Java's `String.compareTo` is UTF-16 code-UNIT
    * order, which disagrees above the BMP. The driver fold must break
    * ties exactly as the distributed argmax does, on any input.
    */
  private[operators] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Greedy left-to-right non-overlapping merge of (l, r) in a symbol
    * array — the imperative twin of the [[applyMerge]] codegen fold,
    * shared by the driver-side learner and the large-vocabulary
    * imperative encoder so the two can never drift.
    */
  private def applyMergeLocal(syms: Array[String], l: String,
                              r: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** Greedy batch admission over a DESC-sorted (left, right, count)
    * candidate list, processed in COUNT-TIE GROUPS: a pair joins the
    * batch when its left, right, AND merged symbol are untouched by
    * earlier admissions — non-interacting merges leave each other's
    * counts exactly as the round's recount measured them. The moment
    * ANY member of a count level interacts with the admitted set, the
    * batch stops at that level: a pair the admitted merges decay or
    * CREATE can hold that same count and win the sequential (l, r)
    * tie-break against a later candidate (the `c,o` → `co,lu` cascade:
    * merging (c,o) creates (co,lu) at the full tied count, which
    * lex-beats (lu,m)) — only the next round's exact recount can rank
    * that level. Created pairs can never outrank a HIGHER level: a
    * created pair's count is bounded by its source pair's, and a
    * source at or above the level was either admitted or has already
    * stopped the scan. The first admission of every round is therefore
    * always the exact sequential argmax, and each admission extends it
    * only where counts are provably untouched. Only the first `limit`
    * candidates are read in order; the rest of the last one's count
    * level is only tested for interaction, so it may come unordered.
    */
  private def admitBatch(sorted: Seq[(String, String, Long)],
                         limit: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.HashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    def interacts(p: (String, String, Long)): Boolean =
      used(p._1) || used(p._2) || used(p._1 + p._2)
    var idx = 0
    var stop = false
    while (!stop && idx < sorted.length && out.length < limit) {
      val c = sorted(idx)._3
      var end = idx
      while (end < sorted.length && sorted(end)._3 == c) end += 1
      val group = sorted.slice(idx, end)
      if (out.nonEmpty && group.exists(interacts)) stop = true
      else {
        // every member is free w.r.t. prior admissions here; admit in
        // (l, r) order, but the moment an admission makes ANY pending
        // member of the level interacting, the level can no longer be
        // ranked safely (a pair created out of that member can tie at
        // this count and lex-beat the next candidate) — stop the batch
        var i = 0
        while (!stop && i < group.length && out.length < limit) {
          val (l, r, _) = group(i)
          out += group(i); used += l; used += r; used += (l + r)
          if (group.drop(i + 1).exists(interacts)) stop = true
          i += 1
        }
      }
      idx = end
    }
    out.toSeq
  }


  /** Driver-side rounds for bounded vocabularies: the same pair counting
    * (adjacent symbols weighted by word count), the same (count desc,
    * left, right) order in Spark's string order, the same greedy
    * left-to-right non-overlapping merge application ([[applyMerge]]'s
    * fold semantics). Zero jobs.
    */
  private def bpeLearnLocal(vocab: Array[(Array[String], Long)],
                            k: Int, batch: Int)
      : Seq[(Long, String, String, Long)] = {
    var cur = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    val str = Ordering.fromLessThan(utf8Lt)
    val ord = Ordering.by[(String, String, Long), Long](-_._3)
      .orElseBy(_._1)(str).orElseBy(_._2)(str)
    while (merges.length < k && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- cur; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + c
      }
      if (counts.isEmpty) done = true
      else {
        // admitBatch reads only the `limit` best in order: a bounded heap
        // finds them without sorting the whole pair table
        val limit = math.min(batch, k - merges.length)
        val best = scala.collection.mutable.PriorityQueue.empty(ord)
        for (((l, r), c) <- counts) {
          best += ((l, r, c))
          if (best.size > limit) best.dequeue()
        }
        val head = best.dequeueAll.reverse
        val inHead = head.toSet
        val admitted = admitBatch(head ++ counts.iterator.collect {
          case ((l, r), c) if c == head.last._3 && !inHead((l, r, c)) =>
            (l, r, c)
        }, limit)
        for ((l, r, c) <- admitted) {
          merges += ((merges.length + 1L, l, r, c))
          cur = cur.map { case (syms, wcount) =>
            (applyMergeLocal(syms, l, r), wcount)
          }
        }
        if (admitted.isEmpty) done = true
      }
    }
    merges.toSeq
  }

  private def bpeLearnDistributed(vocab: DataFrame, k: Int, batch: Int)
      : Seq[(Long, String, String, Long)] = {
    // localCheckpoint per round, NOT persist: each round stacks
    // `batch` nested applyMerge folds, and without truncation the
    // logical plan deepens by that much every round — analysis alone
    // OOMs the driver long before data does (the connected-components
    // lineage lesson, Curation.scala). The checkpoint is lazy: the next
    // round's pair-count job computes and keeps it, so a round costs one
    // action, not two. On a cluster a reliable checkpoint dir gives the
    // same truncation with fault tolerance.
    var cur = vocab.localCheckpoint(false)
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    while (merges.length < k && !done) {
      // one job per ROUND: the sorted head of the pair table, wide
      // enough to survive admission skips (interacting pairs wait for
      // the next recount anyway)
      val fetch = math.max(batch * 8, 64)
      val top = cur
        .select(col("wc"), explode(filter(zip_with(
            col("syms"),
            slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
            (a, b) => struct(a.as("l"), b.as("r"))),
          p => p.getField("r").isNotNull)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("wc").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(fetch).collect()
      // the collect above materialized `cur`'s checkpoint; the previous
      // generation can no longer be needed by anything
      if (prev != null) {
        Curation.ckptRdd(prev).foreach(_.unpersist(false)); prev = null
      }
      if (top.isEmpty) done = true
      else {
        val rows = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        // a truncated fetch may have cut a count-tie group mid-way;
        // admission reasons about WHOLE levels, so drop the possibly-
        // incomplete trailing level (the next recount will serve it)
        val cand: Seq[(String, String, Long)] =
          if (rows.length == fetch && rows.length > 1)
            rows.takeWhile(_._3 != rows.last._3).toSeq
          else rows.toSeq
        val fromLevels = admitBatch(
          cand, math.min(batch, k - merges.length))
        // degenerate fetch (one giant tie level): fall back to the
        // plain sequential argmax — the head row is always exact
        val admitted =
          if (fromLevels.nonEmpty) fromLevels else Seq(rows.head)
        for ((l, r, c) <- admitted)
          merges += ((merges.length + 1L, l, r, c))
        // the whole batch applies as one projection chain, then the
        // round's checkpoint truncates it
        val next = admitted.foldLeft(cur)((df, m) =>
            df.withColumn("syms", applyMerge(col("syms"), m._1, m._2)))
          .select(col("syms"), col("wc")).localCheckpoint(false)
        prev = cur
        cur = next
      }
    }
    if (prev != null) Curation.ckptRdd(prev).foreach(_.unpersist(false))
    Curation.ckptRdd(cur).foreach(_.unpersist(false))
    merges.toSeq
  }

  /** Chained-codegen-fold ceiling for merge application: up to this
    * many merges apply as [[applyMerge]] column folds (the oracled
    * q133/q137 plan shape); past it — a production 1k-100k vocabulary —
    * the DISTINCT-WORD table encodes imperatively per partition
    * (same per-merge fold semantics via [[applyMergeLocal]], with a
    * substring pre-check skipping merges a word cannot contain), since
    * a thousand nested aggregate expressions is an analysis-time
    * explosion, not a plan.
    */
  val BpeFoldMax = 32

  /** Subword symbol arrays for a distinct-word frame under an
    * arbitrarily long merge list — the large-vocabulary encode path
    * behind [[bpeTokenCounts]]. Vocab-bounded mapPartitions: the merge
    * list travels once per executor in the closure (KBs), each word
    * folds the merges in learned order.
    */
  private def encodeWordsImperative(words: DataFrame,
                                    merges: Seq[(String, String)])
      : DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val mergesArr = merges.map { case (l, r) => (l, r, l + r) }.toArray
    words.select(col("w")).as[String].mapPartitions { it =>
      it.map { w =>
        var syms = w.split("")
        var i = 0
        while (i < mergesArr.length) {
          val (l, r, lr) = mergesArr(i)
          // a word that nowhere contains the merged characters cannot
          // contain the adjacent symbol pair — skip the pass
          if (w.contains(lr)) syms = applyMergeLocal(syms, l, r)
          i += 1
        }
        (w, syms)
      }
    }.toDF("w", "syms")
  }

  /** Merge lists are tiny driver values (K rows) but cost K distributed
    * passes to learn — memoized per (session, corpus, byteLevel) like
    * the index caches ([[graft.Memo]]) so q131 (the list) and q133 (its
    * application) train once.
    */
  private val bpeCache = new Memo[Boolean, Seq[(Long, String, String, Long)]]()

  def bpeMergesCached(s: SparkSession, d: String,
                      byteLevel: Boolean = false)
      : Seq[(Long, String, String, Long)] =
    bpeCache(s, d, byteLevel)(
      bpeMergeList(spread(docs(s, d)), BpeK, byteLevel = byteLevel))

  /** q133's body: tokenize the corpus with a LEARNED merge list — the
    * apply side of [[bpeMerges]], closing the tokenizer loop (learn on
    * the corpus, then count real subword tokens per document; q89's
    * regex heuristic becomes exact). Scale shape: the merges fold runs
    * over the DISTINCT-WORD table only (vocab-bounded, K chained
    * codegen folds), then per-doc counts come from one corpus-token
    * shuffle joined to the vocab-sized subword-count table — hinted
    * onto the shuffle path (q112 convention: an open-web vocabulary
    * must never be planned broadcast).
    */
  def bpeTokenCounts(docFrame: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = docFrame.select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0).distinct()
    // short (oracled) lists apply as chained codegen folds; a
    // production-size list encodes imperatively over the same
    // vocab-bounded table — see [[BpeFoldMax]]
    val encoded =
      if (merges.size <= BpeFoldMax)
        merges.foldLeft(words.withColumn("syms", split(col("w"), "")))(
          (df, m) => df.withColumn("syms", applyMerge(col("syms"), m._1, m._2)))
      else encodeWordsImperative(words, merges)
    val sub = encoded
      .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
      .hint("shuffle_hash")
    docFrame.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .join(sub, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
           sum("n_sub").cast("long").as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        round(col("n_subwords") * lit(1.0) / col("n_words"), 4)
          .as("subwords_per_word"))
  }

  /** Token-ID vocabulary under the learned q131 merges — the convention
    * q137's packed-ID export and its oracle share: id 0 is the inter-word
    * separator (the whitespace boundary the packer's word stream implies),
    * base characters take 1..C in binary UTF-8 order ([[utf8Lt]], the
    * Spark sort order), merge step i takes C+i, and a symbol string that
    * two different merge paths both produce keeps its smallest id. The
    * map is alphabet-bounded (corpus character set + K merges — hundreds
    * of entries, not vocabulary-sized), so it is the one BPE artifact
    * that legitimately travels as a literal/broadcast; memoized like
    * the merge list.
    */
  private val vocabCache = new Memo[Boolean, Map[String, Long]]()

  def tokenVocab(s: SparkSession, d: String,
                 byteLevel: Boolean = false): Map[String, Long] =
    vocabCache(s, d, byteLevel) {
      val merges = bpeMergesCached(s, d, byteLevel)
      // byte mode's alphabet is the full 256-symbol hex set REGARDLESS
      // of the corpus — ids 1..256 are corpus-independent, which is the
      // whole point: no string can fall outside it. (Lowercase
      // fixed-width hex sorts identically under utf8Lt and numerically,
      // so "alphabet order" is byte order.) Char mode stays the scanned
      // corpus character set.
      val chars =
        if (byteLevel) (0 until 256).map(i => f"$i%02x").toArray
        else spread(docs(s, d))
          .select(explode(tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .select(explode(split(col("w"), "")).as("c"))
          .filter(length(col("c")) > 0)
          .distinct()
          .collect().map(_.getString(0)).sortWith(utf8Lt)
      val n = chars.length.toLong
      val pairs = chars.toSeq.zipWithIndex
        .map { case (c, i) => c -> (i + 1).toLong } ++
        merges.map { case (step, l, r, _) => (l + r) -> (n + step) }
      pairs.groupBy(_._1).map { case (sym, ids) => sym -> ids.map(_._2).min }
    }

  /** Every distinct corpus word mapped to its subword-ID array under the
    * learned merges: K chained codegen folds over the DISTINCT-WORD table
    * (vocab-bounded — the q133 shape), then a per-symbol lookup in the
    * alphabet-sized [[tokenVocab]] literal. The RESULT is vocabulary-
    * sized: callers joining it to corpus-sized frames hint shuffle_hash
    * (the q112 no-broadcast-vocabulary convention).
    */
  def wordTokenIds(s: SparkSession, d: String): DataFrame =
    wordIdsFor(
      spread(docs(s, d))
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0).distinct(),
      s, d)

  /** [[wordTokenIds]]'s body over ANY distinct-word frame `words(w)` —
    * the cached corpus merges and vocabulary apply to words the corpus
    * never saw (a crawl stream's novel words), producing exactly the IDs
    * the corpus tokenizer would assign them. In char mode, a symbol
    * outside the corpus ALPHABET has no id (closed-alphabet contract):
    * its slot surfaces as null in `ids` rather than a silent wrong id —
    * callers route such docs to a byte-fallback or quarantine per
    * policy. `byteLevel = true` IS that byte fallback made primary: the
    * 256-hex-symbol alphabet covers every string, so null ids cannot
    * occur and the quarantine path retires for text (ByteBpeSpec pins
    * the no-null and decode-round-trip properties on novel Unicode).
    */
  def wordIdsFor(words: DataFrame, s: SparkSession, d: String,
                 byteLevel: Boolean = false): DataFrame = {
    val merges = bpeMergesCached(s, d, byteLevel)
    val symMap = map(tokenVocab(s, d, byteLevel).toSeq.sortBy(_._1).flatMap {
      case (sym, id) => Seq(lit(sym), lit(id)) }: _*)
    merges.foldLeft(
        words.withColumn("syms", initialSymsCol(col("w"), byteLevel)))(
        (df, m) => df.withColumn("syms", applyMerge(col("syms"), m._2, m._3)))
      .select(col("w"),
        transform(col("syms"), sm => element_at(symMap, sm)).as("ids"))
  }

  /** The decode side of byte-level ids — what makes the byte mode a
    * ROUND-TRIP tokenizer rather than a counter: map each id back to
    * its hex symbol through the inverted [[tokenVocab]] (alphabet-
    * bounded literal, like the encode side), concatenate, unhex, and
    * UTF-8-decode. Id 0 (the inter-word separator of the packed-ID
    * convention, Curation.tokenizedDocs) decodes to the space byte it
    * stands for, so whole-doc id sequences decode to the original
    * text. Inverting the min-id vocab is exact: every id the encode
    * side can emit appears in the forward map.
    */
  def byteIdsToText(ids: Column, s: SparkSession, d: String): Column = {
    val inv = map(
      (Seq(0L -> "20") ++ tokenVocab(s, d, byteLevel = true).toSeq
        .map { case (sym, id) => id -> sym })
        .sortBy(_._1)
        .flatMap { case (id, sym) => Seq(lit(id), lit(sym)) }: _*)
    decode(unhex(concat_ws("",
      transform(ids, i => element_at(inv, i)))), "UTF-8")
  }

  /** q130's body, reusable on any (doc_id, text) frame: exact-substring
    * duplication spans at [[SubstrG]]-token granularity. A gram position
    * is duplicated when its 20-token run occurs more than once anywhere
    * in the frame (including twice within one document); overlapping or
    * adjacent duplicated runs merge into maximal spans (the q24 islands
    * shape — lag + running sum per doc). Returns one row per document
    * that carries at least one duplicated run: (doc_id, n_spans,
    * dup_tokens, dup_share). Only 16-byte digests and (doc_id, pos)
    * pairs shuffle; span windows are bounded by single-doc length.
    */
  /** Shared gram pass for q130/q134: every [[SubstrG]]-token run as
    * (doc_id, n, p, h). r20: gram identity is the O(n) rolling 64-bit
    * hash ([[graft.functions.TextHashes.rollingGramHashes]]) instead of
    * a per-position O(G) slice+join+md5 — the gram identity is
    * engine-local (both engines recompute their own duplicate classes;
    * only counts and the cleaned-text digest cross the oracle), so the
    * digest only has to SEPARATE grams, and an 8-byte long shuffles and
    * window-sorts at a quarter of the 32-hex-char md5's width
    * (guide §2.3). The doc length rides along as 8 bytes/gram so no
    * downstream corpus-sized doc join is needed.
    */
  private def substrGrams(docFrame: DataFrame): DataFrame = {
    val G = SubstrG
    docFrame
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .withColumn("n", size(col("tok")).cast("long"))
      .filter(col("n") >= G)
      .select(col("doc_id"), col("n"),
        posexplode(graft.functions.TextHashes.rolling_gram_hash(
          col("tok"), G.toInt)))
      .select(col("doc_id"), col("n"),
              col("pos").cast("long").as("p"), col("col").as("h"))
  }

  /** Merge duplicated gram positions into maximal spans — the q24
    * islands shape, windows bounded by single-doc length. `extraKeys`
    * lets q134 keep separate span classes per document.
    */
  private def substrSpans(pos: DataFrame, extraKeys: String*): DataFrame = {
    val G = SubstrG
    val keys = "doc_id" +: extraKeys
    val w = Window.partitionBy(keys.map(col): _*).orderBy("p")
    pos
      .withColumn("ns",
        when(lag(col("p"), 1).over(w).isNull
          .or(col("p") > lag(col("p"), 1).over(w) + G), 1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(w))
      .groupBy(("sid" +: keys).map(col): _*)
      .agg(min("p").as("p0"), (max(col("p")) + G).as("p1"))
  }

  def substringDedup(docFrame: DataFrame): DataFrame = {
    // ONE gram-generation pass. The naive spelling (count per digest via
    // groupBy, join the counts back) runs the expensive tokenize+slice+md5
    // subtree TWICE — the two consumers need different partitionings, so
    // AQE cannot reuse the exchange — and broadcasts an unbounded dup-
    // digest set. Instead: per-digest multiplicity as a whole-partition
    // window over the digest shuffle (the distributed analogue of the
    // paper's suffix-array sort — one global digest sort, partitions are
    // near-singleton because cnt > 1 is the rare case).
    val gr = substrGrams(docFrame)
    val dup = gr
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("cnt") > 1)
      .select("doc_id", "n", "p")
    substrSpans(dup, "n")
      .groupBy("doc_id", "n")
      .agg(count(lit(1)).cast("long").as("n_spans"),
           sum(col("p1") - col("p0")).cast("long").as("dup_tokens"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens") * lit(1.0) / col("n"), 4).as("dup_share"))
  }

  /** q134's body: the REMOVAL transform for exact-substring dedup (the
    * apply side of q130, Lee et al.'s actual cleanup). Per duplicated
    * gram, the canonical occurrence is the global (doc_id, p) minimum;
    * non-canonical positions form REMOVABLE spans, canonical positions
    * of duplicated grams form PROTECTED spans, and a token survives iff
    * it is outside every removable span OR inside a protected one — so
    * exactly one copy of each duplicated passage survives intact even
    * when self-overlapping repetition (period-1 runs) makes the two
    * classes overlap. Returns every doc as (doc_id, n_tokens,
    * kept_tokens, cleaned_md5) — the digest proves the reassembled
    * text, not just counts. Scale shape: same single gram pass as q130;
    * canonical rank and multiplicity are two window functions over ONE
    * digest exchange; span classes collapse per doc to bounded arrays;
    * the cleanup itself is a positional-lambda filter projection —
    * tokens never join row-by-row against spans.
    */
  def substringDedupApply(docFrame: DataFrame): DataFrame = {
    val b = docFrame
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .withColumn("n", size(col("tok")).cast("long"))
    val wh = Window.partitionBy("h")
    val rk = substrGrams(docFrame)
      .withColumn("cnt", count(lit(1)).over(wh))
      .withColumn("rn", row_number().over(wh.orderBy("doc_id", "p")))
      .filter(col("cnt") > 1)
      .select(col("doc_id"), col("p"),
              when(col("rn") > 1, lit("r")).otherwise(lit("p")).as("cls"))
    val spans = substrSpans(rk, "cls")
      .groupBy("doc_id")
      .agg(
        collect_list(when(col("cls") === "r", struct(col("p0"), col("p1"))))
          .as("rem"),
        collect_list(when(col("cls") === "p", struct(col("p0"), col("p1"))))
          .as("prot"))
    val emptySpans = array().cast("array<struct<p0:bigint,p1:bigint>>")
    val inSpan = (sp: Column, i: Column) =>
      exists(sp, s => i >= s.getField("p0") and i < s.getField("p1"))
    val kept = filter(col("tok"), (x, i) =>
      not(inSpan(col("rem"), i.cast("long")))
        .or(inSpan(col("prot"), i.cast("long"))))
    // the span table is corpus-row-sized (one row per doc carrying any
    // duplication) — keep it off the planner's broadcast path
    b.join(spans.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("rem", coalesce(col("rem"), emptySpans))
      .withColumn("prot", coalesce(col("prot"), emptySpans))
      .select(col("doc_id"), col("n").as("n_tokens"),
        size(kept).cast("long").as("kept_tokens"),
        md5(array_join(kept, " ").cast("binary")).as("cleaned_md5"))
  }

  /** q136 geometry: the token budget the epoch plan splits across
    * sources (exact integer allocation by weight share) and the
    * data-constrained repeat cap (Muennighoff et al. 2023's ~4-epoch
    * rule).
    */
  val EpochBudget = 100000L
  val MaxEpochs = 4L

  /** The per-source corpus statistics DERIVATION behind q112/q125/q136/
    * q149: one quality+token pass and one KL pass over the corpus →
    * (source, n_docs, mean_quality, avail_tokens, n_terms, kl, w_int) —
    * a sources-bounded table. [[sourceStats]] persists it per corpus
    * snapshot; this uncached plan is what the one build pass executes
    * (and what PlanSpec's stage-reuse pin audits).
    */
  def sourceStatsPlan(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(TrainingData.enStop.map(lit): _*)
    val tok = split(col("text"), " ")
    val quality = round(least(lit(1.0), size(tok) / lit(64.0)) *
      (lit(0.5) +
        size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
          size(tok)), 4)
    val q = spread(docs(s, d))
      .select(col("source"), quality.as("quality"),
              size(tok).cast("long").as("nt"))
      .groupBy("source")
      .agg((floor(sum(round(col("quality") * 10000, 0).cast("long"))
              / count(lit(1)) + lit(0.5)) / lit(10000.0)).as("mean_quality"),
           count(lit(1)).cast("long").as("n_docs"),
           sum("nt").cast("long").as("avail_tokens"))
    q.join(sourceKl(s, d), "source")
      .withColumn("w_int",
        floor(col("mean_quality") / (lit(1.0) + col("kl")) * 100000000
              + 0.5).cast("long"))
  }

  /** The KL pass's additive partial layer — (source, term, n_st) — as
    * an APPEND-INCREMENTAL artifact: counts are a commutative monoid
    * over corpus files, so a nightly append derives counts over the new
    * files only and merges by sum, bit-identical to a full recount at a
    * bill that scales with the appended slice.
    */
  def sourceTermCounts(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "source_term_counts_v1")(
      sourceTermCountsOf(spread(docs(s, d))))(
      files => sourceTermCountsOf(spread(s.read.parquet(files: _*))))(
      (old, dl) => old.unionByName(dl).groupBy("source", "term")
        .agg(sum("n_st").cast("long").as("n_st")))

  /** The quality pass's additive partial layer — per source, the
    * 1e-4-scaled integer quality sum, doc count, and token sum — the
    * second append-incremental artifact behind [[sourceStats]]. The
    * table is sources-bounded, so the merge is a toy aggregate; the
    * win is that the corpus-sized quality scan runs over new files
    * only.
    */
  def sourceQualityParts(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "source_quality_parts_v1")(
      sourceQualityPartsOf(spread(docs(s, d))))(
      files => sourceQualityPartsOf(spread(s.read.parquet(files: _*))))(
      (old, dl) => old.unionByName(dl).groupBy("source")
        .agg(sum("q_sum").cast("long").as("q_sum"),
             sum("n_docs").cast("long").as("n_docs"),
             sum("tok_sum").cast("long").as("tok_sum")))

  private def sourceQualityPartsOf(docFrame: DataFrame): DataFrame = {
    val stopArr = array(TrainingData.enStop.map(lit): _*)
    val tok = split(col("text"), " ")
    val quality = round(least(lit(1.0), size(tok) / lit(64.0)) *
      (lit(0.5) +
        size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
          size(tok)), 4)
    docFrame
      .select(col("source"), quality.as("quality"),
              size(tok).cast("long").as("nt"))
      .groupBy("source")
      .agg(sum(round(col("quality") * 10000, 0).cast("long")).as("q_sum"),
           count(lit(1)).cast("long").as("n_docs"),
           sum("nt").cast("long").as("tok_sum"))
  }

  /** [[sourceStatsPlan]]'s OUTPUT recomputed from the two incremental
    * partial artifacts: mean_quality's integer numerator and the KL
    * term counts merge additively, and the finalize here is the SAME
    * expression tree as the one-pass plan over the same longs — so the
    * result is bit-identical whether the corpus was derived in one shot
    * or grown file-by-file. Work is vocabulary-bounded (no corpus
    * scan): this is what a source_stats rebuild costs after an append.
    */
  def sourceStatsFromParts(s: SparkSession, d: String): DataFrame = {
    val q = sourceQualityParts(s, d)
      .select(col("source"),
        (floor(col("q_sum") / col("n_docs") + lit(0.5)) / lit(10000.0))
          .as("mean_quality"),
        col("n_docs"), col("tok_sum").as("avail_tokens"))
    q.join(klFromTermCounts(sourceTermCounts(s, d)), "source")
      .withColumn("w_int",
        floor(col("mean_quality") / (lit(1.0) + col("kl")) * 100000000
              + 0.5).cast("long"))
  }

  /** [[sourceStatsPlan]] served from the DerivedCache: q112's KL
    * report, q125's weights, q136's plan inputs, and q149's natural
    * token shares all read this one persisted sources-bounded table
    * instead of each re-running the two corpus passes per session.
    * The build path composes from the APPEND-INCREMENTAL partial
    * artifacts ([[sourceStatsFromParts]]), so a nightly append re-pays
    * only the appended slice plus a vocabulary-bounded finalize — not
    * the two corpus passes; [[sourceStatsPlan]] remains the one-pass
    * derivation for plan audits and first-principles verification.
    */
  def sourceStats(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuild(s, d, "source_stats_v1")(sourceStatsFromParts(s, d))

  /** q125's core, shared with q136: per source, the scaled-int mean
    * quality, q112's KL drift, and the 1e-8-scaled integer mixture
    * weight w_int ∝ mean_quality / (1 + kl) — normalization happens in
    * each consumer over the integer sum. Serves from [[sourceStats]].
    */
  def mixtureWeightsCore(s: SparkSession, d: String): DataFrame =
    sourceStats(s, d)
      .select("source", "mean_quality", "n_docs", "kl", "w_int")

  /** q149's annealed schedule, shared with q153's executor: per
    * (source, epoch), the largest-remainder apportionment of the epoch
    * budget over shares interpolating linearly natural → uniform.
    * decimal(38,0) arithmetic throughout — exact to 1e38, no long
    * overflow at 100 TB. Natural shares read [[sourceStats]]'s
    * persisted avail_tokens.
    */
  def annealSchedule(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val nat = sourceStats(s, d)
      .select(col("source"), col("avail_tokens").as("n_s"))
    val tot = nat.agg(sum("n_s").as("t_tok"),
                      count(lit(1)).cast("long").as("n_src"))
    val ep = nat.crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"), col("t_tok"), col("n_src"),
              explode(sequence(lit(1L), lit(MaxEpochs))).as("epoch"))
    val eP = (col("epoch") - lit(1L)).cast(dec)
    val pNum = (lit(MaxEpochs - 1).cast(dec) - eP) *
        col("n_s").cast(dec) * col("n_src").cast(dec) +
      eP * col("t_tok").cast(dec)
    val pDen = lit(MaxEpochs - 1).cast(dec) *
      col("t_tok").cast(dec) * col("n_src").cast(dec)
    val bp = lit(EpochBudget).cast(dec) * pNum
    // floor-division via the exact-mod identity — a plain decimal
    // divide rounds HALF_UP at result scale, which could cross an
    // integer boundary when a remainder sits within 1e-7 of den
    val base = ((bp - (bp % pDen)) / pDen).cast("long")
    val wE = Window.partitionBy("epoch")
    val wR = Window.partitionBy("epoch")
      .orderBy(col("rem").desc, col("source"))
    ep.select(col("source"), col("epoch"),
              base.as("base"), (bp % pDen).as("rem"))
      .withColumn("deficit", lit(EpochBudget) - sum("base").over(wE))
      .withColumn("rnk", row_number().over(wR))
      .select(col("source"), col("epoch"),
              (col("base") +
               when(col("rnk") <= col("deficit"), 1L).otherwise(0L))
                .as("alloc_tok"))
  }

  /** The q149 schedule's oracle CTE chain, shared verbatim by the q149
    * and q153 oracles so the two can never drift: `sched(source,
    * epoch, alloc_tok)` plus the `nat(source, n_s)` table the executor
    * joins back for the per-epoch grant decomposition.
    */
  private[operators] val annealOracleCtes: String =
    s"""t AS (SELECT source,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |           FROM documents),
       |nat AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_s
       |        FROM t GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS t_tok,
       |               CAST(count(*) AS BIGINT) AS n_src FROM nat),
       |ep AS (SELECT source, n_s, t_tok, n_src, epoch
       |       FROM nat CROSS JOIN tot CROSS JOIN
       |         (SELECT unnest(range(1, ${MaxEpochs} + 1)) AS epoch) e),
       |alg AS (SELECT source, epoch,
       |    CAST(${EpochBudget} AS HUGEINT) *
       |      ((CAST(${MaxEpochs} - 1 AS HUGEINT) - (epoch - 1)) * n_s * n_src
       |       + CAST(epoch - 1 AS HUGEINT) * t_tok) AS bp,
       |    CAST(${MaxEpochs} - 1 AS HUGEINT) * t_tok * n_src AS den
       |  FROM ep),
       |base AS (SELECT source, epoch,
       |           CAST(bp // den AS BIGINT) AS base, bp % den AS rem
       |         FROM alg),
       |fin AS (SELECT source, epoch, base,
       |    CAST(${EpochBudget} AS BIGINT) -
       |      sum(base) OVER (PARTITION BY epoch) AS deficit,
       |    row_number() OVER (PARTITION BY epoch
       |                       ORDER BY rem DESC, source) AS rnk
       |  FROM base),
       |sched AS (SELECT source, CAST(epoch AS BIGINT) AS epoch,
       |    CAST(base + CASE WHEN rnk <= deficit THEN 1 ELSE 0 END AS BIGINT)
       |      AS alloc_tok
       |  FROM fin)""".stripMargin

  /** The epoch-plan allocation algebra, shared by batch q136 (corpus
    * statistics, one global plan) and the per-window planner
    * (q138 / [[startEpochPlanner]]): given per-(group, source)
    * statistics (mean_quality, kl, avail_tokens), derive the mixture
    * weight w_int = floor(mean_quality / (1 + kl) * 1e8 + 0.5), the
    * exact integer budget split (budget * w_int DIV group-total — the
    * q109 integral-DIV convention), the [[MaxEpochs]] repeat cap,
    * realized epochs (the only division, 4dp), and the capped flag.
    * `groupCols` empty = one global plan; otherwise one plan per group
    * (e.g. win_ms). The per-group weight-total table is group-bounded
    * (sources x windows — tiny), so broadcast is the right side here,
    * unlike the vocabulary joins.
    */
  def epochPlanCore(stats: DataFrame, budget: Long = EpochBudget,
                    maxEpochs: Long = MaxEpochs,
                    groupCols: Seq[String] = Nil): DataFrame = {
    val w = stats.withColumn("w_int",
      floor(col("mean_quality") / (lit(1.0) + col("kl")) * 100000000
            + 0.5).cast("long"))
    val keyed =
      if (groupCols.isEmpty)
        w.crossJoin(broadcast(w.agg(sum("w_int").as("tw"))))
      else
        w.join(broadcast(w.groupBy(groupCols.map(col): _*)
                 .agg(sum("w_int").as("tw"))),
               groupCols)
    val planned = least(col("target_tokens"),
                        lit(maxEpochs) * col("avail_tokens"))
    keyed
      .withColumn("target_tokens",
        expr(s"CAST(($budget * w_int) DIV tw AS BIGINT)"))
      .select(groupCols.map(col) ++ Seq(
        col("source"), col("avail_tokens"), col("target_tokens"),
        planned.cast("long").as("planned_tokens"),
        round(planned.cast("double") / col("avail_tokens"), 4).as("epochs"),
        when(col("target_tokens") > lit(maxEpochs) * col("avail_tokens"), 1L)
          .otherwise(0L).as("capped")): _*)
  }

  /** The standard batch framing of the corpus as an event stream
    * (ts = 2026-01-01 + doc_id minutes) — what the windowed epoch-plan
    * family (q138/q141) and their oracles share.
    */
  def framedDocs(s: SparkSession, d: String): DataFrame =
    framedOf(spread(docs(s, d)))

  private def framedOf(docFrame: DataFrame): DataFrame =
    docFrame.select(
      expr("timestampadd(MINUTE, doc_id, TIMESTAMP'2026-01-01 00:00:00')")
        .as("ts"),
      col("doc_id"), col("source"), col("text"))

  /** The windowed (win_ms, source, term) counts as an APPEND-
    * INCREMENTAL artifact: a doc's window derives from its own doc_id,
    * so the counts are a commutative monoid over corpus files — the
    * nightly slice windows itself and merges by sum.
    */
  def winTermCounts(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "win_term_counts_1h_v1")(
      windowedTermCounts(framedDocs(s, d), "1 hour"))(
      files => windowedTermCounts(
        framedOf(spread(s.read.parquet(files: _*))), "1 hour"))(
      (old, dl) => old.unionByName(dl).groupBy("win_ms", "source", "term")
        .agg(sum("n_wt").cast("long").as("n_wt")))

  /** The windowed per-(win_ms, source) quality/volume partials as an
    * append-incremental artifact (integer sums — see
    * [[windowedSourcePartialsOf]]).
    */
  def winQualityParts(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "win_quality_parts_1h_v1")(
      windowedSourcePartialsOf(framedDocs(s, d), "1 hour"))(
      files => windowedSourcePartialsOf(
        framedOf(spread(s.read.parquet(files: _*))), "1 hour"))(
      (old, dl) => old.unionByName(dl).groupBy("win_ms", "source")
        .agg(sum("n_docs").cast("long").as("n_docs"),
             sum("qs").cast("long").as("qs"),
             sum("avail_tokens").cast("long").as("avail_tokens")))

  /** Per-(window, source) quality/volume stats JOINED with the KL drift
    * report under the standard 1-hour framing — the upstream table
    * q138's planner and q141's executor both start from, persisted as a
    * DerivedCache artifact. This is exactly the batch twin of what the
    * STREAMING path already lands on disk (the drift monitor's reports
    * + the planner's stats): in production these tables exist as
    * artifacts; a fresh batch session reads them rather than re-paying
    * the per-window vocabulary aggregate. The build composes from the
    * APPEND-INCREMENTAL windowed partial artifacts plus the corpus
    * reference derived from the source-term-count artifact — after a
    * nightly append the rebuild is vocabulary-bounded finalize work
    * over landed parquet, zero corpus passes ([[windowedPlanStatsPlan]]
    * remains the one-shot derivation for plan audits).
    */
  def windowedPlanStats(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuild(s, d, "win_plan_stats_1h_v1") {
      // the corpus reference DERIVES from the windowed count artifact
      // itself (every doc is in some window), so artifact and one-shot
      // plan share one reference definition on ANY corpus — deriving
      // it from a different table (or an unfiltered scan) would let
      // the two silently disagree on corpora with null-source docs
      val wtc = winTermCounts(s, d)
      val ref = wtc.groupBy("term").agg(sum("n_wt").cast("long").as("n_t"))
      finalizeWinStats(winQualityParts(s, d))
        .join(driftReportAgainst(wtc, ref)
                .select("win_ms", "source", "kl"),
              Seq("win_ms", "source"))
    }

  /** The uncached derivation behind [[windowedPlanStats]] — what the
    * one build pass runs; PlanSpec audits its join shapes here.
    */
  def windowedPlanStatsPlan(s: SparkSession, d: String): DataFrame = {
    val framed = framedDocs(s, d)
    val counts = windowedTermCounts(framed, "1 hour")
    // reference derived from the windowed counts — the SAME definition
    // the artifact build uses, so the audit plan and the persisted
    // table can never disagree (see [[windowedPlanStats]])
    val ref = counts.groupBy("term").agg(sum("n_wt").cast("long").as("n_t"))
    windowedSourceStats(framed, "1 hour")
      .join(driftReportAgainst(counts, ref)
              .select("win_ms", "source", "kl"),
            Seq("win_ms", "source"))
  }

  /** q135 geometry: shard count for the training-loader layout, and the
    * hash-prefix width (hex chars) that buckets each shard's hash order
    * for the two-phase position assignment. Widen the prefix as the
    * corpus grows — the offsets table has S * 16^width tiny rows and
    * every within-bucket window stays corpus/(S*16^width)-bounded.
    */
  val ShuffleShards = 32
  val ShufflePrefixLen = 2

  /** q135's body: deterministic global shuffle + shard assignment — the
    * terminal data-loading layout (Dolma/DataComp style): every doc
    * lands in one of S shards by content-free hash, in hash order
    * within the shard, so training order is reproducible, uniform, and
    * free of source/time locality. Two-phase position assignment (the
    * q108 pattern in hash space): phase 1 counts per (shard,
    * hash-prefix bucket) — bounded tiny rows — and prefix-sums offsets
    * per shard; phase 2 ranks only within each bucket. No window ever
    * partitions solely by shard over raw docs.
    */
  def shardShuffle(docFrame: DataFrame): DataFrame = {
    val s = lit(ShuffleShards)
    val hv = md5(col("doc_id").cast("string").cast("binary"))
    val base = docFrame.select(col("doc_id"), hv.as("hv"))
      .withColumn("shard",
        (conv(substring(col("hv"), 1, 6), 16, 10).cast("long") % s).cast("long"))
      .withColumn("bkt", substring(col("hv"), 7, ShufflePrefixLen))
    // bounded: S * 16^prefixLen rows of (shard, bkt, count)
    val counts = base.groupBy("shard", "bkt")
      .agg(count(lit(1)).cast("long").as("c"))
    val wOff = Window.partitionBy("shard").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select("shard", "bkt", "off")
    val wRank = Window.partitionBy("shard", "bkt").orderBy("hv", "doc_id")
    base
      // offsets is BOUNDED (S * 16^prefixLen rows) — broadcast is the
      // right side, unlike the unbounded vocab/span tables elsewhere
      .join(broadcast(offsets), Seq("shard", "bkt"))
      .withColumn("pos", col("off") + row_number().over(wRank) - 1)
      .select(col("doc_id"), col("shard"), col("pos").cast("long").as("pos"))
  }

  /** q110's body, shared with q143: per-doc average negative
    * log-likelihood under the corpus's own add-one-smoothed bigram LM.
    * Docs with fewer than two tokens have no bigram events and carry no
    * score (inner-join semantics downstream). Scale shape as documented
    * at the q110 registry entry: one (a, b) shuffle with map-side
    * partials, history counts derived from the bigram table, vocabulary
    * size from the cached corpus stat, ln contributions rounded half-up
    * to 1e-6-scaled BIGINTs before summation.
    */
  def bigramNll(s: SparkSession, d: String): DataFrame =
    // per-doc LM scores are a DerivedCache artifact: q110/q143/q144 all
    // start from this table, and it is pure function of the corpus —
    // a fresh session (nightly run) reads one per-doc parquet instead
    // of re-exploding the corpus into bigram events and rebuilding the
    // count tables. The build composes from the APPEND-INCREMENTAL
    // count artifact ([[bigramCounts]]): after a nightly append the
    // count shuffle — the heaviest stage — re-pays only the appended
    // slice. The per-doc SCORING pass still scans every doc, and must:
    // each score is a function of the GLOBAL add-one-smoothed LM, so an
    // append shifts every doc's nll — per-doc scores under a corpus
    // model are not a per-file monoid, only their count layer is.
    // [[bigramNllPlan]] stays available for plan audits.
    DerivedCache.orBuild(s, d, "bigram_nll_v1")(bigramNllFromCounts(s, d))

  /** The uncached scoring plan behind [[bigramNll]] — what one
    * derivation pass runs; PlanSpec pins its no-broadcast count joins.
    */
  def bigramNllPlan(s: SparkSession, d: String): DataFrame = {
    val bg = bigramEventsOf(spread(docs(s, d)))
    val cab = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    // history counts are a DERIVATION of the bigram table (c_a = Σ_b
    // c_ab by definition), not another pass over the corpus events —
    // and the vocabulary size comes from the cached corpus stat (the
    // q96 pattern: a plan-shaping statistic read from metadata), so
    // scoring re-tokenizes the corpus twice (events + count build),
    // not four times
    scoreNllEvents(bg, cab, TrainingData.vocabSize(s, d))
  }

  /** Per-doc bigram events (doc_id, a, b) — one derivation shared by
    * the one-pass audit plan, the incremental count delta, and the
    * scoring pass, so the trees canonicalize identically.
    */
  private def bigramEventsOf(docFrame: DataFrame): DataFrame =
    docFrame
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .select(col("doc_id"), explode(
        filter(
          zip_with(
            col("tok"),
            slice(col("tok"), lit(2), greatest(size(col("tok")) - 1, lit(0))),
            (a, b) => struct(a.as("a"), b.as("b"))),
          p => p.getField("b").isNotNull)).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))

  /** The scoring tail: join each event to the (a, b) count table and
    * its derived history marginal, fold 1e-6-scaled integer ln
    * contributions per doc. Identical expression tree whether `cab`
    * came from the one-pass build or the incrementally-merged artifact
    * — the longs are equal, so the doubles are too.
    */
  private def scoreNllEvents(bg: DataFrame, cab: DataFrame,
                             vocab: Long): DataFrame = {
    val ca = cab.groupBy("a").agg(sum("c_ab").as("c_a"))
    val v = lit(vocab)
    // the bigram and history count tables are corpus-STATISTIC-sized
    // (vocabulary² on the open web) — the q112 rule: they join on the
    // shuffle path, never broadcast, even where toy-scale AQE would
    val contrib = bg
      .join(cab.hint("shuffle_hash"), Seq("a", "b"))
      .join(ca.hint("shuffle_hash"), Seq("a"))
      .select(col("doc_id"),
        floor(log((col("c_ab") + lit(1.0)) / (col("c_a") + v))
          * 1000000 + 0.5).cast("long").as("c"))
    contrib.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
           round((sum("c") * -1) / (lit(1000000.0) * count(lit(1))), 4)
             .as("nll"))
  }

  /** The corpus (a, b, c_ab) bigram count table as an APPEND-
    * INCREMENTAL artifact — the additive layer under [[bigramNll]] and
    * [[buildLmIndex]]: a nightly append explodes only the new files
    * into events and merges counts by sum, bit-identical to a full
    * recount. This is the heaviest shuffle of the NLL family (corpus
    * tokens into a vocabulary²-keyed combine), so it is the one that
    * matters to amortize.
    */
  def bigramCounts(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "bigram_counts_v1")(
      bigramEventsOf(spread(docs(s, d)))
        .groupBy("a", "b").agg(count(lit(1)).cast("long").as("c_ab")))(
      files => bigramEventsOf(spread(s.read.parquet(files: _*)))
        .groupBy("a", "b").agg(count(lit(1)).cast("long").as("c_ab")))(
      (old, dl) => old.unionByName(dl).groupBy("a", "b")
        .agg(sum("c_ab").cast("long").as("c_ab")))

  /** [[bigramNllPlan]]'s output with the count stage served from the
    * incremental artifact: one corpus pass (the per-doc event explode
    * feeding the score join) instead of two, and after an append the
    * count layer re-pays only the appended slice. Scores equal the
    * one-pass plan exactly — same longs, same expression tree.
    */
  def bigramNllFromCounts(s: SparkSession, d: String): DataFrame =
    scoreNllEvents(bigramEventsOf(spread(docs(s, d))),
                   bigramCounts(s, d), TrainingData.vocabSize(s, d))

  /** Persist the corpus bigram LM + CCNet cut table — the artifact the
    * STREAMING perplexity gate probes ([[lmBucketStream]]): `bigrams/`
    * (a, b, c_ab) and `hist/` (a, c_a) — split tables so a novel pair
    * with a seen history still smooths against c_a — `cuts/` (per-lang
    * head/middle nll boundaries from q143's value-level thirds), and the
    * `_lm_stats` sidecar with the smoothing vocabulary size. Landed by
    * [[graft.Landing.swap]], so a reader never sees a half-written LM.
    */
  def buildLmIndex(s: SparkSession, d: String, indexDir: String): Unit =
    graft.Landing.swap(s, indexDir) { staging =>
      // count tables come from the append-incremental artifact — after a
      // nightly append, refreshing the LM index re-pays the appended
      // slice for counts (the cuts below still need the rescored NLL
      // table, which is inherently a full pass — see [[bigramNll]])
      val cab = bigramCounts(s, d)
      val ca = cab.groupBy("a").agg(sum("c_ab").cast("long").as("c_a"))
      cab.repartition(col("a"), col("b"))
        .write.mode("overwrite").parquet(staging + "/bigrams")
      // the history table stands alone: an arrival's (seen-a, novel-b)
      // event must smooth against c_a, not the unseen pair's zero
      ca.repartition(col("a"))
        .write.mode("overwrite").parquet(staging + "/hist")
      // per-lang cut boundaries from q143's value-level cumulative thirds;
      // a null boundary (e.g. the first value already exceeds a third)
      // means that bucket is empty — the probe coalesces to -infinity
      val dd = spread(docs(s, d))
        .select(col("doc_id"), col("lang"),
                size(tokens(col("text"))).cast("long").as("n_tokens"))
        .join(bigramNll(s, d).select("doc_id", "nll"), "doc_id")
      val vb = dd.groupBy("lang", "nll")
        .agg(sum("n_tokens").cast("long").as("vt"))
      val wCum = Window.partitionBy("lang").orderBy("nll")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vb.withColumn("cum_tok", sum("vt").over(wCum).cast("long"))
        .withColumn("tot",
          sum("vt").over(Window.partitionBy("lang")).cast("long"))
        .groupBy("lang")
        .agg(max(when(col("cum_tok") * 3 <= col("tot"), col("nll")))
               .as("head_max"),
             max(when(col("cum_tok") * 3 <= col("tot") * 2, col("nll")))
               .as("middle_max"))
        .coalesce(1)
        .write.mode("overwrite").parquet(staging + "/cuts")
      Map("_lm_stats" -> TrainingData.vocabSize(s, d).toString)
    }

  /** The CCNet gate at ingest — q143's serving path, BATCH OR STREAM
    * micro-batch: score each arriving (doc_id, lang, text) against the
    * PERSISTED corpus LM ([[buildLmIndex]] — the fixed model + fixed
    * cuts CCNet applies to every new crawl dump) and bucket it
    * head/middle/tail. Unseen bigram events take the add-one smoothing
    * floor (c_ab = c_a = 0 -> ln(1/v), exactly the convention unseen
    * history gets in training); a lang absent from the cut table, or an
    * nll past the middle boundary, lands in `tail` (quarantine-biased).
    * Docs with <2 tokens carry no score and drop (q110 semantics).
    * Scale shape: events explode statelessly; the vocabulary-sized LM
    * table joins on the shuffle path (shuffle_hash, never broadcast);
    * only the lang-bounded cut table broadcasts. LmIndexSpec pins this
    * == batch q143 on the corpus, the smoothing floor on novel text,
    * AND the streamed (MemoryStream, update-mode) verdicts == batch
    * doc-for-doc — the "BATCH OR STREAM" claim is covered, not latent.
    */
  def lmBucketStream(docFrame: DataFrame, s: SparkSession,
                     indexDir: String): DataFrame = {
    val lm = s.read.parquet(s"$indexDir/bigrams").hint("shuffle_hash")
    val hist = s.read.parquet(s"$indexDir/hist").hint("shuffle_hash")
    val cuts = s.read.parquet(s"$indexDir/cuts")
    val v = graft.Landing.required(s, indexDir, "_lm_stats").trim.toLong
    docFrame
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("tok"))
      .select(col("doc_id"), col("lang"),
              size(col("tok")).cast("long").as("n_tokens"),
              explode(
        filter(
          zip_with(
            col("tok"),
            slice(col("tok"), lit(2), greatest(size(col("tok")) - 1, lit(0))),
            (a, b) => struct(a.as("a"), b.as("b"))),
          p => p.getField("b").isNotNull)).as("p"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
              col("p.a").as("a"), col("p.b").as("b"))
      .join(lm, Seq("a", "b"), "left")
      .join(hist, Seq("a"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(log((coalesce(col("c_ab"), lit(0L)) + lit(1.0))
                  / (coalesce(col("c_a"), lit(0L)) + lit(v.toDouble)))
          * 1000000 + 0.5).cast("long").as("c"))
      // n_tokens and lang ride the aggregate as grouping keys (the
      // dsirScoreStream one-pass convention): no post-aggregation
      // self-join, so the plan streams. Docs with <2 tokens produce no
      // bigram rows and drop here, exactly as before (q110 semantics).
      .groupBy("doc_id", "lang", "n_tokens")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
           round((sum("c") * -1) / (lit(1000000.0) * count(lit(1))), 4)
             .as("nll"))
      .join(broadcast(cuts), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("nll"), col("n_tokens"),
              when(col("nll") <= coalesce(col("head_max"),
                                          lit(Double.NegativeInfinity)),
                   "head")
                .when(col("nll") <= coalesce(col("middle_max"),
                                             lit(Double.NegativeInfinity)),
                      "middle")
                .otherwise("tail").as("bucket"))
  }

  /** q143's body, shared with q144: per-doc CCNet bucket plus the
    * 8-hex content-hash prefix the keep rule's middle-bucket sampling
    * compares (carried from the same scan so q144 adds no extra corpus
    * pass). Cut at VALUE granularity over the 4dp score via integer
    * comparisons; cumulative windows over the domain-bounded
    * (lang, score) table only.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    val dd = spread(docs(s, d))
      .select(col("doc_id"), col("lang"),
              size(tokens(col("text"))).cast("long").as("n_tokens"),
              substring(md5(col("text")), 1, 8).as("h8"))
      // nll is never null, but the bucket join below INFERS
      // isnotnull(nll) into the doc branch alone — a scan-filter
      // difference that forks the per-doc score scan off the value-
      // table branch (two artifact passes; the q83/q112 recipe)
      .join(bigramNll(s, d).select("doc_id", "nll")
              .filter(col("nll").isNotNull), "doc_id")
    val vb = dd.groupBy("lang", "nll")
      .agg(sum("n_tokens").cast("long").as("vt"))
    // cumulative windows run over the DOMAIN-bounded (lang, 4dp-score)
    // value table only — never over raw docs (the q78/q88 shape)
    val wCum = Window.partitionBy("lang").orderBy("nll")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vb
      .withColumn("cum_tok", sum("vt").over(wCum).cast("long"))
      .withColumn("tot",
        sum("vt").over(Window.partitionBy("lang")).cast("long"))
      .select("lang", "nll", "cum_tok", "tot")
    dd.join(broadcast(cum), Seq("lang", "nll"))
      .select(col("doc_id"), col("lang"), col("nll"), col("n_tokens"),
              col("h8"),
              when(col("cum_tok") * 3 <= col("tot"), "head")
                .when(col("cum_tok") * 3 <= col("tot") * 2, "middle")
                .otherwise("tail").as("bucket"))
  }

  /** q139's doc-level expansion, shared with q142: every (doc, epoch)
    * instance of the realized training stream — the q136 grant
    * decomposed as planned DIV avail full corpus repeats plus one
    * fractional pass under q87's content-hash cutoff at rate
    * (planned MOD avail) / avail. Exact integer decomposition, so
    * expected realized tokens == planned_tokens; every row is
    * deterministic from its own bytes. q139 aggregates this into the
    * per-(source, epoch) manifest; [[epochShardShuffle]] orders it.
    */
  def epochSampledDocs(s: SparkSession, d: String): DataFrame =
    // the realized epoch sample is a corpus-derived, deterministic
    // artifact (content-hash sampling against the q136 plan): persist
    // it like the cluster labels so q139's manifests and q142's
    // training order serve from one (doc_id, source, n_tokens, epoch)
    // parquet instead of re-running stats + KL + plan + sampling per
    // session. Version the name if the plan constants change.
    // Deliberately NOT append-incremental: every doc's epoch count
    // depends on the GLOBAL plan's per-source rate, and an append moves
    // every rate — old docs' sampling decisions change, so a full
    // re-decide (cheap: the stats inputs are artifact-served) is the
    // exact semantics, not a fallback.
    DerivedCache.orBuild(s, d, "epoch_sample_v1")(epochSampledDocsPlan(s, d))

  /** The uncached derivation behind [[epochSampledDocs]] — what the one
    * build pass runs.
    */
  def epochSampledDocsPlan(s: SparkSession, d: String): DataFrame = {
    val plan = epochPlanCore(
        sourceStats(s, d)
          .select("source", "mean_quality", "kl", "avail_tokens"))
      .select(col("source"),
              expr("planned_tokens DIV avail_tokens").as("full_epochs"),
              ((col("planned_tokens") % col("avail_tokens")).cast("double")
                / col("avail_tokens")).as("rate"))
    // q87's 24-bit md5 prefix as an exact dyadic fraction — the
    // fractional-epoch membership decision is per-row, content-driven,
    // reproducible on any engine
    val u = u01(col("text"))
    spread(docs(s, d))
      .select(col("doc_id"), col("source"),
              size(tokens(col("text"))).cast("long").as("n_tokens"),
              u.as("u"))
      .join(broadcast(plan), "source")
      .withColumn("n_epochs",
        col("full_epochs") + (col("u") < col("rate")).cast("long"))
      .filter(col("n_epochs") > 0)
      .select(col("source"), col("doc_id"), col("n_tokens"),
              explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
  }

  /** [[shardShuffle]] PER EPOCH over the realized training stream: each
    * (doc, epoch) instance hashes on (doc_id, epoch) — so every epoch
    * reshuffles the corpus differently, the standard trainer contract
    * (fixed epoch order would re-feed identical batch boundaries) —
    * into [[ShuffleShards]] shards with dense hash-order positions.
    * Same two-phase bounded-window machinery: offsets per (epoch,
    * shard, 2-hex bucket) — epochs x 32 x 256 tiny rows, the one table
    * that SHOULD broadcast — and ranks only within buckets.
    */
  def epochShardShuffle(frame: DataFrame): DataFrame = {
    val s = lit(ShuffleShards)
    val hv = md5(concat(col("doc_id").cast("string"), lit(":"),
                        col("epoch").cast("string")).cast("binary"))
    val base = frame
      .select(col("doc_id"), col("epoch"), col("n_tokens"), hv.as("hv"))
      .withColumn("shard",
        (conv(substring(col("hv"), 1, 6), 16, 10).cast("long") % s)
          .cast("long"))
      .withColumn("bkt", substring(col("hv"), 7, ShufflePrefixLen))
    val counts = base.groupBy("epoch", "shard", "bkt")
      .agg(count(lit(1)).cast("long").as("c"))
    val wOff = Window.partitionBy("epoch", "shard").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select("epoch", "shard", "bkt", "off")
    val wRank = Window.partitionBy("epoch", "shard", "bkt")
      .orderBy("hv", "doc_id")
    base
      .join(broadcast(offsets), Seq("epoch", "shard", "bkt"))
      .withColumn("pos", col("off") + row_number().over(wRank) - 1)
      .select(col("epoch"), col("shard"), col("pos").cast("long").as("pos"),
              col("doc_id"), col("n_tokens"))
  }

  /** Engine-local gram hashes for the streaming substring probe: one
    * xxhash64 per [[SubstrG]]-token run (no md5 — nothing here needs
    * cross-engine identity, and the probe is the hot ingest path).
    */
  private def gramHashArr(tok: Column): Column = {
    val G = SubstrG
    when(size(tok) >= G,
      transform(sequence(lit(0L), size(tok).cast("long") - G),
        i => xxhash64(array_join(
          slice(tok, (i + 1).cast("int"), lit(G.toInt)), " "))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Build the corpus substring-contamination Bloom: one distributed
    * pass over every 20-gram's xxhash64, sized from the CORPUS
    * STATISTIC (the q90 lesson — a fixed sketch saturates and stops
    * pruning as the corpus grows; ~8 bits/gram ≈ 2% FP). The sketch
    * returns as driver-held bytes — the dsirScoreStream convention: a
    * literal ships once per executor and keeps the stream plan
    * stateless. Hard ceiling: the JVM byte array caps the literal at
    * ~2*10^9 grams; past that (or past the configured literal budget)
    * [[startSubstrContamination]] switches to the stream-static probe of
    * the persisted gram table ([[buildSubstrIndex]] /
    * [[substrContaminationBatch]]), same semantics minus the Bloom FPs.
    */
  def buildSubstrBloom(s: SparkSession, d: String): Array[Byte] = {
    val toks = docs(s, d).select(tokens(col("text")).as("tok"))
    // coalesce: sum(...) is NULL on an empty corpus (or one where every
    // doc has < SubstrG tokens) — the 1<<20 floor must still apply
    val nGrams = math.max(1L << 20,
      toks.agg(coalesce(
          sum(greatest(size(col("tok")).cast("long") - SubstrG + 1, lit(0L))),
          lit(0L)))
        .collect()(0).getLong(0))
    toks.select(explode(gramHashArr(col("tok"))).as("h"))
      .agg(graft.functions.Bloom.bloomAgg(col("h"), nGrams, nGrams * 8).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** Substring contamination AT INGEST: probe each arriving document's
    * 20-gram hashes against the corpus Bloom — a PURE PROJECTION (the
    * sketch rides as a literal; no shuffle, no state, no watermark —
    * append-legal by construction), completing the at-ingest dedup
    * family's fourth modality: token bands (incrementalNearDup),
    * embeddings (embeddingNearDupStream), images (imageNearDupStream),
    * and now verbatim substrings. Emits per doc: gram count, Bloom
    * hits, hit share, and a flag at `minShare` — share-based because
    * Bloom FPs (~2%/gram) scale with doc length, so an absolute hit
    * count would over-flag long documents; a real copied passage of L
    * tokens contributes L-19 consecutive hits and dominates the FP
    * floor. False negatives: never (Bloom guarantee).
    */
  def substrContaminationStream(stream: DataFrame, bloom: Array[Byte],
                                minShare: Double = 0.3): DataFrame =
    stream
      .withColumn("gh", gramHashArr(tokens(col("text"))))
      .select(col("doc_id"),
        size(col("gh")).cast("long").as("n_grams"),
        size(filter(col("gh"),
          h => graft.functions.Bloom.mightContainLit(bloom, h)))
          .cast("long").as("hits"))
      .withColumn("hit_share",
        when(col("n_grams") > 0,
          round(col("hits") * lit(1.0) / col("n_grams"), 4)).otherwise(0.0))
      .withColumn("flagged", col("hit_share") >= minShare)

  /** Persist the corpus substring-contamination index: ONE row per
    * DISTINCT [[SubstrG]]-gram xxhash64 — the exact-membership,
    * corpus-scale form of [[buildSubstrBloom]]'s literal sketch. At
    * ~10^13 grams (100 TB) a driver-held byte array is impossible (JVM
    * 2 GB ceiling at ~2*10^9 grams); a partitioned parquet table has no
    * grams against it. Landed by [[graft.Landing.swap]], so probes never
    * observe a half-built table; `_substr_geometry` carries the gram width plus the
    * distinct and total gram counts (the total sizes a derived literal
    * Bloom without re-scanning the corpus). At production scale this is a
    * catalog table bucketed on `h`; plain parquet keeps the harness
    * self-contained.
    */
  def buildSubstrIndex(s: SparkSession, d: String, indexDir: String): Unit =
    graft.Landing.swap(s, indexDir) { staging =>
      val grams = docs(s, d)
        .select(explode(gramHashArr(tokens(col("text")))).as("h"))
      val (nTotal, nDistinct) = {
        val r = grams.agg(coalesce(count(lit(1)), lit(0L)).as("t"),
                          coalesce(count_distinct(col("h")), lit(0L)).as("u"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      grams.distinct().write.mode("overwrite").parquet(staging)
      Map("_substr_geometry" -> s"$SubstrG $nDistinct $nTotal")
    }

  /** (gram width, distinct grams, total grams) from the index sidecar. */
  def substrIndexGeometry(s: SparkSession, indexDir: String): (Long, Long, Long) = {
    val Array(g, u, t) =
      graft.Landing.required(s, indexDir, "_substr_geometry").trim.split(" ")
    (g.toLong, u.toLong, t.toLong)
  }

  /** Derive the literal Bloom from the PERSISTED index instead of a
    * second corpus scan: the sketch is sized from the sidecar's total
    * gram count exactly as [[buildSubstrBloom]] sizes it, and inserting
    * the distinct set yields the identical bit pattern (Bloom insertion
    * is idempotent), so the two builds are byte-identical —
    * SubstrIndexSpec pins that. The cheap path once the index exists.
    */
  def buildSubstrBloomFromIndex(s: SparkSession, indexDir: String): Array[Byte] = {
    val (_, _, nTotal) = substrIndexGeometry(s, indexDir)
    val nGrams = math.max(1L << 20, nTotal)
    s.read.parquet(indexDir)
      .agg(graft.functions.Bloom.bloomAgg(col("h"), nGrams, nGrams * 8).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** EXACT substring-contamination probe of a (micro-)batch against the
    * persisted gram-hash table — the corpus-scale sibling of
    * [[substrContaminationStream]], same five-column output. Per doc the
    * grams explode to (doc_id, h) rows, LEFT-join the index with a
    * shuffle_hash hint (the gram table is corpus-sized — it must NEVER
    * broadcast, the q82/q112 rule; SubstrIndexSpec pins the no-broadcast
    * edge), and re-aggregate per doc. The index holds one row per
    * distinct gram so the left join never duplicates probe rows, and
    * `explode_outer` keeps short docs (zero grams) in the output exactly
    * as the literal path does. Unlike the Bloom this path has zero false
    * positives: `hits` counts true corpus grams only.
    */
  def substrContaminationBatch(batch: DataFrame, s: SparkSession,
                               indexDir: String,
                               minShare: Double = 0.3): DataFrame = {
    val g = batch
      .withColumn("gh", gramHashArr(tokens(col("text"))))
      .select(col("doc_id"), size(col("gh")).cast("long").as("n_grams"),
              explode_outer(col("gh")).as("h"))
    val idx = s.read.parquet(indexDir).select(col("h"), lit(true).as("in_corpus"))
    g.join(idx.hint("shuffle_hash"), Seq("h"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(coalesce(sum(when(col("in_corpus"), 1L).otherwise(0L)), lit(0L))
             .cast("long").as("hits"))
      .withColumn("hit_share",
        when(col("n_grams") > 0,
          round(col("hits") * lit(1.0) / col("n_grams"), 4)).otherwise(0.0))
      .withColumn("flagged", col("hit_share") >= minShare)
      .select("doc_id", "n_grams", "hits", "hit_share", "flagged")
  }

  /** Bloom byte size the literal path would need for this index's corpus
    * (numBits/8 with the same floor [[buildSubstrBloom]] applies).
    */
  def substrLiteralBytes(s: SparkSession, indexDir: String): Long =
    math.max(1L << 20, substrIndexGeometry(s, indexDir)._3)

  /** Substring contamination at ingest, corpus-scale: the THRESHOLD
    * SWITCH the literal path documents. While the corpus's sketch fits
    * under `maxLiteralBytes` the probe is [[substrContaminationStream]]'s
    * pure projection (sketch derived from the index, shipped once per
    * executor — zero shuffle per micro-batch); beyond it the probe is
    * [[substrContaminationBatch]]'s stream-static shuffle join against
    * the partitioned gram table, which has no size ceiling. Both paths
    * run under one foreachBatch sink landing the same five-column layout
    * epoch-partitioned ([[graft.Door.land]]). Per-doc rollup after a
    * stream-static join is an unwatermarked aggregate — append-illegal
    * as a direct sink — which is why the table path MUST gate through
    * foreachBatch rather than a format sink on the probe frame itself.
    */
  def startSubstrContamination(stream: DataFrame, s: SparkSession,
                               indexDir: String, outDir: String,
                               checkpointDir: String,
                               minShare: Double = 0.3,
                               maxLiteralBytes: Long = 1L << 28)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val useLiteral = substrLiteralBytes(s, indexDir) <= maxLiteralBytes
    val bloom = if (useLiteral) buildSubstrBloomFromIndex(s, indexDir) else null
    graft.Door.start(stream, checkpointDir) { (batch, id) =>
      val probed =
        if (useLiteral) substrContaminationStream(batch, bloom, minShare)
        else substrContaminationBatch(batch, s, indexDir, minShare)
      graft.Door.land(probed, id, outDir)
    }
  }

  /** Redact the three PII classes in `c` (emails, NANP phone numbers,
    * dotted-quad IPs) with typed placeholder tags. Order is
    * email → phone → ip so the later numeric patterns can never match
    * inside an address that an earlier pass already collapsed.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>"),
      Ipv4Pat, "<IP>")

  val all: Seq[Q] = Seq(

    Q("q108_sequence_pack",
      "GPT-style sequence packing layout: concatenate each shard's " +
        "documents in doc_id order and split the token stream every " +
        "512 tokens; emit, per document, the bin span it lands in " +
        "(first_bin/last_bin/n_bins). The packing plan a trainer uses " +
        "to build fixed-length sequences without padding waste. Scale " +
        "shape: TWO-PHASE (the q78 bounded-window pattern) — a bare " +
        "window partitioned by low-cardinality `source` would funnel " +
        "every document of a source through ONE task (the q62 hazard). " +
        "Instead: (1) per-(source, doc_id-bucket) token subtotals " +
        "(map-side partials; the bucket table is corpus/width-sized tiny " +
        "rows) with an exclusive per-source prefix sum over THAT table " +
        "only; (2) the exact per-doc running sum windowed by (source, " +
        "bucket) — every packing task sees at most PackBucketWidth " +
        "rows, and the (source, bucket) shuffle join partitioning is " +
        "reused by the window, so the doc side shuffles once. Bucket " +
        "offsets + within-bucket prefix sums are exact integer addition, " +
        "bit-identical to the naive global window; bins use true " +
        "integral DIV, so the oracle matches bit-for-bit.",
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
        |             AS BIGINT) AS end_off
        |      FROM t)
        |SELECT source, doc_id, n_tok,
        |  (end_off - n_tok) // 512 AS first_bin,
        |  (end_off - 1) // 512 AS last_bin,
        |  (end_off - 1) // 512 - (end_off - n_tok) // 512 + 1 AS n_bins
        |FROM c ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      // doc_id >= 0, so DIV (integral trunc) == floor; bucket index is
      // monotone in doc_id, so per-bucket doc_id order concatenates to
      // the global per-source order.
      val t = docs(s, d).select(
        col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("bkt", expr(s"doc_id DIV $PackBucketWidth"))
      // phase 1: bucket subtotals (map-side partials) and an exclusive
      // per-source prefix sum — the ONLY window partitioned by source
      // alone, and it runs over the corpus/width-sized bucket table, not
      // over documents.
      val wb = Window.partitionBy("source").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = t.groupBy("source", "bkt")
        .agg(sum("n_tok").as("bucket_tokens"))
        .withColumn("bucket_off",
                    coalesce(sum("bucket_tokens").over(wb), lit(0L)))
        .select("source", "bkt", "bucket_off")
      // phase 2: exact within-bucket running sum. The offsets table scales
      // with corpus/width, so it must NEVER broadcast (the q112 hazard);
      // the shuffle join's (source, bkt) partitioning is exactly the
      // window's requirement, so no further exchange of the doc side.
      val w = Window.partitionBy("source", "bkt").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val b = PackBudget
      t.hint("shuffle_merge")
        .join(offsets.hint("shuffle_merge"), Seq("source", "bkt"))
        .withColumn("end_off", col("bucket_off") + sum("n_tok").over(w))
        .select(
          col("source"), col("doc_id"), col("n_tok"),
          expr(s"(end_off - n_tok) DIV $b").as("first_bin"),
          expr(s"(end_off - 1) DIV $b").as("last_bin"),
          expr(s"(end_off - 1) DIV $b - (end_off - n_tok) DIV $b + 1")
            .as("n_bins"))
    },

    Q("q109_doc_chunks",
      "Context-window chunking: split every document into 64-token " +
        "windows at stride 48 (16-token overlap so no span is ever cut " +
        "without context), the standard retrieval/embedding prep for " +
        "long documents. Emits (doc_id, chunk_idx, token count, md5 of " +
        "the chunk text). Scale shape: chunk COUNT is computed " +
        "arithmetically, chunk BODIES by array slice — both inside " +
        "codegen'd projections over the token array, linear in doc " +
        "length with no shuffle at all until the (free) final ordering; " +
        "a 100k-token doc emits ~2k rows, never a cross product.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |b AS (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n,
        |        CASE WHEN len(tok) <= 64 THEN 1
        |             ELSE 1 + (CAST(len(tok) AS BIGINT) - 64 + 47) // 48 END AS nc
        |      FROM t)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  CAST(len(tok[CAST(ci*48+1 AS BIGINT) : CAST(ci*48+64 AS BIGINT)])
        |       AS BIGINT) AS chunk_tok,
        |  md5(array_to_string(
        |        tok[CAST(ci*48+1 AS BIGINT) : CAST(ci*48+64 AS BIGINT)], ' '))
        |    AS chunk_md5
        |FROM b CROSS JOIN LATERAL unnest(range(nc)) AS u(ci)
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      chunkDocs(spread(docs(s, d)))
    },

    Q("q110_bigram_lm_score",
      "Bigram language-model scoring (self-perplexity): train add-one-" +
        "smoothed bigram counts on the corpus, score every document by " +
        "its average negative log-likelihood — the CCNet-style " +
        "perplexity filter that ranks documents by how 'surprising' " +
        "they are to a model of the corpus itself (high nll = off-" +
        "distribution or garbled, low = templated). Scale shape: bigram " +
        "events are a linear zip_with projection (no self-join); the " +
        "bigram table shuffles ONCE on (a,b) with map-side partials and " +
        "the history counts derive from it (c_a = sum_b c_ab, no extra " +
        "corpus pass); the vocabulary size is the cached corpus stat " +
        "(q96's metadata pattern). Cross-engine " +
        "determinism: each event's ln contribution is rounded half-up " +
        "to a 1e-6-scaled BIGINT before summation, so accumulation " +
        "order cannot flip the oracle hash (the q101 convention).",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |bg AS (SELECT doc_id, tok[CAST(i+1 AS BIGINT)] AS a,
        |              tok[CAST(i+2 AS BIGINT)] AS b
        |       FROM t CROSS JOIN LATERAL unnest(range(len(tok)-1)) AS u(i)),
        |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1,2),
        |ca AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM bg GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
        |      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)),
        |contrib AS (SELECT bg.doc_id,
        |    CAST(floor(ln((c_ab + 1.0) / (c_a + v.v)) * 1000000 + 0.5)
        |         AS BIGINT) AS c
        |  FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(-sum(c) / (1000000.0 * count(*)), 4) AS nll
        |FROM contrib GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      bigramNll(s, d)
    },

    Q.noOracle("q111_compress_quality",
      "Deflate-compressibility quality flags: compressed/raw byte ratio " +
        "per document (zlib deflate, level 6) — heavily templated or " +
        "repetitive text compresses far below natural prose, so a low " +
        "ratio is the standard machine-generated/boilerplate signal " +
        "(Gopher-family quality rules) complementing q32's token-" +
        "statistic score. No SQL oracle (DuckDB has no deflate); " +
        "PrepSpec pins determinism, bounds, and the repetitive<prose " +
        "ordering of the signal. Scale " +
        "shape: one codegen'd scalar per row via a thread-local " +
        "Deflater (no per-row 64 KiB state allocation), zero shuffles " +
        "before the per-source rollup.") { (s, d) =>
      spread(docs(s, d))
        .select(col("source"),
                round(deflate_ratio(col("text")), 4).as("r"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
             round(avg("r"), 4).as("avg_ratio"),
             round(min("r"), 4).as("min_ratio"),
             sum(when(col("r") < 0.35, 1L).otherwise(0L)).as("n_repetitive"))
        .orderBy("source")
    },

    Q("q112_source_drift_kl",
      "Per-source distribution drift: KL divergence of each source's " +
        "unigram term distribution from the corpus-wide distribution — " +
        "the mixing-audit that flags a crawl slice whose vocabulary has " +
        "shifted (spam influx, template takeover, language drift) " +
        "before it contaminates a training mix. Scale shape: one token " +
        "shuffle to (source, term) counts with map-side partials, then " +
        "shuffle joins on the bounded keys (source) and (term) — the " +
        "corpus marginal table is vocabulary-sized and NEVER broadcast; " +
        "only the single-row total is. Determinism: per-term " +
        "contributions p*ln(p/q) are rounded half-up to 1e-8-scaled " +
        "BIGINTs before the per-source sum (the q101 convention), so " +
        "reducer order cannot flip the oracle hash.",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_st
        |       FROM tok GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st),
        |contrib AS (SELECT st.source,
        |   CAST(floor((CAST(n_st AS DOUBLE) / n_s) *
        |              ln((CAST(n_st AS DOUBLE) * n) /
        |                 (CAST(n_s AS DOUBLE) * n_t)) * 100000000 + 0.5)
        |        AS BIGINT) AS c
        | FROM st JOIN s USING (source) JOIN ct USING (term) CROSS JOIN tot)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
        |  round(sum(c) / 100000000.0, 4) AS kl
        |FROM contrib GROUP BY 1 ORDER BY source""".stripMargin) { (s, d) =>
      // the explicit isNotNull mirrors the constraint the inner joins
      // push into their branches: with it, every consumer of `st` hangs
      // off ONE canonical scan+explode+shuffle subtree, and AQE's stage
      // reuse computes the corpus pass once (the probe without it showed
      // two stage-reuse groups split by the pushed filter). The registry
      // query serves the persisted source_stats artifact; PlanSpec
      // audits the derivation plan (sourceStatsPlan), where that
      // stage-reuse shape lives
      sourceStats(s, d).select("source", "n_terms", "kl")
    },

    Q("q125_mixture_weights",
      "Training-mix weight assignment — the decision artifact the " +
        "quality/drift audits exist to feed: per source, mean document " +
        "quality (q32's formula) discounted by distribution drift " +
        "(q112's KL) into a normalized sampling weight, weight_s ∝ " +
        "mean_quality_s / (1 + kl_s). A clean on-distribution source " +
        "gets its quality share; a drifted (spammy/templated) source is " +
        "down-weighted before it contaminates the mix — the " +
        "deterministic core of DoReMi-style mixture tuning, without the " +
        "proxy-model loop. Cross-engine float discipline: per-doc 4dp " +
        "qualities are bit-identical in both engines, source means use " +
        "the q101 scaled-int half-up convention, raw weights round to " +
        "1e-8-scaled BIGINTs and NORMALIZE over their integer sum, so " +
        "no double accumulation order can move the hash. Scale shape: " +
        "everything is per-source (bounded) after one quality pass and " +
        "the q112 KL pass.",
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok
        |           FROM documents),
        |q AS (SELECT source,
        |  CAST(floor(sum(CAST(round(least(1.0, len(tok) / 64.0) *
        |      (0.5 + CAST(len(list_filter(tok, x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(tok)) * 10000, 0) AS BIGINT)) / count(*) + 0.5) / 10000.0
        |    AS DOUBLE) AS mean_quality,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |  FROM t GROUP BY 1),
        |tok2 AS (SELECT source, unnest(tok) AS term FROM t),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_st
        |       FROM tok2 GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st),
        |contrib AS (SELECT st.source,
        |   CAST(floor((CAST(n_st AS DOUBLE) / n_s) *
        |              ln((CAST(n_st AS DOUBLE) * n) /
        |                 (CAST(n_s AS DOUBLE) * n_t)) * 100000000 + 0.5)
        |        AS BIGINT) AS c
        | FROM st JOIN s USING (source) JOIN ct USING (term) CROSS JOIN tot),
        |kl AS (SELECT source, round(sum(c) / 100000000.0, 4) AS kl
        |       FROM contrib GROUP BY 1),
        |w AS (SELECT q.source, q.n_docs, q.mean_quality, kl.kl,
        |        CAST(floor(q.mean_quality / (1 + kl.kl) * 100000000 + 0.5)
        |             AS BIGINT) AS w_int
        |      FROM q JOIN kl USING (source)),
        |tw AS (SELECT CAST(sum(w_int) AS BIGINT) AS tw FROM w)
        |SELECT source, n_docs, mean_quality, kl,
        |  round(CAST(w_int AS DOUBLE) / tw, 6) AS weight
        |FROM w CROSS JOIN tw ORDER BY source""".stripMargin) { (s, d) =>
      val w = mixtureWeightsCore(s, d)
      val tw = w.agg(sum("w_int").as("tw"))
      w.crossJoin(broadcast(tw))
        .select(col("source"), col("n_docs"), col("mean_quality"), col("kl"),
                round(col("w_int").cast("double") / col("tw"), 6).as("weight"))
    },

    Q("q136_epoch_plan",
      "Data-constrained epoch plan — q125's mixture weights made " +
        "EXECUTABLE (Muennighoff et al. 2023): split a token budget " +
        "across sources by integer weight share, then cap each source " +
        "at 4 epochs of its available tokens (the paper's rule: up to " +
        "~4 repeats of fresh data hold value, beyond that returns " +
        "decay). Per source: available tokens, the budget's target, " +
        "the planned grant after the cap, realized epochs, and a " +
        "capped flag — the sampling plan a 100 TB run hands its data " +
        "loader. All allocation arithmetic is exact integer (budget * " +
        "w_int DIV total-weight, the q109 integral-DIV convention); " +
        "epochs is the only division, rounded 4dp identically in both " +
        "engines. Scale shape: one token-count pass; everything after " +
        "is per-source bounded algebra on q125's cached statistics.",
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok
        |           FROM documents),
        |q AS (SELECT source,
        |  CAST(floor(sum(CAST(round(least(1.0, len(tok) / 64.0) *
        |      (0.5 + CAST(len(list_filter(tok, x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(tok)) * 10000, 0) AS BIGINT)) / count(*) + 0.5) / 10000.0
        |    AS DOUBLE) AS mean_quality,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |  FROM t GROUP BY 1),
        |tok2 AS (SELECT source, unnest(tok) AS term FROM t),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_st
        |       FROM tok2 GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st),
        |contrib AS (SELECT st.source,
        |   CAST(floor((CAST(n_st AS DOUBLE) / n_s) *
        |              ln((CAST(n_st AS DOUBLE) * n) /
        |                 (CAST(n_s AS DOUBLE) * n_t)) * 100000000 + 0.5)
        |        AS BIGINT) AS c
        | FROM st JOIN s USING (source) JOIN ct USING (term) CROSS JOIN tot),
        |kl AS (SELECT source, round(sum(c) / 100000000.0, 4) AS kl
        |       FROM contrib GROUP BY 1),
        |w AS (SELECT q.source, q.n_docs, q.mean_quality, kl.kl,
        |        CAST(floor(q.mean_quality / (1 + kl.kl) * 100000000 + 0.5)
        |             AS BIGINT) AS w_int
        |      FROM q JOIN kl USING (source)),
        |tw AS (SELECT CAST(sum(w_int) AS BIGINT) AS tw FROM w),
        |avail AS (SELECT source, CAST(sum(len(tok)) AS BIGINT) AS avail_tokens
        |          FROM t GROUP BY 1),
        |plan AS (SELECT w.source, avail.avail_tokens,
        |           CAST((${EpochBudget} * w.w_int) // tw.tw AS BIGINT) AS target_tokens
        |         FROM w CROSS JOIN tw JOIN avail USING (source))
        |SELECT source, avail_tokens, target_tokens,
        |  CAST(least(target_tokens, ${MaxEpochs} * avail_tokens) AS BIGINT) AS planned_tokens,
        |  round(CAST(least(target_tokens, ${MaxEpochs} * avail_tokens) AS DOUBLE)
        |        / avail_tokens, 4) AS epochs,
        |  CAST(CASE WHEN target_tokens > ${MaxEpochs} * avail_tokens THEN 1 ELSE 0 END
        |    AS BIGINT) AS capped
        |FROM plan ORDER BY source""".stripMargin) { (s, d) =>
      epochPlanCore(
          sourceStats(s, d)
            .select("source", "mean_quality", "kl", "avail_tokens"))
        .orderBy("source")
    },

    Q("q138_windowed_epoch_plan",
      "Per-window epoch plan — the DoReMi-style decision artifact the " +
        "drift monitor feeds (batch form of startEpochPlanner): per " +
        "(hourly event-time window, source), q136's allocation algebra " +
        "applied to the WINDOW's own statistics — scaled-int mean " +
        "quality and available tokens (windowedSourceStats) weighted " +
        "against q124's per-window KL drift — so each closed crawl " +
        "window yields an executable (target, planned, epochs, capped) " +
        "sampling plan instead of a diagnostic. Event times derive " +
        "from doc_id (one doc per minute, the q124 convention). Scale " +
        "shape: one doc-level windowed pass + q124's token pass; " +
        "everything after is per-(window, source) bounded algebra; the " +
        "per-window weight totals broadcast (group-bounded, unlike " +
        "vocabulary tables). EpochPlanStreamSpec pins the streamed " +
        "planner's landed plans to this composition on closed windows.",
      s"""WITH t AS (SELECT doc_id, source,
        |    TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS ts,
        |    text, string_split(text, ' ') AS tok FROM documents),
        |tokx AS (SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_ms,
        |           source, unnest(tok) AS term FROM t),
        |wt AS (SELECT win_ms, source, term, CAST(count(*) AS BIGINT) AS n_wt
        |       FROM tokx GROUP BY 1, 2, 3),
        |ws AS (SELECT win_ms, source, CAST(sum(n_wt) AS BIGINT) AS n_ws
        |       FROM wt GROUP BY 1, 2),
        |ref AS (SELECT term, CAST(count(*) AS BIGINT) AS n_t
        |        FROM (SELECT unnest(string_split(text, ' ')) AS term
        |              FROM documents) u GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS v FROM ref),
        |contrib AS (SELECT wt.win_ms, wt.source,
        |   CAST(floor((CAST(n_wt AS DOUBLE) / n_ws) *
        |              ln((CAST(n_wt AS DOUBLE) / n_ws) /
        |                 (CAST(COALESCE(n_t, 0) + 1 AS DOUBLE) / (n + v)))
        |              * 100000000 + 0.5) AS BIGINT) AS c
        | FROM wt JOIN ws USING (win_ms, source)
        | LEFT JOIN ref USING (term) CROSS JOIN tot),
        |klw AS (SELECT win_ms, source, round(sum(c) / 100000000.0, 4) AS kl
        |        FROM contrib GROUP BY 1, 2),
        |stats AS (SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_ms,
        |    source,
        |    CAST(floor(sum(CAST(round(least(1.0, len(tok) / 64.0) *
        |        (0.5 + CAST(len(list_filter(tok, x -> x IN
        |           ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |         / len(tok)) * 10000, 0) AS BIGINT)) / count(*) + 0.5) / 10000.0
        |      AS DOUBLE) AS mean_quality,
        |    CAST(sum(len(tok)) AS BIGINT) AS avail_tokens
        |  FROM t GROUP BY 1, 2),
        |w AS (SELECT s2.win_ms, s2.source, s2.avail_tokens,
        |        CAST(floor(s2.mean_quality / (1 + k.kl) * 100000000 + 0.5)
        |             AS BIGINT) AS w_int
        |      FROM stats s2 JOIN klw k USING (win_ms, source)),
        |tw AS (SELECT win_ms, CAST(sum(w_int) AS BIGINT) AS tw
        |       FROM w GROUP BY 1),
        |plan AS (SELECT w.win_ms, w.source, w.avail_tokens,
        |           CAST((${EpochBudget} * w.w_int) // tw.tw AS BIGINT) AS target_tokens
        |         FROM w JOIN tw USING (win_ms))
        |SELECT win_ms, source, avail_tokens, target_tokens,
        |  CAST(least(target_tokens, ${MaxEpochs} * avail_tokens) AS BIGINT)
        |    AS planned_tokens,
        |  round(CAST(least(target_tokens, ${MaxEpochs} * avail_tokens) AS DOUBLE)
        |        / avail_tokens, 4) AS epochs,
        |  CAST(CASE WHEN target_tokens > ${MaxEpochs} * avail_tokens THEN 1 ELSE 0 END
        |    AS BIGINT) AS capped
        |FROM plan ORDER BY win_ms, source""".stripMargin) { (s, d) =>
      epochPlanCore(windowedPlanStats(s, d), groupCols = Seq("win_ms"))
        .orderBy("win_ms", "source")
    },

    Q("q139_epoch_plan_execute",
      "EXECUTE the epoch plan — q136's (source, planned_tokens) grant " +
        "turned into the actual sampled training stream a data loader " +
        "consumes. Each source's grant decomposes exactly: full_epochs " +
        "= planned DIV avail integral corpus repeats, plus ONE " +
        "fractional pass where a doc is kept iff its content-hash " +
        "uniform (q87's 24-bit md5 prefix) falls under the remainder " +
        "rate (planned MOD avail) / avail — the q77 cutoff trick, so " +
        "the realized stream is deterministic across runs, engines, " +
        "and partitionings with expected tokens = planned_tokens. " +
        "Output: the per-(source, epoch) manifest — doc count, token " +
        "count, and an order-free digest of the epoch's doc set (the " +
        "shard-manifest identity a trainer checksums). Scale shape: " +
        "the plan table is source-bounded and BROADCASTS (the right " +
        "side, unlike vocabularies); every doc then decides its own " +
        "epochs from its own bytes — zero extra shuffles beyond the " +
        "final bounded (source, epoch) aggregate; the epoch explode " +
        "fans out at most MaxEpochs+1 rows per doc.",
      s"""WITH t AS (SELECT doc_id, source, text,
        |             string_split(text, ' ') AS tok FROM documents),
        |q AS (SELECT source,
        |  CAST(floor(sum(CAST(round(least(1.0, len(tok) / 64.0) *
        |      (0.5 + CAST(len(list_filter(tok, x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(tok)) * 10000, 0) AS BIGINT)) / count(*) + 0.5) / 10000.0
        |    AS DOUBLE) AS mean_quality,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |  FROM t GROUP BY 1),
        |tok2 AS (SELECT source, unnest(tok) AS term FROM t),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_st
        |       FROM tok2 GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st),
        |contrib AS (SELECT st.source,
        |   CAST(floor((CAST(n_st AS DOUBLE) / n_s) *
        |              ln((CAST(n_st AS DOUBLE) * n) /
        |                 (CAST(n_s AS DOUBLE) * n_t)) * 100000000 + 0.5)
        |        AS BIGINT) AS c
        | FROM st JOIN s USING (source) JOIN ct USING (term) CROSS JOIN tot),
        |kl AS (SELECT source, round(sum(c) / 100000000.0, 4) AS kl
        |       FROM contrib GROUP BY 1),
        |w AS (SELECT q.source, q.mean_quality, kl.kl,
        |        CAST(floor(q.mean_quality / (1 + kl.kl) * 100000000 + 0.5)
        |             AS BIGINT) AS w_int
        |      FROM q JOIN kl USING (source)),
        |tw AS (SELECT CAST(sum(w_int) AS BIGINT) AS tw FROM w),
        |avail AS (SELECT source, CAST(sum(len(tok)) AS BIGINT) AS avail_tokens
        |          FROM t GROUP BY 1),
        |plan AS (SELECT w.source, avail.avail_tokens,
        |           CAST(least((${EpochBudget} * w.w_int) // tw.tw,
        |                      ${MaxEpochs} * avail.avail_tokens) AS BIGINT)
        |             AS planned_tokens
        |         FROM w CROSS JOIN tw JOIN avail USING (source)),
        |exec AS (SELECT source,
        |    planned_tokens // avail_tokens AS full_epochs,
        |    CAST(planned_tokens % avail_tokens AS DOUBLE) / avail_tokens
        |      AS rate
        |  FROM plan),
        |docu AS (SELECT doc_id, source, len(tok) AS n_tokens,
        |    list_reduce(list_transform(string_split(substr(md5(text), 1, 6), ''),
        |        c -> strpos('0123456789abcdef', c) - 1),
        |      (a, b) -> a * 16 + b) / 16777216.0 AS u
        |  FROM t),
        |keep AS (SELECT d2.source, d2.doc_id, d2.n_tokens,
        |    e.full_epochs + CASE WHEN d2.u < e.rate THEN 1 ELSE 0 END
        |      AS n_epochs
        |  FROM docu d2 JOIN exec e USING (source)),
        |ex AS (SELECT source, doc_id, n_tokens,
        |    unnest(range(1, n_epochs + 1)) AS epoch
        |  FROM keep WHERE n_epochs > 0)
        |SELECT source, CAST(epoch AS BIGINT) AS epoch,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  bit_xor(list_reduce(list_transform(
        |      string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS doc_digest
        |FROM ex GROUP BY 1, 2 ORDER BY source, epoch""".stripMargin) { (s, d) =>
      epochSampledDocs(s, d)
        .groupBy("source", "epoch")
        .agg(count(lit(1)).cast("long").as("n_docs"),
             sum("n_tokens").cast("long").as("n_tokens"),
             docSetDigest(col("doc_id")).as("doc_digest"))
        .orderBy("source", "epoch")
    },

    Q("q141_windowed_plan_execute",
      "EXECUTE the per-window epoch plan — q138's (window, source) " +
        "grant realized as shard manifests, q139's exact decomposition " +
        "applied per window: full repeats = planned DIV avail, plus one " +
        "fractional pass under the content-hash cutoff at rate " +
        "(planned MOD avail) / avail. Output: per (win_ms, source, " +
        "epoch) doc count, token count, and order-free doc-set digest — " +
        "what each closed crawl window hands the trainer. The same " +
        "core runs under a watermark as startPlanExecutor (append-mode " +
        "manifests per closed window; PlanExecStreamSpec pins stream == " +
        "this). Scale shape: plan table is (windows x sources)-bounded " +
        "and broadcasts; per-doc sampling is scan-parallel; the only " +
        "shuffle is the bounded (window, source, epoch) aggregate.",
      s"""WITH t AS (SELECT doc_id, source,
        |    TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS ts,
        |    text, string_split(text, ' ') AS tok FROM documents),
        |tokx AS (SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_ms,
        |           source, unnest(tok) AS term FROM t),
        |wt AS (SELECT win_ms, source, term, CAST(count(*) AS BIGINT) AS n_wt
        |       FROM tokx GROUP BY 1, 2, 3),
        |ws AS (SELECT win_ms, source, CAST(sum(n_wt) AS BIGINT) AS n_ws
        |       FROM wt GROUP BY 1, 2),
        |ref AS (SELECT term, CAST(count(*) AS BIGINT) AS n_t
        |        FROM (SELECT unnest(string_split(text, ' ')) AS term
        |              FROM documents) u GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS v FROM ref),
        |contrib AS (SELECT wt.win_ms, wt.source,
        |   CAST(floor((CAST(n_wt AS DOUBLE) / n_ws) *
        |              ln((CAST(n_wt AS DOUBLE) / n_ws) /
        |                 (CAST(COALESCE(n_t, 0) + 1 AS DOUBLE) / (n + v)))
        |              * 100000000 + 0.5) AS BIGINT) AS c
        | FROM wt JOIN ws USING (win_ms, source)
        | LEFT JOIN ref USING (term) CROSS JOIN tot),
        |klw AS (SELECT win_ms, source, round(sum(c) / 100000000.0, 4) AS kl
        |        FROM contrib GROUP BY 1, 2),
        |stats AS (SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_ms,
        |    source,
        |    CAST(floor(sum(CAST(round(least(1.0, len(tok) / 64.0) *
        |        (0.5 + CAST(len(list_filter(tok, x -> x IN
        |           ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |         / len(tok)) * 10000, 0) AS BIGINT)) / count(*) + 0.5) / 10000.0
        |      AS DOUBLE) AS mean_quality,
        |    CAST(sum(len(tok)) AS BIGINT) AS avail_tokens
        |  FROM t GROUP BY 1, 2),
        |w AS (SELECT s2.win_ms, s2.source, s2.avail_tokens,
        |        CAST(floor(s2.mean_quality / (1 + k.kl) * 100000000 + 0.5)
        |             AS BIGINT) AS w_int
        |      FROM stats s2 JOIN klw k USING (win_ms, source)),
        |tw AS (SELECT win_ms, CAST(sum(w_int) AS BIGINT) AS tw
        |       FROM w GROUP BY 1),
        |plan AS (SELECT w.win_ms, w.source, w.avail_tokens,
        |           CAST((${EpochBudget} * w.w_int) // tw.tw AS BIGINT) AS target_tokens
        |         FROM w JOIN tw USING (win_ms)),
        |exec AS (SELECT win_ms, source,
        |    least(target_tokens, ${MaxEpochs} * avail_tokens) // avail_tokens
        |      AS full_epochs,
        |    CAST(least(target_tokens, ${MaxEpochs} * avail_tokens) % avail_tokens
        |         AS DOUBLE) / avail_tokens AS rate
        |  FROM plan),
        |docu AS (SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_ms,
        |    source, doc_id, len(tok) AS n_tokens,
        |    list_reduce(list_transform(string_split(substr(md5(text), 1, 6), ''),
        |        c -> strpos('0123456789abcdef', c) - 1),
        |      (a, b) -> a * 16 + b) / 16777216.0 AS u
        |  FROM t),
        |keep AS (SELECT d2.win_ms, d2.source, d2.doc_id, d2.n_tokens,
        |    e.full_epochs + CASE WHEN d2.u < e.rate THEN 1 ELSE 0 END
        |      AS n_epochs
        |  FROM docu d2 JOIN exec e USING (win_ms, source)),
        |ex AS (SELECT win_ms, source, doc_id, n_tokens,
        |    unnest(range(1, n_epochs + 1)) AS epoch
        |  FROM keep WHERE n_epochs > 0)
        |SELECT win_ms, source, CAST(epoch AS BIGINT) AS epoch,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  bit_xor(list_reduce(list_transform(
        |      string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS doc_digest
        |FROM ex GROUP BY 1, 2, 3
        |ORDER BY win_ms, source, epoch""".stripMargin) { (s, d) =>
      val plan = epochPlanCore(windowedPlanStats(s, d),
                               groupCols = Seq("win_ms"))
        .select(col("win_ms"), col("source"),
                expr("planned_tokens DIV avail_tokens").as("full_epochs"),
                ((col("planned_tokens") % col("avail_tokens")).cast("double")
                  / col("avail_tokens")).as("rate"))
      planExecuteCore(framedDocs(s, d), plan, "1 hour")
        .orderBy("win_ms", "source", "epoch")
    },

    Q("q142_training_order",
      "Training-order layout for the REALIZED stream — q139's sampled " +
        "(doc, epoch) instances laid out the way the trainer reads " +
        "them: q135's deterministic shard shuffle applied PER EPOCH, " +
        "hashing on (doc_id, epoch) so every epoch reshuffles the " +
        "corpus differently (a fixed order would re-feed identical " +
        "batch boundaries every repeat — the reshuffle-each-epoch " +
        "contract of standard data loaders). Output: (epoch, shard, " +
        "pos, doc_id, n_tokens) with dense hash-order positions per " +
        "(epoch, shard) — epoch-major, source-mixed, reproducible " +
        "bit-for-bit on any engine/partitioning. Scale shape: the " +
        "two-phase q135 machinery with (epoch, shard, bucket) offsets " +
        "(epochs x 32 x 256 tiny rows — the one broadcast that's " +
        "right); every rank window is bucket-bounded; the sampling " +
        "pass upstream is q139's scan-parallel shape.",
      s"""WITH t AS (SELECT doc_id, source, text,
        |             string_split(text, ' ') AS tok FROM documents),
        |q AS (SELECT source,
        |  CAST(floor(sum(CAST(round(least(1.0, len(tok) / 64.0) *
        |      (0.5 + CAST(len(list_filter(tok, x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(tok)) * 10000, 0) AS BIGINT)) / count(*) + 0.5) / 10000.0
        |    AS DOUBLE) AS mean_quality,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |  FROM t GROUP BY 1),
        |tok2 AS (SELECT source, unnest(tok) AS term FROM t),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_st
        |       FROM tok2 GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st),
        |contrib AS (SELECT st.source,
        |   CAST(floor((CAST(n_st AS DOUBLE) / n_s) *
        |              ln((CAST(n_st AS DOUBLE) * n) /
        |                 (CAST(n_s AS DOUBLE) * n_t)) * 100000000 + 0.5)
        |        AS BIGINT) AS c
        | FROM st JOIN s USING (source) JOIN ct USING (term) CROSS JOIN tot),
        |kl AS (SELECT source, round(sum(c) / 100000000.0, 4) AS kl
        |       FROM contrib GROUP BY 1),
        |w AS (SELECT q.source, q.mean_quality, kl.kl,
        |        CAST(floor(q.mean_quality / (1 + kl.kl) * 100000000 + 0.5)
        |             AS BIGINT) AS w_int
        |      FROM q JOIN kl USING (source)),
        |tw AS (SELECT CAST(sum(w_int) AS BIGINT) AS tw FROM w),
        |avail AS (SELECT source, CAST(sum(len(tok)) AS BIGINT) AS avail_tokens
        |          FROM t GROUP BY 1),
        |plan AS (SELECT w.source, avail.avail_tokens,
        |           CAST(least((${EpochBudget} * w.w_int) // tw.tw,
        |                      ${MaxEpochs} * avail.avail_tokens) AS BIGINT)
        |             AS planned_tokens
        |         FROM w CROSS JOIN tw JOIN avail USING (source)),
        |exec AS (SELECT source,
        |    planned_tokens // avail_tokens AS full_epochs,
        |    CAST(planned_tokens % avail_tokens AS DOUBLE) / avail_tokens
        |      AS rate
        |  FROM plan),
        |docu AS (SELECT doc_id, source, len(tok) AS n_tokens,
        |    list_reduce(list_transform(string_split(substr(md5(text), 1, 6), ''),
        |        c -> strpos('0123456789abcdef', c) - 1),
        |      (a, b) -> a * 16 + b) / 16777216.0 AS u
        |  FROM t),
        |keep AS (SELECT d2.source, d2.doc_id, d2.n_tokens,
        |    e.full_epochs + CASE WHEN d2.u < e.rate THEN 1 ELSE 0 END
        |      AS n_epochs
        |  FROM docu d2 JOIN exec e USING (source)),
        |ex AS (SELECT doc_id, n_tokens,
        |    unnest(range(1, n_epochs + 1)) AS epoch
        |  FROM keep WHERE n_epochs > 0),
        |hvt AS (SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, n_tokens,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR))
        |      AS hv
        |  FROM ex),
        |b2 AS (SELECT doc_id, epoch, n_tokens, hv,
        |         CAST(CAST(concat('0x', substr(hv, 1, 6)) AS BIGINT) % 32
        |           AS BIGINT) AS shard,
        |         substr(hv, 7, 2) AS bkt
        |       FROM hvt),
        |counts AS (SELECT epoch, shard, bkt, CAST(count(*) AS BIGINT) AS c
        |           FROM b2 GROUP BY 1, 2, 3),
        |offs AS (SELECT epoch, shard, bkt,
        |           coalesce(sum(c) OVER (PARTITION BY epoch, shard
        |             ORDER BY bkt
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |             AS off
        |         FROM counts),
        |r AS (SELECT doc_id, epoch, n_tokens, shard, bkt, hv,
        |        row_number() OVER (PARTITION BY epoch, shard, bkt
        |                           ORDER BY hv, doc_id) AS rn
        |      FROM b2)
        |SELECT r.epoch, r.shard, CAST(offs.off + r.rn - 1 AS BIGINT) AS pos,
        |  r.doc_id, CAST(r.n_tokens AS BIGINT) AS n_tokens
        |FROM r JOIN offs USING (epoch, shard, bkt)
        |ORDER BY epoch, shard, pos""".stripMargin) { (s, d) =>
      epochShardShuffle(epochSampledDocs(s, d))
        .orderBy("epoch", "shard", "pos")
    },

    Q("q143_ccnet_buckets",
      "CCNet-style perplexity buckets (Wenzek et al. 2020): per " +
        "language, rank documents by q110's bigram-LM self-perplexity " +
        "and cut the token mass into head/middle/tail thirds — the " +
        "standard curation gate that keeps the head (closest to the " +
        "reference distribution), samples the middle, and drops the " +
        "tail. The cut runs at VALUE granularity over the 4dp-rounded " +
        "score (ties share a bucket), so both engines spell the same " +
        "deterministic integer comparison cum*3 <= k*total — no " +
        "fp-boundary flips, no doc-level tie ambiguity. Scale shape: " +
        "the q78/q88 bounded-domain two-phase — per-(lang, score) " +
        "token totals (map-side partials; the value table is domain-" +
        "bounded at any corpus size), cumulative windows over that " +
        "tiny table only, then a broadcast join back to docs. Docs " +
        "with <2 tokens carry no LM score and drop (inner-join " +
        "semantics, as in q110).",
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok
        |           FROM documents),
        |bg AS (SELECT doc_id, tok[CAST(i+1 AS BIGINT)] AS a,
        |              tok[CAST(i+2 AS BIGINT)] AS b
        |       FROM t CROSS JOIN LATERAL unnest(range(len(tok)-1)) AS u(i)),
        |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        |        FROM bg GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM bg GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
        |      FROM (SELECT unnest(string_split(text, ' ')) AS term
        |            FROM documents)),
        |contrib AS (SELECT bg.doc_id,
        |    CAST(floor(ln((c_ab + 1.0) / (c_a + v.v)) * 1000000 + 0.5)
        |         AS BIGINT) AS c
        |  FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v),
        |d AS (SELECT contrib.doc_id,
        |        round(-sum(c) / (1000000.0 * count(*)), 4) AS nll
        |      FROM contrib GROUP BY 1),
        |dd AS (SELECT t.doc_id, t.lang, CAST(len(t.tok) AS BIGINT)
        |         AS n_tokens, d.nll
        |       FROM t JOIN d ON t.doc_id = d.doc_id),
        |vb AS (SELECT lang, nll, CAST(sum(n_tokens) AS BIGINT) AS vt
        |       FROM dd GROUP BY 1, 2),
        |cum AS (SELECT lang, nll,
        |          CAST(sum(vt) OVER (PARTITION BY lang ORDER BY nll)
        |               AS BIGINT) AS cum_tok,
        |          CAST(sum(vt) OVER (PARTITION BY lang) AS BIGINT) AS tot
        |        FROM vb)
        |SELECT dd.doc_id, dd.lang, dd.nll, dd.n_tokens,
        |  CASE WHEN cum_tok * 3 <= tot THEN 'head'
        |       WHEN cum_tok * 3 <= 2 * tot THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM dd JOIN cum USING (lang, nll)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      ccnetBuckets(s, d)
        .select("doc_id", "lang", "nll", "n_tokens", "bucket")
        .orderBy("doc_id")
    },

    Q("q144_ccnet_sample",
      "The CCNet KEEP RULE — q143's buckets turned into the actual " +
        "filter the pipeline ships: head kept whole (closest to the " +
        "reference distribution), middle down-sampled at 50% by the " +
        "q77 deterministic content-hash cutoff (reproducible across " +
        "runs/engines/partitionings — no RNG), tail dropped. Output " +
        "is the per-doc verdict (bucket + kept flag) — the audit " +
        "artifact; filtering kept=1 yields the shipped corpus. Scale " +
        "shape: q143's bounded-domain machinery plus one pure " +
        "projection — the keep decision adds zero shuffles.",
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok,
        |             substr(md5(text), 1, 8) AS h8
        |           FROM documents),
        |bg AS (SELECT doc_id, tok[CAST(i+1 AS BIGINT)] AS a,
        |              tok[CAST(i+2 AS BIGINT)] AS b
        |       FROM t CROSS JOIN LATERAL unnest(range(len(tok)-1)) AS u(i)),
        |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        |        FROM bg GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM bg GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
        |      FROM (SELECT unnest(tok) AS term FROM t)),
        |contrib AS (SELECT bg.doc_id,
        |    CAST(floor(ln((c_ab + 1.0) / (c_a + v.v)) * 1000000 + 0.5)
        |         AS BIGINT) AS c
        |  FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v),
        |d AS (SELECT contrib.doc_id,
        |        round(-sum(c) / (1000000.0 * count(*)), 4) AS nll
        |      FROM contrib GROUP BY 1),
        |dd AS (SELECT t.doc_id, t.lang, CAST(len(t.tok) AS BIGINT)
        |         AS n_tokens, t.h8, d.nll
        |       FROM t JOIN d ON t.doc_id = d.doc_id),
        |vb AS (SELECT lang, nll, CAST(sum(n_tokens) AS BIGINT) AS vt
        |       FROM dd GROUP BY 1, 2),
        |cum AS (SELECT lang, nll,
        |          CAST(sum(vt) OVER (PARTITION BY lang ORDER BY nll)
        |               AS BIGINT) AS cum_tok,
        |          CAST(sum(vt) OVER (PARTITION BY lang) AS BIGINT) AS tot
        |        FROM vb),
        |bkt AS (SELECT dd.doc_id, dd.lang, dd.nll, dd.n_tokens, dd.h8,
        |  CASE WHEN cum_tok * 3 <= tot THEN 'head'
        |       WHEN cum_tok * 3 <= 2 * tot THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM dd JOIN cum USING (lang, nll))
        |SELECT doc_id, lang, bucket,
        |  CAST(CASE WHEN bucket = 'head' THEN 1
        |            WHEN bucket = 'middle' AND h8 < '80000000' THEN 1
        |            ELSE 0 END AS BIGINT) AS kept
        |FROM bkt ORDER BY doc_id""".stripMargin) { (s, d) =>
      ccnetBuckets(s, d)
        .select(col("doc_id"), col("lang"), col("bucket"),
                when(col("bucket") === "head", 1L)
                  .when(col("bucket") === "middle" && col("h8") < "80000000",
                        1L)
                  .otherwise(0L).as("kept"))
        .orderBy("doc_id")
    },

    Q("q124_source_drift_windows",
      "Windowed source-drift monitor (batch form of the streaming " +
        "ingest monitor): per (hourly event-time window, source), the " +
        "KL divergence of the slice's term distribution against the " +
        "add-one-smoothed whole-corpus reference — q112's mixing audit " +
        "made CONTINUOUS, the dashboard a crawl operator watches for a " +
        "source going spammy mid-ingest. Event times derive " +
        "deterministically from doc_id (one doc per minute) so both " +
        "engines window identically; window starts export as epoch " +
        "millis (the q47 convention). The same core runs under a " +
        "watermark in driftTermCountsStream; DriftStreamSpec pins " +
        "stream==batch parity. Scale shape: one token pass into " +
        "(window, source, term) counts with map-side partials, slice " +
        "totals derived (no second pass), vocabulary-sized reference " +
        "join hinted off the broadcast path, scaled-int contributions.",
      """WITH t AS (SELECT doc_id, source,
        |    TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS ts,
        |    text FROM documents),
        |tok AS (SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_ms,
        |          source, unnest(string_split(text, ' ')) AS term FROM t),
        |wt AS (SELECT win_ms, source, term, CAST(count(*) AS BIGINT) AS n_wt
        |       FROM tok GROUP BY 1, 2, 3),
        |ws AS (SELECT win_ms, source, CAST(sum(n_wt) AS BIGINT) AS n_ws
        |       FROM wt GROUP BY 1, 2),
        |ref AS (SELECT term, CAST(count(*) AS BIGINT) AS n_t
        |        FROM (SELECT unnest(string_split(text, ' ')) AS term
        |              FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS v FROM ref),
        |contrib AS (SELECT wt.win_ms, wt.source,
        |   CAST(floor((CAST(n_wt AS DOUBLE) / n_ws) *
        |              ln((CAST(n_wt AS DOUBLE) / n_ws) /
        |                 (CAST(COALESCE(n_t, 0) + 1 AS DOUBLE) / (n + v)))
        |              * 100000000 + 0.5) AS BIGINT) AS c
        | FROM wt JOIN ws USING (win_ms, source)
        | LEFT JOIN ref USING (term) CROSS JOIN tot)
        |SELECT win_ms, source, CAST(count(*) AS BIGINT) AS n_terms,
        |  round(sum(c) / 100000000.0, 4) AS kl
        |FROM contrib GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val framed = spread(docs(s, d)).select(
        expr("timestampadd(MINUTE, doc_id, TIMESTAMP'2026-01-01 00:00:00')")
          .as("ts"),
        col("source"), col("text"))
      driftReport(windowedTermCounts(framed, "1 hour"), s, d)
    },

    Q("q113_pii_redact",
      "PII detection and redaction: count and strip emails, NANP phone " +
        "numbers, and dotted-quad IPs with typed placeholder tags — the " +
        "compliance pass every published-corpus pipeline runs before " +
        "release. The synthetic corpus carries no organic PII, so the " +
        "query plants one deterministic instance of each class per " +
        "document (derived from doc_id, identically in both engines) " +
        "and then proves detection counts and the redacted-text hash " +
        "match; the operator under test is [[Prep.redactPii]], whose " +
        "patterns are RE2-safe so Java regex and the oracle agree. " +
        "Scale shape: pure per-row regex projection inside codegen — " +
        "zero shuffles, linear in corpus bytes, trivially partitionable.",
      """WITH raw AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id % 97 AS VARCHAR) ||
        |    '@mail' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.org call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
        |    '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ||
        |    ' from ' || CAST(doc_id % 223 + 1 AS VARCHAR) || '.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |    CAST((doc_id * 3) % 256 AS VARCHAR) || '.' ||
        |    CAST((doc_id * 7) % 256 AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
        |    AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'))
        |    AS red_md5
        |FROM raw ORDER BY doc_id""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val t = concat(
        col("text"), lit(" contact user"), (id % 97).cast("string"),
        lit("@mail"), (id % 7).cast("string"),
        lit(".org call +1-555-"), lpad((id % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((id * 7) % 10000).cast("string"), 4, "0"),
        lit(" from "), (id % 223 + 1).cast("string"),
        lit("."), (id % 256).cast("string"),
        lit("."), ((id * 3) % 256).cast("string"),
        lit("."), ((id * 7) % 256).cast("string"))
      spread(docs(s, d)).select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(EmailPat), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("t"), lit(PhonePat), lit(0)))
            .cast("long").as("n_phone"),
          size(regexp_extract_all(col("t"), lit(Ipv4Pat), lit(0)))
            .cast("long").as("n_ip"),
          md5(redactPii(col("t")).cast("binary")).as("red_md5"))
    },

    Q("q115_chunk_dedup",
      "Paragraph-granularity dedup: exact-duplicate CHUNKS (the q109 " +
        "64/48 windows) across the corpus, reported as each document's " +
        "duplicated-chunk share — the signal that catches shared " +
        "boilerplate sections and quoted passages inside otherwise-" +
        "distinct documents, which whole-doc dedup (q30) and near-dup " +
        "banding (q35) both pass over. Scale shape: chunk bodies never " +
        "shuffle — only their md5 digests do (one hash shuffle to chunk " +
        "counts, one digest equi-join back), so network cost is " +
        "16 bytes/chunk regardless of chunk width; ordering key is the " +
        "ROUNDED share with a doc_id tie-break.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |b AS (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n,
        |        CASE WHEN len(tok) <= 64 THEN 1
        |             ELSE 1 + (CAST(len(tok) AS BIGINT) - 64 + 47) // 48 END AS nc
        |      FROM t),
        |ch AS (SELECT doc_id,
        |         md5(array_to_string(
        |               tok[CAST(ci*48+1 AS BIGINT) : CAST(ci*48+64 AS BIGINT)],
        |               ' ')) AS h
        |       FROM b CROSS JOIN LATERAL unnest(range(nc)) AS u(ci)),
        |g AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY 1)
        |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(sum(CASE WHEN g.cnt > 1 THEN 1.0 ELSE 0.0 END) / count(*), 4)
        |    AS dup_share
        |FROM ch JOIN g USING (h)
        |GROUP BY 1 ORDER BY dup_share DESC, doc_id LIMIT 50""".stripMargin) {
      (s, d) =>
      val ch = chunkDocs(spread(docs(s, d)))
        .select(col("doc_id"), col("chunk_md5").as("h"))
      val g = ch.groupBy("h").agg(count(lit(1)).as("cnt"))
      ch.join(g, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_chunks"),
             sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"),
             round(sum(when(col("cnt") > 1, 1.0).otherwise(0.0)) / count(lit(1)), 4)
               .as("dup_share"))
        .orderBy(col("dup_share").desc, col("doc_id")).limit(50)
    },

    Q("q130_substring_dedup",
      "Exact-substring duplication audit (Lee et al. 2021's ExactSubstr, " +
        "at token granularity): every 20-token run occurring more than " +
        "once ANYWHERE in the corpus marks its positions duplicated, and " +
        "overlapping/adjacent marked runs merge into maximal duplicated " +
        "spans — per doc: span count, duplicated-token total, duplicated " +
        "share. Catches long verbatim quotes and licence blocks that the " +
        "q115 fixed chunk grid straddles (a duplicated passage split " +
        "across two 64-token cells matches neither cell exactly) and " +
        "that whole-doc (q30) / near-dup banding (q35) pass over. Scale " +
        "shape: gram bodies collapse to 16-byte md5 digests inside the " +
        "scan projection, so the per-gram count shuffle and the digest " +
        "equi-join back ship digest + (doc_id, pos) per token — the " +
        "paper's suffix-array global sort replaced by two hash shuffles " +
        "that AQE coalesces; span merging is a lag/running-sum window " +
        "per doc_id (bounded by doc length, the q24 islands shape); the " +
        "O(G) slice per position is the price of oracle-exact md5 gram " +
        "identity — swap in TextHashes' rolling fingerprint when digest " +
        "identity can stay engine-local and the scan drops to O(n).",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |b AS (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n FROM t),
        |gr AS (SELECT doc_id, CAST(i AS BIGINT) AS p,
        |         md5(array_to_string(
        |               tok[CAST(i+1 AS BIGINT) : CAST(i+20 AS BIGINT)], ' ')) AS h
        |       FROM b CROSS JOIN LATERAL unnest(range(n - 19)) AS u(i)
        |       WHERE n >= 20),
        |g AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt FROM gr GROUP BY 1),
        |d AS (SELECT doc_id, p FROM gr JOIN g USING (h) WHERE cnt > 1),
        |s AS (SELECT doc_id, p,
        |        CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
        |               OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 20
        |             THEN 1 ELSE 0 END AS ns
        |      FROM d),
        |s2 AS (SELECT doc_id, p,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY p) AS sid FROM s),
        |sp AS (SELECT doc_id, sid, min(p) AS p0, max(p) + 20 AS p1
        |       FROM s2 GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |          CAST(sum(p1 - p0) AS BIGINT) AS dup_tokens
        |        FROM sp GROUP BY 1)
        |SELECT per.doc_id, n_spans, dup_tokens,
        |  round(dup_tokens * 1.0 / n, 4) AS dup_share
        |FROM per JOIN b USING (doc_id)
        |ORDER BY dup_share DESC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      substringDedup(spread(docs(s, d)))
        .orderBy(col("dup_share").desc, col("doc_id")).limit(50)
    },

    Q("q149_anneal_schedule",
      "Annealed mixture schedule — the per-epoch data-scheduling curve " +
        "between q125's static weights and q136's static plan: epoch 1 " +
        "samples sources at their NATURAL token shares, the final " +
        "epoch at UNIFORM shares, and epochs between interpolate " +
        "linearly (the temperature-flattening multilingual/pretraining " +
        "recipe — linear instead of p^(1/T) so every share is an exact " +
        "RATIONAL with denominator (E-1)*T*S and the whole schedule " +
        "stays integer-exact cross-engine, no fp pow). Per (source, " +
        "epoch) the token grant is the LARGEST-REMAINDER apportionment " +
        "of the epoch budget over those rational shares: floor the " +
        "scaled products, then +1 to the largest remainders until the " +
        "epoch sums to the budget EXACTLY — ties broken by source " +
        "name, fully deterministic. Products reach budget x tokens x " +
        "sources, so the arithmetic runs in decimal(38,0) (HUGEINT in " +
        "the oracle): exact to 1e38, no long overflow at 100 TB. " +
        "Scale shape: one token-count pass, then per-(source, epoch) " +
        "bounded algebra — sources x epochs rows regardless of corpus.",
      s"""WITH $annealOracleCtes
        |SELECT source, epoch, alloc_tok FROM sched""".stripMargin) { (s, d) =>
      annealSchedule(s, d)
    },

    Q("q153_anneal_execute",
      "EXECUTE the annealed schedule — q149's per-(source, epoch) " +
        "grants turned into the realized per-epoch sampled stream, the " +
        "way q139 executes q136's static plan. Each grant decomposes " +
        "exactly WITHIN its epoch: alloc DIV avail full copies of the " +
        "source plus one fractional pass where a doc joins iff its " +
        "content-hash uniform (q87's 24-bit md5 prefix) falls under " +
        "(alloc MOD avail) / avail — deterministic across runs, " +
        "engines, and partitionings, expected tokens = alloc_tok, and " +
        "as the mix anneals toward uniform the small sources' later " +
        "epochs legitimately repeat docs (multiplicity rides the " +
        "manifest as n_instances). Output: the per-(source, epoch) " +
        "shard manifest — instance count, token count, and the " +
        "constant-state order-free doc-set digest. Scale shape: the " +
        "schedule is (sources x epochs)-bounded and broadcasts; every " +
        "doc decides its own multiplicity from its own bytes; one " +
        "bounded (source, epoch) aggregate.",
      s"""WITH $annealOracleCtes,
        |exec AS (SELECT sched.source, sched.epoch,
        |    alloc_tok // n_s AS full_copies,
        |    CAST(alloc_tok % n_s AS DOUBLE) / n_s AS rate
        |  FROM sched JOIN nat USING (source)),
        |docu AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    list_reduce(list_transform(string_split(substr(md5(text), 1, 6), ''),
        |        c -> strpos('0123456789abcdef', c) - 1),
        |      (a, b) -> a * 16 + b) / 16777216.0 AS u
        |  FROM documents),
        |keep AS (SELECT e.source, e.epoch, d2.doc_id, d2.n_tokens,
        |    e.full_copies + CASE WHEN d2.u < e.rate THEN 1 ELSE 0 END AS m
        |  FROM docu d2 JOIN exec e USING (source))
        |SELECT source, epoch,
        |  CAST(sum(m) AS BIGINT) AS n_instances,
        |  CAST(sum(m * n_tokens) AS BIGINT) AS n_tokens,
        |  bit_xor(list_reduce(list_transform(
        |      string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS doc_digest
        |FROM keep WHERE m > 0
        |GROUP BY 1, 2 ORDER BY source, epoch""".stripMargin) { (s, d) =>
      val exec = annealSchedule(s, d)
        .join(sourceStats(s, d).select(col("source"),
                                       col("avail_tokens").as("n_s")),
              "source")
        .select(col("source"), col("epoch"),
                expr("alloc_tok DIV n_s").as("full_copies"),
                ((col("alloc_tok") % col("n_s")).cast("double") / col("n_s"))
                  .as("rate"))
      val u = u01(col("text"))
      spread(docs(s, d))
        .select(col("doc_id"), col("source"),
                size(tokens(col("text"))).cast("long").as("n_tokens"),
                u.as("u"))
        .join(broadcast(exec), "source")
        .withColumn("m",
          col("full_copies") + (col("u") < col("rate")).cast("long"))
        .filter(col("m") > 0)
        .groupBy("source", "epoch")
        .agg(sum("m").cast("long").as("n_instances"),
             sum(col("m") * col("n_tokens")).cast("long").as("n_tokens"),
             docSetDigest(col("doc_id")).as("doc_digest"))
        .orderBy("source", "epoch")
    },

    Q("q134_substring_dedup_apply",
      "The REMOVAL transform for exact-substring dedup — the apply side " +
        "of q130 (Lee et al.'s actual cleanup): for every duplicated " +
        "20-token run, the global (doc_id, pos)-minimum occurrence is " +
        "canonical; text covered only by NON-canonical occurrences is " +
        "cut, and exactly one copy of each duplicated passage survives " +
        "intact (protected spans win where self-overlapping repetition " +
        "makes the classes overlap). Every doc reports its cleaned " +
        "reassembly as (n_tokens, kept_tokens, cleaned_md5) — the " +
        "oracle hash-matches the TRANSFORMED TEXT, not just counts. " +
        "Scale shape: q130's single gram pass; rank + multiplicity as " +
        "two window functions over ONE digest exchange; span classes " +
        "collapse to bounded per-doc arrays (shuffle_hash-hinted doc " +
        "join, never broadcast); the cleanup is a positional-lambda " +
        "filter projection — tokens never join row-by-row against " +
        "spans (the oracle's range join is the semantic spec, not the " +
        "plan).",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |b AS (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n FROM t),
        |gr AS (SELECT doc_id, CAST(i AS BIGINT) AS p,
        |         md5(array_to_string(
        |               tok[CAST(i+1 AS BIGINT) : CAST(i+20 AS BIGINT)], ' ')) AS h
        |       FROM b CROSS JOIN LATERAL unnest(range(n - 19)) AS u(i)
        |       WHERE n >= 20),
        |rk AS (SELECT doc_id, p,
        |         CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id, p) > 1
        |              THEN 'r' ELSE 'p' END AS cls,
        |         count(*) OVER (PARTITION BY h) AS cnt
        |       FROM gr),
        |pos AS (SELECT doc_id, p, cls FROM rk WHERE cnt > 1),
        |s AS (SELECT doc_id, cls, p,
        |        CASE WHEN lag(p) OVER (PARTITION BY doc_id, cls ORDER BY p) IS NULL
        |               OR p > lag(p) OVER (PARTITION BY doc_id, cls ORDER BY p) + 20
        |             THEN 1 ELSE 0 END AS ns
        |      FROM pos),
        |s2 AS (SELECT doc_id, cls, p,
        |         sum(ns) OVER (PARTITION BY doc_id, cls ORDER BY p) AS sid FROM s),
        |sp AS (SELECT doc_id, cls, min(p) AS p0, max(p) + 20 AS p1
        |       FROM s2 GROUP BY doc_id, cls, sid),
        |ix AS (SELECT doc_id, n, CAST(i AS BIGINT) AS i,
        |         tok[CAST(i+1 AS BIGINT)] AS tkn
        |       FROM b CROSS JOIN LATERAL unnest(range(n)) AS u(i)),
        |cov AS (SELECT ix.doc_id, ix.n, ix.i, ix.tkn,
        |          coalesce(bool_or(sp.cls = 'r'), false) AS remc,
        |          coalesce(bool_or(sp.cls = 'p'), false) AS protc
        |        FROM ix LEFT JOIN sp
        |          ON sp.doc_id = ix.doc_id AND ix.i >= sp.p0 AND ix.i < sp.p1
        |        GROUP BY 1, 2, 3, 4),
        |kept AS (SELECT doc_id, i, tkn FROM cov WHERE NOT remc OR protc),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kt,
        |          md5(array_to_string(array_agg(tkn ORDER BY i), ' ')) AS h
        |        FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, b.n AS n_tokens,
        |  CAST(coalesce(agg.kt, 0) AS BIGINT) AS kept_tokens,
        |  coalesce(agg.h, md5('')) AS cleaned_md5
        |FROM b LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      substringDedupApply(spread(docs(s, d))).orderBy("doc_id")
    },

    Q("q135_shard_shuffle",
      "Deterministic global shuffle + shard assignment — the terminal " +
        "data-loading layout (Dolma/DataComp style): every doc lands in " +
        "one of 32 shards by content-free md5 hash, positioned in hash " +
        "order within its shard, so training order is reproducible, " +
        "near-uniform, and free of source/time locality (a corpus " +
        "written in crawl order would otherwise feed the loader long " +
        "single-source runs). Two-phase position assignment — the q108 " +
        "pattern in HASH space: per-(shard, 2-hex-prefix bucket) counts " +
        "(bounded 32*256 tiny rows) prefix-sum to bucket offsets; ranks " +
        "run only within buckets, so no window ever partitions solely " +
        "by shard over raw docs and every sort is corpus/8192-bounded. " +
        "Widen the prefix as the corpus grows. The md5-hex hash and " +
        "conv() bucket spelling are the q117 cross-engine pair, so the " +
        "full permutation is DuckDB-oracled bit-for-bit.",
      """WITH base AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hv
        |              FROM documents),
        |b2 AS (SELECT doc_id, hv,
        |         CAST(CAST(concat('0x', substr(hv, 1, 6)) AS BIGINT) % 32
        |           AS BIGINT) AS shard,
        |         substr(hv, 7, 2) AS bkt
        |       FROM base),
        |counts AS (SELECT shard, bkt, CAST(count(*) AS BIGINT) AS c
        |           FROM b2 GROUP BY 1, 2),
        |offs AS (SELECT shard, bkt,
        |           coalesce(sum(c) OVER (PARTITION BY shard ORDER BY bkt
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |             AS off
        |         FROM counts),
        |r AS (SELECT doc_id, shard, bkt, hv,
        |        row_number() OVER (PARTITION BY shard, bkt
        |                           ORDER BY hv, doc_id) AS rn
        |      FROM b2)
        |SELECT r.doc_id, r.shard, CAST(offs.off + r.rn - 1 AS BIGINT) AS pos
        |FROM r JOIN offs USING (shard, bkt)
        |ORDER BY shard, pos""".stripMargin) { (s, d) =>
      shardShuffle(spread(docs(s, d))).orderBy("shard", "pos")
    },

    Q("q131_bpe_merges",
      "Tokenizer training: learn the first 16 byte-pair-encoding merges " +
        "over the corpus (Sennrich et al. 2016) — the step that turns a " +
        "curated corpus into the tokenizer the training run uses. " +
        "Distributed shape: all per-iteration work is bounded by the " +
        "word VOCABULARY (one corpus tokenize pass builds the cached " +
        "(word, count) table; open-web vocab is ~1e8 rows — executor-" +
        "sized, never driver-sized); each step is one vocab-sized pair-" +
        "count shuffle with map-side partials plus a pure projection " +
        "applying the winning merge, and only the 1-ROW argmax crosses " +
        "to the driver (the KMeans iteration shape). Ties break (count " +
        "desc, left, right) so the merge list is byte-deterministic on " +
        "any cluster. Oracled: the DuckDB side re-learns the merges " +
        "from scratch with the training loop UNROLLED as 16 chained " +
        "materialized CTE stages (BpeOracle) — argmax ties, greedy " +
        "non-overlapping application, and UTF-8 sort parity all " +
        "independently recomputed; BpeSpec additionally pins the list " +
        "against a sequential reference implementation.",
      BpeOracle.q131Sql(BpeK)) { (s, d) =>
      import s.implicits._
      s.createDataset(bpeMergesCached(s, d))
        .toDF("step", "left", "right", "pair_count")
    },

    Q("q133_bpe_apply",
      "Tokenize with the LEARNED merges — the apply side of q131, " +
        "closing the tokenizer loop: per document, whitespace-word " +
        "count and exact subword count under the trained 16-merge BPE " +
        "vocabulary (q89's regex heuristic made exact). The merges " +
        "fold runs over the DISTINCT-WORD table only (vocab-bounded, " +
        "16 chained codegen folds — at a 100 TB corpus the fold cost " +
        "is vocabulary-sized, not corpus-sized); per-doc counts are " +
        "one corpus-token shuffle joined to the vocab-sized subword " +
        "table, hinted shuffle_hash (the q112 no-broadcast-vocabulary " +
        "convention). Shares q131's per-(session, corpus) merge cache " +
        "— one training run serves both (BENCH_DETAIL cold map). " +
        "Oracled end-to-end: DuckDB re-learns the merges itself " +
        "(BpeOracle's unrolled training CTEs) and re-tokenizes every " +
        "doc; BpeSpec additionally pins per-doc counts against the " +
        "sequential reference tokenizer.",
      BpeOracle.q133Sql(BpeK)) { (s, d) =>
      bpeTokenCounts(spread(docs(s, d)),
        bpeMergesCached(s, d).map(m => (m._2, m._3)))
    },

    Q.noOracle("q132_quality_distill",
      "Distilled quality classifier: label the corpus with the q32 " +
        "closed-form quality signal (top band positive, bottom band " +
        "negative — the teacher), train hashed-unigram logistic " +
        "regression on the labels (the student), and rank every doc by " +
        "the student's high-quality probability. The GPT-3/LLaMA " +
        "quality-filter recipe: the expensive judgment runs once on a " +
        "bounded sample; the linear model scores 100 TB as a PURE " +
        "PROJECTION (hashing + one dot product per doc, broadcast " +
        "model, no shuffle — stream-legal at ingest). No SQL oracle " +
        "(LBFGS is not ANSI-expressible); QualityDistillSpec pins held-" +
        "out accuracy >= 0.75 against teacher labels, refit " +
        "determinism, teacher-band separation, and the no-exchange " +
        "scoring plan. The fitted model caches per (session, corpus) — " +
        "train once, serve everywhere (BENCH_DETAIL cold map).") { (s, d) =>
      val model = qualityModelCached(s, d)
      scoreQuality(model, spread(docs(s, d)).select("doc_id", "source", "text"))
        .select(col("doc_id"), col("source"), col("p_hi"))
        .orderBy(col("p_hi").desc, col("doc_id")).limit(50)
    },

    Q("q117_dsir_select",
      "DSIR-style data selection (Xie et al., NeurIPS 2023): score every " +
        "document by the log-likelihood ratio of its hashed-n-gram " +
        "features under a TARGET-domain bag-of-ngrams model vs the raw-" +
        "corpus model, and keep the top-50 — the importance-resampling " +
        "recipe for tilting a 100 TB crawl toward a target distribution " +
        "(here: the English slice as the target) without training a " +
        "classifier. Features are unigrams + bigrams hashed into 1024 " +
        "buckets (2^20 at production scale — still broadcastable); both " +
        "models are add-one-smoothed bucket distributions. Scale shape: " +
        "ONE tokenize pass to the (doc, bucket) count table; the " +
        "target/raw bucket stats and both totals are DERIVATIONS of " +
        "that table (no second corpus pass); the score table is bounded " +
        "at B rows and broadcasts into the probe; top-50 via " +
        "TakeOrdered. Cross-engine determinism: the bucket hash is the " +
        "first 6 md5 hex digits (identical in both engines), per-bucket " +
        "log-ratios round half-up to 1e-6-scaled BIGINTs before the " +
        "per-doc weighted sum (exact integer arithmetic, accumulation-" +
        "order-proof — the q101 convention), and the final 4dp division " +
        "happens once in integer space.",
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |             string_split(text, ' ') AS tok FROM documents),
        |ev0 AS (
        |  SELECT doc_id, tgt, unnest(tok) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, tgt,
        |    tok[CAST(i+1 AS BIGINT)] || ' ' || tok[CAST(i+2 AS BIGINT)] AS g
        |  FROM t CROSS JOIN LATERAL unnest(range(len(tok)-1)) AS u(i)
        |),
        |ev AS (SELECT doc_id, tgt,
        |         CAST(concat('0x', substr(md5(g), 1, 6)) AS BIGINT) % 1024 AS b
        |       FROM ev0),
        |cdb AS (SELECT doc_id, tgt, b, CAST(count(*) AS BIGINT) AS c
        |        FROM ev GROUP BY 1,2,3),
        |bk AS (SELECT b,
        |         COALESCE(sum(c) FILTER (WHERE tgt), 0) AS ct,
        |         sum(c) AS cr
        |       FROM cdb GROUP BY 1),
        |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bk),
        |sc AS (SELECT b,
        |         CAST(floor((ln((ct + 1.0) / (tt + 1024))
        |                     - ln((cr + 1.0) / (tr + 1024)))
        |              * 1000000 + 0.5) AS BIGINT) AS s
        |       FROM bk CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |  floor(sum(c * s) / 100.0 + 0.5) / 10000 AS logratio
        |FROM cdb JOIN sc USING (b)
        |GROUP BY 1
        |ORDER BY logratio DESC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      // unigrams ++ bigrams as ONE array projection -> one explode -> one
      // corpus scan (a uni/bi union would scan the parquet twice)
      val t = spread(docs(s, d))
        .select(col("doc_id"), (col("lang") === "en").as("tgt"),
                tokens(col("text")).as("tok"))
      val ev = t.select(
          col("doc_id"), col("tgt"), explode(gramArray(col("tok"))).as("g"))
        .select(col("doc_id"), col("tgt"), dsirBucket(col("g")).as("b"))
        // align with the constraint the sc probe join pushes down, so the
        // bk branch and the probe branch stay canonically equal and AQE
        // reuses ONE tokenize+count stage for both (the q112 lesson)
        .filter(col("b").isNotNull)
      val cdb = ev.groupBy("doc_id", "tgt", "b").agg(count(lit(1)).as("c"))
      val bk = cdb.groupBy("b").agg(
        coalesce(sum(when(col("tgt"), col("c"))), lit(0L)).as("ct"),
        sum("c").as("cr"))
      val tot = bk.agg(sum("ct").as("tt"), sum("cr").as("tr"))
      val sc = bk.crossJoin(broadcast(tot))
        .select(col("b"),
          floor((log((col("ct") + lit(1.0)) / (col("tt") + lit(DsirB)))
                 - log((col("cr") + lit(1.0)) / (col("tr") + lit(DsirB))))
            * 1000000 + 0.5).cast("long").as("s"))
      cdb.join(broadcast(sc), Seq("b"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_grams"),
             (floor(sum(col("c") * col("s")) / lit(100.0) + 0.5) / lit(10000))
               .as("logratio"))
        .orderBy(col("logratio").desc, col("doc_id")).limit(50)
    },

    Q("q119_novelty_curve",
      "Corpus saturation audit: the share of each document's distinct " +
        "trigrams seen for the FIRST time in that document, reported by " +
        "corpus decile (ingest order = doc_id) — the curve that tells a " +
        "data pipeline when additional crawl stops buying novel " +
        "n-grams (dedup ROI, scaling-law data budgeting). A healthy " +
        "growing corpus decays smoothly (0.92 -> 0.36 here); a cliff " +
        "means a duplicated ingest batch. Scale shape: trigram events " +
        "are one linear array projection; the (doc, gram) DISTINCT and " +
        "the first-doc table are one exchange each on vocab-bounded " +
        "keys; first-doc attaches by a same-key shuffle join (never " +
        "broadcast — the gram table is vocabulary-sized); deciles come " +
        "from broadcast min/max scalars, so no global window ever " +
        "funnels the corpus through one task. Counts stay exact " +
        "integers until one division, rounded at 4dp in both engines.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |tg AS (SELECT DISTINCT doc_id,
        |         tok[CAST(i+1 AS BIGINT)] || ' ' || tok[CAST(i+2 AS BIGINT)]
        |           || ' ' || tok[CAST(i+3 AS BIGINT)] AS g
        |       FROM t CROSS JOIN LATERAL unnest(range(len(tok)-2)) AS u(i)
        |       WHERE len(tok) >= 3),
        |fd AS (SELECT g, min(doc_id) AS first_doc FROM tg GROUP BY 1),
        |ids AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |ev AS (SELECT tg.doc_id,
        |         CAST(tg.doc_id = fd.first_doc AS BIGINT) AS novel,
        |         least(9, CAST(floor((tg.doc_id - ids.lo) * 10.0 /
        |                             (ids.hi - ids.lo + 1)) AS BIGINT)) AS decile
        |       FROM tg JOIN fd USING (g) CROSS JOIN ids)
        |SELECT decile, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(novel) AS BIGINT) AS n_novel,
        |  round(CAST(sum(novel) AS DOUBLE) / count(*), 4) AS novelty
        |FROM ev GROUP BY 1 ORDER BY decile""".stripMargin) { (s, d) =>
      val t = spread(docs(s, d))
        .select(col("doc_id"), tokens(col("text")).as("tok"))
        .filter(size(col("tok")) >= 3)
      // trigrams via two padded zips — null neighbors null the gram, so
      // the tail positions drop and the projection stays token-linear
      // r20 (guide §2.3-2.4): per-doc dedup runs in-array BEFORE the
      // explode — the old `.distinct()` keyed on (doc_id, g), and
      // doc_id in the key means it only ever removed repeats WITHIN one
      // document, a set already in hand as the trigram array — same
      // rows, minus one exchange and two hash aggregates over a
      // near-unique key. The gram identity is the O(n) rolling 64-bit
      // hash (TextHashes.rollingGramHashes — one pass, no intermediate
      // trigram strings), so the first-doc aggregate, its exchange, and
      // the probe join all run on fixed-width longs (the q38 token-hash
      // convention, verified collision-free on the deterministic driver
      // corpora by the oracle gate).
      val tg = t.select(col("doc_id"), explode(array_distinct(
          graft.functions.TextHashes.rolling_gram_hash(col("tok"), 3)))
        .as("g"))
        // align with the join-pushed constraint (the q112/q117 lesson)
        .filter(col("g").isNotNull)
      // the first-doc table is VOCABULARY-sized: broadcasting it is the
      // q112 OOM-at-scale hazard the static planner happily picks at toy
      // scale — force the co-partitioned hash join (both sides already
      // shuffle on g, no sort needed); PlanSpec pins it
      val fd = tg.groupBy("g").agg(min("doc_id").as("first_doc"))
        .hint("shuffle_hash")
      val ids = docs(s, d).agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      val ev = tg.join(fd, Seq("g")).crossJoin(broadcast(ids))
        .select(col("doc_id"),
          (col("doc_id") === col("first_doc")).cast("long").as("novel"),
          least(lit(9),
            floor((col("doc_id") - col("lo")) * lit(10.0)
                  / (col("hi") - col("lo") + 1)).cast("long")).as("decile"))
      ev.groupBy("decile")
        .agg(countDistinct("doc_id").cast("long").as("n_docs"),
             count(lit(1)).cast("long").as("n_grams"),
             sum("novel").as("n_novel"),
             round(sum("novel") / count(lit(1)).cast("double"), 4).as("novelty"))
        .orderBy("decile")
    },

    Q("q120_heaps_law",
      "Heaps'-law fit: OLS slope of ln(cumulative distinct trigrams) on " +
        "ln(cumulative trigram occurrences) across corpus deciles — the " +
        "vocabulary-growth exponent beta (0.8193 here; natural text " +
        "sits ~0.5-0.8, beta near 0 means a saturated/duplicated " +
        "corpus, near 1 word-salad). The one-number companion to " +
        "q119's per-decile curve and q114's Zipf slope. Scale shape: " +
        "ONE trigram pass to the (decile, gram) count table; per-" +
        "decile token totals AND per-gram first-decile both DERIVE " +
        "from it (AQE reuses the exchange); everything after is 10-row " +
        "algebra (the bounded-domain window exception). Determinism: " +
        "q114's convention — per-point ln contributions round half-up " +
        "to 1e-6-scaled BIGINTs, so both engines fit identical " +
        "integers.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |ids AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |ev AS (SELECT least(9, CAST(floor((doc_id - ids.lo) * 10.0 /
        |                (ids.hi - ids.lo + 1)) AS BIGINT)) AS dec,
        |         tok[CAST(i+1 AS BIGINT)] || ' ' || tok[CAST(i+2 AS BIGINT)]
        |           || ' ' || tok[CAST(i+3 AS BIGINT)] AS g
        |       FROM t CROSS JOIN ids
        |       CROSS JOIN LATERAL unnest(range(len(tok)-2)) AS u(i)
        |       WHERE len(tok) >= 3),
        |cdt AS (SELECT dec, g, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1,2),
        |tokd AS (SELECT dec, CAST(sum(c) AS BIGINT) AS nt FROM cdt GROUP BY 1),
        |fd AS (SELECT g, min(dec) AS fdec FROM cdt GROUP BY 1),
        |nvd AS (SELECT fdec AS dec, CAST(count(*) AS BIGINT) AS nv FROM fd GROUP BY 1),
        |cum AS (SELECT tokd.dec,
        |          CAST(sum(nt) OVER (ORDER BY tokd.dec) AS BIGINT) AS ct,
        |          CAST(sum(COALESCE(nv, 0)) OVER (ORDER BY tokd.dec) AS BIGINT) AS cv
        |        FROM tokd LEFT JOIN nvd USING (dec)),
        |c AS (SELECT
        |   CAST(floor(ln(ct) * 1000000 + 0.5) AS BIGINT) AS x,
        |   CAST(floor(ln(cv) * 1000000 + 0.5) AS BIGINT) AS y,
        |   CAST(floor(ln(ct) * ln(ct) * 1000000 + 0.5) AS BIGINT) AS xx,
        |   CAST(floor(ln(ct) * ln(cv) * 1000000 + 0.5) AS BIGINT) AS xy
        | FROM cum),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |        CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
        |        CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
        |        CAST(CAST(sum(xx) AS BIGINT) AS DOUBLE) AS sxx,
        |        CAST(CAST(sum(xy) AS BIGINT) AS DOUBLE) AS sxy
        |      FROM c)
        |SELECT CAST(n AS BIGINT) AS n_deciles,
        |  round((n * sxy / 1000000.0 - sx * sy / 1000000000000.0) /
        |        (n * sxx / 1000000.0 - sx * sx / 1000000000000.0), 4) AS beta,
        |  round((sy / 1000000.0 -
        |         ((n * sxy / 1000000.0 - sx * sy / 1000000000000.0) /
        |          (n * sxx / 1000000.0 - sx * sx / 1000000000000.0)) *
        |           sx / 1000000.0) / n, 4) AS intercept
        |FROM s""".stripMargin) { (s, d) =>
      val t = spread(docs(s, d))
        .select(col("doc_id"), tokens(col("text")).as("tok"))
        .filter(size(col("tok")) >= 3)
      val ids = docs(s, d).agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      // r20: trigram identity is the O(n) rolling 64-bit hash (the q119
      // device — engine-local: only counts cross the oracle), so the
      // (dec, g) count table aggregates fixed-width longs and no
      // intermediate trigram strings are built (guide §2.3).
      val ev = t.crossJoin(broadcast(ids)).select(
          least(lit(9),
            floor((col("doc_id") - col("lo")) * lit(10.0)
                  / (col("hi") - col("lo") + 1)).cast("long")).as("dec"),
          explode(graft.functions.TextHashes.rolling_gram_hash(col("tok"), 3))
            .as("g"))
      val cdt = ev.groupBy("dec", "g").agg(count(lit(1)).as("c"))
      val tokd = cdt.groupBy("dec").agg(sum("c").as("nt"))
      val fd = cdt.groupBy("g").agg(min("dec").as("fdec"))
      val nvd = fd.groupBy(col("fdec").as("dec")).agg(count(lit(1)).as("nv"))
      val wc = Window.orderBy("dec")
      val cum = tokd.join(nvd, Seq("dec"), "left")
        .select(col("dec"),
                sum("nt").over(wc).cast("long").as("ct"),
                sum(coalesce(col("nv"), lit(0L))).over(wc).cast("long").as("cv"))
      val c = cum.select(
        floor(log(col("ct")) * 1000000 + 0.5).cast("long").as("x"),
        floor(log(col("cv")) * 1000000 + 0.5).cast("long").as("y"),
        floor(log(col("ct")) * log(col("ct")) * 1000000 + 0.5).cast("long").as("xx"),
        floor(log(col("ct")) * log(col("cv")) * 1000000 + 0.5).cast("long").as("xy"))
      val agg = c.agg(
        count(lit(1)).cast("double").as("n"),
        sum("x").cast("double").as("sx"), sum("y").cast("double").as("sy"),
        sum("xx").cast("double").as("sxx"), sum("xy").cast("double").as("sxy"))
      val slope =
        (col("n") * col("sxy") / lit(1000000.0)
          - col("sx") * col("sy") / lit(1000000000000.0)) /
        (col("n") * col("sxx") / lit(1000000.0)
          - col("sx") * col("sx") / lit(1000000000000.0))
      agg.select(
        col("n").cast("long").as("n_deciles"),
        round(slope, 4).as("beta"),
        round((col("sy") / lit(1000000.0) - slope * col("sx") / lit(1000000.0))
                / col("n"), 4).as("intercept"))
    },

    Q("q114_zipf_slope",
      "Zipf-law fit of the vocabulary: OLS slope of ln(term frequency) " +
        "on ln(rank) over the top-200 terms. Natural language sits near " +
        "-1; a shallow slope flags template/word-salad corpora, a steep " +
        "one a vocabulary collapsed onto boilerplate — the one-number " +
        "corpus-health gauge next to q92's vocab audit (this synthetic " +
        "corpus measures -0.179: near-uniform, as a generator's flat " +
        "draw should). Scale shape: term counts are one map-side-" +
        "partial token shuffle; ranking touches only the top-200 (a " +
        "TakeOrdered, then a window over those <=200 rows — the " +
        "bounded-domain exception q62 documents); the regression sums " +
        "are per-rank contributions rounded half-up to 1e-6-scaled " +
        "BIGINTs, so both engines fit identical integers and the final " +
        "double algebra is bit-identical.",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1),
        |top AS (SELECT term, tf,
        |          CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS r
        |        FROM tf ORDER BY tf DESC, term LIMIT 200),
        |c AS (SELECT
        |   CAST(floor(ln(r) * 1000000 + 0.5) AS BIGINT) AS x,
        |   CAST(floor(ln(tf) * 1000000 + 0.5) AS BIGINT) AS y,
        |   CAST(floor(ln(r) * ln(r) * 1000000 + 0.5) AS BIGINT) AS xx,
        |   CAST(floor(ln(r) * ln(tf) * 1000000 + 0.5) AS BIGINT) AS xy
        | FROM top),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |        CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
        |        CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
        |        CAST(CAST(sum(xx) AS BIGINT) AS DOUBLE) AS sxx,
        |        CAST(CAST(sum(xy) AS BIGINT) AS DOUBLE) AS sxy
        |      FROM c)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round((n * sxy / 1000000.0 - sx * sy / 1000000000000.0) /
        |        (n * sxx / 1000000.0 - sx * sx / 1000000000000.0), 4) AS slope,
        |  round((sy / 1000000.0 -
        |         ((n * sxy / 1000000.0 - sx * sy / 1000000000000.0) /
        |          (n * sxx / 1000000.0 - sx * sx / 1000000000000.0)) *
        |           sx / 1000000.0) / n, 4) AS intercept
        |FROM s""".stripMargin) { (s, d) =>
      val tok = spread(docs(s, d))
        .select(explode(tokens(col("text"))).as("term"))
      val tf = tok.groupBy("term").agg(count(lit(1)).as("tf"))
      val top = tf.orderBy(col("tf").desc, col("term")).limit(200)
        .withColumn("r", row_number().over(
          Window.orderBy(col("tf").desc, col("term"))).cast("long"))
      val c = top.select(
        floor(log(col("r")) * 1000000 + 0.5).cast("long").as("x"),
        floor(log(col("tf")) * 1000000 + 0.5).cast("long").as("y"),
        floor(log(col("r")) * log(col("r")) * 1000000 + 0.5).cast("long").as("xx"),
        floor(log(col("r")) * log(col("tf")) * 1000000 + 0.5).cast("long").as("xy"))
      val agg = c.agg(
        count(lit(1)).cast("double").as("n"),
        sum("x").cast("double").as("sx"), sum("y").cast("double").as("sy"),
        sum("xx").cast("double").as("sxx"), sum("xy").cast("double").as("sxy"))
      val slope =
        (col("n") * col("sxy") / lit(1000000.0) -
          col("sx") * col("sy") / lit(1000000000000.0)) /
        (col("n") * col("sxx") / lit(1000000.0) -
          col("sx") * col("sx") / lit(1000000000000.0))
      agg.select(
        col("n").cast("long").as("n_terms"),
        round(slope, 4).as("slope"),
        round((col("sy") / lit(1000000.0) - slope * col("sx") / lit(1000000.0)) /
                col("n"), 4).as("intercept"))
    },

    Q("q155_length_ks_drift",
      "Per-source LENGTH-distribution drift: the Kolmogorov-Smirnov " +
        "statistic between each source's doc-length CDF and the " +
        "corpus's, over power-of-two length bins — the audit that " +
        "catches a source whose token statistics look clean but whose " +
        "SHAPE is wrong (a scraper suddenly emitting stubs or " +
        "concatenated mega-pages; truncation bugs upstream). " +
        "Complements q112 (token KL) and q154 (embedding drift): " +
        "three orthogonal drift axes per source. Cross-engine " +
        "discipline: the bin is length(bin(n_chars)) — the integer " +
        "bit-length, exact in both engines, no float log2 at " +
        "power-of-two edges — CDFs are ratios of exact integer " +
        "cumulative counts, and the final max rounds via the q101 " +
        "scaled-int half-up convention. Scale shape: one scan into " +
        "(source, bin) counts with map-side partials; corpus bin " +
        "counts DERIVE from the per-source table (no second pass); " +
        "everything after runs on the (sources x ~64 bins) grid — " +
        "the windows and cross join are bounded regardless of corpus " +
        "size, the one place a global-ordered window is legal.",
      """WITH b AS (SELECT source,
        |    CAST(length(bin(greatest(n_chars, 1))) AS BIGINT) AS b
        |  FROM documents),
        |sb AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
        |       FROM b GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
        |       FROM sb GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cc FROM sb GROUP BY 1),
        |cum AS (SELECT b, CAST(sum(cc) OVER (ORDER BY b) AS BIGINT) AS cum
        |        FROM cb),
        |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS n FROM cb),
        |grid AS (SELECT ns.source, ns.n_s, cb.b FROM ns CROSS JOIN cb),
        |gs AS (SELECT g.source, g.n_s, g.b, COALESCE(sb.c, 0) AS c
        |       FROM grid g LEFT JOIN sb
        |         ON sb.source = g.source AND sb.b = g.b),
        |cs AS (SELECT source, n_s, b,
        |         CAST(sum(c) OVER (PARTITION BY source ORDER BY b)
        |           AS BIGINT) AS cum_s
        |       FROM gs)
        |SELECT cs.source, max(cs.n_s) AS n_docs,
        |  floor(max(abs(CAST(cum_s AS DOUBLE) / n_s -
        |                CAST(cum AS DOUBLE) / n)) * 10000 + 0.5) / 10000.0
        |    AS ks
        |FROM cs JOIN cum USING (b) CROSS JOIN tot
        |GROUP BY cs.source""".stripMargin) { (s, d) =>
      // explicit isNotNulls keep every consumer of the (source, bin)
      // count table on ONE canonical subtree (the q83/q112 stage-reuse
      // rule) — without them the left join's inferred null filters and
      // the bins-only projection fork the scan and the corpus is read
      // once per consumer
      val binned = spread(docs(s, d)).select(
          col("source"),
          length(bin(greatest(col("n_chars"), lit(1)))).cast("long").as("b"))
        .filter(col("source").isNotNull && col("b").isNotNull)
      val sb = binned.groupBy("source", "b")
        .agg(count(lit(1)).cast("long").as("c"))
      val ns = sb.groupBy("source").agg(sum("c").cast("long").as("n_s"))
      // corpus bin counts are a DERIVATION of the per-source table
      val cb = sb.groupBy("b").agg(sum("c").cast("long").as("cc"))
      val wAll = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cb.select(col("b"),
        sum("cc").over(wAll).cast("long").as("cum"))
      val tot = cb.agg(sum("cc").cast("long").as("n"))
      // the grid CARRIES the corpus cum along (sources x bins bounded),
      // so no later bins-only projection forks the cb subtree
      val grid = ns.crossJoin(cum)
      val wS = Window.partitionBy("source").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = grid
        // shuffle path, not broadcast: broadcasting sb would clone the
        // scan+count subtree instead of reusing its exchange
        .join(sb.hint("shuffle_hash"), Seq("source", "b"), "left")
        .select(col("source"), col("n_s"), col("b"), col("cum"),
                coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("cum_s", sum("c").over(wS).cast("long"))
      cs.crossJoin(broadcast(tot))
        .groupBy("source")
        .agg(max("n_s").as("n_docs"),
             (floor(max(abs(col("cum_s").cast("double") / col("n_s") -
                            col("cum").cast("double") / col("n"))) * 10000
                    + 0.5) / lit(10000.0)).as("ks"))
    },

    Q("q158_window_length_drift",
      "Windowed length-distribution drift — q155's KS statistic made " +
        "CONTINUOUS, the batch form of the streaming length monitor " +
        "(lengthBinCountsStream + lengthDriftReport): per (hourly " +
        "event-time window, source), the sup-gap between the slice's " +
        "doc-length CDF and the whole-corpus reference over bit-length " +
        "bins. Completes the per-window audit pair: q124 watches WHAT " +
        "a source says (token KL), this watches its SHAPE (a scraper " +
        "mid-crawl switching to stubs shifts length bins long before " +
        "its vocabulary drifts). Event times derive from doc_id (the " +
        "q124/q47 convention) so both engines window identically. " +
        "Scale shape: ONE corpus pass into (window, source, bin) " +
        "counts with map-side partials; the reference derives from " +
        "the count table (no second pass); everything after — grids, " +
        "windows, the final max — runs on (windows x sources x ~64 " +
        "bins)-bounded tables. LengthDriftStreamSpec pins " +
        "stream==batch parity and novel-bin arrivals.",
      """WITH t AS (SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR,
        |      TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE))
        |      AS win_ms,
        |    source, CAST(length(bin(greatest(n_chars, 1))) AS BIGINT) AS b
        |  FROM documents),
        |wb AS (SELECT win_ms, source, b, CAST(count(*) AS BIGINT) AS n_wb
        |       FROM t GROUP BY 1, 2, 3),
        |ref AS (SELECT b, CAST(sum(n_wb) AS BIGINT) AS cc FROM wb GROUP BY 1),
        |cum AS (SELECT b, CAST(sum(cc) OVER (ORDER BY b) AS BIGINT) AS cum
        |        FROM ref),
        |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS n FROM ref),
        |ns AS (SELECT win_ms, source, CAST(sum(n_wb) AS BIGINT) AS n_s
        |       FROM wb GROUP BY 1, 2),
        |grid AS (SELECT ns.win_ms, ns.source, ns.n_s, cum.b, cum.cum
        |         FROM ns CROSS JOIN cum),
        |gs AS (SELECT g.win_ms, g.source, g.n_s, g.b, g.cum,
        |         COALESCE(wb.n_wb, 0) AS c
        |       FROM grid g LEFT JOIN wb
        |         ON wb.win_ms = g.win_ms AND wb.source = g.source
        |        AND wb.b = g.b),
        |cs AS (SELECT win_ms, source, n_s, b, cum,
        |         CAST(sum(c) OVER (PARTITION BY win_ms, source ORDER BY b)
        |           AS BIGINT) AS cum_s
        |       FROM gs)
        |SELECT win_ms, source, max(n_s) AS n_docs,
        |  floor(max(abs(CAST(cum_s AS DOUBLE) / n_s -
        |                CAST(cum AS DOUBLE) / n)) * 10000 + 0.5) / 10000.0
        |    AS ks
        |FROM cs CROSS JOIN tot
        |GROUP BY win_ms, source""".stripMargin) { (s, d) =>
      val framed = spread(docs(s, d)).select(
        expr("timestampadd(MINUTE, doc_id, TIMESTAMP'2026-01-01 00:00:00')")
          .as("ts"),
        col("source"), col("n_chars"))
      val wb = windowedLengthBins(framed, "1 hour")
      // the corpus reference is a DERIVATION of the windowed counts —
      // every doc is in some window, so no second scan
      val ref = wb.groupBy("b").agg(sum("n_wb").cast("long").as("cc"))
      lengthDriftReport(wb, ref)
    },

    Q("q161_nb_distill",
      "Naive-Bayes distilled quality classifier — the EXACTLY-ORACLED " +
        "counterpart of q132's float LR: teacher-label the corpus with " +
        "the q32 closed-form quality (>= 0.55 positive, <= 0.30 " +
        "negative, middle band excluded — q132's own thresholds), train " +
        "multinomial NB with add-one smoothing on the labeled tokens, " +
        "score EVERY doc by its integer log-likelihood-ratio sum, and " +
        "report per source: label counts, prediction rate, train-set " +
        "agreement, mean LLR. Unlike LBFGS, the whole model is counts + " +
        "ln() — expressible in ANSI SQL, so the classifier path gets a " +
        "hash-matched oracle, not just spec bounds. Cross-engine " +
        "discipline: per-term LLRs floor-half-up to 1e-8-scaled BIGINTs " +
        "(the q117 convention), per-doc sums are exact integer " +
        "arithmetic, and the single 4dp division happens once at the " +
        "end. The decision threshold is TUNED, not assumed: raw NB " +
        "log-odds are miscalibrated when the teacher signal is length-" +
        "driven (the token-mass prior shifts every score positive), so " +
        "the query clips scores to the q162 half-nat bin grid and picks " +
        "the boundary maximizing train-set agreement — a 21-row BOUNDED " +
        "domain, the two-phase idiom, no corpus-sized sort. Scale " +
        "shape: SERVES the persisted nb_scores_v1 per-doc artifact " +
        "(this report and q162's diagram are bounded rollups of it). " +
        "The BUILD (nbScoresPlan, first touch per corpus snapshot) is " +
        "ONE tokenize pass to the (doc, term, count) table; class " +
        "counts, vocabulary, totals, the class prior (labeled " +
        "token-mass log-odds), the bin histogram, and the tuned " +
        "threshold are all DERIVATIONS of that table, so neither the " +
        "training set nor the tuning grid gets its own corpus scan; the " +
        "vocabulary-bounded LLR table joins back shuffle_hash (never " +
        "broadcast — the no-broadcast vocabulary rule); per-source " +
        "output is bounded.",
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok
        |           FROM documents),
        |b AS (SELECT doc_id, source,
        |  CAST(round(least(1.0, len(tok) / 64.0) *
        |      (0.5 + CAST(len(list_filter(tok, x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(tok)) * 10000, 0) AS BIGINT) AS qi,
        |  tok FROM t),
        |cd AS (SELECT doc_id, source, qi, unnest(tok) AS term FROM b),
        |cdc AS (SELECT doc_id, source, qi, term, CAST(count(*) AS BIGINT) AS c
        |        FROM cd GROUP BY 1, 2, 3, 4),
        |vt AS (SELECT term,
        |         CAST(COALESCE(sum(c) FILTER (WHERE qi >= ${NbHiInt}), 0) AS BIGINT) AS n_pt,
        |         CAST(COALESCE(sum(c) FILTER (WHERE qi <= ${NbLoInt}), 0) AS BIGINT) AS n_nt
        |       FROM cdc GROUP BY 1
        |       HAVING COALESCE(sum(c) FILTER (WHERE qi >= ${NbHiInt}), 0)
        |            + COALESCE(sum(c) FILTER (WHERE qi <= ${NbLoInt}), 0) > 0),
        |tots AS (SELECT CAST(sum(n_pt) AS BIGINT) AS n_p,
        |                CAST(sum(n_nt) AS BIGINT) AS n_n,
        |                CAST(count(*) AS BIGINT) AS v,
        |                CAST(floor(ln(CAST(sum(n_pt) AS DOUBLE) / sum(n_nt))
        |                     * 100000000 + 0.5) AS BIGINT) AS p
        |         FROM vt),
        |llr AS (SELECT term,
        |          CAST(floor((ln((n_pt + 1.0) / (n_p + v))
        |                      - ln((n_nt + 1.0) / (n_n + v)))
        |               * 100000000 + 0.5) AS BIGINT) AS l
        |        FROM vt CROSS JOIN tots),
        |ts AS (SELECT cdc.doc_id, cdc.source, cdc.qi,
        |         CAST(sum(cdc.c * COALESCE(llr.l, 0)) AS BIGINT) AS tsum
        |       FROM cdc LEFT JOIN llr USING (term) GROUP BY 1, 2, 3),
        |sb AS (SELECT source, qi, tsum + p AS s,
        |         CAST(least(greatest(
        |           floor(CAST(tsum + p AS DOUBLE) / 50000000.0), -10), 9)
        |           AS BIGINT) AS bin
        |       FROM ts CROSS JOIN tots),
        |bb AS (SELECT bin,
        |         CAST(count(*) FILTER (WHERE qi >= ${NbHiInt}) AS BIGINT) AS pb,
        |         CAST(count(*) FILTER (WHERE qi <= ${NbLoInt}) AS BIGINT) AS nb
        |       FROM sb GROUP BY 1),
        |th AS (SELECT CAST(u.t AS BIGINT) AS theta,
        |         CAST(sum(CASE WHEN bin < u.t THEN nb ELSE pb END)
        |              AS BIGINT) AS hits
        |       FROM (SELECT unnest(range(-10, 11)) AS t) u CROSS JOIN bb
        |       GROUP BY 1),
        |best AS (SELECT theta FROM th ORDER BY hits DESC, theta ASC LIMIT 1)
        |SELECT source, theta, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE qi >= ${NbHiInt}) AS BIGINT) AS n_pos,
        |  CAST(count(*) FILTER (WHERE qi <= ${NbLoInt}) AS BIGINT) AS n_neg,
        |  CAST(count(*) FILTER (WHERE bin >= theta) AS BIGINT) AS n_pred_pos,
        |  CAST(count(*) FILTER (WHERE (qi >= ${NbHiInt} OR qi <= ${NbLoInt})
        |       AND ((bin >= theta) = (qi >= ${NbHiInt}))) AS BIGINT) AS n_agree,
        |  floor(CAST(sum(s) AS DOUBLE) / count(*) / 10000.0 + 0.5)
        |    / 10000.0 AS mean_llr
        |FROM sb CROSS JOIN best
        |GROUP BY source, theta ORDER BY source""".stripMargin) { (s, d) =>
      // serves the persisted nb_scores_v1 per-doc table (theta rides
      // every row) — the report is one bounded per-source rollup
      nbScores(s, d)
        .groupBy("source", "theta")
        .agg(count(lit(1)).cast("long").as("n_docs"),
             count(when(col("qi") >= NbHiInt, 1)).cast("long").as("n_pos"),
             count(when(col("qi") <= NbLoInt, 1)).cast("long").as("n_neg"),
             count(when(col("bin") >= col("theta"), 1)).cast("long")
               .as("n_pred_pos"),
             count(when((col("qi") >= NbHiInt || col("qi") <= NbLoInt) &&
                        ((col("bin") >= col("theta")) ===
                           (col("qi") >= NbHiInt)), 1))
               .cast("long").as("n_agree"),
             (floor(sum("s_int").cast("double") / count(lit(1)) / 10000.0
                    + 0.5) / 10000.0).as("mean_llr"))
        .select(col("source"), col("theta"), col("n_docs"), col("n_pos"),
                col("n_neg"), col("n_pred_pos"), col("n_agree"),
                col("mean_llr"))
        .orderBy("source")
    },

    Q("q162_nb_calibration",
      "Reliability diagram for the q161 NB classifier — the trust-but-" +
        "verify step a production quality filter ships with: clip each " +
        "doc's LLR score into fixed half-nat bins over [-5, +5], and per " +
        "bin report volume, teacher-label composition, the observed " +
        "positive share among labeled docs (the calibration curve — " +
        "monotone-increasing if the classifier's confidence means " +
        "anything), and mean teacher quality. Fixed bins keep the value " +
        "domain BOUNDED BY CONSTRUCTION at any corpus size (21 rows) — " +
        "no global sort, no corpus-sized window, unlike a quantile " +
        "spelling. The bin edge arithmetic stays in exact integer space " +
        "(1e-8-scaled LLR // 5e7) until one double floor shared verbatim " +
        "by both engines. Scale shape: one bounded 21-bin rollup over " +
        "the persisted nb_scores_v1 artifact — zero corpus work warm.",
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok
        |           FROM documents),
        |b AS (SELECT doc_id, source,
        |  CAST(round(least(1.0, len(tok) / 64.0) *
        |      (0.5 + CAST(len(list_filter(tok, x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(tok)) * 10000, 0) AS BIGINT) AS qi,
        |  tok FROM t),
        |cd AS (SELECT doc_id, source, qi, unnest(tok) AS term FROM b),
        |cdc AS (SELECT doc_id, source, qi, term, CAST(count(*) AS BIGINT) AS c
        |        FROM cd GROUP BY 1, 2, 3, 4),
        |vt AS (SELECT term,
        |         CAST(COALESCE(sum(c) FILTER (WHERE qi >= ${NbHiInt}), 0) AS BIGINT) AS n_pt,
        |         CAST(COALESCE(sum(c) FILTER (WHERE qi <= ${NbLoInt}), 0) AS BIGINT) AS n_nt
        |       FROM cdc GROUP BY 1
        |       HAVING COALESCE(sum(c) FILTER (WHERE qi >= ${NbHiInt}), 0)
        |            + COALESCE(sum(c) FILTER (WHERE qi <= ${NbLoInt}), 0) > 0),
        |tots AS (SELECT CAST(sum(n_pt) AS BIGINT) AS n_p,
        |                CAST(sum(n_nt) AS BIGINT) AS n_n,
        |                CAST(count(*) AS BIGINT) AS v,
        |                CAST(floor(ln(CAST(sum(n_pt) AS DOUBLE) / sum(n_nt))
        |                     * 100000000 + 0.5) AS BIGINT) AS p
        |         FROM vt),
        |llr AS (SELECT term,
        |          CAST(floor((ln((n_pt + 1.0) / (n_p + v))
        |                      - ln((n_nt + 1.0) / (n_n + v)))
        |               * 100000000 + 0.5) AS BIGINT) AS l
        |        FROM vt CROSS JOIN tots),
        |ts AS (SELECT cdc.doc_id, cdc.source, cdc.qi,
        |         CAST(sum(cdc.c * COALESCE(llr.l, 0)) AS BIGINT) AS tsum
        |       FROM cdc LEFT JOIN llr USING (term) GROUP BY 1, 2, 3),
        |sb AS (SELECT qi,
        |         CAST(least(greatest(
        |           floor(CAST(tsum + p AS DOUBLE) / 50000000.0), -10), 9)
        |           AS BIGINT) AS bin
        |       FROM ts CROSS JOIN tots)
        |SELECT bin, bin / 2.0 AS bin_lo,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE qi >= ${NbHiInt}) AS BIGINT) AS n_pos,
        |  CAST(count(*) FILTER (WHERE qi <= ${NbLoInt}) AS BIGINT) AS n_neg,
        |  CASE WHEN count(*) FILTER (WHERE qi >= ${NbHiInt} OR qi <= ${NbLoInt}) = 0
        |       THEN NULL
        |       ELSE round(CAST(count(*) FILTER (WHERE qi >= ${NbHiInt}) AS DOUBLE)
        |                  / count(*) FILTER (WHERE qi >= ${NbHiInt} OR qi <= ${NbLoInt}), 6)
        |  END AS share_pos,
        |  floor(CAST(sum(qi) AS DOUBLE) / count(*) + 0.5) / 10000.0
        |    AS mean_quality
        |FROM sb GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
      // serves the persisted nb_scores_v1 per-doc table — the diagram
      // is one bounded 21-bin rollup (theta pruned away at the scan)
      val sc = nbScores(s, d)
      val nLabeled =
        count(when(col("qi") >= NbHiInt || col("qi") <= NbLoInt, 1))
      sc.groupBy("bin")
        .agg(count(lit(1)).cast("long").as("n_docs"),
             count(when(col("qi") >= NbHiInt, 1)).cast("long").as("n_pos"),
             count(when(col("qi") <= NbLoInt, 1)).cast("long").as("n_neg"),
             when(nLabeled === 0, lit(null).cast("double"))
               .otherwise(round(count(when(col("qi") >= NbHiInt, 1))
                                  .cast("double") / nLabeled, 6))
               .as("share_pos"),
             (floor(sum("qi").cast("double") / count(lit(1)) + 0.5)
                / 10000.0).as("mean_quality"))
        .select(col("bin"), (col("bin") / 2.0).as("bin_lo"), col("n_docs"),
                col("n_pos"), col("n_neg"), col("share_pos"),
                col("mean_quality"))
        .orderBy("bin")
    },

    Q("q163_filter_stack",
      "Staged quality-filter funnel — the composed per-doc gate table a " +
        "FineWeb/Dolma-style pipeline runs before tokenization: four " +
        "stages in fixed order (length floor → q32 closed-form quality " +
        "→ unigram-LM mean log-probability → tuned NB classifier bin), " +
        "each doc carrying every stage score, every stage verdict, the " +
        "final keep bit, and the FIRST rejecting stage (the funnel " +
        "attribution an ablation reads). Composition discipline: the " +
        "LM stage is the exact q82 4dp spelling, the NB stage the exact " +
        "q161 integer-LLR + tuned-theta spelling — same constants, same " +
        "scaled arithmetic — so this table and the single-model queries " +
        "can never disagree. Scale shape: SERVES the persisted " +
        "funnel_stack_v1 DerivedCache artifact — the verdict table is " +
        "deterministic per corpus snapshot, so the first touch pays ONE " +
        "build (model layers resolved from the append-incremental " +
        "artifacts + one rescore pass, funnelStackFromLayers) and every " +
        "consumer, every later session, and the nightly health stage " +
        "read one narrow per-doc parquet.",
      fsOracleCte +
        """
        |SELECT doc_id, source, n_tokens, qi, lp4, s_int, bin, theta,
        |  pass_len, pass_quality, pass_lm, pass_nb,
        |  (pass_len AND pass_quality AND pass_lm AND pass_nb) AS keep,
        |  CASE WHEN NOT pass_len THEN 'len'
        |       WHEN NOT pass_quality THEN 'quality'
        |       WHEN NOT pass_lm THEN 'lm'
        |       WHEN NOT pass_nb THEN 'nb'
        |       ELSE 'keep' END AS reject_stage
        |FROM g""".stripMargin) { (s, d) =>
      funnelStack(s, d)
        .select("doc_id", "source", "n_tokens", "qi", "lp4", "s_int",
                "bin", "theta", "pass_len", "pass_quality", "pass_lm",
                "pass_nb", "keep", "reject_stage")
    },

    Q("q164_filter_funnel",
      "Per-source survival report over the q163 funnel — how many docs " +
        "each source delivers into each successive stage and the final " +
        "keep rate: the ONE table a pipeline owner reads to see which " +
        "source dies at which gate (a source failing at 'lm' is " +
        "distribution-shifted; failing at 'quality' is boilerplate; " +
        "failing at 'nb' disagrees with the distilled teacher). Pure " +
        "bounded aggregation of the LANDED funnel_stack_v1 artifact — " +
        "one narrow parquet scan, zero corpus work, output rows = " +
        "sources (this is the nightly health-stage table, now truly a " +
        "bounded composition over persisted artifacts).",
      fsOracleCte +
        """
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE pass_len) AS BIGINT) AS n_len,
        |  CAST(count(*) FILTER (WHERE pass_len AND pass_quality)
        |       AS BIGINT) AS n_quality,
        |  CAST(count(*) FILTER (WHERE pass_len AND pass_quality AND pass_lm)
        |       AS BIGINT) AS n_lm,
        |  CAST(count(*) FILTER (WHERE pass_len AND pass_quality AND pass_lm
        |       AND pass_nb) AS BIGINT) AS n_kept,
        |  round(CAST(count(*) FILTER (WHERE pass_len AND pass_quality
        |       AND pass_lm AND pass_nb) AS DOUBLE) / count(*), 4)
        |    AS keep_rate
        |FROM g GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val fs0 = funnelStack(s, d)
      val surv2 = col("pass_len") && col("pass_quality")
      val surv3 = surv2 && col("pass_lm")
      val surv4 = surv3 && col("pass_nb")
      fs0.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
             count(when(col("pass_len"), 1)).cast("long").as("n_len"),
             count(when(surv2, 1)).cast("long").as("n_quality"),
             count(when(surv3, 1)).cast("long").as("n_lm"),
             count(when(surv4, 1)).cast("long").as("n_kept"),
             round(count(when(surv4, 1)).cast("double") / count(lit(1)), 4)
               .as("keep_rate"))
        .orderBy("source")
    },

    Q("q165_funnel_mixture_shift",
      "Post-filter mixture drift + corrective resampling weights — the " +
        "balancing read that closes the q163 loop: quality filtering " +
        "never rejects uniformly, so the source mixture a pipeline " +
        "TARGETS (pre-filter token shares) and the mixture it actually " +
        "TRAINS on (post-funnel kept-token shares) diverge. Per source: " +
        "doc/token counts before and after the funnel, both shares, the " +
        "shift ratio (post/pre — a source above 1 was enriched by " +
        "filtering, below 1 was eaten by a gate), and the normalized " +
        "resampling weight ∝ pre_share/post_share that restores the " +
        "pre-filter mixture when sampling from the filtered corpus. " +
        "Cross-engine float discipline: counts and token sums are exact " +
        "BIGINTs end-to-end; the corrective ratio rounds to a " +
        "1e-8-scaled BIGINT and NORMALIZES over the integer sum (the " +
        "q125 convention), so no double accumulation order can move the " +
        "hash. Scale shape: pure bounded aggregation of the LANDED " +
        "funnel_stack_v1 artifact — one narrow parquet scan, zero " +
        "corpus work, output rows = sources.",
      fsOracleCte +
        """,
        |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS pre_docs,
        |  CAST(count(*) FILTER (WHERE pass_len AND pass_quality AND
        |       pass_lm AND pass_nb) AS BIGINT) AS kept_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS pre_tokens,
        |  CAST(COALESCE(sum(n_tokens) FILTER (WHERE pass_len AND
        |       pass_quality AND pass_lm AND pass_nb), 0) AS BIGINT)
        |    AS kept_tokens
        |  FROM g GROUP BY 1),
        |tot AS (SELECT CAST(sum(pre_tokens) AS BIGINT) AS t_pre,
        |               CAST(sum(kept_tokens) AS BIGINT) AS t_kept
        |        FROM agg),
        |r AS (SELECT agg.*,
        |  round(CAST(pre_tokens AS DOUBLE) / t_pre, 4) AS pre_share,
        |  round(CAST(kept_tokens AS DOUBLE) / NULLIF(t_kept, 0), 4)
        |    AS post_share,
        |  round((CAST(kept_tokens AS DOUBLE) / NULLIF(t_kept, 0))
        |        / (CAST(pre_tokens AS DOUBLE) / t_pre), 4) AS shift,
        |  CASE WHEN kept_tokens > 0 THEN
        |    CAST(floor(CAST(pre_tokens AS DOUBLE) * t_kept
        |               / (CAST(t_pre AS DOUBLE) * kept_tokens)
        |               * 100000000 + 0.5) AS BIGINT) END AS r_int
        |  FROM agg CROSS JOIN tot),
        |tw AS (SELECT CAST(sum(r_int) AS BIGINT) AS tw FROM r)
        |SELECT source, pre_docs, kept_docs, pre_tokens, kept_tokens,
        |  pre_share, post_share, shift,
        |  round(CAST(r_int AS DOUBLE) / NULLIF(tw, 0), 6)
        |    AS resample_weight
        |FROM r CROSS JOIN tw ORDER BY source""".stripMargin) { (s, d) =>
      val keep = col("keep")
      // The corpus totals and the weight normalizer are unpartitioned
      // window sums over the per-source rollup (rows = sources), NOT
      // separate aggregate branches: an agg-branch + crossJoin shape
      // plans the whole source subtree once per branch (4 copies
      // measured when this derived the funnel inline; AQE stage reuse
      // recovers only the shuffle halves), while the window form keeps
      // ONE artifact scan and the sums stay exact BIGINTs, so the hash
      // cannot move.
      val wAll = Window.partitionBy()
      val agg = funnelStack(s, d).groupBy("source")
        .agg(count(lit(1)).cast("long").as("pre_docs"),
             count(when(keep, 1)).cast("long").as("kept_docs"),
             sum("n_tokens").cast("long").as("pre_tokens"),
             coalesce(sum(when(keep, col("n_tokens"))), lit(0L))
               .cast("long").as("kept_tokens"))
      // t_kept == 0 (a funnel that eats the WHOLE corpus — observed on
      // the mutated ScaleUp corpus, whose inflated vocabulary fails
      // every doc at the lm gate) must degrade to NULL post-side
      // columns, not throw ANSI DIVIDE_BY_ZERO: the pre-side numbers
      // are exactly what the operator needs to diagnose the dead gate.
      val r = agg
        .withColumn("t_pre", sum("pre_tokens").over(wAll).cast("long"))
        .withColumn("t_kept", sum("kept_tokens").over(wAll).cast("long"))
        .withColumn("pre_share",
          round(col("pre_tokens").cast("double") / col("t_pre"), 4))
        .withColumn("post_share",
          when(col("t_kept") > 0,
            round(col("kept_tokens").cast("double") / col("t_kept"), 4)))
        .withColumn("shift",
          when(col("t_kept") > 0,
            round((col("kept_tokens").cast("double") / col("t_kept"))
                  / (col("pre_tokens").cast("double") / col("t_pre")), 4)))
        .withColumn("r_int",
          when(col("kept_tokens") > 0,
            floor(col("pre_tokens").cast("double") * col("t_kept")
                  / (col("t_pre").cast("double") * col("kept_tokens"))
                  * 100000000 + 0.5).cast("long")))
      r.withColumn("tw", sum("r_int").over(wAll).cast("long"))
        .select(col("source"), col("pre_docs"), col("kept_docs"),
                col("pre_tokens"), col("kept_tokens"), col("pre_share"),
                col("post_share"), col("shift"),
                when(col("tw") > 0,
                  round(col("r_int").cast("double") / col("tw"), 6))
                  .as("resample_weight"))
        .orderBy("source")
    },

    Q("q166_funnel_ablation",
      "Leave-one-out funnel ablation — the table a pipeline owner reads " +
        "before adding or dropping a gate (the filter-ablation " +
        "methodology the FineWeb/Dolma reports publish): per stage, how " +
        "many docs it rejects at all, how many it UNIQUELY kills (docs " +
        "every other stage would keep — the stage's true marginal bite; " +
        "a stage with many rejections but few unique kills is redundant " +
        "with its neighbors), and the corpus keep-rate if that one " +
        "stage were removed. Exactly four rows from ONE bounded " +
        "aggregate over the LANDED funnel_stack_v1 artifact — zero " +
        "corpus work, and the unpivot is a 4-element literal array, " +
        "never a shuffle.",
      fsOracleCte +
        """,
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (WHERE pass_len AND pass_quality AND
        |       pass_lm AND pass_nb) AS BIGINT) AS n_keep,
        |  CAST(count(*) FILTER (WHERE NOT pass_len) AS BIGINT) AS f_len,
        |  CAST(count(*) FILTER (WHERE NOT pass_quality) AS BIGINT) AS f_quality,
        |  CAST(count(*) FILTER (WHERE NOT pass_lm) AS BIGINT) AS f_lm,
        |  CAST(count(*) FILTER (WHERE NOT pass_nb) AS BIGINT) AS f_nb,
        |  CAST(count(*) FILTER (WHERE NOT pass_len AND pass_quality AND
        |       pass_lm AND pass_nb) AS BIGINT) AS u_len,
        |  CAST(count(*) FILTER (WHERE pass_len AND NOT pass_quality AND
        |       pass_lm AND pass_nb) AS BIGINT) AS u_quality,
        |  CAST(count(*) FILTER (WHERE pass_len AND pass_quality AND
        |       NOT pass_lm AND pass_nb) AS BIGINT) AS u_lm,
        |  CAST(count(*) FILTER (WHERE pass_len AND pass_quality AND
        |       pass_lm AND NOT pass_nb) AS BIGINT) AS u_nb
        |  FROM g)
        |SELECT stage, n_fail, n_unique,
        |  round(CAST(n_keep AS DOUBLE) / n, 4) AS base_keep_rate,
        |  round(CAST(n_keep + n_unique AS DOUBLE) / n, 4)
        |    AS keep_rate_without
        |FROM (
        |  SELECT 'len' AS stage, f_len AS n_fail, u_len AS n_unique,
        |         n, n_keep FROM a
        |  UNION ALL SELECT 'quality', f_quality, u_quality, n, n_keep FROM a
        |  UNION ALL SELECT 'lm', f_lm, u_lm, n, n_keep FROM a
        |  UNION ALL SELECT 'nb', f_nb, u_nb, n, n_keep FROM a)
        |ORDER BY stage""".stripMargin) { (s, d) =>
      val fs0 = funnelStack(s, d)
      def others(self: String) =
        Seq("pass_len", "pass_quality", "pass_lm", "pass_nb")
          .filterNot(_ == s"pass_$self").map(col).reduce(_ && _)
      val a = fs0.agg(
        count(lit(1)).cast("long").as("n"),
        count(when(col("keep"), 1)).cast("long").as("n_keep"),
        count(when(!col("pass_len"), 1)).cast("long").as("f_len"),
        count(when(!col("pass_quality"), 1)).cast("long").as("f_quality"),
        count(when(!col("pass_lm"), 1)).cast("long").as("f_lm"),
        count(when(!col("pass_nb"), 1)).cast("long").as("f_nb"),
        count(when(!col("pass_len") && others("len"), 1))
          .cast("long").as("u_len"),
        count(when(!col("pass_quality") && others("quality"), 1))
          .cast("long").as("u_quality"),
        count(when(!col("pass_lm") && others("lm"), 1))
          .cast("long").as("u_lm"),
        count(when(!col("pass_nb") && others("nb"), 1))
          .cast("long").as("u_nb"))
      a.select(explode(array(
          struct(lit("len").as("stage"), col("f_len").as("n_fail"),
                 col("u_len").as("n_unique")),
          struct(lit("quality").as("stage"), col("f_quality").as("n_fail"),
                 col("u_quality").as("n_unique")),
          struct(lit("lm").as("stage"), col("f_lm").as("n_fail"),
                 col("u_lm").as("n_unique")),
          struct(lit("nb").as("stage"), col("f_nb").as("n_fail"),
                 col("u_nb").as("n_unique")))).as("r"),
        col("n"), col("n_keep"))
        .select(col("r.stage").as("stage"), col("r.n_fail").as("n_fail"),
                col("r.n_unique").as("n_unique"),
                round(col("n_keep").cast("double") / col("n"), 4)
                  .as("base_keep_rate"),
                round((col("n_keep") + col("r.n_unique")).cast("double")
                      / col("n"), 4).as("keep_rate_without"))
        .orderBy("stage")
    },

    Q("q167_funnel_resample",
      "Corrective mixture resample — q165's weights APPLIED: the " +
        "funnel-surviving corpus thinned per source by deterministic " +
        "content-hash Bernoulli at rate r_int/max(r_int), so the " +
        "highest-enrichment-corrected source keeps everything and the " +
        "others thin until the sampled token mixture matches the " +
        "pre-filter shares in expectation (the report-to-action close " +
        "of the funnel loop; FineWeb-style pipelines rebalance exactly " +
        "this way after quality filtering). Membership is the q87/q139 " +
        "24-bit md5 dyadic fraction on doc_id — per-row, content-" +
        "driven, reproducible on any engine; the weight arithmetic is " +
        "the exact q165 integer spelling, so the two queries can never " +
        "disagree about the target mixture. A zero-kept corpus (the " +
        "q165 degenerate case) yields an EMPTY sample, not a throw. " +
        "Scale shape: TWO column-pruned scans of the landed " +
        "funnel_stack_v1 artifact and zero corpus work — the bounded " +
        "rate rollup (rows = sources, resampleRates) broadcasts into " +
        "the keep-filtered probe scan; the membership hash rides the " +
        "per-doc row. (The r14 inline form forked the funnel subtree " +
        "and tokenized the corpus twice — the artifact retires the " +
        "fork by construction.)",
      fsOracleCte +
        """,
        |agg AS (SELECT source,
        |  CAST(sum(n_tokens) AS BIGINT) AS pre_tokens,
        |  CAST(COALESCE(sum(n_tokens) FILTER (WHERE pass_len AND
        |       pass_quality AND pass_lm AND pass_nb), 0) AS BIGINT)
        |    AS kept_tokens
        |  FROM g GROUP BY 1),
        |tot AS (SELECT CAST(sum(pre_tokens) AS BIGINT) AS t_pre,
        |               CAST(sum(kept_tokens) AS BIGINT) AS t_kept
        |        FROM agg),
        |r AS (SELECT source,
        |  CASE WHEN kept_tokens > 0 THEN
        |    CAST(floor(CAST(pre_tokens AS DOUBLE) * t_kept
        |               / (CAST(t_pre AS DOUBLE) * kept_tokens)
        |               * 100000000 + 0.5) AS BIGINT) END AS r_int
        |  FROM agg CROSS JOIN tot),
        |mx AS (SELECT CAST(max(r_int) AS BIGINT) AS max_r FROM r),
        |uu AS (SELECT g.doc_id, g.source, g.n_tokens, r.r_int,
        |    list_reduce(list_transform(
        |        string_split(substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 6), ''),
        |        c -> strpos('0123456789abcdef', c) - 1),
        |      (a, b) -> a * 16 + b) / 16777216.0 AS u
        |  FROM g JOIN r USING (source)
        |  WHERE pass_len AND pass_quality AND pass_lm AND pass_nb)
        |SELECT doc_id, source, n_tokens,
        |  round(CAST(r_int AS DOUBLE) / max_r, 6) AS rate
        |FROM uu CROSS JOIN mx
        |WHERE u < CAST(r_int AS DOUBLE) / max_r""".stripMargin) { (s, d) =>
      resampledDocs(s, d)
    },

    Q("q168_resample_audit",
      "Did the corrective resample WORK? — the verification read that " +
        "closes the q165→q167 loop (report → action → audit): per " +
        "source, token counts and shares at the three pipeline points " +
        "— pre-filter (the mixture the pipeline TARGETS), post-funnel " +
        "kept (the drifted mixture filtering left), and post-resample " +
        "SAMPLED (what q167's thinning realized) — plus the residual " +
        "|sampled_share − pre_share| an operator alarms on. The " +
        "content-hash Bernoulli restores the target only in " +
        "expectation, so the audit lands realized numbers instead of " +
        "asserting; a residual persistently above the binomial noise " +
        "floor means a stale rate table. Shares follow the q165 " +
        "discipline: exact BIGINT sums, NULL (never a throw) when a " +
        "degenerate funnel kept nothing, residuals computed from the " +
        "4dp-rounded shares so no engine's double accumulation order " +
        "can move the hash. Scale shape: TWO column-pruned scans of " +
        "the landed funnel_stack_v1, zero corpus work — the pre/kept " +
        "rollup is spelled exactly as resampleRates' aggregate, so " +
        "the planner serves both from one scan+exchange (canonical " +
        "equality, PlanSpec-pinned) and only q167's keep-filtered " +
        "probe adds a scan; every window is over the sources-bounded " +
        "rollup.",
      fsOracleCte +
        """,
        |agg AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS pre_tokens,
        |  CAST(COALESCE(sum(n_tokens) FILTER (WHERE pass_len AND
        |       pass_quality AND pass_lm AND pass_nb), 0) AS BIGINT)
        |    AS kept_tokens
        |  FROM g GROUP BY 1),
        |tot AS (SELECT CAST(sum(pre_tokens) AS BIGINT) AS t_pre,
        |               CAST(sum(kept_tokens) AS BIGINT) AS t_kept
        |        FROM agg),
        |r AS (SELECT source,
        |  CASE WHEN kept_tokens > 0 THEN
        |    CAST(floor(CAST(pre_tokens AS DOUBLE) * t_kept
        |               / (CAST(t_pre AS DOUBLE) * kept_tokens)
        |               * 100000000 + 0.5) AS BIGINT) END AS r_int
        |  FROM agg CROSS JOIN tot),
        |mx AS (SELECT CAST(max(r_int) AS BIGINT) AS max_r FROM r),
        |uu AS (SELECT g.doc_id, g.source, g.n_tokens, r.r_int,
        |    list_reduce(list_transform(
        |        string_split(substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 6), ''),
        |        c -> strpos('0123456789abcdef', c) - 1),
        |      (a, b) -> a * 16 + b) / 16777216.0 AS u
        |  FROM g JOIN r USING (source)
        |  WHERE pass_len AND pass_quality AND pass_lm AND pass_nb),
        |samp AS (SELECT source, CAST(sum(n_tokens) AS BIGINT)
        |           AS sampled_tokens
        |         FROM uu CROSS JOIN mx
        |         WHERE u < CAST(r_int AS DOUBLE) / max_r GROUP BY 1),
        |st2 AS (SELECT CAST(COALESCE(sum(sampled_tokens), 0) AS BIGINT)
        |          AS t_samp FROM samp)
        |SELECT agg.source, pre_tokens, kept_tokens,
        |  CAST(COALESCE(sampled_tokens, 0) AS BIGINT) AS sampled_tokens,
        |  round(CAST(pre_tokens AS DOUBLE) / t_pre, 4) AS pre_share,
        |  round(CAST(kept_tokens AS DOUBLE) / NULLIF(t_kept, 0), 4)
        |    AS kept_share,
        |  round(CAST(COALESCE(sampled_tokens, 0) AS DOUBLE)
        |        / NULLIF(t_samp, 0), 4) AS sampled_share,
        |  round(abs(round(CAST(COALESCE(sampled_tokens, 0) AS DOUBLE)
        |                  / NULLIF(t_samp, 0), 4)
        |            - round(CAST(pre_tokens AS DOUBLE) / t_pre, 4)), 4)
        |    AS residual
        |FROM agg LEFT JOIN samp USING (source)
        |CROSS JOIN tot CROSS JOIN st2
        |ORDER BY source""".stripMargin) { (s, d) =>
      val keep = col("keep")
      val wAll = Window.partitionBy()
      val agg = funnelStack(s, d).groupBy("source")
        .agg(sum("n_tokens").cast("long").as("pre_tokens"),
             coalesce(sum(when(keep, col("n_tokens"))), lit(0L))
               .cast("long").as("kept_tokens"))
      val samp = resampledDocs(s, d).groupBy("source")
        .agg(sum("n_tokens").cast("long").as("sampled_tokens"))
      agg.join(samp, Seq("source"), "left")
        .withColumn("sampled_tokens",
          coalesce(col("sampled_tokens"), lit(0L)))
        .withColumn("t_pre", sum("pre_tokens").over(wAll).cast("long"))
        .withColumn("t_kept", sum("kept_tokens").over(wAll).cast("long"))
        .withColumn("t_samp",
          sum("sampled_tokens").over(wAll).cast("long"))
        .withColumn("pre_share",
          round(col("pre_tokens").cast("double") / col("t_pre"), 4))
        .withColumn("kept_share",
          when(col("t_kept") > 0,
            round(col("kept_tokens").cast("double") / col("t_kept"), 4)))
        .withColumn("sampled_share",
          when(col("t_samp") > 0,
            round(col("sampled_tokens").cast("double")
                  / col("t_samp"), 4)))
        .select(col("source"), col("pre_tokens"), col("kept_tokens"),
                col("sampled_tokens"), col("pre_share"),
                col("kept_share"), col("sampled_share"),
                when(col("t_samp") > 0,
                  round(abs(col("sampled_share") - col("pre_share")), 4))
                  .as("residual"))
        .orderBy("source")
    },

    Q("q169_nb_threshold_sweep",
      "Operating-characteristic sweep of the q161 NB quality gate — " +
        "the table a pipeline publishes BEFORE committing to a " +
        "threshold (FineWeb-style reports show exactly this curve): " +
        "for every candidate theta on the half-nat bin grid, the " +
        "docs-kept count and rate, the teacher-labeled confusion " +
        "counts (tp/fp/fn/tn), precision, recall, F1, and the " +
        "train-agreement objective q161 maximizes — so the shipped " +
        "theta is VISIBLY the argmax row, and the cost of moving it " +
        "one bin either way (precision bought, recall paid) is read " +
        "straight off adjacent rows. Exactly 21 rows from ONE bounded " +
        "bin rollup of the persisted nb_scores_v1 artifact crossed " +
        "with the literal theta grid — zero corpus work warm. " +
        "Ratios NULL-degrade when a denominator is empty (no labeled " +
        "positives predicted, a class absent) — never an ANSI throw; " +
        "all ratios round at 6dp from exact BIGINT counts, so no " +
        "engine's accumulation order can move the hash.",
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok
        |           FROM documents),
        |b AS (SELECT doc_id, source,
        |  CAST(round(least(1.0, len(tok) / 64.0) *
        |      (0.5 + CAST(len(list_filter(tok, x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(tok)) * 10000, 0) AS BIGINT) AS qi,
        |  tok FROM t),
        |cd AS (SELECT doc_id, source, qi, unnest(tok) AS term FROM b),
        |cdc AS (SELECT doc_id, source, qi, term, CAST(count(*) AS BIGINT) AS c
        |        FROM cd GROUP BY 1, 2, 3, 4),
        |vt AS (SELECT term,
        |         CAST(COALESCE(sum(c) FILTER (WHERE qi >= ${NbHiInt}), 0) AS BIGINT) AS n_pt,
        |         CAST(COALESCE(sum(c) FILTER (WHERE qi <= ${NbLoInt}), 0) AS BIGINT) AS n_nt
        |       FROM cdc GROUP BY 1
        |       HAVING COALESCE(sum(c) FILTER (WHERE qi >= ${NbHiInt}), 0)
        |            + COALESCE(sum(c) FILTER (WHERE qi <= ${NbLoInt}), 0) > 0),
        |tots AS (SELECT CAST(sum(n_pt) AS BIGINT) AS n_p,
        |                CAST(sum(n_nt) AS BIGINT) AS n_n,
        |                CAST(count(*) AS BIGINT) AS v,
        |                CAST(floor(ln(CAST(sum(n_pt) AS DOUBLE) / sum(n_nt))
        |                     * 100000000 + 0.5) AS BIGINT) AS p
        |         FROM vt),
        |llr AS (SELECT term,
        |          CAST(floor((ln((n_pt + 1.0) / (n_p + v))
        |                      - ln((n_nt + 1.0) / (n_n + v)))
        |               * 100000000 + 0.5) AS BIGINT) AS l
        |        FROM vt CROSS JOIN tots),
        |ts AS (SELECT cdc.doc_id, cdc.qi,
        |         CAST(sum(cdc.c * COALESCE(llr.l, 0)) AS BIGINT) AS tsum
        |       FROM cdc LEFT JOIN llr USING (term) GROUP BY 1, 2),
        |sb AS (SELECT qi,
        |         CAST(least(greatest(
        |           floor(CAST(tsum + p AS DOUBLE) / 50000000.0), -10), 9)
        |           AS BIGINT) AS bin
        |       FROM ts CROSS JOIN tots),
        |bb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (WHERE qi >= ${NbHiInt}) AS BIGINT) AS pb,
        |         CAST(count(*) FILTER (WHERE qi <= ${NbLoInt}) AS BIGINT) AS nb
        |       FROM sb GROUP BY 1),
        |sw AS (SELECT CAST(u.t AS BIGINT) AS theta,
        |         CAST(COALESCE(sum(n) FILTER (WHERE bin >= u.t), 0)
        |              AS BIGINT) AS n_kept,
        |         CAST(sum(n) AS BIGINT) AS n_docs,
        |         CAST(COALESCE(sum(pb) FILTER (WHERE bin >= u.t), 0)
        |              AS BIGINT) AS tp,
        |         CAST(COALESCE(sum(nb) FILTER (WHERE bin >= u.t), 0)
        |              AS BIGINT) AS fp,
        |         CAST(COALESCE(sum(pb) FILTER (WHERE bin < u.t), 0)
        |              AS BIGINT) AS fn,
        |         CAST(COALESCE(sum(nb) FILTER (WHERE bin < u.t), 0)
        |              AS BIGINT) AS tn
        |       FROM (SELECT unnest(range(-10, 11)) AS t) u CROSS JOIN bb
        |       GROUP BY 1)
        |SELECT theta, n_kept,
        |  round(CAST(n_kept AS DOUBLE) / n_docs, 6) AS keep_rate,
        |  tp, fp, fn, tn,
        |  round(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision,
        |  round(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall,
        |  round(2.0 * tp / NULLIF(2 * tp + fp + fn, 0), 6) AS f1,
        |  CAST(tn + tp AS BIGINT) AS agreement
        |FROM sw ORDER BY theta""".stripMargin) { (s, d) =>
      // one bounded 21-bin rollup of the persisted per-doc artifact,
      // crossed with the literal theta grid (the tuneTheta shape,
      // extended to the full confusion table)
      val bb = nbScores(s, d).groupBy("bin")
        .agg(count(lit(1)).cast("long").as("n"),
             count(when(col("qi") >= NbHiInt, 1)).cast("long").as("pb"),
             count(when(col("qi") <= NbLoInt, 1)).cast("long").as("nb"))
      val ge = col("bin") >= col("theta")
      s.range(-10, 11).select(col("id").as("theta"))
        .crossJoin(bb)
        .groupBy("theta")
        .agg(coalesce(sum(when(ge, col("n"))), lit(0L)).cast("long")
               .as("n_kept"),
             sum("n").cast("long").as("n_docs"),
             coalesce(sum(when(ge, col("pb"))), lit(0L)).cast("long")
               .as("tp"),
             coalesce(sum(when(ge, col("nb"))), lit(0L)).cast("long")
               .as("fp"),
             coalesce(sum(when(!ge, col("pb"))), lit(0L)).cast("long")
               .as("fn"),
             coalesce(sum(when(!ge, col("nb"))), lit(0L)).cast("long")
               .as("tn"))
        .select(col("theta"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 6)
            .as("keep_rate"),
          col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
            .as("precision"),
          when(col("tp") + col("fn") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
            .as("recall"),
          when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            round(lit(2.0) * col("tp")
                  / (lit(2L) * col("tp") + col("fp") + col("fn")), 6))
            .as("f1"),
          (col("tn") + col("tp")).cast("long").as("agreement"))
        .orderBy("theta")
    },

    Q("q170_funnel_overlap",
      "Pairwise stage-redundancy matrix of the q163 funnel — the " +
        "filter-correlation read published beside the leave-one-out " +
        "ablation (q166): for every unordered stage pair, how many " +
        "docs each stage rejects, how many BOTH reject, the Jaccard " +
        "overlap of their kill sets, and P(b kills | a kills). q166 " +
        "answers 'what is this stage's marginal bite'; this answers " +
        "'WHICH stages are eating the same documents' — a pair with " +
        "high Jaccard is a redundancy candidate (drop the expensive " +
        "one), a pair near zero partitions the corpus into distinct " +
        "failure modes. Diagonal rows carry the per-stage kill totals " +
        "so the matrix reads standalone. Exactly 10 rows (4 stages " +
        "choose 2, plus the diagonal) from ONE bounded aggregate over " +
        "the landed funnel_stack_v1 — zero corpus work; the unpivot " +
        "is a 10-element literal array, never a shuffle. Ratios " +
        "NULL-degrade when a kill set is empty (a stage that rejects " +
        "nothing has no overlap to report), 6dp rounds from exact " +
        "BIGINT counts.",
      fsOracleCte +
        """,
        |a AS (SELECT
        |  CAST(count(*) FILTER (WHERE NOT pass_len) AS BIGINT) AS f1,
        |  CAST(count(*) FILTER (WHERE NOT pass_quality) AS BIGINT) AS f2,
        |  CAST(count(*) FILTER (WHERE NOT pass_lm) AS BIGINT) AS f3,
        |  CAST(count(*) FILTER (WHERE NOT pass_nb) AS BIGINT) AS f4,
        |  CAST(count(*) FILTER (WHERE NOT pass_len AND NOT pass_quality) AS BIGINT) AS b12,
        |  CAST(count(*) FILTER (WHERE NOT pass_len AND NOT pass_lm) AS BIGINT) AS b13,
        |  CAST(count(*) FILTER (WHERE NOT pass_len AND NOT pass_nb) AS BIGINT) AS b14,
        |  CAST(count(*) FILTER (WHERE NOT pass_quality AND NOT pass_lm) AS BIGINT) AS b23,
        |  CAST(count(*) FILTER (WHERE NOT pass_quality AND NOT pass_nb) AS BIGINT) AS b24,
        |  CAST(count(*) FILTER (WHERE NOT pass_lm AND NOT pass_nb) AS BIGINT) AS b34
        |  FROM g),
        |m AS (
        |  SELECT 'len' AS stage_a, 'len' AS stage_b, f1 AS n_a, f1 AS n_b, f1 AS n_both FROM a
        |  UNION ALL SELECT 'len', 'lm', f1, f3, b13 FROM a
        |  UNION ALL SELECT 'len', 'nb', f1, f4, b14 FROM a
        |  UNION ALL SELECT 'len', 'quality', f1, f2, b12 FROM a
        |  UNION ALL SELECT 'lm', 'lm', f3, f3, f3 FROM a
        |  UNION ALL SELECT 'lm', 'nb', f3, f4, b34 FROM a
        |  UNION ALL SELECT 'nb', 'nb', f4, f4, f4 FROM a
        |  UNION ALL SELECT 'quality', 'lm', f2, f3, b23 FROM a
        |  UNION ALL SELECT 'quality', 'nb', f2, f4, b24 FROM a
        |  UNION ALL SELECT 'quality', 'quality', f2, f2, f2 FROM a)
        |SELECT stage_a, stage_b, n_a, n_b, n_both,
        |  round(CAST(n_both AS DOUBLE) / NULLIF(n_a + n_b - n_both, 0), 6)
        |    AS jaccard,
        |  round(CAST(n_both AS DOUBLE) / NULLIF(n_a, 0), 6)
        |    AS p_b_given_a
        |FROM m ORDER BY stage_a, stage_b""".stripMargin) { (s, d) =>
      val f = Map(
        "len" -> !col("pass_len"), "quality" -> !col("pass_quality"),
        "lm" -> !col("pass_lm"), "nb" -> !col("pass_nb"))
      // stage order here fixes BOTH the pair enumeration and the
      // output sort key domain; the oracle enumerates the same pairs
      val stages = Seq("len", "quality", "lm", "nb")
      val pairs = for {
        (a, i) <- stages.zipWithIndex; (b, j) <- stages.zipWithIndex
        if i <= j
      } yield (a, b)
      val aggCols =
        stages.map(a => count(when(f(a), 1)).cast("long").as(s"n_$a")) ++
        pairs.filter(p => p._1 != p._2).map { case (a, b) =>
          count(when(f(a) && f(b), 1)).cast("long").as(s"b_${a}_$b")
        }
      val agg = funnelStack(s, d).agg(aggCols.head, aggCols.tail: _*)
      val rows = pairs.map { case (a, b) =>
        val both = if (a == b) col(s"n_$a") else col(s"b_${a}_$b")
        struct(lit(a).as("stage_a"), lit(b).as("stage_b"),
               col(s"n_$a").as("n_a"), col(s"n_$b").as("n_b"),
               both.as("n_both"))
      }
      agg.select(explode(array(rows: _*)).as("r"))
        .select(col("r.stage_a").as("stage_a"),
                col("r.stage_b").as("stage_b"),
                col("r.n_a").as("n_a"), col("r.n_b").as("n_b"),
                col("r.n_both").as("n_both"),
                when(col("r.n_a") + col("r.n_b") - col("r.n_both") > 0,
                  round(col("r.n_both").cast("double")
                        / (col("r.n_a") + col("r.n_b") - col("r.n_both")),
                        6)).as("jaccard"),
                when(col("r.n_a") > 0,
                  round(col("r.n_both").cast("double") / col("r.n_a"), 6))
                  .as("p_b_given_a"))
        .orderBy("stage_a", "stage_b")
    }
  )

  /** q167's membership frame — (doc_id, source, n_tokens, rate) of the
    * mixture-corrected resample — shared by the registry entry and the
    * terminal export ([[graft.operators.Curation.exportResampled]]),
    * so the report and the landed corpus can never disagree.
    */
  def resampledDocs(s: SparkSession, d: String): DataFrame = {
    val u = u01(col("doc_id").cast("string"))
    funnelStack(s, d).filter(col("keep"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .join(broadcast(resampleRates(s, d)), "source")
      .filter(u < col("rate"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
              round(col("rate"), 6).as("rate"))
  }

  /** The corrective per-source thinning rates of the q167 resample as
    * ONE bounded frame (rows = sources): rate = r_int / max(r_int),
    * the exact q165 integer weight spelling over the LANDED
    * funnel_stack_v1 rollup — corpus totals and the max normalizer are
    * unpartitioned window sums over the sources-bounded rollup (the
    * q165 convention), never separate aggregate branches. On a
    * zero-kept corpus every r_int is NULL, so rate is NULL and every
    * membership test `u < rate` is false — an empty sample, not a
    * throw. Shared by q167, [[graft.operators.Curation.exportResampled]],
    * and the at-ingest stream thinner ([[resampleThinner]]), so the
    * batch report, the export, and the stream can never disagree about
    * the target mixture.
    */
  def resampleRates(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy()
    funnelStack(s, d).groupBy("source")
      .agg(sum("n_tokens").cast("long").as("pre_tokens"),
           coalesce(sum(when(col("keep"), col("n_tokens"))), lit(0L))
             .cast("long").as("kept_tokens"))
      .withColumn("t_pre", sum("pre_tokens").over(wAll).cast("long"))
      .withColumn("t_kept", sum("kept_tokens").over(wAll).cast("long"))
      .withColumn("r_int",
        when(col("kept_tokens") > 0,
          floor(col("pre_tokens").cast("double") * col("t_kept")
                / (col("t_pre").cast("double") * col("kept_tokens"))
                * 100000000 + 0.5).cast("long")))
      .withColumn("max_r", max("r_int").over(wAll).cast("long"))
      .select(col("source"),
              (col("r_int").cast("double") / col("max_r")).as("rate"))
  }

  /** The resample's STREAMING form — BUILD-ONCE (the funnelScorer
    * convention): collect the bounded per-source rate table once at
    * stream start from the landed artifacts, and return a pure
    * per-row thinning projection — deterministic content-hash
    * Bernoulli, the exact q167 membership test — legal on any
    * streaming frame (no aggregate, no join: the rates inline as a
    * literal map, sources-bounded by construction — the corpus-
    * statistic sizing rule of the Bloom probes: a source DOMAIN is
    * thousands of feeds, never corpus-sized. Should a deployment's
    * source domain ever outgrow a literal — the ~10^4-entry mark
    * where codegen'd map literals stop being cheaper than a hash
    * probe — the swap is a broadcast stream-static join on the same
    * rate table, semantics unchanged). Docs from sources
    * the funnel never saw keep rate 1.0 (a brand-new source has no
    * enrichment evidence; thinning it to zero silently would drop a
    * feed — the quarantine-biased inverse of the gate's default).
    * Stream==batch membership is ResampleSpec's pin.
    */
  def resampleThinner(s: SparkSession, d: String)
      : DataFrame => DataFrame = {
    val rates = resampleRates(s, d)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // a KNOWN source with a NULL rate (the zero-kept corpus) must drop
    // — the exact q167 `u < NULL` = false semantics — while an UNKNOWN
    // source keeps; the two cases must not conflate through one map
    val nonNull = rates.collect { case (k, Some(v)) => (k, v) }.toSeq
    val knownCol =
      if (rates.isEmpty) lit(false)
      else col("source").isin(rates.keySet.toSeq: _*)
    val rateCol = when(!knownCol, lit(1.0)).otherwise(
      if (nonNull.isEmpty) lit(null).cast("double")
      else element_at(
        map(nonNull.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        col("source")))
    val u = u01(col("doc_id").cast("string"))
    docFrame => docFrame.filter(u < rateCol)
  }

  /** Shared oracle CTE chain of the q163 filter funnel (one tokenize
    * pass → combined unigram + NB term table → per-doc LM/NB scores →
    * tuned theta → stage verdicts); q163 reads the per-doc rows, q164
    * the per-source survival rollup. The NB fragments are the q161
    * spellings verbatim; the LM fragment is q82's mean-logp in the
    * 1e-8-scaled-integer convention (per-term lpi rounds once, the
    * per-doc sum is exact BIGINT arithmetic — summation order cannot
    * move lp4, in either engine).
    */
  private def fsOracleCte: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok
      |           FROM documents),
      |b AS (SELECT doc_id, source,
      |  CAST(round(least(1.0, len(tok) / 64.0) *
      |      (0.5 + CAST(len(list_filter(tok, x -> x IN
      |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
      |       / len(tok)) * 10000, 0) AS BIGINT) AS qi,
      |  CAST(len(tok) AS BIGINT) AS n_tokens, tok FROM t),
      |cd AS (SELECT doc_id, source, qi, n_tokens, unnest(tok) AS term FROM b),
      |cdc AS (SELECT doc_id, source, qi, n_tokens, term,
      |          CAST(count(*) AS BIGINT) AS c
      |        FROM cd GROUP BY 1, 2, 3, 4, 5),
      |tt AS (SELECT term, CAST(sum(c) AS BIGINT) AS uc,
      |         CAST(COALESCE(sum(c) FILTER (WHERE qi >= ${NbHiInt}), 0) AS BIGINT) AS n_pt,
      |         CAST(COALESCE(sum(c) FILTER (WHERE qi <= ${NbLoInt}), 0) AS BIGINT) AS n_nt
      |       FROM cdc GROUP BY 1),
      |tots AS (SELECT CAST(sum(n_pt) AS BIGINT) AS n_p,
      |                CAST(sum(n_nt) AS BIGINT) AS n_n,
      |                CAST(count(*) AS BIGINT) AS v,
      |                CAST(floor(ln(CAST(sum(n_pt) AS DOUBLE) / sum(n_nt))
      |                     * 100000000 + 0.5) AS BIGINT) AS p
      |         FROM tt WHERE n_pt + n_nt > 0),
      |ut AS (SELECT CAST(sum(uc) AS DOUBLE) AS total FROM tt),
      |st AS (SELECT term,
      |         CAST(floor(ln(CAST(uc AS DOUBLE) / total)
      |              * 100000000 + 0.5) AS BIGINT) AS lpi,
      |         CASE WHEN n_pt + n_nt > 0 THEN
      |           CAST(floor((ln((n_pt + 1.0) / (n_p + v))
      |                       - ln((n_nt + 1.0) / (n_n + v)))
      |                * 100000000 + 0.5) AS BIGINT)
      |         ELSE 0 END AS l
      |       FROM tt CROSS JOIN tots CROSS JOIN ut),
      |pd AS (SELECT cdc.doc_id, cdc.source, cdc.qi, cdc.n_tokens,
      |         CAST(sum(cdc.c * st.l) AS BIGINT) AS tsum,
      |         round(CAST(sum(cdc.c * st.lpi) AS DOUBLE) / 100000000.0
      |               / cdc.n_tokens, 4) AS lp4
      |       FROM cdc JOIN st USING (term) GROUP BY 1, 2, 3, 4),
      |sb AS (SELECT doc_id, source, qi, n_tokens, lp4, tsum + p AS s_int,
      |         CAST(least(greatest(
      |           floor(CAST(tsum + p AS DOUBLE) / 50000000.0), -10), 9)
      |           AS BIGINT) AS bin
      |       FROM pd CROSS JOIN tots),
      |bb AS (SELECT bin,
      |         CAST(count(*) FILTER (WHERE qi >= ${NbHiInt}) AS BIGINT) AS pb,
      |         CAST(count(*) FILTER (WHERE qi <= ${NbLoInt}) AS BIGINT) AS nb
      |       FROM sb GROUP BY 1),
      |th AS (SELECT CAST(u.t AS BIGINT) AS theta,
      |         CAST(sum(CASE WHEN bin < u.t THEN nb ELSE pb END)
      |              AS BIGINT) AS hits
      |       FROM (SELECT unnest(range(-10, 11)) AS t) u CROSS JOIN bb
      |       GROUP BY 1),
      |best AS (SELECT theta FROM th ORDER BY hits DESC, theta ASC LIMIT 1),
      |g AS (SELECT sb.*, theta,
      |        n_tokens >= ${FsMinTokens} AS pass_len,
      |        qi >= ${FsMinQualityInt} AS pass_quality,
      |        lp4 >= ${FsMinLp4} AS pass_lm,
      |        bin >= theta AS pass_nb
      |      FROM sb CROSS JOIN best)""".stripMargin

  /** The q117 bucket score table over ALL DsirB buckets — absent buckets
    * carry the smoothed prior score ln((0+1)/(Tt+B)) - ln((0+1)/(Tr+B)),
    * which q117 itself never probes (its events only hit observed
    * buckets) but an ingest stream MUST have (new documents contain
    * unseen grams). 1e-6-scaled integers, the q101 convention; exactly
    * B rows.
    */
  def dsirScores(s: SparkSession, d: String): DataFrame = {
    val t = spread(docs(s, d))
      .select((col("lang") === "en").as("tgt"), tokens(col("text")).as("tok"))
    val ev = t.select(col("tgt"), explode(gramArray(col("tok"))).as("g"))
      .select(col("tgt"), dsirBucket(col("g")).as("b"))
    val bk = ev.groupBy("b").agg(
      coalesce(sum(when(col("tgt"), 1L)), lit(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = bk.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    s.range(DsirB).select(col("id").as("b"))
      .join(bk, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        floor((log((coalesce(col("ct"), lit(0L)) + lit(1.0))
                   / (col("tt") + lit(DsirB)))
               - log((coalesce(col("cr"), lit(0L)) + lit(1.0))
                     / (col("tr") + lit(DsirB))))
          * 1000000 + 0.5).cast("long").as("sc"))
  }

  /** Persist the DSIR score table: B rows of (b, sc) as parquet with a
    * `_dsir_geometry` sidecar ([[graft.Landing.swap]]). The artifact a
    * scoring-at-ingest stream loads once per run.
    */
  def buildDsirIndex(s: SparkSession, d: String, indexDir: String): Unit =
    graft.Landing.swap(s, indexDir) { staging =>
      dsirScores(s, d).write.mode("overwrite").parquet(staging)
      Map("_dsir_geometry" -> s"$DsirB 1000000")
    }

  /** Load a persisted DSIR score table as a dense array indexed by
    * bucket (bounded: B longs on the driver — the POINT of hashed
    * features is that this artifact never grows with the corpus).
    */
  def loadDsirIndex(s: SparkSession, indexDir: String): Array[Long] = {
    val geo = graft.Landing.required(s, indexDir, "_dsir_geometry")
      .trim.split(" ").map(_.toLong)
    require(geo.sameElements(Array(DsirB.toLong, 1000000L)),
            s"persisted DSIR geometry ${geo.mkString("x")} != compiled ${DsirB}x1000000")
    val rows = s.read.parquet(indexDir).collect()
    require(rows.length == DsirB, s"DSIR index has ${rows.length} rows, want $DsirB")
    val arr = new Array[Long](DsirB)
    rows.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Scoring-at-ingest: DSIR log-likelihood-ratio per arriving document
    * as a PURE PROJECTION over a (doc_id, text) stream — featurize with
    * the exact batch gram/bucket spelling, look each gram's score up in
    * the B-long literal array, sum in exact integer space, one final 4dp
    * division. No shuffle, no watermark, no state store: the plan stays
    * append-mode-legal by construction, so ingest routing (keep / review
    * / drop by threshold) composes with any sink. At B = 2^20 the 8 MB
    * literal still ships once per executor; beyond that, swap the array
    * for a stream-static broadcast join on the persisted table — same
    * semantics, one extra plan node.
    */
  def dsirScoreStream(stream: DataFrame, scores: Array[Long]): DataFrame = {
    val arr = lit(scores)
    stream
      .withColumn("grams", gramArray(tokens(col("text"))))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        aggregate(
          transform(col("grams"),
            g => element_at(arr, (dsirBucket(g) + 1).cast("int"))),
          lit(0L), (acc, x) => acc + x).as("ssum"))
      .select(col("doc_id"), col("n_grams"),
        (floor(col("ssum") / lit(100.0) + 0.5) / lit(10000)).as("logratio"))
  }
}
