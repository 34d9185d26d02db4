package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators over `documents`: the selection /
  * splitting / cleaning steps a large-scale LLM data pipeline runs after
  * dedup and quality scoring (public recipes: C4, Gopher, RefinedWeb).
  * Every operator here is deterministic — content-hash driven, never RNG
  * — so each is DuckDB-oracled, and re-running a 100 TB pipeline
  * reproduces the same corpus bit-for-bit (the property that makes
  * training runs comparable). The batch surface (split / repetition /
  * scrub / sample / caps / normalization / clustering / verdict) pairs
  * with [[exportCurated]] as the corpus sink and [[ingestStream]] as the
  * continuous-crawl entry.
  */
object Curation {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Bidirectional near-dup edge list, persisted and memoized per
    * (session, corpus dir) (lifecycle: [[graft.Memo]]; see q64).
    */
  private val edgeCache =
    new Memo[Unit, org.apache.spark.sql.DataFrame](_.unpersist())

  /** Resolved cluster labels per (session, corpus dir) — like the edge
    * graph and the IVF index, cluster resolution is computed once per
    * corpus snapshot and every consumer (q64, q65, reporting) reuses it.
    */
  private val clusterCache = new Memo[Unit, org.apache.spark.sql.DataFrame](
    ckptRdd(_).foreach(_.unpersist(false)))

  /** The block-manager RDD behind a localCheckpoint'ed frame (the thing
    * `Dataset.unpersist` does NOT release — checkpoint storage is
    * RDD-level, invisible to the SQL cache manager). Shared with the
    * BPE learner's per-round checkpoints.
    */
  private[operators] def ckptRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Release everything this module holds for a corpus dir — the
    * compaction hook: after the corpus changes (docs merged, deletes
    * applied), cached edge graphs and cluster labels are stale AND pinned
    * in executor memory; without eviction a long session curating many
    * corpus snapshots grows block-manager state without bound. The next
    * [[dedupClusters]] call re-resolves from the new corpus.
    */
  def invalidate(d: String): Unit = {
    DerivedCache.invalidate(d) // persisted cluster labels / bigram NLL
    appendRefresh(d)           // every module's session memos
  }

  /** The APPEND hook — the nightly-crawl twin of [[invalidate]]: evict
    * every session memo for the corpus (cached row counts, vocab,
    * pair graphs, cluster frames are all stale once files land) but
    * KEEP the persisted DerivedCache artifacts — they self-refresh
    * incrementally from the appended slice on the next read, which is
    * the whole point. Compaction/regeneration must still call
    * [[invalidate]]: a rewrite breaks the append-manifest chain and
    * the artifacts would otherwise pay a full rebuild anyway.
    */
  def appendRefresh(d: String): Unit = {
    // across ALL sessions that touched the corpus
    edgeCache.invalidate(d)
    clusterCache.invalidate(d)
    bloomCache.invalidate(d)
    TrainingData.invalidate(d) // row-count stat + IVF/PQ indexes
    Prep.invalidate(d)         // BPE merges / token vocab / quality model
  }

  /** Connected components over the near-dup pair graph (q64 body,
    * reusable — q65 consumes the keep decision).
    *
    * Min-label propagation with POINTER JUMPING: each round every node
    * adopts the min of (own label, neighbors' labels, label-of-label), so
    * remaining path length halves per round and the loop converges in
    * ~log2(component diameter) rounds. Eager localCheckpoint each round
    * truncates the iterative lineage — without it the logical plan doubles
    * per iteration (labels appears in both the union and the convergence
    * join) and analysis alone OOMs the driver long before execution. On a
    * cluster, a reliable checkpoint dir gives the same truncation with
    * fault tolerance. Each round is one shuffle join + one min-aggregate —
    * the shape that runs on a 100 TB edge list.
    */
  def dedupClusters(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    // two-level serve: session memo -> persisted artifact -> resolve.
    // The resolved labels are a DerivedCache artifact because they are
    // the expensive head of the q64/q65/q93/q122 chain (LSH pair
    // generation + iterative min-label propagation): a fresh session —
    // a nightly pipeline run IS one — reads the (doc_id, cluster_id,
    // keep) parquet instead of re-resolving, the same way it reads the
    // band/IVF/PQ/LM indexes. Deterministic, so cached == rebuilt.
    clusterCache(s, d)(
      DerivedCache.orBuildIncremental(s, d, "cluster_labels_v1")({
        // the near-dup pair graph is a build-once artifact per corpus
        // snapshot (like the IVF index): generation runs once per session
        // and clustering/reporting reuse it — and the edge list is read
        // every propagation round, so it must be materialized regardless
        val edges = edgeCache(s, d) {
          val pairs = TrainingData.jaccardPairs(s, d).select("id_a", "id_b")
          pairs
            .unionByName(
              pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
            .persist()
        }
        val labels = connectedComponents(edges)
        labels.select(col("doc_id"), col("label").as("cluster_id"),
                      (col("doc_id") === col("label")).cast("long").as("keep"))
      })(
        files => TrainingData.jaccardPairsDelta(s, d, files))(
        (oldLab, deltaPairs) => mergeClusterLabels(oldLab, deltaPairs)))
  }

  /** Incremental connected-components merge: fold the appended slice's
    * edge delta into landed labels WITHOUT re-resolving the corpus.
    * Each delta edge endpoint contracts to its old component
    * REPRESENTATIVE (its min-id label; old docs without a label are
    * their own singleton rep), min-label CC runs over the contracted
    * graph — whose size is bounded by the slice's collisions, not the
    * corpus — and old members relabel through their representative.
    * Exactness: an old-old pair's Jaccard does not depend on the corpus,
    * so no old-old edge can appear or vanish on append; contraction
    * preserves components; and a representative is the min of its
    * members, so the contracted min IS the global min. Hence merged
    * labels == a from-scratch re-resolve, row for row (ClusterIncrSpec
    * pins it). Scale shape: the corpus-sized label table is touched by
    * one broadcast-semi prune and one broadcast left join keyed by the
    * slice-bounded rep map; the iterative CC sees only contracted edges.
    */
  private def mergeClusterLabels(oldLab: org.apache.spark.sql.DataFrame,
                                 deltaPairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pairs = deltaPairs.persist()
    val ids = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    val labTouched = oldLab
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("cluster_id"))
    val m = pairs
      .join(labTouched.select(col("doc_id").as("id_a"),
                              col("cluster_id").as("ca")), Seq("id_a"), "left")
      .join(labTouched.select(col("doc_id").as("id_b"),
                              col("cluster_id").as("cb")), Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
              coalesce(col("cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val und = m
      .unionByName(m.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist()
    val cc = connectedComponents(und) // eager: checkpointed per round
    und.unpersist(); pairs.unpersist()
    val updatedOld = oldLab
      .join(cc.select(col("doc_id").as("cluster_id"),
                      col("label").as("nl")), Seq("cluster_id"), "left")
      .select(col("doc_id"),
              coalesce(col("nl"), col("cluster_id")).as("cluster_id"))
    // contracted nodes that are not old members: new docs, plus old
    // singletons a new edge just reached
    val newRows = cc
      .join(oldLab.join(broadcast(cc.select("doc_id")),
                        Seq("doc_id"), "left_semi").select("doc_id"),
            Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("label").as("cluster_id"))
    updatedOld.unionByName(newRows)
      .select(col("doc_id"), col("cluster_id"),
              (col("doc_id") === col("cluster_id")).cast("long").as("keep"))
  }

  /** Min-label connected components over an UNDIRECTED edge list that
    * already contains both orientations of every pair (columns id_a,
    * id_b; the caller must have it persisted — every round re-reads it).
    * Returns (doc_id, label) for every node with at least one edge,
    * label = the component's min node id. The iterative engine behind
    * [[dedupClusters]] and the semantic-dedup operator.
    */
  def connectedComponents(edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    var labels = edges.select(col("id_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < 20) {
      val msgs = edges
        .join(labels, edges("id_a") === labels("doc_id"))
        .select(col("id_b").as("doc_id"), col("label"))
      val jump = labels.as("x")
        .join(labels.select(col("doc_id").as("label"),
                            col("label").as("label2")), Seq("label"))
        .select(col("doc_id"), col("label2").as("label"))
      val next = labels.unionByName(msgs).unionByName(jump)
        .groupBy("doc_id").agg(min("label").as("label"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("label", "prev"), "doc_id")
        .filter(col("label") < col("prev")).isEmpty
      // the convergence check was the last consumer of the previous round's
      // checkpoint — release its blocks now, or the loop pins O(rounds)
      // corpus-sized label tables in executor memory at once
      ckptRdd(labels).foreach(_.unpersist(false))
      labels = next
      iter += 1
    }
    labels
  }

  /** The q65 pipeline as a reusable function: per-doc curation verdict
    * (quality + repetition + dedup-cluster keep + deterministic split).
    * [[exportCurated]] is its terminal sink.
    */
  def curate(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    curate(s, d, withTokens = false)

  /** As [[curate]]; `withTokens = true` additionally emits `n_tok` from
    * the SAME tokenize pass the quality score runs (q122's composition
    * would otherwise re-tokenize the corpus just to count) — kept off
    * the default path so q65's oracled schema is unchanged.
    */
  private[operators] def curate(s: SparkSession, d: String,
                                withTokens: Boolean): org.apache.spark.sql.DataFrame = {
    val stopArr = array(TrainingData.enStop.map(lit): _*)
    val tok = split(col("text"), " ")
    val qualityCols = Seq(
      col("doc_id"),
      round(least(lit(1.0), size(tok) / lit(64.0)) *
            (lit(0.5) +
              size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
                size(tok)), 4).as("quality")) ++
      (if (withTokens) Seq(size(tok).cast("long").as("n_tok")) else Nil)
    val quality = TrainingData.spread(docs(s, d)).select(qualityCols: _*)
    val rep = docs(s, d)
      .select(col("doc_id"), explode(tok).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max("c").cast("double") / sum("c"), 4).as("top_share"))
    val clusters = dedupClusters(s, d)
      .select(col("doc_id"), col("keep").as("dk"))
    val h = substring(md5(col("text")), 1, 1)
    val outCols = Seq(col("doc_id"), col("lang"), col("split"),
              col("quality"), col("top_share"),
              coalesce(col("dk"), lit(1L)).as("dedup_keep"),
              (col("quality") >= 0.5 && col("top_share") <= 0.2 &&
                coalesce(col("dk"), lit(1L)) === 1L).cast("long").as("keep")) ++
      (if (withTokens) Seq(col("n_tok")) else Nil)
    docs(s, d)
      .select(col("doc_id"), col("lang"),
              when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
                .as("split"))
      .join(quality, "doc_id")
      .join(rep, "doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select(outCols: _*)
  }

  /** Terminal sink of the curation pipeline: write the KEPT corpus (text
    * joined back on) partitioned by split — `outDir/split=train|val|test`
    * parquet a training job consumes directly. Partition-parallel write;
    * the split column prunes at read time.
    */
  def exportCurated(s: SparkSession, d: String, outDir: String): Unit =
    curate(s, d)
      .filter(col("keep") === 1L)
      .join(docs(s, d).select("doc_id", "text", "source", "n_chars"), "doc_id")
      .write.mode("overwrite").partitionBy("split").parquet(outDir)

  /** Terminal sink of the q167 funnel-resample loop — the
    * report-to-action close (the q139/q153 precedent): land the
    * mixture-corrected corpus itself, not just its membership table.
    * The doc set is EXACTLY q167's (funnel survivors thinned by the
    * deterministic per-source rates — ResampleSpec pins row-for-row
    * equality), joined back to its text and written as crawl-native
    * JSONL via [[graft.sources.Crawl.writeCrawl]], so the export feeds
    * straight into another deployment's `readCrawl` (the round-trip
    * ResampleSpec also pins) — or any external consumer of the
    * interchange format. The thinning rate rides along as provenance.
    * Scale shape: the q167 membership probe (two pruned scans of the
    * landed funnel_stack_v1, zero corpus tokenize work) plus one join
    * back to the docs table for text; file count = upstream task
    * count, the writeCrawl contract.
    */
  def exportResampled(s: SparkSession, d: String, outDir: String,
                      gzip: Boolean = true): Unit =
    graft.sources.Crawl.writeCrawl(
      Prep.resampledDocs(s, d)
        .select("doc_id", "source", "rate")
        .join(docs(s, d).select("doc_id", "text", "lang"), "doc_id"),
      outDir, gzip)

  /** Per-split token budget for [[trainingSetVerdict]]: the best-quality
    * prefix of each split's kept docs that fits this many tokens.
    */
  val SplitBudget = 4000L

  /** The full "materialize a training-ready dataset" verdict — curate
    * (q65) -> per-split token budget (the q79 two-phase shape) -> packing
    * layout (the q108 two-phase shape, partitioned by split) — as ONE
    * per-document frame: (doc_id, lang, split, quality, n_tok, keep,
    * first_bin/last_bin/n_bins). `keep` = passed curation AND selected
    * by the split's quality-ranked token budget; bin columns are the
    * packing span of kept docs (null otherwise). Every window follows
    * the repo's bounded-domain patterns: budget windows run over
    * (split, 4dp-quality) buckets and budget-bounded candidates; packing
    * windows over (split, doc_id-bucket) with per-task rows bounded by
    * [[Prep.PackBucketWidth]] — no corpus-sized single partition
    * anywhere, at any scale.
    */
  /** Budget-selected docs with their EXACT pack offsets: (doc_id, split,
    * n_tok, end_off) — end_off is the exclusive token offset of the doc
    * in its split's concatenated stream. The shared core of the q122
    * verdict (bins derive from offsets) and q129's sequence
    * materialization (slices derive from offsets). Both phases follow
    * the bounded-window patterns documented on [[trainingSetVerdict]].
    */
  private def selectedOffsets(base: org.apache.spark.sql.DataFrame,
                              splitBudget: Long): org.apache.spark.sql.DataFrame = {
    val kept = base.filter(col("keep") === 1L)
    // budget phase 1: (split, quality) bucket table — domain-bounded at
    // <=15k rows per split — with an exclusive per-split prefix sum
    val wb = Window.partitionBy("split").orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val liveBuckets = kept.groupBy("split", "quality")
      .agg(sum("n_tok").as("bucket_tokens"))
      .withColumn("cum_before",
                  coalesce(sum("bucket_tokens").over(wb), lit(0L)))
      .filter(col("cum_before") < splitBudget)
      .select("split", "quality")
    // budget phase 2: exact running sum over budget-bounded candidates
    // (prefix-closed, so bit-identical to the naive global window)
    val wq = Window.partitionBy("split")
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the selection carries its own (split, n_tok) forward — re-joining
    // `base` just to refetch them would re-derive the curate subtree
    val sel = kept.join(broadcast(liveBuckets), Seq("split", "quality"))
      .withColumn("cum_tok", sum("n_tok").over(wq))
      .filter(col("cum_tok") <= splitBudget)
      .select("doc_id", "split", "n_tok")
    // packing: q108's two-phase running sum, sharded by split
    val selDocs = sel
      .withColumn("bkt", expr(s"doc_id DIV ${Prep.PackBucketWidth}"))
    val wbp = Window.partitionBy("split").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = selDocs.groupBy("split", "bkt")
      .agg(sum("n_tok").as("bucket_tokens"))
      .withColumn("bucket_off",
                  coalesce(sum("bucket_tokens").over(wbp), lit(0L)))
      .select("split", "bkt", "bucket_off")
    val wp = Window.partitionBy("split", "bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    selDocs.hint("shuffle_merge")
      .join(offsets.hint("shuffle_merge"), Seq("split", "bkt"))
      .withColumn("end_off", col("bucket_off") + sum("n_tok").over(wp))
      .select("doc_id", "split", "n_tok", "end_off")
  }

  /** The persisted PACK MANIFEST: [[selectedOffsets]] over the standard
    * budget — (doc_id, split, n_tok, end_off) for every budget-selected
    * doc — as a DerivedCache artifact. This is the one table the whole
    * packing family (q122 verdict, q129/q137/q145/q146 and the
    * streaming boundary emitter) derives bins and offsets from: a
    * fresh session reads it instead of re-running curate + budget, and
    * the at-ingest path stream-static-joins it the way the LM/band
    * probes join their indexes. Non-standard budgets (spec probes)
    * compute directly — the artifact name pins the standard one.
    */
  def packOffsets(s: SparkSession, d: String,
                  splitBudget: Long = SplitBudget): org.apache.spark.sql.DataFrame = {
    def build = selectedOffsets(
      curate(s, d, withTokens = true)
        .select("doc_id", "lang", "split", "quality", "n_tok", "keep"),
      splitBudget)
    if (splitBudget == SplitBudget)
      // NOT append-incremental by design: bin packing is a global
      // quality-ordered prefix under a budget — new docs displace old
      // selections, so offsets are a function of the whole snapshot
      DerivedCache.orBuild(s, d, "pack_offsets_v1")(build)
    else build
  }

  def trainingSetVerdict(s: SparkSession, d: String,
                         splitBudget: Long = SplitBudget): org.apache.spark.sql.DataFrame = {
    // n_tok rides out of curate's own tokenize pass (withTokens) — a
    // separate count-join would re-tokenize the corpus per consumer
    val base = curate(s, d, withTokens = true)
      .select("doc_id", "lang", "split", "quality", "n_tok", "keep")
    val b = Prep.PackBudget
    val packed = packOffsets(s, d, splitBudget)
      .select(col("doc_id"),
              expr(s"(end_off - n_tok) DIV $b").as("first_bin"),
              expr(s"(end_off - 1) DIV $b").as("last_bin"),
              expr(s"(end_off - 1) DIV $b - (end_off - n_tok) DIV $b + 1")
                .as("n_bins"))
    base.join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("split"), col("quality"),
              col("n_tok"),
              (col("keep") === 1L && col("first_bin").isNotNull)
                .cast("long").as("keep"),
              col("first_bin"), col("last_bin"), col("n_bins"))
  }

  /** The packing's LAST MILE: the actual fixed-length training sequences.
    * Every budget-selected doc is sliced along its bin boundaries
    * (arithmetic over [[selectedOffsets]] — a doc spanning bins emits one
    * piece per bin, never a cross product) and each (split, bin)
    * reassembles its pieces in stream order into ONE token array: every
    * bin except each split's last holds exactly [[Prep.PackBudget]]
    * tokens, zero padding waste. Reassembly is one (split, bin) shuffle
    * whose groups are bounded at PackBudget tokens; in-bin piece order
    * is restored by sort_array over the carried start offsets
    * (collect_list order is partition-dependent — never trust it). q129
    * oracles (split, bin, n_tokens, content_md5) against DuckDB's
    * independent spelling of the same assembly.
    */
  def packedSequences(s: SparkSession, d: String,
                      splitBudget: Long = SplitBudget): org.apache.spark.sql.DataFrame =
    packedPieces(s, d, splitBudget).groupBy("split", "bin")
      .agg(flatten(transform(
             sort_array(collect_list(struct(col("p_start"), col("piece")))),
             x => x.getField("piece"))).as("tokens"))
      .select(col("split"), col("bin").cast("long").as("bin"),
              size(col("tokens")).cast("long").as("n_tokens"),
              md5(array_join(col("tokens"), " ").cast("binary"))
                .as("content_md5"),
              col("tokens"))

  /** The bin-sliced piece stream the packing assemblies share:
    * (split, bin, p_start, piece) — every budget-selected doc sliced
    * along its bin boundaries. [[packedSequences]] reassembles TEXT bins
    * from it; [[packedTokenIds]] explodes it to words and reassembles ID
    * bins DIRECTLY (one (split, bin) aggregate, not a rebuild of the
    * text bins first).
    */
  private def packedPieces(s: SparkSession, d: String,
                           splitBudget: Long): org.apache.spark.sql.DataFrame = {
    val b = Prep.PackBudget
    val off = packOffsets(s, d, splitBudget)
      .withColumn("start_off", col("end_off") - col("n_tok"))
    off
      .join(docs(s, d).select("doc_id", "text"), "doc_id")
      .withColumn("tok", split(col("text"), " "))
      .withColumn("bin",
        explode(sequence(expr(s"start_off DIV $b"),
                         expr(s"(end_off - 1) DIV $b"))))
      .withColumn("p_start", greatest(col("start_off"), col("bin") * b))
      .withColumn("p_end", least(col("end_off"), (col("bin") + 1) * b))
      .select(col("split"), col("bin"), col("p_start"),
              // TRUE iff this piece is where its document begins in the
              // stream (not a bin-continuation slice) — the hook q146's
              // in-band separator and q145's boundary semantics share
              (col("p_start") === col("start_off")).as("doc_start"),
              slice(col("tok"),
                    (col("p_start") - col("start_off") + 1).cast("int"),
                    (col("p_end") - col("p_start")).cast("int")).as("piece"))
  }

  /** Write [[packedSequences]] split-partitioned — the shard directory a
    * trainer reads DIRECTLY (split=train/bin-ordered rows of exactly
    * PackBudget tokens each): the terminal artifact of the whole
    * curate → budget → pack pipeline, one parquet write past q129's
    * oracled digest.
    */
  def exportPackedSequences(s: SparkSession, d: String, outDir: String,
                            splitBudget: Long = SplitBudget): Unit =
    packedSequences(s, d, splitBudget)
      .write.mode("overwrite").partitionBy("split").parquet(outDir)

  /** q137: q129's packed bins as TOKEN-ID sequences under the q131-learned
    * BPE vocabulary — the model-input artifact (a trainer consumes ID
    * arrays, not text). Each bin's word stream maps word -> subword-ID
    * array ([[Prep.wordTokenIds]]) with the id-0 separator interleaved at
    * every word boundary, so the text stream is exactly recoverable:
    * PackedIdsSpec round-trips ids -> vocabulary reversed -> q129's
    * reassembled text, and the oracle re-derives the IDs from DuckDB's
    * own re-learned merges (BpeOracle) over the shared packing CTEs.
    * Scale shape: the word->ids table is vocabulary-sized and joins on
    * the shuffle path (shuffle_hash — an open-web vocabulary must never
    * plan broadcast); the ID bins assemble DIRECTLY from the
    * [[packedPieces]] stream (word order = (p_start, j), exactly the
    * oracle's ORDER BY), so the chain runs ONE (split, bin) aggregate —
    * not packedSequences' text assembly followed by a second rebuild;
    * groups stay bounded at PackBudget words; in-bin order restores by
    * sort_array over carried positions (never collect_list order).
    */
  def packedTokenIds(s: SparkSession, d: String,
                     splitBudget: Long = SplitBudget): org.apache.spark.sql.DataFrame =
    packedIdsCore(s, d, splitBudget, sepId = None).drop("n_docs")

  /** The loader-contract document separator for [[packedTokenIdsSep]]:
    * an id reserved ABOVE any the vocabulary can assign (base chars
    * take 1..C, merges C+1..C+K — hundreds; this is 2^20), the GPT-2
    * `<|endoftext|>`-style convention where the separator rides in-band
    * in the ID stream. Configurable per export via the `sepId` param.
    */
  val EosId = 1L << 20

  /** q146: q137's packed bins with an IN-BAND document separator — the
    * artifact shape most loader contracts actually consume (GPT-2
    * onward): the separator id precedes each document's first subword
    * within the bin, so a consumer can reset position ids / stop
    * attention at `sepId` occurrences without the q145 sidecar. The
    * PACKING IS UNCHANGED — bins, pieces, and q145's boundary offsets
    * are q137's exactly; each piece's offset in THIS stream is its
    * q137 offset shifted by the number of separators emitted before it,
    * and stripping every `sepId` restores q137's ids bit-for-bit
    * (PackEosSpec proves both, plus lossless per-document reassembly).
    */
  def packedTokenIdsSep(s: SparkSession, d: String,
                        splitBudget: Long = SplitBudget,
                        sepId: Long = EosId): org.apache.spark.sql.DataFrame =
    packedIdsCore(s, d, splitBudget, sepId = Some(sepId))

  /** Shared ID-bin assembly behind q137 ([[packedTokenIds]], no
    * separator) and q146 ([[packedTokenIdsSep]]): one (split, bin)
    * aggregate over the exploded [[packedPieces]] word stream, groups
    * bounded at PackBudget words, in-bin order restored by sort_array
    * over carried (p_start, j) positions. `n_docs` counts the documents
    * BEGINNING in the bin (= separators emitted when `sepId` is set).
    */
  private def packedIdsCore(s: SparkSession, d: String, splitBudget: Long,
                            sepId: Option[Long]): org.apache.spark.sql.DataFrame = {
    val wids = Prep.wordTokenIds(s, d).hint("shuffle_hash")
    val sep = (x: org.apache.spark.sql.Column) => sepId match {
      case Some(id) =>
        when(x.getField("doc_start") && x.getField("j") === 0,
             array(lit(id))).otherwise(array().cast("array<bigint>"))
      case None => array().cast("array<bigint>")
    }
    packedPieces(s, d, splitBudget)
      .select(col("split"), col("bin"), col("p_start"), col("doc_start"),
              posexplode(col("piece")).as(Seq("j", "w")))
      .join(wids, "w")
      // pinned-width regroup (the q51 device, as in tokenizedDocs): the
      // bin reassembly + md5-of-ids projection is CPU-heavy per bin while
      // its shuffle is small — keep it AQE-coalesce-proof and let the
      // groupBy reuse the partitioning
      .repartition(s.sparkContext.defaultParallelism,
                   col("split"), col("bin"))
      .groupBy("split", "bin")
      .agg(flatten(transform(
             sort_array(collect_list(
               struct(col("p_start"), col("j"), col("doc_start"), col("ids")))),
             x => concat(array(lit(0L)), sep(x), x.getField("ids"))))
             .as("ids0"),
           sum((col("doc_start") && col("j") === 0).cast("long"))
             .cast("long").as("n_docs"))
      .select(col("split"), col("bin"), col("n_docs"),
              expr("slice(ids0, 2, size(ids0) - 1)").as("ids"))
      .select(col("split"), col("bin"),
              size(col("ids")).cast("long").as("n_ids"),
              col("n_docs"),
              md5(array_join(transform(col("ids"), i => i.cast("string")), " ")
                .cast("binary")).as("ids_md5"),
              col("ids"))
  }

  /** Write [[packedTokenIds]] split-partitioned — the tokenized training
    * shard directory (bin-ordered ID arrays, id 0 = word boundary), one
    * parquet write past q137's oracled digest.
    */
  def exportPackedTokenIds(s: SparkSession, d: String, outDir: String,
                           splitBudget: Long = SplitBudget): Unit =
    packedTokenIds(s, d, splitBudget)
      .write.mode("overwrite").partitionBy("split").parquet(outDir)

  /** As [[exportPackedTokenIds]] with the q146 in-band document
    * separator — the shard layout for loader contracts that delimit
    * documents with an EOS id instead of reading the q145 sidecar.
    */
  def exportPackedTokenIdsSep(s: SparkSession, d: String, outDir: String,
                              splitBudget: Long = SplitBudget,
                              sepId: Long = EosId): Unit =
    packedTokenIdsSep(s, d, splitBudget, sepId)
      .write.mode("overwrite").partitionBy("split").parquet(outDir)

  /** Integrity audit over a LANDED packed-ID export ([[
    * exportPackedTokenIds]] / [[exportPackedTokenIdsSep]] output, plus
    * optionally its q145 boundary sidecar): the reconciliation a
    * training job runs before trusting shards that crossed a network
    * and a filesystem. Self-contained on the artifact bytes — no
    * corpus re-derivation — so it is cheap enough to run per delivery:
    *
    *  - `ids_md5`: the landed digest must match a recompute over the
    *    landed `ids` (partial writes, bit rot, a truncated column);
    *  - `n_ids`: the landed count must equal `size(ids)`;
    *  - `n_docs`: (separator exports) the landed doc count must equal
    *    the separator occurrences in `ids`;
    *  - `bin_density`: DISTINCT bins per split must be dense 0..max —
    *    a missing shard row is a silent hole in the training stream;
    *  - `bin_duplicate`: no (split, bin) may appear twice — a dup
    *    would double-feed a bin AND could exactly compensate a hole
    *    in a rows-only density count;
    *  - `boundary_universe` / `boundary_tokens`: the sidecar must
    *    cover exactly the shard's (split, bin) universe, and each
    *    bin's summed word-piece length can never exceed its id count
    *    (every word maps to ≥1 subword id).
    *
    * Returns violations as (split, bin, check, detail) — empty means
    * the export is internally consistent. Scale shape: per-(split,
    * bin) projections and one bounded aggregate per check; the only
    * joins are full-outer on (split, bin) — shard-count-sized keys.
    */
  def auditPackedIdsExport(s: SparkSession, idsDir: String,
                           boundaryDir: Option[String] = None,
                           sepId: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    val shards = s.read.parquet(idsDir)
    val viol = (name: String, detail: org.apache.spark.sql.Column) =>
      struct(lit(name).as("check"), detail.cast("string").as("detail"))
    val md5Of = md5(array_join(transform(col("ids"), i => i.cast("string")),
                               " ").cast("binary"))
    val sepCount = sepId.map(id =>
      size(filter(col("ids"), i => i === id)).cast("long"))
    val rowChecks = shards.select(
        col("split"), col("bin"),
        array_compact(array(Seq(
          when(md5Of =!= col("ids_md5"), viol("ids_md5", md5Of)),
          when(size(col("ids")).cast("long") =!= col("n_ids"),
               viol("n_ids", size(col("ids"))))) ++
          sepCount.map(c =>
            when(c =!= col("n_docs"), viol("n_docs", c))).toSeq: _*))
          .as("v"))
      .select(col("split"), col("bin"), explode(col("v")).as("v"))
    // density keys on countDistinct, not count: a duplicated (split,
    // bin) shard row would otherwise exactly compensate a missing bin
    // (e.g. bins {0,0,2} satisfy mn==0 && mx+1==n) and the hole plus
    // the dup would BOTH pass silently — so a dup is its own check and
    // the dense-0..max test runs over distinct bins only
    val densityAgg = shards.groupBy("split")
      .agg(max("bin").as("mx"), count(lit(1)).as("n"),
           countDistinct("bin").as("nd"), min("bin").as("mn"))
    val density = densityAgg
      .filter(col("mn") =!= 0L || col("mx") + 1 =!= col("nd"))
      .select(col("split"), lit(-1L).as("bin"),
              viol("bin_density",
                   concat_ws("/", col("mn"), col("mx"), col("nd"))).as("v"))
    val dupBins = densityAgg
      .filter(col("n") =!= col("nd"))
      .select(col("split"), lit(-1L).as("bin"),
              viol("bin_duplicate",
                   concat_ws("/", col("nd"), col("n"))).as("v"))
    val boundary = boundaryDir.map { bd =>
      val b = s.read.parquet(bd)
        .groupBy("split", "bin")
        .agg(sum("n_piece_tokens").as("b_tok"))
      val sh = shards.select(col("split"), col("bin"), col("n_ids"))
      sh.join(b, Seq("split", "bin"), "full_outer")
        .select(col("split"), col("bin"),
                when(col("n_ids").isNull || col("b_tok").isNull,
                     viol("boundary_universe",
                          coalesce(col("n_ids"), col("b_tok"))))
                  .when(col("b_tok") > col("n_ids"),
                        viol("boundary_tokens",
                             concat_ws(">", col("b_tok"), col("n_ids"))))
                  .as("v"))
        .filter(col("v").isNotNull)
    }
    (Seq(rowChecks, density, dupBins) ++ boundary.toSeq)
      .reduce(_ unionByName _)
      .select(col("split"), col("bin"),
              col("v.check").as("check"), col("v.detail").as("detail"))
  }

  /** q152's packing-efficiency report re-derived from a LANDED q145
    * boundary sidecar — the ops twin of [[auditPackedIdsExport]]: the
    * report on what actually shipped (bins, word tokens, documents,
    * bin crossings, fill share), computed from the artifact bytes with
    * no corpus access. PackReportSpec pins it equal to the batch q152
    * derivation, closing the loop: the number QA reads off the shipped
    * sidecar IS the number the packer predicted.
    */
  def packReportFromExport(s: SparkSession, boundaryDir: String)
      : org.apache.spark.sql.DataFrame =
    s.read.parquet(boundaryDir)
      .groupBy("split")
      .agg(countDistinct("bin").cast("long").as("n_bins"),
           sum("n_piece_tokens").cast("long").as("n_tokens"),
           countDistinct("doc_id").cast("long").as("n_docs"),
           (count(lit(1)) - countDistinct("doc_id")).cast("long")
             .as("n_bin_crossings"))
      .select(col("split"), col("n_bins"), col("n_tokens"), col("n_docs"),
              col("n_bin_crossings"),
              (expr(s"n_tokens * 10000 DIV (n_bins * ${Prep.PackBudget})")
                 / lit(10000.0)).as("fill_share"))

  /** Per-document token-ID sequences under the corpus-learned BPE
    * vocabulary — q137's ID assembly at DOC granularity, BATCH OR STREAM
    * micro-batch: each doc's words map to subword-ID arrays
    * ([[Prep.wordIdsFor]] over THIS frame's distinct words, so a crawl
    * batch's novel words tokenize under the same persisted merges) and
    * concatenate in word order with the id-0 separator. This is exactly
    * the per-doc piece [[packedTokenIds]]'s bins concatenate — the
    * at-ingest artifact that lets the crawl path land tokenized shards
    * without a batch re-pass. Scale shape: the word->ids table is
    * batch-vocabulary-sized and joins on the shuffle path (shuffle_hash);
    * the regroup is per-doc (bounded by doc length); order restores via
    * sort_array over carried positions, never collect_list arrival order.
    */
  def tokenizedDocs(docFrame: org.apache.spark.sql.DataFrame,
                    s: SparkSession, d: String,
                    byteLevel: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val words = docFrame
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val wids = Prep.wordIdsFor(words, s, d, byteLevel).hint("shuffle_hash")
    docFrame
      .select(col("split"), col("doc_id"),
              posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .join(wids, "w")
      // pinned-width regroup (the q51 device): the per-doc reassembly +
      // md5-of-ids projection is CPU-heavy while its shuffle is a few MB,
      // so byte-based AQE coalescing would serialize it onto 2-3 tasks;
      // REPARTITION_BY_NUM is coalesce-proof and scale-adaptive, and the
      // groupBy reuses its partitioning (no extra exchange)
      .repartition(docFrame.sparkSession.sparkContext.defaultParallelism,
                   col("split"), col("doc_id"))
      .groupBy("split", "doc_id")
      .agg(flatten(transform(
             sort_array(collect_list(struct(col("pos"), col("ids")))),
             x => concat(array(lit(0L)), x.getField("ids")))).as("ids0"))
      .select(col("split"), col("doc_id"),
              expr("slice(ids0, 2, size(ids0) - 1)").as("ids"))
      // A symbol outside the corpus alphabet surfaces as a null id
      // (wordIdsFor's closed-alphabet contract). Flag such docs
      // explicitly — a crawl batch WILL contain novel scripts — and
      // hash with a null sentinel: array_join's 2-arg form silently
      // DROPS nulls, which would give a doc with out-of-alphabet holes
      // the same digest as one genuinely lacking those subwords.
      .select(col("split"), col("doc_id"),
              size(col("ids")).cast("long").as("n_ids"),
              exists(col("ids"), _.isNull).as("has_oov"),
              md5(array_join(transform(col("ids"), i => i.cast("string")),
                    " ", OovSentinel).cast("binary")).as("ids_md5"),
              col("ids"))
  }

  /** Null-id stand-in inside [[tokenizedDocs]] digests: distinguishes an
    * out-of-alphabet hole from a genuinely absent subword. Not a valid
    * token-id string, so it cannot collide with a real id sequence.
    */
  val OovSentinel = "?"

  /** Streaming token-ID export — [[ingestStream]]'s keepers landing as
    * TOKENIZED shards directly (the at-ingest analogue of
    * [[exportPackedTokenIds]]): each micro-batch runs [[tokenizedDocs]]
    * against the PERSISTED corpus merges (no refit — the BPE cache is the
    * stream-static artifact, like the Bloom/band indexes) and lands
    * epoch/split-partitioned parquet ([[graft.Door.land]]).
    * TokenIdStreamSpec pins streamed shards == the batch spelling on the
    * same corpus.
    */
  def startTokenIdIngest(docsStream: org.apache.spark.sql.DataFrame,
                         s: SparkSession, d: String,
                         outDir: String, checkpointDir: String,
                         horizon: String = "1 hour",
                         quarantineDir: String = null)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.Door.start(ingestStream(docsStream, horizon), checkpointDir) {
      (batch, id) =>
        val toks = tokenizedDocs(batch, s, d).persist()
        // Closed-alphabet policy ENFORCED at the sink: a doc whose ids
        // carry out-of-alphabet holes must not land in the training
        // shards (a null id would poison the packed artifact). Route it
        // to the quarantine dir (default: sibling of outDir) for the
        // byte-fallback/repair pass; same layout, idempotent replay.
        val qDir =
          if (quarantineDir != null) quarantineDir else outDir + "_quarantine"
        val layout = Seq("epoch", "split")
        try {
          graft.Door.land(toks.filter(!col("has_oov")), id, outDir, layout)
          val oov = toks.filter(col("has_oov"))
          if (!oov.isEmpty) graft.Door.land(oov, id, qDir, layout)
        } finally toks.unpersist()
    }

  /** Per-piece attention-boundary rows for any (doc_id, ...) frame —
    * q145's table in NORMALIZED form, derivable at ingest: each doc the
    * persisted pack manifest ([[packOffsets]]) selected contributes one
    * row per bin it spans, (split, bin, off, doc_id, n_piece_tokens),
    * where `off` is the piece's token offset inside the bin (exactly
    * the entries q145's per-bin `boundaries` string aggregates). Pure
    * arithmetic over the manifest join — the stream side needs only
    * doc_id, no text; docs outside the manifest drop via the inner
    * join. Grouping the union of all rows by (split, bin) reproduces
    * batch q145 bit-for-bit (PackBoundaryStreamSpec).
    */
  def packBoundaryRows(docFrame: org.apache.spark.sql.DataFrame,
                       s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val b = Prep.PackBudget
    docFrame.select("doc_id")
      .join(packOffsets(s, d), "doc_id")
      .withColumn("start_off", col("end_off") - col("n_tok"))
      .withColumn("bin",
        explode(sequence(expr(s"start_off DIV $b"),
                         expr(s"(end_off - 1) DIV $b"))))
      .withColumn("p_start", greatest(col("start_off"), col("bin") * b))
      .withColumn("p_end", least(col("end_off"), (col("bin") + 1) * b))
      .select(col("split"), col("bin").cast("long").as("bin"),
              (col("p_start") - col("bin") * b).cast("long").as("off"),
              col("doc_id"),
              (col("p_end") - col("p_start")).cast("long")
                .as("n_piece_tokens"))
  }

  /** Streaming boundary-table emitter — closes the "maskless shards"
    * gap of the at-ingest path: while [[startTokenIdIngest]] lands the
    * token-ID shards, this lands the q145 attention-boundary rows for
    * the same arrivals per micro-batch (epoch/split-partitioned,
    * [[graft.Door.land]]). The pack manifest is the stream-static
    * artifact (persisted via [[packOffsets]], like the LM/band/Bloom
    * indexes the other probes join); the stream side is one equi-join +
    * per-row arithmetic, so the emitter is watermark-free and
    * scan-parallel at any rate.
    */
  def startPackBoundaryIngest(docsStream: org.apache.spark.sql.DataFrame,
                              s: SparkSession, d: String,
                              outDir: String, checkpointDir: String,
                              horizon: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.Door.start(ingestStream(docsStream, horizon), checkpointDir) {
      (batch, id) =>
        graft.Door.land(packBoundaryRows(batch, s, d), id, outDir,
                        Seq("epoch", "split"))
    }

  /** Terminal sink of the training-set path: materialize the
    * [[trainingSetVerdict]] keepers with text joined back, parquet
    * partitioned by split and carrying the packing span — the directory
    * a trainer consumes (read split=train, order by first_bin, fill
    * 512-token sequences with zero padding waste). Partition-parallel
    * write; CurationSpec proves layout and bin consistency with q122.
    */
  def exportTrainingSet(s: SparkSession, d: String, outDir: String,
                        splitBudget: Long = SplitBudget): Unit =
    trainingSetVerdict(s, d, splitBudget)
      .filter(col("keep") === 1L)
      .join(docs(s, d).select("doc_id", "text", "source"), "doc_id")
      .write.mode("overwrite").partitionBy("split").parquet(outDir)

  /** Read-optimize a corpus snapshot: rewrite `documents` hive-partitioned
    * by lang (partition pruning at read time for the per-language scans
    * most curation ops start with) with rows quality-sorted within each
    * file, so parquet row-group min/max stats on `quality` skip whole row
    * groups under a quality-floor predicate — the dominant curation
    * filter shape. This is the compaction that follows streaming ingest:
    * many small epoch files become at most `filesPerLang` read-optimal
    * files per partition (each (lang, salt) cell lands in exactly one
    * shuffle task, so the bound is structural, not AQE-dependent).
    * Callers refresh the
    * persisted indexes and per-corpus caches against the new snapshot
    * afterwards ([[invalidate]], TrainingData.refreshBandIndex, ...).
    */
  def compactCorpus(s: SparkSession, d: String, outDir: String,
                    filesPerLang: Int = 1): Unit = {
    val stopArr = array(TrainingData.enStop.map(lit): _*)
    val tok = split(col("text"), " ")
    val quality = round(least(lit(1.0), size(tok) / lit(64.0)) *
      (lit(0.5) +
        size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
          size(tok)), 4)
    docs(s, d)
      .withColumn("quality", quality)
      .repartition(col("lang"), pmod(xxhash64(col("doc_id")), lit(filesPerLang)))
      .sortWithinPartitions(col("lang"), col("quality").desc)
      .write.mode("overwrite").partitionBy("lang").parquet(outDir)
  }

  /** Compact into a corpus DIRECTORY layout: the rewritten snapshot lands
    * at `<newDir>/documents.parquet` — a partitioned directory the
    * standard loaders read transparently (parquet partition discovery) —
    * and every OTHER table of the source dir (embeddings, events, the
    * relational tables) is copied alongside, so the compacted output is
    * a DROP-IN corpus dir for every operator and index builder in the
    * engine — including the embeddings-backed (q39-q41, q54, q94) and
    * events-backed queries — not just the documents-backed ones:
    * ingest -> compact -> re-point consumers and rebuild indexes, zero
    * reader changes. The copies are byte-level file copies through the
    * Hadoop FileSystem API (no decode/re-encode pass; on an object
    * store this is a server-side copy); only `documents` is rewritten
    * because compaction's sort/partition guarantees are about the
    * curation scan path. CompactionSpec proves registry queries —
    * documents- and embeddings-backed — return identical results on
    * the compacted snapshot.
    */
  def compactInto(s: SparkSession, d: String, newDir: String,
                  filesPerLang: Int = 1): Unit = {
    compactCorpus(s, d, s"$newDir/documents.parquet", filesPerLang)
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = s.sparkContext.hadoopConfiguration
    val src = new Path(d)
    val fs = src.getFileSystem(conf)
    val dst = new Path(newDir)
    val dstFs = dst.getFileSystem(conf)
    fs.listStatus(src)
      .filter(st => st.getPath.getName != "documents.parquet")
      .foreach { st =>
        FileUtil.copy(fs, st.getPath, dstFs, new Path(dst, st.getPath.getName),
                      false /* keep source */, true /* overwrite */, conf)
      }
  }

  /** Streaming corpus ingestion: the continuous-crawl path. Incoming docs
    * (doc_id, text, lang, source, ts) are content-hash deduped within the
    * watermark horizon (exact dedup of at-least-once delivery + re-crawled
    * unchanged pages), scored in-stream with the same quality/split
    * column math the batch verdict uses (pure projections — no state),
    * and filtered to keepers. Near-dup clustering stays a batch compaction
    * job over the accumulated corpus (q64): pair graphs need the whole
    * corpus, not a stream window.
    *
    * `redactPii = true` runs [[Prep.redactPii]] BEFORE the content hash,
    * so two crawls of the same page differing only in injected PII
    * (rotating session emails, per-visitor IPs in footers) dedup together
    * — redact-then-hash is the order a compliance pipeline wants, and the
    * same codegen'd expression serves the batch q113 path bit-identically.
    */
  def ingestStream(docs: org.apache.spark.sql.DataFrame,
                   horizon: String = "1 hour",
                   redactPii: Boolean = false): org.apache.spark.sql.DataFrame = {
    val base =
      if (redactPii) docs.withColumn("text", Prep.redactPii(col("text")))
      else docs
    ingestVerdict(
      base
        .withColumn("content_hash", md5(col("text")))
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark("content_hash"))
  }

  /** The STATELESS part of [[ingestStream]]'s verdict (quality score,
    * deterministic split, keep filter) — pure per-row projections shared
    * verbatim between the stream and any batch replay of it, so
    * stream==batch specs compare against THIS, not a re-spelling.
    */
  private[operators] def ingestVerdict(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stopArr = array(TrainingData.enStop.map(lit): _*)
    val tok = split(col("text"), " ")
    val h = substring(md5(col("text")), 1, 1)
    df
      .withColumn("quality",
        round(least(lit(1.0), size(tok) / lit(64.0)) *
              (lit(0.5) +
                size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
                  size(tok)), 4))
      .withColumn("split",
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test"))
      .filter(col("quality") >= 0.5)
  }

  /** Corpus content-membership sketch: a Bloom filter over
    * `xxhash64(text)` of every corpus doc, built in ONE distributed
    * aggregate pass (native `BloomFilterAggregate`, per-partition
    * sketches merging map-side) and collected once — a ~1 MB broadcast
    * artifact like the IVF centroids, memoized per (session, corpus
    * snapshot) and refreshed by compaction via [[invalidate]]. Never
    * rebuilt per micro-batch.
    *
    * SIZED FROM THE CORPUS, not a fixed default: `expectedItems` <= 0
    * (the default) derives capacity from the cached corpus row-count
    * stat with 2x headroom for post-build ingest, and bits follow at 8
    * bits/item (~2% fpp at capacity) — a fixed 2^20 default would let
    * the false-positive rate (which DROPS genuinely-new docs in
    * [[bloomFrontierFilter]]) climb silently past the documented ~2%
    * bound on corpora beyond ~1M docs. Explicit sizes still win when
    * passed.
    */
  private val bloomCache = new Memo[Unit, Array[Byte]]()
  def corpusBloom(s: SparkSession, d: String,
                  expectedItems: Long = 0L,
                  numBits: Long = 0L): Array[Byte] =
    bloomCache(s, d) {
      val items =
        if (expectedItems > 0L) expectedItems
        else math.max(TrainingData.corpusCount(s, d) * 2, 1L << 16)
      val bits = if (numBits > 0L) numBits else items * 8L
      docs(s, d)
        .agg(graft.functions.Bloom
          .bloomAgg(xxhash64(col("text")), items, bits).as("bf"))
        .head().getAs[Array[Byte]](0)
    }

  /** Crawl-frontier prune against the ACCUMULATED corpus (the band index
    * catches near-dups; this catches exact re-crawls): incoming docs
    * whose content hash might already be in the corpus are dropped by a
    * literal sketch probe — no join, no per-key streaming state, O(1 MB)
    * per executor regardless of corpus size. False positives cost ~2% of
    * genuinely-new docs (frontier semantics: the cheap prune wins, a
    * later re-crawl catches up); when that loss is unacceptable, route
    * the flagged docs through an exact stream-static anti-join on the
    * content hash instead and keep this filter as its pre-prune.
    */
  def bloomFrontierFilter(stream: org.apache.spark.sql.DataFrame,
                          bloomBytes: Array[Byte]): org.apache.spark.sql.DataFrame =
    stream.filter(
      !graft.functions.Bloom.mightContainLit(bloomBytes, xxhash64(col("text"))))

  /** Terminal sink of the STREAMING curation path — [[ingestStream]]'s
    * keepers landing in the same split-partitioned corpus layout
    * [[exportCurated]] writes, closing the crawl -> corpus loop end to
    * end, in the epoch/split layout of [[graft.Door.land]] (a replayed
    * epoch overwrites exactly its own output). Training jobs read the
    * whole dir; `split=...` still prunes.
    */
  def startCurationIngest(docsStream: org.apache.spark.sql.DataFrame,
                          corpusDir: String,
                          checkpointDir: String,
                          horizon: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.Door.start(ingestStream(docsStream, horizon), checkpointDir) {
      (batch, id) =>
        graft.Door.land(batch, id, corpusDir, Seq("epoch", "split"))
    }

  /** The CONTINUOUS-CRAWL corpus loop, end to end: each micro-batch of
    * curated keepers ([[ingestStream]]'s verdict) lands as a pure file
    * APPEND to the corpus `documents` table, and every expensive derived
    * artifact then self-refreshes over exactly the appended slice — the
    * streaming twin of the nightly [[appendRefresh]] hook, at micro-batch
    * granularity. After each batch the persisted near-dup cluster labels
    * (and, transitively, the token/prefix index artifacts the delta pair
    * generation probes) are CURRENT for the grown corpus: a dedup-yield
    * report (q156), an overlap matrix (q160), or a keep-filter (q65) read
    * at any point between batches sees the crawl's latest state without
    * ever paying a corpus-sized re-resolve. Reference analogue: the
    * upsert-per-batch serving table (stream_processor.py:45-51), here
    * generalized from one KV table to the whole artifact family.
    *
    * Layout/exactly-once: batches land under
    * `<corpusDir>/documents.parquet/epoch=<batchId>/` with dynamic
    * partition overwrite, so a replayed batch (foreachBatch is
    * at-least-once on retry) overwrites exactly its own files. A replay
    * REPLACES files, which breaks the append-manifest chain — the next
    * artifact read falls back to a full rebuild, trading one re-derive
    * for correctness, exactly the [[DerivedCache.orBuildIncremental]]
    * contract. The `epoch` partition column doubles as crawl-batch
    * provenance on every doc.
    *
    * `refreshEvery` tunes the artifact-refresh cadence: labels refresh on
    * batches where `batchId % refreshEvery == 0` (and always re-derive
    * lazily on next read otherwise — skipping a refresh never serves
    * stale data, it only defers the delta bill). The crawl-frontier Bloom
    * sketch is deliberately NOT rebuilt here: it is a full-corpus
    * aggregate, so its cadence (and the exact anti-join fallback) stays a
    * caller decision — see [[corpusBloom]].
    *
    * `nbGate` adds the distilled NB quality gate beside the stateless
    * verdict: arrivals that pass [[ingestStream]]'s quality floor are
    * ALSO scored against the persisted q161 model ([[Prep.nbScorer]],
    * resolved once at stream start) and only `bin >= theta` docs join
    * the corpus; the rest land in the quarantine dir with their scores.
    * NbGateSpec pins stream verdicts == batch q161 bins doc-for-doc and
    * zero model derives in-stream ([[Prep.nbDerives]]).
    *
    * `funnelGate` upgrades the single-model gate to the FULL q163
    * staged funnel ([[Prep.funnelScorer]]): length floor → q32 quality
    * → unigram-LM mean log-probability → tuned NB bin, each rejected
    * doc quarantined with every stage score and its first-rejecting
    * stage — so the quarantine IS the q164 funnel-attribution table for
    * the rejected slice. At most one of `nbGate`/`funnelGate` may be
    * set; FunnelGateSpec pins stream verdicts == batch q163
    * doc-for-doc with zero model derives in-stream.
    */
  /** The at-ingest NB quality gate's wiring config: score arrivals
    * against the persisted `nb_class_counts_v1` of `modelDir` (trained
    * offline, refreshed by the nightly — NEVER refit in-stream) and
    * route docs whose q161 bin falls below the offline-tuned `theta`
    * to `quarantineDir` (default: `<corpusDir>_nb_quarantine`) instead
    * of the corpus — the `has_oov` routing pattern: nothing is dropped,
    * the repair/review pass reads the quarantine with full NB
    * provenance (`nb_llr`, `nb_bin`) attached.
    */
  final case class NbGate(modelDir: String, theta: Long,
                          quarantineDir: String = null)

  /** The FULL staged-funnel gate's wiring config (the q163 funnel at
    * ingest, [[Prep.funnelScorer]]): score arrivals against BOTH
    * persisted model layers of `modelDir` (the NB class counts and the
    * unigram marginal finalized from `source_term_counts_v1` — trained
    * offline, refreshed by the nightly, NEVER refit in-stream) plus the
    * two stateless stages (length floor, q32 closed-form quality), and
    * route docs rejected by ANY stage to `quarantineDir` (default:
    * `<corpusDir>_funnel_quarantine`) with their full funnel provenance
    * attached — every stage score plus the FIRST rejecting stage, the
    * attribution column the q164 survival report reads straight off the
    * quarantine.
    */
  final case class FunnelGate(modelDir: String, theta: Long,
                              quarantineDir: String = null)

  /** Batch-context NB gating of one micro-batch: per-doc model scores
    * are an aggregate (explode -> LLR probe -> per-doc sum), so the
    * score/row reassembly join is legal HERE — inside foreachBatch —
    * and stays a plain batch shuffle join on doc_id, with none of the
    * n_tokens-fold payload amplification that carrying text through
    * the streaming aggregate's grouping keys would cost. Left join +
    * quarantine-biased coalesce: a doc the scorer somehow drops is
    * quarantined, never silently kept.
    */
  private def nbGateBatch(batch: org.apache.spark.sql.DataFrame,
                          score: org.apache.spark.sql.DataFrame =>
                                 org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    batch.join(
      score(batch.select("doc_id", "text"))
        .select(col("doc_id"), col("llr").as("nb_llr"),
                col("bin").as("nb_bin"),
                col("keep").as("nb_keep")),
      Seq("doc_id"), "left")
      .withColumn("nb_keep", coalesce(col("nb_keep"), lit(false)))

  /** Batch-context funnel gating of one micro-batch — the
    * [[nbGateBatch]] shape with the full q163 stage provenance: left
    * join + quarantine-biased coalesce (a doc the scorer somehow drops
    * is quarantined as stage `dropped`, never silently kept).
    */
  private def funnelGateBatch(batch: org.apache.spark.sql.DataFrame,
                              score: org.apache.spark.sql.DataFrame =>
                                     org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    batch.join(
      score(batch.select("doc_id", "source", "text"))
        .select(col("doc_id"), col("qi").as("fs_qi"),
                col("lp4").as("fs_lp4"), col("bin").as("fs_bin"),
                col("reject_stage").as("fs_reject_stage"),
                col("keep").as("fs_keep")),
      Seq("doc_id"), "left")
      .withColumn("fs_keep", coalesce(col("fs_keep"), lit(false)))
      .withColumn("fs_reject_stage",
                  coalesce(col("fs_reject_stage"), lit("dropped")))

  def startCorpusMaintenance(docsStream: org.apache.spark.sql.DataFrame,
                             corpusDir: String,
                             checkpointDir: String,
                             horizon: String = "1 hour",
                             refreshEvery: Int = 1,
                             nbGate: Option[NbGate] = None,
                             funnelGate: Option[FunnelGate] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(nbGate.isEmpty || funnelGate.isEmpty,
            "at most one ingest gate: nbGate OR funnelGate")
    // resolve the gate model ONCE, at stream start: the returned closure
    // carries the collected smoothing totals and the fixed LLR artifact
    // read, so per-batch scoring never re-derives the model — even while
    // this very stream grows the corpus the model was trained on
    val scorer = nbGate.map(g =>
      Prep.nbScorer(docsStream.sparkSession, g.modelDir, g.theta))
    val fScorer = funnelGate.map(g =>
      Prep.funnelScorer(docsStream.sparkSession, g.modelDir, g.theta))
    graft.Door.start(ingestStream(docsStream, horizon), checkpointDir) {
      (batch, id) =>
        val s = batch.sparkSession
        val docCols = Seq(col("doc_id"), col("source"), col("text"),
                          col("lang"),
                          length(col("text")).cast("long").as("n_chars"))
        // (gated parent to unpersist, keepers, rejected projection, dir)
        val (keepers, quarantined) = (scorer, fScorer) match {
          case (Some(sc), _) =>
            val gated = nbGateBatch(batch, sc).persist()
            (gated.filter(col("nb_keep")),
             Some((gated,
                   gated.filter(!col("nb_keep"))
                     .select(docCols ++ Seq(col("nb_llr"),
                                            col("nb_bin")): _*),
                   Option(nbGate.get.quarantineDir)
                     .getOrElse(corpusDir + "_nb_quarantine"))))
          case (_, Some(fc)) =>
            val gated = funnelGateBatch(batch, fc).persist()
            (gated.filter(col("fs_keep")),
             Some((gated,
                   gated.filter(!col("fs_keep"))
                     .select(docCols ++ Seq(col("fs_qi"), col("fs_lp4"),
                                            col("fs_bin"),
                                            col("fs_reject_stage")): _*),
                   Option(funnelGate.get.quarantineDir)
                     .getOrElse(corpusDir + "_funnel_quarantine"))))
          case _ => (batch, None)
        }
        graft.Door.land(keepers.select(docCols: _*), id,
                        s"$corpusDir/documents.parquet")
        quarantined.foreach { case (gated, rejected, qDir) =>
          if (!rejected.isEmpty) graft.Door.land(rejected, id, qDir)
          gated.unpersist()
          ()
        }
        appendRefresh(corpusDir) // session memos evict; artifacts stay
        if (refreshEvery > 0 && id % refreshEvery == 0) {
          // land/refresh the per-doc index artifacts FIRST — the delta
          // pair generation probes them instead of old corpus bytes, and
          // the label full-build path deliberately does not land them
          // (a one-shot batch resolve has no future appends to serve)
          TrainingData.dedupTokenIndex(s, corpusDir).count()
          TrainingData.dedupPrefixIndex(s, corpusDir).count()
          dedupClusters(s, corpusDir).count() // rides the delta-merge path
          ()
        }
    }
  }

  /** Shared oracle CTE chain of the q129 packing pipeline (curate ->
    * budget -> offsets -> per-bin pieces). q137's token-ID oracle
    * appends the BPE vocabulary CTEs to this same text, so the two
    * oracles can never drift apart on the packing semantics.
    */
  private val packedPiecesCtes: String = """t AS (
    |  SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS tok
    |  FROM documents),
    |q AS (SELECT doc_id,
    |  round(least(1.0, len(tok) / 64.0) *
    |        (0.5 + CAST(len(list_filter(tok, x -> x IN
    |           ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
    |         / len(tok)), 4) AS quality FROM t),
    |tc AS (SELECT doc_id, unnest(tok) AS term FROM t),
    |tcc AS (SELECT doc_id, term, count(*) AS c FROM tc GROUP BY 1, 2),
    |rep AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_share
    |        FROM tcc GROUP BY doc_id),
    |td AS (SELECT doc_id, lang, n_chars, list_distinct(tok) AS dtok FROM t),
    |p AS (
    |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
    |  FROM td a JOIN td b
    |    ON a.lang = b.lang AND a.doc_id < b.doc_id
    |    AND abs(a.n_chars - b.n_chars) <= 20
    |  WHERE CAST(len(list_intersect(a.dtok, b.dtok)) AS DOUBLE) /
    |        len(list_distinct(list_concat(a.dtok, b.dtok))) >= 0.9),
    |e AS (SELECT id_a AS a, id_b AS b FROM p
    |      UNION ALL SELECT id_b, id_a FROM p),
    |reach AS (
    |  SELECT DISTINCT a, a AS b FROM e
    |  UNION
    |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
    |cl AS (SELECT a AS doc_id, CAST(a = min(b) AS BIGINT) AS dk
    |       FROM reach GROUP BY a),
    |base AS (
    |  SELECT d.doc_id,
    |    CASE WHEN substr(md5(d.text), 1, 1) <= 'b' THEN 'train'
    |         WHEN substr(md5(d.text), 1, 1) <= 'd' THEN 'val'
    |         ELSE 'test' END AS split,
    |    q.quality,
    |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
    |    CAST(q.quality >= 0.5 AND rep.top_share <= 0.2
    |         AND COALESCE(cl.dk, 1) = 1 AS BIGINT) AS ckeep
    |  FROM documents d
    |  JOIN q USING (doc_id) JOIN rep USING (doc_id)
    |  LEFT JOIN cl USING (doc_id)),
    |bsel AS (
    |  SELECT doc_id FROM (
    |    SELECT doc_id,
    |      sum(n_tok) OVER (PARTITION BY split
    |        ORDER BY quality DESC, doc_id
    |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
    |    FROM base WHERE ckeep = 1)
    |  WHERE cum_tok <= 4000),
    |off AS (
    |  SELECT b.doc_id, b.split, b.n_tok,
    |    CAST(sum(b.n_tok) OVER (PARTITION BY b.split
    |      ORDER BY b.doc_id) AS BIGINT) AS end_off
    |  FROM base b JOIN bsel USING (doc_id)),
    |ox AS (
    |  SELECT o.doc_id, o.split, o.end_off, o.end_off - o.n_tok AS start_off,
    |         t.tok
    |  FROM off o JOIN t USING (doc_id)),
    |pieces AS (
    |  SELECT split, u.bin,
    |    greatest(start_off, u.bin * 512) AS p_start,
    |    greatest(start_off, u.bin * 512) = start_off AS doc_start,
    |    tok[CAST(greatest(start_off, u.bin * 512) - start_off + 1 AS BIGINT)
    |        : CAST(least(end_off, (u.bin + 1) * 512) - start_off AS BIGINT)]
    |      AS piece
    |  FROM ox CROSS JOIN LATERAL
    |    unnest(generate_series(start_off // 512, (end_off - 1) // 512))
    |      AS u(bin))""".stripMargin

  val all: Seq[Q] = Seq(

    Q("q59_train_split",
      "Deterministic train/val/test split by content hash: the first md5 " +
        "hex digit buckets docs 12/2/2 of 16 (75/12.5/12.5%). Hash-driven " +
        "splits survive corpus re-ingestion and re-partitioning (a random() " +
        "split does neither) and need no shuffle at all — pure codegen'd " +
        "column math on the scan.",
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
        |       WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin) { (s, d) =>
      val h = substring(md5(col("text")), 1, 1)
      docs(s, d).select(
        col("doc_id"), col("lang"),
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test").as("split"))
    },

    Q("q60_repetition",
      "Gopher-style repetition signal: the share of a doc taken by its " +
        "single most frequent token. High top-token share marks " +
        "boilerplate/spam for removal. Two aggregates, both keyed on " +
        "doc_id or (doc_id, term) — embarrassingly parallel at any scale.",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id, max(c) AS top_tok,
        |  CAST(sum(c) AS BIGINT) AS n_tok,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_share
        |FROM tf GROUP BY doc_id""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max("c").as("top_tok"),
             sum("c").cast("long").as("n_tok"),
             round(max("c").cast("double") / sum("c"), 4).as("top_share"))
    },

    Q("q61_pii_scrub",
      "PII redaction: regex-scrub email addresses, reporting the redaction " +
        "count per doc. The synthetic corpus carries no PII, so the query " +
        "PLANTS two deterministic addresses per doc (from the content " +
        "hash) and proves the scrubber removes exactly those — the same " +
        "single-pass codegen'd projection a real corpus would run.",
      """SELECT doc_id,
        |  regexp_replace(
        |    substr(text, 1, 20) || ' contact ' || substr(md5(text), 1, 8) ||
        |      '@example.com or ' || substr(md5(text), 9, 8) || '@test.org tail',
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g')
        |    AS scrubbed,
        |  CAST(len(regexp_extract_all(
        |    substr(text, 1, 20) || ' contact ' || substr(md5(text), 1, 8) ||
        |      '@example.com or ' || substr(md5(text), 9, 8) || '@test.org tail',
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
        |    AS n_redactions
        |FROM documents""".stripMargin) { (s, d) =>
      val pat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val planted = concat(
        substring(col("text"), 1, 20), lit(" contact "),
        substring(md5(col("text")), 1, 8), lit("@example.com or "),
        substring(md5(col("text")), 9, 8), lit("@test.org tail"))
      docs(s, d).select(
        col("doc_id"),
        regexp_replace(planted, pat, "<EMAIL>").as("scrubbed"),
        size(regexp_extract_all(planted, lit(pat), lit(0))).cast("long")
          .as("n_redactions"))
    },

    Q("q62_stratified_sample",
      "Deterministic stratified sampling: k docs per language, chosen by " +
        "content-hash order (uniform over the stratum, reproducible across " +
        "runs/partitionings). One shuffle on the stratum key; rank " +
        "truncation, not a full sort.",
      """SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
        |FROM (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY md5(text), doc_id) AS rk
        |      FROM documents)
        |WHERE rk <= 20""".stripMargin) { (s, d) =>
      // Scale shape: the rk <= k filter over row_number plans a PARTIAL
      // WindowGroupLimit BEFORE the exchange (Spark 3.5+), so each map
      // task ships at most k digest rows per stratum — the stratum
      // reducer sorts k x mapTasks rows, never the corpus. That makes
      // the naive spelling the scale-correct one: ONE text scan, one
      // digest-only shuffle. (The previous hash-prefix-cutoff pruning
      // harness — per-stratum counts, 8x·k candidate pool, undershoot
      // rescue — re-derived exactly this bound by hand at the price of
      // FOUR corpus scans; PlanSpec now pins the group-limit instead.)
      val k = 20
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
    },

    Q("q64_dedup_clusters",
      "Dedup cluster resolution: connected components over the q38 " +
        "near-dup pair graph (iterative min-label propagation — the " +
        "standard distributed CC pattern: each round is one shuffle " +
        "join + min-aggregate, converging in O(component diameter) " +
        "rounds, bounded here at 20 ~ graphs of 2^20 diameter). Output: " +
        "every clustered doc with its canonical keeper (min doc_id in " +
        "the component) — the final KEEP/DROP decision of corpus dedup. " +
        "The DuckDB oracle recomputes components via a recursive-CTE " +
        "transitive closure over the unblocked all-pairs graph, so the " +
        "equivalence also re-proves the prefix filter end-to-end.",
      """WITH RECURSIVE t AS (SELECT doc_id, lang, n_chars,
        |             list_distinct(string_split(text, ' ')) AS tok FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT DISTINCT a, a AS b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS doc_id, min(b) AS cluster_id,
        |  CAST(a = min(b) AS BIGINT) AS keep
        |FROM reach GROUP BY a""".stripMargin) { (s, d) =>
      dedupClusters(s, d)
    },

    Q("q65_curate",
      "The end-to-end curation verdict — what a user of this library runs " +
        "nightly over the corpus: quality score (q32 formula) + repetition " +
        "signal (q60) + near-dup cluster resolution (q64, canonical doc " +
        "wins) + deterministic split (q59), composed into one per-doc " +
        "KEEP/DROP decision. Everything joins on doc_id; the only " +
        "iterative piece (clustering) reuses the session-cached pair " +
        "graph. One DuckDB oracle re-derives the whole pipeline.",
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS tok
        |  FROM documents),
        |q AS (SELECT doc_id,
        |  round(least(1.0, len(tok) / 64.0) *
        |        (0.5 + CAST(len(list_filter(tok, x -> x IN
        |           ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |         / len(tok)), 4) AS quality FROM t),
        |tc AS (SELECT doc_id, unnest(tok) AS term FROM t),
        |tcc AS (SELECT doc_id, term, count(*) AS c FROM tc GROUP BY 1, 2),
        |rep AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_share
        |        FROM tcc GROUP BY doc_id),
        |td AS (SELECT doc_id, lang, n_chars, list_distinct(tok) AS dtok FROM t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM td a JOIN td b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.dtok, b.dtok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.dtok, b.dtok))) >= 0.9),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT DISTINCT a, a AS b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |cl AS (SELECT a AS doc_id, CAST(a = min(b) AS BIGINT) AS dk
        |       FROM reach GROUP BY a)
        |SELECT d.doc_id, d.lang,
        |  CASE WHEN substr(md5(d.text), 1, 1) <= 'b' THEN 'train'
        |       WHEN substr(md5(d.text), 1, 1) <= 'd' THEN 'val'
        |       ELSE 'test' END AS split,
        |  q.quality, rep.top_share,
        |  COALESCE(cl.dk, 1) AS dedup_keep,
        |  CAST(q.quality >= 0.5 AND rep.top_share <= 0.2
        |       AND COALESCE(cl.dk, 1) = 1 AS BIGINT) AS keep
        |FROM documents d
        |JOIN q USING (doc_id) JOIN rep USING (doc_id)
        |LEFT JOIN cl USING (doc_id)""".stripMargin) { (s, d) =>
      curate(s, d)
    },

    Q("q122_training_set",
      "Materialize-a-training-set verdict — the single API a user runs to " +
        "go from raw corpus to trainer-ready shards: curation keep/split " +
        "(q65) -> per-split quality-ranked token budget (q79) -> packing " +
        "layout (q108), composed into one row per document: keep = " +
        "curated AND within the split's 4000-token budget; kept docs " +
        "carry their 512-token bin span. exportTrainingSet writes the " +
        "keepers split-partitioned; this query is its oracled verdict. " +
        "Scale shape inherits its three stages' bounded-window patterns " +
        "verbatim — no corpus-sized partition anywhere.",
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS tok
        |  FROM documents),
        |q AS (SELECT doc_id,
        |  round(least(1.0, len(tok) / 64.0) *
        |        (0.5 + CAST(len(list_filter(tok, x -> x IN
        |           ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |         / len(tok)), 4) AS quality FROM t),
        |tc AS (SELECT doc_id, unnest(tok) AS term FROM t),
        |tcc AS (SELECT doc_id, term, count(*) AS c FROM tc GROUP BY 1, 2),
        |rep AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_share
        |        FROM tcc GROUP BY doc_id),
        |td AS (SELECT doc_id, lang, n_chars, list_distinct(tok) AS dtok FROM t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM td a JOIN td b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.dtok, b.dtok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.dtok, b.dtok))) >= 0.9),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT DISTINCT a, a AS b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |cl AS (SELECT a AS doc_id, CAST(a = min(b) AS BIGINT) AS dk
        |       FROM reach GROUP BY a),
        |base AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN substr(md5(d.text), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(d.text), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split,
        |    q.quality,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(q.quality >= 0.5 AND rep.top_share <= 0.2
        |         AND COALESCE(cl.dk, 1) = 1 AS BIGINT) AS ckeep
        |  FROM documents d
        |  JOIN q USING (doc_id) JOIN rep USING (doc_id)
        |  LEFT JOIN cl USING (doc_id)),
        |bsel AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      sum(n_tok) OVER (PARTITION BY split
        |        ORDER BY quality DESC, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        |    FROM base WHERE ckeep = 1)
        |  WHERE cum_tok <= 4000),
        |packed AS (
        |  SELECT doc_id,
        |    (end_off - n_tok) // 512 AS first_bin,
        |    (end_off - 1) // 512 AS last_bin,
        |    (end_off - 1) // 512 - (end_off - n_tok) // 512 + 1 AS n_bins
        |  FROM (SELECT b.doc_id, b.n_tok,
        |          CAST(sum(b.n_tok) OVER (PARTITION BY b.split
        |            ORDER BY b.doc_id) AS BIGINT) AS end_off
        |        FROM base b JOIN bsel USING (doc_id)))
        |SELECT b.doc_id, b.lang, b.split, b.quality, b.n_tok,
        |  CAST(b.ckeep = 1 AND pk.first_bin IS NOT NULL AS BIGINT) AS keep,
        |  pk.first_bin, pk.last_bin, pk.n_bins
        |FROM base b LEFT JOIN packed pk USING (doc_id)""".stripMargin) { (s, d) =>
      trainingSetVerdict(s, d)
    },

    Q("q129_packed_sequences",
      "The packing pipeline's terminal artifact — the actual fixed-" +
        "length training sequences: every budget-selected doc (q122's " +
        "keepers) sliced along its 512-token bin boundaries and each " +
        "(split, bin) reassembled in stream order into one sequence; " +
        "every bin but each split's last holds exactly 512 tokens, zero " +
        "padding waste. Output is the verifiable digest (split, bin, " +
        "n_tokens, content_md5) — DuckDB re-assembles the same " +
        "sequences independently (string_agg over ordered pieces) and " +
        "the hashes must agree, which proves slice arithmetic, piece " +
        "ordering, AND the upstream budget/packing composition in one " +
        "oracle. Scale shape: slice explode is per-row arithmetic; " +
        "reassembly is one (split, bin) shuffle with groups bounded at " +
        "512 tokens; piece order inside a bin is restored by " +
        "sort_array, never collect_list order.",
      s"""WITH RECURSIVE $packedPiecesCtes
        |SELECT split, CAST(bin AS BIGINT) AS bin,
        |  CAST(sum(len(piece)) AS BIGINT) AS n_tokens,
        |  md5(string_agg(array_to_string(piece, ' '), ' ' ORDER BY p_start))
        |    AS content_md5
        |FROM pieces GROUP BY 1, 2""".stripMargin) { (s, d) =>
      packedSequences(s, d).drop("tokens")
    },

    Q("q137_packed_token_ids",
      "Token-ID-level training export: q129's packed bins re-expressed " +
        "as subword-ID arrays under the q131-learned BPE vocabulary — " +
        "the composition that turns the packing pipeline's text digest " +
        "into the actual model input (ids, id 0 = word boundary, base " +
        "chars 1..C in UTF-8 order, merge step i = C+i). Output is the " +
        "verifiable digest (split, bin, n_ids, ids_md5); the DuckDB " +
        "oracle RE-LEARNS the merges itself (BpeOracle's unrolled " +
        "training CTEs), derives the same vocabulary, and re-assembles " +
        "the same ID stream over the shared q129 packing CTEs, so " +
        "tokenizer training, vocabulary numbering, packing, and ID " +
        "assembly are all independently recomputed. PackedIdsSpec " +
        "round-trips the IDs back to q129's reassembled text. Scale " +
        "shape: vocabulary-sized word->ids join hinted shuffle_hash, " +
        "one (split, bin) regroup bounded at PackBudget words per bin.",
      s"""WITH RECURSIVE ${BpeOracle.ctes(Prep.BpeK)},
        |${BpeOracle.idCtes(Prep.BpeK)},
        |$packedPiecesCtes,
        |pw AS (SELECT split, bin, p_start, unnest(piece) AS w,
        |              unnest(range(1, len(piece) + 1)) AS j
        |       FROM pieces),
        |pids AS (SELECT split, bin, p_start, j, ids
        |         FROM pw JOIN wids USING (w)),
        |binids AS (SELECT split, CAST(bin AS BIGINT) AS bin,
        |    flatten(array_agg(list_prepend(CAST(0 AS BIGINT), ids)
        |                      ORDER BY p_start, j))[2:] AS ids
        |  FROM pids GROUP BY 1, 2)
        |SELECT split, bin, CAST(len(ids) AS BIGINT) AS n_ids,
        |  md5(array_to_string(ids, ' ')) AS ids_md5
        |FROM binids""".stripMargin) { (s, d) =>
      packedTokenIds(s, d).drop("ids")
    },

    Q("q145_pack_boundaries",
      "Attention-boundary metadata for the packed shards — per (split, " +
        "bin): the token offsets where each document piece starts " +
        "within the bin (0-based, space-joined). A trainer consuming " +
        "q129/q137's fixed-length sequences needs exactly this to " +
        "reset position ids and mask cross-document attention at piece " +
        "boundaries (the packed-pretraining convention); without it a " +
        "packed bin silently attends across unrelated documents. " +
        "Derived from the SAME piece stream the packers consume " +
        "(offset = p_start - bin * PackBudget), so the boundary table " +
        "can never drift from the packing itself — and the oracle " +
        "re-derives it over the shared packing CTEs. Scale shape: one " +
        "(split, bin) aggregate with groups bounded by pieces-per-bin; " +
        "zero extra corpus passes.",
      s"""WITH RECURSIVE $packedPiecesCtes,
        |bounds AS (SELECT split, CAST(bin AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_pieces,
        |    array_to_string(
        |      array_agg(p_start - bin * ${Prep.PackBudget} ORDER BY p_start),
        |      ' ') AS boundaries
        |  FROM pieces GROUP BY 1, 2)
        |SELECT split, bin, n_pieces, boundaries
        |FROM bounds ORDER BY split, bin""".stripMargin) { (s, d) =>
      val b = Prep.PackBudget
      packedPieces(s, d, SplitBudget)
        .select(col("split"), col("bin"),
                (col("p_start") - col("bin") * b).as("off"))
        .groupBy("split", "bin")
        .agg(count(lit(1)).cast("long").as("n_pieces"),
             array_join(
               transform(sort_array(collect_list(col("off"))),
                         o => o.cast("string")),
               " ").as("boundaries"))
        .select(col("split"), col("bin").cast("long").as("bin"),
                col("n_pieces"), col("boundaries"))
        .orderBy("split", "bin")
    },

    Q("q146_packed_ids_eos",
      "q137's packed token-ID bins with an IN-BAND document separator " +
        "(configurable id, default 2^20 — reserved above anything the " +
        "vocabulary can assign): the separator precedes each document's " +
        "first subword inside the bin, the GPT-2 <|endoftext|> loader " +
        "contract — a consumer resets position ids / stops attention at " +
        "separator occurrences without needing the q145 sidecar. The " +
        "PACKING IS UNCHANGED: bins and pieces are q137's exactly, each " +
        "piece's offset here is its q137 offset plus the separators " +
        "before it, and stripping the separators restores q137's ids " +
        "bit-for-bit (PackEosSpec proves strip-equality, separator/" +
        "boundary placement vs the independent first_bin derivation, " +
        "and lossless per-document reassembly of every selected doc). " +
        "n_docs counts documents beginning in the bin (= separators). " +
        "Scale shape identical to q137: vocabulary-sized word->ids " +
        "join on the shuffle path, one bounded (split, bin) regroup.",
      s"""WITH RECURSIVE ${BpeOracle.ctes(Prep.BpeK)},
        |${BpeOracle.idCtes(Prep.BpeK)},
        |$packedPiecesCtes,
        |pw AS (SELECT split, bin, p_start, doc_start,
        |              unnest(piece) AS w,
        |              unnest(range(1, len(piece) + 1)) AS j
        |       FROM pieces),
        |pids AS (SELECT split, bin, p_start, j, doc_start, ids
        |         FROM pw JOIN wids USING (w)),
        |binids AS (SELECT split, CAST(bin AS BIGINT) AS bin,
        |    flatten(array_agg(
        |      list_concat(
        |        list_concat([CAST(0 AS BIGINT)],
        |          CASE WHEN doc_start AND j = 1
        |               THEN [CAST($EosId AS BIGINT)]
        |               ELSE CAST([] AS BIGINT[]) END),
        |        ids)
        |      ORDER BY p_start, j))[2:] AS ids,
        |    CAST(sum(CASE WHEN doc_start AND j = 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_docs
        |  FROM pids GROUP BY 1, 2)
        |SELECT split, bin, CAST(len(ids) AS BIGINT) AS n_ids, n_docs,
        |  md5(array_to_string(ids, ' ')) AS ids_md5
        |FROM binids""".stripMargin) { (s, d) =>
      packedTokenIdsSep(s, d).drop("ids")
    },

    Q("q140_tokenized_docs",
      "Per-document token-ID export — the at-ingest tokenization " +
        "artifact in batch form: every doc passing the ingest verdict " +
        "(quality >= 0.5, deterministic split) as its subword-ID " +
        "sequence under the q131-learned vocabulary, words joined by " +
        "the id-0 separator in document order. This is the per-doc " +
        "piece q137's bins concatenate, and exactly what " +
        "startTokenIdIngest lands per micro-batch (TokenIdStreamSpec " +
        "pins stream == this). The DuckDB oracle re-learns the merges, " +
        "re-derives the vocabulary, and re-assembles each doc's ID " +
        "stream independently. Scale shape: vocabulary-sized word->ids " +
        "join on the shuffle path; per-doc regroup bounded by doc " +
        "length; zero corpus-sized windows.",
      s"""WITH RECURSIVE ${BpeOracle.ctes(Prep.BpeK)},
        |${BpeOracle.idCtes(Prep.BpeK)},
        |verdict AS (SELECT doc_id, text,
        |    CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id, text,
        |      round(least(1.0, len(string_split(text, ' ')) / 64.0) *
        |        (0.5 + CAST(len(list_filter(string_split(text, ' '),
        |           x -> x IN ('the','a','an','and','or','of','to','in',
        |                      'is','it'))) AS DOUBLE)
        |         / len(string_split(text, ' '))), 4) AS quality
        |    FROM documents) v
        |  WHERE quality >= 0.5),
        |dw AS (SELECT doc_id, split, unnest(string_split(text, ' ')) AS w,
        |           unnest(range(1, len(string_split(text, ' ')) + 1)) AS j
        |       FROM verdict),
        |dids AS (SELECT doc_id, split, j, ids
        |         FROM (SELECT * FROM dw WHERE w <> '') dwx
        |         JOIN wids USING (w)),
        |docids AS (SELECT split, doc_id,
        |    flatten(array_agg(list_prepend(CAST(0 AS BIGINT), ids)
        |                      ORDER BY j))[2:] AS ids
        |  FROM dids GROUP BY 1, 2)
        |SELECT split, doc_id, CAST(len(ids) AS BIGINT) AS n_ids,
        |  CAST(len(list_filter(ids, x -> x IS NULL)) > 0 AS BOOLEAN)
        |    AS has_oov,
        |  md5(array_to_string(list_transform(ids,
        |        x -> COALESCE(CAST(x AS VARCHAR), '$OovSentinel')), ' '))
        |    AS ids_md5
        |FROM docids""".stripMargin) { (s, d) =>
      tokenizedDocs(ingestVerdict(docs(s, d)), s, d).drop("ids")
    },

    Q("q74_normalize",
      "Text normalization — the cleaning pass that runs before dedup so " +
        "trivially-different copies (case, punctuation, spacing) hash " +
        "identically: casefold + punctuation strip + whitespace collapse " +
        "+ trim, with the normalized content hash. Pure codegen'd " +
        "projection, zero shuffles.",
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g'))) AS norm_hash
        |FROM documents""".stripMargin) { (s, d) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
      docs(s, d).select(
        col("doc_id"), norm.as("norm_text"), md5(norm).as("norm_hash"))
    },

    Q("q77_source_mixing",
      "Data mixing: down-sample each source at its own rate (web 50%, " +
        "wiki 100%, ...) DETERMINISTICALLY — a doc is kept iff its content " +
        "hash, read as a uniform in [0,1), falls under the source's rate. " +
        "Rates become fixed-width hex cutoffs compared lexicographically, " +
        "so the mix is reproducible across runs, engines, and " +
        "partitionings; zero shuffles.",
      """SELECT doc_id, source,
        |  CAST(substr(md5(text), 1, 8) <
        |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN '40000000'
        |         WHEN source IN ('src3', 'src4', 'src5') THEN 'c0000000'
        |         ELSE 'ffffffff' END AS BIGINT) AS kept
        |FROM documents""".stripMargin) { (s, d) =>
      // rate -> 8-hex-digit cutoff: floor(rate * 2^32) as %08x (0.25 ->
      // '40000000', 0.75 -> 'c0000000'); md5 hex is uniform so
      // P(prefix < cutoff) = rate
      val h = substring(md5(col("text")), 1, 8)
      val cutoff = when(col("source").isin("src0", "src1", "src2"), "40000000")
        .when(col("source").isin("src3", "src4", "src5"), "c0000000")
        .otherwise("ffffffff")
      docs(s, d).select(col("doc_id"), col("source"),
                        (h < cutoff).cast("long").as("kept"))
    },

    Q("q78_token_budget",
      "Token-budget selection: rank docs by quality and keep the prefix " +
        "whose cumulative token count fits the budget — how a training " +
        "mix is assembled ('best 10k tokens'). Two-phase so NO data-sized " +
        "single-partition window exists: (1) per-quality-value token " +
        "totals (map-side partial aggregation; quality is rounded to 4 " +
        "decimals so the bucket table is DOMAIN-bounded at <=15k rows " +
        "regardless of corpus size) with an exclusive prefix sum over " +
        "that tiny table locating the budget boundary; (2) the exact " +
        "per-row running sum only over rows of buckets whose prefix is " +
        "still under budget — a set bounded by the BUDGET plus the one " +
        "straddling bucket (corpus-independent unless a single rounded " +
        "quality value ties across a corpus-sized share of docs). " +
        "Prefix-closure of the candidate set makes phase 2 bit-identical " +
        "to the naive global window. See q79 for the per-stratum variant.",
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    round(least(1.0, len(string_split(text, ' ')) / 64.0) *
        |      (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(string_split(text, ' '))), 4) AS quality
        |  FROM documents),
        |c AS (SELECT doc_id, quality, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |      FROM t)
        |SELECT doc_id, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 10000""".stripMargin) { (s, d) =>
      val budget = 10000L
      val stopArr = array(TrainingData.enStop.map(lit): _*)
      val tok = split(col("text"), " ")
      val perDoc = TrainingData.spread(docs(s, d))
        .select(col("doc_id"), size(tok).cast("long").as("n_tokens"),
                round(least(lit(1.0), size(tok) / lit(64.0)) *
                      (lit(0.5) +
                        size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
                          size(tok)), 4).as("quality"))
      // phase 1: domain-bounded bucket table (one value per distinct
      // rounded quality) + exclusive prefix sum over it. The single
      // partition this window runs on holds <=15k rows at ANY corpus size.
      val wb = Window.orderBy(col("quality").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val liveBuckets = perDoc
        .groupBy("quality").agg(sum("n_tokens").as("bucket_tokens"))
        .withColumn("cum_before", coalesce(sum("bucket_tokens").over(wb), lit(0L)))
        .filter(col("cum_before") < budget)
        .select("quality", "cum_before")
      // phase 2: exact running sum, but only over budget-bounded
      // candidates. Any row preceding a candidate (higher quality, or same
      // quality and lower doc_id) is itself a candidate, so per-row
      // cum_tokens here equals the naive global-window value exactly.
      val w = Window.orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDoc.join(broadcast(liveBuckets.select("quality")), "quality")
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("quality"),
                col("n_tokens").cast("long").as("n_tokens"),
                col("cum_tokens").cast("long").as("cum_tokens"))
    },

    Q("q79_stratum_budget",
      "Per-stratum token budget: each language gets its own budget share " +
        "and the best-quality prefix of each stratum fills it — how a " +
        "multilingual training mix holds its language ratios while still " +
        "taking only the best documents. Same two-phase shape as q78, " +
        "blocked by stratum: the bucket table keys on (lang, quality) so " +
        "its prefix-sum window holds <=15k rows per lang partition, and " +
        "the exact per-row window runs per lang over candidates bounded " +
        "by that lang's budget. Parallelism is across strata AND within " +
        "the scan; no task ever sees more than one budget's worth of rows.",
      """WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |    round(least(1.0, len(string_split(text, ' ')) / 64.0) *
        |      (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(string_split(text, ' '))), 4) AS quality
        |  FROM documents),
        |c AS (SELECT doc_id, lang, quality, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY lang
        |          ORDER BY quality DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |      FROM t)
        |SELECT doc_id, lang, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 2000""".stripMargin) { (s, d) =>
      val budget = 2000L
      val stopArr = array(TrainingData.enStop.map(lit): _*)
      val tok = split(col("text"), " ")
      val perDoc = TrainingData.spread(docs(s, d))
        .select(col("doc_id"), col("lang"),
                size(tok).cast("long").as("n_tokens"),
                round(least(lit(1.0), size(tok) / lit(64.0)) *
                      (lit(0.5) +
                        size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
                          size(tok)), 4).as("quality"))
      val wb = Window.partitionBy("lang").orderBy(col("quality").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val liveBuckets = perDoc
        .groupBy("lang", "quality").agg(sum("n_tokens").as("bucket_tokens"))
        .withColumn("cum_before", coalesce(sum("bucket_tokens").over(wb), lit(0L)))
        .filter(col("cum_before") < budget)
        .select("lang", "quality")
      val w = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDoc.join(broadcast(liveBuckets), Seq("lang", "quality"))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("lang"), col("quality"),
                col("n_tokens").cast("long").as("n_tokens"),
                col("cum_tokens").cast("long").as("cum_tokens"))
    },

    Q("q87_weighted_sample",
      "Deterministic probability-proportional-to-size sampling: each doc " +
        "is kept with probability proportional to its token count (capped " +
        "at 1, scaled by rate 0.5), driven by a content-hash uniform — " +
        "md5's first 6 hex digits as a 24-bit fraction — so the sample is " +
        "reproducible across runs AND engines (no RNG, no seed plumbing). " +
        "The Poisson/PPS spelling is fully scan-parallel: zero shuffles, " +
        "zero windows — every row decides its own fate from its own " +
        "bytes, which is why it is THE sampling shape at 100 TB (a " +
        "sort-based or reservoir sample would serialize). Length-biased " +
        "sampling is the standard token-budget-aware downsample: keeping " +
        "probability tracks each doc's token contribution.",
      """WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |    list_reduce(list_transform(string_split(substr(md5(text), 1, 6), ''),
        |        c -> strpos('0123456789abcdef', c) - 1),
        |      (a, b) -> a * 16 + b) / 16777216.0 AS u
        |  FROM documents)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(least(1.0, n_tokens / 80.0) * 0.5, 6) AS p
        |FROM t WHERE u < least(1.0, n_tokens / 80.0) * 0.5""".stripMargin) { (s, d) =>
      val nTok = size(split(col("text"), " "))
      val u = Prep.u01(col("text"))
      val p = least(lit(1.0), nTok.cast("double") / lit(80.0)) * lit(0.5)
      docs(s, d)
        .select(col("doc_id"), col("lang"), nTok.cast("long").as("n_tokens"),
                u.as("u"), p.as("p"))
        .filter(col("u") < col("p"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
                round(col("p"), 6).as("p"))
    },

    Q("q88_quality_deciles",
      "Exact quality decile / cumulative-share assignment without a " +
        "global sort: the q78 bounded-domain two-phase trick applied to " +
        "CUME_DIST. Quality rounds to 4dp, so the VALUE domain is <= 15k " +
        "rows at any corpus size — phase 1 aggregates per-value counts " +
        "(map-side partials) and runs the cumulative window over that " +
        "tiny value table; phase 2 broadcast-joins each doc to its " +
        "value's cumulative rank. Ties share a value, so value-level " +
        "CUME_DIST is exactly row-level CUME_DIST — the oracle says it " +
        "with a global window, we say it with a bounded one. Decile " +
        "arithmetic keeps one fp spelling (cum * 10.0 / total) on both " +
        "engines: dividing first (cume_dist * 10) flips floor() at exact " +
        "tile boundaries (150/500 * 10 = 2.999...).",
      """WITH t AS (
        |  SELECT doc_id, round(least(1.0, len(string_split(text, ' ')) / 64.0) *
        |      (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(string_split(text, ' '))), 4) AS quality
        |  FROM documents),
        |d AS (SELECT doc_id, quality,
        |        count(*) OVER (ORDER BY quality) AS cum,
        |        count(*) OVER () AS total
        |      FROM t)
        |SELECT doc_id, quality, round(CAST(cum AS DOUBLE) / total, 4) AS cume_dist,
        |  CAST(least(floor(cum * 10.0 / total), 9) AS BIGINT) AS decile
        |FROM d""".stripMargin) { (s, d) =>
      val stopArr = array(TrainingData.enStop.map(lit): _*)
      val tok = split(col("text"), " ")
      val perDoc = TrainingData.spread(docs(s, d))
        .select(col("doc_id"),
                round(least(lit(1.0), size(tok) / lit(64.0)) *
                      (lit(0.5) +
                        size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
                          size(tok)), 4).as("quality"))
      // phase 1: per-value counts + cumulative count over the bounded
      // value domain (single partition of <= 15k rows at ANY corpus size)
      val wv = Window.orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val vals = perDoc.groupBy("quality").agg(count(lit(1)).as("c"))
      val valTable = vals
        .withColumn("cum", sum("c").over(wv))
        .crossJoin(broadcast(vals.agg(sum("c").as("total"))))
        .select(col("quality"),
                round(col("cum").cast("double") / col("total"), 4).as("cume_dist"),
                least(floor(col("cum") * lit(10.0) / col("total")), lit(9))
                  .cast("long").as("decile"))
      // phase 2: every doc picks up its value's rank — broadcast join,
      // scan-parallel, no doc-level window anywhere
      perDoc.join(broadcast(valTable), "quality")
        .select("doc_id", "quality", "cume_dist", "decile")
    },

    Q("q99_grouped_deciles",
      "q88's exact-decile assignment PER SOURCE — the stratified " +
        "calibration a mixed-corpus pipeline needs (a 0.6-quality doc " +
        "can be a top decile in a weak crawl and a bottom decile in a " +
        "curated source; per-stratum ranks make quality floors " +
        "comparable across sources). Same bounded-domain two-phase " +
        "shape: the window runs over the (source, quality) VALUE table " +
        "— per-source partitions bounded by the 4dp value domain " +
        "(<= 15k rows each) regardless of corpus size, so this is NOT " +
        "the q62-style low-cardinality window trap: doc rows never " +
        "enter a window, they broadcast-join their stratum's rank. " +
        "Per-source totals ride the same value table (sum over the " +
        "bounded domain), and decile arithmetic keeps the single " +
        "cum * 10.0 / total fp spelling.",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    round(least(1.0, len(string_split(text, ' ')) / 64.0) *
        |      (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN
        |         ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(string_split(text, ' '))), 4) AS quality
        |  FROM documents),
        |d AS (SELECT doc_id, source, quality,
        |        count(*) OVER (PARTITION BY source ORDER BY quality) AS cum,
        |        count(*) OVER (PARTITION BY source) AS total
        |      FROM t)
        |SELECT doc_id, source, quality,
        |  round(CAST(cum AS DOUBLE) / total, 4) AS cume_dist,
        |  CAST(least(floor(cum * 10.0 / total), 9) AS BIGINT) AS decile
        |FROM d""".stripMargin) { (s, d) =>
      val stopArr = array(TrainingData.enStop.map(lit): _*)
      val tok = split(col("text"), " ")
      val perDoc = TrainingData.spread(docs(s, d))
        .select(col("doc_id"), col("source"),
                round(least(lit(1.0), size(tok) / lit(64.0)) *
                      (lit(0.5) +
                        size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
                          size(tok)), 4).as("quality"))
      val wv = Window.partitionBy("source").orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val vals = perDoc.groupBy("source", "quality").agg(count(lit(1)).as("c"))
      val totals = vals.groupBy("source").agg(sum("c").as("total"))
      val valTable = vals
        .withColumn("cum", sum("c").over(wv))
        .join(broadcast(totals), "source")
        .select(col("source"), col("quality"),
                round(col("cum").cast("double") / col("total"), 4).as("cume_dist"),
                least(floor(col("cum") * lit(10.0) / col("total")), lit(9))
                  .cast("long").as("decile"))
      perDoc.join(broadcast(valTable), Seq("source", "quality"))
        .select("doc_id", "source", "quality", "cume_dist", "decile")
    },

    Q("q93_cluster_keep_best",
      "Quality-aware dedup resolution: within each near-dup cluster " +
        "(q64's connected components), keep the HIGHEST-QUALITY member " +
        "instead of the arbitrary min-id canonical — the policy real " +
        "pipelines want (the best-written copy survives, mirrors die). " +
        "Composes the session-cached cluster labels with the q32 quality " +
        "formula; the argmax is a window over cluster_id — a " +
        "high-cardinality key with component-bounded partitions, the " +
        "safe window shape (q69 pattern), not a q62-style 5-key funnel. " +
        "The oracle re-derives clusters via the recursive-CTE closure, " +
        "so the equivalence re-proves blocking + clustering + policy " +
        "end to end.",
      """WITH RECURSIVE t AS (SELECT doc_id, lang, n_chars,
        |       list_distinct(string_split(text, ' ')) AS tok,
        |       round(least(1.0, len(string_split(text, ' ')) / 64.0) *
        |         (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN
        |            ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |          / len(string_split(text, ' '))), 4) AS quality
        |     FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT DISTINCT a, a AS b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |c AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
        |SELECT c.doc_id, c.cluster_id, t.quality,
        |  CAST(row_number() OVER (PARTITION BY c.cluster_id
        |         ORDER BY t.quality DESC, c.doc_id) = 1 AS BIGINT) AS keep_best
        |FROM c JOIN t USING (doc_id)""".stripMargin) { (s, d) =>
      val stopArr = array(TrainingData.enStop.map(lit): _*)
      val tok = split(col("text"), " ")
      val quality = docs(s, d).select(
        col("doc_id"),
        round(least(lit(1.0), size(tok) / lit(64.0)) *
              (lit(0.5) +
                size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
                  size(tok)), 4).as("quality"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
      dedupClusters(s, d).select("doc_id", "cluster_id")
        .join(quality, "doc_id")
        .withColumn("keep_best", (row_number().over(w) === 1).cast("long"))
    },

    Q("q97_corpus_report",
      "The one-row nightly corpus report: doc/token/dup/lang/source " +
        "counts, vocabulary size, and mean quality — the summary a " +
        "pipeline owner reads before approving a training run. All " +
        "1-row aggregates cross-joined (q28 pattern); the mean is " +
        "summed in FIXED POINT (per-doc quality scaled to int 1e4) so " +
        "the result is partition-order-independent — a raw double avg " +
        "is not bit-stable under re-partitioning, which breaks both " +
        "reproducibility and the oracle hash.",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |base AS (SELECT count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    count(DISTINCT md5(text)) AS n_unique_texts,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT source) AS n_sources
        |  FROM documents),
        |v AS (SELECT count(DISTINCT term) AS vocab FROM tok),
        |q AS (SELECT CAST(sum(CAST(floor(
        |        round(least(1.0, len(string_split(text, ' ')) / 64.0) *
        |          (0.5 + CAST(len(list_filter(string_split(text, ' '), x -> x IN
        |             ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |           / len(string_split(text, ' '))), 4) * 10000 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS q_scaled
        |  FROM documents)
        |SELECT CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
        |  CAST(n_docs - n_unique_texts AS BIGINT) AS n_exact_dups,
        |  CAST(n_langs AS BIGINT) AS n_langs,
        |  CAST(n_sources AS BIGINT) AS n_sources,
        |  CAST(vocab AS BIGINT) AS vocab_size,
        |  round(q_scaled / 10000.0 / n_docs, 4) AS mean_quality
        |FROM base CROSS JOIN v CROSS JOIN q""".stripMargin) { (s, d) =>
      val stopArr = array(TrainingData.enStop.map(lit): _*)
      val tok = split(col("text"), " ")
      val quality = round(least(lit(1.0), size(tok) / lit(64.0)) *
        (lit(0.5) +
          size(filter(tok, t => array_contains(stopArr, t))).cast("double") /
            size(tok)), 4)
      val base = docs(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(size(tok)).cast("long").as("n_tokens"),
        countDistinct(md5(col("text"))).as("n_unique_texts"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      val v = docs(s, d)
        .select(explode(tok).as("term"))
        .agg(countDistinct(col("term")).as("vocab"))
      val q = docs(s, d).agg(
        sum(floor(quality * lit(10000) + lit(0.5)).cast("long"))
          .cast("long").as("q_scaled"))
      base.crossJoin(broadcast(v)).crossJoin(broadcast(q))
        .select(col("n_docs").cast("long").as("n_docs"), col("n_tokens"),
                (col("n_docs") - col("n_unique_texts")).cast("long")
                  .as("n_exact_dups"),
                col("n_langs").cast("long").as("n_langs"),
                col("n_sources").cast("long").as("n_sources"),
                col("vocab").cast("long").as("vocab_size"),
                round(col("q_scaled") / lit(10000.0) / col("n_docs"), 4)
                  .as("mean_quality"))
    },

    Q("q63_source_caps",
      "Source-mix audit: per-source doc counts vs the mean, flagging " +
        "over-represented sources (>1.5x mean) for down-sampling. One " +
        "aggregate + a 1-row broadcast scalar (q28 pattern).",
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |     a AS (SELECT avg(n) AS mean_n FROM c)
        |SELECT source, n, round(n / mean_n, 4) AS ratio,
        |  CAST(n > 1.5 * mean_n AS BIGINT) AS over_cap
        |FROM c CROSS JOIN a""".stripMargin) { (s, d) =>
      val c = docs(s, d).groupBy("source").agg(count(lit(1)).as("n"))
      val a = c.agg(avg("n").as("mean_n"))
      c.crossJoin(broadcast(a))
        .select(col("source"), col("n"),
                round(col("n") / col("mean_n"), 4).as("ratio"),
                (col("n") > lit(1.5) * col("mean_n")).cast("long").as("over_cap"))
    },

    Q("q101_source_overlap",
      "Cross-source contamination matrix: near-duplicate pair counts " +
        "between every pair of sources — the audit that catches two " +
        "crawls scraping the same sites (or a vendor reselling another's " +
        "corpus) BEFORE both copies dilute the training mix. Pure " +
        "composition over the build-once verified pair set (q38's " +
        "lossless prefix-filter machinery, cached per corpus snapshot): " +
        "two equi-joins on doc id attach sources (the pair set is " +
        "usually the small side — AQE broadcasts it when it fits, " +
        "shuffles on the scalable doc-id key when it doesn't), then one " +
        "aggregate on the unordered source pair — the matrix is at most " +
        "n_sources^2 rows regardless of corpus size.",
      """WITH t AS (SELECT doc_id, source, lang, n_chars,
        |             list_distinct(string_split(text, ' ')) AS tok
        |           FROM documents),
        |p AS (
        |  SELECT a.source AS sa, b.source AS sb,
        |    round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.tok, b.tok))), 4) AS jaccard
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9
        |    AND a.source <> b.source)
        |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  floor(sum(CAST(round(jaccard * 10000, 0) AS BIGINT))
        |        / count(*) + 0.5) / 10000.0 AS mean_jaccard
        |FROM p GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val src = docs(s, d).select(col("doc_id"), col("source"))
      TrainingData.jaccardPairs(s, d)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .filter(col("sa") =!= col("sb"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
                 greatest(col("sa"), col("sb")).as("source_b"))
        // mean over the 4dp-scaled INTEGER sum, with the half-up rounding
        // done EXPLICITLY in scaled space (floor(x + 0.5)) where the .5
        // boundary is an exactly-representable double — engine round()
        // implementations disagree on exact halves (this corpus really
        // hits mean = 0.95625), and avg() of rounded doubles adds an
        // accumulation-order hazard on top
        .agg(count(lit(1)).cast("long").as("n_pairs"),
             (floor(sum(round(col("jaccard") * 10000, 0).cast("long"))
                    / count(lit(1)) + lit(0.5)) / lit(10000.0)).as("mean_jaccard"))
    },

    Q("q147_split_leakage",
      "Train/val/test LEAKAGE audit: near-duplicate pairs (q38's " +
        "lossless prefix-filter candidates, exact token-set Jaccard >= " +
        "0.9) whose members land in DIFFERENT q59 splits — the held-out " +
        "contamination check every eval-aware pipeline runs after " +
        "splitting (a val doc near-duplicating a train doc inflates " +
        "every benchmark read off that split; exact duplicates are the " +
        "jaccard = 1.0 subset of the same listing). Pure composition " +
        "over the build-once verified pair set: the split column is " +
        "recomputed from the same content hash q59 uses (no extra " +
        "state to keep consistent), attached by two equi-joins on the " +
        "scalable doc-id key — the pair set is the small side, nothing " +
        "corpus-sized is ever broadcast, and the leaked listing is " +
        "bounded by the near-dup pair count, not the corpus.",
      """WITH t AS (SELECT doc_id, lang, n_chars,
        |             list_distinct(string_split(text, ' ')) AS tok,
        |             CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
        |                  WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
        |                  ELSE 'test' END AS split
        |           FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.split AS split_a, b.split AS split_b,
        |    round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.tok, b.tok))), 4) AS jaccard
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9)
        |SELECT id_a, id_b, split_a, split_b, jaccard
        |FROM p WHERE split_a <> split_b""".stripMargin) { (s, d) =>
      val h = substring(md5(col("text")), 1, 1)
      val sp = docs(s, d).select(
        col("doc_id"),
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
          .as("split"))
      TrainingData.jaccardPairs(s, d)
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")),
              "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")),
              "id_b")
        .filter(col("split_a") =!= col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    },

    Q("q148_length_buckets",
      "Length-bucketed batch assembly — the variable-length loader's " +
        "answer to padding waste (bucket_by_sequence_length / fairseq " +
        "--max-tokens): per split, docs group into power-of-two length " +
        "buckets (floor 16) and fill fixed-capacity batches of " +
        "capacity = max(1, 4096 div bucket_max) docs, so every batch " +
        "pads to at most its bucket ceiling and costs <= 4096 padded " +
        "tokens (docs longer than the budget ride alone). The bucket " +
        "ceiling is EXACT integer math in both engines — 1 << " +
        "len(bin(n_tok - 1)) is the smallest power of two >= n_tok, no " +
        "fp log2 boundary flips — and batch numbering is a row_number " +
        "over (split, bucket) ordered by doc_id: deterministic, dense, " +
        "re-derivable. Scale shape: one projection pass, then the q135 " +
        "TWO-PHASE rank — ranks run inside (split, bucket, 8192-doc-id " +
        "range) sub-buckets whose counts prefix-sum to offsets, so no " +
        "window ever orders a whole (split, bucket) partition over raw " +
        "docs (a single popular bucket holds billions of rows at " +
        "100 TB; a direct row_number there is a one-task sort). The " +
        "range sub-bucket preserves doc_id order, so the two-phase " +
        "rank IS the direct rank, bit-for-bit.",
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (SELECT *, greatest(CAST(16 AS BIGINT),
        |         CAST(1 AS BIGINT) << length(bin(greatest(n_tok - 1, 1))))
        |         AS bucket_max FROM t),
        |c AS (SELECT *,
        |    greatest(CAST(1 AS BIGINT),
        |             CAST(floor(4096.0 / bucket_max) AS BIGINT)) AS capacity,
        |    doc_id // 8192 AS sub FROM b),
        |counts AS (SELECT split, bucket_max, sub,
        |             CAST(count(*) AS BIGINT) AS c FROM c GROUP BY 1, 2, 3),
        |offs AS (SELECT split, bucket_max, sub,
        |    coalesce(sum(c) OVER (PARTITION BY split, bucket_max
        |      ORDER BY sub ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS off
        |  FROM counts),
        |r AS (SELECT split, bucket_max, sub, capacity, doc_id, n_tok,
        |        row_number() OVER (PARTITION BY split, bucket_max, sub
        |                           ORDER BY doc_id) AS rn FROM c)
        |SELECT r.split, r.bucket_max,
        |  CAST((offs.off + r.rn - 1) // r.capacity AS BIGINT) AS batch_id,
        |  r.doc_id, r.n_tok
        |FROM r JOIN offs USING (split, bucket_max, sub)""".stripMargin) {
      (s, d) =>
      val h = substring(md5(col("text")), 1, 1)
      val base = docs(s, d).select(
          col("doc_id"),
          when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
            .as("split"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("bucket_max",
          // the DSL's shiftleft wants a literal shift — the SQL form
          // takes the per-row bit length
          greatest(lit(16L),
                   expr("shiftleft(CAST(1 AS BIGINT), " +
                        "length(bin(greatest(n_tok - 1, 1))))")))
        .withColumn("capacity",
          greatest(lit(1L),
                   floor(lit(4096.0) / col("bucket_max")).cast("long")))
        .withColumn("sub", expr("doc_id DIV 8192"))
      val counts = base.groupBy("split", "bucket_max", "sub")
        .agg(count(lit(1)).as("c"))
      val wOff = Window.partitionBy("split", "bucket_max").orderBy("sub")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = counts
        .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
        .select("split", "bucket_max", "sub", "off")
      val wRn = Window.partitionBy("split", "bucket_max", "sub")
        .orderBy("doc_id")
      base.withColumn("rn", row_number().over(wRn))
        .join(offs, Seq("split", "bucket_max", "sub"))
        .select(col("split"), col("bucket_max"),
                expr("(off + rn - 1) DIV capacity").as("batch_id"),
                col("doc_id"), col("n_tok"))
    },

    Q("q150_cluster_split",
      "Cluster-respecting train/val/test split — the APPLY side of " +
        "q147's leakage audit: the split key is the content hash of " +
        "each doc's q64 CLUSTER REPRESENTATIVE (its own text for " +
        "singletons), so every near-dup pair shares a component, hence " +
        "a representative, hence a split — leakage is impossible by " +
        "construction rather than detected after the fact (the " +
        "cluster-level holdout rule eval-aware pipelines adopt once " +
        "q147 finds pairs). Shares stay ~12/2/2 of 16: clusters hash " +
        "uniformly exactly as docs do. Scale shape: the resolved " +
        "cluster table is a DerivedCache artifact (built once per " +
        "corpus snapshot), and both attachment joins — label to doc, " +
        "representative hash to cluster — are shuffle equi-joins on " +
        "scalable id keys; nothing corpus-sized broadcasts.",
      """WITH RECURSIVE t AS (SELECT doc_id, lang, n_chars,
        |             list_distinct(string_split(text, ' ')) AS tok FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT DISTINCT a, a AS b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
        |alld AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        |         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |sp AS (SELECT doc_id AS cluster_id,
        |         CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
        |              WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
        |              ELSE 'test' END AS split FROM documents)
        |SELECT alld.doc_id, alld.cluster_id, sp.split
        |FROM alld JOIN sp USING (cluster_id)""".stripMargin) { (s, d) =>
      val h = substring(md5(col("text")), 1, 1)
      val rep = docs(s, d).select(
        col("doc_id").as("cluster_id"),
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
          .as("split"))
      val lab = dedupClusters(s, d)
        .select(col("doc_id"), col("cluster_id").as("cid"))
      docs(s, d).select(col("doc_id"))
        .join(lab, Seq("doc_id"), "left")
        .select(col("doc_id"),
                coalesce(col("cid"), col("doc_id")).as("cluster_id"))
        .join(rep, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("split"))
    },

    Q("q151_bpe_fertility",
      "Tokenizer FERTILITY per source — subword ids emitted per word " +
        "under the corpus-learned BPE (separators excluded): the " +
        "tokenizer-health metric multilingual/pretraining evals track, " +
        "because a source whose fertility runs high (script or domain " +
        "the merges never saw) pays proportionally more sequence " +
        "length per word of content and silently shrinks its effective " +
        "token budget. The DuckDB oracle RE-LEARNS the merges (the " +
        "q137 BpeOracle CTEs) and re-derives every word's ids, so the " +
        "metric is proven against an independent tokenizer " +
        "implementation end-to-end. 4dp via the q101 scaled-int " +
        "half-up convention. Scale shape: one occurrence pass, the " +
        "vocabulary-sized word->ids join on the shuffle path " +
        "(shuffle_hash, the no-broadcast-vocabulary rule), then a " +
        "sources-bounded aggregate.",
      s"""WITH RECURSIVE ${BpeOracle.ctes(Prep.BpeK)},
        |${BpeOracle.idCtes(Prep.BpeK)},
        |occ AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents),
        |j AS (SELECT source, len(ids) AS k
        |      FROM (SELECT source, w FROM occ WHERE w <> '') o
        |      JOIN wids USING (w))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(k) AS BIGINT) AS n_subids,
        |  floor(sum(k) * 10000.0 / count(*) + 0.5) / 10000.0 AS fertility
        |FROM j GROUP BY source""".stripMargin) { (s, d) =>
      val wids = Prep.wordTokenIds(s, d).hint("shuffle_hash")
      docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .join(wids, "w")
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_words"),
             sum(size(col("ids"))).cast("long").as("n_subids"),
             (floor(sum(size(col("ids"))) * lit(10000.0) / count(lit(1))
                    + lit(0.5)) / lit(10000.0)).as("fertility"))
    },

    Q("q152_pack_efficiency",
      "Packing-efficiency report per split — the shipping QA number a " +
        "pack run is judged by: bins produced, tokens packed, documents " +
        "placed, BIN CROSSINGS (pieces beyond each doc's first — every " +
        "crossing is a document a trainer sees truncated at a sequence " +
        "edge), and the fill share of the allotted bin space (tokens / " +
        "bins*budget, 4dp by integer DIV — the exact-fill packer should " +
        "hold this at ~1.0 with only the final partial bin open per " +
        "split; a regression here means the packer is leaking pad " +
        "slots). Derived from the SAME piece stream the packers " +
        "consume, so the report can never disagree with the artifact. " +
        "Scale shape: one (split, bin)-keyed aggregate over the piece " +
        "stream, output bounded by splits.",
      s"""WITH RECURSIVE $packedPiecesCtes,
        |agg AS (SELECT split,
        |    CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
        |    CAST(sum(len(piece)) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_pieces,
        |    CAST(sum(CASE WHEN doc_start THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_docs
        |  FROM pieces GROUP BY 1)
        |SELECT split, n_bins, n_tokens, n_docs,
        |  n_pieces - n_docs AS n_bin_crossings,
        |  (n_tokens * 10000 // (n_bins * ${Prep.PackBudget})) / 10000.0
        |    AS fill_share
        |FROM agg""".stripMargin) { (s, d) =>
      packedPieces(s, d, SplitBudget)
        .groupBy("split")
        .agg(countDistinct("bin").cast("long").as("n_bins"),
             sum(size(col("piece"))).cast("long").as("n_tokens"),
             count(lit(1)).cast("long").as("n_pieces"),
             sum(col("doc_start").cast("long")).cast("long").as("n_docs"))
        .select(col("split"), col("n_bins"), col("n_tokens"), col("n_docs"),
                (col("n_pieces") - col("n_docs")).as("n_bin_crossings"),
                (expr(s"n_tokens * 10000 DIV (n_bins * ${Prep.PackBudget})")
                   / lit(10000.0)).as("fill_share"))
    },

    Q("q156_dedup_yield",
      "Dedup YIELD report: the cluster-size histogram of the resolved " +
        "near-dup components plus what each size class costs — docs " +
        "dropped and tokens reclaimed. The number an operator reads " +
        "before shipping a dedup config: a corpus dominated by " +
        "2-clusters (mirrored pages) reclaims little; a heavy tail of " +
        "large clusters (template spam) is where the budget comes " +
        "back. Pure composition over the persisted cluster-label " +
        "artifact (q64's DerivedCache table — zero re-resolution): one " +
        "doc_id join attaches token counts, then two bounded " +
        "aggregates (clusters, then size classes). Output is at most " +
        "max-cluster-size rows. The DuckDB oracle re-derives the " +
        "components from scratch via the recursive-CTE transitive " +
        "closure, so the histogram is proven against an independent " +
        "clustering end-to-end.",
      """WITH RECURSIVE t AS (SELECT doc_id, lang, n_chars,
        |             list_distinct(string_split(text, ' ')) AS tok FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT DISTINCT a, a AS b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |lab AS (SELECT a AS doc_id, min(b) AS cluster_id,
        |          CAST(a = min(b) AS BIGINT) AS keep
        |        FROM reach GROUP BY a),
        |tk AS (SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |       FROM documents),
        |per AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz,
        |          CAST(sum(CASE WHEN keep = 0 THEN nt ELSE 0 END)
        |            AS BIGINT) AS rem_t
        |        FROM lab JOIN tk USING (doc_id) GROUP BY 1)
        |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(sum(sz - 1) AS BIGINT) AS n_removed,
        |  CAST(sum(rem_t) AS BIGINT) AS removed_tokens
        |FROM per GROUP BY sz""".stripMargin) { (s, d) =>
      val toks = docs(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      val per = dedupClusters(s, d)
        .join(toks, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).cast("long").as("sz"),
             sum(when(col("keep") === 0L, col("nt")).otherwise(0L))
               .cast("long").as("rem_t"))
      per.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).cast("long").as("n_clusters"),
             sum("sz").cast("long").as("n_docs"),
             sum(col("sz") - 1).cast("long").as("n_removed"),
             sum("rem_t").cast("long").as("removed_tokens"))
    },

    Q("q160_source_overlap",
      "Cross-SOURCE duplication matrix — the mixture-design number " +
        "q156's size histogram cannot give: for every ordered source " +
        "pair (A, B), how many of A's docs sit in a near-dup cluster " +
        "that also contains a B doc, over how many clusters, and what " +
        "share of A that is. Two sources with high mutual overlap are " +
        "substantially the same corpus — granting both full mixture " +
        "weight double-counts their content (the CommonCrawl-vs-C4 " +
        "trap), and the asymmetry says which one is the subset. Pure " +
        "composition over the persisted cluster-label artifact (q64's " +
        "DerivedCache table — zero re-resolution): one doc_id join " +
        "attaches sources, one aggregate to the (cluster, source) " +
        "grain, then a self-join on cluster_id whose inputs are " +
        "cluster-membership-bounded and whose output is at most " +
        "sources^2 rows. Share at 4dp via the q101 integer-DIV " +
        "convention. The DuckDB oracle re-derives the components from " +
        "scratch via the recursive-CTE transitive closure, proving the " +
        "matrix against an independent clustering end-to-end.",
      """WITH RECURSIVE t AS (SELECT doc_id, lang, n_chars,
        |             list_distinct(string_split(text, ' ')) AS tok FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 20
        |  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT DISTINCT a, a AS b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
        |ds AS (SELECT doc_id, source FROM documents),
        |cs AS (SELECT cluster_id, source, CAST(count(*) AS BIGINT) AS n
        |       FROM lab JOIN ds USING (doc_id) GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |        FROM ds GROUP BY 1),
        |ov AS (SELECT a.source AS source_a, b.source AS source_b,
        |         CAST(sum(a.n) AS BIGINT) AS n_docs,
        |         CAST(count(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters
        |       FROM cs a JOIN cs b
        |         ON a.cluster_id = b.cluster_id AND a.source <> b.source
        |       GROUP BY 1, 2)
        |SELECT source_a, source_b, n_docs, n_clusters,
        |  (n_docs * 10000 // n_src) / 10000.0 AS overlap_share
        |FROM ov JOIN tot ON tot.source = ov.source_a""".stripMargin) { (s, d) =>
      val ds = docs(s, d).select(col("doc_id"), col("source"))
      val cs = dedupClusters(s, d)
        .join(ds, "doc_id")
        .groupBy("cluster_id", "source")
        .agg(count(lit(1)).cast("long").as("n"))
      val tot = ds.groupBy("source").agg(count(lit(1)).cast("long").as("n_src"))
      val ov = cs
        .join(cs.select(col("cluster_id"), col("source").as("source_b")),
              "cluster_id")
        .filter(col("source") =!= col("source_b"))
        .groupBy(col("source").as("source_a"), col("source_b"))
        .agg(sum("n").cast("long").as("n_docs"),
             countDistinct("cluster_id").cast("long").as("n_clusters"))
      ov.join(tot.withColumnRenamed("source", "source_a"), "source_a")
        .select(col("source_a"), col("source_b"), col("n_docs"),
                col("n_clusters"),
                (expr("n_docs * 10000 DIV n_src") / lit(10000.0))
                  .as("overlap_share"))
    }
  )
}
