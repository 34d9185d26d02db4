package graft.operators

import graft.{Memo, Q, Tables}
import graft.functions.TextHashes.{hamming64, minhash_sig, simhash64, srp_sig, word_shingles}
import graft.functions.VectorMath.cosine_sim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data pipeline operators over `documents` /
  * `embeddings`: deduplication (exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine), similarity search (brute-force + LSH-bucketed
  * ANN), and text analysis (language-ID, quality, tokens, fingerprints).
  * The 100 TB-scale extension surface (BASELINE.json north star).
  *
  * Scale notes: every near-dup operator is blocked/bucketed (LSH bands,
  * SimHash chunks, lang+length blocks) so candidate generation is a
  * hash-shuffle join on small keys — never an unblocked O(n²)
  * cross-product. Verification (exact Jaccard / cosine) runs only on
  * bucket-collision pairs.
  */
object TrainingData {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def embs(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Whitespace tokens. */
  private def tokens(c: Column): Column = split(c, " ")

  /** Decouple CPU-bound per-row work from input-split count. A small
    * corpus arrives as fewer parquet splits than cores (locally: one
    * file, one task), which serializes expression-heavy projections —
    * per-token hashing, n-gram fingerprinting — onto a single core while
    * the rest idle. When the scan plans fewer tasks than
    * defaultParallelism, spread rows round-robin first; at production
    * scale the scan already has more splits than cores and this adds
    * NOTHING (no shuffle). The explicit numPartitions pins AQE so it
    * cannot coalesce the small exchange back to one task.
    */
  /** Scan-partition probe cache (r20): `df.rdd.getNumPartitions` plans
    * the whole query AND builds its RDD DAG — measured ~130 ms per call
    * on the bench host — and spread() runs on every invocation of ~60
    * registry queries, several frames each. The partition count of a
    * given logical plan under a given session is stable, so memoize it
    * on the CANONICALIZED analyzed plan (expression-id-normalized, the
    * same equality the exchange-reuse machinery keys on). Planning
    * metadata only — never rows — and session-scoped like the BPE/vocab
    * caches (lifecycle: [[graft.Memo]]).
    */
  private val spreadCache =
    new Memo[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int]()

  private[operators] def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch planning sizes stream tasks
    val target = df.sparkSession.sparkContext.defaultParallelism
    val n = spreadCache(df.sparkSession, "spread",
                        df.queryExecution.analyzed.canonicalized) {
      df.rdd.getNumPartitions
    }
    if (n < target) df.repartition(target) else df
  }

  /** Cosine similarity in double precision, sequential fold (deterministic
    * and cross-engine reproducible, unlike float/parallel reductions).
    * Codegen'd expression over the raw float arrays — the HOF spelling
    * (`aggregate(zip_with(...))`) is CodegenFallback and split whole-stage
    * codegen at every ANN scan stage; fold order is identical so results
    * (and the DuckDB oracle hashes) are unchanged.
    */
  private def cosine(a: Column, b: Column): Column = cosine_sim(a, b)

  private def vecd(c: Column): Column = transform(c, _.cast("double"))

  /** q159's audited eval-pool size: the held-out docs enter the
    * leakage audit as a fixed-size deterministic prefix (lowest
    * doc_ids), so the broadcast side is constant at any corpus scale.
    * Raise for a bigger audit; the cost is one more broadcast row per
    * unit, never a corpus share.
    */
  val EvalPoolCap = 4096

  // Stopword list used by quality scoring + language-ID (public, standard).
  private[operators] val enStop =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** q38's pair generation, reusable (q64 builds dedup clusters on it).
    *
    * Candidates come from a LOSSLESS prefix filter (the PPJoin-family
    * bound): sort each doc's distinct tokens by global document frequency
    * (rarest first, ties by hash — one canonical order for the whole
    * corpus); any pair with J >= 0.9 must share at least one token within
    * the first floor(|tok|/10)+1 of BOTH docs. Joining on those prefix
    * tokens makes block size track token rarity, not corpus density:
    * unlike fixed-width length buckets (whose occupancy grows ~linearly
    * with corpus size, so candidate pairs grow ~quadratically), prefix
    * blocks stay small because the prefix is, by construction, each doc's
    * RAREST tokens. The lang + |Δn_chars|<=20 predicate from the spec is
    * applied on candidates; exact Jaccard verifies. Tokens are compared as
    * 64-bit hashes, not strings: set sizes and overlap are collision-free
    * in practice (xxhash64 over ~40-token sets), so the Jaccard values are
    * identical to the string-set oracle at a fraction of the per-pair cost.
    */
  /** The verified near-dup pair set is a build-once artifact per corpus
    * snapshot — q38 reports it, q64 clusters it, q95 cross-checks it
    * against splits; a production pipeline computes it once per
    * compaction, not once per consumer. Persisted and memoized per
    * (session, dir) (lifecycle: [[graft.Memo]]); [[jaccardPairsPlan]] is
    * the uncached plan for audits.
    */
  private val pairsCache = new Memo[Unit, DataFrame](_.unpersist())
  def jaccardPairs(s: SparkSession, d: String): DataFrame =
    pairsCache(s, d)(jaccardPairsPlan(s, d).persist())

  def jaccardPairsPlan(s: SparkSession, d: String): DataFrame = {
    val base = spread(docs(s, d)).select(
      col("doc_id"), col("lang"), col("n_chars"),
      array_distinct(transform(tokens(col("text")), w => xxhash64(w))).as("tok"))
    val tokDf = base.select(explode(col("tok")).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("df"))
    // rebuild each doc's (df, tk)-sorted prefix; both shuffles are on
    // scalable keys (token, then doc_id)
    val pref = base
      .select(col("doc_id"), col("lang"), col("n_chars"),
              size(col("tok")).as("ntok"), explode(col("tok")).as("tk"))
      .join(tokDf, "tk")
      .groupBy("doc_id", "lang", "n_chars", "ntok")
      .agg(array_sort(collect_list(struct(col("df"), col("tk")))).as("sorted"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
              explode(slice(col("sorted"), lit(1),
                            (col("ntok") / 10).cast("int") + 1)).as("p"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("p.tk").as("ptk"))
    val cand = pref.as("a")
      .join(pref.as("b"), Seq("lang", "ptk"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
              abs(col("a.n_chars") - col("b.n_chars")) <= 20)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val inter = size(array_intersect(col("tok_a"), col("tok_b"))).cast("double")
    val j = round(
      inter / (size(col("tok_a")) + size(col("tok_b")) - inter), 4)
    cand
      .join(base.select(col("doc_id").as("id_a"), col("tok").as("tok_a")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("tok").as("tok_b")), "id_b")
      .select(col("id_a"), col("id_b"), j.as("jaccard"))
      .filter(col("jaccard") >= 0.9)
  }

  /** Per-doc token-hash sets — (doc_id, lang, n_chars, tok) — shared
    * by the full pair build and the appended-slice delta.
    */
  private[operators] def dedupBaseOf(docFrame: DataFrame): DataFrame =
    docFrame.select(
      col("doc_id"), col("lang"), col("n_chars"),
      array_distinct(transform(tokens(col("text")), w => xxhash64(w)))
        .as("tok"))

  /** Hash-order prefix postings of a token-set frame: each doc's first
    * floor(|tok|/10)+1 tokens under PLAIN HASH ORDER. The PPJoin prefix
    * bound is lossless under ANY total token order common to both docs
    * — rarity order (the full build) is only a block-size heuristic —
    * and hash order is computable per doc with NO global df statistics,
    * which is exactly what makes a persisted prefix index append-stable:
    * a doc's postings never change when the corpus grows.
    */
  private[operators] def prefixPostingsOf(base: DataFrame): DataFrame =
    base.select(
      col("doc_id"), col("lang"), col("n_chars"),
      explode(slice(array_sort(col("tok")), lit(1),
                    (size(col("tok")) / 10).cast("int") + 1)).as("ptk"))

  /** The per-doc token-set index as an APPEND-INCREMENTAL artifact:
    * rows are a pure function of each doc, so the refresh derives the
    * appended files and unions — no old bytes re-read. This is the
    * verification side of the incremental near-dup path.
    */
  def dedupTokenIndex(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "dedup_tokens_v1")(
      dedupBaseOf(spread(docs(s, d))))(
      files => dedupBaseOf(spread(s.read.parquet(files: _*))))(
      (old, dl) => old.unionByName(dl))

  /** The hash-order prefix postings index, append-incremental like
    * [[dedupTokenIndex]] — the candidate-generation side of the
    * incremental near-dup path.
    */
  def dedupPrefixIndex(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "dedup_prefix_v1")(
      prefixPostingsOf(dedupBaseOf(spread(docs(s, d)))))(
      files => prefixPostingsOf(dedupBaseOf(spread(s.read.parquet(files: _*)))))(
      (old, dl) => old.unionByName(dl))

  /** [[jaccardPairsPlan]]'s pair set RESTRICTED to pairs touching the
    * appended slice — the edge delta behind the incremental cluster
    * merge. Candidates come from probing the persisted prefix index
    * with the slice's postings: one index scan pruned by a broadcast
    * semi over the slice's distinct (lang, ptk) keys — no corpus
    * re-tokenize, no corpus-side shuffle, no all-pairs. Verification is
    * exact Jaccard over the persisted token sets, so the edges are
    * IDENTICAL to what the df-ordered full build finds for these pairs
    * (the prefix bound is lossless under any common order; only the
    * candidate superset differs).
    */
  def jaccardPairsDelta(s: SparkSession, d: String,
                        newFiles: Seq[String]): DataFrame = {
    val newPost = prefixPostingsOf(
      dedupBaseOf(spread(s.read.parquet(newFiles: _*))))
    val allPost = dedupPrefixIndex(s, d) // already refreshed: includes the slice
    val allTok = dedupTokenIndex(s, d)
    // the slice's distinct prefix keys are nightly-append-bounded —
    // broadcasting them prunes the index scan to colliding blocks
    val keys = newPost.select("lang", "ptk").distinct()
    val blocks = allPost.join(broadcast(keys), Seq("lang", "ptk"))
    val cand = blocks.as("a")
      .join(newPost.as("b"), Seq("lang", "ptk"))
      .filter(col("a.doc_id") =!= col("b.doc_id") &&
              abs(col("a.n_chars") - col("b.n_chars")) <= 20)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()
    // token sets for both sides: scan + broadcast-semi prune (cand is
    // collision-bounded), then small-small joins
    val ids = cand.select(col("id_a").as("doc_id"))
      .unionByName(cand.select(col("id_b").as("doc_id"))).distinct()
    val toks = allTok.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("tok"))
    val inter = size(array_intersect(col("tok_a"), col("tok_b"))).cast("double")
    val j = round(
      inter / (size(col("tok_a")) + size(col("tok_b")) - inter), 4)
    cand
      .join(toks.select(col("doc_id").as("id_a"), col("tok").as("tok_a")), "id_a")
      .join(toks.select(col("doc_id").as("id_b"), col("tok").as("tok_b")), "id_b")
      .select(col("id_a"), col("id_b"), j.as("jaccard"))
      .filter(col("jaccard") >= 0.9)
      .select("id_a", "id_b")
  }

  /** SRP-LSH embedding near-dup: bucket on the `bits`-bit signed-random-
    * projection signature, exact cosine only on bucket collisions, keep
    * pairs at or above `thr`. `e` must carry (vec_id, v: array<float|
    * double>). Exposed for reuse and for RecallSpec's planted-duplicate
    * assertions (q39 is this on the embeddings table).
    */
  def cosineNearDupPairs(e: DataFrame, bits: Int, table: Int, thr: Double): DataFrame = {
    val bucketed = e.withColumn("bucket", srp_sig(col("v"), bits, table))
    bucketed.as("l")
      .join(bucketed.as("r"),
            col("l.bucket") === col("r.bucket") && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
              round(cosine(col("l.v"), col("r.v")), 4).as("cos"))
      .filter(col("cos") >= thr)
  }

  /** Corpus row count, memoized per (session, dir) ([[graft.Memo]]).
    * One metadata-cheap pass (parquet row-group counts; no data pages)
    * amortized across every adaptive operator in the session. This is a
    * PLAN-SHAPING statistic (band geometry below), not a value a query
    * consumes in-plan — the q55 anti-pattern of a driver-side count
    * feeding a literal does not apply: at production scale this number
    * comes from catalog/table metadata.
    */
  private val statsCache = new Memo[Unit, Long]()
  def corpusCount(s: SparkSession, d: String): Long =
    statsCache(s, d)(docs(s, d).count())

  /** Corpus vocabulary size (distinct whitespace tokens), memoized like
    * [[corpusCount]] — another plan-shaping statistic (it sizes q96's
    * exact-regime sketch); at production scale it comes from table
    * metadata / an NDV sketch, not a scan.
    */
  private val vocabCache = new Memo[Unit, Long]()
  def vocabSize(s: SparkSession, d: String): Long =
    vocabCache(s, d)(
      docs(s, d).select(explode(tokens(col("text"))).as("term"))
        .distinct().count())

  /** PQ geometry: 64-dim vectors split into 16 subspaces of 4 dims, 16
    * centroids per subspace (4-bit codes, 16 codes/vector = 8 bytes vs
    * 256 bytes of floats — 32x). At billion-vector scale the codebook
    * grows to 256 centroids/subspace and m tunes against the recall
    * target; the kernels take the geometry as parameters.
    */
  val PqM = 16
  val PqSub = 4
  val PqK = 16

  /** Build-once PQ index: (flattened per-subspace codebooks, encoded
    * corpus), memoized per (session, dir) like the IVF structure. The 8
    * per-subspace KMeans fits + the encode pass run on the FIRST call;
    * every later query batch reuses them (pqFits observes the skip).
    */
  private val pqCache =
    new Memo[Unit, (Array[Array[Double]], DataFrame)](_._2.unpersist())
  val pqFits = new java.util.concurrent.atomic.AtomicInteger(0)

  /** L2-normalized double vector: after normalization the L2 order equals
    * the cosine order (||a-b||² = 2 - 2·cos), so an L2-trained PQ serves
    * cosine retrieval — the standard normalize-then-quantize recipe. This
    * corpus ships unit-norm already (the transform is an exact no-op on
    * it), but the index must not silently optimize the wrong metric on a
    * corpus that doesn't.
    */
  private def normed(c: Column): Column = {
    val n = graft.functions.VectorMath.l2_norm(c)
    transform(vecd(c), x => x / n)
  }

  /** PQ codebook training-sample ceiling. The codebook fit is statistical
    * (PqK centroids per PqSub-dim subspace), so a bounded deterministic
    * sample fits it as well as the full corpus (the q132 teacher-sample
    * pattern) while making the COLD build corpus-size-independent: PqM
    * driver-side Lloyd fits over <=PqFitSample tiny points replace PqM
    * distributed KMeans runs whose per-iteration job scheduling dominated
    * the cold cost (driver-measured 67.7 s at sf0.1). Sample order is
    * xxhash64(vec_id) with a vec_id tie-break — content-free and
    * reproducible on any cluster/partitioning (TakeOrdered plan, no full
    * sort) — and the local fit is seeded kmeans++ with fixed-iteration
    * Lloyd, so refits on unchanged data are byte-stable (PqIndexSpec).
    * The corpus ENCODE pass stays distributed (pq_encode projection).
    */
  val PqFitSample = 16384
  val PqFitIters = 20

  /** Seeded kmeans++ init + fixed-iteration Lloyd over driver-resident
    * points. An emptied cluster keeps its previous center (deterministic,
    * no RNG draw mid-iteration); with n <= k every point is its own
    * center, extras stay at the seeded picks.
    */
  private def localKMeans(points: Array[Array[Double]], k: Int, iters: Int,
                          seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty,
      "localKMeans: empty point set — is the embeddings table empty?")
    require(k > 0 && iters > 0, s"localKMeans: need k > 0, iters > 0 (k=$k)")
    val n = points.length
    val dim = points(0).length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    val centers = Array.ofDim[Double](k, dim)
    centers(0) = points(rnd.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var i = 0
      while (i < n) {
        d2(i) = math.min(d2(i), dist2(points(i), centers(c - 1))); i += 1
      }
      val tot = d2.sum
      val pick =
        if (tot <= 0) rnd.nextInt(n)
        else {
          var r = rnd.nextDouble() * tot; var j = 0
          while (j < n - 1 && r > d2(j)) { r -= d2(j); j += 1 }
          j
        }
      centers(c) = points(pick).clone()
      c += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < k) {
          val dd = dist2(points(i), centers(j))
          if (dd < bd) { bd = dd; best = j }
          j += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Long](k)
      i = 0
      while (i < n) {
        val a = assign(i); cnt(a) += 1
        var t = 0
        while (t < dim) { sums(a)(t) += points(i)(t); t += 1 }
        i += 1
      }
      var j = 0
      while (j < k) {
        if (cnt(j) > 0) {
          var t = 0
          while (t < dim) { centers(j)(t) = sums(j)(t) / cnt(j); t += 1 }
        }
        j += 1
      }
      it += 1
    }
    centers
  }

  private def fitPq(s: SparkSession, d: String): (Array[Array[Double]], DataFrame) = {
    pqFits.incrementAndGet()
    val e = embs(s, d).select(col("vec_id"), vecd(col("embedding")).as("v"),
                              normed(col("embedding")).as("vn"))
    val sample = e
      .select(col("vn"), xxhash64(col("vec_id")).as("h"), col("vec_id"))
      .orderBy(col("h"), col("vec_id")).limit(PqFitSample)
      .select("vn").collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty,
      s"fitPq: embeddings table at $d is empty — cannot fit a PQ codebook")
    val cb = (0 until PqM).map { j =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * PqSub, (j + 1) * PqSub))
      val centers = localKMeans(pts, PqK, PqFitIters, 42L + j)
      val flat = new Array[Double](PqK * PqSub)
      centers.zipWithIndex.foreach { case (cvec, ci) =>
        System.arraycopy(cvec, 0, flat, ci * PqSub, PqSub)
      }
      flat
    }.toArray
    val coded = e.select(
      col("vec_id"), col("v"),
      graft.functions.Pq.pq_encode(col("vn"), cb, PqM, PqK).as("codes"))
    (cb, coded)
  }

  /** Serve the PQ index for (session, corpus): session cache first, then
    * the PERSISTED index if one is registered (a fresh session reads the
    * codebook sidecar + encoded corpus from parquet — zero KMeans fits),
    * and only then an ad-hoc in-session fit. Same precedence as
    * [[ivfIndex]].
    */
  def pqIndex(s: SparkSession, d: String): (Array[Array[Double]], DataFrame) =
    pqCache(s, d) {
      pqIndexLocations.get(d) match {
        case Some(dir) =>
          val (cb, coded) = loadPqIndex(s, dir)
          (cb, coded.persist())
        case None =>
          val (cb, coded) = fitPq(s, d)
          (cb, coded.persist())
      }
    }

  /** Where the persisted PQ index for a corpus dir lives (the catalog's
    * job in production, a JVM-wide registry here — see
    * [[ivfIndexLocations]]). Populated by [[buildPqIndex]], cleared by
    * [[invalidate]].
    */
  private val pqIndexLocations =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Persist the PQ index: encoded corpus (vec_id, v, codes) as parquet +
    * the `_pq_codebook` sidecar, landed by [[graft.Landing.swap]] so a
    * reader never observes codes whose codebook disagrees. Registers the
    * location so every session's [[pqIndex]] serves from it.
    */
  def buildPqIndex(s: SparkSession, d: String, indexDir: String): Unit = {
    graft.Landing.swap(s, indexDir) { staging =>
      val (cb, coded) = fitPq(s, d)
      coded.write.mode("overwrite").parquet(staging)
      Map(PqCodebook -> pqCodebookText(cb))
    }
    // in-memory entries for d now duplicate the persisted truth
    pqCache.invalidate(d)
    pqIndexLocations.put(d, indexDir)
  }

  /** Load a persisted PQ index: codebook from the sidecar (geometry
    * validated against the compiled-in kernel parameters), encoded corpus
    * as a plain parquet scan (schema: vec_id, v, codes).
    */
  def loadPqIndex(s: SparkSession, indexDir: String): (Array[Array[Double]], DataFrame) = {
    val lines = graft.Landing.required(s, indexDir, PqCodebook)
      .trim.linesIterator.toSeq
    val geo = lines.head.trim.split(" ").map(_.toInt)
    require(geo.sameElements(Array(PqM, PqK, PqSub)),
            s"persisted PQ geometry ${geo.mkString("x")} != compiled ${PqM}x${PqK}x$PqSub")
    val cb = lines.tail.map(_.trim.split(" ").map(java.lang.Double.parseDouble)).toArray
    require(cb.length == PqM && cb.forall(_.length == PqK * PqSub),
            "persisted PQ codebook shape mismatch")
    (cb, s.read.parquet(indexDir))
  }

  /** The codebook sidecar: geometry line "m k sub", then one
    * flattened-doubles line per subspace. Double.toString round-trips
    * exactly — loaded codebooks are bit-identical to the fitted ones, so
    * ADC scores cannot drift.
    */
  private val PqCodebook = "_pq_codebook"

  private def pqCodebookText(cb: Array[Array[Double]]): String =
    (s"$PqM $PqK $PqSub" +:
      cb.toSeq.map(_.map(java.lang.Double.toString).mkString(" ")))
      .mkString("\n")

  /** Compaction hook: drop every stale cached artifact for the corpus and
    * refit + re-persist the PQ index against the new snapshot (same
    * contract as [[refreshIvfIndex]]).
    */
  def refreshPqIndex(s: SparkSession, d: String, indexDir: String): Unit = {
    invalidate(d)
    buildPqIndex(s, d, indexDir)
  }

  /** Corpus-adaptive MinHash-LSH band geometry over a 96-hash signature:
    * (bands, rowsPerBand). Expected background (false-candidate) pairs are
    * ~ C(n,2) * bands * j0^rows for background similarity j0 (~0.1 on
    * shingled text); each +2 rows cuts that by ~j0^-2 = 100x, so stepping
    * rows with each ~10x corpus growth holds verify cost ~linear in n
    * instead of quadratic. The collision threshold (1/b)^(1/r) rises with
    * scale (0.45 -> 0.63 -> 0.73) — at billion-doc corpora only
    * high-similarity near-dups are worth candidate slots, which is also
    * what keeps block sizes bounded. RecallSpec pins the recall floor at
    * the small-corpus geometry.
    */
  def lshGeometry(nDocs: Long): (Int, Int) =
    if (nDocs <= 20000L) (24, 4)
    else if (nDocs <= 2000000L) (16, 6)
    else (12, 8)

  /** Build-once IVF index: (centroids, persisted cell assignment),
    * memoized per (session, corpus dir, k). The KMeans fit + corpus assignment pass run on
    * the FIRST call in a session; every later query batch reuses them —
    * the production shape, where the index amortizes across batches
    * instead of refitting per query (IvfIndexSpec asserts the skip).
    * Centroids to the driver are k x dims doubles — bounded.
    */
  private val ivfCache =
    new Memo[Int, (Seq[(Int, Array[Double])], DataFrame)](_._2.unpersist())

  /** Number of KMeans fits actually executed (test observability). */
  val ivfFits = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Evict everything this module caches for a corpus dir — the
    * compaction hook's TrainingData half (see [[Curation.invalidate]],
    * which chains here): after the corpus changes, the cached row count
    * is stale and the IVF cell assignments both describe the old corpus
    * AND pin executor memory. Drops the stats entry and unpersists +
    * removes every (d, k) IVF index; the next [[ivfIndex]] call refits
    * against the new corpus.
    */
  def invalidate(d: String): Unit = {
    // across ALL sessions that touched the corpus — compaction changes
    // the data, so every session's entry is stale
    statsCache.invalidate(d)
    vocabCache.invalidate(d)
    pairsCache.invalidate(d)
    ivfCache.invalidate(d)
    pqCache.invalidate(d)
    // a persisted IVF/PQ index of the old corpus must not be silently
    // served after the data changed — deregister; [[refreshIvfIndex]] /
    // [[refreshPqIndex]] re-register
    ivfIndexLocations.keys.filter(_._1 == d).foreach(ivfIndexLocations.remove)
    pqIndexLocations.remove(d)
  }

  /** Where the persisted IVF index for (corpus dir, k) lives. In
    * production this mapping is the catalog's job (the index is a
    * registered table); a JVM-wide registry keeps the local harness
    * self-contained. Populated by [[buildIvfIndex]], cleared by
    * [[invalidate]].
    */
  private val ivfIndexLocations =
    scala.collection.concurrent.TrieMap.empty[(String, Int), String]

  /** Fit the IVF structure for (corpus, k): KMeans centroids + the
    * corpus-wide cell assignment frame. The only KMeans entry point —
    * both the ad-hoc in-memory path and [[buildIvfIndex]] go through it.
    */
  private def fitIvf(s: SparkSession, d: String, k: Int): (Seq[(Int, Array[Double])], DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    ivfFits.incrementAndGet()
    val e = embs(s, d).select(col("vec_id"), vecd(col("embedding")).as("v"))
      .withColumn("features", array_to_vector(col("v")))
    val model = new KMeans().setK(k).setSeed(42L).setFeaturesCol("features")
      .fit(e)
    val centers = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
    val assigned = model.transform(e)
      .select(col("vec_id"), col("v"), col("prediction").as("cell"))
    (centers, assigned)
  }

  /** Serve the IVF index for (session, corpus, k): session cache first,
    * then the PERSISTED index if one is registered (a fresh session then
    * reads centroids from the sidecar and the assignment from parquet —
    * zero KMeans fits, the amortization a production index exists for),
    * and only then an ad-hoc in-session fit.
    */
  def ivfIndex(s: SparkSession, d: String, k: Int): (Seq[(Int, Array[Double])], DataFrame) =
    ivfCache(s, d, k) {
      ivfIndexLocations.get((d, k)) match {
        case Some(dir) =>
          val (centers, assigned) = loadIvfIndex(s, dir)
          (centers, assigned.persist())
        case None =>
          val (centers, assigned) = fitIvf(s, d, k)
          (centers, assigned.persist())
      }
    }

  /** Persist the IVF index for (corpus, k): cell assignment as parquet +
    * the `_ivf_centroids` sidecar, landed by [[graft.Landing.swap]] so a
    * reader never observes an assignment whose centroids disagree.
    * Registers the location so every session's [[ivfIndex]] serves from
    * it.
    */
  def buildIvfIndex(s: SparkSession, d: String, indexDir: String, k: Int = 16): Unit = {
    graft.Landing.swap(s, indexDir) { staging =>
      val (centers, assigned) = fitIvf(s, d, k)
      assigned.write.mode("overwrite").parquet(staging)
      Map(IvfCentroids -> ivfCentroidsText(centers))
    }
    // in-memory entries for (d, k) now duplicate the persisted truth;
    // drop them so every session converges on the index on next access
    ivfCache.invalidateWhere((dir, kk) => dir == d && kk == k)
    ivfIndexLocations.put((d, k), indexDir)
  }

  /** Load a persisted IVF index: centroids from the sidecar, assignment
    * as a plain parquet scan (schema: vec_id, v, cell).
    */
  def loadIvfIndex(s: SparkSession, indexDir: String): (Seq[(Int, Array[Double])], DataFrame) = {
    val centers = graft.Landing.required(s, indexDir, IvfCentroids)
      .trim.linesIterator.map { line =>
        val parts = line.trim.split(" ")
        (parts.head.toInt, parts.tail.map(java.lang.Double.parseDouble))
      }.toSeq
    (centers, s.read.parquet(indexDir))
  }

  /** The centroids sidecar: one "cell doubles..." line per centroid.
    * Double.toString round-trips exactly, so loaded centroids are
    * bit-identical to the fitted ones.
    */
  private val IvfCentroids = "_ivf_centroids"

  private def ivfCentroidsText(centers: Seq[(Int, Array[Double])]): String =
    centers.map { case (cell, v) =>
      cell.toString + " " + v.map(java.lang.Double.toString).mkString(" ")
    }.mkString("\n")

  /** Compaction hook: after the corpus changed, drop every stale cached
    * artifact and refit + re-persist the IVF index against the new
    * snapshot (same contract as [[refreshBandIndex]]).
    */
  def refreshIvfIndex(s: SparkSession, d: String, indexDir: String, k: Int = 16): Unit = {
    invalidate(d)
    buildIvfIndex(s, d, indexDir, k)
  }

  /** MinHash band projection for the streaming incremental dedup:
    * (doc_id, sh, band, bkey) from a (doc_id, text) frame, carrying the
    * shingle array through the band explode so verification needs no
    * second pass (single-pass streaming shape). Batch q35 keeps its
    * narrower spelling instead — there, re-joining the shingle table is
    * cheaper than duplicating each array across 24 band rows. Pure
    * codegen'd projections + explode, identical over batch and streams.
    */
  def minhashBands(docsDf: DataFrame, nBands: Int, rows: Int): DataFrame = {
    val base = docsDf
      .select(col("doc_id"), col("text"),
              word_shingles(tokens(col("text")), 3).as("sh"))
      .withColumn("sig", minhash_sig(col("sh"), 96))
    base.select(
      col("doc_id"), col("sh"),
      explode(transform(sequence(lit(0), lit(nBands - 1)), b =>
        struct(b.as("band"),
               aggregate(slice(col("sig"), b * rows + 1, lit(rows)), lit(0L),
                         (acc, x) => shiftleft(acc, 7).bitwiseXOR(x)).as("bkey"))))
        .as("bb"))
      .select(col("doc_id"), col("sh"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Materialize the corpus's LSH band index to a parquet table — built
    * ONCE per corpus snapshot (and re-built by compaction via
    * [[refreshBandIndex]]), then probed by every streaming micro-batch of
    * [[incrementalNearDup]]. Without it each trigger re-shingles and
    * re-signs the ENTIRE static corpus inside its own plan — a full-corpus
    * scan per micro-batch, which defeats incremental dedup. The band
    * geometry the index was built with travels alongside the data (an
    * underscore-prefixed sidecar parquet readers ignore) so probes always
    * sign incoming docs with the SAME geometry. At production scale this
    * is a catalog-registered table bucketed on (band, bkey); plain
    * parquet keeps the local harness self-contained.
    *
    * Landed by [[graft.Landing.swap]]: mode(overwrite) straight onto
    * indexDir would delete the old index before the new one is complete.
    * Object stores get a short old->missing->new window, so compaction
    * must not run [[refreshBandIndex]] while a stream probing indexDir is
    * active.
    */
  def buildBandIndex(s: SparkSession, d: String, indexDir: String): Unit = {
    val (nBands, rows) = lshGeometry(corpusCount(s, d))
    graft.Landing.swap(s, indexDir) { staging =>
      minhashBands(docs(s, d).select(col("doc_id"), col("text")), nBands, rows)
        .select(col("doc_id").as("matched_id"), col("sh").as("sh_c"),
                col("band"), col("bkey"))
        .write.mode("overwrite").parquet(staging)
      Map("_lsh_geometry" -> s"$nBands $rows")
    }
  }

  /** Persist the corpus's winnowing fingerprint index: (matched_id, fp)
    * rows with the df <= cap posting bound applied at BUILD time (a
    * ubiquitous template fingerprint would otherwise fan every probe out
    * to its whole posting list). Landed with a `_winnow_geometry`
    * sidecar ([[graft.Landing.swap]]), rebuilt by compaction.
    * [[incrementalOverlap]] probes it stream-static.
    */
  def buildFingerprintIndex(s: SparkSession, d: String, indexDir: String,
                            k: Int = 4, w: Int = 4, cap: Int = 50): Unit =
    graft.Landing.swap(s, indexDir) { staging =>
      val fps = winnowFingerprints(docs(s, d).select(col("doc_id"), col("text")), k, w)
      val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("fp")
      fps.join(rare, "fp")
        .select(col("doc_id").as("matched_id"), col("fp"))
        .write.mode("overwrite").parquet(staging)
      Map("_winnow_geometry" -> s"$k $w $cap")
    }

  /** BM25 scoring core shared by q98 (in-line corpus scan) and
    * [[bm25Search]] (persisted postings probe) — ONE expression spelling,
    * so the two paths rank bit-identically on the same corpus snapshot.
    * `matches` = (doc_id, term, tf DOUBLE, dl), `g` = 1-row (n DOUBLE,
    * avgdl DOUBLE). df re-derives from `matches` (posting-list length per
    * term — only the query terms' lists are ever counted). Per-term
    * contributions land in FIXED-ORDER conditional sums (adding 0.0 is
    * exact, so partition order cannot reorder the fp additions); the
    * ordering key is the ROUNDED score with a doc_id tie-break, and the
    * top-k is TakeOrderedAndProject — never a global sort.
    */
  private[operators] def bm25Rank(matches: DataFrame, g: DataFrame,
                                  terms: Seq[String], topK: Int): DataFrame = {
    val dfT = matches.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val w = matches.join(broadcast(dfT), "term")
      .crossJoin(broadcast(g))
      .select(col("doc_id"), col("term"),
              (log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
                     (col("df") + lit(0.5))) *
                 (col("tf") * lit(2.2)) /
                 (col("tf") + lit(1.2) *
                   (lit(1.0) - lit(0.75) +
                     lit(0.75) * col("dl") / col("avgdl")))).as("w"))
    val parts = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("w")).otherwise(lit(0.0))).as(s"w$i")
    }
    val score = terms.indices.map(i => col(s"w$i")).reduceLeft(_ + _)
    w.groupBy("doc_id")
      .agg(parts.head, (parts.tail :+ count(lit(1)).cast("long").as("n_terms")): _*)
      .select(col("doc_id"), round(score, 4).as("score"), col("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Persist the corpus's inverted index: (term, doc_id, tf, dl) postings
    * TERM-CLUSTERED (repartitioned on term, sorted within partitions) so
    * a query-term probe prunes parquet row groups on term min/max stats,
    * plus a `_postings_stats` sidecar carrying the exact corpus scalars
    * (doc count, summed doc length) BM25 length-normalization needs —
    * the persisted postings table q86/q98's docs promise at 100 TB,
    * where search must not re-tokenize the corpus per query. Landed by
    * [[graft.Landing.swap]]; at production scale this is a catalog table
    * bucketed on term, refreshed by compaction.
    */
  def buildPostingsIndex(s: SparkSession, d: String, indexDir: String): Unit =
    graft.Landing.swap(s, indexDir) { staging =>
      val base = docs(s, d).select(col("doc_id"), col("text"))
      spread(base)
        .select(col("doc_id"), size(tokens(col("text"))).as("dl"),
                explode(tokens(col("text"))).as("term"))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).cast("long").as("tf"), first("dl").as("dl"))
        .repartition(col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(staging)
      val stats = base
        .agg(count(lit(1)).cast("long").as("n"),
             sum(size(tokens(col("text")))).cast("long").as("sumdl"))
        .head()
      Map("_postings_stats" -> s"${stats.getLong(0)} ${stats.getLong(1)}")
    }

  private def postingsStats(s: SparkSession, indexDir: String): (Long, Long) = {
    val Array(n, sumdl) =
      graft.Landing.required(s, indexDir, "_postings_stats").trim.split(" ")
    (n.toLong, sumdl.toLong)
  }

  /** BM25 probe of the persisted postings index — the SERVING path of
    * q98: reads ONLY the index (the term IN predicate pushes down to the
    * postings scan; corpus scalars come from the sidecar, not a corpus
    * pass) and reproduces the in-line ranking bit-for-bit on the same
    * snapshot (PostingsSpec asserts row equality and that `documents`
    * never appears in the probe plan).
    */
  def bm25Search(s: SparkSession, indexDir: String, terms: Seq[String],
                 topK: Int = 20): DataFrame = {
    val (n, sumdl) = postingsStats(s, indexDir)
    // exact integers divided once in double — the identical IEEE op q98
    // spells in-plan as CAST(sum(dl) AS DOUBLE) / count(*)
    val g = s.range(1).select(lit(n.toDouble).as("n"),
                              lit(sumdl.toDouble / n.toDouble).as("avgdl"))
    val matches = s.read.parquet(indexDir)
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"),
              col("dl"))
    bm25Rank(matches, g, terms, topK)
  }

  /** Conjunctive keyword probe of the postings index — q86's serving
    * path: AND via the count-distinct-terms == arity rollup, touching
    * only the query terms' posting lists.
    */
  def searchKeywords(s: SparkSession, indexDir: String,
                     terms: Seq[String]): DataFrame =
    s.read.parquet(indexDir)
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("score"),
           count(lit(1)).cast("long").as("n_terms"))
      .filter(col("n_terms") === terms.size)

  private def fingerprintGeometry(s: SparkSession, indexDir: String): (Int, Int, Int) = {
    val Array(k, w, cap) =
      graft.Landing.required(s, indexDir, "_winnow_geometry").trim.split(" ")
    (k.toInt, w.toInt, cap.toInt)
  }

  /** Streaming PARTIAL-overlap probe: arriving docs are fingerprinted
    * with the index's own geometry and probe the persisted posting table
    * via a stream-static equi-join on fp — each doc touches only its own
    * fingerprints' postings, never the corpus. Catches a copied span
    * (>= k + w - 1 tokens) inside an otherwise-novel doc, which
    * whole-doc banding ([[incrementalNearDup]]) misses by design. Emits
    * one row per (doc_id, matched_id, fp) hit; sinks aggregate per
    * micro-batch (foreachBatch) where a shared-count threshold matters —
    * a streaming groupBy here would hold unbounded state, the same
    * rationale as incrementalNearDup's per-band emission.
    */
  def incrementalOverlap(streamDocs: DataFrame, s: SparkSession,
                         indexDir: String): DataFrame = {
    val (k, w, _) = fingerprintGeometry(s, indexDir)
    winnowFingerprints(streamDocs, k, w)
      .join(s.read.parquet(indexDir), "fp")
      .filter(col("doc_id") =!= col("matched_id"))
      .select(col("doc_id"), col("matched_id"), col("fp"))
  }

  /** Compaction hook: rebuild the persisted band index after the corpus
    * changed (new docs merged, deletes compacted). Geometry re-adapts to
    * the new corpus size.
    */
  def refreshBandIndex(s: SparkSession, d: String, indexDir: String): Unit = {
    // corpus changed — drop every cached per-corpus artifact (row count,
    // IVF indexes) before re-banding against the new snapshot
    invalidate(d)
    buildBandIndex(s, d, indexDir)
  }

  private def bandIndexGeometry(s: SparkSession, indexDir: String): (Int, Int) = {
    val Array(b, r) =
      graft.Landing.required(s, indexDir, "_lsh_geometry").trim.split(" ")
    (b.toInt, r.toInt)
  }

  /** Incremental near-dup: a STREAM of incoming docs checked against the
    * static corpus's LSH band index via a stream-static equi-join on
    * (band, bkey) — the arriving doc probes only its own buckets, never
    * the whole corpus. Exact Jaccard verifies candidates in-stream.
    * Returns (doc_id, matched_id, jaccard) for flagged near-duplicates.
    *
    * With `indexDir` set (the production shape), the static side is the
    * band table [[buildBandIndex]] persisted — each micro-batch plans a
    * SCAN OF THE INDEX, not of `documents`, and signs incoming docs with
    * the geometry recorded in the index. Without it (ad-hoc/dev), the
    * band projection is rebuilt from the corpus dir inside every
    * micro-batch plan.
    */
  def incrementalNearDup(streamDocs: DataFrame, s: SparkSession, d: String,
                         threshold: Double = 0.9,
                         indexDir: Option[String] = None): DataFrame = {
    val (corpus, nBands, rows) = indexDir match {
      case Some(dir) =>
        val (b, r) = bandIndexGeometry(s, dir)
        (s.read.parquet(dir), b, r)
      case None =>
        val (b, r) = lshGeometry(corpusCount(s, d))
        (minhashBands(docs(s, d).select(col("doc_id"), col("text")), b, r)
           .select(col("doc_id").as("matched_id"), col("sh").as("sh_c"),
                   col("band"), col("bkey")),
         b, r)
    }
    val incoming = minhashBands(streamDocs, nBands, rows)
    val inter = size(array_intersect(col("sh"), col("sh_c"))).cast("double")
    incoming.join(corpus, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("matched_id"))
      .select(col("doc_id"), col("matched_id"),
              round(inter / (size(col("sh")) + size(col("sh_c")) - inter), 4)
                .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // NOTE: a pair surfaces once per colliding band (bounded by the band
      // count). A streaming dropDuplicates here would hold unbounded
      // state; sinks dedupe per micro-batch (foreachBatch .distinct) where
      // exact-once pairs matter.
  }

  /** Embedding-space near-dup AT INGEST — the semantic gate
    * [[incrementalNearDup]] (token bands) and the frontier bloom (exact
    * re-crawls) both miss: a paraphrased or re-encoded arrival whose
    * token surface changed but whose embedding did not. A STREAM of
    * (vec_id, embedding) rows probes the PERSISTED IVF index
    * ([[buildIvfIndex]]) stream-static: each arrival scores the k
    * centroids from the index sidecar (a literal array in the plan — no
    * fit, no shuffle, no state), explodes to its `nProbe` nearest cells,
    * equi-joins the cell assignment table, and exact-cosine-verifies
    * only those cells' members. Returns (vec_id, matched_id, cos) for
    * over-threshold arrivals — route to quarantine/drop in the ingest
    * sink. Zero KMeans fits in the streaming session (the index is the
    * amortization; EmbedDedupStreamSpec pins the fit counter), and each
    * micro-batch scans ~nProbe/k of the coded corpus, never all of it.
    * A corpus vector lives in exactly one cell, so no pair ever
    * surfaces twice (unlike band collisions). Standard IVF recall
    * caveat: a match whose cell is outside the arrival's nProbe nearest
    * is missed — near-identical vectors share nearest cells except on
    * cell boundaries, which nProbe >= 2 covers (SemDeDup, Abbas et al.
    * 2023, makes the same cell-confinement trade for q118).
    */
  def embeddingNearDupStream(streamVecs: DataFrame, s: SparkSession,
                             ivfIndexDir: String, threshold: Double = 0.9,
                             nProbe: Int = 2): DataFrame = {
    val (centers, assigned) = loadIvfIndex(s, ivfIndexDir)
    val k = centers.length
    // centroids ride as a plan literal (k x dim doubles — kilobytes); the
    // per-arrival cell ranking is a bounded array_sort over k structs,
    // never a window (streams cannot window, and don't need to at k=16)
    val cvs = typedLit(centers.sortBy(_._1).map(_._2.toSeq))
    val cellStructs = transform(sequence(lit(0), lit(k - 1)), i =>
      struct(
        aggregate(zip_with(col("qv"), element_at(cvs, (i + 1).cast("int")),
                           (x, y) => (x - y) * (x - y)),
                  lit(0.0), (acc, x) => acc + x).as("cdist"),
        i.as("cell")))
    val probed = streamVecs
      .select(col("vec_id"), vecd(col("embedding")).as("qv"))
      .withColumn("cell",
        explode(transform(slice(array_sort(cellStructs), 1, nProbe),
                          c => c.getField("cell"))))
    probed
      .join(assigned.select(col("vec_id").as("matched_id"), col("v"),
                            col("cell")),
            Seq("cell"))
      .filter(col("vec_id") =!= col("matched_id"))
      .select(col("vec_id"), col("matched_id"),
              round(cosine(col("qv"), col("v")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Persist the composed IVF-PQ table: (vec_id, cell, codes, v) — the
    * IVF cell assignment joined with the PQ codes ONCE at build time, so
    * the streaming probe's hot scan reads only (vec_id, cell, codes) —
    * ~12 bytes/row after parquet column pruning, 1B vectors ≈ 12 GB
    * instead of the 256 GB float payload. The full vector column rides
    * in the same files for offline exact re-ranks (column-pruned away on
    * the probe path). Both sidecars land with the table
    * ([[graft.Landing.swap]]): `_ivf_centroids` (the IVF format) and
    * `_pq_codebook` (the PQ format), so the probe bands and scores with
    * exactly the artifacts the table was built from.
    */
  def buildIvfPqIndex(s: SparkSession, d: String, indexDir: String,
                      k: Int = 16): Unit =
    graft.Landing.swap(s, indexDir) { staging =>
      val (centers, assigned) = ivfIndex(s, d, k)
      val (cb, coded) = pqIndex(s, d)
      assigned.select(col("vec_id"), col("cell"), col("v"))
        .join(coded.select(col("vec_id"), col("codes")), "vec_id")
        .repartition(col("cell"))
        .write.mode("overwrite").parquet(staging)
      Map(IvfCentroids -> ivfCentroidsText(centers),
          PqCodebook -> pqCodebookText(cb))
    }

  /** Coded (memory-true) variant of [[embeddingNearDupStream]]: the
    * probe's static side is the IVF-PQ table's (vec_id, cell, codes)
    * projection — 32x smaller than the float payload — and candidates
    * score by ASYMMETRIC distance: one ADC table per arrival
    * (PqDistTable, codebook from the sidecar as a plan constant), m
    * lookups per cell member. On unit vectors adc ≈ ||q - x||² =
    * 2 - 2·cos, so the gate keeps adc <= 2(1 - threshold) + `adcSlack`
    * (slack absorbs quantization error; EmbedDedupStreamSpec proves the
    * exact path's flags are a subset of the coded flags at the default
    * slack — no false negatives vs exact). Returns the ADC-estimated
    * cosine — this is the coarse IN-STREAM gate; a sink wanting exact
    * scores re-ranks the (few) flagged candidates against the index's
    * vector column per micro-batch, never the corpus. Zero KMeans/PQ
    * fits in the streaming session, like the exact path.
    */
  def embeddingNearDupStreamCoded(streamVecs: DataFrame, s: SparkSession,
                                  ivfPqIndexDir: String,
                                  threshold: Double = 0.9,
                                  nProbe: Int = 2,
                                  adcSlack: Double = 0.15): DataFrame = {
    import graft.functions.Pq.{pq_adc, pq_dist_table}
    val (centers, _) = loadIvfIndex(s, ivfPqIndexDir)
    val (cb, _) = loadPqIndex(s, ivfPqIndexDir)
    val k = centers.length
    // Cell ranking happens in RAW vector space (qv) — fitIvf clusters raw
    // vectors and the persisted assignment lives in that space, so probing
    // with the normalized query could rank cells inconsistently with the
    // index's own assignment on a non-unit-norm corpus and silently lose
    // recall. Only the PQ distance table takes the normalized form (the
    // adc ≈ 2 - 2·cos identity needs unit vectors).
    val cvs = typedLit(centers.sortBy(_._1).map(_._2.toSeq))
    val cellStructs = transform(sequence(lit(0), lit(k - 1)), i =>
      struct(
        aggregate(zip_with(col("qv"), element_at(cvs, (i + 1).cast("int")),
                           (x, y) => (x - y) * (x - y)),
                  lit(0.0), (acc, x) => acc + x).as("cdist"),
        i.as("cell")))
    val probed = streamVecs
      .select(col("vec_id"), vecd(col("embedding")).as("qv"),
              normed(col("embedding")).as("qn"))
      .withColumn("dtab", pq_dist_table(col("qn"), cb, PqM, PqK))
      .withColumn("cell",
        explode(transform(slice(array_sort(cellStructs), 1, nProbe),
                          c => c.getField("cell"))))
    val codes = s.read.parquet(ivfPqIndexDir)
      .select(col("vec_id").as("matched_id"), col("cell"), col("codes"))
    probed
      .join(codes, Seq("cell"))
      .filter(col("vec_id") =!= col("matched_id"))
      .select(col("vec_id"), col("matched_id"),
              pq_adc(col("codes"), col("dtab"), PqK).as("adc"))
      .filter(col("adc") <= lit(2.0 * (1.0 - threshold) + adcSlack))
      .select(col("vec_id"), col("matched_id"),
              round(lit(1.0) - col("adc") / 2.0, 4).as("cos_est"))
  }

  /** Winnowing fingerprints (Schleimer et al. SIGMOD'03) of `(doc_id,
    * text)` rows: hash every k-shingle (16-hex-char md5 prefix —
    * collision-free in practice, lexicographically ordered the same in
    * every engine), then keep the minimum hash of each w-wide window.
    * Guarantee: two docs sharing a token run of length >= k + w - 1
    * share at least one fingerprint, because the run contains a full
    * window of identical shingle hashes whose minimum both sides select.
    * Output: (doc_id, fp), distinct per doc. Scan-parallel — one
    * projection + explode, no shuffle.
    */
  def winnowFingerprints(docFrame0: DataFrame, k: Int, w: Int): DataFrame = {
    val docFrame = spread(docFrame0)
    val tok = tokens(col("text"))
    val hs = when(size(tok) >= k,
      transform(sequence(lit(1), size(tok) - (k - 1)),
                i => substring(md5(concat_ws(" ", slice(tok, i, lit(k)))), 1, 16)))
      .otherwise(array())
    docFrame
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"),
              explode(when(size(col("hs")) >= w,
                array_distinct(transform(
                  sequence(lit(1), size(col("hs")) - (w - 1)),
                  i => array_min(slice(col("hs"), i, lit(w))))))
                .otherwise(array())).as("fp"))
  }

  /** q80/q90's shared stage: distinct (doc_id, split, ngram) with the q59
    * deterministic split labels. The n-gram key is near-unique by
    * construction (n tokens of context), so downstream shuffles on it
    * stay tiny-blocked at any corpus size.
    *
    * r20: the gram IDENTITY is the O(n) rolling 64-bit hash
    * (TextHashes.rollingGramHashes — one pass instead of a per-position
    * O(n_gram) slice+concat), so the ~60-byte gram string never
    * materializes and every downstream distinct/join/aggregate runs on
    * fixed-width 8-byte longs — guide §2.3 "shuffle keys and metadata
    * instead of payloads". Collision-free in practice (the q38
    * token-hash convention), and verified collision-free on the
    * deterministic driver corpora by the oracle gate, so counts are
    * unchanged.
    */
  private def contaminationGrams(s: SparkSession, d: String, n: Int = 8): DataFrame = {
    val tok = tokens(col("text"))
    val split8 = substring(md5(col("text")), 1, 1)
    val splitCol = when(split8 <= "b", "train")
      .when(split8 <= "d", "val").otherwise("test")
    spread(docs(s, d))
      .select(col("doc_id"), splitCol.as("split"),
              explode(graft.functions.TextHashes.rolling_gram_hash(tok, n))
                .as("ngram"))
      .distinct()
  }

  /** One oracle for q80 AND q90: the Bloom prune is output-invariant (the
    * exact join after it removes every false positive), so both spellings
    * must hash-match the same SQL.
    */
  private val contaminationOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok,
      |    CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
      |         WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, split, unnest(list_transform(
      |    generate_series(1, greatest(len(tok) - 7, 0)),
      |    i -> array_to_string(tok[i:i+7], ' '))) AS ngram
      |  FROM t),
      |tr AS (SELECT DISTINCT ngram FROM g WHERE split = 'train'),
      |hits AS (
      |  SELECT g.doc_id, count(*) AS n_contaminated
      |  FROM g JOIN tr USING (ngram) WHERE g.split = 'test' GROUP BY 1),
      |tot AS (SELECT doc_id, count(*) AS n_ngrams FROM g
      |        WHERE split = 'test' GROUP BY 1)
      |SELECT doc_id, n_ngrams, COALESCE(n_contaminated, 0) AS n_contaminated,
      |  round(CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_ngrams, 4)
      |    AS contamination
      |FROM tot LEFT JOIN hits USING (doc_id)""".stripMargin

  /** q80/q90's shared rollup: per-test-doc totals + contaminated counts. */
  private def contaminationReport(testG: DataFrame, hits: DataFrame): DataFrame =
    testG.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
              coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
              round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
                      col("n_ngrams"), 4).as("contamination"))

  val all: Seq[Q] = Seq(

    // ---- dedup ---------------------------------------------------------

    Q("q30_dedup_exact",
      "Exact dedup: hash-groupBy on content digest; keeps the smallest " +
        "doc_id per group. One shuffle on the digest at any scale; md5 is " +
        "identical across engines so the oracle hash-matches.",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
      docs(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    },

    Q.noOracle("q35_dedup_minhash_lsh",
      "Near-dup detection, MinHash+LSH: 3-word shingles -> 96-hash MinHash " +
        "signature (custom one-pass Catalyst expression) -> corpus-adaptive " +
        "banding (see lshGeometry: 24x4 small, 16x6/12x8 as the corpus " +
        "grows, holding expected block size ~constant) -> bucket self-join " +
        "on (band, band_key) -> exact shingle-set Jaccard on candidates " +
        "only. Candidate generation is a hash join on band keys — no " +
        "O(n^2) cross-product at scale.") { (s, d) =>
      val (nBands, rows) = lshGeometry(corpusCount(s, d))
      val base = docs(s, d)
        .select(col("doc_id"),
                word_shingles(tokens(col("text")), 3).as("sh"))
        .withColumn("sig", minhash_sig(col("sh"), 96))
      val bands = base.select(
        col("doc_id"),
        explode(transform(sequence(lit(0), lit(nBands - 1)), b =>
          struct(b.as("band"),
                 aggregate(slice(col("sig"), b * rows + 1, lit(rows)), lit(0L),
                           (acc, x) => shiftleft(acc, 7).bitwiseXOR(x)).as("bkey"))))
          .as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      // r21 (guide §2.4): both band sides are the SAME subtree; forcing
      // the shuffle join (the planner broadcast one side — a 120k-row
      // collect, and a corpus-sized broadcast at scale) makes the two
      // (band, bkey) exchanges canonicalize equal, so the shingle +
      // 96-hash signature pipeline runs ONCE and the other side reads a
      // ReusedExchange — the hashNearDup device from the multimodal
      // banding.
      val pairs = bands.as("l").hint("shuffle_hash")
        .join(bands.as("r").hint("shuffle_hash"),
              col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
                col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
        .distinct()
      // |A∪B| = |A|+|B|−|A∩B| for distinct arrays: one intersection pass
      // instead of also materializing the union array
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      pairs
        .join(base.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(base.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"),
                round(inter / (size(col("sh_a")) + size(col("sh_b")) - inter), 4)
                  .as("jaccard"))
        .filter(col("jaccard") >= 0.2)
    },

    Q.noOracle("q36_simhash_fingerprint",
      "SimHash 64-bit document fingerprint (custom Catalyst expression: " +
        "per-bit token voting, one pass) + its 4x16-bit chunks for banded " +
        "near-dup joins.") { (s, d) =>
      docs(s, d)
        .withColumn("simhash", simhash64(tokens(col("text"))))
        .select(col("doc_id"), col("simhash"),
                conv(col("simhash"), 10, 16).as("simhash_hex"))
    },

    Q.noOracle("q37_simhash_neardup",
      "Near-dup pairs via SimHash: pigeonhole banding on 4x16-bit chunks, " +
        "then exact Hamming verify at <=3 (the standard 64-bit near-dup " +
        "radius). EXACT by construction: any pair within Hamming<=3 " +
        "differs in at most 3 of the 4 chunks, so it shares >=1 chunk " +
        "verbatim and is guaranteed to collide in that band — the operator " +
        "returns ALL qualifying pairs, not a sample (RecallSpec " +
        "proves it against the all-pairs scan). Bucketed self-join, no " +
        "cross-product.") { (s, d) =>
      val fp = docs(s, d).withColumn("simhash", simhash64(tokens(col("text"))))
      val chunks = fp.select(
        col("doc_id"), col("simhash"),
        explode(transform(sequence(lit(0), lit(3)), i =>
          struct(i.as("chunk"),
                 // Scala shiftright() only takes an Int literal shift; the
                 // SQL function form accepts a column expression
                 call_function("shiftright", col("simhash"), i * 16)
                   .bitwiseAND(lit(0xffffL)).as("ckey"))))
          .as("cc"))
        .select(col("doc_id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.ckey").as("ckey"))
      chunks.as("l")
        .join(chunks.as("r"),
              col("l.chunk") === col("r.chunk") && col("l.ckey") === col("r.ckey") &&
                col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
                hamming64(col("l.simhash"), col("r.simhash")).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    },

    Q("q38_ngram_jaccard",
      "Near-dup by token-set Jaccard >= 0.9: lossless rare-token prefix " +
        "filter for candidates (see jaccardPairs), exact set similarity " +
        "verify. Oracle-identical to the unblocked all-pairs spelling.",
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tok, b.tok))), 4) AS jaccard
        |FROM (SELECT doc_id, lang, n_chars, list_distinct(string_split(text, ' ')) AS tok FROM documents) a
        |JOIN (SELECT doc_id, lang, n_chars, list_distinct(string_split(text, ' ')) AS tok FROM documents) b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  AND abs(a.n_chars - b.n_chars) <= 20
        |WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9""".stripMargin) {
      (s, d) => jaccardPairs(s, d)
    },

    Q.noOracle("q39_dedup_cosine",
      "Embedding-cosine near-dup: SRP-LSH bucketing (sign of projections " +
        "onto hash-derived +-1 hyperplanes), exact cosine verify within " +
        "buckets, pairs above threshold. Recall guarantee: vectors whose " +
        "projections all share signs (in particular exact duplicates and " +
        "scaled copies) ALWAYS share a bucket — RecallSpec plants " +
        "duplicates and asserts they are found.") { (s, d) =>
      // uniform random embeddings peak near |cos|~0.125; 0.15 keeps the
      // operator observable on the synthetic corpus (raise for real data)
      cosineNearDupPairs(
        embs(s, d).select(col("vec_id"), col("embedding").as("v")), 12, 0, 0.15)
    },

    // ---- similarity search --------------------------------------------

    Q("q40_ann_brute",
      "ANN baseline: brute-force cosine top-5 per query vector (query set " +
        "broadcast; scan side stays partitioned — scales as one pass over " +
        "the corpus per batch of queries).",
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
        |     c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |     s AS (SELECT qid, vec_id,
        |             list_dot_product(qv, v) /
        |               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |           FROM q CROSS JOIN c WHERE qid <> vec_id)
        |SELECT qid, vec_id, round(cos, 4) AS cos, CAST(rk AS BIGINT) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM s)
        |WHERE rk <= 5""".stripMargin) { (s, d) =>
      val c = embs(s, d).select(col("vec_id"), col("embedding").as("v"))
      val q = c.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("v").as("qv"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      c.join(broadcast(q), col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"), cosine(col("qv"), col("v")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"),
                col("rk").cast("long").as("rk"))
    },

    Q("q126_contrastive_mining",
      "Contrastive-pair mining — the training-data op behind retrieval/ " +
        "embedding fine-tunes (DPR/Contriever recipes): per query " +
        "vector, the top-2 SAME-label neighbors (positives) and the " +
        "top-5 DIFFERENT-label near-neighbors (HARD negatives — similar " +
        "enough to confuse the model, which is exactly what makes them " +
        "worth training on). Scale shape mirrors q40: the query batch " +
        "broadcasts against the partitioned corpus scan, per-qid ranks " +
        "plan as map-side WindowGroupLimits, output is bounded at 7 " +
        "rows per query.",
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel,
        |             embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
        |     c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |     s AS (SELECT qid, vec_id, qlabel, label,
        |             list_dot_product(qv, v) /
        |               (sqrt(list_dot_product(qv, qv)) *
        |                sqrt(list_dot_product(v, v))) AS cos
        |           FROM q CROSS JOIN c WHERE qid <> vec_id),
        |     pos AS (SELECT qid, vec_id, cos, 'pos' AS role,
        |               row_number() OVER (PARTITION BY qid
        |                 ORDER BY cos DESC, vec_id) AS rk
        |             FROM s WHERE qlabel = label),
        |     neg AS (SELECT qid, vec_id, cos, 'neg' AS role,
        |               row_number() OVER (PARTITION BY qid
        |                 ORDER BY cos DESC, vec_id) AS rk
        |             FROM s WHERE qlabel <> label)
        |SELECT qid, vec_id, round(cos, 4) AS cos, role, CAST(rk AS BIGINT) AS rk
        |FROM (SELECT * FROM pos WHERE rk <= 2
        |      UNION ALL SELECT * FROM neg WHERE rk <= 5)""".stripMargin) { (s, d) =>
      val c = embs(s, d).select(col("vec_id"), col("label"), col("embedding").as("v"))
      val q = c.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
                col("v").as("qv"))
      val scored = c.join(broadcast(q), col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"), col("qlabel"), col("label"),
                cosine(col("qv"), col("v")).as("cos"))
      // both roles from ONE corpus pass: ranking pos among same-label
      // and neg among different-label is a single row_number over
      // (qid, same) — the union-of-two-filtered-windows spelling scans
      // the corpus (and rebuilds the query broadcast) once per branch.
      // rk <= 5 stays a standalone conjunct so WindowGroupLimit still
      // caps every group map-side at the larger k. NULL labels are
      // excluded up front: the oracle's qlabel = / <> label admits a
      // row to NEITHER role when either side is NULL, while the fused
      // spelling's `!same || rk <= 2` would three-value a NULL `same`
      // into a 'neg' emission — they form their own window partition,
      // so dropping them cannot move a non-null row's rank.
      val w = Window.partitionBy("qid", "same")
        .orderBy(col("cos").desc, col("vec_id"))
      scored
        .filter(col("qlabel").isNotNull && col("label").isNotNull)
        .withColumn("same", col("qlabel") === col("label"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5 && (!col("same") || col("rk") <= 2))
        .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"),
                when(col("same"), "pos").otherwise("neg").as("role"),
                col("rk").cast("long").as("rk"))
    },

    Q.noOracle("q41_ann_lsh",
      "ANN scale path: multi-probe SRP-LSH (8-bit signatures, 4 hash " +
        "tables; each query also probes every bucket within Hamming<=2 of " +
        "its signature — the standard multi-probe technique) then exact " +
        "cosine re-rank of candidates only. Probe expansion happens on the " +
        "QUERY side (37 buckets/table per query), so the corpus keeps one " +
        "row per table and the candidate join stays a bucket equi-join; " +
        "RecallSpec measures recall@5 against the q40 brute-force truth.") {
      (s, d) =>
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        lshCandidates(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"),
                  col("rk").cast("long").as("rk"))
    },

    Q.noOracle("q54_ann_ivf",
      "ANN, IVF variant: MLlib KMeans (fixed seed) partitions the corpus " +
        "into 16 cells; each query probes its 4 nearest centroids and " +
        "exact-reranks only those cells — at scale the index is built once " +
        "and the probe touches ~4/16 of the corpus instead of all of it " +
        "(nprobe trades recall for scan fraction; RecallSpec pins the " +
        "floor).") {
      (s, d) =>
        val (centers, assigned) = ivfIndex(s, d, 16)
        // per query: nearest centroids (tiny driver-side table, broadcast)
        val centersDf = s.createDataFrame(centers).toDF("cell", "cv")
        val q = assigned.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val wCell = Window.partitionBy("qid").orderBy(col("cdist"), col("cell"))
        val probe = q.crossJoin(broadcast(centersDf))
          .withColumn("cdist",
            aggregate(zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
                      lit(0.0), (acc, x) => acc + x))
          .withColumn("crk", row_number().over(wCell))
          .filter(col("crk") <= 4)
          .select(col("qid"), col("qv"), col("cell"))
        val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        probe.join(assigned, Seq("cell"))
          .filter(col("qid") =!= col("vec_id"))
          .select(col("qid"), col("vec_id"), cosine(col("qv"), col("v")).as("cos"))
          .withColumn("rk", row_number().over(wTop))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"),
                  col("rk").cast("long").as("rk"))
    },

    Q("q55_tfidf",
      "TF-IDF: term frequency x inverse document frequency over the " +
        "corpus, top-3 characteristic terms per document. Two aggregates " +
        "(per doc-term, per term) + a broadcast join of the term-df table.",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM scored)
        |WHERE rk <= 3""".stripMargin) { (s, d) =>
      val tok = docs(s, d).select(col("doc_id"),
                                  explode(tokens(col("text"))).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df DERIVES from the per-(doc, term) table — one row per doc that
      // contains the term, so a plain count per term IS the distinct-doc
      // count, and the corpus is tokenized once instead of twice (AQE
      // reuses tf's exchange between the df build and the join probe).
      // The always-true tf > 0 keeps the tf column referenced in this
      // branch: without it the optimizer rewrites the branch to a
      // DISTINCT aggregate, whose partial stage no longer canonicalizes
      // equal to the probe's partial_count — and the stage reuse is lost
      val dfT = tf.filter(col("tf") > 0)
        .groupBy("term").agg(count(lit(1)).as("df"))
      // corpus size as an in-plan 1-row broadcast (q28 pattern) — a
      // driver-side count() here would be a second full corpus pass
      // before the query even starts
      val nDocs = docs(s, d).agg(count(lit(1)).cast("double").as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(dfT), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rk").cast("long").as("rk"))
    },

    Q("q42_embed_stats",
      "Embedding column stats: per-label count + mean L2 norm (per-row " +
        "norms fold sequentially in double; group means rounded).",
      """SELECT label, count(*) AS n,
        |  round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
        |FROM embeddings GROUP BY label""".stripMargin) { (s, d) =>
      val norm = sqrt(aggregate(transform(vecd(col("embedding")), x => x * x),
                                lit(0.0), (acc, x) => acc + x))
      embs(s, d)
        .select(col("label"), norm.as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg("nrm"), 4).as("avg_norm"))
    },

    Q("q154_embedding_drift",
      "Per-source SEMANTIC drift — the embedding-modality twin of " +
        "q112's token KL: cosine between each source's embedding " +
        "centroid and the corpus centroid. A source whose centroid " +
        "points away from the corpus is semantically off-distribution " +
        "(templated spam, wrong domain, a scraper gone sideways) even " +
        "when its token statistics look clean. Cross-engine float " +
        "discipline: each coordinate rounds half-up to a 1e-6-scaled " +
        "BIGINT per row and the centroid numerators are INTEGER sums " +
        "(exact, reducer-order-proof); positive scalar factors cancel " +
        "in cosine, so the integer sums ARE the centroids as far as " +
        "the metric cares, and the final dims-bounded double fold is " +
        "noise-free at 4dp. Scale shape: ONE aggregate over the exploded " +
        "coordinates (map-side partials) to the (sources x dims)-bounded " +
        "per-source table; the global centroid is DERIVED from it " +
        "(gx = sum over sources of sx — associative integer sums, so " +
        "the derivation is exact), never re-scanning the corpus-sized " +
        "explode. Then a dims-bounded join — output is sources-bounded.",
      """WITH e AS (SELECT d.source,
        |    unnest(range(1, len(v.embedding) + 1)) AS i,
        |    CAST(floor(CAST(unnest(v.embedding) AS DOUBLE) * 1000000 + 0.5)
        |      AS BIGINT) AS xi
        |  FROM embeddings v JOIN documents d ON d.doc_id = v.vec_id),
        |bys AS (SELECT source, i, CAST(sum(xi) AS BIGINT) AS sx
        |        FROM e GROUP BY 1, 2),
        |gl AS (SELECT i, CAST(sum(sx) AS BIGINT) AS gx FROM bys GROUP BY 1),
        |j AS (SELECT source, CAST(sx AS DOUBLE) AS sx,
        |             CAST(gx AS DOUBLE) AS gx
        |      FROM bys JOIN gl USING (i))
        |SELECT source,
        |  round(sum(sx * gx) / (sqrt(sum(sx * sx)) * sqrt(sum(gx * gx))), 4)
        |    AS drift_cos
        |FROM j GROUP BY source""".stripMargin) { (s, d) =>
      val e = embs(s, d)
        .select(col("vec_id").as("doc_id"), col("embedding"))
        .join(docs(s, d).select("doc_id", "source"), "doc_id")
        .select(col("source"),
                posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("source"), col("i"),
                floor(col("x").cast("double") * 1000000 + lit(0.5))
                  .cast("long").as("xi"))
      val bys = e.groupBy("source", "i").agg(sum("xi").cast("long").as("sx"))
      // Global centroid DERIVED from the bounded per-source table — the
      // corpus-sized explode is scanned exactly once (integer sums are
      // associative, so sum-of-per-source-sums == direct corpus sum).
      val gl = bys.groupBy("i").agg(sum("sx").cast("long").as("gx"))
      bys.join(gl, "i")
        .select(col("source"), col("sx").cast("double").as("sx"),
                col("gx").cast("double").as("gx"))
        .groupBy("source")
        .agg(round(sum(col("sx") * col("gx")) /
               (sqrt(sum(col("sx") * col("sx"))) *
                sqrt(sum(col("gx") * col("gx")))), 4).as("drift_cos"))
    },

    // ---- text analysis -------------------------------------------------

    Q("q31_token_count",
      "Token counting: whitespace tokenization + per-doc counts.",
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  n_chars
        |FROM documents""".stripMargin) { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
    },

    Q("q32_text_quality",
      "Quality scoring: token stats + stopword ratio + mean token length " +
        "-> composite score in [0,1] (identical closed-form in both engines).",
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tok FROM documents)
        |SELECT doc_id,
        |  CAST(len(tok) AS BIGINT) AS n_tokens,
        |  round(CAST(len(list_filter(tok, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / len(tok), 4) AS stopword_ratio,
        |  round(CAST(n_chars - len(tok) + 1 AS DOUBLE) / len(tok), 4) AS mean_tok_len,
        |  round(least(1.0, len(tok) / 64.0) *
        |        (0.5 + CAST(len(list_filter(tok, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |         / len(tok)), 4) AS quality
        |FROM t""".stripMargin) { (s, d) =>
      val stopArr = array(enStop.map(lit): _*)
      val tok = tokens(col("text"))
      docs(s, d)
        .select(col("doc_id"), col("n_chars"), tok.as("tok"))
        .select(
          col("doc_id"),
          size(col("tok")).cast("long").as("n_tokens"),
          round(size(filter(col("tok"), t => array_contains(stopArr, t))).cast("double") /
                size(col("tok")), 4).as("stopword_ratio"),
          round((col("n_chars") - size(col("tok")) + 1).cast("double") / size(col("tok")), 4)
            .as("mean_tok_len"),
          round(least(lit(1.0), size(col("tok")) / lit(64.0)) *
                (lit(0.5) + size(filter(col("tok"), t => array_contains(stopArr, t))).cast("double") /
                  size(col("tok"))), 4).as("quality"))
    },

    Q("q33_langid",
      "Language-ID by marker-token profiles (public stopword fragments): " +
        "per-language hit counts, argmax prediction (ties broken by " +
        "lexicographically-last language — the struct-max order, mirrored " +
        "explicitly in the oracle's CASE chain).",
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok FROM documents),
        |h AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(tok, x -> x IN ('the','and','of','is','a'))) AS BIGINT) AS hits_en,
        |  CAST(len(list_filter(tok, x -> x IN ('le','la','et','de','un'))) AS BIGINT) AS hits_fr,
        |  CAST(len(list_filter(tok, x -> x IN ('el','la','y','de','un'))) AS BIGINT) AS hits_es,
        |  CAST(len(list_filter(tok, x -> x IN ('der','die','und','das','ein'))) AS BIGINT) AS hits_de,
        |  CAST(len(list_filter(tok, x -> x IN ('de','shi','le','zai','he'))) AS BIGINT) AS hits_zh
        |  FROM t)
        |SELECT doc_id, lang AS labeled_lang, hits_en, hits_fr, hits_es, hits_de, hits_zh,
        |  CASE greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh)
        |    WHEN hits_zh THEN 'zh' WHEN hits_fr THEN 'fr' WHEN hits_es THEN 'es'
        |    WHEN hits_en THEN 'en' ELSE 'de' END AS predicted_lang
        |FROM h""".stripMargin) { (s, d) =>
      // Marker profiles + argmax are the SHARED graft.functions.LangId
      // core — the same expression tree the crawl/WARC ingest
      // front-ends assign `lang` with, so the analysis query and the
      // at-ingest assignment cannot drift. (q33 keeps the raw
      // struct-max tie semantics its oracle mirrors; the ingest path
      // adds the zero-hits -> 'und' guard on top.)
      import graft.functions.LangId
      val tok = tokens(col("text"))
      docs(s, d)
        .withColumn("best", LangId.best(tok))
        .select(col("doc_id"), col("lang").as("labeled_lang"),
                LangId.hits(tok, LangId.profiles(0)._2).as("hits_en"),
                LangId.hits(tok, LangId.profiles(1)._2).as("hits_fr"),
                LangId.hits(tok, LangId.profiles(2)._2).as("hits_es"),
                LangId.hits(tok, LangId.profiles(3)._2).as("hits_de"),
                LangId.hits(tok, LangId.profiles(4)._2).as("hits_zh"),
                col("best.lang").as("predicted_lang"))
    },

    Q("q34_fingerprint",
      "Document fingerprinting: polynomial rolling hash over codepoints " +
        "mod 1e9+7 (closed form reproducible in ANSI SQL via list_reduce).",
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents""".stripMargin) { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        aggregate(transform(split(col("text"), ""), c => ascii(c).cast("long")),
                  lit(0L), (acc, c) => pmod(acc * 31 + c, lit(1000000007L))).as("fp"))
    },

    Q("q171_markup_residue",
      "Markup-residue audit: per source, how many documents still " +
        "carry HTML tag or character-reference signatures — the " +
        "post-extraction health check for a WARC/crawl-fed corpus " +
        "(Html.extractText should drive these to zero; a nonzero share " +
        "means raw markup leaked past the ingest front-end and the " +
        "funnel/LM/BPE operators are scoring tags). Same bounded " +
        "regex in both engines (char classes + alternation + bounded " +
        "repeat — the Java/RE2 common subset).",
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE regexp_matches(text,
        |    '<[a-zA-Z!/][^>]{0,256}>')) AS BIGINT) AS n_markup,
        |  CAST(count(*) FILTER (WHERE regexp_matches(text,
        |    '&(amp|lt|gt|quot|apos|nbsp|#[0-9]{1,7}|#x[0-9a-fA-F]{1,6});'))
        |    AS BIGINT) AS n_entity,
        |  round(CAST(count(*) FILTER (WHERE regexp_matches(text,
        |    '<[a-zA-Z!/][^>]{0,256}>')) AS DOUBLE) / count(*), 4)
        |    AS markup_share
        |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
      val tagRe = "<[a-zA-Z!/][^>]{0,256}>"
      val entRe = "&(amp|lt|gt|quot|apos|nbsp|#[0-9]{1,7}|#x[0-9a-fA-F]{1,6});"
      val tagHit = regexp_like(col("text"), lit(tagRe))
      docs(s, d)
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
             count(when(tagHit, 1)).cast("long").as("n_markup"),
             count(when(regexp_like(col("text"), lit(entRe)), 1))
               .cast("long").as("n_entity"),
             round(count(when(tagHit, 1)).cast("double") / count(lit(1)), 4)
               .as("markup_share"))
    },

    // ---- multimodal plumbing ------------------------------------------

    Q("q43_multimodal_meta",
      "Multimodal column plumbing: opaque binary payload + typed metadata " +
        "(byte length, sha256 digest, head sample) — the decode step " +
        "itself is stubbed deterministically in graft.cpms.Multimodal; " +
        "this query proves the binary schema/partition path end to end.",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS digest,
        |  left(text, 16) AS head
        |FROM documents""".stripMargin) { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        length(to_binary(col("text"), lit("utf-8"))).cast("long").as("n_bytes"),
        sha2(to_binary(col("text"), lit("utf-8")), 256).as("digest"),
        substring(col("text"), 1, 16).as("head"))
    },

    Q("q80_decontaminate",
      "Dataset decontamination: which held-out (test-split) documents " +
        "share an 8-gram with any training-split document — the standard " +
        "pre-release train/test overlap audit. Splits are the q59 " +
        "deterministic hash split; 8-grams come from a windowed slice " +
        "over the token array (pure codegen column math, no UDF). Both " +
        "sides shuffle on the N-GRAM — a high-cardinality, " +
        "near-unique-by-construction key (8 tokens of context), so " +
        "blocks stay tiny at any corpus size; per-doc rollups then " +
        "shuffle on doc_id. Output: every test doc with its distinct " +
        "8-gram count, how many of those appear verbatim in train, and " +
        "the contamination share.",
      contaminationOracle) { (s, d) =>
      val grams = contaminationGrams(s, d)
      val trainG = grams.filter(col("split") === "train").select("ngram").distinct()
      val testG = grams.filter(col("split") === "test").select("doc_id", "ngram")
      val hits = testG.join(trainG, "ngram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      contaminationReport(testG, hits)
    },

    Q("q81_pack_sequences",
      "Sequence packing (concat-and-chunk): lay the corpus out as a " +
        "deterministic token stream and cut it into fixed 512-token " +
        "training sequences — each doc gets (bucket, seq_no, seq_off): " +
        "which sequence its first token lands in and at what offset. " +
        "Packing is per hash-bucket (md5 first hex digit, 16 buckets " +
        "here; the bucket count is the scale knob — 100k buckets at " +
        "100 TB keeps every packing window's partition at corpus/buckets " +
        "rows, unlike a q62-style intrinsic low-cardinality key), docs " +
        "ordered by doc_id within a bucket, so the layout is reproducible " +
        "across runs and engines. Docs straddling a 512 boundary " +
        "continue into the next sequence (standard pre-training " +
        "packing).",
      """WITH t AS (
        |  SELECT doc_id, substr(md5(text), 1, 1) AS bucket,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bucket, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens AS begin
        |  FROM t)
        |SELECT doc_id, bucket, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor(begin / 512) AS BIGINT) AS seq_no,
        |  CAST(begin % 512 AS BIGINT) AS seq_off
        |FROM c""".stripMargin) { (s, d) =>
      val seqLen = 512
      val tok = tokens(col("text"))
      val w = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .select(col("doc_id"), substring(md5(col("text")), 1, 1).as("bucket"),
                size(tok).cast("long").as("n_tokens"))
        .withColumn("begin", sum("n_tokens").over(w) - col("n_tokens"))
        .select(col("doc_id"), col("bucket"), col("n_tokens"),
                floor(col("begin") / seqLen).cast("long").as("seq_no"),
                (col("begin") % seqLen).cast("long").as("seq_off"))
    },

    Q("q82_unigram_logprob",
      "Unigram-LM quality filter (the KenLM-style perplexity gate's " +
        "first-order form): score every doc by its mean token " +
        "log-probability under the corpus's own unigram distribution — " +
        "boilerplate and natural text score high, token soup scores low. " +
        "One aggregate builds the unigram table (shuffle on term), the " +
        "corpus token total rides as an in-plan 1-row broadcast (q28 " +
        "pattern), and scoring is explode + join on term + per-doc avg. " +
        "The unigram join is shuffle_hash-hinted — the vocabulary-sized " +
        "marginal is NEVER broadcast (the q112/q119 rule): at open-web " +
        "vocabulary scale a broadcast would OOM driver and executors, " +
        "while the shuffle-hash join co-partitions tok and uni on term.",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |u AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |n AS (SELECT sum(c) AS total FROM u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(CAST(c AS DOUBLE) / total)), 4) AS avg_logp
        |FROM tok JOIN u USING (term) CROSS JOIN n
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      val tok = docs(s, d).select(col("doc_id"),
                                  explode(tokens(col("text"))).as("term"))
      val uni = tok.groupBy("term").agg(count(lit(1)).as("c"))
      val total = uni.agg(sum("c").cast("double").as("total"))
      tok.join(uni.hint("shuffle_hash"), "term")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             round(avg(log(col("c").cast("double") / col("total"))), 4)
               .as("avg_logp"))
    },

    Q("q83_boilerplate_share",
      "Boilerplate detection: 5-grams appearing (distinctly) in 2+ " +
        "documents are shared template text — headers, footers, licence " +
        "blocks; each doc is scored by the share of its distinct 5-grams " +
        "that are shared. Same n-gram machinery as q80: shuffles on the " +
        "n-gram key, then per-doc rollups. A doc with a high share is a " +
        "near-dup or template page even when no single pair passes the " +
        "q38 threshold.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |g AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |        generate_series(1, greatest(len(tok) - 4, 0)),
        |        i -> array_to_string(tok[i:i+4], ' '))) AS ngram FROM t),
        |c AS (SELECT ngram, count(*) AS nd FROM g GROUP BY 1),
        |sh AS (SELECT g.doc_id, count(*) AS n_shared
        |       FROM g JOIN c USING (ngram) WHERE c.nd >= 2 GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_ngrams FROM g GROUP BY 1)
        |SELECT doc_id, n_ngrams, COALESCE(n_shared, 0) AS n_shared,
        |  round(CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_ngrams, 4)
        |    AS boilerplate_share
        |FROM tot LEFT JOIN sh USING (doc_id)""".stripMargin) { (s, d) =>
      val n = 5
      val tok = tokens(col("text"))
      // explicit isNotNulls at the base (the q112 canonicalization
      // recipe): the final `tot LEFT JOIN perDoc` infers
      // isnotnull(doc_id) on its RIGHT side only and the grams⋈shared
      // join infers isnotnull(ngram) on its probe side; pushed beneath
      // the distinct exchange those fork that branch's subtree away
      // from the other consumers' canonical form and AQE re-tokenizes
      // the corpus for it. Pre-filtering makes every inferred predicate
      // redundant, so all three consumers share ONE distinct exchange
      // (PlanSpec pins the reuse). r20: the gram identity is the O(n)
      // rolling 64-bit hash (TextHashes.rollingGramHashes — one pass
      // instead of a per-position O(5) slice+concat), so the gram
      // string never materializes and the distinct/join/aggregates all
      // run on fixed-width longs (guide §2.3; q38's token-hash
      // convention, verified collision-free on the deterministic
      // driver corpora by the oracle gate).
      val grams = spread(docs(s, d))
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
                explode(graft.functions.TextHashes.rolling_gram_hash(tok, n))
                  .as("ngram"))
        .filter(col("ngram").isNotNull)
        .distinct()
      val shared = grams.groupBy("ngram").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("ngram")
      val perDoc = grams.join(shared, "ngram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      grams.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_ngrams"),
                coalesce(col("n_shared"), lit(0L)).as("n_shared"),
                round(coalesce(col("n_shared"), lit(0L)).cast("double") /
                        col("n_ngrams"), 4).as("boilerplate_share"))
    },

    Q("q84_label_coherence",
      "Embedding-space cluster coherence: per-label centroid (elementwise " +
        "mean via posexplode over (label, dim) — high-cardinality shuffle " +
        "keys, map-side partials) and each vector's cosine to its label " +
        "centroid, rolled up to per-label mean coherence. The audit a " +
        "training mix runs over labelled/semantic shards: low coherence = " +
        "a mixed-up shard, high = redundant. No arrays cross the oracle " +
        "boundary — only scalar invariants (centroid norm, mean cosine).",
      """WITH e AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, i, avg(x) AS c FROM e GROUP BY 1, 2),
        |cn AS (SELECT label, sqrt(sum(c * c)) AS nc FROM cent GROUP BY 1),
        |per AS (
        |  SELECT e.vec_id, e.label, sum(e.x * cent.c) AS dot,
        |    sqrt(sum(e.x * e.x)) AS nv
        |  FROM e JOIN cent USING (label, i) GROUP BY 1, 2)
        |SELECT per.label, CAST(count(*) AS BIGINT) AS n,
        |  round(any_value(cn.nc), 4) AS centroid_norm,
        |  round(avg(per.dot / (per.nv * cn.nc)), 4) AS mean_cos
        |FROM per JOIN cn USING (label)
        |GROUP BY per.label""".stripMargin) { (s, d) =>
      val e = embs(s, d)
        .select(col("vec_id"), col("label"),
                posexplode(vecd(col("embedding"))).as(Seq("i", "x")))
      val cent = e.groupBy("label", "i").agg(avg("x").as("c"))
      val cn = cent.groupBy("label").agg(sqrt(sum(col("c") * col("c"))).as("nc"))
      val per = e.join(cent, Seq("label", "i"))
        .groupBy("vec_id", "label")
        .agg(sum(col("x") * col("c")).as("dot"),
             sqrt(sum(col("x") * col("x"))).as("nv"))
      per.join(broadcast(cn), "label")
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n"),
             round(first("nc"), 4).as("centroid_norm"),
             round(avg(col("dot") / (col("nv") * col("nc"))), 4).as("mean_cos"))
    },

    Q("q85_winnowing_overlap",
      "Winnowing fingerprint overlap (the MOSS local-fingerprinting " +
        "scheme, Schleimer et al. SIGMOD'03): hash every 4-shingle, keep " +
        "the minimum hash of each 4-wide window — guaranteeing any " +
        "shared run of >= 7 tokens leaves at least one shared " +
        "fingerprint — and report doc pairs sharing >= 2 distinct " +
        "fingerprints. Unlike q35's MinHash (whole-doc similarity), " +
        "winnowing localizes PARTIAL overlap: a copied paragraph inside " +
        "an otherwise-unrelated doc still collides. Scale shape: " +
        "fingerprints are a high-cardinality equi-join key; postings " +
        "with df > 50 (ubiquitous template text) are dropped before the " +
        "pair join — the standard posting cap that keeps the self-join " +
        "linear in matches, not quadratic in df — and the pair rollup " +
        "shuffles on (doc_a, doc_b). String min over the window is " +
        "engine-portable (lexicographic md5), so the whole op is " +
        "DuckDB-oracled, unlike hash-seeded MinHash.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |sh AS (SELECT doc_id, list_transform(
        |         generate_series(1, greatest(len(tok) - 3, 0)),
        |         i -> substr(md5(array_to_string(tok[i:i+3], ' ')), 1, 16)) AS hs
        |       FROM t),
        |fp AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |         generate_series(1, greatest(len(hs) - 3, 0)),
        |         i -> list_aggregate(hs[i:i+3], 'min'))) AS fp
        |       FROM sh),
        |rare AS (SELECT fp FROM fp GROUP BY 1 HAVING count(*) <= 50),
        |f2 AS (SELECT doc_id, fp.fp FROM fp JOIN rare USING (fp)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            count(*) AS n_shared
        |          FROM f2 a JOIN f2 b USING (fp)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM pairs WHERE n_shared >= 2""".stripMargin) { (s, d) =>
      val cap = 50; val minShared = 2
      // r20: the winnowing SELECTION stays md5-ordered (oracle-pinned —
      // the window minimum depends on digest ordering), but everything
      // downstream only tests fp EQUALITY, so the df filter and the
      // pair self-join run on the digest's xxhash64 — an 8-byte key
      // instead of a 16-char hex string (guide §2.3; q38 convention,
      // collision-free on the oracle corpora by the gate).
      // r21 (guide §2.4): ONE fingerprint pass. The previous plan computed
      // winnowFingerprints TWICE — once under the df-count aggregate and
      // once as the BROADCAST build of the f2 join (plan-identical
      // subtrees dedup only through a shared Exchange, and a broadcast
      // side has none). An explicit repartition(fp) gives every consumer
      // the same hash(fp) exchange to reuse: the df aggregate runs
      // directly on it (no partial/exchange of its own), the df join and
      // the pair self-join are co-partitioned on fp (zero additional
      // exchanges), and shuffle_hash keeps the fingerprint-cardinality
      // sides off the broadcast path (corpus-sized at scale).
      // the isNotNull is a no-op (doc_id is the table key) that mirrors
      // the null filter the pair join's doc_a < doc_b infers on its own
      // branch — without it the aggregate branch's exchange subtree
      // differs by exactly that pushed scan filter and the reuse is lost
      val fps = winnowFingerprints(
          docs(s, d).filter(col("doc_id").isNotNull), k = 4, w = 4)
        .select(col("doc_id"), xxhash64(col("fp")).as("fp"))
        .repartition(col("fp"))
      // count(doc_id), not count(*): doc_id is never null so the counts
      // are identical, but referencing it keeps this branch's pruned
      // schema below the repartition equal to the join branch's
      // (doc_id, fp) — otherwise column pruning specializes the two
      // exchanges apart and the fingerprint pass runs twice again
      val rare = fps.groupBy("fp").agg(count(col("doc_id")).as("df"))
        .filter(col("df") <= cap).select("fp")
      val f2 = fps.join(rare.hint("shuffle_hash"), "fp")
      f2.select(col("fp"), col("doc_id").as("doc_a"))
        .join(f2.select(col("fp"), col("doc_id").as("doc_b"))
                .hint("shuffle_hash"), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).cast("long").as("n_shared"))
        .filter(col("n_shared") >= minShared)
    },

    Q("q86_keyword_search",
      "Conjunctive keyword search over an inverted-index layout: find " +
        "documents containing ALL query terms, scored by total term " +
        "frequency — the serving query of a corpus search/audit tool " +
        "('which training docs mention these three identifiers'). The " +
        "term IN filter runs before any shuffle (scan-parallel, " +
        "pre-explode the row count drops to matching docs only), " +
        "(doc_id, term) partial counts combine map-side, and the AND is " +
        "a count-distinct-terms == |query| rollup on doc_id — no " +
        "self-join per term, one shuffle regardless of query arity. At " +
        "100 TB the same plan probes a PERSISTED postings table " +
        "(term-bucketed parquet of this query's first aggregate) " +
        "instead of re-scanning text.",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |m AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |      WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score,
        |  CAST(count(*) AS BIGINT) AS n_terms
        |FROM m GROUP BY 1 HAVING count(*) = 3""".stripMargin) { (s, d) =>
      val terms = Seq("hash", "join", "scan")
      docs(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(sum("tf").cast("long").as("score"),
             count(lit(1)).cast("long").as("n_terms"))
        .filter(col("n_terms") === terms.size)
    },

    Q("q127_phrase_search",
      "Positional PHRASE search — q86's conjunctive search upgraded to " +
        "exact token-sequence match ('find training docs containing this " +
        "verbatim identifier chain'): documents where the tokens 'table " +
        "hash' appear ADJACENT, with match count and first position. " +
        "Scale shape is the inverted-index phrase-query join: posexplode " +
        "to (doc_id, pos, term), the term IN filter prunes to the " +
        "phrase's posting rows before any shuffle, then one equi-join on " +
        "(doc_id, pos) aligns term2's positions shifted by -1 against " +
        "term1's — candidate volume is bounded by the phrase terms' " +
        "frequencies, never the corpus, and arity-k phrases chain k-1 " +
        "such joins. At 100 TB the same plan probes a positions-bearing " +
        "postings table (the q86/q98 index + a pos column) instead of " +
        "re-tokenizing text.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |m AS (SELECT doc_id,
        |        list_filter(range(1, len(tok)),
        |                    i -> tok[i] = 'table' AND tok[i + 1] = 'hash') AS hits
        |      FROM t)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
        |  CAST(hits[1] AS BIGINT) AS first_pos
        |FROM m WHERE len(hits) > 0""".stripMargin) { (s, d) =>
      val pos = docs(s, d)
        .select(col("doc_id"),
                posexplode(tokens(col("text"))).as(Seq("pos", "term")))
        .filter(col("term").isin("table", "hash"))
      val p1 = pos.filter(col("term") === "table").select(col("doc_id"), col("pos"))
      val p2 = pos.filter(col("term") === "hash")
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      p1.join(p2, Seq("doc_id", "pos"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_matches"),
             // oracle positions are 1-based list indices
             (min("pos") + 1).cast("long").as("first_pos"))
    },

    Q("q128_vocab_coverage",
      "Vocabulary-size decision curve — what q92's audit scalars feed " +
        "into: the top-256 corpus terms by frequency with each prefix's " +
        "CUMULATIVE share of all token occurrences ('how big must the " +
        "tokenizer vocab be for 95% word coverage'). Scale shape: one " +
        "term aggregate with map-side partials; the ordered top-256 is " +
        "per-partition heaps (TakeOrderedAndProject), and the running " +
        "sum windows over exactly 256 rows — a bounded domain, the " +
        "q114 convention, never the vocabulary. The corpus token total " +
        "derives from the SAME aggregate via a 1-row broadcast (no " +
        "second tokenize pass).",
      """WITH u AS (SELECT term, CAST(count(*) AS BIGINT) AS c
        |           FROM (SELECT unnest(string_split(text, ' ')) AS term
        |                 FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
        |top AS (SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS rk
        |        FROM u ORDER BY c DESC, term LIMIT 256)
        |SELECT CAST(rk AS BIGINT) AS rk, term, c,
        |  round(CAST(sum(c) OVER (ORDER BY rk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / n, 6)
        |    AS cum_coverage
        |FROM top CROSS JOIN tot""".stripMargin) { (s, d) =>
      val u = docs(s, d)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).cast("long").as("c"))
      val tot = u.agg(sum("c").as("n"))
      val wr = Window.orderBy(col("c").desc, col("term"))
      val wcum = Window.orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // top-256 via ordered LIMIT (per-partition heaps); the rank and
      // running sum then window over those 256 rows only
      u.orderBy(col("c").desc, col("term")).limit(256)
        .withColumn("rk", row_number().over(wr).cast("long"))
        .crossJoin(broadcast(tot))
        .select(col("rk"), col("term"), col("c"),
                round(sum("c").over(wcum).cast("double") / col("n"), 6)
                  .as("cum_coverage"))
    },

    Q("q89_bpe_token_count",
      "Subword-style token counting: a BPE-ish regex (leading-space word " +
        "/ number / punctuation-run classes — the GPT-2 pre-tokenizer " +
        "shape, minus RE2-unsupported lookahead) counted per doc next to " +
        "the whitespace count, plus chars-per-token — the compression " +
        "proxy a training-cost estimate runs over the corpus. Pure " +
        "scan-parallel column math; the regex class splits identically " +
        "under Java regex and RE2, so the op is oracled, not just " +
        "rows-checked.",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
        |  round(CAST(n_chars AS DOUBLE) /
        |    len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')), 4)
        |    AS chars_per_token
        |FROM documents""".stripMargin) { (s, d) =>
      val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
      val nBpe = size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      docs(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        nBpe.cast("long").as("n_bpe_tokens"),
        round(col("n_chars").cast("double") / nBpe, 4).as("chars_per_token"))
    },

    Q("q90_bloom_decontaminate",
      "q80's decontamination with the 100 TB probe-prune: a Bloom filter " +
        "over the train-side 8-grams is built IN-PLAN (native " +
        "BloomFilterAggregate — per-partition sketches merge map-side, " +
        "one corpus pass) and referenced as a scalar subquery, so test " +
        "n-grams that cannot possibly match never enter the shuffle " +
        "join. On a mostly-clean corpus that is ~98% of the probe side " +
        "eliminated at scan time for ~1 MB of sketch. False positives " +
        "survive the prune but die in the exact join that follows — " +
        "output is bit-identical to q80, and the driver checks both " +
        "against the SAME oracle.",
      contaminationOracle) { (s, d) =>
      import graft.functions.Bloom
      val grams = contaminationGrams(s, d)
      val trainG = grams.filter(col("split") === "train").select("ngram").distinct()
      val testG = grams.filter(col("split") === "test").select("doc_id", "ngram")
      // ~1M expected items x 8 bits -> <3% false-positive rate; sized for
      // the bench corpus, a config knob at production scale
      // size the sketch from the corpus statistic, not a constant: a
      // fixed 1M-item bloom saturates ~10x past the bench corpus (the
      // sf10 audit measured the prune degrading exactly there) — ~60
      // train 8-grams per doc here, 8 bits each, floored at the bench
      // setting so small corpora keep the original <3% fp geometry
      val expectedGrams = math.max(1L << 20, corpusCount(s, d) * 64)
      // `ngram` IS the gram's xxhash64 (r20, see contaminationGrams), so
      // it feeds the sketch directly — no second hash on either side
      val bloom = trainG.agg(
        Bloom.bloomAgg(col("ngram"), expectedGrams,
                       expectedGrams * 8).as("bf"))
      val pruned = testG.filter(Bloom.mightContain(bloom, col("ngram")))
      val hits = pruned.join(trainG, "ngram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      // totals come from the UNPRUNED test side — the prune may only ever
      // shrink the join, never the denominator
      contaminationReport(testG, hits)
    },

    Q("q91_intradoc_repetition",
      "Intra-document n-gram repetition (the Gopher/C4 'duplicated " +
        "n-gram fraction' filter, complementing q60's top-term share): " +
        "share of a doc's 2-grams that are repeats of an earlier 2-gram " +
        "in the SAME doc — looping generation, boilerplate stutter, " +
        "copy-paste padding all score high. Entirely per-row column math " +
        "(array build + distinct inside one projection): zero shuffles, " +
        "zero joins, the ideal 100 TB shape.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |g AS (SELECT doc_id, list_transform(
        |        generate_series(1, greatest(len(tok) - 1, 0)),
        |        i -> array_to_string(tok[i:i+1], ' ')) AS grams FROM t)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4)
        |    AS dup_fraction
        |FROM g WHERE len(grams) > 0""".stripMargin) { (s, d) =>
      // n_distinct via the codegen'd WordShingles expression (one pass,
      // one hash set — the HOF spelling re-slices per position and falls
      // out of whole-stage codegen); space-joined shingles over
      // space-split tokens are injective, so distinct counts are exact
      val tok = tokens(col("text"))
      spread(docs(s, d))
        .select(col("doc_id"),
                (size(tok) - 1).cast("long").as("n_grams"),
                size(word_shingles(tok, 2)).cast("long").as("n_distinct"))
        .filter(col("n_grams") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
                round(lit(1.0) -
                        col("n_distinct").cast("double") / col("n_grams"), 4)
                  .as("dup_fraction"))
    },

    Q("q92_vocab_audit",
      "Corpus vocabulary audit: vocab size, hapax-legomena share, and " +
        "top-100-term coverage — the Zipf sanity check a tokenizer/mix " +
        "decision reads first (tiny vocab or near-1 top-k coverage = " +
        "TEMPLATE corpus; huge hapax share = OCR noise or tokenizer " +
        "mismatch). One term aggregate (map-side partials on a " +
        "high-cardinality key), a 1-row rollup, and the top-100 via " +
        "ordered LIMIT (per-partition heaps, no global sort).",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |u AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c) AS total, count(*) AS vocab,
        |               sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax FROM u),
        |top AS (SELECT sum(c) AS top_c FROM (
        |          SELECT c FROM u ORDER BY c DESC, term LIMIT 100))
        |SELECT CAST(vocab AS BIGINT) AS vocab_size,
        |  CAST(hapax AS BIGINT) AS n_hapax,
        |  round(CAST(hapax AS DOUBLE) / vocab, 4) AS hapax_share,
        |  round(CAST(top_c AS DOUBLE) / total, 4) AS top100_coverage
        |FROM tot CROSS JOIN top""".stripMargin) { (s, d) =>
      val u = docs(s, d)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
      val tot = u.agg(sum("c").as("total"), count(lit(1)).as("vocab"),
                      sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      val top = u.orderBy(col("c").desc, col("term")).limit(100)
        .agg(sum("c").as("top_c"))
      tot.crossJoin(broadcast(top))
        .select(col("vocab").cast("long").as("vocab_size"),
                col("hapax").cast("long").as("n_hapax"),
                round(col("hapax").cast("double") / col("vocab"), 4)
                  .as("hapax_share"),
                round(col("top_c").cast("double") / col("total"), 4)
                  .as("top100_coverage"))
    },

    Q("q94_quantize_embeddings",
      "Int8 scalar quantization audit: per-vector symmetric quantization " +
        "(scale = max|x|/127, code = round(x/scale)) and the cosine " +
        "between each vector and its dequantized self — the 4x storage " +
        "compression a 100 TB embedding store takes, with the recall-loss " +
        "proxy measured in the same pass. Scan-parallel column math; the " +
        "quantizer uses floor(v/scale + 0.5) in BOTH engines (one " +
        "rounding spelling, no HALF_UP-vs-banker's divergence), and " +
        "cosine is the sequential double fold that is bit-identical to " +
        "DuckDB's list_dot_product.",
      """WITH e AS (SELECT vec_id, label,
        |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
        |     FROM embeddings),
        |s AS (SELECT vec_id, label, x,
        |        list_reduce(list_transform(x, v -> abs(v)),
        |                    (a, b) -> greatest(a, b)) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, label, x, scale,
        |        list_transform(x, v -> floor(v / scale + 0.5) * scale) AS deq
        |      FROM s)
        |SELECT vec_id, label, round(scale, 6) AS scale,
        |  round(list_dot_product(x, deq) /
        |        (sqrt(list_dot_product(x, x)) *
        |         sqrt(list_dot_product(deq, deq))), 6) AS cos_sim
        |FROM q""".stripMargin) { (s, d) =>
      val xd = vecd(col("embedding"))
      embs(s, d)
        .select(col("vec_id"), col("label"), xd.as("x"))
        .withColumn("scale",
          aggregate(col("x"), lit(0.0), (a, v) => greatest(a, abs(v))) / lit(127.0))
        .withColumn("deq",
          transform(col("x"), v => floor(v / col("scale") + lit(0.5)) * col("scale")))
        .select(col("vec_id"), col("label"),
                round(col("scale"), 6).as("scale"),
                round(cosine(col("x"), col("deq")), 6).as("cos_sim"))
    },

    Q("q95_fuzzy_decontaminate",
      "Fuzzy train/test decontamination: held-out docs that are " +
        "NEAR-DUPLICATES (token-set Jaccard >= 0.9) of any training " +
        "doc — the leakage q80's exact 8-gram audit misses when the " +
        "leaked copy was lightly edited (the reason production " +
        "decontamination runs fuzzy passes alongside exact ones). Pure " +
        "composition: the oracle-exact q38 pair machinery (lossless " +
        "prefix-filter candidates, exact verify) joined to the q59 " +
        "split labels, keeping only test<->train pairs. Output: " +
        "(test_doc, train_doc, jaccard).",
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
        |SELECT CASE WHEN split_a = 'test' THEN id_a ELSE id_b END AS test_doc,
        |       CASE WHEN split_a = 'test' THEN id_b ELSE id_a END AS train_doc,
        |       jaccard
        |FROM p
        |WHERE (split_a = 'test' AND split_b = 'train')
        |   OR (split_a = 'train' AND split_b = 'test')""".stripMargin) { (s, d) =>
      val h = substring(md5(col("text")), 1, 1)
      val splits = docs(s, d).select(
        col("doc_id"),
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test").as("split"))
      jaccardPairs(s, d)
        .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
        .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
        .filter((col("split_a") === "test" && col("split_b") === "train") ||
                (col("split_a") === "train" && col("split_b") === "test"))
        .select(
          when(col("split_a") === "test", col("id_a")).otherwise(col("id_b"))
            .as("test_doc"),
          when(col("split_a") === "test", col("id_b")).otherwise(col("id_a"))
            .as("train_doc"),
          col("jaccard"))
    },

    Q("q96_heavy_hitters",
      "One-pass frequent-terms sketch: the custom SpaceSaving aggregate " +
        "(k counters per partial buffer, map-side combine, mergeable per " +
        "Agarwal et al. PODS'12) — at 100 TB this finds every term with " +
        "frequency > N/k WITHOUT the full term shuffle exact counting " +
        "needs. Here k is DERIVED from the cached corpus vocabulary " +
        "stat (next power of two >= vocab, min 64), so the sketch is " +
        "provably exact at ANY scale factor (nothing evicts, err=0) and " +
        "the no-LIMIT DuckDB oracle stays valid by construction instead " +
        "of by a silent vocab<=64 assumption; a guard raises a clear " +
        "precondition error if the vocabulary outgrows the exact-regime " +
        "ceiling. HeavyHittersSpec pins the lossy-regime guarantees " +
        "(no false negatives above N/k, est-err <= true <= est) on " +
        "skewed synthetic data under adversarial partitioning.",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |u AS (SELECT term, count(*) AS c FROM tok GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT)
        |    AS rank,
        |  term, CAST(c AS BIGINT) AS est, CAST(0 AS BIGINT) AS err
        |FROM u""".stripMargin) { (s, d) =>
      import graft.functions.HeavyHitters.heavy_hitters
      val vocab = vocabSize(s, d)
      require(vocab <= (1L << 16),
        s"q96 exact-regime precondition: corpus vocabulary ($vocab) exceeds " +
          "the 65536-counter ceiling; the no-eviction oracle only holds when " +
          "every term gets a counter — use the sketch directly with a fixed " +
          "k and the HeavyHittersSpec error bounds for larger corpora")
      val k = math.max(64, java.lang.Long.highestOneBit(vocab - 1) << 1).toInt
      docs(s, d).select(explode(tokens(col("text"))).as("term"))
        .agg(heavy_hitters(col("term"), k).as("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "e")))
        .select((col("pos") + 1).cast("long").as("rank"),
                col("e.term").as("term"), col("e.est").as("est"),
                col("e.err").as("err"))
    },

    Q("q98_bm25_rank",
      "BM25-ranked retrieval (Robertson/Okapi, the Lucene default): " +
        "q86's conjunctive search upgraded to the standard probabilistic " +
        "ranking — per-term idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf " +
        "saturation k1=1.2, length normalization b=0.75 against the " +
        "corpus mean doc length. Scale shape mirrors q86: the term IN " +
        "filter prunes before any shuffle, (doc, term) partials combine " +
        "map-side, df and the (N, avgdl) scalars are 1-row/4-row " +
        "broadcasts, and the top-20 is TakeOrderedAndProject — no global " +
        "sort. Cross-engine float discipline: avgdl is spelled " +
        "CAST(sum AS DOUBLE)/count (exact integer inputs), per-term " +
        "contributions land in FIXED-ORDER conditional sums (adding 0.0 " +
        "is exact, so partition order cannot reorder the fp additions), " +
        "and the ordering key is the ROUNDED score with a doc_id " +
        "tie-break.",
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
        |           FROM documents),
        |g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM t),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok
        |       WHERE term IN ('hash', 'join', 'scan', 'window')
        |       GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |c AS (SELECT tf.doc_id, tf.term,
        |        ln(1.0 + (g.n - df.df + 0.5) / (df.df + 0.5)) *
        |          (tf.tf * 2.2) /
        |          (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / g.avgdl)) AS w
        |      FROM tf JOIN df USING (term) JOIN t USING (doc_id)
        |      CROSS JOIN g),
        |s AS (SELECT doc_id,
        |        sum(CASE WHEN term = 'hash' THEN w ELSE 0.0 END) AS w1,
        |        sum(CASE WHEN term = 'join' THEN w ELSE 0.0 END) AS w2,
        |        sum(CASE WHEN term = 'scan' THEN w ELSE 0.0 END) AS w3,
        |        sum(CASE WHEN term = 'window' THEN w ELSE 0.0 END) AS w4,
        |        CAST(count(*) AS BIGINT) AS n_terms
        |      FROM c GROUP BY 1)
        |SELECT doc_id, round(w1 + w2 + w3 + w4, 4) AS score, n_terms
        |FROM s
        |ORDER BY round(w1 + w2 + w3 + w4, 4) DESC, doc_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      val terms = Seq("hash", "join", "scan", "window")
      val t = docs(s, d).select(col("doc_id"), size(tokens(col("text"))).as("dl"))
      val g = t.agg(count(lit(1)).cast("double").as("n"),
                    sum("dl").cast("double").as("sumdl"))
        .select(col("n"), (col("sumdl") / col("n")).as("avgdl"))
      val matches = spread(docs(s, d))
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
        .join(t, "doc_id")
      bm25Rank(matches, g, terms, 20)
    },

    Q("q100_pmi_collocations",
      "Pointwise-mutual-information collocations: which term PAIRS " +
        "co-occur within a +-4-token window more than their marginal " +
        "frequencies predict — the corpus-health probe that surfaces " +
        "templated boilerplate (suspiciously associated pairs) and " +
        "topic clumps before training. PMI = ln((n_ab * T) / " +
        "(n_a * n_b)) over window co-occurrence events (T = total " +
        "tokens, n_x = token counts). Scale shape: pair generation is " +
        "a pure higher-order-function projection over each doc's token " +
        "array (each position pairs with at most the next 4) — LINEAR " +
        "in doc length, no self-join, so a 100k-token page emits " +
        "~400k events, not the ~12.5M its distinct-term square would; " +
        "the df BAND filter (5 <= df <= 0.9N) broadcasts against the " +
        "event stream, the event aggregate shuffles on the (term_a, " +
        "term_b) key with map-side partials, and the marginal attach " +
        "broadcasts the BOUNDED post-aggregate pair table into the " +
        "vocabulary-sized tf table — never the reverse. All counts " +
        "stay exact integers until one double division (products < " +
        "2^53 at any plausible corpus size), so only ln's last ulp " +
        "separates engines — absorbed by round(4) on both the value " +
        "and the ordering key.",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |tk AS (SELECT doc_id, pos, tok[pos + 1] AS term
        |       FROM t CROSS JOIN LATERAL unnest(range(len(tok))) AS u(pos)),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
        |band AS (SELECT term FROM df, n WHERE df >= 5 AND df <= 0.9 * n.n),
        |tf AS (SELECT term, count(*) AS tf FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tk),
        |p AS (SELECT least(a.term, b.term) AS term_a,
        |             greatest(a.term, b.term) AS term_b, count(*) AS n_ab
        |      FROM tk a JOIN tk b
        |        ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 4
        |       AND a.term <> b.term
        |      JOIN band ba ON a.term = ba.term
        |      JOIN band bb ON b.term = bb.term
        |      GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  round(ln((CAST(n_ab AS DOUBLE) * tot.t) /
        |           (CAST(ta.tf AS DOUBLE) * tb.tf)), 4) AS pmi
        |FROM p JOIN tf ta ON p.term_a = ta.term
        |       JOIN tf tb ON p.term_b = tb.term
        |CROSS JOIN tot
        |ORDER BY pmi DESC, n_ab DESC, term_a, term_b
        |LIMIT 30""".stripMargin) { (s, d) =>
      val base = spread(docs(s, d)).select(col("doc_id"), tokens(col("text")).as("arr"))
      val n = docs(s, d).agg(count(lit(1)).cast("double").as("n"))
      // ONE corpus pass for every term statistic, with NO (doc, term)
      // aggregate at all (r21): df is "docs containing the term", so
      // array_distinct per doc replaces the near-unique-key (doc, term)
      // shuffle the old dt derivation paid (116k groups, avgHashProbe
      // 150, 134 MB partial hash tables) — each doc emits (term, 1, 0)
      // per token and (term, 0, 1) per DISTINCT token, and one
      // vocabulary-keyed aggregate (map-side partials collapse to the
      // vocabulary immediately) yields tf and df exactly.
      // Vocabulary-bounded and consumed four ways (band x2, marginal
      // attach x2): every consumer references BOTH aggregate outputs
      // (the always-true tf > 0 / df > 0 guards below, the q55 device),
      // so column pruning cannot specialize their partial aggregates
      // apart and all four read ONE reused (term) exchange — a
      // localCheckpoint was tried here and cost more than it saved
      // (~0.6 s of eager-job overhead per invocation).
      val stats = base.select(explode(concat(
          transform(col("arr"),
                    x => struct(x.as("term"), lit(1L).as("c"), lit(0L).as("dc"))),
          transform(array_distinct(col("arr")),
                    x => struct(x.as("term"), lit(0L).as("c"), lit(1L).as("dc")))))
          .as("e"))
        .select(col("e.term").as("term"), col("e.c").as("c"), col("e.dc").as("dc"))
        .groupBy("term")
        .agg(sum("c").as("tf"), sum("dc").as("df"))
      // r21 (guide §2.3): pair EVENTS carry the terms' 64-bit hashes, not
      // the strings — the q38/q85 engine-local-identity convention (the
      // oracle recomputes its own pairs; only the 30 surviving rows remap
      // to strings below, and the gate verifies collision-freedom on the
      // driver corpora). The corpus-token-sized event stream drops from
      // two strings to two longs per row, the pair aggregate probes a
      // 16-byte key, and least/greatest orientation by hash picks the
      // same canonical UNORDERED pair (counts identical; the final
      // projection restores the lexicographic column order).
      val band = stats.crossJoin(broadcast(n))
        .filter(col("df") >= 5 && col("df") <= lit(0.9) * col("n") &&
                col("tf") > 0)
        .select(xxhash64(col("term")).as("h"))
      val tfh = stats.filter(col("df") > 0)
        .select(col("term"), col("tf"), xxhash64(col("term")).as("h"))
      // total tokens = sum of per-doc lengths — one explode-free pass
      // over base, not a fifth stats derivation (equal to sum(tf) by
      // construction)
      val tot = base.agg(sum(size(col("arr"))).cast("double").as("t"))
      // window-bounded events: position i pairs with positions i+1..i+4
      // (1-based slice start i+2), entirely inside codegen'd array HOFs
      val events = base
        .select(transform(col("arr"), x => xxhash64(x)).as("harr"))
        .select(explode(flatten(transform(col("harr"), (x, i) =>
          transform(filter(slice(col("harr"), i + lit(2), lit(4)), y => y =!= x),
                    y => struct(least(x, y).as("ta"), greatest(x, y).as("tb"))))))
        .as("e"))
        .select(col("e.ta").as("ha"), col("e.tb").as("hb"))
      val p = events
        .join(broadcast(band.select(col("h").as("ha"))), "ha")
        .join(broadcast(band.select(col("h").as("hb"))), "hb")
        .groupBy("ha", "hb").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      // marginal attach: broadcast the bounded pair table into the
      // vocabulary-sized tf scan (tf may not fit in a broadcast at
      // open-web vocabulary; p always fits after the n_ab floor). n_a*n_b
      // is symmetric, so hash-orientation vs string-orientation cannot
      // change pmi; term_a/term_b restore lexicographic order explicitly.
      val withA = tfh.select(col("h").as("ha"), col("term").as("sa"),
                             col("tf").as("n_a"))
        .join(broadcast(p), "ha")
      val withB = tfh.select(col("h").as("hb"), col("term").as("sb"),
                             col("tf").as("n_b"))
        .join(broadcast(withA), "hb")
      withB
        .crossJoin(broadcast(tot))
        .select(least(col("sa"), col("sb")).as("term_a"),
                greatest(col("sa"), col("sb")).as("term_b"),
                col("n_ab").cast("long").as("n_ab"),
                round(log((col("n_ab").cast("double") * col("t")) /
                          (col("n_a").cast("double") * col("n_b"))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("n_ab").desc, col("term_a"), col("term_b"))
        .limit(30)
    },

    Q.noOracle("q71_multimodal_pipeline",
      "The full multimodal path end to end: binary asset table -> batched " +
        "partition-parallel decode (stubbed codec, real mapPartitions " +
        "plumbing) -> resize column math -> frame sampling -> per-kind " +
        "stats. Deterministic (stub decodes hash the payload), " +
        "MultimodalSpec owns the per-stage assertions; this registers the " +
        "pipeline with the driver.") { (s, d) =>
      import graft.cpms.Multimodal
      // (r21: spread() tried here and reverted — the stub decode is too
      // cheap to amortize the extra exchange; measured 0.23 -> 0.28 s)
      val assets = Multimodal.assetsFromDocuments(docs(s, d))
      val decoded = Multimodal.decode(assets)
      val resized = Multimodal.resize(decoded, 512)
      Multimodal.sampleFrames(resized, everyK = 10, cap = 8)
        .groupBy("kind")
        .agg(count(lit(1)).as("n_assets"),
             round(avg(col("out_width") * col("out_height")), 2).as("avg_out_pixels"),
             sum(size(col("frame_idx"))).cast("long").as("n_sampled_frames"),
             round(avg(aggregate(col("feature"), lit(0.0),
                                 (acc, x) => acc + x * x)), 6).as("avg_feat_norm_sq"))
    },

    Q.noOracle("q123_audio_neardup",
      "Perceptual AUDIO near-dup — the dedup family's audio modality: a " +
        "deterministic audio corpus derived from `documents` (real mono " +
        "PCM WAVs, two-sine carriers under a per-window amplitude " +
        "staircase seeded by content hash, plus a planted HALF-VOLUME " +
        "re-quantized duplicate for " +
        "every 10th doc) decodes through the real WAV codec to a 64-bit " +
        "energy-delta fingerprint (65 time windows, sign of adjacent " +
        "energy deltas — gain-invariant), then the same 4x16-bit " +
        "pigeonhole banding as q37/q121 surfaces every pair within " +
        "Hamming <= 3. MultimodalSpec owns the planted-pair/invariance " +
        "assertions; no SQL oracle (DuckDB cannot decode WAV payloads).") { (s, d) =>
      import graft.cpms.Multimodal
      // spread: synth + codec are CPU-bound mapPartitions work that a
      // single-split local scan would otherwise serialize onto ~1 task
      val assets = Multimodal.syntheticAudioAssets(spread(docs(s, d)))
      Multimodal.audioNearDup(Multimodal.decode(assets))
        .orderBy("id_a", "id_b")
    },

    Q.noOracle("q121_image_neardup",
      "Perceptual image near-dup — the dedup family's image modality: a " +
        "deterministic image corpus derived from `documents` (real P6 " +
        "payloads seeded by content hash, plus a planted brightness-" +
        "shifted BMP RE-ENCODE for every 10th doc) goes through the real " +
        "codec chain to a 64-bit dHash of the decoded luma grid, then " +
        "the q37 pigeonhole machinery (4x16-bit bands, exact Hamming " +
        "verify <= 3) surfaces every near-duplicate pair. dHash " +
        "gradients are invariant to the container swap and the uniform " +
        "brightness shift, so each planted pair lands at Hamming 0 while " +
        "unrelated noise images sit near the 32-bit expectation — " +
        "MultimodalSpec owns the planted-pair/recall assertions; no SQL " +
        "oracle (DuckDB cannot decode image payloads).") { (s, d) =>
      import graft.cpms.Multimodal
      // spread: synth + codec are CPU-bound mapPartitions work that a
      // single-split local scan would otherwise serialize onto ~1 task
      val assets = Multimodal.syntheticImageAssets(spread(docs(s, d)))
      Multimodal.imageNearDup(Multimodal.decode(assets))
        .orderBy("id_a", "id_b")
    },

    Q("q102_topk_diversity",
      "Retrieval-redundancy audit: the mean pairwise cosine BETWEEN the " +
        "members of each query's top-5 result list (q40's brute-force " +
        "truth). A list of five mutual near-duplicates scores ~1 — the " +
        "retrieval served one document five times; RAG and hard-negative " +
        "mining pipelines track exactly this number per query batch. " +
        "Scale shape: top lists are k rows per query (bounded), so the " +
        "within-list pair join is a self-join on qid with C(k,2)=10 " +
        "pairs per query — candidate generation is the distributed " +
        "part, the audit never grows past k^2 rows per query.",
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT qid, vec_id,
        |        list_dot_product(qv, v) /
        |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |      FROM q CROSS JOIN c WHERE qid <> vec_id),
        |top AS (SELECT qid, vec_id FROM (
        |          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |          FROM s) WHERE rk <= 5),
        |p AS (SELECT t1.qid,
        |        list_dot_product(c1.v, c2.v) /
        |          (sqrt(list_dot_product(c1.v, c1.v)) *
        |           sqrt(list_dot_product(c2.v, c2.v))) AS pcos
        |      FROM top t1 JOIN top t2 ON t1.qid = t2.qid AND t1.vec_id < t2.vec_id
        |      JOIN c c1 ON c1.vec_id = t1.vec_id
        |      JOIN c c2 ON c2.vec_id = t2.vec_id)
        |SELECT qid, CAST(count(*) AS BIGINT) AS n_pairs,
        |  floor(sum(CAST(round(pcos * 10000, 0) AS BIGINT)) / count(*) + 0.5)
        |    / 10000.0 AS mean_pairwise_cos
        |FROM p GROUP BY qid""".stripMargin) { (s, d) =>
      val c = embs(s, d).select(col("vec_id"), col("embedding").as("v"))
      val q = c.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("v").as("qv"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      val top = c.join(broadcast(q), col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"), col("v"), cosine(col("qv"), col("v")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id"), col("v"))
      top.as("a")
        .join(top.as("b"),
              col("a.qid") === col("b.qid") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.qid").as("qid"), cosine(col("a.v"), col("b.v")).as("pcos"))
        .groupBy("qid")
        // q101's cross-engine spelling: sum 4dp-scaled integers, then
        // explicit half-up division — avg() of doubles adds an
        // accumulation-order hazard and round() implementations disagree
        // on exact halves
        .agg(count(lit(1)).cast("long").as("n_pairs"),
             (floor(sum(round(col("pcos") * 10000, 0).cast("long"))
                    / count(lit(1)) + lit(0.5)) / lit(10000.0))
               .as("mean_pairwise_cos"))
    },

    Q.noOracle("q103_mmr_rerank",
      "Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, " +
        "SIGIR'98): greedy top-5 selection maximizing lambda*rel(q,d) - " +
        "(1-lambda)*max_{s in S} sim(d,s) over a brute-force top-20 " +
        "candidate pool per query — the standard diversity fix for the " +
        "redundancy q102 measures. Scale shape: candidate generation is " +
        "the distributed pass (one corpus scan, broadcast queries — " +
        "q107 is the same greedy over the q41 LSH pool, the " +
        "billion-vector spelling); the greedy loop is " +
        "O(k*pool) per query over a BOUNDED pool, run per-group via " +
        "mapGroups (the documented per-partition-imperative exception: " +
        "iterative argmax over <=20 rows has no declarative spelling). " +
        "MmrSpec proves lambda=1 reproduces q40's top-5 exactly and " +
        "lambda=0.5 never increases q102's mean intra-list cosine.") {
      (s, d) => mmrRerank(s, d, lambda = 0.5, pool = 20, k = 5)
    },

    Q("q106_hapax_share",
      "Hapax-legomenon share per document: the fraction of a doc's " +
        "distinct tokens that appear NOWHERE else in the corpus (df=1 " +
        "after per-doc dedup) — the classic OCR-garbage/mojibake signal " +
        "(corrupted text mints unique token soup; clean text reuses the " +
        "corpus vocabulary). Complements q82's unigram log-prob, which " +
        "needs a frequency model — hapax share is pure df plumbing. " +
        "Scale shape: the same two token shuffles as q38's prefix stage " +
        "(explode -> df on term, rejoin on term, rollup on doc_id), all " +
        "map-side-partial aggregates on scalable keys; the df table " +
        "joins by shuffle at open-web vocabulary, broadcast here.",
      """WITH g AS (SELECT DISTINCT doc_id, unnest(list_distinct(
        |             string_split(text, ' '))) AS term FROM documents),
        |df AS (SELECT term, count(*) AS df FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(count(*) FILTER (WHERE df = 1) AS BIGINT) AS n_hapax,
        |  round(CAST(count(*) FILTER (WHERE df = 1) AS DOUBLE) / count(*), 4)
        |    AS hapax_share
        |FROM g JOIN df USING (term)
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      val g = spread(docs(s, d))
        .select(col("doc_id"),
                explode(array_distinct(tokens(col("text")))).as("term"))
      val df = g.groupBy("term").agg(count(lit(1)).as("df"))
      g.join(df, "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_distinct"),
             sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_hapax"),
             round(sum(when(col("df") === 1, 1.0).otherwise(0.0)) / count(lit(1)), 4)
               .as("hapax_share"))
    },

    Q.noOracle("q107_mmr_lsh",
      "q103's MMR re-rank with its candidate pool drawn from the q41 " +
        "multi-probe LSH path instead of the brute-force corpus scan — " +
        "the composition that actually runs at billion-vector scale, " +
        "where no brute pool exists. Candidate generation stays a bucket " +
        "equi-join (probe expansion on the query side), the greedy loop " +
        "stays O(k*pool) per query over the bounded pool. MmrSpec bounds " +
        "it against ORACLED truth: the lambda=1 selection's recall vs " +
        "q40's brute top-5 meets the q41 floor (>=0.6), and lambda=0.5 " +
        "lists are never meaningfully more redundant than the " +
        "brute-pooled q103 ones.") {
      (s, d) => mmrRerankLsh(s, d, lambda = 0.5, pool = 20, k = 5)
    },

    Q.noOracle("q116_ann_pq",
      "Product-quantization ANN (Jegou et al. 2011), completing the " +
        "family: brute (q40, the oracle truth), multi-probe LSH (q41), " +
        "IVF (q54), and now the compressed-domain method that scales " +
        "past all of them — the corpus is stored as 16 4-bit codes per " +
        "vector (8 bytes vs 256, 32x), queries compute ONE per-query " +
        "distance table (m*k work) and then every candidate costs m " +
        "table lookups (asymmetric distance). The ADC top-50 pool is " +
        "exactly re-ranked by true cosine to the final top-5 (the " +
        "standard PQ + re-rank shape); vectors are L2-normalized before " +
        "quantization so the L2-trained codebook serves the cosine " +
        "metric. Codebooks are m per-subspace KMeans fits, build-once " +
        "per corpus snapshot and cached like the IVF index; all three " +
        "kernels are codegen'd expressions. RecallSpec measures " +
        "recall@5 = 0.925 vs q40's oracled truth (best of the " +
        "approximate family: LSH 0.725, IVF 0.675), floors it at the " +
        "q41 bar (>=0.6), and asserts the cache amortizes the fits.") {
      (s, d) => annPq(s, d, pool = 50, k = 5)
    },

    Q.noOracle("q118_semdedup",
      "SemDeDup (Abbas et al. 2023): semantic deduplication inside " +
        "embedding-space clusters — pairs above a cosine threshold " +
        "WITHIN each IVF cell form duplicate groups (connected " +
        "components), and each group keeps its most centroid-DISTANT " +
        "member (the paper's diversity-preserving rule; ties to the " +
        "lowest vec_id). Complements q39: SRP bucketing needs sign-" +
        "identical projections, while cell-scoped comparison catches " +
        "moderately-similar semantic duplicates that hash apart. Scale " +
        "shape: the quadratic step is confined to single cells (k " +
        "scales with the corpus so n/k stays bounded — the paper runs " +
        "50k clusters on LAION); the cell assignment is the PERSISTED " +
        "q54 IVF index (zero extra KMeans fits), centroids broadcast, " +
        "components via the q64 min-label/pointer-jumping engine " +
        "(O(log diameter) shuffle rounds). Threshold 0.4 keeps the " +
        "operator observable on this synthetic corpus (uniform random " +
        "embeddings top out near cos 0.48; raise to ~0.95 for real " +
        "data). SemDedupSpec proves the group/keeper semantics on " +
        "crafted cells; determinism across runs.") { (s, d) =>
      // the resolved semantic-dup table is a DerivedCache artifact
      // (cluster_labels_v1's embedding-space sibling): a fresh session
      // reads (vec_id, cluster_id, cos_centroid, keep) parquet instead
      // of re-running cell pairing + component resolution. NOT
      // append-incremental by design: cells come from a KMeans fit
      // over the snapshot — an append moves the centroids and with
      // them every OLD vector's cell assignment, so refreshed ==
      // rebuilt only via a full re-fit (freezing the codebook would
      // be a different, weaker semantic)
      DerivedCache.orBuild(s, d, "semdedup_v1") {
        val (centers, assigned) = ivfIndex(s, d, 16)
        semDedupCells(s, assigned, centers, tau = 0.4)
      }.orderBy("cluster_id", "vec_id")
    },

    Q("q159_embedding_leakage",
      "EMBEDDING-space split-leakage audit — the modality the token " +
        "families (q147's pair audit, q150's cluster-hash split, q95's " +
        "fuzzy decontamination) cannot see: for every held-out doc " +
        "(q59's val/test), its maximum cosine against ANY train doc, " +
        "flagged at the q118 observability threshold (0.4 on this " +
        "synthetic corpus; ~0.95 on real data). A val doc whose " +
        "nearest train neighbor is a semantic twin inflates eval even " +
        "when no tokens overlap — paraphrase leakage. Scale shape: " +
        "the q40 audit pattern — the audited pool is a FIXED-SIZE " +
        "deterministic prefix of the held-out docs (lowest doc_ids, " +
        "EvalPoolCap rows; a production eval set is fixed-size by " +
        "construction, and a 25%-of-corpus broadcast would not be), " +
        "so the broadcast is constant at any corpus size and the " +
        "train corpus scans ONCE with a per-row fold — no quadratic " +
        "shuffle. Exact by construction (brute max, not LSH recall), " +
        "so DuckDB re-derives it verbatim.",
      s"""WITH sp AS (SELECT doc_id,
        |    CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |tr AS (SELECT e.vec_id, v FROM e JOIN sp ON sp.doc_id = e.vec_id
        |       WHERE split = 'train'),
        |nt AS (SELECT e.vec_id AS doc_id, sp.split, v
        |       FROM e JOIN sp ON sp.doc_id = e.vec_id
        |       WHERE split <> 'train'
        |       ORDER BY e.vec_id LIMIT ${EvalPoolCap}),
        |s AS (SELECT nt.doc_id, nt.split,
        |        list_dot_product(nt.v, tr.v) /
        |          (sqrt(list_dot_product(nt.v, nt.v)) *
        |           sqrt(list_dot_product(tr.v, tr.v))) AS cos
        |      FROM nt CROSS JOIN tr)
        |SELECT doc_id, split, round(max(cos), 4) AS max_train_cos,
        |  CAST(CASE WHEN max(cos) >= 0.4 THEN 1 ELSE 0 END AS BIGINT)
        |    AS leaked
        |FROM s GROUP BY doc_id, split""".stripMargin) { (s, d) =>
      val h = substring(md5(col("text")), 1, 1)
      val sp = docs(s, d).select(
        col("doc_id"),
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
          .as("split"))
      val e = embs(s, d).select(col("vec_id").as("doc_id"),
                                col("embedding").as("v"))
        .join(sp, "doc_id")
      // r21 (guide §1.2 step 2 + §2.6): the pair loop is dot-only — both
      // norms PRECOMPUTE once per row (train-side in the scan projection,
      // held-side in the bounded broadcast), where the previous
      // cosine_sim(v, tv) recomputed them once per PAIR (EvalPoolCap
      // times per train row). dot / (vn * tvn) runs the exact double ops
      // of cosine_sim in the exact order (dot fold, normSq folds, sqrt
      // each, multiply, divide) — bit-identical. spread() unserializes
      // the train scan: the whole audit ran as one task off a
      // single-split parquet scan.
      import graft.functions.VectorMath.{dot_product, l2_norm}
      val tr = spread(e.filter(col("split") === "train"))
        .select(col("v").as("tv"), l2_norm(col("v")).as("tvn"))
      // fixed-size eval pool: TakeOrdered, so the broadcast is capped
      // regardless of corpus size
      val held = e.filter(col("split") =!= "train")
        .select(col("doc_id"), col("split"), col("v"))
        .orderBy("doc_id").limit(EvalPoolCap)
        .withColumn("vn", l2_norm(col("v")))
      tr.crossJoin(broadcast(held))
        .select(col("doc_id"), col("split"),
                (dot_product(col("v"), col("tv")) /
                  (col("vn") * col("tvn"))).as("cos"))
        .groupBy("doc_id", "split")
        .agg(round(max("cos"), 4).as("max_train_cos"),
             (max("cos") >= 0.4).cast("long").as("leaked"))
    },

    Q("q157_semantic_outliers",
      "Per-DOC semantic outlier score: cosine between each document's " +
        "embedding and its OWN source's centroid — q154's drift audit " +
        "taken down to row granularity. A source can sit perfectly on " +
        "distribution in aggregate while routing mistakes, spam " +
        "injections, or mislabeled shards hide inside it; the docs " +
        "whose cos_centroid falls in the low tail are exactly the rows " +
        "a curator samples for inspection (the doc's own vector is " +
        "part of its centroid — standard, deterministic, and " +
        "vanishing at source sizes that matter). Cross-engine float " +
        "discipline, the q154 convention extended per-doc: coordinates " +
        "round half-up to 1e-6-scaled BIGINTs, the centroid is the " +
        "per-(source, dim) integer sum, and the per-doc dot/norm fold " +
        "runs in decimal(38,0) (HUGEINT in the oracle) — EXACT, so " +
        "reducer and array order are irrelevant and only the final " +
        "dims-bounded double division touches floats. Scale shape: " +
        "ONE coordinate explode builds the (sources x dims)-bounded " +
        "centroid table (map-side partials; the q154 lesson — nothing " +
        "re-aggregates the explode), centroids collapse to " +
        "dims-bounded ARRAYS that broadcast, and scoring is a pure " +
        "per-row zip_with fold over the embedding scan — no second " +
        "explode, no corpus-sized shuffle at all.",
      """WITH e AS (SELECT d.source, v.vec_id AS doc_id,
        |    unnest(range(1, len(v.embedding) + 1)) AS i,
        |    CAST(floor(CAST(unnest(v.embedding) AS DOUBLE) * 1000000 + 0.5)
        |      AS BIGINT) AS xi
        |  FROM embeddings v JOIN documents d ON d.doc_id = v.vec_id),
        |bys AS (SELECT source, i, CAST(sum(xi) AS BIGINT) AS sx
        |        FROM e GROUP BY 1, 2),
        |ss AS (SELECT source, sum(CAST(sx AS HUGEINT) * sx) AS ss
        |       FROM bys GROUP BY 1),
        |j AS (SELECT e.doc_id, e.source,
        |        sum(CAST(xi AS HUGEINT) * sx) AS dot,
        |        sum(CAST(xi AS HUGEINT) * xi) AS xx
        |      FROM e JOIN bys USING (source, i) GROUP BY 1, 2)
        |SELECT doc_id, j.source,
        |  round(CAST(dot AS DOUBLE) /
        |        (sqrt(CAST(xx AS DOUBLE)) * sqrt(CAST(ss AS DOUBLE))), 4)
        |    AS cos_centroid
        |FROM j JOIN ss USING (source)""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val scaled = embs(s, d)
        .select(col("vec_id").as("doc_id"),
                transform(col("embedding"), x =>
                  floor(x.cast("double") * 1000000 + lit(0.5)).cast("long"))
                  .as("xv"))
        .join(docs(s, d).select("doc_id", "source"), "doc_id")
      val bys = scaled
        .select(col("source"), posexplode(col("xv")).as(Seq("i", "xi")))
        .groupBy("source", "i").agg(sum("xi").cast("long").as("sx"))
      // centroid arrays + norms: (sources x dims)-bounded — the one
      // collect_list that is legal (dims elements per group) and the
      // one broadcast that is right
      val cent = bys.groupBy("source").agg(
        transform(array_sort(collect_list(struct(col("i"), col("sx")))),
                  p => p.getField("sx")).as("cs"),
        sum(col("sx").cast(dec) * col("sx").cast(dec)).as("ss"))
      scaled.join(broadcast(cent), "source")
        .select(col("doc_id"), col("source"),
          round(
            aggregate(zip_with(col("xv"), col("cs"),
                               (a, b) => a.cast(dec) * b.cast(dec)),
                      lit(0L).cast(dec), (acc, x) => acc + x)
              .cast("double") /
            (sqrt(aggregate(col("xv"),
                            lit(0L).cast(dec),
                            (acc, x) => acc + x.cast(dec) * x.cast(dec))
                    .cast("double")) *
             sqrt(col("ss").cast("double"))), 4).as("cos_centroid"))
    }
  )

  /** q116 body, parameterized for RecallSpec: ADC top-`pool` then exact
    * cosine re-rank to top-`k` for the 8 probe queries.
    */
  def annPq(s: SparkSession, d: String, pool: Int, k: Int): DataFrame = {
    import graft.functions.Pq.{pq_adc, pq_dist_table}
    val (cb, coded) = pqIndex(s, d)
    val q = embs(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), vecd(col("embedding")).as("qv"),
              normed(col("embedding")).as("qn"))
      .withColumn("dtab", pq_dist_table(col("qn"), cb, PqM, PqK))
      .drop("qn")
    val wAdc = Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id"))
    val wCos = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    coded.join(broadcast(q), col("qid") =!= col("vec_id"))
      .withColumn("adc", pq_adc(col("codes"), col("dtab"), PqK))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= pool)
      .select(col("qid"), col("vec_id"), cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rk", row_number().over(wCos))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"),
              col("rk").cast("long").as("rk"))
  }

  /** q118 body, parameterized for SemDedupSpec: semantic dedup over a
    * pre-clustered corpus. `assigned` carries (vec_id, v, cell); `centers`
    * the per-cell centroid. Output: every vector in a duplicate group —
    * (vec_id, cluster_id = min vec_id of the group, cos_centroid, keep),
    * keep = 1 for the group's most centroid-distant member (min cosine to
    * centroid, vec_id tie-break).
    */
  def semDedupCells(s: SparkSession, assigned: DataFrame,
                    centers: Seq[(Int, Array[Double])],
                    tau: Double): DataFrame = {
    import s.implicits._
    val a = assigned.select(col("vec_id"), col("v"), col("cell"))
    // within-cell pairs above the threshold; both orientations for the
    // component engine
    val pairs = a.select(col("cell"), col("vec_id").as("id_a"), col("v").as("va"))
      .join(a.select(col("cell"), col("vec_id").as("id_b"), col("v").as("vb")),
            Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= tau)
      .select(col("id_a"), col("id_b"))
    val edges = pairs
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist()
    val labels = Curation.connectedComponents(edges)
    // labels is localCheckpoint'ed (materialized) by the engine, so the
    // edge list is no longer needed
    edges.unpersist()
    val cdf = centers.map { case (cell, cv) => (cell, cv) }
      .toDF("cell", "cv")
    val withC = a.join(broadcast(cdf), Seq("cell"))
      .select(col("vec_id"), cosine(col("v"), col("cv")).as("ccos"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("ccos").asc, col("vec_id"))
    labels.select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .join(withC, Seq("vec_id"))
      .withColumn("keep", (row_number().over(w) === 1).cast("long"))
      .select(col("vec_id"), col("cluster_id"),
              round(col("ccos"), 4).as("cos_centroid"), col("keep"))
      .orderBy("cluster_id", "vec_id")
  }

  /** q41's multi-probe SRP-LSH candidate set, reusable: every (query,
    * corpus-vector) pair sharing a probed bucket in any of the 4 hash
    * tables, with exact cosine attached — (qid, vec_id, cos, v). The
    * probe expansion (Hamming<=2, 37 buckets/table) stays on the QUERY
    * side so the candidate join is a bucket equi-join; q41 rank-filters
    * this to its top-5, [[mmrRerankLsh]] draws its re-rank pool from it.
    */
  def lshCandidates(s: SparkSession, d: String): DataFrame = {
    val tables = 4
    // buckets within Hamming<=2 of the query signature: 1 + 8 + C(8,2)
    val probeMasks: Seq[Long] =
      0L +: ((0 until 8).map(b => 1L << b) ++
             (for { a <- 0 until 8; b <- a + 1 until 8 } yield (1L << a) | (1L << b)))
    val e = embs(s, d).select(col("vec_id"), col("embedding").as("v"))
    val tabbed = e.select(
      col("vec_id"), col("v"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), srp_sig(col("v"), 8, t).as("sig"))): _*)).as("ts"))
      .select(col("vec_id"), col("v"), col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
    val q = tabbed.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("tbl"), col("sig"))
      .withColumn("sig", explode(array(probeMasks.map(m =>
        col("sig").bitwiseXOR(lit(m))): _*)))
    tabbed.join(q, Seq("tbl", "sig"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("qv"), col("vec_id"), col("v"))
      .distinct()
      .select(col("qid"), col("vec_id"), cosine(col("qv"), col("v")).as("cos"),
              col("v"))
  }

  /** q103 body, parameterized for MmrSpec's lambda sweep: greedy MMR over
    * the brute-force top-`pool` candidates.
    */
  def mmrRerank(s: SparkSession, d: String, lambda: Double, pool: Int, k: Int): DataFrame = {
    val c = embs(s, d).select(col("vec_id"), vecd(col("embedding")).as("v"))
    val q = c.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    val cand = c.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), col("v"), cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= pool)
      .select(col("qid"), col("vec_id"), col("cos"), col("v"))
    mmrGreedy(s, cand, lambda, k)
  }

  /** q107 body: MMR whose candidate pool comes from the q41 multi-probe
    * LSH path instead of the brute-force scan — the spelling that
    * survives billion-vector corpora, where the brute pool is
    * unavailable. Same greedy, same bounds machinery (MmrSpec ties its
    * recall to q40's oracled truth via the q41 floor).
    */
  def mmrRerankLsh(s: SparkSession, d: String, lambda: Double, pool: Int, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    val cand = lshCandidates(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= pool)
      .select(col("qid"), col("vec_id"), col("cos"), vecd(col("v")).as("v"))
    mmrGreedy(s, cand, lambda, k)
  }

  /** Shared greedy MMR selection over a BOUNDED per-query candidate frame
    * (qid, vec_id, cos, v) — the documented per-partition-imperative
    * exception: iterative argmax over <=pool rows has no declarative
    * spelling.
    */
  private def mmrGreedy(s: SparkSession, candDf: DataFrame, lambda: Double, k: Int): DataFrame = {
    import s.implicits._
    val cand = candDf.as[(Long, Long, Double, Seq[Double])]
    def cosLocal(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    cand.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // deterministic greedy: candidates sorted by (rel desc, vec_id);
        // the strict > in the argmax then breaks score ties the same way
        val cands = it.toArray.sortBy(t => (-t._3, t._2))
          .map(t => (t._2, t._3, t._4.toArray))
        val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
        val scores = scala.collection.mutable.ArrayBuffer.empty[Double]
        while (picked.length < k && picked.length < cands.length) {
          var bestIdx = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cands.length) {
            if (!picked.contains(i)) {
              val (_, rel, v) = cands(i)
              // penalty = max similarity to anything already selected
              // (NegativeInfinity start so all-negative sims still rank)
              var maxSim = Double.NegativeInfinity
              picked.foreach { j =>
                val sim = cosLocal(v, cands(j)._3)
                if (sim > maxSim) maxSim = sim
              }
              val score =
                if (picked.isEmpty) lambda * rel
                else lambda * rel - (1 - lambda) * maxSim
              if (score > bestScore) { bestScore = score; bestIdx = i }
            }
            i += 1
          }
          picked += bestIdx
          scores += bestScore
        }
        picked.zipWithIndex.map { case (idx, r) =>
          // repo rounding convention (q101): explicit half-up, not
          // rint's half-to-even — keeps q103 oracle-able later
          (qid, cands(idx)._1, (r + 1).toLong,
           math.floor(scores(r) * 10000 + 0.5) / 10000)
        }
      }
      .toDF("qid", "vec_id", "rk", "mmr_score")
  }
}
