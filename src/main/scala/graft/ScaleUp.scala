package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dev tool: deterministic FACTOR-x scale-up of a corpus dir's
  * `documents` and `embeddings` tables, for scaling audits beyond the
  * largest driver-generated SF (correctness always runs on driver data;
  * this exists only to measure wall-time growth).
  *
  * Vocabulary growth follows HEAPS' LAW: a real corpus scaled n-fold
  * grows its type inventory ~n^0.8, and the new types are RARE — they
  * live in the frequency tail, not on the token mass. The round-14
  * generator mutated every 13th token occurrence per replica, which
  * grew the vocabulary ~10x at factor 10 AND put the novel types on
  * ~8% of the token MASS — so every vocabulary-bound shape (the
  * funnel's lm gate, q161's LLR probe, q110) measured a distribution
  * no crawl produces (the "ScaleUp vocabulary distortion" caveat;
  * every doc failed the lm gate). This generator instead:
  *
  *   - INSERTS, at ~1/499 of token positions chosen by content hash
  *     (Bernoulli per position, so ~90% of 54-token replica docs carry
  *     ZERO novel tokens), one token drawn from a replica-private pool
  *     of exactly V0*((k+1)^0.8 - k^0.8) novel types (hash of
  *     (doc_id, pos) picks the pool member) — cumulative vocabulary
  *     after factor f approaches V0*f^0.8 by coupon-collector coverage
  *     of the pool (the realized exponent is measured and printed),
  *     while novel-token mass stays ~0.2%. The budget is sound for
  *     real corpora too: Heaps' marginal new-type rate is
  *     0.8*V(N)/N new types per token (~0.001 for web English), under
  *     the 1/499 insertion rate. Docs that DO carry a novel token
  *     score visibly worse at the lm gate — which is exactly how real
  *     crawl novelty behaves — but the gate stays alive because most
  *     replica docs are base-vocabulary-pure. Renaming existing types
  *     cannot do any of this on a tail-less synthetic vocabulary (the
  *     driver corpus has ~31 types, ALL common): any rename moves
  *     macroscopic mass and the lm gate kills every replica (measured:
  *     rarest-first whole-type renaming left 0 of 45000 replica docs
  *     alive; this scheme keeps the funnel's keep-rate shape).
  *   - TRANSPOSES adjacent tokens at every 29th position — a
  *     permutation of the existing tokens: zero new types, unigram
  *     frequencies untouched, but doc hashes and most shingles move,
  *     so exact-dedup ladders measure scale, not replica collapse.
  *
  * Both are pure per-row projections — no joins, no windows, no
  * vocabulary-sized state — so the generator itself scales like a
  * scan. Embedding replicas get small deterministic per-coordinate
  * perturbations (near-dup structure across replicas, the SemDeDup
  * shape). doc_id/vec_id ranges stay disjoint via per-replica offsets.
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    val spark = Run.session(Run.cores)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.agg(max("doc_id")).head().getLong(0) + 1
    val v0 = docs.select(explode(split(col("text"), " ")).as("term"))
      .agg(countDistinct("term")).head().getLong(0)
    def heaps(n: Double): Double = math.pow(n, 0.8)

    val docOut = (0 until factor).map { k =>
      if (k == 0) docs.select("doc_id", "text", "lang", "source", "n_chars")
      else {
        // replica k's novel-type pool size (the Heaps increment)
        val poolK = math.max(1L, math.round(v0 *
          (heaps(k + 1.0) - heaps(k.toDouble))))
        val tok = split(col("text"), " ")
        // REPLICA-KEYED hash-selected adjacent transpositions (~1/13
        // of positions start a swap; a start whose left neighbor is
        // also a start is suppressed, so swap pairs never overlap):
        // every replica permutes differently, including docs far
        // shorter than any fixed period — a replica-independent swap
        // (or a fixed phase, which skips docs shorter than its period;
        // the driver corpus averages ~54 tokens) left insertion-free
        // replicas byte-identical to their siblings. The residual
        // (no swap fired AND no insertion — short docs; measured ~6%
        // of rows at factor 4 on the ~54-token driver corpus) is KEPT:
        // real crawls carry exact reposts, and a generator with zero
        // exact duplication would be the unrealistic one. Clamped at
        // the array edges, where the swap partner does not exist.
        val n = size(tok)
        def hit(i: Column) =
          pmod(xxhash64(col("doc_id"), i, lit(k)), lit(13)) === 0
        val transposed = transform(tok, (_, i) => {
          val j = when(hit(i) && !hit(i - 1) && i + 1 < n, i + 1)
            .when(i > 0 && hit(i - 1) && !hit(i - 2), i - 1)
            .otherwise(i)
          element_at(tok, (j + 1).cast("int"))
        })
        // novel-type insertion at ~1/499 of positions by content hash
        // (position-modulo would hit position 0 of EVERY doc); pool
        // member by a second hash, replica-suffixed so pools never
        // collide
        val mutated = array_join(flatten(
          transform(transposed, (t, i) =>
            when(pmod(xxhash64(col("doc_id"), i, lit(k)), lit(499)) === 0,
              array(concat_ws("~", lit("zz"), lit(k),
                pmod(xxhash64(lit(k), i, col("doc_id")), lit(poolK))), t))
              .otherwise(array(t)))), " ")
        docs.select((col("doc_id") + lit(k * nDocs)).as("doc_id"),
                    mutated.as("text"), col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .select("doc_id", "text", "lang", "source", "n_chars")
      }
    }.reduce(_ unionByName _)
    docOut.repartition(factor * 4).write.mode("overwrite")
      .parquet(s"$dst/documents.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val nVecs = embs.agg(max("vec_id")).head().getLong(0) + 1
    val embOut = (0 until factor).map { k =>
      if (k == 0) embs
      else
        embs.select(
          (col("vec_id") + lit(k * nVecs)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + (pmod(xxhash64(col("vec_id"), lit(k), i), lit(1000))
                   .cast("float") / lit(1e5f) - lit(0.005f))).as("embedding"),
          col("label"))
    }.reduce(_ unionByName _)
    embOut.repartition(factor).write.mode("overwrite")
      .parquet(s"$dst/embeddings.parquet")

    // report the realized Heaps exponent so a ladder run can cite it —
    // counts come from the LANDED parquet (re-executing the generation
    // pipeline just to count it would double the tool's wall time)
    val landed = spark.read.parquet(s"$dst/documents.parquet")
    val vOut = landed
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(countDistinct("term")).head().getLong(0)
    val beta = math.log(vOut.toDouble / v0) / math.log(factor.toDouble)
    val nD = landed.count()
    val nV = spark.read.parquet(s"$dst/embeddings.parquet").count()
    println(f"SCALED docs=$nD vecs=$nV " +
      f"vocab=$v0%d->$vOut%d (target ${math.round(v0 * heaps(factor.toDouble))}%d, " +
      f"realized beta=$beta%.3f) -> $dst")
    spark.stop()
  }
}
