package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** q131 BPE-merge learning vs an INDEPENDENT sequential reference
  * (imperative scan-and-rebuild, the textbook Sennrich et al. algorithm)
  * — the ConnectedComponentsSpec pattern: the distributed implementation
  * must reproduce the reference's full merge list exactly, on a planted
  * corpus exercising tie-breaks and merged-symbol reuse, and on the real
  * sf0.001 table.
  */
class BpeSpec extends AnyFunSuite with SparkSpec {

  /** Textbook sequential BPE over a word-frequency map. */
  private def refBpe(words: Map[String, Long], k: Int): Seq[(Long, String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, c) => (w.split("").toVector, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1L
    var halt = false
    while (step <= k && !halt) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.isEmpty) halt = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((step, l, r, c))
        vocab = vocab.map { case (syms, wc) => (mergeOnce(syms, l, r), wc) }
        step += 1
      }
    }
    out.toSeq
  }

  /** Greedy left-to-right non-overlapping replacement of (l, r). */
  private def mergeOnce(s: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += (l + r); i += 2 }
      else { b += s(i); i += 1 }
    }
    b.result()
  }

  private def sparkMerges(texts: Seq[String], k: Int): Seq[(Long, String, String, Long)] = {
    import spark.implicits._
    Prep.bpeMerges(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), k)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  private def refFromTexts(texts: Seq[String], k: Int): Seq[(Long, String, String, Long)] =
    refBpe(
      texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupMapReduce(identity)(_ => 1L)(_ + _),
      k)

  /** The sf0.001 documents' texts, collected once for the whole suite,
    * and the (doc_id, text) frame built from them.
    */
  private lazy val (sfTexts, sfFrame) = {
    import spark.implicits._
    val texts = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text").collect().map(_.getString(0)).toSeq
    (texts, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"))
  }

  test("planted corpus: merge list matches the sequential reference exactly") {
    // 'aa' dominates; 'aaa' exercises overlap (greedy takes one merge,
    // leaves a bare 'a'); after step 1 the merged symbol 'aa' must be
    // eligible as a LEFT side; 'bc'/'bd' counts tie to exercise the
    // lexicographic break.
    val texts = Seq(
      "aaaa aaaa aaa banana banana bc bd",
      "aaaa banana bc bd cab cab")
    val got = sparkMerges(texts, 8)
    val want = refFromTexts(texts, 8)
    assert(got === want)
    // the winning first merge is the dominant (a, a)
    assert(got.head._2 === "a" && got.head._3 === "a")
    // some later merge consumes a previously-merged symbol (left or
    // right side longer than one char) — the recursion that makes BPE
    // subword, not bigram
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1))
  }

  test("tie-break is lexicographic on (left, right) at equal count") {
    // xy and xz appear exactly twice each, nothing else repeats a pair
    // twice: (x, y) < (x, z) must win step 1 deterministically.
    val texts = Seq("xy xy xz xz")
    val got = sparkMerges(texts, 1)
    assert(got.length === 1)
    assert(got.head._2 === "x" && got.head._3 === "y")
    assert(got.head._4 === 2L)
    assert(got === refFromTexts(texts, 1))
  }

  test("sf0.001 corpus: full 16-merge list matches the reference") {
    val texts = sfTexts
    val got = sparkMerges(texts, Prep.BpeK)
    val want = refFromTexts(texts, Prep.BpeK)
    assert(got.length === Prep.BpeK)
    assert(got === want)
  }

  test("distributed path (vocab above the driver ceiling) is bit-identical to the fast path and the reference") {
    val (texts, frame) = (sfTexts, sfFrame)
    // driverVocabMax = 0 forces the k-round shuffle loop the 100 TB
    // vocabulary takes; -1 < any count so the fast path is impossible
    val distributed = Prep.bpeMergeList(frame, Prep.BpeK, driverVocabMax = -1L)
    assert(distributed === refFromTexts(texts, Prep.BpeK))
    assert(distributed === Prep.bpeMergeList(frame, Prep.BpeK))
  }

  test("forced distributed rounds stay within their job budget and truncate lineage every round") {
    // the budgets are what separate sequential and batched loops ran on
    // this input before they became one learner: 52 jobs at batch 1,
    // k = 16, and 89 at batch 16, k = 48. The sequential loop only
    // persisted each step, so its jobs' lineage grew by one applyMerge
    // per step.
    for ((k, batch, parentJobs) <- Seq((Prep.BpeK, 1, 52), (48, 16, 89))) {
      val (merges, rdds) = org.apache.spark.graft.Jobs(spark.sparkContext)(
        Prep.bpeMergeList(sfFrame, k, batch = batch, driverVocabMax = -1L))
      assert(merges.length === k)
      assert(rdds.length <= parentJobs,
             s"batch $batch, k $k: ${rdds.length} jobs > $parentJobs")
      // every round reads a checkpoint, so the deepest job of the last
      // rounds spans no more RDDs than one of the first rounds
      val third = rdds.length / 3
      assert(rdds.takeRight(third).max <= rdds.take(third).max,
             s"batch $batch, k $k: lineage grows, ${rdds.mkString(",")}")
    }
  }

  /** Sequential reference tokenizer: apply the merge list in order. */
  private def refTokenize(word: String, merges: Seq[(String, String)]): Int =
    merges.foldLeft(word.split("").toVector) {
      case (syms, (l, r)) => mergeOnce(syms, l, r)
    }.length

  test("q133 apply: per-doc subword counts match the reference tokenizer") {
    val (texts, frame) = (sfTexts, sfFrame)
    val merges = refFromTexts(texts, Prep.BpeK).map(m => (m._2, m._3))
    val got = Prep.bpeTokenCounts(frame, merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((t, i) <- texts.zipWithIndex) {
      val words = t.split(" ").filter(_.nonEmpty)
      val wantSub = words.map(w => refTokenize(w, merges).toLong).sum
      assert(got(i.toLong) === ((words.length.toLong, wantSub)),
             s"doc $i subword count mismatch")
    }
    // merges actually compress: strictly fewer subwords than characters,
    // strictly more than words
    val totSub = got.values.map(_._2).sum
    val totW = got.values.map(_._1).sum
    assert(totSub > totW, "subwords must exceed whitespace words")
  }

  // ---- batched learning (production vocab size) ----------------------

  /** A deterministic rich-vocabulary corpus (the sf0.001 documents
    * table holds only 31 distinct words and exhausts BPE at ~89
    * merges): ~3000 distinct pseudo-words with Zipf-ish counts, enough
    * pair mass for >1024 merges.
    */
  private def richDocs = {
    val syll = Array("ba", "ne", "tok", "ri", "zu", "pla", "mon", "dex",
                     "qu", "iv", "osh", "ka", "len", "fi", "gro", "wy")
    val docs = (0 until 600).map { d =>
      val words = (0 until 50).map { j =>
        val i = (d * 50 + j) % 3000
        val w = syll(i % 16) + syll((i / 16) % 16) + syll((i / 256) % 16) +
                (if (i % 3 == 0) syll(i % 7) else "")
        w
      }
      (d.toLong, words.mkString(" "), s"src${d % 4}")
    }
    docs
  }

  private def richFrame() = {
    import spark.implicits._
    richDocs.toDF("doc_id", "text", "source")
  }

  test("batched == sequential to exhaustion on sf0.001, and at k=1024 on a rich vocab") {
    // the real table: tiny vocabulary, so pin the COMPLETE merge list
    // (both learners must stop at the same exhaustion point). The two
    // share their counting and apply code, so each is also pinned to
    // the textbook reference, not only to the other
    val frame = sfFrame
    val batchedAll = Prep.bpeMergeList(frame, 1024, batch = 64)
    val seqAll = Prep.bpeMergeList(frame, 1024)
    val refAll = refFromTexts(sfTexts, 1024)
    assert(seqAll === refAll, "sequential learner != textbook reference")
    assert(batchedAll === refAll, "batched learner != textbook reference")
    assert(batchedAll === seqAll,
           { val i = batchedAll.zip(seqAll).indexWhere(p => p._1 != p._2)
             s"diverged at step $i: ${batchedAll.lift(i)} vs ${seqAll.lift(i)}" })
    assert(batchedAll.length >= 64 && batchedAll.length === seqAll.length)
    // the oracled q131 list is the verified 16-prefix of the production
    // vocabulary — so DuckDB's independent recompute covers its head
    assert(batchedAll.take(Prep.BpeK) === Prep.bpeMergeList(frame, Prep.BpeK))

    // the production-size target: 1024 merges on a vocabulary that
    // supports them, batched == sequential, in well under a minute
    val rich = richFrame()
    val t0 = System.nanoTime()
    val batched = Prep.bpeMergeList(rich, 1024, batch = 64)
    val batchedSec = (System.nanoTime() - t0) / 1e9
    val sequential = Prep.bpeMergeList(rich, 1024)
    val ref = refFromTexts(richDocs.map(_._2), 1024)
    assert(sequential === ref, "sequential learner != textbook reference")
    assert(batched === ref, "batched learner != textbook reference")
    assert(batched.length === 1024, s"only ${batched.length} merges learned")
    assert(batched === sequential,
           { val i = batched.zip(sequential).indexWhere(p => p._1 != p._2)
             s"diverged at step $i: ${batched.lift(i)} vs ${sequential.lift(i)}" })
    assert(batchedSec < 60.0, f"batched 1024-merge learn took $batchedSec%.1f s")
  }

  test("batched distributed path (forced) is bit-identical to the batched driver path") {
    val (texts, frame) = (sfTexts, sfFrame)
    // k=48, batch=16 -> fewer count rounds than 48
    val dist = Prep.bpeMergeList(frame, 48, batch = 16, driverVocabMax = -1L)
    val local = Prep.bpeMergeList(frame, 48, batch = 16)
    assert(dist === local)
    assert(dist === refFromTexts(texts, 48),
           "batched must track the sequential reference on this corpus")
    intercept[IllegalArgumentException](Prep.bpeMergeList(frame, 48, batch = 0))
  }

  test("q133/q151 bodies run off the 1024-merge vocabulary; fertility strictly improves") {
    val frame = richFrame()
    val big = Prep.bpeMergeList(frame, 1024, batch = 64).map(m => (m._2, m._3))
    val small = big.take(Prep.BpeK)
    // big goes through the imperative encoder (> BpeFoldMax), small
    // through the chained codegen folds — both against the same corpus
    val tcBig = Prep.bpeTokenCounts(frame, big)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val tcSmall = Prep.bpeTokenCounts(frame, small)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tcBig.keySet == tcSmall.keySet)
    // 1024 extends 16 as a prefix: every doc tokenizes to at most as
    // many subwords, and the corpus total strictly fewer
    for ((id, nBig) <- tcBig)
      assert(nBig <= tcSmall(id), s"doc $id got LONGER under more merges")
    assert(tcBig.values.sum < tcSmall.values.sum,
           "1024 merges must strictly beat 16 in aggregate")
    // the imperative encoder agrees with the reference tokenizer on a
    // sample of words (same per-merge fold semantics, 1024 deep)
    val sample = frame.select("text").limit(4).collect()
      .flatMap(_.getString(0).split(" ")).distinct.take(20)
    val wantSub = sample.map(w => refTokenize(w, big).toLong).sum
    import spark.implicits._
    val gotSub = Prep.bpeTokenCounts(
        sample.zipWithIndex.map { case (w, i) => (i.toLong, w) }
          .toSeq.toDF("doc_id", "text"), big)
      .agg(org.apache.spark.sql.functions.sum("n_subwords")).collect()(0).getLong(0)
    assert(gotSub === wantSub, "imperative encoder drifted from the reference")
    // q151's fertility shape off the big vocabulary: ids-per-word must
    // drop for every source present
    val src = frame.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySrc = tcBig.groupBy(kv => src(kv._1)).view.mapValues(_.values.sum)
    val bySrcSmall = tcSmall.groupBy(kv => src(kv._1)).view.mapValues(_.values.sum)
    for ((s0, n) <- bySrc)
      assert(n <= bySrcSmall(s0), s"source $s0 fertility regressed")
  }
}
