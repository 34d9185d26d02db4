package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level BPE mode: the 256-hex-symbol alphabet closes the
  * tokenizer over ALL text — novel Unicode (emoji, CJK, combining
  * marks) encodes without a single null id, the ids decode back to the
  * exact original bytes, and the `has_oov` quarantine path is
  * structurally unreachable. Char mode (and its q131/q133 oracles) is
  * untouched: the byte mode is the same merge machinery under a
  * different initial split, and the local and distributed learners
  * agree on it.
  */
class ByteBpeSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // training corpus: ASCII + multibyte (é is 2 bytes, 你/好 3 bytes,
  // 🙂 4 bytes) so merges form across multibyte symbol boundaries
  private val corpusRows = Seq(
    (1L, "the cafe café the the cafe"),
    (2L, "你好 你好 the café 🙂"),
    (3L, "abab abab the 🙂🙂"))

  private def corpusDir(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-byte-bpe").toString
    corpusRows.map { case (id, text) => (id, "web", text, "en",
        text.length.toLong) }
      .toDF("doc_id", "source", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    dir
  }

  test("local and distributed byte-mode learners agree; merges are hex-symbol pairs") {
    val docs = corpusRows.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val local = Prep.bpeMergeList(docs, 12, byteLevel = true)
    val dist = Prep.bpeMergeList(docs, 12, driverVocabMax = 0L,
                                 byteLevel = true)
    assert(local === dist, "driver fold != distributed byte-mode learning")
    assert(local.nonEmpty)
    // every merge operand is a concatenation of 2-hex-char base symbols
    local.foreach { case (_, l, r, _) =>
      assert((l + r).matches("([0-9a-f]{2})+"), s"non-hex symbol in ($l,$r)")
    }
    val batched = Prep.bpeMergeList(docs, 12, batch = 4, byteLevel = true)
    assert(batched === local, "batched byte-mode learning diverged")
  }

  test("every word — corpus or novel Unicode — encodes null-free and round-trips") {
    val d = corpusDir()
    // novel words the corpus never saw, in scripts it never saw
    val novel = Seq("Ω≈ç√", "здравствуй", "🚀🌍", "éclair", "µ¶·")
    val words = (corpusRows.flatMap(_._2.split(" ")) ++ novel)
      .distinct.toDF("w")
    val ids = Prep.wordIdsFor(words, spark, d, byteLevel = true)
      .withColumn("n_null",
        size(filter(col("ids"), i => i.isNull)).cast("long"))
      .withColumn("back", Prep.byteIdsToText(col("ids"), spark, d))
      .collect()
    assert(ids.nonEmpty)
    ids.foreach { r =>
      assert(r.getAs[Long]("n_null") === 0L,
             s"null id for word '${r.getString(0)}' — byte alphabet not closed")
      assert(r.getAs[String]("back") === r.getString(0),
             s"round-trip broke: '${r.getString(0)}' -> '${r.getAs[String]("back")}'")
    }
  }

  test("byteLevel tokenizedDocs: zero has_oov on novel Unicode, whole docs decode exactly") {
    val d = corpusDir()
    // a crawl batch mixing corpus words with entirely novel scripts —
    // exactly the input that quarantines under char mode
    val batch = Seq(
      (1L, "train", "the café 你好"),
      (2L, "train", "здравствуй мир 🙂"),
      (3L, "val", "Ω≈ç√ the abab"))
      .toDF("doc_id", "split", "text")
    val toks = Curation.tokenizedDocs(batch, spark, d, byteLevel = true)
      .withColumn("back", Prep.byteIdsToText(col("ids"), spark, d))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("has_oov"), r.getAs[String]("back"))).toMap
    assert(toks.size === 3)
    val original = Map(1L -> "the café 你好",
                       2L -> "здравствуй мир 🙂",
                       3L -> "Ω≈ç√ the abab")
    toks.foreach { case (id, (oov, back)) =>
      assert(!oov, s"doc $id quarantined under byte mode")
      assert(back === original(id),
             s"doc $id decode diverged: '$back' != '${original(id)}'")
    }

    // char mode on the same batch DOES flag the novel scripts — the
    // contrast that shows what the byte mode retires
    val charOov = Curation.tokenizedDocs(batch, spark, d)
      .filter(col("has_oov")).count()
    assert(charOov > 0, "expected char-mode OOV on novel scripts")
  }
}
