package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-scale substring contamination: the persisted gram-hash table
  * ([[Prep.buildSubstrIndex]]) must agree with the literal-Bloom path on
  * every flag, the derived Bloom must be byte-identical to the
  * corpus-scan build, the exact table probe must satisfy q130's corpus
  * self-probe invariant (every gram of every corpus doc hits), the
  * stream-static join must never broadcast the gram table, and the
  * [[Prep.startSubstrContamination]] threshold switch must produce
  * identical flags on BOTH sides of the literal-size budget.
  */
class SubstrIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val indexDir = {
    val dir = java.nio.file.Files.createTempDirectory("substr_idx")
      .resolve("index").toString
    Prep.buildSubstrIndex(spark, sf, dir)
    dir
  }

  /** The two arrivals every probe path must agree on: one lifts a
    * 30-token corpus run (11 of its 36 grams are verbatim corpus
    * 20-grams, share ~0.31 — over the 0.3 flag line), one is fresh.
    */
  private lazy val arrivals: Seq[(Long, String)] = {
    val corpusTok = Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 30)
      .orderBy("doc_id").select("text").limit(1)
      .collect()(0).getString(0).split(" ")
    Seq(
      (9001L, (corpusTok.take(30) ++ (0 until 25).map(i => s"fresh$i")).mkString(" ")),
      (9002L, (0 until 55).map(i => s"novel$i").mkString(" ")),
      (9003L, "short doc"))
  }

  test("sidecar geometry matches the corpus; derived Bloom is byte-identical to the corpus-scan build") {
    val (g, nDistinct, nTotal) = Prep.substrIndexGeometry(spark, indexDir)
    assert(g === Prep.SubstrG)
    val idxRows = spark.read.parquet(indexDir).count()
    assert(idxRows === nDistinct, "index must hold one row per distinct gram")
    assert(nTotal >= nDistinct && nDistinct > 0)
    val fromCorpus = Prep.buildSubstrBloom(spark, sf)
    val fromIndex = Prep.buildSubstrBloomFromIndex(spark, indexDir)
    assert(java.util.Arrays.equals(fromCorpus, fromIndex),
           "Bloom from the distinct index must be byte-identical to the corpus-scan build")
  }

  test("exact table probe: corpus self-probe invariant, exact hits on arrivals, flags == literal flags") {
    import spark.implicits._
    // q130's invariant: every corpus doc is a verbatim copy of itself ->
    // the EXACT probe gives hits == n_grams on every doc with grams. The
    // Bloom path has no false negatives, so on the self-probe the two
    // paths are equal on all five columns, not just the flag.
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val tbl = Prep.substrContaminationBatch(corpus, spark, indexDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    tbl.values.foreach { case (n, hits, share, flag) =>
      assert(hits === n)
      if (n > 0) assert(share === 1.0 && flag)
    }
    val bloom = Prep.buildSubstrBloomFromIndex(spark, indexDir)
    val lit0 = Prep.substrContaminationStream(corpus, bloom)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(lit0 === tbl, "self-probe: literal and table paths must agree on every column")

    // arrivals: the exact path counts TRUE corpus grams only — 11 for the
    // copied passage (deterministic, no FP noise), 0 for fresh docs.
    val arr = arrivals.toDF("doc_id", "text")
    val tblArr = Prep.substrContaminationBatch(arr, spark, indexDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(tblArr(9001L)._1 === 36L && tblArr(9001L)._2 === 11L)
    assert(tblArr(9001L)._4, "copied passage must flag on the exact path")
    assert(tblArr(9002L)._2 === 0L && !tblArr(9002L)._4,
           "fresh doc has ZERO exact hits (no FP floor on the table path)")
    assert(tblArr(9003L) === ((0L, 0L, 0.0, false)), "short doc must survive explode_outer")
    val litArr = Prep.substrContaminationStream(arr, bloom)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(tblArr.map { case (k, v) => k -> v._4 } === litArr,
           "table-probe flags must equal literal-probe flags")
  }

  test("table probe never broadcasts the gram table") {
    import spark.implicits._
    val plan = Prep.substrContaminationBatch(
        arrivals.toDF("doc_id", "text"), spark, indexDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
           s"corpus-sized gram table must never broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
           s"expected the hinted shuffled hash join:\n$plan")
  }

  test("threshold switch: literal and table sides of startSubstrContamination produce identical flags") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    def runSide(maxLiteralBytes: Long, tag: String): Map[Long, (Long, Boolean)] = {
      val base = java.nio.file.Files.createTempDirectory(s"substr_$tag")
      val mem = MemoryStream[(Long, String)]
      mem.addData(arrivals: _*)
      val q = Prep.startSubstrContamination(
        mem.toDF().toDF("doc_id", "text"), spark, indexDir,
        base.resolve("out").toString, base.resolve("ckpt").toString,
        maxLiteralBytes = maxLiteralBytes)
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(base.resolve("out").toString)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_grams"), r.getAs[Boolean]("flagged")))).toMap
    }
    // the sf0.001 corpus needs the 1<<20 floor -> literal side; 0 forces table side
    assert(Prep.substrLiteralBytes(spark, indexDir) <= (1L << 28))
    val literalSide = runSide(1L << 28, "lit")
    val tableSide = runSide(0L, "tbl")
    assert(literalSide.keySet === arrivals.map(_._1).toSet)
    assert(literalSide === tableSide,
           "both sides of the size switch must emit the same per-doc verdicts")
  }

  test("an index dir without its geometry sidecar fails naming the sidecar path") {
    val dir = java.nio.file.Files.createTempDirectory("substr_nosidecar")
      .resolve("index").toString
    spark.range(1).write.parquet(dir)
    val e = intercept[java.io.FileNotFoundException] {
      Prep.substrIndexGeometry(spark, dir)
    }
    assert(e.getMessage.contains(s"$dir/_substr_geometry"), e.getMessage)
  }
}
