package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.scalatest.funsuite.AnyFunSuite

/** The IVF index must amortize: one KMeans fit per (corpus, k) per
  * session, every later query batch reuses the cached centroids +
  * persisted assignment.
  */
class IvfIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("second q54 invocation reuses the fitted index (no refit)") {
    val first = SparkEntry.queries("q54_ann_ivf")(spark, sf).count()
    val fitsAfterFirst = TrainingData.ivfFits.get()
    val second = SparkEntry.queries("q54_ann_ivf")(spark, sf).count()
    assert(TrainingData.ivfFits.get() === fitsAfterFirst,
           "second invocation refit the KMeans index")
    assert(first === second)
  }

  test("fresh session serves q54 from the PERSISTED index with zero KMeans fits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/ivf_index"
    try {
      val baseline = SparkEntry.queries("q54_ann_ivf")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      TrainingData.buildIvfIndex(spark, sf, dir, 16)
      val fitsAfterBuild = TrainingData.ivfFits.get()
      // a brand-new session has no in-memory cache entry — it must load
      // centroids from the sidecar + assignment from parquet, never refit
      val s2 = spark.newSession()
      val served = SparkEntry.queries("q54_ann_ivf")(s2, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(TrainingData.ivfFits.get() === fitsAfterBuild,
             "fresh session refit KMeans instead of loading the persisted index")
      assert(served === baseline,
             "persisted-index results diverged from the in-session fit")
      // compaction hook refits: invalidate + rebuild bumps the fit count
      TrainingData.refreshIvfIndex(spark, sf, dir, 16)
      assert(TrainingData.ivfFits.get() === fitsAfterBuild + 1,
             "refreshIvfIndex must refit against the (changed) corpus")
      // the refreshed index still serves loads (sidecar + parquet agree)
      val (centers, assigned) = TrainingData.loadIvfIndex(spark, dir)
      assert(centers.length === 16)
      assert(assigned.columns.toSeq === Seq("vec_id", "v", "cell"))
    } finally {
      // deregister so later suites see the ad-hoc in-memory path again
      TrainingData.invalidate(sf)
    }
  }

  test("an index dir without its centroids sidecar fails naming the sidecar path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-nosidecar")
      .toString + "/ivf_index"
    spark.range(1).write.parquet(dir)
    val e = intercept[java.io.FileNotFoundException] {
      TrainingData.loadIvfIndex(spark, dir)
    }
    assert(e.getMessage.contains(s"$dir/_ivf_centroids"), e.getMessage)
  }
}
