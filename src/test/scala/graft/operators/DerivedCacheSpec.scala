package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** The disk-backed derived-artifact lifecycle: build-once serve-many
  * across fresh "sessions" (cache hits skip the build entirely), and
  * fingerprint self-invalidation when the corpus bytes change — the
  * property that makes serving a persisted cluster/NLL table safe
  * without any coordination with compaction.
  */
class DerivedCacheSpec extends AnyFunSuite with SparkSpec {

  private def freshCorpus(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-derived-spec").toString
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "w")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    dir
  }

  test("second read serves from disk without re-running the build") {
    val d = freshCorpus()
    var builds = 0
    def serve() = DerivedCache.orBuild(spark, d, "spec_art_v1") {
      builds += 1
      spark.read.parquet(d + "/documents.parquet")
        .selectExpr("id", "upper(w) AS w")
    }
    val first = serve().collect().map(_.toSeq.toList).toSet
    assert(builds == 1)
    val second = serve().collect().map(_.toSeq.toList).toSet
    assert(builds == 1, "cache hit must not re-run the build")
    assert(first == second)
  }

  test("an artifact deleted out of band rebuilds and serves its rows, not a stale plan") {
    val d = freshCorpus()
    val art = "spec_lost_v1"
    var builds = 0
    def serve() = DerivedCache.orBuild(spark, d, art) {
      builds += 1
      spark.read.parquet(d + "/documents.parquet")
        .selectExpr("id", "upper(w) AS w")
    }
    val first = serve().collect().map(_.toSeq.toList).toSet
    // no invalidate(), corpus unchanged: the rebuild lands under the
    // SAME token, with new part-file names
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(DerivedCache.artifactDir(d, art)))
    val second = serve().collect().map(_.toSeq.toList).toSet
    assert(builds == 2)
    assert(first == second)
  }

  test("corpus appends supersede the artifact's read memo entry") {
    import spark.implicits._
    val d = freshCorpus()
    val art = "spec_grow_v1"
    def serve() = DerivedCache.orBuild(spark, d, art)(
      spark.read.parquet(d + "/documents.parquet"))
    assert(serve().count() == 3L)
    (4L to 6L).foreach { i =>
      Seq((i, s"w$i")).toDF("id", "w")
        .write.mode("append").parquet(d + "/documents.parquet")
      assert(serve().count() == i)
    }
    assert(DerivedCache.readCache.size(DerivedCache.artifactDir(d, art)) == 1,
           "superseded tokens must not accumulate in the read memo")
  }

  test("orBuildFromDir: second-order artifact keys on the SOURCE artifact, not the corpus") {
    import spark.implicits._
    val d = freshCorpus()
    var srcBuilds = 0
    var rankBuilds = 0
    def src() = DerivedCache.orBuild(spark, d, "spec_edges_v1") {
      srcBuilds += 1
      spark.read.parquet(d + "/documents.parquet")
        .selectExpr("id", "w")
    }
    def derived() = {
      src() // land/refresh the source first (the hostRankTable shape)
      DerivedCache.orBuildFromDir(spark, d, "spec_rank_v1",
          DerivedCache.artifactDir(d, "spec_edges_v1")) {
        rankBuilds += 1
        spark.read.parquet(DerivedCache.artifactDir(d, "spec_edges_v1"))
          .selectExpr("count(*) AS n")
      }
    }
    assert(derived().head.getLong(0) === 3L)
    assert(srcBuilds === 1 && rankBuilds === 1)
    // warm: neither rebuilds
    assert(derived().head.getLong(0) === 3L)
    assert(srcBuilds === 1 && rankBuilds === 1,
           "warm read must serve both artifacts from disk")
    // corpus change -> source rebuilds -> ITS manifest moves -> the
    // second-order artifact invalidates in turn
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "w")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    assert(derived().head.getLong(0) === 4L)
    assert(srcBuilds === 2 && rankBuilds === 2,
           "a refreshed source must cascade into the derived artifact")
    // status understands the _source lifecycle: both report fresh
    val st = DerivedCache.status(spark, d).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(st("spec_edges_v1") && st("spec_rank_v1"),
           s"status must key spec_rank_v1 on its _source manifest: $st")
  }

  test("corpus change flips the fingerprint and rebuilds") {
    import spark.implicits._
    val d = freshCorpus()
    var builds = 0
    def serve() = DerivedCache.orBuild(spark, d, "spec_art_v1") {
      builds += 1
      spark.read.parquet(d + "/documents.parquet").selectExpr("count(*) AS n")
    }
    assert(serve().head.getLong(0) == 3L && builds == 1)
    // regenerate the corpus (compaction / new snapshot)
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("id", "w")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    assert(serve().head.getLong(0) == 4L,
           "stale artifact served after the corpus changed")
    assert(builds == 2)
  }

  test("invalidate drops the artifact eagerly") {
    val d = freshCorpus()
    var builds = 0
    def serve() = DerivedCache.orBuild(spark, d, "spec_art_v1") {
      builds += 1
      spark.read.parquet(d + "/documents.parquet")
    }
    serve().collect()
    DerivedCache.invalidate(d)
    serve().collect()
    assert(builds == 2, "invalidate must force the next read to rebuild")
  }

  test("stranded staging/old dirs from crashed builds are reaped; a live writer's is not") {
    val d = freshCorpus()
    val art = "spec_reap_v1"
    val parent = new java.io.File(DerivedCache.artifactDir(d, art)).getParentFile
    parent.mkdirs()
    // a killed JVM strands writer-unique staging/aside dirs forever —
    // seed two with an old mtime (crashed hours ago) and one recent
    // (a concurrent writer whose build is mid-flight right now)
    val stale = new java.io.File(parent, art + ".staging-deadbeef")
    val staleOld = new java.io.File(parent, art + ".old-deadbeef")
    val live = new java.io.File(parent, art + ".staging-12345678")
    Seq(stale, staleOld, live).foreach(f => assert(f.mkdirs()))
    val past = System.currentTimeMillis() - 2 * 60 * 60 * 1000
    stale.setLastModified(past); staleOld.setLastModified(past)
    DerivedCache.orBuild(spark, d, art)(
      spark.read.parquet(d + "/documents.parquet")).collect()
    assert(!stale.exists, "crashed build's staging must be reaped")
    assert(!staleOld.exists, "crashed build's aside must be reaped")
    assert(live.exists, "a live concurrent writer's staging must survive")
    live.delete()
  }

  test("a failed build never strands its own staging dir") {
    val d = freshCorpus()
    val art = "spec_fail_v1"
    intercept[RuntimeException] {
      DerivedCache.orBuild(spark, d, art) {
        throw new RuntimeException("build blew up")
      }
    }
    val parent = new java.io.File(DerivedCache.artifactDir(d, art)).getParentFile
    val litter = Option(parent.listFiles).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith(art + ".staging") || n.startsWith(art + ".old"))
    assert(litter.isEmpty, s"failed build left litter: ${litter.mkString(", ")}")
  }

  test("losing the swap race to a concurrent writer still serves the artifact") {
    // simulate the race deterministically: while OUR build runs, a
    // "concurrent session" lands the same artifact (same fingerprint —
    // derivations are deterministic, so same bytes) at the target.
    // Our swap then can't rename over it; serve() must recognize the
    // winner's fresh sidecar, discard the losing staging copy, and
    // serve — not crash the session
    val d = freshCorpus()
    val art = "spec_race_v1"
    def result() = DerivedCache.orBuild(spark, d, art) {
      val winner = DerivedCache.artifactDir(d, art)
      spark.read.parquet(d + "/documents.parquet")
        .write.mode("overwrite").parquet(winner)
      // the winner's sidecar: copy the fingerprint our own build will
      // compute — same corpus, same listing
      val fpPath = new java.io.File(winner, "_fingerprint").toPath
      // recompute via a throwaway second artifact's sidecar
      val probe = DerivedCache.orBuild(spark, d, "spec_race_probe_v1")(
        spark.read.parquet(d + "/documents.parquet"))
      probe.collect()
      val probeFp = java.nio.file.Files.readString(
        new java.io.File(DerivedCache.artifactDir(d, "spec_race_probe_v1"),
                         "_fingerprint").toPath)
      java.nio.file.Files.writeString(fpPath, probeFp)
      spark.read.parquet(d + "/documents.parquet")
    }
    assert(result().count() == 3L,
           "losing the swap race must serve the landed artifact")
    // no staging/aside litter left behind
    val parent = new java.io.File(DerivedCache.artifactDir(d, art)).getParentFile
    val litter = parent.listFiles.map(_.getName)
      .filter(n => n.contains(".staging") || n.contains(".old"))
    assert(litter.isEmpty, s"race left litter: ${litter.mkString(", ")}")
  }

  test("status reports freshness per artifact, both lifecycles, read-only") {
    import spark.implicits._
    val d = freshCorpus()
    def byName() = DerivedCache.status(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byName().isEmpty, "a corpus with no artifacts reports none")
    // one corpus-fingerprint artifact (orBuild) + one manifest-digest
    // artifact (orBuildIncremental)
    var builds = 0
    DerivedCache.orBuild(spark, d, "spec_status_fp_v1") {
      builds += 1
      spark.read.parquet(d + "/documents.parquet")
    }.collect()
    DerivedCache.orBuildIncremental(spark, d, "spec_status_incr_v1")(
      spark.read.parquet(d + "/documents.parquet"))(
      fs => spark.read.parquet(fs: _*))(
      (old, delta) => old.unionByName(delta)).collect()
    val landed = byName()
    assert(landed.keySet ===
             Set("spec_status_fp_v1", "spec_status_incr_v1"))
    landed.foreach { case (name, (fresh, nFiles, bytes)) =>
      assert(fresh, s"$name must be fresh right after landing")
      assert(nFiles > 0 && bytes > 0, s"$name reports no data files")
    }
    // an append stales BOTH lifecycles at once
    Seq((4L, "delta")).toDF("id", "w")
      .write.mode("append").parquet(d + "/documents.parquet")
    val afterAppend = byName()
    assert(afterAppend.values.forall(!_._1),
           s"append must stale every artifact: $afterAppend")
    assert(builds == 1, "status must never trigger a build")
    // a re-read refreshes only what it touches
    DerivedCache.orBuild(spark, d, "spec_status_fp_v1") {
      builds += 1
      spark.read.parquet(d + "/documents.parquet")
    }.collect()
    val after = byName()
    assert(after("spec_status_fp_v1")._1 &&
             !after("spec_status_incr_v1")._1,
           s"refresh must be per-artifact: $after")
  }

  test("status disambiguates lifecycles — no corpus-vs-manifest false positives") {
    import spark.implicits._
    val d = freshCorpus()
    def fresh() = DerivedCache.status(spark, d).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // corpus whose ONLY table is documents.parquet: the corpus
    // fingerprint text and the documents manifest text coincide — the
    // regime where the old either-token check false-positived
    DerivedCache.orBuild(spark, d, "spec_fp_only_v1") {
      spark.read.parquet(d + "/documents.parquet")
    }.collect()
    // a SECOND table lands: the corpus fingerprint moves, the
    // documents manifest does not. The orBuild artifact is stale (its
    // next read rebuilds) and status must say so.
    Seq((10L, "aux")).toDF("id", "w")
      .write.parquet(d + "/aux.parquet")
    assert(fresh()("spec_fp_only_v1") === false,
           "orBuild freshness must track the CORPUS fingerprint only")
    // an incremental artifact keyed on the NON-default table reports
    // against aux.parquet's manifest, not documents'
    DerivedCache.orBuildIncremental(spark, d, "spec_incr_aux_v1",
                                    table = "aux.parquet")(
      spark.read.parquet(d + "/aux.parquet"))(
      fs => spark.read.parquet(fs: _*))(
      (old, delta) => old.unionByName(delta)).collect()
    assert(fresh()("spec_incr_aux_v1") === true)
    Seq((4L, "delta")).toDF("id", "w")
      .write.mode("append").parquet(d + "/documents.parquet")
    assert(fresh()("spec_incr_aux_v1") === true,
           "a documents append must not stale an aux-table artifact")
    Seq((11L, "aux2")).toDF("id", "w")
      .write.mode("append").parquet(d + "/aux.parquet")
    assert(fresh()("spec_incr_aux_v1") === false,
           "an aux append must stale the aux-table artifact")
    // the Nightly report rendering carries the flags verbatim
    val json = graft.Nightly.artifactStatusJson(spark, d)
    assert(json.contains(
        "\"artifact\":\"spec_fp_only_v1\",\"fresh\":false"), json)
    assert(json.contains(
        "\"artifact\":\"spec_incr_aux_v1\",\"fresh\":false"), json)
  }
}
