package graft.operators

import graft.{Listing, Memo}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Disk-backed cache of DERIVED corpus artifacts — the catalog role a
  * production deployment fills with its metastore: deterministic,
  * corpus-derived tables (resolved near-dup cluster labels, per-doc
  * bigram NLL scores, distilled-model coefficients) persist once per
  * corpus snapshot and every later SESSION composes from the parquet
  * instead of re-running the derivation. A nightly pipeline is a fresh
  * JVM: without this, each night re-pays the iterative
  * connected-components resolve and the bigram-count build that the
  * in-memory session caches only amortize within one process. Reference
  * analogue: the precomputed aggregates table the serving path reads
  * instead of re-scanning raw events (cognitive-score-bigdata
  * terraform/main.tf:38-58).
  *
  * Layout: `<root>/<md5 of corpus absolute path>/<artifact name>/` with
  * the repo's standard index lifecycle — build into `.staging`, write
  * the `_fingerprint` sidecar BEFORE the atomic rename, so a concurrent
  * reader never observes a half-written artifact, and a crash mid-build
  * leaves the previous version serving. The fingerprint is the
  * [[graft.Listing]] token of the corpus dir's data files: any
  * compaction / regeneration of the corpus invalidates every artifact
  * derived from it at the next read, with zero coordination.
  *
  * Artifact names carry a version suffix (`cluster_labels_v1`): bumping
  * it when a derivation's semantics change orphans the stale bytes
  * rather than serving them.
  *
  * Only DETERMINISTIC derivations may live here (everything in this
  * repo's registry is — content-hash driven, never RNG), so a cached
  * artifact is bit-identical to a rebuild and DuckDB oracle parity is
  * unaffected by whether a query composed from cache or from scratch.
  */
object DerivedCache {

  /** Cache root: `SPARK_GRAFT_CACHE_DIR` (the deployment's artifact
    * store / scratch volume) or the JVM tmpdir. Never inside the corpus
    * dir — corpus storage may be read-only (it is here).
    */
  def root: String = sys.env.getOrElse(
    "SPARK_GRAFT_CACHE_DIR",
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_derived")

  private def corpusKey(d: String): String =
    Listing.md5hex(new java.io.File(d).getAbsolutePath)

  /** The READ side of a landed artifact, memoized per session on the
    * artifact dir and its freshness token (lifecycle: [[graft.Memo]]):
    * `s.read.parquet` re-infers the schema from parquet footers and
    * rebuilds the file index ON THE DRIVER at every call — ~30-100 ms
    * per artifact per invocation, paid by every cache-served registry
    * query. The DataFrame (resolved relation + file index) is PLANNING
    * METADATA only — execution still reads the parquet bytes each run.
    * Any rebuild of the artifact evicts the dir's entries (see
    * [[serveWith]]): a same-token rebuild would otherwise serve a file
    * index of deleted part files.
    */
  private[graft] val readCache = new Memo[String, DataFrame]()
  private val modelCache =
    new Memo[String, org.apache.spark.ml.PipelineModel]()

  private def readCached(s: SparkSession, dir: String,
                         token: String): DataFrame =
    readCache.latest(s, dir, token)(s.read.parquet(dir))

  /** Serve `<artifact>` for corpus `d`: the persisted parquet if its
    * fingerprint matches the corpus as it stands, else run `build`,
    * persist with staging→sidecar→swap, and serve the freshly-landed
    * parquet. The returned frame is always a plain parquet scan — which
    * also truncates any iterative lineage the build carried (the
    * connected-components plans that otherwise need localCheckpoint).
    */
  def orBuild(s: SparkSession, d: String, artifact: String)
             (build: => DataFrame): DataFrame = {
    val fp = Listing.token(s, d)
    val dir = serveWith(s, s"$root/${corpusKey(d)}/$artifact", fp, Map.empty)(
      staging => build.write.mode("overwrite").parquet(staging))
    readCached(s, dir, fp)
  }

  /** As [[orBuild]] for fitted ML models (q132's distilled quality
    * classifier): the artifact is the saved PipelineModel, loaded back
    * on a hit — a fresh session serves the model without re-running the
    * LBFGS passes. The loaded model memoizes like [[readCached]] (load
    * re-reads metadata + coefficient parquet per call otherwise).
    */
  def orBuildModel(s: SparkSession, d: String, artifact: String)
                  (build: => org.apache.spark.ml.PipelineModel)
      : org.apache.spark.ml.PipelineModel = {
    val fp = Listing.token(s, d)
    val dir = serveWith(s, s"$root/${corpusKey(d)}/$artifact", fp, Map.empty)(
      staging => build.write.overwrite().save(staging + "/model"))
    modelCache.latest(s, dir, fp)(
      org.apache.spark.ml.PipelineModel.load(dir + "/model"))
  }

  private def readSidecar(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    } catch { case _: java.io.IOException => None }

  /** Append-aware [[orBuild]]: the artifact carries a `_manifest`
    * sidecar of the corpus TABLE files it was derived from. When the
    * table changed by pure file addition — the nightly-crawl shape —
    * `delta` derives over ONLY the added files and `merge` folds the
    * result into the landed artifact, so the refresh bill scales with
    * the appended slice, not the corpus. Any other change (rewrite,
    * delete, compaction) falls back to `full`. Same staging → sidecar →
    * swap lifecycle, so readers never see a half-merged artifact and
    * the concurrent-writer races resolve as in [[serve]].
    *
    * Correctness contract (what IncrementalCacheSpec pins): `merge(
    * landed, delta(added))` must equal `full` over the grown corpus —
    * which holds exactly when the derivation is a commutative monoid
    * over files (integer count/sum partials, per-doc pure scores,
    * min-label components under contraction). Derivations that are NOT
    * such a fold (a score under a corpus-global model, a rank) must
    * keep using [[orBuild]] — or split into an incremental partial
    * layer plus a finalize, as Prep.sourceStats does.
    */
  def orBuildIncremental(s: SparkSession, d: String, artifact: String,
                         table: String = "documents.parquet")(
      full: => DataFrame)(
      delta: Seq[String] => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val dirStr = s"$root/${corpusKey(d)}/$artifact"
    // table "." keys the manifest on the corpus dir ITSELF — the
    // whole-dir corpora (a WARC crawl directory) whose appended files
    // land at the top level rather than under a named table
    // the manifest is the table's Listing: a pure file addition leaves
    // the old manifest a strict subset of the new one, and the
    // difference IS the appended slice
    val cur = Listing.files(s, if (table == ".") d else s"$d/$table")
    val curText = cur.map(_._1).mkString("\n")
    val token = Listing.token(cur.map(_._1))
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dirStr).getFileSystem(conf)
    // the `_table` sidecar names the manifest's table so [[status]] can
    // re-derive THIS artifact's freshness token (not just the default
    // documents.parquet one) without touching the serve path
    val dir = serveWith(s, dirStr, token,
                        Map("_manifest" -> curText, "_table" -> table)) {
        staging =>
      // decide delta-vs-full HERE, while the previous version is still
      // landed at the target (materialize always runs before the swap)
      val stored = readSidecar(
        fs, new org.apache.hadoop.fs.Path(dirStr, "_manifest"))
        .map(_.linesIterator.filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
      val curSet = cur.map(_._1).toSet
      val added = cur.filter(e => !stored.contains(e._1)).map(_._2)
      val out =
        if (stored.nonEmpty && stored.subsetOf(curSet) && added.nonEmpty)
          merge(s.read.parquet(dirStr), delta(added))
        else full
      out.write.mode("overwrite").parquet(staging)
    }
    readCached(s, dir, token)
  }

  /** [[orBuild]] for SECOND-ORDER artifacts — derivations of another
    * LANDED artifact rather than of the corpus itself (host PageRank
    * over the persisted `link_edges_v1` edge table): the freshness
    * token is the SOURCE artifact dir's file manifest, so an edge
    * append that refreshes the source invalidates exactly this
    * derivation — and a corpus change that does NOT reach the source
    * artifact leaves it untouched. The build must read only
    * `sourceDir` bytes (never the corpus), which is what makes the
    * rebuild bill edge-table-sized at any corpus scale. A `_source`
    * sidecar records the dependency for [[status]].
    */
  def orBuildFromDir(s: SparkSession, d: String, artifact: String,
                     sourceDir: String)(build: => DataFrame): DataFrame = {
    val token = Listing.token(s, sourceDir)
    val dir = serveWith(s, s"$root/${corpusKey(d)}/$artifact", token,
                        Map("_source" -> sourceDir))(
      staging => build.write.mode("overwrite").parquet(staging))
    readCached(s, dir, token)
  }

  /** The shared lifecycle with the freshness token and extra sidecars made
    * explicit — the append-aware path supplies a TABLE-scoped manifest
    * digest instead of the corpus-wide fingerprint, plus the manifest
    * text itself as a `_manifest` sidecar (underscore-prefixed, so
    * parquet scans of the artifact dir ignore it).
    */
  private def serveWith(s: SparkSession, dirStr: String, fp: String,
                        sidecars: Map[String, String])
                       (materialize: String => Unit): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(dirStr)
    val fs = target.getFileSystem(conf)
    val sidecar = new org.apache.hadoop.fs.Path(target, "_fingerprint")
    val fresh =
      fs.exists(sidecar) && {
        val in = fs.open(sidecar)
        val stored =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        stored == fp
      }
    if (!fresh) try {
      // reap siblings stranded by CRASHED earlier builds — writer-unique
      // names mean a killed JVM leaks its '.staging-xxxx' (and a failed
      // swap its '.old-xxxx') forever, and retries add more. A LIVE
      // concurrent writer's staging is actively being written, so only
      // dirs idle past a TTL are reclaimed (mtime refreshes as parquet
      // parts land)
      reapStale(fs, target)
      // writer-unique staging: two sessions racing to build the same
      // artifact (two nightly jobs, a backfill beside a cron) must not
      // truncate each other's half-written staging dir
      val staging = new org.apache.hadoop.fs.Path(
        dirStr + ".staging-" + java.util.UUID.randomUUID().toString.take(8))
      val aside = new org.apache.hadoop.fs.Path(
        dirStr + ".old-" + java.util.UUID.randomUUID().toString.take(8))
      try {
        fs.delete(staging, true)
        def targetFresh: Boolean =
          try fs.exists(sidecar) && {
            val in = fs.open(sidecar)
            val stored =
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
            stored == fp
          } catch { case _: java.io.IOException => false }
        try materialize(staging.toString)
        catch {
          case scala.util.control.NonFatal(e) =>
            // an incremental merge READS the live artifact while it
            // builds; a concurrent winner's swap moves those files out
            // from under the running job (rename to .old-*, then
            // delete) and the scan throws. If a fresh artifact landed,
            // serve it — deterministic derivations make the winner's
            // bytes identical to what this build would have produced —
            // instead of surfacing a failure for a race that plain
            // rebuilds already resolve gracefully
            if (targetFresh) return dirStr else throw e
        }
        (sidecars + ("_fingerprint" -> fp)).foreach { case (name, text) =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(staging, name), true)
          try out.write(text.getBytes("UTF-8")) finally out.close()
        }
        // last-check-wins: a concurrent writer may have landed this
        // artifact while our build ran. Deterministic derivations make
        // the winner's bytes bit-identical — serve theirs, drop ours,
        // and never rename over a live fresh artifact
        if (targetFresh) return dirStr
        def swapFailed(step: String): Nothing = {
          // second line of defense: the winner landed between the
          // re-check above and the rename
          if (targetFresh) throw ServedByConcurrentWriter
          throw new java.io.IOException(
            s"derived-cache $step failed: $staging -> $target")
        }
        try {
          if (fs.exists(target) && !fs.rename(target, aside))
            swapFailed("aside")
          if (!fs.rename(staging, target)) swapFailed("swap")
          // HDFS-semantics rename SUCCEEDS by nesting src INSIDE an
          // existing dst: if the winner landed target between the
          // re-check and the rename, our staging is now a child of the
          // live artifact and a recursive parquet listing would read
          // duplicate rows — detect, unpollute, serve the winner's
          val nested = new org.apache.hadoop.fs.Path(
            target, staging.getName)
          if (fs.exists(nested)) {
            fs.delete(nested, true)
            throw ServedByConcurrentWriter
          }
        } catch {
          case ServedByConcurrentWriter => ()
        }
      } finally {
        // this attempt's staging/aside never outlive the call: staging
        // is gone on success (renamed away) and deleted on any failure;
        // aside only ever holds the displaced STALE version (unique
        // name, stale fingerprint — never serveable), so it is
        // reclaimed on every exit path including a thrown swap
        fs.delete(staging, true)
        fs.delete(aside, true)
      }
    } finally {
      // whatever landed — our build, or a concurrent winner's — every
      // session's memoized plan of the dir may index replaced files,
      // even when the token is unchanged
      readCache.invalidate(dirStr)
      modelCache.invalidate(dirStr)
    }
    dirStr
  }

  /** TTL for reclaiming `.staging-*` / `.old-*` siblings left by
    * crashed builds. Liveness is judged by the NEWEST mtime anywhere in
    * the candidate's subtree, not the top dir's: a running Spark write
    * keeps landing task files under `_temporary/` (the committer only
    * renames them up at job commit), so the top dir's own mtime can sit
    * at job-setup time for the whole build — while the tree's newest
    * file stays recent as long as tasks make progress.
    */
  private val ReapIdleMs = 60L * 60 * 1000

  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path,
                          depth: Int): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory || depth == 0) st.getModificationTime
    else {
      val kids = fs.listStatus(p)
      if (kids.isEmpty) st.getModificationTime
      else math.max(st.getModificationTime,
                    kids.map(k => newestMtime(fs, k.getPath, depth - 1)).max)
    }
  }

  private def reapStale(fs: org.apache.hadoop.fs.FileSystem,
                        target: org.apache.hadoop.fs.Path): Unit =
    try {
      val parent = target.getParent
      if (parent != null && fs.exists(parent)) {
        val now = System.currentTimeMillis()
        fs.listStatus(parent).foreach { st =>
          val n = st.getPath.getName
          val candidate =
            n.startsWith(target.getName + ".staging-") ||
            n.startsWith(target.getName + ".old-")
          if (candidate &&
              now - newestMtime(fs, st.getPath, 4) > ReapIdleMs)
            fs.delete(st.getPath, true)
        }
      }
    } catch { case _: java.io.IOException => () } // best-effort

  /** Control-flow marker for the lost-the-swap-race path in [[serve]]. */
  private object ServedByConcurrentWriter
      extends Exception with scala.util.control.NoStackTrace

  /** Where an artifact for corpus `d` lives (test observability and
    * operational tooling — consumers go through [[orBuild]]).
    */
  def artifactDir(d: String, artifact: String): String =
    s"$root/${corpusKey(d)}/$artifact"

  /** Corpus-change hook (compaction / regeneration): drop every artifact
    * derived from `d`. The fingerprint already self-invalidates on the
    * next read; this reclaims the bytes eagerly. Goes through the
    * Hadoop FS API so a deployment pointing `SPARK_GRAFT_CACHE_DIR` at
    * shared storage invalidates the same bytes the readers serve.
    */
  def invalidate(d: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/${corpusKey(d)}")
    // resolve the FS from the ACTIVE session's hadoopConfiguration so a
    // deployment whose cache root needs spark.hadoop.* settings
    // (credentials, endpoints) deletes the same bytes serve() reads —
    // a fresh default Configuration would miss those and could target
    // a different filesystem entirely
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) { fs.delete(p, true); () }
    // drop memoized read plans under this corpus — they may reference
    // files the delete just removed
    val prefix = s"$root/${corpusKey(d)}/"
    readCache.invalidateWhere((dir, _) => dir.startsWith(prefix))
    modelCache.invalidateWhere((dir, _) => dir.startsWith(prefix))
  }

  /** Operability read — the "are my artifacts fresh" table an operator
    * checks before trusting a nightly: one row per LANDED artifact of
    * corpus `d` with its freshness (fresh == the next read serves
    * these bytes; stale == the next read rebuilds), data-file count,
    * and byte size. Strictly read-only: never triggers a build, never
    * touches staging/aside leftovers. Freshness is judged per artifact
    * against ITS OWN lifecycle token, disambiguated by the sidecars
    * the build left: an artifact with a `_manifest` sidecar is
    * append-incremental and compares the manifest digest of the table
    * its `_table` sidecar names (documents.parquet for pre-sidecar
    * artifacts); anything else compares the corpus-wide fingerprint
    * ([[orBuild]] / [[orBuildModel]]). The earlier either-token check
    * could false-positive when one token impersonated the other (a
    * corpus whose only table is documents.parquet makes the two
    * digests textually equal, so adding a second table left an
    * orBuild artifact reported fresh that the next read would
    * rebuild).
    */
  def status(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$root/${corpusKey(d)}")
    val fs = dir.getFileSystem(conf)
    lazy val corpusFp = Listing.token(s, d)
    // manifest digests resolve lazily per TABLE an artifact names —
    // one listing per distinct table across the whole status read
    val manifestFps = scala.collection.mutable.Map.empty[String, String]
    def manifestFp(table: String): String =
      manifestFps.getOrElseUpdate(table,
        Listing.token(s, if (table == ".") d else s"$d/$table"))
    val rows =
      if (!fs.exists(dir)) Seq.empty[(String, Boolean, Long, Long)]
      else fs.listStatus(dir).toSeq
        .filter(_.isDirectory)
        .filterNot(st => st.getPath.getName.contains(".staging-") ||
                         st.getPath.getName.contains(".old-"))
        .sortBy(_.getPath.getName)
        .map { st =>
          val stored = readSidecar(fs,
            new org.apache.hadoop.fs.Path(st.getPath, "_fingerprint"))
            .map(_.trim)
          // lifecycle disambiguation: a `_manifest` sidecar marks the
          // append-incremental lifecycle, whose token is the manifest
          // digest of the table `_table` names (documents.parquet for
          // artifacts landed before the sidecar existed); a `_source`
          // sidecar marks a second-order artifact keyed on ANOTHER
          // artifact dir's manifest; everything else is
          // corpus-fingerprint keyed
          val sourceSidecar = readSidecar(fs,
            new org.apache.hadoop.fs.Path(st.getPath, "_source"))
            .map(_.trim).filter(_.nonEmpty)
          val expected =
            if (fs.exists(new org.apache.hadoop.fs.Path(st.getPath,
                                                        "_manifest")))
              manifestFp(readSidecar(fs,
                  new org.apache.hadoop.fs.Path(st.getPath, "_table"))
                .map(_.trim).filter(_.nonEmpty)
                .getOrElse("documents.parquet"))
            else sourceSidecar match {
              case Some(src) => Listing.token(s, src)
              case None => corpusFp
            }
          def files(p: org.apache.hadoop.fs.Path)
              : Seq[org.apache.hadoop.fs.FileStatus] =
            fs.listStatus(p).toSeq.flatMap { f =>
              if (f.getPath.getName.startsWith("_") ||
                  f.getPath.getName.startsWith(".")) Nil
              else if (f.isDirectory) files(f.getPath)
              else Seq(f)
            }
          val data = files(st.getPath)
          (st.getPath.getName,
           stored.contains(expected),
           data.length.toLong, data.map(_.getLen).sum)
        }
    rows.toDF("artifact", "fresh", "n_files", "bytes")
  }
}
