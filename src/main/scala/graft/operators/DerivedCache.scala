package graft.operators

import graft.{Landing, Listing, Memo}
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
  * Layout: `<root>/<md5 of corpus absolute path>/<artifact name>/`,
  * landed by [[graft.Landing.swap]] with a `_fingerprint` sidecar. The
  * fingerprint is the [[graft.Listing]] token of the corpus dir's data
  * files: any compaction / regeneration of the corpus invalidates every
  * artifact derived from it at the next read, with zero coordination.
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
    * land it ([[graft.Landing]]), and serve the freshly-landed
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

  /** Append-aware [[orBuild]]: the artifact carries a `_manifest`
    * sidecar of the corpus TABLE files it was derived from. When the
    * table changed by pure file addition — the nightly-crawl shape —
    * `delta` derives over ONLY the added files and `merge` folds the
    * result into the landed artifact, so the refresh bill scales with
    * the appended slice, not the corpus. Any other change (rewrite,
    * delete, compaction) falls back to `full`. Landed like [[orBuild]],
    * so readers never see a half-merged artifact.
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
    // the `_table` sidecar names the manifest's table so [[status]] can
    // re-derive THIS artifact's freshness token (not just the default
    // documents.parquet one) without touching the serve path
    val dir = serveWith(s, dirStr, token,
                        Map("_manifest" -> curText, "_table" -> table)) {
        staging =>
      // decide delta-vs-full HERE, while the previous version is still
      // landed at the target (materialize always runs before the swap)
      val stored = Landing.sidecar(s, dirStr, "_manifest")
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

  /** Serve `dirStr` if its `_fingerprint` sidecar equals `fp`, else
    * land `materialize(staging)` with `sidecars` plus the fingerprint.
    * The append-aware path supplies a TABLE-scoped manifest digest
    * instead of the corpus-wide fingerprint.
    */
  private def serveWith(s: SparkSession, dirStr: String, fp: String,
                        sidecars: Map[String, String])
                       (materialize: String => Unit): String = {
    // deterministic derivations make a concurrent winner's fresh landing
    // bit-identical to ours, so it is served, never renamed over — also
    // when an incremental merge, which reads the live artifact, fails
    // because the winner swapped those files away
    def fresh() =
      Landing.sidecar(s, dirStr, "_fingerprint").map(_.trim).contains(fp)
    if (!fresh()) try
      Landing.swap(s, dirStr, fresh _) { staging =>
        materialize(staging)
        sidecars + ("_fingerprint" -> fp)
      }
    finally {
      // whatever landed — our build, or a concurrent winner's — every
      // session's memoized plan of the dir may index replaced files,
      // even when the token is unchanged
      readCache.invalidate(dirStr)
      modelCache.invalidate(dirStr)
    }
    dirStr
  }

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
        .filterNot(st => Landing.isSibling(st.getPath.getName))
        .sortBy(_.getPath.getName)
        .map { st =>
          val art = st.getPath.toString
          val stored = Landing.sidecar(s, art, "_fingerprint").map(_.trim)
          // lifecycle disambiguation: a `_manifest` sidecar marks the
          // append-incremental lifecycle, whose token is the manifest
          // digest of the table `_table` names (documents.parquet for
          // artifacts landed before the sidecar existed); a `_source`
          // sidecar marks a second-order artifact keyed on ANOTHER
          // artifact dir's manifest; everything else is
          // corpus-fingerprint keyed
          val sourceSidecar = Landing.sidecar(s, art, "_source")
            .map(_.trim).filter(_.nonEmpty)
          val expected =
            if (fs.exists(new org.apache.hadoop.fs.Path(st.getPath,
                                                        "_manifest")))
              manifestFp(Landing.sidecar(s, art, "_table")
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
