package graft.operators

import graft.{Q, Tables}
import graft.sources.Urls
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The URL / link-graph tier above the crawl front door — the corpus
  * gates a web-scale pipeline runs BEFORE any content pass (extension
  * surface beyond the reference, which ingests pre-identified rows,
  * src/ingestion.py:21-38): canonical-URL normalization and dedup
  * (RefinedWeb §3.1's first stage), URL blocklist/score filtering (the
  * C4/RefinedWeb banned-domain + banned-word gate), per-host reputation
  * rollups, and host-graph analytics (degrees + PageRank — the CC-era
  * host-quality prior CCNet-style pipelines mix into curation).
  *
  * The four URL queries plant a deterministic messy URL per document
  * (the q113 planted-PII convention: the corpus carries no organic
  * URLs, so both engines derive the SAME capture URL from `doc_id`;
  * page identity keys on `doc_id % 250` while junk — tracking params,
  * fragments, case, `www.`, trailing slash, userinfo — varies by the
  * full `doc_id`, so canonicalization provably COLLAPSES raw variants).
  * The graph queries plant a deterministic host graph the same way.
  * The same operators run on real crawl frames via
  * [[graft.sources.Crawl.linkEdges]] + [[edgesFromLinks]] /
  * [[Urls.canonicalize]] on a parsed frame's `url`.
  *
  * Scale notes: canonicalization/filtering are single codegen'd
  * projections (no shuffle). Canonical dedup shuffles once on the
  * canonical key — near-unique, so groups stay tiny at any corpus
  * size. Degrees/PageRank shuffle on host keys: state is HOST-sized
  * (~1e7 at 100 TB), never page-sized; contributions use exact
  * integer arithmetic (rank mass scaled to 1e12) so results are
  * summation-order-free — the property that makes a distributed
  * PageRank reproducible run-to-run and engine-to-engine.
  */
object WebGraph {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // ------------------------------------------------------------------
  // Planted capture URLs (q172–q175). Page identity = doc_id % 250:
  // at sf0.01 each page is captured ~2×, at sf0.1 ~20×, under raw
  // forms that differ only in canonicalization-removable junk.
  // ------------------------------------------------------------------

  private def plantUrls(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val k = id % 250
    val sch = when(k % 3 === 0, "https").otherwise("http")
    val cased = when(id % 2 === 0, upper(sch)).otherwise(sch)
    val ui = when(id % 31 === 3,
      concat(lit("u"), id.cast("string"), lit(":pw@"))).otherwise(lit(""))
    val www = when(id % 4 === 0, lit("WWW.")).otherwise(lit(""))
    // IDN pages (k%43=9): the host is one of the Urls.IdnOracleVectors
    // unicode hosts, spelled UNICODE on even capture rounds and
    // PUNYCODE on odd ones — two spellings of one host that only the
    // IDN step can collapse (r20; the DuckDB twin maps the vectors
    // literally, UrlsSpec pins them against java.net.IDN)
    val vs = Urls.IdnOracleVectors
    val idnU = when(k % 3 === 0, vs(0)._1).when(k % 3 === 1, vs(1)._1)
      .otherwise(vs(2)._1)
    val idnA = when(k % 3 === 0, vs(0)._2).when(k % 3 === 1, vs(1)._2)
      .otherwise(vs(2)._2)
    val hostc = when(k % 43 === 9,
        when(expr("(doc_id div 250) % 2") === 0, idnU).otherwise(idnA))
      .otherwise(concat(lit("host"), (k % 53).cast("string"),
        when(k % 5 === 0, ".com").when(k % 5 === 1, ".org")
          .when(k % 5 === 2, ".net").when(k % 5 === 3, ".edu")
          .otherwise(".info")))
    val portc = when(k % 6 === 0, lit(":443"))
      .when(k % 10 === 1, lit(":80"))
      .when(k % 17 === 2, lit(":8080")).otherwise(lit(""))
    val word = when(k % 17 === 0, "casino").when(k % 17 === 1, "pills")
      .when(k % 17 === 2, "download").when(k % 17 === 3, "poker")
      .otherwise("article")
    val pathc = concat(lit("/"), word, lit("/Item"), (k % 211).cast("string"))
    val slash = when(id % 2 === 0, lit("/")).otherwise(lit(""))
    val query = concat(
      lit("?b="), (k % 13).cast("string"),
      lit("&utm_source=s"), id.cast("string"),
      when(k % 8 < 4, concat(lit("&a="), (k % 11).cast("string")))
        .otherwise(lit("")),
      when(id % 7 === 0, concat(lit("&fbclid=fb"), id.cast("string")))
        .otherwise(lit("")))
    val frag = when(id % 6 === 0, concat(lit("#sec"), id.cast("string")))
      .otherwise(lit(""))
    val url = when(id % 23 === 5, concat(lit("not a url "), id.cast("string")))
      .otherwise(concat(cased, lit("://"), ui, www, hostc, portc,
                        pathc, slash, query, frag))
    docs(s, d).select(id.as("doc_id"), col("n_chars"), url.as("url"))
  }

  /** The identical plant in DuckDB (k pre-computed in `plant0`). */
  private val plantSqlCtes: String = {
    val vs = Urls.IdnOracleVectors
    s"""plant0 AS (SELECT doc_id, n_chars, doc_id % 250 AS k FROM documents),
      |plant AS (SELECT doc_id, n_chars,
      |  CASE WHEN doc_id % 23 = 5 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
      |  ELSE
      |    (CASE WHEN doc_id % 2 = 0
      |          THEN upper(CASE WHEN k % 3 = 0 THEN 'https' ELSE 'http' END)
      |          ELSE (CASE WHEN k % 3 = 0 THEN 'https' ELSE 'http' END) END)
      |    || '://'
      |    || (CASE WHEN doc_id % 31 = 3
      |             THEN 'u' || CAST(doc_id AS VARCHAR) || ':pw@' ELSE '' END)
      |    || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
      |    || (CASE WHEN k % 43 = 9 THEN
      |          (CASE WHEN (doc_id // 250) % 2 = 0
      |                THEN (CASE k % 3 WHEN 0 THEN '${vs(0)._1}'
      |                                WHEN 1 THEN '${vs(1)._1}'
      |                                ELSE '${vs(2)._1}' END)
      |                ELSE (CASE k % 3 WHEN 0 THEN '${vs(0)._2}'
      |                                WHEN 1 THEN '${vs(1)._2}'
      |                                ELSE '${vs(2)._2}' END) END)
      |        ELSE 'host' || CAST(k % 53 AS VARCHAR)
      |    || (CASE k % 5 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
      |                   WHEN 2 THEN '.net' WHEN 3 THEN '.edu'
      |                   ELSE '.info' END) END)
      |    || (CASE WHEN k % 6 = 0 THEN ':443' WHEN k % 10 = 1 THEN ':80'
      |             WHEN k % 17 = 2 THEN ':8080' ELSE '' END)
      |    || '/' || (CASE k % 17 WHEN 0 THEN 'casino' WHEN 1 THEN 'pills'
      |                           WHEN 2 THEN 'download' WHEN 3 THEN 'poker'
      |                           ELSE 'article' END)
      |    || '/Item' || CAST(k % 211 AS VARCHAR)
      |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
      |    || '?b=' || CAST(k % 13 AS VARCHAR)
      |    || '&utm_source=s' || CAST(doc_id AS VARCHAR)
      |    || (CASE WHEN k % 8 < 4 THEN '&a=' || CAST(k % 11 AS VARCHAR)
      |             ELSE '' END)
      |    || (CASE WHEN doc_id % 7 = 0
      |             THEN '&fbclid=fb' || CAST(doc_id AS VARCHAR) ELSE '' END)
      |    || (CASE WHEN doc_id % 6 = 0
      |             THEN '#sec' || CAST(doc_id AS VARCHAR) ELSE '' END)
      |  END AS url
      |FROM plant0)""".stripMargin
  }

  private def plantedCanon(s: SparkSession, d: String): DataFrame =
    plantUrls(s, d).withColumn("canon_url", Urls.canonicalize(col("url")))

  /** q185/q188 planted capture history: the q172 canonical pages with
    * a deterministic content version — (doc_id div 250) % (1 + k % 4),
    * so a quarter of pages never change and a quarter churn through
    * four versions. Real frame: canon_url = Urls.canonicalize(url),
    * fp = xxhash64(text).
    */
  private def plantedCaptures(s: SparkSession, d: String): DataFrame =
    plantedCanon(s, d).filter(col("canon_url").isNotNull)
      .select(col("canon_url"),
        expr("(doc_id div 250) % (1 + (doc_id % 250) % 4)").as("fp"))

  // ------------------------------------------------------------------
  // URL filter verdict (q174) — shared spelling for q174/q175.
  // ------------------------------------------------------------------

  /** Banned host labels (first DNS label of the canonical host). */
  private val BlockedLabels = Seq("host7", "host13", "host29")

  /** Banned-substring weights over the canonical URL (RefinedWeb's
    * soft URL scoring: a weighted word list, block at >= 3).
    */
  private val BannedWords = Seq("casino" -> 4, "pills" -> 4,
                                "poker" -> 2, "download" -> 1)

  private def urlScore(canon: Column): Column =
    BannedWords.map { case (w, wt) =>
      when(canon.contains(w), lit(wt.toLong)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def urlVerdict(canon: Column, label: Column,
                         score: Column): Column =
    when(canon.isNull, "unparseable")
      .when(label.isin(BlockedLabels: _*), "blocked_domain")
      .when(score >= 3, "blocked_score")
      .otherwise("keep")

  private def withFilterCols(canoned: DataFrame): DataFrame = {
    val host = Urls.host(col("canon_url"))
    val df = canoned.withColumn("host", host)
      .withColumn("label", substring_index(col("host"), ".", 1))
      .withColumn("url_score",
        when(col("canon_url").isNull, lit(0L))
          .otherwise(urlScore(col("canon_url"))))
    df.withColumn("verdict",
      urlVerdict(col("canon_url"), col("label"), col("url_score")))
  }

  private val filterSqlCtes: String =
    """f0 AS (SELECT *,
      |    regexp_replace(regexp_extract(canon_url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', '')
      |      AS host
      |  FROM canon),
      |f AS (SELECT *,
      |    split_part(host, '.', 1) AS label,
      |    CASE WHEN canon_url IS NULL THEN CAST(0 AS BIGINT) ELSE
      |      (CASE WHEN contains(canon_url, 'casino') THEN 4 ELSE 0 END
      |       + CASE WHEN contains(canon_url, 'pills') THEN 4 ELSE 0 END
      |       + CASE WHEN contains(canon_url, 'poker') THEN 2 ELSE 0 END
      |       + CASE WHEN contains(canon_url, 'download') THEN 1 ELSE 0 END)
      |    END AS url_score
      |  FROM f0),
      |fv AS (SELECT *,
      |    CASE WHEN canon_url IS NULL THEN 'unparseable'
      |         WHEN label IN ('host7', 'host13', 'host29')
      |           THEN 'blocked_domain'
      |         WHEN url_score >= 3 THEN 'blocked_score'
      |         ELSE 'keep' END AS verdict
      |  FROM f)""".stripMargin

  // ------------------------------------------------------------------
  // Planted host graph (q176/q177): src = doc_id % 53, fanout
  // 1 + doc_id % 3, dst = (doc_id*7 + j*11 + 3) % 53 — deterministic,
  // covers all 53 hosts, has real in-degree skew.
  // ------------------------------------------------------------------

  private def plantEdgesOf(docFrame: DataFrame): DataFrame = {
    val id = col("doc_id")
    docFrame
      .select(id.as("doc_id"),
              explode(sequence(lit(0L), id % 3)).as("j"))
      .select(
        concat(lit("host"), (col("doc_id") % 53).cast("string")).as("src"),
        concat(lit("host"),
          ((col("doc_id") * 7 + col("j") * 11 + 3) % 53).cast("string"))
          .as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Times the link-edge artifact was DERIVED (full or delta) this JVM
    * — the funnelDerives pin pattern: PlanSpec asserts warm q176/q177/
    * q180/q182 reads serve from the landed edge table without this
    * moving (zero corpus scans per read).
    */
  val linkEdgeDerives = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The landed host link-edge table (`link_edges_v1`) — the persisted
    * form of the corpus link extraction, append-incremental: a nightly
    * crawl appends WARC/parquet files, and edges are ADDITIVE under
    * distinct-union (the one-merge monoid), so the refresh extracts
    * links from ONLY the appended files and distinct-merges them into
    * the landed table — old corpus bytes are never re-read
    * (LinkEdgesIncrSpec proves it by corrupting them in place). Every
    * expensive graph derivation (degrees q176, PageRank q177/q180,
    * components) serves from this artifact instead of re-extracting
    * HTML from the whole corpus per run — the last derivation family
    * that paid a full corpus pass per read (round-16 Missing #1). On a
    * real crawl the extraction is `edgesFromLinks(Crawl.linkEdges(_))`
    * per file slice; the oracle corpus plants the deterministic q176
    * graph.
    */
  def linkEdgesTable(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "link_edges_v1")(
      { linkEdgeDerives.incrementAndGet()
        plantEdgesOf(docs(s, d)) })(
      files => { linkEdgeDerives.incrementAndGet()
        plantEdgesOf(s.read.parquet(files: _*)) })(
      (old, dl) => old.unionByName(dl).distinct())

  /** The q182 site-family edge table (`site_edges_v1`) — the planted
    * ring+chords host graph, landed with the same append-incremental
    * lifecycle as [[linkEdgesTable]] (distinct-union merge). */
  def siteEdgesTable(s: SparkSession, d: String): DataFrame =
    DerivedCache.orBuildIncremental(s, d, "site_edges_v1")(
      { linkEdgeDerives.incrementAndGet()
        siteEdgesOf(docs(s, d)) })(
      files => { linkEdgeDerives.incrementAndGet()
        siteEdgesOf(s.read.parquet(files: _*)) })(
      (old, dl) => old.unionByName(dl).distinct())

  /** Times a RANK artifact (host_rank_v1 / trust_rank_v1) was derived
    * this JVM — the funnelDerives pin pattern: PlanSpec asserts warm
    * q177/q180/q186/q188 reads serve the 3-shuffle-round iteration
    * from the landed parquet without this moving.
    */
  val rankDerives = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The landed host-rank table (`host_rank_v1`): q177's exact-integer
    * 3-iteration PageRank, persisted as a SECOND-ORDER artifact keyed
    * on `link_edges_v1`'s file manifest — an edge append refreshes the
    * edge artifact, which invalidates exactly this derivation; the
    * rebuild reads ONLY landed edges, never the corpus. Before this
    * landed, every rank consumer (q177/q180/q188) paid 3 shuffle-join
    * rounds per read — 2.5-2.9 s cold at sf0.1, hours at CC scale; a
    * warm read is now one parquet scan. Determinism makes the cache
    * exact: the BIGINT-div arithmetic is bit-identical between a
    * rebuild and the landed bytes, so oracle parity is unaffected by
    * whether a query composed from cache or from scratch.
    */
  def hostRankTable(s: SparkSession, d: String): DataFrame = {
    // refresh/land the edge artifact FIRST: the rank token must key on
    // the post-append edge manifest, not a stale one
    val edges = linkEdgesTable(s, d)
    DerivedCache.orBuildFromDir(s, d, "host_rank_v1",
        DerivedCache.artifactDir(d, "link_edges_v1")) {
      rankDerives.incrementAndGet()
      pageRank(edges, 3)
    }
  }

  /** The landed trust-rank table (`trust_rank_v1`) — q186's TrustRank
    * with its curated seed rule (hosts whose number divides by 7; a
    * production deployment swaps in its curated seed table and bumps
    * the version suffix), persisted with the same second-order
    * lifecycle as [[hostRankTable]].
    */
  def trustRankTable(s: SparkSession, d: String): DataFrame = {
    val edges = linkEdgesTable(s, d)
    DerivedCache.orBuildFromDir(s, d, "trust_rank_v1",
        DerivedCache.artifactDir(d, "link_edges_v1")) {
      rankDerives.incrementAndGet()
      val hosts = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host"))).distinct()
      val seeds = hosts.filter(
        expr("cast(regexp_extract(host, '[0-9]+', 0) as bigint)")
          % 7 === 0)
      trustRank(edges, seeds, 3)
    }
  }

  // ------------------------------------------------------------------
  // Crawl-tier artifacts over a REAL WARC corpus dir (the nightly's
  // crawl stage — graft.Nightly): same DerivedCache lifecycles as the
  // planted tables above, but the extraction is the real front end
  // (readWarc -> linkEdges -> edgesFromLinks).
  // ------------------------------------------------------------------

  /** The landed link-edge table of a WARC crawl directory
    * (`crawl_link_edges_v1`), append-incremental on the DIRECTORY
    * manifest (table "."): a nightly crawl appends `.warc.gz` files,
    * and the refresh parses links from ONLY the appended members —
    * raw-body read (extraction destroys markup), distinct host-edge
    * merge. The expensive pass (gunzip + HTML parse) is exactly the
    * one this lifecycle amortizes.
    */
  def crawlLinkEdgesTable(s: SparkSession, warcDir: String): DataFrame =
    DerivedCache.orBuildIncremental(s, warcDir, "crawl_link_edges_v1",
        table = ".")(
      { linkEdgeDerives.incrementAndGet()
        edgesFromLinks(graft.sources.Crawl.linkEdges(
          graft.sources.Crawl.readWarc(s, warcDir,
                                       extractHtml = false))) })(
      files => { linkEdgeDerives.incrementAndGet()
        edgesFromLinks(graft.sources.Crawl.linkEdges(
          graft.sources.Crawl.readWarcFiles(s, files,
                                            extractHtml = false))) })(
      (old, dl) => old.unionByName(dl).distinct())

  /** Host PageRank of a WARC crawl dir (`crawl_host_rank_v1`) — the
    * second-order lifecycle of [[hostRankTable]], keyed on the landed
    * crawl edge artifact: an edge append invalidates exactly this,
    * and the rebuild reads only landed edges.
    */
  def crawlHostRankTable(s: SparkSession, warcDir: String): DataFrame = {
    val edges = crawlLinkEdgesTable(s, warcDir)
    DerivedCache.orBuildFromDir(s, warcDir, "crawl_host_rank_v1",
        DerivedCache.artifactDir(warcDir, "crawl_link_edges_v1")) {
      rankDerives.incrementAndGet()
      pageRank(edges, 3)
    }
  }

  /** TrustRank of a WARC crawl dir (`crawl_trust_rank_v1`) — same
    * lifecycle as [[crawlHostRankTable]]. Seeds: the deterministic
    * hash placeholder (xxhash64(host) % 7 == 0 — ~1/7 of hosts); a
    * deployment swaps in its curated seed table and bumps the version
    * suffix (the q186 convention).
    */
  def crawlTrustRankTable(s: SparkSession, warcDir: String): DataFrame = {
    val edges = crawlLinkEdgesTable(s, warcDir)
    DerivedCache.orBuildFromDir(s, warcDir, "crawl_trust_rank_v1",
        DerivedCache.artifactDir(warcDir, "crawl_link_edges_v1")) {
      rankDerives.incrementAndGet()
      val hosts = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host"))).distinct()
      val seeds = hosts.filter(pmod(xxhash64(col("host")), lit(7)) === 0)
      trustRank(edges, seeds, 3)
    }
  }

  /** Trap verdicts of a WARC crawl dir (`crawl_trap_verdicts_v1`) —
    * [[crawlTraps]] over the crawl's canonical URL space, persisted
    * with the plain corpus-fingerprint lifecycle (host-sized output;
    * the rebuild is one projection + one host-keyed aggregation).
    * The threshold bakes into the landed bytes — changing it means a
    * version bump or an invalidate, the documented artifact rule.
    */
  def crawlTrapVerdictsTable(s: SparkSession, warcDir: String,
                             threshold: Double = 3.0): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_trap_verdicts_v1") {
      crawlTraps(
        graft.sources.Crawl.readWarc(s, warcDir, extractHtml = false)
          .filter(!col("corrupt") && col("url").isNotNull)
          .select(graft.sources.Urls.canonicalize(col("url"))
            .as("canon_url"))
          .filter(col("canon_url").isNotNull),
        threshold)
    }

  /** Times a crawl MANIFEST artifact (frontier / refetch queue) was
    * derived this JVM — the derive-counter pin pattern: NightlySpec
    * asserts night N+1 serves both without this moving (zero WARC
    * re-parses for unchanged corpora).
    */
  val crawlManifestDerives = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The night's frontier manifest (`crawl_frontier_v3`): the batch
    * frontier over the WARC corpus — robots-gated, trap-capped via
    * the landed verdict artifact (the q191 composition) — persisted
    * with the corpus-fingerprint lifecycle so an unchanged corpus
    * pays ZERO gunzip+parse on the next night (the build is the only
    * corpus pass). Parameters bake into the landed bytes — change
    * them means a version bump or invalidate, the artifact rule.
    */
  def crawlFrontierTable(s: SparkSession, warcDir: String,
                         perHostCap: Int = 64,
                         agent: String = "graftbot",
                         trapThreshold: Double = 3.0): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_frontier_v3") {
      crawlManifestDerives.incrementAndGet()
      val parsed = graft.sources.Crawl.readWarc(s, warcDir,
                                                extractHtml = false)
      val verdicts = crawlTrapVerdictsTable(s, warcDir, trapThreshold)
      // v2 collapsed candidates through the landed alias manifest
      // (301 chains + rel=canonical) before the seen probe and
      // budget; v3 bakes in the health/backoff manifests tightening
      // per-host caps (the gates changed the landed BYTES, so the
      // name must change — the artifact rule: a v2 landed before the
      // gates must never serve an ungated frontier) — a dead host
      // keeps one recovery probe, a host inside
      // its Retry-After window (at the snapshot's own as-of instant,
      // the due-queue convention) gets NOTHING: it asked. The as-of
      // instant serves from its own landed 1-row artifact — one
      // corpus parse per corpus CHANGE, shared by every consumer,
      // instead of a dedicated full gunzip+parse per build.
      val asofS = crawlAsofS(s, warcDir)
      val caps = healthCaps(crawlHealthTable(s, warcDir),
          perHostCap.toLong)
        .unionByName(backoffCaps(crawlBackoffTable(s, warcDir), asofS))
        .groupBy("host").agg(min("cap").as("cap"))
      graft.sources.Crawl.frontier(parsed, perHostCap,
          robotsAgent = Some(agent),
          aliases = Some(crawlAliasTable(s, warcDir)))
        .join(verdicts.select(col("host"), col("verdict"))
            .hint("shuffle_hash"), Seq("host"), "left")
        .join(caps.hint("shuffle_hash"), Seq("host"), "left")
        .filter(col("rk") <= least(
          when(col("verdict") === "trap", 1L).otherwise(Long.MaxValue),
          coalesce(col("cap"), lit(Long.MaxValue))))
        .drop("verdict", "cap")
    }

  /** The corpus' as-of instant (`crawl_asof_v1`): max capture ts
    * over the WARC dir, landed as a 1-ROW artifact so every consumer
    * that needs "the snapshot's own clock" (the frontier's backoff
    * caps, the fetch plan's open-window slice) reads one tiny
    * parquet instead of paying a dedicated full gunzip+parse for a
    * single max. Serve-or-build like every sibling manifest.
    */
  def crawlAsofTable(s: SparkSession, warcDir: String): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_asof_v1") {
      crawlManifestDerives.incrementAndGet()
      graft.sources.Crawl.readWarc(s, warcDir, extractHtml = false)
        .agg(coalesce(max(col("ts").cast("long")), lit(0L))
          .as("asof_s"))
    }

  /** [[crawlAsofTable]] read down to the scalar. */
  def crawlAsofS(s: SparkSession, warcDir: String): Long =
    crawlAsofTable(s, warcDir).head().getLong(0)

  /** The night's host-health manifest (`crawl_health_v1`): q203's
    * verdicts over the real corpus — same serve-or-build lifecycle as
    * the sibling manifests.
    */
  def crawlHealthTable(s: SparkSession, warcDir: String): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_health_v1") {
      crawlManifestDerives.incrementAndGet()
      hostHealth(graft.sources.Crawl
        .readWarc(s, warcDir, extractHtml = false)
        .filter(!col("corrupt") && col("url").isNotNull)
        .select(graft.sources.Urls.host(
            graft.sources.Urls.canonicalize(col("url"))).as("host"),
          col("http_status"))
        .filter(col("host").isNotNull))
    }

  /** The night's Retry-After manifest (`crawl_backoff_v1`): q202's
    * per-host backoff windows over the real corpus. Consumers filter
    * to their own as-of instant via [[backoffCaps]] — the landed
    * table carries every window, because "active" depends on when
    * the next cadence runs, not on when the nightly did.
    */
  def crawlBackoffTable(s: SparkSession, warcDir: String): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_backoff_v1") {
      crawlManifestDerives.incrementAndGet()
      hostBackoff(graft.sources.Crawl
        .readWarc(s, warcDir, extractHtml = false)
        .filter(!col("corrupt") && col("url").isNotNull)
        .select(graft.sources.Urls.host(
            graft.sources.Urls.canonicalize(col("url"))).as("host"),
          col("http_status"), col("ts").cast("long").as("ts_s"),
          graft.sources.Crawl.retry_after_s(col("retry_after"),
            col("ts")).as("retry_after_s"))
        .filter(col("host").isNotNull))
    }

  /** The composed revalidation PLAN (q205): the due queue says WHEN
    * ([[crawlDueQueueTable]] / q198 — channel provenance riding), the
    * validator table says HOW ([[graft.sources.Crawl
    * .revisitValidators]] — the newest captured ETag/Last-Modified).
    * One near-unique-key left join: each due page leaves with its
    * If-Modified-Since / If-None-Match request headers and a
    * `conditional` flag — 1 means the fetch can cost a 304, 0 means
    * the page never served a validator and the fetch is
    * unconditional. This IS the table a recrawler drains.
    */
  def fetchPlan(due: DataFrame, validators: DataFrame): DataFrame =
    due.join(validators.select(col("canon_url"),
        col("last_modified").as("if_modified_since"),
        col("etag").as("if_none_match")).hint("shuffle_hash"),
      Seq("canon_url"), "left")
      .withColumn("conditional",
        (col("if_modified_since").isNotNull ||
          col("if_none_match").isNotNull).cast("long"))

  /** The DRAINABLE plan (q206): [[fetchPlan]] sequenced by host
    * politeness — a due page on a host inside an open RFC 9110
    * Retry-After window ([[hostBackoff]]) is not fetchable at its
    * due instant; its fetch slides to the window's expiry.
    * `fetch_at_s = greatest(due_ts_s, backoff_until_s)` when the
    * host asked for a pause, `due_ts_s` otherwise; `deferred` = 1
    * when politeness moved it. Nothing LEAVES the plan here — the
    * host said "not yet", not "never" (contrast robots disallow,
    * which evicts: [[crawlFetchPlanTable]]). One host-keyed left
    * join, shuffle-pinned: the hosts-that-asked frame is unbounded
    * at web scale, never broadcast.
    */
  def drainablePlan(plan: DataFrame, backoff: DataFrame): DataFrame =
    plan.withColumn("host", graft.sources.Urls.host(col("canon_url")))
      .join(backoff.select(col("host"), col("backoff_until_s"))
          .hint("shuffle_hash"), Seq("host"), "left")
      .withColumn("fetch_at_s",
        greatest(col("due_ts_s"),
                 coalesce(col("backoff_until_s"), col("due_ts_s"))))
      .withColumn("deferred",
        (col("fetch_at_s") > col("due_ts_s")).cast("long"))
      .drop("backoff_until_s")

  /** The PACED plan (q207): per-host politeness pacing — a host
    * that declares a fetch interval (robots Crawl-delay /
    * Request-rate, [[graft.sources.Robots.robots_delay]]) must see
    * its due pages SPACED by it, not burst at their due instants.
    * The serial recurrence `f(i) = max(due_i, f(i-1) + d)` (first
    * page at its due time, each next no sooner than the previous
    * fetch plus the declared delay) has the exact closed form
    * `f(i) = i*d + max_{j<=i}(due_j - j*d)` — a running max over the
    * per-host order — so the whole schedule is two window passes
    * sharing ONE exchange + sort on host (row_number, then the
    * prefix max), no driver loop, exact BIGINT throughout. Hosts
    * with no declared delay pace at 0 (fetch_at_s = due_ts_s).
    * Order within a host: due instant, then canon_url — the full
    * tie-break both engines agree on. Per-host sequences are the
    * SEMANTICS (pacing is inherently serial per host), so partition
    * width = the host's due-page count; the frontier's per-host
    * budget caps bound it long before a window would skew.
    * `paced` = 1 where politeness moved the instant.
    */
  def pacedPlan(plan: DataFrame, delays: DataFrame): DataFrame =
    // host derives from canon_url (the drainablePlan convention —
    // callers need not carry it)
    paceFrom(plan.withColumn("host",
        graft.sources.Urls.host(col("canon_url"))),
      delays, "due_ts_s")

  /** The shared pacing core of [[pacedPlan]] / [[dispatchPlan]]:
    * the closed-form recurrence over `base` (each page's earliest
    * permissible instant). Non-positive delays read as undeclared
    * (robots_delay spells "none" as -1) — they must not run the
    * recurrence backwards. Input must carry `host`.
    */
  private def paceFrom(planWithHost: DataFrame, delays: DataFrame,
                       base: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(col(base), col("canon_url"))
    planWithHost
      .join(delays.select(col("host"), col("delay_s"))
        .filter(col("delay_s") > 0L)
        .hint("shuffle_hash"), Seq("host"), "left")
      .withColumn("_d", coalesce(col("delay_s"), lit(0L)))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_base", col(base) - col("_rn") * col("_d"))
      .withColumn("fetch_at_s",
        max("_base").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)) +
          col("_rn") * col("_d"))
      .withColumn("paced",
        (col("fetch_at_s") > col(base)).cast("long"))
      .drop("delay_s", "_d", "_rn", "_base")
  }

  /** The DISPATCH plan (q208) — the full politeness algebra in ONE
    * table: "fetch this URL at this instant with these headers",
    * respecting the due verdict, the host's requested Retry-After
    * pause, and its declared crawl-delay simultaneously.
    * [[drainablePlan]] first slides each page's earliest permissible
    * instant past its host's open window (`ready_ts_s`, `deferred`);
    * the [[paceFrom]] closed form then spaces each host's queue from
    * those READY instants (`fetch_at_s`, `paced`) — which is where
    * the composition earns its keep: a Retry-After window compresses
    * every deferred page onto the same expiry instant, and pacing
    * fans that burst back out at the declared interval instead of
    * letting the recrawler hammer the host the second it reopens.
    * Same shapes as the parts: one host-keyed join each for backoff
    * and delays, one exchange + sort for both windows.
    */
  def dispatchPlan(plan: DataFrame, backoff: DataFrame,
                   delays: DataFrame): DataFrame =
    paceFrom(drainablePlan(plan, backoff)
        .withColumnRenamed("fetch_at_s", "ready_ts_s"),
      delays, "ready_ts_s")

  /** [[pacedPlan]]'s real-corpus delay frame: each host's declared
    * fetch interval from the robots Crawl-delay / Request-rate
    * channel ([[graft.sources.Robots.robots_delay]] through the
    * shared [[graft.sources.Crawl.compiledRobots]] projection — ONE
    * body parse per host), ceiled to whole seconds for the exact
    * BIGINT schedule. Hosts that declare nothing are absent (robots
    * spells that -1): they pace at 0.
    */
  def declaredDelays(parsed: DataFrame,
                     agent: String = "graftbot"): DataFrame =
    graft.sources.Crawl.compiledRobots(parsed, agent)
      .filter(col("_robots_delay").isNotNull &&
        col("_robots_delay") > 0.0)
      .select(col("host"),
        ceil(col("_robots_delay")).cast("long").as("delay_s"))

  /** The night's fetch-plan manifest (`crawl_fetch_plan_v2`):
    * [[fetchPlan]] over the real corpus — the due queue joined with
    * the latest captured validators — with the two host-level gates
    * a polite recrawler owes before draining it:
    *   - robots DISALLOW evicts (the frontier rule, shared
    *     [[graft.sources.Crawl.compiledRobots]] frame): a page whose
    *     host's CURRENT robots.txt forbids it must not be refetched
    *     however due it is — the host said "never" (RFC 9309;
    *     fail-open on absent/unparseable robots, the repo-wide
    *     convention);
    *   - an OPEN Retry-After window at the snapshot's own as-of
    *     instant (the frontier-v2 convention) only annotates:
    *     `not_before_s` carries the window's expiry, null when the
    *     host is free — the host said "not yet", and the due verdict
    *     still stands.
    * Landed beside its inputs under the same serve-or-build
    * lifecycle; the 1-row as-of aggregate is the seenUrlBloom
    * precedent and runs only on build.
    */
  def crawlFetchPlanTable(s: SparkSession, warcDir: String,
                          dueBaseS: Long = 86400L,
                          agent: String = "graftbot"): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_fetch_plan_v2") {
      crawlManifestDerives.incrementAndGet()
      val parsed = graft.sources.Crawl.readWarc(s, warcDir,
                                                extractHtml = false)
      val asofS = crawlAsofS(s, warcDir)
      fetchPlan(crawlDueQueueTable(s, warcDir, dueBaseS),
          graft.sources.Crawl.revisitValidators(parsed)
            .select(col("canon_url"), col("last_modified"), col("etag")))
        .withColumn("host", graft.sources.Urls.host(col("canon_url")))
        .join(graft.sources.Crawl.compiledRobots(parsed, agent)
            .drop("_robots_delay").hint("shuffle_hash"),
          Seq("host"), "left")
        .filter(graft.sources.Robots.robots_allowed_c(
          col("canon_url"), col("_robots_rules")))
        .drop("_robots_rules")
        .join(crawlBackoffTable(s, warcDir)
            .filter(col("backoff_until_s") > asofS)
            .select(col("host"), col("backoff_until_s").as("not_before_s"))
            .hint("shuffle_hash"), Seq("host"), "left")
        .drop("host")
    }

  /** The night's alias-resolution manifest (`crawl_aliases_v1`): the
    * UNIFIED alias channel over the real corpus — 301/302 chains plus
    * `<link rel=canonical>` declarations
    * ([[graft.sources.Crawl.aliasEdges]]), canonicalized on both
    * sides (the frontier keys candidates by canonical url), resolved
    * through [[resolveAliasEdges]] (redirect beats canonical, max
    * target within a channel, 3 hops), identity rows dropped (they
    * add nothing to the frontier's left join). This is the `aliases`
    * frame both frontier doors consume next cadence — the landed
    * closure of what [[graft.sources.Crawl.frontierStreamLive]]
    * learns live. Same serve-or-build lifecycle as the sibling
    * manifests.
    */
  def crawlAliasTable(s: SparkSession, warcDir: String): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_aliases_v1") {
      crawlManifestDerives.incrementAndGet()
      val edges = graft.sources.Crawl.aliasEdges(
        graft.sources.Crawl.readWarc(s, warcDir, extractHtml = false))
        .select(
          graft.sources.Urls.canonicalize(col("src_url")).as("src_url"),
          graft.sources.Urls.canonicalize(col("dst_url")).as("dst_url"),
          col("via"))
        .filter(col("src_url").isNotNull && col("dst_url").isNotNull &&
          col("src_url") =!= col("dst_url"))
      resolveAliasEdges(edges.select(col("src_url").as("url"))
          .distinct(), edges, 3)
        .filter(col("url") =!= col("final_url"))
    }

  /** Host-level Retry-After backoff (RFC 9110 §10.2.3, q202): a 429
    * or 503 carrying Retry-After is the host ITSELF asking for a
    * pause — the politeness signal every production fetcher honors
    * before any learned schedule. Input: capture rows (host,
    * http_status, ts_s, retry_after_s —
    * [[graft.sources.Crawl.retry_after_s]] over the verbatim
    * header). Output per host: n_backoffs (how many times it asked)
    * and backoff_until_s = max(capture + requested delay) — the
    * instant its LATEST request expires. One host-keyed aggregation;
    * host-sized at any corpus scale. Compose via [[backoffCaps]].
    */
  def hostBackoff(captures: DataFrame): DataFrame =
    captures
      .filter(col("http_status").isin(429, 503) &&
        col("retry_after_s").isNotNull)
      .groupBy("host")
      .agg(count(lit(1)).as("n_backoffs"),
           max(col("ts_s").cast("long") + col("retry_after_s"))
             .as("backoff_until_s"))

  /** [[hostBackoff]] rendered as a cap frame for the frontier doors'
    * `rankCaps` slot (the least-composition of [[schedulerCaps]]):
    * hosts still inside their requested window at `asofS` get cap 0 —
    * NOT the trap probe: the host explicitly said "not yet", and a
    * probe is exactly a violation. Expired windows drop out (fail
    * open — the robots convention).
    */
  def backoffCaps(backoff: DataFrame, asofS: Long): DataFrame =
    backoff.filter(col("backoff_until_s") > asofS)
      .select(col("host"), lit(0L).as("cap"))

  /** Host health from capture statuses (q203) — the circuit breaker
    * ABOVE the page-level demotion q199 runs: a host answering mostly
    * errors is burning fetch budget host-wide, whatever each page's
    * streak looks like. Per host: n_captures, n_err (status >= 400;
    * revisits carry 304/no status and never count), err_share
    * (round 4dp — the q185 spelling), verdict 'dead' (share >= 0.9),
    * 'degraded' (>= 0.5), else 'ok' — hosts with fewer than
    * `minCaptures` observations stay 'ok' (fail open, the robots
    * convention: you don't demote a host you barely know). One
    * host-keyed aggregation. Compose via [[healthCaps]].
    */
  def hostHealth(captures: DataFrame, minCaptures: Long = 5L)
      : DataFrame = {
    val st = col("http_status")
    // only status-bearing observations enter the ledger at all:
    // a null-status row (WARC revisit, JSONL frame) is not evidence
    // either way, and counting it in the denominator alone would
    // dilute err_share — the live door's statusRows filter, mirrored
    // so batch and stream verdicts agree on the same thresholds
    val g = captures.filter(st.isNotNull).groupBy("host")
      .agg(count(lit(1)).as("n_captures"),
           sum(when(st >= 400, 1L).otherwise(0L))
             .as("n_err"))
      .select(col("host"), col("n_captures"), col("n_err"),
        round(col("n_err").cast("double") /
          col("n_captures").cast("double"), 4).as("err_share"))
    g.withColumn("verdict",
      when(col("n_captures") < minCaptures, "ok")
        .when(col("err_share") >= 0.9, "dead")
        .when(col("err_share") >= 0.5, "degraded")
        .otherwise("ok"))
  }

  /** [[hostHealth]] rendered as a cap frame for the `rankCaps` slot:
    * a dead host collapses to its probe (cap 1 — unlike
    * [[backoffCaps]]' explicit "not yet", a dead host said nothing,
    * and ONE fetch per cadence is how the crawler notices recovery —
    * the trap-probe convention), a degraded host halves (floor 1),
    * healthy hosts drop out (fail open).
    */
  def healthCaps(health: DataFrame, perHostCap: Long): DataFrame =
    health.filter(col("verdict") =!= "ok")
      .select(col("host"),
        when(col("verdict") === "dead", 1L)
          .otherwise(greatest(lit(perHostCap / 2), lit(1L)))
          .as("cap"))

  /** (canon_url, fp, ts_s, http_status, revisit, doc_id) capture
    * rows from a parsed WARC frame — ONE spelling for the batch queue
    * builders, mirroring the stream doors' revisit semantics
    * ([[graft.sources.Crawl.refetchStream]] / changeTrackStream): a
    * WARC revisit record (text null, revisit = true — the 304
    * economy's "content unchanged" capture) COUNTS as a capture with
    * a null fp (no version, but fresh recency), so `last_ts_s`
    * reflects a page recently CONFIRMED unchanged and the due queue
    * never schedules it prematurely. Before round 20 these builders
    * filtered on `text.isNotNull` alone, dropping revisits —
    * [[refetchDue]]'s n_changes floor anticipated the null-fp rows
    * that never arrived.
    */
  private def warcCaptureRows(parsed: DataFrame): DataFrame = {
    val rev = coalesce(col("revisit"), lit(false))
    val status = col("http_status")
    val isErr = status.isNotNull && status >= 400 && !rev
    parsed
      .filter(!col("corrupt") && col("url").isNotNull &&
        (col("text").isNotNull || rev || isErr))
      .select(graft.sources.Urls.canonicalize(col("url"))
          .as("canon_url"),
        // fp is the RAW body fingerprint wherever a body exists —
        // the status gate (error bodies never fingerprint) is
        // recrawlStatus's job, one spelling, not the reader's.
        // Bodyless ERROR responses (status >= 400, no text — rare
        // but legal) ride as observations recrawlStatus prices.
        when(rev || col("text").isNull, lit(null).cast("long"))
          .otherwise(xxhash64(col("text"))).as("fp"),
        col("ts").cast("long").as("ts_s"),
        col("http_status"), rev.as("revisit"),
        coalesce(col("doc_id"), lit(0L)).as("doc_id"),
        // the capture's declared RFC 9111 lifetime, for the
        // cache_control due channel ([[declaredLifetime]] keeps the
        // newest OK one per page)
        graft.sources.Crawl.max_age_s(col("cache_control"),
          col("expires"), col("ts")).as("max_age_s"))
      .filter(col("canon_url").isNotNull)
  }

  /** The night's recrawl manifest (`crawl_refetch_queue_v2`): due
    * pricing over the real capture history via [[recrawlStatusQueue]]
    * (q199 — the status-aware, order-aware upgrade of q196's rule:
    * error bodies never fingerprint, entering error counts one
    * change, and pages whose trailing two captures are errors LEAVE
    * the queue), persisted like [[crawlFrontierTable]] — the corpus
    * parse happens once per corpus change, not once per night.
    * Documented divergence from the planted q196/q198 twins: changes
    * here are the stream's TRANSITION count, not the order-blind
    * distinct-fingerprint lower bound (equal whenever no version
    * recurs). v2: revisit-aware + status-aware capture rows (v1
    * dropped revisits and let error bodies register transitions).
    */
  def crawlRefetchQueueTable(s: SparkSession, warcDir: String,
                             dueBaseS: Long = 86400L): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_refetch_queue_v2") {
      crawlManifestDerives.incrementAndGet()
      val caps = warcCaptureRows(
        graft.sources.Crawl.readWarc(s, warcDir, extractHtml = false))
      recrawlStatusQueue(caps, dueBaseS,
        declared = Some(declaredLifetime(caps)))
    }

  /** The night's actionable due WORK LIST (`crawl_due_queue_v2`) —
    * q198 computed over the REAL corpus: the interval channel
    * ([[recrawlStatusQueue]] at the snapshot's own as-of instant, the
    * corpus's newest capture — a nightly prices "due as of now") is
    * unioned with the declared-instant channel ([[lastmodDue]] over
    * [[graft.sources.Crawl.declaredHints]] — the sitemap lastmods the
    * crawl actually captured), with channel provenance
    * (interval / lastmod / both). Same serve-or-build lifecycle as
    * the sibling manifests; one corpus pass on build, zero on an
    * unchanged corpus. v2: revisit-aware + status-aware capture rows
    * (v1 dropped revisit records, scheduling revisit-confirmed pages
    * prematurely, and let error bodies register transitions). The
    * interval channel prices via [[recrawlStatusQueue]], so DEMOTED
    * pages (trailing error streak) leave it; the lastmod channel is
    * deliberately NOT demoted — the host explicitly declared the
    * page changed, the one signal that plausibly means a dead page
    * came back, and the conditional GET it triggers is cheap.
    */
  def crawlDueQueueTable(s: SparkSession, warcDir: String,
                         dueBaseS: Long = 86400L): DataFrame =
    DerivedCache.orBuild(s, warcDir, "crawl_due_queue_v2") {
      crawlManifestDerives.incrementAndGet()
      val parsed = graft.sources.Crawl.readWarc(s, warcDir,
                                                extractHtml = false)
      val caps = warcCaptureRows(parsed)
      val asof = broadcast(
        caps.agg(max("ts_s").cast("long").as("asof_s")))
      // interval channel, RFC 9111-capped: a page due only because
      // its declared max-age elapsed carries 'cache_control'
      // provenance — the host's own published interval put it here
      val iv = recrawlStatusQueue(caps, dueBaseS,
          declared = Some(declaredLifetime(caps)))
        .crossJoin(asof).filter(col("due_ts_s") <= col("asof_s"))
        .select(col("canon_url"), col("interval_src"))
      val lastCaps = caps.groupBy("canon_url")
        .agg(max("ts_s").cast("long").as("last_ts_s"))
      val lm = lastmodDue(lastCaps,
          graft.sources.Crawl.declaredHints(parsed))
        .filter(col("due_now") === 1L).select("canon_url")
      iv.select(col("canon_url"), lit(1).as("iv"), lit(0).as("lm"),
          col("interval_src").as("src"))
        .unionByName(
          lm.select(col("canon_url"), lit(0).as("iv"), lit(1).as("lm"),
            lit("").as("src")))
        .groupBy("canon_url")
        .agg(max("iv").as("iv"), max("lm").as("lm"),
             max("src").as("src"))
        .select(col("canon_url"),
          when(col("iv") === 1 && col("lm") === 1, "both")
            .when(col("iv") === 1, col("src"))
            .otherwise(lit("lastmod")).as("channel"))
    }

  private def siteEdgesOf(docFrame: DataFrame): DataFrame = {
    val k = (col("doc_id") % 250).as("k")
    val k0 = docFrame.select(k).distinct()
    val h24 = col("k") % 24
    def hn(c: Column): Column = concat(lit("h"), c.cast("string"))
    val ring = k0.select(hn(h24).as("src"), hn((h24 + 4) % 24).as("dst"))
    val chords = k0.filter(col("k") % 2 === 0)
      .select(hn(h24).as("src"), hn((h24 + 8) % 24).as("dst"))
    ring.unionByName(chords).distinct()
  }

  private val edgesSqlCtes: String =
    """e0 AS (SELECT 'host' || CAST(doc_id % 53 AS VARCHAR) AS src,
      |         'host' || CAST((doc_id * 7 + j * 11 + 3) % 53 AS VARCHAR)
      |           AS dst
      |       FROM documents
      |       CROSS JOIN LATERAL unnest(range(doc_id % 3 + 1)) AS t(j)),
      |edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
      |hosts AS (SELECT src AS host FROM edges
      |          UNION SELECT dst FROM edges),
      |o AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg
      |      FROM edges GROUP BY 1)""".stripMargin

  // ------------------------------------------------------------------
  // Reusable graph operators (planted oracle edges and real
  // Crawl.linkEdges frames alike).
  // ------------------------------------------------------------------

  /** (src, dst) host edges from a (src_url, dst_url) link frame:
    * hosts via [[Urls.host]] (strict — unparseable URLs drop rather
    * than alias into one mega-node), self-loops dropped, distinct.
    * One distinct shuffle on the edge pair.
    */
  def edgesFromLinks(links: DataFrame): DataFrame =
    links.select(Urls.host(col("src_url")).as("src"),
                 Urls.host(col("dst_url")).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()

  /** Per-host out/in degree over a distinct (src, dst) edge frame.
    * Two host-keyed aggregations + host-keyed left joins — state is
    * host-sized throughout.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst")
    val hosts = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    val o = e.groupBy(col("src").as("host"))
      .agg(count(lit(1)).as("out_deg"))
    val i = e.groupBy(col("dst").as("host"))
      .agg(count(lit(1)).as("in_deg"))
    hosts.join(o, Seq("host"), "left").join(i, Seq("host"), "left")
      .select(col("host"),
              coalesce(col("out_deg"), lit(0L)).as("out_deg"),
              coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Fixed-iteration PageRank (damping 0.85) over a distinct
    * (src, dst) edge frame, in EXACT integer arithmetic: total rank
    * mass is scaled to 1e12 and every step is BIGINT `div` — sums are
    * order-free, so the result is bit-identical run-to-run, partition-
    * layout-to-layout, and engine-to-engine (the property FP PageRank
    * lacks). Per iteration: one shuffle join of edges with the
    * host-sized rank table on `src`, one host-keyed aggregation on
    * `dst` — the standard distributed shape; rank state never exceeds
    * host count (~1e7 hosts at 100 TB, a few hundred MB). For deep
    * convergence runs (iters >> 3) checkpoint `r` between iterations
    * to truncate lineage; the fixed-depth analytic form here keeps
    * the whole computation one lazy plan.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select("src", "dst")
    val hosts = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    val n = broadcast(hosts.agg(count(lit(1)).as("n")))
    val outd = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    var r = hosts.crossJoin(n)
      .select(col("host"), expr("cast(1000000000000 as bigint) div n").as("r"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(r.withColumnRenamed("host", "src").hint("shuffle_hash"), "src")
        .join(outd.hint("shuffle_hash"), "src")
        .select(col("dst"), expr("r div out_deg").as("c"))
      val sums = contrib.groupBy("dst").agg(sum("c").as("s"))
      r = hosts.crossJoin(n)
        .join(sums.withColumnRenamed("dst", "host").hint("shuffle_hash"),
              Seq("host"), "left")
        .select(col("host"),
          (expr("cast(150000000000 as bigint) div n") +
            expr("(85 * coalesce(s, cast(0 as bigint))) div 100")).as("r"))
    }
    r.select(col("host"), col("r").as("rank_e12"))
  }

  /** TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB'04): PageRank
    * with the teleport mass restricted to a curated SEED set of
    * trusted hosts, so trust flows outward along links and link-spam
    * farms — which no trusted host links to — starve. The standard
    * spam-demotion prior a crawl pipeline runs beside raw rank (q177
    * measures popularity; this measures endorsement). Same exact
    * integer arithmetic as [[pageRank]] (trust mass scaled to 1e12,
    * BIGINT div throughout — summation-order-free, bit-identical
    * across engines/partitions), same per-iteration shape: one
    * edges-by-src join against the host-sized trust table + one
    * dst-keyed aggregation. Dangling-host leakage follows the q177
    * convention (mass on hosts with no outlinks evaporates rather
    * than redistributing — fine for a RANKING prior; both engines
    * spell it identically). Hosts unreachable from any seed get
    * exactly 0.
    */
  def trustRank(edges: DataFrame, seeds: DataFrame,
                iters: Int): DataFrame = {
    val e = edges.select("src", "dst")
    val hosts = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    val sd = seeds.select("host").distinct()
    val flagged = hosts
      .join(sd.withColumn("_s", lit(true)).hint("shuffle_hash"),
            Seq("host"), "left")
      .select(col("host"), coalesce(col("_s"), lit(false)).as("is_seed"))
    // seed count: a 1-row scalar — the only broadcast in the plan
    val nS = broadcast(sd.agg(count(lit(1)).as("ns")))
    val outd = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    var r = flagged.crossJoin(nS)
      .select(col("host"), col("is_seed"),
        when(col("is_seed"),
          expr("cast(1000000000000 as bigint) div ns"))
          .otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(r.select(col("host").as("src"), col("r"))
               .hint("shuffle_hash"), "src")
        .join(outd.hint("shuffle_hash"), "src")
        .select(col("dst"), expr("r div out_deg").as("c"))
      val sums = contrib.groupBy("dst").agg(sum("c").as("s"))
      r = flagged.crossJoin(nS)
        .join(sums.withColumnRenamed("dst", "host").hint("shuffle_hash"),
              Seq("host"), "left")
        .select(col("host"), col("is_seed"),
          (when(col("is_seed"),
             expr("cast(150000000000 as bigint) div ns"))
             .otherwise(lit(0L)) +
           expr("(85 * coalesce(s, cast(0 as bigint))) div 100")).as("r"))
    }
    r.select(col("host"), col("is_seed"), col("r").as("trust_e12"))
  }

  /** Per-page change-rate estimate from revisit history — the
    * recrawl-scheduling prior (Cho/Garcia-Molina freshness: pages
    * that change often earn short revisit intervals; static pages
    * earn long ones). Input: one row per CAPTURE, (canon_url, fp)
    * where fp is a content fingerprint (xxhash64(text) on a real
    * frame). Changes are DETECTED as distinct fingerprints - 1 — a
    * lower bound on true transitions (a page that flips A->B->A
    * counts once), which is the standard sampling-blind estimator and
    * spelled identically in both engines. change_share normalizes by
    * revisit count (captures - 1, floor 1 so singletons stay 0);
    * buckets: 'unknown' (1 capture — nothing observed), 'hot'
    * (>=0.5), 'warm' (>=0.1), 'cold'. One shuffle on the near-unique
    * page key; groups are revisit-count-sized at any corpus scale.
    */
  def recrawlPriority(captures: DataFrame): DataFrame = {
    val g = captures.groupBy("canon_url")
      .agg(count(lit(1)).as("n_captures"),
           countDistinct("fp").as("n_versions"))
      .select(col("canon_url"), col("n_captures"), col("n_versions"),
        (col("n_versions") - 1L).as("n_changes"),
        round((col("n_versions") - 1L).cast("double") /
          greatest(col("n_captures") - 1L, lit(1L)).cast("double"), 4)
          .as("change_share"))
    g.withColumn("bucket",
      when(col("n_captures") === 1L, "unknown")
        .when(col("change_share") >= 0.5, "hot")
        .when(col("change_share") >= 0.1, "warm")
        .otherwise("cold"))
  }

  /** [[recrawlPriority]] made revisit-aware — the batch twin of the
    * stream doors' WARC-revisit semantics: `captures` carries
    * (canon_url, fp, revisit) where a revisit row (WARC-Type: revisit
    * — "re-fetched, content unchanged", the 304 economy's record)
    * counts as a CAPTURE but contributes no version: n_versions is
    * distinct fp over REAL bodies only, n_changes =
    * max(n_versions - 1, 0) (a page known only through revisits has
    * zero changes, not -1), and change_share divides by the full
    * capture count — revisits rightly DILUTE a page's change rate,
    * because each one is an observation of sameness. Same buckets as
    * [[recrawlPriority]]. One near-unique-key aggregation.
    */
  /** STATUS-AWARE capture statistics — the order-aware batch twin of
    * the stream doors' round-20 error semantics
    * ([[graft.sources.Crawl.refetchStream]] / changeTrackStream), for
    * recrawl pricing that must not mistake a dying page for a hot
    * one. Input: one row per capture, (canon_url, fp, ts_s,
    * http_status, revisit, doc_id) — fp the raw body fingerprint
    * (null on revisits), status null for statusless feeds. Classes:
    * OK (2xx/statusless real body — fingerprints), ERROR (>= 400 —
    * never fingerprints; ENTERING error from a fingerprinted history
    * counts exactly one change, staying in error none, so a
    * 200→404→200 flap prices once and a page serving rotating error
    * bodies prices zero), REVISIT and 1xx/3xx (neutral capture
    * observations). Unlike [[recrawlPriorityRevisit]]'s order-blind
    * lower bound, changes here are true TRANSITIONS (the stream's
    * count): per-page event-order windows — the partition key is the
    * near-unique page, so groups are history-sized at any corpus
    * scale and the one shuffle is the same canon_url exchange the
    * order-blind aggregation pays. Output: (canon_url, n_captures,
    * n_changes, err_streak, last_ts_s) where err_streak = trailing
    * consecutive errors (reset only by an OK capture — the dead-page
    * demotion signal).
    */
  def recrawlStatus(captures: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = coalesce(col("revisit"), lit(false))
    val st = col("http_status")
    val isErr = st.isNotNull && st >= 400 && !rev
    val isOk = (st.isNull || (st >= 200 && st < 300)) &&
      col("fp").isNotNull && !rev
    val cf = captures.select(col("canon_url"), col("fp"),
      col("ts_s").cast("long").as("ts_s"),
      coalesce(col("doc_id"), lit(0L)).as("doc_id"),
      when(rev, lit(1)).when(isErr, lit(2)).when(isOk, lit(0))
        .otherwise(lit(3)).as("cls"))
    val win = Window.partitionBy("canon_url")
      .orderBy(col("ts_s"), col("doc_id"))
    // transition + trailing-error indicators over the NON-NEUTRAL
    // subsequence (revisits and 1xx/3xx never enter or leave the
    // error episode; the stream applies the identical skip)
    val nn = cf.filter(col("cls").isin(0, 2))
      .withColumn("prev_cls", lag("cls", 1).over(win))
      .withColumn("prev_ok_fp",
        last(when(col("cls") === 0, col("fp")), ignoreNulls = true)
          .over(win.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ok_after",
        max(when(col("cls") === 0, 1).otherwise(0))
          .over(win.rowsBetween(Window.currentRow,
                                Window.unboundedFollowing)))
      .groupBy("canon_url")
      .agg(
        sum(when(col("cls") === 0 && col("prev_ok_fp").isNotNull &&
                   col("fp") =!= col("prev_ok_fp"), 1L)
              .when(col("cls") === 2 && col("prev_cls") === 0, 1L)
              .otherwise(0L)).as("n_changes"),
        sum(when(col("cls") === 2 && col("ok_after") === 0, 1L)
              .otherwise(0L)).as("err_streak"))
    cf.groupBy("canon_url")
      .agg(count(lit(1)).as("n_captures"),
           max("ts_s").cast("long").as("last_ts_s"))
      .join(nn.hint("shuffle_hash"), Seq("canon_url"), "left")
      .select(col("canon_url"), col("n_captures"),
        coalesce(col("n_changes"), lit(0L)).as("n_changes"),
        coalesce(col("err_streak"), lit(0L)).as("err_streak"),
        col("last_ts_s"))
  }

  /** Each page's declared RFC 9111 freshness lifetime: the NEWEST OK
    * capture's non-null `max_age_s` (by event time, doc_id — the
    * latestPerUrl recency policy; [[graft.sources.Crawl.max_age_s]]
    * computes the per-capture value from the verbatim Cache-Control/
    * Expires headers). Input rows: (canon_url, ts_s, doc_id,
    * http_status, revisit, max_age_s); error/revisit captures never
    * install a lifetime — an error page's headers describe the error,
    * not the content. One near-unique-key window. Output: (canon_url,
    * max_age_s).
    */
  def declaredLifetime(captures: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = coalesce(col("revisit"), lit(false))
    val st = col("http_status")
    val w = Window.partitionBy("canon_url")
      .orderBy(col("ts_s").desc, col("doc_id").desc)
    captures
      .filter(!rev && (st.isNull || (st >= 200 && st < 300)) &&
        col("max_age_s").isNotNull)
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("canon_url"), col("max_age_s"))
  }

  /** [[refetchDue]]'s status-aware successor (q199): due pricing over
    * [[recrawlStatus]] — interval = max(dueBaseS div (1 + n_changes),
    * 1) with the TRANSITION change count (error entries count once,
    * error bodies never) — plus dead-page DEMOTION: a page whose
    * trailing `errDemote` captures (default 2) are all errors LEAVES
    * the queue entirely (the exact page a recrawler exists to NOT
    * revisit; errDemote <= 0 disables). A recovered page (any later
    * 2xx) resets its streak and re-enters with its learned history.
    *
    * `declared` (optional, (canon_url, max_age_s) —
    * [[declaredLifetime]]) blends the RFC 9111 channel (q200):
    * interval = max(least(observed, declared lifetime), 1) — the
    * host's own published revisit interval CAPS the learned one —
    * and the output gains `max_age_s` plus `interval_src`
    * ('cache_control' when the declaration was the binding term,
    * 'interval' otherwise), the due queue's third provenance. The
    * join is near-unique-key, shuffle-pinned.
    */
  def recrawlStatusQueue(captures: DataFrame, dueBaseS: Long,
                         errDemote: Int = 2,
                         declared: Option[DataFrame] = None)
      : DataFrame = {
    val base = recrawlStatus(captures)
    val cho =
      greatest(expr(s"cast($dueBaseS as bigint) div (1 + n_changes)"),
               lit(1L))
    val priced = declared match {
      case None => base.withColumn("interval_s", cho)
      case Some(dl) =>
        base.join(dl.select(col("canon_url"), col("max_age_s"))
            .hint("shuffle_hash"), Seq("canon_url"), "left")
          .withColumn("_cho", cho)
          .withColumn("interval_s",
            greatest(least(col("_cho"),
                           coalesce(col("max_age_s"), col("_cho"))),
                     lit(1L)))
          .withColumn("interval_src",
            when(col("max_age_s").isNotNull &&
                   col("max_age_s") < col("_cho"), "cache_control")
              .otherwise("interval"))
          .drop("_cho")
    }
    val q = priced.withColumn("due_ts_s",
      col("last_ts_s") + col("interval_s"))
    if (errDemote > 0) q.filter(col("err_streak") < errDemote) else q
  }

  def recrawlPriorityRevisit(captures: DataFrame): DataFrame = {
    val g = captures.groupBy("canon_url")
      .agg(count(lit(1)).as("n_captures"),
           sum(col("revisit").cast("long")).as("n_revisits"),
           countDistinct(when(!col("revisit"), col("fp")))
             .as("n_versions"))
      .select(col("canon_url"), col("n_captures"), col("n_revisits"),
        col("n_versions"),
        greatest(col("n_versions") - 1L, lit(0L)).as("n_changes"),
        round(greatest(col("n_versions") - 1L, lit(0L)).cast("double") /
          greatest(col("n_captures") - 1L, lit(1L)).cast("double"), 4)
          .as("change_share"))
    g.withColumn("bucket",
      when(col("n_captures") === 1L, "unknown")
        .when(col("change_share") >= 0.5, "hot")
        .when(col("change_share") >= 0.1, "warm")
        .otherwise("cold"))
  }

  /** Crawl-trap detection: hosts whose URL space explodes relative to
    * its TEMPLATE space (calendar pages, session ids, faceted-search
    * permutations — the classic traps that eat a crawler's budget
    * fetching the same page under infinite spellings). Template =
    * canonical URL with digit runs collapsed to `N`; expansion =
    * distinct URLs / distinct templates per host. A trap host shows
    * thousands of URLs over a handful of templates; an honest host
    * sits near 1. Consumption: cap a `trap` host's frontier budget
    * (join on host, the crawl-delay composition shape) — the
    * template-blind frontier would otherwise spend its whole per-host
    * budget inside one trap. One codegen projection + one host-keyed
    * two-distinct aggregation; host-sized output.
    */
  def crawlTraps(canonUrls: DataFrame, threshold: Double): DataFrame =
    canonUrls.select(col("canon_url")).distinct()
      .withColumn("host", Urls.host(col("canon_url")))
      .filter(col("host").isNotNull)
      .withColumn("template",
        regexp_replace(col("canon_url"), "[0-9]+", "N"))
      .groupBy("host")
      .agg(countDistinct("canon_url").as("n_urls"),
           countDistinct("template").as("n_templates"))
      .select(col("host"), col("n_urls"), col("n_templates"),
        round(col("n_urls").cast("double") /
          col("n_templates").cast("double"), 4).as("expansion"))
      .withColumn("verdict",
        when(col("expansion") >= threshold, "trap").otherwise("ok"))

  /** Mirror-host detection: hosts that serve the same content under
    * different names (CDNs, country mirrors, scraped clones) — the
    * evidence table feeding the q182/q183 site-family tier (a mirror
    * pair IS one site for caps/mixing). Input: distinct (host, fp)
    * content-fingerprint incidence. Two guards make the self-join
    * scale: fingerprints on more than `maxHostsPerFp` hosts drop
    * FIRST (shared boilerplate — a footer served by 10^4 hosts is
    * not mirroring evidence, and it is exactly the row that would
    * make the join quadratic), so join cells are bounded at
    * maxHostsPerFp^2; and pairs below `minShared` fingerprints drop
    * after counting (one shared page is coincidence, not a mirror).
    * overlap = n_shared / min(|a|, |b|) — containment, so a small
    * full mirror of a big host still scores 1.0.
    */
  def mirrorHosts(docHosts: DataFrame, maxHostsPerFp: Int,
                  minShared: Long): DataFrame = {
    val hf = docHosts.select("host", "fp").distinct()
    val ok = hf.groupBy("fp").agg(count(lit(1)).as("_nh"))
      .filter(col("_nh") <= maxHostsPerFp).select("fp")
    val hf2 = hf.join(ok.hint("shuffle_hash"), Seq("fp"))
    val sizes = hf2.groupBy("host").agg(count(lit(1)).as("n_fps"))
    val a = hf2.select(col("fp"), col("host").as("host_a"))
    val b = hf2.select(col("fp"), col("host").as("host_b"))
    val pairs = a.join(b.hint("shuffle_hash"), Seq("fp"))
      .filter(col("host_a") < col("host_b"))
      .groupBy("host_a", "host_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(sizes.withColumnRenamed("host", "host_a")
        .withColumnRenamed("n_fps", "_na").hint("shuffle_hash"),
        Seq("host_a"))
      .join(sizes.withColumnRenamed("host", "host_b")
        .withColumnRenamed("n_fps", "_nb").hint("shuffle_hash"),
        Seq("host_b"))
      .select(col("host_a"), col("host_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("_na"), col("_nb")).cast("double"), 4).as("overlap"))
  }

  /** The crawl-loop closure: next fetch list = `candidates` (canonical
    * discovered URLs) minus `seen` (canonical already-captured URLs),
    * capped at `perHostCap` per host (the politeness budget — a
    * frontier that hammers one host is a broken crawler). One left-anti
    * shuffle on the near-unique canonical key plus one host-keyed
    * window; the row_number plans a partial WindowGroupLimit below the
    * exchange, so each map task ships at most `perHostCap` rows per
    * host it saw. Ordering inside a host is byte-order on the URL —
    * deterministic without any score column; callers with a priority
    * (e.g. [[pageRank]] output) can pre-join and re-window themselves.
    */
  def frontierFromSets(seen: DataFrame, candidates: DataFrame,
                       perHostCap: Int): DataFrame = {
    // the seen set is PAGE-scale (billions of URLs at 100 TB) — pin it
    // to the shuffle path so AQE's test-scale broadcast choice never
    // becomes the production plan (the no-broadcast-vocabulary rule)
    val fresh = candidates.select("url").distinct()
      .join(seen.select("url").distinct().hint("shuffle_hash"),
            Seq("url"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy("url")
    fresh.withColumn("host", Urls.host(col("url")))
      .filter(col("host").isNotNull)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perHostCap)
      .select("host", "url", "rk")
  }

  /** Anchor-text profile of link targets — "what other pages call
    * this URL" (the classic relevance/quality signal; a page whose
    * inbound anchors are all 'click here'/'download' reads very
    * differently from one called by its title). Input: (dst_url,
    * anchor) occurrence rows ([[graft.sources.Crawl.anchorEdges]]).
    * Output per target: occurrence count, distinct texts, the modal
    * anchor (count-desc, text-asc tie-break) and its share. Two
    * target-keyed aggregations + one windowed top-1 — shuffles on the
    * near-unique target key, state linear in distinct (target, text).
    */
  def anchorProfile(anchorEdges: DataFrame): DataFrame = {
    val byText = anchorEdges.groupBy("dst_url", "anchor")
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dst_url")
      .orderBy(col("cnt").desc, col("anchor"))
    val top = byText.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("dst_url"), col("anchor").as("top_anchor"),
              col("cnt").as("top_cnt"))
    byText.groupBy("dst_url")
      .agg(sum("cnt").as("n_anchors"),
           count(lit(1)).as("n_anchor_texts"))
      .join(top, "dst_url")
      .select(col("dst_url").as("url"), col("n_anchors"),
              col("n_anchor_texts"), col("top_anchor"),
              round(col("top_cnt").cast("double") / col("n_anchors"), 4)
                .as("top_share"))
  }

  /** Anchor-boosted BM25 ranking — the classic web prior: what OTHER
    * pages call a document is often a better relevance signal than its
    * own body (the reason every web engine indexes anchor text as a
    * field). Body side is EXACTLY q98's BM25 spelling (Robertson/Okapi
    * k1=1.2 b=0.75, fixed-order conditional sums, rounded ordering
    * key); the anchor field adds a per-term saturated contribution
    * `2.0 * atf / (atf + 1.2)` — BM25 tf saturation at double field
    * weight, NO length normalization (anchors are short and their
    * count is itself the signal), no idf (anchor df is a popularity
    * prior, not a rarity one). A page with matching anchors but no
    * body match still ranks — and outranks weak body matches
    * (WebGraphSpec pins the property). Reference analogue: the
    * dashboard's ranked read (backend/main.py:139-151), generalized to
    * a two-field probabilistic ranker.
    *
    * Inputs: `docFrame` (doc_id, text), `anchors` (doc_id, anchor) —
    * one row per anchor OCCURRENCE pointing at the doc (compose
    * [[anchorProfile]]'s input, [[graft.sources.Crawl.anchorEdges]],
    * with the url→doc mapping). Scale shape: both fields are
    * (doc, term)-partial aggregations with map-side combine; df and
    * the corpus scalars broadcast as 1-row/k-row tables; the field
    * merge is a full-outer join on the near-unique doc key; top-k is
    * TakeOrderedAndProject. At 100 TB serve the body side from the
    * persisted postings index ([[TrainingData.buildPostingsIndex]])
    * and land the anchor field the same way.
    */
  def anchorBm25(docFrame: DataFrame, anchors: DataFrame,
                 terms: Seq[String], topK: Int): DataFrame = {
    val t = docFrame.select(col("doc_id"),
                            size(split(col("text"), " ")).as("dl"))
    val g = t.agg(count(lit(1)).cast("double").as("n"),
                  sum("dl").cast("double").as("sumdl"))
      .select(col("n"), (col("sumdl") / col("n")).as("avgdl"))
    val tf = docFrame
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
      .join(t, "doc_id")
    val dfT = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val w = tf.join(broadcast(dfT), "term").crossJoin(broadcast(g))
      .select(col("doc_id"), col("term"),
        (log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
               (col("df") + lit(0.5))) *
           (col("tf") * lit(2.2)) /
           (col("tf") + lit(1.2) *
             (lit(1.0) - lit(0.75) +
               lit(0.75) * col("dl") / col("avgdl")))).as("w"))
    val bodyParts = terms.zipWithIndex.map { case (tm, i) =>
      sum(when(col("term") === tm, col("w")).otherwise(lit(0.0)))
        .as(s"w$i")
    }
    val body = w.groupBy("doc_id")
      .agg(bodyParts.head,
           (bodyParts.tail :+
             count(lit(1)).cast("long").as("body_terms")): _*)
    val atf = anchors
      .select(col("doc_id"), explode(split(col("anchor"), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("atf"))
    val aParts = terms.zipWithIndex.map { case (tm, i) =>
      sum(when(col("term") === tm,
               lit(2.0) * col("atf") / (col("atf") + lit(1.2)))
            .otherwise(lit(0.0))).as(s"aw$i")
    }
    val aw = atf.groupBy("doc_id")
      .agg(aParts.head,
           (aParts.tail :+
             count(lit(1)).cast("long").as("anchor_terms")): _*)
    // fixed written order: body fields then anchor fields — adding an
    // exact 0.0 for an absent field keeps the fp sum order-free
    val score = (terms.indices.map(i => coalesce(col(s"w$i"), lit(0.0))) ++
                 terms.indices.map(i => coalesce(col(s"aw$i"), lit(0.0))))
      .reduceLeft(_ + _)
    body.join(aw, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), round(score, 4).as("score"),
              coalesce(col("body_terms"), lit(0L)).as("body_terms"),
              coalesce(col("anchor_terms"), lit(0L)).as("anchor_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** The integer weight a declared `<changefreq>` token earns in the
    * recrawl blend — the protocol's freshness vocabulary mapped to a
    * small BIGINT multiplier (always=8, hourly=6, daily=4, weekly=2,
    * monthly=1, yearly/never=0; absent/garbage=0, so an undeclaring
    * host neither gains nor loses versus the observed-only score).
    */
  def changefreqWeight(changefreq: Column): Column =
    when(changefreq === "always", 8L)
      .when(changefreq === "hourly", 6L)
      .when(changefreq === "daily", 4L)
      .when(changefreq === "weekly", 2L)
      .when(changefreq === "monthly", 1L)
      .otherwise(0L)

  /** Declared-x-observed recrawl queue — the Cho/Garcia-Molina blend
    * completed: q188's score (host authority x observed change rate)
    * times the host's DECLARED sitemap freshness, so a page whose
    * sitemap promises `<changefreq>hourly</changefreq>` earns
    * refetches before its observed history proves the churn (and a
    * `yearly`/`never` declaration stops boosting pages the crawler
    * has never seen change). All-BIGINT: score_e12 = rank_e12 *
    * (1 + n_changes) * (1 + [[changefreqWeight]]) — exact,
    * summation-order-free, engine-identical. Inputs: `stats`
    * (canon_url, host, n_changes — [[recrawlPriority]] output keyed
    * to hosts), `ranks` (host, rank_e12 — [[hostRankTable]]),
    * `declared` (canon_url, changefreq — [[graft.sources.Crawl
    * .sitemapEntries]] output, latest hint per page). Left join keeps
    * undeclared pages in the queue at weight 0. One near-unique-key
    * join + one host-sized shuffle-pinned join; top-k is
    * TakeOrderedAndProject.
    */
  def declaredFreshnessQueue(stats: DataFrame, ranks: DataFrame,
                             declared: DataFrame, topK: Int): DataFrame =
    stats
      .join(declared.hint("shuffle_hash"), Seq("canon_url"), "left")
      .join(ranks.hint("shuffle_hash"), Seq("host"))
      .select(col("canon_url"), col("host"), col("n_changes"),
        col("changefreq"), col("rank_e12"),
        (col("rank_e12") * (col("n_changes") + 1L) *
          (changefreqWeight(col("changefreq")) + 1L)).as("score_e12"))
      .orderBy(col("score_e12").desc, col("canon_url"))
      .limit(topK)

  /** Due-time refetch pricing — the batch twin of
    * [[graft.sources.Crawl.refetchStream]]'s event-time wakeups
    * (q196): from a capture history (canon_url, fp, ts_s — one row
    * per capture), each page's revisit interval is the
    * Cho/Garcia-Molina rule in EXACT integer arithmetic,
    * interval_s = max(dueBaseS div (1 + n_changes), 1) — observed
    * churn earns a proportionally shorter interval — and its next-due
    * instant is last capture + interval. Changes are the q185
    * estimator (distinct fingerprints - 1, order-blind lower bound;
    * the stream counts true transitions — the documented divergence).
    * Callers take the due list at an as-of instant by filtering
    * `due_ts_s <= asof`. One shuffle on the near-unique page key.
    */
  def refetchDue(captures: DataFrame, dueBaseS: Long): DataFrame =
    captures.groupBy("canon_url")
      .agg(count(lit(1)).as("n_captures"),
           countDistinct("fp").as("n_versions"),
           max("ts_s").cast("long").as("last_ts_s"))
      // floor at 0: a page whose history is ALL revisit rows (fp null
      // — the readWarc 304-economy shape) has n_versions = 0, and
      // without the floor n_changes = -1 would reach the output and
      // the interval division would hit zero — scheduling the
      // provably-unchanged page for an immediate refetch
      .select(col("canon_url"), col("n_captures"),
        greatest(col("n_versions") - 1L, lit(0L)).as("n_changes"),
        col("last_ts_s"))
      .withColumn("interval_s",
        greatest(expr(s"cast($dueBaseS as bigint) div (1 + n_changes)"),
                 lit(1L)))
      .withColumn("due_ts_s", col("last_ts_s") + col("interval_s"))

  /** Declared-INSTANT recrawl trigger — the `<lastmod>` half of the
    * sitemap freshness vocabulary (q193/q196 blend the RATE half): a
    * page whose declared last-modification is NEWER than our last
    * capture is due NOW, no interval arithmetic — the host just told
    * us it changed (sitemaps.org; the signal conditional GET
    * revalidates cheaply). Day-granular, the protocol's common form
    * (full W3C datetimes compare by their date prefix), computed as
    * epoch-day INTEGERS via calendar datediff — exact in both
    * engines, no timezone parse in the comparison path. Inputs:
    * `lastCaptures` (canon_url, last_ts_s), `declared` (canon_url,
    * lastmod — the verbatim [[graft.sources.Sitemaps]] entry text).
    * Undeclared or garbage lastmods are never due on THIS channel
    * (the q196 interval channel still prices them). One
    * near-unique-key left join.
    */
  def lastmodDue(lastCaptures: DataFrame,
                 declared: DataFrame): DataFrame =
    lastCaptures
      .join(declared.hint("shuffle_hash"), Seq("canon_url"), "left")
      .select(col("canon_url"), col("last_ts_s"), col("lastmod"),
        graft.sources.Sitemaps.lastmod_day(col("lastmod"))
          .as("lastmod_day"))
      .withColumn("due_now",
        coalesce(col("lastmod_day") > expr("last_ts_s div 86400"),
                 lit(false)).cast("long"))

  /** Rank-proportional crawl budgeting — the scheduler that ties the
    * host-quality prior ([[pageRank]]) to the fetch list
    * ([[frontierFromSets]]): a global budget `B` splits across hosts
    * proportionally to rank in EXACT integer arithmetic
    * (cap_h = max(1, (B * rank_h) div total_rank) — every host gets
    * at least probe-one), and each host's frontier keeps its first
    * cap_h URLs. One broadcast of the 1-row rank total, one host join
    * — both host-sized.
    */
  def budgetByRank(frontier: DataFrame, ranks: DataFrame,
                   budget: Long): DataFrame =
    // caps is host-sized (~1e7 rows / hundreds of MB at CC scale) —
    // too big to ship to every task; keep the join on the shuffle path
    frontier.join(rankCaps(ranks, budget).hint("shuffle_hash"), "host")
      .filter(col("rk") <= col("cap"))
      .select("host", "url", "rk", "cap", "rank_e12")

  /** The cap table [[budgetByRank]] joins — (host, rank_e12, cap) with
    * cap = max(1, (budget * rank) div total) in exact integer
    * arithmetic — exposed on its own so the STREAMING frontier can
    * consume the same derivation as a stream-static frame
    * ([[graft.sources.Crawl.frontierStream]]'s `rankCaps` input): one
    * scheduler spelling, two doors. One 1-row scalar broadcast; the
    * output stays host-sized and must ride the shuffle path.
    */
  def rankCaps(ranks: DataFrame, budget: Long): DataFrame = {
    val total = broadcast(ranks.agg(sum("rank_e12").as("total_r")))
    ranks.crossJoin(total)
      .select(col("host"), col("rank_e12"),
        greatest(lit(1L),
          expr(s"(cast($budget as bigint) * rank_e12) div total_r"))
          .as("cap"))
  }

  /** Resolve URLs through redirect alias chains — the pre-dedup step
    * that makes a chain of 301s ONE page: each url follows its
    * (deduplicated) redirect edge up to `maxHops` times, reporting
    * the final target and the hop count. Fixed-depth iterated left
    * joins on a near-unique key (the [[pageRank]] convention: bounded
    * rounds, one lazy plan); self-loop edges drop, and a cycle simply
    * stops at the hop cap — total either way. Multiple captured
    * redirects for one source dedupe deterministically (max target —
    * callers wanting latest-capture-wins pre-aggregate themselves).
    * Real input: [[graft.sources.Crawl.redirectEdges]]; feed the
    * output's final_url into canonical dedup / latestPerUrl.
    */
  def resolveRedirects(urls: DataFrame, redirects: DataFrame,
                       maxHops: Int): DataFrame = {
    val e = redirects.filter(col("src_url") =!= col("dst_url"))
      .groupBy("src_url").agg(max("dst_url").as("dst_url"))
    var r = urls.select(col("url"), col("url").as("cur"),
                        lit(0L).as("hops"))
    for (_ <- 1 to maxHops) {
      r = r.join(e.withColumnRenamed("src_url", "cur").hint("shuffle_hash"),
                 Seq("cur"), "left")
        .select(col("url"),
          coalesce(col("dst_url"), col("cur")).as("cur"),
          (col("hops") +
            when(col("dst_url").isNotNull, 1L).otherwise(0L)).as("hops"))
    }
    r.select(col("url"), col("cur").as("final_url"),
             col("hops").as("n_hops"))
  }

  /** [[resolveRedirects]] over the UNIFIED alias channel
    * ([[graft.sources.Crawl.aliasEdges]]: 3xx chains + `<link
    * rel=canonical>` declarations, q201): each source's competing
    * edges dedupe under the documented CONFLICT POLICY — a redirect
    * beats a canonical (the transport actually sent the client
    * elsewhere; the document merely suggested an identity), then max
    * target within a channel (the resolveRedirects tie rule) — and
    * the surviving one-edge-per-source set resolves through the same
    * fixed-depth hop loop. Cross-channel chains compose: a 301 into
    * a page that declares a canonical follows BOTH hops. One
    * aggregation + maxHops near-unique-key joins.
    */
  def resolveAliasEdges(urls: DataFrame, edges: DataFrame,
                        maxHops: Int): DataFrame = {
    val e = edges.filter(col("src_url") =!= col("dst_url"))
      .groupBy("src_url")
      .agg(max(struct(
        when(col("via") === "redirect", 1).otherwise(0).as("pri"),
        col("dst_url").as("d"))).as("m"))
      .select(col("src_url"), col("m.d").as("dst_url"))
    resolveRedirects(urls, e, maxHops)
  }

  /** Weakly-connected components of a host graph by fixed-round
    * min-label propagation — the mirror/site-family detector (hosts
    * linked into one cluster are one "site" for caps/mixing, the way
    * q64 clusters documents): every host starts labeled with itself,
    * and each round takes the min (byte-order) label across its
    * undirected neighborhood. min is exact and order-free, so labels
    * are bit-identical across engines/partitions at ANY round count —
    * callers pick `rounds` >= the expected component diameter (the
    * fixed-depth analytic form; for unbounded diameters iterate with
    * checkpoints like the big-graph CC in Curation). Per round: one
    * shuffle join of the undirected edge list with the host-sized
    * label table + one min aggregation.
    */
  def components(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select("src", "dst")
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // materialize the (host-sized) edge and label tables per round when
    // the round budget is deep: each round references `lbl` TWICE
    // (probe + neighbor derivation), so an unmaterialized chain doubles
    // the subtree per round — 2^rounds copies of the edge scan in the
    // logical plan, ~350 codegen pipelines at 4 rounds, and the
    // planning/stage overhead dwarfs the toy data (guide §3.3
    // "materialise an intermediate to truncate the plan"; the same
    // per-round device as Curation.connectedComponents). At <= 2 rounds
    // the blowup is 4x and the checkpoint jobs cost more than they save
    // (measured on q189), so shallow budgets keep the lazy chain.
    val deep = rounds >= 3
    val undM = if (deep) und.localCheckpoint() else und
    var lbl = undM.select(col("src").as("host")).distinct()
      .select(col("host"), col("host").as("component"))
    for (_ <- 1 to rounds) {
      val neigh = undM
        .join(lbl.withColumnRenamed("host", "dst").hint("shuffle_hash"),
              Seq("dst"))
        .groupBy(col("src").as("host"))
        .agg(min("component").as("nmin"))
      val next = lbl.join(neigh.hint("shuffle_hash"), Seq("host"), "left")
        .select(col("host"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
      lbl = if (deep) next.localCheckpoint() else next
    }
    lbl
  }

  /** CONVERGED weakly-connected host components — the unbounded-
    * diameter form of [[components]]: min-label propagation is exact
    * only out to `rounds` hops, so a chain longer than the round
    * budget gets silently-partial labels (ComponentsSpec proves the
    * partial behavior). This entry routes the host graph through the
    * pointer-jumping CC engine proven on q64's document clusters
    * ([[Curation.connectedComponents]]): label propagation PLUS a
    * label-table self-join that halves path lengths each round —
    * O(log diameter) rounds total — with per-round `localCheckpoint`s
    * truncating lineage and a convergence test terminating the loop.
    * Same output contract as [[components]] (host, component =
    * byte-order min host of the component), so the two forms agree
    * wherever the fixed-round budget suffices; keep [[components]] as
    * the oracle form (fixed depth = SQL-expressible), use this for
    * production graphs whose diameter nobody bounded.
    */
  def componentsConverged(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst")
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    Curation.connectedComponents(
        und.select(col("src").as("id_a"), col("dst").as("id_b")))
      .select(col("doc_id").as("host"), col("label").as("component"))
  }

  /** Site-family over-representation caps — the q63 audit keyed on a
    * FAMILY table instead of the raw host (a mirror farm otherwise
    * splits its mass across aliases and every alias ducks the cap).
    * `families`: (host, component); `hostDocs`: (host, n_docs).
    * Left join keeps zero-capture member hosts in n_hosts; ratio vs
    * the mean family mass, >1.5x flags for down-sampling. Host-keyed
    * shuffle joins; family table component-bounded; one 1-row scalar
    * broadcast. Shared by the q183 oracle (fixed-round components —
    * SQL-expressible) and the production API [[siteFamilyCaps]]
    * (CONVERGED components).
    */
  def familyCaps(families: DataFrame, hostDocs: DataFrame): DataFrame = {
    val fam = families
      .join(hostDocs.hint("shuffle_hash"), Seq("host"), "left")
      .groupBy("component")
      .agg(count(lit(1)).as("n_hosts"),
           sum(coalesce(col("n_docs"), lit(0L))).cast("long").as("n_docs"))
    val a = fam.agg(avg("n_docs").as("mean_n"))
    fam.crossJoin(broadcast(a))
      .select(col("component"), col("n_hosts"), col("n_docs"),
              round(col("n_docs") / col("mean_n"), 4).as("ratio"),
              (col("n_docs") > lit(1.5) * col("mean_n"))
                .cast("long").as("over_cap"))
  }

  /** ONE family table for the caps/budget tier, from BOTH evidence
    * families: explicit site structure (`siteEdges` — (src, dst) host
    * pairs, q182/q183's channel) unioned with content-identity mirror
    * evidence (`mirrorPairs` — [[mirrorHosts]] output, q187/q189's
    * channel), resolved by the CONVERGED pointer-jumping engine. A
    * clone farm that interlinks AND serves identical content lands in
    * one component either way; a farm that does only one of the two
    * still can't split across families — which is the point: caps and
    * budgets key on this table ([[familyCaps]], and the frontier
    * doors' `families` frame via [[graft.sources.Crawl
    * .frontierStream]]), so an alias earns nothing. Host-keyed
    * shuffles over host-sized state throughout.
    */
  def crawlFamilies(siteEdges: DataFrame,
                    mirrorPairs: DataFrame): DataFrame =
    componentsConverged(
      siteEdges.select("src", "dst").unionByName(
        mirrorPairs.select(col("host_a").as("src"),
                           col("host_b").as("dst"))))

  /** The API path for site-family caps: families resolved by the
    * CONVERGED pointer-jumping engine over the landed site-edge
    * artifact — correct at ANY component diameter, where the
    * fixed-round oracle form ([[components]], kept inside q182/q183's
    * SQL-expressible bodies) is exact only out to its round budget.
    * A production graph whose family chains outrun the round count
    * would silently split a family across caps there; here the caps
    * provably key on the true family (WebGraphSpec pins it on a
    * longer-than-rounds chain).
    */
  def siteFamilyCaps(s: SparkSession, d: String,
                     hostDocs: DataFrame): DataFrame =
    familyCaps(componentsConverged(siteEdgesTable(s, d)), hostDocs)

  // ------------------------------------------------------------------
  // Registry queries
  // ------------------------------------------------------------------

  def all: Seq[Q] = Seq(
    Q("q172_url_normalize",
      "URL canonicalization (RFC 3986 §6 + the crawl-standard " +
        "aggressive steps): fragment/userinfo dropped, scheme+host " +
        "lowercased, www. stripped, default ports stripped, trailing " +
        "slash stripped, tracking params (utm_*/fbclid/gclid/...) " +
        "dropped and survivors byte-sorted; unparseable inputs " +
        "canonicalize to NULL, never throw. One codegen'd projection " +
        "— no shuffle at any corpus size. Planted messy capture URLs " +
        "(q113 convention): page identity on doc_id % 250, junk on " +
        "the full doc_id, so raw variants provably collapse.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")}\n" +
        "SELECT doc_id, url, canon_url FROM canon") {
      (s, d) =>
        plantedCanon(s, d).select("doc_id", "url", "canon_url")
    },

    Q("q173_url_dedup",
      "Canonical-URL dedup (RefinedWeb's first corpus gate): group " +
        "captures by canonical form — n_captures, distinct raw " +
        "spellings collapsed, and the latest capture kept (max doc_id " +
        "as the recency proxy). One shuffle on a near-unique key; " +
        "groups stay tiny at any scale, and the same operator runs on " +
        "a real crawl frame as latestPerUrl over Urls.canonicalize.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")}\n" +
        """SELECT canon_url, CAST(count(*) AS BIGINT) AS n_captures,
          |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
          |  max(doc_id) AS latest_doc
          |FROM canon WHERE canon_url IS NOT NULL GROUP BY 1""".stripMargin) {
      (s, d) =>
        plantedCanon(s, d).filter(col("canon_url").isNotNull)
          .groupBy("canon_url")
          .agg(count(lit(1)).as("n_captures"),
               countDistinct("url").as("n_raw_forms"),
               max("doc_id").as("latest_doc"))
    },

    Q("q174_url_filter",
      "URL filtering (the C4/RefinedWeb pre-content gate): a banned " +
        "host blocklist (exact first-label match) plus a weighted " +
        "banned-word score over the canonical URL (casino/pills=4, " +
        "poker=2, download=1; block at >= 3); unparseable URLs get " +
        "their own verdict so nothing silently drops. Pure projection " +
        "over the canonicalizer — the cheapest filter in the whole " +
        "pipeline, which is WHY real pipelines run it first.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        s"$filterSqlCtes\n" +
        "SELECT doc_id, host, url_score, verdict FROM fv") {
      (s, d) =>
        withFilterCols(plantedCanon(s, d))
          .select(col("doc_id"), col("host"),
                  col("url_score"), col("verdict"))
    },

    Q("q175_host_reputation",
      "Per-host reputation rollup — the curation prior a crawl " +
        "pipeline feeds back into source mixing (q77/q125): captures, " +
        "distinct pages, blocked share, capture-duplication rate, and " +
        "mean document size per host. One host-keyed aggregation over " +
        "the canonicalize+filter projections; host-sized output.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        s"$filterSqlCtes\n" +
        """SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT canon_url) AS BIGINT) AS n_pages,
          |  CAST(sum(CASE WHEN verdict <> 'keep' THEN 1 ELSE 0 END)
          |       AS BIGINT) AS n_blocked,
          |  round(1.0 - CAST(count(DISTINCT canon_url) AS DOUBLE)
          |          / count(*), 4) AS dup_rate,
          |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 2) AS avg_chars
          |FROM fv WHERE canon_url IS NOT NULL GROUP BY 1""".stripMargin) {
      (s, d) =>
        withFilterCols(plantedCanon(s, d))
          .filter(col("canon_url").isNotNull)
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct("canon_url").as("n_pages"),
               sum(when(col("verdict") =!= "keep", 1L).otherwise(0L))
                 .as("n_blocked"),
               round(lit(1.0) - countDistinct("canon_url")
                 .cast("double") / count(lit(1)), 4).as("dup_rate"),
               round(sum("n_chars").cast("double") / count(lit(1)), 2)
                 .as("avg_chars"))
    },

    Q("q176_link_graph",
      "Host link-graph degrees: distinct (src, dst) host edges -> " +
        "per-host out/in degree (distinct linked partners). Planted " +
        "deterministic edges (the q113 convention); the same operator " +
        "consumes Crawl.linkEdges via edgesFromLinks on a real WARC " +
        "corpus. Host-keyed shuffles only; state is host-sized.",
      s"""WITH $edgesSqlCtes,
         |i AS (SELECT dst, CAST(count(*) AS BIGINT) AS in_deg
         |      FROM edges GROUP BY 1)
         |SELECT h.host, COALESCE(o.out_deg, 0) AS out_deg,
         |  COALESCE(i.in_deg, 0) AS in_deg
         |FROM hosts h LEFT JOIN o ON o.src = h.host
         |LEFT JOIN i ON i.dst = h.host""".stripMargin) {
      (s, d) => degrees(linkEdgesTable(s, d))
    },

    Q("q177_host_rank",
      "Host-graph PageRank (damping 0.85, 3 fixed iterations) in " +
        "EXACT integer arithmetic — rank mass scaled to 1e12, every " +
        "step BIGINT div, so the result is summation-order-free and " +
        "bit-identical across engines and partition layouts (FP " +
        "PageRank is neither). The CC-era host-quality prior: rank " +
        "feeds host reputation (q175) and source mixing. Per " +
        "iteration one edges-by-src join against the host-sized rank " +
        "table and one dst-keyed aggregation; SERVED from the landed " +
        "host_rank_v1 artifact (second-order DerivedCache keyed on " +
        "link_edges_v1's manifest), so a warm read is one parquet " +
        "scan with zero rank-iteration exchanges.",
      s"""WITH $edgesSqlCtes,
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hosts),
         |r0 AS (SELECT h.host, 1000000000000 // n.n AS r
         |       FROM hosts h CROSS JOIN n),
         |s1 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r0 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r1 AS (SELECT h.host,
         |         (150000000000 // n.n) + (85 * COALESCE(s1.s, 0)) // 100 AS r
         |       FROM hosts h CROSS JOIN n LEFT JOIN s1 ON s1.dst = h.host),
         |s2 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r1 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r2 AS (SELECT h.host,
         |         (150000000000 // n.n) + (85 * COALESCE(s2.s, 0)) // 100 AS r
         |       FROM hosts h CROSS JOIN n LEFT JOIN s2 ON s2.dst = h.host),
         |s3 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r2 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r3 AS (SELECT h.host,
         |         (150000000000 // n.n) + (85 * COALESCE(s3.s, 0)) // 100 AS r
         |       FROM hosts h CROSS JOIN n LEFT JOIN s3 ON s3.dst = h.host)
         |SELECT host, r AS rank_e12 FROM r3""".stripMargin) {
      (s, d) => hostRankTable(s, d)
    },

    Q("q178_url_frontier",
      "Crawl frontier: canonical discovered outlinks minus the " +
        "already-captured set (left-anti on the near-unique canonical " +
        "key), capped per host (politeness budget, row_number <= 3 " +
        "with a byte-order tie-break -> partial WindowGroupLimit " +
        "below the exchange). Planted: every doc contributes one " +
        "already-seen link (provably removed) and one mostly-fresh " +
        "link; ~4.7 fresh URLs/host so the cap bites. The real path " +
        "is Crawl.frontier over a raw WARC read.",
      """WITH k0 AS (SELECT DISTINCT doc_id % 250 AS k FROM documents),
        |crawled AS (SELECT DISTINCT 'http://host' || CAST(k % 53 AS VARCHAR)
        |    || '.com/p/' || CAST(k % 401 AS VARCHAR) AS url FROM k0),
        |disc AS (
        |  SELECT 'http://host' || CAST(k % 53 AS VARCHAR)
        |    || '.com/p/' || CAST(k % 401 AS VARCHAR) AS url FROM k0
        |  UNION
        |  SELECT 'http://host' || CAST((k * 3 + 6) % 53 AS VARCHAR)
        |    || '.com/p/' || CAST((k * 11 + 17) % 401 AS VARCHAR) FROM k0),
        |fresh AS (SELECT url FROM disc
        |          WHERE url NOT IN (SELECT url FROM crawled)),
        |h AS (SELECT url, regexp_extract(url, '://([^/]+)', 1) AS host
        |      FROM fresh),
        |r AS (SELECT host, url,
        |        row_number() OVER (PARTITION BY host ORDER BY url) AS rk
        |      FROM h)
        |SELECT host, url, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3""".stripMargin) { (s, d) =>
      val (crawled, disc) = plantFrontierSets(s, d)
      frontierFromSets(crawled, disc, 3)
    },

    Q("q179_anchor_profile",
      "Anchor-text profile per link target — what OTHER pages call a " +
        "URL (the classic relevance/quality signal): occurrence " +
        "count, distinct texts, the modal anchor (count-desc, " +
        "text-asc tie-break) and its share. Planted anchor " +
        "occurrences (q113 convention); the real path is " +
        "anchorProfile(Crawl.anchorEdges) over a raw WARC read. " +
        "Shuffles on the near-unique target key only.",
      """WITH k0 AS (SELECT doc_id % 250 AS k FROM documents),
        |a0 AS (SELECT 'http://host' || CAST((k * 3 + j * 7 + 1) % 53 AS VARCHAR)
        |         || '.com/p/' || CAST((k * 5 + j * 13) % 97 AS VARCHAR) AS dst_url,
        |       CASE (k + j) % 7 WHEN 0 THEN 'home' WHEN 1 THEN 'about'
        |            WHEN 2 THEN 'report 2026' WHEN 3 THEN 'contact'
        |            WHEN 4 THEN 'news' WHEN 5 THEN 'download'
        |            ELSE 'read more' END AS anchor
        |       FROM k0 CROSS JOIN LATERAL unnest(range(2)) AS t(j)),
        |bt AS (SELECT dst_url, anchor, CAST(count(*) AS BIGINT) AS cnt
        |       FROM a0 GROUP BY 1, 2),
        |top AS (SELECT dst_url, anchor AS top_anchor, cnt AS top_cnt,
        |          row_number() OVER (PARTITION BY dst_url
        |                             ORDER BY cnt DESC, anchor) AS rk
        |        FROM bt),
        |agg AS (SELECT dst_url, CAST(sum(cnt) AS BIGINT) AS n_anchors,
        |          CAST(count(*) AS BIGINT) AS n_anchor_texts
        |        FROM bt GROUP BY 1)
        |SELECT agg.dst_url AS url, n_anchors, n_anchor_texts, top_anchor,
        |  round(CAST(top_cnt AS DOUBLE) / n_anchors, 4) AS top_share
        |FROM agg JOIN top ON top.dst_url = agg.dst_url AND top.rk = 1"""
        .stripMargin) { (s, d) =>
      val k = col("doc_id") % 250
      val planted = docs(s, d)
        .select(k.as("k"), explode(sequence(lit(0L), lit(1L))).as("j"))
        .select(
          concat(lit("http://host"),
                 ((col("k") * 3 + col("j") * 7 + 1) % 53).cast("string"),
                 lit(".com/p/"),
                 ((col("k") * 5 + col("j") * 13) % 97).cast("string"))
            .as("dst_url"),
          when((col("k") + col("j")) % 7 === 0, "home")
            .when((col("k") + col("j")) % 7 === 1, "about")
            .when((col("k") + col("j")) % 7 === 2, "report 2026")
            .when((col("k") + col("j")) % 7 === 3, "contact")
            .when((col("k") + col("j")) % 7 === 4, "news")
            .when((col("k") + col("j")) % 7 === 5, "download")
            .otherwise("read more").as("anchor"))
      anchorProfile(planted)
    },

    Q("q180_crawl_budget",
      "Rank-proportional crawl budgeting — the scheduler tying the " +
        "host-quality prior (q177 PageRank) to the fetch list (q178 " +
        "frontier): a global budget of 200 fetches splits across " +
        "hosts proportionally to rank in exact integer arithmetic " +
        "(cap = max(1, (200 * rank) div total) — every host keeps at " +
        "least one probe), and each host's frontier keeps its first " +
        "cap URLs. Composes the two planted scenarios; one 1-row " +
        "broadcast + one host-sized join.",
      s"""WITH $edgesSqlCtes,
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hosts),
         |r0 AS (SELECT h.host, 1000000000000 // n.n AS r
         |       FROM hosts h CROSS JOIN n),
         |s1 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r0 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r1 AS (SELECT h.host,
         |         (150000000000 // n.n) + (85 * COALESCE(s1.s, 0)) // 100 AS r
         |       FROM hosts h CROSS JOIN n LEFT JOIN s1 ON s1.dst = h.host),
         |s2 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r1 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r2 AS (SELECT h.host,
         |         (150000000000 // n.n) + (85 * COALESCE(s2.s, 0)) // 100 AS r
         |       FROM hosts h CROSS JOIN n LEFT JOIN s2 ON s2.dst = h.host),
         |s3 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r2 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r3 AS (SELECT h.host,
         |         (150000000000 // n.n) + (85 * COALESCE(s3.s, 0)) // 100 AS r
         |       FROM hosts h CROSS JOIN n LEFT JOIN s3 ON s3.dst = h.host),
         |tot AS (SELECT CAST(sum(r) AS BIGINT) AS total_r FROM r3),
         |caps AS (SELECT r3.host, r3.r AS rank_e12,
         |           GREATEST(1, (200 * r3.r) // tot.total_r) AS cap
         |         FROM r3 CROSS JOIN tot),
         |k0 AS (SELECT DISTINCT doc_id % 250 AS k FROM documents),
         |crawled AS (SELECT DISTINCT 'http://host' || CAST(k % 53 AS VARCHAR)
         |    || '.com/p/' || CAST(k % 401 AS VARCHAR) AS url FROM k0),
         |disc AS (
         |  SELECT 'http://host' || CAST(k % 53 AS VARCHAR)
         |    || '.com/p/' || CAST(k % 401 AS VARCHAR) AS url FROM k0
         |  UNION
         |  SELECT 'http://host' || CAST((k * 3 + 6) % 53 AS VARCHAR)
         |    || '.com/p/' || CAST((k * 11 + 17) % 401 AS VARCHAR) FROM k0),
         |fresh AS (SELECT url FROM disc
         |          WHERE url NOT IN (SELECT url FROM crawled)),
         |fh AS (SELECT url, split_part(
         |         regexp_extract(url, '://([^/]+)', 1), '.', 1) AS host
         |       FROM fresh),
         |fr AS (SELECT host, url,
         |         row_number() OVER (PARTITION BY host ORDER BY url) AS rk
         |       FROM fh)
         |SELECT fr.host, fr.url, CAST(fr.rk AS BIGINT) AS rk,
         |  caps.cap, caps.rank_e12
         |FROM fr JOIN caps ON caps.host = fr.host
         |WHERE fr.rk <= caps.cap""".stripMargin) { (s, d) =>
      val ranks = hostRankTable(s, d)
      val (crawled, disc) = plantFrontierSets(s, d)
      val fr = frontierFromSets(crawled, disc, Int.MaxValue)
        .withColumn("host", substring_index(col("host"), ".", 1))
      budgetByRank(fr, ranks, 200L)
    },

    Q("q181_redirect_resolve",
      "Redirect alias-chain resolution (max 3 hops): each URL follows " +
        "its deduplicated 3xx edge to the final target — the pre-dedup " +
        "step that makes a chain of 301s ONE page before canonical " +
        "dedup (q173). Planted: every m%4<2 page redirects to its " +
        "successor (so two-hop chains exist at m%4=0), m%97=5 plants a " +
        "self-loop (dropped), everything else is terminal. Fixed-depth " +
        "iterated left joins on a near-unique key; the real input is " +
        "Crawl.redirectEdges.",
      """WITH k0 AS (SELECT DISTINCT doc_id % 250 AS m FROM documents),
        |u AS (SELECT m, 'http://h' || CAST(m % 31 AS VARCHAR)
        |        || '.com/p' || CAST(m AS VARCHAR) AS url FROM k0),
        |ed AS (SELECT e0.url AS src_url, u2.url AS dst_url
        |       FROM u e0 JOIN u u2 ON u2.m = (e0.m + 1) % 250
        |       WHERE e0.m % 4 < 2
        |       UNION ALL
        |       SELECT url, url FROM u WHERE m % 97 = 5),
        |eds AS (SELECT src_url, max(dst_url) AS dst_url FROM ed
        |        WHERE src_url <> dst_url GROUP BY 1),
        |r1 AS (SELECT u.url, COALESCE(e.dst_url, u.url) AS cur,
        |         CASE WHEN e.dst_url IS NULL THEN 0 ELSE 1 END AS hops
        |       FROM u LEFT JOIN eds e ON e.src_url = u.url),
        |r2 AS (SELECT r1.url, COALESCE(e.dst_url, r1.cur) AS cur,
        |         r1.hops + CASE WHEN e.dst_url IS NULL THEN 0 ELSE 1 END
        |           AS hops
        |       FROM r1 LEFT JOIN eds e ON e.src_url = r1.cur),
        |r3 AS (SELECT r2.url, COALESCE(e.dst_url, r2.cur) AS cur,
        |         r2.hops + CASE WHEN e.dst_url IS NULL THEN 0 ELSE 1 END
        |           AS hops
        |       FROM r2 LEFT JOIN eds e ON e.src_url = r2.cur)
        |SELECT url, cur AS final_url, CAST(hops AS BIGINT) AS n_hops
        |FROM r3""".stripMargin) { (s, d) =>
      val m = col("m")
      val u = docs(s, d).select((col("doc_id") % 250).as("m")).distinct()
        .select(m, concat(lit("http://h"), (m % 31).cast("string"),
                          lit(".com/p"), m.cast("string")).as("url"))
      val succ = u.select(col("m").as("m2"), col("url").as("dst_url"))
      val chain = u.filter(m % 4 < 2)
        .select(((col("m") + 1) % 250).as("mn"), col("url").as("src_url"))
        .join(succ, col("mn") === col("m2"))
        .select("src_url", "dst_url")
      val loops = u.filter(m % 97 === 5)
        .select(col("url").as("src_url"), col("url").as("dst_url"))
      resolveRedirects(u.select("url"), chain.unionByName(loops), 3)
    },

    Q("q182_host_components",
      "Weakly-connected host components by 4-round min-label " +
        "propagation — the mirror/site-family detector: hosts linked " +
        "into one cluster count as ONE site for caps and mixing. min " +
        "is exact and order-free, so labels are bit-identical across " +
        "engines and partitions at any fixed round count. Planted: " +
        "hosts h0..h23 with step-4 ring edges (+step-8 chords), so " +
        "components are exactly the residue classes mod 4 and 4 " +
        "rounds provably converge.",
      s"WITH $siteComponentsSqlCtes\nSELECT host, component FROM p4") {
      (s, d) => components(siteEdgesTable(s, d), 4)
    },

    Q("q183_site_family_caps",
      "Site-family source caps — the q182 CONSUMER: linked hosts " +
        "count as ONE site, so the q63 over-representation audit keys " +
        "on the component representative instead of the raw host (a " +
        "mirror farm otherwise splits its mass across aliases and " +
        "every alias ducks the cap). Per-host capture counts roll up " +
        "to the family (left join keeps zero-capture member hosts in " +
        "n_hosts), then the q63 shape: count vs mean family count, " +
        ">1.5x flags for down-sampling. Planted: captures skew to h0 " +
        "(every k%5==0 class lands there), so h0's 6-host family " +
        "provably exceeds the cap (40% of mass, ratio 1.6) while its " +
        "member hosts individually would not all trip a host-level " +
        "audit. Host-keyed joins on the landed edge artifact; family " +
        "table is component-bounded; one 1-row scalar broadcast.",
      s"""WITH $siteComponentsSqlCtes,
         |kd AS (SELECT doc_id % 250 AS k FROM documents),
         |hostdocs AS (SELECT CASE WHEN k % 5 = 0 THEN 'h0'
         |               ELSE 'h' || CAST(k % 24 AS VARCHAR) END AS host
         |             FROM kd),
         |hd AS (SELECT host, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM hostdocs GROUP BY 1),
         |fam AS (SELECT p4.component,
         |          CAST(count(*) AS BIGINT) AS n_hosts,
         |          CAST(sum(COALESCE(hd.n_docs, 0)) AS BIGINT) AS n_docs
         |        FROM p4 LEFT JOIN hd ON hd.host = p4.host GROUP BY 1),
         |a AS (SELECT avg(n_docs) AS mean_n FROM fam)
         |SELECT component, n_hosts, n_docs,
         |  round(n_docs / mean_n, 4) AS ratio,
         |  CAST(n_docs > 1.5 * mean_n AS BIGINT) AS over_cap
         |FROM fam CROSS JOIN a""".stripMargin) { (s, d) =>
      val comp = components(siteEdgesTable(s, d), 4)
      val k = col("doc_id") % 250
      val hd = docs(s, d).select(
          when(k % 5 === 0, lit("h0"))
            .otherwise(concat(lit("h"), (k % 24).cast("string"))).as("host"))
        .groupBy("host").agg(count(lit(1)).as("n_docs"))
      familyCaps(comp, hd)
    },

    Q("q184_anchor_bm25",
      "Anchor-boosted BM25 — q98's body ranking with q179's anchor " +
        "texts as a second retrieval field (the classic web prior: " +
        "what other pages call a document beats its own body as a " +
        "relevance signal). Body side is bit-identical to q98's " +
        "spelling; anchors add 2.0*atf/(atf+1.2) per query term — tf " +
        "saturation at double weight, no length norm, no idf. A page " +
        "with matching anchors and NO body match still ranks (the " +
        "full-outer field merge), and outranks weak body matches " +
        "(WebGraphSpec pins the property on a planted pair). Planted " +
        "anchor occurrences key on page identity doc_id % 250 (q179 " +
        "convention). Scale: two (doc,term) partial aggregations, " +
        "1-row/4-row broadcasts, near-unique-key field merge, " +
        "TakeOrderedAndProject top-20.",
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
        |body AS (SELECT doc_id,
        |        sum(CASE WHEN term = 'hash' THEN w ELSE 0.0 END) AS w0,
        |        sum(CASE WHEN term = 'join' THEN w ELSE 0.0 END) AS w1,
        |        sum(CASE WHEN term = 'scan' THEN w ELSE 0.0 END) AS w2,
        |        sum(CASE WHEN term = 'window' THEN w ELSE 0.0 END) AS w3,
        |        CAST(count(*) AS BIGINT) AS body_terms
        |      FROM c GROUP BY 1),
        |k0 AS (SELECT DISTINCT doc_id % 250 AS m FROM documents),
        |an0 AS (SELECT m, CASE (m + j) % 11
        |         WHEN 0 THEN 'hash join tuning' WHEN 1 THEN 'window guide'
        |         WHEN 2 THEN 'scan' WHEN 3 THEN 'contact'
        |         WHEN 4 THEN 'read more' WHEN 5 THEN 'home'
        |         WHEN 6 THEN 'hash' WHEN 7 THEN 'about' WHEN 8 THEN 'news'
        |         WHEN 9 THEN 'download' ELSE 'join now' END AS atext
        |       FROM k0 CROSS JOIN LATERAL unnest(range(m % 3 + 1)) AS tt(j)),
        |adoc AS (SELECT d.doc_id, an0.atext FROM documents d
        |         JOIN an0 ON an0.m = d.doc_id % 250),
        |atok AS (SELECT doc_id, unnest(string_split(atext, ' ')) AS term
        |         FROM adoc),
        |atf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS atf
        |        FROM atok
        |        WHERE term IN ('hash', 'join', 'scan', 'window')
        |        GROUP BY 1, 2),
        |aw AS (SELECT doc_id,
        |        sum(CASE WHEN term = 'hash'
        |            THEN 2.0 * atf / (atf + 1.2) ELSE 0.0 END) AS aw0,
        |        sum(CASE WHEN term = 'join'
        |            THEN 2.0 * atf / (atf + 1.2) ELSE 0.0 END) AS aw1,
        |        sum(CASE WHEN term = 'scan'
        |            THEN 2.0 * atf / (atf + 1.2) ELSE 0.0 END) AS aw2,
        |        sum(CASE WHEN term = 'window'
        |            THEN 2.0 * atf / (atf + 1.2) ELSE 0.0 END) AS aw3,
        |        CAST(count(*) AS BIGINT) AS anchor_terms
        |      FROM atf GROUP BY 1),
        |s AS (SELECT COALESCE(body.doc_id, aw.doc_id) AS doc_id,
        |        round(COALESCE(w0, 0.0) + COALESCE(w1, 0.0) +
        |              COALESCE(w2, 0.0) + COALESCE(w3, 0.0) +
        |              COALESCE(aw0, 0.0) + COALESCE(aw1, 0.0) +
        |              COALESCE(aw2, 0.0) + COALESCE(aw3, 0.0), 4) AS score,
        |        CAST(COALESCE(body_terms, 0) AS BIGINT) AS body_terms,
        |        CAST(COALESCE(anchor_terms, 0) AS BIGINT) AS anchor_terms
        |      FROM body FULL OUTER JOIN aw ON aw.doc_id = body.doc_id)
        |SELECT doc_id, score, body_terms, anchor_terms FROM s
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val m = col("m")
      val occ = docs(s, d).select((col("doc_id") % 250).as("m")).distinct()
        .select(m, explode(sequence(lit(0L), m % 3)).as("j"))
        .select(m, when((m + col("j")) % 11 === 0, "hash join tuning")
          .when((m + col("j")) % 11 === 1, "window guide")
          .when((m + col("j")) % 11 === 2, "scan")
          .when((m + col("j")) % 11 === 3, "contact")
          .when((m + col("j")) % 11 === 4, "read more")
          .when((m + col("j")) % 11 === 5, "home")
          .when((m + col("j")) % 11 === 6, "hash")
          .when((m + col("j")) % 11 === 7, "about")
          .when((m + col("j")) % 11 === 8, "news")
          .when((m + col("j")) % 11 === 9, "download")
          .otherwise("join now").as("anchor"))
      val anchors = docs(s, d)
        .select(col("doc_id"), (col("doc_id") % 250).as("m"))
        .join(occ, Seq("m")).select("doc_id", "anchor")
      anchorBm25(docs(s, d).select("doc_id", "text"), anchors,
                 Seq("hash", "join", "scan", "window"), 20)
    },

    Q("q185_recrawl_priority",
      "Recrawl scheduling: per-page change-rate estimate from revisit " +
        "history (Cho/Garcia-Molina freshness) — detected changes = " +
        "distinct content fingerprints - 1 (the sampling-blind lower " +
        "bound), normalized by revisit count, bucketed hot/warm/cold/" +
        "unknown. Planted: captures are the q172 canonical pages " +
        "(doc_id % 250 identity, ~2x captured at sf0.01, ~20x at " +
        "sf0.1); content version (doc_id div 250) % (1 + k % 4), so a " +
        "quarter of pages never change and a quarter churn through 4 " +
        "versions. Real frame: canon_url = Urls.canonicalize(url), " +
        "fp = xxhash64(text). One shuffle on the near-unique page key.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """v AS (SELECT canon_url,
          |        (doc_id // 250) % (1 + (doc_id % 250) % 4) AS fp
          |      FROM canon WHERE canon_url IS NOT NULL),
          |g AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_captures,
          |        CAST(count(DISTINCT fp) AS BIGINT) AS n_versions
          |      FROM v GROUP BY 1),
          |g2 AS (SELECT *, n_versions - 1 AS n_changes,
          |        round(CAST(n_versions - 1 AS DOUBLE)
          |              / greatest(n_captures - 1, 1), 4) AS change_share
          |       FROM g)
          |SELECT canon_url, n_captures, n_versions, n_changes,
          |  change_share,
          |  CASE WHEN n_captures = 1 THEN 'unknown'
          |       WHEN change_share >= 0.5 THEN 'hot'
          |       WHEN change_share >= 0.1 THEN 'warm'
          |       ELSE 'cold' END AS bucket
          |FROM g2""".stripMargin) { (s, d) =>
      recrawlPriority(plantedCaptures(s, d))
    },

    Q("q186_trustrank",
      "TrustRank (Gyongyi et al., VLDB'04): PageRank with teleport " +
        "mass restricted to a trusted SEED set, so trust flows " +
        "outward along links and spam farms no trusted host links to " +
        "starve — the spam-demotion prior beside q177's popularity " +
        "rank. Seeds: hosts whose number is divisible by 7 (a planted " +
        "curated list). Same exact 1e12-scaled BIGINT arithmetic and " +
        "per-iteration shape as q177 (3 iterations); hosts unreachable " +
        "from any seed get exactly 0.",
      s"""WITH $edgesSqlCtes,
         |seeds AS (SELECT host FROM hosts
         |          WHERE CAST(regexp_extract(host, '[0-9]+') AS BIGINT)
         |                % 7 = 0),
         |hs AS (SELECT h.host,
         |         h.host IN (SELECT host FROM seeds) AS is_seed
         |       FROM hosts h),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM seeds),
         |r0 AS (SELECT hs.host, hs.is_seed,
         |         CASE WHEN hs.is_seed THEN 1000000000000 // ns.ns
         |              ELSE 0 END AS r
         |       FROM hs CROSS JOIN ns),
         |s1 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r0 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r1 AS (SELECT hs.host, hs.is_seed,
         |         (CASE WHEN hs.is_seed THEN 150000000000 // ns.ns
         |               ELSE 0 END)
         |         + (85 * COALESCE(s1.s, 0)) // 100 AS r
         |       FROM hs CROSS JOIN ns LEFT JOIN s1 ON s1.dst = hs.host),
         |s2 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r1 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r2 AS (SELECT hs.host, hs.is_seed,
         |         (CASE WHEN hs.is_seed THEN 150000000000 // ns.ns
         |               ELSE 0 END)
         |         + (85 * COALESCE(s2.s, 0)) // 100 AS r
         |       FROM hs CROSS JOIN ns LEFT JOIN s2 ON s2.dst = hs.host),
         |s3 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
         |       FROM edges e JOIN r2 r ON r.host = e.src
         |       JOIN o ON o.src = e.src GROUP BY 1),
         |r3 AS (SELECT hs.host, hs.is_seed,
         |         (CASE WHEN hs.is_seed THEN 150000000000 // ns.ns
         |               ELSE 0 END)
         |         + (85 * COALESCE(s3.s, 0)) // 100 AS r
         |       FROM hs CROSS JOIN ns LEFT JOIN s3 ON s3.dst = hs.host)
         |SELECT host, is_seed, r AS trust_e12 FROM r3""".stripMargin) {
      (s, d) => trustRankTable(s, d)
    },

    Q("q187_mirror_hosts",
      "Mirror-host detection: host pairs sharing >= 2 content " +
        "fingerprints, with containment overlap n_shared/min(|a|,|b|) " +
        "— the evidence table that feeds site-family resolution " +
        "(q182/q183: a mirror pair is ONE site for caps and mixing). " +
        "Fingerprints on > 10 hosts drop FIRST (shared boilerplate is " +
        "not mirroring evidence, and it is exactly the row that makes " +
        "the self-join quadratic) — join cells are bounded at " +
        "maxHostsPerFp^2 at any corpus size. Planted: page k lives on " +
        "host k % 53 with content class k % 97, so diff-44 host pairs " +
        "provably share 2-3 classes. Real frame: host = " +
        "Urls.host(url), fp = xxhash64(text).",
      """WITH k0 AS (SELECT DISTINCT doc_id % 250 AS k FROM documents),
        |hf AS (SELECT DISTINCT 'host' || CAST(k % 53 AS VARCHAR) AS host,
        |         k % 97 AS fp FROM k0),
        |ok AS (SELECT fp FROM hf GROUP BY 1 HAVING count(*) <= 10),
        |hf2 AS (SELECT hf.* FROM hf JOIN ok USING (fp)),
        |sizes AS (SELECT host, CAST(count(*) AS BIGINT) AS n_fps
        |          FROM hf2 GROUP BY 1),
        |pairs AS (SELECT a.host AS host_a, b.host AS host_b,
        |            CAST(count(*) AS BIGINT) AS n_shared
        |          FROM hf2 a JOIN hf2 b
        |            ON a.fp = b.fp AND a.host < b.host
        |          GROUP BY 1, 2)
        |SELECT host_a, host_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE)
        |        / least(sa.n_fps, sb.n_fps), 4) AS overlap
        |FROM pairs
        |JOIN sizes sa ON sa.host = pairs.host_a
        |JOIN sizes sb ON sb.host = pairs.host_b
        |WHERE n_shared >= 2""".stripMargin) { (s, d) =>
      val k = col("k")
      val hf = docs(s, d).select((col("doc_id") % 250).as("k")).distinct()
        .select(concat(lit("host"), (k % 53).cast("string")).as("host"),
                (k % 97).as("fp"))
      mirrorHosts(hf, maxHostsPerFp = 10, minShared = 2L)
    },

    Q("q188_recrawl_queue",
      "Freshness-aware recrawl queue — the Cho/Garcia-Molina crawl " +
        "ordering: refetch priority = host authority x page change " +
        "rate, so an important fast-changing page outranks both a " +
        "stale-but-important one and a churning-but-obscure one. " +
        "Composes q185's per-page change stats with q177's " +
        "exact-integer PageRank (page's host joined by its first DNS " +
        "label, the q180 spelling): score_e12 = rank_e12 * " +
        "(1 + n_changes) in BIGINT, top-100 by (score desc, url asc) " +
        "-> TakeOrderedAndProject. One near-unique-key aggregation + " +
        "one host-sized join; rank serves from the landed " +
        "host_rank_v1 artifact (zero rank-iteration exchanges warm).",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        s"""v AS (SELECT canon_url,
           |        (doc_id // 250) % (1 + (doc_id % 250) % 4) AS fp
           |      FROM canon WHERE canon_url IS NOT NULL),
           |g AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_captures,
           |        CAST(count(DISTINCT fp) AS BIGINT) AS n_versions
           |      FROM v GROUP BY 1),
           |$edgesSqlCtes,
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hosts),
           |r0 AS (SELECT h.host, 1000000000000 // n.n AS r
           |       FROM hosts h CROSS JOIN n),
           |s1 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
           |       FROM edges e JOIN r0 r ON r.host = e.src
           |       JOIN o ON o.src = e.src GROUP BY 1),
           |r1 AS (SELECT h.host,
           |         (150000000000 // n.n) + (85 * COALESCE(s1.s, 0)) // 100 AS r
           |       FROM hosts h CROSS JOIN n LEFT JOIN s1 ON s1.dst = h.host),
           |s2 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
           |       FROM edges e JOIN r1 r ON r.host = e.src
           |       JOIN o ON o.src = e.src GROUP BY 1),
           |r2 AS (SELECT h.host,
           |         (150000000000 // n.n) + (85 * COALESCE(s2.s, 0)) // 100 AS r
           |       FROM hosts h CROSS JOIN n LEFT JOIN s2 ON s2.dst = h.host),
           |s3 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
           |       FROM edges e JOIN r2 r ON r.host = e.src
           |       JOIN o ON o.src = e.src GROUP BY 1),
           |r3 AS (SELECT h.host,
           |         (150000000000 // n.n) + (85 * COALESCE(s3.s, 0)) // 100 AS r
           |       FROM hosts h CROSS JOIN n LEFT JOIN s3 ON s3.dst = h.host),
           |q AS (SELECT g.canon_url,
           |        split_part(regexp_extract(canon_url,
           |          '://([^/?#]+)', 1), '.', 1) AS host,
           |        g.n_versions - 1 AS n_changes
           |      FROM g)
           |SELECT q.canon_url, q.host, q.n_changes, r3.r AS rank_e12,
           |  r3.r * (1 + q.n_changes) AS score_e12
           |FROM q JOIN r3 ON r3.host = q.host
           |ORDER BY score_e12 DESC, canon_url LIMIT 100""".stripMargin) {
      (s, d) =>
        val stats = recrawlPriority(plantedCaptures(s, d))
          .select(col("canon_url"), col("n_changes"),
            substring_index(Urls.host(col("canon_url")), ".", 1)
              .as("host"))
        val ranks = hostRankTable(s, d)
        // host-sized rank table: shuffle-pinned, the no-broadcast rule
        stats.join(ranks.hint("shuffle_hash"), Seq("host"))
          .select(col("canon_url"), col("host"), col("n_changes"),
            col("rank_e12"),
            (col("rank_e12") * (col("n_changes") + 1L)).as("score_e12"))
          .orderBy(col("score_e12").desc, col("canon_url"))
          .limit(100)
    },

    Q("q189_mirror_families",
      "Mirror evidence CONSUMED: q187's shared-fingerprint pairs " +
        "become edges, min-label components resolve them into mirror " +
        "FAMILIES, and each host gets its family label + size — the " +
        "content-based sibling of q182's link-based site families (a " +
        "real pipeline unions both edge sets before q183's caps: a " +
        "clone farm is ONE site whether or not its members link to " +
        "each other). Planted: 8 mirror islands of 3 hosts each, " +
        "every pair sharing 7 content classes, so the pair graph is " +
        "complete inside an island and empty across — complete " +
        "subgraphs converge in one min-label round (two provisioned). " +
        "Same shuffle shape as q182: host-keyed joins, state " +
        "host-sized throughout.",
      """WITH k0 AS (SELECT DISTINCT doc_id % 250 AS k FROM documents),
        |inc AS (SELECT DISTINCT 'm' || CAST(k % 24 AS VARCHAR) AS host,
        |          ((k % 24) // 3) * 100 + (k // 24) % 7 AS fp
        |        FROM k0),
        |ok AS (SELECT fp FROM inc GROUP BY 1 HAVING count(*) <= 10),
        |inc2 AS (SELECT inc.* FROM inc JOIN ok USING (fp)),
        |pairs AS (SELECT a.host AS host_a, b.host AS host_b,
        |            CAST(count(*) AS BIGINT) AS n_shared
        |          FROM inc2 a JOIN inc2 b
        |            ON a.fp = b.fp AND a.host < b.host
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS (SELECT host_a AS src, host_b AS dst FROM pairs),
        |und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |h AS (SELECT DISTINCT src AS host FROM und),
        |p0 AS (SELECT host, host AS component FROM h),
        |m1 AS (SELECT e.src AS host, min(r.component) AS nmin
        |       FROM und e JOIN p0 r ON r.host = e.dst GROUP BY 1),
        |p1 AS (SELECT p.host,
        |         least(p.component, COALESCE(m.nmin, p.component))
        |           AS component
        |       FROM p0 p LEFT JOIN m1 m ON m.host = p.host),
        |m2 AS (SELECT e.src AS host, min(r.component) AS nmin
        |       FROM und e JOIN p1 r ON r.host = e.dst GROUP BY 1),
        |p2 AS (SELECT p.host,
        |         least(p.component, COALESCE(m.nmin, p.component))
        |           AS component
        |       FROM p1 p LEFT JOIN m2 m ON m.host = p.host),
        |fs AS (SELECT component AS family,
        |         CAST(count(*) AS BIGINT) AS n_hosts
        |       FROM p2 GROUP BY 1)
        |SELECT p2.host, p2.component AS family, fs.n_hosts
        |FROM p2 JOIN fs ON fs.family = p2.component""".stripMargin) {
      (s, d) =>
        val k = col("k")
        val inc = docs(s, d).select((col("doc_id") % 250).as("k"))
          .distinct()
          .select(concat(lit("m"), (k % 24).cast("string")).as("host"),
            expr("((k % 24) div 3) * 100 + (k div 24) % 7").as("fp"))
        // materialize the (tiny, host-pair-sized) evidence before the
        // label rounds: components() references its edge frame once
        // per round, and an unmaterialized frame would re-run the
        // whole fingerprint self-join — documents scan included — per
        // round (measured 3.6 s -> sub-second at sf0.1). Same device
        // as the big-graph CC's per-round checkpoints.
        val pairs = mirrorHosts(inc, maxHostsPerFp = 10, minShared = 2L)
          .localCheckpoint()
        val fam = components(
          pairs.select(col("host_a").as("src"), col("host_b").as("dst")),
          rounds = 2)
        val sizes = fam.groupBy("component").agg(count(lit(1)).as("n_hosts"))
        fam.join(sizes.hint("shuffle_hash"), Seq("component"))
          .select(col("host"), col("component").as("family"),
                  col("n_hosts"))
    },

    Q("q190_crawl_traps",
      "Crawl-trap detection: per host, distinct canonical URLs over " +
        "distinct URL TEMPLATES (digit runs collapsed to N) — the " +
        "expansion ratio that exposes calendar pages, session ids, " +
        "and faceted-search permutations eating a crawler's budget on " +
        "one page's infinite spellings. Planted: the q172 canonical " +
        "pages (honest hosts, expansion ~1) plus six trap hosts " +
        "serving every capture a fresh ?sid= URL over one template. " +
        "Verdict at expansion >= 3; consumption: cap a trap host's " +
        "frontier budget (the crawl-delay composition shape). One " +
        "codegen projection + one host-keyed aggregation.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """u AS (SELECT canon_url FROM canon WHERE canon_url IS NOT NULL
          |      UNION ALL
          |      SELECT 'http://trap' || CAST(doc_id % 6 AS VARCHAR)
          |        || '.example/cal/' || CAST(doc_id % 1000 AS VARCHAR)
          |        || '?sid=' || CAST(doc_id AS VARCHAR)
          |      FROM documents),
          |du AS (SELECT DISTINCT canon_url FROM u),
          |t AS (SELECT canon_url,
          |        regexp_replace(regexp_extract(canon_url,
          |          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
          |          ':[0-9]+$', '') AS host,
          |        regexp_replace(canon_url, '[0-9]+', 'N', 'g')
          |          AS template
          |      FROM du),
          |g AS (SELECT host,
          |        CAST(count(DISTINCT canon_url) AS BIGINT) AS n_urls,
          |        CAST(count(DISTINCT template) AS BIGINT) AS n_templates
          |      FROM t WHERE host IS NOT NULL AND host <> ''
          |      GROUP BY 1),
          |g2 AS (SELECT *, round(CAST(n_urls AS DOUBLE) / n_templates, 4)
          |         AS expansion FROM g)
          |SELECT host, n_urls, n_templates, expansion,
          |  CASE WHEN expansion >= 3.0 THEN 'trap' ELSE 'ok' END
          |    AS verdict
          |FROM g2""".stripMargin) { (s, d) =>
      val regular = plantedCanon(s, d)
        .filter(col("canon_url").isNotNull).select("canon_url")
      val traps = docs(s, d).select(
        concat(lit("http://trap"), (col("doc_id") % 6).cast("string"),
          lit(".example/cal/"), (col("doc_id") % 1000).cast("string"),
          lit("?sid="), col("doc_id").cast("string")).as("canon_url"))
      crawlTraps(regular.unionByName(traps), threshold = 3.0)
    },

    Q("q191_trap_capped_frontier",
      "Trap detection CONSUMED by the scheduler: the frontier " +
        "consults q190's verdict table and collapses a trap host's " +
        "politeness budget to one probe URL — without it, the " +
        "template-blind frontier spends its whole per-host budget " +
        "inside one calendar/session trap (the q180 composition " +
        "shape, applied to the trap signal). Honest hosts keep the " +
        "full cap (3 here); trap hosts emit exactly their probe. One " +
        "host-keyed window + one host-sized shuffle-pinned join.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """u AS (SELECT canon_url FROM canon WHERE canon_url IS NOT NULL
          |      UNION ALL
          |      SELECT 'http://trap' || CAST(doc_id % 6 AS VARCHAR)
          |        || '.example/cal/' || CAST(doc_id % 1000 AS VARCHAR)
          |        || '?sid=' || CAST(doc_id AS VARCHAR)
          |      FROM documents),
          |du AS (SELECT DISTINCT canon_url FROM u),
          |t AS (SELECT canon_url,
          |        regexp_replace(regexp_extract(canon_url,
          |          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
          |          ':[0-9]+$', '') AS host,
          |        regexp_replace(canon_url, '[0-9]+', 'N', 'g')
          |          AS template
          |      FROM du),
          |g AS (SELECT host,
          |        CAST(count(DISTINCT canon_url) AS BIGINT) AS n_urls,
          |        CAST(count(DISTINCT template) AS BIGINT) AS n_templates
          |      FROM t WHERE host IS NOT NULL AND host <> ''
          |      GROUP BY 1),
          |v AS (SELECT host,
          |        CASE WHEN round(CAST(n_urls AS DOUBLE) / n_templates, 4)
          |               >= 3.0 THEN 'trap' ELSE 'ok' END AS verdict
          |      FROM g),
          |fr AS (SELECT host, canon_url AS url,
          |         row_number() OVER (PARTITION BY host
          |                            ORDER BY canon_url) AS rk
          |       FROM t WHERE host IS NOT NULL AND host <> '')
          |SELECT fr.host, fr.url, CAST(fr.rk AS BIGINT) AS rk, v.verdict
          |FROM fr JOIN v ON v.host = fr.host
          |WHERE fr.rk <= CASE WHEN v.verdict = 'trap' THEN 1 ELSE 3 END"""
          .stripMargin) { (s, d) =>
      val regular = plantedCanon(s, d)
        .filter(col("canon_url").isNotNull).select("canon_url")
      val traps = docs(s, d).select(
        concat(lit("http://trap"), (col("doc_id") % 6).cast("string"),
          lit(".example/cal/"), (col("doc_id") % 1000).cast("string"),
          lit("?sid="), col("doc_id").cast("string")).as("canon_url"))
      val cand = regular.unionByName(traps)
      val verdicts = crawlTraps(cand, threshold = 3.0)
        .select("host", "verdict")
      val fr = frontierFromSets(
        cand.limit(0).select(col("canon_url").as("url")),
        cand.select(col("canon_url").as("url")), perHostCap = 3)
      fr.join(verdicts.hint("shuffle_hash"), Seq("host"))
        .filter(col("rk") <=
          when(col("verdict") === "trap", 1L).otherwise(3L))
        .select("host", "url", "rk", "verdict")
    },

    Q("q192_revalidation_economy",
      "The 304 economy: per host, how much of a recrawl is " +
        "REVALIDATABLE — captures whose response carried an ETag or " +
        "Last-Modified (RFC 9110 validators; a conditional refetch of " +
        "an unchanged page costs a 304, not a body transfer) — and " +
        "the byte share those captures represent. The bandwidth-" +
        "budget report a crawl planner reads next to q188's priority " +
        "queue; the real frame is Crawl.revisitValidators over a " +
        "parsed WARC read. Planted validator presence keys on doc_id " +
        "(every 3rd capture an ETag, every 5th a Last-Modified). One " +
        "host-keyed aggregation over the canonicalize projection.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")}\n" +
        """, t AS (SELECT n_chars,
          |    regexp_replace(regexp_extract(canon_url,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
          |      ':[0-9]+$', '') AS host,
          |    (doc_id % 3 = 0 OR doc_id % 5 = 0) AS reval
          |  FROM canon WHERE canon_url IS NOT NULL),
          |g AS (SELECT host,
          |    CAST(count(*) AS BIGINT) AS n_captures,
          |    CAST(count(*) FILTER (WHERE reval) AS BIGINT) AS n_reval,
          |    CAST(sum(n_chars) AS BIGINT) AS bytes_total,
          |    CAST(COALESCE(sum(n_chars) FILTER (WHERE reval), 0)
          |         AS BIGINT) AS bytes_reval
          |  FROM t WHERE host <> '' GROUP BY 1)
          |SELECT host, n_captures, n_reval,
          |  round(CAST(n_reval AS DOUBLE) / n_captures, 4) AS reval_share,
          |  bytes_total, bytes_reval,
          |  round(CAST(bytes_reval AS DOUBLE) / bytes_total, 4)
          |    AS save_share
          |FROM g""".stripMargin) { (s, d) =>
      val reval = (col("doc_id") % 3 === 0) || (col("doc_id") % 5 === 0)
      plantedCanon(s, d).filter(col("canon_url").isNotNull)
        .withColumn("host", Urls.host(col("canon_url")))
        .filter(col("host").isNotNull)
        .groupBy("host")
        .agg(count(lit(1)).as("n_captures"),
             count(when(reval, 1)).as("n_reval"),
             sum("n_chars").cast("long").as("bytes_total"),
             coalesce(sum(when(reval, col("n_chars"))), lit(0L))
               .cast("long").as("bytes_reval"))
        .select(col("host"), col("n_captures"), col("n_reval"),
          round(col("n_reval").cast("double") / col("n_captures"), 4)
            .as("reval_share"),
          col("bytes_total"), col("bytes_reval"),
          round(col("bytes_reval").cast("double") / col("bytes_total"), 4)
            .as("save_share"))
    },

    Q("q193_declared_freshness",
      "Declared-x-observed recrawl blend (Cho/Garcia-Molina completed): " +
        "q188's score (rank x (1 + observed changes)) times " +
        "(1 + declared changefreq weight: always=8 hourly=6 daily=4 " +
        "weekly=2 monthly=1 yearly/never/absent=0) — a page whose " +
        "sitemap promises hourly churn earns refetches before its " +
        "history proves it, and an undeclaring host neither gains nor " +
        "loses. All-BIGINT and exact. The Spark side runs the REAL " +
        "plumbing: planted per-page <changefreq> hints are rendered as " +
        "sitemap XML and parsed back through extract_sitemap, so the " +
        "parser provably feeds the blend (the oracle plants the values " +
        "directly). Rank serves from the landed host_rank_v1 artifact; " +
        "top-100 is TakeOrderedAndProject.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        s"""v AS (SELECT canon_url,
           |        (doc_id // 250) % (1 + (doc_id % 250) % 4) AS fp
           |      FROM canon WHERE canon_url IS NOT NULL),
           |g AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_captures,
           |        CAST(count(DISTINCT fp) AS BIGINT) AS n_versions
           |      FROM v GROUP BY 1),
           |$edgesSqlCtes,
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hosts),
           |r0 AS (SELECT h.host, 1000000000000 // n.n AS r
           |       FROM hosts h CROSS JOIN n),
           |s1 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
           |       FROM edges e JOIN r0 r ON r.host = e.src
           |       JOIN o ON o.src = e.src GROUP BY 1),
           |r1 AS (SELECT h.host,
           |         (150000000000 // n.n) + (85 * COALESCE(s1.s, 0)) // 100 AS r
           |       FROM hosts h CROSS JOIN n LEFT JOIN s1 ON s1.dst = h.host),
           |s2 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
           |       FROM edges e JOIN r1 r ON r.host = e.src
           |       JOIN o ON o.src = e.src GROUP BY 1),
           |r2 AS (SELECT h.host,
           |         (150000000000 // n.n) + (85 * COALESCE(s2.s, 0)) // 100 AS r
           |       FROM hosts h CROSS JOIN n LEFT JOIN s2 ON s2.dst = h.host),
           |s3 AS (SELECT e.dst, CAST(sum(r.r // o.out_deg) AS BIGINT) AS s
           |       FROM edges e JOIN r2 r ON r.host = e.src
           |       JOIN o ON o.src = e.src GROUP BY 1),
           |r3 AS (SELECT h.host,
           |         (150000000000 // n.n) + (85 * COALESCE(s3.s, 0)) // 100 AS r
           |       FROM hosts h CROSS JOIN n LEFT JOIN s3 ON s3.dst = h.host),
           |decl0 AS (SELECT DISTINCT canon_url, doc_id % 250 AS k
           |          FROM canon WHERE canon_url IS NOT NULL),
           |decl AS (SELECT canon_url,
           |           CASE k % 7 WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
           |                WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly'
           |                WHEN 4 THEN 'monthly' WHEN 5 THEN 'yearly'
           |                ELSE NULL END AS changefreq
           |         FROM decl0),
           |q AS (SELECT g.canon_url,
           |        split_part(regexp_extract(canon_url,
           |          '://([^/?#]+)', 1), '.', 1) AS host,
           |        g.n_versions - 1 AS n_changes
           |      FROM g)
           |SELECT q.canon_url, q.host, q.n_changes, d.changefreq,
           |  r3.r AS rank_e12,
           |  r3.r * (1 + q.n_changes) *
           |    (1 + CASE d.changefreq WHEN 'always' THEN 8
           |           WHEN 'hourly' THEN 6 WHEN 'daily' THEN 4
           |           WHEN 'weekly' THEN 2 WHEN 'monthly' THEN 1
           |           ELSE 0 END) AS score_e12
           |FROM q JOIN r3 ON r3.host = q.host
           |LEFT JOIN decl d ON d.canon_url = q.canon_url
           |ORDER BY score_e12 DESC, q.canon_url LIMIT 100""".stripMargin) {
      (s, d) =>
        val stats = recrawlPriority(plantedCaptures(s, d))
          .select(col("canon_url"), col("n_changes"),
            substring_index(Urls.host(col("canon_url")), ".", 1)
              .as("host"))
        val k = col("k")
        val tok = when(k % 7 === 0, "always").when(k % 7 === 1, "hourly")
          .when(k % 7 === 2, "daily").when(k % 7 === 3, "weekly")
          .when(k % 7 === 4, "monthly").when(k % 7 === 5, "yearly")
        // render the planted hints as sitemap XML and parse them BACK
        // through the real expression — the parser feeds the blend
        val xml = concat(lit("<urlset><url><loc>"), col("canon_url"),
          lit("</loc>"),
          when(tok.isNotNull,
            concat(lit("<changefreq>"), tok, lit("</changefreq>")))
            .otherwise(lit("")),
          lit("</url></urlset>"))
        val declared = plantedCanon(s, d)
          .filter(col("canon_url").isNotNull)
          .select(col("canon_url"), (col("doc_id") % 250).as("k"))
          .distinct()
          .select(col("canon_url"),
            explode(graft.sources.Sitemaps.extract_sitemap(xml)).as("e"))
          .select(col("canon_url"), col("e.changefreq").as("changefreq"))
        declaredFreshnessQueue(stats, hostRankTable(s, d), declared, 100)
    },

    Q("q194_asset_skip",
      "URL extension skip (the classic crawl-scheduler prior): a " +
        "binary-asset extension verdict over the URL PATH (query/" +
        "fragment stripped, extension bounded at 6 chars, case-" +
        "insensitive) — .jpg/.pdf/.zip/.css/.mp4 links must never " +
        "consume a text crawler's fetch budget, and both frontier " +
        "doors run this gate BEFORE the seen probe and the politeness " +
        "cap (Urls.isAsset, default on, opt-out for asset crawls). " +
        "Planted: one URL per doc cycling 8 extension shapes incl. " +
        "uppercase .JPG, extension-free, .html (page-shaped, kept), " +
        "a ?query suffix after the extension, and every 9th URL a " +
        "PATH-LESS page on a .zip gTLD host (the extension check is " +
        "anchored to the path, so a TLD never reads as an archive). " +
        "Pure codegen projection — no shuffle at any corpus size.",
      "WITH u AS (SELECT doc_id,\n" +
        "  CASE WHEN doc_id % 9 = 0\n" +
        "  THEN 'http://site' || CAST(doc_id AS VARCHAR) || '.zip'\n" +
        "  ELSE 'http://h' || CAST(doc_id % 53 AS VARCHAR) || '.com/f'\n" +
        "  || CAST(doc_id AS VARCHAR)\n" +
        "  || (CASE doc_id % 8 WHEN 0 THEN '.jpg' WHEN 1 THEN '.pdf'\n" +
        "      WHEN 2 THEN '.zip' WHEN 3 THEN '.css' WHEN 4 THEN '.html'\n" +
        "      WHEN 5 THEN '.mp4' WHEN 6 THEN '' ELSE '.JPG' END)\n" +
        "  || (CASE WHEN doc_id % 11 = 0 THEN '?x=1' ELSE '' END)\n" +
        "  END AS url\n" +
        "  FROM documents),\n" +
        "e AS (SELECT doc_id, url,\n" +
        "  lower(regexp_extract(regexp_extract(url,\n" +
        "    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1),\n" +
        "    '\\.([A-Za-z0-9]{1,6})$', 1)) AS ext\n" +
        "  FROM u)\n" +
        "SELECT doc_id, url,\n" +
        "  CAST(CASE WHEN ext IN (" +
        graft.sources.Urls.AssetExtensions.map(x => s"'$x'")
          .mkString(", ") +
        ") THEN 1 ELSE 0 END AS BIGINT) AS is_asset\nFROM e") { (s, d) =>
      val id = col("doc_id")
      val ext = when(id % 8 === 0, ".jpg").when(id % 8 === 1, ".pdf")
        .when(id % 8 === 2, ".zip").when(id % 8 === 3, ".css")
        .when(id % 8 === 4, ".html").when(id % 8 === 5, ".mp4")
        .when(id % 8 === 6, "").otherwise(".JPG")
      val url = when(id % 9 === 0,
          concat(lit("http://site"), id.cast("string"), lit(".zip")))
        .otherwise(concat(lit("http://h"), (id % 53).cast("string"),
          lit(".com/f"), id.cast("string"), ext,
          when(id % 11 === 0, "?x=1").otherwise("")))
      docs(s, d).select(id.as("doc_id"), url.as("url"),
        Urls.isAsset(url).cast("long").as("is_asset"))
    },

    Q("q195_revisit_stats",
      "Revisit-aware recrawl statistics — q185's change-rate " +
        "estimator taught the WARC revisit record (ISO 28500 " +
        "WARC-Type: revisit, the 304 economy's 'content unchanged' " +
        "capture): a revisit counts as a capture but contributes no " +
        "content version, so n_versions is distinct fp over REAL " +
        "bodies only, n_changes = max(n_versions - 1, 0) (a page " +
        "known only through revisits has zero changes, not -1), and " +
        "change_share divides by the full capture count — each " +
        "revisit is an observation of SAMENESS that dilutes the " +
        "change rate. Planted: the q185 capture history with every " +
        "doc_id % 4 == 1 capture recorded as a revisit. Real frame: " +
        "readWarc's revisit column. One page-keyed aggregation.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """v AS (SELECT canon_url,
          |        (doc_id // 250) % (1 + (doc_id % 250) % 4) AS fp,
          |        doc_id % 4 = 1 AS revisit
          |      FROM canon WHERE canon_url IS NOT NULL),
          |g AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_captures,
          |        CAST(count(*) FILTER (WHERE revisit) AS BIGINT)
          |          AS n_revisits,
          |        CAST(count(DISTINCT CASE WHEN NOT revisit THEN fp END)
          |          AS BIGINT) AS n_versions
          |      FROM v GROUP BY 1),
          |g2 AS (SELECT *,
          |        CAST(greatest(n_versions - 1, 0) AS BIGINT) AS n_changes,
          |        round(CAST(greatest(n_versions - 1, 0) AS DOUBLE)
          |              / greatest(n_captures - 1, 1), 4) AS change_share
          |       FROM g)
          |SELECT canon_url, n_captures, n_revisits, n_versions, n_changes,
          |  change_share,
          |  CASE WHEN n_captures = 1 THEN 'unknown'
          |       WHEN change_share >= 0.5 THEN 'hot'
          |       WHEN change_share >= 0.1 THEN 'warm'
          |       ELSE 'cold' END AS bucket
          |FROM g2""".stripMargin) { (s, d) =>
      recrawlPriorityRevisit(
        plantedCanon(s, d).filter(col("canon_url").isNotNull)
          .select(col("canon_url"),
            expr("(doc_id div 250) % (1 + (doc_id % 250) % 4)").as("fp"),
            (col("doc_id") % 4 === 1).as("revisit")))
    },

    Q("q196_refetch_due",
      "Due-time refetch list (the batch twin of refetchStream's " +
        "event-time wakeups): each page's revisit interval is the " +
        "Cho/Garcia-Molina rule in exact BIGINT arithmetic — " +
        "interval = max(base div (1 + n_changes), 1), next-due = " +
        "last capture + interval — and the due list at an as-of " +
        "instant (here one hour past the newest capture, derived " +
        "in-plan from the data) is every page whose instant has " +
        "passed. Planted: the q185 capture history with a per-round " +
        "timestamp ladder (1 h per revisit round), base 7200 s — " +
        "never-changing pages (interval = base) are NOT due, every " +
        "churning page (interval <= 3600) is. One near-unique-key " +
        "aggregation + a 1-row scalar broadcast.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """v AS (SELECT canon_url,
          |        (doc_id // 250) % (1 + (doc_id % 250) % 4) AS fp,
          |        1700000000 + (doc_id // 250) * 3600 AS ts_s
          |      FROM canon WHERE canon_url IS NOT NULL),
          |g AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_captures,
          |        CAST(count(DISTINCT fp) AS BIGINT) AS n_versions,
          |        CAST(max(ts_s) AS BIGINT) AS last_ts_s
          |      FROM v GROUP BY 1),
          |g2 AS (SELECT canon_url, n_captures,
          |        greatest(n_versions - 1, 0) AS n_changes, last_ts_s,
          |        greatest(CAST(7200 AS BIGINT)
          |                   // (1 + greatest(n_versions - 1, 0)),
          |                 CAST(1 AS BIGINT)) AS interval_s
          |       FROM g),
          |a AS (SELECT CAST(max(ts_s) AS BIGINT) + 3600 AS asof_s FROM v)
          |SELECT canon_url, n_captures, n_changes, last_ts_s,
          |  interval_s, last_ts_s + interval_s AS due_ts_s
          |FROM g2 CROSS JOIN a
          |WHERE last_ts_s + interval_s <= a.asof_s""".stripMargin) {
      (s, d) =>
        val caps = plantedCanon(s, d).filter(col("canon_url").isNotNull)
          .select(col("canon_url"),
            expr("(doc_id div 250) % (1 + (doc_id % 250) % 4)").as("fp"),
            expr("1700000000 + (doc_id div 250) * 3600").as("ts_s"))
        val asof = broadcast(
          caps.agg((max("ts_s").cast("long") + 3600L).as("asof_s")))
        refetchDue(caps, dueBaseS = 7200L)
          .crossJoin(asof)
          .filter(col("due_ts_s") <= col("asof_s"))
          .select("canon_url", "n_captures", "n_changes", "last_ts_s",
                  "interval_s", "due_ts_s")
    },

    Q("q197_lastmod_due",
      "Declared-instant recrawl trigger: the sitemap <lastmod> half " +
        "of the freshness vocabulary (q193/q196 blend the rate half) " +
        "— a page whose declared last-modification is NEWER than our " +
        "last capture is due NOW, no interval arithmetic; the host " +
        "just said it changed. Day-granular epoch-day integers via " +
        "calendar datediff (exact both engines, no timezone in the " +
        "comparison). The Spark side renders planted hints as sitemap " +
        "XML and parses them back through extract_sitemap, so the " +
        "parser provably feeds the trigger; every 5th page declares " +
        "nothing and is never due on this channel. One near-unique-" +
        "key left join + a 1-row scalar broadcast.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """v AS (SELECT canon_url, doc_id % 250 AS k,
          |        1700000000 + (doc_id // 250) * 3600 AS ts_s
          |      FROM canon WHERE canon_url IS NOT NULL),
          |g AS (SELECT canon_url, CAST(min(k) AS BIGINT) AS k,
          |        CAST(max(ts_s) AS BIGINT) AS last_ts_s
          |      FROM v GROUP BY 1),
          |a AS (SELECT CAST(max(ts_s) AS BIGINT) AS max_ts FROM v),
          |d AS (SELECT canon_url,
          |        CAST(DATE '1970-01-01' + CAST(
          |          (a.max_ts + (g.k % 7 - 3) * 86400) // 86400 AS INT)
          |          AS VARCHAR) AS lastmod
          |      FROM g CROSS JOIN a WHERE g.k % 5 <> 0)
          |SELECT g.canon_url, g.last_ts_s, d.lastmod,
          |  CAST(date_diff('day', DATE '1970-01-01',
          |    TRY_CAST(substring(d.lastmod, 1, 10) AS DATE)) AS BIGINT)
          |    AS lastmod_day,
          |  CAST(COALESCE(date_diff('day', DATE '1970-01-01',
          |      TRY_CAST(substring(d.lastmod, 1, 10) AS DATE))
          |      > g.last_ts_s // 86400, false) AS BIGINT) AS due_now
          |FROM g LEFT JOIN d USING (canon_url)""".stripMargin) {
      (s, d) =>
        val caps = plantedCanon(s, d).filter(col("canon_url").isNotNull)
          .select(col("canon_url"), (col("doc_id") % 250).as("k"),
            expr("1700000000 + (doc_id div 250) * 3600").as("ts_s"))
        val g = caps.groupBy("canon_url")
          .agg(min("k").as("k"), max("ts_s").cast("long").as("last_ts_s"))
        val mx = broadcast(caps.agg(max("ts_s").cast("long").as("max_ts")))
        // render the planted instants as sitemap XML and parse them
        // BACK through the real expression — the parser feeds the
        // trigger (the q193 convention, applied to <lastmod>)
        val lm = date_add(to_date(lit("1970-01-01")),
          expr("cast((max_ts + (k % 7 - 3) * 86400) div 86400 as int)"))
          .cast("string")
        val xml = concat(lit("<urlset><url><loc>"), col("canon_url"),
          lit("</loc><lastmod>"), lm,
          lit("</lastmod></url></urlset>"))
        val declared = g.crossJoin(mx).filter(col("k") % 5 =!= 0)
          .select(col("canon_url"),
            explode(graft.sources.Sitemaps.extract_sitemap(xml)).as("e"))
          .select(col("canon_url"), col("e.lastmod").as("lastmod"))
        lastmodDue(g.select("canon_url", "last_ts_s"), declared)
    },

    Q("q198_due_queue",
      "The composed due WORK LIST — both freshness channels consumed " +
        "together: a page enters the queue when its q196 interval " +
        "(observed change rate) has elapsed at the as-of instant OR " +
        "its q197 declared <lastmod> is newer than our last capture, " +
        "with channel provenance (interval / lastmod / both) so an " +
        "operator reads WHY each fetch is scheduled. This is the " +
        "table a recrawler drains; conditional-GET columns ride from " +
        "the validator table at fetch time. Two near-unique-key " +
        "aggregations + one union + one group-by; all exact-integer.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """v AS (SELECT canon_url, doc_id % 250 AS k,
          |        (doc_id // 250) % (1 + (doc_id % 250) % 4) AS fp,
          |        1700000000 + (doc_id // 250) * 3600 AS ts_s
          |      FROM canon WHERE canon_url IS NOT NULL),
          |g AS (SELECT canon_url, CAST(min(k) AS BIGINT) AS k,
          |        CAST(count(DISTINCT fp) AS BIGINT) AS n_versions,
          |        CAST(max(ts_s) AS BIGINT) AS last_ts_s
          |      FROM v GROUP BY 1),
          |a AS (SELECT CAST(max(ts_s) AS BIGINT) AS max_ts FROM v),
          |iv AS (SELECT canon_url FROM g CROSS JOIN a
          |       WHERE last_ts_s + greatest(
          |           CAST(7200 AS BIGINT)
          |             // (1 + greatest(n_versions - 1, 0)),
          |           CAST(1 AS BIGINT)) <= a.max_ts + 3600),
          |d AS (SELECT canon_url,
          |        CAST(DATE '1970-01-01' + CAST(
          |          (a.max_ts + (g.k % 7 - 3) * 86400) // 86400 AS INT)
          |          AS VARCHAR) AS lastmod
          |      FROM g CROSS JOIN a WHERE g.k % 5 <> 0),
          |lm AS (SELECT g.canon_url FROM g JOIN d USING (canon_url)
          |       WHERE date_diff('day', DATE '1970-01-01',
          |           TRY_CAST(substring(d.lastmod, 1, 10) AS DATE))
          |           > g.last_ts_s // 86400),
          |u AS (SELECT canon_url, 1 AS iv, 0 AS lm FROM iv
          |      UNION ALL SELECT canon_url, 0, 1 FROM lm),
          |q AS (SELECT canon_url, max(iv) AS iv, max(lm) AS lm
          |      FROM u GROUP BY 1)
          |SELECT canon_url,
          |  CASE WHEN iv = 1 AND lm = 1 THEN 'both'
          |       WHEN iv = 1 THEN 'interval' ELSE 'lastmod' END
          |    AS channel
          |FROM q""".stripMargin) { (s, d) =>
      val caps = plantedCanon(s, d).filter(col("canon_url").isNotNull)
        .select(col("canon_url"), (col("doc_id") % 250).as("k"),
          expr("(doc_id div 250) % (1 + (doc_id % 250) % 4)").as("fp"),
          expr("1700000000 + (doc_id div 250) * 3600").as("ts_s"))
      val g = caps.groupBy("canon_url")
        .agg(min("k").as("k"), max("ts_s").cast("long").as("last_ts_s"))
      val mx = broadcast(caps.agg(max("ts_s").cast("long").as("max_ts")))
      val asof = broadcast(
        caps.agg((max("ts_s").cast("long") + 3600L).as("asof_s")))
      val iv = refetchDue(caps.select("canon_url", "fp", "ts_s"),
          dueBaseS = 7200L)
        .crossJoin(asof).filter(col("due_ts_s") <= col("asof_s"))
        .select("canon_url")
      val lmDate = date_add(to_date(lit("1970-01-01")),
        expr("cast((max_ts + (k % 7 - 3) * 86400) div 86400 as int)"))
        .cast("string")
      val xml = concat(lit("<urlset><url><loc>"), col("canon_url"),
        lit("</loc><lastmod>"), lmDate,
        lit("</lastmod></url></urlset>"))
      val declared = g.crossJoin(mx).filter(col("k") % 5 =!= 0)
        .select(col("canon_url"),
          explode(graft.sources.Sitemaps.extract_sitemap(xml)).as("e"))
        .select(col("canon_url"), col("e.lastmod").as("lastmod"))
      val lm = lastmodDue(g.select("canon_url", "last_ts_s"), declared)
        .filter(col("due_now") === 1L).select("canon_url")
      iv.select(col("canon_url"), lit(1).as("iv"), lit(0).as("lm"))
        .unionByName(
          lm.select(col("canon_url"), lit(0).as("iv"), lit(1).as("lm")))
        .groupBy("canon_url")
        .agg(max("iv").as("iv"), max("lm").as("lm"))
        .select(col("canon_url"),
          when(col("iv") === 1 && col("lm") === 1, "both")
            .when(col("iv") === 1, "interval")
            .otherwise("lastmod").as("channel"))
    },

    Q("q199_status_demotion",
      "Status-aware recrawl pricing with dead-page demotion " +
        "(recrawlStatusQueue — the batch twin of refetchStream's " +
        "round-20 error semantics): an ERROR capture (status >= 400) " +
        "never fingerprints — its body is not content, so a page " +
        "that starts serving rotating 404 pages cannot register " +
        "transitions and climb its own queue — ENTERING error from a " +
        "fingerprinted history counts exactly one change (a " +
        "200→404→200 flap prices once, not twice), and a page whose " +
        "trailing TWO captures are errors LEAVES the queue entirely " +
        "(the page a recrawler exists to NOT revisit; any later 2xx " +
        "resets the streak and re-enters it with learned history). " +
        "Planted: the q196 capture ladder with per-(page, round) " +
        "statuses — k%7=0 is dead on arrival (every capture 404, so " +
        "the demotion filter provably bites even at the two-capture " +
        "sf0.01 histories), k%7=1 flaps 200/404, k%7=2 dies 410 " +
        "after round 0, k%7=3 dies 404 after round 0, the rest stay " +
        "200 with the q185 version churn — and every error body is " +
        "a UNIQUE fingerprint, the exact bait naive fingerprint " +
        "counting takes. Changes are true TRANSITIONS via per-page " +
        "event-order windows (the partition key is the near-unique " +
        "page — history-sized groups, one canon_url shuffle at any " +
        "corpus scale).",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """v AS (SELECT canon_url, doc_id, doc_id % 250 AS k,
          |        doc_id // 250 AS r,
          |        1700000000 + (doc_id // 250) * 3600 AS ts_s
          |      FROM canon WHERE canon_url IS NOT NULL),
          |s AS (SELECT canon_url, doc_id, ts_s,
          |        CASE WHEN k % 7 = 0 THEN 404
          |             WHEN k % 7 = 1 AND r % 2 = 1 THEN 404
          |             WHEN k % 7 = 2 AND r > 0 THEN 410
          |             WHEN k % 7 = 3 AND r > 0 THEN 404
          |             ELSE 200 END AS http_status,
          |        CASE WHEN k % 7 = 0
          |               OR (k % 7 = 1 AND r % 2 = 1)
          |               OR (k % 7 = 2 AND r > 0)
          |               OR (k % 7 = 3 AND r > 0)
          |             THEN 990000 + r
          |             ELSE r % (1 + k % 4) END AS fp
          |      FROM v),
          |nn AS (SELECT *, CASE WHEN http_status < 300 THEN 0 ELSE 2
          |         END AS cls FROM s),
          |w AS (SELECT canon_url, cls, fp,
          |        lag(cls) OVER win AS prev_cls,
          |        last_value(CASE WHEN cls = 0 THEN fp END IGNORE NULLS)
          |          OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
          |                AND 1 PRECEDING) AS prev_ok_fp,
          |        max(CASE WHEN cls = 0 THEN 1 ELSE 0 END)
          |          OVER (win ROWS BETWEEN CURRENT ROW
          |                AND UNBOUNDED FOLLOWING) AS ok_after
          |      FROM nn
          |      WINDOW win AS (PARTITION BY canon_url
          |                     ORDER BY ts_s, doc_id)),
          |g AS (SELECT canon_url,
          |        CAST(sum(CASE
          |          WHEN cls = 0 AND prev_ok_fp IS NOT NULL
          |               AND fp <> prev_ok_fp THEN 1
          |          WHEN cls = 2 AND prev_cls = 0 THEN 1
          |          ELSE 0 END) AS BIGINT) AS n_changes,
          |        CAST(sum(CASE WHEN cls = 2 AND ok_after = 0
          |          THEN 1 ELSE 0 END) AS BIGINT) AS err_streak
          |      FROM w GROUP BY 1),
          |c AS (SELECT canon_url, CAST(count(*) AS BIGINT)
          |          AS n_captures,
          |        CAST(max(ts_s) AS BIGINT) AS last_ts_s
          |      FROM s GROUP BY 1),
          |q AS (SELECT c.canon_url, c.n_captures, g.n_changes,
          |        g.err_streak, c.last_ts_s,
          |        greatest(CAST(86400 AS BIGINT) // (1 + g.n_changes),
          |                 CAST(1 AS BIGINT)) AS interval_s
          |      FROM c JOIN g USING (canon_url))
          |SELECT canon_url, n_captures, n_changes, err_streak,
          |  last_ts_s, interval_s, last_ts_s + interval_s AS due_ts_s
          |FROM q WHERE err_streak < 2""".stripMargin) { (s, d) =>
      val k = col("doc_id") % 250
      val r = expr("doc_id div 250")
      val isErrRow = (k % 7 === 0) ||
        (k % 7 === 1 && r % 2 === 1) || (k % 7 === 2 && r > 0) ||
        (k % 7 === 3 && r > 0)
      val caps = plantedCanon(s, d).filter(col("canon_url").isNotNull)
        .select(col("canon_url"),
          when(isErrRow, lit(990000L) + r)
            .otherwise(expr("(doc_id div 250) % (1 + (doc_id % 250) % 4)"))
            .as("fp"),
          expr("1700000000 + (doc_id div 250) * 3600").as("ts_s"),
          when(k % 7 === 0, 404)
            .when(k % 7 === 1 && r % 2 === 1, 404)
            .when(k % 7 === 2 && r > 0, 410)
            .when(k % 7 === 3 && r > 0, 404)
            .otherwise(200).as("http_status"),
          lit(false).as("revisit"), col("doc_id"))
      recrawlStatusQueue(caps, dueBaseS = 86400L, errDemote = 2)
    },

    Q("q200_declared_interval",
      "RFC 9111 declared freshness as the THIRD recrawl channel: a " +
        "valid Cache-Control max-age (or Expires) is the host's OWN " +
        "published revisit interval, and it CAPS the learned " +
        "Cho/Garcia-Molina one — interval = max(least(observed, " +
        "declared), 1), with interval_src = 'cache_control' when the " +
        "declaration was the binding term. The headers are planted " +
        "VERBATIM and interpreted through the real parser column " +
        "(Crawl.max_age_s): no-store -> 0 (revalidate now), " +
        "max-age=N -> N, garbage directives ignored, an Expires " +
        "IMF-fixdate -> seconds from capture to expiry, undeclared " +
        "-> null (the observed rate alone prices the page). Planted " +
        "per page: k%5=0 max-age=3600+k (always binds), k%5=1 " +
        "no-store, k%5=2 garbage max-age (falls through to " +
        "undeclared), k%5=3 Expires 12h past each capture (binds " +
        "only for never-changing pages), k%5=4 silent. One " +
        "near-unique-key window for the newest declaration + the " +
        "q199 pricing shuffle.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """v AS (SELECT canon_url, doc_id, doc_id % 250 AS k,
          |        doc_id // 250 AS r,
          |        1700000000 + (doc_id // 250) * 3600 AS ts_s
          |      FROM canon WHERE canon_url IS NOT NULL),
          |h AS (SELECT canon_url, doc_id, ts_s,
          |        (doc_id // 250) % (1 + (doc_id % 250) % 4) AS fp,
          |        CASE WHEN k % 5 = 0
          |               THEN 'public, max-age=' ||
          |                    CAST(3600 + k AS VARCHAR)
          |             WHEN k % 5 = 1 THEN 'no-store'
          |             WHEN k % 5 = 2 THEN 'max-age=oops, private'
          |             END AS cc,
          |        CASE WHEN k % 5 = 3
          |               THEN 'Thu, ' || strftime(make_timestamp(
          |                 CAST((ts_s + 43200) AS BIGINT) * 1000000),
          |                 '%d %b %Y %H:%M:%S') || ' GMT'
          |             END AS exp
          |      FROM v),
          |m AS (SELECT *,
          |        CASE WHEN regexp_matches(coalesce(cc, ''),
          |               '(?i)(^|[,\s])no-(cache|store)($|[,\s=])')
          |             THEN CAST(0 AS BIGINT)
          |             WHEN regexp_extract(coalesce(cc, ''),
          |               '(?i)(^|[,\s])max-age=([0-9]{1,15})($|[,\s])',
          |               2) <> ''
          |             THEN CAST(regexp_extract(coalesce(cc, ''),
          |               '(?i)(^|[,\s])max-age=([0-9]{1,15})($|[,\s])',
          |               2) AS BIGINT)
          |             WHEN try_strptime(regexp_replace(
          |                 coalesce(exp, ''), '^[A-Za-z]+, ', ''),
          |                 '%d %b %Y %H:%M:%S GMT') IS NOT NULL
          |             THEN greatest(CAST(epoch(try_strptime(
          |                 regexp_replace(exp, '^[A-Za-z]+, ', ''),
          |                 '%d %b %Y %H:%M:%S GMT')) AS BIGINT) - ts_s,
          |               CAST(0 AS BIGINT))
          |             END AS ma
          |      FROM h),
          |w AS (SELECT canon_url, fp,
          |        last_value(fp) OVER (win ROWS BETWEEN UNBOUNDED
          |          PRECEDING AND 1 PRECEDING) AS prev_fp
          |      FROM m
          |      WINDOW win AS (PARTITION BY canon_url
          |                     ORDER BY ts_s, doc_id)),
          |g AS (SELECT canon_url,
          |        CAST(sum(CASE WHEN prev_fp IS NOT NULL
          |          AND fp <> prev_fp THEN 1 ELSE 0 END) AS BIGINT)
          |          AS n_changes
          |      FROM w GROUP BY 1),
          |c AS (SELECT canon_url,
          |        CAST(count(*) AS BIGINT) AS n_captures,
          |        CAST(max(ts_s) AS BIGINT) AS last_ts_s,
          |        max(ma) AS max_age_s
          |      FROM m GROUP BY 1),
          |q AS (SELECT c.canon_url, c.n_captures, g.n_changes,
          |        CAST(0 AS BIGINT) AS err_streak, c.last_ts_s,
          |        c.max_age_s,
          |        greatest(CAST(86400 AS BIGINT) // (1 + g.n_changes),
          |                 CAST(1 AS BIGINT)) AS cho
          |      FROM c JOIN g USING (canon_url))
          |SELECT canon_url, n_captures, n_changes, err_streak,
          |  last_ts_s, max_age_s,
          |  greatest(least(cho, coalesce(max_age_s, cho)),
          |           CAST(1 AS BIGINT)) AS interval_s,
          |  CASE WHEN max_age_s IS NOT NULL AND max_age_s < cho
          |       THEN 'cache_control' ELSE 'interval' END
          |    AS interval_src,
          |  last_ts_s + greatest(least(cho, coalesce(max_age_s, cho)),
          |                       CAST(1 AS BIGINT)) AS due_ts_s
          |FROM q""".stripMargin) { (s, d) =>
      val k = col("doc_id") % 250
      val tsS = expr("1700000000 + (doc_id div 250) * 3600")
      val cc = when(k % 5 === 0,
          concat(lit("public, max-age="), (lit(3600L) + k).cast("string")))
        .when(k % 5 === 1, lit("no-store"))
        .when(k % 5 === 2, lit("max-age=oops, private"))
        .otherwise(lit(null).cast("string"))
      val ex = when(k % 5 === 3,
          concat(lit("Thu, "),
            date_format(timestamp_seconds(tsS + 43200L),
                        "dd MMM yyyy HH:mm:ss"),
            lit(" GMT")))
        .otherwise(lit(null).cast("string"))
      val caps = plantedCanon(s, d).filter(col("canon_url").isNotNull)
        .select(col("canon_url"),
          expr("(doc_id div 250) % (1 + (doc_id % 250) % 4)").as("fp"),
          tsS.as("ts_s"), lit(200).as("http_status"),
          lit(false).as("revisit"), col("doc_id"),
          graft.sources.Crawl.max_age_s(cc, ex,
            timestamp_seconds(tsS)).as("max_age_s"))
      recrawlStatusQueue(caps, dueBaseS = 86400L, errDemote = 2,
        declared = Some(declaredLifetime(caps)))
    },

    Q("q201_alias_channels",
      "Unified alias resolution across BOTH declaration channels " +
        "(resolveAliasEdges over Crawl.aliasEdges): transport 3xx " +
        "chains and document <link rel=canonical> declarations " +
        "resolve through one fixed-depth hop loop, with the " +
        "documented CONFLICT POLICY — a redirect beats a canonical " +
        "(the transport actually sent the client elsewhere; the " +
        "document merely suggested an identity), then max target " +
        "within a channel. Planted on the q181 ring: m%4=0 pages " +
        "redirect to their successor AND declare a CONFLICTING " +
        "canonical (the redirect must win), m%4=1 declare canonical " +
        "only, m%4=3 redirect and declare AGREEING targets, m%4=2 " +
        "redirect only — so cross-channel chains compose (a 301 into " +
        "a canonical-declaring page follows both hops). One " +
        "aggregation + 3 near-unique-key joins.",
      """WITH k0 AS (SELECT DISTINCT doc_id % 250 AS m FROM documents),
        |u AS (SELECT m, 'http://h' || CAST(m % 31 AS VARCHAR)
        |        || '.com/p' || CAST(m AS VARCHAR) AS url FROM k0),
        |ed AS (SELECT e0.url AS src_url, u2.url AS dst_url, 1 AS pri
        |       FROM u e0 JOIN u u2 ON u2.m = (e0.m + 1) % 250
        |       WHERE e0.m % 4 IN (0, 2, 3)
        |       UNION ALL
        |       SELECT url, 'http://c' || CAST(m AS VARCHAR)
        |         || '.example/x', 0 FROM u WHERE m % 4 = 0
        |       UNION ALL
        |       SELECT e0.url, u2.url, 0
        |       FROM u e0 JOIN u u2 ON u2.m = (e0.m + 1) % 250
        |       WHERE e0.m % 4 IN (1, 3)),
        |eds AS (SELECT src_url, dst_url FROM (
        |         SELECT src_url, dst_url, row_number() OVER (
        |           PARTITION BY src_url
        |           ORDER BY pri DESC, dst_url DESC) AS rn
        |         FROM ed WHERE src_url <> dst_url) WHERE rn = 1),
        |r1 AS (SELECT u.url, COALESCE(e.dst_url, u.url) AS cur,
        |         CASE WHEN e.dst_url IS NULL THEN 0 ELSE 1 END AS hops
        |       FROM u LEFT JOIN eds e ON e.src_url = u.url),
        |r2 AS (SELECT r1.url, COALESCE(e.dst_url, r1.cur) AS cur,
        |         r1.hops + CASE WHEN e.dst_url IS NULL THEN 0 ELSE 1 END
        |           AS hops
        |       FROM r1 LEFT JOIN eds e ON e.src_url = r1.cur),
        |r3 AS (SELECT r2.url, COALESCE(e.dst_url, r2.cur) AS cur,
        |         r2.hops + CASE WHEN e.dst_url IS NULL THEN 0 ELSE 1 END
        |           AS hops
        |       FROM r2 LEFT JOIN eds e ON e.src_url = r2.cur)
        |SELECT url, cur AS final_url, CAST(hops AS BIGINT) AS n_hops
        |FROM r3""".stripMargin) { (s, d) =>
      val m = col("m")
      val u = docs(s, d).select((col("doc_id") % 250).as("m")).distinct()
        .select(m, concat(lit("http://h"), (m % 31).cast("string"),
                          lit(".com/p"), m.cast("string")).as("url"))
      val succ = u.select(col("m").as("m2"), col("url").as("dst_url"))
      def toSucc(mods: Seq[Int]): DataFrame =
        u.filter(m % 4 isin (mods.map(x => x: Any): _*))
          .select(((col("m") + 1) % 250).as("mn"),
                  col("url").as("src_url"))
          .join(succ, col("mn") === col("m2"))
          .select("src_url", "dst_url")
      val redirects = toSucc(Seq(0, 2, 3))
        .select(col("src_url"), col("dst_url"),
                lit("redirect").as("via"))
      val conflicts = u.filter(m % 4 === 0)
        .select(col("url").as("src_url"),
          concat(lit("http://c"), m.cast("string"), lit(".example/x"))
            .as("dst_url"),
          lit("canonical").as("via"))
      val agreeing = toSucc(Seq(1, 3))
        .select(col("src_url"), col("dst_url"),
                lit("canonical").as("via"))
      resolveAliasEdges(u.select("url"),
        redirects.unionByName(conflicts).unionByName(agreeing), 3)
    },

    Q("q202_host_backoff",
      "RFC 9110 Retry-After backoff (hostBackoff): a 429/503 carrying " +
        "Retry-After is the host ITSELF asking for a pause — the " +
        "politeness signal a fetcher honors before any learned " +
        "schedule. Per host: how many times it asked and the instant " +
        "its latest request expires (max over capture + requested " +
        "delay). The header is planted VERBATIM in both spec forms — " +
        "delay-seconds and IMF-fixdate — plus a garbage spelling " +
        "(ignored, never zero) and silence, and interpreted through " +
        "the real parser column (Crawl.retry_after_s). One host-keyed " +
        "aggregation; backoffCaps renders the active windows as cap-0 " +
        "rows for the frontier's rank-cap slot.",
      s"WITH $retryAfterSqlCtes\n" +
        """SELECT host, CAST(count(*) AS BIGINT) AS n_backoffs,
        |  CAST(max(ts_s + ra_s) AS BIGINT) AS backoff_until_s
        |FROM m WHERE http_status IN (429, 503) AND ra_s IS NOT NULL
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val hc = col("doc_id") % 40
      val tsS = expr("1700000000 + doc_id")
      val ra = when(hc % 4 === 0, (lit(60L) + hc).cast("string"))
        .when(hc % 4 === 1,
          concat(lit("Thu, "),
            date_format(timestamp_seconds(tsS + 600L),
                        "dd MMM yyyy HH:mm:ss"), lit(" GMT")))
        .when(hc % 4 === 2, lit("soon"))
        .otherwise(lit(null).cast("string"))
      hostBackoff(docs(s, d).select(
        concat(lit("h"), hc.cast("string"), lit(".com")).as("host"),
        when(col("doc_id") % 3 === 0, 503).otherwise(200)
          .as("http_status"),
        tsS.as("ts_s"),
        graft.sources.Crawl.retry_after_s(ra, timestamp_seconds(tsS))
          .as("retry_after_s")))
    },

    Q("q203_host_health",
      "Host-level health verdicts (hostHealth) — the circuit breaker " +
        "ABOVE q199's page demotion: a host answering mostly errors " +
        "burns fetch budget host-wide whatever each page's streak " +
        "looks like. Per host: captures, errors (status >= 400), " +
        "error share (round 4dp, the q185 spelling), and verdict — " +
        "dead at share >= 0.9, degraded at >= 0.5, ok otherwise and " +
        "ALWAYS ok under 5 observations (fail open: you don't demote " +
        "a host you barely know). Planted: 40 hosts whose per-round " +
        "error indicator (round % 10 < host % 11) sweeps shares from " +
        "0.0 to 1.0 across both thresholds. One host-keyed " +
        "aggregation; healthCaps renders dead hosts as probes and " +
        "degraded ones at half cap for the frontier's rank-cap slot.",
      """WITH v AS (SELECT doc_id,
        |        'h' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host,
        |        CASE WHEN (doc_id // 40) % 10 < (doc_id % 40) % 11
        |             THEN 404 ELSE 200 END AS http_status
        |      FROM documents),
        |g AS (SELECT host, CAST(count(*) AS BIGINT) AS n_captures,
        |        CAST(count(*) FILTER (WHERE http_status >= 400)
        |          AS BIGINT) AS n_err
        |      FROM v GROUP BY 1),
        |g2 AS (SELECT *, round(CAST(n_err AS DOUBLE) / n_captures, 4)
        |          AS err_share FROM g)
        |SELECT host, n_captures, n_err, err_share,
        |  CASE WHEN n_captures < 5 THEN 'ok'
        |       WHEN err_share >= 0.9 THEN 'dead'
        |       WHEN err_share >= 0.5 THEN 'degraded'
        |       ELSE 'ok' END AS verdict
        |FROM g2""".stripMargin) { (s, d) =>
      hostHealth(docs(s, d).select(
        concat(lit("h"), (col("doc_id") % 40).cast("string"),
               lit(".com")).as("host"),
        when(expr("(doc_id div 40) % 10") < (col("doc_id") % 40) % 11,
             404).otherwise(200).as("http_status")))
    },

    Q("q204_soft404",
      "Soft-404 detection (Crawl.soft404 — Bar-Yossef et al., " +
        "WWW'04): a 200 whose BODY is an error page is the transport " +
        "lying, and the lie poisons everything downstream — the " +
        "error body fingerprints as content (the page reads as " +
        "CHANGED, defeating q199's status gate), enters dedup, and " +
        "pollutes the corpus. Deterministic heuristic: an error " +
        "phrase in the first 4 KiB AND a short body (< 2048 chars — " +
        "long real articles that merely MENTION a phrase stay " +
        "clear); genuine error statuses return false (already priced " +
        "honestly). Planted over the REAL documents text: every 7th " +
        "doc becomes a short error body (flagged), every 7th+1 " +
        "appends the phrase to its full text (long -> clear), every " +
        "7th+2 keeps the phrase under a genuine 404 (clear — not a " +
        "LIE), the rest ride verbatim (real text that happens to " +
        "match is decided identically by both engines). Pure codegen " +
        "projection — no shuffle at any corpus size.",
      """WITH v AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0
        |             THEN '<html>Page Not Found - the requested URL '
        |               || 'does not exist on this server</html>'
        |             WHEN doc_id % 7 = 1
        |             THEN text || ' ... page not found ...'
        |             WHEN doc_id % 7 = 2
        |             THEN '<html>page not found</html>'
        |             ELSE text END AS body,
        |        CASE WHEN doc_id % 7 = 2 THEN 404 ELSE 200 END
        |          AS http_status
        |      FROM documents)
        |SELECT doc_id,
        |  CAST((http_status BETWEEN 200 AND 299) AND regexp_matches(
        |    lower(substring(body, 1, 4096)),
        |    '(page|file|document)\s+not\s+found|error\s*404|' ||
        |    'no\s+longer\s+(available|exists)|' ||
        |    '(does\s+not|doesn.t)\s+exist|' ||
        |    'has\s+been\s+(removed|deleted)')
        |    AND length(body) < 2048 AS BIGINT) AS is_soft404
        |FROM v""".stripMargin) { (s, d) =>
      val body = when(col("doc_id") % 7 === 0,
          lit("<html>Page Not Found - the requested URL " +
            "does not exist on this server</html>"))
        .when(col("doc_id") % 7 === 1,
          concat(col("text"), lit(" ... page not found ...")))
        .when(col("doc_id") % 7 === 2, lit("<html>page not found</html>"))
        .otherwise(col("text"))
      val status = when(col("doc_id") % 7 === 2, 404).otherwise(200)
      docs(s, d).select(col("doc_id"),
        graft.sources.Crawl.soft404(body, status).cast("long")
          .as("is_soft404"))
    },

    Q("q205_fetch_plan",
      "The composed revalidation PLAN (fetchPlan) — the table a " +
        "recrawler actually drains: the due queue says WHEN (here " +
        "q196's interval channel at a one-hour-past as-of; the real " +
        "path passes the q198 composed queue with channel provenance " +
        "riding through), the validator table says HOW — each due " +
        "page leaves with its If-Modified-Since / If-None-Match " +
        "request headers from the NEWEST validator-bearing capture " +
        "(the revisitValidators recency window, run REAL on the " +
        "Spark side) and a conditional flag: 1 = the fetch can cost " +
        "a 304, 0 = no validator was ever served, unconditional. " +
        "Planted: the q196 capture ladder with validators keyed " +
        "doc%3 (Last-Modified) / doc%5 (ETag). Two near-unique-key " +
        "shuffles + one left join.",
      s"WITH $plantSqlCtes,\n${Urls.canonSqlCtes("plant")},\n" +
        """v AS (SELECT canon_url, doc_id,
          |        (doc_id // 250) % (1 + (doc_id % 250) % 4) AS fp,
          |        1700000000 + (doc_id // 250) * 3600 AS ts_s,
          |        CASE WHEN doc_id % 3 = 0
          |             THEN 'lm-' || CAST(doc_id AS VARCHAR) END AS lm,
          |        CASE WHEN doc_id % 5 = 0
          |             THEN 'et-' || CAST(doc_id AS VARCHAR) END AS et
          |      FROM canon WHERE canon_url IS NOT NULL),
          |g AS (SELECT canon_url,
          |        CAST(count(DISTINCT fp) AS BIGINT) AS n_versions,
          |        CAST(max(ts_s) AS BIGINT) AS last_ts_s
          |      FROM v GROUP BY 1),
          |a AS (SELECT CAST(max(ts_s) AS BIGINT) + 3600 AS asof_s
          |      FROM v),
          |due AS (SELECT canon_url,
          |          last_ts_s + greatest(CAST(7200 AS BIGINT)
          |            // (1 + greatest(n_versions - 1, 0)),
          |            CAST(1 AS BIGINT)) AS due_ts_s
          |        FROM g CROSS JOIN a
          |        WHERE last_ts_s + greatest(CAST(7200 AS BIGINT)
          |            // (1 + greatest(n_versions - 1, 0)),
          |            CAST(1 AS BIGINT)) <= a.asof_s),
          |w AS (SELECT canon_url, lm, et, row_number() OVER (
          |          PARTITION BY canon_url
          |          ORDER BY ts_s DESC, doc_id DESC) AS rn
          |      FROM v WHERE lm IS NOT NULL OR et IS NOT NULL),
          |vals AS (SELECT canon_url, lm AS if_modified_since,
          |           et AS if_none_match FROM w WHERE rn = 1)
          |SELECT d.canon_url, d.due_ts_s, vals.if_modified_since,
          |  vals.if_none_match,
          |  CAST(vals.if_modified_since IS NOT NULL
          |       OR vals.if_none_match IS NOT NULL AS BIGINT)
          |    AS conditional
          |FROM due d LEFT JOIN vals USING (canon_url)""".stripMargin) {
      (s, d) =>
        val caps = plantedCanon(s, d).filter(col("canon_url").isNotNull)
          .select(col("canon_url"),
            expr("(doc_id div 250) % (1 + (doc_id % 250) % 4)").as("fp"),
            expr("1700000000 + (doc_id div 250) * 3600").as("ts_s"))
        val asof = broadcast(
          caps.agg((max("ts_s").cast("long") + 3600L).as("asof_s")))
        val due = refetchDue(caps, dueBaseS = 7200L)
          .crossJoin(asof).filter(col("due_ts_s") <= col("asof_s"))
          .select("canon_url", "due_ts_s")
        // the validator table built by the REAL operator over the
        // planted parsed shape (corrupt/url/validators/ts/doc_id)
        val parsedV = plantUrls(s, d).select(
          lit(false).as("corrupt"), col("url"),
          when(col("doc_id") % 3 === 0,
            concat(lit("lm-"), col("doc_id").cast("string")))
            .otherwise(lit(null).cast("string")).as("last_modified"),
          when(col("doc_id") % 5 === 0,
            concat(lit("et-"), col("doc_id").cast("string")))
            .otherwise(lit(null).cast("string")).as("etag"),
          timestamp_seconds(expr("1700000000 + (doc_id div 250) * 3600"))
            .as("ts"),
          col("doc_id"))
        fetchPlan(due,
          graft.sources.Crawl.revisitValidators(parsedV)
            .select("canon_url", "last_modified", "etag"))
    },

    Q("q206_drainable_plan",
      "The DRAINABLE plan (drainablePlan): q205's revalidation plan " +
        "sequenced by host politeness — a due page on a host inside " +
        "an open RFC 9110 Retry-After window (q202's hostBackoff, " +
        "the header interpreted through the real parser column) is " +
        "not fetchable at its due instant; fetch_at_s slides to the " +
        "window's expiry and deferred flags the move. Nothing LEAVES " +
        "the plan — the host said 'not yet', not 'never' (robots " +
        "disallow evicts, the nightly manifest's other gate). " +
        "Planted: one due page per document over the q202 hosts, " +
        "due instants fanned across ~28 hours, validators keyed " +
        "doc%3/doc%5 — low-doc_id pages on backoff hosts defer, the " +
        "rest drain on time. Real chain: fetchPlan -> hostBackoff -> " +
        "drainablePlan; one host-keyed left join, shuffle-pinned.",
      s"WITH $retryAfterSqlCtes,\n" +
        """b AS (SELECT host, CAST(max(ts_s + ra_s) AS BIGINT)
          |          AS backoff_until_s
          |       FROM m WHERE http_status IN (429, 503)
          |         AND ra_s IS NOT NULL
          |       GROUP BY 1),
          |p AS (SELECT doc_id,
          |        'h' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host,
          |        'http://h' || CAST(doc_id % 40 AS VARCHAR) ||
          |          '.com/p' || CAST(doc_id AS VARCHAR) AS canon_url,
          |        CAST(1700000000 + (doc_id * 37) % 100000 AS BIGINT)
          |          AS due_ts_s,
          |        CASE WHEN doc_id % 3 = 0
          |             THEN 'lm-' || CAST(doc_id AS VARCHAR) END AS lm,
          |        CASE WHEN doc_id % 5 = 0
          |             THEN 'et-' || CAST(doc_id AS VARCHAR) END AS et
          |      FROM documents)
          |SELECT p.host, p.canon_url, p.due_ts_s,
          |  p.lm AS if_modified_since, p.et AS if_none_match,
          |  CAST(p.lm IS NOT NULL OR p.et IS NOT NULL AS BIGINT)
          |    AS conditional,
          |  greatest(p.due_ts_s, coalesce(b.backoff_until_s,
          |    p.due_ts_s)) AS fetch_at_s,
          |  CAST(greatest(p.due_ts_s, coalesce(b.backoff_until_s,
          |    p.due_ts_s)) > p.due_ts_s AS BIGINT) AS deferred
          |FROM p LEFT JOIN b USING (host)""".stripMargin) { (s, d) =>
      val due = docs(s, d).select(
        concat(lit("http://h"), (col("doc_id") % 40).cast("string"),
          lit(".com/p"), col("doc_id").cast("string")).as("canon_url"),
        expr("cast(1700000000 + (doc_id * 37) % 100000 as bigint)")
          .as("due_ts_s"))
      val vals = docs(s, d).select(
        concat(lit("http://h"), (col("doc_id") % 40).cast("string"),
          lit(".com/p"), col("doc_id").cast("string")).as("canon_url"),
        when(col("doc_id") % 3 === 0,
          concat(lit("lm-"), col("doc_id").cast("string")))
          .otherwise(lit(null).cast("string")).as("last_modified"),
        when(col("doc_id") % 5 === 0,
          concat(lit("et-"), col("doc_id").cast("string")))
          .otherwise(lit(null).cast("string")).as("etag"))
        .filter(col("last_modified").isNotNull || col("etag").isNotNull)
      val hc = col("doc_id") % 40
      val tsS = expr("1700000000 + doc_id")
      val ra = when(hc % 4 === 0, (lit(60L) + hc).cast("string"))
        .when(hc % 4 === 1,
          concat(lit("Thu, "),
            date_format(timestamp_seconds(tsS + 600L),
                        "dd MMM yyyy HH:mm:ss"), lit(" GMT")))
        .when(hc % 4 === 2, lit("soon"))
        .otherwise(lit(null).cast("string"))
      val backoff = hostBackoff(docs(s, d).select(
        concat(lit("h"), hc.cast("string"), lit(".com")).as("host"),
        when(col("doc_id") % 3 === 0, 503).otherwise(200)
          .as("http_status"),
        tsS.as("ts_s"),
        graft.sources.Crawl.retry_after_s(ra, timestamp_seconds(tsS))
          .as("retry_after_s")))
      drainablePlan(fetchPlan(due, vals), backoff)
    },

    Q("q207_paced_plan",
      "Per-host politeness pacing (pacedPlan): a host that declares " +
        "a fetch interval (robots Crawl-delay / Request-rate) must " +
        "see its due pages SPACED by it, not burst at their due " +
        "instants — first page at its due time, each next no sooner " +
        "than the previous fetch plus the delay. The serial " +
        "recurrence f(i)=max(due_i, f(i-1)+d) runs as its exact " +
        "closed form f(i)=i*d+max_over_j<=i(due_j - j*d): row_number " +
        "then a running max, two window passes sharing ONE exchange " +
        "+ sort on host, no driver loop, exact BIGINT. Planted: one " +
        "due page per document over 40 hosts, due instants fanned " +
        "across a 10-minute burst window, every third host declaring " +
        "a 30+hc second delay — pacing provably bites there and " +
        "fetch_at_s==due_ts_s everywhere else.",
      """WITH p AS (SELECT doc_id,
        |        'h' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host,
        |        'http://h' || CAST(doc_id % 40 AS VARCHAR) ||
        |          '.com/p' || CAST(doc_id AS VARCHAR) AS canon_url,
        |        CAST(1700000000 + (doc_id * 53) % 600 AS BIGINT)
        |          AS due_ts_s
        |      FROM documents),
        |dl AS (SELECT DISTINCT doc_id % 40 AS hc FROM documents),
        |d2 AS (SELECT 'h' || CAST(hc AS VARCHAR) || '.com' AS host,
        |         CAST(30 + hc AS BIGINT) AS delay_s
        |       FROM dl WHERE hc % 3 = 0),
        |j AS (SELECT p.*, coalesce(d2.delay_s, 0) AS d
        |      FROM p LEFT JOIN d2 USING (host)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY host
        |          ORDER BY due_ts_s, canon_url) AS BIGINT) AS rn
        |      FROM j),
        |x AS (SELECT *, max(due_ts_s - rn * d) OVER (
        |          PARTITION BY host ORDER BY due_ts_s, canon_url
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        + rn * d AS fetch_at_s
        |      FROM r)
        |SELECT host, canon_url, due_ts_s, fetch_at_s,
        |  CAST(fetch_at_s > due_ts_s AS BIGINT) AS paced
        |FROM x""".stripMargin) { (s, d) =>
      val hostC = concat(lit("h"), (col("doc_id") % 40).cast("string"),
                         lit(".com"))
      val plan = docs(s, d).select(hostC.as("host"),
        concat(lit("http://"), hostC, lit("/p"),
          col("doc_id").cast("string")).as("canon_url"),
        expr("cast(1700000000 + (doc_id * 53) % 600 as bigint)")
          .as("due_ts_s"))
      val delays = docs(s, d).select((col("doc_id") % 40).as("hc"))
        .distinct().filter(col("hc") % 3 === 0)
        .select(concat(lit("h"), col("hc").cast("string"),
            lit(".com")).as("host"),
          (lit(30L) + col("hc")).cast("long").as("delay_s"))
      pacedPlan(plan, delays)
    },

    Q("q208_dispatch_plan",
      "The DISPATCH plan (dispatchPlan): the full politeness algebra " +
        "in one table — 'fetch this URL at this instant with these " +
        "headers', respecting the due verdict, the host's Retry-After " +
        "pause (q206's deferral -> ready_ts_s), and its declared " +
        "crawl-delay (q207's closed-form pacing from the READY " +
        "instants) simultaneously. The composition's teeth: an open " +
        "window compresses every deferred page of a host onto the " +
        "same expiry instant, and pacing fans that burst back out at " +
        "the declared interval instead of hammering the host the " +
        "second it reopens. Planted: one due page per document over " +
        "the q202 hosts, dues fanned across a 10-minute burst that " +
        "backoff windows overlap, validators doc%3/doc%5, every " +
        "third host declaring a 30+hc delay — all four quadrants " +
        "(deferred/paced) are populated. One host-keyed join each " +
        "for backoff and delays; one exchange + sort for both " +
        "windows.",
      s"WITH $retryAfterSqlCtes,\n" +
        """b AS (SELECT host, CAST(max(ts_s + ra_s) AS BIGINT)
          |          AS backoff_until_s
          |       FROM m WHERE http_status IN (429, 503)
          |         AND ra_s IS NOT NULL
          |       GROUP BY 1),
          |p AS (SELECT doc_id,
          |        'h' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host,
          |        'http://h' || CAST(doc_id % 40 AS VARCHAR) ||
          |          '.com/p' || CAST(doc_id AS VARCHAR) AS canon_url,
          |        CAST(1700000000 + (doc_id * 37) % 600 AS BIGINT)
          |          AS due_ts_s,
          |        CASE WHEN doc_id % 3 = 0
          |             THEN 'lm-' || CAST(doc_id AS VARCHAR) END AS lm,
          |        CASE WHEN doc_id % 5 = 0
          |             THEN 'et-' || CAST(doc_id AS VARCHAR) END AS et
          |      FROM documents),
          |rdy AS (SELECT p.*,
          |          greatest(p.due_ts_s, coalesce(b.backoff_until_s,
          |            p.due_ts_s)) AS ready_ts_s,
          |          CAST(greatest(p.due_ts_s, coalesce(
          |            b.backoff_until_s, p.due_ts_s)) > p.due_ts_s
          |            AS BIGINT) AS deferred
          |        FROM p LEFT JOIN b USING (host)),
          |dl AS (SELECT DISTINCT doc_id % 40 AS hc FROM documents),
          |d2 AS (SELECT 'h' || CAST(hc AS VARCHAR) || '.com' AS host,
          |         CAST(30 + hc AS BIGINT) AS delay_s
          |       FROM dl WHERE hc % 3 = 0),
          |j AS (SELECT rdy.*, coalesce(d2.delay_s, 0) AS dd
          |      FROM rdy LEFT JOIN d2 USING (host)),
          |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY host
          |          ORDER BY ready_ts_s, canon_url) AS BIGINT) AS rn
          |      FROM j),
          |x AS (SELECT *, max(ready_ts_s - rn * dd) OVER (
          |          PARTITION BY host ORDER BY ready_ts_s, canon_url
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |        + rn * dd AS fetch_at_s
          |      FROM rr)
          |SELECT host, canon_url, due_ts_s, lm AS if_modified_since,
          |  et AS if_none_match,
          |  CAST(lm IS NOT NULL OR et IS NOT NULL AS BIGINT)
          |    AS conditional,
          |  ready_ts_s, deferred, fetch_at_s,
          |  CAST(fetch_at_s > ready_ts_s AS BIGINT) AS paced
          |FROM x""".stripMargin) { (s, d) =>
      val urlC = concat(lit("http://h"),
        (col("doc_id") % 40).cast("string"), lit(".com/p"),
        col("doc_id").cast("string"))
      val due = docs(s, d).select(urlC.as("canon_url"),
        expr("cast(1700000000 + (doc_id * 37) % 600 as bigint)")
          .as("due_ts_s"))
      val vals = docs(s, d).select(urlC.as("canon_url"),
        when(col("doc_id") % 3 === 0,
          concat(lit("lm-"), col("doc_id").cast("string")))
          .otherwise(lit(null).cast("string")).as("last_modified"),
        when(col("doc_id") % 5 === 0,
          concat(lit("et-"), col("doc_id").cast("string")))
          .otherwise(lit(null).cast("string")).as("etag"))
        .filter(col("last_modified").isNotNull || col("etag").isNotNull)
      val hc = col("doc_id") % 40
      val tsS = expr("1700000000 + doc_id")
      val ra = when(hc % 4 === 0, (lit(60L) + hc).cast("string"))
        .when(hc % 4 === 1,
          concat(lit("Thu, "),
            date_format(timestamp_seconds(tsS + 600L),
                        "dd MMM yyyy HH:mm:ss"), lit(" GMT")))
        .when(hc % 4 === 2, lit("soon"))
        .otherwise(lit(null).cast("string"))
      val backoff = hostBackoff(docs(s, d).select(
        concat(lit("h"), hc.cast("string"), lit(".com")).as("host"),
        when(col("doc_id") % 3 === 0, 503).otherwise(200)
          .as("http_status"),
        tsS.as("ts_s"),
        graft.sources.Crawl.retry_after_s(ra, timestamp_seconds(tsS))
          .as("retry_after_s")))
      val delays = docs(s, d).select((col("doc_id") % 40).as("hc"))
        .distinct().filter(col("hc") % 3 === 0)
        .select(concat(lit("h"), col("hc").cast("string"),
            lit(".com")).as("host"),
          (lit(30L) + col("hc")).cast("long").as("delay_s"))
      dispatchPlan(fetchPlan(due, vals), backoff, delays)
    }
  )

  /** The q202 planted Retry-After capture frame (hosts h0..h39, a
    * 503 every third capture, the header planted VERBATIM in both
    * RFC 9110 forms plus a garbage spelling and silence) with the
    * parsed delay `ra_s` — the DuckDB twin of
    * [[graft.sources.Crawl.retry_after_s]], single-sourced and
    * shared by the q202 oracle and its q206 consumer.
    */
  private val retryAfterSqlCtes: String =
    """v AS (SELECT doc_id,
      |        'h' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host,
      |        CASE WHEN doc_id % 3 = 0 THEN 503 ELSE 200 END
      |          AS http_status,
      |        1700000000 + doc_id AS ts_s, doc_id % 40 AS hc
      |      FROM documents),
      |r AS (SELECT *,
      |        CASE WHEN hc % 4 = 0 THEN CAST(60 + hc AS VARCHAR)
      |             WHEN hc % 4 = 1 THEN 'Thu, ' ||
      |               strftime(make_timestamp(
      |                 CAST((ts_s + 600) AS BIGINT) * 1000000),
      |                 '%d %b %Y %H:%M:%S') || ' GMT'
      |             WHEN hc % 4 = 2 THEN 'soon' END AS ra
      |      FROM v),
      |m AS (SELECT *,
      |        CASE WHEN regexp_extract(coalesce(ra, ''),
      |               '^([0-9]{1,15})$', 1) <> ''
      |             THEN CAST(ra AS BIGINT)
      |             WHEN try_strptime(regexp_replace(coalesce(ra, ''),
      |                 '^[A-Za-z]+, ', ''),
      |                 '%d %b %Y %H:%M:%S GMT') IS NOT NULL
      |             THEN greatest(CAST(epoch(try_strptime(
      |                 regexp_replace(ra, '^[A-Za-z]+, ', ''),
      |                 '%d %b %Y %H:%M:%S GMT')) AS BIGINT) - ts_s,
      |               CAST(0 AS BIGINT))
      |             END AS ra_s
      |      FROM r)""".stripMargin

  /** The q182 planted component chain (k0 distinct classes → ring +
    * chord edges → symmetrized → 4 min-label rounds), shared by the
    * q182 oracle and its q183 consumer.
    */
  private val siteComponentsSqlCtes: String =
    """k0 AS (SELECT DISTINCT doc_id % 250 AS k FROM documents),
      |e0 AS (SELECT 'h' || CAST(k % 24 AS VARCHAR) AS src,
      |         'h' || CAST((k % 24 + 4) % 24 AS VARCHAR) AS dst FROM k0
      |       UNION
      |       SELECT 'h' || CAST(k % 24 AS VARCHAR),
      |         'h' || CAST((k % 24 + 8) % 24 AS VARCHAR) FROM k0
      |       WHERE k % 2 = 0),
      |und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |h AS (SELECT DISTINCT src AS host FROM und),
      |p0 AS (SELECT host, host AS component FROM h),
      |m1 AS (SELECT e.src AS host, min(r.component) AS nmin
      |       FROM und e JOIN p0 r ON r.host = e.dst GROUP BY 1),
      |p1 AS (SELECT p.host,
      |         least(p.component, COALESCE(m.nmin, p.component))
      |           AS component
      |       FROM p0 p LEFT JOIN m1 m ON m.host = p.host),
      |m2 AS (SELECT e.src AS host, min(r.component) AS nmin
      |       FROM und e JOIN p1 r ON r.host = e.dst GROUP BY 1),
      |p2 AS (SELECT p.host,
      |         least(p.component, COALESCE(m.nmin, p.component))
      |           AS component
      |       FROM p1 p LEFT JOIN m2 m ON m.host = p.host),
      |m3 AS (SELECT e.src AS host, min(r.component) AS nmin
      |       FROM und e JOIN p2 r ON r.host = e.dst GROUP BY 1),
      |p3 AS (SELECT p.host,
      |         least(p.component, COALESCE(m.nmin, p.component))
      |           AS component
      |       FROM p2 p LEFT JOIN m3 m ON m.host = p.host),
      |m4 AS (SELECT e.src AS host, min(r.component) AS nmin
      |       FROM und e JOIN p3 r ON r.host = e.dst GROUP BY 1),
      |p4 AS (SELECT p.host,
      |         least(p.component, COALESCE(m.nmin, p.component))
      |           AS component
      |       FROM p3 p LEFT JOIN m4 m ON m.host = p.host)""".stripMargin

  /** The q178/q180 planted URL sets: `crawled` (captured pages) and
    * `disc` (discovered outlinks — one provably-seen link and one
    * mostly-fresh link per page identity).
    */
  private def plantFrontierSets(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val k = (col("doc_id") % 250).as("k")
    val k0 = docs(s, d).select(k).distinct()
    def u(host: Column, p: Column): Column =
      concat(lit("http://host"), host.cast("string"),
             lit(".com/p/"), p.cast("string"))
    val crawled = k0.select(
      u(col("k") % 53, col("k") % 401).as("url")).distinct()
    val disc = k0.select(u(col("k") % 53, col("k") % 401).as("url"))
      .union(k0.select(u((col("k") * 3 + 6) % 53,
                         (col("k") * 11 + 17) % 401).as("url")))
      .distinct()
    (crawled, disc)
  }
}
