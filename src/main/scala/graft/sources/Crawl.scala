package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.LangId

/** Crawl-native document input: a directory of (optionally gzipped)
  * JSONL files — the format crawl dumps actually land in — read into
  * the exact doc frame the ingest paths consume
  * ([[graft.operators.Curation.ingestStream]] /
  * `startCorpusMaintenance`: ts, doc_id, source, text, lang), with the
  * S2 corrupt-record discipline (cpms/Streaming.scala `parseEvents`):
  * lines are read as raw text and parsed with `from_json`, so a
  * malformed line, a non-JSON line, or a record missing its required
  * fields surfaces as a `corrupt = true` row that downstream counts
  * and skips — never an aborted read, never a silently dropped line.
  * Reference analogue: the PERMISSIVE skip-and-count policy of the
  * event consumer (stream_processor.py:42-43), applied to the crawl
  * feed.
  *
  * Batch ([[readCrawl]]) and streaming ([[readCrawlStream]], the file
  * stream source — new files under the directory become micro-batches)
  * forms share ONE parser, so stream==batch equality is structural.
  *
  * Language: a record that DECLARES `lang` keeps it; a record that
  * does not gets the [[graft.functions.LangId]] marker-profile
  * prediction (the q33 core — one shared expression tree, so the
  * analysis query and the at-ingest assignment cannot drift), with
  * `und` only when no profile matches at all. Every per-language
  * operator downstream (q62 stratified sampling, q143/q144 CCNet
  * buckets, per-lang compaction) depends on this being a real value.
  *
  * Scale notes for a real dump:
  *   - `.jsonl.gz` is NOT splittable: parallelism = file count, one
  *     task per file. Crawl dumps ship as many ~100 MB–1 GB members,
  *     which is exactly the right shape; a single multi-TB gz member
  *     would serialize, and should be re-chunked upstream.
  *   - the text source never materializes a line twice: the JSON parse
  *     is a codegen'd projection over the scan, and unparsed `value`
  *     bytes are dropped at the first select unless the caller keeps
  *     them (quarantine pipelines keep `value` on corrupt rows for
  *     repair — [[crawlCorrupt]] does).
  */
// CHECKPOINT COMPATIBILITY NOTE (all state classes below): the shape
// of a flatMapGroupsWithState state class is part of the streaming
// checkpoint format. Changing a class's fields (round 18 added
// ChangeTrackState.hasFp and replaced LiveFrontierState with
// LiveBudgetState; round 19 extends RefetchState and LiveBudgetState;
// round 20 extends ChangeTrackState, RefetchState, and
// LiveBudgetState) makes an EXISTING checkpoint unrestorable — the
// state encoder's schema no longer matches the stored rows and the
// restarted query fails. Restart such streams with a FRESH checkpoint
// (the state re-learns from the re-played/new input); deployments
// that need rolling upgrades should version their own state wrapper.
//
// RESERVED-SLOT POLICY (round 20, ending the break-per-round cycle):
// the page-keyed classes now carry spare fields (`rsvL1`/`rsvL2`
// longs, `rsvS1` string, all with neutral defaults) that future
// features CONSUME instead of widening the schema — a feature that
// needs one more long renames a reserved slot's USE, not the encoder
// schema, so existing checkpoints keep restoring. Only a feature that
// exhausts the spares (or needs a new collection type) breaks format
// again, and must both replenish the spares and bump this note.
/** Per-host frontier state for [[Crawl.frontierStream]]: the xxh64
  * hashes of the URLs this host has emitted so far. Bounded BY
  * CONSTRUCTION: emission stops at the host's politeness cap, so the
  * array never exceeds `cap` longs — the budget counter and the
  * cross-batch emission dedup are the same piece of state. (Top-level
  * so the Product encoder codegen sees a plain constructor.)
  */
private[sources] case class FrontierHostState(emitted: Array[Long])

/** Per-page state for [[Crawl.changeTrackStream]]: the last content
  * fingerprint seen (with `hasFp` marking whether any REAL body has
  * been fingerprinted yet — a page known only through revisit records
  * must not count its first real body as a change) plus capture/
  * transition counters and the NEWEST capture's event time in seconds
  * (`lastTsS` — the idle-TTL eviction clock anchors on state recency,
  * never a batch-local value: a late older duplicate must not pull
  * eviction earlier; added r19, see the checkpoint note above).
  * Round 20 adds `errStreak` (consecutive trailing ERROR captures —
  * status >= 400; an error body is not content, so it never
  * fingerprints, and ENTERING error from a fingerprinted history
  * counts exactly one change) plus the reserved slots — restart
  * pre-r20 checkpoints fresh.
  */
private[sources] case class ChangeTrackState(lastFp: Long,
                                             hasFp: Boolean,
                                             nCaptures: Long,
                                             nChanges: Long,
                                             lastTsS: Long,
                                             errStreak: Long = 0L,
                                             rsvL1: Long = 0L,
                                             rsvL2: Long = 0L,
                                             rsvS1: String = null)

/** Per-page state for [[Crawl.validatorsStream]]: the latest-capture
  * validators (by event time, doc_id) — three strings and two longs
  * per page, the conditional-GET minimum.
  */
private[sources] case class ValidatorState(lastModified: String,
                                           etag: String,
                                           ts: Long,
                                           docId: Long)

/** Per-budget-key state for [[Crawl.frontierStreamLive]]: each member
  * host's CURRENT compiled robots rules + declared delay (parallel
  * arrays indexed by host, with the capture recency that installed
  * them, so stale replays never roll rules back) riding beside the
  * budget key's shared emitted-URL set. With live trap detection on
  * (`trapThreshold` > 0), each member host additionally carries its
  * distinct-URL / distinct-template tracking sets (the
  * [[TrapTrackState]] machinery, host-indexed — exact to `maxTrack`,
  * HyperLogLog past it), so a verdict trips in the SAME running query
  * and collapses the host's budget with no restart. Without a family
  * frame a key is one host (arrays of length <= 1 — the classic
  * shape); with one, the arrays are bounded by the family's member
  * count and the emitted set by the shared cap — the whole state
  * stays small and fixed per key. Round 19 added the four trap
  * arrays. Round 20 adds the LIVE ALIAS map (`aliasSrc` xxh64 source
  * hashes beside `aliasDst` target urls — a 3xx capture riding the
  * stream installs src→dst into its host's group, so a 301 family
  * discovered MID-RUN collapses without waiting for the nightly
  * resolveRedirects landing; capped at [[Crawl.AliasMaxTrack]]
  * entries per group — past it, new aliases wait for the nightly,
  * documented loss), and the live HOST-STATUS tier (per-member-host
  * `backoffUntil` — the newest Retry-After expiry instant — beside
  * `okN`/`errN` health counters: three longs per member host) —
  * restart pre-r20 checkpoints fresh (see the compatibility note
  * above).
  */
private[sources] case class LiveBudgetState(hosts: Array[String],
                                            rules: Array[String],
                                            delays: Array[Double],
                                            rulesTs: Array[Long],
                                            rulesDoc: Array[Long],
                                            emitted: Array[Long],
                                            trapUrls: Array[Array[Long]],
                                            trapUrlHll: Array[Array[Byte]],
                                            trapTmpls: Array[Array[Long]],
                                            trapTmplHll: Array[Array[Byte]],
                                            aliasSrc: Array[Long],
                                            aliasDst: Array[String],
                                            backoffUntil: Array[Long],
                                            okN: Array[Long],
                                            errN: Array[Long])

/** Per-host state for [[Crawl.trapStream]]: the xxh64 sets of
  * distinct canonical URLs and distinct URL templates seen so far,
  * each tracked EXACTLY up to `maxTrack` hashes; past the bound a set
  * collapses into a 256-register HyperLogLog ([[Hll]]) seeded with
  * the tracked hashes, so the distinct count stays honest (±~7%)
  * under re-arrivals — a per-arrival overflow counter would instead
  * inflate with refetch traffic and could deflate a real trap's
  * expansion (extra distinct templates) or inflate an honest host's
  * (re-offered URLs). State per host <= 2 x maxTrack x 8 bytes
  * before saturation, 256 bytes per saturated set after — bounded by
  * construction either way.
  */
private[sources] case class TrapTrackState(urls: Array[Long],
                                           urlHll: Array[Byte],
                                           templates: Array[Long],
                                           tmplHll: Array[Byte])

/** Minimal HyperLogLog over xxh64 hashes (m = 256 registers, standard
  * error 1.04/sqrt(256) ≈ 6.5%) — the saturation fallback for
  * [[Crawl.trapStream]]'s per-host distinct counters. Flajolet et
  * al., AofA 2007, with the small-range linear-counting correction
  * (rarely hit here: the sketch only activates past `maxTrack`
  * distinct values, far above 2.5m).
  */
private[sources] object Hll {
  val M = 256

  def add(regs: Array[Byte], h: Long): Unit = {
    val idx = ((h >>> 56) & 0xffL).toInt
    val rank = math.min(
      java.lang.Long.numberOfLeadingZeros((h << 8) | 1L) + 1, 57)
    if (regs(idx) < rank) regs(idx) = rank.toByte
  }

  def estimate(regs: Array[Byte]): Long = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += java.lang.Math.pow(2.0, -regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1 + 1.079 / M)
    var e = alpha * M * M / sum
    if (e <= 2.5 * M && zeros > 0) e = M * math.log(M.toDouble / zeros)
    math.round(e)
  }
}

/** Per-page state for [[Crawl.refetchStream]]: the change-tracking
  * triple of [[ChangeTrackState]] fused with the latest-capture
  * validators of [[ValidatorState]] — one state row per page instead
  * of two stateful operators, because the refetch decision needs both
  * signals at once (change rate prices the refetch, validators make
  * it conditional). `lastCapTs` (event-time micros of the newest
  * capture) anchors the due-time wakeup clock and the validator-age
  * staleness term; `declaredDay` remembers the newest sitemap
  * `<lastmod>` epoch-day announced for the page, so a re-offered
  * sitemap never re-triggers the declared-instant emission. Round 19
  * added both. Round 20 adds `errStreak` (consecutive trailing error
  * captures — prices dead-page demotion and the due-timer cancel),
  * `dueFires` (due wakeups since the last capture — the opt-in
  * due-state bound), `maxAgeS` + `maTs`/`maDoc` (the newest OK
  * capture's RFC 9111 declared freshness lifetime and the ts/doc_id
  * recency that installed it, the validator tie convention; -1 =
  * none declared — caps the Cho/Garcia-Molina interval), and the
  * reserved slot — restart pre-r20 checkpoints fresh (see the
  * compatibility note above).
  */
private[sources] case class RefetchState(lastFp: Long,
                                         hasFp: Boolean,
                                         nCaptures: Long,
                                         nChanges: Long,
                                         lastModified: String,
                                         etag: String,
                                         valTs: Long,
                                         valDoc: Long,
                                         lastCapTs: Long,
                                         declaredDay: Long,
                                         errStreak: Long = 0L,
                                         dueFires: Long = 0L,
                                         maxAgeS: Long = -1L,
                                         maTs: Long = Long.MinValue,
                                         maDoc: Long = Long.MinValue,
                                         rsvS1: String = null)

object Crawl {

  /** The crawl record contract. `doc_id` and `text` are required
    * (their absence marks the row corrupt); `source`/`lang`/`ts`/`url`
    * default (crawl feeds are heterogeneous — a missing ts is the
    * ingest clock, exactly the ingestion-enrichment convention of
    * cpms/Streaming.scala:42-44; a missing lang gets the LangId
    * prediction). `ts` accepts ISO-8601 or epoch seconds.
    */
  val crawlV1: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("url", StringType),
    StructField("source", StringType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("ts", StringType)))

  /** One parser for both forms: raw `value` lines -> typed doc frame +
    * `corrupt` flag. Pure per-row projections — streams unchanged.
    * `extractHtml` (opt-in: a feed whose `text` carries raw markup)
    * runs [[Html.extractText]] between the JSON parse and the langid
    * projection, so the language is predicted over prose, not tags.
    */
  private[sources] def parseCrawl(raw: DataFrame,
                                  extractHtml: Boolean = false): DataFrame = {
    val typed = raw
      .withColumn("e", from_json(col("value"), crawlV1))
      .withColumn("corrupt",
        col("e").isNull || col("e.doc_id").isNull || col("e.text").isNull)
      .select(
        col("value"), col("corrupt"),
        col("e.doc_id").as("doc_id"),
        col("e.url").as("url"),
        coalesce(col("e.source"), lit("crawl")).as("source"),
        col("e.text").as("text"),
        col("e.lang").as("lang0"),
        coalesce(
          try_to_timestamp(col("e.ts")),
          to_timestamp(from_unixtime(expr("try_cast(e.ts AS DOUBLE)"))),
          current_timestamp()).as("ts"))
    // extraction is a native codegen'd expression (HtmlExpr), so the
    // opt-in path stays ONE whole-stage projection over the scan —
    // no Row-serialization round trip, stream-legal by construction.
    // Only the explicit opt-in extracts: the caller asserts the feed
    // carries markup, so every row extracts (extraction also
    // normalizes whitespace runs — a no-op on already-clean prose
    // beyond multi-space collapse).
    val extracted =
      if (extractHtml)
        typed.withColumn("text", HtmlExpr.extract_html(col("text")))
      else typed
    extracted
      .select(
        col("value"), col("corrupt"), col("doc_id"), col("url"),
        col("source"), col("text"),
        coalesce(col("lang0"), LangId.predict(col("text"))).as("lang"),
        col("ts"))
  }

  /** Batch read of a crawl directory (`*.jsonl` / `*.jsonl.gz`; the gz
    * codec resolves per file from its extension). `extractHtml` opts a
    * markup-carrying feed into [[Html.extractText]].
    */
  def readCrawl(s: SparkSession, path: String,
                extractHtml: Boolean = false): DataFrame =
    parseCrawl(s.read.textFile(path).toDF("value"), extractHtml)

  /** Streaming read: the file stream source tails `path` — each newly
    * landed dump file becomes (part of) a micro-batch, checkpointed
    * exactly-once by file name. `maxFilesPerTrigger` bounds a batch
    * when a backfill drops thousands of members at once.
    */
  def readCrawlStream(s: SparkSession, path: String,
                      maxFilesPerTrigger: Int = 0,
                      extractHtml: Boolean = false): DataFrame = {
    val r0 = s.readStream.format("text")
    val r = if (maxFilesPerTrigger > 0)
              r0.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
            else r0
    parseCrawl(r.load(path), extractHtml)
  }

  /** The clean feed for [[graft.operators.Curation.ingestStream]]:
    * exactly its input contract — corrupt rows dropped, and only TEXT
    * rows (a WARC frame's binary-asset rows carry a null text and
    * flow through [[warcAssets]] instead).
    */
  def crawlDocs(parsed: DataFrame): DataFrame =
    parsed.filter(!col("corrupt") && col("text").isNotNull)
      .select("ts", "doc_id", "source", "text", "lang")

  /** The quarantine side: corrupt raw lines, `value` kept verbatim for
    * the repair pass (the `has_oov` routing pattern — count, land,
    * never silently drop).
    */
  def crawlCorrupt(parsed: DataFrame): DataFrame =
    parsed.filter(col("corrupt")).select("value")

  /** Revisit resolution — the standard Common-Crawl policy for a URL
    * captured more than once (recrawls, revisit records, mirrored
    * dumps): keep each URL's LATEST capture (event time, doc_id as
    * the deterministic tiebreak), pass url-less rows through
    * untouched (no key to collapse on). Runs on a parsed crawl/WARC
    * frame BEFORE [[crawlDocs]] drops the url column.
    *
    * Scale shape: one shuffle on the url — a near-unique key at any
    * corpus size, so groups are tiny — and the rank-1 filter plans a
    * partial WindowGroupLimit below the exchange (each map task ships
    * at most one row per url it saw). The STREAMING analog is content
    * dedup at ingest ([[graft.operators.Curation.ingestStream]]'s
    * within-watermark content-hash dedup) — cross-batch latest-per-url
    * needs the corpus-maintenance state path, not a stream window.
    */
  def latestPerUrl(parsed: DataFrame,
                   canonical: Boolean = false): DataFrame = {
    val clean = parsed.filter(!col("corrupt"))
    // canonical=true collapses captures that differ only in
    // canonicalization-removable junk (tracking params, fragments,
    // case, www., trailing slash — [[Urls.canonicalize]]); rows whose
    // URL does not canonicalize (or is absent) have no key to collapse
    // on and pass through untouched either way
    val keyed = clean.withColumn("_k",
      if (canonical) Urls.canonicalize(col("url")) else col("url"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_k")
      .orderBy(col("ts").desc, col("doc_id").desc)
    keyed.filter(col("_k").isNotNull)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk", "_k")
      .unionByName(keyed.filter(col("_k").isNull).drop("_k"))
  }

  /** The crawl-loop closure over a RAW-body parsed frame
    * (`readWarc(extractHtml = false)`): next fetch list = canonical
    * outlinks discovered in this corpus minus the pages it already
    * captured, capped at `perHostCap` per host — see
    * [[graft.operators.WebGraph.frontierFromSets]] for the operator
    * shape. Output (host, url, rk) feeds the next fetch round; re-feed
    * the fetched WARCs through [[readWarc]] and the loop closes.
    * `aliases` (optional, (url, final_url) over CANONICAL urls — the
    * [[graft.operators.WebGraph.crawlAliasTable]] manifest) collapses
    * alias families before the seen probe and budget, the
    * [[streamCandidates]] rule.
    */
  def frontier(parsed: DataFrame, perHostCap: Int = 64,
               robotsAgent: Option[String] = None,
               sitemaps: Boolean = false,
               crawlDelayWindow: Double = 0.0,
               skipAssets: Boolean = true,
               aliases: Option[DataFrame] = None): DataFrame = {
    val seen = parsed.filter(!col("corrupt") && col("url").isNotNull)
      .select(Urls.canonicalize(col("url")).as("url"))
      .filter(col("url").isNotNull)
    val links = linkEdges(parsed)
      .select(Urls.canonicalize(col("dst_url")).as("url"))
      .filter(col("url").isNotNull)
    // 3xx targets are discoveries too: the redirect SOURCE is seen,
    // its target usually is not (WARC frames carry the column; a
    // JSONL crawl frame does not — skip there)
    val withRedirects = if (!parsed.columns.contains("redirect")) links
      else links.unionByName(
        redirectEdges(parsed)
          .select(Urls.canonicalize(col("dst_url")).as("url"))
          .filter(col("url").isNotNull))
    // sitemaps declare what the HOST says exists — pages nothing
    // links to yet join the candidate pool (index-file entries are
    // sitemap fetches, not page fetches; a caller crawling indexes
    // reads sitemapEntries directly)
    val cand2 = if (!sitemaps) withRedirects
      else withRedirects.unionByName(
        sitemapEntries(parsed).filter(col("kind") === "page")
          .select(Urls.canonicalize(col("url")).as("url"))
          .filter(col("url").isNotNull))
    // alias collapse BEFORE the seen probe and budget (the
    // streamCandidates rule): candidates resolve through the LANDED
    // alias table (resolveAliasEdges over canonical urls — 301 chains
    // + rel=canonical declarations), so an alias family spends one
    // budget slot and a seen final target kills its spellings at the
    // seen tier. Page-scale frame, shuffle-pinned, never broadcast.
    val cand1 = aliases match {
      case Some(al) =>
        cand2.join(al.select(col("url"), col("final_url"))
            .hint("shuffle_hash"), Seq("url"), "left")
          .select(coalesce(col("final_url"), col("url")).as("url"))
      case None => cand2
    }
    // asset-extension skip runs FIRST (default on — a .jpg/.zip href
    // must never consume seen-probe work or a host's budget in a
    // text crawl; asset crawls feeding warcAssets opt out). Gzipped
    // sitemaps are exempt: sitemaps.org allows sitemap.xml.gz, and
    // the skip would dead-end every discovery path into one.
    val cand0 = if (skipAssets)
                  cand1.filter(!Urls.isAsset(col("url")) ||
                    Urls.isSitemapGz(col("url")))
                else cand1
    // robots gating runs BEFORE the politeness cap — a disallowed URL
    // must not consume a host's fetch budget. Hosts with no captured
    // robots.txt fail open (the robots_allowed_c null policy). The
    // body parse happens ONCE PER HOST: robots_compile projects each
    // host's body to its compiled rule group (+ declared crawl
    // delay), so the per-candidate check is a longest-match over
    // compiled rules and the join ships rule strings, never bodies.
    val compiled = robotsAgent.map(agent => compiledRobots(parsed, agent))
    val cand = compiled match {
      case Some(rules) =>
        // host-sized table, but pinned to the shuffle path anyway —
        // the no-broadcast rule for anything that grows with the web
        cand0.withColumn("host", Urls.host(col("url")))
          .join(rules.drop("_robots_delay").hint("shuffle_hash"),
                Seq("host"), "left")
          .filter(Robots.robots_allowed_c(col("url"),
                                          col("_robots_rules")))
          .select("url")
      case None => cand0
    }
    val fr =
      graft.operators.WebGraph.frontierFromSets(seen, cand, perHostCap)
    // Crawl-delay politeness: with a fetch-window length (seconds), a
    // host declaring Crawl-delay/Request-rate can sustain at most
    // window/delay fetches per round, so its cap tightens to
    // min(perHostCap, max(1, floor(window/delay))) — min-1 keeps the
    // probe guarantee (the budgetByRank convention). Without a window
    // (the batch default) semantics are unchanged.
    compiled match {
      case Some(rules) if crawlDelayWindow > 0 =>
        val caps = rules.filter(col("_robots_delay").isNotNull)
          .select(col("host"),
            greatest(lit(1L),
              floor(lit(crawlDelayWindow) / col("_robots_delay"))
                .cast("long")).as("_cap"))
        fr.join(caps.hint("shuffle_hash"), Seq("host"), "left")
          .filter(col("rk") <= coalesce(col("_cap"), lit(Long.MaxValue)))
          .drop("_cap")
      case _ => fr
    }
  }

  /** The agent's politeness metadata as a host-keyed frame — rules
    * compiled ONCE per host ([[Robots.robots_compile]]) plus the
    * declared Crawl-delay/Request-rate interval: (host,
    * `_robots_rules`, `_robots_delay`). Shared by the batch
    * [[frontier]] and the streaming [[frontierStream]] (which gates
    * arrivals stream-static against this frame), so the two doors
    * cannot diverge on what a host permits. Host-sized output; the
    * body parse never leaves this projection.
    *
    * `failClosed5xx` opts into RFC 9309's strict unavailability rule:
    * a host whose LATEST robots.txt capture is a 5xx compiles to
    * complete disallow (the default door fails open uniformly — the
    * documented production-crawler divergence — and an older 2xx body
    * would keep ruling through an outage).
    */
  def compiledRobots(parsed: DataFrame, agent: String,
                     failClosed5xx: Boolean = false): DataFrame =
    if (!failClosed5xx)
      robotsTexts(parsed).select(
        col("host"),
        Robots.robots_compile(col("robots_txt"), lit(agent))
          .as("_robots_rules"),
        Robots.robots_delay(col("robots_txt"), lit(agent))
          .as("_robots_delay"))
    else {
      // RFC 9309 §2.3.1.3/.4: 4xx means no rules (crawl freely — the
      // fail-open this library defaults to everywhere), but 5xx means
      // the rules are UNREACHABLE and the crawler "MUST assume
      // complete disallow". The default door drops non-2xx captures
      // before picking each host's latest, so an older 2xx body would
      // keep ruling through an outage; here the latest capture of ANY
      // shape decides the host's STATE — status gate and text gate
      // both off, so a 5xx whose error body routed to the payload
      // path (binary content-type) still enters the recency window
      // and compiles the universal-disallow group. The latest
      // capture's ROLE depends on its shape:
      //   - 5xx latest -> complete disallow;
      //   - text-carrying 2xx/statusless/revisit latest -> its body;
      //   - text-NULL 2xx/3xx-revisit/statusless latest (a WARC
      //     revisit record asserts "content unchanged"; a binary 2xx
      //     has no parseable body) -> the newest VALID body still
      //     rules — falling open here would let a routine 304
      //     revisit erase a host's captured Disallow rules, the
      //     exact inversion of what the revisit asserts;
      //   - 4xx latest -> null rules = fail open (no rules exist).
      val rev =
        if (parsed.columns.contains("revisit"))
          coalesce(col("revisit"), lit(false))
        else lit(false)
      val base = robotsCaptures(parsed, statusGated = false,
                                requireText = false)
        .withColumn("_rev", rev)
      val status =
        if (parsed.columns.contains("http_status")) col("http_status")
        else lit(null).cast("int")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("host").orderBy(col("ts").desc, col("doc_id").desc)
      val ok = col("_st").isNull ||
        (col("_st") >= 200 && col("_st") < 300)
      val srvErr = col("_st") >= 500 && col("_st") < 600
      val stamped = base.withColumn("_st", status)
      // the newest VALID rule body per host (ok status, real text, not
      // a revisit stub) — what a content-unchanged/bodyless latest
      // capture defers to. Arg-max by (ts, doc_id), host-sized.
      val newestBody = stamped
        .filter(ok && col("text").isNotNull && !col("_rev"))
        .groupBy("host")
        .agg(max(struct(col("ts"), col("doc_id"), col("text"))).as("m"))
        .select(col("host"), col("m.text").as("_body"))
      stamped
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .join(newestBody.hint("shuffle_hash"), Seq("host"), "left")
        .select(col("host"),
          when(srvErr, Robots.robots_compile(
              lit("User-agent: *\nDisallow: /"), lit(agent)))
            .when(ok && col("text").isNotNull && !col("_rev"),
              Robots.robots_compile(col("text"), lit(agent)))
            .when(ok || col("_rev"),
              Robots.robots_compile(col("_body"), lit(agent)))
            .otherwise(lit(null).cast("string")).as("_robots_rules"),
          when(ok && col("text").isNotNull && !col("_rev"),
              Robots.robots_delay(col("text"), lit(agent)))
            .when(ok || col("_rev"),
              Robots.robots_delay(col("_body"), lit(agent)))
            .otherwise(lit(null).cast("double")).as("_robots_delay"))
    }

  /** The accumulated seen set as an O(MB) sketch: canonical URLs of
    * every non-corrupt capture in `parsed`, folded into a Bloom filter
    * keyed on `xxhash64(canon_url)`. [[frontierStream]] probes it as a
    * LITERAL — no join, no per-key state, constant memory per executor
    * regardless of corpus size (the [[graft.operators.Curation
    * .corpusBloom]] convention, applied to URLs instead of content).
    * Sizing: explicit when passed; otherwise capacity = 2x the current
    * distinct-URL count (headroom for post-build crawling, floor 2^16)
    * at 8 bits/item (~2% fpp at capacity). A false positive DROPS a
    * genuinely-new URL from the frontier — frontier semantics accept
    * that (a later round re-discovers it once the corpus and sketch
    * refresh); when it doesn't, pass [[seenUrls]] to the frontier
    * door instead: the exact stream-static anti-join tier, zero
    * false-positive losses (and the sketch is then ignored — seen
    * rows are bloom-positive by construction, so it could only prune
    * by re-running the candidate extraction per branch).
    *
    * Size guard: the sketch ships as a PLAN LITERAL — serialized into
    * every task binary — so `maxBytes` (default 64 MB, ~67M URLs at
    * 8 bits/item) REFUSES an absurd inline instead of silently
    * shipping gigabytes. At billion-URL scale either accept a higher
    * fpp under an explicit sub-bound `numBits`, or switch to the
    * [[seenUrls]] exact tier and drop the sketch.
    */
  def seenUrlBloom(parsed: DataFrame,
                   expectedItems: Long = 0L,
                   numBits: Long = 0L,
                   maxBytes: Long = 64L << 20): Array[Byte] = {
    val urls = parsed.filter(!col("corrupt") && col("url").isNotNull)
      .select(Urls.canonicalize(col("url")).as("url"))
      .filter(col("url").isNotNull)
    val items =
      if (expectedItems > 0L) expectedItems
      else math.max(urls.distinct().count() * 2, 1L << 16)
    val bits = if (numBits > 0L) numBits else items * 8L
    require(bits / 8L <= maxBytes,
      s"seenUrlBloom: a ${bits / 8L}-byte sketch exceeds the " +
        s"$maxBytes-byte inline bound (it would ship in every task " +
        "binary). Cap numBits and route exactness through the " +
        "seenUrls stream-static anti-join tier.")
    // an EMPTY corpus aggregates to null — normalize to the empty
    // sketch (= prune nothing), which frontierStream treats as
    // "no seen set" rather than an NPE at probe time
    Option(urls.agg(graft.functions.Bloom
        .bloomAgg(xxhash64(col("url")), items, bits).as("bf"))
      .head().getAs[Array[Byte]](0))
      .getOrElse(Array.emptyByteArray)
  }

  /** The accumulated seen set EXACTLY: distinct canonical URLs of
    * every non-corrupt capture — the static side of the frontier
    * doors' stream-static anti-join (the `substrContaminationStream`
    * convention, applied to URLs). At scale this is a landed parquet
    * table, re-read per micro-batch by the stream-static join.
    * Unlike the [[seenUrlBloom]] sketch, this tier loses ZERO
    * genuinely-new URLs to false positives — the trade is one
    * url-keyed shuffle join per micro-batch against the zero-shuffle
    * (but lossy) literal probe.
    */
  def seenUrls(parsed: DataFrame): DataFrame =
    parsed.filter(!col("corrupt") && col("url").isNotNull)
      .select(Urls.canonicalize(col("url")).as("url"))
      .filter(col("url").isNotNull)
      .distinct()

  /** STREAMING twin of [[frontier]] — the live-crawler door: arrivals
    * ([[readCrawlStream]] / [[readWarcStream]] output) emit their
    * discoveries per micro-batch instead of waiting for a corpus-wide
    * batch pass. Same semantics, re-expressed stream-legal:
    *
    *   - candidates: canonical outlinks (+ redirect targets and
    *     opt-in sitemap pages when the frame carries them) — pure
    *     codegen projections + explode, identical to the batch door;
    *   - seen set: TIERED. The `seenBloom` LITERAL probe
    *     ([[seenUrlBloom]]) alone is the lossy zero-shuffle fast
    *     path; `seenExact` ([[seenUrls]] — the landed seen table)
    *     replaces it with the exact stream-static LEFT ANTI join, so
    *     no discovery is ever lost to a false positive (see
    *     [[streamCandidates]]);
    *   - robots: stream-static left join against [[compiledRobots]]
    *     (host-sized, shuffle-pinned) + the same `robots_allowed_c`
    *     fail-open check as batch;
    *   - scheduler signals, all optional stream-static frames
    *     ([[gatedCandidates]]): `trapVerdicts` (q190 — a trap host's
    *     cap collapses to its probe URL), `rankCaps` (q180's
    *     rank-proportional budget, [[graft.operators.WebGraph
    *     .rankCaps]]), `families` (q183/q189 — a mirror/site family
    *     draws ONE shared budget keyed on its component), `skipAssets`
    *     ([[Urls.isAsset]] links never reach the budget);
    *   - politeness budget + emission dedup: ONE
    *     `flatMapGroupsWithState` keyed by budget key (host, or
    *     family component when `families` is given; x epoch when
    *     `budgetEpochS` > 0). State per key is the xxh64 set of URLs
    *     already emitted — at most `cap` longs, because emission
    *     stops at the cap — so a URL discovered again in a later
    *     batch never re-emits, and a key never exceeds its budget
    *     across the whole crawl, with total state <= keys x cap x 8
    *     bytes (a few GB at 10^7 hosts, sharded across executors).
    *     Within a batch, a key's candidates are buffered and
    *     byte-order sorted before emission (batch-local buffering,
    *     bounded by the batch size) so emission order is
    *     deterministic given the same batch boundaries.
    *
    * `crawlDelayWindow` > 0 tightens a delay-declaring host's cap to
    * min(perHostCap, max(1, floor(window/delay))) — the batch
    * spelling. `budgetEpochS` > 0 renews budgets per event-time
    * epoch: a continuous crawler re-earns fetch capacity each window,
    * and expired epochs' state evicts on EVENT-time timeout (one
    * epoch past its end, under a `budgetLateEpochs`-wide watermark —
    * so live state is ~(1 + lateness) epochs x active budget keys,
    * bounded however long the crawl runs). The watermark is a REAL
    * cutoff, not bookkeeping: under EventTimeTimeout, Spark drops
    * input rows older than it BEFORE the budget state runs, so a
    * discovery arriving more than `budgetLateEpochs` epochs after
    * newer traffic is LOST to this door until re-discovered — that is
    * the price of bounded state under renewal; size `budgetLateEpochs`
    * to the pipeline's real landing skew (slow fetches, backfills),
    * or run renewal-free (`budgetEpochS` = 0, NoTimeout, no watermark,
    * no drop). Output (host, url, rk — rank within the
    * budget key) in append mode; land it with [[startFrontierSink]]
    * and the fetch loop closes: fetched WARCs re-enter
    * [[readWarcStream]].
    */
  /** Canonical, seen-pruned, host-keyed candidate projection shared
    * by both streaming doors: outlinks (+ redirect targets when the
    * frame carries them, + opt-in sitemap entries), canonicalized,
    * each carrying the DISCOVERING capture's event time (ts_s — the
    * epoch key for budget renewal) — pure codegen projections +
    * explode, stream-legal by construction. Output (host, url, ts_s).
    *
    * `sitemaps = true` turns on RECURSIVE sitemap discovery: sitemap
    * bodies select by content sniff (`<urlset`/`<sitemapindex` in the
    * first 2 KiB) or protocol filename (the plain-text form), BOTH
    * entry kinds emit (a `sitemap` child is itself a fetch candidate
    * — an index fetched in batch k yields child sitemaps whose
    * batch-k+1 captures yield their pages), and robots-declared
    * `Sitemap:` hints join the candidate set.
    *
    * `aliases` (optional, the landed [[graft.operators.WebGraph
    * .resolveRedirects]] output over canonical urls) collapses
    * redirect families BEFORE the seen probe and budget: every alias
    * spelling maps to its final target, so a 301 chain spends one
    * budget slot and dies at the seen tier once the target is
    * captured. Stream-static left join, page-scale static side,
    * shuffle-pinned.
    *
    * Seen pruning is tiered: the Bloom LITERAL alone is the lossy
    * zero-shuffle fast path (~fpp of new URLs drop until the sketch
    * refreshes); `seenExact` replaces it with the exact stream-static
    * LEFT ANTI join (shuffle-pinned; the static side is the landed
    * seen table, page-scale, never broadcast) over ONE candidate
    * pass — ZERO discovery loss, and the sketch is ignored when the
    * exact tier is on (seen rows are bloom-positive by construction,
    * so a pre-split would only re-run the parse per union branch —
    * see the in-body note).
    *
    * `skipAssets` (default ON) drops [[Urls.AssetExtensions]] links
    * BEFORE any seen probe or budget accounting — a `.jpg` href must
    * never consume a host's politeness cap in a text crawl. Asset
    * crawls (image corpora) opt out.
    *
    * Event-time caveat: a null capture `ts` coalesces to ts_s = 0
    * (epoch 1970). [[readWarc]]/[[parseCrawl]] never emit null ts,
    * but a CALLER-constructed frame can — and under `budgetEpochS` >
    * 0 such rows land in epoch 0 with a 1970 event time, which the
    * renewal watermark DROPS once any real-timestamped data has been
    * seen. Budget renewal therefore requires non-null event times;
    * frames that cannot guarantee one should run renewal-free
    * (budgetEpochS = 0, no watermark, no drop).
    */
  private[sources] def streamCandidates(parsed: DataFrame,
                                        seenBloom: Array[Byte],
                                        sitemaps: Boolean,
                                        seenExact: Option[DataFrame] = None,
                                        skipAssets: Boolean = true,
                                        aliases: Option[DataFrame] = None)
      : DataFrame = {
    val base = parsed.filter(!col("corrupt") && col("url").isNotNull)
    val tsS = coalesce(col("ts").cast("long"), lit(0L)).as("ts_s")
    val links = base.filter(col("text").isNotNull)
      .select(tsS,
        explode(HtmlExpr.extract_links(col("text"), col("url")))
          .as("dst_url"))
      .select(col("ts_s"), Urls.canonicalize(col("dst_url")).as("url"))
      .filter(col("url").isNotNull)
    val withRedirects = if (!parsed.columns.contains("redirect")) links
      else links.unionByName(
        base.filter(col("redirect").isNotNull)
          .select(tsS, Urls.canonicalize(col("redirect")).as("url"))
          .filter(col("url").isNotNull))
    val cand0 = if (!sitemaps) withRedirects
      else {
        // sitemap bodies select by the shared [[isSitemapCapture]]
        // rule (content sniff OR protocol filename). Content sniff is
        // what makes the recursion CLOSE: an index at /maps/index.xml
        // points at /maps/a.xml, whose name matches nothing, but
        // whose fetched body sniffs as a urlset and parses. BOTH
        // entry kinds emit as candidates — a `page` is a fetchable
        // page, a `sitemap` child is the next sitemap to fetch
        // (recursion across micro-batches; the politeness budget
        // prices both).
        val entries = base.filter(col("text").isNotNull &&
            isSitemapCapture(col("url"), col("text")))
          .select(tsS,
            explode(Sitemaps.extract_sitemap(col("text"))).as("e"))
          .select(col("ts_s"), Urls.canonicalize(col("e.url")).as("url"))
          .filter(col("url").isNotNull)
        // robots-declared `Sitemap:` hints (sitemaps.org discovery,
        // group-independent) become fetch candidates too — pages
        // nothing links to yet stay reachable without a batch pass
        val hints = base.filter(col("text").isNotNull &&
            col("url").rlike(
              "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*/robots\\.txt$"))
          .select(tsS,
            explode(Robots.robots_sitemaps(col("text"))).as("sm"))
          .select(col("ts_s"), Urls.canonicalize(col("sm")).as("url"))
          .filter(col("url").isNotNull)
        withRedirects.unionByName(entries).unionByName(hints)
      }
    // alias collapse: resolve candidates through the LANDED redirect-
    // resolution table (WebGraph.resolveRedirects output over
    // CANONICAL urls, stream-static, page-scale -> shuffle-pinned,
    // never broadcast) BEFORE the seen probe and budget, so a 301
    // family spends ONE budget slot and a seen final target kills its
    // alias spellings at the seen tier
    val cand1 = aliases match {
      case Some(al) =>
        cand0.join(al.select(col("url"), col("final_url"))
            .hint("shuffle_hash"), Seq("url"), "left")
          .select(col("ts_s"),
            coalesce(col("final_url"), col("url")).as("url"))
      case None => cand0
    }
    // gzipped sitemaps exempt from the asset skip (the batch door's
    // rule — see there); their BODIES still don't sniff as sitemaps.
    val cand = if (skipAssets)
                 cand1.filter(!Urls.isAsset(col("url")) ||
                   Urls.isSitemapGz(col("url")))
               else cand1
    val unseen = (seenBloom != null && seenBloom.nonEmpty, seenExact)
        match {
      case (_, Some(seen)) =>
        // the EXACT tier: one stream-static LEFT ANTI join over ONE
        // candidate pass. With this tier on, the sketch is redundant
        // — every landed seen URL is bloom-positive by construction,
        // so the join alone carries the dedup, exactly. (An earlier
        // design pre-split on the bloom so definite-new rows could
        // skip the join shuffle, but the split's two union branches
        // each re-ran the member parse + link explode per micro-batch
        // — predicate pushdown sinks the branch filters below any
        // shared exchange, defeating reuse — and on a WARC stream the
        // parse dominates the shuffle it saved.)
        cand.join(seen.select("url").hint("shuffle_hash"), Seq("url"),
                  "left_anti")
      case (true, None) =>
        cand.filter(!graft.functions.Bloom
          .mightContainLit(seenBloom, xxhash64(col("url"))))
      case (false, None) => cand
    }
    unseen
      .withColumn("host", Urls.host(col("url")))
      .filter(col("host").isNotNull)
      .select("host", "url", "ts_s")
  }

  /** The scheduler-composed gate shared by the streaming doors (and
    * plan-pinnable on a batch frame — the joins are ordinary
    * stream-static equi-joins): robots rules, trap verdicts, rank
    * budgets, and site families fold into ONE (bkey, epoch, host,
    * url, cap) frame the budget state consumes. All four frames are
    * host-keyed and host-SIZED, yet pinned to the shuffle path — the
    * no-broadcast rule for anything that grows with the web (~10^7
    * hosts is hundreds of MB; AQE's test-scale broadcast choice must
    * never become the production plan).
    *
    *   - `robots`: [[compiledRobots]] — allowed-check fail-open,
    *     Crawl-delay tightens the cap to floor(window/delay) (min 1);
    *   - `trapVerdicts`: (host, verdict) — q190's table; a `trap`
    *     host's cap collapses to 1 (the probe URL), the q191
    *     composition made stream-native;
    *   - `rankCaps`: (host, cap) — q180's rank-proportional budget
    *     ([[graft.operators.WebGraph.rankCaps]]); hosts absent from
    *     the rank table keep their politeness cap (new hosts have no
    *     rank yet — fail open, the robots convention);
    *   - `families`: (host, component) — q183/q189's site+mirror
    *     families; the budget KEY becomes the component, so a 3-host
    *     mirror farm draws ONE shared budget instead of 3 (the
    *     tightest member's cap — a family containing a trap host is
    *     budgeted as a trap, because a mirror family IS one site).
    *
    * `budgetEpochS` > 0 appends floor(event_ts / epoch) to the key:
    * each epoch opens a FRESH budget (renewal — a continuous crawler
    * re-earns fetch capacity per window), and expired epochs' state
    * evicts on event-time timeout. Cross-epoch re-emission of a
    * still-uncaptured URL is by design (it is exactly a recrawl
    * candidate); captured ones die at the seen tier first.
    */
  /** Fold the trap-verdict (q190) and rank-budget (q180) frames into
    * a host-keyed row's cap column — ONE spelling shared by
    * [[gatedCandidates]] (the static-robots door) and
    * [[frontierStreamLive]], so the two doors cannot diverge on how a
    * scheduler signal tightens a budget: a `trap` host collapses to
    * its probe (least with 1), a ranked host takes the tighter of its
    * politeness and rank caps, hosts absent from either frame fail
    * open. Both frames host-sized, both joins shuffle-pinned.
    */
  private def schedulerCaps(df: DataFrame, capCol: String,
                            trapVerdicts: Option[DataFrame],
                            rankCaps: Option[DataFrame]): DataFrame = {
    val trapped = trapVerdicts match {
      case Some(tv) =>
        df.join(tv.select(col("host"), col("verdict"))
            .hint("shuffle_hash"), Seq("host"), "left")
          .withColumn(capCol,
            when(col("verdict") === "trap", least(col(capCol), lit(1L)))
              .otherwise(col(capCol)))
          .drop("verdict")
      case None => df
    }
    rankCaps match {
      case Some(rc) =>
        trapped.join(rc.select(col("host"), col("cap").as("_rank_cap"))
            .hint("shuffle_hash"), Seq("host"), "left")
          .withColumn(capCol,
            least(col(capCol), coalesce(col("_rank_cap"), col(capCol))))
          .drop("_rank_cap")
      case None => trapped
    }
  }

  private[sources] def gatedCandidates(hosted: DataFrame,
                                       perHostCap: Int,
                                       robots: Option[DataFrame],
                                       crawlDelayWindow: Double,
                                       trapVerdicts: Option[DataFrame],
                                       families: Option[DataFrame],
                                       rankCaps: Option[DataFrame],
                                       budgetEpochS: Long): DataFrame = {
    val gated = robots match {
      case Some(rules) =>
        val capCol =
          if (crawlDelayWindow > 0)
            least(lit(perHostCap.toLong),
              when(col("_robots_delay").isNotNull,
                greatest(lit(1L),
                  floor(lit(crawlDelayWindow) / col("_robots_delay"))
                    .cast("long")))
              .otherwise(lit(perHostCap.toLong)))
          else lit(perHostCap.toLong)
        hosted
          .join(rules.hint("shuffle_hash"), Seq("host"), "left")
          .filter(Robots.robots_allowed_c(col("url"),
                                          col("_robots_rules")))
          .select(col("host"), col("url"), col("ts_s"), capCol.as("cap"))
      case None =>
        hosted.select(col("host"), col("url"), col("ts_s"),
                      lit(perHostCap.toLong).as("cap"))
    }
    val ranked = schedulerCaps(gated, "cap", trapVerdicts, rankCaps)
    val keyed = families match {
      case Some(fam) =>
        ranked.join(fam.select(col("host"), col("component"))
            .hint("shuffle_hash"), Seq("host"), "left")
          .select(coalesce(col("component"), col("host")).as("bkey"),
                  col("host"), col("url"), col("ts_s"), col("cap"))
      case None =>
        ranked.select(col("host").as("bkey"), col("host"), col("url"),
                      col("ts_s"), col("cap"))
    }
    val epoch =
      if (budgetEpochS > 0)
        floor(col("ts_s").cast("double") / budgetEpochS).cast("long")
      else lit(0L)
    keyed.select(col("bkey"), epoch.as("epoch"), col("host"),
                 col("url"), col("cap"), col("ts_s"))
  }

  def frontierStream(parsed: DataFrame,
                     seenBloom: Array[Byte],
                     perHostCap: Int = 64,
                     robots: Option[DataFrame] = None,
                     sitemaps: Boolean = false,
                     crawlDelayWindow: Double = 0.0,
                     seenExact: Option[DataFrame] = None,
                     trapVerdicts: Option[DataFrame] = None,
                     families: Option[DataFrame] = None,
                     rankCaps: Option[DataFrame] = None,
                     skipAssets: Boolean = true,
                     budgetEpochS: Long = 0L,
                     budgetLateEpochs: Int = 1,
                     aliases: Option[DataFrame] = None): DataFrame = {
    val hosted =
      streamCandidates(parsed, seenBloom, sitemaps, seenExact, skipAssets,
                       aliases)
    val gated0 = gatedCandidates(hosted, perHostCap, robots,
      crawlDelayWindow, trapVerdicts, families, rankCaps, budgetEpochS)
      .withColumn("_wm", timestamp_seconds(col("ts_s"))).drop("ts_s")
    // epoch renewal rides the EVENT clock: a lateness-bounded
    // watermark lets expired epochs' budget state evict on
    // EventTimeTimeout as the stream's own time advances — never the
    // processing clock, whose timeout mode would trigger continuous
    // empty micro-batches just to poll the timer. The watermark
    // column must REACH the stateful operator (the delay rides the
    // attribute's metadata), so it stays in the row to the end. Rows
    // older than the watermark are DROPPED by the operator (see the
    // frontierStream doc) — budgetLateEpochs sets that tolerance.
    val lateS = budgetEpochS * math.max(budgetLateEpochs, 1)
    val gated =
      if (budgetEpochS > 0)
        gated0.withWatermark("_wm", s"$lateS seconds")
      else gated0
    val s = parsed.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val timeoutConf =
      if (budgetEpochS > 0) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    gated.as[(String, Long, String, String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[FrontierHostState, (String, String, Long)](
        OutputMode.Append, timeoutConf) {
        case ((_, epoch), rows, state) =>
          if (state.hasTimedOut) {
            // an expired epoch's budget state — evict; the epoch key
            // has rolled past it, so no row will ever probe it again
            state.remove()
            Iterator.empty
          } else {
            val emitted = scala.collection.mutable.LinkedHashSet(
              state.getOption.map(_.emitted)
                .getOrElse(Array.empty[Long]): _*)
            val batch = rows.toArray
            // the budget group's cap: the TIGHTEST member row (for a
            // host group all rows agree; for a family group this is
            // the most conservative member — one trap alias budgets
            // the whole farm as a trap)
            val cap = math.min(
              batch.iterator.map(_._5).min,
              perHostCap.toLong)
            val out = Vector.newBuilder[(String, String, Long)]
            for ((_, _, host, url, _, _) <- batch.sortBy(_._4)
                 if emitted.size < cap) {
              val h = org.apache.spark.sql.catalyst.expressions
                .XxHash64Function.hash(
                  org.apache.spark.unsafe.types.UTF8String.fromString(url),
                  org.apache.spark.sql.types.StringType, 42L)
              if (!emitted.contains(h)) {
                emitted += h
                out += ((host, url, emitted.size.toLong))
              }
            }
            state.update(FrontierHostState(emitted.toArray))
            if (budgetEpochS > 0) {
              // evict one lateness window past this epoch's end on
              // the EVENT clock (timeout ts must sit past the
              // watermark, so a straggler key created late still
              // gets a full window)
              val end = (epoch + 1L + math.max(budgetLateEpochs, 1)) *
                budgetEpochS * 1000L
              state.setTimeoutTimestamp(math.max(end,
                state.getCurrentWatermarkMs + budgetEpochS * 1000L))
            }
            out.result().iterator
          }
      }
      .toDF("host", "url", "rk")
  }

  /** The FULLY-LIVE frontier: robots.txt captures ride the SAME
    * stream as page captures — no static politeness frame at all.
    * Each host's robots body compiles on arrival (one compile per
    * capture, host-keyed) and installs into that host's state, where
    * it gates every LATER candidate; a newer capture (event time,
    * doc_id tie-break — the latestPerUrl recency policy, applied in
    * state) replaces the rules, and a stale replay can never roll
    * them back. Within a micro-batch, robots rows apply BEFORE the
    * batch's candidates — the batch is one unordered arrival set, and
    * politeness gates with the freshest rules it has. Hosts whose
    * robots.txt has not arrived yet fail OPEN (the crawl-ecosystem
    * convention, same as the batch door's missing-body policy):
    * discovery-before-robots emits, and the budget those emissions
    * consumed stays consumed if rules later tighten — the cap check
    * runs against the CURRENT effective cap, so a host whose declared
    * Crawl-delay shrinks its budget below what it already emitted
    * simply stops emitting.
    *
    * Everything else is [[frontierStream]]: same candidate
    * projections, same tiered seen set (Bloom pre-prune + optional
    * `seenExact` stream-static anti-join), same optional scheduler
    * frames (`trapVerdicts`, `rankCaps`, `families` — with families,
    * the budget KEY is the component and each member host's robots
    * rules ride the family's state, host-indexed), same bounded
    * state (emitted-hash set capped at the budget; rules bounded by
    * the robots body cap x member hosts). Budget-epoch renewal is
    * deliberately NOT offered here: epoch-keyed groups would strand
    * a host's robots rules in the epoch that captured them — renewal
    * composes with the static-robots door ([[frontierStream]]),
    * where rules live outside the state. Output (host, url, rk),
    * append mode.
    *
    * LIVE HOST STATUS (round 20): with statuses in the frame, a
    * 429/503 carrying Retry-After installs its host's pause window
    * in-state, and every candidate whose event second sits inside it
    * is SKIPPED without spending a slot (zero fetches, not a probe —
    * the host asked; expiry is on the event clock, so replays agree);
    * `healthMinCaptures` > 0 additionally applies the q203 verdicts
    * LIVE — a member host answering >= 90% errors over at least that
    * many in-run observations collapses to its recovery probe, >= 50%
    * halves, fewer observations fail open. One union leg serves both
    * signals; the landed crawl_health/crawl_backoff manifests remain
    * the cross-cadence memory (in-run counters start from zero).
    *
    * LIVE ALIAS LEARNING (round 20; automatic when the frame carries
    * a `redirect` column): each 3xx capture installs src→dst into its
    * source host's budget group — the robots/trap precedent, one tier
    * deeper — and every later candidate resolves through the live map
    * (bounded hops, max-target tie rule — the batch resolveRedirects
    * spelling) BEFORE the emitted-hash dedup, so a 301 family
    * discovered mid-run spends ONE budget slot in the SAME running
    * query instead of waiting for the nightly landing. The static
    * `aliases` frame still composes (landed resolutions from a
    * previous cadence); the live map covers what THIS crawl
    * discovers. Per-group map capped at [[AliasMaxTrack]] entries;
    * cross-GROUP hops resolve no further in-run (each group holds its
    * own hosts' aliases — the nightly resolver closes cross-site
    * chains). Known in-run limit: the SEEN tier probes the candidate
    * spelling UPSTREAM of live resolution, so a new alias of an
    * already-landed page can emit its final target once this run (the
    * in-group emitted-hash dedup still bounds it to once); the next
    * cadence's landed alias table resolves that spelling BEFORE the
    * seen probe and closes the gap.
    *
    * `trapThreshold` > 0 closes the trap loop WITHOUT a restart:
    * every capture rides into its host's budget group as a
    * (url-hash, template-hash) observation — the exact q190 spelling
    * [[trapStream]] runs, via the same [[trapTrack]]/[[trapCount]]
    * machinery (exact to `trapMaxTrack`, HyperLogLog-honest past it)
    * — and a host whose live expansion crosses the threshold has its
    * effective cap collapse to 1 (the probe) for every later
    * candidate, in the same running query. The static `trapVerdicts`
    * frame still composes (landed verdicts from a previous cadence);
    * the live gate covers what this crawl discovers mid-flight.
    */
  /** Live alias-map bound per budget group: a group learns at most
    * this many src→dst pairs in-run; past it, new 301 families wait
    * for the nightly resolveRedirects landing (documented loss — the
    * cap is what keeps [[LiveBudgetState]] bounded on hosts that
    * redirect everything).
    */
  private[sources] val AliasMaxTrack = 1024

  /** Host of an already-CANONICAL url (lowercase, userinfo and www
    * gone, IDN-encoded — the streamCandidates precondition): the
    * authority minus any explicit :port. None when no scheme://host
    * parses — callers keep their original host attribution then.
    */
  private def canonHostOf(url: String): Option[String] = {
    val i = url.indexOf("://")
    if (i < 0) return None
    var j = i + 3
    val n = url.length
    while (j < n && url.charAt(j) != '/' && url.charAt(j) != '?' &&
           url.charAt(j) != '#') j += 1
    var hp = url.substring(i + 3, j)
    val c = hp.lastIndexOf(':')
    if (c >= 0 && c + 1 < hp.length &&
        hp.substring(c + 1).forall(_.isDigit)) hp = hp.substring(0, c)
    if (hp.isEmpty) None else Some(hp)
  }

  def frontierStreamLive(parsed: DataFrame,
                         seenBloom: Array[Byte],
                         agent: String,
                         perHostCap: Int = 64,
                         sitemaps: Boolean = false,
                         crawlDelayWindow: Double = 0.0,
                         seenExact: Option[DataFrame] = None,
                         trapVerdicts: Option[DataFrame] = None,
                         families: Option[DataFrame] = None,
                         rankCaps: Option[DataFrame] = None,
                         skipAssets: Boolean = true,
                         aliases: Option[DataFrame] = None,
                         trapThreshold: Double = 0.0,
                         trapMaxTrack: Int = 4096,
                         healthMinCaptures: Long = 0L): DataFrame = {
    val hosted =
      streamCandidates(parsed, seenBloom, sitemaps, seenExact, skipAssets,
                       aliases)
    // static scheduler caps fold into ONE per-row cap column via the
    // SAME composition the static door uses ([[schedulerCaps]] —
    // trap -> probe-only, rank budget -> least), minus robots (which
    // live in state here)
    val ranked = schedulerCaps(
      hosted.withColumn("scap", lit(perHostCap.toLong)),
      "scap", trapVerdicts, rankCaps)
    def familyKeyed(df: DataFrame): DataFrame = families match {
      case Some(fam) =>
        df.join(fam.select(col("host"), col("component"))
            .hint("shuffle_hash"), Seq("host"), "left")
          .select((Seq(coalesce(col("component"), col("host")).as("bkey"))
            ++ df.columns.map(col)): _*)
      case None =>
        df.select((Seq(col("host").as("bkey")) ++ df.columns.map(col)): _*)
    }
    val cand = familyKeyed(ranked)
      .select(col("bkey"), lit(1).as("kind"), col("host"), col("url"),
              lit("").as("rules"), lit(0.0).as("delay_s"),
              col("ts_s"), lit(0L).as("doc_id"), col("scap"),
              lit(0L).as("uh"), lit(0L).as("th"))
    // status-gated like the batch door ([[robotsCaptures]]): an HTML
    // 404/503 error body must not compile into the host's rule state.
    // Family-keyed too, so a member host's rules reach the family's
    // budget group.
    val robots = familyKeyed(robotsCaptures(parsed)
        .select(col("host"),
                Robots.robots_compile(col("text"), lit(agent))
                  .as("rules"),
                coalesce(Robots.robots_delay(col("text"), lit(agent)),
                         lit(0.0)).as("delay_s"),
                col("ts").cast("long").as("ts_s"),
                coalesce(col("doc_id"), lit(0L)).as("doc_id")))
      .select(col("bkey"), lit(0).as("kind"), col("host"),
              lit("").as("url"), col("rules"), col("delay_s"),
              col("ts_s"), col("doc_id"),
              lit(perHostCap.toLong).as("scap"),
              lit(0L).as("uh"), lit(0L).as("th"))
    // live trap detection (`trapThreshold` > 0): every CAPTURE rides
    // into its host's budget group as a (url-hash, template-hash)
    // observation — the q190 spelling, applied in state like robots —
    // so a host whose URL space explodes collapses to its probe in
    // the SAME running query, no restart, no nightly pass between
    val trapRows =
      if (trapThreshold <= 0.0) None
      else Some(familyKeyed(parsed
          .filter(!col("corrupt") && col("url").isNotNull)
          .select(Urls.canonicalize(col("url")).as("canon_url"))
          .filter(col("canon_url").isNotNull)
          .select(Urls.host(col("canon_url")).as("host"),
                  xxhash64(col("canon_url")).as("uh"),
                  xxhash64(regexp_replace(col("canon_url"), "[0-9]+", "N"))
                    .as("th"))
          .filter(col("host").isNotNull))
        .select(col("bkey"), lit(2).as("kind"), col("host"),
                lit("").as("url"), lit("").as("rules"),
                lit(0.0).as("delay_s"), lit(0L).as("ts_s"),
                lit(0L).as("doc_id"), lit(perHostCap.toLong).as("scap"),
                col("uh"), col("th")))
    // LIVE alias learning (kind = 3; automatic when the frame carries
    // a `redirect` column — the WARC shape): each 3xx capture rides
    // into its SOURCE host's budget group as (src-canon xxh64 in
    // `uh`, dst canon url in `url`), installing src→dst into the
    // group's alias map — so a 301 family discovered MID-RUN spends
    // one budget slot in the SAME running query, without waiting for
    // the nightly resolveRedirects landing (the robots/trap
    // precedent, one tier deeper).
    val aliasRows =
      if (!parsed.columns.contains("redirect")) None
      else Some(familyKeyed(parsed
          .filter(!col("corrupt") && col("url").isNotNull &&
            col("redirect").isNotNull)
          .select(Urls.canonicalize(col("url")).as("src_canon"),
                  Urls.canonicalize(col("redirect")).as("dst_canon"),
                  col("ts").cast("long").as("ts_s"),
                  coalesce(col("doc_id"), lit(0L)).as("doc_id"))
          .filter(col("src_canon").isNotNull &&
            col("dst_canon").isNotNull &&
            col("src_canon") =!= col("dst_canon"))
          .select(Urls.host(col("src_canon")).as("host"),
                  col("dst_canon"), col("ts_s"), col("doc_id"),
                  xxhash64(col("src_canon")).as("uh"))
          .filter(col("host").isNotNull))
        .select(col("bkey"), lit(3).as("kind"), col("host"),
                col("dst_canon").as("url"), lit("").as("rules"),
                lit(0.0).as("delay_s"), col("ts_s"), col("doc_id"),
                lit(perHostCap.toLong).as("scap"),
                col("uh"), lit(0L).as("th")))
    // LIVE host status observations (kind = 4): every status-bearing
    // capture rides into its host's budget group carrying (status in
    // `doc_id`, event second in `ts_s`, Retry-After seconds in `uh`,
    // -1 = none) — ONE leg serving both signals: an open Retry-After
    // window gates the host's candidates ON THE EVENT CLOCK (the host
    // said "not yet" — zero fetches, not a probe), and with
    // `healthMinCaptures` > 0 the in-run error share collapses a dead
    // host to its recovery probe / halves a degraded one (the q203
    // thresholds, applied live like traps). Added only when the frame
    // carries statuses and a consumer exists.
    val statusRows = {
      val hasSt = parsed.columns.contains("http_status")
      val hasRa = parsed.columns.contains("retry_after")
      if (!hasSt || (!hasRa && healthMinCaptures <= 0L)) None
      else {
        val raS =
          if (hasRa) coalesce(retry_after_s(col("retry_after"),
                                            col("ts")), lit(-1L))
          else lit(-1L)
        Some(familyKeyed(parsed
            .filter(!col("corrupt") && col("url").isNotNull &&
              col("http_status").isNotNull)
            .select(Urls.host(Urls.canonicalize(col("url"))).as("host"),
                    col("http_status").cast("long").as("status"),
                    col("ts").cast("long").as("ts_s"),
                    raS.as("ra_s"))
            .filter(col("host").isNotNull))
          .select(col("bkey"), lit(4).as("kind"), col("host"),
                  lit("").as("url"), lit("").as("rules"),
                  lit(0.0).as("delay_s"), col("ts_s"),
                  col("status").as("doc_id"),
                  lit(perHostCap.toLong).as("scap"),
                  col("ra_s").as("uh"), lit(0L).as("th")))
      }
    }
    val s = parsed.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    (trapRows.toSeq ++ aliasRows.toSeq ++ statusRows.toSeq)
      .foldLeft(cand.unionByName(robots))(_ unionByName _)
      .as[(String, Int, String, String, String, Double, Long, Long, Long,
           Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LiveBudgetState, (String, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var st = state.getOption.getOrElse(LiveBudgetState(
            Array.empty, Array.empty, Array.empty, Array.empty,
            Array.empty, Array.empty[Long],
            Array.empty, Array.empty, Array.empty, Array.empty,
            Array.empty[Long], Array.empty[String],
            Array.empty[Long], Array.empty[Long], Array.empty[Long]))
          val batch = rows.toArray
          // member-host slot: robots rules and trap tracking are both
          // host-indexed within the (possibly family-keyed) group
          def slot(host: String): Int = {
            val i = st.hosts.indexOf(host)
            if (i >= 0) i
            else {
              st = LiveBudgetState(st.hosts :+ host, st.rules :+ "",
                st.delays :+ 0.0, st.rulesTs :+ Long.MinValue,
                st.rulesDoc :+ Long.MinValue, st.emitted,
                st.trapUrls :+ Array.empty[Long],
                st.trapUrlHll :+ Array.empty[Byte],
                st.trapTmpls :+ Array.empty[Long],
                st.trapTmplHll :+ Array.empty[Byte],
                st.aliasSrc, st.aliasDst,
                st.backoffUntil :+ Long.MinValue,
                st.okN :+ 0L, st.errN :+ 0L)
              st.hosts.length - 1
            }
          }
          // 1. newest robots capture wins PER HOST (event time, then
          //    doc_id) — with families, one group carries each member
          //    host's rules side by side
          for ((_, kind, host, _, rules, delayS, tsS, docId, _, _, _)
               <- batch if kind == 0) {
            val i = slot(host)
            if (tsS > st.rulesTs(i) ||
                (tsS == st.rulesTs(i) && docId > st.rulesDoc(i))) {
              st.rules(i) = rules; st.delays(i) = delayS
              st.rulesTs(i) = tsS; st.rulesDoc(i) = docId
            }
          }
          // 1b. capture observations advance their host's trap sets
          //     BEFORE this batch's candidates gate (the trapStream
          //     convention: a verdict trips in the batch that exposes
          //     it) — exact to trapMaxTrack, HLL-honest past it
          for ((host, rs) <- batch.filter(_._2 == 2).groupBy(_._3)) {
            val i = slot(host)
            val (u, uH) = trapTrack(st.trapUrls(i), st.trapUrlHll(i),
              rs.iterator.map(_._10), trapMaxTrack)
            st.trapUrls(i) = u; st.trapUrlHll(i) = uH
            val (t, tH) = trapTrack(st.trapTmpls(i), st.trapTmplHll(i),
              rs.iterator.map(_._11), trapMaxTrack)
            st.trapTmpls(i) = t; st.trapTmplHll(i) = tH
          }
          // 1c. alias installs from this batch's 3xx captures, BEFORE
          //     candidates resolve (a family collapses in the batch
          //     that exposes it). Deduplication is the batch
          //     resolveRedirects tie rule — max target per source —
          //     so replays and arrival order cannot flip the map.
          //     Capped at AliasMaxTrack entries per group: past it,
          //     new aliases wait for the nightly landing (documented
          //     loss; the cap keeps the state bounded).
          for ((_, kind, _, dst, _, _, _, _, _, srcH, _)
               <- batch if kind == 3) {
            val i = st.aliasSrc.indexOf(srcH)
            if (i >= 0) {
              if (dst > st.aliasDst(i)) st.aliasDst(i) = dst
            } else if (st.aliasSrc.length < AliasMaxTrack) {
              st = st.copy(aliasSrc = st.aliasSrc :+ srcH,
                           aliasDst = st.aliasDst :+ dst)
            }
          }
          // 1d. status observations install per member host BEFORE
          //     candidates gate: error/ok counters (the live q203
          //     health signal) and the newest Retry-After expiry
          //     instant (max — a host keeps its longest request)
          for ((_, kind, host, _, _, _, tsS, status, _, raS, _)
               <- batch if kind == 4) {
            val i = slot(host)
            if (status >= 400L) st.errN(i) = st.errN(i) + 1L
            else st.okN(i) = st.okN(i) + 1L
            if (raS >= 0L && (status == 429L || status == 503L) &&
                tsS + raS > st.backoffUntil(i))
              st.backoffUntil(i) = tsS + raS
          }
          // candidate resolution through the LIVE map (bounded hops —
          // the resolveRedirects depth discipline); a hop landing on
          // a host outside this group resolves no further here (its
          // aliases live in ITS group), which is exactly the nightly
          // resolver's remit
          def resolveLive(url: String): String = {
            var cur = url
            var hops = 0
            while (hops < 4) {
              val h = org.apache.spark.sql.catalyst.expressions
                .XxHash64Function.hash(
                  org.apache.spark.unsafe.types.UTF8String
                    .fromString(cur),
                  org.apache.spark.sql.types.StringType, 42L)
              val i = st.aliasSrc.indexOf(h)
              if (i < 0) return cur
              cur = st.aliasDst(i)
              hops += 1
            }
            cur
          }
          // 2. candidates gate against THEIR host's installed rules
          //    (fail open when none arrived yet), then the budget:
          //    group cap = tightest candidate row's static cap ∧ its
          //    host's delay-derived cap ∧ the live trap collapse —
          //    the conservative-member rule of the static door
          def delayCap(host: String): Long = {
            val i = st.hosts.indexOf(host)
            val d = if (i < 0) 0.0 else st.delays(i)
            if (crawlDelayWindow > 0 && d > 0.0)
              math.min(perHostCap.toLong,
                math.max(1L, math.floor(crawlDelayWindow / d).toLong))
            else perHostCap.toLong
          }
          def rulesOf(host: String): String = {
            val i = st.hosts.indexOf(host)
            if (i < 0) "" else st.rules(i)
          }
          def trapped(host: String): Boolean = trapThreshold > 0.0 && {
            val i = st.hosts.indexOf(host)
            i >= 0 && {
              val nU = trapCount(st.trapUrls(i), st.trapUrlHll(i),
                                 trapMaxTrack)
              val nT = trapCount(st.trapTmpls(i), st.trapTmplHll(i),
                                 trapMaxTrack)
              nT > 0L && trapExpansion(nU, nT) >= trapThreshold
            }
          }
          val candRows = batch.filter(_._2 == 1)
          // memoized per host: the trap sets cannot change mid-loop
          // (observations applied in 1b), and trapCount's HLL
          // estimate is not free — compute once per member host, not
          // once per candidate row
          val trappedByHost = candRows.iterator.map(_._3).toSet
            .map((h: String) => h -> trapped(h)).toMap
          // live q203 health: a dead member host (error share >= 0.9
          // over >= healthMinCaptures in-run observations) collapses
          // to its recovery probe, a degraded one (>= 0.5) halves —
          // fail open below the observation floor, like the batch
          def healthCap(host: String): Long =
            if (healthMinCaptures <= 0L) Long.MaxValue
            else {
              val i = st.hosts.indexOf(host)
              if (i < 0) Long.MaxValue
              else {
                val n = st.okN(i) + st.errN(i)
                if (n < healthMinCaptures) Long.MaxValue
                else {
                  val share = st.errN(i).toDouble / n
                  if (share >= 0.9) 1L
                  else if (share >= 0.5)
                    math.max(perHostCap.toLong / 2L, 1L)
                  else Long.MaxValue
                }
              }
            }
          val healthByHost = candRows.iterator.map(_._3).toSet
            .map((h: String) => h -> healthCap(h)).toMap
          // live Retry-After: a candidate whose event second sits
          // inside its host's requested window is SKIPPED without
          // spending a slot — the host said "not yet", and the event
          // clock (not arrival luck) decides, so replays agree
          def backedOff(host: String, tsS: Long): Boolean = {
            val i = st.hosts.indexOf(host)
            i >= 0 && tsS < st.backoffUntil(i)
          }
          val cap =
            if (candRows.isEmpty) 0L
            else candRows.iterator.map { r =>
              val c = math.min(math.min(r._9, delayCap(r._3)),
                               healthByHost(r._3))
              if (trappedByHost(r._3)) math.min(c, 1L) else c
            }.min
          val emitted = scala.collection.mutable.LinkedHashSet(
            st.emitted: _*)
          val out = Vector.newBuilder[(String, String, Long)]
          for ((_, _, host, url0, _, _, tsS, _, _, _, _)
               <- candRows.sortBy(_._4)
               if emitted.size < cap) {
            // every spelling resolves to its live final target FIRST:
            // the emitted-hash dedup then charges the whole family
            // ONE budget slot, and robots AND the Retry-After window
            // gate the url that will actually be FETCHED (target
            // host's rules/window when it is a group member; fail
            // open otherwise — the convention). A backing-off
            // spelling must not suppress a fetch whose resolved
            // target is free, and a free spelling must not smuggle a
            // fetch into its target's requested pause.
            val url = resolveLive(url0)
            val rhost = if (url eq url0) host
                        else canonHostOf(url).getOrElse(host)
            if (!backedOff(rhost, tsS) &&
                Robots.allowedCompiled(url, rulesOf(rhost))) {
              val h = org.apache.spark.sql.catalyst.expressions
                .XxHash64Function.hash(
                  org.apache.spark.unsafe.types.UTF8String.fromString(url),
                  org.apache.spark.sql.types.StringType, 42L)
              if (!emitted.contains(h)) {
                emitted += h
                out += ((rhost, url, emitted.size.toLong))
              }
            }
          }
          state.update(st.copy(emitted = emitted.toArray))
          out.result().iterator
      }
      .toDF("host", "url", "rk")
  }

  /** STREAMING change tracker — the live twin of the batch recrawl
    * prior ([[graft.operators.WebGraph.recrawlPriority]]): each
    * arriving capture updates its page's (last fingerprint, captures,
    * changes) state and the page's current stats row emits per
    * micro-batch (append mode; downstream keeps latest-per-url). The
    * two estimators deliberately differ in what they can see: batch is
    * ORDER-BLIND (changes = distinct fingerprints - 1, a lower bound —
    * A->B->A counts once), while the stream sees arrival order and
    * counts actual TRANSITIONS (A->B->A counts twice), the finer
    * Cho/Garcia-Molina signal; captures inside one batch apply in
    * (event time, doc_id) order so replays are deterministic. Buckets
    * and change_share share the batch spelling (round-4dp, hot >= 0.5,
    * warm >= 0.1, unknown at one capture). State: three longs per
    * page, page-scale total — the standard streaming-dedup state
    * shape, disk-backed by the state store and keyed exactly like the
    * canonical-dedup path. `idleTtlS` > 0 bounds it for UNBOUNDED
    * crawls: a page idle past the TTL on the event clock evicts and a
    * re-arrival re-learns from scratch (documented loss — its change
    * history restarts); the watermark delay equals the TTL, so the
    * row-drop cutoff never loses a capture eviction would have kept.
    * Default 0 = NoTimeout, no watermark, no loss — the pre-r19
    * behavior, unchanged.
    */
  def changeTrackStream(parsed: DataFrame,
                        idleTtlS: Long = 0L): DataFrame = {
    val s = parsed.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // a WARC frame's revisit rows (WARC-Type: revisit — "content
    // unchanged", no body) COUNT as captures but never as changes;
    // their fp is None. A JSONL frame has no revisit column — all
    // rows are real bodies there. Status-aware like refetchStream
    // (round 20): an error capture (status >= 400) never fingerprints
    // — a page that starts serving 404/503 error pages must not
    // register its error BODY as a content transition and read as
    // "hot" — entering error from a fingerprinted history counts one
    // change, staying in error none; 1xx/3xx are neutral. Frames
    // without an http_status column are all-OK, the pre-r20 behavior.
    val rev =
      if (parsed.columns.contains("revisit"))
        coalesce(col("revisit"), lit(false))
      else lit(false)
    val status =
      if (parsed.columns.contains("http_status")) col("http_status")
      else lit(null).cast("int")
    val isErr = status.isNotNull && status >= 400 && !rev
    val isOk = (status.isNull || (status >= 200 && status < 300)) &&
      col("text").isNotNull && !rev
    val clsCol = when(rev, lit(1)).when(isErr, lit(2))
      .when(isOk, lit(0)).otherwise(lit(3))
    val caps0 = parsed
      .filter(!col("corrupt") && col("url").isNotNull &&
        (col("text").isNotNull || rev || isErr))
      .select(Urls.canonicalize(col("url")).as("canon_url"),
              when(clsCol =!= 0, lit(null).cast("long"))
                .otherwise(xxhash64(col("text"))).as("fp"),
              col("ts").cast("long").as("ts_s"),
              coalesce(col("doc_id"), lit(0L)).as("doc_id"),
              col("ts").as("_wm"),
              clsCol.as("cls"))
      .filter(col("canon_url").isNotNull)
    // opt-in state bound for unbounded crawls: pages idle past the
    // TTL on the EVENT clock evict (a re-arrival re-learns from
    // scratch — documented loss); the watermark delay equals the TTL,
    // so the drop cutoff never loses a row eviction would have kept
    val caps =
      if (idleTtlS > 0L) caps0.withWatermark("_wm", s"$idleTtlS seconds")
      else caps0
    val timeoutConf =
      if (idleTtlS > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    caps.as[(String, Option[Long], Long, Long, java.sql.Timestamp, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ChangeTrackState,
                              (String, Long, Long, Double, String)](
        OutputMode.Append, timeoutConf) {
        (url, rows, state) =>
          if (state.hasTimedOut) {
            // idle eviction: the page sat unseen past the TTL on the
            // EVENT clock — a re-arrival re-learns from scratch
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              ChangeTrackState(0L, false, 0L, 0L, Long.MinValue))
            for ((_, fpOpt, tsS, _, _, cls)
                 <- rows.toArray.sortBy(r => (r._3, r._4))) {
              cls match {
                case 1 => // revisit: a capture, asserted unchanged
                  st = st.copy(nCaptures = st.nCaptures + 1L)
                case 2 => // error: one change on ENTRY, none after
                  if (st.hasFp && st.errStreak == 0L)
                    st = st.copy(nChanges = st.nChanges + 1L)
                  st = st.copy(nCaptures = st.nCaptures + 1L,
                               errStreak = st.errStreak + 1L)
                case 3 => // neutral 1xx/3xx observation
                  st = st.copy(nCaptures = st.nCaptures + 1L)
                case _ =>
                  val fp = fpOpt.get
                  if (st.hasFp && fp != st.lastFp)
                    st = st.copy(nChanges = st.nChanges + 1L)
                  st = st.copy(lastFp = fp, hasFp = true,
                               nCaptures = st.nCaptures + 1L,
                               errStreak = 0L)
              }
              if (tsS > st.lastTsS) st = st.copy(lastTsS = tsS)
            }
            state.update(st)
            // eviction anchors on the STATE's newest capture: a late
            // older duplicate in this batch must not pull the timer
            // earlier than TTL-since-newest
            if (idleTtlS > 0L && st.lastTsS != Long.MinValue)
              state.setTimeoutTimestamp(math.max(
                (st.lastTsS + idleTtlS) * 1000L,
                state.getCurrentWatermarkMs + 1000L))
            val share = BigDecimal(
                st.nChanges.toDouble / math.max(st.nCaptures - 1L, 1L))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            val bucket =
              if (st.nCaptures == 1L) "unknown"
              else if (share >= 0.5) "hot"
              else if (share >= 0.1) "warm"
              else "cold"
            Iterator.single((url, st.nCaptures, st.nChanges, share,
                             bucket))
          }
      }
      .toDF("canon_url", "n_captures", "n_changes", "change_share",
            "bucket")
  }

  /** STREAMING trap detector — the live twin of the batch
    * [[graft.operators.WebGraph.crawlTraps]] (q190): each arriving
    * capture updates its HOST's (distinct URLs, distinct templates)
    * state and the host's current verdict row emits per micro-batch
    * (append mode; downstream keeps latest-per-host — n_urls is
    * monotone, so max(n_urls) IS latest). Same spelling as batch:
    * template = canonical URL with digit runs collapsed to `N`,
    * expansion = n_urls / n_templates, verdict `trap` at >=
    * threshold. A trap host trips the verdict LIVE — within the
    * micro-batch that exposes it — instead of waiting for the
    * nightly batch pass; land the verdicts (latest per host) and the
    * next frontier restart consumes them as its `trapVerdicts` frame.
    *
    * Distinct counting is EXACT up to `maxTrack` per set (xxh64 hash
    * sets in state); a set that outgrows the bound collapses into a
    * 256-register HyperLogLog seeded from the tracked hashes, so the
    * count stays HONEST (±~7%) no matter how often untracked values
    * re-arrive — refetch traffic is idempotent against a sketch,
    * where a naive overflow counter would drift with every
    * re-arrival. Hosts small enough to matter for parity (the honest
    * majority) never saturate and stay exact; the approximate band
    * only starts thousands of URLs in, where the verdict margin is
    * wide. State per host bounded at 2 x maxTrack x 8 B before
    * saturation, 256 B per saturated set after.
    */
  def trapStream(parsed: DataFrame, threshold: Double,
                 maxTrack: Int = 4096): DataFrame = {
    val s = parsed.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val caps = parsed
      .filter(!col("corrupt") && col("url").isNotNull)
      .select(Urls.canonicalize(col("url")).as("canon_url"))
      .filter(col("canon_url").isNotNull)
      .withColumn("host", Urls.host(col("canon_url")))
      .filter(col("host").isNotNull)
      .select(col("host"), xxhash64(col("canon_url")).as("uh"),
        xxhash64(regexp_replace(col("canon_url"), "[0-9]+", "N"))
          .as("th"))
    caps.as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TrapTrackState,
                              (String, Long, Long, Double, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host, rows, state) =>
          val st = state.getOption.getOrElse(
            TrapTrackState(Array.empty, Array.empty,
                           Array.empty, Array.empty))
          val batch = rows.toArray
          val (urls, uHll) = trapTrack(st.urls, st.urlHll,
            batch.iterator.map(_._2), maxTrack)
          val (tmpls, tHll) = trapTrack(st.templates, st.tmplHll,
            batch.iterator.map(_._3), maxTrack)
          state.update(TrapTrackState(urls, uHll, tmpls, tHll))
          val nUrls = trapCount(urls, uHll, maxTrack)
          val nTmpl = trapCount(tmpls, tHll, maxTrack)
          val expansion = trapExpansion(nUrls, nTmpl)
          Iterator.single((host, nUrls, nTmpl, expansion,
            if (expansion >= threshold) "trap" else "ok"))
      }
      .toDF("host", "n_urls", "n_templates", "expansion", "verdict")
  }

  /** Advance one trap-tracking set + its saturation sketch (shared by
    * [[trapStream]] and [[frontierStreamLive]]'s in-state trap gate —
    * ONE spelling, so the standalone detector and the live door
    * cannot diverge): exact LinkedHashSet membership up to `maxTrack`
    * distinct hashes; at saturation the set folds into a 256-register
    * HyperLogLog, from which point distinct counting is idempotent
    * under re-arrivals instead of drifting with them.
    */
  private[sources] def trapTrack(set0: Array[Long], hll0: Array[Byte],
                                 hs: Iterator[Long], maxTrack: Int)
      : (Array[Long], Array[Byte]) = {
    var hll = hll0
    val set = scala.collection.mutable.LinkedHashSet(set0: _*)
    for (h <- hs) {
      if (hll.nonEmpty) Hll.add(hll, h)
      else if (!set.contains(h)) {
        if (set.size < maxTrack) set += h
        else {
          hll = new Array[Byte](Hll.M)
          set.foreach(Hll.add(hll, _))
          Hll.add(hll, h)
          set.clear()
        }
      }
    }
    (set.toArray, hll)
  }

  /** Distinct count of a tracked set: exact below saturation, the
    * sketch estimate (floored at `maxTrack` — the count can never be
    * below what was exactly tracked) after.
    */
  private[sources] def trapCount(set: Array[Long], hll: Array[Byte],
                                 maxTrack: Int): Long =
    if (hll.isEmpty) set.length.toLong
    else math.max(maxTrack.toLong, Hll.estimate(hll))

  /** The q190 expansion spelling: urls / templates, round-4dp. */
  private[sources] def trapExpansion(nUrls: Long, nTmpl: Long): Double =
    if (nTmpl <= 0L) 0.0
    else BigDecimal(nUrls.toDouble / nTmpl.toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Reduce a LANDED [[trapStream]] output (append-mode parquet — one
    * row per host per micro-batch that touched it) to each host's
    * LATEST verdict row: `n_urls` is monotone per host by
    * construction, so the argmax-by-n_urls row IS the newest (struct
    * max — the A4 arg-max aggregation, no window sort). The result is
    * exactly the `trapVerdicts` frame the frontier doors consume —
    * closing the live loop: trapStream → parquet sink →
    * latestTrapVerdicts → `frontierStream(trapVerdicts = ...)` on the
    * next crawl cadence, no nightly batch pass in between.
    */
  def latestTrapVerdicts(landed: DataFrame): DataFrame =
    landed.groupBy("host")
      .agg(max(struct(col("n_urls"), col("n_templates"),
        col("expansion"), col("verdict"))).as("m"))
      .select(col("host"), col("m.n_urls").as("n_urls"),
        col("m.n_templates").as("n_templates"),
        col("m.expansion").as("expansion"),
        col("m.verdict").as("verdict"))

  /** Land the streaming frontier as parquet — the fetch list a crawler
    * tails. Append-mode file sink with exactly-once file tracking,
    * started through [[graft.Door.drain]]: each run drains what has
    * landed and stops, so a scheduler can run discovery as a cadenced
    * job over the same checkpoint.
    */
  def startFrontierSink(frontier: DataFrame, dir: String,
                        checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.Door.drain(frontier, checkpointDir)
      .format("parquet")
      .option("path", dir)
      .start()

  /** Keep the responses a curation pipeline should ingest: HTTP
    * status 2xx, statusless captures (non-HTTP blocks, JSONL-fed
    * frames), and corrupt rows (they are accounting, not content —
    * dropping them here would hide damage from the audit family).
    * Real CC pipelines keep only 200s; error pages and redirect stubs
    * otherwise reach the quality gates as deterministic junk.
    */
  def okResponses(parsed: DataFrame): DataFrame =
    parsed.filter(col("corrupt") || col("http_status").isNull ||
      (col("http_status") >= 200 && col("http_status") < 300))

  /** The conditional-GET table a recrawler fetches FROM: each
    * canonical page's latest captured validators — Last-Modified (as
    * both the verbatim header and a parsed timestamp) and ETag (RFC
    * 9110 §8.8; sent back as If-Modified-Since / If-None-Match so an
    * unchanged page costs a 304, not a body transfer). Latest capture
    * wins (event time, doc_id — the [[latestPerUrl]] policy); pages
    * whose captures carry no validator drop (nothing to revalidate
    * with — they stay on the unconditional path). Composes with
    * [[graft.operators.WebGraph.recrawlPriority]]: declared
    * freshness beside the observed change rate. One window over the
    * near-unique canonical key — the latestPerUrl shape.
    */
  /** RFC 9111 declared freshness LIFETIME in seconds, or null when
    * nothing usable is declared — ONE spelling (pure column math, a
    * codegen'd projection) consumed by the batch due pricing
    * ([[graft.operators.WebGraph.declaredLifetime]], q200) and
    * [[refetchStream]]'s interval cap alike. Precedence per the RFC:
    *   - `no-cache` / `no-store` directives -> 0 (the host demands
    *     revalidation every time — the declared interval is "now");
    *   - `max-age=N` (delta-seconds token, digit-run with a directive
    *     boundary on both sides — `max-age=60x`, `max-age=abc`, and
    *     the quoted form are garbage and fall through) -> N;
    *   - else a parseable `Expires` IMF-fixdate -> seconds from the
    *     CAPTURE instant to expiry, floored at 0 (the response's own
    *     Date header is not lifted; capture time is the WARC-Date —
    *     the documented approximation, biased late by transit time);
    *   - else null (undeclared — the observed change rate alone
    *     prices the revisit).
    * `s-maxage` is deliberately ignored: it binds shared caches, and
    * a crawler re-serving nothing is closer to a private consumer.
    */
  def max_age_s(cacheControl: Column, expires: Column,
                capturedTs: Column): Column = {
    val cc = coalesce(cacheControl, lit(""))
    val noCache = cc.rlike("(?i)(^|[,\\s])no-(cache|store)($|[,\\s=])")
    val ma = regexp_extract(cc,
      "(?i)(^|[,\\s])max-age=([0-9]{1,15})($|[,\\s])", 2)
    val exp = try_to_timestamp(
      regexp_replace(expires, "^[A-Za-z]+, ", ""),
      lit("dd MMM yyyy HH:mm:ss 'GMT'"))
    when(noCache, lit(0L))
      .when(ma =!= "", ma.cast("long"))
      .when(exp.isNotNull,
        greatest(unix_seconds(exp) - capturedTs.cast("long"), lit(0L)))
      .otherwise(lit(null).cast("long"))
  }

  /** RFC 9110 §10.2.3 Retry-After in seconds, or null when absent or
    * garbage — the 429/503 politeness signal: the host itself asking
    * for a pause before the next attempt. Accepts both spec forms —
    * delay-seconds (a bare digit run) and an IMF-fixdate (seconds
    * from the CAPTURE instant, floored at 0, the [[max_age_s]]
    * approximation). Pure codegen'd column math; consumed by
    * [[graft.operators.WebGraph.hostBackoff]] (q202).
    */
  def retry_after_s(retryAfter: Column, capturedTs: Column): Column = {
    val ra = coalesce(retryAfter, lit(""))
    val secs = regexp_extract(ra, "^([0-9]{1,15})$", 1)
    val date = try_to_timestamp(
      regexp_replace(ra, "^[A-Za-z]+, ", ""),
      lit("dd MMM yyyy HH:mm:ss 'GMT'"))
    when(secs =!= "", secs.cast("long"))
      .when(date.isNotNull,
        greatest(unix_seconds(date) - capturedTs.cast("long"), lit(0L)))
      .otherwise(lit(null).cast("long"))
  }

  /** Soft-404 heuristic (q204): a 2xx/statusless capture whose BODY
    * is an error page — the classic transport lie (Bar-Yossef et al.,
    * "Sic transit gloria telae", WWW'04) that poisons everything
    * downstream: the error body fingerprints as content (so the page
    * reads as CHANGED — the exact failure q199's status gate closes
    * for honest 404s), enters content dedup, and pollutes the doc
    * corpus. Deterministic column math, no model: an error PHRASE in
    * the first 4 KiB ("page not found", "error 404", "no longer
    * available/exists", "does not exist", "has been removed/
    * deleted") AND a short body (< 2048 chars — real articles that
    * merely mention a phrase stay clear). Real error statuses return
    * FALSE — they are already priced honestly; this flag exists for
    * the lying 200s. Compose by re-mapping status before the pricing
    * operators: `when(soft404(text, status), 404).otherwise(status)`
    * hands q199/q203 the truth the transport withheld.
    */
  def soft404(text: Column, httpStatus: Column): Column = {
    val head = lower(substring(coalesce(text, lit("")), 1, 4096))
    val phrase = head.rlike(
      "(page|file|document)\\s+not\\s+found|error\\s*404|" +
        "no\\s+longer\\s+(available|exists)|" +
        "(does\\s+not|doesn.t)\\s+exist|" +
        "has\\s+been\\s+(removed|deleted)")
    (httpStatus.isNull || (httpStatus >= 200 && httpStatus < 300)) &&
      phrase && length(coalesce(text, lit(""))) < 2048
  }

  def revisitValidators(parsed: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canon_url")
      .orderBy(col("ts").desc, col("doc_id").desc)
    parsed.filter(!col("corrupt") && col("url").isNotNull &&
        (col("last_modified").isNotNull || col("etag").isNotNull))
      .withColumn("canon_url", Urls.canonicalize(col("url")))
      .filter(col("canon_url").isNotNull)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("canon_url"), col("last_modified"),
              // IMF-fixdate ("Sun, 06 Nov 1994 08:49:37 GMT"): the
              // day name is redundant — strip it and pin GMT, which
              // sidesteps Spark's ban on week-field parse patterns
              try_to_timestamp(
                regexp_replace(col("last_modified"), "^[A-Za-z]+, ", ""),
                lit("dd MMM yyyy HH:mm:ss 'GMT'"))
                .as("last_modified_ts"),
              col("etag"), col("ts").as("captured_ts"))
  }

  /** STREAMING twin of [[revisitValidators]] — the conditional-GET
    * table maintained live: each arriving capture with a validator
    * updates its canonical page's state when it is the newest seen
    * (event time, doc_id — the same recency policy as the batch
    * window), and the page's current validators emit per micro-batch
    * (append mode; downstream keeps latest-per-page, or lands them
    * through the KV upsert path). State: three strings + two longs
    * per validator-carrying page — the latest-per-key streaming
    * shape. Output matches the batch columns (canon_url,
    * last_modified, last_modified_ts, etag, captured_ts); the capture
    * timestamp threads through state at FULL epoch-microsecond
    * precision, so WARC 1.1 millisecond dates round-trip and the
    * stream==batch column parity is exact, not truncated-to-seconds.
    * `idleTtlS` > 0 opts into the changeTrackStream TTL semantics
    * (idle pages evict on the event clock; re-arrival re-learns).
    */
  def validatorsStream(parsed: DataFrame,
                       idleTtlS: Long = 0L): DataFrame = {
    val s = parsed.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val caps0 = parsed.filter(!col("corrupt") && col("url").isNotNull &&
        (col("last_modified").isNotNull || col("etag").isNotNull))
      .select(Urls.canonicalize(col("url")).as("canon_url"),
              col("last_modified"), col("etag"),
              unix_micros(col("ts")).as("ts_us"),
              coalesce(col("doc_id"), lit(0L)).as("doc_id"),
              col("ts").as("_wm"))
      .filter(col("canon_url").isNotNull)
    // opt-in state bound (the changeTrackStream TTL semantics): idle
    // pages evict on the event clock; watermark delay = the TTL
    val caps =
      if (idleTtlS > 0L) caps0.withWatermark("_wm", s"$idleTtlS seconds")
      else caps0
    val timeoutConf =
      if (idleTtlS > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    caps.as[(String, String, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ValidatorState,
                              (String, String, String, Long)](
        OutputMode.Append, timeoutConf) {
        (url, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              ValidatorState(null, null, Long.MinValue, Long.MinValue))
            for ((_, lm, et, tsUs, docId, _) <- rows)
              if (tsUs > st.ts || (tsUs == st.ts && docId > st.docId))
                st = ValidatorState(lm, et, tsUs, docId)
            state.update(st)
            if (idleTtlS > 0L && st.ts != Long.MinValue)
              state.setTimeoutTimestamp(math.max(
                st.ts / 1000L + idleTtlS * 1000L,
                state.getCurrentWatermarkMs + 1000L))
            Iterator.single((url, st.lastModified, st.etag, st.ts))
          }
      }
      .toDF("canon_url", "last_modified", "etag", "ts_us")
      .select(col("canon_url"), col("last_modified"),
              try_to_timestamp(
                regexp_replace(col("last_modified"), "^[A-Za-z]+, ", ""),
                lit("dd MMM yyyy HH:mm:ss 'GMT'"))
                .as("last_modified_ts"),
              col("etag"),
              timestamp_micros(col("ts_us")).as("captured_ts"))
  }

  /** The recrawl EXECUTION door: the stream that turns q188's pricing
    * into fetchable work. Each arriving capture updates its page's
    * fused state — the change-tracking triple
    * ([[changeTrackStream]]'s estimator: actual TRANSITIONS in
    * (event time, doc_id) order) beside the latest-capture validators
    * ([[validatorsStream]]'s recency policy) — and the page's current
    * refetch row emits per micro-batch:
    *
    *   (canon_url, host, n_captures, n_changes, score_e12,
    *    if_modified_since, if_none_match)
    *
    * `score_e12` is q188's exact-integer spelling — rank_e12 *
    * (1 + n_changes) — with rank joined stream-static from the landed
    * `host_rank_v1` artifact ([[graft.operators.WebGraph
    * .hostRankTable]] output; host-sized, shuffle-pinned, never
    * broadcast). Hosts the rank table has never seen keep their pages
    * at rank 0: still listed, priced last (q188's batch queue drops
    * them — the stream door must not lose pages, a crawler can always
    * refetch at leisure). The validator columns are the conditional
    * GET: send `if_none_match` as If-None-Match / `if_modified_since`
    * as If-Modified-Since and an unchanged page costs a 304, not a
    * body (q192 prices exactly that economy). Pages with no captured
    * validator carry nulls — unconditional refetch.
    *
    * Pair with [[startRefetchSink]] to land ranked per-window refetch
    * lists, and with `frontierStream(budgetEpochS = ...)` so refetch
    * traffic draws renewed per-epoch budgets. State: four longs +
    * two strings + two longs per page — the two parent states fused,
    * page-scale, disk-backed.
    *
    * Round-19 extensions, all exact-integer (the q101 convention):
    *
    *   - `declared` (optional stream-static frame, (canon_url,
    *     changefreq) — [[sitemapEntries]] hints): q193's declared-
    *     freshness blend multiplies into the live price,
    *     (1 + [[graft.operators.WebGraph.changefreqWeight]]). With
    *     `staleBoostS` = 0 the stream's score equals
    *     [[graft.operators.WebGraph.declaredFreshnessQueue]] on
    *     shared pages (RefetchStreamSpec pins it).
    *   - `staleBoostS` > 0 adds the validator-staleness term: x (1 +
    *     validator_age div staleBoostS), where validator age = the
    *     event-time gap between the page's newest capture and the
    *     capture that last refreshed its validators — deterministic
    *     on the event clock, 0 for pages with no validators.
    *   - `dueBaseS` > 0 turns the door into a SCHEDULER, not a
    *     re-pricer: each page arms an event-time timer at its
    *     next-due instant, lastCapture + dueBaseS div (1 + n_changes)
    *     (the Cho/Garcia-Molina interval — observed churn shortens
    *     the revisit), and when the stream's watermark passes it with
    *     NO new arrival the state FIRES: the page emits into that
    *     window's fetch list with its conditional-GET columns, then
    *     re-arms one interval ahead. A hot page the crawl stops
    *     touching keeps surfacing — the exact page a recrawler exists
    *     to revisit; a cold page's far-off due instant never fires
    *     inside the horizon. `dueLateS` is the watermark delay
    *     (arrival-lateness tolerance; rows older than it DROP —
    *     the budgetLateEpochs precedent), a cost the non-due door
    *     never pays: enabling due mode is what introduces the drop
    *     cutoff. The default is one hour; WARC backfills carry
    *     widely out-of-order timestamps, so replay-heavy callers
    *     should size dueLateS to their batch skew EXPLICITLY (the
    *     trade: a larger delay fires due wakeups later by the same
    *     amount on the event clock). q196_refetch_due is the
    *     oracled batch twin of the due rule.
    *   - `idleTtlS` > 0 (mutually exclusive with due mode — one
    *     event-time timer per group) bounds state for unbounded
    *     crawls: a page idle past the TTL on the event clock EVICTS,
    *     and a re-arrival re-learns from scratch (documented loss;
    *     the watermark delay equals the TTL, so the drop cutoff never
    *     loses a row eviction would have kept).
    *   - `sitemapLastmod` = true runs the declared-INSTANT channel
    *     (q197) live: sitemap bodies riding the same stream announce
    *     per-page `<lastmod>` days, and an announcement newer than
    *     BOTH the page's last capture day and every previously-
    *     announced day surfaces the page into this window's fetch
    *     list — no capture of the page itself, the sitemap capture
    *     IS the arrival. Re-offered sitemaps never re-trigger
    *     (`declaredDay` in state); never-captured pages create no
    *     state (discovery is the frontier's job, not the recrawler's).
    *   - STATUS-AWARE pricing (round 20; frames without an
    *     `http_status` column — JSONL feeds — are all-OK): an error
    *     capture (status >= 400) never fingerprints, so an error BODY
    *     cannot register content transitions; entering error from a
    *     fingerprinted history counts ONE change (a 200→404→200 flap
    *     prices once, not twice), 1xx/3xx are neutral observations,
    *     and the output's `err_streak` column (trailing consecutive
    *     errors, reset by any 2xx) DIVIDES the live price — a dying
    *     page sinks instead of climbing. In due mode, `dueErrCancel`
    *     consecutive errors (default 3; <= 0 disables) CANCEL the
    *     page's due timer: a deleted page stops waking up at base
    *     interval forever, and a later OK capture re-arms it with its
    *     learned history intact. q199_status_demotion is the oracled
    *     batch twin of the error rule.
    *   - QUIET-CRAWL CAVEAT (due mode): event-time timers fire when
    *     the WATERMARK passes them, and the watermark only advances
    *     on new arrivals — a crawl that goes fully quiet never fires
    *     its due pages. This is how Spark event time works, not a
    *     bug, and the production fix is `heartbeats`: an optional
    *     streaming frame of bare `ts` ticks (a rate/interval source
    *     mapped to timestamps) unioned into the capture stream. Tick
    *     rows advance the watermark and create NO page state (they
    *     ride under one sentinel key that never stores anything), so
    *     a batch containing ONLY heartbeats still fires every due
    *     timer the ticks' event time has passed. Ticks should carry
    *     the crawler's own clock; they are dropped rows like any
    *     other if they lag the watermark.
    *   - `dueMaxFires` > 0 BOUNDS due-mode state (which otherwise
    *     grows monotonically — due and idleTtlS are mutually
    *     exclusive, one timer per group): a page whose wakeups go
    *     unanswered `dueMaxFires` times in a row — no capture between
    *     fires — emits its last wakeup and EVICTS. A cold page stops
    *     firing forever and stops occupying the state store
    *     (documented loss, the idleTtlS precedent: a re-arrival
    *     re-learns from scratch); any capture resets the count.
    */
  /** "Cancelled" due-timer sentinel: the GroupState API has no
    * removeTimeout, so a cancelled timer parks at an event-time
    * instant no real watermark reaches (~74 million years AD; /4
    * keeps every downstream ms/us arithmetic overflow-free).
    */
  private val NeverMs = Long.MaxValue / 4

  def refetchStream(parsed: DataFrame, ranks: DataFrame,
                    declared: Option[DataFrame] = None,
                    staleBoostS: Long = 0L,
                    dueBaseS: Long = 0L,
                    dueLateS: Long = 3600L,
                    idleTtlS: Long = 0L,
                    sitemapLastmod: Boolean = false,
                    dueErrCancel: Int = 3,
                    heartbeats: Option[DataFrame] = None,
                    dueMaxFires: Int = 0): DataFrame = {
    require(dueBaseS <= 0L || idleTtlS <= 0L,
      "refetchStream: due-time wakeups and idle-TTL eviction share " +
        "the one per-group event-time timer — enable at most one")
    val s = parsed.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // revisit rows (WARC-Type: revisit — the 304 economy's "content
    // unchanged" capture) count as captures, never as changes, and
    // their refreshed validators ride; fp travels as None. JSONL
    // frames have no revisit column — every row is a real body.
    val rev =
      if (parsed.columns.contains("revisit"))
        coalesce(col("revisit"), lit(false))
      else lit(false)
    // status-aware capture classes (round 20): an ERROR body
    // (http_status >= 400) is not content — it never fingerprints, so
    // a page that starts serving 404/503 error pages cannot register
    // fingerprint transitions and climb its own queue. ENTERING error
    // from a fingerprinted history counts exactly ONE change (the
    // page did change: it went away), staying in error counts none,
    // and recovering to the same body counts none — a 200→404→200
    // flap prices as one change, not two. Statusless rows (JSONL
    // frames carry no http_status column) stay on the OK path; 1xx/
    // 3xx captures are NEUTRAL (not content, not death — a redirect
    // body neither fingerprints nor touches the error streak).
    val status =
      if (parsed.columns.contains("http_status")) col("http_status")
      else lit(null).cast("int")
    val isErr = status.isNotNull && status >= 400 && !rev
    val isOk = (status.isNull || (status >= 200 && status < 300)) &&
      col("text").isNotNull && !rev
    val clsCol = when(rev, lit(1)).when(isErr, lit(2))
      .when(isOk, lit(0)).otherwise(lit(3))
    // RFC 9111 declared lifetime riding each OK capture (WARC frames;
    // JSONL feeds carry no header columns -> none declared). -1 =
    // undeclared, so the Option never round-trips through state.
    val maCol =
      if (parsed.columns.contains("cache_control"))
        coalesce(max_age_s(col("cache_control"), col("expires"),
                           col("ts")), lit(-1L))
      else lit(-1L)
    val capRows0 = parsed
      .filter(!col("corrupt") && col("url").isNotNull &&
        (col("text").isNotNull || rev || isErr))
      .select(Urls.canonicalize(col("url")).as("canon_url"),
              lit(0).as("kind"),
              when(clsCol =!= 0, lit(null).cast("long"))
                .otherwise(xxhash64(col("text"))).as("fp"),
              col("last_modified"), col("etag"),
              unix_micros(col("ts")).as("ts_us"),
              coalesce(col("doc_id"), lit(0L)).as("doc_id"),
              lit(0L).as("lm_day"),
              // the event-time column the due/TTL timers ride (its
              // watermark metadata must REACH the stateful operator
              // — the frontierStream convention)
              col("ts").as("_wm"),
              clsCol.as("cls"),
              maCol.as("ma"))
      .filter(col("canon_url").isNotNull)
    // the declared-instant channel LIVE (`sitemapLastmod`): sitemap
    // bodies riding the same stream (content sniff — the
    // streamCandidates rule) announce per-page <lastmod> days; an
    // announcement NEWER than a page's last capture surfaces the page
    // into this window's fetch list with no capture of the page
    // itself — the q197 trigger, stream-native (the sitemap capture
    // IS the arrival)
    val caps0 =
      if (!sitemapLastmod) capRows0
      else {
        val lmRows = parsed
          .filter(!col("corrupt") && col("url").isNotNull &&
            col("text").isNotNull &&
            isSitemapCapture(col("url"), col("text")))
          .select(unix_micros(col("ts")).as("ts_us"),
                  col("ts").as("_wm"),
                  explode(Sitemaps.extract_sitemap(col("text"))).as("e"))
          .filter(col("e.kind") === "page" && col("e.lastmod").isNotNull)
          .select(Urls.canonicalize(col("e.url")).as("canon_url"),
                  lit(1).as("kind"),
                  lit(null).cast("long").as("fp"),
                  lit(null).cast("string").as("last_modified"),
                  lit(null).cast("string").as("etag"),
                  col("ts_us"), lit(0L).as("doc_id"),
                  // the q197 epoch-day spelling (ONE helper, shared
                  // with the batch twin): garbage -> null -> dropped
                  Sitemaps.lastmod_day(col("e.lastmod")).as("lm_day"),
                  col("_wm"), lit(3).as("cls"), lit(-1L).as("ma"))
          .filter(col("canon_url").isNotNull && col("lm_day").isNotNull)
        capRows0.unionByName(lmRows)
      }
    // heartbeat ticks (kind = 2): watermark fuel for quiet crawls —
    // they reach the stateful operator (the watermark column must),
    // land under one sentinel group that never updates state, and
    // emit nothing. See the quiet-crawl caveat in the doc.
    val caps1 = heartbeats match {
      case Some(hb) =>
        caps0.unionByName(hb.select(
          lit("tick://heartbeat").as("canon_url"),
          lit(2).as("kind"), lit(null).cast("long").as("fp"),
          lit(null).cast("string").as("last_modified"),
          lit(null).cast("string").as("etag"),
          unix_micros(col("ts")).as("ts_us"),
          lit(0L).as("doc_id"), lit(0L).as("lm_day"),
          col("ts").as("_wm"), lit(3).as("cls"), lit(-1L).as("ma")))
      case None => caps0
    }
    val timed = dueBaseS > 0L || idleTtlS > 0L
    val caps =
      if (dueBaseS > 0L)
        caps1.withWatermark("_wm", s"${math.max(dueLateS, 0L)} seconds")
      else if (idleTtlS > 0L)
        // lateness tolerance = the TTL itself: a capture arriving
        // later than the TTL would find its page state evicted anyway,
        // so the watermark drop changes nothing it could have kept
        caps1.withWatermark("_wm", s"$idleTtlS seconds")
      else caps1
    val timeoutConf =
      if (timed) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    // the Cho/Garcia-Molina interval, exact-integer (the q196
    // spelling): base div (1 + observed changes) — a page proven to
    // churn earns a proportionally shorter revisit interval. A
    // declared RFC 9111 lifetime CAPS it (q200's least(observed,
    // declared) rule): the host saying "fresh for N seconds" is the
    // one interval it published itself.
    def intervalS(st: RefetchState): Long = {
      val cho = math.max(dueBaseS / (1L + math.max(st.nChanges, 0L)), 1L)
      if (st.maxAgeS >= 0L) math.max(math.min(cho, st.maxAgeS), 1L)
      else cho
    }
    def valAgeS(st: RefetchState): Long =
      if (st.valTs == Long.MinValue || st.lastCapTs == Long.MinValue) 0L
      else math.max(st.lastCapTs - st.valTs, 0L) / 1000000L
    val stats = caps
      .as[(String, Int, Option[Long], String, String, Long, Long, Long,
           java.sql.Timestamp, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RefetchState,
                              (String, Long, Long, String, String,
                               Long, Long)](
        OutputMode.Append, timeoutConf) {
        (url, rows, state) =>
          if (state.hasTimedOut) {
            if (idleTtlS > 0L) {
              // idle eviction: the page sat unseen past the TTL on
              // the EVENT clock — drop its state (documented loss: a
              // re-arrival re-learns from scratch)
              state.remove()
              Iterator.empty
            } else {
              // due wakeup: the page's refetch interval elapsed with
              // NO new arrival — the exact page a recrawler exists to
              // revisit. Emit its current row into this window's
              // fetch list and re-arm one interval past the clock
              // that fired it. A stale timer on a DEMOTED page (error
              // streak at the cancel bound — the timer armed before
              // the page started erroring) fires silently once and
              // never re-arms: a dead page must not surface in fetch
              // lists at base interval forever.
              val st = state.get
              if (dueErrCancel > 0 && st.errStreak >= dueErrCancel) {
                Iterator.empty
              } else if (dueMaxFires > 0 &&
                         st.dueFires + 1L >= dueMaxFires) {
                // due-state bound (opt-in): this is the page's LAST
                // unanswered wakeup — emit it, then EVICT. A page the
                // crawler never touches back stops waking forever and
                // its state stops occupying the store (documented
                // loss: a re-arrival re-learns from scratch, the
                // idleTtlS precedent). Any capture resets the count.
                state.remove()
                Iterator.single((url, st.nCaptures, st.nChanges,
                                 st.lastModified, st.etag, valAgeS(st),
                                 st.errStreak))
              } else {
                state.update(st.copy(dueFires = st.dueFires + 1L))
                state.setTimeoutTimestamp(
                  state.getCurrentWatermarkMs + intervalS(st) * 1000L)
                Iterator.single((url, st.nCaptures, st.nChanges,
                                 st.lastModified, st.etag, valAgeS(st),
                                 st.errStreak))
              }
            }
          } else {
            val arr = rows.toArray
            val capRows = arr.filter(_._2 == 0)
            val hadState = state.exists
            var st = state.getOption.getOrElse(
              RefetchState(0L, false, 0L, 0L, null, null, Long.MinValue,
                           Long.MinValue, Long.MinValue, Long.MinValue))
            for ((_, _, fpOpt, lm, et, tsUs, docId, _, _, cls, ma)
                 <- capRows.sortBy(r => (r._6, r._7))) {
              // the newest OK capture's declared lifetime installs
              // with its own recency (the validator convention, ts
              // then doc_id — a late replay must not roll a fresher
              // declaration back, and a same-second pair must pick
              // the same winner the batch declaredLifetime window
              // picks)
              if (cls == 0 && ma >= 0L &&
                  (tsUs > st.maTs ||
                   (tsUs == st.maTs && docId > st.maDoc)))
                st = st.copy(maxAgeS = ma, maTs = tsUs, maDoc = docId)
              cls match {
                case 1 => // revisit: capture counted, no transition,
                          // error streak untouched (it asserts the
                          // prior content — whatever it was — stands)
                  st = st.copy(nCaptures = st.nCaptures + 1L)
                case 2 => // error capture: never fingerprints;
                          // ENTERING error from a fingerprinted
                          // history is ONE change (the page went
                          // away), staying in error is none
                  if (st.hasFp && st.errStreak == 0L)
                    st = st.copy(nChanges = st.nChanges + 1L)
                  st = st.copy(nCaptures = st.nCaptures + 1L,
                               errStreak = st.errStreak + 1L)
                case 3 => // neutral (1xx/3xx): a capture observation,
                          // not content and not death
                  st = st.copy(nCaptures = st.nCaptures + 1L)
                case _ => // OK body: fingerprint + transition count;
                          // recovery to the SAME body after an error
                          // episode adds nothing (the flap already
                          // counted once, on entry)
                  val fp = fpOpt.get
                  if (st.hasFp && fp != st.lastFp)
                    st = st.copy(nChanges = st.nChanges + 1L)
                  st = st.copy(lastFp = fp, hasFp = true,
                               nCaptures = st.nCaptures + 1L,
                               errStreak = 0L)
              }
              if (tsUs > st.lastCapTs) st = st.copy(lastCapTs = tsUs)
              // validators keep their own recency (a capture without
              // one must not null out the last known validator)
              if ((lm != null || et != null) &&
                  (tsUs > st.valTs ||
                   (tsUs == st.valTs && docId > st.valDoc)))
                st = st.copy(lastModified = lm, etag = et,
                             valTs = tsUs, valDoc = docId)
            }
            // declared-instant trigger: the newest <lastmod> day any
            // sitemap in this batch announced for the page. Emits
            // when it is (a) newer than every previously-announced
            // day (a re-offered sitemap never re-triggers) AND (b)
            // newer than the page's own last capture day. Pages never
            // captured have nothing to refetch — no state is created
            // for them (discovery is the frontier's job).
            val announced = arr.iterator.filter(_._2 == 1).map(_._8)
              .foldLeft(Long.MinValue)(math.max)
            val lastCapDay =
              if (st.lastCapTs == Long.MinValue) Long.MinValue
              else st.lastCapTs / 1000000L / 86400L
            val declaredFired = announced != Long.MinValue &&
              st.nCaptures > 0L && announced > st.declaredDay &&
              announced > lastCapDay
            if (announced > st.declaredDay && st.nCaptures > 0L)
              st = st.copy(declaredDay = announced)
            // a capture answers the outstanding wakeups: the unfired
            // count behind the dueMaxFires bound restarts
            if (capRows.nonEmpty && st.dueFires != 0L)
              st = st.copy(dueFires = 0L)
            if (capRows.nonEmpty || hadState) {
              state.update(st)
              // one timer per page: next-due instant (due mode) or
              // idle-eviction instant (TTL mode), floored just past
              // the current watermark (Spark rejects a timer the
              // clock has already passed). Re-armed ONLY when this
              // batch carried CAPTURES: an announcement-only batch
              // must leave the existing timer alone — re-deriving it
              // from the unchanged lastCapTs after a past due fire
              // would floor to watermark+1s and force a spurious
              // premature wakeup per sitemap re-offer.
              if (timed && capRows.nonEmpty) {
                if (dueBaseS > 0L && dueErrCancel > 0 &&
                    st.errStreak >= dueErrCancel) {
                  // dead-page demotion: dueErrCancel consecutive
                  // error captures CANCEL the due timer (pushed past
                  // any reachable watermark — the GroupState API has
                  // no removeTimeout). The state stays: a later OK
                  // capture resets the streak and the next re-arm
                  // resumes scheduling — a recovered page re-enters
                  // the rotation with its learned history intact.
                  state.setTimeoutTimestamp(NeverMs)
                } else {
                  val horizon =
                    if (dueBaseS > 0L) intervalS(st) else idleTtlS
                  val atMs = st.lastCapTs / 1000L + horizon * 1000L
                  state.setTimeoutTimestamp(
                    math.max(atMs, state.getCurrentWatermarkMs + 1000L))
                }
              }
            }
            if (capRows.nonEmpty || declaredFired)
              Iterator.single((url, st.nCaptures, st.nChanges,
                               st.lastModified, st.etag, valAgeS(st),
                               st.errStreak))
            else Iterator.empty
          }
      }
      .toDF("canon_url", "n_captures", "n_changes",
            "if_modified_since", "if_none_match", "_val_age_s",
            "err_streak")
      .withColumn("host", Urls.host(col("canon_url")))
      .filter(col("host").isNotNull)
    // declared sitemap freshness (q193's blend) as an optional
    // stream-static frame: (canon_url, changefreq) — near-unique key,
    // shuffle-pinned, never broadcast
    val withDecl = declared match {
      case Some(dd) =>
        stats.join(dd.select(col("canon_url"), col("changefreq"))
            .hint("shuffle_hash"), Seq("canon_url"), "left")
      case None => stats.withColumn("changefreq",
                                    lit(null).cast("string"))
    }
    // score_e12 = rank x (1 + observed changes) x (1 + declared
    // changefreq weight) x (1 + validator staleness) — all BIGINT,
    // q193's exact spelling extended by the staleness term: pages
    // whose conditional-GET tokens have aged `staleBoostS` seconds
    // beyond their latest capture earn a step up per elapsed unit
    // (0 when the frame has no validators — an unconditional refetch
    // has no token to go stale). staleBoostS = 0 disables the term,
    // which is the q193 stream==batch parity configuration.
    val staleFactor =
      if (staleBoostS > 0L)
        lit(1L) + expr(s"_val_age_s div $staleBoostS")
      else lit(1L)
    // host-sized rank artifact: shuffle-pinned, the no-broadcast rule.
    // Dead-page decay divides the price by (1 + trailing error
    // streak) in exact BIGINT — a page whose latest captures are
    // 404/410/5xx sinks in the queue instead of climbing it (its
    // error bodies no longer register transitions either — the
    // round-20 status gate), and err_streak = 0 leaves the q193
    // stream==batch parity spelling bit-identical.
    withDecl.join(ranks.select(col("host"), col("rank_e12"))
        .hint("shuffle_hash"), Seq("host"), "left")
      .withColumn("_score0",
        coalesce(col("rank_e12"), lit(0L)) * (col("n_changes") + 1L) *
          (graft.operators.WebGraph.changefreqWeight(col("changefreq"))
            + 1L) * staleFactor)
      .select(col("canon_url"), col("host"), col("n_captures"),
        col("n_changes"),
        expr("_score0 div (1 + err_streak)").as("score_e12"),
        col("if_modified_since"), col("if_none_match"),
        col("err_streak"))
  }

  /** Land [[refetchStream]] as ranked per-window refetch lists: each
    * micro-batch sorts by (score_e12 desc, canon_url), keeps the top
    * `topKPerWindow`, stamps a dense in-window rank and the window id,
    * and overwrites `dir/window_id=<id>` — the foreachBatch idempotent
    * per-batch-overwrite convention (cpms/Streaming K3), so a replayed
    * batch rewrites its own window and never duplicates: exactly-once
    * per window. A crawler tails the directory; each window file IS
    * its conditional-GET-annotated fetch list, in fetch order. The
    * sort runs INSIDE one micro-batch (batch context — a global
    * orderBy is stream-illegal in append mode, and per-window ranking
    * is exactly what a fetch scheduler wants anyway).
    *
    * `maxPerHostPerWindow` > 0 applies the politeness discipline the
    * discovery frontier enforces to REFETCH traffic too: each host
    * keeps only its top-scored pages per window (partial
    * WindowGroupLimit below the exchange), BEFORE the global top-K —
    * otherwise one hot fast-churning host could fill a whole window's
    * fetch list and hammer itself.
    */
  def startRefetchSink(refetch: DataFrame, dir: String,
                       checkpointDir: String,
                       topKPerWindow: Int = 10000,
                       maxPerHostPerWindow: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.Door.start(refetch, checkpointDir) { (df, batchId) =>
      val polite =
        if (maxPerHostPerWindow <= 0) df
        else {
          val hw = org.apache.spark.sql.expressions.Window
            .partitionBy("host")
            .orderBy(col("score_e12").desc, col("canon_url"))
          df.withColumn("_hrk", row_number().over(hw))
            .filter(col("_hrk") <= maxPerHostPerWindow).drop("_hrk")
        }
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_e12").desc, col("canon_url"))
      polite.orderBy(col("score_e12").desc, col("canon_url"))
        .limit(topKPerWindow)
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("window_id", lit(batchId))
        .write.mode("overwrite")
        .parquet(s"$dir/window_id=$batchId")
    }

  /** Redirect alias edges riding in the crawl: each 3xx capture's
    * (src_url, dst_url = resolved Location, http_status). Downstream:
    * alias resolution before canonical dedup (a chain of 301s is ONE
    * page), and the frontier follows the targets (see [[frontier]]).
    */
  def redirectEdges(parsed: DataFrame): DataFrame =
    parsed.filter(!col("corrupt") && col("url").isNotNull &&
        col("redirect").isNotNull)
      .select(col("url").as("src_url"), col("redirect").as("dst_url"),
              col("http_status"))

  /** Canonical alias edges declared IN documents — `<link
    * rel="canonical">` (RFC 6596), the HTML channel production dedup
    * leans on at least as heavily as 301 chains: each 2xx/statusless
    * HTML capture's declared canonical becomes a (src_url, dst_url)
    * edge (error bodies never declare — their markup describes the
    * error, the okResponses convention). Exact self-declarations
    * (the most common form, "I am my own canonical") drop; a
    * DIFFERENT raw spelling declaring the clean form is exactly the
    * edge that collapses tracking variants. Needs RAW markup
    * (`readWarc(extractHtml = false)` — the extractLinks convention);
    * one codegen'd projection. Union with [[redirectEdges]] via
    * [[aliasEdges]] and resolve with
    * [[graft.operators.WebGraph.resolveAliasEdges]].
    */
  def canonicalEdges(parsed: DataFrame): DataFrame = {
    val st =
      if (parsed.columns.contains("http_status")) col("http_status")
      else lit(null).cast("int")
    parsed.filter(!col("corrupt") && col("url").isNotNull &&
        col("text").isNotNull &&
        (st.isNull || (st >= 200 && st < 300)))
      .select(col("url").as("src_url"),
        HtmlExpr.extract_canonical(col("text"), col("url"))
          .as("dst_url"))
      .filter(col("dst_url").isNotNull &&
        col("dst_url") =!= col("src_url"))
  }

  /** The UNIFIED alias channel: transport-declared 301/302 chains
    * ([[redirectEdges]]) beside document-declared canonicals
    * ([[canonicalEdges]]), each edge tagged `via` ('redirect' |
    * 'canonical') so the resolver can apply the conflict policy
    * (redirect wins — see
    * [[graft.operators.WebGraph.resolveAliasEdges]], q201). This is
    * the frame to resolve and hand to the frontier doors' `aliases`
    * parameter: a page declaring a canonical twin then spends ONE
    * budget slot, like a 301 family.
    */
  def aliasEdges(parsed: DataFrame): DataFrame =
    redirectEdges(parsed)
      .select(col("src_url"), col("dst_url"),
              lit("redirect").as("via"))
      .unionByName(canonicalEdges(parsed)
        .select(col("src_url"), col("dst_url"),
                lit("canonical").as("via")))

  /** Does this capture carry a sitemap body? The ONE selection rule
    * shared by [[streamCandidates]]' recursion and [[refetchStream]]'s
    * live lastmod channel: content sniff (`<urlset`/`<sitemapindex`
    * in the first 2 KiB — how a child sitemap with an arbitrary
    * filename is recognized) OR the protocol filename (which the
    * plain-text form still needs — a txt sitemap has no XML marker).
    */
  private[sources] def isSitemapCapture(url: Column,
                                        text: Column): Column = {
    val head = lower(substring(text, 1, 2048))
    lower(url).rlike("sitemap[^/?#]*\\.(xml|txt)$") ||
      head.contains("<urlset") || head.contains("<sitemapindex")
  }

  /** Sitemap entries riding in the crawl: captures whose URL names a
    * sitemap (`...sitemap*.xml` / `.txt`), parsed to
    * (src_url, url, kind) with kind `page` (a `<urlset>` `<loc>` or a
    * plain-text line) or `sitemap` (a `<sitemapindex>` child — fetch
    * it next round). XML/plain-text bodies pass the HTML gate
    * untouched on both read modes, so original structure reaches
    * [[Sitemaps.parse]]. One codegen'd projection + explode.
    */
  def sitemapEntries(parsed: DataFrame): DataFrame =
    parsed.filter(!col("corrupt") && col("url").isNotNull &&
        col("text").isNotNull)
      .filter(lower(col("url")).rlike("sitemap[^/?#]*\\.(xml|txt)$"))
      .select(col("url").as("src_url"),
              explode(Sitemaps.extract_sitemap(col("text"))).as("e"))
      .select(col("src_url"), col("e.url").as("url"),
              col("e.kind").as("kind"), col("e.lastmod").as("lastmod"),
              col("e.changefreq").as("changefreq"),
              col("e.priority").as("priority"))

  /** The per-page declared-freshness table a REAL crawl yields: each
    * canonical page's LATEST sitemap hints — (canon_url, changefreq,
    * lastmod) — from every sitemap body riding the crawl (selected by
    * [[isSitemapCapture]]: content sniff or protocol filename),
    * latest by capture recency (event time, doc_id — the latestPerUrl
    * policy; a host that re-publishes its sitemap with new hints
    * wins). This IS the `declared` frame the scheduler consumes:
    * [[graft.operators.WebGraph.declaredFreshnessQueue]] (q193) and
    * [[refetchStream]]'s blend take the changefreq column;
    * [[graft.operators.WebGraph.lastmodDue]] (q197) takes lastmod.
    * One projection + explode + one near-unique-key window.
    */
  def declaredHints(parsed: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canon_url")
      .orderBy(col("ts").desc, col("doc_id").desc)
    parsed.filter(!col("corrupt") && col("url").isNotNull &&
        col("text").isNotNull &&
        isSitemapCapture(col("url"), col("text")))
      .select(col("ts"), coalesce(col("doc_id"), lit(0L)).as("doc_id"),
              explode(Sitemaps.extract_sitemap(col("text"))).as("e"))
      .filter(col("e.kind") === "page")
      .select(Urls.canonicalize(col("e.url")).as("canon_url"),
              col("e.changefreq").as("changefreq"),
              col("e.lastmod").as("lastmod"),
              col("ts"), col("doc_id"))
      .filter(col("canon_url").isNotNull)
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("canon_url", "changefreq", "lastmod")
  }

  /** Sitemap URLs the crawl's robots bodies DECLARE (`Sitemap:`
    * directives — the sitemaps.org discovery channel, group-
    * independent), host-keyed: (host, sitemap_url). The fetch list a
    * crawler schedules next so pages nothing links to yet become
    * reachable without waiting for organic discovery; the fetched
    * bodies re-enter through [[sitemapEntries]] and
    * `frontier(sitemaps = true)`. One projection + explode over the
    * host-sized robots frame.
    */
  def sitemapHints(parsed: DataFrame): DataFrame =
    robotsTexts(parsed).select(col("host"),
      explode(Robots.robots_sitemaps(col("robots_txt")))
        .as("sitemap_url"))

  /** The robots.txt bodies riding in the crawl itself: captures of
    * `<scheme>://<host>/robots.txt` lifted to a host-keyed frame
    * (latest capture per host — the same revisit policy as
    * [[latestPerUrl]]). Bodies are plain text, so they pass the HTML
    * gate untouched on BOTH read modes (raw and extracted) —
    * `parseRules` sees original line structure. One near-unique-key
    * window over a tiny filtered slice; host-sized output.
    *
    * Status gating ([[robotsCaptures]]): only 2xx captures (or
    * statusless frames — JSONL feeds carry no http_status column)
    * compile as a host's rule group. An HTML 404/503 error body would
    * otherwise install as rules — stray 'Disallow:'-looking text in
    * an error page silently altering gating. RFC 9309 says 4xx means
    * no rules (fail open — which dropping the capture yields) and
    * 5xx should fail CLOSED; this library uniformly fails open on
    * unavailable robots (the okResponses convention), a documented
    * divergence shared by most production crawlers.
    */
  def robotsTexts(parsed: DataFrame): DataFrame = {
    val r = robotsCaptures(parsed)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(col("ts").desc, col("doc_id").desc)
    r.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("host"), col("text").as("robots_txt"))
  }

  /** The host-keyed raw `/robots.txt` capture rows both robots doors
    * compile from (batch [[robotsTexts]] and the live
    * [[frontierStreamLive]] leg — ONE projection so the two cannot
    * diverge on which captures count): non-corrupt, text-carrying,
    * and — when the frame carries transport status (WARC frames do,
    * JSONL crawl frames do not) — HTTP 2xx only, the okResponses
    * policy: an error page's body must never compile into a host's
    * rule group. The strict RFC 9309 door ([[compiledRobots]]
    * failClosed5xx) turns BOTH gates off (`statusGated = false,
    * requireText = false`): there the latest capture of ANY shape —
    * binary-routed error body, WARC revisit record — must win the
    * recency window so a newest 5xx is never shadowed by an older
    * 2xx body.
    */
  private def robotsCaptures(parsed: DataFrame,
                             statusGated: Boolean = true,
                             requireText: Boolean = true): DataFrame = {
    val base = parsed.filter(!col("corrupt") && col("url").isNotNull &&
        (if (requireText) col("text").isNotNull else lit(true)))
      .filter(col("url").rlike(
        "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*/robots\\.txt$"))
    val ok =
      if (!statusGated || !parsed.columns.contains("http_status")) base
      else base.filter(col("http_status").isNull ||
        (col("http_status") >= 200 && col("http_status") < 300))
    ok.withColumn("host", Urls.host(col("url")))
      .filter(col("host").isNotNull)
  }

  /** Outlink edge frame from a RAW-body parsed crawl/WARC frame — one
    * row per (src_url, dst_url), every `<a>`/`<area>` href resolved
    * absolute via [[Html.extractLinks]] (a codegen'd expression, so
    * this plans as ONE whole-stage projection + explode; no shuffle).
    * Run it on `readWarc(extractHtml = false)` /
    * `readCrawl(extractHtml = false)` output: extraction destroys
    * markup, so link extraction must see the raw HTML. Downstream:
    * [[graft.operators.WebGraph.edgesFromLinks]] for the host
    * graph/PageRank tier, [[graft.sources.Urls.canonicalize]] +
    * frontier anti-join for crawl scheduling.
    */
  def linkEdges(parsed: DataFrame): DataFrame =
    parsed.filter(!col("corrupt") && col("url").isNotNull &&
        col("text").isNotNull)
      .select(col("url").as("src_url"),
              explode(HtmlExpr.extract_links(col("text"), col("url")))
                .as("dst_url"))

  /** Like [[linkEdges]] but with each occurrence's ANCHOR TEXT — the
    * "what other pages call this URL" signal (search relevance, host
    * quality priors): (src_url, dst_url, anchor), one row per link
    * occurrence, NOT deduplicated. Same raw-body requirement; one
    * codegen'd projection + explode.
    */
  def anchorEdges(parsed: DataFrame): DataFrame =
    parsed.filter(!col("corrupt") && col("url").isNotNull &&
        col("text").isNotNull)
      .select(col("url").as("src_url"),
              explode(HtmlExpr.extract_anchors(col("text"), col("url")))
                .as("a"))
      .select(col("src_url"), col("a.url").as("dst_url"),
              col("a.anchor").as("anchor"))

  /** The EXPORT half of the crawl loop: land a doc frame back as
    * (optionally gzipped) JSONL in the [[crawlV1]] field order — the
    * interchange format for handing a filtered/curated corpus to an
    * external consumer, or re-feeding it through another deployment's
    * [[readCrawl]]. Contract fields present on the frame serialize in
    * schema order (extra columns append after, so gate provenance can
    * ride along); timestamps serialize ISO-8601 at millisecond
    * precision, which the reader's `try_to_timestamp` round-trips.
    * `to_json` omits null fields and the reader re-applies its
    * defaults, so readCrawl(writeCrawl(docs)) == docs on the contract
    * columns — CrawlSourceSpec's round-trip pin. One codegen'd
    * projection over the frame; file count (= task count) is the
    * caller's partitioning, so a 100 TB export shards exactly as the
    * upstream plan parallels.
    */
  def writeCrawl(docFrame: DataFrame, path: String,
                 gzip: Boolean = true): Unit = {
    val present = docFrame.columns
    val ordered = crawlV1.fieldNames.filter(present.contains) ++
      present.filterNot(crawlV1.fieldNames.contains)
    val out = docFrame
      .select(to_json(struct(ordered.map(col).toIndexedSeq: _*)).as("value"))
      .write.mode("overwrite")
    (if (gzip) out.option("compression", "gzip") else out).text(path)
  }

  // ------------------------------------------------------------------
  // WARC front-end — the Common-Crawl-native format (ISO 28500): one
  // gzip member per record, `WARC/1.0` header block + Content-Length
  // bytes of block (an HTTP response for `response` records). Second
  // reader on the SAME typed-frame contract as [[parseCrawl]]: the
  // output carries (value, corrupt, doc_id, url, source, text, lang,
  // ts), so [[crawlDocs]]/[[crawlCorrupt]] and every downstream ingest
  // path work unchanged.
  //
  // Scale notes:
  //   - a .warc.gz is NOT splittable (and record boundaries are not
  //     line boundaries), so the unit of parallelism is the FILE —
  //     Common Crawl ships ~1 GB members, which is the right shape;
  //     `binaryFile` hands each file's bytes to one task and the
  //     member parse is a pure per-row flatMap, batch or stream.
  //   - damaged input is COUNTED, never dropped and never fatal, and —
  //     new this round — never quarantines the rest of the file: in
  //     the multi-member gzip layout every member boundary is a resync
  //     point, so damage in one member emits ONE corrupt row per
  //     damaged region and parsing resumes at the next `1f 8b 08`
  //     member magic. Each member's CRC32/ISIZE trailer is verified,
  //     so silently-corrupted compressed bytes cannot land as clean
  //     documents. Only the plain uncompressed `.warc` form — whose
  //     record boundaries genuinely vanish past damage — keeps the
  //     stop-on-damage behavior.
  //   - HTTP bodies: header block found at the earliest CRLFCRLF (or
  //     bare-LF LFLF — non-compliant servers exist in real crawls);
  //     `Transfer-Encoding: chunked` is de-chunked; `Content-Encoding:
  //     gzip` is inflated (capped, fail-open to the raw bytes — a
  //     lying server must not fabricate damage); the declared
  //     Content-Type charset decodes the body with UTF-8 fallback; and
  //     HTML bodies (declared or sniffed) pass through
  //     [[Html.extractText]] by default so downstream operators score
  //     prose, not markup.
  //   - doc_id: derives from the WARC-Record-ID header when present
  //     (every conformant record carries one — re-read-stable, and
  //     distinct for byte-identical re-fetches of the same URL in the
  //     same second, the CC revisit/duplicate-capture shape), falling
  //     back to a stable 63-bit content hash of (url, ts, text).
  // ------------------------------------------------------------------

  /** `binaryFile`'s fixed schema, spelled out because a STREAMING file
    * source requires an explicit schema.
    */
  private val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** A parsed-record row: (value = corrupt head or null, corrupt,
    * url, WARC-Date, WARC-Record-ID, text, content_type, payload,
    * http_status, redirect, last_modified, etag, revisit,
    * cache_control, expires) — text rows carry `text` with a null
    * payload; binary-asset rows (image/audio/video responses) carry
    * the decoded body bytes in `payload` with a null text; `revisit`
    * rows (WARC-Type: revisit — the ISO 28500 "content unchanged
    * since a prior capture" record the 304 economy produces) carry
    * NEITHER (both null), only the capture identity + whatever
    * validators/status their HTTP header block declares. The last
    * three are the RFC 9111 declared-freshness headers and the
    * RFC 9110 Retry-After, verbatim ([[max_age_s]] /
    * [[retry_after_s]] interpret them).
    */
  private type WarcRow =
    (String, Boolean, String, String, String, String, String, Array[Byte],
     Option[Int], String, String, String, Boolean, String, String,
     String)

  private def corruptRow(head: String): WarcRow =
    ((if (head.length > 2048) head.substring(0, 2048) else head),
     true, null, null, null, null, null, null, None, null, null, null,
     false, null, null, null)

  /** Inflated-body cap for `Content-Encoding: gzip` HTTP bodies — a
    * compression bomb must not allocate unbounded heap inside a task;
    * a body inflating past this serves its raw bytes instead (counted
    * by the quality gates, not fatal).
    */
  private val MaxInflatedBody = 256 << 20

  // ---- HTTP response-block processing -------------------------------

  private def indexOfBytes(b: Array[Byte], pat: Array[Byte],
                           from: Int): Int = {
    var i = math.max(from, 0)
    val last = b.length - pat.length
    while (i <= last) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }

  private val Crlf2 = "\r\n\r\n".getBytes("US-ASCII")
  private val Lf2 = "\n\n".getBytes("US-ASCII")

  /** De-chunk a `Transfer-Encoding: chunked` body: hex chunk-size
    * lines (with optional `;ext`) interleave the data; a 0-size chunk
    * terminates (trailers ignored). Malformed chunk framing is
    * record-local DAMAGE — Left(reason), counted by the caller, never
    * a crash and never an abort of the surrounding record stream.
    */
  private[sources] def dechunk(b: Array[Byte]): Either[String, Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.min(b.length, 1 << 16))
    var p = 0
    while (true) {
      var nl = p
      while (nl < b.length && b(nl) != '\n') nl += 1
      if (nl >= b.length) return Left("chunked body: missing chunk-size line")
      val line = new String(b, p, nl - p, "US-ASCII").trim
      val hex = line.takeWhile(_ != ';').trim
      val size =
        try java.lang.Long.parseLong(hex, 16)
        catch { case _: NumberFormatException =>
          return Left(s"chunked body: malformed chunk size '$line'") }
      if (size < 0 || size > Int.MaxValue)
        return Left(s"chunked body: chunk size out of range '$line'")
      p = nl + 1
      if (size == 0) return Right(out.toByteArray) // trailers ignored
      if (p + size > b.length)
        return Left("chunked body: chunk overruns block")
      out.write(b, p, size.toInt)
      p += size.toInt
      if (p < b.length && b(p) == '\r') p += 1
      if (p < b.length && b(p) == '\n') p += 1
    }
    Right(out.toByteArray) // unreachable
  }

  /** Inflate a `Content-Encoding: gzip` body. FAIL-OPEN: a body that
    * does not actually inflate (lying server, exotic variant) or
    * inflates past [[MaxInflatedBody]] serves its raw bytes — a
    * mis-declared header must not fabricate damage the quality gates
    * would otherwise just score down.
    */
  private def gunzipBody(b: Array[Byte]): Array[Byte] =
    if (b.length < 2 || (b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b) b
    else try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b), 65536)
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0 && out.size <= MaxInflatedBody) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      if (out.size > MaxInflatedBody) b else out.toByteArray
    } catch { case _: java.io.IOException => b }

  /** The charset a Content-Type header value declares, if any. */
  private def headerCharset(contentType: Option[String])
      : Option[java.nio.charset.Charset] =
    contentType
      .flatMap { ct =>
        val i = ct.toLowerCase(java.util.Locale.ROOT).indexOf("charset=")
        if (i < 0) None
        else Some(ct.substring(i + 8).trim
          .stripPrefix("\"").takeWhile(c => c != ';' && c != '"').trim)
      }
      .filter(_.nonEmpty)
      .flatMap(name =>
        scala.util.Try(java.nio.charset.Charset.forName(name)).toOption)

  /** The in-document `<meta charset=...>` / `<meta http-equiv
    * content="...charset=..."` declaration, scanned from the first
    * 1024 BYTES decoded ASCII-compatibly — the browser prescan rule
    * (HTML5 §13.2.3.2): many real pages declare their encoding only
    * in-document, and an HTTP header with no charset param would
    * otherwise mis-decode them as UTF-8. An unknown/garbage name
    * resolves to None (UTF-8 fallback), never a throw.
    */
  private[sources] def metaCharset(body: Array[Byte])
      : Option[java.nio.charset.Charset] = {
    val head = new String(body, 0, math.min(body.length, 1024),
                          "ISO-8859-1").toLowerCase(java.util.Locale.ROOT)
    var i = head.indexOf("<meta")
    while (i >= 0) {
      val end = { val e = head.indexOf('>', i)
                  if (e < 0) head.length else e }
      val tag = head.substring(i, end)
      val c = tag.indexOf("charset")
      if (c >= 0) {
        var p = c + 7
        while (p < tag.length && tag.charAt(p) == ' ') p += 1
        if (p < tag.length && tag.charAt(p) == '=') {
          p += 1
          while (p < tag.length &&
                 (tag.charAt(p) == ' ' || tag.charAt(p) == '"' ||
                  tag.charAt(p) == '\'')) p += 1
          val start = p
          while (p < tag.length && (tag.charAt(p).isLetterOrDigit ||
                 "._-".contains(tag.charAt(p)))) p += 1
          val name = tag.substring(start, p)
          if (name.nonEmpty)
            return scala.util.Try(
              java.nio.charset.Charset.forName(name)).toOption
        }
      }
      i = head.indexOf("<meta", end)
    }
    None
  }

  /** Decode `body` with `cs`; malformed/unmappable input degrades to
    * the replacement character, never a throw — the `new String`
    * policy the UTF-8-only path always had.
    */
  private def decodeBody(body: Array[Byte],
                         cs: java.nio.charset.Charset): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(body)).toString
  }

  /** The transport-level pieces of an HTTP response block. `status`
    * and `location` are None/absent for non-HTTP blocks; `location`
    * is the RAW header value (resolution against the capture URL is
    * the caller's job — Location is routinely relative).
    */
  private[sources] final case class HttpParts(
      status: Option[Int], location: Option[String],
      contentType: Option[String], body: Array[Byte],
      lastModified: Option[String] = None, etag: Option[String] = None,
      cacheControl: Option[String] = None, expires: Option[String] = None,
      retryAfter: Option[String] = None)

  /** A `response` record's block -> [[HttpParts]], or Left(reason)
    * for record-LOCAL damage (malformed chunk framing). Strips the
    * HTTP header block (earliest of CRLFCRLF / bare-LF LFLF
    * terminators), parses the status line and Location header,
    * de-chunks, and inflates Content-Encoding — the transport layers,
    * shared by the text path and the binary-asset path.
    */
  private def httpBodyBytes(block: Array[Byte])
      : Either[String, HttpParts] = {
    val isHttp = block.length >= 5 &&
      block(0) == 'H' && block(1) == 'T' && block(2) == 'T' &&
      block(3) == 'P' && block(4) == '/'
    var contentType: Option[String] = None
    var status: Option[Int] = None
    var location: Option[String] = None
    var lastModified: Option[String] = None
    var etag: Option[String] = None
    var cacheControl: Option[String] = None
    var expires: Option[String] = None
    var retryAfter: Option[String] = None
    var body: Array[Byte] = block
    if (isHttp) {
      val c = indexOfBytes(block, Crlf2, 0)
      val l = indexOfBytes(block, Lf2, 0)
      val (hEnd, bStart) =
        if (c >= 0 && (l < 0 || c <= l)) (c, c + 4)
        else if (l >= 0) (l, l + 2)
        else (-1, -1)
      if (hEnd >= 0) {
        val lines = new String(block, 0, hEnd, "ISO-8859-1")
          .split('\n').iterator.map(_.stripSuffix("\r")).toSeq
        // status line: "HTTP/1.1 301 Moved Permanently"
        status = lines.headOption.flatMap { sl =>
          val parts = sl.split(" ", 3)
          if (parts.length < 2) None
          else parts(1).toIntOption.filter(s => s >= 100 && s <= 599)
        }
        val headers = lines.iterator.drop(1)
          .flatMap { line =>
            val i = line.indexOf(':')
            if (i <= 0) None
            else Some(line.substring(0, i).trim
                        .toLowerCase(java.util.Locale.ROOT) ->
                      line.substring(i + 1).trim)
          }.toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.head._2 }
        contentType = headers.get("content-type")
        location = headers.get("location").filter(_.nonEmpty)
        // revalidation metadata (RFC 9110 §8.8): the validators a
        // recrawler sends back as If-Modified-Since / If-None-Match —
        // declared freshness beside the observed change rate. Length-
        // capped (ETags are unbounded by spec; 256 covers real ones)
        lastModified = headers.get("last-modified")
          .filter(_.nonEmpty).map(_.take(64))
        etag = headers.get("etag").filter(_.nonEmpty).map(_.take(256))
        // declared freshness LIFETIME (RFC 9111): Cache-Control
        // carries max-age (the web's most common declared revisit
        // interval — a host saying "this is fresh for N seconds"),
        // Expires the HTTP-date fallback it overrides. Lifted
        // VERBATIM (capped like the validators); interpretation —
        // directive extraction, precedence, garbage tolerance — is
        // column math in [[Crawl.max_age_s]], one spelling for batch
        // and stream.
        cacheControl = headers.get("cache-control")
          .filter(_.nonEmpty).map(_.take(256))
        expires = headers.get("expires").filter(_.nonEmpty).map(_.take(64))
        // RFC 9110 §10.2.3: how long the sender asks us to wait
        // before retrying — the 429/503 politeness signal
        // ([[retry_after_s]] interprets; [[hostBackoff]] consumes)
        retryAfter = headers.get("retry-after")
          .filter(_.nonEmpty).map(_.take(64))
        body = java.util.Arrays.copyOfRange(block, bStart, block.length)
        if (headers.get("transfer-encoding")
              .exists(_.toLowerCase(java.util.Locale.ROOT)
                        .contains("chunked")))
          dechunk(body) match {
            case Left(reason) => return Left(reason)
            case Right(d)     => body = d
          }
        if (headers.get("content-encoding")
              .exists(_.toLowerCase(java.util.Locale.ROOT).contains("gzip")))
          body = gunzipBody(body)
      }
    }
    Right(HttpParts(status, location, contentType, body,
                    lastModified, etag, cacheControl, expires,
                    retryAfter))
  }

  /** Decode body bytes into document text: charset precedence is the
    * transport header (HTTP is authoritative over the document), then
    * the in-document `<meta charset>` prescan, then UTF-8; HTML bodies
    * (declared or sniffed) pass through the chosen extractor.
    */
  private def textOf(contentType: Option[String], body: Array[Byte],
                     extract: Option[String => String]): String = {
    val cs = headerCharset(contentType)
      .orElse(metaCharset(body))
      .getOrElse(java.nio.charset.StandardCharsets.UTF_8)
    val text = decodeBody(body, cs)
    val isHtml = contentType match {
      case Some(ct) => ct.toLowerCase(java.util.Locale.ROOT).contains("html")
      case None     => Html.sniffHtml(text)
    }
    extract match {
      case Some(f) if isHtml => f(text)
      case _                 => text
    }
  }

  /** The multimodal asset kind a Content-Type routes to, or None for
    * the text path. Only the kinds the multimodal pipeline models
    * (image | audio | video) divert; every other type — including the
    * application/... families — stays on the text path, where the
    * quality gates score it (the historical behavior: no silent
    * drops).
    */
  private[sources] def assetKind(contentType: Option[String])
      : Option[String] =
    contentType.map(_.toLowerCase(java.util.Locale.ROOT).trim).collect {
      case ct if ct.startsWith("image/") => "image"
      case ct if ct.startsWith("audio/") => "audio"
      case ct if ct.startsWith("video/") => "video"
    }

  /** A `response` record's block -> document text (the text-path
    * composition of [[httpBodyBytes]] + [[textOf]]; spec surface).
    */
  private[sources] def httpText(block: Array[Byte],
                                extract: Option[String => String])
      : Either[String, String] =
    httpBodyBytes(block).map(p => textOf(p.contentType, p.body, extract))

  /** Boolean shim for spec ergonomics: true = the default tag-strip
    * extractor, false = raw bodies.
    */
  private[sources] def httpText(block: Array[Byte], extractHtml: Boolean)
      : Either[String, String] =
    httpText(block,
             if (extractHtml) Some(Html.extractText _) else None)

  // ---- WARC record-stream parsing -----------------------------------

  /** Parse WARC records from an (already decompressed) byte stream
    * until EOF or STREAM-level damage (a non-WARC header, a
    * missing/negative/absurd Content-Length, a short block — after any
    * of these the stream position is untrustworthy). Clean records and
    * record-LOCAL damage (a malformed chunked body inside a correctly
    * delimited block) append to `rows` and parsing continues; returns
    * None on clean EOF, Some(corrupt head) on stream damage.
    */
  private def parseRecordStream(in: java.io.InputStream,
                                extract: Option[String => String],
                                rows: scala.collection.mutable.Buffer[WarcRow])
      : Option[String] = {
    // one header line (headers are short; block bytes read in bulk
    // below); null at EOF, trailing \r stripped
    def readLine(): String = {
      var c = in.read()
      if (c < 0) return null
      val sb = new java.lang.StringBuilder
      while (c >= 0 && c != '\n') { sb.append(c.toChar); c = in.read() }
      if (sb.length > 0 && sb.charAt(sb.length - 1) == '\r')
        sb.setLength(sb.length - 1)
      sb.toString
    }
    while (true) {
      var line = readLine()
      while (line != null && line.isEmpty) line = readLine()
      if (line == null) return None
      val head = new java.lang.StringBuilder(line).append('\n')
      val versionOk = line.startsWith("WARC/")
      val headers = scala.collection.mutable.Map.empty[String, String]
      var blank = false
      var l = if (versionOk) readLine() else null
      while (versionOk && !blank && l != null) {
        if (head.length < 2048) head.append(l).append('\n')
        if (l.isEmpty) blank = true
        else {
          val c = l.indexOf(':')
          if (c > 0)
            headers(l.substring(0, c).trim
                     .toLowerCase(java.util.Locale.ROOT)) =
              l.substring(c + 1).trim
          l = readLine()
        }
      }
      // Content-Length must parse, be non-negative, and fit an
      // array — a negative or absurd declared length is damage,
      // not an index-out-of-bounds crash
      val cl = headers.get("content-length")
        .flatMap(v => scala.util.Try(v.toLong).toOption)
        .filter(c => c >= 0 && c <= Int.MaxValue - 8)
      def corruptHead =
        head.substring(0, math.min(head.length, 2048))
      if (!versionOk || !blank || cl.isEmpty) return Some(corruptHead)
      val block = in.readNBytes(cl.get.toInt)
      if (block.length < cl.get) return Some(corruptHead)
      if (headers.get("warc-type").contains("response")) {
        httpBodyBytes(block) match {
          case Right(parts) =>
            val uri = headers.getOrElse("warc-target-uri", null)
            val date = headers.getOrElse("warc-date", null)
            val rid = headers.getOrElse("warc-record-id", null)
            val ct = parts.contentType
            // a redirect's Location is routinely RELATIVE — resolve
            // against the capture URL here (total, null on garbage);
            // only 3xx statuses carry redirect semantics
            val redirect: String =
              if (parts.status.exists(s => s >= 300 && s < 400))
                parts.location
                  .map(Html.resolveHref(_, uri)).orNull
              else null
            assetKind(ct) match {
              case Some(_) =>
                // binary media: route to the multimodal asset path
                // verbatim — decoding it as text would hand the
                // quality gates deterministic garbage
                rows += ((null, false, uri, date, rid, null,
                          ct.orNull, parts.body, parts.status, redirect,
                          parts.lastModified.orNull, parts.etag.orNull,
                          false, parts.cacheControl.orNull,
                          parts.expires.orNull, parts.retryAfter.orNull))
              case None =>
                rows += ((null, false, uri, date, rid,
                          textOf(ct, parts.body, extract), ct.orNull,
                          null, parts.status, redirect,
                          parts.lastModified.orNull, parts.etag.orNull,
                          false, parts.cacheControl.orNull,
                          parts.expires.orNull, parts.retryAfter.orNull))
            }
          case Left(reason) =>
            // the block WAS correctly delimited — the damage is inside
            // the HTTP body, so count it and keep parsing the stream
            rows += corruptRow(corruptHead + "<" + reason + ">")
        }
      } else if (headers.get("warc-type").contains("revisit")) {
        // ISO 28500 revisit record — "this URL was re-fetched and its
        // content is UNCHANGED" (identical-payload-digest, or the
        // server-not-modified profile a 304 produces). The block is
        // the response's HTTP headers at most (no body by contract):
        // lift the capture identity, status, and validators; text and
        // payload stay null so the row never enters the doc pipeline,
        // while the recency/validator tiers ([[revisitValidators]],
        // [[validatorsStream]], [[refetchStream]], the frontier's
        // seen set) count the capture. A headerless block (the
        // digest-only profile) is NOT corruption — identity-only row.
        val uri = headers.getOrElse("warc-target-uri", null)
        val date = headers.getOrElse("warc-date", null)
        val rid = headers.getOrElse("warc-record-id", null)
        httpBodyBytes(block) match {
          case Right(parts) =>
            rows += ((null, false, uri, date, rid, null,
                      parts.contentType.orNull, null, parts.status,
                      null, parts.lastModified.orNull,
                      parts.etag.orNull, true, parts.cacheControl.orNull,
                      parts.expires.orNull, parts.retryAfter.orNull))
          case Left(_) =>
            rows += ((null, false, uri, date, rid, null, null, null,
                      None, null, null, null, true, null, null, null))
        }
      }
    }
    None // unreachable
  }

  // ---- gzip member iteration ----------------------------------------

  /** Next `1f 8b 08` gzip member magic at or after `from`, or -1. */
  private def findMagic(raw: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    while (i + 2 < raw.length) {
      if ((raw(i) & 0xff) == 0x1f && (raw(i + 1) & 0xff) == 0x8b &&
          (raw(i + 2) & 0xff) == 0x08) return i
      i += 1
    }
    -1
  }

  /** Absolute offset just past the gzip member header at `off`, or -1
    * when the header is malformed/truncated (RFC 1952: 10 fixed bytes
    * + optional FEXTRA/FNAME/FCOMMENT/FHCRC fields).
    */
  private def gzipHeaderEnd(b: Array[Byte], off: Int): Int = {
    if (off + 10 > b.length) return -1
    if ((b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b ||
        (b(off + 2) & 0xff) != 0x08) return -1
    val flg = b(off + 3) & 0xff
    var p = off + 10
    if ((flg & 0x04) != 0) { // FEXTRA
      if (p + 2 > b.length) return -1
      val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      p += 2 + xlen
    }
    if ((flg & 0x08) != 0) { // FNAME, nul-terminated
      while (p < b.length && b(p) != 0) p += 1
      p += 1
    }
    if ((flg & 0x10) != 0) { // FCOMMENT, nul-terminated
      while (p < b.length && b(p) != 0) p += 1
      p += 1
    }
    if ((flg & 0x02) != 0) p += 2 // FHCRC
    if (p > b.length) -1 else p
  }

  private def readLE4(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL)) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  /** Streaming inflater over ONE raw-deflate member: only the
    * compressed file bytes and one record's block are ever held at
    * once (a ~1 GB Common-Crawl member file inflates past the JVM's
    * 2 GB array limit if materialized). Tracks the running CRC32 and
    * inflated size for the member-trailer check; truncated or damaged
    * deflate data surfaces as IOException, which the member loop
    * converts to one counted corrupt row.
    */
  private final class MemberStream(raw: Array[Byte], start: Int)
      extends java.io.InputStream {
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(raw, start, raw.length - start)
    val crc = new java.util.zip.CRC32
    var inflated = 0L
    private val one = new Array[Byte](1)
    override def read(): Int = {
      val n = read(one, 0, 1)
      if (n < 0) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (inf.finished()) return -1
      try {
        var n = inf.inflate(b, off, len)
        while (n == 0) {
          if (inf.finished()) return -1
          if (inf.needsInput())
            throw new java.io.EOFException("gzip member truncated")
          if (inf.needsDictionary())
            throw new java.io.IOException("gzip member needs a dictionary")
          n = inf.inflate(b, off, len)
        }
        crc.update(b, off, n)
        inflated += n
        n
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw new java.io.IOException(
            "gzip member damaged: " + e.getMessage)
      }
    }
  }

  /** Pure JVM file parser: one WARC file's bytes -> [[WarcRow]]s.
    *
    * Multi-member gzip (the Common-Crawl one-record-per-member layout)
    * parses MEMBER BY MEMBER: each member inflates through a streamed
    * [[MemberStream]], its records parse via [[parseRecordStream]],
    * and its CRC32/ISIZE trailer is verified before any of its rows
    * land (a member whose checksum fails contributes one corrupt row,
    * never silently-corrupt documents). Damage — a malformed member
    * header, truncated/undecodable deflate data, a bad trailer —
    * emits ONE corrupt row per damaged REGION and parsing RESYNCS at
    * the next member magic, so one flipped byte early in a 1000-member
    * file no longer quarantines every later record. Plain uncompressed
    * `.warc` keeps stop-on-first-damage: without member boundaries
    * there is no trustworthy resync point past a corrupt
    * Content-Length.
    */
  private[sources] def parseWarcMembers(raw: Array[Byte],
                                        extract: Option[String => String] =
                                          Some(Html.extractText))
      : Seq[WarcRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRow]
    val isGz = raw.length >= 2 && (raw(0) & 0xff) == 0x1f &&
      (raw(1) & 0xff) == 0x8b
    if (!isGz) {
      val in = new java.io.BufferedInputStream(
        new java.io.ByteArrayInputStream(raw), 65536)
      try parseRecordStream(in, extract, out)
        .foreach(head => out += corruptRow(head))
      catch {
        case e: java.io.IOException =>
          out += corruptRow("<warc stream damaged: " + e.getMessage + ">")
      }
      return out.toSeq
    }
    var off = 0
    var inDamage = false
    while (off >= 0 && off < raw.length) {
      val memberRows = scala.collection.mutable.ArrayBuffer.empty[WarcRow]
      var damageHead: String = null
      var damageNext = -1 // known resume point despite damage, else scan
      var nextOff = -1
      val hdrEnd = gzipHeaderEnd(raw, off)
      if (hdrEnd < 0) damageHead = "<damaged gzip member header>"
      else {
        val ms = new MemberStream(raw, hdrEnd)
        try {
          val streamDamage = parseRecordStream(
            new java.io.BufferedInputStream(ms, 65536), extract,
            memberRows)
          // drain: the WARC layer may stop before member end (a
          // stream-damage record, trailing padding) — getBytesRead
          // must cover the whole deflate stream to find the trailer
          val buf = new Array[Byte](65536)
          while (ms.read(buf, 0, buf.length) >= 0) ()
          val tail = hdrEnd + ms.inf.getBytesRead.toInt
          if (tail + 8 > raw.length) {
            memberRows.clear()
            damageHead = streamDamage.getOrElse("<gzip member truncated>")
          } else if (readLE4(raw, tail) != (ms.crc.getValue & 0xffffffffL) ||
                     readLE4(raw, tail + 4) != (ms.inflated & 0xffffffffL)) {
            // silent corruption: the deflate stream decoded but the
            // checksum disagrees — nothing from this member is
            // trustworthy. Its EXTENT is known though, so resume
            // exactly past it instead of magic-scanning its interior
            memberRows.clear()
            damageHead = "<gzip member CRC mismatch>"
            damageNext = tail + 8
          } else {
            // member verified; WARC-layer damage inside it (if any) is
            // one counted row, and the NEXT member is a clean resync
            streamDamage.foreach(h => memberRows += corruptRow(h))
            nextOff = tail + 8
          }
        } catch {
          case e: java.io.IOException =>
            memberRows.clear()
            damageHead = "<" + e.getMessage + ">"
        } finally ms.inf.end()
      }
      if (damageHead == null) {
        out ++= memberRows
        inDamage = false
        off = nextOff
      } else {
        // one corrupt row per damaged REGION: a resync candidate that
        // fails again (the magic was a false positive inside damaged
        // compressed data) must not multiply the count
        if (!inDamage) out += corruptRow(damageHead)
        inDamage = true
        off = if (damageNext >= 0) damageNext else findMagic(raw, off + 2)
      }
    }
    out.toSeq
  }

  /** One WARC parser for both forms: binaryFile rows -> the
    * [[parseCrawl]]-shaped typed frame. The flatMap is stateless
    * per-row work, so the same code streams; doc_id / lang / ts are
    * codegen'd column math over the parsed rows.
    */
  private def parseWarcFiles(files: DataFrame,
                             extract: Option[String => String])
      : DataFrame = {
    val session = files.sparkSession
    import session.implicits._
    val u = coalesce(col("url"), lit(""))
    val w = coalesce(col("wts"), lit(""))
    files.select(col("content")).as[Array[Byte]]
      .flatMap(parseWarcMembers(_, extract))
      .toDF("value", "corrupt", "url", "wts", "rid", "text",
            "content_type", "payload", "http_status", "redirect",
            "last_modified", "etag", "revisit", "cache_control",
            "expires", "retry_after")
      .select(
        col("value"), col("corrupt"),
        when(!col("corrupt"),
          pmod(
            when(col("payload").isNotNull,
              // binary asset: id over the payload bytes
              xxhash64(u, w, coalesce(col("rid"), lit("")),
                       col("payload")))
              .when(col("rid").isNotNull,
                // WARC-Record-ID is unique per record on conformant
                // input: byte-identical re-fetches (same url, second,
                // body — the CC revisit shape) still get distinct ids
                xxhash64(u, w, col("rid"), col("text")))
              .otherwise(xxhash64(u, w, col("text"))),
            lit(Long.MaxValue)).cast("long")).as("doc_id"),
        col("url"),
        // source = the URL HOST (lowercased, www-stripped) with a
        // 'warc' fallback for hostless/corrupt rows: a constant source
        // would collapse every per-source operator downstream (q63
        // caps, q125 mixing weights, q164 funnel survival, the
        // resample loop) to ONE stratum on a WARC-fed corpus — the
        // same degeneracy langid-at-ingest fixed for per-language ops.
        // Host is the deterministic no-lookup approximation of the
        // registered domain real CC pipelines group by; a deployment
        // carrying a public-suffix list can re-map it downstream.
        when(!col("corrupt"), hostOf(col("url"))).as("source"),
        col("text"),
        when(!col("corrupt"), LangId.predict(col("text"))).as("lang"),
        coalesce(try_to_timestamp(col("wts")), current_timestamp())
          .as("ts"),
        // extra columns append AFTER the contract (the writeCrawl
        // convention): media routing metadata + the binary payload of
        // image/audio/video responses ([[warcAssets]] reads them;
        // [[crawlDocs]] never sees asset rows — their text is null),
        // plus the HTTP status and the RESOLVED 3xx redirect target
        // ([[okResponses]]/[[redirectEdges]] read them)
        col("content_type"), col("payload"),
        col("http_status"), col("redirect"),
        // RFC 9110 revalidation metadata ([[revisitValidators]] reads
        // them; absent headers are null), the revisit marker
        // (WARC-Type: revisit — capture counted, content absent), and
        // the RFC 9111 declared-freshness headers, verbatim
        // ([[max_age_s]] interprets them)
        col("last_modified"), col("etag"), col("revisit"),
        col("cache_control"), col("expires"), col("retry_after"))
  }

  /** The BINARY side of a parsed WARC frame: image/audio/video
    * responses as the multimodal asset table
    * ([[graft.cpms.Multimodal.assetSchema]]: asset_id, kind, content,
    * meta(source, n_bytes)) — the split every real CC consumer runs
    * (text to curation, media to the asset store). Decode /
    * feature-extraction then proceeds via the multimodal pipeline
    * (q71/q121/q123); this operator is pure routing, no decoding.
    */
  def warcAssets(parsed: DataFrame): DataFrame =
    parsed.filter(!col("corrupt") && col("payload").isNotNull)
      .select(
        col("doc_id").as("asset_id"),
        // payload rows exist ONLY for these three type families
        // (assetKind routing), so the prefix extract is total here
        regexp_extract(lower(trim(col("content_type"))),
                       "^(image|audio|video)/", 1).as("kind"),
        col("payload").as("content"),
        struct(col("source"),
               octet_length(col("payload")).cast("long").as("n_bytes"))
          .as("meta"))

  /** The URL's host, lowercased with a leading `www.` stripped —
    * codegen'd column math (no UDF). Null/garbage/hostless urls fall
    * back to `'warc'` so the column is always a usable stratum key.
    */
  private[sources] def hostOf(url: Column): Column = {
    val host = lower(regexp_extract(
      coalesce(url, lit("")), "(?i)^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1))
    val bare = regexp_replace(host, "^www\\.", "")
    when(bare =!= "", bare).otherwise(lit("warc"))
  }

  /** Batch read of a WARC directory (`*.warc` / `*.warc.gz`).
    * `extractHtml` defaults ON: raw WARC bodies are markup, and every
    * real CC pipeline (CCNet/C4/FineWeb) extracts before curation —
    * pass false to study the raw bodies.
    */
  def readWarc(s: SparkSession, path: String,
               extractHtml: Boolean = true,
               mainContent: Boolean = false): DataFrame =
    parseWarcFiles(s.read.format("binaryFile").load(path),
                   extractor(extractHtml, mainContent))

  /** Batch read of an EXPLICIT WARC file list — the incremental-
    * refresh primitive: a DerivedCache delta pass reads only the
    * files appended since the landed manifest, never the whole dir.
    */
  def readWarcFiles(s: SparkSession, files: Seq[String],
                    extractHtml: Boolean = true,
                    mainContent: Boolean = false): DataFrame =
    parseWarcFiles(s.read.format("binaryFile").load(files: _*),
                   extractor(extractHtml, mainContent))

  /** Streaming read: newly landed WARC files become micro-batches,
    * checkpointed exactly-once by file name (the [[readCrawlStream]]
    * contract; `maxFilesPerTrigger` bounds a backfill batch).
    */
  def readWarcStream(s: SparkSession, path: String,
                     maxFilesPerTrigger: Int = 0,
                     extractHtml: Boolean = true,
                     mainContent: Boolean = false): DataFrame = {
    val r0 = s.readStream.format("binaryFile").schema(binaryFileSchema)
    val r = if (maxFilesPerTrigger > 0)
              r0.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
            else r0
    parseWarcFiles(r.load(path), extractor(extractHtml, mainContent))
  }

  /** The HTML-body extractor a read mode selects: tag-strip by
    * default, the C4/jusText main-content gate when `mainContent`, or
    * none at all (raw markup) when extraction is off.
    */
  private def extractor(extractHtml: Boolean, mainContent: Boolean)
      : Option[String => String] =
    if (!extractHtml) None
    else if (mainContent) Some(Html.extractMainText _)
    else Some(Html.extractText _)

  /** WARC export — [[writeCrawl]]'s sibling for the CC-ecosystem
    * interchange format and [[readWarc]]'s round-trip partner. Each
    * row of a doc frame (url/ts/doc_id/text, the [[crawlDocs]]
    * contract columns; url and ts may be null) lands as ONE gzip
    * member holding a conformant ISO-28500 response record: WARC/1.0
    * headers (deterministic `WARC-Record-ID` minted from doc_id,
    * `WARC-Date` from ts), an HTTP 200 + `Content-Type: text/plain;
    * charset=utf-8` envelope, the text as body. One `part-N.warc.gz`
    * per partition written straight through the Hadoop FileSystem —
    * file count (= task count) is the caller's partitioning, so a
    * 100 TB export shards exactly as the upstream plan parallels, and
    * the one-member-per-record layout keeps the output SPLITTABLE for
    * the next reader (the resync property [[parseWarcMembers]]
    * exploits). Round trip: `readWarc(writeWarc(df))` recovers url,
    * ts (second precision), and text exactly; doc_id and source are
    * re-derived by the reader's own rules (Record-ID hash, URL host).
    *
    * Robustness contract: header VALUES (url, rid) are stripped of
    * control characters before interpolation — a JSONL-sourced url
    * carrying `\r\n` would otherwise terminate the header early and
    * inject attacker-chosen header lines into the record. A null `ts`
    * round-trips as the epoch sentinel `1970-01-01T00:00:00Z` (the
    * WARC-Date header is mandatory per ISO 28500, so "absent" is not
    * representable; readers treating epoch captures as undated lose
    * nothing real). Each task writes through a task-attempt-unique
    * temp file committed by rename, so a speculative or retried
    * attempt can never interleave bytes into a part file another
    * attempt is writing.
    */
  def writeWarc(docFrame: DataFrame, path: String): Unit = {
    // WARC-Date is a UTC instant by spec: render through
    // to_utc_timestamp(ts, sessionTZ) so the literal 'Z' is honest in
    // ANY session time zone (date_format alone renders session-local
    // wall-clock, which would shift every capture date for a
    // non-UTC caller)
    val tz = docFrame.sparkSession.conf.get(
      "spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    val prepped = docFrame.select(
      coalesce(date_format(to_utc_timestamp(col("ts"), tz),
                           "yyyy-MM-dd'T'HH:mm:ss'Z'"),
               lit("1970-01-01T00:00:00Z")).as("wdate"),
      coalesce(col("doc_id").cast("string"), lit("0")).as("rid"),
      col("url").cast("string").as("url"),
      coalesce(col("text"), lit("")).as("text"))
    // overwrite semantics, like every sink in this library
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(
      docFrame.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(hadoopPath, true)
    fs.mkdirs(hadoopPath)
    // ship the SESSION's effective Hadoop config to the tasks — a bare
    // new Configuration() on the executor drops spark.hadoop.* (S3
    // credentials, fs.defaultFS) and writes to the wrong filesystem
    val confProps: Seq[(String, String)] = {
      val it = docFrame.sparkSession.sparkContext
        .hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
      buf.toSeq
    }
    prepped.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val conf = new org.apache.hadoop.conf.Configuration()
        confProps.foreach { case (k, v) => conf.set(k, v) }
        // header-value sanitizer: control characters (CR/LF above
        // all) must never reach a header line — "url\r\nWARC-Type: x"
        // would end the header early and inject lines
        def clean(s: String): String = {
          var i = 0; var dirty = false
          while (i < s.length && !dirty) {
            val c = s.charAt(i)
            if (c < ' ' || c == '\u007f') dirty = true
            i += 1
          }
          if (!dirty) s
          else s.filter(c => c >= ' ' && c != '\u007f')
        }
        // commit protocol: write a task-attempt-unique temp, rename
        // into place at close — a speculative duplicate attempt
        // writes ITS OWN temp and the losing rename just cleans up,
        // so part files are never interleaved
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val fsys = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
        val tmp = new org.apache.hadoop.fs.Path(
          path, f".part-$idx%05d-a$attempt.warc.gz.tmp")
        val dst = new org.apache.hadoop.fs.Path(path, f"part-$idx%05d.warc.gz")
        val out = fsys.create(tmp, true)
        try {
          rows.foreach { r =>
            val bodyText = r.getString(3)
            val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
              "charset=utf-8\r\n\r\n").getBytes("UTF-8") ++
              bodyText.getBytes("UTF-8")
            val hdr = new StringBuilder("WARC/1.0\r\n")
            hdr ++= "WARC-Type: response\r\n"
            hdr ++= s"WARC-Record-ID: <urn:graft:${clean(r.getString(1))}>\r\n"
            hdr ++= s"WARC-Date: ${r.getString(0)}\r\n"
            if (!r.isNullAt(2))
              hdr ++= s"WARC-Target-URI: ${clean(r.getString(2))}\r\n"
            hdr ++= "Content-Type: application/http;msgtype=response\r\n"
            hdr ++= s"Content-Length: ${http.length}\r\n\r\n"
            val member = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(member)
            gz.write(hdr.toString.getBytes("UTF-8"))
            gz.write(http)
            gz.write("\r\n\r\n".getBytes("UTF-8"))
            gz.close()
            out.write(member.toByteArray)
          }
        } finally out.close()
        // identical content from any attempt: first rename wins, a
        // loser deletes its temp and moves on. A rename that fails
        // with NO committed dst is a real FS fault — surface it (a
        // silent drop here is a missing shard nobody notices)
        if (!fsys.rename(tmp, dst)) {
          if (fsys.exists(dst)) fsys.delete(tmp, false)
          else {
            fsys.delete(dst, false)
            if (!fsys.rename(tmp, dst)) {
              // a concurrent attempt may have committed dst between
              // the exists-check and this retry: that is a WIN (same
              // bytes), but the loser must still reap its temp file
              if (fsys.exists(dst)) fsys.delete(tmp, false)
              else
                throw new java.io.IOException(
                  s"WARC part commit failed: $tmp -> $dst")
            }
          }
        }
        Iterator.single(idx)
      }
    }.count(): Unit
  }
}
