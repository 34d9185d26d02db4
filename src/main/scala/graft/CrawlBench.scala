package graft

import org.apache.spark.sql.functions._

/** WARC front-end throughput probe — the "measure, don't guess" tool
  * for the crawl door: builds a DETERMINISTIC synthetic WARC corpus
  * (HTML bodies with nav/article/entity structure so the tag-strip
  * extractor, the langid projection, and the host-derived source all
  * do real work), then times a full batch parse + extraction at two
  * scales and prints one JSON line per rung plus the ratio. The parse
  * is file-parallel flatMap work, so the expected shape is linear in
  * bytes; a super-linear ratio here means a front-end regression long
  * before it shows up on a real dump.
  *
  * Usage: runMain graft.CrawlBench [files] [membersPerFile]
  *   (defaults 48 x 192; rung 2 is 4x the files)
  */
object CrawlBench {

  /** One deterministic ~2.4 KB HTML body — index-seeded, no RNG. */
  private def body(f: Int, m: Int): String = {
    val sb = new StringBuilder(4096)
    sb ++= "<html><head><meta charset=\"utf-8\"><title>Doc "
    sb ++= s"$f-$m</title><style>p{margin:0}</style></head><body>"
    sb ++= "<nav><a href='/'>Home</a> <a href='/a'>About</a> " +
      "<a href='/c'>Contact</a></nav><article>"
    var k = 0
    while (k < 24) {
      sb ++= s"<p>the paragraph $k of document $f-$m has a run of "
      sb ++= s"words w${(f * 7 + k) % 97} w${(m * 13 + k) % 89} and "
      sb ++= s"w${(k * 31) % 83} of it &amp; more text to score.</p>"
      k += 1
    }
    sb ++= "<script>var t = track(" + f + ");</script>"
    sb ++= "</article><footer><a href='/t'>Terms</a></footer></body></html>"
    sb.toString
  }

  private def record(f: Int, m: Int): Array[Byte] = {
    val b = body(f, m)
    val block = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
      "charset=utf-8\r\n\r\n" + b).getBytes("UTF-8")
    val hdr = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: http://host${f % 37}.example/d/$m\r\n" +
      s"WARC-Date: 2026-03-01T00:00:00Z\r\n" +
      s"WARC-Record-ID: <urn:uuid:$f-$m>\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes("UTF-8")
    hdr ++ block ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private def writeCorpus(dir: java.nio.file.Path, files: Int,
                          members: Int): Long = {
    var bytes = 0L
    for (f <- 0 until files) {
      val bos = new java.io.ByteArrayOutputStream(members * 1024)
      for (m <- 0 until members) {
        val os = new java.util.zip.GZIPOutputStream(bos)
        os.write(record(f, m)); os.close()
      }
      val p = dir.resolve(f"shard-$f%05d.warc.gz")
      java.nio.file.Files.write(p, bos.toByteArray)
      bytes += java.nio.file.Files.size(p)
    }
    bytes
  }

  def main(args: Array[String]): Unit = {
    val files = args.headOption.map(_.toInt).getOrElse(48)
    val members = args.drop(1).headOption.map(_.toInt).getOrElse(192)
    val spark = Run.session(Run.cores)

    def rung(mult: Int): (Long, Double, Long) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-crawlbench")
      val bytes = writeCorpus(dir, files * mult, members)
      val expected = (files * mult).toLong * members
      // warm once (codegen/JIT), then time the parse+extract+langid
      // end to end, forced through a sum over every text
      def run(): Long = {
        val docs = sources.Crawl.crawlDocs(
          sources.Crawl.readWarc(spark, dir.toString))
        docs.agg(sum(length(col("text"))), count(lit(1)))
          .head().getLong(1)
      }
      run()
      val t0 = System.nanoTime()
      val n = run()
      require(n == expected, s"parsed $n of $expected records")
      (expected, (System.nanoTime() - t0) / 1e9, bytes)
    }

    val (n1, s1, b1) = rung(1)
    val (n2, s2, b2) = rung(4)
    def line(tag: String, n: Long, sec: Double, bytes: Long): String =
      f"""{"rung":"$tag","records":$n,"gz_bytes":$bytes,"sec":$sec%.3f,""" +
        f""""mb_per_sec":${bytes / 1e6 / sec}%.1f}"""
    println(line("1x", n1, s1, b1))
    println(line("4x", n2, s2, b2))
    println(f"""{"ratio":${s2 / s1}%.2f,"linear_expectation":4.0}""")

    // the link-graph door: anchor extraction and the full frontier
    // (links -> canonicalize -> anti-join seen -> per-host cap) over
    // a raw-body read of a fresh 1x corpus — each body carries 4
    // resolvable anchors, so expected edge count = 4 * records
    locally {
      val dir = java.nio.file.Files.createTempDirectory("graft-crawlbench")
      val bytes = writeCorpus(dir, files, members)
      val expected = files.toLong * members
      val parsed = sources.Crawl.readWarc(spark, dir.toString,
                                          extractHtml = false)
      def anchors(): Long =
        sources.Crawl.anchorEdges(parsed)
          .agg(count(lit(1)), sum(length(col("anchor"))))
          .head().getLong(0)
      anchors()
      val t0 = System.nanoTime()
      val e = anchors()
      val sA = (System.nanoTime() - t0) / 1e9
      require(e == expected * 4, s"extracted $e of ${expected * 4} anchors")
      def frontier(): Long =
        sources.Crawl.frontier(parsed, perHostCap = 1000).count()
      frontier()
      val t1 = System.nanoTime()
      frontier()
      val sF = (System.nanoTime() - t1) / 1e9
      println(line("anchors-1x", e, sA, bytes))
      println(line("frontier-1x", expected, sF, bytes))

      // the STREAMING door over the same corpus: readWarcStream ->
      // frontierStream (Bloom seen-sketch + fMGWS budget state)
      // drained in one door pass — prices the state-store
      // path against the batch anti-join above. The pass includes the
      // member parse (like the batch door's timed run, which also
      // re-parses), so the delta over frontier-1x is the honest cost
      // of streaming statefulness.
      val bloom = sources.Crawl.seenUrlBloom(parsed)
      val frS = sources.Crawl.frontierStream(
        sources.Crawl.readWarcStream(spark, dir.toString,
          extractHtml = false), // link extraction needs raw markup
        bloom, perHostCap = 1000)
      // checkpoint OUTSIDE the watched corpus dir: the file stream
      // source's recursive listing would otherwise pick up its own
      // offsets/commits files as WARC input (they parse as corrupt
      // rows — harmless to the count, but extra parse work and
      // nondeterminism in the timing)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-cb-ckpt")
      val t2 = System.nanoTime()
      val q = Door.drain(frS, ckpt.toString)
        .format("memory").queryName("cb_frontier").start()
      q.awaitTermination()
      val sS = (System.nanoTime() - t2) / 1e9
      val eS = spark.table("cb_frontier").count()
      println(line("frontier-stream-1x", eS, sS, bytes))

      // the SCHEDULER-COMPOSED streaming door: the same corpus with
      // every frame on — trap verdicts, rank-proportional caps, host
      // families, and the exact seen tier behind the Bloom — so the
      // delta over frontier-stream-1x prices the full composition
      // (four extra shuffle joins + the anti-join leg), not guesses
      // the frames are LANDED first (parquet artifacts, the nightly-
      // tier shape) and joined as scans: a stream-static join
      // re-executes its static side per micro-batch, so composing
      // live DERIVATIONS (PageRank iterations, trap aggregations)
      // into the stream would re-run them every batch — the artifact
      // tier exists precisely so the doors join cheap scans
      val canon = parsed.filter(!col("corrupt") && col("url").isNotNull)
        .select(sources.Urls.canonicalize(col("url")).as("canon_url"))
      val edges = operators.WebGraph.edgesFromLinks(
        sources.Crawl.linkEdges(parsed))
      val ranks = operators.WebGraph.pageRank(edges, iters = 3)
      val art = java.nio.file.Files.createTempDirectory("graft-cb-art")
      operators.WebGraph.crawlTraps(canon, threshold = 3.0)
        .select("host", "verdict").write.parquet(s"$art/traps")
      operators.WebGraph.rankCaps(ranks, budget = 100000L)
        .select("host", "cap").write.parquet(s"$art/caps")
      operators.WebGraph.components(edges, rounds = 3)
        .write.parquet(s"$art/fams")
      sources.Crawl.seenUrls(parsed).write.parquet(s"$art/seen")
      val frC = sources.Crawl.frontierStream(
        sources.Crawl.readWarcStream(spark, dir.toString,
          extractHtml = false),
        bloom, perHostCap = 1000,
        seenExact = Some(spark.read.parquet(s"$art/seen")),
        trapVerdicts = Some(spark.read.parquet(s"$art/traps")),
        families = Some(spark.read.parquet(s"$art/fams")),
        rankCaps = Some(spark.read.parquet(s"$art/caps")))
      val ckpt2 = java.nio.file.Files.createTempDirectory("graft-cb-ck2")
      val t3 = System.nanoTime()
      val q2 = Door.drain(frC, ckpt2.toString)
        .format("memory").queryName("cb_front_sched").start()
      q2.awaitTermination()
      val sC = (System.nanoTime() - t3) / 1e9
      println(line("frontier-sched-1x",
        spark.table("cb_front_sched").count(), sC, bytes))

      // the recrawl EXECUTION door: refetchStream (fused change +
      // validator state, q188 pricing from the rank frame) drained
      // over the same corpus — per-page state at corpus page count
      val rf = sources.Crawl.refetchStream(
        sources.Crawl.readWarcStream(spark, dir.toString,
          extractHtml = false),
        ranks)
      val ckpt3 = java.nio.file.Files.createTempDirectory("graft-cb-ck3")
      val t4 = System.nanoTime()
      val q3 = Door.drain(rf, ckpt3.toString)
        .format("memory").queryName("cb_refetch").start()
      q3.awaitTermination()
      val sR = (System.nanoTime() - t4) / 1e9
      println(line("refetch-1x", spark.table("cb_refetch").count(),
        sR, bytes))

      // the round-19 SCHEDULER refetch door: due-time wakeups armed
      // (event-time timers per page) + the declared-freshness frame
      // joined stream-static + the staleness term — the delta over
      // refetch-1x prices one more near-unique-key shuffle join plus
      // the timer bookkeeping in the state store
      val declared = canon.distinct()
        .select(col("canon_url"),
          element_at(typedLit(Seq("always", "hourly", "daily", "weekly",
                                  "monthly", "yearly")),
            (pmod(xxhash64(col("canon_url")), lit(6)) + 1).cast("int"))
            .as("changefreq"))
      declared.write.parquet(s"$art/declared")
      val rfD = sources.Crawl.refetchStream(
        sources.Crawl.readWarcStream(spark, dir.toString,
          extractHtml = false),
        ranks,
        declared = Some(spark.read.parquet(s"$art/declared")),
        staleBoostS = 3600L,
        dueBaseS = 86400L)
      val ckpt4 = java.nio.file.Files.createTempDirectory("graft-cb-ck4")
      val t5 = System.nanoTime()
      val q4 = Door.drain(rfD, ckpt4.toString)
        .format("memory").queryName("cb_refetch_due").start()
      q4.awaitTermination()
      val sD = (System.nanoTime() - t5) / 1e9
      println(line("refetch-due-1x", spark.table("cb_refetch_due").count(),
        sD, bytes))

      // the FULLY-LIVE door with in-state trap detection: every
      // capture rides into its host's budget group as a trap
      // observation — the delta over frontier-stream-1x prices the
      // live q190 gate (one more union leg + per-host tracked sets)
      val frT = sources.Crawl.frontierStreamLive(
        sources.Crawl.readWarcStream(spark, dir.toString,
          extractHtml = false),
        bloom, agent = "graftbot", perHostCap = 1000,
        trapThreshold = 3.0)
      val ckpt5 = java.nio.file.Files.createTempDirectory("graft-cb-ck5")
      val t6 = System.nanoTime()
      val q5 = Door.drain(frT, ckpt5.toString)
        .format("memory").queryName("cb_front_trap").start()
      q5.awaitTermination()
      val sT = (System.nanoTime() - t6) / 1e9
      println(line("frontier-livetrap-1x",
        spark.table("cb_front_trap").count(), sT, bytes))
    }
    spark.stop()
  }
}
