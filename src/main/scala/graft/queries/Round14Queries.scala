package graft.queries

import graft.queries.fixtures.Crawl.{urlOf, urlSqlOf}
import graft.queries.fixtures.{Corpus, Crawl, Streams}
import graft.sources.Tables
import graft.streaming.StreamFold
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14: the crawl-realism second pass round-13's verdict listed —
  * `<base href>` document-level resolution (q246), per-user-agent
  * robots group selection with Crawl-delay (q247), and
  * `<sitemapindex>` nesting (q248).
  *
  * Reference scope: nothing here maps to
  * /root/reference/SCD_script.txt — these extend the web-graph family
  * the north star adds on top.
  */
object Round14Queries extends QueryGroup {

  // ---- q246's base-href plant ---------------------------------------
  // Page URLs carry a directory (/s<j>/p/<id>) so relative resolution
  // is observable; the base class rides doc_id div 20 (% 20 IS the
  // host — the decorrelation rule):
  //   j%4==0 → no base (control)
  //   j%4==1 → <base href="../">            relative base
  //   j%4==2 → <base href="http://cdn...">  cross-host base: relative
  //            AND root-relative links leave the site
  //   j%4==3 → <base href='/b/'>            root-relative base
  // Each page links one relative, one root-relative, one absolute
  // target — only the absolute one is base-immune.
  private[graft] def basePages(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.PortableHash
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val n = Tables.docCount(s, dir)
    def t(seed: Int) =
      PortableHash.hash60(col("doc_id").cast("string"), seed) % n
    val (t1, t2) = (t(81), t(82))
    val j = expr("doc_id div 20") % 4
    val base = when(j === 1, lit("<base href=\"../\">"))
      .when(j === 2, lit("<base href=\"http://cdn.example.com/lib/\">"))
      .when(j === 3, lit("<base href='/b/'>"))
      .otherwise(lit(""))
    val html = concat(lit("<html><head>"), base, lit("</head><body>"),
      lit("<a href=\"q/p/"), t1.cast("string"), lit("\">r</a>"),
      lit("<a href=\"/p/"), t2.cast("string"), lit("\">a</a>"),
      lit("<a href=\""), urlOf(t2), lit("\">x</a>"),
      lit("</body></html>"))
    docs.select(col("doc_id"),
      concat(lit("http://d"), (col("doc_id") % 20).cast("string"),
        lit(".example.com/s"), (col("doc_id") % 7).cast("string"),
        lit("/p/"), col("doc_id").cast("string")).as("url"),
      html.as("html"))
  }

  /** Oracle CTE `bppages(doc_id, url, html)` — the [[basePages]]
    * replay. Concat operators at line END (stripMargin hazard).
    */
  private val bppagesCte: String = {
    import graft.functions.PortableHash
    def t(seed: Int) =
      s"(${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", seed)} % (SELECT n FROM bppn))"
    val (t1, t2) = (t(81), t(82))
    s"""bppn AS (SELECT count(*) AS n FROM documents),
       |bppages AS (SELECT doc_id,
       |    'http://d' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/s' ||
       |    CAST(doc_id % 7 AS VARCHAR) || '/p/' || CAST(doc_id AS VARCHAR) AS url,
       |    '<html><head>' ||
       |    (CASE WHEN (doc_id // 20) % 4 = 1 THEN '<base href="../">'
       |          WHEN (doc_id // 20) % 4 = 2 THEN '<base href="http://cdn.example.com/lib/">'
       |          WHEN (doc_id // 20) % 4 = 3 THEN '<base href=' || chr(39) || '/b/' || chr(39) || '>'
       |          ELSE '' END) ||
       |    '</head><body><a href="q/p/' || CAST($t1 AS VARCHAR) ||
       |    '">r</a><a href="/p/' || CAST($t2 AS VARCHAR) || '">a</a><a href="' ||
       |    ${urlSqlOf(t2)} || '">x</a></body></html>' AS html
       |  FROM documents)""".stripMargin
  }

  // ---- q247's robots plant --------------------------------------------
  // Hosts k%3==0 publish a GraftBot-specific group (deny /p/1, delay 2)
  // ABOVE the shared */otherbot group (deny /p/2, delay 10) — so the
  // two agents' decisions and delays differ exactly on those hosts.
  private def robotsTxt(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 20).map { k =>
      val bot =
        if (k % 3 == 0)
          "User-agent: GraftBot\nDisallow: /p/1\nCrawl-delay: 2\n\n"
        else ""
      (s"d$k.example.com",
        bot + "User-agent: *\nUser-agent: otherbot\n" +
          "Disallow: /p/2\nCrawl-delay: 10\n# end")
    }.toDF("host", "txt")
  }

  private val robotsTxtCte: String =
    s"""rasrc AS (SELECT
       |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
       |    (CASE WHEN k % 3 = 0 THEN 'User-agent: GraftBot' || chr(10) ||
       |      'Disallow: /p/1' || chr(10) || 'Crawl-delay: 2' || chr(10) || chr(10)
       |      ELSE '' END) ||
       |    'User-agent: *' || chr(10) || 'User-agent: otherbot' || chr(10) ||
       |    'Disallow: /p/2' || chr(10) || 'Crawl-delay: 10' || chr(10) ||
       |    '# end' AS txt
       |  FROM (SELECT unnest(generate_series(0, 19)) AS k))""".stripMargin

  /** The [[graft.graph.WebGraph.urlDecisions]] replay —
    * `<pfx>dec(url, action)`, delegated to the canonical shared CTE
    * (scheme-stripped precedence length + RFC 9309 wildcard regexes).
    */
  private def decisionCte(urlsRel: String, rulesRel: String,
      pfx: String): String =
    graft.graph.WebGraph.urlDecisionsCtes(urlsRel, rulesRel, pfx)

  // ---- q248's sitemap-index plant -------------------------------------
  // Declared set = doc_id % 5 < 2 (q241's). Hosts k%4==3 publish a
  // plain urlset root (the direct path); every other host shards its
  // inventory into TWO child files by (doc_id div 20) parity behind a
  // <sitemapindex> root; hosts k%4==1 additionally reference a ghost
  // child the crawl never fetched (contributes nothing, countable).
  private def smEntry: Column =
    concat(lit("<url><loc>"), urlOf(col("doc_id")),
      lit("</loc><lastmod>2026-01-"),
      lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
      lit("</lastmod></url>"))

  private val smEntrySql: String =
    s"'<url><loc>' || ${urlSqlOf("doc_id")} || '</loc><lastmod>2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod></url>'"

  private def xmlAgg: Column =
    concat(lit("<urlset>"),
      array_join(transform(
        sort_array(collect_list(struct(col("doc_id"), col("e")))),
        x => x.getField("e")), ""),
      lit("</urlset>"))

  // ---- q250's Gopher-rule plants --------------------------------------
  // One plant per rule keyed on doc_id div 20 (% 20 IS the source):
  //   j%7==1 → all-bullet lines (bullet_frac 1.0 > 0.9)
  //   j%7==2 → every line ellipsis-terminated (> 0.3)
  //   j%7==3 → hash-symbol flood (symbol ratio > 0.1; alpha also dips)
  //   j%7==4 → numeric flood (alpha_frac < 0.8)
  //   j%7==5 → 3 words (< minTok)
  //   j%7==6 → text + guaranteed stop words (stop rule passes for sure)
  //   j%7==0 → untouched corpus text
  private val GpBullet =
    (1 to 8).map(i => s"- the item of number $i alpha beta gamma delta")
      .mkString("\n")
  private val GpEllip =
    (1 to 3).map(i => s"the story of part $i continues soon...")
      .mkString("\n")
  private val GpHash = "the tally of # marks " + Seq.fill(10)("#").mkString(" ")
  private val GpNum = "the count of " + (1 to 20).map(i => i * 111).mkString(" ")

  private[graft] def gopherPages(s: SparkSession, dir: String)
      : DataFrame = {
    val j = expr("doc_id div 20") % 7
    Tables(s, dir, "documents").select(col("doc_id"),
      when(j === 1, lit(GpBullet))
        .when(j === 2, lit(GpEllip))
        .when(j === 3, lit(GpHash))
        .when(j === 4, lit(GpNum))
        .when(j === 5, lit("tiny the of"))
        .when(j === 6, concat(col("text"), lit(" the of")))
        .otherwise(col("text")).as("ptext"))
  }

  private val gopherPagesCte: String =
    s"""gpdocs AS (SELECT doc_id,
       |    CASE (doc_id // 20) % 7
       |      WHEN 1 THEN '${GpBullet.replace("\n", "' || chr(10) || '")}'
       |      WHEN 2 THEN '${GpEllip.replace("\n", "' || chr(10) || '")}'
       |      WHEN 3 THEN '$GpHash'
       |      WHEN 4 THEN '$GpNum'
       |      WHEN 5 THEN 'tiny the of'
       |      WHEN 6 THEN text || ' the of'
       |      ELSE text END AS ptext
       |  FROM documents)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // GOPHER quality rules (Rae et al. Table A1, the quality half —
    // q245 covered the repetition half): per-doc word-count / mean
    // word length / symbol ratio / bullet and ellipsis line fractions
    // / alphabetic-word fraction / stop-word presence, every GATE
    // comparison exact-integer so the keep bit replays bit-identically.
    "q250_gopher_rules" -> ((s, dir) => {
      // stop list = the corpus's own marker words (the synthetic
      // corpus rarely carries 2 of Gopher's English eight; the rule's
      // SHAPE is what's under test, the list is a corpus property)
      graft.text.GopherQuality.signals(gopherPages(s, dir),
          "doc_id", "ptext", minTok = 20L,
          stopwords = Seq("the", "a", "of", "and", "is"))
        .orderBy(col("doc_id"))
    }),

    // BASE-HREF resolution report: the same pages resolved base-aware
    // vs base-blind, aggregated per base class — the control class
    // changes nothing, '../' moves only the relative link, the
    // cross-host base pulls relative AND root-relative links onto the
    // cdn host, '/b/' re-roots only the relative link. n_unchanged
    // counts distinct (src, url) pairs both resolutions agree on —
    // the direct measure of what ignoring <base> gets wrong.
    "q246_base_href" -> ((s, dir) => {
      import graft.graph.WebGraph
      val pages = basePages(s, dir)
      val withBase = WebGraph.resolvedLinksBase(pages,
        "doc_id", "url", "html")
      val noBase = WebGraph.resolvedLinks(pages, "doc_id", "url", "html")
      def cls = (expr("src div 20") % 4).as("base_cls")
      val agg = withBase.groupBy(cls)
        .agg(count(lit(1)).as("n_links"),
          sum(when(WebGraph.host(col("url")) === "cdn.example.com", 1)
            .otherwise(0)).cast("long").as("n_offsite"),
          sum(when(col("url").like("%.example.com/b/%"), 1)
            .otherwise(0)).cast("long").as("n_rootb"))
      val unchanged = withBase.distinct()
        .join(noBase.distinct(), Seq("src", "url"), "left_semi")
        .groupBy(cls).agg(count(lit(1)).as("n_unchanged"))
      agg.join(unchanged, Seq("base_cls"), "left")
        .select(col("base_cls"), col("n_links"), col("n_offsite"),
          col("n_rootb"),
          coalesce(col("n_unchanged"), lit(0L)).as("n_unchanged"))
        .orderBy(col("base_cls"))
    }),

    // PER-AGENT robots decisions: the same link corpus scored for two
    // crawler identities — GraftBot (own group on k%3==0 hosts: deny
    // /p/1*, delay 2) and an unknown agent (the * group everywhere:
    // deny /p/2*, delay 10). Per target host: link volume, each
    // agent's deny count, each agent's crawl delay — observably
    // different exactly on the GraftBot-group hosts.
    "q247_robots_agents" -> ((s, dir) => {
      import graft.graph.WebGraph
      val robots = robotsTxt(s)
      val links = WebGraph.links(Crawl.linkedPages(s, dir),
        "doc_id", "html")
      val urls = links.select(col("url"))
      val decBot = WebGraph.urlDecisions(urls,
          WebGraph.parseRobotsFor(robots, "host", "txt", "graftbot"))
        .withColumnRenamed("action", "a_bot")
      val decOth = WebGraph.urlDecisions(urls,
          WebGraph.parseRobotsFor(robots, "host", "txt", "crawlzilla"))
        .withColumnRenamed("action", "a_oth")
      val delBot = WebGraph.crawlDelays(robots, "host", "txt",
          "graftbot")
        .select(col("host").as("dst_host"), col("delay").as("delay_bot"))
      val delOth = WebGraph.crawlDelays(robots, "host", "txt",
          "crawlzilla")
        .select(col("host").as("dst_host"), col("delay").as("delay_oth"))
      links.join(decBot, Seq("url")).join(decOth, Seq("url"))
        .groupBy(WebGraph.host(col("url")).as("dst_host"))
        .agg(count(lit(1)).as("n_links"),
          sum(when(col("a_bot") === "deny", 1).otherwise(0))
            .cast("long").as("n_deny_bot"),
          sum(when(col("a_oth") === "deny", 1).otherwise(0))
            .cast("long").as("n_deny_other"))
        .join(delBot, Seq("dst_host"), "left")
        .join(delOth, Seq("dst_host"), "left")
        .select(col("dst_host"), col("n_links"), col("n_deny_bot"),
          col("n_deny_other"),
          coalesce(col("delay_bot"), lit(-1L)).as("delay_bot"),
          coalesce(col("delay_oth"), lit(-1L)).as("delay_oth"))
        .orderBy(col("dst_host"))
    }),

    // SITEMAP-INDEX nesting report: per host, the nested URL
    // inventory (direct urlset entries + entries of fetched child
    // sitemaps), the direct-only count (non-zero exactly on the
    // plain-urlset hosts), child references vs fetched children (the
    // ghost child shows up as the difference), and the newest
    // lastmod. The nested total must equal the host's declared set
    // regardless of which publishing shape it chose.
    "q248_sitemap_index" -> ((s, dir) => {
      import graft.graph.WebGraph
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val decl = docs.filter(col("doc_id") % 5 < 2)
        .select((col("doc_id") % 20).as("k"),
          (expr("doc_id div 20") % 2).as("b"), col("doc_id"),
          smEntry.as("e"))
      val ks = col("k").cast("string")
      val children = decl.filter(col("k") % 4 =!= 3)
        .groupBy(col("k"), col("b")).agg(xmlAgg.as("cxml"))
        .select(concat(lit("http://d"), ks, lit(".example.com/sm/"),
          col("b").cast("string"), lit(".xml")).as("url"), col("cxml"))
      val urlsetAll = decl.groupBy(col("k")).agg(xmlAgg.as("uxml"))
      val spine = docs.select((col("doc_id") % 20).as("k")).distinct()
      val roots = spine.join(urlsetAll, Seq("k"), "left")
        .select(concat(lit("d"), ks, lit(".example.com")).as("host"),
          when(col("k") % 4 === 3,
            coalesce(col("uxml"), lit("<urlset></urlset>")))
          .otherwise(concat(
            lit("<sitemapindex><sitemap><loc>http://d"), ks,
            lit(".example.com/sm/0.xml</loc></sitemap>"),
            lit("<sitemap><loc>http://d"), ks,
            lit(".example.com/sm/1.xml</loc></sitemap>"),
            when(col("k") % 4 === 1,
              concat(lit("<sitemap><loc>http://d"), ks,
                lit(".example.com/sm/ghost.xml</loc></sitemap>")))
              .otherwise(lit("")),
            lit("</sitemapindex>"))).as("xml"))
      val nested = WebGraph.parseSitemapsNested(roots, "host", "xml",
        children, "url", "cxml")
      val direct = WebGraph.parseSitemaps(roots, "host", "xml")
      val idx = WebGraph.parseSitemapIndex(roots, "host", "xml")
      val nstAgg = nested.groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          max(col("lastmod")).as("max_lastmod"))
      val dirAgg = direct.groupBy(col("host"))
        .agg(count(lit(1)).as("n_direct"))
      val idxAgg = idx.groupBy(col("host"))
        .agg(count(lit(1)).as("n_children"))
      val fetAgg = idx.join(children.select(col("url").as("child")),
          Seq("child"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_fetched"))
      val hspine = spine.select(
        concat(lit("d"), ks, lit(".example.com")).as("host"))
      hspine.join(nstAgg, Seq("host"), "left")
        .join(dirAgg, Seq("host"), "left")
        .join(idxAgg, Seq("host"), "left")
        .join(fetAgg, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("n_urls"), lit(0L)).as("n_urls"),
          coalesce(col("n_direct"), lit(0L)).as("n_direct"),
          coalesce(col("n_children"), lit(0L)).as("n_children"),
          coalesce(col("n_fetched"), lit(0L)).as("n_fetched"),
          coalesce(col("max_lastmod"), lit("")).as("max_lastmod"))
        .orderBy(col("host"))
    }),

    // HTTP-aware WARC ingest: real WARC response records carry the
    // full HTTP message — status line, headers, entity body — and the
    // crawl's first relational step is separating transport metadata
    // from content. Per-host fixture plants 404s (j%11==5) and
    // image/png responses (j%13==6) among the text/html 200s; the
    // landed segments round-trip through real storage, the HTTP parse
    // recovers (status, content-type, body), only the OK html subset
    // flows to extraction, and clean_match proves the article text
    // survived status line + headers + container framing byte-exactly.
    "q255_http_ingest" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val j11 = expr("doc_id div 20") % 11
      val j13 = expr("doc_id div 20") % 13
      val status = when(j11 === 5, lit(404)).otherwise(lit(200))
      // the j13==2 class carries a charset PARAMETER — the stripped
      // media type must still read text/html and flow to extraction
      val ctype = when(j13 === 6, lit("image/png"))
        .when(j13 === 2, lit("text/html; charset=utf-8"))
        .otherwise(lit("text/html"))
      val body = when(j13 === 6,
        concat(lit("PNGDATA for doc "), col("doc_id").cast("string")))
        .otherwise(Crawl.wrapCol(col("doc_id"), col("text")))
      val pages = docs.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Warc.httpResponse(status, ctype, body).as("payload"))
      val land = Files.createTempDirectory("graft-q255-warc").toString
      // per-record gzip members — the real crawl-dump framing
      Warc.writeSegments(pages.repartition(4, col("doc_id")),
        "uri", "payload", land, gzip = true)
      val back = Warc.readRecords(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"), col("body").as("payload"))
      val parsed = back.select(col("doc_id"),
        Warc.httpStatus(col("payload")).as("status"),
        Warc.httpContentType(col("payload")).as("ctype"),
        Warc.httpBody(col("payload")).as("hbody"))
      val ok = parsed
        .filter(col("status") === 200 && col("ctype") === "text/html")
      val ex = graft.text.Html.extract(
          ok.select(col("doc_id"), col("hbody").as("html")),
          "doc_id", "html")
        .withColumnRenamed("text", "__ex")
        .join(docs, Seq("doc_id"))
        .select(col("doc_id"),
          when(col("__ex") ===
            trim(regexp_replace(col("text"), "\\s+", " ")), 1L)
            .otherwise(0L).as("cm"))
      val counts = parsed.groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("status") === 200 &&
            col("ctype") === "text/html", 1).otherwise(0))
            .cast("long").as("n_ok"),
          sum(when(col("status") === 404, 1).otherwise(0))
            .cast("long").as("n_404"),
          sum(when(col("ctype") =!= "text/html", 1).otherwise(0))
            .cast("long").as("n_nonhtml"))
      val clean = ex.groupBy((col("doc_id") % 20).as("dom"))
        .agg(sum(col("cm")).as("n_clean"))
      val out = counts.join(clean, Seq("dom"), "left")
        .select(col("dom"), col("n_records"), col("n_ok"),
          col("n_404"), col("n_nonhtml"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      out
    }),

    // POLITENESS-budgeted frontier: q222's crawl frontier under the
    // robots policy — candidates must be ALLOWED (Disallow: /p/3
    // removes every id-starts-with-3 target) and each host's next
    // batch is capped by its Crawl-delay budget: slots = W div delay
    // for a W=60s window (delays 5/10/15/20 by k%4 → 12/6/4/3 slots),
    // minimum 1. The scheduler a real crawler runs between fetch
    // rounds, composed entirely from verified parts (frontier +
    // parseRobotsFor + crawlDelays + urlDecisions).
    "q254_polite_frontier" -> ((s, dir) => {
      import graft.graph.WebGraph
      import graft.functions.PortableHash
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      def coin(c: Column) =
        PortableHash.hash60(c.cast("string"), 55) % 5
      val fetched = Crawl.linkedPages(s, dir)
        .filter(coin(col("doc_id")) =!= 0)
      val edges = WebGraph.docEdges(
        WebGraph.links(fetched, "doc_id", "html"))
      val robots = (0 until 20).map { k =>
        (s"d$k.example.com",
          s"User-agent: *\nDisallow: /p/3\nCrawl-delay: ${(k % 4) * 5 + 5}")
      }.toDF("host", "txt")
      val rules = WebGraph.parseRobotsFor(robots, "host", "txt",
        "graftbot")
      val delays = WebGraph.crawlDelays(robots, "host", "txt",
        "graftbot")
      val cand = edges.filter(coin(col("dst")) === 0)
        .groupBy(col("dst")).agg(count(lit(1)).as("n_in"))
        .withColumn("dom", col("dst") % 20)
        .withColumn("url", urlOf(col("dst")))
      val dec = WebGraph.urlDecisions(cand.select(col("url")), rules)
      val allowed = cand.join(dec, Seq("url"))
        .filter(col("action") === "allow")
        .withColumn("host", concat(lit("d"), col("dom").cast("string"),
          lit(".example.com")))
        .join(broadcast(delays), Seq("host"), "left")
        .withColumn("slots",
          greatest(lit(1L), expr("60 div coalesce(delay, 60)")))
      allowed.withColumn("rk", row_number().over(
          Window.partitionBy(col("host"))
            .orderBy(col("n_in").desc, col("dst"))))
        .filter(col("rk") <= col("slots"))
        .select(col("dst"), col("dom"), col("n_in"), col("delay"),
          col("slots"), col("rk"))
        .orderBy(col("dom"), col("rk"))
    }),

    // The corpus pipeline WITH the Gopher band wired in (stage 1b2;
    // q46 = band off). The two plants are crafted to PASS the quality
    // and language gates — English words, stop-word ratio over 1%,
    // punctuation under 20% — so only the Gopher rules can remove
    // them: the bullet plant (10/10 lines bullet-led, alpha still
    // 60/70) and the ellipsis plant (4/10 lines ellipsis-terminated,
    // symbol ratio 4/70 under the 0.1 cap). The oracle replays q46
    // stage-for-stage with the gqsig gate inserted between the row
    // gates and exact dedup.
    "q253_pipeline_gopher" -> ((s, dir) => {
      import graft.pipeline.CorpusPipeline
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val bullets = d.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit(Seq.fill(10)("- the item of alpha beta chart")
            .mkString("\n")).as("text"))
      val ellipses = d.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          lit((Seq.fill(6)("the plain story of words here still") ++
            Seq.fill(4)("the next story of words goes on..."))
            .mkString("\n")).as("text"))
      val corpus = Corpus.corpus(s, dir)
        .unionByName(bullets).unionByName(ellipses)
      CorpusPipeline.clean(corpus, "doc_id", "text",
          CorpusPipeline.Config(gopher = Some((20L, 100000L))))
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // CRAWL-DISCOVERY chain: robots.txt is BOTH the access policy and
    // the discovery seed — Sitemap: directives name each host's root
    // sitemap (an index for most hosts, a plain urlset for k%4==3,
    // q248's shapes), the nested parse resolves the declared URL
    // inventory, and the same robots' rules decide which of those
    // URLs the crawler may fetch (deny /p/2*). Per host: directive
    // count, declared inventory, allowed subset, newest lastmod.
    "q252_discovery_chain" -> ((s, dir) => {
      import graft.graph.WebGraph
      import s.implicits._
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val robots = (0 until 20).map { k =>
        (s"d$k.example.com",
          "User-agent: *\nDisallow: /p/2\n" +
            s"Sitemap: http://d$k.example.com/sm/root.xml\n# end")
      }.toDF("host", "txt")
      val decl = docs.filter(col("doc_id") % 5 < 2)
        .select((col("doc_id") % 20).as("k"),
          (expr("doc_id div 20") % 2).as("b"), col("doc_id"),
          smEntry.as("e"))
      val ks = col("k").cast("string")
      val children = decl.filter(col("k") % 4 =!= 3)
        .groupBy(col("k"), col("b")).agg(xmlAgg.as("cxml"))
        .select(concat(lit("http://d"), ks, lit(".example.com/sm/"),
          col("b").cast("string"), lit(".xml")).as("url"), col("cxml"))
      val urlsetAll = decl.groupBy(col("k")).agg(xmlAgg.as("uxml"))
      val spine = docs.select((col("doc_id") % 20).as("k")).distinct()
      val rootFiles = spine.join(urlsetAll, Seq("k"), "left")
        .select(concat(lit("http://d"), ks,
          lit(".example.com/sm/root.xml")).as("url"),
          when(col("k") % 4 === 3,
            coalesce(col("uxml"), lit("<urlset></urlset>")))
          .otherwise(concat(
            lit("<sitemapindex><sitemap><loc>http://d"), ks,
            lit(".example.com/sm/0.xml</loc></sitemap>"),
            lit("<sitemap><loc>http://d"), ks,
            lit(".example.com/sm/1.xml</loc></sitemap></sitemapindex>")))
            .as("cxml"))
      val fetched = children.unionByName(rootFiles)
      val roots = WebGraph.sitemapDirectives(robots, "host", "txt")
        .join(fetched, Seq("url"))
        .select(col("host"), col("cxml").as("xml"))
      val inv = WebGraph.parseSitemapsNested(roots, "host", "xml",
        fetched, "url", "cxml")
      val dec = WebGraph.urlDecisions(inv.select(col("url")),
        WebGraph.parseRobotsFor(robots, "host", "txt", "graftbot"))
      val invAgg = inv.join(dec, Seq("url"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("action") === "allow", 1).otherwise(0))
            .cast("long").as("n_allowed"),
          max(col("lastmod")).as("max_lastmod"))
      val dirAgg = WebGraph.sitemapDirectives(robots, "host", "txt")
        .groupBy(col("host")).agg(count(lit(1)).as("n_directives"))
      val hspine = spine.select(
        concat(lit("d"), ks, lit(".example.com")).as("host"))
      hspine.join(dirAgg, Seq("host"), "left")
        .join(invAgg, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("n_directives"), lit(0L)).as("n_directives"),
          coalesce(col("n_urls"), lit(0L)).as("n_urls"),
          coalesce(col("n_allowed"), lit(0L)).as("n_allowed"),
          coalesce(col("max_lastmod"), lit("")).as("max_lastmod"))
        .orderBy(col("host"))
    }),

    // STREAMING host-boilerplate door: q244's per-site scrub with the
    // df built INCREMENTALLY — per-host line frequencies and host doc
    // counts are doc-distinct partials that ADD across doc-disjoint
    // batches (the paragraphDf merge contract, keyed per host), so a
    // crawl drop folds into the stored state and the end-of-stream
    // scrub equals the one-shot run. Oracle = q244's SQL VERBATIM
    // while the stream's per-file batching differs from any one-shot
    // layout.
    "q251_stream_host_scrub" -> ((s, dir) => {
      import java.nio.file.Files
      val planted = Crawl.boilPages(s, dir)
      val land = Streams.landThirds(planted, "doc_id", "graft-q251")
      val cp = Files.createTempDirectory("graft-q251-cp").toString
      val (pdf, hn) = StreamFold[(DataFrame, DataFrame)](
          StreamFold.files(s, land), cp) { (prev, batch, _) =>
        val paras = graft.dedup.Dedup
          .paragraphs(batch, "doc_id", "ptext")
          .join(batch.select(col("doc_id"), col("host")), Seq("doc_id"))
        (StreamFold.addPartials(prev.map(_._1),
            graft.dedup.Dedup.hostParagraphDf(paras, "doc_id", "host"),
            Seq("host", "ph"), Seq("pdf")),
          StreamFold.addPartials(prev.map(_._2),
            graft.dedup.Dedup.hostDocCounts(batch, "host"),
            Seq("host"), Seq("__hn")))
      }.getOrElse(throw Streams.noBatch("q251_stream_host_scrub"))
      val landed = s.read.parquet(land)
      val out = graft.dedup.Dedup.scrubHostBoilerplateWith(
          landed, "doc_id", "host", "ptext", pdf, hn,
          minPpm = 500000L, minDf = 2L)
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Streams.rmTree(land); Streams.rmTree(cp)
      out
    }),

    // CAPSTONE: the end-to-end crawl-to-release chain, one statement —
    // WARC land (q230's storage path) → HTML extraction (q195) →
    // host-boilerplate scrub (q244) → quality/lang gates + exact dedup
    // + LSH near-dup removal (q46) → converged-PageRank domain caps
    // (q209 over q234's ranks, graph read from the RAW landed markup —
    // the nav links the extractor correctly drops as text ARE the
    // graph) → two-phase global rank + token-offset packing (q103's
    // machinery). More cross-family plumbing than any single existing
    // query; the oracle replays every stage in one WITH RECURSIVE.
    "q249_crawl_release" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.graph.WebGraph
      val pages = Crawl.capstonePages(s, dir)
      val land = Files.createTempDirectory("graft-q249-warc").toString
      graft.sources.Warc.writeSegments(
        pages.repartition(4, col("doc_id")), "uri", "html", land)
      // the WARC readback (binaryFile scan + segment codec) feeds TWO
      // consumers (extraction chain, raw-markup link graph) and the
      // extraction feeds the scrub's hosts/paragraphs/doc-count scans
      // — checkpoint each ONCE (guide §1.3/§5: the scrub alone would
      // otherwise re-run extraction 4×)
      val back = graft.sources.Warc.readRecords(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"), col("body").as("html"))
        .localCheckpoint()
      val ex = graft.text.Html.extract(back, "doc_id", "html")
        .select(col("doc_id"), col("text"), Crawl.docHost.as("host"))
        .localCheckpoint()
      val scrub = graft.dedup.Dedup.scrubHostBoilerplate(ex,
          "doc_id", "host", "text", minPpm = 500000L, minDf = 2L)
        .select(col("doc_id"), col("clean_text").as("text"))
      val cleaned = graft.pipeline.CorpusPipeline.clean(scrub,
        "doc_id", "text")
      val edges = WebGraph.docEdges(
        WebGraph.links(back, "doc_id", "html"))
      val out = Crawl.capstoneResolve(s, dir, cleaned, edges)
        .localCheckpoint()
      Streams.rmTree(land)
      out
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q250_gopher_rules" ->
      s"""WITH $gopherPagesCte,
         |${graft.text.GopherQuality.signalsCtes(
             "gpdocs", "doc_id", "ptext", minTok = 20L,
             stopwords = Seq("the", "a", "of", "and", "is"))}
         |SELECT doc_id, n_tok, mean_word_len, symbol_ratio,
         |  bullet_frac, ellipsis_frac, alpha_frac, n_stop, gopher_keep
         |FROM gqsig ORDER BY doc_id""".stripMargin,

    // streamed fold == one-shot: the door replays q244 verbatim
    "q251_stream_host_scrub" ->
      Crawl.hostBoilerplateSql,

    // identity through storage: statuses/ctypes recompute from the
    // fixture formulas; the html-OK subset replays q195's extraction
    "q255_http_ingest" ->
      s"""WITH hdocs AS (SELECT doc_id, text,
         |    ${Crawl.wrapSqlOf("doc_id", "text")} AS html
         |  FROM documents
         |  WHERE (doc_id // 20) % 11 <> 5 AND (doc_id // 20) % 13 <> 6),
         |${Crawl.htmlExtractCtes("hdocs")},
         |hclean AS (SELECT h.doc_id,
         |    CASE WHEN h.text = trim(regexp_replace(d.text, '\\s+', ' ', 'g')) THEN 1 ELSE 0 END AS cm
         |  FROM hx h JOIN hdocs d ON d.doc_id = h.doc_id),
         |hcnt AS (SELECT doc_id % 20 AS dom,
         |    CAST(count(*) AS BIGINT) AS n_records,
         |    CAST(SUM(CASE WHEN (doc_id // 20) % 11 <> 5 AND (doc_id // 20) % 13 <> 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
         |    CAST(SUM(CASE WHEN (doc_id // 20) % 11 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_404,
         |    CAST(SUM(CASE WHEN (doc_id // 20) % 13 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonhtml
         |  FROM documents GROUP BY 1),
         |hcl AS (SELECT doc_id % 20 AS dom,
         |    CAST(SUM(cm) AS BIGINT) AS n_clean
         |  FROM hclean GROUP BY 1)
         |SELECT c.dom, c.n_records, c.n_ok, c.n_404, c.n_nonhtml,
         |  coalesce(l.n_clean, CAST(0 AS BIGINT)) AS n_clean
         |FROM hcnt c LEFT JOIN hcl l ON l.dom = c.dom
         |ORDER BY c.dom""".stripMargin,

    "q254_polite_frontier" -> {
      import graft.graph.WebGraph
      import graft.functions.PortableHash
      s"""WITH ${Crawl.lpagesCte},
         |pfpag AS (SELECT doc_id, html FROM lpages
         |  WHERE ${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", 55)} % 5 <> 0),
         |pflnk AS (${WebGraph.linksSql("pfpag", "doc_id", "html")}),
         |pfedg AS (${WebGraph.docEdgesSql("pflnk")}),
         |pfrob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    'User-agent: *' || chr(10) || 'Disallow: /p/3' || chr(10) ||
         |    'Crawl-delay: ' || CAST((k % 4) * 5 + 5 AS VARCHAR) AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |${WebGraph.parseRobotsForCtes("pfrob", "host", "txt",
             "graftbot", "pq")},
         |pfcand AS (SELECT dst, dst % 20 AS dom,
         |    CAST(count(*) AS BIGINT) AS n_in,
         |    ${urlSqlOf("dst")} AS url
         |  FROM pfedg
         |  WHERE ${PortableHash.hash60Sql("CAST(dst AS VARCHAR)", 55)} % 5 = 0
         |  GROUP BY dst),
         |pfudist AS (SELECT DISTINCT url FROM pfcand),
         |${decisionCte("pfudist", "pqrules", "pd")},
         |pfall AS (SELECT c.dst, c.dom, c.n_in,
         |    'd' || CAST(c.dom AS VARCHAR) || '.example.com' AS host
         |  FROM pfcand c JOIN pddec d ON d.url = c.url
         |  WHERE d.action = 'allow'),
         |pfslot AS (SELECT a.dst, a.dom, a.n_in, y.delay,
         |    greatest(CAST(1 AS BIGINT), 60 // coalesce(y.delay, 60)) AS slots,
         |    row_number() OVER (PARTITION BY a.host
         |      ORDER BY a.n_in DESC, a.dst) AS rk
         |  FROM pfall a LEFT JOIN pqdelay y ON y.host = a.host)
         |SELECT dst, dom, n_in, delay, slots, rk
         |FROM pfslot WHERE rk <= slots
         |ORDER BY dom, rk""".stripMargin
    },

    "q253_pipeline_gopher" -> {
      import Corpus.corpusSql
      val bulletSql = Seq.fill(10)("- the item of alpha beta chart")
        .mkString("\\n").replace("\\n", "' || chr(10) || '")
      val ellipSql = (Seq.fill(6)("the plain story of words here still") ++
        Seq.fill(4)("the next story of words goes on..."))
        .mkString("\\n").replace("\\n", "' || chr(10) || '")
      s"""WITH RECURSIVE $corpusSql,
         |corpus2 AS (
         |  SELECT doc_id, text FROM corpus
         |  UNION ALL
         |  SELECT doc_id + 3000000, '$bulletSql'
         |  FROM documents WHERE doc_id % 23 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000, '$ellipSql'
         |  FROM documents WHERE doc_id % 29 = 0),
         |${Corpus.rowGatesSql("corpus2")},
         |${graft.text.GopherQuality.signalsCtes(
             "g2", "doc_id", "text", minTok = 20L,
             stopwords = Seq("the", "a", "of", "and", "is"))},
         |g3 AS (SELECT g2.* FROM g2 JOIN gqsig USING (doc_id)
         |       WHERE gopher_keep),
         |${Corpus.cleanSurvivorsSql("g3")}""".stripMargin
    },

    "q252_discovery_chain" -> {
      import graft.graph.WebGraph
      s"""WITH dcrob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    'User-agent: *' || chr(10) || 'Disallow: /p/2' || chr(10) ||
         |    'Sitemap: http://d' || CAST(k AS VARCHAR) ||
         |    '.example.com/sm/root.xml' || chr(10) || '# end' AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |dcdecl AS (SELECT doc_id % 20 AS k,
         |    (doc_id // 20) % 2 AS b, doc_id,
         |    $smEntrySql AS e
         |  FROM documents WHERE doc_id % 5 < 2),
         |dcchild AS (SELECT
         |    'http://d' || CAST(k AS VARCHAR) || '.example.com/sm/' ||
         |    CAST(b AS VARCHAR) || '.xml' AS url,
         |    '<urlset>' || string_agg(e, '' ORDER BY doc_id) ||
         |    '</urlset>' AS cxml
         |  FROM dcdecl WHERE k % 4 <> 3 GROUP BY k, b),
         |dcall AS (SELECT k,
         |    '<urlset>' || string_agg(e, '' ORDER BY doc_id) ||
         |    '</urlset>' AS uxml
         |  FROM dcdecl GROUP BY k),
         |dcspine AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
         |dcroot AS (SELECT
         |    'http://d' || CAST(s.k AS VARCHAR) || '.example.com/sm/root.xml' AS url,
         |    CASE WHEN s.k % 4 = 3
         |      THEN coalesce(a.uxml, '<urlset></urlset>')
         |      ELSE '<sitemapindex><sitemap><loc>http://d' ||
         |        CAST(s.k AS VARCHAR) || '.example.com/sm/0.xml</loc></sitemap>' ||
         |        '<sitemap><loc>http://d' || CAST(s.k AS VARCHAR) ||
         |        '.example.com/sm/1.xml</loc></sitemap></sitemapindex>' END AS cxml
         |  FROM dcspine s LEFT JOIN dcall a ON a.k = s.k),
         |dcfet AS (SELECT url, cxml FROM dcchild
         |  UNION ALL SELECT url, cxml FROM dcroot),
         |${WebGraph.sitemapDirectivesCtes("dcrob", "host", "txt", "dc")},
         |dcroots AS (SELECT d.host, f.cxml AS xml
         |  FROM dcsm d JOIN dcfet f ON f.url = d.url),
         |${WebGraph.parseSitemapsNestedCtes("dcroots", "host", "xml",
             "dcfet", "url", "cxml", "dn")},
         |${WebGraph.parseRobotsForCtes("dcrob", "host", "txt",
             "graftbot", "dp")},
         |dcudist AS (SELECT DISTINCT url FROM dnmaps),
         |${decisionCte("dcudist", "dprules", "dd")},
         |dcinv AS (SELECT m.host, CAST(count(*) AS BIGINT) AS n_urls,
         |    CAST(SUM(CASE WHEN d.action = 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
         |    MAX(m.lastmod) AS max_lastmod
         |  FROM dnmaps m JOIN dddec d USING (url)
         |  GROUP BY m.host),
         |dcdir AS (SELECT host, CAST(count(*) AS BIGINT) AS n_directives
         |  FROM dcsm GROUP BY host),
         |dchs AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host
         |  FROM dcspine)
         |SELECT h.host,
         |  coalesce(dr.n_directives, CAST(0 AS BIGINT)) AS n_directives,
         |  coalesce(i.n_urls, CAST(0 AS BIGINT)) AS n_urls,
         |  coalesce(i.n_allowed, CAST(0 AS BIGINT)) AS n_allowed,
         |  coalesce(i.max_lastmod, '') AS max_lastmod
         |FROM dchs h
         |LEFT JOIN dcdir dr ON dr.host = h.host
         |LEFT JOIN dcinv i ON i.host = h.host
         |ORDER BY h.host""".stripMargin
    },

    "q246_base_href" -> {
      import graft.graph.WebGraph
      s"""WITH $bppagesCte,
         |${WebGraph.resolvedLinksBaseCtes(
             "bppages", "doc_id", "url", "html", "b1")},
         |${WebGraph.resolvedLinksCtes(
             "bppages", "doc_id", "url", "html", "b2")},
         |bagg AS (SELECT (src // 20) % 4 AS base_cls,
         |    CAST(count(*) AS BIGINT) AS n_links,
         |    CAST(SUM(CASE WHEN ${WebGraph.hostSql("url")} = 'cdn.example.com' THEN 1 ELSE 0 END) AS BIGINT) AS n_offsite,
         |    CAST(SUM(CASE WHEN url LIKE '%.example.com/b/%' THEN 1 ELSE 0 END) AS BIGINT) AS n_rootb
         |  FROM rlinksb1 GROUP BY 1),
         |bunch AS (SELECT (src // 20) % 4 AS base_cls,
         |    CAST(count(*) AS BIGINT) AS n_unchanged
         |  FROM (SELECT DISTINCT src, url FROM rlinksb1) w
         |  WHERE EXISTS (SELECT 1 FROM rlinksb2 nb
         |    WHERE nb.src = w.src AND nb.url = w.url)
         |  GROUP BY 1)
         |SELECT a.base_cls, a.n_links, a.n_offsite, a.n_rootb,
         |  coalesce(u.n_unchanged, CAST(0 AS BIGINT)) AS n_unchanged
         |FROM bagg a LEFT JOIN bunch u ON u.base_cls = a.base_cls
         |ORDER BY a.base_cls""".stripMargin
    },

    "q247_robots_agents" -> {
      import graft.graph.WebGraph
      s"""WITH ${Crawl.lpagesCte},
         |llinks AS (${WebGraph.linksSql("lpages", "doc_id", "html")}),
         |$robotsTxtCte,
         |${WebGraph.parseRobotsForCtes("rasrc", "host", "txt",
             "graftbot", "pa")},
         |${WebGraph.parseRobotsForCtes("rasrc", "host", "txt",
             "crawlzilla", "pb")},
         |udist AS (SELECT DISTINCT url FROM llinks),
         |${decisionCte("udist", "parules", "da")},
         |${decisionCte("udist", "pbrules", "db")},
         |lagg AS (SELECT ${WebGraph.hostSql("l.url")} AS dst_host,
         |    CAST(count(*) AS BIGINT) AS n_links,
         |    CAST(SUM(CASE WHEN a.action = 'deny' THEN 1 ELSE 0 END) AS BIGINT) AS n_deny_bot,
         |    CAST(SUM(CASE WHEN b.action = 'deny' THEN 1 ELSE 0 END) AS BIGINT) AS n_deny_other
         |  FROM llinks l JOIN dadec a USING (url) JOIN dbdec b USING (url)
         |  GROUP BY 1)
         |SELECT g.dst_host, g.n_links, g.n_deny_bot, g.n_deny_other,
         |  coalesce(x.delay, CAST(-1 AS BIGINT)) AS delay_bot,
         |  coalesce(y.delay, CAST(-1 AS BIGINT)) AS delay_oth
         |FROM lagg g
         |LEFT JOIN padelay x ON x.host = g.dst_host
         |LEFT JOIN pbdelay y ON y.host = g.dst_host
         |ORDER BY g.dst_host""".stripMargin
    },

    "q248_sitemap_index" -> {
      import graft.graph.WebGraph
      s"""WITH sidecl AS (SELECT doc_id % 20 AS k,
         |    (doc_id // 20) % 2 AS b, doc_id,
         |    $smEntrySql AS e
         |  FROM documents WHERE doc_id % 5 < 2),
         |sichild AS (SELECT
         |    'http://d' || CAST(k AS VARCHAR) || '.example.com/sm/' ||
         |    CAST(b AS VARCHAR) || '.xml' AS url,
         |    '<urlset>' || string_agg(e, '' ORDER BY doc_id) ||
         |    '</urlset>' AS cxml
         |  FROM sidecl WHERE k % 4 <> 3 GROUP BY k, b),
         |siall AS (SELECT k,
         |    '<urlset>' || string_agg(e, '' ORDER BY doc_id) ||
         |    '</urlset>' AS uxml
         |  FROM sidecl GROUP BY k),
         |sispine AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
         |siroots AS (SELECT
         |    'd' || CAST(s.k AS VARCHAR) || '.example.com' AS host,
         |    CASE WHEN s.k % 4 = 3
         |      THEN coalesce(a.uxml, '<urlset></urlset>')
         |      ELSE '<sitemapindex><sitemap><loc>http://d' ||
         |        CAST(s.k AS VARCHAR) || '.example.com/sm/0.xml</loc></sitemap>' ||
         |        '<sitemap><loc>http://d' || CAST(s.k AS VARCHAR) ||
         |        '.example.com/sm/1.xml</loc></sitemap>' ||
         |        (CASE WHEN s.k % 4 = 1 THEN '<sitemap><loc>http://d' ||
         |          CAST(s.k AS VARCHAR) || '.example.com/sm/ghost.xml</loc></sitemap>'
         |          ELSE '' END) ||
         |        '</sitemapindex>' END AS xml
         |  FROM sispine s LEFT JOIN siall a ON a.k = s.k),
         |${WebGraph.parseSitemapsNestedCtes("siroots", "host", "xml",
             "sichild", "url", "cxml", "sn")},
         |sinst AS (SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
         |    MAX(lastmod) AS max_lastmod
         |  FROM snmaps GROUP BY host),
         |sidir AS (SELECT host, CAST(count(*) AS BIGINT) AS n_direct
         |  FROM sndmaps GROUP BY host),
         |siidx AS (SELECT host, CAST(count(*) AS BIGINT) AS n_children
         |  FROM sni GROUP BY host),
         |sifet AS (SELECT i.host, CAST(count(*) AS BIGINT) AS n_fetched
         |  FROM sni i JOIN sichild c ON c.url = i.child
         |  GROUP BY i.host),
         |sihs AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host
         |  FROM sispine)
         |SELECT h.host,
         |  coalesce(n.n_urls, CAST(0 AS BIGINT)) AS n_urls,
         |  coalesce(d.n_direct, CAST(0 AS BIGINT)) AS n_direct,
         |  coalesce(i.n_children, CAST(0 AS BIGINT)) AS n_children,
         |  coalesce(f.n_fetched, CAST(0 AS BIGINT)) AS n_fetched,
         |  coalesce(n.max_lastmod, '') AS max_lastmod
         |FROM sihs h
         |LEFT JOIN sinst n ON n.host = h.host
         |LEFT JOIN sidir d ON d.host = h.host
         |LEFT JOIN siidx i ON i.host = h.host
         |LEFT JOIN sifet f ON f.host = h.host
         |ORDER BY h.host""".stripMargin
    },

    "q249_crawl_release" -> Crawl.crawlReleaseSql,
  )
}
