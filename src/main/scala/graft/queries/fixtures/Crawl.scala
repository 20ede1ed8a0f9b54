package graft.queries.fixtures

import java.nio.file.Files

import graft.functions.PortableHash
import graft.graph.WebGraph
import graft.sources.Tables
import graft.sources.Warc
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl fixtures: the synthetic HTML page, the linked-page web graph,
  * WARC landing and the robots and crawl-state chains.
  */
object Crawl {

  // ---- the synthetic crawl page -------------------------------------
  // documents.parquet is clean text, so the HTML corpus is built by
  // WRAPPING each document in a deterministic page: head metadata +
  // script + style, a nav bar, a short heading, the article as one <p>,
  // a related-links box and a link-heavy footer. The identical wrap
  // expression appears in the oracle SQL, so extraction is judged on
  // recovering EXACTLY the article text from the boilerplate.
  // (No single-quote characters in the literals: the same strings embed
  // in SQL literals verbatim.)

  private val wrapHead = "<html><head><title>Doc "
  private val wrapMid1 = "</title>" +
    "<script type=\"text/javascript\">var n = 1; if (n < 2) { n = 3; }</script>" +
    "<style>.nav { color: red; }</style></head><body>" +
    "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
    "<a href=\"/contact\">Contact</a></div><h1>Doc "
  private val wrapMid2 = "</h1><!-- rendered by graft --><p>"
  private val wrapTail = "</p>" +
    "<div class=\"links\"><a href=\"/r1\">first related link</a> " +
    "<a href=\"/r2\">second related link</a> " +
    "<a href=\"/r3\">third related link</a></div>" +
    "<div class=\"footer\">(c) 2026 <a href=\"/terms\">Terms</a> " +
    "<a href=\"/privacy\">Privacy</a> <a href=\"/imprint\">Imprint</a>" +
    "</div></body></html>"

  private[graft] def wrapCol(id: Column, text: Column): Column =
    concat(lit(wrapHead), id.cast("string"), lit(wrapMid1),
      id.cast("string"), lit(wrapMid2), text, lit(wrapTail))

  private[queries] def wrapSqlOf(id: String, t: String): String =
    s"'$wrapHead' || $id || '$wrapMid1' || $id || '$wrapMid2' || $t || '$wrapTail'"

  /** Oracle mirror of [[graft.text.Html.extract]] over `src(doc_id,
    * html)`, ending in `hx(doc_id, text, n_blocks, n_kept)`. Single-line
    * CTE bodies where they hold `||` (the stripMargin re-strip hazard:
    * concat operators never at line start).
    */
  private[queries] def htmlExtractCtes(src: String): String =
    s"""hsplit AS (SELECT doc_id, string_split_regex(regexp_replace(regexp_replace(regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'), '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'), '(?s)<!--.*?-->', ' ', 'g'), '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|table|thead|tbody|tr|td|th|header|footer|nav|section|article|blockquote|pre|html|head|body|title|main|aside|form|hr)\\b[^>]*>') AS blocks FROM $src),
       |hblk0 AS (SELECT doc_id, unnest(generate_series(1, len(blocks))) AS pos, unnest(blocks) AS block FROM hsplit),
       |hblk AS (SELECT doc_id, pos,
       |    length(regexp_replace(block, '<[^>]*>', '', 'g')) AS raw_len,
       |    length(regexp_replace(block, '<[^>]*>', '', 'g')) -
       |      length(regexp_replace(regexp_replace(block, '(?is)<a\\b[^>]*>.*?</a>', '', 'g'), '<[^>]*>', '', 'g')) AS link_len,
       |    trim(regexp_replace(replace(replace(replace(replace(replace(regexp_replace(block, '<[^>]*>', '', 'g'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'), '\\s+', ' ', 'g')) AS btext
       |  FROM hblk0),
       |hnb AS (SELECT * FROM hblk WHERE length(btext) > 0),
       |hx AS (SELECT s.doc_id,
       |    coalesce(k.ktext, '') AS text,
       |    coalesce(n.n_blocks, CAST(0 AS BIGINT)) AS n_blocks,
       |    coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept
       |  FROM $src s
       |  LEFT JOIN (SELECT doc_id, count(*) AS n_blocks FROM hnb GROUP BY doc_id) n ON n.doc_id = s.doc_id
       |  LEFT JOIN (SELECT doc_id, count(*) AS n_kept, string_agg(btext, chr(10) ORDER BY pos) AS ktext FROM hnb WHERE length(btext) >= 20 AND link_len * 3 <= raw_len GROUP BY doc_id) k ON k.doc_id = s.doc_id)""".stripMargin


  /** A doc's host in SQL: `d<doc_id % 20>.example.com`. */
  private[queries] val docHostSql: String =
    "'d' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'"

  /** [[docHostSql]] as a Column. */
  private[graft] def docHost: Column =
    concat(lit("d"), (col("doc_id") % 20).cast("string"),
      lit(".example.com"))

  // ---- the linked synthetic crawl -----------------------------------
  // documents.parquet is flat text, so the LINKED corpus wraps each
  // document in a compact page whose references box holds absolute
  // URLs of three md5-derived target documents (id-linear targets
  // would alias — the generative-formula lesson; md5 keeps the graph
  // genuinely random). URL scheme: http://d<dom>.example.com/p/<id>
  // with dom = id % 20 (the corpus' own doc↔source correlation).
  // The nav link is relative on purpose: extraction must skip it.

  private val refSeeds = Seq(71, 72, 73)

  private[graft] def urlOf(t: Column): Column =
    concat(lit("http://d"), (t % 20).cast("string"),
      lit(".example.com/p/"), t.cast("string"))

  private[queries] def urlSqlOf(t: String): String =
    s"'http://d' || CAST(($t) % 20 AS VARCHAR) || '.example.com/p/' || CAST($t AS VARCHAR)"

  /** `(doc_id, html)` — the linked page corpus. `n` is the corpus size
    * (targets are mod-n; the oracle computes it as a subquery).
    */
  private[graft] def linkedPages(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val n = Tables.docCount(s, dir)
    val refs = refSeeds.map { seed =>
      val t = PortableHash.hash60(col("doc_id").cast("string"), seed) % n
      concat(lit(s"""<a href=""""), urlOf(t), lit(s"""">about doc """),
        t.cast("string"), lit("</a>"))
    }
    docs.select(col("doc_id"),
      concat(
        lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a></div><p>"),
        col("text"), lit("</p><div class=\"refs\">"),
        concat_ws(" ", refs: _*),
        lit("</div></body></html>")).as("html"))
  }

  /** Oracle CTE: `lpages(doc_id, html)` — the [[linkedPages]] replay.
    * Concat operators at line END only (stripMargin re-strip hazard).
    */
  private[queries] val lpagesCte: String = {
    val refs = refSeeds.map { seed =>
      val t = s"(${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", seed)} % (SELECT n FROM lpn))"
      s"""'<a href="' || ${urlSqlOf(t)} || '">about doc ' || CAST($t AS VARCHAR) || '</a>'"""
    }
    s"""lpn AS (SELECT count(*) AS n FROM documents),
       |lpages AS (SELECT doc_id, '<html><body><div class="nav"><a href="/">Home</a></div><p>' ||
       |    text || '</p><div class="refs">' ||
       |    ${refs.mkString(" || ' ' ||\n       |    ")} ||
       |    '</div></body></html>' AS html
       |  FROM documents)""".stripMargin
  }

  /** `llinks(src, url)` + `ledges(src, dst)` over `lpages`. */
  private[queries] val linkCtes: String =
    s"""llinks AS (${WebGraph.linksSql("lpages", "doc_id", "html")}),
       |ledges AS (${WebGraph.docEdgesSql("llinks")})""".stripMargin

  // ---- q244's per-host boilerplate plant ----------------------------
  // Host = the doc's domain (doc_id % 20). Three planted lines with
  // per-host frequencies chosen to straddle the 50% threshold:
  //   nav     (div-20 % 3 <> 1) → 2/3 of every host's docs → SCRUBBED
  //   sitemap (div-20 % 4 = 0)  → 1/4 of every host's docs → KEPT
  //     (host-frequent enough to tempt an absolute-df rule, under the
  //      fraction threshold)
  //   newsletter (div-20 % 11 = 0) → ~9% per host but corpus-global
  //     (~9% of ALL docs — a global absolute cap like q212's maxDf=8
  //      would scrub it; the host-relative rule keeps it) → KEPT
  // All three keys ride doc_id div 20: doc_ids within a host step by
  // 20, so doc_id % 4 would be CONSTANT per host (and % 20 IS the
  // host) — the div-20 index is the per-host enumeration that
  // decorrelates the plant from the host id.
  private[queries] def boilPages(s: SparkSession, dir: String)
      : DataFrame = {
    val k = (col("doc_id") % 20).cast("string")
    val j = expr("doc_id div 20")
    Tables(s, dir, "documents").select(col("doc_id"),
      concat(lit("d"), k, lit(".example.com")).as("host"),
      concat_ws("\n",
        when(j % 3 =!= 1, concat(lit("Home | About | News on d"), k)),
        col("text"),
        when(j % 4 === 0, concat(lit("Site map for d"), k)),
        when(j % 11 === 0, lit("Subscribe to our newsletter")))
        .as("ptext"))
  }

  private val boilPagesCte: String =
    s"""bdocs AS (SELECT doc_id,
       |    $docHostSql AS host,
       |    concat_ws(chr(10),
       |      CASE WHEN (doc_id // 20) % 3 <> 1 THEN 'Home | About | News on d' || CAST(doc_id % 20 AS VARCHAR) END,
       |      text,
       |      CASE WHEN (doc_id // 20) % 4 = 0 THEN 'Site map for d' || CAST(doc_id % 20 AS VARCHAR) END,
       |      CASE WHEN (doc_id // 20) % 11 = 0 THEN 'Subscribe to our newsletter' END) AS ptext
       |  FROM documents)""".stripMargin

  // ---- q249's crawl corpus --------------------------------------------
  // The capstone fixture: the planted-duplicate corpus (q46's +1M exact
  // and +2M tail-marker replicas — both ≡ 0 mod 20, so replicas stay on
  // their host), HTML-wrapped with (a) a link-dense nav div carrying
  // two md5-derived absolute refs (the GRAPH rides the raw markup; the
  // extractor drops the block as boilerplate), (b) a per-host promo
  // paragraph on 2/3 of docs (the HOST-SCRUB plant), (c) the document
  // text as the article block.
  private def capHtml(n: Long): Column = {
    import graft.functions.PortableHash
    def t(seed: Int) =
      PortableHash.hash60(col("doc_id").cast("string"), seed) % n
    val k = (col("doc_id") % 20).cast("string")
    val promo = when(expr("doc_id div 20") % 3 =!= 1,
      concat(lit("<p>Special offers for d"), k,
        lit(" readers appear every single week</p>")))
      .otherwise(lit(""))
    concat(
      lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a> <a href=\""),
      urlOf(t(83)), lit("\">r1</a> <a href=\""), urlOf(t(84)),
      lit("\">r2</a></div>"),
      promo,
      lit("<p>"), col("text"), lit("</p></body></html>"))
  }

  /** Oracle CTEs `cbase(doc_id, text)` + `hdocs(doc_id, uri, html)` —
    * the [[capHtml]] replay over the planted-duplicate corpus.
    */
  private val capPagesCte: String = {
    import graft.functions.PortableHash
    def t(seed: Int) =
      s"(${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", seed)} % (SELECT n FROM cappn))"
    s"""cappn AS (SELECT count(*) AS n FROM documents),
       |cbase AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' zz tail marker' FROM documents
       |  WHERE doc_id % 11 = 0),
       |hdocs AS (SELECT doc_id,
       |    '<html><body><div class="nav"><a href="/">Home</a> <a href="' ||
       |    ${urlSqlOf(t(83))} || '">r1</a> <a href="' ||
       |    ${urlSqlOf(t(84))} || '">r2</a></div>' ||
       |    (CASE WHEN (doc_id // 20) % 3 <> 1
       |      THEN '<p>Special offers for d' || CAST(doc_id % 20 AS VARCHAR) ||
       |        ' readers appear every single week</p>'
       |      ELSE '' END) ||
       |    '<p>' || text || '</p></body></html>' AS html
       |  FROM cbase)""".stripMargin
  }

  /** The capstone's page fixture — the planted-duplicate corpus,
    * HTML-wrapped by [[capHtml]] — shared by the batch chain (q249)
    * and the streaming door (q259). `(doc_id, uri, html)`.
    */
  private[queries] def capstonePages(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val n = Tables.docCount(s, dir)
    val cbase = docs
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zz tail marker")).as("text")))
    val k = (col("doc_id") % 20).cast("string")
    cbase.select(col("doc_id"),
      concat(lit("http://d"), k, lit(".example.com/p/"),
        col("doc_id").cast("string")).as("uri"),
      capHtml(n).as("html"))
  }

  /** The capstone's END-OF-CHAIN resolve — converged-PageRank domain
    * caps over `edges`, two-phase global rank + token-offset packing
    * over `cleaned` — ONE implementation shared by the batch chain
    * (q249) and the streaming door (q259), so the two fronts cannot
    * diverge on the tail.
    */
  private[queries] def capstoneResolve(s: SparkSession, dir: String,
      cleaned: DataFrame, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.graph.WebGraph
    val nodes = Tables(s, dir, "documents")
      .select(col("doc_id").as("node"))
    val ranks = WebGraph.pageRankConverged(nodes, edges,
      maxRounds = 15, epsDiv = 100000L)
    val dmass = ranks.groupBy((col("node") % 20).as("dom"))
      .agg(sum(col("rank")).as("mass"))
    // 20-row domain table: the single-partition window is model-sized
    val drank = dmass.withColumn("drk", row_number().over(
        Window.orderBy(col("mass").desc, col("dom"))))
      .withColumn("cap", when(col("drk") <= 10, 15).otherwise(8))
    val sdoc = cleaned.select(col("doc_id"),
      (col("doc_id") % 20).as("dom"), col("quality"), col("lang_pred"),
      length(col("text")).cast("long").as("n_chars"),
      size(graft.text.TextAnalysis.tokens(col("text"))).cast("long")
        .as("n_tok"))
    val kept = sdoc
      .join(broadcast(drank.select(col("dom"), col("cap"))), Seq("dom"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("dom"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= col("cap"))
      .select(col("doc_id"), col("dom"), col("quality"),
        col("lang_pred"), col("n_tok"))
    val ranked = graft.operators.Ranking.globalRowNumber(kept,
      Seq("dom", "doc_id"), "grank")
    val packed = graft.operators.TwoPhase.prefixSum(ranked, Nil,
        Seq("dom", "doc_id"), col("n_tok"), "cum_tok")
      .withColumn("start_tok", col("cum_tok") - col("n_tok"))
    packed.select(col("doc_id"), col("dom"), col("quality"),
        col("lang_pred"), col("n_tok"), col("grank"),
        expr("start_tok div 2048").as("seq"),
        expr("start_tok % 2048").as("off"))
      .orderBy(col("doc_id"))
  }

  // ---- the REALISTIC linked crawl (q233) ----------------------------
  // q207's corpus holds only absolute double-quoted hrefs — the form
  // WebGraph.links was built for. This one plants the forms a real
  // crawl is mostly made of: the SAME md5-derived target behind
  // double-quoted / single-quoted+utm / unquoted+fragment hrefs, a
  // second target behind root-relative AND ../-relative paths, a
  // protocol-relative third, plus mailto:/fragment-only noise — so
  // resolution + canonicalization must collapse 8 href values per page
  // to 3 doc targets (or the count is wrong).

  private def rUrlOf(t: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(lit("http://d"), (t % 20).cast("string"),
      lit(".example.com/p/"), t.cast("string"))

  private def rUrlSqlOf(t: String): String =
    s"'http://d' || CAST(($t) % 20 AS VARCHAR) || '.example.com/p/' || CAST($t AS VARCHAR)"

  private[graft] def realisticPages(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.PortableHash
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val n = Tables.docCount(s, dir)
    def t(seed: Int) =
      PortableHash.hash60(col("doc_id").cast("string"), seed) % n
    val (t1, t2, t3) = (t(74), t(75), t(76))
    val html = concat(
      lit("<html><body><a href=\"/\">Home</a>"),
      lit("<a href=\""), rUrlOf(t1), lit("\">a</a>"),
      lit("<a href='"), rUrlOf(t1), lit("?utm_source=feed'>b</a>"),
      lit("<a href="), rUrlOf(t1), lit("#top>c</a>"),
      lit("<a href=\"/p/"), t2.cast("string"), lit("\">d</a>"),
      lit("<a href=\"../p/"), t2.cast("string"), lit("\">e</a>"),
      lit("<a href=\"//d"), (t3 % 20).cast("string"),
      lit(".example.com/p/"), t3.cast("string"), lit("\">f</a>"),
      lit("<a href=\"mailto:ops@example.com\">g</a>"),
      lit("<a href=\"#top\">h</a></body></html>"))
    docs.select(col("doc_id"), rUrlOf(col("doc_id")).as("url"),
      html.as("html"))
  }

  /** Oracle CTE `rlpages(doc_id, url, html)` — the [[realisticPages]]
    * replay. Concat operators stay at line END (stripMargin hazard).
    */
  private[queries] val rlpagesCte: String = {
    import graft.functions.PortableHash
    def t(seed: Int) =
      s"(${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", seed)} % (SELECT n FROM rlpn))"
    val (t1, t2, t3) = (t(74), t(75), t(76))
    s"""rlpn AS (SELECT count(*) AS n FROM documents),
       |rlpages AS (SELECT doc_id, ${rUrlSqlOf("doc_id")} AS url,
       |    '<html><body><a href="/">Home</a><a href="' ||
       |    ${rUrlSqlOf(t1)} || '">a</a><a href=' || chr(39) ||
       |    ${rUrlSqlOf(t1)} || '?utm_source=feed' || chr(39) ||
       |    '>b</a><a href=' ||
       |    ${rUrlSqlOf(t1)} || '#top>c</a><a href="/p/' ||
       |    CAST($t2 AS VARCHAR) || '">d</a><a href="../p/' ||
       |    CAST($t2 AS VARCHAR) || '">e</a><a href="//d' ||
       |    CAST($t3 % 20 AS VARCHAR) || '.example.com/p/' ||
       |    CAST($t3 AS VARCHAR) ||
       |    '">f</a><a href="mailto:ops@example.com">g</a><a href="#top">h</a></body></html>' AS html
       |  FROM documents)""".stripMargin
  }

  /** Lands `pages(uri, payload)` as gzip WARC segments, four
    * partitions hashed on `key`, in a fresh `graft-<query>-warc` temp
    * directory, and returns the directory.
    */
  private[queries] def landWarc(pages: DataFrame, key: Column,
      query: String): String = {
    val land = Files.createTempDirectory(s"graft-$query-warc").toString
    Warc.writeSegmentsBinary(pages.repartition(4, key),
      "uri", "payload", land, gzip = true)
    land
  }

  // ---- the recrawl plant (q266, q267, q275, q279, q295) -------------
  // Every host publishes a sitemap of its docs except its sixth shard
  // (doc_id div 20 % 6 = 5), lastmod day (7·id % 28) + 1, bumped a day
  // on id % 3 = 0. The crawl state holds every doc except the fifth
  // shard (div 20 % 5 = 4) at the unbumped day. ISO dates compare
  // lexically, so freshness is a portable string compare.

  private def recrawlDate(d: Column): Column =
    concat(lit("2025-01-"), lpad(d.cast("string"), 2, "0"))

  private def recrawlDay0: Column = (col("doc_id") * 7) % 28 + 1

  /** `(url, lastmod)`: the parsed sitemap inventory over `docs`. */
  private[graft] def recrawlInventory(docs: DataFrame): DataFrame = {
    val t = col("doc_id")
    val dayN = recrawlDay0 + when(t % 3 === 0, 1).otherwise(0)
    val entries = docs.filter(expr("doc_id div 20") % 6 =!= 5)
      .select(docHost.as("host"),
        concat(lit("<url><loc>"), urlOf(t), lit("</loc><lastmod>"),
          recrawlDate(dayN), lit("</lastmod></url>")).as("e"))
    val maps = entries.groupBy(col("host"))
      .agg(concat_ws("", collect_list(col("e"))).as("xml"))
    WebGraph.parseSitemaps(maps, "host", "xml")
      .select(col("url"), col("lastmod"))
  }

  /** The `docs` rows the crawl state holds. */
  private[graft] def recrawlKnown(docs: DataFrame): DataFrame =
    docs.filter(expr("doc_id div 20") % 5 =!= 4)

  /** A known doc's stored lastmod. */
  private[graft] def storedLastmod: Column = recrawlDate(recrawlDay0)

  /** `(url, lastmod, dom)`: inventory urls that are new or fresher than
    * `state(url, stored_lastmod, ...)`.
    */
  private[graft] def recrawlCandidates(inv: DataFrame,
      state: DataFrame): DataFrame =
    inv.join(state, Seq("url"), "left")
      .filter(col("stored_lastmod").isNull ||
        col("lastmod") > col("stored_lastmod"))
      .select(col("url"), col("lastmod"),
        (regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long")
          % 20).as("dom"))

  /** The candidates robots allow (urls ending in 9 and under /p/2 are
    * denied), each with its host and politeness `slots` = 60 div
    * Crawl-delay.
    */
  private[graft] def recrawlAllowed(s: SparkSession,
      cand: DataFrame): DataFrame = {
    import s.implicits._
    val robots = (0 until 20).map { k =>
      (s"d$k.example.com",
        s"User-agent: *\nDisallow: /*9$$\nDisallow: /p/2\n" +
          s"Crawl-delay: ${(k % 4) * 5 + 5}")
    }.toDF("host", "txt")
    val rules = WebGraph.parseRobotsFor(robots, "host", "txt",
      "graftbot")
    val delays = WebGraph.crawlDelays(robots, "host", "txt",
      "graftbot")
    val dec = WebGraph.urlDecisions(cand.select(col("url")), rules)
    cand.join(dec, Seq("url"))
      .filter(col("action") === "allow")
      .withColumn("host", concat(lit("d"), col("dom").cast("string"),
        lit(".example.com")))
      .join(broadcast(delays), Seq("host"), "left")
      .withColumn("slots",
        greatest(lit(1L), expr("60 div coalesce(delay, 60)")))
  }

  /** The freshest `slots` allowed urls per host, ranked `rk`. */
  private[graft] def recrawlScheduled(allowed: DataFrame): DataFrame =
    allowed.withColumn("rk", row_number().over(
        Window.partitionBy(col("host"))
          .orderBy(col("lastmod").desc, col("url"))))
      .filter(col("rk") <= col("slots"))

  /** The recrawl plant as oracle CTEs named after `p`: `${p}e` holds
    * the sitemap entries (lastmod bumped on doc_id % 3 = 0, hosts' sixth
    * shard unpublished), `${p}m` one urlset per host, the parsed
    * `${maps}maps`, and `${p}state`, the stored lastmods (fifth shard
    * never fetched).
    */
  private[queries] def recrawlInventorySql(p: String, maps: String): String =
    s"""${p}e AS (SELECT
       |    $docHostSql AS host,
       |    '<url><loc>' || ${urlSqlOf("doc_id")} || '</loc><lastmod>' ||
       |    '2025-01-' || lpad(CAST((doc_id * 7) % 28 + 1 +
       |      (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS VARCHAR),
       |      2, '0') ||
       |    '</lastmod></url>' AS e
       |  FROM documents WHERE (doc_id // 20) % 6 <> 5),
       |${p}m AS (SELECT host, string_agg(e, '') AS xml
       |  FROM ${p}e GROUP BY host),
       |${WebGraph.parseSitemapsCtes(s"${p}m", "host", "xml", maps)},
       |${p}state AS (SELECT ${urlSqlOf("doc_id")} AS url,
       |    '2025-01-' || lpad(CAST((doc_id * 7) % 28 + 1 AS VARCHAR),
       |      2, '0') AS stored_lastmod
       |  FROM documents WHERE (doc_id // 20) % 5 <> 4)""".stripMargin

  /** q244's oracle: per-host boilerplate scrub. The crawl capstone
    * (q249) scrubs the same pages, so it declares this too.
    */
  private[queries] val hostBoilerplateSql: String =
    s"""WITH $boilPagesCte,
       |bpr0 AS (SELECT doc_id, host,
       |    string_split(ptext, chr(10)) AS ps FROM bdocs),
       |bpr AS (SELECT doc_id, host,
       |    unnest(generate_series(1, len(ps))) AS pos,
       |    unnest(ps) AS para FROM bpr0),
       |bpn AS (SELECT doc_id, host, pos, para,
       |    ${graft.functions.PortableHash.hash60BaseSql("para")} AS ph
       |  FROM bpr WHERE length(trim(para)) > 0),
       |bhn AS (SELECT host, CAST(count(*) AS BIGINT) AS hn
       |  FROM bdocs GROUP BY host),
       |bdf AS (SELECT host, ph, CAST(count(*) AS BIGINT) AS pdf
       |  FROM (SELECT DISTINCT doc_id, host, ph FROM bpn) t
       |  GROUP BY host, ph),
       |bboil AS (SELECT d.host, d.ph
       |  FROM bdf d JOIN bhn h USING (host)
       |  WHERE d.pdf >= 2 AND d.pdf * 1000000 >= 500000 * h.hn),
       |bpd AS (SELECT n.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_paras,
       |    CAST(coalesce(count(*) FILTER (WHERE b.ph IS NOT NULL), 0)
       |      AS BIGINT) AS n_dropped,
       |    string_agg(n.para, chr(10) ORDER BY n.pos)
       |      FILTER (WHERE b.ph IS NULL) AS clean_text
       |  FROM bpn n LEFT JOIN bboil b
       |    ON b.host = n.host AND b.ph = n.ph
       |  GROUP BY n.doc_id)
       |SELECT d.doc_id, d.host,
       |  coalesce(p.clean_text, '') AS clean_text,
       |  coalesce(p.n_paras, CAST(0 AS BIGINT)) AS n_paras,
       |  coalesce(p.n_dropped, CAST(0 AS BIGINT)) AS n_dropped
       |FROM bdocs d LEFT JOIN bpd p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q195's oracle: extraction over the wrapped pages. The WARC door
    * (q230) must recover the same text, so it declares this too.
    */
  private[queries] val htmlExtractSql: String =
    s"""WITH hdocs AS (SELECT doc_id, text, ${wrapSqlOf("doc_id", "text")} AS html FROM documents),
       |${htmlExtractCtes("hdocs")}
       |SELECT h.doc_id, h.n_blocks, h.n_kept, length(h.text) AS text_len,
       |  CASE WHEN h.text = trim(regexp_replace(d.text, '\\s+', ' ', 'g')) THEN 1 ELSE 0 END AS clean_match
       |FROM hx h JOIN hdocs d ON d.doc_id = h.doc_id
       |ORDER BY h.doc_id""".stripMargin

  /** q249's oracle: crawl to release, from the WARC pages through
    * scrub, gates, dedup, PageRank caps and packing. The streaming
    * capstone door (q259) must equal it, so it declares this too.
    */
  private[queries] val crawlReleaseSql: String = {
    s"""WITH RECURSIVE $capPagesCte,
       |${htmlExtractCtes("hdocs")},
       |cshost AS (SELECT doc_id,
       |    $docHostSql AS host,
       |    text FROM hx),
       |csp0 AS (SELECT doc_id, host,
       |    string_split(text, chr(10)) AS ps FROM cshost),
       |csp AS (SELECT doc_id, host,
       |    unnest(generate_series(1, len(ps))) AS pos,
       |    unnest(ps) AS para FROM csp0),
       |cspn AS (SELECT doc_id, host, pos, para,
       |    ${PortableHash.hash60BaseSql("para")} AS ph
       |  FROM csp WHERE length(trim(para)) > 0),
       |cshn AS (SELECT host, CAST(count(*) AS BIGINT) AS hn
       |  FROM cshost GROUP BY host),
       |csdf AS (SELECT host, ph, CAST(count(*) AS BIGINT) AS pdf
       |  FROM (SELECT DISTINCT doc_id, host, ph FROM cspn) t
       |  GROUP BY host, ph),
       |csb AS (SELECT d.host, d.ph
       |  FROM csdf d JOIN cshn h USING (host)
       |  WHERE d.pdf >= 2 AND d.pdf * 1000000 >= 500000 * h.hn),
       |cscl AS (SELECT n.doc_id,
       |    string_agg(n.para, chr(10) ORDER BY n.pos)
       |      FILTER (WHERE b.ph IS NULL) AS clean_text
       |  FROM cspn n LEFT JOIN csb b
       |    ON b.host = n.host AND b.ph = n.ph
       |  GROUP BY n.doc_id),
       |corpus AS (SELECT h.doc_id, coalesce(c.clean_text, '') AS text
       |  FROM cshost h LEFT JOIN cscl c ON c.doc_id = h.doc_id),
       |${Corpus.gateExactCtesSql},
       |${Corpus.nearDupLosersSql("ex")},
       |clnk AS (${WebGraph.linksSql("hdocs", "doc_id", "html")}),
       |cedges AS (${WebGraph.docEdgesSql("clnk")}),
       |${WebGraph.pageRankConvergedCtes("documents", "doc_id",
           "cedges", 15, 100000L, "cp")},
       |cprank AS (SELECT node, rank FROM cpall
       |  WHERE k = (SELECT k FROM cpstop)),
       |cdm AS (SELECT node % 20 AS dom,
       |    CAST(SUM(rank) AS BIGINT) AS mass
       |  FROM cprank GROUP BY 1),
       |cdr AS (SELECT dom, mass,
       |    row_number() OVER (ORDER BY mass DESC, dom) AS drk
       |  FROM cdm),
       |cdc AS (SELECT dom,
       |    CASE WHEN drk <= 10 THEN 15 ELSE 8 END AS cap FROM cdr),
       |surv AS (SELECT e.doc_id, e.text, e.quality, e.lang_pred
       |  FROM ex e
       |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)),
       |sdoc AS (SELECT doc_id, doc_id % 20 AS dom, quality, lang_pred,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok
       |  FROM surv),
       |skept AS (SELECT doc_id, dom, quality, lang_pred, n_tok
       |  FROM (SELECT s.doc_id, s.dom, s.quality, s.lang_pred,
       |      s.n_chars, s.n_tok, c.cap,
       |      row_number() OVER (PARTITION BY s.dom
       |        ORDER BY s.n_chars DESC, s.doc_id) AS rk
       |    FROM sdoc s JOIN cdc c ON c.dom = s.dom) t
       |  WHERE rk <= cap),
       |spack AS (SELECT doc_id, dom, quality, lang_pred, n_tok,
       |    CAST(row_number() OVER (ORDER BY dom, doc_id) AS BIGINT) AS grank,
       |    CAST(SUM(n_tok) OVER (ORDER BY dom, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) - n_tok AS start_tok
       |  FROM skept)
       |SELECT doc_id, dom, quality, lang_pred, n_tok, grank,
       |  start_tok // 2048 AS seq, start_tok % 2048 AS off
       |FROM spack ORDER BY doc_id""".stripMargin
  }
}
