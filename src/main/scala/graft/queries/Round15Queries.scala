package graft.queries

import graft.queries.fixtures.Crawl.{urlOf, urlSqlOf}
import graft.queries.fixtures.{Crawl, Streams, Text}
import graft.sources.Tables
import graft.streaming.StreamFold
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15: the crawl-realism third pass from round-14's verdict —
  * RFC 9309 wildcard rules (q256), the HTTP 3xx redirect layer
  * feeding the frontier (q257), true UTF-8 byte fallback (q258), and
  * the capstone chain through the streaming front door (q259).
  *
  * Reference scope: nothing here maps to
  * /root/reference/SCD_script.txt — these extend the web-graph /
  * tokenizer-artifact families the north star adds on top.
  */
object Round15Queries extends QueryGroup {

  // ---- q258's multi-byte plant ---------------------------------------
  // The corpus alphabet is ASCII a-y, so every accented/symbol word is
  // OOV by construction: é (2-byte UTF-8), € (3-byte) — the fallback
  // must emit their UTF-8 bytes, never truncate or alias.
  private[queries] val PlantedMultiByte =
    "the café menu of €42 and a naïve café tune"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RFC 9309 WILDCARD rules: `*` runs and trailing-`$` anchors in
    // robots patterns, fed through the real parser (one DISALLOW line
    // in caps — field names are case-insensitive). The URL space
    // carries extensions so the rules bind: on wildcard hosts (k%2==0)
    // the `Allow: /p/*.html` carve-out rescues .html pages from the
    // `Disallow: /p/` blanket, while `DISALLOW: /*.php$` out-ranks
    // even the `Allow: /p/1` prefix (stripped lengths 7 vs 4) — so
    // n_php_allowed must read ZERO everywhere, which plain-prefix
    // matching cannot produce.
    "q256_robots_wildcards" -> ((s, dir) => {
      import graft.graph.WebGraph
      import s.implicits._
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val path = when(col("doc_id") % 3 === 0,
          concat(lit("/p/"), col("doc_id").cast("string"), lit(".html")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("/p/"), col("doc_id").cast("string"), lit(".php")))
        .otherwise(concat(lit("/q/"), col("doc_id").cast("string")))
      val urls = docs.select(col("doc_id"),
        concat(lit("http://d"), (col("doc_id") % 20).cast("string"),
          lit(".example.com"), path).as("url"))
      val robots = (0 until 20).map { k =>
        val txt =
          if (k % 2 == 0)
            "User-agent: *\nDisallow: /p/\nAllow: /p/*.html\n" +
              "DISALLOW: /*.php$\nAllow: /p/1\n# end"
          else "User-agent: *\nDisallow: /p/\n# end"
        (s"d$k.example.com", txt)
      }.toDF("host", "txt")
      val rules = WebGraph.parseRobotsFor(robots, "host", "txt",
        "graftbot")
      val dec = WebGraph.urlDecisions(urls.select(col("url")), rules)
      urls.join(dec, Seq("url"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("action") === "allow", 1).otherwise(0))
            .cast("long").as("n_allowed"),
          sum(when(col("action") === "deny", 1).otherwise(0))
            .cast("long").as("n_denied"),
          sum(when(col("doc_id") % 3 === 0 &&
            col("action") === "allow", 1).otherwise(0))
            .cast("long").as("n_html_allowed"),
          sum(when(col("doc_id") % 3 === 1 &&
            col("action") === "allow", 1).otherwise(0))
            .cast("long").as("n_php_allowed"))
        .orderBy(col("dom"))
    }),

    // HTTP 3xx REDIRECT layer feeding the frontier: redirect records
    // (j9==4, ~1/9 of fetched pages) land as real `301 + Location`
    // WARC payloads (per-record gzip members), the transport parse
    // recovers the hop relation, bounded cycle-safe chain collapse
    // resolves each source to its final target (natural multi-hop
    // chains exist because a target can itself be a redirect), and
    // every link rewrites onto the FINAL url — so a redirected URL's
    // in-link mass lands on the target before q222's frontier ranks
    // the unfetched candidates per host.
    "q257_redirect_frontier" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.graph.WebGraph
      import graft.sources.Warc
      import graft.functions.PortableHash
      import org.apache.spark.sql.expressions.Window
      val n = Tables.docCount(s, dir)
      def coin(c: Column) =
        PortableHash.hash60(c.cast("string"), 55) % 5
      val fetched = Crawl.linkedPages(s, dir)
        .filter(coin(col("doc_id")) =!= 0)
      val isRedir = expr("doc_id div 20") % 9 === 4
      val target =
        PortableHash.hash60(col("doc_id").cast("string"), 91) % n
      val pages = fetched.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        when(isRedir, Warc.httpRedirect(lit(301), urlOf(target)))
          .otherwise(Warc.httpResponse(lit(200),
            lit("text/html; charset=utf-8"), col("html")))
          .as("payload"))
      val land = Files.createTempDirectory("graft-q257-warc").toString
      Warc.writeSegments(pages.repartition(4, col("doc_id")),
        "uri", "payload", land, gzip = true)
      val parsed = Warc.readRecords(s, land)
        .select(col("uri"),
          regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          Warc.httpStatus(col("body")).as("status"),
          Warc.httpContentType(col("body")).as("ctype"),
          Warc.httpLocation(col("body")).as("loc"),
          Warc.httpBody(col("body")).as("hbody"))
      val redirects = parsed.filter(col("status") === 301)
        .select(col("uri").as("url"), col("loc").as("location"))
      val resolved = WebGraph.resolveRedirects(redirects, maxHops = 4)
      val links = WebGraph.links(
        parsed.filter(col("status") === 200 &&
          col("ctype") === "text/html")
          .select(col("doc_id"), col("hbody")), "doc_id", "hbody")
      val finals = links.join(resolved, Seq("url"), "left")
        .select(col("url"),
          coalesce(col("final_url"), col("url")).as("final"))
      val cand = finals
        .select(col("url"), col("final"),
          regexp_extract(col("final"), "/p/([0-9]+)$", 1)
            .cast("long").as("dst"))
        .filter(coin(col("dst")) === 0)
        .groupBy(col("dst"))
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("final") =!= col("url"), 1).otherwise(0))
            .cast("long").as("n_red"))
        .withColumn("dom", col("dst") % 20)
      val out = cand.withColumn("rk", row_number().over(
          Window.partitionBy(col("dom"))
            .orderBy(col("n_in").desc, col("dst"))))
        .filter(col("rk") <= 5)
        .select(col("dst"), col("dom"), col("n_in"), col("n_red"),
          col("rk"))
        .orderBy(col("dom"), col("rk"))
        .localCheckpoint()
      Streams.rmTree(land)
      out
    }),

    // TRUE UTF-8 byte fallback — q243's export contract on a corpus
    // with planted MULTI-BYTE codepoints: é/€/ï words are OOV by
    // construction (ASCII training corpus) and must decompose into
    // their 2-3 UTF-8 bytes of reserved <0xNN> pieces. n_hi counts
    // ids in [128, 256) — continuation/lead bytes only multi-byte
    // fallback can produce (ASCII fallback stays under 0x80), read
    // back from the published artifact.
    "q258_utf8_fallback" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val train = docs.filter(col("doc_id") % 3 =!= 0)
      import s.implicits._
      val held = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(Seq((9999992L, PlantedMultiByte))
          .toDF("doc_id", "text"))
      val merges = graft.text.Bpe.trainMerges(train, "text",
        Text.BpeK)
      val voc = graft.text.Bpe.vocab(train, "text", merges)
      val stream = graft.pipeline.Packing.byteFallbackStream(
        graft.text.Bpe.symbolStream(held, "doc_id", "text", merges),
        "doc_id", voc)
      Streams.withCatalog(s, "q258") { cat =>
        graft.pipeline.Packing.exportShardsOf("doc_id", stream, cat,
          "shards", seqLen = 2048, numGroups = 8,
          vocabIds = Some(graft.pipeline.Packing.reserveBytes(voc)))
        val (bin, _) = graft.pipeline.Packing.readShards(cat, "shards")
        // per-sequence HOF lambdas are bounded (≤ 2048 elements) — the
        // per-doc exemption, not a corpus-sized CodegenFallback path
        bin
          .select(col("grp"), col("seq"), col("n_tok"),
            graft.functions.TokenBinary.weightedSumCol(col("tokens"))
              .as("tok_wsum"),
            size(filter(
              graft.functions.TokenBinary.unpackCol(col("tokens")),
              t => t < 256)).cast("long").as("n_byte"),
            size(filter(
              graft.functions.TokenBinary.unpackCol(col("tokens")),
              t => t >= 128 && t < 256)).cast("long").as("n_hi"),
            array_min(
              graft.functions.TokenBinary.unpackCol(col("tokens")))
              .cast("long").as("min_tid"))
          .orderBy(col("grp"), col("seq"))
      }
    }),

    // STREAMING capstone door: q249's crawl-to-release chain with the
    // corpus arriving as a file stream — per batch the door folds the
    // three ADDITIVE partials (host-paragraph df + host doc counts,
    // q251's merge contract; per-doc graph edges from the raw landed
    // markup), and the end-of-stream resolve (scrub with the
    // accumulated df → q46 gates/dedup → converged-rank domain caps →
    // two-phase pack) runs the SHARED capstone tail. Oracle = q249's
    // SQL VERBATIM while the stream's per-file batching differs from
    // any one-shot layout.
    "q259_stream_crawl_release" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.graph.WebGraph
      val pages = Crawl.capstonePages(s, dir)
      val land = Streams.landThirds(pages, "doc_id", "graft-q259")
      val cp = Files.createTempDirectory("graft-q259-cp").toString
      def hostOf(df: DataFrame): DataFrame =
        graft.text.Html.extract(df, "doc_id", "html")
          .select(col("doc_id"), col("text"), Crawl.docHost.as("host"))
      // fold state: (host-paragraph df, host doc counts, edges,
      // per-batch extractions)
      type Acc = (DataFrame, DataFrame, DataFrame, DataFrame)
      val (pdf, hn, edges, exAll) = StreamFold[Acc](
          StreamFold.files(s, land), cp) { (prev, batch, _) =>
        // HTML extraction is the batch's dominant per-row cost and
        // feeds THREE consumers in this frame (paragraphs, the host
        // projection, host doc counts) plus the end-of-stream scrub
        // — checkpoint it ONCE per batch (guide §1.3/§5: reuse, not
        // recompute; extraction is per-row, so the accumulated
        // batches equal one extraction pass over the landed corpus)
        val ex = hostOf(batch).localCheckpoint()
        val paras = graft.dedup.Dedup.paragraphs(ex, "doc_id", "text")
          .join(ex.select(col("doc_id"), col("host")), Seq("doc_id"))
        val ePart = WebGraph.docEdges(
          WebGraph.links(batch, "doc_id", "html"))
        (StreamFold.addPartials(prev.map(_._1),
            graft.dedup.Dedup.hostParagraphDf(paras, "doc_id", "host"),
            Seq("host", "ph"), Seq("pdf")),
          StreamFold.addPartials(prev.map(_._2),
            graft.dedup.Dedup.hostDocCounts(ex, "host"),
            Seq("host"), Seq("__hn")),
          prev.fold(ePart)(_._3.unionByName(ePart)).localCheckpoint(),
          // the accumulated per-batch extractions ARE the corpus
          // extraction (per-row, batches doc-disjoint and exhaustive) —
          // the end-of-stream scrub reads them instead of re-extracting
          // the landed corpus (which its hosts/paragraphs consumers
          // would then re-run 3×)
          prev.fold(ex)(_._4.unionByName(ex)))
      }.getOrElse(throw Streams.noBatch("q259_stream_crawl_release"))
      val scrub = graft.dedup.Dedup.scrubHostBoilerplateWith(exAll,
          "doc_id", "host", "text", pdf, hn,
          minPpm = 500000L, minDf = 2L)
        .select(col("doc_id"), col("clean_text").as("text"))
      val cleaned = graft.pipeline.CorpusPipeline.clean(scrub,
        "doc_id", "text")
      val out = Crawl.capstoneResolve(s, dir, cleaned, edges)
        .localCheckpoint()
      Streams.rmTree(land); Streams.rmTree(cp)
      out
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q256_robots_wildcards" -> {
      import graft.graph.WebGraph
      s"""WITH wrurls AS (SELECT doc_id,
         |    'http://d' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' ||
         |    (CASE doc_id % 3
         |      WHEN 0 THEN '/p/' || CAST(doc_id AS VARCHAR) || '.html'
         |      WHEN 1 THEN '/p/' || CAST(doc_id AS VARCHAR) || '.php'
         |      ELSE '/q/' || CAST(doc_id AS VARCHAR) END) AS url
         |  FROM documents),
         |wrrob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    CASE WHEN k % 2 = 0
         |      THEN 'User-agent: *' || chr(10) || 'Disallow: /p/' || chr(10) ||
         |        'Allow: /p/*.html' || chr(10) || 'DISALLOW: /*.php$$' || chr(10) ||
         |        'Allow: /p/1' || chr(10) || '# end'
         |      ELSE 'User-agent: *' || chr(10) || 'Disallow: /p/' || chr(10) || '# end'
         |    END AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |${WebGraph.parseRobotsForCtes("wrrob", "host", "txt",
             "graftbot", "wp")},
         |wrdist AS (SELECT DISTINCT url FROM wrurls),
         |${WebGraph.urlDecisionsCtes("wrdist", "wprules", "wd")}
         |SELECT u.doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(SUM(CASE WHEN d.action = 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
         |  CAST(SUM(CASE WHEN d.action = 'deny' THEN 1 ELSE 0 END) AS BIGINT) AS n_denied,
         |  CAST(SUM(CASE WHEN u.doc_id % 3 = 0 AND d.action = 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_html_allowed,
         |  CAST(SUM(CASE WHEN u.doc_id % 3 = 1 AND d.action = 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_php_allowed
         |FROM wrurls u JOIN wddec d USING (url)
         |GROUP BY 1 ORDER BY dom""".stripMargin
    },

    "q257_redirect_frontier" -> {
      import graft.graph.WebGraph
      import graft.functions.PortableHash
      val coin = (t: String) =>
        s"${PortableHash.hash60Sql(s"CAST($t AS VARCHAR)", 55)} % 5"
      val t91 =
        s"(${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", 91)} % (SELECT n FROM lpn))"
      s"""WITH ${Crawl.lpagesCte},
         |rfred AS (SELECT ${urlSqlOf("doc_id")} AS url,
         |    ${urlSqlOf(t91)} AS location
         |  FROM documents
         |  WHERE ${coin("doc_id")} <> 0 AND (doc_id // 20) % 9 = 4),
         |${WebGraph.resolveRedirectsCtes("rfred", "url", "location",
             4, "rr")},
         |rfok AS (SELECT doc_id, html FROM lpages
         |  WHERE ${coin("doc_id")} <> 0 AND (doc_id // 20) % 9 <> 4),
         |rflnk AS (${WebGraph.linksSql("rfok", "doc_id", "html")}),
         |rff AS (SELECT l.src, l.url,
         |    coalesce(r.final_url, l.url) AS final
         |  FROM rflnk l LEFT JOIN rrres r ON r.url = l.url),
         |rfc AS (SELECT
         |    CAST(regexp_extract(final, '/p/([0-9]+)$$', 1) AS BIGINT) AS dst,
         |    CAST(count(*) AS BIGINT) AS n_in,
         |    CAST(SUM(CASE WHEN final <> url THEN 1 ELSE 0 END) AS BIGINT) AS n_red
         |  FROM rff GROUP BY 1),
         |rfk AS (SELECT dst, dst % 20 AS dom, n_in, n_red,
         |    row_number() OVER (PARTITION BY dst % 20
         |      ORDER BY n_in DESC, dst) AS rk
         |  FROM rfc WHERE ${coin("dst")} = 0)
         |SELECT dst, dom, n_in, n_red, rk FROM rfk
         |WHERE rk <= 5 ORDER BY dom, rk""".stripMargin
    },

    // q243's oracle chain with the OOV explosion upgraded to UTF-8:
    // each OOV sym's chars expand into their 1-4 UTF-8 bytes via the
    // exact-integer encoding formula (both engines truncate-divide on
    // nonnegative operands); cpos = 4*char + byte keeps byte order.
    "q258_utf8_fallback" ->
      s"""WITH ${Text.heldOutSymsSql(9999992, PlantedMultiByte)},
         |bfin AS (SELECT s.doc_id, s.wpos, s.spos, 0 AS cpos,
         |    v.vid + 255 AS tid
         |  FROM syh s JOIN vid v ON v.token = s.sym),
         |bfo0 AS (SELECT s.doc_id, s.wpos, s.spos, j AS jch,
         |    ord(s.sym[j]) AS p
         |  FROM (SELECT y.doc_id, y.wpos, y.spos, y.sym FROM syh y
         |    LEFT JOIN vid v ON v.token = y.sym
         |    WHERE v.token IS NULL) s,
         |  UNNEST(generate_series(1, length(s.sym))) AS u(j)),
         |bfo1 AS (SELECT doc_id, wpos, spos, jch, p,
         |    CASE WHEN p < 128 THEN 1 WHEN p < 2048 THEN 2
         |      WHEN p < 65536 THEN 3 ELSE 4 END AS nb
         |  FROM bfo0),
         |bfoov AS (SELECT doc_id, wpos, spos, jch * 4 + i AS cpos,
         |    CASE WHEN i = 1 THEN
         |      CASE nb WHEN 1 THEN p WHEN 2 THEN 192 + p // 64
         |        WHEN 3 THEN 224 + p // 4096 ELSE 240 + p // 262144 END
         |    ELSE 128 + (p // (CASE nb - i WHEN 0 THEN 1 WHEN 1 THEN 64
         |      WHEN 2 THEN 4096 ELSE 262144 END)) % 64 END AS tid
         |  FROM bfo1, UNNEST(generate_series(1, nb)) AS u(i)),
         |bg AS (SELECT doc_id, tid,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY wpos, spos, cpos) - 1 AS gpos
         |  FROM (SELECT * FROM bfin UNION ALL SELECT * FROM bfoov) t),
         |bcnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
         |  FROM bg GROUP BY doc_id),
         |bp AS (SELECT doc_id, doc_id % 8 AS grp, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) - n_tok AS start_tok
         |  FROM bcnt),
         |btok AS (SELECT p.grp, (p.start_tok + g.gpos) // 2048 AS seq,
         |    (p.start_tok + g.gpos) % 2048 AS off, g.tid
         |  FROM bg g JOIN bp p USING (doc_id))
         |SELECT grp, seq, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |  CAST(SUM((off + 1) * tid) AS BIGINT) AS tok_wsum,
         |  CAST(SUM(CASE WHEN tid < 256 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_byte,
         |  CAST(SUM(CASE WHEN tid >= 128 AND tid < 256 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hi,
         |  CAST(MIN(tid) AS BIGINT) AS min_tid
         |FROM btok GROUP BY grp, seq ORDER BY grp, seq""".stripMargin,

    // streamed fold == one-shot: the door replays q249 verbatim
    "q259_stream_crawl_release" ->
      Crawl.crawlReleaseSql,
  )
}
