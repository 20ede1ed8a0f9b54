package graft.queries

import graft.queries.fixtures.Crawl.{urlOf, urlSqlOf}
import graft.queries.fixtures.{Corpus, Crawl, Media, Streams}
import graft.sources.Tables
import graft.streaming.StreamFold
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16: transport realism, continued — WHATWG windows-1252
  * decode + charset-alias normalization (q270), `Transfer-Encoding:
  * chunked` bodies (q271).
  *
  * Reference scope: nothing here maps to
  * /root/reference/SCD_script.txt — these extend the crawl-ingest
  * family the north star adds on top.
  */
object Round16Queries extends QueryGroup {

  /** Curly-quote/em-dash plant: every 'a' becomes U+2019 (cp1252
    * 0x92) and every 'e' U+2014 (0x97) — both codepoints live in the
    * 0x80–0x9F hole where windows-1252 and ISO-8859-1 DISAGREE, so a
    * C1-identity decode of latin-1-labeled bytes corrupts every one
    * of them (the WHATWG rationale made measurable).
    */
  private def styled(t: Column): Column =
    translate(t, "ae", "’—")

  /** rid = doc_id*4 color JPEG 4:4:4; +1 BMP of the SAME pixels (the
    * cross-format exact twin, every doc); +2 the SAME pixels at 4:2:0
    * (%3); +3 a 4:2:0 with cell (3,3) re-derived (%5 — a ≤2-bit
    * near-dup).
    */
  private def colorJpegMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.BmpMedia] = {
    import s.implicits._
    import graft.multimodal.{Bmp, Jpeg, Multimodal}
    Tables(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 10 === 3).as[Long]
      .flatMap { id =>
        val base = Media.colorPlantImage(id, altCell = false)
        val j444 = Jpeg.encodeColor(base, subsample = false)
        val bmp = Bmp.encode(base)
        Seq(Multimodal.BmpMedia(id * 4, j444, j444.length),
          Multimodal.BmpMedia(id * 4 + 1, bmp, bmp.length)) ++
          (if (id % 3 == 0) {
            val j420 = Jpeg.encodeColor(base, subsample = true)
            Seq(Multimodal.BmpMedia(id * 4 + 2, j420, j420.length))
          } else Nil) ++
          (if (id % 5 == 0) {
            val j = Jpeg.encodeColor(
              Media.colorPlantImage(id, altCell = true),
              subsample = true)
            Seq(Multimodal.BmpMedia(id * 4 + 3, j, j.length))
          } else Nil)
      }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // COLOR JPEG perceptual dedup: real 3-component YCbCr payloads at
    // BOTH sampling layouts flow through the magic-sniffed
    // dHash/banded-hamming/CC machinery — the 4:4:4, its 4:2:0
    // re-encode, and the lossless BMP twin hash IDENTICALLY (format-
    // independent perceptual identity), the alt-cell 4:2:0 lands in
    // the same cluster at hamming ≤ 2.
    "q274_color_jpeg" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(colorJpegMedia(s, dir)),
          "id", "dhash", maxHamming = 6)
        .orderBy(col("id"))
    }),

    // WINDOWS-1252 transport: odd ids land as cp1252 BYTES labeled
    // with a rotating WHATWG alias (latin1 / iso-8859-1 / cp1252 /
    // windows-1252 / l1 — every label must normalize or its docs'
    // curly quotes decode as C1 controls and the clean match dies);
    // even ids land as UTF-8 under its aliases. The control column
    // n_c1_clean replays the OLD latin-1-identity decode: it only
    // matches docs whose text had no 'a'/'e' at all (pure-ASCII after
    // the plant) — the oracle predicts exactly that count.
    "q270_cp1252_ingest" -> ((s, dir) => {
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val tr = styled(col("text"))
      val odd = col("doc_id") % 2 === 1
      val w1252Labels = array(lit("latin1"), lit("iso-8859-1"),
        lit("cp1252"), lit("windows-1252"), lit("l1"))
      val utf8Labels = array(lit("utf-8"), lit("utf8"))
      val cs = when(odd, element_at(w1252Labels,
          (expr("doc_id div 2") % 5).cast("int") + 1))
        .otherwise(element_at(utf8Labels,
          (expr("doc_id div 2") % 2).cast("int") + 1))
      val body = when(odd, Warc.encodeCp1252(tr))
        .otherwise(encode(tr, "UTF-8"))
      val pages = docs.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Warc.httpResponseBytes(lit(200), lit("text/html"), cs,
          lit(""), body).as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q270")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val hdr = Warc.httpCharset(col("pt"))
      val parsed = back.select(col("doc_id"),
        Warc.normalizeCharset(hdr).as("ncs"),
        Warc.decodeBody(col("bb"), hdr).as("decoded"),
        // the pre-WHATWG C1-identity decode, kept as the CONTROL
        decode(col("bb"), "ISO-8859-1").as("c1"))
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("ncs"),
          (col("decoded") === styled(col("text"))).as("cm"),
          (col("c1") === styled(col("text"))).as("c1m"),
          (length(col("decoded")) -
            length(regexp_replace(regexp_replace(col("decoded"),
              "’", ""), "—", ""))).cast("long").as("hi"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("ncs") === "windows-1252", 1).otherwise(0))
            .cast("long").as("n_cp1252"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(when(col("c1m"), 1).otherwise(0)).cast("long")
            .as("n_c1_clean"),
          sum(col("hi")).as("sum_hi"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // CHUNKED transfer coding: even ids land chunk-framed (per-row
    // chunk size 7..19 so every body spans multiple chunks), a third
    // gzip-coded INSIDE the chunks, a fifth latin-1-labeled — all
    // eight combinations appear, and chunked ∧ id%4==2 records carry
    // a planted TRAILER field the dechunker must skip. The reader
    // peels the real HTTP onion in order: dechunk → inflate → charset
    // decode; clean match proves byte-exactness through all three
    // layers and real storage.
    "q271_chunked_transport" -> ((s, dir) => {
      import graft.sources.Warc
      import graft.functions.{Chunked, Gzip}
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val tr = translate(col("text"), "ae", "éä")
      val chunked = t % 2 === 0
      val gz = t % 3 === 1
      val latin = t % 5 === 2
      val cs = when(latin, lit("iso-8859-1")).otherwise(lit("utf-8"))
      val raw = when(latin, encode(tr, "ISO-8859-1"))
        .otherwise(encode(tr, "UTF-8"))
      val enc = when(gz, lit("gzip")).otherwise(lit(""))
      val b1 = when(gz, Gzip.deflateCol(raw)).otherwise(raw)
      val payload0 = when(chunked,
        Warc.httpResponseChunked(lit(200), lit("text/html"), cs, enc,
          b1, lit(7) + (t % 13)))
        .otherwise(Warc.httpResponseBytes(lit(200), lit("text/html"),
          cs, enc, b1))
      // trailer plant: swap the terminal CRLF for a trailer field +
      // CRLF (the dechunker must skip trailer lines, not emit them)
      val payload = when(chunked && t % 4 === 2,
        concat(payload0.substr(lit(1), length(payload0) - 2),
          encode(lit("X-Graft-Trailer: 1\r\n\r\n"), "ISO-8859-1")))
        .otherwise(payload0)
      val pages = docs.select(col("doc_id"),
        urlOf(t).as("uri"), payload.as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q271")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val te = Warc.httpTransferEncoding(col("pt"))
      val ce = Warc.httpContentEncoding(col("pt"))
      val deframed = when(te === "chunked",
        Chunked.dechunkCol(col("bb"))).otherwise(col("bb"))
      val inflated = when(ce === "gzip", Gzip.inflateCol(deframed))
        .otherwise(deframed)
      val parsed = back.select(col("doc_id"), te.as("te"), ce.as("ce"),
        Warc.httpCharset(col("pt")).as("cs"),
        Warc.decodeBody(inflated, Warc.httpCharset(col("pt")))
          .as("decoded"))
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("te"), col("ce"), col("cs"),
          (col("decoded") === translate(col("text"), "ae", "éä"))
            .as("cm"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("te") === "chunked", 1).otherwise(0))
            .cast("long").as("n_chunked"),
          sum(when(col("ce") === "gzip", 1).otherwise(0))
            .cast("long").as("n_gzip"),
          sum(when(col("cs") === "iso-8859-1", 1).otherwise(0))
            .cast("long").as("n_latin1"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),
    // CRAWL-SOURCED robots.txt: the access policy is read FROM the
    // crawl itself — per-host /robots.txt responses land in the same
    // WARC as the pages (a fifth of the hosts 404 their robots — no
    // rules, default allow), and the chain runs land → status-gated
    // robots parse (graftbot group selection: the evilbot Disallow:/
    // and the * group's /p/3 rule must NOT apply) → urlDecisions →
    // politeness frontier. Until now rules arrived as a pre-built
    // relation; a real crawler reads them from the crawl.
    "q272_crawl_robots" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.graph.WebGraph
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val pagesDf = docs.select(urlOf(t).as("uri"),
        graft.sources.Warc.httpResponse(lit(200), lit("text/html"),
          col("text")).as("payload"))
      val robotsDf = (0 until 20).map { k =>
        val txt =
          if (k % 5 == 4) "not found"
          else "User-agent: evilbot\nDisallow: /\n\n" +
            "User-agent: graftbot\nDisallow: /p/1\nAllow: /p/12\n" +
            s"Crawl-delay: ${(k % 3) * 10 + 5}\n\n" +
            "User-agent: *\nDisallow: /p/3"
        (s"http://d$k.example.com/robots.txt",
          if (k % 5 == 4) 404 else 200, txt)
      }.toDF("uri", "st", "txt")
        .select(col("uri"),
          graft.sources.Warc.httpResponse(col("st"), lit("text/plain"),
            col("txt")).as("payload"))
      val land = Files.createTempDirectory("graft-q272-warc").toString
      graft.sources.Warc.writeSegments(
        pagesDf.unionByName(robotsDf).repartition(4, col("uri")),
        "uri", "payload", land, gzip = true)
      val recs = graft.sources.Warc.readRecords(s, land)
      val robots = recs.filter(col("uri").endsWith("/robots.txt"))
        .select(regexp_extract(col("uri"), "^http://([^/]+)/", 1)
          .as("host"),
          graft.sources.Warc.httpStatus(col("body")).as("st"),
          graft.sources.Warc.httpBody(col("body")).as("txt"))
        .filter(col("st") === 200)
      val pages = recs.filter(!col("uri").endsWith("/robots.txt"))
        .select(col("uri").as("url"))
      val rules = WebGraph.parseRobotsFor(robots, "host", "txt",
        "graftbot")
      val delays = WebGraph.crawlDelays(robots, "host", "txt",
        "graftbot")
      val dec = WebGraph.urlDecisions(pages, rules)
        .withColumn("dom", regexp_extract(col("url"), "/p/([0-9]+)$", 1)
          .cast("long") % 20)
        .withColumn("host", concat(lit("d"), col("dom").cast("string"),
          lit(".example.com")))
      val decAgg = dec.groupBy(col("dom"))
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("action") === "deny", 1).otherwise(0))
            .cast("long").as("n_denied"),
          sum(when(col("action") === "allow", 1).otherwise(0))
            .cast("long").as("n_allowed"))
      val robotsAgg = robots.select(col("host"), lit(1L).as("robots_ok"))
      val rulesAgg = rules
        .select(regexp_extract(col("pattern"), "^([^/]+)", 1).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_rules"))
      val allowed = dec.filter(col("action") === "allow")
        .join(broadcast(delays), Seq("host"), "left")
        .withColumn("slots",
          greatest(lit(1L), expr("60 div coalesce(delay, 60)")))
      val sched = allowed.withColumn("rk", row_number().over(
          Window.partitionBy(col("host")).orderBy(col("url"))))
        .filter(col("rk") <= col("slots"))
      val schedAgg = sched.groupBy(col("dom"))
        .agg(count(lit(1)).as("n_scheduled"),
          max(col("slots")).cast("long").as("slots"),
          min(col("url")).as("first_url"))
      val res = decAgg
        .withColumn("host", concat(lit("d"), col("dom").cast("string"),
          lit(".example.com")))
        .join(broadcast(robotsAgg), Seq("host"), "left")
        .join(broadcast(rulesAgg), Seq("host"), "left")
        .join(schedAgg, Seq("dom"), "left")
        .select(col("dom"),
          coalesce(col("robots_ok"), lit(0L)).as("robots_ok"),
          coalesce(col("n_rules"), lit(0L)).as("n_rules"),
          col("n_pages"), col("n_denied"), col("n_allowed"),
          coalesce(col("slots"), lit(0L)).as("slots"),
          coalesce(col("n_scheduled"), lit(0L)).as("n_scheduled"),
          coalesce(col("first_url"), lit("")).as("first_url"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // CONDITIONAL fetch (If-Modified-Since / 304): stored URLs whose
    // content did not change answer 304 with NO body — the stored
    // copy survives and the transfer is a header, not a fetch. The
    // effective corpus composes coalesce(fetched-if-200, stored);
    // bytes_saved counts exactly the bodies never re-transferred.
    // Changed docs (id%3==0) and never-stored docs (div-20 j-coin)
    // fetch fresh; clean match proves the composition equals the
    // server's current truth for EVERY url.
    "q273_conditional_fetch" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val j5 = expr("doc_id div 20") % 5
      val stored = docs.filter(j5 =!= 4)
        .select(urlOf(t).as("url"), col("text").as("stored"))
      val cur = when(t % 3 === 0, concat(col("text"), lit(" updated")))
        .otherwise(col("text"))
      val is304 = j5 =!= 4 && t % 3 =!= 0
      val pages = docs.select(t.as("doc_id"), urlOf(t).as("uri"),
        when(is304, Warc.httpResponse(lit(304), lit("text/html"),
          lit(""))).otherwise(Warc.httpResponse(lit(200),
          lit("text/html"), cur)).as("payload"))
      val land = Files.createTempDirectory("graft-q273-warc").toString
      Warc.writeSegments(pages.repartition(4, col("doc_id")),
        "uri", "payload", land, gzip = true)
      val back = Warc.readRecords(s, land)
        .select(col("uri").as("url"),
          regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          Warc.httpStatus(col("body")).as("st"),
          Warc.httpBody(col("body")).as("fetched"))
      val eff = back.join(stored, Seq("url"), "left")
        .select(col("doc_id"), col("st"),
          when(col("st") === 200, col("fetched"))
            .otherwise(col("stored")).as("effective"),
          length(col("fetched")).cast("long").as("len_f"),
          length(coalesce(col("stored"), lit(""))).cast("long")
            .as("len_s"))
      val res = eff.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("st"),
          (col("effective") ===
            when(col("doc_id") % 3 === 0,
              concat(col("text"), lit(" updated")))
              .otherwise(col("text"))).as("cm"),
          col("len_f"), col("len_s"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("st") === 200, 1).otherwise(0)).cast("long")
            .as("n_200"),
          sum(when(col("st") === 304, 1).otherwise(0)).cast("long")
            .as("n_304"),
          sum(when(col("st") === 200, col("len_f")).otherwise(0L))
            .cast("long").as("bytes_fetched"),
          sum(when(col("st") === 304, col("len_s")).otherwise(0L))
            .cast("long").as("bytes_saved"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),
    // SCHEDULED CONDITIONAL RECRAWL — the round's crawl pieces
    // composed end-to-end: q267's scheduler (sitemap freshness delta
    // → wildcard robots → politeness slots, freshest-first) DRIVES
    // the fetches, and the fetches are CONDITIONAL (q273): a sitemap
    // lastmod bump with unchanged content (id%3==0 ∧ id%7==2 — the
    // spurious-lastmod class every real site has) costs a 304 header,
    // not a body; only scheduled URLs touch the wire at all. The
    // effective corpus composes coalesce(fetched-if-200, stored) and
    // clean-matches the server's current truth for every scheduled
    // URL.
    "q275_scheduled_fetch" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val inv = Crawl.recrawlInventory(docs)
      val state = Crawl.recrawlKnown(docs)
        .select(urlOf(t).as("url"), col("text").as("stored"),
          Crawl.storedLastmod.as("stored_lastmod"))
      val cand = Crawl.recrawlCandidates(inv, state)
      val sched = Crawl.recrawlScheduled(Crawl.recrawlAllowed(s, cand))
        .select(col("url"))
      // the server: current truth + conditional answers for the
      // scheduled set only (join back to docs by id)
      val fetchSet = sched
        .select(col("url"), regexp_extract(col("url"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"))
        .join(docs, Seq("doc_id"))
      val changed = col("doc_id") % 3 === 0 && col("doc_id") % 7 =!= 2
      val inState = expr("doc_id div 20") % 5 =!= 4
      val cur = when(changed, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))
      val is304 = inState && !changed
      val pages = fetchSet.select(col("doc_id"), col("url").as("uri"),
        when(is304, Warc.httpResponse(lit(304), lit("text/html"),
          lit(""))).otherwise(Warc.httpResponse(lit(200),
          lit("text/html"), cur)).as("payload"))
      val land = Files.createTempDirectory("graft-q275-warc").toString
      Warc.writeSegments(pages.repartition(4, col("doc_id")),
        "uri", "payload", land, gzip = true)
      val back = Warc.readRecords(s, land)
        .select(col("uri").as("url"),
          regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          Warc.httpStatus(col("body")).as("st"),
          Warc.httpBody(col("body")).as("fetched"))
      val eff = back
        .join(state.select(col("url"), col("stored")), Seq("url"), "left")
        .join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("st"),
          (when(col("st") === 200, col("fetched"))
            .otherwise(col("stored")) ===
            when(changed, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("cm"),
          length(col("fetched")).cast("long").as("len_f"),
          length(coalesce(col("stored"), lit(""))).cast("long")
            .as("len_s"))
      val res = eff.groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_scheduled"),
          sum(when(col("st") === 200, 1).otherwise(0)).cast("long")
            .as("n_200"),
          sum(when(col("st") === 304, 1).otherwise(0)).cast("long")
            .as("n_304"),
          sum(when(col("st") === 200, col("len_f")).otherwise(0L))
            .cast("long").as("bytes_fetched"),
          sum(when(col("st") === 304, col("len_s")).otherwise(0L))
            .cast("long").as("bytes_saved"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),
    // STREAMING conditional-fetch door: q273's 304/200 responses
    // arrive as a file stream — per batch the door parses transport
    // (status gate → fetched-vs-stored composition against the FROZEN
    // stored state) and folds the per-dom ledger partials, which ADD
    // across doc-disjoint batches because every verdict is per-record.
    // Oracle = q273's SQL VERBATIM while the stream's per-file
    // batching differs from any one-shot layout.
    "q276_stream_conditional" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val j5 = expr("doc_id div 20") % 5
      val stored = docs.filter(j5 =!= 4)
        .select(urlOf(t).as("url"), col("text").as("stored"))
      val cur = when(t % 3 === 0, concat(col("text"), lit(" updated")))
        .otherwise(col("text"))
      val is304 = j5 =!= 4 && t % 3 =!= 0
      val pages = docs.select(t.as("doc_id"), urlOf(t).as("url"),
        when(is304, Warc.httpResponse(lit(304), lit("text/html"),
          lit(""))).otherwise(Warc.httpResponse(lit(200),
          lit("text/html"), cur)).as("payload"))
      val land = Streams.landThirds(pages, "doc_id", "graft-q276")
      val cp = Files.createTempDirectory("graft-q276-cp").toString
      val agg = StreamFold[DataFrame](StreamFold.files(s, land), cp) {
        (prev, batch, _) =>
          val back = batch.select(col("url"), col("doc_id"),
            Warc.httpStatus(col("payload")).as("st"),
            Warc.httpBody(col("payload")).as("fetched"))
          val part = back.join(stored, Seq("url"), "left")
            .join(docs, Seq("doc_id"))
            .select(col("doc_id"), col("st"),
              (when(col("st") === 200, col("fetched"))
                .otherwise(col("stored")) ===
                when(col("doc_id") % 3 === 0,
                  concat(col("text"), lit(" updated")))
                  .otherwise(col("text"))).as("cm"),
              length(col("fetched")).cast("long").as("len_f"),
              length(coalesce(col("stored"), lit(""))).cast("long")
                .as("len_s"))
            .groupBy((col("doc_id") % 20).as("dom"))
            .agg(count(lit(1)).as("n_urls"),
              sum(when(col("st") === 200, 1).otherwise(0)).cast("long")
                .as("n_200"),
              sum(when(col("st") === 304, 1).otherwise(0)).cast("long")
                .as("n_304"),
              sum(when(col("st") === 200, col("len_f")).otherwise(0L))
                .cast("long").as("bytes_fetched"),
              sum(when(col("st") === 304, col("len_s")).otherwise(0L))
                .cast("long").as("bytes_saved"),
              sum(when(col("cm"), 1).otherwise(0)).cast("long")
                .as("n_clean"))
          StreamFold.addPartials(prev, part, Seq("dom"), Seq("n_urls",
            "n_200", "n_304", "bytes_fetched", "bytes_saved", "n_clean"))
      }.getOrElse(throw Streams.noBatch("q276_stream_conditional"))
      val out = agg
        .select(col("dom"), col("n_urls"), col("n_200"), col("n_304"),
          col("bytes_fetched"), col("bytes_saved"), col("n_clean"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land); Streams.rmTree(cp)
      out
    }),
    // BOM priority (WHATWG encoding sniff, step 1): a byte-order mark
    // beats EVERYTHING — one class carries a UTF-8 BOM under a LYING
    // iso-8859-1 header (header-first decode mojibakes it), two carry
    // UTF-16 BOMs with a bare header, one is BOM-less UTF-16 under
    // the bare `utf-16` label (little-endian per WHATWG), one is the
    // utf-8 control. Effective charset = coalesce(BOM, header,
    // utf-8); the n_hdr_clean CONTROL replays the header-only rule
    // and matches exactly the two classes whose header tells the
    // truth.
    "q277_bom_priority" -> ((s, dir) => {
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val tr = translate(col("text"), "ae", "éä")
      val j4 = expr("doc_id div 20") % 5
      val body = when(j4 === 0,
          concat(unhex(lit("EFBBBF")), encode(tr, "UTF-8")))
        .when(j4 === 1, concat(unhex(lit("FFFE")),
          encode(tr, "UTF-16LE")))
        .when(j4 === 2, concat(unhex(lit("FEFF")),
          encode(tr, "UTF-16BE")))
        .when(j4 === 3, encode(tr, "UTF-16LE"))
        .otherwise(encode(tr, "UTF-8"))
      val cs = when(j4 === 0, lit("iso-8859-1")) // the lie
        .when(j4 === 3, lit("utf-16"))           // bare label → LE
        .when(j4 === 4, lit("utf-8"))
        .otherwise(lit(""))
      val pages = docs.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Warc.httpResponseBytes(lit(200), lit("text/html"), cs,
          lit(""), body).as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q277")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val bom = Warc.bomCharset(col("bb"))
      val hdr = Warc.httpCharset(col("pt"))
      val eff = when(bom =!= "", bom)
        .when(hdr =!= "", hdr)
        .otherwise(lit("utf-8"))
      val hdrOnly = when(hdr =!= "", hdr).otherwise(lit("utf-8"))
      val parsed = back.select(col("doc_id"),
        bom.as("bom"), hdr.as("hdr"),
        Warc.decodeBody(col("bb"), eff).as("decoded"),
        Warc.decodeBody(col("bb"), hdrOnly).as("hdr_decoded"))
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("bom"), col("hdr"),
          (col("decoded") === translate(col("text"), "ae", "éä"))
            .as("cm"),
          (col("hdr_decoded") === translate(col("text"), "ae", "éä"))
            .as("hcm"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("bom") =!= "", 1).otherwise(0)).cast("long")
            .as("n_bom"),
          sum(when(col("bom").isin("utf-16le", "utf-16be") ||
            col("hdr") === "utf-16", 1).otherwise(0)).cast("long")
            .as("n_utf16"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(when(col("hcm"), 1).otherwise(0)).cast("long")
            .as("n_hdr_clean"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),
    // GZIPPED SITEMAPS through real transport — both live
    // conventions: `Content-Encoding: gzip` headers (k%3≠0 hosts) and
    // bare `.xml.gz` files whose gzip magic self-identifies with NO
    // header (k%3=0). The `fetched(url, xml)` lookup that q248/q252
    // took as a pre-built relation is here READ FROM THE CRAWL: WARC
    // land → inflate-or-passthrough (coalesce on the magic-gated
    // inflate) → robots Sitemap: directives → nested index expansion
    // → access decisions, one statement.
    "q278_gzip_sitemaps" -> ((s, dir) => {
      import graft.graph.WebGraph
      import graft.sources.Warc
      import graft.functions.Gzip
      import s.implicits._
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val k0 = col("doc_id") % 20
      val j = expr("doc_id div 20")
      val entry = concat(lit("<url><loc>"), urlOf(col("doc_id")),
        lit("</loc><lastmod>2025-01-"),
        lpad(((col("doc_id") * 7) % 28 + 1).cast("string"), 2, "0"),
        lit("</lastmod></url>"))
      val decl = docs.filter(j % 5 < 3)
        .select(k0.as("k"), (j % 2).as("b"), col("doc_id"),
          entry.as("e"))
      def urlsetAgg = concat(lit("<urlset>"),
        array_join(transform(
          sort_array(collect_list(struct(col("doc_id"), col("e")))),
          x => x.getField("e")), ""), lit("</urlset>"))
      val ks = col("k").cast("string")
      def ext = when(col("k") % 3 === 0, lit(".xml.gz"))
        .otherwise(lit(".xml"))
      val childFiles = decl.filter(col("k") % 2 === 1)
        .groupBy(col("k"), col("b")).agg(urlsetAgg.as("xml"))
        .select(col("k"), concat(lit("http://d"), ks,
          lit(".example.com/sm/"), col("b").cast("string"), ext)
          .as("url"), col("xml"))
      val urlsetAll = decl.groupBy(col("k")).agg(urlsetAgg.as("xml"))
      val spine = docs.select(k0.as("k")).distinct()
      val roots0 = spine.join(urlsetAll, Seq("k"), "left")
        .select(col("k"), concat(lit("http://d"), ks,
          lit(".example.com/sm/root"), ext).as("url"),
          when(col("k") % 2 === 1, concat(
            lit("<sitemapindex><sitemap><loc>http://d"), ks,
            lit(".example.com/sm/0"), ext,
            lit("</loc></sitemap><sitemap><loc>http://d"), ks,
            lit(".example.com/sm/1"), ext,
            lit("</loc></sitemap></sitemapindex>")))
            .otherwise(coalesce(col("xml"), lit("<urlset></urlset>")))
            .as("xml"))
      val files = roots0.unionByName(childFiles)
      val pages = files.select(col("url").as("uri"),
        Warc.httpResponseBytes(lit(200), lit("application/xml"),
          lit(""),
          when(col("k") % 3 === 0, lit("")).otherwise(lit("gzip")),
          Gzip.deflateCol(encode(col("xml"), "UTF-8"))).as("payload"))
      val land = Crawl.landWarc(pages, col("uri"), "q278")
      val back = Warc.readRecordsBinary(s, land)
        .select(col("uri").as("url"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      // inflate-or-passthrough: the 0x1F8B magic self-identifies, so
      // BOTH conventions read through one expression
      val fetched = back.select(col("url"),
        Warc.httpContentEncoding(col("pt")).as("enc"),
        Gzip.utf8LenientCol(coalesce(Gzip.inflateCol(col("bb")),
          col("bb"))).as("xml"))
      val robots = (0 until 20).map { k =>
        val e = if (k % 3 == 0) ".xml.gz" else ".xml"
        (s"d$k.example.com",
          "User-agent: *\nDisallow: /p/4\n" +
            s"Sitemap: http://d$k.example.com/sm/root$e")
      }.toDF("host", "txt")
      val roots = WebGraph.sitemapDirectives(robots, "host", "txt")
        .join(fetched, Seq("url"))
        .select(col("host"), col("xml"))
      val inv = WebGraph.parseSitemapsNested(roots, "host", "xml",
        fetched, "url", "xml")
      val dec = WebGraph.urlDecisions(inv.select(col("url")),
        WebGraph.parseRobotsFor(robots, "host", "txt", "graftbot"))
      val invAgg = inv.join(dec, Seq("url"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("action") === "allow", 1).otherwise(0))
            .cast("long").as("n_allowed"),
          max(col("lastmod")).as("max_lastmod"))
      val fileAgg = fetched
        .select(regexp_extract(col("url"), "^http://([^/]+)/", 1)
          .as("host"), col("enc"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("enc") === "gzip", 1).otherwise(0))
            .cast("long").as("n_gzip_hdr"))
      val hspine = spine.select(
        concat(lit("d"), ks, lit(".example.com")).as("host"))
      val res = hspine
        .join(fileAgg, Seq("host"), "left")
        .join(invAgg, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("n_files"), lit(0L)).as("n_files"),
          coalesce(col("n_gzip_hdr"), lit(0L)).as("n_gzip_hdr"),
          coalesce(col("n_urls"), lit(0L)).as("n_urls"),
          coalesce(col("n_allowed"), lit(0L)).as("n_allowed"),
          coalesce(col("max_lastmod"), lit("")).as("max_lastmod"))
        .orderBy(col("host"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // gzip transport is engine-side realism; the sitemap tree, index
    // expansion and decisions replay from the same literals
    "q278_gzip_sitemaps" -> {
      import graft.graph.WebGraph
      s"""WITH g16decl AS (SELECT doc_id % 20 AS k,
         |    (doc_id // 20) % 2 AS b, doc_id,
         |    '<url><loc>' || ${urlSqlOf("doc_id")} || '</loc><lastmod>2025-01-' ||
         |    lpad(CAST((doc_id * 7) % 28 + 1 AS VARCHAR), 2, '0') ||
         |    '</lastmod></url>' AS e
         |  FROM documents WHERE (doc_id // 20) % 5 < 3),
         |g16child AS (SELECT k, b,
         |    '<urlset>' || string_agg(e, '' ORDER BY doc_id) || '</urlset>' AS xml
         |  FROM g16decl WHERE k % 2 = 1 GROUP BY k, b),
         |g16all AS (SELECT k,
         |    '<urlset>' || string_agg(e, '' ORDER BY doc_id) || '</urlset>' AS xml
         |  FROM g16decl GROUP BY k),
         |g16spine AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
         |g16roots AS (SELECT s.k,
         |    'http://d' || CAST(s.k AS VARCHAR) || '.example.com/sm/root' ||
         |      (CASE WHEN s.k % 3 = 0 THEN '.xml.gz' ELSE '.xml' END) AS url,
         |    CASE WHEN s.k % 2 = 1 THEN
         |      '<sitemapindex><sitemap><loc>http://d' || CAST(s.k AS VARCHAR) ||
         |      '.example.com/sm/0' || (CASE WHEN s.k % 3 = 0 THEN '.xml.gz' ELSE '.xml' END) ||
         |      '</loc></sitemap><sitemap><loc>http://d' || CAST(s.k AS VARCHAR) ||
         |      '.example.com/sm/1' || (CASE WHEN s.k % 3 = 0 THEN '.xml.gz' ELSE '.xml' END) ||
         |      '</loc></sitemap></sitemapindex>'
         |    ELSE coalesce(a.xml, '<urlset></urlset>') END AS xml
         |  FROM g16spine s LEFT JOIN g16all a ON a.k = s.k),
         |g16files AS (SELECT k, url, xml FROM g16roots
         |  UNION ALL
         |  SELECT k, 'http://d' || CAST(k AS VARCHAR) || '.example.com/sm/' ||
         |    CAST(b AS VARCHAR) ||
         |    (CASE WHEN k % 3 = 0 THEN '.xml.gz' ELSE '.xml' END), xml
         |  FROM g16child),
         |g16rootrel AS (SELECT 'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    xml FROM g16roots),
         |${WebGraph.parseSitemapsNestedCtes("g16rootrel", "host",
             "xml", "g16files", "url", "xml", "gn")},
         |g16rob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    'User-agent: *' || chr(10) || 'Disallow: /p/4' || chr(10) ||
         |    'Sitemap: http://d' || CAST(k AS VARCHAR) || '.example.com/sm/root' ||
         |    (CASE WHEN k % 3 = 0 THEN '.xml.gz' ELSE '.xml' END) AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |${WebGraph.parseRobotsForCtes("g16rob", "host", "txt",
             "graftbot", "gr")},
         |g16dist AS (SELECT DISTINCT url FROM gnmaps),
         |${WebGraph.urlDecisionsCtes("g16dist", "grrules", "gd")},
         |g16inv AS (SELECT m.host, CAST(count(*) AS BIGINT) AS n_urls,
         |    CAST(SUM(CASE WHEN d.action = 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
         |    MAX(m.lastmod) AS max_lastmod
         |  FROM gnmaps m JOIN gddec d ON d.url = m.url
         |  GROUP BY m.host),
         |g16fa AS (SELECT 'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    CAST(count(*) AS BIGINT) AS n_files,
         |    CAST(SUM(CASE WHEN k % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gzip_hdr
         |  FROM g16files GROUP BY 1)
         |SELECT s.host,
         |  coalesce(f.n_files, 0) AS n_files,
         |  coalesce(f.n_gzip_hdr, 0) AS n_gzip_hdr,
         |  coalesce(i.n_urls, 0) AS n_urls,
         |  coalesce(i.n_allowed, 0) AS n_allowed,
         |  coalesce(i.max_lastmod, '') AS max_lastmod
         |FROM (SELECT 'd' || CAST(k AS VARCHAR) || '.example.com' AS host
         |  FROM g16spine) s
         |LEFT JOIN g16fa f ON f.host = s.host
         |LEFT JOIN g16inv i ON i.host = s.host
         |ORDER BY s.host""".stripMargin
    },

    // every class decodes exactly under the BOM-first rule; the
    // header-only control matches only the truth-telling classes
    "q277_bom_priority" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 IN (0, 1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_bom,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 IN (1, 2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_utf16,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 IN (3, 4) THEN 1 ELSE 0 END) AS BIGINT) AS n_hdr_clean,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    // streamed ledger fold == one-shot: the door replays q273 verbatim
    "q276_stream_conditional" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 4 OR doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_200,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 <> 4 AND doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_304,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 4 OR doc_id % 3 = 0 THEN length(text) + (CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 0 END) ELSE 0 END) AS BIGINT) AS bytes_fetched,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 <> 4 AND doc_id % 3 <> 0 THEN length(text) ELSE 0 END) AS BIGINT) AS bytes_saved,
         |  CAST(count(*) AS BIGINT) AS n_clean
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    // hashes replay from the cell formula (uniform casts cancel in
    // the sample comparisons; margins absorb the lossy roundtrip) —
    // the q201 oracle pattern over the color media set
    "q274_color_jpeg" ->
      s"""WITH RECURSIVE cqdims AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 3),
         |cqimgs AS (
         |  SELECT doc_id*4 AS rid, doc_id AS id0, 0 AS alt FROM cqdims
         |  UNION ALL SELECT doc_id*4+1, doc_id, 0 FROM cqdims
         |  UNION ALL SELECT doc_id*4+2, doc_id, 0 FROM cqdims WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+3, doc_id, 1 FROM cqdims WHERE doc_id % 5 = 0),
         |cqcells AS (
         |  SELECT rid, gy, gx,
         |    30 + (hh % 5) * 40 + ((gx + gy) % 2) * 12 AS gray
         |  FROM (
         |    SELECT rid, gy.g AS gy, gx.g AS gx,
         |      ('0x'||substr(md5('cj:' || (CASE WHEN alt = 1 AND gx.g = 3 AND gy.g = 3 THEN id0 + 999983 ELSE id0 END) || ':' || gx.g || ':' || gy.g), 1, 15))::BIGINT AS hh
         |    FROM cqimgs,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gy,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gx) t),
         |cqdh AS (
         |  SELECT l.rid, CAST(SUM(CASE WHEN r.gray > l.gray
         |      THEN 1::BIGINT << (l.gy*7 + l.gx) ELSE 0 END) AS BIGINT)
         |    AS dhash
         |  FROM cqcells l JOIN cqcells r
         |    ON r.rid = l.rid AND r.gy = l.gy AND r.gx = l.gx + 1
         |  WHERE l.gx < 7 GROUP BY l.rid),
         |cqbands AS (
         |  SELECT rid, dhash, bb.band,
         |    (dhash >> (bb.band * 14)) & 16383 AS v
         |  FROM cqdh, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |cqpairs AS (
         |  SELECT a, b FROM (
         |    SELECT DISTINCT x.rid AS a, y.rid AS b,
         |      x.dhash AS ha, y.dhash AS hb
         |    FROM cqbands x JOIN cqbands y
         |      ON x.band = y.band AND x.v = y.v AND x.rid < y.rid) t
         |  WHERE bit_count(xor(ha, hb)) <= 6),
         |${Corpus.ccCompactSql("cq")}
         |SELECT d.rid AS id, d.dhash,
         |  COALESCE(l.clus, d.rid) AS cluster,
         |  (COALESCE(l.clus, d.rid) <> d.rid) AS is_dup
         |FROM cqdh d LEFT JOIN cqlabels l ON l.node = d.rid
         |ORDER BY d.rid""".stripMargin,

    // decode∘encode is the identity per charset ONLY when every alias
    // normalizes to windows-1252: the oracle predicts a clean sweep,
    // the exact plant counts, and the C1-identity control = docs with
    // no 'a'/'e' at all (the only ones a latin-1-identity decode
    // still matches)
    "q270_cp1252_ingest" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(doc_id % 2) AS BIGINT) AS n_cp1252,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN length(replace(replace(text, 'a', ''), 'e', '')) = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_c1_clean,
         |  CAST(SUM(length(text) - length(replace(replace(text, 'a', ''), 'e', ''))) AS BIGINT) AS sum_hi,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    // q267's chain replays verbatim to the scheduled set; the fetch
    // tail is id arithmetic (3 = length(' v2')) and predicts a clean
    // sweep — spurious-lastmod rows save exactly their stored bytes
    "q275_scheduled_fetch" -> {
      import graft.graph.WebGraph
      s"""WITH ${Crawl.recrawlInventorySql("sf", "sf2")},
         |sfcand AS (SELECT i.url, i.lastmod,
         |    CAST(regexp_extract(i.url, '/p/([0-9]+)$$', 1) AS BIGINT) % 20 AS dom
         |  FROM sf2maps i LEFT JOIN sfstate s ON s.url = i.url
         |  WHERE s.stored_lastmod IS NULL OR i.lastmod > s.stored_lastmod),
         |sfrob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    'User-agent: *' || chr(10) || 'Disallow: /*9$$' || chr(10) ||
         |    'Disallow: /p/2' || chr(10) ||
         |    'Crawl-delay: ' || CAST((k % 4) * 5 + 5 AS VARCHAR) AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |${WebGraph.parseRobotsForCtes("sfrob", "host", "txt",
             "graftbot", "sp")},
         |sfdist AS (SELECT DISTINCT url FROM sfcand),
         |${WebGraph.urlDecisionsCtes("sfdist", "sprules", "sq")},
         |sfallow AS (SELECT c.url, c.lastmod, c.dom,
         |    'd' || CAST(c.dom AS VARCHAR) || '.example.com' AS host
         |  FROM sfcand c JOIN sqdec d ON d.url = c.url
         |  WHERE d.action = 'allow'),
         |sfslot AS (SELECT a.url, a.lastmod, a.dom, a.host,
         |    GREATEST(1, 60 // coalesce(dl.delay, 60)) AS slots
         |  FROM sfallow a LEFT JOIN spdelay dl ON dl.host = a.host),
         |sfrk AS (SELECT url, dom, slots,
         |    row_number() OVER (PARTITION BY host
         |      ORDER BY lastmod DESC, url) AS rk
         |  FROM sfslot),
         |sfsched AS (SELECT url, dom FROM sfrk WHERE rk <= slots),
         |sfx AS (SELECT f.dom, d.text,
         |    (d.doc_id % 3 = 0 AND d.doc_id % 7 <> 2) AS chg,
         |    ((d.doc_id // 20) % 5 <> 4) AS instate
         |  FROM (SELECT dom,
         |      CAST(regexp_extract(url, '/p/([0-9]+)$$', 1) AS BIGINT) AS doc_id
         |    FROM sfsched) f
         |  JOIN documents d ON d.doc_id = f.doc_id)
         |SELECT dom,
         |  CAST(count(*) AS BIGINT) AS n_scheduled,
         |  CAST(SUM(CASE WHEN NOT instate OR chg THEN 1 ELSE 0 END) AS BIGINT) AS n_200,
         |  CAST(SUM(CASE WHEN instate AND NOT chg THEN 1 ELSE 0 END) AS BIGINT) AS n_304,
         |  CAST(SUM(CASE WHEN NOT instate OR chg THEN length(text) + (CASE WHEN chg THEN 3 ELSE 0 END) ELSE 0 END) AS BIGINT) AS bytes_fetched,
         |  CAST(SUM(CASE WHEN instate AND NOT chg THEN length(text) ELSE 0 END) AS BIGINT) AS bytes_saved,
         |  CAST(count(*) AS BIGINT) AS n_clean
         |FROM sfx GROUP BY dom ORDER BY dom""".stripMargin
    },

    // the robots relation, group selection, decisions, and politeness
    // window all replay from the same literals — the WARC transport
    // is the engine-side realism the oracle's truth never touches
    "q272_crawl_robots" -> {
      import graft.graph.WebGraph
      s"""WITH crrob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    'User-agent: evilbot' || chr(10) || 'Disallow: /' || chr(10) || chr(10) ||
         |    'User-agent: graftbot' || chr(10) || 'Disallow: /p/1' || chr(10) || 'Allow: /p/12' || chr(10) ||
         |    'Crawl-delay: ' || CAST((k % 3) * 10 + 5 AS VARCHAR) || chr(10) || chr(10) ||
         |    'User-agent: *' || chr(10) || 'Disallow: /p/3' AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)
         |  WHERE k % 5 <> 4),
         |${WebGraph.parseRobotsForCtes("crrob", "host", "txt",
             "graftbot", "cr")},
         |crdist AS (SELECT DISTINCT ${urlSqlOf("doc_id")} AS url
         |  FROM documents),
         |${WebGraph.urlDecisionsCtes("crdist", "crrules", "cd")},
         |crdec AS (SELECT d.url, d.action,
         |    CAST(regexp_extract(d.url, '/p/([0-9]+)$$', 1) AS BIGINT) % 20 AS dom,
         |    'd' || CAST(CAST(regexp_extract(d.url, '/p/([0-9]+)$$', 1) AS BIGINT) % 20 AS VARCHAR) || '.example.com' AS host
         |  FROM cddec d),
         |crda AS (SELECT dom, CAST(count(*) AS BIGINT) AS n_pages,
         |    CAST(SUM(CASE WHEN action = 'deny' THEN 1 ELSE 0 END) AS BIGINT) AS n_denied,
         |    CAST(SUM(CASE WHEN action = 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed
         |  FROM crdec GROUP BY dom),
         |crro AS (SELECT host, CAST(1 AS BIGINT) AS robots_ok FROM crrob),
         |crnr AS (SELECT regexp_extract(pattern, '^([^/]+)', 1) AS host,
         |    CAST(count(*) AS BIGINT) AS n_rules
         |  FROM crrules GROUP BY 1),
         |crallow AS (SELECT c.url, c.dom, c.host,
         |    GREATEST(1, 60 // coalesce(dl.delay, 60)) AS slots
         |  FROM crdec c LEFT JOIN crdelay dl ON dl.host = c.host
         |  WHERE c.action = 'allow'),
         |crrk AS (SELECT url, dom, slots,
         |    row_number() OVER (PARTITION BY host ORDER BY url) AS rk
         |  FROM crallow),
         |crsch AS (SELECT dom, CAST(count(*) AS BIGINT) AS n_scheduled,
         |    CAST(MAX(slots) AS BIGINT) AS slots, MIN(url) AS first_url
         |  FROM crrk WHERE rk <= slots GROUP BY dom)
         |SELECT a.dom, coalesce(r.robots_ok, 0) AS robots_ok,
         |  coalesce(n.n_rules, 0) AS n_rules,
         |  a.n_pages, a.n_denied, a.n_allowed,
         |  coalesce(s.slots, 0) AS slots,
         |  coalesce(s.n_scheduled, 0) AS n_scheduled,
         |  coalesce(s.first_url, '') AS first_url
         |FROM crda a
         |LEFT JOIN crro r ON r.host = 'd' || CAST(a.dom AS VARCHAR) || '.example.com'
         |LEFT JOIN crnr n ON n.host = 'd' || CAST(a.dom AS VARCHAR) || '.example.com'
         |LEFT JOIN crsch s ON s.dom = a.dom
         |ORDER BY a.dom""".stripMargin
    },

    // every 304 survives from storage, every 200 replaces — both
    // legs are the identity on their class, so the oracle predicts
    // the byte ledger and a clean sweep from id arithmetic (8 =
    // length(' updated'))
    "q273_conditional_fetch" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 4 OR doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_200,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 <> 4 AND doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_304,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 4 OR doc_id % 3 = 0 THEN length(text) + (CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 0 END) ELSE 0 END) AS BIGINT) AS bytes_fetched,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 <> 4 AND doc_id % 3 <> 0 THEN length(text) ELSE 0 END) AS BIGINT) AS bytes_saved,
         |  CAST(count(*) AS BIGINT) AS n_clean
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    // dechunk ∘ chunk, inflate ∘ deflate, decode ∘ encode — each
    // layer is the identity, so the oracle predicts a clean sweep
    // and the coin counts from id arithmetic alone
    "q271_chunked_transport" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_chunked,
         |  CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gzip,
         |  CAST(SUM(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_latin1,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,
  )
}
