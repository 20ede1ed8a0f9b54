package graft.queries

import graft.queries.fixtures.Crawl.{urlOf, urlSqlOf}
import graft.queries.fixtures.{Corpus, Crawl, Streams}
import graft.sources.Tables
import graft.streaming.StreamFold
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 second pass: the HTTP transport realism layer (declared
  * charsets q260, Content-Encoding gzip bodies q261, magic-byte mime
  * audit q264) plus the C4 cleaning rules (q262) and rel=canonical
  * duplicate folding (q263).
  *
  * Reference scope: nothing here maps to
  * /root/reference/SCD_script.txt — these extend the crawl-ingest /
  * quality families the north star adds on top.
  */
object Round15bQueries extends QueryGroup {

  /** é/ä plant: every a/e becomes a non-ASCII latin-1 letter, so the
    * decoded text's high-codepoint count is predictable from the
    * source and NEITHER charset's happy path can alias the other's.
    */
  private def accented(t: Column): Column = translate(t, "ae", "éä")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Declared-CHARSET transport: half the corpus lands as
    // ISO-8859-1 bytes (odd ids), half as UTF-8 (even), each with a
    // charset parameter on Content-Type and an accent-planted body
    // that is NON-ASCII everywhere — the reader must branch on the
    // parsed parameter (a single-charset decode fails one half's
    // clean match; the strict built-in decode would ABORT on the
    // latin-1 half). Payloads ride binary WARC segments (per-record
    // gzip members) through real storage.
    "q260_charset_ingest" -> ((s, dir) => {
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val tr = accented(col("text"))
      val cs = when(col("doc_id") % 2 === 1, lit("iso-8859-1"))
        .otherwise(lit("utf-8"))
      val body = when(col("doc_id") % 2 === 1,
        encode(tr, "ISO-8859-1")).otherwise(encode(tr, "UTF-8"))
      val pages = docs.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Warc.httpResponseBytes(lit(200), lit("text/html"), cs,
          lit(""), body).as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q260")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val parsed = back.select(col("doc_id"),
        Warc.httpCharset(col("pt")).as("cs"),
        Warc.decodeBody(col("bb"), Warc.httpCharset(col("pt")))
          .as("decoded"))
      // high-codepoint count via replace (replace-all both engines)
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("cs"),
          (col("decoded") === accented(col("text"))).as("cm"),
          (length(col("decoded")) -
            length(regexp_replace(regexp_replace(col("decoded"),
              "é", ""), "ä", ""))).cast("long").as("hi"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("cs") === "iso-8859-1", 1).otherwise(0))
            .cast("long").as("n_latin1"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(col("hi")).as("sum_hi"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // Content-Encoding: gzip entity bodies — a third of the corpus
    // (doc_id%3==1) lands gzip-compressed inside its HTTP payload
    // (itself inside per-record gzip WARC members — the two layers
    // are independent and both real). The reader branches on the
    // parsed Content-Encoding header and inflates before the charset
    // decode; clean match proves transport byte-exactness through
    // compress → land → read → inflate → decode.
    "q261_gzip_bodies" -> ((s, dir) => {
      import graft.sources.Warc
      import graft.functions.Gzip
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val tr = accented(col("text"))
      val gz = col("doc_id") % 3 === 1
      val utf8 = encode(tr, "UTF-8")
      val pages = docs.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Warc.httpResponseBytes(lit(200), lit("text/html"),
          lit("utf-8"),
          when(gz, lit("gzip")).otherwise(lit("")),
          when(gz, Gzip.deflateCol(utf8)).otherwise(utf8))
          .as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q261")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val parsed = back.select(col("doc_id"),
        Warc.httpContentEncoding(col("pt")).as("enc"),
        Warc.decodeBody(
          when(Warc.httpContentEncoding(col("pt")) === "gzip",
            Gzip.inflateCol(col("bb"))).otherwise(col("bb")),
          Warc.httpCharset(col("pt"))).as("decoded"))
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("enc"), col("decoded"),
          (col("decoded") === accented(col("text"))).as("cm"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("enc") === "gzip", 1).otherwise(0))
            .cast("long").as("n_gzip"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(length(col("decoded"))).cast("long").as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // C4 cleaning rules over a punctuation-planted corpus: the raw
    // word stream is folded into 8-word lines, then per-line plants
    // exercise each published rule — (doc_id+idx)%5==0 lines get NO
    // terminal punctuation, %7==3 lines a javascript token, %11==4
    // lines collapse to one word (the ≥3-words floor) — and per-doc
    // plants append a curly-brace line (%13==6), a lorem-ipsum line
    // (%17==9), and a bad-word line (%19==2). The keep decisions and
    // the retained text itself (order-pinned via a per-doc hash)
    // replay bit-exactly in DuckDB.
    "q262_c4_rules" -> ((s, dir) => {
      import graft.text.C4Quality
      import graft.functions.PortableHash
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val base = regexp_replace(col("text"), "(\\S+( \\S+){7}) ",
        "$1\n")
      val lines = docs.select(col("doc_id"),
        posexplode(split(base, "\n")).as(Seq("idx", "line")))
      val k = col("doc_id") + col("idx")
      val l0 = trim(col("line"))
      val l1 = when(k % 11 === 4, regexp_extract(l0, "^(\\S+)", 1))
        .otherwise(l0)
      val l2 = when(k % 7 === 3, concat(lit("javascript "), l1))
        .otherwise(l1)
      val l3 = when(k % 5 =!= 0, concat(l2, lit("."))).otherwise(l2)
      val rebuilt = lines.select(col("doc_id"), col("idx"),
          l3.as("l3"))
        .groupBy(col("doc_id"))
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("idx"), col("l3")))),
          x => x.getField("l3"))).as("t"))
      val fixture = rebuilt.select(col("doc_id"), concat(col("t"),
        when(col("doc_id") % 13 === 6, lit("\ncode { block } here."))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 9,
          lit("\nstandard lorem ipsum filler text."))
          .otherwise(lit("")),
        when(col("doc_id") % 19 === 2,
          lit("\ncontains the forbiddenword token here."))
          .otherwise(lit(""))).as("text2"))
      val cleaned = C4Quality.clean(fixture, "doc_id", "text2",
        badWords = Seq("forbiddenword"))
      cleaned.groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("c4_keep"), 1).otherwise(0)).cast("long")
            .as("n_kept"),
          sum(col("n_lines")).cast("long").as("sum_lines"),
          sum(col("n_lines_kept")).cast("long").as("sum_kept_lines"),
          sum(when(col("has_brace"), 1).otherwise(0)).cast("long")
            .as("n_brace"),
          sum(when(col("has_lorem"), 1).otherwise(0)).cast("long")
            .as("n_lorem"),
          sum(when(col("has_bad"), 1).otherwise(0)).cast("long")
            .as("n_bad"),
          sum(col("n_sent")).cast("long").as("sum_sent"),
          sum(PortableHash.hash60(col("clean_text"), 17) % 1000000)
            .cast("long").as("hash_clean"))
        .orderBy(col("dom"))
    }),

    // rel=canonical duplicate folding: tracking mirrors (m==1, a
    // ?ref= URL declaring its clean self root-relatively), absolute
    // self-canonicals (m==0), silent pages (m==2), and syndication
    // pointers at the decade-head doc (m==3, a CROSS-page
    // declaration). Folding on coalesce(canonical, url) collapses
    // the syndication cluster onto its head — the publisher-declared
    // dedup key, counted per target domain.
    "q263_canonical_fold" -> ((s, dir) => {
      import graft.graph.WebGraph
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val m = t % 4
      val pageUrl = when(m === 1, concat(urlOf(t), lit("?ref=camp")))
        .otherwise(urlOf(t))
      val canonHref = when(m === 1,
          concat(lit("/p/"), t.cast("string")))
        .when(m === 3, urlOf(t - t % 10))
        .otherwise(urlOf(t))
      val html = when(m === 2,
        concat(lit("<html><head></head><body>"), col("text"),
          lit("</body></html>")))
        .otherwise(concat(
          lit("<html><head><link rel=\"canonical\" href=\""),
          canonHref, lit("\"></head><body>"), col("text"),
          lit("</body></html>")))
      val pages = docs.select(t.as("doc_id"), pageUrl.as("url"),
        html.as("html"))
      val can = WebGraph.canonicalLinks(pages, "doc_id", "url",
        "html").withColumnRenamed("src", "doc_id")
      val folded = pages.join(can, Seq("doc_id"), "left")
        .select(col("doc_id"), col("url"), col("canonical"),
          coalesce(col("canonical"), col("url")).as("ckey"))
      val declStats = folded
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("canonical").isNotNull, 1).otherwise(0))
            .cast("long").as("n_declaring"),
          sum(when(col("canonical") === col("url"), 1).otherwise(0))
            .cast("long").as("n_self"),
          sum(when(col("canonical").isNotNull &&
            col("canonical") =!= col("url"), 1).otherwise(0))
            .cast("long").as("n_moved"))
      val clusters = folded.groupBy(col("ckey"))
        .agg(count(lit(1)).as("sz"))
        .groupBy((regexp_extract(col("ckey"), "/p/([0-9]+)", 1)
          .cast("long") % 20).as("dom"))
        .agg(count(lit(1)).as("n_clusters"),
          max(col("sz")).cast("long").as("max_cluster"))
      declStats.join(clusters, Seq("dom"))
        .select(col("dom"), col("n_pages"), col("n_declaring"),
          col("n_self"), col("n_moved"), col("n_clusters"),
          col("max_cluster"))
        .orderBy(col("dom"))
    }),

    // Magic-byte MIME audit: six planted container classes (the
    // shipped codec formats + a REAL gzip member + html) land as
    // binary HTTP payloads, a seventh of them with a LYING declared
    // Content-Type (doc_id%7==3 declares text/html regardless) — the
    // sniffer must recover the true type from bytes through real
    // storage, and the mismatch count is exactly the liars whose
    // body is not actually html.
    "q264_mime_audit" -> ((s, dir) => {
      import graft.sources.{MimeSniff, Warc}
      import graft.functions.Gzip
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val m = t % 6
      val text8 = encode(col("text"), "UTF-8")
      val body = when(m === 0,
          concat(unhex(lit("89504E470D0A1A0A")), text8))
        .when(m === 1, concat(unhex(lit("FFD8FFE0")), text8))
        .when(m === 2, Gzip.deflateCol(text8))
        .when(m === 3,
          concat(encode(lit("RIFF0000WAVEfmt "), "ISO-8859-1"),
            text8))
        .when(m === 4, concat(encode(lit("BM"), "ISO-8859-1"), text8))
        .otherwise(encode(concat(lit("<html><body>"), col("text"),
          lit("</body></html>")), "UTF-8"))
      val trueMime = when(m === 0, lit("image/png"))
        .when(m === 1, lit("image/jpeg"))
        .when(m === 2, lit("application/gzip"))
        .when(m === 3, lit("audio/wav"))
        .when(m === 4, lit("image/bmp"))
        .otherwise(lit("text/html"))
      val declared = when(t % 7 === 3, lit("text/html"))
        .otherwise(trueMime)
      val pages = docs.select(col("doc_id"),
        urlOf(t).as("uri"),
        Warc.httpResponseBytes(lit(200), declared, lit(""), lit(""),
          body).as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q264")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val audited = back.select(col("doc_id"),
        Warc.httpContentType(col("pt")).as("ct"),
        MimeSniff.sniff(col("bb")).as("sn"))
      val res = audited.groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("sn") === "text/html", 1).otherwise(0))
            .cast("long").as("n_html"),
          sum(when(col("sn").isin("image/png", "image/jpeg",
            "image/bmp"), 1).otherwise(0)).cast("long").as("n_img"),
          sum(when(col("sn") === "audio/wav", 1).otherwise(0))
            .cast("long").as("n_audio"),
          sum(when(col("sn") === "application/gzip", 1).otherwise(0))
            .cast("long").as("n_gzip"),
          sum(when(col("sn") =!= col("ct"), 1).otherwise(0))
            .cast("long").as("n_mismatch"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),
    // C4 band as pipeline stage 1b3 (Config.c4 inside bandStages —
    // the ONE wiring point, so the streaming front door applies it
    // batch-at-a-time unchanged). The corpus is period-folded into
    // 8-word sentences first (C4 on a punctuation-less word stream
    // zeroes everything — the Gopher stop-list lesson again: rules
    // are published, the corpus must carry the features they read);
    // plants pass quality+lang and exact/near dedup, so ONLY the c4
    // band removes them: +5e6 docs have newlines but NO terminal
    // punctuation (zero retained lines), +6e6 docs carry a planted
    // curly-brace line.
    "q265_pipeline_c4" -> ((s, dir) => {
      import graft.pipeline.CorpusPipeline
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      def punct(t: Column) =
        regexp_replace(t, "(\\S+( \\S+){7}) ", "$1.\n")
      def nl(t: Column) =
        regexp_replace(t, "(\\S+( \\S+){7}) ", "$1\n")
      val base = Corpus.corpus(s, dir)
        .select(col("doc_id"), punct(col("text")).as("text"))
      val noPunct = d.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(nl(col("text")),
            lit("\nthe extra words trail on here still")).as("text"))
      val braced = d.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(punct(col("text")),
            lit("\nthe code { block } of it.")).as("text"))
      val corpus = base.unionByName(noPunct).unionByName(braced)
      CorpusPipeline.clean(corpus, "doc_id", "text",
          CorpusPipeline.Config(c4 = Some(CorpusPipeline.C4Gate())))
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),
    // CONDITIONAL-RECRAWL scheduling: the previous crawl's stored
    // lastmod state vs the site's CURRENT sitemap inventory — the
    // freshness delta a polite crawler computes before spending any
    // fetch budget. Sitemap membership and state membership ride
    // div-20 coins (j-coins — %5/%6 of doc_id itself would confound
    // with the domain, the q222 lesson); changed pages bump their
    // lastmod one day. Classes: new (in sitemap, no state), changed
    // (lastmod advanced), unchanged, gone (stored but no longer
    // declared — the purge candidates). ISO dates compare lexically,
    // so the freshness test is a portable string compare.
    "q266_recrawl_delta" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val t = col("doc_id")
      val inv = Crawl.recrawlInventory(docs)
      val state = Crawl.recrawlKnown(docs)
        .select(urlOf(t).as("url"), Crawl.storedLastmod.as("stored_lastmod"))
      val full = inv.join(state, Seq("url"), "full_outer")
        .select(col("url"), col("lastmod"), col("stored_lastmod"),
          (regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long")
            % 20).as("dom"))
      full.groupBy(col("dom"))
        .agg(sum(when(col("lastmod").isNotNull, 1).otherwise(0))
          .cast("long").as("n_inventory"),
          sum(when(col("stored_lastmod").isNotNull, 1).otherwise(0))
            .cast("long").as("n_known"),
          sum(when(col("lastmod").isNotNull &&
            col("stored_lastmod").isNull, 1).otherwise(0))
            .cast("long").as("n_new"),
          sum(when(col("lastmod").isNotNull &&
            col("stored_lastmod").isNotNull &&
            col("lastmod") > col("stored_lastmod"), 1).otherwise(0))
            .cast("long").as("n_changed"),
          sum(when(col("lastmod").isNotNull &&
            col("stored_lastmod").isNotNull &&
            col("lastmod") === col("stored_lastmod"), 1).otherwise(0))
            .cast("long").as("n_unchanged"),
          sum(when(col("lastmod").isNull &&
            col("stored_lastmod").isNotNull, 1).otherwise(0))
            .cast("long").as("n_gone"))
        .orderBy(col("dom"))
    }),
    // RECRAWL SCHEDULER: the round's crawl-family pieces composed —
    // q266's freshness delta (new ∪ changed = the fetch candidates),
    // robots access policy INCLUDING a wildcard rule (`/*9$` denies
    // every url ending in 9 — q256's anchors binding inside a
    // composed chain) plus a `/p/2` prefix rule, and q254's
    // politeness budget (slots = 60 div Crawl-delay), freshest-first
    // per host (lastmod DESC). The between-rounds plan a real
    // incremental crawler executes, every stage a verified part.
    "q267_recrawl_scheduler" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val t = col("doc_id")
      val inv = Crawl.recrawlInventory(docs)
      val state = Crawl.recrawlKnown(docs)
        .select(urlOf(t).as("url"), Crawl.storedLastmod.as("stored_lastmod"))
      val cand = Crawl.recrawlCandidates(inv, state)
      val allowed = Crawl.recrawlAllowed(s, cand)
      val sched = Crawl.recrawlScheduled(allowed)
      val candAgg = cand.groupBy(col("dom"))
        .agg(count(lit(1)).as("n_candidates"))
      val allowAgg = allowed.groupBy(col("dom"))
        .agg(count(lit(1)).as("n_allowed"),
          max(col("slots")).cast("long").as("slots"))
      val schedAgg = sched.groupBy(col("dom"))
        .agg(count(lit(1)).as("n_scheduled"),
          max(when(col("rk") === 1, col("url"))).as("first_url"))
      candAgg.join(allowAgg, Seq("dom"), "left")
        .join(schedAgg, Seq("dom"), "left")
        .select(col("dom"), col("n_candidates"),
          coalesce(col("n_allowed"), lit(0L)).as("n_allowed"),
          coalesce(col("slots"), lit(0L)).as("slots"),
          coalesce(col("n_scheduled"), lit(0L)).as("n_scheduled"),
          coalesce(col("first_url"), lit("")).as("first_url"))
        .orderBy(col("dom"))
    }),
    // STREAMING binary-transport door: q260's charset ingest with the
    // payload relation arriving as a file stream — per batch the door
    // parses transport (header charset → per-charset decode) and
    // folds the per-dom count partials, which ADD across doc-disjoint
    // batches because every verdict is per-record against its own
    // payload. Oracle = q260's SQL VERBATIM while the stream's
    // per-file batching differs from any one-shot layout.
    "q268_stream_charset_ingest" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val tr = accented(col("text"))
      val cs = when(col("doc_id") % 2 === 1, lit("iso-8859-1"))
        .otherwise(lit("utf-8"))
      val body = when(col("doc_id") % 2 === 1,
        encode(tr, "ISO-8859-1")).otherwise(encode(tr, "UTF-8"))
      val pages = docs.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Warc.httpResponseBytes(lit(200), lit("text/html"), cs,
          lit(""), body).as("payload"))
      val land = Streams.landThirds(pages, "doc_id", "graft-q268")
      val cp = Files.createTempDirectory("graft-q268-cp").toString
      val agg = StreamFold[DataFrame](StreamFold.files(s, land), cp) {
        (prev, batch, _) =>
          val parsed = batch.select(col("doc_id"),
              Warc.payloadText(col("payload")).as("pt"),
              Warc.bodyBytes(col("payload")).as("bb"))
            .select(col("doc_id"),
              Warc.httpCharset(col("pt")).as("cs"),
              Warc.decodeBody(col("bb"), Warc.httpCharset(col("pt")))
                .as("decoded"))
          val part = parsed.join(docs, Seq("doc_id"))
            .select(col("doc_id"), col("cs"),
              (col("decoded") === accented(col("text"))).as("cm"),
              (length(col("decoded")) -
                length(regexp_replace(regexp_replace(col("decoded"),
                  "é", ""), "ä", ""))).cast("long").as("hi"),
              length(col("decoded")).cast("long").as("nch"))
            .groupBy((col("doc_id") % 20).as("dom"))
            .agg(count(lit(1)).as("n_records"),
              sum(when(col("cs") === "iso-8859-1", 1).otherwise(0))
                .cast("long").as("n_latin1"),
              sum(when(col("cm"), 1).otherwise(0)).cast("long")
                .as("n_clean"),
              sum(col("hi")).as("sum_hi"),
              sum(col("nch")).as("sum_chars"))
          StreamFold.addPartials(prev, part, Seq("dom"), Seq("n_records",
            "n_latin1", "n_clean", "sum_hi", "sum_chars"))
      }.getOrElse(throw Streams.noBatch("q268_stream_charset_ingest"))
      val out = agg
        .select(col("dom"), col("n_records"), col("n_latin1"),
          col("n_clean"), col("sum_hi"), col("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land); Streams.rmTree(cp)
      out
    }),
    // META-charset fallback (the HTML5 prescan): a third of the
    // corpus declares its charset ONLY in a <meta charset> element
    // (header bare), a third in the header parameter (body bare), a
    // third nowhere (UTF-8 default). The effective charset is
    // coalesce(header, meta, utf-8) — drop any leg and one class's
    // clean match dies. Classes ride div-20 coins; latin-1 halves by
    // doc parity inside the declaring classes.
    "q269_meta_charset" -> ((s, dir) => {
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val tr = accented(col("text"))
      val j3 = expr("doc_id div 20") % 3
      val latin = col("doc_id") % 2 === 1 && j3 =!= 2
      val cs = when(latin, lit("iso-8859-1")).otherwise(lit("utf-8"))
      val truthText = when(j3 === 1,
        concat(lit("<html><head><meta charset=\""), cs,
          lit("\"></head><body>"), tr, lit("</body></html>")))
        .otherwise(tr)
      val body = when(latin, encode(truthText, "ISO-8859-1"))
        .otherwise(encode(truthText, "UTF-8"))
      val pages = docs.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Warc.httpResponseBytes(lit(200), lit("text/html"),
          when(j3 === 0, cs).otherwise(lit("")), lit(""), body)
          .as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q269")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val hdr = Warc.httpCharset(col("pt"))
      val meta = Warc.metaCharset(Warc.httpBody(col("pt")))
      val eff = when(hdr =!= "", hdr)
        .when(meta =!= "", meta)
        .otherwise(lit("utf-8"))
      val parsed = back.select(col("doc_id"),
        hdr.as("hdr_cs"), meta.as("meta_cs"),
        Warc.decodeBody(col("bb"), eff).as("decoded"))
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("hdr_cs"), col("meta_cs"),
          (col("decoded") === truthText).as("cm"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("hdr_cs") =!= "", 1).otherwise(0))
            .cast("long").as("n_hdr"),
          sum(when(col("hdr_cs") === "" && col("meta_cs") =!= "", 1)
            .otherwise(0)).cast("long").as("n_meta"),
          sum(when(col("hdr_cs") === "iso-8859-1" ||
            col("meta_cs") === "iso-8859-1", 1).otherwise(0))
            .cast("long").as("n_latin1"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // decode∘encode is the identity per charset: the oracle predicts
    // a perfect clean sweep and the exact high-codepoint counts from
    // the source; any engine-side transport/decode fault breaks the
    // hash.
    "q260_charset_ingest" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(doc_id % 2) AS BIGINT) AS n_latin1,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(length(text) - length(replace(replace(text, 'a', ''), 'e', ''))) AS BIGINT) AS sum_hi,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    // every leg of coalesce(header, meta, utf-8) is the identity on
    // its class — the oracle predicts a clean sweep and the exact
    // decoded lengths (wrapper lengths computed FROM the literals, so
    // nothing is hand-counted twice)
    "q269_meta_charset" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hdr,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_meta,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 3 <> 2 AND doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_latin1,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(length(text) + CASE WHEN (doc_id // 20) % 3 = 1
         |    THEN length('<html><head><meta charset="') +
         |      (CASE WHEN doc_id % 2 = 1 THEN length('iso-8859-1') ELSE length('utf-8') END) +
         |      length('"></head><body>') + length('</body></html>')
         |    ELSE 0 END) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    // streamed fold == one-shot: the door replays q260 verbatim
    "q268_stream_charset_ingest" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(doc_id % 2) AS BIGINT) AS n_latin1,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(length(text) - length(replace(replace(text, 'a', ''), 'e', ''))) AS BIGINT) AS sum_hi,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    "q261_gzip_bodies" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gzip,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    "q262_c4_rules" -> {
      import graft.text.C4Quality
      import graft.functions.PortableHash
      s"""WITH cqf0 AS (SELECT doc_id,
         |    regexp_replace(text, '(\\S+( \\S+){7}) ', '\\1' || chr(10), 'g') AS base
         |  FROM documents),
         |cqf1 AS (SELECT doc_id, i - 1 AS idx, ls[i] AS line FROM (
         |    SELECT doc_id, string_split(base, chr(10)) AS ls FROM cqf0),
         |  UNNEST(generate_series(1, len(ls))) AS u(i)),
         |cqf2 AS (SELECT doc_id, idx,
         |    CASE WHEN (doc_id + idx) % 7 = 3 THEN 'javascript ' ELSE '' END ||
         |    (CASE WHEN (doc_id + idx) % 11 = 4
         |       THEN regexp_extract(trim(line), '^(\\S+)', 1)
         |       ELSE trim(line) END) ||
         |    CASE WHEN (doc_id + idx) % 5 <> 0 THEN '.' ELSE '' END AS l3
         |  FROM cqf1),
         |cqf3 AS (SELECT doc_id,
         |    string_agg(l3, chr(10) ORDER BY idx) AS t
         |  FROM cqf2 GROUP BY doc_id),
         |cqfx AS (SELECT doc_id, t ||
         |    (CASE WHEN doc_id % 13 = 6 THEN chr(10) || 'code { block } here.' ELSE '' END) ||
         |    (CASE WHEN doc_id % 17 = 9 THEN chr(10) || 'standard lorem ipsum filler text.' ELSE '' END) ||
         |    (CASE WHEN doc_id % 19 = 2 THEN chr(10) || 'contains the forbiddenword token here.' ELSE '' END) AS text2
         |  FROM cqf3),
         |${C4Quality.cleanCtes("cqfx", "doc_id", "text2",
             badWords = Seq("forbiddenword"))}
         |SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN c4_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(n_lines) AS BIGINT) AS sum_lines,
         |  CAST(SUM(n_lines_kept) AS BIGINT) AS sum_kept_lines,
         |  CAST(SUM(CASE WHEN has_brace THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
         |  CAST(SUM(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_lorem,
         |  CAST(SUM(CASE WHEN has_bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
         |  CAST(SUM(n_sent) AS BIGINT) AS sum_sent,
         |  CAST(SUM(${PortableHash.hash60Sql("clean_text", 17)} % 1000000) AS BIGINT) AS hash_clean
         |FROM c4out GROUP BY 1 ORDER BY dom""".stripMargin
    },

    "q263_canonical_fold" -> {
      import graft.graph.WebGraph
      s"""WITH cfp AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 1
         |      THEN ${urlSqlOf("doc_id")} || '?ref=camp'
         |      ELSE ${urlSqlOf("doc_id")} END AS url,
         |    CASE WHEN doc_id % 4 = 2
         |      THEN '<html><head></head><body>' || text || '</body></html>'
         |      ELSE '<html><head><link rel="canonical" href="' ||
         |        (CASE WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id AS VARCHAR)
         |              WHEN doc_id % 4 = 3 THEN ${urlSqlOf("doc_id - doc_id % 10")}
         |              ELSE ${urlSqlOf("doc_id")} END) ||
         |        '"></head><body>' || text || '</body></html>' END AS html
         |  FROM documents),
         |${WebGraph.canonicalLinksCtes("cfp", "doc_id", "url", "html",
             "cf")},
         |cffold AS (SELECT p.doc_id, p.url, c.canonical,
         |    coalesce(c.canonical, p.url) AS ckey
         |  FROM cfp p LEFT JOIN cncf c ON c.src = p.doc_id),
         |cfdecl AS (SELECT doc_id % 20 AS dom,
         |    CAST(count(*) AS BIGINT) AS n_pages,
         |    CAST(SUM(CASE WHEN canonical IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_declaring,
         |    CAST(SUM(CASE WHEN canonical = url THEN 1 ELSE 0 END) AS BIGINT) AS n_self,
         |    CAST(SUM(CASE WHEN canonical IS NOT NULL AND canonical <> url THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |  FROM cffold GROUP BY 1),
         |cfcl AS (SELECT ckey, CAST(count(*) AS BIGINT) AS sz
         |  FROM cffold GROUP BY ckey),
         |cfcls AS (SELECT
         |    CAST(regexp_extract(ckey, '/p/([0-9]+)', 1) AS BIGINT) % 20 AS dom,
         |    CAST(count(*) AS BIGINT) AS n_clusters,
         |    CAST(MAX(sz) AS BIGINT) AS max_cluster
         |  FROM cfcl GROUP BY 1)
         |SELECT d.dom, d.n_pages, d.n_declaring, d.n_self, d.n_moved,
         |  c.n_clusters, c.max_cluster
         |FROM cfdecl d JOIN cfcls c USING (dom) ORDER BY dom""".stripMargin
    },

    "q265_pipeline_c4" -> {
      import Corpus.corpusSql
      import graft.text.C4Quality
      s"""WITH RECURSIVE $corpusSql,
         |corpus2 AS (
         |  SELECT doc_id,
         |    regexp_replace(text, '(\\S+( \\S+){7}) ', '\\1.' || chr(10), 'g') AS text
         |  FROM corpus
         |  UNION ALL
         |  SELECT doc_id + 5000000,
         |    regexp_replace(text, '(\\S+( \\S+){7}) ', '\\1' || chr(10), 'g') ||
         |    chr(10) || 'the extra words trail on here still'
         |  FROM documents WHERE doc_id % 31 = 0
         |  UNION ALL
         |  SELECT doc_id + 6000000,
         |    regexp_replace(text, '(\\S+( \\S+){7}) ', '\\1.' || chr(10), 'g') ||
         |    chr(10) || 'the code { block } of it.'
         |  FROM documents WHERE doc_id % 37 = 0),
         |${Corpus.rowGatesSql("corpus2")},
         |${C4Quality.cleanCtes("g2", "doc_id", "text")},
         |g3 AS (SELECT g2.* FROM g2 JOIN c4out USING (doc_id)
         |       WHERE c4_keep),
         |${Corpus.cleanSurvivorsSql("g3")}""".stripMargin
    },

    "q266_recrawl_delta" ->
      s"""WITH ${Crawl.recrawlInventorySql("rc", "rc")},
         |rcj AS (SELECT coalesce(i.url, s.url) AS url,
         |    i.lastmod, s.stored_lastmod
         |  FROM rcmaps i FULL OUTER JOIN rcstate s ON s.url = i.url)
         |SELECT
         |  CAST(regexp_extract(url, '/p/([0-9]+)$$', 1) AS BIGINT) % 20 AS dom,
         |  CAST(SUM(CASE WHEN lastmod IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_inventory,
         |  CAST(SUM(CASE WHEN stored_lastmod IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
         |  CAST(SUM(CASE WHEN lastmod IS NOT NULL AND stored_lastmod IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  CAST(SUM(CASE WHEN lastmod IS NOT NULL AND stored_lastmod IS NOT NULL
         |    AND lastmod > stored_lastmod THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  CAST(SUM(CASE WHEN lastmod IS NOT NULL AND stored_lastmod IS NOT NULL
         |    AND lastmod = stored_lastmod THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
         |  CAST(SUM(CASE WHEN lastmod IS NULL AND stored_lastmod IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gone
         |FROM rcj GROUP BY 1 ORDER BY dom""".stripMargin,

    "q267_recrawl_scheduler" -> {
      import graft.graph.WebGraph
      s"""WITH ${Crawl.recrawlInventorySql("rs", "rs2")},
         |rscand AS (SELECT i.url, i.lastmod,
         |    CAST(regexp_extract(i.url, '/p/([0-9]+)$$', 1) AS BIGINT) % 20 AS dom
         |  FROM rs2maps i LEFT JOIN rsstate s ON s.url = i.url
         |  WHERE s.stored_lastmod IS NULL OR i.lastmod > s.stored_lastmod),
         |rsrob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    'User-agent: *' || chr(10) || 'Disallow: /*9$$' || chr(10) ||
         |    'Disallow: /p/2' || chr(10) ||
         |    'Crawl-delay: ' || CAST((k % 4) * 5 + 5 AS VARCHAR) AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |${WebGraph.parseRobotsForCtes("rsrob", "host", "txt",
             "graftbot", "rp")},
         |rsdist AS (SELECT DISTINCT url FROM rscand),
         |${WebGraph.urlDecisionsCtes("rsdist", "rprules", "rd")},
         |rsallow AS (SELECT c.url, c.lastmod, c.dom,
         |    'd' || CAST(c.dom AS VARCHAR) || '.example.com' AS host
         |  FROM rscand c JOIN rddec d ON d.url = c.url
         |  WHERE d.action = 'allow'),
         |rsslot AS (SELECT a.url, a.lastmod, a.dom, a.host,
         |    GREATEST(1, 60 // coalesce(dl.delay, 60)) AS slots
         |  FROM rsallow a LEFT JOIN rpdelay dl ON dl.host = a.host),
         |rsrk AS (SELECT url, lastmod, dom, host, slots,
         |    row_number() OVER (PARTITION BY host
         |      ORDER BY lastmod DESC, url) AS rk
         |  FROM rsslot),
         |rssched AS (SELECT * FROM rsrk WHERE rk <= slots),
         |rsca AS (SELECT dom, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM rscand GROUP BY dom),
         |rsaa AS (SELECT dom, CAST(count(*) AS BIGINT) AS n_allowed,
         |    CAST(MAX(slots) AS BIGINT) AS slots
         |  FROM rsslot GROUP BY dom),
         |rssa AS (SELECT dom, CAST(count(*) AS BIGINT) AS n_scheduled,
         |    MAX(CASE WHEN rk = 1 THEN url END) AS first_url
         |  FROM rssched GROUP BY dom)
         |SELECT c.dom, c.n_candidates,
         |  coalesce(a.n_allowed, 0) AS n_allowed,
         |  coalesce(a.slots, 0) AS slots,
         |  coalesce(s.n_scheduled, 0) AS n_scheduled,
         |  coalesce(s.first_url, '') AS first_url
         |FROM rsca c LEFT JOIN rsaa a ON a.dom = c.dom
         |LEFT JOIN rssa s ON s.dom = c.dom
         |ORDER BY c.dom""".stripMargin
    },

    // the sniffer's verdicts and the liar count are pure id
    // arithmetic — the oracle never touches a byte
    "q264_mime_audit" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN doc_id % 6 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_html,
         |  CAST(SUM(CASE WHEN doc_id % 6 IN (0, 1, 4) THEN 1 ELSE 0 END) AS BIGINT) AS n_img,
         |  CAST(SUM(CASE WHEN doc_id % 6 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_audio,
         |  CAST(SUM(CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_gzip,
         |  CAST(SUM(CASE WHEN doc_id % 7 = 3 AND doc_id % 6 <> 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,
  )
}
