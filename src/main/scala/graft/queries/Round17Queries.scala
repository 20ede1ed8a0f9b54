package graft.queries

import graft.queries.fixtures.Crawl.{urlOf, urlSqlOf}
import graft.queries.fixtures.{Corpus, Crawl, Media, Streams, Text}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17: HTTP revalidation completed (ETag/If-None-Match q279,
  * `Content-Encoding: deflate` q280), arbitrary-depth sitemap trees
  * (q281), schema-evolution DDL completed (DROP/RENAME COLUMN q282),
  * JPEG restart markers (q283), and the trained char-trigram
  * language gate (q284/q285).
  *
  * Reference scope: nothing here maps to
  * /root/reference/SCD_script.txt — these extend the crawl-ingest and
  * text-quality families the north star adds on top.
  */
object Round17Queries extends QueryGroup {

  /** rid = doc_id*4 color JPEG 4:4:4 with DRI interval 3; +1 the
    * lossless BMP twin; +2 (%3) the SAME pixels at 4:2:0 with DRI 2;
    * +3 (%5) the GRAYSCALE JPEG with DRI 4 — luma is a constant shift
    * of every sample per image ((256l+C)>>8 = l + (C>>8) exactly), so
    * all four variants dHash-identically iff the decoder resyncs at
    * every RSTn and resets the DC predictors.
    */
  private def driJpegMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.BmpMedia] = {
    import s.implicits._
    import graft.multimodal.{Bmp, Jpeg, Multimodal}
    Tables(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 10 === 6).as[Long]
      .flatMap { id =>
        val base = Media.colorPlantImage(id, altCell = false)
        val j444 = Jpeg.encodeColor(base, subsample = false,
          restartInterval = 3)
        val bmp = Bmp.encode(base)
        Seq(Multimodal.BmpMedia(id * 4, j444, j444.length),
          Multimodal.BmpMedia(id * 4 + 1, bmp, bmp.length)) ++
          (if (id % 3 == 0) {
            val j420 = Jpeg.encodeColor(base, subsample = true,
              restartInterval = 2)
            Seq(Multimodal.BmpMedia(id * 4 + 2, j420, j420.length))
          } else Nil) ++
          (if (id % 5 == 0) {
            val jg = Jpeg.encode(base, restartInterval = 4)
            Seq(Multimodal.BmpMedia(id * 4 + 3, jg, jg.length))
          } else Nil)
      }
  }

  /** rid = doc_id*4 PROGRESSIVE color 4:4:4; +1 the lossless BMP
    * twin; +2 (%3) the PROGRESSIVE grayscale; +3 (%5) the BASELINE
    * 4:4:4 of the same pixels — every variant must dHash-identically,
    * which requires the multi-scan coefficient accumulation (EOB
    * runs, per-scan tables, marker realignment) to reconstruct the
    * exact coefficients the one-scan baseline stream carries.
    */
  private def progressiveJpegMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.BmpMedia] = {
    import s.implicits._
    import graft.multimodal.{Bmp, Jpeg, Multimodal}
    Tables(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 10 === 7).as[Long]
      .flatMap { id =>
        val base = Media.colorPlantImage(id, altCell = false)
        val prog = Jpeg.encodeProgressive(base, color = true)
        val bmp = Bmp.encode(base)
        Seq(Multimodal.BmpMedia(id * 4, prog, prog.length),
          Multimodal.BmpMedia(id * 4 + 1, bmp, bmp.length)) ++
          (if (id % 3 == 0) {
            val pg = Jpeg.encodeProgressive(base, color = false)
            Seq(Multimodal.BmpMedia(id * 4 + 2, pg, pg.length))
          } else Nil) ++
          (if (id % 5 == 0) {
            val jb = Jpeg.encodeColor(base, subsample = false)
            Seq(Multimodal.BmpMedia(id * 4 + 3, jb, jb.length))
          } else Nil)
      }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SUCCESSIVE-APPROXIMATION progressive JPEG (the full libjpeg
    // script: coarse DC at Al=1 + AC bands at Al=2, then AC
    // refinements at Al=1 and Al=0 — correction bits, EOB runs with
    // buffered corrections — and the DC refinement bit): SA payloads
    // hash IDENTICALLY to BMP twins and spectral-selection siblings,
    // true only if every refinement bit lands (a missed correction
    // shifts coefficients and corrupts blocks downstream).
    "q288_jpeg_sa" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      import graft.multimodal.{Bmp, Jpeg, Multimodal}
      val media = Tables(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 10 === 8).as[Long]
        .flatMap { id =>
          val base = Media.colorPlantImage(id, altCell = false)
          val sa = Jpeg.encodeProgressive(base, color = true, sa = true)
          val bmp = Bmp.encode(base)
          Seq(Multimodal.BmpMedia(id * 4, sa, sa.length),
            Multimodal.BmpMedia(id * 4 + 1, bmp, bmp.length)) ++
            (if (id % 3 == 0) {
              val g = Jpeg.encodeProgressive(base, color = false,
                sa = true)
              Seq(Multimodal.BmpMedia(id * 4 + 2, g, g.length))
            } else Nil) ++
            (if (id % 5 == 0) {
              val sp2 = Jpeg.encodeProgressive(base, color = true)
              Seq(Multimodal.BmpMedia(id * 4 + 3, sp2, sp2.length))
            } else Nil)
        }
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(media),
          "id", "dhash", maxHamming = 6)
        .orderBy(col("id"))
    }),

    // PROGRESSIVE JPEG (SOF2, spectral selection): real multi-scan
    // payloads — interleaved DC scan + per-component AC bands with
    // EOB-run coding — flow through the magic-sniffed
    // dHash/banded-hamming/CC machinery and hash IDENTICALLY to their
    // lossless BMP twins and their BASELINE JPEG siblings: true only
    // if every scan's coefficients land in the right blocks and the
    // accumulated spectrum equals the one-scan stream's.
    "q287_jpeg_progressive" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(
            progressiveJpegMedia(s, dir)),
          "id", "dhash", maxHamming = 6)
        .orderBy(col("id"))
    }),

    // ARBITRARY-DEPTH sitemap tree with a planted CYCLE: per host the
    // root index names a0/a1/a2; a1 is itself an index (b0, b1); b1
    // is a THIRD-level index naming c0, a BACK-EDGE to a1 (the
    // cycle — expands exactly once via the visited guard), and a
    // never-fetched child (contributes nothing). Leaves shard the
    // host's URL inventory by div-20 coins; the walk must recover
    // every doc exactly once with its lastmod. The oracle replays the
    // SAME level-unrolled walk including the cycle guard.
    "q281_sitemap_tree" -> ((s, dir) => {
      import graft.graph.WebGraph
      import s.implicits._
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val t = col("doc_id")
      val host = Crawl.docHost
      val day = (t * 7) % 28 + 1
      val dstr = concat(lit("2025-01-"), lpad(day.cast("string"), 2, "0"))
      val rows = docs.select(host.as("host"),
        (expr("doc_id div 20") % 9).as("shard"),
        concat(lit("<url><loc>"), urlOf(t), lit("</loc><lastmod>"),
          dstr, lit("</lastmod></url>")).as("e"))
      def smUrl(h: Column, name: String): Column =
        concat(lit("http://"), h, lit(s"/sm/$name"))
      def ref(h: Column, name: String): Column =
        concat(lit("<sitemap><loc>"), smUrl(h, name),
          lit("</loc></sitemap>"))
      def leaf(name: String, shards: Seq[Int]): DataFrame =
        rows.filter(col("shard").isin(shards.map(_.toLong): _*))
          .groupBy(col("host"))
          .agg(concat_ws("", collect_list(col("e"))).as("xml"))
          .select(smUrl(col("host"), name).as("url"), col("xml"))
      val hosts = (0 until 20).map(k => s"d$k.example.com").toDF("host")
      val idx = hosts.select(smUrl(col("host"), "a1").as("url"),
          concat(ref(col("host"), "b0"), ref(col("host"), "b1"))
            .as("xml"))
        .unionByName(hosts.select(smUrl(col("host"), "b1").as("url"),
          concat(ref(col("host"), "c0"), ref(col("host"), "a1"),
            ref(col("host"), "missing")).as("xml")))
      val fetched = leaf("a0", Seq(0, 1, 2))
        .unionByName(leaf("a2", Seq(3, 4)))
        .unionByName(leaf("b0", Seq(5, 6)))
        .unionByName(leaf("c0", Seq(7, 8)))
        .unionByName(idx)
      val roots = hosts.select(col("host"),
        concat(ref(col("host"), "a0"), ref(col("host"), "a1"),
          ref(col("host"), "a2")).as("xml"))
      val inv = WebGraph.parseSitemapsRecursive(roots, "host", "xml",
        fetched, "url", "xml", maxDepth = 8)
      val expectLm = concat(lit("2025-01-"),
        lpad(((col("doc_id") * 7) % 28 + 1).cast("string"), 2, "0"))
      inv.select(regexp_extract(col("url"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"), col("url"), col("lastmod"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_distinct"),
          sum(when(col("lastmod") === expectLm, 1).otherwise(0))
            .cast("long").as("n_lastmod_ok"))
        .orderBy(col("dom"))
    }),

    // JPEG restart markers: real DRI-encoded payloads (4:4:4 at
    // interval 3, 4:2:0 at 2, grayscale at 4 — the RSTn modulo cycle
    // wraps in every stream) flow through the magic-sniffed
    // dHash/banded-hamming/CC machinery and hash IDENTICALLY to their
    // lossless BMP twins — which can only happen if the decoder
    // consumes every RSTn at its boundary and resets the DC
    // predictors (a missed reset corrupts every block after the first
    // restart).
    "q283_jpeg_dri" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(driJpegMedia(s, dir)),
          "id", "dhash", maxHamming = 6)
        .orderBy(col("id"))
    }),

    // the trained language gate INSIDE the pipeline (stage 1a2,
    // replacing the marker-regex keep test): the ciphered half of the
    // corpus scores quality exactly 0.7 (length + punctuation pass,
    // stopwords gone) so the quality gate KEEPS it — only the trained
    // gate separates it. Oracle = the q46 chain with the regex filter
    // swapped for the classifier replay; the gate is load-bearing
    // (survivors halve) and the batch door proves one wiring point
    // covers the composition.
    "q285_langid_pipeline" -> ((s, dir) => {
      import graft.pipeline.CorpusPipeline
      val (corpus, model) = Text.cipheredCorpus(s, dir)
      CorpusPipeline.clean(corpus, "doc_id", "text",
          CorpusPipeline.Config(langGate =
            Some(CorpusPipeline.LangGate(model, Seq("en")))))
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // the trained gate through the STREAMING front door: the model is
    // fitted ONCE before the stream starts (frozen -- the q156/q159
    // deployment shape), then the mixed corpus lands as a 3-file
    // staging directory and every micro-batch runs quality gates ->
    // trained language gate -> fold into the incremental LSH index in
    // one foreachBatch frame. Classification is per-doc against the
    // frozen broadcast model, so streamed == one-shot and the oracle
    // is q285's SQL VERBATIM while the file batching differs.
    "q286_stream_langid" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.pipeline.CorpusPipeline
      val (corpus, model) = Text.cipheredCorpus(s, dir)
      val cfg = CorpusPipeline.Config(langGate =
        Some(CorpusPipeline.LangGate(model, Seq("en"))))
      val stage = Files.createTempDirectory("graft-q286-landing").toString
      val cp = Files.createTempDirectory("graft-q286-cp").toString
      corpus.repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = graft.streaming.StreamFold.files(s, stage)
      val (_, gated, pairs) = graft.streaming.StreamingCorpus.ingest(
        stream, "doc_id", "text", cp, cfg)
      Streams.rmTree(stage); Streams.rmTree(cp)
      graft.streaming.StreamingCorpus
        .resolveSurvivors(gated, pairs, "doc_id", "text", cfg)
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // ETag / If-None-Match — the OTHER half of HTTP revalidation:
    // q275's scheduler (sitemap freshness delta → wildcard robots →
    // politeness slots) drives the fetches, but the 304 decision is
    // now CONTENT-ADDRESSED — the server compares the client's
    // If-None-Match validator (the stored copy's md5) against the
    // current entity's etag. The spurious-lastmod class (id%3==0 ∧
    // id%7==2: sitemap bumped, content identical) is scheduled
    // BECAUSE its lastmod lies, and saved by the etag — under
    // If-Modified-Since alone every scheduled stored URL would
    // re-transfer its body. 200s and 304s both carry the current
    // ETag header; n_etag_clean proves the transported validator
    // equals the truth's md5 for every scheduled URL.
    "q279_etag_fetch" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val inv = Crawl.recrawlInventory(docs)
      // crawl state: stored body + its lastmod + its VALIDATOR (etag)
      val state = Crawl.recrawlKnown(docs)
        .select(urlOf(t).as("url"), col("text").as("stored"),
          Crawl.storedLastmod.as("stored_lastmod"),
          md5(col("text")).as("stored_etag"))
      val cand = Crawl.recrawlCandidates(inv, state.select(col("url"),
          col("stored_lastmod")))
      val sched = Crawl.recrawlScheduled(Crawl.recrawlAllowed(s, cand))
        .select(col("url"))
      val fetchSet = sched
        .select(col("url"), regexp_extract(col("url"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"))
        .join(docs, Seq("doc_id"))
        .join(state.select(col("url"), col("stored_etag")),
          Seq("url"), "left")
      val changed = col("doc_id") % 3 === 0 && col("doc_id") % 7 =!= 2
      val cur = when(changed, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))
      val curEtag = md5(cur)
      // the server's 304 test IS the validator compare (NULL validator
      // — never stored — falls through to 200)
      val pages = fetchSet.select(col("doc_id"), col("url").as("uri"),
        when(col("stored_etag") === curEtag,
          Warc.httpResponseEtag(lit(304), lit("text/html"), curEtag,
            lit("")))
          .otherwise(Warc.httpResponseEtag(lit(200), lit("text/html"),
            curEtag, cur)).as("payload"))
      val land = Files.createTempDirectory("graft-q279-warc").toString
      Warc.writeSegments(pages.repartition(4, col("doc_id")),
        "uri", "payload", land, gzip = true)
      val back = Warc.readRecords(s, land)
        .select(col("uri").as("url"),
          regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          Warc.httpStatus(col("body")).as("st"),
          Warc.httpEtag(col("body")).as("etag"),
          Warc.httpBody(col("body")).as("fetched"))
      val truth = when(changed, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))
      val eff = back
        .join(state.select(col("url"), col("stored")), Seq("url"), "left")
        .join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("st"),
          (when(col("st") === 200, col("fetched"))
            .otherwise(col("stored")) === truth).as("cm"),
          (col("etag") === md5(truth)).as("em"),
          length(col("fetched")).cast("long").as("len_f"),
          length(coalesce(col("stored"), lit(""))).cast("long")
            .as("len_s"))
      val res = eff.groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_scheduled"),
          sum(when(col("st") === 200, 1).otherwise(0)).cast("long")
            .as("n_200"),
          // every 304 here is a spurious-lastmod save: scheduled
          // stored URLs all have lastmod > stored, so IMS alone would
          // have re-fetched every one of these bodies
          sum(when(col("st") === 304, 1).otherwise(0)).cast("long")
            .as("n_304_etag"),
          sum(when(col("st") === 200, col("len_f")).otherwise(0L))
            .cast("long").as("bytes_fetched"),
          sum(when(col("st") === 304, col("len_s")).otherwise(0L))
            .cast("long").as("bytes_saved"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(when(col("em"), 1).otherwise(0)).cast("long")
            .as("n_etag_clean"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // Content-Encoding: deflate — RFC 9110 says zlib-wrapped, the
    // wild tail sends RAW deflate under the SAME label; the reader
    // does what browsers do (zlib first, raw fallback) through ONE
    // expression. Four transport classes (identity / gzip / zlib
    // deflate / raw deflate — the two deflate framings share the
    // 'deflate' label), accented text under utf-8 so the charset
    // decode is real; clean match proves byte-exactness through
    // compress → land → read → inflate → decode for every framing.
    "q280_deflate_bodies" -> ((s, dir) => {
      import graft.sources.Warc
      import graft.functions.Gzip
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val tr = translate(col("text"), "ae", "éä")
      val utf8 = encode(tr, "UTF-8")
      val k4 = t % 4
      val enc = when(k4 === 1, lit("gzip"))
        .when(k4 === 2 || k4 === 3, lit("deflate"))
        .otherwise(lit(""))
      val body = when(k4 === 1, Gzip.deflateCol(utf8))
        .when(k4 === 2, Gzip.deflateZlibCol(utf8))
        .when(k4 === 3, Gzip.deflateRawCol(utf8))
        .otherwise(utf8)
      val pages = docs.select(col("doc_id"),
        urlOf(t).as("uri"),
        Warc.httpResponseBytes(lit(200), lit("text/html"),
          lit("utf-8"), enc, body).as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q280")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val ce = Warc.httpContentEncoding(col("pt"))
      val parsed = back.select(col("doc_id"), ce.as("enc"),
        Warc.decodeBody(
          when(ce === "gzip", Gzip.inflateCol(col("bb")))
            .when(ce === "deflate", Gzip.inflateDeflateCol(col("bb")))
            .otherwise(col("bb")),
          Warc.httpCharset(col("pt"))).as("decoded"))
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("enc"),
          (col("decoded") === translate(col("text"), "ae", "éä"))
            .as("cm"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("enc") === "gzip", 1).otherwise(0))
            .cast("long").as("n_gzip"),
          sum(when(col("enc") === "deflate", 1).otherwise(0))
            .cast("long").as("n_deflate"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // ALTER TABLE DROP/RENAME COLUMN across the version chain — the
    // schema-evolution verbs q236's ADD left open: seed (with a tag
    // column) → ADD score DEFAULT 7 → RENAME text_len TO len_chars →
    // DROP tag — four atomic versions — then an UPDATE against the
    // POST-alter schema proves the new names are live. The report
    // joins the CURRENT content against the PRE-alter version read by
    // time travel (old_len/old_tag come from a snapshot whose schema
    // still has text_len and tag), so the query only works if every
    // version reads under its own schema.
    "q282_alter_columns" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("text_len"),
          concat(lit("t"), (col("doc_id") % 3).cast("string")).as("tag"))
      Streams.withCatalog(s, "q282") { cat =>
        cat.create("dd", docs.schema)
        cat.overwrite("dd", docs)
        val v0 = cat.currentVersion("dd").get
        graft.scd.CatalogSql.execute(s, cat,
          "ALTER TABLE dd ADD COLUMNS (score BIGINT DEFAULT 7)")
        graft.scd.CatalogSql.execute(s, cat,
          "ALTER TABLE dd RENAME COLUMN text_len TO len_chars")
        graft.scd.CatalogSql.execute(s, cat,
          "ALTER TABLE dd DROP COLUMN tag")
        graft.scd.CatalogSql.execute(s, cat,
          "UPDATE dd SET score = len_chars * 3 WHERE doc_id % 2 = 1")
        val old = cat.tableAsOfVersion("dd", v0)
          .select(col("doc_id"), col("text_len").as("old_len"),
            col("tag").as("old_tag"))
        cat.table("dd").join(old, Seq("doc_id"))
          .select(col("doc_id"), col("len_chars"), col("score"),
            col("old_len"), col("old_tag"))
          .orderBy(col("doc_id"))
      }
    }),

    // TRAINED language ID (fit/apply char-trigram classifier, exact
    // integers): half the corpus is substitution-ciphered — a
    // "language" the marker regex cannot name (its five stopwords per
    // language are destroyed; stray cipher artifacts like 'a'←'y'
    // even claim 'en') — 10% seed docs are labeled by construction,
    // and the trained model separates the two classes where the regex
    // argmax misclassifies. The oracle replays fit AND apply
    // bit-exactly (bitlen-integer costs, div, label tie-break) plus
    // the regex argmax, so both columns are exact counts, not
    // accuracy estimates.
    "q284_trained_langid" -> ((s, dir) => {
      import graft.text.LangClassifier
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val fx = docs.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(Text.cipher(col("text"))).as("text"),
        when(col("doc_id") % 2 === 0, lit("en")).otherwise(lit("xx"))
          .as("lang_true"))
      val seeds = fx.filter(col("doc_id") % 10 === 0 ||
        col("doc_id") % 10 === 5)
      val model = LangClassifier.fit(seeds, "doc_id", "lang_true",
        "text")
      val pred = LangClassifier.classify(fx, "doc_id", "text", model)
      val res = fx
        .join(pred.select(col("doc_id"), col("lang_trained")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang_true"), col("lang_trained"),
          graft.text.TextAnalysis.langId(col("text")).as("lang_regex"))
      res.groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang_true") === col("lang_trained"), 1)
            .otherwise(0)).cast("long").as("n_trained_ok"),
          sum(when(col("lang_true") === col("lang_regex"), 1)
            .otherwise(0)).cast("long").as("n_regex_ok"),
          sum(when(col("lang_true") === "xx" &&
            col("lang_regex") === "en", 1).otherwise(0)).cast("long")
            .as("n_regex_false_en"))
        .orderBy(col("dom"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // the q287 oracle with the %10==8 slice — SA variants share their
    // doc's cells exactly like every other faithful transcode
    "q288_jpeg_sa" ->
      s"""WITH RECURSIVE sjdims AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 8),
         |sjimgs AS (
         |  SELECT doc_id*4 AS rid, doc_id AS id0 FROM sjdims
         |  UNION ALL SELECT doc_id*4+1, doc_id FROM sjdims
         |  UNION ALL SELECT doc_id*4+2, doc_id FROM sjdims WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+3, doc_id FROM sjdims WHERE doc_id % 5 = 0),
         |sjcells AS (
         |  SELECT id0, gy, gx,
         |    30 + (hh % 5) * 40 + ((gx + gy) % 2) * 12 AS gray
         |  FROM (
         |    SELECT doc_id AS id0, gy.g AS gy, gx.g AS gx,
         |      ('0x'||substr(md5('cj:' || doc_id || ':' || gx.g || ':' || gy.g), 1, 15))::BIGINT AS hh
         |    FROM sjdims,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gy,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gx) t),
         |sjdh0 AS (
         |  SELECT l.id0, CAST(SUM(CASE WHEN r.gray > l.gray
         |      THEN 1::BIGINT << (l.gy*7 + l.gx) ELSE 0 END) AS BIGINT)
         |    AS dhash
         |  FROM sjcells l JOIN sjcells r
         |    ON r.id0 = l.id0 AND r.gy = l.gy AND r.gx = l.gx + 1
         |  WHERE l.gx < 7 GROUP BY l.id0),
         |sjdh AS (SELECT i.rid, d.dhash FROM sjimgs i
         |  JOIN sjdh0 d ON d.id0 = i.id0),
         |sjbands AS (
         |  SELECT rid, dhash, bb.band,
         |    (dhash >> (bb.band * 14)) & 16383 AS v
         |  FROM sjdh, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |sjpairs AS (
         |  SELECT a, b FROM (
         |    SELECT DISTINCT x.rid AS a, y.rid AS b,
         |      x.dhash AS ha, y.dhash AS hb
         |    FROM sjbands x JOIN sjbands y
         |      ON x.band = y.band AND x.v = y.v AND x.rid < y.rid) t
         |  WHERE bit_count(xor(ha, hb)) <= 6),
         |${Corpus.ccCompactSql("sj")}
         |SELECT d.rid AS id, d.dhash,
         |  COALESCE(l.clus, d.rid) AS cluster,
         |  (COALESCE(l.clus, d.rid) <> d.rid) AS is_dup
         |FROM sjdh d LEFT JOIN sjlabels l ON l.node = d.rid
         |ORDER BY d.rid""".stripMargin,

    // hashes replay from the cell formula — all four variants of a
    // doc share its cells (the q283 posture; the progressive scripts
    // reconstruct the SAME coefficients, so the same hashes)
    "q287_jpeg_progressive" ->
      s"""WITH RECURSIVE pjdims AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
         |pjimgs AS (
         |  SELECT doc_id*4 AS rid, doc_id AS id0 FROM pjdims
         |  UNION ALL SELECT doc_id*4+1, doc_id FROM pjdims
         |  UNION ALL SELECT doc_id*4+2, doc_id FROM pjdims WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+3, doc_id FROM pjdims WHERE doc_id % 5 = 0),
         |pjcells AS (
         |  SELECT id0, gy, gx,
         |    30 + (hh % 5) * 40 + ((gx + gy) % 2) * 12 AS gray
         |  FROM (
         |    SELECT doc_id AS id0, gy.g AS gy, gx.g AS gx,
         |      ('0x'||substr(md5('cj:' || doc_id || ':' || gx.g || ':' || gy.g), 1, 15))::BIGINT AS hh
         |    FROM pjdims,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gy,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gx) t),
         |pjdh0 AS (
         |  SELECT l.id0, CAST(SUM(CASE WHEN r.gray > l.gray
         |      THEN 1::BIGINT << (l.gy*7 + l.gx) ELSE 0 END) AS BIGINT)
         |    AS dhash
         |  FROM pjcells l JOIN pjcells r
         |    ON r.id0 = l.id0 AND r.gy = l.gy AND r.gx = l.gx + 1
         |  WHERE l.gx < 7 GROUP BY l.id0),
         |pjdh AS (SELECT i.rid, d.dhash FROM pjimgs i
         |  JOIN pjdh0 d ON d.id0 = i.id0),
         |pjbands AS (
         |  SELECT rid, dhash, bb.band,
         |    (dhash >> (bb.band * 14)) & 16383 AS v
         |  FROM pjdh, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |pjpairs AS (
         |  SELECT a, b FROM (
         |    SELECT DISTINCT x.rid AS a, y.rid AS b,
         |      x.dhash AS ha, y.dhash AS hb
         |    FROM pjbands x JOIN pjbands y
         |      ON x.band = y.band AND x.v = y.v AND x.rid < y.rid) t
         |  WHERE bit_count(xor(ha, hb)) <= 6),
         |${Corpus.ccCompactSql("pj")}
         |SELECT d.rid AS id, d.dhash,
         |  COALESCE(l.clus, d.rid) AS cluster,
         |  (COALESCE(l.clus, d.rid) <> d.rid) AS is_dup
         |FROM pjdh d LEFT JOIN pjlabels l ON l.node = d.rid
         |ORDER BY d.rid""".stripMargin,

    // the SAME level-unrolled walk (3 expansion levels, visited-guard
    // anti-joins) over the SAME fixture XML — the cycle back-edge and
    // the unfetched child drop on both sides identically
    "q281_sitemap_tree" -> {
      import graft.graph.WebGraph
      val lm = "'2025-01-' || lpad(CAST((doc_id * 7) % 28 + 1 AS VARCHAR), 2, '0')"
      def leafSql(name: String, shards: String) =
        s"""st$name AS (SELECT 'http://' || host || '/sm/$name' AS url,
           |    string_agg(e, '') AS xml
           |  FROM strows WHERE shard IN ($shards) GROUP BY host)""".stripMargin
      s"""WITH sthosts AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |strows AS (SELECT
         |    ${Crawl.docHostSql} AS host,
         |    (doc_id // 20) % 9 AS shard,
         |    '<url><loc>' || ${urlSqlOf("doc_id")} || '</loc><lastmod>' ||
         |    $lm ||
         |    '</lastmod></url>' AS e
         |  FROM documents),
         |${leafSql("a0", "0, 1, 2")},
         |${leafSql("a2", "3, 4")},
         |${leafSql("b0", "5, 6")},
         |${leafSql("c0", "7, 8")},
         |stidx AS (
         |  SELECT 'http://' || host || '/sm/a1' AS url,
         |    '<sitemap><loc>http://' || host || '/sm/b0</loc></sitemap>' ||
         |    '<sitemap><loc>http://' || host || '/sm/b1</loc></sitemap>' AS xml
         |  FROM sthosts
         |  UNION ALL
         |  SELECT 'http://' || host || '/sm/b1' AS url,
         |    '<sitemap><loc>http://' || host || '/sm/c0</loc></sitemap>' ||
         |    '<sitemap><loc>http://' || host || '/sm/a1</loc></sitemap>' ||
         |    '<sitemap><loc>http://' || host || '/sm/missing</loc></sitemap>' AS xml
         |  FROM sthosts),
         |stf AS (SELECT url, xml FROM sta0
         |  UNION ALL SELECT url, xml FROM sta2
         |  UNION ALL SELECT url, xml FROM stb0
         |  UNION ALL SELECT url, xml FROM stc0
         |  UNION ALL SELECT url, xml FROM stidx),
         |stroots AS (SELECT host,
         |    '<sitemap><loc>http://' || host || '/sm/a0</loc></sitemap>' ||
         |    '<sitemap><loc>http://' || host || '/sm/a1</loc></sitemap>' ||
         |    '<sitemap><loc>http://' || host || '/sm/a2</loc></sitemap>' AS xml
         |  FROM sthosts),
         |${WebGraph.parseSitemapsRecursiveCtes("stroots", "host", "xml",
             "stf", "url", "xml", 3, "pr")},
         |stout AS (SELECT
         |    CAST(regexp_extract(url, '/p/([0-9]+)$$', 1) AS BIGINT) AS doc_id,
         |    url, lastmod
         |  FROM prmaps)
         |SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(count(DISTINCT url) AS BIGINT) AS n_distinct,
         |  CAST(SUM(CASE WHEN lastmod = '2025-01-' ||
         |    lpad(CAST((doc_id * 7) % 28 + 1 AS VARCHAR), 2, '0')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_lastmod_ok
         |FROM stout GROUP BY 1 ORDER BY dom""".stripMargin
    },

    // hashes replay from the cell formula — ALL variants of a doc
    // share its cells (uniform casts and the luma shift cancel in
    // the sample comparisons; margins absorb the lossy roundtrip), so
    // a doc's variants form one cluster labeled by its min rid
    "q283_jpeg_dri" ->
      s"""WITH RECURSIVE djdims AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 6),
         |djimgs AS (
         |  SELECT doc_id*4 AS rid, doc_id AS id0 FROM djdims
         |  UNION ALL SELECT doc_id*4+1, doc_id FROM djdims
         |  UNION ALL SELECT doc_id*4+2, doc_id FROM djdims WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+3, doc_id FROM djdims WHERE doc_id % 5 = 0),
         |djcells AS (
         |  SELECT id0, gy, gx,
         |    30 + (hh % 5) * 40 + ((gx + gy) % 2) * 12 AS gray
         |  FROM (
         |    SELECT doc_id AS id0, gy.g AS gy, gx.g AS gx,
         |      ('0x'||substr(md5('cj:' || doc_id || ':' || gx.g || ':' || gy.g), 1, 15))::BIGINT AS hh
         |    FROM djdims,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gy,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gx) t),
         |djdh0 AS (
         |  SELECT l.id0, CAST(SUM(CASE WHEN r.gray > l.gray
         |      THEN 1::BIGINT << (l.gy*7 + l.gx) ELSE 0 END) AS BIGINT)
         |    AS dhash
         |  FROM djcells l JOIN djcells r
         |    ON r.id0 = l.id0 AND r.gy = l.gy AND r.gx = l.gx + 1
         |  WHERE l.gx < 7 GROUP BY l.id0),
         |djdh AS (SELECT i.rid, d.dhash FROM djimgs i
         |  JOIN djdh0 d ON d.id0 = i.id0),
         |djbands AS (
         |  SELECT rid, dhash, bb.band,
         |    (dhash >> (bb.band * 14)) & 16383 AS v
         |  FROM djdh, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |djpairs AS (
         |  SELECT a, b FROM (
         |    SELECT DISTINCT x.rid AS a, y.rid AS b,
         |      x.dhash AS ha, y.dhash AS hb
         |    FROM djbands x JOIN djbands y
         |      ON x.band = y.band AND x.v = y.v AND x.rid < y.rid) t
         |  WHERE bit_count(xor(ha, hb)) <= 6),
         |${Corpus.ccCompactSql("dj")}
         |SELECT d.rid AS id, d.dhash,
         |  COALESCE(l.clus, d.rid) AS cluster,
         |  (COALESCE(l.clus, d.rid) <> d.rid) AS is_dup
         |FROM djdh d LEFT JOIN djlabels l ON l.node = d.rid
         |ORDER BY d.rid""".stripMargin,

    // the q46 chain with the marker-regex language filter swapped for
    // the trained-classifier replay (quality gate unchanged, the
    // ciphered half passes it by construction and only the classifier
    // removes it)
    "q285_langid_pipeline" -> LangPipelineSql,

    // streamed fold == one-shot: the door replays q285 verbatim
    "q286_stream_langid" -> LangPipelineSql,

    // q275's scheduler chain replays verbatim; the conditional tail is
    // id arithmetic — every scheduled stored URL is lastmod-bumped, so
    // the 304 count is exactly the spurious-lastmod class the ETag
    // saves; validators are md5s both engines compute
    "q279_etag_fetch" -> {
      import graft.graph.WebGraph
      s"""WITH ${Crawl.recrawlInventorySql("ef", "ef2")},
         |efcand AS (SELECT i.url, i.lastmod,
         |    CAST(regexp_extract(i.url, '/p/([0-9]+)$$', 1) AS BIGINT) % 20 AS dom
         |  FROM ef2maps i LEFT JOIN efstate s ON s.url = i.url
         |  WHERE s.stored_lastmod IS NULL OR i.lastmod > s.stored_lastmod),
         |efrob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    'User-agent: *' || chr(10) || 'Disallow: /*9$$' || chr(10) ||
         |    'Disallow: /p/2' || chr(10) ||
         |    'Crawl-delay: ' || CAST((k % 4) * 5 + 5 AS VARCHAR) AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |${WebGraph.parseRobotsForCtes("efrob", "host", "txt",
             "graftbot", "ep")},
         |efdist AS (SELECT DISTINCT url FROM efcand),
         |${WebGraph.urlDecisionsCtes("efdist", "eprules", "eq")},
         |efallow AS (SELECT c.url, c.lastmod, c.dom,
         |    'd' || CAST(c.dom AS VARCHAR) || '.example.com' AS host
         |  FROM efcand c JOIN eqdec d ON d.url = c.url
         |  WHERE d.action = 'allow'),
         |efslot AS (SELECT a.url, a.lastmod, a.dom, a.host,
         |    GREATEST(1, 60 // coalesce(dl.delay, 60)) AS slots
         |  FROM efallow a LEFT JOIN epdelay dl ON dl.host = a.host),
         |efrk AS (SELECT url, dom, slots,
         |    row_number() OVER (PARTITION BY host
         |      ORDER BY lastmod DESC, url) AS rk
         |  FROM efslot),
         |efsched AS (SELECT url, dom FROM efrk WHERE rk <= slots),
         |efx AS (SELECT f.dom, d.text,
         |    (d.doc_id % 3 = 0 AND d.doc_id % 7 <> 2) AS chg,
         |    ((d.doc_id // 20) % 5 <> 4) AS instate
         |  FROM (SELECT dom,
         |      CAST(regexp_extract(url, '/p/([0-9]+)$$', 1) AS BIGINT) AS doc_id
         |    FROM efsched) f
         |  JOIN documents d ON d.doc_id = f.doc_id)
         |SELECT dom,
         |  CAST(count(*) AS BIGINT) AS n_scheduled,
         |  CAST(SUM(CASE WHEN NOT instate OR chg THEN 1 ELSE 0 END) AS BIGINT) AS n_200,
         |  CAST(SUM(CASE WHEN instate AND NOT chg THEN 1 ELSE 0 END) AS BIGINT) AS n_304_etag,
         |  CAST(SUM(CASE WHEN NOT instate OR chg THEN length(text) + (CASE WHEN chg THEN 3 ELSE 0 END) ELSE 0 END) AS BIGINT) AS bytes_fetched,
         |  CAST(SUM(CASE WHEN instate AND NOT chg THEN length(text) ELSE 0 END) AS BIGINT) AS bytes_saved,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(count(*) AS BIGINT) AS n_etag_clean
         |FROM efx GROUP BY dom ORDER BY dom""".stripMargin
    },

    // inflate ∘ deflate is the identity under BOTH framings of the
    // 'deflate' label; the oracle predicts a clean sweep and the
    // class counts from id arithmetic alone (the q261 posture)
    "q280_deflate_bodies" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gzip,
         |  CAST(SUM(CASE WHEN doc_id % 4 IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_deflate,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    // the version chain is deterministic: DEFAULT 7 fills every row,
    // the UPDATE overwrites the odd half under the POST-rename name,
    // and the pre-alter snapshot still serves text_len/tag
    "q282_alter_columns" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS len_chars,
         |  CASE WHEN doc_id % 2 = 1 THEN CAST(length(text) * 3 AS BIGINT)
         |       ELSE CAST(7 AS BIGINT) END AS score,
         |  CAST(length(text) AS BIGINT) AS old_len,
         |  't' || CAST(doc_id % 3 AS VARCHAR) AS old_tag
         |FROM documents ORDER BY doc_id""".stripMargin,

    // fit + apply replay bit-exactly (integer costs), the regex argmax
    // replays from the marker-hit columns — both sides are exact
    "q284_trained_langid" -> {
      import Corpus.{langCaseSql, langHitColsSql}
      s"""WITH lgfx AS (SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN text ELSE ${Text.CipherSql} END AS text,
         |    CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'xx' END AS lang_true
         |  FROM documents),
         |lgseeds AS (SELECT doc_id AS id, lang_true AS label, text
         |  FROM lgfx WHERE doc_id % 10 IN (0, 5)),
         |lgdocs AS (SELECT doc_id AS id, text FROM lgfx),
         |${graft.text.LangClassifier.classifyCtes("lgseeds", "lgdocs",
             "lc")},
         |lgrx AS (SELECT doc_id, lang_true,
         |$langHitColsSql
         |  FROM lgfx),
         |lgr2 AS (SELECT doc_id, lang_true,
         |  $langCaseSql AS lang_regex
         |  FROM lgrx)
         |SELECT r.doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN r.lang_true = p.lang_trained THEN 1 ELSE 0 END) AS BIGINT) AS n_trained_ok,
         |  CAST(SUM(CASE WHEN r.lang_true = r.lang_regex THEN 1 ELSE 0 END) AS BIGINT) AS n_regex_ok,
         |  CAST(SUM(CASE WHEN r.lang_true = 'xx' AND r.lang_regex = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_regex_false_en
         |FROM lgr2 r JOIN lcpred p ON p.id = r.doc_id
         |GROUP BY 1 ORDER BY dom""".stripMargin
    },
  )

  /** Shared q285/q286 oracle: the q46 chain with the trained-gate
    * replay in place of the regex language filter.
    */
  private lazy val LangPipelineSql: String =
    s"""WITH RECURSIVE ${Text.trainedLangGateSql("= 'en'")},
       |${Corpus.cleanSurvivorsSql("g2")}""".stripMargin
}
