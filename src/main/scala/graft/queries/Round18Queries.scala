package graft.queries

import graft.queries.fixtures.Crawl.urlOf
import graft.queries.fixtures.{Corpus, Crawl, Media, Streams, Text}
import graft.sources.Tables
import graft.streaming.StreamFold
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-18: transport realism, continued — CJK / legacy multibyte
  * charset decode (q289): Shift_JIS, EUC-JP, GBK, Big5, EUC-KR under
  * their WHATWG label sets, the largest transport hole a non-Latin
  * crawl hits.
  *
  * Reference scope: nothing here maps to
  * /root/reference/SCD_script.txt — these extend the crawl-ingest
  * family the north star adds on top.
  */
object Round18Queries extends QueryGroup {

  /** rid = doc_id*4 color JPEG 4:2:2; +1 BMP of the SAME pixels (the
    * cross-format exact twin, every doc); +2 the SAME pixels 4:2:2
    * with restart markers (%3 — DRI composes with the new layout);
    * +3 a 4:2:2 with cell (3,3) re-derived (%5 — a ≤2-bit near-dup).
    */
  private def jpeg422Media(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.BmpMedia] = {
    import s.implicits._
    import graft.multimodal.{Bmp, Jpeg, Multimodal}
    Tables(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 10 === 4).as[Long]
      .flatMap { id =>
        val base = Media.plantImage422(id, altCell = false)
        val j422 = Jpeg.encodeColor422(base)
        val bmp = Bmp.encode(base)
        Seq(Multimodal.BmpMedia(id * 4, j422, j422.length),
          Multimodal.BmpMedia(id * 4 + 1, bmp, bmp.length)) ++
          (if (id % 3 == 0) {
            val jd = Jpeg.encodeColor422(base, restartInterval = 3)
            Seq(Multimodal.BmpMedia(id * 4 + 2, jd, jd.length))
          } else Nil) ++
          (if (id % 5 == 0) {
            val j = Jpeg.encodeColor422(
              Media.plantImage422(id, altCell = true))
            Seq(Multimodal.BmpMedia(id * 4 + 3, j, j.length))
          } else Nil)
      }
  }

  /** q289's raw fixture: the corpus as legacy-codec body BYTES — built
    * through the REAL JDK charsets (Spark's encode() covers only the
    * unicode/latin family; codec-boundary work, the colorJpegMedia
    * posture), labels rotating through the WHATWG aliases.
    */
  private def cjkBodies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        val cls = ((id / 20) % 5).toInt
        val (_, jdk, plant, aliases) = Text.CjkClasses(cls)
        val alias = aliases(((id / 100) % aliases.length).toInt)
        val planted = text.map(c =>
          if (c == 'a') plant.charAt(0)
          else if (c == 'e') plant.charAt(1) else c)
        val bytes = planted.getBytes(java.nio.charset.Charset.forName(jdk))
        (id, alias, bytes)
      }.toDF("doc_id", "label", "body")
  }

  /** [[cjkBodies]] wrapped as plain HTTP payloads. */
  private def cjkPages(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    cjkBodies(s, dir).select(col("doc_id"),
      urlOf(col("doc_id")).as("uri"),
      Warc.httpResponseBytes(lit(200), lit("text/html"), col("label"),
        lit(""), col("body")).as("payload"))
  }

  /** q289's per-dom report partials over a (doc_id, payload) relation:
    * every column is a count or sum of per-record verdicts, so
    * partials ADD across doc-disjoint batches — the q268 streaming
    * contract.
    */
  private def cjkPartials(batch: DataFrame, docs: DataFrame): DataFrame = {
    import graft.sources.Warc
    val withPt = batch.select(col("doc_id"),
      Warc.payloadText(col("payload")).as("pt"),
      Warc.bodyBytes(col("payload")).as("bb"))
    val hdr = Warc.httpCharset(col("pt"))
    val parsed = withPt.select(col("doc_id"),
      Warc.normalizeCharset(hdr).as("ncs"),
      Warc.decodeBody(col("bb"), hdr).as("decoded"),
      graft.functions.Gzip.utf8LenientCol(col("bb")).as("u8"))
    val cls = (expr("doc_id div 20") % 5).cast("int")
    def perClass(f: (String, String) => Column): Column =
      (1 until Text.CjkClasses.length).foldLeft(
        when(cls === 0, f(Text.CjkClasses(0)._1, Text.CjkClasses(0)._3))) {
          (acc, i) => acc.when(cls === i,
            f(Text.CjkClasses(i)._1, Text.CjkClasses(i)._3))
        }
    val expected = perClass((_, plant) =>
      translate(col("text"), "ae", plant))
    parsed.join(docs, Seq("doc_id"))
      .select(col("doc_id"), cls.as("cls"),
        (col("ncs") === perClass((canon, _) => lit(canon))).as("nm"),
        (col("decoded") === expected).as("cm"),
        (col("u8") === expected).as("u8m"),
        perClass((_, plant) => (length(col("decoded")) -
          length(translate(col("decoded"), plant, "")))
          .cast("long")).as("plantn"),
        length(col("decoded")).cast("long").as("nch"))
      .groupBy((col("doc_id") % 20).as("dom"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("nm"), 1).otherwise(0)).cast("long").as("n_norm"),
        sum(when(col("cm"), 1).otherwise(0)).cast("long").as("n_clean"),
        sum(when(col("cm") && col("cls") === 0, 1).otherwise(0))
          .cast("long").as("n_clean_sjis"),
        sum(when(col("cm") && col("cls") === 1, 1).otherwise(0))
          .cast("long").as("n_clean_eucjp"),
        sum(when(col("cm") && col("cls") === 2, 1).otherwise(0))
          .cast("long").as("n_clean_gbk"),
        sum(when(col("cm") && col("cls") === 3, 1).otherwise(0))
          .cast("long").as("n_clean_big5"),
        sum(when(col("cm") && col("cls") === 4, 1).otherwise(0))
          .cast("long").as("n_clean_euckr"),
        sum(when(col("u8m"), 1).otherwise(0)).cast("long")
          .as("n_utf8_clean"),
        sum(col("plantn")).as("sum_plant"),
        sum(col("nch")).as("sum_chars"))
  }

  private val CjkCols = Seq("n_records", "n_norm", "n_clean",
    "n_clean_sjis", "n_clean_eucjp", "n_clean_gbk", "n_clean_big5",
    "n_clean_euckr", "n_utf8_clean", "sum_plant", "sum_chars")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // 4:2:2 JPEG perceptual dedup: horizontal-only chroma decimation
    // (the common camera/scanner layout) flows through the
    // magic-sniffed dHash/banded-hamming/CC machinery — the 4:2:2
    // stream, its DRI re-encode, and the lossless BMP twin hash
    // IDENTICALLY; the alt-cell 4:2:2 lands in the same cluster at
    // hamming ≤ 2.
    "q290_jpeg_422" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(jpeg422Media(s, dir)),
          "id", "dhash", maxHamming = 6)
        .orderBy(col("id"))
    }),

    // CTAS + INSERT INTO … SELECT front door: a table is created FROM
    // a query (catalog-first resolution — the second INSERT reads a
    // CATALOG table in its FROM) and grown by two appends, one
    // positional and one through a named column list; every statement
    // is an atomic catalog version, so the report reads all three
    // boundaries by time travel — the final content reproduces the
    // directly built table exactly (n_exact == n_rows everywhere).
    "q292_ctas_insert" -> ((s, dir) => {
      import java.nio.file.Files
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      docs.createOrReplaceTempView("q292docs")
      val root = Files.createTempDirectory("graft-q292").toString
      val cat = new graft.catalog.ParquetCatalog(s, root)
      graft.scd.CtasSql.execute(s, cat,
        "CREATE TABLE d18 AS SELECT doc_id, text FROM q292docs " +
          "WHERE doc_id % 3 = 0")
      // a catalog STAGING table feeds the second statement's FROM:
      // the door must resolve catalog names inside the query
      graft.scd.CtasSql.execute(s, cat,
        "CREATE TABLE staging18 AS SELECT doc_id, text FROM q292docs " +
          "WHERE doc_id % 3 = 1")
      graft.scd.CtasSql.execute(s, cat,
        "INSERT INTO d18 SELECT doc_id, text FROM staging18")
      graft.scd.CtasSql.execute(s, cat,
        "INSERT INTO d18 (text, doc_id) SELECT text, doc_id " +
          "FROM q292docs WHERE doc_id % 3 = 2")
      val d2 = docs.select(col("doc_id"), col("text").as("t2"))
      val perVersion = (0 to 2).map { v =>
        cat.tableAsOfVersion("d18", v).join(d2, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("doc_id")).cast("long").as("sum_ids"),
            sum(length(col("text"))).cast("long").as("sum_len"),
            sum(when(col("text") === col("t2"), 1).otherwise(0))
              .cast("long").as("n_exact"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_ids"),
            col("sum_len"), col("n_exact"))
      }.reduce(_.unionByName(_))
      val res = perVersion.orderBy(col("version")).localCheckpoint()
      Streams.rmTree(root)
      res
    }),

    // FRESHNESS-TIERED SCHEDULED FETCH — the full three-tier crawl
    // economics in ONE composed chain: q279's scheduler (sitemap
    // freshness delta → wildcard robots → politeness slots) produces
    // the scheduled set, then RFC 9111 freshness sits IN FRONT of the
    // conditional fetch: a scheduled stored URL whose cached response
    // is still fresh (Cache-Control max-age parsed from the REAL
    // stored payload) is not fetched AT ALL; stale ones revalidate via
    // the etag compare (304 header-only / 200 body). The honest cost
    // is explicit: n_stale_served counts fresh-skipped pages whose
    // content actually changed — freshness trades staleness for
    // requests, and the ledger prices both sides exactly.
    "q295_fresh_scheduler" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val inv = Crawl.recrawlInventory(docs)
      // crawl state: the stored copy is a REAL cached payload — etag,
      // Cache-Control, and body all parse back from its headers
      val state = Crawl.recrawlKnown(docs)
        .select(urlOf(t).as("url"), Crawl.storedLastmod.as("stored_lastmod"),
          Warc.httpResponseCaching(lit(200), lit("text/html"),
            md5(encode(col("text"), "UTF-8")),
            concat(lit("max-age="), ((t % 9) * 500).cast("string")),
            lit(""), col("text")).as("sp"))
      val cand = Crawl.recrawlCandidates(inv, state.select(col("url"),
          col("stored_lastmod")))
      val sched = Crawl.recrawlScheduled(Crawl.recrawlAllowed(s, cand))
        .select(col("url"))
      // the freshness tier: parse max-age/etag/body from the stored
      // payload and split the scheduled set BEFORE any request
      val fetchSet = sched
        .select(col("url"), regexp_extract(col("url"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"))
        .join(docs, Seq("doc_id"))
        .join(state.select(col("url"),
          Warc.httpEtag(col("sp")).as("stored_etag"),
          Warc.httpCacheControlMaxAge(col("sp")).as("max_age"),
          Warc.httpBody(col("sp")).as("stored")), Seq("url"), "left")
        .withColumn("fresh",
          coalesce((t % 13) * 400 < col("max_age"), lit(false)))
        .localCheckpoint() // one computation feeds both tiers
      val changed = col("doc_id") % 3 === 0 && col("doc_id") % 7 =!= 2
      val cur = when(changed, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))
      val curEtag = md5(encode(cur, "UTF-8"))
      val pages = fetchSet.filter(!col("fresh"))
        .select(col("doc_id"), col("url").as("uri"),
          when(col("stored_etag") === curEtag,
            Warc.httpResponseEtag(lit(304), lit("text/html"), curEtag,
              lit("")))
            .otherwise(Warc.httpResponseEtag(lit(200), lit("text/html"),
              curEtag, cur)).as("payload"))
      val land = Files.createTempDirectory("graft-q295-warc").toString
      Warc.writeSegments(pages.repartition(4, col("doc_id")),
        "uri", "payload", land, gzip = true)
      val back = Warc.readRecords(s, land)
        .select(col("uri").as("url"),
          Warc.httpStatus(col("body")).as("st"),
          Warc.httpBody(col("body")).as("fetched"))
      val truth = when(changed, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))
      val eff = fetchSet.join(back, Seq("url"), "left")
        .select(col("doc_id"),
          when(col("fresh"), lit("fresh"))
            .when(col("st") === 304, lit("304"))
            .otherwise(lit("200")).as("tier"),
          (when(col("fresh"), col("stored"))
            .when(col("st") === 304, col("stored"))
            .otherwise(col("fetched")) === truth).as("cm"),
          length(col("fetched")).cast("long").as("len_f"),
          length(coalesce(col("stored"), lit(""))).cast("long")
            .as("len_s"))
      val res = eff.groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_scheduled"),
          sum(when(col("tier") === "fresh", 1).otherwise(0))
            .cast("long").as("n_fresh_skip"),
          sum(when(col("tier") === "304", 1).otherwise(0))
            .cast("long").as("n_304"),
          sum(when(col("tier") === "200", 1).otherwise(0))
            .cast("long").as("n_200"),
          sum(when(col("tier") === "200", col("len_f")).otherwise(0L))
            .cast("long").as("bytes_fetched"),
          sum(when(col("tier") =!= "200", col("len_s")).otherwise(0L))
            .cast("long").as("bytes_saved"),
          sum(when(col("tier") === "fresh" && !col("cm"), 1)
            .otherwise(0)).cast("long").as("n_stale_served"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // HEURISTIC freshness (RFC 9111 §4.2.2): the full lifetime
    // lattice in one fixture — max-age / Expires / Last-Modified-only
    // (lifetime = 10% of how long the entity had been stable when
    // stored, truncating div) / no-metadata (always stale) — each
    // parsed from the REAL stored payload and resolved through ONE
    // freshnessLifetime expression; stale URLs revalidate via the
    // etag compare. Per-tier fresh counts prove each lattice leg
    // independently.
    "q298_heuristic_freshness" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val Now = 1735689600L
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val ccCls = (expr("doc_id div 20") % 4).cast("int")
      val storedAt = lit(Now) - (t % 13) * 400
      val ccHdr = when(ccCls === 0,
        concat(lit("max-age="), ((t % 7) * 600).cast("string")))
        .otherwise(lit(""))
      val expHdr = when(ccCls === 1,
        Warc.httpDateOf(storedAt + (t % 11) * 450)).otherwise(lit(""))
      val lmHdr = when(ccCls === 2,
        Warc.httpDateOf(storedAt - (t % 17) * 3000)).otherwise(lit(""))
      val stored = docs.select(t, urlOf(t).as("uri"),
        Warc.httpResponseCachingFull(lit(200), lit("text/html"),
          md5(encode(col("text"), "UTF-8")), ccHdr, expHdr, lmHdr,
          col("text")).as("payload"))
      val land = Files.createTempDirectory("graft-q298-warc").toString
      Warc.writeSegments(stored.repartition(4, t),
        "uri", "payload", land, gzip = true)
      val back = Warc.readRecords(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"), col("body").as("pt"))
      val parsed = back.select(col("doc_id"),
        Warc.httpCacheControlMaxAge(col("pt")).as("max_age"),
        Warc.httpDateEpoch(Warc.httpExpires(col("pt"))).as("exp_at"),
        Warc.httpDateEpoch(Warc.httpLastModified(col("pt")))
          .as("lm_at"),
        Warc.httpEtag(col("pt")).as("setag"),
        Warc.httpBody(col("pt")).as("sbody"))
      val state = docs.select(t.as("doc_id"),
        (lit(Now) - (t % 13) * 400).as("stored_at"))
      val chg = col("doc_id") % 3 === 0
      val current = when(chg, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))
      val life = Warc.freshnessLifetime(col("max_age"), col("exp_at"),
        col("lm_at"), col("stored_at"))
      val fresh = lit(Now) - col("stored_at") < life
      val res = parsed.join(state, Seq("doc_id")).join(docs, Seq("doc_id"))
        .select(col("doc_id"),
          (expr("doc_id div 20") % 4).cast("int").as("cls"),
          fresh.as("fresh"),
          (col("setag") === md5(encode(current, "UTF-8"))).as("same"),
          length(col("sbody")).cast("long").as("slen"),
          length(current).cast("long").as("clen"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("fresh"), 1).otherwise(0)).cast("long")
            .as("n_fresh"),
          sum(when(col("fresh") && col("cls") === 0, 1).otherwise(0))
            .cast("long").as("n_fresh_maxage"),
          sum(when(col("fresh") && col("cls") === 1, 1).otherwise(0))
            .cast("long").as("n_fresh_expires"),
          sum(when(col("fresh") && col("cls") === 2, 1).otherwise(0))
            .cast("long").as("n_fresh_heuristic"),
          sum(when(!col("fresh") && col("same"), 1).otherwise(0))
            .cast("long").as("n_304"),
          sum(when(!col("fresh") && !col("same"), 1).otherwise(0))
            .cast("long").as("n_200"),
          sum(when(!col("fresh") && !col("same"), col("clen"))
            .otherwise(0L)).cast("long").as("bytes_fetched"),
          sum(when(col("fresh") || col("same"), col("slen"))
            .otherwise(0L)).cast("long").as("bytes_saved"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // MULTI-LANGUAGE ROUTING: the q285 mixed corpus (en + ciphered
    // xx) cleans with a keep-BOTH trained gate, then the survivor set
    // routes into per-language sub-corpora by the same frozen model —
    // each sub-corpus publishes as its own catalog manifest and the
    // result reads BACK from storage. The lang_routed column
    // partitions the survivors by construction: the oracle replays
    // fit + classify + the full pipeline and the per-language funnels
    // sum to exactly the gate's survivor set.
    "q294_multilang_routing" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.pipeline.CorpusPipeline
      val (corpus, model) = Text.cipheredCorpus(s, dir)
      val cfg = CorpusPipeline.Config(langGate =
        Some(CorpusPipeline.LangGate(model, Seq("en", "xx"))))
      val routed = CorpusPipeline.routeByLanguage(corpus, "doc_id",
        "text", cfg)
      val root = Files.createTempDirectory("graft-q294").toString
      val cat = new graft.catalog.ParquetCatalog(s, root)
      Seq("en", "xx").foreach { l =>
        cat.createAs(s"corpus_$l",
          routed.filter(col("lang_routed") === l)
            .select(col("doc_id"), col("quality"), col("lang_pred")))
      }
      val res = Seq("en", "xx").map(l => cat.table(s"corpus_$l")
          .withColumn("lang_routed", lit(l)))
        .reduce(_.unionByName(_))
        .select(col("doc_id"), col("lang_routed"), col("quality"),
          col("lang_pred"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Streams.rmTree(root)
      res
    }),

    // ALTER COLUMN TYPE widening across a live table: len widens
    // INT -> BIGINT as an atomic version, then an UPDATE (x 1e8) and
    // an INSERT plant values ABOVE Int.MaxValue — the widened type is
    // observably live (sum_len and n_big overflow INT), while the
    // pre-alter version time-travels under its ORIGINAL 32-bit type.
    "q293_alter_type" -> ((s, dir) => {
      import java.nio.file.Files
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"),
          length(col("text")).cast("int").as("len"))
      val root = Files.createTempDirectory("graft-q293").toString
      val cat = new graft.catalog.ParquetCatalog(s, root)
      cat.create("dt", docs.schema)
      cat.overwrite("dt", docs)
      val v0 = cat.currentVersion("dt").get
      graft.scd.DdlSql.execute(s, cat,
        "ALTER TABLE dt ALTER COLUMN len TYPE BIGINT")
      graft.scd.DmlSql.execute(s, cat,
        "UPDATE dt SET len = len * 100000000 WHERE doc_id % 5 = 0")
      graft.scd.CtasSql.execute(s, cat,
        "INSERT INTO dt SELECT 1000000001, 3000000000")
      val pre = cat.tableAsOfVersion("dt", v0)
      val cur = cat.table("dt")
      val preType = pre.schema("len").dataType.simpleString
      val curType = cur.schema("len").dataType.simpleString
      val old = pre.select(col("doc_id"),
        col("len").cast("long").as("old_len"))
      val res = cur.join(old, Seq("doc_id"), "left")
        .groupBy((col("doc_id") % 20).cast("long").as("dom"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("len")).cast("long").as("sum_len"),
          sum(when(col("len") > 2147483647L, 1).otherwise(0))
            .cast("long").as("n_big"),
          sum(col("old_len")).cast("long").as("sum_old_len"))
        .select(col("dom"), col("n_rows"), col("sum_len"), col("n_big"),
          col("sum_old_len"), lit(preType).as("pre_type"),
          lit(curType).as("cur_type"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(root)
      res
    }),

    // CACHE FRESHNESS scheduling (RFC 9111 in front of RFC 9110
    // revalidation): stored responses carry REAL caching headers —
    // four classes by (doc_id div 20) % 4: max-age only / Expires
    // only / BOTH (max-age must win: the planted Expires is always in
    // the past, so any Expires-first logic zeroes class-2 freshness) /
    // neither (always revalidate). A FRESH stored response is served
    // with NO request at all; a stale one revalidates via the REAL
    // etag compare (md5(stored) vs md5(current)) → 304 header-only or
    // 200 body refetch. Exact three-tier bytes ledger per dom.
    "q291_cache_freshness" -> ((s, dir) => {
      import java.nio.file.Files
      import graft.sources.Warc
      val Now = 1735689600L // 2025-01-01T00:00:00Z, fixed
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val ccCls = (expr("doc_id div 20") % 4).cast("int")
      val maxAge = (t % 7) * 600 // 0..3600 s lifetime
      val storedAt = lit(Now) - (t % 13) * 400 // age 0..4800 s
      val expiresAt = lit(Now) + (t % 11) * 500 - 2500
      val ccHdr = when(ccCls.isin(0, 2),
        concat(lit("public, max-age="), maxAge.cast("string")))
        .otherwise(lit(""))
      val expHdr = when(ccCls === 1, Warc.httpDateOf(expiresAt))
        // class 2: DISAGREEING Expires (always past) — max-age wins
        .when(ccCls === 2, Warc.httpDateOf(lit(Now - 1000)))
        .otherwise(lit(""))
      val stored = docs.select(t, urlOf(t).as("uri"),
        Warc.httpResponseCaching(lit(200), lit("text/html"),
          md5(encode(col("text"), "UTF-8")), ccHdr, expHdr,
          col("text")).as("payload"))
      val land = Files.createTempDirectory("graft-q291-warc").toString
      Warc.writeSegments(stored.repartition(4, t),
        "uri", "payload", land, gzip = true)
      val back = Warc.readRecords(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          col("body").as("pt"))
      val parsed = back.select(col("doc_id"),
        Warc.httpCacheControlMaxAge(col("pt")).as("max_age"),
        Warc.httpDateEpoch(Warc.httpExpires(col("pt"))).as("exp_at"),
        Warc.httpEtag(col("pt")).as("setag"),
        Warc.httpBody(col("pt")).as("sbody"))
      // crawl-ledger state: when each URL was stored
      val state = docs.select(t.as("doc_id"),
        (lit(Now) - (t % 13) * 400).as("stored_at"))
      val chg = col("doc_id") % 3 === 0
      val current = when(chg, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))
      val age = lit(Now) - col("stored_at")
      // RFC 9111 precedence IN THE PLAN: max-age consulted first,
      // Expires only when max-age is absent, neither → stale
      val fresh = when(col("max_age").isNotNull, age < col("max_age"))
        .otherwise(when(col("exp_at").isNotNull, lit(Now) < col("exp_at"))
          .otherwise(lit(false)))
      val res = parsed.join(state, Seq("doc_id")).join(docs, Seq("doc_id"))
        .select(col("doc_id"),
          (expr("doc_id div 20") % 4).cast("int").as("cls"),
          fresh.as("fresh"),
          (col("setag") === md5(encode(current, "UTF-8"))).as("same"),
          (col("sbody") === col("text")).as("clean"),
          length(col("sbody")).cast("long").as("slen"),
          length(current).cast("long").as("clen"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("fresh"), 1).otherwise(0)).cast("long")
            .as("n_fresh"),
          sum(when(col("fresh") && col("cls") === 2, 1).otherwise(0))
            .cast("long").as("n_fresh_maxage"),
          sum(when(!col("fresh") && col("same"), 1).otherwise(0))
            .cast("long").as("n_304"),
          sum(when(!col("fresh") && !col("same"), 1).otherwise(0))
            .cast("long").as("n_200"),
          sum(when(!col("fresh") && !col("same"), col("clen"))
            .otherwise(0L)).cast("long").as("bytes_fetched"),
          sum(when(col("fresh"), col("slen")).otherwise(0L))
            .cast("long").as("bytes_saved_fresh"),
          sum(when(!col("fresh") && col("same"), col("slen"))
            .otherwise(0L)).cast("long").as("bytes_saved_304"),
          sum(when(col("clean"), 1).otherwise(0)).cast("long")
            .as("n_clean"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // CJK LEGACY MULTIBYTE transport: five charset classes by
    // (doc_id div 20) % 5 — div-20 so every dom sees every class (the
    // q163 lesson: doc_id % 20 IS the dom) — each landing as REAL
    // legacy-codec bytes labeled with a rotating WHATWG alias. The
    // plants ('a'/'e' → two in-repertoire CJK codepoints) are
    // multibyte in every class, so ANY alias that fails to normalize
    // falls to the lenient-UTF-8 default, decodes the plant bytes as
    // U+FFFD mojibake, and kills its class's per-dom clean count. The
    // control column n_utf8_clean replays that default on every
    // record: it matches exactly the docs with no 'a'/'e' at all
    // (pure-ASCII after the plant) — mojibake cannot silently pass.
    "q289_cjk_ingest" -> ((s, dir) => {
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pages = cjkPages(s, dir)
      val land = Crawl.landWarc(pages, col("doc_id"), "q289")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"), col("body").as("payload"))
      val res = cjkPartials(back, docs)
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // The FULL transport onion at the CJK families: chunked framing
    // (%2), Content-Encoding gzip (%3==1), and a legacy multibyte
    // charset (div-20 %5) stack on the SAME response — the reader
    // peels IN ORDER dechunk → decodeContentCoding (the CENTRAL
    // dispatch with the brotli scope guard — its gzip/identity legs
    // carry real traffic here) → superset charset decode. All six
    // class combinations appear; the clean match proves byte-exact
    // text through every layer and real gzipped-WARC storage.
    "q299_cjk_onion" -> ((s, dir) => {
      import graft.sources.Warc
      import graft.functions.{Chunked, Gzip}
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val chunked = t % 2 === 0
      val gz = t % 3 === 1
      val enc = when(gz, lit("gzip")).otherwise(lit(""))
      val bodies = cjkBodies(s, dir)
      val b1 = when(gz, Gzip.deflateCol(col("body")))
        .otherwise(col("body"))
      val payload = when(chunked,
        Warc.httpResponseChunked(lit(200), lit("text/html"),
          col("label"), enc, b1, lit(7) + (t % 13)))
        .otherwise(Warc.httpResponseBytes(lit(200), lit("text/html"),
          col("label"), enc, b1))
      val pages = bodies.select(t, urlOf(t).as("uri"),
        payload.as("payload"))
      val land = Crawl.landWarc(pages, t, "q299")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val te = Warc.httpTransferEncoding(col("pt"))
      val deframed = when(te === "chunked", Chunked.dechunkCol(col("bb")))
        .otherwise(col("bb"))
      val entity = Warc.decodeContentCoding(deframed,
        Warc.httpContentEncoding(col("pt")))
      val parsed = back.select(col("doc_id"), te.as("te"),
        Warc.httpContentEncoding(col("pt")).as("ce"),
        Warc.decodeBody(entity, Warc.httpCharset(col("pt")))
          .as("decoded"))
      val cls = (expr("doc_id div 20") % 5).cast("int")
      def perClass(f: (String, String) => Column): Column =
        (1 until Text.CjkClasses.length).foldLeft(
          when(cls === 0, f(Text.CjkClasses(0)._1, Text.CjkClasses(0)._3))) {
            (acc, i) => acc.when(cls === i,
              f(Text.CjkClasses(i)._1, Text.CjkClasses(i)._3))
          }
      val expected = perClass((_, plant) =>
        translate(col("text"), "ae", plant))
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"),
          (col("te") === "chunked").as("isCh"),
          (col("ce") === "gzip").as("isGz"),
          (col("decoded") === expected).as("cm"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("isCh"), 1).otherwise(0)).cast("long")
            .as("n_chunked"),
          sum(when(col("isGz"), 1).otherwise(0)).cast("long")
            .as("n_gzip"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // META-declared CJK charsets: the transport header carries NO
    // charset parameter — the document's own <meta charset=...>
    // declares it (the HTML5 prescan case, q269's composition at the
    // CJK families). The prescan reads the latin-1 view, which is safe
    // here because none of the five codecs uses 0x3C as a trail byte;
    // effective charset = coalesce(header param, meta element, utf-8),
    // and the header-default CONTROL column (ignore the meta, decode
    // lenient UTF-8) matches exactly the plant-free docs — drop the
    // meta leg and every plant-bearing doc dies.
    "q297_meta_cjk" -> ((s, dir) => {
      import graft.sources.Warc
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val landed = docs.as[(Long, String)].map { case (id, text) =>
        val cls = ((id / 20) % 5).toInt
        val (canon, jdk, plant, _) = Text.CjkClasses(cls)
        val planted = text.map(c =>
          if (c == 'a') plant.charAt(0)
          else if (c == 'e') plant.charAt(1) else c)
        val body = s"<meta charset=$canon>" + planted
        (id, body.getBytes(java.nio.charset.Charset.forName(jdk)))
      }.toDF("doc_id", "body")
      val pages = landed.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        // charset = '' — the header declares NOTHING
        Warc.httpResponseBytes(lit(200), lit("text/html"), lit(""),
          lit(""), col("body")).as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q297")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      val hdrCs = Warc.httpCharset(col("pt"))
      val metaCs = Warc.metaCharset(Warc.httpBody(col("pt")))
      val eff = when(hdrCs =!= "", hdrCs)
        .otherwise(when(metaCs =!= "", metaCs).otherwise(lit("utf-8")))
      val parsed = back.select(col("doc_id"),
        Warc.decodeBody(col("bb"), eff).as("decoded"),
        // header-default CONTROL: what the decode becomes if the
        // prescan leg is dropped
        graft.functions.Gzip.utf8LenientCol(col("bb")).as("u8"))
      val cls = (expr("doc_id div 20") % 5).cast("int")
      def perClass(f: (String, String) => Column): Column =
        (1 until Text.CjkClasses.length).foldLeft(
          when(cls === 0, f(Text.CjkClasses(0)._1, Text.CjkClasses(0)._3))) {
            (acc, i) => acc.when(cls === i,
              f(Text.CjkClasses(i)._1, Text.CjkClasses(i)._3))
          }
      val expected = perClass((canon, plant) => concat(
        lit(s"<meta charset="), lit(canon), lit(">"),
        translate(col("text"), "ae", plant)))
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), cls.as("cls"),
          (col("decoded") === expected).as("cm"),
          (col("u8") === expected).as("u8m"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long").as("n_clean"),
          sum(when(col("cm") && col("cls") === 0, 1).otherwise(0))
            .cast("long").as("n_clean_sjis"),
          sum(when(col("cm") && col("cls") === 1, 1).otherwise(0))
            .cast("long").as("n_clean_eucjp"),
          sum(when(col("cm") && col("cls") === 2, 1).otherwise(0))
            .cast("long").as("n_clean_gbk"),
          sum(when(col("cm") && col("cls") === 3, 1).otherwise(0))
            .cast("long").as("n_clean_big5"),
          sum(when(col("cm") && col("cls") === 4, 1).otherwise(0))
            .cast("long").as("n_clean_euckr"),
          sum(when(col("u8m"), 1).otherwise(0)).cast("long")
            .as("n_hdr_only_clean"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // the CJK door through the STREAMING front: the legacy-codec
    // payloads arrive as a 3-file stream and every micro-batch runs
    // the SAME transport parse (header charset -> superset decode ->
    // per-record verdicts) and folds the per-dom partials, ADDITIVE
    // across doc-disjoint batches because every verdict is
    // per-record. Oracle = q289's SQL VERBATIM while the stream's
    // per-file batching differs from the one-shot layout.
    "q296_stream_cjk_ingest" -> ((s, dir) => {
      import java.nio.file.Files
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pages = cjkPages(s, dir)
      val land = Streams.landThirds(pages, "doc_id", "graft-q296")
      val cp = Files.createTempDirectory("graft-q296-cp").toString
      val agg = StreamFold[DataFrame](StreamFold.files(s, land), cp) {
        (prev, batch, _) =>
          StreamFold.addPartials(prev, cjkPartials(
              batch.select(col("doc_id"), col("payload")), docs),
            Seq("dom"), CjkCols)
      }.getOrElse(throw Streams.noBatch("q296_stream_cjk_ingest"))
      val out = agg
        .select((col("dom") +: CjkCols.map(col)): _*)
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land); Streams.rmTree(cp)
      out
    }))

  private val oracleSqlMain: Map[String, String] = Map(

    // hashes replay from the cell formula (the q274 argument at the
    // 4:2:2 layout: uniform per-image casts shift every dHash sample
    // equally; constant chroma planes box-average exactly)
    "q290_jpeg_422" ->
      s"""WITH RECURSIVE jqdims AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 4),
         |jqimgs AS (
         |  SELECT doc_id*4 AS rid, doc_id AS id0, 0 AS alt FROM jqdims
         |  UNION ALL SELECT doc_id*4+1, doc_id, 0 FROM jqdims
         |  UNION ALL SELECT doc_id*4+2, doc_id, 0 FROM jqdims WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+3, doc_id, 1 FROM jqdims WHERE doc_id % 5 = 0),
         |jqcells AS (
         |  SELECT rid, gy, gx,
         |    30 + (hh % 5) * 40 + ((gx + gy) % 2) * 12 AS gray
         |  FROM (
         |    SELECT rid, gy.g AS gy, gx.g AS gx,
         |      ('0x'||substr(md5('cj422:' || (CASE WHEN alt = 1 AND gx.g = 3 AND gy.g = 3 THEN id0 + 999983 ELSE id0 END) || ':' || gx.g || ':' || gy.g), 1, 15))::BIGINT AS hh
         |    FROM jqimgs,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gy,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gx) t),
         |jqdh AS (
         |  SELECT l.rid, CAST(SUM(CASE WHEN r.gray > l.gray
         |      THEN 1::BIGINT << (l.gy*7 + l.gx) ELSE 0 END) AS BIGINT)
         |    AS dhash
         |  FROM jqcells l JOIN jqcells r
         |    ON r.rid = l.rid AND r.gy = l.gy AND r.gx = l.gx + 1
         |  WHERE l.gx < 7 GROUP BY l.rid),
         |jqbands AS (
         |  SELECT rid, dhash, bb.band,
         |    (dhash >> (bb.band * 14)) & 16383 AS v
         |  FROM jqdh, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |jqpairs AS (
         |  SELECT a, b FROM (
         |    SELECT DISTINCT x.rid AS a, y.rid AS b,
         |      x.dhash AS ha, y.dhash AS hb
         |    FROM jqbands x JOIN jqbands y
         |      ON x.band = y.band AND x.v = y.v AND x.rid < y.rid) t
         |  WHERE bit_count(xor(ha, hb)) <= 6),
         |${Corpus.ccCompactSql("jq")}
         |SELECT d.rid AS id, d.dhash,
         |  COALESCE(l.clus, d.rid) AS cluster,
         |  (COALESCE(l.clus, d.rid) <> d.rid) AS is_dup
         |FROM jqdh d LEFT JOIN jqlabels l ON l.node = d.rid
         |ORDER BY d.rid""".stripMargin,

    // q279's scheduler chain replays verbatim; the freshness tier is
    // pure coin arithmetic on top ((id%13)*400 < (id%9)*500), and the
    // tail prices all three tiers — including the honest
    // n_stale_served cost of serving a fresh-but-changed copy
    "q295_fresh_scheduler" -> {
      import graft.graph.WebGraph
      s"""WITH ${Crawl.recrawlInventorySql("ff", "ff2")},
         |ffcand AS (SELECT i.url, i.lastmod,
         |    CAST(regexp_extract(i.url, '/p/([0-9]+)$$', 1) AS BIGINT) % 20 AS dom
         |  FROM ff2maps i LEFT JOIN ffstate s ON s.url = i.url
         |  WHERE s.stored_lastmod IS NULL OR i.lastmod > s.stored_lastmod),
         |ffrob AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    'User-agent: *' || chr(10) || 'Disallow: /*9$$' || chr(10) ||
         |    'Disallow: /p/2' || chr(10) ||
         |    'Crawl-delay: ' || CAST((k % 4) * 5 + 5 AS VARCHAR) AS txt
         |  FROM (SELECT unnest(generate_series(0, 19)) AS k)),
         |${WebGraph.parseRobotsForCtes("ffrob", "host", "txt",
             "graftbot", "fp18")},
         |ffdist AS (SELECT DISTINCT url FROM ffcand),
         |${WebGraph.urlDecisionsCtes("ffdist", "fp18rules", "fq18")},
         |ffallow AS (SELECT c.url, c.lastmod, c.dom,
         |    'd' || CAST(c.dom AS VARCHAR) || '.example.com' AS host
         |  FROM ffcand c JOIN fq18dec d ON d.url = c.url
         |  WHERE d.action = 'allow'),
         |ffslot AS (SELECT a.url, a.lastmod, a.dom, a.host,
         |    GREATEST(1, 60 // coalesce(dl.delay, 60)) AS slots
         |  FROM ffallow a LEFT JOIN fp18delay dl ON dl.host = a.host),
         |ffrk AS (SELECT url, dom, slots,
         |    row_number() OVER (PARTITION BY host
         |      ORDER BY lastmod DESC, url) AS rk
         |  FROM ffslot),
         |ffsched AS (SELECT url, dom FROM ffrk WHERE rk <= slots),
         |ffx AS (SELECT f.dom, d.text,
         |    (d.doc_id % 3 = 0 AND d.doc_id % 7 <> 2) AS chg,
         |    ((d.doc_id // 20) % 5 <> 4) AS instate,
         |    ((d.doc_id % 13) * 400 < (d.doc_id % 9) * 500) AS freshcoin
         |  FROM (SELECT dom,
         |      CAST(regexp_extract(url, '/p/([0-9]+)$$', 1) AS BIGINT) AS doc_id
         |    FROM ffsched) f
         |  JOIN documents d ON d.doc_id = f.doc_id),
         |fft AS (SELECT dom, text, chg,
         |    CASE WHEN instate AND freshcoin THEN 'fresh'
         |         WHEN instate AND NOT chg THEN '304'
         |         ELSE '200' END AS tier
         |  FROM ffx)
         |SELECT dom,
         |  CAST(count(*) AS BIGINT) AS n_scheduled,
         |  CAST(SUM(CASE WHEN tier = 'fresh' THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh_skip,
         |  CAST(SUM(CASE WHEN tier = '304' THEN 1 ELSE 0 END) AS BIGINT) AS n_304,
         |  CAST(SUM(CASE WHEN tier = '200' THEN 1 ELSE 0 END) AS BIGINT) AS n_200,
         |  CAST(SUM(CASE WHEN tier = '200' THEN length(text) + (CASE WHEN chg THEN 3 ELSE 0 END) ELSE 0 END) AS BIGINT) AS bytes_fetched,
         |  CAST(SUM(CASE WHEN tier <> '200' THEN length(text) ELSE 0 END) AS BIGINT) AS bytes_saved,
         |  CAST(SUM(CASE WHEN tier = 'fresh' AND chg THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_served,
         |  CAST(SUM(CASE WHEN tier = 'fresh' AND chg THEN 0 ELSE 1 END) AS BIGINT) AS n_clean
         |FROM fft GROUP BY dom ORDER BY dom""".stripMargin
    },

    // lifetime lattice replays from the coins: (id%7)*600 for
    // max-age, (id%11)*450 for Expires−stored, ((id%17)*3000)//10 for
    // the heuristic, 0 for none; fresh = (id%13)*400 < lifetime
    "q298_heuristic_freshness" ->
      s"""WITH hf AS (SELECT doc_id, text,
         |    (doc_id // 20) % 4 AS cls,
         |    (doc_id % 13) * 400 AS age,
         |    (doc_id % 3 = 0) AS chg,
         |    CASE (doc_id // 20) % 4
         |      WHEN 0 THEN (doc_id % 7) * 600
         |      WHEN 1 THEN (doc_id % 11) * 450
         |      WHEN 2 THEN ((doc_id % 17) * 3000) // 10
         |      ELSE 0 END AS life
         |  FROM documents),
         |hfd AS (SELECT doc_id, text, cls, chg, age < life AS fresh
         |  FROM hf)
         |SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(SUM(CASE WHEN fresh THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
         |  CAST(SUM(CASE WHEN fresh AND cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh_maxage,
         |  CAST(SUM(CASE WHEN fresh AND cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh_expires,
         |  CAST(SUM(CASE WHEN fresh AND cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh_heuristic,
         |  CAST(SUM(CASE WHEN NOT fresh AND NOT chg THEN 1 ELSE 0 END) AS BIGINT) AS n_304,
         |  CAST(SUM(CASE WHEN NOT fresh AND chg THEN 1 ELSE 0 END) AS BIGINT) AS n_200,
         |  CAST(SUM(CASE WHEN NOT fresh AND chg THEN length(text) + 3 ELSE 0 END) AS BIGINT) AS bytes_fetched,
         |  CAST(SUM(CASE WHEN fresh OR NOT chg THEN length(text) ELSE 0 END) AS BIGINT) AS bytes_saved
         |FROM hfd GROUP BY 1 ORDER BY dom""".stripMargin,

    // q285's replay with the gate keeping BOTH labels; the final join
    // back to the classifier's prediction routes each survivor — the
    // oracle-equality of per-doc (id, lang_routed) rows IS the
    // partition proof (union = survivor set, labels disjoint)
    "q294_multilang_routing" ->
      s"""WITH RECURSIVE ${Text.trainedLangGateSql("IN ('en', 'xx')")},
         |${Corpus.exactDedupSql("g2")},
         |${Corpus.nearDupLosersSql("ex")}
         |SELECT e.doc_id, p2.lang_trained AS lang_routed, e.quality,
         |  e.lang_pred
         |FROM ex e JOIN lcpred p2 ON p2.id = e.doc_id
         |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
         |ORDER BY e.doc_id""".stripMargin,

    // the widened column replays from the update/insert arithmetic;
    // sum_len and n_big prove 64-bit values flowed through the
    // post-alter column, sum_old_len replays the pre-alter 32-bit
    // content (the synthetic row has no pre-alter twin)
    "q293_alter_type" ->
      s"""WITH base AS (SELECT doc_id, length(text) AS len FROM documents),
         |upd AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN len * 100000000 ELSE len END AS len,
         |    len AS old_len
         |  FROM base),
         |allr AS (SELECT doc_id, len, old_len FROM upd
         |  UNION ALL SELECT 1000000001, 3000000000, NULL)
         |SELECT CAST(doc_id % 20 AS BIGINT) AS dom,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(len) AS BIGINT) AS sum_len,
         |  CAST(SUM(CASE WHEN len > 2147483647 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
         |  CAST(SUM(old_len) AS BIGINT) AS sum_old_len,
         |  'int' AS pre_type,
         |  'bigint' AS cur_type
         |FROM allr GROUP BY 1 ORDER BY dom""".stripMargin,

    // each catalog version accumulates one %3 class; the count kicks
    // n_rows up cumulatively and n_exact == n_rows proves the content
    // equals the directly built table at every boundary
    "q292_ctas_insert" ->
      s"""WITH v AS (SELECT 0 AS version UNION ALL SELECT 1 UNION ALL SELECT 2)
         |SELECT v.version,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(d.doc_id) AS BIGINT) AS sum_ids,
         |  CAST(SUM(length(d.text)) AS BIGINT) AS sum_len,
         |  CAST(count(*) AS BIGINT) AS n_exact
         |FROM v JOIN documents d ON d.doc_id % 3 <= v.version
         |GROUP BY v.version ORDER BY version""".stripMargin,

    // the freshness/revalidation/refetch split replays from the
    // coins: fresh = age < max-age for the max-age classes (0 and 2 —
    // class 2 proves RFC 9111 precedence because its Expires is
    // always past), Now < expires for class 1 (strict: %11 = 5 lands
    // exactly AT Now and is stale), never for class 3; the change
    // coin splits stale into 304 vs 200 (+3 = length(' v2'))
    "q291_cache_freshness" ->
      s"""WITH cf AS (SELECT doc_id, text,
         |    (doc_id // 20) % 4 AS cls,
         |    (doc_id % 13) * 400 AS age,
         |    (doc_id % 7) * 600 AS maxage,
         |    (doc_id % 11) * 500 - 2500 AS expdelta,
         |    (doc_id % 3 = 0) AS chg
         |  FROM documents),
         |cfd AS (SELECT doc_id, text, cls, chg,
         |    CASE WHEN cls IN (0, 2) THEN age < maxage
         |         WHEN cls = 1 THEN expdelta > 0
         |         ELSE FALSE END AS fresh
         |  FROM cf)
         |SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(SUM(CASE WHEN fresh THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
         |  CAST(SUM(CASE WHEN fresh AND cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh_maxage,
         |  CAST(SUM(CASE WHEN NOT fresh AND NOT chg THEN 1 ELSE 0 END) AS BIGINT) AS n_304,
         |  CAST(SUM(CASE WHEN NOT fresh AND chg THEN 1 ELSE 0 END) AS BIGINT) AS n_200,
         |  CAST(SUM(CASE WHEN NOT fresh AND chg THEN length(text) + 3 ELSE 0 END) AS BIGINT) AS bytes_fetched,
         |  CAST(SUM(CASE WHEN fresh THEN length(text) ELSE 0 END) AS BIGINT) AS bytes_saved_fresh,
         |  CAST(SUM(CASE WHEN NOT fresh AND NOT chg THEN length(text) ELSE 0 END) AS BIGINT) AS bytes_saved_304,
         |  CAST(count(*) AS BIGINT) AS n_clean
         |FROM cfd GROUP BY 1 ORDER BY dom""".stripMargin,

    // dechunk ∘ inflate ∘ decode is the identity through every class
    // combination; the oracle predicts the clean sweep and the coin
    // counts from id arithmetic alone (the q271 posture at the CJK
    // charset leg)
    "q299_cjk_onion" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_chunked,
         |  CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gzip,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin,

    // the meta tag is ASCII so its length adds deterministically per
    // class (15 framing chars + the canonical label's length); the
    // header-default control = plant-free docs, exactly q289's
    "q297_meta_cjk" ->
      s"""WITH mc AS (SELECT doc_id, text,
         |    (doc_id // 20) % 5 AS cls,
         |    CASE (doc_id // 20) % 5 WHEN 0 THEN 9 WHEN 1 THEN 6
         |      WHEN 2 THEN 3 WHEN 3 THEN 4 ELSE 6 END AS lablen
         |  FROM documents)
         |SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_sjis,
         |  CAST(SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_eucjp,
         |  CAST(SUM(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_gbk,
         |  CAST(SUM(CASE WHEN cls = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_big5,
         |  CAST(SUM(CASE WHEN cls = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_euckr,
         |  CAST(SUM(CASE WHEN length(replace(replace(text, 'a', ''), 'e', '')) = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_hdr_only_clean,
         |  CAST(SUM(length(text) + 15 + lablen) AS BIGINT) AS sum_chars
         |FROM mc GROUP BY 1 ORDER BY dom""".stripMargin,

    // decode∘encode is the identity per class ONLY when every alias
    // normalizes to its canonical name AND routes to the right
    // superset codec: the oracle predicts a clean sweep, the per-class
    // split, and the UTF-8-default control = docs with no 'a'/'e' at
    // all (the only bodies with zero multibyte sequences)
    "q289_cjk_ingest" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(count(*) AS BIGINT) AS n_norm,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_sjis,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_eucjp,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_gbk,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_big5,
         |  CAST(SUM(CASE WHEN (doc_id // 20) % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_euckr,
         |  CAST(SUM(CASE WHEN length(replace(replace(text, 'a', ''), 'e', '')) = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_utf8_clean,
         |  CAST(SUM(length(text) - length(replace(replace(text, 'a', ''), 'e', ''))) AS BIGINT) AS sum_plant,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin)

  // q296: streamed == one-shot (per-record verdicts, additive
  // partials) — the oracle is q289's SQL VERBATIM
  val oracleSql: Map[String, String] = oracleSqlMain +
    ("q296_stream_cjk_ingest" -> oracleSqlMain("q289_cjk_ingest"))
}
