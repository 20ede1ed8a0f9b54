package graft.queries

import graft.queries.fixtures.Crawl.urlOf
import graft.queries.fixtures.{Corpus, Crawl, Streams}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-19: the `Content-Encoding: br` leg goes live — the from-
  * scratch RFC 7932 decoder ([[graft.functions.Brotli]]) composed into
  * the q299 transport onion (chunked framing x FOUR content-coding
  * classes x charset decode), plus the remaining round-18 verdict
  * items.
  *
  * Reference scope: nothing here maps to
  * /root/reference/SCD_script.txt — these extend the crawl-ingest
  * family the north star adds on top.
  */
object Round19Queries extends QueryGroup {

  /** The three charset classes of the br onion — (canonical label
    * ('' = unlabeled, lenient-UTF-8 default), JDK codec for the
    * fixture bytes, two-codepoint plant ('a'→first, 'e'→second;
    * multibyte in the legacy classes so a wrong decode is mojibake,
    * never a silent pass)).
    */
  private[graft] val BrCsClasses: Array[(String, String, String)] = Array(
    ("", "UTF-8", "ae"), // identity plant: text unchanged
    ("shift_jis", "windows-31j", "日本"),
    ("gbk", "GBK", "中文"))

  /** q300's raw fixture: the corpus as (possibly legacy-codec) body
    * BYTES, the charset class on the div-20 %3 coin (independent of
    * both the dom and the coding/framing coins) — the q289 typed-map
    * codec boundary.
    */
  private def brBodies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        val cls = ((id / 20) % 3).toInt
        val (label, jdk, plant) = BrCsClasses(cls)
        val planted = text.map(c =>
          if (c == 'a') plant.charAt(0)
          else if (c == 'e') plant.charAt(1) else c)
        val bytes = planted.getBytes(java.nio.charset.Charset.forName(jdk))
        (id, label, bytes)
      }.toDF("doc_id", "label", "body")
  }

  /** The six sniff classes — (canonical label, JDK fixture codec,
    * two-codepoint plant). Each legacy plant encodes to TWO high bytes
    * with trail ≥ 0xC0 (never a UTF-8 continuation, so strict-UTF-8
    * detection fails on the first byte in ANY adjacency pattern) and
    * was CHOSEN so its pair STRICTLY outscores every other valid codec
    * under [[graft.functions.Sniff]]'s weight rules — the decision is
    * therefore a theorem of the plant counts alone and the oracle
    * replays it per document from (n_a, n_e).
    */
  private[graft] val SniffClasses: Array[(String, String, String)] = Array(
    ("utf-8", "UTF-8", "éü"),
    ("shift_jis", "windows-31j", "つで"), // 0x82C2 0x82C5 (kana row)
    ("euc-jp", "EUC-JP", "だつ"), // 0xA4C0 0xA4C4 (kana row)
    ("gbk", "GBK", "中主"), // 0xD6D0 0xD6F7 (GB2312 hanzi area)
    ("big5", "Big5-HKSCS", "並事"), // 0xA8C3 0xA8C6 (common hanzi)
    ("euc-kr", "x-windows-949", "겴겷")) // 0x81C0 0x81C3 (UHC-extended)

  private def sniffBodies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        val cls = ((id / 20) % 6).toInt
        val (canon, jdk, plant) = SniffClasses(cls)
        val planted = text.map(c =>
          if (c == 'a') plant.charAt(0)
          else if (c == 'e') plant.charAt(1) else c)
        // %3 == 0 carries the truth-telling header label; the rest are
        // UNLABELED — the sniff leg's traffic
        val label = if (id % 3 == 0) canon else ""
        val bytes = planted.getBytes(java.nio.charset.Charset.forName(jdk))
        (id, label, bytes)
      }.toDF("doc_id", "label", "body")
  }

  // ---- 4:1:1 / 4:4:0 JPEG perceptual dedup (q302) -------------------
  // The q290 posture at the two remaining sampling layouts the SOF
  // gate used to refuse: 4:1:1 (luma 4×1, DV/camcorder) and 4:4:0
  // (luma 1×2, vertical-only). Per-cell LUMA margins + a UNIFORM
  // per-image color cast: constant chroma planes box-average exactly
  // under ANY hs×vs, so every stream dHashes identically to its
  // lossless BMP twin and the oracle replays hashes from the cell
  // formula.

  private def cell411(id0: Long, gx: Int, gy: Int): Int = {
    val h = graft.functions.TextHash.md5Low60(s"cj411:$id0:$gx:$gy")
    (30 + (h % 5) * 40 + ((gx + gy) % 2) * 12).toInt
  }

  private val Casts411: Array[(Int, Int, Int)] =
    Array((0, 0, 0), (16, -8, -4), (-16, 8, 4), (12, 4, -16))

  private def plantImage411(id0: Long,
      altCell: Boolean): graft.multimodal.Bmp.Image = {
    val w = 64; val h = 64
    val (dr, dg, db) = Casts411(
      (graft.functions.TextHash.md5Low60(s"cast411:$id0") % 4).toInt)
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val gx = x / 8; val gy = y / 8
        val idc = if (altCell && gx == 3 && gy == 3) id0 + 999983L else id0
        val l = cell411(idc, gx, gy) + ((x + y) % 2) * 2
        val p = (y * w + x) * 3
        rgb(p) = (l + dr).toByte
        rgb(p + 1) = (l + dg).toByte
        rgb(p + 2) = (l + db).toByte
        x += 1
      }
      y += 1
    }
    graft.multimodal.Bmp.Image(w, h, rgb)
  }

  /** rid = doc_id*4 color JPEG 4:1:1; +1 BMP of the SAME pixels (the
    * cross-format exact twin, every doc); +2 the SAME pixels as 4:4:0
    * WITH restart markers (%3 — DRI composes with both new layouts'
    * decode path); +3 a 4:1:1 with cell (3,3) re-derived (%5 — a
    * ≤2-bit near-dup).
    */
  private def jpeg411Media(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.BmpMedia] = {
    import s.implicits._
    import graft.multimodal.{Bmp, Jpeg, Multimodal}
    Tables(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 10 === 6).as[Long]
      .flatMap { id =>
        val base = plantImage411(id, altCell = false)
        val j411 = Jpeg.encodeColor411(base)
        val bmp = Bmp.encode(base)
        Seq(Multimodal.BmpMedia(id * 4, j411, j411.length),
          Multimodal.BmpMedia(id * 4 + 1, bmp, bmp.length)) ++
          (if (id % 3 == 0) {
            val j440 = Jpeg.encodeColor440(base, restartInterval = 3)
            Seq(Multimodal.BmpMedia(id * 4 + 2, j440, j440.length))
          } else Nil) ++
          (if (id % 5 == 0) {
            val j = Jpeg.encodeColor411(plantImage411(id, altCell = true))
            Seq(Multimodal.BmpMedia(id * 4 + 3, j, j.length))
          } else Nil)
      }
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // 4:1:1 + 4:4:0 JPEG perceptual dedup: both remaining sampling
    // layouts flow through the magic-sniffed dHash/banded-hamming/CC
    // machinery — the 4:1:1 stream, the DRI'd 4:4:0 re-encode, and
    // the lossless BMP twin hash IDENTICALLY; the alt-cell 4:1:1
    // lands in the same cluster at hamming ≤ 2.
    "q302_jpeg_411_440" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(jpeg411Media(s, dir)),
          "id", "dhash", maxHamming = 6)
        .orderBy(col("id"))
    }),

    // UNLABELED-CHARSET SNIFFING: six charset classes on the div-20 %6
    // coin; %3==0 docs carry a truth-telling header label, the REST
    // carry NO label anywhere (no BOM, no header param, no meta) and
    // reach the new LAST leg of the effective-charset lattice —
    // frequency sniffing (graft.functions.Sniff: strict-UTF-8 first,
    // then high-byte pairs scored under each legacy codec's validity +
    // script-frequency weights). Labeled classes decode byte-unchanged
    // through their old legs (the sniff cannot override a label); the
    // unlabeled plant-bearing docs decode ONLY because the sniff picks
    // their codec; the default-decode CONTROL column counts exactly
    // the plant-free docs.
    "q301_charset_sniff" -> ((s, dir) => {
      import graft.sources.Warc
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val bodies = sniffBodies(s, dir)
      val pages = bodies.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Warc.httpResponseBytes(lit(200), lit("text/html"), col("label"),
          lit(""), col("body")).as("payload"))
      val land = Crawl.landWarc(pages, col("doc_id"), "q301")
      val back = Warc.readRecordsBinary(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          Warc.payloadText(col("body")).as("pt"),
          Warc.bodyBytes(col("body")).as("bb"))
      // the FULL effective-charset lattice, sniff as the last leg
      val bomCs = Warc.bomCharset(col("bb"))
      val hdrCs = Warc.httpCharset(col("pt"))
      val metaCs = Warc.metaCharset(Warc.httpBody(col("pt")))
      val sniffCs = Warc.sniffCharset(col("bb"))
      val eff = when(bomCs =!= "", bomCs)
        .otherwise(when(hdrCs =!= "", hdrCs)
          .otherwise(when(metaCs =!= "", metaCs)
            .otherwise(when(sniffCs =!= "", sniffCs)
              .otherwise(lit("utf-8")))))
      val parsed = back.select(col("doc_id"),
        (hdrCs =!= "").as("labeled"),
        sniffCs.as("sniffed"),
        Warc.decodeBody(col("bb"), eff).as("decoded"),
        graft.functions.Gzip.utf8LenientCol(col("bb")).as("u8"))
      val cls = (expr("doc_id div 20") % 6).cast("int")
      val expected = (1 until SniffClasses.length).foldLeft(
        when(cls === 0,
          translate(col("text"), "ae", SniffClasses(0)._3))) {
          (acc, i) => acc.when(cls === i,
            translate(col("text"), "ae", SniffClasses(i)._3))
        }
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"), cls.as("cls"),
          col("labeled"),
          (!col("labeled") && col("sniffed") =!= "").as("snf"),
          (col("decoded") === expected).as("cm"),
          (col("u8") === expected).as("u8m"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("labeled"), 1).otherwise(0)).cast("long")
            .as("n_labeled"),
          sum(when(col("snf"), 1).otherwise(0)).cast("long")
            .as("n_sniffed"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(when(col("cm") && col("cls") === 0, 1).otherwise(0))
            .cast("long").as("n_clean_utf8"),
          sum(when(col("cm") && col("cls") === 1, 1).otherwise(0))
            .cast("long").as("n_clean_sjis"),
          sum(when(col("cm") && col("cls") === 2, 1).otherwise(0))
            .cast("long").as("n_clean_eucjp"),
          sum(when(col("cm") && col("cls") === 3, 1).otherwise(0))
            .cast("long").as("n_clean_gbk"),
          sum(when(col("cm") && col("cls") === 4, 1).otherwise(0))
            .cast("long").as("n_clean_big5"),
          sum(when(col("cm") && col("cls") === 5, 1).otherwise(0))
            .cast("long").as("n_clean_euckr"),
          sum(when(col("u8m"), 1).otherwise(0)).cast("long")
            .as("n_default_clean"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }),

    // BROTLI TRANSPORT ONION: chunked framing (%2) x four
    // Content-Encoding classes (%4: identity / gzip / br over
    // UNCOMPRESSED meta-blocks / br over a COMPRESSED literal
    // meta-block — both br framings are valid RFC 7932 streams, the
    // second exercising the complex-prefix-code decode path in the
    // oracle-checked plan) x three charset classes (div-20 %3:
    // unlabeled UTF-8 / Shift_JIS / GBK with multibyte plants). The
    // reader peels the REAL HTTP onion in order dechunk →
    // decodeContentCoding (whose br leg is the from-scratch RFC 7932
    // inflate — the round-18 scope guard closed) → superset charset
    // decode. Per-coding clean splits make each br framing's success
    // independently observable; the clean sweep proves byte-exact
    // text through every layer and real gzipped-WARC storage.
    "q300_brotli_onion" -> ((s, dir) => {
      import graft.sources.Warc
      import graft.functions.{BrotliCols, Chunked, Gzip}
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val t = col("doc_id")
      val chunked = t % 2 === 0
      val coding = t % 4
      val enc = when(coding === 1, lit("gzip"))
        .when(coding === 2 || coding === 3, lit("br"))
        .otherwise(lit(""))
      val bodies = brBodies(s, dir)
      val b1 = when(coding === 1, Gzip.deflateCol(col("body")))
        .when(coding === 2, BrotliCols.deflateCol(col("body")))
        .when(coding === 3,
          BrotliCols.deflateCol(col("body"), literal = true))
        .otherwise(col("body"))
      val payload = when(chunked,
        Warc.httpResponseChunked(lit(200), lit("text/html"),
          col("label"), enc, b1, lit(7) + (t % 13)))
        .otherwise(Warc.httpResponseBytes(lit(200), lit("text/html"),
          col("label"), enc, b1))
      val pages = bodies.select(t, urlOf(t).as("uri"),
        payload.as("payload"))
      val land = Crawl.landWarc(pages, t, "q300")
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
      val cls = (expr("doc_id div 20") % 3).cast("int")
      val expected = (1 until BrCsClasses.length).foldLeft(
        when(cls === 0, translate(col("text"), "ae", BrCsClasses(0)._3))) {
          (acc, i) => acc.when(cls === i,
            translate(col("text"), "ae", BrCsClasses(i)._3))
        }
      val cod = col("doc_id") % 4
      val res = parsed.join(docs, Seq("doc_id"))
        .select(col("doc_id"),
          (col("te") === "chunked").as("isCh"),
          cod.as("cod"),
          (col("ce") === "br").as("isBr"),
          (col("decoded") === expected).as("cm"),
          length(col("decoded")).cast("long").as("nch"))
        .groupBy((col("doc_id") % 20).as("dom"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("isCh"), 1).otherwise(0)).cast("long")
            .as("n_chunked"),
          sum(when(col("cod") === 1, 1).otherwise(0)).cast("long")
            .as("n_gzip"),
          sum(when(col("isBr"), 1).otherwise(0)).cast("long")
            .as("n_br"),
          sum(when(col("cm"), 1).otherwise(0)).cast("long")
            .as("n_clean"),
          sum(when(col("cm") && col("cod") === 2, 1).otherwise(0))
            .cast("long").as("n_clean_br_stored"),
          sum(when(col("cm") && col("cod") === 3, 1).otherwise(0))
            .cast("long").as("n_clean_br_lit"),
          sum(col("nch")).as("sum_chars"))
        .orderBy(col("dom"))
        .localCheckpoint()
      Streams.rmTree(land)
      res
    }))

  // dechunk ∘ content-decode ∘ charset-decode is the identity through
  // every (framing x coding x charset) combination; the oracle
  // predicts the clean sweep and every coin count from id arithmetic
  // alone (the q299 posture with the br legs live)
  val oracleSql: Map[String, String] = Map(
    // hashes replay from the cell formula (the q290 argument at the
    // 4:1:1 / 4:4:0 layouts: uniform per-image casts shift every
    // dHash sample equally; constant chroma planes box-average
    // exactly under any hs×vs)
    "q302_jpeg_411_440" ->
      s"""WITH RECURSIVE jvdims AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 6),
         |jvimgs AS (
         |  SELECT doc_id*4 AS rid, doc_id AS id0, 0 AS alt FROM jvdims
         |  UNION ALL SELECT doc_id*4+1, doc_id, 0 FROM jvdims
         |  UNION ALL SELECT doc_id*4+2, doc_id, 0 FROM jvdims WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+3, doc_id, 1 FROM jvdims WHERE doc_id % 5 = 0),
         |jvcells AS (
         |  SELECT rid, gy, gx,
         |    30 + (hh % 5) * 40 + ((gx + gy) % 2) * 12 AS gray
         |  FROM (
         |    SELECT rid, gy.g AS gy, gx.g AS gx,
         |      ('0x'||substr(md5('cj411:' || (CASE WHEN alt = 1 AND gx.g = 3 AND gy.g = 3 THEN id0 + 999983 ELSE id0 END) || ':' || gx.g || ':' || gy.g), 1, 15))::BIGINT AS hh
         |    FROM jvimgs,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gy,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gx) t),
         |jvdh AS (
         |  SELECT l.rid, CAST(SUM(CASE WHEN r.gray > l.gray
         |      THEN 1::BIGINT << (l.gy*7 + l.gx) ELSE 0 END) AS BIGINT)
         |    AS dhash
         |  FROM jvcells l JOIN jvcells r
         |    ON r.rid = l.rid AND r.gy = l.gy AND r.gx = l.gx + 1
         |  WHERE l.gx < 7 GROUP BY l.rid),
         |jvbands AS (
         |  SELECT rid, dhash, bb.band,
         |    (dhash >> (bb.band * 14)) & 16383 AS v
         |  FROM jvdh, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |jvpairs AS (
         |  SELECT a, b FROM (
         |    SELECT DISTINCT x.rid AS a, y.rid AS b,
         |      x.dhash AS ha, y.dhash AS hb
         |    FROM jvbands x JOIN jvbands y
         |      ON x.band = y.band AND x.v = y.v AND x.rid < y.rid) t
         |  WHERE bit_count(xor(ha, hb)) <= 6),
         |${Corpus.ccCompactSql("jv")}
         |SELECT d.rid AS id, d.dhash,
         |  COALESCE(l.clus, d.rid) AS cluster,
         |  (COALESCE(l.clus, d.rid) <> d.rid) AS is_dup
         |FROM jvdh d LEFT JOIN jvlabels l ON l.node = d.rid
         |ORDER BY d.rid""".stripMargin,
    // the sniff decision is a THEOREM of the plant counts (each plant
    // pair strictly outscores every other valid codec; strict-UTF-8
    // decides class 0; no plants → abstain → the already-correct
    // default): labeled docs decode through their label, unlabeled
    // plant-bearing docs through the sniff, plant-free docs through
    // the default — a clean sweep, with n_sniffed and the control
    // column replayed from (n_a + n_e) per document
    "q301_charset_sniff" ->
      s"""WITH pc AS (SELECT doc_id, text,
         |    (doc_id // 20) % 6 AS cls,
         |    length(text) - length(replace(replace(text, 'a', ''), 'e', '')) AS plants
         |  FROM documents)
         |SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_labeled,
         |  CAST(SUM(CASE WHEN doc_id % 3 <> 0 AND plants >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sniffed,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_utf8,
         |  CAST(SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_sjis,
         |  CAST(SUM(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_eucjp,
         |  CAST(SUM(CASE WHEN cls = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_gbk,
         |  CAST(SUM(CASE WHEN cls = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_big5,
         |  CAST(SUM(CASE WHEN cls = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_euckr,
         |  CAST(SUM(CASE WHEN cls = 0 OR plants = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_default_clean,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM pc GROUP BY 1 ORDER BY dom""".stripMargin,

    "q300_brotli_onion" ->
      s"""SELECT doc_id % 20 AS dom,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_chunked,
         |  CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gzip,
         |  CAST(SUM(CASE WHEN doc_id % 4 IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_br,
         |  CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_br_stored,
         |  CAST(SUM(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_br_lit,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY dom""".stripMargin)
}
