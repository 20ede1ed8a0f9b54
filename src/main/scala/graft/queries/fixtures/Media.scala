package graft.queries.fixtures

import graft.multimodal.{AudioFp, Wav}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Media fixtures: planted image and audio corpora under every codec,
  * and the perceptual-hash oracle CTEs.
  */
object Media {

  /** q110/q137 image corpus: md5-derived dims + a per-document
    * NONLINEAR pixel formula (distinct phase per doc, so unrelated
    * documents get genuinely different gradient structure — a linear
    * ramp would collide most images in dHash space). rid = doc_id*4
    * (original), +1 re-encoded copy (%3: decode->encode, same pixels),
    * +2 2x nearest-neighbor upscale (%5), +3 phase-shifted
    * near-variant (%7: off=8, hamming small but nonzero — exercises
    * the verify threshold both ways).
    */
  private[queries] def bmpMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.BmpMedia] =
    mediaCorpus(s, dir, graft.multimodal.Bmp.encode _,
      graft.multimodal.Bmp.decode _)

  /** [[bmpMedia]] parameterized by codec: the SAME planted corpus
    * (ids, dims, pixel formulas) under any encode/decode pair — q174
    * passes the PNG codec and reuses q110's oracle VERBATIM, because
    * the oracle replays decoded pixels and the container format is
    * exactly what must not matter.
    */
  private[queries] def mediaCorpus(s: SparkSession, dir: String,
      enc: graft.multimodal.Bmp.Image => Array[Byte],
      dec: Array[Byte] => graft.multimodal.Bmp.Image)
      : org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.BmpMedia] = {
    import s.implicits._
    import graft.multimodal.{Bmp, Multimodal}
    val docs = Tables(s, dir, "documents").filter(col("doc_id") % 10 === 0)
    val h = md5(col("text"))
      def byteAt(i: Int) =
        conv(substring(h, 2 * i + 1, 2), 16, 10).cast("int")
      def pix(id: Long, i: Int, off: Int): Byte =
        ((id * 2654435761L + i.toLong * (i + 7) + off) % 256).toByte
      // dims 8..23: with width >= 8 the 8-wide dHash sample grid hits
      // 8 DISTINCT columns — widths below the grid would degenerate
      // entire images to dhash 0 (giant false cliques)
      val base = docs.select(col("doc_id").cast("long").as("id"),
          (byteAt(0) % 16 + 8).as("w"), (byteAt(1) % 16 + 8).as("h"))
        .as[(Long, Int, Int)]
        .mapPartitions(_.map { case (id, w, hh) =>
          val rgb = Array.tabulate(w * hh * 3)(i => pix(id, i, 0))
          val p = enc(Bmp.Image(w, hh, rgb))
          Multimodal.BmpMedia(id, p, p.length)
        })
      val orig = base.mapPartitions(_.map(m => m.copy(doc_id = m.doc_id * 4)))
      val reenc = base.filter((m: Multimodal.BmpMedia) => m.doc_id % 3 == 0)
        .mapPartitions(_.map { m =>
          val p = enc(dec(m.payload))
          Multimodal.BmpMedia(m.doc_id * 4 + 1, p, p.length)
        })
      val resized = base.filter((m: Multimodal.BmpMedia) => m.doc_id % 5 == 0)
        .mapPartitions(_.map { m =>
          val img = dec(m.payload)
          val p = enc(Bmp.resample(img, img.width * 2, img.height * 2))
          Multimodal.BmpMedia(m.doc_id * 4 + 2, p, p.length)
        })
      val shifted = base.filter((m: Multimodal.BmpMedia) => m.doc_id % 7 == 0)
        .mapPartitions(_.map { m =>
          val img = dec(m.payload)
          val rgb = Array.tabulate(img.rgb.length)(i => pix(m.doc_id, i, 8))
          val p = enc(Bmp.Image(img.width, img.height, rgb))
          Multimodal.BmpMedia(m.doc_id * 4 + 3, p, p.length)
        })
      orig.union(reenc).union(resized).union(shifted)
  }

  /** q110/q137 oracle prefix: the generative image formulas replayed
    * down to per-image dHash — CTE chain ending at `dh(rid, dhash)`.
    * rid%4=0 are originals; +1 re-encoded, +2 resized, +3 shifted.
    */
  private[queries] def imageDhCtesSql: String = imageDhCtes("")

  /** The same chain with suffixed CTE names (`dh$sfx` etc.) so it can
    * share a WITH clause with the audio chain, whose `dims` would
    * otherwise collide (q155).
    */
  private[queries] def imageDhCtes(sfx: String): String =
    s"""dims$sfx AS (
         |  SELECT doc_id, ('0x'||substr(md5(text),1,2))::INT % 16 + 8 AS w,
         |         ('0x'||substr(md5(text),3,2))::INT % 16 + 8 AS h
         |  FROM documents WHERE doc_id % 10 = 0),
         |imgs$sfx AS (
         |  SELECT doc_id*4 AS rid, doc_id AS id0, w, h, 0 AS off, 1 AS sc
         |  FROM dims$sfx
         |  UNION ALL SELECT doc_id*4+1, doc_id, w, h, 0, 1 FROM dims$sfx
         |    WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+2, doc_id, w, h, 0, 2 FROM dims$sfx
         |    WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id*4+3, doc_id, w, h, 8, 1 FROM dims$sfx
         |    WHERE doc_id % 7 = 0),
         |cells$sfx AS (
         |  SELECT rid, gy, gx,
         |    ((id0*2654435761 + b*(b+7) + off) % 256
         |     + (id0*2654435761 + (b+1)*(b+8) + off) % 256
         |     + (id0*2654435761 + (b+2)*(b+9) + off) % 256) // 3 AS gray
         |  FROM (
         |    SELECT rid, id0, off, gy.g AS gy, gx.g AS gx,
         |      ((gy.g*(h*sc)//8)//sc*w + (gx.g*(w*sc)//8)//sc)*3 AS b
         |    FROM imgs$sfx,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gy,
         |      (SELECT unnest(generate_series(0, 7)) AS g) gx)),
         |dh$sfx AS (
         |  SELECT l.rid, CAST(SUM(CASE WHEN r.gray > l.gray
         |      THEN 1::BIGINT << (l.gy*7 + l.gx) ELSE 0 END) AS BIGINT)
         |    AS dhash
         |  FROM cells$sfx l JOIN cells$sfx r
         |    ON r.rid = l.rid AND r.gy = l.gy AND r.gx = l.gx + 1
         |  WHERE l.gx < 7 GROUP BY l.rid)""".stripMargin

  /** q110's oracle, also declared by the codec variants (q174, q137)
    * that must cluster the same planted pixels.
    */
  private[queries] val perceptualDedupSql: String =
    s"""WITH RECURSIVE ${imageDhCtesSql},
       |bands AS (
       |  SELECT rid, dhash, bb.band,
       |    (dhash >> (bb.band * 14)) & 16383 AS v
       |  FROM dh, (SELECT unnest(generate_series(0, 3)) AS band) bb),
       |pairs AS (
       |  SELECT a, b FROM (
       |    SELECT DISTINCT x.rid AS a, y.rid AS b,
       |      x.dhash AS ha, y.dhash AS hb
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.v = y.v AND x.rid < y.rid)
       |  WHERE bit_count(xor(ha, hb)) <= 6),
       |${Corpus.ccCompactSql("")}
       |SELECT d.rid AS id, d.dhash,
       |  COALESCE(l.clus, d.rid) AS cluster,
       |  (COALESCE(l.clus, d.rid) <> d.rid) AS is_dup
       |FROM dh d LEFT JOIN labels l ON l.node = d.rid
       |ORDER BY d.rid""".stripMargin

  /** One WAV clip per `docs(doc_id, text)` row, keyed by its doc_id:
    * 8 kHz mono, 512 + 8·(first md5 byte) samples. ScaleProbe's audio
    * rows and [[audioMedia]] plant the same clips.
    */
  private[graft] def wavClips(s: SparkSession, docs: DataFrame)
      : Dataset[AudioFp.AudioMedia] = {
    import s.implicits._
    val h = md5(col("text"))
    // Clip samples are a quadratic-in-i polynomial mod 2^14 whose
    // THREE coefficients come from the text's md5 — a 2^42 coefficient
    // space, so clips never alias however many there are (an
    // id-multiplier formula has only 2^14 slope classes — mod-2^14
    // reduction aliases them at corpus scale, the audio analogue of
    // q110's linear-ramp lesson; found when the 64x probe's replicas
    // collided). Per-doc pseudo-noise, same derivation in the oracle.
    def hx(from: Int, len: Int) =
      conv(substring(h, from, len), 16, 10).cast("long")
    def sample(s1: Long, s2: Long, s3: Long, i: Int): Short =
      ((((s1 + 1) * (i + 3) + (s2 + 1) * i.toLong * (i + 7) + s3)
        % 16384L) - 8192L).toShort
    docs
      .select(col("doc_id").cast("long").as("id"),
        (hx(1, 2).cast("int") * 8 + 512).as("n"),
        (hx(3, 4) % 16384L).as("s1"), (hx(7, 4) % 16384L).as("s2"),
        (hx(11, 4) % 16384L).as("s3"))
      .as[(Long, Int, Long, Long, Long)]
      .mapPartitions(_.map { case (id, n, s1, s2, s3) =>
        val p = Wav.encode(
          Wav.Audio(8000, 1, Array.tabulate(n)(i => sample(s1, s2, s3, i))))
        AudioFp.AudioMedia(id, p, p.length)
      })
  }

  /** q129/q131's planted clip corpus: [[wavClips]] of every tenth doc,
    * plus re-encoded (%3), 2x-resampled (%5), and gain-doubled (%7)
    * variants.
    */
  private[queries] def audioMedia(s: SparkSession, dir: String) = {
    import s.implicits._
    val base = wavClips(s,
      Tables(s, dir, "documents").filter(col("doc_id") % 10 === 0))
    val orig = base.mapPartitions(_.map(m => m.copy(doc_id = m.doc_id * 4)))
    val reenc = base.filter((m: AudioFp.AudioMedia) => m.doc_id % 3 == 0)
      .mapPartitions(_.map { m =>
        val p = Wav.encode(Wav.decode(m.payload))
        AudioFp.AudioMedia(m.doc_id * 4 + 1, p, p.length)
      })
    val resamp = base.filter((m: AudioFp.AudioMedia) => m.doc_id % 5 == 0)
      .mapPartitions(_.map { m =>
        val a = Wav.decode(m.payload)
        val p = Wav.encode(Wav.resample(a, a.frames * 2))
        AudioFp.AudioMedia(m.doc_id * 4 + 2, p, p.length)
      })
    val gained = base.filter((m: AudioFp.AudioMedia) => m.doc_id % 7 == 0)
      .mapPartitions(_.map { m =>
        val a = Wav.decode(m.payload)
        val p = Wav.encode(a.copy(
          samples = a.samples.map(v => (v * 2).toShort)))
        AudioFp.AudioMedia(m.doc_id * 4 + 3, p, p.length)
      })
    orig.union(reenc).union(resamp).union(gained)
  }

  /** q129/q131/q132/q138 oracle prefix: the generative clip formulas
    * replayed down to the 52-bit spectral fingerprint — CTE chain
    * ending at `fp(rid, afp)`. rid%4=0 are originals; +1 re-encoded,
    * +2 resampled, +3 gain-doubled.
    */
  private[queries] def audioFpCtesSql: String =
    """dims AS (
         |  SELECT doc_id, ('0x'||substr(md5(text),1,2))::INT * 8 + 512 AS n,
         |    ('0x'||substr(md5(text),3,4))::BIGINT % 16384 AS s1,
         |    ('0x'||substr(md5(text),7,4))::BIGINT % 16384 AS s2,
         |    ('0x'||substr(md5(text),11,4))::BIGINT % 16384 AS s3
         |  FROM documents WHERE doc_id % 10 = 0),
         |clips AS (
         |  SELECT doc_id*4 AS rid, n, s1, s2, s3, 1 AS sc, 1 AS vol
         |  FROM dims
         |  UNION ALL SELECT doc_id*4+1, n, s1, s2, s3, 1, 1 FROM dims
         |    WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+2, n, s1, s2, s3, 2, 1 FROM dims
         |    WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id*4+3, n, s1, s2, s3, 1, 2 FROM dims
         |    WHERE doc_id % 7 = 0),
         |probes AS (
         |  SELECT rid, j, j // 16 AS w,
         |    vol * ((((s1+1)*(idx+3) + (s2+1)*idx*(idx+7) + s3) % 16384)
         |      - 8192) AS p
         |  FROM (
         |    SELECT c.rid, c.s1, c.s2, c.s3, c.vol, js.j,
         |      (js.j*(c.n*c.sc)//128)//c.sc AS idx
         |    FROM clips c,
         |      (SELECT unnest(generate_series(0, 127)) AS j) js) t),
         |lagt AS (SELECT unnest([0,1,2,4]) AS lag,
         |                unnest([0,1,2,3]) AS bi),
         |en AS (
         |  SELECT x.rid, x.w, lt.bi,
         |    CAST(SUM(CASE WHEN lt.lag = 0 THEN x.p*x.p
         |             ELSE (y.p-x.p)*(y.p-x.p) END) AS BIGINT) AS e
         |  FROM probes x
         |  CROSS JOIN lagt lt
         |  JOIN probes y
         |    ON y.rid = x.rid AND y.j = x.j + lt.lag AND y.w = x.w
         |  GROUP BY 1, 2, 3),
         |fpt AS (
         |  SELECT l.rid,
         |    CAST(COALESCE(SUM(CASE WHEN r.e > l.e
         |      THEN (1::BIGINT << (l.bi*7 + l.w)) END), 0) AS BIGINT) AS ht
         |  FROM en l JOIN en r
         |    ON r.rid = l.rid AND r.bi = l.bi AND r.w = l.w + 1
         |  WHERE l.w < 7
         |  GROUP BY l.rid),
         |fpsp AS (
         |  SELECT l.rid,
         |    CAST(COALESCE(SUM(CASE WHEN r.e > l.e
         |      THEN (1::BIGINT << (28 + l.w*3 + l.bi)) END), 0) AS BIGINT)
         |      AS hs
         |  FROM en l JOIN en r
         |    ON r.rid = l.rid AND r.w = l.w AND r.bi = l.bi + 1
         |  WHERE l.bi < 3
         |  GROUP BY l.rid),
         |fp AS (SELECT t.rid, t.ht | s2.hs AS afp
         |  FROM fpt t JOIN fpsp s2 USING (rid))""".stripMargin

  // ---- JPEG perceptual dedup (q201) ----------------------------------
  // JPEG is LOSSY, so the q110/q174 trick (oracle replays pixels
  // verbatim) needs a MARGIN argument instead of bit-exact pixels: the
  // plant is a 64x64 grid of 8x8 CONSTANT cells,
  //   cell = 24 + 32·(md5 % 6) + 8·((gx+gy) % 2),
  // plus a ±2 high-frequency texture that is zero at the dHash sample
  // points (corners x=8gx, y=8gy have (x+y)%2=0). Adjacent cells
  // differ by >= 8 gray levels (equal md5 digits leave the 8-step
  // parity offset; different digits dominate it), and baseline-JPEG
  // roundtrip error at quant 1 is <= 3 (JpegSpec asserts) — so every
  // dHash BIT, and therefore every pair and cluster, is exact even
  // though pixels are not, while comparison SIGNS stay md5-random.
  // (A first cut used low/high checkerboard RANGES: alternation made
  // every comparison's sign a function of position alone — all 1167
  // images hashed IDENTICALLY and the "dedup" was one 680k-pair
  // clique. The r8/r9 generative-formula lesson: margins must not
  // destroy the entropy the hash is supposed to measure.)

  private[graft] def jpegCell(id0: Long, gx: Int, gy: Int): Int = {
    val h = graft.functions.TextHash.md5Low60(s"jp:$id0:$gx:$gy")
    (24 + (h % 6) * 32 + ((gx + gy) % 2) * 8).toInt
  }

  private[graft] def jpegPlantImage(id0: Long,
      altCell: Boolean): graft.multimodal.Bmp.Image = {
    val w = 64; val h = 64
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val gx = x / 8; val gy = y / 8
        val idc = if (altCell && gx == 3 && gy == 3) id0 + 999983L else id0
        val v = (jpegCell(idc, gx, gy) + ((x + y) % 2) * 2).toByte
        val p = (y * w + x) * 3
        rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
        x += 1
      }
      y += 1
    }
    graft.multimodal.Bmp.Image(w, h, rgb)
  }

  // ---- color JPEG perceptual dedup (q274, q290) ---------------------
  // Per-cell LUMA margins (≥12 between adjacent cells) + a UNIFORM
  // per-image color cast: the cast shifts every dHash sample by the
  // same integer ((3l+s)/3 is l plus a constant for every l), so the
  // hash equals the lossless twin's bit-for-bit, while the chroma
  // planes are genuinely non-gray — the color path is real, the
  // oracle replays hashes from the cell formula (the q201 posture).
  // q290 takes the same posture to the 4:2:2 sampling layout: constant
  // chroma planes make horizontal box-averaging exact and the
  // reconstruction shift uniform per image. Each plant salts its md5
  // draws with its own tag, so the two corpora differ.

  private val ColorCasts: Array[(Int, Int, Int)] =
    Array((0, 0, 0), (16, -8, -4), (-16, 8, 4), (12, 4, -16))

  /** The 64x64 cast plant: 8x8 luma cells from md5 draws salted by
    * `tag`, a ±2 texture, and one of [[ColorCasts]] per image.
    */
  private def castPlantImage(tag: String, id0: Long,
      altCell: Boolean): graft.multimodal.Bmp.Image = {
    def cell(id: Long, gx: Int, gy: Int): Int = {
      val h = graft.functions.TextHash.md5Low60(s"cj$tag:$id:$gx:$gy")
      (30 + (h % 5) * 40 + ((gx + gy) % 2) * 12).toInt
    }
    val w = 64; val h = 64
    val (dr, dg, db) = ColorCasts(
      (graft.functions.TextHash.md5Low60(s"cast$tag:$id0") % 4).toInt)
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val gx = x / 8; val gy = y / 8
        val idc = if (altCell && gx == 3 && gy == 3) id0 + 999983L else id0
        val l = cell(idc, gx, gy) + ((x + y) % 2) * 2
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

  /** q274's color plant. */
  private[graft] def colorPlantImage(id0: Long,
      altCell: Boolean): graft.multimodal.Bmp.Image =
    castPlantImage("", id0, altCell)

  /** q290's 4:2:2 plant. */
  private[graft] def plantImage422(id0: Long,
      altCell: Boolean): graft.multimodal.Bmp.Image =
    castPlantImage("422", id0, altCell)
}
