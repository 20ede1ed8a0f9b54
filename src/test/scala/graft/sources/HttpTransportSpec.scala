package graft.sources

import graft.SparkSpec
import graft.functions.Gzip
import graft.queries.fixtures.Streams
import org.apache.spark.sql.functions._

/** The binary HTTP transport layer: charset-parameterized bodies,
  * Content-Encoding gzip entity bodies, the latin-1 payload bijection,
  * and magic-byte mime sniffing.
  */
class HttpTransportSpec extends SparkSpec {
  import spark.implicits._

  test("gzip deflate/inflate roundtrip; non-gzip input is NULL; corrupt is loud") {
    val txt = "the café menu of €42 — repeated " * 20
    val df = Seq(txt).toDF("t")
      .select(Gzip.inflateCol(Gzip.deflateCol(encode(col("t"), "UTF-8")))
        .as("b"))
      .select(decode(col("b"), "UTF-8").as("back"))
    assert(df.head().getString(0) == txt)
    // identity bytes (no magic) surface as NULL, not garbage
    val nul = Seq("plain").toDF("t")
      .select(Gzip.inflateCol(encode(col("t"), "UTF-8")).as("b"))
    assert(nul.head().isNullAt(0))
    // corrupt member past the magic throws
    intercept[Exception] {
      Seq(Array[Byte](0x1F, 0x8B.toByte, 1, 2, 3)).toDF("b")
        .select(Gzip.inflateCol(col("b"))).collect()
    }
  }

  test("latin-1 payload bijection recovers exact body bytes around headers") {
    val body = Array[Byte](0, 1, 0x1F, 0x8B.toByte, 0xE9.toByte,
      '\r', '\n', '\r', '\n', 0xFF.toByte)
    val df = Seq((200, body)).toDF("st", "bb")
      .select(Warc.httpResponseBytes(col("st"), lit("text/html"),
        lit(""), lit(""), col("bb")).as("p"))
      .select(Warc.bodyBytes(col("p")).as("back"),
        Warc.httpStatus(Warc.payloadText(col("p"))).as("status"))
    val r = df.head()
    assert(r.getAs[Array[Byte]](0).toSeq == body.toSeq)
    assert(r.getInt(1) == 200)
  }

  test("charset header extraction and per-charset body decode") {
    val txt = "naïve café: über-résumé"
    val rows = Seq(("UTF-8", "utf-8"), ("ISO-8859-1", "iso-8859-1"))
      .map { case (enc, decl) => (enc, decl, txt) }
    val df = rows.toDF("enc", "decl", "t")
      .select(col("enc"),
        Warc.httpResponseBytes(lit(200), lit("text/html"), col("decl"),
          lit(""), when(col("enc") === "UTF-8", encode(col("t"), "UTF-8"))
            .otherwise(encode(col("t"), "ISO-8859-1"))).as("p"),
        col("t"))
      .select(col("enc"), col("t"),
        Warc.payloadText(col("p")).as("pt"),
        Warc.bodyBytes(col("p")).as("bb"))
      .select(col("enc"),
        Warc.httpCharset(col("pt")).as("cs"),
        Warc.httpContentType(col("pt")).as("ct"),
        (Warc.decodeBody(col("bb"), Warc.httpCharset(col("pt"))) ===
          col("t")).as("cm"))
    val rows2 = df.collect()
    rows2.foreach { r =>
      assert(r.getString(2) == "text/html")
      assert(r.getBoolean(3), s"decode mismatch for ${r.getString(0)}")
    }
    // and the charset parameter parses from the header
    assert(rows2.map(_.getString(1)).toSet ==
      Set("utf-8", "iso-8859-1"))
  }

  test("cross-charset decode FAILS the clean match (the branch is load-bearing)") {
    val txt = "naïve café"
    // latin-1 bytes declared utf-8 → replacement chars → mismatch
    val df = Seq(txt).toDF("t")
      .select((Warc.decodeBody(encode(col("t"), "ISO-8859-1"),
        lit("utf-8")) === col("t")).as("cm"))
    assert(!df.head().getBoolean(0))
  }

  test("Content-Encoding gzip body inflates through the header-driven branch") {
    val txt = "compressed payload body " * 10
    val df = Seq(txt).toDF("t")
      .select(Warc.httpResponseBytes(lit(200), lit("text/html"),
        lit("utf-8"), lit("gzip"),
        Gzip.deflateCol(encode(col("t"), "UTF-8"))).as("p"), col("t"))
      .select(Warc.payloadText(col("p")).as("pt"),
        Warc.bodyBytes(col("p")).as("bb"), col("t"))
      .select(Warc.httpContentEncoding(col("pt")).as("enc"),
        (decode(when(Warc.httpContentEncoding(col("pt")) === "gzip",
          Gzip.inflateCol(col("bb"))).otherwise(col("bb")), "UTF-8")
          === col("t")).as("cm"))
    val r = df.head()
    assert(r.getString(0) == "gzip")
    assert(r.getBoolean(1))
  }

  test("mime sniff recognizes every shipped container plus html, else octet-stream") {
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 1, 2)
      .map(_.toByte)
    val jpg = Array(0xFF, 0xD8, 0xFF, 0xE0, 9).map(_.toByte)
    val wav = ("RIFF0000WAVEfmt ").getBytes("ISO-8859-1")
    val bmp = "BMxxxx".getBytes("ISO-8859-1")
    val htm = "  \n<html><body>x</body></html>".getBytes("ISO-8859-1")
    val other = Array[Byte](7, 7, 7)
    val gz = Gzip.deflate("payload".getBytes("UTF-8"))
    val rows = Seq(("png", png), ("jpg", jpg), ("wav", wav),
      ("bmp", bmp), ("htm", htm), ("oct", other), ("gz", gz))
    val got = rows.toDF("k", "b")
      .select(col("k"), MimeSniff.sniff(col("b")).as("m"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("png" -> "image/png", "jpg" -> "image/jpeg",
      "wav" -> "audio/wav", "bmp" -> "image/bmp",
      "htm" -> "text/html", "oct" -> "application/octet-stream",
      "gz" -> "application/gzip"))
  }

  test("metaCharset: modern form wins over http-equiv, '' when neither") {
    val rows = Seq(
      ("modern", """<html><head><meta charset="ISO-8859-1"></head>"""),
      ("unquoted", "<meta charset=utf-8>"),
      ("legacy", """<meta http-equiv="Content-Type" """ +
        """content="text/html; charset=windows-1252">"""),
      ("both", """<meta charset='utf-8'>""" +
        """<meta http-equiv="Content-Type" content="charset=latin-9">"""),
      ("none", "<html><body>plain</body></html>"))
    val got = rows.toDF("k", "b")
      .select(col("k"), Warc.metaCharset(col("b")).as("cs"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("modern" -> "iso-8859-1", "unquoted" -> "utf-8",
      "legacy" -> "windows-1252", "both" -> "utf-8", "none" -> ""))
  }

  test("httpEtag: weak validators keep W/ AND their value — two weak " +
      "etags with different values must not compare equal") {
    val resp = (etagHdr: String) =>
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n$etagHdr\r\nbody"
    val rows = Seq(
      ("strong", resp("ETag: \"abc\"\r\n")),
      ("weakA", resp("ETag: W/\"abc\"\r\n")),
      ("weakB", resp("etag: W/\"xyz\"\r\n")), // case-insensitive field
      ("unquoted", resp("ETag: token123\r\n")),
      ("none", resp("")))
    val got = rows.toDF("k", "p")
      .select(col("k"), Warc.httpEtag(col("p")).as("e"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("strong" -> "abc", "weakA" -> "W/abc",
      "weakB" -> "W/xyz", "unquoted" -> "token123", "none" -> ""))
    // the latent false-304: weakA vs weakB values differ, so a
    // validator compare must see them differ
    assert(got("weakA") != got("weakB"))
    // and a weak validator never compares equal to its strong twin
    assert(got("weakA") != got("strong"))
  }

  test("caching headers: max-age extraction (s-maxage must not " +
      "match), IMF-fixdate roundtrip, invalid Expires -> NULL " +
      "(= already expired)") {
    val mk = (cc: String, exp: String) =>
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        (if (cc.isEmpty) "" else s"Cache-Control: $cc\r\n") +
        (if (exp.isEmpty) "" else s"Expires: $exp\r\n") + "\r\nbody"
    val rows = Seq(
      ("plain", mk("public, max-age=3600", "")),
      ("smaxage", mk("s-maxage=99", "")), // proxy directive: no match
      ("both", mk("no-transform, max-age=0", "Wed, 01 Jan 2025 00:00:00 GMT")),
      ("badexp", mk("", "0")), // RFC 9111: invalid date = expired
      ("none", mk("", "")))
    val got = rows.toDF("k", "p")
      .select(col("k"), Warc.httpCacheControlMaxAge(col("p")).as("ma"),
        Warc.httpDateEpoch(Warc.httpExpires(col("p"))).as("exp"))
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)),
          (if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(got("plain") == ((3600L, -1L)))
    assert(got("smaxage") == ((-1L, -1L)))
    assert(got("both") == ((0L, 1735689600L)))
    assert(got("badexp") == ((-1L, -1L)))
    assert(got("none") == ((-1L, -1L)))
    // formatter/parser are inverses at second granularity
    val round = Seq(1735689600L, 784111777L).toDF("e")
      .select(col("e"),
        Warc.httpDateEpoch(Warc.httpDateOf(col("e"))).as("back"))
      .collect()
    round.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("binary segment write/read roundtrips non-UTF-8 payload bytes") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warcbin").toString
    val payload = Array[Byte](0x1F, 0x8B.toByte, 0, 0xE9.toByte,
      0xFF.toByte, '\r', '\n')
    Warc.writeSegmentsBinary(
      Seq(("http://a/1", payload)).toDF("uri", "p").repartition(1),
      "uri", "p", dir, gzip = true)
    val back = Warc.readRecordsBinary(spark, dir).collect()
    assert(back.length == 1)
    assert(back(0).getString(0) == "http://a/1")
    assert(back(0).getAs[Array[Byte]](1).toSeq == payload.toSeq)
    Streams.rmTree(dir)
  }
}
