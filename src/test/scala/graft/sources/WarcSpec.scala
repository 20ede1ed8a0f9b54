package graft.sources

import graft.SparkSpec
import java.nio.charset.StandardCharsets.UTF_8
import graft.queries.fixtures.Streams

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def rec(uri: String, body: String) = (uri, body.getBytes(UTF_8))

  test("segment roundtrip preserves records, order, and bytes") {
    val recs = Seq(
      rec("http://a.com/1", "hello <b>world</b>"),
      rec("http://a.com/2", ""), // empty payload is legal
      rec("http://b.com/x", "line1\r\nline2")) // CRLF inside payload
    val bytes = Warc.writeSegment(recs.iterator)
    val back = Warc.parseSegment(bytes)
    assert(back.map(_._1) == recs.map(_._1))
    assert(back.map(r => new String(r._2, UTF_8)) ==
      recs.map(r => new String(r._2, UTF_8)))
  }

  test("malformed segments fail loudly, never plausibly") {
    val good = Warc.writeSegment(Iterator(rec("http://a/1", "abc")))
    def bad(b: Array[Byte]) =
      intercept[IllegalArgumentException](Warc.parseSegment(b))
    // truncated payload
    assert(bad(good.dropRight(5)).getMessage.contains("WARC parse"))
    // wrong magic
    val wrong = ("HTTP/1.0\r\n" + new String(good, UTF_8).drop(10))
      .getBytes(UTF_8)
    assert(bad(wrong).getMessage.contains("expected WARC/1.0"))
    // missing Content-Length
    val noLen = "WARC/1.0\r\nWARC-Target-URI: u\r\n\r\nxx\r\n\r\n"
      .getBytes(UTF_8)
    assert(bad(noLen).getMessage.contains("Content-Length"))
  }

  test("write/read through files recovers the full relation") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warc-spec").toString
    val df = (1L to 37L)
      .map(i => (s"http://d${i % 3}.example.com/p/$i", s"body $i <p>x</p>"))
      .toDF("uri", "html")
    Warc.writeSegments(df.repartition(4), "uri", "html", dir)
    val back = Warc.readRecords(spark, dir)
      .as[(String, String)].collect().toSet
    assert(back == (1L to 37L)
      .map(i => (s"http://d${i % 3}.example.com/p/$i", s"body $i <p>x</p>"))
      .toSet)
    Streams.rmTree(dir)
  }

  test("segment names are deterministic; re-landing never duplicates") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warc-retry").toString
    val df = (1L to 20L).map(i => (s"http://h/p/$i", s"b$i"))
      .toDF("uri", "html").repartition(3)
    // a retried/speculative attempt re-lands its partition: same
    // partition-id name, atomic replace — never a second copy
    Warc.writeSegments(df, "uri", "html", dir)
    Warc.writeSegments(df, "uri", "html", dir)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val names = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.map(_.getFileName.toString).toList.sorted
    } finally files.close()
    assert(names.forall(_.matches("segment-\\d{5}\\.warc")))
    assert(names.size <= 3) // one per non-empty partition, no UUID dups
    assert(Warc.readRecords(spark, dir).count() == 20L)
    Streams.rmTree(dir)
  }

  test("gzip segments roundtrip: per-record members, magic-byte " +
      "self-identification, corrupt bytes loud") {
    val recs = Seq(
      rec("http://a.com/1", "hello <b>world</b>"),
      rec("http://a.com/2", ""),
      rec("http://b.com/x", "line1\r\nline2"))
    val gz = Warc.writeSegment(recs.iterator, gzip = true)
    // magic present, and the segment is genuinely multi-member (one
    // 0x1F8B header per record)
    assert((gz(0) & 0xFF) == 0x1F && (gz(1) & 0xFF) == 0x8B)
    val magics = gz.sliding(2).count(p =>
      (p(0) & 0xFF) == 0x1F && (p(1) & 0xFF) == 0x8B)
    assert(magics >= 3)
    val back = Warc.parseSegment(gz)
    assert(back.map(_._1) == recs.map(_._1))
    assert(back.map(r => new String(r._2, UTF_8)) ==
      recs.map(r => new String(r._2, UTF_8)))
    // plain segments still parse (self-identified, no flag)
    val plain = Warc.writeSegment(recs.iterator)
    assert(Warc.parseSegment(plain).map(_._1) == recs.map(_._1))
    // corrupt gzip bytes are loud
    val corrupt = gz.clone(); corrupt(10) = (corrupt(10) ^ 0x55).toByte
    intercept[Exception](Warc.parseSegment(corrupt))
  }

  test("gzipped write/read through files recovers the full relation") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warc-gz").toString
    val df = (1L to 37L)
      .map(i => (s"http://d${i % 3}.example.com/p/$i", s"body $i <p>x</p>"))
      .toDF("uri", "html")
    Warc.writeSegments(df.repartition(4), "uri", "html", dir,
      gzip = true)
    val back = Warc.readRecords(spark, dir)
      .as[(String, String)].collect().toSet
    assert(back == (1L to 37L)
      .map(i => (s"http://d${i % 3}.example.com/p/$i", s"body $i <p>x</p>"))
      .toSet)
    Streams.rmTree(dir)
  }

  test("httpContentType strips parameters; httpLocation reads the " +
      "redirect target header-anchored") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\nbody"),
      (2L, "HTTP/1.1 301 Moved\r\nLocation: http://t.example.com/p/9\r\n\r\n"),
      // a body cannot forge Location
      (3L, "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nLocation: http://evil/")).toDF("id", "p")
    val got = rows.select(col("id"),
        Warc.httpContentType(col("p")).as("ct"),
        Warc.httpLocation(col("p")).as("loc"))
      .orderBy("id").as[(Long, String, String)].collect().toSeq
    assert(got == Seq(
      (1L, "text/html", ""),
      (2L, "", "http://t.example.com/p/9"),
      (3L, "text/html", "")))
    // the builder roundtrips through the parsers
    val built = Seq((301, "http://t/p/1")).toDF("st", "loc")
      .select(Warc.httpRedirect(col("st"), col("loc")).as("p"))
      .select(Warc.httpStatus(col("p")).as("s"),
        Warc.httpLocation(col("p")).as("l"),
        Warc.httpBody(col("p")).as("b"))
      .as[(Int, String, String)].collect()(0)
    assert(built == ((301, "http://t/p/1", "")))
  }

  test("HTTP response payloads: build, then parse status/type/body; " +
      "a body cannot forge a header; non-HTTP payloads read NULL") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, 200, "text/html", "<p>hello world</p>"),
      (2L, 404, "text/html", "not found page"),
      // body CONTAINS a header-shaped line — must not leak into ctype
      (3L, 200, "image/png", "fake\r\nContent-Type: text/evil\r\nbytes"),
      (4L, 301, "", "")).toDF("id", "st", "ct", "bd")
    val built = rows.select(col("id"),
      Warc.httpResponse(col("st"), col("ct"), col("bd")).as("p"))
    val parsed = built.select(col("id"),
        Warc.httpStatus(col("p")).as("status"),
        Warc.httpContentType(col("p")).as("ctype"),
        Warc.httpBody(col("p")).as("body"))
      .orderBy("id")
      .as[(Long, Option[Int], String, String)].collect().toSeq
    assert(parsed == Seq(
      (1L, Some(200), "text/html", "<p>hello world</p>"),
      (2L, Some(404), "text/html", "not found page"),
      (3L, Some(200), "image/png",
        "fake\r\nContent-Type: text/evil\r\nbytes"),
      (4L, Some(301), "", "")))
    // a non-HTTP payload (a plain html record) reads NULL status
    val plain = Seq((9L, "<html>no transport</html>")).toDF("id", "p")
    assert(plain.select(Warc.httpStatus(col("p")))
      .collect()(0).isNullAt(0))
    // and the whole thing survives the container roundtrip
    val rec = built.as[(Long, String)].collect()
      .map { case (i, p) => (s"http://h/p/$i", p.getBytes("UTF-8")) }
    val back = Warc.parseSegment(Warc.writeSegment(rec.iterator))
    assert(back.map { case (u, p) => (u, new String(p, "UTF-8")) } ==
      rec.map { case (u, p) => (u, new String(p, "UTF-8")) }.toSeq)
  }
}
