package graft.text

import java.nio.file.Files

import graft.SparkSpec
import graft.pipeline.CorpusPipeline
import graft.queries.fixtures.Crawl
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HTML → article-text extraction (stage 0): boilerplate falls to the
  * length/link-density gates, article text comes back exactly, and the
  * stage composes with the batch pipeline and the streaming front door.
  */
class HtmlSpec extends SparkSpec {

  import spark.implicits._

  private def page(id: Long, article: String): (Long, String) =
    id -> ("<html><head><title>Doc " + id + "</title>" +
      "<script type=\"text/javascript\">var n = 1; if (n < 2) { n = 3; }</script>" +
      "<style>.nav { color: red; }</style></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/contact\">Contact</a></div><h1>Doc " + id + "</h1>" +
      "<!-- rendered by graft --><p>" + article + "</p>" +
      "<div class=\"links\"><a href=\"/r1\">first related link</a> " +
      "<a href=\"/r2\">second related link</a> " +
      "<a href=\"/r3\">third related link</a></div>" +
      "<div class=\"footer\">(c) 2026 <a href=\"/terms\">Terms</a> " +
      "<a href=\"/privacy\">Privacy</a> <a href=\"/imprint\">Imprint</a>" +
      "</div></body></html>")

  test("extraction recovers exactly the article text of a full page") {
    val article = "The quick brown fox jumps over the lazy dog near " +
      "the river bank every single morning."
    val df = Seq(page(7L, article)).toDF("doc_id", "html")
    val out = Html.extract(df, "doc_id", "html").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("text") == article)
    assert(r.getAs[Long]("n_kept") == 1L)
    assert(r.getAs[Long]("n_blocks") >= 4L) // title, nav, h1, p, links, footer
  }

  test("script/style/comment content never leaks into any block") {
    val df = Seq(page(1L, "A plain article body that is long enough to keep."))
      .toDF("doc_id", "html")
    val all = Html.blocks(df, "doc_id", "html")
      .select(col("btext")).collect().map(_.getString(0)).mkString(" | ")
    assert(!all.contains("var n"))
    assert(!all.contains("color: red"))
    assert(!all.contains("rendered by graft"))
  }

  test("link-heavy blocks fail the density gate even when long enough") {
    val df = Seq(page(2L, "Words that form a genuine article paragraph " +
      "with enough length to pass the minimum."))
      .toDF("doc_id", "html")
    val kept = Html.extract(df, "doc_id", "html")
      .select(col("text")).head().getString(0)
    assert(!kept.contains("related link"))
    assert(!kept.contains("Home"))
    assert(!kept.contains("Terms"))
    assert(!kept.contains("Doc 2"))
  }

  test("entities unescape and whitespace normalizes in kept text") {
    val html = "<html><body><p>Tom &amp; Jerry say 2 &lt; 3 &quot;loudly&quot;" +
      "   and\tthen   some more words to pass the length gate</p></body></html>"
    val out = Html.extract(Seq(9L -> html).toDF("doc_id", "html"),
      "doc_id", "html").select(col("text")).head().getString(0)
    assert(out == "Tom & Jerry say 2 < 3 \"loudly\" and then some more " +
      "words to pass the length gate")
  }

  test("pages with nothing extractable keep their row with empty text") {
    val df = Seq(
      3L -> "<html><body><div class=\"nav\"><a href=\"/\">Home</a></div></body></html>",
      4L -> "").toDF("doc_id", "html")
    val out = Html.extract(df, "doc_id", "html")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("text"), r.getAs[Long]("n_kept"))).toMap
    assert(out(3L) == ("", 0L))
    assert(out(4L) == ("", 0L))
  }

  test("multi-paragraph articles keep page order, newline-joined") {
    val html = "<html><body>" +
      "<p>First paragraph with plenty of words to pass the gate.</p>" +
      "<p>Second paragraph also long enough to pass the gate fine.</p>" +
      "</body></html>"
    val out = Html.extract(Seq(5L -> html).toDF("doc_id", "html"),
      "doc_id", "html").select(col("text")).head().getString(0)
    assert(out == "First paragraph with plenty of words to pass the gate.\n" +
      "Second paragraph also long enough to pass the gate fine.")
  }

  // ---- pipeline + streaming composition -----------------------------

  private def corpus: DataFrame = {
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    base
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zz tail marker")).as("text")))
  }

  private def wrapped: DataFrame =
    corpus.select(col("doc_id"),
      Crawl.wrapCol(col("doc_id"), col("text"))
        .as("text"))

  private def outSet(df: DataFrame): Set[(Long, Double, String)] =
    df.select(col("doc_id"), col("quality"), col("lang_pred"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet

  test("htmlInput pipeline == clean text pipeline on the wrapped corpus") {
    val plain = outSet(CorpusPipeline.clean(corpus, "doc_id", "text"))
    val viaHtml = outSet(CorpusPipeline.clean(wrapped, "doc_id", "text",
      CorpusPipeline.Config(htmlInput = true)))
    assert(viaHtml === plain)
  }

  test("streaming front door applies stage 0 batch-at-a-time") {
    val cfg = CorpusPipeline.Config(htmlInput = true)
    val oneShot = outSet(
      CorpusPipeline.clean(wrapped, "doc_id", "text", cfg))
    val stage = Files.createTempDirectory("graft-html-landing").toString
    val cp = Files.createTempDirectory("graft-html-cp").toString
    wrapped.repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(stage)
    val stream = graft.streaming.StreamFold.files(spark, stage)
    val (_, gated, pairs) = graft.streaming.StreamingCorpus.ingest(
      stream, "doc_id", "text", cp, cfg)
    val streamed = outSet(graft.streaming.StreamingCorpus
      .resolveSurvivors(gated, pairs, "doc_id", "text", cfg))
    assert(streamed === oneShot)
  }
}
