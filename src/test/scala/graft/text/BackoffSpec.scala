package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trigram stupid-backoff familiarity: every backoff branch verified
  * against hand arithmetic, self-scoring never backs off, and the
  * result is layout-independent.
  */
class BackoffSpec extends SparkSpec {

  import spark.implicits._

  private def score(train: DataFrame, docs: DataFrame) =
    Repetition.backoffScore(train, docs, "doc_id", "text")
      .select(col("doc_id").cast("long"), col("n_ctx").cast("long"),
        col("score_sum").cast("long"))
      .collect().toSeq
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

  test("each backoff branch matches hand arithmetic") {
    // train stream: a b c a b d  ->
    //   c3: "a b c"=1, "b c a"=1, "c a b"=1, "a b d"=1
    //   c2: "a b"=2, "b c"=1, "c a"=1, "b d"=1
    //   c1: a=2, b=2, c=1, d=1; N=6
    val train = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    // doc 10 "a b c": trigram seen -> 1*1000000 div c2("a b")=2 -> 500000
    // doc 11 "b a b": trigram unseen, bigram "a b"=2, c1("a")=2
    //   -> 2*400000 div 2 = 400000
    // doc 12 "c c d": trigram+bigram("c d") unseen, c1(d)=1, N=6
    //   -> 1*160000 div 6 = 26666
    // doc 13 "a a z": z never seen -> 0
    val docs = Seq((10L, "a b c"), (11L, "b a b"), (12L, "c c d"),
      (13L, "a a z")).toDF("doc_id", "text")
    val out = score(train, docs)
    assert(out(10L) == (1L, 500000L))
    assert(out(11L) == (1L, 400000L))
    assert(out(12L) == (1L, 26666L))
    assert(out(13L) == (1L, 0L))
  }

  test("docs with fewer than 3 tokens are absent") {
    val train = Seq((1L, "a b c")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b"), (11L, "a b c")).toDF("doc_id", "text")
    val out = score(train, docs)
    assert(out.keySet == Set(11L))
  }

  test("self-scoring never backs off below the trigram branch") {
    // every scored trigram exists in train, so every position score is
    // (ct * 1000000 div cbp) >= 1000000 div cbp > 0 via branch 1;
    // branch-2/3 scores carry factors 400000/160000 and can only
    // appear with ct NULL — assert all positions hit branch 1 by
    // recomputing the expected sums from plain-Scala counts
    val texts = Seq((1L, "x y z x y w"), (2L, "y z x q x y"))
    val train = texts.toDF("doc_id", "text")
    val toks = texts.map { case (id, t) => id -> t.split(" ").toSeq }
    val c3 = toks.flatMap(_._2.sliding(3).map(_.mkString(" ")))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c2 = toks.flatMap(_._2.sliding(2).map(_.mkString(" ")))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expect = toks.map { case (id, ts) =>
      val scores = ts.sliding(3).filter(_.size == 3).map { w =>
        c3(w.mkString(" ")) * 1000000L / c2(w.take(2).mkString(" "))
      }.toSeq
      id -> ((scores.size.toLong, scores.sum))
    }.toMap
    assert(score(train, train) == expect)
  }

  test("incrementally merged count stores == the one-shot fit") {
    val train = Seq((1L, "a b c a b d"), (2L, "b c a a b c"),
      (3L, "c a b d d e")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c"), (11L, "b a b"), (12L, "c c d"),
      (13L, "e e e b c a")).toDF("doc_id", "text")
    val oneShot = score(train, docs)
    val merged = (0 to 2)
      .map(b => Repetition.fitBackoffMaterialized(
        train.filter(col("doc_id") % 3 === b), "doc_id", "text"))
      .reduce(_ merge _)
    val got = Repetition.backoffScoreWith(merged, docs, "doc_id", "text")
      .select(col("doc_id").cast("long"), col("n_ctx").cast("long"),
        col("score_sum").cast("long"))
      .collect().toSeq
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == oneShot)
  }

  test("streamed count folding == the one-shot fit") {
    import java.nio.file.Files
    val train = Seq((1L, "a b c a b d"), (2L, "b c a a b c"),
      (3L, "c a b d d e"), (4L, "d e a b c a")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c"), (11L, "c c d"), (12L, "e a b c d"))
      .toDF("doc_id", "text")
    val oneShot = score(train, docs)
    def streamed(nFiles: Int) = {
      val stage = Files.createTempDirectory("graft-lm-landing").toString
      val cp = Files.createTempDirectory("graft-lm-cp").toString
      train.repartition(nFiles, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = graft.streaming.StreamFold.files(spark, stage)
      val counts = graft.streaming.StreamingLm.ingest(stream, "doc_id",
        "text", cp)
      Repetition.backoffScoreWith(counts, docs, "doc_id", "text")
        .select(col("doc_id").cast("long"), col("n_ctx").cast("long"),
          col("score_sum").cast("long"))
        .collect().toSeq
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    }
    assert(streamed(3) == oneShot)
    assert(streamed(2) == oneShot)
  }

  test("result is layout-independent") {
    val train = Seq((1L, "a b c d e"), (2L, "b c d e f"),
      (3L, "c d e f g")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c d q"), (11L, "g f e d c"),
      (12L, "b c d e f g")).toDF("doc_id", "text")
    val a = score(train, docs)
    val b = score(train.repartition(5, col("doc_id")),
      docs.repartition(3))
    assert(a == b && a.nonEmpty)
  }
}
