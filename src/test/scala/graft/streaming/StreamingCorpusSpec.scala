package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.pipeline.CorpusPipeline
import graft.quality.Entropy
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming end-to-end corpus cleaning: the file-source drain (gate →
  * fold-into-index per micro-batch, resolve at end of stream) must
  * produce exactly the one-shot CorpusPipeline.clean result, under any
  * file batching, for every survivor policy.
  */
class StreamingCorpusSpec extends SparkSpec {

  /** sf0.001 docs + exact copies (%7) and near copies (%11) — the q46
    * planted corpus shape.
    */
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

  private def streamClean(nFiles: Int,
      cfg: CorpusPipeline.Config): Set[(Long, Double, String)] = {
    val stage = Files.createTempDirectory("graft-sc-landing").toString
    val cp = Files.createTempDirectory("graft-sc-cp").toString
    corpus.repartition(nFiles, col("doc_id"))
      .write.mode("overwrite").parquet(stage)
    val stream = StreamFold.files(spark, stage)
    val (_, gated, pairs) = StreamingCorpus.ingest(
      stream, "doc_id", "text", cp, cfg)
    collectOut(StreamingCorpus.resolveSurvivors(
      gated, pairs, "doc_id", "text", cfg))
  }

  private def collectOut(df: DataFrame): Set[(Long, Double, String)] =
    df.select(col("doc_id"), col("quality"), col("lang_pred"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet

  test("streamed cleaning == one-shot clean (default config)") {
    val cfg = CorpusPipeline.Config()
    val oneShot = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", cfg))
    assert(streamClean(3, cfg) === oneShot)
  }

  test("batching-independent: a different file split gives the same set") {
    val cfg = CorpusPipeline.Config()
    val oneShot = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", cfg))
    assert(streamClean(2, cfg) === oneShot)
  }

  test("keepBest policy streams identically") {
    val cfg = CorpusPipeline.Config(keepBest = true)
    val oneShot = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", cfg))
    assert(streamClean(3, cfg) === oneShot)
  }

  test("entropy collisionBand streams identically") {
    val cfg = CorpusPipeline.Config(collisionBand =
      Some((Entropy.SpewNum, Entropy.SpewDen, Entropy.SpamNum, Entropy.SpamDen)))
    val oneShot = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", cfg))
    assert(streamClean(3, cfg) === oneShot)
  }

  test("streamed release == one-shot release, under two batchings") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    def releaseRows(df: DataFrame): Set[(Long, Long, String, Long)] =
      df.select(col("doc_id"), col("cluster"), col("split"),
          col("n_tok"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
    val oneShot = releaseRows(CorpusPipeline.release(
      corpus, ev, "doc_id", "text"))
    assert(oneShot.nonEmpty)
    def streamRelease(nFiles: Int): Set[(Long, Long, String, Long)] = {
      val stage = Files.createTempDirectory("graft-sr-landing").toString
      val cp = Files.createTempDirectory("graft-sr-cp").toString
      corpus.repartition(nFiles, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = StreamFold.files(spark, stage)
      val (_, gated, pairs) = StreamingCorpus.ingest(stream, "doc_id",
        "text", cp, CorpusPipeline.Config(jaccardThreshold = 0.3))
      releaseRows(StreamingCorpus.resolveRelease(
        gated, pairs, ev, "doc_id", "text"))
    }
    assert(streamRelease(3) === oneShot)
    assert(streamRelease(2) === oneShot)
  }

  test("DSIR gate streams identically and genuinely filters") {
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
    val model = graft.pipeline.Dsir.fit(
      base.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text")),
      base.filter(substring(col("source"), 4, 10).cast("int") % 4 === 1)
        .select(col("doc_id"), col("text")),
      "doc_id", "text", dim = 256, keepPpm = 500000L)
    val cfg = CorpusPipeline.Config(dsir = Some(model))
    val oneShot = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", cfg))
    val noGate = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", CorpusPipeline.Config()))
    assert(oneShot.size < noGate.size, "the DSIR gate must drop something")
    assert(streamClean(3, cfg) === oneShot)
    assert(streamClean(2, cfg) === oneShot)
  }

  test("classifier gate streams identically and genuinely filters") {
    val w = graft.text.TextClassify.syntheticWeights(spark, 1024)
    val cfg = CorpusPipeline.Config(classifier = Some(
      CorpusPipeline.ClassifierGate(w, 1024, -300L, 1L)))
    val oneShot = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", cfg))
    val base = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", CorpusPipeline.Config()))
    assert(oneShot.size < base.size, "the gate must drop something")
    assert(streamClean(3, cfg) === oneShot)
  }

  test("familiarity gate streams identically and genuinely filters") {
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
    val counts = graft.text.Repetition.fitBackoffMaterialized(
      base.filter(substring(col("source"), 4, 10).cast("int") % 2 === 0)
        .select(col("doc_id"), col("text")),
      "doc_id", "text")
    val cfg = CorpusPipeline.Config(familiarity = Some(
      CorpusPipeline.FamiliarityGate(counts, minScorePpm = 40000L)))
    val oneShot = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", cfg))
    val noGate = collectOut(
      CorpusPipeline.clean(corpus, "doc_id", "text", CorpusPipeline.Config()))
    assert(oneShot.size < noGate.size, "the familiarity gate must drop something")
    assert(streamClean(3, cfg) === oneShot)
  }
}
