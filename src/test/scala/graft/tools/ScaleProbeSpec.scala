package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

class ScaleProbeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // the report's key order: SCALEPROBE_*.json records are compared by it
  private val names = Seq("agg", "minhash_lsh", "dedup_cluster",
    "cross_contamination", "dup_spans", "span_scrub", "perceptual_dedup",
    "winnow", "bpe_train", "ann_lsh", "ann_ivf", "ann_ivfpq",
    "semantic_dedup", "semantic_multiprobe", "incremental_lsh",
    "incremental_semantic", "seq_packing", "epoch_shuffle", "scd_merge",
    "sketch_rollup", "audio_dedup", "incremental_audio", "incremental_image",
    "dsir_resample", "bloom_decontaminate", "classifier_gate",
    "exact_selection", "entropy_gate", "pii_scrub", "streaming_corpus",
    "release_manifest", "stratified_split", "token_shards", "curriculum",
    "funnel_report", "shard_export", "cross_scrub", "calibrated_gate",
    "contamination_report", "rank_buckets", "vector_artifact",
    "perceptron_train", "semantic_cross", "backoff_familiarity",
    "length_batches", "tokenizer_fertility", "html_extract", "unigram_train",
    "jpeg_dedup", "link_pagerank", "link_resolution", "base_resolution",
    "gopher_rules", "hits_rank", "wordpiece_train", "paragraph_scrub",
    "cms_sketch", "hll_sketch", "c4_rules", "charset_transport",
    "mime_sniff", "canonical_fold", "chunked_transport", "color_jpeg",
    "url_decide", "deflate_transport", "sitemap_tree", "dri_jpeg",
    "trained_langid", "prog_jpeg", "cjk_transport", "jpeg_422",
    "fresh_scheduler", "multilang_route")

  // a session the caller must never start
  private def noSession: SparkSession =
    throw new AssertionError("the session was started")

  test("the table holds the 74 rows, unique and in report order") {
    val table = ScaleProbe.probes(spark, sf, 2).map(_.name)
    assert(names.size == 74 && names.distinct == names)
    assert(table == names)
  }

  test("building the table starts no Spark job") {
    val sc = spark.sparkContext
    assert(ListenerBridge.tryDrain(sc))
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      ScaleProbe.probes(spark, sf, 2)
      assert(ListenerBridge.tryDrain(sc))
      assert(jobs.get == 0)
    } finally sc.removeSparkListener(l)
  }

  test("pii_scrub and scd_merge output exactly 2x the rows at 2x") {
    val table = ScaleProbe.probes(spark, sf, 2)
    for (name <- Seq("pii_scrub", "scd_merge")) {
      val (one, many) = table.find(_.name == name).get.setup()
      val rows1 = one()
      assert(rows1 > 0, name)
      assert(many() == 2 * rows1, name)
    }
  }

  test("arguments parse without a session; bad ones are named") {
    val Right((factor, table, selected)) = ScaleProbe.parse(
      Array(sf, "3", "scd_merge,agg"), noSession)
    assert(factor == 3 && table.size == 74)
    assert(selected.map(_.name) == Seq("agg", "scd_merge"))
    assert(ScaleProbe.parse(Array(sf), noSession)
      .map { case (k, _, rows) => (k, rows.size) } == Right((8, 74)))

    val Left(unknown) = ScaleProbe.parse(
      Array(sf, "2", "scd_merge,no_such_row,scd_mege"), noSession)
    assert(unknown == "unknown rows: no_such_row, scd_mege")
    for (bad <- Seq("two", "0", "-1"))
      assert(ScaleProbe.parse(Array(sf, bad), noSession)
        .left.exists(_.contains(bad)), bad)
  }
}
