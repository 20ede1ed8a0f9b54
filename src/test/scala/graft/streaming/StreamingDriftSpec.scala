package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.quality.Drift
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming drift door: folded partial histograms over any file
  * batching must reproduce the one-shot drift report; an empty stream
  * yields an empty histogram.
  */
class StreamingDriftSpec extends SparkSpec {

  private def docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    .select(col("doc_id"), col("source"), col("text"))

  private def rep(df: DataFrame): Set[(String, Long, Long, Long)] =
    df.select(col("source"), col("n_a"), col("n_b"), col("drift"))
      .collect().toSet[org.apache.spark.sql.Row]
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("streamed folding == one-shot drift under two file batchings") {
    val a = docs.filter(expr("(doc_id div 20) % 2") === 0)
    val b = docs.filter(expr("(doc_id div 20) % 2") === 1)
    val oneShot = rep(Drift.sourceDrift(a, b, "doc_id", "source", "text"))
    assert(oneShot.nonEmpty)
    val base = Drift.bucketCounts(a, "doc_id", "source", "text")
      .localCheckpoint()
    def streamed(nFiles: Int): Set[(String, Long, Long, Long)] = {
      val stage = Files.createTempDirectory("graft-sd-landing").toString
      val cp = Files.createTempDirectory("graft-sd-cp").toString
      b.repartition(nFiles, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = StreamFold.files(spark, stage)
      val cur = StreamingDrift.ingest(stream, "doc_id", "source",
        "text", cp)
      rep(Drift.fromCounts(base, cur, "source"))
    }
    assert(streamed(3) == oneShot)
    assert(streamed(2) == oneShot)
  }

  test("mid-stream per-batch reports == one-shot over each prefix") {
    val a = docs.filter(expr("(doc_id div 20) % 2") === 0)
    val b = docs.filter(expr("(doc_id div 20) % 2") === 1)
    val base = Drift.bucketCounts(a, "doc_id", "source", "text")
      .localCheckpoint()
    val stage = Files.createTempDirectory("graft-sd-mid").toString
    val cp = Files.createTempDirectory("graft-sd-mid-cp").toString
    // deterministic per-file slices so "the prefix after batch k" is a
    // reproducible set: write each %3 slice as its own single file
    val slices = (0 to 2).map(k =>
      b.filter(expr("(doc_id div 20) % 3") === k).localCheckpoint())
    slices.zipWithIndex.foreach { case (s, k) =>
      s.coalesce(1).write.mode("overwrite").parquet(s"$stage/f$k")
    }
    // one landing dir: move the part files up so maxFilesPerTrigger=1
    // sees three files (arrival order = listing order, unknown — the
    // assertion below is order-insensitive: each report must equal the
    // one-shot over SOME union of k slices of the right size)
    val land = Files.createTempDirectory("graft-sd-land").toString
    (0 to 2).foreach { k =>
      val dir = new java.io.File(s"$stage/f$k")
      dir.listFiles.filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          Files.copy(f.toPath,
            new java.io.File(s"$land/s$k-$i.parquet").toPath)
        }
    }
    val stream = StreamFold.files(spark, land)
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[(String, Long, Long, Long)])]
    val fin = StreamingDrift.ingest(stream, "doc_id", "source", "text",
      cp, baseline = Some(base),
      onBatch = (id, r) => reports.synchronized { reports += ((id, rep(r))) })
    assert(reports.size == 3)
    // every possible k-slice prefix's one-shot report
    val oneShots = (1 to 3).map { k =>
      slices.combinations(k).map(c =>
        rep(Drift.sourceDrift(a, c.reduce(_ unionByName _),
          "doc_id", "source", "text"))).toSet
    }
    reports.sortBy(_._1).zipWithIndex.foreach { case ((_, r), i) =>
      assert(oneShots(i).contains(r),
        s"running report after batch $i matches no $i+1-slice prefix")
    }
    // the final running report is the full-stream one-shot exactly
    assert(reports.maxBy(_._1)._2 ==
      rep(Drift.sourceDrift(a, b, "doc_id", "source", "text")))
    assert(rep(Drift.fromCounts(base, fin, "source")) ==
      rep(Drift.sourceDrift(a, b, "doc_id", "source", "text")))
  }

  test("empty stream yields an empty histogram") {
    val stage = Files.createTempDirectory("graft-sd-empty").toString
    val cp = Files.createTempDirectory("graft-sd-empty-cp").toString
    docs.limit(0).write.mode("overwrite").parquet(stage)
    val stream = StreamFold.files(spark, stage)
    val cur = StreamingDrift.ingest(stream, "doc_id", "source", "text", cp)
    assert(cur.count() == 0)
  }
}
