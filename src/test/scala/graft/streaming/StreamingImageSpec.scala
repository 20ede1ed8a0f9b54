package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.multimodal.{Bmp, IncrementalPerceptual, Multimodal, Perceptual}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming image ingest: the file-source drain must reproduce the
  * one-shot banded pair set under any file batching.
  */
class StreamingImageSpec extends SparkSpec {

  /** Images 1..15 + re-encoded copies of every %3 (id+100). */
  private def media = {
    implicit val sp: SparkSession = spark
    import spark.implicits._
    (1 to 15).flatMap { k =>
      val w = 8 + k % 9; val h = 8 + (k * 3) % 9
      val rgb = Array.tabulate(w * h * 3)(i =>
        ((k * 2654435761L + i.toLong * (i + 7)) % 256).toByte)
      val enc = Bmp.encode(Bmp.Image(w, h, rgb))
      Seq(Multimodal.BmpMedia(k.toLong, enc, enc.length)) ++
        (if (k % 3 == 0) {
          val re = Bmp.encode(Bmp.decode(enc))
          Seq(Multimodal.BmpMedia(k + 100L, re, re.length))
        } else Nil)
    }.toDS()
  }

  private def clusterSet(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet

  test("streamed drain == one-shot clustering, two file splits") {
    implicit val sp: SparkSession = spark
    val m = media
    val oneShot = clusterSet(Perceptual.clusters(
      Perceptual.dHashes(m), "id", "dhash", maxHamming = 6))
    for (nFiles <- Seq(2, 3)) {
      val stage = Files.createTempDirectory("graft-si-landing").toString
      val cp = Files.createTempDirectory("graft-si-cp").toString
      m.toDF().repartition(nFiles, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = StreamFold.files(spark, stage)
      val (idx, pairs) = StreamingImage.ingest(stream, cp)
      assert(clusterSet(IncrementalPerceptual.clusters(idx, pairs))
        === oneShot, s"$nFiles files")
    }
  }

  test("empty stream returns a usable empty index") {
    val stage = Files.createTempDirectory("graft-si-empty").toString
    val cp = Files.createTempDirectory("graft-si-empty-cp").toString
    media.toDF().limit(0).write.mode("overwrite").parquet(stage)
    val stream = StreamFold.files(spark, stage)
    val (idx, pairs) = StreamingImage.ingest(stream, cp)
    assert(pairs.count() === 0)
    val (_, np) = IncrementalPerceptual.addBatch(idx,
      Perceptual.dHashes(media)(spark))
    assert(np.count() >= 0)
  }
}
