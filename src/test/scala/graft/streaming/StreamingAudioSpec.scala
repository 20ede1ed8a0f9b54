package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.multimodal.{AudioFp, IncrementalAudio, Perceptual, Wav}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming audio ingest: the file-source drain must reproduce the
  * one-shot banded pair set under any file batching.
  */
class StreamingAudioSpec extends SparkSpec {

  /** Clips 1..15 + re-encoded copies of every %3 (id+100). */
  private def media = {
    implicit val sp: SparkSession = spark
    import spark.implicits._
    (1 to 15).flatMap { k =>
      val a = Wav.Audio(8000, 1, Array.tabulate(420 + 8 * k)(i =>
        ((((k + 1) * 2654435761L * (i + 3) + i.toLong * (i + 7))
          % 16384L) - 8192L).toShort))
      val enc = Wav.encode(a)
      Seq(AudioFp.AudioMedia(k.toLong, enc, enc.length)) ++
        (if (k % 3 == 0) {
          val re = Wav.encode(Wav.decode(enc))
          Seq(AudioFp.AudioMedia(k + 100L, re, re.length))
        } else Nil)
    }.toDS()
  }

  private def clusterSet(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet

  test("streamed drain == one-shot clustering, two file splits") {
    implicit val sp: SparkSession = spark
    val m = media
    val oneShot = clusterSet(Perceptual.clusters(
      AudioFp.fingerprints(m), "id", "afp", maxHamming = 3, bands = 4,
      hashBits = AudioFp.HashBits))
    for (nFiles <- Seq(2, 3)) {
      val stage = Files.createTempDirectory("graft-sa-landing").toString
      val cp = Files.createTempDirectory("graft-sa-cp").toString
      m.toDF().repartition(nFiles, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = StreamFold.files(spark, stage)
      val (idx, pairs) = StreamingAudio.ingest(stream, cp)
      assert(clusterSet(IncrementalAudio.clusters(idx, pairs)) === oneShot,
        s"$nFiles files")
    }
  }

  test("empty stream returns a usable empty index") {
    val stage = Files.createTempDirectory("graft-sa-empty").toString
    val cp = Files.createTempDirectory("graft-sa-empty-cp").toString
    // schema-only staging: write zero rows
    media.toDF().limit(0).write.mode("overwrite").parquet(stage)
    val stream = StreamFold.files(spark, stage)
    val (idx, pairs) = StreamingAudio.ingest(stream, cp)
    assert(pairs.count() === 0)
    // the empty index still accepts a batch
    val (_, np) = IncrementalAudio.addBatch(idx,
      AudioFp.fingerprints(media)(spark))
    assert(np.count() >= 0)
  }
}
