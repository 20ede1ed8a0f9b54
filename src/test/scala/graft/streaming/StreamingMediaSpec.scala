package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.multimodal.{Bmp, HammingIndex, Perceptual, Wav}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming media ingest, one spec body per medium: the file-source
  * drain must reproduce the one-shot banded clustering under any file
  * batching, and an empty stream returns a usable empty index.
  *
  * The two media are the two concrete classes below; their names are
  * the suites' stable test ids.
  */
abstract class StreamingMediaSpec(medium: HammingIndex.Medium)
    extends SparkSpec {

  /** The encoded payload of item k in 1..15, and its re-encode (decoded
    * and encoded again: different bytes, same decoded content).
    */
  protected def encoded(k: Int): Array[Byte]
  protected def reencoded(payload: Array[Byte]): Array[Byte]

  /** Items 1..15 + re-encoded copies of every %3 (id+100), as
    * `(doc_id, payload, n_bytes)`.
    */
  private def media: DataFrame = {
    import spark.implicits._
    (1 to 15).flatMap { k =>
      val enc = encoded(k)
      Seq((k.toLong, enc, enc.length)) ++
        (if (k % 3 == 0) {
          val re = reencoded(enc)
          Seq((k + 100L, re, re.length))
        } else Nil)
    }.toDF("doc_id", "payload", "n_bytes")
  }

  private def clusterSet(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet

  test("streamed drain == one-shot clustering, two file splits") {
    val m = media
    val oneShot = clusterSet(Perceptual.clusters(medium.hashes(m), "id",
      medium.hashCol, maxHamming = medium.maxHamming, bands = 4,
      hashBits = medium.hashBits))
    for (nFiles <- Seq(2, 3)) {
      val stage = Files.createTempDirectory("graft-sm-landing").toString
      val cp = Files.createTempDirectory("graft-sm-cp").toString
      m.repartition(nFiles, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = StreamFold.files(spark, stage)
      val (idx, pairs) = StreamingMedia.ingest(medium)(stream, cp)
      assert(clusterSet(medium.clusters(idx, pairs)) === oneShot,
        s"$nFiles files")
    }
  }

  test("empty stream returns a usable empty index") {
    val stage = Files.createTempDirectory("graft-sm-empty").toString
    val cp = Files.createTempDirectory("graft-sm-empty-cp").toString
    // schema-only staging: write zero rows
    media.limit(0).write.mode("overwrite").parquet(stage)
    val stream = StreamFold.files(spark, stage)
    val (idx, pairs) = StreamingMedia.ingest(medium)(stream, cp)
    assert(pairs.count() === 0)
    // the empty index still accepts a batch
    val (_, np) = medium.addBatch(idx, medium.hashes(media))
    assert(np.count() >= 0)
  }
}

/** WAV clips: distinct synthetic tones; the re-encode is decode+encode. */
class StreamingAudioSpec extends StreamingMediaSpec(HammingIndex.Audio) {
  protected def encoded(k: Int): Array[Byte] =
    Wav.encode(Wav.Audio(8000, 1, Array.tabulate(420 + 8 * k)(i =>
      ((((k + 1) * 2654435761L * (i + 3) + i.toLong * (i + 7))
        % 16384L) - 8192L).toShort)))
  protected def reencoded(payload: Array[Byte]): Array[Byte] =
    Wav.encode(Wav.decode(payload))
}

/** BMP images: distinct synthetic bitmaps; the re-encode is
  * decode+encode.
  */
class StreamingImageSpec extends StreamingMediaSpec(HammingIndex.Image) {
  protected def encoded(k: Int): Array[Byte] = {
    val w = 8 + k % 9; val h = 8 + (k * 3) % 9
    Bmp.encode(Bmp.Image(w, h, Array.tabulate(w * h * 3)(i =>
      ((k * 2654435761L + i.toLong * (i + 7)) % 256).toByte)))
  }
  protected def reencoded(payload: Array[Byte]): Array[Byte] =
    Bmp.encode(Bmp.decode(payload))
}
