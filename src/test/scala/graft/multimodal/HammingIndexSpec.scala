package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The banded-Hamming index, one spec body per medium: batched ingest
  * reproduces the one-shot pair set under any batching (including the
  * image index's band-limited maxHamming=6 regime), pairs are
  * exactly-once, delete removes items from the stored state, save/load
  * round-trips, and clusters match [[Perceptual.clusters]].
  *
  * The two media are the two concrete classes below; their names are
  * the suites' stable test ids.
  */
abstract class HammingIndexSpec(medium: HammingIndex.Medium,
    items: String) extends SparkSpec {

  /** `(k, hash)` of item k in 1..20 (distinct per k). */
  protected def hashOf(k: Int): Long

  /** Hashes with planted near-dups: items 1..20 plus exact hash copies
    * of every %3 (id+100).
    */
  private def fps: DataFrame = {
    import spark.implicits._
    val base = (1 to 20).map(k => (k.toLong, hashOf(k)))
    val dups = base.filter(_._1 % 3 == 0).map { case (id, f) => (id + 100, f) }
    (base ++ dups).toDF("id", medium.hashCol)
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("batched ingest == one-shot pairs, under two different batchings") {
    val f = fps.localCheckpoint()
    val oneShot = pairSet(Perceptual.hammingPairs(f, "id", medium.hashCol,
      maxHamming = medium.maxHamming, bands = 4, hashBits = medium.hashBits))
    for (m <- Seq(2, 3)) {
      val slices = (0 until m).map(r => f.filter(col("id") % m === r))
      val (idx0, p0) = medium.build(slices.head)
      val (pairs, _) = slices.tail.foldLeft((pairSet(p0), idx0)) {
        case ((acc, idx), b) =>
          val (next, np) = medium.addBatch(idx, b)
          (acc ++ pairSet(np), next)
      }
      assert(pairs === oneShot, s"batching % $m")
    }
  }

  test("pairs are exactly-once across batches") {
    val f = fps.localCheckpoint()
    val (idx0, p0) = medium.build(f.filter(col("id") <= 10))
    val (_, p1) = medium.addBatch(idx0, f.filter(col("id") > 10))
    assert(pairSet(p0).intersect(pairSet(p1)).isEmpty)
  }

  test(s"delete removes $items from stored state") {
    import spark.implicits._
    val f = fps.localCheckpoint()
    val (idx, _) = medium.build(f)
    val after = medium.delete(idx, Seq(3L, 103L).toDF("id"), "id")
    assert(after.hashes.count() === f.count() - 2)
    // a re-added copy of a deleted item pairs only against survivors
    val (_, np) = medium.addBatch(after, f.filter(col("id") === 3)
      .select(lit(999L).as("id"), col(medium.hashCol)))
    assert(pairSet(np).forall { case (a, b) => a != 3L && b != 103L })
  }

  test("save/load round-trips through the catalog; loaded index ingests") {
    val cat = new graft.catalog.ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-hamming-idx").toString)
    val f = fps.localCheckpoint()
    val (idx, _) = medium.build(f.filter(col("id") <= 10))
    medium.save(idx, cat, "hidx")
    assert(cat.exists(s"hidx_${medium.hashCol}"))
    val back = medium.load(cat, "hidx")
    assert(back.hashes.collect().toSet === idx.hashes.collect().toSet)
    val (_, npA) = medium.addBatch(idx, f.filter(col("id") > 10))
    val (_, npB) = medium.addBatch(back, f.filter(col("id") > 10))
    assert(pairSet(npA) === pairSet(npB))
  }

  test("clusters output matches Perceptual.clusters on the same state") {
    val f = fps.localCheckpoint()
    val (idx, p) = medium.build(f)
    val inc = medium.clusters(idx, p)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    val one = Perceptual.clusters(f, "id", medium.hashCol,
        maxHamming = medium.maxHamming, bands = 4, hashBits = medium.hashBits)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(inc === one)
  }
}

/** Audio clips: 52-bit fingerprints of distinct synthetic WAV clips. */
class IncrementalAudioSpec
    extends HammingIndexSpec(HammingIndex.Audio, "clips") {
  protected def hashOf(k: Int): Long =
    AudioFp.fingerprint(Wav.Audio(8000, 1, Array.tabulate(400 + k)(i =>
      ((((k + 1) * 2654435761L * (i + 3) + i.toLong * (i + 7))
        % 16384L) - 8192L).toShort)))
}

/** Images: 56-bit dHashes of distinct BMP round-tripped bitmaps. */
class IncrementalPerceptualSpec
    extends HammingIndexSpec(HammingIndex.Image, "images") {
  protected def hashOf(k: Int): Long = {
    val w = 8 + k % 9; val h = 8 + (k * 3) % 9
    val rgb = Array.tabulate(w * h * 3)(i =>
      ((k * 2654435761L + i.toLong * (i + 7)) % 256).toByte)
    Perceptual.dHash(Bmp.decode(Bmp.encode(Bmp.Image(w, h, rgb))))
  }
}
