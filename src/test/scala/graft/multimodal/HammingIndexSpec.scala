package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The banded-Hamming index, one spec body per medium: batched ingest
  * reproduces the one-shot pair set under any batching (including the
  * image index's band-limited maxHamming=6 regime), pairs are
  * exactly-once, delete removes items from the stored state, save/load
  * round-trips (a loaded index outlives the vacuum of the version it
  * was read from), and clusters match [[Perceptual.clusters]].
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

  test("an addBatch's writes do not grow with the stored index") {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.graft.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerBlockUpdated, SparkListenerTaskEnd}
    import spark.implicits._
    // every band of item k's hash holds k: items collide only with
    // their own copies, so the batch's candidates are its 10 copies
    val bandBits = medium.hashBits / 4
    def spread(k: Long) = (0 until 4).map(b => k << (b * bandBits)).sum
    def items(ks: Seq[Long], idOff: Long) =
      ks.map(k => (k + idOff, spread(k))).toDF("id", medium.hashCol)
    val batch = items(1L to 10L, 100000L)
      .unionByName(items(3000L until 3050L, 0L))
    val sc = spark.sparkContext
    val shuffled = new AtomicLong
    val stored = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten))
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
        val i = b.blockUpdatedInfo
        if (i.blockId.isRDD && i.storageLevel.isValid)
          stored.addAndGet(i.memSize + i.diskSize)
      }
    }
    // (shuffle records, block-manager bytes, pairs) of one addBatch
    def writesAt(n: Int): (Long, Long, Set[(Long, Long)]) = {
      val (idx, _) = medium.build(items(1L to n.toLong, 0L))
      assert(ListenerBridge.tryDrain(sc))
      shuffled.set(0); stored.set(0)
      sc.addSparkListener(l)
      val pairs = try {
        val (_, np) = medium.addBatch(idx, batch)
        val got = pairSet(np)
        assert(ListenerBridge.tryDrain(sc))
        got
      } finally sc.removeSparkListener(l)
      (shuffled.get, stored.get, pairs)
    }
    val (shufSmall, bytesSmall, pSmall) = writesAt(200)
    val (shufLarge, bytesLarge, pLarge) = writesAt(2000)
    assert(pSmall == (1L to 10L).map(k => (k, k + 100000L)).toSet)
    assert(pLarge == pSmall)
    assert(shufLarge == shufSmall,
      s"shuffle records: $shufSmall at 200 stored, $shufLarge at 2000")
    // 10x the stored hashes: the stored slices are not rewritten
    assert(bytesLarge * 2 < bytesSmall * 3,
      s"block bytes: $bytesSmall at 200 stored, $bytesLarge at 2000")
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

  test("load, addBatch, save, addBatch: the vacuumed version is not read") {
    val cat = new graft.catalog.ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-hamming-vac").toString)
    val f = fps.localCheckpoint()
    val oneShot = pairSet(Perceptual.hammingPairs(f, "id", medium.hashCol,
      maxHamming = medium.maxHamming, bands = 4, hashBits = medium.hashBits))
    val Seq(s0, s1, s2) = (0 until 3).map(r => f.filter(col("id") % 3 === r))
    val (idx0, p0) = medium.build(s0)
    medium.save(idx0, cat, "hvac")
    val (idx1, p1) = medium.addBatch(medium.load(cat, "hvac"), s1)
    val got = pairSet(p0) ++ pairSet(p1)
    // writes v_2 and vacuums v_1, the version load read
    medium.save(idx1, cat, "hvac")
    val (idx2, p2) = medium.addBatch(idx1, s2)
    assert(got ++ pairSet(p2) === oneShot)
    assert(idx2.hashes.count() === f.count())
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
