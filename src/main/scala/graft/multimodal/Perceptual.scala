package graft.multimodal

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual image dedup: visually-identical media that byte-level
  * dedup can never catch — re-encoded copies (different file bytes,
  * same pixels) and resized copies (different pixels, same picture) —
  * found with a difference hash over the DECODED bitmap.
  *
  * dHash (public algorithm): nearest-neighbor-resample the decoded
  * image onto a tiny grayscale grid and record, per row, whether each
  * pixel is brighter than its left neighbor — a 56-bit gradient
  * signature (8×8 grid, 7 comparisons × 8 rows; 56 so the BIGINT stays
  * positive cross-engine). Gradients survive re-encoding and
  * resampling; absolute pixel values don't need to.
  *
  * Pair generation is the banded-LSH shape shared with
  * [[graft.dedup.Dedup.simhashPairs]], scaled to 56 bits: disjoint
  * bands; hashes agreeing on ANY band join by key (bucketed — never
  * all-pairs), then candidates verify exact `bit_count(xor) <= maxHamming`.
  * Pigeonhole guarantee: every pair within hamming `bands - 1` shares
  * a band; the verify threshold may be looser (candidates at larger
  * distances are caught only when they share a band — the oracle
  * replays the SAME band-limited semantics). Band count is a
  * corpus-size dial (see [[hammingPairs]]). Clusters are
  * [[Dedup.connectedComponents]] labels over the verified pairs.
  *
  * All integer arithmetic (truncating div on nonnegative values ==
  * floor both engines), so the DuckDB oracle replays the hash from the
  * generative pixel formula while the engine computes it from real
  * decoded payloads.
  */
object Perceptual {

  val GridW = 8
  val GridH = 8
  val HashBits: Int = (GridW - 1) * GridH // 56

  /** dHash of a decoded image (row-local; called per decoded payload). */
  def dHash(img: Bmp.Image): Long = {
    val gray = new Array[Int](GridW * GridH)
    var gy = 0
    while (gy < GridH) {
      val sy = gy * img.height / GridH
      var gx = 0
      while (gx < GridW) {
        val sx = gx * img.width / GridW
        val p = (sy * img.width + sx) * 3
        gray(gy * GridW + gx) = ((img.rgb(p) & 0xff) + (img.rgb(p + 1) & 0xff) +
          (img.rgb(p + 2) & 0xff)) / 3
        gx += 1
      }
      gy += 1
    }
    var h = 0L
    var j = 0
    var y = 0
    while (y < GridH) {
      var x = 0
      while (x < GridW - 1) {
        if (gray(y * GridW + x + 1) > gray(y * GridW + x)) h |= 1L << j
        j += 1
        x += 1
      }
      y += 1
    }
    h
  }

  /** (id, dhash) per media row — decode + hash in the same
    * partition-wise batch pass as [[Multimodal.decode]] (the codec
    * boundary; no Expression fits a header-parsing decoder). Payloads
    * are magic-sniffed ([[Multimodal.decodeImage]]), so BMP and PNG
    * rows hash through the same door — and a PNG re-encode of a BMP
    * hashes IDENTICALLY (same decoded pixels, format-independent
    * perceptual identity).
    */
  def dHashes(media: Dataset[Multimodal.BmpMedia])(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    media.mapPartitions(_.map(m =>
        (m.doc_id, dHash(Multimodal.decodeImage(m.payload)))))
      .toDF("id", "dhash")
  }

  /** Explode `(idCol, hashCol)` rows into their disjoint band keys
    * `bk = (band, v)`; the one band-key code of the one-shot operators
    * here and of [[HammingIndex]].
    */
  private[multimodal] def bandKeys(hashes: DataFrame, idCol: String,
      hashCol: String, bands: Int, hashBits: Int): DataFrame = {
    require(bands > 0 && hashBits % bands == 0,
      s"bands must divide $hashBits")
    val bandBits = hashBits / bands
    val keys = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        shiftright(col(hashCol), bnd * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("v"))
    }
    hashes.select(col(idCol), col(hashCol),
      explode(array(keys: _*)).as("bk"))
  }

  /** Banded candidate generation + exact hamming verify. Output:
    * (a, b) with a < b, distinct. Never all-pairs: candidates only
    * join within equal band values.
    *
    * `bands` trades recall for scale: pigeonhole guarantees every pair
    * within hamming `bands - 1` shares a band; expected RANDOM band
    * collisions (the candidate-stage cost) are `bands * n^2 / 2^(56/bands)`
    * — at a few 10^4 images 4x14-bit bands are fine (guarantee <=3);
    * at 10^7+ use 2x28-bit bands (guarantee <=1, collision space 2^28)
    * so candidate generation stays far below all-pairs. Same dial as
    * shuffle partitions: size to the corpus.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bands: Int = 4,
      hashBits: Int = HashBits): DataFrame = {
    val keyed = bandKeys(hashes, idCol, hashCol, bands, hashBits)
    val l = keyed.select(col(idCol).as("a"), col(hashCol).as("ha"),
      col("bk").as("kl"))
    val r = keyed.select(col(idCol).as("b"), col(hashCol).as("hb"),
      col("bk").as("kr"))
    l.join(r, col("kl") === col("kr") && col("a") < col("b"))
      .select(col("a"), col("b"), col("ha"), col("hb")).distinct()
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select(col("a"), col("b"))
  }

  /** Cross-corpus contamination matches: banded candidates joined
    * ACROSS the two hash relations only — never within either corpus —
    * then the exact `bit_count` verify ([[graft.dedup.Dedup
    * .crossCorpusMatches]]'s shape in hamming space). Output
    * `(a, b, hamming)` where `a` is a train id and `b` an eval id.
    * The eval side is typically tiny: its band relation broadcasts,
    * so the train corpus is never shuffled by the candidate stage.
    */
  def crossMatches(train: DataFrame, eval: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int, bands: Int = 4,
      hashBits: Int = HashBits): DataFrame = {
    val l = bandKeys(train, idCol, hashCol, bands, hashBits)
      .select(col(idCol).as("a"), col(hashCol).as("ha"), col("bk").as("kl"))
    val r = bandKeys(eval, idCol, hashCol, bands, hashBits)
      .select(col(idCol).as("b"), col(hashCol).as("hb"), col("bk").as("kr"))
    l.join(r, col("kl") === col("kr"))
      .select(col("a"), col("b"), col("ha"), col("hb")).distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Per-media cluster labels: every id, its dhash, its connected-
    * component label over the verified near-pairs (singletons keep
    * their own id), and whether it is a non-survivor duplicate.
    */
  def clusters(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bands: Int = 4,
      hashBits: Int = HashBits): DataFrame =
    labelled(hashes, idCol, hashCol,
      hammingPairs(hashes, idCol, hashCol, maxHamming, bands, hashBits))

  /** [[clusters]]' labelling of `hashes` over given near-pairs; shared
    * with [[HammingIndex]], which labels accumulated pairs.
    */
  private[multimodal] def labelled(hashes: DataFrame, idCol: String,
      hashCol: String, pairs: DataFrame): DataFrame = {
    val labels = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("__cc_node"), col("cluster").as("__cc_lab"))
    hashes.join(labels, hashes(idCol) === col("__cc_node"), "left")
      .select(col(idCol), col(hashCol),
        coalesce(col("__cc_lab"), col(idCol)).as("cluster"),
        (coalesce(col("__cc_lab"), col(idCol)) =!= col(idCol)).as("is_dup"))
  }
}
