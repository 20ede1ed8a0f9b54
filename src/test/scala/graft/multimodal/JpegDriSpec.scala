package graft.multimodal

import graft.SparkSpec
import graft.queries.fixtures.Media

/** JPEG restart markers (DRI/RSTn): interval framing, predictor
  * resets, the RST modulo wrap, and loudness when framing breaks.
  */
class JpegDriSpec extends SparkSpec {

  private def grayImage(w: Int, h: Int)(f: (Int, Int) => Int): Bmp.Image = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (f(x, y) & 0xff).toByte
      val p = (y * w + x) * 3
      rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
    }
    Bmp.Image(w, h, rgb)
  }

  test("grayscale decode with DRI is pixel-identical to without " +
      "(quantized coefficients are the same stream)") {
    val img = grayImage(48, 40)((x, y) => 30 + 3 * x + 2 * y + (x * y) % 5)
    val plain = Jpeg.decode(Jpeg.encode(img))
    for (interval <- Seq(1, 2, 3, 7)) {
      val dri = Jpeg.decode(Jpeg.encode(img, restartInterval = interval))
      assert(java.util.Arrays.equals(dri.rgb, plain.rgb),
        s"interval $interval diverged")
    }
  }

  test("RSTn modulo cycle wraps past RST7 (interval 1 over 35 MCUs)") {
    val img = grayImage(56, 40)((x, y) => 20 + (x * 7 + y * 13) % 200)
    // 7x5 = 35 MCUs at interval 1 -> 34 restart markers, 4 full wraps
    val bytes = Jpeg.encode(img, restartInterval = 1)
    var count = 0
    for (i <- 0 until bytes.length - 1)
      if ((bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) >= 0xd0 &&
        (bytes(i + 1) & 0xff) <= 0xd7) count += 1
    assert(count == 34)
    val plain = Jpeg.decode(Jpeg.encode(img))
    assert(java.util.Arrays.equals(
      Jpeg.decode(bytes).rgb, plain.rgb))
  }

  test("color 4:4:4 and 4:2:0 with DRI are pixel-identical to " +
      "without") {
    Seq(6L, 36L).foreach { id =>
      val img = Media.colorPlantImage(id, altCell = false)
      for (sub <- Seq(false, true)) {
        val plain = Jpeg.decode(Jpeg.encodeColor(img, sub))
        val dri = Jpeg.decode(Jpeg.encodeColor(img, sub,
          restartInterval = 2))
        assert(java.util.Arrays.equals(dri.rgb, plain.rgb),
          s"id $id sub $sub diverged")
      }
    }
  }

  test("a DRI-encoded stream with the DRI segment stripped fails " +
      "loudly (RSTn off its declared boundary)") {
    val img = grayImage(32, 32)((x, y) => 40 + 5 * x + 3 * y)
    val bytes = Jpeg.encode(img, restartInterval = 2)
    // find and remove the 6-byte DRI segment (FF DD 00 04 xx xx)
    val at = (0 until bytes.length - 1).find(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xdd).get
    val stripped = bytes.take(at) ++ bytes.drop(at + 6)
    intercept[IllegalArgumentException] { Jpeg.decode(stripped) }
  }

  test("dHash of a DRI color JPEG equals its lossless BMP twin") {
    Seq(6L, 16L, 26L).foreach { id =>
      val img = Media.colorPlantImage(id, altCell = false)
      val viaBmp = Perceptual.dHash(Bmp.decode(Bmp.encode(img)))
      val viaDri = Perceptual.dHash(
        Jpeg.decode(Jpeg.encodeColor(img, subsample = true,
          restartInterval = 3)))
      val viaGray = Perceptual.dHash(
        Jpeg.decode(Jpeg.encode(img, restartInterval = 4)))
      assert(viaDri == viaBmp, s"id $id color dHash diverged")
      assert(viaGray == viaBmp, s"id $id gray dHash diverged")
    }
  }
}
