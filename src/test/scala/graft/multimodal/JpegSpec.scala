package graft.multimodal

import graft.SparkSpec
import graft.queries.fixtures.Media

/** Baseline-grayscale JPEG codec: marker structure, huffman round
  * trips, the DCT error bound that the q201 margin argument rests on,
  * and loud scope boundaries.
  */
class JpegSpec extends SparkSpec {

  private def grayImage(w: Int, h: Int)(f: (Int, Int) => Int): Bmp.Image = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (f(x, y) & 0xff).toByte
      val p = (y * w + x) * 3
      rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
    }
    Bmp.Image(w, h, rgb)
  }

  private def maxErr(a: Bmp.Image, b: Bmp.Image): Int = {
    assert(a.width == b.width && a.height == b.height)
    a.rgb.zip(b.rgb).map { case (x, y) =>
      math.abs((x & 0xff) - (y & 0xff)) }.max
  }

  test("flat blocks roundtrip within 1 gray level (DC-only path)") {
    val img = grayImage(32, 24)((x, y) => 16 * ((x / 8 + y / 8) % 14) + 20)
    val back = Jpeg.decode(Jpeg.encode(img))
    assert(back.width == 32 && back.height == 24)
    assert(maxErr(img, back) <= 1)
  }

  test("textured + gradient content roundtrips within 3 gray levels") {
    val img = grayImage(40, 40)((x, y) =>
      40 + 2 * x + ((x + y) % 2) * 2 + (y % 8))
    assert(maxErr(img, Jpeg.decode(Jpeg.encode(img))) <= 3)
  }

  test("md5-planted q201 images roundtrip within 3 and keep gray") {
    Seq(0L, 10L, 30L, 50L).foreach { id =>
      val img = Media.jpegPlantImage(id, altCell = false)
      val back = Jpeg.decode(Jpeg.encode(img))
      assert(maxErr(img, back) <= 3, s"id $id error too large")
      back.rgb.grouped(3).foreach(t => assert(t(0) == t(1) && t(1) == t(2)))
    }
  }

  test("non-multiple-of-8 dimensions pad and crop correctly") {
    val img = grayImage(13, 9)((x, y) => (x * 17 + y * 31) % 200 + 10)
    val back = Jpeg.decode(Jpeg.encode(img))
    assert(back.width == 13 && back.height == 9)
    assert(maxErr(img, back) <= 3)
  }

  test("dHash of JPEG-decoded plant equals its lossless BMP twin") {
    Seq(0L, 30L, 60L, 90L).foreach { id =>
      val img = Media.jpegPlantImage(id, altCell = false)
      val viaJpeg = Perceptual.dHash(Jpeg.decode(Jpeg.encode(img)))
      val viaBmp = Perceptual.dHash(Bmp.decode(Bmp.encode(img)))
      assert(viaJpeg == viaBmp, s"dHash drifted under JPEG for id $id")
    }
  }

  test("magic sniffing routes JPEG through the shared image door") {
    val img = Media.jpegPlantImage(20L, altCell = false)
    val payload = Jpeg.encode(img)
    val dec = Multimodal.decodeImage(payload)
    assert(dec.width == 64 && dec.height == 64)
  }

  test("APPn/COM markers are skipped like real camera output") {
    val img = grayImage(16, 16)((x, y) => 100 + ((x / 8 + y / 8) % 2) * 40)
    val enc = Jpeg.encode(img)
    // splice an APP0 JFIF-ish segment right after SOI
    val app = Array[Byte](0xff.toByte, 0xe0.toByte, 0, 7,
      'J', 'F', 'I', 'F', 0)
    val spliced = enc.take(2) ++ app ++ enc.drop(2)
    assert(maxErr(img, Jpeg.decode(spliced)) <= 1)
  }

  test("scope boundaries are loud, never silent") {
    val enc = Jpeg.encode(grayImage(8, 8)((_, _) => 128))
    // progressive SOF2 in place of SOF0
    val prog = enc.clone()
    val sof = prog.indexOfSlice(Seq(0xff.toByte, 0xc0.toByte))
    prog(sof + 1) = 0xc2.toByte
    intercept[IllegalArgumentException](Jpeg.decode(prog))
    // DRI is IN scope since round 17 (see JpegDriSpec): a spliced DRI
    // segment whose interval exceeds the MCU count decodes unchanged
    val dri = enc.take(2) ++
      Array[Byte](0xff.toByte, 0xdd.toByte, 0, 4, 0, 8) ++ enc.drop(2)
    assert(java.util.Arrays.equals(
      Jpeg.decode(dri).rgb, Jpeg.decode(enc).rgb))
    // truncated entropy stream
    intercept[Exception](Jpeg.decode(enc.dropRight(8)))
    // not a JPEG at all
    intercept[IllegalArgumentException](Jpeg.decode("nope".getBytes))
  }
}
