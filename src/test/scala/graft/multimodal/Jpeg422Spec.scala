package graft.multimodal

import graft.SparkSpec
import graft.queries.fixtures.Media

/** 4:2:2 chroma subsampling (luma 2×1): decode parity with 4:4:4 on
  * uniform-chroma images, dHash identity with the lossless BMP twin,
  * DRI composition, and the loud scope boundary for 4:1:1 / 1×2.
  */
class Jpeg422Spec extends SparkSpec {

  test("uniform-chroma image decodes IDENTICALLY via 4:2:2 and 4:4:4 " +
      "(constant chroma planes box-average exactly)") {
    Seq(4L, 14L, 24L).foreach { id =>
      val img = Media.plantImage422(id, altCell = false)
      val via444 = Jpeg.decode(Jpeg.encodeColor(img, subsample = false))
      val via422 = Jpeg.decode(Jpeg.encodeColor422(img))
      assert(java.util.Arrays.equals(via422.rgb, via444.rgb), s"id $id")
    }
  }

  test("4:2:2 dHash equals the lossless BMP twin's; DRI stream " +
      "decodes byte-identical to the DRI-free 4:2:2 stream") {
    Seq(4L, 34L, 54L).foreach { id =>
      val img = Media.plantImage422(id, altCell = false)
      val viaBmp = Perceptual.dHash(Bmp.decode(Bmp.encode(img)))
      val via422 = Perceptual.dHash(Jpeg.decode(Jpeg.encodeColor422(img)))
      assert(via422 == viaBmp, s"id $id dHash diverged")
      val dri = Jpeg.decode(Jpeg.encodeColor422(img, restartInterval = 3))
      assert(java.util.Arrays.equals(dri.rgb,
        Jpeg.decode(Jpeg.encodeColor422(img)).rgb), s"id $id DRI")
    }
  }

  test("odd dimensions survive the 2x1 MCU path") {
    val w = 27; val h = 13
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      val v = ((x * 19 + y * 37) % 200 + 20).toByte
      rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
    }
    val img = Bmp.Image(w, h, rgb)
    val got = Jpeg.decode(Jpeg.encodeColor422(img))
    assert(got.width == w && got.height == h)
    // grayscale input: decode error bounded by the DCT roundtrip
    var maxErr = 0
    for (i <- 0 until w * h * 3)
      maxErr = math.max(maxErr, math.abs((got.rgb(i) & 0xff) - (rgb(i) & 0xff)))
    assert(maxErr <= 4, s"max error $maxErr")
  }

  test("4:1:1 and vertical-only 1x2 (4:4:0) are live: dHash equals " +
      "the lossless BMP twin's") {
    Seq(4L, 34L).foreach { id =>
      val img = Media.plantImage422(id, altCell = false)
      val viaBmp = Perceptual.dHash(Bmp.decode(Bmp.encode(img)))
      val via411 = Perceptual.dHash(Jpeg.decode(Jpeg.encodeColor411(img)))
      assert(via411 == viaBmp, s"id $id 4:1:1 dHash diverged")
      val via440 = Perceptual.dHash(Jpeg.decode(Jpeg.encodeColor440(img)))
      assert(via440 == viaBmp, s"id $id 4:4:0 dHash diverged")
    }
  }

  test("luma sampling layouts outside codec scope (3x1, 2x4) stay loud") {
    val img = Media.plantImage422(4L, altCell = false)
    val bytes = Jpeg.encodeColor422(img)
    // patch the SOF0 luma sampling byte (component 1's H<<4|V)
    val sof = (0 until bytes.length - 1).find(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc0).get
    val hvAt = sof + 2 + 2 + 1 + 2 + 2 + 1 + 1 // marker,len,prec,h,w,ncomp,id
    assert((bytes(hvAt) & 0xff) == 0x21, "fixture layout drifted")
    for (bad <- Seq(0x31, 0x24)) {
      val patched = bytes.clone()
      patched(hvAt) = bad.toByte
      val e = intercept[IllegalArgumentException](Jpeg.decode(patched))
      assert(e.getMessage.contains("sampling"), s"hv=$bad")
    }
  }
}
