package graft.multimodal

import graft.SparkSpec
import graft.queries.fixtures.Media

/** Progressive JPEG (SOF2, spectral selection): multi-scan decode ==
  * the baseline stream's pixels exactly, EOBRUN paths, and loud scope
  * boundaries (successive approximation, progressive + DRI).
  */
class JpegProgressiveSpec extends SparkSpec {

  private def grayImage(w: Int, h: Int)(f: (Int, Int) => Int): Bmp.Image = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (f(x, y) & 0xff).toByte
      val p = (y * w + x) * 3
      rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
    }
    Bmp.Image(w, h, rgb)
  }

  test("grayscale progressive decodes pixel-identical to baseline " +
      "(same quantized coefficients, different scan script)") {
    val img = grayImage(48, 40)((x, y) => 30 + 3 * x + 2 * y + (x * y) % 5)
    val base = Jpeg.decode(Jpeg.encode(img))
    val prog = Jpeg.decode(Jpeg.encodeProgressive(img, color = false))
    assert(java.util.Arrays.equals(prog.rgb, base.rgb))
  }

  test("EOBRUN paths: flat image (every AC band zero -> one long " +
      "EOB run) and a sparse-texture image") {
    val flat = grayImage(64, 64)((_, _) => 128)
    assert(java.util.Arrays.equals(
      Jpeg.decode(Jpeg.encodeProgressive(flat, color = false)).rgb,
      Jpeg.decode(Jpeg.encode(flat)).rgb))
    // one textured block surrounded by flat ones: EOB runs on both
    // sides of an in-band coefficient block
    val sparse = grayImage(80, 24)((x, y) =>
      if (x >= 32 && x < 40) 40 + 13 * ((x + y) % 7) else 90)
    assert(java.util.Arrays.equals(
      Jpeg.decode(Jpeg.encodeProgressive(sparse, color = false)).rgb,
      Jpeg.decode(Jpeg.encode(sparse)).rgb))
  }

  test("color 4:4:4 progressive decodes pixel-identical to baseline " +
      "4:4:4") {
    Seq(7L, 17L).foreach { id =>
      val img = Media.colorPlantImage(id, altCell = false)
      val base = Jpeg.decode(Jpeg.encodeColor(img, subsample = false))
      val prog = Jpeg.decode(Jpeg.encodeProgressive(img, color = true))
      assert(java.util.Arrays.equals(prog.rgb, base.rgb), s"id $id")
    }
  }

  test("non-multiple-of-8 dimensions survive the multi-scan path") {
    val img = grayImage(13, 9)((x, y) => (x * 17 + y * 31) % 200 + 10)
    val prog = Jpeg.decode(Jpeg.encodeProgressive(img, color = false))
    assert(prog.width == 13 && prog.height == 9)
    assert(java.util.Arrays.equals(prog.rgb,
      Jpeg.decode(Jpeg.encode(img)).rgb))
  }

  test("SUCCESSIVE APPROXIMATION: gray refinement scans reconstruct " +
      "the exact coefficients (pixel-identical to baseline)") {
    for (img <- Seq(
      grayImage(48, 40)((x, y) => 30 + 3 * x + 2 * y + (x * y) % 5),
      grayImage(64, 64)((_, _) => 128), // all-EOB refinement path
      grayImage(80, 24)((x, y) =>
        if (x >= 32 && x < 40) 40 + 13 * ((x + y) % 7) else 90),
      grayImage(13, 9)((x, y) => (x * 17 + y * 31) % 200 + 10))) {
      val base = Jpeg.decode(Jpeg.encode(img))
      val sa = Jpeg.decode(
        Jpeg.encodeProgressive(img, color = false, sa = true))
      assert(java.util.Arrays.equals(sa.rgb, base.rgb))
    }
  }

  test("SUCCESSIVE APPROXIMATION: color 4:4:4 pixel-identical to " +
      "baseline 4:4:4") {
    Seq(7L, 17L, 37L).foreach { id =>
      val img = Media.colorPlantImage(id, altCell = false)
      val base = Jpeg.decode(Jpeg.encodeColor(img, subsample = false))
      val sa = Jpeg.decode(
        Jpeg.encodeProgressive(img, color = true, sa = true))
      assert(java.util.Arrays.equals(sa.rgb, base.rgb), s"id $id")
    }
  }

  test("SA randomized coefficient round-trip: sparse-frequency images " +
      "(long zero-history runs with mixed magnitudes — a t>1 correction " +
      "past 16 zeros before a newly-visible coefficient must not desync)") {
    // deterministic xorshift so every run exercises the same 80 images
    var seed = 0x9e3779b97f4a7c15L
    def nextLong(): Long = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17; seed
    }
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def basis(u: Int, x: Int): Double =
      math.cos((2 * x + 1) * u * math.Pi / 16) *
        (if (u == 0) 1 / math.sqrt(2) else 1)
    for (trial <- 0 until 80) {
      // one mid-frequency large component (stays visible from the Al=2
      // first scan -> correction bits in every refinement) plus one
      // late small component (newly visible only at Al=1 or Al=0 ->
      // the run up to it spans 16+ zero-history positions), and a few
      // extra random components for coverage
      val comps =
        Seq(((3 + nextInt(3), 2 + nextInt(3)), 150 + nextInt(700)),
            ((6 + nextInt(2), 5 + nextInt(3)), 60 + nextInt(260))) ++
        (0 until nextInt(3)).map(_ =>
          ((nextInt(8), nextInt(8)), 30 + nextInt(400)))
      val w = 8 * (1 + nextInt(3)); val h = 8 * (1 + nextInt(2))
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        var v = 120.0 + 2.0 * (x / 8) + 3.0 * (y / 8) // per-block DC drift
        comps.foreach { case ((u, uv), a) =>
          v += a / 4.0 * basis(u, x % 8) * basis(uv, y % 8)
        }
        val b = math.max(0L, math.min(255L, math.round(v))).toByte
        val p = (y * w + x) * 3
        rgb(p) = b; rgb(p + 1) = b; rgb(p + 2) = b
      }
      val img = Bmp.Image(w, h, rgb)
      val base = Jpeg.decode(Jpeg.encode(img))
      val sa = Jpeg.decode(
        Jpeg.encodeProgressive(img, color = false, sa = true))
      assert(java.util.Arrays.equals(sa.rgb, base.rgb),
        s"trial $trial (${w}x$h, comps=$comps) diverged")
    }
  }

  test("malformed Ah (not 0 and not Al+1) is loud") {
    val bytes = Jpeg.encodeProgressive(
      grayImage(16, 16)((x, y) => 60 + x + y), color = false)
    // patch the first SOS's A byte (Ah<<4|Al) to an inconsistent 0x31
    val sos = (0 until bytes.length - 1).find(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xda).get
    val ns = bytes(sos + 4) & 0xff
    val aAt = sos + 4 + 1 + 2 * ns + 2
    val patched = bytes.clone()
    patched(aAt) = 0x31
    val e = intercept[IllegalArgumentException](Jpeg.decode(patched))
    assert(e.getMessage.contains("Ah"))
  }

  test("dHash of a progressive color JPEG equals its lossless BMP twin") {
    Seq(7L, 27L, 47L).foreach { id =>
      val img = Media.colorPlantImage(id, altCell = false)
      val viaBmp = Perceptual.dHash(Bmp.decode(Bmp.encode(img)))
      val viaProg = Perceptual.dHash(
        Jpeg.decode(Jpeg.encodeProgressive(img, color = true)))
      assert(viaProg == viaBmp, s"id $id dHash diverged")
    }
  }
}
