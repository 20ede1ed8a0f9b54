package graft.multimodal

import LittleEndian._

/** Minimal REAL codec for 24-bit uncompressed BMP (the public Windows
  * BITMAPFILEHEADER + BITMAPINFOHEADER format): pure JVM, no external
  * library. API-side pixels are RGB triplets in top-down row order; the
  * FILE stores rows bottom-up, channels BGR, every row zero-padded to a
  * 4-byte boundary — [[decode]] genuinely parses the headers and
  * re-orders the pixel array, so a payload produced by any conformant
  * writer decodes correctly (and [[encode]]→[[decode]] round-trips
  * bit-exactly, asserted in MultimodalSpec).
  */
object Bmp {

  /** Decoded image: `rgb` is width*height*3 bytes, top-down rows, RGB
    * channel order.
    */
  final case class Image(width: Int, height: Int, rgb: Array[Byte])

  /** 14-byte file header + 40-byte BITMAPINFOHEADER. */
  val HeaderSize: Int = 54

  private def rowStride(width: Int): Int = {
    val rowBytes = width * 3
    rowBytes + ((4 - rowBytes % 4) % 4)
  }

  def encode(img: Image): Array[Byte] = {
    val Image(w, h, rgb) = img
    require(w > 0 && h > 0, "positive dimensions")
    require(rgb.length == w * h * 3, s"rgb length ${rgb.length} != ${w * h * 3}")
    val stride = rowStride(w)
    val out = new Array[Byte](HeaderSize + stride * h)
    out(0) = 'B'; out(1) = 'M'
    putIntLE(out, 2, out.length)           // file size
    putIntLE(out, 10, HeaderSize)          // pixel-data offset
    putIntLE(out, 14, 40)                  // BITMAPINFOHEADER size
    putIntLE(out, 18, w)
    putIntLE(out, 22, h)                   // positive = bottom-up rows
    putShortLE(out, 26, 1)                 // planes
    putShortLE(out, 28, 24)                // bits per pixel
    putIntLE(out, 30, 0)                   // BI_RGB (uncompressed)
    putIntLE(out, 34, stride * h)          // image size
    putIntLE(out, 38, 2835)                // 72 DPI horizontal
    putIntLE(out, 42, 2835)                // 72 DPI vertical
    var y = 0
    while (y < h) {
      val fileOff = HeaderSize + (h - 1 - y) * stride // bottom-up
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        out(fileOff + x * 3) = rgb(p + 2)     // B
        out(fileOff + x * 3 + 1) = rgb(p + 1) // G
        out(fileOff + x * 3 + 2) = rgb(p)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Parse a 24-bit uncompressed BMP. Throws IllegalArgumentException on
    * anything that is not one (magic, bpp, compression, truncation) —
    * loud beats a plausible wrong answer for a codec boundary.
    */
  def decode(payload: Array[Byte]): Image = {
    require(payload.length >= HeaderSize, "truncated header")
    require(payload(0) == 'B' && payload(1) == 'M', "not a BMP (magic)")
    val dataOff = getIntLE(payload, 10)
    val w = getIntLE(payload, 18)
    val hRaw = getIntLE(payload, 22)
    val topDown = hRaw < 0                  // negative height = top-down file
    val h = math.abs(hRaw)
    require(w > 0 && h > 0, s"bad dimensions ${w}x$hRaw")
    require(getShortLE(payload, 28) == 24, "only 24bpp supported")
    require(getIntLE(payload, 30) == 0, "only uncompressed (BI_RGB) supported")
    val stride = rowStride(w)
    require(payload.length >= dataOff + stride * h, "truncated pixel data")
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val fileRow = if (topDown) y else h - 1 - y
      val fileOff = dataOff + fileRow * stride
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        rgb(p) = payload(fileOff + x * 3 + 2)     // R
        rgb(p + 1) = payload(fileOff + x * 3 + 1) // G
        rgb(p + 2) = payload(fileOff + x * 3)     // B
        x += 1
      }
      y += 1
    }
    Image(w, h, rgb)
  }

  /** Nearest-neighbor resample to exactly (outW, outH) — the real pixel
    * work behind [[Multimodal.resize]].
    */
  def resample(img: Image, outW: Int, outH: Int): Image = {
    require(outW > 0 && outH > 0, "positive output dimensions")
    val rgb = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = (y.toLong * img.height / outH).toInt
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * img.width / outW).toInt
        val s = (sy * img.width + sx) * 3
        val d = (y * outW + x) * 3
        rgb(d) = img.rgb(s); rgb(d + 1) = img.rgb(s + 1)
        rgb(d + 2) = img.rgb(s + 2)
        x += 1
      }
      y += 1
    }
    Image(outW, outH, rgb)
  }
}
