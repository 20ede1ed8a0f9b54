package graft.multimodal

/** Little-endian int and short access on a byte array, shared by the
  * BMP and WAV codecs (both containers store their headers that way).
  */
private[multimodal] object LittleEndian {

  def putIntLE(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v & 0xff).toByte
    a(off + 1) = ((v >>> 8) & 0xff).toByte
    a(off + 2) = ((v >>> 16) & 0xff).toByte
    a(off + 3) = ((v >>> 24) & 0xff).toByte
  }

  def putShortLE(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v & 0xff).toByte
    a(off + 1) = ((v >>> 8) & 0xff).toByte
  }

  def getIntLE(a: Array[Byte], off: Int): Int =
    (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8) |
      ((a(off + 2) & 0xff) << 16) | ((a(off + 3) & 0xff) << 24)

  def getShortLE(a: Array[Byte], off: Int): Int =
    (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8)
}
