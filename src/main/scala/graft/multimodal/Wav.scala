package graft.multimodal

import LittleEndian._

/** Minimal REAL codec for 16-bit PCM WAV (the public RIFF/WAVE
  * container): pure JVM, no external library — the audio sibling of
  * [[Bmp]]. [[decode]] genuinely walks the RIFF chunk list (tolerating
  * extra chunks such as LIST/INFO before `data`), validates the fmt
  * chunk (PCM, 16-bit), and returns interleaved samples; [[encode]]
  * writes the canonical 44-byte-header file. encode→decode round-trips
  * bit-exactly (asserted in AudioSpec).
  */
object Wav {

  /** Decoded clip: interleaved 16-bit samples, `frames * channels`
    * entries.
    */
  final case class Audio(sampleRate: Int, channels: Int,
      samples: Array[Short]) {
    def frames: Int = samples.length / channels
  }

  val HeaderSize: Int = 44

  private def tag(a: Array[Byte], off: Int): String =
    new String(a, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  def encode(audio: Audio): Array[Byte] = {
    val Audio(rate, ch, samples) = audio
    require(rate > 0 && ch > 0, "positive rate/channels")
    require(samples.length % ch == 0, "samples not a whole frame count")
    val dataBytes = samples.length * 2
    val out = new Array[Byte](HeaderSize + dataBytes)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putIntLE(out, 4, 36 + dataBytes)        // RIFF payload size
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putIntLE(out, 16, 16)                   // fmt chunk size (PCM)
    putShortLE(out, 20, 1)                  // PCM
    putShortLE(out, 22, ch)
    putIntLE(out, 24, rate)
    putIntLE(out, 28, rate * ch * 2)        // byte rate
    putShortLE(out, 32, ch * 2)             // block align
    putShortLE(out, 34, 16)                 // bits per sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putIntLE(out, 40, dataBytes)
    var i = 0
    while (i < samples.length) {
      putShortLE(out, HeaderSize + 2 * i, samples(i) & 0xffff)
      i += 1
    }
    out
  }

  /** Parse a 16-bit PCM WAV. Walks the chunk list, so files with extra
    * chunks (LIST, fact, …) before `data` decode correctly. Throws
    * IllegalArgumentException on anything that is not PCM-16 WAV —
    * loud beats a plausible wrong answer at a codec boundary.
    */
  def decode(payload: Array[Byte]): Audio = {
    require(payload.length >= 12, "truncated RIFF header")
    require(tag(payload, 0) == "RIFF" && tag(payload, 8) == "WAVE",
      "not a WAV (RIFF/WAVE magic)")
    var off = 12
    var rate = -1; var ch = -1
    var samples: Array[Short] = null
    while (off + 8 <= payload.length && (rate < 0 || samples == null)) {
      val id = tag(payload, off)
      val size = getIntLE(payload, off + 4)
      require(size >= 0 && off + 8 + size <= payload.length,
        s"truncated chunk $id")
      id match {
        case "fmt " =>
          require(size >= 16, "fmt chunk too small")
          require(getShortLE(payload, off + 8) == 1, "only PCM supported")
          ch = getShortLE(payload, off + 10)
          rate = getIntLE(payload, off + 12)
          require(getShortLE(payload, off + 22) == 16,
            "only 16-bit samples supported")
          require(ch > 0 && rate > 0, "bad fmt values")
        case "data" =>
          require(rate > 0, "data chunk before fmt")
          require(size % 2 == 0, "odd data size for 16-bit samples")
          samples = new Array[Short](size / 2)
          var i = 0
          while (i < samples.length) {
            samples(i) = getShortLE(payload, off + 8 + 2 * i).toShort
            i += 1
          }
        case _ => () // skip LIST/fact/other chunks
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(samples != null, "no data chunk")
    Audio(rate, ch, samples)
  }

  /** Nearest-neighbor resample to exactly `outFrames` frames (the
    * [[Bmp.resample]] discipline): output frame `i` copies input frame
    * `i * frames / outFrames` (truncating div on nonnegative values),
    * all channels.
    */
  def resample(audio: Audio, outFrames: Int): Audio = {
    require(outFrames > 0, "positive output frames")
    val ch = audio.channels
    val out = new Array[Short](outFrames * ch)
    var i = 0
    while (i < outFrames) {
      val src = (i.toLong * audio.frames / outFrames).toInt
      var c = 0
      while (c < ch) {
        out(i * ch + c) = audio.samples(src * ch + c)
        c += 1
      }
      i += 1
    }
    Audio(audio.sampleRate, ch, out)
  }
}
