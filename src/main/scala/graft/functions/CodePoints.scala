package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The one UTF-8 decoder of the string kernels ([[PolyHash]],
  * [[WinnowFps]]): the code points `ascii(substring(s, i, 1))` and
  * `String.codePointAt` see. Well-formed UTF-8 is decoded straight from
  * the UTF8String's bytes (no per-row String copy; the toString
  * allocation showed up as the residual cost on large normalized
  * documents). A malformed sequence anywhere (a stray continuation
  * byte, a truncated sequence, an overlong encoding, a surrogate, a
  * code point above U+10FFFF) sends the whole string through the JDK
  * decoder instead, which substitutes U+FFFD, so a kernel's result on
  * any bytes equals its result on the decoded String. */
private[functions] object CodePoints {
  /** The code point starting at byte `i` of `s` and its byte length,
    * packed as `cp << 3 | len`; -1 where the bytes at `i` are not
    * well-formed UTF-8. */
  def at(s: UTF8String, i: Int): Long = {
    val b0 = s.getByte(i) & 0xFF
    var cp = 0
    var len = 0
    if (b0 < 0x80) return (b0.toLong << 3) | 1
    else if (b0 < 0xC2) return -1 // continuation byte or two-byte overlong lead
    else if (b0 < 0xE0) { cp = b0 & 0x1F; len = 2 }
    else if (b0 < 0xF0) { cp = b0 & 0x0F; len = 3 }
    else if (b0 < 0xF5) { cp = b0 & 0x07; len = 4 }
    else return -1
    if (i + len > s.numBytes) return -1
    var j = 1
    while (j < len) {
      val bj = s.getByte(i + j) & 0xFF
      if ((bj & 0xC0) != 0x80) return -1
      cp = (cp << 6) | (bj & 0x3F)
      j += 1
    }
    // three- and four-byte overlongs, surrogates and cp > U+10FFFF
    if ((len == 3 && (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF))) ||
        (len == 4 && (cp < 0x10000 || cp > 0x10FFFF))) -1
    else (cp.toLong << 3) | len
  }

  /** All code points of `s`. */
  def of(s: UTF8String): Array[Int] = {
    val n = s.numBytes
    val out = new Array[Int](n) // upper bound; trimmed below
    var m = 0
    var i = 0
    while (i < n) {
      val c = at(s, i)
      if (c < 0) return jdk(s)
      out(m) = (c >>> 3).toInt; m += 1
      i += (c & 7).toInt
    }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }

  /** The JDK decoder's code points: U+FFFD for each malformed sequence. */
  def jdk(s: UTF8String): Array[Int] = s.toString.codePoints().toArray
}
