package graft.util

import java.nio.charset.StandardCharsets

/** Lowercase fixed-width hex, two chars per byte — the one encoder for
  * digests (MinHash signatures and band keys, media checksums, snapshot
  * ids). Fixed-width lowercase hex sorts, as a String or as bytes, in
  * the same order as the unsigned bytes it encodes.
  */
object Hex {

  private val Chars = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** ASCII bytes of the hex of the first `n` bytes of `b`. */
  def bytes(b: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      out(2 * i) = Chars((b(i) >> 4) & 0xf)
      out(2 * i + 1) = Chars(b(i) & 0xf)
      i += 1
    }
    out
  }

  def string(b: Array[Byte], n: Int): String = new String(bytes(b, n), StandardCharsets.US_ASCII)

  def string(b: Array[Byte]): String = string(b, b.length)
}
