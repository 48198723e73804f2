package graft.plans

import java.security.MessageDigest

import org.apache.spark.unsafe.types.UTF8String

/** Byte-level helpers the text and vector kernels share: one token
  * boundary and one token scan, one 6-digit round of a double and one
  * of a scale-8 fixed-point sum (with the weight → fixed-point step),
  * one md5 hex encoder and one per-thread digest factory. */
private[plans] object KernelBytes {

  /** ASCII whitespace (Java `\s`: space, \t, \n, \x0B, \f, \r) — the
    * python `str.split` boundary of every word-keyed kernel, so their
    * tokenizations match `WordNgrams` byte for byte. */
  def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The tokens of `bytes` split on `isWs`, as byte ranges: returns
    * `b` with b(0) = the token count n, and token t spanning bytes
    * [b(2t + 1), b(2t + 2)) — python `str.split()`'s tokens. One
    * array per call, grown by doubling. */
  def tokenBounds(bytes: Array[Byte]): Array[Int] = {
    val len = bytes.length
    var b = new Array[Int](17)
    var n = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        if (2 * n + 2 >= b.length) b = java.util.Arrays.copyOf(b, 2 * b.length - 1)
        b(2 * n + 1) = i
        while (i < len && !isWs(bytes(i))) i += 1
        b(2 * n + 2) = i
        n += 1
      }
    }
    b(0) = n
    b
  }

  /** Spark's exact `round(x, 6)` for finite doubles: the SAME scala
    * BigDecimal path RoundBase compiles to, so a kernel's numbers are
    * bit-identical to the declarative form. */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else scala.math.BigDecimal(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact scale-8 fixed point of a weight the model already rounded
    * to 8 decimals (HALF_UP recovers the decimal the double means). */
  def toFixed(w: Double): Long =
    java.math.BigDecimal.valueOf(w)
      .setScale(8, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()

  /** A scale-8 fixed-point sum as the declarative `round(sum, 6)` of
    * the decimal(20,8) sum, cast to double: the round happens in
    * DECIMAL, HALF_UP, before any double (a double first could land
    * on a ....50 tie that engines resolve differently). */
  def round6Fixed(fixed: Long): Double =
    java.math.BigDecimal.valueOf(fixed, 8)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private val HexChars = "0123456789abcdef".getBytes("US-ASCII")

  /** The 32-char lowercase hex of a 16-byte md5 digest — Spark's
    * `md5()` string. */
  def md5Hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = d(i) & 0xff
      out(i * 2) = HexChars(b >>> 4)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** A fresh per-thread MD5 digest. MessageDigest is stateful and
    * `digest()` resets it, so each kernel object holds its own
    * instance: no two kernels share a digest. */
  def md5PerThread(): ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
}
