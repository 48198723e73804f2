package graft.plans

import java.security.MessageDigest

import org.apache.spark.unsafe.types.UTF8String

/** Byte-level helpers the text and vector kernels share: one token
  * boundary, one 6-digit round, one md5 hex encoder and one per-thread
  * digest factory. */
private[plans] object KernelBytes {

  /** ASCII whitespace (Java `\s`: space, \t, \n, \x0B, \f, \r) — the
    * python `str.split` boundary of every word-keyed kernel, so their
    * tokenizations match `WordNgrams` byte for byte. */
  def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Spark's exact `round(x, 6)` for finite doubles: the SAME scala
    * BigDecimal path RoundBase compiles to, so a kernel's numbers are
    * bit-identical to the declarative form. */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else scala.math.BigDecimal(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

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
