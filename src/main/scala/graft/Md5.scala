package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.unsafe.types.UTF8String

/** The MD5 plumbing shared by the hashing kernels (SimHash, MinHash,
  * winnowing, the Poisson and sign-flip replicate draws) and the driver
  * side helpers that replay their hex contracts. */
private[graft] object Md5 {

  // MessageDigest.getInstance is a provider lookup + allocation: at one
  // call per token or row it would dominate the kernels. Executors call
  // them from many codegen'd task threads, hence one digest per thread.
  private val local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** This thread's reusable MD5 digest, reset. */
  def digest(): MessageDigest = {
    val md = local.get()
    md.reset()
    md
  }

  private val HexDigits = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** The low `digits` nibbles of `v` as lowercase hex, most significant
    * first: the fixed-width digest-prefix form the SQL oracles compare. */
  def hex(v: Long, digits: Int): UTF8String = {
    val out = new Array[Byte](digits)
    var j = 0
    while (j < digits) {
      out(j) = HexDigits(((v >>> ((digits - 1 - j) * 4)) & 0xf).toInt)
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** `md5(s)` as 32 lowercase hex characters (Catalyst's and DuckDB's
    * `md5` of the UTF-8 bytes). */
  def hex(s: String): String = {
    val d = digest().digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out, StandardCharsets.US_ASCII)
  }
}
