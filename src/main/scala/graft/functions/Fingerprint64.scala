package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel ([[Kernel]]): rolling polynomial document fingerprint
  * (Rabin-Karp style) over UTF-8 bytes.
  *
  * `fingerprint64(text)` → bigint: h = 17, then h = h·1000003 + byte for
  * each UTF-8 byte, with 64-bit wrapping multiplies. Stable across
  * partitioning and file layout (a pure function of the text).
  *
  * Why a kernel rather than a UDF (SURVEY §2.12 preference order):
  * wrapping 64-bit arithmetic is exactly what ANSI-mode SQL `*`/`+`
  * forbids, and a Scala UDF would pay UTF8String→String conversion per
  * row; here the kernel runs on the raw UTF-8 bytes inside whole-stage
  * codegen with zero per-row allocation.
  */
object Fingerprint64 extends Kernel("fingerprint64", Seq(StringType), LongType) {

  /** Column API: `fingerprint(text)`. */
  def apply(c: Column): Column = call(c)()

  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 17L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xFF)
      i += 1
    }
    h
  }
}

/** Native kernel ([[Kernel]]): FNV-1a 64 of a string's UTF-8 bytes —
  * the same token-hash kernel the MinHash signatures use
  * ([[MinHashSig.fnv64]]), exposed as a scalar so SimHash bit-voting
  * runs on a hash that an ANSI-SQL oracle can reproduce (wrapping
  * multiply emulated in 128-bit arithmetic mod 2^64). */
object Fnv64 extends Kernel("fnv64", Seq(StringType), LongType) {
  /** Column API: `Fnv64(text)`. */
  def apply(c: Column): Column = call(c)()

  def compute(s: UTF8String): Long = MinHashSig.fnv64(s)
}
