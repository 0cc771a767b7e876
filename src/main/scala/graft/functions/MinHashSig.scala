package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel ([[Kernel]]): MinHash signature of a shingle array.
  *
  * `minhash_sig(shingles, k)` → array<bigint> of length k: minima of k
  * universal hashes h_i = (lo31(h)·a_i mod 2⁶⁴) xor hi33(h) over
  * FNV-1a 64 of each shingle's UTF-8 bytes, with FULL-WIDTH odd
  * multipliers a_i — the product must WRAP (r10): with narrow
  * multipliers the product never exceeded 2⁶³, making every h_i
  * monotone in lo31 — all k "permutations" then rank shingles
  * identically and the signature degenerates to k copies of the
  * argmin-lo shingle (estimates collapse to ≈0/1, LSH recall breaks
  * for near-dups that differ in their minimum-lo shingle). Wrapping
  * multiplication by a random odd a is a bijection of Z₂⁶⁴ whose
  * induced ordering differs per a — a genuine min-wise family.
  *
  * Why a kernel rather than a UDF (SURVEY §2.12 preference order):
  * it runs inside whole-stage codegen as a direct `compute` call and
  * operates directly on Tungsten `ArrayData`/`UTF8String` — no Seq[String]
  * deserialization, no boxing, per-row garbage ≈ the output array only.
  * This is the hot inner loop of corpus-scale dedup.
  */
object MinHashSig extends Kernel("minhash_sig",
    Seq(ArrayType(StringType)), ArrayType(LongType, containsNull = false)) {

  /** Column API: `minhashSig(shingleArray, k)`. */
  def apply(c: Column, k: Int): Column = call(c)(k)

  private val mixerCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** Deterministic FULL 64-bit odd multipliers (splitmix64-derived).
    * Width matters: see the class scaladoc — 31-bit multipliers made
    * the mix monotone and degenerated the signature (r10). Mirrors
    * emit these as unsigned decimals and multiply in HUGEINT mod 2⁶⁴. */
  def mixers(k: Int): Array[Long] =
    mixerCache.computeIfAbsent(k, kk =>
      Array.tabulate(kk) { i =>
        var z = i.toLong * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z | 1L
      })

  /** FNV-1a 64 over UTF-8 bytes. */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xFF; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Shared kernel for interpreted eval and generated code. */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val as = mixers(k)
    val sig = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var si = 0
    while (si < n) {
      val s = shingles.getUTF8String(si)
      if (s != null) {
        val h = fnv64(s)
        val lo = h & 0x7FFFFFFFL
        val hi = h >>> 31
        var i = 0
        while (i < k) {
          val v = (lo * as(i)) ^ hi
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      si += 1
    }
    new GenericArrayData(sig)
  }
}
