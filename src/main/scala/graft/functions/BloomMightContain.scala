package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Native kernel ([[Kernel]]): membership probe of a long key against a
  * pre-built [[org.apache.spark.util.sketch.BloomFilter]].
  *
  * `bloom_might_contain(key)` → boolean. False ⇒ definitely absent;
  * true ⇒ present with probability 1−fpp. The sketch rides along as a
  * plan reference object (`ctx.addReferenceObj`), NOT a literal — a
  * 100 MB bit array never gets embedded/pretty-printed in the plan, and
  * the probe stays inside whole-stage codegen.
  *
  * This is the scale path for mask filters (F2/J1,
  * `analyzer.py:218-223`) when the mask uid set is too large to
  * broadcast exactly: prefilter the big side with the sketch (shrinking
  * its shuffle input by ~(1−fpp) of the non-members), then confirm with
  * the exact semi-join. See [[graft.core.Masks.bloomSemiJoin]].
  */
object BloomMightContain extends Kernel("bloom_might_contain", Nil, BooleanType) {
  /** Column API: `BloomMightContain(keyCol, bloom)`. */
  def apply(c: Column, bloom: BloomFilter): Column = call(c)(bloom)

  override def checkInputs(types: Seq[DataType]): Option[String] =
    types match {
      case Seq(LongType | IntegerType | ShortType | ByteType) => None
      case _ => Some("bloom_might_contain expects an integral key, got " +
        Kernel.show(types))
    }

  /** Narrower integral keys widen to long, as `(long)` did. */
  def compute(key: Long, bloom: BloomFilter): Boolean =
    bloom.mightContainLong(key)
}
