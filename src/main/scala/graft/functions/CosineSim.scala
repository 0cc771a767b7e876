package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernel ([[Kernel]]): cosine similarity of two numeric arrays
  * in double precision.
  *
  * `cosine_sim(a, b)` → double. Bit-identical to the HOF formulation
  * `aggregate(zip_with(a,b,*))/(sqrt(aggregate(..))·sqrt(aggregate(..)))`
  * — same sequential accumulation order — but one codegen'd loop over
  * the raw `ArrayData` instead of three lambda-driven folds with per-
  * element closure dispatch. This is the hot kernel of every exact
  * rerank (brute-force top-k, LSH/IVF ANN verify, embedding near-dup).
  *
  * Accepts any integral/floating element type, widening to double like
  * the HOF chain's `cast("double")` did (ADVICE r03: rejecting
  * array<int> embeddings broke callers the HOF form accepted).
  * Null semantics mirror the HOF chain: null arrays, length mismatch,
  * or a null element → null.
  */
object CosineSim extends Kernel("cosine_sim", Nil, DoubleType) {

  /** Column API: `CosineSim(a, b)`. */
  def apply(a: Column, b: Column): Column = call(a, b)()

  // a length mismatch or a null element gives null
  override def nullableResult: Boolean = true
  override def nullIntolerant: Boolean = false

  private[functions] def elemCode(dt: DataType): Int = dt match {
    case ArrayType(DoubleType, _) => 0
    case ArrayType(FloatType, _) => 1
    case ArrayType(LongType, _) => 2
    case ArrayType(IntegerType, _) => 3
    case ArrayType(ShortType, _) => 4
    case ArrayType(ByteType, _) => 5
    case _ => -1
  }

  override def checkInputs(types: Seq[DataType]): Option[String] =
    if (types.length == 2 && types.forall(elemCode(_) >= 0)) None
    else Some("cosine_sim expects arrays of integral or floating " +
      s"elements, got ${types.map(_.catalogString).mkString(", ")}")

  /** Each side's element type, as [[get]]'s code. */
  override def typeArgs(types: Seq[DataType]): Seq[Int] = types.map(elemCode)

  private[functions] def get(a: ArrayData, i: Int, code: Int): Double = (code: @annotation.switch) match {
    case 0 => a.getDouble(i)
    case 1 => a.getFloat(i).toDouble
    case 2 => a.getLong(i).toDouble
    case 3 => a.getInt(i).toDouble
    case 4 => a.getShort(i).toDouble
    case 5 => a.getByte(i).toDouble
  }

  /** Shared kernel; returns java.lang.Double or null. Accumulation
    * order matches the sequential HOF folds exactly. */
  def compute(a: ArrayData, b: ArrayData, aCode: Int, bCode: Int)
      : java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += get(a, i, aCode) * get(b, i, bCode)
      i += 1
    }
    i = 0
    while (i < n) {
      val x = get(a, i, aCode)
      na += x * x
      i += 1
    }
    i = 0
    while (i < n) {
      val y = get(b, i, bCode)
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}
