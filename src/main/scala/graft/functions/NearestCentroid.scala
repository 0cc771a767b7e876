package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernel ([[Kernel]]): index of the nearest centroid (squared
  * L2) for a numeric array, with the centroid matrix embedded as a
  * reference object in the generated code.
  *
  * `nearest_centroid(v)` → int: argmin_c Σ_d (v_d − cents_c_d)², ties
  * broken toward the LOWER index (strict `<` keeps the first minimum).
  * Vectors shorter/longer than a centroid row compare over the shorter
  * length (callers must pre-validate homogeneous dims, as elsewhere).
  *
  * Why an Expression rather than a UDF (VERDICT r03 finding 3): the
  * previous `ivfAssign` UDF deserialized every embedding into a boxed
  * `Seq[Float]` on the full corpus — the one remaining hot-path UDF.
  * This kernel runs inside whole-stage codegen on Tungsten `ArrayData`
  * (same pattern as [[CosineSim]]); the IVF assignment becomes a pure
  * map stage.
  */
object NearestCentroid extends Kernel("nearest_centroid", Nil, IntegerType) {

  /** Column API: `NearestCentroid(vec, cents)`. */
  def apply(c: Column, cents: Array[Array[Double]]): Column = call(c)(cents)

  override def checkConsts(consts: Seq[Any]): Unit =
    require(consts.head.asInstanceOf[Array[Array[Double]]].nonEmpty,
      "nearest_centroid: empty centroid set")

  override def checkInputs(types: Seq[DataType]): Option[String] =
    if (types.length == 1 && CosineSim.elemCode(types.head) >= 0) None
    else Some("nearest_centroid expects an array of integral or " +
      s"floating elements, got ${Kernel.show(types)}")

  /** The vector's element type, as [[compute]]'s `code`. */
  override def typeArgs(types: Seq[DataType]): Seq[Int] =
    types.map(CosineSim.elemCode)

  /** Shared kernel for interpreted eval and generated code. Sequential
    * accumulation in index order (oracle-mirrorable); null elements
    * contribute 0 to the distance. */
  def compute(v: ArrayData, code: Int, cents: Array[Array[Double]]): Int = {
    val nv = v.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val row = cents(c)
      val n = math.min(nv, row.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) {
          val t = CosineSim.get(v, i, code) - row(i)
          d += t * t
        }
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
}
