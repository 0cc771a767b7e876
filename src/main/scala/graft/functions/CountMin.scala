package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count–Min sketch (Cormode & Muthukrishnan 2005) over the corpus
  * token stream — the canonical POINT-QUERY frequency sketch next to
  * the engine's [[MisraGriesTerms]] (heavy hitters), HLL (distinct)
  * and KLL (quantiles): `depth` hash rows × `width` counters; a term's
  * estimate is the MINIMUM of its `depth` cells.
  *
  * Guarantees (deterministic given the pinned hash family):
  *  - NEVER underestimates: `estimate(t) ≥ true_count(t)` always
  *    (every cell of t holds t's count plus non-negative collisions);
  *  - overestimates are bounded: with width w, the expected collision
  *    mass per cell is N/w, and `estimate ≤ true + e·N/w` holds with
  *    probability ≥ 1 − e^(−depth) per term — at the gate's fixed
  *    corpus + fixed hashes the outcome is deterministic and the gate
  *    pins it as a boolean.
  *
  * Against Misra–Gries: MG answers "which terms are heavy" with an
  * UNDERcount bound and a capacity-bounded candidate set; CMS answers
  * "how often does THIS term occur" for ANY term with an OVERcount
  * bound, no candidate set, and a fixed-size state independent of
  * vocabulary — the right tool when the query terms are known but the
  * stream's vocabulary is unbounded.
  *
  * Hash family (pinned, engine-private — oracles gate the BOUNDS, not
  * the cells): h1 = FNV-1a(64) of the term's UTF-8 bytes, h2 = the
  * Knuth-scrambled h1 forced odd, row j indexes
  * `floorMod(h1 + j·h2, width)` — the Kirsch–Mitzenmacher double
  * hashing construction.
  *
  * Scale shape (100 TB): the sketch IS the aggregate state — the
  * shuffle carries one depth×width long matrix per (partition ×
  * group), never the token stream; merge is element-wise addition
  * (exact, associative, commutative), so per-day sketches persist and
  * any window re-aggregates with [[MergeCmsSketches]] at KB cost. */
object CmsKernel {

  def index(h1: Long, h2: Long, row: Int, width: Int): Int =
    java.lang.Math.floorMod(h1 + row.toLong * h2, width.toLong).toInt

  def hash1(bytes: Array[Byte]): Long = {
    var h = -3750763034362895579L // FNV-1a 64 offset basis
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 1099511628211L
      i += 1
    }
    h
  }

  def hash2(h1: Long): Long = (h1 * -7046029254386353131L) | 1L
}

/** Mutable Count–Min state: a flat row-major depth×width counter
  * matrix plus the total offered-token count N (the bound's scale). */
final class CmsSketch(val depth: Int, val width: Int)
    extends Serializable {
  val counts = new Array[Long](depth * width)
  var total: Long = 0L

  def offer(term: String): Unit = {
    val h1 = CmsKernel.hash1(term.getBytes("UTF-8"))
    val h2 = CmsKernel.hash2(h1)
    var j = 0
    while (j < depth) {
      counts(j * width + CmsKernel.index(h1, h2, j, width)) += 1L
      j += 1
    }
    total += 1L
  }

  def absorb(o: CmsSketch): Unit = {
    require(o.depth == depth && o.width == width,
      s"cannot merge a ${o.depth}x${o.width} sketch into ${depth}x$width")
    var i = 0
    while (i < counts.length) { counts(i) += o.counts(i); i += 1 }
    total += o.total
  }

  /** Point estimate: min over the term's depth cells — ≥ the true
    * count, always. */
  def query(term: String): Long = {
    val h1 = CmsKernel.hash1(term.getBytes("UTF-8"))
    val h2 = CmsKernel.hash2(h1)
    var best = Long.MaxValue
    var j = 0
    while (j < depth) {
      val c = counts(j * width + CmsKernel.index(h1, h2, j, width))
      if (c < best) best = c
      j += 1
    }
    best
  }
}

private[functions] object CmsCodec {
  val dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("counts", ArrayType(LongType, containsNull = false),
      nullable = false)))

  def toRow(buf: CmsSketch): GenericInternalRow =
    new GenericInternalRow(Array[Any](buf.total,
      new GenericArrayData(buf.counts.clone())))

  def serialize(buf: CmsSketch): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * (buf.counts.length + 1))
    bb.putLong(buf.total)
    var i = 0
    while (i < buf.counts.length) { bb.putLong(buf.counts(i)); i += 1 }
    bb.array()
  }

  def deserialize(bytes: Array[Byte], depth: Int, width: Int): CmsSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new CmsSketch(depth, width)
    buf.total = bb.getLong
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) = bb.getLong; i += 1 }
    buf
  }
}

/** `countmin_terms(text, width, depth)` → the mergeable Count–Min
  * sketch of the corpus token stream as
  * `struct<total:bigint, counts:array<long>>` (row-major depth×width).
  * Tokenization is the engine's exact whitespace walker applied inside
  * the aggregate (the [[MisraGriesTerms]] shape — the token stream is
  * never exploded). Null text contributes nothing. */
case class CountMinTerms(
    child: Expression,
    width: Int,
    depth: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CmsSketch] {

  require(width > 0 && depth > 0, "width and depth must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = CmsCodec.dataType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"countmin_terms expects string, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): CmsSketch =
    new CmsSketch(depth, width)

  override def update(buf: CmsSketch, row: InternalRow): CmsSketch = {
    val v = child.eval(row)
    if (v != null) {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      val (starts, ends, n) = TextTokenize.tokenize(bytes)
      var i = 0
      while (i < n) {
        if (ends(i) > starts(i))
          buf.offer(new String(bytes, starts(i), ends(i) - starts(i), "UTF-8"))
        i += 1
      }
    }
    buf
  }

  override def merge(a: CmsSketch, b: CmsSketch): CmsSketch = {
    a.absorb(b); a
  }

  override def eval(buf: CmsSketch): Any = CmsCodec.toRow(buf)

  override def serialize(buf: CmsSketch): Array[Byte] =
    CmsCodec.serialize(buf)
  override def deserialize(bytes: Array[Byte]): CmsSketch =
    CmsCodec.deserialize(bytes, depth, width)

  override def withNewMutableAggBufferOffset(o: Int): CountMinTerms =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinTerms =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinTerms =
    copy(child = newChildren(0))

  override def prettyName: String = "countmin_terms"
}

object CountMinTerms {
  def apply(text: Column, width: Int, depth: Int): Column =
    GraftSqlBridge.column(
      CountMinTerms(GraftSqlBridge.expression(text), width, depth)
        .toAggregateExpression())
}

/** `merge_cms_sketches(sketch, width, depth)` → re-aggregate PERSISTED
  * Count–Min sketches (rows in the [[CountMinTerms]] output shape)
  * into one — the incremental-corpus path: sketch each day once,
  * persist the KB-scale matrix, answer any window by element-wise
  * addition (exact — a merged sketch IS the sketch of the union
  * stream, bit for bit). Null rows contribute nothing. */
case class MergeCmsSketches(
    child: Expression,
    width: Int,
    depth: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CmsSketch] {

  require(width > 0 && depth > 0, "width and depth must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = CmsCodec.dataType

  // Nullability is ACCEPTED, not required: any operator that loosens
  // it (outer join, user-supplied schema, a non-parquet round trip)
  // must not reject a persisted sketch at analysis (ADVICE r15) — the
  // runtime cell-count + null requires in update() stay the integrity
  // guard.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b))
        if a.dataType == LongType &&
          (b.dataType match {
            case ArrayType(LongType, _) => true
            case _ => false
          }) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "merge_cms_sketches expects struct<total:bigint," +
        s"counts:array<bigint>>, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): CmsSketch =
    new CmsSketch(depth, width)

  override def update(buf: CmsSketch, row: InternalRow): CmsSketch = {
    val v = child.eval(row)
    if (v != null) {
      val st = v.asInstanceOf[InternalRow]
      require(!st.isNullAt(0) && !st.isNullAt(1),
        "merge_cms_sketches: sketch struct with null total or counts " +
          "— torn or foreign sketch row")
      val arr = st.getArray(1)
      require(arr.numElements() == depth * width,
        s"merge_cms_sketches: expected ${depth * width} cells, " +
          s"got ${arr.numElements()}")
      var i = 0
      while (i < buf.counts.length) {
        buf.counts(i) += arr.getLong(i); i += 1
      }
      buf.total += st.getLong(0)
    }
    buf
  }

  override def merge(a: CmsSketch, b: CmsSketch): CmsSketch = {
    a.absorb(b); a
  }

  override def eval(buf: CmsSketch): Any = CmsCodec.toRow(buf)

  override def serialize(buf: CmsSketch): Array[Byte] =
    CmsCodec.serialize(buf)
  override def deserialize(bytes: Array[Byte]): CmsSketch =
    CmsCodec.deserialize(bytes, depth, width)

  override def withNewMutableAggBufferOffset(o: Int): MergeCmsSketches =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MergeCmsSketches =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MergeCmsSketches =
    copy(child = newChildren(0))

  override def prettyName: String = "merge_cms_sketches"
}

object MergeCmsSketches {
  def apply(sketch: Column, width: Int, depth: Int): Column =
    GraftSqlBridge.column(
      MergeCmsSketches(GraftSqlBridge.expression(sketch), width, depth)
        .toAggregateExpression())
}

/** `cms_query(term)` → the sketch's point estimate for each term row —
  * the serve-side scorer: the (driver-small) sketch ships as a codegen
  * reference object (the [[BpeEncode]]/[[UnigramEncode]] vocabulary
  * pattern), so scoring any term table is map-only. Null term → null. */
object CmsQuery extends Kernel("cms_query", Seq(StringType), LongType) {
  def apply(term: Column, sketch: CmsSketch): Column = call(term)(sketch)

  def compute(term: UTF8String, sketch: CmsSketch): Long =
    sketch.query(term.toString)

  /** Rebuild a driver-side [[CmsSketch]] from a collected
    * [[CountMinTerms]] output row (`struct<total, counts>`). */
  def fromRow(row: org.apache.spark.sql.Row, width: Int, depth: Int)
      : CmsSketch = {
    val buf = new CmsSketch(depth, width)
    buf.total = row.getLong(0)
    val arr = row.getSeq[Long](1)
    require(arr.length == depth * width,
      s"expected ${depth * width} cells, got ${arr.length}")
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) = arr(i); i += 1 }
    buf
  }
}
