package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.traces.{Lowpass, Psd, ScaledSpectrum}

/** Every kernel on the [[Kernel]] form, and every kernel row of the SQL
  * table, evaluated over seeded inputs two ways: interpreted
  * (`Expression.eval`) and through a generated `UnsafeProjection`. The
  * two agree value for value, and a null child gives null on both. */
class KernelSpec extends AnyFunSuite {

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "Éta", "日本", "ab", "")
  private val seps = Seq(" ", "  ", "\t", "\n", " \u000B ")

  private def text(r: Random): String = {
    val body = Seq.fill(r.nextInt(24))(words(r.nextInt(words.size)))
      .map(_ + seps(r.nextInt(seps.size))).mkString
    if (r.nextBoolean()) s"  $body" else body
  }
  private def utf(s: String) = UTF8String.fromString(s)
  private def arr(xs: Seq[Any]) = new GenericArrayData(xs.toArray)
  private def tokens(r: Random) =
    arr(text(r).trim.split("\\s+", -1).toSeq.map(utf))
  private def html(r: Random) = Seq.fill(1 + r.nextInt(6)) {
    r.nextInt(5) match {
      case 0 => s"<p>${text(r)} with enough words to stay main text</p>"
      case 1 => s"""<a href="/p/${r.nextInt(9)}?q=1&amp;r=2">${text(r)}</a>"""
      case 2 => "<script>var x = '<a href=\"/no\">';</script>"
      case 3 => s"<div>${text(r)} &amp; &lt;b&gt; &#233;</div><br>"
      case _ => s"<table><tr><td>${text(r)}</td><td>x</td></tr></table>"
    }
  }.mkString
  private def robots(r: Random) = Seq(
    "User-agent: *\nDisallow: /p\nAllow: /p/\nCrawl-delay: 2\n",
    "User-agent: GraftBot\nDisallow: /*.pdf$\nSitemap: https://s.org/a.xml\n",
    "Sitemap: https://s.org/b.xml\nUser-agent: other\nDisallow: /\n",
    "")(r.nextInt(4))
  private def path(r: Random) = Seq("/p", "/p/x", "/q/a.pdf", "/", "/a.pdfz")(r.nextInt(5))
  private def doubles(r: Random, n: Int) = arr(Seq.fill(n)(r.nextGaussian()))
  private def ints(r: Random, n: Int) = arr(Seq.fill(n)(r.nextInt(7) - 3))

  private val merges = graft.llm.Bpe.defaultMerges
  private val wordPiece = new WordPieceVocab(Array("al", "##pha", "be", "##ta", "gamma"))
  private val unigram = new UnigramVocab(Array("a" -> 9L, "l" -> 5L, "p" -> 5L,
    "h" -> 5L, "b" -> 4L, "e" -> 4L, "t" -> 4L, "al" -> 7L, "pha" -> 6L, "beta" -> 3L), 4)
  private val bloom = {
    val b = BloomFilter.create(100, 0.01)
    (0L until 50L by 3L).foreach(b.putLong)
    b
  }
  private val sketch = {
    val s = new CmsSketch(3, 64)
    words.foreach(w => (0 to w.length).foreach(_ => s.offer(w)))
    s
  }
  private val centroids = Array(Array(0.0, 0.0, 0.0), Array(1.0, -1.0, 2.0),
    Array(-2.0, 0.5, 0.0))

  /** A kernel's sample: the children's types, the constants of the call
    * and one row of child values. */
  private case class Sample(types: Seq[DataType], consts: Seq[Any], row: Random => Seq[Any])
  private val str = Seq(StringType)
  private val strs = Seq(ArrayType(StringType))
  private val trace = Seq(ArrayType(DoubleType))
  private def one(types: Seq[DataType], consts: Any*)(f: Random => Any) =
    Sample(types, consts, r => Seq(f(r)))

  private val samples: Map[Kernel, Sample] = Map(
    MinHashSig -> one(strs, 16)(tokens),
    SimHash64 -> one(strs)(tokens),
    WinnowedSketch -> one(strs, 3)(tokens),
    RepeatedNgramRatio -> one(strs, 2)(tokens),
    Fingerprint64 -> one(str)(r => utf(text(r))),
    Fnv64 -> one(str)(r => utf(text(r))),
    MinHashTextSig -> one(str, 16, 3)(r => utf(text(r))),
    ShingleHashes -> one(str, 3)(r => utf(text(r))),
    NgramHashes -> one(str, 2)(r => utf(text(r))),
    GramHashes -> one(str, 3)(r => utf(text(r))),
    SimHashText -> one(str)(r => utf(text(r))),
    TopTokenRatio -> one(str)(r => utf(text(r))),
    GopherRepetition -> one(str)(r => utf(text(r))),
    NormalizeText -> one(str, "NFKC", true, true)(r => utf(text(r))),
    TermCounts -> one(str, TermCounts.Table(Seq("alpha", "beta", "alpha")))(
      r => utf(text(r))),
    CutSpans -> Sample(Seq(StringType, ArrayType(new StructType()
      .add("s", LongType).add("e", LongType))), Nil, r => Seq(utf(text(r)),
      arr(Seq.fill(r.nextInt(3)) {
        val s = r.nextInt(12).toLong
        InternalRow(s, s + r.nextInt(4))
      }))),
    CosineSim -> Sample(Seq(ArrayType(DoubleType), ArrayType(IntegerType)), Nil,
      r => { val n = r.nextInt(4); Seq(doubles(r, n), ints(r, n)) }),
    NearestCentroid -> one(Seq(ArrayType(DoubleType)), centroids)(r => doubles(r, 3)),
    BloomMightContain -> one(Seq(LongType), bloom)(r => r.nextInt(60).toLong),
    CmsQuery -> one(str, sketch)(r => utf(words(r.nextInt(words.size)))),
    HtmlToText -> one(str)(r => utf(html(r))),
    HtmlLinks -> one(str)(r => utf(html(r))),
    HtmlAnchors -> one(str)(r => utf(html(r))),
    HtmlMainText -> one(str, 25, 300)(r => utf(html(r))),
    RobotsAllowed -> Sample(Seq(StringType, StringType), Seq("GraftBot"),
      r => Seq(utf(robots(r)), utf(path(r)))),
    RobotsDirectives -> one(str, "GraftBot")(r => utf(robots(r))),
    BpeEncode -> one(str, merges)(r => utf(text(r))),
    BpeDecode -> one(Seq(ArrayType(IntegerType)), merges)(r =>
      BpeEncode.compute(utf(text(r)), merges)),
    WordPieceEncode -> one(str, wordPiece)(r => utf(text(r))),
    WordPieceDecode -> one(Seq(ArrayType(IntegerType)), wordPiece)(r =>
      WordPieceEncode.compute(utf(text(r)), wordPiece)),
    UnigramSegment -> one(str, unigram)(r => utf(text(r))),
    UnigramEncode -> one(str, unigram)(r => utf(text(r))),
    UnigramDecode -> one(Seq(ArrayType(IntegerType)), unigram)(r =>
      UnigramEncode.compute(utf(text(r)), unigram)),
    Psd -> one(trace, 1000.0)(r => doubles(r, 8 + r.nextInt(57))),
    Lowpass -> one(trace, 100.0, 1000.0)(r => doubles(r, 1 + r.nextInt(64))),
    ScaledSpectrum -> one(trace, 1000.0)(r => doubles(r, 8 + r.nextInt(57))))

  /** Equal values, doubles compared by bits (a NaN equals itself). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Row, y: Row) => same(x.toSeq, y.toSeq)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** `make(children)` over `rows`, both ways, with children of both
    * nullabilities; then each child null in turn. */
  private def bothPaths(what: String, s: Sample, rows: Seq[Seq[Any]])(
      make: Seq[Expression] => Expression): Unit = {
    for (nullable <- Seq(true, false)) {
      val e = make(s.types.zipWithIndex.map { case (t, i) =>
        BoundReference(i, t, nullable) })
      assert(e.checkInputDataTypes().isSuccess, what)
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
      rows.foreach { row =>
        val in = InternalRow.fromSeq(row)
        val interpreted = toScala(e.eval(in))
        val generated = toScala(proj(in).get(0, e.dataType))
        assert(interpreted != null, s"$what: null on non-null input")
        assert(same(interpreted, generated),
          s"$what: interpreted $interpreted, generated $generated")
      }
    }
    val e = make(s.types.zipWithIndex.map { case (t, i) =>
      BoundReference(i, t, nullable = true) })
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    s.types.indices.foreach { i =>
      val in = InternalRow.fromSeq(rows.head.updated(i, null))
      assert(e.eval(in) == null, s"$what: interpreted, child $i null")
      assert(proj(in).isNullAt(0), s"$what: generated, child $i null")
    }
  }

  private def rowsOf(s: Sample, seed: Long): Seq[Seq[Any]] = {
    val r = new Random(seed)
    Seq.fill(40)(s.row(r))
  }

  test("every kernel object has a sample") {
    val declared = """object\s+(\w+)\s+extends\s+Kernel\(""".r
    val objects = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => declared.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    assert(objects == samples.keySet.map(_.getClass.getSimpleName.stripSuffix("$")))
  }

  test("every kernel: interpreted ≡ generated, null in → null out") {
    samples.toSeq.sortBy(_._1.name).zipWithIndex.foreach { case ((k, s), i) =>
      bothPaths(k.name, s, rowsOf(s, 100L + i))(KernelCall(k, _, s.consts))
    }
  }

  test("every kernel row of the SQL table: interpreted ≡ generated") {
    // the SQL arguments after the columns: integer and string literals
    val literals: Map[String, Seq[Any]] = Map(
      "minhash_sig" -> Seq(16), "winnowed_sketch" -> Seq(3),
      "minhash_text" -> Seq(16, 3), "shingle_hashes" -> Seq(3),
      "ngram_hashes" -> Seq(2), "gram_hashes" -> Seq(3),
      "robots_allowed" -> Seq("GraftBot"))
    val aggregates = Set("histogram2d", "topk_by")
    GraftFunctions.table.zipWithIndex.foreach { case ((name, _, builder), i) =>
      samples.find(_._1.name == name) match {
        case Some((_, s)) =>
          bothPaths(s"SQL $name", s, rowsOf(s, 200L + i)) { kids =>
            builder(kids ++ literals.getOrElse(name, Nil).map(Literal(_)))
          }
        case None => assert(aggregates(name), s"$name: no kernel sample")
      }
    }
  }
}
