package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL-surface registration of the engine's native expressions, so
  * `spark.sql("SELECT minhash_sig(shingles, 64) …")` works alongside the
  * Column API.
  *
  * Two paths: [[GraftFunctions.register]] for an existing session, and
  * [[GraftExtensions]] for cluster deploys via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** `k` over the SQL arguments `args…, ints…`: each of `args` a column,
    * each of `ints` an integer literal (a constant of `compute`). */
  private def row(k: Kernel, args: String*)(ints: String*) =
    (k.name, k.getClass, (exprs: Seq[Expression]) => {
      require(exprs.length == args.length + ints.length,
        (args ++ ints).mkString(s"${k.name}(", ", ", ")"))
      val (cols, lits) = exprs.splitAt(args.length)
      KernelCall(k, cols, ints.zip(lits).map { case (w, e) => intLit(e, w) })
    })

  private def hist2dBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 8,
      "histogram2d(x, y, xlo, xhi, xbins, ylo, yhi, ybins)")
    def dbl(e: Expression, what: String): Double = e match {
      case Literal(v: Double, _) => v
      case Literal(v: Float, _)  => v.toDouble
      case Literal(v: Int, _)    => v.toDouble
      case Literal(v: Long, _)   => v.toDouble
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $other")
    }
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.DoubleType
    Histogram2D(Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType),
      dbl(exprs(2), "xlo"), dbl(exprs(3), "xhi"), intLit(exprs(4), "xbins"),
      dbl(exprs(5), "ylo"), dbl(exprs(6), "yhi"), intLit(exprs(7), "ybins"))
      .toAggregateExpression()
  }

  private def bpeBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "bpe_encode(text) [default merge table]")
    KernelCall(BpeEncode, exprs, Seq(graft.llm.Bpe.defaultMerges))
  }

  private def bpeDecodeBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "bpe_decode(ids) [default merge table]")
    KernelCall(BpeDecode, exprs, Seq(graft.llm.Bpe.defaultMerges))
  }

  private def htmlMainBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1 || exprs.length == 3,
      "html_main_text(html[, min_chars, max_link_permille])")
    KernelCall(HtmlMainText, exprs.take(1),
      if (exprs.length == 1) HtmlMainText.Defaults
      else Seq(intLit(exprs(1), "min_chars"),
        intLit(exprs(2), "max_link_permille")))
  }

  private def robotsAllowedBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "robots_allowed(robots_txt, url, agent)")
    val agent = exprs(2) match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"agent must be a string literal, got $other")
    }
    KernelCall(RobotsAllowed, exprs.take(2), Seq(agent))
  }

  private def normalizeTextBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "normalize_text(text) [NFC + fold + ws]")
    KernelCall(NormalizeText, exprs, NormalizeText.Defaults)
  }

  private def topkByBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "topk_by(score, id, k)")
    import org.apache.spark.sql.catalyst.expressions.Cast
    TopKByScore(Cast(exprs(0), org.apache.spark.sql.types.DoubleType),
      Cast(exprs(1), org.apache.spark.sql.types.LongType),
      intLit(exprs(2), "k")).toAggregateExpression()
  }

  /** The SQL surface, one row per function: (name, implementing class,
    * builder). [[register]] and [[GraftExtensions]] both read it. */
  private[graft] val table
      : Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      row(MinHashSig, "shingles")("k"),
      ("histogram2d", classOf[Histogram2D], hist2dBuilder),
      row(Fingerprint64, "text")(),
      row(CosineSim, "a", "b")(),
      row(SimHash64, "tokens")(),
      row(Fnv64, "text")(),
      row(WinnowedSketch, "tokens")("w"),
      row(MinHashTextSig, "text")("k", "n"),
      row(SimHashText, "text")(),
      row(TopTokenRatio, "text")(),
      row(ShingleHashes, "text")("n"),
      row(NgramHashes, "text")("n"),
      row(GramHashes, "text")("k"),
      ("topk_by", classOf[TopKByScore], topkByBuilder),
      ("bpe_encode", BpeEncode.getClass, bpeBuilder),
      ("bpe_decode", BpeDecode.getClass, bpeDecodeBuilder),
      row(GopherRepetition, "text")(),
      row(HtmlToText, "html")(),
      row(HtmlLinks, "html")(),
      row(HtmlAnchors, "html")(),
      ("html_main_text", HtmlMainText.getClass, htmlMainBuilder),
      ("robots_allowed", RobotsAllowed.getClass, robotsAllowedBuilder),
      ("normalize_text", NormalizeText.getClass, normalizeTextBuilder))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
