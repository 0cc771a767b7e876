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

  private def minhashBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "minhash_sig(shingles, k)")
    MinHashSig(exprs.head, intLit(exprs(1), "k"))
  }

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

  private def fingerprintBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "fingerprint64(text)")
    Fingerprint64(exprs.head)
  }

  private def cosineBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "cosine_sim(a, b)")
    CosineSim(exprs(0), exprs(1))
  }

  private def simhashBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "simhash64(tokens)")
    SimHash64(exprs.head)
  }

  private def fnvBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "fnv64(text)")
    Fnv64(exprs.head)
  }

  private def winnowBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "winnowed_sketch(tokens, w)")
    WinnowedSketch(exprs.head, intLit(exprs(1), "w"))
  }

  private def minhashTextBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "minhash_text(text, k, n)")
    MinHashTextSig(exprs.head, intLit(exprs(1), "k"), intLit(exprs(2), "n"))
  }

  private def simhashTextBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "simhash_text(text)")
    SimHashText(exprs.head)
  }

  private def topTokenBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "top_token_ratio(text)")
    TopTokenRatio(exprs.head)
  }

  private def shingleHashesBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "shingle_hashes(text, n)")
    ShingleHashes(exprs.head, intLit(exprs(1), "n"))
  }

  private def ngramHashesBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "ngram_hashes(text, n)")
    NgramHashes(exprs.head, intLit(exprs(1), "n"))
  }

  private def gramHashesBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "gram_hashes(text, k)")
    GramHashes(exprs.head, intLit(exprs(1), "k"))
  }

  private def bpeBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "bpe_encode(text) [default merge table]")
    BpeEncode(exprs.head, graft.llm.Bpe.defaultMerges)
  }

  private def bpeDecodeBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "bpe_decode(ids) [default merge table]")
    BpeDecode(exprs.head, graft.llm.Bpe.defaultMerges)
  }

  private def gopherRepBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "gopher_repetition(text)")
    GopherRepetition(exprs.head)
  }

  private def htmlToTextBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "html_to_text(html)")
    HtmlToText(exprs.head)
  }

  private def htmlLinksBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "html_links(html)")
    HtmlLinks(exprs.head)
  }

  private def htmlAnchorsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "html_anchors(html)")
    HtmlAnchors(exprs.head)
  }

  private def htmlMainBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1 || exprs.length == 3,
      "html_main_text(html[, min_chars, max_link_permille])")
    if (exprs.length == 1) HtmlMainText(exprs.head)
    else HtmlMainText(exprs.head, intLit(exprs(1), "min_chars"),
      intLit(exprs(2), "max_link_permille"))
  }

  private def robotsAllowedBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "robots_allowed(robots_txt, url, agent)")
    val agent = exprs(2) match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"agent must be a string literal, got $other")
    }
    RobotsAllowed(exprs(0), exprs(1), agent)
  }

  private def normalizeTextBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "normalize_text(text) [NFC + fold + ws]")
    NormalizeText(exprs.head)
  }

  private def topkByBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "topk_by(score, id, k)")
    import org.apache.spark.sql.catalyst.expressions.Cast
    TopKByScore(Cast(exprs(0), org.apache.spark.sql.types.DoubleType),
      Cast(exprs(1), org.apache.spark.sql.types.LongType),
      intLit(exprs(2), "k")).toAggregateExpression()
  }

  /** The SQL surface, one row per function: (name, expression class,
    * builder). [[register]] and [[GraftExtensions]] both read it. */
  private[graft] val table
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("minhash_sig", classOf[MinHashSig], minhashBuilder),
      ("histogram2d", classOf[Histogram2D], hist2dBuilder),
      ("fingerprint64", classOf[Fingerprint64], fingerprintBuilder),
      ("cosine_sim", classOf[CosineSim], cosineBuilder),
      ("simhash64", classOf[SimHash64], simhashBuilder),
      ("fnv64", classOf[Fnv64], fnvBuilder),
      ("winnowed_sketch", classOf[WinnowedSketch], winnowBuilder),
      ("minhash_text", classOf[MinHashTextSig], minhashTextBuilder),
      ("simhash_text", classOf[SimHashText], simhashTextBuilder),
      ("top_token_ratio", classOf[TopTokenRatio], topTokenBuilder),
      ("shingle_hashes", classOf[ShingleHashes], shingleHashesBuilder),
      ("ngram_hashes", classOf[NgramHashes], ngramHashesBuilder),
      ("gram_hashes", classOf[GramHashes], gramHashesBuilder),
      ("topk_by", classOf[TopKByScore], topkByBuilder),
      ("bpe_encode", classOf[BpeEncode], bpeBuilder),
      ("bpe_decode", classOf[BpeDecode], bpeDecodeBuilder),
      ("gopher_repetition", classOf[GopherRepetition], gopherRepBuilder),
      ("html_to_text", classOf[HtmlToText], htmlToTextBuilder),
      ("html_links", classOf[HtmlLinks], htmlLinksBuilder),
      ("html_anchors", classOf[HtmlAnchors], htmlAnchorsBuilder),
      ("html_main_text", classOf[HtmlMainText], htmlMainBuilder),
      ("robots_allowed", classOf[RobotsAllowed], robotsAllowedBuilder),
      ("normalize_text", classOf[NormalizeText], normalizeTextBuilder))

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
