package graft

import org.apache.spark.sql.{ExtensionsBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftExtensions, GraftFunctions, KernelCall}

/** The SQL surface's one table, seen through the `spark.sql.extensions`
  * path: [[GraftExtensions]] applied to a fresh
  * `SparkSessionExtensions`, no session built. (`register` is exercised
  * by the SQL queries in TextSigSpec and LlmSpec.) */
class GraftFunctionsSpec extends AnyFunSuite {

  private val c = AttributeReference("c", StringType)()
  private def i(v: Int) = Literal(v)

  /** One well-formed argument list per SQL function. */
  private val sampleArgs: Map[String, Seq[Expression]] = Map(
    "minhash_sig" -> Seq(c, i(64)),
    "histogram2d" -> Seq(c, c, i(0), i(1), i(4), Literal(0.0), Literal(1.0),
      i(4)),
    "fingerprint64" -> Seq(c),
    "cosine_sim" -> Seq(c, c),
    "simhash64" -> Seq(c),
    "fnv64" -> Seq(c),
    "winnowed_sketch" -> Seq(c, i(4)),
    "minhash_text" -> Seq(c, i(64), i(5)),
    "simhash_text" -> Seq(c),
    "top_token_ratio" -> Seq(c),
    "shingle_hashes" -> Seq(c, i(5)),
    "ngram_hashes" -> Seq(c, i(3)),
    "gram_hashes" -> Seq(c, i(5)),
    "topk_by" -> Seq(c, c, i(3)),
    "bpe_encode" -> Seq(c),
    "bpe_decode" -> Seq(c),
    "gopher_repetition" -> Seq(c),
    "html_to_text" -> Seq(c),
    "html_links" -> Seq(c),
    "html_anchors" -> Seq(c),
    "html_main_text" -> Seq(c, i(200), i(300)),
    "robots_allowed" -> Seq(c, c, Literal("graftbot")),
    "normalize_text" -> Seq(c))

  test("GraftExtensions injects every table function; each builds its " +
      "expression") {
    val names = GraftFunctions.table.map(_._1)
    assert(names.distinct.size == names.size && names.size == 23)
    assert(names.toSet == sampleArgs.keySet)
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = ExtensionsBridge.functions(ext)
    assert(reg.listFunction().map(_.funcName).toSet == names.toSet)
    GraftFunctions.table.foreach { case (name, cls, _) =>
      val id = FunctionIdentifier(name)
      assert(reg.lookupFunction(id).map(_.getClassName)
        .contains(cls.getName), name)
      val built = reg.lookupFunction(id, sampleArgs(name))
      assert(built.find {
        case k: KernelCall => cls.isInstance(k.kernel)
        case e => cls.isInstance(e)
      }.isDefined,
        s"$name built $built, no ${cls.getSimpleName} in it")
    }
    // argument checks keep their messages
    val e = intercept[IllegalArgumentException](
      reg.lookupFunction(FunctionIdentifier("minhash_sig"), Seq(c)))
    assert(e.getMessage == "requirement failed: minhash_sig(shingles, k)")
    val k = intercept[IllegalArgumentException](
      reg.lookupFunction(FunctionIdentifier("minhash_sig"), Seq(c, c)))
    assert(k.getMessage == s"k must be an integer literal, got $c")
  }
}
