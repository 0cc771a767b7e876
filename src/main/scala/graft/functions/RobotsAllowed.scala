package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Robots

/** `robots_allowed(robots_txt, path)` for a fixed crawler `agent` —
  * the RFC 9309 verdict ([[graft.sources.Robots]] group selection +
  * most-specific-match) as a codegen'd scalar kernel.
  *
  * The same robots body arrives once PER URL ROW after the per-host
  * broadcast join ([[graft.sources.Robots.politenessFilter]]), so the
  * kernel memoizes compiled rule sets in a bounded per-executor cache
  * keyed by (robots bytes, agent): parse cost is paid once per
  * distinct robots.txt per executor, the per-row work is one
  * prefix-match walk over a handful of short patterns. Cache resets
  * (capacity overflow, executor restart) change only WHERE parsing
  * happens, never the verdict — results are deterministic under any
  * partitioning. Null robots or null path → null (callers supply the
  * no-robots default explicitly). */
object RobotsAllowed extends Kernel("robots_allowed",
    Seq(StringType, StringType), BooleanType) {

  def apply(robotsTxt: Column, path: Column, agent: String): Column =
    call(robotsTxt, path)(agent)

  override def checkConsts(consts: Seq[Any]): Unit = {
    val agent = consts.head.asInstanceOf[String]
    require(agent.nonEmpty && agent != "*",
      s"agent must be a concrete product token, got '$agent'")
  }

  /** Parsed-rules memo: bounded, cleared wholesale on overflow (crude
    * but deterministic — a miss only re-parses). Keyed by a SHA-256
    * digest of (robots bytes, agent), NOT the body itself: robots
    * bodies are untrusted and unbounded, and 4096 retained multi-MB
    * strings would pin GBs of executor heap; 4096 digests pin ~128 KB.
    * The body string is materialized only on a miss (once per distinct
    * robots.txt per executor) and parsing is capped at
    * [[graft.sources.Robots.MaxBodyBytes]] per RFC 9309 §2.5. */
  private val MaxEntries = 4096
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Robots.Rule]]()

  private val sha = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  private def digestKey(robots: UTF8String, agent: String): String = {
    val md = sha.get()
    md.reset()
    md.update(robots.getBytes)
    md.update(0.toByte) // unambiguous separator (agent is ASCII-ish)
    md.update(agent.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  def compute(robots: UTF8String, path: UTF8String, agent: String): Boolean = {
    val key = digestKey(robots, agent)
    var rules = cache.get(key)
    if (rules == null) {
      if (cache.size() >= MaxEntries) cache.clear()
      rules = Robots.rulesFor(robots.toString, agent)
      cache.put(key, rules)
    }
    Robots.isAllowed(rules, path.toString)
  }
}

/** `robots_directives(robots_txt)` for a fixed crawler `agent` →
  * `struct<crawl_delay: double, sitemaps: array<string>>`, the
  * scheduler half of [[graft.sources.Robots.directivesFor]]: the crawl
  * delay of the agent's groups (null when they set none) and the
  * file's distinct sitemap URLs. One row per host, so no memo. Null
  * robots → null. */
object RobotsDirectives extends Kernel("robots_directives", Seq(StringType),
    StructType(Seq(
      StructField("crawl_delay", DoubleType),
      StructField("sitemaps", ArrayType(StringType, containsNull = false),
        nullable = false)))) {

  def apply(robotsTxt: Column, agent: String): Column = call(robotsTxt)(agent)

  def compute(robots: UTF8String, agent: String): InternalRow = {
    val d = Robots.directivesFor(robots.toString, agent)
    InternalRow(d.crawlDelay.map(Double.box).orNull,
      new GenericArrayData(d.sitemaps.map(UTF8String.fromString).toArray[Any]))
  }
}
