package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** robots.txt politeness for the crawl-curation pipeline (RFC 9309):
  * the step between WARC ingestion ([[Warc]]) and URL curation
  * (canonicalize → robots filter → per-domain cap → cross-crawl dedup).
  * Reference behavior: Common Crawl honors robots at fetch time; a
  * re-crawl / re-filter pass re-applies the current rules to an
  * already-fetched URL list.
  *
  * Semantics implemented (the RFC 9309 / REP core):
  *   - groups = runs of `User-agent:` lines followed by rules; the
  *     crawler obeys the union of all groups whose agent token equals
  *     its own (case-insensitive exact token), falling back to the
  *     union of `*` groups, falling back to allow-everything;
  *   - rule matching is octet-wise path prefix with `*` (any run) and
  *     a final `$` (end anchor); most-specific rule wins, specificity
  *     = pattern length; on a tie `Allow` wins; no matching rule =
  *     allowed;
  *   - an empty `Disallow:` / `Allow:` value has no effect (the
  *     historic "Disallow:" == allow-all spelling);
  *   - `#` starts a comment; directive names are case-insensitive;
  *     unknown directives (`Crawl-delay`, `Sitemap`, …) end a
  *     user-agent run but contribute no rules; CRLF accepted.
  *
  * Scale shape: robots.txt is per-HOST data — the dimension is tiny
  * (~millions of rows for a full crawl, KBs each) next to the URL fact
  * table, so [[politenessFilter]] broadcasts it and the verdict is a
  * map-only scalar kernel ([[graft.functions.RobotsAllowed]]) with a
  * per-executor compiled-rules memo, parsed once per distinct robots
  * body, not once per URL. */
object Robots {

  /** One access rule of the selected group, in file order. */
  final case class Rule(allow: Boolean, pattern: String)

  /** Everything a polite fetch scheduler needs from one robots.txt for
    * one agent: the binding access rules, the binding groups'
    * `Crawl-delay` (minimum across the agent's groups — the
    * conservative read of the de-facto directive; None when no binding
    * group sets one or the value doesn't parse), and the file-global
    * `Sitemap:` URLs in file order (sitemaps bind no group per the
    * sitemaps.org protocol). */
  final case class Directives(
      rules: Vector[Rule],
      crawlDelay: Option[Double],
      sitemaps: Vector[String])

  /** Parse a robots.txt body and select the rules binding `agent`
    * (RFC 9309 group selection; see object doc). Returns rules in
    * file order; empty when no group binds the agent. */
  def rulesFor(content: String, agent: String): Vector[Rule] =
    directivesFor(content, agent).rules

  /** RFC 9309 §2.5: a parser MUST process at least 500 kibibytes and
    * MAY ignore the rest — robots.txt is UNTRUSTED web content, so the
    * cap also bounds per-executor parse cost and the compiled-rules
    * memo footprint against adversarially huge files. */
  val MaxBodyBytes: Int = 500 * 1024

  /** Full directive parse for `agent`: rules + crawl-delay + sitemaps
    * (see [[Directives]]). Group selection as in [[rulesFor]].
    * Bodies beyond [[MaxBodyBytes]] are truncated at the last complete
    * line inside the cap (a torn trailing directive must not bind). */
  def directivesFor(content0: String, agent: String): Directives = {
    val content =
      if (content0.length <= MaxBodyBytes) content0
      else {
        val cut = content0.lastIndexOf('\n', MaxBodyBytes)
        content0.substring(0, if (cut >= 0) cut else MaxBodyBytes)
      }
    final case class Group(
        agents: scala.collection.mutable.Set[String],
        rules: scala.collection.mutable.ArrayBuffer[Rule],
        var crawlDelay: Option[Double])
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    val sitemaps = scala.collection.mutable.ArrayBuffer.empty[String]
    var inUaRun = false
    content.split("\n", -1).foreach { raw =>
      val noComment = {
        val h = raw.indexOf('#')
        if (h >= 0) raw.substring(0, h) else raw
      }
      val line = noComment.trim // also eats the \r of CRLF
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim
            .toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (!inUaRun || groups.isEmpty) {
                groups += Group(scala.collection.mutable.Set.empty,
                  scala.collection.mutable.ArrayBuffer.empty, None)
                inUaRun = true
              }
              if (value.nonEmpty)
                groups.last.agents +=
                  value.toLowerCase(java.util.Locale.ROOT)
            case "allow" | "disallow" =>
              inUaRun = false
              // rules before any User-agent line bind nobody (RFC:
              // rules outside a group are ignored); empty value = no-op
              if (groups.nonEmpty && value.nonEmpty)
                groups.last.rules += Rule(key == "allow", value)
            case "crawl-delay" =>
              inUaRun = false
              if (groups.nonEmpty && groups.last.crawlDelay.isEmpty)
                groups.last.crawlDelay = value.toDoubleOption
            case "sitemap" =>
              inUaRun = false
              if (value.nonEmpty) sitemaps += value
            case _ =>
              inUaRun = false // unknown directive: ends a UA run
          }
        }
      }
    }
    val me = agent.toLowerCase(java.util.Locale.ROOT)
    val mine = groups.filter(_.agents.contains(me))
    val chosen = if (mine.nonEmpty) mine else groups.filter(_.agents("*"))
    val delays = chosen.iterator.flatMap(_.crawlDelay).toVector
    Directives(
      chosen.iterator.flatMap(_.rules).toVector,
      if (delays.isEmpty) None else Some(delays.min),
      sitemaps.distinct.toVector)
  }

  /** Octet-wise prefix match of `pattern` against `path`, with `*` =
    * any run of octets and a FINAL `$` = end-of-path anchor (a `$`
    * anywhere else is a literal, per the RFC grammar).
    *
    * Patterns are UNTRUSTED (they come from arbitrary hosts'
    * robots.txt), so this is the greedy last-star two-pointer wildcard
    * algorithm — worst case O(|pattern|·|path|), no exponential
    * blow-up: naive backtracking on a hostile many-star Disallow
    * pattern (star-a repeated, then b) against a long path would
    * stall an executor core. Prefix semantics fall out by matching
    * `pattern + "*"` over the FULL path; `$` drops the appended star
    * and anchors. */
  def matches(pattern: String, path: String): Boolean = {
    val anchored =
      pattern.nonEmpty && pattern.charAt(pattern.length - 1) == '$'
    val pat =
      if (anchored) pattern.substring(0, pattern.length - 1)
      else pattern + "*"
    var i = 0 // path cursor
    var j = 0 // pattern cursor
    var star = -1 // index of the last '*' seen in pat
    var mark = 0 // path position the last '*' currently absorbs up to
    while (i < path.length) {
      if (j < pat.length && pat.charAt(j) == '*') {
        star = j; mark = i; j += 1
      } else if (j < pat.length && pat.charAt(j) == path.charAt(i)) {
        i += 1; j += 1
      } else if (star >= 0) {
        // backtrack: let the last star absorb one more octet
        j = star + 1; mark += 1; i = mark
      } else return false
    }
    while (j < pat.length && pat.charAt(j) == '*') j += 1
    j == pat.length
  }

  /** Most-specific-match verdict over a rule set (see object doc).
    * Default (no rule matches, or no rules) = allowed. */
  def isAllowed(rules: Vector[Rule], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { r =>
      if (r.pattern.length >= bestLen && matches(r.pattern, path)) {
        if (r.pattern.length > bestLen) {
          bestLen = r.pattern.length
          bestAllow = r.allow
        } else if (r.allow) bestAllow = true // tie: Allow wins
      }
    }
    bestAllow
  }

  /** Filter a URL fact table by per-host robots rules.
    *
    * `robots` is the per-host dimension `(hostCol, robotsCol)` —
    * broadcast by default (robots bodies exist only per distinct host;
    * even a full-crawl host list is dimension-sized next to the URL
    * table). URLs whose host has no robots row are ALLOWED (the
    * fetch-time convention: no robots.txt = no restrictions). Output =
    * the input columns plus a boolean `allowed`; callers filter or
    * audit. Map-only on the fact side — one broadcast hash join, no
    * shuffle of the URLs. */
  def politenessFilter(
      urls: DataFrame,
      robots: DataFrame,
      agent: String,
      urlCol: String = "url",
      hostCol: String = "host",
      robotsCol: String = "robots_txt",
      broadcastRobots: Boolean = true): DataFrame = {
    val host = lower(regexp_extract(col(urlCol), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val rawPath = regexp_extract(col(urlCol), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val dim0 = robots.select(
      lower(col(hostCol)).as("__robots_host"),
      col(robotsCol).as("__robots_txt"))
    val dim = if (broadcastRobots) broadcast(dim0) else dim0
    urls
      .withColumn("__url_host", host)
      .withColumn("__url_path", path)
      .join(dim, col("__url_host") === col("__robots_host"), "left")
      .withColumn("allowed",
        when(col("__robots_txt").isNull, lit(true))
          .otherwise(graft.functions.RobotsAllowed(
            col("__robots_txt"), col("__url_path"), agent)))
      .drop("__url_host", "__url_path", "__robots_host", "__robots_txt")
  }

  /** Per-host fetch-scheduler directives: `(host, crawl_delay,
    * sitemaps)` for `agent` — crawl_delay null when the binding groups
    * set none ([[Directives]]). Map-only over the host DIMENSION (one
    * row per host, never per URL) — this is the input to a polite
    * fetch scheduler's per-host rate limits and to sitemap-seeded
    * discovery. */
  def hostDirectives(
      robots: DataFrame,
      agent: String,
      hostCol: String = "host",
      robotsCol: String = "robots_txt"): DataFrame = {
    robots.select(lower(col(hostCol)).as("host"),
        graft.functions.RobotsDirectives(col(robotsCol), agent).as("__d"))
      .select(col("host"), col("__d.crawl_delay"), col("__d.sitemaps"))
  }

  /** Polite fetch schedule: assign every URL a per-host serial slot
    * and a fetch-time offset honoring the host's crawl delay —
    * `(input columns, host, slot, fetch_offset_ms)` where slot is the
    * URL's 1-based position in its host's deterministic fetch order
    * (URL string order) and offset = (slot−1) · delay_ms, with
    * `defaultDelayMs` for hosts whose robots sets no delay (or that
    * have no directives row). Delay is resolved to integer
    * milliseconds ONCE per host, so offsets are exact integer
    * products.
    *
    * `backoff` (optional) is the server-signal half of politeness: a
    * per-host `(host, retry_after_ms)` dimension fed by recent 429 /
    * 503 `Retry-After` responses. The effective per-host delay is
    * `max(crawl-delay-or-default, retry_after_ms)` — a host that asked
    * to be left alone overrides whatever its robots.txt permits, never
    * the other way around. One more broadcast join; hosts absent from
    * the dim back off nothing.
    *
    * Scale shape: one shuffle by host (the window partition key —
    * per-host state never crosses hosts), directives + backoff
    * broadcast. A Zipf-hot host concentrates its URLs in one partition
    * by NECESSITY — its schedule is a serial chain by definition; cap
    * per-host URL counts upstream ([[graft.functions.TopKByScore]] —
    * the llm_domain_cap pattern) if a single host's list outgrows a
    * partition. */
  def fetchSchedule(
      urls: DataFrame,
      directives: DataFrame,
      urlCol: String = "url",
      defaultDelayMs: Long = 1000L,
      backoff: Option[DataFrame] = None): DataFrame = {
    val host = lower(regexp_extract(col(urlCol),
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val dim = broadcast(directives.select(col("host"),
      round(col("crawl_delay") * 1000).cast("long").as("__delay_ms")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(urlCol)
    val joined = urls.withColumn("host", host)
      .join(dim, Seq("host"), "left")
    val withBackoff = backoff match {
      case Some(b) => joined.join(
        broadcast(b.select(lower(b.col("host")).as("host"),
          b.col("retry_after_ms").cast("long").as("__retry_ms"))),
        Seq("host"), "left")
      case None => joined.withColumn("__retry_ms", lit(null).cast("long"))
    }
    withBackoff
      .withColumn("slot", row_number().over(w))
      .withColumn("fetch_offset_ms",
        (col("slot") - 1).cast("long") *
          greatest(coalesce(col("__delay_ms"), lit(defaultDelayMs)),
            coalesce(col("__retry_ms"), lit(0L))))
      .drop("__delay_ms", "__retry_ms")
  }
}
