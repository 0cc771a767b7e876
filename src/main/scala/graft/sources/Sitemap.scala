package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sitemap ingestion (the sitemaps.org protocol) — closes the crawl
  * DISCOVERY loop: robots.txt surfaces each host's sitemap URLs
  * ([[Robots.hostDirectives]]), the sitemap bodies enumerate the
  * host's canonical URL inventory (`<loc>` + `<lastmod>`), and the
  * resulting frontier feeds the canonicalize → robots → dedup →
  * domain-cap funnel.
  *
  * Parsing is ALL-DECLARATIVE (the [[Cdx]] pattern):
  * `regexp_extract_all` over the XML body + higher-order transforms —
  * zero per-row Scala UDFs, the whole parse stays inside whole-stage
  * codegen. Machine-generated sitemaps are regular enough for anchored
  * regexes; a `<url>` block with no `<loc>` is dropped. Both leaf
  * `<urlset>` files and `<sitemapindex>` files parse — index entries
  * come back flagged `is_index` so a frontier driver can recurse.
  *
  * Scale shape: sitemap bodies are per-HOST dimension data (like
  * robots.txt) but each body lists up to 50k URLs (the protocol cap),
  * so the parse EXPLODES dimension rows into a fact-sized frontier —
  * map-only, no shuffle of its own; filter/cap the frontier in the
  * same stage before anything downstream shuffles. */
object Sitemap {

  /** One entry field: tag body with optional CDATA wrapper and
    * surrounding whitespace stripped. */
  private def field(block: Column, tag: String): Column =
    regexp_extract(block,
      s"(?s)<$tag>\\s*(?:<!\\[CDATA\\[)?(.*?)(?:\\]\\]>)?\\s*</$tag>", 1)

  /** Per-entry parse of sitemap XML bodies: one output row per
    * `<url>` / `<sitemap>` entry — the input columns plus
    * `(entry_pos, loc, lastmod, is_index)` where `entry_pos` is the
    * entry's 0-based document-order position (url entries before index
    * entries), `lastmod` is null when absent, and `is_index` flags
    * `<sitemapindex>` children (recurse to leaf sitemaps). Rows with
    * no entries vanish; entries with an empty `<loc>` are dropped. */
  def parseSitemaps(
      df: DataFrame,
      xmlCol: String = "sitemap_xml"): DataFrame = {
    val urlBlocks = regexp_extract_all(
      col(xmlCol), lit("(?s)<url>(.*?)</url>"), lit(1))
    val idxBlocks = regexp_extract_all(
      col(xmlCol), lit("(?s)<sitemap>(.*?)</sitemap>"), lit(1))
    val entries = concat(
      transform(urlBlocks,
        b => struct(b.as("b"), lit(false).as("idx"))),
      transform(idxBlocks,
        b => struct(b.as("b"), lit(true).as("idx"))))
    val lastmod = field(col("__entry.b"), "lastmod")
    df.select(col("*"), posexplode(entries).as(Seq("entry_pos", "__entry")))
      .withColumn("loc", field(col("__entry.b"), "loc"))
      .withColumn("lastmod",
        when(lastmod === "", lit(null).cast("string")).otherwise(lastmod))
      .withColumn("is_index", col("__entry.idx"))
      .drop("__entry", xmlCol)
      .filter(col("loc") =!= "")
  }

  /** Multi-level sitemap discovery as an ENGINE loop (r13, VERDICT r12
    * task 4): real hosts above the protocol's 50k-entry cap ship
    * `<sitemapindex>` trees — index→index→urlset is routine at
    * CommonCrawl scale — and hand-composing one `parseSitemaps` call
    * per level pushes the recursion onto every caller. This drives it:
    * parse the seed bodies, accumulate `<urlset>` leaves into the
    * frontier (stamped `sitemap_depth` = the level they surfaced at),
    * hand `<sitemapindex>` children to `fetch` to resolve their
    * bodies, and loop — the Lloyd/BPE/PageRank driver-loop pattern,
    * with a `localCheckpoint` per level so the per-level regex-parse
    * plans don't stack into exponential lineage.
    *
    * `fetch` receives the parsed index entries (all carry-through
    * columns plus `entry_pos`/`loc`/`lastmod`; `loc` is the child
    * sitemap's URL) and returns their bodies with `xmlCol` present —
    * join a stored crawl, or wrap a real fetcher. Levels may carry
    * different columns; the frontier unions by name with nulls where
    * a level lacks a column. One bounded driver action per level (a
    * count — aggregate-sized, the loop's only driver state).
    *
    * `maxDepth` bounds the recursion: unresolved index entries at the
    * last allowed level FAIL LOUDLY (an index cycle or a deeper tree
    * than expected — silently dropping them is corpus loss, the
    * [[Tar]]/[[Warc]] loud-failure contract). */
  def discoverFrontier(
      bodies: DataFrame,
      fetch: DataFrame => DataFrame,
      maxDepth: Int = 3,
      xmlCol: String = "sitemap_xml"): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be positive")
    var level = bodies
    var frontier: DataFrame = null
    var depth = 0
    var open = true
    while (open) {
      val parsed = graft.core.Scope.checkpoint(parseSitemaps(level, xmlCol))
      val leaves = parsed.filter(!col("is_index")).drop("is_index")
        .withColumn("sitemap_depth", lit(depth))
      frontier =
        if (frontier == null) leaves
        else frontier.unionByName(leaves, allowMissingColumns = true)
      val children = parsed.filter(col("is_index"))
      val nChildren = children.count()
      if (nChildren == 0) open = false
      else {
        depth += 1
        require(depth < maxDepth,
          s"sitemap recursion still has $nChildren unresolved index " +
            s"entries at maxDepth=$maxDepth — an index cycle or a " +
            "deeper tree than allowed; refusing to drop them")
        level = fetch(children)
      }
    }
    frontier
  }

  /** Cross-crawl revisit selection — what a recurring crawl actually
    * does with sitemap `lastmod`: keep a frontier URL when it is NEW
    * (absent from the previous crawl) or MODIFIED (`lastmod` strictly
    * after the previous fetch time). Returns the frontier rows that
    * need (re)fetching plus a `reason` column (`new` / `modified`);
    * unchanged URLs — the bulk of a mature crawl — drop out, which is
    * the whole economic point of sitemaps at 100 TB.
    *
    * Timestamps compare as STRINGS, so both columns must be ISO-8601
    * (sitemaps.org mandates W3C datetime; zone-designator mixtures are
    * the caller's problem). A frontier row with no `lastmod` is kept
    * only when new — without a signal, re-fetch policy belongs to the
    * scheduler, not here.
    *
    * Scale shape: one url-keyed shuffle join — BOTH sides are
    * fact-sized (the frontier explodes from sitemaps, the previous
    * crawl IS the corpus), so this is a plain hash join Spark
    * partitions and AQE skew-splits; no driver state, no broadcast
    * assumption. */
  def revisitSelect(
      frontier: DataFrame,
      previous: DataFrame,
      urlCol: String = "loc",
      lastmodCol: String = "lastmod",
      fetchedAtCol: String = "fetched_at"): DataFrame = {
    val prev = previous.select(
      previous.col(urlCol).as("__prev_url"),
      previous.col(fetchedAtCol).as("__fetched_at"))
    frontier
      .join(prev, frontier.col(urlCol) === col("__prev_url"), "left")
      .withColumn("reason",
        when(col("__fetched_at").isNull, lit("new"))
          .when(col(lastmodCol).isNotNull &&
            col(lastmodCol) > col("__fetched_at"), lit("modified")))
      .filter(col("reason").isNotNull)
      .drop("__prev_url", "__fetched_at")
  }
}
