package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph scoring for crawl prioritization — the classic use of
  * the crawl link graph ([[graft.functions.HtmlToText]] extraction →
  * URL frontier): rank pages by incoming-link structure to decide what
  * to fetch/keep first. PageRank with a fixed iteration count and
  * INTEGER-QUANTIZED arithmetic: ranks live in integer `scale`-units,
  * every per-edge contribution is an integral division
  * (`rank div outdeg`), and the damping step is
  * `base + (85 · Σcontrib) div 100` — so each iteration is exact
  * integer algebra, bit-identical under any partitioning and
  * reproducible by a SQL mirror unrolled iteration by iteration (the
  * fixed-depth-Lloyd oracle pattern). The ~1-unit-per-edge mass lost
  * to truncation is deliberate: determinism over the 10th decimal.
  *
  * Scale shape (the web graph is the canonical 100 TB Spark graph):
  * each iteration is ONE shuffle — edges join the rank table on src
  * (map-side combined contribution sums cross the exchange keyed by
  * dst, vocabulary = node set), then a left join back onto the node
  * spine for dangling/unlinked nodes. Nothing is driver-sized except
  * the node COUNT (one long). Out-degrees are computed once and ride
  * with the edges. Zipf-hot dsts (everyone links to the homepage) are
  * partial-aggregated map-side, never a skew join. */
object Graph {

  /** Fixed-iteration integer PageRank.
    *
    * `edges`: (src, dst) — multi-edges count multiply, every node with
    * out-links contributes `rank div outdeg` per edge. `nodes`: one
    * column `v` spanning every vertex (links to ids outside the spine
    * are dropped by the final join — a crawl frontier always has edges
    * pointing off-corpus). Returns (v, rank) in scale-units after
    * `iters` iterations from the uniform start `scale div n`.
    *
    * `init` (optional) WARM-STARTS from a previous crawl's `(v, rank)`
    * table — the recurring-crawl shape: the graph grew a little since
    * last month, so re-rank from last month's vector and converge in a
    * fraction of the rounds a cold start needs. Nodes absent from
    * `init` (newly discovered pages) start at the uniform `scale div
    * n`; init rows for nodes no longer in the spine are dropped by the
    * join. One extra dimension-style left join before the loop — the
    * per-iteration shape is unchanged. */
  def pageRank(
      edges: DataFrame,
      nodes: DataFrame,
      iters: Int,
      scale: Long = 1000000000L,
      init: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50]: $iters")
    // r17 (guide §5 persist discipline): the node spine and the
    // degree-weighted edge table are read EVERY iteration (the spine
    // twice: the rank init and each round's dangling-node join) — and
    // both re-executed their upstream scan/union/aggregate per round
    // before. Materialize each once; the loop reads bounded caches.
    // Checkpoints (not persists) so the returned plan does not
    // reference caches, and the lineage truncation comes free; the
    // current Scope frees them.
    val spine = Scope.checkpoint(nodes.select(col("v")))
    val n = spine.count()
    require(n > 0, "pageRank needs a non-empty node spine")
    val r0 = scale / n
    val base = 15L * r0 / 100L
    val deg = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
    val e = Scope.checkpoint(edges.join(deg, Seq("src")))
    var r = init match {
      case Some(prev) => spine
        .join(prev.select(prev.col("v"),
          prev.col("rank").cast("long").as("__init")), Seq("v"), "left")
        .select(col("v"), coalesce(col("__init"), lit(r0)).as("rank"))
      case None => spine.select(col("v"), lit(r0).as("rank"))
    }
    for (i <- 1 to iters) {
      val contrib = e.join(r, e("src") === r("v"))
        .select(col("dst").as("v"),
          expr("rank div __deg").as("__c"))
        .groupBy("v").agg(sum("__c").as("__s"))
      r = spine
        .join(contrib, Seq("v"), "left")
        .select(col("v"),
          (lit(base) +
            expr("(85 * coalesce(__s, CAST(0 AS BIGINT))) div 100"))
            .as("rank"))
      // Truncate iterative lineage (the Lloyd/BPE pattern): without
      // this the final plan embeds `iters` copies of the edge-join
      // subtree and Catalyst analysis cost grows superlinearly — a
      // driver-side bottleneck long before the executors feel it.
      // Every 5 rounds amortizes the materialization at low iters
      // while keeping plan depth bounded at the 50-iteration limit.
      if (i % 5 == 0 && i < iters) r = Scope.checkpoint(r)
    }
    r
  }

  /** Fixed-iteration integer HITS (Kleinberg 1999) — hubs point at
    * authorities: `auth(v) = Σ hub(u)` over in-links, `hub(v) =
    * Σ auth(w)` over out-links, each vector renormalized to `scale`
    * total every half-step. PageRank's quantization contract carries
    * over: scores live in integer scale-units, the normalization is
    * `(raw · scale) div total` on an exact DECIMAL(38,0) product (a
    * BIGINT product would overflow at raw ≈ indeg·scale), so every
    * round is exact integer algebra — bit-identical under any
    * partitioning, reproducible by a SQL mirror unrolled round by
    * round. Truncation only loses mass: Σauth ≤ scale, Σhub ≤ scale.
    *
    * Scale shape: each half-step is ONE edge-keyed shuffle with
    * map-side-combined sums (the Zipf-hot homepage dst partial-
    * aggregates, never a skew join) plus ONE single-row total that
    * broadcasts back — 2 shuffles + 2 scalar aggregates per round.
    * Off-spine endpoints drop at the spine join exactly as in
    * [[pageRank]]; an isolated spine (no surviving edge) degrades to
    * all-zero vectors via the `greatest(total, 1)` guard rather than
    * a divide-by-null. */
  def hits(
      edges: DataFrame,
      nodes: DataFrame,
      iters: Int,
      scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50]: $iters")
    // r17 (guide §5): spine and edge table are read twice per
    // half-step (2·iters·2 reads) — materialize each ONCE instead of
    // re-executing their upstream scan/union per read (same persist
    // discipline as [[pageRank]]; checkpoints, freed by the current
    // Scope, and the spine count comes off the cache).
    val spine = Scope.checkpoint(nodes.select(col("v")))
    val n = spine.count()
    require(n > 0, "hits needs a non-empty node spine")
    val e = Scope.checkpoint(edges.select(col("src"), col("dst")))

    /** raw(v) = Σ score(other endpoint) over `e` keyed by `keyCol`,
      * spine-completed with 0, then renormalized to `scale` total.
      * The raw table is MATERIALIZED (localCheckpoint) before the
      * total: the normalized vector references raw twice (directly
      * and through the total), so an unmaterialized plan would DOUBLE
      * per half-step — exponential lineage growth that turns 3
      * rounds into 2⁶ copies of the edge-join subtree. The
      * materialization is node-count-sized and also truncates
      * iterative lineage, so no separate per-k-rounds checkpoint is
      * needed (unlike [[pageRank]], whose rank vector is referenced
      * once per round). */
    def halfStep(score: DataFrame, scoreCol: String,
        joinCol: String, keyCol: String, outCol: String): DataFrame = {
      val raw = Scope.checkpoint(spine
        .join(e.join(score.withColumnRenamed("v", "__sv"),
              col(joinCol) === col("__sv"))
            .groupBy(col(keyCol).as("v"))
            .agg(sum(scoreCol).as("__r")),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("__r"), lit(0L)).as("__raw")))
      val tot = raw.agg(sum("__raw").as("__t"))
      raw.crossJoin(broadcast(tot))
        .select(col("v"),
          expr(s"(CAST(__raw AS DECIMAL(38,0)) * $scale) div " +
            "greatest(__t, CAST(1 AS BIGINT))").as(outCol))
    }

    var hub = spine.select(col("v"), lit(scale / n).as("hub"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = halfStep(hub, "hub", joinCol = "src", keyCol = "dst", "auth")
      hub = halfStep(auth, "auth", joinCol = "dst", keyCol = "src", "hub")
    }
    auth.join(hub, Seq("v")).select(col("v"), col("auth"), col("hub"))
  }
}
