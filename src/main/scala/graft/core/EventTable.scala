package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata attached to a registered cut or derived feature, mirroring the
  * reference's plugin metadata dicts (`detanalysis/analyzer.py:1125-1147`,
  * `func.py:7-39`): name, free-form description, integer version (used for
  * version-gated re-registration, `analyzer.py:1134-1148`), author. */
final case class CutMeta(
    name: String,
    description: String = "",
    version: Double = 0.0,
    author: String = "")

/** The central abstraction: an immutable event table (one row per
  * triggered event, wide `<rq>_<channel>` columns) plus the cut registry
  * and the session-wide global filter — the Spark-first re-expression of
  * the reference `Analyzer` (`detanalysis/analyzer.py:34-75`).
  *
  * Design inversions vs the reference, deliberate (SURVEY.md §7.1):
  *   - Cuts are lazy boolean columns in the logical plan, not materialized
  *     numpy masks (`analyzer.py:263-265` always materializes); Catalyst
  *     recomputation is cheap and predicates are relocatable, so the whole
  *     filtered-view → `__event_index__` → `np.isin` back-projection dance
  *     (`analyzer.py:236-252`) collapses to `withColumn(name, pred)`.
  *     Opt-in materialization via [[materialize]] (persist) for reuse-heavy
  *     sessions, matching vaex's task cache (`analyzer.py:71-72`).
  *   - View-scoped selections are re-anchored with a broadcast left
  *     semi-join on the stable `event_uid` (J1) instead of positional
  *     masks, which stays correct under repartitioning at cluster scale.
  */
final class EventTable private (
    val full: DataFrame,
    val cutMeta: Map[String, CutMeta],
    val featureMeta: Map[String, CutMeta],
    val globalFilter: Option[Column]) {

  def spark: SparkSession = full.sparkSession

  /** The working view: full table restricted by the global filter
    * (`_refresh_df_view`, `analyzer.py:267-286`). */
  def view: DataFrame = globalFilter.fold(full)(p => full.filter(p))

  /** F1-F3/F10: filter the working view by any cut form
    * (`_subset_df`, `analyzer.py:204-234`). KeyTable cuts apply as a
    * broadcast left-semi join on the key column (J1). */
  def filter(cut: Cut): DataFrame = cut match {
    case Cut.KeyTable(keys, k) =>
      view.join(broadcast(keys.select(col(k)).distinct()), Seq(k), "left_semi")
    case c => view.filter(Cut.toColumn(c))
  }

  /** F8: evaluate one expression under an optional cut
    * (`get_values`, `analyzer.py:292-298`). Returns a 1-column DataFrame;
    * the caller decides whether to collect. */
  def values(featureExpr: String, cut: Cut = Cut.All): DataFrame =
    filter(cut).select(expr(featureExpr))

  /** F4: register a cut as a named boolean column on the FULL table
    * (`register_cut`, `analyzer.py:304-326`). Re-registration with a lower
    * or equal version is skipped (version gate, `analyzer.py:1134-1148`)
    * unless `overwrite`. */
  def registerCut(
      name: String,
      cut: Cut,
      meta: CutMeta = null,
      overwrite: Boolean = true): EventTable = {
    val m = Option(meta).getOrElse(CutMeta(name))
    cutMeta.get(name) match {
      case Some(prev) if !overwrite && prev.version >= m.version => this
      case _ =>
        val df2 = cut match {
          case Cut.KeyTable(keys, k) =>
            // full-length flag from a selected-key set: broadcast left join
            // + coalesce(false) — the J1 back-projection without positional
            // masks (`analyzer.py:236-252`).
            val flags = keys.select(col(k)).distinct()
              .withColumn("__flag__", lit(true))
            full.join(broadcast(flags), Seq(k), "left")
              .withColumn(name, coalesce(col("__flag__"), lit(false)))
              .drop("__flag__")
          case c => full.withColumn(name, Cut.toColumn(c))
        }
        new EventTable(df2, cutMeta + (name -> m), featureMeta, globalFilter)
    }
  }

  /** F5: rectangular box cut over (feature, lo, hi) triples
    * (`register_cut_box`, `analyzer.py:328-357`). */
  def registerBoxCut(
      name: String,
      limits: Seq[(String, Double, Double)],
      meta: CutMeta = null): EventTable =
    registerCut(name, Cut.box(limits), meta)

  /** F6: combine registered cuts with and/or/xor/subtract into a new
    * registered cut (`combine_cuts`, `analyzer.py:379-413`). */
  def combineCuts(
      name: String,
      cuts: Seq[String],
      mode: CombineMode): EventTable = {
    require(cuts.nonEmpty, "combineCuts needs at least one cut")
    registerCut(name, Cut.Pred(CombineMode.fold(cuts.map(col), mode)))
  }

  /** F7: session-wide global filter with replace/and/or/xor/subtract
    * composition against the current one
    * (`apply_global_filter`, `analyzer.py:419-447`). */
  def applyGlobalFilter(
      cut: Cut,
      mode: CombineMode = CombineMode.Replace): EventTable = {
    val incoming = Cut.toColumn(cut)
    val next = (globalFilter, mode) match {
      case (None, _) | (_, CombineMode.Replace) => incoming
      case (Some(cur), m) => CombineMode.fold(Seq(cur, incoming), m)
    }
    new EventTable(full, cutMeta, featureMeta, Some(next))
  }

  /** F7: drop the global filter, restoring the full view
    * (`drop_global_filter`, `analyzer.py:449-454`). */
  def dropGlobalFilter: EventTable =
    new EventTable(full, cutMeta, featureMeta, None)

  /** Persist the CURRENT working view as a named cut
    * (`save_current_selection`, `analyzer.py:359-377`) — the interactive
    * flow's "freeze what I'm looking at". No-op flag (all-true) when no
    * global filter is active. */
  def saveCurrentSelection(name: String, meta: CutMeta = null): EventTable =
    registerCut(name,
      globalFilter.map(Cut.Pred).getOrElse(Cut.All), meta)

  /** Per-column unit metadata (`df.unit(expr)`, `analyzer.py:135-136`),
    * carried on the StructField Metadata so it survives Parquet
    * round-trips. */
  def withUnit(column: String, unit: String): EventTable = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(full.schema(column).metadata)
      .putString("unit", unit).build()
    new EventTable(
      full.withColumn(column, full(column).as(column, md)),
      cutMeta, featureMeta, globalFilter)
  }

  def unit(column: String): Option[String] = {
    val md = full.schema(column).metadata
    if (md.contains("unit")) Some(md.getString("unit")) else None
  }

  /** D1: derived feature as a lazy virtual column
    * (`add_feature`, `analyzer.py:460-476`). */
  def addFeature(
      name: String,
      expression: Column,
      meta: CutMeta = null): EventTable =
    new EventTable(
      full.withColumn(name, expression),
      cutMeta,
      featureMeta + (name -> Option(meta).getOrElse(CutMeta(name))),
      globalFilter)

  /** D1 string form: `addFeature(name, "a - b")`. */
  def addFeatureSql(name: String, expression: String): EventTable =
    addFeature(name, expr(expression))

  /** F9: drop columns (and their registry entries) —
    * `_drop_column_if_exists` (`analyzer.py:161-172`). */
  def dropColumns(names: String*): EventTable =
    new EventTable(
      full.drop(names: _*),
      cutMeta -- names,
      featureMeta -- names,
      globalFilter)

  /** Opt-in materialization of the working view (vaex task-cache analogue,
    * `analyzer.py:71-72`): persist MEMORY_AND_DISK so repeated cut/agg
    * passes reuse the scan. */
  def materialize(): EventTable = {
    import org.apache.spark.storage.StorageLevel
    new EventTable(
      view.persist(StorageLevel.MEMORY_AND_DISK),
      cutMeta, featureMeta, None)
  }

  /** Summary statistics (count/mean/std/min/max + quartiles) for the
    * working view — the `df.describe()` surface of the demo notebooks
    * (`demos/analyzer_example.ipynb`). Thin passthrough to Spark's
    * `summary`, computed distributed. */
  def describe(columns: String*): DataFrame =
    (if (columns.isEmpty) view else view.select(columns.map(col): _*))
      .summary()

  /** A10: passage fraction of a cut under an optional condition
    * (`get_passage_fraction`, `semiautocuts.py:1846-1896`): mean of the
    * boolean cut column over the conditioned view, as one
    * `passage_fraction` row — null when no row has a non-null cut value.
    * Eager: one Spark job (`Hist.passFractions`, 16 B per task). */
  def passageFraction(cut: Cut, condition: Cut = Cut.All): DataFrame =
    graft.stats.Hist.passFractions(filter(condition),
      Seq("passage_fraction" -> Cut.toColumn(cut)))

  def withCutMeta(name: String, meta: CutMeta): EventTable =
    new EventTable(full, cutMeta + (name -> meta), featureMeta, globalFilter)
}

object EventTable {

  /** S1/S2/S4: load one or more Parquet paths as a single event table with
    * a stable per-row `event_uid` (replacing the reference's positional
    * `__event_index__ = np.arange(n)`, `analyzer.py:563-565`, which is
    * unsound under Spark repartitioning).
    *
    * If `uidCols` is given (e.g. the natural key `(series_number,
    * event_number)`), the uid is a hash of those columns — stable,
    * shuffle-free, scale-safe. Otherwise a deterministic uid is derived
    * from (input file, row-group position) — still repartition-stable
    * because it is computed before any shuffle.
    */
  def load(
      spark: SparkSession,
      paths: Seq[String],
      uidCols: Seq[String] = Nil,
      mergeSchema: Boolean = true,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      schemaDdl: Option[String] = None): EventTable = {
    // multi-format ingest: parquet is the curated-store default; csv /
    // json / orc cover interchange drops (the reference's "open a
    // directory of data files" path, format-agnostic here). For
    // text formats ALWAYS pass `schemaDdl` in production: schema
    // inference costs an extra full pass over the files, and inferred
    // integer widths change the (type-sensitive) hashed event_uid.
    val reader0 = spark.read.options(options)
    val reader = schemaDdl.fold(reader0)(reader0.schema)
    val df = format.toLowerCase match {
      case "parquet" => reader
        .option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
      case "orc" => reader
        .option("mergeSchema", mergeSchema.toString).orc(paths: _*)
      case "csv" => reader
        .option("header", options.getOrElse("header", "true"))
        .option("inferSchema", options.getOrElse("inferSchema", "true"))
        .csv(paths: _*)
      case "json" => reader.json(paths: _*)
      case other => throw new IllegalArgumentException(
        s"unsupported format '$other' (parquet, orc, csv, json)")
    }
    val withUid =
      if (df.columns.contains("event_uid")) df
      else if (uidCols.nonEmpty)
        // preferred: hash of the natural key — shuffle-free, stable under
        // any partitioning, no extra pass
        df.withColumn("event_uid", xxhash64(uidCols.map(col): _*))
      else {
        // fallback: positional id via zipWithIndex — deterministic for a
        // fixed file list (L1) and scale-safe (per-partition offsets from
        // one count job; NOT a global-sort window, which would funnel
        // every row through a single partition). Mirrors the reference's
        // `__event_index__ = np.arange(n)` load-order semantics
        // (`analyzer.py:563-565`).
        // NOTE: this path severs the Parquet relation (no pushdown into
        // the scan) and repeats the zipWithIndex count job per action —
        // persist to pay it once. Prefer uidCols or ingest-time stamping
        // ([[graft.sources.Ingest]]) on anything large.
        val spark0 = df.sparkSession
        val schema = df.schema.add("event_uid", "long", nullable = false)
        val rdd = df.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
        }
        spark0.createDataFrame(rdd, schema)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    new EventTable(withUid, Map.empty, Map.empty, None)
  }

  /** Wrap an existing DataFrame (already carrying any uid it needs). */
  def apply(df: DataFrame): EventTable =
    new EventTable(df, Map.empty, Map.empty, None)

  /** S3: file/series pruning — select files by directory glob plus a
    * series predicate (`_extract_file_names`, `analyzer.py:1061-1100`):
    * `series` is a list of substrings matched anywhere in the path, and
    * `parity` = "even"/"odd" selects files whose BASENAME starts with
    * that literal token (the reference globs `even_*.hdf5`/`odd_*.hdf5`,
    * `analyzer.py:1069-1075` — it is a filename prefix, NOT digit
    * parity, so `series_12_dump_3.parquet` matches neither). Runs on the
    * driver over the file listing, like the reference; at cluster scale
    * prefer Parquet partitioning on `series_number` so Catalyst prunes
    * partitions instead. */
  def pruneFiles(
      files: Seq[String],
      series: Seq[String] = Nil,
      parity: Option[String] = None): Seq[String] = {
    val bySeries =
      if (series.isEmpty) files
      else files.filter(f => series.exists(f.contains))
    val byParity = parity match {
      case Some(p) =>
        require(p == "even" || p == "odd", s"parity must be even|odd: $p")
        bySeries.filter { f =>
          val base = f.substring(f.lastIndexOf('/') + 1)
          base.startsWith(p + "_")
        }
      case None => bySeries
    }
    byParity.distinct.sorted // L1: deterministic load order
  }
}
