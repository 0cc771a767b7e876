package graft.tools

import graft.sources.{PytesdaqReader, RawConvert, VaexHdf5Reader}

/** HDF5 → curated-Parquet conversion CLI — the offline ingest step that
  * replaces the reference's per-session `vx.open_many` memory-mapping
  * (`analyzer.py:560`) and its raw-event reads
  * (`H5Reader.read_many_events`, `analyzer.py:1030-1046`):
  *
  * {{{
  * // feature files (vaex column layout) → curated EVENT store
  * sbt "runMain graft.tools.ConvertCli /out/store f1.hdf5 f2.hdf5 ..."
  * // raw/triggered event dumps (pytesdaq layout) → curated TRACE store
  * sbt "runMain graft.tools.ConvertCli --raw /out/traces d1.hdf5 ..."
  * }}}
  *
  * Both modes read with the pure-JVM [[graft.sources.Hdf5File]] reader
  * (no native dependency), one file per task:
  *
  *   - default: vaex feature layout → [[graft.sources.Ingest.writeEvents]]
  *     (series partitioning, (dump, event) intra-file sort, stable
  *     `event_uid`); schema inferred from the FIRST file.
  *   - `--raw`: pytesdaq raw-event layout ([[PytesdaqReader]]) →
  *     [[graft.sources.Ingest.writeTraces]] (trace store co-laid-out
  *     with events). ADC counts convert through the file's
  *     `adc_conversion_factor` polynomial; `--raw-counts` skips
  *     calibration for uncalibrated dumps.
  *
  * At 100 TB this is the embarrassingly-parallel restartable step —
  * rerunning overwrites the store idempotently. */
object ConvertCli {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    require(positional.length >= 2,
      "usage: ConvertCli [--raw] [--raw-counts] <output-store-path> " +
        "<input.hdf5> [more.hdf5 ...]")
    val rawMode = flags.contains("--raw") || flags.contains("--raw-counts")
    val out = positional.head
    val files = positional.tail.toSeq
    val spark = graft.GraftSession.create(
      master = sys.env.get("SPARK_MASTER"))
    if (rawMode) {
      val reader =
        new PytesdaqReader(rawCounts = flags.contains("--raw-counts"))
      RawConvert.convertTraces(spark, files, reader, out)
      val n = spark.read.parquet(out).count()
      println(s"[convert] wrote $n trace rows from ${files.size} raw " +
        s"file(s) to $out")
    } else {
      val reader = VaexHdf5Reader(files.head)
      println(s"[convert] schema (${reader.schema.fields.length} columns) " +
        s"inferred from ${files.head}")
      RawConvert.convertEvents(spark, files, reader, out)
      val n = spark.read.parquet(out).count()
      println(s"[convert] wrote $n events from ${files.size} file(s) to $out")
    }
    spark.stop()
  }
}
