package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** WARC (Web ARChive, ISO 28500) ingestion — the container format of
  * Common Crawl, the dominant raw source of web-scale LLM training
  * corpora. Pure JVM, from the public spec: WARC/1.0 and /1.1 record
  * framing (version line, CRLF header block, Content-Length body,
  * CRLF CRLF trailer), `response` records with their HTTP payload
  * split out, `conversion` records (the WET extracted-text files) read
  * as UTF-8 text, and per-record-gzipped `.warc.gz` members (JDK
  * `GZIPInputStream` reads concatenated members natively).
  *
  * Scale shape: WARC is NOT splittable (gzip members + unindexed
  * records), and Common Crawl ships each crawl as ~64k files of
  * ~1 GB — so the unit of parallelism is the FILE, exactly the
  * [[RawConvert]] one-file-per-task pattern: a 100 TB crawl is an
  * embarrassingly parallel, per-file-restartable scan, records
  * STREAM through a bounded buffer (never a whole file in memory),
  * and extracted rows land in the curated store where everything
  * downstream (dedup, quality, packing) is splittable parquet. */
object Warc {

  /** One parsed WARC record: version, the raw WARC header map
    * (original case preserved; lookup via [[header]] is
    * case-insensitive per spec), and the body bytes. */
  final case class WarcRecord(
      version: String,
      headers: Map[String, String],
      body: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase(name) => v
      }
    def warcType: String = header("WARC-Type").getOrElse("")
    def targetUri: Option[String] = header("WARC-Target-URI")
      .map(u => u.stripPrefix("<").stripSuffix(">")) // WARC/1.0 allows <>
    def date: Option[String] = header("WARC-Date")
  }

  /** Split an HTTP message (a `response` record body) into
    * (status/header lines, payload bytes) at the first CRLF CRLF.
    * Returns None when the body carries no HTTP header block. */
  def httpPayload(body: Array[Byte]): Option[(Seq[String], Array[Byte])] = {
    var i = 0
    while (i + 3 < body.length &&
        !(body(i) == '\r' && body(i + 1) == '\n' &&
          body(i + 2) == '\r' && body(i + 3) == '\n'))
      i += 1
    if (i + 3 >= body.length) None
    else {
      val head = new String(body, 0, i, StandardCharsets.ISO_8859_1)
      if (!head.startsWith("HTTP/")) None
      else Some((head.split("\r\n").toSeq,
        java.util.Arrays.copyOfRange(body, i + 4, body.length)))
    }
  }

  /** First HTTP header value by case-insensitive name over the
    * status+header lines of [[httpPayload]] (status line skipped). */
  def httpHeader(lines: Seq[String], name: String): Option[String] =
    lines.iterator.drop(1).flatMap { l =>
      val i = l.indexOf(':')
      if (i > 0 && l.substring(0, i).trim.equalsIgnoreCase(name))
        Some(l.substring(i + 1).trim)
      else None
    }.nextOption()

  /** Decode HTTP/1.1 chunked transfer framing (RFC 9112 §7.1):
    * hex-size lines (chunk extensions after `;` ignored), data, CRLF,
    * terminated by a zero chunk (trailers ignored). Malformed framing
    * throws — the caller decides whether to fall back to raw bytes. */
  def dechunk(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length)
    var i = 0
    def line(): String = {
      val start = i
      while (i + 1 < payload.length &&
          !(payload(i) == '\r' && payload(i + 1) == '\n')) i += 1
      if (i + 1 >= payload.length)
        throw new EOFException("chunked body: unterminated line")
      val s = new String(payload, start, i - start,
        StandardCharsets.ISO_8859_1)
      i += 2
      s
    }
    var sizeLine = line()
    var size = java.lang.Long.parseLong(
      sizeLine.split(";", 2)(0).trim, 16)
    while (size > 0) {
      require(i + size <= payload.length,
        s"chunked body: chunk of $size bytes overruns the payload")
      out.write(payload, i, size.toInt)
      i += size.toInt
      val sep = line()
      require(sep.isEmpty, s"chunked body: missing chunk-data CRLF")
      sizeLine = line()
      size = java.lang.Long.parseLong(sizeLine.split(";", 2)(0).trim, 16)
    }
    out.toByteArray
  }

  /** Gunzip a whole in-memory body (Content-Encoding: gzip). */
  def gunzip(payload: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(payload), 1 << 16)
    try in.readAllBytes() finally in.close()
  }

  /** Charset from a Content-Type value (`charset=` parameter),
    * UTF-8 when absent/unsupported — real crawl responses declare
    * ISO-8859-1/windows-1252/… constantly; decoding them all as UTF-8
    * puts mojibake in the corpus. */
  def charsetOf(contentType: Option[String]): java.nio.charset.Charset =
    contentType
      .flatMap(ct => "(?i)charset=\"?([^;\\s\"']+)".r
        .findFirstMatchIn(ct).map(_.group(1)))
      .flatMap(n => scala.util.Try(
        java.nio.charset.Charset.forName(n)).toOption)
      .getOrElse(StandardCharsets.UTF_8)

  /** Lazily parse a WARC stream into records. The iterator reads one
    * record ahead; bodies are materialized per record (a record is
    * MBs at most — pages, not files), the stream never is. Malformed
    * framing fails loudly with the byte offset context — a silently
    * skipped record is corpus loss nobody notices. */
  def records(in: InputStream): Iterator[WarcRecord] = new Iterator[WarcRecord] {
    private val s = new BufferedInputStream(in, 1 << 16)
    private var nextRec: WarcRecord = null
    private var done = false

    private def readLine(): String = {
      val sb = new java.lang.StringBuilder(96)
      var c = s.read()
      if (c < 0) return null
      while (c >= 0 && c != '\n') {
        sb.append(c.toChar); c = s.read()
      }
      val line = sb.toString
      if (line.endsWith("\r")) line.substring(0, line.length - 1) else line
    }

    private def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = s.read(buf, off, n - off)
        if (r < 0) throw new EOFException(
          s"WARC body truncated: expected $n bytes, got $off")
        off += r
      }
      buf
    }

    private def advance(): Unit = {
      if (done) return
      // skip inter-record blank lines (the spec's record separator is
      // CRLF CRLF; tolerate extras)
      var line = readLine()
      while (line != null && line.isEmpty) line = readLine()
      if (line == null) { done = true; return }
      require(line.startsWith("WARC/"),
        s"not a WARC record boundary: '${line.take(40)}'")
      val version = line.stripPrefix("WARC/")
      val hdrs = Map.newBuilder[String, String]
      var h = readLine()
      var contentLength = -1L
      while (h != null && h.nonEmpty) {
        val idx = h.indexOf(':')
        require(idx > 0, s"malformed WARC header line: '${h.take(60)}'")
        val k = h.substring(0, idx).trim
        val v = h.substring(idx + 1).trim
        hdrs += (k -> v)
        if (k.equalsIgnoreCase("Content-Length")) contentLength = v.toLong
        h = readLine()
      }
      require(h != null, "WARC header block truncated (no blank line)")
      require(contentLength >= 0, "WARC record missing Content-Length")
      require(contentLength <= Int.MaxValue,
        s"WARC record of $contentLength bytes exceeds the JVM array cap")
      val body = readFully(contentLength.toInt)
      nextRec = WarcRecord(version, hdrs.result(), body)
    }

    def hasNext: Boolean = {
      if (nextRec == null && !done) advance()
      nextRec != null
    }
    def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("end of WARC stream")
      val r = nextRec; nextRec = null; r
    }
  }

  /** Parse an in-memory WARC blob (a test fixture, a synthesized
    * record, one archived page) — same parser as the file path. */
  def parseBytes(bytes: Array[Byte]): Iterator[WarcRecord] =
    records(new java.io.ByteArrayInputStream(bytes))

  /** Rows extracted from WARC/WET files: one row per `response` or
    * `conversion` record. `text` is the HTTP payload (responses) or
    * the record body (conversions) as UTF-8; `n_bytes` counts payload
    * BYTES (the pre-decode size quality filters key on). */
  val schema: StructType = StructType(Seq(
    StructField("warc_file", StringType, nullable = false),
    StructField("record_idx", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    // digest-dedup surface (revisit records + any record that carries
    // a payload digest); null on plain response/conversion reads
    StructField("payload_digest", StringType, nullable = true),
    StructField("refers_to_url", StringType, nullable = true),
    StructField("refers_to_date", StringType, nullable = true)))

  /** Distributed WARC/WET read: one file per task ([[RawConvert]]'s
    * parallelize-by-file shape), gzip auto-detected by suffix,
    * records streamed; the file handle is closed by a task-completion
    * listener (executor JVMs are long-lived — a leaked fd per task
    * accumulates). Non-response/conversion records (warcinfo, request,
    * metadata) are skipped — they carry no corpus text.
    *
    * Response payloads honor the HTTP transfer layer real crawl data
    * carries: `Transfer-Encoding: chunked` framing is removed,
    * `Content-Encoding: gzip` bodies are inflated, and text decodes
    * with the `Content-Type` charset (UTF-8 fallback). A payload whose
    * declared transfer coding fails to decode keeps its raw bytes
    * (deterministic; one hostile page must not kill a 1 GB file
    * task — the WARC FRAMING stays loud, the payload layer degrades). */
  def readWarcFiles(spark: SparkSession, files: Seq[String]): DataFrame = {
    require(files.nonEmpty, "no WARC files to read")
    val rows = spark.sparkContext
      .parallelize(files.toIndexedSeq, files.size)
      .flatMap { path =>
        val raw = new java.io.FileInputStream(path)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null)
          tc.addTaskCompletionListener[Unit](_ => raw.close())
        val in: InputStream =
          if (path.endsWith(".gz"))
            new java.util.zip.GZIPInputStream(raw, 1 << 16)
          else raw
        var idx = -1L
        records(in).flatMap { r =>
          idx += 1
          r.warcType match {
            case "response" =>
              val (n, text) = httpPayload(r.body) match {
                case Some((head, payload0)) =>
                  val chunked = httpHeader(head, "Transfer-Encoding")
                    .exists(_.split(",").map(_.trim.toLowerCase(
                      java.util.Locale.ROOT)).lastOption.contains("chunked"))
                  val p1 =
                    if (chunked)
                      try dechunk(payload0)
                      catch { case _: RuntimeException | _: EOFException =>
                        payload0 }
                    else payload0
                  val gzipped = httpHeader(head, "Content-Encoding")
                    .map(_.trim.toLowerCase(java.util.Locale.ROOT))
                    .exists(v => v == "gzip" || v == "x-gzip")
                  val p2 =
                    if (gzipped)
                      try gunzip(p1)
                      catch { case _: java.io.IOException => p1 }
                    else p1
                  (p2.length.toLong,
                    new String(p2, charsetOf(httpHeader(head, "Content-Type"))))
                case None => (r.body.length.toLong, null)
              }
              Some(Row(path, idx, "response", r.targetUri.orNull,
                r.date.orNull, n, text,
                r.header("WARC-Payload-Digest").orNull, null, null))
            case "conversion" =>
              Some(Row(path, idx, "conversion", r.targetUri.orNull,
                r.date.orNull, r.body.length.toLong,
                new String(r.body, StandardCharsets.UTF_8),
                r.header("WARC-Payload-Digest").orNull, null, null))
            case "revisit" =>
              // digest dedup across crawls (the Common Crawl /
              // Heritrix convention): the payload was NOT stored —
              // the digest + refers-to headers point at the original
              // capture; resolve content via [[resolveRevisits]]
              Some(Row(path, idx, "revisit", r.targetUri.orNull,
                r.date.orNull, 0L, null,
                r.header("WARC-Payload-Digest").orNull,
                r.header("WARC-Refers-To-Target-URI")
                  .map(u => u.stripPrefix("<").stripSuffix(">")).orNull,
                r.header("WARC-Refers-To-Date").orNull))
            case _ => None
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Rows from WAT-style files: one row per `metadata` record, the
    * JSON body as text — parse downstream with `from_json` (schema in
    * DataFrame land, not here: WAT envelopes vary by producer). */
  val watSchema: StructType = StructType(Seq(
    StructField("wat_file", StringType, nullable = false),
    StructField("record_idx", LongType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("json", StringType, nullable = false)))

  /** Distributed WAT read: `metadata` records only (the WAT payload),
    * same file-per-task shape and fd hygiene as [[readWarcFiles]]. */
  def readWatFiles(spark: SparkSession, files: Seq[String]): DataFrame = {
    require(files.nonEmpty, "no WAT files to read")
    val rows = spark.sparkContext
      .parallelize(files.toIndexedSeq, files.size)
      .flatMap { path =>
        val raw = new java.io.FileInputStream(path)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null)
          tc.addTaskCompletionListener[Unit](_ => raw.close())
        val in: InputStream =
          if (path.endsWith(".gz"))
            new java.util.zip.GZIPInputStream(raw, 1 << 16)
          else raw
        var idx = -1L
        records(in).flatMap { r =>
          idx += 1
          if (r.warcType == "metadata")
            Some(Row(path, idx, r.targetUri.orNull, r.date.orNull,
              r.body.length.toLong,
              new String(r.body, StandardCharsets.UTF_8)))
          else None
        }
      }
    spark.createDataFrame(rows, watSchema)
  }

  /** Deterministic synthetic WARC blob for a (url, date, text) page:
    * a `warcinfo` record followed by a `response` record whose body is
    * a minimal HTTP/1.1 200 message — the fixture generator for the
    * oracle-gated ingest query (the mm_* self-fixture pattern: the
    * CONTAINER is synthesized, the parse is the real code path). */
  def syntheticWarc(url: String, date: String, text: String): Array[Byte] = {
    val payload = text.getBytes(StandardCharsets.UTF_8)
    val http = (s"HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/plain; charset=utf-8\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1) ++ payload
    frameRecord("warcinfo", date, "",
        "software: graft-synth\r\n".getBytes(StandardCharsets.ISO_8859_1)) ++
      frameRecord("response", date,
        s"WARC-Target-URI: $url\r\n" +
          "Content-Type: application/http;msgtype=response\r\n", http)
  }

  /** One framed WARC/1.0 record: headers, body, the record-separating
    * blank block. Shared by the fixture synthesizer and the WET
    * writer so write and read cannot drift. */
  private def frameRecord(
      tpe: String, date: String, extra: String,
      body: Array[Byte]): Array[Byte] =
    (s"WARC/1.0\r\n" +
      s"WARC-Type: $tpe\r\n" +
      s"WARC-Date: $date\r\n" +
      extra +
      s"Content-Length: ${body.length}\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1) ++ body ++
      "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)

  /** Distributed WET write — the EGEST half of the crawl surface (emit
    * a curated corpus in the interchange format the ingest side
    * reads): one `part-NNNNN.warc.gz` per non-empty partition under
    * `dir`, a `warcinfo` member followed by one `conversion` record
    * per row, EACH RECORD ITS OWN GZIP MEMBER (the Common Crawl
    * layout: members concatenate into one valid stream, and a byte
    * range can decompress a single record without touching the rest —
    * exactly what [[graft.sources.Cdx.fetchPlan]] range fetches rely
    * on). Null text rows are skipped. Writers run on executors; the
    * directory must be executor-visible (local-FS path in local mode,
    * a shared mount/DFS path on a cluster).
    *
    * Commit protocol: the output directory must be EMPTY (pre-existing
    * parts from an earlier run would silently mix into this one —
    * fail loudly instead), and each task writes to an
    * attempt-unique temp name then atomically renames on success — a
    * retried or speculatively-executed task attempt never interleaves
    * gzip members with a concurrent attempt of the same partition;
    * whichever complete attempt renames last wins whole. */
  def writeWetFiles(
      df: DataFrame,
      dir: String,
      urlCol: String = "url",
      dateCol: String = "warc_date",
      textCol: String = "text"): Unit =
    writeRecordFiles(df, dir, urlCol, dateCol, textCol,
      recordType = "conversion", contentType = "text/plain")

  /** Distributed WAT-style write — per-page METADATA records (the
    * third member of the Common Crawl WARC/WAT/WET trio): one
    * `metadata` record per row whose body is the row's JSON metadata
    * blob (headers, title, link summary — build it declaratively with
    * `to_json(struct(...))`), per-record-gzipped in the same
    * `part-NNNNN.warc.gz` layout and commit protocol as
    * [[writeWetFiles]]. */
  def writeWatFiles(
      df: DataFrame,
      dir: String,
      urlCol: String = "url",
      dateCol: String = "warc_date",
      jsonCol: String = "wat_json"): Unit =
    writeRecordFiles(df, dir, urlCol, dateCol, jsonCol,
      recordType = "metadata", contentType = "application/json")

  /** Byte counter between the gzip members and the file: each member's
    * (offset, length) lands in the sidecar index. */
  private final class CountingOutputStream(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
  }

  private def writeRecordFiles(
      df: DataFrame,
      dir: String,
      urlCol: String,
      dateCol: String,
      bodyCol: String,
      recordType: String,
      contentType: String): Unit =
    writeMemberFiles(
      df.select(
        df.col(urlCol).cast(StringType),
        df.col(dateCol).cast(StringType),
        df.col(bodyCol).cast(StringType)),
      dir) { r =>
      if (r.isNullAt(2)) None
      else Some((r.getString(0),
        frameRecord(recordType, r.getString(1),
          s"WARC-Target-URI: ${r.getString(0)}\r\n" +
            s"Content-Type: $contentType\r\n",
          r.getString(2).getBytes(StandardCharsets.UTF_8))))
    }

  /** Shared shard writer: one `part-NNNNN.warc.gz` per non-empty
    * partition plus the `part-NNNNN.cdx` member index, under the
    * attempt-unique-temp + atomic-rename commit protocol ([[
    * writeWetFiles]]'s scaladoc). `mk` frames one row into (index
    * url, record bytes); None skips the row. */
  private def writeMemberFiles(
      projected: DataFrame,
      dir: String)(mk: Row => Option[(String, Array[Byte])]): Unit = {
    val dirPath = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(dirPath)
    val existing = java.nio.file.Files.list(dirPath)
    try require(!existing.findFirst().isPresent,
      s"WARC output dir $dir is not empty — refusing to mix runs")
    finally existing.close()
    projected
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val baseName = f"part-$pid%05d.warc.gz"
          val finalPath = java.nio.file.Paths.get(s"$dir/$baseName")
          val tmpPath = java.nio.file.Paths.get(
            f"$dir/.part-$pid%05d.attempt-${tc.taskAttemptId()}.tmp")
          val idxFinal = java.nio.file.Paths.get(
            f"$dir/part-$pid%05d.cdx")
          val idxTmp = java.nio.file.Paths.get(
            f"$dir/.part-$pid%05d.attempt-${tc.taskAttemptId()}.cdx.tmp")
          val out = new CountingOutputStream(
            new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(tmpPath.toFile), 1 << 16))
          val idx = new java.lang.StringBuilder
          var committed = false
          try {
            def member(bytes: Array[Byte]): Long = {
              val gz = new java.util.zip.GZIPOutputStream(out)
              gz.write(bytes)
              gz.finish() // close the member, keep the stream
              out.count
            }
            member(frameRecord("warcinfo", "2026-01-01T00:00:00Z", "",
              "software: graft-wet-writer\r\n".getBytes(
                StandardCharsets.ISO_8859_1)))
            it.foreach { r =>
              mk(r).foreach { case (url, bytes) =>
                val off = out.count
                val end = member(bytes)
                // the CDX essentials: where the member lives + its URL
                idx.append(baseName).append(' ').append(off).append(' ')
                  .append(end - off).append(' ')
                  .append(url).append('\n')
              }
            }
            out.close()
            java.nio.file.Files.write(idxTmp,
              idx.toString.getBytes(StandardCharsets.UTF_8))
            java.nio.file.Files.move(tmpPath, finalPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            java.nio.file.Files.move(idxTmp, idxFinal,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            committed = true
          } finally {
            if (!committed) {
              out.close()
              java.nio.file.Files.deleteIfExists(tmpPath)
              java.nio.file.Files.deleteIfExists(idxTmp)
            }
          }
        }
      }
  }

  /** Parse the sidecar member indexes of a [[writeWetFiles]] /
    * [[writeWatFiles]] output dir: `(filename, offset, length, url)` —
    * the CDX essentials, enough to range-fetch any single record
    * without touching the rest of its shard. Declarative text parse of
    * the `.cdx` files, listed and read by name: a glob path would send
    * the reader's metadata probe after a file named `*.cdx`. */
  def readMemberIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    val path = new org.apache.hadoop.fs.Path(dir)
    val files = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(path).map(_.getPath)
      .filter(p => p.getName.endsWith(".cdx") && !p.getName.startsWith("."))
      .map(_.toString).sorted
    require(files.nonEmpty, s"no .cdx member index under $dir")
    spark.read.textFile(files.toIndexedSeq: _*).toDF("line")
      .select(split(col("line"), " ", 4).as("p"))
      .select(
        element_at(col("p"), 1).as("filename"),
        element_at(col("p"), 2).cast("long").as("offset"),
        element_at(col("p"), 3).cast("long").as("length"),
        element_at(col("p"), 4).as("url"))
  }

  /** Rows from [[fetchRecordRanges]]. */
  val rangeFetchSchema: StructType = StructType(Seq(
    StructField("filename", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Range-fetch WARC records per a CDX-style plan — the 100 TB access
    * pattern the per-record-gzip layout exists for: `plan` rows
    * `(filename, offset, length)` select INDIVIDUAL records; each is
    * one bounded read + one gzip-member decode, never a shard scan.
    *
    * Scale shape: the plan shuffles ONCE by filename and sorts by
    * offset within partitions, so every archive file is opened once
    * and read strictly forward ([[Cdx.fetchPlan]] emits exactly this
    * order) — the selected fraction of a 100 TB crawl is the only IO
    * that happens. File handles close via task-completion listener. */
  def fetchRecordRanges(
      spark: SparkSession,
      plan: DataFrame,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val rows = plan.select("filename", "offset", "length")
      .repartition(col("filename"))
      .sortWithinPartitions("filename", "offset")
      .rdd.mapPartitions { it =>
        var raf: java.io.RandomAccessFile = null
        var cur: String = null
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ =>
          if (raf != null) raf.close())
        it.map { r =>
          val fn = r.getString(0)
          val off = r.getLong(1)
          val len = r.getLong(2)
          if (fn != cur) {
            if (raf != null) raf.close()
            raf = new java.io.RandomAccessFile(s"$dir/$fn", "r")
            cur = fn
          }
          raf.seek(off)
          require(len <= Int.MaxValue, s"$fn@$off: member of $len bytes")
          val buf = new Array[Byte](len.toInt)
          raf.readFully(buf)
          val rec = records(new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(buf))).next()
          Row(fn, off, rec.targetUri.orNull, rec.body.length.toLong,
            new String(rec.body, StandardCharsets.UTF_8))
        }
      }
    spark.createDataFrame(rows, rangeFetchSchema)
  }

  // ------------------------------------------------ revisit records
  // Cross-crawl DIGEST dedup at the container level — the Common
  // Crawl / Heritrix convention (WARC 1.1 §6.7.2): a recrawled page
  // whose payload digest matches a previous capture is stored as a
  // `revisit` record (profile `identical-payload-digest`) carrying
  // only the digest + a WARC-Refers-To pointer — the payload bytes
  // are written ONCE per distinct content across crawls. At 100 TB
  // and a mature crawl's ~60% unchanged-page rate this is the
  // dominant storage economy of the archive layer.

  /** Revisit profile URI written/expected by this module (WARC 1.1). */
  val RevisitProfile: String =
    "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"

  /** Stamp each current-crawl row with the previous capture it
    * duplicates, if any: a left join of `current` (which must carry
    * `digestCol`, e.g. `md5(text)` — compute it declaratively) against
    * the previous crawl's digest store `(digest, orig_url,
    * orig_date)`. Adds `revisit_of_url` / `revisit_of_date` (null =
    * new content → store the payload). The store must be
    * digest-unique (it IS a dedup index — enforce upstream with the
    * exact-dedup survivors); a duplicate digest here would fan rows
    * out. One digest-keyed hash join, both sides fact-sized — no
    * broadcast assumption, AQE handles skew. */
  def revisitSplit(
      current: DataFrame,
      prevDigests: DataFrame,
      digestCol: String = "payload_digest"): DataFrame = {
    val prev = prevDigests.select(
      prevDigests.col("digest").as("__d"),
      prevDigests.col("orig_url").as("revisit_of_url"),
      prevDigests.col("orig_date").as("revisit_of_date"))
    current.join(prev, current.col(digestCol) === prev.col("__d"), "left")
      .drop("__d")
  }

  /** Distributed crawl write with revisit dedup: rows with a null
    * `revisit_of_url` become full `response` records (a minimal
    * HTTP/1.1 200 message around the UTF-8 payload, digest header
    * included); rows pointing at a previous capture become empty-body
    * `revisit` records (profile/refers-to/digest headers only). Same
    * shard layout, member index, and commit protocol as
    * [[writeWetFiles]]. Null-text NEW rows are skipped (nothing to
    * store); null-text is the NORM for revisit rows. */
  def writeCrawlFiles(
      df: DataFrame,
      dir: String,
      urlCol: String = "url",
      dateCol: String = "warc_date",
      textCol: String = "text",
      digestCol: String = "payload_digest"): Unit =
    writeMemberFiles(
      df.select(
        df.col(urlCol).cast(StringType),
        df.col(dateCol).cast(StringType),
        df.col(textCol).cast(StringType),
        df.col(digestCol).cast(StringType),
        df.col("revisit_of_url").cast(StringType),
        df.col("revisit_of_date").cast(StringType)),
      dir) { r =>
      val url = r.getString(0)
      val date = r.getString(1)
      val digest = if (r.isNullAt(3)) "" else
        s"WARC-Payload-Digest: ${r.getString(3)}\r\n"
      if (!r.isNullAt(4)) {
        Some((url, frameRecord("revisit", date,
          s"WARC-Target-URI: $url\r\n" +
            digest +
            s"WARC-Profile: $RevisitProfile\r\n" +
            s"WARC-Refers-To-Target-URI: ${r.getString(4)}\r\n" +
            s"WARC-Refers-To-Date: ${r.getString(5)}\r\n",
          Array.emptyByteArray)))
      } else if (r.isNullAt(2)) None
      else {
        val payload = r.getString(2).getBytes(StandardCharsets.UTF_8)
        val http = (s"HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/plain; charset=utf-8\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n")
          .getBytes(StandardCharsets.ISO_8859_1) ++ payload
        Some((url, frameRecord("response", date,
          s"WARC-Target-URI: $url\r\n" +
            digest +
            "Content-Type: application/http;msgtype=response\r\n",
          http)))
      }
    }

  /** Materialize full content for a mixed response/revisit read
    * ([[readWarcFiles]] output): response/conversion rows keep their
    * own text; revisit rows look their payload up in the content
    * store `(digest, text)` — the previous crawl's corpus keyed by
    * digest. Adds `resolved` (false = the store is missing the
    * referenced digest: archive corruption the caller should count,
    * not a crash — one torn pointer must not kill the scan). One
    * digest-keyed hash join touching only the revisit rows. */
  def resolveRevisits(records: DataFrame, store: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val st = store.select(
      store.col("digest").as("__d"),
      store.col("text").as("__stored"))
    records.join(st,
        records.col("warc_type") === "revisit" &&
          records.col("payload_digest") === st.col("__d"),
        "left")
      .withColumn("resolved_text",
        when(col("warc_type") === "revisit", col("__stored"))
          .otherwise(col("text")))
      .withColumn("resolved",
        when(col("warc_type") === "revisit", col("__stored").isNotNull)
          .otherwise(lit(true)))
      .drop("__d", "__stored")
  }
}
