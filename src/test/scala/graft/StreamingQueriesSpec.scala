package graft

import org.apache.spark.sql.functions._
import graft.queries.StreamingQueries

/** End-to-end Structured Streaming driver queries: the readStream →
  * transform → memory-sink path must reproduce the batch semantics its
  * oracle encodes (bounded AvailableNow replay = batch result). */
class StreamingQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("stream_dedup_exact matches batch min-id-per-hash dedup") {
    val streamed = StreamingQueries.queries("stream_dedup_exact")(spark, sf)
      .collect().map(_.getLong(0))
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    assert(streamed.length == batch.length && batch.nonEmpty)
    assert(streamed.sameElements(batch))
    // memory-sink names are unique per invocation: a second run in the
    // same session (the Bench shape) must not collide or double-count
    val again = StreamingQueries.queries("stream_dedup_exact")(spark, sf)
      .collect().map(_.getLong(0))
    assert(again.sameElements(batch))
  }

  test("stream_window_counts matches batch tumbling-window counts") {
    val streamed = StreamingQueries.queries("stream_window_counts")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("us", graft.queries.Q.tsUs)
      .withColumn("win_start", col("us") - pmod(col("us"), lit(3600000000L)))
      .groupBy("win_start", "event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(batch.nonEmpty && streamed.sameElements(batch))
    // windows are epoch-aligned hours
    assert(streamed.forall(_._1 % 3600000000L == 0))
  }

  test("stream_c4_lines matches the batch C4 line+page stages") {
    val streamed = StreamingQueries.queries("stream_c4_lines")(spark, sf)
      .collect().map(_.toString)
    val batch = graft.llm.C4.pageVerdict(
        graft.llm.C4.cleanLines(
          spark.read.parquet(s"$sf/documents.parquet")
            .withColumn("text2", graft.queries.LlmQueries.c4Page),
          "text2", "doc_id"),
        "text_lines", "doc_id", badWords = Seq("zorblax"))
      .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
        col("n_sentences"), col("page_kept"),
        md5(col("text_lines")).as("lines_hash"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(streamed.length == batch.length && batch.nonEmpty)
    assert(streamed.sameElements(batch))
  }

  test("stream_rechunk matches the batch rechunk") {
    val streamed = StreamingQueries.queries("stream_rechunk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val batch = graft.queries.TraceQueries.queries("w4_rechunk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(batch.nonEmpty && streamed.sameElements(batch))
  }

  test("stream_sessionize ≡ batch session_window ≡ sessionize(gap-1)") {
    val streamed = StreamingQueries.queries("stream_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), graft.queries.Q.tsUs.as("us"))
    val batch = ev
      .groupBy(col("user_id"),
        session_window(timestamp_micros(col("us")), "12 hours"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.nonEmpty && streamed.sameElements(batch))
    // session_window's >= split ≡ classic gaps-and-islands > split
    // with gap-1 on integer timestamps
    val islands = graft.core.Temporal
      .sessionize(ev, Seq("user_id"), "us", gap = 12L * 3600000000L - 1)
      .groupBy("user_id", "session_id")
      .agg(min("us").as("start_us"), count(lit(1)).as("n_events"))
      .select("user_id", "start_us", "n_events")
      .orderBy("user_id", "start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(islands.sameElements(streamed))
  }

  test("asofJoinBroadcast enriches a stream against a static dimension") {
    // stream-static as-of: the broadcast strategy is map-only, so it
    // lifts to Structured Streaming unchanged — the canonical "enrich
    // facts with latest calibration row" shape
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val leftStream = spark.readStream.schema(schema)
      .parquet(s"$sf/events.parque[t]")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        graft.queries.Q.tsUs.as("us"))
    val dim = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), graft.queries.Q.tsUs.as("us"))
      .groupBy("user_id", "us").agg(min(col("event_id")).as("click_id"))
    val enriched = graft.core.Temporal.asofJoinBroadcast(
      leftStream, dim, Seq("user_id"), "us", "us", Seq("click_id"))
    val qname = s"asof_stream_${System.nanoTime()}"
    val q = enriched.writeStream.format("memory").queryName(qname)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(qname)
      .select("event_id", "r_click_id").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val batchLeft = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        graft.queries.Q.tsUs.as("us"))
    val batch = graft.core.Temporal.asofJoin(
      batchLeft, dim, Seq("user_id"), "us", "us", Seq("click_id"))
      .select("event_id", "r_click_id").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(batch.nonEmpty && streamed.sameElements(batch))
  }

  test("stream_rate_monitor: every event lands in exactly two sliding windows") {
    val streamed = StreamingQueries.queries("stream_rate_monitor")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    assert(streamed.map(_._3).sum == 2 * nEvents)
    assert(streamed.forall { case (ws, inr, tot) =>
      ws % 3600000000L == 0 && inr <= tot })
  }
}
