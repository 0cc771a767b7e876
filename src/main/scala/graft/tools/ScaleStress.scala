package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity, TextAnalysis}

/** Scaling stress (dev tool): replicates the sf0.1 documents/embeddings
  * tables N× (ids shifted so replicas are distinct rows but text is
  * repeated → heavy near-dup load), writes real parquet, and times the
  * dedup/similarity pipelines at 1×/4×/16× (headline pipelines also at
  * 64× — two full decades of growth curve, VERDICT r05 §10). The point
  * is the GROWTH CURVE, not the absolute numbers: a pipeline whose time
  * scales sublinearly in rows at small SF is fixed-overhead-bound (fine
  * — that overhead amortizes on a cluster); one that scales
  * super-linearly has a quadratic term that would detonate at 100 TB.
  * Results recorded in SCALE.md.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional label filter (comma-separated substrings): run only
    // matching timings — dev aid so one new operator's decade doesn't
    // re-run the suite
    val only: Option[String] = args.lift(1)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(label: String)(f: => Long): Unit =
      if (only.forall(_.split(",").exists(label.contains))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }

    // Force FULL evaluation of every column: a bare .agg(sum(x)).count()
    // lets Catalyst prune the measured expressions under the outer count
    // — the "flat" curve then times a column-pruned scan, not the
    // operator (ADVICE r05). xxhash64 over a struct of all columns makes
    // every column load-bearing, and head() (not a trailing count) reads
    // the aggregate row itself. Returns the row count, computed in the
    // SAME job.
    // pmod keeps the checksum addends < 1e9 so the ANSI-mode long sum
    // cannot overflow at any realistic row count
    def force(df: DataFrame): Long =
      df.agg(
        sum(pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)),
          lit(1000000007L))).as("f"),
        count(lit(1)).as("n")).head().getLong(1)

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val nBase = base.count()

    // headline pipelines get the second decade (64×); the rest stop at
    // 16× to keep the tool's runtime bounded
    Seq(1, 4, 16, 64).foreach { mult =>
      val path = s"target/scale_stress/docs_x$mult"
      // distinct ids per replica; text repeats → every replica group is a
      // 100%-similar near-dup cluster on top of the organic ones
      (0 until mult).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(path)
      val d = spark.read.parquet(path)
      println(s"\n--- x$mult (${nBase * mult} docs) ---")
      time(s"minhash near-dup dedup x$mult") {
        val (surv, release) =
          Dedup.dedupNearMinhashReleasable(d, "text", "doc_id", 0.8)
        val n = surv.count()
        release()
        n
      }
      spark.catalog.clearCache()
      time(s"pack sequences x$mult") {
        val (p, rel) = graft.llm.Packing
          .packSequencesReleasable(d, "text", "doc_id", 2048)
        val n = force(p); rel(); n
      }
      time(s"grouped topk x$mult")(
        force(d.groupBy("source")
          .agg(graft.functions.TopKByScore(col("n_chars"), col("doc_id"), 5)
            .as("t"))))
      spark.catalog.clearCache()
      // line dedup under replication is the WORST case: every replica
      // line is corpus-boilerplate, so the removal join's build side is
      // at its largest relative to the corpus
      time(s"line dedup x$mult") {
        val structured = d.withColumn("text2", concat(
          lit("promo header "), pmod(col("doc_id"), lit(3)).cast("string"),
          lit("\n"), regexp_replace(col("text"), " the ", "\n"),
          lit("\nshared footer line")))
        force(Dedup.dedupLines(structured, "text2", "doc_id", 3, 5))
      }
      time(s"classifier score x$mult") {
        val w = spark.range(0, 1024).select(col("id").as("bucket"),
          (col("id") * 2654435761L % 2001L - 1000L).as("weight_milli"))
        force(graft.llm.Classify.scoreHashedLinear(
          d, "text", "doc_id", w, 1024, -50L))
      }
      // DSIR: two nBuckets-bounded distribution aggs + broadcast-join
      // scoring; replication multiplies the gram stream linearly but
      // the exchange stays 4096-bounded — expect ~linear in tokens
      time(s"dsir weights x$mult") {
        val target = d.filter(col("source") === "src0")
        val pool = d.filter(col("source") =!= "src0")
        force(graft.llm.Dsir.weigh(pool, target, "text", "doc_id", 4096))
      }
      // fetch schedule: one shuffle by host; replication multiplies
      // every host's serial chain length ×mult (17 hosts regardless)
      // — the worst case for the per-host window. Expect linear.
      time(s"fetch schedule x$mult") {
        val urls = d.select(col("doc_id"),
          concat(lit("https://d"), pmod(col("doc_id"), lit(17)).cast("string"),
            lit(".example.org/p/"), col("doc_id").cast("string")).as("url"))
        val dirs = (0 until 17).map(i => (s"d$i.example.org",
          if (i % 2 == 0) Some(2.0) else None)).toSeq
        val dirsDf = spark.createDataFrame(dirs).toDF("host", "crawl_delay")
        force(graft.sources.Robots.fetchSchedule(urls, dirsDf))
      }
      // PageRank: 5 iterations = 5 shuffles over 3·N edges; the curve
      // should be linear in edges (contribution sums are
      // map-side-combined, keyed by dst)
      time(s"pagerank x$mult") {
        val nodes = d.select(col("doc_id").as("v"))
        val nn = nodes.count()
        def dsts(mul: Long, add: Long) = d.select(
          col("doc_id").as("src"),
          pmod(col("doc_id") * mul + add, lit(nn)).as("dst"))
        force(graft.core.Graph.pageRank(
          dsts(7, 1).unionByName(dsts(11, 3)).unionByName(dsts(13, 5)),
          nodes, iters = 5))
      }
      // HITS: 3 rounds × (2 edge shuffles + 2 single-row totals) —
      // like PageRank the curve should be linear in edges; the
      // per-round scalar totals are fixed cost
      time(s"hits x$mult") {
        val nodes = d.select(col("doc_id").as("v"))
        val nn = nodes.count()
        def dsts(mul: Long, add: Long) = d.select(
          col("doc_id").as("src"),
          pmod(col("doc_id") * mul + add, lit(nn)).as("dst"))
        force(graft.core.Graph.hits(
          dsts(7, 1).unionByName(dsts(11, 3)).unionByName(dsts(13, 5)),
          nodes, iters = 3))
      }
      // boilerplate removal: map-only scalar kernel — the curve must
      // be linear in page bytes with no exchange at all
      time(s"html main x$mult") {
        val page = concat(
          lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav><p>"),
          col("text"),
          lit("</p><div><a href=/r1>one</a> <a href=/r2>two</a> " +
            "<a href=/r3>three</a> x</div><footer>(c) 2026</footer>"))
        force(d.filter(col("text").isNotNull).select(col("doc_id"),
          graft.functions.HtmlMainText(page).as("t")))
      }
      // heavy hitters: the sketch pass dominates (tokenize-in-aggregate,
      // no explode); replication multiplies token volume but NOT distinct
      // terms, so the candidate set and recount width stay constant —
      // the curve should be ~linear in tokens with a flat constant
      time(s"heavy hitters x$mult")(
        TextAnalysis.heavyHitterTerms(d, col("text"), 10, 256).count())
      // vocab sketch: one-pass mergeable HLL++ (the 100 TB path alone —
      // the exact-distinct mirror is gated at sf0.01, not stressed)
      time(s"vocab sketch x$mult")(
        force(d.filter(col("text").isNotNull)
          .select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy("source")
          .agg(approx_count_distinct("term", 0.05).as("est"))))
      spark.catalog.clearCache()
      if (mult <= 16) {
        time(s"exact dedup x$mult")(
          Dedup.exactDedup(d, "text", "doc_id").count())
        time(s"simhash candidates x$mult")(
          Dedup.simhashCandidates(
            Dedup.simhash(d, "text", "doc_id"), "doc_id", 3).count())
        time(s"langid x$mult")(
          d.select(TextAnalysis.langId(col("text")).as("p"))
            .groupBy("p").count().count())
        spark.catalog.clearCache()
        time(s"decontaminate x$mult")(
          Dedup.decontaminate(
            d.filter(col("source") =!= "src0"),
            d.filter(col("source") === "src0"), "text", "doc_id").count())
        time(s"gopher metrics x$mult")(
          force(TextAnalysis.gopherMetrics(d, col("text"))))
        time(s"pii redact x$mult")(
          force(d.select(
            md5(TextAnalysis.redactPii(col("text"))).as("h"))))
        time(s"bigram familiarity x$mult")(
          force(TextAnalysis.bigramFamiliarity(d, "text", "doc_id")))
        spark.catalog.clearCache()
        time(s"bm25 score x$mult")(
          force(graft.llm.Rank.bm25(d, "text", "doc_id",
            Seq("dup", "key", "batch"))))
        // 100-term probe: per-doc cost must stay ~flat vs the 3-term
        // probe now that TermCounts builds all frequencies in one pass
        time(s"bm25 100-term x$mult")(
          force(graft.llm.Rank.bm25(d, "text", "doc_id",
            Seq("dup", "key", "batch") ++ (1 to 97).map(i => s"probe$i"))))
        time(s"curation funnel x$mult")(
          force(graft.llm.Curate.funnel(d, Seq(
            "tok" -> TextAnalysis.tokenCount(col("text")).between(30L, 80L),
            "alpha" -> (length(regexp_replace(col("text"), "[^\\p{L}]", ""))
              .cast("double") / length(col("text")) > 0.818)))))
        time(s"chunk overlap x$mult")(
          force(graft.llm.Chunk.chunkTokens(d, "text", "doc_id", 32, 8)))
        spark.catalog.clearCache()
        // sitemap parse: dimension rows explode into a fact-sized
        // frontier; replication multiplies each host's BODY length
        // ×mult (the 50k-URL protocol-cap worst case — one giant
        // regexp_extract_all per host row). Expect linear in total
        // entry count; the exchange is the 17-host groupBy only
        time(s"sitemap parse x$mult") {
          val bodies = d.select(pmod(col("doc_id"), lit(17)).as("h"),
            struct(col("doc_id"),
              concat(lit("<url><loc>https://d"),
                pmod(col("doc_id"), lit(17)).cast("string"),
                lit(".example.org/p/"), col("doc_id").cast("string"),
                lit("</loc><lastmod>2026-01-01</lastmod></url>")).as("e"))
              .as("se"))
            .groupBy("h")
            .agg(array_join(
              transform(array_sort(collect_list(col("se"))), x => x("e")),
              "").as("body"))
            .select(col("h"),
              concat(lit("<urlset>"), col("body"), lit("</urlset>"))
                .as("sitemap_xml"))
          force(graft.sources.Sitemap.parseSitemaps(bodies))
        }
        // CDX range fetch vs full scan: the selective-read economics
        // the per-record-gzip layout exists for — fetch 1% of records
        // by (offset, length) vs scanning every shard. The fetch time
        // should track the SELECTED volume (flat across decades at a
        // fixed selection count), while the full scan tracks the
        // ARCHIVE volume (linear in mult)
        time(s"cdx shard write x$mult") {
          val outDir = s"target/scale_stress/cdxf_x$mult"
          val f = new java.io.File(outDir)
          if (f.exists()) f.listFiles().foreach(_.delete())
          graft.sources.Warc.writeWetFiles(
            d.filter(col("text").isNotNull).select(
              concat(lit("https://ex.org/"), col("doc_id").cast("string"))
                .as("url"),
              lit("2026-01-01T00:00:00Z").as("warc_date"),
              col("text")).repartition(32),
            outDir)
          mult // rows proxy: the write is side-effecting
        }
        time(s"cdx fetch 1pct x$mult") {
          val outDir = s"target/scale_stress/cdxf_x$mult"
          val plan = graft.sources.Warc.readMemberIndex(spark, outDir)
            .filter(pmod(regexp_extract(col("url"), "/(\\d+)$", 1)
              .cast("long"), lit(100)) === 0)
          force(graft.sources.Warc.fetchRecordRanges(spark, plan, outDir))
        }
        time(s"warc full scan x$mult") {
          val outDir = s"target/scale_stress/cdxf_x$mult"
          val files = new java.io.File(outDir).listFiles()
            .map(_.getPath).filter(_.endsWith(".warc.gz")).toSeq
          force(graft.sources.Warc.readWarcFiles(spark, files))
        }
        // WAT roundtrip: file-per-partition write (per-record gzip
        // members) + file-per-task read — IO-bound, expect linear in
        // bytes with the fixed per-file cost amortizing as files fill
        time(s"wat roundtrip x$mult") {
          val outDir = s"target/scale_stress/wat_x$mult"
          val f = new java.io.File(outDir)
          if (f.exists()) f.listFiles().foreach(_.delete())
          val wat = d.select(
            concat(lit("https://ex.org/"), col("doc_id").cast("string"))
              .as("url"),
            lit("2026-01-01T00:00:00Z").as("warc_date"),
            to_json(struct(col("doc_id"),
              length(col("text")).as("n"))).as("wat_json"))
            .repartition(32)
          graft.sources.Warc.writeWatFiles(wat, outDir)
          val files = new java.io.File(outDir).listFiles()
            .map(_.getPath).filter(_.endsWith(".warc.gz")).toSeq
          force(graft.sources.Warc.readWatFiles(spark, files))
        }
        // tar shards (r12): write one ustar shard per partition, read
        // back file-per-task — linear in member bytes, IO-bound like
        // the WET/WAT paths (no compression work at all)
        time(s"tar roundtrip x$mult") {
          val outDir = s"target/scale_stress/tar_x$mult"
          val f = new java.io.File(outDir)
          if (f.exists()) f.listFiles().foreach(_.delete())
          val docs = d.select(
            concat(lit("doc-"), col("doc_id").cast("string")).as("key"),
            col("text"),
            to_json(struct(col("doc_id"))).as("json"))
            .repartition(32)
          graft.sources.Tar.writeTarShards(docs, outDir)
          val files = new java.io.File(outDir).listFiles()
            .map(_.getPath).filter(_.endsWith(".tar")).toSeq
          force(graft.sources.Tar.readTarShards(spark, files)
            .select(col("key"), col("ext"), col("n_bytes")))
        }
        // z-order write (r12): ONE range exchange + in-file sort; the
        // curve should be ~n log n in rows (the range sort), with the
        // declarative bit-interleave itself map-only
        time(s"zorder write x$mult") {
          val outDir = s"target/scale_stress/zorder_x$mult"
          def rmrf(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rmrf)
            f.delete(); ()
          }
          rmrf(new java.io.File(outDir))
          graft.core.Layout.zorderWrite(
            d.select(col("doc_id"),
              pmod(col("doc_id") * 37, lit(65536)).as("x"),
              pmod(col("doc_id") * 91, lit(65536)).as("y")),
            Seq("x", "y"), outDir, nFiles = 32)
          force(spark.read.parquet(outDir)
            .select(col("doc_id"), col("z_value")))
        }
        // Hilbert write (r15): the same one-range-exchange shape as the
        // z-order write with the per-row bit-plane fold on top — the
        // fold is a map-only codegen'd expression, so the curve must
        // track the zorder write row above it
        time(s"hilbert write x$mult") {
          val outDir = s"target/scale_stress/hilbert_x$mult"
          def rmrf(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rmrf)
            f.delete(); ()
          }
          rmrf(new java.io.File(outDir))
          graft.core.Layout.hilbertWrite(
            d.select(col("doc_id"),
              pmod(col("doc_id") * 37, lit(65536)).as("x"),
              pmod(col("doc_id") * 91, lit(65536)).as("y")),
            "x", "y", outDir, nFiles = 32)
          force(spark.read.parquet(outDir)
            .select(col("doc_id"), col("h_value")))
        }
        // z-order OPTIMIZE (r13): worst case — an append overlapping
        // EVERYTHING, so optimize rewrites the whole table (steady
        // state rewrites only the overlap; LayoutSpec's sentinel pins
        // the skip). Expect the write curve again: one range exchange
        // per overlap group over the group's rows.
        time(s"zorder optimize x$mult") {
          val outDir = s"target/scale_stress/zopt_x$mult"
          def rmrf(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rmrf)
            f.delete(); ()
          }
          rmrf(new java.io.File(outDir))
          val pts = d.select(col("doc_id"),
            pmod(col("doc_id") * 37, lit(65536)).as("x"),
            pmod(col("doc_id") * 91, lit(65536)).as("y"))
          graft.core.Layout.zorderWrite(
            pts.filter(pmod(col("doc_id"), lit(2)) === 0),
            Seq("x", "y"), outDir, nFiles = 16)
          graft.core.Layout.zorderAppend(
            pts.filter(pmod(col("doc_id"), lit(2)) === 1),
            Seq("x", "y"), outDir, nFiles = 16)
          graft.core.Layout.zorderOptimize(spark, outDir).toLong
        }
        // no-split NFD bin packing (r13; copy index de-skewed r14):
        // one histogram aggregate + GlobalOrder copy index + broadcast
        // segment join — expect linear in docs (the histogram stays
        // length-bounded)
        time(s"pack ffd x$mult")(
          force(graft.llm.Packing.packBinsDecreasing(
            d, "text", "doc_id", 2048)))
        // length-DEGENERATE packing (r14, VERDICT r13 task 1): 90% of
        // docs share ONE length — the modal exactly-ctxLen class a
        // chunked corpus produces. The old per-length row_number
        // funneled that class through a single task; the GlobalOrder
        // copy index range-partitions on (n_tokens, id), so the curve
        // must stay ~linear here too
        time(s"pack ffd degenerate x$mult") {
          val fixed = d.select(col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) < 9,
              lit((1 to 128).map(i => s"w$i").mkString(" ")))
              .otherwise(substring(col("text"), 1, 64)).as("text2"))
          force(graft.llm.Packing.packBinsDecreasing(
            fixed, "text2", "doc_id", 2048))
        }
        // paragraph-grain CCNet (r13): the LM chain over ~#paras rows
        // (explode is map-only, model joins broadcast, reassembly one
        // groupBy-doc) — expect the llm_lm_perplexity curve scaled by
        // paragraphs-per-doc
        time(s"ccnet paragraphs x$mult") {
          val structured = d.select(col("doc_id"), concat(
            lit("promo header "), pmod(col("doc_id"), lit(3)).cast("string"),
            lit("\n"), regexp_replace(col("text"), " the ", "\n"))
            .as("text2"))
          force(graft.llm.LanguageModel.ccnetParagraphs(
            structured, "text2", "doc_id"))
        }
        // shuffle-model LM scoring (r13): the broadcast path's twin
        // with both model joins shuffle-hash — the Zipf head becomes
        // a skew-join surface (AQE territory); measured against the
        // broadcast row above it in SCALE.md
        time(s"lm shuffle x$mult")(
          force(graft.llm.LanguageModel.bigramPerplexity(
            d, "text", "doc_id", broadcastModel = false)))
        // C4 clean (r13): line/page grains are map-only; span dedup is
        // one span-key shuffle + a fact-sized removal join. Replication
        // is the WORST case: every prose span becomes a corpus-wide
        // duplicate, so non-keeper replicas remove nearly all their
        // sentences — expect linear with a replica-heavy constant
        time(s"c4 clean x$mult") {
          val structured = d.select(col("doc_id"), concat(
            lit("header line without terminal marker\n"),
            expr("replace(coalesce(text, ''), ' the ', '. ')"),
            lit(".\n"),
            lit("the closing line ends with a word mark.")).as("text2"))
          force(graft.llm.C4.clean(structured, "text2", "doc_id"))
        }
        // inverted-index batch retrieval (r13): index build = token
        // explode + (term,doc) aggregate; 8 queries ride the same
        // fact-sized fold shuffle — expect linear in corpus tokens and
        // ~flat in query count
        time(s"retrieval topk x$mult") {
          val qs = spark.range(0, 8).select(col("id").as("query_id"),
            array(lit("key"), lit("batch"), lit("window")).as("terms"))
          force(graft.llm.Rank.retrieveTopK(d, "text", "doc_id",
            qs, "query_id", "terms", k = 10))
        }
        // corpus-version token drift (r13): two vocab aggregates + a
        // vocab-sized outer join + top-k over vocab only — replication
        // multiplies token counts, not vocab, so expect ~flat
        time(s"token drift x$mult")(
          force(graft.llm.Drift.tokenDrift(
            d.filter(pmod(col("doc_id"), lit(2)) === 0),
            d.filter(pmod(col("doc_id"), lit(2)) === 1),
            "text", 25)))
        // unigram-LM tokenizer (r14): training runs over the
        // DISTINCT-word table — replication multiplies word
        // frequencies, not distinct words, so the learn curve must be
        // ~FLAT across the decade; encode is a map-only codegen'd
        // kernel with a per-thread word memo — linear in docs with a
        // Zipf-flat constant
        var uniVocab: graft.functions.UnigramVocab = null
        time(s"unigram learn x$mult") {
          uniVocab = graft.llm.Unigram.learn(d, "text")
          uniVocab.pieces.length.toLong
        }
        time(s"unigram encode x$mult")(
          force(d.select(col("doc_id"),
            size(graft.llm.Unigram.encode(col("text"), uniVocab))
              .as("n_tokens"))))
        // length-curriculum batching (r15): one narrow range exchange
        // (GlobalOrder) + a bucket-bounded offset aggregate — linear in
        // rows; replication is also the BUCKET-DEGENERATE worst case
        // (replica texts share lengths, so a few buckets hold ~all
        // rows — the shape that melts a per-bucket window)
        time(s"length curriculum x$mult") {
          val (out, rel) = graft.llm.Packing
            .lengthCurriculumBatchesReleasable(d, "text", "doc_id", 2048)
          val n = force(out); rel(); n
        }
        // count-min sketch (r15): the matrix IS the aggregate state —
        // the exchange carries one depth×width matrix per partition
        // regardless of rows, so the curve must be ~linear in tokens
        // with a constant-size shuffle
        time(s"cms sketch x$mult")(
          force(d.agg(graft.functions.CountMinTerms(col("text"), 2048, 4)
            .as("sk"))))
        // wordpiece (r15): training is the unigram story — two bounded
        // aggregates per round over the distinct-word table, so the
        // learn curve must be ~FLAT under replication; encode is the
        // greedy map-only kernel with the same per-thread word memo
        var wpVocab: graft.functions.WordPieceVocab = null
        time(s"wordpiece learn x$mult") {
          wpVocab = graft.llm.WordPiece.vocabFromMerges(
            graft.llm.WordPiece.learnMerges(d, "text", nMerges = 4))
          wpVocab.pieces.length.toLong
        }
        time(s"wordpiece encode x$mult")(
          force(d.select(col("doc_id"),
            size(graft.llm.WordPiece.encode(col("text"), wpVocab))
              .as("n_tokens"))))
        time(s"tokenizer fertility x$mult") {
          // self-sufficient under the label filter: train whatever the
          // filtered-out learn rows above did not
          if (uniVocab == null) uniVocab = graft.llm.Unigram.learn(d, "text")
          if (wpVocab == null) wpVocab = graft.llm.WordPiece.vocabFromMerges(
            graft.llm.WordPiece.learnMerges(d, "text", nMerges = 4))
          force(graft.llm.TokenizerEval.fertility(d, "text", "source",
            Seq("bpe" -> (c => graft.llm.Bpe.count(c)),
              "unigram" -> ((c: org.apache.spark.sql.Column) =>
                graft.llm.Unigram.count(c, uniVocab)),
              "wordpiece" -> ((c: org.apache.spark.sql.Column) =>
                graft.llm.WordPiece.count(c, wpVocab)))))
        }
        // Gopher repetition rule set (r13): map-only single-pass
        // kernel (the explode formulation it replaced benched
        // 10.8/18.0/77.8 s over this decade)
        time(s"gopher repetition x$mult") {
          val structured = d.select(col("doc_id"), concat(
            regexp_replace(col("text"), " the ", "\n"),
            lit("\nboiler line alpha one\nboiler line alpha one"))
            .as("text3"))
          force(graft.llm.Repetition.gopherRepetitionVerdict(
            structured, "text3", "doc_id"))
        }
        spark.catalog.clearCache()
        // suffix-ranking ExactSubstr (r15): the replicated corpus is
        // the worst case — every window is duplicated, so every
        // doubling round's class join carries the full token stream
        // and the removal cuts ~everything. Same k as the gram-hash
        // `span removal` row above it in SCALE.md: the two mechanisms'
        // curves are directly comparable
        time(s"suffix dedup x$mult") {
          val (rm, rel) = graft.llm.SuffixDedup
            .dedupExactSubstringsReleasable(d, "text", "doc_id", 8)
          val n = force(rm); rel(); n
        }
        spark.catalog.clearCache()
      }
      // round-6 operators promoted to the second decade (VERDICT r06
      // §7): dup spans / span removal / token budget run at 64× too.
      // Worst case under replication: EVERY gram is hot, the dup table
      // equals the full gram table
      time(s"dup spans x$mult") {
        val (sp, rel) = graft.llm.Spans.duplicatedSpansReleasable(
          d, "text", "doc_id", 8)
        val n = force(sp); rel(); n
      }
      time(s"span removal x$mult") {
        val (rm, rel) = graft.llm.Spans.removeDuplicatedSpansReleasable(
          d, "text", "doc_id", 8)
        val n = force(rm); rel(); n
      }
      // budget scales WITH the corpus (25% of tokens) so the curve
      // shape is comparable across multipliers
      time(s"token budget x$mult") {
        val (sel, rel) = graft.llm.Select.takeTokenBudgetReleasable(
          d, "text", "doc_id", col("n_chars").cast("double"),
          budget = 68000L * mult)
        val n = force(sel.select("doc_id", "n_tokens", "tokens_before"))
        rel(); n
      }
      // r10: bigram-LM perplexity — replication multiplies the bigram
      // stream but NOT the vocabulary, so the model (and its broadcast)
      // stays constant-size while scoring scales with rows. This is the
      // LM worst case for a bigram-partitioned shuffle (every replica
      // shares every bigram — maximally hot keys); the broadcast-join
      // design must keep the curve ~linear
      time(s"lm perplexity x$mult")(
        force(graft.llm.LanguageModel.bigramPerplexity(d, "text", "doc_id")))
      // r10: trigram backoff — 3 count tables + 5 broadcast joins into
      // the scoring scan; same replication worst case (every bigram/
      // trigram maximally hot), must stay ~linear like the bigram path
      time(s"lm backoff x$mult")(
        force(graft.llm.LanguageModel.stupidBackoff(
          d.filter(pmod(col("doc_id"), lit(4)) === 0),
          d.filter(pmod(col("doc_id"), lit(4)) =!= 0), "text", "doc_id")))
      time(s"lm kneser-ney x$mult")(
        force(graft.llm.LanguageModel.kneserNeyPerplexity(
          d, "text", "doc_id")))
      // r10: incremental dedup — the replicated corpus IS the index
      // (every band bucket holds all replicas of its text → the
      // bipartite caps' worst case), checked by a constant-size batch
      time(s"incremental dedup x$mult") {
        val ipath = s"target/scale_stress/mh_index_x$mult"
        graft.llm.Dedup.writeMinhashIndex(d, "text", "doc_id", ipath)
        val (p, rel) = graft.llm.Dedup.nearDupsAgainstIndexReleasable(
          base.limit(500), "text", "doc_id",
          spark.read.parquet(ipath), jaccardThreshold = 0.8)
        val n = force(p); rel(); n
      }
      // r10: shard-shuffle — one hash-balanced window; shards stay
      // balanced under replication, so the curve is the per-shard sort
      time(s"shard shuffle x$mult")(
        force(graft.llm.Mixing.shardShuffle(d.select("doc_id"), "doc_id", 64)))
      spark.catalog.clearCache()
    }

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nEmb = emb.count()
    Seq(1, 4, 16, 64).foreach { mult =>
      val path = s"target/scale_stress/emb_x$mult"
      (0 until mult).map(i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(path)
      val e = spark.read.parquet(path)
      println(s"\n--- emb x$mult (${nEmb * mult} vectors) ---")
      val q = e.orderBy("vec_id").select("embedding").head()
        .getSeq[Float](0).toArray
      time(s"ann lsh topk x$mult")(
        force(Similarity.annTopK(e, "embedding", "vec_id", q, 5, nPlanes = 8)))
      // PCA fit pass: the d² Gram flatten dominates (64·64 longs/row);
      // the exchange is ONE 4096-vector per partition at any scale.
      // scale = 1000 keeps the exact-integer numerator inside 2^53 at
      // the 128k-row decade (the documented shrink-`scale` escape
      // hatch — at the default 1e4 the r09 overflow guard fires, BY
      // DESIGN, once n·G crosses the double-exact bound)
      time(s"pca covariance x$mult") {
        val c = Similarity.pcaCovariance(e, "embedding", 64, scale = 1000L)
        c.count()
      }
      if (mult <= 16) {
        time(s"emb near-dup x$mult")(
          Dedup.embeddingNearDups(e, "embedding", "vec_id",
            planes = 10, minCosine = 0.99).count())
        time(s"int8 quantization x$mult")(
          force(graft.llm.Quantize.quantizationReport(e, "embedding", "vec_id")))
      }
      // k scales WITH the corpus (constant mean cluster size — the
      // prescription in Dedup.semanticNearDups' scaladoc), so the
      // cluster-local quadratic verify stays bounded per cluster;
      // promoted to 64× (VERDICT r06 §7)
      time(s"semantic dedup x$mult") {
        val cents = Similarity.ivfCentroidsLloyd(
          e, "embedding", "vec_id", k = 8 * mult, iters = 1)
        Dedup.dedupSemantic(e, "embedding", "vec_id", cents, 0.35).count()
      }
      spark.catalog.clearCache()
    }

    // r15: RRF fusion in isolation — the upstream ranked lists are
    // timed above (retrieval topk, ann lsh); fusion itself must scale
    // linearly in QUERY COUNT (every stage is candidate-sized: union,
    // (query, doc) aggregate, k-bounded top-k, join-back). Synthetic
    // lists keep the decade about the fuse, not the retrievers.
    println("\n--- rrf fuse (query-count decade) ---")
    Seq(1, 4, 16).foreach { mult =>
      val nq = 20000L * mult
      time(s"rrf fuse x$mult") {
        def ranked(salt: Int) = spark.range(0, nq * 10).select(
          (col("id") / 10).cast("long").as("query_id"),
          pmod(col("id"), lit(10L)).as("rank"),
          pmod(col("id") * (37 + salt), lit(5000L)).as("doc_id"))
          // per-list-unique (query, doc): synthetic collisions dropped
          .dropDuplicates("query_id", "doc_id")
        force(graft.llm.Rank.rrfFuse(Seq(ranked(0), ranked(4)), k = 10))
      }
      spark.catalog.clearCache()
    }

    // r15: connected components over a CHAIN-shaped pair graph — the
    // diameter worst case (content-drift chains A≈B≈C≈…) that defeated
    // the old min-label propagation, whose round count IS the diameter.
    // Alternating star contraction must hold the ROUND COUNT ~log(n):
    // 16× more chain while rounds grow by at most a few — and wall time
    // stays quasi-linear (rounds × edge volume)
    println("\n--- chain components (diameter worst case) ---")
    Seq(1, 4, 16).foreach { mult =>
      val n = 16384L * mult
      time(s"chain components x$mult") {
        val edges = spark.range(0, n - 1)
          .select(col("id").as("ida"), (col("id") + 1).as("idb"))
        val (labels, rounds) = Dedup.starContractComponents(edges)
        // one component rooted at 0 — a wrong label count here means the
        // contraction stopped early
        val comps = labels.select("component").distinct().count()
        val cnt = labels.count()
        labels.unpersist()
        println(s"  chain x$mult: n=$n rounds=$rounds components=$comps")
        cnt
      }
      spark.catalog.clearCache()
    }

    // r16: star contraction at ADVERSARIAL shapes beyond the chain —
    // (a) star-of-chains: one hub fanning into 64 chains (hub degree +
    // depth at once); (b) two mega-components: two hubs holding ~all
    // edges between them — the groupBy(min)-hot-key skew case the
    // map-side combine must absorb (VERDICT r15 "Next round" 7).
    println("\n--- star contraction adversarial shapes (r16) ---")
    Seq(1, 4, 16).foreach { mult =>
      val clen = 256L * mult
      val chains = 64L
      time(s"star-of-chains components x$mult") {
        // chain c occupies nodes [c·clen+1, (c+1)·clen]; node 0 is the
        // hub wired to every chain head → ONE component of 64·clen+1
        val intra = spark.range(0, chains * clen)
          .filter(pmod(col("id"), lit(clen)) =!= lit(clen - 1))
          .select((col("id") + 1).as("ida"), (col("id") + 2).as("idb"))
        val hub = spark.range(0, chains)
          .select(lit(0L).as("ida"), (col("id") * clen + 1).as("idb"))
        val (labels, rounds) =
          Dedup.starContractComponents(intra.unionByName(hub))
        val comps = labels.select("component").distinct().count()
        val cnt = labels.count()
        labels.unpersist()
        println(s"  star-of-chains x$mult: n=${chains * clen + 1} " +
          s"rounds=$rounds components=$comps")
        cnt
      }
      time(s"two-mega-components x$mult") {
        // two hub stars, each with half the nodes as direct leaves —
        // maximal min-key skew: every edge of a component lands on one
        // grouping key in the first rounds
        val half = 16384L * mult
        val s1 = spark.range(1, half + 1)
          .select(lit(0L).as("ida"), col("id").as("idb"))
        val s2 = spark.range(1, half + 1)
          .select(lit(half + 1).as("ida"), (col("id") + half + 1).as("idb"))
        val (labels, rounds) =
          Dedup.starContractComponents(s1.unionByName(s2))
        val comps = labels.select("component").distinct().count()
        val cnt = labels.count()
        labels.unpersist()
        println(s"  two-mega x$mult: n=${2 * half + 2} rounds=$rounds " +
          s"components=$comps")
        cnt
      }
      spark.catalog.clearCache()
    }

    // r16: batched merge training at a production-shaped vocabulary —
    // 1024 merges through the driver path (one histogram aggregate +
    // one collect + the in-memory loop). The measured quantity is the
    // SCHEDULED JOB COUNT next to the wall: the distributed loop costs
    // 2 jobs per merge (2048+ here), the batched path a handful total
    // regardless of nMerges (VERDICT r15 "Next round" 1).
    println("\n--- batched tokenizer training (1024 merges) ---")
    val sc = spark.sparkContext
    def jobCounted(group: String)(f: => Long): Long = {
      sc.setJobGroup(group, group)
      val n = f
      sc.clearJobGroup()
      println(s"  $group: result=$n spark_jobs=" +
        s"${sc.statusTracker.getJobIdsForGroup(group).length}")
      n
    }
    // the fixture corpus's vocabulary exhausts after ~90 merges, so a
    // production-depth loop needs a WORDY synthetic corpus: 20 distinct
    // 8-hex words per doc (~100k distinct words over a 16-char
    // alphabet) keeps >1024 merges eligible at minPairCount = 1
    val wordy = base.select(col("doc_id"), concat_ws(" ",
      (0 until 20).map(i => substring(
        md5(concat(col("doc_id").cast("string"), lit(s"_$i"))),
        1, 8)): _*).as("text"))
    time(s"bpe learn 1024 merges") {
      jobCounted("bpe1024")(
        graft.llm.Bpe.learnMerges(wordy, "text", 1024, minPairCount = 1L)
          .length.toLong)
    }
    time(s"wordpiece learn 1024 merges") {
      jobCounted("wp1024")(
        graft.llm.WordPiece.learnMerges(wordy, "text", 1024,
          minPairCount = 1L).length.toLong)
    }
    spark.stop()
  }
}
