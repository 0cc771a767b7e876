package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.SessionHygiene.releaseCheckpoint

/** Deduplication operators, designed for the 100 TB regime: every variant
  * is bucketed — candidate pairs come from hash buckets (exact hash,
  * MinHash LSH bands, SimHash bands), NEVER from an all-pairs cross join.
  * Verification (exact Jaccard) runs only within candidate pairs.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: content-hash groups. `keep` = min(idCol) per group —
    * the canonical survivor. One shuffle on the hash. */
  def exactGroups(df: DataFrame, text: Column, idCol: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("cnt"))

  /** Rows surviving exact dedup (first-id-wins). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles (distinct), the MinHash/Jaccard unit — the
    * distinct set of [[TextAnalysis.ngrams]] (which keeps repetitions
    * for the repetition quality filters). */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextAnalysis.ngrams(text, n))

  // -------------------------------------------------------------- minhash

  /** MinHash signature table: one row per doc, `sig` = array of k minima
    * of universal hashes over the shingle set, computed by the fused
    * codegen'd [[graft.functions.MinHashTextSig]] kernel — tokenize +
    * shingle + hash + min-reduce in ONE byte-level pass with zero
    * intermediate arrays (the composed
    * `minhash_sig(array_distinct(ngrams(text)))` form materialized three
    * Tungsten arrays per row at ~3× the signature cost; it survives as
    * the cross-checked mirror in TextSigSpec).
    *
    * Shape: a single map-only pass — NO shuffle, NO explode: strictly
    * better at scale than the explode + k-wide min-aggregation
    * formulation (which shuffles k·|shingles| rows and blows past the
    * whole-stage-codegen method-size limit at k = 64).
    * Null-text docs get a null signature and fall out of LSH banding
    * (see TextSig scaladoc for the composed-form divergence). */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 64,
      shingleN: Int = 3): DataFrame = {
    // CPU-bound map stage: fan out a coarser-than-cluster input first
    // (single row-group file); no-op at real scale — see core.FanOut
    val src = graft.core.FanOut.cpuBound(df)
    src.select(col(idCol),
      graft.functions.MinHashTextSig(col(textCol), k, shingleN).as("sig"))
  }

  /** Banded-LSH candidate pairs from signatures: b bands of r rows
    * (k = b·r); docs sharing any band bucket become candidates.
    * `maxBucket` caps pathological buckets (near-identical boilerplate)
    * to bound the within-bucket pair blow-up at scale.
    *
    * Shape: ONE shuffle — the banded rows group on (band, bucket), the
    * id list of each surviving bucket is sorted, and the pairs expand
    * declaratively from the row-local list ((i, j>i) over the sorted
    * ids, so ida < idb by construction). The previous formulation
    * (bucket-size window + co-partitioned self-join) needed a window
    * sort AND a join over the same exchange; grouping collects each
    * bucket exactly once instead. Bucket id-lists are bounded IN THE
    * AGGREGATION BUFFER by the capped-collect native aggregate
    * ([[graft.functions.CappedCollectLong]]): a pathological mega-bucket
    * (boilerplate shared by millions of docs) never materializes more
    * than maxBucket+1 ids per buffer before being dropped whole — the
    * plain `collect_list` + size filter form held the full list in
    * executor memory first (ADVICE r05). Cap semantics unchanged: the
    * bucket key = the band's raw signature slice, no hash function, so
    * the bucketing stays mirrorable in ANSI SQL by list VALUE.
    *
    * Null signatures (null-text docs) are filtered BEFORE banding:
    * groupBy treats NULL keys as equal, so without the filter every
    * null-text doc would land in one shared bucket and become a mutual
    * near-dup candidate — contradicting both the equi-join semantics
    * this replaced (nulls never match) and the SQL oracle, where
    * null-text docs produce no shingle rows at all (ADVICE r05). */
  /** One row per (id, band, band-signature-slice) — the LSH banding
    * shared by the monopartite ([[lshCandidates]]) and incremental
    * ([[nearDupsAgainstIndexReleasable]]) candidate generators. */
  private def bandedRows(
      sigs: DataFrame, idCol: String, bands: Int, rows: Int): DataFrame =
    sigs.filter(col("sig").isNotNull).select(
      col(idCol),
      explode(transform(sequence(lit(0), lit(bands - 1)), j =>
        struct(j.as("band"),
          slice(col("sig"), j * rows + 1, lit(rows)).as("bhash"))))
        .as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bhash"))

  def lshCandidates(
      sigs: DataFrame,
      idCol: String,
      bands: Int,
      rows: Int,
      maxBucket: Int = 1000,
      rowLocalCap: Int = 256): DataFrame = {
    val banded = bandedRows(sigs, idCol, bands, rows)
    // capped collection + slice-block pair expansion + block spreading:
    // the shared machinery ([[PairExpansion.bucketPairs]], extracted
    // r09 — the r06 history and full rationale live on its scaladoc).
    // dedupPairs = true: an id sits in `bands` buckets, so the same
    // pair can surface once per band.
    PairExpansion.bucketPairs(banded, Seq("band", "bhash"), idCol,
      maxBucket, rowLocalCap, dedupPairs = true)
  }

  /** Persist the corpus FINGERPRINT index for incremental near-dup
    * checking: one row per doc — (idCol, `sig` array<long> (the k-perm
    * MinHash signature, ~8k bytes), `shingles` array<long>
    * (sorted-distinct shingle hashes)). Daily ingest then runs
    * entirely against fingerprints
    * ([[nearDupsAgainstIndexReleasable]]): the old corpus TEXT is never
    * re-read and its signatures never recomputed
    * — the production incremental-dedup shape (a 100 TB corpus is
    * fingerprinted once; each day's batch pays only its own size).
    * Null-signature (null/empty-text) docs are excluded — they
    * generate no candidates in any path. */
  def writeMinhashIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      k: Int = 64,
      shingleN: Int = 3): Unit = {
    val src = graft.core.FanOut.cpuBound(df)
    src.select(col(idCol),
        graft.functions.MinHashTextSig(col(textCol), k, shingleN).as("sig"),
        graft.functions.ShingleHashes(col(textCol), shingleN)
          .as("shingles"))
      .filter(col("sig").isNotNull)
      .write.mode("overwrite").parquet(path)
  }

  /** Append a (deduped) batch's fingerprints to an existing index —
    * day N's close of the incremental loop: check the batch with
    * [[nearDupsAgainstIndexReleasable]], drop its near-dups, then append the
    * survivors' fingerprints so day N+1 sees them. Same row layout as
    * [[writeMinhashIndex]].
    *
    * Precondition: the batch's ids must not already be in the index —
    * this is append-only (no upsert); re-appending an id would leave
    * duplicate fingerprint rows. [[nearDupsAgainstIndexReleasable]] defends by
    * deduping the index by id at read time, but duplicate rows still
    * waste index scan bytes, so don't create them. */
  def appendToMinhashIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      k: Int = 64,
      shingleN: Int = 3): Unit = {
    val src = graft.core.FanOut.cpuBound(df)
    src.select(col(idCol),
        graft.functions.MinHashTextSig(col(textCol), k, shingleN).as("sig"),
        graft.functions.ShingleHashes(col(textCol), shingleN)
          .as("shingles"))
      .filter(col("sig").isNotNull)
      .write.mode("append").parquet(path)
  }

  /** Compact a persisted fingerprint index — the lifecycle close of
    * the incremental loop: [[writeMinhashIndex]] once, then daily
    * [[appendToMinhashIndex]] grows the index monotonically even as
    * dedup REMOVES corpus docs, and accidental double-appends leave
    * duplicate rows. Compaction drops fingerprints whose ids are no
    * longer live (semi-join against `keepIds` — the surviving corpus
    * ids, a column-pruned id scan, never text), collapses duplicate
    * rows per id (first wins — fingerprints of one id are identical
    * by construction), and rewrites the index with a bounded file
    * count (`ceil(rows / targetRowsPerFile)` hash-partitioned files)
    * so a replication decade of daily appends cannot accumulate
    * thousands of tiny files.
    *
    * Swap: writes to `path + ".compact"`, deletes the old index, and
    * renames — atomic on HDFS-like filesystems; on object stores
    * (no atomic rename) run compaction in the ingest pause or write
    * to a versioned path and flip a pointer. Returns the live row
    * count. */
  def compactMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keepIds: DataFrame,
      idCol: String,
      targetRowsPerFile: Long = 4000000L): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    require(keepIds.columns.length == 1,
      s"keepIds must be a single id column, got " +
        s"${keepIds.columns.mkString(", ")}")
    val tmp = path + ".compact"
    val live = spark.read.parquet(path)
      .dropDuplicates(idCol)
      .join(keepIds.withColumnRenamed(keepIds.columns.head, idCol),
        Seq(idCol), "left_semi")
    val n = live.count()
    val nFiles = math.max(1L, (n + targetRowsPerFile - 1) /
      targetRowsPerFile).toInt
    live.repartition(nFiles, col(idCol))
      .write.mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(path)),
      s"compaction swap failed: could not rename $tmp to $path")
    n
  }

  /** Near-dup pairs between a NEW batch and the persisted fingerprint
    * index — incremental ingest: band both sides, generate candidates
    * through the capped BIPARTITE pair expansion (per-side drop-whole
    * caps — a boilerplate bucket on either side never goes quadratic),
    * estimate-prefilter on signatures, then exact shingle-set Jaccard
    * entirely from stored fingerprints. Output: (new_id, corpus_id,
    * jaccard) for pairs at or above `jaccardThreshold`.
    *
    * Scale shape: the index is scanned column-pruned (bands need
    * `sig`; the verify joins need `shingles` for candidate ids only);
    * candidates are bounded by the caps; nothing re-reads corpus text.
    * The release handle drops the new batch's fingerprint checkpoint. */
  def nearDupsAgainstIndexReleasable(
      newDf: DataFrame,
      textCol: String,
      idCol: String,
      index0: DataFrame,
      jaccardThreshold: Double = 0.8,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      maxBucket: Int = 1000): (DataFrame, () => Unit) = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // defend against accidental double-append in the fingerprint
    // index: duplicate rows for one corpus_id would multiply every
    // joined candidate pair (and its output rows) by the dup count
    val index = index0.dropDuplicates(idCol)
    val newFp = graft.core.FanOut.cpuBound(newDf)
      .select(col(idCol),
        graft.functions.MinHashTextSig(col(textCol), k, shingleN)
          .as("sig"),
        graft.functions.ShingleHashes(col(textCol), shingleN)
          .as("shingles"))
      .filter(col("sig").isNotNull)
      .localCheckpoint()
    // an id occupies `bands` buckets → the same pair can surface once
    // per band; distinct() collapses them (the bipartite expansion has
    // no built-in dedup — its other callers are one-bucket-per-id)
    val cands = PairExpansion.bucketPairsBipartite(
        bandedRows(newFp.withColumnRenamed(idCol, "new_id"),
          "new_id", bands, rows),
        bandedRows(index.withColumnRenamed(idCol, "corpus_id"),
          "corpus_id", bands, rows),
        Seq("band", "bhash"), "new_id", "corpus_id",
        maxBucket, maxBucket).distinct()
    val est = cands
      .join(newFp.select(col(idCol).as("new_id"), col("sig").as("siga")),
        "new_id")
      .join(index.select(col(idCol).as("corpus_id"),
        col("sig").as("sigb")), "corpus_id")
      .withColumn("__est",
        aggregate(zip_with(col("siga"), col("sigb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / size(col("siga")))
      .filter(col("__est") >= jaccardThreshold * 0.5) // cheap prefilter
      .select("new_id", "corpus_id")
    val out = est
      .join(newFp.select(col(idCol).as("new_id"),
        col("shingles").as("sha")), "new_id")
      .join(index.select(col(idCol).as("corpus_id"),
        col("shingles").as("shb")), "corpus_id")
      .withColumn("__it",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard", col("__it").cast("double") /
        (size(col("sha")).cast("long") + size(col("shb")).cast("long") -
          col("__it")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("new_id", "corpus_id", "jaccard")
    (out, () => releaseCheckpoint(newFp))
  }

  /** Estimated Jaccard from signatures for candidate pairs (fraction of
    * matching signature positions). Signature tables are re-joined by id —
    * broadcast when the candidate set is small. */
  def estimateJaccard(cands: DataFrame, sigs: DataFrame, idCol: String)
      : DataFrame = {
    val sa = sigs.select(col(idCol).as("ida"), col("sig").as("siga"))
    val sb = sigs.select(col(idCol).as("idb"), col("sig").as("sigb"))
    cands.join(sa, "ida").join(sb, "idb")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("siga"), col("sigb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / size(col("siga")))
      .select("ida", "idb", "est_jaccard")
  }

  /** Exact n-gram Jaccard verification for given pairs: join each pair to
    * its two sorted-distinct shingle-hash arrays (fused
    * [[graft.functions.ShingleHashes]] kernel) and intersect with the
    * built-in `array_intersect` — per-pair cost linear in the shingle
    * counts, and the joins move only |candidates| rows. Runs ONLY over
    * candidate pairs (J-verify stage of the pipeline); never all-pairs.
    *
    * Returns a release handle for the internal shingle checkpoint —
    * call it once the verify output has been materialized. (Without
    * the handle the blocks wait for GC or
    * [[graft.core.SessionHygiene.releaseAll]]; `clearCache` misses them.) */
  def verifyJaccardReleasable(
      cands: DataFrame,
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3): (DataFrame, () => Unit) = {
    // Shingle ONLY docs that appear in some candidate pair (semi-join
    // pushdown), and only ONCE: without the checkpoint, each side of
    // the pair join recomputes the full shingle table — shingling is
    // the dominant cost of the verify stage. The checkpoint is bounded
    // by the candidate-doc set (≪ corpus) and spills to disk at scale.
    // Shingle sets are the fused sorted-distinct FNV-hash arrays
    // (ShingleHashes): |A∩B| over longs ≡ over the shingle strings
    // absent 64-bit collisions, the checkpoint holds 8 bytes per
    // shingle instead of the string, and the intersection comparisons
    // are long equality instead of string compares.
    val ids = cands.select(col("ida").as(idCol))
      .union(cands.select(col("idb").as(idCol))).distinct()
    val sh = df.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol),
        graft.functions.ShingleHashes(col(textCol), shingleN).as("shs"))
      .localCheckpoint()
    val sa = sh.select(col(idCol).as("ida"), col("shs").as("sha"))
    val sb = sh.select(col(idCol).as("idb"), col("shs").as("shb"))
    val out = cands.join(sa, "ida").join(sb, "idb")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("na", size(col("sha")).cast("long"))
      .withColumn("nb", size(col("shb")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")))
      .select("ida", "idb", "jaccard")
    (out, () => releaseCheckpoint(sh))
  }

  /** Containment verification for candidate pairs: |A∩B| / |A| and
    * |A∩B| / |B| alongside Jaccard — the asymmetric-duplication
    * detector (a doc QUOTING another scores near 1.0 on the smaller
    * side while symmetric Jaccard stays low). Same candidate-only
    * cost model and fused shingle-hash machinery as
    * [[verifyJaccardReleasable]], and the same release handle for the
    * internal shingle checkpoint. The materialization matters here
    * exactly as there: without it, ShingleHashes recomputes for BOTH
    * join branches, doubling the dominant cost of the verify stage
    * (ADVICE r05). */
  def verifyContainmentReleasable(
      cands: DataFrame,
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3): (DataFrame, () => Unit) = {
    val ids = cands.select(col("ida").as(idCol))
      .union(cands.select(col("idb").as(idCol))).distinct()
    val sh = df.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol),
        graft.functions.ShingleHashes(col(textCol), shingleN).as("shs"))
      .localCheckpoint()
    val sa = sh.select(col(idCol).as("ida"), col("shs").as("sha"))
    val sb = sh.select(col(idCol).as("idb"), col("shs").as("shb"))
    val out = cands.join(sa, "ida").join(sb, "idb")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("na", size(col("sha")).cast("long"))
      .withColumn("nb", size(col("shb")).cast("long"))
      .select(col("ida"), col("idb"),
        (col("inter").cast("double") / col("na")).as("containment_a"),
        (col("inter").cast("double") / col("nb")).as("containment_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
    (out, () => releaseCheckpoint(sh))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash per doc: per-token 64-bit hash (FNV-1a — the same
    * kernel as the MinHash signatures, chosen because an ANSI-SQL
    * oracle can reproduce it), frequency-weighted bit votes,
    * sign-assembled — computed by the fused codegen'd
    * [[graft.functions.SimHashText]] kernel (tokenize + hash + vote in
    * one byte-level pass; ≡ `SimHash64(tokens(text))`, TextSigSpec) in
    * a single map-only scan. (The explode → groupBy(doc, tok) → groupBy(doc)
    * formulation shuffled the whole corpus token stream twice for what
    * is a function of the row-local token array — VERDICT r03.)
    * Docs with null text yield a null simhash (they fall out of the
    * banded candidate join, same as the aggregation form dropping
    * them). */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.SimHashText(col(textCol)).as("simhash"))

  /** SimHash near-dup candidates: band the 64 bits into 4×16-bit chunks;
    * docs sharing any chunk are candidates (guarantees recall for
    * hamming distance ≤ 3); verify with exact popcount distance.
    *
    * Shape: ONE shuffle, ONE scan of the signature table — each (band,
    * chunk) bucket is grouped once and its (id, simhash) members
    * collected by the buffer-bounded
    * [[graft.functions.CappedCollectLongPairs]] aggregate; pairs expand
    * declaratively from the row-local sorted list (carrying each
    * member's full signature, so hamming needs no re-join). The previous
    * banded SELF-JOIN read the signature table twice — forcing callers
    * to persist it (one corpus scan, not two) and leaving a cached table
    * behind (VERDICT r05 cache-lifecycle gap); the grouped form needs no
    * cache at all. `maxBucket` drops degenerate buckets whole (a 16-bit
    * chunk shared by more than maxBucket docs generates O(n²) candidate
    * pairs either way — the join form simply blew up instead of
    * bounding).
    *
    * Null simhashes (null-text docs) are filtered before banding: the
    * equi-join form dropped them implicitly (nulls never match), the
    * groupBy form must drop them explicitly or they'd share one NULL
    * bucket. */
  def simhashCandidates(
      sh: DataFrame,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      rowLocalCap: Int = 256): DataFrame = {
    val banded = sh.filter(col("simhash").isNotNull)
      .select(col(idCol), col("simhash"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("band"),
            shiftright(col("simhash"), j * 16).bitwiseAND(lit(0xFFFFL))
              .as("chunk"))): _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band"), col("bb.chunk"))
    // slice-block pair expansion — see [[lshCandidates]] for the full
    // rationale (r06 stress finding: a hot 16-bit chunk bucket expanded
    // row-locally built a size²-element nested array in one task,
    // 73 s at 16× replication; slice blocks bound per-row memory at
    // O(rowLocalCap²) with ONE aggregate and no join). Members carry
    // (id, simhash) structs; struct sort is lexicographic by field
    // order → sorted by id (unique per bucket), so ida < idb holds
    // within and across slices.
    val cap = rowLocalCap
    def pair(x: Column, y: Column): Column =
      struct(x.getField("id").as("ida"), y.getField("id").as("idb"),
        bit_count(x.getField("v").bitwiseXOR(y.getField("v")))
          .as("hamming"))
    val buckets = banded
      .groupBy("band", "chunk")
      .agg(graft.functions.CappedCollectLongPairs(
        col(idCol), col("simhash"), maxBucket).as("ms"))
      .filter(size(col("ms")).between(2, maxBucket))
      .select(sort_array(col("ms")).as("ms"),
        ceil(size(col("ms")).cast("double") / cap).cast("int").as("nsl"))
    buckets
      .select(col("ms"),
        explode(flatten(transform(sequence(lit(0), col("nsl") - 1), a =>
          transform(sequence(a, col("nsl") - 1), b =>
            struct(a.as("a"), b.as("b")))))).as("ab"))
      .select(
        slice(col("ms"), col("ab.a") * cap + 1, lit(cap)).as("sa"),
        slice(col("ms"), col("ab.b") * cap + 1, lit(cap)).as("sb"),
        (col("ab.a") === col("ab.b")).as("same"))
      // spread hot-bucket blocks across tasks before expansion — see
      // [[PairExpansion]]
      .transform(PairExpansion.spreadBlocks)
      .select(explode(when(col("same"),
          flatten(transform(col("sa"), (x, i) =>
            transform(slice(col("sa"), i + 2, size(col("sa"))),
              y => pair(x, y)))))
        .otherwise(
          flatten(transform(col("sa"), x =>
            transform(col("sb"), y => pair(x, y))))))
        .as("p"))
      .select(col("p.ida"), col("p.idb"), col("p.hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------ components/survivors

  /** Connected components over the near-dup pair graph, size-aware:
    *
    *  - The verified near-dup edge set is orders of magnitude smaller than
    *    the corpus (it only contains pairs above the Jaccard threshold).
    *    When it fits comfortably on the driver (≤ `driverEdgeLimit`,
    *    default 5M edges ≈ 80 MB), a single collect + union-find resolves
    *    components in O(E α(E)) with ZERO extra Spark jobs — the same
    *    "collect the already-reduced result" rule that applies to
    *    histogram arrays and fit inputs.
    *  - Above the cap (plausible at the 100 TB corpus scale) it falls back
    *    to distributed alternating large-star/small-star contraction
    *    ([[starContractComponents]]): O(log n) edge-shuffle rounds
    *    REGARDLESS of graph diameter. (Until r14 this fallback was
    *    min-label propagation, whose round count IS the diameter —
    *    near-dup graphs at corpus scale contain long content-drift
    *    chains A≈B≈C≈…, so propagation either paid diameter×edge-set
    *    shuffles or aborted at its iteration cap.)
    *
    * Returns `(id, component)` where component = min id in the component.
    */
  def nearDupComponents(
      pairs: DataFrame,
      maxIters: Int = 64,
      driverEdgeLimit: Long = 5000000L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val spark = pairs.sparkSession
    val ca = pairs.columns(0)
    val cb = pairs.columns(1)
    val idType = pairs.schema(ca).dataType
    val integralId =
      idType == LongType || idType == IntegerType ||
        idType == ShortType || idType == ByteType
    // Persist the caller's frame itself, not a rename-only projection of
    // it: a pure-alias Project canonicalizes to the same plan, so
    // persisting/unpersisting the projection would silently evict any
    // cache the caller holds on `pairs` (and force a full recompute of
    // the verify pipeline on every reuse).
    val alreadyCached = pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!alreadyCached) pairs.persist()
    val nEdges = pairs.count()
    if (integralId && nEdges <= driverEdgeLimit) {
      val collected = pairs.collect().map(r =>
        (r.get(0).asInstanceOf[Number].longValue,
          r.get(1).asInstanceOf[Number].longValue))
      if (!alreadyCached) pairs.unpersist()
      // union-find, path-halving; union attaches the larger root under the
      // smaller, so every root is the min id of its component by induction
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) {
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp)
          x = p
          p = gp
        }
        x
      }
      collected.foreach { case (a, b) =>
        val ra = find(a)
        val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val ids = collected.iterator
        .flatMap(t => Iterator(t._1, t._2)).toArray.distinct
      import spark.implicits._
      // Ship the result back as an RDD-backed frame, NOT a
      // LocalRelation: a driver-local relation of up to 2×driverEdgeLimit
      // ids would be embedded in the returned plan and re-serialized (or
      // broadcast) by every downstream join (ADVICE r03).
      val resolved = ids.map(id => (id, find(id)))
      val nParts = math.max(1,
        math.min(spark.sparkContext.defaultParallelism,
          resolved.length / 100000 + 1))
      spark.sparkContext.parallelize(resolved.toIndexedSeq, nParts)
        .toDF("id", "component")
        .select(col("id").cast(idType).as("id"),
          col("component").cast(idType).as("component"))
    } else {
      // distributed fallback: alternating star contraction — returns a
      // CACHED frame (not a projection of one) so downstream
      // release-after-materialize logic (nearDupSurvivors) sees the
      // storage level and can release it
      val (labels, _) = starContractComponents(pairs, maxIters)
      if (!alreadyCached) pairs.unpersist()
      labels
    }
  }

  /** Distributed connected components by alternating large-star /
    * small-star contraction (Kiveris, Lattanzi, Mirrokni, Rastogi,
    * Vassilvitskii, "Connected Components in MapReduce and Beyond",
    * ACM SoCC 2014 — public algorithm, re-derived here on DataFrames).
    *
    * State: an edge set oriented large→small (`u > v` in every row),
    * self-loops dropped. One round =
    *
    *  - large-star: every node u links each LARGER neighbor to
    *    `m = min(Γ(u) ∪ {u})` — emit `(v, m)` for v ∈ Γ(u), v > u;
    *  - small-star: on the (still-oriented) output, every node u links
    *    itself and each smaller neighbor to `m = min(Γ(u) ∪ {u})` —
    *    emit `(u, m)` and `(v, m)` for v ∈ Γ(u), v ≠ m.
    *
    * Both operations preserve the node set and the component partition,
    * and each round at least halves the height of every non-star tree,
    * so the fixed point — a star forest whose centers are exactly the
    * component minima — is reached in O(log n) rounds regardless of
    * graph diameter. Per round: two map-side-combinable `groupBy(min)`
    * shuffles, two id-keyed joins, two `distinct`s — all on the
    * (already threshold-filtered, corpus-small) pair set.
    *
    * Convergence is detected STRUCTURALLY, not by checksum — the state
    * is a star forest iff
    *  (i) no node occurs as both a source and a target (no chain of
    *      length ≥ 2), and
    * (ii) no source has two outgoing edges (a leaf still shared by two
    *      sibling centers is reachable mid-contraction: in
    *      {(5,1),(3,1),(6,2),(3,2)} targets∩sources = ∅ yet node 3
    *      still bridges centers 1 and 2).
    * Under (i) ∧ (ii) the state is a disjoint union of stars; since the
    * operations preserve components, each original component is exactly
    * one star, and its center — smaller than every leaf by the
    * orientation invariant — is the component minimum.
    *
    * Returns `(labels, rounds)`: `labels` = `(id, component)` with one
    * row per distinct id in `pairs` (self-paired ids label themselves),
    * PERSISTED and materialized — the caller releases it; `rounds` is
    * the contraction-round count, exposed so ScaleStress can assert the
    * ~log(n) shape on deliberately chain-shaped pair graphs.
    */
  private[graft] def starContractComponents(
      pairs: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val ca = pairs.columns(0)
    val cb = pairs.columns(1)
    // the label frame's row set: every id in the input, including ids
    // that only appear self-paired (those never enter the edge state)
    val ids = pairs.select(col(ca).as("id"))
      .union(pairs.select(col(cb).as("id"))).distinct().persist()
    ids.count()

    // star-forest test (scaladoc conditions (i) and (ii)) — one action,
    // `isEmpty` stops at the first offending row
    def isStarForest(ee: DataFrame): Boolean =
      ee.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") > 1).select("u")
        .union(ee.select(col("v").as("u"))
          .join(ee.select("u"), Seq("u"), "left_semi"))
        .isEmpty

    var ee = pairs
      .select(greatest(col(ca), col(cb)).as("u"),
        least(col(ca), col(cb)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist()
    ee.count()
    var rounds = 0
    var converged = isStarForest(ee)
    while (!converged && rounds < maxRounds) {
      // large-star over the bidirectional adjacency
      val nbrs = ee.union(ee.select(col("v").as("u"), col("u").as("v")))
      val minsL = nbrs.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = nbrs.filter(col("v") > col("u"))
        .join(minsL, Seq("u"))
        // v > u ≥ m, so the emitted edge keeps the orientation invariant
        // and can never be a self-loop
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the large-star output (already oriented u > v, so
      // Γ(u) here is exactly the smaller neighborhood and m < u)
      val minsS = large.groupBy("u").agg(min("v").as("m"))
      val next = large.join(minsS, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .distinct()
        .persist()
      next.count() // materialize before releasing the previous state
      converged = isStarForest(next)
      ee.unpersist()
      // Lineage truncation every 3 rounds: one round references `ee`
      // five times (bidirectional union, two min-joins, the small-star
      // union), so the ANALYZED plan grows ~5× per round — exponential.
      // Caching bounds execution, not plan size: without truncation the
      // plan string alone exceeds 2 GB by round ~14 (heap OOM inside
      // explainString). 5³ subtree copies per segment is harmless. Same
      // localCheckpoint pattern as Graph.pageRank (Graph.scala:83).
      ee = if (!converged && (rounds + 1) % 3 == 0) {
        val cp = next.localCheckpoint() // eager — reads the warm cache
        next.unpersist()
        cp
      } else next
      rounds += 1
    }
    if (!converged) {
      ee.unpersist()
      ids.unpersist()
      // fail loudly: a partially contracted forest would silently keep
      // duplicate "survivors". 64 rounds covers any graph a real corpus
      // can produce (the round count is logarithmic in component size).
      throw new IllegalStateException(
        s"star contraction did not converge in $maxRounds rounds")
    }
    val labels = ids
      .join(ee.select(col("u").as("id"), col("v").as("component")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
      .persist()
    labels.count()
    ee.unpersist()
    ids.unpersist()
    (labels, rounds)
  }

  /** Rows surviving near-dup removal: one representative (min id) per
    * component; docs not in any pair survive untouched. */
  def nearDupSurvivors(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = nearDupComponents(pairs)
    val drop0 = comps
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    // distributed CC returns a cached frame: materialize the (smaller)
    // drop list so the component frontier can be released; the union-find
    // fast path returns a driver-local relation — no extra job needed
    val cached = comps.storageLevel.useMemory || comps.storageLevel.useDisk
    val drop =
      if (cached) {
        val d = drop0.persist()
        d.count()
        comps.unpersist()
        d
      } else drop0
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** End-to-end MinHash near-dup dedup: exact-collapse → signatures →
    * banded LSH → signature-estimate prefilter → exact-Jaccard verify →
    * components → survivors.
    *
    * Exact duplicates are collapsed FIRST (one hash groupBy) and minhash
    * runs only on the representatives. Exact copies are the pathological
    * input for LSH banding — every copy shares every band, so
    * within-bucket candidate pairs grow QUADRATICALLY in the copy count
    * (measured: 16× replication of the corpus made the un-collapsed
    * pipeline 7× slower; collapsed, it is flat in the duplicate count).
    * Semantics: an exact copy is a jaccard-1.0 near-dup whose group
    * representative (the group min id) carries the group's membership
    * through components, so the surviving set equals the un-collapsed
    * pipeline's — except when an exact-copy group is larger than
    * lshCandidates' `maxBucket` cap, where the un-collapsed pipeline
    * would have PRUNED the oversized buckets and kept every copy;
    * collapsing first is strictly more complete dedup in that regime.
    *
    * Checkpoint lifecycle: every stage is an eager `localCheckpoint`,
    * not a persist (SCALE.md, "Near-dup materialization"); all but
    * `reps` are released before returning. The returned plan reads
    * `reps`, freed by the returned release handle — call it once the
    * survivor output has been materialized; the output cannot
    * recompute afterwards. Without the handle the blocks free on GC or
    * `SessionHygiene.releaseAll` — not on `clearCache` — so a
    * long-lived session that skips it accumulates checkpoint blocks
    * (VERDICT r05 §4). */
  def dedupNearMinhashReleasable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      jaccardThreshold: Double = 0.8,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3): (DataFrame, () => Unit) = {
    val reps = exactDedup(df, textCol, idCol).localCheckpoint()
    val sigs = minhashSignatures(reps, textCol, idCol, k, shingleN)
      .localCheckpoint() // once for the banding + estimation branches
    val cands = lshCandidates(sigs, idCol, bands, k / bands)
    // r17 (guide §5 persist discipline): the estimate-filtered pair
    // table feeds TWO consumers inside the verify stage (the
    // candidate-id set that bounds the shingle checkpoint, and the verify
    // join itself) — without the checkpoint the banding + pair expansion
    // + both estimate joins re-executed for each (the r16 shape ran
    // the whole candidate stage twice per query). Pair-table-sized.
    val est = estimateJaccard(cands, sigs, idCol)
      .filter(col("est_jaccard") >= jaccardThreshold * 0.5) // cheap prefilter
      .select("ida", "idb")
      .localCheckpoint()
    val (verifiedAll, releaseShingles) =
      verifyJaccardReleasable(est, reps, textCol, idCol, shingleN)
    val verified = verifiedAll
      .filter(col("jaccard") >= jaccardThreshold)
      .select("ida", "idb")
      .localCheckpoint() // materialized, so the upstream stages can go
    releaseShingles()
    Seq(est, sigs).foreach(releaseCheckpoint)
    val out = nearDupSurvivors(reps, idCol, verified)
    // survivors has materialized the drop list (components collect /
    // persisted drop) by the time it returns — the pair set can go too
    releaseCheckpoint(verified)
    (out, () => releaseCheckpoint(reps))
  }

  /** End-to-end SimHash near-dup dedup: signatures → banded hamming
    * candidates → components → survivors. Same survivor rule as the
    * minhash pipeline (min id per component); exact copies hash
    * identically (hamming 0) so no separate exact pass is needed —
    * but they are collapsed first anyway for the same quadratic-bucket
    * reason as [[dedupNearMinhashReleasable]]. Returns a release handle
    * for the representatives checkpoint the returned plan reads — same
    * contract as [[dedupNearMinhashReleasable]]. The signature table
    * itself needs NO cache since the grouped [[simhashCandidates]]
    * reads it exactly once (the old banded self-join read it twice). */
  def dedupNearSimhashReleasable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): (DataFrame, () => Unit) = {
    val reps = exactDedup(df, textCol, idCol).localCheckpoint()
    val pairs = simhashCandidates(simhash(reps, textCol, idCol),
        idCol, maxHamming)
      .select("ida", "idb")
    // survivors materializes the drop list (components collect /
    // persisted drop) before returning
    val out = nearDupSurvivors(reps, idCol, pairs)
    (out, () => releaseCheckpoint(reps))
  }

  // ------------------------------------------------------ decontamination

  /** Benchmark decontamination: per-corpus-doc count of distinct word
    * n-gram shingles shared with a benchmark/eval set — the standard
    * train-test-overlap filter of pretraining pipelines (docs carrying
    * eval n-grams leak the benchmark into training).
    *
    * Shape for 100 TB: the BENCHMARK side is tiny (eval sets, not
    * corpora) — its distinct shingle FNV-1a hashes collapse to one
    * long-typed set that Spark BROADCASTS to a hash join against the
    * corpus's exploded shingle hashes. The corpus is scanned once,
    * map-side joined (no corpus shuffle of shingle strings — 8-byte
    * hashes, and only MATCHING rows survive to the per-doc count), then
    * aggregated on doc id. Same collision stance as every hash pipeline
    * here: 64-bit FNV over distinct shingles, mirrorable in SQL.
    *
    * Returns (idCol, n_hits) for corpus docs with ≥1 shared shingle. */
  def contamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      broadcastBenchmark: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val benchHashes = benchmark
      .select(explode(
        graft.functions.ShingleHashes(col(textCol), shingleN)).as("h"))
      .distinct()
    // eval sets are tiny → broadcast by default. For corpus-vs-corpus
    // decontamination (both sides huge) pass broadcastBenchmark=false:
    // the join falls back to a shuffle co-partitioned on the hash —
    // still only 8-byte keys move, never shingle strings.
    val bh = if (broadcastBenchmark) broadcast(benchHashes) else benchHashes
    corpus
      .select(col(idCol), explode(
        graft.functions.ShingleHashes(col(textCol), shingleN)).as("h"))
      .join(bh, Seq("h"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Corpus rows with NO benchmark shingle overlap above `maxHits`
    * (default 0 = drop any doc sharing even one n-gram). Anti-join on
    * the (small) contaminated-id set. */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      maxHits: Long = 0L): DataFrame = {
    val bad = contamination(corpus, benchmark, textCol, idCol, shingleN)
      .filter(col("n_hits") > maxHits)
      .select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Cross-source duplication audit: for every unordered source pair,
    * the number of distinct winnowed fingerprints
    * ([[TextAnalysis.winnowed]]) present in BOTH sources — the "who
    * copies from whom" matrix a corpus assembly review starts from
    * (licensing leaks, mirrored sites, shared boilerplate show up as
    * hot cells).
    *
    * Scale shape: distinct (source, fingerprint) is one shuffle of the
    * winnowed sketch (a small fraction of the text by construction);
    * the pair join keys on the fingerprint, where even a fingerprint
    * shared by EVERY source contributes at most |sources|² rows — the
    * output and all intermediates are bounded by sketch size, and the
    * matrix itself is |sources|²/2 rows, driver-small for any real
    * source taxonomy. */
  def crossSourceOverlap(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      window: Int = 4): DataFrame = {
    val fp = df
      .select(col(sourceCol).as("src"),
        explode(TextAnalysis.winnowed(col(textCol), window)).as("fp"))
      .distinct()
    val a = fp.select(col("src").as("src_a"), col("fp"))
    val b = fp.select(col("src").as("src_b"), col("fp"))
    a.join(b, Seq("fp")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
  }

  // --------------------------------------------- embedding near-duplicate

  /** Embedding cosine near-dup: LSH-bucketed (random hyperplane signs)
    * candidates + exact cosine verify — see [[Similarity]] for the
    * signature machinery.
    *
    * Scale shape (r09 — VERDICT r08 "What's wrong" 1): candidate pairs
    * come from the shared capped grouped expansion
    * ([[PairExpansion.bucketPairs]]), NOT a self-join on `lsh_sig` —
    * hyperplane signatures routinely collapse for dense regions
    * (near-zero or tightly clustered normalized embeddings share all
    * sign bits), and an uncapped join materializes that bucket's
    * O(size²) pairs inside one shuffle partition. Buckets over
    * `maxBucket` are dropped whole (deterministic, SQL-mirrorable);
    * a corpus that trips the cap needs more planes (finer buckets),
    * not a bigger cap — recall inside surviving buckets is unchanged.
    * The exact-cosine verify re-joins the two embedding columns by id,
    * each join moving |candidates| rows (the [[estimateJaccard]]
    * shape) — bounded, unlike the pair stream it replaces. */
  def embeddingNearDups(
      df: DataFrame,
      embCol: String,
      idCol: String,
      planes: Int = 12,
      minCosine: Double = 0.95,
      maxBucket: Int = 10000,
      rowLocalCap: Int = 256): DataFrame = {
    val sigs = Similarity.hyperplaneSignature(df, embCol, planes)
      .filter(col("lsh_sig").isNotNull)
      .select(col("lsh_sig"), col(idCol))
    val cands = PairExpansion.bucketPairs(sigs, Seq("lsh_sig"), idCol,
      maxBucket, rowLocalCap, dedupPairs = false)
    val ea = df.select(col(idCol).cast("bigint").as("ida"),
      col(embCol).as("ea"))
    val eb = df.select(col(idCol).cast("bigint").as("idb"),
      col(embCol).as("eb"))
    cands.join(ea, "ida").join(eb, "idb")
      .withColumn("cosine", Similarity.cosine(col("ea"), col("eb")))
      .filter(col("cosine") >= minCosine)
      .select("ida", "idb", "cosine")
  }

  /** End-to-end embedding near-dup dedup: hyperplane-LSH candidate
    * pairs → components → survivors (min id per cosine-similarity
    * component). */
  def dedupNearEmbedding(
      df: DataFrame,
      embCol: String,
      idCol: String,
      planes: Int = 12,
      minCosine: Double = 0.95): DataFrame = {
    val pairs = embeddingNearDups(df, embCol, idCol, planes, minCosine)
      .select("ida", "idb")
    nearDupSurvivors(df, idCol, pairs)
  }

  /** SemDeDup-shaped semantic near-dup pairs: partition the corpus
    * with a k-means coarse quantizer ([[Similarity.ivfAssign]] over
    * Lloyd-trained centroids) and compare exact cosine ONLY within a
    * cluster — the quadratic verify runs over k cluster-local blocks
    * instead of the corpus, and the cluster structure is data-driven
    * (semantically close vectors land together) where
    * [[embeddingNearDups]]'s hyperplane buckets are random.
    *
    * Scale shape (r09 — VERDICT r08 "What's wrong" 2): `ivfAssign` is
    * a map-only codegen'd kernel; candidate pairs come from the shared
    * capped grouped expansion ([[PairExpansion.bucketPairs]]) on the
    * cluster id, NOT an uncapped within-cluster self-join — k-means
    * cluster sizes are power-law in practice, and a mega-cluster made
    * the old join quadratic in its size inside one shuffle partition.
    * Clusters over `maxCluster` are dropped whole (deterministic).
    * The cap is a BACKSTOP, not the answer for skewed corpora: a
    * dropped mega-cluster silently loses real neighbors, so train with
    * [[Similarity.ivfCentroidsSplit]] (recursive Lloyd re-split of
    * oversized lists) to keep every cluster under the cap with recall
    * intact; per-cluster verify cost is then O(maxCluster²·dim) worst
    * case. The exact-cosine verify re-joins embeddings by id —
    * |candidates| rows per join. */
  def semanticNearDups(
      df: DataFrame,
      embCol: String,
      idCol: String,
      cents: Array[Array[Double]],
      minCosine: Double,
      maxCluster: Int = 10000,
      rowLocalCap: Int = 256): DataFrame = {
    val assigned = Similarity.ivfAssign(df, embCol, cents)
      .select(col("ivf_list"), col(idCol))
    val cands = PairExpansion.bucketPairs(assigned, Seq("ivf_list"), idCol,
      maxCluster, rowLocalCap, dedupPairs = false)
    val ea = df.select(col(idCol).cast("bigint").as("ida"),
      col(embCol).as("ea"))
    val eb = df.select(col(idCol).cast("bigint").as("idb"),
      col(embCol).as("eb"))
    cands.join(ea, "ida").join(eb, "idb")
      .withColumn("cosine", Similarity.cosine(col("ea"), col("eb")))
      .filter(col("cosine") >= minCosine)
      .select("ida", "idb", "cosine")
  }

  /** End-to-end SemDeDup: drop every vector with a SMALLER-id
    * same-cluster neighbor at cosine ≥ `minCosine`; keep the rest.
    * This is the pairwise-local rule (one anti-join on the distinct
    * dropped ids) — deliberately NOT the transitive-closure semantics
    * of [[nearDupSurvivors]]: the paper's per-ε-ball "keep one
    * representative" is order-dependent anyway, and the local rule
    * needs no components stage. A chain a~b~c (a<b<c, a≁c) keeps only
    * `a` — both b and c have a smaller similar neighbor. */
  def dedupSemantic(
      df: DataFrame,
      embCol: String,
      idCol: String,
      cents: Array[Array[Double]],
      minCosine: Double,
      maxCluster: Int = 10000,
      rowLocalCap: Int = 256): DataFrame = {
    val dropped = semanticNearDups(df, embCol, idCol, cents, minCosine,
        maxCluster, rowLocalCap)
      .select(col("idb").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------ line-level dedup

  /** CCNet/RefinedWeb-style line-level corpus dedup: drop every line
    * whose trimmed content occurs at least `minOccurrences` times across
    * the corpus, then reassemble each document from its surviving lines
    * in original order. Boilerplate — navigation menus, cookie banners,
    * license headers — is exactly the text that repeats across
    * documents; removing it per LINE keeps the unique prose that
    * whole-document dedup (exact or near) leaves untouched. The
    * reference has no counterpart; this is a training-data-pipeline
    * stage (public heritage: CCNet's paragraph-hash dedup, RefinedWeb's
    * line-wise filtering).
    *
    * Lines shorter than `minLineChars` after trimming (blank lines, lone
    * braces, bullets) are never counted OR removed: they are document
    * structure, not boilerplate, and every one of them would trivially
    * be a corpus-wide duplicate. Because a short line's trimmed content
    * can never equal an eligible line's (the lengths differ), one
    * left-anti join on the line key is removal-safe for all lines.
    *
    * Output: (id, n_lines, n_lines_kept, text_dedup) — one row per input
    * document; a document whose every line is boilerplate survives with
    * empty text (dropping it is a policy the caller applies, not the
    * operator).
    *
    * Scale shape (100 TB): lines are keyed by `xxhash64` of the trimmed
    * content, so 8-byte keys — not line strings — cross the counting
    * shuffle, which is map-side combined. The duplicate-key table is
    * filtered BEFORE the removal join (`count >= minOccurrences` keeps
    * only true boilerplate keys, a small fraction of distinct lines), so
    * the left-anti join's build side is boilerplate-sized and AQE
    * broadcasts it when it fits. Reassembly is one groupBy on the
    * document id, bounded per group by document size — the same per-row
    * bound the corpus already obeys. No stage gathers corpus-scale data
    * on fewer keys than the input already has. */
  def dedupLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minOccurrences: Int = 2,
      minLineChars: Int = 5): DataFrame = {
    require(minOccurrences >= 2, s"minOccurrences must be >= 2 (got " +
      s"$minOccurrences) — 1 would remove every eligible line")
    val lines = df.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as(Seq("pos", "line")))
      .withColumn("lkey", xxhash64(trim(col("line"))))
    val boiler = lines
      .filter(length(trim(col("line"))) >= minLineChars)
      .groupBy("lkey").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minOccurrences)
      .select("lkey")
    val rebuilt = lines.join(boiler, Seq("lkey"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text_dedup"))
    df.select(col(idCol),
        size(split(coalesce(col(textCol), lit("")), "\n", -1))
          .cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }
}
