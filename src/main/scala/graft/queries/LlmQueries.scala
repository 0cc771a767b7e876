package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Scope
import graft.llm._
import Q._

/** LLM-data-pipeline operators over documents/embeddings: dedup (exact,
  * MinHash LSH, SimHash, n-gram Jaccard), similarity search (brute-force
  * + LSH ANN), text analysis, multimodal binary plumbing.
  *
  * Every query is oracle-checked: the hash pipelines are mirrored in
  * ANSI SQL from first principles — FNV-1a / rolling hashes via HUGEINT
  * mod-2^64 emulation, LSH band buckets on raw signature slices,
  * connected components via transitive-closure CTEs, hyperplane
  * signatures from the inlined deterministic plane matrix, and the IVF
  * quantizer's fixed-depth Lloyd training unrolled round by round. */
object LlmQueries {

  /** Shared recursive-CTE mirror of the native BPE kernel
    * ([[graft.functions.BpeEncode]]): per word, each recursion step
    * merges the LEFTMOST occurrence of the LOWEST-RANK adjacent pair
    * (best key = rank·100000 + position, minimized over applicable
    * pairs); a word's final symbol list is the state with no
    * applicable pair. Ends at `bt(doc_id, pos, token_id)`. The merge
    * table is inlined from [[graft.llm.Bpe.defaultMerges]] — the
    * `planes` pattern. `nullif(..., 0)` because DuckDB `list_position`
    * returns 0 (not NULL) on a miss. */
  private lazy val bpeCte: String = {
    val merges = Bpe.defaultMerges.pairs
    val mkeys = merges.map { case (l, r) => s"'$l' || chr(1) || '$r'" }
      .mkString("[", ", ", "]")
    val mcats = merges.map { case (l, r) => s"'${l + r}'" }
      .mkString("[", ", ", "]")
    def best(syms: String) =
      s"list_min(list_filter(list_transform(range(1, len($syms)), i -> " +
        s"(nullif(list_position($mkeys, $syms[i] || chr(1) || " +
        s"$syms[i+1]), 0) - 1) * 100000 + i), x -> x IS NOT NULL))"
    s"""w0 AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word,
      |    generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS wi
      |  FROM documents WHERE text IS NOT NULL),
      |wd AS (SELECT doc_id, wi, word FROM w0 WHERE word <> ''),
      |init AS (SELECT doc_id, wi,
      |    list_transform(range(1, length(word) + 1), i -> substring(word, CAST(i AS INT), 1)) AS syms
      |  FROM wd),
      |rec AS (
      |  SELECT doc_id, wi, syms FROM init
      |  UNION ALL
      |  SELECT doc_id, wi,
      |    syms[1 : CAST(bk % 100000 AS INT) - 1] ||
      |      [syms[CAST(bk % 100000 AS INT)] || syms[CAST(bk % 100000 AS INT) + 1]] ||
      |      syms[CAST(bk % 100000 AS INT) + 2 : ] AS syms
      |  FROM (SELECT doc_id, wi, syms, ${best("syms")} AS bk FROM rec)
      |  WHERE bk IS NOT NULL),
      |fin AS (SELECT doc_id, wi, syms FROM rec WHERE ${best("syms")} IS NULL),
      |tok AS (SELECT doc_id, wi, unnest(syms) AS s, generate_subscripts(syms, 1) AS si FROM fin),
      |idt AS (SELECT doc_id, wi, si,
      |    CASE WHEN length(s) = 1 THEN unicode(s)
      |         ELSE 999999 + nullif(list_position($mcats, s), 0) END AS token_id
      |  FROM tok),
      |bt AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1 AS pos, token_id FROM idt)""".stripMargin
  }

  /** Recursive-CTE mirror of the unigram-LM Viterbi segmentation
    * ([[graft.functions.UnigramKernel.segmentWord]]): DP over prefix
    * code-point positions under the pinned EXACT-INTEGER objective —
    * minimize pieces, then maximize summed piece counts, then prefer
    * the longer final piece per prefix. The three criteria pack into
    * one BIGINT key minimized per step:
    * `((k·2^40) + (2^40−1−sum))·8 + (4−off)` — valid while summed
    * counts stay under 2^40 and prefix piece counts under 2^20 (vastly
    * true at gate SF; the ENGINE compares the tuple natively with no
    * such bound). Each word carries its DP state as lists (`pcs` =
    * flat (position, length)-indexed piece counts, NULL = not a
    * vocabulary piece; singles coalesce to 0 — totality); the
    * backtrack walks the chosen lengths into (start, len) segments.
    * Emits `<p>seg(word, si, piece)`.
    *
    * @param p    CTE name prefix (each Viterbi pass needs its own)
    * @param wCte CTE with one `word` per distinct word (non-empty)
    * @param vCte vocabulary CTE with (piece, c) */
  private def unigramViterbiCtes(p: String, wCte: String, vCte: String)
      : String =
    s"""${p}n AS (SELECT word, length(word) AS n FROM $wCte),
      |${p}io AS (SELECT word, n, unnest(range(1, n + 1)) AS i FROM ${p}n),
      |${p}cd AS (SELECT word, n, i, unnest([1, 2, 3, 4]) AS off FROM ${p}io),
      |${p}pc AS (SELECT c.word, c.n, (c.i - 1) * 4 + c.off AS idx,
      |    CASE WHEN c.off > c.i THEN NULL
      |         WHEN c.off = 1 THEN coalesce(v.c, 0)
      |         ELSE v.c END AS cc
      |  FROM ${p}cd c LEFT JOIN $vCte v
      |    ON c.off <= c.i AND v.piece = substring(c.word, CAST(c.i - c.off + 1 AS INT), CAST(c.off AS INT))),
      |${p}tab AS (SELECT word, any_value(n) AS n, list(cc ORDER BY idx) AS pcs
      |  FROM ${p}pc GROUP BY word),
      |${p}dp AS (
      |  SELECT word, n, pcs, CAST(0 AS BIGINT) AS i,
      |    [CAST(0 AS BIGINT)] AS ks, [CAST(0 AS BIGINT)] AS sums,
      |    [CAST(0 AS BIGINT)] AS offs
      |  FROM ${p}tab
      |  UNION ALL
      |  SELECT word, n, pcs, i + 1,
      |    ks || [bk // 8796093022208],
      |    sums || [1099511627775 - ((bk // 8) % 1099511627776)],
      |    offs || [4 - (bk % 8)]
      |  FROM (
      |    SELECT word, n, pcs, i, ks, sums, offs,
      |      list_min(list_filter(list_transform(range(1, least(4, i + 1) + 1), o ->
      |        CASE WHEN pcs[i * 4 + o] IS NOT NULL
      |             THEN ((ks[i + 2 - o] + 1) * 1099511627776 +
      |                   (1099511627775 - (sums[i + 2 - o] + pcs[i * 4 + o]))) * 8 + (4 - o)
      |             ELSE NULL END), x -> x IS NOT NULL)) AS bk
      |    FROM ${p}dp WHERE i < n) s),
      |${p}fin AS (SELECT word, n, offs FROM ${p}dp WHERE i = n),
      |${p}bt AS (
      |  SELECT word, n AS pp, offs,
      |    CAST([] AS STRUCT(s BIGINT, l BIGINT)[]) AS segs
      |  FROM ${p}fin
      |  UNION ALL
      |  SELECT word, pp - offs[CAST(pp AS INT) + 1], offs,
      |    [struct_pack(s := pp - offs[CAST(pp AS INT) + 1] + 1,
      |                 l := offs[CAST(pp AS INT) + 1])] || segs
      |  FROM ${p}bt WHERE pp > 0),
      |${p}seg AS (
      |  SELECT word, si, substring(word, CAST(sg.s AS INT), CAST(sg.l AS INT)) AS piece
      |  FROM (SELECT word, unnest(segs) AS sg,
      |          CAST(generate_subscripts(segs, 1) AS BIGINT) AS si
      |        FROM ${p}bt WHERE pp = 0) z)""".stripMargin

  /** Shared CTE chain mirroring [[graft.llm.Unigram.learn]] end to end
    * (seed → 2 hard-EM rounds → final ranked vocabulary) plus the
    * final-vocabulary encode pass — the llm_unigram_* gate family's
    * oracle backbone. Parameters pinned to the gates': maxPieceLen 4,
    * seedSize 60, vocabSize 40, rounds 2, minCount 2. Ends at
    * `uvf(piece, c, rank)` (the learned vocabulary) and
    * `uout(doc_id, pos, token_id)` (the encoded corpus). */
  private lazy val unigramCtes: String =
    s"""uw0 AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word,
      |    generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS wi
      |  FROM documents WHERE text IS NOT NULL),
      |uwd AS (SELECT doc_id, wi, word FROM uw0 WHERE word <> ''),
      |uwc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM uwd GROUP BY word),
      |usL AS (SELECT word, cnt, n, unnest(range(1, least(4, n) + 1)) AS L
      |  FROM (SELECT word, cnt, length(word) AS n FROM uwc) t),
      |usi AS (SELECT word, cnt, L, unnest(range(1, n - L + 2)) AS i FROM usL),
      |usc AS (SELECT substring(word, CAST(i AS INT), CAST(L AS INT)) AS piece,
      |    CAST(sum(cnt) AS BIGINT) AS c
      |  FROM usi GROUP BY 1),
      |ualpha AS (SELECT piece, c FROM usc WHERE length(piece) = 1),
      |useed AS (SELECT piece, c FROM usc WHERE length(piece) >= 2 AND c >= 2
      |  ORDER BY c DESC, piece LIMIT 60),
      |uv0 AS (SELECT piece, c FROM ualpha UNION ALL SELECT piece, c FROM useed),
      |${unigramViterbiCtes("u1", "uwc", "uv0")},
      |uu1 AS (SELECT s.piece, CAST(sum(w.cnt) AS BIGINT) AS c
      |  FROM u1seg s JOIN uwc w ON w.word = s.word GROUP BY s.piece),
      |uv1 AS (SELECT a.piece, coalesce(u.c, 0) AS c
      |    FROM ualpha a LEFT JOIN uu1 u ON u.piece = a.piece
      |  UNION ALL
      |  SELECT u.piece, u.c FROM uu1 u JOIN useed m ON m.piece = u.piece
      |  WHERE u.c >= 2),
      |${unigramViterbiCtes("u2", "uwc", "uv1")},
      |uu2 AS (SELECT s.piece, CAST(sum(w.cnt) AS BIGINT) AS c
      |  FROM u2seg s JOIN uwc w ON w.word = s.word GROUP BY s.piece),
      |uv2m AS (SELECT u.piece, u.c AS c FROM uu2 u
      |  JOIN (SELECT piece FROM uv1 WHERE length(piece) >= 2) m ON m.piece = u.piece
      |  WHERE u.c >= 2),
      |uvfm AS (SELECT piece, c,
      |    CAST(row_number() OVER (ORDER BY c DESC, piece) - 1 AS BIGINT) AS rank
      |  FROM uv2m),
      |uvf AS (SELECT piece, c, rank FROM uvfm WHERE rank < 40),
      |uvenc AS (SELECT a.piece, coalesce(u.c, 0) AS c
      |    FROM ualpha a LEFT JOIN uu2 u ON u.piece = a.piece
      |  UNION ALL SELECT piece, c FROM uvf),
      |${unigramViterbiCtes("ue", "uwc", "uvenc")},
      |uet AS (SELECT d.doc_id, d.wi, s.si, s.piece
      |  FROM uwd d JOIN ueseg s ON s.word = d.word),
      |ueid AS (SELECT t.doc_id, t.wi, t.si,
      |    CASE WHEN length(t.piece) = 1 THEN unicode(t.piece)
      |         ELSE 1000000 + CAST(f.rank AS INT) END AS token_id
      |  FROM uet t LEFT JOIN uvf f ON f.piece = t.piece),
      |uout AS (SELECT doc_id,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1 AS pos,
      |    token_id
      |  FROM ueid)""".stripMargin

  /** Shared CTE chain mirroring [[graft.llm.WordPiece]] end to end —
    * the llm_wordpiece_* gate family's oracle backbone: 4 merge
    * rounds, each with fresh symbol counts, pair counts, the HUGEINT
    * likelihood score `(c_pair·10^12) // (c_l·c_r)`, the pinned
    * argmax, and the leftmost-non-overlapping fold; then the greedy
    * longest-match encode of the corpus under the learned vocabulary.
    * Ends at `wpb1..4` (the merges), `wpv(rank, piece)` and
    * `wpout(doc_id, pos, token_id)`. */
  private lazy val wordpieceCtes: String = {
    val rounds = (1 to 4).map { i =>
      val prev = s"wpst${i - 1}"
      s"""wpsc$i AS (SELECT s, CAST(sum(cnt) AS BIGINT) AS c
        |  FROM (SELECT unnest(syms) AS s, cnt FROM $prev) GROUP BY s),
        |wppc$i AS (SELECT s.syms[i] AS l, s.syms[i+1] AS r, sum(s.cnt) AS c
        |  FROM (SELECT syms, cnt, unnest(range(1, len(syms))) AS i FROM $prev) s(syms, cnt, i)
        |  GROUP BY 1, 2),
        |wpb$i AS (SELECT p.l AS l, p.r AS r, CAST(p.c AS BIGINT) AS c,
        |    CAST((CAST(p.c AS HUGEINT) * 1000000000000) // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS sq
        |  FROM wppc$i p JOIN wpsc$i a ON a.s = p.l JOIN wpsc$i b ON b.s = p.r
        |  WHERE p.c >= 2
        |  ORDER BY sq DESC, c DESC, l, r LIMIT 1),
        |wpst$i AS (SELECT list_reduce(list_transform(p.syms, s -> [s]), (acc, x) ->
        |    CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r
        |         THEN acc[1:len(acc)-1] || [b.l || substring(b.r, 3)]
        |         ELSE acc || x END) AS syms, p.cnt AS cnt
        |  FROM $prev p, wpb$i b)""".stripMargin
    }.mkString(",\n")
    s"""wpw0 AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word,
      |    generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS wi
      |  FROM documents WHERE text IS NOT NULL),
      |wpwd AS (SELECT doc_id, wi, word FROM wpw0 WHERE word <> ''),
      |wpwc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM wpwd GROUP BY word),
      |wpst0 AS (SELECT list_transform(range(1, length(word) + 1),
      |    i -> CASE WHEN i = 1 THEN substring(word, CAST(i AS INT), 1)
      |         ELSE '##' || substring(word, CAST(i AS INT), 1) END) AS syms, cnt
      |  FROM wpwc),
      |$rounds,
      |wpv0 AS (SELECT 0 AS rank, l || substring(r, 3) AS piece FROM wpb1
      |  UNION ALL SELECT 1, l || substring(r, 3) FROM wpb2
      |  UNION ALL SELECT 2, l || substring(r, 3) FROM wpb3
      |  UNION ALL SELECT 3, l || substring(r, 3) FROM wpb4),
      |wpv AS (SELECT row_number() OVER (ORDER BY mr) - 1 AS rank, piece
      |  FROM (SELECT piece, min(rank) AS mr FROM wpv0 GROUP BY piece)),
      |wpme AS (SELECT max(length(CASE WHEN piece LIKE '##%'
      |      THEN substring(piece, 3) ELSE piece END)) AS ml,
      |    list(piece) AS vl FROM wpv),
      |wpseg AS (
      |  SELECT word, length(word) AS n, CAST(1 AS BIGINT) AS pos,
      |    CAST([] AS VARCHAR[]) AS pcs FROM wpwc
      |  UNION ALL
      |  SELECT word, n, pos + bl,
      |    pcs || [CASE WHEN pos = 1 THEN substring(word, CAST(pos AS INT), CAST(bl AS INT))
      |            ELSE '##' || substring(word, CAST(pos AS INT), CAST(bl AS INT)) END]
      |  FROM (SELECT word, n, pos, pcs,
      |      coalesce(list_max(list_filter(range(2, least(ml, n - pos + 1) + 1),
      |        L -> list_contains(vl,
      |          CASE WHEN pos = 1 THEN substring(word, CAST(pos AS INT), CAST(L AS INT))
      |               ELSE '##' || substring(word, CAST(pos AS INT), CAST(L AS INT)) END))), 1) AS bl
      |    FROM wpseg, wpme WHERE pos <= n) t),
      |wpfin AS (SELECT word, pcs FROM wpseg WHERE pos = n + 1),
      |wpet AS (SELECT d.doc_id, d.wi, s.si, s.piece
      |  FROM wpwd d JOIN (SELECT word, unnest(pcs) AS piece,
      |      CAST(generate_subscripts(pcs, 1) AS BIGINT) AS si FROM wpfin) s
      |    ON s.word = d.word),
      |wpid AS (SELECT t.doc_id, t.wi, t.si,
      |    CASE WHEN v.rank IS NOT NULL THEN 4000000 + CAST(v.rank AS INT)
      |         WHEN t.piece LIKE '##%' THEN 2000000 + unicode(substring(t.piece, 3))
      |         ELSE unicode(t.piece) END AS token_id
      |  FROM wpet t LEFT JOIN wpv v ON v.piece = t.piece),
      |wpout AS (SELECT doc_id,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1 AS pos,
      |    token_id
      |  FROM wpid)""".stripMargin
  }

  /** Unigram-encode mirror shared by the direct and persisted-vocab
    * gates (bit-identical by contract). */
  private[queries] lazy val unigramEncodeOracleSql: String =
    s"""WITH RECURSIVE $unigramCtes
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |  CAST(token_id AS INT) AS token_id
      |FROM uout ORDER BY doc_id, pos""".stripMargin

  /** WordPiece-encode mirror shared by the direct and persisted-vocab
    * gates (bit-identical by contract). */
  private[queries] lazy val wordpieceEncodeOracleSql: String =
    s"""WITH RECURSIVE $wordpieceCtes
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |  CAST(token_id AS INT) AS token_id
      |FROM wpout ORDER BY doc_id, pos""".stripMargin

  /** Per-doc WordPiece token counts off the shared CTE chain — the
    * stream_wordpiece_tokens mirror (bounded replay ≡ the batch
    * counter). */
  private[queries] lazy val wordpieceTokenCountOracleSql: String =
    s"""WITH RECURSIVE $wordpieceCtes,
      |wptc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
      |  FROM wpout GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(c.n_tokens, 0) AS n_tokens
      |FROM documents d LEFT JOIN wptc c ON c.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** IVF ANN mirror (shared by llm_ann_ivf and its persisted-index
    * twin): the fixed-depth Lloyd training unrolled round by round —
    * init = the 8 smallest ids' embeddings, each round = argmin
    * assignment (ties to the lower list id, same as the kernel's
    * strict <) + per-list per-dim round-6 mean with empty lists
    * keeping their previous centroid — then nprobe=2 list probe and
    * exact cosine rerank, the llm_ann_lsh pattern. */
  private val annIvfOracleSql: String =
    """WITH sel AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
      |seli AS (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) - 1 AS l FROM sel),
      |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
      |c0 AS (SELECT l, CAST(unnest(embedding) AS DOUBLE) AS v, generate_subscripts(embedding, 1) - 1 AS d FROM seli),
      |a1 AS (SELECT e.vec_id, c0.l, sum((e.x - c0.v)*(e.x - c0.v)) AS dist FROM e JOIN c0 ON c0.d = e.d GROUP BY e.vec_id, c0.l),
      |s1 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a1) WHERE rn = 1),
      |m1 AS (SELECT s1.l, e.d, round(avg(e.x), 6) AS v FROM s1 JOIN e ON e.vec_id = s1.vec_id GROUP BY s1.l, e.d),
      |c1 AS (SELECT c0.l, c0.d, coalesce(m1.v, c0.v) AS v FROM c0 LEFT JOIN m1 ON m1.l = c0.l AND m1.d = c0.d),
      |a2 AS (SELECT e.vec_id, c1.l, sum((e.x - c1.v)*(e.x - c1.v)) AS dist FROM e JOIN c1 ON c1.d = e.d GROUP BY e.vec_id, c1.l),
      |s2 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a2) WHERE rn = 1),
      |m2 AS (SELECT s2.l, e.d, round(avg(e.x), 6) AS v FROM s2 JOIN e ON e.vec_id = s2.vec_id GROUP BY s2.l, e.d),
      |c2 AS (SELECT c1.l, c1.d, coalesce(m2.v, c1.v) AS v FROM c1 LEFT JOIN m2 ON m2.l = c1.l AND m2.d = c1.d),
      |qe AS (SELECT d, x FROM e WHERE vec_id = 0),
      |qd AS (SELECT c2.l, sum((qe.x - c2.v)*(qe.x - c2.v)) AS dist FROM qe JOIN c2 ON c2.d = qe.d GROUP BY c2.l),
      |probe AS (SELECT l FROM (SELECT l, row_number() OVER (ORDER BY dist, l) AS rn FROM qd) WHERE rn <= 2),
      |a3 AS (SELECT e.vec_id, c2.l, sum((e.x - c2.v)*(e.x - c2.v)) AS dist FROM e JOIN c2 ON c2.d = e.d GROUP BY e.vec_id, c2.l),
      |s3 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a3) WHERE rn = 1),
      |cand AS (SELECT s3.vec_id FROM s3 JOIN probe ON probe.l = s3.l),
      |sc AS (SELECT e.vec_id, sum(e.x * qe.x) AS dot, sqrt(sum(e.x * e.x)) AS ne FROM e JOIN cand ON cand.vec_id = e.vec_id JOIN qe ON qe.d = e.d GROUP BY e.vec_id),
      |nq AS (SELECT sqrt(sum(x * x)) AS nrm FROM qe),
      |top AS (SELECT vec_id, dot / (ne * nq.nrm) AS c FROM sc, nq ORDER BY c DESC, vec_id LIMIT 5)
      |SELECT vec_id, round(c, 6) AS cosine FROM top ORDER BY cosine DESC, vec_id""".stripMargin

  /** PQ-ANN mirror (llm_ann_pq): the per-SUBSPACE Lloyd rounds
    * unrolled exactly like [[annIvfOracleSql]] but with every CTE
    * keyed by `sub = dim-index // 16` — init from the 8 smallest
    * vec_ids' subvectors, 2 rounds of (assign → 6-rounded mean,
    * empty code keeps its centroid), encode against the final books,
    * query ADC tables per (sub, code), est = 6-rounded table-sum
    * with id tiebreak into a 40 pool, exact cosine rerank. */
  private val annPqOracleSql: String = {
    def round(i: Int, prev: String): String =
      s"""a$i AS (SELECT e.vec_id, c.sub, c.l,
         |    sum((e.x - c.v)*(e.x - c.v)) AS dist
         |  FROM e JOIN $prev c ON c.sub = e.sub AND c.dd = e.dd
         |  GROUP BY e.vec_id, c.sub, c.l),
         |s$i AS (SELECT vec_id, sub, l FROM (
         |    SELECT vec_id, sub, l, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY dist, l) AS rn FROM a$i)
         |  WHERE rn = 1),
         |m$i AS (SELECT s$i.sub, s$i.l, e.dd, round(avg(e.x), 6) AS v
         |  FROM s$i JOIN e ON e.vec_id = s$i.vec_id AND e.sub = s$i.sub
         |  GROUP BY s$i.sub, s$i.l, e.dd),
         |c$i AS (SELECT c.sub, c.l, c.dd, coalesce(m$i.v, c.v) AS v
         |  FROM $prev c LEFT JOIN m$i
         |  ON m$i.sub = c.sub AND m$i.l = c.l AND m$i.dd = c.dd)""".stripMargin
    s"""WITH sel AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
      |seli AS (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) - 1 AS l FROM sel),
      |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |  (generate_subscripts(embedding, 1) - 1) // 16 AS sub,
      |  (generate_subscripts(embedding, 1) - 1) % 16 AS dd,
      |  generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
      |c0 AS (SELECT l,
      |  (generate_subscripts(embedding, 1) - 1) // 16 AS sub,
      |  (generate_subscripts(embedding, 1) - 1) % 16 AS dd,
      |  CAST(unnest(embedding) AS DOUBLE) AS v FROM seli),
      |${round(1, "c0")},
      |${round(2, "c1")},
      |a3 AS (SELECT e.vec_id, c2.sub, c2.l,
      |    sum((e.x - c2.v)*(e.x - c2.v)) AS dist
      |  FROM e JOIN c2 ON c2.sub = e.sub AND c2.dd = e.dd
      |  GROUP BY e.vec_id, c2.sub, c2.l),
      |s3 AS (SELECT vec_id, sub, l FROM (
      |    SELECT vec_id, sub, l, row_number() OVER (
      |      PARTITION BY vec_id, sub ORDER BY dist, l) AS rn FROM a3)
      |  WHERE rn = 1),
      |qe AS (SELECT sub, dd, i, x FROM e WHERE vec_id = 0),
      |qd AS (SELECT c2.sub, c2.l, sum((qe.x - c2.v)*(qe.x - c2.v)) AS dist
      |  FROM qe JOIN c2 ON c2.sub = qe.sub AND c2.dd = qe.dd
      |  GROUP BY c2.sub, c2.l),
      |est AS (SELECT s3.vec_id, round(sum(qd.dist), 6) AS est
      |  FROM s3 JOIN qd ON qd.sub = s3.sub AND qd.l = s3.l
      |  GROUP BY s3.vec_id),
      |pool AS (SELECT vec_id FROM est ORDER BY est, vec_id LIMIT 40),
      |sc AS (SELECT e.vec_id, sum(e.x * qe.x) AS dot,
      |    sqrt(sum(e.x * e.x)) AS ne
      |  FROM e JOIN pool USING (vec_id) JOIN qe ON qe.i = e.i
      |  GROUP BY e.vec_id),
      |nq AS (SELECT sqrt(sum(x * x)) AS nrm FROM qe),
      |top AS (SELECT vec_id, dot / (ne * nq.nrm) AS c FROM sc, nq
      |  ORDER BY c DESC, vec_id LIMIT 5)
      |SELECT vec_id, round(c, 6) AS cosine FROM top
      |ORDER BY cosine DESC, vec_id""".stripMargin
  }

  /** IVF-PQ mirror (llm_ann_ivfpq): the [[annIvfOracleSql]] coarse
    * chain (full-dim 2-round Lloyd → assignment s3 → 2-list probe)
    * composed with the [[annPqOracleSql]] per-subspace chain run over
    * RESIDUALS (re = e − assigned coarse centroid, p-prefixed CTEs),
    * query ADC tables per probed list from that list's query
    * residual, pooled est + exact rerank. */
  private val annIvfPqOracleSql: String = {
    def pqRound(i: Int, prev: String): String =
      s"""pa$i AS (SELECT re.vec_id, c.sub, c.l,
         |    sum((re.x - c.v)*(re.x - c.v)) AS dist
         |  FROM re JOIN $prev c ON c.sub = re.sub AND c.dd = re.dd
         |  GROUP BY re.vec_id, c.sub, c.l),
         |ps$i AS (SELECT vec_id, sub, l FROM (
         |    SELECT vec_id, sub, l, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY dist, l) AS rn FROM pa$i)
         |  WHERE rn = 1),
         |pm$i AS (SELECT ps$i.sub, ps$i.l, re.dd, round(avg(re.x), 6) AS v
         |  FROM ps$i JOIN re ON re.vec_id = ps$i.vec_id AND re.sub = ps$i.sub
         |  GROUP BY ps$i.sub, ps$i.l, re.dd),
         |pc$i AS (SELECT c.sub, c.l, c.dd, coalesce(pm$i.v, c.v) AS v
         |  FROM $prev c LEFT JOIN pm$i
         |  ON pm$i.sub = c.sub AND pm$i.l = c.l AND pm$i.dd = c.dd)""".stripMargin
    s"""WITH sel AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
      |seli AS (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) - 1 AS l FROM sel),
      |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |  generate_subscripts(embedding, 1) - 1 AS d,
      |  (generate_subscripts(embedding, 1) - 1) // 16 AS sub,
      |  (generate_subscripts(embedding, 1) - 1) % 16 AS dd FROM embeddings),
      |c0 AS (SELECT l, CAST(unnest(embedding) AS DOUBLE) AS v, generate_subscripts(embedding, 1) - 1 AS d FROM seli),
      |a1 AS (SELECT e.vec_id, c0.l, sum((e.x - c0.v)*(e.x - c0.v)) AS dist FROM e JOIN c0 ON c0.d = e.d GROUP BY e.vec_id, c0.l),
      |s1 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a1) WHERE rn = 1),
      |m1 AS (SELECT s1.l, e.d, round(avg(e.x), 6) AS v FROM s1 JOIN e ON e.vec_id = s1.vec_id GROUP BY s1.l, e.d),
      |c1 AS (SELECT c0.l, c0.d, coalesce(m1.v, c0.v) AS v FROM c0 LEFT JOIN m1 ON m1.l = c0.l AND m1.d = c0.d),
      |a2 AS (SELECT e.vec_id, c1.l, sum((e.x - c1.v)*(e.x - c1.v)) AS dist FROM e JOIN c1 ON c1.d = e.d GROUP BY e.vec_id, c1.l),
      |s2 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a2) WHERE rn = 1),
      |m2 AS (SELECT s2.l, e.d, round(avg(e.x), 6) AS v FROM s2 JOIN e ON e.vec_id = s2.vec_id GROUP BY s2.l, e.d),
      |c2 AS (SELECT c1.l, c1.d, coalesce(m2.v, c1.v) AS v FROM c1 LEFT JOIN m2 ON m2.l = c1.l AND m2.d = c1.d),
      |a3 AS (SELECT e.vec_id, c2.l, sum((e.x - c2.v)*(e.x - c2.v)) AS dist FROM e JOIN c2 ON c2.d = e.d GROUP BY e.vec_id, c2.l),
      |s3 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a3) WHERE rn = 1),
      |re AS (SELECT e.vec_id, e.sub, e.dd, e.x - c2.v AS x
      |  FROM e JOIN s3 ON s3.vec_id = e.vec_id
      |  JOIN c2 ON c2.l = s3.l AND c2.d = e.d),
      |pseli AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS l
      |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
      |pc0 AS (SELECT pseli.l, re.sub, re.dd, re.x AS v
      |  FROM re JOIN pseli ON pseli.vec_id = re.vec_id),
      |${pqRound(1, "pc0")},
      |${pqRound(2, "pc1")},
      |pa3 AS (SELECT re.vec_id, c.sub, c.l,
      |    sum((re.x - c.v)*(re.x - c.v)) AS dist
      |  FROM re JOIN pc2 c ON c.sub = re.sub AND c.dd = re.dd
      |  GROUP BY re.vec_id, c.sub, c.l),
      |ps3 AS (SELECT vec_id, sub, l FROM (
      |    SELECT vec_id, sub, l, row_number() OVER (
      |      PARTITION BY vec_id, sub ORDER BY dist, l) AS rn FROM pa3)
      |  WHERE rn = 1),
      |qe AS (SELECT d, sub, dd, x FROM e WHERE vec_id = 0),
      |qd AS (SELECT c2.l, sum((qe.x - c2.v)*(qe.x - c2.v)) AS dist
      |  FROM qe JOIN c2 ON c2.d = qe.d GROUP BY c2.l),
      |probe AS (SELECT l FROM (SELECT l, row_number() OVER (ORDER BY dist, l) AS rn FROM qd) WHERE rn <= 2),
      |qre AS (SELECT probe.l AS pl, qe.sub, qe.dd, qe.x - c2.v AS x
      |  FROM qe JOIN probe ON true
      |  JOIN c2 ON c2.l = probe.l AND c2.d = qe.d),
      |qtab AS (SELECT qre.pl, pc2.sub, pc2.l,
      |    sum((qre.x - pc2.v)*(qre.x - pc2.v)) AS dist
      |  FROM qre JOIN pc2 ON pc2.sub = qre.sub AND pc2.dd = qre.dd
      |  GROUP BY qre.pl, pc2.sub, pc2.l),
      |est AS (SELECT ps3.vec_id, round(sum(qtab.dist), 6) AS est
      |  FROM ps3 JOIN s3 ON s3.vec_id = ps3.vec_id
      |  JOIN probe ON probe.l = s3.l
      |  JOIN qtab ON qtab.pl = s3.l AND qtab.sub = ps3.sub
      |    AND qtab.l = ps3.l
      |  GROUP BY ps3.vec_id),
      |pool AS (SELECT vec_id FROM est ORDER BY est, vec_id LIMIT 40),
      |sc AS (SELECT e.vec_id, sum(e.x * qe.x) AS dot,
      |    sqrt(sum(e.x * e.x)) AS ne
      |  FROM e JOIN pool USING (vec_id) JOIN qe ON qe.d = e.d
      |  GROUP BY e.vec_id),
      |nq AS (SELECT sqrt(sum(x * x)) AS nrm FROM qe),
      |top AS (SELECT vec_id, dot / (ne * nq.nrm) AS c FROM sc, nq
      |  ORDER BY c DESC, vec_id LIMIT 5)
      |SELECT vec_id, round(c, 6) AS cosine FROM top
      |ORDER BY cosine DESC, vec_id""".stripMargin
  }

  /** Shared MinHash mirror CTE chain (tokens → 3-shingles → FNV → k=64
    * signatures → 16 bands), ending at `bnd(doc_id, band, sl)` — used
    * by the monopartite llm_minhash_neardup mirror and the bipartite
    * llm_incremental_dedup mirror. */
  private val minhashMirrorCtes: String = {
    val mixers = graft.functions.MinHashSig.mixers(64)
      .zipWithIndex.map { case (a, j) => s"($j, ${java.lang.Long.toUnsignedString(a)})" }.mkString(", ")
    s"""WITH RECURSIVE
      |tok0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS l FROM documents),
      |tokx AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tok0),
      |sh3 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s FROM tokx a JOIN tokx b ON b.doc_id = a.doc_id AND b.i = a.i + 1 JOIN tokx c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
      |shfew AS (SELECT doc_id, array_to_string(l, ' ') AS s FROM tok0 WHERE len(l) < 3),
      |shall AS (SELECT DISTINCT doc_id, s FROM (SELECT * FROM sh3 UNION ALL SELECT * FROM shfew)),
      |strs AS (SELECT DISTINCT s FROM shall),
      |hx AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM strs),
      |fnv AS (
      |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hx
      |  UNION ALL
      |  SELECT s, hs, nb, i + 1,
      |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
      |  FROM fnv WHERE i < nb),
      |hfin AS (SELECT s, h FROM fnv WHERE i = nb),
      |mix AS (SELECT j, a FROM (VALUES $mixers) AS m(j, a)),
      |pmul AS (
      |  SELECT sa.doc_id, m.j, CAST(hf.h // 2147483648 AS BIGINT) AS hi,
      |    (CAST(hf.h % 2147483648 AS HUGEINT) * CAST(m.a AS HUGEINT)) % 18446744073709551616 AS p
      |  FROM shall sa JOIN hfin hf ON hf.s = sa.s CROSS JOIN mix m),
      |persig AS (
      |  SELECT doc_id, j,
      |    min(xor(CAST(p - CASE WHEN p >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT), hi)) AS v
      |  FROM pmul GROUP BY doc_id, j),
      |bnd AS (SELECT doc_id, j // 4 AS band, list(v ORDER BY j) AS sl FROM persig GROUP BY doc_id, j // 4)""".stripMargin
  }

  /** LM-perplexity oracle, shared by three execution shapes of the one
    * semantics: llm_lm_perplexity (self-trained), llm_lm_persisted
    * (score-only against the on-disk model) and stream_lm_score (the
    * stream-static twin in StreamingQueries). */
  val lmPerplexityOracleSql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |tk AS (SELECT doc_id, unnest(toks) AS w FROM d),
      |v AS (SELECT count(DISTINCT w) AS v FROM tk WHERE w <> ''),
      |bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2 FROM d WHERE len(toks) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
      |cc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY 1),
      |sc AS (SELECT g.doc_id, CAST(round(ln((bc.cb + 1.0) / CAST(cc.cu + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS lp FROM bg g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2 JOIN cc ON cc.w1 = g.w1 CROSS JOIN v),
      |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS slp FROM sc GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, round(exp((CAST(slp AS DOUBLE) / -1000000.0) / n_bigrams), 6) AS ppl
      |FROM ag ORDER BY doc_id""".stripMargin

  /** DSIR oracle scaffold shared by llm_dsir_weights and
    * llm_dsir_select: the CTE chain ends at
    * `w(doc_id, n_grams, weight_micro)`; callers append the final
    * SELECT. Mirrors [[graft.llm.Dsir]] bit-for-bit: unigrams +
    * positionally-zipped bigrams, FNV-1a per distinct gram (recursive
    * hex CTE), bucket = unsigned h % 4096 (≡ the engine's signed pmod
    * since 2⁶⁴ ≡ 0 mod 2¹²), dense range(4096) spine, add-one-smoothed
    * micro-nat log-ratios with the engine's exact IEEE op order, exact
    * integer per-doc sums. */
  private[queries] def dsirWeightsOracleSql(finalSelect: String): String =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
      |      FROM documents WHERE text IS NOT NULL),
      |uni AS (SELECT doc_id, source, unnest(toks) AS gram FROM d),
      |bi0 AS (SELECT doc_id, source,
      |        unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
      |        FROM d WHERE len(toks) >= 2),
      |g AS (SELECT doc_id, source, gram FROM uni
      |      UNION ALL SELECT doc_id, source, w1 || ' ' || w2 FROM bi0),
      |strs AS (SELECT DISTINCT gram AS s FROM g),
      |hx AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM strs),
      |fnv AS (
      |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hx
      |  UNION ALL
      |  SELECT s, hs, nb, i + 1,
      |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
      |  FROM fnv WHERE i < nb),
      |bkt AS (SELECT s, CAST(h % 4096 AS BIGINT) AS bucket FROM fnv WHERE i = nb),
      |gb AS (SELECT g.doc_id, g.source, b.bucket FROM g JOIN bkt b ON b.s = g.gram),
      |ctb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM gb WHERE source = 'src0' GROUP BY bucket),
      |crb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM gb WHERE source <> 'src0' GROUP BY bucket),
      |tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM ctb) AS nt,
      |               (SELECT CAST(sum(cr) AS BIGINT) FROM crb) AS nr),
      |lr AS (SELECT sp.bucket,
      |    CAST(round(ln(((coalesce(ctb.ct, 0) + 1.0) * (tot.nr + 4096)) /
      |                  ((coalesce(crb.cr, 0) + 1.0) * (tot.nt + 4096))) * 1000000) AS BIGINT) AS lr
      |  FROM range(4096) AS sp(bucket)
      |  LEFT JOIN ctb ON ctb.bucket = sp.bucket
      |  LEFT JOIN crb ON crb.bucket = sp.bucket
      |  CROSS JOIN tot),
      |w AS (SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |      CAST(sum(lr.lr) AS BIGINT) AS weight_micro
      |      FROM gb JOIN lr ON lr.bucket = gb.bucket
      |      WHERE gb.source <> 'src0' GROUP BY gb.doc_id)
      |""".stripMargin + finalSelect

  /** Ridge-classifier oracle CTE chain, shared by llm_ridge_score and
    * llm_ridge_auc: features f(doc_id, y, x1, x2), the %5==0 labeled
    * slice, exact HUGEINT moments with the ridge diagonal, and the
    * Cramer determinant/numerators d(den, n0, n1, n2) — the SQL twin
    * of [[graft.llm.Train.ridgeFitExact]] (cofactor algebra verified
    * numerically in r10/r11 — the r10 n2 bug lived here).
    * `trainMod` picks the labeled slice (doc_id % trainMod == 0):
    * llm_ridge_score uses 5; llm_ridge_auc uses 7, because the table's
    * source column cycles with doc_id % 20 — a %5 split would leave
    * the held-out slice with ZERO positives (every src0 id is ≡0
    * mod 20), making AUC undefined. */
  private def ridgeOracleCtes(trainMod: Int): String = {
    val stops = graft.llm.TextAnalysis.stopwordUnion
      .map(w => s"'$w'").mkString(", ")
    s"""f AS (SELECT doc_id,
      |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS HUGEINT) AS x1,
      |    CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
      |        w -> list_contains([$stops], w))) AS HUGEINT) AS x2
      |  FROM documents),
      |lab AS (SELECT * FROM f WHERE doc_id % $trainMod = 0),
      |m AS (SELECT
      |    CAST(count(*) AS HUGEINT) AS s00,
      |    CAST(sum(x1) AS HUGEINT) AS s01, CAST(sum(x2) AS HUGEINT) AS s02,
      |    CAST(sum(x1*x1) AS HUGEINT) + 1000 AS s11,
      |    CAST(sum(x1*x2) AS HUGEINT) AS s12,
      |    CAST(sum(x2*x2) AS HUGEINT) + 1000 AS s22,
      |    CAST(sum(y) AS HUGEINT) AS b0, CAST(sum(x1*y) AS HUGEINT) AS b1,
      |    CAST(sum(x2*y) AS HUGEINT) AS b2
      |  FROM lab),
      |d AS (SELECT
      |    s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02) + s02*(s01*s12 - s11*s02) AS den,
      |    b0*(s11*s22 - s12*s12) - s01*(b1*s22 - s12*b2) + s02*(b1*s12 - s11*b2) AS n0,
      |    s00*(b1*s22 - s12*b2) - b0*(s01*s22 - s12*s02) + s02*(s01*b2 - b1*s02) AS n1,
      |    s00*(s11*b2 - s12*b1) - s01*(s01*b2 - s02*b1) + b0*(s01*s12 - s11*s02) AS n2
      |  FROM m)""".stripMargin
  }

  /** PageRank mirror shared by llm_pagerank and llm_link_pagerank
    * (both build the same 3-out-link modulus graph — one directly, one
    * through the real HtmlLinks parse): the integer-quantized
    * iterations unrolled round by round; `//` floor division on
    * positive ranks ≡ the engine's integral `div`. `init` is the pr0
    * rank expression (default: the uniform cold start), letting the
    * warm-start mirror swap in a closed-form previous-rank vector. */
  private def pagerankOracle(
      iters: Int, init: String = "r0"): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""pr$i AS (SELECT d.doc_id AS v,
         |  k.base + (85 * COALESCE(s.c, 0)) // 100 AS r
         |  FROM d CROSS JOIN k LEFT JOIN (
         |    SELECT e.dst AS v, CAST(sum(pr${i - 1}.r // dg.deg) AS BIGINT) AS c
         |    FROM e JOIN dg ON dg.src = e.src
         |    JOIN pr${i - 1} ON pr${i - 1}.v = e.src
         |    GROUP BY e.dst) s ON s.v = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id FROM documents),
      |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |k AS (SELECT n, 1000000000 // n AS r0,
      |             (15 * (1000000000 // n)) // 100 AS base FROM cnt),
      |e AS (SELECT doc_id AS src, (doc_id*7+1) % n AS dst FROM d CROSS JOIN cnt
      |  UNION ALL SELECT doc_id, (doc_id*11+3) % n FROM d CROSS JOIN cnt
      |  UNION ALL SELECT doc_id, (doc_id*13+5) % n FROM d CROSS JOIN cnt),
      |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
      |pr0 AS (SELECT doc_id AS v, $init AS r FROM d CROSS JOIN k),
      |$iterCtes
      |SELECT v, CAST(r AS BIGINT) AS rank FROM pr$iters ORDER BY v""".stripMargin
  }
  private lazy val pagerankOracleSql: String = pagerankOracle(5)

  /** HITS mirror (llm_hits): the same 3-out-link modulus graph, the
    * integer-quantized auth/hub half-steps unrolled round by round.
    * Each half-step's renormalization is `(raw · scale) // total` in
    * HUGEINT — exactly the engine's DECIMAL(38,0) product + integral
    * div; `greatest(total, 1)` mirrors the edge-free degenerate. */
  private def hitsOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prevHub = if (i == 1) "h0" else s"h${i - 1}"
      s"""ra$i AS (SELECT d.doc_id AS v, COALESCE(x.c, 0) AS raw
         |  FROM d LEFT JOIN (
         |    SELECT e.dst AS v, CAST(sum($prevHub.s) AS HUGEINT) AS c
         |    FROM e JOIN $prevHub ON $prevHub.v = e.src GROUP BY e.dst) x
         |  ON x.v = d.doc_id),
         |a$i AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000 //
         |  greatest((SELECT CAST(sum(raw) AS HUGEINT) FROM ra$i), 1)
         |  AS BIGINT) AS s FROM ra$i),
         |rh$i AS (SELECT d.doc_id AS v, COALESCE(x.c, 0) AS raw
         |  FROM d LEFT JOIN (
         |    SELECT e.src AS v, CAST(sum(a$i.s) AS HUGEINT) AS c
         |    FROM e JOIN a$i ON a$i.v = e.dst GROUP BY e.src) x
         |  ON x.v = d.doc_id),
         |h$i AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000 //
         |  greatest((SELECT CAST(sum(raw) AS HUGEINT) FROM rh$i), 1)
         |  AS BIGINT) AS s FROM rh$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id FROM documents),
      |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |e AS (SELECT doc_id AS src, (doc_id*7+1) % n AS dst FROM d CROSS JOIN cnt
      |  UNION ALL SELECT doc_id, (doc_id*11+3) % n FROM d CROSS JOIN cnt
      |  UNION ALL SELECT doc_id, (doc_id*13+5) % n FROM d CROSS JOIN cnt),
      |h0 AS (SELECT doc_id AS v, 1000000000 // n AS s FROM d CROSS JOIN cnt),
      |$iterCtes
      |SELECT a$iters.v, a$iters.s AS auth, h$iters.s AS hub
      |FROM a$iters JOIN h$iters ON h$iters.v = a$iters.v
      |ORDER BY a$iters.v""".stripMargin
  }

  /** Synthetic robots.txt bodies shared by `llm_robots_filter` and
    * `llm_crawl_pipeline`. Even hosts: a three-group file (the deny-all
    * `*` group the specific GraftBot group must BEAT, a MegaBot group
    * that must be skipped, a `*.pdf$` path wildcard, longest-match-wins, an
    * Allow/Disallow tie on /dl/). Odd hosts: a `*`-group-only file with
    * mixed-case directives, comments, CRLF, and a `/p` vs `/p/` length
    * tie-break. */
  private val robotsEvenBody: String =
    "# synthetic robots: specific group must beat *\n" +
      "Sitemap: https://cdn.example.org/sitemap.xml\n" +
      "User-agent: *\nDisallow: /\n\n" +
      "User-Agent: MegaBot\nDisallow: /\nDisallow:\n\n" +
      "User-Agent: GraftBot\n" +
      "Disallow: /private/\nDisallow: /*.pdf$\n" +
      "Allow: /p/\nAllow: /dl/\nDisallow: /dl/\nCrawl-delay: 2\n" +
      // a duplicate + a lowercase-key second sitemap: directives must
      // come back distinct, in first-occurrence file order
      "Sitemap: https://cdn.example.org/sitemap.xml\n" +
      "sitemap: https://cdn.example.org/sitemap2.xml\n"
  private val robotsOddBody: String =
    "User-agent: megabot\r\nDisallow: /\r\n\r\n" +
      "user-agent: *   # fallback group\r\n" +
      "disallow: /p\r\nallow: /p/\r\n"

  /** Robots-filter mirror, shared by llm_robots_filter and its
    * streaming twin (stream_robots_filter — the same map-only verdict
    * over a file stream): the verdict is a CLOSED FORM of the doc_id
    * moduli — the oracle never parses robots.txt; only the engine
    * does. Derivation (agent=GraftBot): even hosts bind the GraftBot
    * group {Disallow /private/, Disallow *.pdf$-wildcard, Allow /p/,
    * Allow /dl/, Disallow /dl/} — the /private/ paths lose to nothing
    * (deny), *.pdf is denied by the len-7 wildcard beating the len-3
    * Allow, the /p/ pages are allowed, the /dl/ pages hit an
    * equal-length Allow/Disallow tie and Allow wins; odd hosts have no
    * GraftBot group and fall back to the star group {disallow /p,
    * allow /p/} — the /private/ paths match only /p (deny), the /p/
    * pages hit the longer Allow, the /dl/ pages match nothing (default
    * allow); host d6 has no robots row = allowed by fetch convention. */
  private[queries] val robotsFilterOracleSql: String =
    """SELECT doc_id,
      |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ||
      |  CASE WHEN doc_id % 4 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
      |       WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id AS VARCHAR) || '.pdf'
      |       WHEN doc_id % 4 = 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
      |       ELSE '/dl/' || CAST(doc_id AS VARCHAR) END AS url,
      |  CASE WHEN doc_id % 7 = 6 THEN TRUE
      |       WHEN doc_id % 7 IN (0, 2, 4) THEN doc_id % 4 IN (2, 3)
      |       ELSE doc_id % 4 <> 0 END AS allowed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Synthetic URL column for the robots queries: host from doc_id%7,
    * path class from doc_id%4 (shared by the batch filter and the
    * streaming twin so both gate against [[robotsFilterOracleSql]]). */
  private[queries] def robotsUrlCol: org.apache.spark.sql.Column = {
    val h = pmod(col("doc_id"), lit(7))
    val p4 = pmod(col("doc_id"), lit(4))
    val path = when(p4 === 0,
        concat(lit("/private/x"), col("doc_id").cast("string")))
      .when(p4 === 1,
        concat(lit("/p/"), col("doc_id").cast("string"), lit(".pdf")))
      .when(p4 === 2, concat(lit("/p/"), col("doc_id").cast("string")))
      .otherwise(concat(lit("/dl/"), col("doc_id").cast("string")))
    concat(lit("https://d"), h.cast("string"), lit(".example.org"), path)
  }

  /** Per-host robots dimension for hosts d0..d5 (d6 deliberately has
    * NO row — fetch convention: absent robots = allowed). */
  private[queries] def robotsDim(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(7)).as("hostnum")).distinct()
      .filter(col("hostnum") =!= 6)
      .select(
        concat(lit("d"), col("hostnum").cast("string"),
          lit(".example.org")).as("host"),
        when(pmod(col("hostnum"), lit(2)) === 0, lit(robotsEvenBody))
          .otherwise(lit(robotsOddBody)).as("robots_txt"))

  /** Synthetic chrome-wrapped page shared by llm_html_main and its
    * streaming twin: nav + link-farm + footer boilerplate around two
    * real prose paragraphs keyed by doc_id. */
  private[queries] def htmlMainPage: org.apache.spark.sql.Column = {
    val id = col("doc_id").cast("string")
    concat(
      lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a></nav>"),
      lit("<p>Article body "), id,
      lit(" carries the real prose &amp; clears every bar.</p>"),
      lit("<div><a href=\"/r1\">one</a> <a href=\"/r2\">two</a> " +
        "<a href=\"/r3\">three</a> more</div>"),
      lit("<p>Second paragraph for doc "), id,
      lit(" long enough to keep by itself.</p>"),
      lit("<footer>(c) 2026</footer>"))
  }

  /** Synthetic C4 page shared by llm_c4_clean and stream_c4_lines:
    * three lines every line filter must drop, a three-sentence group
    * shared across doc_id%5 (the span-dedup target), a doc_id%11
    * page-fate variant, prose sentences from the text split at
    * ' the ', and a shared closing line. */
  private[graft] def c4Page: org.apache.spark.sql.Column = {
    val m11 = pmod(col("doc_id"), lit(11))
    concat(
      lit("tiny.\n"),
      lit("no terminal punctuation here\n"),
      lit("please enable javascript to continue.\n"),
      lit("sentence one for group "),
      pmod(col("doc_id"), lit(5)).cast("string"),
      lit(". sentence two stays here. sentence three stays here.\n"),
      when(m11 === 0,
          lit("this page mentions lorem ipsum somewhere in passing.\n"))
        .when(m11 === 1,
          lit("config block { nested } appears right here.\n"))
        .when(m11 === 2,
          lit("the forbidden zorblax word appears here.\n"))
        .when(m11 === 3, lit(""))
        .otherwise(concat(
          expr("replace(coalesce(text, ''), ' the ', '. ')"),
          lit(".\n"))),
      lit("the closing line ends with a word mark."))
  }

  /** Shared C4 mirror CTEs (synthesis → line filters → rebuild → page
    * verdict, ending at `pv(doc_id, n_lines, n_lines_kept, tl,
    * n_sentences, page_kept)`): llm_c4_clean continues into the span
    * dedup; stream_c4_lines selects pv directly. */
  private[queries] val c4StagesSql: String =
    """d2 AS (SELECT doc_id,
      |  'tiny.' || chr(10) ||
      |  'no terminal punctuation here' || chr(10) ||
      |  'please enable javascript to continue.' || chr(10) ||
      |  'sentence one for group ' || CAST(doc_id % 5 AS VARCHAR) ||
      |  '. sentence two stays here. sentence three stays here.' || chr(10) ||
      |  CASE doc_id % 11
      |    WHEN 0 THEN 'this page mentions lorem ipsum somewhere in passing.' || chr(10)
      |    WHEN 1 THEN 'config block { nested } appears right here.' || chr(10)
      |    WHEN 2 THEN 'the forbidden zorblax word appears here.' || chr(10)
      |    WHEN 3 THEN ''
      |    ELSE replace(coalesce(text, ''), ' the ', '. ') || '.' || chr(10)
      |  END ||
      |  'the closing line ends with a word mark.' AS text FROM documents),
      |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d2),
      |lines AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos FROM l0),
      |lk AS (SELECT doc_id, pos, line FROM lines
      |       WHERE regexp_matches(trim(line), '[.!?"]$')
      |         AND len(regexp_split_to_array(trim(line), '\s+')) >= 3
      |         AND NOT regexp_matches(lower(trim(line)), '\bjavascript\b')),
      |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
      |               string_agg(line, chr(10) ORDER BY pos) AS tl
      |        FROM lk GROUP BY doc_id),
      |pages AS (SELECT d.doc_id,
      |    CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
      |    coalesce(r.n_lines_kept, 0) AS n_lines_kept,
      |    coalesce(r.tl, '') AS tl
      |  FROM d2 d LEFT JOIN reb r ON r.doc_id = d.doc_id),
      |pv AS (SELECT doc_id, n_lines, n_lines_kept, tl,
      |    CAST(len(regexp_extract_all(tl, '[^.!?]*[.!?]')) AS BIGINT) AS n_sentences,
      |    (len(regexp_extract_all(tl, '[^.!?]*[.!?]')) >= 5
      |     AND NOT contains(lower(tl), 'lorem ipsum')
      |     AND NOT contains(tl, '{')
      |     AND NOT regexp_matches(lower(tl), '\b(zorblax)\b')) AS page_kept
      |  FROM pages)""".stripMargin

  /** Line+page mirror shared with the streaming twin: the pv stage
    * projected directly (bounded replay ≡ the batch stages). */
  private[queries] val c4LinesOracleSql: String =
    s"WITH $c4StagesSql\n" +
      """SELECT doc_id, n_lines, n_lines_kept, n_sentences, page_kept,
        |  md5(tl) AS lines_hash
        |FROM pv ORDER BY doc_id""".stripMargin

  /** Batch-retrieval mirror shared by llm_retrieval_topk and the
    * persisted-index twin (bit-identical by contract). */
  private[queries] val retrievalOracleSql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ntok) AS DOUBLE) / count(*) AS avgdl,
        |    CAST(sum(CASE WHEN list_contains(toks, 'key') THEN 1 ELSE 0 END) AS BIGINT) AS dfa,
        |    CAST(sum(CASE WHEN list_contains(toks, 'dup') THEN 1 ELSE 0 END) AS BIGINT) AS dfb,
        |    CAST(sum(CASE WHEN list_contains(toks, 'batch') THEN 1 ELSE 0 END) AS BIGINT) AS dfc,
        |    CAST(sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS BIGINT) AS dfd,
        |    CAST(sum(CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END) AS BIGINT) AS dfe
        |  FROM d),
        |tf AS (SELECT doc_id, CAST(ntok AS DOUBLE) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'key')) AS DOUBLE) AS tfa,
        |    CAST(len(list_filter(toks, x -> x = 'dup')) AS DOUBLE) AS tfb,
        |    CAST(len(list_filter(toks, x -> x = 'batch')) AS DOUBLE) AS tfc,
        |    CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tfd,
        |    CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tfe
        |  FROM d),
        |s0 AS (SELECT CAST(0 AS BIGINT) AS query_id, doc_id,
        |    ln((n - dfa + 0.5) / (dfa + 0.5) + 1.0) * tfa * (1.2 + 1.0) / (tfa + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - dfb + 0.5) / (dfb + 0.5) + 1.0) * tfb * (1.2 + 1.0) / (tfb + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS score,
        |    tfa + tfb AS th FROM tf, st),
        |s1 AS (SELECT CAST(1 AS BIGINT) AS query_id, doc_id,
        |    ln((n - dfc + 0.5) / (dfc + 0.5) + 1.0) * tfc * (1.2 + 1.0) / (tfc + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - dfd + 0.5) / (dfd + 0.5) + 1.0) * tfd * (1.2 + 1.0) / (tfd + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - dfe + 0.5) / (dfe + 0.5) + 1.0) * tfe * (1.2 + 1.0) / (tfe + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS score,
        |    tfc + tfd + tfe AS th FROM tf, st),
        |u AS (SELECT query_id, doc_id, score FROM s0 WHERE th > 0
        |      UNION ALL SELECT query_id, doc_id, score FROM s1 WHERE th > 0),
        |r AS (SELECT query_id, doc_id, score,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn FROM u)
        |SELECT query_id, CAST(rn - 1 AS INTEGER) AS "rank", doc_id, round(score, 6) AS score
        |FROM r WHERE rn <= 5 ORDER BY query_id, "rank"""".stripMargin

  /** Boilerplate-removal mirror shared by llm_html_main and
    * stream_html_main: the two surviving paragraphs as closed forms
    * of doc_id — the oracle never parses HTML. */
  private[queries] val htmlMainOracleSql: String =
    """SELECT doc_id,
      |  'Article body ' || CAST(doc_id AS VARCHAR) ||
      |  ' carries the real prose & clears every bar.' || chr(10) ||
      |  'Second paragraph for doc ' || CAST(doc_id AS VARCHAR) ||
      |  ' long enough to keep by itself.' AS main_text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-host sitemap XML dimension shared by llm_sitemap_ingest and
    * llm_revisit_select: one `<url>` entry per doc (loc = the shared
    * robots URL closed form with surrounding whitespace, lastmod =
    * 2026-01-(doc_id%28+1)), entries in doc_id order via sorted
    * collect_list so the bodies are deterministic. */
  private def sitemapDim(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val day = lpad(
      (pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0")
    val entry = concat(lit("<url><loc> "), robotsUrlCol,
      lit(" </loc><lastmod>2026-01-"), day, lit("</lastmod></url>"))
    t(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(7)).as("hostnum"),
        struct(col("doc_id"), entry.as("e")).as("se"))
      .groupBy("hostnum")
      .agg(array_join(
        transform(array_sort(collect_list(col("se"))), x => x("e")),
        "").as("body"))
      .select(
        concat(lit("d"), col("hostnum").cast("string"),
          lit(".example.org")).as("host"),
        concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset " +
            "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
          col("body"), lit("</urlset>")).as("sitemap_xml"))
  }

  val queries: Map[String, QFn] = Map(
    // exact dedup groups (hash → survivor id + multiplicity)
    "llm_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), col("text"), col("doc_id"))
        .orderBy("content_hash")),

    // exact dedup survivors count
    "llm_dedup_survivors" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
        .agg(count(lit(1)).as("cnt"))),

    // line-level (boilerplate) dedup, CCNet/RefinedWeb-style: drop
    // every line whose trimmed content appears >= 3 times across the
    // corpus (lines under 5 trimmed chars are structure, never counted
    // or removed), rebuild docs from the surviving lines in order —
    // audit = per-doc line counts + md5 of the rebuilt text. The corpus
    // is single-line prose, so the query synthesizes the line structure
    // the way llm_pii_redact synthesizes PII: a 3-variant promo header
    // (~167 copies each → removed), a footer on every doc (500 copies →
    // removed), a pair line (exactly 2 copies → UNDER the threshold,
    // kept), and natural splits of the prose at ' the ' (unique →
    // kept). The oracle joins line STRINGS where the engine joins
    // xxhash64 keys (exact absent 64-bit collisions, as with the
    // shingle pipelines)
    "llm_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text2", concat(
        lit("promo header variant "),
        pmod(col("doc_id"), lit(3)).cast("string"), lit("\n"),
        lit("rare pair line "),
        pmod(col("doc_id"), lit(250)).cast("string"), lit("\n"),
        regexp_replace(col("text"), " the ", "\n"),
        lit("\nsubscribe to our newsletter footer")))
      Dedup.dedupLines(docs, "text2", "doc_id",
          minOccurrences = 3, minLineChars = 5)
        .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
          md5(col("text_dedup")).as("dedup_hash"))
        .orderBy("doc_id")
    }),

    // token counts (whitespace tokenizer)
    "llm_text_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),

    // quality metrics (ratios of exact integer counts)
    "llm_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(t(s, dir, "documents"), col("text"))
        .select(col("doc_id"), col("alpha_ratio"), col("avg_token_len"),
          col("n_tokens"))
        .orderBy("doc_id")),

    // repetition quality filter (Gopher/C4-style): fraction of 2-gram /
    // 3-gram occurrences that duplicate an earlier one (exact integer
    // counts divided as doubles). coalesce(text,'') because the kernel
    // is null-intolerant (NULL in → NULL out) while the oracle's LEFT
    // JOIN coalesces null-text docs to ratio 0 — '' tokenizes to a
    // single trivially-distinct n-gram → 0 on both sides (ADVICE r04)
    "llm_text_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repeatedNgramRatio(coalesce(col("text"), lit("")), 2)
            .as("rep_2gram"),
          TextAnalysis.repeatedNgramRatio(coalesce(col("text"), lit("")), 3)
            .as("rep_3gram"))
        .orderBy("doc_id")),

    // Gopher-style heuristic quality rules: stopword coverage (union
    // multilingual list), symbol density, most-common-token
    // concentration (native single-pass top_token_ratio kernel) —
    // exact integer counts divided as doubles, oracle-checked
    "llm_quality_gopher" -> ((s, dir) =>
      TextAnalysis.gopherMetrics(t(s, dir, "documents"), col("text"))
        .select(col("doc_id"), col("stopword_ratio"), col("symbol_ratio"),
          col("top_token_ratio"))
        .orderBy("doc_id")),

    // the FULL Gopher repetition rule set (r13, Rae et al. 2021 A1.1):
    // duplicate line/paragraph fractions (unit + char mass), top
    // 2/3/4-gram char fraction, duplicated 5..10-gram char COVERAGE
    // (position union, never a per-occurrence sum), plus the Table A1
    // verdict. The corpus is single-line, so the query synthesizes
    // line/paragraph/repetition structure CONDITIONALLY so the verdict
    // discriminates: a duplicate line only for doc_id%4, a duplicate
    // paragraph pair only for doc_id%5 (others get id-unique paras), a
    // period-8 phrase repeat for doc_id%7 (hits n=5..8 coverage), a
    // period-10 repeat for doc_id%13 (hits n=9..10) — clean docs pass,
    // each trap class fails through its own rule. All 13 metrics are
    // exact integer divisions — no rounding anywhere
    "llm_gopher_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text3", concat(
        coalesce(col("text"), lit("")), lit("\n"),
        lit("boiler line alpha one\n"),
        lit("boiler line beta two"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("\nboiler line alpha one")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("\n\nshared paragraph block\n\nshared paragraph block"))
          .otherwise(concat(
            lit("\n\npara block "), col("doc_id").cast("string"),
            lit("\n\nsecond para "), col("doc_id").cast("string"))),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(
          "\nfive gram repeat alpha beta gamma delta epsilon " +
            "five gram repeat alpha beta gamma delta epsilon"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0, lit(
          "\nlong repeat u1 u2 u3 u4 u5 u6 u7 u8 " +
            "long repeat u1 u2 u3 u4 u5 u6 u7 u8"))
          .otherwise(lit(""))))
      Repetition.gopherRepetitionVerdict(docs, "text3", "doc_id")
        .orderBy("doc_id")
    }),

    // benchmark decontamination: per-corpus-doc count of distinct
    // 3-gram shingles shared with the src0 "benchmark" slice —
    // broadcast long-hash join, corpus scanned once (train-test
    // overlap filter; oracle joins the shingle STRINGS, which the
    // FNV-1a hash join reproduces exactly absent 64-bit collisions)
    "llm_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contamination(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    // span-level decontamination (r10): benchmark (src0) passages
    // quoted VERBATIM inside corpus docs located as maximal token
    // spans — the surgical counterpart of llm_decontaminate's
    // doc-level flags (cut the passage, keep the document)
    "llm_decontaminate_spans" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Spans.contaminatedSpans(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"),
          "text", "doc_id", 8)
        .orderBy("doc_id", "span_start")
    }),

    // PII redaction (C4-style scrub): deterministic synthetic PII is
    // appended per doc (the corpus itself is PII-free), then counted
    // and redacted — patterns are RE2-compatible so the oracle runs
    // the IDENTICAL regexes; redacted text compared by md5
    "llm_pii_redact" -> ((s, dir) => {
      val withPii = t(s, dir, "documents")
        .withColumn("text2", concat(
          col("text"), lit(" user"), col("doc_id").cast("string"),
          lit("@mail.example 10.0."),
          pmod(col("doc_id"), lit(200)).cast("string"),
          lit(".7 +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      TextAnalysis.piiCounts(withPii, col("text2"))
        .select(col("doc_id"),
          col("n_email").cast("long").as("n_email"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_phone").cast("long").as("n_phone"),
          md5(TextAnalysis.redactPii(col("text2"))).as("redacted_hash"))
        .orderBy("doc_id")
    }),

    // int8 embedding quantization QA: per-vector max-abs scale, code
    // checksum, L2 reconstruction error — all-declarative double
    // arithmetic mirrored exactly by the oracle
    "llm_quantize_int8" -> ((s, dir) =>
      Quantize.quantizationReport(t(s, dir, "embeddings"),
          "embedding", "vec_id")
        .orderBy("vec_id")),

    // sequence packing: head-to-tail token layout split every 64
    // tokens (docs span boundaries) — the distributed-prefix-sum
    // operator; the oracle is the closed-form global window cumsum
    "llm_pack_sequences" -> ((s, dir) => {
      Packing.packSequences(
        t(s, dir, "documents"), "text", "doc_id", ctxLen = 64)
        .orderBy("doc_id")
    }),

    // no-split bin packing, next-fit-decreasing (r13) — the OTHER
    // packing regime (docs whole inside fixed 256-token bins, padding
    // = waste): the histogram-driven closed form in llm/Packing, with
    // the padding-waste comparison columns the gate checks — n_bins ·
    // 256 − total vs the splitting packer's ideal ceil(total/256)
    // bins. The oracle replays the SAME greedy rule as a recursive
    // CTE over the length histogram (the BPE merge-loop pattern) and
    // re-derives every per-doc (bin_id, bin_offset) from the class
    // state — one pinned sequential rule, two engines
    "llm_pack_ffd" -> ((s, dir) => {
      val asg = Packing.packBinsDecreasing(
        t(s, dir, "documents"), "text", "doc_id", ctxLen = 256)
      val summary = asg.agg(
          (max("bin_id") + 1).as("n_bins"),
          sum("n_tokens").as("__tot"))
        .select(col("n_bins"),
          (col("n_bins") * 256 - col("__tot")).as("waste_tokens"),
          expr("(__tot + 255) div 256").as("ideal_bins"))
      asg.crossJoin(broadcast(summary))
        .select(col("doc_id"), col("n_tokens"), col("bin_id"),
          col("bin_offset"), col("n_bins"), col("waste_tokens"),
          col("ideal_bins"))
        .orderBy("doc_id")
    }),

    // winnowing k-gram sketch (window w=4 over FNV-1a token hashes),
    // exploded to (doc_id, fingerprint) rows — the plagiarism-style
    // near-dup sketch, oracle-mirrored token hash + window-min in SQL
    "llm_winnow" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.winnowed(col("text"), 4)).as("fp"))
        .orderBy("doc_id", "fp")),

    // exact-substring dedup spans: maximal merged token intervals whose
    // every 8-token window occurs ≥2 times in the corpus (1015 hot
    // grams / 2101 duplicated occurrences at sf0.01) — the suffix-array
    // dedup shape as one count + one co-partitioned join + per-doc
    // windows
    "llm_dup_spans" -> ((s, dir) => {
      Spans.duplicatedSpans(t(s, dir, "documents"), "text", "doc_id", 8)
        .select(col("doc_id"),
          col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"),
          col("n_grams"))
        .orderBy("doc_id", "span_start")
    }),

    // the span-removal action: md5 + length audit of the rewritten
    // corpus (span-free docs keep their bytes; spanned docs rejoin
    // surviving tokens)
    "llm_dup_span_removal" -> ((s, dir) => {
      Spans.removeDuplicatedSpans(
          t(s, dir, "documents"), "text", "doc_id", 8)
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).cast("long").as("len"))
        .orderBy("doc_id")
    }),

    // suffix-ranking ExactSubstr dedup (r15, Lee et al. 2021): same
    // removal semantics as llm_dup_span_removal but the duplicated
    // windows come from the prefix-doubling suffix ranking — exact
    // string equality through fixed-width integer classes, no gram
    // hashes anywhere. k=6 (vs the gram path's 8) so the two queries
    // gate different span sets. The oracle mirrors semantics with
    // exact gram strings.
    "llm_suffix_dedup" -> ((s, dir) => {
      SuffixDedup.dedupExactSubstrings(
          t(s, dir, "documents"), "text", "doc_id", 6)
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).cast("long").as("len"))
        .orderBy("doc_id")
    }),

    // incremental dedup against the persisted fingerprint index (r10):
    // the corpus (non-src0) is fingerprinted ONCE to disk (signatures
    // + shingle hashes); the "daily batch" (src0) is then checked
    // entirely against fingerprints — corpus text never re-read.
    // Capped bipartite banding, estimate prefilter, exact shingle
    // Jaccard >= 0.5
    "llm_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = s"target/minhash_index/${new java.io.File(dir).getName}"
      Dedup.writeMinhashIndex(docs.filter(col("source") =!= "src0"),
        "text", "doc_id", path)
      Dedup.nearDupsAgainstIndex(
          docs.filter(col("source") === "src0"), "text", "doc_id",
          s.read.parquet(path), jaccardThreshold = 0.5)
        .orderBy("new_id", "corpus_id")
    }),

    // cross-source duplication audit: distinct winnowed fingerprints
    // shared per source pair ("who copies from whom") — sketch-bounded
    // join, |sources|²/2-row output. lang used as the source taxonomy
    // at sf0.01 (5 groups → 10 cells, all non-trivial)
    "llm_source_overlap" -> ((s, dir) =>
      Dedup.crossSourceOverlap(t(s, dir, "documents"), "text", "lang")
        .orderBy("src_a", "src_b")),

    // leakage-controlled train/val split (r09; oracle-gated r10):
    // split key = the near-dup COMPONENT (embedding cosine pairs →
    // transitive closure), so near-duplicates never straddle splits;
    // 10% val via the deterministic fnv64 bucket of the component
    // label. Cosine threshold 0.4 sits inside the synthetic
    // embeddings' similarity distribution (max pairwise cosine ≈ 0.50)
    // so real multi-row components form at sf0.01 AND sf0.1 and the
    // oracle's transitive-closure CTE is actually exercised
    "llm_leakage_split" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.embeddingNearDups(emb, "embedding", "vec_id",
        planes = 8, minCosine = 0.4).select("ida", "idb")
      Mixing.leakageSplit(emb.select("vec_id"), "vec_id", pairs,
          valFraction = 0.1)
        .select("vec_id", "component", "split")
        .orderBy("vec_id")
    }),

    // deterministic source-weighted mixing: per-source keep rates via
    // the id-hash bucket (fnv64 mod 1000) — audit view of kept counts
    "llm_mix_sources" -> ((s, dir) =>
      Mixing.mixBySources(t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")),

    // grouped top-k via the bounded-buffer native aggregate (map-side
    // combined, at most k rows per partition×group cross the exchange
    // — no per-group full sort): top-3 docs per source by n_chars
    "llm_topk_by_source" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(graft.functions.TopKByScore(col("n_chars"), col("doc_id"), 3)
          .as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), col("pos"),
          col("col.score").as("score"), col("col.id").as("doc_id"))
        .orderBy("source", "pos")),

    // curation funnel: three cumulative quality stages evaluated in ONE
    // scan (single aggregation of cumulative-survival indicators, then
    // a declarative unpivot) — per-stage rows_in/rows_out/pass_rate,
    // the attrition table every pipeline paper leads with. Thresholds
    // sit inside the sf0.01 metric distribution so every stage drops
    // real rows
    "llm_curation_funnel" -> ((s, dir) => {
      val text = col("text")
      val ntok = TextAnalysis.tokenCount(text)
      val alpha =
        length(regexp_replace(text, "[^\\p{L}]", "")).cast("double") /
          length(text)
      val avgTok =
        length(regexp_replace(text, "\\s", "")).cast("double") / ntok
      Curate.funnel(t(s, dir, "documents"), Seq(
          "token_count" -> ntok.between(30L, 80L),
          "alpha_ratio" -> (alpha > 0.818),
          "avg_token_len" -> avgTok.between(4.3, 4.7)))
        .orderBy("stage_idx")
    }),

    // URL canonicalization (r11) — the Common-Crawl curation step
    // upstream of URL dedup: synthetic per-doc URLs (closed form of
    // doc_id: mixed-case www hosts, utm_* tracking params, fragments)
    // canonicalized map-only with regexp primitives whose patterns sit
    // in the Java∩RE2 common subset: cut fragment, drop utm_* params,
    // tidy dangling separators, lowercase host, strip leading www.
    "llm_url_canonical" -> ((s, dir) => {
      val url = concat(lit("https://"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("WWW.")).otherwise(lit("")),
        lit("d"), pmod(col("doc_id"), lit(17)).cast("string"),
        lit(".Example.org/p/"), col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("?utm_source=feed&ref="), col("doc_id").cast("string")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(lit("?id="), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("#frag"))
          .otherwise(lit("")))
      val noFrag = regexp_replace(url, "#.*", "")
      val host = regexp_extract(noFrag, "^https://([^/]+)", 1)
      val tail0 = regexp_extract(noFrag, "^https://[^/]+(.*)", 1)
      val tail = regexp_replace(
        regexp_replace(tail0, "utm_[^&]*&?", ""), "[?&]$", "")
      val canon = concat(lit("https://"),
        regexp_replace(lower(host), "^www\\.", ""), tail)
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"), canon.as("canon_url"))
        .orderBy("doc_id")
    }),

    // cross-crawl URL dedup (r11) — day N's batch (odd doc_ids)
    // against the seen-URL set (even doc_ids), urls built with small
    // moduli so genuine cross-parity collisions exist. The engine path
    // is Masks.bloomAntiJoin: Bloom sketches have no false negatives,
    // so definitely-novel urls SKIP the shuffle and only the
    // might-contain fraction pays the exact anti-join — identical
    // result to a plain left_anti at a fraction of the exchange
    "llm_url_dedup" -> ((s, dir) => {
      def urlOf(id: org.apache.spark.sql.Column) = concat(lit("https://d"),
        pmod(id, lit(7)).cast("string"), lit(".example.org/p/"),
        pmod(id, lit(23)).cast("string"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), urlOf(col("doc_id")).as("url"))
      val seen = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select("url")
      val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      graft.core.Masks.bloomAntiJoin(batch, seen, "url",
          expectedItems = 1000000L)
        .orderBy("doc_id")
        .select("doc_id", "url")
    }),

    // robots.txt politeness filter (r11) — the RFC 9309 step between
    // WARC ingestion and URL curation. Hosts d0..d6 get synthetic
    // robots bodies exercising the full parser surface: even hosts a
    // three-group file (a deny-all `*` group the specific GraftBot
    // group must BEAT, a MegaBot group that must be skipped, wildcard
    // `/*.pdf$` + longest-match-wins + an Allow/Disallow tie on /dl/);
    // odd hosts a `*`-group-only file with mixed-case directives,
    // comments, and a `/p` vs `/p/` length tie-break; host d6 has NO
    // robots row (fetch convention: absent robots = allowed). The
    // engine runs the REAL parser+matcher (sources/Robots via the
    // memoizing codegen'd RobotsAllowed kernel, broadcast per-host
    // dim); the oracle computes the verdict as a CLOSED FORM of the
    // doc_id moduli — it never parses robots.txt
    "llm_robots_filter" -> ((s, dir) => {
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), robotsUrlCol.as("url"))
      graft.sources.Robots.politenessFilter(urls, robotsDim(s, dir),
          "GraftBot")
        .select("doc_id", "url", "allowed")
        .orderBy("doc_id")
    }),

    // robots-from-WARC (r11) — the dim itself through the real
    // container path: Common Crawl publishes robots.txt fetches as
    // their own WARC set, so the politeness dim is PARSED OUT of
    // response records (synthetic per-host robots WARC blob → the real
    // streaming parser → host from the target URI → politenessFilter),
    // and the verdicts must equal the directly-built dim's — the
    // shared closed-form oracle gates the whole composition
    "llm_robots_from_warc" -> ((s, dir) => {
      val parseRobots = udf { (host: String, body: String) =>
        val blob = graft.sources.Warc.syntheticWarc(
          s"https://$host/robots.txt", "2026-01-01T00:00:00Z", body)
        val resp = graft.sources.Warc.parseBytes(blob).toSeq
          .find(_.warcType == "response").get
        val (_, payload) = graft.sources.Warc.httpPayload(resp.body).get
        val uri = resp.targetUri.get
        val h = uri.stripPrefix("https://").takeWhile(_ != '/')
        (h, new String(payload, java.nio.charset.StandardCharsets.UTF_8))
      }
      val robots = robotsDim(s, dir)
        .withColumn("__r", parseRobots(col("host"), col("robots_txt")))
        .select(col("__r._1").as("host"), col("__r._2").as("robots_txt"))
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), robotsUrlCol.as("url"))
      graft.sources.Robots.politenessFilter(urls, robots, "GraftBot")
        .select("doc_id", "url", "allowed")
        .orderBy("doc_id")
    }),

    // per-host fetch-scheduler directives (r11) — the OTHER half of
    // robots.txt politeness: Crawl-delay (min across the agent's
    // binding groups; the odd hosts' fallback group sets none → null)
    // and the file-global Sitemap list (distinct, file order). Map-only
    // over the host DIMENSION; the oracle computes both as closed
    // forms of the host parity
    "llm_robots_directives" -> ((s, dir) =>
      graft.sources.Robots.hostDirectives(robotsDim(s, dir), "GraftBot")
        .select(col("host"), col("crawl_delay"),
          size(col("sitemaps")).as("n_sitemaps"),
          when(size(col("sitemaps")) > 0, element_at(col("sitemaps"), 1))
            .as("first_sitemap"))
        .orderBy("host")),

    // Sitemap ingestion (r12) — the DISCOVERY half robots.txt's
    // Sitemap: directives point at: per-host sitemap XML bodies
    // (entries = the shared robots URL closed form with whitespace
    // and lastmod, built deterministically by sorted per-host
    // collect_list) parsed by the all-declarative regexp kernel, and
    // the resulting frontier pushed straight through the robots
    // politeness filter — parse → verdict, the full discovery funnel
    // with the real kernels composed. The oracle knows every field
    // (entry position, loc, lastmod, verdict) as a closed form of the
    // doc_id moduli; it never parses XML or robots.txt
    "llm_sitemap_ingest" -> ((s, dir) => {
      val frontier =
        graft.sources.Sitemap.parseSitemaps(sitemapDim(s, dir))
      graft.sources.Robots.politenessFilter(
          frontier.filter(!col("is_index")), robotsDim(s, dir),
          "GraftBot", urlCol = "loc")
        .select(col("host"), col("entry_pos"), col("loc").as("url"),
          col("lastmod"), col("allowed"))
        .orderBy("url")
    }),

    // recursive sitemap discovery (r12) — the two-level shape the
    // protocol's 50k-entry cap forces on any big host: each host's
    // <sitemapindex> lists two shard sitemaps (even/odd doc split),
    // the real parser flags them is_index, the frontier driver joins
    // the shard bodies back in and parses the leaves. Every field of
    // the final frontier (shard url, per-shard entry position, leaf
    // loc/lastmod) is a closed form of the doc_id moduli
    "llm_sitemap_recursive" -> ((s, dir) => {
      val hostCol = concat(lit("d"), col("hostnum").cast("string"),
        lit(".example.org"))
      def shardUrl(h: org.apache.spark.sql.Column,
          k: org.apache.spark.sql.Column) = concat(
        lit("https://"), h, lit("/sitemap-"), k.cast("string"),
        lit(".xml"))
      // the per-host INDEX bodies: two <sitemap> children each
      val index = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(7)).as("hostnum")).distinct()
        .select(hostCol.as("host"),
          concat(lit("<?xml version=\"1.0\"?><sitemapindex><sitemap>" +
              "<loc> "),
            shardUrl(hostCol, lit(0)),
            lit(" </loc></sitemap><sitemap><loc>"),
            shardUrl(hostCol, lit(1)),
            lit("</loc><lastmod>2026-02-01</lastmod></sitemap>" +
              "</sitemapindex>")).as("sitemap_xml"))
      // the shard LEAF bodies: host = doc_id%7, shard = doc_id%2
      val day = lpad(
        (pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0")
      val entry = concat(lit("<url><loc>"), robotsUrlCol,
        lit("</loc><lastmod>2026-01-"), day, lit("</lastmod></url>"))
      val shards = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(7)).as("hostnum"),
          pmod(col("doc_id"), lit(2)).as("shard"),
          struct(col("doc_id"), entry.as("e")).as("se"))
        .groupBy("hostnum", "shard")
        .agg(array_join(
          transform(array_sort(collect_list(col("se"))), x => x("e")),
          "").as("body"))
        .select(shardUrl(hostCol, col("shard")).as("shard_url"),
          concat(lit("<urlset>"), col("body"), lit("</urlset>"))
            .as("sitemap_xml"))
      // recurse THROUGH THE ENGINE LOOP (r13): discoverFrontier drives
      // index→leaf levels itself — fetch resolves child locs against
      // the stored shard bodies; the hand-composed two-level chain
      // this replaces is now SitemapSpec's reference
      graft.sources.Sitemap.discoverFrontier(
          index,
          ch => ch.select(col("host"), col("loc").as("shard_url"))
            .join(shards, Seq("shard_url")),
          maxDepth = 2)
        .select(col("host"), col("shard_url"), col("entry_pos"),
          col("loc").as("url"), col("lastmod"))
        .orderBy("url")
    }),

    // WARC revisit dedup round trip (r12) — the container-level
    // digest dedup Common Crawl actually ships (WARC 1.1 §6.7.2):
    // the doc_id%3==0 third recurs with content identical to last
    // crawl, so revisitSplit stamps it, writeCrawlFiles stores it as
    // empty-body `revisit` records (payload written ONCE per distinct
    // content across crawls — the archive layer's storage economy),
    // the reader surfaces digest+refers-to, and resolveRevisits
    // re-materializes the text from the previous crawl's store. Every
    // gated field — record type, byte count, resolved content hash,
    // refers-to pointers — is a closed form of the doc_id moduli
    "llm_warc_revisit" -> ((s, dir) => {
      val outDir = "target/warc_revisit"
      val dirFile = new java.io.File(outDir)
      if (dirFile.exists()) dirFile.listFiles().foreach(_.delete())
      val url = concat(lit("https://d"),
        pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"))
      val content = concat(lit("content "), col("doc_id").cast("string"))
      val docs = t(s, dir, "documents")
        .select(url.as("url"), lit("2026-02-01T00:00:00Z").as("warc_date"),
          content.as("text"), md5(content).as("payload_digest"))
      val prev = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(md5(content).as("digest"), url.as("orig_url"),
          lit("2025-12-01T00:00:00Z").as("orig_date"))
      val split = graft.sources.Warc.revisitSplit(docs, prev)
      graft.sources.Warc.writeCrawlFiles(split.repartition(8), outDir)
      val files = new java.io.File(outDir).listFiles()
        .map(_.getPath).filter(_.endsWith(".warc.gz")).sorted.toSeq
      val store = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(md5(content).as("digest"), content.as("text"))
      graft.sources.Warc.resolveRevisits(
          graft.sources.Warc.readWarcFiles(s, files), store)
        .select(col("url"), col("warc_type"), col("n_bytes"),
          md5(col("resolved_text")).as("content_hash"),
          col("refers_to_url"), col("refers_to_date"))
        .orderBy("url")
    }),

    // cross-crawl revisit selection (r12) — what a recurring crawl
    // DOES with sitemap lastmod: the parsed frontier joins the
    // previous crawl's (url, fetched_at) table; keep new URLs (odd
    // ids — absent from the even-id previous crawl) and modified ones
    // (lastmod day > the Jan-15 fetch date), drop the unchanged bulk.
    // ISO strings compare lexicographically, so the oracle's verdict
    // is pure doc_id-modulus arithmetic
    "llm_revisit_select" -> ((s, dir) => {
      val frontier =
        graft.sources.Sitemap.parseSitemaps(sitemapDim(s, dir))
      val previous = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(robotsUrlCol.as("loc"),
          lit("2026-01-15").as("fetched_at"))
      graft.sources.Sitemap.revisitSelect(frontier, previous)
        .select(col("host"), col("loc").as("url"), col("lastmod"),
          col("reason"))
        .orderBy("url")
    }),

    // CDX index selection (r11) — the step BEFORE WARC fetch at 100 TB:
    // synthesize the crawl's CDXJ index lines as a closed form of
    // doc_id (SURT key via the REAL transform, 14-digit ts, JSON field
    // block), parse them back with the real parser (regexp split +
    // native from_json — no UDF), and emit the range-fetch plan
    // (status 200 ∧ text/html, ordered per archive file by offset so a
    // fetcher reads forward). The oracle re-derives every field —
    // including the SURT — from the moduli; it never parses JSON
    "llm_cdx_select" -> ((s, dir) => {
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(pmod(id, lit(5)) === 0, lit("WWW.")).otherwise(lit("")),
        lit("d"), pmod(id, lit(7)).cast("string"),
        lit(".Example.org/p/"), id.cast("string"),
        when(pmod(id, lit(3)) === 0,
          concat(lit("?id="), id.cast("string"))).otherwise(lit("")))
      val status = when(pmod(id, lit(11)) === 0, lit("404"))
        .when(pmod(id, lit(13)) === 0, lit("301")).otherwise(lit("200"))
      val mime = when(pmod(id, lit(3)).isin(0, 2), lit("text/html"))
        .otherwise(lit("application/pdf"))
      val json = concat(lit("{\"url\": \""), url,
        lit("\", \"mime\": \""), mime,
        lit("\", \"status\": \""), status,
        lit("\", \"digest\": \"sha1:"), id.cast("string"),
        lit("\", \"length\": \""), (lit(100) + pmod(id, lit(900))).cast("string"),
        lit("\", \"offset\": \""), (id * 1234).cast("string"),
        lit("\", \"filename\": \"crawl-000"), pmod(id, lit(4)).cast("string"),
        lit(".warc.gz\"}"))
      val lines = t(s, dir, "documents").select(
        concat(graft.sources.Cdx.surtKey(url), lit(" "),
          (lit(20260101000000L) + id).cast("string"), lit(" "), json)
          .as("line"))
      graft.sources.Cdx.fetchPlan(
        graft.sources.Cdx.parseCdxLines(lines, "line").drop("line"))
    }),

    // WET write round trip (r11) — the EGEST half: the curated corpus
    // is written as real `.warc.gz` WET shards (per-record gzip
    // members, the Common Crawl layout) by the distributed writer,
    // then read back by the distributed reader; the oracle checks
    // url / byte count / content hash straight from the table. Writes
    // every pass by construction (the llm_lm_persisted pattern)
    "llm_wet_roundtrip" -> ((s, dir) => {
      val outDir = "target/wet_roundtrip"
      val dirFile = new java.io.File(outDir)
      if (dirFile.exists())
        dirFile.listFiles().foreach(_.delete())
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(
          concat(lit("https://d"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".example.org/p/"), col("doc_id").cast("string")).as("url"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          col("text"))
        .repartition(8)
      graft.sources.Warc.writeWetFiles(docs, outDir)
      val files = new java.io.File(outDir).listFiles()
        .map(_.getPath).filter(_.endsWith(".warc.gz")).sorted.toSeq
      graft.sources.Warc.readWarcFiles(s, files)
        .filter(col("warc_type") === "conversion")
        .select(col("url"), col("n_bytes"),
          md5(col("text")).as("content_hash"))
        .orderBy("url")
    }),

    // WebDataset tar-shard round trip (r12) — the interchange format
    // training loaders actually eat: the corpus writes as ustar
    // shards whose members pair into samples ({key}.txt + {key}.json,
    // each from real engine columns incl. native to_json), the
    // distributed reader streams them back; the oracle re-derives
    // key/ext/byte-count/hash — including the JSON bytes — as closed
    // forms of the table row. Framing, checksums, padding, commit
    // protocol are all the engine's
    "llm_tar_roundtrip" -> ((s, dir) => {
      val outDir = "target/tar_roundtrip"
      val dirFile = new java.io.File(outDir)
      if (dirFile.exists()) dirFile.listFiles().foreach(_.delete())
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(
          concat(lit("doc-"), col("doc_id").cast("string")).as("key"),
          col("text"),
          to_json(struct(col("doc_id"), col("lang"))).as("json"))
        .repartition(8)
      graft.sources.Tar.writeTarShards(docs, outDir)
      val files = new java.io.File(outDir).listFiles()
        .map(_.getPath).filter(_.endsWith(".tar")).sorted.toSeq
      graft.sources.Tar.readTarShards(s, files)
        .select(col("key"), col("ext"), col("n_bytes"),
          md5(col("content")).as("content_hash"))
        .orderBy("key", "ext")
    }),

    // multimodal tar shards (r12) — the reason WebDataset exists:
    // BINARY members ({key}.img raw bytes — here 16 deterministic
    // non-UTF8 bytes per doc) packed next to {key}.json metadata; the
    // reader must return the img bytes bit-exact (no string round
    // trip anywhere). Gated via hex(content): img = the md5 hex
    // closed form, json = the exact to_json bytes
    "llm_tar_multimodal" -> ((s, dir) => {
      val outDir = "target/tar_multimodal"
      val dirFile = new java.io.File(outDir)
      if (dirFile.exists()) dirFile.listFiles().foreach(_.delete())
      val docs = t(s, dir, "documents")
        .select(
          concat(lit("s-"), col("doc_id").cast("string")).as("key"),
          unhex(md5(concat(lit("payload-"),
            col("doc_id").cast("string")))).as("img"),
          to_json(struct(col("doc_id"))).as("json"))
        .repartition(8)
      graft.sources.Tar.writeTarMembers(docs, outDir, "key",
        Seq("img" -> "img", "json" -> "json"))
      val files = new java.io.File(outDir).listFiles()
        .map(_.getPath).filter(_.endsWith(".tar")).sorted.toSeq
      graft.sources.Tar.readTarShards(s, files)
        .select(col("key"), col("ext"), col("n_bytes"),
          upper(hex(col("content"))).as("content_hex"))
        .orderBy("key", "ext")
    }),

    // CDX range fetch (r12) — the access pattern the per-record-gzip
    // layout exists FOR, closed end to end: write WET shards (each
    // record its own member) + the sidecar member index, SELECT the
    // even-id half from the index, and range-fetch exactly those
    // records (one bounded read + one member decode each — the shards
    // are never scanned). At 100 TB this is the whole economics of a
    // crawl re-read: the index is ~1/1000th the archive, and the
    // selected fraction is the only IO. Oracle = the wet_roundtrip
    // closed forms restricted to even ids
    "llm_cdx_fetch" -> ((s, dir) => {
      val outDir = "target/cdx_fetch"
      val dirFile = new java.io.File(outDir)
      if (dirFile.exists())
        dirFile.listFiles().foreach(_.delete())
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(
          concat(lit("https://d"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".example.org/p/"), col("doc_id").cast("string")).as("url"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          col("text"))
        .repartition(8)
      graft.sources.Warc.writeWetFiles(docs, outDir)
      val plan = graft.sources.Warc.readMemberIndex(s, outDir)
        .filter(pmod(regexp_extract(col("url"), "/p/(\\d+)$", 1)
          .cast("long"), lit(2)) === 0)
      graft.sources.Warc.fetchRecordRanges(s, plan, outDir)
        .select(col("url"), col("n_bytes"),
          md5(col("text")).as("content_hash"))
        .orderBy("url")
    }),

    // WAT-style metadata roundtrip (r12) — the third member of the
    // Common Crawl WARC/WAT/WET trio: per-page metadata records
    // (title + link summary, the REAL HtmlLinks kernel output) built
    // declaratively with to_json, written as per-record-gzip
    // `metadata` records, read back by the distributed WAT reader and
    // re-parsed with from_json. The planted page is llm_html_links'
    // (decoys and all) plus a <title>, so the oracle knows every field
    // as a closed form and never parses HTML or JSON
    "llm_wat_roundtrip" -> ((s, dir) => {
      val outDir = "target/wat_roundtrip"
      val dirFile = new java.io.File(outDir)
      if (dirFile.exists())
        dirFile.listFiles().foreach(_.delete())
      val id = col("doc_id").cast("string")
      val h = pmod(col("doc_id"), lit(7)).cast("string")
      val html = concat(
        lit("<!DOCTYPE html><html><head><title>Doc "), id,
        lit("</title><script>var s = \"<a href='/decoy/1'>x</a>\";" +
          "</script></head><body>\n<!-- <a href=\"/decoy/2\">c</a> -->\n" +
          "<p>see <a href=\"/p/"), id,
        lit("\">first</a> and <a class='m' title=\"a > b\" href='https://d"),
        h, lit(".example.org/dl/"), id,
        lit("?a=1&amp;b=2'>second</a>, <a name=\"x\">no href</a> " +
          "<A HREF=/rel/"), id, lit(">third</A></p></body></html>"))
      val links = graft.functions.HtmlLinks(html)
      val wat = t(s, dir, "documents")
        .select(
          concat(lit("https://d"), h, lit(".example.org/p/"), id)
            .as("url"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          to_json(struct(
            regexp_extract(html, "<title>([^<]*)</title>", 1)
              .as("title"),
            links.as("links"),
            size(links).as("n_links"))).as("wat_json"))
        .repartition(8)
      graft.sources.Warc.writeWatFiles(wat, outDir)
      val files = new java.io.File(outDir).listFiles()
        .map(_.getPath).filter(_.endsWith(".warc.gz")).sorted.toSeq
      graft.sources.Warc.readWatFiles(s, files)
        .select(col("url"),
          from_json(col("json"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "title STRING, links ARRAY<STRING>, n_links INT"))
            .as("m"))
        .select(col("url"), col("m.title").as("title"),
          col("m.n_links").as("n_links"),
          array_join(col("m.links"), "|").as("links_joined"))
        .orderBy("url")
    }),

    // HTML link extraction (r11) — the link-graph feeder between WET
    // conversion and PageRank: hrefs of each page's <a> tags in
    // document order, by the REAL state-machine parser. The synthetic
    // page plants decoys (an <a href> inside script rawtext, another
    // inside a comment, a quoted '>' in an attribute, an href-less
    // <a>) and three real links covering double-quoted,
    // single-quoted-with-&amp;-entity, and unquoted-uppercase forms;
    // the oracle knows the three answers as closed forms and never
    // parses HTML
    "llm_html_links" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val h = pmod(col("doc_id"), lit(7)).cast("string")
      val html = concat(
        lit("<!DOCTYPE html><html><head>" +
          "<script>var s = \"<a href='/decoy/1'>x</a>\";</script>" +
          "</head><body>\n<!-- <a href=\"/decoy/2\">c</a> -->\n" +
          "<p>see <a href=\"/p/"), id,
        lit("\">first</a> and <a class='m' title=\"a > b\" href='https://d"),
        h, lit(".example.org/dl/"), id,
        lit("?a=1&amp;b=2'>second</a>, <a name=\"x\">no href</a> " +
          "<A HREF=/rel/"), id, lit(">third</A></p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.HtmlLinks(html).as("links"))
        .select(col("doc_id"), size(col("links")).as("n_links"),
          array_join(col("links"), "|").as("links_joined"))
        .orderBy("doc_id")
    }),

    // anchor-text extraction (r12) — the signal HtmlLinks drops and
    // WAT link records / ranking pipelines consume: (href, text) per
    // <a>, by the REAL state-machine kernel. Planted page exercises
    // inner-tag strip (<b>), newline + run collapse, entity decode in
    // BOTH href and text, a script decoy, a comment decoy, an
    // href-less <a> whose text must vanish, and an unquoted-uppercase
    // anchor closed by EOF; the oracle knows all three (href, text)
    // pairs as closed forms and never parses HTML
    "llm_anchor_text" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val h = pmod(col("doc_id"), lit(7)).cast("string")
      val html = concat(
        lit("<html><head><script>var s = \"<a href='/decoy'>x</a>\";" +
          "</script></head><body><p>see <a href=\"/p/"), id,
        lit("\">first <b>bold</b>\n link</a> then <a href='https://d"), h,
        lit(".example.org/dl/"), id,
        lit("?a=1&amp;b=2'>D&amp;D   guide</a><a name=\"x\">no href</a>" +
          "<!-- <a href=\"/c\">c</a> --> tail <A HREF=/rel/"), id,
        lit(">last one"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.HtmlAnchors(html).as("anchors"))
        .select(col("doc_id"), size(col("anchors")).as("n_links"),
          array_join(transform(col("anchors"),
            a => concat(a("href"), lit("->"), a("text"))), "|")
            .as("anchors_joined"))
        .orderBy("doc_id")
    }),

    // anchor-text target profile (r12) — what search/quality pipelines
    // DO with anchor text: aggregate, per target page, the terms OTHER
    // pages use to describe it (in-link anchor-term profile). Pages
    // link /p/((id·7+1)%n) with a source-dependent term, the REAL
    // HtmlAnchors kernel extracts (href, text), the profile is one
    // groupBy target — map-side-combined collect_set of a bounded term
    // vocabulary (5 terms), never raw text. The oracle re-derives the
    // in-link relation arithmetically and aggregates the same closed
    // forms — it never parses HTML
    "llm_anchor_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val html = concat(
        lit("<html><body><p>see <a href=\"/p/"),
        pmod(col("doc_id") * 7 + 1, lit(n)).cast("string"),
        lit("\">term"), pmod(col("doc_id"), lit(5)).cast("string"),
        lit(" quality</a></p>" +
          "<script>var d = \"<a href='/p/0'>decoy</a>\";</script>" +
          "</body></html>"))
      docs
        .select(explode(graft.functions.HtmlAnchors(html)).as("a"))
        .select(
          regexp_extract(col("a.href"), "^/p/(\\d+)$", 1).cast("long")
            .as("target"),
          split(col("a.text"), " ").getItem(0).as("term"))
        .groupBy("target")
        .agg(count(lit(1)).as("n_inlinks"),
          array_join(sort_array(collect_set(col("term"))), "|")
            .as("terms_joined"))
        .orderBy("target")
    }),

    // full-chain link PageRank (r11) — the composed pipeline with the
    // REAL extraction in the loop: synthetic pages carry three <a>
    // links to pages (id·7+1)%n, (id·11+3)%n, (id·13+5)%n → HtmlLinks
    // parses them → edge list by path regexp → 5 integer-quantized
    // PageRank rounds. The graph equals llm_pagerank's by
    // construction, so the same unrolled oracle gates the composition
    "llm_link_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      def a(mul: Long, add: Long) = concat(lit("<a href=\"/p/"),
        pmod(col("doc_id") * mul + add, lit(n)).cast("string"),
        lit("\">l</a>"))
      val html = concat(lit("<html><body><p>"),
        a(7, 1), a(11, 3), a(13, 5),
        lit("</p><script>var d = \"<a href='/p/0'>decoy</a>\";</script>" +
          "</body></html>"))
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(graft.functions.HtmlLinks(html)).as("href"))
        .select(col("src"),
          regexp_extract(col("href"), "^/p/(\\d+)$", 1).cast("long")
            .as("dst"))
      graft.core.Graph.pageRank(edges,
          docs.select(col("doc_id").as("v")), iters = 5)
        .orderBy("v")
    }),

    // link-graph PageRank (r11) — crawl prioritization over a
    // synthetic 3-out-link graph (dst moduli of doc_id), 5
    // integer-quantized iterations (rank div outdeg contributions,
    // (85·Σ) div 100 damping — exact integer algebra every round, so
    // the oracle unrolls the iterations bit-for-bit). One shuffle per
    // iteration, map-side-combined contribution sums
    "llm_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      def dsts(mul: Long, add: Long) = docs.select(
        col("doc_id").as("src"),
        pmod(col("doc_id") * mul + add, lit(n)).as("dst"))
      val edges = dsts(7, 1).unionByName(dsts(11, 3))
        .unionByName(dsts(13, 5))
      graft.core.Graph.pageRank(edges,
          docs.select(col("doc_id").as("v")), iters = 5)
        .orderBy("v")
    }),

    // warm-start PageRank (r12) — the incremental recurring-crawl
    // shape: re-rank THIS crawl's graph starting from last crawl's
    // rank vector instead of uniform (converges in a fraction of the
    // rounds); nodes with no previous rank (newly discovered — here
    // the doc_id % 3 != 0 two-thirds) start uniform. Same modulus
    // graph, 3 rounds, init = (v%10+1)·10⁶ on the v%3==0 third
    "llm_pagerank_warm" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      def dsts(mul: Long, add: Long) = docs.select(
        col("doc_id").as("src"),
        pmod(col("doc_id") * mul + add, lit(n)).as("dst"))
      val edges = dsts(7, 1).unionByName(dsts(11, 3))
        .unionByName(dsts(13, 5))
      val prev = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id").as("v"),
          ((pmod(col("doc_id"), lit(10)) + 1) * 1000000L).as("rank"))
      graft.core.Graph.pageRank(edges,
          docs.select(col("doc_id").as("v")), iters = 3,
          init = Some(prev))
        .orderBy("v")
    }),

    // HITS hubs/authorities (r12) — the OTHER classic link-graph
    // score next to PageRank (Kleinberg 1999): auth = in-link hub
    // sum, hub = out-link auth sum, each half-step renormalized to
    // scale total in exact integer algebra (DECIMAL(38,0) product +
    // integral div). Same 3-out-link modulus graph, 3 rounds; the
    // oracle unrolls the half-steps bit-for-bit
    "llm_hits" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      def dsts(mul: Long, add: Long) = docs.select(
        col("doc_id").as("src"),
        pmod(col("doc_id") * mul + add, lit(n)).as("dst"))
      val edges = dsts(7, 1).unionByName(dsts(11, 3))
        .unionByName(dsts(13, 5))
      graft.core.Graph.hits(edges,
          docs.select(col("doc_id").as("v")), iters = 3)
        .orderBy("v")
    }),

    // polite fetch schedule (r11) — the operator a crawler's fetcher
    // actually consumes: robots-allowed URLs get per-host serial slots
    // (URL order) and integer-ms offsets honoring each host's
    // crawl-delay (2 s on even hosts, the 1 s default on odd hosts —
    // robots present but delay unset — and on the robots-less d6). One
    // shuffle by host; directives broadcast
    "llm_fetch_schedule" -> ((s, dir) => {
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), robotsUrlCol.as("url"))
      val allowed = graft.sources.Robots.politenessFilter(
          urls, robotsDim(s, dir), "GraftBot")
        .filter(col("allowed")).drop("allowed")
      graft.sources.Robots.fetchSchedule(allowed,
          graft.sources.Robots.hostDirectives(robotsDim(s, dir),
            "GraftBot"))
        .select("host", "slot", "doc_id", "url", "fetch_offset_ms")
        .orderBy("host", "slot")
    }),

    // fetch schedule with server backoff (r12) — the OTHER politeness
    // signal a real scheduler honors: hosts that recently answered
    // 429/503 with Retry-After carry a per-host floor, max-merged with
    // the robots crawl-delay (a host asking to be left alone overrides
    // whatever its robots permits). Backoff dim: hosts h%3==0 (d0, d3,
    // AND the robots-less d6) at 4000+h·500 ms — so every merge case
    // is exercised: backoff>delay (d0: 4000>2000), backoff>default
    // (d3: 5500>1000), backoff on a host with no robots at all
    // (d6: 7000), and no-backoff hosts unchanged
    "llm_fetch_backoff" -> ((s, dir) => {
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), robotsUrlCol.as("url"))
      val allowed = graft.sources.Robots.politenessFilter(
          urls, robotsDim(s, dir), "GraftBot")
        .filter(col("allowed")).drop("allowed")
      val backoff = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(7)).as("hostnum")).distinct()
        .filter(pmod(col("hostnum"), lit(3)) === 0)
        .select(
          concat(lit("d"), col("hostnum").cast("string"),
            lit(".example.org")).as("host"),
          (lit(4000L) + col("hostnum") * 500L).as("retry_after_ms"))
      graft.sources.Robots.fetchSchedule(allowed,
          graft.sources.Robots.hostDirectives(robotsDim(s, dir),
            "GraftBot"),
          backoff = Some(backoff))
        .select("host", "slot", "doc_id", "url", "fetch_offset_ms")
        .orderBy("host", "slot")
    }),

    // end-to-end crawl curation (r11) — the whole funnel as ONE query,
    // every stage the REAL engine path: synthetic WARC blob → streaming
    // parser round trip → HtmlToText extraction (title/h1/body/footer
    // page with rawtext decoys) → URL canonicalization (strip fragment
    // + utm params, lowercase host, strip www.) → robots politeness on
    // the canonical URL (broadcast per-host dim, host d6 absent) →
    // cross-crawl dedup (odd-id batch Bloom-anti-joined against the
    // even-id previous crawl; page number doc_id%23 so genuine
    // cross-parity URL collisions exist) → per-domain cap (k-bounded
    // TopKByScore, top 3 by extracted length) → join back for the
    // kept rows' payloads. The oracle reproduces every stage as a
    // CLOSED FORM of the table row: it never parses WARC, HTML, or
    // robots.txt — only the engine does
    "llm_crawl_pipeline" -> ((s, dir) => {
      val fetch = udf { (id: Long, text: String) =>
        val esc = text.replace("&", "&amp;").replace("<", "&lt;")
          .replace(">", "&gt;")
        val html = "<!DOCTYPE html><html><head><title>Doc " + id +
          "</title>\n<style>body { color: #fff; }</style>\n" +
          "<script>if (1 < 2) { var s = \"</div>\"; }</script>\n" +
          "</head><body>\n<!-- boilerplate <nav> comment -->\n" +
          "<h1>Doc &amp; " + id + "</h1>\n<p>" + esc +
          "</p>\n<div>footer&nbsp;&#169;2026</div>\n</body></html>"
        val page = id % 23
        val path = (id % 3) match {
          case 0 => s"/private/x$page"
          case 1 => s"/p/$page.pdf"
          case _ => s"/p/$page"
        }
        val www = if (id % 5 == 0) "WWW." else ""
        val q = if (id % 4 == 0) s"?utm_source=feed&utm_ref=$id" else ""
        val frag = if (id % 5 == 0) "#frag" else ""
        val rawUrl = s"https://${www}d${id % 7}.Example.org$path$q$frag"
        val blob = graft.sources.Warc.syntheticWarc(
          rawUrl, "2026-01-01T00:00:00Z", html)
        val resp = graft.sources.Warc.parseBytes(blob).toSeq
          .find(_.warcType == "response").get
        val (_, payload) = graft.sources.Warc.httpPayload(resp.body).get
        (resp.targetUri.get,
          new String(payload, java.nio.charset.StandardCharsets.UTF_8))
      }
      val fetched = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("__f", fetch(col("doc_id"), col("text")))
        .select(col("doc_id"), col("__f._1").as("url"),
          graft.functions.HtmlToText(col("__f._2")).as("extracted"))
      val noFrag = regexp_replace(col("url"), "#.*", "")
      val host = regexp_extract(noFrag, "^https://([^/]+)", 1)
      val tail0 = regexp_extract(noFrag, "^https://[^/]+(.*)", 1)
      val tail = regexp_replace(
        regexp_replace(tail0, "utm_[^&]*&?", ""), "[?&]$", "")
      // r17 (guide §5): the fetch-UDF + HtmlToText chain feeds FOUR
      // executions (the previous-crawl side, the Bloom build over it,
      // the candidate side, and the survivors' payload join-back) —
      // materialize the canonicalized fetch ONCE; every consumer
      // reads the doc-sized checkpoint instead of re-fetching
      val canon = Scope.checkpoint(fetched.withColumn("canon_url",
        concat(lit("https://"),
          regexp_replace(lower(host), "^www\\.", ""), tail)))
      val polite = graft.sources.Robots.politenessFilter(
          canon, robotsDim(s, dir), "GraftBot", urlCol = "canon_url")
        .filter(col("allowed"))
      val seen = canon.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select("canon_url")
      val novel = graft.core.Masks.bloomAntiJoin(
        polite.filter(pmod(col("doc_id"), lit(2)) === 1), seen,
        "canon_url", expectedItems = 1000000L)
      // survivors table read twice (domain-cap aggregate + payload
      // join-back) — small (id, url, domain, len, hash), checkpoint
      val scored = Scope.checkpoint(novel.select(col("doc_id"),
        col("canon_url"),
        regexp_extract(col("canon_url"), "^https://([^/]+)", 1)
          .as("domain"),
        length(col("extracted")).cast("long").as("n_chars"),
        md5(col("extracted")).as("content_hash")))
      val capped = scored
        .groupBy("domain")
        .agg(graft.functions.TopKByScore(
          col("n_chars").cast("double"), col("doc_id"), 3).as("top"))
        .select(col("domain"), posexplode(col("top")))
        .select(col("domain"), (col("pos") + 1).as("rank"),
          col("col.id").as("doc_id"))
      capped.join(scored.drop("domain"), Seq("doc_id"))
        .select("domain", "rank", "doc_id", "canon_url", "n_chars",
          "content_hash")
        .orderBy("domain", "rank")
    }),

    // DSIR importance weights (r11) — Xie et al. 2023's targeted data
    // selection: hashed unigram+bigram bucket distributions (FNV-1a →
    // pmod 4096; power of two so the oracle's unsigned residue equals
    // the engine's signed pmod), add-one smoothing, per-bucket
    // log-ratios quantized to integer micro-nats, per-doc weight = the
    // exact integer sum. Target = src0 docs, pool = the rest
    "llm_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      Dsir.weigh(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 4096)
        .select("doc_id", "n_grams", "weight_micro")
        .orderBy("doc_id")
    }),

    // DSIR selection (r11) — the argmax-k of the importance weights
    // via the k-bounded map-side TopKByScore aggregate (no global
    // sort), ties broken by doc_id: "the 25 pool docs most like the
    // target corpus"
    "llm_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      Dsir.selectTopK(
        Dsir.weigh(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 4096),
        "doc_id", 25)
        .orderBy("rank")
    }),

    // HTML→text extraction (r11) — the WET conversion step: each doc's
    // text is escaped and wrapped into a full synthetic page
    // (doctype, title, style+script rawtext with decoy tags inside, a
    // comment, entity-bearing h1/footer), then the REAL codegen'd
    // tokenizer-state-machine kernel (functions/HtmlToText) recovers
    // the visible text; the oracle computes the SAME expected string
    // as a closed form of the table columns (never parsing HTML) —
    // title line, h1 line, the whitespace-normalized body, the
    // entity-decoded footer. Map-only, embarrassingly parallel; at
    // 100 TB this runs inside the WARC-parse task, no exchange
    "llm_html_extract" -> ((s, dir) => {
      val esc = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<!DOCTYPE html><html><head><title>Doc "), id,
        lit("</title>\n<style>body { color: #fff; }</style>\n" +
          "<script>if (1 < 2) { var s = \"</div>\"; }</script>\n" +
          "</head><body>\n<!-- boilerplate <nav> comment -->\n" +
          "<h1>Doc &amp; "), id,
        lit("</h1>\n<p>"), esc,
        lit("</p>\n<div>footer&nbsp;&#169;2026</div>\n</body></html>"))
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.HtmlToText(html).as("extracted"))
        .select(col("doc_id"),
          length(col("extracted")).as("n_chars"),
          md5(col("extracted")).as("content_hash"))
        .orderBy("doc_id")
    }),

    // z-order layout key (r12) — the write-side half of predicate
    // pushdown (Delta/Iceberg OPTIMIZE ZORDER): bit-interleave of two
    // 8-bit coordinates derived from doc_id, all declarative bit
    // algebra (shiftright/&1/shiftleft — codegen'd, no UDF); the
    // oracle re-derives every bit with //, %, and powers of two. The
    // WRITE path (range exchange → disjoint per-file z ranges) is
    // pinned by LayoutSpec; this gates the curve itself
    "llm_zorder" -> ((s, dir) => {
      val x = pmod(col("doc_id"), lit(256L))
      val y = pmod(expr("doc_id div 256"), lit(256L))
      t(s, dir, "documents")
        .select(col("doc_id"), x.as("x"), y.as("y"),
          graft.core.Layout.zValue(Seq(x, y), 8).as("z_value"))
        .orderBy("doc_id")
    }),

    // Hilbert layout key (r15) — the locality-tighter curve next to
    // llm_zorder (consecutive indices are always grid-adjacent; Delta's
    // OPTIMIZE grew a Hilbert mode for exactly this): 6-bit coordinates
    // from (doc_id, n_chars), the per-bit quadrant-rank + reflect/swap
    // transform as one codegen'd aggregate fold. The oracle replays the
    // loop bit plane by bit plane in a recursive CTE; LayoutSpec pins
    // the curve properties (bijection, unit-step adjacency) and the
    // clustered-write lifecycle
    "llm_hilbert_curve" -> ((s, dir) => {
      val x = pmod(col("doc_id"), lit(64L))
      val y = pmod(col("n_chars"), lit(64L))
      t(s, dir, "documents")
        .select(col("doc_id"), x.as("hx"), y.as("hy"),
          graft.core.Layout.hilbertValue(x, y, 6).as("h_value"))
        .orderBy("doc_id")
    }),

    // d-dimensional Hilbert (r16): the Skilling transpose transform
    // over a 3-column layout key at 4 bits/dim — real layout keys are
    // often 3–4 columns (VERDICT r15 "Next round" 4). The oracle
    // replays the plane loop in a recursive CTE and the Gray/
    // suffix-parity/interleave closing steps in closed form;
    // LayoutSpec pins bijection + unit-step adjacency at d=3/d=4
    "llm_hilbert3d" -> ((s, dir) => {
      val x = pmod(col("doc_id") * 37L, lit(16L))
      val y = pmod(col("n_chars"), lit(16L))
      val z = pmod(col("doc_id") * 91L, lit(16L))
      t(s, dir, "documents")
        .select(col("doc_id"), x.as("hx"), y.as("hy"), z.as("hz"),
          graft.core.Layout.hilbertValueN(Seq(x, y, z), 4).as("h_value"))
        .orderBy("doc_id")
    }),

    // z-order pruning economics (r12) — the layout CONTRACT gated end
    // to end: write the real clustered files at query time, run a
    // selective 2-D range query (z < 2¹² ⟺ x < 64 ∧ y < 64 — the
    // interleave makes the 2-D box ONE z prefix range), and assert
    // via input_file_name() that it touched a strict subset of the
    // files (disjoint per-file z ranges = file-level skipping; at
    // 100 TB this is selected-bytes vs table-bytes). n_selected is
    // the oracle's closed form; the pruning assertion rides as a
    // boolean (the a5/recall bound-oracle pattern)
    "llm_zorder_prune" -> ((s, dir) => {
      val outDir = "target/zorder_prune"
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      rmrf(new java.io.File(outDir))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(256L)).as("x"),
        pmod(expr("doc_id div 256"), lit(256L)).as("y"))
      graft.core.Layout.zorderWrite(docs, Seq("x", "y"), outDir,
        nFiles = 8)
      val all = s.read.parquet(outDir)
      val nFiles = all.select(input_file_name()).distinct().count()
      val hit = all.filter(col("z_value") < 4096)
      val touched = hit.select(input_file_name()).distinct().count()
      hit.agg(count(lit(1)).as("n_selected"))
        .select(col("n_selected"),
          lit(touched < nFiles && touched >= 1).as("files_pruned"))
    }),

    // z-order OPTIMIZE under append (r13, VERDICT r12 "What's missing"
    // 1) — the full Delta/Iceberg lifecycle gated end to end: initial
    // clustered write (even doc_ids), an append that DECAYS the layout
    // (odd doc_ids overlap the old z ranges — asserted), then
    // Layout.zorderOptimize re-clusters ONLY overlapping files (the
    // compactMinhashIndex bounded-rewrite + swap pattern) and the gate
    // asserts disjointness is RESTORED, files were rewritten, the box
    // query still prunes, and — via the oracle's closed form — not one
    // row was lost or duplicated by the swap
    "llm_zorder_optimize" -> ((s, dir) => {
      val outDir = "target/zorder_optimize"
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      rmrf(new java.io.File(outDir))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(256L)).as("x"),
        pmod(expr("doc_id div 256"), lit(256L)).as("y"))
      graft.core.Layout.zorderWrite(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0),
        Seq("x", "y"), outDir, nFiles = 4)
      graft.core.Layout.zorderAppend(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1),
        Seq("x", "y"), outDir, nFiles = 4)
      val decayed = graft.core.Layout.zRangesOverlap(
        graft.core.Layout.fileZRanges(s, outDir))
      val rewritten = graft.core.Layout.zorderOptimize(s, outDir)
      val restored = !graft.core.Layout.zRangesOverlap(
        graft.core.Layout.fileZRanges(s, outDir))
      val all = s.read.parquet(outDir)
      val nFiles = all.select(input_file_name()).distinct().count()
      val hit = all.filter(col("z_value") < 4096)
      val touched = hit.select(input_file_name()).distinct().count()
      hit.agg(count(lit(1)).as("n_selected"))
        .select(col("n_selected"),
          lit(decayed && rewritten > 0 && restored &&
            touched < nFiles && touched >= 1).as("optimized"))
    }),

    // boilerplate removal (r12) — the jusText/trafilatura curation
    // step (RefinedWeb/FineWeb's main-content extraction): each doc
    // renders as a page with nav chrome, a link-farm div, and a short
    // footer around two real prose paragraphs; the codegen'd
    // block-density kernel (functions/HtmlMainText — length ≥ 25,
    // link density ≤ 300‰, integer-exact) must keep EXACTLY the two
    // paragraphs joined by \n. The oracle emits the same expected
    // string as a closed form of doc_id — it never parses HTML
    "llm_html_main" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.HtmlMainText(htmlMainPage).as("main_text"))
        .orderBy("doc_id")),

    // WARC ingestion (r11) — the Common Crawl container: each doc is
    // wrapped into a synthetic two-record WARC blob (warcinfo +
    // response with a real HTTP message, the mm_* self-fixture
    // pattern) and parsed back by the REAL streaming parser
    // (sources/Warc.records) on executors; the oracle checks url /
    // payload byte count / content hash straight from the table. At
    // 100 TB the same parser runs one-crawl-file-per-task
    // (Warc.readWarcFiles) — WARC is not splittable, files are
    "llm_warc_ingest" -> ((s, dir) => {
      val parse = udf { (id: Long, text: String) =>
        val url = s"https://d${id % 17}.example.org/p/$id"
        val blob = graft.sources.Warc.syntheticWarc(
          url, "2026-01-01T00:00:00Z", text)
        val recs = graft.sources.Warc.parseBytes(blob).toSeq
        val resp = recs.find(_.warcType == "response").get
        val (_, payload) = graft.sources.Warc.httpPayload(resp.body).get
        (resp.targetUri.get, payload.length.toLong,
          new String(payload, java.nio.charset.StandardCharsets.UTF_8))
      }
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("__p", parse(col("doc_id"), col("text")))
        .select(col("doc_id"), col("__p._1").as("url"),
          col("__p._2").as("n_bytes"), md5(col("__p._3")).as("content_hash"))
        .orderBy("doc_id")
    }),

    // per-domain cap (r11) — the Common-Crawl anti-spam step: keep at
    // most 3 docs per registered domain, best-first. The 100 TB shape
    // is the k-bounded map-side TopKByScore aggregate (at most k rows
    // per partition×domain reach the exchange), NOT a row_number
    // window (which shuffles and sorts every group in full); the
    // oracle mirrors it as the window form — one semantics, two
    // physical strategies
    "llm_domain_cap" -> ((s, dir) => {
      val domain = concat(lit("d"),
        pmod(col("doc_id"), lit(17)).cast("string"), lit(".example.org"))
      t(s, dir, "documents")
        .select(col("doc_id"), domain.as("domain"),
          col("n_chars").cast("double").as("score"))
        .groupBy("domain")
        .agg(graft.functions.TopKByScore(
          col("score"), col("doc_id"), 3).as("top"))
        .select(col("domain"), posexplode(col("top")))
        .select(col("domain"), (col("pos") + 1).as("rank"),
          col("col.id").as("doc_id"),
          col("col.score").cast("long").as("n_chars"))
        .orderBy("domain", "rank")
    }),

    // overlapping chunking (context-window prep): 32-token windows,
    // 8-token overlap (stride 24) — map-only explode, bounded per-row
    "llm_chunk_overlap" -> ((s, dir) =>
      Chunk.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
          size = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),

    // budget-bounded selection: keep the minimal alpha-ratio-ordered
    // prefix covering 12k tokens (~44% of the sf0.01 corpus — the
    // budget bites mid-corpus, straddler included, ties broken by
    // doc_id in both engines). One range shuffle + P-row partials;
    // partitions past the budget are pruned before the window
    "llm_token_budget" -> ((s, dir) => {
      val alpha =
        length(regexp_replace(col("text"), "[^\\p{L}]", "")).cast("double") /
          length(col("text"))
      Select.takeTokenBudget(
          t(s, dir, "documents"), "text", "doc_id", alpha, budget = 12000L)
        .select("doc_id", "n_tokens", "tokens_before")
        .orderBy("doc_id")
    }),

    // REAL greedy BPE subword encoding (native codegen'd expression,
    // merge table as a codegen reference object) exploded to
    // (doc_id, pos, token_id) — the oracle replays the pinned
    // lowest-rank-leftmost merge loop as a recursive CTE over the
    // inlined merge table
    "llm_bpe_encode" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(Bpe.encode(col("text"))).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id"))
        .orderBy("doc_id", "pos")),

    // BPE round trip (r13): decode(encode(text)) must equal text with
    // its whitespace squeezed out — the id scheme's bijectivity and
    // totality (code points below 10^6, MergedIdBase+rank above, no
    // UNK) pinned corpus-wide. The oracle does NOT replay the merge
    // loop: the CLAIM is the squeezed-identity equation itself, so the
    // mirror computes the squeeze directly and any encode/decode defect
    // breaks the hash
    "llm_bpe_roundtrip" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bpe.decode(Bpe.encode(coalesce(col("text"), lit(""))))
            .as("__dec"))
        .select(col("doc_id"),
          length(col("__dec")).cast("long").as("n_chars_squeezed"),
          md5(col("__dec")).as("roundtrip_hash"))
        .orderBy("doc_id")),

    // sequence packing on REAL BPE token counts (VERDICT r08 missing 1:
    // the heuristic-count packing ships approximations) — same
    // distributed-prefix-sum operator, tokenCounter swapped
    "llm_pack_bpe" -> ((s, dir) => {
      Packing.packSequences(
          t(s, dir, "documents"), "text", "doc_id", ctxLen = 128,
          tokenCounter = c => Bpe.count(c))
        .orderBy("doc_id")
    }),

    // budget-bounded selection on REAL BPE counts: minimal
    // alpha-ratio-ordered prefix covering 40k subword tokens (~41% of
    // the sf0.01 corpus's 97,214 BPE tokens — the budget bites
    // mid-corpus, straddler included)
    "llm_budget_bpe" -> ((s, dir) => {
      val alpha =
        length(regexp_replace(col("text"), "[^\\p{L}]", "")).cast("double") /
          length(col("text"))
      Select.takeTokenBudget(
          t(s, dir, "documents"), "text", "doc_id", alpha, budget = 40000L,
          tokenCounter = c => Bpe.count(c))
        .select("doc_id", "n_tokens", "tokens_before")
        .orderBy("doc_id")
    }),

    // overlapping chunking of the REAL token-id stream (32-id windows,
    // 8 overlap): what an embedding/training pipeline feeds the model —
    // id slices, not rejoined text; exploded for the value compare
    "llm_chunk_bpe" -> ((s, dir) =>
      Chunk.chunkIds(
          t(s, dir, "documents")
            .select(col("doc_id"), Bpe.encode(col("text")).as("ids")),
          "ids", "doc_id", size = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("n_chunk_tokens"),
          posexplode(col("chunk_ids")).as(Seq("ipos", "token_id")))
        .select(col("doc_id"), col("chunk_idx"),
          col("ipos").cast("long").as("ipos"), col("token_id"))
        .orderBy("doc_id", "chunk_idx", "ipos")),

    // MATERIALIZED packed sequences (r09): real BPE ids laid
    // head-to-tail and cut every 128 — the rows a trainer reads, via
    // the prefix-sum offset + one token-level shuffle; exploded for
    // the value compare (every token's (sequence, slot, id) gated)
    "llm_pack_emit" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id"), Bpe.encode(col("text")).as("ids"))
      Packing.materializeSequences(ids, "ids", "doc_id", ctxLen = 128)
        .select(col("seq_id"), posexplode(col("token_ids"))
          .as(Seq("ipos", "token_id")))
        .select(col("seq_id"), col("ipos").cast("long").as("ipos"),
          col("token_id"))
        .orderBy("seq_id", "ipos")
    }),

    // BPE vocabulary TRAINING (r09): 4 Sennrich rounds over the
    // word-frequency table — per round one pair-count aggregate + a
    // 1-row argmax (ties count DESC, then (l, r)); the merge applies
    // as a declarative left fold. Oracle: the rounds unroll into SQL
    // (the Lloyd pattern), merge application via list_reduce
    "llm_bpe_learn" -> ((s, dir) => {
      import s.implicits._
      Bpe.learnMerges(t(s, dir, "documents"), "text", nMerges = 4)
        .zipWithIndex.map { case ((l, r, c), i) => (i + 1L, l, r, c) }
        .toDF("rank", "left_sym", "right_sym", "pair_count")
    }),

    // unigram-LM (SentencePiece-family) vocabulary TRAINING (r14,
    // VERDICT r13 task 4): substring seed → 2 hard-EM rounds (Viterbi
    // segment under current counts, re-count usage, prune) → top-40
    // ranked pieces. The oracle re-derives the WHOLE chain — seed
    // counts, both EM rounds' exact-integer Viterbi DPs as recursive
    // CTEs, pruning, ranking — from first principles
    "llm_unigram_learn" -> ((s, dir) => {
      import s.implicits._
      Unigram.learn(t(s, dir, "documents"), "text")
        .rankedWithCounts
        .map { case (r, p, c) => (r.toLong, p, c) }
        .toDF("rank", "piece", "piece_count")
    }),

    // unigram encode of the corpus under the self-trained vocabulary —
    // the llm_bpe_encode twin: every token's (doc, position, id) gated
    "llm_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = Unigram.learn(docs, "text")
      docs.select(col("doc_id"),
          posexplode(Unigram.encode(col("text"), v))
            .as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id"))
        .orderBy("doc_id", "pos")
    }),

    // sequence packing on REAL unigram counts — the llm_pack_bpe twin:
    // the downstream budget/packing machinery consumes tokenizations
    // from EITHER subword family through the same tokenCounter seam
    "llm_pack_unigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = Unigram.learn(docs, "text")
      Packing.packSequences(docs, "text", "doc_id", ctxLen = 128,
          tokenCounter = c => Unigram.count(c, v))
        .orderBy("doc_id")
    }),

    // length-bucketed curriculum batching (r15) — the third packing
    // regime: power-of-two length buckets (integer binary-digit rule,
    // never float log2), ascending-bucket curriculum, deterministic
    // FNV in-bucket shuffle, per-bucket batch boundaries; ranks ride
    // the GlobalOrder decomposition (a per-bucket window would be one
    // task per bucket — buckets are few and huge)
    "llm_length_curriculum" -> ((s, dir) => {
      Packing.lengthCurriculumBatches(
          t(s, dir, "documents"), "text", "doc_id", batchSize = 32)
        .orderBy("doc_id")
    }),

    // tokenizer-fertility report (r14; wordpiece added r15):
    // tokens-per-1000-words by source for ALL THREE trained subword
    // families — every statistic an exact integer, one corpus pass,
    // map-side-combined per-source aggregate; the "which tokenizer on
    // MY corpus" QA view
    "llm_tokenizer_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = Unigram.learn(docs, "text")
      val wv = WordPiece.vocabFromMerges(
        WordPiece.learnMerges(docs, "text", nMerges = 4))
      TokenizerEval.fertility(docs, "text", "source", Seq(
          "bpe" -> (c => Bpe.count(c)),
          "unigram" -> ((c: org.apache.spark.sql.Column) =>
            Unigram.count(c, v)),
          "wordpiece" -> ((c: org.apache.spark.sql.Column) =>
            WordPiece.count(c, wv))))
        .orderBy("source")
    }),

    // unigram round trip: decode(encode(text)) ≡ whitespace-squeezed
    // text (the llm_bpe_roundtrip equation — the oracle computes the
    // squeeze directly; any encode/decode/id-scheme defect breaks the
    // hash)
    "llm_unigram_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = Unigram.learn(docs, "text")
      docs.select(col("doc_id"),
          Unigram.decode(
            Unigram.encode(coalesce(col("text"), lit("")), v), v)
            .as("__dec"))
        .select(col("doc_id"),
          length(col("__dec")).cast("long").as("n_chars_squeezed"),
          md5(col("__dec")).as("roundtrip_hash"))
        .orderBy("doc_id")
    }),

    // WordPiece merge training (r15) — the third canonical subword
    // family: 4 merges under the likelihood-gain score
    // (c_pair·10^12) div (c_l·c_r) with the current symbol counts,
    // argmax (score DESC, count DESC, l, r). The oracle replays every
    // round — symbol counts, pair counts, HUGEINT score, fold — so a
    // drift in any round's winner breaks the hash
    "llm_wordpiece_learn" -> ((s, dir) => {
      import s.implicits._
      WordPiece.learnMerges(t(s, dir, "documents"), "text", nMerges = 4)
        .zipWithIndex
        .map { case ((l, r, c, sq), i) => (i + 1L, l, r, c, sq) }
        .toDF("rank", "left_sym", "right_sym", "pair_count", "score_q")
    }),

    // WordPiece encode of the corpus under the self-trained
    // 4-merge vocabulary — greedy longest-match-first (NO dynamic
    // program: the contrast to the unigram Viterbi), ids =
    // cp / 2e6+cp / 4e6+rank for initial-single / continuation-single
    // / merged pieces
    "llm_wordpiece_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = WordPiece.vocabFromMerges(
        WordPiece.learnMerges(docs, "text", nMerges = 4))
      docs.select(col("doc_id"),
          posexplode(WordPiece.encode(col("text"), v))
            .as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id"))
        .orderBy("doc_id", "pos")
    }),

    // persisted WordPiece vocabulary (r15): learn → write the
    // (rank, piece) artifact → read back → serve — encode under the
    // stored vocabulary must be BIT-IDENTICAL to the direct path (the
    // retrieval/IVF lifecycle discipline applied to tokenizers), so
    // the SAME encode mirror gates it
    "llm_wordpiece_persisted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = WordPiece.vocabFromMerges(
        WordPiece.learnMerges(docs, "text", nMerges = 4))
      val path = s"target/wordpiece_vocab/${new java.io.File(dir).getName}"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      WordPiece.writeVocab(s, v, path)
      val v2 = WordPiece.readVocab(s, path)
      docs.select(col("doc_id"),
          posexplode(WordPiece.encode(col("text"), v2))
            .as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id"))
        .orderBy("doc_id", "pos")
    }),

    // persisted unigram vocabulary (r15): the same lifecycle on the
    // Viterbi family — the artifact carries (piece, count,
    // max_piece_len) because the objective ranks on counts; the
    // rebuilt vocabulary is id-identical regardless of file row order
    // (ranking is internal), and the direct encode mirror gates it
    "llm_unigram_persisted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = Unigram.learn(docs, "text")
      val path = s"target/unigram_vocab/${new java.io.File(dir).getName}"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Unigram.writeVocab(s, v, path)
      val v2 = Unigram.readVocab(s, path)
      docs.select(col("doc_id"),
          posexplode(Unigram.encode(col("text"), v2))
            .as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id"))
        .orderBy("doc_id", "pos")
    }),

    // WordPiece round trip: decode(encode(text)) ≡ whitespace-squeezed
    // text — the family equation (the oracle computes the squeeze
    // directly; any greedy-match/id-scheme/decode defect breaks it)
    "llm_wordpiece_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v = WordPiece.vocabFromMerges(
        WordPiece.learnMerges(docs, "text", nMerges = 4))
      docs.select(col("doc_id"),
          WordPiece.decode(
            WordPiece.encode(coalesce(col("text"), lit("")), v), v)
            .as("__dec"))
        .select(col("doc_id"),
          length(col("__dec")).cast("long").as("n_chars_squeezed"),
          md5(col("__dec")).as("roundtrip_hash"))
        .orderBy("doc_id")
    }),

    // fastText-style hashed linear classifier scoring (the
    // CCNet/DCLM/FineWeb quality-filter shape): unigram+bigram FNV
    // features folded into 1024 buckets, deterministic synthetic model
    // weights (Knuth multiplicative scramble of the bucket index,
    // thousandths), bias −50 milli — map-only scoring, integer-exact
    // decision. The oracle re-derives every feature hash via the FNV
    // recursive CTE and the same bucket/weight arithmetic
    "llm_classifier_score" -> ((s, dir) => {
      val b = 1024
      val w = s.range(0, b).select(col("id").as("bucket"),
        (col("id") * 2654435761L % 2001L - 1000L).as("weight_milli"))
      Classify.scoreHashedLinear(t(s, dir, "documents"), "text", "doc_id",
          w, b, biasMilli = -50L)
        .orderBy("doc_id")
    }),

    // quality-classifier TRAINING (r10): exact ridge least squares of
    // the is-benchmark label on integer count features — one
    // map-side-combined moment aggregate (the only corpus pass), exact
    // BigInt Cramer solve on the driver, weights reported as unreduced
    // (num, den) rationals so the oracle's 128-bit Cramer mirror
    // matches bit for bit
    "llm_ridge_fit" -> ((s, dir) => {
      val stopList = array(TextAnalysis.stopwordUnion.map(lit): _*)
      Train.ridgeFitDf(t(s, dir, "documents"),
          Seq(
            "x1_tokens" -> size(TextAnalysis.tokens(col("text"))),
            "x2_stopwords" -> size(filter(
              TextAnalysis.tokens(lower(col("text"))),
              w => array_contains(stopList, w)))),
          (col("source") === "src0").cast("long"),
          lambda = 1000L)
        .orderBy("feature")
    }),

    // the training loop CLOSED end-to-end (DCLM/FineWeb curation
    // shape): fit the ridge quality model on a LABELED SAMPLE
    // (doc_id % 5 == 0 — in production the human/LLM-labeled slice),
    // then score the whole corpus map-only and select by threshold.
    // The score is reported as the EXACT integer numerator over the
    // shared Cramer denominator (score = score_num/score_den), and
    // the keep decision score ≥ 1/2 is the integer comparison
    // 2·score_num ≥ den — no float division anywhere in the gate.
    // Both rationals are emitted as decimal STRINGS: the one
    // hash-stable exact type (parquet decimal vs a live oracle's
    // decimal coerce to different runtime types with equal values)
    "llm_ridge_score" -> ((s, dir) => {
      val stopList = array(TextAnalysis.stopwordUnion.map(lit): _*)
      val x1 = size(TextAnalysis.tokens(col("text")))
      val x2 = size(filter(TextAnalysis.tokens(lower(col("text"))),
        w => array_contains(stopList, w)))
      val docs = t(s, dir, "documents")
      val fit = Train.ridgeFitExact(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        Seq("x1_tokens" -> x1, "x2_stopwords" -> x2),
        (col("source") === "src0").cast("long"),
        lambda = 1000L)
      docs.select(col("doc_id"),
          Train.scoreRidgeExactNum(fit, Seq(x1, x2)).cast("string")
            .as("score_num"),
          lit(fit.den.toString).as("score_den"),
          Train.ridgeKeep(fit, Seq(x1, x2), 1L, 2L).as("kept"))
        .orderBy("doc_id")
    }),

    // classifier AUC (r11) — the eval closer of the train→score loop:
    // the same exact-rational ridge fit, but on a %7 train split
    // (source cycles with doc_id % 20, so a %5 split would strand
    // every positive in train), scored on the HELD-OUT slice,
    // Mann-Whitney AUC with tie-averaged ranks computed integer-exact
    // (distinct-score grouping + one window cumsum; a single final
    // IEEE division)
    "llm_ridge_auc" -> ((s, dir) => {
      val stopList = array(TextAnalysis.stopwordUnion.map(lit): _*)
      val x1 = size(TextAnalysis.tokens(col("text")))
      val x2 = size(filter(TextAnalysis.tokens(lower(col("text"))),
        w => array_contains(stopList, w)))
      val docs = t(s, dir, "documents")
      val fit = Train.ridgeFitExact(
        docs.filter(pmod(col("doc_id"), lit(7)) === 0),
        Seq("x1_tokens" -> x1, "x2_stopwords" -> x2),
        (col("source") === "src0").cast("long"),
        lambda = 1000L)
      Train.aucExact(
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        Train.scoreRidgeExactNum(fit, Seq(x1, x2)),
        (col("source") === "src0").cast("long"))
    }),

    // corpus-familiarity quality score: per-doc average corpus
    // frequency of its bigram occurrences (integer sums → exact)
    "llm_familiarity" -> ((s, dir) =>
      TextAnalysis.bigramFamiliarity(t(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("doc_id")),

    // bigram-LM perplexity (r10): the CCNet/KenLM-style quality filter
    // — add-one-smoothed bigram model trained on the corpus, per-doc
    // perplexity via integer micro-nat log-prob sums (exact under any
    // partitioning); broadcast-model join, no corpus shuffle by bigram
    "llm_lm_perplexity" -> ((s, dir) =>
      LanguageModel.bigramPerplexity(t(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("doc_id")),

    // the SAME scoring under broadcastModel=false (r13, VERDICT r12
    // task 5) — the actual 100 TB shape once the bigram vocab
    // outgrows broadcast: both model joins pinned shuffle-hash (AQE
    // skew-split territory; the hint keeps Catalyst from silently
    // auto-broadcasting a small model). The SHARED oracle proves the
    // two physical shapes agree bit-for-bit — integer micro-nats make
    // the per-doc sum partition-invariant, which is the whole point
    // of the micro-nat contract. RunnerSpec's plan gate pins the join
    // shape
    "llm_lm_shuffle" -> ((s, dir) =>
      LanguageModel.bigramPerplexity(t(s, dir, "documents"),
          "text", "doc_id", broadcastModel = false)
        .orderBy("doc_id")),

    // CCNet perplexity bucketing (r12) — Wenzek et al. 2020's
    // head/middle/tail corpus split, the step between LM scoring and
    // mixing: exact integer micro-nat scores, tertile cutoffs from a
    // distinct-score window cumsum (the aucExact pattern), ties share
    // the lower bucket — value-determined, partition-invariant
    "llm_ccnet_buckets" -> ((s, dir) =>
      LanguageModel.perplexityBuckets(t(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("doc_id")),

    // per-LANGUAGE CCNet buckets (r12) — CCNet's actual grain: the
    // head/middle/tail tertiles are computed within each language, so
    // a low-resource language isn't judged against English's
    // perplexity distribution. Same integer algebra; the cutoff
    // window partitions by lang; cutoffs broadcast back by lang
    "llm_ccnet_by_lang" -> ((s, dir) =>
      LanguageModel.perplexityBuckets(t(s, dir, "documents"),
          "text", "doc_id", groupCol = Some("lang"))
        .orderBy("doc_id")),

    // CCNet at PARAGRAPH grain (r13) — the paper's actual unit: the
    // corpus is single-line prose, so the query synthesizes paragraph
    // structure the llm_line_dedup way (a 3-variant promo header, the
    // prose split at ' the ', a shared footer, joined with \n), then
    // ccnetParagraphs scores every paragraph under the corpus-trained
    // LM, drops the tail tertile, and reassembles survivors in order.
    // The oracle replays the synthesis AND the whole chain (split →
    // bigram model → micro-nat scores → global tertile cutoffs → drop
    // → string_agg reassembly) — clean_hash makes the reassembly
    // byte-exact; the all-kept identity property is pinned in LlmSpec
    "llm_ccnet_paragraphs" -> ((s, dir) => {
      val promo = element_at(array(
        lit("visit our amazing site today"),
        lit("subscribe to the newsletter now"),
        lit("click here for deals")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val multi = concat(promo, lit("\n"),
        array_join(split(col("text"), " the "), "\n"), lit("\n"),
        lit("copyright footer 2026 all rights reserved"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), multi.as("text"))
      LanguageModel.ccnetParagraphs(docs, "text", "doc_id")
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("text_clean")).as("clean_hash"))
        .orderBy("doc_id")
    }),

    // the C4 cleaning pipeline (r13, Raffel et al. 2020 §2.2): line
    // filters (terminal punctuation, >= 3 words, no javascript) →
    // page filters (>= 5 sentences, no lorem ipsum / curly brace /
    // bad word) → corpus-wide three-sentence-span dedup keeping only
    // the first occurrence. The corpus is single-line prose, so the
    // query synthesizes the page structure the llm_line_dedup way:
    // three lines every filter must drop, a planted three-sentence
    // group shared across doc_id%5 (the dedup target), a doc_id%11
    // page-fate variant (lorem / curly / bad word / too-few-sentences
    // / prose sentences from the text split at ' the '), and a shared
    // closing line. clean_hash pins the reassembly byte-exactly; the
    // oracle replays synthesis, both filter grains, the span ranking,
    // and the string_agg rebuild
    "llm_c4_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text2", c4Page)
      C4.clean(docs, "text2", "doc_id", badWords = Seq("zorblax"))
        .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
          col("n_sentences"), col("page_kept"), col("n_sent_removed"),
          md5(col("text_clean")).as("clean_hash"))
        .orderBy("doc_id")
    }),

    // the trained LM's Zipf head: top-20 bigrams by count with their
    // add-one conditional probability — the train-surface audit view
    "llm_lm_bigrams" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cb = LanguageModel.bigramCounts(docs, "text", "doc_id")
      val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
      val voc = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("__w"))
        .filter(length(col("__w")) > 0)
        .agg(countDistinct(col("__w")).as("__v"))
      cb.join(cu, Seq("w1")).crossJoin(broadcast(voc))
        .select(col("w1"), col("w2"), col("cb"),
          round((col("cb") + lit(1)).cast("double") /
            (col("cu") + col("__v")).cast("double"), 6).as("p_smoothed"))
        .orderBy(desc("cb"), asc("w1"), asc("w2"))
        .limit(20)
    }),

    // interpolated Kneser-Ney perplexity (r10): the gold-standard
    // smoothing — continuation-probability mass for words seen in many
    // contexts, fixed discount 0.75; self-trained, so every bigram is
    // in the model and no OOV arm exists
    "llm_lm_kneser_ney" -> ((s, dir) =>
      LanguageModel.kneserNeyPerplexity(t(s, dir, "documents"),
          "text", "doc_id")
        .orderBy("doc_id")),

    // trigram Stupid Backoff scored against a REFERENCE model (r10):
    // model = every non-src0 doc, scored = the held-out src0 docs, so
    // all three arms genuinely fire (a self-scored corpus never
    // misses its own trigrams and the backoff would be dead code)
    "llm_lm_backoff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      LanguageModel.stupidBackoff(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    // score-only LM run against the PERSISTED model (r10): train-once
    // layout on disk (bigrams/contexts/vocab parquet), the score pass
    // scans the corpus ONCE — same answers as the self-trained path by
    // construction, gated by the same oracle
    "llm_lm_persisted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = s"target/lm_model/${new java.io.File(dir).getName}"
      LanguageModel.writeModel(docs, "text", "doc_id", path)
      val v = s.read.parquet(s"$path/vocab").head().getLong(0)
      LanguageModel.scoreAgainstModel(docs, "text", "doc_id",
          s.read.parquet(s"$path/bigrams"),
          s.read.parquet(s"$path/contexts"), v)
        .orderBy("doc_id")
    }),

    // deterministic shard-shuffle (r10): reproducible training order —
    // fnv64 shard + dense in-shard position, one hash-balanced window
    "llm_shard_shuffle" -> ((s, dir) =>
      Mixing.shardShuffle(
          t(s, dir, "documents").select("doc_id"), "doc_id", 8)
        .orderBy("doc_id")),

    // corpus-version token drift (r13): src0 as "yesterday's snapshot"
    // vs the rest as "today's" — top-25 tokens by the exact integer
    // cross-multiplication statistic |ca·totB − cb·totA| (zero iff the
    // relative frequency is unchanged), (drift DESC, token) total
    // order so the cut is deterministic
    "llm_token_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Drift.tokenDrift(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"),
        "text", 25)
    }),

    // token-budget mixture allocation (r14): integer water-filling of
    // an 80%-of-corpus token budget across sources under availability
    // caps — weights 100+37·N for srcN (skewed so the heavy sources
    // overflow their caps and the freed share re-distributes across
    // rounds; at sf0.01 the top sources come out capped, the rest
    // proportional). The oracle replays the fixed point as a
    // recursive list-state CTE in HUGEINT
    "llm_mix_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val avail = docs.groupBy("source")
        .agg(sum(coalesce(TextAnalysis.tokenCount(col("text")), lit(0L)))
          .as("avail"))
      val total = avail.agg(sum("avail")).head().getLong(0)
      val weights = avail.select("source").collect().map(_.getString(0))
        .map(src => src -> (100L + 37L * src.stripPrefix("src").toLong))
        .toMap
      Mixing.allocateBudget(avail, "source", "avail", weights,
          total * 4L / 5L)
        .orderBy("source")
    }),

    // epoch-repetition allocation (r15): budget 2.5× the corpus forces
    // two full epochs + a partial third; weights 5+29k with decay 200‰
    // make src0's round-3 weight floor to 0 (the diminishing-value
    // drop-out) while scarce sources cap inside the partial round — so
    // the gate pins full-epoch layering, the decayed-weight split, the
    // drop-out rule and the partial-round capped flags at once
    "llm_mix_epochs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val avail = docs.groupBy("source")
        .agg(sum(coalesce(TextAnalysis.tokenCount(col("text")), lit(0L)))
          .as("avail"))
      val total = avail.agg(sum("avail")).head().getLong(0)
      val weights = avail.select("source").collect().map(_.getString(0))
        .map(src => src -> (5L + 29L * src.stripPrefix("src").toLong))
        .toMap
      Mixing.allocateBudgetEpochs(avail, "source", "avail", weights,
          total * 5L / 2L, maxEpochs = 3, decayMilli = 200L)
        .orderBy("source")
    }),

    // DoReMi-shaped domain reweighting (r15): per-source integer loss
    // (milli chars-per-token — a data-derived hardness proxy), then 3
    // multiplicative-weights rounds at η=200 milli with the pinned
    // integer linearization, 10% uniform smoothing. The oracle unrolls
    // every round in HUGEINT arithmetic — any drift in the excess
    // baseline, a floor, or the renormalization breaks the hash
    "llm_doremi_weights" -> ((s, dir) => {
      val losses = t(s, dir, "documents").groupBy("source").agg(
          sum(coalesce(length(col("text")).cast("long"), lit(0L)))
            .as("__chars"),
          sum(coalesce(TextAnalysis.tokenCount(col("text")), lit(0L)))
            .as("__toks"))
        .select(col("source"),
          expr("(__chars * 1000) div __toks").as("loss_milli"))
      Mixing.reweightDomains(losses, "source", "loss_milli",
          rounds = 3, etaMilli = 200L, smoothMilli = 100L)
        .orderBy("source")
    }),

    // epoch-distinct reshuffle (r13): the shard-shuffle order keyed by
    // FNV-1a of "<id>:<epoch>" — epochs 1 and 2 computed independently
    // and joined per doc, so the gate pins BOTH permutations (and
    // implicitly that they differ; identical epochs would be a salt
    // plumbing bug the hash columns expose immediately)
    "llm_epoch_shuffle" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id")
      val e1 = Mixing.epochShuffle(d, "doc_id", 8, 1)
        .withColumnRenamed("shard", "shard_e1")
        .withColumnRenamed("pos", "pos_e1")
      val e2 = Mixing.epochShuffle(d, "doc_id", 8, 2)
        .withColumnRenamed("shard", "shard_e2")
        .withColumnRenamed("pos", "pos_e2")
      e1.join(e2, Seq("doc_id")).orderBy("doc_id")
    }),

    // stratified exact-n: ≤ 10 docs per source, picked by id-hash
    // order — deterministic per-group caps; audit = kept ids per source
    "llm_stratified_sample" -> ((s, dir) =>
      graft.stats.Sampling.stratifiedExactN(
          t(s, dir, "documents"), "source", "doc_id", 10)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")),

    // weighted exact-n sample: 200 docs, inclusion ∝ n_chars —
    // sequential Poisson priorities (integer-exact hash / weight, one
    // IEEE division: bit-identical in the oracle engine)
    "llm_weighted_sample" -> ((s, dir) =>
      graft.stats.Sampling.weightedPriorityN(
          t(s, dir, "documents"), "doc_id", "n_chars", 200)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // weighted mixing with UP-sampling: src0 2.5x (2 copies + half a
    // 3rd by id bucket), src1 0.5x, others 1x — audit counts per source
    "llm_mix_weighted" -> ((s, dir) =>
      Mixing.mixBySourcesWeighted(t(s, dir, "documents"), "source",
          "doc_id", Map("src0" -> 2.5, "src1" -> 0.5))
        .groupBy("source").agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("source")),

    // temperature mixing over the skewed lang distribution (en=218 vs
    // ~70 for the rest at sf0.01): T=2 square-root flattening
    // down-samples en to w≈0.70 and up-weights the tail to ≈1.2-1.3 —
    // every branch of the copies formula fires
    "llm_mix_temperature" -> ((s, dir) =>
      Mixing.mixByTemperature(t(s, dir, "documents"), "lang", "doc_id",
          temperature = 2.0)
        .groupBy("lang").agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("lang")),

    // corpus vocabulary: top-50 terms by occurrence (lowercased
    // whitespace tokens) — classic map-side-combine word count with a
    // deterministic (cnt, word) tiebreak
    "llm_vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("w")).limit(50)),

    // language/source distribution (A1 over documents)
    "llm_lang_dist" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")),

    // language-ID heuristic predictions (declarative stopword argmax —
    // codegen'd AND oracle-checked)
    "llm_langid_pred" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy("predicted").agg(count(lit(1)).as("cnt"))
        .orderBy("predicted")),

    // rolling-hash fingerprints via the native fingerprint64 expression
    // (oracle: wrapping multiply emulated in HUGEINT mod 2^64)
    "llm_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // embedding cosine near-dup: hyperplane-LSH buckets + exact cosine
    // verify (oracle-checked). minCosine 0.4 sits INSIDE the
    // synthesized embeddings' cosine range (VERDICT r13 task 6: the
    // former 0.9 matched zero pairs at sf0.01, so the gate hashed an
    // empty frame — the llm_leakage_split threshold discipline)
    "llm_emb_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "embedding",
          "vec_id", planes = 8, minCosine = 0.4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("ida", "idb")),

    // corpus-percentile score normalization ("keep the top X%"):
    // global 0-based rank + rank/(N−1) percentile of the alpha-ratio
    // quality score, (score, doc_id) total order — the third user of
    // the GlobalOrder prefix-sum decomposition (no global window)
    "llm_score_percentile" -> ((s, dir) => {
      val alpha =
        length(regexp_replace(col("text"), "[^\\p{L}]", "")).cast("double") /
          length(col("text"))
      graft.stats.GlobalOrder.percentileRank(
          t(s, dir, "documents").select(col("doc_id"), alpha.as("score")),
          Seq(col("score"), col("doc_id")))
        .orderBy("doc_id")
    }),

    // BM25 corpus scoring against a 3-term probe with a real idf
    // spread at sf0.01 (df 25/373/402 of 500). Two passes: one
    // |terms|+2-wide aggregate row to the driver, then map-only
    // scoring with the statistics folded as literals
    "llm_bm25_score" -> ((s, dir) =>
      Rank.bm25(t(s, dir, "documents"), "text", "doc_id",
          Seq("dup", "key", "batch"))
        .withColumn("bm25", round(col("bm25"), 6))
        .orderBy("doc_id")),

    // batch BM25 retrieval through the inverted-index formulation
    // (r13): three queries at once — two real, one with no corpus hits
    // (must return zero rows) — top-5 docs each under (score DESC,
    // doc_id ASC). Contributions fold in query-term order so the
    // double sums are bit-reproducible; the oracle replays the Okapi
    // formula per query with the same left-to-right association and
    // ranks with the row_number window
    "llm_retrieval_topk" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, Seq("key", "dup")),
        (1L, Seq("batch", "window", "merge")),
        (2L, Seq("zzznothing"))).toDF("query_id", "terms")
      Rank.retrieveTopK(t(s, dir, "documents"), "text", "doc_id",
          qs, "query_id", "terms", k = 5)
        .withColumn("score", round(col("score"), 6))
        .orderBy("query_id", "rank")
    }),

    // JSONL egest/ingest lifecycle (r13): reproducible gzip-sharded
    // NDJSON write (hash-routed + in-shard sorted — byte-identical
    // reruns) and schema-pinned FAILFAST read back; the gate pins the
    // round trip LOSSLESS column-for-column against the parquet truth
    "llm_jsonl_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = s"target/jsonl_egest/${new java.io.File(dir).getName}"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      graft.sources.Jsonl.write(docs, "doc_id", 8, path)
      graft.sources.Jsonl.read(s, path, docs.schema)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), md5(coalesce(col("text"), lit("")))
            .as("text_hash"))
        .orderBy("doc_id")
    }),

    // incremental index APPEND (r13): build on the even half, append
    // the odd half (new postings into the same bucket layout, stats
    // swapped atomically to the summed constants) — serving after the
    // append must be BIT-IDENTICAL to a one-shot full-corpus index,
    // so the shared retrieval mirror gates the whole lifecycle
    "llm_retrieval_append" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, Seq("key", "dup")),
        (1L, Seq("batch", "window", "merge")),
        (2L, Seq("zzznothing"))).toDF("query_id", "terms")
      val docs = t(s, dir, "documents")
      val path = s"target/retrieval_append/${new java.io.File(dir).getName}"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Rank.writeIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", path)
      Rank.appendToIndex(docs.filter(pmod(col("doc_id"), lit(2)) =!= 0),
        "text", "doc_id", path)
      Rank.retrieveTopKIndexed(s, path, qs, "query_id", "terms", k = 5)
        .withColumn("score", round(col("score"), 6))
        .orderBy("query_id", "rank")
    }),

    // index COMPACTION (r13): build + append leaves 2 files per
    // bucket; optimize(minFiles=2) rewrites every such bucket to one
    // file (atomic per-bucket swap) — content untouched, so serving
    // afterwards must STILL equal the one-shot index, and the shared
    // retrieval mirror gates the whole
    // write→append→optimize→serve lifecycle
    "llm_retrieval_optimize" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, Seq("key", "dup")),
        (1L, Seq("batch", "window", "merge")),
        (2L, Seq("zzznothing"))).toDF("query_id", "terms")
      val docs = t(s, dir, "documents")
      val path = s"target/retrieval_opt/${new java.io.File(dir).getName}"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Rank.writeIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", path)
      Rank.appendToIndex(docs.filter(pmod(col("doc_id"), lit(2)) =!= 0),
        "text", "doc_id", path)
      val n1 = Rank.optimizeIndex(s, path, minFiles = 2)
      require(n1 > 0, s"optimize rewrote 0 buckets after an append")
      require(Rank.optimizeIndex(s, path, minFiles = 2) == 0,
        "second optimize must rewrite nothing")
      Rank.retrieveTopKIndexed(s, path, qs, "query_id", "terms", k = 5)
        .withColumn("score", round(col("score"), 6))
        .orderBy("query_id", "rank")
    }),

    // retrieval through a PERSISTED index (r13): build-once/serve-many
    // — postings parquet partitioned by term-hash bucket, so the probe
    // reads only the directories its query vocabulary lands in (the
    // llm_ann_ivf_persisted partition-pruning economics applied to
    // text); the stats side table carries the corpus constants. Must
    // be bit-identical to the direct path, so the SAME oracle gates it
    "llm_retrieval_persisted" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, Seq("key", "dup")),
        (1L, Seq("batch", "window", "merge")),
        (2L, Seq("zzznothing"))).toDF("query_id", "terms")
      val path = s"target/retrieval_index/${new java.io.File(dir).getName}"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Rank.writeIndex(t(s, dir, "documents"), "text", "doc_id", path)
      Rank.retrieveTopKIndexed(s, path, qs, "query_id", "terms", k = 5)
        .withColumn("score", round(col("score"), 6))
        .orderBy("query_id", "rank")
    }),

    // hybrid retrieval by reciprocal-rank fusion (r15): a BM25 top-10
    // (inverted-index path) and an exact cosine top-10 (vec_id ≡
    // doc_id — the embeddings fixture is doc-aligned) fuse under the
    // integer RRF rule Σ 10^12 div (60 + rank + 1) — ranks only, so
    // the float BM25 and the float cosine never mix units; fused
    // order is (rrf_score DESC, doc_id ASC) and every score an exact
    // long. n_lists = 2 marks the consensus hits
    "llm_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((0L, Seq("key", "dup")),
        (1L, Seq("batch", "window", "merge"))).toDF("query_id", "terms")
      val lex = Rank.retrieveTopK(t(s, dir, "documents"), "text",
        "doc_id", qs, "query_id", "terms", k = 10)
      val emb = t(s, dir, "embeddings")
      val sem = Similarity.bruteForceJoinTopK(emb,
        emb.filter(col("vec_id") <= 1), "embedding", "vec_id", k = 10)
      Rank.hybridTopK(lex, sem, k = 10).orderBy("query_id", "rank")
    }),

    // JL random projection 64→16 dims (exploded to (vec_id, j, y) rows
    // for the value compare); outDim=16 makes the 1/√outDim scale an
    // exact 0.25 so both engines multiply the same double
    "llm_jl_project" -> ((s, dir) =>
      Similarity.projectRandom(t(s, dir, "embeddings"), "embedding", 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
        .withColumn("y", round(col("y"), 6))
        .orderBy("vec_id", "j")),

    // SemDeDup-shaped semantic dedup: k-means clusters (the llm_ann_ivf
    // Lloyd quantizer, k=8/2 rounds) partition the corpus; exact cosine
    // only within a cluster; drop every vector with a smaller-id
    // similar neighbor. Threshold 0.35 sits inside the sf0.01
    // within-cluster cosine distribution (93 of 500 dropped; nearest
    // pair cosines 0.3489/0.3501 — 1e-3 clear of the FP knife edge)
    "llm_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroidsLloyd(emb, "embedding", "vec_id",
        k = 8, iters = 2)
      Dedup.dedupSemantic(emb, "embedding", "vec_id", cents, 0.35)
        .select("vec_id").orderBy("vec_id")
    }),

    // exact 3-gram Jaccard over a small verified pair set (the J-verify
    // kernel, oracle-checked end to end)
    "llm_ngram_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 20)
      val ids = d.select(col("doc_id"))
      val cands = ids.select(col("doc_id").as("ida"))
        .join(ids.select(col("doc_id").as("idb")), col("ida") < col("idb"))
      // ≤ C(20,2) pairs by the doc_id < 20 slice
      Dedup.verifyJaccard(cands, d, "text", "doc_id")
        .filter(col("jaccard") > 0).orderBy("ida", "idb")
    }),

    // containment verify (asymmetric duplication): |A∩B|/|A|, /|B|,
    // and jaccard over the same small pair set as llm_ngram_jaccard
    "llm_containment" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 20)
      val ids = d.select(col("doc_id"))
      val cands = ids.select(col("doc_id").as("ida"))
        .join(ids.select(col("doc_id").as("idb")), col("ida") < col("idb"))
      Dedup.verifyContainment(cands, d, "text", "doc_id")
        .filter(col("jaccard") > 0).orderBy("ida", "idb")
    }),

    // MinHash + banded LSH near-dup pipeline (oracle-checked end to
    // end): top candidate pairs by estimated jaccard, with exact
    // verification attached
    "llm_minhash_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // signatures are consumed twice (banding + estimation): persist —
      // at cluster scale this is a checkpoint of the signature table.
      // The caches below live in the query's Scope, which the runner
      // closes once the limit(20)-bounded result is written.
      val sigs = Scope.persist(
        Dedup.minhashSignatures(d, "text", "doc_id", k = 64))
      sigs.count() // materialize once; banding + estimation branches reuse
      val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 16, rows = 4)
      // verify-what-you-report: rank by the cheap signature estimate
      // first, run exact-Jaccard verification ONLY on the reported
      // top-k pairs (the expensive stage scales with what is shown,
      // not with the full candidate set)
      val top = Scope.persist(Dedup.estimateJaccard(cands, sigs, "doc_id")
        .orderBy(desc("est_jaccard"), col("ida"), col("idb"))
        .limit(20))
      top.count() // materialized → the signature branches are done
      Scope.release(sigs)
      val ver = Dedup.verifyJaccard(
        top.select("ida", "idb"), d, "text", "doc_id")
      top.join(ver, Seq("ida", "idb"), "left")
        .withColumn("jaccard", coalesce(col("jaccard"), lit(0.0)))
        .orderBy(desc("est_jaccard"), col("ida"), col("idb"))
    }),

    // end-to-end near-dup dedup: LSH candidates → verify → connected
    // components → survivors (oracle-checked end to end)
    "llm_neardup_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.dedupNearMinhash(d, "text", "doc_id", jaccardThreshold = 0.8)
        .agg(count(lit(1)).as("survivors"),
          (lit(d.count()) - count(lit(1))).as("removed"))
    }),

    // SimHash signatures + banded hamming candidates (oracle-checked).
    // maxHamming = 3 is the radius the 4×16-bit banding actually
    // guarantees recall for (pigeonhole: ≤3 differing bits leave ≥1
    // chunk untouched).
    "llm_simhash_neardup" -> ((s, dir) =>
      // cache-free since the grouped simhashCandidates rewrite: each
      // (band, chunk) bucket is collected in ONE pass over the corpus
      // (the old banded self-join scanned the signature table twice and
      // forced a persist here — VERDICT r05 cache-lifecycle gap)
      Dedup.simhashCandidates(
          Dedup.simhash(t(s, dir, "documents"), "text", "doc_id"),
          "doc_id", maxHamming = 3)
        .orderBy("ida", "idb")),

    // embedding L2 norms (fold order matches DuckDB's sequential sum)
    "llm_emb_norms" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.l2Norm(col("embedding")).as("nrm"))
        .orderBy("vec_id")),

    // brute-force cosine top-10 against vec_id 0 (rounded for oracle)
    "llm_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      emb.select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), typedlit(q)), 6)
            .as("cosine"))
        .orderBy(desc("cosine"), col("vec_id"))
        .limit(10)
    }),

    // per-label centroids (vector mean via posexplode + grouped avg)
    "llm_emb_centroids" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy("label", "pos")
        .agg(round(avg(col("col").cast("double")), 6).as("centroid"))
        .orderBy("label", "pos")),

    // LSH-bucketed ANN top-5 for vec_id 0 (oracle-checked: the
    // deterministic plane matrix is mirrorable)
    "llm_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      Similarity.annTopK(emb, "embedding", "vec_id", q, 5, nPlanes = 8)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // IVF ANN: distributed-Lloyd coarse quantizer (2 fixed rounds over
    // the FULL corpus, deterministic init = k smallest ids, round-6
    // centroids) + nprobe scan + exact rerank. Oracle-checked: the
    // fixed-depth training unrolls into plain SQL.
    "llm_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val cents = Similarity.ivfCentroidsLloyd(emb, "embedding", "vec_id",
        k = 8, iters = 2)
      val assigned = Similarity.ivfAssign(emb, "embedding", cents)
      Similarity.ivfTopK(assigned, "embedding", "vec_id", q, 5, cents)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // product-quantization ANN (r12) — Jégou et al. 2011, the
    // memory-side compression next to the int8 scan: 4 subspaces × 8
    // codes trained with the deterministic 2-round Lloyd contract,
    // corpus encoded to 4 code ids, query answered by asymmetric
    // distance (4 driver-table lookups per candidate, 6-decimal
    // rounded, id tiebreak) into a 40-candidate pool, exact cosine
    // rerank inside. The oracle unrolls the per-subspace Lloyd
    // rounds, the encode, the ADC tables, and the rerank
    "llm_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqCodebooks(emb, "embedding", "vec_id",
        m = 4, k = 8, iters = 2)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val enc = Similarity.pqEncode(emb, "embedding", books)
      Similarity.pqTopK(enc, "embedding", "vec_id", q, books,
        k = 5, pool = 40)
    }),

    // persisted PQ codebooks (r16): train → write → read → encode →
    // serve, gated with the SAME oracle as llm_ann_pq — the
    // bit-identity contract (the llm_ann_append / wordpiece_persisted
    // pattern). Doubles round-trip bit-exactly through parquet, so a
    // serve-side encode across sessions reproduces the trainer's
    // codes exactly (VERDICT r15 "Next round" 3)
    "llm_ann_pq_persisted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqCodebooks(emb, "embedding", "vec_id",
        m = 4, k = 8, iters = 2)
      val path = s"target/pq_codebooks/${new java.io.File(dir).getName}"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Similarity.writePqCodebooks(s, books, path)
      val books2 = Similarity.readPqCodebooks(s, path)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val enc = Similarity.pqEncode(emb, "embedding", books2)
      Similarity.pqTopK(enc, "embedding", "vec_id", q, books2,
        k = 5, pool = 40)
    }),

    // IVF-PQ ANN (r12) — the full FAISS IVFx,PQy composition: coarse
    // 8-list quantizer (the llm_ann_ivf Lloyd), PQ codebooks trained
    // on RESIDUALS (centered near zero — the reason the composition
    // beats either part), probe the 2 nearest lists with per-list ADC
    // tables from that list's query residual, exact rerank. At 100 TB
    // the probe is a partition-pruned scan that reads only the m-byte
    // codes — both compressions compose multiplicatively
    "llm_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val coarse = Similarity.ivfCentroidsLloyd(emb, "embedding",
        "vec_id", k = 8, iters = 2)
      val withRes = Similarity.ivfResiduals(
        Similarity.ivfAssign(emb, "embedding", coarse),
        "embedding", coarse)
      val books = Similarity.pqCodebooks(withRes, "residual", "vec_id",
        m = 4, k = 8, iters = 2)
      val enc = Similarity.pqEncode(withRes, "residual", books)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
        .map(_.toDouble).toArray
      Similarity.ivfPqTopK(enc, "embedding", "vec_id", q, coarse,
        books, k = 5, nprobe = 2, pool = 40)
    }),

    // persisted IVF-PQ composition (r16): same training as
    // llm_ann_ivfpq, then the whole model — assigned+encoded corpus,
    // frozen quantizer, frozen codebooks — written as ONE index dir
    // and served from disk (partition-pruned probe reading only the
    // codes column until the rerank). Same oracle as llm_ann_ivfpq:
    // bit-identity is the contract
    "llm_ann_ivfpq_persisted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val coarse = Similarity.ivfCentroidsLloyd(emb, "embedding",
        "vec_id", k = 8, iters = 2)
      val withRes = Similarity.ivfResiduals(
        Similarity.ivfAssign(emb, "embedding", coarse),
        "embedding", coarse)
      val books = Similarity.pqCodebooks(withRes, "residual", "vec_id",
        m = 4, k = 8, iters = 2)
      val path = s"target/ivfpq_index/${new java.io.File(dir).getName}"
      Similarity.writeIvfPqIndex(emb, "embedding", coarse, books, path)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
        .map(_.toDouble).toArray
      Similarity.ivfPqTopKIndexed(s, path, "embedding", "vec_id", q,
        k = 5, nprobe = 2, pool = 40)
    }),

    // corpus-vs-corpus ANN bucket join (r09 oracle coverage for the
    // capped BIPARTITE pair expansion): the 8 smallest ids as the
    // query table against the rest as corpus, 6-plane signatures
    // (64 buckets → every query finds bucket-mates at sf0.01), exact
    // cosine on every bucket-shared pair
    "llm_ann_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annJoin(
          corpus = emb.filter(col("vec_id") >= 8),
          queries = emb.filter(col("vec_id") < 8),
          "embedding", "vec_id", nPlanes = 6)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "corpus_id")
    }),

    // ANN RECALL GATE (r11): recall@10 of the IVF and LSH paths vs the
    // exact bruteForceJoinTopK ground truth over the vec_id%20 query
    // sample — the a5/vocab_sketch bound-oracle pattern: the oracle
    // verifies n_queries and the engine-side assertions ride as
    // booleans, so a silent ANN quality regression (the minhash-mixer
    // failure mode) flips a flag and fails the hash gate. The sharpest
    // row is ivf_full_exact: nprobe = every list is a full scan, so
    // top-k MUST equal brute force bit-for-bit (equality, not a
    // floor). The floors are regression pins with margin under the
    // measured values on the near-uniform synthetic embeddings
    // (recall ≈ probe coverage there: nprobe=4 → 0.74/0.76 at
    // sf0.01/0.1, nprobe=2 → 0.52/0.53, 1-band 4-plane LSH →
    // 0.26/0.23) — NOT absolute quality claims; clustered production
    // embeddings sit far above them
    "llm_ann_recall" -> ((s, dir) => {
      // the gate is a many-action harness (brute-force truth + four
      // batch paths + 16 point probes) over ONE small table — persist
      // it for the query's Scope; without this every action re-reads
      // and re-decodes the parquet
      val emb = Scope.persist(t(s, dir, "embeddings"))
      val k = 10
      val queries = emb.filter(pmod(col("vec_id"), lit(20)) === 0)
      def ids(df: org.apache.spark.sql.DataFrame, as: String) =
        df.groupBy("query_id")
          .agg(collect_set(col("corpus_id")).as(as))
      val truth = ids(Similarity.bruteForceJoinTopK(
        emb, queries, "embedding", "vec_id", k), "true_ids")
      val cents = Similarity.ivfCentroidsLloyd(emb, "embedding", "vec_id",
        k = 8, iters = 2)
      val assigned = Similarity.ivfAssign(emb, "embedding", cents)
      val ivf2 = ids(Similarity.ivfJoinTopK(assigned, queries,
        "embedding", "vec_id", k, cents, nprobe = 2), "ivf2_ids")
      val ivf4 = ids(Similarity.ivfJoinTopK(assigned, queries,
        "embedding", "vec_id", k, cents, nprobe = 4), "ivf4_ids")
      val ivf8 = ids(Similarity.ivfJoinTopK(assigned, queries,
        "embedding", "vec_id", k, cents, nprobe = 8), "ivf8_ids")
      val lsh = ids(Similarity.annJoinTopK(emb, queries,
        "embedding", "vec_id", k, nPlanes = 4), "lsh_ids")
      def hits(c: String) = sum(coalesce(
        size(array_intersect(col("true_ids"), col(c))), lit(0)))
      // PQ paths (r12) on a fixed 5-query subsample (the point APIs
      // are per-query): recall floors with ~2× margin under the
      // measured values on the hostile near-uniform synthetic
      // embeddings (pq 0.28–0.48, ivfpq 0.28–0.36 across SFs), plus
      // the SHARP pin — pool = corpus makes the ADC ranking
      // irrelevant, so PQ top-k MUST equal brute force exactly (the
      // ivf_full_exact pattern: plumbing, not luck)
      val coarse = cents
      val withRes = Similarity.ivfResiduals(assigned, "embedding", coarse)
      val books = Similarity.pqCodebooks(withRes, "residual", "vec_id",
        m = 4, k = 8, iters = 2)
      val encR = Similarity.pqEncode(withRes, "residual", books)
      val books0 = Similarity.pqCodebooks(emb, "embedding", "vec_id",
        m = 4, k = 8, iters = 2)
      val enc0 = Similarity.pqEncode(emb, "embedding", books0)
      val n = emb.count()
      val qids = Seq(0L, 20L, 40L, 60L, 80L)
      var pqHits = 0L; var ivfpqHits = 0L; var pqFullExact = true
      qids.foreach { qid =>
        val q = emb.filter(col("vec_id") === qid)
          .select("embedding").head().getSeq[Float](0)
        val rest = col("vec_id") =!= qid
        val truthQ = Similarity.bruteForceTopK(emb.filter(rest),
            "embedding", "vec_id", q.toArray, k)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        def got(df: org.apache.spark.sql.DataFrame) =
          df.select("vec_id").collect().map(_.getLong(0)).toSet
        val qd = q.map(_.toDouble).toArray
        pqHits += (truthQ & got(Similarity.pqTopK(enc0.filter(rest),
          "embedding", "vec_id", qd, books0, k, pool = 40))).size
        ivfpqHits += (truthQ & got(Similarity.ivfPqTopK(
          encR.filter(rest), "embedding", "vec_id", qd, coarse, books,
          k, nprobe = 2, pool = 40))).size
        if (got(Similarity.pqTopK(enc0.filter(rest), "embedding",
            "vec_id", qd, books0, k, pool = n.toInt)) != truthQ)
          pqFullExact = false
      }
      val denom = qids.size * k
      truth.join(ivf2, Seq("query_id"), "left")
        .join(ivf4, Seq("query_id"), "left")
        .join(ivf8, Seq("query_id"), "left")
        .join(lsh, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          hits("ivf2_ids").as("__h2"), hits("ivf4_ids").as("__h4"),
          hits("ivf8_ids").as("__h8"), hits("lsh_ids").as("__hl"))
        .select(col("n_queries"),
          (col("__h8") === col("n_queries") * k).as("ivf_full_exact"),
          (col("__h4") >= col("n_queries") * k * 0.65)
            .as("ivf4_recall_ok"),
          (col("__h2") >= col("n_queries") * k * 0.40)
            .as("ivf2_recall_ok"),
          (col("__hl") >= col("n_queries") * k * 0.15)
            .as("lsh_recall_ok"),
          lit(pqHits >= denom * 0.15).as("pq_recall_ok"),
          lit(ivfpqHits >= denom * 0.15).as("ivfpq_recall_ok"),
          lit(pqFullExact).as("pq_full_exact"))
    }),

    // NEAR-DUP RECALL GATE (r14, VERDICT r13 task 5 — the llm_ann_recall
    // pattern for the minhash family): plant one variant of every 5th
    // document at three mutation strengths (drop the tail 10% of
    // tokens ≈ J 0.88; alter every 12th token ≈ J 0.6; alter every 4th
    // ≈ J 0.14), classify each planted pair by its EXACT shingle
    // Jaccard into bands, and assert (a) banded-LSH candidate recall ≥
    // pinned floors per band — the S-curve's own math: at 16 bands × 4
    // rows, P(candidate) = 1−(1−J⁴)^16 ≈ 1.0 at J≥0.8 and ≈ 0.5–1.0
    // over the mid band — (b) the est-prefilter + exact-verify stage
    // emits EVERY high-band candidate pair (completeness: the 0.4
    // estimate prefilter must never drop a true J≥0.8 pair) and (c)
    // NOTHING below the 0.8 threshold (precision = 1.0 vs exact
    // Jaccard). The floors are regression pins with margin, not
    // quality claims. The oracle re-derives n_planted and the band
    // occupancies from the mutation + string-shingle Jaccard chain;
    // the assertions ride as booleans (the a5 bound-oracle pattern)
    "llm_dedup_recall" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("text").isNotNull)
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) >= 30)
      val vHigh = base.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        expr("array_join(slice(__t, 1, (size(__t) * 9) div 10), ' ')")
          .as("text"))
      val vMid = base.select((col("doc_id") + lit(2000000L)).as("doc_id"),
        expr("array_join(transform(__t, (x, i) -> " +
          "IF(i % 12 = 11, concat(x, 'qx'), x)), ' ')").as("text"))
      val vLow = base.select((col("doc_id") + lit(3000000L)).as("doc_id"),
        expr("array_join(transform(__t, (x, i) -> " +
          "IF(i % 4 = 3, concat(x, 'qx'), x)), ' ')").as("text"))
      val all = Scope.persist(base.select("doc_id", "text")
        .unionByName(vHigh).unionByName(vMid).unionByName(vLow))
      all.count()
      val planted = base.select(col("doc_id").as("ida"))
        .select(col("ida"),
          explode(expr("array(1000000L, 2000000L, 3000000L)")).as("__o"))
        .select(col("ida"), (col("ida") + col("__o")).as("idb"))
      // each verify's shingle checkpoint gets its own scope, closed once
      // the verify output is filled
      val (exactDf, sh) =
        Scope.run(Dedup.verifyJaccard(planted, all, "text", "doc_id"))
      val exact = Scope.persist(exactDf
        .withColumn("band", when(col("jaccard") >= 0.8, "high")
          .when(col("jaccard") >= 0.45, "mid").otherwise("low")))
      exact.count(); sh.close()
      val sigs = Scope.persist(Dedup.minhashSignatures(all, "text", "doc_id"))
      sigs.count()
      val cands = Scope.persist(
        Dedup.lshCandidates(sigs, "doc_id", bands = 16, rows = 4))
      cands.count()
      val est = Dedup.estimateJaccard(cands, sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.4).select("ida", "idb")
      val (verAllDf, sh2) =
        Scope.run(Dedup.verifyJaccard(est, all, "text", "doc_id"))
      val verAll = Scope.persist(verAllDf)
      verAll.count(); sh2.close()
      Scope.release(sigs)
      val ver = verAll.filter(col("jaccard") >= 0.8).select("ida", "idb")
      // band recall of the candidate stage
      val found = exact
        .join(cands.select(col("ida"), col("idb"), lit(1).as("__c")),
          Seq("ida", "idb"), "left")
      val stats = found.groupBy("band")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
          sum(coalesce(col("__c"), lit(0))).as("f"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val (nHigh, fHigh) = stats.getOrElse("high", (0L, 0L))
      val (nMid, fMid) = stats.getOrElse("mid", (0L, 0L))
      val nPlanted = stats.values.map(_._1).sum
      // verify-stage precision (nothing under the threshold) and
      // completeness (every high-band candidate emitted)
      val precisionOk = ver.join(exact, Seq("ida", "idb"))
        .filter(col("jaccard") < 0.8).count() == 0L
      val due = Scope.persist(exact.filter(col("band") === "high")
        .join(cands.select("ida", "idb"), Seq("ida", "idb"), "left_semi"))
      val nDue = due.count()
      val completeOk =
        due.join(ver, Seq("ida", "idb"), "left_semi").count() == nDue
      Seq(due, verAll, cands, exact, all).foreach(Scope.release)
      // floors: measured 1.00 high (J ∈ [0.86, 0.91]) and 0.92–0.96
      // mid (J ∈ [0.60, 0.69]) across sf0.001/sf0.01; pinned with
      // margin (regression pins, not quality claims). The low band
      // (J ≈ 0.15) is the negative control — its pairs are invisible
      // to the S-curve and gated only through verify precision
      Seq((nPlanted, nHigh, nMid,
          nHigh > 0L && fHigh.toDouble >= nHigh * 0.95,
          nMid > 0L && fMid.toDouble >= nMid * 0.60,
          precisionOk, completeOk))
        .toDF("n_planted", "n_high", "n_mid", "high_recall_ok",
          "mid_recall_ok", "verify_precision_exact", "verify_complete")
    }),

    // batch IVF ANN join (r09): top-5 corpus matches for EVERY query
    // row — per-query nprobe=2 list probes (declarative distance sort
    // over the inlined centroid matrix), capped bipartite candidates
    // on the list id, exact cosine, k-bounded native top-k. Completes
    // the ANN matrix: LSH and IVF each in point and batch form.
    "llm_ann_ivf_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroidsLloyd(emb, "embedding", "vec_id",
        k = 8, iters = 2)
      val corpus = Similarity.ivfAssign(
        emb.filter(col("vec_id") >= 8), "embedding", cents)
      Similarity.ivfJoinTopK(corpus, emb.filter(col("vec_id") < 8),
          "embedding", "vec_id", k = 5, cents, nprobe = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // PERSISTED IVF index (r09): the same quantizer, but the assigned
    // corpus is WRITTEN as parquet partitioned by ivf_list
    // (Similarity.writeIvfIndex — the ingest-time layout) and the
    // probe runs against the read-back index as a PARTITION-PRUNED
    // scan (RunnerSpec's plan gate asserts its PartitionFilters). Same
    // answers as llm_ann_ivf — the shared oracle gates both.
    "llm_ann_ivf_persisted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val cents = Similarity.ivfCentroidsLloyd(emb, "embedding", "vec_id",
        k = 8, iters = 2)
      val path =
        s"target/ivf_index/${new java.io.File(dir).getName}"
      Similarity.writeIvfIndex(emb, "embedding", cents, path)
      val assigned = s.read.parquet(path)
      Similarity.ivfTopK(assigned, "embedding", "vec_id", q, 5, cents)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // IVF index append/compaction lifecycle (r15): quantizer trained
    // once and frozen INSIDE the index; the corpus arrives as a base
    // build plus two appended batches; compaction (rename-aside swap)
    // runs before the serve. The probe result must be IDENTICAL to the
    // one-shot llm_ann_ivf_persisted build — the SAME oracle gates it
    "llm_ann_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val cents = Similarity.ivfCentroidsLloyd(emb, "embedding", "vec_id",
        k = 8, iters = 2)
      val path =
        s"target/ivf_index_append/${new java.io.File(dir).getName}"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Similarity.writeIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) < 3), "embedding", cents,
        path)
      Similarity.appendToIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) === 3), "embedding", path)
      Similarity.appendToIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) === 4), "embedding", path)
      Similarity.optimizeIvfIndex(s, path, minFiles = 2)
      Similarity.ivfTopKIndexed(s, path, "embedding", "vec_id", q, 5)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // int8-quantized ANN: integer-dot ranking over quantized codes
    // (1/4 the scan bytes), pool of 40, exact float cosine rerank —
    // fully deterministic, mirrored end to end in SQL
    "llm_ann_int8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      Similarity.quantizedTopK(emb, "embedding", "vec_id", q, 10,
          poolK = 40)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // multimodal binary plumbing: byte metadata over text-as-binary
    "mm_binary_meta" -> ((s, dir) =>
      Multimodal.withBinaryMeta(
          t(s, dir, "documents").withColumn("payload",
            col("text").cast("binary")),
          "payload")
        .select(col("doc_id"), col("n_bytes"), col("content_hash"))
        .orderBy("doc_id")),

    // REAL image decode (javax.imageio): deterministic synthetic
    // grayscale PNGs (size + pixels are closed-form functions of
    // doc_id), batched decode to width/height/luminance-histogram —
    // PNG is lossless so the oracle mirrors the pixel formula in SQL,
    // verifying the encode→decode→feature path end to end
    "mm_image_decode" -> ((s, dir) => {
      val gen = udf { id: Long =>
        Multimodal.syntheticPng(id, (4 + id % 4).toInt, (3 + id % 3).toInt)
      }
      // fan the bare id column out BEFORE the generation UDF: PNG
      // encode is as CPU-bound as the decode under test, and the
      // single-file sf scan would otherwise run it on one thread
      val withPng = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("png", gen(col("doc_id")))
      Multimodal.extractFeatures(withPng, "png", "doc_id",
          new Multimodal.ImageIoDecoder(8), batchSize = 64)
        .select(col("doc_id") +:
          element_at(col("features"), 1).cast("long").as("width") +:
          element_at(col("features"), 2).cast("long").as("height") +:
          (0 until 8).map(b => element_at(col("features"), 3 + b)
            .cast("long").as(s"hb$b")): _*)
        .orderBy("doc_id")
    }),

    // image perceptual near-dup: synthetic 16×16 PNGs in 100 groups of
    // 5 "exposures" (seed = doc_id % 100 picks the GRADIENT — cx/cy
    // from the seed digits, 100 distinct spatial patterns; jitter =
    // doc_id / 100 shifts brightness) → REAL decode → 8×8 average-hash
    // → the SAME Hamming-banded candidate machinery as text SimHash.
    // Same-seed exposure pairs differ in the few bits the mod-256 wrap
    // flips; different gradients differ in ~32 — the oracle re-derives
    // every hash from the closed-form pixel formula
    "mm_image_ahash_neardup" -> ((s, dir) => {
      val gen = udf { (seed: Long, jit: Long) =>
        Multimodal.syntheticPng(seed, 16, 16, jit,
          cx = 1 + 2 * (seed % 10), cy = 1 + 2 * (seed / 10 % 10))
      }
      val withPng = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("png",
          gen(pmod(col("doc_id"), lit(100L)), expr("doc_id DIV 100")))
      val hashed = Multimodal.extractFeatures(withPng, "png", "doc_id",
          new Multimodal.AHashDecoder, batchSize = 64)
        .filter(element_at(col("features"), 1) > 0) // drop poison pills
        .select(col("doc_id"),
          Multimodal.ahash64(col("features")).as("simhash"))
      Dedup.simhashCandidates(hashed, "doc_id", maxHamming = 6)
        .orderBy("ida", "idb")
    }),

    // REAL audio decode (javax.sound.sampled WAV/PCM): deterministic
    // synthetic PCM16 → decode → sample-rate / frame-count / amplitude
    // histogram; the oracle mirrors the closed-form sample formula
    "mm_audio_decode" -> ((s, dir) => {
      val gen = udf { id: Long =>
        Multimodal.syntheticWav(id, (50 + id % 50).toInt)
      }
      val withWav = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("wav", gen(col("doc_id")))
      Multimodal.extractFeatures(withWav, "wav", "doc_id",
          new Multimodal.WavDecoder(8), batchSize = 64)
        .select(col("doc_id") +:
          element_at(col("features"), 1).cast("long").as("sample_rate") +:
          element_at(col("features"), 2).cast("long").as("n_frames") +:
          (0 until 8).map(b => element_at(col("features"), 3 + b)
            .cast("long").as(s"hb$b")): _*)
        .orderBy("doc_id")
    }),

    // COMPRESSED audio decode (r10): IMA/DVI ADPCM in WAV — the 4-bit
    // predictive codec implemented from the public IMA spec
    // (javax.sound cannot decode ADPCM). The synthetic fixture IS the
    // compressed stream (a closed form of doc_id) and the decode is
    // integer-exact, so a recursive-CTE oracle replays the (predictor,
    // step-index) state machine bit-for-bit — the k3_lowpass pattern
    // applied to a codec. Retires FakeDecoder for compressed audio,
    // the audio twin of mm_video_mjpeg
    "mm_audio_adpcm" -> ((s, dir) => {
      val gen = udf { id: Long =>
        Multimodal.syntheticImaAdpcmWav(id, (40 + id % 17).toInt)
      }
      val withWav = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("wav", gen(col("doc_id")))
      Multimodal.extractFeatures(withWav, "wav", "doc_id",
          new Multimodal.ImaAdpcmWavDecoder(8), batchSize = 64)
        .select(col("doc_id") +:
          element_at(col("features"), 1).cast("long").as("sample_rate") +:
          element_at(col("features"), 2).cast("long").as("n_samples") +:
          (0 until 8).map(b => element_at(col("features"), 3 + b)
            .cast("long").as(s"hb$b")): _*)
        .orderBy("doc_id")
    }),

    // G.711 telephony audio (r11): µ-law for even doc_ids, A-law for
    // odd — both laws decode STATELESSLY (one integer closed form per
    // byte, no predictor state), so the oracle is plain arithmetic
    // rather than ADPCM's recursive CTE. Retires FakeDecoder for the
    // telephony/ASR corpus codec
    "mm_audio_g711" -> ((s, dir) => {
      val gen = udf { id: Long =>
        Multimodal.syntheticG711Wav(
          id, (48 + id % 13).toInt, aLaw = id % 2 == 1)
      }
      val withWav = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("wav", gen(col("doc_id")))
      Multimodal.extractFeatures(withWav, "wav", "doc_id",
          new Multimodal.G711WavDecoder(8), batchSize = 64)
        .select(col("doc_id") +:
          element_at(col("features"), 1).cast("long").as("sample_rate") +:
          element_at(col("features"), 2).cast("long").as("n_samples") +:
          (0 until 8).map(b => element_at(col("features"), 3 + b)
            .cast("long").as(s"hb$b")): _*)
        .orderBy("doc_id")
    }),

    // video decode over the pure-JVM Y4M container (r07 — the real
    // decoder replacing the video stand-in): synthesized 16×8 C420
    // clips with 3 + id%3 frames, per-clip geometry + frame count +
    // luma histogram; every decoded number is a closed form of doc_id
    "mm_video_decode" -> ((s, dir) => {
      val gen = udf { id: Long =>
        Multimodal.syntheticY4m(id, 16, 8, (3 + id % 3).toInt)
      }
      val withVid = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("vid", gen(col("doc_id")))
      Multimodal.extractFeatures(withVid, "vid", "doc_id",
          new Multimodal.Y4mDecoder(8), batchSize = 64)
        .select(col("doc_id") +:
          element_at(col("features"), 1).cast("long").as("w") +:
          element_at(col("features"), 2).cast("long").as("h") +:
          element_at(col("features"), 3).cast("long").as("n_frames") +:
          element_at(col("features"), 4).cast("long").as("fps") +:
          (0 until 8).map(b => element_at(col("features"), 5 + b)
            .cast("long").as(s"hb$b")): _*)
        .orderBy("doc_id")
    }),

    // COMPRESSED video decode (r09): Motion-JPEG in an AVI RIFF
    // container — hand-parsed RIFF walk, every frame a real JDK
    // JPEG decode. Synthetic clips carry uniform frames at
    // multiples-of-16 gray (JPEG round-trip FIXED POINTS), so the
    // decoded histogram stays a closed form of doc_id even through
    // the real lossy codec — which is what lets SQL gate it
    "mm_video_mjpeg" -> ((s, dir) => {
      val gen = udf { id: Long =>
        Multimodal.syntheticMjpegAvi(id, 16, 8, (3 + id % 3).toInt)
      }
      val withVid = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("vid", gen(col("doc_id")))
      Multimodal.extractFeatures(withVid, "vid", "doc_id",
          new Multimodal.MjpegAviDecoder(8), batchSize = 64)
        .select(col("doc_id") +:
          element_at(col("features"), 1).cast("long").as("w") +:
          element_at(col("features"), 2).cast("long").as("h") +:
          element_at(col("features"), 3).cast("long").as("n_frames") +:
          element_at(col("features"), 4).cast("long").as("fps") +:
          (0 until 8).map(b => element_at(col("features"), 5 + b)
            .cast("long").as(s"hb$b")): _*)
        .orderBy("doc_id")
    }),

    // corpus heavy hitters: merged Misra-Gries sketch (no token-stream
    // shuffle) -> bounded exact recount via the TermCounts kernel ->
    // provably-true top-k (capacity 64 > vocab here, so the sketch is
    // exact; at scale the N/(capacity+1) bound governs — see
    // TextAnalysis.heavyHitterTerms scaladoc)
    "llm_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitterTerms(
        t(s, dir, "documents"), col("text"), k = 10, capacity = 64)
        .orderBy(desc("cnt"), asc("term"))),

    // PCA fit pass: exact-integer covariance of the embedding corpus —
    // quantized long sums make the result bit-deterministic under any
    // partitioning (float dot-product partials are not), so the full
    // 64×64 upper triangle hash-matches a DuckDB mirror. The eigen +
    // projection stages are driver/map-only and spec-pinned (LlmSpec
    // pca test: planted axes, projection parity, repartition
    // determinism).
    "llm_pca_covariance" -> ((s, dir) =>
      // no rounding: the single exact-integer division is already
      // bit-identical across engines
      Similarity.pcaCovariance(
        t(s, dir, "embeddings"), "embedding", dim = 64)
        .orderBy("i", "j")),

    // incremental sketch merge: sketch two corpus halves independently
    // (the per-day persisted-summary shape), then merge the stored
    // summaries with merge_term_summaries and rank — at 100 TB this
    // answers "top terms over a window of days" from KB-scale sketch
    // rows with NO rescan of the text. Capacity 256 > vocab here, so
    // incremental == direct == true counts and the oracle gates exactly.
    "llm_sketch_merge" -> ((s, dir) => {
      val halves = t(s, dir, "documents")
        .withColumn("half", pmod(col("doc_id"), lit(2)))
        .groupBy("half")
        .agg(graft.functions.MisraGriesTerms(col("text"), 256).as("sk"))
      halves
        .agg(graft.functions.MergeTermSummaries(col("sk"), 256).as("m"))
        .select(explode(col("m")).as("e"))
        .select(col("e.term").as("term"), col("e.count").as("cnt"))
        .orderBy(desc("cnt"), asc("term")).limit(10)
    }),

    // incremental distinct-count: DataSketches HLL sketches built per
    // corpus half (the per-day persisted shape — hll_sketch_agg emits a
    // binary sketch column you can store), unioned with hll_union_agg
    // and estimated — the distinct-count twin of llm_sketch_merge.
    // DataSketches HLL is EXACT below its list/set-mode threshold
    // here, so the oracle below compares the unioned estimate with the
    // exact per-source count(DISTINCT term) (llm_sketch_union in
    // `oracle`) at sf0.01 and sf0.1; at real vocabulary
    // scale the ±rsd estimate bound governs instead.
    "llm_sketch_union" -> ((s, dir) => {
      val toks = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
      toks.withColumn("half", pmod(col("doc_id"), lit(2)))
        .groupBy("source", "half")
        .agg(expr("hll_sketch_agg(term)").as("sk"))
        .groupBy("source")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("n_distinct"))
        .orderBy("source")
    }),

    // Count-Min sketch bounds (r15) — the canonical point-query
    // frequency sketch next to MG/HLL/KLL, gated the a5/recall way
    // (error-BOUND oracle — the cells are hash-layout, the CONTRACT is
    // the bounds): never underestimates, stays within the e·N/w
    // overestimate bound on the top-30 truth terms, and the per-half
    // merged sketch is BIT-IDENTICAL to the one-shot sketch (merge =
    // element-wise addition — the per-day persisted-sketch path)
    "llm_cms_bounds" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val W = 2048
      val D = 4
      val direct = graft.functions.CmsQuery.fromRow(
        docs.agg(graft.functions.CountMinTerms(col("text"), W, D)
          .as("sk")).head().getStruct(0), W, D)
      val merged = graft.functions.CmsQuery.fromRow(
        docs.withColumn("half", pmod(col("doc_id"), lit(2)))
          .groupBy("half")
          .agg(graft.functions.CountMinTerms(col("text"), W, D).as("sk"))
          .agg(graft.functions.MergeCmsSketches(col("sk"), W, D).as("m"))
          .head().getStruct(0), W, D)
      val mergedEq = direct.total == merged.total &&
        java.util.Arrays.equals(direct.counts, merged.counts)
      // 2× the textbook e·N/w: the per-term textbook bound only holds
      // with probability 1−e^(−depth) ≈ 98%, so over 30 gated terms
      // the gate would flake across hash-family edits; at 2e the
      // per-term odds are (1/2e)^4 ≈ 10⁻³ and the FIXED corpus is
      // verified to satisfy it (deterministic thereafter)
      val bound = math.ceil(2.0 * math.E * direct.total / W).toLong
      val est = graft.functions.CmsQuery(col("term"), direct)
      docs.filter(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), asc("term")).limit(30)
        .select(col("term"), col("true_cnt"),
          (est >= col("true_cnt")).as("never_underestimates"),
          (est <= col("true_cnt") + lit(bound)).as("within_eps_bound"),
          lit(mergedEq).as("merged_equals_direct"))
        .orderBy(desc("true_cnt"), asc("term"))
    }),

    // Hilbert pruning economics (r15) — the llm_zorder_prune twin on
    // the locality-tighter curve: write the clustered files at query
    // time, run a selective curve-range query (h < 4096 = 1/16 of the
    // curve), assert via input_file_name() that it touched a strict
    // subset of the files. n_selected's oracle REPLAYS the bit-plane
    // transform per row (a curve range is NOT a coordinate box — that
    // asymmetry is the whole point of Hilbert)
    "llm_hilbert_prune" -> ((s, dir) => {
      val outDir = "target/hilbert_prune"
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      rmrf(new java.io.File(outDir))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id") * 37, lit(256L)).as("x"),
        pmod(col("doc_id") * 91, lit(256L)).as("y"))
      graft.core.Layout.hilbertWrite(docs, "x", "y", outDir,
        nFiles = 8, nBits = 8)
      val all = s.read.parquet(outDir)
      val nFiles = all.select(input_file_name()).distinct().count()
      val hit = all.filter(col("h_value") < 4096)
      val touched = hit.select(input_file_name()).distinct().count()
      hit.agg(org.apache.spark.sql.functions.count(lit(1))
          .as("n_selected"))
        .select(col("n_selected"),
          lit(touched < nFiles && touched >= 1).as("files_pruned"))
    }),

    // text canonicalization (pre-dedup normalize): NFC + case fold +
    // explicit-class whitespace collapse — byte-exact DuckDB mirror
    // (nfc_normalize + lower + regexp_replace/trim); synthetic docs are
    // ASCII so the Unicode branches are pinned by LlmSpec instead. A
    // mixed-case/spacing variant column makes the kernel load-bearing.
    "llm_normalize_text" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("variant",
          concat(lit("  "), upper(substring(col("text"), 1, 40)),
            lit("\t \n"), substring(col("text"), 41, 1000000), lit(" ")))
        .select(col("doc_id"),
          md5(TextAnalysis.normalizeText(col("variant"))).as("norm_hash"),
          length(TextAnalysis.normalizeText(col("variant")))
            .cast("long").as("n_norm"))
        .orderBy("doc_id")),

    // per-source vocabulary: exact distinct (the shuffle-heavy mirror)
    // + the one-pass mergeable HLL++ sketch, gated by its error bound —
    // the a5-style error-bound oracle shape (exact value + bound flag,
    // both DuckDB-checkable). At 100 TB the sketch column IS the path:
    // approx_count_distinct merges partials without a distinct shuffle.
    "llm_vocab_sketch" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
      toks.groupBy("source")
        .agg(countDistinct("term").as("n_distinct"),
          approx_count_distinct("term", 0.05).as("est"))
        .select(col("source"), col("n_distinct"),
          (abs(col("est") - col("n_distinct"))
            <= lit(0.15) * col("n_distinct")).as("hll_ok"))
        .orderBy("source")
    })
  )

  val oracle: Map[String, String] = Map(
    "llm_dedup_exact" ->
      "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS cnt FROM documents GROUP BY content_hash ORDER BY content_hash",
    "llm_dedup_survivors" ->
      "SELECT count(*) AS cnt FROM (SELECT min(doc_id) FROM documents GROUP BY md5(text))",
    // line-dedup mirror: boilerplate = trimmed line content repeating
    // >= 3 times corpus-wide among lines of >= 5 trimmed chars; kept
    // lines re-joined by string (engine: by xxhash64 key)
    "llm_line_dedup" ->
      """WITH d2 AS (SELECT doc_id,
        |  'promo header variant ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
        |  'rare pair line ' || CAST(doc_id % 250 AS VARCHAR) || chr(10) ||
        |  replace(text, ' the ', chr(10)) || chr(10) ||
        |  'subscribe to our newsletter footer' AS text FROM documents),
        |l0 AS (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls FROM d2),
        |lines AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos FROM l0),
        |boiler AS (SELECT trim(line) AS t FROM lines
        |           WHERE length(trim(line)) >= 5 GROUP BY 1 HAVING count(*) >= 3),
        |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
        |         LEFT JOIN boiler b ON b.t = trim(l.line) WHERE b.t IS NULL),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
        |               md5(string_agg(line, chr(10) ORDER BY pos)) AS dedup_hash
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(coalesce(d.text, ''), chr(10))) AS BIGINT) AS n_lines,
        |  coalesce(r.n_lines_kept, 0) AS n_lines_kept,
        |  coalesce(r.dedup_hash, md5('')) AS dedup_hash
        |FROM d2 d LEFT JOIN reb r ON r.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "llm_text_tokens" ->
      "SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents ORDER BY doc_id",
    "llm_text_quality" ->
      """SELECT doc_id,
        | CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
        | CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_lang_dist" ->
      "SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang ORDER BY lang",
    // mixing mirror: FNV-1a of the id string (the standard recursive
    // hex CTE), signed-bigint pmod-1000 bucket, per-source keep
    // thresholds = round(rate·1000)
    "llm_mix_sources" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS s FROM documents),
        |hx AS (SELECT DISTINCT s FROM ids),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |        FROM fnv WHERE i = nb),
        |b AS (SELECT i.doc_id, i.source, ((sg.hv % 1000) + 1000) % 1000 AS bucket FROM ids i JOIN sgn sg ON sg.s = i.s),
        |r AS (SELECT source, bucket,
        |  CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 500 WHEN 'src2' THEN 0 ELSE 1000 END AS keep FROM b)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept
        |FROM r WHERE bucket < keep GROUP BY source ORDER BY source""".stripMargin,
    // grouped top-k mirror: the row_number window form (the aggregate
    // keeps the same (score DESC, id ASC) total order)
    "llm_topk_by_source" ->
      """WITH r AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(rn - 1 AS INTEGER) AS pos, score, doc_id
        |FROM r WHERE rn <= 3 ORDER BY source, pos""".stripMargin,
    // familiarity mirror: bigram occurrences (WITH repetitions — the
    // ngrams unit, incl. the short-doc collapse), corpus counts, and
    // the per-doc integer sums
    // funnel mirror: one metrics CTE, one aggregate of cumulative CASE
    // sums, unpivoted by UNION ALL — the same single-scan shape
    "llm_curation_funnel" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok,
        |    CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) / length(text) AS alpha,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+')) AS atl
        |  FROM documents),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN ntok BETWEEN 30 AND 80 THEN 1 ELSE 0 END) AS BIGINT) AS s0,
        |    CAST(sum(CASE WHEN ntok BETWEEN 30 AND 80 AND alpha > 0.818 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN ntok BETWEEN 30 AND 80 AND alpha > 0.818 AND atl BETWEEN 4.3 AND 4.7 THEN 1 ELSE 0 END) AS BIGINT) AS s2
        |  FROM m)
        |SELECT * FROM (
        |  SELECT 0 AS stage_idx, 'token_count' AS stage, n AS rows_in, s0 AS rows_out,
        |         CASE WHEN n > 0 THEN CAST(s0 AS DOUBLE) / n END AS pass_rate FROM f
        |  UNION ALL SELECT 1, 'alpha_ratio', s0, s1,
        |         CASE WHEN s0 > 0 THEN CAST(s1 AS DOUBLE) / s0 END FROM f
        |  UNION ALL SELECT 2, 'avg_token_len', s1, s2,
        |         CASE WHEN s1 > 0 THEN CAST(s2 AS DOUBLE) / s1 END FROM f
        |) ORDER BY stage_idx""".stripMargin,

    // URL-canonicalization mirror: same synthetic URL closed form,
    // same regexp pipeline — every pattern sits in the Java∩RE2
    // common subset and matches at most once per URL, so the
    // first-match-vs-global replace dialect gap cannot bite
    "llm_url_canonical" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END
        |  || 'd' || CAST(doc_id % 17 AS VARCHAR) || '.Example.org/p/'
        |  || CAST(doc_id AS VARCHAR)
        |  || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
        |          WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR)
        |          ELSE '' END
        |  || CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nofrag FROM u),
        |c2 AS (SELECT doc_id, url,
        |  regexp_extract(nofrag, '^https://([^/]+)', 1) AS host,
        |  regexp_extract(nofrag, '^https://[^/]+(.*)', 1) AS tail0 FROM c)
        |SELECT doc_id, url,
        |  'https://' || regexp_replace(lower(host), '^www\.', '') ||
        |  regexp_replace(regexp_replace(tail0, 'utm_[^&]*&?', ''), '[?&]$', '')
        |    AS canon_url
        |FROM c2 ORDER BY doc_id""".stripMargin,

    // URL-dedup mirror: plain NOT EXISTS anti join — the engine's
    // bloom short-circuit is result-identical by construction
    "llm_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/p/'
        |    || CAST(doc_id % 23 AS VARCHAR) AS url FROM documents),
        |seen AS (SELECT DISTINCT url FROM u WHERE doc_id % 2 = 0)
        |SELECT doc_id, url FROM u
        |WHERE doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM seen WHERE seen.url = u.url)
        |ORDER BY doc_id""".stripMargin,

    // robots-filter mirror (shared with the streaming twin; see
    // robotsFilterOracleSql)
    "llm_robots_filter" -> robotsFilterOracleSql,
    // the WARC-sourced dim must yield identical verdicts — same mirror
    "llm_robots_from_warc" -> robotsFilterOracleSql,

    // DSIR mirror: same unigram+bigram stream (positional unnest zip),
    // the standard recursive FNV-1a hex CTE per DISTINCT gram, bucket =
    // unsigned h % 4096 (== the engine's signed pmod because 2^64 ≡ 0
    // mod 2^12), add-one-smoothed micro-nat log-ratios over a dense
    // range(4096) spine, exact integer per-doc sums
    "llm_dsir_weights" -> dsirWeightsOracleSql(
      "SELECT doc_id, n_grams, weight_micro FROM w ORDER BY doc_id"),
    // selection mirror: the row_number window form of the k-bounded
    // aggregate's (weight DESC, doc_id ASC) total order
    "llm_dsir_select" -> dsirWeightsOracleSql(
      """SELECT CAST(rn AS INT) AS rank, doc_id, weight_micro FROM (
        |  SELECT doc_id, weight_micro,
        |    row_number() OVER (ORDER BY weight_micro DESC, doc_id) AS rn
        |  FROM w) WHERE rn <= 25 ORDER BY rank""".stripMargin),

    // WET-roundtrip mirror: url / UTF-8 byte count / md5 straight from
    // the table — write and read are both the engine's; the oracle
    // never touches the shards
    "llm_wet_roundtrip" ->
      """SELECT 'https://d' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(octet_length(ENCODE(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_hash
        |FROM documents WHERE text IS NOT NULL ORDER BY url""".stripMargin,

    // CDX-range-fetch mirror: the wet_roundtrip closed forms
    // restricted to the selected (even-id) half — write, index,
    // select, range-read are all the engine's; the oracle touches
    // neither shards nor index
    "llm_cdx_fetch" ->
      """SELECT 'https://d' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(octet_length(ENCODE(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_hash
        |FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0
        |ORDER BY url""".stripMargin,

    // WAT-roundtrip mirror: url / title / link summary as closed
    // forms (the llm_html_links answers plus the planted title) —
    // write, read, JSON encode/decode are all the engine's; the
    // oracle touches neither the shards nor HTML nor JSON
    "llm_wat_roundtrip" ->
      """SELECT 'https://d' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
        |  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |  CAST(3 AS INT) AS n_links,
        |  '/p/' || CAST(doc_id AS VARCHAR) ||
        |  '|https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/dl/'
        |    || CAST(doc_id AS VARCHAR) || '?a=1&b=2' ||
        |  '|/rel/' || CAST(doc_id AS VARCHAR) AS links_joined
        |FROM documents ORDER BY url""".stripMargin,

    // anchor-profile mirror: the in-link relation re-derived
    // arithmetically (source s links target (s·7+1)%n with term
    // term(s%5)); same grouping, distinct-sorted term join
    "llm_anchor_profile" ->
      """WITH cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |links AS (SELECT (doc_id*7+1) % n AS target,
        |                 'term' || CAST(doc_id % 5 AS VARCHAR) AS term
        |          FROM documents CROSS JOIN cnt)
        |SELECT target, CAST(count(*) AS BIGINT) AS n_inlinks,
        |  string_agg(DISTINCT term, '|' ORDER BY term) AS terms_joined
        |FROM links GROUP BY target ORDER BY target""".stripMargin,

    // anchor-text mirror: the three planted (href, text) pairs as
    // closed forms — decoys and href-less text must never appear
    "llm_anchor_text" ->
      """SELECT doc_id, CAST(3 AS INT) AS n_links,
        |  '/p/' || CAST(doc_id AS VARCHAR) || '->first bold link' ||
        |  '|https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/dl/'
        |    || CAST(doc_id AS VARCHAR) || '?a=1&b=2->D&D guide' ||
        |  '|/rel/' || CAST(doc_id AS VARCHAR) || '->last one'
        |    AS anchors_joined
        |FROM documents ORDER BY doc_id""".stripMargin,

    // html-links mirror: the three planted hrefs (entity already
    // decoded: &amp; → &) as closed forms; decoys must never appear
    "llm_html_links" ->
      """SELECT doc_id, CAST(3 AS INT) AS n_links,
        |  '/p/' || CAST(doc_id AS VARCHAR) ||
        |  '|https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/dl/'
        |    || CAST(doc_id AS VARCHAR) || '?a=1&b=2' ||
        |  '|/rel/' || CAST(doc_id AS VARCHAR) AS links_joined
        |FROM documents ORDER BY doc_id""".stripMargin,

    // PageRank mirror: the same 3-out-link modulus graph, the 5
    // integer-quantized iterations UNROLLED round by round (the
    // fixed-depth-Lloyd oracle pattern) — floor divisions on positive
    // ranks mirror the engine's integral div exactly
    "llm_pagerank" -> pagerankOracleSql,
    // the composed chain builds the IDENTICAL graph through the real
    // HtmlLinks parse, so the same unrolled mirror gates it
    "llm_link_pagerank" -> pagerankOracleSql,
    // warm-start mirror: pr0 = last crawl's closed-form vector on the
    // v%3==0 third, uniform elsewhere; 3 unrolled rounds
    "llm_pagerank_warm" -> pagerankOracle(3,
      "CASE WHEN doc_id % 3 = 0 THEN (doc_id % 10 + 1) * 1000000 " +
        "ELSE r0 END"),
    // HITS mirror: 3 unrolled auth/hub half-step rounds on the same
    // modulus graph
    "llm_hits" -> hitsOracle(3),

    // fetch-schedule mirror: the allowed set is the robots closed form,
    // slots are a row_number window per host over URL string order,
    // delay_ms is the host-parity closed form (even 2000; odd unset →
    // default 1000; robots-less d6 → default 1000), offsets exact
    // integer products
    "llm_fetch_schedule" ->
      """WITH u AS (SELECT doc_id, doc_id % 7 AS h,
        |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ||
        |  CASE WHEN doc_id % 4 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        |       WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id AS VARCHAR) || '.pdf'
        |       WHEN doc_id % 4 = 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
        |       ELSE '/dl/' || CAST(doc_id AS VARCHAR) END AS url
        |  FROM documents),
        |a AS (SELECT * FROM u WHERE
        |  CASE WHEN h = 6 THEN TRUE
        |       WHEN h IN (0, 2, 4) THEN doc_id % 4 IN (2, 3)
        |       ELSE doc_id % 4 <> 0 END),
        |r AS (SELECT doc_id, url,
        |  'd' || CAST(h AS VARCHAR) || '.example.org' AS host,
        |  row_number() OVER (PARTITION BY h ORDER BY url) AS slot,
        |  CASE WHEN h IN (0, 2, 4) THEN 2000 ELSE 1000 END AS delay_ms
        |  FROM a)
        |SELECT host, CAST(slot AS INT) AS slot, doc_id, url,
        |  CAST((slot - 1) * delay_ms AS BIGINT) AS fetch_offset_ms
        |FROM r ORDER BY host, slot""".stripMargin,

    // fetch-backoff mirror: the schedule mirror with the per-host
    // delay replaced by max(robots-delay-or-default, retry_after) as
    // closed forms — backoff hosts are h%3=0 at 4000+h·500 ms
    "llm_fetch_backoff" ->
      """WITH u AS (SELECT doc_id, doc_id % 7 AS h,
        |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ||
        |  CASE WHEN doc_id % 4 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        |       WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id AS VARCHAR) || '.pdf'
        |       WHEN doc_id % 4 = 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
        |       ELSE '/dl/' || CAST(doc_id AS VARCHAR) END AS url
        |  FROM documents),
        |a AS (SELECT * FROM u WHERE
        |  CASE WHEN h = 6 THEN TRUE
        |       WHEN h IN (0, 2, 4) THEN doc_id % 4 IN (2, 3)
        |       ELSE doc_id % 4 <> 0 END),
        |r AS (SELECT doc_id, url,
        |  'd' || CAST(h AS VARCHAR) || '.example.org' AS host,
        |  row_number() OVER (PARTITION BY h ORDER BY url) AS slot,
        |  greatest(
        |    CASE WHEN h IN (0, 2, 4) THEN 2000 ELSE 1000 END,
        |    CASE WHEN h % 3 = 0 THEN 4000 + h * 500 ELSE 0 END)
        |    AS delay_ms
        |  FROM a)
        |SELECT host, CAST(slot AS INT) AS slot, doc_id, url,
        |  CAST((slot - 1) * delay_ms AS BIGINT) AS fetch_offset_ms
        |FROM r ORDER BY host, slot""".stripMargin,

    // robots-directives mirror: crawl-delay and sitemap counts as
    // closed forms of the host parity (even bodies: GraftBot group's
    // Crawl-delay 2 + two distinct file-global sitemaps; odd bodies:
    // the * fallback group sets neither)
    "llm_robots_directives" ->
      """WITH h AS (SELECT DISTINCT doc_id % 7 AS hostnum FROM documents
        |           WHERE doc_id % 7 <> 6)
        |SELECT 'd' || CAST(hostnum AS VARCHAR) || '.example.org' AS host,
        |  CASE WHEN hostnum % 2 = 0 THEN CAST(2.0 AS DOUBLE) END AS crawl_delay,
        |  CAST(CASE WHEN hostnum % 2 = 0 THEN 2 ELSE 0 END AS INT) AS n_sitemaps,
        |  CASE WHEN hostnum % 2 = 0
        |       THEN 'https://cdn.example.org/sitemap.xml' END AS first_sitemap
        |FROM h ORDER BY host""".stripMargin,

    // sitemap-ingest mirror: entry position = per-host doc_id rank
    // (the engine's sorted collect_list), loc/lastmod/verdict as the
    // robots closed forms — the oracle never parses XML or robots.txt
    "llm_sitemap_ingest" ->
      """WITH u AS (SELECT doc_id, doc_id % 7 AS h,
        |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ||
        |  CASE WHEN doc_id % 4 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        |       WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id AS VARCHAR) || '.pdf'
        |       WHEN doc_id % 4 = 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
        |       ELSE '/dl/' || CAST(doc_id AS VARCHAR) END AS url,
        |  '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    AS lastmod,
        |  CASE WHEN doc_id % 7 = 6 THEN TRUE
        |       WHEN doc_id % 7 IN (0, 2, 4) THEN doc_id % 4 IN (2, 3)
        |       ELSE doc_id % 4 <> 0 END AS allowed
        |  FROM documents)
        |SELECT 'd' || CAST(h AS VARCHAR) || '.example.org' AS host,
        |  CAST(row_number() OVER (PARTITION BY h ORDER BY doc_id) - 1
        |    AS INT) AS entry_pos,
        |  url, lastmod, allowed
        |FROM u ORDER BY url""".stripMargin,

    // recursive-sitemap mirror: shard membership (doc_id%2), per-shard
    // entry rank, loc/lastmod closed forms — the oracle never parses
    // XML, never joins index to shard; only the engine recurses
    "llm_sitemap_recursive" ->
      """WITH u AS (SELECT doc_id, doc_id % 7 AS h, doc_id % 2 AS k,
        |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ||
        |  CASE WHEN doc_id % 4 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        |       WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id AS VARCHAR) || '.pdf'
        |       WHEN doc_id % 4 = 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
        |       ELSE '/dl/' || CAST(doc_id AS VARCHAR) END AS url,
        |  '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    AS lastmod
        |  FROM documents)
        |SELECT 'd' || CAST(h AS VARCHAR) || '.example.org' AS host,
        |  'https://d' || CAST(h AS VARCHAR) || '.example.org/sitemap-'
        |    || CAST(k AS VARCHAR) || '.xml' AS shard_url,
        |  CAST(row_number() OVER (PARTITION BY h, k ORDER BY doc_id) - 1
        |    AS INT) AS entry_pos,
        |  url, lastmod
        |FROM u ORDER BY url""".stripMargin,

    // tar-roundtrip mirror: the two members per doc as closed forms —
    // the json bytes re-derived as the exact to_json text
    "llm_tar_roundtrip" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents
        |  WHERE text IS NOT NULL),
        |j AS (SELECT doc_id, '{"doc_id":' || CAST(doc_id AS VARCHAR) ||
        |  ',"lang":"' || lang || '"}' AS js FROM d)
        |SELECT * FROM (
        |  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS key, 'txt' AS ext,
        |    CAST(octet_length(ENCODE(text)) AS BIGINT) AS n_bytes,
        |    md5(text) AS content_hash FROM d
        |  UNION ALL
        |  SELECT 'doc-' || CAST(doc_id AS VARCHAR), 'json',
        |    CAST(octet_length(ENCODE(js)) AS BIGINT), md5(js) FROM j)
        |ORDER BY key, ext""".stripMargin,

    // multimodal-tar mirror: img bytes = unhex(md5(...)) so their hex
    // is the md5 closed form itself; json = the exact to_json bytes
    "llm_tar_multimodal" ->
      """WITH d AS (SELECT doc_id,
        |  '{"doc_id":' || CAST(doc_id AS VARCHAR) || '}' AS js
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 's-' || CAST(doc_id AS VARCHAR) AS key, 'img' AS ext,
        |    CAST(16 AS BIGINT) AS n_bytes,
        |    upper(md5('payload-' || CAST(doc_id AS VARCHAR)))
        |      AS content_hex FROM d
        |  UNION ALL
        |  SELECT 's-' || CAST(doc_id AS VARCHAR), 'json',
        |    CAST(octet_length(ENCODE(js)) AS BIGINT),
        |    upper(hex(ENCODE(js))) FROM d)
        |ORDER BY key, ext""".stripMargin,

    // WARC-revisit mirror: record type = the %3 recurrence split,
    // n_bytes = stored payload bytes (0 for revisits — the storage
    // economy being gated), content hash = md5 of the closed-form
    // text on BOTH branches (resolution must recover the revisit
    // payload from the store), refers-to = the previous capture. The
    // oracle never frames, reads, or joins WARC anything
    "llm_warc_revisit" ->
      """SELECT
        |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/p/'
        |    || CAST(doc_id AS VARCHAR) AS url,
        |  CASE WHEN doc_id % 3 = 0 THEN 'revisit'
        |       ELSE 'response' END AS warc_type,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0
        |       ELSE 8 + length(CAST(doc_id AS VARCHAR)) END AS BIGINT)
        |    AS n_bytes,
        |  md5('content ' || CAST(doc_id AS VARCHAR)) AS content_hash,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/p/'
        |      || CAST(doc_id AS VARCHAR) END AS refers_to_url,
        |  CASE WHEN doc_id % 3 = 0 THEN '2025-12-01T00:00:00Z' END
        |    AS refers_to_date
        |FROM documents ORDER BY url""".stripMargin,

    // revisit-select mirror: keep = new (odd id) ∨ modified (lastmod
    // day > 15); reason as the same CASE — pure modulus arithmetic,
    // no XML, no join on the oracle side
    "llm_revisit_select" ->
      """WITH u AS (SELECT doc_id, doc_id % 7 AS h,
        |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ||
        |  CASE WHEN doc_id % 4 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        |       WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id AS VARCHAR) || '.pdf'
        |       WHEN doc_id % 4 = 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
        |       ELSE '/dl/' || CAST(doc_id AS VARCHAR) END AS url,
        |  '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    AS lastmod
        |  FROM documents)
        |SELECT 'd' || CAST(h AS VARCHAR) || '.example.org' AS host,
        |  url, lastmod,
        |  CASE WHEN doc_id % 2 = 1 THEN 'new'
        |       WHEN doc_id % 28 + 1 > 15 THEN 'modified' END AS reason
        |FROM u WHERE doc_id % 2 = 1 OR doc_id % 28 + 1 > 15
        |ORDER BY url""".stripMargin,

    // CDX-select mirror: every field — including the SURT (www dropped,
    // host lowercased + label-reversed, query kept) — as a closed form
    // of the doc_id moduli; the status/mime slice mirrors fetchPlan's
    // defaults. The oracle never parses JSON; only the engine does
    "llm_cdx_select" ->
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 IN (0, 2) THEN 'text/html'
        |       ELSE 'application/pdf' END AS mime,
        |  CASE WHEN doc_id % 11 = 0 THEN 404
        |       WHEN doc_id % 13 = 0 THEN 301 ELSE 200 END AS status
        |  FROM documents)
        |SELECT 'crawl-000' || CAST(doc_id % 4 AS VARCHAR) || '.warc.gz' AS filename,
        |  CAST(doc_id * 1234 AS BIGINT) AS "offset",
        |  CAST(100 + doc_id % 900 AS BIGINT) AS length,
        |  'org,example,d' || CAST(doc_id % 7 AS VARCHAR) || ')/p/'
        |    || CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN '?id=' || CAST(doc_id AS VARCHAR) ELSE '' END AS surt,
        |  CAST(20260101000000 + doc_id AS BIGINT) AS ts,
        |  'sha1:' || CAST(doc_id AS VARCHAR) AS digest
        |FROM c WHERE status = 200 AND mime = 'text/html'
        |ORDER BY filename, "offset"""".stripMargin,

    // crawl-pipeline mirror: every stage as a CLOSED FORM of the table
    // row — the extracted text is the html-extract closed form, the
    // canonical URL drops straight out of the synthesis moduli (the
    // fragment/utm/WWW junk cancels by construction), the robots
    // verdict is the llm_robots_filter derivation restricted to the
    // three path classes (class0 /private/* denied everywhere with
    // robots, class1 *.pdf denied on even hosts only, class2 /p/*
    // allowed everywhere), dedup is a NOT EXISTS against the even-id
    // crawl's urls, and the cap is the row_number window mirror of the
    // k-bounded aggregate's (n_chars DESC, doc_id ASC) total order
    "llm_crawl_pipeline" ->
      """WITH c AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(text,
        |    '[ \t\x0B\f\r]+', ' ', 'g'), ' ?\n[\n ]*', chr(10), 'g'),
        |    ' ' || chr(10)) AS body
        |  FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |  'Doc & ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |  (CASE WHEN body = '' THEN '' ELSE body || chr(10) END) ||
        |  'footer' || chr(160) || chr(169) || '2026' AS extracted
        |  FROM c),
        |u AS (SELECT doc_id, extracted,
        |  'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ||
        |  CASE WHEN doc_id % 3 = 0 THEN '/private/x' || CAST(doc_id % 23 AS VARCHAR)
        |       WHEN doc_id % 3 = 1 THEN '/p/' || CAST(doc_id % 23 AS VARCHAR) || '.pdf'
        |       ELSE '/p/' || CAST(doc_id % 23 AS VARCHAR) END AS canon_url
        |  FROM e),
        |allowed AS (SELECT * FROM u WHERE
        |  CASE WHEN doc_id % 7 = 6 THEN TRUE
        |       WHEN doc_id % 7 IN (0, 2, 4) THEN doc_id % 3 = 2
        |       ELSE doc_id % 3 <> 0 END),
        |seen AS (SELECT DISTINCT canon_url FROM u WHERE doc_id % 2 = 0),
        |novel AS (SELECT a.* FROM allowed a WHERE a.doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM seen s
        |                  WHERE s.canon_url = a.canon_url)),
        |r AS (SELECT doc_id, canon_url,
        |  'd' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS domain,
        |  CAST(length(extracted) AS BIGINT) AS n_chars,
        |  md5(extracted) AS content_hash,
        |  row_number() OVER (PARTITION BY doc_id % 7
        |    ORDER BY length(extracted) DESC, doc_id) AS rank
        |  FROM novel)
        |SELECT domain, CAST(rank AS INT) AS rank, doc_id, canon_url,
        |  n_chars, content_hash
        |FROM r WHERE rank <= 3 ORDER BY domain, rank""".stripMargin,

    // HTML-extract mirror: the expected visible text is a CLOSED FORM
    // of the table row — title line, h1 line, the body with per-line
    // ws collapse (explicit [ \t\x0B\f\r] class — the Java∩RE2
    // dialect-safe spelling), empty lines dropped, the entity-decoded
    // footer (chr(160)=nbsp, chr(169)=copy). The oracle never parses
    // HTML; only the engine does
    "llm_html_extract" ->
      """WITH c AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(text,
        |    '[ \t\x0B\f\r]+', ' ', 'g'), ' ?\n[\n ]*', chr(10), 'g'),
        |    ' ' || chr(10)) AS body
        |  FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |  'Doc & ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |  (CASE WHEN body = '' THEN '' ELSE body || chr(10) END) ||
        |  'footer' || chr(160) || chr(169) || '2026' AS expected
        |  FROM c)
        |SELECT doc_id, length(expected) AS n_chars,
        |  md5(expected) AS content_hash
        |FROM e ORDER BY doc_id""".stripMargin,

    // WARC-ingest mirror: the round trip doc → WARC blob → parsed
    // response must surface the same url, payload BYTE count, and
    // text — all closed forms of the table row
    "llm_warc_ingest" ->
      """SELECT doc_id,
        |  'https://d' || CAST(doc_id % 17 AS VARCHAR) || '.example.org/p/'
        |    || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(octet_length(ENCODE(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_hash
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,

    // z-order mirror: every interleaved bit re-derived with integer
    // division/modulo — bit b of column c lands at position 2b+c
    "llm_zorder" -> {
      val terms = (for {
        b <- 0 until 8
        c <- 0 until 2
      } yield {
        val src = if (c == 0) "x" else "y"
        s"(($src // ${1L << b}) % 2) * ${1L << (2 * b + c)}"
      }).mkString(" + ")
      s"""WITH u AS (SELECT doc_id,
        |  doc_id % 256 AS x, (doc_id // 256) % 256 AS y FROM documents)
        |SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        |  CAST($terms AS BIGINT) AS z_value
        |FROM u ORDER BY doc_id""".stripMargin
    },

    // Hilbert mirror: the per-bit-plane transform replayed in a
    // recursive CTE — quadrant rank d += s²·xor(3rx, ry), then the
    // ry=0 reflect (63−·, exact bitwise complement at the all-ones
    // mask) + swap; rows retire at s = 0 carrying the final d
    "llm_hilbert_curve" ->
      """WITH RECURSIVE pts AS (SELECT doc_id,
        |    CAST(doc_id % 64 AS BIGINT) AS x0,
        |    CAST(n_chars % 64 AS BIGINT) AS y0 FROM documents),
        |h AS (
        |  SELECT doc_id, x0 AS x, y0 AS y,
        |    CAST(0 AS BIGINT) AS d, CAST(32 AS BIGINT) AS s FROM pts
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 63 - y ELSE y END) ELSE x END,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 63 - x ELSE x END) ELSE y END,
        |    d + s * s * xor(3 * rx, ry),
        |    s // 2
        |  FROM (SELECT doc_id, x, y, d, s,
        |          (x // s) % 2 AS rx, (y // s) % 2 AS ry
        |        FROM h WHERE s > 0) t)
        |SELECT p.doc_id, p.x0 AS hx, p.y0 AS hy, f.d AS h_value
        |FROM (SELECT doc_id, d FROM h WHERE s = 0) f
        |JOIN pts p USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // d=3 Hilbert mirror (r16): the Skilling transpose loop replayed
    // plane by plane in a recursive CTE (the per-plane 3-step
    // invert/exchange chain bound through nested FROM subqueries),
    // then the Gray prefix-XOR, the suffix-parity correction
    // t = invGray(g2) >> 1 (shift-doubling closed form), and the
    // plane-group interleave in closed form
    "llm_hilbert3d" ->
      """WITH RECURSIVE pts AS (SELECT doc_id,
        |    CAST((doc_id * 37) % 16 AS BIGINT) AS x0,
        |    CAST(n_chars % 16 AS BIGINT) AS y0,
        |    CAST((doc_id * 91) % 16 AS BIGINT) AS z0 FROM documents),
        |hh AS (
        |  SELECT doc_id, x0 AS a, y0 AS b, z0 AS c,
        |    CAST(8 AS BIGINT) AS q FROM pts
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN (c & q) <> 0 THEN xor(b0, q - 1)
        |         ELSE xor(b0, xor(b0, c) & (q - 1)) END,
        |    b1,
        |    CASE WHEN (c & q) <> 0 THEN c
        |         ELSE xor(c, xor(b0, c) & (q - 1)) END,
        |    q // 2
        |  FROM (
        |    SELECT doc_id, q, c,
        |      CASE WHEN (b & q) <> 0 THEN xor(a0, q - 1)
        |           ELSE xor(a0, xor(a0, b) & (q - 1)) END AS b0,
        |      CASE WHEN (b & q) <> 0 THEN b
        |           ELSE xor(b, xor(a0, b) & (q - 1)) END AS b1
        |    FROM (
        |      SELECT doc_id, q, b, c,
        |        CASE WHEN (a & q) <> 0 THEN xor(a, q - 1) ELSE a END AS a0
        |      FROM hh WHERE q > 1) t1) t2),
        |fin AS (SELECT doc_id, a AS g0, xor(a, b) AS g1,
        |    xor(xor(a, b), c) AS g2
        |  FROM hh WHERE q = 1),
        |tc AS (SELECT doc_id, g0, g1, g2,
        |    (xor(xor(g2, g2 // 2), xor(g2, g2 // 2) // 4)) // 2 AS t
        |  FROM fin)
        |SELECT p.doc_id, p.x0 AS hx, p.y0 AS hy, p.z0 AS hz,
        |  CAST(
        |      (xor(g0, t) % 2) * 4 + (xor(g1, t) % 2) * 2
        |    + (xor(g2, t) % 2)
        |    + ((xor(g0, t) // 2) % 2) * 32 + ((xor(g1, t) // 2) % 2) * 16
        |    + ((xor(g2, t) // 2) % 2) * 8
        |    + ((xor(g0, t) // 4) % 2) * 256 + ((xor(g1, t) // 4) % 2) * 128
        |    + ((xor(g2, t) // 4) % 2) * 64
        |    + ((xor(g0, t) // 8) % 2) * 2048 + ((xor(g1, t) // 8) % 2) * 1024
        |    + ((xor(g2, t) // 8) % 2) * 512 AS BIGINT) AS h_value
        |FROM tc JOIN pts p USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // CMS-bounds mirror: exact top-30 term counts; the sketch
    // contract columns (never-under, within-bound, merge-exactness)
    // are engine-verified booleans whose expected value is `true` —
    // the a5/recall bound-oracle discipline
    "llm_cms_bounds" ->
      """WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
        |  FROM tk WHERE term <> '' GROUP BY term)
        |SELECT term, true_cnt,
        |  true AS never_underestimates,
        |  true AS within_eps_bound,
        |  true AS merged_equals_direct
        |FROM c ORDER BY true_cnt DESC, term LIMIT 30""".stripMargin,

    // Hilbert-prune mirror: the bit-plane transform replayed per row
    // (the llm_hilbert_curve recursive CTE at nBits = 8), then the
    // curve-range count; the file-pruning assertion executes
    // engine-side
    "llm_hilbert_prune" ->
      """WITH RECURSIVE pts AS (SELECT doc_id,
        |    CAST((doc_id * 37) % 256 AS BIGINT) AS x0,
        |    CAST((doc_id * 91) % 256 AS BIGINT) AS y0 FROM documents),
        |h AS (
        |  SELECT doc_id, x0 AS x, y0 AS y,
        |    CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s FROM pts
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - y ELSE y END) ELSE x END,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - x ELSE x END) ELSE y END,
        |    d + s * s * xor(3 * rx, ry),
        |    s // 2
        |  FROM (SELECT doc_id, x, y, d, s,
        |          (x // s) % 2 AS rx, (y // s) % 2 AS ry
        |        FROM h WHERE s > 0) t)
        |SELECT CAST(count(*) AS BIGINT) AS n_selected, true AS files_pruned
        |FROM h WHERE s = 0 AND d < 4096""".stripMargin,

    // z-order-prune mirror: the 2-D box membership as pure modulus
    // arithmetic; the file-pruning assertion executes engine-side
    "llm_zorder_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_selected,
        |  true AS files_pruned
        |FROM documents
        |WHERE doc_id % 256 < 64 AND (doc_id // 256) % 256 < 64""".stripMargin,

    // z-order-optimize mirror: identical closed-form box count over
    // the WHOLE corpus (even write + odd append + optimize must lose
    // or duplicate nothing); decay/restore/prune assertions execute
    // engine-side
    "llm_zorder_optimize" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_selected,
        |  true AS optimized
        |FROM documents
        |WHERE doc_id % 256 < 64 AND (doc_id // 256) % 256 < 64""".stripMargin,

    // boilerplate-removal mirror: the expected main text as a closed
    // form of doc_id — the two kept paragraphs (entity decoded)
    // joined by \n; nav, link farm, and footer must never appear
    "llm_html_main" -> htmlMainOracleSql,

    // per-language ccnet mirror: same chain, windows partitioned by
    // lang, per-lang totals and cutoffs
    "llm_ccnet_by_lang" ->
      """WITH d AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |tk AS (SELECT doc_id, unnest(toks) AS w FROM d),
        |v AS (SELECT count(DISTINCT w) AS v FROM tk WHERE w <> ''),
        |bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2 FROM d WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |cc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY 1),
        |sc AS (SELECT g.doc_id, CAST(round(ln((bc.cb + 1.0) / CAST(cc.cu + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS lp FROM bg g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2 JOIN cc ON cc.w1 = g.w1 CROSS JOIN v),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS slp FROM sc GROUP BY doc_id),
        |s2 AS (SELECT ag.doc_id, d2.lang, n_bigrams, CAST((-slp) // n_bigrams AS BIGINT) AS score_micro
        |       FROM ag JOIN (SELECT doc_id, lang FROM documents) d2 ON d2.doc_id = ag.doc_id),
        |dist AS (SELECT lang, score_micro, count(*) AS c FROM s2 GROUP BY lang, score_micro),
        |cum AS (SELECT lang, score_micro, sum(c) OVER (PARTITION BY lang ORDER BY score_micro) AS cum FROM dist),
        |tot AS (SELECT lang, count(*) AS n FROM s2 GROUP BY lang),
        |cuts AS (SELECT cum.lang,
        |  min(CASE WHEN 3*cum >= n THEN score_micro END) AS c1,
        |  min(CASE WHEN 3*cum >= 2*n THEN score_micro END) AS c2
        |  FROM cum JOIN tot ON tot.lang = cum.lang GROUP BY cum.lang)
        |SELECT s2.doc_id, s2.lang, n_bigrams, score_micro,
        |  CASE WHEN score_micro <= c1 THEN 'head'
        |       WHEN score_micro <= c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM s2 JOIN cuts ON cuts.lang = s2.lang ORDER BY s2.doc_id""".stripMargin,

    // domain-cap mirror: the row_number window form of the engine's
    // k-bounded TopKByScore aggregate — (n_chars DESC, doc_id ASC) is
    // the aggregate's exact total order
    "llm_domain_cap" ->
      """WITH d AS (SELECT doc_id,
        |    'd' || CAST(doc_id % 17 AS VARCHAR) || '.example.org' AS domain,
        |    n_chars FROM documents),
        |r AS (SELECT domain, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY n_chars DESC, doc_id) AS rank FROM d)
        |SELECT domain, CAST(rank AS INT) AS rank, doc_id,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM r WHERE rank <= 3 ORDER BY domain, rank""".stripMargin,
    // chunk mirror: range(0, ntok, stride) starts, inclusive list
    // slice, single-space rejoin — the same tokens the engine slices
    "llm_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(regexp_split_to_array(trim(text), '\s+')) > 0
        |    AND NOT (len(regexp_split_to_array(trim(text), '\s+')) = 1
        |             AND regexp_split_to_array(trim(text), '\s+')[1] = '')),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS chunk_start FROM t)
        |SELECT doc_id, CAST(chunk_start // 24 AS BIGINT) AS chunk_idx,
        |  CAST(chunk_start AS BIGINT) AS chunk_start,
        |  CAST(least(32, len(toks) - chunk_start) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(toks[chunk_start + 1 : chunk_start + 32], ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,

    // BPE mirror: the pinned merge loop as a recursive CTE — per word,
    // each step merges the LEFTMOST occurrence of the LOWEST-RANK
    // adjacent pair (best key = rank·100000 + position, min over
    // applicable pairs; nullif because DuckDB list_position returns 0
    // on miss); a word's final state is the one with no applicable
    // pair. Ids: unicode code point for single-char symbols,
    // 10^6 + rank for merged ones — the engine's exact scheme, merge
    // table inlined from the same Scala array (the `planes` pattern)
    "llm_bpe_encode" ->
      s"""WITH RECURSIVE $bpeCte
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(token_id AS INT) AS token_id
        |FROM bt ORDER BY doc_id, pos""".stripMargin,

    // BPE round-trip mirror: the squeezed-identity equation computed
    // directly (\s+ removed) — the engine side must reproduce it
    // through encode∘decode
    "llm_bpe_roundtrip" ->
      """SELECT doc_id,
        |  CAST(length(sq) AS BIGINT) AS n_chars_squeezed,
        |  md5(sq) AS roundtrip_hash
        |FROM (SELECT doc_id,
        |        regexp_replace(coalesce(text, ''), '\s+', '', 'g') AS sq
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // BPE packing mirror: per-doc REAL token counts from the shared
    // BPE CTE, then the same closed-form prefix-sum assignment as
    // llm_pack_sequences (ctxLen 128)
    "llm_pack_bpe" ->
      s"""WITH RECURSIVE $bpeCte,
        |bc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM bt GROUP BY doc_id),
        |c AS (SELECT d.doc_id, coalesce(bc.n_tokens, 0) AS n_tokens FROM documents d LEFT JOIN bc ON bc.doc_id = d.doc_id),
        |p AS (SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS token_offset
        |  FROM c)
        |SELECT doc_id, n_tokens, CAST(token_offset AS BIGINT) AS token_offset,
        | CAST(token_offset // 128 AS BIGINT) AS seq_id,
        | CAST((token_offset + n_tokens - 1) // 128 - token_offset // 128 + 1 AS BIGINT) AS n_seqs_spanned
        |FROM p ORDER BY doc_id""".stripMargin,

    // BPE budget mirror: the llm_token_budget window cumsum on REAL
    // counts (prio DESC, doc_id), budget 40000
    "llm_budget_bpe" ->
      s"""WITH RECURSIVE $bpeCte,
        |bc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM bt GROUP BY doc_id),
        |m AS (SELECT d.doc_id, coalesce(bc.n_tokens, 0) AS ntok,
        |    CAST(length(regexp_replace(d.text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / length(d.text) AS prio
        |  FROM documents d LEFT JOIN bc ON bc.doc_id = d.doc_id),
        |c AS (SELECT doc_id, ntok,
        |    sum(ntok) OVER (ORDER BY prio DESC, doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok AS tokens_before
        |  FROM m)
        |SELECT doc_id, ntok AS n_tokens, CAST(tokens_before AS BIGINT) AS tokens_before
        |FROM c WHERE tokens_before < 40000 ORDER BY doc_id""".stripMargin,

    // BPE chunk mirror: per-doc ordered id list from the shared CTE,
    // range(0, n, 24) starts, inclusive slice, unnest with subscripts
    "llm_chunk_bpe" ->
      s"""WITH RECURSIVE $bpeCte,
        |bl AS (SELECT doc_id, list(token_id ORDER BY pos) AS ids FROM bt GROUP BY doc_id),
        |st AS (SELECT doc_id, ids, unnest(range(0, len(ids), 24)) AS chunk_start FROM bl WHERE len(ids) > 0),
        |ch AS (SELECT doc_id, CAST(chunk_start // 24 AS BIGINT) AS chunk_idx,
        |    ids[chunk_start + 1 : chunk_start + 32] AS cids FROM st)
        |SELECT doc_id, chunk_idx,
        |  CAST(generate_subscripts(cids, 1) - 1 AS BIGINT) AS ipos,
        |  CAST(unnest(cids) AS INT) AS token_id
        |FROM ch ORDER BY doc_id, chunk_idx, ipos""".stripMargin,

    // packed-sequence emission mirror: global token position = one
    // window row_number over (doc_id, pos) of the shared BPE token
    // stream; sequence = gpos // 128, slot = gpos % 128
    "llm_pack_emit" ->
      s"""WITH RECURSIVE $bpeCte,
        |g AS (SELECT token_id,
        |    row_number() OVER (ORDER BY doc_id, pos) - 1 AS gpos
        |  FROM bt)
        |SELECT CAST(gpos // 128 AS BIGINT) AS seq_id,
        |  CAST(gpos % 128 AS BIGINT) AS ipos,
        |  CAST(token_id AS INT) AS token_id
        |FROM g ORDER BY seq_id, ipos""".stripMargin,

    // BPE-training mirror: 4 unrolled rounds, each = adjacent-pair
    // count (every position, overlaps included) weighted by word
    // frequency → argmax (count DESC, then l, r) → merge applied as a
    // list_reduce left fold over single-symbol lists (leftmost
    // non-overlapping occurrences)
    "llm_bpe_learn" -> {
      def fold(syms: String, l: String, r: String) =
        s"""list_reduce(list_transform($syms, s -> [s]), (acc, x) ->
          |  CASE WHEN len(acc) > 0 AND acc[-1] = $l AND x[1] = $r
          |       THEN acc[1:len(acc)-1] || [$l || $r] ELSE acc || x END)"""
          .stripMargin
      val rounds = (1 to 4).map { i =>
        val prev = s"st${i - 1}"
        s"""pc$i AS (SELECT s.syms[i] AS l, s.syms[i+1] AS r, sum(s.cnt) AS c
          |  FROM (SELECT syms, cnt, unnest(range(1, len(syms))) AS i FROM $prev) s(syms, cnt, i)
          |  GROUP BY 1, 2),
          |b$i AS (SELECT l, r, c FROM pc$i WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
          |st$i AS (SELECT ${fold("p.syms", "b.l", "b.r")} AS syms, p.cnt AS cnt
          |  FROM $prev p, b$i b)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 4).map(i =>
        s"SELECT $i AS rank, l AS left_sym, r AS right_sym, " +
          s"CAST(c AS BIGINT) AS pair_count FROM b$i")
        .mkString(" UNION ALL ")
      s"""WITH w0 AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM documents WHERE text IS NOT NULL),
        |wc AS (SELECT word, count(*) AS cnt FROM w0 WHERE word <> '' GROUP BY word),
        |st0 AS (SELECT list_transform(range(1, length(word) + 1), i -> substring(word, CAST(i AS INT), 1)) AS syms, cnt FROM wc),
        |$rounds
        |SELECT CAST(rank AS BIGINT) AS rank, left_sym, right_sym, pair_count
        |FROM ($sel) ORDER BY rank""".stripMargin
    },

    // unigram-training mirror: the full seed → EM → rank chain from
    // first principles (shared unigramCtes backbone)
    "llm_unigram_learn" ->
      s"""WITH RECURSIVE $unigramCtes
        |SELECT rank, piece, CAST(c AS BIGINT) AS piece_count
        |FROM uvf ORDER BY rank""".stripMargin,

    // unigram-encode mirror: the final-vocabulary Viterbi pass over the
    // distinct words, joined back onto per-doc word positions — the
    // bpeCte's id/position shape. The persisted-vocabulary twin must be
    // bit-identical (the retrieval/IVF lifecycle discipline), so the
    // SAME mirror gates both
    "llm_unigram_encode" -> unigramEncodeOracleSql,
    "llm_unigram_persisted" -> unigramEncodeOracleSql,

    // unigram packing mirror: per-doc REAL token counts from the
    // shared encode CTE, then the llm_pack_bpe closed-form prefix-sum
    // assignment (ctxLen 128)
    "llm_pack_unigram" ->
      s"""WITH RECURSIVE $unigramCtes,
        |upc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM uout GROUP BY doc_id),
        |c AS (SELECT d.doc_id, coalesce(b.n_tokens, 0) AS n_tokens FROM documents d LEFT JOIN upc b ON b.doc_id = d.doc_id),
        |p AS (SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS token_offset
        |  FROM c)
        |SELECT doc_id, n_tokens, CAST(token_offset AS BIGINT) AS token_offset,
        | CAST(token_offset // 128 AS BIGINT) AS seq_id,
        | CAST((token_offset + n_tokens - 1) // 128 - token_offset // 128 + 1 AS BIGINT) AS n_seqs_spanned
        |FROM p ORDER BY doc_id""".stripMargin,

    // fertility mirror: ALL THREE tokenizer chains replayed in one
    // WITH RECURSIVE (the bpeCte / unigramCtes / wordpieceCtes name
    // spaces are disjoint), per-source word/token counts + the exact
    // integer-division ratios
    "llm_tokenizer_fertility" ->
      s"""WITH RECURSIVE $bpeCte, $unigramCtes, $wordpieceCtes,
        |wsrc AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_words
        |  FROM uwd w JOIN documents d ON d.doc_id = w.doc_id GROUP BY 1),
        |bsrc AS (SELECT d.source, CAST(count(*) AS BIGINT) AS bpe_tokens
        |  FROM bt b JOIN documents d ON d.doc_id = b.doc_id GROUP BY 1),
        |usrc AS (SELECT d.source, CAST(count(*) AS BIGINT) AS unigram_tokens
        |  FROM uout u JOIN documents d ON d.doc_id = u.doc_id GROUP BY 1),
        |wpsrc AS (SELECT d.source, CAST(count(*) AS BIGINT) AS wordpiece_tokens
        |  FROM wpout p JOIN documents d ON d.doc_id = p.doc_id GROUP BY 1),
        |dsrc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
        |SELECT d.source, d.n_docs,
        |  coalesce(w.n_words, 0) AS n_words,
        |  coalesce(b.bpe_tokens, 0) AS bpe_tokens,
        |  coalesce(u.unigram_tokens, 0) AS unigram_tokens,
        |  coalesce(wp.wordpiece_tokens, 0) AS wordpiece_tokens,
        |  CASE WHEN coalesce(w.n_words, 0) > 0
        |       THEN (coalesce(b.bpe_tokens, 0) * 1000) // w.n_words END AS bpe_per_kword,
        |  CASE WHEN coalesce(w.n_words, 0) > 0
        |       THEN (coalesce(u.unigram_tokens, 0) * 1000) // w.n_words END AS unigram_per_kword,
        |  CASE WHEN coalesce(w.n_words, 0) > 0
        |       THEN (coalesce(wp.wordpiece_tokens, 0) * 1000) // w.n_words END AS wordpiece_per_kword
        |FROM dsrc d LEFT JOIN wsrc w ON w.source = d.source
        |LEFT JOIN bsrc b ON b.source = d.source
        |LEFT JOIN usrc u ON u.source = d.source
        |LEFT JOIN wpsrc wp ON wp.source = d.source
        |ORDER BY d.source""".stripMargin,

    // unigram round-trip mirror: the squeezed-identity equation
    // computed directly (the llm_bpe_roundtrip discipline — the CLAIM
    // is the equation, so the mirror never replays the tokenizer)
    "llm_unigram_roundtrip" ->
      """SELECT doc_id,
        |  CAST(length(sq) AS BIGINT) AS n_chars_squeezed,
        |  md5(sq) AS roundtrip_hash
        |FROM (SELECT doc_id,
        |        regexp_replace(coalesce(text, ''), '\s+', '', 'g') AS sq
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // WordPiece-training mirror: the 4 likelihood-scored merge rounds
    // from first principles (shared wordpieceCtes backbone)
    "llm_wordpiece_learn" -> {
      val sel = (1 to 4).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, l AS left_sym, " +
          s"r AS right_sym, c AS pair_count, sq AS score_q FROM wpb$i")
        .mkString(" UNION ALL ")
      s"""WITH RECURSIVE $wordpieceCtes
        |SELECT rank, left_sym, right_sym, pair_count, score_q
        |FROM ($sel) ORDER BY rank""".stripMargin
    },

    // WordPiece-encode mirror: the greedy longest-match pass over the
    // distinct words under the learned vocabulary, joined back onto
    // per-doc word positions (the unigram-encode shape). The
    // persisted-vocabulary twin shares it — bit-identity is the
    // contract
    "llm_wordpiece_encode" -> wordpieceEncodeOracleSql,
    "llm_wordpiece_persisted" -> wordpieceEncodeOracleSql,

    // WordPiece round-trip mirror: the squeezed-identity equation
    // (the family discipline — the mirror never replays the tokenizer)
    "llm_wordpiece_roundtrip" ->
      """SELECT doc_id,
        |  CAST(length(sq) AS BIGINT) AS n_chars_squeezed,
        |  md5(sq) AS roundtrip_hash
        |FROM (SELECT doc_id,
        |        regexp_replace(coalesce(text, ''), '\s+', '', 'g') AS sq
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // budget mirror: one global window cumsum ordered (prio DESC,
    // doc_id) — exactly the order the engine range-partitions on
    "llm_token_budget" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok,
        |    CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) / length(text) AS prio
        |  FROM documents),
        |c AS (SELECT doc_id, ntok,
        |    sum(ntok) OVER (ORDER BY prio DESC, doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok AS tokens_before
        |  FROM m)
        |SELECT doc_id, ntok AS n_tokens, CAST(tokens_before AS BIGINT) AS tokens_before
        |FROM c WHERE tokens_before < 12000 ORDER BY doc_id""".stripMargin,

    // classifier mirror: unigrams + bigrams (with the engine's
    // single-gram fallback for < 2 tokens), FNV-1a 64 per distinct gram
    // via the recursive hex CTE, pmod-1024 bucket, weight =
    // (bucket * 2654435761) % 2001 - 1000 — all integer arithmetic,
    // one final double division
    "llm_classifier_score" ->
      """WITH RECURSIVE
        |tok0 AS (SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS l FROM documents),
        |tokx AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tok0),
        |g1 AS (SELECT doc_id, w AS g FROM tokx),
        |g2 AS (SELECT a.doc_id, a.w || ' ' || b.w AS g FROM tokx a JOIN tokx b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
        |g2few AS (SELECT doc_id, array_to_string(l, ' ') AS g FROM tok0 WHERE len(l) < 2),
        |grams AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g2few),
        |hx AS (SELECT DISTINCT g AS s FROM grams),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |        FROM fnv WHERE i = nb),
        |wt AS (SELECT s, ((((hv % 1024) + 1024) % 1024) * 2654435761) % 2001 - 1000 AS wm FROM sgn),
        |agg AS (SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |               CAST(sum(w.wm) AS BIGINT) AS wsum_milli
        |        FROM grams gr JOIN wt w ON w.s = gr.g GROUP BY gr.doc_id)
        |SELECT doc_id, n_feats, wsum_milli,
        |  CAST(-50 * n_feats + wsum_milli AS DOUBLE) / CAST(n_feats * 1000 AS DOUBLE) AS logit,
        |  (-50 * n_feats + wsum_milli) > 0 AS pass
        |FROM agg ORDER BY doc_id""".stripMargin,
    // ridge-fit mirror: the same integer moments in HUGEINT, the same
    // ridge diagonal, and the 3×3 Cramer cofactor expansion — all
    // exact integer arithmetic, so any algebraically-equal det formula
    // yields the identical (num, den) pair
    "llm_ridge_fit" -> {
      val stops = graft.llm.TextAnalysis.stopwordUnion
        .map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (SELECT
        |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
        |    len(regexp_split_to_array(trim(text), '\\s+')) AS x1,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
        |        w -> list_contains([$stops], w))) AS x2
        |  FROM documents),
        |m AS (SELECT
        |    CAST(count(*) AS HUGEINT) AS s00,
        |    CAST(sum(x1) AS HUGEINT) AS s01, CAST(sum(x2) AS HUGEINT) AS s02,
        |    CAST(sum(x1*x1) AS HUGEINT) + 1000 AS s11,
        |    CAST(sum(x1*x2) AS HUGEINT) AS s12,
        |    CAST(sum(x2*x2) AS HUGEINT) + 1000 AS s22,
        |    CAST(sum(y) AS HUGEINT) AS b0, CAST(sum(x1*y) AS HUGEINT) AS b1,
        |    CAST(sum(x2*y) AS HUGEINT) AS b2
        |  FROM f),
        |d AS (SELECT
        |    s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02) + s02*(s01*s12 - s11*s02) AS den,
        |    b0*(s11*s22 - s12*s12) - s01*(b1*s22 - s12*b2) + s02*(b1*s12 - s11*b2) AS n0,
        |    s00*(b1*s22 - s12*b2) - b0*(s01*s22 - s12*s02) + s02*(s01*b2 - b1*s02) AS n1,
        |    s00*(s11*b2 - s12*b1) - s01*(s01*b2 - s02*b1) + b0*(s01*s12 - s11*s02) AS n2
        |  FROM m)
        |SELECT feature, w_num, w_den FROM (
        |  SELECT 'intercept' AS feature, CAST(n0 AS VARCHAR) AS w_num,
        |         CAST(den AS VARCHAR) AS w_den FROM d
        |  UNION ALL
        |  SELECT 'x1_tokens', CAST(n1 AS VARCHAR), CAST(den AS VARCHAR) FROM d
        |  UNION ALL
        |  SELECT 'x2_stopwords', CAST(n2 AS VARCHAR), CAST(den AS VARCHAR) FROM d)
        |ORDER BY feature""".stripMargin
    },
    // train-on-sample → score-corpus mirror: moments restricted to the
    // doc_id % 5 == 0 labeled slice, the same Cramer numerators, then
    // per-doc exact integer score_num = n0 + n1·x1 + n2·x2 and the
    // integer keep rule 2·score_num ≥ den
    "llm_ridge_score" ->
      s"""WITH ${ridgeOracleCtes(5)}
        |SELECT doc_id,
        |  CAST(n0 + n1*x1 + n2*x2 AS VARCHAR) AS score_num,
        |  CAST(den AS VARCHAR) AS score_den,
        |  (2*(n0 + n1*x1 + n2*x2) >= den) AS kept
        |FROM f CROSS JOIN d
        |ORDER BY doc_id""".stripMargin,
    // AUC mirror: same trained weights (shared CTEs), scores on the
    // HELD-OUT slice grouped by distinct value, negatives-below via a
    // window cumsum, 2U = Σ p·(2·negBelow + n) — integer-exact until
    // the one final division
    "llm_ridge_auc" ->
      s"""WITH ${ridgeOracleCtes(7)},
        |ev AS (SELECT y, n0 + n1*x1 + n2*x2 AS s
        |       FROM f CROSS JOIN d WHERE doc_id % 7 <> 0),
        |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS p,
        |             CAST(sum(1 - y) AS BIGINT) AS n FROM ev GROUP BY s),
        |c AS (SELECT p, n, COALESCE(CAST(sum(n) OVER (ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        AS BIGINT), 0) AS cumn FROM g),
        |a AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |             CAST(sum(n) AS BIGINT) AS n_neg,
        |             CAST(sum(p*(2*cumn + n)) AS BIGINT) AS u2 FROM c)
        |SELECT n_pos, n_neg,
        |  round(CAST(u2 AS DOUBLE) / CAST(2*n_pos*n_neg AS DOUBLE), 6) AS auc
        |FROM a""".stripMargin,
    "llm_familiarity" ->
      """WITH tok0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
        |tokx AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tok0),
        |g2 AS (SELECT a.doc_id, a.w || ' ' || b.w AS g FROM tokx a JOIN tokx b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
        |gfew AS (SELECT doc_id, array_to_string(l, ' ') AS g FROM tok0 WHERE len(l) < 2),
        |grams AS (SELECT * FROM g2 UNION ALL SELECT * FROM gfew),
        |model AS (SELECT g, count(*) AS corpus_cnt FROM grams GROUP BY g)
        |SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        | CAST(sum(m.corpus_cnt) AS DOUBLE) / count(*) AS familiarity
        |FROM grams gr JOIN model m ON m.g = gr.g
        |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin,
    // bigram-LM mirror: zipped-unnest bigrams, add-one model, integer
    // micro-nat per-bigram log-probs (exact order-free sum — the
    // exact-cents pattern applied to ln p), final ppl rounded to 6.
    // Shared by the self-trained, persisted-model, and streaming
    // shapes — one semantics, three execution paths
    "llm_lm_perplexity" -> lmPerplexityOracleSql,
    // shuffle-variant mirror: the IDENTICAL oracle — one semantics,
    // two physical strategies (the llm_domain_cap adjudication rule)
    "llm_lm_shuffle" -> lmPerplexityOracleSql,
    "llm_lm_persisted" -> lmPerplexityOracleSql,
    // ccnet-bucket mirror: the shared LM micro-nat chain, integer
    // per-bigram score, tertile cutoffs via the same distinct-score
    // cumsum rule (3·cum ≥ n / 3·cum ≥ 2n), ties to the lower bucket
    "llm_ccnet_buckets" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |tk AS (SELECT doc_id, unnest(toks) AS w FROM d),
        |v AS (SELECT count(DISTINCT w) AS v FROM tk WHERE w <> ''),
        |bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2 FROM d WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |cc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY 1),
        |sc AS (SELECT g.doc_id, CAST(round(ln((bc.cb + 1.0) / CAST(cc.cu + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS lp FROM bg g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2 JOIN cc ON cc.w1 = g.w1 CROSS JOIN v),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS slp FROM sc GROUP BY doc_id),
        |s2 AS (SELECT doc_id, n_bigrams, CAST((-slp) // n_bigrams AS BIGINT) AS score_micro FROM ag),
        |dist AS (SELECT score_micro, count(*) AS c FROM s2 GROUP BY score_micro),
        |cum AS (SELECT score_micro, sum(c) OVER (ORDER BY score_micro) AS cum FROM dist),
        |tot AS (SELECT count(*) AS n FROM s2),
        |cuts AS (SELECT
        |  min(CASE WHEN 3*cum >= n THEN score_micro END) AS c1,
        |  min(CASE WHEN 3*cum >= 2*n THEN score_micro END) AS c2
        |  FROM cum CROSS JOIN tot)
        |SELECT doc_id, n_bigrams, score_micro,
        |  CASE WHEN score_micro <= c1 THEN 'head'
        |       WHEN score_micro <= c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM s2 CROSS JOIN cuts ORDER BY doc_id""".stripMargin,
    // Kneser-Ney mirror: counts + per-context (total, distinct
    // successors) + per-word distinct predecessors + the scalar type
    // count, the interpolation formula in the same float-op order
    "llm_lm_kneser_ney" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2 FROM d WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu, CAST(count(*) AS BIGINT) AS n1f FROM bc GROUP BY 1),
        |bwd AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bc GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM bc),
        |sc AS (SELECT g.doc_id, CAST(round(ln(
        |    (greatest(CAST(bc.cb AS DOUBLE) - 0.75, 0.0)
        |     + 0.75 * CAST(ctx.n1f AS DOUBLE) * (CAST(bwd.n1b AS DOUBLE) / CAST(nt.nt AS DOUBLE)))
        |    / CAST(ctx.cu AS DOUBLE)) * 1000000) AS BIGINT) AS lp
        |  FROM bg g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
        |  JOIN ctx ON ctx.w1 = g.w1 JOIN bwd ON bwd.w2 = g.w2 CROSS JOIN nt),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS slp FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(exp((CAST(slp AS DOUBLE) / -1000000.0) / n_bigrams), 6) AS ppl
        |FROM ag ORDER BY doc_id""".stripMargin,
    // Stupid-Backoff mirror: train/test split CTEs, three count tables
    // + a 2-scalar stats row, the exact CASE arms (trigram ratio →
    // 0.4·bigram ratio → 0.4²·add-one unigram) in the same float-op
    // order, integer micro-nat fold
    "llm_lm_backoff" ->
      """WITH tr AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents WHERE source <> 'src0'),
        |te AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents WHERE source = 'src0'),
        |trt AS (SELECT unnest(toks) AS w FROM tr),
        |uc AS (SELECT w, count(*) AS c FROM trt WHERE w <> '' GROUP BY w),
        |st AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM uc),
        |bg AS (SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2 FROM tr WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
        |tg AS (SELECT unnest(toks[1:len(toks)-2]) AS w1, unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3 FROM tr WHERE len(toks) >= 3),
        |tc AS (SELECT w1, w2, w3, count(*) AS c FROM tg GROUP BY 1, 2, 3),
        |q AS (SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1, unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3 FROM te WHERE len(toks) >= 3),
        |sc AS (SELECT q.doc_id, CAST(round(
        |    CASE WHEN tc.c IS NOT NULL THEN ln(CAST(tc.c AS DOUBLE) / CAST(b12.c AS DOUBLE))
        |         WHEN b23.c IS NOT NULL THEN ln(0.4 * (CAST(b23.c AS DOUBLE) / CAST(u2.c AS DOUBLE)))
        |         ELSE ln(0.4 * 0.4 * ((CAST(coalesce(u3.c, 0) AS DOUBLE) + 1.0) / CAST(st.n + st.v AS DOUBLE))) END * 1000000) AS BIGINT) AS lp
        |  FROM q
        |  LEFT JOIN tc ON tc.w1 = q.w1 AND tc.w2 = q.w2 AND tc.w3 = q.w3
        |  LEFT JOIN bc b12 ON b12.w1 = q.w1 AND b12.w2 = q.w2
        |  LEFT JOIN bc b23 ON b23.w1 = q.w2 AND b23.w2 = q.w3
        |  LEFT JOIN uc u2 ON u2.w = q.w2
        |  LEFT JOIN uc u3 ON u3.w = q.w3
        |  CROSS JOIN st),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams, CAST(sum(lp) AS BIGINT) AS slp FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_trigrams, round(exp((CAST(slp AS DOUBLE) / -1000000.0) / n_trigrams), 6) AS ppl
        |FROM ag ORDER BY doc_id""".stripMargin,
    // paragraph-ccnet mirror: the same synthesis (promo \n prose split
    // at ' the ' \n footer), the same LM chain per PARAGRAPH, global
    // tertiles, tail dropped, survivors string_agg'd back in order —
    // md5 pins the reassembly byte-exactly ('' when all fell to tail)
    "llm_ccnet_paragraphs" ->
      """WITH d AS (SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 'visit our amazing site today'
        |          WHEN 1 THEN 'subscribe to the newsletter now'
        |          ELSE 'click here for deals' END)
        |    || chr(10) ||
        |    array_to_string(string_split(text, ' the '), chr(10))
        |    || chr(10) || 'copyright footer 2026 all rights reserved'
        |    AS mt FROM documents),
        |ps AS (SELECT doc_id, string_split(mt, chr(10)) AS arr FROM d),
        |p AS (SELECT doc_id, generate_subscripts(arr, 1) - 1 AS pos,
        |    unnest(arr) AS pt FROM ps),
        |tp AS (SELECT doc_id, pos, pt,
        |    regexp_split_to_array(trim(pt), '\s+') AS toks FROM p),
        |tk AS (SELECT unnest(toks) AS w FROM tp),
        |v AS (SELECT count(DISTINCT w) AS v FROM tk WHERE w <> ''),
        |bg AS (SELECT doc_id, pos, unnest(toks[1:len(toks)-1]) AS w1,
        |    unnest(toks[2:len(toks)]) AS w2 FROM tp WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |cc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY 1),
        |sc AS (SELECT g.doc_id, g.pos,
        |    CAST(round(ln((bc.cb + 1.0) / CAST(cc.cu + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS lp
        |  FROM bg g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
        |  JOIN cc ON cc.w1 = g.w1 CROSS JOIN v),
        |ag AS (SELECT doc_id, pos, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(lp) AS BIGINT) AS slp FROM sc GROUP BY 1, 2),
        |s2 AS (SELECT doc_id, pos,
        |    CAST((-slp) // nb AS BIGINT) AS score FROM ag),
        |dist AS (SELECT score, count(*) AS c FROM s2 GROUP BY 1),
        |cum AS (SELECT score, sum(c) OVER (ORDER BY score) AS cum FROM dist),
        |tot AS (SELECT count(*) AS n FROM s2),
        |cuts AS (SELECT min(CASE WHEN 3*cum >= n THEN score END) AS c1,
        |    min(CASE WHEN 3*cum >= 2*n THEN score END) AS c2
        |  FROM cum CROSS JOIN tot),
        |k AS (SELECT s2.doc_id, s2.pos, tp.pt,
        |    (score <= c2) AS keep
        |  FROM s2 JOIN tp ON tp.doc_id = s2.doc_id AND tp.pos = s2.pos
        |  CROSS JOIN cuts)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(
        |    string_agg(CASE WHEN keep THEN pt END, chr(10) ORDER BY pos),
        |    '')) AS clean_hash
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C4 mirror: synthesis replayed, then both filter grains and the
    // span dedup — lines split/filtered/rebuilt, sentences =
    // [^.!?]*[.!?] matches over the cleaned text, spans = lead-window
    // triples of TRIMMED sentences keyed by string (engine: xxhash64),
    // keeper = row_number 1 over (doc, start), removals exploded to
    // sentence ids, survivors string_agg'd with an empty joiner
    "llm_c4_clean" ->
      (s"WITH $c4StagesSql,\n" +
      """sent AS (SELECT doc_id, unnest(regexp_extract_all(tl, '[^.!?]*[.!?]')) AS sent,
        |                generate_subscripts(regexp_extract_all(tl, '[^.!?]*[.!?]'), 1) - 1 AS sid
        |         FROM pv WHERE page_kept),
        |spans AS (SELECT doc_id, sid AS start,
        |    trim(sent) || chr(1) || trim(lead(sent, 1) OVER w) || chr(1) || trim(lead(sent, 2) OVER w) AS k,
        |    lead(sent, 2) OVER w AS s2
        |  FROM sent WINDOW w AS (PARTITION BY doc_id ORDER BY sid)),
        |occ AS (SELECT doc_id, start, k FROM spans WHERE s2 IS NOT NULL),
        |mark AS (SELECT doc_id, start,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id, start) AS rn,
        |    count(*) OVER (PARTITION BY k) AS cnt
        |  FROM occ),
        |rem AS (SELECT DISTINCT doc_id, start + g.x AS sid
        |        FROM mark, (SELECT unnest([0, 1, 2]) AS x) g
        |        WHERE cnt > 1 AND rn > 1),
        |keptS AS (SELECT s.doc_id, s.sid, s.sent FROM sent s
        |          LEFT JOIN rem r ON r.doc_id = s.doc_id AND r.sid = s.sid
        |          WHERE r.doc_id IS NULL),
        |rebS AS (SELECT doc_id, string_agg(sent, '' ORDER BY sid) AS text_clean
        |         FROM keptS GROUP BY doc_id),
        |nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sent_removed
        |         FROM rem GROUP BY doc_id)
        |SELECT p.doc_id, p.n_lines, p.n_lines_kept, p.n_sentences, p.page_kept,
        |  coalesce(n.n_sent_removed, 0) AS n_sent_removed,
        |  md5(CASE WHEN p.page_kept THEN coalesce(r.text_clean, '') ELSE '' END) AS clean_hash
        |FROM pv p LEFT JOIN nrem n ON n.doc_id = p.doc_id
        |LEFT JOIN rebS r ON r.doc_id = p.doc_id
        |ORDER BY p.doc_id""".stripMargin),

    // LM head mirror: same model CTEs, top-20 by (count desc, w1, w2)
    // — a unique total order, so the LIMIT is deterministic
    "llm_lm_bigrams" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |tk AS (SELECT doc_id, unnest(toks) AS w FROM d),
        |v AS (SELECT count(DISTINCT w) AS v FROM tk WHERE w <> ''),
        |bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2 FROM d WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |cc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY 1)
        |SELECT bc.w1, bc.w2, bc.cb, round((bc.cb + 1.0) / CAST(cc.cu + v.v AS DOUBLE), 6) AS p_smoothed
        |FROM bc JOIN cc ON cc.w1 = bc.w1 CROSS JOIN v
        |ORDER BY bc.cb DESC, bc.w1, bc.w2 LIMIT 20""".stripMargin,
    // shard-shuffle mirror: the mix_sources FNV CTE gives the signed
    // hash; shard = pmod 8, pos = per-shard row_number over (hash, id)
    "llm_shard_shuffle" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s FROM documents),
        |hx AS (SELECT DISTINCT s FROM ids),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv FROM fnv WHERE i = nb)
        |SELECT i.doc_id, ((sg.hv % 8) + 8) % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY ((sg.hv % 8) + 8) % 8 ORDER BY sg.hv, i.doc_id) - 1 AS BIGINT) AS pos
        |FROM ids i JOIN sgn sg ON sg.s = i.s
        |ORDER BY i.doc_id""".stripMargin,
    // token-drift mirror: per-side vocab counts, totals, full-outer
    // join, the exact integer statistic in HUGEINT (the engine runs
    // DECIMAL(38,0) — both exact, both emit the decimal string; a
    // BIGINT cross-multiplication would overflow at real corpus
    // scale, ADVICE r13), top-25 under the total order
    "llm_token_drift" ->
      """WITH a AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |           FROM documents WHERE source <> 'src0' AND text IS NOT NULL),
        |a2 AS (SELECT token, CAST(count(*) AS BIGINT) AS count_a FROM a WHERE token <> '' GROUP BY token),
        |b AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |      FROM documents WHERE source = 'src0' AND text IS NOT NULL),
        |b2 AS (SELECT token, CAST(count(*) AS BIGINT) AS count_b FROM b WHERE token <> '' GROUP BY token),
        |ta AS (SELECT CAST(coalesce(sum(count_a), 0) AS BIGINT) AS t FROM a2),
        |tb AS (SELECT CAST(coalesce(sum(count_b), 0) AS BIGINT) AS t FROM b2),
        |j AS (SELECT coalesce(a2.token, b2.token) AS token,
        |        coalesce(a2.count_a, 0) AS count_a, coalesce(b2.count_b, 0) AS count_b
        |      FROM a2 FULL OUTER JOIN b2 ON b2.token = a2.token)
        |SELECT j.token, j.count_a, j.count_b,
        |  CAST(abs(CAST(j.count_a AS HUGEINT) * tb.t - CAST(j.count_b AS HUGEINT) * ta.t) AS VARCHAR) AS drift
        |FROM j, ta, tb
        |ORDER BY abs(CAST(j.count_a AS HUGEINT) * tb.t - CAST(j.count_b AS HUGEINT) * ta.t) DESC, j.token
        |LIMIT 25""".stripMargin,

    // mixture-allocation mirror: the integer water-filling fixed point
    // replayed as a recursive CTE carrying the per-source state as
    // lists (the unigram-DP pattern) in HUGEINT — each round computes
    // the unsettled pool's proportional floor shares, caps every
    // overflowing source, and recurses until no allocation is NULL
    "llm_mix_budget" ->
      """WITH RECURSIVE
        |av AS (SELECT source, CAST(sum(coalesce(len(regexp_split_to_array(trim(text), '\s+')), 0)) AS BIGINT) AS c
        |  FROM documents GROUP BY source),
        |wv AS (SELECT source, c, CAST(100 + 37 * CAST(substr(source, 4) AS BIGINT) AS BIGINT) AS w FROM av),
        |tot AS (SELECT CAST(sum(c) AS HUGEINT) * 4 // 5 AS t FROM av),
        |ini AS (SELECT list(source ORDER BY source) AS ss,
        |               list(c ORDER BY source) AS cs,
        |               list(w ORDER BY source) AS ws FROM wv),
        |wf AS (
        |  SELECT 0 AS it, ss, cs, ws,
        |    list_transform(ss, x -> CAST(NULL AS HUGEINT)) AS al,
        |    list_transform(ss, x -> false) AS cap,
        |    (SELECT t FROM tot) AS t_rem
        |  FROM ini
        |  UNION ALL
        |  SELECT it + 1, ss, cs, ws,
        |    CASE WHEN anyover
        |      THEN list_transform(range(1, len(ss) + 1), k ->
        |             CASE WHEN al[k] IS NULL AND props[k] > cs[k]
        |                  THEN CAST(cs[k] AS HUGEINT) ELSE al[k] END)
        |      ELSE list_transform(range(1, len(ss) + 1), k ->
        |             coalesce(al[k], props[k])) END AS al,
        |    CASE WHEN anyover
        |      THEN list_transform(range(1, len(ss) + 1), k ->
        |             cap[k] OR (al[k] IS NULL AND props[k] > cs[k]))
        |      ELSE cap END AS cap,
        |    CASE WHEN anyover
        |      THEN t_rem - list_sum(list_transform(range(1, len(ss) + 1), k ->
        |             CASE WHEN al[k] IS NULL AND props[k] > cs[k]
        |                  THEN CAST(cs[k] AS HUGEINT) ELSE CAST(0 AS HUGEINT) END))
        |      ELSE t_rem END AS t_rem
        |  FROM (
        |    SELECT *,
        |      len(list_filter(range(1, len(ss) + 1), k ->
        |        al[k] IS NULL AND props[k] > cs[k])) > 0 AS anyover
        |    FROM (
        |      SELECT *,
        |        list_transform(range(1, len(ss) + 1), k ->
        |          CASE WHEN al[k] IS NOT NULL THEN NULL
        |               WHEN bw = 0 THEN CAST(0 AS HUGEINT)
        |               ELSE t_rem * ws[k] // bw END) AS props
        |      FROM (
        |        SELECT *,
        |          list_sum(list_transform(range(1, len(ss) + 1), k ->
        |            CASE WHEN al[k] IS NULL THEN ws[k] ELSE CAST(0 AS BIGINT) END)) AS bw
        |        FROM wf
        |        WHERE len(list_filter(al, x -> x IS NULL)) > 0) a) b) c),
        |fin AS (SELECT ss, cs, ws, al, cap FROM wf
        |        WHERE len(list_filter(al, x -> x IS NULL)) = 0
        |        ORDER BY it DESC LIMIT 1)
        |SELECT ss[k] AS source,
        |  CAST(cs[k] AS BIGINT) AS tokens_available,
        |  CAST(ws[k] AS BIGINT) AS weight_milli,
        |  CAST(al[k] AS BIGINT) AS tokens_allocated,
        |  cap[k] AS capped
        |FROM (SELECT ss, cs, ws, al, cap,
        |        unnest(range(1, len(ss) + 1)) AS k FROM fin) z
        |ORDER BY source""".stripMargin,

    // epoch-layered mirror (r15): decayed weights per epoch (exact
    // integer floors), full epochs while the budget covers the active
    // capacity, then ONE water-filling fixed point (the llm_mix_budget
    // CTE, reseeded) over the partial round's actives
    "llm_mix_epochs" ->
      """WITH RECURSIVE
        |av AS (SELECT source, CAST(sum(coalesce(len(regexp_split_to_array(trim(text), '\s+')), 0)) AS BIGINT) AS c
        |  FROM documents GROUP BY source),
        |wv AS (SELECT source, c, CAST(5 + 29 * CAST(substr(source, 4) AS BIGINT) AS BIGINT) AS w FROM av),
        |tot AS (SELECT CAST(sum(c) AS HUGEINT) * 5 // 2 AS t FROM av),
        |rw AS (SELECT source, c, w, r,
        |         CAST(CASE r WHEN 1 THEN CAST(w AS HUGEINT)
        |                WHEN 2 THEN CAST(w AS HUGEINT) * 200 // 1000
        |                ELSE CAST(w AS HUGEINT) * 40000 // 1000000 END AS BIGINT) AS wr
        |       FROM wv, (SELECT unnest([1, 2, 3]) AS r)),
        |caps AS (SELECT r, CAST(sum(CASE WHEN wr >= 1 THEN c ELSE 0 END) AS HUGEINT) AS cr FROM rw GROUP BY r),
        |cm AS (SELECT r, cr, sum(cr) OVER (ORDER BY r) AS cumc FROM caps),
        |nfq AS (SELECT coalesce(max(r), 0) AS nf FROM cm WHERE cumc <= (SELECT t FROM tot)),
        |tpq AS (SELECT (SELECT t FROM tot) -
        |               coalesce((SELECT cumc FROM cm WHERE r = (SELECT nf FROM nfq)), 0) AS tp),
        |fl AS (SELECT source, c, w,
        |         CAST(sum(CASE WHEN r <= (SELECT nf FROM nfq) AND wr >= 1 THEN c ELSE 0 END) AS HUGEINT) AS fa,
        |         bool_or(r <= (SELECT nf FROM nfq) AND wr >= 1) AS anyfull
        |       FROM rw GROUP BY source, c, w),
        |act AS (SELECT source, c, wr FROM rw
        |        WHERE r = (SELECT nf FROM nfq) + 1 AND wr >= 1
        |          AND (SELECT tp FROM tpq) > 0),
        |ini AS (SELECT list(source ORDER BY source) AS ss,
        |               list(c ORDER BY source) AS cs,
        |               list(wr ORDER BY source) AS ws FROM act
        |        HAVING count(*) > 0),
        |wf AS (
        |  SELECT 0 AS it, ss, cs, ws,
        |    list_transform(ss, x -> CAST(NULL AS HUGEINT)) AS al,
        |    list_transform(ss, x -> false) AS cap,
        |    (SELECT tp FROM tpq) AS t_rem
        |  FROM ini
        |  UNION ALL
        |  SELECT it + 1, ss, cs, ws,
        |    CASE WHEN anyover
        |      THEN list_transform(range(1, len(ss) + 1), k ->
        |             CASE WHEN al[k] IS NULL AND props[k] > cs[k]
        |                  THEN CAST(cs[k] AS HUGEINT) ELSE al[k] END)
        |      ELSE list_transform(range(1, len(ss) + 1), k ->
        |             coalesce(al[k], props[k])) END AS al,
        |    CASE WHEN anyover
        |      THEN list_transform(range(1, len(ss) + 1), k ->
        |             cap[k] OR (al[k] IS NULL AND props[k] > cs[k]))
        |      ELSE cap END AS cap,
        |    CASE WHEN anyover
        |      THEN t_rem - list_sum(list_transform(range(1, len(ss) + 1), k ->
        |             CASE WHEN al[k] IS NULL AND props[k] > cs[k]
        |                  THEN CAST(cs[k] AS HUGEINT) ELSE CAST(0 AS HUGEINT) END))
        |      ELSE t_rem END AS t_rem
        |  FROM (
        |    SELECT *,
        |      len(list_filter(range(1, len(ss) + 1), k ->
        |        al[k] IS NULL AND props[k] > cs[k])) > 0 AS anyover
        |    FROM (
        |      SELECT *,
        |        list_transform(range(1, len(ss) + 1), k ->
        |          CASE WHEN al[k] IS NOT NULL THEN NULL
        |               WHEN bw = 0 THEN CAST(0 AS HUGEINT)
        |               ELSE t_rem * ws[k] // bw END) AS props
        |      FROM (
        |        SELECT *,
        |          list_sum(list_transform(range(1, len(ss) + 1), k ->
        |            CASE WHEN al[k] IS NULL THEN ws[k] ELSE CAST(0 AS BIGINT) END)) AS bw
        |        FROM wf
        |        WHERE len(list_filter(al, x -> x IS NULL)) > 0) a) b) c),
        |fin AS (SELECT ss, al, cap FROM wf
        |        WHERE len(list_filter(al, x -> x IS NULL)) = 0
        |        ORDER BY it DESC LIMIT 1),
        |part AS (SELECT ss[k] AS source, al[k] AS pal, cap[k] AS pcap
        |         FROM (SELECT ss, al, cap,
        |                 unnest(range(1, len(ss) + 1)) AS k FROM fin) z)
        |SELECT f.source,
        |  CAST(f.c AS BIGINT) AS tokens_available,
        |  CAST(f.w AS BIGINT) AS weight_milli,
        |  CAST(f.fa + coalesce(p.pal, 0) AS BIGINT) AS tokens_allocated,
        |  CAST(CASE WHEN f.c = 0 OR f.fa + coalesce(p.pal, 0) = 0 THEN 0
        |       ELSE (f.fa + coalesce(p.pal, 0) + f.c - 1) // f.c END AS BIGINT) AS epochs,
        |  CASE WHEN p.source IS NOT NULL THEN p.pcap ELSE f.anyfull END AS capped
        |FROM fl f LEFT JOIN part p USING (source)
        |ORDER BY source""".stripMargin,

    // DoReMi mirror: per-source loss, then the 3 multiplicative-weight
    // rounds unrolled in HUGEINT — g = m·(10^6 + η·excess), m' =
    // floor(g·10^9 / Σg) — plus the two-floor smoothing sum
    "llm_doremi_weights" -> {
      val round = (i: Int) =>
        s"""r$i AS (SELECT source, ex, n,
          |    (m * (1000000 + 200 * ex)) * 1000000000
          |      // sum(m * (1000000 + 200 * ex)) OVER () AS m
          |  FROM r${i - 1})""".stripMargin
      s"""WITH l AS (SELECT source,
        |    (1000 * sum(CASE WHEN text IS NULL THEN 0 ELSE length(text) END))
        |      // sum(CASE WHEN text IS NULL THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS loss
        |  FROM documents GROUP BY source),
        |e AS (SELECT source, loss,
        |    CAST(loss - min(loss) OVER () AS HUGEINT) AS ex,
        |    CAST(count(*) OVER () AS HUGEINT) AS n FROM l),
        |r0 AS (SELECT source, ex, n,
        |    CAST(1000000000 AS HUGEINT) // n AS m FROM e),
        |${round(1)},
        |${round(2)},
        |${round(3)}
        |SELECT r3.source, CAST(l.loss AS BIGINT) AS loss_milli,
        |  CAST(r3.ex AS BIGINT) AS excess_milli,
        |  CAST(r3.m AS BIGINT) AS weight_giga,
        |  CAST(r3.m * 900 // 1000
        |       + CAST(1000000000 AS HUGEINT) * 100 // (1000 * r3.n)
        |       AS BIGINT) AS weight_smoothed_giga
        |FROM r3 JOIN l ON l.source = r3.source
        |ORDER BY r3.source""".stripMargin
    },

    // epoch-shuffle mirror: the same FNV CTE over the ':'-salted id
    // strings for epochs 1 and 2, each epoch ranked independently,
    // joined per doc
    "llm_epoch_shuffle" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id, e, CAST(doc_id AS VARCHAR) || ':' || CAST(e AS VARCHAR) AS s
        |        FROM documents, (SELECT unnest([1, 2]) AS e)),
        |hx AS (SELECT DISTINCT s FROM ids),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv FROM fnv WHERE i = nb),
        |r AS (SELECT i.doc_id, i.e, ((sg.hv % 8) + 8) % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY i.e, ((sg.hv % 8) + 8) % 8 ORDER BY sg.hv, i.doc_id) - 1 AS BIGINT) AS pos
        |  FROM ids i JOIN sgn sg ON sg.s = i.s)
        |SELECT a.doc_id, a.shard AS shard_e1, a.pos AS pos_e1,
        |  b.shard AS shard_e2, b.pos AS pos_e2
        |FROM r a JOIN r b ON a.doc_id = b.doc_id AND b.e = 2
        |WHERE a.e = 1
        |ORDER BY a.doc_id""".stripMargin,
    // length-curriculum mirror: the FNV CTE over id strings, the
    // binary-digit bucket rule, per-bucket row_number under (hv, id),
    // div/mod batch arithmetic
    "llm_length_curriculum" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |  CASE WHEN text IS NULL THEN 0
        |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n
        |  FROM documents),
        |hx AS (SELECT DISTINCT s FROM ids),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |        FROM fnv WHERE i = nb),
        |b AS (SELECT i.doc_id, i.n AS n_tokens,
        |    CAST(length(bin(greatest(i.n, 1))) - 1 AS BIGINT) AS bucket, sg.hv
        |  FROM ids i JOIN sgn sg ON sg.s = i.s),
        |r AS (SELECT doc_id, n_tokens, bucket,
        |    CAST(row_number() OVER (PARTITION BY bucket ORDER BY hv, doc_id) - 1 AS BIGINT) AS bucket_pos
        |  FROM b)
        |SELECT doc_id, n_tokens, bucket, bucket_pos,
        |  CAST(bucket_pos // 32 AS BIGINT) AS batch_id,
        |  CAST(bucket_pos % 32 AS BIGINT) AS slot
        |FROM r ORDER BY doc_id""".stripMargin,

    // stratified mirror: the same FNV hash as rank key (full signed
    // value, ties on id), row_number ≤ 10 per source
    // sequential Poisson mirror: same FNV CTE, u = hv mod 2^52,
    // priority = u / n_chars (double division — correctly rounded,
    // so bit-identical to the Spark side), n smallest win
    "llm_weighted_sample" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id, source, n_chars, CAST(doc_id AS VARCHAR) AS s FROM documents),
        |hx AS (SELECT DISTINCT s FROM ids),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |        FROM fnv WHERE i = nb),
        |pri AS (SELECT i.doc_id, i.source, i.n_chars,
        |  CAST(((sg.hv % 4503599627370496) + 4503599627370496) % 4503599627370496 AS DOUBLE) / CAST(i.n_chars AS DOUBLE) AS p
        |  FROM ids i JOIN sgn sg ON sg.s = i.s WHERE i.n_chars > 0)
        |SELECT doc_id, source, n_chars FROM
        |  (SELECT doc_id, source, n_chars FROM pri ORDER BY p, doc_id LIMIT 200)
        |ORDER BY doc_id""".stripMargin,
    "llm_stratified_sample" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS s FROM documents),
        |hx AS (SELECT DISTINCT s FROM ids),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |        FROM fnv WHERE i = nb),
        |rk AS (SELECT i.source, i.doc_id,
        |  row_number() OVER (PARTITION BY i.source ORDER BY sg.hv, i.doc_id) AS r
        |  FROM ids i JOIN sgn sg ON sg.s = i.s)
        |SELECT source, doc_id FROM rk WHERE r <= 10 ORDER BY source, doc_id""".stripMargin,
    // weighted-mixing mirror: same FNV bucket; copies = floor(w) + 1
    // extra when bucket < round(frac·1000); n_rows sums copies
    "llm_mix_weighted" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS s FROM documents),
        |hx AS (SELECT DISTINCT s FROM ids),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |        FROM fnv WHERE i = nb),
        |b AS (SELECT i.doc_id, i.source, ((sg.hv % 1000) + 1000) % 1000 AS bucket FROM ids i JOIN sgn sg ON sg.s = i.s),
        |c AS (SELECT doc_id, source, bucket,
        |  CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END
        |    + CASE WHEN bucket < (CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 500 ELSE 0 END) THEN 1 ELSE 0 END AS copies
        |  FROM b)
        |SELECT source, CAST(sum(copies) AS BIGINT) AS n_rows,
        | CAST(count(CASE WHEN copies > 0 THEN 1 END) AS BIGINT) AS n_docs
        |FROM c WHERE copies > 0 GROUP BY source ORDER BY source""".stripMargin,
    // dup-span mirror: gram STRINGS where the engine joins xxhash64
    // keys (the line-dedup contract), same gaps-and-islands windows
    "llm_dup_spans" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 8 + 1)) AS s, toks FROM t WHERE len(toks) >= 8),
        |gg AS (SELECT doc_id, s, array_to_string(toks[s + 1 : s + 8], ' ') AS gram FROM g),
        |hot AS (SELECT gram FROM gg GROUP BY gram HAVING count(*) > 1),
        |d AS (SELECT doc_id, s FROM gg JOIN hot USING (gram)),
        |m AS (SELECT doc_id, s,
        |    CASE WHEN coalesce(s - lag(s) OVER (PARTITION BY doc_id ORDER BY s), 0) > 8 THEN 1 ELSE 0 END AS brk
        |  FROM d),
        |sp AS (SELECT doc_id, s,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS span
        |  FROM m)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(s) + 8 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM sp GROUP BY doc_id, span ORDER BY doc_id, span_start""".stripMargin,

    // contaminated-spans mirror: benchmark gram SET membership instead
    // of the hot-count predicate, then the same islands merge
    "llm_decontaminate_spans" ->
      """WITH t AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |bg AS (SELECT DISTINCT array_to_string(toks[s + 1 : s + 8], ' ') AS gram
        |  FROM (SELECT toks, unnest(range(0, len(toks) - 8 + 1)) AS s FROM t WHERE source = 'src0' AND len(toks) >= 8)),
        |cg0 AS (SELECT doc_id, s, array_to_string(toks[s + 1 : s + 8], ' ') AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 8 + 1)) AS s FROM t WHERE source <> 'src0' AND len(toks) >= 8)),
        |d AS (SELECT doc_id, s FROM cg0 JOIN bg USING (gram)),
        |m AS (SELECT doc_id, s,
        |    CASE WHEN coalesce(s - lag(s) OVER (PARTITION BY doc_id ORDER BY s), 0) > 8 THEN 1 ELSE 0 END AS brk
        |  FROM d),
        |sp AS (SELECT doc_id, s,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS span
        |  FROM m)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(s) + 8 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM sp GROUP BY doc_id, span ORDER BY doc_id, span_start""".stripMargin,
    // span-removal mirror: the llm_dup_spans CTEs, then a NOT EXISTS
    // token cut and an ordered string_agg rebuild; span-free docs fall
    // through to their original text (the engine's isNull branch)
    "llm_dup_span_removal" ->
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 8 + 1)) AS s, toks FROM t WHERE len(toks) >= 8),
        |gg AS (SELECT doc_id, s, array_to_string(toks[s + 1 : s + 8], ' ') AS gram FROM g),
        |hot AS (SELECT gram FROM gg GROUP BY gram HAVING count(*) > 1),
        |d AS (SELECT doc_id, s FROM gg JOIN hot USING (gram)),
        |m AS (SELECT doc_id, s,
        |    CASE WHEN coalesce(s - lag(s) OVER (PARTITION BY doc_id ORDER BY s), 0) > 8 THEN 1 ELSE 0 END AS brk
        |  FROM d),
        |sp AS (SELECT doc_id, s,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS span
        |  FROM m),
        |spans AS (SELECT doc_id, min(s) AS a, max(s) + 8 AS b FROM sp GROUP BY doc_id, span),
        |tok AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) - 1 AS p FROM t),
        |keep AS (SELECT tk.doc_id, tk.w, tk.p FROM tok tk
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = tk.doc_id AND tk.p >= s.a AND tk.p < s.b)),
        |reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS txt FROM keep GROUP BY doc_id),
        |fin AS (SELECT t.doc_id,
        |    CASE WHEN t.doc_id IN (SELECT doc_id FROM spans) THEN coalesce(r.txt, '') ELSE t.text END AS txt
        |  FROM t LEFT JOIN reb r ON r.doc_id = t.doc_id)
        |SELECT doc_id, md5(txt) AS h, CAST(length(txt) AS BIGINT) AS len
        |FROM fin ORDER BY doc_id""".stripMargin,

    // suffix-dedup mirror (r15): the engine ranks suffixes by prefix
    // doubling; the oracle pins the SEMANTICS — duplicated exact
    // 6-token window strings, islands merge, token cut, rebuild —
    // with gram strings (exact in SQL, so both sides are hash-free)
    "llm_suffix_dedup" ->
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 6 + 1)) AS s, toks FROM t WHERE len(toks) >= 6),
        |gg AS (SELECT doc_id, s, array_to_string(toks[s + 1 : s + 6], ' ') AS gram FROM g),
        |hot AS (SELECT gram FROM gg GROUP BY gram HAVING count(*) > 1),
        |d AS (SELECT doc_id, s FROM gg JOIN hot USING (gram)),
        |m AS (SELECT doc_id, s,
        |    CASE WHEN coalesce(s - lag(s) OVER (PARTITION BY doc_id ORDER BY s), 0) > 6 THEN 1 ELSE 0 END AS brk
        |  FROM d),
        |sp AS (SELECT doc_id, s,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS span
        |  FROM m),
        |spans AS (SELECT doc_id, min(s) AS a, max(s) + 6 AS b FROM sp GROUP BY doc_id, span),
        |tok AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) - 1 AS p FROM t),
        |keep AS (SELECT tk.doc_id, tk.w, tk.p FROM tok tk
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = tk.doc_id AND tk.p >= s.a AND tk.p < s.b)),
        |reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS txt FROM keep GROUP BY doc_id),
        |fin AS (SELECT t.doc_id,
        |    CASE WHEN t.doc_id IN (SELECT doc_id FROM spans) THEN coalesce(r.txt, '') ELSE t.text END AS txt
        |  FROM t LEFT JOIN reb r ON r.doc_id = t.doc_id)
        |SELECT doc_id, md5(txt) AS h, CAST(length(txt) AS BIGINT) AS len
        |FROM fin ORDER BY doc_id""".stripMargin,

    // source-overlap mirror: the llm_winnow fingerprint CTEs, then
    // distinct (lang, fp) and a fingerprint-keyed pair join
    "llm_source_overlap" ->
      """WITH RECURSIVE
        |tok0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
        |tokx AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tok0),
        |strs AS (SELECT DISTINCT w AS s FROM tokx),
        |hx AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM strs),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hx
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |hsig AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |         FROM fnv WHERE i = nb),
        |th AS (SELECT t.doc_id, t.i, g.hv FROM tokx t JOIN hsig g ON g.s = t.w),
        |nn AS (SELECT doc_id, CAST(max(i) AS INT) AS n FROM th GROUP BY doc_id),
        |wins AS (
        |  SELECT a.doc_id, a.i, min(b.hv) AS fp
        |  FROM th a JOIN nn ON nn.doc_id = a.doc_id
        |  JOIN th b ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i <= a.i + 3
        |  WHERE a.i <= nn.n - 3
        |  GROUP BY a.doc_id, a.i),
        |big AS (SELECT DISTINCT doc_id, fp FROM wins),
        |small AS (SELECT t.doc_id, min(t.hv) AS fp FROM th t JOIN nn ON nn.doc_id = t.doc_id
        |          WHERE nn.n < 4 GROUP BY t.doc_id),
        |fps AS (SELECT doc_id, fp FROM (SELECT * FROM big UNION ALL SELECT * FROM small)),
        |sf AS (SELECT DISTINCT d.lang AS src, f.fp FROM fps f JOIN documents d USING (doc_id))
        |SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM sf a JOIN sf b ON a.fp = b.fp AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // temperature-mix mirror: per-lang counts, pow(n, 1/T) normalizer
    // summed in SORTED lang order (the engine's fixed fold), weights
    // left-assoc pw/z*target/n, then the llm_mix_weighted FNV/bucket
    // copies machinery with the computed weight joined per lang
    "llm_mix_temperature" ->
      """WITH RECURSIVE
        |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cnt),
        |zz AS (SELECT ((((pow((SELECT CAST(n AS DOUBLE) FROM cnt WHERE lang='de'), 1.0/2.0)
        |  + pow((SELECT CAST(n AS DOUBLE) FROM cnt WHERE lang='en'), 1.0/2.0))
        |  + pow((SELECT CAST(n AS DOUBLE) FROM cnt WHERE lang='es'), 1.0/2.0))
        |  + pow((SELECT CAST(n AS DOUBLE) FROM cnt WHERE lang='fr'), 1.0/2.0))
        |  + pow((SELECT CAST(n AS DOUBLE) FROM cnt WHERE lang='zh'), 1.0/2.0)) AS z),
        |w AS (SELECT lang, pow(CAST(n AS DOUBLE), 1.0/2.0) / z * t / CAST(n AS DOUBLE) AS wt FROM cnt, zz, tot),
        |ids AS (SELECT doc_id, lang, CAST(doc_id AS VARCHAR) AS s FROM documents),
        |hx AS (SELECT DISTINCT s FROM ids),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |        FROM fnv WHERE i = nb),
        |b AS (SELECT i.doc_id, i.lang, ((sg.hv % 1000) + 1000) % 1000 AS bucket FROM ids i JOIN sgn sg ON sg.s = i.s),
        |c AS (SELECT b.doc_id, b.lang, b.bucket,
        |  CAST(floor(w.wt) AS BIGINT)
        |    + CASE WHEN b.bucket < CAST(round((w.wt - floor(w.wt)) * 1000) AS BIGINT) THEN 1 ELSE 0 END AS copies
        |  FROM b JOIN w ON w.lang = b.lang)
        |SELECT lang, CAST(sum(copies) AS BIGINT) AS n_rows,
        | CAST(count(CASE WHEN copies > 0 THEN 1 END) AS BIGINT) AS n_docs
        |FROM c WHERE copies > 0 GROUP BY lang ORDER BY lang""".stripMargin,

    // vocabulary mirror: unnest word count with (cnt desc, word) ties
    "llm_vocab_topk" ->
      """SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w FROM documents)
        |GROUP BY w ORDER BY cnt DESC, w LIMIT 50""".stripMargin,
    // repetition mirror: docs shorter than n tokens produce no n-gram
    // rows → LEFT JOIN + coalesce 0 (the Spark side collapses them to
    // one trivially-distinct n-gram → ratio 0 as well)
    "llm_text_repetition" ->
      """WITH tok0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
        |tokx AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tok0),
        |sh2 AS (SELECT a.doc_id, a.w || ' ' || b.w AS s FROM tokx a JOIN tokx b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
        |d2 AS (SELECT doc_id, count(*) AS total, count(DISTINCT s) AS dis FROM sh2 GROUP BY doc_id),
        |sh3 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s FROM tokx a JOIN tokx b ON b.doc_id = a.doc_id AND b.i = a.i + 1 JOIN tokx c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
        |d3 AS (SELECT doc_id, count(*) AS total, count(DISTINCT s) AS dis FROM sh3 GROUP BY doc_id)
        |SELECT t.doc_id,
        | coalesce(CAST(d2.total - d2.dis AS DOUBLE) / d2.total, CAST(0 AS DOUBLE)) AS rep_2gram,
        | coalesce(CAST(d3.total - d3.dis AS DOUBLE) / d3.total, CAST(0 AS DOUBLE)) AS rep_3gram
        |FROM tok0 t LEFT JOIN d2 ON d2.doc_id = t.doc_id LEFT JOIN d3 ON d3.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // Gopher-rules mirror: stopword occurrences via list_filter over
    // the lowercased token array (the same union list, inlined),
    // symbol chars via the same \p-class regex, top-token coverage via
    // unnest → per-token counts → max/sum (what the single-pass kernel
    // computes with its hash table)
    "llm_quality_gopher" -> {
      val stops = graft.llm.TextAnalysis.stopwordUnion
        .map(w => s"'$w'").mkString(", ")
      s"""WITH tok0 AS (SELECT doc_id, text,
        |  regexp_split_to_array(trim(lower(text)), '\\s+') AS ll,
        |  regexp_split_to_array(trim(text), '\\s+') AS l FROM documents),
        |cnt AS (SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(l) AS w FROM tok0) GROUP BY doc_id, w),
        |mx AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr
        |  FROM cnt GROUP BY doc_id)
        |SELECT t.doc_id,
        | CAST(len(list_filter(t.ll, x -> list_contains([$stops], x))) AS DOUBLE) / len(t.ll) AS stopword_ratio,
        | CAST(length(regexp_replace(t.text, '[\\p{L}\\p{Nd}\\s]', '', 'g')) AS DOUBLE) / length(t.text) AS symbol_ratio,
        | mx.ttr AS top_token_ratio
        |FROM tok0 t JOIN mx ON mx.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin
    },
    // Gopher repetition mirror: synthesis replayed, then each metric
    // family — line/para dup fractions over non-blank units, top-gram
    // argmax per (doc, n) with the (count DESC, gram) tie order, and
    // the position-UNION coverage of duplicated 5..10-grams joined to
    // token lengths. Every fraction is an exact integer division
    "llm_gopher_repetition" ->
      """WITH syn AS (SELECT doc_id,
        |  coalesce(text, '') || chr(10) ||
        |  'boiler line alpha one' || chr(10) ||
        |  'boiler line beta two' ||
        |  CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'boiler line alpha one' ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) || 'shared paragraph block' || chr(10) || chr(10) || 'shared paragraph block'
        |       ELSE chr(10) || chr(10) || 'para block ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || 'second para ' || CAST(doc_id AS VARCHAR) END ||
        |  CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'five gram repeat alpha beta gamma delta epsilon five gram repeat alpha beta gamma delta epsilon' ELSE '' END ||
        |  CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'long repeat u1 u2 u3 u4 u5 u6 u7 u8 long repeat u1 u2 u3 u4 u5 u6 u7 u8' ELSE '' END
        |  AS t FROM documents),
        |lf AS (SELECT doc_id, u, count(*) AS c
        |       FROM (SELECT doc_id, unnest(string_split(t, chr(10))) AS u FROM syn)
        |       WHERE length(trim(u)) > 0 GROUP BY doc_id, u),
        |lm AS (SELECT doc_id, CAST(sum(c - 1) AS DOUBLE) / sum(c) AS lfr,
        |         CASE WHEN sum(c * length(u)) > 0 THEN CAST(sum((c - 1) * length(u)) AS DOUBLE) / sum(c * length(u)) ELSE 0.0 END AS lcf
        |       FROM lf GROUP BY doc_id),
        |pf AS (SELECT doc_id, u, count(*) AS c
        |       FROM (SELECT doc_id, unnest(string_split(t, chr(10) || chr(10))) AS u FROM syn)
        |       WHERE length(trim(u)) > 0 GROUP BY doc_id, u),
        |pm AS (SELECT doc_id, CAST(sum(c - 1) AS DOUBLE) / sum(c) AS pfr,
        |         CASE WHEN sum(c * length(u)) > 0 THEN CAST(sum((c - 1) * length(u)) AS DOUBLE) / sum(c * length(u)) ELSE 0.0 END AS pcf
        |       FROM pf GROUP BY doc_id),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS toks, length(t) AS tl FROM syn),
        |tg AS (SELECT q.doc_id, q.n, q.tl, array_to_string(q.toks[q.p : q.p + q.n - 1], ' ') AS g
        |       FROM (SELECT doc_id, toks, tl, n, unnest(generate_series(1, len(toks) - n + 1)) AS p
        |             FROM tk, (SELECT unnest([2, 3, 4]) AS n) WHERE len(toks) >= n) q),
        |tgc AS (SELECT doc_id, n, tl, g, count(*) AS c FROM tg GROUP BY doc_id, n, tl, g),
        |tgr AS (SELECT doc_id, n,
        |         CASE WHEN tl > 0 THEN CAST(c * length(g) AS DOUBLE) / tl ELSE 0.0 END AS f,
        |         row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g) AS rn FROM tgc),
        |tgm AS (SELECT doc_id,
        |         max(CASE WHEN n = 2 THEN f END) AS t2,
        |         max(CASE WHEN n = 3 THEN f END) AS t3,
        |         max(CASE WHEN n = 4 THEN f END) AS t4
        |       FROM tgr WHERE rn = 1 GROUP BY doc_id),
        |tok2 AS (SELECT doc_id, p, length(w) AS wl
        |       FROM (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS p FROM tk)
        |       WHERE w <> ''),
        |tot AS (SELECT doc_id, sum(wl) AS tc FROM tok2 GROUP BY doc_id),
        |cg AS (SELECT q.doc_id, q.n, q.p, array_to_string(q.toks[q.p : q.p + q.n - 1], ' ') AS g
        |       FROM (SELECT doc_id, toks, n, unnest(generate_series(1, len(toks) - n + 1)) AS p
        |             FROM tk, (SELECT unnest([5, 6, 7, 8, 9, 10]) AS n) WHERE len(toks) >= n) q),
        |cgc AS (SELECT doc_id, n, p, count(*) OVER (PARTITION BY doc_id, n, g) AS c FROM cg),
        |cov AS (SELECT DISTINCT doc_id, n, cp
        |       FROM (SELECT doc_id, n, unnest(generate_series(p, p + n - 1)) AS cp FROM cgc WHERE c >= 2)),
        |covm AS (SELECT c2.doc_id, c2.n, CAST(sum(t2.wl) AS DOUBLE) / any_value(tt.tc) AS f
        |       FROM cov c2 JOIN tok2 t2 ON t2.doc_id = c2.doc_id AND t2.p = c2.cp
        |       JOIN tot tt ON tt.doc_id = c2.doc_id GROUP BY c2.doc_id, c2.n),
        |cvm AS (SELECT doc_id,
        |         max(CASE WHEN n = 5 THEN f END) AS d5, max(CASE WHEN n = 6 THEN f END) AS d6,
        |         max(CASE WHEN n = 7 THEN f END) AS d7, max(CASE WHEN n = 8 THEN f END) AS d8,
        |         max(CASE WHEN n = 9 THEN f END) AS d9, max(CASE WHEN n = 10 THEN f END) AS d10
        |       FROM covm GROUP BY doc_id)
        |SELECT s.doc_id,
        |  coalesce(lm.lfr, 0.0) AS dup_line_frac, coalesce(pm.pfr, 0.0) AS dup_para_frac,
        |  coalesce(lm.lcf, 0.0) AS dup_line_char_frac, coalesce(pm.pcf, 0.0) AS dup_para_char_frac,
        |  coalesce(tgm.t2, 0.0) AS top_2gram_char_frac, coalesce(tgm.t3, 0.0) AS top_3gram_char_frac,
        |  coalesce(tgm.t4, 0.0) AS top_4gram_char_frac,
        |  coalesce(cvm.d5, 0.0) AS dup_5gram_char_frac, coalesce(cvm.d6, 0.0) AS dup_6gram_char_frac,
        |  coalesce(cvm.d7, 0.0) AS dup_7gram_char_frac, coalesce(cvm.d8, 0.0) AS dup_8gram_char_frac,
        |  coalesce(cvm.d9, 0.0) AS dup_9gram_char_frac, coalesce(cvm.d10, 0.0) AS dup_10gram_char_frac,
        |  (coalesce(lm.lfr, 0.0) <= 0.30 AND coalesce(pm.pfr, 0.0) <= 0.30
        |   AND coalesce(lm.lcf, 0.0) <= 0.20 AND coalesce(pm.pcf, 0.0) <= 0.20
        |   AND coalesce(tgm.t2, 0.0) <= 0.20 AND coalesce(tgm.t3, 0.0) <= 0.18
        |   AND coalesce(tgm.t4, 0.0) <= 0.16
        |   AND coalesce(cvm.d5, 0.0) <= 0.15 AND coalesce(cvm.d6, 0.0) <= 0.14
        |   AND coalesce(cvm.d7, 0.0) <= 0.13 AND coalesce(cvm.d8, 0.0) <= 0.12
        |   AND coalesce(cvm.d9, 0.0) <= 0.11 AND coalesce(cvm.d10, 0.0) <= 0.10) AS passes
        |FROM syn s
        |LEFT JOIN lm ON lm.doc_id = s.doc_id
        |LEFT JOIN pm ON pm.doc_id = s.doc_id
        |LEFT JOIN tgm ON tgm.doc_id = s.doc_id
        |LEFT JOIN cvm ON cvm.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    // decontamination mirror: distinct shingles per doc (the same
    // 3-gram + shorter-doc-collapse definition), benchmark = src0's
    // distinct shingle set, inner join + per-doc count
    "llm_decontaminate" ->
      """WITH tok0 AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
        |tokx AS (SELECT doc_id, source, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tok0),
        |sh3 AS (SELECT a.doc_id, a.source, a.w || ' ' || b.w || ' ' || c.w AS s FROM tokx a JOIN tokx b ON b.doc_id = a.doc_id AND b.i = a.i + 1 JOIN tokx c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
        |shfew AS (SELECT doc_id, source, array_to_string(l, ' ') AS s FROM tok0 WHERE len(l) < 3),
        |shall AS (SELECT DISTINCT doc_id, source, s FROM (SELECT * FROM sh3 UNION ALL SELECT * FROM shfew)),
        |bench AS (SELECT DISTINCT s FROM shall WHERE source = 'src0')
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM shall c JOIN bench b ON b.s = c.s
        |WHERE c.source <> 'src0'
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // PII mirror: the same synthetic construction and the same RE2
    // patterns (DuckDB's regex engine), counts via regexp_extract_all
    "llm_pii_redact" -> {
      val ps = graft.llm.TextAnalysis.piiPatterns.toMap
      val em = ps("email"); val ip = ps("ipv4"); val ph = ps("phone")
      s"""WITH w AS (SELECT doc_id,
        |  text || ' user' || CAST(doc_id AS VARCHAR) || '@mail.example 10.0.' ||
        |  CAST(doc_id % 200 AS VARCHAR) || '.7 +1-555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text2, '$em')) AS BIGINT) AS n_email,
        | CAST(len(regexp_extract_all(text2, '$ip')) AS BIGINT) AS n_ipv4,
        | CAST(len(regexp_extract_all(text2, '$ph')) AS BIGINT) AS n_phone,
        | md5(regexp_replace(regexp_replace(regexp_replace(text2,
        |   '$em', '[EMAIL]', 'g'), '$ip', '[IPV4]', 'g'), '$ph', '[PHONE]', 'g')) AS redacted_hash
        |FROM w ORDER BY doc_id""".stripMargin
    },
    // quantization mirror: identical double-cast expression tree —
    // max-abs scale, round-half-away codes. The scale is computed
    // INLINE with the unnest (a join before the sum would scramble
    // element order and change double-summation order vs Spark's fold)
    "llm_quantize_int8" ->
      """WITH u AS (SELECT vec_id,
        |  CAST(unnest(embedding) AS DOUBLE) AS x,
        |  list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS scale
        |  FROM embeddings),
        |q AS (SELECT vec_id, x, scale,
        |  CASE WHEN scale = 0 THEN 0 ELSE CAST(round(x / scale * 127) AS INTEGER) END AS qv FROM u),
        |r AS (SELECT vec_id, scale, qv, CAST(qv AS DOUBLE) * scale / 127 AS recon, x FROM q)
        |SELECT vec_id, round(any_value(scale), 6) AS scale,
        | CAST(sum(qv) AS BIGINT) AS q_sum,
        | round(sqrt(sum((x - recon) * (x - recon))), 6) AS l2_err
        |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // packing mirror: the closed-form assignment from the exclusive
    // prefix sum — what the distributed range-partition + offsets
    // decomposition computes without the global window
    "llm_pack_sequences" ->
      """WITH c AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS token_offset
        |  FROM c)
        |SELECT doc_id, n_tokens, CAST(token_offset AS BIGINT) AS token_offset,
        | CAST(token_offset // 64 AS BIGINT) AS seq_id,
        | CAST((token_offset + n_tokens - 1) // 64 - token_offset // 64 + 1 AS BIGINT) AS n_seqs_spanned
        |FROM p ORDER BY doc_id""".stripMargin,

    // next-fit-decreasing mirror: the SAME pinned greedy rule replayed
    // as a recursive CTE over the length histogram — state (open bin,
    // fill) after each decreasing length class; per-doc assignment
    // re-derived from the class-entry state: copy j < k0 tops up the
    // open bin at fill + j·n, the rest fill whole bins of 256//n
    "llm_pack_ffd" ->
      """WITH RECURSIVE
        |c AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n FROM documents),
        |cp AS (SELECT doc_id, n, row_number() OVER (PARTITION BY n ORDER BY doc_id) - 1 AS j FROM c),
        |h AS (SELECT n, count(*) AS cnt FROM c GROUP BY n),
        |o AS (SELECT n, cnt, row_number() OVER (ORDER BY n DESC) AS i FROM h),
        |rec AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS fill
        |  UNION ALL
        |  SELECT i, bin + CASE WHEN rem > 0 THEN nb ELSE 0 END,
        |    CASE WHEN rem > 0 THEN (rem - (nb - 1) * kfull) * n
        |         ELSE fill + k0 * n END
        |  FROM (
        |    SELECT i, n, cnt, bin, fill, k0, kfull, cnt - k0 AS rem,
        |      CASE WHEN cnt - k0 > 0
        |           THEN (cnt - k0 + kfull - 1) // kfull ELSE 0 END AS nb
        |    FROM (
        |      SELECT o.i, o.n, o.cnt, r.bin, r.fill,
        |        least(o.cnt, (256 - r.fill) // o.n) AS k0,
        |        256 // o.n AS kfull
        |      FROM rec r JOIN o ON o.i = r.i + 1) s1) s2),
        |a AS (SELECT cp.doc_id, cp.n, cp.j, r.bin AS bin_in,
        |    r.fill AS fill_in,
        |    least(o.cnt, (256 - r.fill) // cp.n) AS k0, 256 // cp.n AS kfull
        |  FROM cp JOIN o ON o.n = cp.n JOIN rec r ON r.i = o.i - 1),
        |asg AS (SELECT doc_id, n AS n_tokens,
        |    CASE WHEN j < k0 THEN bin_in
        |         ELSE bin_in + 1 + (j - k0) // kfull END AS bin_id,
        |    CASE WHEN j < k0 THEN fill_in + j * n
        |         ELSE ((j - k0) % kfull) * n END AS bin_offset
        |  FROM a),
        |sm AS (SELECT max(bin_id) + 1 AS n_bins, sum(n_tokens) AS tot
        |  FROM asg)
        |SELECT doc_id, n_tokens, CAST(bin_id AS BIGINT) AS bin_id,
        |  CAST(bin_offset AS BIGINT) AS bin_offset,
        |  CAST(n_bins AS BIGINT) AS n_bins,
        |  CAST(n_bins * 256 - tot AS BIGINT) AS waste_tokens,
        |  CAST((tot + 255) // 256 AS BIGINT) AS ideal_bins
        |FROM asg CROSS JOIN sm ORDER BY doc_id""".stripMargin,

    // winnowing mirror: FNV-1a per DISTINCT token (recursive hex CTE,
    // HUGEINT mod-2^64 → signed BIGINT like Spark's long), then min over
    // each 4-token sliding window, distinct per doc; docs shorter than
    // the window collapse to their single global min (the Spark
    // `.otherwise(array(array_min))` branch)
    "llm_winnow" ->
      """WITH RECURSIVE
        |tok0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
        |tokx AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tok0),
        |strs AS (SELECT DISTINCT w AS s FROM tokx),
        |hx AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM strs),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hx
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |hsig AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |         FROM fnv WHERE i = nb),
        |th AS (SELECT t.doc_id, t.i, g.hv FROM tokx t JOIN hsig g ON g.s = t.w),
        |nn AS (SELECT doc_id, CAST(max(i) AS INT) AS n FROM th GROUP BY doc_id),
        |wins AS (
        |  SELECT a.doc_id, a.i, min(b.hv) AS fp
        |  FROM th a JOIN nn ON nn.doc_id = a.doc_id
        |  JOIN th b ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i <= a.i + 3
        |  WHERE a.i <= nn.n - 3
        |  GROUP BY a.doc_id, a.i),
        |big AS (SELECT DISTINCT doc_id, fp FROM wins),
        |small AS (SELECT t.doc_id, min(t.hv) AS fp FROM th t JOIN nn ON nn.doc_id = t.doc_id
        |          WHERE nn.n < 4 GROUP BY t.doc_id)
        |SELECT doc_id, fp FROM (SELECT * FROM big UNION ALL SELECT * FROM small)
        |ORDER BY doc_id, fp""".stripMargin,
    "llm_langid_pred" ->
      """WITH c AS (SELECT doc_id,
        | len(list_intersect(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), ['der','die','das','und','ist','ein','zu','den'])) AS c_de,
        | len(list_intersect(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), ['the','and','of','to','a','in','is','it'])) AS c_en,
        | len(list_intersect(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), ['el','la','de','que','y','en','un','es'])) AS c_es,
        | len(list_intersect(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), ['le','la','de','et','un','est','que','pour'])) AS c_fr,
        | len(list_intersect(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), ['的','是','了','在','我','有','和','不'])) AS c_zh
        |FROM documents),
        |p AS (SELECT CASE WHEN greatest(c_de,c_en,c_es,c_fr,c_zh) <= 0 THEN 'und'
        | WHEN c_de = greatest(c_de,c_en,c_es,c_fr,c_zh) THEN 'de'
        | WHEN c_en = greatest(c_de,c_en,c_es,c_fr,c_zh) THEN 'en'
        | WHEN c_es = greatest(c_de,c_en,c_es,c_fr,c_zh) THEN 'es'
        | WHEN c_fr = greatest(c_de,c_en,c_es,c_fr,c_zh) THEN 'fr'
        | ELSE 'zh' END AS predicted FROM c)
        |SELECT predicted, count(*) AS cnt FROM p GROUP BY predicted ORDER BY predicted""".stripMargin,
    // hyperplane-LSH ANN mirror: the deterministic ±1 plane matrix is
    // inlined (512 values from Similarity.planes), signatures are sign
    // bits of the projections, the probe set is the query bucket plus
    // all hamming-1 neighbors, exact cosine rerank inside
    "llm_ann_lsh" -> {
      val pl = graft.llm.Similarity.planes(8, 64)
      val vals = (for (j <- 0 until 8; d <- 0 until 64)
        yield s"($j, $d, ${pl(j)(d).toInt})").mkString(", ")
      s"""WITH pl AS (SELECT j, d, p FROM (VALUES $vals) AS t(j, d, p)),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
        |dots AS (SELECT e.vec_id, pl.j, sum(e.x * pl.p) AS dt FROM e JOIN pl ON pl.d = e.d GROUP BY e.vec_id, pl.j),
        |sigs AS (SELECT vec_id, sum(CASE WHEN dt >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig FROM dots GROUP BY vec_id),
        |qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0),
        |probe AS (SELECT s.vec_id FROM sigs s, qs WHERE xor(s.sig, qs.qsig) = 0 OR (xor(s.sig, qs.qsig) < 256 AND bit_count(xor(s.sig, qs.qsig)) = 1)),
        |qe AS (SELECT d, x FROM e WHERE vec_id = 0),
        |sc AS (SELECT e.vec_id, sum(e.x * qe.x) AS dot, sqrt(sum(e.x * e.x)) AS ne FROM e JOIN probe pr ON pr.vec_id = e.vec_id JOIN qe ON qe.d = e.d GROUP BY e.vec_id),
        |nq AS (SELECT sqrt(sum(x * x)) AS nrm FROM qe),
        |top AS (SELECT vec_id, dot / (ne * nq.nrm) AS c FROM sc, nq ORDER BY c DESC, vec_id LIMIT 5)
        |SELECT vec_id, round(c, 6) AS cosine FROM top ORDER BY cosine DESC, vec_id""".stripMargin
    },
    // embedding near-dup mirror: full-signature buckets (all 8 sign
    // bits equal), exact cosine verify at the threshold; the bsz CTE
    // mirrors the engine's drop-whole maxBucket=10000 cap (the
    // stream_neardup_candidates pattern — inert at this SF, semantic
    // at scale)
    "llm_emb_neardup" -> {
      val pl = graft.llm.Similarity.planes(8, 64)
      val vals = (for (j <- 0 until 8; d <- 0 until 64)
        yield s"($j, $d, ${pl(j)(d).toInt})").mkString(", ")
      s"""WITH pl AS (SELECT j, d, p FROM (VALUES $vals) AS t(j, d, p)),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
        |dots AS (SELECT e.vec_id, pl.j, sum(e.x * pl.p) AS dt FROM e JOIN pl ON pl.d = e.d GROUP BY e.vec_id, pl.j),
        |sigs AS (SELECT vec_id, sum(CASE WHEN dt >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig FROM dots GROUP BY vec_id),
        |bsz AS (SELECT sig, count(*) AS c FROM sigs GROUP BY sig),
        |cand AS (SELECT a.vec_id AS ida, b.vec_id AS idb FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id JOIN bsz z ON z.sig = a.sig AND z.c <= 10000),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM e GROUP BY vec_id),
        |dp AS (SELECT c.ida, c.idb, sum(ea.x * eb.x) AS dot FROM cand c JOIN e ea ON ea.vec_id = c.ida JOIN e eb ON eb.vec_id = c.idb AND eb.d = ea.d GROUP BY c.ida, c.idb),
        |cs AS (SELECT d.ida, d.idb, d.dot / (na.nv * nb.nv) AS c FROM dp d JOIN nrm na ON na.vec_id = d.ida JOIN nrm nb ON nb.vec_id = d.idb)
        |SELECT ida, idb, round(c, 6) AS cosine FROM cs WHERE c >= 0.4 ORDER BY ida, idb""".stripMargin
    },
    // leakage-split mirror (r10 — this row was rows-only in r09): the
    // llm_emb_neardup pair CTEs (8 planes, cosine ≥ 0.4 — inside the
    // data's similarity range so components are non-trivial) →
    // transitive-closure components via a recursive reach CTE with
    // min-label = component (the union-find result is exactly
    // min-over-reachable-set) → the llm_mix_sources FNV-1a recursive
    // CTE over the component rendered as a string → 'val' iff
    // pmod(fnv, 1000) < round(0.1·1000)
    "llm_leakage_split" -> {
      val pl = graft.llm.Similarity.planes(8, 64)
      val vals = (for (j <- 0 until 8; d <- 0 until 64)
        yield s"($j, $d, ${pl(j)(d).toInt})").mkString(", ")
      s"""WITH RECURSIVE pl AS (SELECT j, d, p FROM (VALUES $vals) AS t(j, d, p)),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
        |dots AS (SELECT e.vec_id, pl.j, sum(e.x * pl.p) AS dt FROM e JOIN pl ON pl.d = e.d GROUP BY e.vec_id, pl.j),
        |sigs AS (SELECT vec_id, sum(CASE WHEN dt >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig FROM dots GROUP BY vec_id),
        |bsz AS (SELECT sig, count(*) AS c FROM sigs GROUP BY sig),
        |cand AS (SELECT a.vec_id AS ida, b.vec_id AS idb FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id JOIN bsz z ON z.sig = a.sig AND z.c <= 10000),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM e GROUP BY vec_id),
        |dp AS (SELECT c.ida, c.idb, sum(ea.x * eb.x) AS dot FROM cand c JOIN e ea ON ea.vec_id = c.ida JOIN e eb ON eb.vec_id = c.idb AND eb.d = ea.d GROUP BY c.ida, c.idb),
        |prs AS (SELECT d.ida, d.idb FROM dp d JOIN nrm na ON na.vec_id = d.ida JOIN nrm nb ON nb.vec_id = d.idb WHERE d.dot / (na.nv * nb.nv) >= 0.4),
        |ed AS (SELECT ida AS a, idb AS b FROM prs UNION SELECT idb, ida FROM prs),
        |reach AS (SELECT a AS id, b AS r FROM ed UNION SELECT t.id, ed.b FROM reach t JOIN ed ON ed.a = t.r),
        |comp AS (SELECT v.vec_id, CAST(least(v.vec_id, coalesce(min(r.r), v.vec_id)) AS BIGINT) AS component FROM embeddings v LEFT JOIN reach r ON r.id = v.vec_id GROUP BY v.vec_id),
        |hx AS (SELECT DISTINCT CAST(component AS VARCHAR) AS s FROM comp),
        |hh AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM hx),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hh
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |sgn AS (SELECT s, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv FROM fnv WHERE i = nb)
        |SELECT c.vec_id, c.component,
        |  CASE WHEN ((sg.hv % 1000) + 1000) % 1000 < 100 THEN 'val' ELSE 'train' END AS split
        |FROM comp c JOIN sgn sg ON sg.s = CAST(c.component AS VARCHAR)
        |ORDER BY c.vec_id""".stripMargin
    },
    // percentile mirror: one global window row_number — the exact
    // semantics the distributed decomposition must reproduce
    "llm_score_percentile" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) / length(text) AS score
        |  FROM documents),
        |r AS (SELECT doc_id, score,
        |    row_number() OVER (ORDER BY score, doc_id) - 1 AS rank,
        |    count(*) OVER () AS n FROM m)
        |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank,
        |  CAST(rank AS DOUBLE) / (n - 1) AS percentile
        |FROM r ORDER BY doc_id""".stripMargin,

    // BM25 mirror: same two-pass shape (stats CTE, map-only score) and
    // the same float-op order — contributions summed in term order,
    // (1.2 + 1.0) kept symbolic so both engines fold the same doubles
    "llm_bm25_score" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ntok) AS DOUBLE) / count(*) AS avgdl,
        |    CAST(sum(CASE WHEN list_contains(toks, 'dup') THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(sum(CASE WHEN list_contains(toks, 'key') THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(sum(CASE WHEN list_contains(toks, 'batch') THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM d),
        |tf AS (SELECT doc_id, CAST(ntok AS DOUBLE) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'dup')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(toks, x -> x = 'key')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(toks, x -> x = 'batch')) AS DOUBLE) AS tf2
        |  FROM d)
        |SELECT doc_id, round(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * (1.2 + 1.0) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * (1.2 + 1.0) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * (1.2 + 1.0) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
        |FROM tf, st ORDER BY doc_id""".stripMargin,

    // batch-retrieval mirror: per-query explicit Okapi sums in term
    // order (left-assoc, zero contributions are exact no-ops), docs
    // with no query-term hit excluded, row_number top-5 under
    // (score DESC, doc_id). The persisted-index path must be
    // bit-identical, so BOTH retrieval gates share this mirror
    "llm_retrieval_topk" -> retrievalOracleSql,
    "llm_retrieval_persisted" -> retrievalOracleSql,
    "llm_retrieval_append" -> retrievalOracleSql,
    "llm_retrieval_optimize" -> retrievalOracleSql,

    // hybrid-RRF mirror: the Okapi top-10 lists (retrieval-mirror
    // arithmetic, queries 0/1), the exact cosine top-10 lists
    // (sim-topk arithmetic, probes = vectors 0/1), then the integer
    // fusion — contribution 10^12 // (60 + rn) with rn the 1-based
    // row_number rank, summed per (query, doc), re-ranked under
    // (rrf DESC, doc_id)
    "llm_hybrid_rrf" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ntok) AS DOUBLE) / count(*) AS avgdl,
        |    CAST(sum(CASE WHEN list_contains(toks, 'key') THEN 1 ELSE 0 END) AS BIGINT) AS dfa,
        |    CAST(sum(CASE WHEN list_contains(toks, 'dup') THEN 1 ELSE 0 END) AS BIGINT) AS dfb,
        |    CAST(sum(CASE WHEN list_contains(toks, 'batch') THEN 1 ELSE 0 END) AS BIGINT) AS dfc,
        |    CAST(sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS BIGINT) AS dfd,
        |    CAST(sum(CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END) AS BIGINT) AS dfe
        |  FROM d),
        |tf AS (SELECT doc_id, CAST(ntok AS DOUBLE) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'key')) AS DOUBLE) AS tfa,
        |    CAST(len(list_filter(toks, x -> x = 'dup')) AS DOUBLE) AS tfb,
        |    CAST(len(list_filter(toks, x -> x = 'batch')) AS DOUBLE) AS tfc,
        |    CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tfd,
        |    CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tfe
        |  FROM d),
        |s0 AS (SELECT CAST(0 AS BIGINT) AS query_id, doc_id,
        |    ln((n - dfa + 0.5) / (dfa + 0.5) + 1.0) * tfa * (1.2 + 1.0) / (tfa + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - dfb + 0.5) / (dfb + 0.5) + 1.0) * tfb * (1.2 + 1.0) / (tfb + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS score,
        |    tfa + tfb AS th FROM tf, st),
        |s1 AS (SELECT CAST(1 AS BIGINT) AS query_id, doc_id,
        |    ln((n - dfc + 0.5) / (dfc + 0.5) + 1.0) * tfc * (1.2 + 1.0) / (tfc + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - dfd + 0.5) / (dfd + 0.5) + 1.0) * tfd * (1.2 + 1.0) / (tfd + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - dfe + 0.5) / (dfe + 0.5) + 1.0) * tfe * (1.2 + 1.0) / (tfe + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS score,
        |    tfc + tfd + tfe AS th FROM tf, st),
        |lexu AS (SELECT query_id, doc_id, score FROM s0 WHERE th > 0
        |      UNION ALL SELECT query_id, doc_id, score FROM s1 WHERE th > 0),
        |lexr AS (SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn FROM lexu),
        |q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, unnest(embedding) AS qx,
        |      generate_subscripts(embedding, 1) AS i FROM embeddings WHERE vec_id <= 1),
        |e AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings),
        |en AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm FROM e GROUP BY vec_id),
        |dots AS (SELECT q.query_id, e.vec_id, sum(CAST(e.x AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS dot
        |      FROM e JOIN q USING (i) GROUP BY 1, 2),
        |cos AS (SELECT dt.query_id, CAST(dt.vec_id AS BIGINT) AS doc_id,
        |      dt.dot / (ec.nrm * eq.nrm) AS cosine
        |      FROM dots dt JOIN en ec ON ec.vec_id = dt.vec_id
        |      JOIN en eq ON eq.vec_id = dt.query_id),
        |semr AS (SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rn FROM cos),
        |contrib AS (SELECT query_id, doc_id, 1000000000000 // (60 + rn) AS c FROM lexr WHERE rn <= 10
        |      UNION ALL SELECT query_id, doc_id, 1000000000000 // (60 + rn) FROM semr WHERE rn <= 10),
        |fused AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
        |      CAST(count(*) AS BIGINT) AS n_lists FROM contrib GROUP BY 1, 2),
        |fr AS (SELECT query_id, doc_id, rrf_score, n_lists,
        |      row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rn FROM fused)
        |SELECT query_id, CAST(rn - 1 AS BIGINT) AS "rank", doc_id, rrf_score, n_lists
        |FROM fr WHERE rn <= 10 ORDER BY query_id, "rank"""".stripMargin,

    // JSONL round-trip mirror: the parquet truth directly — any
    // write/read defect (encoding, type, torn line) breaks a column
    "llm_jsonl_roundtrip" ->
      """SELECT doc_id, source, lang, n_chars,
        |  md5(coalesce(text, '')) AS text_hash
        |FROM documents ORDER BY doc_id""".stripMargin,


    // JL mirror: the inlined deterministic plane matrix (the
    // llm_emb_neardup pattern at 16×64), per-(vector, row) dots
    "llm_jl_project" -> {
      val pl = graft.llm.Similarity.planes(16, 64)
      val vals = (for (j <- 0 until 16; d <- 0 until 64)
        yield s"($j, $d, ${pl(j)(d).toInt})").mkString(", ")
      s"""WITH pl AS (SELECT j, d, p FROM (VALUES $vals) AS t(j, d, p)),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
        |dots AS (SELECT e.vec_id, pl.j, sum(e.x * pl.p) AS dt FROM e JOIN pl ON pl.d = e.d GROUP BY e.vec_id, pl.j)
        |SELECT vec_id, CAST(j AS INT) AS j, round(dt * 0.25, 6) AS y FROM dots ORDER BY vec_id, j""".stripMargin
    },
    // SemDeDup mirror: the llm_ann_ivf Lloyd CTEs (2 unrolled rounds,
    // centroids rounded to 6 like the engine) → final assignment s3 →
    // within-cluster pairs → exact cosine → drop ids with a smaller-id
    // similar neighbor → anti-joined survivors
    "llm_semantic_dedup" ->
      """WITH sel AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
        |seli AS (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) - 1 AS l FROM sel),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
        |c0 AS (SELECT l, CAST(unnest(embedding) AS DOUBLE) AS v, generate_subscripts(embedding, 1) - 1 AS d FROM seli),
        |a1 AS (SELECT e.vec_id, c0.l, sum((e.x - c0.v)*(e.x - c0.v)) AS dist FROM e JOIN c0 ON c0.d = e.d GROUP BY e.vec_id, c0.l),
        |s1 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a1) WHERE rn = 1),
        |m1 AS (SELECT s1.l, e.d, round(avg(e.x), 6) AS v FROM s1 JOIN e ON e.vec_id = s1.vec_id GROUP BY s1.l, e.d),
        |c1 AS (SELECT c0.l, c0.d, coalesce(m1.v, c0.v) AS v FROM c0 LEFT JOIN m1 ON m1.l = c0.l AND m1.d = c0.d),
        |a2 AS (SELECT e.vec_id, c1.l, sum((e.x - c1.v)*(e.x - c1.v)) AS dist FROM e JOIN c1 ON c1.d = e.d GROUP BY e.vec_id, c1.l),
        |s2 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a2) WHERE rn = 1),
        |m2 AS (SELECT s2.l, e.d, round(avg(e.x), 6) AS v FROM s2 JOIN e ON e.vec_id = s2.vec_id GROUP BY s2.l, e.d),
        |c2 AS (SELECT c1.l, c1.d, coalesce(m2.v, c1.v) AS v FROM c1 LEFT JOIN m2 ON m2.l = c1.l AND m2.d = c1.d),
        |a3 AS (SELECT e.vec_id, c2.l, sum((e.x - c2.v)*(e.x - c2.v)) AS dist FROM e JOIN c2 ON c2.d = e.d GROUP BY e.vec_id, c2.l),
        |s3 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a3) WHERE rn = 1),
        |csz AS (SELECT l, count(*) AS c FROM s3 GROUP BY l),
        |cand AS (SELECT a.vec_id AS ida, b.vec_id AS idb FROM s3 a JOIN s3 b ON a.l = b.l AND a.vec_id < b.vec_id JOIN csz z ON z.l = a.l AND z.c <= 10000),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM e GROUP BY vec_id),
        |dp AS (SELECT c.ida, c.idb, sum(ea.x * eb.x) AS dot FROM cand c JOIN e ea ON ea.vec_id = c.ida JOIN e eb ON eb.vec_id = c.idb AND eb.d = ea.d GROUP BY c.ida, c.idb),
        |cs AS (SELECT d.ida, d.idb, d.dot / (na.nv * nb.nv) AS c FROM dp d JOIN nrm na ON na.vec_id = d.ida JOIN nrm nb ON nb.vec_id = d.idb),
        |drp AS (SELECT DISTINCT idb FROM cs WHERE c >= 0.35)
        |SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT idb FROM drp) ORDER BY vec_id""".stripMargin,
    // rolling polynomial hash mirror: h = h*1000003 + byte with 64-bit
    // wrap, emulated in HUGEINT mod 2^64 and converted to signed BIGINT
    "llm_fingerprint" ->
      """WITH RECURSIVE
        |hx AS (SELECT doc_id, hex(encode(text)) AS hs, octet_length(encode(text)) AS nb FROM documents),
        |fp AS (
        |  SELECT doc_id, hs, nb, 0 AS i, CAST(17 AS HUGEINT) AS h FROM hx
        |  UNION ALL
        |  SELECT doc_id, hs, nb, i + 1,
        |    (h * 1000003 + CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) % 18446744073709551616
        |  FROM fp WHERE i < nb),
        |fin AS (SELECT doc_id, h FROM fp WHERE i = nb)
        |SELECT doc_id, CAST(h - CASE WHEN h >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS fingerprint
        |FROM fin ORDER BY doc_id""".stripMargin,
    // Full MinHash-LSH pipeline mirror: shingles → FNV-1a 64 (HUGEINT
    // mod-2^64 emulation) → the 64 affine mixer transforms (constants
    // inlined unsigned from MinHashSig.mixers; products WRAP mod 2^64
    // via HUGEINT — full-width multipliers, r10) → band buckets on the raw signature slices →
    // signature-estimate ranking → exact-Jaccard verify on the top-20
    // incremental mirror: the shared minhash CTEs split by source into
    // new (src0) vs corpus bands, per-SIDE drop-whole caps, the same
    // est >= threshold/2 prefilter and exact shingle Jaccard
    "llm_incremental_dedup" -> {
      s"""$minhashMirrorCtes,
        |srcs AS (SELECT doc_id, source FROM documents),
        |bn AS (SELECT b.doc_id, b.band, b.sl FROM bnd b JOIN srcs s ON s.doc_id = b.doc_id AND s.source = 'src0'),
        |bcx AS (SELECT b.doc_id, b.band, b.sl FROM bnd b JOIN srcs s ON s.doc_id = b.doc_id AND s.source <> 'src0'),
        |szn AS (SELECT band, sl, count(*) AS c FROM bn GROUP BY band, sl),
        |szc AS (SELECT band, sl, count(*) AS c FROM bcx GROUP BY band, sl),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM bn n JOIN bcx c ON c.band = n.band AND c.sl = n.sl
        |  JOIN szn zn ON zn.band = n.band AND zn.sl = n.sl AND zn.c <= 1000
        |  JOIN szc zc ON zc.band = n.band AND zc.sl = n.sl AND zc.c <= 1000),
        |eq AS (SELECT t.new_id, t.corpus_id, sum(CASE WHEN pa.v = pb.v THEN 1 ELSE 0 END) AS neq
        |  FROM cand t JOIN persig pa ON pa.doc_id = t.new_id JOIN persig pb ON pb.doc_id = t.corpus_id AND pb.j = pa.j
        |  GROUP BY t.new_id, t.corpus_id),
        |pre AS (SELECT new_id, corpus_id FROM eq WHERE CAST(neq AS DOUBLE)/64 >= 0.25),
        |nsh AS (SELECT doc_id, count(*) AS n FROM shall GROUP BY doc_id),
        |iv AS (SELECT p.new_id, p.corpus_id, count(*) AS it FROM pre p JOIN shall x ON x.doc_id = p.new_id JOIN shall y ON y.doc_id = p.corpus_id AND y.s = x.s GROUP BY p.new_id, p.corpus_id),
        |jac AS (SELECT p.new_id, p.corpus_id, coalesce(CAST(iv.it AS DOUBLE) / (na.n + nb.n - iv.it), 0.0) AS jaccard
        |  FROM pre p LEFT JOIN iv ON iv.new_id = p.new_id AND iv.corpus_id = p.corpus_id
        |  JOIN nsh na ON na.doc_id = p.new_id JOIN nsh nb ON nb.doc_id = p.corpus_id)
        |SELECT new_id, corpus_id, jaccard FROM jac WHERE jaccard >= 0.5
        |ORDER BY new_id, corpus_id""".stripMargin
    },
    "llm_minhash_neardup" -> {
      s"""$minhashMirrorCtes,
        |bsz AS (SELECT band, sl, count(*) AS c FROM bnd GROUP BY band, sl),
        |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.sl = b.sl AND a.doc_id < b.doc_id
        |  JOIN bsz z ON z.band = a.band AND z.sl = a.sl AND z.c <= 1000),
        |eq AS (SELECT c.ida, c.idb, sum(CASE WHEN pa.v = pb.v THEN 1 ELSE 0 END) AS neq
        |  FROM cand c JOIN persig pa ON pa.doc_id = c.ida JOIN persig pb ON pb.doc_id = c.idb AND pb.j = pa.j
        |  GROUP BY c.ida, c.idb),
        |top AS (SELECT ida, idb, CAST(neq AS DOUBLE)/64 AS est_jaccard FROM eq ORDER BY est_jaccard DESC, ida, idb LIMIT 20),
        |nsh AS (SELECT doc_id, count(*) AS n FROM shall GROUP BY doc_id),
        |iv AS (SELECT t.ida, t.idb, count(*) AS it FROM top t JOIN shall x ON x.doc_id = t.ida JOIN shall y ON y.doc_id = t.idb AND y.s = x.s GROUP BY t.ida, t.idb)
        |SELECT t.ida AS ida, t.idb AS idb, t.est_jaccard AS est_jaccard,
        | coalesce(CAST(iv.it AS DOUBLE) / (na.n + nb.n - iv.it), 0.0) AS jaccard
        |FROM top t LEFT JOIN iv ON iv.ida = t.ida AND iv.idb = t.idb
        | JOIN nsh na ON na.doc_id = t.ida JOIN nsh nb ON nb.doc_id = t.idb
        |ORDER BY est_jaccard DESC, ida, idb""".stripMargin
    },
    // End-to-end near-dup dedup mirror: exact-collapse to min-id
    // representatives, the same signature/banding chain as above, the
    // est>=threshold/2 prefilter, exact-Jaccard verify at 0.8, then
    // connected components via transitive closure (UNION-dedup
    // recursive CTE reaches the fixpoint) with min-id survivors
    "llm_neardup_dedup" -> {
      val mixers = graft.functions.MinHashSig.mixers(64)
        .zipWithIndex.map { case (a, j) => s"($j, ${java.lang.Long.toUnsignedString(a)})" }.mkString(", ")
      s"""WITH RECURSIVE
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS td FROM documents),
        |reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |tok0 AS (SELECT d.doc_id, regexp_split_to_array(trim(d.text), '\\s+') AS l FROM documents d JOIN reps r ON r.doc_id = d.doc_id),
        |tokx AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM tok0),
        |sh3 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s FROM tokx a JOIN tokx b ON b.doc_id = a.doc_id AND b.i = a.i + 1 JOIN tokx c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
        |shfew AS (SELECT doc_id, array_to_string(l, ' ') AS s FROM tok0 WHERE len(l) < 3),
        |shall AS (SELECT DISTINCT doc_id, s FROM (SELECT * FROM sh3 UNION ALL SELECT * FROM shfew)),
        |strs AS (SELECT DISTINCT s FROM shall),
        |hx AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM strs),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hx
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |hfin AS (SELECT s, h FROM fnv WHERE i = nb),
        |mix AS (SELECT j, a FROM (VALUES $mixers) AS m(j, a)),
        |pmul AS (
        |  SELECT sa.doc_id, m.j, CAST(hf.h // 2147483648 AS BIGINT) AS hi,
        |    (CAST(hf.h % 2147483648 AS HUGEINT) * CAST(m.a AS HUGEINT)) % 18446744073709551616 AS p
        |  FROM shall sa JOIN hfin hf ON hf.s = sa.s CROSS JOIN mix m),
        |persig AS (
        |  SELECT doc_id, j,
        |    min(xor(CAST(p - CASE WHEN p >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT), hi)) AS v
        |  FROM pmul GROUP BY doc_id, j),
        |bnd AS (SELECT doc_id, j // 4 AS band, list(v ORDER BY j) AS sl FROM persig GROUP BY doc_id, j // 4),
        |bsz AS (SELECT band, sl, count(*) AS c FROM bnd GROUP BY band, sl),
        |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.sl = b.sl AND a.doc_id < b.doc_id
        |  JOIN bsz z ON z.band = a.band AND z.sl = a.sl AND z.c <= 1000),
        |eq AS (SELECT c.ida, c.idb, sum(CASE WHEN pa.v = pb.v THEN 1 ELSE 0 END) AS neq
        |  FROM cand c JOIN persig pa ON pa.doc_id = c.ida JOIN persig pb ON pb.doc_id = c.idb AND pb.j = pa.j
        |  GROUP BY c.ida, c.idb),
        |pre AS (SELECT ida, idb FROM eq WHERE CAST(neq AS DOUBLE)/64 >= 0.4),
        |nsh AS (SELECT doc_id, count(*) AS n FROM shall GROUP BY doc_id),
        |iv AS (SELECT p.ida, p.idb, count(*) AS it FROM pre p JOIN shall x ON x.doc_id = p.ida JOIN shall y ON y.doc_id = p.idb AND y.s = x.s GROUP BY p.ida, p.idb),
        |edges AS (SELECT i.ida, i.idb FROM iv i JOIN nsh na ON na.doc_id = i.ida JOIN nsh nb ON nb.doc_id = i.idb
        |  WHERE CAST(i.it AS DOUBLE) / (na.n + nb.n - i.it) >= 0.8),
        |conn AS (SELECT ida AS id, idb AS peer FROM edges UNION SELECT idb, ida FROM edges),
        |reach AS (SELECT id, peer FROM conn UNION SELECT r.id, c.peer FROM reach r JOIN conn c ON c.id = r.peer WHERE c.peer <> r.id),
        |dropped AS (SELECT count(*) AS nd FROM (SELECT id FROM reach GROUP BY id HAVING min(peer) < id)),
        |nreps AS (SELECT count(*) AS nr FROM reps)
        |SELECT CAST(nr - nd AS BIGINT) AS survivors, CAST(td - (nr - nd) AS BIGINT) AS removed
        |FROM nreps, dropped, tot""".stripMargin
    },
    // SimHash mirror: FNV-1a token hashes → frequency-weighted bit
    // votes → sign-assembled 64-bit hash (HUGEINT, converted to the
    // signed BIGINT Spark produces) → 4×16-bit chunk bands → popcount
    // hamming verify
    "llm_simhash_neardup" -> {
      val pow2 = (0 until 64)
        .map(i => s"($i, ${BigInt(1) << i})").mkString(", ")
      s"""WITH RECURSIVE
        |tok0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS l FROM documents),
        |tf AS (SELECT doc_id, w AS tok, count(*) AS freq FROM (SELECT doc_id, unnest(l) AS w FROM tok0) GROUP BY doc_id, w),
        |strs AS (SELECT DISTINCT tok AS s FROM tf),
        |hx AS (SELECT s, hex(encode(s)) AS hs, octet_length(encode(s)) AS nb FROM strs),
        |fnv AS (
        |  SELECT s, hs, nb, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM hx
        |  UNION ALL
        |  SELECT s, hs, nb, i + 1,
        |    (xor(h, CAST((strpos('0123456789ABCDEF', substring(hs, 2*i+1, 1))-1)*16 + strpos('0123456789ABCDEF', substring(hs, 2*i+2, 1))-1 AS HUGEINT)) * 1099511628211) % 18446744073709551616
        |  FROM fnv WHERE i < nb),
        |hfin AS (SELECT s, h FROM fnv WHERE i = nb),
        |bits AS (SELECT i, p FROM (VALUES $pow2) AS b(i, p)),
        |votes AS (SELECT t.doc_id, b.i, b.p,
        |    sum(CASE WHEN (hf.h // CAST(b.p AS HUGEINT)) % 2 = 1 THEN t.freq ELSE -t.freq END) AS v
        |  FROM tf t JOIN hfin hf ON hf.s = t.tok CROSS JOIN bits b
        |  GROUP BY t.doc_id, b.i, b.p),
        |sim AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN CAST(p AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS hu FROM votes GROUP BY doc_id),
        |sims AS (SELECT doc_id, CAST(hu - CASE WHEN hu >= 9223372036854775808 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS sh, hu FROM sim),
        |chunks AS (SELECT doc_id, sh, j, CAST((hu // CAST(p16.p AS HUGEINT)) % 65536 AS BIGINT) AS chunk
        |  FROM sims CROSS JOIN (SELECT i/16 AS j, p FROM bits WHERE i IN (0, 16, 32, 48)) p16),
        |csz AS (SELECT j, chunk, count(*) AS c FROM chunks GROUP BY j, chunk),
        |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb, a.sh AS sa, b.sh AS sb
        |  FROM chunks a JOIN chunks b ON a.j = b.j AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        |  JOIN csz z ON z.j = a.j AND z.chunk = a.chunk AND z.c <= 10000)
        |SELECT ida, idb, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY ida, idb""".stripMargin
    },
    // IVF-ANN mirror: the 2 Lloyd rounds unroll into plain SQL — init
    // centroids = embeddings of the 8 smallest ids (float-exact), each
    // round = argmin assignment (ties to the lower list id, same as the
    // kernel's strict <) + per-list per-dim round-6 mean with empty
    // lists keeping their previous centroid — then nprobe=2 list probe
    // and exact cosine rerank, the llm_ann_lsh pattern
    // bipartite bucket-join mirror: 6-plane signatures (the
    // llm_emb_neardup pattern), query side = vec_id < 8, corpus side =
    // the rest; per-side bucket-count caps mirror the drop-whole
    // maxBucket semantics (inert at this SF)
    "llm_ann_join" -> {
      val pl = graft.llm.Similarity.planes(6, 64)
      val vals = (for (j <- 0 until 6; d <- 0 until 64)
        yield s"($j, $d, ${pl(j)(d).toInt})").mkString(", ")
      s"""WITH pl AS (SELECT j, d, p FROM (VALUES $vals) AS t(j, d, p)),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
        |dots AS (SELECT e.vec_id, pl.j, sum(e.x * pl.p) AS dt FROM e JOIN pl ON pl.d = e.d GROUP BY e.vec_id, pl.j),
        |sigs AS (SELECT vec_id, sum(CASE WHEN dt >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig FROM dots GROUP BY vec_id),
        |qs AS (SELECT vec_id, sig FROM sigs WHERE vec_id < 8),
        |cs AS (SELECT vec_id, sig FROM sigs WHERE vec_id >= 8),
        |qsz AS (SELECT sig, count(*) AS c FROM qs GROUP BY sig),
        |csz AS (SELECT sig, count(*) AS c FROM cs GROUP BY sig),
        |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
        |  FROM qs q JOIN cs c ON c.sig = q.sig
        |  JOIN qsz zq ON zq.sig = q.sig AND zq.c <= 10000
        |  JOIN csz zc ON zc.sig = q.sig AND zc.c <= 10000),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM e GROUP BY vec_id),
        |dp AS (SELECT cd.query_id, cd.corpus_id, sum(ea.x * eb.x) AS dot
        |  FROM cand cd JOIN e ea ON ea.vec_id = cd.query_id
        |  JOIN e eb ON eb.vec_id = cd.corpus_id AND eb.d = ea.d
        |  GROUP BY cd.query_id, cd.corpus_id)
        |SELECT d.query_id, d.corpus_id,
        |  round(d.dot / (na.nv * nb.nv), 6) AS cosine
        |FROM dp d JOIN nrm na ON na.vec_id = d.query_id
        |JOIN nrm nb ON nb.vec_id = d.corpus_id
        |ORDER BY query_id, corpus_id""".stripMargin
    },
    // batch-IVF mirror: the same unrolled Lloyd CTEs; corpus assignment
    // = argmin over final centroids (vec_id >= 8), query probes = the
    // 2 nearest lists per query (vec_id < 8, ties to the lower list),
    // join on the list, exact cosine, top-5 per query by
    // (cosine DESC, corpus_id)
    "llm_ann_ivf_join" ->
      """WITH sel AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
        |seli AS (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) - 1 AS l FROM sel),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
        |c0 AS (SELECT l, CAST(unnest(embedding) AS DOUBLE) AS v, generate_subscripts(embedding, 1) - 1 AS d FROM seli),
        |a1 AS (SELECT e.vec_id, c0.l, sum((e.x - c0.v)*(e.x - c0.v)) AS dist FROM e JOIN c0 ON c0.d = e.d GROUP BY e.vec_id, c0.l),
        |s1 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a1) WHERE rn = 1),
        |m1 AS (SELECT s1.l, e.d, round(avg(e.x), 6) AS v FROM s1 JOIN e ON e.vec_id = s1.vec_id GROUP BY s1.l, e.d),
        |c1 AS (SELECT c0.l, c0.d, coalesce(m1.v, c0.v) AS v FROM c0 LEFT JOIN m1 ON m1.l = c0.l AND m1.d = c0.d),
        |a2 AS (SELECT e.vec_id, c1.l, sum((e.x - c1.v)*(e.x - c1.v)) AS dist FROM e JOIN c1 ON c1.d = e.d GROUP BY e.vec_id, c1.l),
        |s2 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a2) WHERE rn = 1),
        |m2 AS (SELECT s2.l, e.d, round(avg(e.x), 6) AS v FROM s2 JOIN e ON e.vec_id = s2.vec_id GROUP BY s2.l, e.d),
        |c2 AS (SELECT c1.l, c1.d, coalesce(m2.v, c1.v) AS v FROM c1 LEFT JOIN m2 ON m2.l = c1.l AND m2.d = c1.d),
        |a3 AS (SELECT e.vec_id, c2.l, sum((e.x - c2.v)*(e.x - c2.v)) AS dist FROM e JOIN c2 ON c2.d = e.d GROUP BY e.vec_id, c2.l),
        |s3 AS (SELECT vec_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a3) WHERE rn = 1 AND vec_id >= 8),
        |qp AS (SELECT vec_id AS query_id, l FROM (SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id ORDER BY dist, l) AS rn FROM a3 WHERE vec_id < 8) WHERE rn <= 2),
        |cand AS (SELECT qp.query_id, s3.vec_id AS corpus_id FROM qp JOIN s3 ON s3.l = qp.l),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM e GROUP BY vec_id),
        |dp AS (SELECT cd.query_id, cd.corpus_id, sum(ea.x * eb.x) AS dot
        |  FROM cand cd JOIN e ea ON ea.vec_id = cd.query_id
        |  JOIN e eb ON eb.vec_id = cd.corpus_id AND eb.d = ea.d
        |  GROUP BY cd.query_id, cd.corpus_id),
        |cs AS (SELECT d.query_id, d.corpus_id, d.dot / (na.nv * nb.nv) AS c
        |  FROM dp d JOIN nrm na ON na.vec_id = d.query_id
        |  JOIN nrm nb ON nb.vec_id = d.corpus_id),
        |tk AS (SELECT query_id, corpus_id, c,
        |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, corpus_id) AS rn
        |  FROM cs)
        |SELECT query_id, CAST(rn - 1 AS INT) AS rank, round(c, 6) AS cosine, corpus_id
        |FROM tk WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,
    "llm_ann_ivf" -> annIvfOracleSql,
    // PQ-ANN mirror: per-subspace unrolled Lloyd + encode + ADC +
    // exact rerank
    "llm_ann_pq" -> annPqOracleSql,
    // bit-identity contract: the persisted-codebook serve answers the
    // SAME oracle as the in-session path (r16)
    "llm_ann_pq_persisted" -> annPqOracleSql,
    // IVF-PQ mirror: coarse chain ∘ residual-PQ chain ∘ per-list ADC
    "llm_ann_ivfpq" -> annIvfPqOracleSql,
    // bit-identity: the persisted composition serves the SAME oracle
    // as the in-session path (r16)
    "llm_ann_ivfpq_persisted" -> annIvfPqOracleSql,
    // recall-gate mirror: n_queries is the verifiable fact; the
    // recall/exactness assertions execute ENGINE-side (brute-force
    // ground truth vs each ANN path) and ride as booleans — the
    // a5_percentile_approx error-bound-oracle pattern
    "llm_ann_recall" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_queries, " +
        "true AS ivf_full_exact, true AS ivf4_recall_ok, " +
        "true AS ivf2_recall_ok, true AS lsh_recall_ok, " +
        "true AS pq_recall_ok, true AS ivfpq_recall_ok, " +
        "true AS pq_full_exact " +
        "FROM embeddings WHERE vec_id % 20 = 0"),
    // near-dup recall-gate mirror: the planted-pair construction and
    // their EXACT string-shingle Jaccard re-derived from first
    // principles (mutations as positional token rewrites, 3-gram
    // space-joined shingles — every base doc has ≥ 30 tokens so the
    // short-doc collapse arm never fires); the LSH/verify assertions
    // execute engine-side and ride as booleans
    "llm_dedup_recall" ->
      """WITH b AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 5 = 0
        |    AND len(regexp_split_to_array(trim(text), '\s+')) >= 30),
        |tk AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i, len(t) AS n FROM b),
        |mu AS (
        |  SELECT doc_id, 1 AS tier, tok, i FROM tk WHERE i <= (n * 9) // 10
        |  UNION ALL
        |  SELECT doc_id, 2, CASE WHEN (i - 1) % 12 = 11 THEN tok || 'qx' ELSE tok END, i FROM tk
        |  UNION ALL
        |  SELECT doc_id, 3, CASE WHEN (i - 1) % 4 = 3 THEN tok || 'qx' ELSE tok END, i FROM tk),
        |vt AS (SELECT doc_id, tier, list(tok ORDER BY i) AS t FROM mu GROUP BY doc_id, tier),
        |sho AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t) - 1), j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])) AS sh
        |  FROM b),
        |shv AS (SELECT doc_id, tier,
        |    list_distinct(list_transform(range(1, len(t) - 1), j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])) AS sh
        |  FROM vt),
        |jac AS (SELECT o.doc_id, v.tier,
        |    CAST(len(list_intersect(o.sh, v.sh)) AS DOUBLE) /
        |      (len(o.sh) + len(v.sh) - len(list_intersect(o.sh, v.sh))) AS j
        |  FROM sho o JOIN shv v ON v.doc_id = o.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  CAST(sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN j >= 0.45 AND j < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
        |  true AS high_recall_ok, true AS mid_recall_ok,
        |  true AS verify_precision_exact, true AS verify_complete
        |FROM jac""".stripMargin,
    // persisted-index twin: identical answers by construction (same
    // quantizer, same probe; only the storage layout differs)
    "llm_ann_ivf_persisted" -> annIvfOracleSql,
    // append+compact must be indistinguishable from the one-shot build
    "llm_ann_append" -> annIvfOracleSql,
    // int8-ANN mirror: quantization CTE (same expression tree as
    // llm_quantize_int8), integer dot against vec 0's codes, the same
    // est = di·scale·qscale/127² ranking with id tiebreak, LIMIT-40
    // pool, then the llm_sim_topk exact-rerank pattern inside the pool
    "llm_ann_int8" ->
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) AS i,
        |  list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS scale
        |  FROM embeddings),
        |c AS (SELECT vec_id, i, scale, x, CASE WHEN scale = 0 THEN 0 ELSE CAST(round(x / scale * 127) AS INTEGER) END AS qc FROM u),
        |qq AS (SELECT i, qc, scale AS qs FROM c WHERE vec_id = 0),
        |dots AS (SELECT v.vec_id, any_value(v.scale) AS scale, sum(v.qc * q.qc) AS di FROM c v JOIN qq q USING (i) GROUP BY v.vec_id),
        |qsv AS (SELECT any_value(qs) AS qs FROM qq),
        |est AS (SELECT vec_id, CAST(di AS DOUBLE) * scale * qsv.qs / 16129 AS e FROM dots, qsv),
        |pool AS (SELECT vec_id FROM est ORDER BY e DESC, vec_id LIMIT 40),
        |e2 AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings),
        |qe AS (SELECT i, x FROM e2 WHERE vec_id = 0),
        |sc AS (SELECT e2.vec_id, sum(e2.x * qe.x) AS dot, sqrt(sum(e2.x * e2.x)) AS ne FROM e2 JOIN pool USING (vec_id) JOIN qe USING (i) GROUP BY e2.vec_id),
        |nq AS (SELECT sqrt(sum(x * x)) AS nrm FROM qe),
        |top AS (SELECT vec_id, dot / (ne * nq.nrm) AS cz FROM sc, nq ORDER BY cz DESC, vec_id LIMIT 10)
        |SELECT vec_id, round(cz, 6) AS cosine FROM top ORDER BY cosine DESC, vec_id""".stripMargin,
    // containment mirror: same shingle CTE, the two asymmetric ratios
    "llm_containment" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents WHERE doc_id < 20),
        |tok AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM d),
        |sh AS (SELECT DISTINCT a.doc_id AS doc_id, a.w || ' ' || b.w || ' ' || c.w AS s FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1 JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |n AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |inter AS (SELECT x.doc_id AS ida, y.doc_id AS idb, count(*) AS it FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT ida, idb,
        | CAST(it AS DOUBLE) / na.nsh AS containment_a,
        | CAST(it AS DOUBLE) / nb.nsh AS containment_b,
        | CAST(it AS DOUBLE) / (na.nsh + nb.nsh - it) AS jaccard
        |FROM inter JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb
        |WHERE it > 0 ORDER BY ida, idb""".stripMargin,
    "llm_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents WHERE doc_id < 20),
        |tok AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM d),
        |sh AS (SELECT DISTINCT a.doc_id AS doc_id, a.w || ' ' || b.w || ' ' || c.w AS s FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1 JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |n AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |inter AS (SELECT x.doc_id AS ida, y.doc_id AS idb, count(*) AS it FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT ida, idb, CAST(it AS DOUBLE) / (na.nsh + nb.nsh - it) AS jaccard FROM inter JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb WHERE it > 0 ORDER BY ida, idb""".stripMargin,
    "llm_emb_norms" ->
      """SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id ORDER BY vec_id""",
    "llm_sim_topk" ->
      """WITH q AS (SELECT unnest(embedding) AS qx, generate_subscripts(embedding, 1) AS i FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings),
        |d AS (SELECT e.vec_id AS vec_id, sum(CAST(e.x AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS dot, sqrt(sum(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE))) AS ne FROM e JOIN q USING (i) GROUP BY e.vec_id),
        |nq AS (SELECT sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) AS nrm FROM q)
        |SELECT vec_id, round(dot / (ne * nrm), 6) AS cosine FROM d, nq ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "llm_emb_centroids" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS pos, round(avg(CAST(x AS DOUBLE)), 6) AS centroid FROM (SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings) GROUP BY label, pos ORDER BY label, pos""",
    "mm_binary_meta" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS content_hash FROM documents ORDER BY doc_id",
    // image-decode mirror: the synthetic PNG's pixels are
    // (doc_id·31 + x·7 + y·13) mod 256 over a (4 + id%4)×(3 + id%3)
    // canvas; PNG round-trips sample-exact, so the decoded luminance
    // histogram equals the formula's bin counts
    "mm_image_decode" -> {
      val hbs = (0 until 8).map(b =>
        s"CAST(sum(CASE WHEN b = $b THEN 1 ELSE 0 END) AS BIGINT) AS hb$b")
        .mkString(",\n | ")
      s"""WITH d AS (SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, ((d.doc_id*31 + xs.x*7 + ys.y*13) % 256) // 32 AS b
        |  FROM d, generate_series(0, 6) AS xs(x), generate_series(0, 4) AS ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | $hbs
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin
    },
    // image aHash near-dup mirror: grid pixel (gx,gy) of doc id is
    // (seed·31 + 2gx·cx + 2gy·cy + jit) mod 256 with seed = id%100,
    // jit = id//100, cx = 1+2(seed%10), cy = 1+2(seed//10%10) (16×16
    // image, floor grid = even coordinates); bit = 64·p > Σ grid;
    // chunks j = rows 2j,2j+1 (16-bit bands); candidates share a band
    // chunk (bucket ≤ 10000 like the engine), Hamming = Σ per-band
    // bit_count(xor) ≤ 6
    "mm_image_ahash_neardup" ->
      """WITH d AS (SELECT doc_id, doc_id % 100 AS seed, doc_id // 100 AS jit FROM documents),
        |g AS (SELECT doc_id, gy*8 + gx AS idx,
        |        (seed*31 + (2*gx)*(1 + 2*(seed % 10)) + (2*gy)*(1 + 2*(seed // 10 % 10)) + jit) % 256 AS p
        |      FROM d, generate_series(0, 7) AS gxs(gx), generate_series(0, 7) AS gys(gy)),
        |s AS (SELECT doc_id, CAST(sum(p) AS BIGINT) AS s64 FROM g GROUP BY doc_id),
        |bits AS (SELECT g.doc_id, g.idx,
        |           CASE WHEN 64*g.p > s.s64 THEN 1 ELSE 0 END AS bit
        |         FROM g JOIN s USING (doc_id)),
        |chunks AS (SELECT doc_id, idx // 16 AS j,
        |             CAST(sum(bit * CAST(pow(2, idx % 16) AS BIGINT)) AS BIGINT) AS chunk
        |           FROM bits GROUP BY doc_id, j),
        |csz AS (SELECT j, chunk, count(*) AS c FROM chunks GROUP BY j, chunk),
        |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        |  FROM chunks a JOIN chunks b ON a.j = b.j AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        |  JOIN csz z ON z.j = a.j AND z.chunk = a.chunk AND z.c <= 10000),
        |ham AS (SELECT c.ida, c.idb,
        |          CAST(sum(bit_count(xor(ca.chunk, cb.chunk))) AS INTEGER) AS hamming
        |        FROM cand c
        |        JOIN chunks ca ON ca.doc_id = c.ida
        |        JOIN chunks cb ON cb.doc_id = c.idb AND cb.j = ca.j
        |        GROUP BY c.ida, c.idb)
        |SELECT ida, idb, hamming FROM ham WHERE hamming <= 6 ORDER BY ida, idb""".stripMargin,
    // audio decode mirror: sample i of doc id is
    // ((id*31 + i*7) mod 65536) − 32768, binned into 8192-wide bins
    "mm_audio_decode" -> {
      val hbs = (0 until 8).map(b =>
        s"CAST(sum(CASE WHEN b = $b THEN 1 ELSE 0 END) AS BIGINT) AS hb$b")
        .mkString(",\n | ")
      s"""WITH d AS (SELECT doc_id, 50 + doc_id % 50 AS n FROM documents),
        |sm AS (SELECT d.doc_id, d.n, ((d.doc_id*31 + g.i*7) % 65536) // 8192 AS b
        |  FROM d, generate_series(0, 98) AS g(i) WHERE g.i < d.n)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_frames,
        | $hbs
        |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
    },
    // ADPCM mirror: the IMA (predictor, step-index) state machine as a
    // recursive CTE (the k3_lowpass pattern applied to a codec) — step
    // and index-adjust tables inlined as VALUES from the engine's own
    // arrays, nibble i = (doc_id·7 + i·5) mod 16, integer-exact
    // clamps; sample 0 is the block-header predictor
    "mm_audio_adpcm" -> {
      val stepVals = graft.llm.Multimodal.ImaStepTable.zipWithIndex
        .map { case (s, i) => s"($i, $s)" }.mkString(", ")
      val ixVals = graft.llm.Multimodal.ImaIndexTable.zipWithIndex
        .map { case (d, n) => s"($n, $d)" }.mkString(", ")
      val hbs = (0 until 8).map(b =>
        s"CAST(sum(CASE WHEN (pred + 32768) // 8192 = $b THEN 1 ELSE 0 END) AS BIGINT) AS hb$b")
        .mkString(",\n | ")
      s"""WITH RECURSIVE
        |st AS (SELECT i, s FROM (VALUES $stepVals) AS t(i, s)),
        |ix AS (SELECT n, d FROM (VALUES $ixVals) AS t(n, d)),
        |docs0 AS (SELECT doc_id, CAST(40 + doc_id % 17 AS INT) AS nn FROM documents),
        |dec AS (
        |  SELECT doc_id, nn, 0 AS i,
        |    CAST((doc_id * 31) % 65536 - 32768 AS INT) AS pred,
        |    CAST(doc_id % 89 AS INT) AS sidx
        |  FROM docs0
        |  UNION ALL
        |  SELECT dec.doc_id, dec.nn, dec.i + 1,
        |    CAST(greatest(-32768, least(32767,
        |      dec.pred + (CASE WHEN (dec.doc_id*7 + dec.i*5) % 16 >= 8 THEN -1 ELSE 1 END) *
        |        (st.s // 8
        |         + CASE WHEN ((dec.doc_id*7 + dec.i*5) % 16) % 2 = 1 THEN st.s // 4 ELSE 0 END
        |         + CASE WHEN (((dec.doc_id*7 + dec.i*5) % 16) // 2) % 2 = 1 THEN st.s // 2 ELSE 0 END
        |         + CASE WHEN (((dec.doc_id*7 + dec.i*5) % 16) // 4) % 2 = 1 THEN st.s ELSE 0 END))) AS INT),
        |    CAST(greatest(0, least(88, dec.sidx + ix.d)) AS INT)
        |  FROM dec
        |  JOIN st ON st.i = dec.sidx
        |  JOIN ix ON ix.n = (dec.doc_id*7 + dec.i*5) % 16
        |  WHERE dec.i < dec.nn)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(nn + 1 AS BIGINT) AS n_samples,
        | $hbs
        |FROM dec GROUP BY doc_id, nn ORDER BY doc_id""".stripMargin
    },
    // G.711 mirror: encoded byte i = (doc_id·11 + i·3) mod 256; µ-law
    // (even ids): u = 255−byte, t = ((u%16)·8+132)·2^((u//16)%8),
    // sample = 132−t if u≥128 else t−132; A-law (odd ids): a = byte
    // XOR 85, seg 0/1 offsets then shift, sign bit SET = positive —
    // the g711.c arithmetic as plain SQL, stateless per byte
    "mm_audio_g711" -> {
      val hbs = (0 until 8).map(b =>
        s"CAST(sum(CASE WHEN (smp + 32768) // 8192 = $b THEN 1 ELSE 0 END) AS BIGINT) AS hb$b")
        .mkString(",\n | ")
      s"""WITH d AS (SELECT doc_id, CAST(48 + doc_id % 13 AS INT) AS n FROM documents),
        |enc AS (SELECT d.doc_id, d.n, (d.doc_id*11 + g.i*3) % 256 AS b
        |  FROM d, generate_series(0, 60) AS g(i) WHERE g.i < d.n),
        |dec AS (SELECT doc_id, n,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    CASE WHEN (255 - b) >= 128
        |      THEN 132 - (((255 - b) % 16) * 8 + 132) * (1 << (((255 - b) // 16) % 8))
        |      ELSE (((255 - b) % 16) * 8 + 132) * (1 << (((255 - b) // 16) % 8)) - 132 END
        |  ELSE
        |    CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
        |    CASE (xor(b, 85) // 16) % 8
        |      WHEN 0 THEN (xor(b, 85) % 16) * 16 + 8
        |      WHEN 1 THEN (xor(b, 85) % 16) * 16 + 264
        |      ELSE ((xor(b, 85) % 16) * 16 + 264) * (1 << ((xor(b, 85) // 16) % 8 - 1)) END
        |  END AS smp
        |  FROM enc)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(n AS BIGINT) AS n_samples,
        | $hbs
        |FROM dec GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
    },
    // video mirror: luma sample i of frame f is
    // (doc_id*31 + f*13 + i*7) mod 256, 16×8 luma plane, 3 + id%3
    // frames, bins of width 32
    "mm_video_decode" -> {
      val hbs = (0 until 8).map(b =>
        s"CAST(sum(CASE WHEN b = $b THEN 1 ELSE 0 END) AS BIGINT) AS hb$b")
        .mkString(",\n | ")
      s"""WITH d AS (SELECT doc_id, 3 + doc_id % 3 AS nf FROM documents),
        |sm AS (SELECT d.doc_id, d.nf,
        |    ((d.doc_id*31 + f.f*13 + g.i*7) % 256) // 32 AS b
        |  FROM d, generate_series(0, 4) AS f(f), generate_series(0, 127) AS g(i)
        |  WHERE f.f < d.nf)
        |SELECT doc_id, CAST(16 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
        | CAST(nf AS BIGINT) AS n_frames, CAST(25 AS BIGINT) AS fps,
        | $hbs
        |FROM sm GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin
    },
    // MJPEG mirror: frame fr of doc id is UNIFORM gray
    // ((id*31 + fr*13) mod 16)*16 — a JPEG round-trip fixed point, so
    // the REAL codec decode reproduces it exactly and each frame drops
    // its full 16×8 = 128 samples into one bin of width 32
    "mm_video_mjpeg" -> {
      val hbs = (0 until 8).map(b =>
        s"CAST(sum(CASE WHEN b = $b THEN 128 ELSE 0 END) AS BIGINT) AS hb$b")
        .mkString(",\n | ")
      s"""WITH d AS (SELECT doc_id, 3 + doc_id % 3 AS nf FROM documents),
        |fr AS (SELECT d.doc_id, d.nf,
        |    (((d.doc_id*31 + f.f*13) % 16) * 16) // 32 AS b
        |  FROM d, generate_series(0, 4) AS f(f) WHERE f.f < d.nf)
        |SELECT doc_id, CAST(16 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
        | CAST(nf AS BIGINT) AS n_frames, CAST(25 AS BIGINT) AS fps,
        | $hbs
        |FROM fr GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin
    },
    // same quantized integer sums, same single exact division —
    // (n·G_ij − s_i·s_j) and n²·scale² are both < 2^53, so the double
    // quotient is bit-identical across engines
    "llm_pca_covariance" ->
      """WITH e AS (SELECT row_number() OVER () AS rid, embedding
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (SELECT rid, generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM e),
        |s AS (SELECT i, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY i),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |g AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g
        |  FROM q a JOIN q b USING (rid) WHERE b.i >= a.i GROUP BY 1, 2)
        |SELECT g.i, g.j,
        |  CAST(n.n * g.g - sa.s * sb.s AS DOUBLE)
        |    / (CAST(n.n AS DOUBLE) * n.n * 10000 * 10000) AS cov
        |FROM g
        |CROSS JOIN n
        |JOIN s sa ON sa.i = g.i
        |JOIN s sb ON sb.i = g.j
        |ORDER BY g.i, g.j""".stripMargin,
    // list/set-mode HLL is exact at this vocabulary, so the unioned
    // estimate equals the true per-source distinct count
    "llm_sketch_union" ->
      """WITH toks AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT source, count(DISTINCT term) AS n_distinct
        |FROM toks GROUP BY source ORDER BY source""".stripMargin,
    // capacity > vocab → both half-sketches and the merge are exact,
    // so the incremental path reproduces the plain top-10 count
    "llm_sketch_merge" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term)
        |SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 10""".stripMargin,
    "llm_normalize_text" ->
      """WITH v AS (SELECT doc_id,
        |  '  ' || upper(substr(text, 1, 40)) || chr(9) || ' ' || chr(10)
        |    || substr(text, 41) || ' ' AS variant
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(variant)),
        |    '[ \t\n\x0B\f\r]+', ' ', 'g'), ' ') AS norm FROM v)
        |SELECT doc_id, md5(norm) AS norm_hash,
        |  CAST(length(norm) AS BIGINT) AS n_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    "llm_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term)
        |SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 10""".stripMargin,
    "llm_vocab_sketch" ->
      """WITH toks AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT source, count(DISTINCT term) AS n_distinct, true AS hll_ok
        |FROM toks GROUP BY source ORDER BY source""".stripMargin
  )
}
