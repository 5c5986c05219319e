package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query aliases output columns identically in the Spark
  * plan and the DuckDB SQL, totals the ordering, and normalizes types
  * (counts → BIGINT, money → cents BIGINT, float aggregates → round 6).
  * The sketch tier (minhash / simhash / fingerprint) uses md5-derived hashes
  * precisely so DuckDB can replay the full algorithm; the wide 64-column
  * sketch SQL is generated programmatically below from the same permutation
  * constants the Spark operators use.
  */
object SparkEntry {

  /** DuckDB replay of `Dedup.minhashSignatures` + LSH banding + agreement
    * estimate, generated from the same `permParams(64)` constants: CTE chain
    * `toksrc/shm/hm/msig/mpairs` over a caller-provided CTE `msrc(id, text)`.
    * Band membership is tested as exact equality of the 4-row signature
    * slice — the Spark side buckets on xxhash64(slice), identical up to
    * 64-bit hash collisions (negligible); the maxBucket skew cap never binds
    * at oracle scale (needs >1000 near-identical docs in one bucket).
    * Shared by q25 (pairs over raw documents) and q65 (near-dup stage of the
    * composed curation pipeline). */
  private def minhashPairCtes: String = {
    val (as, bs) = graft.operators.Dedup.permParams(64)
    val p = 4294967311L
    val mins = (0 until 64).map(i => s"min((${as(i)}*h + ${bs(i)}) % $p) AS m$i").mkString(", ")
    val agree = (0 until 64).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    val bandEq = (0 until 16).map { b =>
      (0 until 4).map(r => s"a.m${b * 4 + r} = b.m${b * 4 + r}").mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""toksrc AS (
       |  SELECT id, list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM msrc),
       |shm AS (
       |  SELECT id, unnest(list_distinct(CASE WHEN len(toks) >= 3
       |    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
       |    ELSE [] END)) AS s
       |  FROM toksrc),
       |hm AS (SELECT id, CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT) AS h FROM shm),
       |msig AS (SELECT id, $mins FROM hm GROUP BY id),
       |mpairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, ($agree) AS agree
       |  FROM msig a JOIN msig b ON a.id < b.id
       |  WHERE ($bandEq))""".stripMargin
  }

  private def minhashOracleSql: String =
    s"""WITH msrc AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairCtes}
       |SELECT id_a, id_b, agree / 64.0 AS est_jaccard
       |FROM mpairs WHERE agree >= 32 ORDER BY id_a, id_b""".stripMargin

  /** DuckDB replay of the ENTIRE composed curation pipeline (q65): the
    * quality gate (q29 arithmetic, rounded ratios), exact dedup (min doc_id
    * per md5(text), q23), MinHash near-dup removal over the deduped set
    * (q25 machinery via `minhashPairCtes`, agree/64 >= threshold, drop the
    * larger id), language-ID on the survivors (q28 argmax chain), then the
    * per-language stage counts the Spark side reports. */
  private def curationOracleSql: String = {
    val cfg = graft.Queries.CurationCfg
    s"""WITH t AS (SELECT doc_id, lang, text,
       |    list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
       |  FROM documents),
       |q AS (SELECT doc_id, lang, text, w FROM t
       |  WHERE len(w) >= ${cfg.minTokens}
       |    AND round(CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(w), 6) <= ${cfg.maxStopwordRatio}
       |    AND round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) >= ${cfg.minUniqRatio}),
       |e AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
       |qe AS (SELECT q.* FROM q JOIN e USING (doc_id)),
       |msrc AS (SELECT doc_id AS id, text FROM qe),
       |${minhashPairCtes},
       |dup AS (SELECT DISTINCT id_b AS doc_id FROM mpairs
       |  WHERE agree / 64.0 >= ${cfg.nearDupThreshold}),
       |surv AS (SELECT qe.*, list_distinct(w) AS dw FROM qe
       |  WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = qe.doc_id)),
       |sco AS (SELECT doc_id, lang, w,
       |  len(list_intersect(dw, ['the','a','of','and'])) AS s_en,
       |  len(list_intersect(dw, ['der','und','die'])) AS s_de,
       |  len(list_intersect(dw, ['le','et','la'])) AS s_fr,
       |  len(list_intersect(dw, ['el','y','la'])) AS s_es,
       |  len(list_intersect(dw, ['de','shi'])) AS s_zh FROM surv),
       |fin AS (SELECT doc_id, lang, w, CASE
       |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
       |  WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
       |  WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
       |  WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS predicted_lang FROM sco),
       |s_in AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_input FROM documents GROUP BY lang),
       |s_q AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_quality FROM q GROUP BY lang),
       |s_e AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM qe GROUP BY lang),
       |s_f AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_final,
       |    CAST(sum(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_match,
       |    CAST(sum(len(w)) AS BIGINT) AS sum_tokens
       |  FROM fin GROUP BY lang)
       |SELECT s_in.lang, n_input,
       |  COALESCE(n_quality, CAST(0 AS BIGINT)) AS n_quality,
       |  COALESCE(n_exact, CAST(0 AS BIGINT)) AS n_exact,
       |  COALESCE(n_final, CAST(0 AS BIGINT)) AS n_final,
       |  COALESCE(n_pred_match, CAST(0 AS BIGINT)) AS n_pred_match,
       |  COALESCE(sum_tokens, CAST(0 AS BIGINT)) AS sum_tokens
       |FROM s_in LEFT JOIN s_q USING (lang) LEFT JOIN s_e USING (lang)
       |LEFT JOIN s_f USING (lang)
       |ORDER BY lang""".stripMargin
  }

  /** DuckDB replay of the ENTIRE composed pipeline (q88), raw corpus to
    * written training-sequence segments: the q65 quality gates + exact
    * dedup, minhash pairs over the survivors (`minhashPairCtes`), the q74
    * recursive-CTE component closure (keep the min-label canonical doc),
    * q80's chunk arithmetic, q81's prefix-sum packing over uid = doc_id·2^20
    * + chunk_idx, and q85's segment intersection — one CTE stack, so a
    * drift at ANY stage boundary of the Spark composition hash-mismatches. */
  private def pipelineSegmentsOracleSql: String = {
    val cfg = graft.Queries.CurationCfg
    s"""WITH RECURSIVE t AS (SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
       |  FROM documents),
       |q AS (SELECT doc_id, text, w FROM t
       |  WHERE len(w) >= ${cfg.minTokens}
       |    AND round(CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(w), 6) <= ${cfg.maxStopwordRatio}
       |    AND round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) >= ${cfg.minUniqRatio}),
       |e AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
       |qe AS (SELECT q.* FROM q JOIN e USING (doc_id)),
       |msrc AS (SELECT doc_id AS id, text FROM qe),
       |${minhashPairCtes},
       |edges AS (SELECT id_a AS s, id_b AS d FROM mpairs WHERE agree / 64.0 >= ${cfg.nearDupThreshold}
       |  UNION ALL SELECT id_b, id_a FROM mpairs WHERE agree / 64.0 >= ${cfg.nearDupThreshold}),
       |reach AS (
       |  SELECT s AS node, s AS lbl FROM edges
       |  UNION
       |  SELECT g.d AS node, r.lbl FROM reach r JOIN edges g ON g.s = r.node),
       |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
       |kept AS (SELECT qe.doc_id, qe.w FROM qe
       |  WHERE NOT EXISTS (SELECT 1 FROM comp
       |    WHERE comp.node = qe.doc_id AND comp.lbl <> qe.doc_id)),
       |nn AS (SELECT doc_id, len(w) AS n FROM kept WHERE len(w) > 0),
       |ch AS (SELECT doc_id, n,
       |    unnest(generate_series(0,
       |      CAST(greatest(0.0e0, ceil((n - 64) / 48.0e0)) AS BIGINT))) AS chunk_idx
       |  FROM nn),
       |cu AS (SELECT doc_id, chunk_idx,
       |    least(64, n - chunk_idx * 48) AS cnt,
       |    doc_id * 1048576 + chunk_idx AS uid
       |  FROM ch),
       |p AS (SELECT doc_id, chunk_idx, cnt,
       |    coalesce(sum(cnt) OVER (ORDER BY uid
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
       |  FROM cu),
       |ee AS (SELECT doc_id, chunk_idx, cnt, pos,
       |    CAST(floor(pos / 2048) AS BIGINT) AS first_seq,
       |    CAST(floor((pos + cnt - 1) / 2048) - floor(pos / 2048) + 1 AS BIGINT) AS spans
       |  FROM p),
       |x AS (SELECT doc_id, chunk_idx, cnt, pos, first_seq,
       |    unnest(generate_series(0, spans - 1)) AS j FROM ee),
       |y AS (SELECT doc_id, chunk_idx, cnt, pos, first_seq + j AS seq_id FROM x)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(greatest(pos, seq_id * 2048) - seq_id * 2048 AS BIGINT) AS seq_off,
       |  CAST(greatest(pos, seq_id * 2048) - pos AS BIGINT) AS chunk_from,
       |  CAST(least(pos + cnt, (seq_id + 1) * 2048)
       |    - greatest(pos, seq_id * 2048) AS BIGINT) AS n_tok,
       |  CAST(floor(seq_id / 1024) AS BIGINT) AS seq_bucket
       |FROM y ORDER BY doc_id, chunk_idx, seq_id""".stripMargin
  }

  /** Shared CTE chain replaying `Dedup.simhash(..., Md5Words)`: token counts,
    * two 32-bit md5 hash words, 64 weighted bit sums, sign assembly. Bit 63
    * is assembled via (-(2^63-1) - 1) so every literal stays in BIGINT range
    * (a bare -9223372036854775808 parses as HUGEINT in DuckDB). */
  private def simhashSigCtes: String = {
    val sums = (0 until 64).map { b =>
      val w = if (b < 32) "h0" else "h1"
      s"sum(CASE WHEN (($w >> ${b % 32}) & 1) = 1 THEN cnt ELSE -cnt END) AS b$b"
    }.mkString(", ")
    val asm = (0 until 64).map { b =>
      val v = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
      s"(CASE WHEN b$b > 0 THEN $v ELSE 0 END)"
    }.mkString(" + ")
    s"""w AS (SELECT doc_id AS id, unnest(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS w
       |  FROM documents),
       |wc AS (SELECT id, w, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY id, w),
       |hw AS (SELECT id, cnt,
       |  CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) AS h0,
       |  CAST(('0x' || substring(md5(w), 9, 8)) AS BIGINT) AS h1 FROM wc),
       |sums AS (SELECT id, $sums FROM hw GROUP BY id),
       |sig AS (SELECT id, CAST(($asm) AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  /** Brute-force cosine top-k oracle (the q31 pattern) for query set
    * `vec_id % 50 = mod` — also the oracle for the exhaustive-probe LSH/IVF
    * declarations, whose equivalence to brute force the specs prove. */
  private def cosineTopKOracleSql(mod: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id % 50 = $mod),
       |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |s AS (SELECT qid, id,
       |  list_dot_product(qvec, vec) / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) AS cos
       |  FROM q CROSS JOIN c WHERE id <> qid),
       |r AS (SELECT qid, id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM s)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, id, round(cos, 4) AS cos
       |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** DuckDB replay of the PRUNED multi-table LSH pipeline (q59): the 16x4-bit
    * radius-1 signatures from the same seeded xorshift planes
    * (`Similarity.randomPlanes`, emitted as literals), the {0,1,2,4,8} probe
    * masks, the bucketed candidate join, the exact cosine re-rank, and the
    * per-query hit counts against the brute-force top-k. Nothing is taken
    * from the Spark run — the oracle derives recall (measured: 1.0 on all 10
    * queries) from the algorithm itself, the q25-minhash pattern applied to
    * the similarity tier. */
  /** Shared CTE stack replaying the pruned 16x4-bit radius-1 LSH pipeline
    * AND the brute-force truth for query set `% 50 == mod` — the common
    * prefix of the q59 recall oracle and the q98 rank-metrics oracle.
    * `lsh` keeps (qid, id, rank); `bf` is the truth membership set. */
  /** The 16x4-bit signature prefix shared by every pruned-LSH oracle:
    * per-row per-table signatures from the SAME seeded xorshift planes
    * `MultiTableLsh(numPlanes = 4, numTables = 16, dim = 64)` uses —
    * planes(t*4 + i) is bit i of table t's signature. Emits CTEs
    * `e(vec_id, v)`, `sg`, and the long-form `cs(id, t, sig)`. */
  /** `corpusWhere`: optional SQL predicate restricting the embedding
    * corpus the whole replay runs over — the tombstone-rebuild gate
    * (q119) replays the identical pruned pipeline on the RETAINED corpus
    * by injecting the tombstone filter here; empty for q103/q104. */
  private def lshSigCtes(corpusWhere: String = ""): String = {
    val planes = graft.operators.Similarity.randomPlanes(64, 64)
    def arr(p: Array[Double]) = p.mkString("[", ", ", "]")
    val sigCols = (0 until 16).map { t =>
      val bits = (0 until 4).map { i =>
        s"(CASE WHEN list_dot_product(v, ${arr(planes(t * 4 + i))}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }
      s"${bits.mkString(" + ")} AS sig$t"
    }.mkString(",\n")
    val sigList = (0 until 16).map(t => s"sig$t").mkString("[", ", ", "]")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$corpusWhere),
       |sg AS (SELECT vec_id, v, $sigCols FROM e),
       |cs AS (SELECT vec_id AS id, t, $sigList[t + 1] AS sig FROM sg, range(0, 16) r(t))""".stripMargin
  }

  private def lshPipelineCtes(mod: Int): String = {
    s"""${lshSigCtes()},
       |qp AS (SELECT id AS qid, t,
       |  unnest([xor(sig, 0), xor(sig, 1), xor(sig, 2), xor(sig, 4), xor(sig, 8)]) AS sig
       |  FROM cs WHERE id % 50 = $mod),
       |cand AS (SELECT DISTINCT qp.qid, cs.id FROM qp JOIN cs USING (t, sig) WHERE cs.id <> qp.qid),
       |n AS (SELECT vec_id AS id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |sc AS (SELECT c.qid, c.id, list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS cos
       |  FROM cand c JOIN n q ON q.id = c.qid JOIN n x ON x.id = c.id),
       |lsh AS (SELECT qid, id, rank FROM (SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM sc)
       |  WHERE rank <= 5),
       |bs AS (SELECT q.id AS qid, x.id, list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS cos
       |  FROM n q JOIN n x ON x.id <> q.id WHERE q.id % 50 = $mod),
       |bf AS (SELECT qid, id FROM (SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM bs)
       |  WHERE rank <= 5)""".stripMargin
  }

  private def lshRecallOracleSql(mod: Int): String =
    s"""WITH ${lshPipelineCtes(mod)}
       |SELECT b.qid, CAST(count(*) AS BIGINT) AS k, CAST(count(l.id) AS BIGINT) AS hits,
       |round(count(l.id) * 1.0 / count(*), 6) AS recall
       |FROM bf b LEFT JOIN lsh l ON l.qid = b.qid AND l.id = b.id
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin

  /** q98: the same replayed pipeline scored with MRR and NDCG@5 — binary
    * relevance against the brute-force truth, ideal DCG from truth sizes. */
  private def lshRankMetricsOracleSql(mod: Int): String =
    s"""WITH ${lshPipelineCtes(mod)},
       |mk AS (SELECT l.qid, l.rank,
       |    CASE WHEN b.id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM lsh l LEFT JOIN bf b ON b.qid = l.qid AND b.id = l.id),
       |per AS (SELECT qid, max(CASE WHEN rel = 1 THEN 1.0 / rank END) AS mrr_raw,
       |    sum(CASE WHEN rel = 1 THEN 1.0 / log2(rank + 1) ELSE 0.0 END) AS dcg
       |  FROM mk GROUP BY qid),
       |tn AS (SELECT qid, count(*) AS nt FROM bf GROUP BY qid),
       |ideal AS (SELECT qid, sum(1.0 / log2(i + 1)) AS idcg FROM
       |    (SELECT qid, unnest(generate_series(1, least(nt, 5))) AS i FROM tn)
       |  GROUP BY qid)
       |SELECT i.qid, round(coalesce(p.mrr_raw, 0.0), 6) AS mrr,
       |  round(coalesce(p.dcg, 0.0) / i.idcg, 6) AS ndcg
       |FROM ideal i LEFT JOIN per p ON p.qid = i.qid ORDER BY i.qid""".stripMargin

  /** q106: the replayed pruned pipeline scored with GRADED relevance —
    * truth = brute-force top-10 graded id mod 3 (uncorrelated with the
    * score; see the query scaladoc), exponential gain (2^rel − 1), ideal
    * DCG from the highest grades stacked at the top ranks (grade desc,
    * id asc — the operator's tie rule). */
  private def lshGradedMetricsOracleSql(mod: Int): String =
    s"""WITH ${lshPipelineCtes(mod)},
       |bfg AS (SELECT qid, id, CAST(id % 3 AS DOUBLE) AS rel
       |  FROM (SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM bs)
       |  WHERE rank <= 10),
       |mk AS (SELECT l.qid, l.rank, coalesce(g.rel, 0.0) AS rel
       |  FROM lsh l LEFT JOIN bfg g ON g.qid = l.qid AND g.id = l.id),
       |per AS (SELECT qid, max(CASE WHEN rel > 0 THEN 1.0 / rank END) AS mrr_raw,
       |    sum((power(2.0, rel) - 1.0) / log2(rank + 1)) AS dcg
       |  FROM mk GROUP BY qid),
       |ideal AS (SELECT qid, sum((power(2.0, rel) - 1.0) / log2(i + 1)) AS idcg FROM
       |    (SELECT qid, rel, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id ASC) AS i FROM bfg)
       |  WHERE i <= 5 GROUP BY qid)
       |SELECT i.qid, round(coalesce(p.mrr_raw, 0.0), 6) AS mrr,
       |  round(CASE WHEN i.idcg > 0 THEN coalesce(p.dcg, 0.0) / i.idcg
       |    ELSE 0.0 END, 6) AS ndcg
       |FROM ideal i LEFT JOIN per p ON p.qid = i.qid ORDER BY i.qid""".stripMargin

  /** q108: both retrievers replayed — the pruned-LSH stack (shared CTEs)
    * for the dense side, the q78 BM25 arithmetic generalized per-query for
    * the sparse side (probe terms = each probe doc's top-3 words), fused
    * with the fixed-order RRF sum 1/(60+r_dense) + 1/(60+r_sparse). */
  private def hybridRetrievalOracleSql(mod: Int): String =
    s"""WITH ${lshPipelineCtes(mod)},
       |w2 AS (SELECT doc_id AS doc, unnest(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+')) AS word
       |  FROM documents),
       |wf2 AS (SELECT doc, word FROM w2 WHERE word <> ''),
       |probes AS (SELECT doc AS query_id, word AS term,
       |    row_number() OVER (PARTITION BY doc ORDER BY count(*) DESC, word) AS term_rank
       |  FROM wf2 WHERE doc % 50 = $mod GROUP BY doc, word
       |  QUALIFY term_rank <= 3),
       |dl AS (SELECT doc, count(*) AS dl FROM wf2 GROUP BY doc),
       |corpus AS (SELECT count(*) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (SELECT p.query_id, f.doc, p.term, p.term_rank, count(*) AS tf
       |  FROM wf2 f JOIN probes p ON f.word = p.term GROUP BY 1, 2, 3, 4),
       |dfq AS (SELECT query_id, term, count(*) AS df FROM tf GROUP BY 1, 2),
       |s2 AS (SELECT query_id, doc, term_rank,
       |    ((CAST(n_docs AS DOUBLE) - df + 0.5e0) / (df + 0.5e0)) *
       |    ((tf * 2.2e0) / (tf + (1.2e0 * (0.25e0 + (0.75e0 * (CAST(dl AS DOUBLE) / avgdl)))))) AS s
       |  FROM tf JOIN dfq USING (query_id, term) JOIN dl USING (doc) CROSS JOIN corpus),
       |sc2 AS (SELECT query_id, doc, round(
       |    coalesce(max(CASE WHEN term_rank = 1 THEN s END), 0.0e0)
       |    + coalesce(max(CASE WHEN term_rank = 2 THEN s END), 0.0e0)
       |    + coalesce(max(CASE WHEN term_rank = 3 THEN s END), 0.0e0), 6) AS score
       |  FROM s2 WHERE doc <> query_id GROUP BY query_id, doc),
       |sp AS (SELECT qid, id, rank FROM (SELECT query_id AS qid, doc AS id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc) AS rank
       |  FROM sc2) WHERE rank <= 5),
       |fu AS (SELECT coalesce(l.qid, sp.qid) AS qid, coalesce(l.id, sp.id) AS id,
       |    round(coalesce(1.0e0 / (60 + l.rank), 0.0e0)
       |      + coalesce(1.0e0 / (60 + sp.rank), 0.0e0), 6) AS rrf
       |  FROM lsh l FULL OUTER JOIN sp ON sp.qid = l.qid AND sp.id = l.id)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, id, rrf FROM (
       |  SELECT qid, id, rrf,
       |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS rank FROM fu)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** DuckDB replay of the PRUNED-candidate semantic clustering (q103, and —
    * via the incremental==full theorem — the streaming-maintenance q104):
    * the 16x4-bit radius-1 signatures (shared `lshSigCtes` prefix), the
    * symmetric {0,1,2,4,8} probe masks over ALL rows (not one query slice:
    * this replays `cosineNearDupPairs`' pair generator, where every row is
    * both query and corpus), the bucketed candidate join (id_a raw sig,
    * id_b probed sig, id_a < id_b — Hamming ≤ 1 in some table), the exact
    * cosine gate, then the q93 recursive min-label closure widened to full
    * coverage. Nothing is taken from the Spark run. */
  private def prunedClusterOracleSql(threshold: Double,
                                     corpusWhere: String = ""): String =
    s"""WITH RECURSIVE ${lshSigCtes(corpusWhere)},
       |pb AS (SELECT id, t,
       |  unnest([xor(sig, 0), xor(sig, 1), xor(sig, 2), xor(sig, 4), xor(sig, 8)]) AS sig
       |  FROM cs),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM cs a JOIN pb b USING (t, sig) WHERE a.id < b.id),
       |n AS (SELECT vec_id AS id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |p AS (SELECT c.id_a, c.id_b,
       |  list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
       |  FROM cand c JOIN n x ON x.id = c.id_a JOIN n y ON y.id = c.id_b),
       |ed AS (SELECT id_a AS s, id_b AS d FROM p WHERE cos >= $threshold
       |  UNION ALL SELECT id_b, id_a FROM p WHERE cos >= $threshold),
       |reach AS (
       |  SELECT s AS node, s AS lbl FROM ed
       |  UNION
       |  SELECT x.d AS node, r.lbl FROM reach r JOIN ed x ON x.s = r.node),
       |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
       |asg AS (SELECT e.vec_id AS id, coalesce(c.lbl, e.vec_id) AS cluster_id
       |  FROM e LEFT JOIN comp c ON c.node = e.vec_id),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM asg GROUP BY cluster_id)
       |SELECT id AS vec_id, cluster_id, cluster_size,
       |  CAST(id = cluster_id AS INTEGER) AS is_canonical
       |FROM asg JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin

  /** DuckDB replay of the ENTIRE exact-integer IVF pipeline (q60,
    * `Similarity.ivfTopKExact`): int8 quantization (the q63 CTEs), md5-order
    * seed pick, `iters` unrolled Lloyd iterations with integer sum-vector
    * centroids (never divided — cosine is scale-invariant), final list
    * assignment, `nprobe`-list probing (tie order mirrors Spark's
    * array_sort(struct) descending slice), full-precision re-rank, and the
    * per-query hit counts against the brute-force top-k. Nothing is taken
    * from the Spark run — recall derives from the algorithm itself, closing
    * the one weaker oracle VERDICT r5 flagged. The two flag columns are the
    * exception BY DESIGN: the oracle hardcodes 1 while Spark computes them
    * from its measured recall, so an algorithm retune that tanks recall
    * identically on both engines still flips the hash. */
  private def ivfExactRecallOracleSql(mod: Int, nlist: Int, nprobe: Int,
                                      iters: Int, k: Int, dim: Int): String = {
    // assignment of every quantized row to its best list, given centroid
    // table `cents(cid, s)`: argmax of dot/||S||, lowest cid on ties
    def assignCte(name: String, cents: String): String =
      s"""$name AS (SELECT vec_id, qv, cid FROM (
         |  SELECT z.vec_id, z.qv, c.cid,
         |    row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |      list_dot_product(z.qv, c.s) / sqrt(list_dot_product(c.s, c.s)) DESC, c.cid ASC) AS rn
         |  FROM qz z CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    val lloyd = (0 until iters).map { t =>
      s"""${assignCte(s"a$t", s"c$t")},
         |m$t AS (SELECT cid, i, sum(CAST(qv[i] AS BIGINT)) AS sx
         |  FROM a$t, range(1, ${dim + 1}) r(i) GROUP BY cid, i),
         |cs$t AS (SELECT cid, list(CAST(sx AS DOUBLE) ORDER BY i) AS s FROM m$t GROUP BY cid),
         |c${t + 1} AS (SELECT p.cid, COALESCE(n.s, p.s) AS s
         |  FROM c$t p LEFT JOIN cs$t n USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sc0 AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scl FROM e),
       |qz AS (SELECT vec_id, CASE WHEN scl = 0 THEN list_transform(v, x -> 0.0)
       |  ELSE list_transform(v, x -> floor(x / scl)) END AS qv FROM sc0),
       |c0 AS (SELECT CAST(rn - 1 AS INTEGER) AS cid, qv AS s FROM (
       |  SELECT vec_id, qv, row_number() OVER (ORDER BY
       |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT), vec_id) AS rn
       |  FROM qz) WHERE rn <= $nlist),
       |$lloyd,
       |${assignCte("af", s"c$iters")},
       |qq AS (SELECT vec_id AS qid, qv FROM qz WHERE vec_id % 50 = $mod),
       |pr AS (SELECT qid, cid FROM (
       |  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid ORDER BY
       |    list_dot_product(q.qv, c.s) / sqrt(list_dot_product(c.s, c.s)) DESC, c.cid DESC) AS rn
       |  FROM qq q CROSS JOIN c$iters c) WHERE rn <= $nprobe),
       |n AS (SELECT vec_id AS id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cand AS (SELECT p.qid, a.vec_id AS id FROM pr p JOIN af a USING (cid)
       |  WHERE a.vec_id <> p.qid),
       |si AS (SELECT c.qid, c.id, list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS cos
       |  FROM cand c JOIN n q ON q.id = c.qid JOIN n x ON x.id = c.id),
       |ivf AS (SELECT qid, id FROM (SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM si)
       |  WHERE rank <= $k),
       |bs AS (SELECT q.id AS qid, x.id, list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS cos
       |  FROM n q JOIN n x ON x.id <> q.id WHERE q.id % 50 = $mod),
       |bf AS (SELECT qid, id FROM (SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM bs)
       |  WHERE rank <= $k)
       |SELECT b.qid, CAST(count(*) AS BIGINT) AS k, CAST(count(l.id) AS BIGINT) AS hits,
       |round(count(l.id) * 1.0 / count(*), 6) AS recall,
       |CAST(1 AS BIGINT) AS recall_ge_060, CAST(1 AS BIGINT) AS mean_recall_ge_090
       |FROM bf b LEFT JOIN ivf l ON l.qid = b.qid AND l.id = b.id
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin
  }

  /** Batch formulation of the STREAMING curation path at `curateStream`'s
    * default thresholds: stream == batch is exactly the claim under test.
    * Shared by q70 (file-source ingest) and q73 (checkpointed file sink,
    * kill/restart); both use `srcCte` = single-lang texts only — the file
    * source cannot control which lang's copy of a cross-lang duplicate text
    * arrives first, so those texts are excluded on BOTH sides. (q66 instead
    * aggregates survivor-independent quantities over the full corpus.) */
  private def streamCurationParityOracleSql(srcCte: String): String =
    s"""WITH $srcCte,
      |${curationGateCtes("src")},
      |e AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
      |qe AS (SELECT q.* FROM q JOIN e USING (doc_id))
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |CAST(sum(len(w)) AS BIGINT) AS sum_tokens
      |FROM qe GROUP BY lang ORDER BY lang""".stripMargin

  /** Tokenize + quality-gate CTE pair (`t`, `q`) shared by EVERY
    * streaming-curation oracle — curateStream's default thresholds written
    * once, so a threshold change cannot silently desynchronize the q66
    * gate from the q70/q73 one. */
  private def curationGateCtes(src: String): String =
    s"""t AS (SELECT *,
      |    list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
      |  FROM $src),
      |q AS (SELECT * FROM t
      |  WHERE len(w) >= 5
      |    AND round(CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(w), 6) <= 0.9
      |    AND round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) >= 0.1)""".stripMargin

  /** Single-lang-texts source CTE shared by the q70/q73 oracles. */
  private val singleLangSrcCte =
    """src AS (SELECT d.doc_id, d.lang, d.text FROM documents d
      |  JOIN (SELECT text FROM documents GROUP BY text
      |        HAVING count(DISTINCT lang) = 1) ok USING (text))""".stripMargin

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.datajoin(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_wordcount"       -> Queries.wordcount _,
    "q02_grep_topk"       -> Queries.grepTopK _,
    "q03_word_mean"       -> Queries.wordMean _,
    "q04_word_median"     -> Queries.wordMedian _,
    "q05_word_stddev"     -> Queries.wordStddev _,
    "q06_sort_lineitem"   -> Queries.sortLineitem _,
    "q07_secondary_sort"  -> Queries.secondarySort _,
    "q08_join_inner"      -> Queries.joinInner _,
    "q09_join_outer"      -> Queries.joinOuter _,
    "q10_join_override"   -> Queries.joinOverride _,
    "q11_datajoin"        -> Queries.datajoin _,
    "q12_agg_dsl"         -> Queries.aggDsl _,
    "q13_value_histogram" -> Queries.valueHistogram _,
    "q14_fieldsel"        -> Queries.fieldsel _,
    "q15_keyfield_sort"   -> Queries.keyfieldSort _,
    "q16_pageviews"       -> Queries.pageviews _,
    "q17_events_topk"     -> Queries.eventsTopKPerGroup _,
    "q18_events_global_topk" -> Queries.eventsGlobalTopK _,
    "q19_events_hourly"   -> Queries.eventsHourly _,
    "q20_events_json"     -> Queries.eventsJson _,
    "q21_rollup"          -> Queries.rollupAgg _,
    "q22_setops"          -> Queries.setOps _,
    "q23_dedup_exact"     -> Queries.dedupExact _,
    "q24_jaccard_pairs"   -> Queries.jaccardPairs _,
    "q25_minhash_pairs"   -> Queries.minhashPairs _,
    "q26_simhash"         -> Queries.simhashFingerprints _,
    "q27_fingerprint"     -> Queries.textFingerprint _,
    "q28_langid"          -> Queries.langIdConfusion _,
    "q29_text_quality"    -> Queries.textQuality _,
    "q30_lang_token_stats" -> Queries.langTokenStats _,
    "q31_sim_topk"        -> Queries.simTopK _,
    "q32_sim_lsh_topk"    -> Queries.simLshTopK _,
    "q33_pipe_upper"      -> Queries.pipeUpper _,
    "q34_pi"              -> Queries.piEstimate _,
    "q35_multi_output"    -> Queries.multiOutput _,
    "q36_media_features"  -> Queries.mediaFeatures _,
    "q37_sample_filter"   -> Queries.sampleFilter _,
    "q38_asof_join"       -> Queries.asofPurchaseClick _,
    "q39_bpe_tokens"      -> Queries.bpeTokenStats _,
    "q40_simhash_pairs"   -> Queries.simhashPairs _,
    "q41_salted_join"     -> Queries.saltedJoinAgg _,
    "q42_sim_ivf_topk"    -> Queries.simIvfTopK _,
    "q43_window_running"  -> Queries.windowRunning _,
    "q44_cube"            -> Queries.cubeAgg _,
    "q45_streamjob"       -> Queries.streamJobWordFreq _,
    "q46_bbp"             -> Queries.bbpPiHex _,
    "q47_pentomino"       -> Queries.pentominoCount _,
    "q48_embed_neardup"   -> Queries.embeddingNearDupPairs _,
    "q49_image_meta"      -> Queries.imageMeta _,
    "q50_sudoku"          -> Queries.sudokuSolve _,
    "q51_repetition"      -> Queries.repetitionSignals _,
    "q52_boilerplate"     -> Queries.boilerplateRetention _,
    "q53_len_percentiles" -> Queries.lengthPercentiles _,
    "q54_hash_split"      -> Queries.hashSplitCounts _,
    "q55_mixture_sample"  -> Queries.mixtureSample _,
    "q56_range_join"      -> Queries.rangeJoinWindows _,
    "q57_sessionize"      -> Queries.sessionizeEvents _,
    "q58_novel_docs"      -> Queries.novelDocs _,
    "q59_lsh_recall"      -> Queries.simLshRecall _,
    "q60_ivf_recall"      -> Queries.simIvfRecall _,
    "q61_pentomino_onesided" -> Queries.pentominoOneSided _,
    "q62_decontamination" -> Queries.decontaminationReport _,
    "q63_quantized_recall" -> Queries.simQuantizedRecall _,
    "q64_top_rare_terms"  -> Queries.topRareTerms _,
    "q65_curation_report" -> Queries.curationReport _,
    "q66_stream_parity"   -> Queries.streamingCurationParity _,
    "q67_stream_sessions" -> Queries.streamingSessionParity _,
    "q68_stream_windows"  -> Queries.streamingWindowParity _,
    "q69_stream_interval_join" -> Queries.streamingIntervalJoinParity _,
    "q70_stream_file_source" -> Queries.streamingFileSourceParity _,
    "q71_audio_meta"      -> Queries.audioMeta _,
    "q72_stream_file_sessions" -> Queries.streamingFileSessionParity _,
    "q73_stream_file_sink" -> Queries.streamingFileSinkExactlyOnce _,
    "q74_dedup_clusters"  -> Queries.dedupClusters _,
    "q75_kmv_distinct"    -> Queries.kmvDistinctUsers _,
    "q76_cms_word_freq"   -> Queries.cmsWordFreq _,
    "q77_hist_quantile"   -> Queries.histQuantiles _,
    "q78_bm25_topdocs"    -> Queries.bm25TopDocs _,
    "q79_trailing_features" -> Queries.trailingUserFeatures _,
    "q80_doc_chunks"      -> Queries.docChunks _,
    "q81_seq_pack"        -> Queries.seqPack _,
    "q82_lm_familiarity"  -> Queries.lmFamiliarityScores _,
    "q83_temp_mixture"    -> Queries.temperatureMixtureReport _,
    "q84_chunk_dup_rate"  -> Queries.chunkDupRate _,
    "q85_packed_segments" -> Queries.packedSegments _,
    "q86_incremental_pack" -> Queries.incrementalPack _,
    "q87_stream_chunks"   -> Queries.streamingChunkParity _,
    "q88_pipeline_segments" -> Queries.pipelineSegments _,
    "q89_stream_chunk_sink" -> Queries.streamingChunkFileSink _,
    "q90_stream_session_sink" -> Queries.streamingSessionFileSink _,
    "q91_epoch_shuffle"   -> Queries.epochShuffle _,
    "q92_chunk_decontam"  -> Queries.chunkDecontamination _,
    "q93_semantic_clusters" -> Queries.semanticClusters _,
    "q94_incr_semantic_clusters" -> Queries.incrementalSemanticClusters _,
    "q95_cluster_safe_split" -> Queries.clusterSafeSplit _,
    "q96_data_contract"   -> Queries.dataContract _,
    "q97_unicode_nfc"     -> Queries.unicodeNormalize _,
    "q98_rank_metrics"    -> Queries.annRankMetrics _,
    "q99_dedup_diagnostics" -> Queries.dedupDiagnostics _,
    "q100_stream_contract" -> Queries.streamingContract _,
    "q101_length_buckets" -> Queries.lengthBucketReport _,
    "q102_token_budget" -> Queries.tokenBudgetDraw _,
    "q103_pruned_clusters" -> Queries.prunedSemanticClusters _,
    "q104_stream_clusters" -> Queries.streamingClusterMaintenance _,
    "q105_canonical_dedup" -> Queries.canonicalDedupCollapse _,
    "q106_graded_metrics" -> Queries.annRankMetricsGraded _,
    "q107_events_contract" -> Queries.eventsContract _,
    "q108_hybrid_retrieval" -> Queries.hybridRetrieval _,
    "q109_span_dedup" -> Queries.spanDedup _,
    "q110_pmi_collocations" -> Queries.pmiCollocations _,
    "q111_span_dedup_chunks" -> Queries.spanDedupChunks _,
    "q112_asof_forward" -> Queries.asofClickNextPurchase _,
    "q113_incr_span_dedup" -> Queries.incrementalSpanDedup _,
    "q114_hybrid_quant_fusion" -> Queries.hybridQuantFusion _,
    "q115_span_dedup_service" -> Queries.spanDedupService _,
    "q116_stream_span_dedup" -> Queries.streamingSpanDedupService _,
    "q117_boilerplate_grams" -> Queries.boilerplateGrams _,
    "q118_tombstone_span_rebuild" -> Queries.tombstoneSpanRebuild _,
    "q119_tombstone_cluster_rebuild" -> Queries.tombstoneClusterRebuild _,
    "q120_cluster_fold_sequence" -> Queries.clusterServiceFoldSequence _,
    "q121_takedown_resume" -> Queries.takedownResume _,
    "q122_span_takedown_resume" -> Queries.spanTakedownResume _,
    "q123_stream_takedown" -> Queries.streamingTakedownLifecycle _,
    "q124_stream_span_takedown" -> Queries.streamingSpanTakedownLifecycle _
  )

  /** The declared queries a main runs, sorted by name. `None` selects every
    * entry. Otherwise a name is selected when some `o` in `only` equals it,
    * is its prefix up to an underscore (`q11` selects `q11_datajoin`, not
    * `q110`–`q119`), or ends in `_` and is its prefix (`q11_`). */
  def select(only: Option[Set[String]]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(o => n == o || n.startsWith(o + "_") ||
        (o.endsWith("_") && n.startsWith(o))))
    }

  /** First 64 hex digits of π — computed independently of the BBP code via
    * Machin-formula big-int arithmetic; matches the published expansion. */
  private val PiHex64 =
    "243F6A8885A308D313198A2E03707344A4093822299F31D0082EFA98EC4E6C89"

  /** DuckDB oracle SQL per query (same tables, same column names, same order). */
  def oracleSql: Map[String, String] = Map(
    "q01_wordcount" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents)
        |SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w WHERE word <> ''
        |GROUP BY word ORDER BY word""".stripMargin,
    "q02_grep_topk" ->
      """WITH m AS (SELECT unnest(regexp_extract_all(text, 'st[a-z]+')) AS m FROM documents)
        |SELECT m, CAST(count(*) AS BIGINT) AS cnt FROM m
        |GROUP BY m ORDER BY cnt DESC, m ASC LIMIT 20""".stripMargin,
    "q03_word_mean" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents)
        |SELECT round(avg(length(word)), 6) AS mean_len FROM w WHERE word <> ''""".stripMargin,
    "q04_word_median" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents)
        |SELECT round(median(CAST(length(word) AS BIGINT)), 6) AS median_len FROM w WHERE word <> ''""".stripMargin,
    "q05_word_stddev" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents)
        |SELECT round(stddev_pop(length(word)), 6) AS stddev_len FROM w WHERE word <> ''""".stripMargin,
    "q06_sort_lineitem" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q07_secondary_sort" ->
      """SELECT l_orderkey,
        |string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_shipdate, l_linenumber) AS lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q08_join_inner" ->
      """SELECT o_orderkey, c_name, n_name, o_orderstatus
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY o_orderkey""".stripMargin,
    "q09_join_outer" ->
      """WITH oa AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS order_cnt FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_name, order_cnt
        |FROM customer FULL OUTER JOIN oa ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "q10_join_override" ->
      """WITH s1 AS (SELECT c_custkey AS k, c_acctbal AS v FROM customer),
        |s2 AS (SELECT o_custkey AS k, max(o_totalprice) AS v FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |s3 AS (SELECT o_custkey AS k, max(o_totalprice) AS v FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
        |j1 AS (SELECT COALESCE(s1.k, s2.k) AS k, s1.v AS v1, s2.v AS v2 FROM s1 FULL OUTER JOIN s2 ON s1.k = s2.k)
        |SELECT COALESCE(j1.k, s3.k) AS k, COALESCE(s3.v, j1.v2, j1.v1) AS v
        |FROM j1 FULL OUTER JOIN s3 ON j1.k = s3.k ORDER BY k""".stripMargin,
    "q11_datajoin" ->
      """SELECT o_orderkey, l_linenumber, o_orderpriority,
        |l_extendedprice * (1 - l_discount) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    "q12_agg_dsl" ->
      """SELECT o_orderpriority,
        |CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents,
        |CAST(count(DISTINCT o_custkey) AS BIGINT) AS uniq_cust,
        |CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q13_value_histogram" ->
      """WITH c AS (SELECT o_orderpriority AS priority, o_orderstatus, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_values,
        |CAST(min(cnt) AS BIGINT) AS min_cnt, CAST(max(cnt) AS BIGINT) AS max_cnt,
        |round(avg(cnt), 6) AS avg_cnt, round(median(cnt), 6) AS median_cnt,
        |round(stddev_pop(cnt), 6) AS stddev_cnt
        |FROM c GROUP BY priority ORDER BY priority""".stripMargin,
    "q14_fieldsel" ->
      """SELECT (c_mktsegment || chr(9) || CAST(c_custkey AS VARCHAR)) AS key,
        |(CAST(c_nationkey AS VARCHAR) || chr(9) || c_name || chr(9) || c_mktsegment
        | || chr(9) || CAST(c_nationkey AS VARCHAR)) AS value
        |FROM customer ORDER BY key, value""".stripMargin,
    "q15_keyfield_sort" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents),
        |wc AS (SELECT word, count(*) AS cnt FROM w WHERE word <> '' GROUP BY word)
        |SELECT word || ' ' || CAST(cnt AS VARCHAR) AS line FROM wc
        |ORDER BY cnt DESC, word ASC""".stripMargin,
    "q16_pageviews" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS views
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q17_events_topk" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |  row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3
        |ORDER BY event_type, event_id""".stripMargin,
    "q18_events_global_topk" ->
      """SELECT event_id, value FROM events
        |ORDER BY value DESC, event_id ASC LIMIT 50""".stripMargin,
    "q19_events_hourly" ->
      """SELECT strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS h, event_type,
        |CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,
    "q20_events_json" ->
      """SELECT (CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 10) AS k_bucket,
        |CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin,
    "q21_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q22_setops" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier
        |EXCEPT SELECT n_nationkey FROM nation WHERE n_regionkey = 0
        |ORDER BY nk""".stripMargin,
    "q23_dedup_exact" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q24_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS w
        |  FROM documents WHERE doc_id < 100),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS sh FROM d),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |round(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.03
        |ORDER BY id_a, id_b""".stripMargin,
    "q28_langid" ->
      """WITH t AS (SELECT lang, list_distinct(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS w
        |  FROM documents),
        |s AS (SELECT lang,
        |  len(list_intersect(w, ['the','a','of','and'])) AS s_en,
        |  len(list_intersect(w, ['der','und','die'])) AS s_de,
        |  len(list_intersect(w, ['le','et','la'])) AS s_fr,
        |  len(list_intersect(w, ['el','y','la'])) AS s_es,
        |  len(list_intersect(w, ['de','shi'])) AS s_zh FROM t),
        |p AS (SELECT lang, CASE
        |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
        |  WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
        |  WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |  WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS predicted FROM s)
        |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n FROM p
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "q29_text_quality" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS w
        |  FROM documents)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
        |round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS uniq_ratio,
        |round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 6) AS avg_token_len,
        |round(CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(w), 6) AS stopword_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "q30_lang_token_stats" ->
      """WITH w AS (SELECT lang, unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |CAST(count(DISTINCT word) AS BIGINT) AS n_uniq_tokens,
        |round(avg(length(word)), 6) AS avg_token_len
        |FROM w WHERE word <> '' GROUP BY lang ORDER BY lang""".stripMargin,
    "q25_minhash_pairs" -> minhashOracleSql,
    "q26_simhash" ->
      s"""WITH $simhashSigCtes
         |SELECT id, simhash FROM sig ORDER BY id""".stripMargin,
    "q27_fingerprint" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(('0x' || list_reduce(list_prepend('0', toks),
        |  (a, w) -> substring(md5(a || chr(1) || w), 1, 15))) AS BIGINT) AS fp
        |FROM t ORDER BY doc_id""".stripMargin,
    "q31_sim_topk" -> cosineTopKOracleSql(0),
    "q32_sim_lsh_topk" -> cosineTopKOracleSql(25),
    "q34_pi" ->
      // Halton(2,3) over 16x50000 points is a fixed constant; n_inside was
      // computed independently (pure-Python replay of the radical inverse).
      """SELECT CAST(628317 AS BIGINT) AS n_inside, CAST(800000 AS BIGINT) AS n_total,
        |round(628317 * 4.0 / 800000, 6) AS pi_est""".stripMargin,
    "q40_simhash_pairs" ->
      s"""WITH $simhashSigCtes
         |SELECT a.id AS id_a, b.id AS id_b,
         |CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.id < b.id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "q42_sim_ivf_topk" -> cosineTopKOracleSql(10),
    "q33_pipe_upper" ->
      // translate() (ASCII-only) mirrors `tr a-z A-Z` exactly; upper() would be
      // Unicode-aware and silently diverge on a non-ASCII corpus.
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents),
        |u AS (SELECT translate(word, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS word
        |  FROM w WHERE word <> '')
        |SELECT substr(word, 1, 1) AS initial,
        |CAST(count(DISTINCT word) AS BIGINT) AS n_tokens
        |FROM u GROUP BY 1 ORDER BY initial""".stripMargin,
    "q35_multi_output" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q36_media_features" ->
      """SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    "q37_sample_filter" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 16 = 0
        |ORDER BY doc_id""".stripMargin,
    "q38_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id,
        |(SELECT c.event_id FROM c
        |  WHERE c.user_id = p.user_id AND c.ts <= p.ts
        |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
        |FROM p ORDER BY p.event_id""".stripMargin,
    // q112: the forward mirror of q38 — first at-or-after, ties by the
    // SMALLEST right id.
    "q112_asof_forward" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id,
        |(SELECT p.event_id FROM p
        |  WHERE p.user_id = c.user_id AND p.ts >= c.ts
        |  ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS purchase_id
        |FROM c ORDER BY c.event_id""".stripMargin,
    "q39_bpe_tokens" ->
      """WITH t AS (SELECT lang, unnest(regexp_extract_all(text,
        |  '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS tok FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |CAST(count(DISTINCT tok) AS BIGINT) AS n_uniq
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q41_salted_join" ->
      """SELECT o_orderpriority,
        |CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q43_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
        |lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q44_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q45_streamjob" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents),
        |u AS (SELECT translate(word, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS word
        |  FROM w WHERE word <> '')
        |SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM u
        |GROUP BY word ORDER BY word""".stripMargin,
    "q46_bbp" ->
      s"""SELECT CAST(i AS BIGINT) AS pos, substring('$PiHex64', CAST(i AS INT), 1) AS digit
         |FROM range(1, 65) t(i) ORDER BY pos""".stripMargin,
    "q47_pentomino" ->
      """SELECT CAST(9356 AS BIGINT) AS n_solutions, 10 AS width, 6 AS height""".stripMargin,
    "q61_pentomino_onesided" ->
      // 184 independently re-derived by a from-scratch Algorithm-X exact
      // cover over the 18 one-sided pieces (chiral twins distinct)
      """SELECT CAST(184 AS BIGINT) AS n_solutions, 3 AS width, 30 AS height""".stripMargin,
    "q48_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos, 4) AS cos FROM p
        |WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin,
    "q49_image_meta" ->
      // closed-form expectation for the synthesized image set: the Spark side
      // must round-trip PNG encode -> header parse -> full decode to match
      """SELECT doc_id AS media_id, 'png' AS format,
        |CAST(160 + doc_id % 16 AS INT) AS width,
        |CAST(120 + doc_id % 8 AS INT) AS height,
        |CAST((160 + doc_id % 16) * (120 + doc_id % 8) AS BIGINT) AS n_pixels
        |FROM documents ORDER BY media_id""".stripMargin,
    "q51_repetition" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, n, unnest(CASE WHEN len(w) >= n
        |    THEN [array_to_string(w[i:i+n-1], ' ') for i in range(1, len(w) - n + 2)]
        |    ELSE [] END) AS g
        |  FROM t, (SELECT unnest([1, 2, 3]) AS n) ns),
        |c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(n AS INTEGER) AS n, CAST(sum(c) AS BIGINT) AS n_grams,
        |round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_frac,
        |round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_frac
        |FROM c GROUP BY doc_id, n ORDER BY doc_id, n""".stripMargin,
    "q52_boilerplate" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |    THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]
        |    ELSE [] END) AS u
        |  FROM t),
        |f AS (SELECT u, count(DISTINCT doc_id) AS df FROM g GROUP BY u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_units,
        |CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |round(CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS kept_frac
        |FROM g JOIN f USING (u) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q53_len_percentiles" ->
      """SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |round(quantile_cont(n_chars, 0.9), 6) AS p90,
        |round(quantile_cont(n_chars, 0.99), 6) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q54_hash_split" ->
      """WITH s AS (SELECT lang,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS u
        |  FROM documents),
        |a AS (SELECT lang, CASE WHEN u >= 0.9 THEN 'test'
        |  WHEN u >= 0.8 THEN 'val' ELSE 'train' END AS split FROM s)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n
        |FROM a GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "q55_mixture_sample" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |  < (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 1.0 ELSE 0.25 END) * 4294967296.0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q56_range_join" ->
      """WITH w AS (SELECT o_custkey AS custkey, min(o_orderdate) AS lo,
        |    min(o_orderdate) + INTERVAL 29 DAY AS hi
        |  FROM orders GROUP BY 1)
        |SELECT custkey, CAST(count(*) AS BIGINT) AS n_in_window
        |FROM w JOIN orders o ON o.o_orderdate BETWEEN w.lo AND w.hi
        |GROUP BY custkey ORDER BY custkey""".stripMargin,
    "q57_sessionize" ->
      // date_diff('second',…) mirrors Spark's floor-to-second timestamp cast:
      // both count whole-second boundaries, so a 1800.9 s gap is 1800 on each
      // side and stays in-session.
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM x
        |)
        |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
        |  strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  round(sum(value), 6) AS sum_value
        |FROM y GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q58_novel_docs" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_novel,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents b
        |WHERE b.doc_id % 10 >= 7 AND NOT EXISTS (
        |  SELECT 1 FROM documents r
        |  WHERE r.doc_id % 10 < 7 AND md5(r.text) = md5(b.text))
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q59_lsh_recall" -> lshRecallOracleSql(7),
    "q98_rank_metrics" -> lshRankMetricsOracleSql(11),
    "q103_pruned_clusters" -> prunedClusterOracleSql(0.35),
    // q104: the streaming incremental maintenance must land on EXACTLY the
    // batch pruned build over the whole corpus — same oracle as q103 (the
    // incremental==full theorem, applied per micro-batch).
    "q104_stream_clusters" -> prunedClusterOracleSql(0.35),
    "q106_graded_metrics" -> lshGradedMetricsOracleSql(17),
    "q108_hybrid_retrieval" -> hybridRetrievalOracleSql(29),
    // q111: the q109 span CTEs composed with the q80 chunk arithmetic over
    // the CLEANED per-doc token lists (list(tok ORDER BY position)).
    "q111_span_dedup_chunks" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 8)) AS start
        |  FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS gram FROM idx),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |d AS (SELECT doc_id, start FROM g JOIN c USING (gram)),
        |m AS (SELECT doc_id, start, CASE WHEN lag(start) OVER w IS NULL
        |    OR start > lag(start) OVER w + 7 THEN 1 ELSE 0 END AS ng
        |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
        |mg AS (SELECT doc_id, start,
        |    sum(ng) OVER (PARTITION BY doc_id ORDER BY start) AS grp FROM m),
        |sp AS (SELECT doc_id, grp, min(start) AS s, max(start) + 8 AS e
        |  FROM mg GROUP BY doc_id, grp),
        |posn AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t),
        |keep AS (SELECT p.doc_id, p.i, p.toks[p.i] AS tok FROM posn p
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = p.doc_id AND p.i - 1 >= sp.s AND p.i - 1 < sp.e)),
        |ck AS (SELECT doc_id, list(tok ORDER BY i) AS ctoks FROM keep GROUP BY doc_id),
        |n2 AS (SELECT doc_id, ctoks, len(ctoks) AS n FROM ck WHERE len(ctoks) > 0),
        |ch AS (SELECT doc_id, ctoks, n,
        |    unnest(generate_series(0,
        |      CAST(greatest(0.0e0, ceil((n - 64) / 48.0e0)) AS BIGINT))) AS chunk_idx
        |  FROM n2)
        |SELECT doc_id, chunk_idx,
        |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS token_cnt,
        |  md5(array_to_string(
        |    ctoks[CAST(chunk_idx * 48 + 1 AS BIGINT):CAST(chunk_idx * 48 + 64 AS BIGINT)],
        |    ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    // q110: raw-ratio PMI replayed with the identical fixed-order division
    // chain; bigrams per doc (never across doc boundaries), unigrams over
    // the same token stream, min-count 5, top-20 (ties by pair).
    "q110_pmi_collocations" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents),
        |bi AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |    FROM t WHERE len(toks) >= 2)),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY w1, w2),
        |uni AS (SELECT w1 AS word, CAST(count(*) AS BIGINT) AS c FROM
        |  (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
        |n1 AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM uni),
        |np AS (SELECT CAST(sum(c12) AS DOUBLE) AS n_bi FROM bc),
        |sc AS (SELECT b.w1, b.w2, b.c12, round(
        |    (((CAST(b.c12 AS DOUBLE) * n_uni) / u1.c) * (n_uni / u2.c)) / n_bi, 6) AS pmi_raw
        |  FROM bc b JOIN uni u1 ON u1.word = b.w1 JOIN uni u2 ON u2.word = b.w2
        |  CROSS JOIN n1 CROSS JOIN np WHERE b.c12 >= 5)
        |SELECT CAST(row_number() OVER (ORDER BY pmi_raw DESC, w1, w2) AS BIGINT) AS rank,
        |  w1, w2, c12, pmi_raw
        |FROM sc QUALIFY rank <= 20 ORDER BY rank""".stripMargin,
    // q109: the full span arithmetic replayed — window enumeration, corpus
    // gram counts, interval merge (fixed-length intervals: new span iff
    // start > prev + n-1), covered positions, cleaned-token string_agg.
    "q109_span_dedup" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 8)) AS start
        |  FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS gram FROM idx),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |d AS (SELECT doc_id, start FROM g JOIN c USING (gram)),
        |m AS (SELECT doc_id, start, CASE WHEN lag(start) OVER w IS NULL
        |    OR start > lag(start) OVER w + 7 THEN 1 ELSE 0 END AS ng
        |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
        |mg AS (SELECT doc_id, start,
        |    sum(ng) OVER (PARTITION BY doc_id ORDER BY start) AS grp FROM m),
        |sp AS (SELECT doc_id, grp, min(start) AS s, max(start) + 8 AS e,
        |    count(*) AS n_starts FROM mg GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_covered,
        |    CAST(sum(n_starts) AS BIGINT) AS n_dup_starts
        |  FROM sp GROUP BY doc_id),
        |posn AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t),
        |keep AS (SELECT p.doc_id, p.i, p.toks[p.i] AS tok FROM posn p
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = p.doc_id AND p.i - 1 >= sp.s AND p.i - 1 < sp.e)),
        |ct AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean
        |  FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(a.n_dup_starts, 0) AS n_dup_starts,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.n_covered, 0) AS n_covered,
        |  md5(coalesce(ct.clean, '')) AS clean_md5
        |FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN ct USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // q105: the canonical-dedup key replayed as md5(lower(nfc_normalize)) —
    // equal to the engine's md5(lower(NFKC)) because the injected variants
    // and the corpus are NFC-foldable with no compatibility characters.
    // keeper = min doc_id per canonical digest, lang taken from the keeper
    // row (deterministic: doc ids are unique).
    "q105_canonical_dedup" ->
      """WITH v AS (SELECT doc_id * 4 + x.v AS doc_id, lang,
        |  text || CASE x.v WHEN 0 THEN ' cafe' || chr(769)
        |    WHEN 1 THEN ' caf' || chr(233)
        |    ELSE ' CAF' || chr(201) END AS text
        |  FROM documents, (VALUES (0), (1), (2)) x(v)),
        |k AS (SELECT doc_id, lang, text,
        |  md5(lower(nfc_normalize(text))) AS canon FROM v),
        |s AS (SELECT canon, min(doc_id) AS keeper FROM k GROUP BY canon),
        |sv AS (SELECT k.lang, CAST(count(*) AS BIGINT) AS n_survivors,
        |    CAST(sum(k.doc_id) AS BIGINT) AS survivor_id_sum
        |  FROM k JOIN s ON k.doc_id = s.keeper GROUP BY k.lang),
        |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_variants,
        |    CAST(count(DISTINCT text) AS BIGINT) AS n_raw_texts,
        |    CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical_digests
        |  FROM k GROUP BY lang)
        |SELECT st.lang, n_variants, n_raw_texts, n_canonical_digests,
        |  coalesce(n_survivors, 0) AS n_survivors,
        |  coalesce(survivor_id_sum, 0) AS survivor_id_sum
        |FROM st LEFT JOIN sv ON sv.lang = st.lang ORDER BY st.lang""".stripMargin,
    // q107: the q96 pattern over events — row-local tier in one SELECT,
    // uniqueness as grouped surplus, FK as NOT EXISTS; three checks fail
    // with data-dependent counts (accepted set omits 'error', value > 100
    // tail, ts >= Jan 25 tail).
    "q107_events_contract" ->
      """WITH s AS (SELECT
        |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |  CAST(sum(CASE WHEN user_id IS NOT NULL
        |    AND (user_id < 0 OR user_id > 2000) THEN 1 ELSE 0 END) AS BIGINT) AS bu,
        |  CAST(sum(CASE WHEN value IS NOT NULL
        |    AND (value < 0 OR value > 100) THEN 1 ELSE 0 END) AS BIGINT) AS bv,
        |  CAST(sum(CASE WHEN event_type IS NOT NULL
        |    AND event_type NOT IN ('click','view','purchase','signup')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS av,
        |  CAST(sum(CASE WHEN coalesce(ts < TIMESTAMP '2024-01-25 00:00:00', FALSE)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS st,
        |  CAST(greatest(0, 100 - count(*)) AS BIGINT) AS rc
        |  FROM events),
        |u AS (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS v FROM
        |  (SELECT count(*) AS n FROM events GROUP BY event_id)),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS v FROM events e
        |  WHERE e.user_id IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)),
        |r AS (
        |  SELECT 'not_null' AS check_name, 'ts' AS target, nn AS violations FROM s
        |  UNION ALL SELECT 'bounds', 'user_id in [0.0,2000.0]', bu FROM s
        |  UNION ALL SELECT 'bounds', 'value in [0.0,100.0]', bv FROM s
        |  UNION ALL SELECT 'accepted_values', 'event_type', av FROM s
        |  UNION ALL SELECT 'satisfies', 'ts_before_jan25', st FROM s
        |  UNION ALL SELECT 'row_count_min', '>=100', rc FROM s
        |  UNION ALL SELECT 'unique', 'event_id', (SELECT v FROM u)
        |  UNION ALL SELECT 'foreign_key', 'user_id->customer.c_custkey', (SELECT v FROM fk))
        |SELECT check_name, target, violations,
        |  CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM r ORDER BY check_name, target""".stripMargin,
    "q63_quantized_recall" ->
      // full replay: int8 quantization (floor(x / (max|x|/127)) — exact
      // integer dots, engine-independent; see Similarity.quantizeInt8),
      // quantized AND full-precision top-5, per-query hit counts
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM e),
        |qz AS (SELECT vec_id, CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
        |  ELSE list_transform(v, x -> floor(x / sc)) END AS qv FROM s),
        |nq AS (SELECT vec_id AS id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM qz),
        |sq AS (SELECT q.id AS qid, x.id, list_dot_product(q.qv, x.qv) / (q.nrm * x.nrm) AS cos
        |  FROM nq q JOIN nq x ON x.id <> q.id WHERE q.id % 50 = 41),
        |qt AS (SELECT qid, id FROM (SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM sq)
        |  WHERE rank <= 5),
        |nf AS (SELECT vec_id AS id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |sf AS (SELECT q.id AS qid, x.id, list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS cos
        |  FROM nf q JOIN nf x ON x.id <> q.id WHERE q.id % 50 = 41),
        |ft AS (SELECT qid, id FROM (SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM sf)
        |  WHERE rank <= 5)
        |SELECT f.qid, CAST(count(*) AS BIGINT) AS k, CAST(count(l.id) AS BIGINT) AS hits,
        |round(count(l.id) * 1.0 / count(*), 6) AS recall
        |FROM ft f LEFT JOIN qt l ON l.qid = f.qid AND l.id = f.id
        |GROUP BY f.qid ORDER BY f.qid""".stripMargin,
    "q60_ivf_recall" ->
      ivfExactRecallOracleSql(mod = 33, nlist = 16, nprobe = 12, iters = 2,
        k = 5, dim = 64),
    "q62_decontamination" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 2
        |    THEN [w[i] || ' ' || w[i + 1] for i in range(1, len(w))]
        |    ELSE [] END)) AS sh FROM t),
        |b AS (SELECT DISTINCT sh FROM g WHERE doc_id % 10 < 3),
        |c AS (SELECT doc_id, sh FROM g WHERE doc_id % 10 >= 3),
        |j AS (SELECT c.doc_id, count(*) AS n_shingles,
        |  sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
        |  FROM c LEFT JOIN b ON c.sh = b.sh GROUP BY c.doc_id)
        |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        |CAST(n_overlap AS BIGINT) AS n_overlap,
        |round(CAST(n_overlap AS DOUBLE) / n_shingles, 6) AS overlap_frac,
        |CAST(CASE WHEN CAST(n_overlap AS DOUBLE) / n_shingles >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM j ORDER BY doc_id""".stripMargin,
    "q64_top_rare_terms" ->
      // score arithmetic written EXACTLY as the Spark side computes it
      // (tf * (N / df), two IEEE ops) so the rank cut replays bit-identically
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT doc_id, term, tf,
        |  CAST(tf AS DOUBLE) * (n.n / CAST(df AS DOUBLE)) AS score
        |  FROM tf JOIN dfq USING (term), n),
        |r AS (SELECT doc_id, term, tf, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM s)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, round(score, 6) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q65_curation_report" -> curationOracleSql,
    "q67_stream_sessions" ->
      // batch formulation of the gap sessionizer over the replayed slice;
      // second-truncated timestamps make the stream's millisecond gap
      // predicate and this whole-second one identical (see q57's note on
      // date_diff('second') floor semantics)
      """WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts, value
        |  FROM events WHERE user_id % 10 = 0),
        |x AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts, value,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id,
        |strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
        |CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q72_stream_file_sessions" ->
      // the q67 batch formulation over the user_id % 10 = 3 slice — q72
      // re-proves the sessionizer claim on the file-source ingest path
      """WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts, value
        |  FROM events WHERE user_id % 10 = 3),
        |x AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts, value,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id,
        |strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
        |CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q68_stream_windows" ->
      // the q19 shape restricted to the replayed slice: tumbling 1-hour
      // windows == date_trunc('hour') groups
      """SELECT strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS h,
        |event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |FROM events WHERE user_id % 10 = 1
        |GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,
    "q69_stream_interval_join" ->
      // batch BETWEEN formulation of the stream-stream interval join over
      // the same second-truncated slice
      """WITH p AS (SELECT event_id AS purchase_id, user_id, date_trunc('second', ts) AS ts
        |  FROM events WHERE event_type = 'purchase' AND user_id % 10 = 2),
        |c AS (SELECT event_id AS click_id, user_id, date_trunc('second', ts) AS click_ts
        |  FROM events WHERE event_type = 'click' AND user_id % 10 = 2)
        |SELECT p.user_id, purchase_id, click_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY p.user_id, purchase_id, click_id""".stripMargin,
    "q66_stream_parity" ->
      // survivor-INDEPENDENT global aggregate of the streamed curation: one
      // survivor per digest group regardless of which copy arrives first,
      // and n_tokens is a function of the text itself — deterministic over
      // the FULL corpus (no exclusions) under uncontrolled file arrival
      s"""WITH ${curationGateCtes("documents")},
        |g AS (SELECT md5(text) AS dg, max(len(w)) AS n_tokens FROM q GROUP BY md5(text))
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |CAST(min(n_tokens) AS BIGINT) AS min_tokens,
        |CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |FROM g""".stripMargin,
    // q70 re-proves the SAME batch claim on the production file-source
    // ingest path (readStream parquet + maxFilesPerTrigger, no collect);
    // cross-lang duplicate texts are excluded on both sides (arrival order
    // of their copies is uncontrolled on the file source)
    "q70_stream_file_source" -> streamCurationParityOracleSql(singleLangSrcCte),
    // q73: the same batch claim through the checkpointed parquet file SINK
    // with a mid-stream kill + restart — a lost, duplicated, or resurrected
    // row diverges from this oracle
    "q73_stream_file_sink" -> streamCurationParityOracleSql(singleLangSrcCte),
    // q74: q25's replayable minhash edges closed into components by a
    // recursive-CTE min-label closure — transitive closure is fine for the
    // oracle (component-squared rows at oracle SF), while the Spark side
    // must get there in O(log diameter) distributed rounds
    "q74_dedup_clusters" ->
      s"""WITH RECURSIVE msrc AS (SELECT doc_id AS id, text FROM documents),
         |${minhashPairCtes},
         |edges AS (SELECT id_a AS s, id_b AS d FROM mpairs WHERE agree >= 32
         |  UNION ALL SELECT id_b, id_a FROM mpairs WHERE agree >= 32),
         |reach AS (
         |  SELECT s AS node, s AS lbl FROM edges
         |  UNION
         |  SELECT e.d AS node, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
         |comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY cluster_id)
         |SELECT doc_id, cluster_id, cluster_size FROM comp JOIN sz USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // q75: full KMV replay — same 60-bit md5 hashes, same k smallest per
    // group (row_number), same single-division estimate. The k-th smallest
    // exists iff the group's distinct-hash count reaches k, mirroring the
    // sketch's exact-when-unfilled branch.
    "q75_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |r AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
        |s AS (SELECT event_type, count(*) AS n_hashes,
        |    max(CASE WHEN rn = 8 THEN h END) AS h8,
        |    max(CASE WHEN rn = 64 THEN h END) AS h64
        |  FROM r GROUP BY event_type),
        |x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT s.event_type,
        |  CASE WHEN n_hashes < 8 THEN round(CAST(n_hashes AS DOUBLE), 6)
        |       ELSE round(7.0 * power(2.0, 60.0) / h8, 6) END AS est_k8,
        |  CASE WHEN n_hashes < 64 THEN round(CAST(n_hashes AS DOUBLE), 6)
        |       ELSE round(63.0 * power(2.0, 60.0) / h64, 6) END AS est_k64,
        |  exact_distinct
        |FROM s JOIN x USING (event_type) ORDER BY event_type""".stripMargin,
    // q76: full Count-Min replay — same per-row (depth, md5-bucket) cells,
    // same summed grid, same min-over-depth probes; all-integer arithmetic
    "q76_cms_word_freq" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word FROM documents),
        |wf AS (SELECT word FROM w WHERE word <> ''),
        |ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
        |sk AS (SELECT d,
        |    CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || ':' || word), 1, 15)) AS BIGINT) % 16 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM wf CROSS JOIN ds GROUP BY 1, 2),
        |truth AS (SELECT word, CAST(count(*) AS BIGINT) AS true_cnt FROM wf GROUP BY word),
        |probe AS (SELECT word, d,
        |    CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || ':' || word), 1, 15)) AS BIGINT) % 16 AS bucket
        |  FROM truth CROSS JOIN ds),
        |est AS (SELECT word, min(coalesce(sk.cnt, 0)) AS cm_est
        |  FROM probe LEFT JOIN sk USING (d, bucket) GROUP BY word)
        |SELECT t.word, t.true_cnt, e.cm_est, e.cm_est - t.true_cnt AS overcount
        |FROM truth t JOIN est e USING (word) ORDER BY word""".stripMargin,
    // q77: histogram-quantile sketch replay — same floor bins, same windowed
    // cumulative counts, same ceil rank targets, same bin-edge division.
    // Float constants use e0 notation (DuckDB decimal literals are DECIMAL,
    // not DOUBLE) so every op is the identical IEEE op Spark runs.
    "q77_hist_quantile" ->
      """WITH b AS (SELECT event_type, CAST(floor(value * 10) AS BIGINT) AS bin,
        |    count(*) AS bin_cnt FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, bin, bin_cnt,
        |    sum(bin_cnt) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(bin_cnt) OVER (PARTITION BY event_type) AS total
        |  FROM b)
        |SELECT event_type, CAST(max(total) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum >= ceil(0.5e0 * total) THEN bin END) + 1 AS DOUBLE) / 10.0e0 AS q_p50,
        |  CAST(min(CASE WHEN cum >= ceil(0.9e0 * total) THEN bin END) + 1 AS DOUBLE) / 10.0e0 AS q_p90,
        |  CAST(min(CASE WHEN cum >= ceil(0.99e0 * total) THEN bin END) + 1 AS DOUBLE) / 10.0e0 AS q_p99
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q78: BM25 raw-idf replay — probe terms derived in-query (top-3 words,
    // SF-independent), every float op in the same explicit order as the
    // Spark expression, per-term scores summed in term-rank order
    "q78_bm25_topdocs" ->
      """WITH w AS (SELECT doc_id AS doc, unnest(string_split_regex(text, '[ \t\n\x0B\f\r]+')) AS word
        |  FROM documents),
        |wf AS (SELECT doc, word FROM w WHERE word <> ''),
        |wc AS (SELECT word, count(*) AS c FROM wf GROUP BY word),
        |terms AS (SELECT word AS term,
        |    row_number() OVER (ORDER BY c DESC, word) AS term_rank FROM wc
        |  QUALIFY term_rank <= 3),
        |dl AS (SELECT doc, count(*) AS dl FROM wf GROUP BY doc),
        |corpus AS (SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc, term, term_rank, count(*) AS tf
        |  FROM wf JOIN terms ON wf.word = terms.term GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (SELECT doc, term_rank,
        |    ((CAST(n_docs AS DOUBLE) - df + 0.5e0) / (df + 0.5e0)) *
        |    ((tf * 2.2e0) / (tf + (1.2e0 * (0.25e0 + (0.75e0 * (CAST(dl AS DOUBLE) / avgdl)))))) AS s
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc) CROSS JOIN corpus),
        |sc AS (SELECT doc, round(
        |    coalesce(max(CASE WHEN term_rank = 1 THEN s END), 0.0e0)
        |    + coalesce(max(CASE WHEN term_rank = 2 THEN s END), 0.0e0)
        |    + coalesce(max(CASE WHEN term_rank = 3 THEN s END), 0.0e0), 6) AS score
        |  FROM s GROUP BY doc)
        |SELECT doc AS doc_id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc) AS BIGINT) AS rank
        |FROM sc QUALIFY rank <= 10 ORDER BY rank""".stripMargin,
    // q79: trailing-hour point-in-time features — frames anchored on epoch
    // MICROS (both engines truncate the table's nano timestamps to micros
    // identically), sums in exact integer cents
    "q79_trailing_features" ->
      """SELECT event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS trail_cnt,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS trail_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // q80: sliding-token-window chunking replay — same whitespace token
    // stream, same ceil((n-size)/stride) last-start rule, same 1-based
    // slice bounds, same md5 over the space-joined chunk
    "q80_doc_chunks" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0,
        |      CAST(greatest(0.0e0, ceil((n - 64) / 48.0e0)) AS BIGINT))) AS chunk_idx
        |  FROM n)
        |SELECT doc_id, chunk_idx,
        |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS token_cnt,
        |  md5(array_to_string(
        |    toks[CAST(chunk_idx * 48 + 1 AS BIGINT):CAST(chunk_idx * 48 + 64 AS BIGINT)],
        |    ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // q81: concat-and-chop sequence packing replay — the oracle computes the
    // SAME global exclusive prefix sum with a plain window (single-node
    // DuckDB), the engine computes it hierarchically; positions must agree
    // exactly for every derived seq/offset/span to hash-match
    "q81_seq_pack" ->
      """WITH d AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '')) AS cnt
        |  FROM documents),
        |p AS (SELECT doc_id, cnt,
        |    coalesce(sum(cnt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM d WHERE cnt > 0)
        |SELECT doc_id, CAST(cnt AS BIGINT) AS n_tokens,
        |  CAST(floor(pos / 2048) AS BIGINT) AS seq_id,
        |  CAST(pos % 2048 AS BIGINT) AS seq_offset,
        |  CAST(floor((pos + cnt - 1) / 2048) - floor(pos / 2048) + 1 AS BIGINT) AS spans
        |FROM p ORDER BY doc_id""".stripMargin,
    // q87: streaming chunking parity — the oracle is the BATCH chunk replay
    // (q80's CTE) aggregated per chunk_idx; the Spark side must reproduce it
    // from file-source micro-batches
    "q87_stream_chunks" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0,
        |      CAST(greatest(0.0e0, ceil((n - 64) / 48.0e0)) AS BIGINT))) AS chunk_idx
        |  FROM n),
        |h AS (SELECT chunk_idx,
        |    CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS token_cnt,
        |    md5(array_to_string(
        |      toks[CAST(chunk_idx * 48 + 1 AS BIGINT):CAST(chunk_idx * 48 + 64 AS BIGINT)],
        |      ' ')) AS chunk_md5
        |  FROM c)
        |SELECT chunk_idx, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(token_cnt) AS BIGINT) AS sum_tokens,
        |  CAST(count(DISTINCT chunk_md5) AS BIGINT) AS n_distinct
        |FROM h GROUP BY chunk_idx ORDER BY chunk_idx""".stripMargin,
    // q88: the composed end-to-end pipeline vs the one-CTE-stack replay of
    // every stage (gates, dedup closure, chunk, pack, segments)
    "q88_pipeline_segments" -> pipelineSegmentsOracleSql,
    // q92: chunk-level decontamination — 5-gram positions mapped to the
    // 64/48 window geometry by the same floor/ceil arithmetic the engine
    // runs; a shingle at token p contaminates chunks
    // [max(0, floor((p-64)/48)+1), min(k, floor((p+4)/48))]
    "q92_chunk_decontam" ->
      """WITH b AS (SELECT list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id % 10 < 3),
        |bsh AS (SELECT DISTINCT unnest(CASE WHEN len(toks) >= 5
        |    THEN [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)]
        |    ELSE [] END) AS sh FROM b),
        |c AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id % 10 >= 3),
        |ct AS (SELECT doc_id, toks, len(toks) AS nt,
        |    CAST(greatest(0.0e0, ceil((len(toks) - 64) / 48.0e0)) AS BIGINT) AS k
        |  FROM c WHERE len(toks) > 0),
        |pos0 AS (SELECT doc_id, k, toks,
        |    unnest(generate_series(1, CAST(nt - 4 AS BIGINT))) AS i
        |  FROM ct WHERE nt >= 5),
        |pos AS (SELECT doc_id, k, i - 1 AS p,
        |    array_to_string(toks[i:i+4], ' ') AS sh FROM pos0),
        |hits AS (SELECT DISTINCT doc_id, k, p FROM pos JOIN bsh USING (sh)),
        |cc0 AS (SELECT doc_id, unnest(generate_series(
        |    greatest(0, CAST(floor((p - 64) / 48.0e0) AS BIGINT) + 1),
        |    least(k, CAST(floor((p + 4) / 48.0e0) AS BIGINT)))) AS chunk_idx
        |  FROM hits),
        |cc AS (SELECT DISTINCT doc_id, chunk_idx FROM cc0),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam FROM cc GROUP BY doc_id),
        |nc AS (SELECT doc_id, k + 1 AS n_chunks FROM ct)
        |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  coalesce(n_contam, CAST(0 AS BIGINT)) AS n_contam,
        |  round(CAST(coalesce(n_contam, CAST(0 AS BIGINT)) AS DOUBLE) / n_chunks, 6) AS contam_frac
        |FROM nc LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q93: q48's double-cosine pair replay closed into clusters by the q74
    // recursive-CTE min-label closure, then widened to FULL coverage —
    // every vec_id, singletons filling their own label — with the
    // SemDeDup canonical flag (id == min member id).
    "q93_semantic_clusters" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |ed AS (SELECT id_a AS s, id_b AS d FROM p WHERE cos >= 0.35
        |  UNION ALL SELECT id_b, id_a FROM p WHERE cos >= 0.35),
        |reach AS (
        |  SELECT s AS node, s AS lbl FROM ed
        |  UNION
        |  SELECT x.d AS node, r.lbl FROM reach r JOIN ed x ON x.s = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
        |asg AS (SELECT e.vec_id AS id, coalesce(c.lbl, e.vec_id) AS cluster_id
        |  FROM e LEFT JOIN comp c ON c.node = e.vec_id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM asg GROUP BY cluster_id)
        |SELECT id AS vec_id, cluster_id, cluster_size,
        |  CAST(id = cluster_id AS INTEGER) AS is_canonical
        |FROM asg JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin,
    // q94: the incremental construction replayed verbatim — old closure on
    // the low-id 80%, old clusters reduced to label stars, new-touching
    // pairs unioned in, one more closure. (That this equals a full
    // recompute is the operator's theorem, spec-gated Spark-side; the
    // oracle checks the construction itself.)
    "q94_incr_semantic_clusters" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |hm AS (SELECT (max(vec_id) * 4) // 5 AS h FROM e),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |oldp AS (SELECT id_a, id_b FROM p
        |  WHERE cos >= 0.35 AND id_b < (SELECT h FROM hm)),
        |olde AS (SELECT id_a AS s, id_b AS d FROM oldp
        |  UNION ALL SELECT id_b, id_a FROM oldp),
        |reach0 AS (
        |  SELECT s AS node, s AS lbl FROM olde
        |  UNION
        |  SELECT o.d AS node, r.lbl FROM reach0 r JOIN olde o ON o.s = r.node),
        |comp0 AS (SELECT node, min(lbl) AS lbl FROM reach0 GROUP BY node),
        |asg0 AS (SELECT e.vec_id AS id, coalesce(c.lbl, e.vec_id) AS cluster_id
        |  FROM e LEFT JOIN comp0 c ON c.node = e.vec_id
        |  WHERE e.vec_id < (SELECT h FROM hm)),
        |newp AS (SELECT id_a, id_b FROM p
        |  WHERE cos >= 0.35 AND id_b >= (SELECT h FROM hm)),
        |alle AS (SELECT s, d FROM (
        |    SELECT id AS s, cluster_id AS d FROM asg0
        |    UNION ALL SELECT cluster_id, id FROM asg0
        |    UNION ALL SELECT id_a, id_b FROM newp
        |    UNION ALL SELECT id_b, id_a FROM newp)
        |  WHERE s <> d),
        |reach AS (
        |  SELECT s AS node, s AS lbl FROM alle
        |  UNION
        |  SELECT x.d AS node, r.lbl FROM reach r JOIN alle x ON x.s = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
        |asg AS (SELECT e.vec_id AS id, coalesce(c.lbl, e.vec_id) AS cluster_id
        |  FROM e LEFT JOIN comp c ON c.node = e.vec_id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM asg GROUP BY cluster_id)
        |SELECT id AS vec_id, cluster_id, cluster_size,
        |  CAST(id = cluster_id AS INTEGER) AS is_canonical
        |FROM asg JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin,
    // q95: the q93 closure keyed into the q54 md5 split on the CLUSTER
    // label — the oracle derives split from md5(cluster_id) exactly as the
    // engine does, so a doc-keyed (leaky) split would hash-mismatch on
    // every multi-member cluster that straddles a boundary.
    "q95_cluster_safe_split" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |ed AS (SELECT id_a AS s, id_b AS d FROM p WHERE cos >= 0.35
        |  UNION ALL SELECT id_b, id_a FROM p WHERE cos >= 0.35),
        |reach AS (
        |  SELECT s AS node, s AS lbl FROM ed
        |  UNION
        |  SELECT x.d AS node, r.lbl FROM reach r JOIN ed x ON x.s = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
        |asg AS (SELECT e.vec_id AS id, coalesce(c.lbl, e.vec_id) AS cluster_id
        |  FROM e LEFT JOIN comp c ON c.node = e.vec_id),
        |sp AS (SELECT id, cluster_id,
        |  CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS u
        |  FROM asg)
        |SELECT id AS vec_id, cluster_id,
        |  CASE WHEN u >= 0.9 THEN 'test' WHEN u >= 0.8 THEN 'val'
        |    ELSE 'train' END AS split
        |FROM sp ORDER BY vec_id""".stripMargin,
    // q96: every constraint re-derived as plain SQL aggregation — the five
    // row-local checks in one scan-shaped SELECT, uniqueness as a grouped
    // surplus sum, the FK as NOT EXISTS; two checks fail with
    // data-dependent counts so the hash pins the violation arithmetic.
    "q96_data_contract" ->
      """WITH s AS (SELECT
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |  CAST(sum(CASE WHEN l_quantity IS NOT NULL
        |    AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) AS BIGINT) AS bd,
        |  CAST(sum(CASE WHEN l_returnflag IS NOT NULL
        |    AND l_returnflag NOT IN ('A','R') THEN 1 ELSE 0 END) AS BIGINT) AS av,
        |  CAST(sum(CASE WHEN coalesce(l_quantity <= 30, FALSE)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS st,
        |  CAST(greatest(0, 100 - count(*)) AS BIGINT) AS rc
        |  FROM lineitem),
        |u AS (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS v FROM
        |  (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
        |  WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |r AS (
        |  SELECT 'not_null' AS check_name, 'l_shipdate' AS target, nn AS violations FROM s
        |  UNION ALL SELECT 'bounds', 'l_quantity in [1.0,50.0]', bd FROM s
        |  UNION ALL SELECT 'accepted_values', 'l_returnflag', av FROM s
        |  UNION ALL SELECT 'satisfies', 'qty_le_30', st FROM s
        |  UNION ALL SELECT 'row_count_min', '>=100', rc FROM s
        |  UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber', (SELECT v FROM u)
        |  UNION ALL SELECT 'foreign_key', 'l_orderkey->orders.o_orderkey', (SELECT v FROM fk))
        |SELECT check_name, target, violations,
        |  CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM r ORDER BY check_name, target""".stripMargin,
    // q97: DuckDB's nfc_normalize replays the native NormalizeText
    // expression — the appended combining sequence makes every row's
    // normalized digest differ from its raw digest, so an identity (or
    // wrong-form) normalization hash-mismatches on every row. The x288
    // repeat mirrors Queries.NfcRepeat (ratchet sizing — see the scaladoc
    // there); a drifted factor hash-mismatches every digest AND the
    // chars_folded count.
    "q97_unicode_nfc" ->
      """SELECT doc_id,
        |  md5(repeat(text || 'e' || chr(769), 288)) AS raw_md5,
        |  md5(nfc_normalize(repeat(text || 'e' || chr(769), 288))) AS norm_md5,
        |  CAST(length(repeat(text || 'e' || chr(769), 288))
        |    - length(nfc_normalize(repeat(text || 'e' || chr(769), 288))) AS BIGINT) AS chars_folded
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q99: the q93 closure rolled up into the cluster-size distribution —
    // the dedup literature's report curve, exact integers + one fraction.
    "q99_dedup_diagnostics" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |ed AS (SELECT id_a AS s, id_b AS d FROM p WHERE cos >= 0.35
        |  UNION ALL SELECT id_b, id_a FROM p WHERE cos >= 0.35),
        |reach AS (
        |  SELECT s AS node, s AS lbl FROM ed
        |  UNION
        |  SELECT x.d AS node, r.lbl FROM reach r JOIN ed x ON x.s = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
        |asg AS (SELECT e.vec_id AS id, coalesce(c.lbl, e.vec_id) AS cluster_id
        |  FROM e LEFT JOIN comp c ON c.node = e.vec_id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM asg GROUP BY cluster_id),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM asg),
        |dist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |  FROM sz GROUP BY cluster_size)
        |SELECT cluster_size, n_clusters,
        |  cluster_size * n_clusters AS n_docs,
        |  (cluster_size - 1) * n_clusters AS n_removed,
        |  round(CAST(cluster_size * n_clusters AS DOUBLE) / n_total, 6) AS corpus_frac
        |FROM dist, tot ORDER BY cluster_size""".stripMargin,
    // q100: the streaming report after the last micro-batch must equal the
    // batch evaluation over the whole corpus — plain SQL aggregation.
    "q100_stream_contract" ->
      """WITH s AS (SELECT
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |  CAST(sum(CASE WHEN n_chars IS NOT NULL
        |    AND (n_chars < 1 OR n_chars > 500) THEN 1 ELSE 0 END) AS BIGINT) AS bd,
        |  CAST(sum(CASE WHEN lang IS NOT NULL
        |    AND lang NOT IN ('en','zh') THEN 1 ELSE 0 END) AS BIGINT) AS av,
        |  CAST(sum(CASE WHEN coalesce(doc_id >= 0, FALSE)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS st,
        |  CAST(greatest(0, 10 - count(*)) AS BIGINT) AS rc
        |  FROM documents),
        |r AS (
        |  SELECT 'not_null' AS check_name, 'text' AS target, nn AS violations FROM s
        |  UNION ALL SELECT 'bounds', 'n_chars in [1.0,500.0]', bd FROM s
        |  UNION ALL SELECT 'accepted_values', 'lang', av FROM s
        |  UNION ALL SELECT 'satisfies', 'ids_nonneg', st FROM s
        |  UNION ALL SELECT 'row_count_min', '>=10', rc FROM s)
        |SELECT check_name, target, violations,
        |  CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM r ORDER BY check_name, target""".stripMargin,
    // q101: the engine's hierarchical rank replayed by a plain row_number
    // over the same (cnt, doc_id) order; integer batch arithmetic.
    "q101_length_buckets" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '')) AS BIGINT) AS cnt
        |  FROM documents),
        |r AS (SELECT doc_id, cnt,
        |    row_number() OVER (ORDER BY cnt, doc_id) - 1 AS rk FROM d),
        |b AS (SELECT rk // 32 AS batch_id, cnt FROM r)
        |SELECT CAST(batch_id AS BIGINT) AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(cnt) AS BIGINT) AS min_len,
        |  CAST(max(cnt) AS BIGINT) AS max_len,
        |  CAST(max(cnt) * count(*) - sum(cnt) AS BIGINT) AS padding
        |FROM b GROUP BY batch_id ORDER BY batch_id""".stripMargin,
    // q102: md5 draw order + window prefix sum replay the engine's
    // hierarchical construction; zero-token docs carry no weight and are
    // never kept on either side.
    "q102_token_budget" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '')) AS BIGINT) AS cnt
        |  FROM documents),
        |k AS (SELECT doc_id, lang, cnt,
        |    md5('draw-:' || CAST(doc_id AS VARCHAR)) AS key FROM d WHERE cnt > 0),
        |r AS (SELECT doc_id, lang, cnt,
        |    coalesce(sum(cnt) OVER (ORDER BY key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM k),
        |kept AS (SELECT * FROM r WHERE pos + cnt <= 10000)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(cnt) AS BIGINT) AS sum_tokens
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    // q91: deterministic epoch shuffle — q81's packing rolled up per
    // sequence, then every sequence's exact position in the md5-keyed
    // global permutation; the engine assigns positions hierarchically
    // (range partitions + bases), the oracle with a plain row_number
    "q91_epoch_shuffle" ->
      """WITH d AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '')) AS cnt
        |  FROM documents),
        |p AS (SELECT doc_id, cnt,
        |    coalesce(sum(cnt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM d WHERE cnt > 0),
        |s AS (SELECT CAST(floor(pos / 2048) AS BIGINT) AS seq_id,
        |    CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(cnt) AS BIGINT) AS n_tokens
        |  FROM p GROUP BY 1),
        |k AS (SELECT seq_id, n_docs, n_tokens,
        |    md5('epoch-0:' || CAST(seq_id AS VARCHAR)) AS shuffle_key FROM s)
        |SELECT seq_id, n_docs, n_tokens,
        |  CAST(row_number() OVER (ORDER BY shuffle_key) - 1 AS BIGINT) AS shuffle_pos
        |FROM k ORDER BY seq_id""".stripMargin,
    // q90: stateful (flatMapGroupsWithState) streaming exit with
    // kill/restart — the q67 batch gap formulation over slice 7; sessions
    // straddling the kill only merge if the restored state held their open
    // segments
    "q90_stream_session_sink" ->
      """WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts, value
        |  FROM events WHERE user_id % 10 = 7),
        |x AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts, value,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id,
        |strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
        |CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    // q89: chunk-tier streaming FILE sink with kill/restart — the oracle is
    // the batch chunk replay over corpus ⊎ the every-20th re-ingest wave
    // (stateless chunking processes the duplicates by design); the
    // kill/restart must contribute exactly zero beyond that
    "q89_stream_chunk_sink" ->
      """WITH src AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '') AS toks
        |  FROM src),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0,
        |      CAST(greatest(0.0e0, ceil((n - 64) / 48.0e0)) AS BIGINT))) AS chunk_idx
        |  FROM n),
        |h AS (SELECT chunk_idx,
        |    CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS token_cnt,
        |    md5(array_to_string(
        |      toks[CAST(chunk_idx * 48 + 1 AS BIGINT):CAST(chunk_idx * 48 + 64 AS BIGINT)],
        |      ' ')) AS chunk_md5
        |  FROM c)
        |SELECT chunk_idx, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(token_cnt) AS BIGINT) AS sum_tokens,
        |  CAST(count(DISTINCT chunk_md5) AS BIGINT) AS n_distinct
        |FROM h GROUP BY chunk_idx ORDER BY chunk_idx""".stripMargin,
    // q86: incremental (two-batch, basePos-continued) packing must equal the
    // FULL repack — the oracle is deliberately q81's full-corpus prefix sum,
    // so any drift in the continued positions hash-mismatches
    "q86_incremental_pack" ->
      """WITH d AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '')) AS cnt
        |  FROM documents),
        |p AS (SELECT doc_id, cnt,
        |    coalesce(sum(cnt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM d WHERE cnt > 0)
        |SELECT doc_id, CAST(cnt AS BIGINT) AS n_tokens,
        |  CAST(floor(pos / 2048) AS BIGINT) AS seq_id,
        |  CAST(pos % 2048 AS BIGINT) AS seq_offset,
        |  CAST(floor((pos + cnt - 1) / 2048) - floor(pos / 2048) + 1 AS BIGINT) AS spans
        |FROM p ORDER BY doc_id""".stripMargin,
    // q82: LM familiarity replay — same bigram stream, same integer
    // bit-length magnitude (length(bin(c)) - 1 = floor(log2(c)), never a
    // float log), one final division + round(6)
    "q82_lm_familiarity" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS gram
        |  FROM d WHERE len(toks) >= 2),
        |m AS (SELECT gram, CAST(length(bin(count(*))) - 1 AS BIGINT) AS mag
        |  FROM g GROUP BY gram),
        |s AS (SELECT doc_id, count(*) AS n_grams, sum(mag) AS mag_sum
        |  FROM g JOIN m USING (gram) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(mag_sum AS BIGINT) AS mag_sum,
        |  round(CAST(mag_sum AS DOUBLE) / n_grams, 6) AS familiarity
        |FROM s ORDER BY doc_id""".stripMargin,
    // q83: temperature mixture replay — exact integer sqrt weights (with the
    // k^2-1 floor correction), integer denominator, one replayable division
    // for the take, then the q55 md5 membership rule per row
    "q83_temp_mixture" ->
      """WITH s AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |w AS (SELECT lang, c,
        |    CASE WHEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)
        |           * CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) > c
        |      THEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) - 1
        |      ELSE CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) END AS w
        |  FROM s),
        |d AS (SELECT CAST(sum(w) AS BIGINT) AS denom FROM w),
        |p AS (SELECT lang, c, w,
        |    least(c, CAST(floor(CAST(200 * w AS DOUBLE) / denom) AS BIGINT)) AS n_target
        |  FROM w CROSS JOIN d),
        |k AS (SELECT doc_id, n_chars, lang, c, w, n_target
        |  FROM documents JOIN p USING (lang)
        |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    < (CAST(n_target AS DOUBLE) * 4294967296.0e0) / c)
        |SELECT lang, CAST(c AS BIGINT) AS c, CAST(w AS BIGINT) AS w,
        |  CAST(n_target AS BIGINT) AS n_target,
        |  CAST(count(*) AS BIGINT) AS n_taken,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM k GROUP BY lang, c, w, n_target ORDER BY lang""".stripMargin,
    // q84: chunk-dedup replay — the q80 chunk stream (same slice arithmetic,
    // same md5) grouped per source with exact distinct-hash counting
    "q84_chunk_dup_rate" ->
      """WITH d AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, source, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (SELECT doc_id, source, toks, n,
        |    unnest(generate_series(0,
        |      CAST(greatest(0.0e0, ceil((n - 64) / 48.0e0)) AS BIGINT))) AS chunk_idx
        |  FROM n),
        |h AS (SELECT source,
        |    md5(array_to_string(
        |      toks[CAST(chunk_idx * 48 + 1 AS BIGINT):CAST(chunk_idx * 48 + 64 AS BIGINT)],
        |      ' ')) AS chunk_md5
        |  FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT chunk_md5) AS BIGINT) AS n_distinct,
        |  round(1.0e0 - CAST(count(DISTINCT chunk_md5) AS DOUBLE) / count(*), 6) AS dup_frac
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    // q85: packed-segment replay — the q81 prefix sum extended by a span
    // explode; every doc/sequence intersection in pure integer arithmetic
    "q85_packed_segments" ->
      """WITH d AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), w -> w <> '')) AS cnt
        |  FROM documents),
        |p AS (SELECT doc_id, cnt,
        |    coalesce(sum(cnt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM d WHERE cnt > 0),
        |e AS (SELECT doc_id, cnt, pos,
        |    CAST(floor(pos / 2048) AS BIGINT) AS first_seq,
        |    CAST(floor((pos + cnt - 1) / 2048) - floor(pos / 2048) + 1 AS BIGINT) AS spans
        |  FROM p),
        |x AS (SELECT doc_id, cnt, pos, first_seq,
        |    unnest(generate_series(0, spans - 1)) AS j FROM e),
        |y AS (SELECT doc_id, cnt, pos, first_seq + j AS seq_id FROM x)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(greatest(pos, seq_id * 2048) - pos AS BIGINT) AS doc_from,
        |  CAST(greatest(pos, seq_id * 2048) - seq_id * 2048 AS BIGINT) AS seq_off,
        |  CAST(least(pos + cnt, (seq_id + 1) * 2048)
        |    - greatest(pos, seq_id * 2048) AS BIGINT) AS n_tok
        |FROM y ORDER BY doc_id, seq_id""".stripMargin,
    "q71_audio_meta" ->
      // closed-form replay of the synthesized WAV set: the Spark side must
      // round-trip RIFF encode -> header parse -> full PCM decode to match;
      // the sample function and the exact integer sum-of-squares make RMS a
      // pure function both engines compute identically
      """WITH p AS (SELECT doc_id,
        |    8000 + (doc_id % 4) * 4000 AS sample_rate,
        |    400 + (doc_id % 7) * 100 AS n
        |  FROM documents),
        |s AS (SELECT doc_id, sample_rate, n,
        |    CAST(sum(((doc_id * 31 + i * 7) % 201 - 100) * ((doc_id * 31 + i * 7) % 201 - 100)) AS BIGINT) AS sumsq
        |  FROM p, range(0, 1000) r(i) WHERE i < n GROUP BY 1, 2, 3)
        |SELECT doc_id AS media_id, 'wav' AS format,
        |CAST(sample_rate AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |CAST(16 AS INT) AS bits, CAST(n AS BIGINT) AS n_frames,
        |round(CAST(n AS DOUBLE) / sample_rate, 6) AS duration_sec,
        |round(sqrt(CAST(sumsq AS DOUBLE) / n), 6) AS rms
        |FROM s ORDER BY media_id""".stripMargin,
    "q50_sudoku" ->
      // the solver must recover the closed-form canonical grid (the blanked
      // cells admit exactly one completion — n_solutions doubles as proof)
      """SELECT CAST(pid AS BIGINT) AS puzzle_id,
        |array_to_string([CAST((((i // 9) * 3 + (i // 9) // 3 + (i % 9) + pid) % 9) + 1 AS VARCHAR)
        |  for i in range(0, 81)], '') AS solution,
        |CAST(1 AS BIGINT) AS n_solutions
        |FROM range(0, 10) t(pid) ORDER BY puzzle_id""".stripMargin,
    // q113: the q109 span CTE stack re-derived over ALL documents (batch ∪
    // corpus — gram counts split by document id nowhere in the arithmetic,
    // which is exactly the identity the incremental operator rests on),
    // restricted at the end to the batch's docs. The 80/20 split threshold
    // is derived in SQL with the same integer floor as the Spark side.
    "q113_incr_span_dedup" ->
      """WITH h AS (SELECT (max(doc_id) * 4) // 5 AS h FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 8)) AS start
        |  FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS gram FROM idx),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |d AS (SELECT doc_id, start FROM g JOIN c USING (gram)),
        |m AS (SELECT doc_id, start, CASE WHEN lag(start) OVER w IS NULL
        |    OR start > lag(start) OVER w + 7 THEN 1 ELSE 0 END AS ng
        |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
        |mg AS (SELECT doc_id, start,
        |    sum(ng) OVER (PARTITION BY doc_id ORDER BY start) AS grp FROM m),
        |sp AS (SELECT doc_id, grp, min(start) AS s, max(start) + 8 AS e,
        |    count(*) AS n_starts FROM mg GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_covered,
        |    CAST(sum(n_starts) AS BIGINT) AS n_dup_starts
        |  FROM sp GROUP BY doc_id),
        |posn AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t),
        |keep AS (SELECT p.doc_id, p.i, p.toks[p.i] AS tok FROM posn p
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = p.doc_id AND p.i - 1 >= sp.s AND p.i - 1 < sp.e)),
        |ct AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean
        |  FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(a.n_dup_starts, 0) AS n_dup_starts,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.n_covered, 0) AS n_covered,
        |  md5(coalesce(ct.clean, '')) AS clean_md5
        |FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN ct USING (doc_id)
        |CROSS JOIN h WHERE t.doc_id >= h.h
        |ORDER BY t.doc_id""".stripMargin,
    // q114: both retrievers replayed — full-precision brute-force cosine
    // top-5 (the q31 CTE) and int8-quantized cosine top-5 (the q63
    // quantization CTEs) — then the RRF sum over their full outer join
    // (the q108 fusion arithmetic, here mostly exercising the BOTH-lists
    // summed-rank branch because quantization preserves the ranking).
    "q114_hybrid_quant_fusion" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM e),
        |qz AS (SELECT vec_id, CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
        |  ELSE list_transform(v, x -> floor(x / sc)) END AS qv FROM s),
        |nq AS (SELECT vec_id AS id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM qz),
        |sq AS (SELECT q.id AS qid, x.id, list_dot_product(q.qv, x.qv) / (q.nrm * x.nrm) AS cos
        |  FROM nq q JOIN nq x ON x.id <> q.id WHERE q.id % 50 = 13),
        |qt AS (SELECT qid, id, rank FROM (SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM sq)
        |  WHERE rank <= 5),
        |nf AS (SELECT vec_id AS id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |sf AS (SELECT q.id AS qid, x.id, list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS cos
        |  FROM nf q JOIN nf x ON x.id <> q.id WHERE q.id % 50 = 13),
        |ft AS (SELECT qid, id, rank FROM (SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank FROM sf)
        |  WHERE rank <= 5),
        |fu AS (SELECT coalesce(f.qid, l.qid) AS qid, coalesce(f.id, l.id) AS id,
        |    round(coalesce(1.0e0 / (60 + f.rank), 0.0e0)
        |      + coalesce(1.0e0 / (60 + l.rank), 0.0e0), 6) AS rrf
        |  FROM ft f FULL OUTER JOIN qt l ON l.qid = f.qid AND l.id = f.id)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, id, rrf FROM (
        |  SELECT qid, id, rrf,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS rank FROM fu)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // q115: the whole fold SEQUENCE replayed in one pass — per-(gram,
    // batch) counts, a cumulative sum over batch order, covered iff the
    // PREFIX count at the start's own tercile exceeds one (the service's
    // append-only semantics: batch k is deduped against batches 0..k and
    // earlier batches are never revisited). Span merge and cleaned-text
    // reconstruction are the q109 stack.
    // q116 answers to the SAME replay: the streaming harness drives the
    // identical tercile fold sequence through foreachBatch with a
    // kill/outage/restart, and the final clean outputs must be
    // kill-point independent — i.e. exactly the batch fold sequence.
    "q116_stream_span_dedup" -> spanServiceFoldOracle,
    // q117: the service's accumulated gram-count state vs a FLAT recount
    // of every 8-token window in the corpus — per-batch counts, the
    // compaction's sum-merge, and the reader's final merge must compose
    // to exactly this (recurring grams only, ranked).
    "q117_boilerplate_grams" -> boilerplateGramsOracle(""),
    // q118: the span-service TAKEDOWN path — after rebuildState retracts
    // every doc_id % 7 == 0 from the accumulated state, the state must
    // equal the flat recount over only the retained documents.
    "q118_tombstone_span_rebuild" ->
      boilerplateGramsOracle(" WHERE doc_id % 7 <> 0"),
    // q119: the cluster-service TAKEDOWN path — after
    // rebuildWithoutTombstones retracts every vec_id % 7 == 0, the head
    // assignment must equal the full pruned-pipeline replay over only
    // the retained embeddings (q103's oracle with the tombstone filter
    // injected at the corpus source).
    "q119_tombstone_cluster_rebuild" ->
      prunedClusterOracleSql(0.35, " WHERE vec_id % 7 <> 0"),
    "q115_span_dedup_service" -> spanServiceFoldOracle,
    // q120: the cluster service's whole state TRAJECTORY — after every
    // tercile fold, the reconstructed assignment (snapshot + delta
    // latest-fold-wins merge; snapshotEvery=2 puts fold 1's read-back
    // through the (v=0, d=1) merge) must equal the full pruned replay
    // over the id prefix ingested so far. One q103 replay per prefix,
    // with the tercile boundary re-derived in SQL from max(vec_id) —
    // integer floor division on both sides.
    "q120_cluster_fold_sequence" -> (0 until 3).map { w =>
      val where = s" WHERE vec_id < (SELECT (max(vec_id) + 1) * ${w + 1} // 3 FROM embeddings)"
      s"SELECT CAST($w AS BIGINT) AS fold, * FROM (\n${prunedClusterOracleSql(0.35, where)})"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY fold, vec_id"),
    // q121: the takedown LIFECYCLE — after two folds, a mid-stream
    // retraction of every ingested vec_id % 7 == 0, and a resumed third
    // fold, the head assignment must equal the full pruned replay over
    // (retained ∪ resumed batch): ids before the re-derived tercile
    // boundary survive only when NOT ≡ 0 mod 7; ids after it always do.
    "q121_takedown_resume" -> prunedClusterOracleSql(0.35,
      " WHERE vec_id % 7 <> 0 OR vec_id >= (SELECT (max(vec_id) + 1) * 2 // 3 FROM embeddings)"),
    // q123 deliberately answers q121's oracle VERBATIM: the streaming
    // harness's entire claim is that the checkpointed kill/restart +
    // quiesce + rebuild + resume-from-checkpoint choreography reaches
    // exactly the direct-batch lifecycle's state, kill-point independent
    // (the same precedent as q116 reusing q115's oracle).
    "q123_stream_takedown" -> prunedClusterOracleSql(0.35,
      " WHERE vec_id % 7 <> 0 OR vec_id >= (SELECT (max(vec_id) + 1) * 2 // 3 FROM embeddings)"),
    // q122: the span-service takedown lifecycle — the resumed third-tercile
    // fold must equal the full span recompute over (retained ∪ batch)
    // restricted to batch docs: q113's replay with the retraction injected
    // into the corpus CTE (ids before the re-derived boundary survive only
    // when NOT ≡ 0 mod 7; the batch itself always does).
    "q122_span_takedown_resume" -> spanTakedownOracleSql,
    // q124 deliberately answers q122's oracle VERBATIM: the streaming
    // harness's entire claim is that the checkpointed kill/restart +
    // quiesce + rebuild + resume-from-checkpoint choreography reaches
    // exactly the direct-batch span lifecycle's resumed fold,
    // kill-point independent (the q116/q115 and q123/q121 precedent).
    "q124_stream_span_takedown" -> spanTakedownOracleSql
  )

  /** Flat recount of every 8-token window over the (optionally filtered)
    * documents corpus, recurring grams ranked — q117 checks the service's
    * accumulated state against it; q118 checks the tombstone-REBUILT
    * state against the retained-corpus restriction. */
  private def boilerplateGramsOracle(corpusWhere: String): String =
    s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
      |  FROM documents$corpusWhere),
      |idx AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 8)) AS start
      |  FROM t WHERE len(toks) >= 8),
      |g AS (SELECT md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS gram_md5 FROM idx)
      |SELECT gram_md5, CAST(count(*) AS BIGINT) AS cnt FROM g
      |GROUP BY gram_md5 HAVING count(*) >= 2
      |ORDER BY cnt DESC, gram_md5""".stripMargin

  /** q122/q124 shared oracle: the full span-dedup replay over the
    * retained-or-post-boundary corpus, restricted to the resumed
    * third-tercile batch (boundary re-derived in SQL). */
  private val spanTakedownOracleSql =
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents
        |  WHERE doc_id % 7 <> 0 OR doc_id >= (SELECT (max(doc_id) + 1) * 2 // 3 FROM documents)),
        |idx AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 8)) AS start
        |  FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS gram FROM idx),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |d AS (SELECT doc_id, start FROM g JOIN c USING (gram)),
        |m AS (SELECT doc_id, start, CASE WHEN lag(start) OVER w IS NULL
        |    OR start > lag(start) OVER w + 7 THEN 1 ELSE 0 END AS ng
        |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
        |mg AS (SELECT doc_id, start,
        |    sum(ng) OVER (PARTITION BY doc_id ORDER BY start) AS grp FROM m),
        |sp AS (SELECT doc_id, grp, min(start) AS s, max(start) + 8 AS e,
        |    count(*) AS n_starts FROM mg GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_covered,
        |    CAST(sum(n_starts) AS BIGINT) AS n_dup_starts
        |  FROM sp GROUP BY doc_id),
        |posn AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t),
        |keep AS (SELECT p.doc_id, p.i, p.toks[p.i] AS tok FROM posn p
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = p.doc_id AND p.i - 1 >= sp.s AND p.i - 1 < sp.e)),
        |ct AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean
        |  FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(a.n_dup_starts, 0) AS n_dup_starts,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.n_covered, 0) AS n_covered,
        |  md5(coalesce(ct.clean, '')) AS clean_md5
        |FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN ct USING (doc_id)
        |WHERE t.doc_id >= (SELECT (max(doc_id) + 1) * 2 // 3 FROM documents)
        |ORDER BY t.doc_id""".stripMargin

  /** The span-dedup service fold-sequence replay, shared by q115 (batch
    * folds) and q116 (the same folds driven through the streaming
    * harness with kill/restart — correctness there IS producing the
    * batch sequence verbatim). */
  private val spanServiceFoldOracle =
      """WITH lim AS (SELECT min(doc_id) AS mn, max(doc_id) - min(doc_id) + 1 AS span FROM documents),
        |t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks,
        |  least(2, ((doc_id - mn) * 3) // span) AS b
        |  FROM documents CROSS JOIN lim),
        |idx AS (SELECT doc_id, b, toks, unnest(generate_series(0, len(toks) - 8)) AS start
        |  FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, b, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS gram FROM idx),
        |gc AS (SELECT gram, b, count(*) AS c FROM g GROUP BY gram, b),
        |gcc AS (SELECT gram, b, sum(c) OVER (PARTITION BY gram ORDER BY b) AS cum FROM gc),
        |d AS (SELECT g.doc_id, g.start FROM g JOIN gcc ON gcc.gram = g.gram AND gcc.b = g.b
        |  WHERE gcc.cum > 1),
        |m AS (SELECT doc_id, start, CASE WHEN lag(start) OVER w IS NULL
        |    OR start > lag(start) OVER w + 7 THEN 1 ELSE 0 END AS ng
        |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
        |mg AS (SELECT doc_id, start,
        |    sum(ng) OVER (PARTITION BY doc_id ORDER BY start) AS grp FROM m),
        |sp AS (SELECT doc_id, grp, min(start) AS s, max(start) + 8 AS e,
        |    count(*) AS n_starts FROM mg GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_covered,
        |    CAST(sum(n_starts) AS BIGINT) AS n_dup_starts
        |  FROM sp GROUP BY doc_id),
        |posn AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t),
        |keep AS (SELECT p.doc_id, p.i, p.toks[p.i] AS tok FROM posn p
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = p.doc_id AND p.i - 1 >= sp.s AND p.i - 1 < sp.e)),
        |ct AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean
        |  FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(a.n_dup_starts, 0) AS n_dup_starts,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.n_covered, 0) AS n_covered,
        |  md5(coalesce(ct.clean, '')) AS clean_md5
        |FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN ct USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin
}
