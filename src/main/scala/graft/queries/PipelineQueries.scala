package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Bpe, Clustering, Curation, Dedup, IndexLayout, IndexShards, IndexStats, Multimodal, Pq, Retrieval, Similarity, TextAnalysis, TextOps}
import graft.streaming.IndexIngest
import Scenario.{Append, BlindRetry, Split, Stream}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operator surface (BASELINE.json north star):
  * deduplication, similarity search, and text analysis over the
  * `documents` / `embeddings` tables, each with a DuckDB oracle that
  * reproduces the exact same deterministic hash/float math (see
  * [[graft.operators.TextOps]] for the shared primitives).
  *
  * The written-index lifecycle queries (build a base index, deliver the
  * delta by an append, a blind retry or a ledgered stream, probe) are
  * declared as [[Scenario]] values: a family, a split and a mode next
  * to their oracle SQL. Queries whose script needs something no other
  * query does stay hand-written; [[Scenario]]'s scaladoc lists them.
  */
object PipelineQueries {

  import TextOps.{HashP => P}

  private[queries] val NumHashes = 16

  /** q150/q152's shared bigram-NLL keep cutoff: the corpus median at
    * the sf0.01 correctness-gate fixture (median 3.387039, rounded
    * down to 3 decimals), chosen so BOTH classes stay populated at
    * test scale (249/251 there, 240/260 at sf0.001). Derived — not
    * magic: `tools/derive_q150_median.py` replays the oracle's exact
    * NLL arithmetic in DuckDB and prints the median + class split;
    * re-run it if a fixture is ever regenerated (gates stay green
    * under any shared constant, so drift here is silent — the
    * TextAnalysisSpec "both classes populated" assertion is the
    * tripwire).
    */
  private[queries] val BigramNllMedian = 3.387
  private[queries] val Bands = 4
  private[queries] val ShingleN = 3

  // ------------------------------------------------------------------
  // shared oracle-SQL fragments (CTEs mirroring the operators)
  // ------------------------------------------------------------------

  /** CTEs: toks → sh (shingle lists) → shd (distinct shingles) → hs
    * (hashes), over any (doc_id, text) relation `rel`.
    */
  private def shingleCtesFrom(rel: String): String = {
    val toks = TextOps.tokensSql("text")
    s"""toks AS (SELECT doc_id, $toks AS t FROM $rel),
       sh AS (SELECT doc_id, ${TextOps.shinglesSql("t", ShingleN)} AS shingles FROM toks),
       shd AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
       hs AS (SELECT doc_id, ${TextOps.hash32Sql("s")} AS h FROM shd)"""
  }

  private val shingleCtes: String = shingleCtesFrom("documents")

  /** CTEs after [[shingleCtes]] ending in `inter` = (blk, doc_a, doc_b,
    * i): the shared-shingle counts of every same-source document pair
    * over capped postings (`cnts` holds each document's shingle count)
    * — the inverted-index core q33's Jaccard and q153's containment
    * both threshold.
    */
  private val blockedShingleInterCtes: String = s"""$shingleCtes,
      blk AS (SELECT doc_id, source FROM documents WHERE source IS NOT NULL),
      hd AS (SELECT DISTINCT doc_id, h FROM hs),
      cnts AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
      pb AS (SELECT b.source AS blk, hd.doc_id, hd.h
             FROM hd JOIN blk b ON b.doc_id = hd.doc_id),
      capped AS (SELECT blk, doc_id, h FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY blk, h) AS pn FROM pb) t
        WHERE pn <= 10000),
      inter AS (SELECT x.blk, x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
                FROM capped x
                JOIN capped y ON y.blk = x.blk AND y.h = x.h
                             AND x.doc_id < y.doc_id
                GROUP BY 1, 2, 3)"""

  /** CTEs bd_toks → bd_st → bd_blocks → bd_rk → bd(doc_id, n_blocks,
    * n_kept, text_deduped): the [[graft.operators.Dedup.blockDedup]]
    * oracle chain over any (doc_id, text) relation — shared by q123 and
    * q127 so the keep-first semantics can never drift between them.
    */
  private[queries] def blockDedupCtesFrom(rel: String, b: Int): String =
    s"""bd_toks AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS t FROM $rel),
      bd_st AS (SELECT doc_id, t,
                       unnest(generate_series(1, greatest(len(t), 1), $b)) AS start
                FROM bd_toks),
      bd_blocks AS (SELECT doc_id,
                           CAST((start - 1) // $b AS BIGINT) AS block_idx,
                           array_to_string(t[start:least(len(t), start + $b - 1)], ' ') AS block
                    FROM bd_st),
      bd_rk AS (SELECT doc_id, block_idx, block,
                       row_number() OVER (PARTITION BY md5(block)
                                          ORDER BY doc_id, block_idx) AS rn
                FROM bd_blocks),
      bd AS (SELECT doc_id,
                    CAST(COUNT(*) AS BIGINT) AS n_blocks,
                    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                    COALESCE(array_to_string(
                      list(block ORDER BY block_idx) FILTER (WHERE rn = 1), ' '), '')
                      AS text_deduped
             FROM bd_rk
             GROUP BY doc_id)"""

  // ------------------------------------------------------------------
  // q30 exact dedup
  // ------------------------------------------------------------------

  val q30ExactDedup: QueryDef = QueryDef(
    "q30_exact_dedup",
    (s, dir) =>
      Dedup.exactClusters(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fingerprint")),
    Some(s"""
      SELECT md5(${TextOps.normalizeSql("text")}) AS fingerprint,
             MIN(doc_id) AS kept_id, COUNT(*) AS cluster_size
      FROM documents
      GROUP BY 1
      ORDER BY fingerprint
    """))

  // ------------------------------------------------------------------
  // q31 minhash + LSH near-dup pairs
  // ------------------------------------------------------------------

  /** CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the full
    * minhash→LSH→verify pipeline, shared by q31 and q84.
    */
  private[queries] def minhashPairCtesFrom(rel: String): String = {
    val params = TextOps.hashParams(NumHashes)
    val minExprs = params.zipWithIndex.map { case ((a, b), i) =>
      s"min(${TextOps.universalHashSql("h", a, b)}) AS mh$i"
    }.mkString(",\n             ")
    val rows = NumHashes / Bands
    val bandSelects = (0 until Bands).map { bnd =>
      val cols = (0 until rows).map(r => s"mh${bnd * rows + r}").mkString(", ")
      s"SELECT doc_id, concat_ws('_', $bnd, $cols) AS bk FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""${shingleCtesFrom(rel)},
      sig AS (SELECT doc_id, $minExprs FROM hs GROUP BY doc_id),
      bands AS ($bandSelects),
      capped AS (SELECT doc_id, bk FROM (
        SELECT doc_id, bk, COUNT(*) OVER (PARTITION BY bk) AS bn FROM bands) t
        WHERE bn <= 1000),
      cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                FROM capped x JOIN capped y ON x.bk = y.bk AND x.doc_id < y.doc_id),
      hd AS (SELECT DISTINCT doc_id, h FROM hs),
      cnts AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
      inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
                FROM cands c
                JOIN hd hx ON hx.doc_id = c.doc_a
                JOIN hd hy ON hy.doc_id = c.doc_b AND hy.h = hx.h
                GROUP BY 1, 2),
      pairs AS (SELECT i.doc_a, i.doc_b,
                       round(i.i * 1.0 / (ca.n + cb.n - i.i), 6) AS jaccard
                FROM inter i
                JOIN cnts ca ON ca.doc_id = i.doc_a
                JOIN cnts cb ON cb.doc_id = i.doc_b
                WHERE round(i.i * 1.0 / (ca.n + cb.n - i.i), 6) >= 0.8)"""
  }

  private[queries] val minhashPairCtes: String = minhashPairCtesFrom("documents")

  /** Recursive CTEs after [[minhashPairCtes]]: `e` = both directions of
    * every pair, `walk(v, lbl)` = every label reachable from `v`; a
    * vertex's component is its MIN(lbl) — the oracle twin of
    * [[graft.operators.Dedup.connectedComponents]]. */
  private val componentWalkCtes = """e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
      walk(v, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.dst, w.lbl FROM e JOIN walk w ON e.src = w.v
      )"""

  val q31MinhashDedup: QueryDef = QueryDef(
    "q31_minhash_dedup",
    (s, dir) =>
      Dedup.minhashDedup(Tables.load(s, dir, "documents"), "doc_id", "text",
          NumHashes, Bands, ShingleN, threshold = 0.8)
        .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""
      WITH $minhashPairCtes
      SELECT doc_a, doc_b, jaccard FROM pairs
      ORDER BY doc_a, doc_b
    """))

  // ------------------------------------------------------------------
  // q32 simhash fingerprints
  // ------------------------------------------------------------------

  val q32Simhash: QueryDef = QueryDef(
    "q32_simhash",
    (s, dir) =>
      Dedup.simhash(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")), {
      val sums = (0 until 32).map(j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(",\n             ")
      val fp = (0 until 32).map(j =>
        s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      Some(s"""
      WITH tok AS (SELECT doc_id, unnest(list_distinct(${TextOps.tokensSql("text")})) AS t
                   FROM documents),
      h AS (SELECT doc_id, ${TextOps.hash32Sql("t")} AS h FROM tok),
      bits AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
      SELECT doc_id, CAST($fp AS BIGINT) AS simhash
      FROM bits
      ORDER BY doc_id
    """)
    })

  // ------------------------------------------------------------------
  // q33 blocked n-gram Jaccard pairs
  // ------------------------------------------------------------------

  val q33NgramJaccard: QueryDef = QueryDef(
    "q33_ngram_jaccard",
    (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          blockCol = "source", shingleN = ShingleN, threshold = 0.8)
        .orderBy(col("blk"), col("doc_a"), col("doc_b")),
    Some(s"""
      WITH $blockedShingleInterCtes
      SELECT i.blk, i.doc_a, i.doc_b,
             round(i.i * 1.0 / (ca.n + cb.n - i.i), 6) AS jaccard
      FROM inter i
      JOIN cnts ca ON ca.doc_id = i.doc_a
      JOIN cnts cb ON cb.doc_id = i.doc_b
      WHERE round(i.i * 1.0 / (ca.n + cb.n - i.i), 6) >= 0.8
      ORDER BY blk, doc_a, doc_b
    """))

  // ------------------------------------------------------------------
  // q34 brute-force cosine top-k
  // ------------------------------------------------------------------

  private val cosQC = Similarity.cosineSql("q.qv", "c.cv")

  /** `r AS (...)`: the `sims` (query_id, neighbor_id, sim) rows ranked
    * per query, ties to the smaller neighbor id — the oracle twin of
    * [[Similarity.rankTopK]]. */
  private val simsRankCte = """r AS (SELECT query_id, neighbor_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
            FROM sims)"""

  /** The top-`k` rows of [[simsRankCte]] in the top-k serves' output
    * shape. */
  private def simsTopKSelect(k: Int) =
    s"""SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(sim, 6) AS sim
      FROM r WHERE rnk <= $k
      ORDER BY query_id, rnk"""

  val q34SimilarityTopK: QueryDef = QueryDef(
    "q34_similarity_topk",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      sims AS (SELECT query_id, neighbor_id, $cosQC AS sim
               FROM c JOIN q ON neighbor_id <> query_id),
      $simsRankCte
      ${simsTopKSelect(5)}
    """))

  // ------------------------------------------------------------------
  // q35 IVF-bucketed top-k
  // ------------------------------------------------------------------

  /** CTEs cent → assign: the fresh IVF build, every vector in the
    * `bucket` of its nearest `vec_id % 50 = 0` centroid (ties to the
    * smaller centroid id). */
  private def ivfAssignCtes: String = {
    val cosEC = Similarity.cosineSql("e.embedding", "c.centv")
    s"""cent AS (SELECT vec_id AS cid, embedding AS centv FROM embeddings WHERE vec_id % 50 = 0),
      assign AS (SELECT vec_id, embedding, cid AS bucket FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.cid) AS crn
        FROM embeddings e CROSS JOIN cent c) t WHERE crn = 1)"""
  }

  /** CTEs q → probes → sims → r after [[ivfAssignCtes]]: the first 10
    * vectors probe their 2 nearest buckets and rank those buckets'
    * members by cosine (q133's in-session serve, the written index's
    * oracle). */
  private def ivfProbeRankCtes: String = {
    val cosQC = Similarity.cosineSql("q.qv", "c.centv")
    val cosQA = Similarity.cosineSql("p.qv", "a.embedding")
    s"""q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      probes AS (SELECT query_id, qv, cid AS bucket FROM (
        SELECT q.query_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY $cosQC DESC, c.cid) AS prn
        FROM q CROSS JOIN cent c) t WHERE prn <= 2),
      sims AS (SELECT p.query_id, a.vec_id AS neighbor_id, $cosQA AS sim
               FROM assign a JOIN probes p ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
      $simsRankCte"""
  }

  val q35IvfTopK: QueryDef = QueryDef(
    "q35_ivf_topk",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val assigned = Similarity.ivfAssign(emb, centroids)
      Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 10).select("vec_id"), k = 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }, {
      val cosQA = Similarity.cosineSql("q.qv", "a.embedding")
      Some(s"""
      WITH $ivfAssignCtes,
      q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM assign WHERE vec_id < 10),
      sims AS (SELECT q.query_id, a.vec_id AS neighbor_id, $cosQA AS sim
               FROM assign a JOIN q ON a.bucket = q.bucket AND a.vec_id <> q.query_id),
      $simsRankCte
      ${simsTopKSelect(3)}
    """)
    })

  // ------------------------------------------------------------------
  // q36 embedding-cosine near-dup pairs (blocked by label)
  // ------------------------------------------------------------------

  val q36CosineNearDup: QueryDef = QueryDef(
    "q36_cosine_near_dup",
    (s, dir) =>
      Similarity.cosineNearDupPairs(Tables.load(s, dir, "embeddings"),
          blockCol = "label", threshold = 0.3)
        .orderBy(col("blk"), col("id_a"), col("id_b")), {
      val cosXY = Similarity.cosineSql("x.embedding", "y.embedding")
      Some(s"""
      SELECT x.label AS blk, x.vec_id AS id_a, y.vec_id AS id_b,
             round($cosXY, 6) AS sim
      FROM embeddings x JOIN embeddings y
        ON x.label = y.label AND x.vec_id < y.vec_id
      WHERE $cosXY >= 0.3
      ORDER BY blk, id_a, id_b
    """)
    })

  // ------------------------------------------------------------------
  // q37 text stats (lang id, quality, token counts, fingerprint)
  // ------------------------------------------------------------------

  val q37TextStats: QueryDef = QueryDef(
    "q37_text_stats",
    (s, dir) => {
      val qcols = TextAnalysis.qualityColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      Tables.load(s, dir, "documents")
        .select(
          Seq(col("doc_id"),
            TextAnalysis.languageId(col("text")).as("lang_pred"),
            TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
            TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"),
            TextAnalysis.fingerprint(col("text")).as("fingerprint")) ++ qcols: _*)
        .orderBy(col("doc_id"))
    }, {
      val qsqls = TextAnalysis.qualitySqls("text")
        .map { case (n, e) => s"$e AS $n" }.mkString(",\n             ")
      Some(s"""
      SELECT doc_id,
             ${TextAnalysis.languageIdSql("text")} AS lang_pred,
             ${TextAnalysis.wsTokenCountSql("text")} AS ws_tokens,
             ${TextAnalysis.bpeishTokenCountSql("text")} AS bpeish_tokens,
             ${TextAnalysis.fingerprintSql("text")} AS fingerprint,
             $qsqls
      FROM documents
      ORDER BY doc_id
    """)
    })

  // ------------------------------------------------------------------
  // q38 corpus curation rollup (downstream of the per-doc stats)
  // ------------------------------------------------------------------

  val q38CurationRollup: QueryDef = QueryDef(
    "q38_curation_rollup",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val qcols = TextAnalysis.qualityColumns(col("text")).toMap
      docs.select(col("lang"), col("source"),
          qcols("quality_score").as("q"), qcols("n_tokens").as("nt"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("q")), 6).as("avg_quality"),
          sum(col("nt")).as("total_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    }, {
      val qsql = TextAnalysis.qualitySqls("text").toMap
      Some(s"""
      SELECT lang, COUNT(*) AS n_docs,
             round(AVG(${qsql("quality_score")}), 6) AS avg_quality,
             CAST(SUM(${qsql("n_tokens")}) AS BIGINT) AS total_tokens,
             COUNT(DISTINCT source) AS n_sources
      FROM documents
      GROUP BY lang
      ORDER BY lang
    """)
    })

  // ------------------------------------------------------------------
  // q84 near-dup clusters: minhash pairs → connected components
  // (keep-one-per-cluster canonical labels)
  // ------------------------------------------------------------------

  val q84MinhashClusters: QueryDef = QueryDef(
    "q84_minhash_clusters",
    (s, dir) => {
      val pairs = Dedup.minhashDedup(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        NumHashes, Bands, ShingleN, threshold = 0.8)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("v").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE $minhashPairCtes,
      $componentWalkCtes
      SELECT v AS doc_id, MIN(lbl) AS component
      FROM walk
      GROUP BY v
      ORDER BY doc_id
    """))

  // ------------------------------------------------------------------
  // q96 int8-quantized ANN: corpus quantized to tinyint (4-8x memory
  // cut — at 100 TB the vector store dominates), scored dequantized,
  // and the hash-stable contract is recall quality: the quantized
  // top-1's EXACT similarity must sit within 0.05 of the exact top-1.
  // The DuckDB twin computes the exact top-1 and TRUE, so a
  // quantization bug that changes picks beyond tolerance flips the
  // boolean and fails the gate.
  // ------------------------------------------------------------------

  val q96QuantizedAnn: QueryDef = QueryDef(
    "q96_quantized_ann",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 1)
        .select(col("query_id"), col("sim").as("exact_sim"))
      val q = broadcast(Similarity.queryVectors(queries, "vec_id", "embedding"))
      val deq = Similarity.quantizeInt8(emb, "vec_id", "embedding")
        .select(col("vec_id").as("neighbor_id"),
          Similarity.dequantize(col("qvec"), col("scale")).as("dv"))
        .withColumn("dn", Similarity.l2norm(col("dv")))
      val top1q = Similarity.rankTopK(
          deq.join(q, col("neighbor_id") =!= col("query_id")).withColumn("sim",
            Similarity.dot(col("qv"), col("dv")) / (col("qn") * col("dn"))), 1)
        .select(col("query_id"), col("neighbor_id"))
      val cv = emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"))
        .withColumn("cn", Similarity.l2norm(col("cv")))
      val qpick = top1q.join(cv, "neighbor_id").join(q, "query_id")
        .withColumn("qpick_sim",
          Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .select(col("query_id"), col("qpick_sim"))
      exact.join(qpick, "query_id")
        .select(col("query_id"), col("exact_sim"),
          (col("qpick_sim") >= col("exact_sim") - 0.05).as("recall_ok"))
        .orderBy(col("query_id"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      sims AS (SELECT query_id, neighbor_id, $cosQC AS sim
               FROM c JOIN q ON neighbor_id <> query_id),
      r AS (SELECT query_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rnk
            FROM sims)
      SELECT query_id, round(sim, 6) AS exact_sim, TRUE AS recall_ok
      FROM r WHERE rnk = 1
      ORDER BY query_id
    """))

  // ------------------------------------------------------------------
  // q108 winnowing fingerprints (rolling hash — MOSS)
  // ------------------------------------------------------------------

  /** Definitional DuckDB replay of the `winnow_fp` contract as a
    * WITH-clause body ending in `fp` = (doc_id, f) with `f` the
    * sorted-distinct fingerprint list — the polynomial k-gram hash
    * unrolled term-by-term, window minima via inclusive list slices.
    * Shared by q108 (per-doc summary) and the q189/q190 pair gates.
    */
  private def winnowFpCtes(k: Int, w: Int): String = {
    val M = graft.functions.Winnow.M
    val pows = Iterator.iterate(1L)(p => p * graft.functions.Winnow.B % M)
      .take(k).toSeq // pows(j) = B^j mod M
    val terms = (0 until k)
      .map(j => s"CAST(ord(s[i + $j]) AS BIGINT) * ${pows(k - 1 - j)}")
      .mkString(" + ")
    s"""wn AS (
        SELECT doc_id, replace(${TextOps.normalizeSql("text")}, ' ', '') AS s
        FROM documents),
      wh AS (
        SELECT doc_id,
          CASE WHEN length(s) >= $k THEN
            [ ($terms) % $M
              for i in generate_series(1, length(s) - ${k - 1}) ]
          ELSE [] END AS hs
        FROM wn),
      wmins AS (
        SELECT doc_id,
          CASE WHEN len(hs) = 0 THEN []
               WHEN len(hs) <= $w THEN [list_min(hs)]
               ELSE [ list_min(hs[i:i + ${w - 1}])
                      for i in generate_series(1, len(hs) - ${w - 1}) ]
          END AS ms
        FROM wh),
      fp AS (SELECT doc_id, list_sort(list_distinct(ms)) AS f FROM wmins)"""
  }

  /** Per-doc winnowed fingerprint summary over the codegen
    * `winnow_fp` expression ([[graft.functions.Winnow]]): k=7 char
    * grams, window w=4 — any ≥10-char shared substring between two
    * normalized documents yields a common fingerprint hash. The oracle
    * recomputes the polynomial hash definitionally (unrolled k terms)
    * and the window minima via inclusive list slices.
    */
  val q108WinnowFingerprint: QueryDef = {
    val (k, w) = (7, 4)
    QueryDef(
      "q108_winnow_fingerprint",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .withColumn("norm",
            regexp_replace(TextOps.normalize(col("text")), " ", ""))
          .withColumn("fp", expr(s"winnow_fp(norm, $k, $w)"))
          .select(
            col("doc_id"),
            size(col("fp")).cast("long").as("fp_n"),
            array_min(col("fp")).as("fp_min"),
            array_max(col("fp")).as("fp_max"),
            when(size(col("fp")) > 0,
              expr("aggregate(fp, cast(0 as bigint), (acc, x) -> acc + x)"))
              .as("fp_sum"))
          .orderBy(col("doc_id")),
      Some(s"""
      WITH ${winnowFpCtes(k, w)}
      SELECT doc_id,
             len(f) AS fp_n,
             list_min(f) AS fp_min,
             list_max(f) AS fp_max,
             CAST(list_sum(f) AS BIGINT) AS fp_sum
      FROM fp
      ORDER BY doc_id
    """))
  }

  /** The q189/q190 oracle: fresh whole-corpus winnowing pairs
    * (source-blocked, capped, i >= 2), with an optional extra
    * predicate (q190 restricts to snapshot-endpoint pairs — the
    * incremental path must equal exactly this).
    */
  private def winnowPairOracleSql(extraPred: String): String = s"""
      WITH ${winnowFpCtes(7, 4)},
      wblk AS (SELECT doc_id, source FROM documents WHERE source IS NOT NULL),
      whd AS (SELECT doc_id, unnest(f) AS h FROM fp),
      wcnts AS (SELECT doc_id, CAST(len(f) AS BIGINT) AS n FROM fp),
      wpb AS (SELECT b.source AS blk, whd.doc_id, whd.h
              FROM whd JOIN wblk b ON b.doc_id = whd.doc_id),
      wcap AS (SELECT blk, doc_id, h FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY blk, h) AS pn FROM wpb) t
        WHERE pn <= 10000),
      winter AS (SELECT x.blk, x.doc_id AS doc_a, y.doc_id AS doc_b,
                        COUNT(*) AS i
                 FROM wcap x
                 JOIN wcap y ON y.blk = x.blk AND y.h = x.h
                            AND x.doc_id < y.doc_id
                 GROUP BY 1, 2, 3)
      SELECT t.blk, t.doc_a, t.doc_b, ca.n AS na, cb.n AS nb,
             CAST(t.i AS BIGINT) AS i
      FROM winter t
      JOIN wcnts ca ON ca.doc_id = t.doc_a
      JOIN wcnts cb ON cb.doc_id = t.doc_b
      WHERE t.i >= 2 AND ($extraPred)
      ORDER BY blk, doc_a, doc_b
    """

  /** Winnowing PAIRS ([[graft.operators.Dedup.winnowPairs]]): the pair
    * layer over q108's fingerprints — per source block, documents
    * sharing ≥ 2 winnowing fingerprints, i.e. at least two independent
    * witnesses of a shared ≥ 10-char substring. The local-overlap gate
    * (quotes, partial copies) that global Jaccard/MinHash miss; all
    * output columns are exact integers.
    */
  val q189WinnowPairs: QueryDef = QueryDef(
    "q189_winnow_pairs",
    (s, dir) =>
      Dedup.winnowPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", blockCol = "source")
        .orderBy(col("blk"), col("doc_a"), col("doc_b")),
    Some(winnowPairOracleSql("TRUE")))

  /** Incremental winnowing pairs against the WRITTEN postings index —
    * the SEVENTH incremental-dedup family member (exact, minhash,
    * containment, simhash, block, semantic, now winnowing): base 2/3
    * indexed, the % 3 = 0 snapshot appended delta-sized, pairs served
    * from a shard-pruned probe of the snapshot's fingerprint shards.
    * Every shared fingerprint of a snapshot-endpoint pair is a
    * snapshot fingerprint, so the pruned scan is COMPLETE for exactly
    * the pairs the day-2 run owes. Oracle: the fresh q189 replay
    * restricted to snapshot-endpoint pairs.
    */
  val q190WinnowIncremental: QueryDef = Scenario(
    "q190_winnow_incremental", Scenario.Winnow, Split(3, 0), Append,
    Some(winnowPairOracleSql("doc_a % 3 = 0 OR doc_b % 3 = 0")))

  /** The PRUNED REGIME of the winnowing probe — q190's lifecycle with
    * the realistic SMALL delta (the ~1% snapshot a daily crawl drop
    * is, vs q190's quarter-corpus worst case, whose pair emission is
    * corpus-linear by construction): base ≈99% indexed, the % 97 = 5
    * snapshot appended, pairs served from the same
    * [[graft.operators.Dedup.winnowPairsIndexed]] probe. Two pruning
    * levels now engage: the snapshot's fingerprint shards prune the
    * scan (PartitionFilters — pinned in PlanSpec), and the (blk, h)
    * SEMI JOIN against the delta's own fingerprint set prunes pair
    * emission to the matched posting lists (AQE re-plans it broadcast
    * at this delta size) — the shape whose cost tracks the DELTA, not
    * the corpus, which the sf1/sf3 band points measure. Oracle: the
    * fresh whole-corpus replay restricted to snapshot-endpoint pairs,
    * exactly q190's equality at the new split.
    */
  val q219WinnowSmallDelta: QueryDef = Scenario(
    "q219_winnow_small_delta", Scenario.Winnow, Split(97, 5), Append,
    Some(winnowPairOracleSql("doc_a % 97 = 5 OR doc_b % 97 = 5")))

  /** Streaming ingest into the winnowing postings index
    * ([[graft.streaming.IndexIngest.winnowBatch]]): the % 3 = 0
    * snapshot arrives as a stream in micro-batch chunks, each appended
    * as its own posting generation, and the standing probe must
    * hash-equal the SAME fresh-restricted oracle as q190 — posting
    * rows depend only on their own document, generations partition the
    * delta, and the probe reads their union, so batch boundaries
    * provably cannot move a pair.
    */
  val q191StreamingWinnowIngest: QueryDef = Scenario(
    "q191_streaming_winnow_ingest", Scenario.Winnow, Split(3, 0), Stream,
    Some(winnowPairOracleSql("doc_a % 3 = 0 OR doc_b % 3 = 0")))

  /** The q220/q221 oracle: maximal cross-document repeated substrings
    * of length ≥ minLen normalized chars — the full window-fingerprint
    * + diagonal-merge replay (same md5 window keys, same posting cap,
    * same gaps-and-islands run numbering), with an optional extra
    * predicate (q221 restricts to snapshot-endpoint pairs).
    */
  private def substringPairOracleSql(minLen: Int,
      extraPred: String): String = s"""
      WITH snrm AS (SELECT doc_id,
                           regexp_replace(${TextOps.normalizeSql("text")},
                             ' ', '', 'g') AS norm
                    FROM documents),
      sws AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     md5(substring(norm, CAST(i + 1 AS BIGINT), $minLen))
                       AS h
              FROM (SELECT doc_id, norm,
                           unnest(generate_series(0,
                             CAST(length(norm) - $minLen AS BIGINT))) AS i
                    FROM snrm WHERE length(norm) >= $minLen)),
      scap AS (SELECT doc_id, pos, h FROM (
                 SELECT *, COUNT(*) OVER (PARTITION BY h) AS pn
                 FROM sws) t
               WHERE pn <= 200),
      sp AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                    x.pos AS pa, y.pos AS pb, x.pos - y.pos AS d
             FROM scap x
             JOIN scap y ON y.h = x.h AND x.doc_id < y.doc_id),
      sruns AS (SELECT doc_a, doc_b, d, pa, pb,
                       CASE WHEN pa - lag(pa) OVER (PARTITION BY doc_a,
                              doc_b, d ORDER BY pa) = 1
                            THEN 0 ELSE 1 END AS brk
                FROM sp),
      sruns2 AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_a, doc_b, d
                            ORDER BY pa) AS run
                 FROM sruns)
      SELECT doc_a, doc_b,
             CAST(MIN(pa) AS BIGINT) AS pos_a,
             CAST(MIN(pb) AS BIGINT) AS pos_b,
             CAST(MAX(pa) - MIN(pa) + $minLen AS BIGINT) AS len
      FROM sruns2
      WHERE $extraPred
      GROUP BY doc_a, doc_b, d, run
      ORDER BY doc_a, doc_b, pos_a, pos_b
    """

  /** EXACT-SUBSTRING dedup at arbitrary offsets ([[graft.operators
    * .SubstringDedup.substringPairs]]) — the full Lee et al. 2021
    * contract the fixed-block member (q123/q172) approximates:
    * every MAXIMAL repeated substring of ≥ 12 normalized chars
    * between two documents, wherever it starts, as (doc_a, doc_b,
    * pos_a, pos_b, len) runs. The oracle replays the identical
    * window-fingerprint + posting-cap + diagonal gaps-and-islands
    * derivation — a wrong window key, a broken run merge, or a cap
    * drift all hash-fail.
    */
  val q220SubstringPairs: QueryDef = QueryDef(
    "q220_substring_pairs",
    (s, dir) =>
      graft.operators.SubstringDedup.substringPairs(
          Tables.load(s, dir, "documents"), "doc_id", "text", minLen = 12)
        .orderBy(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b")),
    Some(substringPairOracleSql(12, "TRUE")))

  /** The written-index member of the exact-substring family
    * ([[graft.operators.SubstringDedup.substringWriteIndex]] /
    * [[graft.operators.SubstringDedup.substringPairsIndexed]]) —
    * the postings contract at stride 1: base 2/3 indexed, the
    * % 3 = 0 snapshot appended delta-sized, maximal repeats served
    * from a probe that prunes BOTH ways (the snapshot's window-hash
    * shards as PartitionFilters, an (h) semi join against the
    * snapshot's own window set gating pair emission). Oracle: the
    * fresh whole-corpus replay restricted to snapshot-endpoint pairs
    * — q190's family equality on the arbitrary-offset member.
    */
  val q221SubstringIncremental: QueryDef = Scenario(
    "q221_substring_incremental", Scenario.Substring, Split(3, 0), Append,
    Some(substringPairOracleSql(12, "doc_a % 3 = 0 OR doc_b % 3 = 0")))

  // ------------------------------------------------------------------
  // q114 hyperplane-LSH near-dup pairs (global, no blocking column)
  // ------------------------------------------------------------------

  /** Random-hyperplane LSH over the whole corpus — the scale path when
    * no blocking column exists (q36 needs one). The 16 Rademacher
    * hyperplanes are hash-derived constants, so the oracle embeds the
    * identical ±1 literals and replays the same sign-bit/band/cap/verify
    * pipeline; dot products accumulate left-to-right on both engines.
    */
  val q114LshNearDup: QueryDef = {
    val dim = 64
    val numPlanes = 16
    val bands = 4
    val planes = Similarity.hyperplanes(numPlanes, dim)
    def dotSql(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> p[1] * p[2]))"
    val bitExprs = planes.zipWithIndex.map { case (p, j) =>
      val lit = p.map(d => if (d > 0) "1.0" else "-1.0")
        .mkString("CAST([", ", ", "] AS DOUBLE[])")
      s"CASE WHEN ${dotSql("v", lit)} >= 0 THEN 1 ELSE 0 END AS b$j"
    }.mkString(",\n               ")
    val rows = numPlanes / bands
    val bandSelects = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"b${b * rows + r}").mkString(", ")
      s"SELECT id, concat_ws('_', $b, $cols) AS bk FROM s"
    }.mkString("\n        UNION ALL ")
    QueryDef(
      "q114_lsh_near_dup",
      (s, dir) =>
        Similarity.lshNearDupPairs(Tables.load(s, dir, "embeddings"),
            threshold = 0.3, dim = dim, numPlanes = numPlanes, bands = bands)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""
        WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        s AS (SELECT id, $bitExprs FROM v),
        bands AS ($bandSelects),
        capped AS (SELECT id, bk FROM (
          SELECT id, bk, COUNT(*) OVER (PARTITION BY bk) AS bn FROM bands) t
          WHERE bn <= 1000),
        cands AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
                  FROM capped x JOIN capped y ON x.bk = y.bk AND x.id < y.id),
        n AS (SELECT id, v, sqrt(${dotSql("v", "v")}) AS vn FROM v)
        SELECT c.id_a, c.id_b,
               round(${dotSql("a.v", "b.v")} / (a.vn * b.vn), 6) AS sim
        FROM cands c
        JOIN n a ON a.id = c.id_a
        JOIN n b ON b.id = c.id_b
        WHERE ${dotSql("a.v", "b.v")} / (a.vn * b.vn) >= 0.3
        ORDER BY id_a, id_b
      """))
  }

  // ------------------------------------------------------------------
  // q123 block-level exact dedup with document reassembly
  // ------------------------------------------------------------------

  /** Sub-document dedup (Lee et al. '21 exact-substring dedup at
    * fixed 12-token blocks): distinct block content survives only at
    * its globally first (doc_id, block_idx) occurrence, and each
    * document is reassembled from its survivors. Two shuffles
    * (fingerprint window, doc_id reassembly); the oracle replays the
    * identical keep-first rule over the same md5 fingerprints.
    */
  val q123BlockDedup: QueryDef = {
    val B = 12
    QueryDef(
      "q123_block_dedup",
      (s, dir) =>
        Dedup.blockDedup(Tables.load(s, dir, "documents"), "doc_id", "text",
            blockTokens = B)
          .orderBy(col("doc_id")),
      Some(s"""
        WITH ${blockDedupCtesFrom("documents", B)}
        SELECT doc_id, n_blocks, n_kept, text_deduped
        FROM bd
        ORDER BY doc_id
      """))
  }

  // ------------------------------------------------------------------
  // q125 near-dup cluster representatives (keep-best-per-cluster)
  // ------------------------------------------------------------------

  /** The collapse step after q84's clustering: every document labeled
    * with its cluster (component, or itself when unpaired), one
    * representative kept per cluster — longest text wins, ties to the
    * smallest id. The oracle reuses the same recursive-CTE component
    * labels as q84 and replays the window choice.
    */
  val q125ClusterReps: QueryDef = QueryDef(
    "q125_cluster_reps",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.minhashDedup(docs, "doc_id", "text",
        NumHashes, Bands, ShingleN, threshold = 0.8)
      Dedup.clusterRepresentatives(docs, pairs, "doc_id", "n_chars")
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE $minhashPairCtes,
      $componentWalkCtes,
      comp AS (SELECT v, MIN(lbl) AS component FROM walk GROUP BY v),
      lab AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster,
                     d.n_chars
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.v)
      SELECT doc_id, cluster,
             (row_number() OVER (PARTITION BY cluster
                                 ORDER BY n_chars DESC, doc_id) = 1) AS kept
      FROM lab
      ORDER BY doc_id
    """))

  // ------------------------------------------------------------------
  // q126 TF-IDF keyword extraction
  // ------------------------------------------------------------------

  /** Top-5 TF-IDF keywords per document. Term counts and document
    * frequencies partial-aggregate before their shuffles; N broadcasts
    * as a one-row aggregate; ranking uses the rounded score so float
    * ties break identically across engines.
    */
  val q126TfidfTopK: QueryDef = QueryDef(
    "q126_tfidf_topk",
    (s, dir) =>
      TextAnalysis.tfidfTopK(Tables.load(s, dir, "documents"), "doc_id",
          "text", k = 5)
        .orderBy(col("doc_id"), col("rk")),
    Some(s"""
      WITH toks AS (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok
                    FROM documents),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (SELECT t.doc_id, t.tok, t.tf, d.df,
                        round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / (1.0 + d.df)), 6)
                          AS tfidf
                 FROM tf t JOIN dfreq d USING (tok) CROSS JOIN nd n),
      ranked AS (SELECT *,
                        CAST(row_number() OVER (PARTITION BY doc_id
                                                ORDER BY tfidf DESC, tok)
                             AS BIGINT) AS rk
                 FROM scored)
      SELECT doc_id, tok, tf, df, tfidf, rk
      FROM ranked
      WHERE rk <= 5
      ORDER BY doc_id, rk
    """))

  // ------------------------------------------------------------------
  // q128 deterministic Lloyd k-means / q129 SemDeDup
  // ------------------------------------------------------------------

  /** Oracle CTE prefix reproducing [[Clustering.kmeansAssign]] exactly:
    * init = first 8 vectors, 2 Lloyd rounds with the fixed-point
    * centroid update, `a3` = final assignment, `c2` = final centroids.
    * Shared by the q128 summary and the q129 SemDeDup oracle so the
    * two can never drift apart.
    */
  private def kmeansAssignSql(src: String, cent: String): String = {
    def dot(x: String, y: String) = Similarity.dotSql(x, y)
    val d2 = s"${dot("t.v", "t.v")} - 2.0*${dot("t.v", "c.centroid")} + ${dot("c.centroid", "c.centroid")}"
    s"""(SELECT vec_id, v, cid, d2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid) AS rn FROM (
            SELECT t.vec_id, t.v, c.cid, $d2 AS d2
            FROM $src t CROSS JOIN $cent c) z1) z2 WHERE rn = 1)"""
  }

  private def kmeansUpdateSql(a: String): String =
    s"""(WITH e AS (SELECT cid, v, unnest(generate_series(1, len(v))) AS pos FROM $a),
          s AS (SELECT cid, pos, SUM(CAST(FLOOR(v[pos] * 1000000.0) AS BIGINT)) AS s,
                       COUNT(*) AS n
                FROM e GROUP BY 1, 2)
          SELECT cid, array_agg(FLOOR(s / n) / 1000000.0 ORDER BY pos) AS centroid
          FROM s GROUP BY 1)"""

  private def kmeansOracleCtes: String =
    s"""corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS centroid FROM corpus WHERE vec_id < 8),
      a1 AS ${kmeansAssignSql("corpus", "c0")},
      c1 AS ${kmeansUpdateSql("a1")},
      a2 AS ${kmeansAssignSql("corpus", "c1")},
      c2 AS ${kmeansUpdateSql("a2")},
      a3 AS ${kmeansAssignSql("corpus", "c2")}"""

  /** Day-2 split variant of [[kmeansOracleCtes]], shared by the
    * semantic-index oracles (q173/q175): trains `c2` with 2 Lloyd
    * rounds on the BASE slice only (`basePred` — the frozen-centroid
    * family of the written index build), then assigns the FULL corpus
    * to those frozen centroids (`au`) — the fresh-union replay that
    * the build→append→serve engine path must hash-equal.
    */
  private def kmeansBaseTrainCtes(basePred: String): String =
    s"""corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      base AS (SELECT * FROM corpus WHERE $basePred),
      c0 AS (SELECT vec_id AS cid, v AS centroid FROM base WHERE vec_id < 8),
      a1 AS ${kmeansAssignSql("base", "c0")},
      c1 AS ${kmeansUpdateSql("a1")},
      a2 AS ${kmeansAssignSql("base", "c1")},
      c2 AS ${kmeansUpdateSql("a2")},
      au AS ${kmeansAssignSql("corpus", "c2")}"""

  /** CTEs csz → rm after [[kmeansOracleCtes]]: `rm` = every vector with
    * a smaller-id neighbor at cosine >= 0.3 in its final cluster, over
    * clusters of at most `maxClusterSize` (the engine's cap). */
  private def semDedupRemovedCtes(maxClusterSize: Int): String = {
    val cosXY = Similarity.cosineSql("x.v", "y.v")
    s"""csz AS (SELECT cid, COUNT(*) AS cn FROM a3 GROUP BY 1),
        rm AS (SELECT DISTINCT y.vec_id
               FROM a3 x
               JOIN a3 y ON x.cid = y.cid AND x.vec_id < y.vec_id
               JOIN csz z ON z.cid = x.cid AND z.cn <= $maxClusterSize
               WHERE $cosXY >= 0.3)"""
  }

  private def kmeansInit(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("centroid"))

  /** Per-cluster summary after 2 deterministic Lloyd rounds: size,
    * centroid norm, and fixed-point-summed inertia (sum of d2 doubles
    * would be order-dependent; the quantized longs are not).
    */
  val q128Kmeans: QueryDef = QueryDef(
    "q128_kmeans",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cent = Clustering.lloydCentroids(emb, kmeansInit(s, dir), iters = 2)
      Clustering.assignL2(emb, cent)
        .withColumn("d2f", floor(col("d2") * lit(1000000.0)))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sum(col("d2f")).as("sf"))
        .join(cent, "cid")
        .select(col("cid"), col("n"),
          round(sqrt(Similarity.dot(col("centroid"), col("centroid"))), 6)
            .as("cnorm"),
          round(col("sf") / lit(1000000.0), 6).as("inertia"))
        .orderBy(col("cid"))
    },
    Some(s"""
      WITH $kmeansOracleCtes,
      stats AS (SELECT cid, COUNT(*) AS n,
                       SUM(CAST(FLOOR(d2 * 1000000.0) AS BIGINT)) AS sf
                FROM a3 GROUP BY 1)
      SELECT s.cid, CAST(s.n AS BIGINT) AS n,
             round(sqrt(${Similarity.dotSql("c.centroid", "c.centroid")}), 6) AS cnorm,
             round(s.sf / 1000000.0, 6) AS inertia
      FROM stats s JOIN c2 c USING (cid)
      ORDER BY cid
    """))

  /** SemDeDup over the k-means clusters: within each cluster a vector
    * is dropped when a smaller-id neighbor sits at cosine >= 0.3.
    * The oracle MIRRORS the engine's cluster-size cap (over-cap
    * clusters contribute no pairs — all members kept), so the two
    * stay in lockstep if a fixture ever grows a cluster past the cap
    * instead of silently diverging.
    */
  val q129SemDedup: QueryDef = {
    val MaxClusterSize = 10000
    QueryDef(
      "q129_semdedup",
      (s, dir) =>
        Clustering.semDedup(Tables.load(s, dir, "embeddings"),
            kmeansInit(s, dir), iters = 2, threshold = 0.3,
            maxClusterSize = MaxClusterSize)
          .orderBy(col("cid"), col("vec_id")),
        Some(s"""
        WITH $kmeansOracleCtes,
        ${semDedupRemovedCtes(MaxClusterSize)}
        SELECT a.cid, a.vec_id, (r.vec_id IS NULL) AS kept
        FROM a3 a LEFT JOIN rm r USING (vec_id)
        ORDER BY cid, vec_id
      """))
  }

  // ------------------------------------------------------------------
  // q133 IVF with nprobe>1 (recall knob vs exact top-k)
  // ------------------------------------------------------------------

  /** IVF top-3 at nprobe=2 (each query probes its two nearest centroid
    * buckets), measured against exact brute-force top-3: each returned
    * row carries `in_exact` (is this neighbor in the exact top-3?) and
    * the per-query `recall3`. The single-probe q35 form cliffs when a
    * query sits near a Voronoi boundary and its true neighbors landed
    * in the adjacent cell — nprobe=2 is the standard recall/cost knob.
    * The oracle replays probe ranking, bucket-union scoring, and the
    * exact-top-3 comparison; [[graft.PlanSpec]] pins that the scoring
    * join stays bucket-keyed with no cartesian.
    */
  val q133IvfNprobe: QueryDef = QueryDef(
    "q133_ivf_nprobe",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val assigned = Similarity.ivfAssign(emb, centroids)
      val queries = emb.filter(col("vec_id") < 10)
      withExactRecall3(Similarity.ivfTopKProbed(assigned, centroids,
        queries.select("vec_id"), k = 3, nprobe = 2), emb, queries)
    }, {
      val cosQE = Similarity.cosineSql("q.qv", "e.embedding")
      Some(s"""
      WITH $ivfAssignCtes,
      $ivfProbeRankCtes,
      ivf AS (SELECT query_id, rnk, neighbor_id, sim FROM r WHERE rnk <= 3),
      xr AS (SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY $cosQE DESC, e.vec_id) AS xrn
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id) z WHERE xrn <= 3)
      SELECT i.query_id, CAST(i.rnk AS INT) AS rnk, i.neighbor_id,
             round(i.sim, 6) AS sim,
             (x.neighbor_id IS NOT NULL) AS in_exact,
             round(SUM(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY i.query_id) / 3.0, 6) AS recall3
      FROM ivf i LEFT JOIN xr x ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
      ORDER BY i.query_id, i.rnk
    """)
    })

  // ------------------------------------------------------------------
  // q132 flagship pipeline v3: the embedding-side operators composed
  // ------------------------------------------------------------------

  /** Third composition proof — the embedding-side analog of q127:
    * deterministic k-means (2 Lloyd rounds) → SemDeDup semantic prune
    * → unigram-LM quality filter computed ON THE SURVIVORS' OWN token
    * distribution (the realistic order: dedup first, else duplicate
    * mass skews the LM) → concat-and-cut sequence packing of the docs
    * that pass both gates → per-shard rollup. One declarative plan per
    * stage: the SemDeDup survivors' (doc_id, text) frame is
    * localCheckpoint'ed ONCE because three downstream consumers read
    * it (the NLL token stats, the post-filter join, the packing scan) —
    * without it the documents parquet would re-scan per consumer
    * (exactly the double-scan q127 caught in q126). Driver round-trips
    * are only the bounded K-row Lloyd collects inside
    * [[graft.operators.Clustering.lloydCentroids]]. The NLL threshold
    * 3.402 is the kept-subset median at test scale, so both quality
    * classes stay populated at every fixture SF. The oracle replays
    * the identical chain off the SHARED k-means CTE prefix
    * ([[kmeansOracleCtes]] — the same text q128/q129 embed, so the
    * stages can never drift), then the q129 cap-mirrored prune, the
    * q130 NLL arithmetic, and the q131 offset arithmetic.
    */
  val q132CurationV3: QueryDef = {
    val NllT = 3.402
    val MaxClusterSize = 10000
    QueryDef(
      "q132_curation_v3",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val docs = Tables.load(s, dir, "documents")
        val sd = Clustering.semDedup(emb, kmeansInit(s, dir), iters = 2,
          threshold = 0.3, maxClusterSize = MaxClusterSize)
        val kept = docs
          .join(sd.filter(col("kept")).select(col("vec_id").as("doc_id")),
            "doc_id")
          .select(col("doc_id"), col("text"))
          .localCheckpoint()
        val nll = TextAnalysis.unigramNll(kept, "doc_id", "text", NllT)
        val good = kept.join(nll.filter(col("kept")).select("doc_id"), "doc_id")
        Curation.packSequences(good, "doc_id", "text", seqLen = 64)
          .groupBy(col("shard"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(col("seq_idx")).as("n_seqs"),
            sum(col("n_toks_in_seq")).as("n_toks"))
          .orderBy(col("shard"))
      }, {
        val toks = TextOps.tokensSql("text")
        Some(s"""
        WITH $kmeansOracleCtes,
        ${semDedupRemovedCtes(MaxClusterSize)},
        keptv AS (SELECT a.vec_id FROM a3 a LEFT JOIN rm r USING (vec_id)
                  WHERE r.vec_id IS NULL),
        docs2 AS (SELECT d.doc_id, d.text FROM documents d
                  JOIN keptv k ON d.doc_id = k.vec_id),
        tk AS (SELECT doc_id, unnest($toks) AS tok FROM docs2),
        ${CurationQueries.unigramLogProbCtes},
        agg AS (SELECT doc_id, SUM(tf * lpf) AS s, SUM(tf) AS n_tok
                FROM sc GROUP BY 1),
        goodd AS (SELECT d2.doc_id, d2.text FROM docs2 d2 JOIN agg g USING (doc_id)
                  WHERE round(-(g.s) / (1000000.0 * g.n_tok), 6) <= $NllT),
        t AS (SELECT doc_id,
                     md5(CAST(doc_id AS VARCHAR)) AS key,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
                     CAST(len($toks) AS BIGINT) AS n
              FROM goodd),
        ${CurationQueries.packOffsetCtes(64)},
        pk AS (SELECT doc_id, shard, CAST(seq_idx AS BIGINT) AS seq_idx,
                      CAST(least(s + n, (seq_idx + 1) * 64)
                           - greatest(s, seq_idx * 64) AS BIGINT) AS n_toks_in_seq
               FROM e)
        SELECT shard,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT seq_idx) AS BIGINT) AS n_seqs,
               CAST(SUM(n_toks_in_seq) AS BIGINT) AS n_toks
        FROM pk
        GROUP BY shard
        ORDER BY shard
      """)
      })
  }

  // ------------------------------------------------------------------
  // q134 IVF index serving (bucket-partitioned layout, pruned scan)
  // ------------------------------------------------------------------

  /** Shared fresh-build IVF serving oracle (q134 AND q137): assignment
    * of the FULL corpus, nprobe=2 probe ranking, bucket-union scoring,
    * top-3. q137's engine side serves from a base-build + delta-append
    * layout — hash-equality against this fresh-build replay IS the
    * proof that append composes to the union build.
    */
  private def ivfIndexOracleSql: String = s"""
      WITH $ivfAssignCtes,
      $ivfProbeRankCtes
      ${simsTopKSelect(3)}
    """

  /** The missing piece of the IVF lifecycle: build once, serve many.
    * The assigned corpus is written as parquet PARTITIONED BY bucket
    * (per-JVM workspace — [[graft.operators.TmpWorkspaces]]), then the
    * query batch is served from the index at nprobe=2 through a
    * partition-PRUNED scan: only the probed buckets' directories are
    * read (~nprobe/K of the corpus at 100 TB), vs [[q35IvfTopK]]'s
    * re-assign-and-scan per batch. Results are semantically identical
    * to [[q133IvfNprobe]]'s probed top-k (the oracle replays the same
    * ranking); the write→partition→read round-trip is what this query
    * gates — a float-precision or partition-value corruption in the
    * layout hash-fails.
    */
  val q134IvfIndex: QueryDef = QueryDef(
    "q134_ivf_index",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val path = Scenario.workspace("q134_ivf_index", "ivfidx", dir)
      Similarity.ivfWriteIndex(Similarity.ivfAssign(emb, centroids),
        path)
      Similarity.ivfTopKIndexed(s, path, centroids,
          emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
          k = 3, nprobe = 2)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(ivfIndexOracleSql))

  // ------------------------------------------------------------------
  // q137 incremental IVF index append (build → append → serve ≡ fresh)
  // ------------------------------------------------------------------

  /** The day-2 serving operation q134 lacked: an index built from 3/4
    * of the corpus receives the remaining quarter through
    * [[graft.operators.Similarity.ivfAppendIndex]] — delta-sized work,
    * the base is never read back — and the served top-3 must
    * HASH-EQUAL the fresh-build-on-union oracle ([[ivfIndexOracleSql]],
    * shared with q134 verbatim). Per-vector assignment is independent
    * of the rest of the corpus, so append commutes with build; this
    * query gates that the write path actually preserves it (a
    * partition-value corruption, a schema drift between write and
    * append, or an overwrite-instead-of-append all hash-fail).
    */
  val q137IvfAppend: QueryDef = Scenario(
    "q137_ivf_append", Scenario.Ivf, Split(4, 0), Append,
    Some(ivfIndexOracleSql))

  // ------------------------------------------------------------------
  // q183 IVF recall@k audit (pruned serve vs exact over the index)
  // ------------------------------------------------------------------

  /** The QUALITY audit the structural ones (q142 duplicates, q145
    * stats) don't give: recall@k of the nprobe-pruned serve against
    * exact brute force over the SAME written index
    * ([[graft.operators.Similarity.ivfRecallAudit]]). Recall decays
    * silently as the data distribution leaves the frozen centroids —
    * this is the measurement that turns "retrain the centroids?" into
    * a number, on the retrieval results themselves. The oracle replays
    * BOTH rankings (assignment → probe → pruned top-5, and the exact
    * top-5) and the per-query intersection counts; one neighbor
    * swapped by a ranking or a partition-value corruption moves
    * n_hit and hash-fails that query's row.
    */
  val q183IvfRecall: QueryDef = QueryDef(
    "q183_ivf_recall",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val path = Scenario.workspace("q183_ivf_recall", "ivfidx", dir)
      Similarity.ivfWriteIndex(Similarity.ivfAssign(emb, centroids),
        path)
      Similarity.ivfRecallAudit(s, path, centroids,
          emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
          k = 5, nprobe = 2)
        .orderBy(col("query_id"))
    }, {
      val cosEC = Similarity.cosineSql("e.embedding", "c.centv")
      val cosQC = Similarity.cosineSql("q.qv", "c.centv")
      val cosQA = Similarity.cosineSql("p.qv", "a.embedding")
      val cosQE = Similarity.cosineSql("qq.qv", "e.embedding")
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS centv
                      FROM embeddings WHERE vec_id % 50 = 0),
        assign AS (SELECT vec_id, embedding, cid AS bucket FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                    ORDER BY $cosEC DESC, c.cid) AS crn
          FROM embeddings e CROSS JOIN cent c) t WHERE crn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 10),
        probes AS (SELECT query_id, qv, cid AS bucket FROM (
          SELECT q.query_id, q.qv, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                                    ORDER BY $cosQC DESC, c.cid) AS prn
          FROM q CROSS JOIN cent c) t WHERE prn <= 2),
        served AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rnk
          FROM (SELECT p.query_id, a.vec_id AS neighbor_id, $cosQA AS sim
                FROM assign a JOIN probes p ON a.bucket = p.bucket
                 AND a.vec_id <> p.query_id)) WHERE rnk <= 5),
        ex AS (SELECT query_id, neighbor_id FROM (
          SELECT qq.query_id, e.vec_id AS neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY qq.query_id
                                    ORDER BY $cosQE DESC, e.vec_id) AS rn
          FROM q qq CROSS JOIN embeddings e
          WHERE e.vec_id <> qq.query_id) WHERE rn <= 5)
        SELECT x.query_id, CAST(5 AS INT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hit,
               round(CAST(COUNT(s.neighbor_id) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS recall
        FROM ex x LEFT JOIN served s
          ON x.query_id = s.query_id AND x.neighbor_id = s.neighbor_id
        GROUP BY 1 ORDER BY 1
      """)
    })

  // ------------------------------------------------------------------
  // Shared DuckDB replay of the fixed-point PQ training arithmetic
  // ------------------------------------------------------------------

  /** Oracle-side builders for the [[graft.operators.Pq]] training
    * contract — per-(vector, subspace) nearest-code assignment with
    * code-asc tie-break and the `floor(sum(floor(c·10⁶))/n)/10⁶`
    * fixed-point centroid update — shared by every PQ oracle (q136,
    * q138, q139, q140; ADVICE.md r10 flagged the q138 verbatim copy).
    * Parameterized only by the subspace width `W`; the column
    * conventions (`vec_id`, `sub`/`j`, `code`, `sv`, `centroid`) are
    * fixed across the oracles.
    */
  private final class PqOracleSql(val W: Int) {
    def sub(v: String, j: String): String =
      s"list_slice($v, ($j)*$W+1, (($j)+1)*$W)"
    def d2(sv: String, cent: String): String =
      s"${Similarity.dotSql(sv, sv)} - 2.0*${Similarity.dotSql(sv, cent)}" +
        s" + ${Similarity.dotSql(cent, cent)}"
    // one Lloyd half-step: nearest-code assignment per (vector, subspace)
    def assign(svT: String, cbT: String): String =
      s"""(SELECT vec_id, sub, code, sv FROM (
             SELECT t.vec_id, t.j AS sub, c.code, t.sv,
                    ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.j
                      ORDER BY ${d2("t.sv", "c.centroid")} ASC, c.code) AS rn
             FROM $svT t JOIN $cbT c ON c.sub = t.j) z WHERE rn = 1)"""
    // the fixed-point centroid update keyed by (sub, code, pos)
    def update(aT: String): String =
      s"""(SELECT sub, code,
                  array_agg(FLOOR(s / n) / 1000000.0 ORDER BY pos) AS centroid
           FROM (SELECT sub, code, pos,
                        SUM(CAST(FLOOR(sv[pos] * 1000000.0) AS BIGINT)) AS s,
                        COUNT(*) AS n
                 FROM (SELECT sub, code, sv,
                              unnest(generate_series(1, len(sv))) AS pos
                       FROM $aT) e
                 GROUP BY 1, 2, 3) st
           GROUP BY 1, 2)"""
  }

  /** Shared engine tail of the ANN gate queries (q133/q136/q138–q143):
    * left-join the exact brute-force top-3 and emit the
    * `in_exact`/`recall3` columns of the q133 pattern. `approx` is a
    * (query_id, rank, neighbor_id, sim) top-3 frame.
    */
  private[queries] def withExactRecall3(approx: DataFrame, emb: DataFrame,
      queries: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))
    val w = Window.partitionBy(col("query_id"))
    approx.withColumnRenamed("rank", "rnk")
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .withColumn("in_exact", coalesce(col("hit"), lit(false)))
      .withColumn("recall3", round(
        sum(when(col("in_exact"), lit(1L)).otherwise(lit(0L))).over(w)
          / lit(3.0), 6))
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("sim"), col("in_exact"), col("recall3"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** `xr AS (...)`: each `q` query's exact top-`k` neighbor ids by
    * brute-force cosine over `corpus` (self excluded, ties to the
    * smaller id). */
  private def exactTopKCte(k: Int): String = {
    val cosQE = Similarity.cosineSql("q.qv", "e.v")
    s"""xr AS (SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                         ORDER BY $cosQE DESC, e.vec_id) AS xrn
                FROM corpus e CROSS JOIN q WHERE e.vec_id <> q.query_id) z
               WHERE xrn <= $k)"""
  }

  /** The oracle twin of [[withExactRecall3]] over the served top-3
    * relation `served` (query_id, rnk, neighbor_id, sim): the exact
    * top-3 `xr` and the `in_exact` / `recall3` columns. */
  private def exactRecall3Sql(served: String): String = s"""${exactTopKCte(3)}
        SELECT p.query_id, CAST(p.rnk AS INT) AS rnk, p.neighbor_id,
               round(p.sim, 6) AS sim,
               (x.neighbor_id IS NOT NULL) AS in_exact,
               round(SUM(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                     OVER (PARTITION BY p.query_id) / 3.0, 6) AS recall3
        FROM $served p LEFT JOIN xr x
          ON p.query_id = x.query_id AND p.neighbor_id = x.neighbor_id
        ORDER BY p.query_id, p.rnk"""

  // ------------------------------------------------------------------
  // q136 product-quantization ADC top-k (recall vs exact top-k)
  // ------------------------------------------------------------------

  /** The PQ lifecycle end-to-end under the oracle gate: train (m=32
    * subspaces × ksub=64 codes, two fixed-point Lloyd rounds —
    * [[graft.operators.Pq.pqTrain]], the exact configuration whose
    * ADC-vs-exact gap the r9 probe measured at 0.023 on this fixture),
    * encode the corpus to m codes, serve ADC top-3 per query through
    * the codegen `pq_adc` expression, and measure against exact
    * brute-force top-3 (`in_exact` / `recall3` — the q133 pattern).
    * The oracle replays the ENTIRE training arithmetic in DuckDB —
    * seed = 64 smallest-id subvectors, squared-L2 assignment with
    * code-asc tie-break, the fixed-point
    * `floor(sum(floor(c·10⁶))/n)/10⁶` centroid update ×2, the
    * order-preserving dense remap — then the encoding and the ADC
    * score `Σ_j dot(q_j, c_j) / (|q| · √Σ_j |c_j|²)` with the same
    * left-to-right per-subspace summation order (`list_sum` over an
    * `ORDER BY sub` aggregation = the `pq_adc` j-ascending fold), so a
    * regression in the codebook remap, the LUT layout, or the `pq_adc`
    * indexing hash-fails. Multiply-referenced CTEs carry MATERIALIZED
    * hints (the training chain would otherwise be re-derived by each
    * of enc/cn/adc — measured 2.2× on this oracle).
    * [[graft.PlanSpec]] pins the serving shape: zero corpus shuffle
    * before the per-query top-k window, query side broadcast with its
    * LUTs, native `pq_adc` scoring.
    */
  val q136PqAdc: QueryDef = {
    val M = 32 // subspaces (dim 64 → width 2)
    val Ksub = 64 // codes per subspace
    val h = new PqOracleSql(64 / M)
    import h.{sub, assign, update}
    QueryDef(
      "q136_pq_adc",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cb = Pq.pqTrain(emb, m = M, ksub = Ksub, iters = 2)
        val enc = Pq.pqEncode(emb, cb)
        val queries = emb.filter(col("vec_id") < 10)
        withExactRecall3(Pq.pqTopK(enc, cb, queries, k = 3), emb, queries)
      },
        Some(s"""
        WITH corpus AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        subs AS (SELECT unnest(generate_series(0, ${M - 1})) AS j),
        sv AS MATERIALIZED (SELECT c.vec_id, s.j, ${sub("c.v", "s.j")} AS sv
               FROM corpus c CROSS JOIN subs s),
        seed AS (SELECT vec_id, v,
                        CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code
                 FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT $Ksub) t),
        cb0 AS (SELECT s.j AS sub, d.code, ${sub("d.v", "s.j")} AS centroid
                FROM seed d CROSS JOIN subs s),
        a1 AS ${assign("sv", "cb0")},
        c1 AS ${update("a1")},
        a2 AS ${assign("sv", "c1")},
        c2 AS ${update("a2")},
        cbf AS MATERIALIZED (SELECT sub,
                       CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY code) - 1
                            AS BIGINT) AS code,
                       centroid
                FROM c2),
        enc AS MATERIALIZED ${assign("sv", "cbf")},
        q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv,
                     sqrt(${Similarity.dotSql("v", "v")}) AS qn
              FROM corpus WHERE vec_id < 10),
        cn AS (SELECT e.vec_id AS neighbor_id,
                      sqrt(list_sum(array_agg(
                        ${Similarity.dotSql("c.centroid", "c.centroid")}
                        ORDER BY e.sub))) AS cnorm
               FROM enc e JOIN cbf c ON c.sub = e.sub AND c.code = e.code
               GROUP BY 1),
        adc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_sum(array_agg(
                         ${Similarity.dotSql(sub("q.qv", "e.sub"), "c.centroid")}
                         ORDER BY e.sub)) AS num
                FROM enc e JOIN cbf c ON c.sub = e.sub AND c.code = e.code
                CROSS JOIN q
                WHERE e.vec_id <> q.query_id
                GROUP BY 1, 2),
        sims AS (SELECT a.query_id, a.neighbor_id,
                        a.num / (q.qn * c.cnorm) AS sim
                 FROM adc a
                 JOIN q ON q.query_id = a.query_id
                 JOIN cn c ON c.neighbor_id = a.neighbor_id),
        r AS (SELECT query_id, neighbor_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id) AS rnk
              FROM sims),
        pq AS (SELECT query_id, rnk, neighbor_id, sim FROM r WHERE rnk <= 3),
        ${exactRecall3Sql("pq")}
      """))
  }

  // ------------------------------------------------------------------
  // q138–q140 IVF-PQ: coarse buckets + residual PQ codes (IVFADC)
  // ------------------------------------------------------------------

  /** Shared IVF-PQ fixture config for q138/q139/q140: 8 residual
    * subspaces of width 8 over the dim-64 fixture, 16 codes each, one
    * fixed-point Lloyd round, coarse family = every 50th vector.
    */
  private val IvfPqM = 8
  private val IvfPqKsub = 16

  /** Shared engine build of the IVF-PQ index inputs at the fixture
    * config: (coarse-assigned corpus, centroid frame, residual-trained
    * codebook). `trainFilter` restricts the codebook's TRAINING corpus
    * (q140 trains on the base split only — the frozen-codebook append
    * semantic); assignment/encoding always cover the caller's corpus.
    */
  private[queries] def ivfPqBuild(emb: DataFrame, trainFilter: Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val centroids = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val assigned = Similarity.ivfAssign(emb, centroids)
    val resid = Pq.ivfResiduals(assigned.filter(trainFilter), centroids)
    val cb = Pq.pqTrain(resid, m = IvfPqM, ksub = IvfPqKsub, iters = 1,
      vecCol = "resid")
    (assigned, centroids, cb)
  }

  /** The build-side CTE chain shared by EVERY IVF-PQ oracle — coarse
    * assignment through the encode-time reconstruction norms (`cnrm`).
    * The serving oracles ([[ivfPqOracleSql]]) append the probe/ADC/
    * rank tail; the stats oracle (q145) aggregates `rs`/`cnrm`
    * directly. One text, so the replayed training arithmetic cannot
    * drift between gates.
    */
  private def ivfPqOracleCtes(trainPred: String): String = {
    val M = IvfPqM
    val Ksub = IvfPqKsub
    val h = new PqOracleSql(64 / M)
    import h.{sub, assign, update}
    val cosEC = Similarity.cosineSql("e.v", "c.centv")
    s"""corpus AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS MATERIALIZED (SELECT vec_id AS bucket, CAST(embedding AS DOUBLE[]) AS centv
                FROM embeddings WHERE vec_id % 50 = 0),
        coarse AS MATERIALIZED (SELECT vec_id, v, bucket, centv FROM (
                  SELECT e.vec_id, e.v, c.bucket, c.centv,
                         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY $cosEC DESC, c.bucket) AS crn
                  FROM corpus e CROSS JOIN cent c) t WHERE crn = 1),
        rs AS MATERIALIZED (SELECT vec_id, bucket, centv,
                list_transform(list_zip(v, centv), p -> p[1] - p[2]) AS rv
              FROM coarse),
        subs AS (SELECT unnest(generate_series(0, ${M - 1})) AS j),
        sv AS MATERIALIZED (SELECT r.vec_id, s.j, ${sub("r.rv", "s.j")} AS sv
               FROM rs r CROSS JOIN subs s),
        svt AS MATERIALIZED (SELECT * FROM sv WHERE $trainPred),
        seed AS (SELECT vec_id, rv,
                        CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code
                 FROM (SELECT vec_id, rv FROM rs WHERE $trainPred
                       ORDER BY vec_id LIMIT $Ksub) t),
        cb0 AS (SELECT s.j AS sub, d.code, ${sub("d.rv", "s.j")} AS centroid
                FROM seed d CROSS JOIN subs s),
        a1 AS ${assign("svt", "cb0")},
        c1 AS ${update("a1")},
        cbf AS MATERIALIZED (SELECT sub,
                       CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY code) - 1
                            AS BIGINT) AS code,
                       centroid
                FROM c1),
        enc AS MATERIALIZED (SELECT a.vec_id, a.sub, a.code, r.bucket
               FROM ${assign("sv", "cbf")} a
               JOIN (SELECT vec_id, bucket FROM rs) r USING (vec_id)),
        rec AS (SELECT e.vec_id, flatten(array_agg(c.centroid ORDER BY e.sub)) AS rrec
                FROM enc e JOIN cbf c ON c.sub = e.sub AND c.code = e.code
                GROUP BY 1),
        cnf AS (SELECT s.vec_id,
                       list_transform(list_zip(s.centv, r.rrec), p -> p[1] + p[2]) AS fullv
                FROM rs s JOIN rec r USING (vec_id)),
        cnrm AS MATERIALIZED (SELECT vec_id,
                       sqrt(${Similarity.dotSql("fullv", "fullv")}) AS cn
                FROM cnf)"""
  }

  /** The IVF-PQ SERVING replay as a WITH-clause body appended AFTER
    * [[ivfPqOracleCtes]]: defines `ipq` = (query_id, rnk, neighbor_id,
    * sim) with rnk <= k — queries from `queryPred` over the corpus,
    * nprobe=2 coarse probes, ADC scoring, and optionally (q142) the
    * exact-cosine rerank of a top-`rerank` shortlist. Shared by the
    * q138-family oracles and the q163 retrieval-stack composition.
    */
  private def ivfPqServeCtes(queryPred: String, k: Int,
      rerank: Option[Int]): String = {
    val cosQC = Similarity.cosineSql("q.qv", "c.centv")
    val cosQE = Similarity.cosineSql("q.qv", "e.v")
    val h = new PqOracleSql(64 / IvfPqM)
    import h.sub
    // final candidate frame: ADC top-k directly, or ADC top-R
    // shortlist re-ranked by EXACT cosine — the two-stage serve
    val servingTail = rerank match {
      case None =>
        s"ipq AS (SELECT query_id, rnk, neighbor_id, sim FROM r WHERE rnk <= $k)"
      case Some(rr) =>
        s"""short AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= $rr),
        ex AS (SELECT s.query_id, s.neighbor_id, $cosQE AS sim
               FROM short s
               JOIN corpus e ON e.vec_id = s.neighbor_id
               JOIN q ON q.query_id = s.query_id),
        ipq AS (SELECT query_id, rnk, neighbor_id, sim FROM (
                 SELECT query_id, neighbor_id, sim,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id) AS rnk
                 FROM ex) t2 WHERE rnk <= $k)"""
    }
    s"""q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv,
                     sqrt(${Similarity.dotSql("v", "v")}) AS qn
              FROM corpus WHERE $queryPred),
        probes AS MATERIALIZED (SELECT query_id, qv, qn, bucket,
                       ${Similarity.dotSql("qv", "centv")} AS qc
                FROM (SELECT q.query_id, q.qv, q.qn, c.bucket, c.centv,
                             ROW_NUMBER() OVER (PARTITION BY q.query_id
                               ORDER BY $cosQC DESC, c.bucket) AS prn
                      FROM q CROSS JOIN cent c) t WHERE prn <= 2),
        adc AS (SELECT p.query_id, e.vec_id AS neighbor_id, p.qn, p.qc,
                       list_sum(array_agg(
                         ${Similarity.dotSql(sub("p.qv", "e.sub"), "c.centroid")}
                         ORDER BY e.sub)) AS radc
                FROM enc e
                JOIN cbf c ON c.sub = e.sub AND c.code = e.code
                JOIN probes p ON p.bucket = e.bucket AND e.vec_id <> p.query_id
                GROUP BY 1, 2, 3, 4),
        sims AS (SELECT a.query_id, a.neighbor_id,
                        (a.qc + a.radc) / (a.qn * n.cn) AS sim
                 FROM adc a JOIN cnrm n ON n.vec_id = a.neighbor_id),
        r AS (SELECT query_id, neighbor_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id) AS rnk
              FROM sims),
        $servingTail"""
  }

  /** Shared DuckDB replay of the ENTIRE IVF-PQ composition (q138/q139
    * serve it in-session/from-disk; q140 appends): coarse cosine
    * assignment, elementwise residuals, one fixed-point Lloyd round on
    * residual subvectors (training corpus restricted by `trainPred` —
    * "TRUE" for whole-corpus training, the base predicate for q140's
    * frozen-codebook append gate), dense remap, whole-corpus encoding,
    * the flattened reconstruction and its norm, and the
    * split-numerator serving arithmetic — so any drift in the
    * composition (a residual sign, a bucket/codebook mix-up, the
    * stored norm, an append that re-trained) hash-fails.
    */
  private def ivfPqOracleSql(trainPred: String,
      rerank: Option[Int] = None): String = s"""
        WITH ${ivfPqOracleCtes(trainPred)},
        ${ivfPqServeCtes("vec_id < 10", 3, rerank)},
        ${exactRecall3Sql("ipq")}
      """

  /** The composed 100 TB index, served IN-SESSION: coarse IVF
    * assignment (the q134/q137 layout) + PQ codes over the per-bucket
    * RESIDUALS ([[graft.operators.Pq.ivfResiduals]] →
    * [[graft.operators.Pq.pqTrain]] →
    * [[graft.operators.Pq.ivfPqEncode]]), served by
    * [[graft.operators.Pq.ivfPqTopK]]: probe nprobe=2 coarse buckets,
    * score only their code rows as `(dot(q,c_b) + ADC) / (|q|·cn)`
    * with the encode-time reconstruction norm. Exact/recall columns
    * follow the q133/q136 pattern; the oracle is the full-composition
    * replay [[ivfPqOracleSql]].
    */
  val q138IvfPq: QueryDef = QueryDef(
    "q138_ivfpq_adc",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (assigned, centroids, cb) = ivfPqBuild(emb, lit(true))
      val enc = Pq.ivfPqEncode(assigned, centroids, cb)
      val queries = emb.filter(col("vec_id") < 10)
      withExactRecall3(
        Pq.ivfPqTopK(enc, centroids, cb, queries, k = 3, nprobe = 2),
        emb, queries)
    },
    Some(ivfPqOracleSql("TRUE")))

  /** q138's arithmetic served from the WRITTEN index: the encoded
    * (id, bucket, codes, cn) rows persist bucket-partitioned
    * ([[graft.operators.Pq.ivfPqWriteIndex]]) and the query batch is
    * served by [[graft.operators.Pq.ivfPqTopKIndexed]] through a
    * partition-PRUNED scan of the probed bucket directories — the
    * coarse prune now cuts the SCAN, not just the join, completing
    * the 100 TB story (VERDICT r10 #2). Hash-equality against the
    * same full-composition oracle as q138 gates the
    * write→partition→read round-trip of codes and stored norms (a
    * partition-value corruption, a codes/norm precision drift, or a
    * layout that fails to prune all hash-fail or pin-fail).
    */
  val q139IvfPqIndex: QueryDef = QueryDef(
    "q139_ivfpq_index",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (assigned, centroids, cb) = ivfPqBuild(emb, lit(true))
      val path = Scenario.workspace("q139_ivfpq_index", "ivfpqidx", dir)
      Pq.ivfPqWriteIndex(Pq.ivfPqEncode(assigned, centroids, cb),
        path)
      val queries = emb.filter(col("vec_id") < 10)
      withExactRecall3(
        Pq.ivfPqTopKIndexed(s, path, centroids, cb, queries,
          k = 3, nprobe = 2),
        emb, queries)
    },
    Some(ivfPqOracleSql("TRUE")))

  /** Incremental append for the PQ-coded layout (q137's day-2 op
    * composed with q139's index): the codebook trains on the BASE
    * 3/4 of the corpus only, the base encodes and writes, then the
    * remaining quarter is encoded against the FROZEN codebook and
    * bucket-appended ([[graft.operators.Pq.ivfPqAppendIndex]] — no
    * retrain, the codebook-drift semantic documented there). The
    * served top-3 must hash-equal the frozen-codebook
    * fresh-encode-on-union oracle ([[ivfPqOracleSql]] with the base
    * training predicate) — an append that re-trained, dropped the
    * stored norms, or corrupted a bucket directory hash-fails.
    */
  val q140IvfPqAppend: QueryDef = Scenario(
    "q140_ivfpq_append", Scenario.IvfPq, Split(4, 0), Append,
    Some(ivfPqOracleSql("vec_id % 4 <> 0")))

  /** The q139 layout made SELF-CONTAINED: codes, coarse centroids, and
    * the trained codebook all persist under one path
    * ([[graft.operators.Pq.ivfPqWriteIndexFull]]) and serving reads
    * every input from disk ([[graft.operators.Pq.ivfPqTopKFromIndex]])
    * — the "open a 100 TB index cold" path a fresh session needs.
    * Hash-equality against q139's oracle gates the metadata round-trip
    * (centroid/codebook doubles through parquet, the codes layout, and
    * the reload plumbing).
    */
  val q141IvfPqSelfIndex: QueryDef = QueryDef(
    "q141_ivfpq_selfindex",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (assigned, centroids, cb) = ivfPqBuild(emb, lit(true))
      val path = Scenario.workspace("q141_ivfpq_selfindex", "ivfpqidx", dir)
      Pq.ivfPqWriteIndexFull(Pq.ivfPqEncode(assigned, centroids, cb),
        centroids, cb, path)
      val queries = emb.filter(col("vec_id") < 10)
      withExactRecall3(
        Pq.ivfPqTopKFromIndex(s, path, queries, k = 3, nprobe = 2),
        emb, queries)
    },
    Some(ivfPqOracleSql("TRUE")))

  /** Two-stage IVF-PQ serve ([[graft.operators.Pq.ivfPqTopKReranked]]):
    * ADC ranks a 10-candidate shortlist per query, then the final
    * top-3 is ordered by EXACT cosine over only those rows — recall
    * recovers toward the probed buckets' ceiling while exact math
    * touches 10 rows per query. The oracle replays the ADC shortlist
    * AND the exact re-rank, so a shortlist off-by-one, a rounding
    * mixup between the two stages, or a rerank that re-scored the
    * wrong vectors hash-fails; the recall3 column measures the
    * improvement over q138's pure-ADC serve on the same buckets.
    */
  val q142IvfPqRerank: QueryDef = QueryDef(
    "q142_ivfpq_rerank",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (assigned, centroids, cb) = ivfPqBuild(emb, lit(true))
      val enc = Pq.ivfPqEncode(assigned, centroids, cb)
      val queries = emb.filter(col("vec_id") < 10)
      withExactRecall3(
        Pq.ivfPqTopKReranked(enc, centroids, cb, emb, queries, k = 3,
          shortlist = 10, nprobe = 2),
        emb, queries)
    },
    Some(ivfPqOracleSql("TRUE", rerank = Some(10))))

  /** The COMPLETE cold lifecycle on one path (q140 × q141): the base
    * 3/4 builds a self-contained index (codebook trained on base
    * only), then the remaining quarter is appended with
    * [[graft.operators.Pq.ivfPqAppendToIndex]] — centroids and the
    * frozen codebook read from `meta/`, no handle to the build
    * session — and serving reads everything from the path. Oracle:
    * the same frozen-codebook fresh-encode-on-union replay as q140,
    * so a cold append that retrained, re-derived different metadata,
    * or wrote through the wrong layout hash-fails.
    */
  val q143IvfPqColdAppend: QueryDef = QueryDef(
    "q143_ivfpq_cold_append",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val basePred = col("vec_id") % 4 =!= 0
      val (assigned, centroids, cb) = ivfPqBuild(emb, basePred)
      val path = Scenario.workspace("q143_ivfpq_cold_append", "ivfpqidx", dir)
      Pq.ivfPqWriteIndexFull(
        Pq.ivfPqEncode(assigned.filter(basePred), centroids, cb),
        centroids, cb, path)
      // day-2: append the delta with ONLY the path in hand
      Pq.ivfPqAppendToIndex(s, path, emb.filter(!basePred))
      val queries = emb.filter(col("vec_id") < 10)
      withExactRecall3(
        Pq.ivfPqTopKFromIndex(s, path, queries, k = 3, nprobe = 2),
        emb, queries)
    },
    Some(ivfPqOracleSql("vec_id % 4 <> 0")))

  /** The index's operational surface
    * ([[graft.operators.Pq.ivfPqIndexStats]]): per-bucket occupancy,
    * code counts, and reconstruction-norm ranges read from the written
    * layout — the skew-monitoring / integrity-audit pass. The oracle
    * re-derives every row from the full build replay (assignment
    * counts × m codes, min/max of the encode-time norms per bucket),
    * so a bucket directory that lost or duplicated rows, or a norm
    * that drifted through the write, hash-fails.
    */
  val q145IvfPqStats: QueryDef = QueryDef(
    "q145_ivfpq_stats",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (assigned, centroids, cb) = ivfPqBuild(emb, lit(true))
      val path = Scenario.workspace("q145_ivfpq_stats", "ivfpqidx", dir)
      Pq.ivfPqWriteIndexFull(Pq.ivfPqEncode(assigned, centroids, cb),
        centroids, cb, path)
      Pq.ivfPqIndexStats(s, s"${path}/codes").orderBy(col("bucket"))
    },
    Some(s"""
        WITH ${ivfPqOracleCtes("TRUE")}
        SELECT r.bucket,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) * $IvfPqM AS BIGINT) AS n_codes,
               round(min(n.cn), 6) AS min_cn,
               round(max(n.cn), 6) AS max_cn
        FROM cnrm n JOIN rs r USING (vec_id)
        GROUP BY r.bucket
        ORDER BY r.bucket
    """))

  /** Tokenizer-prep over the corpus
    * ([[graft.operators.TextAnalysis.bpePairCounts]]): the top-20
    * adjacent character pairs of the normalized words — the first
    * merge iteration of a BPE trainer, counted corpus-wide with the
    * pair alphabet bounded at 1,296 keys so the rank window never
    * touches corpus-sized data.
    */
  val q144BpePairs: QueryDef = QueryDef(
    "q144_bpe_pairs",
    (s, dir) =>
      TextAnalysis.bpePairCounts(Tables.load(s, dir, "documents"),
        "text", 20).orderBy(col("rk")),
    Some(TextAnalysis.bpePairCountsSql("documents", "text", 20)))

  /** The index REPAIR path (`IndexLayout.ivfPq(idCol).compact`):
    * q143's cold lifecycle with the failure the append contract warns
    * about INJECTED — the delta append runs twice (a blind retry), so
    * every delta row sits in its bucket twice and a direct serve would
    * score duplicates. The audit (`IndexLayout.ivfPq(idCol).audit`)
    * localizes the damage, compaction rewrites the layout minus the
    * replay into a fresh self-contained index, and serving THAT must
    * hash-equal the same clean frozen-codebook union-encode oracle as
    * q140/q143 — a compaction that missed a duplicate, dropped a
    * legitimate row, or perturbed the metadata hash-fails.
    */
  val q151IvfPqRepair: QueryDef = QueryDef(
    "q151_ivfpq_repair",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val basePred = col("vec_id") % 4 =!= 0
      val (assigned, centroids, cb) = ivfPqBuild(emb, basePred)
      val path = Scenario.workspace("q151_ivfpq_repair", "ivfpqidx", dir)
      Pq.ivfPqWriteIndexFull(
        Pq.ivfPqEncode(assigned.filter(basePred), centroids, cb),
        centroids, cb, path)
      Pq.ivfPqAppendToIndex(s, path, emb.filter(!basePred))
      // the injected failure: a blind retry replays the same append
      Pq.ivfPqAppendToIndex(s, path, emb.filter(!basePred))
      val repaired = Scenario.workspace("q151_ivfpq_repair", "repaired", dir)
      IndexLayout.ivfPq("vec_id").compact(s, path, repaired)
      val queries = emb.filter(col("vec_id") < 10)
      withExactRecall3(
        Pq.ivfPqTopKFromIndex(s, repaired, queries,
          k = 3, nprobe = 2),
        emb, queries)
    },
    Some(ivfPqOracleSql("vec_id % 4 <> 0")))

  /** The q146/q154 oracle: the ad-hoc and written-index serving paths
    * must produce the identical ranking, so they share one replay.
    */
  private def bm25Top10OracleSql: String = s"""
      WITH ${Retrieval.bm25CtesSql("documents", "doc_id", "text", "doc_id < 8", 10)}
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id,
             round(score_fp / ${Retrieval.ScoreScale}, 6) AS score
      FROM bm25
      ORDER BY query_id, rnk
    """

  /** BM25 top-10 keyword retrieval ([[graft.operators.Retrieval
    * .bm25TopK]]): 8 query documents rank the corpus by the standard
    * Lucene-idf BM25 (k1=1.2, b=0.75 as exact rationals), computed
    * entirely in fixed point so the DuckDB replay of the inverted
    * index, df counts, and per-term floored contributions hash-matches
    * exactly. The retrieval counterpart of the curation family —
    * decontamination probes and eval-set mining run exactly this
    * query shape over a training corpus.
    */
  val q146Bm25: QueryDef = QueryDef(
    "q146_bm25_topk",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Retrieval.bm25TopK(docs, docs.filter(col("doc_id") < 8), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(bm25Top10OracleSql))

  /** Hybrid retrieval ([[graft.operators.Retrieval.rrfFuse]]): BM25's
    * top-20 lexical shortlist and brute-force cosine's top-20 semantic
    * shortlist (the same 8 query ids on the paired documents /
    * embeddings tables) fuse by reciprocal-rank fusion into one top-10
    * — the standard two-tower retrieval stack. Scores are
    * fixed-point floor(1e6/(60+rank)) sums, so the fused ordering is
    * exact; the oracle replays BOTH rankers and the fusion.
    */
  val q147HybridRrf: QueryDef = QueryDef(
    "q147_hybrid_rrf",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val lex = Retrieval
        .bm25TopK(docs, docs.filter(col("doc_id") < 8), k = 20)
        .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rnk"))
      val sem = Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 20)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rnk"))
      Retrieval.rrfFuse(Seq(lex, sem), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH ${Retrieval.bm25CtesSql("documents", "doc_id", "text", "doc_id < 8", 20)},
      lex AS (SELECT query_id, doc_id AS neighbor_id, rnk FROM bm25),
      cq AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id < 8),
      cc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      sims AS (SELECT query_id, neighbor_id, ${Similarity.cosineSql("cq.qv", "cc.cv")} AS sim
               FROM cc JOIN cq ON neighbor_id <> query_id),
      sem AS (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id) AS rnk
              FROM sims QUALIFY rnk <= 20),
      ${Retrieval.rrfFuseSql(Seq("lex", "sem"), 10)}
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
             CAST(rrf_fp AS BIGINT) AS rrf_fp
      FROM fused
      ORDER BY query_id, rnk
    """))

  /** BPE tokenizer TRAINING ([[graft.operators.Bpe.trainMerges]]):
    * six merge rounds over the corpus's word-frequency table,
    * completing the trainer q144's single pair-count round prepped.
    * The oracle unrolls all six rounds — pair counts, the
    * (count desc, pair asc) winner, and the literal-replace rewrite
    * under the two-space segmentation encoding — so a wrong greedy
    * rewrite, a tie-break flip, or an overlap mishandling ("aaa")
    * diverges the WHOLE downstream merge sequence and hash-fails.
    */
  val q148BpeTrain: QueryDef = QueryDef(
    "q148_bpe_train",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Bpe.mergesDf(s, Bpe.trainMerges(docs, "text", nMerges = 6))
        .orderBy(col("step"))
    },
    Some(s"""
      WITH ${Bpe.trainOracleCtes("documents", "text", 6)}
      ${Bpe.trainOracleTailSql(6)}
    """))

  /** BPE tokenizer APPLICATION ([[graft.operators.Bpe
    * .encodeTokenCounts]]): the six learned merges replay over the
    * corpus and every document gets its real subword token count —
    * the token-accounting pass (mixture weights, packing budgets,
    * cost estimates) a training pipeline runs with its own tokenizer.
    * The oracle replays training AND the nested-replace encode chain
    * per document.
    */
  val q149BpeEncode: QueryDef = QueryDef(
    "q149_bpe_encode",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Bpe.encodeTokenCounts(docs, "doc_id", "text",
        Bpe.trainMerges(docs, "text", nMerges = 6))
        .orderBy(col("doc_id"))
    },
    Some(Bpe.encodeOracleSql("documents", "doc_id", "text", 6)))

  /** BM25 served from the WRITTEN index ([[graft.operators.Retrieval
    * .bm25WriteIndex]] / [[graft.operators.Retrieval.bm25TopKIndexed]])
    * — the lexical twin of the q139 story: postings persist
    * shard-partitioned with the append-stable stats (tf, dl) inline
    * and the corpus-level df in the equally-sharded `terms/` sidecar,
    * the query terms' shards prune BOTH scans as partition filters,
    * and the served ranking must hash-equal q146's ad-hoc-path oracle
    * — a drift in the layout, the df/dl plumbing, or the pruning
    * hash-fails.
    */
  val q154Bm25Indexed: QueryDef = QueryDef(
    "q154_bm25_indexed",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val path = Scenario.workspace("q154_bm25_indexed", "bm25idx", dir)
      Retrieval.bm25WriteIndex(docs, path)
      Retrieval.bm25TopKIndexed(s, path,
          docs.filter(col("doc_id") < 8), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(bm25Top10OracleSql))

  /** The BM25 index DAY-2 path ([[graft.operators.Retrieval
    * .bm25AppendIndex]]) — the lexical q140: two thirds of the corpus
    * build the index, the last third arrives as a new-document
    * generation appended with ZERO base reads (delta postings + df
    * contributions + a stats row), and serving the appended index
    * must hash-equal the SAME fresh-whole-corpus oracle as
    * q146/q154. That equality is the design's point: df and the
    * corpus scalars live as per-generation contributions summed at
    * serve time instead of being frozen into posting rows, so an
    * append moves every affected term's idf EXACTLY — the v1 layout
    * (df inline) would have served stale scores for every pre-append
    * posting here and hash-failed.
    */
  val q155Bm25Append: QueryDef = Scenario(
    "q155_bm25_append", Scenario.Bm25, Split(3, 0), Append,
    Some(bm25Top10OracleSql))

  /** The BM25 index REPAIR path (`IndexLayout.Bm25.audit` /
    * `IndexLayout.Bm25.compact`) — the lexical q151: q155's lifecycle
    * with the failure the append contract warns about INJECTED (the
    * delta append runs twice — a blind retry), so every delta posting
    * sits in its shard twice and that generation's df/stats
    * contributions double-count. The audit localizes EXACTLY the
    * replayed postings ([[Scenario]] asserts bit-identical copies, no
    * payload divergence), compaction rewrites the layout minus the
    * replay into a fresh index REDERIVING df/stats from the deduped
    * postings, and serving THAT must hash-equal the clean whole-corpus
    * oracle — a missed duplicate, a dropped legitimate posting, or an
    * unrepaired df double-count all hash-fail.
    */
  val q156Bm25Repair: QueryDef = Scenario(
    "q156_bm25_repair", Scenario.Bm25, Split(3, 0), BlindRetry(),
    Some(bm25Top10OracleSql))

  /** Per-shard stats of the WRITTEN BM25 index after a build + append
    * lifecycle ([[graft.operators.Retrieval.bm25IndexStats]]) — the
    * lexical q145: the skew/integrity pass a standing retrieval
    * service runs. The oracle re-derives every row from a fresh
    * whole-corpus replay (postings per md5 shard, distinct terms,
    * token mass) and emits the TRUE posting count for `df_total` —
    * so a generation whose df contributions double-counted, lost
    * terms rows, or posting/terms drift between the two layouts all
    * hash-fail.
    */
  val q162Bm25Stats: QueryDef = Scenario(
    "q162_bm25_stats", Scenario.Bm25Stats, Split(3, 0), Append,
    Some(s"""
      WITH toks AS (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS term
                    FROM documents),
      t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
      sh AS (SELECT substr(md5(term), 1, 2) AS shard, term, tf FROM tf)
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_postings,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
             CAST(SUM(tf) AS BIGINT) AS sum_tf,
             CAST(COUNT(*) AS BIGINT) AS df_total
      FROM sh
      GROUP BY shard
      ORDER BY shard
    """))

  /** BPE tokenizer OUTPUT ([[graft.operators.Bpe.vocab]] /
    * [[graft.operators.Bpe.encodeIds]]): the artifact a pretraining
    * run consumes — per-document TOKEN-ID sequences under a stable
    * vocabulary (the full [a-z0-9] alphabet, then merge products in
    * training order, surface-form-deduped). Merges train on the FULL
    * corpus; the first 40 documents emit their id
    * sequences as (doc_id, pos, token_id) rows. The oracle replays
    * training, the vocabulary numbering, and every document's
    * flattened symbol order — a wrong merge, a vocab id off by one,
    * or a symbol out of document order all hash-fail.
    */
  val q157BpeIds: QueryDef = QueryDef(
    "q157_bpe_ids",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // ONE corpus tokenize feeds training (the materialize-once rule);
      // the vocabulary derives from the merges alone (alphabet-seeded)
      val wf = Bpe.wordFreq(docs, "text").localCheckpoint()
      val ms = Bpe.trainMergesFromWordFreq(wf, nMerges = 6)
      val v = Bpe.vocab(ms)
      Bpe.encodeIds(docs.filter(col("doc_id") < 40), "doc_id", "text", ms, v)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id"))
        .orderBy(col("doc_id"), col("pos"))
    },
    Some(s"""
      WITH ${Bpe.trainOracleCtes("documents", "text", 6)},
      ${Bpe.vocabOracleCtes(6)},
      ${Bpe.encodeIdsOracleCtes("(SELECT * FROM documents WHERE doc_id < 40)", "doc_id", "text", 6)}
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             CAST(token_id AS BIGINT) AS token_id
      FROM ids
      ORDER BY doc_id, pos
    """))

  /** The q153/q161 oracle: fresh whole-corpus containment pairs, with
    * an optional extra predicate (q161 restricts to snapshot-endpoint
    * pairs — the incremental path must equal exactly this).
    */
  private def containmentOracleSql(extraPred: String): String = s"""
      WITH $blockedShingleInterCtes
      SELECT blk, doc_a, doc_b, cont_ab, cont_ba
      FROM (SELECT i.blk, i.doc_a, i.doc_b,
                   round(i.i * 1.0 / ca.n, 6) AS cont_ab,
                   round(i.i * 1.0 / cb.n, 6) AS cont_ba
            FROM inter i
            JOIN cnts ca ON ca.doc_id = i.doc_a
            JOIN cnts cb ON cb.doc_id = i.doc_b) z
      WHERE greatest(cont_ab, cont_ba) >= 0.6 AND ($extraPred)
      ORDER BY blk, doc_a, doc_b
    """

  /** Containment near-dup pairs ([[graft.operators.Dedup
    * .ngramContainmentPairs]]): the asymmetric complement of q33's
    * Jaccard on the same inverted-index core — a near-superset page
    * contains a smaller doc almost entirely while Jaccard stays low,
    * so partial copies (quotes, boilerplate wrappers, embedded eval
    * items) need this direction-aware gate. Thresholded on the larger
    * direction; the oracle replays postings, caps, intersections, and
    * both direction ratios.
    */
  val q153Containment: QueryDef = QueryDef(
    "q153_ngram_containment",
    (s, dir) =>
      Dedup.ngramContainmentPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", blockCol = "source", shingleN = ShingleN,
          threshold = 0.6)
        .orderBy(col("blk"), col("doc_a"), col("doc_b")),
    Some(containmentOracleSql("TRUE")))

  /** Incremental containment against the WRITTEN n-gram postings index
    * ([[graft.operators.Dedup.ngramWriteIndex]] /
    * [[graft.operators.Dedup.ngramContainmentPairsIndexed]]) — the
    * third leg of the incremental-dedup family (q160 exact, q159
    * MinHash), on the operator whose asymmetric semantics catch what
    * both of those miss. Same base/snapshot split, postings appended
    * delta-sized, pairs served from a shard-pruned probe (the
    * snapshot's shingle-hash shards); every shared shingle of a
    * snapshot-endpoint pair is a snapshot shingle, so the pruned scan
    * is COMPLETE for exactly the pairs the day-2 run owes. Oracle:
    * the fresh q153 replay restricted to snapshot-endpoint pairs.
    */
  val q161ContainmentIncremental: QueryDef = Scenario(
    "q161_containment_incremental", Scenario.Ngram, Split(3, 0), Append,
    Some(containmentOracleSql("doc_a % 3 = 0 OR doc_b % 3 = 0")))

  /** Stages 1 and 2 of the v4 / v5 flagships (q152 / q158): the
    * bigram-LM quality filter, then BM25 retrieval-decontamination —
    * the eval probes (doc_id < 8) and their top-5 hits leave. Returns
    * the training corpus (doc_id, text, source); both stages'
    * survivors are checkpointed.
    */
  private def decontaminatedTrain(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val keptIds = TextAnalysis.bigramNll(docs, "doc_id", "text",
        nllThreshold = BigramNllMedian)
      .filter(col("kept")).select(col("doc_id"))
    val surv = docs.join(keptIds, "doc_id")
      .select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint()
    val cont = Retrieval
      .bm25TopK(surv, surv.filter(col("doc_id") < 8), k = 5)
      .select(col("doc_id")).distinct()
    surv.filter(col("doc_id") >= 8)
      .join(cont, Seq("doc_id"), "left_anti")
      .localCheckpoint()
  }

  /** The oracle twin of [[decontaminatedTrain]] plus the 4-merge BPE
    * trained on and encoding `train`: CTEs ending in `enc` = (doc_id,
    * n_words, n_bpe). */
  private val decontaminatedTrainCtes: String = s"""${TextAnalysis.bigramNllCtesSql("documents", "doc_id", "text", BigramNllMedian)},
      surv AS MATERIALIZED (SELECT d.doc_id, d.text, d.source
               FROM documents d JOIN bnll b USING (doc_id)
               WHERE b.kept),
      ${Retrieval.bm25CtesSql("surv", "doc_id", "text", "doc_id < 8", 5)},
      cont AS (SELECT DISTINCT doc_id FROM bm25),
      train AS MATERIALIZED (SELECT * FROM surv
                WHERE doc_id >= 8
                  AND doc_id NOT IN (SELECT doc_id FROM cont)),
      ${Bpe.trainOracleCtes("train", "text", 4)},
      ${Bpe.encodeOracleCtes("train", "doc_id", "text", 4)}"""

  /** Flagship curation v4 — the session-2 operators composed into one
    * pipeline: (1) bigram-LM quality filter (q150's model, corpus-
    * trained, median threshold), (2) BM25 decontamination — the kept
    * eval probes (doc_id < 8) retrieve their top-5 most-similar
    * survivors and those hits are REMOVED along with the probes
    * themselves (retrieval-based decontamination, the q146 shape
    * pointed at its real job), (3) a 4-merge BPE tokenizer trained on
    * the resulting training corpus and replayed over it, rolled up to
    * per-source document/word/subword-token budgets — the mixture-
    * accounting table a pretraining run starts from.
    *
    * Composition rule (the q132 lesson): the survivor frame
    * materializes ONCE after each filter stage (localCheckpoint), so
    * the BM25 index build, BPE training loop, and the final encode all
    * read materialized rows — the final plan holds zero parquet
    * re-scans. The oracle replays ALL THREE stages CTE-for-CTE
    * (bigram model → survivors → BM25 shortlists → removal → 4 merge
    * rounds → encode → rollup): a drift anywhere in the chain moves
    * the final token budgets and hash-fails.
    */
  val q152CurationV4: QueryDef = QueryDef(
    "q152_curation_v4",
    (s, dir) => {
      val train = decontaminatedTrain(s, dir)
      val ms = Bpe.trainMerges(train, "text", nMerges = 4)
      Bpe.encodeTokenCounts(train, "doc_id", "text", ms)
        .join(train.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("n_bpe")).as("n_bpe_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH $decontaminatedTrainCtes
      SELECT tr.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(e.n_words) AS BIGINT) AS n_words,
             CAST(SUM(e.n_bpe) AS BIGINT) AS n_bpe_tokens
      FROM enc e JOIN train tr ON e.doc_id = tr.doc_id
      GROUP BY tr.source
      ORDER BY tr.source
    """))

  /** Incremental dedup against the WRITTEN signature index
    * ([[graft.operators.Dedup.minhashWriteIndex]] /
    * [[graft.operators.Dedup.minhashDedupIndexed]]) — the most-used
    * day-2 operation of a standing curation pipeline: three quarters
    * of the corpus are the indexed base, the last quarter arrives as
    * a new crawl snapshot appended delta-sized
    * ([[graft.operators.Dedup.minhashAppendIndex]]), and the snapshot
    * dedups against (base ∪ snapshot) through a shard-pruned bands
    * probe + written-sigs verify. The oracle is the FRESH whole-corpus
    * q31 replay restricted to snapshot-endpoint pairs — the
    * incremental path must find exactly the pairs a from-scratch run
    * finds (same buckets, same caps, same verify arithmetic), having
    * recomputed only the snapshot's signatures.
    */
  val q159MinhashIncremental: QueryDef = Scenario(
    "q159_minhash_incremental", Scenario.Minhash, Split(4, 0), Append,
    Some(s"""
      WITH $minhashPairCtes
      SELECT doc_a, doc_b, jaccard FROM pairs
      WHERE doc_a % 4 = 0 OR doc_b % 4 = 0
      ORDER BY doc_a, doc_b
    """))

  /** The fresh whole-corpus exact-dedup clusters (q30's replay) that
    * hold at least one `deltaPred` document: what the incremental exact
    * probes must serve however the delta arrived. */
  private def exactClustersOracleSql(deltaPred: String): String = s"""
      WITH fp AS (SELECT doc_id, md5(${TextOps.normalizeSql("text")}) AS fingerprint
                  FROM documents)
      SELECT fingerprint, MIN(doc_id) AS kept_id, COUNT(*) AS cluster_size
      FROM fp
      GROUP BY 1
      HAVING COUNT(CASE WHEN $deltaPred THEN 1 END) > 0
      ORDER BY fingerprint
    """

  /** Incremental EXACT dedup against its written fingerprint index
    * ([[graft.operators.Dedup.exactWriteIndex]] /
    * [[graft.operators.Dedup.exactClustersIndexed]]) — q159's trivial
    * twin, closing the incremental story across the dedup family:
    * same base/snapshot split, fingerprints appended delta-sized,
    * then every cluster a snapshot member touches served through a
    * shard-pruned probe with the FULL-membership stats (global min
    * kept id, full cluster size) the fresh q30 run reports. The
    * oracle is the fresh whole-corpus replay restricted to
    * snapshot-touched fingerprints.
    */
  val q160ExactIncremental: QueryDef = Scenario(
    "q160_exact_incremental", Scenario.Exact, Split(4, 0), Append,
    Some(exactClustersOracleSql("doc_id % 4 = 0")))

  /** Flagship curation v5 — v4's pipeline driven one step further, to
    * THE artifact a pretraining run actually reads: (1) bigram-LM
    * quality filter, (2) BM25 retrieval-decontamination (both exactly
    * q152's stages), then (3) a 4-merge BPE tokenizer trained on the
    * surviving training corpus whose TOKEN counts — not whitespace
    * counts — feed (4) GPT-style concat-and-cut sequence packing
    * (q131's shard/offset arithmetic via
    * [[graft.operators.Curation.packSequencesByCount]], 256-token
    * sequences, one EOS slot between documents, 256 independent
    * md5-sharded streams). Output: one row per (document, training
    * sequence it overlaps) — the placement manifest that maps every
    * curated document into its training-sequence coordinates.
    *
    * Composition rule (the q132/q152 lesson): survivors materialize
    * once per filter stage; the encode, count, and packing window all
    * read checkpointed rows — zero parquet re-scans in the final
    * plan. The oracle replays ALL FOUR stages CTE-for-CTE: a drift
    * anywhere — model smoothing, decontam shortlist, a merge, a
    * token count, a packing offset — moves sequence coordinates and
    * hash-fails.
    */
  val q158CurationV5: QueryDef = QueryDef(
    "q158_curation_v5",
    (s, dir) => {
      val train = decontaminatedTrain(s, dir)
      val ms = Bpe.trainMerges(train, "text", nMerges = 4)
      val counts = Bpe.encodeTokenCounts(train, "doc_id", "text", ms)
      Curation.packSequencesByCount(counts, "doc_id", "n_bpe", seqLen = 256)
        .orderBy(col("shard"), col("seq_idx"), col("doc_id"))
    },
    Some(s"""
      WITH $decontaminatedTrainCtes,
      ${Curation.packSequencesByCountSql("enc", "n_bpe", 256)}
    """))

  /** The SERVING STACK capstone: hybrid retrieval where BOTH rankers
    * read WRITTEN indexes — exactly what a standing retrieval service
    * runs. The lexical shortlist serves from the shard-pruned BM25
    * layout (q154's path), the semantic shortlist from the
    * self-contained IVF-PQ index (q141's path, cold: centroids +
    * codebook read from `meta/`), and reciprocal-rank fusion (q147's
    * arithmetic) produces the final top-10 — over the fixture's
    * paired documents/embeddings id space. The oracle replays the
    * ENTIRE stack: the BM25 inverted index, the full IVF-PQ training
    * + ADC serving chain (the shared q138-family serving CTEs), and
    * the fixed-point fusion — a drift in either index layout, either
    * ranker's arithmetic, or the fusion hash-fails.
    */
  val q163RetrievalStack: QueryDef = QueryDef(
    "q163_retrieval_stack",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val lexPath = Scenario.workspace("q163_retrieval_stack", "bm25idx", dir)
      val semPath = Scenario.workspace("q163_retrieval_stack", "ivfpqidx", dir)
      // the lexical and semantic index builds are independent stacks
      // into disjoint paths — parallel sections (guide §2.6)
      graft.operators.Parallelism.inParallel(
        () => Retrieval.bm25WriteIndex(docs, lexPath),
        () => {
          val (assigned, centroids, cb) = ivfPqBuild(emb, lit(true))
          Pq.ivfPqWriteIndexFull(Pq.ivfPqEncode(assigned, centroids, cb),
            centroids, cb, semPath)
        })
      val lex = Retrieval
        .bm25TopKIndexed(s, lexPath,
          docs.filter(col("doc_id") < 8), k = 20)
        .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rnk"))
      val sem = Pq
        .ivfPqTopKFromIndex(s, semPath,
          emb.filter(col("vec_id") < 8), k = 20, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rnk"))
      Retrieval.rrfFuse(Seq(lex, sem), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH ${Retrieval.bm25CtesSql("documents", "doc_id", "text", "doc_id < 8", 20)},
      lex AS (SELECT query_id, doc_id AS neighbor_id, rnk FROM bm25),
      ${ivfPqOracleCtes("TRUE")},
      ${ivfPqServeCtes("vec_id < 8", 20, None)},
      sem AS (SELECT query_id, neighbor_id, rnk FROM ipq),
      ${Retrieval.rrfFuseSql(Seq("lex", "sem"), 10)}
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
             CAST(rrf_fp AS BIGINT) AS rrf_fp
      FROM fused
      ORDER BY query_id, rnk
    """))

  /** The tokenizer as a WRITTEN artifact ([[graft.operators.Bpe
    * .writeTokenizer]] / [[graft.operators.Bpe.encodeIdsFromTokenizer]])
    * — the tokenizer joins the written-index family: train once on the
    * reference corpus, persist merges + vocab (both vocabulary-sized,
    * KB-scale), encode every future snapshot FROM THE ARTIFACT with
    * training never rerunning on the ingest path. Gate: id sequences
    * encoded from the written artifact hash-equal the in-session
    * train+encode replay (q157's oracle, different document slice) —
    * a drift in the persisted merge order, a vocab id renumbering, or
    * a load-path bug moves token ids and hash-fails.
    */
  val q164BpeTokenizerIndex: QueryDef = QueryDef(
    "q164_bpe_tokenizer_index",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val wf = Bpe.wordFreq(docs, "text").localCheckpoint()
      val ms = Bpe.trainMergesFromWordFreq(wf, nMerges = 6)
      val v = Bpe.vocab(ms)
      val path = Scenario.workspace("q164_bpe_tokenizer_index", "bpetok", dir)
      Bpe.writeTokenizer(s, path, ms, v)
      Bpe.encodeIdsFromTokenizer(s, path,
          docs.filter(col("doc_id") >= 40 && col("doc_id") < 80),
          "doc_id", "text")
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id"))
        .orderBy(col("doc_id"), col("pos"))
    },
    Some(s"""
      WITH ${Bpe.trainOracleCtes("documents", "text", 6)},
      ${Bpe.vocabOracleCtes(6)},
      ${Bpe.encodeIdsOracleCtes(
        "(SELECT * FROM documents WHERE doc_id >= 40 AND doc_id < 80)",
        "doc_id", "text", 6)}
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             CAST(token_id AS BIGINT) AS token_id
      FROM ids
      ORDER BY doc_id, pos
    """))

  /** The bigram quality filter in its STANDING-PIPELINE form
    * ([[graft.operators.TextAnalysis.bigramNllApply]]): the LM trains
    * on the BASE corpus and scores a disjoint snapshot — how the
    * CCNet-shape filter actually deploys (train on the reference
    * corpus once, score every new crawl), where q150's self-scoring is
    * the calibration run. Exercises the open-vocabulary path q150
    * structurally cannot: snapshot bigrams absent from the model score
    * through the smoothing at zero counts (left joins coalesced — an
    * unseen context scores 1/V), which the oracle replays exactly.
    */
  val q165BigramApply: QueryDef = QueryDef(
    "q165_bigram_apply",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.bigramNllApply(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", BigramNllMedian)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ${TextAnalysis.bigramNllApplyCtesSql(
        "(SELECT * FROM documents WHERE doc_id % 3 <> 0)",
        "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
        "doc_id", "text", BigramNllMedian)}
      SELECT doc_id, n_big, nll, kept
      FROM bnlla
      ORDER BY doc_id
    """))

  /** Flagship curation v6 — THE DAY-2 RUN: the pipeline a standing
    * curation service executes when a new snapshot arrives, where
    * every piece of model state is a WRITTEN artifact built from the
    * base corpus and the snapshot is the only fresh data scanned.
    * Day-1 (build): exact-fingerprint index ([[graft.operators.Dedup
    * .exactWriteIndex]]), bigram LM ([[graft.operators.TextAnalysis
    * .bigramWriteModel]]), BPE tokenizer ([[graft.operators.Bpe
    * .writeTokenizer]]) — each from one base scan. Day-2 (ingest):
    * (1) incremental exact dedup — snapshot fingerprints append
    * delta-sized, survivors are the snapshot docs that are their
    * cluster's GLOBAL kept id (a duplicate of any base doc drops, the
    * q160 pruned-probe path); (2) quality — survivors scored against
    * the written LM ([[graft.operators.TextAnalysis
    * .bigramNllFromModel]], the q165 semantics); (3) tokenize — kept
    * docs encoded from the written tokenizer (token counts, q164's
    * artifact); (4) pack — the counts feed q131's concat-and-cut
    * sequence packing. Output: the snapshot's training-sequence
    * placement manifest. v5 (q158) is this pipeline's day-1 shape —
    * everything trained in-session on one corpus; v6 is what runs
    * every day after. The oracle replays all four stages CTE-for-CTE
    * over base ∪ snapshot: a drift in any written layout, the
    * smoothing, a merge, or a packing offset moves coordinates and
    * hash-fails.
    */
  val q166CurationV6: QueryDef = QueryDef(
    "q166_curation_v6",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val fpPath = Scenario.workspace("q166_curation_v6", "fpidx", dir)
      val lmPath = Scenario.workspace("q166_curation_v6", "bigram", dir)
      val tokPath = Scenario.workspace("q166_curation_v6", "bpetok", dir)
      // the three day-1 artifacts (exact index, bigram LM, BPE
      // tokenizer) are independent builds into disjoint paths — run
      // them as parallel sections (guide §2.6), the q176/q202 idiom
      graft.operators.Parallelism.inParallel(
        () => Dedup.exactWriteIndex(base, fpPath,
          "doc_id", "text"),
        () => TextAnalysis.bigramWriteModel(base, lmPath,
          "doc_id", "text"),
        () => {
          val wf = Bpe.wordFreq(base, "text").localCheckpoint()
          val ms = Bpe.trainMergesFromWordFreq(wf, nMerges = 4)
          Bpe.writeTokenizer(s, tokPath, ms, Bpe.vocab(ms))
        })
      // ---- day-2: snapshot + written artifacts only ----
      val snapshot = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text")).localCheckpoint()
      Dedup.exactAppendIndex(snapshot, fpPath, "doc_id", "text")
      val clusters = Dedup.exactClustersIndexed(s, fpPath,
        snapshot, "doc_id", "text")
      val surv = snapshot
        .withColumn("fingerprint", md5(TextOps.normalize(col("text"))))
        .join(clusters, "fingerprint")
        .filter(col("doc_id") === col("kept_id"))
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      val keptIds = TextAnalysis.bigramNllFromModel(s, lmPath,
          surv, "doc_id", "text", BigramNllMedian)
        .filter(col("kept")).select(col("doc_id"))
      val kept = surv.join(keptIds, "doc_id").localCheckpoint()
      val counts = Bpe.encodeTokenCountsFromTokenizer(s, tokPath,
        kept, "doc_id", "text")
      Curation.packSequencesByCount(counts, "doc_id", "n_bpe", seqLen = 256)
        .orderBy(col("shard"), col("seq_idx"), col("doc_id"))
    },
    Some(s"""
      WITH fp6 AS (SELECT doc_id,
                          md5(${TextOps.normalizeSql("text")}) AS fingerprint
                   FROM documents),
      keep6 AS (SELECT fingerprint, MIN(doc_id) AS kept_id
                FROM fp6 GROUP BY 1),
      surv AS MATERIALIZED (
        SELECT d.doc_id, d.text
        FROM documents d
        JOIN fp6 f ON f.doc_id = d.doc_id
        JOIN keep6 k ON k.fingerprint = f.fingerprint
        WHERE d.doc_id % 3 = 0 AND d.doc_id = k.kept_id),
      ${TextAnalysis.bigramNllApplyCtesSql(
        "(SELECT * FROM documents WHERE doc_id % 3 <> 0)", "surv",
        "doc_id", "text", BigramNllMedian)},
      keptd AS MATERIALIZED (
        SELECT s.doc_id, s.text
        FROM surv s JOIN bnlla b USING (doc_id)
        WHERE b.kept),
      ${Bpe.trainOracleCtes(
        "(SELECT * FROM documents WHERE doc_id % 3 <> 0)", "text", 4)},
      ${Bpe.encodeOracleCtes("keptd", "doc_id", "text", 4)},
      ${Curation.packSequencesByCountSql("enc", "n_bpe", 256)}
    """))

  /** The WITH-body of the SimHash pair replay over ANY (doc_id, blk,
    * text) relation — shared by the document members (q167/q168) and
    * the FRAME member (q208, frames-as-documents): 60-bit fingerprints
    * from distinct tokens, four 15-bit bands, the bucket cap, the
    * distinct multi-band candidates. Ends at `shpairs` = (blk, doc_a,
    * doc_b, fa, fb); callers append their own hamming filter + tail.
    */
  private def simhashPairsCtes(rel: String): String = {
    val sums = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n             ")
    val fp = (0 until 60).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""shdocs AS ($rel),
      shtok AS (SELECT doc_id, unnest(list_distinct(${TextOps.tokensSql("text")})) AS t
                FROM shdocs),
      shh AS (SELECT doc_id, ${TextOps.hash60Sql("t")} AS h FROM shtok),
      shbits AS (SELECT doc_id, $sums FROM shh GROUP BY doc_id),
      shfp AS (SELECT f.doc_id, d.blk, CAST($fp AS BIGINT) AS fp
               FROM shbits f JOIN shdocs d ON d.doc_id = f.doc_id
               WHERE d.blk IS NOT NULL),
      shbands AS (SELECT doc_id, blk, fp, j AS bidx,
                         (fp >> (15 * j)) & 32767 AS bval
                  FROM (SELECT doc_id, blk, fp,
                               unnest(generate_series(0, 3)) AS j
                        FROM shfp) t),
      shcap AS (SELECT blk, bidx, bval, doc_id, fp FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY blk, bidx, bval) AS bn
        FROM shbands) c
        WHERE bn <= 10000),
      shpairs AS (SELECT DISTINCT x.blk, x.doc_id AS doc_a,
                         y.doc_id AS doc_b, x.fp AS fa, y.fp AS fb
                  FROM shcap x
                  JOIN shcap y ON y.blk = x.blk AND y.bidx = x.bidx
                              AND y.bval = x.bval AND x.doc_id < y.doc_id)"""
  }

  /** The q167/q168 oracle: fresh blocked SimHash near-dup pairs, with
    * an optional extra predicate (q168 restricts to snapshot-endpoint
    * pairs — the incremental path must equal exactly this). Replays
    * the WHOLE Spark chain: 60-bit fingerprints (the q32 sum-of-signs
    * shape widened), the four 15-bit bands, the bucket cap, the
    * distinct multi-band candidates, and the `bit_count(xor)` verify.
    */
  private def simhashPairsOracleSql(extraPred: String): String = s"""
      WITH ${simhashPairsCtes("SELECT doc_id, source AS blk, text FROM documents")}
      SELECT blk, doc_a, doc_b,
             CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
      FROM shpairs
      WHERE bit_count(xor(fa, fb)) <= 3 AND ($extraPred)
      ORDER BY blk, doc_a, doc_b
    """

  /** Blocked SimHash near-dup pairs ([[graft.operators.Dedup
    * .simhashNearDupPairs]]): hamming-ball search over 60-bit
    * fingerprints via four 15-bit bands (Manku/Jain/Sarma WWW'07 —
    * banding is EXACT for the ≤3-bit ball by pigeonhole), blocked by
    * source like the n-gram family. The boilerplate-tier near-dup
    * detector whose per-doc state is one long — completing the
    * near-dup spectrum: SimHash (tight ball) → MinHash (Jaccard 0.8)
    * → containment (asymmetric).
    */
  val q167SimhashPairs: QueryDef = QueryDef(
    "q167_simhash_pairs",
    (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", blockCol = "source")
        .orderBy(col("blk"), col("doc_a"), col("doc_b")),
    Some(simhashPairsOracleSql("TRUE")))

  /** Incremental SimHash near-dup against the WRITTEN band index
    * ([[graft.operators.Dedup.simhashWriteIndex]] /
    * [[graft.operators.Dedup.simhashNearDupIndexed]]) — the fourth
    * and last member of the incremental-dedup family (q160 exact,
    * q159 MinHash, q161 containment): band rows appended delta-sized
    * with the fingerprint inline (the probe never touches text OR
    * signatures — `bit_count` on stored longs), pairs served from a
    * band-shard-pruned probe. Oracle: the fresh q167 replay
    * restricted to snapshot-endpoint pairs.
    */
  val q168SimhashIncremental: QueryDef = Scenario(
    "q168_simhash_incremental", Scenario.Simhash, Split(4, 0), Append,
    Some(simhashPairsOracleSql("doc_a % 4 = 0 OR doc_b % 4 = 0")))

  /** Drift audit of the q166 standing bigram model
    * ([[graft.operators.TextAnalysis.bigramModelAudit]]): per source,
    * the share of a new snapshot's bigram mass the written model has
    * never seen — unseen (w1,w2) pairs score through smoothing, unseen
    * CONTEXTS score the flat 1/V floor, and a rising rate is the
    * model's retrain signal (the lexical-model member of the audit
    * family: q145/q151 vector, q162 BM25 df-drift). One snapshot pass
    * + two model-sized left joins; the base corpus is never read.
    */
  val q169BigramDrift: QueryDef = QueryDef(
    "q169_bigram_drift",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val lmPath = Scenario.workspace("q169_bigram_drift", "bigram", dir)
      TextAnalysis.bigramWriteModel(docs.filter(col("doc_id") % 3 =!= 0),
        lmPath, "doc_id", "text")
      TextAnalysis.bigramModelAudit(s, lmPath,
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", "source")
        .orderBy(col("source"))
    },
    Some(TextAnalysis.bigramModelAuditSql(
      "(SELECT * FROM documents WHERE doc_id % 3 <> 0)",
      "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
      "doc_id", "text", "source")))

  /** Packed sequences MATERIALIZED ([[graft.operators.Curation
    * .packTokenIds]]): the q157 token-id sequences placed at their
    * (shard, seq_idx, pos_in_seq) training-sequence coordinates with
    * an EOS id (= vocabulary size) closing each document — the
    * literal artifact a pretraining data loader reads, where q131/
    * q158 stop at span coordinates. The oracle composes the FULL
    * chain: 6-merge training replay → vocabulary numbering → per-doc
    * id sequences → the packing offset window → per-token placement —
    * a drift in any stage moves a token's coordinate and hash-fails.
    */
  val q170PackedIds: QueryDef = QueryDef(
    "q170_packed_ids",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val wf = Bpe.wordFreq(docs, "text").localCheckpoint()
      val ms = Bpe.trainMergesFromWordFreq(wf, nMerges = 6)
      val v = Bpe.vocab(ms)
      val ids = Bpe.encodeIds(docs.filter(col("doc_id") < 40),
          "doc_id", "text", ms, v)
        .localCheckpoint()
      Curation.packTokenIds(ids, "doc_id", "token_ids", seqLen = 256,
          eosId = v.size.toLong)
        .orderBy(col("shard"), col("seq_idx"), col("pos_in_seq"))
    },
    Some(s"""
      WITH ${Bpe.trainOracleCtes("documents", "text", 6)},
      ${Bpe.vocabOracleCtes(6)},
      ${Bpe.encodeIdsOracleCtes(
        "(SELECT * FROM documents WHERE doc_id < 40)", "doc_id", "text", 6)},
      idn AS (SELECT d.doc_id, COALESCE(c.n, 0) AS n
              FROM (SELECT doc_id FROM documents WHERE doc_id < 40) d
              LEFT JOIN (SELECT doc_id, COUNT(*) AS n
                         FROM ids GROUP BY 1) c USING (doc_id)),
      ipo AS (SELECT doc_id,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard, n,
                     CAST(SUM(n + 1) OVER (
                         PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       - (n + 1) AS BIGINT) AS s
              FROM idn),
      tokrows AS (SELECT doc_id, pos, token_id FROM ids
                  UNION ALL
                  SELECT doc_id, n AS pos,
                         (SELECT COUNT(*) FROM vocab) AS token_id
                  FROM ipo)
      SELECT o.shard, CAST((o.s + t.pos) // 256 AS BIGINT) AS seq_idx,
             CAST((o.s + t.pos) % 256 AS BIGINT) AS pos_in_seq,
             CAST(t.token_id AS BIGINT) AS token_id, t.doc_id
      FROM tokrows t JOIN ipo o USING (doc_id)
      ORDER BY shard, seq_idx, pos_in_seq
    """))

  /** STREAMING day-2 ingest ([[graft.streaming.IndexIngest]]): the
    * snapshot arrives as a Structured Streaming file source in two
    * single-file micro-batches (`maxFilesPerTrigger = 1`), each batch
    * appending one generation to the written fingerprint index via
    * `foreachBatch` — the standing pipeline's ingest loop as an actual
    * streaming sink. The final standing probe
    * ([[graft.operators.Dedup.exactClustersIndexed]]) must then equal
    * the fresh whole-corpus oracle restricted to snapshot-touched
    * clusters — batch boundaries CANNOT move the result, because
    * generations partition the corpus and the probe reads their union
    * (the q160 semantics, delivered incrementally).
    */
  val q171StreamingIngest: QueryDef = Scenario(
    "q171_streaming_ingest", Scenario.Exact, Split(5, 1), Stream,
    Some(exactClustersOracleSql("doc_id % 5 = 1")))

  /** Incremental BLOCK-level exact dedup against the written
    * block-fingerprint index ([[graft.operators.Dedup
    * .blockWriteIndex]] / [[graft.operators.Dedup
    * .blockDedupIndexed]]) — the SUB-DOCUMENT member of the
    * incremental family (q159/q160/q161/q168 are whole-document):
    * a new snapshot's paragraphs dedup against every previous
    * generation's, with the q123 keep-first reassembly semantics and
    * a text-free index (fingerprint + coordinates only). Oracle: the
    * fresh whole-corpus q123 replay restricted to snapshot docs.
    */
  val q172BlockIncremental: QueryDef = Scenario(
    "q172_block_incremental", Scenario.Block, Split(4, 2), Append,
    Some(s"""
      WITH ${blockDedupCtesFrom("documents", 12)}
      SELECT doc_id, n_blocks, n_kept, text_deduped
      FROM bd
      WHERE doc_id % 4 = 2
      ORDER BY doc_id
    """))

  /** The ONE engine-side copy of the semantic-index build recipe the
    * five semantic gates (q173/q175/q176/q178/q180) share, so it can
    * never drift from [[kmeansBaseTrainCtes]], its oracle twin:
    * 2 Lloyd rounds on the base slice (init = base ∩ vec_id < 8), the
    * base assignment written cid-partitioned at `path`. Returns the
    * frozen centroid frame the delta must be assigned with.
    */
  private[queries] def buildSemanticIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, basePred: Column, path: String): DataFrame = {
    val base = Tables.load(s, dir, "embeddings").filter(basePred)
    val init = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("centroid"))
    val cent = Clustering.lloydCentroids(base, init, iters = 2)
    Clustering.semanticWriteIndex(Clustering.assignL2(base, cent), path)
    cent
  }

  /** Shared fresh-union SemDeDup replay (q173 AND q178's repair gate):
    * 2 Lloyd rounds on the base 3/4, frozen-centroid assignment of the
    * union, keep-lowest-id within capped clusters, restricted to the
    * snapshot quarter. q178 serves from a replayed-append-then-
    * compacted layout — hash-equality against this clean replay IS
    * the proof the compaction restored exactly the clean index.
    */
  private def semanticIncrementalOracleSql: String = {
    val cosXY = Similarity.cosineSql("x.v", "y.v")
    s"""
      WITH ${kmeansBaseTrainCtes("vec_id % 4 <> 0")},
      csz AS (SELECT cid, COUNT(*) AS cn FROM au GROUP BY 1),
      rm AS (SELECT DISTINCT y.vec_id
             FROM au x
             JOIN au y ON x.cid = y.cid AND x.vec_id < y.vec_id
             JOIN csz z ON z.cid = x.cid AND z.cn <= 10000
             WHERE $cosXY >= 0.3)
      SELECT a.cid, a.vec_id, (r.vec_id IS NULL) AS kept
      FROM au a LEFT JOIN rm r USING (vec_id)
      WHERE a.vec_id % 4 = 0
      ORDER BY cid, vec_id
    """
  }

  /** Incremental SemDeDup against the WRITTEN semantic index — the
    * embedding-side capstone of the incremental-dedup family (exact
    * q160 / minhash q159 / containment q161 / simhash q168 / block
    * q172, now 6/6 with the semantic member): centroids train on the
    * BASE slice only ([[buildSemanticIndex]] — the frozen family of
    * the index build), the snapshot quarter is assigned against the
    * SAME frozen centroids and appended as generation 1, and the
    * probe ([[graft.operators.Clustering.semDedupIndexed]]) decides
    * `kept` for every snapshot vector against the FULL union
    * membership of its cluster, read back through a cid-pruned scan.
    * The oracle is the fresh whole-union replay: assign base∪delta to
    * the same frozen centroids, run the keep-lowest-id rule
    * cluster-wide, restrict to snapshot ids — hash-equality IS the
    * proof that build→append→probe composes to the fresh run (the
    * q137/q160 append-commutes contract, on the embedding side).
    */
  val q173SemanticIncremental: QueryDef = Scenario(
    "q173_semantic_incremental", Scenario.Semantic, Split(4, 0), Append,
    Some(semanticIncrementalOracleSql))

  /** STREAMING day-2 ingest into the written IVF index — the vector
    * twin of [[q171StreamingIngest]]: the delta quarter arrives as a
    * Structured Streaming file source in two single-file micro-batches
    * (`maxFilesPerTrigger = 1`), each batch assigned against the
    * FROZEN centroid family and appended as one generation via
    * `foreachBatch` ([[graft.streaming.IndexIngest.ivfBatch]]).
    * The served top-3 must then HASH-EQUAL the fresh-build-on-union
    * oracle ([[ivfIndexOracleSql]], shared verbatim with q134/q137) —
    * batch boundaries CANNOT move the result, because per-vector
    * assignment is independent of every other vector and generations
    * partition the delta (the q137 append contract delivered one
    * micro-batch at a time).
    */
  val q174StreamingIvfIngest: QueryDef = Scenario(
    "q174_streaming_ivf_ingest", Scenario.Ivf, Split(4, 0), Stream,
    Some(ivfIndexOracleSql))

  /** The oracle twin of [[graft.operators.Clustering.semanticDriftAudit]]
    * after CTEs ending in `agg` = per-cluster base and new counts
    * (`n_base`, `n_new`) and fixed-point d2 sums (`sf_base`, `sf_new`):
    * each side's share and mean d2, and whether the share moved more
    * than `shareDrift`. */
  private def semanticDriftSql(shareDrift: Double): String =
    s"""sh AS (SELECT cid, n_base, n_new, sf_base, sf_new,
                    CASE WHEN SUM(n_base) OVER () > 0
                         THEN CAST(n_base AS DOUBLE)
                              / CAST(SUM(n_base) OVER () AS DOUBLE) END AS shb,
                    CASE WHEN SUM(n_new) OVER () > 0
                         THEN CAST(n_new AS DOUBLE)
                              / CAST(SUM(n_new) OVER () AS DOUBLE) END AS shn
             FROM agg)
      SELECT cid, CAST(n_base AS BIGINT) AS n_base,
             CAST(n_new AS BIGINT) AS n_new,
             round(shb, 6) AS share_base, round(shn, 6) AS share_new,
             CASE WHEN n_base > 0
                  THEN FLOOR(CAST(sf_base AS DOUBLE) / n_base) / 1000000.0 END
               AS mean_d2_base,
             CASE WHEN n_new > 0
                  THEN FLOOR(CAST(sf_new AS DOUBLE) / n_new) / 1000000.0 END
               AS mean_d2_new,
             COALESCE(ABS(shn - shb) > $shareDrift, FALSE) AS drifted
      FROM sh
      ORDER BY cid"""

  /** CENTROID-STALENESS drift audit of the written semantic index
    * ([[graft.operators.Clustering.semanticDriftAudit]]) on a
    * genuinely DISTRIBUTION-SHIFTED snapshot: the base slice is the
    * half-space `embedding[1] ≤ 0`, the snapshot generation is the
    * opposite half-space — cluster membership is embedding-direction-
    * based, so centroids aligned with +e₁ gain snapshot share and the
    * others starve, which is exactly the population shift the audit
    * exists to flag (`drifted` comes back MIXED, not vacuously
    * uniform; label-based splits don't shift anything — the fixture's
    * labels are uncorrelated with the vectors). The oracle replays
    * the base-slice Lloyd training, the frozen-centroid union
    * assignment, and the per-cluster share/fixed-point-mean-d2 table.
    */
  val q175SemanticDrift: QueryDef = QueryDef(
    "q175_semantic_drift",
    (s, dir) => {
      val e1 = element_at(col("embedding"), 1).cast("double")
      val path = Scenario.workspace("q175_semantic_drift", "index", dir)
      val cent = buildSemanticIndex(s, dir, e1 <= 0.0, path)
      Clustering.semanticAppendIndex(
        Clustering.assignL2(
          Tables.load(s, dir, "embeddings").filter(e1 > 0.0), cent),
        path, gen = 1)
      // 0.03 sits between the fixture's real share movements (±3-4pp
      // on the +e₁-aligned clusters, ±1pp elsewhere) so the flag is
      // exercised MIXED — both branches live on the gate fixture
      Clustering.semanticDriftAudit(s, path, shareDrift = 0.03)
        .orderBy(col("cid"))
    },
    Some(s"""
      WITH ${kmeansBaseTrainCtes("v[1] <= 0.0")},
      agg AS (SELECT cid,
                     COUNT(CASE WHEN v[1] <= 0.0 THEN 1 END) AS n_base,
                     COUNT(CASE WHEN v[1] > 0.0 THEN 1 END) AS n_new,
                     SUM(CASE WHEN v[1] <= 0.0
                              THEN CAST(FLOOR(d2 * 1000000.0) AS BIGINT) END)
                       AS sf_base,
                     SUM(CASE WHEN v[1] > 0.0
                              THEN CAST(FLOOR(d2 * 1000000.0) AS BIGINT) END)
                       AS sf_new
              FROM au GROUP BY 1),
      ${semanticDriftSql(0.03)}
    """))

  /** Flagship curation v7 — DAY-2 INGEST ACROSS ALL THREE INDEX
    * MODALITIES: one snapshot arrives and every standing index the
    * engine ships ingests it delta-sized — the fingerprint index via
    * the STREAMING sink (two micro-batch generation appends, q171's
    * path), the lexical BM25 index via a generation append whose
    * serve stays exact because df/stats live as per-generation
    * contributions (q155's path), and the semantic cluster index via
    * a frozen-centroid append probed by incremental SemDeDup (q173's
    * path). The composed output is the snapshot ADMISSION MANIFEST a
    * curation service hands downstream: per snapshot document, did it
    * survive exact dedup against the full corpus, did its embedding
    * survive semantic dedup against its cluster's union membership,
    * is it admitted (both), and its best served BM25 rank over the
    * standing query set (null = not lexically visible in any top-10).
    * v6 (q166) is the day-2 run where model ARTIFACTS (LM, tokenizer)
    * are written; v7 is the day-2 run where all three INDEXES are —
    * together they close SURVEY §7.1 step 9's standing-pipeline
    * story. The oracle replays all three modalities fresh over
    * base ∪ snapshot (whole-corpus fingerprint clusters, the shared
    * q146/q154/q155 BM25 CTEs, the frozen-centroid union SemDeDup) —
    * a drift in ANY of the three written layouts, the streaming batch
    * boundaries, or the admission logic hash-fails.
    *
    * 100 TB posture: day-2 work is delta-sized on all three paths
    * (generation appends, zero base reads); the probes serve through
    * pruned scans (fingerprint shards / query-term shards / touched
    * cluster dirs); the manifest joins are snapshot-sized with the
    * bounded-query lexical serve broadcast.
    */
  val q176CurationV7: QueryDef = {
    val cosXY = Similarity.cosineSql("x.v", "y.v")
    QueryDef(
      "q176_curation_v7",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val emb = Tables.load(s, dir, "embeddings")
        val baseDocs = docs.filter(col("doc_id") % 3 =!= 0)
        val snapDocs = docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")).localCheckpoint()
        // the three modalities build three DISJOINT index layouts and
        // only meet at the final manifest joins — overlap the chains
        // (guide §2.6; the r21 profile showed 3 × ~4 s ledgered/append
        // floors plus a 4.7 s driver-side gap, all serialized): the
        // eager phase now pays ~max(chain) and each chain's driver-side
        // fs work hides behind the other chains' running jobs.
        var exactKept: org.apache.spark.sql.DataFrame = null
        var lexRank: org.apache.spark.sql.DataFrame = null
        var semKept: org.apache.spark.sql.DataFrame = null
        graft.operators.Parallelism.inParallel(
          // ---- fingerprint modality: day-1 build, STREAMING day-2 ----
          () => {
            val fpPath = Scenario.workspace("q176_curation_v7", "fpidx", dir)
            Dedup.exactWriteIndex(baseDocs, fpPath, "doc_id",
              "text")
            Scenario.deliver(Scenario.landChunks(s,
                Scenario.workspace("q176_curation_v7", "in", dir), snapDocs,
                col("doc_id") % 2 === 0))(
              IndexIngest.exactBatch(fpPath, "doc_id", "text"))
            exactKept = snapDocs
              .withColumn("fingerprint", md5(TextOps.normalize(col("text"))))
              .join(Dedup.exactClustersIndexed(s, fpPath, snapDocs,
                "doc_id", "text"), "fingerprint")
              .select(col("doc_id"),
                (col("doc_id") === col("kept_id")).as("exact_kept"))
          },
          // ---- lexical modality: day-1 build, generation append ----
          () => {
            val lexPath = Scenario.workspace("q176_curation_v7", "bm25idx", dir)
            Retrieval.bm25WriteIndex(baseDocs, lexPath)
            Retrieval.bm25AppendIndex(snapDocs, lexPath)
            lexRank = Retrieval.bm25TopKIndexed(s, lexPath,
                docs.filter(col("doc_id") < 8), k = 10)
              .groupBy(col("doc_id"))
              .agg(min(col("rnk")).as("lex_best_rank"))
          },
          // ---- semantic modality: frozen-centroid append + probe ----
          () => {
            val semPath = Scenario.workspace("q176_curation_v7", "semantic",
              dir)
            val cent = buildSemanticIndex(s, dir, col("vec_id") % 3 =!= 0,
              semPath)
            val snapEmb = Clustering.assignL2(
              emb.filter(col("vec_id") % 3 === 0), cent).localCheckpoint()
            Clustering.semanticAppendIndex(snapEmb, semPath, gen = 1)
            semKept = Clustering.semDedupIndexed(s, semPath,
                snapEmb, threshold = 0.3)
              .select(col("vec_id").as("doc_id"), col("kept").as("sem_kept"))
          })
        // ---- the admission manifest ----
        snapDocs.select(col("doc_id"))
          .join(exactKept, "doc_id")
          .join(semKept, Seq("doc_id"), "left")
          .join(lexRank, Seq("doc_id"), "left")
          .select(col("doc_id"), col("exact_kept"), col("sem_kept"),
            (col("exact_kept") && coalesce(col("sem_kept"), lit(true)))
              .as("admitted"),
            col("lex_best_rank"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH fp7 AS (SELECT doc_id,
                            md5(${TextOps.normalizeSql("text")}) AS fingerprint
                     FROM documents),
        keep7 AS (SELECT fingerprint, MIN(doc_id) AS kept_id
                  FROM fp7 GROUP BY 1),
        ek7 AS (SELECT f.doc_id, (f.doc_id = k.kept_id) AS exact_kept
                FROM fp7 f JOIN keep7 k USING (fingerprint)
                WHERE f.doc_id % 3 = 0),
        ${Retrieval.bm25CtesSql("documents", "doc_id", "text",
          "doc_id < 8", 10)},
        lr7 AS (SELECT doc_id, CAST(MIN(rnk) AS BIGINT) AS lex_best_rank
                FROM bm25 GROUP BY 1),
        ${kmeansBaseTrainCtes("vec_id % 3 <> 0")},
        csz7 AS (SELECT cid, COUNT(*) AS cn FROM au GROUP BY 1),
        rm7 AS (SELECT DISTINCT y.vec_id
                FROM au x
                JOIN au y ON x.cid = y.cid AND x.vec_id < y.vec_id
                JOIN csz7 z ON z.cid = x.cid AND z.cn <= 10000
                WHERE $cosXY >= 0.3),
        sk7 AS (SELECT a.vec_id AS doc_id, (r.vec_id IS NULL) AS sem_kept
                FROM au a LEFT JOIN rm7 r USING (vec_id)
                WHERE a.vec_id % 3 = 0)
        SELECT e.doc_id, e.exact_kept, s.sem_kept,
               (e.exact_kept AND COALESCE(s.sem_kept, TRUE)) AS admitted,
               l.lex_best_rank
        FROM ek7 e
        LEFT JOIN sk7 s USING (doc_id)
        LEFT JOIN lr7 l USING (doc_id)
        ORDER BY doc_id
      """))
  }

  /** STREAMING day-2 ingest into the written BM25 index
    * ([[graft.streaming.IndexIngest.bm25Batch]]) — the LEXICAL member
    * closing the streaming ingest loop at 3/3 index modalities
    * (fingerprint q171, vector q174, lexical here): the snapshot
    * third arrives as a file source in two single-file micro-batches,
    * each appending one generation (delta postings + additive df/stats
    * contributions, zero base reads), and the served top-10 must
    * hash-equal the SAME fresh-whole-corpus oracle as q146/q154/q155.
    * That equality is the r12 layout invariant doing its job one
    * micro-batch at a time: tf/dl are per-document facts local to
    * their batch, df and the corpus scalars sum over generations at
    * serve, so batch boundaries provably cannot move a score.
    */
  val q177StreamingBm25Ingest: QueryDef = Scenario(
    "q177_streaming_bm25_ingest", Scenario.Bm25, Split(3, 0), Stream,
    Some(bm25Top10OracleSql))

  /** The semantic index REPAIR path
    * (`IndexLayout.semantic(idCol).audit` /
    * `IndexLayout.semantic(idCol).compact`) — the cluster-layout member
    * closing the audit/repair family at 4/4 (exact, lexical q156, PQ
    * q151, semantic here): q173's lifecycle with the exactly-once
    * failure INJECTED (the snapshot append runs twice — a blind retry),
    * so every snapshot member row sits in its cluster directory twice,
    * inflating union sizes toward the probe cap and double-counting
    * drift shares. The audit localizes EXACTLY the replayed members
    * ([[Scenario]] asserts bit-identical copies, no payload
    * divergence), compaction stage-and-swaps the deduped rows into a
    * fresh cid-partitioned layout, and the incremental SemDeDup probe
    * over THAT must hash-equal the clean fresh-union oracle (shared
    * with q173 verbatim) — a missed duplicate, a dropped legitimate
    * member, or a verdict moved by the inflated sizes all hash-fail.
    */
  val q178SemanticRepair: QueryDef = Scenario(
    "q178_semantic_repair", Scenario.Semantic, Split(4, 0), BlindRetry(),
    Some(semanticIncrementalOracleSql))

  /** STREAMING day-2 ingest into the written SEMANTIC index
    * ([[graft.streaming.IndexIngest.semanticBatch]]) — the fourth and
    * final written index family on the streaming ingest loop
    * (fingerprint q171, vector q174, lexical q177, semantic here):
    * the snapshot quarter arrives as a file source in two single-file
    * micro-batches, each assigned against the FROZEN centroid family
    * and appended as its own generation (gen = 1, 2 — the
    * per-batch-id advance), and the standing incremental-SemDeDup
    * probe must hash-equal the SAME fresh-union oracle as q173 —
    * batch boundaries provably cannot move a verdict, because
    * per-vector assignment is independent, generations partition the
    * delta, and the probe reads their union.
    */
  val q180StreamingSemanticIngest: QueryDef = Scenario(
    "q180_streaming_semantic_ingest", Scenario.Semantic, Split(4, 0), Stream,
    Some(semanticIncrementalOracleSql))

  // ------------------------------------------------------------------
  // q193 replay-SAFE streaming ingest (the batchId-keyed commit ledger)
  // ------------------------------------------------------------------

  /** EXACTLY-ONCE ACROSS SINK RETRIES, gated (VERDICT r15 #1): the
    * q171 lifecycle — base index, snapshot streamed in two
    * micro-batches through [[graft.streaming.IndexIngest]] — followed
    * by a SIMULATED SINK RETRY: both micro-batches are RE-DELIVERED
    * through the sink's own per-batch body
    * ([[graft.streaming.IndexIngest.exactBatch]], the function the
    * running stream itself executes) under their original batchIds.
    * The batchId-keyed commit ledger must skip both replays, so (a)
    * the replay audit (`IndexLayout.Exact.audit`) is
    * EMPTY — emitted as the `n_replay_dups` scalar, which the oracle
    * pins to 0 — and (b) the served probe still hash-equals the same
    * fresh-union oracle as q171 (a replay that landed would double
    * every snapshot cluster_size AND raise the scalar: two
    * independent reds). This closes the one semantic delta vs the
    * reference's checkpoint-committed StreamingFileSink (SURVEY §2.2,
    * `DS/api/functions/sink/filesystem/StreamingFileSink.java`).
    */
  val q193IdempotentIngestReplay: QueryDef = QueryDef(
    "q193_idempotent_ingest_replay",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val idxPath =
        Scenario.workspace("q193_idempotent_ingest_replay", "fpidx", dir)
      Dedup.exactWriteIndex(docs.filter(col("doc_id") % 5 =!= 1),
        idxPath, "doc_id", "text")
      val snapshot = docs.filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"), col("text")).localCheckpoint()
      Scenario.deliver(Scenario.landChunks(s,
          Scenario.workspace("q193_idempotent_ingest_replay", "in", dir),
          snapshot, col("doc_id") % 2 === 0))(
        IndexIngest.exactBatch(idxPath, "doc_id", "text"))
      // the sink retry: re-deliver both batches under their original
      // (epoch, batchId) keys through the sink's own body — the
      // ledger must skip them (any execution doubles cluster sizes
      // and the audit scalar → hash-fail)
      (0 until 2).foreach { c =>
        IndexIngest.exactBatch(
          idxPath, "doc_id", "text")(
          snapshot.filter(col("doc_id") % 2 === c), c.toLong)
      }
      val audit = IndexLayout.Exact.audit(s, idxPath)
        .agg(count(lit(1)).as("n_replay_dups"))
      Dedup.exactClustersIndexed(s, idxPath, snapshot,
          "doc_id", "text")
        .crossJoin(broadcast(audit))
        .orderBy(col("fingerprint"))
    },
    Some(s"""
      WITH fp AS (SELECT doc_id, md5(${TextOps.normalizeSql("text")}) AS fingerprint
                  FROM documents)
      SELECT fingerprint, MIN(doc_id) AS kept_id, COUNT(*) AS cluster_size,
             CAST(0 AS BIGINT) AS n_replay_dups
      FROM fp
      GROUP BY 1
      HAVING COUNT(CASE WHEN doc_id % 5 = 1 THEN 1 END) > 0
      ORDER BY fingerprint
    """))

  // ------------------------------------------------------------------
  // q194 multimodal asset dedup vs the written index (8th member)
  // ------------------------------------------------------------------

  /** The NON-TEXT member of the incremental-dedup family (VERDICT r15
    * #2) — binary assets through the FULL media path: every document
    * materializes as a `.bin` file ([[graft.operators.Multimodal
    * .writeAssets]]), re-enters through Spark's `binaryFile` source
    * ([[graft.operators.Multimodal.ingestBinaryDir]] — the path real
    * image/audio corpora arrive by), the base 3/4 builds the written
    * payload-hash index ([[graft.operators.Multimodal
    * .assetWriteIndex]] — md5 of the CONTENT BYTES, shard = first 2
    * hex chars, the q160 layout verbatim), the remaining quarter
    * appends, and the probe ([[graft.operators.Multimodal
    * .assetDedupIndexed]]) dedups the snapshot against everything
    * ever indexed through a shard-PRUNED scan. Oracle: the fresh
    * whole-corpus byte-hash clustering restricted to snapshot-touched
    * fingerprints — DuckDB's md5 of the text IS the md5 of the file's
    * UTF-8 bytes, so a corrupted write, a lossy binary round-trip, or
    * a broken shard prune all hash-fail.
    */
  val q194AssetDedupIndexed: QueryDef = Scenario(
    "q194_asset_dedup_indexed", Scenario.Asset, Split(4, 3), Append,
    Some(s"""
      WITH $assetFpCte
      SELECT fingerprint, MIN(asset_id) AS kept_id, COUNT(*) AS cluster_size
      FROM fp
      GROUP BY 1
      HAVING COUNT(CASE WHEN asset_id % 4 = 3 THEN 1 END) > 0
      ORDER BY fingerprint
    """))

  // ------------------------------------------------------------------
  // q196 IVF-PQ recall@k audit (two-stage serve vs exact; q183's pair)
  // ------------------------------------------------------------------

  /** Recall@k of the IVF-PQ TWO-STAGE serve ([[graft.operators.Pq
    * .ivfPqRecallAudit]]) — q183's quality measurement over the coded
    * index family, closing the quality-audit pair (VERDICT r15 #4):
    * the self-contained index serves an ADC shortlist of 10 from the
    * written layout, re-ranks it exactly, and the audit counts how
    * many of the TRUE top-5 (brute force over the raw corpus) the
    * serve recovered — per query row. Unlike q183, recall here decays
    * through BOTH channels: nprobe pruning AND quantization error
    * (a shortlist too narrow for the codebook's distortion drops true
    * neighbors before re-rank can recover them — PqSpec pins a
    * hand-built geometry where exactly that happens). The oracle
    * replays the full composition: training arithmetic, written
    * serve, exact re-rank, exact top-5, and the per-query
    * intersection counts.
    */
  val q196IvfPqRecall: QueryDef = QueryDef(
    "q196_ivfpq_recall",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (assigned, centroids, cb) = ivfPqBuild(emb, lit(true))
      val path = Scenario.workspace("q196_ivfpq_recall", "ivfpqidx", dir)
      Pq.ivfPqWriteIndexFull(Pq.ivfPqEncode(assigned, centroids, cb),
        centroids, cb, path)
      Pq.ivfPqRecallAudit(s, path, emb,
          emb.filter(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")),
          k = 5, shortlist = 10, nprobe = 2)
        .orderBy(col("query_id"))
    },
      Some(s"""
        WITH ${ivfPqOracleCtes("TRUE")},
        ${ivfPqServeCtes("vec_id < 10", 5, rerank = Some(10))},
        ${exactTopKCte(5)}
        SELECT x.query_id, CAST(5 AS INT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hit,
               round(CAST(COUNT(p.neighbor_id) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS recall
        FROM xr x LEFT JOIN ipq p
          ON x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id
        GROUP BY 1 ORDER BY 1
      """))

  // ------------------------------------------------------------------
  // q197 multimodal near-dup vs the written semantic index (the
  // modality's SECOND index member, past q194's exact payload hash)
  // ------------------------------------------------------------------

  /** DuckDB replay of [[graft.operators.Multimodal.featurizeVector]]:
    * char counts over text EQUAL byte counts over the UTF-8 payload
    * for ASCII code points (continuation bytes are ≥ 0x80), so the
    * byte-level featurizer is SQL-replayable exactly — counts are
    * integers, every downstream double op (dot, sqrt, divide) is
    * correctly rounded on identical trees, and the verdicts hash-match
    * bit-for-bit.
    */
  private def assetFeatureCte: String = {
    val counts = Seq(" ", "e", "t", "a", "o", "i").map(c =>
      s"CAST(length(text) - length(replace(text, '$c', '')) AS DOUBLE)")
    s"""feats AS (SELECT doc_id AS vec_id,
          [1.0, CAST(strlen(text) AS DOUBLE),
           ${counts.mkString(",\n           ")}] AS v
        FROM documents WHERE text IS NOT NULL)"""
  }

  /** CTEs feats → cents → au: the featurized assets assigned to the
    * centroids frozen on the first 8 assets' vectors — the oracle twin
    * of [[Scenario.featurized]] and its L2 assignment. */
  private val assetAssignCtes = s"""$assetFeatureCte,
      cents AS (SELECT vec_id AS cid, v AS centroid
                FROM feats WHERE vec_id < 8),
      au AS ${kmeansAssignSql("feats", "cents")}"""

  /** CTEs after [[assetAssignCtes]] ending in `rm`: every asset with a
    * smaller-id neighbor at cosine >= 0.999 in its (capped) cluster. */
  private def assetNearDupCtes: String = {
    val cosXY = Similarity.cosineSql("x.v", "y.v")
    s"""$assetAssignCtes,
      csz AS (SELECT cid, COUNT(*) AS cn FROM au GROUP BY 1),
      rm AS (SELECT DISTINCT y.vec_id
             FROM au x
             JOIN au y ON x.cid = y.cid AND x.vec_id < y.vec_id
             JOIN csz z ON z.cid = x.cid AND z.cn <= 10000
             WHERE $cosXY >= 0.999)"""
  }

  /** Shared fresh whole-corpus replay for the asset near-dup probes
    * (q197 and its streaming twin q201 serve IDENTICAL verdicts —
    * batch boundaries cannot move them): featurize → frozen assign →
    * keep-lowest-id at cosine ≥ 0.999, restricted to the snapshot
    * quarter.
    */
  private def assetNearDupOracleSql: String = s"""
      WITH $assetNearDupCtes
      SELECT a.cid, a.vec_id, (r.vec_id IS NULL) AS kept
      FROM au a LEFT JOIN rm r USING (vec_id)
      WHERE a.vec_id % 4 = 3
      ORDER BY cid, vec_id
    """

  /** Near-dup dedup of NEW binary assets against the written semantic
    * index — the multimodal family's second index member (VERDICT r17
    * #7 / r15 candidate): q194 catches bit-identical payloads; this
    * member catches NEARLY-identical ones through the embedding
    * contract (q36/q173 family) with the codec stubbed by the
    * deterministic byte featurizer. The payload column enters a ONE
    * mapPartitions featurize pass ([[graft.operators.Multimodal
    * .featurizeVector]] — payloads never shuffle, only dim-8 vectors
    * leave), centroids FREEZE on the first 8 assets' vectors, the base
    * 3/4 builds the written cluster layout
    * ([[graft.operators.Clustering.semanticWriteIndex]]), the snapshot
    * quarter appends as generation 1, and
    * [[graft.operators.Clustering.semDedupIndexed]] decides kept
    * against FULL union cluster membership through a cid-pruned scan.
    * Oracle = the fresh whole-union replay (featurize → frozen assign
    * → keep-lowest-id at cosine ≥ 0.999) restricted to the snapshot —
    * the q173 hash-equality contract on the asset modality.
    */
  val q197AssetNearDupIndexed: QueryDef = Scenario(
    "q197_asset_near_dup_indexed", Scenario.AssetSemantic, Split(4, 3), Append,
    Some(assetNearDupOracleSql))

  // ------------------------------------------------------------------
  // q198 asset-index repair lifecycle (the repair family's non-text
  // member) and q199 streaming asset ingest (the ingest loop's 7th)
  // ------------------------------------------------------------------

  /** Shared oracle body for the asset-fingerprint probes (q194/q198/
    * q199): fresh whole-corpus byte-hash clustering restricted to
    * snapshot-touched fingerprints — DuckDB's md5 of the text IS the
    * md5 of the file's UTF-8 bytes.
    */
  private def assetFpCte = """fp AS (SELECT doc_id AS asset_id, md5(text) AS fingerprint
                  FROM documents WHERE text IS NOT NULL)"""

  private def assetClustersOracleSelect: String = """
      SELECT fingerprint, MIN(asset_id) AS kept_id, COUNT(*) AS cluster_size
      FROM fp
      GROUP BY 1
      HAVING COUNT(CASE WHEN asset_id % 4 = 3 THEN 1 END) > 0"""

  /** Replay-damage → audit → compact → serve lifecycle on the BINARY
    * asset index — the repair family's non-text member (IVF-PQ q151,
    * BM25 q156, semantic q178, mixture q192): the snapshot quarter is
    * appended TWICE (the ledger-less retry the exactly-once contract
    * warns about), `IndexLayout.Asset.audit`
    * localizes exactly the doubled ids, and
    * `IndexLayout.Asset.compact` rewrites the
    * fingerprint rows (id + hash only — NO payload bytes re-read: the
    * 100 TB media-repair argument) to a staged path whose probe must
    * hash-equal the clean fresh-corpus oracle. Two damage scalars ride
    * every row: `n_damaged` (audit count pre-repair = the snapshot
    * size, every id doubled) and `n_after` (0 — the repair's claim).
    */
  val q198AssetRepair: QueryDef = Scenario(
    "q198_asset_repair", Scenario.Asset, Split(4, 3),
    BlindRetry(scalars = true),
    Some(s"""
      WITH $assetFpCte,
      dmg AS (SELECT COUNT(*) AS n_damaged FROM fp WHERE asset_id % 4 = 3)
      SELECT z.*, dmg.n_damaged, CAST(0 AS BIGINT) AS n_after
      FROM ($assetClustersOracleSelect) z CROSS JOIN dmg
      ORDER BY fingerprint
    """))

  /** STREAMING day-2 ingest of BINARY media — the ingest loop's
    * seventh member and its first non-text one: the delta quarter
    * lands as `.bin` FILES in a watched directory, Spark's
    * `binaryFile` stream delivers them in two micro-batches
    * ([[graft.operators.Multimodal.streamBinaryDir]] with
    * `maxFilesPerTrigger` = half the delta), and each batch's payload
    * hashes are appended as one generation through the SAME
    * batchId-keyed commit ledger as the six text/vector members
    * ([[graft.streaming.IndexIngest.assetBatch]]). The standing probe
    * must then hash-equal q194's fresh whole-corpus oracle — batch
    * boundaries cannot move byte-hash verdicts.
    */
  val q199StreamingAssetIngest: QueryDef = Scenario(
    "q199_streaming_asset_ingest", Scenario.Asset, Split(4, 3), Stream,
    Some(s"""
      WITH $assetFpCte
      $assetClustersOracleSelect
      ORDER BY fingerprint
    """))

  // ------------------------------------------------------------------
  // q200 frame-level dedup vs the written frame-fingerprint index —
  // the dedup family BELOW the asset (q172's rule on the byte level)
  // ------------------------------------------------------------------

  /** `fr AS (...)`: every payload's 64-byte frames as (asset_id,
    * frame_no, fingerprint) — md5 over the frame bytes' lowercase hex,
    * sliced at byte offsets, the twin of
    * [[graft.operators.Multimodal.frameFingerprints]]. */
  private val frameFingerprintCte = """fr AS (
        SELECT doc_id AS asset_id, CAST(i AS BIGINT) AS frame_no,
               md5(substring(lower(to_hex(encode(text))),
                 CAST(i * 128 + 1 AS BIGINT), 128))
                 AS fingerprint
        FROM (SELECT doc_id, text,
                     unnest(generate_series(0,
                       CAST(greatest(ceil(octet_length(encode(text)) / 64.0), 1)
                         AS BIGINT) - 1)) AS i
              FROM documents WHERE text IS NOT NULL))"""

  /** `rk AS (...)`: each frame ranked among equal fingerprints in
    * (asset_id, frame_no) order; `rn = 1` is the globally first copy
    * the keep-first rule keeps. */
  private val frameFirstCte = """rk AS (SELECT asset_id, frame_no,
                    row_number() OVER (PARTITION BY fingerprint
                                       ORDER BY asset_id, frame_no) AS rn
             FROM fr)"""

  /** Incremental FRAME-level exact dedup of a new asset snapshot
    * against the written frame-fingerprint index — the sub-asset
    * granularity of the media dedup story (whole-asset byte hash =
    * q194, near-dup vectors = q197; this member answers "how much of
    * this clip's CONTENT has appeared anywhere before", the
    * frame-novelty measure video/audio pipelines threshold on). The
    * base 3/4 builds the layout ([[graft.operators.Multimodal
    * .frameWriteIndex]] — 64-byte frames, fingerprint-sharded,
    * text-free), the snapshot quarter appends, and the probe
    * ([[graft.operators.Multimodal.frameDedupIndexed]]) counts each
    * snapshot asset's globally-first frames under the q172 keep-first
    * rule (min (asset_id, frame_no) per fingerprint over the union).
    *
    * Oracle exactness contract — BYTE-EXACT on any corpus: frame
    * fingerprints are md5 over the frame bytes' lowercase-HEX encoding
    * ([[graft.operators.Multimodal.frameFingerprints]]), so the oracle
    * slices `lower(to_hex(encode(text)))` at 2×-byte offsets — byte
    * positions, not char positions — and replays the identical hash
    * for arbitrary (non-ASCII, multi-byte) payloads. The fixture's
    * ASCII invariant (tools/gen_scaled.py) remains as belt-and-braces
    * but is no longer load-bearing for these gates.
    */
  val q200FrameDedupIndexed: QueryDef = Scenario(
    "q200_frame_dedup_indexed", Scenario.Frame, Split(4, 1), Append,
    Some(s"""
      WITH $frameFingerprintCte,
      $frameFirstCte
      SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
      FROM rk
      WHERE asset_id % 4 = 1
      GROUP BY 1
      ORDER BY asset_id
    """))

  // ------------------------------------------------------------------
  // q201 streaming featurized near-dup ingest (the 8th ingest member,
  // closing the multimodal near-dup lifecycle)
  // ------------------------------------------------------------------

  /** STREAMING day-2 ingest for the featurized-asset near-dup member —
    * q197's index maintained by a standing pipeline: the snapshot
    * quarter arrives as `.bin` FILES in two micro-batches
    * ([[graft.operators.Multimodal.streamBinaryDir]]), each batch is
    * featurized IN the batch body and appended as one frozen-centroid
    * generation through the commit ledger
    * ([[graft.streaming.IndexIngest.assetSemanticBatch]]), and the
    * standing [[graft.operators.Clustering.semDedupIndexed]] probe
    * must hash-equal q197's fresh whole-corpus oracle — featurization
    * and assignment are per-asset, generations partition the delta,
    * the probe reads their union, so batch boundaries cannot move a
    * verdict.
    */
  val q201StreamingAssetNearDup: QueryDef = Scenario(
    "q201_streaming_asset_near_dup", Scenario.AssetSemantic, Split(4, 3),
    Stream,
    Some(assetNearDupOracleSql))

  /** Shared WITH-body of the media admission oracle (q202 batch /
    * q216 streamed): the three modality verdicts — exact keep-first
    * (ek9), featurized near-dup survival (nk9), frame novelty counts
    * (nv9) — replayed from scratch over the whole corpus, snapshot
    * quarter = asset_id % 4 = 3.
    */
  private def mediaAdmissionCtes: String =
    s"""$assetFpCte,
      keep9 AS (SELECT fingerprint, MIN(asset_id) AS kept_id
                FROM fp GROUP BY 1),
      ek9 AS (SELECT f.asset_id, (f.asset_id = k.kept_id) AS exact_kept
              FROM fp f JOIN keep9 k USING (fingerprint)
              WHERE f.asset_id % 4 = 3),
      $assetNearDupCtes,
      nk9 AS (SELECT a.vec_id AS asset_id, (r.vec_id IS NULL) AS near_kept
              FROM au a LEFT JOIN rm r USING (vec_id)
              WHERE a.vec_id % 4 = 3),
      fr AS (SELECT doc_id AS asset_id, CAST(i AS BIGINT) AS frame_no,
                    md5(substring(lower(to_hex(encode(text))),
                 CAST(i * 128 + 1 AS BIGINT), 128))
                      AS fingerprint
             FROM (SELECT doc_id, text,
                          unnest(generate_series(0,
                            CAST(greatest(ceil(octet_length(encode(text)) / 64.0), 1)
                              AS BIGINT) - 1)) AS i
                   FROM documents WHERE text IS NOT NULL)),
      rk AS (SELECT asset_id, frame_no,
                    row_number() OVER (PARTITION BY fingerprint
                                       ORDER BY asset_id, frame_no) AS rn
             FROM fr),
      nv9 AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
                     CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_kept
              FROM rk WHERE asset_id % 4 = 3
              GROUP BY 1)"""

  /** Each `snap` asset's exact-payload verdict against the asset index
    * at `path`: is it the global kept id of its bytes. */
  private def exactKept(s: org.apache.spark.sql.SparkSession, path: String,
      snap: DataFrame): DataFrame =
    snap.withColumn("fingerprint", md5(col("payload")))
      .join(Multimodal.assetDedupIndexed(s, path, snap), "fingerprint")
      .select(col("asset_id"),
        (col("asset_id") === col("kept_id")).as("exact_kept"))

  /** The exact modality of the media flagships (q202 / q210): `base`
    * builds the asset index at `path`, `snap` appends, then
    * [[exactKept]]. */
  private def exactKeptAppended(s: org.apache.spark.sql.SparkSession,
      path: String, base: DataFrame, snap: DataFrame): DataFrame = {
    Multimodal.assetWriteIndex(base, path)
    Multimodal.assetAppendIndex(snap, path)
    exactKept(s, path, snap)
  }

  /** Each assigned snapshot asset's near-dup verdict against the
    * featurized index at `path`: no smaller-id neighbor at cosine >=
    * 0.999 in its cluster. */
  private def nearKept(s: org.apache.spark.sql.SparkSession, path: String,
      snapAssigned: DataFrame): DataFrame =
    Clustering.semDedupIndexed(s, path, snapAssigned, threshold = 0.999)
      .select(col("vec_id").as("asset_id"), col("kept").as("near_kept"))

  /** The featurized modality of the media flagships (q202 / q210): the
    * base vectors build the semantic index at `path` under the frozen
    * `cents`, the snapshot quarter's assignment (checkpointed) appends
    * as generation 1, then [[nearKept]]. */
  private def nearKeptAppended(s: org.apache.spark.sql.SparkSession,
      path: String, feats: DataFrame, cents: DataFrame): DataFrame = {
    Clustering.semanticWriteIndex(
      Clustering.assignL2(feats.filter(col("vec_id") % 4 =!= 3), cents),
      path)
    val snapAssigned = Clustering.assignL2(
      feats.filter(col("vec_id") % 4 === 3), cents).localCheckpoint()
    Clustering.semanticAppendIndex(snapAssigned, path, gen = 1)
    nearKept(s, path, snapAssigned)
  }

  /** The media admission manifest (q202 / q216): per snapshot asset the
    * three verdicts and `admitted = exact_kept AND near_kept`. */
  private def admissionManifest(snap: DataFrame, exact: DataFrame,
      near: DataFrame, novelty: DataFrame): DataFrame =
    snap.select(col("asset_id"))
      .join(exact, "asset_id")
      .join(near, "asset_id")
      .join(novelty, "asset_id")
      .select(col("asset_id"), col("exact_kept"), col("near_kept"),
        col("n_frames"), col("n_kept"),
        (col("exact_kept") && col("near_kept")).as("admitted"))

  // ------------------------------------------------------------------
  // q202 flagship v9 — the MEDIA admission manifest (day-2 across all
  // three asset-side written indexes at once)
  // ------------------------------------------------------------------

  /** Flagship v9 — q176's day-2 admission manifest on the MEDIA side:
    * one binary-asset snapshot (the %4=3 quarter) probed against all
    * three asset-side written indexes this family built — exact
    * payload hash (q194: is this asset the global kept for its
    * bytes), featurized near-dup (q197: no smaller-id neighbor at
    * cosine ≥ 0.999 in its cluster), and frame novelty (q200: how many
    * of its 64-byte frames are globally first) — emitting one
    * admission row per snapshot asset: `admitted = exact_kept AND
    * near_kept`, with the frame counts as the novelty evidence a
    * curation policy would threshold.
    *
    * 100 TB posture: the payload column is materialized ONCE
    * (localCheckpoint) and feeds all three modalities — bytes are
    * read from parquet exactly once, hashed/featurized/framed in
    * narrow passes, and never shuffle; every index probe is
    * shard/cid-pruned; the manifest joins are snapshot-sized.
    */
  val q202CurationV9: QueryDef = QueryDef(
    "q202_curation_v9",
    (s, dir) => {
      val assets = Scenario.payloads(Scenario.mediaDocs(s, dir))
      val base = assets.filter(col("asset_id") % 4 =!= 3)
      val snap = assets.filter(col("asset_id") % 4 === 3)
      // the three modalities build three DISJOINT index layouts and
      // only meet at the final manifest joins — overlap the chains
      // (guide §2.6): each is a write + append + probe-construction of
      // floor-bound jobs, so the eager phase pays ~max(chain) instead
      // of the sum. Within a chain the order is unchanged (append
      // follows its own layout's build).
      val fpPath = Scenario.workspace("q202_curation_v9", "assetidx", dir)
      val semPath = Scenario.workspace("q202_curation_v9", "assetsem", dir)
      val frPath = Scenario.workspace("q202_curation_v9", "frameidx", dir)
      var exact, near, novelty: DataFrame = null
      graft.operators.Parallelism.inParallel(
        () => exact = exactKeptAppended(s, fpPath, base, snap),
        () => {
          val (feats, cents) = Scenario.featurized(assets, "asset_id")
          near = nearKeptAppended(s, semPath, feats, cents)
        },
        // ---- frame-novelty modality ----
        () => {
          Multimodal.frameWriteIndex(base, frPath, frameBytes = 64)
          Multimodal.frameAppendIndex(snap, frPath, frameBytes = 64)
          novelty = Multimodal.frameDedupIndexed(s, frPath, snap,
            frameBytes = 64)
        })
      admissionManifest(snap, exact, near, novelty).orderBy(col("asset_id"))
    },
    Some(s"""
      WITH $mediaAdmissionCtes
      SELECT e.asset_id, e.exact_kept, n.near_kept, v.n_frames,
             v.n_kept, (e.exact_kept AND n.near_kept) AS admitted
      FROM ek9 e JOIN nk9 n USING (asset_id) JOIN nv9 v USING (asset_id)
      ORDER BY asset_id
    """))

  // ------------------------------------------------------------------
  // q203 multimodal drift audit (centroid staleness on the featurized
  // asset index — q175's detector on the media modality)
  // ------------------------------------------------------------------

  /** Centroid-staleness drift audit of the FEATURIZED ASSET index —
    * q175's "when do we re-featurize/retrain?" detector on the media
    * modality: the base generation is the even-id half of the corpus,
    * the appended snapshot the odd-id half WITH ITS LONG TAIL
    * TRUNCATED (payloads over 450 bytes never arrive — the "crawler
    * started clipping media" drift a real pipeline hits). Frozen
    * centroids serve the append exactly (q197/q201's equality), but
    * the clusters holding long payloads lose their snapshot share
    * entirely while the rest inflate only proportionally —
    * [[graft.operators.Clustering.semanticDriftAudit]] reads one
    * grouped scan of the written index (K rows out) and flags
    * clusters whose share moved more than 5pp. The fixture exercises
    * BOTH branches with wide margins on either side of the bar
    * (verified at sf0.01 AND sf0.1: gaps 0.003–0.036 below, 0.062+
    * above — a pure-length split instead would separate the sides
    * into disjoint clusters and flag everything).
    */
  val q203AssetDrift: QueryDef = QueryDef(
    "q203_asset_drift",
    (s, dir) => {
      val (feats, cents) = Scenario.featurized(
        Multimodal.attachPayload(Scenario.mediaDocs(s, dir), "text"), "doc_id")
      val nb = element_at(col("embedding"), 2)
      val path = Scenario.workspace("q203_asset_drift", "assetsem", dir)
      Clustering.semanticWriteIndex(
        Clustering.assignL2(feats.filter(col("vec_id") % 2 === 0), cents),
        path)
      Clustering.semanticAppendIndex(
        Clustering.assignL2(
          feats.filter(col("vec_id") % 2 === 1 && nb <= 450.0), cents),
        path, gen = 1)
      Clustering.semanticDriftAudit(s, path, shareDrift = 0.05)
        .orderBy(col("cid"))
    },
    Some(s"""
      WITH $assetAssignCtes,
      agg AS (SELECT cid,
                     COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n_base,
                     COUNT(CASE WHEN vec_id % 2 = 1 AND v[2] <= 450.0
                           THEN 1 END) AS n_new,
                     SUM(CASE WHEN vec_id % 2 = 0
                              THEN CAST(FLOOR(d2 * 1000000.0) AS BIGINT) END)
                       AS sf_base,
                     SUM(CASE WHEN vec_id % 2 = 1 AND v[2] <= 450.0
                              THEN CAST(FLOOR(d2 * 1000000.0) AS BIGINT) END)
                       AS sf_new
              FROM au GROUP BY 1),
      ${semanticDriftSql(0.05)}
    """))

  // ------------------------------------------------------------------
  // q204 streaming frame-index ingest (the 9th ledger member)
  // ------------------------------------------------------------------

  /** STREAMING day-2 ingest for the frame-fingerprint index — q200's
    * layout maintained by a standing pipeline: the snapshot quarter
    * arrives as `.bin` files in two micro-batches, each batch framed
    * and hashed in the batch body and appended as one generation
    * through the commit ledger
    * ([[graft.streaming.IndexIngest.frameBatch]]), and the standing
    * novelty probe must hash-equal q200's fresh whole-corpus oracle —
    * frame rows depend only on their own payload, so batch boundaries
    * cannot move a keep-first verdict.
    */
  val q204StreamingFrameIngest: QueryDef = Scenario(
    "q204_streaming_frame_ingest", Scenario.Frame, Split(4, 1), Stream,
    // the streamed generations must serve q200's novelty counts
    q200FrameDedupIndexed.oracle)

  // ------------------------------------------------------------------
  // q205/q206 compaction read-amplification gates — the maintenance
  // number the 100 TB story was missing: generations-per-append file
  // growth, and what a compaction buys back, MEASURED and oracle-gated
  // ------------------------------------------------------------------

  /** Read-amplification lifecycle of the WRITTEN BM25 index
    * ([[graft.operators.IndexStats.dataFileCount]] around q156's
    * build/append/compact machinery): three generations land (build +
    * two thirds appended), each adding one parquet file per touched
    * term shard to `postings/` AND `terms/` plus one stats row file —
    * the per-micro-batch growth a standing ingest pays — then
    * `IndexLayout.Bm25.compact` collapses the
    * layout to one file per live shard. BOTH counts are first-class
    * output columns and the oracle RE-DERIVES them from the data
    * (files per generation = 2 × distinct md5-prefix shards of the
    * generation's terms + 1, by the repartition-by-shard write
    * contract), so a layout change that silently inflates serve-time
    * file opens hash-fails — and the served ranking from the
    * compacted index must still hash-equal the same fresh whole-corpus
    * oracle as q146/q154/q155/q156 (compaction is pure layout
    * maintenance; moving a score is refusal territory).
    */
  val q205Bm25CompactAmplification: QueryDef = QueryDef(
    "q205_bm25_compact_amplification",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val path =
        Scenario.workspace("q205_bm25_compact_amplification", "bm25idx", dir)
      // the amplification gate MEASURES the historical wide geometry
      // (its oracle re-derives file counts from the 2-hex shard
      // contract) — build pinned WIDE; appends/compact follow the
      // persisted choice
      Retrieval.bm25WriteIndex(docs.filter(col("doc_id") % 3 === 1),
        path, shards = Some(IndexShards.Wide))
      Retrieval.bm25AppendIndex(docs.filter(col("doc_id") % 3 === 2),
        path)
      Retrieval.bm25AppendIndex(docs.filter(col("doc_id") % 3 === 0),
        path)
      val before = IndexStats.dataFileCount(s, path)
      val compacted =
        Scenario.workspace("q205_bm25_compact_amplification", "compacted", dir)
      IndexLayout.Bm25.compact(s, path, compacted)
      val after = IndexStats.dataFileCount(s, compacted)
      Retrieval.bm25TopKIndexed(s, compacted,
          docs.filter(col("doc_id") < 8), k = 10)
        .withColumn("n_files_before", lit(before))
        .withColumn("n_files_after", lit(after))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH ${Retrieval.bm25CtesSql("documents", "doc_id", "text", "doc_id < 8", 10)},
      gsh AS (SELECT doc_id % 3 AS g, substr(md5(term), 1, 2) AS shard
              FROM toks),
      nb AS (SELECT CAST(SUM(nf) AS BIGINT) AS n_files_before
             FROM (SELECT 2 * COUNT(DISTINCT shard) + 1 AS nf
                   FROM gsh GROUP BY g)),
      na AS (SELECT CAST(2 * COUNT(DISTINCT shard) + 1 AS BIGINT)
               AS n_files_after
             FROM gsh)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id,
             round(score_fp / ${Retrieval.ScoreScale}, 6) AS score,
             nb.n_files_before, na.n_files_after
      FROM bm25 CROSS JOIN nb CROSS JOIN na
      ORDER BY query_id, rnk
    """))

  /** Read-amplification lifecycle of the written ASSET-fingerprint
    * index — the media member of the q205 measurement (the family
    * whose per-document arrival files make file counts THE scale
    * ceiling): base + two appended generations each add one file per
    * touched fingerprint shard,
    * `IndexLayout.Asset.compact` collapses to
    * one file per live shard, the counts ride every row, and the
    * compacted index must serve the exact q194 snapshot clustering.
    */
  val q206AssetCompactAmplification: QueryDef = QueryDef(
    "q206_asset_compact_amplification",
    (s, dir) => {
      val assets = Scenario.payloads(Scenario.mediaDocs(s, dir))
      val path =
        Scenario.workspace("q206_asset_compact_amplification", "assetidx", dir)
      // the amplification gate MEASURES the historical wide geometry
      // (oracle re-derives counts from the 2-hex contract) — build
      // pinned WIDE; appends/compact follow the persisted choice
      Multimodal.assetWriteIndex(assets.filter(col("asset_id") % 4 < 2),
        path, shards = Some(graft.operators.IndexShards.Wide))
      Multimodal.assetAppendIndex(assets.filter(col("asset_id") % 4 === 2),
        path)
      val snapshot = assets.filter(col("asset_id") % 4 === 3)
      Multimodal.assetAppendIndex(snapshot, path)
      val before = IndexStats.dataFileCount(s, path)
      val compacted =
        Scenario.workspace("q206_asset_compact_amplification", "compacted", dir)
      IndexLayout.Asset.compact(s, path, compacted)
      val after = IndexStats.dataFileCount(s, compacted)
      Multimodal.assetDedupIndexed(s, compacted, snapshot)
        .withColumn("n_files_before", lit(before))
        .withColumn("n_files_after", lit(after))
        .orderBy(col("fingerprint"))
    },
    Some(s"""
      WITH $assetFpCte,
      gsh AS (SELECT CASE WHEN asset_id % 4 < 2 THEN 0
                          ELSE asset_id % 4 - 1 END AS g,
                     substr(fingerprint, 1, 2) AS shard
              FROM fp),
      nb AS (SELECT CAST(SUM(nf) AS BIGINT) AS n_files_before
             FROM (SELECT COUNT(DISTINCT shard) AS nf FROM gsh GROUP BY g)),
      na AS (SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_files_after
             FROM gsh)
      SELECT z.*, nb.n_files_before, na.n_files_after
      FROM ($assetClustersOracleSelect) z CROSS JOIN nb CROSS JOIN na
      ORDER BY fingerprint
    """))

  // ------------------------------------------------------------------
  // q207 PACKED asset pipeline — the q194/q199 lifecycle on the
  // multi-asset parquet landing layout (the per-doc-file fix)
  // ------------------------------------------------------------------

  /** The q194/q199 asset-index lifecycle with every flow reading the
    * PACKED landing layout ([[graft.operators.Multimodal.packAssets]]
    * — multi-asset parquet, payload bytes as a column, a bounded
    * file count) instead of one `.bin` file per document: the base
    * 3/4 packs once and builds the written fingerprint index from
    * the columnar read, the delta quarter lands as packed files and
    * STREAMS through the same batchId-keyed commit ledger
    * ([[graft.operators.Multimodal.streamPackedDir]] →
    * [[graft.streaming.IndexIngest.assetBatch]], two micro-batches),
    * and the standing probe must hash-equal the SAME fresh
    * whole-corpus oracle as q194/q199 — the layout change moves file
    * counts (O(corpus/fileSize) opens instead of O(corpus) — the
    * media family's 100× scale ceiling, measured in BASELINE.md),
    * never a verdict. `binaryFile` per-doc arrival stays gated by
    * q118/q194/q199 as the true edge; this member is everything
    * AFTER the edge.
    */
  val q207PackedAssetIngest: QueryDef = Scenario(
    "q207_packed_asset_ingest", Scenario.PackedAsset, Split(4, 3), Stream,
    // packing is a layout change only: q199's verdicts must not move
    q199StreamingAssetIngest.oracle)

  // ------------------------------------------------------------------
  // q208 frame-level SimHash NEAR-dup vs the written band index — the
  // hamming ball below the asset (q200's exact hashes miss one
  // flipped byte; this member does not)
  // ------------------------------------------------------------------

  /** Every payload's 64-byte frames as SimHash documents (doc_id, blk,
    * text): the frame's coordinates in the 2^20 stride `doc_id`, its
    * asset's source as the block, its hex as overlapping 8-char
    * tokens — the frames-as-documents relation q208 and q213 replay. */
  private val frameSimhashDocs = s"""
        SELECT doc_id, blk,
               CASE WHEN strlen(h) <= 8 THEN h
                    ELSE array_to_string(list_append(list_transform(
                      generate_series(0,
                        CAST((strlen(h) - 8) // 4 AS BIGINT)),
                      j -> substring(h, j * 4 + 1, 8)),
                      substring(h, strlen(h) - 7, 8)), ' ')
               END AS text
        FROM (SELECT doc_id * ${1L << 20} + i AS doc_id, source AS blk,
                     substring(lower(to_hex(encode(text))),
                       CAST(i * 128 + 1 AS BIGINT), 128) AS h
              FROM (SELECT doc_id, source, text,
                           unnest(generate_series(0,
                             CAST(greatest(
                               ceil(octet_length(encode(text)) / 64.0), 1)
                               AS BIGINT) - 1)) AS i
                    FROM documents WHERE text IS NOT NULL))"""

  /** Incremental frame-level SimHash near-dup against the WRITTEN
    * band index ([[graft.operators.Multimodal.frameSimhashWriteIndex]]
    * / [[graft.operators.Multimodal.frameSimhashPairsIndexed]]) — the
    * q167/q168 contract applied BELOW the asset: every payload frames
    * into 64-byte chunks (the q200 geometry), each frame carries a
    * 60-bit SimHash banded four ways into the written `pshard` layout,
    * and the snapshot quarter's probe serves every frame pair within
    * hamming ≤ 3 that has a snapshot endpoint — "this clip contains a
    * NEAR-copy of an indexed segment", where the exact-hash q200/q204
    * members see only bit-identical frames. Blocked by the asset's
    * source (the corpus-wide-banding bound); frame coordinates ride
    * the 2^20 stride encoding through the unchanged document
    * machinery and decode back in the output. The oracle replays the
    * whole composition — frame slicing, tokenize, fingerprint, bands,
    * cap, candidate distinct, `bit_count` verify, the stride decode —
    * restricted to snapshot-endpoint pairs.
    */
  val q208FrameSimhashIncremental: QueryDef = Scenario(
    "q208_frame_simhash_incremental", Scenario.FrameSimhash, Split(4, 3),
    Append,
    Some(s"""
      WITH ${simhashPairsCtes(frameSimhashDocs)}
      SELECT blk,
             CAST(doc_a // ${1L << 20} AS BIGINT) AS asset_a,
             CAST(doc_a % ${1L << 20} AS BIGINT) AS frame_a,
             CAST(doc_b // ${1L << 20} AS BIGINT) AS asset_b,
             CAST(doc_b % ${1L << 20} AS BIGINT) AS frame_b,
             CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
      FROM shpairs
      WHERE bit_count(xor(fa, fb)) <= 3
        AND ((doc_a // ${1L << 20}) % 4 = 3 OR (doc_b // ${1L << 20}) % 4 = 3)
      ORDER BY blk, asset_a, frame_a, asset_b, frame_b
    """))

  // ------------------------------------------------------------------
  // q209 media eval-set decontamination vs the written frame index —
  // the q119 contract on the media modality (probe WITHOUT append)
  // ------------------------------------------------------------------

  /** Eval-set decontamination on the MEDIA modality
    * ([[graft.operators.Multimodal.frameDecontamination]]): the %4=3
    * quarter plays the benchmark eval set — its assets are NEVER
    * appended to the index — and the training corpus (the other three
    * quarters) materializes the written frame-fingerprint layout; the
    * probe reports, per eval asset, how many of its 64-byte frames
    * the corpus already contains anywhere (the media equivalent of
    * q119's eval n-gram overlap — segment-level containment, robust
    * to splicing). Probe-without-append is the semantic difference
    * from q200: a fingerprint absent from the index means CLEAN and
    * must count as such (the left-join contract), not vanish. The
    * oracle replays frame slicing and the cross-quarter containment
    * from scratch.
    */
  val q209FrameDecontamination: QueryDef = QueryDef(
    "q209_frame_decontamination",
    (s, dir) => {
      val assets = Scenario.payloads(Scenario.mediaDocs(s, dir))
      val path =
        Scenario.workspace("q209_frame_decontamination", "frdecon", dir)
      Multimodal.frameWriteIndex(assets.filter(col("asset_id") % 4 =!= 3),
        path, frameBytes = 64)
      Multimodal.frameDecontamination(s, path,
          assets.filter(col("asset_id") % 4 === 3), frameBytes = 64)
        .orderBy(col("asset_id"))
    },
    Some(s"""
      WITH $frameFingerprintCte,
      corpus AS (SELECT DISTINCT fingerprint FROM fr WHERE asset_id % 4 <> 3)
      SELECT f.asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(CASE WHEN c.fingerprint IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_contaminated
      FROM fr f LEFT JOIN corpus c USING (fingerprint)
      WHERE f.asset_id % 4 = 3
      GROUP BY 1
      ORDER BY f.asset_id
    """))

  // ------------------------------------------------------------------
  // q210 flagship v10 — the RELEASED media set: q202's dedup admission
  // composed with q179's temperature mixture on BYTE masses
  // ------------------------------------------------------------------

  /** The q210 byte budget, sized against the DEDUP-SURVIVOR mass (the
    * mixture stage only sees q202-admitted assets — 7 of 125 at
    * sf0.01, the 0.999 near-dup bar is strict on byte-stat features):
    * 400 bytes ≈ 20% of the sf0.01 survivor mass, verified to
    * populate BOTH admitted classes at sf0.001 (2/1), sf0.01 (3/4)
    * and sf0.1 (2/5) with rates strictly inside (0, 1).
    */
  private val MediaByteBudget = 400L

  /** Flagship v10 — what v9 stops short of: q202 decides which
    * snapshot assets are DEDUP-worthy (exact payload hash + featurized
    * near-dup, the two asset-side index verdicts); this member takes
    * those survivors through q179's temperature mixture to the
    * RELEASED media manifest — per-source BYTE masses (media budgets
    * are bytes, not tokens) reweighted at α = 1/2 with the exact
    * fixed-point sqrt, the global byte budget split by the reweighted
    * shares, every surviving asset's frozen hash draw against its
    * source's rate. One row per snapshot asset shows the full funnel:
    * the dedup verdicts, then rate/admitted for dedup-survivors and
    * NULL for assets the dedup stage already dropped. The oracle
    * replays the entire composition — byte-hash clustering, the
    * featurize/assign/cosine near-dup, byte-mass measurement,
    * quantization, the budget split, and every draw — so a drift in
    * ANY stage moves a verdict and hash-fails.
    *
    * 100 TB posture: the dedup stage is the q202 shape (pruned index
    * probes, snapshot-sized joins); the mixture adds one S-row rate
    * frame broadcast onto the survivor set — no new corpus pass
    * (masses come from the `meta.n_bytes` column already in hand).
    */
  val q210CurationV10: QueryDef = QueryDef(
    "q210_curation_v10",
    (s, dir) => {
      val assets = Scenario.payloads(Scenario.mediaDocs(s, dir), col("source"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      val base = assets.filter(col("asset_id") % 4 =!= 3)
      val snap = assets.filter(col("asset_id") % 4 === 3)
      // ---- exact payload modality (q194) ----
      val exact = exactKeptAppended(s,
        Scenario.workspace("q210_curation_v10", "assetidx", dir), base, snap)
      // ---- featurized near-dup modality (q197) ----
      val (feats, cents) = Scenario.featurized(assets, "asset_id")
      val near = nearKeptAppended(s,
        Scenario.workspace("q210_curation_v10", "assetsem", dir), feats, cents)
      // ---- the dedup funnel, then the mixture over the survivors ----
      val verdicts = snap.select(col("asset_id"), col("source"),
          col("n_bytes"))
        .join(exact, "asset_id")
        .join(near, "asset_id")
        .withColumn("__da", col("exact_kept") && col("near_kept"))
        .localCheckpoint()
      val mix = Curation.mixtureFromCounts(
        verdicts.filter(col("__da"))
          .select(col("source"), col("asset_id"),
            col("n_bytes").as("n_toks")),
        "source", "asset_id", budget = MediaByteBudget)
        .select(col("asset_id"), col("rate"), col("admitted"))
      verdicts
        .join(broadcast(mix), Seq("asset_id"), "left")
        .select(col("asset_id"), col("source"), col("n_bytes"),
          col("exact_kept"), col("near_kept"), col("rate"),
          col("admitted"))
        .orderBy(col("asset_id"))
    }, {
      val cosXY = Similarity.cosineSql("x.v", "y.v")
      Some(s"""
        WITH fp AS (SELECT doc_id AS asset_id, md5(text) AS fingerprint
                    FROM documents WHERE text IS NOT NULL),
        keep10 AS (SELECT fingerprint, MIN(asset_id) AS kept_id
                   FROM fp GROUP BY 1),
        ek10 AS (SELECT f.asset_id, (f.asset_id = k.kept_id) AS exact_kept
                 FROM fp f JOIN keep10 k USING (fingerprint)
                 WHERE f.asset_id % 4 = 3),
        $assetFeatureCte,
        cents AS (SELECT vec_id AS cid, v AS centroid
                  FROM feats WHERE vec_id < 8),
        au AS ${kmeansAssignSql("feats", "cents")},
        csz AS (SELECT cid, COUNT(*) AS cn FROM au GROUP BY 1),
        rm AS (SELECT DISTINCT y.vec_id
               FROM au x
               JOIN au y ON x.cid = y.cid AND x.vec_id < y.vec_id
               JOIN csz z ON z.cid = x.cid AND z.cn <= 10000
               WHERE $cosXY >= 0.999),
        nk10 AS (SELECT a.vec_id AS asset_id, (r.vec_id IS NULL) AS near_kept
                 FROM au a LEFT JOIN rm r USING (vec_id)
                 WHERE a.vec_id % 4 = 3),
        adm AS (SELECT e.asset_id, e.exact_kept, n.near_kept,
                       (e.exact_kept AND n.near_kept) AS da
                FROM ek10 e JOIN nk10 n USING (asset_id)),
        bm AS (SELECT d.source, a.asset_id,
                      CAST(strlen(d.text) AS BIGINT) AS nb
               FROM adm a JOIN documents d ON d.doc_id = a.asset_id
               WHERE a.da),
        ms AS (SELECT source, SUM(nb) AS src_b,
                      CAST(FLOOR(SQRT(CAST(SUM(nb) AS DOUBLE))
                                 * 1000000.0) AS BIGINT) AS q
               FROM bm GROUP BY 1),
        qt AS (SELECT SUM(q) AS qtot FROM ms),
        rt AS (SELECT source,
                      least(1.0, (CAST(q AS DOUBLE) * $MediaByteBudget.0) /
                        (CAST(qtot AS DOUBLE) * CAST(src_b AS DOUBLE)))
                        AS rate
               FROM ms CROSS JOIN qt)
        SELECT a.asset_id, d.source, CAST(strlen(d.text) AS BIGINT)
                 AS n_bytes,
               a.exact_kept, a.near_kept,
               CASE WHEN a.da THEN round(r.rate, 6) END AS rate,
               CASE WHEN a.da THEN
                 (CAST(${TextOps.hash60Sql("CAST(a.asset_id AS VARCHAR)")}
                    AS DOUBLE) / 1152921504606846976.0 < r.rate)
               END AS admitted
        FROM adm a
        JOIN documents d ON d.doc_id = a.asset_id
        LEFT JOIN rt r ON r.source = d.source
        ORDER BY a.asset_id
      """)
    })

  // ------------------------------------------------------------------
  // q211 frame-index repair lifecycle — the repair family's member at
  // the frame granularity (q198 one level down)
  // ------------------------------------------------------------------

  /** Replay-damage → audit → compact → serve lifecycle on the FRAME
    * fingerprint index — the repair family at the sub-asset
    * granularity (IVF-PQ q151, BM25 q156, semantic q178, mixture
    * q192, assets q198): the snapshot quarter's frames are appended
    * TWICE (the ledger-less blind retry),
    * `IndexLayout.Frame.audit` localizes exactly
    * the doubled coordinates (their count rides every row as
    * `n_damaged`), and
    * `IndexLayout.Frame.compact` rewrites the
    * fingerprint rows (coordinates + 32 hex chars — NO payload bytes
    * re-read: the media-repair argument is ×frames-per-asset sharper
    * here) to a staged path whose novelty probe must hash-equal the
    * clean q200 oracle. Damage scalars ride every row: `n_damaged`
    * (audit count pre-repair = the snapshot's frame count, every
    * coordinate doubled) and `n_after` (0 — the repair's claim).
    */
  val q211FrameRepair: QueryDef = Scenario(
    "q211_frame_repair", Scenario.Frame, Split(4, 1),
    BlindRetry(scalars = true),
    // q200's oracle with the damage scalars: every snapshot frame
    // coordinate was doubled, the repair leaves zero
    Some(s"""
      WITH $frameFingerprintCte,
      $frameFirstCte,
      dmg AS (SELECT COUNT(*) AS n_damaged FROM fr WHERE asset_id % 4 = 1)
      SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             dmg.n_damaged, CAST(0 AS BIGINT) AS n_after
      FROM rk CROSS JOIN dmg
      WHERE asset_id % 4 = 1
      GROUP BY asset_id, dmg.n_damaged
      ORDER BY asset_id
    """))

  // ------------------------------------------------------------------
  // q212 streaming frame-SimHash ingest — the TENTH ledger member, on
  // the PACKED landing layout
  // ------------------------------------------------------------------

  /** STREAMING day-2 ingest for the frame-SimHash band index — q208's
    * layout maintained by a standing pipeline, arriving PACKED: the
    * snapshot quarter lands as multi-asset parquet files
    * ([[graft.operators.Multimodal.packAssets]], the q207 layout) and
    * streams in two micro-batches
    * ([[graft.operators.Multimodal.streamPackedDir]]); each batch is
    * block-enriched from the static asset-metadata frame, framed, and
    * banded in the batch body, appended as one generation through the
    * batchId-keyed commit ledger
    * ([[graft.streaming.IndexIngest.frameSimhashBatch]]); and the
    * standing pair probe must hash-equal q208's fresh whole-corpus
    * oracle — band rows are per-payload facts, generations partition
    * the delta, the probe reads their union with the bucket cap over
    * the full post-append membership.
    */
  val q212StreamingFrameSimhash: QueryDef = Scenario(
    "q212_streaming_frame_simhash", Scenario.FrameSimhash, Split(4, 3), Stream,
    // the streamed generations must serve q208's identical pair set
    q208FrameSimhashIncremental.oracle)

  // ------------------------------------------------------------------
  // q213 frame-SimHash band-index repair — the repair family's member
  // on the NEAR-dup media layout (q211 one contract over)
  // ------------------------------------------------------------------

  /** Replay-damage → audit → compact → serve lifecycle on the frame
    * SIMHASH band index — the repair family completing its coverage
    * of every written-index layout (IVF-PQ q151, BM25 q156, semantic
    * q178, mixture q192, assets q198, frames q211, bands HERE): the
    * snapshot quarter's band rows are appended TWICE (the ledger-less
    * blind retry), `IndexLayout.FrameSimhash.audit`
    * localizes exactly the doubled (asset, frame, band) coordinates —
    * band-row duplication is NOT harmless even though the pair tail
    * distincts: raw bucket counts inflate toward `maxBucketSize`, so
    * a doubled viral bucket can spuriously cross the cap and DROP
    * true pairs — and
    * `IndexLayout.FrameSimhash.compact` rewrites
    * the ~40-byte band rows (whole-row dedup, payload divergence
    * refused; payload bytes never re-read) to a staged path whose
    * pair probe must hash-equal q208's fresh whole-corpus oracle.
    * Damage scalars ride every row: `n_damaged` (audit rows
    * pre-repair = 4 band coordinates per snapshot frame, every one
    * doubled) and `n_after` (0 — the repair's claim).
    */
  val q213FrameSimhashRepair: QueryDef = Scenario(
    "q213_frame_simhash_repair", Scenario.FrameSimhash, Split(4, 3),
    BlindRetry(scalars = true),
    // q208's oracle with the damage scalars: 4 band coordinates per
    // snapshot frame (source non-null — NULL-block frames never land
    // band rows), every one doubled; the repair leaves zero
    Some(s"""
      WITH ${simhashPairsCtes(frameSimhashDocs)},
      dmg AS (
        SELECT 4 * COUNT(*) AS n_damaged
        FROM (SELECT doc_id,
                     unnest(generate_series(0,
                       CAST(greatest(ceil(octet_length(encode(text)) / 64.0), 1)
                         AS BIGINT) - 1)) AS i
              FROM documents
              WHERE text IS NOT NULL AND source IS NOT NULL
                AND doc_id % 4 = 3))
      SELECT blk,
             CAST(doc_a // ${1L << 20} AS BIGINT) AS asset_a,
             CAST(doc_a % ${1L << 20} AS BIGINT) AS frame_a,
             CAST(doc_b // ${1L << 20} AS BIGINT) AS asset_b,
             CAST(doc_b % ${1L << 20} AS BIGINT) AS frame_b,
             CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming,
             dmg.n_damaged, CAST(0 AS BIGINT) AS n_after
      FROM shpairs CROSS JOIN dmg
      WHERE bit_count(xor(fa, fb)) <= 3
        AND ((doc_a // ${1L << 20}) % 4 = 3 OR (doc_b // ${1L << 20}) % 4 = 3)
      ORDER BY blk, asset_a, frame_a, asset_b, frame_b
    """))

  // ------------------------------------------------------------------
  // q214 media release manifest — the release family's media member
  // ------------------------------------------------------------------

  /** The fresh release-manifest derivation up to its per-shard
    * columns (shard, n_assets, n_bytes, checksum) over `m`, one row
    * per non-null document. */
  private val assetManifestSelect = s"""WITH m AS (
        SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
               CAST(strlen(text) AS BIGINT) AS nb,
               ${graft.operators.TextOps.hash60Sql(
                 "concat(CAST(doc_id AS VARCHAR), md5(text))")} AS h
        FROM documents WHERE text IS NOT NULL)
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_assets,
             CAST(SUM(nb) AS BIGINT) AS n_bytes, bit_xor(h) AS checksum"""

  /** Release MANIFEST on the media side — q184's contract (order-free
    * per-shard `bit_xor` checksums, compositional merge) with BYTE
    * masses and asset fingerprints, exercising BOTH serve paths at
    * once: (1) COMPOSITIONALITY — manifest(base quarters) ⊕
    * manifest(snapshot quarter) via
    * [[graft.operators.Multimodal.assetManifestMerge]] must equal the
    * fresh whole-corpus derivation (a day-2 append folds into a
    * standing release manifest at delta cost, zero base reads); and
    * (2) INDEX-SERVED — the same (n_assets, checksum) recomputed by
    * [[graft.operators.Multimodal.assetManifestFromIndex]] from the
    * written asset index's 40-byte fingerprint rows, payload bytes
    * never re-read (the 100 TB replica-verification path: proving a
    * replica serves what was released is a narrow fingerprint scan,
    * not a corpus re-read). One oracle replays the manifest arithmetic
    * once; both engine paths must land on it, joined per shard.
    */
  val q214AssetManifest: QueryDef = QueryDef(
    "q214_asset_manifest",
    (s, dir) => {
      val assets = Scenario.payloads(Scenario.mediaDocs(s, dir))
      val base = assets.filter(col("asset_id") % 4 =!= 3)
      val delta = assets.filter(col("asset_id") % 4 === 3)
      val merged = Multimodal.assetManifestMerge(
        Multimodal.assetReleaseManifest(base),
        Multimodal.assetReleaseManifest(delta))
      val path = Scenario.workspace("q214_asset_manifest", "assetmf", dir)
      Multimodal.assetWriteIndex(base, path)
      Multimodal.assetAppendIndex(delta, path)
      val fromIdx = Multimodal.assetManifestFromIndex(s, path)
        .select(col("shard"), col("n_assets").as("n_idx"),
          col("checksum").as("ck_index"))
      merged.join(broadcast(fromIdx), Seq("shard"))
        .orderBy(col("shard"))
    },
    // one fresh derivation; the merge AND the index serve must both
    // reproduce it (n_idx/ck_index are the from-index twins)
    Some(s"""
      $assetManifestSelect,
             CAST(COUNT(*) AS BIGINT) AS n_idx, bit_xor(h) AS ck_index
      FROM m GROUP BY shard ORDER BY shard
    """))

  // ------------------------------------------------------------------
  // q215 streaming release manifest — the ELEVENTH ledger member
  // ------------------------------------------------------------------

  /** STREAMING day-2 form of q214's release manifest: the base
    * quarters land one batch-path generation, the snapshot quarter
    * arrives PACKED in two micro-batches
    * ([[graft.operators.Multimodal.streamPackedDir]]), each reduced
    * to its S manifest contribution rows and ledger-committed as one
    * generation ([[graft.streaming.IndexIngest.assetManifestBatch]]);
    * [[graft.operators.Multimodal.assetManifestServe]] folds the
    * generations (counts/bytes sum, checksums XOR) and must
    * hash-equal the fresh whole-corpus derivation — the proof that a
    * standing pipeline maintains the release-verification manifest at
    * S-rows-per-batch cost, with payloads read exactly once each, at
    * arrival.
    */
  val q215StreamingManifest: QueryDef = Scenario(
    "q215_streaming_manifest", Scenario.Manifest, Split(4, 3), Stream,
    // the streamed generations must fold to q214's manifest (without
    // its index-served twins)
    Some(s"""
      $assetManifestSelect
      FROM m GROUP BY shard ORDER BY shard
    """))

  // ------------------------------------------------------------------
  // q216 streaming MEDIA pipeline — q202's three indexes maintained by
  // ONE standing stream (the capstone of the ingest-ledger family)
  // ------------------------------------------------------------------

  /** STREAMING day-2 form of the q202 flagship: the snapshot quarter
    * arrives PACKED in two micro-batches, and ONE standing pipeline
    * ([[graft.streaming.IndexIngest.mediaBatch]]) feeds all three
    * asset-side indexes per batch — exact payload hash, frozen-
    * centroid featurized near-dup, frame fingerprints — with the
    * batch localCheckpoint'ed so payload bytes are read once per
    * delivery. Each index commits through its OWN ledger member
    * keyed by the same batchId, so a crash between members heals on
    * retry (committed members skip, missing ones land — the spec
    * drives it);
    * [[graft.streaming.IndexIngest.mediaConsistencyAudit]]'s count
    * rides every row as `n_inconsistent` (0 — all three indexes hold
    * identical membership). The served admission manifest must
    * hash-equal q202's fresh whole-corpus oracle.
    */
  val q216StreamingMedia: QueryDef = QueryDef(
    "q216_streaming_media",
    (s, dir) => {
      val assets = Scenario.payloads(Scenario.mediaDocs(s, dir))
      val base = assets.filter(col("asset_id") % 4 =!= 3)
      val snap = assets.filter(col("asset_id") % 4 === 3)
      // day-1 backfill of the three indexes via the batch writers; the
      // shared feature/centroid checkpoints come first (both day-1 and
      // day-2 consume them), then the three index builds and the
      // landing-layout pack — four writes into DISJOINT paths — overlap
      // (guide §2.6: independent floor-bound jobs, sum → max)
      val fpPath = Scenario.workspace("q216_streaming_media", "assetidx", dir)
      val (feats, frozen) = Scenario.featurized(assets, "asset_id")
      val cents = frozen.localCheckpoint()
      val semPath = Scenario.workspace("q216_streaming_media", "assetsem", dir)
      val frPath = Scenario.workspace("q216_streaming_media", "frameidx", dir)
      val landing = Scenario.workspace("q216_streaming_media", "packed_in", dir)
      graft.operators.Parallelism.inParallel(
        () => Multimodal.assetWriteIndex(base, fpPath),
        () => Clustering.semanticWriteIndex(
          Clustering.assignL2(feats.filter(col("vec_id") % 4 =!= 3), cents),
          semPath),
        () => Multimodal.frameWriteIndex(base, frPath,
          frameBytes = 64),
        () => Multimodal.packAssets(snap, landing, nFiles = 4))
      // day-2: ONE stream maintains all three
      Scenario.deliver(Multimodal.streamPackedDir(s, landing,
          maxFilesPerTrigger = 2))(
        IndexIngest.mediaBatch(fpPath, semPath,
          frPath, cents, frameBytes = 64))
      // consistency scalar: every delivery landed in all three members
      val inconsistent = graft.streaming.IndexIngest
        .mediaConsistencyAudit(s, fpPath, semPath,
          frPath)
        .agg(count(lit(1)).as("n_inconsistent"))
      // q202's admission manifest, served from the streamed indexes
      val exact = exactKept(s, fpPath, snap)
      val near = nearKept(s, semPath, Clustering.assignL2(
        feats.filter(col("vec_id") % 4 === 3), cents).localCheckpoint())
      val novelty = Multimodal.frameDedupIndexed(s, frPath, snap,
        frameBytes = 64)
      admissionManifest(snap, exact, near, novelty)
        .crossJoin(broadcast(inconsistent))
        .orderBy(col("asset_id"))
    },
    // q202's admission oracle plus the zero consistency scalar
    Some(s"""
      WITH $mediaAdmissionCtes
      SELECT e.asset_id, e.exact_kept, n.near_kept, v.n_frames,
             v.n_kept, (e.exact_kept AND n.near_kept) AS admitted,
             CAST(0 AS BIGINT) AS n_inconsistent
      FROM ek9 e JOIN nk9 n USING (asset_id) JOIN nv9 v USING (asset_id)
      ORDER BY asset_id
    """))

  /** ONLINE index repair behind the ATOMIC SERVE-PATH SWAP
    * ([[graft.operators.IndexPaths]]) — q156's replay-damage lifecycle
    * with the repair CUT OVER IN PLACE instead of handed to the
    * caller as a second path: the blind-retry damage lands, the audit
    * localizes it, and `IndexLayout.Bm25.compactSwap`
    * compacts into `<root>/_gens/gen-000001` and atomically repoints
    * `<root>/_current` — after which serving THROUGH THE ORIGINAL
    * ROOT (the path a standing service configured once) resolves the
    * repaired generation and must hash-equal the clean whole-corpus
    * oracle. A post-swap append then lands INSIDE the live generation
    * (the ledger and appends resolve the pointer too), which the
    * closure asserts before serving — a swap that stranded appends in
    * the stale flat root would hash-fail.
    */
  val q217Bm25PointerSwap: QueryDef = QueryDef(
    "q217_bm25_pointer_swap",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val root = Scenario.workspace("q217_bm25_pointer_swap", "bm25idx", dir)
      Retrieval.bm25WriteIndex(docs.filter(col("doc_id") % 3 === 1),
        root)
      val deltaA = docs.filter(col("doc_id") % 3 === 2)
      Retrieval.bm25AppendIndex(deltaA, root)
      // the injected failure: a blind retry replays the same append
      Retrieval.bm25AppendIndex(deltaA, root)
      require(!IndexLayout.Bm25.audit(s, root).isEmpty,
        "the replay damage must be visible before the repair")
      // ONLINE repair: compact + atomic pointer cutover, same root
      val gen = IndexLayout.Bm25.compactSwap(s, root)
      require(graft.operators.IndexPaths.resolve(s, root) == gen,
        s"the pointer must resolve to the repaired generation $gen")
      // day-2 continues THROUGH the root: the append must land in the
      // live generation, not the stale flat layout
      Retrieval.bm25AppendIndex(docs.filter(col("doc_id") % 3 === 0),
        root)
      require(IndexLayout.Bm25.audit(s, root).isEmpty,
        "the repaired+appended layout must audit clean")
      Retrieval.bm25TopKIndexed(s, root,
          docs.filter(col("doc_id") < 8), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(bm25Top10OracleSql))

  /** AUTO-COMPACTION in the standing ingest loop — the op that ACTS
    * on q205's read-amplification measurement: q177's streaming BM25
    * ingest with the opt-in post-commit hook armed
    * ([[graft.streaming.IndexIngest.bm25Batch]] `maxDataFiles` →
    * [[graft.operators.IndexPaths.maybeCompact]]), a threshold set
    * just above the base build's file floor so the growing per-batch
    * generations CROSS it mid-stream: the hook compact-swaps behind
    * the atomic pointer, later micro-batches append into the live
    * generation, and the served top-10 must STILL hash-equal the same
    * fresh-whole-corpus oracle as q146/q154/q155/q177 — a compaction
    * that dropped a posting, double-kept a replayed row, or stranded
    * a generation on the wrong side of the swap all hash-fail. The
    * closure asserts the policy actually fired (pointer present) and
    * that the live layout's file count returned to the compacted
    * baseline (a fresh full-corpus build's floor).
    */
  val q218AutoCompactIngest: QueryDef = QueryDef(
    "q218_auto_compact_ingest",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val root = Scenario.workspace("q218_auto_compact_ingest", "bm25idx", dir)
      Retrieval.bm25WriteIndex(docs.filter(col("doc_id") % 3 =!= 0),
        root)
      val floor = graft.operators.IndexStats.dataFileCount(s, root)
      val snapshot = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text")).localCheckpoint()
      val landed = Scenario.landChunks(s,
        Scenario.workspace("q218_auto_compact_ingest", "in", dir), snapshot,
        col("doc_id") % 2 === 0)
      // the fresh full-corpus build exists only to measure the
      // compacted file floor — independent of the ingest's root, so
      // overlap it with the streamed deliveries (guide §2.6)
      val fresh = Scenario.workspace("q218_auto_compact_ingest", "fresh", dir)
      graft.operators.Parallelism.inParallel(
        () => Scenario.deliver(landed)(
          IndexIngest.bm25Batch(root, "doc_id", "text",
            maxDataFiles = Some(floor + 2))),
        () => Retrieval.bm25WriteIndex(docs, fresh))
      require(graft.operators.IndexPaths
          .currentGeneration(s, root).nonEmpty,
        "the file-count threshold must have fired a compact-swap")
      val floorFull = graft.operators.IndexStats
        .dataFileCount(s, fresh)
      val served = graft.operators.IndexStats.dataFileCount(s,
        graft.operators.IndexPaths.resolve(s, root))
      require(served <= floorFull + 2,
        s"serve cost must return to the compacted baseline: " +
          s"$served vs fresh floor $floorFull")
      Retrieval.bm25TopKIndexed(s, root,
          docs.filter(col("doc_id") < 8), k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(bm25Top10OracleSql))

  val all: Seq[QueryDef] = Seq(
    q30ExactDedup, q31MinhashDedup, q32Simhash, q33NgramJaccard,
    q34SimilarityTopK, q35IvfTopK, q36CosineNearDup, q37TextStats,
    q38CurationRollup, q84MinhashClusters, q96QuantizedAnn,
    q108WinnowFingerprint, q114LshNearDup, q123BlockDedup, q125ClusterReps,
    q126TfidfTopK, q128Kmeans, q129SemDedup, q132CurationV3, q133IvfNprobe,
    q134IvfIndex, q136PqAdc, q137IvfAppend, q138IvfPq, q139IvfPqIndex,
    q140IvfPqAppend, q141IvfPqSelfIndex, q142IvfPqRerank,
    q143IvfPqColdAppend, q144BpePairs, q145IvfPqStats,
    q146Bm25, q147HybridRrf, q148BpeTrain, q149BpeEncode, q151IvfPqRepair,
    q152CurationV4, q153Containment, q154Bm25Indexed, q155Bm25Append,
    q156Bm25Repair, q157BpeIds, q158CurationV5, q159MinhashIncremental,
    q160ExactIncremental, q161ContainmentIncremental, q162Bm25Stats,
    q163RetrievalStack, q164BpeTokenizerIndex, q165BigramApply,
    q166CurationV6, q167SimhashPairs, q168SimhashIncremental,
    q169BigramDrift, q170PackedIds, q171StreamingIngest,
    q172BlockIncremental, q173SemanticIncremental, q174StreamingIvfIngest,
    q175SemanticDrift, q176CurationV7, q177StreamingBm25Ingest,
    q178SemanticRepair, q180StreamingSemanticIngest, q183IvfRecall, q189WinnowPairs,
    q190WinnowIncremental, q191StreamingWinnowIngest,
    q193IdempotentIngestReplay, q194AssetDedupIndexed, q196IvfPqRecall,
    q197AssetNearDupIndexed, q198AssetRepair, q199StreamingAssetIngest,
    q200FrameDedupIndexed, q201StreamingAssetNearDup, q202CurationV9,
    q203AssetDrift, q204StreamingFrameIngest,
    q205Bm25CompactAmplification, q206AssetCompactAmplification,
    q207PackedAssetIngest, q208FrameSimhashIncremental,
    q209FrameDecontamination, q210CurationV10, q211FrameRepair,
    q212StreamingFrameSimhash, q213FrameSimhashRepair, q214AssetManifest,
    q215StreamingManifest, q216StreamingMedia, q217Bm25PointerSwap,
    q218AutoCompactIngest, q219WinnowSmallDelta, q220SubstringPairs,
    q221SubstringIncremental)
}
