package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Curation, Dedup, TextAnalysis, TextOps}
import graft.streaming.IndexIngest
import Scenario.{BlindRetry, Split}
import org.apache.spark.sql.functions._

/** Training-data curation surface: deterministic sampling, PII
  * redaction, and leakage-checked train/test splitting — the operations
  * a 100 TB pretraining pipeline runs after dedup and before sharding.
  * All three are hash-deterministic (see [[graft.operators.Curation]]),
  * so each has an exact DuckDB oracle.
  */
object CurationQueries {

  import PipelineQueries.{minhashPairCtes, BigramNllMedian, NumHashes, Bands, ShingleN}

  // ------------------------------------------------------------------
  // q109 deterministic stratified sampling
  // ------------------------------------------------------------------

  /** Exact-5-per-language sample by md5 order (one shuffle on `lang`),
    * plus the zero-shuffle Bernoulli flag (25% rate) on the same rows —
    * both sampling modes in one result.
    */
  val q109StratifiedSample: QueryDef = QueryDef(
    "q109_stratified_sample",
    (s, dir) =>
      Curation.stratifiedTopK(Tables.load(s, dir, "documents"), "lang", "doc_id", 5)
        .withColumn("in_bernoulli", Curation.bernoulliFlag(col("doc_id"), "3"))
        .select(col("lang"), col("doc_id"), col("rk"), col("in_bernoulli"))
        .orderBy(col("lang"), col("rk")),
    Some("""
      SELECT lang, doc_id, rk,
             (substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '3') AS in_bernoulli
      FROM (SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents) t
      WHERE rk <= 5
      ORDER BY lang, rk
    """))

  // ------------------------------------------------------------------
  // q110 PII redaction
  // ------------------------------------------------------------------

  /** The synthetic documents carry no PII, so the fixture injects a
    * deterministic email / URL / 7-digit reference derived from doc_id
    * (identically in the oracle), then redacts. Counts are taken on the
    * pre-redaction text; the redaction chain replaces URLs first so an
    * address embedded in a URL is never double-masked.
    */
  val q110PiiRedaction: QueryDef = QueryDef(
    "q110_pii_redaction",
    (s, dir) => {
      val withPii = Tables.load(s, dir, "documents").withColumn("text2",
        concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or visit https://example.com/d/"),
          col("doc_id").cast("string"), lit(" ref "),
          (col("doc_id") * 7919 + 1000000).cast("string"), lit(" end")))
      withPii.select(
          col("doc_id"),
          Curation.piiCount(col("text2"), Curation.UrlRe).as("n_urls"),
          Curation.piiCount(col("text2"), Curation.EmailRe).as("n_emails"),
          Curation.piiCount(col("text2"), Curation.LongNumRe).as("n_nums"),
          Curation.redactPii(col("text2")).as("redacted"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH wp AS (SELECT doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com or visit https://example.com/d/'
             || CAST(doc_id AS VARCHAR) || ' ref '
             || CAST(doc_id * 7919 + 1000000 AS VARCHAR) || ' end' AS text2
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(text2, '${Curation.UrlRe}')) AS BIGINT) AS n_urls,
        CAST(len(regexp_extract_all(text2, '${Curation.EmailRe}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text2, '${Curation.LongNumRe}')) AS BIGINT) AS n_nums,
        regexp_replace(regexp_replace(regexp_replace(text2,
          '${Curation.UrlRe}', '<URL>', 'g'),
          '${Curation.EmailRe}', '<EMAIL>', 'g'),
          '${Curation.LongNumRe}', '<NUM>', 'g') AS redacted
      FROM wp
      ORDER BY doc_id
    """))

  // ------------------------------------------------------------------
  // q111 hash split + cross-split leakage check
  // ------------------------------------------------------------------

  /** Group-aware train/test split by source (so near-dups sharing a
    * source stay together), then the leakage audit: minhash near-dup
    * pairs whose endpoints landed in DIFFERENT splits. At scale this is
    * the standard pre-sharding QA gate — a non-empty result means the
    * split key is too fine-grained for the duplication structure.
    */
  val q111SplitLeakage: QueryDef = QueryDef(
    "q111_split_leakage",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val splits = docs.select(
        col("doc_id"), Curation.hashSplit(col("source")).as("split"))
      Dedup.minhashDedup(docs, "doc_id", "text",
          NumHashes, Bands, ShingleN, threshold = 0.8)
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          col("split_a"), col("split_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH $minhashPairCtes,
      spl AS (SELECT doc_id,
                CASE WHEN substr(md5(source), 1, 1) <= 'b'
                     THEN 'train' ELSE 'test' END AS split
              FROM documents)
      SELECT p.doc_a, p.doc_b, p.jaccard,
             a.split AS split_a, b.split AS split_b
      FROM pairs p
      JOIN spl a ON a.doc_id = p.doc_a
      JOIN spl b ON b.doc_id = p.doc_b
      WHERE a.split <> b.split
      ORDER BY p.doc_a, p.doc_b
    """))

  // ------------------------------------------------------------------
  // q112 per-language vocabulary heavy-hitters
  // ------------------------------------------------------------------

  /** Top-10 tokens by frequency per language — the vocabulary-building
    * pass. Map-side partial counts absorb the token explosion before
    * the (lang, tok) shuffle, so the shuffled volume is the distinct
    * vocabulary, not the corpus.
    */
  val q112VocabTopK: QueryDef = {
    import graft.operators.TextOps
    QueryDef(
      "q112_vocab_topk",
      (s, dir) =>
        Curation.vocabTopK(Tables.load(s, dir, "documents"), "lang", "text", 10)
          .select(col("lang"), col("tok"), col("cnt"), col("rk"))
          .orderBy(col("lang"), col("rk")),
      Some(s"""
        WITH tk AS (SELECT lang, unnest(${TextOps.tokensSql("text")}) AS tok
                    FROM documents),
        c AS (SELECT lang, tok, COUNT(*) AS cnt FROM tk
              WHERE tok <> '' GROUP BY 1, 2),
        r AS (SELECT lang, tok, cnt,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY cnt DESC, tok) AS rk
              FROM c)
        SELECT lang, tok, cnt, rk FROM r WHERE rk <= 10
        ORDER BY lang, rk
      """))
  }

  // ------------------------------------------------------------------
  // q113 overlapping token-window chunking
  // ------------------------------------------------------------------

  /** 16-token chunks with stride 8 — the sequence-packing preprocessing
    * step. One explode per document, zero shuffle before the final
    * sort; the chunk index derives from the start offset so the result
    * is deterministic under any partitioning.
    */
  val q113TokenChunks: QueryDef = {
    import graft.operators.TextOps
    QueryDef(
      "q113_token_chunks",
      (s, dir) =>
        Curation.tokenChunks(Tables.load(s, dir, "documents"), "text",
            chunkSize = 16, stride = 8)
          .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"), col("chunk"))
          .orderBy(col("doc_id"), col("chunk_idx")),
      Some(s"""
        WITH toks AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS t
                      FROM documents),
        st AS (SELECT doc_id, t,
                      unnest(generate_series(1, greatest(len(t), 1), 8)) AS start
               FROM toks)
        SELECT doc_id,
               CAST((start - 1) // 8 AS BIGINT) AS chunk_idx,
               CAST(least(len(t), start + 15) - start + 1 AS BIGINT) AS n_chunk_tokens,
               array_to_string(t[start:least(len(t), start + 15)], ' ') AS chunk
        FROM st
        ORDER BY doc_id, chunk_idx
      """))
  }

  // ------------------------------------------------------------------
  // q116 flagship end-to-end curation pipeline
  // ------------------------------------------------------------------

  /** The whole pretraining-prep pipeline in one composed query:
    * quality gate (>= 10 tokens) → exact-dedup keep-first → minhash
    * near-dup removal → group-aware hash split → 16/8 token chunking →
    * per-(split, lang) rollup. Near-dup pairs are computed CORPUS-WIDE
    * (not on the quality survivors) and every pair's doc_b drops — the
    * conservative policy: a document near-duplicating even a
    * quality-rejected partner still signals duplication. Every stage
    * is a previously-verified operator; this query proves they
    * COMPOSE — one plan, no driver round-trips, each stage's scale
    * posture unchanged (the near-dup pass is the only shuffle-heavy
    * stage and keeps its band/bucket/cap structure).
    */
  val q116CurationE2e: QueryDef = {
    import graft.operators.TextOps
    QueryDef(
      "q116_curation_e2e",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val quality = docs.filter(size(TextOps.tokens(col("text"))) >= 10)
        val exactKept = Dedup.exactClusters(quality, "doc_id", "text")
          .select(col("kept_id").as("doc_id"))
        val losers = Dedup.minhashDedup(docs, "doc_id", "text",
            NumHashes, Bands, ShingleN, threshold = 0.8)
          .select(col("doc_b").as("doc_id")).distinct()
        docs.join(exactKept, "doc_id")
          .join(losers, Seq("doc_id"), "left_anti")
          .withColumn("split", Curation.hashSplit(col("source")))
          .transform(d => Curation.tokenChunks(d, "text", 16, 8))
          .groupBy(col("split"), col("lang"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_chunks"),
            sum(col("n_chunk_tokens")).as("sum_chunk_tokens"))
          .orderBy(col("split"), col("lang"))
      },
      Some(s"""
        WITH $minhashPairCtes,
        q AS (SELECT * FROM documents
              WHERE len(${TextOps.tokensSql("text")}) >= 10),
        surv AS (SELECT MIN(doc_id) AS doc_id FROM q
                 GROUP BY md5(${TextOps.normalizeSql("text")})),
        losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
        kept AS (SELECT d.*,
                        CASE WHEN substr(md5(d.source), 1, 1) <= 'b'
                             THEN 'train' ELSE 'test' END AS split
                 FROM documents d
                 JOIN surv USING (doc_id)
                 WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)),
        ktoks AS (SELECT doc_id, split, lang,
                         ${TextOps.tokensSql("text")} AS t FROM kept),
        chunks AS (SELECT doc_id, split, lang,
                          least(len(t), start + 15) - start + 1 AS n_chunk_tokens
                   FROM (SELECT *, unnest(generate_series(1, greatest(len(t), 1), 8)) AS start
                         FROM ktoks) st)
        SELECT split, lang,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_chunks,
               CAST(SUM(n_chunk_tokens) AS BIGINT) AS sum_chunk_tokens
        FROM chunks
        GROUP BY split, lang
        ORDER BY split, lang
      """))
  }

  // ------------------------------------------------------------------
  // q117 repetition-based quality signals (Gopher rules)
  // ------------------------------------------------------------------

  val q117RepetitionMetrics: QueryDef = {
    import graft.operators.TextAnalysis
    QueryDef(
      "q117_repetition_metrics",
      (s, dir) =>
        TextAnalysis.repetitionMetrics(
            Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id")),
      Some(TextAnalysis.repetitionMetricsSql("doc_id", "text")))
  }

  // ------------------------------------------------------------------
  // q119 benchmark decontamination (eval-set n-gram overlap)
  // ------------------------------------------------------------------

  /** docs with id < 10 stand in for the eval set; every other document
    * reports its distinct shared 5-grams against it. The benchmark
    * side broadcasts, so the corpus probe is shuffle-free.
    */
  val q119Decontamination: QueryDef = {
    import graft.operators.TextOps
    QueryDef(
      "q119_decontamination",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Curation.contaminationHits(
            docs.filter(col("doc_id") >= 10),
            docs.filter(col("doc_id") < 10),
            "doc_id", "text", shingleN = 5)
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS t
                      FROM documents),
        sh AS (SELECT doc_id,
                      unnest(list_distinct(${TextOps.shinglesSql("t", 5)})) AS s
               FROM toks),
        bm AS (SELECT DISTINCT doc_id AS bench_id, s FROM sh WHERE doc_id < 10)
        SELECT c.doc_id,
               COUNT(DISTINCT c.s) AS n_hits,
               COUNT(DISTINCT bm.bench_id) AS n_bench_docs
        FROM sh c JOIN bm ON bm.s = c.s
        WHERE c.doc_id >= 10
        GROUP BY c.doc_id
        ORDER BY doc_id
      """))
  }

  // ------------------------------------------------------------------
  // q124 weighted source mixing (epoch up/down-sampling)
  // ------------------------------------------------------------------

  /** SQL expression twins of [[graft.operators.Curation.weightedMix]]'s
    * base-copies and fractional-threshold when-chains, derived from
    * [[graft.operators.Curation.mixThresholds]] — the ONE place the
    * quantization lives, so engine and oracle cannot drift.
    */
  private def mixBaseExpr(
      rates: Map[String, Double], stratum: String = "source"): String = {
    val branches = Curation.mixThresholds(rates)
      .map { case (s, b, _) => s"WHEN '$s' THEN $b" }
    if (branches.isEmpty) "NULL"
    else s"CASE $stratum ${branches.mkString(" ")} ELSE NULL END"
  }

  private def mixFthrExpr(
      rates: Map[String, Double], stratum: String = "source"): String = {
    // all-integral rates leave zero branches; a bare CASE source ELSE
    // NULL END is a parse error, so emit the literal instead
    val branches = Curation.mixThresholds(rates)
      .flatMap { case (s, _, thr) => thr.map(v => s"WHEN '$s' THEN '$v'") }
    if (branches.isEmpty) "NULL"
    else s"CASE $stratum ${branches.mkString(" ")} ELSE NULL END"
  }

  /** Domain-weight mixing: each source replicated or subsampled to its
    * target rate (2.5x, 1x, 0.5x, …; unmapped sources drop). Engine
    * and oracle derive base copies and the fractional 2-hex-char
    * threshold from the SAME Scala map, so the realized per-row copy
    * counts are bit-identical. A pure narrow map — zero shuffle.
    */
  val q124WeightedMix: QueryDef = {
    val rates = Map(
      "src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.25,
      "src4" -> 2.0, "src5" -> 0.125, "src6" -> 1.75, "src7" -> 0.0625)
    QueryDef(
      "q124_weighted_mix",
      (s, dir) =>
        Curation.weightedMix(
            Tables.load(s, dir, "documents").select(col("doc_id"), col("source")),
            "doc_id", "source", rates)
          .select(col("doc_id"), col("source"), col("copy"))
          .orderBy(col("doc_id"), col("copy")),
      Some(s"""
        WITH r AS (SELECT doc_id, source,
                          ${mixBaseExpr(rates)} AS base,
                          ${mixFthrExpr(rates)} AS fthr
                   FROM documents),
        n AS (SELECT doc_id, source,
                     COALESCE(base, 0)
                       + CASE WHEN fthr IS NOT NULL
                               AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= fthr
                              THEN 1 ELSE 0 END AS n
              FROM r)
        SELECT doc_id, source,
               CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy
        FROM n
        WHERE n > 0
        ORDER BY doc_id, copy
      """))
  }

  // ------------------------------------------------------------------
  // q127 flagship curation pipeline v2: the r6 operators composed
  // ------------------------------------------------------------------

  /** Second composition proof, over the round-6 operator additions:
    * block-level exact dedup (drop all-duplicate docs, keep reassembled
    * text) → minhash near-dup pairs ON THE DEDUPED TEXT → connected
    * components → keep-best representative per cluster (quality =
    * deduped length) → weighted source mixing → per-source rollup.
    * Stage reuse via localCheckpoint (the documented iterate shape —
    * connected components is driver-looped by design, SURVEY §2.10);
    * everything else is one declarative plan per stage. The oracle
    * replays the identical chain: the block-dedup CTEs feed a `docs2`
    * relation through the PARAMETERIZED minhash-pair CTEs
    * ([[PipelineQueries.minhashPairCtesFrom]]) into the recursive
    * component walk, the representative window, and the mix CASEs.
    */
  val q127CurationV2: QueryDef = {
    val rates = Map(
      "src0" -> 2.0, "src1" -> 1.0, "src2" -> 0.5, "src3" -> 1.5,
      "src4" -> 0.25, "src5" -> 1.0, "src6" -> 0.75, "src7" -> 2.5)
    val B = 12
    QueryDef(
      "q127_curation_v2",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val deduped = Dedup.blockDedup(docs, "doc_id", "text", blockTokens = B)
          .filter(col("n_kept") > 0)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .select(col("doc_id"), col("text_deduped").as("text"), col("source"))
          // referenced by three downstream stages (pairs, labels, keep
          // join) and CC is action-looped anyway — materialize once
          .localCheckpoint()
        val pairs = Dedup.minhashDedup(deduped, "doc_id", "text",
          PipelineQueries.NumHashes, PipelineQueries.Bands,
          PipelineQueries.ShingleN, threshold = 0.8)
        val reps = Dedup.clusterRepresentatives(
          deduped.withColumn("n_chars", length(col("text")).cast("long")),
          pairs, "doc_id", "n_chars")
        val kept = deduped
          .join(reps.filter(col("kept")).select("doc_id"), "doc_id")
        Curation.weightedMix(kept, "doc_id", "source", rates)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH RECURSIVE
        ${PipelineQueries.blockDedupCtesFrom("documents", B)},
        docs2 AS (SELECT b.doc_id, b.text_deduped AS text, d.source
                  FROM bd b JOIN documents d USING (doc_id)
                  WHERE b.n_kept > 0),
        ${PipelineQueries.minhashPairCtesFrom("docs2")},
        e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
        walk(v, lbl) AS (
          SELECT DISTINCT src, src FROM e
          UNION
          SELECT e.dst, w.lbl FROM e JOIN walk w ON e.src = w.v
        ),
        comp AS (SELECT v, MIN(lbl) AS component FROM walk GROUP BY v),
        lab AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster,
                       length(d.text) AS q, d.source, d.text
                FROM docs2 d LEFT JOIN comp c ON d.doc_id = c.v),
        kept AS (SELECT doc_id, source, text FROM (
                   SELECT *, row_number() OVER (PARTITION BY cluster
                                                ORDER BY q DESC, doc_id) AS krn
                   FROM lab) t
                 WHERE krn = 1),
        r AS (SELECT doc_id, source, text,
                     ${mixBaseExpr(rates)} AS base,
                     ${mixFthrExpr(rates)} AS fthr
              FROM kept),
        n AS (SELECT doc_id, source, text,
                     COALESCE(base, 0)
                       + CASE WHEN fthr IS NOT NULL
                               AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= fthr
                              THEN 1 ELSE 0 END AS n
              FROM r),
        mixed AS (SELECT doc_id, source, text,
                         unnest(generate_series(1, n)) AS copy
                  FROM n WHERE n > 0)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM mixed
        GROUP BY source
        ORDER BY source
      """))
  }

  // ------------------------------------------------------------------
  // q130 unigram-LM quality filter (CCNet-style)
  // ------------------------------------------------------------------

  /** The fixed-point unigram-NLL scoring CTEs (ending in `scores` =
    * (doc_id, n_tok, nll)) — shared by q130's fixed-threshold gate and
    * q187's percentile gate, so the quantized-log arithmetic is ONE
    * text on the oracle side exactly as `unigramNllScores` is one tree
    * on the engine side.
    */
  private def unigramNllOracleCtes: String = s"""
    toks AS (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok
             FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    tot AS (SELECT SUM(tf) AS total_toks FROM tf),
    cnts AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1),
    sc AS (SELECT t.doc_id, t.tf,
                  CAST(FLOOR(ln(CAST(c.cnt AS DOUBLE) / tt.total_toks)
                             * 1000000.0) AS BIGINT) AS lpf
           FROM tf t JOIN cnts c USING (tok) CROSS JOIN tot tt),
    agg AS (SELECT doc_id, SUM(tf * lpf) AS s, SUM(tf) AS n_tok
            FROM sc GROUP BY 1),
    scores AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
                      round(-(s) / (1000000.0 * n_tok), 6) AS nll
               FROM agg)"""

  /** Per-document unigram negative log-likelihood against the corpus's
    * own token distribution, with a keep flag at NLL <= 3.404 (the
    * corpus median at test scale — both classes populated). Token
    * log-probs are quantized to longs before the per-doc sum so the
    * result is order-independent and engine-exact.
    */
  val q130UnigramQuality: QueryDef = QueryDef(
    "q130_unigram_quality",
    (s, dir) =>
      TextAnalysis.unigramNll(Tables.load(s, dir, "documents"),
          "doc_id", "text", nllThreshold = 3.404)
        .orderBy(col("doc_id")),
    Some(s"""
      WITH $unigramNllOracleCtes
      SELECT doc_id, n_tok, nll, (nll <= 3.404) AS kept
      FROM scores
      ORDER BY doc_id
    """))

  /** The DISTRIBUTION-ADAPTIVE quality cut ([[graft.operators
    * .TextAnalysis.qualityPercentileGate]]): per source, keep the best
    * half by unigram NLL — the threshold is wherever each source's
    * score distribution puts it (the CCNet-style cut; q130/q135 use
    * fixed thresholds). The oracle replays the shared NLL scoring CTEs
    * plus the per-source cume_dist ranking over the total-ordered
    * (nll, doc_id) key; one moved rank or one flipped keep decision
    * hash-fails its document row.
    */
  val q187QualityPercentile: QueryDef = QueryDef(
    "q187_quality_percentile",
    (s, dir) =>
      TextAnalysis.qualityPercentileGate(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", keepFrac = 0.5)
        .orderBy(col("doc_id")),
    Some(s"""
      WITH $unigramNllOracleCtes,
      j AS (SELECT d.source, sc.doc_id, sc.n_tok, sc.nll,
                   cume_dist() OVER (PARTITION BY d.source
                                     ORDER BY sc.nll, sc.doc_id) AS cd
            FROM scores sc JOIN documents d USING (doc_id))
      SELECT source, doc_id, n_tok, nll, round(cd, 6) AS q_rank,
             (cd <= 0.5) AS kept
      FROM j
      ORDER BY doc_id
    """))

  /** q187's PRODUCTION knob, gated (VERDICT r15 #3): the same
    * distribution-adaptive cut with per-source thresholds derived by
    * `percentile_approx` — an S-row aggregate broadcast back — instead
    * of the per-source `cume_dist` window, so NO source pays a total
    * sort of its documents at 100 TB ([[graft.operators.TextAnalysis
    * .qualityPercentileGateApprox]]; PlanSpec pins the window-free
    * plan). Admission is VALUE-based (`nll <= thr`, threshold ties
    * keep — the one stated semantic delta from q187's doc_id
    * tie-break). The sketch is EXACT below `accuracy` documents per
    * source — every fixture here — so the oracle is the exact
    * order-statistic pick (smallest nll with ≥ ⌈keepFrac·n⌉ values at
    * or below it), and ONE moved threshold or flipped keep decision
    * hash-fails; at scale the admitted-fraction error is bounded by
    * 1/accuracy per source.
    */
  val q195QualityPercentileApprox: QueryDef = QueryDef(
    "q195_quality_percentile_approx",
    (s, dir) =>
      TextAnalysis.qualityPercentileGateApprox(
          Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", keepFrac = 0.5)
        .orderBy(col("doc_id")),
    Some(s"""
      WITH $unigramNllOracleCtes,
      j AS (SELECT d.source, sc.doc_id, sc.n_tok, sc.nll
            FROM scores sc JOIN documents d USING (doc_id)),
      t AS (SELECT source, nll AS thr FROM (
              SELECT source, nll,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY nll, doc_id) AS rn,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM j) z
            WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
      SELECT j.source, j.doc_id, j.n_tok, j.nll, round(t.thr, 6) AS thr,
             (j.nll <= t.thr) AS kept
      FROM j JOIN t USING (source)
      ORDER BY doc_id
    """))

  /** CTEs tf → tot → cnts → sc over `tk` = (doc_id, tok) rows: each
    * (doc, token)'s count `tf` and the token's fixed-point corpus
    * log-probability `lpf` — q132 and q135 score unigram NLL from
    * them. */
  private[queries] val unigramLogProbCtes =
    """tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        tot AS (SELECT SUM(tf) AS total_toks FROM tf),
        cnts AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1),
        sc AS (SELECT t.doc_id, t.tf,
                      CAST(FLOOR(ln(CAST(c.cnt AS DOUBLE) / tt.total_toks)
                                 * 1000000.0) AS BIGINT) AS lpf
               FROM tf t JOIN cnts c USING (tok) CROSS JOIN tot tt)"""

  /** CTEs o → e over `t` = (doc_id, key, shard, n): each document's slot
    * start `s` in its shard stream (tokens plus one EOS, key-then-id
    * order) and one row per `seqLen`-token sequence it overlaps — the
    * offset arithmetic of [[graft.operators.Curation.packSequences]]. */
  private[queries] def packOffsetCtes(seqLen: Int): String =
    s"""o AS (SELECT doc_id, shard, n,
                     CAST(SUM(n + 1) OVER (PARTITION BY shard ORDER BY key, doc_id)
                       - (n + 1) AS BIGINT) AS s
              FROM t),
        e AS (SELECT doc_id, shard, s, n,
                     unnest(generate_series(s // $seqLen, (s + n - 1) // $seqLen)) AS seq_idx
              FROM o)"""

  // ------------------------------------------------------------------
  // q131 concat-and-cut sequence packing
  // ------------------------------------------------------------------

  /** Pack the document stream into 64-token training sequences
    * (GPT-style concat-and-cut, one EOS between docs), sharded by md5
    * prefix into 256 independent streams so no single window
    * serializes the corpus. One row per (doc, sequence it overlaps).
    * The oracle replays the identical offset arithmetic in DuckDB —
    * same md5 shard/order, same integer-div cut points.
    */
  val q131SeqPack: QueryDef = {
    import graft.operators.TextOps
    QueryDef(
      "q131_seq_pack",
      (s, dir) =>
        Curation.packSequences(Tables.load(s, dir, "documents"), "doc_id",
            "text", seqLen = 64)
          .orderBy(col("shard"), col("seq_idx"), col("doc_id")),
      Some(s"""
        WITH t AS (SELECT doc_id,
                          md5(CAST(doc_id AS VARCHAR)) AS key,
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
                          CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n
                   FROM documents),
        ${packOffsetCtes(64)}
        SELECT doc_id, shard, CAST(seq_idx AS BIGINT) AS seq_idx,
               CAST(least(s + n, (seq_idx + 1) * 64)
                    - greatest(s, seq_idx * 64) AS BIGINT) AS n_toks_in_seq
        FROM e
        ORDER BY shard, seq_idx, doc_id
      """))
  }

  // ------------------------------------------------------------------
  // q135 perplexity-bucketed mixing (CCNet-style head/middle/tail)
  // ------------------------------------------------------------------

  /** CCNet-style quality bucketing composed with domain mixing: score
    * every document with the unigram-LM NLL (q130's arithmetic), cut
    * the corpus into head/middle/tail at FIXED NLL thresholds, then
    * up/down-sample per bucket (head 1.5×, middle 1×, tail 0.25×)
    * with the deterministic md5-fraction mix. The thresholds are
    * corpus-tertile constants computed offline — exactly how CCNet
    * ships per-language perplexity cutoffs; the derivation is checked
    * in as `tools/derive_q135_cutoffs.py` (replays the oracle's NLL
    * arithmetic in DuckDB, prints the tertiles and the rounding that
    * yields these constants) — which keeps bucketing a pure NARROW map (a global ntile/row_number would serialize the
    * corpus through one sort partition at 100 TB; fixed cutoffs and
    * the one-pass NLL scorer keep the only corpus-scale shuffles the
    * q130 token aggregations). Aggregate NLL bounds per bucket are
    * min/max (order-independent — an avg of replicated doubles would
    * be partition-order-dependent).
    */
  val q135QualityMix: QueryDef = {
    val rates = Map("head" -> 1.5, "middle" -> 1.0, "tail" -> 0.25)
    val T1 = 3.3998
    val T2 = 3.404
    QueryDef(
      "q135_quality_mix",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val nll = TextAnalysis.unigramNll(docs, "doc_id", "text",
            nllThreshold = T2)
          .select(col("doc_id"), col("nll"))
          .withColumn("qb",
            when(col("nll") <= T1, "head")
              .when(col("nll") <= T2, "middle")
              .otherwise("tail"))
        Curation.weightedMix(nll, "doc_id", "qb", rates)
          .groupBy(col("qb"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("nll")).as("min_nll"),
            max(col("nll")).as("max_nll"))
          .orderBy(col("qb"))
      },
      Some(s"""
        WITH tk AS (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok
                    FROM documents),
        $unigramLogProbCtes,
        agg AS (SELECT doc_id, round(-(SUM(tf * lpf)) / (1000000.0 * SUM(tf)), 6)
                         AS nll
                FROM sc GROUP BY 1),
        b AS (SELECT doc_id, nll,
                     CASE WHEN nll <= $T1 THEN 'head'
                          WHEN nll <= $T2 THEN 'middle'
                          ELSE 'tail' END AS qb
              FROM agg),
        r AS (SELECT doc_id, nll, qb,
                     ${mixBaseExpr(rates, "qb")} AS base,
                     ${mixFthrExpr(rates, "qb")} AS fthr
              FROM b),
        n AS (SELECT doc_id, nll, qb,
                     COALESCE(base, 0)
                       + CASE WHEN fthr IS NOT NULL
                               AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= fthr
                              THEN 1 ELSE 0 END AS n
              FROM r),
        mixed AS (SELECT doc_id, nll, qb,
                         unnest(generate_series(1, n)) AS copy
                  FROM n WHERE n > 0)
        SELECT qb,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               MIN(nll) AS min_nll,
               MAX(nll) AS max_nll
        FROM mixed
        GROUP BY qb
        ORDER BY qb
      """))
  }

  // ------------------------------------------------------------------
  // q150 bigram-LM quality filter (conditional-LM upgrade of q130)
  // ------------------------------------------------------------------

  /** Per-document NLL against an add-one-smoothed bigram LM trained on
    * the corpus itself ([[graft.operators.TextAnalysis.bigramNll]]),
    * keep flag at the corpus-median cutoff
    * ([[PipelineQueries.BigramNllMedian]] — both classes populated). The oracle replays the full conditional-LM
    * arithmetic: bigram counts, context counts, the bigram-position
    * vocabulary, and the quantized log-prob sums.
    */
  val q150BigramQuality: QueryDef = QueryDef(
    "q150_bigram_quality",
    (s, dir) =>
      TextAnalysis.bigramNll(Tables.load(s, dir, "documents"),
          "doc_id", "text", nllThreshold = BigramNllMedian)
        .orderBy(col("doc_id")),
    Some(TextAnalysis.bigramNllSql("documents", "doc_id", "text", BigramNllMedian)))

  /** The shared q179/q181 budget: ~45% of the sf0.01 gate corpus's
    * token mass, so admission is properly mixed per source.
    */
  private[queries] val MixtureBudget = 12000L

  /** DuckDB replay of [[graft.operators.Curation.temperatureMixture]]
    * as a WITH-clause body: CTEs tm (per-doc token counts) → ms
    * (per-source mass + quantized sqrt) → qt → rt (clamped rates).
    * Shared by q179 (the manifest gate) and q181 (the packed
    * composition), so the arithmetic can never drift between them.
    */
  private def mixtureOracleCtes(budget: Long): String = {
    val toks = TextOps.tokensSql("text")
    s"""tm AS (SELECT source, doc_id,
                      CAST(len($toks) AS BIGINT) AS n_toks
               FROM documents),
      ms AS (SELECT source, SUM(n_toks) AS src_toks,
                    CAST(FLOOR(SQRT(CAST(SUM(n_toks) AS DOUBLE))
                               * 1000000.0) AS BIGINT) AS q
             FROM tm GROUP BY 1),
      qt AS (SELECT SUM(q) AS qtot FROM ms),
      rt AS (SELECT source,
                    least(1.0, (CAST(q AS DOUBLE) * $budget.0) /
                      (CAST(qtot AS DOUBLE) * CAST(src_toks AS DOUBLE)))
                      AS rate
             FROM ms CROSS JOIN qt)"""
  }

  /** The per-document admission predicate of the mixture replay —
    * the hash60 draw against the source's rate, over aliases `t`
    * (a tm row) and `r` (its rt row).
    */
  private def mixtureAdmittedSql: String =
    s"""(CAST(${TextOps.hash60Sql("CAST(t.doc_id AS VARCHAR)")}
         AS DOUBLE) / 1152921504606846976.0 < r.rate)"""

  /** The full q179 oracle — ALSO the q185 oracle verbatim: the
    * streamed ingest's served manifest must equal the fresh
    * derivation, which is the whole point of the generation-additive
    * mass layout.
    */
  private def mixtureManifestOracleSql: String = s"""
    WITH ${mixtureOracleCtes(MixtureBudget)}
    SELECT t.source, t.doc_id, t.n_toks, round(r.rate, 6) AS rate,
           $mixtureAdmittedSql AS admitted
    FROM tm t JOIN rt r USING (source)
    ORDER BY doc_id
  """

  /** Temperature-scaled mixture derivation
    * ([[graft.operators.Curation.temperatureMixture]]) — the step
    * q124's [[graft.operators.Curation.weightedMix]] assumes already
    * happened: per-source token masses reweighted at α = 1/2
    * (fixed-point-quantized sqrt so Σq is an exact long), a 12k-token
    * global budget split by the reweighted shares, and every
    * document's deterministic hash draw against its source's rate.
    * The oracle replays mass measurement, quantization, the budget
    * split, and EVERY per-document draw — a one-ulp drift in any
    * rate, or one flipped draw, hash-fails one of the 500 rows.
    */
  val q179TemperatureMixture: QueryDef = QueryDef(
    "q179_temperature_mixture",
    (s, dir) =>
      Curation.temperatureMixture(Tables.load(s, dir, "documents"),
          "source", "doc_id", "text", budget = MixtureBudget)
        .orderBy(col("doc_id")),
    Some(mixtureManifestOracleSql))

  /** The ingest loop's DERIVED-ARTIFACT member
    * ([[graft.streaming.IndexIngest.mixtureBatch]]): the corpus arrives
    * as a stream in micro-batches, each batch tokenized once and
    * appended as a mixture-payload generation, then the standing
    * admission manifest is served from stored counts alone — and must
    * hash-equal the fresh whole-corpus q179 derivation (same oracle
    * text). Source masses are exact long sums, so generations add;
    * draws are frozen per-key hashes; batch boundaries provably cannot
    * move a rate or an admission.
    */
  val q185StreamingMixtureIngest: QueryDef = QueryDef(
    "q185_streaming_mixture_ingest",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text")).localCheckpoint()
      val landed = Scenario.landChunks(s,
        Scenario.workspace("q185_streaming_mixture_ingest", "in", dir), docs,
        col("doc_id") % 3 === 0)
      val path = Scenario.workspace("q185_streaming_mixture_ingest", "index",
        dir)
      Scenario.deliver(landed)(
        IndexIngest.mixtureBatch(path, "source", "doc_id", "text"))
      Curation.mixtureServeIndex(s, path, "source", "doc_id",
          budget = MixtureBudget)
        .orderBy(col("doc_id"))
    },
    Some(mixtureManifestOracleSql))

  /** The mixture composed to its product ([[graft.operators.Curation
    * .temperatureMixture]] → [[graft.operators.Curation
    * .packSequencesByCount]]): the admitted documents' token counts
    * feed the concat-and-cut sequence packer, emitting the
    * temperature-resampled corpus's training-sequence placement
    * manifest — the blend a data loader actually reads after mixture
    * rebalancing (q131's packing over q179's admission). The oracle
    * replays the mixture CTEs (shared with q179 verbatim), the
    * admission draws, and the packing offset window — a flipped draw
    * or a moved offset relocates every downstream token span and
    * hash-fails.
    */
  val q181MixturePacked: QueryDef = QueryDef(
    "q181_mixture_packed",
    (s, dir) => {
      val mix = Curation.temperatureMixture(
        Tables.load(s, dir, "documents"),
        "source", "doc_id", "text", budget = MixtureBudget)
      Curation.packSequencesByCount(
          mix.filter(col("admitted")).select(col("doc_id"), col("n_toks")),
          "doc_id", "n_toks", seqLen = 256)
        .orderBy(col("shard"), col("seq_idx"), col("doc_id"))
    },
    Some(s"""
      WITH ${mixtureOracleCtes(MixtureBudget)},
      adm AS (SELECT t.doc_id, t.n_toks
              FROM tm t JOIN rt r USING (source)
              WHERE $mixtureAdmittedSql),
      ${Curation.packSequencesByCountSql("adm", "n_toks", 256)}
    """))

  /** Day-2 of the mixture ([[graft.operators.Curation
    * .mixtureDriftAudit]]): the base corpus (doc_id % 3 ≠ 0) is the
    * standing derivation, the % 3 = 0 slice lands as the snapshot,
    * and — the token budget held FIXED — every source's admission
    * rate dilutes. The audit reports per source the base→union rate
    * movement and exactly how many STANDING documents flip admission
    * (their hash draws are frozen, so flips are pure rate crossings —
    * the incremental manifest diff a resampling pipeline cannot
    * give). The oracle replays BOTH mixture derivations from one
    * conditional-mass scan plus every frozen draw; one moved rate or
    * one phantom flip hash-fails its source row.
    */
  val q182MixtureDrift: QueryDef = QueryDef(
    "q182_mixture_drift",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Curation.mixtureDriftAudit(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "source", "doc_id", "text", budget = MixtureBudget)
        .orderBy(col("source"))
    }, {
      val toks = TextOps.tokensSql("text")
      Some(s"""
        WITH tm AS (SELECT source, doc_id,
                           CAST(len($toks) AS BIGINT) AS n_toks,
                           (doc_id % 3 <> 0) AS is_base
                    FROM documents),
        ms AS (SELECT source,
                      CAST(SUM(CASE WHEN is_base THEN n_toks ELSE 0 END)
                           AS BIGINT) AS src_toks_base,
                      CAST(SUM(n_toks) AS BIGINT) AS src_toks_union
               FROM tm GROUP BY 1),
        qs AS (SELECT source, src_toks_base, src_toks_union,
                      CAST(FLOOR(SQRT(CAST(src_toks_base AS DOUBLE))
                                 * 1000000.0) AS BIGINT) AS q_base,
                      CAST(FLOOR(SQRT(CAST(src_toks_union AS DOUBLE))
                                 * 1000000.0) AS BIGINT) AS q_union
               FROM ms),
        qt AS (SELECT SUM(q_base) AS qtb, SUM(q_union) AS qtu FROM qs),
        rt AS (SELECT source, src_toks_base, src_toks_union,
                      CASE WHEN src_toks_base > 0 THEN
                        least(1.0, (CAST(q_base AS DOUBLE) * $MixtureBudget.0) /
                          (CAST(qtb AS DOUBLE) * CAST(src_toks_base AS DOUBLE)))
                      END AS rate_base,
                      least(1.0, (CAST(q_union AS DOUBLE) * $MixtureBudget.0) /
                        (CAST(qtu AS DOUBLE) * CAST(src_toks_union AS DOUBLE)))
                        AS rate_union
               FROM qs CROSS JOIN qt),
        fl AS (SELECT source,
                      COUNT(*) AS n_base,
                      COUNT(CASE WHEN NOT (draw < rate_base)
                                  AND (draw < rate_union) THEN 1 END)
                        AS n_flipped_in,
                      COUNT(CASE WHEN (draw < rate_base)
                                  AND NOT (draw < rate_union) THEN 1 END)
                        AS n_flipped_out
               FROM (SELECT t.source,
                            CAST(${TextOps.hash60Sql(
                              "CAST(t.doc_id AS VARCHAR)")} AS DOUBLE)
                              / 1152921504606846976.0 AS draw,
                            r.rate_base, r.rate_union
                     FROM tm t JOIN rt r USING (source)
                     WHERE t.is_base)
               GROUP BY 1)
        SELECT r.source, r.src_toks_base, r.src_toks_union,
               round(r.rate_base, 6) AS rate_base,
               round(r.rate_union, 6) AS rate_union,
               CAST(COALESCE(f.n_base, 0) AS BIGINT) AS n_base,
               CAST(COALESCE(f.n_flipped_in, 0) AS BIGINT) AS n_flipped_in,
               CAST(COALESCE(f.n_flipped_out, 0) AS BIGINT) AS n_flipped_out,
               COALESCE(ABS(r.rate_union - r.rate_base) > 0.02, TRUE)
                 AS drifted
        FROM rt r LEFT JOIN fl f USING (source)
        ORDER BY source
      """)
    })

  /** The dataset release manifest, gated through its INCREMENTAL path
    * ([[graft.operators.Curation.releaseManifest]] →
    * [[graft.operators.Curation.manifestMerge]]): the base corpus
    * (doc_id % 4 ≠ 0) and the appended delta are manifested
    * separately and MERGED (counts add, checksums XOR), and the
    * result must hash-equal the oracle's fresh whole-union manifest —
    * the compositionality that lets a 100 TB release update its
    * manifest from the delta alone. A single bit anywhere in any
    * document's normalized content, a lost row, or a broken XOR fold
    * moves that shard's row and hash-fails.
    */
  val q184ReleaseManifest: QueryDef = QueryDef(
    "q184_release_manifest",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Curation.manifestMerge(
          Curation.releaseManifest(
            docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text"),
          Curation.releaseManifest(
            docs.filter(col("doc_id") % 4 === 0), "doc_id", "text"))
        .orderBy(col("shard"))
    }, {
      val toks = TextOps.tokensSql("text")
      val content = TextOps.hash60Sql(
        s"concat(CAST(doc_id AS VARCHAR), chr(1), coalesce(${TextAnalysis.fingerprintSql("text")}, ''))")
      Some(s"""
        SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS n_tokens,
               bit_xor($content) AS checksum
        FROM documents
        GROUP BY 1 ORDER BY shard
      """)
    })

  /** Flagship curation v8 — the RELEASED TRAINING SET: temperature
    * mixture admits a budgeted resample of the corpus
    * ([[graft.operators.Curation.admitByMixture]] — the filter form
    * that keeps text), the BPE tokenizer encodes ONLY the admitted
    * documents to ids, the packer places every id at its training
    * coordinate ([[graft.operators.Curation.packTokenIds]], EOS slots
    * included), and the output is the per-SEQUENCE release manifest —
    * token count, contributing-document count, and the order-free XOR
    * content checksum of (position : token id) pairs per sequence
    * slot. This is the artifact a training run actually consumes plus
    * the proof it is the right one: q184's manifest idea applied at
    * sequence granularity to the packed product.
    *
    * Scale story: the budget is FIXED, so as the corpus grows the
    * admission rate shrinks and the expensive encode/pack stages stay
    * budget-sized — only the two narrow mass/admission scans are
    * corpus-linear. The oracle replays the ENTIRE composition from one
    * CTE chain — merge training, vocabulary, mixture rates, every
    * admission draw, greedy encoding, packing offsets, and the
    * per-sequence XOR — so one moved token coordinate anywhere
    * hash-fails its sequence row.
    */
  val q186CurationV8: QueryDef = QueryDef(
    "q186_curation_v8",
    (s, dir) => {
      import graft.operators.Bpe
      val docs = Tables.load(s, dir, "documents")
      val admitted = Curation.admitByMixture(docs, "source", "doc_id",
        "text", budget = MixtureBudget)
      val wf = Bpe.wordFreq(docs, "text").localCheckpoint()
      val ms = Bpe.trainMergesFromWordFreq(wf, nMerges = 6)
      val v = Bpe.vocab(ms)
      val ids = Bpe.encodeIds(admitted, "doc_id", "text", ms, v)
        .localCheckpoint()
      Curation.packTokenIds(ids, "doc_id", "token_ids", seqLen = 256,
          eosId = v.size.toLong)
        .select(col("shard"), col("seq_idx"), col("doc_id"),
          TextOps.hash60(concat_ws(":", col("pos_in_seq").cast("string"),
            col("token_id").cast("string"))).as("h"))
        .groupBy(col("shard"), col("seq_idx"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          expr("bit_xor(h)").as("checksum"))
        .orderBy(col("shard"), col("seq_idx"))
    }, {
      import graft.operators.Bpe
      Some(s"""
        WITH ${Bpe.trainOracleCtes("documents", "text", 6)},
        ${Bpe.vocabOracleCtes(6)},
        ${mixtureOracleCtes(MixtureBudget)},
        adm AS (SELECT t.doc_id FROM tm t JOIN rt r USING (source)
                WHERE $mixtureAdmittedSql),
        ${Bpe.encodeIdsOracleCtes(
          "(SELECT d.doc_id, d.text FROM documents d JOIN adm ON d.doc_id = adm.doc_id)",
          "doc_id", "text", 6)},
        idn AS (SELECT a.doc_id, COALESCE(c.n, 0) AS n
                FROM adm a
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
                    FROM ipo),
        pl AS (SELECT o.shard,
                      CAST((o.s + t.pos) // 256 AS BIGINT) AS seq_idx,
                      CAST((o.s + t.pos) % 256 AS BIGINT) AS pos_in_seq,
                      CAST(t.token_id AS BIGINT) AS token_id, t.doc_id
               FROM tokrows t JOIN ipo o USING (doc_id))
        SELECT shard, seq_idx,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               bit_xor(${TextOps.hash60Sql(
                 "concat(CAST(pos_in_seq AS VARCHAR), ':', CAST(token_id AS VARCHAR))")})
                 AS checksum
        FROM pl GROUP BY 1, 2 ORDER BY shard, seq_idx
      """)
    })

  /** The dataset card ([[graft.operators.TextAnalysis.datasetCard]]):
    * the per-source profile a release ships next to its q184 manifest.
    * The oracle replays every statistic — the exact windowed median
    * pick, the fixed-point quality mean, the lexicographic language
    * tie-break — so a drifted quantile rule or a moved tie hash-fails
    * its source row.
    */
  val q188DatasetCard: QueryDef = QueryDef(
    "q188_dataset_card",
    (s, dir) =>
      TextAnalysis.datasetCard(Tables.load(s, dir, "documents"),
          "source", "doc_id", "text")
        .orderBy(col("source")), {
      val toks = TextOps.tokensSql("text")
      val qScore = TextAnalysis.qualitySqls("text").toMap.apply("quality_score")
      Some(s"""
        WITH base AS (SELECT source, doc_id,
                             CAST(len($toks) AS BIGINT) AS n_toks,
                             ${TextAnalysis.languageIdSql("text")} AS lang,
                             CAST(round($qScore * 1000000.0, 0) AS BIGINT)
                               AS qs
                      FROM documents),
        r AS (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY n_toks, doc_id) AS rn,
                     COUNT(*) OVER (PARTITION BY source) AS cnt
              FROM base),
        a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n_toks) AS BIGINT) AS total_toks,
                     MAX(CASE WHEN rn = (cnt + 1) // 2
                              THEN n_toks END) AS p50_toks,
                     CAST(SUM(qs) AS BIGINT) AS qsum
              FROM r GROUP BY 1),
        l AS (SELECT source, lang AS top_lang,
                     CAST(n AS BIGINT) AS n_top_lang FROM (
                SELECT source, lang, COUNT(*) AS n,
                       ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY COUNT(*) DESC, lang) AS lr
                FROM base GROUP BY 1, 2) t WHERE lr = 1)
        SELECT a.source, a.n_docs, a.total_toks,
               CAST(a.total_toks // a.n_docs AS BIGINT) AS mean_toks,
               CAST(a.p50_toks AS BIGINT) AS p50_toks,
               l.top_lang, l.n_top_lang,
               (a.qsum // a.n_docs) / 1000000.0 AS mean_quality
        FROM a JOIN l USING (source)
        ORDER BY source
      """)
    })

  /** Mixture-manifest REPAIR lifecycle (the q156/q178 shape on the
    * mixture artifact): base payload ingested, snapshot appended, then
    * the injected failure — a blind retry replays the snapshot append,
    * silently doubling its documents' mass and moving EVERY source's
    * rate. `IndexLayout.mixture(stratum, key).audit` must
    * localize the damage as bit-identical copies,
    * `IndexLayout.mixture(stratum, key).compact` stage-and-swaps
    * the dedup, and the served manifest from the REPAIRED payload must
    * hash-equal the clean fresh derivation (the q179/q185 oracle
    * verbatim) — a missed duplicate or a dropped legitimate row moves
    * a rate and hash-fails.
    */
  val q192MixtureRepair: QueryDef = Scenario(
    "q192_mixture_repair", Scenario.Mixture, Split(3, 0), BlindRetry(),
    Some(mixtureManifestOracleSql))

  val all: Seq[QueryDef] =
    Seq(q109StratifiedSample, q110PiiRedaction, q111SplitLeakage,
      q112VocabTopK, q113TokenChunks, q116CurationE2e,
      q117RepetitionMetrics, q119Decontamination, q124WeightedMix,
      q127CurationV2, q130UnigramQuality, q131SeqPack, q135QualityMix,
      q150BigramQuality, q179TemperatureMixture, q181MixturePacked,
      q182MixtureDrift, q184ReleaseManifest, q185StreamingMixtureIngest,
      q186CurationV8, q187QualityPercentile, q188DatasetCard,
      q192MixtureRepair, q195QualityPercentileApprox)
}
