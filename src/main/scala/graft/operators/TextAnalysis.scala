package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: n-gram-heuristic
  * language ID, quality scoring, token counting, and document
  * fingerprinting. All single-pass narrow transformations (one projection
  * over the corpus — no shuffle at all until the caller aggregates), so
  * they stream through a 100 TB corpus at scan speed.
  */
object TextAnalysis {

  import TextOps._

  /** Tiny per-language stopword inventories (public lists, truncated to
    * high-frequency forms). Deterministic heuristic, not a model.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "avec"))

  /** Count of token occurrences (not distinct) that appear in `words`.
    * Native codegen expression ([[graft.functions.CountInSet]]): one
    * hash probe per token against a plan-constant word set — the
    * `size(filter(toks, …))` HOF it replaces paid |words| interpreted
    * lambda equalities per token (languageId runs this once per
    * registered language per document). Identical counting semantics.
    * Built directly as a Catalyst node (not resolved by name through
    * the session registry), so these operators stay self-contained on
    * any SparkSession — no `ensureRegistered` precondition (ADVICE
    * r15).
    */
  private def hits(toks: Column, words: Seq[String]): Column =
    graft.functions.TextExpressions.countInSet(toks, words)

  private def hitsSql(toks: String, words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($toks, t -> list_contains($set, t)))"
  }

  /** Language-ID: argmax of per-language stopword occurrence counts.
    * Ties resolve to the FIRST registered language achieving the max
    * (registration order above); only all-zero scores return 'und'.
    * The SQL twin implements the identical rule.
    */
  def languageId(text: Column): Column = {
    val toks = tokens(text)
    val scored = stopwords.map { case (lang, words) => (lang, hits(toks, words)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (alphabetical registration order) achieving the max
    scored.reverse.foldLeft(lit("und")) { case (acc, (lang, score)) =>
      when(best > 0 && score === best, lit(lang)).otherwise(acc)
    }
  }

  def languageIdSql(text: String): String = {
    val toks = tokensSql(text)
    val scores = stopwords.map { case (lang, words) => (lang, hitsSql(toks, words)) }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    scores.reverse.foldLeft("'und'") { case (acc, (lang, score)) =>
      s"(CASE WHEN $best > 0 AND $score = $best THEN '$lang' ELSE $acc END)"
    }
  }

  /** Whitespace token count of the raw text. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  def wsTokenCountSql(text: String): String =
    s"len(string_split_regex(trim($text), '\\s+'))"

  /** BPE-ish subword count: alphabetic runs split into <=4-char pieces,
    * digit runs, and isolated symbols — a cheap deterministic stand-in
    * for a real tokenizer's piece count.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .cast("long")

  def bpeishTokenCountSql(text: String): String =
    s"len(regexp_extract_all(lower($text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]'))"

  /** Quality metrics + a single score in [0,1]:
    * length_score  = min(n_tokens/100, 1)
    * alpha_ratio   = alphanumeric-or-space chars / chars
    * stop_ratio    = min(stopword hits (any lang) / tokens * 5, 1)
    * mean_tok_len  sweet spot around 3..10 chars → len_ok indicator
    * score = 0.4*length + 0.3*alpha + 0.2*stop + 0.1*len_ok
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nChars = length(text).cast("double")
    val alnum = length(regexp_replace(lower(text), "[^a-z0-9 ]", "")).cast("double")
    val allStops = stopwords.flatMap(_._2)
    // native codegen twins of the HOF folds they replace: exact-integer
    // hit counts and length sums, so the double arithmetic downstream
    // is bit-identical to the interpreted composition's
    val stopHits = hits(toks, allStops).cast("double")
    val meanLen =
      graft.functions.TextExpressions.sumStrlen(toks).cast("double") / nTok
    val lengthScore = least(nTok / 100.0, lit(1.0))
    val alphaRatio = alnum / nChars
    val stopRatio = least(stopHits / nTok * 5.0, lit(1.0))
    val lenOk = when(meanLen >= 3.0 && meanLen <= 10.0, 1.0).otherwise(0.0)
    Seq(
      "n_tokens" -> size(toks).cast("long"),
      "mean_tok_len" -> round(meanLen, 6),
      "alpha_ratio" -> round(alphaRatio, 6),
      "stop_ratio" -> round(stopRatio, 6),
      "quality_score" -> round(
        lengthScore * 0.4 + alphaRatio * 0.3 + stopRatio * 0.2 + lenOk * 0.1, 6))
  }

  def qualitySqls(text: String): Seq[(String, String)] = {
    val toks = tokensSql(text)
    val allStops = stopwords.flatMap(_._2)
    val nTok = s"CAST(len($toks) AS DOUBLE)"
    val alnum = s"CAST(length(regexp_replace(lower($text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)"
    val stopHits = s"CAST(${hitsSql(toks, allStops)} AS DOUBLE)"
    val meanLen = s"(list_sum(list_transform($toks, t -> CAST(length(t) AS DOUBLE))) / $nTok)"
    val lengthScore = s"least($nTok / 100.0, 1.0)"
    val alphaRatio = s"($alnum / CAST(length($text) AS DOUBLE))"
    val stopRatio = s"least($stopHits / $nTok * 5.0, 1.0)"
    val lenOk = s"(CASE WHEN $meanLen >= 3.0 AND $meanLen <= 10.0 THEN 1.0 ELSE 0.0 END)"
    Seq(
      "n_tokens" -> s"len($toks)",
      "mean_tok_len" -> s"round($meanLen, 6)",
      "alpha_ratio" -> s"round($alphaRatio, 6)",
      "stop_ratio" -> s"round($stopRatio, 6)",
      "quality_score" -> s"round($lengthScore * 0.4 + $alphaRatio * 0.3 + $stopRatio * 0.2 + $lenOk * 0.1, 6)")
  }

  /** The DATASET CARD: the per-source profile a release ships next to
    * its manifest — document count, token mass, mean and EXACT median
    * token count, the argmax language with its count, and the
    * fixed-point mean quality score. Every statistic is
    * engine-reproducible: the median is the windowed pick at row
    * `(n+1) div 2` of the total-ordered (n_toks, doc_id) key (never an
    * interpolating `median()`, whose tie/interpolation rules differ
    * across engines); the quality mean quantizes each score to a
    * 1e-6-scaled long BEFORE summing (aggregation-order-free) and
    * divides with integer floor; the top language breaks count ties
    * lexicographically. q188 gates all of it per source.
    *
    * Scale shape: ONE narrow scan computes per-doc facts,
    * materialized (`localCheckpoint`) and shared by the rank window,
    * the source aggregation, and the language mode; the windows and
    * groupings are all stratum-keyed (one shuffle class), outputs are
    * S rows. The exact-median window sort is the honest form at gate
    * scale; at 100 TB swap the pick for `approx_percentile` per
    * stratum — the same production knob as the percentile gate.
    */
  def datasetCard(df: DataFrame, stratumCol: String, idCol: String,
      textCol: String): DataFrame = {
    val q = qualityColumns(col(textCol)).toMap
    val base = df.select(col(stratumCol), col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_toks"),
        languageId(col(textCol)).as("lang"),
        round(q("quality_score") * lit(1000000.0), 0).cast("long").as("qs"))
      .localCheckpoint()
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
    val ranked = base
      .withColumn("rn",
        row_number().over(wSrc.orderBy(col("n_toks"), col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(wSrc))
      .withColumn("mid", expr("(cnt + 1) div 2"))
    val agg = ranked.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_toks"),
        max(when(col("rn") === col("mid"), col("n_toks"))).as("p50_toks"),
        sum(col("qs")).as("qsum"))
    val topLang = base.groupBy(col(stratumCol), col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lr", row_number().over(
        wSrc.orderBy(col("n").desc, col("lang"))))
      .filter(col("lr") === 1)
      .select(col(stratumCol), col("lang").as("top_lang"),
        col("n").as("n_top_lang"))
    agg.join(broadcast(topLang), stratumCol)
      .select(col(stratumCol), col("n_docs"), col("total_toks"),
        expr("total_toks div n_docs").as("mean_toks"), col("p50_toks"),
        col("top_lang"), col("n_top_lang"),
        (expr("qsum div n_docs") / lit(1000000.0)).as("mean_quality"))
  }

  /** Content fingerprint: md5 of the normalized text (stable across
    * whitespace/punctuation variants), plus a 32-bit rolling-style hash.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  def fingerprintSql(text: String): String = s"md5(${normalizeSql(text)})"

  /** Gopher-style repetition signals (Rae et al. '21 §A1.1): the
    * duplicate 3-gram fraction (1 - distinct/total) and the
    * top-token frequency fraction (mode count / token count). High
    * values flag boilerplate/spam for the quality gate. dup3 is a
    * narrow projection; the top-token mode needs a per-(doc, token)
    * count → two-phase aggregation with map-side combine, so the
    * shuffled volume is per-doc vocabularies, not the corpus.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__sh", shinglesFromToks(col("__toks"), 3))
      .select(col(idCol).as("doc_id"),
        size(col("__toks")).cast("long").as("n_toks"),
        when(size(col("__sh")) > 0,
          round(lit(1.0) - size(array_distinct(col("__sh"))).cast("double")
            / size(col("__sh")).cast("double"), 6))
          .otherwise(lit(0.0)).as("dup3_frac"),
        col("__toks"))
    val top = base
      .select(col("doc_id"), explode(col("__toks")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("c")).cast("double") / sum(col("c")).cast("double"), 6)
        .as("top_frac"))
    base.drop("__toks")
      .join(top, Seq("doc_id"), "left")
      .withColumn("top_frac", coalesce(col("top_frac"), lit(0.0)))
  }

  /** DuckDB twin of [[repetitionMetrics]] — a full SELECT over
    * `documents`, ordered by doc_id.
    */
  def repetitionMetricsSql(idCol: String, textCol: String): String = s"""
    WITH t AS (SELECT $idCol AS doc_id, ${tokensSql(textCol)} AS t FROM documents),
    s3 AS (SELECT doc_id, t, ${shinglesSql("t", 3)} AS sh FROM t),
    base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
                    CASE WHEN len(sh) > 0
                         THEN round(1.0 - len(list_distinct(sh)) * 1.0 / len(sh), 6)
                         ELSE 0.0 END AS dup3_frac
             FROM s3),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM t),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok
            WHERE tok <> '' GROUP BY 1, 2),
    top AS (SELECT doc_id, round(MAX(c) * 1.0 / SUM(c), 6) AS top_frac
            FROM cnt GROUP BY doc_id)
    SELECT b.doc_id, b.n_toks, b.dup3_frac,
           coalesce(top.top_frac, 0.0) AS top_frac
    FROM base b LEFT JOIN top USING (doc_id)
    ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // TF-IDF keyword extraction
  // ------------------------------------------------------------------

  /** Top-k keywords per document by TF-IDF (tf × ln(N / (1 + df)) —
    * the smoothed textbook form): the classic corpus-statistics
    * featurization between raw text and retrieval/clustering stages.
    * Emits (doc_id, tok, tf, df, tfidf, rk) with rk 1..k, ranked by the
    * ROUNDED score then token so cross-engine float ties break
    * identically.
    *
    * Scale shape: ONE corpus pass. (doc, token) term counts
    * partial-aggregate before their shuffle (map-side combine bounds
    * the exchange by the partition's distinct terms, not its length);
    * document frequency is a COUNT window over that same relation
    * partitioned by token — tf is (doc, tok)-distinct, so the window
    * count IS df, replacing the naive second corpus scan + vocabulary
    * join (measured: the self-join form re-scanned and re-exploded the
    * whole corpus — double work at 100 TB, plus a join a viral-token
    * skew can stall); N is a one-row aggregate broadcast into the plan
    * (no driver round-trip); the final top-k window partitions by doc
    * with Spark's rank-limit pushdown (WindowGroupLimit) bounding the
    * sort.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(nDocs))
      .withColumn("df", count(lit(1)).over(wTok))
      .withColumn("tfidf", round(
        col("tf") * log(col("n_docs").cast("double") / (lit(1.0) + col("df"))),
        6))
      .withColumn("rk", row_number().over(wDoc).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
  }

  // ------------------------------------------------------------------
  // Unigram-LM quality filter (CCNet-style)
  // ------------------------------------------------------------------

  /** CCNet-style quality scoring: train a unigram LM on the corpus
    * itself and score each document by its per-token negative
    * log-likelihood (the unigram stand-in for CCNet's KenLM
    * perplexity — public recipe, Wenzek et al. 2020). High NLL =
    * surprising token mix = likely boilerplate/garbage; `kept` flags
    * docs at or under `nllThreshold`.
    *
    * Cross-engine determinism: a document's NLL is a sum of `ln(p)`
    * doubles, which is order-dependent — so each token's log-prob is
    * quantized to `floor(10⁶·ln(cnt/total))` (a long; no rounding
    * ties) and the longs sum exactly in any order. The displayed NLL
    * divides back and rounds to the repo-wide 6 digits.
    *
    * Scale shape mirrors [[tfidfTopK]]: ONE corpus pass — (doc, tok)
    * term counts partial-aggregate before their shuffle; the global
    * token count is a SUM window over that relation partitioned by
    * token (no vocabulary join for a viral token to skew); the corpus
    * total is a one-row aggregate broadcast into the plan.
    */
  def unigramNll(df: DataFrame, idCol: String, textCol: String,
      nllThreshold: Double): DataFrame =
    unigramNllScores(df, idCol, textCol)
      .select(col("doc_id"), col("n_tok"), col("nll"),
        (col("nll") <= lit(nllThreshold)).as("kept"))

  /** The scoring core of [[unigramNll]] without a threshold decision:
    * (doc_id, n_tok, nll) — shared by the fixed-threshold gate (q130)
    * and the distribution-adaptive percentile gate
    * ([[qualityPercentileGate]], q187), so the fixed-point NLL
    * arithmetic lives once.
    */
  def unigramNllScores(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
    val tf = df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).as("total_toks"))
    tf.withColumn("cnt", sum(col("tf")).over(wTok))
      .crossJoin(broadcast(total))
      .withColumn("lpf",
        floor(log(col("cnt").cast("double") / col("total_toks")) * lit(1000000.0)))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("lpf")).as("s"), sum(col("tf")).as("n_tok"))
      .withColumn("nll", round(-col("s") / (lit(1000000.0) * col("n_tok")), 6))
      .select(col("doc_id"), col("n_tok"), col("nll"))
  }

  /** DISTRIBUTION-ADAPTIVE quality gate (the CCNet-style cut, where
    * q130/q135 use FIXED thresholds): per stratum, keep the best
    * `keepFrac` of documents by unigram NLL — the threshold is
    * wherever the stratum's score distribution puts it, so a uniformly
    * noisy source still surrenders its worst tail and a uniformly
    * clean one isn't over-cut. Ranking is `cume_dist` over
    * (nll ASC, doc_id) — the composite key is total-ordered, so ranks
    * (and therefore keeps) are deterministic under ties, and
    * cume_dist has no single-row 0/0 edge. Output: one row per
    * document (stratumCol, doc_id, n_tok, nll, q_rank, kept);
    * `kept = cume_dist <= keepFrac` on the UNROUNDED rank.
    *
    * Scale shape: the NLL pass is q130's (one tokenize + vocabulary-
    * keyed aggregation); the rank adds one doc-id-keyed join of two
    * slim frames and one per-stratum window sort. At 100 TB the exact
    * window is the honest gate-scale form; substituting an
    * `approx_percentile`-derived per-stratum threshold (S rows,
    * broadcast back) trades exactness for removing the window sort —
    * the documented production knob.
    */
  def qualityPercentileGate(df: DataFrame, idCol: String,
      textCol: String, stratumCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col("nll"), col("doc_id"))
    df.select(col(stratumCol), col(idCol).as("doc_id"))
      .join(unigramNllScores(df, idCol, textCol), "doc_id")
      .withColumn("cd", cume_dist().over(w))
      .select(col(stratumCol), col("doc_id"), col("n_tok"), col("nll"),
        round(col("cd"), 6).as("q_rank"),
        (col("cd") <= lit(keepFrac)).as("kept"))
  }

  /** The PRODUCTION form of [[qualityPercentileGate]] — the knob its
    * scaladoc names: per-stratum thresholds derived with
    * `percentile_approx` (an S-row aggregate, broadcast back) instead
    * of the per-stratum `cume_dist` window, so NO source ever pays a
    * total sort of its documents. Admission is VALUE-based:
    * `kept = nll <= thr` where `thr` is the stratum's keepFrac-quantile
    * of nll — every document tied at the threshold value is kept
    * (the exact gate tie-breaks by doc_id instead; that is the one
    * stated semantic difference).
    *
    * Exactness contract, stated precisely: Spark's
    * `percentile_approx(nll, p, accuracy)` is the Greenwald-Khanna
    * sketch with rank error ≤ n/accuracy — EXACT whenever the stratum
    * holds fewer than `accuracy` documents (the sketch never
    * compresses), which covers every gate fixture here (q195
    * hash-gates it against the exact order-statistic oracle), and at
    * 100 TB bounds the admitted-fraction error per source by
    * 1/accuracy at O(accuracy) memory per group. The scored frame is
    * materialized once (localCheckpoint — the q132/q146 derived-frame
    * rule) since the threshold aggregate and the admission join both
    * read it.
    */
  def qualityPercentileGateApprox(df: DataFrame, idCol: String,
      textCol: String, stratumCol: String, keepFrac: Double,
      accuracy: Int = 10000): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    require(accuracy >= 100,
      s"accuracy must be >= 100 (rank error is n/accuracy), got $accuracy")
    val scored = df.select(col(stratumCol), col(idCol).as("doc_id"))
      .join(unigramNllScores(df, idCol, textCol), "doc_id")
      .localCheckpoint()
    val thr = scored.groupBy(col(stratumCol))
      .agg(percentile_approx(col("nll"), lit(keepFrac), lit(accuracy))
        .as("thr"))
    scored.join(broadcast(thr), Seq(stratumCol))
      .select(col(stratumCol), col("doc_id"), col("n_tok"), col("nll"),
        round(col("thr"), 6).as("thr"),
        (col("nll") <= col("thr")).as("kept"))
  }

  /** Per-document bigram negative log-likelihood against an add-one-
    * smoothed bigram LM trained on the corpus itself — the n-gram
    * upgrade of [[unigramNll]] (CCNet's quality signal is a 5-gram LM;
    * the bigram order keeps the oracle replay exact while exercising
    * the full conditional-LM shape: context counts, smoothing,
    * per-position scoring):
    * `p(w2|w1) = (c(w1,w2) + 1) / (cl(w1) + V)` with `cl(w1)` = w1's
    * bigram-context occurrence count and `V` = the vocabulary observed
    * in bigram positions (tokens occurring only as a document's lone
    * token are absent — they never enter any conditional). Log-probs
    * quantize to 1e-6-scaled longs BEFORE the per-document sum, so the
    * result is aggregation-order-independent and engine-exact. Only
    * documents with at least one bigram (>= 2 tokens) appear.
    *
    * 100 TB posture: ONE corpus tokenize+bigram explode, aggregated to
    * the (doc, w1, w2) frame and MATERIALIZED (localCheckpoint — the
    * BM25 inverted-index pattern): corpus bigram counts, context
    * counts, and the scoring join all read it back instead of
    * re-exploding the corpus. Model joins are keyed on (w1,w2)/(w1) —
    * bigram-vocabulary-sized shuffles; the 1-row V rides a broadcast.
    */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
      nllThreshold: Double): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val btf = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("btf"))
      .localCheckpoint()
    val cb = btf.groupBy(col("w1"), col("w2")).agg(sum(col("btf")).as("cb"))
    val cl = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cl"))
    val v = btf.select(col("w1").as("tok"))
      .union(btf.select(col("w2").as("tok")))
      .agg(count_distinct(col("tok")).as("v"))
    btf.join(cb, Seq("w1", "w2")).join(cl, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("lpf", floor(
        log((col("cb") + lit(1.0)) / (col("cl") + col("v"))) *
          lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("btf") * col("lpf")).as("s"), sum(col("btf")).as("n_big"))
      .withColumn("nll", round(-col("s") / (lit(1000000.0) * col("n_big")), 6))
      .select(col("doc_id"), col("n_big"), col("nll"),
        (col("nll") <= lit(nllThreshold)).as("kept"))
  }

  /** DuckDB twin of [[bigramNll]] as a WITH-clause body (no trailing
    * SELECT): defines `bnll` = (doc_id, n_big, nll, kept) over
    * relation `rel`, so callers append their own tail (q150 formats
    * the score table; q152 filters survivors). Same smoothing
    * arithmetic, same fixed-point quantization, same bigram-position
    * vocabulary as the Spark side.
    */
  def bigramNllCtesSql(rel: String, idCol: String, textCol: String,
      nllThreshold: Double): String =
    s"""
      t AS (SELECT $idCol AS doc_id, ${TextOps.tokensSql(textCol)} AS toks
            FROM $rel),
      bi AS (SELECT doc_id, toks[j] AS w1, toks[j + 1] AS w2
             FROM (SELECT doc_id, toks,
                          unnest(generate_series(1, len(toks) - 1)) AS j
                   FROM t WHERE len(toks) >= 2) x),
      btf AS (SELECT doc_id, w1, w2, COUNT(*) AS btf FROM bi GROUP BY 1, 2, 3),
      cb AS (SELECT w1, w2, SUM(btf) AS cb FROM btf GROUP BY 1, 2),
      cl AS (SELECT w1, SUM(cb) AS cl FROM cb GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS v
            FROM (SELECT w1 AS tok FROM btf
                  UNION ALL SELECT w2 AS tok FROM btf) u),
      sc AS (SELECT b.doc_id, b.btf,
                    CAST(FLOOR(ln((c.cb + 1.0) / (l.cl + vv.v))
                               * 1000000.0) AS BIGINT) AS lpf
             FROM btf b
             JOIN cb c ON b.w1 = c.w1 AND b.w2 = c.w2
             JOIN cl l ON b.w1 = l.w1
             CROSS JOIN v vv),
      bagg AS (SELECT doc_id, SUM(btf * lpf) AS s, SUM(btf) AS n_big
               FROM sc GROUP BY 1),
      bnll AS (SELECT doc_id, CAST(n_big AS BIGINT) AS n_big,
                      round(-(s) / (1000000.0 * n_big), 6) AS nll,
                      (round(-(s) / (1000000.0 * n_big), 6) <= $nllThreshold) AS kept
               FROM bagg)"""

  /** Full-statement twin of [[bigramNll]] (q150's oracle). */
  def bigramNllSql(table: String, idCol: String, textCol: String,
      nllThreshold: Double): String =
    s"""
      WITH ${bigramNllCtesSql(table, idCol, textCol, nllThreshold)}
      SELECT doc_id, n_big, nll, kept
      FROM bnll
      ORDER BY doc_id"""

  /** [[bigramNll]] split into its STANDING-PIPELINE form: the model —
    * bigram counts `cb`, context counts `cl`, bigram-position
    * vocabulary `V`, all from `train` — scores a DIFFERENT frame. This
    * is how the CCNet-style filter actually deploys (Wenzek et al.
    * 2020 train the LM on a reference corpus and score every new
    * CommonCrawl snapshot with it): q150's self-scoring is the
    * calibration run, this is the ingest path. Smoothing covers the
    * open vocabulary a new snapshot brings: an unseen (w1,w2) scores
    * `(0+1)/(cl(w1)+V)` and an unseen context scores `1/V` — the
    * add-one estimator evaluated at zero counts, via left joins
    * coalesced to 0 (model membership must not gate scoring rows).
    * Quantization and output contract are exactly [[bigramNll]]'s;
    * only `score` docs with ≥ 2 tokens appear.
    *
    * PRECONDITION: `train` must contain at least one bigram (some doc
    * with ≥ 2 tokens). An empty model makes V = 0, and a score bigram
    * with an unseen context would then divide by zero — ln(∞) — which
    * the two engines do not overflow identically. Every caller trains
    * on a real corpus slice; a standing pipeline should treat an
    * empty model file as a build failure, not score with it.
    *
    * 100 TB posture: ONE bigram explode per frame; the model frames
    * are bigram-vocabulary-sized, joined keyed on (w1,w2)/(w1); V
    * rides a broadcast 1-row frame. Nothing rescans either corpus.
    */
  def bigramNllApply(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String, nllThreshold: Double): DataFrame = {
    val cb = docBigrams(train, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(sum(col("btf")).as("cb"))
      .localCheckpoint()
    scoreAgainstBigramModel(cb, score, idCol, textCol, nllThreshold)
  }

  /** Per-document (doc_id, w1, w2, btf) bigram counts — the shared
    * explode of [[bigramNll]]/[[bigramNllApply]].
    */
  private def docBigrams(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("btf"))

  /** The [[bigramNllApply]] scoring tail against a MATERIALIZED model
    * frame `cb` = (w1, w2, cb) — context counts and the vocabulary
    * derive from it (both bigram-vocabulary-sized aggregates), so the
    * written-model path ([[bigramNllFromModel]]) and the in-session
    * path share every arithmetic step.
    */
  private def scoreAgainstBigramModel(cb: DataFrame, score: DataFrame,
      idCol: String, textCol: String, nllThreshold: Double): DataFrame = {
    val cl = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cl"))
    val v = cb.select(col("w1").as("tok"))
      .union(cb.select(col("w2").as("tok")))
      .agg(count_distinct(col("tok")).as("v"))
    docBigrams(score, idCol, textCol)
      .join(cb, Seq("w1", "w2"), "left")
      .join(cl, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("lpf", floor(
        log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cl"), lit(0L)) + col("v"))) *
          lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("btf") * col("lpf")).as("s"), sum(col("btf")).as("n_big"))
      .withColumn("nll", round(-col("s") / (lit(1000000.0) * col("n_big")), 6))
      .select(col("doc_id"), col("n_big"), col("nll"),
        (col("nll") <= lit(nllThreshold)).as("kept"))
  }

  /** Writes a trained bigram LM as a WRITTEN artifact — the quality
    * filter's entry in the written-artifact family (tokenizer
    * [[graft.operators.Bpe.writeTokenizer]], the index layouts): one
    * table, `cb/` = (w1, w2, cb), the sufficient statistic of the
    * add-one-smoothed model ([[bigramNllApply]]'s context counts and
    * vocabulary both derive from it, so persisting more would just
    * denormalize). Bigram-vocabulary-sized — orders of magnitude
    * smaller than any corpus; a standing pipeline trains it once on
    * the reference corpus and scores every snapshot from the file.
    */
  def bigramWriteModel(train: DataFrame, path: String,
      idCol: String, textCol: String): Unit =
    docBigrams(train, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(sum(col("btf")).as("cb"))
      .write.mode("overwrite").parquet(s"$path/cb")

  /** [[bigramNllApply]] from a WRITTEN model: read `cb/`, score the
    * frame — the day-2 ingest path; the training corpus is never
    * rescanned. q166 gates it hash-equal to the in-session replay.
    */
  def bigramNllFromModel(spark: org.apache.spark.sql.SparkSession,
      path: String, score: DataFrame,
      idCol: String, textCol: String, nllThreshold: Double): DataFrame =
    scoreAgainstBigramModel(
      spark.read.parquet(s"$path/cb").localCheckpoint(),
      score, idCol, textCol, nllThreshold)

  /** Drift audit of a WRITTEN bigram model ([[bigramWriteModel]])
    * against a new snapshot — the model's staleness signal, the
    * lexical-model member of the audit family (`bm25IndexStats`' df
    * drift, `IndexLayout.ivfPq(idCol).audit`): per source, how much of the
    * snapshot's bigram mass the model has never seen. `unseen_big`
    * counts occurrences whose (w1,w2) is absent from the model (they
    * score through smoothing — fine in isolation, but a RATE trending
    * up means the corpus moved and NLL scores are drifting toward the
    * 1/(cl+V) floor); `unseen_ctx` counts occurrences whose CONTEXT
    * w1 the model never saw at all (the stronger signal — these score
    * the flat 1/V). A standing pipeline retrains the model when these
    * rates cross its threshold; the audit itself is one snapshot
    * bigram pass + two model-sized left joins, never a base-corpus
    * read.
    */
  def bigramModelAudit(spark: org.apache.spark.sql.SparkSession,
      path: String, score: DataFrame,
      idCol: String, textCol: String, sourceCol: String): DataFrame = {
    val cb = spark.read.parquet(s"$path/cb").localCheckpoint()
    val cl = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cl"))
    score
      .filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("source"),
        TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("btf"))
      .join(cb.select(col("w1"), col("w2"), lit(1).as("in_cb")),
        Seq("w1", "w2"), "left")
      .join(cl.select(col("w1"), lit(1).as("in_cl")), Seq("w1"), "left")
      .groupBy(col("source"))
      .agg(sum(col("btf")).as("n_big"),
        sum(when(col("in_cb").isNull, col("btf")).otherwise(lit(0L)))
          .as("unseen_big"),
        sum(when(col("in_cl").isNull, col("btf")).otherwise(lit(0L)))
          .as("unseen_ctx"))
      .select(col("source"), col("n_big"), col("unseen_big"),
        round(col("unseen_big") * lit(1.0) / col("n_big"), 6)
          .as("unseen_big_rate"),
        col("unseen_ctx"),
        round(col("unseen_ctx") * lit(1.0) / col("n_big"), 6)
          .as("unseen_ctx_rate"))
  }

  /** DuckDB twin of [[bigramModelAudit]]: full statement over
    * `trainRel` (the model's training corpus — the audit never reads
    * it at serve time, but the oracle rebuilds cb from it) and
    * `scoreRel`, ordered by source.
    */
  def bigramModelAuditSql(trainRel: String, scoreRel: String,
      idCol: String, textCol: String, sourceCol: String): String =
    s"""
      WITH tat AS (SELECT $idCol AS doc_id, ${TextOps.tokensSql(textCol)} AS toks
              FROM $trainRel),
      tabi AS (SELECT doc_id, toks[j] AS w1, toks[j + 1] AS w2
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, len(toks) - 1)) AS j
                     FROM tat WHERE len(toks) >= 2) x),
      tacb AS (SELECT w1, w2, COUNT(*) AS cb FROM tabi GROUP BY 1, 2),
      tacl AS (SELECT w1, SUM(cb) AS cl FROM tacb GROUP BY 1),
      sat AS (SELECT $sourceCol AS source, ${TextOps.tokensSql(textCol)} AS toks
              FROM $scoreRel WHERE $sourceCol IS NOT NULL),
      sabi AS (SELECT source, toks[j] AS w1, toks[j + 1] AS w2
               FROM (SELECT source, toks,
                            unnest(generate_series(1, len(toks) - 1)) AS j
                     FROM sat WHERE len(toks) >= 2) x),
      sabtf AS (SELECT source, w1, w2, COUNT(*) AS btf
                FROM sabi GROUP BY 1, 2, 3),
      saj AS (SELECT b.source, b.btf,
                     (c.w1 IS NULL) AS no_cb, (l.w1 IS NULL) AS no_cl
              FROM sabtf b
              LEFT JOIN tacb c ON b.w1 = c.w1 AND b.w2 = c.w2
              LEFT JOIN tacl l ON b.w1 = l.w1),
      sagg AS (SELECT source, SUM(btf) AS n_big,
                      SUM(CASE WHEN no_cb THEN btf ELSE 0 END) AS unseen_big,
                      SUM(CASE WHEN no_cl THEN btf ELSE 0 END) AS unseen_ctx
               FROM saj GROUP BY 1)
      SELECT source, CAST(n_big AS BIGINT) AS n_big,
             CAST(unseen_big AS BIGINT) AS unseen_big,
             round(unseen_big * 1.0 / n_big, 6) AS unseen_big_rate,
             CAST(unseen_ctx AS BIGINT) AS unseen_ctx,
             round(unseen_ctx * 1.0 / n_big, 6) AS unseen_ctx_rate
      FROM sagg
      ORDER BY source"""

  /** DuckDB twin of [[bigramNllApply]] as a WITH-clause body: defines
    * `bnlla` = (doc_id, n_big, nll, kept) scoring `scoreRel` against
    * the model trained on `trainRel`. Same left-join + COALESCE-to-0
    * smoothing evaluation, same fixed-point quantization.
    */
  def bigramNllApplyCtesSql(trainRel: String, scoreRel: String,
      idCol: String, textCol: String, nllThreshold: Double): String =
    s"""
      tat AS (SELECT $idCol AS doc_id, ${TextOps.tokensSql(textCol)} AS toks
              FROM $trainRel),
      tabi AS (SELECT doc_id, toks[j] AS w1, toks[j + 1] AS w2
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, len(toks) - 1)) AS j
                     FROM tat WHERE len(toks) >= 2) x),
      tacb AS (SELECT w1, w2, COUNT(*) AS cb FROM tabi GROUP BY 1, 2),
      tacl AS (SELECT w1, SUM(cb) AS cl FROM tacb GROUP BY 1),
      tav AS (SELECT COUNT(DISTINCT tok) AS v
              FROM (SELECT w1 AS tok FROM tacb
                    UNION ALL SELECT w2 AS tok FROM tacb) u),
      sat AS (SELECT $idCol AS doc_id, ${TextOps.tokensSql(textCol)} AS toks
              FROM $scoreRel),
      sabi AS (SELECT doc_id, toks[j] AS w1, toks[j + 1] AS w2
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, len(toks) - 1)) AS j
                     FROM sat WHERE len(toks) >= 2) x),
      sabtf AS (SELECT doc_id, w1, w2, COUNT(*) AS btf
                FROM sabi GROUP BY 1, 2, 3),
      sasc AS (SELECT b.doc_id, b.btf,
                      CAST(FLOOR(ln((COALESCE(c.cb, 0) + 1.0) /
                                    (COALESCE(l.cl, 0) + vv.v))
                                 * 1000000.0) AS BIGINT) AS lpf
               FROM sabtf b
               LEFT JOIN tacb c ON b.w1 = c.w1 AND b.w2 = c.w2
               LEFT JOIN tacl l ON b.w1 = l.w1
               CROSS JOIN tav vv),
      saagg AS (SELECT doc_id, SUM(btf * lpf) AS s, SUM(btf) AS n_big
                FROM sasc GROUP BY 1),
      bnlla AS (SELECT doc_id, CAST(n_big AS BIGINT) AS n_big,
                       round(-(s) / (1000000.0 * n_big), 6) AS nll,
                       (round(-(s) / (1000000.0 * n_big), 6) <= $nllThreshold) AS kept
                FROM saagg)"""

  /** Top-k adjacent character pairs over the corpus's normalized words
    * — the FIRST MERGE iteration of a BPE tokenizer trainer (Sennrich
    * et al. 2016, "Neural Machine Translation of Rare Words with
    * Subword Units" — public): BPE training is rounds of "count all
    * adjacent symbol pairs, merge the most frequent", and this is that
    * count at the character stage, the tokenizer-prep pass a training
    * pipeline runs over its own corpus. Words come from
    * [[TextOps.tokens]] (the repo-wide normalize+split convention, so
    * the oracle twin shares the text arithmetic); pairs are
    * `substr(word, i, 2)` for i in 1..len−1.
    *
    * 100 TB posture: the pair explode is corpus-linear and narrow on
    * the scan; the pair alphabet is BOUNDED by construction ([a-z0-9]²
    * = 1,296 keys after normalization), so the groupBy partial-
    * aggregates to ≤1,296 rows per map partition before a trivial
    * shuffle, and the final global rank orders ≤1,296 rows — the
    * unpartitioned window is over the pair VOCABULARY, never the
    * corpus. Deterministic tie-break (cnt desc, pair asc).
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("pair"))
    df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** DuckDB twin of [[bpePairCounts]] (same normalization, same
    * substr pairing, same tie-break).
    */
  def bpePairCountsSql(table: String, textCol: String, k: Int): String =
    s"""
      WITH toks AS (SELECT unnest(${TextOps.tokensSql(textCol)}) AS tok
                    FROM $table),
      p AS (SELECT substr(tok, CAST(i AS INT), 2) AS pair
            FROM (SELECT tok, unnest(generate_series(1, len(tok) - 1)) AS i
                  FROM toks WHERE len(tok) >= 2) t),
      c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1)
      SELECT pair, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS BIGINT) AS rk
      FROM (SELECT pair, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rk
            FROM c) z
      WHERE rk <= $k
      ORDER BY rk
    """
}
