package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation primitives: deterministic sampling, hash-based
  * train/test splitting, and PII redaction.
  *
  * Everything here is HASH-deterministic, not RNG-based: `rand()`-style
  * sampling is irreproducible across retries/partitions and cannot be
  * oracle-checked, while `md5(key)` ordering gives the same sample on
  * every engine and every run. That is also the scale-correct design —
  * a re-run over 100 TB reproduces the sample exactly, so downstream
  * shards stay stable across pipeline restarts.
  *
  * Reference shape: Flink 1.11's DataSet sampling utilities
  * (flink-java/…/utils/DataSetUtils.java#sample) are RNG-based per
  * partition; the deterministic-hash reformulation is the retry-safe
  * equivalent for a curation pipeline.
  */
object Curation {

  /** Deterministic sample ORDER key: md5 of the row key (hex string).
    * Uniform over keys, stable across engines (Spark and DuckDB both
    * emit lowercase hex md5).
    */
  def sampleOrder(key: Column): Column = md5(key.cast("string"))

  /** Zero-shuffle deterministic Bernoulli sample flag: true for rows
    * whose md5 hex prefix is <= `maxHex`. One lowercase hex char ⇒
    * rate n/16 ('3' ⇒ 4/16 = 25%). A pure filter — at 100 TB this
    * subsamples at scan speed with no shuffle at all; use it when an
    * approximate rate is enough and exact-k is not required.
    */
  def bernoulliFlag(key: Column, maxHex: String): Column =
    substring(sampleOrder(key), 1, maxHex.length) <= maxHex

  /** Exact-k per-stratum sample: rank rows within each stratum by the
    * deterministic hash order and keep `rk <= k`. Costs ONE shuffle on
    * the stratum column (the window sort); at scale prefer
    * [[bernoulliFlag]] when strata are huge and k is proportional.
    * `rk` is emitted as BIGINT to match window-function output types
    * across engines.
    */
  def stratifiedTopK(df: DataFrame, stratumCol: String, idCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(sampleOrder(col(idCol)), col(idCol))
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Group-aware train/test split: every row whose `key` hashes to a
    * hex first char <= 'b' (12/16 = 75%) is 'train', else 'test'.
    * Splitting on a GROUP key (source domain, site, author) rather than
    * the row id is the leakage-safe design — near-duplicate documents
    * overwhelmingly share a source, so they land in the same split.
    */
  def hashSplit(key: Column): Column =
    when(substring(sampleOrder(key), 1, 1) <= "b", lit("train"))
      .otherwise(lit("test"))

  // ------------------------------------------------------------------
  // PII redaction
  // ------------------------------------------------------------------
  // Patterns are deliberately RE2-compatible (no lookbehind/backrefs) so
  // the DuckDB oracle runs the byte-identical regex. Replacement order
  // matters and is fixed: URLs first (they may embed '@' and digits),
  // then emails, then long digit runs.

  // Case-insensitive via explicit classes (NOT `(?i)`) so the exact same
  // bytes mean the same thing under java.util.regex and RE2:
  // `User@Example.COM` and `HTTPS://…` redact like their lowercase forms.
  val UrlRe: String = "[Hh][Tt][Tt][Pp][Ss]?://[^ ]+"
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumRe: String = "[0-9]{7,}"

  /** Redacted text: URLs → <URL>, emails → <EMAIL>, 7+ digit runs →
    * <NUM>. Pure codegen'd string expressions — no UDF, stays inside
    * WholeStageCodegen at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      LongNumRe, "<NUM>")

  /** Match count for one PII pattern (BIGINT). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  // ------------------------------------------------------------------
  // Vocabulary + chunking
  // ------------------------------------------------------------------

  /** Top-k tokens by frequency within each group (vocabulary builder).
    * explode → two-phase count (map-side partial agg absorbs the token
    * explosion before the shuffle) → windowed rank with pushed group
    * limit. Ties break lexicographically so the result is total-ordered.
    */
  def vocabTopK(df: DataFrame, groupCol: String, textCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col("tok"))
    df.select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(groupCol), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Benchmark decontamination: per corpus document, the count of
    * distinct word n-grams it shares with ANY benchmark document (and
    * how many benchmark docs it collides with) — the standard
    * eval-set-overlap pass run before training. The benchmark side is
    * small by definition → broadcast: the corpus never shuffles for
    * the probe, only the per-doc aggregation. Emits only contaminated
    * docs (n_hits >= 1); everything else passes clean.
    */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 5): DataFrame = {
    def sh(df: DataFrame): DataFrame = df
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(
          TextOps.shinglesFromToks(col("__toks"), shingleN))).as("s"))
    val bm = broadcast(
      sh(benchmark).select(col("doc_id").as("bench_id"), col("s")).distinct())
    sh(corpus).join(bm, "s")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_hits"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Overlapping token-window chunks: starts 1, 1+stride, … while
    * start <= len(tokens); each chunk is `chunkSize` tokens (the last
    * may be shorter). The pretraining preprocessing shape — one
    * explode per document, no shuffle, chunk index derived from the
    * start offset so output is deterministic without posexplode.
    * Emits (…, chunk_idx BIGINT, n_chunk_tokens BIGINT, chunk STRING).
    */
  /** Deterministic per-source mixing weights: replicate (rate > 1,
    * epoch upsampling) or subsample (rate < 1) each stratum to hit a
    * target mixture — the data-mixing step that turns per-source
    * corpora into a training blend (public semantics: the
    * domain-weight mixtures of Pile/LLaMA-style pretraining recipes).
    *
    * Every row gets `floor(rate)` copies plus one more iff its md5
    * 2-hex-char prefix clears the fractional-part threshold, so the
    * realized rate is `floor(rate) + round-down-to-1/256(frac)` —
    * exact in expectation at the 1/256 quantization, and REPRODUCIBLE:
    * the same key always makes the same draw, across runs and engines
    * (the [[bernoulliFlag]] contract, extended with integer copies).
    * Strata absent from `rates` get rate 0 and drop. Emits the input
    * columns plus `copy` (1..n BIGINT) so downstream shuffles can
    * spread replicas.
    *
    * Scale shape: a pure narrow map — the when-chain threshold lookup
    * is codegen'd, the replication is one `explode(sequence)`, no
    * shuffle at all. At 100 TB this re-weights at scan speed; the only
    * cost is the written output's size, which is the point of the
    * operator.
    */
  /** The per-stratum quantization behind [[weightedMix]]: base copy
    * count and the optional fractional-part 2-hex-char threshold
    * (None when the fractional part quantizes to 0). The SINGLE source
    * both the engine when-chain and the oracle SQL CASE twins derive
    * from — the bit-identical cross-engine contract lives here.
    */
  def mixThresholds(
      rates: Map[String, Double]): Seq[(String, Int, Option[String])] =
    rates.toSeq.sortBy(_._1).map { case (s, r) =>
      val frac = math.floor((r - math.floor(r)) * 256).toInt
      (s, math.floor(r).toInt,
        if (frac <= 0) None else Some(f"${frac - 1}%02x"))
    }

  /** Temperature-scaled mixture DERIVATION — the step [[weightedMix]]
    * assumes already happened: measure each source's token mass,
    * reweight it at temperature α = 1/2 (the T5/GPT-style
    * `p_s ∝ n_s^α` upweighting of small sources; α is PINNED at 1/2
    * because `sqrt` is IEEE correctly-rounded on every engine while a
    * general `pow` is not — the determinism contract decides the
    * knob), split a global token `budget` across sources by the
    * reweighted shares, and admit each document by the deterministic
    * hash draw `md5-60bit(key)/2⁶⁰ < rate_s` where
    * `rate_s = min(1, budget·q_s / (Σq · n_s))` with
    * `q_s = floor(sqrt(n_s)·10⁶)` — the fixed-point quantization
    * makes Σq an exact long in any aggregation order, and every
    * remaining product/division is a single double op on exact-valued
    * operands, so draws are bit-identical cross-engine (q179 gates
    * every per-document draw). Output: one row per document —
    * (stratumCol, keyCol, n_toks, rate, admitted); feed the admitted
    * set's realized rates to [[weightedMix]] for epoch-level
    * replication.
    *
    * Scale shape: ONE tokenize pass, materialized
    * (`localCheckpoint`) so the source-mass aggregation and the
    * admission pass share it; the rates frame is S rows (sources are
    * broadcast-class by construction) and broadcasts to a narrow
    * admission projection — the corpus shuffles only for the S-row
    * mass aggregation, partial-aggregated map-side. At 100 TB the
    * doubles in `budget·q_s` exceed 2⁵³ and round — identically on
    * both engines (same op order), so determinism holds even where
    * exactness does not.
    */
  def temperatureMixture(df: DataFrame, stratumCol: String, keyCol: String,
      textCol: String, budget: Long): DataFrame =
    // note: src_toks ≥ 1 for every present source — `tokens` yields at
    // least one element even for empty text — so the rate denominator
    // can never be 0 and no NaN reaches the least() clamp
    mixtureFromCounts(
      df.select(col(stratumCol), col(keyCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_toks")),
      stratumCol, keyCol, budget)

  /** The mixture derivation's arithmetic tail over an ALREADY-COUNTED
    * frame (stratumCol, keyCol, n_toks) — the part
    * [[temperatureMixture]] runs after its tokenize pass, and
    * [[mixtureServeIndex]] runs over a written token-count payload
    * (where the tokenize happened once, at ingest). Masses are exact
    * long sums, so ANY partitioning of the counts — one frame, a
    * day-2 union, or streamed generations — derives identical rates
    * and draws.
    */
  def mixtureFromCounts(counts: DataFrame, stratumCol: String,
      keyCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget " +
      "(a zero budget would silently admit nothing)")
    val toks = counts.select(col(stratumCol), col(keyCol),
        col("n_toks").cast("long").as("n_toks"))
      .localCheckpoint()
    toks.join(broadcast(mixtureRatesFromCounts(toks, stratumCol, budget)),
        stratumCol)
      .select(col(stratumCol), col(keyCol), col("n_toks"),
        round(col("rate"), 6).as("rate"),
        (mixtureDraw(col(keyCol)) < col("rate")).as("admitted"))
  }

  /** The S-row rate frame of the mixture derivation — the fixed-point
    * sqrt reweighting and budget split over a (stratumCol, …, n_toks)
    * frame. THE single arithmetic tree every mixture path shares
    * ([[mixtureFromCounts]], [[admitByMixture]]); the oracle replays
    * it CTE-for-CTE.
    */
  private def mixtureRatesFromCounts(counts: DataFrame,
      stratumCol: String, budget: Long): DataFrame = {
    val mass = counts.groupBy(col(stratumCol))
      .agg(sum(col("n_toks")).as("src_toks"))
      .withColumn("q", mixtureQ(col("src_toks")))
    mass
      .crossJoin(broadcast(mass.agg(sum(col("q")).as("qtot"))))
      .withColumn("rate",
        mixtureRate(col("q"), col("qtot"), col("src_toks"), budget))
      .select(col(stratumCol), col("rate"))
  }

  /** The fixed-point mass reweighting: `q = floor(sqrt(mass)·10⁶)` as
    * a long — exact-summable in any aggregation order.
    */
  private def mixtureQ(mass: Column): Column =
    floor(sqrt(mass.cast("double")) * lit(1000000.0)).cast("long")

  /** The clamped budget-split rate: `min(1, q·budget / (qtot·mass))`,
    * with the association order the oracles replay verbatim.
    */
  private def mixtureRate(q: Column, qtot: Column, mass: Column,
      budget: Long): Column =
    least(lit(1.0), (q.cast("double") * lit(budget.toDouble)) /
      (qtot.cast("double") * mass.cast("double")))

  /** The frozen per-key admission draw: `hash60(key) / 2⁶⁰` —
    * uniform in [0, 1), deterministic across runs and engines.
    */
  private def mixtureDraw(key: Column): Column =
    TextOps.hash60(key.cast("string")).cast("double") /
      lit(1152921504606846976.0)

  /** Admission as a FILTER that keeps the caller's columns (text
    * included): derive the S-row rates, broadcast them onto `df`, and
    * keep the rows whose frozen draw clears their source's rate — the
    * form a downstream stage (tokenizer encode, packing) consumes when
    * it needs the documents THEMSELVES, not the manifest.
    * [[temperatureMixture]] emits the decision table; this emits the
    * admitted corpus. Same rates, same draws — the q186 oracle replays
    * both stages from one CTE chain.
    *
    * Scale shape: TWO narrow corpus scans (the mass pass tokenizes to
    * counts; the admit pass re-reads rows with text) instead of
    * checkpointing the corpus WITH its text between passes — at
    * 100 TB, re-scanning columnar text beats materializing it, and
    * both passes are scan-bound with only the S-row mass shuffle.
    */
  def admitByMixture(df: DataFrame, stratumCol: String, keyCol: String,
      textCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget " +
      "(a zero budget would silently admit nothing)")
    val rates = mixtureRatesFromCounts(
      df.select(col(stratumCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_toks")),
      stratumCol, budget)
    df.join(broadcast(rates), stratumCol)
      .filter(mixtureDraw(col(keyCol)) < col("rate"))
      .drop("rate")
  }

  /** Appends one GENERATION of the written mixture-manifest payload:
    * per document, (stratumCol, keyCol, n_toks) — the tokenize pass
    * runs HERE, once, at ingest, and never again; serving
    * ([[mixtureServeIndex]]) re-derives rates from the stored counts
    * alone. Per the written-index layout rule, the payload carries
    * only PER-ITEM facts (a document's token count never moves when
    * the corpus grows); the corpus-movable source masses are summed at
    * serve time — and being exact long sums, they are additive across
    * any generation split, which is why batch boundaries provably
    * cannot move a rate or a draw (q185 gates the streamed ingest
    * against the fresh q179 derivation).
    *
    * NOT idempotent — the standard append contract: a replayed batch
    * doubles its documents' mass contributions and duplicates their
    * keys — a SILENT corpus-wide rate shift that
    * `IndexLayout.mixture(stratumCol, keyCol)` audits and compacts.
    */
  def mixtureAppendIndex(batch: DataFrame, path: String,
      stratumCol: String, keyCol: String, textCol: String): Unit =
    IndexLayout.mixture(stratumCol, keyCol).append(path,
      batch.select(col(stratumCol), col(keyCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_toks")))

  /** Serves the standing admission manifest from a written mixture
    * payload ([[mixtureAppendIndex]] generations): derive rates from
    * the summed stored counts and flag every stored document's frozen
    * draw — [[temperatureMixture]] minus the tokenize pass, which
    * already happened at ingest. Output and arithmetic are exactly the
    * fresh derivation's, so the q179 oracle gates this path verbatim.
    */
  def mixtureServeIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, stratumCol: String, keyCol: String,
      budget: Long): DataFrame =
    mixtureFromCounts(spark.read.parquet(IndexPaths.resolve(spark, path)),
      stratumCol, keyCol, budget)

  /** Day-2 of [[temperatureMixture]]: a snapshot lands, the per-source
    * token masses move, and — the budget being FIXED — every source's
    * admission rate dilutes or concentrates. This audit re-derives the
    * rates under base-only and base∪snapshot masses in ONE pass and
    * reports, per source, the rate movement and exactly how many
    * STANDING (base) documents flip admission — the set a downstream
    * training-manifest consumer must add or retire. The deterministic
    * hash draw is the whole point here: a document's draw never moves,
    * so admission flips are PURELY rate crossings, and re-deriving the
    * mixture is an incremental manifest diff instead of a resample.
    *
    * Rates replay [[temperatureMixture]]'s contract exactly (fixed-
    * point `q = floor(sqrt(n)·10⁶)`, same product/division tree), so
    * `rate_union` here ≡ the rate a fresh whole-union derivation
    * yields — q182 gates both sides of that equality plus every flip
    * count. `rate_base` is null for a source the base never saw (its
    * drift is trivially total → `drifted` pins true); flips count only
    * base documents, so a union-only source reports zero flips.
    *
    * Output, one row per union source:
    * (stratumCol, src_toks_base, src_toks_union, rate_base, rate_union,
    * n_base, n_flipped_in, n_flipped_out, drifted) — S rows total.
    *
    * Scale shape: ONE tokenize pass over base ∪ snapshot, materialized
    * (`localCheckpoint`) and shared by the mass aggregation and the
    * flip pass; both rate frames live on the same S-row aggregate; the
    * flip pass is the checkpointed frame joined to the broadcast S-row
    * rates and partial-aggregated map-side. At 100 TB: two corpus-wide
    * S-row aggregations riding one scan — the same cost class as the
    * derivation itself.
    */
  def mixtureDriftAudit(base: DataFrame, snapshot: DataFrame,
      stratumCol: String, keyCol: String, textCol: String,
      budget: Long, rateDrift: Double = 0.02): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    def toks(df: DataFrame, isBase: Boolean) =
      df.select(col(stratumCol), col(keyCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_toks"),
        lit(isBase).as("is_base"))
    val tm = toks(base, isBase = true)
      .unionByName(toks(snapshot, isBase = false))
      .localCheckpoint()
    // q over a zero base mass is floor(sqrt(0))=0 — contributes nothing
    // to qtot_base, exactly as if the source were absent from the base
    // derivation, so no guard is needed until the rate division
    val mass = tm.groupBy(col(stratumCol))
      .agg(
        sum(when(col("is_base"), col("n_toks")).otherwise(lit(0L)))
          .as("src_toks_base"),
        sum(col("n_toks")).as("src_toks_union"))
      .withColumn("q_base", mixtureQ(col("src_toks_base")))
      .withColumn("q_union", mixtureQ(col("src_toks_union")))
    val rates = mass
      .crossJoin(broadcast(mass.agg(
        sum(col("q_base")).as("qtb"), sum(col("q_union")).as("qtu"))))
      .withColumn("rate_base", when(col("src_toks_base") > 0,
        mixtureRate(col("q_base"), col("qtb"), col("src_toks_base"), budget)))
      .withColumn("rate_union",
        mixtureRate(col("q_union"), col("qtu"), col("src_toks_union"), budget))
      .select(col(stratumCol), col("src_toks_base"), col("src_toks_union"),
        col("rate_base"), col("rate_union"))
    // flips: base documents only — their draws are frozen, so a flip is
    // a pure rate crossing in one direction or the other
    val draw = mixtureDraw(col(keyCol))
    val flips = tm.filter(col("is_base"))
      .join(broadcast(rates.select(col(stratumCol), col("rate_base"),
        col("rate_union"))), stratumCol)
      .withColumn("adm_base", draw < col("rate_base"))
      .withColumn("adm_union", draw < col("rate_union"))
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_base"),
        count(when(!col("adm_base") && col("adm_union"), lit(1)))
          .as("n_flipped_in"),
        count(when(col("adm_base") && !col("adm_union"), lit(1)))
          .as("n_flipped_out"))
    rates.join(broadcast(flips), Seq(stratumCol), "left")
      .select(col(stratumCol), col("src_toks_base"), col("src_toks_union"),
        round(col("rate_base"), 6).as("rate_base"),
        round(col("rate_union"), 6).as("rate_union"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_flipped_in"), lit(0L)).as("n_flipped_in"),
        coalesce(col("n_flipped_out"), lit(0L)).as("n_flipped_out"),
        // a union-only source has no base rate: its mixture slot is
        // brand new, which IS the drift signal — pin true, not null
        coalesce(abs(col("rate_union") - col("rate_base")) > lit(rateDrift),
          lit(true)).as("drifted"))
  }

  /** Dataset RELEASE manifest: per shard, the document count, token
    * count, and an ORDER-FREE content checksum — `bit_xor` of
    * `hash60(key ∥ md5(normalized text))`. This is the artifact a
    * pipeline publishes with a dataset release: two replicas (or two
    * re-runs) hold the identical corpus iff their manifests are
    * row-equal, and a divergence localizes to its shard instead of
    * demanding a corpus diff. XOR makes the checksum both
    * aggregation-order-free (any plan, any partitioning — same value)
    * and COMPOSITIONAL: manifest(base) ⊕ manifest(delta) =
    * manifest(base ∪ delta) per shard ([[manifestMerge]]), so a day-2
    * append updates the release manifest from the delta alone — the
    * base corpus is never rescanned. q184 gates exactly that equality
    * against a fresh whole-union replay.
    *
    * Caveat (documented, by design): XOR cancels EVEN multiplicities
    * of an identical (key, content) row, but `n_docs` moves with any
    * cardinality change, so the pair (count, checksum) still detects
    * it; exact duplicate hunting is the dedup family's job, not the
    * manifest's.
    *
    * Scale shape: one narrow scan, group by a ≤16^shardHexChars-key
    * shard id with map-side partial count/sum/xor — the shuffle
    * carries one row per shard per task. At 100 TB this is scan-bound.
    */
  def releaseManifest(df: DataFrame, keyCol: String, textCol: String,
      shardHexChars: Int = 2): DataFrame = {
    require(shardHexChars >= 1 && shardHexChars <= 4,
      s"shardHexChars must be in [1, 4], got $shardHexChars")
    val key = col(keyCol).cast("string")
    df.select(
        substring(md5(key), 1, shardHexChars).as("shard"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_toks"),
        // coalesce: a NULL text must checksum deterministically as
        // (key, "") on BOTH engines — concat_ws would drop the null
        // fingerprint WITH its separator while DuckDB's concat keeps
        // chr(1), silently diverging replica manifests (ADVICE r15)
        TextOps.hash60(concat_ws("\u0001", key,
          coalesce(TextAnalysis.fingerprint(col(textCol)), lit(""))))
          .as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        expr("bit_xor(h)").as("checksum"))
  }

  /** Combine two [[releaseManifest]]s over DISJOINT corpora into the
    * union's manifest: counts add, checksums XOR — an S-row full-outer
    * join, so a day-2 append folds into the standing release manifest
    * at delta cost with zero base reads. Disjointness is the caller's
    * contract (the same append-exactly-once ownership as every index
    * append here); merging overlapping corpora double-counts exactly
    * like appending twice does.
    */
  def manifestMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val bb = b.select(col("shard"), col("n_docs").as("nd_b"),
      col("n_tokens").as("nt_b"), col("checksum").as("ck_b"))
    a.join(bb, Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("nd_b"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("n_tokens"), lit(0L)) + coalesce(col("nt_b"), lit(0L)))
          .as("n_tokens"),
        coalesce(col("checksum"), lit(0L))
          .bitwiseXOR(coalesce(col("ck_b"), lit(0L))).as("checksum"))
  }

  /** Replica verification: the shards where two manifests disagree —
    * empty iff the corpora are manifest-identical. Null-safe on every
    * field, so a shard present on one side only IS a difference.
    * Output: (shard, n_docs_a, n_docs_b, n_tokens_a, n_tokens_b,
    * checksum_a, checksum_b) — S rows at most, driver-safe to collect.
    */
  def manifestDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val aa = a.select(col("shard"), col("n_docs").as("n_docs_a"),
      col("n_tokens").as("n_tokens_a"), col("checksum").as("checksum_a"))
    val bb = b.select(col("shard"), col("n_docs").as("n_docs_b"),
      col("n_tokens").as("n_tokens_b"), col("checksum").as("checksum_b"))
    aa.join(bb, Seq("shard"), "full_outer")
      .filter(!(col("n_docs_a") <=> col("n_docs_b")) ||
        !(col("n_tokens_a") <=> col("n_tokens_b")) ||
        !(col("checksum_a") <=> col("checksum_b")))
      .select(col("shard"), col("n_docs_a"), col("n_docs_b"),
        col("n_tokens_a"), col("n_tokens_b"),
        col("checksum_a"), col("checksum_b"))
  }

  def weightedMix(df: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 64),
      "rates must be in [0, 64]")
    val stratum = col(stratumCol)
    val thresholds = mixThresholds(rates)
    def chain(f: ((String, Int, Option[String])) => Option[Column]): Column =
      thresholds.foldLeft(lit(null).cast("string")) {
        case (acc, t) =>
          f(t).map(v => when(stratum === lit(t._1), v).otherwise(acc))
            .getOrElse(acc)
      }
    val base = chain { case (_, b, _) => Some(lit(b.toString)) }
      .cast("int")
    val fracThr = chain { case (_, _, thr) => thr.map(lit(_)) }
    val extra = when(
      fracThr.isNotNull &&
        substring(sampleOrder(col(keyCol)), 1, 2) <= fracThr,
      lit(1)).otherwise(lit(0))
    // filter BEFORE sequence: sequence(1, 0) would infer step -1 and
    // emit [1, 0] instead of nothing
    df.withColumn("__n", coalesce(base, lit(0)) + extra)
      .filter(col("__n") > 0)
      .withColumn("copy", explode(sequence(lit(1L), col("__n").cast("long"))))
      .drop("__n")
  }

  def tokenChunks(df: DataFrame, textCol: String, chunkSize: Int,
      stride: Int): DataFrame = {
    require(stride > 0 && chunkSize > 0)
    df.withColumn("__toks", TextOps.tokens(col(textCol)))
      .withColumn("__start",
        explode(sequence(lit(1), greatest(size(col("__toks")), lit(1)), lit(stride))))
      .withColumn("chunk_idx", expr(s"CAST((__start - 1) div $stride AS BIGINT)"))
      .withColumn("__piece", slice(col("__toks"), col("__start"), lit(chunkSize)))
      .withColumn("n_chunk_tokens", size(col("__piece")).cast("long"))
      .withColumn("chunk", concat_ws(" ", col("__piece")))
      .drop("__toks", "__start", "__piece")
  }

  /** Concat-and-cut sequence packing: the GPT-style pretraining step
    * that concatenates documents (one EOS token between them) into a
    * token stream and cuts it every `seqLen` tokens. Emits one row per
    * (document, training sequence it overlaps): `(idCol, shard STRING,
    * seq_idx BIGINT, n_toks_in_seq BIGINT)` — n_toks_in_seq counts the
    * document's own tokens inside the sequence (the EOS separators pad
    * the stream but are nobody's tokens). A document larger than
    * seqLen spans several sequences; per-doc sums of n_toks_in_seq
    * always equal its token count.
    *
    * Distribution: a single global stream would serialize the packing,
    * so the corpus is sharded by the first `shardHexChars` hex chars
    * of md5(id) — 16^w independent streams, each packed by one
    * running-sum window in md5-then-id order (deterministic across
    * runs, engines, and input partitioning; same cross-engine md5
    * contract as [[bernoulliFlag]]). This is how distributed packers
    * actually run: each worker packs its shard. One hash shuffle on
    * shard, then a sorted window and a bounded explode — no join, no
    * second corpus pass. Offsets are integer-`div` longs, not doubles,
    * so the math stays exact past 2^53 stream positions (a 100 TB
    * shard is ~10^13 tokens).
    *
    * PARALLELISM CEILING (explicit): the shard width is a hard cap on
    * packing parallelism AND a per-shard data bound — at the default
    * width 2 that is 256 streams, ~400 GB/shard at 100 TB: correct
    * (the window sort spills) but slow. Size `shardHexChars` so
    * corpus/16^w fits a comfortable executor share: width 3 = 4096
    * shards (~25 GB each at 100 TB), width 4 = 65536. Changing the
    * width changes shard membership and hence sequence numbering —
    * it is a layout parameter, fixed per corpus, not a tuning knob to
    * flip between runs of the same dataset.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, shardHexChars: Int = 2): DataFrame =
    packSequencesByCount(
      df.withColumn("__nc", size(TextOps.tokens(col(textCol))).cast("long")),
      idCol, "__nc", seqLen, shardHexChars)

  /** [[packSequences]] over a PRECOMPUTED per-document token count —
    * the composition point a real pipeline uses: the packer's budget
    * is the TOKENIZER's count (e.g. [[Bpe.encodeTokenCounts]]'s
    * n_bpe), not the whitespace count, and the counts frame is
    * usually already in hand from the token-accounting pass. Same
    * shard/offset arithmetic, same output shape; `nCol` must be a
    * POSITIVE integral count — the engine's tokenize passes never
    * emit zero-count documents (a doc with no tokens has no row), and
    * a literal 0 would hit `sequence(hi, lo)`'s descending branch.
    */
  def packSequencesByCount(df: DataFrame, idCol: String, nCol: String,
      seqLen: Int, shardHexChars: Int = 2): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(shardHexChars >= 1 && shardHexChars <= 8,
      s"shardHexChars must be in [1, 8], got $shardHexChars")
    packOffsets(df.withColumn("__n", col(nCol).cast("long")),
        idCol, shardHexChars)
      .withColumn("seq_idx", explode(sequence(
        expr(s"__start div $seqLen"),
        expr(s"(__start + __n - 1) div $seqLen"))))
      .withColumn("n_toks_in_seq",
        least(col("__start") + col("__n"), (col("seq_idx") + lit(1L)) * seqLen)
          - greatest(col("__start"), col("seq_idx") * lit(seqLen.toLong)))
      .select(col(idCol), col("shard"), col("seq_idx").cast("long").as("seq_idx"),
        col("n_toks_in_seq").cast("long").as("n_toks_in_seq"))
  }

  /** The DuckDB twin of [[packSequencesByCount]] at the default 2-hex
    * shard, as the tail of a WITH clause over `rel`'s (doc_id, `nCol`)
    * rows: CTEs pt → po → pe, then the placement rows in
    * (shard, seq_idx, doc_id) order.
    */
  def packSequencesByCountSql(rel: String, nCol: String, seqLen: Int): String =
    s"""pt AS (SELECT doc_id,
                    md5(CAST(doc_id AS VARCHAR)) AS key,
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
                    $nCol AS n
             FROM $rel),
      po AS (SELECT doc_id, shard, n,
                    CAST(SUM(n + 1) OVER (PARTITION BY shard ORDER BY key, doc_id)
                      - (n + 1) AS BIGINT) AS s
             FROM pt),
      pe AS (SELECT doc_id, shard, s, n,
                    unnest(generate_series(s // $seqLen, (s + n - 1) // $seqLen)) AS seq_idx
             FROM po)
      SELECT doc_id, shard, CAST(seq_idx AS BIGINT) AS seq_idx,
             CAST(least(s + n, (seq_idx + 1) * $seqLen)
                  - greatest(s, seq_idx * $seqLen) AS BIGINT) AS n_toks_in_seq
      FROM pe
      ORDER BY shard, seq_idx, doc_id"""

  /** The shared packing-offset window: expects a `__n` long column;
    * adds `shard` and `__start` (this doc's slot start — tokens + one
    * EOS — in its shard stream, md5-then-id order). Extracted so
    * [[packSequencesByCount]] (span coordinates) and [[packTokenIds]]
    * (materialized content) can never disagree on placement.
    */
  private def packOffsets(df: DataFrame, idCol: String,
      shardHexChars: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    df.withColumn("__key", md5(col(idCol).cast("string")))
      .withColumn("shard", substring(col("__key"), 1, shardHexChars))
      // exclusive end of this doc's slot (tokens + its EOS) in the shard stream
      .withColumn("__end", sum(col("__n") + lit(1L)).over(w))
      .withColumn("__start", col("__end") - (col("__n") + lit(1L)))
  }

  /** Packed sequences MATERIALIZED — the literal training artifact:
    * every token id of every document placed at its (shard, seq_idx,
    * pos_in_seq) coordinate, with one `eosId` slot closing each
    * document (GPT-style concat-and-cut; callers pass the vocabulary
    * size as the EOS id — the first id no real subword uses).
    * [[packSequencesByCount]] answers "which sequences does this doc
    * overlap"; this emits the sequences' CONTENT, which is what the
    * data loader reads. Input is an `idsCol` ARRAY<LONG> frame
    * ([[Bpe.encodeIds]]'s shape); empty documents emit only their EOS.
    *
    * 100 TB posture: one shard-keyed window for offsets (the
    * [[packSequences]] parallelism notes apply verbatim), then a
    * narrow posexplode — output rows = total tokens, the artifact's
    * intrinsic size; nothing joins, nothing re-reads the corpus.
    */
  def packTokenIds(ids: DataFrame, idCol: String, idsCol: String,
      seqLen: Int, eosId: Long, shardHexChars: Int = 2): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(shardHexChars >= 1 && shardHexChars <= 8,
      s"shardHexChars must be in [1, 8], got $shardHexChars")
    val offs = packOffsets(
        ids.withColumn("__n", size(col(idsCol)).cast("long")),
        idCol, shardHexChars)
      .select(col(idCol), col("shard"), col("__start"), col("__n"),
        col(idsCol))
    val tok = offs
      .select(col(idCol), col("shard"), col("__start"),
        posexplode(col(idsCol)).as(Seq("__i", "token_id")))
      .select(col(idCol), col("shard"), col("__start"),
        col("__i").cast("long").as("__i"), col("token_id"))
    val eos = offs.select(col(idCol), col("shard"), col("__start"),
      col("__n").as("__i"), lit(eosId).as("token_id"))
    tok.unionByName(eos)
      .withColumn("__gpos", col("__start") + col("__i"))
      .select(col("shard"),
        expr(s"__gpos div $seqLen").cast("long").as("seq_idx"),
        (col("__gpos") % seqLen).cast("long").as("pos_in_seq"),
        col("token_id"), col(idCol))
  }
}
