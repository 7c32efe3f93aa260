package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT-SUBSTRING dedup at ARBITRARY offsets — the full Lee et al.
  * 2021 ("Deduplicating Training Data Makes Language Models Better",
  * public) contract that the fixed-block member ([[Dedup
  * .blockWriteIndex]], q123/q172) approximates: report every MAXIMAL
  * repeated substring of length ≥ `minLen` normalized chars between
  * two documents, wherever it starts — the cross-document spliced
  * boilerplate, licence blocks, and quoted passages that block
  * hashing misses whenever the copy is not block-aligned.
  *
  * Design (Spark-first, not a literal suffix array): Lee et al. build
  * one suffix array over the concatenated corpus — a sequential
  * O(corpus) structure with no natural partition. The SAME output
  * contract decomposes into dataflow as sliding-window fingerprints
  * plus a diagonal run-merge, all codegen built-ins:
  *
  *  1. WINDOWS: every `minLen`-char window of the normalized text,
  *     keyed by `md5(window)` — stride 1, so two documents share a
  *     substring of length ≥ minLen IFF they share a window key at
  *     some offset (md5 collisions are the usual fingerprint caveat).
  *  2. POSTINGS: group windows by key — the inverted-index shape the
  *     [[Dedup]] pair family uses, with the same posting-size cap (a
  *     corpus-wide boilerplate window would otherwise pair
  *     quadratically; a capped key under-reports, never fabricates).
  *  3. DIAGONALS: a shared window at (pos_a, pos_b) lies on diagonal
  *     d = pos_a − pos_b; CONSECUTIVE positions on one (a, b, d)
  *     diagonal are the same repeated substring extended char by
  *     char, so maximal repeats fall out of a gaps-and-islands pass:
  *     run length = (max − min consecutive pos) + minLen.
  *
  * Scale shape: the window pass emits one row per normalized char —
  * the honest O(corpus) cost of exact-substring detection (the suffix
  * array pays the same); everything after is keyed on window hashes
  * (pair volume tracks true repeats, capped against boilerplate) and
  * the run-merge windows partition by (doc_a, doc_b, diagonal) — pair-
  * local, never corpus-wide. At 100 TB, mine candidates with the
  * winnowing index (sampled fingerprints, ~2/w of this row volume)
  * and reserve this operator for the matched cohort; within one
  * corpus pass it is exact, which winnowing's sampling is not.
  *
  * Cross-engine exactness: both engines hash CHAR slices of the SAME
  * normalized string ([[TextOps.normalize]] minus spaces — the
  * winnowing normalization), and `substring` is char-based in both,
  * so the oracle replays byte-for-byte even on non-ASCII text.
  */
object SubstringDedup {

  /** (doc_id, pos, h): every minLen-char window's fingerprint. One
    * narrow projection + explode; documents shorter than minLen emit
    * nothing (they cannot contain a qualifying repeat).
    */
  def substringWindows(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    // fan out BEFORE the per-char explode: one input row becomes one
    // output row per char, so scan-partitioning (sized by input bytes)
    // under-parallelizes the md5 pass by that factor (guide §2.5)
    Parallelism.fanOut(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("__t")), "doc_id")
      .select(col("doc_id"),
        regexp_replace(TextOps.normalize(col("__t")), " ", "").as("norm"))
      .filter(length(col("norm")) >= minLen)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          (length(col("norm")) - lit(minLen)).cast("long"))).as("pos"),
        col("norm"))
      .select(col("doc_id"), col("pos"),
        md5(expr(s"substring(norm, pos + 1, $minLen)")).as("h"))
  }

  /** Maximal cross-document repeated substrings of length ≥ minLen:
    * (doc_a, doc_b, pos_a, pos_b, len) — one row per maximal run,
    * positions 0-based into the NORMALIZED text, `len` in normalized
    * chars. Same-document repeats are out of contract (the curation
    * decision this feeds is cross-document dedup); pairs are
    * doc_a < doc_b. Posting lists longer than `maxPostingSize` are
    * dropped whole (the family's boilerplate cap — under-reports,
    * never fabricates; runs THROUGH a capped window key split into
    * two shorter reported runs at worst). The default cap is 200 —
    * far below the sampled-fingerprint families' 10000 — because
    * stride-1 windows make posting lists HOT: pair emission is
    * Σ|posting|² and a minLen-char string appearing in hundreds of
    * documents is template boilerplate, not a meaningful pair witness
    * (measured on the 10× fixture: cap 200 bounds the join at ~1.6e8
    * rows where cap 10000 admits ~3.8e9 — a 20× super-linear cliff).
    */
  def substringPairs(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, maxPostingSize: Int = 200): DataFrame =
    pairsFromWindows(substringWindows(df, idCol, textCol, minLen),
      minLen, maxPostingSize)

  /** The pair + diagonal-merge tail shared by the ad-hoc and indexed
    * paths. `windows` is (doc_id, pos, h).
    */
  private[graft] def pairsFromWindows(windows: DataFrame, minLen: Int,
      maxPostingSize: Int): DataFrame = {
    val capW = Window.partitionBy(col("h"))
    val capped = windows
      .withColumn("posting_n", count(lit(1)).over(capW))
      .filter(col("posting_n") <= maxPostingSize)
      .drop("posting_n")
    // endpoint filter AT THE JOIN (r21): when the caller rode a
    // `__delta` flag on the window rows ([[substringPairsIndexed]]),
    // only pairs with a flagged endpoint are joined — the run-merge
    // windows are pair-local, so dropping whole (base, base) pairs here
    // is exact. Without the flag (fresh [[substringPairs]]) the
    // predicate is absent.
    val endpointPred =
      if (windows.columns.contains("__delta"))
        col("x.__delta") || col("y.__delta")
      else lit(true)
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id") && endpointPred)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.pos").as("pa"), col("y.pos").as("pb"),
        (col("x.pos") - col("y.pos")).as("d"))
    // gaps-and-islands on each (a, b, d) diagonal: consecutive pa
    // values are one repeat extended char by char
    val runW = Window.partitionBy(col("doc_a"), col("doc_b"), col("d"))
      .orderBy(col("pa"))
    pairs
      .withColumn("brk",
        when(col("pa") - lag(col("pa"), 1).over(runW) === 1L, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("run", sum(col("brk")).over(
        runW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("d"), col("run"))
      .agg(min(col("pa")).as("pos_a"), min(col("pb")).as("pos_b"),
        (max(col("pa")) - min(col("pa")) + lit(minLen.toLong)).as("len"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"),
        col("len"))
  }

  /** Materializes the window-fingerprint POSTINGS index — the
    * arbitrary-offset member of the written pair-index family (the
    * [[Dedup.winnowWriteIndex]] contract at stride 1): `postings/` =
    * (doc_id, pos, h) partitioned by `shard` = the fingerprint's
    * first 2 hex chars (the family's 256-way convention).
    * Every column is a per-document fact, so the layout is
    * append-stable; day-2 deltas land via [[substringAppendIndex]]
    * with zero base reads.
    */
  def substringWriteIndex(df: DataFrame, path: String, idCol: String,
      textCol: String, minLen: Int): Unit =
    IndexLayout.Substring.write(df, path, None,
      substringWindows(df, idCol, textCol, minLen))

  /** Appends a NEW-DOCUMENT snapshot's window postings — delta-sized,
    * zero base reads; the usual new-ids / exactly-once contract (a
    * replayed append duplicates posting rows: pairs survive the
    * distinct-free diagonal merge DOUBLED toward the cap — audit with
    * the family's grouped-count idiom and rebuild the delta).
    */
  def substringAppendIndex(df: DataFrame, path: String, idCol: String,
      textCol: String, minLen: Int): Unit =
    IndexLayout.Substring.append(path,
      substringWindows(df, idCol, textCol, minLen))

  /** Incremental [[substringPairs]] of a new snapshot against
    * (base ∪ snapshot), served from a written layout that already
    * holds the snapshot's postings — the [[Dedup.winnowPairsIndexed]]
    * probe shape at stride 1: the [[IndexLayout.probe]] by the
    * snapshot's own window hashes prunes pair emission to matched
    * posting lists, and the diagonal merge runs on the surviving pairs
    * only. Output = the fresh whole-corpus run restricted to pairs with
    * a snapshot endpoint.
    */
  def substringPairsIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaDocs: DataFrame, idCol: String, textCol: String,
      minLen: Int, maxPostingSize: Int = 200): DataFrame = {
    // ONE delta-sized window pass WITH doc_id, materialized by the
    // probe (guide §1.2): it feeds the probe and the snapshot-id flag.
    // Window-bearing ids are exact: a delta doc shorter than minLen
    // posts nothing and can never be a pair endpoint.
    val (qsets, probe) = IndexLayout.Substring.probe(spark, path,
      substringWindows(deltaDocs, idCol, textCol, minLen)
        .select(col("doc_id"), col("h")).distinct(), "h")
    // ride the snapshot-endpoint flag: pairsFromWindows keeps only the
    // pairs with a snapshot endpoint
    val flagged = Dedup.flagDelta(probe, qsets)
      .select(col("doc_id"), col("pos"), col("h"), col("__delta"))
    pairsFromWindows(flagged, minLen, maxPostingSize)
  }
}
