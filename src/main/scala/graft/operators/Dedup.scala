package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operator family for large-scale training-data
  * pipelines: exact (hash), MinHash+LSH, SimHash, and blocked n-gram
  * Jaccard. All operators are pure DataFrame transformations — no
  * driver-side collection — and are designed for the 1000-executor case:
  *
  *  - shingling/explode is a narrow map; the only shuffles are the
  *    per-document signature aggregation (keyed by doc id) and the LSH
  *    band-bucket self-join (keyed by band hash);
  *  - candidate verification joins compact signature arrays (bounded by
  *    document length), never the raw text;
  *  - band-bucket skew (a viral duplicate cluster) is the classic risk:
  *    buckets are capped via `maxBucketSize` before pairing, which bounds
  *    the quadratic blowup per bucket (pairs within an over-cap bucket
  *    are still found by the other bands with high probability).
  *
  * Reference semantics: Flink 1.11 itself ships only keyed
  * `DataStream#keyBy`+dedup and `ROW_NUMBER()=1` dedup
  * (flink-table-runtime-blink RT/deduplicate — SURVEY.md §2.6); the
  * MinHash/SimHash family is the north-star training-pipeline superset
  * (BASELINE.json), with public-paper semantics (Broder '97 MinHash,
  * Charikar '02 SimHash).
  */
object Dedup {

  import TextOps._

  /** THE bucket-local incremental pair-emission idiom, shared by the
    * minhash-LSH, inverted-index-jaccard, and hyperplane-LSH candidate
    * generators (it previously existed as three hand-synced copies;
    * the r6 self-pair guard had to be patched in triplicate — this is
    * the single source now).
    *
    * From `df` keyed by `keys`: (1) a spillable WINDOW count caps each
    * group at `maxGroupSize` — a viral group (boilerplate shingle,
    * degenerate LSH bucket) is counted and dropped without ever
    * materializing in memory; (2) survivors collect into ONE bounded
    * sorted list per group (≤ maxGroupSize items — window and groupBy
    * share the key partitioning, so one exchange total); (3) pairs are
    * emitted INCREMENTALLY — posexplode each sorted left endpoint
    * against its tail slice — so the largest single-row buffer is the
    * O(cap) item list, never the O(cap²) pair array. The strict
    * `aName < bName` filter is the self-pair guard: tail-slice pairing
    * is positional, so duplicate items in a group would otherwise emit
    * (x, x).
    *
    * `capCol` names the count column (kept distinct per caller — plan
    * pins match on it); `carry` lists key columns to keep on the
    * output rows; `dedupPairs` collapses multi-group collisions (LSH
    * bands) and must stay false when pair multiplicity IS the signal
    * (inverted-index intersection counts).
    */
  private[operators] def emitSortedPairs(
      df: DataFrame, keys: Seq[String], item: Column,
      capCol: String, maxGroupSize: Int,
      aName: String, bName: String,
      carry: Seq[String] = Nil, dedupPairs: Boolean): DataFrame = {
    val keyCols = keys.map(col)
    val paired = df
      .withColumn(capCol, count(lit(1)).over(Window.partitionBy(keyCols: _*)))
      .filter(col(capCol) > 1 && col(capCol) <= maxGroupSize)
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(item)).as("ds"))
      .select(carry.map(col) :+ posexplode(col("ds")).as(Seq("i", aName))
        :+ col("ds"): _*)
      .select(carry.map(col) :+ col(aName)
        :+ explode(expr("slice(ds, i + 2, size(ds))")).as(bName): _*)
      .filter(col(aName) < col(bName))
    if (dedupPairs) paired.distinct() else paired
  }

  /** `probe` rows flagged `__delta` iff their doc_id is one of the
    * `delta` rows' (the probe's materialized keys; their distinct ids
    * broadcast). The incremental probes keep a pair iff
    * `a.__delta || b.__delta` AT EMISSION, which is exactly "an
    * endpoint is in the delta": no later endpoint filter is needed.
    */
  private[operators] def flagDelta(probe: DataFrame,
      delta: DataFrame): DataFrame =
    probe
      .join(broadcast(delta.select(col("doc_id")).distinct()
          .withColumn("__delta", lit(true))),
        Seq("doc_id"), "left")
      .withColumn("__delta", coalesce(col("__delta"), lit(false)))

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** One row per distinct normalized-text fingerprint: the kept (minimum)
    * id, the cluster size, and the fingerprint. Standard exact-dedup via
    * hash-groupBy; scales as one shuffle on the fingerprint.
    */
  def exactClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), md5(normalize(col(textCol))).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("kept_id"), count(lit(1)).as("cluster_size"))

  /** Exact dedup's WRITTEN index: `fingerprints/` (doc_id,
    * fingerprint) PARTITIONED BY the fingerprint's own first 2 hex
    * chars (md5 output is uniform — the fingerprint IS its shard key,
    * no second hash needed). The trivial end of the incremental-dedup
    * family ([[minhashWriteIndex]] is the near-dup end): a standing
    * pipeline checks each new snapshot for exact duplicates against
    * everything ever indexed by probing ~|snapshot shards|/256 of the
    * layout.
    */
  def exactWriteIndex(df: DataFrame, path: String,
      idCol: String, textCol: String): Unit =
    IndexLayout.Exact.write(df, path, None, fingerprintRows(df, idCol, textCol))

  /** Appends a NEW-DOCUMENT snapshot's fingerprints — delta-sized,
    * zero base reads; the usual new-ids / exactly-once append
    * contract (a replayed append inflates cluster_size counts, which
    * `IndexLayout.Exact.audit` localizes).
    */
  def exactAppendIndex(df: DataFrame, path: String,
      idCol: String, textCol: String): Unit =
    IndexLayout.Exact.append(path, fingerprintRows(df, idCol, textCol))

  private def fingerprintRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // fan out before the per-doc normalize+md5 (guide §2.5): a small-
    // file corpus otherwise hashes serially in the scan stage
    Parallelism.fanOut(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("__t")), "doc_id")
      .select(col("doc_id"), md5(normalize(col("__t"))).as("fingerprint"))

  /** Incremental [[exactClusters]] of a new snapshot against an
    * [[exactWriteIndex]] layout that already contains it: every
    * cluster with AT LEAST ONE snapshot member, with the stats the
    * fresh whole-corpus run would report (kept = global min id,
    * cluster_size = full membership). One delta-sized fingerprint
    * pass, the [[IndexLayout.probe]] by the snapshot's fingerprints
    * BEFORE the aggregation, one keyed agg. q160 gates equality with
    * the fresh run restricted to snapshot-touched fingerprints.
    */
  def exactClustersIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val deltaFp = deltaDocs
      .select(md5(normalize(col(textCol))).as("fingerprint"))
    IndexLayout.Exact.probe(spark, path, deltaFp, "fingerprint")._2
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("kept_id"), count(lit(1)).as("cluster_size"))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Per-document sorted distinct shingle-hash sets, with an optional
    * blocking column: (blk, doc_id, hs, n).
    *
    * Computed in a typed `mapPartitions` (single pass: normalize →
    * tokenize → shingle → md5-hash → sorted distinct) rather than as a
    * Column expression tree. The declarative form is an optimizer trap
    * at scale: filters that Catalyst INFERS above it (isnotnull/size from
    * a downstream Generate or join) are predicate-pushed through the
    * projection, substituting the whole shingle expression — in its
    * worst-case inlined form, re-evaluating normalize+split per array
    * element — into per-row interpreted Filters (measured 170x slower at
    * sf0.1). The object barrier is opaque to those rewrites, and the
    * fused JVM loop is itself ~10x cheaper than the interpreted
    * higher-order functions. Still a narrow map — no shuffle, and rows
    * carry only the compact hash set (never raw text) downstream.
    */
  private def shingleSets(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      blockCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // fan out before the per-shingle hashing (guide §2.5): cost is
    // shingles × md5, the scan stage is sized by input bytes
    val src = Parallelism.fanOut(df.select(
      blockCol.map(c => col(c).cast("string")).getOrElse(lit("")).as("blk"),
      col(idCol).cast("long").as("doc_id"),
      col(textCol).cast("string").as("text")), "doc_id")
    src.as[(String, Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (blk, id, text) =>
          (blk, id, shingleHashSet(md, text, shingleN))
        }
      }
      .toDF("blk", "doc_id", "hs")
      .withColumn("n", size(col("hs")))
  }

  /** Per-document MinHash signature columns mh0..mh{n-1} over distinct
    * word-`shingleN`-gram shingles. Entirely per-row inside one typed
    * `mapPartitions` (min over the hashed shingle set under each hash
    * function) — zero shuffles; docs with no shingles (fewer than
    * shingleN tokens) are dropped, matching the grouped-aggregation
    * formulation.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int): DataFrame = {
    val params = hashParams(numHashes).toArray
    val spark = df.sparkSession
    import spark.implicits._
    // NO fan-out here (unlike the other fingerprint passes): PlanSpec
    // pins a zero-shuffle scan→signature contract for q31, and the
    // sf0.1 A/B measured noise-level difference; at production scale
    // the scan is wide and a fan-out would be a no-op anyway
    df.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val hs = shingleHashSet(md, text, shingleN)
          if (hs.isEmpty) Iterator.empty
          else {
            val mh = Array.fill(params.length)(Long.MaxValue)
            var j = 0
            while (j < hs.length) {
              val hm = hs(j) % HashP
              var i = 0
              while (i < params.length) {
                val v = (params(i)._1 * hm + params(i)._2) % HashP
                if (v < mh(i)) mh(i) = v
                i += 1
              }
              j += 1
            }
            Iterator.single((id, mh))
          }
        }
      }
      .toDF("doc_id", "mh")
      .select(col("doc_id") +:
        (0 until numHashes).map(i => col("mh")(i).as(s"mh$i")): _*)
  }

  /** MinHash-LSH near-duplicate pairs, exact-verified.
    *
    * Banding: `bands` bands of `numHashes/bands` rows; documents sharing
    * any full band signature become candidates; candidates are verified
    * with exact Jaccard over the distinct shingle-hash sets and kept when
    * `jaccard >= threshold`. Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    */
  /** One row per (doc, band) from a [[minhashSignatures]] frame:
    * explode an array of band keys rather than unioning `bands` copies
    * of the plan, which would recompute the signature projection once
    * per band. Shared by the in-session dedup and the written-index
    * build/probe — index serving equality NEEDS the identical key
    * encoding.
    */
  private def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sig.select(col("doc_id"),
      explode(array((0 until bands).map { bnd =>
        concat_ws("_",
          lit(bnd) +: (0 until rows).map(r => col(s"mh${bnd * rows + r}")): _*)
      }: _*)).as("bk"))
  }

  /** Exact-Jaccard verification tail shared by [[minhashDedup]] and
    * [[minhashDedupIndexed]]: melt each candidate pair to (pair,
    * endpoint) rows, join the (doc_id, hs, n) sets ONCE, fold back per
    * pair — two per-endpoint joins would run the set source twice.
    * first(ignoreNulls) is deterministic: each pair has exactly one
    * a-row and one b-row.
    */
  private def verifyJaccard(
      cands: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cands
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(sets, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        first(when(col("doc_id") === col("doc_a"), col("hs")), ignoreNulls = true).as("hs_a"),
        first(when(col("doc_id") === col("doc_b"), col("hs")), ignoreNulls = true).as("hs_b"),
        first(when(col("doc_id") === col("doc_a"), col("n")), ignoreNulls = true).as("na"),
        first(when(col("doc_id") === col("doc_b"), col("n")), ignoreNulls = true).as("nb"))
      .withColumn("i", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard",
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  def minhashDedup(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, numHashes, shingleN)
    val banded = bandKeys(sig, numHashes, bands)

    // bucket-local pair explosion from ONE keyed pass via the shared
    // [[emitSortedPairs]] idiom — the old capped-window + SELF-JOIN
    // formulation re-ran the signature mapPartitions per join side (no
    // ReusedExchange across the object barrier) and shuffled the
    // banded rows twice; band collisions dedup (a near-dup pair can
    // collide in several bands)
    val cands = emitSortedPairs(banded, keys = Seq("bk"),
      item = col("doc_id"), capCol = "bucket_n",
      maxGroupSize = maxBucketSize, aName = "doc_a", bName = "doc_b",
      dedupPairs = true)

    // exact-Jaccard verify with ONE shingle-set pass (see verifyJaccard)
    verifyJaccard(cands,
      shingleSets(df, idCol, textCol, shingleN).select("doc_id", "hs", "n"),
      threshold)
  }

  // ------------------------------------------------------------------
  // Written signature index: incremental dedup's day-2 layout
  // ------------------------------------------------------------------

  /** Materializes the minhash-LSH dedup state as a WRITTEN index — the
    * dedup family's day-2 layout (the `ivfWriteIndex` shape applied to
    * signatures), so a standing curation pipeline can dedup each new
    * crawl snapshot against (base ∪ delta) WITHOUT recomputing the
    * whole corpus. Two pieces:
    *
    *  - `bands/` (doc_id, bk), PARTITIONED BY a 256-way md5 shard of
    *    the band key: candidate generation's prune key — a snapshot's
    *    band keys touch ~|their shards|/256 of the layout;
    *  - `sigs/` (doc_id, hs, n): the exact-verify payload (distinct
    *    shingle-hash sets), doc-keyed — candidates fetch endpoints by
    *    id.
    *
    * Both derive from the same two per-row passes the in-session dedup
    * runs (signatures + shingle sets); (numHashes, bands, shingleN)
    * are LAYOUT parameters — probing with different values finds
    * nothing, so callers fix them per index like the packer's shard
    * width.
    */
  def minhashWriteIndex(df: DataFrame, path: String,
      idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3): Unit =
    IndexLayout.MinhashBands.write(df, path, None,
      minhashBandRows(df, idCol, textCol, numHashes, bands, shingleN),
      IndexLayout.MinhashSigs -> sigRows(df, idCol, textCol, shingleN))

  /** Appends a NEW-DOCUMENT snapshot to a [[minhashWriteIndex]] layout:
    * delta-sized signature + set passes, zero base reads. Same
    * contract as every index append here (new ids,
    * caller-owns-exactly-once); damage shows up as duplicate (doc_id,
    * bk) band rows or duplicate sig rows, and — unlike the
    * serving-index appends — is IDEMPOTENT for dedup correctness
    * modulo cap accounting: duplicate band rows inflate bucket_n
    * toward the cap, so a replayed append can DROP pairs a clean
    * layout finds. Treat replay as damage, not noise.
    */
  def minhashAppendIndex(df: DataFrame, path: String,
      idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3): Unit =
    IndexLayout.MinhashBands.append(path,
      minhashBandRows(df, idCol, textCol, numHashes, bands, shingleN),
      IndexLayout.MinhashSigs -> sigRows(df, idCol, textCol, shingleN))

  // bands/ and sigs/ are independent passes over the same input into
  // disjoint directories, written overlapped (guide §2.6): each pass
  // re-shingles the corpus (deliberately NOT checkpointed: the hash
  // sets are the widest rows this family owns and pinning the whole
  // corpus' sets in storage memory is the 100 TB anti-pattern), so
  // running them concurrently hides one pass behind the other
  private def minhashBandRows(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int, shingleN: Int) =
    bandKeys(minhashSignatures(df, idCol, textCol, numHashes, shingleN),
      numHashes, bands)

  private def sigRows(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int) =
    shingleSets(df, idCol, textCol, shingleN).select("doc_id", "hs", "n")

  /** Incremental near-dup dedup of a NEW snapshot against a
    * [[minhashWriteIndex]] layout that already contains it (write base,
    * [[minhashAppendIndex]] the snapshot, then call this): every pair
    * (doc_a, doc_b, jaccard) with AT LEAST ONE endpoint in the
    * snapshot — exactly the fresh whole-corpus [[minhashDedup]] output
    * restricted to snapshot-endpoint pairs (q159 gates that equality):
    * the [[IndexLayout.probe]] by the snapshot's own band keys keeps
    * every bucket holding a snapshot doc with its full membership, so
    * cap accounting and verify arithmetic are the fresh run's.
    * Base-base pairs were the PREVIOUS runs' output and are skipped —
    * the point of the index.
    *
    * Plan shape: one delta-sized signature pass (band keys only — the
    * verify sets come from `sigs/`, not a re-tokenize), the probe of
    * `bands/`, the shared capped pair emission filtered on the
    * broadcast snapshot-id flag ([[flagDelta]]), and the doc-keyed
    * verify join against `sigs/`. At deployment scale the sigs fetch co-locates by
    * bucketing the layout on doc_id; the snapshot-id broadcast assumes
    * a snapshot's ID LIST is broadcast-class — drop the hint if a
    * snapshot outgrows it.
    */
  def minhashDedupIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaDocs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val deltaSig = minhashSignatures(deltaDocs, idCol, textCol,
      numHashes, shingleN)
    // ONE delta band-key pass WITH doc_id, materialized by the probe
    // (guide §1.2): it feeds the probe and the delta-id flag.
    // Band-bearing ids are exact: a delta doc with no signature posts
    // no bands and can never be a pair endpoint.
    val (qbands, probed) = IndexLayout.MinhashBands.probe(spark, path,
      bandKeys(deltaSig, numHashes, bands)
        .select(col("doc_id"), col("bk")).distinct(), "bk")
    val probe = probed.select(col("doc_id"), col("bk"))
    // EARLY endpoint filter — same as [[postingPairs]]: a
    // (base, base) bucket pair is discarded by the endpoint filter no
    // matter what, so filter at emission instead of after the distinct
    val flagged = flagDelta(probe, qbands)
    val cands = emitSortedPairs(flagged, keys = Seq("bk"),
      item = struct(col("doc_id"), col("__delta")), capCol = "bucket_n",
      maxGroupSize = maxBucketSize, aName = "a", bName = "b",
      dedupPairs = true)
      .filter(col("a.__delta") || col("b.__delta"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // prune the verify-set fetch to PROBED-BUCKET MEMBERS before the
    // join: sigs/ rows carry the full shingle-hash arrays (the widest
    // rows this family owns), and an unpruned join lets the planner
    // shuffle the whole layout (guide §2.3 "shuffle keys, not
    // payloads"). Every candidate pair's endpoints are members of some
    // kept bucket, so the member-id set is an exact superset of the
    // verify endpoints; only the compact id list is materialized, its
    // count observed by the same job — the candidate pipeline itself
    // stays lazy, so the served plan keeps its pruned bands scan.
    val (memberIds, n) = Parallelism.observed(
      probe.select(col("doc_id")).distinct(), count(lit(1)))
    val sigs = spark.read.parquet(IndexLayout.MinhashSigs.live(spark, path))
      .join(Parallelism.boundedBroadcast(memberIds, n.getLong(0)),
        Seq("doc_id"), "leftsemi")
    verifyJaccard(cands, sigs, threshold)
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 32-bit SimHash fingerprint per document over distinct tokens
    * (Charikar '02): bit j of the fingerprint is the sign of
    * sum(±1 over tokens, + when bit j of the token hash is set).
    *
    * Computed per document inside one `mapPartitions` pass (like the
    * minhash signatures): the explode + 32-conditional-sums formulation
    * shuffled every (doc, distinct-token) row — ~8x slower at sf0.1 —
    * while the fingerprint is a purely per-document reduction, so zero
    * shuffle is the right plan at any scale. Bit-identical to the SQL
    * twin: same normalize/tokenize regexes, same md5-prefix hash.
    * Documents with NULL text drop out (the SQL twin's unnest(NULL)
    * does the same).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Parallelism.fanOut(
        df.select(col(idCol).cast("long").as("__id"),
          col(textCol).cast("string").as("__t")), "__id")
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val toks = TextOps.normalizeStr(text).split(" ", -1)
            val seen = new java.util.HashSet[String]()
            val sums = new Array[Int](32)
            var i = 0
            while (i < toks.length) {
              if (seen.add(toks(i))) {
                val h = TextOps.hash32Str(md, toks(i))
                var j = 0
                while (j < 32) {
                  if (((h >> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
                  j += 1
                }
              }
              i += 1
            }
            var fp = 0L
            var j = 0
            while (j < 32) { if (sums(j) > 0) fp |= 1L << j; j += 1 }
            Iterator.single((id, fp))
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** 60-bit SimHash per document — [[simhash]] widened to the
    * fingerprint width near-dup SEARCH needs (Manku/Jain/Sarma WWW'07,
    * Google's web-crawl dedup: hamming-ball search over SimHash via
    * banded tables): with 32 bits, hamming-≤3 banding forces 8-bit
    * bands whose 256 bucket values collapse a large corpus into
    * quadratic buckets; 60 bits gives four 15-bit bands — 32,768
    * values each — so bucket occupancy dilutes with corpus size the
    * way Manku's 64-bit design intends, while staying positive in a
    * signed BIGINT on both engines ([[TextOps.hash60]]). Same
    * zero-shuffle mapPartitions shape as [[simhash]].
    */
  def simhash60(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Parallelism.fanOut(
        df.select(col(idCol).cast("long").as("__id"),
          col(textCol).cast("string").as("__t")), "__id")
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else Iterator.single((id, simhash60Str(md, text)))
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** Four 15-bit SimHash bands. With `maxHamming <= 3`, a pair within
    * the ball differs in at most 3 bit positions, which can damage at
    * most 3 of the 4 bands — so at least one band matches exactly and
    * banded search is EXACT, not approximate (the pigeonhole argument
    * Manku's tables are built on).
    */
  private val SimhashBands = 4
  private val SimhashBandBits = 15
  private val SimhashBandMask = (1 << SimhashBandBits) - 1

  /** [[simhash60]] carrying a blocking column: (doc_id, blk, simhash);
    * NULL-block docs drop (the q33/q153 blocked-dedup convention).
    */
  private def simhash60Blocked(df: DataFrame, idCol: String,
      textCol: String, blockCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Parallelism.fanOut(
        df.filter(col(blockCol).isNotNull)
          .select(col(idCol).cast("long").as("__id"),
            col(blockCol).cast("string").as("__blk"),
            col(textCol).cast("string").as("__t")), "__id")
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, blk, text) =>
          if (text == null) Iterator.empty
          else Iterator.single((id, blk, simhash60Str(md, text)))
        }
      }
      .toDF("doc_id", "blk", "simhash")
  }

  /** The per-document 60-bit fingerprint loop shared by [[simhash60]]
    * and [[simhash60Blocked]].
    */
  private def simhash60Str(
      md: java.security.MessageDigest, text: String): Long = {
    val toks = TextOps.normalizeStr(text).split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val sums = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      if (seen.add(toks(i))) {
        val h = TextOps.hash60Str(md, toks(i))
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (sums(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }

  /** One row per (doc, band): input columns + (bidx, bval). */
  private def simhashBandRows(fps: DataFrame): DataFrame =
    fps.withColumn("bidx",
        explode(lit((0 until SimhashBands).toArray)))
      .withColumn("bval",
        expr(s"shiftright(simhash, bidx * $SimhashBandBits) & $SimhashBandMask"))

  /** The band layout's shard id (`IndexLayout.Simhash`'s derivation):
    * `bidx × (n/4) + top-bits(bval)` — `n` is the layout's total shard
    * count over its 4 bands (IndexShards: 256 = band × top-6-bits, the
    * repo-standard fan-out; 16 = band × top-2). A first cut used the
    * top 8 bits (1,024 dirs) and its small-file overhead dominated the
    * q168 lifecycle (~12 s → ~7 s at sf0.1 after the cut).
    */
  private[operators] def simhashShard(bidx: Column, bval: Column,
      n: Int): Column = {
    val perBand = n / 4
    val bits = 31 - Integer.numberOfLeadingZeros(perBand)
    (bidx * lit(perBand) + shiftright(bval, SimhashBandBits - bits))
      .cast("int")
  }

  /** SimHash near-dup pairs within a blocking key: all (doc_a < doc_b)
    * in the same block within hamming distance `maxHamming` of each
    * other's 60-bit fingerprints — boilerplate-level near-dups
    * ([[minhashDedup]] catches content-overlap at lower similarity;
    * SimHash's ball is tighter and its per-doc state is ONE long,
    * which is why crawl-scale systems run it first). Blocked like
    * [[ngramJaccardPairs]]/[[ngramContainmentPairs]] (source/language
    * blocking is the standard candidate bound; NULL-block docs drop).
    * `maxHamming` must stay ≤ 3: that is the 4-band exactness bound —
    * above it banding would miss pairs.
    *
    * 100 TB posture: fingerprints are a zero-shuffle narrow pass
    * materialized once; candidates come from the per-block 4-band
    * bucket self-join (keyed on |blocks|·2²·2¹⁵ buckets), never
    * all-pairs; buckets over `maxBucketSize` drop BEFORE pairing (the
    * repo-wide skew cap — a dropped bucket's pairs can still surface
    * via their other 3 bands; the cap errs toward missing near-dups,
    * never false pairs, and the oracle replays it exactly);
    * verification is `bit_count(xor)` on the pair row — no text, no
    * signatures.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming $maxHamming breaks the 4-band exactness bound (<= 3)")
    val fps = simhash60Blocked(df, idCol, textCol, blockCol).localCheckpoint()
    val capped = cappedBuckets(simhashBandRows(fps), maxBucketSize)
    val x = capped.select(col("blk"), col("bidx"), col("bval"),
      col("doc_id").as("doc_a"), col("simhash").as("fa"))
    val y = capped.select(col("blk"), col("bidx"), col("bval"),
      col("doc_id").as("doc_b"), col("simhash").as("fb"))
    pairTail(
      x.join(y, Seq("blk", "bidx", "bval"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("blk"), col("doc_a"), col("doc_b"), col("fa"), col("fb")),
      maxHamming)
  }

  private def cappedBuckets(bands: DataFrame, maxBucketSize: Int): DataFrame =
    bands
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy(col("blk"), col("bidx"), col("bval"))))
      .filter(col("bn") <= maxBucketSize)
      .drop("bn")

  /** Shared verify tail: distinct the multi-band candidates, compute
    * the hamming distance, threshold — both the in-session and indexed
    * paths end here, so their arithmetic cannot drift.
    */
  private def pairTail(cands: DataFrame, maxHamming: Int): DataFrame =
    cands.distinct()
      .withColumn("hamming",
        expr("bit_count(fa ^ fb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("blk"), col("doc_a"), col("doc_b"), col("hamming"))

  /** Materializes the SimHash band index as a WRITTEN, shard-pruned
    * layout (q168): `bands/` =
    * (doc_id, blk, simhash, bidx, bval) PARTITIONED BY `pshard` =
    * (band, top bits of value) — [[simhashShard]]. Both columns
    * are per-document facts, so the layout is append-stable; the
    * fingerprint rides inline, so the PROBE never touches text (the
    * verify is `bit_count` on stored longs — unlike MinHash, SimHash
    * needs no signature re-read).
    */
  def simhashWriteIndex(df: DataFrame, path: String,
      idCol: String, textCol: String, blockCol: String): Unit =
    // the input may be an object barrier (the frame-text members), whose
    // size estimate is its child's — pre-explode bytes, conservative
    // toward Wide
    IndexLayout.Simhash.write(df, path, None,
      simhashBandRows(simhash60Blocked(df, idCol, textCol, blockCol)))

  /** Appends a NEW-DOCUMENT snapshot's band rows — delta-sized, zero
    * base reads; the usual new-ids / exactly-once append contract (a
    * replayed append duplicates band rows, which the probe's distinct
    * masks for PAIRS but inflates bucket counts toward the cap).
    */
  def simhashAppendIndex(df: DataFrame, path: String,
      idCol: String, textCol: String, blockCol: String): Unit =
    IndexLayout.Simhash.append(path,
      simhashBandRows(simhash60Blocked(df, idCol, textCol, blockCol)))

  /** Incremental SimHash near-dup: every pair within the hamming ball
    * that has at least one endpoint in `deltaDocs`, served from a
    * [[simhashWriteIndex]] layout AFTER the snapshot was appended
    * (append-then-probe, the q159/q160/q161 shape — snapshot bands in
    * the index make snapshot×snapshot pairs fall out of the same
    * probe). The [[IndexLayout.probe]] by the snapshot's band keys
    * keeps each touched bucket's FULL post-append membership, so
    * capping equals the fresh run's; snapshot band rows then broadcast
    * into the probed residue. Gated ≡ the fresh whole-corpus pairs
    * restricted to snapshot endpoints.
    */
  def simhashNearDupIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaDocs: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming $maxHamming breaks the 4-band exactness bound (<= 3)")
    val (qb, probed) = IndexLayout.Simhash.probe(spark, path,
      simhashBandRows(simhash60Blocked(deltaDocs, idCol, textCol, blockCol)),
      "blk", "bidx", "bval")
    val capped = cappedBuckets(probed.drop("pshard"), maxBucketSize)
    val cands = capped.join(
        broadcast(qb.select(col("blk"), col("bidx"), col("bval"),
          col("doc_id").as("q_id"), col("simhash").as("q_fp"))),
        Seq("blk", "bidx", "bval"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("blk"),
        least(col("doc_id"), col("q_id")).as("doc_a"),
        greatest(col("doc_id"), col("q_id")).as("doc_b"),
        when(col("doc_id") < col("q_id"), col("simhash"))
          .otherwise(col("q_fp")).as("fa"),
        when(col("doc_id") < col("q_id"), col("q_fp"))
          .otherwise(col("simhash")).as("fb"))
    pairTail(cands, maxHamming)
  }

  // ------------------------------------------------------------------
  // Blocked n-gram Jaccard (no LSH; exact within blocks)
  // ------------------------------------------------------------------

  /** The posting-pair core of the n-gram and winnowing families, fresh
    * and indexed: per block, every document pair sharing at least one
    * posting hash, with set sizes and the intersection count —
    * (blk, doc_a, doc_b, na, nb, i) from (blk, doc_id, n, h) postings.
    *
    * An inverted-index join rather than a quadratic all-pairs
    * array_intersect: documents pair per (block, hash) through the
    * shared [[emitSortedPairs]] idiom, so the intersection size is a
    * co-occurrence COUNT aggregation — work and shuffle scale with the
    * actually-shared hashes (≈ true near-dups), not with |block|^2. A
    * self-join of the postings would re-run the set pass per side
    * (Spark plans no ReusedExchange across the object barrier; measured
    * 2x at sf1) and shuffle them twice. Items are (doc_id, n) structs;
    * the helper's whole-struct `<` guard is equivalent to the doc_id
    * comparison (n is a function of doc_id). dedupPairs stays FALSE: the
    * pair multiplicity across postings IS the intersection count.
    *
    * Bias note: exact only while no posting exceeds `maxPostingSize`. A
    * capped (dropped) hash still counts in both sizes `na`/`nb` but no
    * longer in `i`, so past the cap overlap is UNDERestimated — the
    * operator errs toward missing near-dups, never toward false pairs
    * (the cap is a spillable window count — a skew guard, not a memory
    * ceiling).
    *
    * With `delta` (the keys of an [[IndexLayout.probe]] of a written
    * layout), only pairs with an endpoint in the delta survive. The
    * flag rides a broadcast `__delta` on each posting and filters
    * (a.__delta OR b.__delta) AT EMISSION, before the pair exchange
    * (r21 — measured at sf1: 104.9M raw pairs into the groupBy,
    * 124.8k rows out): a (base, base) pair is dropped by the endpoint
    * filter whatever its multiplicity, while group membership, order
    * (doc_id is unique per group) and the cap count stay unchanged.
    */
  private def postingPairs(postings: DataFrame,
      delta: Option[DataFrame], maxPostingSize: Int): DataFrame = {
    val item = Seq("doc_id", "n") ++ delta.map(_ => "__delta")
    val emitted = emitSortedPairs(
      delta.fold(postings)(flagDelta(postings, _)), keys = Seq("blk", "h"),
      item = struct(item.map(col): _*), capCol = "posting_n",
      maxGroupSize = maxPostingSize, aName = "a", bName = "b",
      carry = Seq("blk"), dedupPairs = false)
    delta.fold(emitted)(_ =>
        emitted.filter(col("a.__delta") || col("b.__delta")))
      .groupBy(col("blk"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"), col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
  }

  /** All-pairs n-gram Jaccard within a blocking key (e.g. source or
    * language): exact near-dup detection when a cheap blocking column
    * bounds the candidate space, over the [[postingPairs]] core.
    * Requires `threshold > 0`. NULL block = no block: never paired.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxPostingSize: Int = 10000): DataFrame = {
    require(threshold > 0,
      "inverted-index jaccard only surfaces pairs sharing >=1 shingle")
    postingPairs(ngramPostingRows(df, idCol, textCol, blockCol, shingleN),
        None, maxPostingSize)
      .withColumn("jaccard",
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("blk"), col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** CONTAINMENT pairs (Broder's asymmetric resemblance): per block,
    * pairs where either document's shingle set is mostly inside the
    * other's — `cont_ab = |A∩B|/|A|` (how much of A is contained in B)
    * and `cont_ba = |A∩B|/|B|`, kept when the larger direction clears
    * `threshold`. This is the semantic Jaccard structurally MISSES: a
    * quote, a boilerplate wrapper, or a near-superset page contains a
    * smaller document almost entirely while the union stays large, so
    * jaccard ≈ |A|/|B| stays low however perfect the containment. The
    * training-data job is catching partial copies — a doc embedding an
    * eval item, a page wrapping a licensed text — that survive both
    * MinHash and whole-set Jaccard gates.
    *
    * Same 100 TB shape as [[ngramJaccardPairs]] (shared core): one
    * keyed posting pass, capped lists, bucket-local pair emission —
    * the direction arithmetic is free once `i/na/nb` exist.
    */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxPostingSize: Int = 10000): DataFrame =
    containment(threshold)(postingPairs(
      ngramPostingRows(df, idCol, textCol, blockCol, shingleN), None,
      maxPostingSize))

  /** The containment direction arithmetic over (blk, doc_a, doc_b, na,
    * nb, i) pairs; checks `threshold` before any pair is computed. */
  private def containment(threshold: Double): DataFrame => DataFrame = {
    require(threshold > 0,
      "inverted-index containment only surfaces pairs sharing >=1 shingle")
    _.withColumn("cont_ab", round(col("i").cast("double") / col("na"), 6))
      .withColumn("cont_ba", round(col("i").cast("double") / col("nb"), 6))
      .filter(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
      .select(col("blk"), col("doc_a"), col("doc_b"),
        col("cont_ab"), col("cont_ba"))
  }

  // ------------------------------------------------------------------
  // Written n-gram postings index: the inverted-index family's day-2
  // ------------------------------------------------------------------

  /** Materializes the blocked n-gram inverted index as a WRITTEN
    * layout (q161): one posting row per (blk, doc, shingle-hash),
    * PARTITIONED BY
    * `shard = h mod 256` (the shingle hash is already uniform — it is
    * its own shard key), with the document's distinct-shingle count
    * `n` denormalized inline (a per-document fact, append-stable —
    * the same tf/dl argument as the BM25 layout). NULL-block rows are
    * excluded at write time, mirroring the in-session path's
    * never-paired semantics.
    */
  def ngramWriteIndex(df: DataFrame, path: String,
      idCol: String, textCol: String, blockCol: String,
      shingleN: Int = 3): Unit =
    IndexLayout.Ngram.write(df, path, None,
      ngramPostingRows(df, idCol, textCol, blockCol, shingleN))

  /** Appends a NEW-DOCUMENT snapshot's postings — delta-sized, zero
    * base reads; the standard new-ids / exactly-once append contract
    * (a replayed append would double pair multiplicities, i.e.
    * intersection counts).
    */
  def ngramAppendIndex(df: DataFrame, path: String,
      idCol: String, textCol: String, blockCol: String,
      shingleN: Int = 3): Unit =
    IndexLayout.Ngram.append(path,
      ngramPostingRows(df, idCol, textCol, blockCol, shingleN))

  private def ngramPostingRows(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, shingleN: Int): DataFrame =
    postingRows(shingleSets(df, idCol, textCol, shingleN, Some(blockCol)))

  /** (blk, doc_id, n, h) postings of (blk, doc_id, hs, n) sets. NULL
    * block = no block: never paired (groupBy would pair NULLs
    * together), so such rows are neither written nor paired.
    */
  private def postingRows(sets: DataFrame): DataFrame =
    sets.filter(col("blk").isNotNull)
      .select(col("blk"), col("doc_id"), col("n"), explode(col("hs")).as("h"))

  /** Incremental [[ngramContainmentPairs]] of a new snapshot against
    * (base ∪ snapshot), from a [[ngramWriteIndex]] layout that already
    * contains the snapshot — q161 gates equality with the fresh
    * whole-corpus run restricted to snapshot-endpoint pairs. One delta
    * shingle pass, materialized WITH doc_id (r22 probe-chain fusion,
    * guide §1.2), feeds the [[IndexLayout.probe]] by shingle hash and
    * the delta ids; shingle-bearing ids are exact (a delta doc with no
    * shingles posts nothing and can never be a pair endpoint). The
    * probe is h-only because the caller carries no block column: a
    * same-h group in ANOTHER block survives it but holds no delta doc,
    * so the endpoint filter drops its pairs.
    */
  def ngramContainmentPairsIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      deltaDocs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxPostingSize: Int = 10000): DataFrame = {
    val keep = containment(threshold)
    val (qsets, probed) = IndexLayout.Ngram.probe(spark, path,
      shingleSets(deltaDocs, idCol, textCol, shingleN)
        .select(col("doc_id"), explode(col("hs")).as("h")).distinct(), "h")
    keep(postingPairs(probed, Some(qsets), maxPostingSize))
  }

  // ------------------------------------------------------------------
  // Connected components over duplicate pairs
  // ------------------------------------------------------------------

  /** Components of the duplicate-pair graph (SURVEY.md §7 step 9:
    * "MinHashLSH + connected components via iterative joins"): each
    * vertex gets the MIN vertex id of its component — the canonical
    * "keep one doc per near-dup cluster" step after [[minhashDedup]].
    *
    * Pregel-style min-label propagation as a driver-side loop of
    * join + min-aggregate rounds (the documented batch-iteration shape,
    * SURVEY §2.10): every round each vertex takes the min of its own
    * and its neighbors' labels; converges in O(component diameter)
    * rounds. Near-dup components are small and dense, so diameters stay
    * tiny at any scale; every round is one keyed shuffle, and
    * `localCheckpoint` truncates the growing lineage. Fails loudly if
    * `maxIter` rounds don't converge rather than returning wrong labels.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint()
    // labels only ever DECREASE, so sum(component) strictly decreases
    // until the fixpoint — the sum, observed by each round's
    // checkpoint, detects convergence without a second join over both
    // label sets or a job of its own
    var (labels, prevSum) = Parallelism.observed(
      edges.select(col("src").as("v")).distinct()
        .withColumn("component", col("v")), sum("component"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbor = edges
        .join(labels, edges("dst") === labels("v"))
        .select(edges("src").as("v"), col("component"))
      val (next, s) = Parallelism.observed(
        labels.select(col("v"), col("component")).union(viaNeighbor)
          .groupBy("v").agg(min("component").as("component")),
        sum("component"))
      converged = s == prevSum
      prevSum = s
      labels = next
      iter += 1
    }
    require(converged, s"connectedComponents: no fixpoint in $maxIter rounds")
    labels.select(col("v"), col("component"))
  }

  // ------------------------------------------------------------------
  // Block-level exact dedup with document reassembly
  // ------------------------------------------------------------------

  /** Sub-document exact dedup: split each document into fixed
    * `blockTokens`-token blocks, keep each distinct block's globally
    * FIRST occurrence (lexicographic (doc_id, block_idx)), and
    * reassemble every document from its surviving blocks — the
    * paragraph/span-level dedup pass of training-data pipelines
    * (public semantics: Lee et al. '21, "Deduplicating Training Data
    * Makes Language Models Better" — their exact-substring dedup at a
    * fixed-block granularity; on corpora with natural structure the
    * splitter would be `\n\n`, here deterministic token offsets since
    * the fixture corpus is single-line).
    *
    * Emits (doc_id, n_blocks, n_kept, text_deduped), one row per input
    * document; `text_deduped` is '' when every block was seen earlier.
    *
    * Scale shape: two shuffles total — (1) blocks keyed by md5
    * fingerprint for the keep-first window, (2) survivors keyed by
    * doc_id for reassembly. Blocks are disjoint spans, so each shuffle
    * moves ~corpus bytes once, never a cross product. A viral
    * boilerplate block concentrates its occurrences in one fingerprint
    * group; the window's per-group work is a spillable O(n log n) sort
    * (not O(n^2)), so skew degrades locally instead of failing. The
    * reference itself has no sub-document dedup (SURVEY.md §2.6 stops
    * at row-level ROW_NUMBER dedup); this is training-pipeline
    * superset territory like the minhash family above.
    */
  def blockDedup(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    // global keep-first over the 128-bit fingerprint: only the compact
    // (doc_id, block_idx) pair decides the winner, deterministically
    val w = Window.partitionBy(md5(col("block")))
      .orderBy(col("doc_id"), col("block_idx"))
    blockRollup(docBlocks(df, idCol, textCol, blockTokens)
      .withColumn("__keep", row_number().over(w) === 1))
  }

  /** The fixed-size token blocks of every document: (doc_id,
    * block_idx, block) — [[blockDedup]]'s explode, shared with the
    * written-index path.
    */
  private def docBlocks(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int): DataFrame =
    // NO fan-out here: PlanSpec pins q123 at ≤3 keyed shuffles and the
    // sf0.1 A/B measured noise-level difference; at production scale
    // the scan is wide and a fan-out would be a no-op anyway
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .withColumn("__start",
        explode(sequence(lit(1), greatest(size(col("__toks")), lit(1)),
          lit(blockTokens))))
      .withColumn("block_idx",
        expr(s"CAST((__start - 1) div $blockTokens AS BIGINT)"))
      .withColumn("block",
        concat_ws(" ", slice(col("__toks"), col("__start"), lit(blockTokens))))
      .select(col("doc_id"), col("block_idx"), col("block"))

  /** Per-document rollup of a (doc_id, block_idx, block, __keep)
    * frame: counts + the reassembled surviving text — shared by
    * [[blockDedup]] and [[blockDedupIndexed]] so the output contract
    * cannot drift.
    */
  private def blockRollup(flagged: DataFrame): DataFrame =
    flagged
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("__keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        // collect_list drops the nulls from non-kept rows; sort_array on
        // array<struct> orders by the leading block_idx field, restoring
        // document order regardless of partitioning
        array_join(
          transform(
            sort_array(collect_list(
              when(col("__keep"), struct(col("block_idx"), col("block"))))),
            s => s.getField("block")),
          " ").as("text_deduped"))

  /** Materializes the block-fingerprint index as a WRITTEN,
    * shard-pruned layout — the SUB-DOCUMENT dedup member (q172):
    * `blocks/` = (doc_id, block_idx, fingerprint) PARTITIONED BY the
    * fingerprint's first 2 hex chars. The block TEXT stays OUT of the
    * index — keep-first only needs the winner's coordinates, so the
    * layout is md5-per-block sized whatever the corpus, and both
    * columns are per-document facts (append-stable).
    */
  def blockWriteIndex(df: DataFrame, path: String, idCol: String,
      textCol: String, blockTokens: Int): Unit =
    IndexLayout.Block.write(df, path, None,
      blockFingerprintRows(df, idCol, textCol, blockTokens))

  /** Appends a NEW-DOCUMENT snapshot's block fingerprints —
    * delta-sized, zero base reads; the usual new-ids / exactly-once
    * append contract.
    */
  def blockAppendIndex(df: DataFrame, path: String, idCol: String,
      textCol: String, blockTokens: Int): Unit =
    IndexLayout.Block.append(path,
      blockFingerprintRows(df, idCol, textCol, blockTokens))

  private def blockFingerprintRows(df: DataFrame, idCol: String,
      textCol: String, blockTokens: Int): DataFrame =
    docBlocks(df, idCol, textCol, blockTokens)
      .select(col("doc_id"), col("block_idx"),
        md5(col("block")).as("fingerprint"))

  /** Incremental block-level exact dedup: [[blockDedup]]'s outputs
    * for a new snapshot, computed against a [[blockWriteIndex]]
    * layout AFTER the snapshot was appended — "has this paragraph
    * appeared anywhere in the corpus history" as a standing day-2
    * operation (the Lee et al. exact-substring shape a crawl
    * pipeline actually runs per snapshot: new boilerplate dedups
    * against every previous generation without re-reading any text).
    * A snapshot block survives iff its (doc_id, block_idx) is the
    * GLOBAL minimum for its fingerprint across base ∪ snapshot —
    * exactly the fresh q123 rule restricted to snapshot documents.
    *
    * 100 TB posture: the [[IndexLayout.probe]] by the snapshot's
    * fingerprints, then winners per fingerprint (min over the compact
    * coordinate pair) — the index's text-free rows are all that is
    * read; reassembly uses the snapshot's own blocks already in hand.
    */
  def blockDedupIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaDocs: DataFrame, idCol: String,
      textCol: String, blockTokens: Int): DataFrame = {
    val (blocks, probed) = IndexLayout.Block.probe(spark, path,
      docBlocks(deltaDocs, idCol, textCol, blockTokens)
        .withColumn("fingerprint", md5(col("block"))), "fingerprint")
    val mins = probed
      .groupBy(col("fingerprint"))
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("m"))
    blockRollup(blocks.join(mins, Seq("fingerprint"))
      .withColumn("__keep",
        col("doc_id") === col("m.doc_id") &&
          col("block_idx") === col("m.block_idx")))
  }

  /** Near-dup cluster collapse, the step AFTER [[connectedComponents]]:
    * label every document with its cluster (its component, or itself if
    * it never appeared in a duplicate pair) and keep exactly one
    * representative per cluster — the highest-`qualityCol` member, ties
    * to the smallest id. Emits (doc_id, cluster, kept) for every input
    * document, so callers can either filter `kept` or audit the drop
    * set.
    *
    * Scale shape: the component labels cover only documents that
    * appeared in a pair (the duplicate minority), joined back to the
    * corpus on its id — an equi-join AQE can broadcast when the dup
    * fraction is small. The representative choice is one window over
    * `cluster`; near-dup clusters are small, so no group outgrows a
    * partition.
    */
  def clusterRepresentatives(docs: DataFrame, pairs: DataFrame,
      idCol: String, qualityCol: String): DataFrame = {
    val comps = connectedComponents(pairs, "doc_a", "doc_b")
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__q").desc, col("doc_id"))
    docs.select(col(idCol).as("doc_id"), col(qualityCol).as("__q"))
      .join(comps, col("doc_id") === col("v"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster"), col("kept"))
  }

  // ------------------------------------------------------------------
  // Winnowing pair family: PAIRS from the q108 fingerprints, plus the
  // written postings index — the 7th incremental-dedup member
  // ------------------------------------------------------------------

  /** Per-document winnowing fingerprint sets (blk, doc_id, hs, n) via
    * the native `winnow_fp` expression over the normalized,
    * space-stripped text — one codegen'd projection, no shuffle. The
    * set is sorted-distinct by the expression's contract, so `n` is
    * the distinct-fingerprint count and posting multiplicities below
    * equal set-intersection sizes.
    */
  private def winnowSets(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int, w: Int): DataFrame =
    // fan out before the per-char winnow_fp pass (guide §2.5): the scan
    // stage is sized by input bytes, the hashing by chars × k
    Parallelism.fanOut(
        df.select(col(blockCol).cast("string").as("blk"),
          col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("__t")), "doc_id")
      .select(col("blk"), col("doc_id"),
        regexp_replace(TextOps.normalize(col("__t")), " ", "").as("norm"))
      .withColumn("hs", expr(s"winnow_fp(norm, $k, $w)"))
      .select(col("blk"), col("doc_id"), col("hs"),
        size(col("hs")).cast("long").as("n"))

  /** Winnowing near-dup PAIRS (the pair layer q108's per-doc
    * fingerprints lacked): per block, documents sharing at least
    * `minShared` winnowing fingerprints — by the winnowing guarantee,
    * each shared fingerprint witnesses a shared substring of length
    * ≥ w + k − 1, so this is the LOCAL-overlap gate (plagiarism-style
    * partial copies) that global Jaccard and MinHash structurally
    * miss. `minShared` ≥ 2 by default: one shared fingerprint can be a
    * polynomial-hash collision; two independent witnesses make the
    * pair real. Output (blk, doc_a, doc_b, na, nb, i) — all exact
    * integers.
    *
    * Same 100 TB shape as [[ngramJaccardPairs]] — the [[postingPairs]]
    * core: capped lists (a boilerplate fingerprint shared by a viral
    * block would otherwise go quadratic — the LSH-cap trade), bucket-
    * local pair emission, source-blocked per the q33/q153/q167
    * precedent.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int = 7, w: Int = 4, minShared: Long = 2L,
      maxPostingSize: Int = 10000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    postingPairs(winnowPostingRows(df, idCol, textCol, blockCol, k, w),
        None, maxPostingSize)
      .filter(col("i") >= minShared)
  }

  /** Materializes the winnowing postings as a WRITTEN layout — one row
    * per (blk, doc, fingerprint), PARTITIONED BY `shard = h mod 256`
    * (the fingerprint hash is uniform — its own shard key), the
    * distinct-fingerprint count `n` denormalized inline (a per-document
    * fact, append-stable). NULL-block rows excluded at write time —
    * the in-session never-paired semantics.
    */
  def winnowWriteIndex(df: DataFrame, path: String, idCol: String,
      textCol: String, blockCol: String, k: Int = 7, w: Int = 4): Unit =
    IndexLayout.Winnow.write(df, path, None,
      winnowPostingRows(df, idCol, textCol, blockCol, k, w))

  /** Appends a NEW-DOCUMENT snapshot's postings — delta-sized, zero
    * base reads; the standard new-ids / exactly-once append contract
    * (a replayed append doubles pair multiplicities = intersection
    * counts; `IndexLayout.Winnow.audit` localizes that damage).
    */
  def winnowAppendIndex(df: DataFrame, path: String, idCol: String,
      textCol: String, blockCol: String, k: Int = 7, w: Int = 4): Unit =
    IndexLayout.Winnow.append(path,
      winnowPostingRows(df, idCol, textCol, blockCol, k, w))

  // the layout h-clusters each shard's files (guide §6): the partitioned
  // writer sorts by the partition column anyway, so (shard, h) costs
  // ~nothing and makes h delta-encoding-friendly — smaller files,
  // cheaper probes
  private def winnowPostingRows(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, k: Int, w: Int): DataFrame =
    postingRows(winnowSets(df, idCol, textCol, blockCol, k, w))

  /** Incremental [[winnowPairs]] of a new snapshot against
    * (base ∪ snapshot), from a written layout that already holds the
    * snapshot's postings: the [[IndexLayout.probe]] by the snapshot's
    * own (blk, h) fingerprints, then the [[postingPairs]] core with the
    * delta ids. Probing the matched posting lists instead of the
    * touched shards' entire content (corpus/256 per shard — the q190
    * quarter-corpus worst case) is what keeps pair emission
    * delta-sized. One delta-sized fingerprint pass, materialized WITH
    * doc_id (r22 probe-chain fusion, guide §1.2 "fewer passes"), feeds
    * the probe and the delta ids; fingerprint-bearing ids are exact (a
    * delta doc with no fingerprints posts nothing and can never be a
    * pair endpoint). q190 gates equality with the fresh q189 replay
    * restricted to snapshot-endpoint pairs.
    */
  def winnowPairsIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaDocs: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int = 7, w: Int = 4, minShared: Long = 2L,
      maxPostingSize: Int = 10000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val (qsets, probed) = IndexLayout.Winnow.probe(spark, path,
      winnowSets(deltaDocs, idCol, textCol, blockCol, k, w)
        .select(col("blk"), col("doc_id"), explode(col("hs")).as("h"))
        .distinct(), "blk", "h")
    postingPairs(probed, Some(qsets), maxPostingSize)
      .filter(col("i") >= minShared)
  }
}
