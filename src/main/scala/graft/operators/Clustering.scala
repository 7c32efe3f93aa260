package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means over an embedding column, and the
  * SemDeDup-style semantic dedup that composes on top of it.
  *
  * The reference's ML story lives outside the 1.11 core (FLIP-39 moved
  * flink-ml out of tree), but clustering is the missing trainer behind
  * the IVF index this repo already ships ([[Similarity.ivfAssign]]
  * consumes centroids from *somewhere*) and behind semantic dedup of a
  * training corpus (SemDeDup: cluster embeddings, drop near-identical
  * members within each cluster). Both are expressed as plain Spark
  * plans — no MLlib, no RDDs.
  *
  * Cross-engine determinism (the hard part): a centroid mean is a sum
  * of doubles, and float sums are order-dependent, so a naive
  * `avg(component)` differs run-to-run AND engine-to-engine; casting
  * the mean to DECIMAL doesn't help because Spark rounds double→decimal
  * HALF_UP while DuckDB rounds half-to-EVEN (measured on 2^-19, which
  * sits exactly on a decimal tie). Instead each component is quantized
  * FIRST — `floor(x·10⁶)` has no ties and the multiply is IEEE-identical
  * everywhere — and the quantized longs sum exactly in any order; the
  * new centroid component is `floor(sum/count)/10⁶`, bit-identical on
  * both engines. Assignment distances are then doubles computed from
  * bit-identical centroids with the left-to-right codegen
  * [[graft.functions.DotProduct]], so argmin (tie-broken on centroid
  * id) matches exactly.
  *
  * 100 TB posture: one corpus pass per Lloyd iteration, which is the
  * algorithm's lower bound. Per pass: the K-row centroid frame is
  * collected and embedded as plan literals (bounded by
  * [[Similarity.MaxLiteralCentroids]] — the same "broadcast-class
  * dimension" contract, made loud), the argmin is a PURE NARROW
  * projection on the scan (zero shuffle — the earlier window-over-id
  * form exchanged K×corpus rows per iteration; PlanSpec pins the
  * exchange's absence), and the centroid update partial-aggregates
  * (cid, pos) before its shuffle — the only corpus-wide exchange, and
  * it carries K·dim rows per partition, not the corpus. The tiny
  * centroid frame is localCheckpoint'ed each round so the next round's
  * collect and the caller's centroid join both reuse the materialized
  * K rows instead of replaying the corpus pass. At >2^53 scaled
  * component-sums the fixed-point mean would lose exactness (harmless
  * semantically; the oracle contract only binds at test scale).
  */
object Clustering {

  /** Fixed-point scale for centroid quantization: 6 decimal digits,
    * matching the repo-wide `round(_, 6)` output convention.
    */
  private val Scale = 1000000.0

  private def asD(c: Column): Column = c.cast("array<double>")

  /** Nearest-centroid assignment under squared L2 distance
    * (`|x|² - 2x·c + |c|²`), tie-broken on centroid id. ZERO-shuffle:
    * the centroid frame (small by contract, guarded by
    * [[Similarity.MaxLiteralCentroids]]) is collected and embedded as
    * literal arguments of the native `vec_nearest` expression
    * ([[Similarity.nearestCentroids]]), whose per-row primitive loop
    * accumulates each term ascending-index — the identical IEEE
    * sequence and Double.compare/cid tie-break of the former
    * `row_number over (order by d2, cid)` window and the r7
    * `array_min(transform(…))` fold, so assignments and d2 values are
    * bit-identical (the HOF fold evaluated its lambda interpreted per
    * (row × centroid) and went super-linear once K scaled with the
    * corpus). The former window formulation forced an
    * `Exchange hashpartitioning(vec_id)` of K×corpus rows once per
    * Lloyd iteration; this form is a pure narrow projection — the
    * corpus genuinely never shuffles here.
    * Output: (idCol, v: array&lt;double&gt;, cid, d2).
    *
    * CONTRACT (differs from the pre-r7 broadcast-join form in two loud
    * ways): the output `cid` column is always LONG — the centroid id is
    * cast to long for the literal fold, so an int/string cid column
    * does not propagate its type; and the centroid set must be
    * NON-EMPTY — an empty frame throws (the old cross-join form
    * returned an empty result, silently dropping the whole corpus).
    */
  def assignL2(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = Similarity.collectCentroids(centroids, "cid", "centroid")
    require(cents.nonEmpty, "assignL2: empty centroid set")
    corpus
      .select(col(idCol), asD(col(vecCol)).as("v"))
      .withColumn("__best",
        Similarity.nearestCentroids(col("v"), cents, 1, "l2"))
      .select(col(idCol), col("v"),
        element_at(col("__best"), 1).getField("cid").as("cid"),
        element_at(col("__best"), 1).getField("score").as("d2"))
  }

  /** Fixed-point centroid update from an [[assignL2]] output: per
    * (cid, pos) the quantized components sum exactly as longs (any
    * order), then `floor(sum/count)/10⁶` rebuilds the component and the
    * pos-sorted collect rebuilds the array. Clusters that lost all
    * members simply drop out (both engines agree, since assignments
    * are bit-identical).
    */
  def quantizedCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "comp")))
      .withColumn("f", floor(col("comp") * lit(Scale)))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("f")).as("s"), count(lit(1)).as("n"))
      .withColumn("cf", floor(col("s") / col("n")))
      .groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cf")))),
        x => x.getField("cf") / lit(Scale)).as("centroid"))

  /** `iters` Lloyd rounds from `init` (cid, centroid); returns the
    * final centroids. Each round's K-row centroid frame is eagerly
    * localCheckpoint'ed so the lineage (and hence plan depth) stays
    * constant across iterations. NOTE: every iteration pays ONE driver
    * sync — [[assignL2]] collects the K-row centroid frame to embed it
    * as plan literals — so total driver round-trips scale as the
    * iteration count (K rows each, bounded by
    * [[Similarity.MaxLiteralCentroids]]): negligible per round, but a
    * 100-iteration trainer should budget 100 collect+job cycles, not
    * one.
    */
  def lloydCentroids(corpus: DataFrame, init: DataFrame, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    var cent = init.select(col("cid"), asD(col("centroid")).as("centroid"))
    for (_ <- 1 to iters)
      cent = quantizedCentroids(assignL2(corpus, cent, idCol, vecCol))
        .localCheckpoint(true)
    cent
  }

  /** k-means end-to-end: `iters` Lloyd rounds then the final
    * assignment. Output: (idCol, v, cid, d2).
    */
  def kmeansAssign(corpus: DataFrame, init: DataFrame, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignL2(corpus, lloydCentroids(corpus, init, iters, idCol, vecCol),
      idCol, vecCol)

  /** SemDeDup (Abbas et al. 2023, public): cluster the corpus, then
    * within each cluster drop every vector that has a near-identical
    * (cosine ≥ `threshold`) neighbor with a smaller id — the
    * keep-lowest-id rule makes the prune deterministic without a
    * second distance pass. The within-cluster pair scan reuses
    * [[Similarity.cosineNearDupPairs]] (capped, block-local), so the
    * quadratic is bounded per cluster exactly as in the LSH paths.
    * Output: one row per vector — (cid, idCol, kept).
    *
    * CAP SEMANTICS (loud, not silent): a cluster larger than
    * `maxClusterSize` contributes NO pairs — every one of its members
    * comes back `kept = true`, un-deduped. That is the deliberate
    * recall-for-boundedness trade of all the capped candidate
    * generators here, but for SemDeDup the over-cap clusters are
    * exactly the most duplicate-prone ones, so size `maxClusterSize`
    * to your K/corpus ratio (E[cluster] = N/K; the cap should be a
    * skew guard, several× that, not below it). The q129 oracle mirrors
    * the cap, so an over-cap cluster at a bigger fixture shows up as
    * matching kept=true rows on both engines, never silent divergence.
    */
  def semDedup(corpus: DataFrame, init: DataFrame, iters: Int,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", maxClusterSize: Int = 10000): DataFrame = {
    val assigned = kmeansAssign(corpus, init, iters, idCol, vecCol)
    val removed = Similarity.cosineNearDupPairs(assigned,
        blockCol = "cid", threshold = threshold, idCol = idCol,
        vecCol = "v", maxBlockSize = maxClusterSize)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("rm", lit(true))
    assigned.join(removed, Seq(idCol), "left")
      .select(col("cid"), col(idCol), col("rm").isNull.as("kept"))
  }

  // ------------------------------------------------------------------
  // Written semantic (cluster) index — SemDeDup's day-2 layout
  // ------------------------------------------------------------------

  /** Materializes the SEMANTIC INDEX: an [[assignL2]] output persisted
    * parquet PARTITIONED BY the cluster id — the written layout behind
    * incremental SemDeDup (q173). Rows carry the exact double
    * vector (`v` — parquet round-trips doubles bit-identically, so
    * served cosines equal in-session ones), the assignment distance
    * `d2` (the drift audit's raw material — it is already computed by
    * [[assignL2]], storing it is free), and a `gen` generation tag
    * (0 = base build; appends stamp their own — the per-generation
    * contribution idiom of the BM25/exact layouts).
    *
    * 100 TB posture: the corpus pays its assignment scan once at build
    * time; every day-2 probe ([[semDedupIndexed]]) then reads ONLY the
    * cluster directories the new snapshot touches via static partition
    * pruning. Directory fan-out is K — the centroid family is
    * broadcast-class by the [[Similarity.MaxLiteralCentroids]]
    * contract, and a SemDeDup K targets E[cluster] = N/K documents,
    * orders of magnitude above 1, so K stays far below the corpus.
    * Reference anchor: the partition-pruned serving shape of
    * `flink-table`'s `supportsPartitionPushDown` sources (SURVEY §2.1);
    * algorithm: Abbas et al. 2023 (SemDeDup), public.
    */
  def semanticWriteIndex(assigned: DataFrame, path: String,
      idCol: String = "vec_id"): Unit =
    IndexLayout.semantic(idCol).write(assigned, path, None,
      memberRows(assigned, idCol, gen = 0))

  /** Appends a NEW-SNAPSHOT generation of assignments — delta-sized,
    * zero base reads. The delta must be assigned against the SAME
    * FROZEN centroid family as the base build (per-vector assignment
    * is independent of the rest of the corpus, so
    * `build(base) ⊎ append(delta) ≡ build(base ∪ delta)` under frozen
    * centroids — q173 gates that equality); retraining centroids on
    * the grown corpus is a REBUILD, not an append, and
    * [[semanticDriftAudit]] is the detector that tells you when it is
    * due. Same exactly-once append contract as
    * [[Similarity.ivfAppendIndex]]: a replayed append lands duplicate
    * member rows that inflate cluster sizes and can double-drop
    * snapshot ids — run appends under an external exactly-once driver.
    */
  def semanticAppendIndex(assignedDelta: DataFrame, path: String,
      gen: Int, idCol: String = "vec_id"): Unit = {
    require(gen > 0, s"append generations start at 1 (0 is the base build), got $gen")
    IndexLayout.semantic(idCol).append(path,
      memberRows(assignedDelta, idCol, gen))
  }

  private def memberRows(assigned: DataFrame, idCol: String,
      gen: Int): DataFrame =
    assigned
      .select(col(idCol), col("v"), col("d2"), lit(gen).as("gen"), col("cid"))

  /** Incremental SemDeDup of a new snapshot against a semantic index
    * that already contains it ([[semanticWriteIndex]] +
    * [[semanticAppendIndex]]): for every snapshot vector, `kept` is
    * decided against the FULL union membership of its cluster — a
    * snapshot vector is dropped when ANY smaller-id union member
    * (base or snapshot) sits at cosine ≥ `threshold`, exactly the
    * [[semDedup]] keep-lowest-id rule, so the result hash-equals the
    * fresh whole-union run under the same frozen centroids (q173's
    * gate). Same cap semantics as [[semDedup]]: clusters whose FULL
    * union size exceeds `maxClusterSize` contribute no pairs — their
    * snapshot members come back `kept = true`, the loud
    * recall-for-boundedness trade, measured on union membership so
    * both the fresh run and this probe cap identically.
    *
    * Cost shape: ONE partition-pruned read of the touched cluster
    * directories ([[Similarity.bucketScan]] of the snapshot's cluster
    * ids, bounded by `maxProbedClusters`) feeding a cluster-keyed join:
    * |snapshot ∩ cluster| × |cluster| candidate pairs, quadratic only
    * inside the cap, never corpus-wide.
    */
  def semDedupIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, snapshotAssigned: DataFrame, threshold: Double,
      idCol: String = "vec_id", maxClusterSize: Int = 10000,
      maxProbedClusters: Int = Similarity.MaxLiteralCentroids): DataFrame = {
    // materialize the (delta-sized) snapshot projection once: it feeds
    // BOTH the driver's distinct-cid collect and the pair join below,
    // and Catalyst will not reuse the subtree across the collect — an
    // assignL2-derived snapshot would otherwise pay its assignment
    // scan twice (the lloydCentroids reuse idiom; ADVICE.md r14).
    // Callers that already checkpointed their snapshot (to share it
    // with an append write) pay one extra delta-sized narrow copy
    // here — accepted so the collect-reuse guarantee is self-contained
    // rather than a caller contract
    val snap = snapshotAssigned
      .select(col("cid").cast("long").as("cid"), col(idCol).as("id"),
        asD(col("v")).as("xv"))
      .withColumn("xn", Similarity.l2norm(col("xv")))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
    val members = Similarity.bucketScan(spark, IndexPaths.resolve(spark, path),
        snap, "cid", maxProbedClusters, "semDedupIndexed",
        "a fresh semDedup run, which reads the same clusters without the " +
          "index round-trip")
      .select(col("cid").cast("long").as("cid"), col(idCol).as("uid"),
        asD(col("v")).as("uv"))
      .withColumn("cn", count(lit(1)).over(w))
      .withColumn("un", Similarity.l2norm(col("uv")))
    val removed = snap.join(members, Seq("cid"))
      .filter(col("cn") <= maxClusterSize && col("uid") < col("id"))
      .withColumn("sim",
        Similarity.dot(col("xv"), col("uv")) / (col("xn") * col("un")))
      .filter(col("sim") >= threshold)
      .select(col("id")).distinct()
      .withColumn("rm", lit(true))
    snap.join(removed, Seq("id"), "left")
      .select(col("cid"), col("id").as(idCol), col("rm").isNull.as("kept"))
  }

  /** CENTROID-STALENESS drift audit of a semantic index — the
    * embedding-side twin of the bigram-model drift audit (q169) and of
    * the PQ codebook-freshness discussion (q140): frozen centroids
    * serve appends exactly (q173's equality), but a snapshot whose
    * DISTRIBUTION has moved away from the base corpus clusters badly —
    * shares shift and assignment distances grow — and nothing in the
    * append path itself fails. This audit is the detector that turns
    * "when do we retrain/rebuild?" from a guess into a measurement.
    *
    * One grouped scan of the index: per cluster, base (gen = 0) vs
    * snapshot (gen > 0) member counts, corpus-share of each side, and
    * the fixed-point MEAN assignment distance (`floor(Σfloor(d2·10⁶)/n)
    * /10⁶` — the centroid-update quantization idiom, so the value is
    * bit-identical cross-engine and aggregation-order-free).
    * `drifted` flags clusters whose snapshot share moved more than
    * `shareDrift` absolute from their base share — the standard
    * population-stability signal; mean-d2 inflation on the snapshot
    * side separates "cluster grew" from "cluster no longer fits".
    * Output: (cid, n_base, n_new, share_base, share_new, mean_d2_base,
    * mean_d2_new, drifted) — one row per cluster, K rows total, so the
    * global-share window runs on a K-row frame, never the corpus.
    * A generation side with no rows at all (audit before any append,
    * or a base-less index) yields null shares on that side and
    * `drifted = false` — absence of a snapshot is "no drift signal",
    * never a null that breaks `!drifted` consumers. q175 gates the
    * full table against a DuckDB replay on a label-shifted snapshot.
    */
  def semanticDriftAudit(spark: org.apache.spark.sql.SparkSession,
      path: String, shareDrift: Double = 0.05): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val agg = spark.read.parquet(IndexPaths.resolve(spark, path))
      .select(col("cid").cast("long").as("cid"), col("gen"),
        floor(col("d2") * lit(Scale)).cast("long").as("d2f"))
      .groupBy(col("cid"))
      .agg(
        count(when(col("gen") === 0, lit(1))).as("n_base"),
        count(when(col("gen") =!= 0, lit(1))).as("n_new"),
        sum(when(col("gen") === 0, col("d2f"))).as("sf_base"),
        sum(when(col("gen") =!= 0, col("d2f"))).as("sf_new"))
    agg
      // an entirely-empty generation side (e.g. audit before any
      // append) would make every share on that side 0/0 → null and
      // poison `drifted` to null; guard the division and pin the flag
      // to false — "no snapshot yet" is "no drift signal", not unknown
      .withColumn("share_base",
        when(sum(col("n_base")).over(wAll) > 0,
          col("n_base") / sum(col("n_base")).over(wAll)))
      .withColumn("share_new",
        when(sum(col("n_new")).over(wAll) > 0,
          col("n_new") / sum(col("n_new")).over(wAll)))
      .select(col("cid"), col("n_base"), col("n_new"),
        round(col("share_base"), 6).as("share_base"),
        round(col("share_new"), 6).as("share_new"),
        when(col("n_base") > 0,
          floor(col("sf_base") / col("n_base")) / lit(Scale))
          .as("mean_d2_base"),
        when(col("n_new") > 0,
          floor(col("sf_new") / col("n_new")) / lit(Scale))
          .as("mean_d2_new"),
        coalesce(
          abs(col("share_new") - col("share_base")) > lit(shareDrift),
          lit(false)).as("drifted"))
  }
}
