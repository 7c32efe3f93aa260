package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search operators over an `Array[Float]` column:
  * brute-force cosine top-k (the correctness baseline) and an IVF-style
  * bucketed variant (the scale path). Dot products run through the
  * native codegen expression `vec_dot` ([[graft.functions.DotProduct]])
  * — no UDFs, no per-element lambda plumbing — and all math is promoted
  * to double with left-to-right accumulation so results are
  * reproducible.
  *
  * 100 TB posture:
  *  - the query set / centroid set is small by construction → broadcast;
  *    the corpus side never shuffles for brute-force scoring (narrow map
  *    + per-query top-k partial aggregation via window over query key);
  *  - IVF turns global search into a bucket-local join: corpus is
  *    assigned to its nearest centroid once (zero-shuffle literal
  *    argmin — see [[ivfAssign]]), then queries probe only their own
  *    bucket — the join is keyed on the bucket id, AQE handles
  *    residual skew.
  */
object Similarity {

  private def asD(c: Column): Column = c.cast("array<double>")

  /** Left-to-right dot product of two double-array columns — the native
    * codegen expression [[graft.functions.DotProduct]] (registered per
    * session by [[graft.Tables.load]]); bit-identical to the
    * `aggregate(zip_with(…))` fold it replaced, ~array-traversal cost
    * instead of per-element lambda evaluation.
    */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", asD(a), asD(b))

  /** L2 norm of a double-array column (left-to-right accumulation). */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array columns, computed in double.
    *
    * Convenience form for ad-hoc use. The operators below do NOT call it
    * pairwise: higher-order functions are interpreted (not codegen'd), so
    * the per-pair cost is dominated by array traversals — each side's
    * norm and double-cast is precomputed per ROW before the join, leaving
    * a single zip_with+aggregate dot per pair (same math, same
    * left-to-right order, bit-identical results).
    */
  def cosine(a: Column, b: Column): Column = {
    val da = asD(a)
    val db = asD(b)
    dot(da, db) / (l2norm(da) * l2norm(db))
  }

  /** DuckDB twin of [[dot]] (same order of operations, double math). */
  def dotSql(x: String, y: String): String =
    s"list_sum(list_transform(list_zip(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[])), p -> p[1] * p[2]))"

  /** DuckDB twin of [[cosine]] (same order of operations, double math). */
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  // ------------------------------------------------------------------
  // The vector-serve core: every top-k serve here and in [[Pq]] is a
  // query frame, candidate rows and the one rank tail
  // ------------------------------------------------------------------

  /** Query frame `(query_id, qv, carry…, qn)`: ids, double vectors and
    * norms, one row per query. Not broadcast here: each serve hints it
    * where it joins.
    */
  private[graft] def queryVectors(queries: DataFrame, idCol: String,
      vecCol: String, carry: Column*): DataFrame =
    queries
      .select(col(idCol).as("query_id") +: asD(col(vecCol)).as("qv") +: carry: _*)
      .withColumn("qn", l2norm(col("qv")))

  /** Corpus frame `(neighbor_id, cv, carry…, cn)`, the candidate side of
    * [[queryVectors]]: the norm is computed per corpus row before the
    * join, so a candidate pair costs one dot product.
    */
  private[operators] def corpusVectors(corpus: DataFrame, idCol: String,
      vecCol: String, carry: Column*): DataFrame =
    corpus
      .select(col(idCol).as("neighbor_id") +: asD(col(vecCol)).as("cv") +: carry: _*)
      .withColumn("cn", l2norm(col("cv")))

  /** Exact cosine of a [[corpusVectors]] × [[queryVectors]] row. */
  private[operators] def cosineQC: Column =
    dot(col("qv"), col("cv")) / (col("qn") * col("cn"))

  /** Candidate rows of `corpus` against the broadcast query frame `q`,
    * the self-match dropped at the join, before any scoring: keyed on
    * `on` (a bucket join), or with no keys the nested-loop join of a
    * brute-force scan.
    */
  private[operators] def candidates(corpus: DataFrame, q: DataFrame,
      on: String*): DataFrame =
    if (on.isEmpty) corpus.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
    else corpus.join(broadcast(q), on).filter(col("neighbor_id") =!= col("query_id"))

  /** The one rank tail of the vector serves, the engine's
    * `ROW_NUMBER() OVER (PARTITION BY query_id …) <= k`: `(query_id,
    * neighbor_id, sim)` rows in, `(query_id, rank, neighbor_id, sim)` out,
    * at most `k` rows per query. The contract every serve shares:
    *  - the self-match is excluded ([[candidates]] drops it at the join;
    *    a shortlist re-rank inherits it from its first stage);
    *  - ties break on ascending neighbor id, so ranks run 1, 2, … with no
    *    gap or repeat and the top-k set is deterministic;
    *  - `sim` is ranked at full double precision and rounded to 6 places
    *    only on output.
    * Spark plans the `rank <= k` filter as a partial `WindowGroupLimit`
    * before the query-keyed shuffle (PlanSpec pins it).
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Recall@k of a served top-k against the exact one (both
    * [[rankTopK]] outputs at `k`): per query `n_exact`,
    * `n_hit = |exact ∩ served|` and `recall = n_hit / n_exact`. Both
    * rankings break ties on neighbor id, so the intersection count is
    * exact; both sides are |Q|·k rows, so the served side broadcasts.
    */
  private[operators] def recallAtK(exact: DataFrame, served: DataFrame,
      k: Int): DataFrame =
    exact
      .join(broadcast(served.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("hit"))), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("query_id"), lit(k).as("k"), col("n_exact"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"),
          6).as("recall"))

  /** The one capped literal partition prune of a bucket-partitioned
    * layout (IVF, IVF-PQ, the semantic clusters): the distinct
    * `bucketCol` ids of `keys` are collected to the driver and pushed
    * into the scan of `dir` as a literal `isin`, so the scan's
    * `PartitionFilters` read only the probed directories (PlanSpec pins
    * the shape). Static pruning needs literals at plan time, and the
    * bucket id IS the partition value, so a semi-join on it (the
    * [[IndexLayout.probe]] shape) would only add a broadcast.
    *
    * The collect is structurally capped with the `limit(max + 1)` idiom
    * (the [[LookupJoin]] guard) and `require`d against `maxProbed`:
    * probed ids are centroid ids, so the [[MaxLiteralCentroids]]
    * broadcast-class bound applies, and a wider probe belongs on `op`'s
    * bucket-keyed `fallback`.
    */
  private[operators] def bucketScan(spark: SparkSession, dir: String,
      keys: DataFrame, bucketCol: String, maxProbed: Int, op: String,
      fallback: String): DataFrame = {
    val probed = keys.select(bucketCol).distinct()
      .limit(maxProbed + 1).collect().map(_.getLong(0))
    require(probed.length <= maxProbed,
      s"$op probed more than $maxProbed distinct $bucketCol values — the " +
        "probe must stay broadcast-class (it feeds a driver collect and a " +
        s"literal partition filter); use $fallback instead")
    spark.read.parquet(dir).filter(col(bucketCol).isin(probed.toSeq: _*))
  }

  /** Brute-force top-k: for every query vector, the k most-similar
    * corpus vectors under the [[rankTopK]] contract. `queries` is
    * expected to be small (it is broadcast).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(candidates(corpusVectors(corpus, idCol, vecCol),
      queryVectors(queries, idCol, vecCol)).withColumn("sim", cosineQC), k)

  /** Hard bounds on a centroid set embedded as plan literals by
    * [[ivfAssign]] / [[graft.operators.Clustering.assignL2]] — the same
    * "small by construction" contract the broadcast form had, made
    * loud. The BINDING bound is the payload: total embedded doubles
    * (rows × dim) capped at 4M ≈ 32 MB of plan constants — past that,
    * plan serialization and codegen constant-pool pressure bite long
    * before the row count does (at dim 1024 a bare 64k-row cap would
    * have admitted ~0.5 GB of literals). The row cap is the secondary
    * sanity bound: 64k centroids is the practical IVF/k-means K range.
    * Beyond either, the centroid set is no longer a broadcast-class
    * dimension and needs a different index shape (hierarchical / PQ),
    * not a bigger literal.
    */
  private[operators] val MaxLiteralCentroids = 65536

  /** Payload cap for [[collectCentroids]]: rows × dim embedded doubles
    * (4M ≈ 32 MB as plan literals). See [[MaxLiteralCentroids]].
    */
  private[operators] val MaxLiteralCentroidDoubles: Long = 4L << 20

  /** Collects a (small-by-contract) centroid frame to driver triples
    * `(cid, components, selfDot)` for literal embedding. The self dot
    * product accumulates ascending-index — the identical IEEE sequence
    * to [[graft.functions.DotProduct]] — so values are bit-equal to the
    * `vec_dot(centv, centv)` column they replace.
    */
  private[operators] def collectCentroids(
      centroids: DataFrame, cidCol: String, vecCol: String)
      : Seq[(Long, Seq[Double], Double)] = {
    val rows = centroids
      .select(col(cidCol).cast("long"), asD(col(vecCol)))
      .collect()
    require(rows.length <= MaxLiteralCentroids,
      s"centroid set has ${rows.length} rows; the literal-argmin bound is " +
        s"$MaxLiteralCentroids (a centroid set this large is no longer a " +
        "broadcast-class dimension)")
    val payload = rows.iterator
      .map(r => if (r.isNullAt(1)) 0L else r.getSeq[Double](1).length.toLong)
      .sum
    require(payload <= MaxLiteralCentroidDoubles,
      s"centroid set embeds $payload doubles (rows x dim) as plan " +
        s"literals; the payload bound is $MaxLiteralCentroidDoubles " +
        "(~32 MB) — past it plan serialization / codegen constant-pool " +
        "pressure bite; use a hierarchical or PQ index shape instead")
    rows.toSeq.map { r =>
      val cid = r.getLong(0)
      val v = r.getSeq[Double](1)
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      (cid, v, s)
    }
  }

  /** Column of the `n` nearest centroids of `vec` (ascending
    * (score, cid) structs) against a collected centroid family, via
    * the native [[graft.functions.NearestCentroids]] expression —
    * metric "cos" scores −cosine (aux = centroid norms), "l2" scores
    * squared L2 (aux = centroid self-dots). The expression replaces
    * the r7 `array_min(transform(…))` HOF fold, which evaluated its
    * lambda INTERPRETED per (row × centroid): with K scaling as
    * corpus/50 in the IVF fixture, that fold went super-linear at sf1
    * (measured 26 s for 20k × 400 × dim 64); the primitive-loop eval
    * does the same flops bit-identically in well under a second while
    * keeping the exact zero-shuffle plan shape.
    */
  private[operators] def nearestCentroids(
      vec: Column, cents: Seq[(Long, Seq[Double], Double)],
      n: Int, metric: String): Column =
    call_function("vec_nearest", asD(vec),
      typedLit(cents.map(_._1)), typedLit(cents.map(_._2)),
      typedLit(if (metric == "cos") cents.map(t => math.sqrt(t._3))
               else cents.map(_._3)),
      lit(n), lit(metric))

  /** The `nprobe` nearest centroid ids of each query vector `qv` (max
    * cosine, tie-break on centroid id, so nprobe = 1 is [[ivfAssign]]'s
    * own pick), exploded one row per probe: the `bucket` column of a
    * probed query frame. The probed buckets are distinct and a corpus
    * vector lives in one bucket, so bucket-keyed candidates need no
    * dedup; the query side is broadcast ×nprobe.
    */
  private[operators] def probeBuckets(qv: Column,
      cents: Seq[(Long, Seq[Double], Double)], nprobe: Int): Column =
    explode(transform(nearestCentroids(qv, cents, nprobe, "cos"),
      _.getField("cid")))

  /** IVF bucket assignment: nearest centroid per vector (max cosine,
    * tie-break on centroid id). ZERO-shuffle: the centroid set is
    * collected (guarded by [[MaxLiteralCentroids]] — the same bound the
    * broadcast form implied) and embedded as literal arguments of the
    * native `vec_nearest` expression ([[nearestCentroids]]), whose
    * per-row primitive loop scores every centroid with the identical
    * IEEE accumulation order and Double.compare/cid tie-break the
    * former `row_number over (order by csim desc, cid)` window and the
    * r7 `array_min` fold used, so picks are bit-identical. The former
    * window forced an `Exchange hashpartitioning(vec_id)` of K×corpus
    * rows carrying both vectors; this form is a pure narrow projection
    * on the scan.
    *
    * CONTRACT (differs from the pre-r7 broadcast-join form in two loud
    * ways): the output `bucket` column is always LONG — the centroid id
    * is cast to long for the literal fold, so an int/string centroid-id
    * column does not propagate its type; and the centroid set must be
    * NON-EMPTY — an empty frame throws (the old cross-join form
    * returned an empty result, silently dropping the whole corpus).
    */
  def ivfAssign(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val cents = collectCentroids(centroids, centroidIdCol, vecCol)
    require(cents.nonEmpty, "ivfAssign: empty centroid set")
    corpus
      .withColumn("__best", nearestCentroids(col(vecCol), cents, 1, "cos"))
      .select(col(idCol), col(vecCol),
        element_at(col("__best"), 1).getField("cid").as("bucket"))
  }

  /** IVF top-k: queries probe only their own bucket (nprobe=1). Recall is
    * traded for a bucket-local keyed join instead of a global scan.
    */
  def ivfTopK(
      assigned: DataFrame, queryIds: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    bucketTopK(assigned,
      queryVectors(assigned.join(queryIds, idCol), idCol, vecCol, col("bucket")),
      k, idCol, vecCol)

  /** IVF top-k with a recall knob: each query probes its `nprobe`
    * nearest centroid buckets ([[probeBuckets]]) instead of only its own
    * ([[ivfTopK]] ≡ nprobe=1 — single-probe recall cliffs at bucket
    * boundaries are the first thing a real ANN user hits, because a
    * query near a Voronoi edge has true neighbors assigned to the
    * adjacent cell). The candidate join stays keyed on the bucket id and
    * the corpus side never shuffles for scoring: candidate volume
    * scales linearly in nprobe, the standard IVF recall/cost trade.
    *
    * Same CONTRACT notes as [[ivfAssign]]: bucket/centroid ids compare
    * as LONG, and the centroid set must be non-empty.
    */
  def ivfTopKProbed(
      assigned: DataFrame, centroids: DataFrame, queryIds: DataFrame,
      k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame =
    probedTopK(centroids, assigned.join(queryIds, idCol), k, nprobe, idCol,
      vecCol, centroidIdCol, "ivfTopKProbed")(_ => assigned)

  /** Materializes an IVF index: an [[ivfAssign]] output written as
    * parquet PARTITIONED BY the bucket id. This is the 100 TB serving
    * layout: the corpus pays its assignment scan once at build time,
    * and every subsequent query batch reads only its probed buckets'
    * directories — `nprobe/K` of the data — via static partition
    * pruning ([[ivfTopKIndexed]]), instead of re-scanning and
    * re-assigning the corpus per batch the way [[ivfTopK]] does.
    */
  def ivfWriteIndex(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Appends a corpus DELTA to an existing index ([[ivfWriteIndex]])
    * without rebuilding: the delta is assigned against the SAME
    * centroid family as the base build (per-vector assignment is
    * independent of every other vector, so
    * `build(base) ⊎ append(delta) ≡ build(base ∪ delta)` — q137 gates
    * that equality against the fresh-build oracle), then its rows are
    * added to the existing `bucket=…` directories.
    *
    * Day-2 cost is DELTA-sized: one assignment scan of the delta and
    * one write — the base corpus is never read or rewritten. Plain
    * parquet `append` is deliberate (vs dynamic partition OVERWRITE,
    * which replaces whole touched buckets and would force reading the
    * base rows back just to rewrite them — re-assignment/compaction
    * semantics, not append). The delta pre-shuffles on the bucket id
    * so each touched bucket receives ONE file per append instead of
    * one per input partition — at 100 TB the small-file growth per
    * append round is then bounded by touched buckets, and periodic
    * compaction (a fresh [[ivfWriteIndex]]) stays a rare maintenance
    * op instead of a correctness need.
    *
    * NOT IDEMPOTENT — the caller owns exactly-once (ADVICE.md r10): a
    * retried or accidentally repeated append lands the SAME delta rows
    * in the touched buckets twice, and every subsequent serve scores
    * the duplicates (top-k then repeats neighbor ids — silent result
    * corruption, not an error). Parquet `append` has no transactional
    * marker to detect the replay, by design (the alternatives read the
    * base back). Run appends under an external exactly-once driver
    * (one writer, no blind retries); if a double-append is suspected,
    * audit with a `groupBy(idCol).count > 1` over the index and repair
    * by compacting (fresh [[ivfWriteIndex]] from a deduplicated read).
    */
  def ivfAppendIndex(assignedDelta: DataFrame, path: String): Unit =
    assignedDelta.repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(path)

  /** Serves [[ivfTopKProbed]] from a written index ([[ivfWriteIndex]]):
    * the same probe and scoring, with the corpus read through
    * [[bucketScan]], so a query batch reads ~`nprobe/K` of the corpus.
    * The query set must be broadcast-class (the [[bruteForceTopK]]
    * contract): `maxProbedBuckets` bounds its distinct probed buckets.
    */
  def ivfTopKIndexed(
      spark: SparkSession, path: String,
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id",
      maxProbedBuckets: Int = MaxLiteralCentroids): DataFrame =
    probedTopK(centroids, queries, k, nprobe, idCol, vecCol, centroidIdCol,
      "ivfTopKIndexed")(bucketScan(spark, path, _, "bucket",
        maxProbedBuckets, "ivfTopKIndexed", "the bucket-keyed join of ivfTopKProbed"))

  /** The body of [[ivfTopKProbed]] and [[ivfTopKIndexed]]: the probed
    * query frame, then cosine top-k over the corpus rows `corpus` picks
    * for it (a whole assigned frame, or a [[bucketScan]] of the probed
    * buckets).
    */
  private def probedTopK(centroids: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int, idCol: String, vecCol: String, centroidIdCol: String,
      op: String)(corpus: DataFrame => DataFrame): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cents = collectCentroids(centroids, centroidIdCol, vecCol)
    require(cents.nonEmpty, s"$op: empty centroid set")
    val q = queryVectors(queries, idCol, vecCol)
      .withColumn("bucket", probeBuckets(col("qv"), cents, nprobe))
    bucketTopK(corpus(q), q, k, idCol, vecCol)
  }

  /** Cosine top-k of bucket-assigned corpus rows against a query frame
    * carrying each query's bucket: the candidate join is keyed on the
    * bucket id.
    */
  private def bucketTopK(corpus: DataFrame, q: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame =
    rankTopK(candidates(corpusVectors(corpus, idCol, vecCol,
        col("bucket").cast("long").as("bucket")), q, "bucket")
      .withColumn("sim", cosineQC), k)

  /** QUALITY audit of a written IVF index: recall@k ([[recallAtK]]) of
    * the pruned serve ([[ivfTopKIndexed]] at `nprobe`) against exact
    * brute force over the SAME index. The structural audits (duplicate
    * members, payload divergence) say the artifact is intact; this one
    * says the artifact is GOOD — the number an ANN operator actually
    * watches, because recall decays silently as appends drift members
    * away from the frozen centroids (the failure
    * [[graft.operators.Clustering.semanticDriftAudit]] detects on
    * distributions, measured here on retrieval results). q183 gates
    * every per-query row against a DuckDB replay of both rankings.
    *
    * Scale shape: the query set is a broadcast-class SAMPLE; the exact
    * side is one full narrow scan of the index (the audit's irreducible
    * cost) with the queries broadcast; the served side prunes as in
    * serving.
    */
  def ivfRecallAudit(
      spark: SparkSession, path: String,
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val served = ivfTopKIndexed(spark, path, centroids, queries, k,
      nprobe, idCol, vecCol, centroidIdCol)
    recallAtK(bruteForceTopK(spark.read.parquet(path), queries, k, idCol,
      vecCol), served, k)
  }

  /** Embedding-cosine near-duplicate pairs within a blocking column
    * (e.g. a cluster label): pairs with cosine >= threshold. Blocks
    * larger than `maxBlockSize` are dropped before pairing — the same
    * guard the minhash path puts on LSH buckets: the per-block
    * self-join is quadratic in block size, so one viral block would
    * otherwise dominate the whole job at scale (pairs inside an
    * over-cap block are the recall trade, exactly as in LSH capping).
    */
  def cosineNearDupPairs(
      df: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBlockSize: Int = 10000): DataFrame = {
    val v = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        asD(col(vecCol)).as("v"))
      .withColumn("vn", l2norm(col("v")))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("blk"))))
      .filter(col("blk_n") <= maxBlockSize)
      .drop("blk_n")
    v.as("x").join(v.as("y"),
        col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
      .withColumn("sim", dot(col("x.v"), col("y.v")) / (col("x.vn") * col("y.vn")))
      .filter(col("sim") >= threshold)
      .select(col("x.blk").as("blk"), col("x.id").as("id_a"),
        col("y.id").as("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * `scale = max|v_i| / 127`, `q_i = round(v_i / scale)` stored as
    * tinyint — a 4x (fp32) / 8x (fp64) memory cut for the ANN corpus,
    * the standard trade at 100 TB scale where the vector store, not the
    * query side, dominates. Dequantize with [[dequantize]]; scoring
    * error is bounded by the per-dimension step `scale/2`.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dv = asD(col(vecCol))
    df.select(col(idCol),
        (aggregate(dv, lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0)
          .as("scale"),
        dv.as("__dv"))
      .select(col(idCol),
        // scale = 0 (all-zero vector) would make x/scale NaN → null
        // codes; the zero vector must quantize to zeros, not drop out
        transform(col("__dv"), x =>
          when(col("scale") > 0, round(x / col("scale")))
            .otherwise(lit(0)).cast("tinyint")).as("qvec"),
        col("scale"))
  }

  /** Reconstructs the double vector from (qvec, scale). */
  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, x => x.cast("double") * scale)

  // ------------------------------------------------------------------
  // Random-hyperplane LSH (the global near-dup scale path)
  // ------------------------------------------------------------------

  /** Deterministic Rademacher hyperplanes: component i of plane j is
    * +1/-1 from bit 0 of the shared md5-prefix hash of "hp:j:i" — no
    * RNG, so every engine and every retry builds the identical family
    * (the oracle embeds the same values as literals).
    */
  def hyperplanes(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map(j => (0 until dim).map(i =>
      if ((TextOps.hash32Str(md, s"hp:$j:$i") & 1L) == 1L) 1.0 else -1.0))
  }

  /** Hyperplane-LSH near-duplicate pairs, exact-verified — the GLOBAL
    * counterpart to [[cosineNearDupPairs]] (which needs a blocking
    * column): sign-bit signatures against `numPlanes` fixed hyperplanes,
    * banded like minhash so Hamming-close signatures collide, capped
    * buckets, then exact cosine on the candidates.
    *
    * 100 TB posture mirrors [[graft.operators.Dedup.minhashDedup]]
    * exactly: the signature is one codegen projection on the scan (the
    * planes are literal arrays — zero shuffle, no lookup side), the band
    * explode is one generator, buckets are capped before the pair join
    * bounds the quadratic, and verification touches only candidates.
    */
  def lshNearDupPairs(
      df: DataFrame, threshold: Double, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      numPlanes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    val rows = numPlanes / bands
    val planes = hyperplanes(numPlanes, dim)

    val v = df.select(col(idCol).as("id"), asD(col(vecCol)).as("v"))
      .withColumn("vn", l2norm(col("v")))
    val bitCols = planes.zipWithIndex.map { case (p, j) =>
      when(dot(col("v"), array(p.map(lit): _*)) >= 0, lit(1))
        .otherwise(lit(0)).as(s"b$j")
    }
    val sig = v.select(col("id") +: bitCols: _*)

    val banded = sig.select(col("id"),
      explode(array((0 until bands).map { b =>
        concat_ws("_",
          lit(b) +: (0 until rows).map(r => col(s"b${b * rows + r}")): _*)
      }: _*)).as("bk"))

    // bucket-local pair explosion from one keyed pass via the shared
    // [[Dedup.emitSortedPairs]] idiom (same shape and rationale as
    // minhashDedup — spillable window cap, bounded collect_list,
    // incremental tail-slice emission, self-pair guard); the 16-dot
    // signature projection runs ONCE instead of per self-join side
    val cands = Dedup.emitSortedPairs(banded, keys = Seq("bk"),
      item = col("id"), capCol = "bucket_n", maxGroupSize = maxBucketSize,
      aName = "id_a", bName = "id_b", dedupPairs = true)

    cands
      .join(v.select(col("id").as("id_a"), col("v").as("va"), col("vn").as("na")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("vb"), col("vn").as("nb")), "id_b")
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }
}
