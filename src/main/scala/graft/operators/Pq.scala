package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public): the index shape
  * [[Similarity.MaxLiteralCentroids]]'s scaladoc promises for the
  * regime its literal-centroid bound refuses. A flat IVF wants
  * K ≈ √N coarse centroids — at 100 TB that is K ≫ 64k, past the
  * 32 MB literal-payload wall. PQ changes what scales with the corpus:
  * the vector's dimensions are split into `m` subspaces, each subspace
  * gets its OWN tiny codebook (`ksub` codes, trained by the existing
  * deterministic per-subspace Lloyd arithmetic), and a corpus vector is
  * stored as `m` small codes instead of `dim` floats. The codebook
  * payload is `ksub × dim` doubles — INDEPENDENT of corpus size
  * (m=16, ksub=256, dim=1024 ≈ 2 MB where flat IVF at K=√N would need
  * gigabytes of centroid literals) — while representational capacity is
  * `ksub^m` distinct reconstructions, the product-space trick that
  * makes K ≫ 64k index shapes expressible at all.
  *
  * Serving is ADC (asymmetric distance computation): each query
  * precomputes an m×ksub lookup table of subspace dot products ONCE,
  * then scoring a corpus vector is `m` table adds (the native
  * [[graft.functions.PqAdc]] expression — fully codegen'd; the
  * interpreted-HOF equivalent is the exact shape that went super-linear
  * in the r8 q133 argmin) instead of `dim` multiplies against floats
  * that would have to be resident. 100 TB posture: the corpus side
  * carries `m` bytes-per-code instead of `4·dim` bytes — a 32× memory
  * cut at m=16/dim=128 — and never shuffles for scoring (codes are a
  * narrow projection on the scan; the query side broadcasts with its
  * LUTs; the only exchange is the per-query top-k window on
  * (query_id, code-score) rows, identical to [[Similarity.bruteForceTopK]]'s
  * accepted shape). Composes with IVF: encode per-bucket residuals for
  * IVF-PQ; here PQ serves flat, gated by recall against exact top-k
  * (q136, the q96 pattern).
  *
  * Determinism: training reuses the fixed-point centroid-update
  * arithmetic of [[Clustering]] (quantize components to 1e-6 BEFORE
  * summing — long sums are order-independent where double sums are
  * not), assignment ties break on code id via the same
  * Double.compare/cid ordering as `vec_nearest`, and the final code
  * remap is order-preserving, so two trainings of the same corpus are
  * bit-identical.
  */
object Pq {

  private def asD(c: Column): Column = c.cast("array<double>")

  /** Fixed-point scale for centroid quantization — same 1e6 as
    * [[Clustering]] (6 decimal digits, the repo-wide round(_, 6)
    * convention).
    */
  private val Scale = 1000000.0

  /** Driver-side codebook: per subspace (ascending), the (code,
    * centroid, selfDot) triples in ascending-code order. Guarded by the
    * same bounds as [[Similarity.collectCentroids]] — the codebook is a
    * broadcast-class dimension BY CONSTRUCTION (ksub × dim doubles,
    * corpus-independent), so hitting these bounds means a caller bug,
    * not a scale wall.
    */
  private type Codebook = IndexedSeq[IndexedSeq[(Long, Seq[Double], Double)]]

  private def collectCodebook(codebook: DataFrame): Codebook = {
    val rows = codebook
      .select(col("sub").cast("int"), col("code").cast("long"),
        asD(col("centroid")))
      .collect()
    require(rows.length <= Similarity.MaxLiteralCentroids,
      s"PQ codebook has ${rows.length} rows; the literal bound is " +
        s"${Similarity.MaxLiteralCentroids} — a codebook is ksub × m " +
        "rows by construction, so this is a caller bug, not corpus scale")
    val payload = rows.iterator
      .map(r => if (r.isNullAt(2)) 0L else r.getSeq[Double](2).length.toLong)
      .sum
    require(payload <= Similarity.MaxLiteralCentroidDoubles,
      s"PQ codebook embeds $payload doubles as plan literals; the bound " +
        s"is ${Similarity.MaxLiteralCentroidDoubles} (~32 MB)")
    val bySub = rows.groupBy(_.getInt(0))
    (0 until bySub.size).map { j =>
      val g = bySub.getOrElse(j, throw new IllegalArgumentException(
        s"PQ codebook is missing subspace $j — subs must be contiguous 0..m-1"))
      g.map { r =>
        val v = r.getSeq[Double](2)
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (r.getLong(1), v, s)
      }.sortBy(_._1).toIndexedSeq
    }
  }

  private def subWidth(cb: Codebook): Int = cb.head.head._2.length

  /** Query-side ADC dot-LUT: the m·stride table `pq_adc` consumes,
    * emitted by the native [[graft.functions.PqLut]] expression in one
    * pass — entry `j·stride + s` is the ascending-index dot of the
    * query's subspace-j slice with codebook centroid (j, s); dead
    * Lloyd slots pad with 0.0 and are never indexed (the encoder emits
    * only live codes). Replaces the column-per-slot
    * `array(vec_dot(slice(…)))` builder, which materialized m·ksub
    * separate Catalyst expressions (2,048 at q136's m=32/ksub=64 —
    * the corpus's largest codegen unit, VERDICT r10) for the same
    * values bit-for-bit. Stays query-side only: the expression
    * evaluates once per query row before the broadcast.
    */
  private def dotLutCol(qv: Column, cb: Codebook, stride: Int): Column = {
    val flat: Seq[Seq[Double]] = for {
      j <- cb.indices
      s <- 0 until stride
    } yield if (s < cb(j).length) cb(j)(s)._2 else Seq.empty[Double]
    call_function("pq_lut", qv, typedLit(flat), lit(stride))
  }

  /** `codes` column: per subspace j, the nearest (squared-L2,
    * tie-break on code id) codebook centroid of `slice(v, j·w+1, w)` —
    * m native `vec_nearest` calls over literal families, one narrow
    * projection, zero shuffle.
    */
  private def codesCol(v: Column, cb: Codebook): Column = {
    val w = subWidth(cb)
    array(cb.indices.map { j =>
      element_at(
        Similarity.nearestCentroids(slice(v, j * w + 1, w), cb(j), 1, "l2"),
        1).getField("cid")
    }: _*)
  }

  /** Per-subspace fixed-point Lloyd update from (v, codes) rows —
    * the [[Clustering.quantizedCentroids]] arithmetic keyed by
    * (sub, code, pos): quantized component-longs sum exactly in any
    * order, `floor(sum/count)/10⁶` rebuilds the component. The only
    * corpus-wide exchange of a training round, and it partial-aggregates
    * to ≤ m·ksub·w rows per partition before shuffling.
    */
  private def updateCodebook(assigned: DataFrame, w: Int): DataFrame =
    assigned
      .select(col("v"), posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("sub"), col("code"),
        posexplode(slice(col("v"), col("sub") * lit(w) + 1, lit(w)))
          .as(Seq("pos", "comp")))
      .withColumn("f", floor(col("comp") * lit(Scale)))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(sum(col("f")).as("s"), count(lit(1)).as("n"))
      .withColumn("cf", floor(col("s") / col("n")))
      .groupBy(col("sub"), col("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cf")))),
        x => x.getField("cf") / lit(Scale)).as("centroid"))

  /** Trains a PQ codebook: `m` subspaces × ≤`ksub` codes, `iters`
    * deterministic Lloyd rounds per subspace (all subspaces train in
    * the SAME corpus passes — one assignment projection + one update
    * shuffle per round, not per subspace). Init is the `ksub`
    * smallest-id vectors' subvectors (the [[Clustering]] q128
    * convention, made order-stable). Output: (sub: int,
    * code: bigint, centroid: array<double>) with codes REMAPPED to
    * contiguous 0..k_j−1 per subspace in an order-preserving way
    * (clusters can die during Lloyd; ADC lut indexing needs dense
    * codes), so [[pqEncode]] emits codes that index LUTs directly.
    *
    * Driver sync per round: one m·ksub-row codebook collect (the
    * [[Clustering.lloydCentroids]] contract — bounded, but a
    * 100-iteration trainer budgets 100 collect+job cycles).
    */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && ksub >= 1 && iters >= 0,
      s"pqTrain: need m >= 1, ksub >= 1, iters >= 0; got ($m, $ksub, $iters)")
    val dimRow = corpus.select(size(col(vecCol))).limit(1).collect()
    require(dimRow.nonEmpty, "pqTrain: empty corpus")
    val dim = dimRow.head.getInt(0)
    require(dim % m == 0,
      s"pqTrain: dim $dim must be divisible by m $m (equal-width subspaces)")
    val w = dim / m
    val seed = corpus.orderBy(col(idCol)).limit(ksub)
      .select(col(idCol).as("sid"), asD(col(vecCol)).as("v"))
      .withColumn("code",
        row_number().over(Window.orderBy(col("sid"))).cast("long") - 1)
    var cb = seed.select(col("code"),
        posexplode(col("v")).as(Seq("pos", "comp")))
      .withColumn("sub", floor(col("pos") / w).cast("int"))
      .groupBy(col("sub"), col("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("centroid"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val fams = collectCodebook(cb)
      val assigned = corpus
        .select(asD(col(vecCol)).as("v"))
        .withColumn("codes", codesCol(col("v"), fams))
      cb = updateCodebook(assigned, w).localCheckpoint(true)
    }
    // order-preserving dense remap (codes may have gaps after Lloyd)
    cb.withColumn("code",
        row_number().over(Window.partitionBy(col("sub"))
          .orderBy(col("code"))).cast("long") - 1)
      .localCheckpoint(true)
  }

  /** Encodes a corpus against a trained codebook: (idCol, codes) with
    * `codes(j)` the nearest code of subspace j — a pure narrow
    * projection (m native vec_nearest calls over literal families),
    * zero shuffle, the assignment half of the PQ memory trade: the
    * output carries m longs per vector instead of dim floats.
    */
  def pqEncode(corpus: DataFrame, codebook: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = collectCodebook(codebook)
    corpus.select(col(idCol), codesCol(asD(col(vecCol)), cb).as("codes"))
  }

  // ------------------------------------------------------------------
  // IVF-PQ: coarse buckets + PQ-quantized residuals (Jégou et al. §V,
  // "IVFADC" — the composition [[Pq]]'s scaladoc promises and q134's
  // partition-pruned layout completes: coarse prune cuts the scan to
  // ~nprobe/K of the corpus, ADC scans the survivors' codes)
  // ------------------------------------------------------------------

  /** Residuals of an IVF-assigned corpus against its coarse centroids:
    * `r = v − c_bucket`, the vectors PQ should quantize — residual
    * magnitudes are a fraction of the originals, so the same ksub
    * spends its codes on a tighter distribution. One broadcast join
    * against the (small-by-contract) centroid frame + an elementwise
    * subtract; zero corpus shuffle. The `zip_with` lambda is
    * interpreted per element — acceptable on a once-per-build path
    * (a native vec_sub expression is the promotion candidate if a
    * profile ever shows it).
    */
  def ivfResiduals(assigned: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val cents = broadcast(centroids.select(
      col(centroidIdCol).cast("long").as("bucket"),
      asD(col(vecCol)).as("__centv")))
    assigned
      .select(col(idCol), asD(col(vecCol)).as("__v"), col("bucket"))
      .join(cents, "bucket")
      .withColumn("resid", zip_with(col("__v"), col("__centv"),
        (a, b) => a - b))
      .select(col(idCol), col("bucket"), col("resid"))
  }

  /** Encodes an IVF-assigned corpus as (id, bucket, codes, cn):
    * `codes` quantize the RESIDual against `codebook` (trained by
    * [[pqTrain]] on [[ivfResiduals]] output), and `cn` is the exact
    * reconstruction norm `|c_bucket + r̂|` computed AT ENCODE TIME and
    * stored with the row — the published IVFADC design precomputes the
    * reconstruction-dependent terms at index build so serving never
    * touches vectors; storing the norm denormalized per row costs one
    * double against the `dim − m` floats PQ already saved. The
    * reconstruction `r̂` is a literal-table lookup per subspace
    * (payload = the codebook itself, corpus-independent), so the whole
    * encode is one narrow projection + the centroid broadcast join,
    * zero corpus shuffle.
    */
  def ivfPqEncode(assigned: DataFrame, centroids: DataFrame,
      codebook: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidIdCol: String = "centroid_id")
      : DataFrame = {
    val cb = collectCodebook(codebook)
    val cents = broadcast(centroids.select(
      col(centroidIdCol).cast("long").as("bucket"),
      asD(col(vecCol)).as("__centv")))
    val recon = concat(cb.indices.map { j =>
      element_at(typedLit(cb(j).map(_._2)),
        (element_at(col("codes"), j + 1) + lit(1L)).cast("int"))
    }: _*)
    assigned
      .select(col(idCol), asD(col(vecCol)).as("__v"), col("bucket"))
      .join(cents, "bucket")
      .withColumn("resid", zip_with(col("__v"), col("__centv"),
        (a, b) => a - b))
      .withColumn("codes", codesCol(col("resid"), cb))
      .withColumn("__rec", zip_with(col("__centv"), recon, (a, b) => a + b))
      .withColumn("cn", Similarity.l2norm(col("__rec")))
      .select(col(idCol), col("bucket"), col("codes"), col("cn"))
  }

  /** IVF-PQ ADC top-k: queries probe their `nprobe` nearest coarse
    * buckets, then score ONLY those buckets' code rows as
    * `(dot(q, c_b) + Σ_j dotLut_q[j][codes_j]) / (|q| · cn)` — the
    * numerator splits over the reconstruction `c_b + r̂`: a per-(query,
    * probe) constant plus m codegen table adds against the RESIDUAL
    * codebook LUT, the denominator reads the encode-time norm.
    *
    * Plan shape (the complete 100 TB story): the corpus side reads
    * (id, bucket, codes, cn) — no vectors — and joins BUCKET-KEYED
    * against the broadcast query×probe frame (each row carrying its
    * dot-LUT and its `dot(q, c_b)` constant), so with q134's
    * bucket-partitioned layout the scan prunes to ~nprobe/K of the
    * corpus and each surviving row costs m table adds. The only
    * exchange is the per-query top-k window.
    */
  def ivfPqTopK(encoded: DataFrame, centroids: DataFrame,
      codebook: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame =
    ivfPqServe(centroids, codebook, queries, k, nprobe, idCol, vecCol,
      centroidIdCol, "ivfPqTopK")(_ => encoded)

  /** The body of [[ivfPqTopK]] and [[ivfPqTopKIndexed]]: the probed
    * query frame — the m×stride dot-LUT built once per query BEFORE the
    * nprobe explode and carried into each probe row (ADVICE.md r10),
    * plus the per-probe constant `qc = dot(q, c_b)` — then ADC top-k
    * over the code rows `corpus` picks for it (a whole encoded frame,
    * or a [[Similarity.bucketScan]] of the probed buckets).
    */
  private def ivfPqServe(centroids: DataFrame, codebook: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, idCol: String,
      vecCol: String, centroidIdCol: String, op: String)(
      corpus: DataFrame => DataFrame): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cb = collectCodebook(codebook)
    val stride = cb.map(_.length).max
    val centsSeq = Similarity.collectCentroids(centroids, centroidIdCol, vecCol)
    require(centsSeq.nonEmpty, s"$op: empty centroid set")
    val centFrame = centroids.select(
      col(centroidIdCol).cast("long").as("bucket"),
      asD(col(vecCol)).as("__centv"))
    val q = Similarity.queryVectors(queries, idCol, vecCol)
      .withColumn("dlut", dotLutCol(col("qv"), cb, stride))
      .withColumn("bucket", Similarity.probeBuckets(col("qv"), centsSeq, nprobe))
      .join(centFrame, "bucket")
      .withColumn("qc", Similarity.dot(col("qv"), col("__centv")))
      .drop("qv", "__centv")
    val codes = corpus(q).select(col(idCol).as("neighbor_id"),
      col("bucket").cast("long").as("bucket"), col("codes"), col("cn"))
    Similarity.rankTopK(Similarity.candidates(codes, q, "bucket")
      .withColumn("sim",
        (col("qc") + call_function("pq_adc", col("codes"), col("dlut"),
          lit(stride))) / (col("qn") * col("cn"))), k)
  }

  /** Materializes an IVF-PQ index: [[ivfPqEncode]] output
    * (id, bucket, codes, cn) written as parquet PARTITIONED BY the
    * coarse bucket id — [[Similarity.ivfWriteIndex]]'s serving layout
    * with PQ codes instead of raw vectors. This is the complete 100 TB
    * index shape the IVFADC composition promises: the directory
    * partitioning lets a query batch prune its scan to ~nprobe/K of
    * the corpus ([[ivfPqTopKIndexed]]), and each surviving row costs
    * `m` longs + one stored norm instead of `dim` floats — the PQ
    * memory trade now applied to what's READ, not just what's held.
    * q138 serves the same arithmetic from an in-session frame; until
    * this write→prune→serve path, the composed index was a per-session
    * computation, not an index (VERDICT r10 "What's missing" #1).
    */
  def ivfPqWriteIndex(encoded: DataFrame, path: String): Unit =
    Similarity.ivfWriteIndex(encoded, path)

  /** Appends a PQ-coded corpus DELTA to a written IVF-PQ index: encode
    * the delta with [[ivfPqEncode]] against the SAME coarse centroids
    * and the FROZEN codebook of the base build, then bucket-append
    * ([[Similarity.ivfAppendIndex]] — delta pre-shuffled on bucket id,
    * one file per touched bucket, base never read back; the same
    * NOT-IDEMPOTENT / caller-owns-exactly-once contract).
    *
    * CODEBOOK DRIFT — the semantic that makes PQ append different from
    * raw-vector append (q137): an appended row's codes quantize its
    * residual against centroids trained WITHOUT it. Append therefore
    * deliberately does NOT retrain: retraining would change every
    * existing row's codes (a full re-encode — rebuild semantics, not
    * append). That is exact for correctness — serving replays the same
    * frozen arithmetic, and q140 gates append ≡ frozen-codebook
    * fresh-encode-on-union by hash — but quantization ERROR degrades
    * gradually if the delta's residual distribution drifts from the
    * training corpus (new embedding model, new domain): recall sags,
    * results stay well-defined. Acceptable while deltas come from the
    * same embedding space the codebook was trained on; on a
    * distribution shift, retrain + full re-encode (a fresh
    * [[ivfPqWriteIndex]]) — the compaction-class maintenance op.
    */
  def ivfPqAppendIndex(encodedDelta: DataFrame, path: String): Unit =
    Similarity.ivfAppendIndex(encodedDelta, path)

  /** Serves [[ivfPqTopK]] from a WRITTEN index ([[ivfPqWriteIndex]]):
    * the same probe and scoring arithmetic, with the code rows read
    * through [[Similarity.bucketScan]], so the scan reads ~nprobe/K of
    * the index directories (the q134 PartitionFilters shape) and each
    * row read is codes+norm, not a vector. `maxProbedBuckets` bounds the
    * query set's distinct probed buckets.
    */
  def ivfPqTopKIndexed(
      spark: SparkSession, path: String,
      centroids: DataFrame, codebook: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidIdCol: String = "centroid_id",
      maxProbedBuckets: Int = Similarity.MaxLiteralCentroids): DataFrame =
    ivfPqServe(centroids, codebook, queries, k, nprobe, idCol, vecCol,
      centroidIdCol, "ivfPqTopKIndexed")(Similarity.bucketScan(spark, path,
        _, "bucket", maxProbedBuckets, "ivfPqTopKIndexed",
        "the bucket-keyed join of ivfPqTopK"))

  /** Writes a SELF-CONTAINED IVF-PQ index: the encoded code rows
    * ([[ivfPqWriteIndex]]'s bucket-partitioned layout under `codes/`)
    * PLUS the serving metadata — coarse centroids under
    * `meta/centroids/`, the trained codebook under `meta/codebook/` —
    * so a FRESH session serves with nothing but the path
    * ([[ivfPqTopKFromIndex]]). Without this, q139's layout still
    * depended on the builder's in-session centroid/codebook frames:
    * an index a new reader cannot open is a cache, not an index. The
    * metadata is broadcast-class by contract (K×dim + m·ksub×w
    * doubles, corpus-independent), so `coalesce(1)` keeps each a
    * single file; parquet doubles round-trip exactly, which q141
    * gates by hash-equality against the same oracle as q139.
    */
  def ivfPqWriteIndexFull(encoded: DataFrame, centroids: DataFrame,
      codebook: DataFrame, path: String, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidIdCol: String = "centroid_id")
      : Unit = {
    IndexPaths.clearPointer(encoded.sparkSession, path)
    ivfPqWriteIndex(encoded, s"$path/codes")
    centroids
      .select(col(centroidIdCol).cast("long").as("centroid_id"),
        asD(col(vecCol)).as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta/centroids")
    codebook
      .select(col("sub").cast("int"), col("code").cast("long"),
        asD(col("centroid")).as("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta/codebook")
  }

  /** Serves ADC top-k from a [[ivfPqWriteIndexFull]] index with ALL
    * inputs read from the path — codes, centroids, codebook — the
    * "open a 100 TB index cold" path: a serving session needs no
    * handle to the build session's frames, only the directory.
    * Delegates to [[ivfPqTopKIndexed]], so the partition-pruned scan
    * shape and the bounded probed-bucket collect are identical.
    */
  def ivfPqTopKFromIndex(
      spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxProbedBuckets: Int = Similarity.MaxLiteralCentroids): DataFrame = {
    val root = IndexPaths.resolve(spark, path)
    ivfPqTopKIndexed(spark, s"$root/codes",
      // metadata persists under canonical names; align to the caller's
      // query-side vecCol (ivfPqTopKIndexed reads one vecCol for both)
      spark.read.parquet(s"$root/meta/centroids")
        .withColumnRenamed("embedding", vecCol),
      spark.read.parquet(s"$root/meta/codebook"),
      queries, k, nprobe, idCol, vecCol, "centroid_id", maxProbedBuckets)
  }

  /** Appends a RAW-vector delta to a self-contained index
    * ([[ivfPqWriteIndexFull]]) using ONLY the path: coarse centroids
    * and the frozen codebook are read from `meta/`, the delta is
    * assigned, residual-encoded, and bucket-appended under `codes/` —
    * the day-2 op with no handle to the build session (q140's append
    * still required the builder's in-session frames). Same frozen-
    * codebook drift semantic and NOT-IDEMPOTENT contract as
    * [[ivfPqAppendIndex]]; the metadata is never rewritten (append
    * must not retrain — a metadata rewrite here would be rebuild
    * semantics wearing append's name).
    */
  def ivfPqAppendToIndex(
      spark: SparkSession, path: String,
      delta: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val root = IndexPaths.resolve(spark, path)
    val centroids = spark.read.parquet(s"$root/meta/centroids")
      .withColumnRenamed("embedding", vecCol)
    val codebook = spark.read.parquet(s"$root/meta/codebook")
    val assigned = Similarity.ivfAssign(delta, centroids, idCol, vecCol,
      "centroid_id")
    ivfPqAppendIndex(
      ivfPqEncode(assigned, centroids, codebook, idCol, vecCol,
        "centroid_id"),
      s"$root/codes")
  }

  /** Per-bucket occupancy and norm-range stats of a written IVF-PQ
    * index (`codes/` of [[ivfPqWriteIndexFull]] or the bare
    * [[ivfPqWriteIndex]] layout) — the operational surface a served
    * index needs: bucket SKEW is what drives probe-cost variance (a
    * hot bucket makes every query probing it pay its size), `n_vecs`
    * distribution is the re-balance / re-train signal, and the row
    * counts double as a layout-integrity audit (a dropped or
    * double-appended bucket shows immediately — the
    * [[ivfPqAppendIndex]] idempotency audit, cheaper than the full
    * groupBy-id scan its scaladoc describes when per-bucket counts
    * are enough to localize damage).
    *
    * Reads only (bucket, codes, cn) — never vectors; one narrow scan,
    * partial-aggregated to ≤K rows per partition before a K-row
    * shuffle. Min/max are order-independent, so the doubles are
    * deterministic under any partitioning (an avg would not be — the
    * parallel sum order varies); counts are exact.
    */
  def ivfPqIndexStats(spark: SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(size(col("codes")).cast("long")).as("n_codes"),
        round(min(col("cn")), 6).as("min_cn"),
        round(max(col("cn")), 6).as("max_cn"))

  /** IVF-PQ serving with EXACT re-ranking (the standard two-stage ANN
    * serve, Jégou et al. §V.C): ADC ranks a `shortlist` of R ≥ k
    * candidates per query from the code rows — cheap, approximate —
    * then ONLY those R rows' real vectors are fetched and the final
    * top-k is ordered by exact cosine. Recall approaches the probed
    * buckets' ceiling while the expensive exact math touches R rows
    * per query instead of the bucket contents.
    *
    * Plan shape at 100 TB: the shortlist (queries × R — broadcast-class
    * by the query-side contract) BROADCASTS against the corpus scan,
    * so fetching the candidate vectors is a broadcast semi-join
    * projection — the corpus never shuffles and only the matched rows
    * reach the exact-cosine projection; the only exchange stays the
    * per-query top-k window.
    */
  def ivfPqTopKReranked(encoded: DataFrame, centroids: DataFrame,
      codebook: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidIdCol: String = "centroid_id")
      : DataFrame = {
    require(shortlist >= k,
      s"rerank shortlist ($shortlist) must be >= k ($k)")
    exactRerank(ivfPqTopK(encoded, centroids, codebook, queries, shortlist,
      nprobe, idCol, vecCol, centroidIdCol), corpus, queries, k, idCol, vecCol)
  }

  /** The exact second stage of [[ivfPqTopKReranked]] and
    * [[ivfPqRecallAudit]]: the `shortlist` candidates' real vectors are
    * fetched from `corpus` by a broadcast join on the neighbor id, and
    * the top `k` re-ranked by exact cosine.
    */
  private def exactRerank(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, idCol: String, vecCol: String): DataFrame =
    Similarity.rankTopK(Similarity.corpusVectors(corpus, idCol, vecCol)
      .join(broadcast(shortlist.select(col("query_id"), col("neighbor_id"))),
        "neighbor_id")
      .join(broadcast(Similarity.queryVectors(queries, idCol, vecCol)),
        "query_id")
      .withColumn("sim", Similarity.cosineQC), k)

  /** Recall@k QUALITY audit of the IVF-PQ TWO-STAGE serve — the
    * [[Similarity.ivfRecallAudit]] measurement applied to the coded
    * index family, closing the quality-audit pair (IVF q183 / IVF-PQ
    * here): per query, how many of the TRUE top-k (exact brute force
    * over the indexed corpus's raw vectors) the served result
    * recovers. The served side is the production path verbatim —
    * ADC shortlist from the WRITTEN self-contained index
    * ([[ivfPqTopKFromIndex]]: partition-pruned bucket scan, codes
    * only) re-ranked exactly over the shortlist's raw vectors (the
    * [[ivfPqTopKReranked]] second stage). Recall here decays through
    * TWO quality channels the structural audits (q142 duplicates,
    * q145 stats) cannot see: nprobe pruning (the IVF channel q183
    * measures) AND quantization error (the PQ channel — a shortlist
    * too narrow for the codebook's distortion drops true neighbors
    * before re-rank can save them). `shortlist = k` measures the raw
    * ADC serve; widening it isolates how much re-rank headroom the
    * codebook needs — the number that turns "retrain / widen m?"
    * into a measurement.
    *
    * `corpus` must be the raw-vector frame the index was encoded
    * from (the coded layout stores codes + norms, never vectors —
    * exactness needs the source). Cost shape: the exact side is one
    * deliberate brute-force pass over the corpus per audit (that IS
    * the measurement); the served side stays partition-pruned.
    */
  def ivfPqRecallAudit(
      spark: SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
      nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k,
      s"rerank shortlist ($shortlist) must be >= k ($k)")
    val served = exactRerank(ivfPqTopKFromIndex(spark, path, queries,
      k = shortlist, nprobe, idCol, vecCol), corpus, queries, k, idCol, vecCol)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, queries, k, idCol, vecCol), served, k)
  }

  /** ADC top-k over an encoded corpus: approximate cosine =
    * `(Σ_j dotLut_q[j][codes_j]) / (|q| · sqrt(Σ_j normLut[j][codes_j]))`
    * — the numerator is the dot of the query with the RECONSTRUCTED
    * corpus vector, the denominator its reconstructed norm; both are m
    * table adds via the codegen `pq_adc` expression.
    *
    * Plan shape (the 100 TB contract, pinned for q136): the query side
    * is broadcast-class by the [[Similarity.bruteForceTopK]] contract —
    * each query row carries its own m·stride dot-LUT, built with
    * codegen `vec_dot` against codebook literals on the tiny query
    * frame; the corpus side reads only (id, codes), computes its
    * reconstructed norm against the LITERAL norm-LUT in the same narrow
    * projection, broadcast-joins, and the only exchange is the
    * per-query top-k window. Dead (sub, code) slots that Lloyd dropped
    * pad the LUTs with 0.0 and are never indexed (encoder emits only
    * live codes).
    *
    * Output: the [[Similarity.rankTopK]] frame, `sim` the ADC
    * APPROXIMATION. Recall versus exact top-k is the q136 gate, with the
    * pick's EXACT similarity compared under tolerance (the q96
    * pattern).
    */
  def pqTopK(encoded: DataFrame, codebook: DataFrame, queries: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val cb = collectCodebook(codebook)
    val stride = cb.map(_.length).max
    val normLut: Seq[Double] = cb.flatMap { fam =>
      fam.map(_._3) ++ Seq.fill(stride - fam.length)(0.0)
    }
    val c = encoded
      .select(col(idCol).as("neighbor_id"), col("codes"))
      .withColumn("cn", sqrt(call_function("pq_adc", col("codes"),
        typedLit(normLut), lit(stride))))
    val q = Similarity.queryVectors(queries, idCol, vecCol)
      .withColumn("dlut", dotLutCol(col("qv"), cb, stride))
      .drop("qv")
    Similarity.rankTopK(Similarity.candidates(c, q)
      .withColumn("sim",
        call_function("pq_adc", col("codes"), col("dlut"), lit(stride))
          / (col("qn") * col("cn"))), k)
  }
}
