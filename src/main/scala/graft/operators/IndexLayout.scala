package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One written-index layout, described instead of re-implemented: the
  * lifecycle every written family shares — fresh build, append, replay
  * audit, compacting repair, online compact-swap — runs here once, the
  * way one snapshot-and-commit mechanism serves every operator in
  * Flink's state backend (Carbone et al., VLDB '17). A family keeps
  * only its ROW derivation (simhash band rows, frame fingerprints,
  * `md5(normalize(text))`, …) and hands the rows to [[write]] /
  * [[append]]. Every read resolves `_current` ([[IndexPaths.resolve]])
  * and every fresh build clears it, so a swapped root serves, audits
  * and appends its live generation — the tree the ledgered ingest
  * publishes into.
  *
  * Fields: `member` — the family name (the ingest ledger's member key,
  * named by a refused compact); `dir` — the layout directory under the
  * root (None: the root); `rowCols` — the compacted row in file column
  * order (Nil: no compaction); `keys` — the audit / divergence key;
  * `payloadCols` — what a replayed copy repeats bit-identically
  * (`n_payloads`; Nil: copies only); `shardCol` / `shardOf` — the
  * partition column and its [[IndexShards]] hex / mod / band
  * derivation at a shard count (None: the rows carry the value —
  * cluster id, IVF bucket; no `shardCol`: unpartitioned); `clusterBy`
  * — each written task's sort after the shard (smaller, delta-encoded
  * posting files); `compactAlso` — a family's extra compact steps over
  * the deduped rows (BM25 rederives `terms/` + `meta/stats`, IVF-PQ
  * copies `meta/`), overlapped with the generic ones.
  */
final case class IndexLayout(
    member: String,
    dir: Option[String],
    rowCols: Seq[String],
    keys: Seq[Column],
    payloadCols: Seq[String],
    shardCol: Option[String],
    shardOf: Option[Int => Column],
    clusterBy: Seq[String],
    compactAlso: IndexLayout.Also) {

  /** This layout's directory under `root`. */
  def at(root: String): String = dir.fold(root)(d => s"$root/$d")

  /** This layout's directory in `root`'s live generation. */
  def live(spark: SparkSession, root: String): String =
    at(IndexPaths.resolve(spark, root))

  /** The shard expression at `n` shards — the one derivation writes
    * and pruned probes share.
    */
  def shardAt(n: Int): Column = shardOf.get(n)

  /** The one way an incremental probe reads a written index: the live
    * layout's rows whose `on` columns match a row of `keys`, reading
    * only the shards `keys` touches (`keys` carries `on` and the
    * columns [[shardAt]] derives from). Returns `keys` MATERIALIZED
    * beside the probed rows: a caller that reads its keys again (a
    * delta-id flag, a reassembly join) reads that frame, so `keys` is
    * computed once and the caller checkpoints nothing itself.
    *
    * The probe's one job is that checkpoint of `keys`: it also yields,
    * through [[Parallelism.observed]], the touched shard list (literal
    * partition filters, bounded by the shard alphabet) and the row
    * count that bounds the broadcast of the `on` keys
    * ([[Parallelism.boundedBroadcast]]), so building the probe runs no
    * driver aggregation; the scan then semi-joins that broadcast.
    * `keys` need not be distinct, and the broadcast carries its rows
    * as they come: a semi-join's result does not depend on duplicate
    * keys, the count already bounds them, and a distinct would cost
    * every execution of the probe one more shuffle (MinHash executes
    * its probe twice). Empty keys serve nothing. A layout without a
    * persisted `_shards` count (a crashed build) or without a shard
    * derivation scans unpruned: pruning is an optimization, never a
    * correctness dependency.
    *
    * Probing with only the delta's OWN keys is exact for every caller
    * that asks "which groups hold a delta row, and what is in them":
    * every group (posting list, bucket, cluster) with a delta member
    * has a key the delta itself carries, so its shard is scanned and
    * its key survives the semi; and a kept group keeps its FULL
    * membership, base rows included, so group caps, minima and counts
    * are exactly those of a fresh whole-corpus run.
    */
  def probe(spark: SparkSession, root: String, keys: DataFrame,
      on: String*): (DataFrame, DataFrame) =
    IndexLayout.probeAll(spark, root, keys, on, this) match {
      case (ks, Seq(rows)) => (ks, rows) }

  /** A FRESH build of `rows` (plus `also` — sibling layouts of the same
    * member, each with its own rows) under `root`: clears a stale
    * pointer, picks the shard count from `input` (or the caller's
    * `shards` pin — the amplification gates measure the WIDE
    * geometry), writes every part overlapped (disjoint directories,
    * guide §2.6), then persists the count in each sharded layout.
    */
  def write(input: DataFrame, root: String, shards: Option[Int],
      rows: DataFrame, also: (IndexLayout, DataFrame)*): Unit = {
    val spark = input.sparkSession
    IndexPaths.clearPointer(spark, root)
    val parts = (this -> rows) +: also
    val sharded = parts.filter(_._1.shardOf.isDefined).map(_._1)
    val nSh = Option.when(sharded.nonEmpty)(
      shards.getOrElse(IndexShards.pick(input)))
    Parallelism.inParallel(parts.map { case (l, r) =>
      () => l.writeRows(r, l.at(root), "overwrite",
        l.shardOf.flatMap(_ => nSh))
    }: _*)
    sharded.foreach(l => IndexShards.publish(spark, l.at(root), nSh.get))
  }

  /** Appends one generation of `rows` (plus `also`) into `root`'s live
    * generation — delta-sized, zero base reads, each sharded layout
    * deriving shards as its persisted count says. NOT idempotent: the
    * caller owns exactly-once (the ingest ledger does), and [[audit]]
    * localizes a replay.
    */
  def append(root: String, rows: DataFrame,
      also: (IndexLayout, DataFrame)*): Unit = {
    val spark = rows.sparkSession
    val live = IndexPaths.resolve(spark, root)
    Parallelism.inParallel(((this -> rows) +: also).map { case (l, r) =>
      val nSh = l.shardOf.map(_ => IndexShards.forAppend(spark, l.at(live)))
      () => l.writeRows(r, l.at(live), "append", nSh)
    }: _*)
  }

  /** Writes `rows` into `layoutDir`: with `nSh`, derives the shard
    * column at that count; without, the rows already carry it (a
    * compaction rewrites src's values verbatim). One task per shard,
    * so each touched shard gains one file per write.
    */
  private[operators] def writeRows(rows: DataFrame, layoutDir: String,
      mode: String, nSh: Option[Int]): Unit = shardCol match {
    case None => rows.write.mode(mode).parquet(layoutDir)
    case Some(c) =>
      val sharded = nSh.fold(rows)(n => rows.withColumn(c, shardAt(n)))
        .repartition(col(c))
      val sorted =
        if (clusterBy.isEmpty) sharded
        else sharded.sortWithinPartitions((c +: clusterBy).map(col): _*)
      sorted.write.mode(mode).partitionBy(c).parquet(layoutDir)
  }

  /** Replay audit: every key present more than once, with `n_copies`
    * and (when the layout names a payload) `n_payloads` — the
    * taxonomy the repair shares: `n_payloads = 1` is a replayed append
    * (bit-identical copies, [[compact]] removes them); `> 1` is
    * payload divergence (the key re-appended with different content —
    * a rebuild signal). One narrow grouped scan; emits only damage.
    */
  def audit(spark: SparkSession, root: String): DataFrame = {
    val payloads = payloadCols match {
      case Seq() => Nil
      case Seq(p) => Seq(count_distinct(col(p)).as("n_payloads"))
      case ps => Seq(count_distinct(struct(ps.map(col): _*)).as("n_payloads"))
    }
    spark.read.parquet(live(spark, root))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_copies"), payloads: _*)
      .filter(col("n_copies") > 1)
  }

  /** Compacting repair of [[audit]]-localized replay damage into
    * `dst`: `src`'s live rows, whole-row deduplicated and checkpointed
    * ONCE, feed the divergence check, the rewrite (src's shard values
    * and count carried verbatim) and `compactAlso`, overlapped (guide
    * §2.6). A key still colliding after the dedup is payload
    * divergence: compaction REFUSES (picking a copy would move probe
    * verdicts; the staged `dst` is never live). Reads only the index's
    * own rows, never the source corpus.
    */
  def compact(spark: SparkSession, src: String, dst: String): Unit = {
    require(rowCols.nonEmpty, s"$member: this layout has no compaction")
    val from = IndexPaths.resolve(spark, src)
    val rows = spark.read.parquet(at(from))
      .select(rowCols.map(col): _*)
      .dropDuplicates()
      .localCheckpoint()
    val check = () => {
      val divergent = rows.groupBy(keys: _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).collect()
      require(divergent.isEmpty, {
        val d = divergent.head
        val key = d.schema.fieldNames.init.zip(d.toSeq)
          .map { case (k, v) => s"$k=$v" }.mkString(", ")
        s"$member compact: ($key) has payload-divergent copies (same " +
          "key, different payload) — not append-replay damage; rebuild " +
          "the index instead"
      })
    }
    Parallelism.inParallel(
      Seq(check, () => writeRows(rows, at(dst), "overwrite", None)) ++
        compactAlso(spark, rows, from, dst): _*)
    if (shardOf.isDefined) IndexShards.mirror(spark, at(from), at(dst))
  }

  /** ONLINE repair: [[compact]] into the next generation under `root`
    * plus the atomic [[IndexPaths.compactSwap]] pointer cutover —
    * standing probes keep the old generation, new resolves serve the
    * repaired one. Returns the new generation's directory.
    */
  def compactSwap(spark: SparkSession, root: String): String =
    IndexPaths.compactSwap(spark, root)(compact(spark, _, _))
}

object IndexLayout {

  /** Extra compact steps: (spark, deduped rows, resolved src root, dst
    * root) → sections run beside the generic check and rewrite.
    */
  type Also = (SparkSession, DataFrame, String, String) => Seq[() => Unit]

  private val NoAlso: Also = (_, _, _, _) => Nil

  /** [[IndexLayout.probe]] of sibling `layouts` under one root with the
    * same `keys`, materialized once for all of them (BM25 reads
    * `postings/` and `terms/` by the query terms).
    */
  def probeAll(spark: SparkSession, root: String, keys: DataFrame,
      on: Seq[String], layouts: IndexLayout*): (DataFrame, Seq[DataFrame]) = {
    val live = IndexPaths.resolve(spark, root)
    val nSh = layouts.map(l =>
      l.shardOf.flatMap(_ => IndexShards.read(spark, l.at(live))))
    val shardSets = layouts.zip(nSh).collect {
      case (l, Some(n)) => collect_set(l.shardAt(n))
    }
    val (ks, info) = Parallelism.observed(keys, count(lit(1)) +: shardSets: _*)
    val semi = Parallelism.boundedBroadcast(
      ks.select(on.map(col): _*), info.getLong(0))
    // each pruned layout's shard list sits after the count, in order
    val at = nSh.scanLeft(1)(_ + _.size)
    (ks, layouts.lazyZip(nSh).lazyZip(at).map { (l, n, i) =>
      val scan = spark.read.parquet(l.at(live))
      n.fold(scan)(_ =>
          scan.filter(col(l.shardCol.get).isin(info.getSeq[Any](i): _*)))
        .join(semi, on, "leftsemi")
    })
  }

  private def cols(names: String*): Seq[Column] = names.map(col)

  private def hex(key: Column): Option[Int => Column] =
    Some(IndexShards.hexShard(key, _))

  private def mod(key: Column): Option[Int => Column] =
    Some(IndexShards.modShard(key, _))

  /** Exact text dedup: (doc_id, md5(normalize(text))) by hex shard. */
  val Exact = IndexLayout("exact", Some("fingerprints"), Nil,
    cols("doc_id"), Seq("fingerprint"), Some("shard"),
    hex(col("fingerprint")), Nil, NoAlso)

  /** MinHash band keys (doc_id, bk) by hex shard of md5(bk). */
  val MinhashBands = IndexLayout("minhash", Some("bands"), Nil,
    cols("doc_id", "bk"), Nil, Some("shard"), hex(md5(col("bk"))), Nil,
    NoAlso)

  /** MinHash verify payload (doc_id, hs, n), unpartitioned. */
  val MinhashSigs = IndexLayout("minhash", Some("sigs"), Nil,
    cols("doc_id"), Nil, None, None, Nil, NoAlso)

  /** SimHash band rows by band × top bits (`pshard`). */
  val Simhash = IndexLayout("simhash", Some("bands"),
    Seq("doc_id", "blk", "bidx", "bval", "simhash", "pshard"),
    cols("doc_id", "bidx"), Seq("simhash"), Some("pshard"),
    Some(n => Dedup.simhashShard(col("bidx"), col("bval"), n)), Nil, NoAlso)

  /** [[Simhash]]'s layout over frames, audited per (asset, frame, band). */
  val FrameSimhash = Simhash.copy(member = "frame_simhash",
    keys = Seq(
      expr(s"doc_id div ${Multimodal.FrameIdStride}").as("asset_id"),
      (col("doc_id") % Multimodal.FrameIdStride).as("frame_no"),
      col("bidx")))

  /** Blocked n-gram postings (blk, doc_id, n, h) by h mod shard. */
  val Ngram = IndexLayout("ngram", Some("postings"), Nil,
    cols("blk", "doc_id", "h"), Nil, Some("shard"), mod(col("h")), Nil,
    NoAlso)

  /** Block fingerprints (doc_id, block_idx, fingerprint) by hex shard. */
  val Block = IndexLayout("block", Some("blocks"), Nil,
    cols("doc_id", "block_idx"), Seq("fingerprint"), Some("shard"),
    hex(col("fingerprint")), Nil, NoAlso)

  /** Winnowing postings (blk, doc_id, n, h) by h mod, h-clustered. */
  val Winnow = IndexLayout("winnow", Some("postings"), Nil,
    cols("blk", "doc_id", "h"), Nil, Some("shard"), mod(col("h")),
    Seq("h"), NoAlso)

  /** Window postings (doc_id, pos, h) by hex shard of h, h-clustered. */
  val Substring = IndexLayout("substring", Some("postings"), Nil,
    cols("doc_id", "pos"), Seq("h"), Some("shard"), hex(col("h")),
    Seq("h"), NoAlso)

  /** BM25 postings (doc_id, term, tf, dl) by hex shard of md5(term);
    * `terms/` and `meta/stats` ride along ([[Bm25Terms]],
    * [[Bm25Stats]]) and a compact rederives them.
    */
  val Bm25 = IndexLayout("bm25", Some("postings"),
    Seq("doc_id", "term", "tf", "dl", "shard"), cols("doc_id", "term"),
    Seq("tf", "dl"), Some("shard"), hex(md5(col("term"))), Nil,
    (spark, rows, src, dst) => Retrieval.bm25Rederive(spark, rows, src, dst))

  /** BM25 df contributions (term, df), sharded as the postings. */
  val Bm25Terms = IndexLayout("bm25", Some("terms"), Nil, cols("term"),
    Nil, Some("shard"), hex(md5(col("term"))), Nil, NoAlso)

  /** BM25 corpus scalars (n_docs, total), one row per generation. */
  val Bm25Stats = IndexLayout("bm25", Some("meta/stats"), Nil, Nil, Nil,
    None, None, Nil, NoAlso)

  /** Semantic cluster members (id, v, d2, gen) partitioned by `cid`. */
  def semantic(idCol: String): IndexLayout =
    IndexLayout("semantic", None, Seq(idCol, "v", "d2", "gen", "cid"),
      cols(idCol), Seq("v", "d2", "gen", "cid"), Some("cid"), None, Nil,
      NoAlso)

  /** Mixture manifest payload (stratum, key, n_toks), unpartitioned. */
  def mixture(stratumCol: String, keyCol: String): IndexLayout =
    IndexLayout("mixture", None, Seq(stratumCol, keyCol, "n_toks"),
      cols(keyCol), Seq(stratumCol, "n_toks"), None, None, Nil, NoAlso)

  /** IVF-PQ code rows (id, codes, cn) partitioned by `bucket`; a
    * compact copies the frozen `meta/` (centroids, codebook) verbatim.
    */
  def ivfPq(idCol: String): IndexLayout =
    IndexLayout("ivf_pq", Some("codes"), Seq(idCol, "codes", "cn", "bucket"),
      cols(idCol), Seq("bucket"), Some("bucket"), None, Nil,
      (spark, _, src, dst) => Seq("centroids", "codebook").map { m =>
        () => spark.read.parquet(s"$src/meta/$m")
          .coalesce(1).write.mode("overwrite").parquet(s"$dst/meta/$m")
      })

  /** Media payload hashes (asset_id, md5(payload)) by hex shard. */
  val Asset = IndexLayout("asset", Some("fingerprints"),
    Seq("asset_id", "fingerprint", "shard"), cols("asset_id"),
    Seq("fingerprint"), Some("shard"), hex(col("fingerprint")), Nil, NoAlso)

  /** Media frames (asset_id, frame_no, fingerprint) by hex shard. */
  val Frame = IndexLayout("frame", Some("frames"),
    Seq("asset_id", "frame_no", "fingerprint", "shard"),
    cols("asset_id", "frame_no"), Seq("fingerprint"), Some("shard"),
    hex(col("fingerprint")), Nil, NoAlso)

  /** Release-manifest contribution rows, S per generation. */
  val Manifest = IndexLayout("manifest", Some("manifest"), Nil, Nil, Nil,
    None, None, Nil, NoAlso)
}
