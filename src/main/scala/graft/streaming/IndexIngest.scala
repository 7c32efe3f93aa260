package graft.streaming

import graft.operators.{Clustering, Curation, Dedup, IndexLayout, IndexPaths, IndexShards, Multimodal, Parallelism, Retrieval, Similarity}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DAY-2 ingest into the written index families: each
  * micro-batch of newly-arrived rows appends ONE GENERATION to a
  * written index — the batch append contract mapped onto Structured
  * Streaming's unit of progress, so a standing pipeline's ingest loop
  * is an actual streaming sink, not a scheduled batch job.
  * `foreachBatch` is the idiomatic shape (the [[UpsertSink]]/[[FanOut]]
  * precedent): the batch frame is a normal DataFrame, so the append is
  * the SAME code the batch path runs, and the probe serving afterwards
  * is unchanged. Every member is a per-batch body (`*Batch`) — shared
  * verbatim by the sink and by the replay gates, so a replay exercises
  * the REAL commit path — run by the one [[start]] and bounded by the
  * one [[drain]].
  *
  * {{{
  *   member          per-batch body        IndexLayout            gate
  *   exact           exactBatch            Exact                  q171, q193
  *   ivf             ivfBatch              (Similarity IVF)       q174
  *   bm25            bm25Batch             Bm25                   q177, q218
  *   semantic        semanticBatch         semantic(idCol)        q180
  *   winnow          winnowBatch           Winnow                 q191
  *   mixture         mixtureBatch          mixture(stratum, key)  q185
  *   asset           assetBatch            Asset                  q199, q207
  *   asset_semantic  assetSemanticBatch    semantic("vec_id")     q201
  *   frame           frameBatch            Frame                  q204
  *   frame_simhash   frameSimhashBatch     FrameSimhash           q212
  *   manifest        assetManifestBatch    Manifest               q215
  *   (media)         mediaBatch            Asset + semantic       q216
  *                                         + Frame
  * }}}
  *
  * Batch boundaries cannot move a served result: rows are per-item
  * facts (a vector's frozen-centroid assignment, a document's tf/dl, a
  * payload's frames) or ADDITIVE per-generation contributions (BM25 df
  * and corpus scalars, mixture masses, manifest counts and XOR
  * checksums), and every probe reads the union — each gate checks the
  * streamed index against its batch twin's fresh whole-corpus oracle.
  *
  * Delivery contract — EXACTLY-ONCE ACROSS SINK RETRIES (the
  * reference's `StreamingFileSink` commits atomically per checkpoint,
  * SURVEY §2.2 `DS/api/functions/sink/filesystem/StreamingFileSink
  * .java`; this is the foreachBatch equivalent): every member routes
  * its append through [[committedAppend]] — a STAGE → PUBLISH →
  * MARKER commit keyed by (member, epoch, batchId) next to the index.
  * foreachBatch's `batchId` is stable across retries of the same
  * epoch (and across restarts from the same `checkpointLocation`), so
  * a replayed batch finds its marker and lands ZERO rows — q193 gates
  * that a replayed delivery leaves the audit empty and the served
  * result hash-unchanged — and a CRASHED delivery (any point of the
  * stage/publish/marker sequence) is repaired by its own retry: the
  * retry purges the crashed attempt's staged and half-published files
  * before publishing its own, so sequential crash-retry lands every
  * generation exactly once with no audit damage. Two caller
  * obligations remain: (1) restarts must reuse the run's
  * `checkpointLocation` (pass it to [[start]]) — restarting WITHOUT
  * one re-delivers data under fresh batchIds, which the ledger cannot
  * distinguish from new data (that damage is what the layout's
  * audit/compact pair localizes and repairs); (2) a NEW logical
  * backfill onto the same index must pass a new `epoch` (markers are
  * keyed (member, epoch, batchId); temp-checkpoint runs restart
  * batchIds at 0, so reusing an epoch would silently skip the new
  * run's batches). Members that append documents (exact, bm25,
  * winnow, mixture) also need NEW ids: a document re-sent under a new
  * batch doubles its rows.
  */
object IndexIngest {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Where a delivery stages its generation before publishing. */
  private[graft] def stagingPath(indexPath: String, member: String,
      epoch: String, batchId: Long): Path =
    new Path(s"$indexPath/_tmp/$member-$epoch-$batchId")

  /** The deterministic live-file prefix of one generation's files —
    * what makes a retry able to PURGE a crashed attempt's partial
    * publish before republishing. The trailing dash closes the key
    * (batch 1's purge must not match batch 10's files).
    */
  private[graft] def generationKey(member: String, epoch: String,
      batchId: Long): String =
    s"gen-$member-$epoch-$batchId-"

  private def markerPath(indexPath: String, member: String,
      epoch: String, batchId: Long): Path =
    new Path(s"$indexPath/_ingest_commits/$member/epoch=$epoch/batch-$batchId")

  /** The publish claim for (member, epoch, batchId) — created
    * atomically BEFORE any live-tree mutation, so of two concurrent
    * deliveries of one batch at most one proceeds past staging (the
    * loser aborts with only `_tmp` garbage). Content is the owning
    * attempt's uuid: a sequential retry SUPERSEDES its own crashed
    * predecessor by atomically replacing the claim with its id.
    */
  private[graft] def claimPath(indexPath: String, member: String,
      epoch: String, batchId: Long): Path =
    new Path(s"$indexPath/_ingest_claims/$member/epoch=$epoch/batch-$batchId")

  /** Create-if-absent write of `content` at `p`; true iff THIS call
    * created the file (the atomic-claim primitive). Atomic where the
    * filesystem implements create-if-absent atomically (HDFS); on
    * LocalFileSystem (ChecksumFileSystem) and object stores the
    * create(p, overwrite=false) is exists-then-create, so the claim
    * degrades to best-effort there — the supersede + read-back in
    * [[committedAppend]] narrows but does not close that window.
    */
  private def tryCreateFile(fs: FileSystem, p: Path,
      content: String): Boolean = {
    fs.mkdirs(p.getParent)
    try {
      val out = fs.create(p, false)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch {
      case _: FileAlreadyExistsException => false
      case _: java.io.IOException if fs.exists(p) => false
    }
  }

  /** Thrown when a publish observes mid-flight that it no longer owns
    * the batch (the commit marker appeared, or the claim was
    * superseded) — the delivery aborts instead of purging committed
    * data. Caught by [[committedAppend]], which reports false.
    */
  private[graft] final class LostPublishRace(msg: String)
    extends RuntimeException(msg)

  /** Moves every staged leaf file into the live tree at its relative
    * directory, renamed under this generation's deterministic prefix.
    * Idempotent under crash-retry: each touched live directory is
    * purged of THIS generation's files first, so a previous attempt's
    * partial publish never mixes with (or duplicates) the current one
    * — the set of relative directories a batch touches is determined
    * by its row content, hence identical across attempts. Hidden
    * (`_`/`.`) entries — `_SUCCESS`, checksum sidecars — stay behind
    * and are deleted with the staging dir.
    *
    * `stillOwned` is consulted immediately before EVERY destructive
    * step (each live directory's generation-prefix purge): the purge
    * deletes files of this generation's key, so if a concurrent
    * delivery of the SAME batch already committed (marker exists) the
    * purge would delete COMMITTED data — the silent-loss mode. A false
    * fence throws [[LostPublishRace]] and leaves the remaining
    * directories untouched.
    */
  private[graft] def publishStaged(fs: FileSystem, stagingRoot: Path,
      liveRoot: Path, genKey: String,
      stillOwned: () => Boolean = () => true): Unit = {
    val leaves = scala.collection.mutable.ArrayBuffer.empty[(String, Path)]
    def walk(dir: Path, rel: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory)
            walk(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
          else leaves += ((rel, st.getPath))
        }
      }
    if (fs.exists(stagingRoot)) walk(stagingRoot, "")
    leaves.groupBy(_._1).foreach { case (rel, files) =>
      val liveDir = if (rel.isEmpty) liveRoot else new Path(liveRoot, rel)
      fs.mkdirs(liveDir)
      if (!stillOwned())
        throw new LostPublishRace(
          s"publish of $genKey lost ownership before purging $liveDir")
      fs.listStatus(liveDir).foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith(genKey))
          fs.delete(st.getPath, false)
      }
      files.foreach { case (_, src) =>
        val dst = new Path(liveDir, genKey + src.getName)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(
            s"publishStaged: rename $src -> $dst failed")
      }
    }
  }

  /** Copies each live layout's `_shards` meta (IndexShards) into the
    * same relative spot of the staging tree, so the staged append's
    * `forAppend` resolves the LIVE layout's shard derivation. Layout
    * dirs are direct children of the index root; members without
    * adaptive layouts have no `_shards` and this is a no-op. The
    * staged copy is invisible to [[publishStaged]] (underscore) and
    * dies with the staging dir.
    */
  private def seedShardMeta(spark: SparkSession, fs: FileSystem,
      liveRoot: Path, stagingRoot: Path): Unit =
    if (fs.exists(liveRoot))
      fs.listStatus(liveRoot).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !n.startsWith("_") && !n.startsWith("."))
          IndexShards.mirror(spark, st.getPath.toString,
            new Path(stagingRoot, n).toString)
      }

  /** Batch-commit ledger with STAGE-AND-RENAME generation commits:
    * if no marker exists for (member, epoch, batchId) under
    * `indexPath/_ingest_commits/`, runs `stage` against a private
    * staging root under `indexPath/_tmp/` (same relative layout as the
    * live index), publishes the staged files into the live tree under
    * the generation's deterministic name prefix, and only then writes
    * the marker via an atomic create-if-absent. Returns true if the
    * generation landed, false if the delivery was a replay and was
    * skipped. Both control directories are underscore-prefixed, so
    * parquet readers of the index never see them (the `_SUCCESS`
    * convention).
    *
    * Crash contract — sequential retries are EXACTLY-ONCE, no repair
    * needed: a crash during `stage` leaves only invisible `_tmp`
    * garbage (deleted by the retry before re-staging); a crash during
    * publish, or between publish and marker, leaves live files that
    * the retry PURGES by generation prefix before republishing (the
    * touched directories are a function of the batch's rows, hence
    * the same on every attempt — and the retry first SUPERSEDES its
    * crashed predecessor's claim, see below); a crash after the
    * marker makes the retry a no-op.
    *
    * Concurrency contract — CLAIM-BEFORE-PUBLISH: before any live-tree
    * mutation, the delivery atomically creates
    * `_ingest_claims/<member>/epoch=<epoch>/batch-<batchId>` holding
    * its attempt uuid. Of two CONCURRENT deliveries of one batch
    * (zombie executor), at most one proceeds past staging — the other
    * fails the claim (or observes a superseded claim / an existing
    * marker at the pre-publish fence) and aborts with only `_tmp`
    * garbage, no live rows. The fence is also re-checked before every
    * destructive purge inside [[publishStaged]], so a delivery that
    * loses mid-publish STOPS rather than deleting a committed
    * generation. Residual window (documented, not silent-loss): two
    * zombies that BOTH pass the pre-publish ownership read before
    * either's supersede lands can still interleave renames and leave
    * duplicate rows of this one batch — rows the member's audit
    * localizes and compact repairs. Every purge and the marker write
    * re-check the fence first, so deleting a COMMITTED generation
    * requires a supersede landing inside the fence-to-purge (or
    * fence-to-marker) gap AND the superseder crashing mid-republish —
    * a narrow crash-after-purge loss window, not "never". What remains
    * audit territory proper is the documented caller errors (restart
    * without a checkpoint, epoch reuse), which no ledger can
    * distinguish from new data.
    *
    * `beforePublish` is a test seam: invoked after staging, before the
    * pre-publish ownership fence (specs interleave a full concurrent
    * delivery there to drive the zombie case through the REAL path).
    */
  def committedAppend(spark: SparkSession, indexPath: String,
      member: String, epoch: String, batchId: Long,
      beforePublish: () => Unit = () => ())(
      stage: String => Unit): Boolean = {
    require(member.matches("[A-Za-z0-9_]+") && epoch.matches("[A-Za-z0-9_]+"),
      s"member/epoch must be [A-Za-z0-9_]+ (the generation key's '-' " +
        s"separators must stay unambiguous): member=$member epoch=$epoch")
    val marker = markerPath(indexPath, member, epoch, batchId)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = marker.getFileSystem(conf)
    if (fs.exists(marker)) false
    else {
      val attemptId = java.util.UUID.randomUUID().toString
      val claim = claimPath(indexPath, member, epoch, batchId)
      val owned = tryCreateFile(fs, claim, attemptId) || {
        // claim already exists: a crashed predecessor (marker absent,
        // holder dead — supersede it) or a live concurrent duplicate
        // (the supersede + read-back makes at most one attempt
        // plausible; the loser aborts here or at the fence below)
        if (fs.exists(marker)) false
        else {
          IndexPaths.atomicWrite(fs, conf, claim, attemptId)
          IndexPaths.readSmall(fs, claim).contains(attemptId)
        }
      }
      if (!owned) {
        if (!fs.exists(marker)) warnLostClaim(member, epoch, batchId)
        false
      } else {
        val staging = stagingPath(indexPath, member, epoch, batchId)
        if (fs.exists(staging)) fs.delete(staging, true) // crashed attempt
        // the staged writer must shard exactly as the live layouts its
        // files are renamed into (a Wide append into a Narrow layout
        // lands rows the pruned probes never scan)
        seedShardMeta(spark, fs,
          new Path(IndexPaths.resolve(spark, indexPath)), staging)
        stage(staging.toString)
        beforePublish()
        // the fence, re-read before the publish and every purge in it
        def fenced(): Boolean = !fs.exists(marker) &&
          IndexPaths.readSmall(fs, claim).contains(attemptId)
        if (!fenced()) {
          fs.delete(staging, true)
          warnLostClaim(member, epoch, batchId)
          false
        } else {
          try {
            // publish into the POINTER-RESOLVED live tree: after a
            // compact-swap cutover (IndexPaths), appended generations
            // must land in the live generation directory, not the
            // stale flat root. Markers/claims/_tmp stay at the raw
            // root — the ledger spans generations (a batch committed
            // pre-compact was carried into the new generation by the
            // compact itself and must stay skipped). Out-of-band
            // compacts must be quiesced against in-flight deliveries:
            // a swap BETWEEN a crashed publish and its retry moves the
            // retry's purge target away from the crashed partial files
            // (which the compact already carried over as live rows) —
            // the in-loop post-commit hook (maybeCompact) is sequential
            // with deliveries, so the ledgered members never hit this.
            publishStaged(fs, staging,
              new Path(IndexPaths.resolve(spark, indexPath)),
              generationKey(member, epoch, batchId), fenced _)
            fs.delete(staging, true)
            fs.mkdirs(marker.getParent)
            // a superseded claim here means a duplicate took over and may
            // purge this attempt's files: leave the marker to it
            if (!fenced())
              throw new LostPublishRace(
                s"ownership lost after publish, before the marker")
            try {
              val out = fs.create(marker, false)
              try out.write(Array.emptyByteArray) finally out.close()
              true
            } catch {
              case _: FileAlreadyExistsException =>
                warnLostRace(member, epoch, batchId); false
              case _: java.io.IOException if fs.exists(marker) =>
                warnLostRace(member, epoch, batchId); false
            }
          } catch {
            case e: LostPublishRace =>
              fs.delete(staging, true)
              log.warn(s"committedAppend($member, epoch=$epoch, " +
                s"batch=$batchId): ${e.getMessage} — aborted mid-publish; " +
                "already-renamed files of THIS generation may duplicate " +
                "the winner's; run the member's audit/compact repair")
              false
          }
        }
      }
    }
  }

  private def warnLostClaim(member: String, epoch: String,
      batchId: Long): Unit =
    log.warn(s"committedAppend($member, epoch=$epoch, batch=$batchId): " +
      "lost the publish claim to a concurrent delivery of the same batch " +
      "BEFORE publishing — this attempt landed no rows; no repair needed")

  private def warnLostRace(member: String, epoch: String,
      batchId: Long): Unit =
    log.warn(s"committedAppend($member, epoch=$epoch, batch=$batchId): " +
      "lost the marker race to a concurrent delivery of the same batch " +
      "AFTER publishing — duplicate rows may be live; run the member's " +
      "audit/compact repair")

  /** Starts the ingest of `stream` through one member's per-batch
    * body; callers drive the micro-batches. Pass `checkpointLocation`
    * in production so a restart resumes with stable batchIds.
    */
  def start(stream: DataFrame, checkpointLocation: Option[String])(
      batchBody: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream.foreachBatch(batchBody)
    checkpointLocation.fold(w)(w.option("checkpointLocation", _))
      .outputMode("append")
      .start()
  }

  /** Runs a started ingest over all currently-available input, then
    * stops it — the bounded-backfill form the gates drive.
    */
  def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable()
    finally q.stop()

  /** One delivery of a compactable member: the ledgered commit under
    * `layout.member`, then the opt-in auto-compaction
    * ([[IndexPaths.maybeCompact]]): a LANDED delivery whose live layout
    * crossed `maxDataFiles` compact-swaps it. It runs after the marker,
    * sequentially within the delivery, so a swap never interleaves
    * with a publish.
    */
  private def deliver(layout: IndexLayout, path: String, epoch: String,
      maxDataFiles: Option[Long], batch: DataFrame, batchId: Long)(
      stage: String => Unit): Unit = {
    val spark = batch.sparkSession
    if (committedAppend(spark, path, layout.member, epoch, batchId)(stage))
      maxDataFiles.foreach { m =>
        IndexPaths.maybeCompact(spark, path, m)(layout.compactSwap(spark, path))
      }
  }

  /** Exact text fingerprints ([[graft.operators.Dedup.exactAppendIndex]]). */
  def exactBatch(path: String, idCol: String, textCol: String,
      epoch: String = "0")(batch: DataFrame, batchId: Long): Unit =
    committedAppend(batch.sparkSession, path, "exact", epoch, batchId) {
      staged => Dedup.exactAppendIndex(batch, staged, idCol, textCol)
    }

  /** IVF vectors, assigned against the FROZEN centroid family
    * ([[graft.operators.Similarity.ivfAssign]] — a bounded K-row
    * centroid collect per batch, the literal-plan contract).
    */
  def ivfBatch(path: String, centroids: DataFrame, idCol: String,
      vecCol: String, epoch: String = "0")(
      batch: DataFrame, batchId: Long): Unit =
    committedAppend(batch.sparkSession, path, "ivf", epoch, batchId) {
      staged => Similarity.ivfAppendIndex(
        Similarity.ivfAssign(batch, centroids, idCol, vecCol), staged)
    }

  /** BM25 postings, df contributions and a stats row
    * ([[graft.operators.Retrieval.bm25AppendIndex]] — zero base reads;
    * a replayed batch would otherwise DOUBLE df and the corpus
    * scalars). `maxDataFiles` opts into the auto-compaction hook.
    */
  def bm25Batch(path: String, idCol: String, textCol: String,
      epoch: String = "0", maxDataFiles: Option[Long] = None)(
      batch: DataFrame, batchId: Long): Unit =
    deliver(IndexLayout.Bm25, path, epoch, maxDataFiles, batch, batchId) {
      staged => Retrieval.bm25AppendIndex(batch, staged, idCol, textCol)
    }

  /** Semantic cluster members, assigned against the FROZEN centroid
    * family ([[graft.operators.Clustering.assignL2]]), generation
    * startGen + batchId (≥ 1): batchIds are stable across retries and
    * checkpointed restarts, so the ledger skips a replay before its gen
    * is derived — a gen-shifted copy (payload divergence to the audit)
    * needs one of the documented caller errors.
    */
  def semanticBatch(path: String, centroids: DataFrame, idCol: String,
      vecCol: String, startGen: Int, epoch: String = "0",
      maxDataFiles: Option[Long] = None)(
      batch: DataFrame, batchId: Long): Unit =
    deliver(IndexLayout.semantic(idCol), path, epoch, maxDataFiles, batch,
        batchId) { staged =>
      Clustering.semanticAppendIndex(
        Clustering.assignL2(batch, centroids, idCol, vecCol),
        staged, gen = Math.toIntExact(startGen.toLong + batchId), idCol)
    }

  /** Winnowing postings ([[graft.operators.Dedup.winnowAppendIndex]]). */
  def winnowBatch(path: String, idCol: String, textCol: String,
      blockCol: String, epoch: String = "0")(
      batch: DataFrame, batchId: Long): Unit =
    committedAppend(batch.sparkSession, path, "winnow", epoch, batchId) {
      staged =>
        Dedup.winnowAppendIndex(batch, staged, idCol, textCol, blockCol)
    }

  /** Mixture-manifest payload: each document tokenized ONCE at ingest
    * ([[graft.operators.Curation.mixtureAppendIndex]]); the standing
    * manifest is served from stored counts alone
    * ([[graft.operators.Curation.mixtureServeIndex]]).
    */
  def mixtureBatch(path: String, stratumCol: String, idCol: String,
      textCol: String, epoch: String = "0",
      maxDataFiles: Option[Long] = None)(
      batch: DataFrame, batchId: Long): Unit =
    deliver(IndexLayout.mixture(stratumCol, idCol), path, epoch,
        maxDataFiles, batch, batchId) { staged =>
      Curation.mixtureAppendIndex(batch, staged, stratumCol, idCol, textCol)
    }

  /** Media payload hashes ([[graft.operators.Multimodal.assetAppendIndex]]);
    * the expected source is a `binaryFile` stream over the landing
    * directory ([[graft.operators.Multimodal.streamBinaryDir]]).
    */
  def assetBatch(path: String, epoch: String = "0",
      maxDataFiles: Option[Long] = None)(
      batch: DataFrame, batchId: Long): Unit =
    deliver(IndexLayout.Asset, path, epoch, maxDataFiles, batch, batchId) {
      staged => Multimodal.assetAppendIndex(batch, staged)
    }

  /** Media frame fingerprints, framed and hashed in the batch body
    * ([[graft.operators.Multimodal.frameAppendIndex]]).
    */
  def frameBatch(path: String, frameBytes: Int, epoch: String = "0",
      maxDataFiles: Option[Long] = None)(
      batch: DataFrame, batchId: Long): Unit =
    deliver(IndexLayout.Frame, path, epoch, maxDataFiles, batch, batchId) {
      staged => Multimodal.frameAppendIndex(batch, staged, frameBytes)
    }

  /** Frame-SimHash band rows: the arriving payload batch is enriched
    * with its blocking key from the STATIC asset-metadata frame (a
    * broadcast stream-static join inside the batch — the crawler's
    * metadata table supplies `source`; assets absent from it drop, the
    * NULL-block convention), framed, fingerprinted and banded.
    */
  def frameSimhashBatch(path: String, frameBytes: Int,
      blockOf: DataFrame, epoch: String = "0",
      maxDataFiles: Option[Long] = None)(
      batch: DataFrame, batchId: Long): Unit =
    deliver(IndexLayout.FrameSimhash, path, epoch, maxDataFiles, batch,
        batchId) { staged =>
      Multimodal.frameSimhashAppendIndex(
        batch.join(
          org.apache.spark.sql.functions.broadcast(blockOf), "asset_id"),
        staged, frameBytes)
    }

  /** COMBINED media pipeline: ONE arriving payload batch feeds ALL
    * THREE asset-side indexes — exact payload hash ([[assetBatch]]),
    * frozen-centroid featurized near-dup ([[assetSemanticBatch]]), and
    * frame fingerprints ([[frameBatch]]) — the q202 flagship's index
    * set maintained by a single standing stream. The batch is
    * localCheckpoint'ed first so payload bytes are read ONCE per
    * micro-batch and all three derivations (hash, featurize, frame)
    * reuse the materialized rows, q202's read-once shape at the
    * micro-batch grain.
    *
    * Cross-index atomicity: the three appends commit through THREE
    * ledger members keyed by the SAME batchId, so a crash between
    * members leaves the indexes mutually inconsistent only until the
    * delivery retries — each member's `committedAppend` skips if its
    * marker exists and lands otherwise, so sequential retry heals the
    * gap exactly (each-member-exactly-once; the spec drives a
    * crash-between-members case). [[mediaConsistencyAudit]] localizes
    * any such in-between state for operators.
    */
  def mediaBatch(exactPath: String, semPath: String, framePath: String,
      centroids: DataFrame, frameBytes: Int, startGen: Int = 1,
      epoch: String = "0")(batch: DataFrame, batchId: Long): Unit = {
    val b = batch.localCheckpoint()
    // three DISJOINT roots, three independent ledgers: overlap the
    // floor-bound deliveries (guide §2.6) — a crash still leaves some
    // SUBSET committed, healed member-by-member by the retry
    Parallelism.inParallel(
      () => assetBatch(exactPath, epoch)(b, batchId),
      () => assetSemanticBatch(semPath, centroids, startGen, epoch)(b,
        batchId),
      () => frameBatch(framePath, frameBytes, epoch)(b, batchId))
  }

  /** Cross-index CONSISTENCY audit for the combined media pipeline:
    * asset ids whose membership DIFFERS across the three indexes —
    * empty iff every delivered batch landed in all three members.
    * Non-empty rows localize a crash-between-members state (or a
    * caller error: appending to one index outside [[mediaBatch]]);
    * the fix is re-delivering the affected batch (the retry skips
    * committed members) — never a manual append. Three narrow id
    * scans + distinct + full-outer joins; output is bounded by the
    * damage, zero rows when healthy.
    */
  def mediaConsistencyAudit(spark: SparkSession, exactPath: String,
      semPath: String, framePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def ids(dir: String, idCol: String, flag: String) =
      spark.read.parquet(dir).select(col(idCol).as("asset_id")).distinct()
        .withColumn(flag, lit(true))
    ids(IndexLayout.Asset.live(spark, exactPath), "asset_id", "in_exact")
      .join(ids(IndexLayout.semantic("vec_id").live(spark, semPath),
          "vec_id", "in_semantic"),
        Seq("asset_id"), "full_outer")
      .join(ids(IndexLayout.Frame.live(spark, framePath), "asset_id",
          "in_frames"),
        Seq("asset_id"), "full_outer")
      .filter(col("in_exact").isNull || col("in_semantic").isNull ||
        col("in_frames").isNull)
      .select(col("asset_id"),
        coalesce(col("in_exact"), lit(false)).as("in_exact"),
        coalesce(col("in_semantic"), lit(false)).as("in_semantic"),
        coalesce(col("in_frames"), lit(false)).as("in_frames"))
  }

  /** Release-manifest contributions: the arriving payload batch is
    * reduced to its S manifest rows (per-shard count, byte mass, XOR
    * checksum — [[graft.operators.Multimodal.manifestAppendGeneration]])
    * and [[graft.operators.Multimodal.assetManifestServe]] folds the
    * generations into the released corpus's manifest — maintained at
    * S-rows-per-batch cost, never recomputed from payloads. Counts ride
    * next to the checksums because a replayed batch would cancel its
    * XOR contribution (even-multiplicity blindness).
    */
  def assetManifestBatch(path: String, epoch: String = "0")(
      batch: DataFrame, batchId: Long): Unit =
    committedAppend(batch.sparkSession, path, "manifest", epoch, batchId) {
      staged => Multimodal.manifestAppendGeneration(batch, staged)
    }

  /** Featurized media: each micro-batch of binary payloads is
    * featurized ([[graft.operators.Multimodal.featurizeVector]] — one
    * narrow pass, payloads never leave the batch), assigned against
    * the FROZEN centroid family, and appended as one generation of the
    * written semantic index — [[semanticBatch]]'s contract (same
    * gen-stability and replay-ledger arguments) with the embedding
    * derived from media bytes instead of arriving precomputed.
    */
  def assetSemanticBatch(path: String, centroids: DataFrame,
      startGen: Int, epoch: String = "0")(
      batch: DataFrame, batchId: Long): Unit =
    committedAppend(batch.sparkSession, path, "asset_semantic", epoch,
        batchId) { staged =>
      Clustering.semanticAppendIndex(
        Clustering.assignL2(Multimodal.featurizeVector(batch, "asset_id"),
          centroids),
        staged, gen = Math.toIntExact(startGen.toLong + batchId))
    }
}
