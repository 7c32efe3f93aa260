package graft.streaming

import graft.SparkTestSession
import graft.operators.{Dedup, IndexLayout, TmpWorkspaces}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IndexIngestSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // the IVF/semantic ingest paths assign via the native vec_nearest
  // expression; register it regardless of which suite ran first
  graft.functions.VectorExpressions.ensureRegistered(spark)

  test("multi-batch streaming ingest appends clean generations; standing probe equals the batch run") {
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "pack my box with five dozen liquor jugs today"
    val base = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_ingest_spec_", "multi")
    Dedup.exactWriteIndex(base, idx.toString, "doc_id", "text")

    // three EXPLICIT micro-batches: drive processAllAvailable between
    // adds so each chunk is its own generation append
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = IndexIngest.start(in.toDS().toDF("doc_id", "text"), None)(
      IndexIngest.exactBatch(idx.toString, "doc_id", "text"))
    try {
      Seq(Seq(4L -> a), Seq(5L -> b, 6L -> "something else entirely new"),
          Seq(7L -> a)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // replayed-append damage did NOT occur: the audit is empty
    assert(IndexLayout.Exact.audit(spark, idx.toString).isEmpty)

    val snap = Seq((4L, a), (5L, b), (6L, "something else entirely new"),
      (7L, a)).toDF("doc_id", "text")
    val got = Dedup.exactClustersIndexed(spark, idx.toString, snap,
        "doc_id", "text")
      .select($"kept_id", $"cluster_size")
      .as[(Long, Long)].collect().toSet
    // cluster of `a`: {0, 4, 7} -> kept 0, size 3; `b`: {1, 5} -> kept 1,
    // size 2; the new text is its own singleton kept at 6
    assert(got == Set((0L, 3L), (1L, 2L), (6L, 1L)), s"got $got")
  }

  test("a ledgered exact delivery after a compact-swap lands where the probe reads") {
    import graft.operators.{IndexPaths, IndexShards}
    val a = "the quick brown fox jumps over the lazy dog"
    val base = Seq((0L, a), (1L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_ingest_spec_", "swapped")
    Dedup.exactWriteIndex(base, idx.toString, "doc_id", "text")
    // cut over to a copy of the live layout: the root now carries
    // `_current`, and the ledger publishes into that generation
    IndexPaths.compactSwap(spark, idx.toString) { (src, dst) =>
      spark.read.parquet(s"$src/fingerprints")
        .write.partitionBy("shard").parquet(s"$dst/fingerprints")
      IndexShards.mirror(spark, s"$src/fingerprints", s"$dst/fingerprints")
    }
    val delta = Seq((4L, a)).toDF("doc_id", "text")
    IndexIngest.exactBatch(idx.toString, "doc_id", "text")(delta, 0L)
    val got = Dedup.exactClustersIndexed(spark, idx.toString, delta,
        "doc_id", "text")
      .select($"kept_id", $"cluster_size")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 2L)), s"the delivered row must be served: $got")
  }

  test("replayed delivery of a committed batchId is skipped: audit clean, serve unchanged") {
    // q193 at the engine level: the SAME per-batch body the sink runs
    // (exactBatch), delivered twice under one (epoch, batchId) key —
    // the ledger must skip the replay, leaving zero audit rows and a
    // bit-identical served clustering.
    val a = "the quick brown fox jumps over the lazy dog"
    val base = Seq((0L, a), (1L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_replay_spec_", "led")
    Dedup.exactWriteIndex(base, idx.toString, "doc_id", "text")
    val delta = Seq((4L, a), (5L, "an unrelated new document"))
      .toDF("doc_id", "text").localCheckpoint()

    def serve() = Dedup.exactClustersIndexed(spark, idx.toString, delta,
        "doc_id", "text")
      .select($"fingerprint", $"kept_id", $"cluster_size")
      .as[(String, Long, Long)].collect().toSet

    IndexIngest.exactBatch(idx.toString, "doc_id", "text")(delta, 0L)
    val first = serve()
    assert(first.map(t => (t._2, t._3)) == Set((0L, 2L), (5L, 1L)),
      s"got $first")
    // the sink retry: same batch, same batchId — must be a no-op
    IndexIngest.exactBatch(idx.toString, "doc_id", "text")(delta, 0L)
    assert(IndexLayout.Exact.audit(spark, idx.toString).isEmpty,
      "a skipped replay must leave zero duplicate ids")
    assert(serve() == first, "serve must be bit-identical after the replay")
    // a NEW batchId is a genuine delivery and must land
    assert(IndexIngest.committedAppend(spark, idx.toString,
      "exact", "0", 1L) { _ => () } === true)
    assert(IndexIngest.committedAppend(spark, idx.toString,
      "exact", "0", 1L) { _ =>
        fail("replay must not re-run the append") } === false)
    // the staged path left no residue and the generation's live files
    // carry the deterministic prefix (proof the publish ran staged)
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$idx/_tmp/exact-0-0")),
      "staging must be deleted after a successful publish")
    val shardDirs = fs.listStatus(new Path(s"$idx/fingerprints"))
      .filter(_.isDirectory)
    val genFiles = shardDirs.flatMap(d => fs.listStatus(d.getPath))
      .map(_.getPath.getName).filter(_.startsWith("gen-exact-0-0-"))
    assert(genFiles.nonEmpty,
      "the published generation's files must carry the gen prefix")
  }

  test("crash between stage and publish: zero live damage, the retry lands the generation exactly once") {
    val a = "the quick brown fox jumps over the lazy dog"
    val base = Seq((0L, a), (1L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_crash1_spec_", "led")
    Dedup.exactWriteIndex(base, idx.toString, "doc_id", "text")
    val delta = Seq((4L, a), (5L, "an unrelated new document"))
      .toDF("doc_id", "text").localCheckpoint()

    // simulate the crash: the delivery staged its generation but died
    // before publishing — run ONLY the stage step of the real body
    val staging = IndexIngest.stagingPath(idx.toString, "exact", "0", 0L)
    Dedup.exactAppendIndex(delta, staging.toString, "doc_id", "text")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(staging), "the crashed attempt left staged files")

    // the crash left ZERO live damage: the index serves the base only
    assert(spark.read.parquet(s"$idx/fingerprints").count() == 2,
      "staged-but-unpublished files must be invisible to readers")
    assert(IndexLayout.Exact.audit(spark, idx.toString).isEmpty)

    // the retry (same batchId, the real body) re-stages and publishes
    IndexIngest.exactBatch(idx.toString, "doc_id", "text")(delta, 0L)
    assert(!fs.exists(staging), "retry must clear the crashed staging")
    assert(IndexLayout.Exact.audit(spark, idx.toString).isEmpty,
      "crash-retry must land the generation without duplicates")
    val got = Dedup.exactClustersIndexed(spark, idx.toString, delta,
        "doc_id", "text")
      .select($"kept_id", $"cluster_size")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 2L), (5L, 1L)), s"got $got")
  }

  test("crash mid-publish: the retry purges the partial generation and republishes without duplicates") {
    import org.apache.hadoop.fs.Path
    val a = "the quick brown fox jumps over the lazy dog"
    val base = Seq((0L, a), (1L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_crash2_spec_", "led")
    Dedup.exactWriteIndex(base, idx.toString, "doc_id", "text")
    val delta = Seq((4L, a), (5L, "an unrelated new document"))
      .toDF("doc_id", "text").localCheckpoint()

    // simulate a crash AFTER some of the publish renames: stage the
    // generation EXACTLY as committedAppend would (seeded with the
    // live layout's shard derivation — every real attempt stages
    // after that seeding, so the crashed attempt and the retry always
    // agree on the touched directories), then hand-publish exactly ONE
    // staged leaf under the generation prefix (what a kill between two
    // renames leaves)
    val staging = IndexIngest.stagingPath(idx.toString, "exact", "0", 0L)
    graft.operators.IndexShards.mirror(spark, s"$idx/fingerprints",
      s"$staging/fingerprints")
    Dedup.exactAppendIndex(delta, staging.toString, "doc_id", "text")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genKey = IndexIngest.generationKey("exact", "0", 0L)
    def leaves(root: Path): Seq[(String, Path)] = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Path)]
      def walk(dir: Path, rel: String): Unit =
        fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) {
            if (st.isDirectory)
              walk(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
            else acc += ((rel, st.getPath))
          }
        }
      walk(root, "")
      acc.toSeq
    }
    val staged = leaves(staging)
    assert(staged.size >= 2, "need >= 2 staged files to crash between")
    val (rel, src) = staged.head
    val liveDir = new Path(s"$idx/$rel")
    fs.mkdirs(liveDir)
    assert(fs.rename(src, new Path(liveDir, genKey + src.getName)))

    // the partial publish IS visible (1 of 2 delta rows) — that is the
    // crash being simulated; the retry must repair it, not stack on it
    assert(spark.read.parquet(s"$idx/fingerprints").count() == 3)

    // retry: same batchId, the real body — purges the partial rename,
    // re-stages, republishes; NO duplicate rows anywhere
    IndexIngest.exactBatch(idx.toString, "doc_id", "text")(delta, 0L)
    assert(IndexLayout.Exact.audit(spark, idx.toString).isEmpty,
      "retry after a mid-publish crash must not duplicate rows")
    assert(spark.read.parquet(s"$idx/fingerprints").count() == 4,
      "base 2 + delta 2, each exactly once")
    val got = Dedup.exactClustersIndexed(spark, idx.toString, delta,
        "doc_id", "text")
      .select($"kept_id", $"cluster_size")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 2L), (5L, 1L)), s"got $got")
  }

  test("committedAppend lost race: a marker landing mid-window reports false, not a failed batch") {
    // Deterministic stand-in for the two-racers window: the append
    // thunk itself creates the marker (as a racing delivery would
    // between the exists-check and the create), so committedAppend's
    // own create-if-absent loses. The loser must report false — the
    // duplicate-rows damage is the audit's job, not a batch failure.
    import org.apache.hadoop.fs.Path
    val idx = TmpWorkspaces.pidScoped("graft_race_spec_", "led")
    val marker = new Path(s"$idx/_ingest_commits/exact/epoch=0/batch-7")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val won = IndexIngest.committedAppend(spark, idx.toString,
      "exact", "0", 7L) { _ =>
      fs.mkdirs(marker.getParent)
      fs.create(marker, false).close()
    }
    assert(!won, "the delivery that lost the marker race must report false")
    assert(fs.exists(marker))
  }

  test("zombie concurrent delivery: two interleaved deliveries of one batchId land zero duplicate rows, one winner") {
    // The concurrent-duplicate case the claim-before-publish protocol
    // closes: delivery A passes the marker check, claims, and stages;
    // a zombie twin B then runs the ENTIRE real path (B supersedes
    // A's claim — from B's view A is indistinguishable from a crashed
    // claimant — publishes, and commits the marker); A resumes at its
    // pre-publish fence, observes it no longer owns the claim (and
    // the marker exists), and ABORTS with only _tmp garbage. Exactly
    // one winner, zero duplicate rows, audit empty.
    val a = "the quick brown fox jumps over the lazy dog"
    val base = Seq((0L, a), (1L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_zombie_spec_", "led")
    Dedup.exactWriteIndex(base, idx.toString, "doc_id", "text")
    val delta = Seq((4L, a), (5L, "an unrelated new document"))
      .toDF("doc_id", "text").localCheckpoint()

    var bWon = false
    val aWon = IndexIngest.committedAppend(spark, idx.toString,
      "exact", "0", 0L,
      beforePublish = () => {
        // the zombie twin: the SAME (member, epoch, batchId), the
        // REAL path end-to-end, interleaved mid-A
        bWon = IndexIngest.committedAppend(spark, idx.toString,
          "exact", "0", 0L) { staged =>
          Dedup.exactAppendIndex(delta, staged, "doc_id", "text")
        }
      }) { staged =>
      Dedup.exactAppendIndex(delta, staged, "doc_id", "text")
    }
    assert(bWon, "the interleaved twin must win the superseded claim")
    assert(!aWon, "the fenced delivery must abort pre-publish")
    assert(IndexLayout.Exact.audit(spark, idx.toString).isEmpty,
      "zero duplicate rows after the interleave")
    assert(spark.read.parquet(s"$idx/fingerprints").count() == 4,
      "base 2 + delta 2, each exactly once")
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$idx/_tmp/exact-0-0")),
      "the loser's staging must be cleaned up")
    // a later replay of the batch is skipped as usual
    assert(IndexIngest.committedAppend(spark, idx.toString,
      "exact", "0", 0L) { _ =>
        fail("replay must not re-run the append") } === false)
  }

  test("crashed claimant is superseded: the sequential retry takes over the claim and lands the generation") {
    // A delivery that claimed and then died (any point before the
    // marker) leaves its claim file holding a dead attempt id. The
    // retry must not deadlock on it: it atomically replaces the claim
    // with its own id and proceeds through the normal publish.
    import org.apache.hadoop.fs.Path
    val a = "the quick brown fox jumps over the lazy dog"
    val base = Seq((0L, a), (1L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_deadclaim_spec_", "led")
    Dedup.exactWriteIndex(base, idx.toString, "doc_id", "text")
    val delta = Seq((4L, a), (5L, "an unrelated new document"))
      .toDF("doc_id", "text").localCheckpoint()

    val claim = IndexIngest.claimPath(idx.toString, "exact", "0", 0L)
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(claim.getParent)
    val out = fs.create(claim, false)
    try out.write("dead-attempt-uuid".getBytes("UTF-8")) finally out.close()

    // the retry: the real body under the same (member, epoch, batchId)
    IndexIngest.exactBatch(idx.toString, "doc_id", "text")(delta, 0L)
    assert(IndexLayout.Exact.audit(spark, idx.toString).isEmpty)
    assert(spark.read.parquet(s"$idx/fingerprints").count() == 4,
      "the superseding retry must land the generation exactly once")
    // and the claim now names the retry's attempt, not the dead one
    val content = {
      val in = fs.open(claim)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        new String(buf, 0, n, "UTF-8")
      } finally in.close()
    }
    assert(content != "dead-attempt-uuid", "the claim must be superseded")
  }

  test("semanticBatch generation overflow fails loudly instead of wrapping negative") {
    val cents = Seq((0L, Array(1.0, 1.0))).toDF("cid", "centroid")
    val batch = Seq((1L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val idx = TmpWorkspaces.pidScoped("graft_genovf_spec_", "sem")
    intercept[ArithmeticException] {
      IndexIngest.semanticBatch(idx.toString, cents, "vec_id", "embedding",
        startGen = 2)(batch, Int.MaxValue.toLong)
    }
  }

  test("streaming BM25 ingest: per-batch generations sum to the fresh corpus statistics at serve") {
    import graft.operators.Retrieval
    val base = Seq((0L, "spark shuffles keyed data"),
      (1L, "flink keyed state backend")).toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_bm25ingest_spec_", "lex")
    Retrieval.bm25WriteIndex(base, idx.toString)

    val delta = Seq((4L, "spark broadcast joins small data"),
      (5L, "keyed state ttl in flink"), (6L, "unrelated pelican document"),
      (7L, "spark keyed shuffles again"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = IndexIngest.start(in.toDS().toDF("doc_id", "text"), None)(
      IndexIngest.bm25Batch(idx.toString, "doc_id", "text"))
    try {
      Seq(delta.take(1), delta.slice(1, 3), delta.drop(3)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // no replayed-batch damage
    assert(IndexLayout.Bm25.audit(spark, idx.toString).isEmpty)

    // served ranking ≡ the fresh whole-union build's: df and the
    // corpus scalars summed over 4 generations must equal one build
    val fresh = TmpWorkspaces.pidScoped("graft_bm25ingest_spec_", "fresh")
    Retrieval.bm25WriteIndex(base.union(delta.toDF("doc_id", "text")),
      fresh.toString)
    val qs = Seq((0L, "spark shuffles keyed data")).toDF("doc_id", "text")
    def serve(path: String) =
      Retrieval.bm25TopKIndexed(spark, path, qs, k = 10)
        .as[(Long, Long, Long, Double)].collect().toSet
    val got = serve(idx.toString)
    assert(got == serve(fresh.toString) && got.nonEmpty, s"got $got")
  }

  test("auto-compaction crosses the threshold mid-stream: the hook compact-swaps and serving stays hash-equal") {
    import graft.operators.{IndexPaths, IndexStats, Retrieval}
    val base = Seq((0L, "spark shuffles keyed data"),
      (1L, "flink keyed state backend")).toDF("doc_id", "text")
    val idx = TmpWorkspaces.pidScoped("graft_autocompact_spec_", "lex")
    Retrieval.bm25WriteIndex(base, idx.toString)
    val floor = IndexStats.dataFileCount(spark, idx.toString)

    val delta = Seq((4L, "spark broadcast joins small data"),
      (5L, "keyed state ttl in flink"), (6L, "unrelated pelican document"),
      (7L, "spark keyed shuffles again"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // threshold just above the fresh build's floor: the growing
    // generation files must cross it mid-stream and trigger the hook
    val q = IndexIngest.start(in.toDS().toDF("doc_id", "text"), None)(
      IndexIngest.bm25Batch(idx.toString, "doc_id", "text",
        maxDataFiles = Some(floor + 2)))
    try {
      Seq(delta.take(1), delta.slice(1, 3), delta.drop(3)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()

    // the policy fired: the index now serves through a swapped pointer
    val gen = IndexPaths.currentGeneration(spark, idx.toString)
    assert(gen.nonEmpty, "the threshold must have triggered a compact-swap")
    // read amplification returned to the compacted baseline — the file
    // count a FRESH build over the full corpus pays (the floor grows
    // with the corpus's term-shard coverage, so the fresh full-corpus
    // build IS the baseline, not the base-only build)
    val fresh = TmpWorkspaces.pidScoped("graft_autocompact_spec_", "fresh")
    Retrieval.bm25WriteIndex(base.union(delta.toDF("doc_id", "text")),
      fresh.toString)
    val freshCount = IndexStats.dataFileCount(spark, fresh.toString)
    assert(IndexStats.dataFileCount(spark,
        IndexPaths.resolve(spark, idx.toString)) <= freshCount + 2,
      "serve cost must return to the compacted baseline")
    // and the audit + serve through the root are exactly the fresh run's
    assert(IndexLayout.Bm25.audit(spark, idx.toString).isEmpty)
    val qs = Seq((0L, "spark shuffles keyed data")).toDF("doc_id", "text")
    def serve(path: String) =
      Retrieval.bm25TopKIndexed(spark, path, qs, k = 10)
        .as[(Long, Long, Long, Double)].collect().toSet
    val got = serve(idx.toString)
    assert(got == serve(fresh.toString) && got.nonEmpty, s"got $got")
  }

  test("auto-compaction on the frame member: the media-side hook compact-swaps and novelty verdicts stay exact") {
    import graft.operators.{IndexPaths, IndexStats, Multimodal}
    def b(s: String) = s.getBytes("UTF-8")
    val base = Seq((1L, b("aaaabbbb")), (2L, b("bbbbcccc")))
      .toDF("asset_id", "payload")
    val idx = TmpWorkspaces.pidScoped("graft_autoframe_spec_", "fr")
    Multimodal.frameWriteIndex(base, idx.toString, frameBytes = 4)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Byte])]
    val q = IndexIngest.start(in.toDS().toDF("asset_id", "payload"), None)(
      IndexIngest.frameBatch(idx.toString, frameBytes = 4,
        maxDataFiles = Some(0L))) // force the policy every batch
    val delta = Seq(11L -> b("ccccaaaa"), 13L -> b("dddd"))
    try {
      delta.foreach { row =>
        in.addData(Seq(row))
        q.processAllAvailable()
      }
    } finally q.stop()

    assert(IndexPaths.currentGeneration(spark, idx.toString).nonEmpty,
      "the hook must have compact-swapped")
    assert(IndexLayout.Frame.audit(spark, idx.toString).isEmpty)
    val fresh = TmpWorkspaces.pidScoped("graft_autoframe_spec_", "fresh")
    Multimodal.frameWriteIndex(
      base.union(delta.toDF("asset_id", "payload")), fresh.toString,
      frameBytes = 4)
    assert(IndexStats.dataFileCount(spark,
        IndexPaths.resolve(spark, idx.toString)) <=
      IndexStats.dataFileCount(spark, fresh.toString),
      "the compacted live generation must be at the fresh-build floor")
    // novelty verdicts through the root equal the fresh-index probe
    def serve(p: String) = Multimodal.frameDedupIndexed(spark, p,
        delta.toDF("asset_id", "payload"), frameBytes = 4)
      .as[(Long, Long, Long)].collect().toSet
    val got = serve(idx.toString)
    assert(got == serve(fresh.toString) &&
      got == Set((11L, 2L, 0L), (13L, 1L, 1L)), s"got $got")
  }

  test("streaming semantic ingest: per-batch generations, probe equals the batch append, audit clean") {
    import graft.operators.Clustering
    val cents = Seq((0L, Array(1.0, 1.0)), (1L, Array(-5.0, 5.0)))
      .toDF("cid", "centroid")
    val base = Seq((0L, Array(1.0f, 1.0f)), (3L, Array(-5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val idx = TmpWorkspaces.pidScoped("graft_semingest_spec_", "sem")
    Clustering.semanticWriteIndex(Clustering.assignL2(base, cents),
      idx.toString)

    val delta = Seq(
      (10L, Array(2.0f, 2.0f)), (11L, Array(1.0f, 0.9f)),
      (12L, Array(5.0f, -5.0f)), (13L, Array(-5.0f, 5.1f)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val q = IndexIngest.start(in.toDS().toDF("vec_id", "embedding"), None)(
      IndexIngest.semanticBatch(idx.toString, cents, "vec_id", "embedding",
        startGen = 1))
    try {
      Seq(delta.take(1), delta.slice(1, 3), delta.drop(3)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // three generation tags landed (1, 2, 3), every member exactly once
    val gens = spark.read.parquet(idx.toString)
      .filter($"gen" > 0).select("gen").distinct()
      .as[Int].collect().toSet
    assert(gens == Set(1, 2, 3), s"got $gens")
    assert(IndexLayout.semantic("vec_id").audit(spark, idx.toString).isEmpty)

    // verdicts equal the single-batch append path over the same delta
    val snap = Clustering.assignL2(
      delta.toDF("vec_id", "embedding"), cents).localCheckpoint()
    val got = Clustering.semDedupIndexed(spark, idx.toString, snap,
        threshold = 0.95)
      .as[(Long, Long, Boolean)].collect().toSet
    val batchIdx = TmpWorkspaces.pidScoped("graft_semingest_spec_", "batch")
    Clustering.semanticWriteIndex(Clustering.assignL2(base, cents),
      batchIdx.toString)
    Clustering.semanticAppendIndex(snap, batchIdx.toString, gen = 1)
    val want = Clustering.semDedupIndexed(spark, batchIdx.toString, snap,
        threshold = 0.95)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == want && got.nonEmpty, s"got $got")
  }

  test("streaming IVF ingest: frozen-centroid generations per batch, serve equals the fresh union build") {
    import graft.operators.Similarity
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("centroid_id", "embedding")
    val base = Seq((0L, Array(1.0f, 0.1f)), (1L, Array(0.1f, 1.0f)))
      .toDF("vec_id", "embedding")
    val idx = TmpWorkspaces.pidScoped("graft_ivfingest_spec_", "ivf")
    Similarity.ivfWriteIndex(Similarity.ivfAssign(base, cents), idx.toString)

    val delta = Seq(
      (4L, Array(0.9f, 0.2f)), (5L, Array(0.2f, 0.9f)),
      (6L, Array(0.7f, 0.6f)), (7L, Array(1.0f, 0.0f)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val q = IndexIngest.start(in.toDS().toDF("vec_id", "embedding"), None)(
      IndexIngest.ivfBatch(idx.toString, cents, "vec_id", "embedding"))
    try {
      // three EXPLICIT micro-batches, each its own generation append
      Seq(delta.take(1), delta.slice(1, 3), delta.drop(3)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // replayed-batch damage did NOT occur: every member lands once
    assert(spark.read.parquet(idx.toString).groupBy("vec_id").count()
      .filter($"count" > 1).isEmpty)

    // served top-k from the streamed index ≡ the fresh union build's
    val fresh = TmpWorkspaces.pidScoped("graft_ivfingest_spec_", "fresh")
    Similarity.ivfWriteIndex(
      Similarity.ivfAssign(base.union(delta.toDF("vec_id", "embedding")),
        cents), fresh.toString)
    val qs = Seq((0L, Array(1.0f, 0.1f)), (5L, Array(0.2f, 0.9f)))
      .toDF("vec_id", "embedding")
    def serve(path: String) =
      Similarity.ivfTopKIndexed(spark, path, cents, qs, k = 2, nprobe = 2)
        .as[(Long, Int, Long, Double)].collect().toSet
    val got = serve(idx.toString)
    assert(got == serve(fresh.toString), s"got $got")
    assert(got.nonEmpty && got.forall(_._4 > 0.0))
  }

  test("streaming winnow ingest: per-batch posting generations, probe equals the batch append, audit clean") {
    graft.functions.WinnowExpression.ensureRegistered(spark)
    val shared = "the quick brown fox jumps over the lazy dog"
    val base = Seq((0L, "s", shared + " alpha beta gamma"),
      (1L, "s", "prefix words here " + shared)).toDF("doc_id", "source", "text")
    val idx = TmpWorkspaces.pidScoped("graft_wningest_spec_", "wn")
    Dedup.winnowWriteIndex(base, idx.toString, "doc_id", "text", "source")

    val delta = Seq(
      (4L, "s", shared + " snapshot arrival text"),
      (5L, "s", "another copy includes " + shared + " too"),
      (6L, "s", "completely different sentence about winter weather patterns"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = IndexIngest.start(
      in.toDS().toDF("doc_id", "source", "text"), None)(
      IndexIngest.winnowBatch(idx.toString, "doc_id", "text", "source"))
    try {
      Seq(delta.take(1), delta.slice(1, 2), delta.drop(2)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    assert(IndexLayout.Winnow.audit(spark, idx.toString).isEmpty)

    // pairs equal the single-batch append path over the same delta
    val snap = delta.toDF("doc_id", "source", "text")
    val got = Dedup.winnowPairsIndexed(spark, idx.toString, snap,
        "doc_id", "text", "source")
      .select($"doc_a", $"doc_b", $"i")
      .as[(Long, Long, Long)].collect().toSet
    val batchIdx = TmpWorkspaces.pidScoped("graft_wningest_spec_", "batch")
    Dedup.winnowWriteIndex(base, batchIdx.toString, "doc_id", "text", "source")
    Dedup.winnowAppendIndex(snap, batchIdx.toString, "doc_id", "text", "source")
    val want = Dedup.winnowPairsIndexed(spark, batchIdx.toString, snap,
        "doc_id", "text", "source")
      .select($"doc_a", $"doc_b", $"i")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty, s"got $got")
  }

  test("streaming asset ingest: per-batch payload-hash generations, probe equals the batch append, audit clean") {
    import graft.operators.Multimodal
    def b(s: String) = s.getBytes("UTF-8")
    val base = Seq((0L, b("alpha")), (1L, b("beta")))
      .toDF("asset_id", "payload")
    val idx = TmpWorkspaces.pidScoped("graft_assetingest_spec_", "fp")
    Multimodal.assetWriteIndex(base, idx.toString)

    val delta = Seq((4L, b("alpha")), (5L, b("beta")), (6L, b("gamma")),
      (7L, b("alpha")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Byte])]
    val q = IndexIngest.start(in.toDS().toDF("asset_id", "payload"), None)(
      IndexIngest.assetBatch(idx.toString))
    try {
      Seq(delta.take(1), delta.slice(1, 3), delta.drop(3)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // no replayed-batch damage
    assert(IndexLayout.Asset.audit(spark, idx.toString).isEmpty)

    // probe verdicts equal the single-batch append path over the delta
    val snap = delta.toDF("asset_id", "payload")
    val got = Multimodal.assetDedupIndexed(spark, idx.toString, snap)
      .as[(String, Long, Long)].collect().toSet
    val batchIdx = TmpWorkspaces.pidScoped("graft_assetingest_spec_", "b")
    Multimodal.assetWriteIndex(base, batchIdx.toString)
    Multimodal.assetAppendIndex(snap, batchIdx.toString)
    val want = Multimodal.assetDedupIndexed(spark, batchIdx.toString, snap)
      .as[(String, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty, s"got $got")
    // hand stats: alpha {0,4,7} kept 0 size 3, beta {1,5} kept 1 size
    // 2, gamma {6} kept 6 size 1
    assert(got.map(t => (t._2, t._3)) == Set((0L, 3L), (1L, 2L), (6L, 1L)))
  }

  test("streaming frame ingest: per-batch frame generations, probe equals the batch append, rows land once") {
    import graft.operators.Multimodal
    def b(s: String) = s.getBytes("UTF-8")
    // frameBytes = 4, the MultimodalSpec frame geometry
    val base = Seq((1L, b("aaaabbbb")), (2L, b("bbbbcccc")))
      .toDF("asset_id", "payload")
    val idx = TmpWorkspaces.pidScoped("graft_frameingest_spec_", "fr")
    Multimodal.frameWriteIndex(base, idx.toString, frameBytes = 4)

    val delta = Seq((11L, b("ccccaaaa")), (13L, b("dddd")),
      (15L, b("aaaadddd")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Byte])]
    val q = IndexIngest.start(in.toDS().toDF("asset_id", "payload"), None)(
      IndexIngest.frameBatch(idx.toString, frameBytes = 4))
    try {
      Seq(delta.take(1), delta.slice(1, 2), delta.drop(2)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // no replayed-batch damage: every (asset, frame) coordinate once
    assert(spark.read.parquet(s"$idx/frames")
      .groupBy($"asset_id", $"frame_no").count()
      .filter($"count" > 1).isEmpty)

    val snap = delta.toDF("asset_id", "payload")
    val got = Multimodal.frameDedupIndexed(spark, idx.toString, snap,
        frameBytes = 4)
      .as[(Long, Long, Long)].collect().toSet
    // 11: cccc lost to (2,1), aaaa lost to (1,0) -> 0/2; 13: dddd is
    // globally first -> 1/1; 15: aaaa lost to (1,0), dddd lost to
    // (13,0) -> 0/2
    assert(got == Set((11L, 2L, 0L), (13L, 1L, 1L), (15L, 2L, 0L)),
      s"got $got")
  }

  test("streaming frame-simhash ingest: block-enriched band generations per batch, pairs equal the batch append") {
    import graft.operators.Multimodal
    def b(s: String) = s.getBytes("UTF-8")
    val shared = "the quick brown fox jumps over the lazy dog"
    // fb=1024 -> one frame per asset; 10 is the indexed original
    val base = Seq((10L, "s", b(shared))).toDF("asset_id", "source", "payload")
    val idx = TmpWorkspaces.pidScoped("graft_frsimingest_spec_", "fs")
    Multimodal.frameSimhashWriteIndex(base, idx.toString, frameBytes = 1024)

    // the static metadata frame supplies blocks; asset 99 is ABSENT
    // from it and must drop (the NULL-block convention)
    val blockOf = Seq((10L, "s"), (21L, "s"), (23L, "s"))
      .toDF("asset_id", "source")
    val delta = Seq((21L, b(shared)), (23L, b("novel words entirely")),
      (99L, b(shared)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Byte])]
    val q = IndexIngest.start(in.toDS().toDF("asset_id", "payload"), None)(
      IndexIngest.frameSimhashBatch(idx.toString, frameBytes = 1024,
        blockOf = blockOf))
    try {
      Seq(delta.take(1), delta.slice(1, 2), delta.drop(2)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // one ledger marker per batch
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(
      new Path(s"$idx/_ingest_commits/frame_simhash/epoch=0")).length == 3)

    // the standing probe: 21 pairs with 10 at hamming 0; 23 is novel;
    // 99 (metadata-less) never entered the index
    val snap = Seq((21L, "s", b(shared)), (23L, "s", b("novel words entirely")))
      .toDF("asset_id", "source", "payload")
    val got = Multimodal.frameSimhashPairsIndexed(spark, idx.toString, snap,
        frameBytes = 1024)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(("s", 10L, 0L, 21L, 0L, 0L)), s"got $got")
    assert(spark.read.parquet(s"$idx/bands")
      .filter($"doc_id" / 1048576 === 99).isEmpty,
      "a metadata-less asset must not land band rows")
  }

  test("combined media ingest: one batch feeds three ledger members; a crash between members localizes and heals on retry") {
    import graft.operators.{Clustering, Multimodal}
    def b(s: String) = s.getBytes("UTF-8")
    val base = Seq((10L, b("aaaa")), (11L, b("iiii")))
      .toDF("asset_id", "payload")
    val fp = TmpWorkspaces.pidScoped("graft_media_spec_", "fp")
    val sem = TmpWorkspaces.pidScoped("graft_media_spec_", "sem")
    val fr = TmpWorkspaces.pidScoped("graft_media_spec_", "fr")
    Multimodal.assetWriteIndex(base, fp.toString)
    val feats = Multimodal.featurizeVector(base, "asset_id")
      .localCheckpoint()
    val cents = feats.select($"vec_id".as("cid"),
      $"embedding".as("centroid")).localCheckpoint()
    Clustering.semanticWriteIndex(Clustering.assignL2(feats, cents),
      sem.toString)
    Multimodal.frameWriteIndex(base, fr.toString, frameBytes = 1024)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Byte])]
    val q = IndexIngest.start(in.toDS().toDF("asset_id", "payload"), None)(
      IndexIngest.mediaBatch(fp.toString, sem.toString, fr.toString, cents,
        frameBytes = 1024))
    try {
      Seq(Seq((21L, b("aaaa"))), Seq((23L, b("zzzz")))).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()

    // one delivery = one marker in EACH member's ledger
    import org.apache.hadoop.fs.Path
    val fs = new Path(fp.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((p, m) <- Seq((fp, "asset"), (sem, "asset_semantic"),
        (fr, "frame")))
      assert(fs.listStatus(
        new Path(s"$p/_ingest_commits/$m/epoch=0")).length == 2,
        s"member $m must hold one marker per batch")
    assert(IndexIngest.mediaConsistencyAudit(spark, fp.toString,
      sem.toString, fr.toString).isEmpty)

    // crash between members: batch 5's delivery dies after the exact
    // member committed — the audit localizes the asset to the one
    // index that holds it
    IndexIngest.assetBatch(fp.toString)(
      Seq((30L, b("wwww"))).toDF("asset_id", "payload"), 5L)
    val dmg = IndexIngest.mediaConsistencyAudit(spark, fp.toString,
        sem.toString, fr.toString)
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSet
    assert(dmg == Set((30L, true, false, false)), s"audit drifted: $dmg")

    // the retry (same batchId through the REAL combined body) heals:
    // the committed exact member skips, the missing two land
    IndexIngest.mediaBatch(fp.toString, sem.toString, fr.toString, cents,
      frameBytes = 1024)(
      Seq((30L, b("wwww"))).toDF("asset_id", "payload"), 5L)
    assert(IndexIngest.mediaConsistencyAudit(spark, fp.toString,
      sem.toString, fr.toString).isEmpty,
      "the healed pipeline must audit consistent")
    assert(spark.read.parquet(s"$fp/fingerprints")
      .filter($"asset_id" === 30).count() == 1,
      "the skipped member must hold the asset exactly once, not twice")
  }

  test("streaming manifest ingest: S contribution rows per batch, serve folds to the fresh manifest, replay skipped") {
    import graft.operators.Multimodal
    def b(s: String) = s.getBytes("UTF-8")
    val all = Seq((1L, b("alpha")), (2L, b("beta!")),
      (3L, b("gamma ray")), (4L, b("delta")))
    val idx = TmpWorkspaces.pidScoped("graft_mfingest_spec_", "fs")
    // the base corpus lands one batch-path generation
    Multimodal.manifestAppendGeneration(
      Seq(all.head).toDF("asset_id", "payload"), idx.toString)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Byte])]
    val q = IndexIngest.start(in.toDS().toDF("asset_id", "payload"), None)(
      IndexIngest.assetManifestBatch(idx.toString))
    try {
      Seq(all.slice(1, 2), all.slice(2, 4)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 2,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    import org.apache.hadoop.fs.Path
    val fs = new Path(idx.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(
      new Path(s"$idx/_ingest_commits/manifest/epoch=0")).length == 2)

    val served = Multimodal.assetManifestServe(spark, idx.toString)
      .as[(String, Long, Long, Long)].collect().toSet
    val fresh = Multimodal
      .assetReleaseManifest(all.toDF("asset_id", "payload"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(served == fresh, s"served drifted:\n$served\nvs\n$fresh")

    // a replayed delivery of the stream's first batch must be skipped
    // by the ledger (otherwise its shard masses double and its
    // checksum contribution XOR-cancels)
    IndexIngest.assetManifestBatch(idx.toString)(
      all.slice(1, 2).toDF("asset_id", "payload"), 0L)
    val replayed = Multimodal.assetManifestServe(spark, idx.toString)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(replayed == fresh, "a replayed delivery must not move the manifest")
  }

  test("streaming featurized near-dup ingest: per-batch featurize+assign generations, probe equals the batch path") {
    import graft.operators.{Clustering, Multimodal}
    def b(s: String) = s.getBytes("UTF-8")
    // the MultimodalSpec near-dup geometry, streamed: "aaaa"/"iiii"
    // anchor the two clusters (centroids = their feature vectors);
    // snapshot dups sit at cosine 1, "iiio" at ~0.9716 < 0.999
    val baseAssets = Seq((0L, b("aaaa")), (1L, b("iiii")), (2L, b("aaaa")))
      .toDF("asset_id", "payload")
    val feats = Multimodal.featurizeVector(baseAssets, "asset_id")
      .localCheckpoint()
    val cents = feats.filter($"vec_id" < 2)
      .select($"vec_id".as("cid"), $"embedding".as("centroid"))
    val idx = TmpWorkspaces.pidScoped("graft_asemingest_spec_", "sem")
    Clustering.semanticWriteIndex(Clustering.assignL2(feats, cents),
      idx.toString)

    val delta = Seq((3L, b("aaaa")), (4L, b("iiio")), (5L, b("iiii")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Array[Byte])]
    val q = IndexIngest.start(in.toDS().toDF("asset_id", "payload"), None)(
      IndexIngest.assetSemanticBatch(idx.toString, cents, startGen = 1))
    try {
      Seq(delta.take(1), delta.slice(1, 2), delta.drop(2)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // three generations landed, every member exactly once
    val gens = spark.read.parquet(idx.toString)
      .filter($"gen" > 0).select("gen").distinct()
      .as[Int].collect().toSet
    assert(gens == Set(1, 2, 3), s"got $gens")
    assert(IndexLayout.semantic("vec_id").audit(spark, idx.toString).isEmpty)

    // hand verdicts through the standing probe: 3 dups 0 (kept=false),
    // 4 is a true near-miss (kept), 5 dups 1 (kept=false)
    val snap = Clustering.assignL2(
      Multimodal.featurizeVector(delta.toDF("asset_id", "payload"),
        "asset_id"), cents).localCheckpoint()
    val got = Clustering.semDedupIndexed(spark, idx.toString, snap,
        threshold = 0.999)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((0L, 3L, false), (1L, 4L, true), (1L, 5L, false)),
      s"got $got")
  }

  test("streaming mixture ingest: generation masses add, served manifest equals the fresh derivation") {
    import graft.operators.Curation
    // the q179 fixture geometry: a = 2x8 tokens, b = 1x64 — streamed
    // in three micro-batches that SPLIT source a across batches, the
    // hardest case for mass additivity
    val docs = Seq(
      (0L, "a", Seq.fill(8)("w").mkString(" ")),
      (1L, "a", Seq.fill(8)("w").mkString(" ")),
      (2L, "b", Seq.fill(64)("w").mkString(" ")))
    val idx = TmpWorkspaces.pidScoped("graft_mixingest_spec_", "mix")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = IndexIngest.start(
      in.toDS().toDF("doc_id", "source", "text"), None)(
      IndexIngest.mixtureBatch(idx.toString, "source", "doc_id", "text"))
    try {
      Seq(docs.take(1), docs.slice(1, 2), docs.drop(2)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "each add must arrive as its own micro-batch")
    } finally q.stop()

    // stored payload is per-item facts only: one row per doc, no text
    val payload = spark.read.parquet(idx.toString)
    assert(payload.count() == 3 && payload.columns.toSet ==
      Set("source", "doc_id", "n_toks"))

    // the served manifest equals the fresh whole-corpus derivation:
    // rate_a = 5/6, rate_b = 5/12 at budget 40 (the q179 hand values)
    val served = Curation.mixtureServeIndex(spark, idx.toString,
        "source", "doc_id", budget = 40L)
      .as[(String, Long, Long, Double, Boolean)].collect().toSet
    val fresh = Curation.temperatureMixture(
        docs.toDF("doc_id", "source", "text"), "source", "doc_id", "text",
        budget = 40L)
      .as[(String, Long, Long, Double, Boolean)].collect().toSet
    assert(served == fresh && served.nonEmpty, s"got $served")
    assert(served.find(_._2 == 0L).get._4 == 0.833333)
    assert(served.find(_._2 == 2L).get._4 == 0.416667)
  }
}
