package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q194 at the engine level: the binary-asset member of the
  * incremental-dedup index family, hand-case end to end — materialized
  * `.bin` files, the `binaryFile` re-ingest, the md5-sharded written
  * index, and the shard-pruned incremental probe.
  */
class MultimodalSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // the near-dup path assigns via the native vec_nearest expression;
  // register regardless of which suite ran first
  graft.functions.VectorExpressions.ensureRegistered(spark)

  test("asset round-trip: writeAssets + ingestBinaryDir recover ids and exact bytes; strays dropped") {
    val docs = Seq((1L, "alpha"), (2L, "beta"), (7L, "alpha"))
      .toDF("doc_id", "text")
    val dir = TmpWorkspaces.pidScoped("graft_mm_spec_", "rt")
    Multimodal.writeAssets(docs, "doc_id", "text", dir.toString)
    // a stray non-asset file in the directory must be dropped, not NPE
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir.toString, "cover.jpg"),
      "junk".getBytes("UTF-8"))
    val got = Multimodal.ingestBinaryDir(spark, dir.toString)
      .select($"asset_id", $"payload".cast("string"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "alpha", 2L -> "beta", 7L -> "alpha"),
      s"got $got")
  }

  test("asset dedup vs the written index: hand clusters, shard-pruned probe, audit catches a replay") {
    // Base assets 1 ("alpha") and 2 ("beta") build the index; the
    // snapshot appends 7 (byte-dup of 1), 8 ("beta" dup of 2), and 9
    // (fresh). Probe verdicts hand-derived: alpha's cluster kept at
    // the GLOBAL min id 1 with size 2, beta's at 2 with size 2, the
    // fresh payload is its own singleton.
    val dir = TmpWorkspaces.pidScoped("graft_mm_spec_", "idx_assets")
    Multimodal.writeAssets(
      Seq((1L, "alpha"), (2L, "beta"), (7L, "alpha"), (8L, "beta"),
        (9L, "gamma")).toDF("doc_id", "text"),
      "doc_id", "text", dir.toString)
    val assets = Multimodal.ingestBinaryDir(spark, dir.toString)
      .localCheckpoint()
    val idx = TmpWorkspaces.pidScoped("graft_mm_spec_", "idx")
    Multimodal.assetWriteIndex(assets.filter($"asset_id" <= 2),
      idx.toString)
    val snapshot = assets.filter($"asset_id" > 2)
    Multimodal.assetAppendIndex(snapshot, idx.toString)
    assert(IndexLayout.Asset.audit(spark, idx.toString).isEmpty,
      "a clean build+append must audit clean")

    def md5Of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = Multimodal.assetDedupIndexed(spark, idx.toString, snapshot)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      (md5Of("alpha"), 1L, 2L),
      (md5Of("beta"), 2L, 2L),
      (md5Of("gamma"), 9L, 1L)), s"got $got")

    // the index layout is the q160 contract: fingerprint-sharded dirs
    // in the layout's PERSISTED derivation (IndexShards — a tiny
    // fixture is born Narrow; production volume keeps the 2-hex form)
    val nSh = IndexShards.read(spark, s"$idx/fingerprints")
      .getOrElse(IndexShards.Wide)
    val shards = spark.read.parquet(s"$idx/fingerprints")
      .select($"shard",
        IndexShards.hexShard($"fingerprint", nSh).as("want"))
      .as[(String, String)].collect()
    assert(shards.nonEmpty && shards.forall(s => s._1 == s._2),
      "shard key must be the layout derivation of the fingerprint")

    // a replayed append is exactly what the audit localizes
    Multimodal.assetAppendIndex(snapshot, idx.toString)
    val dups = IndexLayout.Asset.audit(spark, idx.toString)
      .as[(Long, Long, Long)].collect().toSet
    assert(dups == Set((7L, 2L, 1L), (8L, 2L, 1L), (9L, 2L, 1L)),
      s"replay damage must be 2 bit-identical copies per snapshot id: $dups")

    // ...which compaction repairs: audit clean, serve equals the
    // pre-damage verdicts, and the rewrite touched no payload bytes
    // (it reads only the fingerprint rows)
    val repaired = TmpWorkspaces.pidScoped("graft_mm_spec_", "repaired")
    IndexLayout.Asset.compact(spark, idx.toString, repaired.toString)
    assert(IndexLayout.Asset.audit(spark, repaired.toString).isEmpty,
      "compaction must clear the audit")
    val served = Multimodal.assetDedupIndexed(spark, repaired.toString,
        snapshot)
      .as[(String, Long, Long)].collect().toSet
    assert(served == got, "the repaired index must serve the clean verdicts")

    // payload divergence — the same id re-ingested with DIFFERENT
    // bytes — must refuse compaction, not silently pick a copy
    Multimodal.assetAppendIndex(
      snapshot.withColumn("payload",
        concat($"payload", lit("corrupted".getBytes("UTF-8")))),
      idx.toString)
    val e = intercept[IllegalArgumentException] {
      IndexLayout.Asset.compact(spark, idx.toString,
        TmpWorkspaces.pidScoped("graft_mm_spec_", "refuse").toString)
    }
    assert(e.getMessage.contains("payload-divergent"))
  }

  test("frame fingerprints + indexed frame dedup: hand geometry, keep-first on coordinates") {
    def b(s: String) = s.getBytes("UTF-8")
    // frameBytes = 4: asset 1 = "aaaabbbb" -> frames [aaaa, bbbb];
    // asset 2 = "bbbbcccc" -> [bbbb, cccc]; asset 3 = "" -> one empty
    // frame; asset 11 (snapshot) = "ccccaaaa" -> [cccc, aaaa] (both
    // seen before); asset 13 (snapshot) = "dddd" -> [dddd] (novel)
    val base = Seq((1L, b("aaaabbbb")), (2L, b("bbbbcccc")), (3L, b("")))
      .toDF("asset_id", "payload")
    val snap = Seq((11L, b("ccccaaaa")), (13L, b("dddd")))
      .toDF("asset_id", "payload")

    // the fingerprint pass itself: hand md5 over the frame bytes'
    // lowercase-hex encoding (the byte-exact oracle-bridge contract)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8").flatMap("%02x".format(_))
        .mkString.getBytes("US-ASCII"))
      .map("%02x".format(_)).mkString
    val fps = Multimodal.frameFingerprints(base, "asset_id", 4)
      .as[(Long, Long, String)].collect().toSet
    assert(fps == Set(
      (1L, 0L, md5("aaaa")), (1L, 1L, md5("bbbb")),
      (2L, 0L, md5("bbbb")), (2L, 1L, md5("cccc")),
      (3L, 0L, md5(""))), s"got $fps")

    val idx = TmpWorkspaces.pidScoped("graft_mm_spec_", "frames")
    Multimodal.frameWriteIndex(base, idx.toString, frameBytes = 4)
    Multimodal.frameAppendIndex(snap, idx.toString, frameBytes = 4)
    val got = Multimodal.frameDedupIndexed(spark, idx.toString, snap,
        frameBytes = 4)
      .as[(Long, Long, Long)].collect().toSet
    // 11's cccc lost to (2,1), its aaaa lost to (1,0) -> 0 kept of 2;
    // 13's dddd is globally first -> 1 kept of 1
    assert(got == Set((11L, 2L, 0L), (13L, 1L, 1L)), s"got $got")
  }

  test("frame fingerprints and shingle texts are byte-exact on NON-ASCII and raw binary payloads") {
    // the byte-exact oracle-bridge contract on payloads the old
    // UTF-8-decode path could not represent: multi-byte chars and raw
    // non-UTF-8 bytes. Ground truth is hand md5 over the lowercase hex
    // of the exact byte slice.
    val nonAscii = "héllo wörld ✓".getBytes("UTF-8") // multi-byte chars
    val rawBin = Array[Byte](0, -1, -61, 40, 7, 127, -128, 66, 1, 2)
    val df = Seq((1L, nonAscii), (2L, rawBin)).toDF("asset_id", "payload")
    def hex(bs: Array[Byte]) = bs.map("%02x".format(_)).mkString
    def md5hex(bs: Array[Byte]) = java.security.MessageDigest
      .getInstance("MD5").digest(hex(bs).getBytes("US-ASCII"))
      .map("%02x".format(_)).mkString
    val fps = Multimodal.frameFingerprints(df, "asset_id", 8)
      .as[(Long, Long, String)].collect().toSet
    val want = Seq((1L, nonAscii), (2L, rawBin)).flatMap { case (id, bs) =>
      val n = math.max(1, (bs.length + 7) / 8)
      (0 until n).map { i =>
        val s = bs.slice(i * 8, math.min((i + 1) * 8, bs.length))
        (id, i.toLong, md5hex(s))
      }
    }.toSet
    assert(fps == want, s"got $fps want $want")
    // distinct binary frames must stay distinct (the lossy-decode
    // failure mode: both of these collapsed onto U+FFFD twins before)
    val tricky = Seq((3L, Array[Byte](-1, -2)), (4L, Array[Byte](-3, -4)))
      .toDF("asset_id", "payload")
    val tfps = Multimodal.frameFingerprints(tricky, "asset_id", 8)
      .as[(Long, Long, String)].collect().map(_._3).toSet
    assert(tfps.size == 2, "distinct binary frames must fingerprint apart")
    // and the shingle texts are pure lowercase hex + spaces (the SQL
    // oracle's replayable alphabet), never a lossy decode
    val texts = Multimodal.frameTexts(
        Seq((5L, "s", rawBin)).toDF("asset_id", "source", "payload"),
        "asset_id", 8, "source")
      .as[(Long, String, String)].collect().map(_._3)
    assert(texts.forall(_.matches("[0-9a-f ]*")), s"got ${texts.toSeq}")
    assert(texts.exists(_.contains("00ffc328")),
      s"shingles must carry the raw bytes' hex: ${texts.toSeq}")
  }

  test("featurizeVector: hand-counted byte statistics, bias first") {
    val feats = Multimodal.featurizeVector(
        Multimodal.attachPayload(
          Seq((1L, "tea time "), (2L, "")).toDF("doc_id", "text"), "text"),
        "doc_id")
      .as[(Long, Seq[Double])].collect().toMap
    // "tea time ": 9 bytes, 2 spaces, 2 e, 2 t, 1 a, 0 o, 1 i
    assert(feats(1L) == Seq(1.0, 9, 2, 2, 2, 1, 0, 1), s"got ${feats(1L)}")
    // empty payload: the bias keeps the vector off the zero point
    assert(feats(2L) == Seq(1.0, 0, 0, 0, 0, 0, 0, 0), s"got ${feats(2L)}")
  }

  test("packed assets: bounded file count, exact byte round-trip, id-range clustering") {
    def b(s: String) = s.getBytes("UTF-8")
    val rows = Seq((1L, b("alpha")), (2L, b("")), (3L, b("gamma")),
      (9L, b("alpha")), (12L, b("delta\u0000binary")))
    val dir = TmpWorkspaces.pidScoped("graft_mm_spec_", "packed")
    Multimodal.packAssets(rows.toDF("asset_id", "payload"), dir.toString,
      nFiles = 2)
    // the whole point: 5 assets, TWO files (vs 5 under the per-doc edge)
    assert(IndexStats.dataFileCount(spark, dir.toString) == 2L)
    val back = Multimodal.readPackedAssets(spark, dir.toString)
      .as[(Long, Array[Byte])].collect()
      .map { case (id, p) => (id, new String(p, "UTF-8")) }.toSet
    assert(back == rows.map { case (id, p) =>
      (id, new String(p, "UTF-8")) }.toSet, s"got $back")
  }

  test("packed streaming ingest: file-bounded micro-batches through the ledger, probe equals the batch path") {
    def b(s: String) = s.getBytes("UTF-8")
    val base = Seq((0L, b("alpha")), (1L, b("beta")))
      .toDF("asset_id", "payload")
    val idx = TmpWorkspaces.pidScoped("graft_mm_spec_", "pstream")
    Multimodal.assetWriteIndex(base, idx.toString)
    // three packed files, maxFilesPerTrigger = 1 -> three micro-batch
    // generations through the commit ledger
    val delta = Seq((4L, b("alpha")), (5L, b("beta")), (6L, b("gamma")),
      (7L, b("alpha")))
    val landing = TmpWorkspaces.pidScoped("graft_mm_spec_", "pland")
    Multimodal.packAssets(delta.toDF("asset_id", "payload"),
      landing.toString, nFiles = 3)
    assert(IndexStats.dataFileCount(spark, landing.toString) == 3L)
    graft.streaming.IndexIngest.drain(graft.streaming.IndexIngest.start(
      Multimodal.streamPackedDir(spark, landing.toString,
        maxFilesPerTrigger = 1), None)(
      graft.streaming.IndexIngest.assetBatch(idx.toString)))
    // one ledger marker per file-batch, no replay damage
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(
      new Path(s"$idx/_ingest_commits/asset/epoch=0")).length
    assert(markers == 3, s"3 packed files = 3 committed batches, got $markers")
    assert(IndexLayout.Asset.audit(spark, idx.toString).isEmpty)
    val got = Multimodal.assetDedupIndexed(spark, idx.toString,
        delta.toDF("asset_id", "payload"))
      .as[(String, Long, Long)].collect().toSet
    // alpha {0,4,7} kept 0 size 3; beta {1,5} kept 1 size 2; gamma {6}
    assert(got.map(t => (t._2, t._3)) == Set((0L, 3L), (1L, 2L), (6L, 1L)),
      s"got $got")
  }

  test("frameTexts: frame geometry, stride coordinates, block and empty-payload handling") {
    def b(s: String) = s.getBytes("UTF-8")
    val df = Seq((5L, "s", b("aaaabbbbcc")), (7L, "t", b("")))
      .toDF("asset_id", "source", "payload")
    val got = Multimodal.frameTexts(df, "asset_id", 4, "source")
      .as[(Long, String, String)].collect().toSet
    val S = 1L << 20
    // hex-shingle texts: a full 4-byte frame is its single 8-hex-char
    // token, a 2-byte tail frame its 4-char token, empty stays empty
    assert(got == Set(
      (5 * S + 0, "s", "61616161"), (5 * S + 1, "s", "62626262"),
      (5 * S + 2, "s", "6363"),
      (7 * S + 0, "t", "")), s"got $got")
  }

  test("frame simhash near-dup vs the written band index: identical frames pair frame-for-frame, disjoint text stays out") {
    def b(s: String) = s.getBytes("UTF-8")
    // fb=1024 -> one frame per asset: snapshot 21 duplicates base 10's
    // bytes exactly (hamming 0 pair); 23 is novel (no pair); 11's text
    // shares no token with anything (its fingerprint sits far outside
    // the ball). fb=4 on the multi-frame pair (30 base / 31 snapshot,
    // identical payloads) pins the stride decode: pairs land
    // frame-for-frame at hamming 0.
    val shared = "the quick brown fox jumps over the lazy dog"
    val base = Seq(
      (10L, "s", b(shared)),
      (11L, "s", b("completely different words about winter weather")))
      .toDF("asset_id", "source", "payload")
    val snap = Seq(
      (21L, "s", b(shared)),
      (23L, "s", b("novel unrelated payload content entirely")))
      .toDF("asset_id", "source", "payload")
    val idx = TmpWorkspaces.pidScoped("graft_mm_spec_", "frsim")
    Multimodal.frameSimhashWriteIndex(base, idx.toString, frameBytes = 1024)
    Multimodal.frameSimhashAppendIndex(snap, idx.toString, frameBytes = 1024)
    val got = Multimodal.frameSimhashPairsIndexed(spark, idx.toString, snap,
        frameBytes = 1024)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(("s", 10L, 0L, 21L, 0L, 0L)), s"got $got")

    val base2 = Seq((30L, "s", b("aaaabbbbcc"))).toDF("asset_id", "source", "payload")
    val snap2 = Seq((31L, "s", b("aaaabbbbcc"))).toDF("asset_id", "source", "payload")
    val idx2 = TmpWorkspaces.pidScoped("graft_mm_spec_", "frsim2")
    Multimodal.frameSimhashWriteIndex(base2, idx2.toString, frameBytes = 4)
    Multimodal.frameSimhashAppendIndex(snap2, idx2.toString, frameBytes = 4)
    val got2 = Multimodal.frameSimhashPairsIndexed(spark, idx2.toString,
        snap2, frameBytes = 4)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got2 == Set(("s", 30L, 0L, 31L, 0L, 0L), ("s", 30L, 1L, 31L, 1L, 0L),
      ("s", 30L, 2L, 31L, 2L, 0L)), s"got $got2")
  }

  test("frame decontamination: probe-without-append, hand containment counts, clean frames count as clean") {
    def b(s: String) = s.getBytes("UTF-8")
    // corpus (fb=4): asset 1 carries frames [aaaa, bbbb], asset 2
    // [bbbb, cccc]. Eval assets NEVER enter the index: 11 = [cccc,
    // aaaa] (both known -> 2/2 contaminated), 13 = [dddd] (novel ->
    // 0/1), 15 = [aaaa, dddd] (spliced half-known -> 1/2)
    val corpus = Seq((1L, b("aaaabbbb")), (2L, b("bbbbcccc")))
      .toDF("asset_id", "payload")
    val evalSet = Seq((11L, b("ccccaaaa")), (13L, b("dddd")),
      (15L, b("aaaadddd"))).toDF("asset_id", "payload")
    val idx = TmpWorkspaces.pidScoped("graft_mm_spec_", "decon")
    Multimodal.frameWriteIndex(corpus, idx.toString, frameBytes = 4)
    val got = Multimodal.frameDecontamination(spark, idx.toString,
        evalSet, frameBytes = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((11L, 2L, 2L), (13L, 1L, 0L), (15L, 2L, 1L)),
      s"got $got")
  }

  test("frame audit + compact: replay localized bit-identical, repaired serve exact, divergence refused") {
    def b(s: String) = s.getBytes("UTF-8")
    val base = Seq((1L, b("aaaabbbb")), (2L, b("bbbbcccc")))
      .toDF("asset_id", "payload")
    val snap = Seq((11L, b("ccccaaaa")), (13L, b("dddd")))
      .toDF("asset_id", "payload")
    val idx = TmpWorkspaces.pidScoped("graft_mm_spec_", "frrep")
    Multimodal.frameWriteIndex(base, idx.toString, frameBytes = 4)
    Multimodal.frameAppendIndex(snap, idx.toString, frameBytes = 4)
    Multimodal.frameAppendIndex(snap, idx.toString, frameBytes = 4) // retry
    // audit: exactly the snapshot's 3 coordinates, bit-identical pairs
    val dmg = IndexLayout.Frame.audit(spark, idx.toString)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(dmg == Set((11L, 0L, 2L, 1L), (11L, 1L, 2L, 1L),
      (13L, 0L, 2L, 1L)), s"got $dmg")
    val repaired = TmpWorkspaces.pidScoped("graft_mm_spec_", "frrepC")
    IndexLayout.Frame.compact(spark, idx.toString, repaired.toString)
    assert(IndexLayout.Frame.audit(spark, repaired.toString).isEmpty)
    // the repaired probe serves the clean q200-shape verdicts: 11's
    // cccc lost to (2,1), aaaa lost to (1,0); 13's dddd globally first
    val got = Multimodal.frameDedupIndexed(spark, repaired.toString, snap,
        frameBytes = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((11L, 2L, 0L), (13L, 1L, 1L)), s"got $got")
    // payload divergence (same coordinate, different bytes) REFUSES
    Multimodal.frameAppendIndex(
      Seq((13L, b("DDDD"))).toDF("asset_id", "payload"),
      idx.toString, frameBytes = 4)
    val refused = TmpWorkspaces.pidScoped("graft_mm_spec_", "frrepR")
    val e = intercept[IllegalArgumentException] {
      IndexLayout.Frame.compact(spark, idx.toString, refused.toString)
    }
    assert(e.getMessage.contains("payload-divergent"))
  }

  test("asset near-dup vs the written semantic index: hand geometry end to end") {
    // q197 at the engine level. Feature space is exact-integer, so
    // every verdict is hand-derivable:
    //   "aaaa" -> [1,4,0,0,0,4,0,0]   "iiii" -> [1,4,0,0,0,0,0,4]
    //   "iiio" -> [1,4,0,0,0,0,1,3]: cid 1 (d2 = 2 vs 26), and
    //   cos to "iiii" = 29/sqrt(27*33) ~ 0.9716 < 0.999 -> kept
    // Snapshot dups of base texts sit at cosine exactly 1 -> dropped.
    import graft.operators.Clustering
    val docs = Seq((0L, "aaaa"), (1L, "iiii"), (2L, "aaaa"),
      (3L, "aaaa"), (4L, "iiio"), (5L, "iiii")).toDF("doc_id", "text")
    val feats = Multimodal.featurizeVector(
      Multimodal.attachPayload(docs, "text"), "doc_id").localCheckpoint()
    val cents = feats.filter($"vec_id" < 2)
      .select($"vec_id".as("cid"), $"embedding".as("centroid"))
    val idx = TmpWorkspaces.pidScoped("graft_mm_spec_", "sem")
    Clustering.semanticWriteIndex(
      Clustering.assignL2(feats.filter($"vec_id" <= 2), cents),
      idx.toString)
    val snap = Clustering.assignL2(feats.filter($"vec_id" > 2), cents)
      .localCheckpoint()
    Clustering.semanticAppendIndex(snap, idx.toString, gen = 1)
    val got = Clustering.semDedupIndexed(spark, idx.toString, snap,
        threshold = 0.999)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((0L, 3L, false), (1L, 4L, true), (1L, 5L, false)),
      s"got $got")
  }

  test("asset release manifest: disjoint merge equals fresh, index serve equals payload serve, corruption localizes to one shard") {
    def b(s: String) = s.getBytes("UTF-8")
    val assets = Seq((1L, b("alpha")), (2L, b("beta!")), (3L, b("gamma ray")))
      .toDF("asset_id", "payload")
    val fresh = Multimodal.assetReleaseManifest(assets)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(fresh.toSeq.map(_._2).sum == 3L, "every asset must be counted")
    assert(fresh.toSeq.map(_._3).sum == 19L, "byte masses must add: 5+5+9")

    // compositionality: manifest(base) merged with manifest(delta)
    // over disjoint halves IS the whole corpus's manifest
    val merged = Multimodal.assetManifestMerge(
        Multimodal.assetReleaseManifest(assets.filter($"asset_id" < 3)),
        Multimodal.assetReleaseManifest(assets.filter($"asset_id" === 3)))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(merged == fresh, s"merge drifted:\n$merged\nvs\n$fresh")

    // the written index's fingerprint rows serve the same
    // (n_assets, checksum) without re-reading a single payload byte
    val idx = TmpWorkspaces.pidScoped("graft_mm_spec_", "manifest")
    Multimodal.assetWriteIndex(assets.filter($"asset_id" < 3), idx.toString)
    Multimodal.assetAppendIndex(assets.filter($"asset_id" === 3),
      idx.toString)
    val fromIdx = Multimodal.assetManifestFromIndex(spark, idx.toString)
      .as[(String, Long, Long)].collect().toSet
    assert(fromIdx == fresh.map(m => (m._1, m._2, m._4)),
      s"index serve drifted:\n$fromIdx\nvs\n$fresh")

    // replica verification: one flipped byte (same length!) moves
    // exactly its own asset's shard checksum and nothing else
    val corrupt = Seq((1L, b("alphA")), (2L, b("beta!")),
      (3L, b("gamma ray"))).toDF("asset_id", "payload")
    val cm = Multimodal.assetReleaseManifest(corrupt)
      .as[(String, Long, Long, Long)].collect().toSet
    val moved = fresh -- cm
    val shard1 = Multimodal
      .assetReleaseManifest(assets.filter($"asset_id" === 1))
      .as[(String, Long, Long, Long)].collect().head._1
    assert(moved.map(_._1) == Set(shard1),
      s"corruption must localize to asset 1's shard $shard1, got $moved")
    assert(cm.map(m => (m._1, m._2, m._3)) ==
      fresh.map(m => (m._1, m._2, m._3)),
      "counts and byte masses must not move on a same-length flip")
  }
}
