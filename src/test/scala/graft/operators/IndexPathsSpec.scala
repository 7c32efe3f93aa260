package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IndexPathsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("pointer mechanics: flat root resolves to itself, swap redirects, gc keeps only current") {
    val root = TmpWorkspaces.pidScoped("graft_ixp_spec_", "mech").toString
    assert(IndexPaths.resolve(spark, root) == root,
      "a pointer-less root is the flat day-1 layout")
    assert(IndexPaths.currentGeneration(spark, root).isEmpty)
    assert(IndexPaths.nextGeneration(spark, root) == "gen-000001")

    // swap refuses a generation that was never written
    intercept[IllegalArgumentException] {
      IndexPaths.swap(spark, root, "gen-000001")
    }

    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$root/_gens/gen-000001")
    IndexPaths.swap(spark, root, "gen-000001")
    assert(IndexPaths.resolve(spark, root) == s"$root/_gens/gen-000001")
    assert(IndexPaths.nextGeneration(spark, root) == "gen-000002")

    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$root/_gens/gen-000002")
    IndexPaths.swap(spark, root, "gen-000002")
    assert(IndexPaths.resolve(spark, root) == s"$root/_gens/gen-000002")

    // gc drops only the non-current generation
    assert(IndexPaths.gc(spark, root) == Seq("gen-000001"))
    assert(IndexPaths.resolve(spark, root) == s"$root/_gens/gen-000002")
    assert(spark.read.parquet(IndexPaths.resolve(spark, root))
      .as[(Long, String)].collect().toSet == Set((2L, "b")))

    // clearPointer returns the root to the flat layout
    IndexPaths.clearPointer(spark, root)
    assert(IndexPaths.resolve(spark, root) == root)
  }

  test("bm25 compact-swap while a probe replays: old resolution serves hash-equal, post-swap serve hash-equal, appends land live") {
    import graft.operators.Retrieval
    val docs = Seq((0L, "spark shuffles keyed data"),
      (1L, "flink keyed state backend"),
      (2L, "spark broadcast joins small data"),
      (3L, "keyed state ttl in flink")).toDF("doc_id", "text")
    val root = TmpWorkspaces.pidScoped("graft_ixp_spec_", "bm25").toString
    Retrieval.bm25WriteIndex(docs, root)
    val delta = Seq((4L, "unrelated pelican document"),
      (5L, "spark keyed shuffles again")).toDF("doc_id", "text")
    Retrieval.bm25AppendIndex(delta, root)
    Retrieval.bm25AppendIndex(delta, root) // the injected blind retry
    assert(!IndexLayout.Bm25.audit(spark, root).isEmpty,
      "the replay damage must be visible pre-repair")

    val qs = Seq((0L, "spark shuffles keyed data")).toDF("doc_id", "text")
    def serveThroughRoot() =
      Retrieval.bm25TopKIndexed(spark, root, qs, k = 10)
        .as[(Long, Long, Long, Double)].collect().toSet

    // the standing reader: its scan was planned (and its files listed)
    // BEFORE the swap — reader safety means the swap must not disturb
    // the files under it, so this exact frame replays identically after
    val standingPostings =
      spark.read.parquet(s"${IndexPaths.resolve(spark, root)}/postings")
    val preSwapRows = standingPostings.count()

    // the clean expectation: a fresh build over the true corpus
    val fresh = TmpWorkspaces.pidScoped("graft_ixp_spec_", "fresh").toString
    Retrieval.bm25WriteIndex(docs.union(delta), fresh)
    val want = Retrieval.bm25TopKIndexed(spark, fresh, qs, k = 10)
      .as[(Long, Long, Long, Double)].collect().toSet

    // ONLINE repair: compact into the next generation + atomic cutover
    val gen = IndexLayout.Bm25.compactSwap(spark, root)
    assert(gen == s"$root/_gens/gen-000001")
    assert(IndexPaths.resolve(spark, root) == gen)

    // reader safety: the pre-swap frame (old generation's files) still
    // serves exactly what it served before — the cutover touched only
    // the pointer, never the old layout
    assert(standingPostings.count() == preSwapRows)

    // serving THROUGH the root resolves the repaired generation and
    // hash-equals the clean fresh build
    assert(serveThroughRoot() == want && want.nonEmpty)
    assert(IndexLayout.Bm25.audit(spark, root).isEmpty,
      "the audit through the root must see the repaired generation")

    // a post-swap append lands IN the live generation and serves
    val delta2 = Seq((6L, "spark pelican keyed")).toDF("doc_id", "text")
    Retrieval.bm25AppendIndex(delta2, root)
    val fresh2 = TmpWorkspaces.pidScoped("graft_ixp_spec_", "fresh2").toString
    Retrieval.bm25WriteIndex(docs.union(delta).union(delta2), fresh2)
    val want2 = Retrieval.bm25TopKIndexed(spark, fresh2, qs, k = 10)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(serveThroughRoot() == want2)
  }

  test("the standing reader's pre-swap frame keeps serving the OLD generation across the cutover") {
    // the reader-safety core: a DataFrame whose scan was RESOLVED (and
    // file-listed) before the swap reads the old generation's files,
    // which the swap and the new generation never touch
    val root = TmpWorkspaces.pidScoped("graft_ixp_spec_", "reader").toString
    Seq((1L, "old")).toDF("id", "v").write.parquet(s"$root/_gens/gen-000001")
    IndexPaths.swap(spark, root, "gen-000001")
    val standing = spark.read.parquet(IndexPaths.resolve(spark, root))

    Seq((2L, "new")).toDF("id", "v").write.parquet(s"$root/_gens/gen-000002")
    IndexPaths.swap(spark, root, "gen-000002")
    // the pre-swap frame still serves the old generation, unharmed
    assert(standing.as[(Long, String)].collect().toSet == Set((1L, "old")))
    // a fresh resolve serves the new one
    assert(spark.read.parquet(IndexPaths.resolve(spark, root))
      .as[(Long, String)].collect().toSet == Set((2L, "new")))
  }

  test("asset compact-swap: the media family's online repair serves repaired verdicts through the root") {
    import graft.operators.Multimodal
    def b(s: String) = s.getBytes("UTF-8")
    val base = Seq((1L, b("alpha")), (2L, b("beta")))
      .toDF("asset_id", "payload")
    val snap = Seq((4L, b("alpha")), (5L, b("gamma")))
      .toDF("asset_id", "payload").localCheckpoint()
    val root = TmpWorkspaces.pidScoped("graft_ixp_spec_", "asset").toString
    Multimodal.assetWriteIndex(base, root)
    Multimodal.assetAppendIndex(snap, root)
    Multimodal.assetAppendIndex(snap, root) // the injected blind retry
    assert(!IndexLayout.Asset.audit(spark, root).isEmpty)

    val gen = IndexLayout.Asset.compactSwap(spark, root)
    assert(IndexPaths.resolve(spark, root) == gen)
    assert(IndexLayout.Asset.audit(spark, root).isEmpty,
      "the audit through the root must see the repaired generation")
    val got = Multimodal.assetDedupIndexed(spark, root, snap)
      .as[(String, Long, Long)].collect().toSet
    // alpha {1,4} kept 1 size 2; gamma {5} singleton
    assert(got.map(t => (t._2, t._3)) == Set((1L, 2L), (5L, 1L)), s"got $got")
    // post-swap appends land live and serve
    Multimodal.assetAppendIndex(
      Seq((7L, b("alpha"))).toDF("asset_id", "payload"), root)
    val got2 = Multimodal.assetDedupIndexed(spark, root, snap)
      .as[(String, Long, Long)].collect().toSet
    assert(got2.map(t => (t._2, t._3)) == Set((1L, 3L), (5L, 1L)),
      s"got $got2")
  }

  test("maybeCompact: below threshold is a no-op listing, above it compacts and swaps") {
    import graft.operators.Retrieval
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma"))
      .toDF("doc_id", "text")
    val root = TmpWorkspaces.pidScoped("graft_ixp_spec_", "auto").toString
    Retrieval.bm25WriteIndex(docs, root)
    val before = IndexStats.dataFileCount(spark, root)
    assert(IndexPaths.maybeCompact(spark, root, maxDataFiles = 1000000)(
      fail("below the threshold the thunk must not run")).isEmpty)
    // force the policy to fire
    val gen = IndexPaths.maybeCompact(spark, root, maxDataFiles = 0)(
      IndexLayout.Bm25.compactSwap(spark, root))
    assert(gen.contains(s"$root/_gens/gen-000001"))
    assert(IndexPaths.resolve(spark, root) == s"$root/_gens/gen-000001")
    assert(IndexStats.dataFileCount(spark,
      IndexPaths.resolve(spark, root)) <= before)
  }
}
