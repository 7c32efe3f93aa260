package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClusteringSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  graft.functions.VectorExpressions.ensureRegistered(spark)

  // two well-separated 2-d blobs around (0,0) and (10,10)
  private val blobA = Seq(
    (0L, Array(0.1f, 0.2f)), (1L, Array(-0.2f, 0.1f)), (2L, Array(0.0f, -0.1f)))
  private val blobB = Seq(
    (3L, Array(10.1f, 9.9f)), (4L, Array(9.8f, 10.2f)), (5L, Array(10.0f, 10.0f)))
  private def corpus = (blobA ++ blobB).toDF("vec_id", "embedding")

  // seed one centroid inside each blob
  private def init = Seq((0L, Array(0.1, 0.2)), (1L, Array(10.1, 9.9)))
    .toDF("cid", "centroid")

  test("lloyd converges to the blob means and assigns every point") {
    val assigned = Clustering.kmeansAssign(corpus, init, iters = 2)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(assigned == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 1L, 4L -> 1L, 5L -> 1L), s"got $assigned")

    val cents = Clustering.lloydCentroids(corpus, init, iters = 2)
      .select("cid", "centroid").as[(Long, Seq[Double])].collect().toMap
    // fixed-point mean of blob A x-components: floor-quantized mean of
    // (0.1, -0.2, 0.0) ≈ -0.033334 (floor, not round-half)
    assert(math.abs(cents(0L).head - (-0.033334)) < 1e-6, s"got ${cents(0L)}")
    assert(math.abs(cents(1L).head - 9.966666) < 1e-5, s"got ${cents(1L)}")
  }

  test("centroid update is partition-invariant (fixed-point sums)") {
    val a = Clustering.lloydCentroids(corpus, init, iters = 2)
      .select("cid", "centroid").as[(Long, Seq[Double])].collect().toSet
    val b = Clustering.lloydCentroids(corpus.repartition(7), init, iters = 2)
      .select("cid", "centroid").as[(Long, Seq[Double])].collect().toSet
    assert(a == b, "quantized component sums must not depend on partitioning")
  }

  test("empty clusters drop out instead of corrupting the update") {
    // both seeds inside blob A: blob B's seed is never nearest for seed 1?
    // no — seed far outside both blobs: nothing assigns to it
    val farInit = Seq((0L, Array(5.0, 5.0)), (1L, Array(1e6, 1e6)))
      .toDF("cid", "centroid")
    val cents = Clustering.lloydCentroids(corpus, farInit, iters = 1)
      .select("cid").as[Long].collect().toSeq
    assert(cents == Seq(0L), s"far centroid must vanish, got $cents")
  }

  // shared written-index fixture: two frozen centroids, one base
  // vector in each cluster, snapshot appended as generation 1
  private def cents2 = Seq((0L, Array(1.0, 1.0)), (1L, Array(-5.0, 5.0)))
    .toDF("cid", "centroid")
  private def base2 = Seq((0L, Array(1.0f, 1.0f)), (3L, Array(-5.0f, 5.0f)))
    .toDF("vec_id", "embedding")
  private def snap2 = Seq(
    (10L, Array(2.0f, 2.0f)),   // cluster 0: cos=1 vs base 0 → removed
    (11L, Array(1.0f, 0.9f)),   // cluster 0: ~0.9986 vs base 0 → removed
    (12L, Array(5.0f, -5.0f)),  // cluster 0: orthogonal to all base → kept
    (13L, Array(-5.0f, 5.1f)),  // cluster 1: ~0.9999 vs base 3 → removed
    (14L, Array(5.0f, -5.1f))   // cluster 0: removed ONLY by snapshot 12
  ).toDF("vec_id", "embedding")

  private def buildSemIndex(key: String): String = {
    val idx = TmpWorkspaces.pidScoped("graft_semidx_spec_", key)
    Clustering.semanticWriteIndex(Clustering.assignL2(base2, cents2),
      idx.toString)
    Clustering.semanticAppendIndex(Clustering.assignL2(snap2, cents2),
      idx.toString, gen = 1)
    idx.toString
  }

  test("semDedupIndexed decides kept against FULL union membership via the written index") {
    val idx = buildSemIndex("union")
    val out = Clustering.semDedupIndexed(spark, idx,
        Clustering.assignL2(snap2, cents2), threshold = 0.95)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    // 10/11 die to BASE member 0; 13 dies to BASE member 3; 14 dies to
    // SNAPSHOT sibling 12 (base offers nothing in its direction) — the
    // union semantics, both sides exercised; 12 survives
    assert(out == Map(10L -> false, 11L -> false, 12L -> true,
      13L -> false, 14L -> false), s"got $out")
  }

  test("semDedupIndexed cap counts UNION membership; over-cap clusters keep everything") {
    val idx = buildSemIndex("cap")
    val out = Clustering.semDedupIndexed(spark, idx,
        Clustering.assignL2(snap2, cents2), threshold = 0.95,
        maxClusterSize = 2)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    // cluster 0's union size is 5 (> 2) → all its snapshot members come
    // back kept, un-deduped; cluster 1's union size is exactly 2 → its
    // dedup still runs and 13 still dies to base 3
    assert(out == Map(10L -> true, 11L -> true, 12L -> true,
      13L -> false, 14L -> true), s"got $out")
  }

  test("semDedupIndexed refuses a wider-than-broadcast probe set loudly") {
    val idx = buildSemIndex("probe")
    val ex = intercept[IllegalArgumentException] {
      Clustering.semDedupIndexed(spark, idx,
        Clustering.assignL2(snap2, cents2), threshold = 0.95,
        maxProbedClusters = 1)
    }
    assert(ex.getMessage.contains("broadcast-class"), ex.getMessage)
  }

  test("semanticDriftAudit: shares, fixed-point mean d2, drifted per cluster") {
    // exact-arithmetic snapshot: (3,1)/(1,3) have d2 = 10-8+2 = 4.0 to
    // centroid (1,1); (-5,7) has d2 = 74-120+50 = 4.0 to (-5,5) — no
    // float dust, so the quantized means are exactly 4.0
    val cents = cents2
    val idx = TmpWorkspaces.pidScoped("graft_semidx_spec_", "drift")
    Clustering.semanticWriteIndex(Clustering.assignL2(base2, cents),
      idx.toString)
    val snap = Seq((10L, Array(3.0f, 1.0f)), (11L, Array(1.0f, 3.0f)),
      (13L, Array(-5.0f, 7.0f))).toDF("vec_id", "embedding")
    Clustering.semanticAppendIndex(Clustering.assignL2(snap, cents),
      idx.toString, gen = 1)
    val rows = Clustering.semanticDriftAudit(spark, idx.toString,
        shareDrift = 0.05)
      .orderBy("cid")
      .as[(Long, Long, Long, Double, Double, Double, Double, Boolean)]
      .collect().toSeq
    // base shares (0.5, 0.5); snapshot shares (2/3, 1/3) → both move
    // by 1/6 > 0.05; base members sit AT their centroids (mean d2 = 0)
    assert(rows == Seq(
      (0L, 1L, 2L, 0.5, 0.666667, 0.0, 4.0, true),
      (1L, 1L, 1L, 0.5, 0.333333, 0.0, 4.0, true)), s"got $rows")
  }

  test("semanticDriftAudit before any append: null snapshot shares, drifted pinned false") {
    val idx = TmpWorkspaces.pidScoped("graft_semidx_spec_", "noappend")
    Clustering.semanticWriteIndex(Clustering.assignL2(base2, cents2),
      idx.toString)
    val rows = Clustering.semanticDriftAudit(spark, idx.toString)
      .orderBy("cid")
      .select($"cid", $"n_new", $"share_new".isNull.as("sn_null"),
        $"mean_d2_new".isNull.as("md_null"), $"drifted")
      .as[(Long, Long, Boolean, Boolean, Boolean)].collect().toSeq
    // 0/0 must NOT surface as null drift flags (ADVICE.md r14): an
    // empty snapshot side is "no drift signal", shares stay null
    assert(rows == Seq((0L, 0L, true, true, false),
      (1L, 0L, true, true, false)), s"got $rows")
  }

  test("semanticAuditIndex localizes a replayed append; compact repairs it exactly") {
    val idx = TmpWorkspaces.pidScoped("graft_semidx_spec_", "repair")
    Clustering.semanticWriteIndex(Clustering.assignL2(base2, cents2),
      idx.toString)
    val snap = Clustering.assignL2(snap2, cents2).localCheckpoint()
    Clustering.semanticAppendIndex(snap, idx.toString, gen = 1)
    assert(IndexLayout.semantic("vec_id").audit(spark, idx.toString).isEmpty,
      "a clean build+append must audit empty")
    val clean = Clustering.semDedupIndexed(spark, idx.toString, snap,
        threshold = 0.95)
      .as[(Long, Long, Boolean)].collect().toSet

    // the injected failure: the same append replays
    Clustering.semanticAppendIndex(snap, idx.toString, gen = 1)
    val dmg = IndexLayout.semantic("vec_id").audit(spark, idx.toString)
      .as[(Long, Long, Long)].collect().toSet
    // exactly the 5 snapshot members, each twice, bit-identical copies
    assert(dmg == Set((10L, 2L, 1L), (11L, 2L, 1L), (12L, 2L, 1L),
      (13L, 2L, 1L), (14L, 2L, 1L)), s"got $dmg")

    val repaired = TmpWorkspaces.pidScoped("graft_semidx_spec_", "repaired")
    IndexLayout.semantic("vec_id").compact(spark, idx.toString,
      repaired.toString)
    assert(IndexLayout.semantic("vec_id").audit(spark, repaired.toString)
        .isEmpty,
      "compaction must drop every replayed copy")
    val served = Clustering.semDedupIndexed(spark, repaired.toString, snap,
        threshold = 0.95)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(served == clean, s"repaired verdicts must equal clean: $served")
  }

  test("semanticCompactIndex refuses payload-divergent copies (re-append under a new generation)") {
    val idx = TmpWorkspaces.pidScoped("graft_semidx_spec_", "divergent")
    Clustering.semanticWriteIndex(Clustering.assignL2(base2, cents2),
      idx.toString)
    val snap = Clustering.assignL2(snap2, cents2).localCheckpoint()
    Clustering.semanticAppendIndex(snap, idx.toString, gen = 1)
    // same members re-appended under gen = 2: copies DISAGREE on gen —
    // divergence, not replay; the audit flags it and compact refuses
    Clustering.semanticAppendIndex(snap, idx.toString, gen = 2)
    val dmg = IndexLayout.semantic("vec_id").audit(spark, idx.toString)
      .select("n_copies", "n_payloads").as[(Long, Long)].collect().toSet
    assert(dmg == Set((2L, 2L)), s"copies must show 2 distinct payloads: $dmg")
    val ex = intercept[IllegalArgumentException] {
      IndexLayout.semantic("vec_id").compact(spark, idx.toString,
        TmpWorkspaces.pidScoped("graft_semidx_spec_", "divdst").toString)
    }
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
  }

  test("semDedup keeps the lowest id of a near-identical group per cluster") {
    val v = Array(1.0f, 1.0f)
    val df = Seq(
      (0L, v), (1L, v), (2L, v),            // identical triple → keep 0 only
      (3L, Array(-5.0f, 5.0f)),             // alone in its area
      (4L, Array(10.0f, 10.0f))             // same direction as 0-2 but will
    ).toDF("vec_id", "embedding")           //   land in the far cluster seed
    val ini = Seq((0L, Array(1.0, 1.0)), (1L, Array(-5.0, 5.0)),
      (2L, Array(10.0, 10.0))).toDF("cid", "centroid")
    val out = Clustering.semDedup(df, ini, iters = 1, threshold = 0.95)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out(0L) && !out(1L) && !out(2L), s"got $out")
    assert(out(3L) && out(4L),
      "solo vectors survive; same-direction vec in another cluster is kept")
  }
}
