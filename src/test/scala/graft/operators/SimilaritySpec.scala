package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  graft.functions.VectorExpressions.ensureRegistered(spark)

  private val dim = 8

  test("hyperplanes are deterministic ±1 families of the requested shape") {
    val a = Similarity.hyperplanes(4, dim)
    val b = Similarity.hyperplanes(4, dim)
    assert(a == b, "hash-derived planes must be identical across calls")
    assert(a.size == 4 && a.forall(_.size == dim))
    assert(a.flatten.forall(x => x == 1.0 || x == -1.0))
    // not degenerate: both signs occur
    assert(a.flatten.toSet == Set(1.0, -1.0))
  }

  test("lshNearDupPairs finds identical vectors and is partition-invariant") {
    // two identical vectors (must share every band), one orthogonal-ish
    // noise vector, one negated copy (sim -1, below any threshold)
    val base = (1 to dim).map(_.toFloat).toArray
    val df = Seq(
      (1L, base), (2L, base),
      (3L, base.map(-_)),
      (4L, Array.fill(dim)(0.001f).updated(0, 5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.lshNearDupPairs(df, threshold = 0.9, dim = dim,
        numPlanes = 8, bands = 4)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 1.0)), s"got $out")
    val repart = Similarity.lshNearDupPairs(df.repartition(5), threshold = 0.9,
        dim = dim, numPlanes = 8, bands = 4)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().toSeq
    assert(repart == out, "hash-derived planes ⇒ partitioning must not matter")
  }

  test("collectCentroids enforces the rows x dim payload bound") {
    // 5 rows x 1M components = 5,242,880 embedded doubles — over the
    // 4M (~32 MB) payload cap even though the ROW count (5) is far
    // under MaxLiteralCentroids; the binding bound must be the payload
    val bigDim = 1 << 20
    val cents = (0L until 5L).map(i => (i, Array.fill(bigDim)(0.5)))
      .toDF("cid", "centroid")
    val e = intercept[IllegalArgumentException] {
      Similarity.collectCentroids(cents, "cid", "centroid")
    }
    assert(e.getMessage.contains("payload bound"), e.getMessage)
    // 4 rows x 1M = exactly the cap — admitted
    val ok = Similarity.collectCentroids(
      cents.filter(col("cid") < 4), "cid", "centroid")
    assert(ok.size == 4)
  }

  test("ivfTopKProbed: nprobe=2 recovers the cross-bucket neighbor nprobe=1 misses") {
    // two well-separated clusters around orthogonal axes; the query
    // (id 5) sits BETWEEN them, slightly closer to cluster A — so its
    // single-probe bucket is A, but its true nearest neighbor (id 10,
    // the boundary-leaning member of B) lives in bucket B
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val a = Seq(1L -> v(1, 0, 0, 0.1), 2L -> v(1, 0.1, 0, 0),
      3L -> v(0.9, 0, 0.1, 0))
    val b = Seq(10L -> v(0.8, 1, 0, 0), 11L -> v(0, 1, 0.1, 0),
      12L -> v(0.1, 1, 0, 0))
    val qv = Seq(5L -> v(1, 0.75, 0, 0))
    val df = (a ++ b ++ qv).toDF("vec_id", "embedding")
    val cents = Seq(100L -> v(1, 0, 0, 0), 200L -> v(0, 1, 0, 0))
      .toDF("centroid_id", "embedding")
    val assigned = Similarity.ivfAssign(df, cents)
    val qid = Seq(Tuple1(5L)).toDF("vec_id")
    def ids(nprobe: Int): Seq[Long] =
      Similarity.ivfTopKProbed(assigned, cents, qid, k = 3, nprobe = nprobe)
        .orderBy(col("rank")).select("neighbor_id").as[Long].collect().toSeq
    val one = ids(1)
    val two = ids(2)
    assert(!one.contains(10L), s"single probe must miss the B-bucket neighbor: $one")
    assert(two.head == 10L, s"nprobe=2 must surface the true nearest first: $two")
    // candidate set is a superset ⇒ at least as many results at same k
    assert(two.size >= one.size)
  }

  test("ivfTopKIndexed enforces the probed-bucket bound (broadcast-class queries)") {
    // same two-cluster fixture as the nprobe test; the query at the
    // boundary probes BOTH buckets at nprobe=2, so maxProbedBuckets=1
    // must trip the guard — and the default bound must serve fine
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val df = Seq(1L -> v(1, 0, 0, 0.1), 2L -> v(1, 0.1, 0, 0),
      10L -> v(0.8, 1, 0, 0), 11L -> v(0, 1, 0.1, 0),
      5L -> v(1, 0.75, 0, 0)).toDF("vec_id", "embedding")
    val cents = Seq(100L -> v(1, 0, 0, 0), 200L -> v(0, 1, 0, 0))
      .toDF("centroid_id", "embedding")
    val path = TmpWorkspaces.pidScoped("graft_ivfidx_spec_", "guard").toString
    Similarity.ivfWriteIndex(Similarity.ivfAssign(df, cents), path)
    val q = df.filter(col("vec_id") === 5L)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(spark, path, cents, q, k = 3, nprobe = 2,
        maxProbedBuckets = 1)
    }
    assert(e.getMessage.contains("broadcast-class"), e.getMessage)
    val served = Similarity.ivfTopKIndexed(spark, path, cents, q,
      k = 3, nprobe = 2)
    assert(served.select("neighbor_id").as[Long].collect().nonEmpty)
  }

  test("ivfRecallAudit: pruned-serve recall against exact over the same index, by hand") {
    // 2-d cosine geometry, centroids on the axes: buckets are the
    // half-quadrants. v2 sits on the x-axis side but its 2nd/3rd exact
    // neighbors live in bucket 1 — nprobe=1 MUST miss them, so the
    // audit has to report recall 1/3 for v2 and 2/3 for v1 (whose
    // bucket holds only 2 candidates for k=3).
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val df = Seq(0L -> v(1, 0), 1L -> v(0, 1), 2L -> v(1, 0.1),
      3L -> v(0.1, 1), 4L -> v(0.6, 0.8)).toDF("vec_id", "embedding")
    // buckets: {0, 2} on x, {1, 3, 4} on y
    val cents = Seq(0L -> v(1, 0), 1L -> v(0, 1))
      .toDF("centroid_id", "embedding")
    val path = TmpWorkspaces.pidScoped("graft_ivfidx_recall_", "spec")
    Similarity.ivfWriteIndex(Similarity.ivfAssign(df, cents),
      path.toString)
    val out = Similarity.ivfRecallAudit(spark, path.toString, cents,
        df.filter(col("vec_id").isin(1L, 2L)), k = 3, nprobe = 1)
      .as[(Long, Int, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // v2 exact top-3 = {0 (.995), 4 (.677), 3 (.198)}; bucket 0 serves
    // only {0} → 1 of 3
    assert(out(2L) == ((2L, 3, 3L, 1L, 0.333333)), s"got ${out(2L)}")
    // v1 exact top-3 = {3 (.995), 4 (.8), 2 (.0995)}; bucket 1 serves
    // {3, 4} → 2 of 3
    assert(out(1L) == ((1L, 3, 3L, 2L, 0.666667)), s"got ${out(1L)}")
    // widening the probe to both buckets recovers exact: recall 1.0
    val full = Similarity.ivfRecallAudit(spark, path.toString, cents,
        df.filter(col("vec_id").isin(1L, 2L)), k = 3, nprobe = 2)
      .as[(Long, Int, Long, Long, Double)].collect()
    assert(full.forall(r => r._4 == r._3 && r._5 == 1.0), s"got ${full.toSeq}")
  }

  test("ivfAppendIndex: build(base) + append(delta) serves identically to build(union)") {
    // 20 vectors on 4 axes of dim 4, 2 centroids; split base/delta by
    // id parity — the served top-k from the appended layout must equal
    // the fresh union build ROW FOR ROW (q137 gates the same equality
    // against the DuckDB oracle; this pins it at the engine level with
    // full control of both layouts)
    val vecs = Seq.tabulate(20) { i =>
      val a = Array.fill(4)(0.1f); a(i % 4) = 1f + 0.01f * i; (i.toLong, a)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val centroids = df.filter(col("vec_id") < 2)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val queries = df.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    val freshPath = TmpWorkspaces.pidScoped("graft_ivfidx_fresh_", "spec")
    val apndPath = TmpWorkspaces.pidScoped("graft_ivfidx_apnd_", "spec")
    Similarity.ivfWriteIndex(Similarity.ivfAssign(df, centroids),
      freshPath.toString)
    Similarity.ivfWriteIndex(
      Similarity.ivfAssign(df.filter(col("vec_id") % 2 === 0), centroids),
      apndPath.toString)
    Similarity.ivfAppendIndex(
      Similarity.ivfAssign(df.filter(col("vec_id") % 2 =!= 0), centroids),
      apndPath.toString)
    def serve(p: String) =
      Similarity.ivfTopKIndexed(spark, p, centroids, queries, k = 3,
          nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
        .as[(Long, Int, Long, Double)].collect().toSeq
    assert(serve(apndPath.toString) == serve(freshPath.toString),
      "append layout must serve bit-identically to the fresh union build")
  }

  test("every top-k serve keeps the rank contract: ranks 1..k, ties by ascending id, no self-match") {
    // exact ties: 2 and 3 duplicate query 1's own vector, 5 duplicates
    // query 4's; both queries sit inside the corpus. Ids 1-5 share
    // bucket 100, ids 6-8 bucket 200, so at k = 4 every serve (nprobe 1
    // included) ranks a full top-4 holding at least one tie pair
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val a = v(1, 0.2, 0.1, 0)
    val b = v(0.9, 0.3, 0, 0.1)
    val df = Seq(1L -> a, 2L -> a, 3L -> a, 4L -> b, 5L -> b,
      6L -> v(0, 1, 0.2, 0.1), 7L -> v(0.1, 0.9, 0, 0.3),
      8L -> v(0.2, 1, 0.1, 0)).toDF("vec_id", "embedding")
    val cents = Seq(100L -> v(1, 0, 0, 0), 200L -> v(0, 1, 0, 0))
      .toDF("centroid_id", "embedding")
    val queries = df.filter(col("vec_id").isin(1L, 4L))
    val k = 4
    val assigned = Similarity.ivfAssign(df, cents)
    val ivfPath = TmpWorkspaces.pidScoped("graft_rank_spec_", "ivf").toString
    Similarity.ivfWriteIndex(assigned, ivfPath)
    val pqCb = Pq.pqTrain(df, m = 2, ksub = 4, iters = 2)
    val ivfPqCb = Pq.pqTrain(Pq.ivfResiduals(assigned, cents),
      m = 2, ksub = 4, iters = 1, vecCol = "resid")
    val ivfPqEnc = Pq.ivfPqEncode(assigned, cents, ivfPqCb)
    val ivfPqPath = TmpWorkspaces.pidScoped("graft_rank_spec_", "ivfpq").toString
    Pq.ivfPqWriteIndex(ivfPqEnc, ivfPqPath)
    val serves: Seq[(String, () => DataFrame)] = Seq(
      "bruteForceTopK" -> (() => Similarity.bruteForceTopK(df, queries, k)),
      "ivfTopK" -> (() => Similarity.ivfTopK(assigned,
        queries.select("vec_id"), k)),
      "ivfTopKProbed" -> (() => Similarity.ivfTopKProbed(assigned, cents,
        queries.select("vec_id"), k, nprobe = 2)),
      "ivfTopKIndexed" -> (() => Similarity.ivfTopKIndexed(spark, ivfPath,
        cents, queries, k, nprobe = 2)),
      "ivfPqTopK" -> (() => Pq.ivfPqTopK(ivfPqEnc, cents, ivfPqCb, queries,
        k, nprobe = 2)),
      "ivfPqTopKIndexed" -> (() => Pq.ivfPqTopKIndexed(spark, ivfPqPath,
        cents, ivfPqCb, queries, k, nprobe = 2)),
      "pqTopK" -> (() => Pq.pqTopK(Pq.pqEncode(df, pqCb), pqCb, queries, k)))
    val broken = serves.flatMap { case (name, serve) =>
      val rows = serve().as[(Long, Int, Long, Double)].collect().toSeq
      Seq(1L, 4L).flatMap { qid =>
        val got = rows.filter(_._1 == qid).sortBy(_._2)
        val ordered = got.zip(got.drop(1)).forall { case (x, y) =>
          x._4 > y._4 || (x._4 == y._4 && x._3 < y._3)
        }
        val ties = got.groupBy(_._4).values.exists(_.size > 1)
        if (got.map(_._2) == (1 to k) && ordered && ties &&
            !got.exists(_._3 == qid)) Nil
        else Seq(s"$name query $qid: $got")
      }
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }

  test("lshNearDupPairs respects the bucket cap") {
    // 5 identical vectors: every band bucket has 5 members; cap at 4
    // drops them all before pairing (the minhash-style recall trade)
    val base = (1 to dim).map(_.toFloat).toArray
    val df = (1L to 5L).map(i => (i, base)).toDF("vec_id", "embedding")
    val out = Similarity.lshNearDupPairs(df, threshold = 0.5, dim = dim,
      numPlanes = 8, bands = 4, maxBucketSize = 4)
    assert(out.isEmpty, "capped buckets must not pair")
  }
}
