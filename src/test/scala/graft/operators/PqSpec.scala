package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  graft.functions.VectorExpressions.ensureRegistered(spark)

  // 12 vectors in 3 groups along distinct axes of dim 8 (members of a
  // group are identical up to the shared group noise level); m=2
  // subspaces of width 4. Group structure survives both subspaces, so
  // ADC top-k must recover within-group neighbors exactly.
  private def v(axis: Int, eps: Float): Array[Float] = {
    val a = Array.fill(8)(0.01f * eps)
    a(axis) = 1f
    a(axis + 4) = 1f
    a
  }

  private def fixture =
    Seq.tabulate(12)(i => (i.toLong, v(i % 3, (i % 3 + 1).toFloat)))
      .toDF("vec_id", "embedding")

  test("pqTrain is deterministic, codes dense per subspace, widths equal") {
    val df = fixture
    val a = Pq.pqTrain(df, m = 2, ksub = 4, iters = 2)
      .orderBy("sub", "code")
      .as[(Int, Long, Seq[Double])].collect().toSeq
    val b = Pq.pqTrain(df, m = 2, ksub = 4, iters = 2)
      .orderBy("sub", "code")
      .as[(Int, Long, Seq[Double])].collect().toSeq
    assert(a == b, "two trainings of the same corpus must be bit-identical")
    assert(a.forall(_._3.length == 4), "subspace width must be dim/m")
    val bySub = a.groupBy(_._1)
    assert(bySub.keySet == Set(0, 1))
    bySub.values.foreach { g =>
      assert(g.map(_._2).sorted == (0L until g.length.toLong),
        s"codes must be dense 0..k-1 per subspace, got ${g.map(_._2)}")
    }
  }

  test("pqEncode emits in-range codes and identical vectors share codes") {
    val df = fixture
    val cb = Pq.pqTrain(df, m = 2, ksub = 4, iters = 2)
    val k = cb.groupBy("sub").count().as[(Int, Long)].collect().toMap
    val enc = Pq.pqEncode(df, cb).as[(Long, Seq[Long])].collect().toMap
    assert(enc.size == 12)
    enc.values.foreach { codes =>
      assert(codes.length == 2)
      codes.zipWithIndex.foreach { case (c, j) =>
        assert(c >= 0 && c < k(j), s"code $c out of range for sub $j")
      }
    }
    // same-group vectors differ only by epsilon noise: with 4 codes for
    // 3 groups, each group must land in one bucket per subspace
    (0 until 3).foreach { g =>
      val members = (0 until 12).filter(_ % 3 == g).map(i => enc(i.toLong))
      assert(members.distinct.size == 1,
        s"group $g spread across codes: $members")
    }
  }

  test("ADC sim equals the reconstruction cosine computed by hand") {
    val df = fixture
    val cb = Pq.pqTrain(df, m = 2, ksub = 4, iters = 2)
    val enc = Pq.pqEncode(df, cb)
    val queries = df.filter(col("vec_id") === 0L)
    val got = Pq.pqTopK(enc, cb, queries, k = 11)
      .as[(Long, Int, Long, Double)].collect()
      .map(r => r._3 -> r._4).toMap

    // hand reconstruction: codes -> concatenated centroids, then plain
    // cosine(query, reconstruction) with ascending accumulation
    val cbm = cb.as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).map { case (s, g) => s -> g.map(t => t._2 -> t._3).toMap }
    val codes = Pq.pqEncode(df, cb).as[(Long, Seq[Long])].collect().toMap
    val qv = (0 until 8).map(i => if (i == 0 || i == 4) 1.0 else 0.01)
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val qn = math.sqrt(dot(qv, qv))
    (1 until 12).foreach { i =>
      val rec = cbm(0)(codes(i.toLong)(0)) ++ cbm(1)(codes(i.toLong)(1))
      val want = BigDecimal(dot(qv, rec) / (qn * math.sqrt(dot(rec, rec))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(i.toLong) - want) < 2e-6,
        s"neighbor $i: adc=${got(i.toLong)} hand=$want")
    }
  }

  test("ADC top-k ranks within-group neighbors first (recall on structure)") {
    val df = fixture
    val cb = Pq.pqTrain(df, m = 2, ksub = 4, iters = 2)
    val enc = Pq.pqEncode(df, cb)
    val queries = df.filter(col("vec_id") < 3)
    val top3 = Pq.pqTopK(enc, cb, queries, k = 3)
      .as[(Long, Int, Long, Double)].collect()
    top3.groupBy(_._1).foreach { case (qid, rows) =>
      val group = qid % 3
      rows.foreach { case (_, _, nid, _) =>
        assert(nid % 3 == group,
          s"query $qid (group $group) pulled cross-group neighbor $nid")
      }
    }
  }

  test("pq_lut emits the bit-identical table to the column-per-slot vec_dot builder") {
    // 2 subspaces of width 4, stride 3, slot (1, 2) dead (empty entry —
    // a Lloyd-dropped code): pq_lut must reproduce the exact doubles of
    // the array(vec_dot(slice(…))) builder it replaced, including the
    // 0.0 padding and the clamp-to-shorter-input dot semantics
    val flat: Seq[Seq[Double]] = Seq(
      Seq(1.0, 0.5, -0.25, 2.0), Seq(0.0, 1.0, 0.0, -1.0),
      Seq(0.125, 0.125, 3.0, 0.75),
      Seq(-2.0, 0.0, 1.5, 0.5), Seq(1.0, 1.0, 1.0, 1.0), Seq.empty[Double])
    val stride = 3
    val w = 4
    val df = Seq(
      (1L, Array(0.1, -0.2, 0.3, 0.7, 1.1, -1.3, 0.0, 2.5)),
      (2L, Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)),
      (3L, Array(1e-7, 1e7, -1e-7, -1e7, 0.3333333, 3.0, -0.5, 0.25)))
      .toDF("vec_id", "qv")
    val viaLut = df.select(col("vec_id"),
        call_function("pq_lut", col("qv"), typedLit(flat), lit(stride)).as("t"))
      .as[(Long, Seq[Double])].collect().toMap
    val viaCols = df.select(col("vec_id"),
        array((for { j <- 0 until 2; s <- 0 until stride } yield
          if (flat(j * stride + s).nonEmpty)
            Similarity.dot(slice(col("qv"), j * w + 1, w),
              typedLit(flat(j * stride + s)))
          else lit(0.0)): _*).as("t"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(viaLut == viaCols,
      s"pq_lut drifted from the vec_dot builder:\n$viaLut\nvs\n$viaCols")
  }

  test("pq_adc throws loudly on an out-of-range code") {
    val bad = Seq((1L, Seq(7L))).toDF("id", "codes")
    val e = intercept[Exception] {
      bad.select(call_function("pq_adc", col("codes"),
        typedLit(Seq(1.0, 2.0)), lit(2))).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("encoder/codebook mismatch") ||
        e.getCause != null &&
          e.getCause.getMessage.contains("encoder/codebook mismatch")),
      s"wanted the loud mismatch error, got: ${e.getMessage}")
  }

  test("ADC pick quality on the real fixture: exact sim of the top-1 pick within tolerance") {
    // the asserting successor of the r9 probe (ADVICE.md): at the q136
    // parameters (m=32, ksub=64, 2 Lloyd rounds) on the sf0.01 fixture,
    // the EXACT cosine of the ADC top-1 pick must sit within 0.05 of
    // the exact top-1 (probe-measured max gap 0.023 → gate 2×) — the
    // quantization-loss budget the q136 recall3 column exposes per
    // query. ONE fixture SF only (suite-time discipline); q136's
    // oracle covers the arithmetic end-to-end.
    val dir = "/root/testdata/sf0.01"
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val cb = Pq.pqTrain(emb, m = 32, ksub = 64, iters = 2)
    val enc = Pq.pqEncode(emb, cb)
    val pick = Pq.pqTopK(enc, cb, queries, k = 1)
      .select(col("query_id"), col("neighbor_id"))
    val cv = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", Similarity.l2norm(col("cv")))
    val q = queries
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", Similarity.l2norm(col("qv")))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 1)
      .select(col("query_id"), col("sim").as("exact_sim"))
    val gaps = pick.join(cv, "neighbor_id").join(q, "query_id")
      .withColumn("pick_sim",
        Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .join(exact, "query_id")
      .select(col("query_id"),
        (col("exact_sim") - col("pick_sim")).as("gap"))
      .as[(Long, Double)].collect()
    assert(gaps.length == 10)
    val worst = gaps.maxBy(_._2)
    assert(worst._2 < 0.05,
      s"ADC top-1 pick degraded past the tolerance: query ${worst._1} " +
        s"gap ${worst._2} (all: ${gaps.sortBy(-_._2).toSeq})")
  }

  test("IVF-PQ written index serves bit-identically to the in-session serve") {
    // the q139 equality at the engine level: write→partition→read of
    // (id, bucket, codes, cn) must not perturb a single double
    val df = fixture
    val centroids = df.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val assigned = Similarity.ivfAssign(df, centroids)
    val cb = Pq.pqTrain(Pq.ivfResiduals(assigned, centroids),
      m = 2, ksub = 4, iters = 1, vecCol = "resid")
    val enc = Pq.ivfPqEncode(assigned, centroids, cb)
    val queries = df.filter(col("vec_id") < 3)
    val inSession = Pq.ivfPqTopK(enc, centroids, cb, queries,
        k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val path = TmpWorkspaces.pidScoped("graft_ivfpqidx_spec_", "roundtrip")
    Pq.ivfPqWriteIndex(enc, path.toString)
    val served = Pq.ivfPqTopKIndexed(spark, path.toString, centroids, cb,
        queries, k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(inSession.nonEmpty && served == inSession,
      s"indexed serve drifted from the in-session serve:\n$served\nvs\n$inSession")
  }

  test("IVF-PQ append: frozen-codebook base+delta serves like the fresh union encode") {
    // the q140 equality at the engine level: the codebook trains on the
    // base split only, the delta encodes against it FROZEN, and the
    // appended layout must serve exactly like encoding the union with
    // that same codebook (append never retrains — the drift semantic
    // is documented on ivfPqAppendIndex)
    val df = fixture
    val centroids = df.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val basePred = col("vec_id") % 4 =!= 0
    val assigned = Similarity.ivfAssign(df, centroids)
    val cb = Pq.pqTrain(Pq.ivfResiduals(assigned.filter(basePred), centroids),
      m = 2, ksub = 4, iters = 1, vecCol = "resid")
    val path = TmpWorkspaces.pidScoped("graft_ivfpqidx_spec_", "apnd")
    Pq.ivfPqWriteIndex(
      Pq.ivfPqEncode(assigned.filter(basePred), centroids, cb),
      path.toString)
    Pq.ivfPqAppendIndex(
      Pq.ivfPqEncode(assigned.filter(!basePred), centroids, cb),
      path.toString)
    val queries = df.filter(col("vec_id") < 3)
    val served = Pq.ivfPqTopKIndexed(spark, path.toString, centroids, cb,
        queries, k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val fresh = Pq.ivfPqTopK(Pq.ivfPqEncode(assigned, centroids, cb),
        centroids, cb, queries, k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(fresh.nonEmpty && served == fresh,
      s"appended layout drifted from the fresh union encode:\n$served\nvs\n$fresh")
  }

  test("self-contained index: serve-from-path equals the in-session serve") {
    // q141 at the engine level: codes + centroids + codebook all
    // round-trip through the meta layout and a serve that reads ONLY
    // the path must match the in-session frames bit for bit
    val df = fixture
    val centroids = df.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val assigned = Similarity.ivfAssign(df, centroids)
    val cb = Pq.pqTrain(Pq.ivfResiduals(assigned, centroids),
      m = 2, ksub = 4, iters = 1, vecCol = "resid")
    val enc = Pq.ivfPqEncode(assigned, centroids, cb)
    val queries = df.filter(col("vec_id") < 3)
    val inSession = Pq.ivfPqTopK(enc, centroids, cb, queries,
        k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val path = TmpWorkspaces.pidScoped("graft_ivfpqidx_spec_", "selfidx")
    Pq.ivfPqWriteIndexFull(enc, centroids, cb, path.toString)
    val served = Pq.ivfPqTopKFromIndex(spark, path.toString, queries,
        k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(inSession.nonEmpty && served == inSession,
      s"self-contained serve drifted from the in-session serve:\n$served\nvs\n$inSession")
  }

  test("rerank with a full-width shortlist equals the exact probed-bucket top-k") {
    // with shortlist >= every candidate set, the ADC stage filters
    // nothing and the exact re-rank must reproduce ivfTopKProbed (same
    // probed buckets, same exact cosine, same tie-break) row for row —
    // pinning that stage 2 scores the right vectors with the right math
    val df = fixture
    val centroids = df.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val assigned = Similarity.ivfAssign(df, centroids)
    val cb = Pq.pqTrain(Pq.ivfResiduals(assigned, centroids),
      m = 2, ksub = 4, iters = 1, vecCol = "resid")
    val enc = Pq.ivfPqEncode(assigned, centroids, cb)
    val queries = df.filter(col("vec_id") < 3)
    val reranked = Pq.ivfPqTopKReranked(enc, centroids, cb, df, queries,
        k = 3, shortlist = 12, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val exactProbed = Similarity.ivfTopKProbed(assigned, centroids,
        queries.select("vec_id"), k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(reranked.nonEmpty && reranked == exactProbed,
      s"full-width rerank drifted from exact probed top-k:\n$reranked\nvs\n$exactProbed")
  }

  test("cold append from the path alone equals the frozen-codebook union encode") {
    // q143 at the engine level: ivfPqAppendToIndex reads centroids and
    // the frozen codebook from meta/ (no build-session frames) and the
    // appended layout must serve exactly like encoding the union with
    // the same codebook in-session
    val df = fixture
    val centroids = df.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val basePred = col("vec_id") % 4 =!= 0
    val assigned = Similarity.ivfAssign(df, centroids)
    val cb = Pq.pqTrain(Pq.ivfResiduals(assigned.filter(basePred), centroids),
      m = 2, ksub = 4, iters = 1, vecCol = "resid")
    val path = TmpWorkspaces.pidScoped("graft_ivfpqidx_spec_", "coldapnd")
    Pq.ivfPqWriteIndexFull(
      Pq.ivfPqEncode(assigned.filter(basePred), centroids, cb),
      centroids, cb, path.toString)
    Pq.ivfPqAppendToIndex(spark, path.toString,
      df.filter(col("vec_id") % 4 === 0))
    val queries = df.filter(col("vec_id") < 3)
    val served = Pq.ivfPqTopKFromIndex(spark, path.toString, queries,
        k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val fresh = Pq.ivfPqTopK(Pq.ivfPqEncode(assigned, centroids, cb),
        centroids, cb, queries, k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(fresh.nonEmpty && served == fresh,
      s"cold append drifted from the frozen-codebook union encode:\n$served\nvs\n$fresh")
  }

  test("training tolerates dead codes: ksub > distinct vectors still serves") {
    // 3 distinct vectors, ksub=4: at least one cluster dies or
    // duplicates; remap must stay dense and serving must not index a
    // dead slot
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 1f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(1f, 0f, 0f, 0f)),
      (5L, Array(0f, 1f, 0f, 1f))).toDF("vec_id", "embedding")
    val cb = Pq.pqTrain(df, m = 2, ksub = 4, iters = 2)
    val enc = Pq.pqEncode(df, cb)
    val out = Pq.pqTopK(enc, cb, df.filter(col("vec_id") === 1L), k = 4)
      .as[(Long, Int, Long, Double)].collect()
    assert(out.length == 4)
    // vec 4 is vec 1's exact duplicate: it must rank first
    assert(out.head._3 == 4L, s"expected exact dup first, got ${out.toSeq}")
  }

  test("audit finds a replayed append, compaction repairs it, divergent payloads refuse") {
    // q151 at the engine level on the tiny fixture config
    val df = fixture
    val centroids = df.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val basePred = col("vec_id") % 4 =!= 0
    val assigned = Similarity.ivfAssign(df, centroids)
    val cb = Pq.pqTrain(Pq.ivfResiduals(assigned.filter(basePred), centroids),
      m = 2, ksub = 4, iters = 1, vecCol = "resid")
    val path = TmpWorkspaces.pidScoped("graft_ivfpqidx_spec_", "repair")
    Pq.ivfPqWriteIndexFull(
      Pq.ivfPqEncode(assigned.filter(basePred), centroids, cb),
      centroids, cb, path.toString)
    val delta = df.filter(col("vec_id") % 4 === 0)
    Pq.ivfPqAppendToIndex(spark, path.toString, delta)
    assert(IndexLayout.ivfPq("vec_id").audit(spark, path.toString).isEmpty,
      "a single clean append must audit clean")
    Pq.ivfPqAppendToIndex(spark, path.toString, delta)   // the blind retry
    val hits = IndexLayout.ivfPq("vec_id").audit(spark, path.toString)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(hits.map(_._1) == delta.select("vec_id").as[Long].collect().toSeq.sorted,
      s"audit must localize exactly the replayed ids, got $hits")
    assert(hits.forall(h => h._2 == 2L && h._3 == 1L),
      s"replay damage is 2 copies in 1 bucket per id: $hits")
    val queries = df.filter(col("vec_id") < 3)
    def serve(p: String) =
      Pq.ivfPqTopKFromIndex(spark, p, queries, k = 3, nprobe = 2)
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long, Double)].collect().toSeq
    val clean = Pq.ivfPqTopK(Pq.ivfPqEncode(assigned, centroids, cb),
        centroids, cb, queries, k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(serve(path.toString) != clean,
      "the corrupted index must actually mis-serve, or this test has no power")
    val repaired = TmpWorkspaces.pidScoped("graft_ivfpqidx_spec_", "repaired")
    IndexLayout.ivfPq("vec_id").compact(spark, path.toString, repaired.toString)
    assert(IndexLayout.ivfPq("vec_id").audit(spark, repaired.toString).isEmpty,
      "compaction must clear the audit")
    assert(serve(repaired.toString) == clean,
      "the repaired index must serve exactly like a clean build")
    // payload divergence: the same id re-encoded from a DIFFERENT
    // vector (different codes under one id) must refuse compaction
    Pq.ivfPqAppendToIndex(spark, path.toString,
      delta.withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x * lit(-1.0f))))
    val e = intercept[IllegalArgumentException] {
      IndexLayout.ivfPq("vec_id").compact(spark, path.toString,
        TmpWorkspaces.pidScoped("graft_ivfpqidx_spec_", "refuse").toString)
    }
    assert(e.getMessage.contains("payload-divergent"))
  }

  test("recall audit: hand geometry where ADC provably misses; wider shortlist recovers") {
    // q196 at the engine level, with every quantity hand-derivable.
    // One coarse bucket (centroid (1,0)); HAND-BUILT residual codebook
    // m=1: code 0 -> (0,0) (recon = centroid), code 1 -> (0,1)
    // (recon = (1,1)). Corpus residuals are all along the y axis, so
    // code assignment is exact by squared-L2:
    //   v1=(1,0.10) -> code 0, recon (1,0),  cn=1,      ADC sim to q = 1.0
    //   v2=(1,0.90) -> code 1, recon (1,1),  cn=sqrt2,  ADC sim ~0.70711
    //   v3=(1,0.55) -> code 1, recon (1,1),  cn=sqrt2,  ADC sim ~0.70711
    // Query q=(1,0): EXACT cosine ranks v1 > v3 > v2, but v3's code
    // collapsed onto v2's — the ADC tie breaks to the lower id v2, so
    // a shortlist of 2 admits {v1, v2} and the true #2 neighbor v3 is
    // dropped BEFORE re-rank can see it: recall@2 = 1/2 through the
    // quantization channel alone (nprobe covers the only bucket).
    // Widening the shortlist to the bucket width lets the exact
    // re-rank recover v3: recall@2 = 1.
    val centroids = Seq((0L, Array(1.0f, 0.0f)))
      .toDF("centroid_id", "embedding")
    val corpus = Seq(
      (1L, Array(1.0f, 0.10f)),
      (2L, Array(1.0f, 0.90f)),
      (3L, Array(1.0f, 0.55f))).toDF("vec_id", "embedding")
    val cb = Seq((0, 0L, Seq(0.0, 0.0)), (0, 1L, Seq(0.0, 1.0)))
      .toDF("sub", "code", "centroid")
    val assigned = Similarity.ivfAssign(corpus, centroids)
    val path = TmpWorkspaces.pidScoped("graft_ivfpqidx_spec_", "recall")
    Pq.ivfPqWriteIndexFull(Pq.ivfPqEncode(assigned, centroids, cb),
      centroids, cb, path.toString)
    val queries = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")

    // the encoder landed the hand codes (the geometry's precondition)
    val codes = spark.read.parquet(s"${path.toString}/codes")
      .select($"vec_id", element_at($"codes", 1).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(codes == Map(1L -> 0L, 2L -> 1L, 3L -> 1L), s"got $codes")

    def audit(shortlist: Int) =
      Pq.ivfPqRecallAudit(spark, path.toString, corpus, queries,
          k = 2, shortlist = shortlist, nprobe = 1)
        .as[(Long, Int, Long, Long, Double)].collect().toSeq
    val narrow = audit(2)
    assert(narrow == Seq((10L, 2, 2L, 1L, 0.5)),
      s"narrow shortlist must miss v3 (quantization channel): $narrow")
    val wide = audit(3)
    assert(wide == Seq((10L, 2, 2L, 2L, 1.0)),
      s"bucket-wide shortlist must recover via exact re-rank: $wide")

    // the guard wall: a shortlist below k is a caller bug, not a knob
    intercept[IllegalArgumentException] {
      Pq.ivfPqRecallAudit(spark, path.toString, corpus, queries,
        k = 3, shortlist = 2, nprobe = 1)
    }
  }
}
