package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val corpus = Seq(
    0L -> "apple banana",             // the query doc
    1L -> "apple apple cherry",
    2L -> "banana cherry cherry date",
    3L -> "date date date")           // shares no query term
    .toDF("doc_id", "text")

  test("bm25TopK: textbook fixed-point scores, self excluded, non-matching docs absent") {
    val got = Retrieval
      .bm25TopK(corpus, corpus.filter($"doc_id" === 0L), k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    // N=4, total=12; df(apple)=df(banana)=2 -> idf = ln 2, idf_fp=693147.
    // doc 1 (apple tf=2, dl=3): 693147 * (22*2*12)/(10*2*12+3*12+9*3*4)
    //   = 693147 * 528/384 = floor(953077.125)
    // doc 2 (banana tf=1, dl=4): 693147 * 264/300 = floor(609969.36)
    // doc 3 shares no term -> absent; doc 0 is the query -> excluded
    assert(got == Seq(
      (0L, 1L, 1L, 0.953077),
      (0L, 2L, 2L, 0.609969)))
  }

  test("bm25TopK: repeated query terms add once (Lucene distinct-term semantics)") {
    val dup = Seq(9L -> "apple apple apple banana").toDF("doc_id", "text")
    val base = Retrieval.bm25TopK(corpus, corpus.filter($"doc_id" === 0L), k = 3)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    // same terms {apple, banana} with different multiplicity: identical
    // scores (df/N/dl all unchanged — query id 9 is not in the corpus)
    val got = Retrieval.bm25TopK(corpus, dup, k = 3)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(0L, 1L, 2L))   // doc 0 now scores too
    assert(got(1L) == base(1L) && got(2L) == base(2L))
  }

  test("bm25TopKIndexed: the written shard-pruned index serves exactly the ad-hoc ranking") {
    val path = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "serve")
    Retrieval.bm25WriteIndex(corpus, path.toString)
    val adhoc = Retrieval
      .bm25TopK(corpus, corpus.filter($"doc_id" === 0L), k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    val served = Retrieval
      .bm25TopKIndexed(spark, path.toString, corpus.filter($"doc_id" === 0L), k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(adhoc.nonEmpty && served == adhoc,
      s"index round-trip drifted:\n$served\nvs\n$adhoc")
  }

  test("bm25AppendIndex: append-then-serve equals the fresh whole-corpus build") {
    val base = corpus.filter($"doc_id" <= 1L)
    val delta = corpus.filter($"doc_id" >= 2L)
    val fresh = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "fresh")
    Retrieval.bm25WriteIndex(corpus, fresh.toString)
    val appended = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "appended")
    Retrieval.bm25WriteIndex(base, appended.toString)
    Retrieval.bm25AppendIndex(delta, appended.toString)
    val q = corpus.filter($"doc_id" === 0L)
    val want = Retrieval.bm25TopKIndexed(spark, fresh.toString, q, k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    val got = Retrieval.bm25TopKIndexed(spark, appended.toString, q, k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    // df(banana) and df(cherry) both straddle the base/delta split, so
    // stale-df serving (the v1 inline layout) would differ here
    assert(want.nonEmpty && got == want,
      s"append-then-serve drifted from fresh:\n$got\nvs\n$want")
  }

  test("bm25AuditIndex localizes a replayed append; compact repairs it exactly") {
    val base = corpus.filter($"doc_id" <= 1L)
    val delta = corpus.filter($"doc_id" >= 2L)
    val path = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "replay")
    Retrieval.bm25WriteIndex(base, path.toString)
    Retrieval.bm25AppendIndex(delta, path.toString)
    Retrieval.bm25AppendIndex(delta, path.toString) // the blind retry
    val audit = IndexLayout.Bm25.audit(spark, path.toString)
      .select($"doc_id", $"term", $"n_copies", $"n_payloads")
      .as[(Long, String, Long, Long)].collect().toSet
    // exactly the delta's (doc, term) keys, each a bit-identical pair
    assert(audit == Set(
      (2L, "banana", 2L, 1L), (2L, "cherry", 2L, 1L), (2L, "date", 2L, 1L),
      (3L, "date", 2L, 1L)), s"audit drifted: $audit")
    val repaired = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "repaired")
    IndexLayout.Bm25.compact(spark, path.toString, repaired.toString)
    assert(IndexLayout.Bm25.audit(spark, repaired.toString).isEmpty)
    val fresh = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "freshr")
    Retrieval.bm25WriteIndex(corpus, fresh.toString)
    val q = corpus.filter($"doc_id" === 0L)
    val want = Retrieval.bm25TopKIndexed(spark, fresh.toString, q, k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    val got = Retrieval.bm25TopKIndexed(spark, repaired.toString, q, k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(got == want, s"compacted serve drifted:\n$got\nvs\n$want")
  }

  test("bm25IndexStats: df_total equals posting count on clean layouts, diverges on replay") {
    val path = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "stats")
    Retrieval.bm25WriteIndex(corpus.filter($"doc_id" <= 1L), path.toString)
    Retrieval.bm25AppendIndex(corpus.filter($"doc_id" >= 2L), path.toString)
    val clean = Retrieval.bm25IndexStats(spark, path.toString)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(clean.nonEmpty && clean.forall(r => r._5 == r._2),
      s"clean layout must have df_total == n_postings per shard: ${clean.toSeq}")
    // corpus: 12 tokens, 8 distinct (term, doc) memberships
    assert(clean.map(_._2).sum == 8L && clean.map(_._4).sum == 12L)
    Retrieval.bm25AppendIndex(corpus.filter($"doc_id" >= 2L), path.toString)
    val damaged = Retrieval.bm25IndexStats(spark, path.toString)
      .as[(String, Long, Long, Long, Long)].collect()
    // the replay doubles both sides equally per shard — df_total still
    // tracks postings (both doubled), so the DRIFT detector is the
    // audit; stats show the inflated mass
    assert(damaged.map(_._4).sum > 12L, "replayed mass must show in sum_tf")
  }

  test("bm25CompactIndex refuses payload-divergent copies (id reused with new text)") {
    val path = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "diverge")
    Retrieval.bm25WriteIndex(corpus, path.toString)
    // contract violation: doc 2 re-appended with DIFFERENT text
    Retrieval.bm25AppendIndex(
      Seq(2L -> "banana banana").toDF("doc_id", "text"), path.toString)
    val audit = IndexLayout.Bm25.audit(spark, path.toString)
      .filter($"n_payloads" > 1).count()
    assert(audit > 0, "audit must flag the divergent copies")
    val dst = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "divergedst")
    val e = intercept[IllegalArgumentException] {
      IndexLayout.Bm25.compact(spark, path.toString, dst.toString)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("bm25CompactIndex refuses a divergent re-append sharing NO term with the original") {
    val path = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "disjoint")
    Retrieval.bm25WriteIndex(corpus, path.toString)
    // doc 3 ("date date date") re-appended with text whose terms are
    // DISJOINT from the original: no (doc_id, term) key collides, so
    // the key-based divergence check cannot see it — the per-doc
    // dl/Σtf consistency check must
    Retrieval.bm25AppendIndex(
      Seq(3L -> "elderberry fig grape").toDF("doc_id", "text"), path.toString)
    assert(IndexLayout.Bm25.audit(spark, path.toString).count() == 0,
      "the key-based audit is blind to disjoint-term divergence by design")
    val dst = TmpWorkspaces.pidScoped("graft_bm25idx_spec_", "disjointdst")
    val e = intercept[IllegalArgumentException] {
      IndexLayout.Bm25.compact(spark, path.toString, dst.toString)
    }
    assert(e.getMessage.contains("re-appended with different text"))
  }

  // plain-Scala reference model of bm25TopK: same tokenization, same
  // fixed-point arithmetic (JVM doubles are the same IEEE ops the
  // codegen'd expressions execute), same tie-breaks
  private def modelBm25(
      docs: Seq[(Long, String)], queryIds: Set[Long], k: Int)
      : Seq[(Long, Long, Long, Double)] = {
    def toks(s: String): Seq[String] =
      TextOps.normalizeStr(s).split(" ").filter(_.nonEmpty).toSeq
    val tf = docs.flatMap { case (id, t) => toks(t).map(id -> _) }
      .groupBy(identity).map { case (key, v) => key -> v.size.toLong }
    val dl = tf.groupBy(_._1._1).map { case (id, m) => id -> m.values.sum }
    val n = dl.size.toLong
    val total = dl.values.sum
    val df = tf.keys.groupBy(_._2).map { case (t, ks) => t -> ks.size.toLong }
    val byDoc = docs.toMap
    queryIds.toSeq.flatMap { q =>
      val qterms = toks(byDoc(q)).distinct
      val scores = dl.keys.filter(_ != q).flatMap { d =>
        val cfps = qterms.flatMap { t =>
          tf.get((d, t)).map { tfv =>
            val idfFp = math.floor(math.log(
              (n.toDouble - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * 1000000.0)
            math.floor(idfFp * ((22.0 * tfv * total) /
              (10.0 * tfv * total + 3.0 * total + 9.0 * dl(d) * n))).toLong
          }
        }
        if (cfps.isEmpty) None else Some(d -> cfps.sum)
      }.toSeq
      scores.sortBy { case (d, s) => (-s, d) }.take(k).zipWithIndex.map {
        case ((d, s), i) =>
          (q, (i + 1).toLong, d,
            BigDecimal(s / 1000000.0)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.sortBy(r => (r._1, r._2))
  }

  test("bm25TopK matches the reference model on randomized corpora (8 seeds)") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val words = Seq("ant", "bee", "cat", "dog", "elk", "fox")
      val docs = Seq.tabulate(3 + rnd.nextInt(5)) { i =>
        (i.toLong,
          Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.length)))
            .mkString(" "))
      }
      val qids = docs.take(1 + rnd.nextInt(2)).map(_._1)
        .filter(id => docs(id.toInt)._2.nonEmpty).toSet
      if (qids.nonEmpty) {
        val df = docs.toDF("doc_id", "text")
        val got = Retrieval
          .bm25TopK(df, df.filter($"doc_id".isin(qids.toSeq: _*)), k = 4)
          .as[(Long, Long, Long, Double)].collect().toSeq
          .sortBy(r => (r._1, r._2))
        val want = modelBm25(docs, qids, k = 4)
        assert(got == want, s"seed=$seed docs=$docs\n got=$got\nwant=$want")
      }
    }
  }

  test("rrfFuse: fixed-point reciprocal-rank sums with id tie-break") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L))
      .toDF("query_id", "neighbor_id", "rnk")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L))
      .toDF("query_id", "neighbor_id", "rnk")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    // 20: floor(1e6/61)+floor(1e6/62) = 16393+16129 = 32522 (rank 1)
    // 10: 16393 (rank 2) beats 30: 16129 (rank 3)
    assert(got == Seq(
      (1L, 1L, 20L, 32522L),
      (1L, 2L, 10L, 16393L),
      (1L, 3L, 30L, 16129L)))
  }

  test("rrfFuse: equal fused scores order by neighbor id") {
    val a = Seq((1L, 50L, 1L)).toDF("query_id", "neighbor_id", "rnk")
    val b = Seq((1L, 40L, 1L)).toDF("query_id", "neighbor_id", "rnk")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 2)
      .select($"rnk", $"neighbor_id").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 40L), (2L, 50L)))
  }
}
