package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // --------------------------------------------------------------
  // blockDedup
  // --------------------------------------------------------------

  private val docs = Seq(
    // doc 0: two 3-token blocks
    (0L, "a b c d e f"),
    // doc 1: first block duplicates doc 0's first block; second is new
    (1L, "a b c x y z"),
    // doc 2: entirely duplicate content (both blocks seen earlier)
    (2L, "d e f x y z"),
    // doc 3: short tail block, unique
    (3L, "p q r s")).toDF("doc_id", "text")

  test("blockDedup keeps first occurrence globally and reassembles in order") {
    val out = Dedup.blockDedup(docs, "doc_id", "text", blockTokens = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 2L, "a b c d e f"),
      (1L, 2L, 1L, "x y z"),
      (2L, 2L, 0L, ""),
      (3L, 2L, 2L, "p q r s")))
  }

  test("blockDedup dedups repeats WITHIN one document too") {
    val d = Seq((7L, "a b c a b c a b c")).toDF("doc_id", "text")
    val out = Dedup.blockDedup(d, "doc_id", "text", blockTokens = 3)
      .as[(Long, Long, Long, String)].head()
    assert(out == ((7L, 3L, 1L, "a b c")))
  }

  test("blockDedup winner is partition-invariant (hash order, not arrival)") {
    val once = Dedup.blockDedup(docs, "doc_id", "text", 3)
    val repart = Dedup.blockDedup(docs.repartition(7), "doc_id", "text", 3)
    assert(once.except(repart).isEmpty && repart.except(once).isEmpty)
  }

  // --------------------------------------------------------------
  // clusterRepresentatives
  // --------------------------------------------------------------

  // --------------------------------------------------------------
  // emitSortedPairs — the shared bucket-local pair-emission idiom
  // (property-style: randomized groups checked against a reference
  // model; a regression here breaks q31/q33/q114 at once)
  // --------------------------------------------------------------

  /** Reference model of [[Dedup.emitSortedPairs]] semantics: per key
    * group of size in (1, cap], sort items, emit every positional pair
    * (i < j) whose values differ (self-pair guard); dedupPairs
    * collapses to distinct (key, a, b).
    */
  private def modelPairs(
      rows: Seq[(String, Long)], cap: Int, dedup: Boolean): Seq[(String, Long, Long)] = {
    val all = rows.groupBy(_._1).toSeq.flatMap { case (k, grp) =>
      if (grp.size <= 1 || grp.size > cap) Nil
      else {
        val ds = grp.map(_._2).sorted
        for {
          i <- ds.indices; j <- (i + 1) until ds.size
          if ds(i) < ds(j)
        } yield (k, ds(i), ds(j))
      }
    }
    val out = if (dedup) all.distinct else all
    out.sorted
  }

  private def runEmit(
      rows: Seq[(String, Long)], cap: Int, dedup: Boolean): Seq[(String, Long, Long)] =
    Dedup.emitSortedPairs(
        rows.toDF("k", "item").repartition(5), keys = Seq("k"),
        item = col("item"), capCol = "grp_n", maxGroupSize = cap,
        aName = "a", bName = "b", carry = Seq("k"), dedupPairs = dedup)
      .select("k", "a", "b").as[(String, Long, Long)].collect().toSeq.sorted

  test("emitSortedPairs matches the pair model on randomized groups (20 seeds)") {
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      // few keys + few item values → dense collisions: duplicate items
      // within a group, groups straddling the cap, multi-group pairs
      val rows = Seq.fill(40 + rnd.nextInt(40))(
        (s"k${rnd.nextInt(6)}", rnd.nextInt(8).toLong))
      val cap = 2 + rnd.nextInt(12)
      for (dedup <- Seq(true, false)) {
        val got = runEmit(rows, cap, dedup)
        val want = modelPairs(rows, cap, dedup)
        assert(got == want,
          s"seed=$seed cap=$cap dedup=$dedup\n got=$got\nwant=$want")
      }
    }
  }

  test("emitSortedPairs: duplicate items never emit self-pairs but DO pair with others") {
    // one group [x, x, y]: sorted tail-slicing positionally yields
    // (x,x), (x,y), (x,y) — the guard drops (x,x), keeps multiplicity 2
    val rows = Seq(("k", 3L), ("k", 3L), ("k", 7L))
    assert(runEmit(rows, cap = 10, dedup = false) ==
      Seq(("k", 3L, 7L), ("k", 3L, 7L)))
    assert(runEmit(rows, cap = 10, dedup = true) == Seq(("k", 3L, 7L)))
  }

  test("emitSortedPairs: over-cap groups emit nothing, cap-size groups emit fully") {
    val over = (1L to 5L).map(i => ("k", i))
    assert(runEmit(over, cap = 4, dedup = false).isEmpty,
      "a group past the cap must be dropped whole")
    assert(runEmit(over, cap = 5, dedup = false).size == 10,
      "a group AT the cap emits all C(5,2) pairs")
  }

  test("emitSortedPairs: NULL keys group together like any other key value") {
    // callers key on computed hashes (never null), but the window/groupBy
    // pair treats null as one group — pin that documented behavior
    val df = Seq((Some("k"), 1L), (None, 2L), (None, 5L), (None, 9L))
      .toDF("k", "item")
    val out = Dedup.emitSortedPairs(df, keys = Seq("k"), item = col("item"),
        capCol = "grp_n", maxGroupSize = 10, aName = "a", bName = "b",
        dedupPairs = true)
      .select("a", "b").as[(Long, Long)].collect().toSeq.sorted
    assert(out == Seq((2L, 5L), (2L, 9L), (5L, 9L)),
      s"null-keyed rows must form one pairable group: $out")
  }

  test("minhashDedupIndexed: snapshot-vs-(base ∪ snapshot) equals fresh dedup restricted") {
    // near-dup pairs that straddle the base/snapshot split AND pairs
    // wholly inside the snapshot; doc 6 is unrelated noise
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog today"),    // ~dup of 0
      (4L, "the quick brown fox jumps over the lazy dog tonight"),  // exact dup of 0
      (5L, "the quick brown fox jumps over the lazy dog today"),    // exact dup of 1
      (6L, "completely different content about spark engines here"))
      .toDF("doc_id", "text")
    val base = corpus.filter($"doc_id" < 4)
    val snap = corpus.filter($"doc_id" >= 4)
    val path = TmpWorkspaces.pidScoped("graft_mhidx_spec_", "incr")
    Dedup.minhashWriteIndex(base, path.toString, "doc_id", "text")
    Dedup.minhashAppendIndex(snap, path.toString, "doc_id", "text")
    val got = Dedup
      .minhashDedupIndexed(spark, path.toString, snap, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val fresh = Dedup.minhashDedup(corpus, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val want = fresh.filter(p => p._1 >= 4 || p._2 >= 4)
    assert(want.exists(p => p._1 < 4 && p._2 >= 4),
      "fixture must produce cross base/snapshot pairs")
    assert(want.exists(p => p._1 >= 4 && p._2 >= 4),
      "fixture must produce snapshot-internal pairs")
    assert(fresh.exists(p => p._1 < 4 && p._2 < 4),
      "fixture must have a base-base pair the incremental run skips")
    assert(got == want, s"incremental drifted:\n$got\nvs\n$want")
  }

  test("ngramContainmentPairsIndexed: snapshot probe equals fresh containment restricted") {
    // doc 1 contains doc 0 (base-base); doc 4 contains doc 0 (cross);
    // doc 5 contains doc 4 (snapshot-internal); doc 6 unrelated
    val corpus = Seq(
      (0L, "s", "one two three four five six"),
      (1L, "s", "one two three four five six seven eight nine ten"),
      (4L, "s", "one two three four five six eleven twelve thirteen"),
      (5L, "s", "one two three four five six eleven twelve thirteen fourteen fifteen"),
      (6L, "s", "totally unrelated content words here again today"))
      .toDF("doc_id", "source", "text")
    val base = corpus.filter($"doc_id" < 4)
    val snap = corpus.filter($"doc_id" >= 4)
    val path = TmpWorkspaces.pidScoped("graft_ngidx_spec_", "incr")
    Dedup.ngramWriteIndex(base, path.toString, "doc_id", "text", "source")
    Dedup.ngramAppendIndex(snap, path.toString, "doc_id", "text", "source")
    val got = Dedup.ngramContainmentPairsIndexed(spark, path.toString, snap,
        "doc_id", "text", threshold = 0.6)
      .select($"doc_a", $"doc_b", $"cont_ab", $"cont_ba")
      .as[(Long, Long, Double, Double)].collect().toSet
    val fresh = Dedup.ngramContainmentPairs(corpus, "doc_id", "text",
        "source", threshold = 0.6)
      .select($"doc_a", $"doc_b", $"cont_ab", $"cont_ba")
      .as[(Long, Long, Double, Double)].collect().toSet
    val want = fresh.filter(p => p._1 >= 4 || p._2 >= 4)
    assert(want.exists(p => p._1 < 4 && p._2 >= 4), "need a cross pair")
    assert(want.exists(p => p._1 >= 4 && p._2 >= 4), "need a snapshot-internal pair")
    assert(fresh.exists(p => p._1 < 4 && p._2 < 4), "need a skipped base-base pair")
    assert(got == want, s"incremental drifted:\n$got\nvs\n$want")
  }

  test("exactClustersIndexed: snapshot-touched clusters carry full-membership stats") {
    val corpus = Seq(
      (0L, "alpha beta"), (1L, "alpha beta"),    // base-only cluster
      (2L, "gamma delta"),                       // base half of a cross cluster
      (4L, "gamma delta"),                       // snapshot half
      (5L, "epsilon zeta"), (6L, "epsilon zeta"),// snapshot-only cluster
      (7L, "unique text here"))                  // snapshot singleton
      .toDF("doc_id", "text")
    val base = corpus.filter($"doc_id" < 4)
    val snap = corpus.filter($"doc_id" >= 4)
    val path = TmpWorkspaces.pidScoped("graft_fpidx_spec_", "incr")
    Dedup.exactWriteIndex(base, path.toString, "doc_id", "text")
    Dedup.exactAppendIndex(snap, path.toString, "doc_id", "text")
    val got = Dedup.exactClustersIndexed(spark, path.toString, snap,
        "doc_id", "text")
      .select($"kept_id", $"cluster_size")
      .as[(Long, Long)].collect().toSet
    // cross cluster keeps the BASE min id with full size 2; the
    // base-only (0,1) cluster is absent; singleton survives
    assert(got == Set((2L, 2L), (5L, 2L), (7L, 1L)), s"got $got")
  }

  test("dedup index audits localize a replayed append; clean layouts audit empty") {
    val corpus = Seq(
      (0L, "s", "the quick brown fox jumps over the lazy dog"),
      (4L, "s", "an entirely different document with enough words to shingle"))
      .toDF("doc_id", "source", "text")
    val base = corpus.filter($"doc_id" < 4)
    val snap = corpus.filter($"doc_id" >= 4)

    val mh = TmpWorkspaces.pidScoped("graft_mhidx_spec_", "audit")
    Dedup.minhashWriteIndex(base, mh.toString, "doc_id", "text")
    Dedup.minhashAppendIndex(snap, mh.toString, "doc_id", "text")
    assert(IndexLayout.MinhashBands.audit(spark, mh.toString).isEmpty)
    Dedup.minhashAppendIndex(snap, mh.toString, "doc_id", "text") // retry
    val mhDup = IndexLayout.MinhashBands.audit(spark, mh.toString)
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(mhDup == Set(4L), s"minhash audit drifted: $mhDup")

    val ng = TmpWorkspaces.pidScoped("graft_ngidx_spec_", "audit")
    Dedup.ngramWriteIndex(base, ng.toString, "doc_id", "text", "source")
    Dedup.ngramAppendIndex(snap, ng.toString, "doc_id", "text", "source")
    assert(IndexLayout.Ngram.audit(spark, ng.toString).isEmpty)
    Dedup.ngramAppendIndex(snap, ng.toString, "doc_id", "text", "source")
    val ngDup = IndexLayout.Ngram.audit(spark, ng.toString)
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(ngDup == Set(4L), s"ngram audit drifted: $ngDup")

    val fp = TmpWorkspaces.pidScoped("graft_fpidx_spec_", "audit")
    Dedup.exactWriteIndex(base, fp.toString, "doc_id", "text")
    Dedup.exactAppendIndex(snap, fp.toString, "doc_id", "text")
    assert(IndexLayout.Exact.audit(spark, fp.toString).isEmpty)
    // divergent re-append: same id, different text
    Dedup.exactAppendIndex(
      Seq((4L, "changed text entirely")).toDF("doc_id", "text"),
      fp.toString, "doc_id", "text")
    val fpDup = IndexLayout.Exact.audit(spark, fp.toString)
      .select($"doc_id", $"n_copies", $"n_payloads")
      .as[(Long, Long, Long)].collect().toSet
    assert(fpDup == Set((4L, 2L, 2L)), s"exact audit drifted: $fpDup")
  }

  test("hash60Str matches the hash60 Column nibble-for-nibble") {
    val words = Seq("hello", "a", "lorem", "42", "")
    val colVals = words.toDF("w")
      .select(TextOps.hash60(col("w"))).as[Long].collect().toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(colVals == words.map(TextOps.hash60Str(md, _)))
  }

  test("simhashNearDupPairs: exact dups pair at hamming 0 within a block; cross-block dups don't; ball bound enforced") {
    val d = Seq(
      (0L, "s1", "the quick brown fox jumps over the lazy dog"),
      (1L, "s1", "the quick brown fox jumps over the lazy dog"),
      (2L, "s2", "the quick brown fox jumps over the lazy dog"),
      (3L, "s1", "an entirely different document about other things"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.simhashNearDupPairs(d, "doc_id", "text", "source")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("s1", 0L, 1L, 0L)), s"got $got")
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(d, "doc_id", "text", "source", maxHamming = 4)
    }
  }

  test("simhashNearDupIndexed: snapshot probe equals fresh pairs restricted") {
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "pack my box with five dozen liquor jugs today"
    val corpus = Seq(
      (0L, "s", a), (1L, "s", a), (2L, "s", b),
      (4L, "s", a), (5L, "s", b), (7L, "s", b))
      .toDF("doc_id", "source", "text")
    val base = corpus.filter($"doc_id" < 4)
    val snap = corpus.filter($"doc_id" >= 4)
    val path = TmpWorkspaces.pidScoped("graft_shidx_spec_", "incr")
    Dedup.simhashWriteIndex(base, path.toString, "doc_id", "text", "source")
    Dedup.simhashAppendIndex(snap, path.toString, "doc_id", "text", "source")
    val got = Dedup
      .simhashNearDupIndexed(spark, path.toString, snap, "doc_id", "text",
        "source")
      .as[(String, Long, Long, Long)].collect().toSet
    val fresh = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", "source")
      .as[(String, Long, Long, Long)].collect().toSet
    val want = fresh.filter(p => p._2 >= 4 || p._3 >= 4)
    assert(want.exists(p => p._2 < 4 && p._3 >= 4),
      "fixture must produce cross base/snapshot pairs")
    assert(want.exists(p => p._2 >= 4 && p._3 >= 4),
      "fixture must produce snapshot-internal pairs")
    assert(fresh.exists(p => p._2 < 4 && p._3 < 4),
      "fixture must have a base-base pair the incremental run skips")
    assert(got == want, s"incremental drifted:\n$got\nvs\n$want")
  }

  test("simhash band-index repair: audit localizes replayed band rows, compact restores the clean probe, divergence refused") {
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "pack my box with five dozen liquor jugs today"
    val corpus = Seq((0L, "s", a), (1L, "s", b), (4L, "s", a))
      .toDF("doc_id", "source", "text")
    val base = corpus.filter($"doc_id" < 4)
    val snap = corpus.filter($"doc_id" >= 4)
    val path = TmpWorkspaces.pidScoped("graft_shrep_spec_", "repair")
    Dedup.simhashWriteIndex(base, path.toString, "doc_id", "text", "source")
    Dedup.simhashAppendIndex(snap, path.toString, "doc_id", "text", "source")
    assert(IndexLayout.Simhash.audit(spark, path.toString).isEmpty,
      "a clean append-once layout must audit empty")
    Dedup.simhashAppendIndex(snap, path.toString, "doc_id", "text", "source")

    // the blind retry doubled exactly doc 4's four band coordinates,
    // bit-identically (n_payloads = 1)
    val dmg = IndexLayout.Simhash.audit(spark, path.toString)
      .select($"doc_id", $"bidx", $"n_copies", $"n_payloads")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(dmg == (0 until 4).map(j => (4L, j, 2L, 1L)).toSet,
      s"audit drifted: $dmg")

    val repaired = TmpWorkspaces.pidScoped("graft_shrep_spec_r_", "repair")
    IndexLayout.Simhash.compact(spark, path.toString, repaired.toString)
    assert(IndexLayout.Simhash.audit(spark, repaired.toString).isEmpty,
      "the compacted layout must audit clean")
    val got = Dedup
      .simhashNearDupIndexed(spark, repaired.toString, snap, "doc_id",
        "text", "source")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("s", 0L, 4L, 0L)), s"repaired probe drifted: $got")

    // payload divergence (same doc re-appended with different bytes)
    // is NOT replay damage: compaction must refuse, not pick a side
    Dedup.simhashAppendIndex(Seq((4L, "s", b)).toDF("doc_id", "source", "text"),
      path.toString, "doc_id", "text", "source")
    val refuse = TmpWorkspaces.pidScoped("graft_shrep_spec_x_", "repair")
    val e = intercept[IllegalArgumentException] {
      IndexLayout.Simhash.compact(spark, path.toString, refuse.toString)
    }
    assert(e.getMessage.contains("payload-divergent"))
  }

  test("blockDedupIndexed: snapshot paragraphs dedup against the corpus history, reassembly intact") {
    // base doc 0 owns "a b c"; snapshot doc 4 repeats it (block drops)
    // and adds "x y z" (kept — first globally); snapshot doc 6 then
    // repeats doc 4's new block (drops — SNAPSHOT-internal keep-first)
    val corpus = Seq(
      (0L, "a b c d e f"),
      (4L, "a b c x y z"),
      (6L, "x y z")).toDF("doc_id", "text")
    val base = corpus.filter($"doc_id" < 4)
    val snap = corpus.filter($"doc_id" >= 4)
    val path = TmpWorkspaces.pidScoped("graft_blkidx_spec_", "incr")
    Dedup.blockWriteIndex(base, path.toString, "doc_id", "text", 3)
    Dedup.blockAppendIndex(snap, path.toString, "doc_id", "text", 3)
    val got = Dedup
      .blockDedupIndexed(spark, path.toString, snap, "doc_id", "text", 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (4L, 2L, 1L, "x y z"),
      (6L, 1L, 0L, "")))
    // and the indexed path equals fresh whole-corpus blockDedup restricted
    val fresh = Dedup.blockDedup(corpus, "doc_id", "text", 3)
      .filter($"doc_id" >= 4).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == fresh)
  }

  test("clusterRepresentatives keeps best-quality doc per component, singletons survive") {
    val corpus = Seq(
      (0L, 10L), (1L, 30L), (2L, 20L), // component {0,1,2} via pairs
      (3L, 5L),                        // singleton
      (4L, 7L), (5L, 7L)               // component {4,5}, quality tie
    ).toDF("doc_id", "quality")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterRepresentatives(corpus, pairs, "doc_id", "quality")
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, false),
      (1L, 0L, true),   // quality 30 wins the {0,1,2} cluster
      (2L, 0L, false),
      (3L, 3L, true),   // singleton keeps itself
      (4L, 4L, true),   // tie at 7 -> smaller id wins
      (5L, 4L, false)))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ngramContainmentPairs surfaces the near-superset Jaccard structurally misses") {
    import spark.implicits._
    val small = "alpha bravo charlie delta echo"
    val docs = Seq(
      (1L, small, "s"),
      // doc 2 CONTAINS doc 1 verbatim plus 10 more distinct words:
      // all 3 of doc 1's 3-shingles appear among doc 2's 13
      (2L, small + " fox golf hotel india juliet kilo lima mike nov osc", "s"),
      (3L, "unrelated words entirely different tokens", "s"))
      .toDF("doc_id", "text", "source")
    val cont = Dedup.ngramContainmentPairs(docs, "doc_id", "text", "source",
        shingleN = 3, threshold = 0.6)
      .select($"doc_a", $"doc_b", $"cont_ab", $"cont_ba")
      .as[(Long, Long, Double, Double)].collect().toSeq
    // containment sees the full embedding of doc 1 in doc 2...
    assert(cont == Seq((1L, 2L, 1.0, round6(3.0 / 13))))
    // ...which the whole-set Jaccard gate at the same threshold misses
    // (jaccard = 3/13 ≈ 0.23)
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      shingleN = 3, threshold = 0.6).isEmpty)
  }

  test("winnowPairs: shared long substrings pair within a block, cross-block never") {
    graft.functions.WinnowExpression.ensureRegistered(spark)
    // docs 0/1 share a 30+-char run (≥ 2 fingerprint witnesses at
    // k=7, w=4); doc 2 shares it too but lives in another block;
    // doc 3 is unrelated text of similar length
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (0L, "s", shared + " alpha beta gamma"),
      (1L, "s", "prefix words here " + shared),
      (2L, "t", shared + " delta"),
      (3L, "s", "completely different sentence about winter weather patterns"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.winnowPairs(docs, "doc_id", "text", "source")
      .select($"blk", $"doc_a", $"doc_b", $"i")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2, p._3)) == Seq(("s", 0L, 1L)),
      s"exactly the in-block shared-substring pair expected, got $got")
    assert(got.head._4 >= 2L, "at least two fingerprint witnesses")
    // a prohibitive minShared suppresses the pair
    assert(Dedup.winnowPairs(docs, "doc_id", "text", "source",
      minShared = 1000L).isEmpty)
  }

  test("winnowPairsIndexed: snapshot probe equals fresh pairs restricted; audit clean") {
    graft.functions.WinnowExpression.ensureRegistered(spark)
    val shared = "the quick brown fox jumps over the lazy dog"
    val corpus = Seq(
      (0L, "s", shared + " alpha beta gamma"),
      (1L, "s", "prefix words here " + shared),
      (4L, "s", shared + " snapshot arrival text"),
      (5L, "s", "another copy includes " + shared + " too"),
      (6L, "s", "completely different sentence about winter weather patterns"))
      .toDF("doc_id", "source", "text")
    val base = corpus.filter($"doc_id" < 4)
    val snap = corpus.filter($"doc_id" >= 4)
    val path = TmpWorkspaces.pidScoped("graft_wnidx_spec_", "incr")
    Dedup.winnowWriteIndex(base, path.toString, "doc_id", "text", "source")
    Dedup.winnowAppendIndex(snap, path.toString, "doc_id", "text", "source")
    assert(IndexLayout.Winnow.audit(spark, path.toString).isEmpty)
    val got = Dedup.winnowPairsIndexed(spark, path.toString, snap,
        "doc_id", "text", "source")
      .select($"doc_a", $"doc_b", $"i")
      .as[(Long, Long, Long)].collect().toSet
    val fresh = Dedup.winnowPairs(corpus, "doc_id", "text", "source")
      .select($"doc_a", $"doc_b", $"i")
      .as[(Long, Long, Long)].collect().toSet
    val want = fresh.filter(p => p._1 >= 4 || p._2 >= 4)
    assert(fresh.exists(p => p._1 < 4 && p._2 < 4), "need a skipped base-base pair")
    assert(want.exists(p => p._1 < 4 && p._2 >= 4), "need a cross pair")
    assert(want.exists(p => p._1 >= 4 && p._2 >= 4), "need a snapshot-internal pair")
    assert(got == want, s"incremental drifted:\n$got\nvs\n$want")
    // a doubled append is exactly what the audit localizes
    Dedup.winnowAppendIndex(snap, path.toString, "doc_id", "text", "source")
    assert(!IndexLayout.Winnow.audit(spark, path.toString).isEmpty)
  }

  test("connectedComponents: a chain needing several rounds labels every vertex with its component's min") {
    // 1-2-…-7 (the min label travels one hop per round) and 10-11-12
    val pairs = (Seq((2L, 1L), (3L, 2L), (3L, 4L), (5L, 4L), (5L, 6L),
        (7L, 6L)) ++ Seq((11L, 10L), (12L, 11L)))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(labels == ((1L to 7L).map(_ -> 1L) ++
      (10L to 12L).map(_ -> 10L)).toMap)
    // the fixture really needs more than two rounds to converge
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxIter = 2)
    }
    assert(e.getMessage.contains("no fixpoint in 2 rounds"), e.getMessage)
  }
}
