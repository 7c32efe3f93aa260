package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("stratifiedTopK keeps exactly k per stratum and is partition-invariant") {
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 7).cast("string").as("stratum"))
    val once = Curation.stratifiedTopK(df, "stratum", "id", 3)
    assert(once.count() == 7 * 3)
    assert(once.groupBy("stratum").count().filter(col("count") =!= 3).isEmpty)
    // same sample regardless of input partitioning (hash order, not RNG)
    val repart = Curation.stratifiedTopK(df.repartition(13), "stratum", "id", 3)
    assert(once.select("stratum", "id").except(repart.select("stratum", "id")).isEmpty &&
      repart.select("stratum", "id").except(once.select("stratum", "id")).isEmpty)
  }

  test("bernoulliFlag rate lands near the hex-prefix fraction") {
    val df = spark.range(10000).select(col("id"))
    val n = df.filter(Curation.bernoulliFlag(col("id"), "3")).count()
    // 4/16 = 25%: md5 uniformity keeps 10k draws well within ±3%
    assert(n > 2200 && n < 2800, s"got $n of 10000")
  }

  test("hashSplit is group-consistent: one split per key value") {
    val df = spark.range(500)
      .select(concat(lit("src"), (col("id") % 20)).as("source"))
      .withColumn("split", Curation.hashSplit(col("source")))
    val perKey = df.groupBy("source").agg(countDistinct("split").as("d"))
    assert(perKey.filter(col("d") =!= 1).isEmpty)
    val splits = df.select("split").distinct().as[String].collect().toSet
    assert(splits == Set("train", "test"), s"got $splits")
  }

  test("vocabTopK ranks by count desc with lexicographic tie-break") {
    val df = Seq(
      ("en", "b b b a a c"),
      ("en", "a"),          // a ties b at 3 -> 'a' ranks first
      ("fr", "x y")).toDF("lang", "text")
    val out = Curation.vocabTopK(df, "lang", "text", 2)
      .orderBy("lang", "rk")
      .select("lang", "tok", "cnt", "rk")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(("en", "a", 3L, 1L), ("en", "b", 3L, 2L),
      ("fr", "x", 1L, 1L), ("fr", "y", 1L, 2L)))
  }

  test("tokenChunks covers every token with stride overlap; short docs get one chunk") {
    val df = Seq((1L, (1 to 30).map(i => s"t$i").mkString(" ")), (2L, "only two"))
      .toDF("doc_id", "text")
    val out = Curation.tokenChunks(df, "text", chunkSize = 16, stride = 8)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk")
      .as[(Long, Long, Long, String)].collect().toSeq
    // doc 1: starts 1,9,17,25 -> sizes 16,16,14,6
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3)) ==
      Seq((0L, 16L), (1L, 16L), (2L, 14L), (3L, 6L)))
    assert(out.find(r => r._1 == 1L && r._2 == 3L).get._4 ==
      (25 to 30).map(i => s"t$i").mkString(" "))
    assert(out.filter(_._1 == 2L) == Seq((2L, 0L, 2L, "only two")))
  }

  test("packTokenIds places tokens then the EOS slot; empty docs emit only EOS") {
    // md5("1")/md5("2")/md5("3") start c4/c8/ec — three independent
    // shard streams, so offsets are per-doc and hand-checkable
    val ids = Seq(
      (1L, Seq(5L, 6L, 7L)),
      (2L, Seq.empty[Long]),
      (3L, Seq(8L))).toDF("doc_id", "token_ids")
    val got = Curation
      .packTokenIds(ids, "doc_id", "token_ids", seqLen = 4, eosId = 99L)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("c4", 0L, 0L, 5L, 1L), ("c4", 0L, 1L, 6L, 1L),
      ("c4", 0L, 2L, 7L, 1L), ("c4", 0L, 3L, 99L, 1L),
      ("c8", 0L, 0L, 99L, 2L),
      ("ec", 0L, 0L, 8L, 3L), ("ec", 0L, 1L, 99L, 3L)))
  }

  test("packTokenIds content agrees with packSequencesByCount span coordinates") {
    val ids = (0L until 60L).map(i => (i, (0L to (i % 7)).toSeq))
      .toDF("doc_id", "token_ids")
    val content = Curation
      .packTokenIds(ids, "doc_id", "token_ids", seqLen = 4, eosId = 999L)
    val spans = Curation.packSequencesByCount(
      ids.withColumn("n", size(col("token_ids"))), "doc_id", "n", seqLen = 4)
    val fromContent = content.filter(col("token_id") =!= 999L)
      .groupBy(col("doc_id"), col("shard"), col("seq_idx"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, String, Long, Long)].collect().toSet
    val fromSpans = spans
      .select(col("doc_id"), col("shard"), col("seq_idx"),
        col("n_toks_in_seq"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(fromContent == fromSpans,
      "materialized tokens must fill exactly the span coordinates")
    assert(content.filter(col("token_id") === 999L).count() == 60L,
      "exactly one EOS per document")
  }

  test("redactPii replaces URLs before emails and masks long digit runs") {
    val rows = Seq(
      // the email inside the URL is consumed by the URL mask
      "see https://a.b/c?user=x@y.com then mail me at jo.e+1@ex.org",
      "call 12345678 not 123456",
      "clean text stays clean")
      .toDF("t")
      .select(Curation.redactPii(col("t")).as("r"))
      .as[String].collect()
    assert(rows(0) == "see <URL> then mail me at <EMAIL>")
    assert(rows(1) == "call <NUM> not 123456")
    assert(rows(2) == "clean text stays clean")
  }

  test("redactPii is case-insensitive: mixed-case emails and schemes redact") {
    val rows = Seq(
      "write User@Example.COM today",
      "or HTTPS://Example.com/Path works too")
      .toDF("t")
      .select(Curation.redactPii(col("t")).as("r"))
      .as[String].collect()
    assert(rows(0) == "write <EMAIL> today")
    assert(rows(1) == "or <URL> works too")
  }

  test("weightedMix replicates by floor(rate) and tops up by the hex fraction") {
    val df = spark.range(4000)
      .select(col("id"), concat(lit("s"), col("id") % 4).as("src"))
    val rates = Map("s0" -> 2.5, "s1" -> 1.0, "s2" -> 0.25, "s3" -> 0.0)
    val out = Curation.weightedMix(df, "id", "src", rates).cache()
    val per = out.groupBy("src").count().as[(String, Long)].collect().toMap
    // s0: 1000 keys -> 2000 + ~500 fractional; s1 exact 1000; s3 dropped
    assert(per("s0") > 2350 && per("s0") < 2650, s"s0=${per("s0")}")
    assert(per("s1") == 1000L)
    assert(per("s2") > 175 && per("s2") < 325, s"s2=${per("s2")}")
    assert(!per.contains("s3"))
    // copies are dense 1..n per key: max(copy) == count per key
    val bad = out.groupBy("id").agg(max("copy").as("m"), count(lit(1)).as("c"))
      .filter(col("m") =!= col("c"))
    assert(bad.isEmpty)
    // deterministic: a re-run over repartitioned input is identical
    val again = Curation.weightedMix(df.repartition(11), "id", "src", rates)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    out.unpersist()
  }

  test("mixThresholds quantizes to n/256 with 2-hex thresholds (the oracle contract)") {
    assert(Curation.mixThresholds(
      Map("a" -> 2.5, "b" -> 1.0, "c" -> 0.0625)) ==
      Seq(("a", 2, Some("7f")), ("b", 1, None), ("c", 0, Some("0f"))))
  }

  test("weightedMix drops strata absent from the rate map") {
    val df = Seq((1L, "known"), (2L, "unknown")).toDF("id", "src")
    val out = Curation.weightedMix(df, "id", "src", Map("known" -> 1.0))
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  // independent reimplementation of concat-and-cut: imperative
  // per-shard fold over the md5-ordered doc stream, parameterized by
  // the shard-hex width exactly like the engine
  private def packReplay(docs: Seq[(Long, String)], seqLen: Int,
      width: Int): Set[(Long, String, Long, Long)] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    docs
      .map { case (id, text) => (id, md5hex(id.toString), text.split(" ").length.toLong) }
      .groupBy(_._2.take(width)).toSeq
      .flatMap { case (shard, grp) =>
        var off = 0L
        grp.sortBy { case (id, key, _) => (key, id) }.flatMap { case (id, _, n) =>
          val rows = (off / seqLen to (off + n - 1) / seqLen).map { s =>
            val inSeq = math.min(off + n, (s + 1) * seqLen) - math.max(off, s * seqLen)
            (id, shard, s, inSeq)
          }
          off += n + 1 // the EOS slot
          rows
        }
      }.toSet
  }

  test("packSequences matches a sequential concat-and-cut replay") {
    val seqLen = 5
    val docs = (1L to 40L).map(i => (i, ("tok " * (i % 9 + 1).toInt).trim))
    val df = docs.toDF("doc_id", "text")

    val got = Curation.packSequences(df, "doc_id", "text", seqLen)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == packReplay(docs, seqLen, width = 2))

    // invariants: per-doc token counts are conserved; no sequence holds
    // more than seqLen doc-tokens; repartitioning changes nothing
    val out = Curation.packSequences(df, "doc_id", "text", seqLen).cache()
    val perDoc = out.groupBy("doc_id").agg(sum("n_toks_in_seq").as("tot"))
      .as[(Long, Long)].collect().toMap
    docs.foreach { case (id, text) =>
      assert(perDoc(id) == text.split(" ").length.toLong, s"doc $id")
    }
    assert(out.filter(col("n_toks_in_seq") < 1 || col("n_toks_in_seq") > seqLen).isEmpty)
    assert(out.groupBy("shard", "seq_idx").agg(sum("n_toks_in_seq").as("t"))
      .filter(col("t") > seqLen).isEmpty)
    val again = Curation.packSequences(df.repartition(7), "doc_id", "text", seqLen)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    out.unpersist()
  }

  test("packSequencesByCount packs the GIVEN counts; packSequences is its whitespace instance") {
    val seqLen = 5
    val docs = (1L to 30L).map(i => (i, ("tok " * (i % 9 + 1).toInt).trim))
    val df = docs.toDF("doc_id", "text")
    // feeding the whitespace counts through the count-based entry point
    // must reproduce packSequences exactly (it IS the delegation)
    val viaCounts = Curation.packSequencesByCount(
        df.withColumn("n", size(split(col("text"), " "))), "doc_id", "n", seqLen)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(viaCounts == packReplay(docs, seqLen, width = 2))
    // a different count column repacks: doubling every count doubles
    // each doc's conserved total and never overfills a sequence
    val doubled = Curation.packSequencesByCount(
        df.withColumn("n", size(split(col("text"), " ")) * 2), "doc_id", "n", seqLen)
      .cache()
    val perDoc = doubled.groupBy("doc_id").agg(sum("n_toks_in_seq").as("t"))
      .as[(Long, Long)].collect().toMap
    docs.foreach { case (id, text) =>
      assert(perDoc(id) == 2L * text.split(" ").length, s"doc $id")
    }
    assert(doubled.groupBy("shard", "seq_idx").agg(sum("n_toks_in_seq").as("t"))
      .filter(col("t") > seqLen).isEmpty)
    doubled.unpersist()
  }

  test("packSequences shard width is a layout parameter: width 3 repartitions the streams") {
    val seqLen = 4
    val docs = (1L to 60L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim))
    val df = docs.toDF("doc_id", "text")
    val got = Curation.packSequences(df, "doc_id", "text", seqLen, shardHexChars = 3)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == packReplay(docs, seqLen, width = 3))
    // wider shards: every shard id is 3 hex chars, token totals conserved
    assert(got.forall(_._2.length == 3))
    val perDoc = got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    docs.foreach { case (id, text) =>
      assert(perDoc(id) == text.split(" ").length.toLong, s"doc $id")
    }
    assertThrows[IllegalArgumentException] {
      Curation.packSequences(df, "doc_id", "text", seqLen, shardHexChars = 0)
    }
  }

  test("temperatureMixture: sqrt-reweighted budget split, exact rates, deterministic draws") {
    // source a: 2 docs x 8 tokens = 16; source b: 1 doc x 64 tokens
    // q_a = floor(sqrt(16)*1e6) = 4e6, q_b = 8e6, qtot = 12e6
    // budget 40: rate_a = 40*4e6/(12e6*16) = 5/6; rate_b = 40*8e6/(12e6*64) = 5/12
    val docs = Seq(
      (0L, "a", Seq.fill(8)("w").mkString(" ")),
      (1L, "a", Seq.fill(8)("w").mkString(" ")),
      (2L, "b", Seq.fill(64)("w").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = Curation.temperatureMixture(docs, "source", "doc_id", "text",
        budget = 40L)
      .as[(String, Long, Long, Double, Boolean)].collect()
      .map(r => r._2 -> r).toMap
    // α = 1/2 upweights the SMALL source: a's rate doubles b's even
    // though b has 4x the token mass
    assert(out(0L)._4 == 0.833333 && out(2L)._4 == 0.416667, s"got $out")
    assert(out(0L)._3 == 8L && out(2L)._3 == 64L)
    // draws replay the hash60 contract exactly
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(id: Long, rate: Double): Boolean =
      TextOps.hash60Str(md, id.toString).toDouble / 1152921504606846976.0 < rate
    Seq(0L -> (5.0 / 6.0), 1L -> (5.0 / 6.0), 2L -> (5.0 / 12.0)).foreach {
      case (id, r) => assert(out(id)._5 == draw(id, r), s"draw for $id")
    }

    // a budget beyond a source's mass clamps its rate at 1.0 — every
    // one of its docs admitted regardless of draw
    val all = Curation.temperatureMixture(docs, "source", "doc_id", "text",
        budget = 1000L)
      .as[(String, Long, Long, Double, Boolean)].collect()
    assert(all.forall(r => r._4 == 1.0 && r._5), s"got ${all.toSeq}")
  }

  test("releaseManifest: twin-replayed checksums, XOR merge ≡ fresh union, diff localizes") {
    val docs = Seq(1L -> "alpha beta gamma", 2L -> "delta", 3L -> "x y",
      4L -> "one two three four", 5L -> "w w w", 6L -> "zed")
    val df = docs.toDF("doc_id", "text")
    val got = Curation.releaseManifest(df, "doc_id", "text")
      .as[(String, Long, Long, Long)].collect().toSet
    // JVM-twin replay: md5-prefix shard, hash60(key ∥ <U+0001> ∥ md5(norm)),
    // XOR fold per shard
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expected = docs.groupBy { case (id, _) => md5hex(id.toString).take(2) }
      .map { case (shard, rows) =>
        (shard, rows.size.toLong,
          rows.map(_._2.split(" ").length.toLong).sum,
          rows.map { case (id, t) =>
            TextOps.hash60Str(md, id.toString + "\u0001" +
              md5hex(TextOps.normalizeStr(t)))
          }.reduce(_ ^ _))
      }.toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // merge of disjoint manifests ≡ the fresh union manifest (the q184
    // compositionality gate, pinned at the engine level)
    val merged = Curation.manifestMerge(
        Curation.releaseManifest(df.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
        Curation.releaseManifest(df.filter(col("doc_id") % 2 =!= 0), "doc_id", "text"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(merged == got, "XOR merge must equal the fresh union manifest")
    // identical replicas diff empty
    val m = Curation.releaseManifest(df, "doc_id", "text")
    assert(Curation.manifestDiff(m, m).isEmpty)
    // one flipped byte in one document localizes to its shard: same
    // n_docs, different checksum — and ONLY that shard reported
    val corrupted = Curation.releaseManifest(
      df.withColumn("text",
        when(col("doc_id") === 2L, lit("delta!!!CORRUPT")).otherwise(col("text"))),
      "doc_id", "text")
    val diff = Curation.manifestDiff(m, corrupted).collect()
    assert(diff.length == 1 && diff.head.getString(0) == md5hex("2").take(2))
    assert(diff.head.getLong(1) == diff.head.getLong(2), "counts unchanged")
    assert(diff.head.getLong(5) != diff.head.getLong(6), "checksums differ")
    // a lost document whose shard held only it: the shard appears on
    // one side only — null-safe diff reports it
    val lost = Curation.releaseManifest(df.filter(col("doc_id") =!= 6L),
      "doc_id", "text")
    val dl = Curation.manifestDiff(m, lost).collect()
    assert(dl.exists(r => r.getString(0) == md5hex("6").take(2) && r.isNullAt(2)))
  }

  test("mixture payload audit/compact: replay localized, divergence refused, repair serves clean") {
    import graft.operators.TmpWorkspaces
    val docs = Seq(
      (0L, "a", Seq.fill(8)("w").mkString(" ")),
      (1L, "a", Seq.fill(8)("w").mkString(" ")),
      (2L, "b", Seq.fill(64)("w").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val path = TmpWorkspaces.pidScoped("graft_miximidx_spec_", "mix")
    Curation.mixtureAppendIndex(docs, path.toString, "source", "doc_id", "text")
    assert(IndexLayout.mixture("source", "doc_id").audit(spark,
      path.toString).isEmpty)
    // a blind retry: every key doubled, payloads bit-identical
    Curation.mixtureAppendIndex(docs, path.toString, "source", "doc_id", "text")
    val damage = IndexLayout.mixture("source", "doc_id").audit(spark,
        path.toString)
      .as[(Long, Long, Long)].collect().toSet
    assert(damage == Set((0L, 2L, 1L), (1L, 2L, 1L), (2L, 2L, 1L)), s"got $damage")
    // compaction repairs: the served manifest equals the fresh derivation
    val repaired = TmpWorkspaces.pidScoped("graft_miximidx_spec_", "rep")
    IndexLayout.mixture("source", "doc_id").compact(spark, path.toString,
      repaired.toString)
    val served = Curation.mixtureServeIndex(spark, repaired.toString,
        "source", "doc_id", budget = 40L)
      .as[(String, Long, Long, Double, Boolean)].collect().toSet
    val fresh = Curation.temperatureMixture(docs, "source", "doc_id",
        "text", budget = 40L)
      .as[(String, Long, Long, Double, Boolean)].collect().toSet
    assert(served == fresh && served.nonEmpty)
    // payload DIVERGENCE (same key, different token count) is refused
    val divPath = TmpWorkspaces.pidScoped("graft_miximidx_spec_", "div")
    Curation.mixtureAppendIndex(docs, divPath.toString, "source", "doc_id", "text")
    Curation.mixtureAppendIndex(
      docs.withColumn("text", concat(col("text"), lit(" extra"))),
      divPath.toString, "source", "doc_id", "text")
    assert(IndexLayout.mixture("source", "doc_id").audit(spark,
        divPath.toString)
      .filter(col("n_payloads") > 1).count() == 3L)
    val e = intercept[IllegalArgumentException] {
      IndexLayout.mixture("source", "doc_id").compact(spark, divPath.toString,
        TmpWorkspaces.pidScoped("graft_miximidx_spec_", "nope").toString)
    }
    assert(e.getMessage.contains("payload-divergent"), e.getMessage)
  }

  test("admitByMixture keeps exactly the manifest's admitted rows, text intact") {
    // the q179 fixture: rates 5/6 (a) and 5/12 (b) at budget 40
    val docs = Seq(
      (0L, "a", Seq.fill(8)("w").mkString(" ")),
      (1L, "a", Seq.fill(8)("w").mkString(" ")),
      (2L, "b", Seq.fill(64)("w").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val manifest = Curation.temperatureMixture(docs, "source", "doc_id",
        "text", budget = 40L)
      .filter(col("admitted")).select("doc_id").as[Long].collect().toSet
    val admitted = Curation.admitByMixture(docs, "source", "doc_id",
      "text", budget = 40L)
    assert(admitted.columns.toSet == Set("doc_id", "source", "text"),
      "the filter form must keep the caller's columns")
    assert(admitted.select("doc_id").as[Long].collect().toSet == manifest,
      "filter and manifest must admit the same rows")
    // text survives untouched for the downstream encode
    val t = admitted.filter(col("doc_id") === manifest.head)
      .select("text").as[String].head()
    assert(t.startsWith("w w"))
  }

  test("mixtureDriftAudit: frozen draws, rate crossings, new-source drift pin") {
    // base: a = 2 docs x 8 toks (16), b = 1 doc x 64 toks
    //   q_a = 4e6, q_b = 8e6, qtb = 12e6; budget 40 →
    //   rate_base_a = 5/6, rate_base_b = 5/12 (the q179 fixture)
    // snapshot: b gains a 36-tok doc (union 100), c arrives with 16
    //   q_a = 4e6, q_b = 10e6, q_c = 4e6, qtu = 18e6 →
    //   rate_union_a = 5/9, rate_union_b = 2/9, rate_union_c = 5/9
    val base = Seq(
      (0L, "a", Seq.fill(8)("w").mkString(" ")),
      (1L, "a", Seq.fill(8)("w").mkString(" ")),
      (2L, "b", Seq.fill(64)("w").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val snapshot = Seq(
      (3L, "b", Seq.fill(36)("w").mkString(" ")),
      (4L, "c", Seq.fill(16)("w").mkString(" "))
    ).toDF("doc_id", "source", "text")
    // rateDrift 0.25 splits the fixture: a moves |5/9 - 5/6| ≈ 0.278
    // (drifted), b moves |2/9 - 5/12| ≈ 0.194 (not), c is new (pinned)
    val out = Curation.mixtureDriftAudit(base, snapshot,
        "source", "doc_id", "text", budget = 40L, rateDrift = 0.25)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("a", "b", "c"))
    assert(out("a").getLong(1) == 16L && out("a").getLong(2) == 16L)
    assert(out("b").getLong(1) == 64L && out("b").getLong(2) == 100L)
    assert(out("c").getLong(1) == 0L && out("c").getLong(2) == 16L)
    assert(out("a").getDouble(3) == 0.833333 &&
      out("a").getDouble(4) == 0.555556)
    assert(out("b").getDouble(3) == 0.416667 &&
      out("b").getDouble(4) == 0.222222)
    assert(out("c").isNullAt(3) && out("c").getDouble(4) == 0.555556)
    assert(out("a").getBoolean(8) && !out("b").getBoolean(8) &&
      out("c").getBoolean(8), "drift flags")
    // flips replay the frozen hash60 draws: a rate crossing in either
    // direction is a flip, anything else is not
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(id: Long): Double =
      TextOps.hash60Str(md, id.toString).toDouble / 1152921504606846976.0
    def flips(ids: Seq[Long], rb: Double, ru: Double): (Long, Long) = (
      ids.count(i => !(draw(i) < rb) && draw(i) < ru).toLong,
      ids.count(i => draw(i) < rb && !(draw(i) < ru)).toLong)
    val (aIn, aOut) = flips(Seq(0L, 1L), 5.0 / 6.0, 5.0 / 9.0)
    val (bIn, bOut) = flips(Seq(2L), 5.0 / 12.0, 2.0 / 9.0)
    assert(out("a").getLong(5) == 2L &&
      out("a").getLong(6) == aIn && out("a").getLong(7) == aOut)
    assert(out("b").getLong(5) == 1L &&
      out("b").getLong(6) == bIn && out("b").getLong(7) == bOut)
    // c has no standing documents: zero flips by construction
    assert(out("c").getLong(5) == 0L &&
      out("c").getLong(6) == 0L && out("c").getLong(7) == 0L)
    // the budget is fixed while mass grew: rates only dilute here, so
    // no standing document can flip IN
    assert(aIn == 0L && bIn == 0L)
  }
}
