package graft.operators

import graft.SparkTestSession
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBusDrain
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The shared lifecycle, table-driven over every compactable layout:
  * a replayed append audits as bit-identical copies, the online
  * compact-swap clears the audit and carries `_shards`, the served
  * probe after the swap equals the probe before the replay, and a
  * payload-divergent copy makes the compaction refuse by member name.
  * A sharded layout whose `_shards` counts are gone serves the same
  * probe rows, unpruned; building a pruned serve runs only the probe's
  * one key checkpoint.
  */
class IndexLayoutSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  graft.functions.VectorExpressions.ensureRegistered(spark)

  /** One member under test: build the base, append the delta (run
    * twice = the replay), append a payload-divergent copy, probe.
    */
  private case class Member(layout: IndexLayout, build: String => Unit,
      append: String => Unit, diverge: String => Unit,
      probe: String => DataFrame)

  private def b(s: String) = s.getBytes("UTF-8")

  private val docs = Seq(
      (0L, "s", "the quick brown fox jumps over the lazy dog"),
      (1L, "s", "pack my box with five dozen liquor jugs today"),
      (4L, "s", "the quick brown fox jumps over the lazy dog"),
      (5L, "s", "spark shuffles keyed data across the cluster"))
    .toDF("doc_id", "source", "text")
  private val baseDocs = docs.filter($"doc_id" < 4)
  private val deltaDocs = docs.filter($"doc_id" >= 4)
  private val divergentDocs = Seq((4L, "s", "pack my box with five dozen"))
    .toDF("doc_id", "source", "text")

  private val assets = Seq((1L, "s", b("aaaabbbb")), (2L, "s", b("bbbbcccc")),
      (11L, "s", b("ccccaaaa")), (13L, "s", b("dddd")))
    .toDF("asset_id", "source", "payload")
  private val baseAssets = assets.filter($"asset_id" < 10)
  private val deltaAssets = assets.filter($"asset_id" >= 10)
  private val divergentAssets = Seq((13L, "s", b("DDDD")))
    .toDF("asset_id", "source", "payload")

  // vectors: two clusters along distinct axes of dim 8
  private def v(axis: Int, eps: Float): Array[Float] = {
    val a = Array.fill(8)(0.01f * eps)
    a(axis) = 1f
    a(axis + 4) = 1f
    a
  }
  private val vecs = Seq.tabulate(12)(i =>
    (i.toLong, v(i % 2, (i % 3 + 1).toFloat))).toDF("vec_id", "embedding")
  private val baseVecs = vecs.filter($"vec_id" % 4 =!= 0)
  private val deltaVecs = vecs.filter($"vec_id" % 4 === 0)
  private val cents = vecs.filter($"vec_id" < 2)
    .select($"vec_id".as("centroid_id"), $"embedding")
  private val semCents = vecs.filter($"vec_id" < 2)
    .select($"vec_id".as("cid"), $"embedding".cast("array<double>")
      .as("centroid"))
  private lazy val codebook = Pq.pqTrain(
    Pq.ivfResiduals(Similarity.ivfAssign(baseVecs, cents), cents),
    m = 2, ksub = 2, iters = 1, vecCol = "resid")

  private val members = Seq(
    Member(IndexLayout.Asset,
      root => Multimodal.assetWriteIndex(baseAssets, root),
      root => Multimodal.assetAppendIndex(deltaAssets, root),
      root => Multimodal.assetAppendIndex(divergentAssets, root),
      root => Multimodal.assetDedupIndexed(spark, root, deltaAssets)),
    Member(IndexLayout.Frame,
      root => Multimodal.frameWriteIndex(baseAssets, root, frameBytes = 4),
      root => Multimodal.frameAppendIndex(deltaAssets, root, frameBytes = 4),
      root => Multimodal.frameAppendIndex(divergentAssets, root,
        frameBytes = 4),
      root => Multimodal.frameDedupIndexed(spark, root, deltaAssets,
        frameBytes = 4)),
    Member(IndexLayout.FrameSimhash,
      root => Multimodal.frameSimhashWriteIndex(baseAssets, root,
        frameBytes = 4),
      root => Multimodal.frameSimhashAppendIndex(deltaAssets, root,
        frameBytes = 4),
      root => Multimodal.frameSimhashAppendIndex(divergentAssets, root,
        frameBytes = 4),
      root => Multimodal.frameSimhashPairsIndexed(spark, root, deltaAssets,
        frameBytes = 4)),
    Member(IndexLayout.Simhash,
      root => Dedup.simhashWriteIndex(baseDocs, root, "doc_id", "text",
        "source"),
      root => Dedup.simhashAppendIndex(deltaDocs, root, "doc_id", "text",
        "source"),
      root => Dedup.simhashAppendIndex(divergentDocs, root, "doc_id", "text",
        "source"),
      root => Dedup.simhashNearDupIndexed(spark, root, deltaDocs, "doc_id",
        "text", "source")),
    Member(IndexLayout.ivfPq("vec_id"),
      root => Pq.ivfPqWriteIndexFull(
        Pq.ivfPqEncode(Similarity.ivfAssign(baseVecs, cents), cents,
          codebook),
        cents, codebook, root),
      root => Pq.ivfPqAppendToIndex(spark, root, deltaVecs),
      root => Pq.ivfPqAppendToIndex(spark, root,
        deltaVecs.withColumn("embedding",
          transform(col("embedding"), x => x * lit(-1.0f)))),
      root => Pq.ivfPqTopKFromIndex(spark, root, vecs.filter($"vec_id" < 3),
        k = 3, nprobe = 2)),
    Member(IndexLayout.semantic("vec_id"),
      root => Clustering.semanticWriteIndex(
        Clustering.assignL2(baseVecs, semCents), root),
      root => Clustering.semanticAppendIndex(
        Clustering.assignL2(deltaVecs, semCents), root, gen = 1),
      root => Clustering.semanticAppendIndex(
        Clustering.assignL2(deltaVecs, semCents), root, gen = 2),
      root => Clustering.semDedupIndexed(spark, root,
        Clustering.assignL2(deltaVecs, semCents), threshold = 0.95)),
    Member(IndexLayout.mixture("source", "doc_id"),
      root => Curation.mixtureAppendIndex(baseDocs, root, "source",
        "doc_id", "text"),
      root => Curation.mixtureAppendIndex(deltaDocs, root, "source",
        "doc_id", "text"),
      root => Curation.mixtureAppendIndex(divergentDocs, root, "source",
        "doc_id", "text"),
      root => Curation.mixtureServeIndex(spark, root, "source", "doc_id",
        budget = 20L)),
    Member(IndexLayout.Bm25,
      root => Retrieval.bm25WriteIndex(baseDocs, root),
      root => Retrieval.bm25AppendIndex(deltaDocs, root),
      root => Retrieval.bm25AppendIndex(divergentDocs, root),
      root => Retrieval.bm25TopKIndexed(spark, root,
        docs.filter($"doc_id" < 2), k = 10)))

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** Deletes every `_shards` file under `dir`; returns how many. */
  private def dropShardCounts(dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(p, true)
    val counts = Iterator.continually(files).takeWhile(_.hasNext)
      .map(_.next().getPath).filter(_.getName == "_shards").toList
    counts.foreach(fs.delete(_, false))
    counts.size
  }

  /** `body`'s result and the jobs it submitted, each as its SQL
    * execution id and its stages' call sites.
    */
  private def jobsOf[T](body: => T): (T, Seq[(String, Seq[String])]) = {
    val jobs = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.sql.execution.id"),
          e.stageInfos.map(_.name)))
    }
    ListenerBusDrain.awaitEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain.awaitEmpty(spark)
      (out, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  members.foreach { m =>
    val name = m.layout.member
    if (m.layout.shardOf.isDefined)
      test(s"$name: building the served probe runs only its one key checkpoint") {
        val root = TmpWorkspaces.pidScoped(s"graft_layout_spec_${name}_",
          "jobs").toString
        m.build(root)
        m.append(root)
        val (served, jobs) = jobsOf(m.probe(root))
        // a query's jobs carry its SQL execution id; a parquet schema
        // read (the footer job of `spark.read.parquet`) carries none
        val (queries, schemaReads) = jobs.partition(_._1 != null)
        assert(queries.nonEmpty && queries.map(_._1).distinct.size == 1,
          s"the jobs must belong to one SQL execution: $jobs")
        assert(queries.last._2.exists(_.startsWith("localCheckpoint at ")),
          s"that execution must be the key checkpoint: $jobs")
        assert(schemaReads.forall(_._2.forall(_.startsWith("parquet at "))),
          s"every other job must be a schema read: $jobs")
        val sites = jobs.flatMap(_._2)
        assert(!sites.exists(s => s.startsWith("head at") ||
          s.startsWith("collect at")), s"no driver aggregation: $sites")
        val pruned = rows(served)
        assert(dropShardCounts(IndexPaths.resolve(spark, root)) > 0)
        assert(pruned.nonEmpty && rows(m.probe(root)) == pruned,
          "the one-job probe must serve the unpruned rows")
      }

    if (m.layout.shardOf.isDefined)
      test(s"$name: without `_shards` the probe scans unpruned and serves the pruned rows") {
        val root = TmpWorkspaces.pidScoped(s"graft_layout_spec_${name}_",
          "unpruned").toString
        m.build(root)
        m.append(root)
        val pruned = rows(m.probe(root))
        assert(pruned.nonEmpty, "the fixture must serve something")
        assert(dropShardCounts(IndexPaths.resolve(spark, root)) > 0)
        assert(IndexShards.read(spark, m.layout.live(spark, root)).isEmpty)
        assert(rows(m.probe(root)) == pruned,
          "pruning is an optimization, never a correctness dependency")
      }

    test(s"$name: replay audits bit-identical, compactSwap clears it and serves the pre-replay probe") {
      val root = TmpWorkspaces.pidScoped(s"graft_layout_spec_${name}_", "life")
        .toString
      m.build(root)
      m.append(root)
      assert(m.layout.audit(spark, root).isEmpty,
        "a clean build + append must audit empty")
      val clean = rows(m.probe(root))
      assert(clean.nonEmpty, "the fixture must serve something")

      m.append(root) // the blind retry
      val dmg = m.layout.audit(spark, root)
        .select("n_copies", "n_payloads").as[(Long, Long)].collect().toSet
      assert(dmg == Set((2L, 1L)), s"replay must audit as bit-identical pairs: $dmg")

      val before = m.layout.live(spark, root)
      val gen = m.layout.compactSwap(spark, root)
      assert(IndexPaths.resolve(spark, root) == gen)
      assert(m.layout.audit(spark, root).isEmpty,
        "the swapped generation must audit clean")
      assert(IndexShards.read(spark, m.layout.live(spark, root)) ==
        IndexShards.read(spark, before) &&
        IndexShards.read(spark, before).isDefined == m.layout.shardOf.isDefined,
        "the swap must carry `_shards`")
      assert(rows(m.probe(root)) == clean,
        "the repaired index must serve the pre-replay probe")

      m.diverge(root)
      val e = intercept[IllegalArgumentException] {
        m.layout.compact(spark, root,
          TmpWorkspaces.pidScoped(s"graft_layout_spec_${name}_", "refused")
            .toString)
      }
      assert(e.getMessage.contains(name) &&
        e.getMessage.contains("rebuild"), e.getMessage)
    }
  }
}
