package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q205/q206 at the engine level: the file-count arithmetic of the
  * written-index layouts — one file per touched shard per generation
  * (the repartition-by-shard write contract), compaction collapsing
  * to one file per live shard, and serve results unmoved by the
  * rewrite.
  */
class IndexStatsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def b(s: String) = s.getBytes("UTF-8")

  private def distinctShards(payloads: Seq[Array[Byte]]): Long =
    payloads.map(p => org.apache.commons.codec.digest.DigestUtils
      .md5Hex(p).substring(0, 2)).distinct.size.toLong

  test("dataFileCount: one file per touched shard per generation; compaction collapses to live shards") {
    val base = Seq((0L, b("alpha")), (1L, b("beta")), (2L, b("alpha")))
    val delta = Seq((4L, b("alpha")), (5L, b("gamma")))
    val idx = TmpWorkspaces.pidScoped("graft_ixstats_spec_", "fp")
    Multimodal.assetWriteIndex(base.toDF("asset_id", "payload"),
      idx.toString)
    val dsBase = distinctShards(base.map(_._2))
    assert(IndexStats.dataFileCount(spark, idx.toString) == dsBase,
      "base generation: one parquet file per distinct fingerprint shard")

    Multimodal.assetAppendIndex(delta.toDF("asset_id", "payload"),
      idx.toString)
    val dsDelta = distinctShards(delta.map(_._2))
    val before = IndexStats.dataFileCount(spark, idx.toString)
    assert(before == dsBase + dsDelta,
      "each appended generation adds one file per shard IT touches, " +
        "even where the shard already has base files")

    val compacted = TmpWorkspaces.pidScoped("graft_ixstats_spec_", "c")
    IndexLayout.Asset.compact(spark, idx.toString, compacted.toString)
    val after = IndexStats.dataFileCount(spark, compacted.toString)
    val dsAll = distinctShards((base ++ delta).map(_._2))
    assert(after == dsAll && after < before,
      s"compaction must collapse to one file per live shard " +
        s"(after=$after, dsAll=$dsAll, before=$before)")

    // compaction is pure layout maintenance: the probe's verdicts are
    // bit-identical across the rewrite
    val snap = delta.toDF("asset_id", "payload")
    def serve(path: String) =
      Multimodal.assetDedupIndexed(spark, path, snap)
        .as[(String, Long, Long)].collect().toSet
    assert(serve(compacted.toString) == serve(idx.toString))
    // hand geometry: alpha cluster {0,2,4} kept 0 size 3; gamma {5}
    assert(serve(compacted.toString).map(t => (t._2, t._3)) ==
      Set((0L, 3L), (5L, 1L)))
  }

  test("dataFileCount skips hidden control files and ingest-ledger dirs") {
    import org.apache.hadoop.fs.Path
    val idx = TmpWorkspaces.pidScoped("graft_ixstats_spec_", "hid")
    val one = Seq((0L, b("alpha"))).toDF("asset_id", "payload")
    Multimodal.assetWriteIndex(one, idx.toString)
    val n0 = IndexStats.dataFileCount(spark, idx.toString)
    // plant the control residue a streaming ingest leaves: a ledger
    // marker and a staged-but-unpublished _tmp generation
    val fs = new Path(idx.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$idx/_ingest_commits/asset/epoch=0"))
    fs.create(new Path(s"$idx/_ingest_commits/asset/epoch=0/batch-0"),
      true).close()
    fs.mkdirs(new Path(s"$idx/_tmp/asset-0-1/fingerprints/shard=zz"))
    fs.create(new Path(
      s"$idx/_tmp/asset-0-1/fingerprints/shard=zz/part-x.parquet"),
      true).close()
    assert(IndexStats.dataFileCount(spark, idx.toString) == n0,
      "ledger markers and staged generations are not serve-time files")
  }
}
