package graft.queries

import scala.collection.mutable

import org.apache.hadoop.fs.Path

import graft.{QueryDef, Tables}
import graft.operators.{Clustering, Curation, Dedup, IndexLayout, IndexShards,
  Multimodal, Pq, Retrieval, Similarity, SubstringDedup, TmpWorkspaces}
import graft.streaming.{IndexIngest, StreamRunner}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The written-index lifecycle as data: build a base index over one
  * slice of a fixture table, deliver the rest, optionally audit and
  * compact, then probe. A scenario is a [[Family]] (how that index is
  * loaded, built, appended, delivered by a stream, audited and
  * probed), a [[Split]] (which ids are the delta) and one [[Mode]];
  * [[Scenario.apply]] turns the three into the [[graft.QueryDef]] of
  * the query. Carbone et al. (VLDB '17) define exactly-once as a
  * consistent snapshot plus replay; these queries are the engine's
  * test matrix for that contract, and this object is the one copy of
  * the script behind them.
  *
  * Modes:
  *  - [[Append]]: the delta is appended once
  *    ([[graft.operators.IndexLayout.append]] through the family's
  *    `*AppendIndex`) and the appended index is probed.
  *  - [[BlindRetry]]: the delta is appended TWICE (the ledger-less
  *    retry the exactly-once contract warns about), the damage is
  *    audited, the layout is compacted to a staged path and the
  *    staged path is probed. By default [[Scenario.apply]] checks,
  *    before compaction, that the audit localizes the replay as
  *    bit-identical pairs; with `scalars` the audit counts of the
  *    damaged and the repaired index ride every row as `n_damaged` /
  *    `n_after` instead, so the oracle pins them.
  *  - [[Stream]]: the delta lands as files in the family's [[Landing]]
  *    form and arrives through one ledgered ingest
  *    ([[graft.streaming.IndexIngest.start]] / `drain` over the
  *    family's `*Batch` body), which must deliver data in exactly
  *    [[StreamBatches]] micro-batches: the oracle cannot see batch
  *    boundaries, so a landing that collapsed to one file would pass
  *    every result gate.
  *
  * Every workspace is allocated here, through
  * [[graft.operators.TmpWorkspaces.pidScoped]], named from the query
  * and its role (`index`, `repaired`, `in`, ...). The steps call the
  * real [[graft.operators.IndexLayout]] / [[graft.streaming.IndexIngest]]
  * code, so a scenario issues exactly the Spark actions of its script.
  *
  * Rule: [[Scenario.apply]] takes no parameter that only one query
  * sets. A query that would need one stays hand-written, and may call
  * the pieces: [[workspace]], [[landChunks]] and [[deliver]], and for
  * media [[mediaDocs]], [[payloads]] (the checkpointed payload frame
  * the media families read too) and [[featurized]] (the byte-stat
  * vectors and their frozen centroids, as in [[AssetSemantic]]):
  *  - q176, q202, q210 and q216 combine several indexes;
  *  - q193 retries the sink through the batch body;
  *  - q217 swaps the serve pointer; q218 auto-compacts beside a fresh
  *    build;
  *  - q151 repairs without auditing (the check would add Spark jobs);
  *  - q185 streams the whole corpus into an index it never built;
  *  - q205/q206 append twice and measure file counts around the
  *    compaction, which no other query does;
  *  - q203 audits drift instead of probing; q209 probes a delta it
  *    never appends; q214 joins a merged manifest with the one its
  *    index serves.
  */
object Scenario {

  /** Ids with `id % mod == rem` are the delta, the rest the base. */
  final case class Split(mod: Int, rem: Int) {
    def base(id: String): Column = col(id) % mod =!= rem
    def delta(id: String): Column = col(id) % mod === rem
  }

  sealed trait Mode
  case object Append extends Mode
  final case class BlindRetry(scalars: Boolean = false) extends Mode
  case object Stream extends Mode

  /** Every stream scenario's delta carries data in this many
    * micro-batches: more than one, or the ingest loop is untested. */
  val StreamBatches = 2

  /** The form in which a streamed delta lands. */
  sealed trait Landing
  /** The delta's `cols`, checkpointed, as two parquet files (the
    * `first` rows, the rest), one file per trigger. */
  final case class Chunks(first: Column, cols: String*) extends Landing
  /** One `.bin` file per delta document of `docs`; the first trigger
    * takes the n / 2 + 1 smallest ids, the second the rest. */
  final case class BinFiles(docs: DataFrame) extends Landing
  /** The snapshot packed into 4 parquet files, two per trigger. */
  case object Packed extends Landing

  /** One execution of a scenario: session, fixture and workspaces. */
  final class Run(val s: SparkSession, val dir: String, name: String,
      id: String, val split: Split) {
    private val spaces = mutable.Map.empty[String, String]
    /** The workspace of `role`, cleared on its first use in this run. */
    def ws(role: String): String =
      spaces.getOrElseUpdate(role, workspace(name, role, dir))
    def index: String = ws("index")
    val base: Column = split.base(id)
    val delta: Column = split.delta(id)
  }

  /** A family's steps for one run. The constructor loads and prepares
    * the input once; [[Scenario.apply]] calls the rest in lifecycle order.
    */
  abstract class Steps(val r: Run) {
    /** The prepared rows the split filters. */
    def source: DataFrame
    def build(): Unit
    /** The delta as appended and probed. */
    def snapshot(): DataFrame = source.filter(r.delta)
    def append(snap: DataFrame): Unit = unsupported("append")
    def probe(path: String, snap: DataFrame): DataFrame
    /** Result order, applied after any damage scalars join. */
    def order: Seq[String]
    def layout: IndexLayout = unsupported("audited layout")
    def landing: Landing = unsupported("landing")
    def batch: (DataFrame, Long) => Unit = unsupported("batch body")
    /** The probe's snapshot, from the rows a stream landed. */
    def landed(rows: DataFrame): DataFrame = rows
    private def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(s"$getClass has no $what")
  }

  /** A written-index family; `id` is the column the split reads. */
  final case class Family(id: String, open: Run => Steps)

  /** The scenario's query: `family` over `split`, delivered by `mode`. */
  def apply(name: String, family: Family, split: Split, mode: Mode,
      oracle: Option[String]): QueryDef = QueryDef(name, (s, dir) => {
    val f = family.open(new Run(s, dir, name, family.id, split))
    val r = f.r
    f.build()
    val result = mode match {
      case Append =>
        val snap = f.snapshot()
        f.append(snap)
        f.probe(r.index, snap)
      case BlindRetry(scalars) =>
        val snap = f.snapshot()
        f.append(snap)
        f.append(snap) // the injected failure: a blind retry
        val damaged = f.layout.audit(s, r.index)
        if (!scalars) {
          val d = damaged.agg(count(lit(1)), max(col("n_copies")),
            max(col("n_payloads"))).collect()(0)
          require(d.getLong(0) > 0 && d.getLong(1) == 2L && d.getLong(2) == 1L,
            s"audit must localize the replay as bit-identical pairs, got $d")
        }
        f.layout.compact(s, r.index, r.ws("repaired"))
        if (!scalars) f.probe(r.ws("repaired"), snap)
        else {
          val after = f.layout.audit(s, r.ws("repaired"))
            .agg(count(lit(1)).as("n_after"))
          f.probe(r.ws("repaired"), snap)
            .crossJoin(broadcast(damaged.agg(count(lit(1)).as("n_damaged"))))
            .crossJoin(broadcast(after))
        }
      case Stream =>
        val (stream, view) = land(f)
        deliver(stream)(f.batch)
        f.probe(r.index, view())
    }
    result.orderBy(f.order.map(col): _*)
  }, oracle)

  /** Lands the delta in `f`'s form; returns the file stream and the
    * probe's snapshot, built once the stream has drained. */
  private def land(f: Steps): (DataFrame, () => DataFrame) = {
    val r = f.r
    val in = r.ws("in")
    f.landing match {
      case Chunks(first, cols @ _*) =>
        val rows = f.source.filter(r.delta).select(cols.map(col): _*)
          .localCheckpoint()
        (landChunks(r.s, in, rows, first), () => f.landed(rows))
      case BinFiles(docs) =>
        Multimodal.writeAssets(docs.filter(r.split.delta("doc_id")),
          "doc_id", "text", in)
        (Multimodal.streamBinaryDir(r.s, in,
          maxFilesPerTrigger = orderBinFiles(r.s, in)),
          () => f.landed(f.snapshot()))
      case Packed =>
        val snap = f.snapshot()
        Multimodal.packAssets(snap, in, nFiles = 4)
        (Multimodal.streamPackedDir(r.s, in, maxFilesPerTrigger = 2),
          () => f.landed(snap))
    }
  }

  /** Orders the `<id>.bin` files under `in` for the file source, which
    * takes the oldest files first: the n / 2 + 1 with the smallest ids
    * get one modification time and the rest a later one. Their write
    * times, set by parallel tasks, would otherwise decide which assets
    * reach the first micro-batch. Returns n / 2 + 1, the first batch's
    * file count. */
  private def orderBinFiles(s: SparkSession, in: String): Int = {
    val dir = new Path(in)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".bin"))
      .sortBy(_.getName.stripSuffix(".bin").toLong)
    val first = files.length / 2 + 1
    val t = System.currentTimeMillis() - 2000L
    files.zipWithIndex.foreach { case (p, i) =>
      fs.setTimes(p, if (i < first) t else t + 1000L, -1L)
    }
    first
  }

  // ------------------------------------------------------------------
  // the pieces hand-written lifecycle queries share
  // ------------------------------------------------------------------

  /** The workspace of `role` in query `name`, cleared; named from the
    * query's id (`q159`), so scan locations stay short enough to show
    * in a plan's metadata string. */
  def workspace(name: String, role: String, dir: String): String =
    TmpWorkspaces.pidScoped(
      s"graft_${name.takeWhile(_ != '_')}_${role}_", dir).toString

  /** Lands `rows` under `in` as two parquet files, the `first` rows and
    * the rest, and returns them as a file stream of one file per
    * trigger. */
  def landChunks(s: SparkSession, in: String, rows: DataFrame,
      first: Column): DataFrame = {
    Seq(first, !first).foreach { p =>
      rows.filter(p).coalesce(1).write.mode("append").parquet(in)
    }
    s.readStream.schema(rows.schema).option("maxFilesPerTrigger", 1)
      .parquet(in)
  }

  /** The fixture's media documents: those with a non-null text. */
  def mediaDocs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").filter(col("text").isNotNull)

  /** `docs`' text as payload bytes, `(asset_id, extra..., payload)`,
    * checkpointed: every media query reads the bytes once. */
  def payloads(docs: DataFrame, extra: Column*): DataFrame =
    Multimodal.attachPayload(docs, "text")
      .select(col("doc_id").as("asset_id") +: extra :+ col("payload"): _*)
      .localCheckpoint()

  /** The byte-stat vectors of `assets` keyed by `idCol`
    * ([[graft.operators.Multimodal.featurizeVector]]), checkpointed,
    * and the centroids frozen on the first 8 of them, `(cid,
    * centroid)`. */
  def featurized(assets: DataFrame, idCol: String): (DataFrame, DataFrame) = {
    val feats = Multimodal.featurizeVector(assets, idCol).localCheckpoint()
    (feats, feats.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("centroid")))
  }

  /** Ingests `stream` through `body` until it has drained, then
    * refuses a delivery whose data arrived in other than
    * [[StreamBatches]] micro-batches. */
  def deliver(stream: DataFrame)(body: (DataFrame, Long) => Unit): Unit = {
    val q = IndexIngest.start(stream, None)(body)
    IndexIngest.drain(q)
    val n = StreamRunner.dataBatches(q)
    require(n == StreamBatches, s"the landed delta carried data in $n " +
      s"micro-batches, not $StreamBatches: its landing collapsed or split")
  }

  // ------------------------------------------------------------------
  // families
  // ------------------------------------------------------------------

  import PipelineQueries.{Bands, NumHashes, ShingleN}

  private abstract class Text(r: Run) extends Steps(r) {
    val source: DataFrame = Tables.load(r.s, r.dir, "documents")
  }

  private abstract class Vectors(r: Run) extends Steps(r) {
    val source: DataFrame = Tables.load(r.s, r.dir, "embeddings")
  }

  /** Media assets: [[payloads]] of [[mediaDocs]] with the `extra`
    * columns. */
  private abstract class Payloads(r: Run, extra: String*) extends Steps(r) {
    val docs: DataFrame = mediaDocs(r.s, r.dir)
    val source: DataFrame = payloads(docs, extra.map(col): _*)
  }

  val Exact: Family = Family("doc_id", new Text(_) {
    def build(): Unit =
      Dedup.exactWriteIndex(source.filter(r.base), r.index, "doc_id", "text")
    override def append(snap: DataFrame): Unit =
      Dedup.exactAppendIndex(snap, r.index, "doc_id", "text")
    def probe(path: String, snap: DataFrame): DataFrame =
      Dedup.exactClustersIndexed(r.s, path, snap, "doc_id", "text")
    val order = Seq("fingerprint")
    override def landing = Chunks(col("doc_id") % 2 === 0, "doc_id", "text")
    override def batch = IndexIngest.exactBatch(r.index, "doc_id", "text")
  })

  val Minhash: Family = Family("doc_id", new Text(_) {
    def build(): Unit = Dedup.minhashWriteIndex(source.filter(r.base),
      r.index, "doc_id", "text", NumHashes, Bands, ShingleN)
    override def append(snap: DataFrame): Unit = Dedup.minhashAppendIndex(
      snap, r.index, "doc_id", "text", NumHashes, Bands, ShingleN)
    def probe(path: String, snap: DataFrame): DataFrame =
      Dedup.minhashDedupIndexed(r.s, path, snap, "doc_id", "text",
        NumHashes, Bands, ShingleN, threshold = 0.8)
    val order = Seq("doc_a", "doc_b")
  })

  /** n-gram postings, probed for containment pairs. */
  val Ngram: Family = Family("doc_id", new Text(_) {
    def build(): Unit = Dedup.ngramWriteIndex(source.filter(r.base),
      r.index, "doc_id", "text", "source", ShingleN)
    override def append(snap: DataFrame): Unit = Dedup.ngramAppendIndex(
      snap, r.index, "doc_id", "text", "source", ShingleN)
    def probe(path: String, snap: DataFrame): DataFrame =
      Dedup.ngramContainmentPairsIndexed(r.s, path, snap, "doc_id", "text",
        ShingleN, threshold = 0.6)
    val order = Seq("blk", "doc_a", "doc_b")
  })

  val Simhash: Family = Family("doc_id", new Text(_) {
    def build(): Unit = Dedup.simhashWriteIndex(source.filter(r.base),
      r.index, "doc_id", "text", "source")
    override def append(snap: DataFrame): Unit =
      Dedup.simhashAppendIndex(snap, r.index, "doc_id", "text", "source")
    def probe(path: String, snap: DataFrame): DataFrame =
      Dedup.simhashNearDupIndexed(r.s, path, snap, "doc_id", "text", "source")
    val order = Seq("blk", "doc_a", "doc_b")
  })

  val Block: Family = Family("doc_id", new Text(_) {
    def build(): Unit = Dedup.blockWriteIndex(source.filter(r.base),
      r.index, "doc_id", "text", blockTokens = 12)
    override def append(snap: DataFrame): Unit = Dedup.blockAppendIndex(
      snap, r.index, "doc_id", "text", blockTokens = 12)
    def probe(path: String, snap: DataFrame): DataFrame =
      Dedup.blockDedupIndexed(r.s, path, snap, "doc_id", "text",
        blockTokens = 12)
    val order = Seq("doc_id")
  })

  val Winnow: Family = Family("doc_id", new Text(_) {
    def build(): Unit = Dedup.winnowWriteIndex(source.filter(r.base),
      r.index, "doc_id", "text", "source")
    override def append(snap: DataFrame): Unit =
      Dedup.winnowAppendIndex(snap, r.index, "doc_id", "text", "source")
    def probe(path: String, snap: DataFrame): DataFrame =
      Dedup.winnowPairsIndexed(r.s, path, snap, "doc_id", "text", "source")
    val order = Seq("blk", "doc_a", "doc_b")
    override def landing =
      Chunks(col("doc_id") % 9 === 0, "doc_id", "source", "text")
    override def batch =
      IndexIngest.winnowBatch(r.index, "doc_id", "text", "source")
  })

  val Substring: Family = Family("doc_id", new Text(_) {
    def build(): Unit = SubstringDedup.substringWriteIndex(
      source.filter(r.base), r.index, "doc_id", "text", minLen = 12)
    override def append(snap: DataFrame): Unit = SubstringDedup
      .substringAppendIndex(snap, r.index, "doc_id", "text", minLen = 12)
    def probe(path: String, snap: DataFrame): DataFrame = SubstringDedup
      .substringPairsIndexed(r.s, path, snap, "doc_id", "text", minLen = 12)
    val order = Seq("doc_a", "doc_b", "pos_a", "pos_b")
  })

  private class Bm25Steps(r: Run, shards: Option[Int]) extends Text(r) {
    def build(): Unit =
      Retrieval.bm25WriteIndex(source.filter(r.base), r.index, shards = shards)
    override def append(snap: DataFrame): Unit =
      Retrieval.bm25AppendIndex(snap, r.index)
    def probe(path: String, snap: DataFrame): DataFrame =
      Retrieval.bm25TopKIndexed(r.s, path, source.filter(col("doc_id") < 8),
        k = 10)
    def order = Seq("query_id", "rnk")
    override def layout = IndexLayout.Bm25
    override def landing = Chunks(col("doc_id") % 2 === 0, "doc_id", "text")
    override def batch = IndexIngest.bm25Batch(r.index, "doc_id", "text")
  }

  /** BM25 postings served as the top-10 of the 8 query documents. */
  val Bm25: Family = Family("doc_id", new Bm25Steps(_, None))

  /** BM25 served as per-shard stats. The stats rows ARE the layout's
    * shard alphabet, so the build is pinned WIDE (appends follow the
    * persisted choice). */
  val Bm25Stats: Family = Family("doc_id",
    new Bm25Steps(_, Some(IndexShards.Wide)) {
      override def probe(path: String, snap: DataFrame): DataFrame =
        Retrieval.bm25IndexStats(r.s, path)
      override def order = Seq("shard")
    })

  /** The mixture manifest's per-document token payload; the snapshot
    * is checkpointed so both appends and the probe read it once. */
  val Mixture: Family = Family("doc_id", new Text(_) {
    def build(): Unit = Curation.mixtureAppendIndex(source.filter(r.base),
      r.index, "source", "doc_id", "text")
    override def snapshot(): DataFrame = source.filter(r.delta).localCheckpoint()
    override def append(snap: DataFrame): Unit = Curation.mixtureAppendIndex(
      snap, r.index, "source", "doc_id", "text")
    def probe(path: String, snap: DataFrame): DataFrame =
      Curation.mixtureServeIndex(r.s, path, "source", "doc_id",
        budget = CurationQueries.MixtureBudget)
    val order = Seq("doc_id")
    override def layout = IndexLayout.mixture("source", "doc_id")
  })

  /** IVF buckets under the frozen family of every 50th vector, served
    * as the top-3 of the first 10 vectors at nprobe = 2. */
  val Ivf: Family = Family("vec_id", new Vectors(_) {
    val centroids: DataFrame = source.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    def build(): Unit = Similarity.ivfWriteIndex(
      Similarity.ivfAssign(source.filter(r.base), centroids), r.index)
    override def append(snap: DataFrame): Unit = Similarity.ivfAppendIndex(
      Similarity.ivfAssign(snap, centroids), r.index)
    def probe(path: String, snap: DataFrame): DataFrame =
      Similarity.ivfTopKIndexed(r.s, path, centroids,
          source.filter(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")),
          k = 3, nprobe = 2)
        .withColumnRenamed("rank", "rnk")
    val order = Seq("query_id", "rnk")
    override def landing =
      Chunks(col("vec_id") % 8 === 0, "vec_id", "embedding")
    override def batch =
      IndexIngest.ivfBatch(r.index, centroids, "vec_id", "embedding")
  })

  /** IVF-PQ codes with the codebook trained on the base only (the
    * frozen-codebook append), served with the exact recall columns. */
  val IvfPq: Family = Family("vec_id", new Vectors(_) {
    val (assigned, centroids, cb) = PipelineQueries.ivfPqBuild(source, r.base)
    def build(): Unit = Pq.ivfPqWriteIndex(
      Pq.ivfPqEncode(assigned.filter(r.base), centroids, cb), r.index)
    override def snapshot(): DataFrame = assigned.filter(r.delta)
    override def append(snap: DataFrame): Unit =
      Pq.ivfPqAppendIndex(Pq.ivfPqEncode(snap, centroids, cb), r.index)
    def probe(path: String, snap: DataFrame): DataFrame = {
      val queries = source.filter(col("vec_id") < 10)
      PipelineQueries.withExactRecall3(Pq.ivfPqTopKIndexed(r.s, path,
        centroids, cb, queries, k = 3, nprobe = 2), source, queries)
    }
    val order = Seq("query_id", "rnk")
  })

  /** The semantic cluster layout: centroids trained on the base
    * ([[PipelineQueries.buildSemanticIndex]]), the delta assigned to
    * them as generation 1, probed by incremental SemDeDup. */
  val Semantic: Family = Family("vec_id", new Vectors(_) {
    private var cent: DataFrame = _
    def build(): Unit = cent =
      PipelineQueries.buildSemanticIndex(r.s, r.dir, r.base, r.index)
    override def snapshot(): DataFrame =
      Clustering.assignL2(source.filter(r.delta), cent).localCheckpoint()
    override def append(snap: DataFrame): Unit =
      Clustering.semanticAppendIndex(snap, r.index, gen = 1)
    def probe(path: String, snap: DataFrame): DataFrame =
      Clustering.semDedupIndexed(r.s, path, snap, threshold = 0.3)
    val order = Seq("cid", "vec_id")
    override def layout = IndexLayout.semantic("vec_id")
    override def landing =
      Chunks(col("vec_id") % 8 === 0, "vec_id", "embedding")
    override def batch = IndexIngest.semanticBatch(r.index, cent, "vec_id",
      "embedding", startGen = 1)
    override def landed(rows: DataFrame): DataFrame =
      Clustering.assignL2(rows, cent)
  })

  /** Binary assets through the full media path: every document written
    * as a `.bin` file and read back through `binaryFile`, indexed by
    * payload hash. */
  val Asset: Family = Family("asset_id", new Steps(_) {
    val docs: DataFrame = Tables.load(r.s, r.dir, "documents")
    val source: DataFrame = {
      Multimodal.writeAssets(docs, "doc_id", "text", r.ws("assets"))
      Multimodal.ingestBinaryDir(r.s, r.ws("assets")).localCheckpoint()
    }
    def build(): Unit = Multimodal.assetWriteIndex(source.filter(r.base), r.index)
    override def append(snap: DataFrame): Unit =
      Multimodal.assetAppendIndex(snap, r.index)
    def probe(path: String, snap: DataFrame): DataFrame =
      Multimodal.assetDedupIndexed(r.s, path, snap)
    val order = Seq("fingerprint")
    override def layout = IndexLayout.Asset
    override def landing = BinFiles(docs)
    override def batch = IndexIngest.assetBatch(r.index)
  })

  /** The asset index on the PACKED landing layout: the base is packed
    * into 8 multi-asset files and indexed from their columnar read,
    * the delta lands packed and is probed from its packed read. */
  val PackedAsset: Family = Family("asset_id", new Payloads(_) {
    def build(): Unit = {
      Multimodal.packAssets(source.filter(r.base), r.ws("packed"), nFiles = 8)
      Multimodal.assetWriteIndex(
        Multimodal.readPackedAssets(r.s, r.ws("packed")), r.index)
    }
    def probe(path: String, snap: DataFrame): DataFrame =
      Multimodal.assetDedupIndexed(r.s, path, snap)
    val order = Seq("fingerprint")
    override def landing = Packed
    override def batch = IndexIngest.assetBatch(r.index)
    override def landed(rows: DataFrame): DataFrame =
      Multimodal.readPackedAssets(r.s, r.ws("in"))
  })

  /** 64-byte frame fingerprints, probed for per-asset novelty. */
  val Frame: Family = Family("asset_id", new Payloads(_) {
    def build(): Unit = Multimodal.frameWriteIndex(source.filter(r.base),
      r.index, frameBytes = 64)
    override def append(snap: DataFrame): Unit =
      Multimodal.frameAppendIndex(snap, r.index, frameBytes = 64)
    def probe(path: String, snap: DataFrame): DataFrame =
      Multimodal.frameDedupIndexed(r.s, path, snap, frameBytes = 64)
    val order = Seq("asset_id")
    override def layout = IndexLayout.Frame
    override def landing = BinFiles(docs)
    override def batch = IndexIngest.frameBatch(r.index, frameBytes = 64)
  })

  /** Frame SimHash bands blocked by source, probed for near-dup frame
    * pairs; a streamed batch takes its blocking key from the static
    * asset frame. */
  val FrameSimhash: Family = Family("asset_id", new Payloads(_, "source") {
    def build(): Unit = Multimodal.frameSimhashWriteIndex(
      source.filter(r.base), r.index, frameBytes = 64)
    override def append(snap: DataFrame): Unit =
      Multimodal.frameSimhashAppendIndex(snap, r.index, frameBytes = 64)
    def probe(path: String, snap: DataFrame): DataFrame =
      Multimodal.frameSimhashPairsIndexed(r.s, path, snap, frameBytes = 64)
    val order = Seq("blk", "asset_a", "frame_a", "asset_b", "frame_b")
    override def layout = IndexLayout.FrameSimhash
    override def landing = Packed
    override def batch = IndexIngest.frameSimhashBatch(r.index,
      frameBytes = 64, blockOf = source.select(col("asset_id"), col("source")))
  })

  /** Featurized assets in the semantic layout, centroids frozen on the
    * first 8 assets' vectors, probed by near-dup SemDeDup. */
  val AssetSemantic: Family = Family("vec_id", new Steps(_) {
    val docs: DataFrame = mediaDocs(r.s, r.dir)
    val (source, cents) =
      featurized(Multimodal.attachPayload(docs, "text"), "doc_id")
    def build(): Unit = Clustering.semanticWriteIndex(
      Clustering.assignL2(source.filter(r.base), cents), r.index)
    override def snapshot(): DataFrame =
      Clustering.assignL2(source.filter(r.delta), cents).localCheckpoint()
    override def append(snap: DataFrame): Unit =
      Clustering.semanticAppendIndex(snap, r.index, gen = 1)
    def probe(path: String, snap: DataFrame): DataFrame =
      Clustering.semDedupIndexed(r.s, path, snap, threshold = 0.999)
    val order = Seq("cid", "vec_id")
    override def landing = BinFiles(docs)
    override def batch =
      IndexIngest.assetSemanticBatch(r.index, cents, startGen = 1)
  })

  /** The release manifest's per-generation contribution rows, served
    * as the folded manifest. */
  val Manifest: Family = Family("asset_id", new Payloads(_) {
    def build(): Unit =
      Multimodal.manifestAppendGeneration(source.filter(r.base), r.index)
    def probe(path: String, snap: DataFrame): DataFrame =
      Multimodal.assetManifestServe(r.s, path)
    val order = Seq("shard")
    override def landing = Packed
    override def batch = IndexIngest.assetManifestBatch(r.index)
  })
}
