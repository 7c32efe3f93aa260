package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling for training-data pipelines: media
  * payloads as opaque `binary` columns with a typed metadata struct,
  * plus the per-asset transform stages (decode → featurize,
  * frame-sampling) as object-barrier `mapPartitions` operators — the
  * Spark-side plumbing (schema, batch shape, partitioning) is real;
  * only the codec call itself is stubbed with a deterministic
  * byte-level featurizer, since media libraries are out of scope here
  * (swap [[decodeStub]] for an actual codec in production).
  *
  * Scale posture: payloads never shuffle — featurize/frame-sample are
  * narrow maps emitting compact features; anything aggregated
  * downstream groups on the small feature columns only. On a real
  * corpus the binary column lives in parquet with the metadata struct
  * enabling predicate pushdown on (mime, size) without touching bytes.
  */
object Multimodal {

  /** Metadata carried next to every payload (FLIP-95-style typed
    * schema; reference keeps media opaque too — RawType, SURVEY §1.2).
    */
  val MetaSchema: StructType = new StructType()
    .add("mime", StringType).add("n_bytes", LongType)

  /** Wraps a text column as a binary asset + metadata struct — the
    * fixture's stand-in for reading real media bytes.
    */
  def attachPayload(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", encode(col(textCol), "UTF-8"))
      .withColumn("meta", struct(
        lit("text/plain").as("mime"),
        octet_length(col(textCol)).cast("long").as("n_bytes")))

  /** Deterministic stand-in for a codec: first byte, byte length, and a
    * content hash (first 4 md5 bytes, unsigned) — byte-level features
    * any real decoder would replace.
    */
  private[operators] def decodeStub(
      md: java.security.MessageDigest, bytes: Array[Byte]): (Int, Long, Long) = {
    md.reset()
    val d = md.digest(bytes)
    val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (if (bytes.isEmpty) -1 else bytes(0) & 0xff, bytes.length.toLong, h)
  }

  /** Decode/featurize stage: (id, payload) → per-asset features. */
  def featurize(df: DataFrame, idCol: String): DataFrame = {
    val schema = new StructType()
      .add("asset_id", LongType).add("head_byte", IntegerType)
      .add("n_bytes", LongType).add("content_hash", LongType)
    val idIdx = df.schema.fieldIndex(idCol)
    val payIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val (head, n, h) = decodeStub(md, r.getAs[Array[Byte]](payIdx))
        Row(r.getLong(idIdx), head, n, h)
      }
    }(Encoders.row(schema))
  }

  /** The bytes a [[featurizeVector]] component counts, in component
    * order (components 2..7 of the vector; 0 is the bias, 1 the byte
    * length). ASCII code points only: UTF-8 continuation bytes are
    * ≥ 0x80, so a byte-level count of an ASCII char over the raw
    * payload equals the character count over the decoded text — the
    * property that lets a SQL oracle replay a byte-level featurizer.
    */
  private[graft] val FeatureBytes: Array[Byte] =
    Array(' ', 'e', 't', 'a', 'o', 'i').map(_.toByte)

  /** Decode → EMBED stage: (id, payload) → a deterministic feature
    * VECTOR per asset, the embedding-family twin of [[featurize]]'s
    * scalar features — what a real image/audio encoder would emit as
    * its embedding, stood in by byte statistics so the downstream
    * contract (frozen-centroid assignment, semantic written index,
    * cluster-pruned near-dup probe — the q36/q173 family) runs
    * unstubbed. Components: `[1.0, n_bytes, count(b) for b in
    * [[FeatureBytes]]]` — the leading bias keeps every vector off the
    * zero point (an empty payload would otherwise make cosine NaN,
    * which DuckDB and the JVM order differently). One object-barrier
    * mapPartitions pass; payloads never shuffle — only the dim-8
    * vectors leave the stage.
    *
    * Output: (vec_id, embedding: array&lt;double&gt;) — the
    * [[Clustering.assignL2]] input shape.
    */
  def featurizeVector(df: DataFrame, idCol: String): DataFrame = {
    val schema = new StructType()
      .add("vec_id", LongType)
      .add("embedding", ArrayType(DoubleType, containsNull = false))
    val idIdx = df.schema.fieldIndex(idCol)
    val payIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payIdx)
        val counts = new Array[Long](FeatureBytes.length)
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i)
          var j = 0
          while (j < FeatureBytes.length) {
            if (b == FeatureBytes(j)) counts(j) += 1
            j += 1
          }
          i += 1
        }
        Row(r.getLong(idIdx),
          (1.0 +: bytes.length.toDouble +: counts.map(_.toDouble)).toSeq)
      }
    }(Encoders.row(schema))
  }

  /** Hadoop Configuration is not Serializable; this is the standard
    * write/readFields envelope so executors inherit the SESSION'S
    * filesystem config (s3a credentials, defaultFS, …) instead of a
    * blank `new Configuration()`.
    */
  private class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit =
      value.write(out)
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Executor-side asset writer: one `<id>.bin` file per row, written
    * in parallel from the partitions (no driver collect). The fixture
    * side of the binaryFile ingestion round-trip below; in production
    * the files already exist on object storage.
    *
    * Cluster honesty by scheme dispatch: a REMOTE `dir` (hdfs://,
    * s3a://, any shared-namespace scheme) writes through Hadoop's
    * `FileSystem` resolved with the session's configuration, so every
    * executor lands in the one namespace a subsequent
    * [[ingestBinaryDir]] scan reads. A scheme-less or `file:` dir uses
    * `java.nio` directly: identical namespace semantics (local mode is
    * trivially shared; a node-local path shards per node under EITHER
    * api — a deployment property this code cannot see). Since
    * [[graft.fs.GraftRawLocalFileSystem]] stopped the `chmod` subprocess
    * per file, a single-threaded checksum-free Hadoop create costs about
    * what nio does (0.14 vs 0.02–0.3 ms/file at 5k files; stock Hadoop
    * 3.1–3.9 ms), but q198 through the Hadoop path still ran 0.9–2.1 s
    * slower in each of 4 alternating runs (10.9–14.7 s vs 10.0–12.8 s,
    * 4 cores, sf0.1), so the nio branch stays.
    */
  def writeAssets(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val uri = new Path(dir).toUri
    val local = uri.getScheme == null || uri.getScheme == "file"
    val conf = new SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    // remote note: checksum sidecars off (assets are content-hashed by
    // featurize downstream); newInstance, not get, so the flag never
    // leaks into the JVM-cached FileSystem parquet commits share
    def withRemoteFs[T](f: org.apache.hadoop.fs.FileSystem => T): T = {
      val fs = org.apache.hadoop.fs.FileSystem.newInstance(uri, conf.value)
      fs.setWriteChecksum(false)
      try f(fs) finally fs.close()
    }
    if (local)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(uri.getPath))
    else withRemoteFs(_.mkdirs(new Path(dir)))
    // NULL payloads have no file representation — skipped, like the
    // other text consumers (simhash, shingleSets) drop null text.
    // Fan out before the per-row file writes (guide §2.5): the cost is
    // one fs create per ROW, but the scan stage is sized by input bytes
    // — at fixture scale a whole corpus of .bin files was written from
    // 2 tasks (profiled 4.0 s in q198) while 30 cores idled. Same
    // deterministic-key/size-guard contract as the fingerprint passes.
    val rows = Parallelism.fanOut(
      df.select(col(idCol).cast("long").as("__id"), col(textCol).as("__t"))
        .filter(col("__t").isNotNull), "__id")
    if (local) {
      val localDir = uri.getPath
      rows.foreachPartition { it: Iterator[Row] =>
        it.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(localDir, s"${r.getLong(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    } else {
      rows.foreachPartition { it: Iterator[Row] =>
        if (it.hasNext) withRemoteFs { fs =>
          it.foreach { r =>
            val out = fs.create(new Path(dir, s"${r.getLong(0)}.bin"), true)
            try out.write(
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          }
        }
      }
    }
  }

  /** Media-directory ingestion through Spark's `binaryFile` source —
    * THE path real image/audio/video corpora enter a pipeline by: each
    * file one row of (path, modificationTime, length, content), scanned
    * in parallel with no decode. The asset id parses from the filename;
    * the payload column feeds [[featurize]] / [[sampleFrames]] directly.
    */
  def ingestBinaryDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    assetProjection(spark.read.format("binaryFile").load(dir))

  /** STREAMING twin of [[ingestBinaryDir]] — the arrival path of a
    * standing media pipeline: Spark's `binaryFile` source watches the
    * directory and each micro-batch carries the newly-landed files
    * (`maxFilesPerTrigger` bounds the batch). Same projection, same
    * stray-file tolerance; feeds
    * [[graft.streaming.IndexIngest.startAssets]].
    */
  def streamBinaryDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxFilesPerTrigger: Int): DataFrame = {
    require(maxFilesPerTrigger >= 1,
      s"maxFilesPerTrigger must be >= 1, got $maxFilesPerTrigger")
    // streaming file sources need the schema up front; binaryFile's is
    // fixed by the format (path, modificationTime, length, content)
    val schema = new StructType()
      .add("path", StringType).add("modificationTime", TimestampType)
      .add("length", LongType).add("content", BinaryType)
    assetProjection(spark.readStream.format("binaryFile").schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).load(dir))
  }

  /** The packed-asset schema: media as a MULTI-ASSET parquet layout,
    * payload bytes as a column. Fixed so streaming readers can declare
    * it up front.
    */
  val PackedSchema: StructType = new StructType()
    .add("asset_id", LongType).add("payload", BinaryType)

  /** Packs assets into the MULTI-ASSET parquet landing layout —
    * (asset_id, payload) rows in a BOUNDED number of range-clustered
    * files — the 100× answer to the per-document-file ceiling:
    * `binaryFile` over one file per asset is the TRUE edge (q118's
    * contract — that is how crawled media arrives), but at corpus
    * scale every downstream pass over per-doc files pays O(corpus)
    * directory listings and file opens (measured at sf1: the listing,
    * not the bytes, dominates q199-class queries). Packing ONCE at
    * the edge makes every index/probe/flagship read columnar over
    * O(corpus_bytes / file_size) files, keeps the payload column's
    * pages compressed and skippable, and range-clustering by asset id
    * gives min/max pruning on id-sliced probes. q207 gates the packed
    * path end to end against the same oracle as the per-doc q199.
    */
  def packAssets(assets: DataFrame, dir: String, nFiles: Int,
      idCol: String = "asset_id", payloadCol: String = "payload"): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    assets.select(col(idCol).cast("long").as("asset_id"),
        col(payloadCol).as("payload"))
      .repartitionByRange(nFiles, col("asset_id"))
      .write.mode("overwrite").parquet(dir)
  }

  /** Reads a [[packAssets]] layout back as (asset_id, payload). */
  def readPackedAssets(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.schema(PackedSchema).parquet(dir)

  /** STREAMING twin of [[readPackedAssets]] — [[streamBinaryDir]]'s
    * contract on the packed layout: Spark's parquet file stream
    * watches the landing directory, each micro-batch carries the
    * newly-landed PACKED files (`maxFilesPerTrigger` bounds the batch
    * in files, each holding many assets — the batch-size unit a
    * packed pipeline actually provisions for). Feeds the same
    * [[graft.streaming.IndexIngest.startAssets]] ledger sink.
    */
  def streamPackedDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxFilesPerTrigger: Int): DataFrame = {
    require(maxFilesPerTrigger >= 1,
      s"maxFilesPerTrigger must be >= 1, got $maxFilesPerTrigger")
    spark.readStream.schema(PackedSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)
  }

  /** Driver-side count of the landing FILES in `dir` — the
    * `maxFilesPerTrigger` sizing a gate needs, via one filesystem
    * metadata listing instead of a Spark count() action over the data
    * (hidden `_`/`.` entries excluded, matching what the `binaryFile`
    * source would deliver). Math.toIntExact keeps a >2B-file listing a
    * loud failure instead of a silent wrap.
    */
  def dirFileCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Math.toIntExact(fs.listStatus(p).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.toLong)
  }

  private def assetProjection(files: DataFrame): DataFrame =
    files.select(
        // filename must be exactly <digits>.bin: anything else (a
        // stray cover.jpg, a negative id that would alias another
        // asset) yields NULL and is dropped instead of NPE-ing the
        // downstream featurize. regexp_extract returns '' on a miss,
        // and ANSI casts '' -> bigint throw — nullif makes the miss a
        // NULL before the cast (matches are all-digit, so the cast
        // itself can only overflow, which SHOULD fail loudly)
        nullif(regexp_extract(col("path"), "/([0-9]+)\\.bin$", 1), lit(""))
          .cast("long").as("asset_id"),
        col("content").as("payload"))
      .filter(col("asset_id").isNotNull)

  /** The NON-TEXT member of the incremental-dedup index family: exact
    * payload-hash dedup over binary assets, on the
    * [[Dedup.exactWriteIndex]] written-layout contract verbatim —
    * `fingerprints/` rows of (asset_id, fingerprint = md5 of the
    * CONTENT BYTES) partitioned by the fingerprint's own first 2 hex
    * chars (md5 is uniform: the fingerprint IS its shard key). Text
    * normalization does not apply to opaque media — byte-identity is
    * the exact-dup relation for images/audio/video — so the only
    * delta from the text member is hashing the binary column raw.
    * A standing pipeline checks each new asset snapshot for exact
    * duplicates against everything ever indexed by probing
    * ~|snapshot shards|/256 of the layout (q194 gates the probe
    * against the fresh whole-corpus oracle restricted to
    * snapshot-touched fingerprints).
    */
  def assetWriteIndex(assets: DataFrame, path: String,
      idCol: String = "asset_id", payloadCol: String = "payload",
      shards: Option[Int] = None): Unit = {
    IndexPaths.clearPointer(assets.sparkSession, path)
    writeAssetFpGeneration(assets, path, idCol, payloadCol, "overwrite",
      shards)
  }

  /** Appends a NEW-ASSET snapshot's fingerprints — delta-sized, zero
    * base reads; the usual new-ids / exactly-once append contract (a
    * replayed append inflates cluster_size counts, which
    * [[assetAuditIndex]] localizes).
    */
  def assetAppendIndex(assets: DataFrame, path: String,
      idCol: String = "asset_id", payloadCol: String = "payload"): Unit =
    writeAssetFpGeneration(assets,
      IndexPaths.resolve(assets.sparkSession, path), idCol, payloadCol,
      "append")

  private def writeAssetFpGeneration(assets: DataFrame, path: String,
      idCol: String, payloadCol: String, mode: String,
      shards: Option[Int] = None): Unit = {
    // scale-adaptive shard count (guide §6, IndexShards); q206's
    // amplification gate measures the historical WIDE geometry and
    // pins it explicitly
    val nSh =
      if (mode == "append")
        IndexShards.forAppend(assets.sparkSession, s"$path/fingerprints")
      else shards.getOrElse(IndexShards.pick(assets))
    assets.select(col(idCol).cast("long").as("asset_id"),
        md5(col(payloadCol)).as("fingerprint"))
      .withColumn("shard", IndexShards.hexShard(col("fingerprint"), nSh))
      .repartition(col("shard"))
      .write.mode(mode).partitionBy("shard").parquet(s"$path/fingerprints")
    if (mode != "append")
      IndexShards.publish(assets.sparkSession, s"$path/fingerprints", nSh)
  }

  /** Replay audit of an [[assetWriteIndex]] layout — the
    * [[Dedup.exactAuditIndex]] taxonomy on the asset side: ids present
    * more than once; `n_payloads` = 1 means a replayed append
    * (bit-identical copies), > 1 means the id was re-appended with
    * DIFFERENT bytes (payload divergence — a rebuild signal).
    */
  def assetAuditIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"${IndexPaths.resolve(spark, path)}/fingerprints")
      .groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("fingerprint")).as("n_payloads"))
      .filter(col("n_copies") > 1)

  /** Compacting repair of [[assetAuditIndex]]-localized replay damage
    * — the asset member of the repair family (IVF-PQ
    * `ivfPqCompactIndex`, BM25 `bm25CompactIndex` shape, semantic
    * `semanticCompactIndex`, mixture `mixtureCompactIndex`): replayed
    * appends land bit-identical (asset_id, fingerprint) rows, which a
    * `dropDuplicates` rewrite removes exactly. The TEXT exact member
    * deliberately ships no compact twin (a rebuild there is one cheap
    * re-hash of the text column); for MEDIA the equation flips — a
    * rebuild must re-read and re-hash every payload byte in the
    * corpus, so a compaction that touches only the fingerprint rows
    * (id + 32 hex chars per asset, no payload reads) is the 100 TB
    * repair. REFUSES payload divergence (same id, different
    * fingerprint — re-ingested bytes, a rebuild signal): silently
    * picking a copy would move [[assetDedupIndexed]] verdicts.
    * Stage-then-swap to a NEW path, the family's idiom.
    */
  def assetCompactIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath0: String, dstPath: String): Unit = {
    val srcPath = IndexPaths.resolve(spark, srcPath0)
    val rows = spark.read.parquet(s"$srcPath/fingerprints")
      .select(col("asset_id"), col("fingerprint"), col("shard"))
      .dropDuplicates()
      .localCheckpoint()
    // divergence probe and rewrite both consume the one checkpointed
    // frame — overlap them (guide §2.6); a refusal still throws and the
    // staged dst is never live until the caller's swap
    Parallelism.inParallel(
      () => {
        val divergent = rows.groupBy(col("asset_id"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
        require(divergent.isEmpty, {
          val d = divergent.head
          s"assetCompactIndex: asset ${d.get(0)} has payload-divergent " +
            "copies (same id, different content bytes) — not " +
            "append-replay damage; re-ingest the asset and rebuild instead"
        })
      },
      () => rows.repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$dstPath/fingerprints"))
    // the rewrite carries src's shard values verbatim — carry its
    // persisted shard count too (IndexShards)
    IndexShards.mirror(spark, s"$srcPath/fingerprints",
      s"$dstPath/fingerprints")
  }

  /** ONLINE repair: [[assetCompactIndex]] into the next generation
    * under the same root + the atomic [[IndexPaths.compactSwap]]
    * pointer cutover. Returns the new generation dir.
    */
  def assetCompactSwap(spark: org.apache.spark.sql.SparkSession,
      root: String): String =
    IndexPaths.compactSwap(spark, root)(assetCompactIndex(spark, _, _))

  /** Incremental exact-dup clustering of a new asset snapshot against
    * an [[assetWriteIndex]] layout that already contains it — the
    * [[Dedup.exactClustersIndexed]] probe shape on the binary side:
    * every fingerprint cluster with AT LEAST ONE snapshot member, with
    * the stats the fresh whole-corpus run would report (kept = global
    * min id, cluster_size = full membership). One delta-sized hash
    * pass, a partition-pruned scan (literal shards from a collect
    * bounded by the 256-shard alphabet), a broadcast snapshot-
    * fingerprint semi-join BEFORE the aggregation, one keyed agg.
    */
  def assetDedupIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaAssets: DataFrame,
      idCol: String = "asset_id", payloadCol: String = "payload")
      : DataFrame = {
    val root = IndexPaths.resolve(spark, path)
    val deltaFp = deltaAssets
      .select(md5(col(payloadCol)).as("fingerprint")).distinct()
    val fpDir = s"$root/fingerprints"
    val fpScan = spark.read.parquet(fpDir)
    // prune with the layout's persisted shard derivation (IndexShards)
    IndexShards.read(spark, fpDir).fold(fpScan) { nSh =>
      val shards = deltaFp
        .select(IndexShards.hexShard(col("fingerprint"), nSh).as("shard"))
        .distinct().collect().map(_.getString(0))
      fpScan.filter(col("shard").isin(shards.toSeq: _*))
    }
      .join(broadcast(deltaFp), Seq("fingerprint"), "leftsemi")
      .groupBy(col("fingerprint"))
      .agg(min(col("asset_id")).as("kept_id"),
        count(lit(1)).as("cluster_size"))
  }

  /** Lowercase hex of a byte range — the BYTE-EXACT ORACLE BRIDGE all
    * frame fingerprints route through: md5-of-hex (not md5-of-bytes)
    * lets the DuckDB oracle replay the EXACT same hash over
    * `lower(to_hex(encode(text)))` slices for ARBITRARY payload bytes
    * — a char-based `substring(text, ...)` slice is only byte-correct
    * on ASCII, and DuckDB 1.0 exposes no BLOB substring/md5. Hex is
    * bijective on bytes, so frame identity is unchanged.
    */
  private def hexOf(bytes: Array[Byte], from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder((until - from) * 2)
    var i = from
    while (i < until) {
      sb.append(Character.forDigit((bytes(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(bytes(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** Per-frame content fingerprints: each payload split into
    * fixed-size byte frames (the [[sampleFrames]] geometry), one
    * (asset_id, frame_no, fingerprint = md5 of the frame's lowercase
    * HEX encoding — see [[hexOf]]: bijective on the frame's bytes and
    * byte-exactly replayable by the SQL oracle on any payload) row
    * per frame — the SUB-ASSET granularity of the dedup family, the
    * media twin of the text block fingerprints
    * ([[Dedup.blockWriteIndex]]'s explode): "has this video segment /
    * audio chunk appeared anywhere before" needs frame identity, not
    * whole-file identity. An empty payload is one empty frame (md5 of
    * the empty string), so every asset appears. One object-barrier
    * mapPartitions pass; only (id, no, 32-hex) rows leave — payloads
    * never shuffle.
    */
  def frameFingerprints(df: DataFrame, idCol: String,
      frameBytes: Int): DataFrame = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    val schema = new StructType()
      .add("asset_id", LongType).add("frame_no", LongType)
      .add("fingerprint", StringType)
    // fan out before the per-frame hashing (guide §2.5, the same repair
    // the r21 text fingerprint passes got): cost is frames × md5 but the
    // scan stage is sized by input bytes — a small-file corpus (or a
    // single-partition payload checkpoint, the q200/q211 shape) framed
    // and hashed serially while the rest of the machine idled
    val src = Parallelism.fanOut(df, idCol)
    val idIdx = src.schema.fieldIndex(idCol)
    val payIdx = src.schema.fieldIndex("payload")
    src.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](payIdx)
        val n = math.max(1, (bytes.length + frameBytes - 1) / frameBytes)
        (0 until n).iterator.map { i =>
          val from = math.min(i * frameBytes, bytes.length)
          val until = math.min(from + frameBytes, bytes.length)
          md.reset()
          val d = md.digest(hexOf(bytes, from, until)
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          Row(r.getLong(idIdx), i.toLong,
            d.map("%02x".format(_)).mkString)
        }
      }
    }(Encoders.row(schema))
  }

  /** Materializes the frame-fingerprint index as a written,
    * shard-pruned layout — `frames/` = (asset_id, frame_no,
    * fingerprint) partitioned by the fingerprint's first 2 hex chars,
    * the [[Dedup.blockWriteIndex]] contract on the byte level. Frame
    * BYTES stay out of the index: keep-first needs only the winner's
    * coordinates, so the layout is 40-odd bytes per frame whatever
    * the payload sizes.
    */
  def frameWriteIndex(assets: DataFrame, path: String, frameBytes: Int,
      idCol: String = "asset_id"): Unit = {
    IndexPaths.clearPointer(assets.sparkSession, path)
    writeFrameGeneration(assets, path, frameBytes, idCol, "overwrite")
  }

  /** Appends a NEW-ASSET snapshot's frame fingerprints — delta-sized,
    * zero base reads; the usual new-ids / exactly-once append contract.
    */
  def frameAppendIndex(assets: DataFrame, path: String, frameBytes: Int,
      idCol: String = "asset_id"): Unit =
    writeFrameGeneration(assets,
      IndexPaths.resolve(assets.sparkSession, path), frameBytes, idCol,
      "append")

  private def writeFrameGeneration(assets: DataFrame, path: String,
      frameBytes: Int, idCol: String, mode: String): Unit = {
    // scale-adaptive shard count (guide §6, IndexShards): sized from
    // the pre-explode asset input — conservative, an object barrier
    // with no estimate counts as big
    val nSh =
      if (mode == "append")
        IndexShards.forAppend(assets.sparkSession, s"$path/frames")
      else IndexShards.pick(assets)
    frameFingerprints(assets, idCol, frameBytes)
      .withColumn("shard", IndexShards.hexShard(col("fingerprint"), nSh))
      .repartition(col("shard"))
      .write.mode(mode).partitionBy("shard").parquet(s"$path/frames")
    if (mode != "append")
      IndexShards.publish(assets.sparkSession, s"$path/frames", nSh)
  }

  /** Replay audit of a [[frameWriteIndex]] layout — the family
    * taxonomy on the frame level: (asset_id, frame_no) coordinates
    * present more than once; `n_payloads` = 1 means a replayed append
    * (bit-identical copies), > 1 means the same coordinate was
    * re-appended with DIFFERENT bytes (payload divergence — a rebuild
    * signal). One narrow grouped scan; never reads payloads.
    */
  def frameAuditIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"${IndexPaths.resolve(spark, path)}/frames")
      .groupBy(col("asset_id"), col("frame_no"))
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("fingerprint")).as("n_payloads"))
      .filter(col("n_copies") > 1)

  /** Compacting repair of [[frameAuditIndex]]-localized replay damage
    * — the frame member of the repair family ([[assetCompactIndex]]'s
    * contract one level down): replayed appends land bit-identical
    * (asset_id, frame_no, fingerprint) rows, removed exactly by a
    * whole-row dedup rewrite; if coordinates still collide after
    * (payload divergence), compaction REFUSES — silently picking a
    * fingerprint would move [[frameDedupIndexed]] keep-first verdicts.
    * Touches only the 40-byte fingerprint rows — NO payload re-read
    * (the 100 TB media-repair argument, ×frames-per-asset sharper
    * here). Stage-then-swap to a NEW path, the family's idiom.
    */
  def frameCompactIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath0: String, dstPath: String): Unit = {
    val srcPath = IndexPaths.resolve(spark, srcPath0)
    val rows = spark.read.parquet(s"$srcPath/frames")
      .select(col("asset_id"), col("frame_no"), col("fingerprint"),
        col("shard"))
      .dropDuplicates()
      .localCheckpoint()
    // same check∥write overlap as [[assetCompactIndex]]
    Parallelism.inParallel(
      () => {
        val divergent = rows.groupBy(col("asset_id"), col("frame_no"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
        require(divergent.isEmpty, {
          val d = divergent.head
          s"frameCompactIndex: frame (${d.get(0)}, ${d.get(1)}) has " +
            "payload-divergent copies (same coordinate, different bytes) " +
            "— not append-replay damage; re-ingest the asset and rebuild " +
            "instead"
        })
      },
      () => rows.repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$dstPath/frames"))
    // the rewrite carries src's shard values verbatim — carry its
    // persisted shard count too (IndexShards)
    IndexShards.mirror(spark, s"$srcPath/frames", s"$dstPath/frames")
  }

  /** ONLINE repair: [[frameCompactIndex]] into the next generation
    * under the same root + the atomic [[IndexPaths.compactSwap]]
    * pointer cutover. Returns the new generation dir.
    */
  def frameCompactSwap(spark: org.apache.spark.sql.SparkSession,
      root: String): String =
    IndexPaths.compactSwap(spark, root)(frameCompactIndex(spark, _, _))

  /** Incremental frame-level exact dedup of a new asset snapshot
    * against a [[frameWriteIndex]] layout AFTER the snapshot was
    * appended — [[Dedup.blockDedupIndexed]]'s rule on media: a
    * snapshot frame survives iff its (asset_id, frame_no) is the
    * GLOBAL minimum for its fingerprint across everything ever
    * indexed. Output: (asset_id, n_frames, n_kept) per snapshot
    * asset — the per-asset novelty measure a crawl pipeline thresholds
    * on ("this clip is 95% previously-seen frames").
    *
    * 100 TB posture: the probe prunes to the snapshot's fingerprint
    * shards (≤256), semi-joins the broadcast snapshot fingerprints,
    * and aggregates winners per fingerprint (min over the compact
    * coordinate pair) — only the index's text-free rows are read;
    * the snapshot's own frames are already in hand.
    */
  def frameDedupIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaAssets: DataFrame, frameBytes: Int,
      idCol: String = "asset_id"): DataFrame = {
    val frames = frameFingerprints(deltaAssets, idCol, frameBytes)
      .localCheckpoint()
    val framesDir = s"${IndexPaths.resolve(spark, path)}/frames"
    val framesScan = spark.read.parquet(framesDir)
    // prune with the layout's persisted shard derivation (IndexShards);
    // no persisted count → scan unpruned (pruning is never correctness)
    val mins = IndexShards.read(spark, framesDir).fold(framesScan) { nSh =>
      val shards = frames
        .select(IndexShards.hexShard(col("fingerprint"), nSh).as("shard"))
        .distinct().collect().map(_.getString(0))
      framesScan.filter(col("shard").isin(shards.toSeq: _*))
    }
      .join(broadcast(frames.select(col("fingerprint")).distinct()),
        Seq("fingerprint"), "leftsemi")
      .groupBy(col("fingerprint"))
      .agg(min(struct(col("asset_id"), col("frame_no"))).as("m"))
    // LEFT join: the contract is append-then-probe (every snapshot
    // fingerprint is in the index), but a caller probing BEFORE the
    // append must see a globally-new frame as KEPT, not silently
    // vanished from both counts — a missing min means no indexed
    // occurrence exists, so the snapshot frame is first by definition
    frames.join(mins, Seq("fingerprint"), "left")
      .withColumn("__keep",
        col("m").isNull ||
          (col("asset_id") === col("m.asset_id") &&
            col("frame_no") === col("m.frame_no")))
      .groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("__keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"))
  }

  /** Cross-modality DECONTAMINATION probe — the q119 eval-set
    * contract on the media side: for each EVAL asset (a benchmark's
    * images/clips, NOT part of the corpus and never appended), count
    * how many of its frames appear ANYWHERE in the training corpus's
    * written frame index — frame-level containment being the media
    * equivalent of eval n-gram overlap: a clip is contaminated when
    * the corpus already carries its segments, wherever they were
    * spliced in. Output: (asset_id, n_frames, n_contaminated) per
    * eval asset; the caller thresholds the share.
    *
    * Unlike [[frameDedupIndexed]] this is probe-WITHOUT-append (the
    * eval set must never enter the index), so a fingerprint missing
    * from the probed shards means CLEAN, not absent-by-bug — the
    * left-join contract. 100 TB posture: eval sets are small by
    * nature; the scan prunes to the eval frames' shards (≤256), the
    * broadcast semi-join keeps only hit fingerprints, and only
    * (fingerprint) residues reach the driver-side of nothing —
    * payloads stay in the one framing pass.
    */
  def frameDecontamination(spark: org.apache.spark.sql.SparkSession,
      path: String, evalAssets: DataFrame, frameBytes: Int,
      idCol: String = "asset_id"): DataFrame = {
    val frames = frameFingerprints(evalAssets, idCol, frameBytes)
      .localCheckpoint()
    val framesDir = s"${IndexPaths.resolve(spark, path)}/frames"
    val framesScan = spark.read.parquet(framesDir)
    // prune with the layout's persisted shard derivation (IndexShards)
    val hits = IndexShards.read(spark, framesDir).fold(framesScan) { nSh =>
      val shards = frames
        .select(IndexShards.hexShard(col("fingerprint"), nSh).as("shard"))
        .distinct().collect().map(_.getString(0))
      framesScan.filter(col("shard").isin(shards.toSeq: _*))
    }
      .join(broadcast(frames.select(col("fingerprint")).distinct()),
        Seq("fingerprint"), "leftsemi")
      .select(col("fingerprint")).distinct()
      .withColumn("__hit", lit(1L))
    frames.join(hits, Seq("fingerprint"), "left")
      .groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
  }

  /** One frame id per (asset, frame) coordinate: `asset_id * 2^20 +
    * frame_no`, so the frame near-dup family can ride the document
    * SimHash machinery unchanged (its pair keys are single longs).
    * 2^20 frames × ≥64-byte frames = 64 MB+ per asset before the
    * loud [[frameTexts]] refusal; asset ids keep 43 bits.
    */
  private[graft] val FrameIdStride: Long = 1L << 20

  /** Frames as DOCUMENTS: each payload split into fixed-size byte
    * frames (the [[frameFingerprints]] geometry — an empty payload is
    * one empty frame) and rendered as SPACE-JOINED 4-BYTE HEX
    * SHINGLES — "`c3a90a1b 0a1b2c3d …`", one shingle per 2-BYTE offset
    * plus the frame's tail shingle (a frame of ≤4 bytes is its single
    * hex token; an empty frame is the empty text) — one (doc_id = asset_id·2^20 + frame_no, blk,
    * text) row per frame: the input shape
    * [[Dedup.simhashWriteIndex]]/[[Dedup.simhashNearDupIndexed]]
    * take, so frame-level NEAR-dup is the q167/q168 contract applied
    * below the asset, with the SimHash features being overlapping
    * byte 4-grams of the RAW frame bytes. Why hex shingles and not a
    * UTF-8 decode: (a) hex is BIJECTIVE on bytes — a lossy decode
    * collapses distinct binary frames onto U+FFFD-laden twins, moving
    * near-dup verdicts on real media; (b) byte 4-grams are the right
    * locality feature for binary payloads (one flipped byte disturbs
    * 2 shingles of ~29 in a 64-byte frame); (c) the tokens
    * are [0-9a-f]+, so the existing normalize/tokenize/hash machinery
    * AND the SQL oracle (`lower(to_hex(encode(text)))` slices) replay
    * them byte-exactly on ANY payload — no ASCII fixture assumption.
    * One object-barrier mapPartitions pass; payloads never shuffle —
    * only the ~2.2×frameBytes-char shingle texts leave, and only into
    * the zero-shuffle fingerprint pass.
    */
  def frameTexts(df: DataFrame, idCol: String, frameBytes: Int,
      blockCol: String): DataFrame = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    val schema = new StructType()
      .add("doc_id", LongType).add("blk", StringType)
      .add("text", StringType)
    // fan out before the per-frame shingle-text construction — the most
    // explode-amplified pass the media family owns (~2.2×frameBytes
    // chars emitted per frame, then SimHash downstream); same guard and
    // rationale as [[frameFingerprints]]
    val src = Parallelism.fanOut(df, idCol)
    val idIdx = src.schema.fieldIndex(idCol)
    val blkIdx = src.schema.fieldIndex(blockCol)
    val payIdx = src.schema.fieldIndex("payload")
    val maxAsset = Long.MaxValue / FrameIdStride
    src.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](payIdx)
        if (bytes == null) Iterator.empty
        else {
          val id = r.getLong(idIdx)
          val blk = if (r.isNullAt(blkIdx)) null else r.getString(blkIdx)
          val n = math.max(1, (bytes.length + frameBytes - 1) / frameBytes)
          if (id < 0 || id >= maxAsset || n >= FrameIdStride)
            throw new IllegalArgumentException(
              s"frameTexts: asset $id with $n frames overflows the " +
                s"asset_id*2^20+frame_no coordinate encoding")
          (0 until n).iterator.map { i =>
            val from = math.min(i * frameBytes, bytes.length)
            val until = math.min(from + frameBytes, bytes.length)
            val hex = hexOf(bytes, from, until)
            val text =
              if (hex.length <= 8) hex
              else {
                // 4-byte shingles STEPPED 2 bytes (offsets 0,2,4,… plus
                // the frame tail): half the tokens of a per-byte stride
                // at the same aligned-corruption sensitivity — a flipped
                // byte still disturbs 2 shingles; shingle SETS dedup
                // downstream, so the tail token may repeat harmlessly
                val h = hex.length
                val b = new java.lang.StringBuilder(h * 2)
                var o = 0
                while (o + 8 <= h) {
                  if (b.length > 0) b.append(' ')
                  b.append(hex, o, o + 8)
                  o += 4
                }
                if ((h - 8) % 4 != 0) {
                  b.append(' ')
                  b.append(hex, h - 8, h)
                }
                b.toString
              }
            Row(id * FrameIdStride + i, blk, text)
          }
        }
      }
    }(Encoders.row(schema))
  }

  /** Materializes the frame SIMHASH band index — the NEAR-dup member
    * of the frame family (q200/q204's exact-hash index catches
    * byte-identical frames; one flipped byte defeats it — this layout
    * catches the hamming-≤3 ball): [[frameTexts]] frames through
    * [[Dedup.simhashWriteIndex]] verbatim (60-bit fingerprints, four
    * 15-bit bands, ≤256 `pshard` directories, fingerprint inline so
    * the probe never re-reads payloads). Blocked by the asset's
    * `blockCol` (source), the corpus-wide-banding bound the q167/q168
    * text members established.
    */
  def frameSimhashWriteIndex(assets: DataFrame, path: String,
      frameBytes: Int, idCol: String = "asset_id",
      blockCol: String = "source"): Unit =
    Dedup.simhashWriteIndex(frameTexts(assets, idCol, frameBytes, blockCol),
      path, "doc_id", "text", "blk")

  /** Appends a NEW-ASSET snapshot's frame band rows — delta-sized,
    * zero base reads; the usual new-ids / exactly-once contract.
    */
  def frameSimhashAppendIndex(assets: DataFrame, path: String,
      frameBytes: Int, idCol: String = "asset_id",
      blockCol: String = "source"): Unit =
    Dedup.simhashAppendIndex(frameTexts(assets, idCol, frameBytes, blockCol),
      path, "doc_id", "text", "blk")

  /** Incremental frame-level SimHash near-dup: every frame pair
    * within the hamming ball with at least one endpoint in
    * `deltaAssets`, served from a [[frameSimhashWriteIndex]] layout
    * AFTER the snapshot was appended —
    * [[Dedup.simhashNearDupIndexed]]'s pruned-probe shape (band-shard
    * PartitionFilters, broadcast snapshot bands, `bit_count` verify
    * on stored longs) with the pair endpoints decoded back to
    * (asset, frame) coordinates. Output: (blk, asset_a, frame_a,
    * asset_b, frame_b, hamming).
    */
  def frameSimhashPairsIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaAssets: DataFrame, frameBytes: Int,
      idCol: String = "asset_id", blockCol: String = "source",
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame =
    Dedup.simhashNearDupIndexed(spark, path,
        frameTexts(deltaAssets, idCol, frameBytes, blockCol),
        "doc_id", "text", "blk", maxHamming, maxBucketSize)
      .select(col("blk"),
        expr(s"doc_a div $FrameIdStride").as("asset_a"),
        (col("doc_a") % FrameIdStride).as("frame_a"),
        expr(s"doc_b div $FrameIdStride").as("asset_b"),
        (col("doc_b") % FrameIdStride).as("frame_b"),
        col("hamming"))

  /** Replay audit of a [[frameSimhashWriteIndex]] band layout —
    * [[Dedup.simhashAuditIndex]] with the packed doc_id decoded back
    * to (asset_id, frame_no) coordinates; the band index's taxonomy:
    * `n_payloads` = 1 is a replayed append (bit-identical band rows —
    * harmless to pairs but inflating bucket counts toward the cap),
    * > 1 is payload divergence (a rebuild signal).
    */
  def frameSimhashAuditIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    Dedup.simhashAuditIndex(spark, path)
      .select(expr(s"doc_id div $FrameIdStride").as("asset_id"),
        (col("doc_id") % FrameIdStride).as("frame_no"),
        col("bidx"), col("n_copies"), col("n_payloads"))

  /** Compacting repair of the frame band index —
    * [[Dedup.simhashCompactIndex]] verbatim (the packed doc_id needs
    * no decoding to dedup whole rows): stage-then-swap whole-row
    * dedup of the ~40-byte band rows, refusing payload divergence;
    * payload bytes are never re-read.
    */
  def frameSimhashCompactIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    Dedup.simhashCompactIndex(spark, srcPath, dstPath)

  /** ONLINE repair: [[frameSimhashCompactIndex]] into the next
    * generation under the same root + the atomic
    * [[IndexPaths.compactSwap]] pointer cutover. Returns the new
    * generation dir.
    */
  def frameSimhashCompactSwap(spark: org.apache.spark.sql.SparkSession,
      root: String): String =
    IndexPaths.compactSwap(spark, root)(
      frameSimhashCompactIndex(spark, _, _))

  /** Release MANIFEST of a media corpus — [[Curation.releaseManifest]]'s
    * contract (q184's release family) on assets: per key-shard (md5 of
    * the asset id — uniform regardless of payload-size skew) the asset
    * count, total payload BYTES (media budgets are bytes, not tokens),
    * and an order-free `bit_xor` checksum of
    * hash60(asset_id ++ md5(payload)). Checksums XOR and counts add
    * across DISJOINT corpora ([[assetManifestMerge]]), so a day-2
    * append folds into a standing release manifest at delta cost with
    * zero base reads — and a replica diff localizes divergence to a
    * shard. One narrow pass over payload bytes, S-row output.
    */
  def assetReleaseManifest(assets: DataFrame, idCol: String = "asset_id",
      payloadCol: String = "payload"): DataFrame = {
    val key = col(idCol).cast("string")
    assets.select(
        substring(md5(key), 1, 2).as("shard"),
        length(col(payloadCol)).cast("long").as("nb"),
        // no separator needed (unlike q184's variable-length text
        // fingerprints): md5 is always exactly 32 hex chars, so
        // key ++ fingerprint splits unambiguously
        TextOps.hash60(concat(key, md5(col(payloadCol)))).as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_assets"), sum(col("nb")).as("n_bytes"),
        expr("bit_xor(h)").as("checksum"))
  }

  /** The manifest's (n_assets, checksum) served from a WRITTEN
    * [[assetWriteIndex]] layout's fingerprint rows — payload bytes
    * are NEVER re-read (the stored fingerprint IS md5(payload), so
    * the checksum arithmetic is identical; byte totals need payloads
    * and stay the edge's job): the 100 TB release-verification path —
    * proving what a replica serves matches what was released is a
    * narrow scan of ~40-byte rows plus an S-row aggregate, not a
    * corpus re-read.
    */
  def assetManifestFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"${IndexPaths.resolve(spark, path)}/fingerprints")
      .select(
        substring(md5(col("asset_id").cast("string")), 1, 2).as("shard"),
        TextOps.hash60(concat(col("asset_id").cast("string"),
          col("fingerprint"))).as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_assets"), expr("bit_xor(h)").as("checksum"))

  /** Appends ONE GENERATION of manifest CONTRIBUTION rows for a
    * disjoint asset delta — the per-generation contribution-row
    * pattern (the BM25 df/stats layout invariant) on the release
    * manifest: layout is `$path/manifest` parquet rows of
    * (shard, n_assets, n_bytes, checksum), S rows per generation;
    * counts and byte masses ADD and checksums XOR across generations,
    * so ANY micro-batch split of a delta sums to the fresh
    * whole-corpus manifest and [[assetManifestServe]] is an S×gens-row
    * aggregate — never a corpus pass. Caller owns disjointness
    * (append-exactly-once, as every index append here).
    */
  def manifestAppendGeneration(assets: DataFrame, path: String,
      idCol: String = "asset_id", payloadCol: String = "payload"): Unit =
    assetReleaseManifest(assets, idCol, payloadCol)
      .write.mode("append")
      .parquet(s"${IndexPaths.resolve(assets.sparkSession, path)}/manifest")

  /** Serves the standing release manifest from its generation
    * contribution rows: counts/bytes sum, checksums XOR — the same
    * (shard, n_assets, n_bytes, checksum) rows a fresh
    * [[assetReleaseManifest]] over the full corpus would emit.
    */
  def assetManifestServe(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"${IndexPaths.resolve(spark, path)}/manifest")
      .groupBy(col("shard"))
      .agg(sum(col("n_assets")).as("n_assets"),
        sum(col("n_bytes")).as("n_bytes"),
        expr("bit_xor(checksum)").as("checksum"))

  /** Combine two [[assetReleaseManifest]]s over DISJOINT asset sets —
    * [[Curation.manifestMerge]] verbatim behind the media column
    * names (counts add, byte masses add, checksums XOR).
    */
  def assetManifestMerge(a: DataFrame, b: DataFrame): DataFrame = {
    def std(m: DataFrame) = m.select(col("shard"),
      col("n_assets").as("n_docs"), col("n_bytes").as("n_tokens"),
      col("checksum"))
    Curation.manifestMerge(std(a), std(b))
      .select(col("shard"), col("n_docs").as("n_assets"),
        col("n_tokens").as("n_bytes"), col("checksum"))
  }

  /** Frame-sampling stage: split each payload into fixed-size frames
    * (the batch shape a video/audio pipeline hands to a model), one
    * output row per sampled frame.
    */
  def sampleFrames(df: DataFrame, idCol: String, frameBytes: Int): DataFrame = {
    val schema = new StructType()
      .add("asset_id", LongType).add("frame_no", IntegerType)
      .add("frame_bytes", LongType)
    val idIdx = df.schema.fieldIndex(idCol)
    val payIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](payIdx)
        val n = math.max(1, (bytes.length + frameBytes - 1) / frameBytes)
        (0 until n).iterator.map { i =>
          val len = math.min(frameBytes, bytes.length - i * frameBytes)
          Row(r.getLong(idIdx), i, math.max(len, 0).toLong)
        }
      }
    }(Encoders.row(schema))
  }
}
