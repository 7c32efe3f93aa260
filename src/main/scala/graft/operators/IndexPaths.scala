package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** ATOMIC SERVE-PATH CUTOVER for the written-index families — the
  * missing piece between a compacting repair (`IndexLayout.compact`,
  * which writes a REPAIRED index to a fresh directory) and a STANDING
  * reader: a pointer file `<root>/_current` names the live generation
  * directory under `<root>/_gens/`, is swapped by one atomic rename,
  * and every serve/audit/append entrypoint resolves it first.
  *
  * Layout ("`root`" is the index path callers have always passed):
  * {{{
  *   <root>/...                 flat day-1 layout (no pointer): every
  *                              index starts here, fully backward
  *                              compatible — resolve() returns root
  *   <root>/_current            pointer file, content = generation name
  *   <root>/_gens/gen-000001/   one full index layout per generation
  * }}}
  * `_current` and `_gens` are underscore-prefixed, so flat readers of
  * the root (and of its subdirectories) never see them — the
  * `_SUCCESS` convention, same as the ingest ledger's `_tmp` /
  * `_ingest_commits`.
  *
  * Reader safety (the reference's StreamingFileSink publishes by
  * rename for the same reason — SURVEY §2.2
  * `DS/api/functions/sink/filesystem/StreamingFileSink.java`): a
  * probe that resolved the pointer BEFORE a swap keeps reading the old
  * generation's files, which the swap never touches; a probe that
  * resolves AFTER reads the repaired generation. Old generations stay
  * on disk until [[gc]] — run it once standing readers of the previous
  * generation have drained (an operational TTL at 100 TB scale).
  */
object IndexPaths {

  private def pointer(root: String) = new Path(s"$root/_current")

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The generation name `_current` holds, if a pointer exists. */
  def currentGeneration(spark: SparkSession, root: String): Option[String] =
    readSmall(fsOf(spark, root), pointer(root)).map(_.trim).filter(_.nonEmpty)

  /** The directory to serve/append from: `<root>/_gens/<gen>` when a
    * pointer names a live generation, else `root` itself (the flat
    * day-1 layout every index is born with). Every index-reading and
    * index-appending entrypoint calls this first, so a
    * [[compactSwap]] cutover is transparent to callers.
    */
  def resolve(spark: SparkSession, root: String): String =
    currentGeneration(spark, root) match {
      case Some(gen) => s"$root/_gens/$gen"
      case None => root
    }

  /** Next unused generation name under `<root>/_gens/` —
    * `gen-000001`, `gen-000002`, ... (max existing + 1, so an
    * abandoned compact attempt's directory is skipped, never reused).
    */
  def nextGeneration(spark: SparkSession, root: String): String = {
    val fs = fsOf(spark, root)
    val gens = new Path(s"$root/_gens")
    val existing =
      if (!fs.exists(gens)) Array.empty[Int]
      else fs.listStatus(gens).map(_.getPath.getName)
        .collect { case n if n.startsWith("gen-") =>
          n.stripPrefix("gen-").toIntOption.getOrElse(0)
        }
    f"gen-${existing.foldLeft(0)(math.max) + 1}%06d"
  }

  /** Atomically repoints `<root>/_current` at `gen` (which must exist
    * under `<root>/_gens/`): write-to-sibling-temp + FileContext
    * rename with OVERWRITE — atomic on HDFS and local fs, so a
    * standing reader observes either the old pointer or the new one,
    * never a torn read. The one shared cutover all repair members use.
    */
  def swap(spark: SparkSession, root: String, gen: String): Unit = {
    val fs = fsOf(spark, root)
    val genDir = new Path(s"$root/_gens/$gen")
    require(fs.exists(genDir),
      s"IndexPaths.swap: generation directory $genDir does not exist — " +
        "write the compacted index there first")
    atomicWrite(fs, spark.sparkContext.hadoopConfiguration, pointer(root),
      gen)
  }

  /** Atomically replaces the file at `p` with one holding `content` —
    * write-to-sibling-temp + FileContext rename with OVERWRITE (atomic
    * on HDFS and local fs), so a reader observes the old content or the
    * new, never a torn read. The pointer swap and the ingest ledger's
    * claim supersede both use it.
    */
  private[graft] def atomicWrite(fs: FileSystem, conf: Configuration,
      p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.replace-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(fs.getUri, conf).rename(
      fs.makeQualified(tmp), fs.makeQualified(p), Options.Rename.OVERWRITE)
  }

  /** The compact-and-cutover composition ([[IndexLayout.compactSwap]]):
    * compacts the CURRENT live layout (pointer-resolved) into the next
    * generation directory and atomically swaps the pointer to it.
    * Returns the new generation's directory (callers rarely need it —
    * serving through `root` now resolves there). The source generation
    * is left intact for in-flight readers; reclaim it with [[gc]].
    */
  def compactSwap(spark: SparkSession, root: String)(
      compact: (String, String) => Unit): String = {
    val src = resolve(spark, root)
    val gen = nextGeneration(spark, root)
    val dst = s"$root/_gens/$gen"
    compact(src, dst)
    swap(spark, root, gen)
    dst
  }

  /** Deletes every generation directory under `<root>/_gens/` except
    * the one `_current` names — the operational reclaim step, run once
    * standing readers of older generations have drained AND no compact
    * (manual or an armed [[maybeCompact]] hook on a still-streaming
    * member) is in flight: quiesce covers writers too. The flat
    * day-1 files at the root are NEVER touched (they are not a
    * generation; a root that has swapped at least once simply carries
    * them as dead weight until the index is rebuilt). Returns the
    * deleted generation names.
    *
    * A compactSwap racing this call could land a NEW generation between
    * the pointer read and the deletes; deleting it would leave
    * `_current` pointing at nothing. Guard: re-read the pointer after
    * listing and keep every generation at or above the newest of the
    * two reads — newer-than-kept generations are an in-flight compact's
    * work, never garbage.
    */
  def gc(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val before = currentGeneration(spark, root)
    val gens = new Path(s"$root/_gens")
    if (!fs.exists(gens)) Seq.empty
    else {
      val listed = fs.listStatus(gens).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("gen-"))
      // re-read AFTER listing (the guard above): keep BOTH pointer
      // values (a reader that resolved the pre-swap pointer may still
      // read it) plus anything newer (gen-%06d sorts numerically)
      val after = currentGeneration(spark, root)
      val keep = before.toSet ++ after.toSet
      val newest = keep.toSeq.sorted.lastOption
      listed
        .filter(p => newest.forall(k => p.getName < k) &&
          !keep.contains(p.getName))
        .map { p => fs.delete(p, true); p.getName }
    }
  }

  /** AUTO-COMPACTION policy — the op that ACTS on the
    * read-amplification number q205/q206 only measured: when the live
    * layout's data-file count (one FS metadata walk,
    * [[IndexStats.dataFileCount]] over the pointer-resolved root)
    * exceeds `maxDataFiles`, runs the caller's compact-swap thunk and
    * returns the new generation dir; below the threshold it is one
    * cheap listing and a None. Wired into the ledgered ingest members
    * as an opt-in POST-COMMIT hook (sequential with deliveries, so the
    * swap never interleaves with an in-flight publish — the quiesce
    * rule out-of-band compacts must follow by hand).
    *
    * Threshold semantics at 100 TB: every micro-batch generation adds
    * ~one file per touched shard, so serve-time open cost grows
    * linearly in batches between compactions; `maxDataFiles` bounds it
    * to a constant factor over the compacted floor (shard count), and
    * compaction cost stays one read + one write of the index's narrow
    * rows — payloads are never touched by any compact member.
    */
  def maybeCompact(spark: SparkSession, root: String, maxDataFiles: Long)(
      compactSwap: => String): Option[String] =
    if (IndexStats.dataFileCount(spark, resolve(spark, root)) > maxDataFiles)
      Some(compactSwap)
    else None

  /** Removes a stale pointer before a FRESH overwrite build: a rebuild
    * writes the flat day-1 layout at the root, so a pointer left by a
    * previous life would redirect readers to a generation that no
    * longer matches. Rebuild-in-place is NOT concurrent-reader-safe
    * (the reader-safe path is [[compactSwap]]); every fresh build
    * ([[IndexLayout.write]]) calls this so a rebuilt index serves what
    * was just written.
    */
  def clearPointer(spark: SparkSession, root: String): Unit = {
    val fs = fsOf(spark, root)
    val p = pointer(root)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** The whole content of a small control file, if it exists. */
  private[graft] def readSmall(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
}
