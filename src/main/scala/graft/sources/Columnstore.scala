package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Columnstore conversion — the Spark-native equivalent of
  * `compress_chunk` / `convert_to_columnstore`
  * (reference `tsl/src/compression/api.c:889-907`, layout rules
  * `tsl/src/compression/create.c:589-650`).
  *
  * The reference rewrites a row chunk into compressed batches with
  * `segmentby` plain columns, `orderby`-sorted rows, and per-batch min/max +
  * bloom sparse indexes. Parquet already IS that format: dictionary/RLE/
  * delta pages, per-row-group min/max statistics, optional bloom filters,
  * ZSTD. Compression here is a chunk-partition rewrite:
  *   - `repartition(segmentBy)` → rows of one segment co-located per file
  *     (the "all rows in a batch share the segment key" property)
  *   - `sortWithinPartitions(segmentBy ++ orderBy)` → row-group min/max on
  *     the orderby columns become tight, enabling row-group skipping (the
  *     `_ts_meta_v2` sparse minmax equivalent)
  *   - ZSTD + bloom filters on requested columns (bloom1 equivalent)
  *
  * At 100 TB this is the compaction job: it runs per chunk (parallelizable
  * across chunks), and never materializes data on the driver.
  */
object Columnstore {

  case class Options(
      segmentBy: Seq[String] = Nil,
      orderBy: Seq[String] = Nil,
      bloomFilterCols: Seq[String] = Nil,
      /** parquet row-group target — the reference's batch-size analogue. */
      rowGroupBytes: Long = 64L * 1024 * 1024)

  private val MARKER = "_graft_compressed"

  /** A suggested compression configuration with the reference's
    * confidence scale (0..10) and advisory message
    * (`sql/compression_defaults.sql:6-9`).
    */
  case class Suggestion(options: Options, confidence: Int,
      message: Option[String] = None)

  /** `get_segmentby_defaults` + `get_orderby_defaults`
    * (`sql/compression_defaults.sql:10,286`): suggest segmentby/orderby for
    * [[compress]]. The reference scores candidate columns by how EVENLY
    * tuples spread across their distinct values (stddev of the most-common-
    * value frequencies from pg_stats, lowest wins) and falls back through
    * index definitions; orderby is the remaining key columns plus the time
    * dimension.
    *
    * Spark has no indexes or ANALYZE stats, so the stats come from a sample
    * of the LARGEST chunk — the newest is often still filling, and a partial
    * chunk under-represents segment sizes; picking by bytes is one directory
    * listing per chunk, metadata-only, and one chunk bounds the scan cost at
    * any table size. Per non-dimension, non-temporal, non-floating column:
    * distinct count and top-value frequency stddev in a handful of small
    * jobs over one cached sample.
    *
    * Selection mirrors the reference's STEP 3 (stats, no indexes):
    * candidates need 1 < distinct values, each segment must average at
    * least `minSegmentRows` rows (the reference's warning threshold for
    * over-segmenting), and the evenest column wins (confidence 7). With no
    * viable candidate the suggestion is orderby-only (confidence 5, with a
    * message, like the reference's low-confidence fallbacks). Orderby is
    * always `timeCol` — matching `get_orderby_defaults`' "a dimension column
    * like time should probably always be part of the order by".
    */
  def suggestOptions(ht: Hypertable, sampleRows: Int = 100000,
      minSegmentRows: Int = 100): Suggestion = {
    import org.apache.spark.sql.types.{DateType, DoubleType, FloatType, TimestampType}
    val dims = (ht.timeCol +: ht.spaceDims.map(_._1)).toSet
    val chunks = ht.showChunks()
    if (chunks.isEmpty)
      return Suggestion(Options(orderBy = Seq(ht.timeCol)), 0,
        Some("hypertable has no chunks yet; using orderby-only defaults"))
    val fsys = new Path(ht.path)
      .getFileSystem(ht.spark.sparkContext.hadoopConfiguration)
    // getContentSummary recurses through _space=N subdirectories
    val biggest = chunks.maxBy(c =>
      fsys.getContentSummary(new Path(c.path)).getLength)
    val sample = ht.spark.read.parquet(biggest.path)
      .limit(sampleRows).cache()
    try {
      val n = sample.count()
      val candidates = sample.schema.fields
        .filterNot(f => dims.contains(f.name) || f.name.startsWith("_"))
        .filterNot(f => Seq(DateType, TimestampType).contains(f.dataType)) // typcategory 'D'
        .filterNot(f => Seq(DoubleType, FloatType).contains(f.dataType)) // measures, not keys
        .map(_.name).toSeq
      if (candidates.isEmpty || n == 0)
        return Suggestion(Options(orderBy = Seq(ht.timeCol)), 5,
          Some("no segmentby candidate columns; verify with domain knowledge"))
      // one pass for all distinct counts
      val dc = sample.agg(
        approx_count_distinct(candidates.head).as(candidates.head),
        candidates.tail.map(c => approx_count_distinct(c).as(c)): _*)
        .head().getValuesMap[Long](candidates)
      val viable = candidates.filter(c => dc(c) > 1 && n / dc(c) >= minSegmentRows)
      if (viable.isEmpty)
        return Suggestion(Options(orderBy = Seq(ht.timeCol)), 5,
          Some("no column segments evenly with enough rows per segment; " +
            "consider compressing without segmentby"))
      // evenness: stddev of the top-10 value frequencies (pg_stats
      // most_common_freqs analogue), lowest wins; ties → fewer segments
      val scored = viable.map { c =>
        val freqs = sample.groupBy(c).count()
          .orderBy(desc("count")).limit(10)
          .select((col("count") / n.toDouble).as("f"))
          .agg(coalesce(stddev_pop(col("f")), lit(0.0))).head().getDouble(0)
        (c, freqs, dc(c))
      }
      val (best, _, _) = scored.minBy { case (_, sd, d) => (sd, d) }
      Suggestion(Options(segmentBy = Seq(best), orderBy = Seq(ht.timeCol)), 7)
    } finally sample.unpersist()
  }

  def isCompressed(spark: SparkSession, chunkPath: String): Boolean = {
    val p = new Path(chunkPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(new Path(p, MARKER))
  }

  /** Stamp a chunk dir as columnstore (for rewrite paths that re-encode a
    * compressed chunk's rows and must keep its state). The empty marker
    * means "compressed, settings unrecorded" — views fall back to the
    * table's stored settings.
    */
  private[sources] def markCompressed(fs: org.apache.hadoop.fs.FileSystem,
      chunkDir: Path): Unit =
    Hypertable.touchFile(fs, new Path(chunkDir, MARKER))

  /** The settings a chunk was compressed with, read back from its marker
    * content; None when the chunk is uncompressed OR the marker predates
    * settings recording (rewrite paths stamp empty markers).
    */
  def chunkRecordedSettings(spark: SparkSession,
      chunkPath: String): Option[Options] = {
    val p = new Path(chunkPath, MARKER)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.getFileStatus(p).getLen == 0) return None
    val lines = Hypertable.readSmallFile(fs, p).split('\n')
      .flatMap { l =>
        val i = l.indexOf('=')
        if (i > 0) Some(l.substring(0, i) -> l.substring(i + 1).trim) else None
      }.toMap
    def cols(k: String) = lines.getOrElse(k, "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    Some(Options(segmentBy = cols("segmentby"), orderBy = cols("orderby"),
      rowGroupBytes = lines.get("rowgroupbytes").map(_.toLong)
        .getOrElse(Options().rowGroupBytes)))
  }

  /** One recursive walk of a chunk: its LEAF data directories (the
    * `_space=` partition dirs, or the chunk root when unpartitioned — the
    * unit compaction targets) each with their data files. `_graft_*`
    * catalog markers and hidden/committer files excluded. Metadata-only,
    * and the single listing every status/compaction check shares.
    */
  private[sources] def leafFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[(Path, Seq[org.apache.hadoop.fs.FileStatus])] = {
    val entries = fs.listStatus(dir).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.contains("=")) // keep _space=N dirs, drop markers
      .filterNot(_.getPath.getName.startsWith("."))
    val (dirs, files) = entries.partition(_.isDirectory)
    val below = dirs.flatMap(d => leafFiles(fs, d.getPath))
    if (files.nonEmpty || below.isEmpty) (dir -> files) +: below else below
  }

  /** A chunk's data files across all leaves. */
  private[sources] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    leafFiles(fs, dir).flatMap(_._2)

  /** Per-leaf swap COMMIT (segmentwise recompress): consumed input names
    * + adopted fresh names. Dot-prefixed — invisible to [[leafFiles]] and
    * Spark's file index. Round 11 made this marker the swap's single
    * commit point (the direct-publish stage+stamp pattern, per leaf): the
    * fresh files are fully STAGED IN the leaf under `.graft_stage_` names
    * before the marker is written, so the commit is ONE atomic small-file
    * appearance — in contract on raw object stores, where the only
    * atomic primitive is a single-object PUT — and everything after it
    * (un-dot the staged files, delete the inputs) is idempotent
    * roll-FORWARD out of same-dir per-object renames. Crash before the
    * marker → stage debris the next maintenance heal deletes (pre-state
    * intact); crash after → heal finishes the adoption and the deletes.
    */
  private[sources] val SWAP_MARKER = ".graft_swap"
  private[sources] val STAGE_PREFIX = ".graft_stage_"

  /** Heal a torn per-leaf recompress swap. Marker present (the swap
    * COMMITTED): roll forward — un-dot any still-staged fresh file
    * (legacy `.recompress_tmp` copies tolerated too), then delete the
    * consumed inputs and the marker. Marker absent: any `.graft_stage_`
    * files and `.recompress_tmp` dir are pre-commit debris of a crashed
    * stage — deleted (the inputs were never touched). The defensive arm
    * — marker present but some fresh file exists NOWHERE (impossible by
    * construction: the marker is written only after every fresh file is
    * staged) — rolls the adopted ones back; the inputs are intact
    * because deletes only ever run after a full adoption. Idempotent;
    * called by every whole-chunk maintenance entry before it lists data
    * files, so a torn leaf can never feed duplicates into a
    * compress/compact/recompress rewrite.
    */
  private[sources] def healSwapsUnder(fs: org.apache.hadoop.fs.FileSystem,
      chunkP: Path): Unit = {
    def walk(d: Path): Unit = {
      val entries =
        try fs.listStatus(d).toSeq
        catch { case _: java.io.FileNotFoundException => return }
      entries.filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .foreach(s => walk(s.getPath))
      val tmp = new Path(d, ".recompress_tmp")
      entries.find(s => s.isFile && s.getPath.getName == SWAP_MARKER) match {
        case Some(mk) =>
          val lines =
            try Hypertable.readSmallFile(fs, mk.getPath)
              .linesIterator.toSeq
            catch { case _: java.io.IOException => Nil }
          val ins = lines.filter(_.startsWith("in:")).map(_.stripPrefix("in:"))
          val outs = lines.filter(_.startsWith("out:")).map(_.stripPrefix("out:"))
          val present = entries.filter(_.isFile)
            .map(_.getPath.getName).toSet
          def stagedOf(n: String): Option[Path] = {
            val s = new Path(d, STAGE_PREFIX + n)
            val t = new Path(tmp, n)
            if (present.contains(STAGE_PREFIX + n) || fs.exists(s)) Some(s)
            else if (fs.exists(t)) Some(t)
            else None
          }
          val recoverable = outs.forall(n =>
            present.contains(n) || stagedOf(n).isDefined)
          if (outs.nonEmpty && recoverable) {
            outs.filterNot(present.contains).foreach(n =>
              stagedOf(n).foreach(fs.rename(_, new Path(d, n))))
            ins.foreach(n => fs.delete(new Path(d, n), false))
          } else
            outs.filter(present.contains).foreach(n =>
              fs.delete(new Path(d, n), false))
          fs.delete(mk.getPath, false)
          entries.filter(s => s.isFile &&
              s.getPath.getName.startsWith(STAGE_PREFIX))
            .foreach(s => fs.delete(s.getPath, false))
          fs.delete(tmp, true)
        case None =>
          // pre-commit debris: a stage that never reached its marker
          entries.filter(s => s.isFile &&
              s.getPath.getName.startsWith(STAGE_PREFIX))
            .foreach(s => fs.delete(s.getPath, false))
          if (fs.exists(tmp)) fs.delete(tmp, true)
      }
    }
    walk(chunkP)
  }

  /** CHUNK_STATUS_COMPRESSED_PARTIAL analogue (reference `src/chunk.c:3563`
    * `ts_chunk_set_partial`): plain appends landed AFTER compression, so the
    * chunk holds uncompressed rows alongside the columnstore files. Detected
    * from mtimes: any data file newer than the compression marker.
    */
  def isPartial(spark: SparkSession, chunkPath: String): Boolean =
    (statusBits(spark, chunkPath) & 4) != 0

  /** CHUNK_STATUS_COMPRESSED_UNORDERED analogue (`src/chunk.c:3554`): the
    * chunk is FRAGMENTED — repeated small appends left some leaf directory
    * with well more data files than its byte size warrants, so scans pay
    * per-file open/footer cost (the Spark small-files problem; the
    * reference's version is many small compressed batches from
    * direct-compress ingest). Fragmented means over 2x the size-targeted
    * file count in any leaf. Metadata-only.
    */
  def isFragmented(spark: SparkSession, chunkPath: String,
      targetFileBytes: Long = DEFAULT_FILE_BYTES): Boolean =
    (statusBits(spark, chunkPath, targetFileBytes) & 2) != 0

  /** COMPRESSED | UNORDERED | PARTIAL bits from ONE walk of the chunk
    * (frozen is the caller's bit — it lives in [[Hypertable]]'s catalog).
    */
  private[graft] def statusBits(spark: SparkSession, chunkPath: String,
      targetFileBytes: Long = DEFAULT_FILE_BYTES): Int = {
    val p = new Path(chunkPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = leafFiles(fs, p)
    val m = new Path(p, MARKER)
    var bits = 0
    if (fs.exists(m)) {
      bits |= 1
      val markedAt = fs.getFileStatus(m).getModificationTime
      if (leaves.exists(_._2.exists(_.getModificationTime > markedAt))) bits |= 4
    }
    if (leaves.exists { case (_, fls) =>
        fls.size > 2 * sizeTargetFiles(fls.map(_.getLen).sum, targetFileBytes) })
      bits |= 2
    bits
  }

  /** ceil(bytes / targetFileBytes), min 1 — the size-targeted file count. */
  private def sizeTargetFiles(bytes: Long, targetFileBytes: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetFileBytes.toDouble).toInt)

  /** Serialize a chunk rewrite: the storage root's READ lock (so a
    * table-level sweep — DELETE, merge, drop — of the same root excludes
    * it, [[Hypertable.tableMutationLock]]) plus a per-chunk monitor (so
    * two rewrites of ONE chunk serialize instead of the last tmp-swap
    * silently winning). Rewrites of DIFFERENT chunks stay parallel — the
    * policies' `Par.foreach` fan-out and the reference's
    * `parallel_compression.spec` behavior. Reentrant under a table-level
    * mutator holding the same root (read-under-write), and under
    * recompress → compress (same chunk monitor, same thread).
    */
  private def withChunkMutation[T](spark: SparkSession, chunkPath: String)(
      body: => T): T = {
    val cp = new Path(chunkPath)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the monitor keys on the chunk IDENTITY dir, so two rewrites of one
    // chunk serialize even when they hold paths of different generations;
    // a chunk moved into a tablespace lives under the tablespace's
    // per-table dir, but table-level sweeps lock the PRIMARY root — the
    // dir's pointer-home marker resolves the shared key (one small read,
    // cheap next to the rewrite this guards)
    val chunkDir = Hypertable.chunkDirOf(cp)
    val rootKey = Hypertable.resolvePrimaryRoot(fs, chunkDir)
    // chunk rewrites are mutations too: claim the table's cross-process
    // mutator lease (map hit after the first claim per table). The lease
    // lives at the PRIMARY root, which for a cross-FS tablespace chunk
    // (moveChunk's FileUtil.copy branch) is a different filesystem than
    // the chunk's — resolve the root's own FS or Hadoop's checkPath
    // throws "Wrong FS" on the first claim
    val rootP = new Path(rootKey)
    val rootFs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Hypertable.acquireMutatorLease(spark, rootFs, rootKey)
    val rl = Hypertable.tableMutationLock(rootKey).readLock()
    rl.lock()
    try Hypertable.chunkMonitor(fs.makeQualified(chunkDir).toString).synchronized {
      // cross-process seal on the chunk (lease split): a concurrent
      // APPEND process routing rows into this chunk either drains before
      // the rewrite reads its input or yields until the publish lands —
      // the reference's per-chunk lock in tsl/src/compression/api.c
      val start = scala.util.Try(
        chunkDir.getName.stripPrefix(s"${Hypertable.CHUNK}=").toLong).toOption
      MutationGate.withSeals(spark, rootFs, rootKey, Seq(start))(body)
    } finally rl.unlock()
  }

  /** Staging dir for a whole-chunk rewrite of `chunkP`, registered in
    * flight so a concurrent catalog sync's GC cannot reap it while the
    * rewrite runs (the dir's mtime is the Spark job's START, not its
    * progress): the chunk's next generation for gen paths (see
    * [[Hypertable.publishChunkRewrite]]), a dot-prefixed dir next to the
    * chunk for flat ones (whose in-place swap deletes the dir itself).
    */
  private def rewriteTmp(fs: org.apache.hadoop.fs.FileSystem, chunkP: Path,
      tag: String): Path =
    if (GenStore.chunks.isGenPath(chunkP))
      GenStore.chunks.stageGenDir(fs, chunkP.getParent)
    else GenStore.registerRewriteTmp(fs,
      new Path(chunkP.getParent, "." + chunkP.getName + s"_${tag}_tmp"))

  private[sources] val DEFAULT_FILE_BYTES = 128L << 20

  /** compact_chunk (`sql/maintenance_utils.sql:92-95`, `ts_compact_chunk`):
    * merge a fragmented chunk's many small files into size-targeted ones
    * WITHOUT re-sorting — the reference merges compressed batches in
    * arrival order; here a narrow `coalesce` concatenates files with no
    * shuffle, so at 100 TB the cost is one streaming rewrite of the
    * oversized leaves only. Each `_space=` leaf compacts independently
    * (the partition layout is the dir tree — per-leaf targets are the only
    * ones a partitioned write could actually hit), and leaves already at
    * their target are left untouched. Compressed chunks keep zstd +
    * `rowGroupBytes` row groups + their marker; raw chunks get a plain
    * rewrite. `maxFiles` (the reference's `max_batches`) caps each leaf's
    * count below the size-derived target when > 0.
    *
    * Refuses frozen chunks (`src/chunk.c:3580` — maintenance does not run
    * on frozen) and partial chunks (uncompressed appends mixed in; the
    * columnstore policy recompresses those, `sql/policy_internal.sql:66`).
    * Returns the new data-file count, or -1 when already compact (no-op).
    */
  def compactChunk(spark: SparkSession, chunkPath: String,
      targetFileBytes: Long = DEFAULT_FILE_BYTES, maxFiles: Int = 0,
      rowGroupBytes: Long = 64L * 1024 * 1024): Int =
    withChunkMutation(spark, chunkPath) {
    val fs = new Path(chunkPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // re-resolve to the chunk's CURRENT live generation: the caller's
    // showChunks snapshot may predate a concurrent publish (see
    // GenStore.chunks.liveChunkTarget) — rewriting a superseded generation
    // would republish stale data
    val chunkP = GenStore.chunks.liveChunkTarget(fs, new Path(chunkPath))
    healSwapsUnder(fs, chunkP) // a torn leaf swap must not feed this rewrite
    require(!Hypertable.chunkFrozen(fs, chunkP),
      s"cannot compact frozen chunk $chunkPath — unfreeze_chunk first")
    val compressed = isCompressed(spark, chunkP.toString)
    val leaves = leafFiles(fs, chunkP)
    if (compressed) {
      val markedAt = fs.getFileStatus(new Path(chunkP, MARKER)).getModificationTime
      require(!leaves.exists(_._2.exists(_.getModificationTime > markedAt)),
        s"chunk $chunkPath has uncompressed appends after compression; " +
          "recompress (compress_chunk) instead of compacting")
    }
    val todo = leaves.flatMap { case (leaf, fls) =>
      var n = sizeTargetFiles(fls.map(_.getLen).sum, targetFileBytes)
      if (maxFiles > 0) n = math.min(n, maxFiles)
      if (fls.size > n) Some(leaf -> n) else None
    }
    if (todo.isEmpty) return -1
    if (GenStore.chunks.isGenPath(chunkP)) {
      // generation-copy compact: stage a COMPLETE next generation —
      // oversized leaves rewritten compact, everything else (untouched
      // leaves' files, sidecars) byte-copied across — then publish by
      // stamp. Pinned readers keep the old generation; the copy of
      // the untouched files is the price of the snapshot (compact targets
      // fragmented chunks, where the rewrite dominates anyway).
      val tmp = rewriteTmp(fs, chunkP, "compact")
      fs.delete(tmp, true)
      fs.mkdirs(tmp)
      // leaf paths come from fs listings (scheme-qualified); the caller's
      // chunkPath may be bare (e.g. SQL compact_chunk('/path')). Qualify
      // BOTH sides before the prefix strip — a no-op strip would resolve
      // the staging target back to the live leaf and clobber it in place.
      val qChunk = fs.makeQualified(chunkP).toString
      val todoDirs = todo.map(t => fs.makeQualified(t._1).toString).toSet
      todo.foreach { case (leaf, n) =>
        val qLeaf = fs.makeQualified(leaf).toString
        require(qLeaf == qChunk || qLeaf.startsWith(qChunk + "/"),
          s"leaf $qLeaf is not under chunk $qChunk")
        val rel = qLeaf.stripPrefix(qChunk).stripPrefix("/")
        val out = if (rel.isEmpty) tmp else new Path(tmp, rel)
        var w = spark.read.option("mergeSchema", "true")
          .parquet(leaf.toString).coalesce(n).write.mode("overwrite")
        if (compressed) w = w.option("compression", "zstd")
          .option("parquet.block.size", rowGroupBytes.toString)
        w.parquet(out.toString)
      }
      def copyRest(dir: Path, dst: Path): Unit =
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith(".") || name == "_SUCCESS") ()
          else if (st.isDirectory) {
            val sub = new Path(dst, name)
            fs.mkdirs(sub)
            copyRest(st.getPath, sub)
          } else if (!(todoDirs(fs.makeQualified(dir).toString) &&
              !name.startsWith("_")) && name != MARKER) {
            org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
              new Path(dst, name), false, spark.sparkContext.hadoopConfiguration)
          }
        }
      copyRest(chunkP, tmp)
      // fresh-mtime marker with the PRESERVED settings content, so the
      // compacted generation reads as clean columnstore, not PARTIAL
      if (compressed) {
        val settings = Hypertable.readSmallFile(fs, new Path(chunkP, MARKER))
        Hypertable.writeSmallFileDirect(fs, new Path(tmp, MARKER), settings)
      }
      return Hypertable.publishChunkRewrite(spark, fs, chunkP, tmp) match {
        case None => 0 // chunk dropped mid-compact; the drop won
        case Some(live) =>
          Hypertable.refreshColStatsIfEnabled(spark, live.toString)
          Hypertable.syncCatalogForChunk(spark, fs, live)
          dataFiles(fs, live).size
      }
    }
    todo.foreach { case (leaf, n) =>
      // leaf files carry no partition columns (those are encoded in the
      // dir names above), so the rewrite is a plain read → coalesce →
      // tmp-dir swap inside the leaf's parent
      val tmp = new Path(leaf.getParent, "." + leaf.getName + "_compact_tmp")
      var w = spark.read.option("mergeSchema", "true").parquet(leaf.toString).coalesce(n)
        .write.mode("overwrite")
      if (compressed) w = w.option("compression", "zstd")
        .option("parquet.block.size", rowGroupBytes.toString)
      w.parquet(tmp.toString)
      // the chunk-root catalog files (_graft_range/_graft_spaceparts/
      // marker) live OUTSIDE the leaf, so only when the leaf IS the root
      // must they be carried across the swap
      if (leaf == chunkP) {
        val range = Hypertable.readRangeFile(fs, chunkP)
        val parts = Hypertable.readSpaceParts(fs, chunkP)
        fs.delete(chunkP, true)
        fs.rename(tmp, chunkP)
        range.foreach(end => Hypertable.writeRangeFile(fs, chunkP, end))
        parts.foreach(p => Hypertable.writeSpaceParts(fs, chunkP, p))
      } else {
        fs.delete(leaf, true)
        fs.rename(tmp, leaf)
      }
    }
    // the rewrite stamped fresh mtimes; re-touch the marker so the chunk
    // does not read as PARTIAL (the compacted files ARE the columnstore)
    if (compressed) Hypertable.touchFile(fs, new Path(chunkP, MARKER))
    // chunk CONTENT changed with the chunk SET intact: bump the owning
    // root's content stamp so read()'s table-mode scan memo rebuilds
    Hypertable.touchContentStamp(fs, Hypertable.storageRootOf(chunkP))
    Hypertable.refreshColStatsIfEnabled(spark, chunkP.toString)
    dataFiles(fs, chunkP).size
  }

  /** Rewrite one chunk directory into columnstore layout. Returns row count.
    * Safe to re-run (idempotent); concurrent readers of the same chunk see
    * either the old or the new files, not a mix (a generation chunk stages
    * its next generation and commits by stamp; a flat chunk stages in a
    * dot-prefixed dir, invisible to Spark's file index, then swaps).
    * The chunk's `_graft_range` catalog file (non-default range written by
    * merge/split) survives the rewrite.
    */
  def compressChunk(spark: SparkSession, chunkPath: String, opts: Options): Long =
    withChunkMutation(spark, chunkPath) {
      val (fs, chunkP, tmp, n) = compressEncodeTmp(spark, chunkPath, opts)
      publishEncoded(spark, fs, chunkP, tmp, n)
    }

  /** Encode a chunk's current content into a columnstore-layout stage —
    * sidecars and the settings marker included — WITHOUT publishing: the
    * caller owns the commit. [[compressChunk]] stages the chunk's next
    * generation (gen layout) or a dot-prefixed tmp dir (flat) and
    * publishes via the chunk rewrite path; the cagg materialization
    * passes the `stage` it registered through its own generation store
    * and commits it by its catalog write, so cross-process readers
    * planned against the old content are never yanked mid-read.
    * Returns (fs, resolved source dir, stage dir, row count).
    */
  private[graft] def compressEncodeTmp(spark: SparkSession, chunkPath: String,
      opts: Options, stage: Option[Path] = None)
      : (org.apache.hadoop.fs.FileSystem, Path, Path, Long) = {
    val fs = new Path(chunkPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // re-resolve to the chunk's CURRENT live generation: the caller's
    // showChunks snapshot may predate a concurrent publish (see
    // GenStore.chunks.liveChunkTarget) — rewriting a superseded generation
    // would republish stale data
    val chunkP = GenStore.chunks.liveChunkTarget(fs, new Path(chunkPath))
    healSwapsUnder(fs, chunkP) // a torn leaf swap must not feed this rewrite
    require(!Hypertable.chunkFrozen(fs, chunkP),
      s"cannot modify frozen chunk $chunkPath — unfreeze_chunk first")
    // mergeSchema: a post-ALTER append can leave files of differing
    // widths in one chunk — a single-footer read would silently drop the
    // newer columns from the REWRITE
    val df = spark.read.option("mergeSchema", "true").parquet(chunkP.toString)
    val spacePart = df.schema.fieldNames.filter(_.matches("_space\\d*")).toSeq
      .sortBy(n => n.stripPrefix("_space") match { case "" => 0; case d => d.toInt })
    // without a segmentby, size the file count from the input bytes (a 2 TB
    // chunk must not funnel through one task); zstd+parquet recompression
    // typically shrinks the input, so target ~2 row groups per output file.
    // coalesce() cannot RAISE the task count (a 1-file chunk stays 1 task),
    // so widening goes through repartitionByRange on the orderby — which
    // also makes the chunk globally sorted, tightening row-group bounds.
    val arranged = (opts.segmentBy match {
      case Nil =>
        val bytes = fs.getContentSummary(chunkP).getLength
        val n = math.max(1, math.ceil(bytes.toDouble / (2.0 * opts.rowGroupBytes)).toInt)
        if (n <= df.rdd.getNumPartitions) df.coalesce(n)
        else if (opts.orderBy.nonEmpty) df.repartitionByRange(n, opts.orderBy.map(col): _*)
        else df.repartition(n)
      case segs =>
        // RANGE-partition the segments (not hash): same one-segment-one-
        // partition batch property, but each output file additionally gets
        // a NON-OVERLAPPING footer range on the segment key — so segment-
        // key scans skip files by metadata, and segmentwise recompression
        // rewrites only the files whose range a late batch actually touches
        // (hash layout makes every file's range span the whole domain,
        // defeating both)
        df.repartitionByRange(segs.map(col): _*)
    }).sortWithinPartitions((opts.segmentBy ++ opts.orderBy).map(col): _*)
    val tmp = stage.getOrElse(rewriteTmp(fs, chunkP, "compress"))
    var w = arranged.write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.block.size", opts.rowGroupBytes.toString)
    opts.bloomFilterCols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    if (spacePart.nonEmpty) w = w.partitionBy(spacePart: _*)
    w.parquet(tmp.toString)
    // row count from the freshly written footers — no data re-read
    val n = graft.operators.Stats.rowCount(spark, tmp.toString)
    // sidecars land in the TMP dir before the publish: the single publish
    // step is the whole visibility step (a crash can no longer strand a
    // chunk without its range/layout/marker records)
    Hypertable.readRangeFile(fs, chunkP)
      .foreach(end => Hypertable.writeRangeFile(fs, tmp, end))
    // the space-layout stamp must survive like the range file: rows keep
    // their `_space` values, so the count that produced them still holds —
    // losing it would make pruning assume the CURRENT dimension count
    Hypertable.readSpaceParts(fs, chunkP)
      .foreach(p => Hypertable.writeSpaceParts(fs, tmp, p))
    // the marker carries the settings this chunk was compressed WITH (the
    // reference's per-relation compression_settings rows) — existence
    // checks are unchanged, the content feeds chunk_columnstore_settings
    Hypertable.writeSmallFileDirect(fs, new Path(tmp, MARKER),
      s"segmentby=${opts.segmentBy.mkString(",")}\n" +
        s"orderby=${opts.orderBy.mkString(",")}\n" +
        s"rowgroupbytes=${opts.rowGroupBytes}")
    (fs, chunkP, tmp, n)
  }

  /** Publish an [[compressEncodeTmp]]/[[decompressEncodeTmp]] result via
    * the hypertable chunk-rewrite path (generation publish on gen
    * layouts, in-place swap on flat dirs) + the catalog/stamp bookkeeping.
    */
  private def publishEncoded(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, chunkP: Path, tmp: Path,
      n: Long): Long =
    Hypertable.publishChunkRewrite(spark, fs, chunkP, tmp) match {
      case None => 0L // chunk dropped mid-compress; the drop won — no
        // stamp bump or manifest sync (nothing was published)
      case Some(live) =>
        // the reference computes chunk-skipping column ranges at compress
        // time (chunk_column_stats.c) — same here, from the fresh footers
        Hypertable.refreshColStatsIfEnabled(spark, live.toString)
        // flat layout (live == chunkP): chunk CONTENT changed with the
        // chunk SET intact — bump the owning root's content stamp so
        // read()'s table-mode scan memo rebuilds. Gen layout: the publish
        // bumped it, and the data PATH changed — re-snapshot the manifest.
        if (live == chunkP)
          Hypertable.touchContentStamp(fs, Hypertable.storageRootOf(chunkP))
        else Hypertable.syncCatalogForChunk(spark, fs, live)
        n
    }

  /** Invert [[compressChunk]]: rewrite the chunk as plain (snappy) parquet
    * and drop the columnstore marker — `decompress_chunk` /
    * `convert_to_rowstore` (`tsl/src/compression/api.c:957`). Needed for
    * the compress → modify heavily → recompress workflow.
    */
  def decompressChunk(spark: SparkSession, chunkPath: String): Long =
    withChunkMutation(spark, chunkPath) {
      val (fs, chunkP, tmp, n) = decompressEncodeTmp(spark, chunkPath)
      publishEncoded(spark, fs, chunkP, tmp, n)
    }

  /** [[compressEncodeTmp]]'s inverse: rowstore-encode into a stage
    * without publishing (no columnstore marker — this IS the decompress).
    */
  private[graft] def decompressEncodeTmp(spark: SparkSession,
      chunkPath: String, stage: Option[Path] = None)
      : (org.apache.hadoop.fs.FileSystem, Path, Path, Long) = {
    val fs = new Path(chunkPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // re-resolve to the chunk's CURRENT live generation: the caller's
    // showChunks snapshot may predate a concurrent publish (see
    // GenStore.chunks.liveChunkTarget) — rewriting a superseded generation
    // would republish stale data
    val chunkP = GenStore.chunks.liveChunkTarget(fs, new Path(chunkPath))
    healSwapsUnder(fs, chunkP) // a torn leaf swap must not feed this rewrite
    require(!Hypertable.chunkFrozen(fs, chunkP),
      s"cannot modify frozen chunk $chunkPath — unfreeze_chunk first")
    // mergeSchema: a post-ALTER append can leave files of differing
    // widths in one chunk — a single-footer read would silently drop the
    // newer columns from the REWRITE
    val df = spark.read.option("mergeSchema", "true").parquet(chunkP.toString)
    val spacePart = df.schema.fieldNames.filter(_.matches("_space\\d*")).toSeq
      .sortBy(n => n.stripPrefix("_space") match { case "" => 0; case d => d.toInt })
    val bytes = fs.getContentSummary(chunkP).getLength
    // columnstore chunks are ~4x smaller than their row form; re-inflate.
    // coalesce() cannot RAISE the partition count — a chunk compressed into
    // 1-2 zstd files would funnel the whole rewrite through 1-2 tasks, the
    // exact trap compressChunk's sizing avoids — so widening repartitions
    val nParts = math.max(1, math.ceil(bytes / 32e6).toInt)
    val out =
      if (nParts <= df.rdd.getNumPartitions) df.coalesce(nParts)
      else df.repartition(nParts)
    val tmp = stage.getOrElse(rewriteTmp(fs, chunkP, "decompress"))
    var w = out.write.mode("overwrite")
    if (spacePart.nonEmpty) w = w.partitionBy(spacePart: _*)
    w.parquet(tmp.toString)
    val n = graft.operators.Stats.rowCount(spark, tmp.toString)
    // sidecars into tmp before the publish — see compressChunk; the
    // columnstore MARKER is deliberately absent (this IS the decompress)
    Hypertable.readRangeFile(fs, chunkP)
      .foreach(end => Hypertable.writeRangeFile(fs, tmp, end))
    Hypertable.readSpaceParts(fs, chunkP)
      .foreach(p => Hypertable.writeSpaceParts(fs, tmp, p))
    (fs, chunkP, tmp, n)
  }

  /** recompress_chunk_segmentwise (`tsl/src/compression/recompress.c`):
    * fold a PARTIAL chunk's post-compression appends back into columnstore
    * layout WITHOUT rewriting the whole chunk. The reference decompresses
    * only the batches whose segmentby keys appear in the new rows, merges,
    * and recompresses those segments; here the unit is the parquet file —
    * per leaf, the inputs are the appended (post-marker) files plus only
    * those compressed files whose footer range on the lead segmentby column
    * intersects a key present in the append. Everything else keeps its
    * bytes AND its file identity (mtime/name untouched — at 100 TB,
    * recompressing a chunk after a 10 MB late batch costs one small
    * rewrite, not a chunk-sized one).
    *
    * Pruning is footer-metadata only and falls back closed: non-integral
    * segment keys, nulls among the append's keys, or missing stats rewrite
    * the whole leaf (exactly `recompress_chunk`'s full fallback,
    * `api.c:1057` "falling back to full recompression"). Without a
    * segmentby the appended files alone are re-sorted into zstd batches —
    * the columnar scan merges pre-sorted batches, so per-file order is the
    * batch contract (`batch_queue_heap.c`).
    *
    * Concurrency: the reference holds an exclusive chunk lock for the
    * whole of `recompress_chunk` (readers block); a filesystem has no such
    * lock, and the per-leaf swap here (delete consumed inputs, adopt
    * replacements) is NOT atomic — a query that lists the leaf mid-swap
    * can transiently miss the affected segments' rows. The window is
    * proportional to the files *touched* (small by construction — that is
    * the point of the segmentwise pass), but like every chunk-rewrite
    * maintenance op it must be serialized against readers externally
    * (policy/maintenance windows), exactly as the reference's lock does.
    *
    * Returns the number of input files consumed, or -1 when the chunk has
    * no uncompressed appends (no-op, like `if_not_compressed`).
    */
  def recompressChunkSegmentwise(spark: SparkSession, chunkPath: String,
      opts: Options): Int =
    withChunkMutation(spark, chunkPath) {
    val fs = new Path(chunkPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // re-resolve to the chunk's CURRENT live generation: the caller's
    // showChunks snapshot may predate a concurrent publish (see
    // GenStore.chunks.liveChunkTarget) — rewriting a superseded generation
    // would republish stale data
    val chunkP = GenStore.chunks.liveChunkTarget(fs, new Path(chunkPath))
    healSwapsUnder(fs, chunkP) // a torn leaf swap must not feed this rewrite
    require(!Hypertable.chunkFrozen(fs, chunkP),
      s"cannot modify frozen chunk $chunkPath — unfreeze_chunk first")
    val m = new Path(chunkP, MARKER)
    require(fs.exists(m),
      s"chunk $chunkPath is not compressed — compress_chunk instead")
    val markedAt = fs.getFileStatus(m).getModificationTime
    val conf = spark.sparkContext.hadoopConfiguration
    var consumed = 0
    leafFiles(fs, chunkP).foreach { case (leaf, fls) =>
      val (newF, oldF) = fls.partition(_.getModificationTime > markedAt)
      if (newF.nonEmpty) {
        val newPaths = newF.map(_.getPath.toString)
        val affected = opts.segmentBy match {
          case Nil => Nil
          case seg +: _ =>
            // the append's distinct segment keys — bounded by the segment
            // cardinality OF THE APPEND (a late batch touches few series),
            // not the chunk's. A late batch is a handful of small files, so
            // under the footer-local gate the keys come straight from the
            // files' dictionary pages on the driver (~1 ms/file) instead of
            // a scheduled Spark job (~150 ms fixed cost, measured) — exact
            // under the same encoding gates as SkipScan, else the
            // distributed distinct runs as before.
            val local =
              if (newPaths.length <= graft.operators.Stats.FooterLocalFiles)
                graft.operators.SkipScan.localIntegralDistinct(conf, newPaths, seg)
              else None
            val raw: Array[Any] = local.map(_.toArray).getOrElse(
              spark.read.parquet(newPaths: _*)
                .select(col(seg)).distinct().collect().map(_.get(0)))
            val keys = raw.collect {
              case l: java.lang.Long    => l.longValue
              case i: java.lang.Integer => i.longValue
              case s: java.lang.Short   => s.longValue
              case b: java.lang.Byte    => b.longValue
            }
            if (keys.length != raw.length) oldF // null/non-integral: no pruning
            else oldF.filter { f =>
              graft.operators.Stats.fileColumnRange(conf, f.getPath.toString, seg) match {
                case Some(Some((mn: java.lang.Long, mx: java.lang.Long))) =>
                  keys.exists(k => k >= mn && k <= mx)
                case Some(None) => false // column all-null in file: no key match
                case _ => true           // unknown stats: conservatively rewrite
              }
            }
        }
        val inputs = newF ++ affected
        val inputPaths = inputs.map(_.getPath.toString)
        val bytes = inputs.map(_.getLen).sum
        val n = math.max(1, math.ceil(bytes.toDouble / (2.0 * opts.rowGroupBytes)).toInt)
        // leaf files carry no partition columns (dir names encode them), so
        // a direct multi-file read + same-leaf write keeps the layout
        val df = spark.read.option("mergeSchema", "true").parquet(inputPaths: _*)
        val arranged = (opts.segmentBy match {
          case Nil =>
            if (n <= df.rdd.getNumPartitions) df.coalesce(n)
            else if (opts.orderBy.nonEmpty) df.repartitionByRange(n, opts.orderBy.map(col): _*)
            else df.repartition(n)
          // RANGE like compressChunk — a hash layout here would give the
          // rewritten files whole-domain footer ranges on the segment key,
          // degrading the very pruning (and segment-key file skipping)
          // this pass depends on for the NEXT late batch
          case segs => df.repartitionByRange(n, segs.map(col): _*)
        }).sortWithinPartitions((opts.segmentBy ++ opts.orderBy).map(col): _*)
        val tmp = new Path(leaf, ".recompress_tmp")
        var w = arranged.write.mode("overwrite")
          .option("compression", "zstd")
          .option("parquet.block.size", opts.rowGroupBytes.toString)
        opts.bloomFilterCols.foreach { c =>
          w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        }
        w.parquet(tmp.toString)
        // CRASH-SAFE swap, stage+stamp form (round 11 — the direct
        // publish pattern applied per leaf): stage every fresh file IN
        // the leaf under dot-invisible `.graft_stage_` names, COMMIT
        // with the single marker write (one atomic small-file
        // appearance — a single-object PUT on raw stores, closing the
        // §15 object-store window the two-location tmp protocol left),
        // then roll forward: un-dot the staged files (same-dir,
        // per-object-atomic renames) and delete the consumed inputs
        // LAST. A crash before the marker leaves only dot-debris the
        // next heal deletes (pre-state intact); a crash after it is
        // rolled forward by healSwapsUnder on the next maintenance
        // entry. Pre-round-10, inputs were deleted before adoption — a
        // crash between the two lost the rewritten rows permanently.
        val fresh = fs.listStatus(tmp)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.getName).toSeq
        fresh.foreach(n =>
          fs.rename(new Path(tmp, n), new Path(leaf, STAGE_PREFIX + n)))
        Hypertable.crashPoint("recompress.staged")
        Hypertable.writeSmallFile(fs, new Path(leaf, SWAP_MARKER),
          (inputs.map(f => s"in:${f.getPath.getName}") ++
            fresh.map(n => s"out:$n")).mkString("\n"))
        Hypertable.crashPoint("recompress.marked")
        fresh.foreach(n =>
          fs.rename(new Path(leaf, STAGE_PREFIX + n), new Path(leaf, n)))
        Hypertable.crashPoint("recompress.adopted")
        inputs.foreach(f => fs.delete(f.getPath, false))
        fs.delete(new Path(leaf, SWAP_MARKER), false)
        fs.delete(tmp, true)
        consumed += inputs.size
      }
    }
    if (consumed == 0) return -1
    // re-touch the marker: the rewritten rows ARE columnstore now, so the
    // chunk must stop reading as PARTIAL
    markCompressed(fs, chunkP)
    // chunk CONTENT changed with the chunk SET intact: bump the owning
    // root's content stamp so read()'s table-mode scan memo rebuilds.
    // (This pass swaps files IN PLACE even under the gen layout — the
    // reference holds an exclusive chunk lock for the whole of
    // recompress_chunk, so readers there block rather than snapshot; the
    // per-leaf swap window here is the documented equivalent, and the
    // whole point of the segmentwise pass is NOT rewriting the untouched
    // bulk of the chunk, which a generation copy would.)
    Hypertable.touchContentStamp(fs, Hypertable.storageRootOf(chunkP))
    Hypertable.refreshColStatsIfEnabled(spark, chunkP.toString)
    consumed
  }

  /** What a [[recompressChunk]] dispatch did — the two live branches count
    * different things (rows written vs input files folded), so the result
    * is typed rather than a unit-ambiguous number.
    */
  sealed trait RecompressResult
  /** Raw chunk: full compression ran, `rows` written. */
  final case class RecompressedFull(rows: Long) extends RecompressResult
  /** Partial chunk: segmentwise fold-in consumed `filesConsumed` inputs. */
  final case class RecompressedSegmentwise(filesConsumed: Int) extends RecompressResult
  /** Already-clean columnstore chunk — nothing to do. */
  case object RecompressNoop extends RecompressResult

  /** recompress_chunk (`tsl/src/compression/api.c` `tsl_recompress_chunk`):
    * raw chunk → full compression; partial chunk → segmentwise fold-in;
    * already-clean compressed chunk → no-op.
    */
  def recompressChunk(spark: SparkSession, chunkPath: String,
      opts: Options): RecompressResult =
    withChunkMutation(spark, chunkPath) {
    (statusBits(spark, chunkPath) & 5) match {
      case 5 => recompressChunkSegmentwise(spark, chunkPath, opts) match {
        case -1 => RecompressNoop // appends vanished between status and pass
        case n  => RecompressedSegmentwise(n)
      }
      case 1 => RecompressNoop
      case _ => RecompressedFull(compressChunk(spark, chunkPath, opts))
    }
    }

  /** Options for maintenance over `ht` when the caller passes none: the
    * table's stored settings ([[Hypertable.setColumnstoreSettings]] —
    * the reference's `compression_settings` catalog), else the
    * stats-derived defaults (`compression_defaults.c` — what the
    * reference computes when compression is enabled without settings).
    * Derived defaults are PERSISTED on first resolution (when the table
    * has data to derive them from): the reference stores its computed
    * settings too, and without that a periodic policy would both re-pay
    * the stats sweep every pass and risk picking a DIFFERENT segmentby as
    * the data grows — chunks compressed across passes must share one
    * layout.
    */
  def resolveOptions(ht: Hypertable): Options =
    ht.columnstoreSettings.getOrElse {
      val derived = suggestOptions(ht).options
      if (ht.showChunks().nonEmpty) ht.setColumnstoreSettings(derived)
      derived
    }

  /** [[compress]] with the table's stored/derived settings. */
  def compress(ht: Hypertable): Seq[ChunkInfo] =
    compress(ht, resolveOptions(ht), None)

  def compress(ht: Hypertable, olderThanMicros: Option[Long]): Seq[ChunkInfo] =
    compress(ht, resolveOptions(ht), olderThanMicros)

  /** Compress every not-yet-compressed chunk fully older than the cutoff —
    * `add_columnstore_policy` semantics (`sql/policy_api.sql:66-93`). Like
    * the reference policy, PARTIAL chunks (plain appends after an earlier
    * compression) are RE-compressed segmentwise so late data rejoins the
    * columnstore layout without rewriting the chunk, and frozen chunks are
    * skipped (`src/chunk.c:3580`).
    */
  def compress(ht: Hypertable, opts: Options,
      olderThanMicros: Option[Long] = None): Seq[ChunkInfo] = {
    val fs = new Path(ht.path)
      .getFileSystem(ht.spark.sparkContext.hadoopConfiguration)
    val todo = ht.showChunks(olderThanMicros)
      .filterNot(c => Hypertable.chunkFrozen(fs, new Path(c.path)))
      .map(c => c -> (statusBits(ht.spark, c.path) & 5))
      .filter(_._2 != 1) // keep raw and partial; skip clean compressed
    graft.Par.foreach(todo) { case (c, bits) =>
      if (bits == 5) recompressChunkSegmentwise(ht.spark, c.path, opts)
      else compressChunk(ht.spark, c.path, opts)
    }
    todo.map(_._1)
  }

  /** Decompress every compressed chunk (optionally range-restricted);
    * frozen chunks are skipped like every maintenance path.
    */
  def decompress(ht: Hypertable, olderThanMicros: Option[Long] = None): Seq[ChunkInfo] = {
    val fs = new Path(ht.path)
      .getFileSystem(ht.spark.sparkContext.hadoopConfiguration)
    val todo = ht.showChunks(olderThanMicros)
      .filterNot(c => Hypertable.chunkFrozen(fs, new Path(c.path)))
      .filter(c => isCompressed(ht.spark, c.path))
    graft.Par.foreach(todo)(c => decompressChunk(ht.spark, c.path))
    todo
  }
}

/** Policy runner pairing with [[RetentionPolicy]]. */
object CompressionPolicy {
  def run(ht: Hypertable, opts: Columnstore.Options, olderThanMicros: Long): Seq[ChunkInfo] =
    Columnstore.compress(ht, opts, Some(olderThanMicros))
}

/** reorder_chunk (`sql/maintenance_utils.sql:83-100`) — physically re-sort
  * a chunk by the given columns (the reference reorders along an index).
  * Same rewrite machinery as compression, without changing segmentation.
  */
object ReorderPolicy {
  def run(ht: Hypertable, orderBy: Seq[String],
      olderThanMicros: Option[Long] = None): Seq[ChunkInfo] = {
    val fs = new Path(ht.path)
      .getFileSystem(ht.spark.sparkContext.hadoopConfiguration)
    val todo = ht.showChunks(olderThanMicros)
      .filterNot(c => Hypertable.chunkFrozen(fs, new Path(c.path)))
    graft.Par.foreach(todo)(c => Columnstore.compressChunk(ht.spark, c.path,
      Columnstore.Options(orderBy = orderBy)))
    todo
  }
}

/** add_compaction_policy / policy_compaction (`sql/policy_api.sql:48-63`,
  * `sql/policy_internal.sql:25-95`): one maintenance sweep that compacts
  * every FRAGMENTED chunk — skipping frozen chunks, partial chunks (the
  * columnstore policy recompresses those instead), and chunks still
  * receiving writes (`inactiveFor`: any data file modified within the
  * window defers the chunk, the reference's `inactive_for` gate against
  * recompacting hot chunks). `maxChunks`/`maxFiles` mirror the reference's
  * `max_chunks`/`max_batches` caps (0 = unlimited). Returns the compacted
  * chunks. Chunk-parallel; per chunk the rewrite is a narrow coalesce.
  */
object CompactionPolicy {
  def run(ht: Hypertable, targetFileBytes: Long = Columnstore.DEFAULT_FILE_BYTES,
      maxChunks: Int = 0, maxFiles: Int = 0,
      inactiveForMicros: Option[Long] = None,
      nowMicros: () => Long = () => System.currentTimeMillis * 1000L): Seq[ChunkInfo] = {
    val fs = new Path(ht.path)
      .getFileSystem(ht.spark.sparkContext.hadoopConfiguration)
    // `inactive_for` gates on data-file MTIMES, so both sides of the
    // comparison are wall-clock — dimension time plays no role here
    val cutoffMs = inactiveForMicros.map(w => (nowMicros() - w) / 1000L)
    // all gates from ONE walk per chunk: frozen (1 exists), then leaves
    val all = ht.showChunks().filter { c =>
      val dir = new Path(c.path)
      !Hypertable.chunkFrozen(fs, dir) && {
        val bits = Columnstore.statusBits(ht.spark, c.path, targetFileBytes)
        (bits & 4) == 0 && (bits & 2) != 0 &&
          cutoffMs.forall(cut => Columnstore.dataFiles(fs, dir)
            .forall(_.getModificationTime <= cut))
      }
    }
    val todo = if (maxChunks > 0) all.take(maxChunks) else all
    graft.Par.foreach(todo)(c =>
      Columnstore.compactChunk(ht.spark, c.path, targetFileBytes, maxFiles))
    todo
  }
}
