package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{functions => gf}
import graft.expressions.TimeBucketUtil
import graft.streaming.StreamLog

/** Chunk descriptor: a time range [start, end) in epoch micros backed by one
  * partition directory (reference `src/chunk.h:63-75` — a chunk is a child
  * table covering a hypercube; here it's a parquet partition).
  */
case class ChunkInfo(startMicros: Long, endMicros: Long, path: String) {
  def start: java.sql.Timestamp = new java.sql.Timestamp(startMicros / 1000)
  def end: java.sql.Timestamp = new java.sql.Timestamp(endMicros / 1000)
}

/** A hypertable: a parquet table partitioned by a time-bucket-derived chunk
  * column (+ optional hash-bucketed space dimension), the Spark-native
  * equivalent of the reference's hypertable/dimension/chunk model
  * (`src/hypertable.h:58-65`, `src/dimension.h:62-97`).
  *
  * Layout on disk:
  *   path/_chunk=<bucket-start-micros>[/_space=<hash bucket>]/part-*.parquet
  *
  * - chunk exclusion = Spark partition pruning on `_chunk` (use [[between]]
  *   or [[timeFilter]] to derive `_chunk` bounds from time predicates);
  * - space dimension uses Spark's murmur3 `hash()` — same family as the
  *   reference's `ts_get_partition_hash` (`src/partitioning.c:454-468`);
  * - `drop_chunks`/`show_chunks` (`sql/ddl_api.sql:92-113`) are partition
  *   directory operations, transact-less but idempotent.
  *
  * At 100 TB: chunk width should be sized so one chunk ≈ executors × a few
  * GB; the partition column is a long so listing/pruning stays metadata-only.
  */
class Hypertable private (
    val spark: SparkSession,
    val path: String,
    val timeCol: String,
    val chunkWidthMicros: Long,
    val spaceCol: Option[String],
    val spacePartitions: Int,
    /** calendar-month chunk width; when > 0 `chunkWidthMicros` is unused
      * (`src/dimension.h:86` month-interval dimensions).
      */
    val chunkMonths: Int = 0,
    /** Open-dimension kind (`src/dimension.h:82-84`): "timestamp" (default),
      * "bigint" (integral time — `chunkWidthMicros` is then a raw integer
      * width and range bounds are raw values), or "uuidv7" (chunk key from
      * the uuid's embedded timestamp; v7 strings sort by time, so range
      * predicates push down on the raw column).
      */
    val timeKind: String = "timestamp",
    /** Additional closed dimensions beyond `spaceCol` — the reference's
      * N-dimensional hyperspace (`add_dimension`, `sql/ddl_api.sql:115-143`;
      * `Hyperspace` is explicitly 1..N dimensions, `src/dimension.h:89-97`).
      * Each (column, partitions) pair becomes a further `_spaceK=` hash
      * partition level, pruned independently by ChunkExclusion.
      */
    val extraSpace: Seq[(String, Int)] = Nil,
    /** True once [[setNumberPartitions]] has run: closed-dimension counts
      * then vary per chunk (recorded in each chunk's `_graft_spaceparts`),
      * so routing and pruning consult the per-chunk catalog. False keeps
      * the single-count fast path with zero extra metadata I/O.
      */
    val repartitioned: Boolean = false,
    /** True for catalog="table" tables: chunk content is versioned in
      * `_gen=` subdirs so rewrites never delete what a pinned reader
      * planned against — see the generational-layout note on the
      * companion object. False = the flat layout with in-place rewrite
      * swaps (and their documented swap windows).
      */
    val genLayout: Boolean = false) extends TimeSource {

  import Hypertable._

  /** Chunk-set discovery mode (SCALE.md cliff #1), fixed by the layout.
    * "list" (flat layout): every `showChunks` lists the `_chunk=` dirs
    * and reads each one's `_range` marker — O(chunks) metadata I/O per
    * QUERY, which at 10⁵ chunks on an object store is the dominant
    * planning cost. "table" (generation layout): the chunk set persists
    * in a versioned [[ChunkManifest]] ([[VersionedCatalog]]; the reference's
    * `_timescaledb_catalog.chunk` analogue), republished at the end of
    * each mutating operation — queries read one file; the O(chunks)
    * listing runs only when the chunk set actually changes. Its crash
    * self-heal keys off storage-root mtimes or content counters — see
    * [[catalogFresh]].
    */
  def catalogMode: String = if (genLayout) "table" else "list"

  require(extraSpace.isEmpty || spaceCol.isDefined,
    "extra closed dimensions need a primary space dimension first")

  /** All closed dimensions: (value column, partition count, partition
    * directory column). The first keeps the legacy `_space` name; further
    * dimensions are `_space1`, `_space2`, ...
    */
  def spaceDims: Seq[(String, Int, String)] =
    spaceCol.map(sc => (sc, spacePartitions, SPACE)).toSeq ++
      extraSpace.zipWithIndex.map { case ((c, n), i) => (c, n, s"$SPACE${i + 1}") }

  private def fs: FileSystem = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Naive (TIMESTAMP_NTZ) time columns cast to the session-zone instant
    * type the chunk arithmetic runs on — value-preserving under graft's
    * pinned-UTC sessions, and a no-op (eliminated by SimplifyCasts) for
    * already-typed inputs. Keeps `write`/`whereTimeIn` usable on parquet
    * written by naive-timestamp producers without a manual cast.
    */
  private def normalizeTime(df: DataFrame, c: String): DataFrame =
    if (timeKind == "timestamp" &&
        df.schema(c).dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn(c, col(c).cast("timestamp"))
    else df

  /** Bucket-start (micros, or raw integer units for "bigint") for a time
    * column — the chunk key.
    */
  def chunkKey(time: Column): Column = timeKind match {
    case "bigint" => gf.time_bucket(lit(chunkWidthMicros), time)
    case "uuidv7" =>
      unix_micros(gf.time_bucket(
        lit(java.time.Duration.of(chunkWidthMicros, java.time.temporal.ChronoUnit.MICROS)),
        gf.uuid_timestamp_micros(time)))
    case _ if chunkMonths > 0 =>
      unix_micros(gf.time_bucket(s"$chunkMonths months", time))
    case _ =>
      unix_micros(gf.time_bucket(
        lit(java.time.Duration.of(chunkWidthMicros, java.time.temporal.ChronoUnit.MICROS)),
        time))
  }

  /** Default end of a chunk starting at `start` (no `_range` recorded). */
  private def defaultChunkEnd(start: Long): Long =
    if (chunkMonths > 0) TimeBucketUtil.addMonthsMicros(start, chunkMonths)
    else start + chunkWidthMicros

  /** Serialize a table-level mutation against every other same-JVM mutator
    * of the table — see [[Hypertable.tableMutationLock]]. Reentrant, so
    * mutators may compose. Entry also claims the cross-PROCESS mutator
    * lease (loud refusal when another process holds the table — see
    * [[Hypertable.acquireMutatorLease]]); a map hit after the first call.
    */
  /** A FLAT handle kept across `migrateToGenLayout()` would route writes
    * into `_chunk=X/` beside the `_gen=` dirs (rows acked but invisible
    * to every manifest reader — silent loss) and its READS would discover
    * both generations as partition dirs (every rewritten chunk's rows
    * double-counted, dropped-but-graced dirs resurrected — silently wrong
    * answers). Re-verify the on-disk layout flag at every mutation and
    * scan entry of a flat handle; gen handles cannot go stale in this
    * direction (there is no reverse migration), so the steady-state gen
    * path pays nothing. One small-file read per call, the same order as
    * the marker/catalog reads these paths already perform.
    */
  private def assertLayoutCurrent(): Unit =
    if (!genLayout && Hypertable.metaSaysGenLayout(fs, path))
      throw new IllegalStateException(
        s"$path was migrated to the generational layout after this handle " +
          "was opened — re-open it with Hypertable.at")

  private[graft] def withMutation[T](body: => T): T = {
    Hypertable.acquireMutatorLease(spark, fs, qualifiedPath)
    assertLayoutCurrent()
    val l = Hypertable.tableMutationLock(qualifiedPath).writeLock()
    l.lock()
    try body finally l.unlock()
  }

  /** [[withMutation]] plus cross-process chunk seals (the lease split):
    * rewrite-class ops hold the EXCLUSIVE lease (serializing against
    * other maintenance processes) AND seal their target chunks
    * (`Some(start)`) or the whole table (`None`, DDL class) so that
    * concurrent APPEND processes — which no longer take the exclusive
    * lease — yield on exactly the chunks being rewritten and nothing
    * else. The seal claim drains in-flight append intents first, so no
    * batch that started before the seal can land rows in a generation
    * this op is about to supersede. `scopes` is by-name: it usually needs
    * showChunks(), which must run under the lock.
    */
  private def withSealedMutation[T](scopes: => Seq[Option[Long]])(
      body: => T): T =
    withMutation {
      MutationGate.withSeals(spark, fs, qualifiedPath, scopes)(body)
    }

  /** Append rows, routing each to its chunk (and space) partition — the
    * tuple-routing insert path (`src/chunk_tuple_routing.c:72-147`); chunk
    * directories are created on demand by the parquet writer.
    *
    * Rows are shuffled onto their partition key first: without it every
    * write task opens a file in every chunk dir, committing
    * tasks × chunks files (measured 23k files/33 s vs 720/3 s at sf0.1).
    * `filesPerChunk` > 1 splits each chunk across that many writer tasks —
    * raise it when one ingest batch covers few chunks but many executors.
    */
  def write(df: DataFrame, mode: SaveMode = SaveMode.Append,
      filesPerChunk: Int = 1): Unit = {
    // APPENDS take the SHARED lease class: any number of appender
    // processes coexist with each other and with ONE maintenance process
    // (the exclusive `_graft_mutator_lease`, which since the round-10
    // split serializes rewrite-class processes only). Per-batch conflicts
    // with a concurrent chunk rewrite are fenced by the intent/seal gate
    // below — the reference's concurrent-INSERT-vs-compression semantics
    // (per-chunk locks, tsl/src/compression/api.c) rather than a
    // table-wide refusal. In-process, appends still serialize with other
    // local mutations on the JVM write lock (unchanged).
    MutationGate.acquireAppendLease(spark, fs, qualifiedPath)
    assertLayoutCurrent()
    val l = Hypertable.tableMutationLock(qualifiedPath).writeLock()
    l.lock()
    try writeGated(df, mode, filesPerChunk) finally l.unlock()
  }

  private def writeGated(df: DataFrame, mode: SaveMode,
      filesPerChunk: Int): Unit = {
    // static partition overwrite deletes the ENTIRE table root first —
    // including _graft_hypertable.json and every catalog stamp, bricking
    // Hypertable.at(); truncate via dropChunks/deleteWhere, then append
    require(mode != SaveMode.Overwrite,
      "hypertable writes are routed appends; SaveMode.Overwrite would wipe " +
        "the chunk catalog — dropChunks/deleteWhere first, then append")
    val out = conformToSchema(normalizeTime(df, timeCol))
      .withColumn(CHUNK, chunkKey(col(timeCol)))
    // the batch's distinct chunk starts — one distinct-aggregation action,
    // run at most once and only when a live seal or a tombstoned chunk dir
    // needs it
    lazy val routedStarts: Set[Long] =
      out.select(col(CHUNK)).distinct().collect()
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    // per-batch append gate: declare the in-flight batch (intent), yield
    // to any live seal overlapping this batch's routed chunks (a rewrite
    // in progress on those chunks in ANOTHER process), then proceed. The
    // intent must outlive the batch's data commit AND catalog sync — a
    // rewriter drains intents before reading its input.
    val intent = MutationGate.appendGate(spark, fs, qualifiedPath,
      () => routedStarts)
    try {
      // re-verify AFTER the gate: a table-wide seal we just yielded to may
      // have been a layout migration or a drop
      assertLayoutCurrent()
      require(fs.exists(new Path(path, Hypertable.META)),
        s"$path is no longer a hypertable (dropped while this batch waited)")
      // a torn merge/split left by a CRASHED maintenance process (its seal
      // went stale, so the gate no longer blocks us) must be resolved
      // before routing: appending into a dir the completion will
      // tombstone, or into a parent range the roll-forward re-derives,
      // would lose acked rows. One root listing when markers exist; the
      // marker files ride the root listing write() does anyway otherwise.
      if (genLayout && rewriteIntentMarkers().nonEmpty) healRewriteIntents()
      writeRouted(out, mode, filesPerChunk, df, routedStarts)
    } finally MutationGate.removeMarker(fs, intent)
  }

  private def writeRouted(out0: DataFrame, mode: SaveMode,
      filesPerChunk: Int, df: DataFrame, routedStarts: => Set[Long]): Unit = {
    var out = out0
    // gen layout: rows append into each chunk's LIVE generation dir (new
    // chunks open at _gen=0). The lookup is a literal map of only the
    // REWRITTEN chunks (gen > 0) — bounded by maintenance history, not
    // the chunk count; the write lock holds the generations still.
    // Tombstoned chunk dirs (dropped, grace-retained) the batch routes
    // rows into go to a FRESH rebirth generation above every dead one —
    // appending into _gen=0 would mix new rows with the dropped data
    // awaiting GC (or lose them to its GC); healRebirth below commits the
    // rebirth after the append. Only those dirs: the rebirth below
    // rewrites the tombstone, which resets its GC grace clock, so
    // touching every tombstone on every append would keep a table under
    // steady ingest from ever reaping a dropped chunk.
    val liveChunks: Seq[ChunkInfo] = if (genLayout) showChunks() else Nil
    val tombstoned: Seq[(Long, Path)] =
      if (genLayout) {
        val all = tombstonedChunkDirs(liveChunks.map { c =>
          // qualify each chunk dir with ITS OWN filesystem: a chunk
          // resident on a cross-FS tablespace would make the primary
          // root's fs.makeQualified throw "Wrong FS" (checkPath)
          val cd = Hypertable.chunkDirOf(new Path(c.path))
          cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .makeQualified(cd).toString
        }.toSet)
        if (all.isEmpty) all else all.filter(t => routedStarts.contains(t._1))
      } else Nil
    // tombstoned dirs this batch will re-ingest into, start -> (dir, gen):
    // the post-write commit marks these generations complete, then heals
    var pendingRebirth = Map.empty[Long, (Path, Long)]
    // routed generation per chunk (non-zero lives + rebirths); consumed by
    // the stream-log dir resolution below
    var gensOut = Map.empty[Long, Long]
    // with concurrent appender PROCESSES allowed, two batches re-ingesting
    // into the same tombstoned dir would race the drop-max normalization
    // (the later reader lists the earlier's committed-but-unhealed
    // generation and declares it dead) — claim each tombstoned dir's
    // rebirth lock for the batch (bounded by drop history; zero files the
    // common tombstone-free case). The GC also respects a live lock.
    val rebirthLocks: Seq[(FileSystem, Path)] =
      if (tombstoned.isEmpty) Nil
      else MutationGate.claimRebirthLocks(spark, tombstoned.map(_._2),
        Some((fs, qualifiedPath)))
    try {
    if (genLayout) {
      val live = liveChunks
        .map(c => c.startMicros -> GenStore.chunks.genOf(new Path(c.path))).toMap
      // a start that is LIVE again (already reborn at the primary root)
      // routes to its live generation, not the dead dir's successor
      val rebirth = tombstoned.filterNot(t => live.contains(t._1))
        .flatMap { case (start, d) =>
          val dfs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // a COMPLETE but unhealed rebirth (an earlier append's job
          // commit finished and was marked, but the writer died before
          // its heal): commit it now and route into the healed live
          // generation — normalizing it dead would discard a finished
          // commit's rows
          if (GenStore.chunks.healRebirth(dfs, d)) {
            // loud, not silent: a dropped map entry would default the
            // routing to _gen=0 — a dead generation — losing the rows
            val ld = GenStore.chunks.liveDataDir(dfs, d).getOrElse(
              throw new IllegalStateException(
                s"rebirth heal of $d left no live generation"))
            Some(start -> GenStore.chunks.genOf(ld))
          } else {
            val listedMax = GenStore.chunks.listGenDirs(dfs, d).map(_._1)
              .maxOption.getOrElse(-1L)
            val recorded = GenStore.readTombMax(dfs, d)
            // normalize the tombstone's recorded drop-max UP to cover
            // every listed generation BEFORE routing: a crashed append's
            // partial (unmarked) generation in (recorded, listedMax]
            // must join the dead set, or the heal would land liveness on
            // the partial and the crash-remnant GC rule would delete the
            // generation THIS batch writes above it — silent loss of
            // acked rows. Also normalizes an unreadable tombstone (a
            // drop crashed between create and write). Routing then goes
            // strictly above everything dead, so healRebirth commits
            // exactly the generation this append writes.
            val deadMax = math.max(listedMax, recorded.getOrElse(-1L))
            // ALWAYS rewrite (even when the value is unchanged): the
            // fresh mtime resets the tombstone's grace clock, so the GC
            // cannot reap this dir between our job commit and our heal
            // (gcChunkDir additionally refuses while an above-max
            // generation exists — this is the belt, that the braces)
            Hypertable.writeSmallFileDirect(dfs,
              new Path(d, GenStore.DROP_TOMB), deadMax.toString)
            pendingRebirth += start -> (d, deadMax + 1)
            Some(start -> (deadMax + 1))
          }
        }
      val gens: Map[Long, Long] = (live.filter(_._2 != 0) ++ rebirth).toMap
      gensOut = gens
      out = out.withColumn(Hypertable.GEN,
        if (gens.isEmpty) lit(0)
        else coalesce(element_at(typedLit(gens), col(CHUNK)), lit(0)))
    }
    // after set_number_partitions, a row landing in an EXISTING chunk must
    // route with THAT chunk's recorded count (the reference routes into a
    // chunk's own slices, not the dimension's current count); only rows
    // opening new chunks use the current count. The override map is bounded
    // by the chunk count — a broadcast-sized literal lookup, not a join.
    val preChunks: Seq[ChunkInfo] = if (repartitioned) showChunks() else Nil
    val countOverrides: Map[String, Map[Long, Int]] =
      if (!repartitioned) Map.empty
      else {
        val cat = preChunks.flatMap(c =>
          Hypertable.readSpaceParts(fs, new Path(c.path)).map(c.startMicros -> _)).toMap
        spaceDims.map { case (sc, n, _) =>
          // count -1 = "layout unknown" (mixed-count merge): route with the
          // current count — reads stay correct because pruning is disabled
          // for such chunks, the stored `_space` values just vary
          sc -> cat.collect {
            case (start, counts)
                if counts.getOrElse(sc, n) != n && counts(sc) > 0 =>
              start -> counts(sc)
          }
        }.toMap
      }
    spaceDims.foreach { case (sc, n, pc) =>
      val overrides = countOverrides.getOrElse(sc, Map.empty)
      val nExpr =
        if (overrides.isEmpty) lit(n)
        else coalesce(
          element_at(typedLit(overrides), col(CHUNK).cast("long")), lit(n))
      out = out.withColumn(pc, pmod(hash(col(sc)), nExpr))
    }
    // no inserts into frozen chunks (src/chunk.c:3579). One small-file
    // read of the root frozen catalog per batch; the row probe (a filtered
    // recompute of the batch) runs ONLY when frozen chunks exist — the
    // common case pays a single `exists` and nothing more.
    val frozenStarts = frozenCatalog()
    if (frozenStarts.nonEmpty)
      require(out.where(col(CHUNK).isInCollection(frozenStarts)).isEmpty,
        s"batch routes rows into frozen chunk(s) ${frozenStarts.mkString(",")} — " +
          "unfreeze_chunk first")
    val partCols =
      if (genLayout) CHUNK +: Hypertable.GEN +: spaceDims.map(_._3)
      else CHUNK +: spaceDims.map(_._3)
    val keys = partCols.map(col)
    // Space-partitioned tables fan each task out over chunk × space-part
    // OUTPUT DIRS: AQE's size-driven coalescing (tiny batch → 1 task)
    // would serialize one task over every dir's file open/close — q67's
    // hyperspace write measured 1.3 → 3.1 s when coalesced. Pin those
    // writes at a non-coalescible width (REPARTITION_BY_NUM); time-only
    // tables keep the coalescible form (few dirs per chunk — fewer,
    // fuller files is the right outcome there). The pinned width follows
    // the batch (a full-width pin cost q69 11% in 32 near-empty writer
    // tasks): graft.Sizing.tasksFor, floored at the space fan-out (each
    // task starts ≈1 dir's file — the q67 case), capped at the session
    // width (a 100 TB or unsized batch pins at full width).
    def rep(exprs: Seq[org.apache.spark.sql.Column]) =
      if (spaceDims.nonEmpty) {
        val nSP = spark.sessionState.conf.numShufflePartitions
        val spaceFan = spaceDims.map(_._2.toLong).product
          .min(nSP.toLong).max(1L).toInt
        out.repartition(graft.Sizing.tasksFor(spark,
          graft.Sizing.estimate(out), spaceFan, nSP), exprs: _*)
      } else out.repartition(exprs: _*)
    val routed =
      if (filesPerChunk > 1) // deterministic row-hash salt (shuffle exprs can't be nondeterministic)
        rep(keys :+ pmod(hash(df.columns.map(col): _*), lit(filesPerChunk)))
      else rep(keys)
    // with chunk skipping enabled the touched chunks' column ranges must be
    // refreshed, which needs the batch's distinct chunk keys — a second
    // action over the input. A bare-scan input recomputes cheaply (column
    // pruning reads only the time column); anything with a join/agg/window
    // is persisted across the two actions so the expensive pipeline runs
    // ONCE. Rows with a NULL time produce a NULL chunk key (they land in
    // the default partition, which the chunk catalog never lists) —
    // skipped, not NPE'd.
    val needStats = skipColumns.nonEmpty
    // the skip_cagg_invalidation toggle is read HERE, not just inside
    // invalidateCaggs: it must also skip the min/max aggregate over the
    // batch and the expensive-input persist below — the cost the
    // bulk-backfill escape hatch exists to avoid
    val caggs =
      if (graft.plans.Toggles.skipCaggInvalidation) Nil else caggPaths
    // chunks resident in an attached tablespace take their routed rows
    // DIRECTLY (one extra write job per tablespace root holding hits):
    // the pre-round-9 route-to-primary + rename-into-place relocation
    // left a window where a running stream's listing missed the renamed
    // files entirely — silent loss; a direct write is atomic at job
    // commit, and the stream-log entry names every acked file at its
    // final root. ATOMICITY BOUNDARY: each ROOT's job commit is the
    // atomic unit, not the batch — with attached tablespaces a crash
    // between the primary-root commit and a tablespace-root commit
    // leaves the committed roots' rows visible (unacked partial batch),
    // and a caller retry re-appends them (duplicates). Callers needing
    // batch-exact multi-root semantics must dedupe on retry (idempotent
    // keys) or quiesce tablespaces during ingest; see SCALE.md §15.
    // The map is sized by the MOVED chunk count (bounded by move_chunk
    // history), a broadcast-sized literal set. Tombstoned tablespace
    // dirs route here too, so their rebirth generation lands where the
    // tombstone (and its heal) lives.
    val tsRoots: Map[Long, Path] =
      if (showTablespaces.isEmpty) Map.empty
      else {
        // gen layout: route from the SAME liveChunks list the gens map was
        // built from, so the generation and the root always agree — a start
        // can be live at the primary while a graced tombstone of it still
        // sits at a tablespace (merge absorbed the cold-resident chunk,
        // then a split recreated the start at the primary); listing the
        // tablespace dirs would route those rows' live-gen files INTO the
        // tombstoned dir, where no reader looks and GC reaps them — silent
        // loss of acked rows. Flat layout has no tombstones, so the dir
        // listing stays authoritative there.
        val liveTs =
          if (genLayout) liveChunks.flatMap { c =>
            val cd = Hypertable.chunkDirOf(new Path(c.path))
            val pfs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (pfs.makeQualified(cd.getParent).toString != qualifiedPath)
              Some(c.startMicros -> cd.getParent)
            else None
          }
          else tablespaceTableDirs.flatMap(d =>
            listChunksUnder(d).map(_.startMicros -> d))
        // tombstoned tablespace dirs host rebirth generations — but only
        // for starts with NO live chunk (the same filter the rebirth
        // routing above applies); live always wins the map union too
        val liveStarts = liveChunks.map(_.startMicros).toSet
        val tombTs = tombstoned.filter { case (s, cd) =>
          !liveStarts.contains(s) && {
            val pfs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
            pfs.makeQualified(cd.getParent).toString != qualifiedPath
          }
        }.map { case (s, cd) => s -> cd.getParent }
        (tombTs ++ liveTs).toMap
      }
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Join => LJoin, Window => LWin}
    // splitting the batch across storage roots re-scans it once per root —
    // persist alongside the stats/cagg second-action case
    val expensiveInput = ((needStats || caggs.nonEmpty) &&
      df.queryExecution.analyzed.exists {
        case _: LJoin | _: LAgg | _: LWin => true
        case _ => false
      }) || tsRoots.nonEmpty
    // Every post-write consumer of the batch's metadata reduces to the
    // touched-chunk SET plus the GLOBAL time range (the stream-log diff
    // lists dirs, the stats refresh re-reads footers, the cagg fan-out
    // cuts one range) — so when nothing needs the chunk set BEFORE the
    // job (no stream log) and the batch lands in one root (an Observation
    // fires once), fold the whole metadata pass into the write job itself
    // as observed metrics (CollectMetrics accumulators): zero extra
    // actions, and the range is measured on exactly the rows written, so
    // the expensive-input persist that existed only to pin a second
    // action's view of a non-deterministic pipeline is unnecessary too.
    // probed once: the stream-log pre-listing below needs the chunk set
    // BEFORE the job, which observed metrics only give after it, so both
    // decisions must see the same answer
    val streamLog = StreamLog.streamLogEnabled(fs, path)
    val observeStats = tsRoots.isEmpty && (needStats || caggs.nonEmpty) && !streamLog
    if (expensiveInput && !observeStats)
      routed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val statsObs =
      if (observeStats)
        Some(org.apache.spark.sql.Observation(
          "graft_batch_stats_" + java.util.UUID.randomUUID().toString.take(8)))
      else None
    val routedObserved = statsObs.map { o =>
      val tm = timeMicrosExpr(col(timeCol))
      routed.observe(o, collect_set(col(CHUNK)).as("chunks"),
        min(tm).as("tmin"), max(tm).as("tmax"))
    }.getOrElse(routed)
    // observed metrics, decoded once after the write commits (get blocks
    // until the job's listener fires): chunk set + global [min, max]
    lazy val observedStats: Option[(Set[Long], Option[(Long, Long)])] =
      statsObs.map { o =>
        val m = o.get
        val ks = m("chunks").asInstanceOf[scala.collection.Seq[Any]].map {
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.longValue
        }.toSet
        val rng = (m("tmin"), m("tmax")) match {
          case (lo: java.lang.Long, hi: java.lang.Long) =>
            Some((lo.longValue, hi.longValue))
          case _ => None
        }
        (ks, rng)
      }
    // ONE metadata pass over the batch serves every consumer needing its
    // chunk set or time range: the stream-log pre-listing, chunk-skipping
    // stats refresh, and the cagg invalidation fan-out each ran their own
    // action over `routed` before — paying the routing EXCHANGE per
    // action (repartition is a barrier min/max can't see through). A
    // groupBy(CHUNK) over the pre-repartition batch prunes to the time
    // column and shuffles one row per touched chunk; expensive inputs
    // read the persisted `routed` instead so their pipeline still runs
    // once. Lazy: batches needing none of the three consumers (no stream
    // log, no skip columns, no caggs) never run it. This is the fallback
    // when `observeStats` is off (stream log / multi-root).
    lazy val batchChunkStats: Seq[(Long, Long, Long)] = {
      val tm = timeMicrosExpr(col(timeCol))
      val src = if (expensiveInput && !observeStats) routed else out
      src.groupBy(col(CHUNK)).agg(min(tm), max(tm)).collect().toSeq
        .collect { case r if !r.isNullAt(0) && !r.isNullAt(1) =>
          (r.getLong(0), r.getLong(1), r.getLong(2)) }
    }
    lazy val touchedChunks: Set[Long] =
      observedStats.map(_._1).getOrElse(batchChunkStats.map(_._1).toSet)
    // stream log: each touched chunk's FINAL data dir (the routing above
    // fixed it — the seal gate excludes concurrent rewrites for the
    // batch's lifetime). Resolved only while a stream log exists (the
    // probe above otherwise, and one more at commit); O(touched chunks)
    // small listings + one distinct action when it does.
    val tombMap = tombstoned.toMap
    def streamLogDirs(touched: Set[Long]): Seq[Path] = {
      val liveByStart = liveChunks.map(c => c.startMicros -> c.path).toMap
      touched.toSeq.map { s =>
        pendingRebirth.get(s)
          .map { case (dd, g) => new Path(dd, s"${Hypertable.GEN}=$g") }
          .orElse(liveByStart.get(s).map(new Path(_)))
          .orElse(tombMap.get(s).map(dd =>
            new Path(dd, s"${Hypertable.GEN}=${gensOut.getOrElse(s, 0L)}")))
          .getOrElse {
            val root = tsRoots.getOrElse(s, new Path(path))
            val cd = new Path(root, s"$CHUNK=$s")
            if (genLayout)
              new Path(cd, s"${Hypertable.GEN}=${gensOut.getOrElse(s, 0L)}")
            else cd
          }
      }
    }
    val logged = StreamLog.begin(spark, fs, path)(
      streamLogDirs(touchedChunks), logging = streamLog)
    // CONCURRENT APPENDER PROCESSES would collide in the committer's
    // SHARED staging dir: FileOutputCommitter stages every job under
    // `<table>/_temporary/<appAttemptId>` with appAttemptId=0, and one
    // job's commit-time cleanup deletes `_temporary` wholesale — nuking
    // the other process's in-flight task files (TASK_WRITE_FAILED; found
    // by the two-appender RealProcessIsolationSpec case). Give each
    // process its own attempt id (unique staging subtree) and skip the
    // committer's whole-dir cleanup; we delete OUR OWN staging subtree
    // after the job instead (in-process writes serialize on the JVM
    // lock, so the id is safe to reuse). The id is int-typed in the
    // committer, so 31 bits is all the namespace there is — a bare hash
    // collides ~1/2³¹ per process pair, and STICKILY (the round-10
    // advisor's nit: two unlucky hosts would collide on every batch
    // forever). Round 11 makes the id a CLAIM: each batch claims
    // `.graft_staging_claim_<id>` at the dest root (exclusive-create +
    // heartbeat, MutationGate) before using <id>, walking a
    // deterministic probe sequence on conflict — a collision costs one
    // extra claim attempt instead of a nuked staging subtree.
    // `spark.graft.staging.attemptIdBase` overrides the base (tests
    // force two processes onto equal bases).
    val attemptBase = spark.conf.getOption("spark.graft.staging.attemptIdBase")
      .map(_.toInt).getOrElse(Hypertable.stagingAttemptBase)
    def writeTo(df: DataFrame, dest: String): Unit = {
      val dfs = new Path(dest)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      var id = attemptBase
      var k = 0
      var claim: Path = null
      while (claim == null) {
        val p = new Path(dest, s".graft_staging_claim_$id")
        if (MutationGate.tryClaimExclusive(spark, dfs, p,
            Some((fs, qualifiedPath)))) claim = p
        else { k += 1; id = math.abs((attemptBase + k * 1000003) % 1000000000) }
      }
      try {
        df.write.mode(mode)
          .option("mapreduce.job.application.attempt.id", id.toString)
          .option("mapreduce.fileoutputcommitter.cleanup.skipped", "true")
          .partitionBy(partCols: _*).parquet(dest)
        try dfs.delete(new Path(dest, s"_temporary/$id"), true)
        catch { case _: java.io.IOException => () }
      } finally MutationGate.removeMarker(dfs, claim)
    }
    try {
      if (tsRoots.isEmpty)
        writeTo(routedObserved, path)
      else {
        // NULL chunk keys (null time) stay on the primary write: an
        // isInCollection miss on null yields null, and where(!null)
        // would silently drop the row from BOTH splits
        writeTo(routed.where(col(CHUNK).isNull ||
            !col(CHUNK).isInCollection(tsRoots.keySet)), path)
        tsRoots.groupBy(_._2).foreach { case (root, m) =>
          writeTo(routed.where(col(CHUNK).isInCollection(m.keySet)),
            root.toString)
        }
      }
      // fold any CRASHED earlier relocation's primary-root stubs into
      // their tablespace dirs first (fresh rows now write directly), so
      // the rebirth commits below see final locations (no-op without
      // attached tablespaces: one small-file read)
      if (showTablespaces.nonEmpty) relocateFreshWrites()
      // commit the rebirths this batch performed: stamp each written
      // generation COMPLETE first — healRebirth's cue that its data is a
      // finished job commit, not a crashed partial it must not resurrect
      // — then heal (stamps the dead generations, lifts the tombstone)
      Hypertable.crashPoint("write.after_job")
      pendingRebirth.foreach { case (_, (d, g)) =>
        val dfs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val genDir = new Path(d, s"${Hypertable.GEN}=$g")
        if (dfs.exists(genDir)) { // batch may hold no rows for this chunk
          GenStore.markRebirthComplete(dfs, genDir)
          Hypertable.crashPoint("write.rebirth.after_mark")
          GenStore.chunks.healRebirth(dfs, d)
        }
      }
      Hypertable.crashPoint("write.before_sync")
      // the "table" catalog must see this batch's NEW chunks before the
      // post-write steps below consult showChunks() — the append-shaped
      // incremental patch, not the O(chunks) full re-snapshot
      syncChunkCatalogAppend()
      // stream-log entry: exactly this job's committed files, at the
      // same final dirs — relocation heals above fold INTO them, so
      // healed stubs surface here too, which a tailing stream wants:
      // those acked rows were otherwise lost to it
      logged.commit()
      if (needStats)
        refreshColumnStats(
          showChunks().filter(c => touchedChunks(c.startMicros)).map(_.path))
      // hypertable-side cagg invalidation (insert.c hook): the batch's
      // time range comes from the shared metadata pass (observed metrics
      // of the write job, or the fallback aggregate), not its own agg
      if (caggs.nonEmpty) {
        val rng = observedStats match {
          case Some((_, r)) => r
          case None if batchChunkStats.nonEmpty =>
            Some((batchChunkStats.map(_._2).min, batchChunkStats.map(_._3).max))
          case None => None
        }
        rng.foreach { case (lo, hi) => invalidateCaggs(lo, hi + 1) }
      }
    } finally if (expensiveInput && !observeStats) routed.unpersist()
    // chunks this write CREATED were routed with the current counts — stamp
    // them so later setNumberPartitions calls can't misattribute their
    // layout. A chunk that already EXISTED but has no stamp was created by
    // a stale pre-repartition handle, so its layout is unknown: -1.
    if (repartitioned) {
      val counts = spaceDims.map { case (sc, n, _) => sc -> n }.toMap
      val unknown = spaceDims.map { case (sc, _, _) => sc -> -1 }.toMap
      val pre = preChunks.map(_.startMicros).toSet
      graft.Par.foreach(showChunks()) { c =>
        val dir = new Path(c.path)
        if (Hypertable.readSpaceParts(fs, dir).isEmpty)
          Hypertable.writeSpaceParts(fs, dir,
            if (pre(c.startMicros)) unknown else counts)
      }
    }
    } finally rebirthLocks.foreach { case (lfs, p) =>
      MutationGate.removeMarker(lfs, p)
    }
  }

  // ------------------------------------------------ cagg invalidation hooks
  // The reference collects invalidations HYPERTABLE-side and distributes
  // them to every continuous aggregate on the table (insert hook
  // `tsl/src/continuous_aggs/insert.c`; DML/drop paths
  // `src/process_utility.c:1460-1520`, `src/chunk.c:4064-4101`). Graft
  // mirrors that: caggs register themselves here at create(), and every
  // mutation fans its changed time range out to each registered log, cut at
  // that cagg's own invalidation threshold.

  /** Cagg paths registered on this hypertable (`_graft_caggs`, one per
    * line) — the `continuous_agg` catalog rows pointing at this raw table.
    */
  def caggPaths: Seq[String] = {
    val f = new Path(path, Hypertable.CAGGS)
    if (!fs.exists(f)) Nil
    else Hypertable.readSmallFile(fs, f).split('\n').filter(_.nonEmpty).toSeq.distinct
  }

  /** `DROP TABLE` on the hypertable. RESTRICT like the reference: a table
    * with registered continuous aggregates refuses (their defining queries
    * would dangle) — drop the caggs first.
    */
  def drop(): Unit = withSealedMutation(Seq(None)) {
    // same in-JVM lock registration takes: a concurrent create() either
    // registers before the check (drop refuses) or observes the deleted
    // table (registerCagg refuses) — never a live cagg on a deleted table
    // (mutation monitor outside: an in-flight write/DML completes before
    // the table vanishes under it; ordering is always mutation→registry)
    Hypertable.caggRegistryLock.synchronized {
      require(caggPaths.isEmpty,
        s"hypertable $path has continuous aggregates " +
          s"(${caggPaths.mkString(",")}) — drop them first")
      // tablespace-resident chunk dirs go with the table (read the catalog
      // BEFORE deleting the primary root that holds it)
      val tsDirs = tablespaceTableDirs
      fs.delete(new Path(path), true)
      tsDirs.foreach { d =>
        val dfs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (dfs.exists(d)) dfs.delete(d, true)
      }
      // the table is gone; stop heartbeating its (deleted) lease
      MutationGate.disownMarker(fs, Hypertable.leasePath(qualifiedPath))
    }
  }

  /** Remove a dropped cagg from this table's fan-out registry — without
    * this, every later mutation would resurrect the dead cagg's
    * `_invalidations` dir (appendInvalidation mkdirs it) and log into a
    * view nobody will ever refresh.
    */
  private[graft] def unregisterCagg(caggPath: String): Unit =
    Hypertable.caggRegistryLock.synchronized {
      val rest = caggPaths.filterNot(_ == caggPath)
      val f = new Path(path, Hypertable.CAGGS)
      if (rest.isEmpty) fs.delete(f, false)
      else Hypertable.writeSmallFile(fs, f, rest.mkString("\n"))
    }

  private[graft] def registerCagg(caggPath: String): Unit =
    // in-JVM lock: two concurrent create()s must not lose a registration
    // to the read-modify-write (a lost entry = a cagg that silently never
    // sees invalidations)
    Hypertable.caggRegistryLock.synchronized {
      // a concurrent drop() holds the same lock: registering against a
      // deleted table must fail loudly, not resurrect a stub dir
      require(fs.exists(new Path(path, Hypertable.META)),
        s"hypertable $path no longer exists — cannot register cagg $caggPath")
      val cur = caggPaths
      if (!cur.contains(caggPath))
        Hypertable.writeSmallFile(fs, new Path(path, Hypertable.CAGGS),
          (cur :+ caggPath).mkString("\n"))
    }

  /** The raw time ranges changed — log them into every registered cagg's
    * invalidation log. Overlapping/adjacent input ranges are merged, but
    * DISJOINT ranges stay separate entries (a delete touching the first and
    * last chunk of a year must not invalidate the 50 chunks between).
    */
  private def invalidateCaggs(ranges: Seq[(Long, Long)]): Unit = {
    // `timescaledb.skip_cagg_invalidation` escape hatch: a bulk backfill
    // the operator refreshes explicitly afterwards skips the per-batch
    // log fan-out (cagg_skip_invalidation.sql — every DML path honors it)
    if (graft.plans.Toggles.skipCaggInvalidation) return
    val paths = caggPaths
    if (paths.isEmpty) return
    val merged = graft.Ranges.mergeOverlapping(ranges)
    if (merged.nonEmpty)
      graft.streaming.ContinuousAggregate
        .distributeInvalidation(spark, paths, merged)
  }

  private def invalidateCaggs(loMicros: Long, hiMicros: Long): Unit =
    invalidateCaggs(Seq((loMicros, hiMicros)))

  /** Actual time value in dimension units (micros / raw integer) — NOT the
    * chunk bucket.
    */
  private def timeMicrosExpr(time: Column): Column = timeKind match {
    case "bigint" => time
    case "uuidv7" => gf.uuid_timestamp_micros(time)
    case _        => unix_micros(time.cast("timestamp"))
  }

  /** [min, max+1) of the data's time values. The chunk catalog orders the
    * chunks, so bounds come from the EDGE chunks — parquet footer ranges
    * when the encoding has sound stats (timestamp/bigint), a pruned
    * one-column scan otherwise (uuid strings: binary footer stats may be
    * truncated, so they are never trusted for an exact bound). An edge
    * chunk that is empty or all-null contributes nothing and the walk
    * moves inward — a tail delete that empties the last chunk must not
    * erase the bounds of the data that still exists.
    */
  override def timeBounds: Option[(Long, Long)] = {
    // memoized under catalog="table" on the same stamps as the scan memo
    // (chunk-set / schema / content): realtime-view queries probe bounds
    // per call, and on uuidv7 tables (footer stats never trusted) an
    // unmemoized probe is a real edge-chunk scan per query. List mode
    // keeps per-call probing — no cheap freshness stamp exists there.
    if (genLayout) {
      val stamp = metaStamp()
      cachedTimeBounds match {
        case Some((s, b)) if s == stamp && stamp._1 != -1L => return b
        case _ => ()
      }
      val b = computeTimeBounds()
      cachedTimeBounds = Some((stamp, b))
      b
    } else computeTimeBounds()
  }

  private def computeTimeBounds(): Option[(Long, Long)] = {
    val cs = showChunks()
    if (cs.isEmpty) return None
    // Some(None) = chunk provably holds no time values (empty/all-null);
    // Some(Some(v)) = bound; None = footers can't answer, scan decides
    def viaFooter(c: ChunkInfo, wantMin: Boolean): Option[Option[Long]] =
      timeKind match {
        case "uuidv7" => None
        case _ =>
          graft.operators.Stats.columnRanges(spark, c.path, Seq(timeCol))
            .get(timeCol) match {
            case None => None
            case Some(None) => Some(None)
            case Some(Some((mn, mx))) => (if (wantMin) mn else mx) match {
              case l: java.lang.Long => Some(Some(l.longValue))
              case _ => None
            }
          }
      }
    def viaScan(c: ChunkInfo, wantMin: Boolean): Option[Long] = {
      // a rewrite can leave a listed chunk dir with zero files — that is
      // an empty chunk, not a schema-inference error
      if (graft.operators.Stats.listParquetFiles(spark, c.path).isEmpty) None
      else {
        val a = if (wantMin) min(timeMicrosExpr(col(timeCol)))
                else max(timeMicrosExpr(col(timeCol)))
        val r = spark.read.parquet(c.path).agg(a).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    }
    def bound(order: Seq[ChunkInfo], wantMin: Boolean): Option[Long] =
      order.iterator
        .map(c => viaFooter(c, wantMin).getOrElse(viaScan(c, wantMin)))
        .collectFirst { case Some(v) => v }
    for {
      lo <- bound(cs, wantMin = true)
      hi <- bound(cs.reverse, wantMin = false)
    } yield (lo, hi + 1)
  }

  /** Per-chunk closed-dimension partition counts (chunk start → column →
    * count recorded when the chunk was created; -1 = layout unknown). Only
    * populated once [[setNumberPartitions]] has run.
    */
  def spacePartsCatalog(): Map[Long, Map[String, Int]] =
    if (!repartitioned) Map.empty
    else showChunks().flatMap { c =>
      Hypertable.readSpaceParts(fs, new Path(c.path)).map(c.startMicros -> _)
    }.toMap

  /** set_number_partitions (`sql/ddl_api.sql:81-87`,
    * `ts_dimension_set_num_slices`): change a closed dimension's partition
    * count for chunks created FROM NOW ON. Existing chunks keep their
    * layout (each gets its creation-time count stamped into the chunk
    * catalog first); rows later routed into them still use their own count,
    * and ChunkExclusion prunes each chunk under the count it was built
    * with. Returns the reopened handle — this one keeps the old count.
    */
  def setNumberPartitions(column: String, n: Int): Hypertable = {
    require(n >= 1, s"partition count must be positive, got $n")
    require(spaceDims.exists(_._1 == column),
      s"$column is not a closed dimension of this hypertable " +
        s"(closed dims: ${spaceDims.map(_._1).mkString(", ")})")
    // stamp every existing chunk with its (still-current) counts BEFORE the
    // meta flips, so the new count can never be attributed to them
    val counts = spaceDims.map { case (sc, cn, _) => sc -> cn }.toMap
    graft.Par.foreach(showChunks()) { c =>
      val dir = new Path(c.path)
      if (Hypertable.readSpaceParts(fs, dir).isEmpty)
        Hypertable.writeSpaceParts(fs, dir, counts)
    }
    val newSpaceParts =
      if (spaceCol.contains(column)) n else spacePartitions
    val newExtra = extraSpace.map { case (c, cn) =>
      (c, if (c == column) n else cn)
    }
    Hypertable.writeMeta(spark, path, timeCol, timeKind, chunkWidthMicros,
      chunkMonths, spaceCol, newSpaceParts, newExtra, repartitioned = true,
      genLayout = genLayout)
    Hypertable.at(spark, path)
  }

  /** enable_chunk_skipping (`sql/ddl_api.sql:147-160`, stats machinery
    * `src/ts_catalog/chunk_column_stats.c`): track per-chunk min/max ranges
    * for NON-partition columns so range predicates on them prune chunks at
    * plan time — before any file listing or footer read. The reference
    * restricts this to int/serial/timestamp-like columns; same here
    * (numeric, timestamp, date — whatever parquet footer stats can order
    * soundly).
    *
    * Ranges come from parquet footers (no data scan), are stored in the
    * chunk catalog (`_graft_colstats`), and refresh on every path that
    * changes a chunk's contents (write routing, compress/decompress,
    * merge/split/update/delete rewrites, attach). A chunk with no recorded
    * range for a column is never pruned on it — unknown stays safe.
    */
  def enableChunkSkipping(columns: String*): Unit = {
    val cur = skipColumns
    val add = columns.filterNot(cur.contains)
    require(!columns.contains(timeCol),
      s"$timeCol is the open dimension — chunk exclusion already prunes on it")
    writeSkipCols(cur ++ add)
    refreshColumnStats(showChunks().map(_.path))
  }

  /** disable_chunk_skipping (`sql/ddl_api.sql:162-174`). Stats files keep
    * other columns' ranges; the dropped column's entries go stale and are
    * simply no longer consulted (next refresh rewrites them). Disabling a
    * column that was never enabled errors, like the reference
    * ("statistics not enabled for column", `chunk_column_stats.c`).
    */
  def disableChunkSkipping(columns: String*): Unit = {
    val cur = skipColumns
    val missing = columns.filterNot(cur.contains)
    require(missing.isEmpty,
      s"statistics not enabled for column(s) ${missing.mkString(", ")}")
    writeSkipCols(cur.filterNot(columns.contains))
  }

  /** Columns with chunk-skipping ranges enabled (ddl_api's
    * chunk_column_stats catalog entries).
    */
  def skipColumns: Seq[String] = {
    val f = new Path(path, SKIPCOLS)
    if (!fs.exists(f)) Seq.empty
    else Hypertable.readSmallFile(fs, f).split('\n').map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def writeSkipCols(cols: Seq[String]): Unit = {
    Hypertable.writeSmallFileDirect(fs, new Path(path, SKIPCOLS),
      cols.mkString("\n"))
  }

  /** Recompute and persist the skip-column ranges of the given chunk dirs
    * from their parquet footers (executor-side; no data read).
    */
  private[graft] def refreshColumnStats(chunkPaths: Seq[String]): Unit = {
    val cols = skipColumns
    if (cols.isEmpty) return
    graft.Par.foreach(chunkPaths) { cp =>
      if (fs.exists(new Path(cp)))
        Hypertable.writeColStatsFile(fs, new Path(cp),
          graft.operators.Stats.columnRanges(spark, cp, cols))
    }
  }

  /** The chunk-skipping catalog: chunk start → column → recorded range
    * (None = column all-null in that chunk; absent = no sound range).
    */
  def columnStatsCatalog(): Map[Long, Map[String, Option[(Any, Any)]]] = {
    // gate on the CURRENT enabled list: stats files persist across
    // disable_chunk_skipping, but a disabled column must not prune
    val enabled = skipColumns.toSet
    if (enabled.isEmpty) return Map.empty
    showChunks().flatMap { c =>
      Hypertable.readColStatsFile(fs, new Path(c.path))
        .map(m => c.startMicros -> m.filter { case (k, _) => enabled(k) })
    }.toMap
  }

  /** The table's DECLARED data schema (the ALTER TABLE catalog analogue):
    * stamped by the first write, widened by [[alterAddColumn]]. None on a
    * pre-stamp table (reads fall back to parquet inference, the old
    * behavior).
    */
  def dataSchema: Option[org.apache.spark.sql.types.StructType] = {
    val f = new Path(path, Hypertable.SCHEMA)
    if (!fs.exists(f)) None
    else Some(org.apache.spark.sql.types.StructType.fromDDL(
      Hypertable.readSmallFile(fs, f)))
  }

  private def stampSchema(s: org.apache.spark.sql.types.StructType): Unit = {
    val p = new Path(path, Hypertable.SCHEMA)
    val prev =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: Exception => -1L }
    Hypertable.writeSmallFile(fs, p, s.toDDL)
    // strictly-past-previous: read()'s scan memo keys on this mtime, and
    // the tmp-swap preserves the tmp file's (possibly same-tick) mtime
    fs.setTimes(p, math.max(System.currentTimeMillis(), prev + 1), -1)
  }

  /** `ALTER TABLE ... ADD COLUMN` — widen the declared schema. Instant and
    * metadata-only, like the reference: no file is rewritten; rows written
    * before the ALTER read back NULL for the new column (the declared
    * schema drives every read, and the parquet reader fills columns a file
    * does not carry).
    */
  def alterAddColumn(name: String, ddlType: String): Unit =
      withSealedMutation(Seq(None)) {
    val cur = dataSchema.getOrElse(throw new IllegalStateException(
      s"hypertable $path has no declared schema yet — the first write stamps it"))
    require(!cur.fieldNames.contains(name), s"column $name already exists")
    val dt = org.apache.spark.sql.types.DataType.fromDDL(ddlType)
    stampSchema(org.apache.spark.sql.types.StructType(
      cur.fields :+ org.apache.spark.sql.types.StructField(name, dt)))
  }

  /** Conform a write batch to the declared schema: unknown columns error
    * (the reference's INSERT "column does not exist"), missing columns
    * fill NULL (INSERT with a column list), present columns cast to the
    * declared type (SQL assignment coercion) — so every file on disk
    * carries the full current schema in declared order. First write
    * stamps the schema instead.
    */
  private def conformToSchema(df: DataFrame): DataFrame = dataSchema match {
    case None => stampSchema(df.schema); df
    case Some(decl) =>
      val extra = df.columns.filterNot(decl.fieldNames.contains)
      require(extra.isEmpty,
        s"column(s) ${extra.mkString(",")} do not exist on $path — " +
          "alterAddColumn first (ALTER TABLE semantics)")
      decl.fields.foldLeft(df) { (d, f) =>
        if (d.columns.contains(f.name)) d.withColumn(f.name, col(f.name).cast(f.dataType))
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(decl.fieldNames.map(col): _*)
  }

  /** Declared-schema read of a chunk-dir path (NULL-fills columns the
    * files predate); parquet inference on pre-stamp tables.
    */
  private def readPaths(paths: String*): DataFrame = dataSchema match {
    case Some(s) => spark.read.schema(s).parquet(paths: _*)
    case None => spark.read.parquet(paths: _*)
  }

  /** Full table read; `_chunk` (and `_space`) come back as partition cols.
    * Registers this table's chunk catalog so [[graft.plans.ChunkExclusion]]
    * turns plain `where(ts ...)` predicates into partition pruning. The
    * declared schema (when stamped) drives the read, so files written
    * before an ALTER ADD COLUMN surface the new column as NULL — Spark
    * appends the partition columns it discovers to a user-specified
    * schema, so pruning is unaffected.
    */
  /** Table-catalog fast path for repeated plain reads: ONE resolved scan
    * per (catalog snapshot, declared schema) generation.
    * `spark.read.parquet(root)` pays O(chunks) partition discovery per
    * CALL (ScaleProbe catalog probe: 15–21 s at 10,080 chunks), and a
    * session typically issues many queries against an unchanged table.
    * Under `catalog="table"` the latest manifest version is the
    * freshness stamp — every chunk-set mutation publishes a new version
    * (and [[refreshChunkCatalog]] publishes one), so the memo invalidates
    * exactly when the chunk set can have changed; ALTER ADD COLUMN
    * invalidates via the schema file's stamp. List-mode tables skip the
    * memo (no cheap stamp — and their whole contract is per-query
    * listing).
    */
  @volatile private var cachedScan: Option[((Long, Long, Long), DataFrame)] = None
  @volatile private var cachedTimeBounds:
    Option[((Long, Long, Long), Option[(Long, Long)])] = None
  private def metaStamp(): (Long, Long, Long) = {
    def m(n: String) =
      try fs.getFileStatus(new Path(path, n)).getModificationTime
      catch { case _: Exception => -1L }
    // content rewrites stamp the CHUNK's own storage root (a compressed
    // chunk may live in a tablespace dir) — take the max across roots.
    // Object-store mode keys on the stamp's embedded COUNTER instead of
    // its mtime (strictly monotonic; immune to PUT-time granularity)
    val mtimeOk = Hypertable.mtimeReliable(fs)
    val content = (new Path(path) +: tablespaceTableDirs).map { r =>
      val rfs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (mtimeOk)
        try rfs.getFileStatus(new Path(r, Hypertable.CONTENT_STAMP))
          .getModificationTime
        catch { case _: Exception => -1L }
      else Hypertable.readContentCounter(rfs, r)
    }.max
    // first component: the manifest VERSION (monotonic — a chunk-set
    // mutation can never reuse a stamp, regardless of mtime granularity)
    (catalog.version(), m(Hypertable.SCHEMA), content)
  }

  /** Content-rewrite hook (DML copy-on-write): see
    * [[Hypertable.touchContentStamp]].
    */
  private[sources] def markContentChanged(): Unit =
    Hypertable.touchContentStamp(fs, new Path(path))

  private def exclusionInfo: Hypertable.ExclusionInfo =
    Hypertable.ExclusionInfo(
      qualifiedPath, timeCol, () => showChunks(),
      spaceDims,
      () => columnStatsCatalog(),
      () => spacePartsCatalog(),
      () => skipColumns)

  /** Wrap a public read surface in a reader epoch (ReaderEpochs):
    * registered at the PRIMARY root BEFORE the snapshot (manifest /
    * chunk listing) the plan resolves from is read, and tied to the
    * built plan's reachability — the GC consults the primary root's
    * epochs wherever the chunk physically lives, so a reader slower than
    * `gc.graceMs` keeps its planned generations exactly (SCALE.md §18).
    * Zero FS ops while a standing epoch exists; one small write on the
    * first read per (process, table).
    */
  private def withReaderEpoch(build: => DataFrame): DataFrame = {
    val epoch = ReaderEpochs.begin(spark, fs, new Path(path))
    val df =
      try build
      catch { case e: Throwable => epoch.cancel(); throw e }
    epoch.attachPlan(df)
    df
  }

  def read(): DataFrame = {
    assertLayoutCurrent()
    withReaderEpoch {
      val info = exclusionInfo
      Hypertable.registerForExclusion(info)
      if (genLayout) {
        val stamp = metaStamp()
        (cachedScan match {
          case Some((s, df)) if s == stamp && stamp._1 != -1L => Some(df)
          case _ => None
        }).getOrElse {
          val df = buildScan(info)
          cachedScan = Some((stamp, df))
          df
        }
      } else buildScan(info)
    }
  }

  private def buildScan(info: Hypertable.ExclusionInfo): DataFrame = {
    // gen layout: the full read is an EXPLICIT enumeration of the live
    // generation dirs from the pinned manifest — the snapshot the memoized
    // DataFrame (and its eagerly-listed FileIndex) carries until the next
    // manifest version. Root discovery would also sweep superseded
    // generations (they are k=v dirs, visible to it). The per-root
    // grouping inside readChunkDirs keeps one scan per storage root, so
    // plan width matches the root-discovery shape.
    if (genLayout) {
      val cs = showChunks()
      if (cs.nonEmpty) return readChunkDirs(cs)
      // empty table: zero rows with the table's schema. NOT a plain root
      // read — dropped-but-graced chunk dirs still hold their files, and
      // root discovery would resurrect them (a post-drop reader must see
      // the post-drop set). The all-false filter keeps schema behavior
      // (inference error on a never-written, schema-less table — same as
      // the flat layout) while the optimizer collapses the scan to empty.
      return readPaths(path).where(lit(false)).drop(Hypertable.GEN)
    }
    // chunks living in attached tablespace roots: union one scan per root
    // (same schema, same `_chunk`/`_space` partition discovery), each
    // registered in the exclusion catalog so time/space/stats pruning
    // applies root-by-root. The common no-tablespace case stays a single
    // scan with zero extra I/O beyond one small-file existence check.
    val extra = tablespaceTableDirs.filter(d => listChunksUnder(d).nonEmpty)
    if (extra.isEmpty) readPaths(path)
    else {
      // with chunks in MULTIPLE roots, run the duplicate-start guard the
      // table-mode catalog read gets for free: a crashed move/relocation
      // leaves one chunk visible in two roots, and a silent union would
      // DOUBLE-COUNT its rows — the loud refusal (and its manual-merge
      // message) must come from every read path, not just showChunks
      // consumers. One extra listing per root on a path that is already
      // per-query listing by contract.
      checkNoDuplicateStarts(listAllChunks())
      extra.foreach { d =>
        val q = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(d).toString
        Hypertable.registerForExclusion(info.copy(qualifiedPath = q))
      }
      val primaryScan =
        if (listChunksUnder(new Path(path)).nonEmpty) Seq(readPaths(path))
        else Nil // avoid an unanchored empty-dir scan when all chunks moved
      (primaryScan ++ extra.map(d => readPaths(d.toString)))
        .reduceLeft(_ unionByName _)
    }
  }

  /** Read the hypertable as a Structured Streaming source — the change
    * stream of the table, feeding downstream streaming caggs or CDC-style
    * pipelines ([[org.apache.spark.sql.graftstream.GraftStreamSource]]).
    *
    * The source tails the table's change feed
    * ([[graft.streaming.StreamLog]]): every [[write]] batch and every
    * [[attachChunk]] appends one entry naming exactly the files it
    * committed, so per-trigger discovery is O(new files), independent of
    * table width (SCALE.md §16). Calling this
    * enables the log; writers log only while it exists, and the source
    * re-checks, so a batch written between the snapshot and the first
    * trigger cannot be missed.
    *
    * `startingPosition`: `"earliest"` emits the table's live snapshot as
    * batch 0 — resolved from the catalog, so grace-retained superseded
    * generations and dropped chunks never enter it — then every later
    * append; `"latest"` streams only appends after the start. Either way
    * a new checkpoint starts past every log entry written before its
    * snapshot (an earlier stream's), so none of them is replayed. Each
    * file is delivered exactly once per checkpoint. Files of every
    * storage root stream, tablespaces included.
    *
    * What streams: `write()` batches, `attachChunk` and the start
    * snapshot. What does not: rewrites (compress/decompress, merge/split,
    * DML) — their rows were already delivered, so maintenance never
    * re-emits — nor `moveChunk`, nor files placed in chunk dirs outside
    * `write()`/`attachChunk`. On flat tables (`catalog="list"`) a rewrite
    * swaps files in place, and a checkpoint replay still reads the files
    * its batch recorded: run compaction and DML on chunks only after
    * their consumers have drained past them. Gen-layout tables keep the
    * superseded generation for `gc.graceMs`.
    *
    * `schema`: required before the first chunk exists (parquet cannot
    * infer one from an empty table); otherwise inferred from one chunk.
    * The stream surfaces `_chunk` (and `_space*`), never `_gen`. Setup
    * pays one manifest resolve, the one-chunk inference read (~2 s at
    * 10k chunks) and, on a fresh checkpoint, the one-time snapshot
    * listing — amortized by a standing stream.
    */
  def readStream(schema: Option[org.apache.spark.sql.types.StructType] = None,
      startingPosition: String = "earliest"): DataFrame = {
    assertLayoutCurrent()
    StreamLog.enableStreamLog(spark, path)
    var r = spark.readStream
      .format("org.apache.spark.sql.graftstream.GraftStreamSourceProvider")
      .option("path", path)
      .option("startingPosition", startingPosition)
    schema.foreach(s => r = r.schema(s))
    r.load()
  }

  private lazy val qualifiedPath: String =
    fs.makeQualified(new Path(path)).toString

  /** Read with chunk exclusion: the chunk catalog (dir listing + recorded
    * ranges) supplies the `_chunk` partition IN-list, plus the row-level
    * time predicate — plan-time exclusion like the reference's
    * constraint-scan (`src/planner/expand_hypertable.c:1007-1172`,
    * `ChunkScanCtx` `src/chunk.h:93-98`). Catalog-driven (not arithmetic)
    * so merged/split chunks with non-derived ranges still resolve.
    */
  /** Direct scan of ONLY the given chunk dirs, grouped per storage root so
    * `basePath` keeps the partition columns parsing. At width this is the
    * load-bearing planning shape: `spark.read.parquet(root)` pays
    * O(all chunks) partition discovery PER QUERY — measured 15-21 s/query
    * at 10,080 chunks (ScaleProbe catalog probe) — while the
    * catalog-driven direct scan lists only the chunks it reads (0.15 s for
    * 2 of 10,080). An empty hit set falls back to an all-false-filtered
    * full read: correct schema, and the wide listing only on a
    * provably-empty result.
    */
  private def readChunkDirs(hits: Seq[ChunkInfo]): DataFrame = {
    if (hits.isEmpty) return read().where(lit(false))
    // register so ChunkExclusion (which maps `_chunk=` roots back to the
    // owning table) can still narrow FURTHER predicates layered on this
    // already-pruned scan — e.g. realtime-view queries well above the
    // watermark seam. Tablespace-resident chunk dirs map to THEIR root,
    // so each attached root registers too (mirroring buildScan). Note the
    // rule's catalog consult on these scans is not an added cost: the
    // pre-direct-scan formulation (read().where) triggered the same
    // consult on the same predicates.
    Hypertable.registerForExclusion(exclusionInfo)
    tablespaceTableDirs.foreach { d =>
      val q = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(d).toString
      Hypertable.registerForExclusion(exclusionInfo.copy(qualifiedPath = q))
    }
    // group by STORAGE ROOT (a gen path's parent is its chunk dir — one
    // group per chunk would explode plan width); basePath=root keeps the
    // `_chunk`/`_gen`/`_space` partition columns parsing per group
    val byRoot = hits.groupBy(c =>
      Hypertable.storageRootOf(new Path(c.path)).toString)
    byRoot.toSeq.sortBy(_._1).map { case (root, cs) =>
      val r0 = spark.read.option("basePath", root)
      dataSchema.fold(r0)(s => r0.schema(s)).parquet(cs.map(_.path).sorted: _*)
    }.reduceLeft(_ unionByName _)
      // the generation is physical-layout metadata, not table surface
      .drop(Hypertable.GEN)
  }

  def between(startMicros: Long, endMicros: Long): DataFrame =
    between(startMicros, endMicros, inlineEnd = true)

  /** [[between]]; with `inlineEnd = false` the end bound is a
    * [[graft.expressions.ReferencedConstant]] instead of a literal, so
    * scans that differ only in the end share one compiled code body. For
    * an end that moves with every append (the table's probed max): the
    * end then prunes no row group, only rows.
    */
  private[graft] def between(startMicros: Long, endMicros: Long,
      inlineEnd: Boolean): DataFrame = withReaderEpoch {
    val all = showChunks()
    val hits = all
      .filter(c => c.startMicros < endMicros && c.endMicros > startMicros)
    def end(literal: Column, value: Any, dt: org.apache.spark.sql.types.DataType) =
      if (inlineEnd) literal
      else org.apache.spark.sql.GraftShims.toColumn(
        graft.expressions.ReferencedConstant(value, dt))
    val rowFilter = timeKind match {
      case "bigint" => col(timeCol) >= lit(startMicros) &&
        col(timeCol) < end(lit(endMicros), endMicros,
          org.apache.spark.sql.types.LongType)
      case "uuidv7" =>
        // boundary v7 uuids (zero random bits) are the smallest uuid of
        // their timestamp, and v7 strings sort by time: plain string-range
        // predicates — pushed down to parquet — bound the embedded time
        val hi = boundaryUuid(endMicros)
        col(timeCol) >= lit(boundaryUuid(startMicros)) &&
          col(timeCol) < end(lit(hi),
            org.apache.spark.unsafe.types.UTF8String.fromString(hi),
            org.apache.spark.sql.types.StringType)
      case _ =>
        col(timeCol) >= timestamp_micros(lit(startMicros)) &&
          col(timeCol) < end(timestamp_micros(lit(endMicros)), endMicros,
            org.apache.spark.sql.types.TimestampType)
    }
    // a window covering EVERY chunk (the full-range refresh shape) gains
    // nothing from per-dir enumeration — one root discovery (plus the
    // table-mode scan memo) beats N per-path listings when N is the whole
    // table (measured: m=100 cagg_refresh 3.3 s direct vs 2.0 s root).
    // The direct scan is for windows that EXCLUDE most of the table.
    if (hits.size == all.size && tablespaceTableDirs.isEmpty)
      read().where(rowFilter)
    else readChunkDirs(hits).where(rowFilter)
  }

  private def boundaryUuid(us: Long): String =
    graft.expressions.UuidV7Util.format(
      graft.expressions.UuidV7Util.create(us, boundary = true)).toString

  def between(start: java.sql.Timestamp, end: java.sql.Timestamp): DataFrame =
    between(start.getTime * 1000L, end.getTime * 1000L)

  /** Join-driven (runtime) chunk exclusion — the reference's
    * ConstraintAwareAppend / ChunkAppend runtime exclusion
    * (`src/nodes/chunk_append/exec.c`, `src/planner/
    * constraint_aware_append.c`): `WHERE ts IN (SELECT ...)` shapes where
    * the excluding values exist only once another query runs, so plan-text
    * analysis ([[graft.plans.ChunkExclusion]]) can't see them.
    *
    * Spark-first equivalent: the driving side of such a plan is small by
    * construction (it's being used to constrain a scan), so its CHUNK-KEY
    * image is evaluated eagerly — one distinct over the derived bucket key,
    * map-side combined on the executors; only the keys (bounded by the
    * subquery's time span / chunk width, not its row count) reach the
    * driver. The scan then plans with `_chunk IN (hits)` metadata pruning —
    * the same partition-level exclusion `between` gets from literal bounds —
    * and the row-level membership test stays a broadcast left-semi join.
    * Chunks are matched by RANGE OVERLAP against the catalog, not key
    * equality, so merged/split chunks with non-aligned starts still resolve.
    *
    * At 100 TB: the eager subquery is one extra small job before the scan —
    * exactly the work the reference's executor does when it evaluates
    * runtime constraints before opening chunks.
    */
  def whereTimeIn(sub: DataFrame, subTime: Column): DataFrame = withReaderEpoch {
    val probe = "_graft_in_t"
    val subT = normalizeTime(sub.select(subTime.as(probe)), probe)
    // NULL subquery times can never match `IN` (same as SQL), so they
    // contribute no chunk key — filtered rather than crashing on the cast
    val keys = subT.select(chunkKey(col(probe)).as("k")).where(col("k").isNotNull)
      .distinct()
      .collect().map(_.get(0) match {
        case n: java.lang.Number => n.longValue()
        case other => throw new IllegalStateException(s"non-numeric chunk key: $other")
      })
    // a key covers [k, defaultChunkEnd(k)); a chunk is hit if any key's
    // bucket overlaps its recorded range (split chunks start mid-bucket)
    val hit = showChunks()
      .filter(c => keys.exists(k =>
        k < c.endMicros && defaultChunkEnd(k) > c.startMicros))
    readChunkDirs(hit)
      .join(broadcast(subT.distinct()),
        col(timeCol) === col(probe), "left_semi")
  }

  /** Ordered append (`src/nodes/chunk_append/chunk_append.c:506-520` +
    * the batch-sorted-merge idea of `batch_queue_heap.c`): a full-table
    * time-ordered read WITHOUT a range shuffle. Chunk ranges are disjoint,
    * so concatenating chunks in time order with a per-chunk local sort
    * yields globally ordered partitions — the exchange and boundary
    * sampling of a global ORDER BY are skipped entirely; only the cheap
    * in-chunk sorts remain (already nearly free on columnstore chunks
    * sorted by `orderBy(timeCol)`).
    *
    * The ordering is physical (partition iteration order), not declared to
    * Catalyst: consume it with writers/iterators that preserve partition
    * order, not with a later ORDER BY (which would re-sort). One task per
    * chunk — the ordered-iteration shape (the reference's ChunkAppend is
    * likewise ordered OR parallel, not both); use plain `read()` for wide
    * parallel scans.
    */
  def orderedRead(descending: Boolean = false): DataFrame = withReaderEpoch {
    val chunks = showChunks()
    if (chunks.isEmpty) return read()
    val ordered = if (descending) chunks.reverse else chunks
    val sortCol = if (descending) col(timeCol).desc else col(timeCol).asc
    val df = ordered.map { c =>
      readPaths(c.path)
        .withColumn(CHUNK, lit(c.startMicros))
        .coalesce(1)
        .sortWithinPartitions(sortCol)
    }.reduce(_ unionByName _)
    // batch-sorted-merge declaration (plans/SortedMerge.scala): chunk
    // ranges are disjoint and concatenated in range order with per-chunk
    // sorts, so the scan is ALREADY range-partitioned + sorted on time —
    // declare it and a downstream ORDER BY plans no exchange and no sort
    val analyzed = df.queryExecution.analyzed
    val tsAttr = analyzed.output.find(_.name == timeCol).get
    val so = org.apache.spark.sql.catalyst.expressions.SortOrder(tsAttr,
      if (descending) org.apache.spark.sql.catalyst.expressions.Descending
      else org.apache.spark.sql.catalyst.expressions.Ascending)
    org.apache.spark.sql.GraftShims.ofRows(spark,
      graft.plans.DeclareOrdered(Seq(so), analyzed))
  }

  /** show_chunks (`sql/ddl_api.sql:100-108`): all chunks, optionally only
    * those fully older than `olderThan` (range end ≤ cutoff) and/or
    * starting at/after `newerThan` (range start ≥ cutoff) — the
    * reference's bound semantics. A chunk's range is
    * [dirStart, dirStart+width) unless a `_range` file (written by
    * merge/split) records a different end.
    */
  def showChunks(olderThanMicros: Option[Long] = None,
      newerThanMicros: Option[Long] = None): Seq[ChunkInfo] = {
    assertLayoutCurrent()
    if (!tablespacesHealed) {
      tablespacesHealed = true
      healTablespaceMarkers()
    }
    val chunks =
      if (genLayout) {
        // crash-recovery staleness check ONCE per handle: a process that
        // died between a data commit and syncChunkCatalog() left committed
        // chunks invisible to catalog reads; the next session's first use
        // heals it. Per-QUERY checking would defeat the catalog (and
        // reintroduce listing whenever anything else touches the root).
        if (!catalogValidated) {
          catalogValidated = true
          if (!catalogFresh()) {
            // the heal WRITES a manifest version only in the process
            // holding the mutator lease: a pure-reader process writing
            // could collide with the real mutator's concurrent sync on
            // the same version number (both compute next = N+1; the last
            // delete+rename wins and could persist the reader's OLDER
            // view over the mutator's). A reader instead heals in memory:
            // stamp first, then list, cached like a parsed manifest — the
            // next real sync bumps the stamp and takes over.
            if (Hypertable.holdsMutatorLease(fs, qualifiedPath) ||
                MutationGate.holdsAppendLease(qualifiedPath))
              refreshChunkCatalog()
            else {
              val s0 = catalog.version()
              val cs = listAllChunks()
              checkNoDuplicateStarts(cs)
              if (s0 != -1L) cachedCatalog = Some((s0, cs))
            }
          }
        }
        // parsed-catalog memo: the snapshot JSON is ~100 B/chunk, and every
        // planned query calls showChunks — at 10⁵ chunks an unmemoized
        // parse is 0.21 s/query (measured, SCALE.md §2); the memo makes the
        // steady state one listing. A miss caches the chunks under the
        // version they were read from, so a publish racing the read is
        // never served stale-as-fresh. Every mutation publishes a version,
        // so the first query after one re-parses (and re-checks) once.
        val pre = catalog.version()
        cachedCatalog match {
          case Some((s, cs)) if s == pre && pre != -1L => cs
          // sentinel: a reader's listing of a manifest-less table (writer
          // crashed before its first refresh; the reader cannot persist).
          // Valid exactly while NO stamp exists — the moment any process
          // publishes a manifest, pre != -1 invalidates it. Stale only if
          // a second writer crash adds chunks with the manifest STILL
          // absent; the open-time staleness heal bounds that per handle.
          case Some((-2L, cs)) if pre == -1L => cs
          case _ =>
            readChunkCatalog() match {
              case Some((v, cs)) =>
                checkNoDuplicateStarts(cs)
                cachedCatalog = Some((v, cs))
                cs
              case None =>
                // no manifest yet: persist the first one only as the
                // lease holder (same reader-write hazard as the heal). A
                // pure reader still MEMOIZES its listing (stamp first,
                // like the heal) — without that, every query against a
                // table whose writer crashed before its first refresh
                // would re-pay the full multi-root listing, the exact
                // O(chunks)-per-query cost the catalog exists to remove
                val cs =
                  if (Hypertable.holdsMutatorLease(fs, qualifiedPath))
                    refreshChunkCatalog()
                  else {
                    val s0 = catalog.version()
                    val l = listAllChunks()
                    cachedCatalog = Some((if (s0 == -1L) -2L else s0, l))
                    l
                  }
                checkNoDuplicateStarts(cs)
                cs
            }
        }
      } else {
        val cs = listAllChunks()
        checkNoDuplicateStarts(cs)
        cs
      }
    chunks
      .filter(c => olderThanMicros.forall(c.endMicros <= _))
      .filter(c => newerThanMicros.forall(c.startMicros >= _))
  }

  /** A chunk start present in two roots means a crashed mid-move/ingest
    * relocation left both halves visible — reading would double rows.
    * Checked when a chunk set is (re)loaded, not on every memo hit.
    */
  private def checkNoDuplicateStarts(chunks: Seq[ChunkInfo]): Unit =
    chunks.groupBy(_.startMicros).find(_._2.size > 1).foreach { case (s, cs) =>
      throw new IllegalStateException(
        s"chunk $s exists in multiple storage roots (${cs.map(_.path).mkString(", ")}) — " +
          "an interrupted move_chunk/ingest relocation; merge the directories manually")
    }

  @volatile private var cachedCatalog: Option[(Long, Seq[ChunkInfo])] = None

  /** The versioned chunk manifest; its version is the memo key (immune
    * to mtime granularity), -1 before the first refresh.
    */
  private def catalog: VersionedCatalog =
    VersionedCatalog.chunks(fs, new Path(path))

  /** Every chunk by PHYSICAL dir listing across all storage roots — the
    * ground truth the "table" catalog snapshots. Gen layout: a torn
    * multi-step merge/split (crash between its publishes) is resolved to
    * a CONSISTENT view via its intent marker before the listing is served.
    * A merge or split run entirely INSIDE the listing leaves no marker:
    * retry (8 times at most) while the markers or a root's content counter,
    * which every publish bumps, moved across the listing.
    */
  private def listAllChunks(): Seq[ChunkInfo] = {
    val roots = new Path(path) +: tablespaceTableDirs
    def list() = roots.flatMap(listChunksUnder).sortBy(_.startMicros)
    if (!genLayout) return list()
    def stamp() = (rewriteIntents(), roots.map(r => Hypertable.readContentCounter(
      r.getFileSystem(spark.sparkContext.hadoopConfiguration), r)))
    var (before, all, after, attempts) = (stamp(), list(), stamp(), 1)
    while (after != before && attempts < 8) {
      before = after; all = list(); after = stamp(); attempts += 1
    }
    applyRewriteIntents(all, after._1)
  }

  /** Rewrite-intent markers with their bodies: (isMerge, start, lines). */
  private def rewriteIntents(): Seq[(Boolean, Long, Seq[String])] =
    rewriteIntentMarkers().map { case (isMerge, start, p) => (isMerge, start,
      try Hypertable.readSmallFile(fs, p).linesIterator.toSeq
      catch { case _: java.io.IOException => Nil }) } // completed meanwhile

  /** Rewrite-intent markers at the primary root: (isMerge, start, path). */
  private def rewriteIntentMarkers(): Seq[(Boolean, Long, Path)] =
    try fs.listStatus(new Path(path)).toSeq.filter(_.isFile).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(Hypertable.MERGING))
        scala.util.Try(n.stripPrefix(Hypertable.MERGING).toLong).toOption
          .map((true, _, st.getPath))
      else if (n.startsWith(Hypertable.SPLITTING))
        scala.util.Try(n.stripPrefix(Hypertable.SPLITTING).toLong).toOption
          .map((false, _, st.getPath))
      else None
    } catch { case _: java.io.FileNotFoundException => Nil }

  /** The reader-safe view of a torn merge/split (see the marker constants):
    *
    *  - MERGE, head's live range already extends to the merged end (its
    *    publish landed): the not-yet-tombstoned absorbed dirs are
    *    EXCLUDED — their rows live in the merged generation. Head range
    *    unchanged → the merge never committed; serve the pre state.
    *  - SPLIT, parent's live range still covers the split point (the
    *    shrink didn't land): the published upper half is EXCLUDED — its
    *    rows still live in the parent. Parent already shrunk → the split
    *    committed; serve both halves.
    *
    * Pure function of the listing + marker bodies, so pure READERS (who
    * may not mutate) get a consistent snapshot too; mutators additionally
    * complete or roll back via [[healRewriteIntents]].
    */
  private def applyRewriteIntents(all: Seq[ChunkInfo],
      intents: Seq[(Boolean, Long, Seq[String])] = rewriteIntents()): Seq[ChunkInfo] = {
    var out = all
    intents.foreach { case (isMerge, start, body) =>
      if (isMerge) body match {
        case endS +: absorbed if absorbed.nonEmpty =>
          val mergedEnd = scala.util.Try(endS.trim.toLong).getOrElse(-1L)
          if (out.exists(c => c.startMicros == start &&
              c.endMicros == mergedEnd)) {
            val dead = absorbed.map(_.trim).toSet
            out = out.filterNot { c =>
              val cd = Hypertable.chunkDirOf(new Path(c.path))
              dead.contains(cd.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
                .makeQualified(cd).toString)
            }
          }
        case _ => ()
      } else body.headOption.flatMap(s =>
        scala.util.Try(s.trim.toLong).toOption).foreach { at =>
        if (out.exists(c => c.startMicros == start && c.endMicros > at))
          out = out.filterNot(_.startMicros == at)
      }
    }
    out
  }

  /** Complete or roll back torn merges/splits (mutating counterpart of
    * [[applyRewriteIntents]] — idempotent, cross-process-safe):
    *
    *  - MERGE committed (head covers the merged end): tombstone the
    *    remaining absorbed dirs, drop the marker. Not committed: drop the
    *    marker — nothing happened (the staged tmp is GC debris).
    *  - SPLIT half-done (upper live, parent not shrunk): roll FORWARD —
    *    re-derive the lower half from the parent's still-complete live
    *    generation (everything below the split point) and publish it,
    *    then drop the marker. Upper missing or parent already shrunk:
    *    drop the marker.
    *
    * Ownership (round 11): a marker whose chunk start has a live FOREIGN
    * seal belongs to a RUNNING merge/split in another process — ops claim
    * their seals BEFORE writing the marker and delete the marker before
    * releasing them, so marker-without-live-seal is exactly the crashed
    * case. Pre-round-11, an appender whose batch routed to unrelated
    * chunks passed the gate during a live foreign merge and deleted the
    * running op's marker here, stripping the crash protection from the
    * very window it guards. Live-owned markers are SKIPPED (the gate's
    * staleness horizon applies to both the seal and the gate wait, so
    * the moment an appender can pass a crashed op's seal, its heal is
    * allowed too). Concurrent healers serialize on a per-marker claim
    * (`_graft_healing/<marker>`), skipped — not queued — when held.
    * The catalog FS lock is NOT held here at all (pre-round-11 it was
    * held across the split roll-forward's whole rewrite JOB, blocking
    * every other process's refresh until gate timeout): readers resolve
    * any intermediate state view-only (applyRewriteIntents), and
    * rewriteChunkDir claims the lock only around its publish step.
    */
  private def healRewriteIntents(): Unit = {
    if (!genLayout || rewriteIntentMarkers().isEmpty) return
    // re-entrancy: the split roll-forward's rewrite consults showChunks,
    // whose staleness heal runs a refresh that would re-enter HERE and
    // roll the same marker forward a second time
    if (Hypertable.healingIntents.get()) return
    Hypertable.healingIntents.set(true)
    try rewriteIntentMarkers().foreach { case (isMerge, start, p) =>
      if (!MutationGate.foreignSealLive(spark, fs, qualifiedPath, start)) {
        val healP = new Path(path, s"${MutationGate.HEAL_DIR}/${p.getName}")
        if (MutationGate.tryClaimExclusive(spark, fs, healP,
            Some((fs, qualifiedPath))))
          try {
            // re-verify under the claim: the owner may have completed, or
            // another healer resolved it, between the listing and here
            if (fs.exists(p) && !MutationGate.foreignSealLive(spark, fs,
                qualifiedPath, start))
              healOneRewriteIntent(isMerge, start, p)
          } finally MutationGate.removeMarker(fs, healP)
      }
    } finally Hypertable.healingIntents.set(false)
  }

  private def healOneRewriteIntent(isMerge: Boolean, start: Long,
      p: Path): Unit = {
    val body =
      try Hypertable.readSmallFile(fs, p).linesIterator.toSeq
      catch { case _: java.io.IOException => Nil }
    val listed = (new Path(path) +: tablespaceTableDirs)
      .flatMap(listChunksUnder)
    if (isMerge) body match {
      case endS +: absorbed if absorbed.nonEmpty =>
        val mergedEnd = scala.util.Try(endS.trim.toLong).getOrElse(-1L)
        if (listed.exists(c => c.startMicros == start &&
            c.endMicros == mergedEnd))
          absorbed.map(_.trim).foreach { d =>
            val cd = new Path(d)
            val cfs = cd.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (cfs.exists(cd) && !GenStore.isTombstoned(cfs, cd))
              GenStore.chunks.tombstoneChunk(cfs, cd)
          }
        fs.delete(p, false)
      case _ => fs.delete(p, false)
    } else {
      body.headOption.flatMap(s =>
        scala.util.Try(s.trim.toLong).toOption) match {
        case Some(at) =>
          val parent = listed.find(c => c.startMicros == start &&
            c.endMicros > at)
          // the upper half counts only when COMPLETE: its `_range` is
          // written before its commit, so a listed upper without one is
          // torn debris (an older version could publish a new chunk's
          // stage before its write finished) — its rows still live in the
          // unshrunk parent, so it is retired, never rolled forward onto
          val upper = listed.find(_.startMicros == at).map { u =>
            val up = new Path(u.path)
            (up.getFileSystem(spark.sparkContext.hadoopConfiguration), up)
          }
          val upperDone = upper.exists { case (ufs, up) =>
            Hypertable.readRangeFile(ufs, up).isDefined }
          parent.foreach { c =>
            if (upperDone)
              rewriteChunkDir(c.startMicros, at,
                chunkRows(c).where(!atOrLaterExpr(at)),
                forceCompressed =
                  Some(Columnstore.isCompressed(spark, c.path)))
            else upper.foreach { case (ufs, up) =>
              GenStore.chunks.tombstoneChunk(ufs, Hypertable.chunkDirOf(up)) }
          }
          fs.delete(p, false)
        case None => fs.delete(p, false)
      }
    }
  }

  /** Dropped-but-graced chunk dirs across all storage roots (gen layout):
    * the write path must route around them. One listing per root; the
    * tombstone existence probe runs only for dirs ABSENT from the live
    * catalog set (a live chunk holds an unstamped, untombstoned
    * generation by construction), so the steady no-tombstone append pays
    * zero probes instead of one per chunk.
    */
  private def tombstonedChunkDirs(liveDirs: Set[String]): Seq[(Long, Path)] =
    (new Path(path) +: tablespaceTableDirs).flatMap { r =>
      val rfs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!rfs.exists(r)) Nil
      else rfs.listStatus(r).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$CHUNK="))
        .filterNot(s => liveDirs.contains(
          rfs.makeQualified(s.getPath).toString))
        .filter(s => GenStore.isTombstoned(rfs, s.getPath))
        .map(s => s.getPath.getName.stripPrefix(s"$CHUNK=").toLong -> s.getPath)
    }

  /** Publish the physical chunk set as the next manifest version and
    * return it — the "table" catalog's refresh, called by every mutator
    * that can change the chunk set or a chunk's recorded range.
    *
    * Serialized per table path within the JVM: catalog snapshots only ever
    * run on the driver (mutators and the once-per-handle crash heal), so a
    * concurrent heal from a fresh handle racing a mutator's sync would
    * otherwise publish the same version number. The reference holds the
    * hypertable catalog lock across the analogous update
    * (`src/ts_catalog/catalog.c`); one JVM lock is the same scope here
    * because chunk-set mutation is a driver-side operation.
    */
  def refreshChunkCatalog(): Seq[ChunkInfo] =
    Hypertable.catalogLock(qualifiedPath).synchronized {
      // torn merges/splits first (their intent markers), in any MUTATING
      // process — readers resolve them view-only (applyRewriteIntents).
      // BEFORE the commit lock: a split roll-forward is a data JOB, and
      // the flock's contract is metadata-commit-only (never across a job)
      if (genLayout && (Hypertable.holdsMutatorLease(fs, qualifiedPath) ||
          MutationGate.holdsAppendLease(qualifiedPath)))
        healRewriteIntents()
      // cross-process: a standing appender's refresh and the maintenance
      // process's publish/patch must not interleave (torn listing of a
      // mid-publish chunk, or a version collision persisting the older
      // view) — the JVM lock above covers only this process
      MutationGate.withCatalogFsLock(spark, fs, qualifiedPath) {
        refreshChunkCatalogLocked()
      }
    }

  private def refreshChunkCatalogLocked(): Seq[ChunkInfo] = {
    // GC piggybacks on the refresh's full listing: graced-out superseded
    // generations, tombstoned dirs, and crash-remnant generations go here
    // (under the catalog lock, so a publish's stamps never interleave,
    // and in-flight stages carry a live staging marker — a remnant seen
    // here is a genuinely dead rewrite).
    // ONLY in the process holding the mutator lease: a pure-READER
    // process also reaches this method (the staleness heal), and its
    // catalogLock is JVM-local — letting it delete "remnants" would race
    // the real mutator's publish window cross-process (it could reap a
    // just-written generation before its superseded stamp lands). Readers
    // heal the manifest; only the mutator collects garbage.
    if (genLayout && Hypertable.holdsMutatorLease(fs, qualifiedPath)) {
      val grace = GenStore.graceMs(spark)
      // reader epochs live at the PRIMARY root wherever the chunk is
      // stored — one LIST per sweep, not per chunk
      val floor = ReaderEpochs.liveFloor(spark, fs, new Path(path))
      val skew = ReaderEpochs.skewMs(spark)
      (new Path(path) +: tablespaceTableDirs).foreach { r =>
        val rfs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (rfs.exists(r))
          rfs.listStatus(r).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$CHUNK="))
            .foreach(s => GenStore.chunks.gcChunkDir(rfs, s.getPath, grace,
              floor, skew))
      }
    }
    val chunks = listAllChunks()
    // record each root's content-stamp counter: the mtime-free freshness
    // cue (catalogFresh) compares live counters against these
    val cs = (new Path(path) +: tablespaceTableDirs).flatMap { r =>
      val rfs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val c = Hypertable.readContentCounter(rfs, r)
      if (c >= 0) Some(rfs.makeQualified(r).toString -> c) else None
    }.toMap
    ChunkManifest.publish(catalog, catalog.version(), chunks, cs)
    chunks
  }

  /** The latest manifest: (version, chunks sorted by start). */
  private def readChunkCatalog(): Option[(Long, Seq[ChunkInfo])] =
    catalog.latest().map { case (v, body) =>
      v -> ChunkManifest.decode(body).chunks }

  /** Post-mutation hook: on the generation layout every chunk-set /
    * range-changing operation publishes a manifest; a no-op on the flat
    * layout.
    */
  private def syncChunkCatalog(): Unit =
    if (genLayout) { refreshChunkCatalog(); () }

  /** Append-path catalog sync (round 11): an append changes the chunk
    * set only by OPENING new dirs (or committing a rebirth) — existing
    * chunks keep their data path and recorded range. The full re-snapshot
    * [[syncChunkCatalog]] runs resolves EVERY chunk (tombstone probe +
    * generation listing + superseded probes + range read ≈ 4 small-file
    * ops each): measured seconds per batch at 10⁴-chunk width — an
    * O(chunks) tax on every ingest batch that only grows with table age.
    * This patch instead does ONE names-only listing per storage root,
    * reuses the latest manifest's entry verbatim for every dir it
    * already knows, and fully resolves only the dirs it does not (this
    * batch's new chunks, a CRASHED batch's unlisted chunks — the listing
    * keeps that heal — and rebirths, whose dirs left the manifest at
    * drop time). Two deliberate conservatisms:
    *
    *  - the previous manifest's content-counter map (`cs`) is copied
    *    UNCHANGED, so any pending content staleness (e.g. a crashed
    *    maintenance publish whose counter bump the manifest has not
    *    absorbed) stays visible to readers' freshness cue — the patch
    *    can never mask a heal a full refresh would perform;
    *  - no manifest yet, or an unreadable one, falls back to the full
    *    refresh.
    *
    * Runs under the same JVM catalog lock + cross-process flock as the
    * full refresh, so it can never interleave with a maintenance
    * publish/patch. GC does not ride it (GC stays with the exclusive
    * lease holder's full refresh, as before).
    */
  private def syncChunkCatalogAppend(): Unit = {
    if (!genLayout) return
    Hypertable.catalogLock(qualifiedPath).synchronized {
      MutationGate.withCatalogFsLock(spark, fs, qualifiedPath) {
        ChunkManifest.latest(catalog) match {
          case None => refreshChunkCatalogLocked(); ()
          case Some((v, prev)) =>
            val prevByDir: Map[String, ChunkInfo] = prev.chunks.map { c =>
              val cd = Hypertable.chunkDirOf(new Path(c.path))
              cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .makeQualified(cd).toString -> c
            }.toMap
            val listed = (new Path(path) +: tablespaceTableDirs).flatMap { r =>
              val rfs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
              if (!rfs.exists(r)) Nil
              else rfs.listStatus(r).toSeq.filter(s =>
                s.isDirectory && s.getPath.getName.startsWith(s"$CHUNK="))
                .flatMap { s =>
                  prevByDir.get(rfs.makeQualified(s.getPath).toString)
                    .orElse {
                      // unknown dir: resolve fully (new / crashed-batch /
                      // rebirth; a tombstoned dir resolves to None)
                      val start = s.getPath.getName
                        .stripPrefix(s"$CHUNK=").toLong
                      GenStore.chunks.liveDataDir(rfs, s.getPath).map { d =>
                        ChunkInfo(start, Hypertable.readRangeFile(rfs, d)
                          .getOrElse(defaultChunkEnd(start)), d.toString)
                      }
                    }
                }
            }.sortBy(_.startMicros)
            ChunkManifest.publish(catalog, v,
              applyRewriteIntents(listed), prev.cs)
        }
      }
    }
  }

  @volatile private var catalogValidated = false
  @volatile private var tablespacesHealed = false

  /** Stamp the `_graft_primary` pointer-home marker into tablespace table
    * dirs that predate it (layouts written before the marker existed):
    * [[graft.sources.Columnstore]]'s per-chunk mutation lock resolves its
    * table-level key through the marker, and an unmarked dir falls back to
    * keying on the tablespace dir itself — a different monitor than the
    * primary root's, reopening the exact lock-split race the marker fixed.
    * Once per handle, and only when tablespaces are attached (tables
    * without them pay one small-file existence check, already part of
    * [[showTablespaces]]); new moves stamp the marker at dir creation.
    */
  private def healTablespaceMarkers(): Unit =
    tablespaceTableDirs.foreach { d =>
      val dfs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (dfs.exists(d) &&
          !dfs.exists(new Path(d, Hypertable.PRIMARY_MARKER)))
        Hypertable.writeSmallFile(dfs,
          new Path(d, Hypertable.PRIMARY_MARKER), qualifiedPath)
    }

  /** Crash-recovery staleness cue for the "table" catalog: every mutator
    * commits data FIRST and publishes the manifest AFTER, so a crash in
    * between leaves committed chunks invisible to catalog reads (dir
    * listing would serve them): re-snapshot before serving. Checked once
    * per handle, a few small-file ops per storage root (flat in the chunk
    * count, which is the whole point of the table catalog);
    * `refreshChunkCatalog()` remains the explicit recovery step. The cue
    * follows the store's scheme ([[Hypertable.mtimeReliable]]):
    *
    *  - mtimes (local FS, HDFS): stale when a root's mtime (new/removed
    *    `_chunk=` dirs; the committer's `_SUCCESS`) or its content
    *    stamp's mtime is newer than the latest manifest's. A gen publish
    *    lands INSIDE the chunk dir (the root's own mtime does not move)
    *    but bumps the content stamp before its commit stamp, so a crash
    *    between a publish and its manifest sync still reads stale.
    *  - counters (object stores: no directory mtimes, `setTimes` a
    *    no-op): stale when a root's content-stamp counter is above the
    *    one the latest manifest recorded, the manifest has no record of
    *    the root, or it does not parse. The new-chunk heal is unavailable
    *    there; after a writer crash run `refreshChunkCatalog()`.
    */
  private def catalogFresh(): Boolean = {
    val fresh: (FileSystem, Path) => Boolean =
      if (Hypertable.mtimeReliable(fs)) {
        val catM = catalog.modTime().getOrElse(return false)
        (rfs, r) => {
          val contentM =
            try rfs.getFileStatus(new Path(r, Hypertable.CONTENT_STAMP))
              .getModificationTime
            catch { case _: Exception => -1L }
          math.max(rfs.getFileStatus(r).getModificationTime, contentM) <= catM
        }
      } else {
        val cs = ChunkManifest.latest(catalog).getOrElse(return false)._2.cs
        (rfs, r) => {
          val c = Hypertable.readContentCounter(rfs, r)
          c < 0 || cs.get(rfs.makeQualified(r).toString).exists(c <= _)
        }
      }
    (new Path(path) +: tablespaceTableDirs).forall { r =>
      val rfs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
      !rfs.exists(r) || fresh(rfs, r)
    }
  }

  /** `_chunk=` dirs directly under `dir` (one storage root), with ranges.
    * Gen layout: each chunk resolves to its LIVE `_gen=` dir (lowest
    * unstamped — see the companion's layout note); tombstoned or fully
    * superseded chunk dirs (dropped / merged away, grace-retained for
    * pinned readers) are not chunks.
    */
  private def listChunksUnder(dir: Path): Seq[ChunkInfo] = {
    val dfs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!dfs.exists(dir)) return Seq.empty
    dfs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$CHUNK="))
      .flatMap { s =>
        val start = s.getPath.getName.stripPrefix(s"$CHUNK=").toLong
        val data =
          if (genLayout) GenStore.chunks.liveDataDir(dfs, s.getPath)
          else Some(s.getPath)
        data.map { d =>
          val end = Hypertable.readRangeFile(dfs, d)
            .getOrElse(defaultChunkEnd(start))
          Hypertable.listingHook()
          ChunkInfo(start, end, d.toString)
        }
      }
  }

  private def chunkAt(startMicros: Long): ChunkInfo =
    showChunks().find(_.startMicros == startMicros).getOrElse(
      throw new IllegalArgumentException(s"no chunk starting at $startMicros"))

  private def writeRange(chunkPath: String, endMicros: Long): Unit =
    Hypertable.writeRangeFile(fs, new Path(chunkPath), endMicros)

  /** Rows of one chunk, partition columns dropped (for physical rewrite). */
  private def chunkRows(c: ChunkInfo): DataFrame = readPaths(c.path)

  /** Rewrite `df` as the physical content of the chunk dir at `start`
    * (tmp + swap; `_space` sub-partitioning preserved). A chunk in
    * columnstore layout STAYS columnstore across the rewrite (zstd files +
    * marker) — the reference's merge/split/DML all preserve compression
    * (`tsl/src/chunk_split.c:1245` splits the compressed rel;
    * `merge_chunks.out` keeps merged chunks in compression_chunk_size).
    * `forceCompressed` overrides the target's current state — needed when
    * the target dir does not exist yet (split's upper half) or when the
    * result must reflect several inputs (merge).
    */
  private def rewriteChunkDir(startMicros: Long, endMicros: Long, df: DataFrame,
      forceCompressed: Option[Boolean] = None): Path = {
    // a chunk that was move_chunk'd to a tablespace is rewritten at its
    // current root; brand-new dirs (split's upper half) open in the
    // primary root
    val existing = showChunks().find(_.startMicros == startMicros)
      .map(c => new Path(c.path))
    val target = existing.getOrElse(new Path(path, s"$CHUNK=$startMicros"))
    val compressed = forceCompressed
      .getOrElse(Columnstore.isCompressed(spark, target.toString))
    // the recorded space layout survives the physical rewrite (rows keep
    // their `_space` values, so the counts that produced them still hold)
    val parts = if (repartitioned) Hypertable.readSpaceParts(fs, target) else None
    // Built COMPLETE — data and every sidecar — before the single publish
    // step, so a crash mid-build leaves only a never-committed stage and a
    // crash after publish leaves a fully-formed generation (gen layout) /
    // dir (flat). Gen layout stages IN the chunk's next generation dir
    // (see publishChunkRewrite); the flat layout stages in a dot-prefixed
    // dir, invisible to Spark's file index, next to the dir its swap
    // deletes.
    val tmp =
      if (genLayout) {
        val chunkDir = Hypertable.chunkDirOf(target)
        // a NEW chunk (split's upper half, a range with no live chunk) has
        // no live generation to hide its stage behind: the write job
        // creates `_gen=` as it starts, and listing liveness ("lowest
        // unstamped") would serve the partial stage as a chunk — and a
        // torn split's roll-forward would shrink the parent onto it. Stage
        // behind a tombstone instead (a dropped dir already has one); the
        // commit below lifts it. A crash leaves a tombstoned dir the next
        // append normalizes dead and GC reaps.
        if (existing.isEmpty && !GenStore.isTombstoned(fs, chunkDir)) {
          fs.mkdirs(chunkDir)
          GenStore.chunks.tombstoneChunk(fs, chunkDir)
        }
        GenStore.chunks.stageGenDir(fs, chunkDir)
      } else GenStore.registerRewriteTmp(fs,
        new Path(target.getParent, s".tmp_chunk_$startMicros"))
    var w = df.write.mode(SaveMode.Overwrite)
    if (compressed) w = w.option("compression", "zstd")
    if (spaceDims.nonEmpty) w = w.partitionBy(spaceDims.map(_._3): _*)
    w.parquet(tmp.toString)
    Hypertable.crashPoint("rewrite.staged")
    Hypertable.writeRangeFile(fs, tmp, endMicros)
    parts.foreach(Hypertable.writeSpaceParts(fs, tmp, _))
    if (compressed) Columnstore.markCompressed(fs, tmp)
    val live = existing match {
      // the tombstone-discard (None) cannot fire here: this path runs
      // under the table WRITE lock, which excludes a concurrent drop, and
      // `existing` came from a showChunks() that saw the chunk live
      case Some(cur) =>
        Hypertable.publishChunkRewrite(spark, fs, cur, tmp).getOrElse(cur)
      case None if genLayout =>
        // new chunk, staged behind its tombstone above every dead
        // generation (its identity dir may be a dropped/merged-away dir
        // still holding grace-retained ones: split after merge reuses the
        // absorbed chunk's start). Commit INLINE (we hold the table write
        // lock): dead generations stamped first, tombstone off last.
        // Deliberately NO completion marker: a crash mid-commit leaves an
        // unmarked generation healRebirth refuses and the next append
        // normalizes dead — the op was never acked, so the chunk staying
        // absent (or dropped) is the correct outcome
        GenStore.chunks.commitStage(fs, target, tmp)
        GenStore.unregisterRewriteTmp(fs, tmp)
        tmp
      case None =>
        require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
        GenStore.unregisterRewriteTmp(fs, tmp)
        target
    }
    refreshColumnStats(Seq(live.toString))
    live
  }

  /** merge_chunks (`sql/maintenance_utils.sql:8-30`): coalesce two ADJACENT
    * chunks into one covering both ranges — fewer chunks/files for cold
    * data. The merged dir keeps the earlier start; its `_range` records the
    * combined end.
    */
  def mergeChunks(startA: Long, startB: Long,
      targetFileBytes: Long = 128L << 20): ChunkInfo =
    mergeChunks(Seq(startA, startB), targetFileBytes)

  /** Array form (`sql/maintenance_utils.sql:74-76`, `ts_merge_chunks`):
    * coalesce N ADJACENT chunks in ONE rewrite — a single union + write,
    * not N−1 pairwise rewrites (which would copy the first chunk's data
    * N−1 times).
    */
  def mergeChunks(starts: Seq[Long], targetFileBytes: Long): ChunkInfo =
      withSealedMutation(starts.map(Some(_))) {
    require(starts.size >= 2, "merge needs at least two chunks")
    require(starts.distinct.size == starts.size,
      s"duplicate chunk in merge (ts_merge_chunks errors likewise)")
    val cs = starts.map(chunkAt).sortBy(_.startMicros)
    cs.foreach(c => require(!Hypertable.chunkFrozen(fs, new Path(c.path)),
      s"cannot merge frozen chunk ${c.path} — unfreeze_chunk first"))
    // merged result stays columnstore iff EVERY input was (the rewrite
    // re-encodes all rows, so the marker is truthful either way)
    val keepCompressed = cs.forall(c => Columnstore.isCompressed(spark, c.path))
    cs.sliding(2).foreach {
      case Seq(x, y) =>
        require(x.endMicros == y.startMicros,
          s"chunks must be adjacent: [${x.startMicros},${x.endMicros}) / " +
            s"[${y.startMicros},${y.endMicros})")
      case _ => ()
    }
    // size the output file count from the combined bytes (~targetFileBytes
    // each): merging large chunks must not funnel through one task
    val bytes = cs.map(c => fs.getContentSummary(new Path(c.path)).getLength).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes.toDouble).toInt)
    val union = cs.map(chunkRows).reduce(_ unionByName _)
    val rows = if (nFiles == 1) union.coalesce(1) else union.repartition(nFiles)
    // merging chunks built under DIFFERENT closed-dim counts mixes bucket
    // spaces: mark the result layout-unknown (-1) so space pruning skips it
    val mergedParts: Option[Map[String, Int]] =
      if (!repartitioned) None
      else {
        val ps = cs.map(c => Hypertable.readSpaceParts(fs, new Path(c.path)))
        if (ps.distinct.size == 1) ps.head
        else Some(spaceDims.map { case (sc, _, _) =>
          val counts = ps.map(_.flatMap(_.get(sc)))
          sc -> (if (counts.distinct.size == 1) counts.head.getOrElse(-1) else -1)
        }.toMap)
      }
    // REWRITE-INTENT marker (gen layout): a merge is two+ publish steps —
    // the head's new generation, then each absorbed dir's tombstone — and
    // a crash between them would leave the absorbed rows DOUBLE-listed
    // (the merged gen covers them AND their dirs are still live). The
    // marker records the intent (merged end + absorbed dirs) BEFORE the
    // first step; readers resolve a consistent view from it
    // (applyRewriteIntents) and the next mutator completes or rolls back
    // (healRewriteIntents). CrashPointFuzzSpec found the bare window.
    val mergeMarker = new Path(path,
      s"${Hypertable.MERGING}${cs.head.startMicros}")
    if (genLayout)
      Hypertable.writeSmallFile(fs, mergeMarker,
        (cs.last.endMicros.toString +: cs.tail.map(c =>
          fs.makeQualified(Hypertable.chunkDirOf(new Path(c.path))).toString))
          .mkString("\n"))
    val newHead = rewriteChunkDir(cs.head.startMicros, cs.last.endMicros, rows,
      forceCompressed = Some(keepCompressed))
    mergedParts.foreach(Hypertable.writeSpaceParts(fs, newHead, _))
    Hypertable.crashPoint("merge.after_publish")
    // absorbed chunks: tombstoned in gen layout (pinned readers keep their
    // files for the grace window; the manifest stops listing them), hard
    // delete in the flat layout as before
    cs.tail.foreach { c =>
      if (genLayout)
        GenStore.chunks.tombstoneChunk(fs, Hypertable.chunkDirOf(new Path(c.path)))
      else fs.delete(new Path(c.path), true)
      Hypertable.crashPoint("merge.absorb_step")
    }
    if (genLayout) fs.delete(mergeMarker, false)
    syncChunkCatalog()
    ChunkInfo(cs.head.startMicros, cs.last.endMicros, newHead.toString)
  }

  /** merge_chunks_concurrently (`sql/maintenance_utils.sql:31-58`): the
    * reference variant that merges under weaker locks so readers proceed.
    * Graft's merge already has that property — readers hold no locks, and
    * the rewrite is tmp-dir + atomic swap, so concurrent scans see either
    * the old chunks or the merged one — hence this is the same operation.
    */
  def mergeChunksConcurrently(starts: Seq[Long],
      targetFileBytes: Long = 128L << 20): ChunkInfo =
    mergeChunks(starts, targetFileBytes)

  /** split_chunk with the reference's default split point: the midpoint of
    * the chunk's recorded range (`tsl/src/chunk_split.c:1136-1139`,
    * `split_at = range_start + interval_range / 2`).
    */
  def splitChunk(startMicros: Long): (ChunkInfo, ChunkInfo) =
    withSealedMutation(Seq(Some(startMicros))) {
      val c = chunkAt(startMicros)
      splitChunkImpl(c, c.startMicros + (c.endMicros - c.startMicros) / 2)
    }

  /** split_chunk (`sql/maintenance_utils.sql:60-80`): split one chunk at a
    * time point into two chunks covering [start, at) and [at, end).
    */
  def splitChunk(startMicros: Long, atMicros: Long): (ChunkInfo, ChunkInfo) =
    withSealedMutation(Seq(Some(startMicros))) {
      splitChunkImpl(chunkAt(startMicros), atMicros)
    }

  /** Typed "time ≥ at" predicate for the table's dimension kind. */
  private def atOrLaterExpr(atMicros: Long): Column = timeKind match {
    case "bigint" => col(timeCol) >= lit(atMicros)
    case "uuidv7" => col(timeCol) >= lit(boundaryUuid(atMicros))
    case _        => col(timeCol) >= timestamp_micros(lit(atMicros))
  }

  private def splitChunkImpl(c: ChunkInfo, atMicros: Long): (ChunkInfo, ChunkInfo) = {
    require(!Hypertable.chunkFrozen(fs, new Path(c.path)),
      s"cannot split frozen chunk ${c.path} — unfreeze_chunk first")
    require(atMicros > c.startMicros && atMicros < c.endMicros,
      s"split point $atMicros outside chunk [${c.startMicros},${c.endMicros})")
    // merge+rebirth geometry can leave chunks whose recorded ranges
    // overlap (a reborn dir resurrects at its full grid width beside
    // half-width split products — sound for pruning, which only
    // over-includes). A split point landing EXACTLY on such a sibling's
    // start would make the upper half rewrite THAT chunk and replace its
    // rows — found by CrashPointFuzzSpec seed 9123. Refuse loudly, like
    // the reference errors on slice conflicts.
    require(!showChunks().exists(_.startMicros == atMicros),
      s"split point $atMicros collides with an existing chunk's start — " +
        "merge the overlapping chunks first")
    val rows = chunkRows(c).cache()
    val parentParts =
      if (repartitioned) Hypertable.readSpaceParts(fs, new Path(c.path)) else None
    try {
      val atOrLater = atOrLaterExpr(atMicros)
      // both halves keep the parent's columnstore state (the reference
      // splits the compressed rel itself, chunk_split.c:1245)
      val wasCompressed = Columnstore.isCompressed(spark, c.path)
      // intent marker BEFORE the first half publishes: a crash between
      // the upper's publish and the parent's shrink would double-list
      // [at, end) — readers exclude the upper until the parent shrinks
      // (applyRewriteIntents), mutators roll the split forward
      // (healRewriteIntents re-derives the lower from the parent's still-
      // complete live generation)
      val splitMarker = new Path(path,
        s"${Hypertable.SPLITTING}${c.startMicros}")
      if (genLayout)
        Hypertable.writeSmallFile(fs, splitMarker, atMicros.toString)
      val upper = rewriteChunkDir(atMicros, c.endMicros, rows.where(atOrLater),
        forceCompressed = Some(wasCompressed))
      Hypertable.crashPoint("split.between_halves")
      val lower = rewriteChunkDir(c.startMicros, atMicros, rows.where(!atOrLater),
        forceCompressed = Some(wasCompressed))
      if (genLayout) fs.delete(splitMarker, false)
      // both halves inherit the parent's layout (the upper half is a NEW
      // dir — rewriteChunkDir had nothing to carry over for it)
      parentParts.foreach { p =>
        Hypertable.writeSpaceParts(fs, upper, p)
        Hypertable.writeSpaceParts(fs, lower, p)
      }
      syncChunkCatalog()
      (ChunkInfo(c.startMicros, atMicros, lower.toString),
       ChunkInfo(atMicros, c.endMicros, upper.toString))
    } finally rows.unpersist()
  }

  /** Chunks whose range intersects the optional [lo, hi) restriction. */
  private def chunksIn(range: Option[(Long, Long)]): Seq[ChunkInfo] = range match {
    case Some((lo, hi)) => showChunks().filter(c => c.startMicros < hi && c.endMicros > lo)
    case None           => showChunks()
  }

  /** DELETE — the compressed-DML path (`tsl/src/compression/
    * compression_dml.c`): copy-on-write rewrite of each chunk that holds
    * matching rows; untouched chunks are never read twice or rewritten.
    * Restrict with `timeRange` to prune chunks up front (the reference
    * locates batches by metadata the same way). Returns deleted row count.
    */
  def deleteWhere(pred: Column, timeRange: Option[(Long, Long)] = None): Long = withMutation {
    // snapshot the candidate set ONCE and seal exactly it: rows a
    // concurrent append commits into a NEW chunk after this snapshot are
    // not swept — the reference's read-committed DML sees the same (rows
    // inserted after the DELETE's snapshot survive it)
    val cs = chunksIn(timeRange)
    MutationGate.withSeals(spark, fs, qualifiedPath,
        cs.map(c => Some(c.startMicros))) {
    // no deletes permitted on a frozen chunk (src/chunk.c:3579) — probed
    // BEFORE any rewrite starts, so a frozen hit can't leave the sweep
    // half-applied with sibling chunks already rewritten (and their cagg
    // invalidations unrecorded)
    requireNoFrozenHits(cs, pred, "DELETE")
    val perChunk = graft.Par.map(cs) { c =>
      // probe scan first (predicate pushes down to parquet) so untouched
      // chunks are never rewritten; touched chunks re-scan instead of
      // caching — per-chunk .cache() at 100 TB is executor-memory pressure
      val rows = chunkRows(c)
      val hits = rows.where(coalesce(pred, lit(false))).count()
      if (hits > 0) {
        rewriteChunkDir(c.startMicros, c.endMicros,
          rows.where(!coalesce(pred, lit(false))))
        Hypertable.crashPoint("dml.chunk_step")
      }
      (hits, c)
    }
    // DELETE invalidates caggs over the touched chunks' ranges
    // (process_utility.c:1520 DML hook; chunk granularity, like the
    // reference's per-chunk invalidation entries)
    invalidateCaggs(perChunk.collect {
      case (h, c) if h > 0 => (c.startMicros, c.endMicros) })
    if (perChunk.exists(_._1 > 0)) { markContentChanged(); dmlSync() }
    perChunk.map(_._1).sum
    }
  }

  /** Gen layout: a DML rewrite changes the touched chunks' data PATHS
    * (each publishes a new generation), so the manifest must re-snapshot —
    * a stale manifest would keep serving the superseded generation's
    * pre-DML rows for the whole grace window. Flat layout rewrites in
    * place (paths unchanged); the content stamp alone is correct there.
    */
  private def dmlSync(): Unit = if (genLayout) { refreshChunkCatalog(); () }

  /** UPDATE ... SET assignments WHERE pred — copy-on-write chunk rewrite
    * like [[deleteWhere]]. Time-column updates that would move a row to a
    * different chunk are rejected (the reference re-routes those; here,
    * delete + re-insert instead). Returns updated row count.
    */
  def updateWhere(pred: Column, assignments: Map[String, Column],
      timeRange: Option[(Long, Long)] = None): Long = withMutation {
    require(!assignments.contains(timeCol),
      s"updating the time column would re-route rows across chunks; delete + write instead")
    require(spaceDims.forall { case (sc, _, _) => !assignments.contains(sc) },
      s"updating a space-dimension column would re-route rows across space buckets; delete + write instead")
    // one snapshot, sealed exactly — see deleteWhere
    val cs = chunksIn(timeRange)
    MutationGate.withSeals(spark, fs, qualifiedPath,
        cs.map(c => Some(c.startMicros))) {
    // frozen probe BEFORE any rewrite — see deleteWhere
    requireNoFrozenHits(cs, pred, "UPDATE")
    val perChunk = graft.Par.map(cs) { c =>
      val rows = chunkRows(c)
      val p = coalesce(pred, lit(false))
      val hits = rows.where(p).count()
      if (hits > 0) {
        // SQL UPDATE semantics: predicate AND all new values are computed
        // against the OLD row, so snapshot them before any column changes
        val P = "_graft_upd_p"
        val tmpOf = assignments.keys.map(k => k -> s"_graft_upd_$k").toMap
        var df = rows.withColumn(P, p)
        assignments.foreach { case (k, v) => df = df.withColumn(tmpOf(k), v) }
        assignments.keys.foreach { k =>
          df = df.withColumn(k, when(col(P), col(tmpOf(k))).otherwise(col(k)))
        }
        rewriteChunkDir(c.startMicros, c.endMicros,
          df.drop(P).drop(tmpOf.values.toSeq: _*))
      }
      (hits, c)
    }
    invalidateCaggs(perChunk.collect {
      case (h, c) if h > 0 => (c.startMicros, c.endMicros) })
    if (perChunk.exists(_._1 > 0)) { markContentChanged(); dmlSync() }
    perChunk.map(_._1).sum
    }
  }

  /** attach_chunk (`sql/chunk.sql:67-70`): adopt an EXISTING parquet
    * directory as a chunk covering [startMicros, endMicros) — the bulk
    * data-migration path (backfill written elsewhere joins the hypertable
    * as pure metadata: one rename, zero data movement). The reference
    * validates the slice via CHECK constraints; here the footer min/max of
    * the time column (no data scan) must sit inside the declared range.
    */
  def attachChunk(srcPath: String, startMicros: Long, endMicros: Long): ChunkInfo =
      withSealedMutation(Seq(Some(startMicros))) {
    require(startMicros < endMicros, "empty chunk range")
    require(spaceCol.isEmpty,
      "attach_chunk needs the space partition layout inside the source dir; " +
        "write through the hypertable instead for space-partitioned tables")
    require(!showChunks().exists(c => c.startMicros < endMicros && c.endMicros > startMicros),
      s"range [$startMicros,$endMicros) overlaps an existing chunk")
    // an empty source would make every min/max aggregate below null — fail
    // with a clear message instead of an NPE on the aggregate row
    require(!spark.read.parquet(srcPath).isEmpty,
      s"source chunk $srcPath is empty — nothing to attach")
    // range validation per dimension kind — the CHECK-constraint analogue.
    // An external backfill may carry any parquet time encoding (millis/ns/
    // NTZ), so the timestamp path aggregates through Spark's reader
    // (annotation-aware) rather than trusting raw footer longs; bigint
    // dims CAN use raw footer stats (values are the units). One-column
    // min/max with pushdown — attach stays rename-cheap.
    val inRange = timeKind match {
      case "bigint" =>
        val (mn, mx) = graft.operators.Stats.minMax(spark, srcPath, timeCol) match {
          case (Some(a: java.lang.Long), Some(b: java.lang.Long)) => (a.toLong, b.toLong)
          case _ =>
            val r = spark.read.parquet(srcPath)
              .agg(min(col(timeCol)), max(col(timeCol))).head()
            (r.getLong(0), r.getLong(1))
        }
        (mn >= startMicros && mx < endMicros, s"[$mn,$mx]")
      case "uuidv7" => // v7 strings sort by embedded time; compare boundaries
        val r = spark.read.parquet(srcPath)
          .agg(min(col(timeCol)), max(col(timeCol))).head()
        val (mn, mx) = (r.getString(0), r.getString(1))
        (mn >= boundaryUuid(startMicros) && mx < boundaryUuid(endMicros), s"[$mn,$mx]")
      case _ =>
        val r = spark.read.parquet(srcPath)
          .agg(unix_micros(min(col(timeCol)).cast("timestamp")),
            unix_micros(max(col(timeCol)).cast("timestamp"))).head()
        (r.getLong(0) >= startMicros && r.getLong(1) < endMicros,
          s"[${r.getLong(0)},${r.getLong(1)}]")
    }
    require(inRange._1,
      s"data ${inRange._2} outside declared range [$startMicros,$endMicros) — " +
        "chunk exclusion would silently drop those rows")
    val chunkDir = new Path(path, s"$CHUNK=$startMicros")
    require(!fs.exists(chunkDir), s"chunk dir $chunkDir already exists")
    // gen layout: the adopted dir becomes the chunk's generation 0, so
    // later rewrites version it like any native chunk
    val target =
      if (genLayout) { fs.mkdirs(chunkDir); new Path(chunkDir, s"${Hypertable.GEN}=0") }
      else chunkDir
    // adopted data files get FRESH unique names (metadata-only renames,
    // same order of cost as the footer validation above): a stream
    // dedups delivered files by path, and a re-attach that PRESERVED the
    // names of a previously streamed, detached chunk would have every
    // running stream silently drop the re-attached rows. Renamed in the
    // source dir, so the chunk never shows a name that is about to change.
    val src = new Path(srcPath)
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    fs.listStatus(src).filter(_.isFile)
      .map(_.getPath).filterNot(p =>
        p.getName.startsWith(".") || p.getName.startsWith("_"))
      .zipWithIndex.foreach { case (p, i) =>
        val fresh = new Path(src, s"adopt-$stamp-$i-${p.getName}")
        require(fs.rename(p, fresh), s"rename $p -> $fresh failed")
      }
    // tailing streams get the adopted rows as one log entry, like a
    // write() batch — also when a stream starts before the rename
    val logged = StreamLog.begin(spark, fs, path)(Seq(target))
    Hypertable.crashPoint("attach.before_rename")
    require(fs.rename(src, target), s"rename $srcPath -> $target failed")
    // an adopted dir may carry a frozen sentinel (e.g. re-attaching a
    // previously frozen+detached chunk's data) — keep the root catalog,
    // which the insert guard reads, in sync with it
    if (Hypertable.chunkFrozen(fs, target))
      Hypertable.frozenCatalogLock.synchronized {
        writeFrozenCatalog(frozenCatalog() + startMicros)
      }
    writeRange(target.toString, endMicros)
    refreshColumnStats(Seq(target.toString))
    invalidateCaggs(startMicros, endMicros) // new raw rows appeared
    syncChunkCatalog()
    Hypertable.crashPoint("attach.streamlog.before_entry")
    logged.commit()
    ChunkInfo(startMicros, endMicros, target.toString)
  }

  /** detach_chunk (`sql/chunk.sql:61-65`): remove a chunk from the
    * hypertable WITHOUT dropping its data — the directory moves to
    * `destPath` as a standalone parquet table (catalog markers removed).
    */
  def detachChunk(startMicros: Long, destPath: String): ChunkInfo =
      withSealedMutation(Seq(Some(startMicros))) {
    val c = chunkAt(startMicros)
    require(!Hypertable.chunkFrozen(fs, new Path(c.path)),
      s"cannot detach frozen chunk ${c.path} — unfreeze_chunk first")
    val dest = new Path(destPath)
    require(!fs.exists(dest), s"$destPath already exists")
    require(fs.rename(new Path(c.path), dest), s"rename ${c.path} -> $destPath failed")
    fs.delete(new Path(dest, RANGE), false) // catalog marker, not table data
    // gen layout: c.path was the live generation; the chunk-dir shell (and
    // any graced-out superseded generations — duplicates of data the user
    // now owns) goes with it. Like the reference, detach is an exclusive
    // DDL operation, not covered by the reader snapshot contract.
    if (genLayout)
      fs.delete(Hypertable.chunkDirOf(new Path(c.path)), true)
    invalidateCaggs(c.startMicros, c.endMicros) // raw rows disappeared
    syncChunkCatalog()
    ChunkInfo(c.startMicros, c.endMicros, destPath)
  }

  // ------------------------------------------------ tablespaces / move_chunk
  // The reference's tablespaces (`sql/ddl_api.sql` attach/detach_tablespace,
  // `src/tablespace.c`) put chunks on different storage; `move_chunk`
  // (`tsl/src/chunk_api.c`) relocates one chunk between them. The data-lake
  // analogue is STORAGE ROOTS — e.g. a hot NVMe-backed prefix and a cold
  // object-store prefix. A moved chunk keeps its catalog identity (start,
  // range, columnstore state, frozen marker — they all travel with the
  // dir); reads union the roots, and chunk exclusion prunes each root's
  // scan through the same catalog, so a time-bounded query over a 10k-chunk
  // table still opens only the hit chunks regardless of where they live.

  /** This table's directory inside a tablespace root: the primary dir name
    * plus a short digest of the qualified path, so two tables that share a
    * name (different parents) cannot collide inside one tablespace.
    */
  private[graft] def tablespaceTableDir(root: String): Path = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(qualifiedPath.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    new Path(root, s"${new Path(path).getName}_$digest")
  }

  /** Attached tablespace roots (`show_tablespaces`, `sql/ddl_api.sql`). */
  def showTablespaces: Seq[String] = {
    val f = new Path(path, TABLESPACES)
    if (!fs.exists(f)) Nil
    else readSmallFile(fs, f).split('\n').filter(_.nonEmpty).toSeq
  }

  /** Per-table data dirs inside each attached tablespace root. */
  private def tablespaceTableDirs: Seq[Path] =
    showTablespaces.map(tablespaceTableDir)

  /** Migrate this FLAT-layout table to the generational chunk layout in
    * place — the upgrade path giving pre-existing tables the reader
    * snapshot-isolation contract (SCALE.md §14) that `catalog="table"`
    * tables get from birth, as every reference table gets MVCC chunk
    * visibility from Postgres. Each chunk dir's entire contents (data
    * files and every sidecar marker — `_graft_range`, space-parts,
    * columnstore marker, frozen sentinel, colstats: all resolve against
    * the DATA dir in both layouts) move into a `_gen=0` generation via
    * two renames; the chunk-set manifest is published and the metadata
    * flips to `genLayout=true` + `catalog="table"` (snapshot isolation
    * requires the manifest catalog, so a `catalog="list"` table is
    * switched as part of the migration).
    *
    * Exclusive DDL, like `move_chunk`: runs under the table write lock +
    * cross-process mutator lease; readers in OTHER processes are out of
    * contract for its duration, and the window is LOUD — the
    * `_graft_migrating` marker goes down first, and a fresh open of a
    * half-migrated table completes the migration instead of reading the
    * mixed layout. Every step is idempotent, so marker + re-run is the
    * entire crash-recovery story. Metadata-only cost: two renames + one
    * mkdir per chunk — O(chunks), the same order as chunk creation,
    * independent of data size. Existing handles are stale after this
    * call and REFUSE loudly at their next scan or mutation
    * ([[withMutation]]/read/showChunks re-verify the on-disk layout
    * flag) — that includes handles embedded in other objects, e.g. a
    * [[graft.streaming.ContinuousAggregate]] built over the old handle:
    * re-open with [[Hypertable.at]] and rebuild such objects from the
    * returned handle.
    */
  def migrateToGenLayout(): Hypertable = withMutation {
    require(!genLayout, "table already uses the generational layout")
    Hypertable.writeSmallFile(fs, new Path(path, Hypertable.MIGRATING), "gen")
    finishGenMigration() // takes the table-wide seal itself
  }

  /** Complete a (possibly crashed) gen-layout migration: finish
    * half-converted chunks, convert every chunk dir still lacking a
    * generation, flip the metadata, publish the manifest, clear the
    * marker. Idempotent; called by [[migrateToGenLayout]] and by
    * [[Hypertable.at]]/[[Hypertable.create]] when they find the marker.
    */
  private[sources] def finishGenMigration(): Hypertable =
      withSealedMutation(Seq(None)) {
    (new Path(path) +: tablespaceTableDirs).foreach { r =>
      val rfs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (rfs.exists(r)) {
        // crashed half-conversions first: the data sits in the dot-tmp
        rfs.listStatus(r).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(".") &&
            s.getPath.getName.endsWith(Hypertable.MIG_SUFFIX))
          .foreach { s =>
            val cd = new Path(r, s.getPath.getName.stripPrefix(".")
              .stripSuffix(Hypertable.MIG_SUFFIX))
            Hypertable.finishChunkGenConversion(rfs, cd, s.getPath)
          }
        rfs.listStatus(r).toSeq
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith(s"${Hypertable.CHUNK}="))
          .foreach(s => Hypertable.convertChunkDirToGen(rfs, s.getPath))
      }
    }
    Hypertable.writeMeta(spark, path, timeCol, timeKind, chunkWidthMicros,
      chunkMonths, spaceCol, spacePartitions, extraSpace, repartitioned,
      genLayout = true)
    val nh = new Hypertable(spark, path, timeCol, chunkWidthMicros, spaceCol,
      spacePartitions, chunkMonths = chunkMonths, timeKind = timeKind,
      extraSpace = extraSpace, repartitioned = repartitioned,
      genLayout = true)
    nh.refreshChunkCatalog()
    // an older version's single-file chunk snapshot (a table-catalog flat
    // table carries one): nothing reads it, the manifest supersedes it
    fs.delete(new Path(path, "_graft_chunks.json"), false)
    fs.delete(new Path(path, Hypertable.MIGRATING), false)
    nh
  }

  /** attach_tablespace: register another storage root chunks can move to.
    * Metadata-only (one small-file write); the per-table dir is created
    * lazily by the first move.
    */
  def attachTablespace(root: String): Unit = {
    val cur = showTablespaces
    require(!cur.contains(root), s"tablespace $root is already attached")
    writeSmallFile(fs, new Path(path, TABLESPACES), (cur :+ root).mkString("\n"))
  }

  /** detach_tablespace: refuse while the root still holds this table's
    * chunks (they would vanish from the catalog), like the reference's
    * in-use check.
    */
  def detachTablespace(root: String): Unit = {
    val cur = showTablespaces
    require(cur.contains(root), s"tablespace $root is not attached")
    val dir = tablespaceTableDir(root)
    val inUse = listChunksUnder(dir)
    require(inUse.isEmpty,
      s"tablespace $root still holds ${inUse.size} chunk(s) of this table — " +
        "move_chunk them back first")
    val rest = cur.filterNot(_ == root)
    val f = new Path(path, TABLESPACES)
    if (rest.isEmpty) fs.delete(f, false)
    else writeSmallFile(fs, f, rest.mkString("\n"))
    val dfs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dfs.exists(dir)) dfs.delete(dir, true) // only empty per-table stubs
  }

  /** detach_tablespaces: detach every attached root (all must be empty). */
  def detachTablespaces(): Seq[String] = {
    val all = showTablespaces
    all.foreach(detachTablespace)
    all
  }

  /** move_chunk (`tsl/src/chunk_api.c`, `sql/ddl_api.sql`): relocate one
    * chunk to an attached tablespace root (or back to the primary root with
    * `destRoot = None`). Same-filesystem moves are a metadata-only rename —
    * O(1) regardless of chunk size; cross-filesystem moves copy file-by-
    * file then delete (at cluster scale that copy would be a distributed
    * job; the sequential fallback here covers the local/test filesystems).
    * The chunk stays fully live: reads, DML, compression and policies all
    * resolve it through the catalog at its new location. The moved files
    * do not enter the stream log (a running [[readStream]] already
    * delivered their rows, and its checkpoint replay reads the old
    * paths) — move chunks past the streaming consumers' watermark, the
    * same contract compaction has.
    */
  def moveChunk(startMicros: Long, destRoot: Option[String]): ChunkInfo =
      withSealedMutation(Seq(Some(startMicros))) {
    val c = chunkAt(startMicros)
    require(!Hypertable.chunkFrozen(fs, new Path(c.path)),
      s"cannot move frozen chunk ${c.path} — unfreeze_chunk first")
    val parent = destRoot match {
      case Some(r) =>
        require(showTablespaces.contains(r),
          s"tablespace $r is not attached — attach_tablespace first")
        tablespaceTableDir(r)
      case None => new Path(path)
    }
    // gen layout: relocate the chunk IDENTITY dir (live generation plus
    // any grace-retained ones travel together). Like the reference's
    // move_chunk, the move is an exclusive operation — a reader pinned to
    // the old location is outside the snapshot contract.
    val src = Hypertable.chunkDirOf(new Path(c.path))
    val dst = new Path(parent, s"$CHUNK=$startMicros")
    val dstFs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualifiedDst = dstFs.makeQualified(dst)
    val liveSub = new Path(c.path).toString.stripPrefix(src.toString)
      .stripPrefix("/")
    def liveAt(chunkDir: Path): Path =
      if (liveSub.isEmpty) chunkDir else new Path(chunkDir, liveSub)
    if (fs.makeQualified(src) == qualifiedDst) return c // already there
    require(!dstFs.exists(dst), s"$dst already exists")
    dstFs.mkdirs(parent)
    // pointer home for chunk-level lock resolution (see PRIMARY_MARKER) —
    // written once per tablespace table dir, no-op when already present
    if (destRoot.isDefined &&
        !dstFs.exists(new Path(parent, Hypertable.PRIMARY_MARKER)))
      Hypertable.writeSmallFile(dstFs,
        new Path(parent, Hypertable.PRIMARY_MARKER), qualifiedPath)
    val srcFs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (srcFs.getUri == dstFs.getUri) {
      require(srcFs.rename(src, dst), s"rename $src -> $dst failed")
    } else {
      require(org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst,
        true /* deleteSource */, spark.sparkContext.hadoopConfiguration),
        s"copy $src -> $dst failed")
    }
    Hypertable.crashPoint("move.after_rename")
    syncChunkCatalog()
    ChunkInfo(c.startMicros, c.endMicros,
      dstFs.makeQualified(liveAt(qualifiedDst)).toString)
  }

  def moveChunk(startMicros: Long, destRoot: String): ChunkInfo =
    moveChunk(startMicros, Some(destRoot))

  /** Appended rows for chunks that live in a tablespace land (atomically,
    * via the normal routed write) under the PRIMARY root first; this folds
    * those fresh part files into the chunk's real directory. File-count
    * work only — each file is a same-FS rename (cross-FS: copy+delete).
    */
  private def relocateFreshWrites(): Unit = {
    val moved: Map[Long, Path] = tablespaceTableDirs
      .flatMap(listChunksUnder).map(c => c.startMicros -> new Path(c.path)).toMap
    if (moved.isEmpty) return
    val stubs = listChunksUnder(new Path(path))
      .filter(c => moved.contains(c.startMicros))
    graft.Par.foreach(stubs) { stub =>
      val dst = moved(stub.startMicros)
      val dstFs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      mergeInto(fs, new Path(stub.path), dstFs, dst)
      // delete the whole stub CHUNK dir: in gen layout stub.path is its
      // `_gen=` dir, and an empty `_chunk=` shell left behind would read
      // as a flat duplicate of the tablespace-resident chunk
      fs.delete(Hypertable.chunkDirOf(new Path(stub.path)), true)
    }
  }

  /** Move every data file under `src` into `dst`, preserving `_space*=`
    * sub-dir structure; part filenames are task-unique so plain renames
    * cannot collide. Catalog marker files in the stub are DISCARDED — the
    * destination's markers are authoritative.
    */
  private def mergeInto(srcFs: FileSystem, src: Path,
      dstFs: FileSystem, dst: Path): Unit = {
    dstFs.mkdirs(dst)
    srcFs.listStatus(src).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) mergeInto(srcFs, st.getPath, dstFs, new Path(dst, name))
      else if (!name.startsWith("_") && !name.startsWith(".")) {
        val target = new Path(dst, name)
        if (srcFs.getUri == dstFs.getUri)
          require(srcFs.rename(st.getPath, target),
            s"rename ${st.getPath} -> $target failed")
        else
          require(org.apache.hadoop.fs.FileUtil.copy(srcFs, st.getPath,
            dstFs, target, true, spark.sparkContext.hadoopConfiguration),
            s"copy ${st.getPath} -> $target failed")
      }
    }
  }

  /** add_dimension (`sql/ddl_api.sql:115-143`, `ts_dimension_add`): attach
    * another closed (hash) dimension. Like the reference, only allowed
    * while the hypertable has no chunks — existing data was not routed
    * under the new dimension, so its partition dirs would be wrong (the
    * reference raises `ERROR: hypertable has chunks` for the same reason).
    * Returns the reopened handle.
    */
  def addDimension(column: String, partitions: Int): Hypertable = {
    require(partitions >= 1, s"partition count must be positive, got $partitions")
    require(column != timeCol, s"$column is already the open dimension")
    require(!spaceDims.exists(_._1 == column),
      s"$column is already a closed dimension")
    require(showChunks().isEmpty,
      "hypertable has chunks — dimensions can only be added while empty " +
        "(existing rows were not routed under the new dimension)")
    if (spaceCol.isEmpty)
      Hypertable.writeMeta(spark, path, timeCol, timeKind, chunkWidthMicros,
        chunkMonths, Some(column), partitions, extraSpace, repartitioned,
        genLayout = genLayout)
    else
      Hypertable.writeMeta(spark, path, timeCol, timeKind, chunkWidthMicros,
        chunkMonths, spaceCol, spacePartitions,
        extraSpace :+ (column -> partitions), repartitioned,
        genLayout = genLayout)
    Hypertable.at(spark, path)
  }

  /** set_chunk_time_interval (`sql/ddl_api.sql:61-66`): change the chunk
    * width for FUTURE chunks. Existing chunks keep their ranges — each one
    * without a recorded `_range` gets one stamped first (their ends would
    * otherwise be recomputed under the new width). Returns the updated
    * handle (this one keeps the old width).
    */
  def setChunkTimeInterval(chunkWidth: String): Hypertable = {
    showChunks().foreach { c =>
      if (Hypertable.readRangeFile(fs, new Path(c.path)).isEmpty)
        writeRange(c.path, c.endMicros)
    }
    val updated = Hypertable.create(spark, path, timeCol, chunkWidth = chunkWidth,
      spaceCol = spaceCol, spacePartitions = spacePartitions, timeKind = timeKind,
      extraSpace = extraSpace, catalog = catalogMode)
    // create() writes a fresh meta — restore the repartitioned marker, which
    // is orthogonal to the chunk width
    if (repartitioned) {
      Hypertable.writeMeta(spark, path, timeCol, timeKind,
        updated.chunkWidthMicros, updated.chunkMonths, spaceCol,
        spacePartitions, extraSpace, repartitioned = true,
        genLayout = genLayout)
      Hypertable.at(spark, path)
    } else updated
  }

  /** set_partitioning_interval (`sql/ddl_api.sql:89-90`): the generalized
    * name for changing the primary dimension's interval — identical to
    * [[setChunkTimeInterval]] here, since graft has exactly one open
    * dimension.
    */
  def setPartitioningInterval(chunkWidth: String): Hypertable =
    setChunkTimeInterval(chunkWidth)

  /** set_integer_now_func (`sql/ddl_api.sql:73-79`): register the "current
    * time" function for a bigint-dimension hypertable, so lag-based policies
    * (retention/columnstore) can compute `now - lag` in the dimension's own
    * units. The function itself lives in the in-session
    * [[Hypertable.registerIntegerNow]] registry (the REGPROC pattern — the
    * catalog stores the name; the session must provide the implementation).
    */
  def setIntegerNowFunc(name: String): Unit = {
    require(timeKind == "bigint",
      "set_integer_now_func requires a bigint open dimension, like the reference")
    Hypertable.writeSmallFile(fs, new Path(path, Hypertable.INTEGERNOW), name)
  }

  /** The registered integer-now function name, if any. */
  def integerNowFunc: Option[String] = {
    val f = new Path(path, Hypertable.INTEGERNOW)
    if (fs.exists(f)) Some(Hypertable.readSmallFile(fs, f).trim) else None
  }

  /** `ALTER TABLE ... SET (timescaledb.enable_columnstore,
    * timescaledb.segmentby, timescaledb.orderby)` analogue (settings
    * catalog `_timescaledb_catalog.compression_settings`,
    * `sql/compression.sql`): persist this table's columnstore layout so
    * maintenance paths (policy sweeps, chunk-level compress calls) use it
    * without per-call options. Overwriting is allowed — like the
    * reference, new settings apply to chunks compressed FROM NOW ON;
    * already-compressed chunks keep their layout until recompressed.
    */
  def setColumnstoreSettings(opts: Columnstore.Options): Unit = {
    // validate column names against the data's schema when data exists
    // (footer-only read of the first chunk — no scan); an empty table
    // can't be validated yet, like a reference hypertable with no rows
    val names = opts.segmentBy ++ opts.orderBy ++ opts.bloomFilterCols
    // the settings file is hand-rolled JSON with comma-joined arrays — a
    // name containing its delimiters would read back corrupted, so refuse
    // it up front rather than half-escape
    val unsupported = names.filter(_.exists(ch =>
      ch == ',' || ch == '"' || ch == '[' || ch == ']' || ch == '\\' || ch < ' '))
    require(unsupported.isEmpty,
      s"unsupported characters in column name(s): ${unsupported.mkString(",")}")
    // validate against the DECLARED schema when stamped (a column just
    // added by alterAddColumn is legal even though no file carries it
    // yet); fall back to the first chunk's footers pre-stamp
    val fields: Option[Set[String]] = dataSchema.map(_.fieldNames.toSet)
      .orElse(showChunks().headOption.map(c =>
        spark.read.parquet(c.path).schema.fieldNames.toSet))
    fields.foreach { fs0 =>
      val missing = names.filterNot(fs0.contains)
      require(missing.isEmpty,
        s"columnstore settings name missing column(s): ${missing.mkString(",")}")
    }
    def arr(s: Seq[String]) = s.map("\"" + _ + "\"").mkString("[", ",", "]")
    Hypertable.writeSmallFile(fs, new Path(path, Hypertable.COLSETTINGS),
      s"""{"segmentby":${arr(opts.segmentBy)},"orderby":${arr(opts.orderBy)},""" +
        s""""bloom":${arr(opts.bloomFilterCols)},"rowGroupBytes":${opts.rowGroupBytes}}""")
  }

  /** The stored columnstore settings, if configured. */
  def columnstoreSettings: Option[Columnstore.Options] = {
    val f = new Path(path, Hypertable.COLSETTINGS)
    if (!fs.exists(f)) None
    else {
      val s = Hypertable.readSmallFile(fs, f)
      def arr(k: String): Seq[String] =
        ("\"" + k + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(s)
          .map(_.group(1).split(',').toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty))
          .getOrElse(Nil)
      val rgb = "\"rowGroupBytes\":(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong).getOrElse(64L * 1024 * 1024)
      Some(Columnstore.Options(segmentBy = arr("segmentby"),
        orderBy = arr("orderby"), bloomFilterCols = arr("bloom"),
        rowGroupBytes = rgb))
    }
  }

  /** Current time in this hypertable's dimension units: the registered
    * integer-now function for bigint dimensions (error if none was set —
    * the reference refuses lag-based policies on integer hypertables
    * without one), wall-clock micros otherwise.
    */
  def nowMicros(): Long = timeKind match {
    case "bigint" =>
      val name = integerNowFunc.getOrElse(throw new IllegalStateException(
        "integer-dimension hypertable has no integer-now func; call " +
          "setIntegerNowFunc first (ddl_api.sql:73-79)"))
      Hypertable.integerNow(name)
    case _ => java.time.Instant.now.toEpochMilli * 1000L
  }

  /** Physically retire dropped chunks: gen layout tombstones the chunk
    * dirs (readers pinned to a manifest that still lists them keep their
    * files for the GC grace window — drop_chunks racing a SELECT yields
    * the pre-drop or post-drop set, never a half-listed one, the
    * reference's `dropchunks_race.spec` outcome); the flat layout hard
    * deletes as before. A zero GenStore grace restores eager deletion.
    */
  private def dropChunkDirs(dropped: Seq[ChunkInfo]): Unit =
    dropped.foreach { c =>
      if (genLayout && GenStore.graceMs(spark) > 0)
        GenStore.chunks.tombstoneChunk(fs, Hypertable.chunkDirOf(new Path(c.path)))
      else fs.delete(Hypertable.chunkDirOf(new Path(c.path)), true)
      Hypertable.crashPoint("drop.dir_step")
    }

  /** drop_chunks(older_than): delete chunks whose range ends at or before
    * the cutoff. Returns dropped chunks.
    */
  def dropChunks(olderThanMicros: Long): Seq[ChunkInfo] =
    dropChunks(Some(olderThanMicros), None)

  def dropChunks(olderThan: java.sql.Timestamp): Seq[ChunkInfo] =
    dropChunks(olderThan.getTime * 1000L)

  /** drop_chunks with the reference's full bound surface
    * (`sql/ddl_api.sql:92-97`): older_than (range end ≤), newer_than
    * (range start ≥), or both; at least one bound is required, like the
    * reference (an unbounded drop is a truncate, which must be explicit).
    */
  def dropChunks(olderThanMicros: Option[Long],
      newerThanMicros: Option[Long]): Seq[ChunkInfo] = withMutation {
    require(olderThanMicros.isDefined || newerThanMicros.isDefined,
      "drop_chunks needs older_than and/or newer_than")
    // frozen chunks are skipped, not dropped (src/chunk.c:4113)
    val dropped = showChunks(olderThanMicros, newerThanMicros)
      .filterNot(c => Hypertable.chunkFrozen(fs, new Path(c.path)))
    // seal the dropped set: a concurrent append batch routing into one of
    // these chunks either drains before the tombstone lands or yields and
    // re-ingests into a fresh rebirth generation after it
    MutationGate.withSeals(spark, fs, qualifiedPath,
        dropped.map(c => Some(c.startMicros))) {
      dropChunkDirs(dropped)
      // drop_chunks invalidates caggs over the removed ranges (chunk.c:
      // 4064-4101) — a later refresh covering them re-materializes from
      // what's left. As in the reference, pair retention with BOUNDED cagg
      // refresh windows (CaggRefreshPolicy offsets) to keep aggregated
      // history.
      invalidateCaggs(dropped.map(c => (c.startMicros, c.endMicros)))
      syncChunkCatalog()
    }
    dropped
  }

  /** show_chunks / drop_chunks `created_before` / `created_after`
    * (`sql/ddl_api.sql:88-108`): bound on chunk CREATION time rather than
    * dimension time — retention by ARRIVAL for late/out-of-order data. The
    * filesystem records no creation instant, so the proxy is the chunk's
    * EARLIEST data-file mtime; rewrites can only move that later, which
    * defers drops — the safe direction. Bounds are wall-clock micros;
    * `created_before` is exclusive, `created_after` inclusive, matching
    * the reference's `<` / `>=` (`src/chunk.c:2298+`). Like the reference,
    * creation bounds cannot mix with older_than/newer_than
    * (`src/chunk.c:2360`) — these are separate methods.
    */
  def showChunksCreated(createdBeforeMicros: Option[Long],
      createdAfterMicros: Option[Long]): Seq[ChunkInfo] = {
    require(createdBeforeMicros.isDefined || createdAfterMicros.isDefined,
      "created bounds need created_before and/or created_after")
    showChunks().filter { c =>
      val files = Columnstore.dataFiles(fs, new Path(c.path))
      files.nonEmpty && {
        val createdUs = files.map(_.getModificationTime).min * 1000L
        createdBeforeMicros.forall(createdUs < _) &&
          createdAfterMicros.forall(createdUs >= _)
      }
    }
  }

  /** drop_chunks by creation time — frozen chunks skipped as always. */
  def dropChunksCreated(createdBeforeMicros: Option[Long],
      createdAfterMicros: Option[Long]): Seq[ChunkInfo] = withMutation {
    val dropped = showChunksCreated(createdBeforeMicros, createdAfterMicros)
      .filterNot(c => Hypertable.chunkFrozen(fs, new Path(c.path)))
    MutationGate.withSeals(spark, fs, qualifiedPath,
        dropped.map(c => Some(c.startMicros))) {
      dropChunkDirs(dropped)
      invalidateCaggs(dropped.map(c => (c.startMicros, c.endMicros)))
      syncChunkCatalog()
    }
    dropped
  }

  // --------------------------------------------------- freeze / chunk status

  /** freeze_chunk (`sql/chunk.sql:40-42`, `ts_chunk_set_frozen`,
    * `src/chunk.c:3579-3586`): mark the chunk read-only — inserts, updates,
    * deletes, and maintenance (compress/decompress/compact/reorder/merge/
    * split) refuse it, and `dropChunks` skips it (`src/chunk.c:4113`).
    * Returns false if already frozen.
    *
    * Two records per frozen chunk: a sentinel IN the chunk dir (what every
    * per-chunk guard reads — one `exists` next to work it already does)
    * and a table-root catalog of frozen starts (what the hot insert path
    * reads — ONE small-file read per batch instead of a per-chunk scan).
    */
  def freezeChunk(startMicros: Long): Boolean =
      withSealedMutation(Seq(Some(startMicros))) {
    val c = chunkAt(startMicros)
    val f = new Path(c.path, Hypertable.FROZEN)
    if (fs.exists(f)) false
    else Hypertable.frozenCatalogLock.synchronized {
      Hypertable.touchFile(fs, f)
      writeFrozenCatalog(frozenCatalog() + startMicros)
      true
    }
  }

  /** unfreeze_chunk (`sql/chunk.sql:44-46`). Returns false if not frozen. */
  def unfreezeChunk(startMicros: Long): Boolean =
      withSealedMutation(Seq(Some(startMicros))) {
    Hypertable.frozenCatalogLock.synchronized {
      writeFrozenCatalog(frozenCatalog() - startMicros)
      fs.delete(new Path(chunkAt(startMicros).path, Hypertable.FROZEN), false)
    }
  }

  def isFrozen(startMicros: Long): Boolean =
    showChunks().find(_.startMicros == startMicros)
      .exists(c => Hypertable.chunkFrozen(fs, new Path(c.path)))

  /** Frozen chunk starts from the root catalog (`_graft_frozen_chunks`). */
  private[sources] def frozenCatalog(): Set[Long] = {
    val f = new Path(path, Hypertable.FROZENCAT)
    if (!fs.exists(f)) Set.empty
    else Hypertable.readSmallFile(fs, f).split('\n')
      .filter(_.nonEmpty).map(_.trim.toLong).toSet
  }

  private def writeFrozenCatalog(starts: Set[Long]): Unit = {
    val f = new Path(path, Hypertable.FROZENCAT)
    if (starts.isEmpty) { fs.delete(f, false); () }
    else {
      Hypertable.writeSmallFileDirect(fs, f,
        starts.toSeq.sorted.mkString("\n"))
    }
  }

  /** DML pre-check: a frozen chunk holding rows matching `pred` fails the
    * whole statement BEFORE any chunk is rewritten — a mid-sweep failure
    * would leave the DML half-applied with sibling rewrites already
    * durable and their cagg invalidations unrecorded. Only frozen chunks
    * are probed (none in the common case), with pushdown + limit 1.
    */
  private def requireNoFrozenHits(chunks: Seq[ChunkInfo], pred: Column,
      op: String): Unit =
    chunks.filter(c => Hypertable.chunkFrozen(fs, new Path(c.path))).foreach { c =>
      if (chunkRows(c).where(coalesce(pred, lit(false))).limit(1).count() > 0)
        throw new IllegalStateException(
          s"$op matches rows in frozen chunk ${c.path} — unfreeze_chunk first")
    }

  /** chunk_status bitmask mirroring the reference flags (`src/chunk.h`):
    * 1 = COMPRESSED (columnstore layout), 2 = UNORDERED (fragmented — some
    * leaf dir has well more data files than its byte size warrants; the
    * reference's version is out-of-order direct-compress batches),
    * 4 = PARTIAL (plain appends landed after compression), 8 = FROZEN.
    * Unlike the reference, UNORDERED is reported for raw chunks too —
    * small-file fragmentation is layout debt regardless of compression
    * state, and it is what [[CompactionPolicy]] repairs.
    */
  def chunkStatus(startMicros: Long): Int = chunkStatus(chunkAt(startMicros))

  /** Status from an already-listed [[ChunkInfo]] — one chunk walk, no
    * catalog re-listing (the shape `Info.chunks` iterates with).
    */
  def chunkStatus(c: ChunkInfo): Int = {
    var s = Columnstore.statusBits(spark, c.path)
    if (Hypertable.chunkFrozen(fs, new Path(c.path))) s |= 8
    s
  }

  /** chunk_status_text (`sql/chunk.sql:10-14`, `ts_chunk_status_text`). */
  def chunkStatusText(startMicros: Long): Seq[String] =
    Hypertable.statusText(chunkStatus(startMicros))

  def chunkStatusText(c: ChunkInfo): Seq[String] =
    Hypertable.statusText(chunkStatus(c))
}

object Hypertable {
  import GenStore.{DROP_TOMB, isSuperseded, isTombstoned, stampSuperseded,
    unregisterRewriteTmp}
  import GenStore.chunks.{isGenPath, listGenDirs, gcChunkDir}
  val CHUNK = "_chunk"
  val SPACE = "_space"
  /** Generation partition dir inside a chunk dir (gen-layout tables). */
  val GEN = "_gen"
  private val META = "_graft_hypertable.json"
  private val RANGE = "_graft_range"
  /** Table-root marker set for the duration of a flat→generational layout
    * migration ([[Hypertable!.migrateToGenLayout]]): while present the
    * table may hold a MIX of flat and `_gen=` chunk dirs, so a fresh open
    * completes the migration instead of reading it.
    */
  private[sources] val MIGRATING = "_graft_migrating"
  private[sources] val MIG_SUFFIX = ".mig"

  /** The on-disk layout flag, re-read: lets a flat handle detect that the
    * table was migrated after it was opened (see [[Hypertable!.withMutation]]).
    */
  private[sources] def metaSaysGenLayout(fs: FileSystem, path: String): Boolean =
    try "\"genLayout\":true".r
      .findFirstIn(readSmallFile(fs, new Path(path, META))).isDefined
    catch { case _: java.io.IOException => false }

  /** Complete a crashed migration found at open time, releasing the
    * mutator lease afterwards when THIS process did not already hold it —
    * a long-lived read-only session that merely healed the table must not
    * keep writers locked out for its lifetime (the heal is the one
    * mutation a reader performs).
    */
  private def healCrashedMigration(ht: Hypertable): Hypertable = {
    val hadLease = holdsMutatorLease(ht.fs, ht.qualifiedPath)
    val nh = ht.finishGenMigration()
    if (!hadLease) releaseMutatorLease(ht.spark, ht.path)
    nh
  }

  /** One chunk dir's flat→gen conversion: the whole dir (data files plus
    * every sidecar — they all resolve against the DATA dir in both
    * layouts) renames through a dot-tmp (invisible to Spark's file index)
    * into `_gen=0`. Metadata-only; no data rewrite. Idempotent, and
    * resumable from either crash point via [[finishChunkGenConversion]].
    */
  private[sources] def convertChunkDirToGen(fs: FileSystem,
      chunkDir: Path): Unit = {
    if (listGenDirs(fs, chunkDir).nonEmpty) return // already generational
    val tmp = new Path(chunkDir.getParent, s".${chunkDir.getName}$MIG_SUFFIX")
    require(fs.rename(chunkDir, tmp), s"rename $chunkDir -> $tmp failed")
    finishChunkGenConversion(fs, chunkDir, tmp)
  }

  private[sources] def finishChunkGenConversion(fs: FileSystem,
      chunkDir: Path, tmp: Path): Unit = {
    fs.mkdirs(chunkDir)
    val dst = new Path(chunkDir, s"$GEN=0")
    // no crash sequence produces both the tmp and the destination (the
    // renames are atomic and consume their source) — an existing dst
    // means an out-of-contract writer recreated the chunk mid-migration;
    // renaming onto it would NEST the tmp inside (Hadoop semantics), so
    // refuse loudly and leave both for the operator
    require(!fs.exists(dst),
      s"$dst already exists — another writer recreated the chunk during " +
        s"the layout migration; resolve $tmp manually")
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
  }
  private[sources] val CONTENT_STAMP = "_graft_content_stamp"

  // publishes): `_graft_merging_<headStart>` (body: mergedEnd, then the
  // absorbed chunk dirs) / `_graft_splitting_<parentStart>` (body: the
  // split point). Readers derive a consistent view from a torn state
  // (applyRewriteIntents); mutators complete or roll back
  // (healRewriteIntents).
  private[sources] val MERGING = "_graft_merging_"
  private[sources] val SPLITTING = "_graft_splitting_"
  // ---------------------------------------------- cross-process mutator lease
  // The in-JVM lock hierarchy above is complete for ONE driver process —
  // the deployment contract (SCALE.md §14). A second process running
  // rewrite-class mutations is refused LOUDLY instead of racing: the first
  // such mutation of a table claims `_graft_mutator_lease`, a MutationGate
  // exclusive marker (one atomic create on local FS/HDFS and on stores
  // with a registered conditional PUT; create + read-back + settle on a
  // blind-PUT store), held and heartbeated for the process lifetime. A
  // different process attempting a mutation while the marker is live
  // gets a refusal naming the holder. A crashed holder's marker goes stale
  // after `spark.graft.gate.staleMs` and is taken over through the gate's
  // arbitrated takeover. Readers never touch the lease (snapshot
  // isolation is the manifest's job, above).

  private[sources] val MUTATOR_LEASE = "_graft_mutator_lease"

  private def leasePath(qualifiedRoot: String): Path =
    new Path(new Path(qualifiedRoot), MUTATOR_LEASE)

  /** Whether THIS process holds the table's mutator lease (a map hit) —
    * the "mutating process" test for manifest writes, heals and GC.
    */
  private[sources] def holdsMutatorLease(fs: FileSystem,
      qualifiedRoot: String): Boolean =
    MutationGate.holds(fs, leasePath(qualifiedRoot))

  /** Whether the store provides reliable, SETTABLE file mtimes, chosen by
    * scheme like [[MutationGate.atomicCreateCapable]]: local FS, HDFS and
    * viewfs do; every other store (S3A/GCS: `setTimes` is a no-op and
    * directory "mtimes" do not exist) takes the content-stamp freshness
    * cue from a counter written INTO the stamp file, compared against the
    * counter recorded in the manifest. See the FS-assumption matrix in
    * SCALE.md.
    */
  private[graft] def mtimeReliable(fs: FileSystem): Boolean =
    !counterFreshnessForTests && (fs.getUri.getScheme match {
      case "file" | "hdfs" | "viewfs" => true
      case _ => false
    })

  /** Test-only: take the counter freshness cue on a local store. */
  @volatile private[graft] var counterFreshnessForTests = false

  /** This process's identity in every marker it writes — one per JVM. */
  private[graft] val processId: String = java.util.UUID.randomUUID().toString

  /** Per-process base for the committer's int-typed staging attempt id:
    * both 64-bit halves of the process UUID folded to 31 bits (the whole
    * namespace the committer offers). Uniqueness is NOT assumed — the
    * write path claims the id on disk before use (see writeRouted).
    */
  private[graft] lazy val stagingAttemptBase: Int = {
    val u = java.util.UUID.fromString(processId)
    val h = u.getMostSignificantBits ^ u.getLeastSignificantBits
    math.abs(((h ^ (h >>> 32)).toInt) % 1000000000)
  }

  private val leaseAcqLock = new Object

  /** Claim (or adopt) the table's mutator lease for this process — called
    * by every rewrite-class mutation entry point; a map hit after the
    * first claim. Throws with the holder's identity when another process
    * holds a live lease.
    */
  private[graft] def acquireMutatorLease(spark: SparkSession, fs: FileSystem,
      qualifiedRoot: String): Unit = {
    val lease = leasePath(qualifiedRoot)
    if (MutationGate.holds(fs, lease)) return
    leaseAcqLock.synchronized {
      if (MutationGate.holds(fs, lease)) return
      if (!fs.exists(lease.getParent)) return // table not created yet — nothing to fence
      if (!MutationGate.tryClaimExclusive(spark, fs, lease,
          Some((fs, qualifiedRoot))))
        MutationGate.readMarker(fs, lease) match {
          case Some(m) if m.owner == processId => MutationGate.adopt(fs, m)
          case cur =>
            val holder = cur.map(_.owner).filter(_.nonEmpty)
              .getOrElse("unknown")
            val age = cur.map(m =>
              s"${System.currentTimeMillis() - math.max(m.hb, m.mtime)} ms")
              .getOrElse("unknown")
            throw new IllegalStateException(
              s"table $qualifiedRoot is being mutated by another process " +
                s"(lease holder $holder, heartbeat $age ago) — concurrent " +
                "mutating processes are out of contract (SCALE.md §14). Wait " +
                "for the lease to expire, or have the holder release it " +
                "(Hypertable.releaseMutatorLease / exit).")
        }
    }
  }

  /** A live FOREIGN exclusive mutator lease on the table: another process
    * is running rewrite-class mutations right now. Consulted by the gate's
    * foreign-activity probe (claim settle) and by torn-op healers (a
    * foreign holder's in-flight markers are live work, not a crash).
    */
  private[sources] def foreignMutatorLive(spark: SparkSession, fs: FileSystem,
      qualifiedRoot: String): Boolean =
    !holdsMutatorLease(fs, qualifiedRoot) &&
      MutationGate.readMarker(fs, leasePath(qualifiedRoot)).exists(m =>
        m.owner != processId &&
          m.live(System.currentTimeMillis(), MutationGate.staleMs(spark)))

  /** Graceful handoff: delete this process's lease (no-op when not held;
    * only disowned when already taken over) so another process can claim
    * without waiting out staleness.
    */
  def releaseMutatorLease(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = leasePath(fs.makeQualified(p).toString)
    if (MutationGate.holds(fs, lease)) MutationGate.releaseIfOurs(fs, lease)
  }

  /** The chunk IDENTITY dir of a data path (itself for flat layouts). */
  private[graft] def chunkDirOf(p: Path): Path =
    if (isGenPath(p)) p.getParent else p

  /** The storage root holding a chunk data path (primary or tablespace). */
  private[graft] def storageRootOf(p: Path): Path = chunkDirOf(p).getParent

  // --------------------------------------------------- crash injection
  // Test-only fault hook at the named multi-step publish boundaries (tmp
  // write / rename / stamp / tombstone / manifest sync): the crash-point
  // fuzz (CrashPointFuzzSpec) schedules a throw at a seeded call, leaving
  // exactly the partial on-disk state a process kill at that boundary
  // would, then asserts the next op's heal restores the rowset oracle.
  // Production cost: one volatile read of a no-op lambda per boundary.
  @volatile private[graft] var crashHook: String => Unit = _ => ()
  // per-thread re-entrancy latch for healRewriteIntents (see its scaladoc)
  private[sources] val healingIntents =
    new ThreadLocal[java.lang.Boolean] { override def initialValue = false }
  private[graft] final class InjectedCrash(val point: String)
    extends RuntimeException(s"injected crash at $point")
  private[graft] def crashPoint(name: String): Unit = crashHook(name)
  // Test-only pause after each live chunk a listing resolves (apart from
  // crashHook, whose calls the crash-point fuzz counts).
  @volatile private[graft] var listingHook: () => Unit = () => ()

  /** The qualified PRIMARY table root owning a chunk dir: the parent
    * itself, or — for tablespace-resident chunks — the pointer-home the
    * [[PRIMARY_MARKER]] records.
    */
  private[graft] def resolvePrimaryRoot(fs: FileSystem, chunkDir: Path): String = {
    val parent = fs.makeQualified(chunkDir.getParent)
    val marker = new Path(parent, PRIMARY_MARKER)
    try {
      if (fs.exists(marker)) readSmallFile(fs, marker).trim else parent.toString
    } catch { case _: java.io.FileNotFoundException => parent.toString }
  }

  /** Publish a completed rewrite of the chunk whose CURRENT live data dir
    * is `live`, from the fully-built stage `tmp` (data + sidecars:
    * `_range`, `_graft_spaceparts`, columnstore marker, colstats — all
    * written into the stage BEFORE this call). Returns Some(new live
    * path), or None when the chunk was tombstoned mid-rewrite and the drop
    * won (the rewrite is discarded; callers must skip their stamp/manifest
    * sync and report that nothing was published).
    *
    * Gen layout (live is a `_gen=` dir) — stage-and-stamp: `tmp` is the
    * chunk's next generation dir from [[stageGenDir]], so the data is
    * already in place and no file or dir is renamed. Under the table's
    * catalog lock: bump the owning root's content stamp (the crash-heal
    * cue — a publish inside the chunk dir does not touch the ROOT's
    * mtime), stamp the old generation superseded (the COMMIT point: one
    * single-object PUT, atomic on every store including S3/GCS), then GC
    * this chunk's graced-out generations. The caller re-snapshots the
    * manifest afterwards. Mid-write the partial new generation is
    * invisible: manifest readers resolve the old path, and listing
    * liveness is "lowest unstamped generation", which stays the old one
    * until the stamp. A crash before the stamp leaves an unstamped
    * above-live remnant the next maintenance GC deletes (never acked); a
    * crash after it heals forward (the staleness cue re-lists and finds
    * the new generation live).
    *
    * Flat layout: the in-place delete+rename swap.
    */
  private[graft] def publishChunkRewrite(spark: SparkSession, fs: FileSystem,
      live: Path, tmp: Path): Option[Path] = try {
    // the in-flight registration (JVM set + on-disk staging marker) is
    // dropped in the finally below — AFTER the commit/abort, so a foreign
    // GC can never treat the stage as a remnant inside the publish window
    if (!isGenPath(live)) {
      fs.delete(live, true)
      require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
      Some(live)
    } else {
      val chunkDir = live.getParent
      require(isGenPath(tmp) &&
        fs.makeQualified(tmp.getParent) == fs.makeQualified(chunkDir),
        s"$tmp is not a generation staged in $chunkDir (stageGenDir)")
      val primary = resolvePrimaryRoot(fs, chunkDir)
      val pfs = new Path(primary)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      catalogLock(primary).synchronized {
      // the stamps are the manifest's ground truth: hold the
      // cross-process catalog lock so a concurrent appender's full
      // refresh can never list the new generation before its
      // predecessor's superseded stamp lands (torn listing)
      MutationGate.withCatalogFsLock(spark, pfs, primary) {
        // the chunk was DROPPED while this rewrite ran (the caller's
        // showChunks snapshot predates the drop — drop_chunks takes the
        // table write lock, chunk rewrites only the read lock, so the
        // interleaving is legal): publishing now would place a generation
        // ABOVE the tombstone's recorded drop-max, which the rebirth heal
        // ([[healRebirth]], reserved for the write path's genuine
        // re-ingests) would then commit as new data and DELETE the
        // tombstone — silently undoing the drop and resurrecting
        // retention-deleted rows. The drop wins: discard the rewrite.
        if (isTombstoned(fs, chunkDir)) {
          GenStore.discardStage(fs, tmp)
          return None
        }
        val gens = listGenDirs(fs, chunkDir)
          .filterNot(_._2.getName == tmp.getName)
        crashPoint("publish.before_content_stamp")
        touchContentStamp(fs, chunkDir.getParent)
        crashPoint("publish.after_content_stamp")
        // stamp EVERY unstamped generation below the new one (not just
        // the caller's handle): the commit invariant is exactly one
        // unstamped (live) generation — the caller retargets to the live
        // dir before reading ([[liveChunkTarget]]), so these coincide,
        // but a single stamp keyed on a stale handle would leave the new
        // generation sitting unstamped ABOVE an unstamped older one,
        // which the crash-remnant GC rule deletes out from under the
        // manifest that points at it
        gens.foreach { case (_, d) =>
          if (!isSuperseded(fs, d)) stampSuperseded(fs, d)
        }
        crashPoint("publish.after_stamp")
        gcChunkDir(fs, chunkDir, GenStore.graceMs(spark),
          ReaderEpochs.liveFloor(spark, pfs, new Path(primary)),
          ReaderEpochs.skewMs(spark))
        Some(tmp)
      }
      }
    }
  } finally unregisterRewriteTmp(fs, tmp)

  /** Point the owning table's chunk manifest at a gen publish's new live
    * dir ([[Columnstore]]'s per-chunk primitives have no handle). This is
    * an INCREMENTAL read-modify-write of the latest manifest — replace
    * the one entry whose chunk identity matches, publish the next version
    * — NOT a full refresh: a policy sweep calls a per-chunk primitive per
    * chunk, and a full refresh's GC-walk-plus-listing per chunk would
    * make the sweep O(chunks²) in small-file I/O at the 10⁴-chunk target.
    * The rewrite preserved the chunk's range (the sidecars were copied
    * into the staged generation), so only the path cell changes. Falls
    * back to a full refresh when the manifest is missing or does not list
    * the chunk.
    */
  private[graft] def syncCatalogForChunk(spark: SparkSession, fs: FileSystem,
      dataDir: Path): Unit =
    if (isGenPath(dataDir)) {
      val chunkDir = chunkDirOf(dataDir)
      val primary = resolvePrimaryRoot(fs, chunkDir)
      catalogLock(primary).synchronized {
        val proot = new Path(primary)
        val pfs = proot.getFileSystem(spark.sparkContext.hadoopConfiguration)
        MutationGate.withCatalogFsLock(spark, pfs, primary) {
        val cat = VersionedCatalog.chunks(pfs, proot)
        val qChunk = fs.makeQualified(chunkDir).toString
        def isThis(c: ChunkInfo) =
          fs.makeQualified(chunkDirOf(new Path(c.path))).toString == qChunk
        ChunkManifest.latest(cat).filter(_._2.chunks.exists(isThis)) match {
          case Some((v, prev)) =>
            val qNew = fs.makeQualified(dataDir).toString
            val chunks = prev.chunks.map(c =>
              if (isThis(c)) c.copy(path = qNew) else c)
            // re-record the published chunk's ROOT counter: the publish
            // bumped it just before this sync, and the mtime-free
            // freshness cue must see this manifest as covering it
            val rootP = chunkDir.getParent
            val c = readContentCounter(fs, rootP)
            ChunkManifest.publish(cat, v, chunks,
              if (c >= 0) prev.cs + (fs.makeQualified(rootP).toString -> c)
              else prev.cs)
          case None =>
            at(spark, primary).refreshChunkCatalog(); ()
        }
        }
      }
    }

  /** Bump the table's content stamp — called by every chunk-CONTENT
    * rewrite that leaves the chunk SET unchanged (DML copy-on-write,
    * columnstore compress/decompress/recompress/compact), which
    * `syncChunkCatalog` deliberately does not cover. `read()`'s table-mode
    * scan memo keys on this mtime, so a memoized scan can never serve
    * part-files a rewrite deleted. Direct create (no tmp-swap): only the
    * mtime matters, concurrent bumps may interleave freely, and the
    * strictly-past-previous stamp survives coarse mtime granularity.
    */
  private[sources] def touchContentStamp(fs: FileSystem, tableRoot: Path): Unit =
    // counter writes must not interleave (read-inc-write would lose one);
    // the mutator lease makes this JVM the only stamper, so a JVM lock
    // keyed on the root is the full scope
    catalogLock(fs.makeQualified(tableRoot).toString).synchronized {
      val p = new Path(tableRoot, CONTENT_STAMP)
      val prevM =
        try fs.getFileStatus(p).getModificationTime
        catch { case _: Exception => -1L }
      // the body is a monotonic COUNTER (the mtime-free freshness cue for
      // object stores — see mtimeReliable); the mtime bump stays the cue
      // on stores that have one
      val next = math.max(readContentCounter(fs, tableRoot), 0L) + 1L
      writeSmallFileDirect(fs, p, next.toString)
      fs.setTimes(p, math.max(System.currentTimeMillis(), prevM + 1), -1)
    }

  /** The content stamp's embedded counter: -1 when absent. A pre-round-9
    * body is the literal '1' (parses as counter 1 and bumps monotonically
    * from there); a truly unparsable body falls back to the file mtime so
    * comparisons against a cs recorded from the same fallback stay
    * monotonic.
    */
  private[graft] def readContentCounter(fs: FileSystem, root: Path): Long = {
    val p = new Path(root, CONTENT_STAMP)
    try readSmallFile(fs, p).trim.toLong
    catch {
      case _: NumberFormatException =>
        try fs.getFileStatus(p).getModificationTime
        catch { case _: Exception => -1L }
      case _: Exception => -1L
    }
  }
  private[graft] val jsonMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
  private[sources] val SKIPCOLS = "_graft_skipcols"
  private[sources] val COLSETTINGS = "_graft_columnstore_settings"
  private[sources] val SCHEMA = "_graft_table_schema"
  private val COLSTATS = "_graft_colstats"
  private val SPACEPARTS = "_graft_spaceparts"
  private[sources] val INTEGERNOW = "_graft_integer_now"
  private[sources] val CAGGS = "_graft_caggs"
  private[sources] val FROZEN = "_graft_frozen"
  private[sources] val FROZENCAT = "_graft_frozen_chunks"
  private[sources] val TABLESPACES = "_graft_tablespaces"

  /** Pointer home written into each tablespace-resident per-table dir: the
    * qualified PRIMARY table root. Chunk-level mutators key their lock on
    * it so a rewrite of a moved chunk serializes against table-level
    * sweeps (which lock only the primary root).
    */
  private[sources] val PRIMARY_MARKER = "_graft_primary"

  /** Serializes root frozen-catalog read-modify-writes across threads. */
  private val frozenCatalogLock = new Object

  /** Frozen sentinel check by chunk dir (`ts_chunk_is_frozen`). */
  private[graft] def chunkFrozen(fs: FileSystem, chunkDir: Path): Boolean =
    fs.exists(new Path(chunkDir, FROZEN))

  private[sources] def statusText(s: Int): Seq[String] =
    Seq(1 -> "COMPRESSED", 2 -> "UNORDERED", 4 -> "PARTIAL", 8 -> "FROZEN")
      .collect { case (bit, name) if (s & bit) != 0 => name }

  /** In-session registry of integer-now functions (`set_integer_now_func`
    * REGPROC analog — see [[Hypertable#setIntegerNowFunc]]).
    */
  private val integerNowFuncs =
    new java.util.concurrent.ConcurrentHashMap[String, () => Long]()

  /** Serializes `_graft_caggs` read-modify-writes across threads. */
  private val caggRegistryLock = new Object

  /** Per-table-path lock serializing chunk-catalog snapshots (see
    * [[Hypertable.refreshChunkCatalog]]). Keyed on the qualified path so
    * every handle of one table shares the lock; entries are tiny and
    * unbounded growth would need unbounded distinct tables in one JVM.
    */
  private val catalogOpLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def catalogLock(qualifiedPath: String): Object =
    catalogOpLocks.computeIfAbsent(qualifiedPath, _ => new Object)

  /** Two-level chunk-mutation locking, per storage root, within the JVM —
    * the analogue of the reference's relation/row lock hierarchy (every
    * graft mutator runs on the Spark driver, so JVM scope IS the lock
    * scope; cross-PROCESS mutation of one table is out of contract, same
    * as the crash-heal note at catalogFresh).
    *
    *  - TABLE-level mutators (append routing, DML copy-on-write sweeps,
    *    merge/split/move, drops, ALTER, freeze RMW) take the root's WRITE
    *    lock: without it two copy-on-write rewrites of one chunk would
    *    both read the same base and the last tmp-swap would silently drop
    *    the other's changes, and an append racing a rewrite could land
    *    files in a dir the rewrite is about to replace.
    *  - CHUNK-level columnstore primitives (compress/decompress/
    *    recompress/compact) take the root's READ lock plus a per-chunk
    *    monitor: rewrites of DIFFERENT chunks stay parallel (the
    *    `Par.foreach` in Columnstore.compress and the policies — the
    *    reference's `parallel_compression.spec` behavior), same-chunk
    *    rewrites serialize, and any of them excludes a table-level sweep.
    *
    * ReentrantReadWriteLock: a table mutator may nest a chunk primitive
    * (read-under-write is permitted); the reverse (chunk primitive calling
    * a table mutator — a read→write upgrade) does not exist in the code.
    */
  private val mutationLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantReadWriteLock]()
  private[graft] def tableMutationLock(
      qualifiedRoot: String): java.util.concurrent.locks.ReentrantReadWriteLock =
    mutationLocks.computeIfAbsent(qualifiedRoot,
      _ => new java.util.concurrent.locks.ReentrantReadWriteLock())

  private val chunkMutationLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def chunkMonitor(qualifiedChunkPath: String): Object =
    chunkMutationLocks.computeIfAbsent(qualifiedChunkPath, _ => new Object)

  def registerIntegerNow(name: String)(f: () => Long): Unit =
    integerNowFuncs.put(name, f)

  private[sources] def integerNow(name: String): Long =
    Option(integerNowFuncs.get(name)).getOrElse(throw new IllegalStateException(
      s"integer-now func '$name' is not registered in this session")).apply()

  /** Read a chunk's recorded closed-dimension counts (`col:count` lines;
    * -1 = layout unknown), or None when never stamped.
    */
  private[graft] def readSpaceParts(fs: FileSystem,
      chunkDir: Path): Option[Map[String, Int]] = {
    val f = new Path(chunkDir, SPACEPARTS)
    if (!fs.exists(f)) return None
    Some(readSmallFile(fs, f).split('\n').filter(_.nonEmpty).map { line =>
      val i = line.lastIndexOf(':')
      line.substring(0, i) -> line.substring(i + 1).toInt
    }.toMap)
  }

  private[sources] def writeSpaceParts(fs: FileSystem, chunkDir: Path,
      counts: Map[String, Int]): Unit = {
    writeSmallFileDirect(fs, new Path(chunkDir, SPACEPARTS),
      counts.toSeq.sortBy(_._1).map { case (c, n) => s"$c:$n" }
        .mkString("\n"))
  }

  /** What [[graft.plans.ChunkExclusion]] needs to prune a hypertable scan:
    * the open-dimension column + chunk-catalog lister (listed fresh per
    * query — plan-time exclusion must see current merges/splits/drops),
    * the closed dimensions (value column, partition count, partition
    * directory column — 0..N of them, `src/dimension.h:89-97`), and the
    * chunk-skipping column-range catalog (chunk start → column → range;
    * range None = all-null column in that chunk).
    */
  case class ExclusionInfo(qualifiedPath: String, timeCol: String,
      chunks: () => Seq[ChunkInfo], spaces: Seq[(String, Int, String)],
      skipStats: () => Map[Long, Map[String, Option[(Any, Any)]]] = () => Map.empty,
      /** Per-chunk closed-dim counts after set_number_partitions (chunk
        * start → column → count; -1 = layout unknown). Empty = every chunk
        * uses the declared count.
        */
      spaceParts: () => Map[Long, Map[String, Int]] = () => Map.empty,
      /** Chunk-skipping-enabled column NAMES — one small catalog-file read,
        * so the planner can rule out stats pruning without paying the
        * per-chunk `skipStats` listing on every unrelated query.
        */
      skipCols: () => Seq[String] = () => Seq.empty,
      /** Partition-directory column the `IN (...)` prune targets —
        * `_chunk` for hypertables, `_mat_chunk` for a cagg's registered
        * materialization.
        */
      chunkCol: String = Hypertable.CHUNK)

  /** Persist a chunk's skip-column ranges (TSV: one `col kind min max` row
    * per column; kind `l` = long-domain, `d` = double-domain, `n` = all
    * null). Columns with no sound range are omitted.
    */
  private[sources] def writeColStatsFile(fs: FileSystem, chunkDir: Path,
      ranges: Map[String, Option[(Any, Any)]]): Unit = {
    val lines = ranges.toSeq.sortBy(_._1).map {
      case (c, None) => s"$c\tn"
      case (c, Some((mn: java.lang.Long, mx: java.lang.Long))) => s"$c\tl\t$mn\t$mx"
      case (c, Some((mn: java.lang.Double, mx: java.lang.Double))) => s"$c\td\t$mn\t$mx"
      case (c, Some((mn, mx))) =>
        throw new IllegalStateException(s"unexpected range types for $c: $mn/$mx")
    }
    writeSmallFileDirect(fs, new Path(chunkDir, COLSTATS),
      lines.mkString("\n"))
  }

  /** Refresh one chunk's skip-column ranges when its parent hypertable has
    * chunk skipping enabled — for rewrite paths that only know the chunk
    * dir (columnstore compress/decompress).
    */
  private[sources] def refreshColStatsIfEnabled(spark: SparkSession,
      chunkPath: String): Unit = {
    val chunkP = new Path(chunkPath)
    val fs = chunkP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the skip-column registry lives at the PRIMARY table root: resolve
    // through the gen level (a data dir's parent is the chunk dir, not
    // the root) and the tablespace pointer-home (a moved chunk's parent
    // is the tablespace's per-table dir) — probing chunkP.getParent
    // directly silently no-opped for both, publishing rewritten
    // generations without their colstats sidecar and losing that chunk's
    // skip pruning until the next DML refresh
    val primary = new Path(resolvePrimaryRoot(fs, chunkDirOf(chunkP)))
    // the primary root may live on a DIFFERENT filesystem than the chunk
    // (moveChunk supports cross-FS tablespaces via FileUtil.copy) — probe
    // the registry with the root's own FS, like syncCatalogForChunk
    val pfs = primary.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val skipF = new Path(primary, SKIPCOLS)
    if (!pfs.exists(skipF)) return
    val cols = readSmallFile(pfs, skipF).split('\n').map(_.trim).filter(_.nonEmpty).toSeq
    if (cols.nonEmpty)
      writeColStatsFile(fs, chunkP,
        graft.operators.Stats.columnRanges(spark, chunkPath, cols))
  }

  /** Read a chunk's recorded skip-column ranges; None = no catalog entry
    * (chunk contents changed since stats were last computed, or skipping
    * was never enabled) — such a chunk is never pruned on these columns.
    */
  private[graft] def readColStatsFile(fs: FileSystem,
      chunkDir: Path): Option[Map[String, Option[(Any, Any)]]] = {
    val f = new Path(chunkDir, COLSTATS)
    if (!fs.exists(f)) return None
    Some(readSmallFile(fs, f).split('\n').filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(c, "n")         => c -> None
        case Array(c, "l", mn, mx) =>
          c -> Some((java.lang.Long.valueOf(mn): Any, java.lang.Long.valueOf(mx): Any))
        case Array(c, "d", mn, mx) =>
          c -> Some((java.lang.Double.valueOf(mn): Any, java.lang.Double.valueOf(mx): Any))
        case other =>
          throw new IllegalStateException(s"bad colstats line: $line")
      }
    }.toMap)
  }

  private val exclusionRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, ExclusionInfo]()

  private[graft] def registerForExclusion(info: ExclusionInfo): Unit =
    exclusionRegistry.put(info.qualifiedPath, info)

  def lookupExclusion(qualifiedPath: String): Option[ExclusionInfo] =
    Option(exclusionRegistry.get(qualifiedPath))

  /** Read a chunk's recorded non-default range end, if any. Tolerates a
    * concurrent [[writeRangeFile]]: a vanished or momentarily-empty file
    * (the delete+rename swap window) retries briefly, then reads as None.
    */
  private[sources] def readRangeFile(fs: FileSystem, chunkDir: Path): Option[Long] = {
    val f = new Path(chunkDir, RANGE)
    var attempt = 0
    while (attempt < 3) {
      try {
        if (!fs.exists(f)) return None
        val txt = readSmallFile(fs, f).trim
        if (txt.nonEmpty) return Some(txt.toLong)
      } catch { case _: java.io.FileNotFoundException => }
      attempt += 1
      if (attempt < 3) Thread.sleep(5L << attempt)
    }
    None
  }

  /** Record a chunk's range end (merge/split write non-default ranges). */
  private[sources] def writeRangeFile(fs: FileSystem, chunkDir: Path, endMicros: Long): Unit =
    writeSmallFile(fs, new Path(chunkDir, RANGE), endMicros.toString)

  /** `file://` fast path for graft's own SMALL metadata files: Hadoop's
    * LocalFileSystem pays a forked `chmod` per create (no native lib in
    * most deployments) plus a `.crc` sidecar write — ~5–10 ms where
    * java.nio does the same durable work in ~10 µs. Metadata-heavy paths
    * (catalog stamps, claims, watermarks, heartbeats) issue dozens of
    * these per batch, so the fork cost dominated machinery operations at
    * small scale and is pure overhead at any scale. Non-local schemes
    * (HDFS, S3, …) keep the Hadoop path unchanged.
    */
  private[graft] def localFileOf(fs: FileSystem, p: Path): Option[java.io.File] =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
          _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val u = fs.makeQualified(p).toUri
        if (u.getScheme == "file") Some(new java.io.File(u.getPath)) else None
      case _ => None
    }

  /** A pre-nio writer may have left a checksum sidecar; a bare-nio rewrite
    * would leave it STALE and a later Hadoop-path `open` would fail
    * verification — drop it whenever the nio path (re)writes the file.
    */
  private def dropCrcSidecar(f: java.io.File): Unit = {
    val dir = f.getParentFile
    if (dir != null) { new java.io.File(dir, s".${f.getName}.crc").delete(); () }
  }

  /** Atomic metadata write: create-then-write would expose a concurrent
    * reader to a truncated (empty) file between `create` and `close` —
    * observed as a NumberFormatException from a racing `showChunks` while
    * per-chunk DML jobs re-stamp their range files. Writing a dot-prefixed
    * tmp (invisible to Spark's file index) and renaming in means readers
    * see the old content, no file, or the full new content — never a
    * partial write.
    */
  def writeSmallFile(fs: FileSystem, p: Path, s: String): Unit =
    localFileOf(fs, p) match {
      case Some(f) =>
        val dir = f.getParentFile
        if (dir != null && !dir.isDirectory) dir.mkdirs()
        val tmp = new java.io.File(dir,
          s".${f.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        java.nio.file.Files.write(tmp.toPath, s.getBytes("UTF-8"))
        dropCrcSidecar(f)
        // atomic rename-over: readers see the old content or the full new
        // content — strictly tighter than the Hadoop path's delete+rename
        // "no file" window, which every caller already tolerates
        try java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.AtomicMoveNotSupportedException =>
            java.nio.file.Files.move(tmp.toPath, f.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        ()
      case None =>
        val tmp = new Path(p.getParent,
          s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        val out = fs.create(tmp, true)
        out.write(s.getBytes("UTF-8")); out.close()
        // rename refuses an existing destination on several stores; the
        // delete+rename window reads as "no file", which callers handle
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"could not swap metadata file $p")
        }
    }

  /** Plain truncate-overwrite of a small metadata file — no tmp+rename;
    * callers that chose this form accept the in-place overwrite's torn
    * window instead of a swap's no-file window. `createNew` refuses an
    * existing file instead (IOException; atomic on POSIX). Same `file://`
    * fast-path rationale as [[writeSmallFile]].
    */
  private[graft] def writeSmallFileDirect(fs: FileSystem, p: Path,
      s: String, createNew: Boolean = false): Unit =
    localFileOf(fs, p) match {
      case Some(f) =>
        val dir = f.getParentFile
        if (dir != null && !dir.isDirectory) dir.mkdirs()
        dropCrcSidecar(f)
        val opts =
          if (createNew) Seq(java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          else Nil
        java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"), opts: _*); ()
      case None =>
        val out = fs.create(p, !createNew)
        out.write(s.getBytes("UTF-8")); out.close()
    }

  /** Empty-marker create (touch), overwrite-if-exists. */
  private[graft] def touchFile(fs: FileSystem, p: Path): Unit =
    writeSmallFileDirect(fs, p, "")

  def readSmallFile(fs: FileSystem, p: Path): String =
    localFileOf(fs, p) match {
      case Some(f) =>
        try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        catch {
          // align with fs.open's contract — callers catch FileNotFound
          case e: java.nio.file.NoSuchFileException =>
            throw new java.io.FileNotFoundException(e.getMessage)
        }
      case None =>
        val in = fs.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](4096)
          var n = in.read(tmp)
          while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          buf.toString("UTF-8")
        } finally in.close()
    }

  /** Declare (or re-open) a hypertable rooted at `path`. `chunkWidth` is an
    * interval string for "timestamp"/"uuidv7" dimensions (default: the
    * reference's 7 days, `src/dimension.h:115`), or a raw integer width (as
    * a string, e.g. "3600000000") for a "bigint" dimension.
    *
    * `catalog` picks one of the two layouts of a NEW table: "list" (flat
    * `_chunk=` dirs, chunk set listed per query, rewrites swap in place)
    * or "table" (generations: a versioned chunk manifest, and every chunk
    * rewrite stages its next `_gen=` dir and commits by stamping the old
    * one superseded — see [[publishChunkRewrite]]). Re-opening an existing
    * table keeps its layout whatever `catalog` says; a list table reaches
    * the generation layout only through `migrateToGenLayout()`.
    */
  def create(spark: SparkSession, path: String, timeCol: String,
      chunkWidth: String = "7 days", spaceCol: Option[String] = None,
      spacePartitions: Int = 4, timeKind: String = "timestamp",
      extraSpace: Seq[(String, Int)] = Nil,
      catalog: String = "list"): Hypertable = {
    require(Seq("timestamp", "bigint", "uuidv7").contains(timeKind),
      s"timeKind must be timestamp/bigint/uuidv7, got $timeKind")
    val (widthMicros, months) =
      if (timeKind == "bigint") (chunkWidth.trim.toLong, 0)
      else {
        val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
          .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(chunkWidth))
        require(iv.months == 0 || (iv.days == 0 && iv.microseconds == 0),
          "chunk width must be either a month interval or a day/time interval, not both")
        require(iv.months == 0 || timeKind == "timestamp",
          "month-width chunks need a timestamp dimension")
        (iv.days * TimeBucketUtil.MICROS_PER_DAY + iv.microseconds, iv.months)
      }
    require(catalog == "list" || catalog == "table",
      s"catalog must be 'list' or 'table', got '$catalog'")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // re-opening an existing table keeps its physical layout, and with it
    // its catalog: a flat table must not silently flip to the generational
    // layout (its chunks carry no _gen= dirs; migrateToGenLayout is the
    // way there) — and a MIGRATED table must not flip back (the
    // exception-guarded helper read also keeps a transient read failure
    // from being mistaken for "flat" and persisted below). The reference's
    // create-on-existing if_not_exists shape: the existing configuration
    // is preserved rather than erroring.
    val gen =
      if (fs.exists(new Path(path, META))) metaSaysGenLayout(fs, path)
      else catalog == "table"
    val ht = new Hypertable(spark, path, timeCol, widthMicros, spaceCol,
      spacePartitions, chunkMonths = months, timeKind = timeKind,
      extraSpace = extraSpace, genLayout = gen)
    fs.mkdirs(new Path(path))
    writeMeta(spark, path, timeCol, timeKind, widthMicros, months, spaceCol,
      spacePartitions, extraSpace, repartitioned = false, genLayout = gen)
    // complete a crashed gen-layout migration before handing out a handle
    // over the mixed layout (same hook as [[at]])
    if (fs.exists(new Path(path, MIGRATING))) healCrashedMigration(ht) else ht
  }

  private[sources] def writeMeta(spark: SparkSession, path: String,
      timeCol: String, timeKind: String, widthMicros: Long, months: Int,
      spaceCol: Option[String], spacePartitions: Int,
      extraSpace: Seq[(String, Int)], repartitioned: Boolean,
      genLayout: Boolean = false): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val extraJson = extraSpace
      .map { case (c, n) => "\"" + c + ":" + n + "\"" }.mkString("[", ",", "]")
    val meta = s"""{"timeCol":"$timeCol","timeKind":"$timeKind",""" +
      s""""chunkWidthMicros":$widthMicros,""" +
      s""""chunkMonths":$months,""" +
      s""""spaceCol":${spaceCol.map(c => "\"" + c + "\"").getOrElse("null")},""" +
      s""""spacePartitions":$spacePartitions,""" +
      s""""extraSpace":$extraJson,""" +
      s""""repartitioned":$repartitioned,""" +
      s""""genLayout":$genLayout,""" +
      s""""catalog":"${if (genLayout) "table" else "list"}"}"""
    writeSmallFileDirect(fs, new Path(path, META), meta)
  }

  /** Re-open an existing hypertable from its metadata file. */
  def at(spark: SparkSession, path: String): Hypertable = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = readSmallFile(fs, new Path(path, META))
    def str(k: String): Option[String] =
      ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(meta).map(_.group(1))
    def num(k: String): Long =
      ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(meta).map(_.group(1).toLong).get
    val months = ("\"chunkMonths\":(-?\\d+)").r.findFirstMatchIn(meta)
      .map(_.group(1).toInt).getOrElse(0)
    val extra = ("\"extraSpace\":\\[([^\\]]*)\\]").r.findFirstMatchIn(meta)
      .map(_.group(1)).filter(_.nonEmpty).toSeq
      .flatMap(_.split(',').toSeq)
      .map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .map { s =>
        val i = s.lastIndexOf(':')
        (s.substring(0, i), s.substring(i + 1).toInt)
      }
    val repart = "\"repartitioned\":true".r.findFirstIn(meta).isDefined
    val gen = "\"genLayout\":true".r.findFirstIn(meta).isDefined
    val ht = new Hypertable(spark, path, str("timeCol").get,
      num("chunkWidthMicros"),
      str("spaceCol"), num("spacePartitions").toInt, months,
      str("timeKind").getOrElse("timestamp"), extra, repartitioned = repart,
      genLayout = gen)
    // a crashed gen-layout migration left its marker: complete it before
    // anything reads the mixed layout (claims the mutator lease — refuses
    // loudly when another process holds the table; released again after
    // the heal if this process was not already the holder)
    if (fs.exists(new Path(path, MIGRATING))) healCrashedMigration(ht) else ht
  }
}

/** Retention policy runner — `add_retention_policy` semantics
  * (`sql/policy_api.sql:13-23`): drop chunks strictly older than a lag from
  * `now` (scheduling itself is external — Airflow/cron invoke this).
  */
object RetentionPolicy {
  def run(ht: Hypertable, dropBeforeMicros: Long): Seq[ChunkInfo] =
    ht.dropChunks(dropBeforeMicros)
}
