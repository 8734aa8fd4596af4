package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{functions => gf}
import graft.expressions.TimeBucketUtil
import graft.sources.{Columnstore, GenStore, Hypertable, ReaderEpochs, TimeSource,
  VersionedCatalog}

/** Dimension join inside a cagg's view query — caggs-with-joins
  * (`tsl/test/sql/cagg_joins.sql`): the raw hypertable rows are enriched
  * with a (small) dimension table before bucketing/aggregation, so group
  * columns can come from the dimension (enrich-then-aggregate). Like the
  * reference, only the HYPERTABLE side drives invalidation — a changed
  * dimension row requires a manual full refresh.
  *
  * `broadcastDim` keeps the materialization/realtime plans shuffle-free on
  * the join (the fact side never moves) — leave it on unless the dimension
  * is too large to broadcast.
  */
case class CaggJoin(
    dim: () => DataFrame,
    joinKeys: Seq[String],
    joinType: String = "inner",
    broadcastDim: Boolean = true) {
  require(joinType == "inner" || joinType == "left",
    "cagg joins support inner/left equality joins (cagg_joins.sql semantics)")

  private[streaming] def apply(raw: DataFrame): DataFrame = {
    val d = if (broadcastDim) org.apache.spark.sql.functions.broadcast(dim()) else dim()
    raw.join(d, joinKeys, joinType)
  }
}

/** Definition of a continuous aggregate: bucket width + grouping + aggregate
  * expressions (the reference's direct-view query,
  * `tsl/src/continuous_aggs/create.c:600`). `aggs` must be aliased columns.
  * `dimJoin` optionally enriches raw rows before aggregation.
  */
case class CaggDef(
    bucketWidth: String,
    groupCols: Seq[String],
    aggs: Seq[Column],
    dimJoin: Option[CaggJoin] = None,
    bucketCol: String = "bucket",
    /** Partition width of the materialization table. One partition dir per
      * BUCKET would melt the metadata layer (a year of minute-buckets =
      * 525k dirs); one dir per mat-chunk keeps listing/commit costs
      * O(chunks) while refresh still replaces only touched chunks.
      *
      * Default "auto" = 10× the source hypertable's chunk width, the
      * reference's sizing (`tsl/src/continuous_aggs/create.c:104`
      * `MATPARTCOL_INTERVAL_FACTOR`, applied at `:631`): aggregated rows
      * are far smaller than raw rows, so mat chunks hold proportionally
      * more time per dir — fewer dirs to list and commit. Changing the
      * width on an already-materialized cagg requires a full refresh (the
      * on-disk `_mat_chunk` keys are derived from it).
      */
    matChunkWidth: String = "auto",
    /** Bucket in this timezone's wall-clock (`time_bucket(width, ts,
      * timezone)` caggs, reference `cagg_timezone.sql` variable-bucket
      * suite): bucket STARTS are local-midnight/month instants, so bucket
      * widths vary across DST. Bucket values stored/emitted remain UTC
      * instants.
      */
    bucketTz: Option[String] = None,
    /** Custom bucket origin as UTC micros (`time_bucket(width, ts, origin)`
      * caggs, reference `exp_cagg_origin` suite). Not combined with
      * `bucketTz` here.
      */
    bucketOriginMicros: Option[Long] = None,
    /** Raw-row predicate of the cagg's defining query (the `WHERE` clause
      * in `CREATE MATERIALIZED VIEW ... AS SELECT ... WHERE ...`, e.g.
      * `cagg_union_view.sql` mat_m1): applied before bucketing in both the
      * materialization and the realtime live side.
      */
    filter: Option[Column] = None,
    /** Helper aggregates usable in [[having]] but dropped from the output
      * (the reference allows `HAVING sum(c) > 50` with `sum(c)` absent from
      * the select list). Each must be aliased.
      */
    havingAggs: Seq[Column] = Nil,
    /** Post-aggregation predicate (`HAVING`), referencing output and/or
      * [[havingAggs]] aliases. Safe to apply at materialization: each
      * refresh recomputes whole buckets, so a group row's pass/fail is
      * always decided on its complete aggregate — no partial-merge hazard.
      */
    having: Option[Column] = None,
    /** Window expressions in the defining query — the reference's
      * EXPERIMENTAL `timescaledb.enable_cagg_window_functions` surface
      * (`src/guc.c:1031`, validated `tsl/src/continuous_aggs/common.c:
      * 665-695`, exercised by `tsl/test/sql/cagg_ddl.sql` cagg_window_1-4).
      * Each entry must be an aliased window expression over the AGGREGATED
      * rows, referencing output columns ([[bucketCol]], group cols, agg /
      * [[havingAggs]] aliases) — e.g.
      * `rank().over(Window.partitionBy("bucket").orderBy("cnt")).as("r")`.
      * Values are computed at refresh over the recomputed region (and at
      * query time on the realtime live side), so they are deterministic —
      * independent of refresh-window carving — exactly when every window
      * is partitioned by [[bucketCol]] (whole buckets are always
      * recomputed together). That bucket-partitioned shape is the only one
      * the reference's tests exercise; anything else inherits the same
      * "may result in unexpected results" caveat the reference warns about.
      * Creation is gated on `spark.graft.enable_cagg_window_functions`
      * (default off, like the reference).
      */
    windowCols: Seq[Column] = Nil) {
  // PostgreSQL's interval lexer accepts '1week'/'30m' forms (the
  // reference's own cagg_ddl.sql:1461 writes '1week'); Spark's does not —
  // normalize via pgIntervalText before parsing
  private def interval(s: String) = org.apache.spark.sql.catalyst.util.IntervalUtils
    .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(
      TimeBucketUtil.pgIntervalText(s)))

  require(bucketTz.isEmpty || bucketOriginMicros.isEmpty,
    "bucketTz and bucketOriginMicros cannot be combined")
  require(havingAggs.isEmpty || having.nonEmpty,
    "havingAggs without a having predicate would compute and drop dead columns")
  windowCols.foreach { c =>
    require(org.apache.spark.sql.GraftShims.toExpressionEager(c).exists {
      case _: org.apache.spark.sql.catalyst.expressions.WindowExpression => true
      case _: org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression => true
      case _ => false
    }, s"windowCols entries must be window expressions (fn().over(spec)), got: $c" +
      " — plain aggregates belong in aggs")
  }

  /** Aggregate + HAVING tail shared by materialization and the realtime
    * live side: helper aggregates computed, predicate applied, helpers
    * dropped. The helpers are dropped positionally — they are always the
    * trailing `havingAggs.size` output columns of the aggregation, so no
    * Column→name reflection is needed.
    */
  private[streaming] def aggregateAndHave(grouped:
      org.apache.spark.sql.RelationalGroupedDataset): org.apache.spark.sql.DataFrame = {
    val all = aggs ++ havingAggs
    // a defining query with no aggregate items (`SELECT time_bucket(...)
    // FROM t GROUP BY 1`, the reference's cagg_chunk_interval /
    // cagg_window_1 shapes in cagg_ddl.sql) is a pure bucketed DISTINCT
    if (all.isEmpty)
      return grouped.agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__graft_nop")).drop("__graft_nop")
    val agg = grouped.agg(all.head, all.tail: _*)
    val post = having.foldLeft(agg)((df, p) => df.where(p))
    if (havingAggs.isEmpty) post
    else post.select(post.columns.dropRight(havingAggs.size)
      .map(org.apache.spark.sql.functions.col).toSeq: _*)
  }
  /** Append [[windowCols]] over the aggregated rows. The caller ensures
    * the frame exposes [[bucketCol]] (materialization temporarily projects
    * it from the internal micros column).
    */
  private[streaming] def applyWindows(df: DataFrame): DataFrame =
    if (windowCols.isEmpty) df
    else df.select(df.columns.toSeq.map(org.apache.spark.sql.functions.col)
      ++ windowCols: _*)
  /** Parsed zone (validates the id eagerly, at definition time). */
  @transient private lazy val zone: java.time.ZoneId =
    java.time.ZoneId.of(bucketTz.get)
  bucketTz.foreach(_ => zone)

  /** A bare integer width ("10") targets an integer-time (bigint-dimension)
    * hypertable — the reference's `time_bucket(BIGINT '10', time)` cagg form
    * (`tsl/test/sql/cagg_invalidation.sql` uses exactly this shape). The
    * width is then in the dimension's own units.
    */
  private[graft] val integerWidth: Boolean = bucketWidth.trim.matches("-?\\d+")
  require(!integerWidth || (bucketTz.isEmpty && bucketOriginMicros.isEmpty),
    "integer-time caggs have no timezone/origin bucket form (dimension units)")

  /** calendar-month bucket width (`src/time_bucket.c:148-183`); 0 = fixed. */
  private[graft] val widthMonths: Int = {
    if (integerWidth) 0
    else {
      val iv = interval(bucketWidth)
      require(iv.months == 0 || (iv.days == 0 && iv.microseconds == 0),
        "bucket width must be either a month interval or a day/time interval, not both")
      iv.months
    }
  }
  private[graft] val widthMicros: Long = {
    if (integerWidth) {
      val w = bucketWidth.trim.toLong
      require(w > 0, s"integer bucket width must be positive, got $w")
      w
    } else {
      val iv = interval(bucketWidth)
      iv.days * TimeBucketUtil.MICROS_PER_DAY + iv.microseconds
    }
  }
  // reference error parity (`tsl/test/expected/cagg_errors.out`:241-255):
  // a zero or negative bucket width must fail at definition time, not as a
  // downstream division-by-zero during refresh alignment
  require(widthMonths > 0 || widthMicros > 0,
    "time bucket width must be greater than zero")
  /** Effective mat-chunk width for a given source: explicit width, or the
    * reference's 10× source-chunk-width default (month-width or non-
    * hypertable sources fall back to 70 days = 10× the reference's 7-day
    * default chunk).
    */
  private[graft] def matChunkMicrosFor(source: graft.sources.TimeSource): Long = {
    if (matChunkWidth != "auto") {
      // integer-width caggs take a raw integer mat-chunk width in the same
      // units; a calendar interval here would silently mix micros with
      // dimension units
      val m =
        if (integerWidth) {
          require(matChunkWidth.trim.matches("-?\\d+"),
            "an integer-width cagg needs a raw integer matChunkWidth " +
              "(dimension units), not a calendar interval")
          matChunkWidth.trim.toLong
        } else {
          val iv = interval(matChunkWidth)
          require(iv.months == 0, "matChunkWidth must be a fixed day/time interval")
          iv.days * TimeBucketUtil.MICROS_PER_DAY + iv.microseconds
        }
      require(widthMonths > 0 || m >= widthMicros, "matChunkWidth must be >= bucketWidth")
      m
    } else {
      val base = source match {
        case ht: graft.sources.Hypertable if ht.chunkMonths == 0 && ht.chunkWidthMicros > 0 =>
          10L * ht.chunkWidthMicros
        case _ => 70L * TimeBucketUtil.MICROS_PER_DAY
      }
      // a mat chunk must hold at least one whole bucket (month buckets can
      // span up to 31 days × widthMonths; tz buckets stretch by a DST hour)
      val minSpan =
        if (widthMonths > 0) widthMonths * 31L * TimeBucketUtil.MICROS_PER_DAY
        else if (bucketTz.isDefined) widthMicros + TimeBucketUtil.MICROS_PER_DAY
        else widthMicros
      math.max(base, minSpan)
    }
  }

  // month-width origins past day 28 would drift under calendar-month
  // stepping (plusMonths clamps Jan 31 → Feb 28, so advance no longer
  // agrees with months-since-origin flooring); refuse up front
  bucketOriginMicros.foreach { o =>
    if (widthMonths > 0)
      require(java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(o, 1000000L),
          (Math.floorMod(o, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC).getDayOfMonth <= 28,
        "month-width bucket origin must fall on day 1-28 of its month")
  }

  /** Floor in the space bucket arithmetic is FIXED in: raw units for
    * integer widths, UTC micros for plain widths, local wall-clock micros
    * for tz buckets (where buckets ARE fixed-width/whole-month).
    */
  private def floorFixed(us: Long, origin: Long): Long =
    if (widthMonths > 0) TimeBucketUtil.bucketMonthsMicros(us, widthMonths, origin)
    else TimeBucketUtil.bucketMicros(us, widthMicros, origin)

  /** Bucket start at-or-before `us` (integer widths align to origin 0, like
    * the reference's `ts_int_bucket`; timestamp widths to the Monday epoch
    * or the explicit origin; tz widths floor in local wall-clock space and
    * convert back to the instant).
    */
  private[graft] def bucketFloor(us: Long): Long =
    if (integerWidth) TimeBucketUtil.bucketLong(us, widthMicros, TimeBucketUtil.SENTINEL)
    else bucketTz match {
      case Some(_) => TimeBucketUtil.instantMicros(
        floorFixed(TimeBucketUtil.localMicros(us, zone), TimeBucketUtil.SENTINEL), zone)
      case None =>
        floorFixed(us, bucketOriginMicros.getOrElse(TimeBucketUtil.SENTINEL))
    }

  /** Start of the n-th bucket after the one starting at `bucketStart`.
    * tz buckets step in local wall-clock space (a DST-crossing daily
    * bucket is 23 or 25 hours as an instant span).
    */
  private[graft] def bucketAdvance(bucketStart: Long, n: Int): Long = {
    def step(us: Long): Long =
      if (widthMonths > 0) TimeBucketUtil.addMonthsMicros(us, widthMonths * n)
      else us + widthMicros * n
    bucketTz match {
      case Some(_) => TimeBucketUtil.instantMicros(
        step(TimeBucketUtil.localMicros(bucketStart, zone)), zone)
      case None => step(bucketStart)
    }
  }
}

/** Continuous aggregate over a [[Hypertable]] — the Spark-native equivalent
  * of the reference's cagg pipeline (`tsl/src/continuous_aggs/README.md`):
  *
  *  - materialization table: parquet partitioned by `_bucket` (micros), so a
  *    refresh replaces exactly the recomputed buckets via dynamic partition
  *    overwrite — the MERGE in `materialize.c:442,461,524`;
  *  - watermark: end of the last materialized bucket, kept in a `_watermark`
  *    file (`src/ts_catalog/continuous_aggs_watermark.c:26-40`);
  *  - invalidation log: `_invalidations/` range files appended on
  *    out-of-order ingest below the watermark (`invalidation.c`), compacted
  *    and re-materialized by [[refreshInvalidated]];
  *  - real-time view: materialized rows `< watermark` UNION live aggregation
  *    `>= watermark` (`create.c:583-592`);
  *  - refresh windows are inscribed to whole buckets (`refresh.c:29-33`).
  *
  * Late data is therefore *re-materialized*, never dropped — the key
  * divergence from vanilla Structured Streaming watermarking (SURVEY §7.2).
  *
  * Scale: refresh recomputes only invalidated buckets, reading only the raw
  * chunks overlapping them (partition pruning via [[Hypertable.between]]);
  * the shuffle is keyed on (bucket, groups) like any aggregate. One
  * partition dir per bucket is the correctness-first layout — size the
  * bucket width (or add a coarser mat-chunk level) for very long retention.
  */
class ContinuousAggregate(
    val spark: SparkSession,
    val path: String,
    val source: TimeSource,
    val defn: CaggDef) {

  import ContinuousAggregate._

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def matPath = s"$path/mat"
  private def invPath = s"$path/_invalidations"
  private val matChunkMicros: Long = defn.matChunkMicrosFor(source)

  /** Integer-time cagg: the source dimension is bigint and the bucket width
    * is a raw integer — times ARE the internal long values, no
    * timestamp<->micros conversion anywhere (reference integer-time caggs,
    * `cagg_invalidation.sql`).
    */
  private[streaming] val integral: Boolean = source match {
    case h: Hypertable => h.timeKind == "bigint"
    case cs: CaggSource => cs.parent.integral
    case _ => false
  }
  require(integral == defn.integerWidth,
    if (integral) "a bigint-dimension source needs a raw integer bucket width (e.g. \"10\")"
    else "an integer bucket width needs a bigint-dimension source")

  private def bucketOf(time: Column): Column =
    if (integral) gf.time_bucket(lit(defn.widthMicros), time)
    else (defn.bucketTz, defn.bucketOriginMicros) match {
      case (Some(tz), _) => gf.time_bucket_tz(defn.bucketWidth, time, tz)
      case (None, Some(o)) =>
        gf.time_bucket(defn.bucketWidth, time, timestamp_micros(lit(o)))
      case _ => gf.time_bucket(defn.bucketWidth, time)
    }

  /** Internal long (micros / raw units) of a time-typed column. */
  private def toUs(c: Column): Column = if (integral) c else unix_micros(c)

  /** Column value of an internal long. */
  private def fromUs(c: Column): Column = if (integral) c else timestamp_micros(c)

  /** Aggregate raw rows of [lo, hi) into finalized bucket rows. */
  private def compute(loMicros: Long, hiMicros: Long): DataFrame = {
    val joined = defn.dimJoin.foldLeft(source.between(loMicros, hiMicros))(
      (df, j) => j(df))
    val raw = defn.filter.foldLeft(joined)((df, p) => df.where(p))
    val agg = defn.aggregateAndHave(raw.groupBy(
      (toUs(bucketOf(col(source.timeCol))).as(BUCKET) +:
        defn.groupCols.map(col)): _*))
    // window exprs reference the user-visible bucket name; project it from
    // the internal micros column for their evaluation, then drop it (the
    // mat layout keeps only BUCKET). Safe per-refresh: a refresh always
    // recomputes whole buckets, so a bucket-partitioned window sees its
    // complete partition here.
    if (defn.windowCols.isEmpty) agg
    else defn.applyWindows(agg.withColumn(defn.bucketCol, fromUs(col(BUCKET))))
      .drop(defn.bucketCol)
  }

  /** Materialized rows with the bucket as a timestamp column (bucket first,
    * then group cols, then aggregates — same shape as the live aggregation).
    */
  def materialized: DataFrame = {
    // per-chunk LIVE-generation resolution (readMatLive): a refresh
    // publishes new generations and grace-retains the old, so
    // this read's planned files stay on disk through its execution even
    // under a concurrent cross-process refresh. A refresh over a window
    // with no raw rows leaves no data files — return the empty frame
    // (parquet can't infer a schema from file-less dirs).
    val live = readMatLive().getOrElse(return emptyLike())
    // register the materialization for plan-time chunk exclusion — the
    // reference plans the mat hypertable through the same expansion as a
    // raw table, so a bucket-bounded query over a year of mat chunks
    // lists only the covered weeks. `_bucket` is raw micros behind a
    // timestamp_micros projection; ChunkExclusion sees through it.
    Hypertable.registerForExclusion(Hypertable.ExclusionInfo(
      fs.makeQualified(new Path(matPath)).toString, BUCKET,
      () => matLiveEntries.map { case (k, _, _) =>
        graft.sources.ChunkInfo(k, k + matChunkMicros,
          new Path(matPath, s"$MATCHUNK=$k").toString) },
      Seq.empty,
      chunkCol = MATCHUNK))
    val df = live
      .withColumn(defn.bucketCol, fromUs(col(BUCKET)))
      .drop(BUCKET, MATCHUNK)
    val aggCols = df.columns.filterNot(c =>
      c == defn.bucketCol || defn.groupCols.contains(c))
    df.select((defn.bucketCol +: defn.groupCols) ++ aggCols map col: _*)
  }

  private def emptyLike(): DataFrame = {
    val df = compute(0L, 1L)
    val empty = spark
      .createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
      .withColumn(defn.bucketCol, fromUs(col(BUCKET)))
      .drop(BUCKET)
    // same column order as the non-empty path (bucket, groups, aggs)
    val aggCols = empty.columns.filterNot(c =>
      c == defn.bucketCol || defn.groupCols.contains(c))
    empty.select((defn.bucketCol +: defn.groupCols) ++ aggCols map col: _*)
  }

  def watermark: Long =
    ContinuousAggregate.readMarker(fs, new Path(path, "_watermark"))
      .map(_.trim.toLong).getOrElse(Long.MinValue)

  private def setWatermark(us: Long): Unit =
    Hypertable.writeSmallFile(fs, new Path(path, "_watermark"), us.toString)

  /** Invalidation threshold (`tsl/src/continuous_aggs/invalidation_
    * threshold.c`): the point below which mutations must be LOGGED — a
    * marker separate from the watermark. It advances at refresh START
    * (before materialization), while the watermark advances at refresh
    * COMPLETION: rows landing during an in-flight (or crashed) refresh,
    * between watermark and threshold, are still logged and re-materialized
    * by the next [[refreshInvalidated]] pass instead of silently relying
    * on a materialization that may never have finished.
    */
  def invalidationThreshold: Long =
    ContinuousAggregate.readMarker(fs, new Path(path, "_threshold"))
      .map(_.trim.toLong).getOrElse(watermark)

  private[graft] def setInvalidationThreshold(us: Long): Unit =
    if (us > invalidationThreshold)
      Hypertable.writeSmallFile(fs, new Path(path, "_threshold"), us.toString)

  /** Inscribed-bucket alignment: first whole bucket at/after `start`,
    * last whole bucket ending at/before `end`.
    */
  def inscribe(startMicros: Long, endMicros: Long): (Long, Long) = {
    val s0 = defn.bucketFloor(startMicros)
    val s = if (s0 < startMicros) defn.bucketAdvance(s0, 1) else s0
    val e = defn.bucketFloor(endMicros)
    (s, e)
  }

  private def matChunkOf(bucketMicros: Long): Long =
    // MUST agree with graftMatChunk: integer grids align at 0, timestamp
    // grids at the kernel default origin
    if (integral) TimeBucketUtil.bucketLong(bucketMicros, matChunkMicros, TimeBucketUtil.SENTINEL)
    else TimeBucketUtil.bucketMicros(bucketMicros, matChunkMicros, TimeBucketUtil.SENTINEL)

  /** Materialize [start, end) (inscribed to whole buckets): recompute those
    * buckets from raw and rewrite exactly the mat-chunks they live in,
    * carrying over already-materialized buckets outside the window
    * (MERGE-per-chunk — `materialize.c:442,461,524`). Advances the
    * watermark. Returns the aligned window.
    *
    * Like the reference (`refresh.c:1377-1382`), the DEFAULT pass skips
    * already-clean regions: only the never-materialized tail (at/after the
    * watermark) and the logged invalidation ranges inside the window are
    * recomputed — a periodic policy re-running a standing 7-day window
    * over a 100 TB table pays for the dirty buckets, not the window.
    * `force = true` re-materializes the whole window regardless
    * (`refresh.c:1476` — the escape hatch for suspected corruption or
    * unlogged external edits to the raw files).
    *
    * The rewrite stages each touched chunk's next generation and one
    * catalog write commits them all, so concurrent READERS of a chunk see
    * old or new files, never a mix. Concurrent
    * REFRESHES are serialized by a lock file (the reference takes an
    * exclusive per-cagg lock in `refresh.c`): two windows sharing an edge
    * mat-chunk would otherwise each carry over the other's pre-refresh
    * buckets and the last chunk swap would silently win.
    */
  def refresh(startMicros: Long, endMicros: Long,
      force: Boolean = false): (Long, Long) = {
    val (s, e) = inscribe(startMicros, endMicros)
    // reference `refresh.c:1033`: a window covering zero whole buckets is a
    // caller error, not a silent no-op
    require(s < e, "refresh window too small: it must cover at least one " +
      "whole bucket after inscribing to bucket boundaries")
    withRefreshLock {
      if (force) doRefresh(s, e)
      else {
        // threshold moves at refresh START (invalidation_threshold.c
        // ordering) over the WHOLE window — mutations below e log from
        // here on even if this refresh crashes mid-way
        setInvalidationThreshold(e)
        // snapshot the log ONCE, after the threshold move: the dirty
        // regions derive from exactly these entries, and only exactly
        // these entries are cut afterwards. An entry appended while this
        // refresh runs (in-flight ingest landing in a zone this pass
        // treats as clean) is NOT in the snapshot, so it survives for the
        // next pass instead of being deleted un-repaired.
        val logSnap = invEntries()
        // dirty = logged invalidations ∩ window, widened to whole buckets.
        // "Never materialized" needs no special case: creation logs one
        // unbounded entry (`create.c:437` invalidates [-inf, +inf)), so
        // every un-refreshed region IS in the log until a refresh cuts it.
        // Everything else in the window is materialized AND clean —
        // recomputing it would produce identical bytes.
        val dirty = dirtRanges(logSnap.map(_._2)).flatMap { case (lo, hi) =>
          // clip to the (finite) window FIRST — the widening arithmetic
          // must never see unbounded endpoints
          val l = math.max(lo, s)
          val h = math.min(hi, e)
          if (l >= h) None
          else Some((math.max(defn.bucketFloor(l), s),
            math.min(defn.bucketAdvance(defn.bucketFloor(h - 1), 1), e)))
        }
        val merged = graft.Ranges.mergeOverlapping(dirty)
        merged.foreach { case (a, b) => doRefresh(a, b, cutLog = false) }
        // every dirty region is repaired and the window's clean zones were
        // just verified (materialized or rowless), so the SNAPSHOT entries
        // are repaid across the whole window — without this a data-gap
        // inside the window would read as pending forever. Cutting only
        // after ALL regions complete means a crash mid-sequence leaves
        // every entry logged (the next pass redoes at most the regions
        // that already finished — wasteful, never lossy).
        cutLog(logSnap, s, e)
        // after the loop the WHOLE window below e is materialized-or-empty
        // (dirty repaired, clean already materialized), so the realtime
        // seam advances to the window end even when nothing was rewritten
        if (e > watermark) setWatermark(e)
        (s, e)
      }
    }
  }

  /** `refresh_continuous_aggregate` with unbounded (NULL) window ends
    * (`refresh.c:996`: NULL start/end are open bounds): an unbounded end
    * clips to the source's data bounds, widened to whole buckets. A cagg
    * over an EMPTY source — or a one-sided window that covers no whole
    * bucket of the data — is the reference's "nothing to refresh" NOTICE,
    * surfaced as None rather than an error.
    */
  def refresh(startOpt: Option[Long], endOpt: Option[Long],
      force: Boolean): Option[(Long, Long)] =
    (startOpt, endOpt) match {
      case (Some(s), Some(e)) => Some(refresh(s, e, force))
      case _ => source.timeBounds.flatMap { case (lo, hi) =>
        val s = startOpt.getOrElse(defn.bucketFloor(lo))
        val e = endOpt.getOrElse(defn.bucketAdvance(defn.bucketFloor(hi - 1), 1))
        // the no-whole-bucket check must run on the INSCRIBED bounds: an
        // unaligned one-sided window (e.g. start mid-way through the
        // data's only bucket) collapses only after inscribing, and this
        // form promises None for it, not the two-sided form's error
        val (is, ie) = if (s < e) inscribe(s, e) else (s, s)
        if (is >= ie) None else Some(refresh(is, ie, force))
      }
    }

  /** `CALL refresh_continuous_aggregate(cagg, NULL, NULL[, force])` — the
    * whole-range refresh. No-op (None) on an empty source.
    */
  def refreshAll(force: Boolean = false): Option[(Long, Long)] =
    refresh(None, None, force)

  /** Batched windowed refresh — the `options` jsonb of
    * `CALL refresh_continuous_aggregate(cagg, s, e, force, options =>
    * '{"buckets_per_batch": N, "max_batches_per_execution": M,
    * "refresh_newest_first": B}')` (`sql/ddl_api.sql:200-206`; batching in
    * `tsl/src/continuous_aggs/refresh.c`). The (inscribed) window is
    * carved into N-bucket batches (month-aware stepping), at most M
    * refreshed in THIS call (0 = unlimited), newest-first by default like
    * the reference; batches the cap skips are LOGGED as invalidations so
    * the next execution picks them up — never silently unmaterialized.
    */
  def refreshBatched(startOpt: Option[Long], endOpt: Option[Long],
      bucketsPerBatch: Int, maxBatchesPerExecution: Int = 0,
      refreshNewestFirst: Boolean = true,
      force: Boolean = false): Seq[(Long, Long)] = {
    if (bucketsPerBatch <= 0) return refresh(startOpt, endOpt, force).toSeq
    val explicit = startOpt.isDefined && endOpt.isDefined
    // the data probe runs only when an endpoint is absent — a policy with
    // explicit offsets must not pay edge-footer reads per scheduled run
    lazy val bounds = source.timeBounds
    val s0 = startOpt.orElse(bounds.map(b => defn.bucketFloor(b._1)))
    val e0 = endOpt.orElse(bounds.map(b =>
      defn.bucketAdvance(defn.bucketFloor(b._2 - 1), 1)))
    (s0, e0) match {
      case (Some(sRaw), Some(eRaw)) =>
        // explicit windows keep the two-sided refresh's errors — passing
        // `options` must not turn a bad window into a silent success; the
        // data-derived (NULL-endpoint) form keeps its no-op-on-empty
        // contract, like refresh(Option, Option). Inverted input collapses
        // through inscribe (s >= sRaw, e <= eRaw), so one check covers it.
        val (s, e) = inscribe(sRaw, eRaw)
        if (s >= e) {
          require(!explicit, "refresh window too small: it must cover at " +
            "least one whole bucket")
          return Seq.empty
        }
        // O(1)-memory carving: a wide window with small buckets can hold
        // millions of batches — never materialize more than the capped
        // executed set, and log the skipped remainder as ONE range
        def grid = Iterator.iterate(s)(defn.bucketAdvance(_, bucketsPerBatch))
          .takeWhile(_ < e)
        val total = grid.size
        val cap =
          if (maxBatchesPerExecution > 0) math.min(maxBatchesPerExecution, total)
          else total
        val skipFront = if (refreshNewestFirst) total - cap else 0
        val starts0 = grid.slice(skipFront, skipFront + cap).toSeq
        val starts = if (refreshNewestFirst) starts0.reverse else starts0
        val done = starts.map { lo =>
          refresh(lo, math.min(defn.bucketAdvance(lo, bucketsPerBatch), e), force)
        }
        if (cap < total) {
          // skipped region (newest-first skips the OLD tail, oldest-first
          // the NEW one) re-logs for the next execution — never silently
          // unmaterialized
          if (refreshNewestFirst) invalidate(s, starts0.head)
          else invalidate(
            math.min(defn.bucketAdvance(starts0.last, bucketsPerBatch), e), e)
        }
        done
      case _ => Seq.empty
    }
  }

  /** Monitors for this cagg AND its hierarchy ancestors, root-most first:
    * a hierarchical child's compute READS the parent's mat chunks, which a
    * concurrent parent refresh swaps mid-read — the reference serializes
    * exactly this (`tsl/test/isolation/specs/cagg_hierarchical_concurrent_
    * refresh.spec`). The fixed ancestors-first order is cycle-free: a
    * parent refresh never takes a child's lock (it only appends to child
    * invalidation logs), and two children of one parent serialize on the
    * shared parent prefix.
    */
  private def refreshMonitorChain: List[Object] = {
    def ancestors(s: TimeSource): List[ContinuousAggregate] = s match {
      case cs: ContinuousAggregate.CaggSource =>
        ancestors(cs.parent.source) :+ cs.parent
      case _ => Nil
    }
    (ancestors(source) :+ this).map(c =>
      ContinuousAggregate.refreshMonitor(
        c.fs.makeQualified(new Path(c.path)).toString))
  }

  private def withRefreshLock[T](body: => T): T = {
    // Hadoop's createNewFile is exists-then-create — NOT atomic — so two
    // threads in one JVM can both "acquire" the file. Every refresh of a
    // Spark app runs on the driver, so per-path JVM monitors close that
    // hole exactly where it exists; the lock FILE stays for best-effort
    // cross-process exclusion (two separate apps refreshing one cagg).
    def lockAll(ms: List[Object]): T = ms match {
      case Nil => withRefreshFileLock(body)
      case h :: t => h.synchronized(lockAll(t))
    }
    lockAll(refreshMonitorChain)
  }

  /** Serialize refreshes cross-process on the shared exclusive-claim
    * protocol (round 11 — [[graft.sources.MutationGate.claimExclusive]]:
    * create-exclusive + readback + settle-confirm, heartbeated by the
    * 30 s daemon). This replaces the round-7 createNewFile + 1 h
    * mtime-staleness lock, which had BOTH failure directions: Hadoop's
    * exists-then-create let two processes acquire in the race window
    * (no readback at all), and a healthy refresh longer than an hour
    * read as crashed and was taken over mid-swap. Now a crashed
    * holder's lock goes stale in `spark.graft.gate.staleMs` (2 min
    * default — heartbeats stop with the process) while a healthy
    * hours-long refresh keeps heartbeating and is never displaced.
    * `alwaysSettle`: refresh contenders advertise no table lease, so
    * the activity probe cannot see them — the settle readback is
    * unconditional (60 ms against a multi-second refresh). Old-format
    * empty lock files from a crashed pre-round-11 process parse as
    * live-conservative within their mtime and age out on the gate
    * horizon. The reference analogue is the refresh serialization in
    * `tsl/src/continuous_aggs/refresh.c` (`cagg_concurrent_refresh.spec`).
    */
  private def withRefreshFileLock[T](body: => T): T = {
    val lock = new Path(path, "_refresh_lock")
    graft.sources.MutationGate.claimExclusive(spark, fs, lock, None,
      alwaysSettle = true)
    try { recoverMat(); body }
    finally graft.sources.MutationGate.removeMarker(fs, lock)
  }

  /** `cutLog = false`: skip the materialize-then-cut of log entries — the
    * non-forced [[refresh]] path owns the cut (it repairs several regions
    * from ONE log snapshot and cuts that snapshot against the whole window
    * only after every region completes).
    */
  private def doRefresh(s: Long, e: Long,
      cutLog: Boolean = true): (Long, Long) = {
    val wmBefore = watermark
    // threshold first (invalidation_threshold.c ordering): from here on,
    // ingest below `e` must log — even if this refresh never completes
    setInvalidationThreshold(e)
    // snapshot the log BEFORE any raw scan: entries appended while this
    // refresh runs may describe rows the compute missed, so only the
    // entries visible NOW may be cut against the window afterwards
    val logBefore = if (cutLog) invEntries() else Seq.empty
    val chunkLo = matChunkOf(s)
    val chunkHi = matChunkOf(e - 1) + matChunkMicros
    val fresh = compute(s, e).withColumn(MATCHUNK, graftMatChunk(col(BUCKET)))
    // carry-over is only needed when the window PARTIALLY covers an edge
    // mat-chunk; a chunk-aligned window (the common full/policy refresh)
    // recomputes every bucket of every touched chunk — skip the mat read
    val needCarryOver = !(s <= chunkLo && e >= chunkHi)
    val combined = readMatLive(register = false) match {
      case Some(mat) if needCarryOver =>
        val keep = mat
          .where(col(MATCHUNK) >= chunkLo && col(MATCHUNK) < chunkHi &&
            (col(BUCKET) < s || col(BUCKET) >= e))
          .select(fresh.columns.map(col): _*)
        keep.unionByName(fresh)
      case _ => fresh
    }
    // ONE generation publish of the touched mat chunks: every chunk in
    // [chunkLo, chunkHi) the catalog knows (live, or pending GC after a
    // drop) stages its next generation through GenStore; a chunk this
    // window creates gets generation 0 in a fresh dir (no GC visits a key
    // the catalog does not list, and the intent's key range covers it if
    // this publish crashes). One write job places every row straight into
    // its chunk's stage — no tmp dir, no rename — and one catalog write
    // commits them all.
    publishMatGens(Some((chunkLo, chunkHi)))(cat =>
      (cat.chunks.map(_.key) ++ cat.gc).filter(k => k >= chunkLo && k < chunkHi)) {
      (cat, stages) =>
        val gens = stages.map { case (k, d) => k -> matGens.genOf(d) }
        val keysSeen = org.apache.spark.sql.Observation(
          "graft_mat_keys_" + java.util.UUID.randomUUID().toString.take(8))
        // salt the mat-chunk shuffle like Hypertable.write: plain
        // repartition(_mat_chunk) funnels every row of a chunk through ONE
        // writer task — a refresh touching few chunks on many cores
        // serializes. Deterministic row-hash salt (shuffle exprs can't be
        // nondeterministic); 8 writer tasks per mat chunk.
        val salt = pmod(hash(combined.columns.map(col): _*), lit(8))
        combined.observe(keysSeen, collect_set(col(MATCHUNK)).as("keys"))
          .withColumn(MATGEN,
            if (gens.isEmpty) lit(0L)
            else coalesce(element_at(typedLit(gens), col(MATCHUNK)), lit(0L)))
          .repartition(col(MATCHUNK), salt)
          .write.mode(SaveMode.Append).partitionBy(MATCHUNK, MATGEN)
          .parquet(matPath)
        val written = keysSeen.get("keys").asInstanceOf[scala.collection.Seq[Any]]
          .map {
            case l: java.lang.Long => l.longValue
            case i: java.lang.Integer => i.longValue
          }.toSet
        def stageOf(k: Long) =
          stages.getOrElse(k, new Path(matChunkDir(k), s"$MATGEN=0"))
        // a mat-chunk in the window whose recomputed content is empty (all
        // raw rows deleted + invalidated) gets an EMPTY generation, or
        // materialized/realtime keep serving deleted buckets
        val emptied = cat.chunks.collect {
          case m if m.hasData && stages.contains(m.key) && !written(m.key) =>
            fs.mkdirs(stages(m.key))
            MatEntry(m.key, matRelOf(stages(m.key)), hasData = false,
              compressed = false)
        }
        written.toSeq.sorted.map(k =>
          MatEntry(k, matRelOf(stageOf(k)), hasData = true,
            compressed = false)) ++ emptied
    }
    if (e > watermark) setWatermark(e)
    // propagate down the hierarchy (the reference's cagg-on-cagg
    // invalidation flow): log the CHANGED range into each child's
    // invalidation log. A repair refresh (window at/below the previous
    // watermark) is dirty throughout; a watermark-advancing refresh only
    // changes [old watermark, e) — its below-watermark portion was clean
    // (below-watermark mutations go through invalidate() and arrive here
    // as repair refreshes), and propagating the full standing window of a
    // periodic policy would force children to re-materialize it every
    // pass with zero new data.
    val propLo = if (e <= wmBefore) s else math.max(s, wmBefore)
    if (propLo < e)
      childPaths.foreach(c => ContinuousAggregate.appendInvalidation(fs, c, propLo, e))
    // cut processed log entries against the materialized range
    // (invalidation.c): only the pre-compute snapshot is touched —
    // entries logged mid-refresh stay for the next pass
    if (cutLog) this.cutLog(logBefore, s, e)
    (s, e)
  }

  /** Delete the given log entries' overlap with [cutLo, cutHi) — that
    * range was just repaired (or verified rowless by an enclosing
    * non-forced window); a partial overlap re-logs the remainder(s).
    * Cutting ONLY an explicit snapshot is load-bearing: an entry appended
    * concurrently may describe rows no completed compute has seen.
    */
  private def cutLog(entries: Seq[(Path, (Long, Long))],
      cutLo: Long, cutHi: Long): Unit =
    entries.foreach { case (f, (lo, hi)) =>
      if (lo < cutHi && hi > cutLo) {
        fs.delete(f, false)
        if (lo < cutLo) appendInvalidation(fs, path, lo, cutLo)
        if (hi > cutHi) appendInvalidation(fs, path, cutHi, hi)
      }
    }

  /** mat-chunk key of a bucket — MUST agree with [[matChunkOf]] (same
    * time_bucket flooring, same origin), or refresh keep-filters miss the
    * chunks the writer produced.
    */
  private def graftMatChunk(bucket: Column): Column =
    if (integral) gf.time_bucket(lit(matChunkMicros), bucket)
    else unix_micros(gf.time_bucket(
      org.apache.spark.sql.functions.lit(java.time.Duration.of(
        matChunkMicros, java.time.temporal.ChronoUnit.MICROS)),
      timestamp_micros(bucket)))

  /** Log an invalidated time range (mutating txn below the watermark). */
  def invalidate(loMicros: Long, hiMicros: Long): Unit =
    ContinuousAggregate.appendInvalidation(fs, path, loMicros, hiMicros)

  /** ALL dirty ranges (merged): logged mutations plus the remainders of
    * the creation-time "everything dirty" entry. Unbounded endpoints are
    * clipped to the source's ACTUAL data bounds — dirt without rows under
    * it is vacuously repaired. Only the unbounded endpoints are clipped;
    * finite entries (real logged mutations, e.g. a tail delete) are
    * preserved even when they lie beyond the current data bounds, since
    * the MATERIALIZATION may still hold stale rows there.
    */
  private def dirtRanges(): Seq[(Long, Long)] = dirtRanges(invEntries().map(_._2))

  private def dirtRanges(raw: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    if (raw.isEmpty) return Seq.empty
    lazy val bounds = source.timeBounds
    // clip BEFORE merging: merging a finite entry into an unbounded
    // remainder first would erase the finite endpoint, and the clip could
    // then discard real dirt (e.g. a logged delete of rows at the data
    // edge, where the deletion itself moved the data bound inward)
    graft.Ranges.mergeOverlapping(raw.flatMap { case (lo, hi) =>
      val l = if (lo != Long.MinValue) lo
        else bounds.fold(Long.MaxValue)(_._1)
      val h = if (hi != Long.MaxValue) hi
        else bounds.fold(Long.MinValue)(_._2)
      if (l < h) Some((l, h)) else None
    })
  }

  /** Pending invalidations NEEDING REPAIR: dirty ranges below the
    * invalidation threshold (the reference's log holds entries only
    * there). Dirt at/above the threshold is the not-yet-materialized tail
    * — new data a policy's bounded window deliberately hasn't reached —
    * not a repair.
    */
  def pendingInvalidations(): Seq[(Long, Long)] = {
    val t = invalidationThreshold
    dirtRanges().flatMap { case (lo, hi) =>
      if (lo >= t) None else Some((lo, math.min(hi, t)))
    }
  }

  /** Raw (unmerged) log entries with their files. A file deleted between
    * the listing and the read was just processed by a concurrent refresh's
    * log cut — that range is repaired, so skipping it is the correct
    * answer, not an error.
    */
  private def invEntries(): Seq[(Path, (Long, Long))] = {
    val dir = new Path(invPath)
    if (!fs.exists(dir)) return Seq.empty
    // raw listStatus also returns writeSmallFile's in-flight dot-prefixed
    // tmp files — a concurrent append's tmp read mid-write is empty/partial
    // garbage, not an entry; the rename that publishes it is atomic
    fs.listStatus(dir).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .flatMap { st =>
        try {
          val Array(lo, hi) =
            Hypertable.readSmallFile(fs, st.getPath).trim.split(",").map(_.toLong)
          Some(st.getPath -> (lo, hi))
        } catch { case _: java.io.FileNotFoundException => None }
      }
  }


  /** Re-materialize every invalidated range — one
    * `refresh_continuous_aggregate` policy pass (`refresh.c:996`). One
    * non-forced refresh over the dirty SPAN does the work: only the dirty
    * regions inside it are recomputed, and [[refresh]]'s snapshot cut
    * removes exactly the entries it saw at start — a range logged
    * concurrently (late rows from an in-flight ingest) stays pending for
    * the next pass instead of being silently discarded.
    */
  def refreshInvalidated(): Seq[(Long, Long)] = {
    val ranges = pendingInvalidations()
    if (ranges.isEmpty) return Seq.empty
    // widen to enclosing whole buckets: invalidated rows dirty their bucket
    val widened = ranges.map { case (lo, hi) =>
      (defn.bucketFloor(lo), defn.bucketAdvance(defn.bucketFloor(hi - 1), 1))
    }
    refresh(widened.map(_._1).min, widened.map(_._2).max)
    widened
  }

  /** Chunk keys of the mat chunk dirs on disk — the PHYSICAL listing, for
    * crash recovery and the catalog-less refusal only; readers resolve
    * through [[matLiveEntries]] (one catalog read).
    */
  private def matChunkKeysListed: Seq[Long] =
    (try fs.listStatus(new Path(matPath)).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$MATCHUNK="))
      .flatMap(st => matKeyOf(st.getPath.getName))

  /** Chunk keys (bucket-time micros / integer units) of the mat chunks. */
  def matChunks: Seq[Long] = matLiveEntries.map(_._1)

  // ----------------------------------------------------- mat generations
  //
  // The materialization is a generation store ([[GenStore]], prefix
  // `_mat_gen`): each mat chunk `mat/_mat_chunk=K` holds `_mat_gen=<n>`
  // generations that GenStore stages, stamps superseded, tombstones and
  // reaps exactly as it does a gen-layout hypertable's chunks. The commit
  // point is the materialization catalog, a [[VersionedCatalog]] like the
  // hypertable's chunk manifest: it names each chunk's live generation,
  // so ONE catalog write flips every chunk a refresh touched and readers
  // resolve from one list + one get (no
  // per-chunk listing: ~10-40 s of metadata latency per query at 10^4
  // chunks on an object store before the catalog). The superseded stamps
  // and drop tombstones follow the catalog write; an intent file written
  // before any stage names the chunks a publish touches, and the next
  // refresh-lock holder rolls a crashed publish forward before any GC
  // runs. The catalog also lists the chunk keys whose dirs hold content
  // GC has yet to reap, so a publish visits O(retired) dirs, never O(mat
  // chunks). Writers all hold the refresh lock (cross-process).

  private def matCatalog = VersionedCatalog.materialization(fs, new Path(path))
  private def matIntentPath = new Path(path, "_mat_intent")
  private def matChunkDir(key: Long): Path = new Path(matPath, s"$MATCHUNK=$key")

  /** Newest catalog snapshot; None for a cagg that has not materialized
    * anything yet. A version pruned between the listing and the open
    * (publishes raced in) re-resolves — it never reads as empty. Mat
    * chunk dirs without a catalog are a layout older than the catalog,
    * which is refused.
    */
  private[graft] def readMatCatalog(): Option[MatCatalog] =
    matCatalog.latest() match {
      case Some((_, body)) => Some(parseMatCatalog(body))
      case None =>
        if (matChunkKeysListed.nonEmpty)
          throw new IllegalStateException(s"continuous aggregate $path " +
            "has materialized chunks but no materialization catalog (a " +
            "layout this version no longer reads) — re-create the " +
            "continuous aggregate and refresh it")
        None
    }

  private def parseMatCatalog(body: String): MatCatalog = {
    val t = Hypertable.jsonMapper.readTree(body)
    import scala.jdk.CollectionConverters._
    def arr(name: String) =
      Option(t.get(name)).toSeq.flatMap(_.elements().asScala)
    val chunks = arr("chunks").map(n =>
      MatEntry(n.get("k").asLong, n.get("d").asText, n.get("f").asBoolean,
        n.get("c").asBoolean))
    chunks.find(e => !e.rel.contains(s"$MATGEN=")).foreach(e =>
      throw new IllegalStateException(s"continuous aggregate $path lists " +
        s"a flat mat chunk (${e.rel}, a layout this version no longer " +
        "reads) — re-create the continuous aggregate and refresh it"))
    MatCatalog(t.get("v").asLong, chunks, arr("gc").map(_.asLong),
      arr("retired").map(_.get("d").asText))
  }

  private def writeMatCatalog(cat: MatCatalog): Unit = {
    val o = Hypertable.jsonMapper.createObjectNode()
    o.put("v", cat.v)
    val ca = o.putArray("chunks")
    cat.chunks.sortBy(_.key).foreach { e =>
      val n = ca.addObject()
      n.put("k", e.key); n.put("d", e.rel)
      n.put("f", e.hasData); n.put("c", e.compressed)
    }
    val ga = o.putArray("gc")
    cat.gc.distinct.sorted.foreach(k => ga.add(k))
    matCatalog.publish(cat.v, o.toString)
  }

  private def matRelOf(p: Path): String = {
    val base =
      fs.makeQualified(new Path(matPath)).toString.stripSuffix("/") + "/"
    val q = fs.makeQualified(p).toString
    require(q.startsWith(base), s"mat content dir $q not under $base")
    q.stripPrefix(base)
  }

  private def matDirOf(rel: String): Path = new Path(matPath, rel)

  /** (chunk key, live content dir, hasData) for every live mat chunk —
    * ONE catalog read. The reader-side resolution for materialized/
    * realtime/hierarchical reads: zero per-chunk listStatus.
    */
  private[streaming] def matLiveEntries: Seq[(Long, Path, Boolean)] =
    readMatCatalog().toSeq.flatMap(_.chunks)
      .map(e => (e.key, matDirOf(e.rel), e.hasData))
      .sortBy(_._1)

  /** After a commit (or a crash around one): each key the catalog lists
    * gets its live generation committed on disk (generations below it
    * stamped superseded, a drop tombstone lifted); every other chunk dir
    * is tombstoned. Idempotent, so the roll-forward of a crashed publish
    * and the commit share it.
    */
  private def settleMat(cat: MatCatalog, keys: Iterable[Long]): Unit = {
    val live = cat.chunks.map(e => e.key -> e.rel).toMap
    keys.foreach { k =>
      live.get(k) match {
        case Some(rel) => matGens.commitStage(fs, matChunkDir(k), matDirOf(rel))
        case None => matGens.retireChunk(fs, matChunkDir(k))
      }
    }
  }

  /** Roll a crashed publish forward: its intent names the chunk keys it
    * touched (and a key range for chunks a refresh may have created), the
    * catalog on disk says which of them committed. Runs for each
    * refresh-lock holder before anything else touches the
    * materialization; one failed open when no intent is on disk.
    */
  private def recoverMat(): Unit = {
    val body =
      try Hypertable.readSmallFile(fs, matIntentPath)
      catch { case _: java.io.FileNotFoundException => return }
    val lines = body.split("\n")
    def longs(i: Int) = lines.lift(i).toSeq.flatMap(_.split(","))
      .filter(_.nonEmpty).map(_.trim.toLong)
    val ranged = longs(1) match {
      case Seq(lo, hi) => matChunkKeysListed.filter(k => k >= lo && k < hi)
      case _ => Nil
    }
    val cat = readMatCatalog().getOrElse(MatCatalog(0L, Nil, Nil))
    val keys = (longs(0) ++ ranged ++ legacyKeys(cat)).distinct
    settleMat(cat, keys)
    writeMatCatalog(cat.copy(v = cat.v + 1, gc = cat.gc ++ keys,
      legacyRetired = Nil))
    fs.delete(matIntentPath, false)
  }

  /** Chunk keys a parent-layout catalog's retire list names. */
  private def legacyKeys(cat: MatCatalog): Seq[Long] =
    cat.legacyRetired.flatMap(r => matKeyOf(r.takeWhile(_ != '/'))).distinct

  /** Start a publish (refresh-lock holders only): the catalog it builds
    * on — written empty first for a cagg with none, so no mat chunk dir
    * ever exists without one — with a parent-layout retire list converted
    * (its generations stamped, its dropped chunks tombstoned; their grace
    * restarts here), and the chunk keys `pick` selects from it. GC visits
    * the keys pending GC and the picked ones (a crash remnant above a
    * picked chunk's live generation is reaped before the new stage goes
    * above it). The last value says whether the returned catalog differs
    * from the one on disk.
    */
  private def beginMatPublish(pick: MatCatalog => Seq[Long])
      : (MatCatalog, Seq[Long], Boolean) = {
    val cat = readMatCatalog().getOrElse {
      val empty = MatCatalog(1L, Nil, Nil)
      writeMatCatalog(empty)
      empty
    }
    val legacy = legacyKeys(cat)
    settleMat(cat, legacy)
    val picked = pick(cat).distinct
    val pending = (cat.gc ++ legacy).distinct
    val left = matGens.gcChunkDirs(spark, fs,
      (pending ++ picked).distinct.map(matChunkDir), new Path(path)).toSet
    val gc = pending.filter(k => left(matChunkDir(k)))
    // a picked key whose dropped dir GC just reaped is a new chunk again
    val live = cat.chunks.map(_.key).toSet
    val keys = picked.filter(k => live(k) || gc.contains(k))
    (cat.copy(gc = gc, legacyRetired = Nil), keys,
      gc != cat.gc || cat.legacyRetired.nonEmpty)
  }

  /** Announce the chunk keys a publish will touch (plus a key range for
    * chunks a refresh may create) before any of them changes on disk.
    */
  private def writeMatIntent(keys: Seq[Long],
      range: Option[(Long, Long)]): Unit =
    Hypertable.writeSmallFile(fs, matIntentPath, keys.mkString(",") + "\n" +
      range.fold("") { case (lo, hi) => s"$lo,$hi" })

  /** The commit: ONE catalog write flips every chunk the publish touched
    * (new live generations in, dropped chunks out), then the older
    * generations are stamped superseded and dropped chunk dirs
    * tombstoned, then the intent goes. A chunk that held earlier content
    * joins the GC list.
    */
  private def commitMat(cat: MatCatalog, dirty: Boolean,
      upd: Seq[MatEntry], dropped: Set[Long]): MatCatalog = {
    if (upd.isEmpty && dropped.isEmpty && !dirty) return cat
    val upKeys = upd.map(_.key).toSet
    val prior = cat.chunks.map(_.key).toSet ++ cat.gc
    val settle = upKeys.filter(prior) ++ dropped
    val next = cat.copy(v = cat.v + 1,
      chunks = cat.chunks.filterNot(e => upKeys(e.key) || dropped(e.key)) ++ upd,
      gc = (cat.gc ++ settle).distinct)
    writeMatCatalog(next)
    Hypertable.crashPoint("mat.after_catalog")
    settleMat(next, settle)
    if (upKeys.nonEmpty || dropped.nonEmpty) fs.delete(matIntentPath, false)
    next
  }

  /** One generation publish of the chunks `pick` selects from the
    * catalog: the intent goes to disk, each chunk's next generation is
    * staged through GenStore (registered in flight until the publish
    * ends), `build` writes the stages and returns the entries to commit.
    */
  private def publishMatGens(range: Option[(Long, Long)])(
      pick: MatCatalog => Seq[Long])(
      build: (MatCatalog, Map[Long, Path]) => Seq[MatEntry]): MatCatalog = {
    val (cat, keys, dirty) = beginMatPublish(pick)
    if (keys.nonEmpty || range.nonEmpty) writeMatIntent(keys, range)
    val stages = scala.collection.mutable.LinkedHashMap.empty[Long, Path]
    try {
      keys.foreach(k => stages(k) = matGens.stageGenDir(fs, matChunkDir(k)))
      val upd = build(cat, stages.toMap)
      Hypertable.crashPoint("mat.staged")
      commitMat(cat, dirty, upd, Set.empty)
    } finally stages.values.foreach(GenStore.unregisterRewriteTmp(fs, _))
  }

  /** Drop the mat chunks `pick` selects: out of the catalog in one write,
    * their dirs tombstoned right after (readers planned against them keep
    * their files for the grace; GenStore reaps the dirs).
    */
  private def dropMat(pick: MatCatalog => Seq[Long]): (Seq[Long], MatCatalog) = {
    val (cat, drop, dirty) = beginMatPublish(pick)
    if (drop.nonEmpty) writeMatIntent(drop, None)
    (drop.sorted, commitMat(cat, dirty, Nil, drop.toSet))
  }

  // the mat scan memo: (catalog version, scan) — like Hypertable's
  // buildScan memo, the DataFrame (and its eagerly-listed FileIndex) is
  // the catalog version's snapshot; any publish/drop bumps the version
  // and rebuilds. Cross-process refreshes are caught because every query
  // re-reads the catalog head (one list + one get) to check the version.
  @volatile private var cachedMatScan: Option[(Long, Option[DataFrame])] = None

  /** The materialization's live rows (BUCKET + groups + aggs + MATCHUNK),
    * resolved per chunk to its live generation from ONE catalog read —
    * None when no chunk holds data files.
    *
    * `register = false` for refresh-INTERNAL reads (the carry-over scan
    * at [[refresh]]): they plan and execute entirely under the refresh
    * lock, which already serializes them against every publish and GC —
    * an epoch there would let the refresher's own transient scans block
    * generation GC until collected.
    */
  private def readMatLive(register: Boolean = true): Option[DataFrame] = {
    if (!register) return readMatLiveInner()
    // reader-epoch registration BEFORE the catalog read (ReaderEpochs):
    // the epoch file is on disk first, so every dir live in the catalog
    // this read resolves can only be superseded by a later catalog write,
    // whose stamps the live epoch then blocks from GC past the grace — a
    // slower-than-the-grace reader keeps its planned files exactly, not
    // just probabilistically (SCALE.md §18)
    val epoch = ReaderEpochs.begin(spark, fs, new Path(path))
    val res =
      try readMatLiveInner()
      catch { case e: Throwable => epoch.cancel(); throw e }
    res match {
      case Some(df) => epoch.attachPlan(df)
      case None => epoch.cancel()
    }
    res
  }

  private def readMatLiveInner(): Option[DataFrame] =
    readMatCatalog().flatMap { cat =>
      cachedMatScan match {
        case Some((v, df)) if v == cat.v => df
        case _ =>
          val df = buildMatLive(cat.chunks)
          cachedMatScan = Some((cat.v, df))
          df
      }
    }

  private def buildMatLive(chunks: Seq[MatEntry]): Option[DataFrame] = {
    val dirs = chunks.filter(_.hasData).map(e => matDirOf(e.rel).toString)
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", matPath).parquet(dirs: _*)
      .drop(MATGEN))
  }

  /** Chunk keys of mat chunks currently in columnstore layout. */
  def compressedMatChunks: Seq[Long] =
    readMatCatalog().toSeq.flatMap(_.chunks)
      .collect { case e if e.compressed => e.key }.sorted

  /** Convert mat chunks fully older than the cutoff to columnstore layout —
    * compression on a continuous aggregate (`ALTER MATERIALIZED VIEW ...
    * SET (timescaledb.compress)` + a columnstore policy on the cagg).
    * Default layout mirrors the reference defaults
    * (`tsl/src/continuous_aggs/options.c`: segmentby = the GROUP BY
    * columns, orderby = the bucket). Returns the chunk keys compressed.
    *
    * A later refresh that rewrites a compressed mat-chunk (late data)
    * reverts that chunk to rowstore — the next policy pass recompresses
    * it, matching the reference's refresh-into-compressed-cagg flow.
    * Serialized against refresh by the same lock (both publish chunk
    * generations).
    */
  def compressMaterialization(olderThanMicros: Option[Long] = None,
      opts: Option[Columnstore.Options] = None): Seq[Long] = withRefreshLock {
    val o = opts.getOrElse(Columnstore.Options(
      segmentBy = defn.groupCols, orderBy = Seq(BUCKET)))
    // columnstore conversion reads the chunk's LIVE generation and
    // encodes into the chunk's next one — the same generation publish as
    // a refresh, so a cross-process reader planned against the old
    // layout is never yanked mid-read by the policy
    def todo(cat: MatCatalog) = cat.chunks.filter { e =>
      olderThanMicros.forall(cut => e.key + matChunkMicros <= cut) &&
        e.hasData && !e.compressed
    }
    var done: Seq[Long] = Nil
    publishMatGens(None)(todo(_).map(_.key)) { (cat, stages) =>
      done = todo(cat).map(_.key)
      graft.Par.map(todo(cat)) { e =>
        Columnstore.compressEncodeTmp(spark, matDirOf(e.rel).toString, o,
          Some(stages(e.key)))
        MatEntry(e.key, matRelOf(stages(e.key)), e.hasData, compressed = true)
      }
    }
    done
  }

  /** Invert [[compressMaterialization]] for every compressed mat chunk —
    * a generation publish, like the compression itself.
    */
  def decompressMaterialization(): Seq[Long] = withRefreshLock {
    def todo(cat: MatCatalog) = cat.chunks.filter(_.compressed)
    var done: Seq[Long] = Nil
    publishMatGens(None)(todo(_).map(_.key)) { (cat, stages) =>
      done = todo(cat).map(_.key)
      graft.Par.map(todo(cat)) { e =>
        Columnstore.decompressEncodeTmp(spark, matDirOf(e.rel).toString,
          Some(stages(e.key)))
        MatEntry(e.key, matRelOf(stages(e.key)), e.hasData, compressed = false)
      }
    }
    done
  }

  /** Drop mat chunks fully older than the cutoff — retention applied to
    * the CAGG itself (`add_retention_policy(cagg)` = `drop_chunks` on the
    * materialization hypertable). Raw rows are untouched; the watermark
    * stays, so [[realtime]] serves the remaining window plus live data —
    * the reference's "downsample then expire detail" pattern. Returns the
    * dropped chunk keys.
    */
  def dropMatChunks(olderThanMicros: Long): Seq[Long] = withRefreshLock {
    // drop = remove from the catalog NOW (new plans exclude the chunk at
    // once) and tombstone the dir: a cross-process reader's planned files
    // stay for the grace
    dropMat(_.chunks.collect {
      case e if e.key + matChunkMicros <= olderThanMicros => e.key })._1
  }

  /** `drop_chunks(cagg, newer_than => ...)` on the materialization —
    * the reference's "Drop the most recent chunk" scenario
    * (`cagg_query_common.sql`, golden `cagg_query_using_merge.out:605-647`):
    * mat chunks STARTING at/after the cutoff are deleted, and the WATERMARK
    * recedes to the end of the last remaining bucket (the reference
    * recomputes `cagg_watermark` from the mat data on the drop path) so the
    * realtime view re-aggregates the dropped span live. The invalidation
    * THRESHOLD deliberately stays — mutations below it keep logging
    * ("the invalidation threshold doesn't move back, while the watermark
    * does"). Cost: one footer-level max over the LAST remaining chunk dir.
    */
  def dropMatChunksNewer(newerThanMicros: Long): Seq[Long] = withRefreshLock {
    // same tombstone-and-grace contract as [[dropMatChunks]]
    val (dropped, next) =
      dropMat(_.chunks.collect { case e if e.key >= newerThanMicros => e.key })
    if (dropped.nonEmpty) {
      val remaining = next.chunks.filter(_.hasData)
      val wmNew =
        if (remaining.isEmpty) Long.MinValue
        else {
          val last = matDirOf(remaining.maxBy(_.key).rel)
          val r = spark.read.parquet(last.toString)
            .agg(org.apache.spark.sql.functions.max(col(BUCKET))).head()
          if (r.isNullAt(0)) Long.MinValue
          else defn.bucketAdvance(r.getLong(0), 1)
        }
      if (wmNew < watermark) setWatermark(wmNew)
    }
    dropped
  }

  /** Path of the raw source (hypertable, or the parent cagg of a
    * hierarchical cagg) — for introspection views.
    */
  def sourcePath: String = source match {
    case h: Hypertable => h.path
    case cs: CaggSource => cs.parent.path
    case _ => ""
  }

  /** Ingest new raw rows: write to the hypertable and log invalidations for
    * anything landing below the watermark (late data). The `INSERT` +
    * invalidation-hook path (`tsl/src/continuous_aggs/insert.c`).
    */
  def ingest(df: DataFrame): Unit = {
    val ht = source match {
      case h: Hypertable => h
      case _ => throw new UnsupportedOperationException(
        "ingest targets a raw hypertable; hierarchical caggs ingest via their base")
    }
    if (ht.caggPaths.contains(path)) {
      // the hypertable-side hook fans the batch's range out to this cagg
      // (and any sibling caggs) — cut per-cagg at each THRESHOLD, not the
      // watermark: rows under an in-flight refresh window are dirty too.
      // Cache pins ONE evaluation of the batch across the parquet write and
      // the hook's min/max aggregate — a non-deterministic input (sampling,
      // a directory being appended to) must not report a narrower range
      // than the rows actually written.
      val cached = df.cache()
      try ht.write(cached) finally cached.unpersist()
    } else {
      // cagg handle opened against a table that never registered it (e.g.
      // a registry file removed out-of-band): keep the old local path
      val cached = df.cache()
      try {
        ht.write(cached)
        // the skip_cagg_invalidation escape hatch applies to this direct
        // path too — "every DML path honors it" must include the fallback
        if (!graft.plans.Toggles.skipCaggInvalidation) {
          val wm = invalidationThreshold
          val late = cached.where(toUs(col(source.timeCol)) < wm)
            .agg(min(toUs(col(source.timeCol))), max(toUs(col(source.timeCol))))
            .head()
          if (!late.isNullAt(0)) invalidate(late.getLong(0), late.getLong(1) + 1)
        }
      } finally cached.unpersist()
    }
  }

  /** Highest stream batch id already ingested via [[CaggStream.attach]]
    * for the given checkpoint (-1 = none) — foreachBatch replay
    * protection. Keyed per checkpointLocation: batch ids restart at 0 for
    * a fresh checkpoint, and a global marker would silently DROP every
    * batch of a reprocessing run until the old max id was exceeded.
    */
  private[streaming] def lastStreamBatch(checkpoint: String): Long = {
    val p = streamBatchMarker(checkpoint)
    if (!fs.exists(p)) -1L else Hypertable.readSmallFile(fs, p).trim.toLong
  }

  private[streaming] def setLastStreamBatch(checkpoint: String, id: Long): Unit =
    Hypertable.writeSmallFile(fs, streamBatchMarker(checkpoint), id.toString)

  private def streamBatchMarker(checkpoint: String): Path = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
    new Path(path, s"_stream_batch_$key")
  }

  /** Real-time view: materialized below the watermark, live aggregation at
    * or above it (`create.c:583-592` union view).
    *
    * Freshness note: like the watermark itself, the live side's UPPER
    * bound is frozen at composition time (the edge-footer probe in
    * [[liveFrom]]) — each `realtime` call re-probes, so call it per query;
    * a caller HOLDING a returned DataFrame across later ingests will not
    * see rows above the probed max (same staleness class as holding any
    * DataFrame across a watermark advance).
    */
  def realtime: DataFrame = {
    val wm = watermark
    if (wm == Long.MinValue) return liveFrom(Long.MinValue / 2)
    materialized.where(toUs(col(defn.bucketCol)) < wm)
      .unionByName(liveFrom(wm))
  }

  /** This cagg's materialization as a [[TimeSource]] — the input of a
    * hierarchical (coarser) cagg: `create(spark, p2, cagg.asSource, dailyDef)`.
    * The child reads MATERIALIZED rows only, so refresh the parent first
    * (matching the reference: a cagg-on-cagg sees its parent's mat table).
    * Children built on this source are recorded in the parent's
    * `_children` catalog so parent refreshes propagate invalidations down
    * the hierarchy (the reference's cagg-on-cagg invalidation flow,
    * `tsl/src/continuous_aggs/invalidation.c`).
    */
  def asSource: TimeSource = new ContinuousAggregate.CaggSource(this)

  /** Record `childPath` as a dependent cagg — one marker FILE per child
    * (name = hash of the path, content = the path): concurrent creation of
    * two children writes two files, where a read-modify-write of a single
    * list file would let the second clobber the first and leave that child
    * silently un-invalidated forever.
    */
  private[streaming] def registerChild(childPath: String): Unit =
    // same lock as drop(): a child registering against a parent being
    // dropped must fail loudly, not leave a marker on a deleted dir
    ContinuousAggregate.childRegistryLock.synchronized {
      require(fs.exists(new Path(path)),
        s"cagg $path no longer exists — cannot register child $childPath")
      val dir = new Path(path, "_children")
      fs.mkdirs(dir)
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(childPath.getBytes("UTF-8")).take(8)
        .map(b => f"${b & 0xff}%02x").mkString
      Hypertable.writeSmallFile(fs, new Path(dir, key), childPath)
    }

  /** Remove `childPath`'s marker (the child was dropped). NOT under the
    * registry lock: the only caller is the child's own drop(), which
    * already holds it.
    */
  private[streaming] def unregisterChild(childPath: String): Unit = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(childPath.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
    fs.delete(new Path(new Path(path, "_children"), key), false)
  }

  /** `DROP MATERIALIZED VIEW` on a continuous aggregate: unregister from
    * the source's invalidation fan-out FIRST (a mutation landing between
    * the delete and an unregister would resurrect the dead cagg's
    * `_invalidations` dir and log into a view nobody refreshes), then
    * delete the materialization, catalogs, and registered children
    * markers. Children themselves are NOT dropped (the reference refuses
    * a drop with dependent caggs unless cascaded — here the child keeps
    * reading its last materialization and simply stops receiving
    * propagated invalidations; drop children first for a clean cascade).
    */
  def drop(): Unit = ContinuousAggregate.childRegistryLock.synchronized {
    require(childPaths.isEmpty,
      s"cagg $path has dependent caggs (${childPaths.mkString(",")}) — " +
        "drop them first, like the reference's RESTRICT behavior")
    // stop intercepting raw queries BEFORE the files disappear — a
    // registered rewrite through a dropped cagg would silently degrade
    // every matching query to a live aggregation over a dead handle
    graft.plans.CaggRewrite.evict(this)
    source match {
      case h: graft.sources.Hypertable => h.unregisterCagg(path)
      case cs: ContinuousAggregate.CaggSource => cs.parent.unregisterChild(path)
      case _ => ()
    }
    ContinuousAggregate.sessionRegistry.remove(path)
    fs.delete(new Path(path), true)
  }

  /** Paths of registered dependent (hierarchical) caggs. */
  def childCaggPaths: Seq[String] = childPaths

  private def childPaths: Seq[String] = {
    val dir = new Path(path, "_children")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(st => Hypertable.readSmallFile(fs, st.getPath).trim)
      .filter(_.nonEmpty)
  }

  private def liveFrom(wmMicros: Long): DataFrame = {
    // catalog-driven scan of ONLY the chunks at/above the seam: for a raw
    // HYPERTABLE source, between lists just the hit chunk dirs (SCALE.md
    // §2 — the realtime live side of a year-deep table reads days, not
    // the table), where read().where paid Spark's O(all chunks) partition
    // discovery per realtime query. The upper bound comes from the edge
    // footer stats (a synthetic +inf would overflow uuidv7's 48-bit ms
    // boundary encoding and under-bound exotic integer dimensions).
    // Hierarchical caggs (CaggSource) keep the plain filtered read —
    // their between is the same materialized scan plus a row filter, so
    // the bounds probe would be pure extra I/O; same for the
    // never-refreshed sentinel seam, which genuinely covers everything.
    val live = source match {
      case h: Hypertable if wmMicros > Long.MinValue / 2 =>
        h.timeBounds match {
          // the probed max moves with every append: kept out of the
          // generated code, or each fresh read would compile anew
          case Some((_, hi)) => h.between(wmMicros, hi + 1, inlineEnd = false)
          case None => h.read().where(toUs(col(h.timeCol)) >= wmMicros)
        }
      case s0 => s0.read().where(toUs(col(s0.timeCol)) >= wmMicros)
    }
    val joined = defn.dimJoin.foldLeft(live)((df, j) => j(df))
    val raw = defn.filter.foldLeft(joined)((df, p) => df.where(p))
    // live buckets sit entirely at/above the watermark, so a
    // bucket-partitioned window computed over the live rows alone agrees
    // with what a refresh will later materialize for the same buckets
    defn.applyWindows(defn.aggregateAndHave(raw.groupBy(
      (bucketOf(col(source.timeCol)).as(defn.bucketCol) +:
        defn.groupCols.map(col)): _*)))
  }
}

/** Cagg refresh policy runner — `add_continuous_aggregate_policy`
  * (`sql/policy_api.sql:99-115`): refresh the window
  * [now − startOffset, now − endOffset), inscribed to buckets, in batches
  * of `bucketsPerBatch` (capped at `maxBatchesPerExecution`), newest-first
  * or oldest-first, then fold in any pending invalidations. Scheduling
  * itself is external (cron/Airflow), like every policy here.
  */
object CaggRefreshPolicy {
  def run(cagg: ContinuousAggregate, nowMicros: Long,
      startOffsetMicros: Long, endOffsetMicros: Long,
      bucketsPerBatch: Int = 0, maxBatchesPerExecution: Int = 0,
      refreshNewestFirst: Boolean = true): Seq[(Long, Long)] = {
    require(startOffsetMicros > endOffsetMicros, "start offset must exceed end offset")
    val (s, e) = cagg.inscribe(nowMicros - startOffsetMicros, nowMicros - endOffsetMicros)
    if (s >= e) return Seq.empty
    // each windowed refresh folds in the window's own invalidations (the
    // default refresh is invalidation-driven, refresh.c:1377); dirt
    // OUTSIDE the policy window deliberately stays logged — the reference
    // policy never repairs past its offsets. Carving + newest-first + cap
    // + skipped-batch logging are shared with the CALL surface
    // ([[ContinuousAggregate.refreshBatched]]).
    if (bucketsPerBatch <= 0) Seq(cagg.refresh(s, e))
    else cagg.refreshBatched(Some(s), Some(e), bucketsPerBatch,
      maxBatchesPerExecution, refreshNewestFirst)
  }
}

object ContinuousAggregate {
  private val BUCKET = "_bucket"
  private val MATCHUNK = "_mat_chunk"
  private val MATGEN = "_mat_gen"

  /** The materialization's generation store (`_mat_gen=<n>` dirs). */
  private val matGens = new GenStore(MATGEN)

  private def matKeyOf(chunkDirName: String): Option[Long] =
    if (!chunkDirName.startsWith(s"$MATCHUNK=")) None
    else scala.util.Try(chunkDirName.stripPrefix(s"$MATCHUNK=").toLong).toOption

  /** One live mat chunk in the mat catalog: chunk key, live generation
    * dir RELATIVE to the mat root (`_mat_chunk=K/_mat_gen=N`), whether it
    * holds data files, and whether that content is columnstore-encoded.
    */
  private[graft] case class MatEntry(key: Long, rel: String,
      hasData: Boolean, compressed: Boolean)

  /** A mat catalog version: the live chunks, and `gc` — the chunk keys
    * whose dirs still hold content GenStore must reap (superseded
    * generations, a drop tombstone). `legacyRetired` is a catalog written
    * before the materialization moved onto GenStore: its retire list
    * (content dirs relative to the mat root), converted by the next
    * refresh-lock holder.
    */
  private[graft] case class MatCatalog(v: Long, chunks: Seq[MatEntry],
      gc: Seq[Long], legacyRetired: Seq[String] = Nil)

  /** In-JVM lock serializing child registration against parent drop —
    * the cagg-side analogue of `Hypertable.caggRegistryLock`.
    */
  private[streaming] val childRegistryLock = new Object

  /** A cagg's materialization exposed as a [[TimeSource]]; carries the
    * parent so [[create]] can wire up invalidation propagation.
    */
  private[streaming] class CaggSource(val parent: ContinuousAggregate) extends TimeSource {
    override def timeCol: String = parent.defn.bucketCol
    override def read(): DataFrame = parent.materialized
    override def between(startMicros: Long, endMicros: Long): DataFrame =
      parent.materialized.where(
        parentBucketUs(col(parent.defn.bucketCol)) >= startMicros &&
        parentBucketUs(col(parent.defn.bucketCol)) < endMicros)
    private def parentBucketUs(c: org.apache.spark.sql.Column) =
      if (parent.integral) c else unix_micros(c)
    /** Bounds from the edge mat chunks (key-ordered dirs): parquet footer
      * ranges first (the bucket is a plain INT64 — exact), scan fallback;
      * an empty or file-less edge dir moves the walk inward instead of
      * erasing the bounds of the chunks that still hold rows.
      *
      * Probes run OUTSIDE the refresh lock (pendingInvalidations, window
      * derivation), so a concurrent parent refresh may supersede a probed
      * generation mid-walk: a reader epoch registered before the catalog
      * read keeps every dir the walk resolved on disk until it ends.
      */
    override def timeBounds: Option[(Long, Long)] = {
      val epoch = ReaderEpochs.begin(parent.spark, parent.fs,
        new Path(parent.path))
      try timeBoundsOnce() finally epoch.cancel()
    }

    private def timeBoundsOnce(): Option[(Long, Long)] = {
      // probe each chunk's LIVE generation dir (one catalog read) — a
      // footer walk over the whole chunk dir would fold grace-retained
      // old generations into the bounds
      val dirs = parent.matLiveEntries
        .collect { case (k, p, true) => (k, p) }
      if (dirs.isEmpty) return None
      def viaFooter(p: Path, wantMin: Boolean): Option[Option[Long]] =
        graft.operators.Stats.columnRanges(parent.spark, p.toString, Seq(BUCKET))
          .get(BUCKET) match {
          case None => None
          case Some(None) => Some(None)
          case Some(Some((mn, mx))) => (if (wantMin) mn else mx) match {
            case l: java.lang.Long => Some(Some(l.longValue))
            case _ => None
          }
        }
      def viaScan(p: Path, wantMin: Boolean): Option[Long] = {
        if (graft.operators.Stats.listParquetFiles(parent.spark, p.toString).isEmpty) None
        else {
          val a = if (wantMin) min(col(BUCKET)) else max(col(BUCKET))
          val r = parent.spark.read.parquet(p.toString).agg(a).head()
          if (r.isNullAt(0)) None else Some(r.getLong(0))
        }
      }
      def bound(order: Seq[(Long, Path)], wantMin: Boolean): Option[Long] =
        order.iterator
          .map { case (_, p) => viaFooter(p, wantMin).getOrElse(viaScan(p, wantMin)) }
          .collectFirst { case Some(v) => v }
      for {
        lo <- bound(dirs, wantMin = true)
        hi <- bound(dirs.reverse, wantMin = false)
      } yield (lo, hi + 1)
    }
  }

  /** Per-cagg-path JVM monitors backing [[withRefreshLock]] — see the
    * non-atomic-createNewFile note there. Entries are tiny; unbounded
    * growth would need unbounded distinct caggs in one JVM.
    */
  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def refreshMonitor(qualifiedPath: String): Object =
    refreshLocks.computeIfAbsent(qualifiedPath, _ => new Object)

  /** Append one range file to a cagg's invalidation log (by path, so a
    * parent can write into its children's logs).
    */
  private[streaming] def appendInvalidation(fs: org.apache.hadoop.fs.FileSystem,
      caggPath: String, loMicros: Long, hiMicros: Long): Unit = {
    val dir = new Path(caggPath, "_invalidations")
    fs.mkdirs(dir)
    graft.sources.Hypertable.writeSmallFile(fs,
      new Path(dir, java.util.UUID.randomUUID().toString), s"$loMicros,$hiMicros")
  }

  /** A cagg's invalidation threshold read by path (no instance needed —
    * same `_threshold`-falls-back-to-`_watermark` rule as
    * [[ContinuousAggregate.invalidationThreshold]]).
    */
  private def thresholdAt(fs: org.apache.hadoop.fs.FileSystem,
      caggPath: String): Long =
    readMarker(fs, new Path(caggPath, "_threshold"))
      .orElse(readMarker(fs, new Path(caggPath, "_watermark")))
      .map(_.trim.toLong).getOrElse(Long.MinValue)

  /** Read a single-value marker file, riding out the tiny no-file window
    * of a concurrent [[Hypertable.writeSmallFile]] swap (delete+rename).
    *
    * The swap window is DETECTABLE: writeSmallFile creates its
    * dot-prefixed `.name.tmp-*` sibling before deleting the target, so a
    * miss during the window always coexists with an in-flight tmp file.
    * The present case is one open (no exists pre-probe); a miss lists the
    * parent once — no tmp in flight plus one confirming re-open (for a
    * swap that completed between the miss and the listing) means the
    * marker genuinely does not exist, with no sleeps on that path (a
    * never-refreshed cagg reads `_threshold`+`_watermark` on every
    * mutation's invalidation fan-out — a blind re-probe backoff there is
    * pure per-mutation cost). Only a detected in-flight swap waits.
    * Treating a clean first miss as definitive WITHOUT the tmp probe
    * would let a reader in the window read a real threshold as absent
    * and silently skip logging an invalidation.
    */
  private[streaming] def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[String] = {
    def read(): Option[String] =
      try Some(graft.sources.Hypertable.readSmallFile(fs, p))
      catch { case _: java.io.FileNotFoundException => None }
    def swapInFlight(): Boolean =
      try fs.listStatus(p.getParent).exists(
        _.getPath.getName.startsWith(s".${p.getName}.tmp-"))
      catch { case _: Exception => false }
    var attempt = 0
    while (attempt < 8) {
      read() match {
        case some @ Some(_) => return some
        case None =>
          if (!swapInFlight()) return read() // catches a just-finished swap
          attempt += 1
          if (attempt < 8) Thread.sleep(2L)
      }
    }
    read()
  }

  /** Hypertable-side invalidation distribution (the reference's
    * `invalidation.c` log-processing: one hypertable-level entry is cut at
    * each cagg's threshold and moved into that cagg's own log). Ranges at
    * or above a cagg's threshold are not logged — that region was never
    * materialized, and the next threshold-advancing refresh recomputes it
    * from raw anyway.
    */
  private[graft] def distributeInvalidation(spark: org.apache.spark.sql.SparkSession,
      caggPaths: Seq[String], ranges: Seq[(Long, Long)]): Unit =
    caggPaths.foreach { p =>
      val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val thr = thresholdAt(fs, p)
      ranges.foreach { case (lo, hi0) =>
        val hi = math.min(hi0, thr)
        if (lo < hi) appendInvalidation(fs, p, lo, hi)
      }
    }

  /** `withData = true` = `CREATE MATERIALIZED VIEW ... WITH DATA`: run a
    * whole-range refresh immediately after wiring (the reference's
    * default); `false` = `WITH NO DATA` (this library's default — callers
    * usually refresh an explicit window next).
    */
  def create(spark: SparkSession, path: String, source: TimeSource,
      defn: CaggDef, withData: Boolean = false): ContinuousAggregate = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reference parity (`tsl/src/continuous_aggs/common.c:665-695`): window
    // functions in the defining query are rejected at CREATE unless the
    // experimental GUC is on; when on, the reference elogs a WARNING —
    // mirrored here on the session log. Both toggles are read from
    // `spark`'s own conf, not the thread's active session: a caller may
    // enable them on a clone and leave its shared session alone.
    def toggle(on: => Boolean) =
      org.apache.spark.sql.internal.SQLConf.withExistingConf(spark.sessionState.conf)(on)
    if (defn.windowCols.nonEmpty) {
      if (!toggle(graft.plans.Toggles.caggWindowFunctions))
        throw new IllegalArgumentException(
          "invalid continuous aggregate query: window function support not " +
            "enabled — enable experimental window function support by " +
            "setting spark.graft.enable_cagg_window_functions " +
            "(timescaledb.enable_cagg_window_functions, src/guc.c:1031)")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "window function support is experimental and may result in " +
          "unexpected results depending on the functions used " +
          "(partition windows by the bucket column for deterministic refreshes)")
      // the reference's "may result in unexpected results" caveat is a
      // RUNTIME hazard there; the shape behind it — a window whose
      // partition spec lacks the bucket column, so values depend on which
      // refresh window recomputed them — is statically detectable here.
      // Reject at CREATE unless explicitly overridden.
      if (!toggle(graft.plans.Toggles.caggWindowAllowUnpartitioned)) {
        import org.apache.spark.sql.catalyst.expressions._
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        // case-INSENSITIVE like Spark's default column resolution (and the
        // reference's identifier folding): `PARTITION BY Bucket` IS
        // bucket-partitioned under spark.sql.caseSensitive=false, and a
        // false rejection here pushes users toward the unsafe override
        def refsBucket(e: Expression): Boolean = e.exists {
          case a: UnresolvedAttribute => a.nameParts.last.equalsIgnoreCase(defn.bucketCol)
          case a: Attribute => a.name.equalsIgnoreCase(defn.bucketCol)
          case _ => false
        }
        defn.windowCols.foreach { c =>
          val eager = org.apache.spark.sql.GraftShims.toExpressionEager(c)
          eager.foreach {
            case WindowExpression(_, spec: WindowSpecDefinition)
                if !spec.partitionSpec.exists(refsBucket) =>
              throw new IllegalArgumentException(
                "cagg window expression is not partitioned by the bucket " +
                  s"column '${defn.bucketCol}': $c — its values would " +
                  "depend on refresh-window carving. Partition the window " +
                  "by the bucket column, or set " +
                  "spark.graft.cagg_window_allow_unpartitioned to accept " +
                  "the reference's \"may result in unexpected results\" " +
                  "behavior (tsl/src/continuous_aggs/common.c:692)")
            case _ => ()
          }
        }
      }
    }
    // reference parity (`cagg_create`, tested in cagg_refresh_common.sql
    // "without a now function. This should not be allowed"): an
    // integer-time cagg requires the hypertable's integer-now function
    // BEFORE creation — the invalidation threshold and every policy need
    // that clock ("custom time function required")
    source match {
      case h: graft.sources.Hypertable
          if h.timeKind == "bigint" && h.integerNowFunc.isEmpty =>
        throw new IllegalArgumentException(
          s"custom time function required on hypertable ${h.path} — " +
            "setIntegerNowFunc first (ddl_api.sql:73-79)")
      case _ => ()
    }
    fs.mkdirs(new Path(path))
    // construct FIRST: the constructor validates the definition against the
    // source (integer width vs dimension kind) — registering before would
    // leave a permanent phantom entry in the table's cagg registry when
    // validation throws
    val cagg = new ContinuousAggregate(spark, path, source, defn)
    // reference `create.c:437`: creation invalidates [-inf, +inf) — the
    // whole range starts DIRTY, so refresh needs no "never materialized"
    // special case; each refresh cuts the region it repairs out of the
    // log. An explicit `_created` marker (not "the `_invalidations` dir
    // exists" — appendInvalidation also creates that dir) distinguishes
    // re-opening from first creation: re-opening must not re-dirty. A
    // marker-less on-disk cagg from before the marker existed gets the
    // full entry — one redundant recompute, never a silent gap.
    val marker = new Path(path, "_created")
    if (!fs.exists(marker)) {
      appendInvalidation(fs, path, Long.MinValue, Long.MaxValue)
      graft.sources.Hypertable.writeSmallFile(fs, marker, "1")
    }
    source match {
      // hierarchical cagg: record this child with its parent so parent
      // refreshes invalidate it (re-open via the same path is idempotent)
      case cs: CaggSource => cs.parent.registerChild(path)
      // raw hypertable: register with the table so EVERY mutation path
      // (write/DML/drop/attach) fans invalidations out to this cagg — the
      // reference's hypertable-side invalidation collection
      case h: graft.sources.Hypertable => h.registerCagg(path)
      case _ => ()
    }
    if (withData) cagg.refreshAll()
    sessionRegistry.put(path, cagg)
    cagg
  }

  /** In-JVM registry of caggs by materialization path — the lookup behind
    * the SQL `refresh_continuous_aggregate` admin call (caggs are defined
    * with Column expressions, so a fresh session must re-`create` them
    * before the SQL surface can address them, like views). Entries live
    * until `drop()`; `create` on the same path replaces the handle.
    */
  private val sessionRegistry =
    scala.collection.concurrent.TrieMap.empty[String, ContinuousAggregate]

  private[graft] def atPath(path: String): Option[ContinuousAggregate] =
    sessionRegistry.get(path).filter { c =>
      // a handle whose SparkContext has stopped is garbage, not a
      // registration: evict it so the entry reads as absent (and its
      // session becomes collectable) instead of shadowing the path for
      // every later context in this JVM
      val live = !c.spark.sparkContext.isStopped
      if (!live) sessionRegistry.remove(path, c)
      live
    }

  /** [[atPath]] guarded against cross-SparkContext confusion: a LIVE handle
    * registered by a different context must not execute plans bound to it
    * from this one.
    */
  private[graft] def atPath(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[ContinuousAggregate] =
    atPath(path).map { c =>
      require(c.spark.sparkContext eq spark.sparkContext,
        s"continuous aggregate at '$path' was created by a different " +
          "SparkContext — re-create it in this one")
      c
    }
}
