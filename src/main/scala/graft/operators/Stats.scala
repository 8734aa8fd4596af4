package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Metadata-only queries over parquet footers — the Spark-native
  * equivalent of the reference's statistics paths:
  *
  *  - `approximate_row_count` (`sql/size_utils.sql:311-340`): catalog-stats
  *    row estimate → parquet footer row counts (exact here, no data scan);
  *  - ColumnarIndexScan (`tsl/src/nodes/columnar_index_scan/
  *    columnar_index_scan.c:19-27`): min/max answered from per-batch sparse
  *    metadata → parquet column statistics in the footer.
  *
  * Footers are read on the EXECUTORS (files are parallelized) once the
  * file count exceeds [[FooterLocalFiles]] (32), so this scales to 100 TB
  * tables with millions of files: the driver only ships paths and
  * collects one (count, min, max) per file.
  * Below the threshold the driver reads the footers itself — bounded
  * metadata I/O beats a Spark job's scheduling floor by ~30× there.
  */
object Stats {

  case class FileStats(rows: Long, min: Option[Any], max: Option[Any])

  private[graft] def listParquetFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath.toString)
        else Nil
      }
    if (fs.getFileStatus(p).isFile) Seq(path) else walk(p)
  }

  /** Footers the driver reads itself: one is ~1 ms of metadata I/O, an
    * empty Spark job tens of ms of scheduling.
    */
  private[graft] val FooterLocalFiles = 32

  private def footerFold[T: scala.reflect.ClassTag](spark: SparkSession,
      files: Seq[String], zero: T)(read: (Configuration, String) => T)(
      merge: (T, T) => T): T = {
    val conf0 = spark.sparkContext.hadoopConfiguration
    if (files.size <= FooterLocalFiles)
      files.foldLeft(zero)((acc, f) => merge(acc, read(conf0, f)))
    else {
      val conf = new SerializableConfiguration(conf0)
      spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size, 64)))
        .map(f => read(conf.value, f))
        .fold(zero)(merge)
    }
  }

  /** Exact row count from footers only — no column data is read. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val files = listParquetFiles(spark, path)
    footerFold(spark, files, 0L) { (conf, f) =>
      val in = HadoopInputFile.fromPath(new Path(f), conf)
      val r = ParquetFileReader.open(in)
      try r.getRowGroups.asScala.map(_.getRowCount).sum
      finally r.close()
    }(_ + _)
  }

  /** (min, max) of a column from footer statistics only. Returns the raw
    * parquet-typed values (e.g. Long for INT64 nano timestamps, Double for
    * DOUBLE); None when no file carries stats. Nulls don't contribute.
    */
  def minMax(spark: SparkSession, path: String, column: String): (Option[Any], Option[Any]) = {
    val files = listParquetFiles(spark, path)
    if (files.isEmpty) return (None, None)
    // merged on the executors past the local threshold — the driver sees
    // one (min, max), not O(files)
    def pickMin(a: Option[Any], b: Option[Any]): Option[Any] =
      (a ++ b).reduceOption((x, y) => if (comparableKey(x).compareTo(comparableKey(y)) <= 0) x else y)
    def pickMax(a: Option[Any], b: Option[Any]): Option[Any] =
      (a ++ b).reduceOption((x, y) => if (comparableKey(x).compareTo(comparableKey(y)) >= 0) x else y)
    footerFold(spark, files,
      (None: Option[Any], None: Option[Any]))(
      (conf, f) => columnStats(conf, f, column)) {
      case ((mn1, mx1), (mn2, mx2)) => (pickMin(mn1, mn2), pickMax(mx1, mx2))
    }
  }

  /** Bookend lookup via footer stats — the ColumnarIndexScan first/last
    * path (`tsl/src/nodes/columnar_index_scan/columnar_index_scan.c:19-27`):
    * footers locate the file(s) holding the globally min/max time, then only
    * those files are scanned for the row — O(files) metadata + one-file read
    * instead of a full scan.
    */
  def firstByTime(spark: SparkSession, path: String, timeCol: String,
      earliest: Boolean = true): Option[org.apache.spark.sql.Row] = {
    val files = listParquetFiles(spark, path)
    if (files.isEmpty) return None
    // distributed argmin/argmax over footer stats: the driver receives only
    // the winning (key, tied files), never O(files) candidates
    val sign = if (earliest) -1 else 1
    // a file with NO usable stats could still hold the true extremum — it
    // must be scanned unconditionally, never silently skipped
    val (best, statless) = footerFold(spark, files,
      (None: Option[(BigDecimal, List[String])], List.empty[String]))(
      { (conf, f) =>
        val (mn, mx) = columnStats(conf, f, timeCol)
        (if (earliest) mn else mx) match {
          case Some(v) => (Some((comparableKey(v), List(f))): Option[(BigDecimal, List[String])], List.empty[String])
          case None    => (None: Option[(BigDecimal, List[String])], List(f))
        }
      }) { case ((a, sa), (b, sb)) =>
        val merged = (a, b) match {
          case (None, x) => x
          case (x, None) => x
          case (Some((ka, fa)), Some((kb, fb))) =>
            val c = ka.compare(kb)
            if (c == 0) Some((ka, fa ++ fb))
            else if (c * sign > 0) Some((ka, fa)) else Some((kb, fb))
        }
        (merged, sa ++ sb)
      }
    val candidates = best.map(_._2).getOrElse(Nil) ++ statless
    if (candidates.isEmpty) return None
    val fns = org.apache.spark.sql.functions
    // null times never win the bookend (the reference's first/last skip
    // null time values) — nulls_last, plus an explicit filter so an
    // all-null candidate set returns None instead of a null-time row
    val df = spark.read.parquet(candidates: _*)
      .where(fns.col(timeCol).isNotNull)
    val ordered =
      if (earliest) df.orderBy(fns.col(timeCol).asc_nulls_last)
      else df.orderBy(fns.col(timeCol).desc_nulls_last)
    ordered.limit(1).collect().headOption
  }

  /** hypertable_size (`sql/size_utils.sql:119+`): total bytes under a
    * table/hypertable root (driver-side listing — catalog-scale only).
    *
    * Also serves as `hypertable_approximate_size` /
    * `relation_approximate_size` (`sql/size_utils.sql`): the reference's
    * approximate variant skips exact per-relation accounting in favor of
    * catalog numbers; here the listing IS the catalog — exact and
    * approximate coincide, so no separate code path exists.
    */
  def tableSizeBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  case class DetailedSize(tableBytes: Long, indexBytes: Long,
      toastBytes: Long, totalBytes: Long)

  /** hypertable_detailed_size / hypertable_size (`sql/size_utils.sql:
    * 62-141`), tablespace-aware: data bytes are every chunk's files
    * (wherever the chunk lives — chunks moved to attached tablespace roots
    * are counted like the reference sums per-tablespace sizes), "index"
    * bytes are the pruning-metadata catalog files (`_graft_*` markers +
    * parquet `_metadata`-style sidecars) — the closest analogue of index
    * relations in a footer/catalog-pruned store; toast is always 0 (no
    * out-of-line storage exists). `hypertable_index_size`
    * (`sql/size_utils.sql:146-176`) is the `indexBytes` component.
    */
  def hypertableDetailedSize(ht: graft.sources.Hypertable): DetailedSize = {
    val conf = ht.spark.sparkContext.hadoopConfiguration
    var table = 0L
    var index = 0L
    def walk(p: Path): Unit = {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.startsWith("_")) index += st.getLen
        else table += st.getLen
      }
    }
    val root = new Path(ht.path)
    val qualifiedRoot = root.getFileSystem(conf).makeQualified(root)
    walk(root)
    // chunks living outside the primary root (moved to a tablespace)
    ht.showChunks().map(c => new Path(c.path))
      .filterNot(_.getParent == qualifiedRoot)
      .foreach(walk)
    DetailedSize(table, index, 0L, table + index)
  }

  def hypertableSize(ht: graft.sources.Hypertable): Long =
    hypertableDetailedSize(ht).totalBytes

  case class ChunkSize(path: String, bytes: Long, files: Long, rows: Long)

  /** chunks_detailed_size (`sql/size_utils.sql:181+`): per-chunk bytes,
    * file count, and exact row count (rows from footers, on executors).
    */
  def chunksDetailedSize(ht: graft.sources.Hypertable): Seq[ChunkSize] =
    ht.showChunks().map { c =>
      val p = new Path(c.path)
      val fs = p.getFileSystem(ht.spark.sparkContext.hadoopConfiguration)
      val summary = fs.getContentSummary(p)
      ChunkSize(c.path, summary.getLength, summary.getFileCount,
        rowCount(ht.spark, c.path))
    }

  case class CompressionStats(path: String, compressed: Boolean, rows: Long,
      compressedBytes: Long, uncompressedBytes: Long) {
    def ratio: Double =
      if (compressedBytes == 0) 0.0 else uncompressedBytes.toDouble / compressedBytes
  }

  /** chunk_compression_stats / hypertable_columnstore_stats
    * (`sql/size_utils.sql:413+`): per-chunk on-disk (compressed) bytes vs
    * the footer-recorded uncompressed page bytes, plus the columnstore
    * marker — everything comes from file listings and footers (read on
    * executors), no data scan. The reference records before/after sizes in
    * its catalog at compress time; parquet footers carry the equivalent
    * (`total_uncompressed_size` per column chunk) for free.
    */
  def compressionStats(ht: graft.sources.Hypertable): Seq[CompressionStats] = {
    ht.showChunks().map { c =>
      val files = listParquetFiles(ht.spark, c.path)
      val (rows, comp, uncomp) = footerFold(ht.spark, files, (0L, 0L, 0L))(
        { (conf, f) =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
          try {
            val rgs = r.getRowGroups.asScala
            (rgs.map(_.getRowCount).sum,
              rgs.map(_.getCompressedSize).sum,
              rgs.map(_.getTotalByteSize).sum)
          } finally r.close()
        }) { case ((a, b, x), (d, e, f2)) => (a + d, b + e, x + f2) }
      CompressionStats(c.path,
        graft.sources.Columnstore.isCompressed(ht.spark, c.path),
        rows, comp, uncomp)
    }
  }

  case class ChunkActivity(path: String, compressed: Boolean,
      batchCount: Long, rowsMin: Long, rowsMax: Long, rowsAvg: Double,
      bytesMin: Long, bytesMax: Long, bytesAvg: Double)

  /** Per-chunk BATCH statistics — `timescaledb_information
    * .stat_chunk_activity`'s compression section (`sql/views.sql:426+`):
    * the reference reports compressed-batch counts and row/byte
    * distributions from its stats table; the parquet analogue of a batch
    * is the ROW GROUP, and its footer carries the same numbers for free.
    * Footers are read on executors; chunks with no data report zero
    * batches. (The reference's DML-activity counters have no analogue —
    * graft DML is copy-on-write rewrite, not tracked per-statement.)
    */
  def chunkActivity(ht: graft.sources.Hypertable): Seq[ChunkActivity] = {
    val conf = new SerializableConfiguration(
      ht.spark.sparkContext.hadoopConfiguration)
    val chunks = ht.showChunks()
    // ONE job over every (chunk, file) pair — a per-chunk job would pay
    // the ~100ms scheduling floor × #chunks, minutes on the very
    // 10³-chunk tables this view exists to inspect. The collect is
    // bounded: one (rows, bytes) pair per ROW GROUP of the table.
    val files = chunks.zipWithIndex.flatMap { case (c, i) =>
      listParquetFiles(ht.spark, c.path).map(f => (i, f))
    }
    def perFile(c: Configuration, p: (Int, String)): Seq[(Int, (Long, Long))] = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p._2), c))
      try r.getRowGroups.asScala
        .map(g => (p._1, (g.getRowCount, g.getCompressedSize))).toSeq
      finally r.close()
    }
    val groups: Map[Int, Seq[(Long, Long)]] =
      (if (files.isEmpty) Seq.empty[(Int, (Long, Long))]
      else if (files.size <= FooterLocalFiles)
        files.flatMap(perFile(ht.spark.sparkContext.hadoopConfiguration, _))
      else ht.spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size, 64)))
        .flatMap(perFile(conf.value, _)).collect().toSeq)
        .groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2) }
    chunks.zipWithIndex.map { case (c, i) =>
      val gs = groups.getOrElse(i, Nil)
      val n = gs.size.toLong
      ChunkActivity(c.path,
        graft.sources.Columnstore.isCompressed(ht.spark, c.path),
        n,
        if (n == 0) 0L else gs.map(_._1).min,
        if (n == 0) 0L else gs.map(_._1).max,
        if (n == 0) 0.0 else gs.map(_._1).sum.toDouble / n,
        if (n == 0) 0L else gs.map(_._2).min,
        if (n == 0) 0L else gs.map(_._2).max,
        if (n == 0) 0.0 else gs.map(_._2).sum.toDouble / n)
    }
  }

  /** Per-column value range of every parquet file under `path`, normalized
    * for chunk skipping (`chunk_column_stats.c` analogue): INT32/INT64
    * (ints, dates-as-days) → Long, timestamp annotations → Long MICROS
    * regardless of the file's unit, FLOAT/DOUBLE → Double. Values are
    * `java.lang.Long`/`java.lang.Double`.
    *
    * Three-state result per column, so pruning stays SOUND:
    *  - absent from the map: some file carries no usable statistics for the
    *    column (missing column, unsupported physical type like INT96, or a
    *    writer that recorded none) — the range is unknown;
    *  - `None`: the column is entirely null under `path`;
    *  - `Some((min, max))`: non-null value range.
    *
    * Footers are read on the executors; the driver sees one merged map.
    */
  def columnRanges(spark: SparkSession, path: String,
      columns: Seq[String]): Map[String, Option[(Any, Any)]] = {
    if (columns.isEmpty) return Map.empty
    val files = listParquetFiles(spark, path)
    if (files.isEmpty) return columns.map(_ -> None).toMap
    val cols = columns.toIndexedSeq
    // per file: col -> (outer None = unknown/poison, Some(None) = all null);
    // Some(None) (entirely-null column) is the merge's neutral element
    val zero: Map[String, Option[Option[(Any, Any)]]] =
      cols.map(_ -> (Some(None): Option[Option[(Any, Any)]])).toMap
    val merged = footerFold(spark, files, zero)(
      (conf, f) => fileColumnRanges(conf, f, cols)) { (a, b) =>
        cols.map { c =>
          val m = (a(c), b(c)) match {
            case (None, _) | (_, None) => None // unknown poisons the merge
            case (Some(x), Some(None)) => Some(x)
            case (Some(None), Some(y)) => Some(y)
            case (Some(Some((mn1, mx1))), Some(Some((mn2, mx2)))) =>
              Some(Some((
                if (cmpRange(mn1, mn2) <= 0) mn1 else mn2,
                if (cmpRange(mx1, mx2) >= 0) mx1 else mx2)))
          }
          c -> m
        }.toMap
      }
    merged.collect { case (c, Some(r)) => c -> r }
  }

  /** Exact same-type comparison (a Double key would lose precision on
    * longs past 2^53 and could pick the wrong endpoint).
    */
  private def cmpRange(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long)     => java.lang.Long.compare(x, y)
    case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
    case _ => throw new IllegalStateException(s"mixed range value types: $a / $b")
  }

  /** One file's footer range of one column, normalized like
    * [[columnRanges]] (Long for integral/date/timestamp, Double for
    * floats). `None` = unknown/unsupported stats, `Some(None)` = the column
    * is entirely null in this file. Metadata-only (one footer read).
    */
  private[graft] def fileColumnRange(conf: Configuration, file: String,
      column: String): Option[Option[(Any, Any)]] =
    fileColumnRanges(conf, file, Seq(column))(column)

  private def fileColumnRanges(conf: Configuration, file: String,
      cols: Seq[String]): Map[String, Option[Option[(Any, Any)]]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      cols.map { c =>
        val perRg = r.getRowGroups.asScala.map { rg =>
          rg.getColumns.asScala.find(_.getPath.toDotString == c) match {
            case None => None // column absent in this file: range unknown
            case Some(cc) =>
              val s = cc.getStatistics
              if (s == null || s.isEmpty) None
              else if (!s.hasNonNullValue) {
                // usable stats but zero non-null values -> genuinely all null
                if (s.getNumNulls == rg.getRowCount) Some(None) else None
              } else {
                val pt = cc.getPrimitiveType
                val ann = pt.getLogicalTypeAnnotation
                def tsUnitToMicros(v: Long, u: LogicalTypeAnnotation.TimeUnit): Long = u match {
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
                  case LogicalTypeAnnotation.TimeUnit.MICROS => v
                  case LogicalTypeAnnotation.TimeUnit.NANOS  => Math.floorDiv(v, 1000L)
                }
                (pt.getPrimitiveTypeName, ann) match {
                  case (PrimitiveTypeName.INT64,
                      t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
                    Some(Some((
                      java.lang.Long.valueOf(tsUnitToMicros(
                        s.genericGetMin.asInstanceOf[Long], t.getUnit)): Any,
                      java.lang.Long.valueOf(tsUnitToMicros(
                        s.genericGetMax.asInstanceOf[Long], t.getUnit)): Any)))
                  case (PrimitiveTypeName.INT64, null) |
                       (PrimitiveTypeName.INT64, _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) =>
                    Some(Some((
                      java.lang.Long.valueOf(s.genericGetMin.asInstanceOf[Long]): Any,
                      java.lang.Long.valueOf(s.genericGetMax.asInstanceOf[Long]): Any)))
                  case (PrimitiveTypeName.INT32, null) |
                       (PrimitiveTypeName.INT32, _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) |
                       (PrimitiveTypeName.INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
                    Some(Some((
                      java.lang.Long.valueOf(s.genericGetMin.asInstanceOf[Integer].longValue): Any,
                      java.lang.Long.valueOf(s.genericGetMax.asInstanceOf[Integer].longValue): Any)))
                  case (PrimitiveTypeName.DOUBLE, _) =>
                    Some(Some((
                      java.lang.Double.valueOf(s.genericGetMin.asInstanceOf[Double]): Any,
                      java.lang.Double.valueOf(s.genericGetMax.asInstanceOf[Double]): Any)))
                  case (PrimitiveTypeName.FLOAT, _) =>
                    Some(Some((
                      java.lang.Double.valueOf(s.genericGetMin.asInstanceOf[Float].doubleValue): Any,
                      java.lang.Double.valueOf(s.genericGetMax.asInstanceOf[Float].doubleValue): Any)))
                  case _ => None // INT96, BINARY, ...: no sound range
                }
              }
          }
        }
        val m = perRg.foldLeft(Some(None): Option[Option[(Any, Any)]]) {
          case (None, _) | (_, None) => None
          case (Some(x), Some(None)) => Some(x)
          case (Some(None), Some(y)) => Some(y)
          case (Some(Some((mn1, mx1))), Some(Some((mn2, mx2)))) =>
            Some(Some((
              if (cmpRange(mn1, mn2) <= 0) mn1 else mn2,
              if (cmpRange(mx1, mx2) >= 0) mx1 else mx2)))
        }
        c -> m
      }.toMap
    } finally r.close()
  }

  private def comparableKey(v: Any): BigDecimal = v match {
    case l: java.lang.Long    => BigDecimal(l)
    case i: java.lang.Integer => BigDecimal(i.toInt)
    case d: java.lang.Double  => BigDecimal(d)
    case f: java.lang.Float   => BigDecimal(f.toDouble)
    case other => throw new IllegalArgumentException(
      s"minMax supports numeric/timestamp columns, got ${other.getClass}")
  }

  private def columnStats(conf: Configuration, file: String,
      column: String): (Option[Any], Option[Any]) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val stats = r.getRowGroups.asScala.flatMap { rg =>
        rg.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .map(_.getStatistics)
          .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
      }
      val mins = stats.map(s => s.genericGetMin.asInstanceOf[Any])
      val maxs = stats.map(s => s.genericGetMax.asInstanceOf[Any])
      (if (mins.isEmpty) None else Some(mins.minBy(comparableKey)),
       if (maxs.isEmpty) None else Some(maxs.maxBy(comparableKey)))
    } finally r.close()
  }
}
