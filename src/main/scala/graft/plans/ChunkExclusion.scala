package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualNullSafe, EqualTo, EvalMode, Expression, In, Literal, Murmur3Hash}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.Hypertable

/** Automatic chunk exclusion from the WHERE clause — the reference's
  * transparent hypertable expansion (`src/planner/expand_hypertable.c:
  * 1007-1172`, restrict-info `src/hypertable_restrict_info.h:8-44`):
  * `ht.read().where($"ts" >= a && $"ts" < b)` plans exactly like
  * `ht.between(a, b)`, without the user naming `_chunk`.
  *
  * The rule matches a Filter over a registered hypertable scan and prunes
  * BOTH dimension kinds (`src/dimension.h:62-69`):
  *
  *  - OPEN (time): derives `[lo, hi)` micros bounds on the time column
  *    from the predicates ([[TimeBounds]] — the same qual extraction
  *    gapfill uses), consults the CHUNK CATALOG (dir listing +
  *    `_graft_range` files, so merged/split chunks with non-arithmetic
  *    ranges resolve correctly), and conjoins a `_chunk IN (...)` filter.
  *  - CLOSED (space): equality / IN predicates on the declared space
  *    column map through the same murmur3 hash the write path used
  *    (`pmod(hash(col), N)` — the reference's `ts_get_partition_hash`
  *    analogue, `src/partitioning.c:454-468`) to a `_space IN (...)`
  *    filter, so a point lookup reads 1/N of each time chunk.
  *
  * Spark's FileSourceStrategy turns both into metadata-only partition
  * pruning — no dir listing, no footer read, for excluded partitions.
  *
  * Idempotent: skips a dimension when the predicate already references its
  * partition column (including this rule's own output and
  * [[Hypertable.between]] plans).
  */
object ChunkExclusion extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = if (!Toggles.constraintExclusion) plan else plan.transformUp {
    case f @ Filter(cond, rel: LogicalRelation) => exclude(f, cond, rel)
  }

  private def exclude(f: Filter, cond: Expression, rel: LogicalRelation): LogicalPlan = {
    val roots = rel.relation match {
      case hfs: HadoopFsRelation => hfs.location.rootPaths
      case _                     => return f
    }
    val reg = registeredTable(roots).getOrElse(return f)

    val timeIn = timeFilter(cond, rel, reg)
    val spaceIn = spaceFilter(cond, rel, reg)
    val statsIn = statsFilter(cond, rel, reg)
    if (timeIn.isEmpty && spaceIn.isEmpty && statsIn.isEmpty) return f
    Filter((timeIn.toSeq ++ spaceIn.toSeq ++ statsIn.toSeq :+ cond).reduceLeft(And),
      rel)
  }

  /** The registered table (hypertable or cagg materialization) a file
    * scan's roots belong to, or None for a scan graft does not own. A
    * catalog-driven DIRECT chunk-dir scan (Hypertable.readChunkDirs:
    * between / whereTimeIn / the realtime live side) has `_chunk=K` dirs
    * as its roots — they map back to the owning table. All roots must
    * share one table parent (tablespace-split scans are separate unioned
    * relations, each matched on its own root). A gen-layout scan's roots
    * are `_chunk=K/_gen=N` dirs — one level deeper than the flat layout's
    * `_chunk=K`; both map to the chunk dir's parent (the storage root the
    * table registered). A cagg materialization scan has the generation
    * shape with the mat store's names: `_mat_chunk=K/_mat_gen=N`, the
    * materialization's GenStore generations.
    */
  private[plans] def registeredTable(roots: Seq[org.apache.hadoop.fs.Path])
      : Option[Hypertable.ExclusionInfo] = {
    if (roots.isEmpty) return None
    def chunkRootOf(r: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
      val cd = if (r.getName.startsWith("_gen=") ||
        r.getName.startsWith("_mat_gen=")) r.getParent else r
      if (cd != null && (cd.getName.startsWith("_chunk=") ||
          cd.getName.startsWith("_mat_chunk="))) Option(cd.getParent)
      else None
    }
    (if (roots.size == 1) Hypertable.lookupExclusion(roots.head.toString)
      else None).orElse {
        val parents = roots.flatMap(chunkRootOf).distinct
        if (parents.size == 1 && roots.forall(r => chunkRootOf(r).isDefined))
          Hypertable.lookupExclusion(parents.head.toString)
        else None
      }
  }

  /** `_chunk IN (...)` from range predicates on chunk-skipping columns —
    * the reference's non-partition-column chunk exclusion
    * (`sql/ddl_api.sql:147-160`, `src/ts_catalog/chunk_column_stats.c`):
    * per-chunk recorded min/max ranges prune chunks on predicates over
    * columns that are NOT a dimension, before any file listing. A chunk
    * with no recorded range for the column is kept (unknown is safe); an
    * all-null column can't satisfy a range predicate, so those chunks
    * prune too.
    */
  private def statsFilter(cond: Expression, rel: LogicalRelation,
      reg: Hypertable.ExclusionInfo): Option[Expression] = {
    val chunkAttr = rel.output.find(_.name == reg.chunkCol).getOrElse(return None)
    if (cond.references.contains(chunkAttr)) return None // already excluded
    // cheap gate first: the enabled-column list is one small file; the full
    // per-chunk stats catalog (`skipStats` — an fs read PER CHUNK) is only
    // consulted once some conjunct actually bounds an enabled column.
    // Without this, every query over a 10k-chunk skipping-enabled table
    // would pay ~10k driver-side reads just to plan a time-only WHERE.
    val bounded = for {
      name <- reg.skipCols()
      attr <- rel.output.find(_.name == name).toSeq
      isFloat <- statsDomain(attr.dataType).toSeq
      bs <- literalBounds(cond, attr, isFloat).toSeq
    } yield (name, isFloat, bs)
    if (bounded.isEmpty) return None
    val cat = reg.skipStats()
    if (cat.isEmpty) return None
    val chunks = reg.chunks()
    var hits = chunks.map(_.startMicros).toSet
    for ((name, isFloat, (lo, hi)) <- bounded) {
      hits = hits.filter { start =>
        cat.get(start).flatMap(_.get(name)) match {
          case None             => true  // no recorded range: keep
          case Some(None)       => false // all-null chunk: range pred can't match
          case Some(Some((mn, mx))) => rangeHits(isFloat, mn, mx, lo, hi)
        }
      }
    }
    if (hits.size == chunks.size) return None
    Some(
      if (hits.isEmpty) Literal(false)
      else In(chunkAttr,
        chunks.filter(c => hits(c.startMicros)).map(c => typed(c.startMicros, chunkAttr))))
  }

  /** The stats comparison domain of a column type: Some(false) = long,
    * Some(true) = double, None = unsupported (no pruning). Must agree with
    * how [[graft.operators.Stats.columnRanges]] normalizes footer values.
    */
  private def statsDomain(dt: org.apache.spark.sql.types.DataType): Option[Boolean] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => Some(false)
      case FloatType | DoubleType => Some(true)
      case _ => None
    }
  }

  /** Catalyst-internal literal value → stats domain (Long or Double). */
  private def toDomain(v: Any, isFloat: Boolean): Any =
    if (isFloat) java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue)
    else java.lang.Long.valueOf(v.asInstanceOf[Number].longValue)

  private def cmpDomain(a: Any, b: Any, isFloat: Boolean): Int =
    if (isFloat) java.lang.Double.compare(a.asInstanceOf[java.lang.Double],
      b.asInstanceOf[java.lang.Double])
    else java.lang.Long.compare(a.asInstanceOf[java.lang.Long],
      b.asInstanceOf[java.lang.Long])

  /** Keep the chunk iff some value in [mn, mx] can satisfy the bounds. */
  private def rangeHits(isFloat: Boolean, mn: Any, mx: Any,
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]): Boolean = {
    val loOk = lo.forall { case (v, strict) =>
      val c = cmpDomain(mx, v, isFloat); if (strict) c > 0 else c >= 0
    }
    val hiOk = hi.forall { case (v, strict) =>
      val c = cmpDomain(mn, v, isFloat); if (strict) c < 0 else c <= 0
    }
    loOk && hiOk
  }

  /** ((lo, strict), (hi, strict)) bounds pinned on `a` by top-level
    * conjuncts, in the stats domain; None when no conjunct constrains it.
    */
  private def literalBounds(cond: Expression, a: Attribute, isFloat: Boolean)
      : Option[(Option[(Any, Boolean)], Option[(Any, Boolean)])] = {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    // TimeBounds.conjuncts also unwraps With/RuntimeReplaceable sugar —
    // without it a BETWEEN-shaped skip-column predicate would be invisible
    // here while the same-shaped time predicate IS seen by timeFilter
    def conjuncts(e: Expression): Seq[Expression] = TimeBounds.conjuncts(e)
    var lo: Option[(Any, Boolean)] = None
    var hi: Option[(Any, Boolean)] = None
    def tightenLo(v: Any, strict: Boolean): Unit = {
      val d = toDomain(v, isFloat)
      if (lo.forall { case (c, s) =>
        val r = cmpDomain(d, c, isFloat); r > 0 || (r == 0 && strict && !s) }) lo = Some((d, strict))
    }
    def tightenHi(v: Any, strict: Boolean): Unit = {
      val d = toDomain(v, isFloat)
      if (hi.forall { case (c, s) =>
        val r = cmpDomain(d, c, isFloat); r < 0 || (r == 0 && strict && !s) }) hi = Some((d, strict))
    }
    conjuncts(cond).foreach {
      case GreaterThan(x: Attribute, Literal(v, _)) if v != null && x.semanticEquals(a) => tightenLo(v, true)
      case GreaterThanOrEqual(x: Attribute, Literal(v, _)) if v != null && x.semanticEquals(a) => tightenLo(v, false)
      case LessThan(x: Attribute, Literal(v, _)) if v != null && x.semanticEquals(a) => tightenHi(v, true)
      case LessThanOrEqual(x: Attribute, Literal(v, _)) if v != null && x.semanticEquals(a) => tightenHi(v, false)
      case GreaterThan(Literal(v, _), x: Attribute) if v != null && x.semanticEquals(a) => tightenHi(v, true)
      case GreaterThanOrEqual(Literal(v, _), x: Attribute) if v != null && x.semanticEquals(a) => tightenHi(v, false)
      case LessThan(Literal(v, _), x: Attribute) if v != null && x.semanticEquals(a) => tightenLo(v, true)
      case LessThanOrEqual(Literal(v, _), x: Attribute) if v != null && x.semanticEquals(a) => tightenLo(v, false)
      case EqualTo(x: Attribute, Literal(v, _)) if v != null && x.semanticEquals(a) =>
        tightenLo(v, false); tightenHi(v, false)
      case EqualTo(Literal(v, _), x: Attribute) if v != null && x.semanticEquals(a) =>
        tightenLo(v, false); tightenHi(v, false)
      case In(x: Attribute, vs) if x.semanticEquals(a) && vs.nonEmpty &&
          vs.forall(e => e.isInstanceOf[Literal] && e.asInstanceOf[Literal].value != null) =>
        val ds = vs.map(e => toDomain(e.asInstanceOf[Literal].value, isFloat))
        tightenLo(ds.minBy(d => d)(domainOrdering(isFloat)), false)
        tightenHi(ds.maxBy(d => d)(domainOrdering(isFloat)), false)
      case _ => ()
    }
    if (lo.isEmpty && hi.isEmpty) None else Some((lo, hi))
  }

  private def domainOrdering(isFloat: Boolean): Ordering[Any] =
    (a: Any, b: Any) => cmpDomain(a, b, isFloat)

  /** `_chunk IN (...)` from time-column range predicates, or None. */
  private def timeFilter(cond: Expression, rel: LogicalRelation,
      reg: Hypertable.ExclusionInfo): Option[Expression] = {
    val ts = rel.output.find(_.name == reg.timeCol).getOrElse(return None)
    val chunkAttr = rel.output.find(_.name == reg.chunkCol).getOrElse(return None)
    if (cond.references.contains(chunkAttr)) return None // already excluded
    // disjunction-aware: `ts < a OR ts >= b` prunes to the UNION of the
    // arms' chunk sets (hypertable_restrict_info.c OR handling). When the
    // stored column is raw micros surfaced to users through a
    // `timestamp_micros` projection (a cagg's `_bucket`), pushed-down
    // predicates bound `timestamp_micros(_bucket)` rather than the bare
    // attribute — the wrapper is strictly monotone, so bounds on it ARE
    // micros bounds on the column.
    val cover = TimeBounds.intervalCover(cond, ts)
      .orElse {
        if (ts.dataType == org.apache.spark.sql.types.LongType)
          TimeBounds.intervalCover(cond,
            org.apache.spark.sql.catalyst.expressions.MicrosToTimestamp(ts))
        else None
      }
      .getOrElse(return None)
    val chunks = reg.chunks()
    val hits = chunks.filter(c =>
      cover.exists { case (l, h) => c.startMicros < h && c.endMicros > l })
    if (hits.size == chunks.size) return None // nothing to exclude
    // literals in the PARTITION COLUMN's inferred type: small integral chunk
    // keys (bigint dims with narrow widths) infer `_chunk` as IntegerType,
    // and this In is spliced into an already-analyzed plan, so no coercion
    // runs — a LongType literal against an Int attr would compare raw types
    // at evaluation. Values came from the directory names, so the narrowing
    // is lossless.
    Some(
      if (hits.isEmpty) Literal(false)
      else In(chunkAttr, hits.map(c => typed(c.startMicros, chunkAttr))))
  }

  /** `_spaceK IN (...)` from space-column equality predicates — one
    * conjunct per constrained closed dimension (the hyperspace is 1..N
    * dimensional, `src/dimension.h:89-97`; each prunes independently).
    *
    * After set_number_partitions the count varies per chunk: chunks are
    * grouped by their recorded count and each group gets its own
    * `(_chunk IN group AND _spaceK IN buckets-under-that-count)` disjunct —
    * still a partition-column-only predicate, so FileSourceStrategy prunes
    * it all as metadata. Layout-unknown chunks (-1) stay unpruned.
    */
  private def spaceFilter(cond: Expression, rel: LogicalRelation,
      reg: Hypertable.ExclusionInfo): Option[Expression] = {
    lazy val partsCat = reg.spaceParts()
    val filters = reg.spaces.flatMap { case (scName, nParts, partName) =>
      (for {
        sAttr <- rel.output.find(_.name == partName)
        if !cond.references.contains(sAttr) // already excluded
        vAttr <- rel.output.find(_.name == scName)
        values <- equalityValues(cond, vAttr)
      } yield {
        def bucketsUnder(n: Int): Seq[Int] = values.map { lit =>
          // the write path's pmod(hash(col), N): murmur3 with Spark's seed 42
          val h = Murmur3Hash(Seq(lit), 42).eval(null).asInstanceOf[Int]
          ((h % n) + n) % n
        }.distinct
        // a stamped chunk missing this column's entry, or (in a
        // repartitioned table) an unstamped chunk — e.g. written through a
        // stale pre-repartition handle — has UNKNOWN layout: -1, never
        // pruned. Defaulting to the current count would compute the wrong
        // bucket and silently drop rows.
        val counts = partsCat.view.mapValues(_.getOrElse(scName, -1)).toMap
        lazy val chunks = reg.chunks()
        lazy val effective = chunks.map(c => counts.getOrElse(c.startMicros, -1))
        if (counts.isEmpty || effective.forall(_ == nParts)) {
          // single-count fast path (no set_number_partitions in effect, or
          // every chunk verifiably stamped with the current count)
          val buckets = bucketsUnder(nParts)
          if (buckets.size >= nParts) None // nothing to exclude
          else Some(In(sAttr, buckets.map(b => typed(b.toLong, sAttr))))
        } else {
          val chunkAttr = rel.output.find(_.name == reg.chunkCol)
            .getOrElse(return None)
          val groups = chunks.groupBy(c => counts.getOrElse(c.startMicros, -1))
          val terms = groups.toSeq.sortBy(_._1).map { case (n, cs) =>
            val inChunks = In(chunkAttr, cs.map(c => typed(c.startMicros, chunkAttr)))
            if (n <= 0) inChunks // layout unknown: keep, no space restriction
            else {
              val buckets = bucketsUnder(n)
              if (buckets.size >= n) inChunks
              else And(inChunks, In(sAttr, buckets.map(b => typed(b.toLong, sAttr))))
            }
          }
          // all groups unrestricted -> the disjunction is just "chunk is in
          // the catalog": no pruning value
          if (terms.forall(!_.isInstanceOf[And])) None
          else terms.reduceLeftOption(org.apache.spark.sql.catalyst.expressions.Or)
        }
      }).flatten
    }
    filters.reduceLeftOption(And)
  }

  /** Literal values `a` is pinned to by a top-level conjunct (`a = v`,
    * `v = a`, `a <=> v`, `a IN (v...)`), or None.
    */
  private def equalityValues(cond: Expression, a: Attribute): Option[Seq[Literal]] = {
    TimeBounds.conjuncts(cond).collectFirst {
      case EqualTo(x: Attribute, l: Literal) if x.semanticEquals(a) && l.value != null => Seq(l)
      case EqualTo(l: Literal, x: Attribute) if x.semanticEquals(a) && l.value != null => Seq(l)
      case EqualNullSafe(x: Attribute, l: Literal) if x.semanticEquals(a) && l.value != null => Seq(l)
      case EqualNullSafe(l: Literal, x: Attribute) if x.semanticEquals(a) && l.value != null => Seq(l)
      case In(x: Attribute, vs) if x.semanticEquals(a) &&
          vs.nonEmpty && vs.forall(v => v.isInstanceOf[Literal] &&
            v.asInstanceOf[Literal].value != null) =>
        vs.map(_.asInstanceOf[Literal])
    }
  }

  /** A literal narrowed to the partition attribute's inferred type (the
    * In is spliced into an analyzed plan — no coercion will run).
    */
  private def typed(v: Long, attr: Attribute): Literal =
    Literal.create(
      Cast(Literal(v), attr.dataType, None, EvalMode.LEGACY).eval(null),
      attr.dataType)
}
