package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions._

/** `SparkSessionExtensions` entry point — enables
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`), the idiomatic analogue
  * of the reference's planner-hook installation
  * (`src/planner/planner.c:2165-2168`): SQL functions plus the
  * sort-transform optimizer rule land on every session built with it.
  * [[Graft.init]] applies the same registrations to an existing session,
  * except the physical [[graft.plans.SmallScan]] rule, which Spark accepts
  * only here.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionBuilders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // sentinel function: tells Graft.init the session already carries every
    // registration below, so init() won't append the rules a second time
    ext.injectFunction((FunctionIdentifier(GraftExtensions.SENTINEL),
      new ExpressionInfo(classOf[GraftExtensions].getName, GraftExtensions.SENTINEL),
      _ => org.apache.spark.sql.catalyst.expressions.Literal(true)))
    // gapfill rewrites at RESOLUTION time so empty-bucket aggregates keep
    // reference NULL semantics (nullability can still widen); the optimizer
    // registration below is the no-op-unless-unrewritten fallback shared
    // with Graft.init sessions
    // admin-call statements (`SELECT create_hypertable(...)`, `CALL
    // refresh_continuous_aggregate(...)` — the reference's ddl_api surface)
    // parse to eagerly-run commands; everything else delegates untouched
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => graft.plans.GapfillResolution)
    ext.injectOptimizerRule(_ => graft.plans.GapfillRewrite)
    ext.injectOptimizerRule(_ => graft.plans.SortTransform)
    ext.injectOptimizerRule(_ => graft.plans.CaggRewrite)
    ext.injectOptimizerRule(_ => graft.plans.ChunkExclusion)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    // physical: small hypertable scans plan as one task (AQE plans only)
    ext.injectQueryPostPlannerStrategyRule(graft.plans.SmallScan)
  }
}

object GraftExtensions {

  /** Registration sentinel shared by the extension and [[Graft.init]]. */
  private[graft] val SENTINEL = "graft_registered"

  /** A resolved string argument in a time position is a UUIDv7: bucket its
    * embedded timestamp (micros-exact round-trip).
    */
  private def uuidTs(t: Expression): Expression =
    if (t.resolved && t.dataType == org.apache.spark.sql.types.StringType)
      UuidTimestamp(t, withMicros = true)
    else t

  /** Builder with a uniform arity fallback: a bad SQL call gets an
    * informative error instead of a raw `scala.MatchError` from analysis.
    */
  private def fn(name: String, usage: String)(
      pf: PartialFunction[Seq[Expression], Expression])
      : (String, Seq[Expression] => Expression) =
    name -> { exprs =>
      if (pf.isDefinedAt(exprs)) pf(exprs)
      else throw new IllegalArgumentException(
        s"$name expects $usage, got ${exprs.length} argument(s)")
    }

  /** Shared with [[Graft.init]] so both registration paths agree. */
  val functionBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("time_bucket", "(width, time [, origin or offset])") {
      // uuid overloads (`sql/time_bucket.sql:18-19,29,45` — time_bucket over
      // a UUIDv7 buckets its embedded timestamp): a string ts is treated as
      // a v7 uuid, like the reference's UUID signatures
      case Seq(w, t)    => TimeBucket(w, uuidTs(t), None)
      case Seq(w, t, o) => TimeBucket(w, uuidTs(t), Some(o))
    },
    // bucket in the wall-clock of tz, result back as a UTC instant
    // (reference `src/time_bucket.c:335+` timestamptz-with-timezone form)
    fn("time_bucket_tz", "(width, ts, timezone)") {
      case Seq(w, t, tz) =>
        org.apache.spark.sql.catalyst.expressions.ToUTCTimestamp(
          TimeBucket(w,
            org.apache.spark.sql.catalyst.expressions.FromUTCTimestamp(t, tz), None), tz)
    },
    fn("to_uuidv7", "(timestamp)") { case Seq(e) => ToUuidV7(e, boundary = false) },
    fn("to_uuidv7_boundary", "(timestamp)") { case Seq(e) => ToUuidV7(e, boundary = true) },
    fn("uuid_timestamp", "(uuid)") { case Seq(e) => UuidTimestamp(e, withMicros = false) },
    fn("uuid_timestamp_micros", "(uuid)") { case Seq(e) => UuidTimestamp(e, withMicros = true) },
    fn("uuid_version", "(uuid)") { case Seq(e) => UuidVersion(e) },
    fn("generate_uuidv7", "no arguments") { case Seq() => GenerateUuidV7() },
    // partitioning introspection (`sql/partitioning.sql`): the hash family
    // is Spark murmur3 — matches graft's `_space` routing, not the
    // reference's numeric output
    fn("get_partition_hash", "(value)") { case Seq(e) =>
      new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(e)) },
    fn("get_partition_for_key", "(value, partitions)") { case Seq(e, n) =>
      org.apache.spark.sql.catalyst.expressions.Pmod(
        new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(e)), n) },
    fn("simhash64", "(token array)") { case Seq(e) => SimHash64(e) },
    fn("dot_product", "(a, b)") { case Seq(a, b) => DotProduct(a, b) },
    fn("minhash_sig", "(tokens, n, k)") {
      case Seq(toks, n, k) =>
        def intOf(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
          case _ => throw new IllegalArgumentException(s"minhash_sig: $what must be a literal int")
        }
        MinHashSig(toks, intOf(n, "shingle n"), intOf(k, "num hashes"))
    },
    fn("time_bucket_gapfill", "(width, ts [, timezone] [, start, finish])") {
      // the reference dispatches on the type of the 3rd argument: TEXT is
      // the timezone form (`sql/gapfill.sql` tz signature), otherwise
      // start/finish instants
      case Seq(w, t) => // window inferred from the WHERE clause
        GapfillBucket(w, t, nullTsLit, nullTsLit)
      case Seq(w, t, z) if isStringExpr(z) =>
        GapfillBucket(w, t, nullTsLit, nullTsLit, Some(z))
      case Seq(w, t, z, s, f) if isStringExpr(z) => GapfillBucket(w, t, s, f, Some(z))
      case Seq(w, t, s, f) => GapfillBucket(w, t, s, f)
    },
    fn("locf", "(value [, prev [, treat_null_as_missing]])") {
      case Seq(e)    => Locf(e, None)
      case Seq(e, p) => Locf(e, Some(p))
      case Seq(e, p, t) => Locf(e, Some(p),
        t.eval().asInstanceOf[Boolean])
    },
    fn("interpolate", "(value [, prev [, next]])") {
      // NULL literal = no seed on that side (the reference's NULL record)
      case Seq(e) => Interpolate(e)
      case Seq(e, p) => Interpolate(e, nonNull(p))
      case Seq(e, p, n) => Interpolate(e, nonNull(p), nonNull(n))
    },

    // bookends (`src/agg_bookend.c:29-33`): first(value, time) /
    // last(value, time) are the reference's aggregates. Shadowing the
    // builtin names must stay transparent for BUILTIN call shapes — and in
    // Spark 4 even the Column API (`functions.last(e, ignoreNulls)`)
    // resolves "last" by NAME through this registry — so the dispatch is
    // on the second argument: a boolean LITERAL is the builtin's
    // ignoreNulls flag, anything else is the reference's time column
    // (ordering by a boolean literal is meaningless, so the shapes are
    // disjoint in practice).
    fn("first", "(value [, time or ignoreNulls])") {
      case Seq(v) => org.apache.spark.sql.catalyst.expressions.aggregate
        .First(v, ignoreNulls = false).toAggregateExpression()
      case Seq(v, b) if isBoolLit(b) =>
        org.apache.spark.sql.catalyst.expressions.aggregate
          .First(v, b.eval(null).asInstanceOf[Boolean]).toAggregateExpression()
      case Seq(v, t) => org.apache.spark.sql.catalyst.expressions.aggregate
        .MinBy(v, t).toAggregateExpression()
    },
    fn("last", "(value [, time or ignoreNulls])") {
      case Seq(v) => org.apache.spark.sql.catalyst.expressions.aggregate
        .Last(v, ignoreNulls = false).toAggregateExpression()
      case Seq(v, b) if isBoolLit(b) =>
        org.apache.spark.sql.catalyst.expressions.aggregate
          .Last(v, b.eval(null).asInstanceOf[Boolean]).toAggregateExpression()
      case Seq(v, t) => org.apache.spark.sql.catalyst.expressions.aggregate
        .MaxBy(v, t).toAggregateExpression()
    },

    // histogram (`sql/histogram.sql:5-28`): nbuckets+2 array with
    // under/overflow ends; bucket rule floor((v-min)/w)+1 (histogram.c:49+)
    fn("histogram_bucket", "(value, min, max, nbuckets)") {
      case Seq(v, mn, mx, nb) => histogramBucketExpr(v, mn, mx, nb)
    },
    fn("histogram", "(value, min, max, nbuckets)") {
      case Seq(v, mn, mx, nb) =>
        import org.apache.spark.sql.catalyst.expressions._
        val n = litInt(nb, "nbuckets")
        val idx = histogramBucketExpr(v, mn, mx, nb)
        CreateArray((0 to n + 1).map(i =>
          aggregate.Sum(If(EqualTo(idx, Literal(i)), Literal(1L), Literal(0L)))
            .toAggregateExpression()))
    },

    // time-conversion layer (`sql/util_time.sql`; internal time = Unix
    // micros). `to_timestamp` is NOT shadowed — SQL users reach the same
    // conversion through Spark's builtin `timestamp_micros`.
    fn("to_unix_microseconds", "(timestamp)") { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.UnixMicros(
        org.apache.spark.sql.catalyst.expressions.Cast(e,
          org.apache.spark.sql.types.TimestampType)) },
    fn("to_timestamp_without_timezone", "(unixtime_us)") { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.MicrosToTimestamp(e),
        org.apache.spark.sql.types.TimestampNTZType, Some("UTC")) },
    fn("to_interval", "(unixtime_us)") { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.MultiplyDTInterval(
        org.apache.spark.sql.catalyst.expressions.Literal(1L,
          org.apache.spark.sql.types.DayTimeIntervalType()), e) },
    fn("interval_to_usec", "(interval)") { case Seq(e) => IntervalToUsec(e) },
    fn("time_to_internal", "(time value)") { case Seq(e) => TimeToInternal(e) },

    // single-pass text analysis (library defaults for markers/stopwords)
    fn("lang_id", "(text)") { case Seq(e) =>
      LangId(e, graft.operators.TextAnalysis.LANG_MARKERS) },
    fn("quality_score", "(text)") { case Seq(e) =>
      QualityScore(e, graft.operators.TextAnalysis.STOPWORDS_EN) },
    fn("normalize_text", "(text)") { case Seq(e) => NormalizeText(e) },
    fn("word_ngrams", "(tokens, n)") {
      case Seq(toks, n) => WordNGrams(toks, n match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
        case _ => throw new IllegalArgumentException("word_ngrams: n must be a literal int")
      })
    },
    // round-5 single-pass training expressions, SQL-callable
    fn("gopher_rules", "(text)") { case Seq(e) =>
      GopherFeatures(e, graft.operators.TextAnalysis.STOPWORDS_EN) },
    fn("pii_scan", "(text)") { case Seq(e) =>
      PiiScan(e, graft.operators.TextAnalysis.piiPatterns.map(_._1)) },
    fn("redact_pii", "(text)") { case Seq(e) =>
      org.apache.spark.sql.catalyst.expressions.GetStructField(
        PiiScan(e, graft.operators.TextAnalysis.piiPatterns.map(_._1)),
        0, Some("redacted")) },
    fn("shingle_hashes", "(tokens, n)") {
      case Seq(toks, n) => ShingleHashes(toks, n match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
        case _ => throw new IllegalArgumentException("shingle_hashes: n must be a literal int")
      })
    },
    fn("jaccard_sorted", "(a, b)") { case Seq(a, b) => JaccardSortedLongs(a, b) })

  private def isBoolLit(e: Expression): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(_,
      org.apache.spark.sql.types.BooleanType) => true
    case _ => false
  }

  private def nullTsLit = org.apache.spark.sql.catalyst.expressions.Literal(
    null, org.apache.spark.sql.types.TimestampType)

  /** A NULL literal argument reads as "absent" (the reference's NULL
    * record seed in `interpolate(value, prev, next)`).
    */
  private def nonNull(e: Expression): Option[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(null, _) => None
    case other => Some(other)
  }

  private def isStringExpr(e: Expression): Boolean =
    e.resolved && e.dataType == org.apache.spark.sql.types.StringType

  private def litDouble(e: Expression, what: String): Double = e match {
    // SQL numeric literals arrive as Int/Long/Double/Decimal Literals
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null => v match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number                             => n.doubleValue()
      case _ => throw new IllegalArgumentException(s"histogram: $what must be numeric")
    }
    case _ => throw new IllegalArgumentException(s"histogram: $what must be a literal")
  }

  private def litInt(e: Expression, what: String): Int = litDouble(e, what).toInt

  private def histogramBucketExpr(v: Expression, mn: Expression, mx: Expression,
      nb: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val min = litDouble(mn, "min")
    val max = litDouble(mx, "max")
    val n = litInt(nb, "nbuckets")
    val w = (max - min) / n
    val vd = Cast(v, DoubleType)
    If(LessThan(vd, Literal(min)), Literal(0),
      If(GreaterThanOrEqual(vd, Literal(max)), Literal(n + 1),
        Add(Cast(Floor(Divide(Subtract(vd, Literal(min)), Literal(w))),
          IntegerType), Literal(1))))
  }
}
