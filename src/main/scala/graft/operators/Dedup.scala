package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines, at three fidelity levels:
  *
  *  - [[exactGroups]] / [[dropExactDuplicates]]: hash-groupBy exact dedup
  *  - [[minhashSignature]] + [[lshCandidatePairs]] + [[jaccard]]:
  *    MinHash+LSH near-dup (shingle → k minhashes → b bands → bucket
  *    self-join → exact-Jaccard verify)
  *  - [[simhash64]] + [[simhashCandidatePairs]]: SimHash with banded
  *    hamming-distance candidates
  *
  * Scale notes: every stage is a column expression or a key-partitioned
  * shuffle. Candidate generation self-joins on (band, bucket) — never a
  * cross join — and hot buckets can be capped via `maxBucketSize`. The
  * group-by keys are fixed-width hashes, not raw text.
  */
object Dedup {

  /** One row per distinct text: dedup key, surviving id, multiplicity. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint_md5(col(textCol)).as("key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Keep the lowest-id row of each exact-duplicate group. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint_md5(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** Streaming exact dedup: drop rows whose normalized-text fingerprint was
    * already emitted, with state BOUNDED by the event-time watermark
    * (`dropDuplicatesWithinWatermark` — a 100 TB/day stream cannot keep
    * all-time fingerprints in state; duplicates farther apart than the
    * delay are handled by a batch [[dropExactDuplicates]] pass downstream).
    */
  def streamingDropDuplicates(stream: DataFrame, textCol: String,
      timeCol: String, watermarkDelay: String): DataFrame =
    stream
      .withColumn("_graft_fp", TextAnalysis.fingerprint_md5(col(textCol)))
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_graft_fp")
      .drop("_graft_fp")

  /** Word n-gram shingles of the text (distinct). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** MinHash signature: k independent min-hashes over the shingle set.
    * Hash i of shingle s = xxhash64(i, s) — deterministic, seedable.
    * Portable column formulation; for the hot path use [[minhashFast]]
    * (single pass, no shingle strings materialized).
    */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingleArr, s => xxhash64(lit(i), s)))): _*)

  /** Single-pass MinHash signature of the text's word n-grams (custom
    * expression, see [[graft.expressions.MinHashSig]]) — the at-scale path.
    */
  def minhashFast(text: Column, shingleN: Int, k: Int): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.MinHashSig(
      org.apache.spark.sql.GraftShims.toExpression(split(trim(text), "\\s+")),
      shingleN, k))

  /** Estimated Jaccard from two signatures: fraction of agreeing hashes. */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") /
      size(sigA).cast("double")

  /** LSH band keys: the signature split into `bands` bands of
    * `rowsPerBand`, each hashed to a bucket.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        hash(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))): _*)

  /** Hashes per band; `bands` must divide `numHashes`. */
  private[graft] def rowsPerBand(numHashes: Int, bands: Int): Int = {
    // bands > numHashes would slice empty bands (every doc in ONE bucket —
    // total recall loss after the cap, or an n² join without it); a
    // non-dividing count would silently ignore trailing hashes
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    numHashes / bands
  }

  /** `collect_set` that stops at `limit + 1` distinct values
    * ([[graft.expressions.BoundedCollectSet]]): the whole set when it has
    * at most `limit` values, otherwise `limit + 1` of them.
    */
  private[graft] def boundedCollectSet(c: Column, limit: Int): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.BoundedCollectSet(
      org.apache.spark.sql.GraftShims.toExpression(c), limit).toAggregateExpression())

  /** Candidate near-dup pairs: docs sharing any LSH band bucket.
    * Returns (idCol+"_a", idCol+"_b") with a < b, distinct.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    val sig = minhashFast(col(textCol), shingleN, numHashes)
    // minhash costs ~0.5 ms/doc — spread a small (few-split) corpus before
    // computing it, or the whole signature pass runs in one scan task
    val banded = Spread.byKey(df, col(idCol)).select(col(idCol),
        explode(lshBands(sig, bands, rows)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
    // per-bucket pair GENERATION instead of a bucket self-join: one
    // exchange groups each (band, bucket) onto a task, and pairs come from
    // a nested generate over the sorted, de-duplicated id list (sorted so
    // a < b under the column's own ordering; de-duplicated so a doc id
    // repeated in the input yields no (x, x) self-pair). The id set is
    // bounded: every partial and merged buffer stops at `maxBucketSize + 1`
    // distinct ids, which is enough to tell an oversized bucket, so a hot
    // bucket never has its whole id list in memory. The pair output is
    // n²/2 per admitted bucket. slice() is 1-based: ids after 0-based
    // position i start at i+2.
    banded.groupBy(col("band"), col("bucket"))
      .agg(sort_array(boundedCollectSet(col(idCol), maxBucketSize)).as("_ids"))
      .where(size(col("_ids")) >= 2 && size(col("_ids")) <= maxBucketSize)
      .select(posexplode(col("_ids")).as(Seq("_i", s"${idCol}_a")), col("_ids"))
      .select(col(s"${idCol}_a"), explode(
        expr(s"slice(_ids, _i + 2, size(_ids) - _i - 1)")).as(s"${idCol}_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity of two shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** The distinct shingle set as SORTED 64-bit hashes (single-pass
    * expression, [[graft.expressions.ShingleHashes]]) — the verify-stage
    * set representation: 8 bytes/shingle through the candidate joins
    * instead of the concatenated gram text.
    */
  def shingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.ShingleHashes(
      org.apache.spark.sql.GraftShims.toExpression(split(trim(text), "\\s+")), n))

  /** Jaccard of two [[shingleHashes]] sets — one merge walk, no hash-set
    * build ([[graft.expressions.JaccardSortedLongs]]). Equal to
    * [[jaccard]] over the string shingle sets except on a 64-bit hash
    * collision (≲3e-12 per candidate pair; see ShingleHashes' bound).
    */
  def jaccardHashed(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.JaccardSortedLongs(
      org.apache.spark.sql.GraftShims.toExpression(a),
      org.apache.spark.sql.GraftShims.toExpression(b)))

  /** Full MinHash+LSH near-dup pipeline: candidates verified with exact
    * n-gram Jaccard, keeping pairs >= threshold.
    *
    * Recall: a pair at jaccard j is missed with probability (1 − j^r)^b,
    * r = numHashes/bands. `bands = numHashes` (r = 1) makes the miss
    * probability (1 − j)^32 ≤ 2e-10 at j = 0.5 — effectively exact, while
    * random pairs still collide only with probability ≈ their jaccard per
    * band (minhash banding prunes where hyperplane banding cannot).
    * `maxBucketSize` caps pathological buckets BEFORE the self-join; pass
    * Int.MaxValue when exactness matters more than boilerplate blowups.
    */
  def nearDuplicatePairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 32,
      bands: Int = 8, maxBucketSize: Int = 1000): DataFrame = {
    // snapshot the candidate list so the LSH band join runs exactly ONCE:
    // it feeds both the id semi-join below and the final verify join, and
    // column pruning would otherwise make Catalyst re-execute the whole
    // banding pipeline per use. LAZY localCheckpoint, specifically:
    //  - lazy (not the eager default): the eager form inserts a
    //    synchronous materialization barrier before the verify plan even
    //    starts (measured +0.8 s on q47 at sf0.1); lazy materializes
    //    inside the one action and both subtrees share the blocks;
    //  - localCheckpoint (not persist): persist registers the plan in the
    //    CacheManager, which pins executor storage until an explicit
    //    clearCache (no caller-reachable handle here) and silently
    //    substitutes the cached subtree into LATER identical queries —
    //    checkpoint blocks are plain RDD storage, reclaimed by the
    //    ContextCleaner once unreferenced and never plan-matched.
    val cands = lshCandidatePairs(df, idCol, textCol, shingleN, numHashes,
      bands, maxBucketSize).localCheckpoint(eager = false)
    // shingle only docs that appear in a candidate pair (usually a tiny
    // fraction of the corpus) — without the semi-join both verify joins
    // would tokenize+shingle+SHUFFLE the shingle arrays of the ENTIRE
    // corpus, twice. Duplicate ids are fine for a left_semi probe, so no
    // distinct: deduping here measured as a whole extra shuffle's latency
    // (q47 2.2 s → 1.7 s at sf0.1) for shuffle-volume savings the semi-join
    // hash table doesn't need.
    val candIds = cands.select(
      explode(array(col(s"${idCol}_a"), col(s"${idCol}_b"))).as(idCol))
    // hashed shingle sets (sorted longs), not shingle STRINGS: the arrays
    // ride through two exchanges (once per join side) and are compared
    // once per candidate pair — 8 bytes/shingle and a merge walk vs tens
    // of KB of gram text and hash-set builds (measured 11 s → ~3 s on the
    // q93 verify stage at sf0.1). Exactness bound in ShingleHashes' doc.
    // NOT checkpointed although it feeds both verify-join sides: the
    // duplicated semi-join subtree's exchanges are reused at runtime
    // (AQE ReuseExchange) and the two broadcast builds run concurrently —
    // a lazy checkpoint here measured +0.3 s on q47 at sf0.1 (serializes
    // the builds behind one materialization barrier).
    // spread before the semi-join for the same reason as the banding pass:
    // shingle hashing is the expensive expression and a small corpus is one
    // scan task (the broadcast semi-join preserves its input partitioning)
    val sh = Spread.byKey(df, col(idCol)).join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), shingleHashes(col(textCol), shingleN).as("sh"))
    cands
      .join(sh.withColumnRenamed(idCol, s"${idCol}_a").withColumnRenamed("sh", "sh_a"), s"${idCol}_a")
      .join(sh.withColumnRenamed(idCol, s"${idCol}_b").withColumnRenamed("sh", "sh_b"), s"${idCol}_b")
      .withColumn("jaccard", jaccardHashed(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens (custom single-pass expression,
    * see [[graft.expressions.SimHash64]]).
    */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.SimHash64(
      org.apache.spark.sql.GraftShims.toExpression(split(trim(text), "\\s+"))))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash candidate pairs: split the 64-bit hash into `bands` chunks;
    * docs agreeing on any chunk are candidates (guarantees recall for
    * hamming distance < bands), then filter by exact hamming distance.
    */
  def simhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    val width = 64 / bands
    val mask = (1L << width) - 1
    val withSig = Spread.byKey(df, col(idCol))
      .select(col(idCol), simhash64(col(textCol)).as("sig"))
    val banded = withSig.select(col(idCol), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * width).bitwiseAND(mask).as("chunk"))): _*)).as("bb"))
      .select(col(idCol), col("sig"), col("bb.band"), col("bb.chunk"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"),
        hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Corpus-level repeated-segment removal — the line/passage dedup of
    * training-data pipelines (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"; CCNet's shard line dedup): split every
    * document on `sep`, and for each distinct segment occurring
    * `minDupCount`-or-more times CORPUS-WIDE keep only its first occurrence
    * in (id, position) order; rarer segments are untouched. Documents come
    * back re-assembled in original order (a doc losing every segment keeps
    * empty text); all other columns pass through.
    *
    * Scale shape (no windows over segment partitions — a boilerplate
    * segment occurring 10^8 times would funnel one sort task):
    * segment stats are a partial/final aggregation on the md5 of the
    * segment (never the raw text as a shuffle key); the join back is a hash
    * equi-join AQE can split on hot keys; reassembly is one groupBy(id).
    * Three shuffles total, all on uniform-ish hashed keys.
    */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDupCount: Int = 2): DataFrame = {
    val segs = df
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_pos", "_seg")))
      .withColumn("_k", md5(col("_seg")))
    val stats = segs.groupBy("_k")
      .agg(count(lit(1)).as("_n"),
        min(struct(col(idCol), col("_pos"))).as("_first"))
    val kept = segs.join(stats, "_k")
      .where(col("_n") < minDupCount ||
        (col(idCol) === col("_first")(idCol) && col("_pos") === col("_first")("_pos")))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_pos"), col("_seg")))),
          s => s.getField("_seg")), sep).as("_graft_newtext"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("_graft_newtext"), lit("")))
      .drop("_graft_newtext")
  }
}
