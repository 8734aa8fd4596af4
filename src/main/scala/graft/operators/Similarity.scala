package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and a deterministic random-hyperplane LSH variant as the
  * 100 TB scale path (signature bucketing turns the O(n) scan per query /
  * O(n²) pair search into a bucket-local one).
  *
  * Dot products fold left-to-right over doubles (`aggregate(zip_with(...))`)
  * so the oracle can reproduce results bit-for-bit with the same fold.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in doubles, sequential fold (deterministic — same accumulation
    * order as DuckDB's list_reduce). Codegen'd single loop, no per-element
    * lambda dispatch (see [[graft.expressions.DotProduct]]).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.DotProduct(
      org.apache.spark.sql.GraftShims.toExpression(a),
      org.apache.spark.sql.GraftShims.toExpression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine against a fixed query vector. The global top-k
    * is a TakeOrderedAndProject — per-partition heaps then a driver merge of
    * k·parts rows, no global sort.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = typedLit(query)
    emb.select(col(idCol), cosine(col(vecCol), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * derived from a 64-bit avalanche of (seed, p, j), uniform in [-1, 1).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    graft.expressions.LshBandKeys.hyperplanes(numPlanes, dim, seed).map(_.toSeq).toSeq

  /** All band keys of a vector in one expression (see
    * [[graft.expressions.LshBandKeys]] — the per-plane `typedLit` column
    * formulation costs seconds of codegen before the first row).
    */
  def lshBandKeys(vec: Column, planesPerBand: Int, bands: Int,
      dim: Int = 64, seed: Long = 42L): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.LshBandKeys(
      org.apache.spark.sql.GraftShims.toExpression(vec), planesPerBand, bands, dim, seed))

  /** LSH signature: bit p = sign(v · plane_p), packed into a long. */
  def lshSignature(vec: Column, numPlanes: Int, dim: Int = 64, seed: Long = 42L): Column =
    lshBandKeys(vec, numPlanes, 1, dim, seed).getItem(0).getField("bucket")

  /** Signature-index the corpus once: adds a `_sig` column (table 0) plus,
    * when `numTables > 1`, an LSH-forest `_sigs` array<long> with one
    * signature per hash table (table `t` uses `seed + t`). Persist or
    * write this out and query via [[annTopKIndexed]] — computing signatures
    * per query costs `numPlanes` dot products per row, MORE than the single
    * dot an exact scan pays, so one-shot [[annTopK]] only wins once the
    * signature column is reused across queries (or stored and pruned on).
    * At 100 TB, bucketing/partitioning the stored index on a `_sig` prefix
    * turns the candidate filter into partition pruning.
    */
  def annIndex(emb: DataFrame, vecCol: String, dim: Int,
      numPlanes: Int = 12, seed: Long = 42L, numTables: Int = 1): DataFrame = {
    val sigs = (0 until numTables).map(t =>
      lshSignature(col(vecCol), numPlanes, dim, seed + t))
    val base = emb.withColumn("_sig", sigs.head)
    if (numTables == 1) base else base.withColumn("_sigs", array(sigs: _*))
  }

  /** Query-side signature of `query` under table `t`'s planes. */
  private def querySignature(query: Seq[Double], numPlanes: Int,
      seed: Long): Long = {
    val planes = hyperplanes(numPlanes, query.length, seed)
    var qSig = 0L
    planes.zipWithIndex.foreach { case (plane, p) =>
      var d = 0.0
      var i = 0
      val n = math.min(plane.length, query.length)
      while (i < n) { d += plane(i) * query(i); i += 1 }
      if (d >= 0) qSig |= (1L << p)
    }
    qSig
  }

  /** ANN top-k over an [[annIndex]]ed corpus: candidates = rows whose
    * signature is within `maxFlips` bits of the query's in ANY of the
    * `numTables` hash tables (multi-probe LSH forest), exact cosine rerank
    * on candidates only. With `numTables = 1` reads the `_sig` column,
    * otherwise `_sigs`. Recall is a function of (numPlanes, maxFlips,
    * numTables) and the corpus geometry; for exact results size the probe
    * so the candidate set covers the true top-k (TrainingOpsSpec pins
    * 4×12-plane tables at radius 7 ≡ brute force on the test corpora,
    * whose uniform-random vectors are LSH's worst case — clustered real
    * embeddings concentrate at far smaller radii).
    */
  def annTopKIndexed(indexed: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, numPlanes: Int = 12, maxFlips: Int = 2,
      seed: Long = 42L, numTables: Int = 1): DataFrame = {
    val cond = (0 until numTables).map { t =>
      val qSig = querySignature(query, numPlanes, seed + t)
      val sig = if (numTables == 1) col("_sig")
                else element_at(col("_sigs"), t + 1)
      bit_count(sig.bitwiseXOR(lit(qSig))) <= maxFlips
    }.reduce(_ || _)
    bruteForceTopK(indexed.where(cond), idCol, vecCol, query, k)
  }

  /** One-shot ANN top-k (index built inline — see [[annIndex]] for the
    * repeated-query path, which is where LSH actually beats the exact scan).
    * Recall < 1 by construction.
    */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, numPlanes: Int = 12, maxFlips: Int = 2,
      seed: Long = 42L, numTables: Int = 1): DataFrame =
    annTopKIndexed(
      annIndex(emb, vecCol, query.length, numPlanes, seed, numTables),
      idCol, vecCol, query, k, numPlanes, maxFlips, seed, numTables)

  /** IVF coarse quantizer: `nlist` centroids from a deterministic sample of
    * the vectors (smallest xxhash64(id, seed)), refined with `iters` Lloyd
    * steps — assignment is one distributed pass per step
    * ([[graft.expressions.NearestCentroid]]), means via posexplode +
    * per-(cluster, dim) average; only nlist × dim numbers ever reach the
    * driver.
    */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3, seed: Long = 42L,
      maxTrainRows: Long = DEFAULT_TRAIN_ROWS): Array[Array[Double]] = {
    val (train, cached) = trainingSample(emb, idCol, seed, maxTrainRows)
    try {
      var cents: Array[Array[Double]] = train
        .orderBy(xxhash64(col(idCol), lit(seed)))
        .limit(nlist)
        .select(col(vecCol).cast("array<double>"))
        .collect()
        .map(_.getSeq[Double](0).toArray)
      localTrainVectors(train, vecCol, cents.headOption.map(_.length).getOrElse(0)) match {
        case Some(rows) =>
          // driver-local Lloyd steps over the collected sample — mirrors
          // NearestCentroid's assignment math and the per-(cluster, dim)
          // average exactly (modulo summation order, ulp-level)
          var it = 0
          while (it < iters) {
            val dim = cents.map(_.length).max
            val sums = Array.fill(cents.length)(new Array[Double](dim))
            val cnts = Array.fill(cents.length)(new Array[Long](dim))
            rows.foreach { v =>
              val c = localNearest(v, cents)
              var i = 0
              val lim = math.min(v.length, dim)
              while (i < lim) { sums(c)(i) += v(i); cnts(c)(i) += 1; i += 1 }
            }
            val next = cents.map(_.clone())
            var c = 0
            while (c < next.length) {
              var i = 0
              while (i < next(c).length) {
                if (cnts(c)(i) > 0) next(c)(i) = sums(c)(i) / cnts(c)(i)
                i += 1
              }
              c += 1
            }
            cents = next // clusters that lost all members keep their old centroid
            it += 1
          }
          cents
        case None =>
          var it = 0
          while (it < iters) {
            val assigned = train.select(
              nearestCentroid(col(vecCol), cents).as("_c"),
              posexplode(col(vecCol).cast("array<double>")).as(Seq("_i", "_x")))
            val means = assigned.groupBy("_c", "_i").agg(avg(col("_x")).as("_m"))
              .collect()
            val next = cents.map(_.clone())
            means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
            cents = next // clusters that lost all members keep their old centroid
            it += 1
          }
          cents
      }
    } finally if (cached) train.unpersist()
  }

  private val LocalTrainCells = 1L << 22

  /** Driver-local training gate: k-means over a few thousand sampled
    * vectors pays a full Spark job + shuffle PER Lloyd iteration on the
    * distributed path — pure scheduling overhead at that size. When the
    * sample's cell count (rows × dim) is at or below [[LocalTrainCells]]
    * (2²² ≈ 32 MB of doubles — bounded driver memory by construction, the
    * same budget class as the centroid/codebook arrays already collected),
    * the vectors are collected ONCE and iterated in memory; larger samples
    * keep the one-job-per-iteration distributed loop. None above the gate.
    */
  private def localTrainVectors(train: DataFrame, vecCol: String,
      dim: Int): Option[Array[Array[Double]]] = {
    if (dim <= 0) return None
    // ONE bounded collect decides: fetch at most maxRows+1 vectors — if
    // the limit overflows the sample is too big and the distributed loop
    // runs (the discarded fetch is itself gate-bounded)
    val maxRows = (LocalTrainCells / dim).toInt
    if (maxRows <= 0) return None
    val rows = train.select(col(vecCol).cast("array<double>"))
      .limit(maxRows + 1).collect()
    if (rows.length > maxRows) None
    else Some(rows.map(_.getSeq[Double](0).toArray))
  }

  /** Exact mirror of [[graft.expressions.NearestCentroid]]'s assignment
    * (squared euclidean, dim-order accumulation, ties to lower index).
    */
  private def localNearest(v: Array[Double],
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(v.length, cent.length)
      var d = 0.0
      var i = 0
      while (i < n) { val diff = v(i) - cent(i); d += diff * diff; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** k-means needs thousands of training vectors, not billions: above
    * `maxTrainRows` the trainers run on a DETERMINISTIC hash-thresholded
    * sample (xxhash64 of the id — same id set, same sample, any partition
    * layout), persisted so each Lloyd iteration scans the bounded sample
    * instead of re-scanning the full corpus. This makes the 100 TB
    * mitigation the API's default behavior, not a doc comment;
    * `maxTrainRows <= 0` disables sampling. Below the threshold the input
    * is trained on as-is — bitwise-identical results to the unsampled
    * path. The count that decides is one aggregate over the input
    * (footer-count fast for bare parquet scans), noise next to the
    * training jobs themselves.
    */
  private def trainingSample(emb: DataFrame, idCol: String, seed: Long,
      maxTrainRows: Long): (DataFrame, Boolean) = {
    if (maxTrainRows <= 0) return (emb, false)
    val n = emb.count()
    if (n <= maxTrainRows) return (emb, false)
    // keep ~maxTrainRows rows: hash-threshold on the id, seeded apart from
    // the init ordering's hash so the sample and the init draw stay
    // independent
    val keep = ((maxTrainRows.toDouble / n) * (1L << 32).toDouble).toLong
    val s = emb
      .where(pmod(xxhash64(col(idCol), lit(seed ^ 0x5a17c0deL)), lit(1L << 32)) < keep)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (s, true)
  }

  private[graft] val DEFAULT_TRAIN_ROWS: Long = 1L << 18

  /** Cluster-assignment column for a fixed centroid matrix. */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.NearestCentroid(
      org.apache.spark.sql.GraftShims.toExpression(vec), centroids))

  /** IVF top-k: probe the `nprobe` clusters whose centroids are nearest the
    * query, exact-cosine rerank inside them — the classic inverted-file ANN
    * (recall < 1 by construction; candidate set is |probed clusters| of n).
    * At scale, persist the assignment column once and filter on it
    * (partition pruning), instead of re-assigning per query.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 3, seed: Long = 42L): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, nlist, iters, seed)
    val probes = cents.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(query).map { case (a, b) => val t = a - b; t * t }.sum
        (i, d)
      }
      .sortBy { case (i, d) => (d, i) }
      .take(nprobe).map(_._1).toSeq
    val cands = emb.where(nearestCentroid(col(vecCol), cents).isin(probes: _*))
    bruteForceTopK(cands, idCol, vecCol, query, k)
  }

  /** Exact batch k-NN join: for every row of `queries`, its `k` nearest
    * corpus rows by cosine (ties by corpus id). The query side BROADCASTS —
    * it is a bounded query batch, not a second corpus — so the corpus is
    * read in one narrow scan with no corpus shuffle, each row scoring
    * |queries| dots map-side. The per-query top-k runs as a window group
    * limit (Spark inserts WindowGroupLimit below the exchange for a
    * row_number ≤ k filter): every task forwards at most k rows per query,
    * so the one shuffle carries O(|queries| · k · tasks) rows, never
    * |corpus| × |queries|.
    */
  def knnJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("_qv")))
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(q)
      .select(col("query_id"), col(idCol),
        cosine(col(vecCol), col("_qv")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol).asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k).drop("_rn")
  }

  /** IVF batch k-NN join — the scale path of [[knnJoin]]: corpus rows are
    * assigned to their nearest coarse centroid once; each query probes its
    * `nprobe` nearest cells (same squared-L2 metric as the assignment:
    * for a fixed query, ‖q−c‖² ranks as ‖c‖² − 2·q·c), and candidates come
    * from ONE equi-join on the cell id — per query it scores ~nprobe/nlist
    * of the corpus instead of all of it. Recall < 1 by construction.
    * At 100 TB, persist the assignment column and partition by it so the
    * cell join prunes files instead of scanning.
    */
  def knnJoinIvf(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, iters: Int = 3, seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist, iters, seed)
    val assigned = corpus.select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), cents).as("_c"))
    // centroid table as DATA rows, not plan literals (nlist × dim literal
    // arrays would re-trip the plan-size tax — see NearestCentroid)
    val centDf = cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) }
      .toDF("_c", "_cent", "_cn2")
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_cd").asc, col("_c").asc)
    val qProbes = queries
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("_qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("_cd", col("_cn2") - lit(2.0) * dot(col("_qv"), col("_cent")))
      .withColumn("_rn", row_number().over(qw)).where(col("_rn") <= nprobe)
      .select(col("query_id"), col("_qv"), col("_c"))
    val scored = assigned.join(broadcast(qProbes), Seq("_c"))
      .select(col("query_id"), col(idCol),
        cosine(col(vecCol), col("_qv")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col(idCol).asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k).drop("_rn")
  }

  /** All pairs with cosine >= threshold — brute self-join baseline
    * (exact; O(n²), for modest n or as the in-bucket verifier). Norms are
    * computed once per row BEFORE the join (1 dot per pair, not 3);
    * `dot/(normA*normB)` keeps the oracle's arithmetic order.
    */
  def bruteForcePairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      norm(col(vecCol)).as("n_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      norm(col(vecCol)).as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Guaranteed-recall LSH parameters for a cosine `threshold`: per-pair
    * collision probability per plane is p = 1 − acos(threshold)/π, so a
    * pair AT the threshold is missed with probability (1 − p^m)^L. Returns
    * the widest planes-per-band m (strongest pruning of random pairs,
    * ~2^−m per band) whose band count L = ⌈ln eps / ln(1 − p^m)⌉ stays
    * within `maxBands`; pairs above the threshold miss even less. With the
    * default eps = 1e-9 the residual miss probability is negligible at any
    * corpus size that fits a cluster.
    */
  def lshParams(threshold: Double, eps: Double = 1e-9, maxBands: Int = 24): (Int, Int) = {
    val t = math.min(math.max(threshold, -1.0), 1.0)
    val p = 1.0 - math.acos(t) / math.Pi
    def bandsFor(m: Int): Long = {
      val pm = math.pow(p, m)
      if (pm >= 1.0) 1L
      else math.ceil(math.log(eps) / math.log1p(-pm)).toLong
    }
    var best = (1, bandsFor(1))
    var m = 2
    while (m <= 16) {
      val l = bandsFor(m)
      if (l <= maxBands) best = (m, l)
      m += 1
    }
    (best._1, math.max(best._2, 1L).toInt)
  }

  /** Exact all-pairs cosine ≥ threshold as a BLOCKED equi-join: the right
    * side is hashed into `blocks` buckets, the left side is replicated to
    * every bucket — n² comparisons (exact similarity on dense vectors
    * admits nothing less), but evenly distributed shuffle-join work with
    * no broadcast-nested-loop and no driver involvement. This is the scale
    * path for LOW thresholds, where banded LSH provably cannot prune (see
    * [[lshPairs]]); n² of anything is infeasible at 10⁹ rows regardless —
    * cap the corpus or raise the threshold there.
    */
  def blockedPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 32): DataFrame = {
    // a small corpus is one scan task; the ×blocks replication explode and
    // the norm pass would run serially without the spread (guide §2.5)
    val src = Spread.byKey(emb, col(idCol))
    val left = src.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
        norm(col(vecCol)).as("n_a"))
      .withColumn("_blk", explode(typedLit((0 until blocks).toList)))
    val right = src.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      norm(col(vecCol)).as("n_b"),
      pmod(hash(col(idCol)), lit(blocks)).as("_blk"))
    // pair (x, y), x < y appears exactly once: x's copy in y's block
    left.join(right, Seq("_blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding near-dup pairs at scale: banded random-hyperplane LSH.
    * `bands` independent signature tables of `planesPerBand` bits each;
    * vectors sharing ANY band bucket become candidates (equi-join on
    * (band, bucket) — never a cross/BNL join), then exact-cosine verify.
    *
    * Per-pair recall = 1 − (1 − p^m)^L with p = 1 − θ/π. Parameters
    * default to [[lshParams]]`(threshold)` — derived so the miss
    * probability at the threshold is ≤ 1e-9, not an empirical property of
    * any corpus/seed. When the derived plan would do MORE work than exact
    * blocked all-pairs (a random pair collides in ~L·2^−m bands; at low
    * thresholds like 0.45, m degenerates to 1 and that exceeds the 1
    * comparison brute-force pays — an information-theoretic property of
    * the regime, not of the implementation), this dispatches to
    * [[blockedPairs]], which is exact. Pass explicit `planesPerBand`/
    * `bands` to force banding (high-sim regimes: cos ≥ 0.9 prunes
    * massively at m=8).
    */
  def lshPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planesPerBand: Int = 0, bands: Int = 0,
      dim: Int = 0, seed: Long = 42L,
      rejoinVectors: Boolean = false): DataFrame = {
    val (m, l) =
      if (planesPerBand > 0 && bands > 0) (planesPerBand, bands)
      else lshParams(threshold)
    if (planesPerBand <= 0 && l * math.pow(0.5, m) >= 1.0)
      return blockedPairs(emb, idCol, vecCol, threshold)
    // dim = 0 (default): derive from the data. A too-small dim silently
    // truncates the signature dot products (LshBandKeys dots min(len, dim)
    // components) and voids the recall derivation above. NULL vectors are
    // skipped when sampling — size(NULL) would poison the derived dim.
    val d = if (dim > 0) dim else {
      val r = emb.where(col(vecCol).isNotNull)
        .select(size(col(vecCol))).limit(1).collect()
      if (r.isEmpty) return blockedPairs(emb, idCol, vecCol, threshold) // no vectors
      r(0).getInt(0)
    }
    def bandCol(v: Column) = explode(lshBandKeys(v, m, l, d, seed))
    // hyperplane banding is m×l×d multiplies per vector — spread a small
    // (few-split) corpus before computing it (guide §2.5)
    val embS = Spread.byKey(emb, col(idCol))
    if (rejoinVectors) {
      // id-only band shuffle, candidates deduped, vectors joined back once —
      // for very wide embeddings where duplicating vectors ×bands dominates
      val banded = embS.select(col(idCol).as("id"), bandCol(col(vecCol)).as("bb"))
        .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val cands = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val vecs = embS.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("n"))
      cands
        .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b")), "id_b")
        .withColumn("sim", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
        .where(col("sim") >= threshold)
        .select(col("id_a"), col("id_b"), col("sim"))
    } else {
      // carry (vector, norm) through the band join: the verify is inline and
      // only surviving pairs reach the final dedup shuffle (tiny)
      val banded = embS.select(col(idCol).as("id"), col(vecCol).as("v"),
          norm(col(vecCol)).as("n"), bandCol(col(vecCol)).as("bb"))
        .select(col("id"), col("v"), col("n"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n"))).as("sim"))
        .where(col("sim") >= threshold)
        .distinct()
    }
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): drop all but one
    * representative of every group of embedding-near-duplicate documents.
    * Groups are the TRANSITIVE closure of the cosine-≥-threshold relation
    * (a paraphrase chain a≈b≈c collapses to one doc even when cos(a,c)
    * dips below the threshold); the kept representative is the smallest id
    * in the group — deterministic on any engine/layout.
    *
    * Scale shape: pair discovery is [[lshPairs]] (banded equi-join with a
    * derived ≤1e-9 miss bound — never all-pairs), grouping is
    * [[Clustering.connectedComponents]] (large-star/small-star, O(log²)
    * rounds), and the final markup is one left join against the component
    * map (|near-dup nodes|-bounded, tiny next to the corpus).
    *
    * Returns (idCol, rep_id, kept): every input row, its group
    * representative (itself when it has no near-dup), and whether a
    * dedup pass keeps it.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planesPerBand: Int = 0, bands: Int = 0,
      dim: Int = 0, seed: Long = 42L): DataFrame = {
    val pairs = lshPairs(emb, idCol, vecCol, threshold, planesPerBand,
      bands, dim, seed)
    val cc = Clustering.connectedComponents(pairs, "id_a", "id_b")
    val isNumeric =
      emb.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    val rep = coalesce(col("component"), col(idCol))
    emb.select(col(idCol))
      .join(cc, col(idCol) === col("node"), "left")
      .select(col(idCol),
        (if (isNumeric) rep.cast("long") else rep).as("rep_id"))
      .withColumn("kept", col("rep_id") === col(idCol))
  }

  // ------------------------------------------------------- int8 quantization

  /** Symmetric per-vector int8 scalar quantization:
    * `q_i = floor(x_i * 127 / max|x| + 0.5)` ∈ [-127, 127]. Rounding is
    * spelled `floor(+0.5)` (not a library `round`) so every engine computes
    * identical codes. The per-vector scale cancels in cosine, so quantized
    * cosine ranking needs ONLY these codes — 4× less scan bandwidth than
    * float32, the standard memory/IO lever for billion-vector search.
    * Zero vectors quantize to all-zero codes.
    */
  def quantize(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val s = greatest(array_max(transform(v, x => abs(x))), lit(1e-30))
    transform(v, x => floor(x * lit(127.0) / s + lit(0.5)).cast("int"))
  }

  /** [[quantize]] plus the scale needed to dequantize:
    * struct(scale, codes); `x_i ≈ codes_i * scale / 127`.
    */
  def quantizeWithScale(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val s = greatest(array_max(transform(v, x => abs(x))), lit(1e-30))
    struct(s.as("scale"),
      transform(v, x => floor(x * lit(127.0) / s + lit(0.5)).cast("int")).as("codes"))
  }

  /** Driver-side [[quantize]] of a query vector (same IEEE ops). */
  def quantizeHost(x: Seq[Double]): Seq[Int] = {
    val s = math.max(x.map(math.abs).foldLeft(0.0)(math.max), 1e-30)
    x.map(v => math.floor(v * 127.0 / s + 0.5).toInt)
  }

  /** Top-k by cosine over int8-QUANTIZED vectors — the bandwidth-lean
    * first stage of quantized search. Exactly [[bruteForceTopK]]'s plan
    * (narrow scan + TakeOrderedAndProject) but the scan reads int8 codes,
    * not floats. The score is the quantized cosine (scales cancel), fully
    * deterministic: integer sums are exact in doubles.
    */
  def quantizedTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val qq = typedLit(quantizeHost(query).map(_.toDouble))
    emb.select(col(idCol), quantize(col(vecCol)).cast("array<double>").as("_q"))
      .select(col(idCol), cosine(col("_q"), qq).as("qsim"))
      .orderBy(col("qsim").desc, col(idCol))
      .limit(k)
  }

  /** Quantized prefilter + exact float rerank: scan the int8 codes for the
    * top `k * oversample` candidates, then re-score ONLY those with exact
    * float cosine and keep the top k. At 100 TB the full corpus is read
    * once at 1/4 width; the float re-read is a k·oversample-row semi-join
    * (candidate ids broadcast back against the corpus). Recall is not
    * guaranteed 1.0 — int8 cosine error is ~1e-2, so any true neighbor
    * more than that margin inside the top-k survives; raise `oversample`
    * to tighten.
    */
  def quantizedRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, oversample: Int = 4): DataFrame = {
    val cand = quantizedTopK(emb, idCol, vecCol, query, k * oversample)
      .select(col(idCol))
    emb.join(broadcast(cand), Seq(idCol))
      .select(col(idCol),
        cosine(col(vecCol).cast("array<double>"), typedLit(query)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------ product quantization

  /** Per-subspace k-means codebooks for product quantization (Jégou et al.
    * 2011): the D-dim space split into `m` contiguous subspaces of D/m
    * dims, each with its own `codebookSize`-centroid codebook. Deterministic
    * like [[ivfCentroids]] (xxhash64-seeded init, fixed iterations); each
    * refinement iteration is ONE job — a posexplode keyed by
    * (subspace, code, coordinate), so the shuffle carries at most
    * D × codebookSize aggregated rows regardless of corpus size. At 100 TB,
    * train on a deterministic sample (Sampling.bernoulli) — codebooks need
    * thousands of vectors, not billions.
    */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 8, codebookSize: Int = 16, iters: Int = 3,
      seed: Long = 42L,
      maxTrainRows: Long = DEFAULT_TRAIN_ROWS): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m $m")
    val dsub = dim / m
    val (train, cached) = trainingSample(emb, idCol, seed, maxTrainRows)
    try pqCodebooksOn(train, idCol, vecCol, dsub, m, codebookSize, iters, seed)
    finally if (cached) train.unpersist()
  }

  private def pqCodebooksOn(emb: DataFrame, idCol: String, vecCol: String,
      dsub: Int, m: Int, codebookSize: Int, iters: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    // init: first codebookSize vectors in hash order, sliced per subspace
    val init = emb.orderBy(xxhash64(col(idCol), lit(seed))).limit(codebookSize)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(init.nonEmpty, "pqCodebooks: empty corpus")
    var cbs: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      Array.tabulate(codebookSize) { c =>
        val v = init(c % init.length)
        java.util.Arrays.copyOfRange(v, s * dsub, math.min((s + 1) * dsub, v.length))
      }
    }
    localTrainVectors(emb, vecCol, m * dsub) match {
      case Some(rows) =>
        // driver-local refinement (see localTrainVectors): mirrors
        // PqEncode's per-subspace assignment and the per-(s, c, d)
        // average exactly (modulo summation order, ulp-level)
        var it = 0
        while (it < iters) {
          val sums = Array.fill(m, codebookSize)(new Array[Double](dsub))
          val cnts = Array.fill(m, codebookSize)(new Array[Long](dsub))
          rows.foreach { v =>
            var s = 0
            while (s < m) {
              val off = s * dsub
              val lim = math.min(dsub, math.max(v.length - off, 0))
              if (lim > 0) {
                val cb = cbs(s)
                var best = 0
                var bestD = Double.MaxValue
                var c = 0
                while (c < cb.length) {
                  val cent = cb(c)
                  var d = 0.0
                  var i = 0
                  while (i < lim) {
                    val diff = v(off + i) - cent(i); d += diff * diff; i += 1
                  }
                  if (d < bestD) { bestD = d; best = c }
                  c += 1
                }
                var i = 0
                while (i < lim) {
                  sums(s)(best)(i) += v(off + i); cnts(s)(best)(i) += 1; i += 1
                }
              }
              s += 1
            }
          }
          val next = cbs.map(_.map(_.clone()))
          var s = 0
          while (s < m) {
            var c = 0
            while (c < codebookSize) {
              var d = 0
              while (d < dsub) {
                if (cnts(s)(c)(d) > 0) next(s)(c)(d) = sums(s)(c)(d) / cnts(s)(c)(d)
                d += 1
              }
              c += 1
            }
            s += 1
          }
          cbs = next // empty cells keep their previous centroid
          it += 1
        }
        cbs
      case None =>
        var it = 0
        while (it < iters) {
          val codes = pqEncode(col(vecCol), cbs)
          val means = emb
            .select(codes.as("_codes"),
              posexplode(col(vecCol).cast("array<double>")).as(Seq("_i", "_x")))
            .select((col("_i") / dsub).cast("int").as("_s"),
              (col("_i") % dsub).as("_d"),
              element_at(col("_codes"), (col("_i") / dsub).cast("int") + 1).as("_c"),
              col("_x"))
            .groupBy("_s", "_c", "_d").agg(avg(col("_x")).as("_m"))
            .collect() // bounded: m × codebookSize × dsub = dim × codebookSize
          val next = cbs.map(_.map(_.clone()))
          means.foreach { r =>
            next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
          }
          cbs = next // empty cells keep their previous centroid
          it += 1
        }
        cbs
    }
  }

  /** PQ code column (array<int>, one code per subspace) — single-pass
    * codegen expression; codebooks ride in the expression, not the plan.
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.PqEncode(
      org.apache.spark.sql.GraftShims.toExpression(vec), codebooks))

  /** Approximate cosine of the query against each row's RECONSTRUCTED
    * vector, from codes alone (asymmetric distance computation): per
    * subspace one table lookup, no vector read.
    */
  def pqAdcScore(codes: Column, codebooks: Array[Array[Array[Double]]],
      query: Seq[Double]): Column = {
    val dsub = codebooks(0)(0).length
    val dots = codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map(_.zipWithIndex.map { case (cv, i) =>
        cv * query.applyOrElse(s * dsub + i, (_: Int) => 0.0)
      }.sum)
    }
    val nsqs = codebooks.map(_.map(c => c.map(x => x * x).sum))
    org.apache.spark.sql.GraftShims.toColumn(graft.expressions.PqAdcScore(
      org.apache.spark.sql.GraftShims.toExpression(codes), dots, nsqs))
  }

  /** PQ top-k with exact rerank: codes-only ADC scan ranks candidates
    * (each row costs m table lookups — the corpus vectors are never read
    * in stage 1 once codes are materialized), the top k·oversample get
    * exact float cosine, top k win. The 100 TB shape: persist the code
    * column once (m bytes/row instead of 4·D), scan it per query;
    * stage 2 is a broadcast semi-join reading k·oversample rows.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, m: Int = 8, codebookSize: Int = 16,
      oversample: Int = 4, iters: Int = 3, seed: Long = 42L): DataFrame =
    pqTopKWith(emb, idCol, vecCol, query, k,
      pqCodebooks(emb, idCol, vecCol, query.length, m, codebookSize, iters, seed),
      oversample)

  /** [[pqTopK]] with PRECOMPUTED codebooks — the per-query entry point.
    * Train codebooks once ([[pqCodebooks]]), optionally persist the
    * `pqEncode` column alongside the corpus, then answer each query from
    * the codes; retraining per query would pay iters+1 corpus passes every
    * call.
    */
  def pqTopKWith(emb: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, codebooks: Array[Array[Array[Double]]],
      oversample: Int = 4): DataFrame = {
    val cand = emb
      .select(col(idCol),
        pqAdcScore(pqEncode(col(vecCol), codebooks), codebooks, query).as("_adc"))
      .orderBy(col("_adc").desc, col(idCol))
      .limit(k * oversample)
      .select(col(idCol))
    emb.join(broadcast(cand), Seq(idCol))
      .select(col(idCol),
        cosine(col(vecCol).cast("array<double>"), typedLit(query)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}
