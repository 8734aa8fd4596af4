package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, IntegerType, LongType, NumericType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Sizing
import graft.plans.{GraftStrategies, SmallDedup}

/** Graph clustering for dedup pipelines: given near-duplicate candidate
  * PAIRS (from [[Dedup.nearDuplicatePairs]], [[Similarity.lshPairs]], or
  * exact-dup groups), assign every document the minimum reachable id of its
  * connected component, so each duplicate CLUSTER — not just each pair —
  * has one canonical survivor. (The reference engine has no graph ops; this
  * is part of the training-data surface built on the same Spark core.)
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each round is
  * a groupBy(min) + an equi-join over the edge list, and the edge set
  * contracts toward one star per component in O(log²) rounds. Chosen over
  * per-round label propagation (O(diameter) rounds — a 100-doc duplicate
  * chain is 100 shuffles there, ~7 here). Deduped edge lists at or below
  * `driverThreshold` dispatch to a driver-side union-find instead — ~10
  * scheduler round-trips of iterative overhead buy nothing on a graph that
  * fits in single-digit MB. No neighborhood is ever materialized as an array:
  * the per-node minimum is a scalar aggregate joined back to the edge
  * list, so a boilerplate super-node with 10⁷ neighbors is just a skewed
  * join key (AQE skew handling applies), never a 10⁷-element row. Every
  * round ends in `localCheckpoint`, keeping lineage O(1) per round instead
  * of exponentially nested.
  *
  * At 100 TB: edge count ≈ near-dup pair count, far smaller than the
  * corpus; each round shuffles only the (long, long) edge list hashed by
  * node id.
  */
object Clustering {

  /** Connected components of the undirected graph given by an edge list.
    * Returns one row per node appearing in `edges`: (`node`, `component`)
    * where `component` is the minimum node id reachable from `node`.
    * Isolated nodes (no edges) don't appear — left-join and coalesce to
    * default them to their own id, as [[clusterAssignments]] does.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 30, driverThreshold: Long = 100000): DataFrame = {
    // numeric ids normalize to long; string ids are orderable as-is. A
    // blind cast("long") would turn 'doc-123' into NULL (non-ANSI) and
    // silently drop every edge — fail fast on types min/least can't order.
    def key(c: String) = edges.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType => col(c).cast("long")
      case org.apache.spark.sql.types.StringType => col(c)
      case other => throw new IllegalArgumentException(
        s"connectedComponents: unsupported id type $other for column $c")
    }
    // undirected, no self-loops, deduped, canonical (u < v); lineage
    // truncated up front so the (possibly expensive) pair-generation plan
    // runs exactly once
    var (e, eBlocks) = checkpoint(edges
      .select(key(srcCol).as("u"), key(dstCol).as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct())

    var converged = false
    var round = 0
    // Size-gated dispatch (same pattern as Similarity.blockedPairs and the
    // SkipScan dictionary collect): a deduped edge list under the threshold
    // (default 100k edges ≈ 1.6 MB) is union-find on the driver in
    // milliseconds, where the iterative loop would pay ~10 scheduler
    // round-trips for the same answer. At 100 TB the near-dup edge list is
    // billions of rows and takes the distributed loop; the threshold bounds
    // driver memory explicitly: one capped collect both decides and feeds
    // the small arm. Results are bit-identical (specs assert).
    val head = e.limit((driverThreshold + 1).min(Int.MaxValue).toInt).collect()
    if (head.length <= driverThreshold) {
      val out = driverUnionFind(head, e)
      eBlocks.unpersist(blocking = false)
      return out
    }
    // edge count of the current set — a cheap scan of checkpointed blocks,
    // GATING the exact convergence diff below (different counts cannot be
    // equal sets, so most rounds skip the full-outer-join check entirely)
    var eCount = e.count()
    while (!converged && round < maxRounds) {
      // large-star(u): m = min(N(u) ∪ {u}); connect every neighbor w > u
      // to m. Neighborhoods come from the symmetric edge view; the min is
      // a scalar joined back per node.
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = nbrs.join(mins, "u")
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
        .distinct()

      // small-star(u): over the smaller-than-u neighborhood N⁻(u),
      // m = min(N⁻(u)); connect every w ∈ N⁻(u) ∪ {u}, w ≠ m, to m.
      // `large` is canonical (u < v), so the flipped view (v → u) IS the
      // smaller-neighbor list of v. Both stars run in ONE lineage — only
      // the round result is checkpointed.
      val le = large.select(col("v").as("u"), col("u").as("v"))
      val sm = le.groupBy("u").agg(min(col("v")).as("m"))
      val (small, smallBlocks) = checkpoint(le.join(sm, "u")
        .where(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v"))
        .union(sm.select(col("m").as("u"), col("u").as("v"))) // u itself → m
        .where(col("u") =!= col("v"))
        .distinct())

      // converged ⟺ edge set unchanged. Exact symmetric diff, but only
      // when the cheap count gate says equality is possible — a changed
      // count proves non-convergence without touching a join.
      val smallCount = small.count()
      converged = smallCount == eCount && small
        .withColumn("_n", lit(1))
        .join(e.withColumn("_o", lit(1)), Seq("u", "v"), "full_outer")
        .where(col("_n").isNull || col("_o").isNull)
        .limit(1).count() == 0
      // previous round's checkpoint blocks are dead now — free them
      // instead of pinning O(rounds) edge lists in executor storage
      eBlocks.unpersist(blocking = false)
      e = small
      eBlocks = smallBlocks
      eCount = smallCount
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // final graph is one star per component: every edge is (min, member)
    e.select(col("v").as("node"), col("u").as("component"))
      .union(e.select(col("u").as("node"), col("u").as("component")))
      .distinct()
  }

  /** Driver-side min-id union-find over the collected `rows` of an
    * already-canonicalized (u < v, deduped) edge list `e` — the small-graph
    * arm of [[connectedComponents]]'s dispatch. Same contract as the
    * distributed loop: one row per node appearing in the edges,
    * component = minimum reachable id.
    */
  private def driverUnionFind(rows: Array[org.apache.spark.sql.Row],
      e: DataFrame): DataFrame = {
    val dt = e.schema("u").dataType
    val uf = new MinIdUnionFind
    rows.foreach(r => uf.union(r.get(0), r.get(1)))
    val nodes = new java.util.LinkedHashSet[Any]()
    rows.foreach { r => nodes.add(r.get(0)); nodes.add(r.get(1)) }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](nodes.size)
    nodes.forEach(n => out += org.apache.spark.sql.Row(n, uf.find(n)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", dt),
      org.apache.spark.sql.types.StructField("component", dt)))
    e.sparkSession.createDataFrame(
      e.sparkSession.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** Union-find whose root is the smallest id of its set, under Spark's
    * order of the id column: ids are `Long`s, or strings (`String` on the
    * driver, `UTF8String` in a task) compared byte-wise as UTF-8, as
    * `min`/`least` compare them in the distributed loop. Shared by
    * [[driverUnionFind]] and [[graft.plans.SmallDedup]].
    */
  private[graft] final class MinIdUnionFind {
    private val parent = new java.util.HashMap[Any, Any]()

    def find(x: Any): Any = {
      var root = x
      var p = parent.get(root)
      while (p != null && p != root) { root = p; p = parent.get(root) }
      // path compression
      var cur = x
      while (cur != root) { val nxt = parent.get(cur); parent.put(cur, root); cur = nxt }
      root
    }

    def union(a: Any, b: Any): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (MinIdUnionFind.less(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
  }

  private[graft] object MinIdUnionFind {
    def less(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => x < y
      case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
      case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0
      case _ => throw new IllegalStateException(s"unexpected id types: $a / $b")
    }
  }

  /** Eagerly localCheckpoint `df`, returning the checkpointed frame AND a
    * handle on its storage (the underlying RDD) so the caller can free the
    * blocks once the round that produced them is superseded —
    * `Dataset.unpersist` does not release RDD-level localCheckpoint
    * storage.
    */
  private def checkpoint(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val ck = df.localCheckpoint()
    val rdd = ck.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.head
    (ck, rdd)
  }

  /** Cluster assignment for EVERY row of `df`: near-dup pairs at
    * `threshold` → connected components → (idCol, cluster_id), where
    * cluster_id = min doc id of the duplicate cluster (docs with no
    * near-duplicate get their own id). Exact duplicates land in the same
    * cluster (jaccard 1 ≥ any threshold ≤ 1). A small `df` runs as one
    * plan ([[smallArm]]); any other takes the distributed arm.
    */
  def clusterAssignments(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 32,
      bands: Int = 32, maxBucketSize: Int = Int.MaxValue): DataFrame =
    smallArm(df, idCol, textCol, threshold, None, shingleN, numHashes, bands,
      maxBucketSize).getOrElse(distributedAssignments(df, idCol, textCol,
      threshold, shingleN, numHashes, bands, maxBucketSize))

  /** (id, cluster_id) per input row, plus `_graft_q` when `quality` is
    * given — carried through the same projection, so every input row
    * comes out once even when its id repeats.
    */
  private def distributedAssignments(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleN: Int, numHashes: Int,
      bands: Int, maxBucketSize: Int, quality: Option[Column] = None): DataFrame = {
    val pairs = Dedup.nearDuplicatePairs(df, idCol, textCol, threshold,
      shingleN, numHashes, bands, maxBucketSize)
    val cc = connectedComponents(pairs, s"${idCol}_a", s"${idCol}_b")
    val isNumeric = df.schema(idCol).dataType.isInstanceOf[NumericType]
    val cid = coalesce(col("component"), col(idCol))
    df.select(col(idCol) +: quality.map(_.as("_graft_q")).toSeq: _*)
      .join(cc, col(idCol) === col("node"), "left")
      .select(Seq(col(idCol),
        (if (isNumeric) cid.cast("long") else cid).as("cluster_id")) ++
        quality.map(_ => col("_graft_q")): _*)
  }

  /** The near-dup arm for an input small enough for one task, chosen here
    * and nowhere else: `df`'s plan estimate is known and at most one scan
    * split ([[graft.Sizing.splitBytes]]), so the single task holds no more
    * input than one scan task already does. An unknown or larger estimate
    * returns None and takes the distributed arm (`nearDuplicatePairs` →
    * [[connectedComponents]]), which never gathers the corpus in one
    * task. Ids must be integral or strings (the distributed arm's key
    * cast folds other numeric ids), and the session must plan graft's
    * nodes ([[graft.Graft.init]] or `GraftExtensions`).
    *
    * The plan is lazy, with no checkpoint, collect, limit or broadcast:
    * [[Spread.byKey]] spreads the documents, one projection computes the
    * id, quality, band buckets (the same `lshBands(minhashFast(...))`
    * expressions as [[Dedup.lshCandidatePairs]]) and shingle hashes in
    * parallel, and [[graft.plans.SmallDedup]] does the rest in one task.
    * `quality` given = keep-best output (id, cluster_id, kept); otherwise
    * (id, cluster_id).
    */
  private def smallArm(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, quality: Option[Column], shingleN: Int,
      numHashes: Int, bands: Int, maxBucketSize: Int): Option[DataFrame] = {
    val spark = df.sparkSession
    val split = Sizing.splitBytes(spark)
    val idType = df.schema(idCol).dataType
    val plannable = (idType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }) && spark.sessionState.planner.strategies.contains(GraftStrategies)
    Sizing.estimate(df).filter(est => plannable && est <= split).map { est =>
      val rows = Dedup.rowsPerBand(numHashes, bands)
      val sig = Dedup.minhashFast(col(textCol), shingleN, numHashes)
      val in = Spread.byKey(df, col(idCol)).select(Seq(col(idCol)) ++
        quality.map(_.as("_graft_q")) ++ Seq(
        transform(Dedup.lshBands(sig, bands, rows), _.getField("bucket")).as("_graft_buckets"),
        Dedup.shingleHashes(col(textCol), shingleN).as("_graft_sh")): _*)
      val plan = in.queryExecution.analyzed
      val attrs = plan.output
      val out = Seq(
        AttributeReference(idCol, idType, attrs.head.nullable)(),
        AttributeReference("cluster_id", if (idType == StringType) StringType else LongType)()) ++
        quality.map(_ => AttributeReference("kept", BooleanType, nullable = false)())
      GraftShims.ofRows(spark, SmallDedup(attrs.head, quality.map(_ => attrs(1)),
        attrs(attrs.size - 2), attrs.last, threshold, maxBucketSize, est, split,
        out, plan))
    }
  }

  /** Fuzzy-dedup RETENTION: given per-row duplicate-cluster assignments,
    * mark ONE representative per cluster — the row with the highest
    * `quality` (ties → smallest id) — as `kept`. This is the step that
    * turns cluster ids into a training corpus: near-duplicates collapse to
    * their best exemplar instead of an arbitrary one (the "keep best, not
    * first" rule of fuzzy dedup pipelines).
    *
    * One shuffle (the per-cluster window); the rows under the window are
    * narrow (id, cluster, quality) — join text back AFTER filtering on
    * `kept` so document bodies never ride through the exchange. Cluster
    * sizes are near-dup cliques (bounded in practice by the banding's
    * bucket cap), so per-partition skew stays benign at 100 TB.
    */
  def keepBestPerCluster(assignments: DataFrame, idCol: String,
      clusterCol: String, quality: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(clusterCol))
      .orderBy(quality.desc, col(idCol).asc)
    assignments
      .withColumn("_graft_rn", row_number().over(w))
      .withColumn("kept", col("_graft_rn") === 1)
      .drop("_graft_rn")
  }

  /** End-to-end fuzzy dedup with quality-aware retention: near-dup
    * clusters at `threshold`, then keep the best row of each cluster by
    * `quality` (ties → smallest id). Returns (id, cluster_id, kept) once
    * for every input row; a null id is in no cluster and never kept. A
    * small `df` runs as one plan ([[smallArm]]).
    */
  def dedupKeepBest(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, quality: Column, shingleN: Int = 3,
      numHashes: Int = 32, bands: Int = 32): DataFrame =
    smallArm(df, idCol, textCol, threshold, Some(quality), shingleN, numHashes,
      bands, Int.MaxValue).getOrElse {
      val assign = distributedAssignments(df, idCol, textCol, threshold,
        shingleN, numHashes, bands, Int.MaxValue, Some(quality))
      keepBestPerCluster(assign, idCol, "cluster_id", col("_graft_q"))
        .select(col(idCol), col("cluster_id"),
          (col("kept") && col(idCol).isNotNull).as("kept"))
    }
}
