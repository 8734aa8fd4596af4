package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, Descending, GenericInternalRow, InterpretedOrdering, NullsLast, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._

import graft.expressions.JaccardSortedLongs
import graft.operators.Clustering.MinIdUnionFind

/** Near-duplicate clustering of a small corpus as ONE plan node — the
  * small-input arm of [[graft.operators.Clustering.clusterAssignments]]
  * and [[graft.operators.Clustering.dedupKeepBest]]. Its child yields, per
  * document, the id, the quality (keep-best only), the LSH band buckets
  * and the sorted shingle hashes; the node runs as one task over all of
  * them: capped (band, bucket) groups → candidate pairs → Jaccard verify →
  * min-id union-find → keep the best row per cluster. A driver loop of
  * checkpoints, collects and broadcast joins becomes one stage.
  *
  * `estimate` and `split` are the input's plan estimate and the scan split
  * it was gated on, printed by EXPLAIN as the decision.
  */
case class SmallDedup(docId: Attribute, quality: Option[Attribute],
    buckets: Attribute, shingles: Attribute, threshold: Double,
    maxBucketSize: Int, estimate: BigInt, split: Long,
    output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // a self-join of the result gives one side fresh output attributes
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(c: LogicalPlan): SmallDedup =
    copy(child = c)
}

/** Executes [[SmallDedup]] in one task: the child is gathered into a
  * single partition ([[AllTuples]]), the input the gate bounded by one
  * scan split.
  */
case class SmallDedupExec(docId: Attribute, quality: Option[Attribute],
    buckets: Attribute, shingles: Attribute, threshold: Double,
    maxBucketSize: Int, estimate: BigInt, split: Long,
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  override def nodeName: String = "SmallDedup"
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = SinglePartition

  override protected def doExecute(): RDD[InternalRow] = {
    def ordinal(a: Attribute) = child.output.indexWhere(_.exprId == a.exprId)
    val run = SmallDedup.Run(ordinal(docId), docId.dataType, quality.map(q => (ordinal(q), q.dataType)),
      ordinal(buckets), ordinal(shingles), threshold, maxBucketSize,
      output.map(_.dataType))
    child.execute().mapPartitions(run(_))
  }

  private def decision: String =
    s"${SmallDedup.show(estimate)} est ≤ ${SmallDedup.show(BigInt(split))} split"

  override def simpleString(maxFields: Int): String = s"$nodeName [$decision]"

  override def verboseStringWithOperatorId(): String =
    s"""$formattedNodeName
       |Input: $estimate B estimated
       |Limit: ≤ $split B (spark.sql.files.maxPartitionBytes, one scan split)
       |""".stripMargin

  override protected def withNewChildInternal(c: SparkPlan): SmallDedupExec =
    copy(child = c)
}

object SmallDedup {

  /** `b` bytes in the largest unit that keeps a whole number above 0. */
  private[graft] def show(b: BigInt): String =
    if (b < 1024) s"$b B"
    else if (b < 1024 * 1024) s"${(b + 512) / 1024} KB"
    else s"${(b + 512 * 1024) / (1024 * 1024)} MB"

  /** One document: its id as output, its union-find key (a long for
    * integral ids, the string itself otherwise) and its quality.
    */
  private final case class Doc(id: Any, key: Any, quality: Any)

  /** The single task's work. Every step reproduces the distributed arm
    * (`Dedup.nearDuplicatePairs` → `connectedComponents` →
    * `keepBestPerCluster`) exactly:
    *  - a bucket admits pairs when it holds 2 to `maxBucketSize` distinct
    *    ids; it stops collecting at `maxBucketSize + 1`;
    *  - a pair is an edge when any shingle set of one id and any of the
    *    other reach `threshold` under `JaccardSortedLongs` (an id repeated
    *    in the input is every one of its rows, as the id join makes it). A
    *    pair already in one cluster is not verified: its edge could not
    *    change the clusters;
    *  - the cluster is the smallest reachable id;
    *  - keep-best ranks by quality descending, nulls last, then id.
    *  - every row is emitted once; a null id has a null cluster and is
    *    never kept.
    */
  private[graft] final case class Run(idOrd: Int, idType: DataType,
      quality: Option[(Int, DataType)], bucketsOrd: Int, shinglesOrd: Int,
      threshold: Double, maxBucketSize: Int, outTypes: Seq[DataType]) {

    private def key(r: InternalRow): Any = idType match {
      case StringType => r.getUTF8String(idOrd).clone()
      case ByteType => r.getByte(idOrd).toLong
      case ShortType => r.getShort(idOrd).toLong
      case IntegerType => r.getInt(idOrd).toLong
      case LongType => r.getLong(idOrd)
      case other => throw new IllegalArgumentException(s"SmallDedup: id type $other")
    }

    def apply(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
      val docs = mutable.ArrayBuffer.empty[Doc]
      var nullIds = 0
      val shingleSets = new java.util.HashMap[Any, List[ArrayData]]()
      // (band, bucket) → its distinct ids, at most maxBucketSize + 1
      val groups = new java.util.HashMap[Long, mutable.HashSet[Any]]()
      rows.foreach { r =>
        if (r.isNullAt(idOrd)) nullIds += 1
        else {
          val k = key(r)
          docs += Doc(InternalRow.copyValue(r.get(idOrd, idType)), k,
            quality.map { case (o, t) => InternalRow.copyValue(r.get(o, t)) }.orNull)
          val sh = if (r.isNullAt(shinglesOrd)) null else r.getArray(shinglesOrd).copy()
          shingleSets.put(k, sh :: shingleSets.getOrDefault(k, Nil))
          val bs = r.getArray(bucketsOrd)
          var band = 0
          while (band < bs.numElements()) {
            val g = groups.computeIfAbsent((band.toLong << 32) | (bs.getInt(band) & 0xffffffffL),
              _ => mutable.HashSet.empty[Any])
            if (g.size <= maxBucketSize) g += k
            band += 1
          }
        }
      }

      val uf = new MinIdUnionFind
      val checked = mutable.HashSet.empty[(Any, Any)]
      def similar(a: Any, b: Any): Boolean =
        shingleSets.get(a).exists(sa => sa != null && shingleSets.get(b).exists { sb =>
          sb != null && (JaccardSortedLongs.compute(sa, sb) match {
            case j: java.lang.Double => j >= threshold
            case _ => false
          })
        })
      groups.values.forEach { g =>
        if (g.size >= 2 && g.size <= maxBucketSize) {
          val ids = g.toArray
          var i = 0
          while (i < ids.length) {
            var j = i + 1
            while (j < ids.length) {
              val (a, b) = (ids(i), ids(j))
              if (uf.find(a) != uf.find(b) &&
                  checked.add(if (MinIdUnionFind.less(a, b)) (a, b) else (b, a)) &&
                  similar(a, b))
                uf.union(a, b)
              j += 1
            }
            i += 1
          }
        }
      }

      val toUnsafe = UnsafeProjection.create(outTypes.toArray)
      def row(values: Any*): InternalRow = toUnsafe(new GenericInternalRow(values.toArray))
      quality match {
        case None =>
          docs.iterator.map(d => row(d.id, uf.find(d.key))) ++
            Iterator.fill(nullIds)(row(null, null))
        case Some((_, qType)) =>
          val rank = new InterpretedOrdering(Seq(
            SortOrder(BoundReference(0, qType, nullable = true), Descending, NullsLast, Seq.empty),
            SortOrder(BoundReference(1, if (idType == StringType) StringType else LongType,
              nullable = false), Ascending)))
          def better(a: Doc, b: Doc) = rank.compare(
            new GenericInternalRow(Array(a.quality, a.key)),
            new GenericInternalRow(Array(b.quality, b.key))) < 0
          val best = mutable.HashMap.empty[Any, Doc]
          docs.foreach { d =>
            val c = uf.find(d.key)
            if (best.get(c).forall(better(d, _))) best(c) = d
          }
          docs.iterator.map { d =>
            val c = uf.find(d.key)
            row(d.id, c, best(c) eq d)
          } ++ Iterator.fill(nullIds)(row(null, null, false))
      }
    }
  }
}
