package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, Row}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Clustering
import graft.plans.SmallDedup

/** The small-input arm of near-duplicate clustering (one plan, one
  * [[graft.plans.SmallDedupExec]] task) against the distributed arm over
  * the same rows. An RDD-backed copy of a frame has no size estimate, so
  * it takes the distributed arm; the local frame takes the small one.
  */
class SmallDedupSpec extends AnyFunSuite {
  lazy val spark = Graft.session("small-dedup-spec", "local[4]", 4)
  import spark.implicits._

  private val Seeds = Seq(1, 2, 3)

  /** A seeded corpus: 40-word random documents, one with three exact
    * copies and three with one, five with a near copy (two words changed),
    * and last a chain a≈b≈c (a is the tenth document) whose ends are not
    * near each other; qualities have ties and nulls.
    */
  private def corpus(seed: Int): Seq[(Long, String, Option[Int])] = {
    val rnd = new Random(seed)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(500)}")
    def edit(ws: Seq[String], at: Seq[Int]) =
      ws.zipWithIndex.map { case (w, i) => if (at.contains(i)) s"x${rnd.nextInt(500)}" else w }
    val base = Seq.fill(30)(words(40))
    val copies = base.take(4) ++ Seq(base(0), base(0))
    val near = base.slice(4, 9).map(ws => edit(ws, Seq(rnd.nextInt(40), rnd.nextInt(40))))
    // 3-gram Jaccard: a≈b 28/48, b≈c 28/48, a≉c 18/58 at threshold 0.5
    val a = base(9)
    val b = edit(a, 0 until 10)
    val c = edit(b, 30 until 40)
    val texts = base ++ copies ++ near ++ Seq(b, c)
    val ids = rnd.shuffle(texts.indices.map(i => 100L + 7 * i))
    texts.zip(ids).map { case (ws, id) =>
      (id, ws.mkString(" "), if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3)))
    }
  }

  private def frame(rows: Seq[(Long, String, Option[Int])]): DataFrame =
    rows.toDF("id", "text", "quality")

  /** The same rows with no size estimate: the distributed arm. */
  private def unsized(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  private def small(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("SmallDedup")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def sameBothArms(df: DataFrame, maxBucketSize: Int = Int.MaxValue): Unit = {
    val keep = (d: DataFrame) => Clustering.dedupKeepBest(d, "id", "text", 0.5, col("quality"))
    val assign = (d: DataFrame) =>
      Clustering.clusterAssignments(d, "id", "text", 0.5, maxBucketSize = maxBucketSize)
    for (op <- Seq(keep, assign)) {
      val (s, d) = (op(df), op(unsized(df)))
      assert(small(s) && !small(d))
      assert(rows(s) === rows(d))
    }
  }

  test("small and distributed arms agree: exact copies, near copies, ties and null quality") {
    Seeds.foreach(seed => sameBothArms(frame(corpus(seed))))
  }

  test("small and distributed arms agree on string ids") {
    Seeds.foreach { seed =>
      sameBothArms(frame(corpus(seed)).withColumn("id", concat(lit("doc-"), $"id")))
    }
  }

  test("a chain a≈b≈c is one cluster although a and c are not near") {
    Seeds.foreach { seed =>
      val in = corpus(seed)
      val Seq(a, b, c) = Seq(9, in.size - 2, in.size - 1).map(in(_)._1)
      val cluster = Clustering.clusterAssignments(frame(in), "id", "text", 0.5)
        .as[(Long, Long)].collect().toMap
      assert(cluster(a) === Seq(a, b, c).min && cluster(b) === cluster(a) &&
        cluster(c) === cluster(a))
      val ac = Clustering.clusterAssignments(frame(in.filter(r => r._1 != b)),
        "id", "text", 0.5).as[(Long, Long)].collect().toMap
      assert(ac(a) != ac(c), "a and c alone must not be near duplicates")
    }
  }

  test("a capped bucket yields no pairs in either arm") {
    Seeds.foreach { seed =>
      // a text held 4 times fills every one of its buckets past a cap of
      // 3; a text held twice still pairs
      val in = corpus(seed)
      val df = frame(in)
      sameBothArms(df, maxBucketSize = 3)
      val cluster = Clustering.clusterAssignments(df, "id", "text", 0.5, maxBucketSize = 3)
        .as[(Long, Long)].collect().toMap
      val held = in.groupBy(_._2).values.map(_.map(_._1))
      val (four, two) = (held.filter(_.size == 4), held.filter(_.size == 2))
      assert(four.size == 1 && four.flatten.forall(id => cluster(id) == id))
      assert(two.size == 3 && two.forall(ids => ids.forall(cluster(_) == ids.min)))
    }
  }

  test("a repeated id and a null id come out as the distributed arm gives them") {
    val in = corpus(1)
    val df = frame(in :+ in.head.copy(_3 = Some(9))).union(
      Seq((None: Option[Long], "w1 w2 w3", Some(1))).toDF("id", "text", "quality"))
    sameBothArms(df)
    // one output row per input row: the id given twice comes out twice
    for (d <- Seq(df, unsized(df))) {
      val out = Clustering.dedupKeepBest(d, "id", "text", 0.5, col("quality"))
      assert(out.count() === df.count())
      assert(out.where(col("id") === in.head._1).count() === 2)
      assert(out.where(col("id").isNull).collect().map(_.getBoolean(2)).toSeq === Seq(false))
    }
  }

  /** Rows of `df` and the Spark jobs building and collecting it launched. */
  private def run(df: => DataFrame): (Array[Row], Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftShims.waitForListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = df.collect()
      GraftShims.waitForListeners(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("dedupKeepBest on a small input is lazy and three jobs: spread, gather, the task") {
    val df = frame(corpus(1))
    val (out, jobs) = run(Clustering.dedupKeepBest(df, "id", "text", 0.5, col("quality")))
    assert(out.length === df.count())
    assert(jobs === 3)
  }

  test("EXPLAIN shows the small arm's decision") {
    val df = frame(corpus(1))
    val est = Sizing.estimate(df).get
    val qe = Clustering.dedupKeepBest(df, "id", "text", 0.5, col("quality")).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains(s"SmallDedup [${SmallDedup.show(est)} est ≤ 8 MB split]"), plan)
    val formatted = qe.explainString(FormattedMode)
    assert(formatted.contains(s"Input: $est B estimated") &&
      formatted.contains("Limit: ≤ 8388608 B"), formatted)
  }

  test("a self-join of the small arm's output resolves") {
    val k = Clustering.dedupKeepBest(frame(corpus(1)), "id", "text", 0.5, col("quality"))
    val pairs = k.as("a").join(k.as("b"), $"a.cluster_id" === $"b.cluster_id" &&
      $"a.id" < $"b.id").count()
    val byCluster = k.groupBy("cluster_id").count().as[(Long, Long)].collect()
    assert(pairs === byCluster.map { case (_, n) => n * (n - 1) / 2 }.sum)
  }

  test("an input of unknown size plans the distributed arm") {
    val df = unsized(frame(corpus(1)))
    assert(Sizing.estimate(df).isEmpty)
    val plan = Clustering.dedupKeepBest(df, "id", "text", 0.5, col("quality"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SmallDedup") && plan.contains("Window"), plan)
  }

  test("an input above one scan split plans the distributed arm") {
    val df = frame(corpus(1))
    val est = Sizing.estimate(df).get
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (est - 1).toString)
    try assert(!small(Clustering.dedupKeepBest(df, "id", "text", 0.5, col("quality"))))
    finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert(small(Clustering.dedupKeepBest(df, "id", "text", 0.5, col("quality"))))
  }
}
