package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Dedup, Sampling, Similarity, TextAnalysis}

/** A staged LLM-data pipeline over seeded corpus shards: quality filter,
  * exact dedup, MinHash-LSH near-dup clustering, embedding near-dup
  * removal, token-budget sampling. Each stage writes parquet and the next
  * reads it back, as production pipelines do. One op is one pass over one
  * shard. No hypertable is involved.
  */
final class Curation(spark: SparkSession, seed: Long, dir: String, val tracer: Tracer)
    extends Workload {
  import Curation._
  import spark.implicits._

  val name = "curation"
  private val shards = (0 until Shards).map(s =>
    Gen.corpus(seed, s, s.toLong * DocsPerShard, DocsPerShard))
  private var root: String = _
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private var lastPass: String = _
  private var candidates, verified = 0.0
  private var lshPasses = 0

  def setup(round: Int): Unit = {
    root = s"$dir/setup-$round"
    shards.zipWithIndex.foreach { case ((docs, _), s) =>
      tracer.span("write", "append")(docs.toSeq.toDF().write.parquet(s"$root/shard-$s"))
    }
  }

  val roundSize = 1
  val nominalOpSeconds = 4.5

  def warmup(): Unit = pass(0, timedOp = false)

  def op(i: Int): Double = pass(i + 1, timedOp = true)

  private def stage(name: String, out: String)(df: => DataFrame): Unit =
    tracer.span(name, s"stage:$name")(df.write.mode("overwrite").parquet(out))

  private def pass(i: Int, timedOp: Boolean): Double = {
    attempted += 1
    val s = i % Shards
    val out = s"$dir/pass-${i % 2}"
    def path(n: Int) = s"$out/s$n"
    val (res, ms) = timedSpan(s"pass_$s") {
      try {
        stage("quality_filter", path(1)) {
          spark.read.parquet(s"$root/shard-$s")
            .withColumn("quality", TextAnalysis.quality_score(col("text")))
            .withColumn("tokens", TextAnalysis.token_count(col("text")))
            .where(col("quality") >= QualityMin)
        }
        stage("exact_dedup", path(2)) {
          Dedup.dropExactDuplicates(spark.read.parquet(path(1)), "text", "id")
        }
        stage("minhash_dedup", path(3)) {
          val d = spark.read.parquet(path(2))
          val kept = Clustering.dedupKeepBest(d, "id", "text", NearThreshold, col("quality"))
            .where(col("kept")).select("id")
          d.join(kept, Seq("id"), "left_semi")
        }
        stage("emb_dedup", path(4)) {
          val d = spark.read.parquet(path(3))
          val dup = Similarity.lshPairs(d, "id", "emb", EmbThreshold)
            .select(col("id_b").as("id")).distinct()
          d.join(dup, Seq("id"), "left_anti")
        }
        stage("token_budget", path(5)) {
          Sampling.tokenBudget(spark.read.parquet(path(4)), "source", "id", "tokens",
            Gen.Sources.map(_ -> BudgetPerSource).toMap)
        }
        None
      } catch { case e: Exception => Some(e) }
    }
    res match {
      case Some(e) => fail(s"pass $i: ${e.getClass.getName}: ${e.getMessage}")
      case None =>
        verify(i, s, (1 to 5).map(path))
        lastPass = out
    }
    if (timedOp) passMs += ms
    if (tracer.recording && tracer.phase == "loop") lshCounts(path(2))
    ms
  }

  /** Stage outputs against what the generator injected. */
  private def verify(i: Int, s: Int, paths: Seq[String]): Unit = {
    val (docs, inj) = shards(s)
    val text = docs.map(d => d.id -> d.text).toMap
    val ids = paths.map(p => spark.read.parquet(p).select("id").as[Long].collect().toSet)
    paths.zip(ids).zipWithIndex.foreach { case ((_, set), k) =>
      tracer.count(s"operators.${StageNames(k)}_rows_out", set.size)
    }
    val Seq(s1, s2, s3, s4, s5) = ids
    val keepExact = s1.groupBy(text).values.map(_.min).toSet
    check(s2 == keepExact, s"pass $i: exact dedup kept ${s2.size} docs, expected ${keepExact.size}")
    def recall(pairs: Seq[(Long, Long)], in: Set[Long], out: Set[Long]): (Int, Int) = {
      val eligible = pairs.filter { case (a, b) => in(a) && in(b) }
      (eligible.count { case (a, b) => !(out(a) && out(b)) }, eligible.size)
    }
    val (nf, nt) = recall(inj.near, s2, s3)
    check(nt > 0 && nf >= MinRecall * nt, s"pass $i: MinHash near-dup recall $nf/$nt < $MinRecall")
    val (ef, et) = recall(inj.embNear, s3, s4)
    check(et > 0 && ef >= MinRecall * et, s"pass $i: embedding near-dup recall $ef/$et < $MinRecall")
    check(s3.subsetOf(s2) && s4.subsetOf(s3) && s5.subsetOf(s4) && s5.nonEmpty,
      s"pass $i: stage outputs are not nested")
    val budgetRows = spark.read.parquet(paths(4)).groupBy("source")
      .agg(sum("tokens").as("t")).as[(String, Long)].collect()
    check(budgetRows.forall(_._2 <= BudgetPerSource),
      s"pass $i: token budget exceeded: ${budgetRows.mkString(",")}")
  }

  /** MinHash-LSH candidates and verified pairs, with the parameters
    * `dedupKeepBest` uses by default.
    */
  private def lshCounts(in: String): Unit = {
    val d = spark.read.parquet(in)
    candidates += Dedup.lshCandidatePairs(d, "id", "text", 3, 32, 32, Int.MaxValue).count()
    verified += Dedup.nearDuplicatePairs(d, "id", "text", NearThreshold, 3, 32, 32,
      Int.MaxValue).count()
    lshPasses += 1
  }

  def workPerSecond: Double = passMs.size * DocsPerShard / (passMs.sum / 1000)

  def storedBytesPerRow: Double = Workload.bytesUnder(lastPass).toDouble / DocsPerShard

  def report: Seq[(String, Double, String)] =
    Seq(("pass_p50_ms", Stats.median(passMs.toSeq), "ms")) ++
      Stats.p90(passMs.toSeq).map(v => ("pass_p90_ms", v, "ms")) ++ Seq(
      ("docs_per_s", workPerSecond, "1/s"),
      ("passes", passMs.size.toDouble, "count"),
      ("stored_bytes_per_row", storedBytesPerRow, "B"))

  override def layerExtras: Map[String, Double] = Map(
    "operators.lsh_candidates" -> (if (lshPasses > 0) candidates / lshPasses else 0.0),
    "operators.lsh_precision" -> (if (candidates > 0) verified / candidates else 0.0))
}

object Curation {
  val Shards = 3
  val DocsPerShard = 800
  val QualityMin = 0.5
  val NearThreshold = 0.8
  val EmbThreshold = 0.95
  val MinRecall = 0.9
  val BudgetPerSource = 3200L
  val StageNames = Seq("quality_filter", "exact_dedup", "minhash_dedup", "emb_dedup",
    "token_budget")
}
