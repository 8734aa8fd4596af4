package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Session-bootstrap defaults shared by [[Graft.session]] and
  * [[Graft.toolSession]]: the generated-code cache must hold a repeated
  * working set, so re-running a query compiles nothing.
  */
class SessionDefaultsSpec extends AnyFunSuite {
  lazy val spark = Graft.session("session-defaults-spec", "local[4]", 4)

  private def cap(s: org.apache.spark.sql.SparkSession): Int =
    s.sessionState.conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES)

  test("both session entry points carry graft's codegen cache cap") {
    assert(cap(spark) === Graft.CodegenCacheEntries)
    assert(cap(Graft.toolSession("4")) === Graft.CodegenCacheEntries)
  }

  test("re-running earlier query shapes after 160 others compiles nothing") {
    // each shape's literals are inlined into its whole-stage code, so every
    // shape is a distinct code body: 160 shapes are 320+ cache keys, past
    // Spark's default cap of 100 and inside graft's
    def shape(i: Int): Seq[org.apache.spark.sql.Row] =
      spark.range(8).selectExpr(s"id * $i + ${i % 7} AS a", s"id % ${i + 2} AS b")
        .collect().toSeq
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    val first = (0 until 160).map(shape)
    val c1 = compiles
    // measured window: only the re-runs of the 20 oldest shapes
    val again = (0 until 20).map(shape)
    val c2 = compiles
    assert(c1 - c0 >= 160L, "the shapes must not share code, or the check is vacuous")
    assert(again === first.take(20))
    assert(c2 - c1 === 0L, s"re-runs compiled ${c2 - c1} code bodies")
  }
}
