package perfbench

/** Self-tests of the benchmark's own logic; no Spark session needed. */
object SelfTest {

  def run(): Boolean = {
    val failures = Seq(
      "generator is deterministic per seed" -> generatorDeterministic,
      "no p90 from fewer than 100 samples" -> percentileRule,
      "span self time subtracts covered child time once" -> selfTimeArithmetic,
      "every metric name is valid" -> metricNames,
      "--seconds buys whole rounds of at least two ops" -> opCounts,
      "tracing overhead compares recorded ops with their neighbours" -> overhead
    ).collect { case (name, ok) if !ok => name }
    failures.foreach(f => System.err.println(s"selftest FAILED: $f"))
    if (failures.isEmpty) println("selftest ok: 6 checks passed")
    failures.isEmpty
  }

  private def generatorDeterministic: Boolean = {
    def dash(seed: Long) = Gen.dashboard(seed, 3, 2, 300).toSeq
    def batch(seed: Long) = {
      val b = Gen.ingestBatch(seed, 4, Gen.T0, 10, 4, 1500, 0.05,
        Gen.T0 - 3 * Gen.MicrosPerHour, Gen.T0 - 2 * Gen.MicrosPerHour)
      (b.onTime.toSeq, b.late.toSeq)
    }
    def docs(seed: Long) = {
      val (d, inj) = Gen.corpus(seed, 1, 0, 300)
      (d.toSeq.map(x => (x.id, x.source, x.text, x.emb.toSeq)), inj)
    }
    val (d1, inj1) = docs(5)
    dash(5) == dash(5) && dash(5) != dash(6) &&
      batch(5) == batch(5) && batch(5) != batch(6) &&
      docs(5) == docs(5) && docs(5) != docs(6) &&
      d1.size == 300 && inj1.exact.nonEmpty && inj1.near.nonEmpty && inj1.embNear.nonEmpty &&
      // sizes do not depend on the seed
      batch(5)._1.size == batch(6)._1.size &&
      batch(5)._2.size == batch(6)._2.size
  }

  private def percentileRule: Boolean = {
    val xs = (1 to 99).map(_.toDouble)
    Stats.p90(xs).isEmpty &&
      Stats.p90((1 to 100).map(_.toDouble)).exists(v => math.abs(v - 90.1) < 1e-9) &&
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
      Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5 &&
      Stats.percentile(Seq(5.0), 90) == 5.0
  }

  private def selfTimeArithmetic: Boolean =
    Spans.selfTime(0, 100, Nil) == 100 &&
      Spans.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70 &&
      // overlapping children are covered once
      Spans.selfTime(0, 100, Seq((10L, 40L), (20L, 60L))) == 50 &&
      // a child sticking out of the parent counts only inside it
      Spans.selfTime(50, 100, Seq((0L, 60L), (90L, 150L))) == 30 &&
      // nested and adjacent children
      Spans.selfTime(0, 100, Seq((10L, 50L), (20L, 30L), (50L, 60L))) == 50 &&
      Spans.selfTime(0, 100, Seq((0L, 100L))) == 0 &&
      Spans.selfTime(0, 100, Seq((200L, 300L))) == 100

  private def opCounts: Boolean = {
    final class W(val roundSize: Int, val nominalOpSeconds: Double) extends Workload {
      def name = "w"; def tracer: Tracer = null
      def setup(round: Int): Unit = (); def warmup(): Unit = (); def op(i: Int) = 0.0
      def workPerSecond = 0.0; def storedBytesPerRow = 0.0; def report = Nil
    }
    Main.opCount(10, new W(1, 1.6)) == 7 && Main.opCount(10, new W(3, 1.2)) == 9 &&
      Main.opCount(8, new W(3, 1.2)) == 9 && Main.opCount(1, new W(1, 4.5)) == 2 &&
      Main.opCount(0.5, new W(3, 1.0)) == 3
  }

  private def overhead: Boolean =
    // a steady 10 ms drift per op cancels; a 5 ms cost on odd ops remains
    math.abs(Main.traceOverhead(Seq(100.0, 90, 80, 70, 60))) < 1e-9 &&
      math.abs(Main.traceOverhead(Seq(100.0, 95, 80, 75, 60, 55)) - 5) < 1e-9

  private def metricNames: Boolean = {
    val names = (Main.EndToEnd ++ Main.PerLayer).map(_._1)
    names.forall(Stats.validName) && names.distinct.size == names.size &&
      !Stats.validName("bad name") && !Stats.validName(".hidden") &&
      !Stats.validName("x" * 65) && Stats.validName("spark.task_cpu_ms")
  }
}
