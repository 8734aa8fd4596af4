package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** One closed-loop workload: a single client thread, think time 0.
  *
  * `setup(round)` builds the standing state the loop runs against (timed by
  * [[Main]], repeated for the set-up median; the loop uses the last one).
  * `warmup()` runs untimed ops so JIT and code generation settle. `op(i)`
  * runs one timed operation and returns its latency; checks of its output
  * happen inside `op` but outside the timed region, and a failed check is
  * recorded with [[fail]].
  */
trait Workload {
  def name: String
  def tracer: Tracer
  def setup(round: Int): Unit
  def warmup(): Unit
  def op(i: Int): Double

  /** The loop runs whole rounds of this many ops, so every run has the
    * same mix of op kinds.
    */
  def roundSize: Int

  /** Nominal length of one op on a 4-core machine. `--seconds` is turned
    * into a fixed op count with it, so every run and every commit does the
    * same work and the JIT has compiled the same code when it is measured.
    */
  def nominalOpSeconds: Double

  /** Gated end-to-end metrics besides setup_s and op_p50_ms: work per
    * second and stored bytes per live row.
    */
  def workPerSecond: Double
  def storedBytesPerRow: Double

  /** Every metric of this workload by its own name, for the report. */
  def report: Seq[(String, Double, String)]

  /** Per-layer values only the workload can measure (ratios, counts). */
  def layerExtras: Map[String, Double] = Map.empty

  /** Ops attempted: queries, cycles, sweeps or passes, warm-up included. */
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  private var lastFailedOp = -1L
  private var failedCount = 0L

  /** Ops with at least one failed check or error. */
  def failedOps: Long = failedCount

  def fail(what: String): Unit = {
    failures += what
    if (lastFailedOp != attempted) {
      lastFailedOp = attempted
      failedCount += 1
    }
    System.err.println(s"perfbench: check failed: $what")
  }

  /** Time `body` as one user-visible op, inside an op span. */
  protected def timedSpan[T](op: String)(body: => T): (T, Double) =
    Workload.timed(tracer.span(op, "op")(body))

  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
}

object Workload {

  /** Wall time of `body` in milliseconds, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes under `roots`, every file counted (data, metadata, markers). */
  def bytesUnder(roots: String*): Long = files(roots: _*).values.sum

  /** Every regular file under `roots` with its size. */
  def files(roots: String*): Map[String, Long] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }.toMap

  /** Equal row lists, doubles compared to a relative 1e-9 (sums of the same
    * doubles in another order differ in the last bits).
    */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: java.lang.Double, q: java.lang.Double) =>
            math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
          case (p, q) => p == q
        }
      }
    }
}
