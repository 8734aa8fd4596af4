package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed gives the same inputs; sizes do
  * not depend on the seed, so every seed asks the engine for the same
  * amount of work. Times are UTC microseconds.
  */
object Gen {
  val MicrosPerSec = 1000000L
  val MicrosPerMin = 60 * MicrosPerSec
  val MicrosPerHour = 60 * MicrosPerMin
  val MicrosPerDay = 24 * MicrosPerHour
  /** 2024-03-01T00:00:00Z: the start of every generated timeline. */
  val T0 = 1709251200L * MicrosPerSec

  final case class Reading(ts: Long, device: String, value: Double)

  def device(i: Int): String = f"d$i%02d"

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  // ---- dashboard ---------------------------------------------------------

  /** `devices` sensors reporting every `stepSec` seconds for `days` days
    * from [[T0]], each with three 90-minute outages at seeded times, one in
    * each third of the timeline (the gaps gapfill has to fill). Each
    * device's level, daily cycle and sampling offset are fixed; the seed
    * moves the noise and the outages. (Seeded offsets made the stored size
    * bimodal: devices sharing timestamps shrink the time column.)
    */
  def dashboard(seed: Long, devices: Int, days: Int, stepSec: Int): Array[Reading] = {
    val rnd = new SplittableRandom(seed * 1000003L + 17)
    val span = days * MicrosPerDay
    val out = mutable.ArrayBuffer.empty[Reading]
    for (d <- 0 until devices) {
      val outages = (0 until 3).map { k =>
        val s = T0 + k * span / 3 + (rnd.nextDouble() * (span / 3 - 2 * MicrosPerHour)).toLong
        (s, s + 90 * MicrosPerMin)
      }
      val base = 15 + d
      val phase = 2 * math.Pi * d / devices
      val end = T0 + span
      var t = T0 + d * stepSec * MicrosPerSec / devices
      while (t < end) {
        if (!outages.exists { case (a, b) => t >= a && t < b }) {
          val daily = 5 * math.sin(phase + 2 * math.Pi * (t - T0) / MicrosPerDay)
          out += Reading(t, device(d), round2(base + daily + rnd.nextGaussian()))
        }
        t += stepSec * MicrosPerSec
      }
    }
    out.toArray
  }

  // ---- ingest ------------------------------------------------------------

  /** One ingest batch: `minutes` minutes of on-time readings from `start`,
    * plus `lateShare` of that count as late rows spread uniformly over
    * [lateLo, lateHi).
    */
  final case class Batch(onTime: Array[Reading], late: Array[Reading]) {
    def rows: Array[Reading] = onTime ++ late
  }

  def ingestBatch(seed: Long, index: Long, start: Long, minutes: Int,
      devices: Int, stepMs: Int, lateShare: Double,
      lateLo: Long, lateHi: Long): Batch = {
    val rnd = new SplittableRandom(seed * 7919L + index * 104729L + 3)
    val end = start + minutes * MicrosPerMin
    val stepUs = stepMs * 1000L
    val onTime = mutable.ArrayBuffer.empty[Reading]
    for (d <- 0 until devices) {
      var t = start + rnd.nextInt(stepMs) * 1000L
      while (t < end) {
        onTime += Reading(t, device(d), round2(20 + 5 * rnd.nextGaussian()))
        t += stepUs
      }
    }
    val nLate = if (lateHi > lateLo) math.round(onTime.size * lateShare).toInt else 0
    val late = Array.fill(nLate) {
      Reading(lateLo + (rnd.nextDouble() * (lateHi - lateLo)).toLong,
        device(rnd.nextInt(devices)), round2(20 + 5 * rnd.nextGaussian()))
    }
    Batch(onTime.toArray, late)
  }

  // ---- curation ----------------------------------------------------------

  final case class Doc(id: Long, source: String, text: String, emb: Array[Double])

  /** What the corpus generator injected: (original, copy) id pairs. */
  final case class Injected(exact: Seq[(Long, Long)], near: Seq[(Long, Long)],
      embNear: Seq[(Long, Long)])

  val Sources = Seq("web", "books", "code", "wiki")
  val EmbDim = 64
  private val Stopwords = Seq("the", "and", "of", "to", "is", "in", "that", "it",
    "for", "on", "with", "as", "was", "by")

  /** A shard of `n` documents of 30–49 words with ids from `firstId`: ~10 %
    * junk (low quality), 5 % exact copies, 5 % near copies (one word
    * replaced, shingle Jaccard ≥ 0.8) and 5 % embedding near-copies
    * (cosine ≥ 0.98) of earlier documents of the same shard.
    */
  def corpus(seed: Long, shard: Int, firstId: Long, n: Int): (Array[Doc], Injected) = {
    val rnd = new SplittableRandom(seed * 31337L + shard * 65537L + 11)
    val vocab = Array.tabulate(3000) { i =>
      val r = new SplittableRandom(seed * 131L + i)
      new String(Array.fill(6)(('a' + r.nextInt(26)).toChar))
    }
    def word(): String =
      if (rnd.nextInt(4) == 0) Stopwords(rnd.nextInt(Stopwords.size))
      else vocab(math.min(vocab.length - 1, (math.abs(rnd.nextGaussian()) * 600).toInt))
    def text(): String = Seq.fill(30 + rnd.nextInt(20))(word()).mkString(" ")
    def junk(): String = Seq.fill(8 + rnd.nextInt(8)) {
      new String(Array.fill(2 + rnd.nextInt(4))("#$%&*!?@"(rnd.nextInt(8))))
    }.mkString(" ")
    def unitVec(): Array[Double] = {
      val v = Array.fill(EmbDim)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val docs = mutable.ArrayBuffer.empty[Doc]
    val plain = mutable.ArrayBuffer.empty[Int]
    val exact, near, embNear = mutable.ArrayBuffer.empty[(Long, Long)]
    // fixed counts of each kind in a seeded order; the first 20 documents
    // are plain, so every copy has an original to copy
    val kinds = {
      val tail = Array.tabulate(n - 20)(i => i % 20)
      for (i <- tail.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = tail(i); tail(i) = tail(j); tail(j) = t
      }
      Array.fill(20)(0) ++ tail
    }
    for (i <- 0 until n) {
      val id = firstId + i
      val src = Sources(i % Sources.size)
      val kind = kinds(i)
      // copies are made of earlier plain documents only, never of copies, so
      // every duplicate cluster is a star and its size does not depend on
      // the seed
      def original(): Doc = docs(plain(rnd.nextInt(plain.size)))
      val doc = kind match {
        case 1 | 2 => Doc(id, src, junk(), unitVec())
        case 3 =>
          val o = original(); exact += ((o.id, id)); Doc(id, src, o.text, unitVec())
        case 4 =>
          val o = original()
          val ws = o.text.split(" ")
          ws(rnd.nextInt(ws.length)) = "zq" + vocab(rnd.nextInt(vocab.length))
          near += ((o.id, id)); Doc(id, src, ws.mkString(" "), unitVec())
        case 5 =>
          val o = original()
          val v = o.emb.map(_ + 0.01 * rnd.nextGaussian())
          val nrm = math.sqrt(v.map(x => x * x).sum)
          embNear += ((o.id, id)); Doc(id, src, text(), v.map(_ / nrm))
        case _ => plain += i; Doc(id, src, text(), unitVec())
      }
      docs += doc
    }
    (docs.toArray, Injected(exact.toSeq, near.toSeq, embNear.toSeq))
  }
}
