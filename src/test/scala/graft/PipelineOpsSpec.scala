package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, Sampling, TextAnalysis}

/** Round-3 training-pipeline operators: connected-components dedup
  * clustering, deterministic sampling, normalization, repetition,
  * contamination.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = Graft.session("pipeline-ops-spec", "local[4]", 4)
  import spark.implicits._

  private lazy val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")

  test("connected components labels chains, triangles, and isolated pairs") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (edge)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("a", "b")
    val cc = Clustering.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components handles a long chain (log rounds, not diameter)") {
    // a 200-node path: label propagation would need 200 rounds; star
    // contraction must finish within the default 30
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Clustering.connectedComponents(edges, "a", "b")
    assert(cc.where($"component" =!= 0L).count() === 0)
    assert(cc.count() === 200)
  }

  test("connected components works with string document ids") {
    // a blind cast-to-long would NULL these out and drop every edge
    val edges = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "y")).toDF("a", "b")
    val cc = Clustering.connectedComponents(edges, "a", "b")
      .as[(String, String)].collect().toMap
    assert(cc === Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "x" -> "x", "y" -> "x"))
  }

  test("driver union-find and distributed star-contraction agree on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 120
      val edges = (0 until 220).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.toDF("a", "b")
      val viaDriver = Clustering.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
      val viaLoop = Clustering.connectedComponents(edges, "a", "b",
          driverThreshold = 0)
        .as[(Long, Long)].collect().toMap
      assert(viaDriver === viaLoop, s"trial $trial diverged")
    }
    // string ids through the driver arm too
    val se = Seq(("b", "a"), ("b", "c")).toDF("a", "b")
    assert(Clustering.connectedComponents(se, "a", "b")
      .as[(String, String)].collect().toMap ===
      Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("driver union-find orders string ids by UTF-8 bytes, as the loop does") {
    // UTF-16 puts the surrogate pair of U+1F600 before U+FB01; UTF-8 bytes
    // (Spark's min) put U+FB01 first
    val (hi, emoji) = ("\uFB01", "\uD83D\uDE00")
    val edges = Seq((emoji, hi)).toDF("a", "b")
    val viaDriver = Clustering.connectedComponents(edges, "a", "b")
      .as[(String, String)].collect().toMap
    val viaLoop = Clustering.connectedComponents(edges, "a", "b", driverThreshold = 0)
      .as[(String, String)].collect().toMap
    assert(viaLoop === Map(hi -> hi, emoji -> hi))
    assert(viaDriver === viaLoop)
  }

  test("cluster assignment groups exact+near duplicates, singletons keep own id") {
    val d0 = docs.where($"doc_id" === 0).select($"text").as[String].head()
    val perturbed = d0.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 3) "zzz" else w }.mkString(" ")
    val extra = Seq(
      (90001L, d0, "en", "x", d0.length.toLong),        // exact dup of 0
      (90002L, perturbed, "en", "x", perturbed.length.toLong)) // near dup of 0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val assigned = Clustering.clusterAssignments(
      docs.unionByName(extra), "doc_id", "text", threshold = 0.5)
    val c = assigned.as[(Long, Long)].collect().toMap
    assert(c(90001L) === c(0L) && c(90002L) === c(0L))
    assert(assigned.count() === docs.count() + 2)
    // cluster id is the minimum member id
    assert(c(0L) <= 0L || c(0L) === c.filter(_._2 == c(0L)).keys.min)
  }

  test("stratified sampling is deterministic and exactly n per stratum") {
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "event_type", "value")
    val s1 = Sampling.stratified(ev, Seq("event_type"), "event_id", 5)
    val s2 = Sampling.stratified(ev, Seq("event_type"), "event_id", 5)
    assert(s1.groupBy("event_type").count().where($"count" =!= 5).count() === 0)
    assert(s1.exceptAll(s2).count() === 0 && s2.exceptAll(s1).count() === 0)
    // a different salt draws a different sample
    val s3 = Sampling.stratified(ev, Seq("event_type"), "event_id", 5, salt = "x")
    assert(s3.exceptAll(s1).count() > 0)
  }

  test("stratified sampling plans a WindowGroupLimit (map-side top-n per stratum)") {
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
    val plan = Sampling.stratified(ev, Seq("event_type"), "event_id", 5)
      .queryExecution.executedPlan
    assert(plan.toString.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("contamination plans a broadcast join (corpus side never shuffles grams)") {
    val plan = TextAnalysis.contamination(docs, "doc_id", "text",
        docs.where($"doc_id" % 10 === 0), "text", 3)
      .queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"expected BroadcastHashJoin in:\n$plan")
    assert(!plan.toString.contains("SortMergeJoin"))
  }

  test("bernoulli sampling is deterministic with roughly the right rate") {
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
    val n = ev.count().toDouble
    val kept = Sampling.bernoulli(ev, "event_id", 0.25).count().toDouble
    assert(math.abs(kept / n - 0.25) < 0.05)
    assert(Sampling.bernoulli(ev, "event_id", 0.25).count().toDouble === kept)
  }

  test("quotas keeps per-stratum target counts and drops unlisted strata") {
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
    val q = Sampling.quotas(ev, "event_type", "event_id",
      Map("click" -> 7, "purchase" -> 3))
    val counts = q.groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(counts === Map("click" -> 7L, "purchase" -> 3L))
  }

  test("tokenBudget keeps the hash-order prefix within each budget") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L), (4L, "a", 10L),
      (5L, "b", 100L), (6L, "b", 1L),
      (7L, "c", 5L)
    ).toDF("id", "src", "n")
    val out = Sampling.tokenBudget(docs, "src", "id", "n",
      Map("a" -> 25L, "b" -> 1L, "c" -> 0L))
    val kept = out.select("id").as[Long].collect().toSet
    // src a: first two docs in md5 order fit (10+10 ≤ 25), third crosses;
    // src b: whichever hashes first is 100 or 1 — only a 1-token doc fits
    // a 1-token budget; src c: zero budget keeps nothing
    val keptA = kept.count(id => id <= 4L)
    assert(keptA === 2, s"expected 2 docs from src a, kept $kept")
    assert(!kept.contains(7L))
    assert(out.count() === out.distinct().count())
    // deterministic: same call, same rows
    assert(Sampling.tokenBudget(docs, "src", "id", "n",
      Map("a" -> 25L, "b" -> 1L, "c" -> 0L))
      .select("id").as[Long].collect().toSet === kept)
    // the kept set is a PREFIX of the hash order: every kept doc hashes
    // before every dropped doc of the same stratum (src a)
    val order = docs.where($"src" === "a")
      .orderBy(Sampling.hashKey($"id"), $"id").select("id").as[Long].collect()
    assert(order.take(keptA).toSet === kept.filter(_ <= 4L))
  }

  test("semanticDedup keeps one representative per near-dup closure") {
    import graft.operators.Similarity
    // 0 ≈ 1 ≈ 2 (chain via 1), 3 isolated; 64-dim unit-ish vectors
    def v(x: Double, y: Double) =
      Array(x, y) ++ Array.fill(62)(0.0)
    val emb = Seq(
      (0L, v(1.0, 0.0)), (1L, v(0.9, 0.4359)), (2L, v(0.62, 0.7846)),
      (3L, v(-1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding", 0.85,
        dim = 64)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    // cos(0,1)=0.9, cos(1,2)=0.9 → one component {0,1,2}; cos(0,2)=0.62
    // alone would NOT pair them — the closure must
    assert(out.map(r => (r._1, r._2)).toSeq ===
      Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L)))
    assert(out.filter(_._3).map(_._1).toSeq === Seq(0L, 3L))
  }

  test("normalize_text: NFC + whitespace collapse + lowercase") {
    val rows = Seq(
      "  Hello\t\tWORLD  ",
      "Café du  Monde", // e + combining acute composes to é
      "",
      "   ").toDF("t")
    val out = rows.select(TextAnalysis.normalize_text($"t")).as[String].collect()
    assert(out(0) === "hello world")
    assert(out(1) === "café du monde")
    assert(out(2) === "" && out(3) === "")
  }

  test("repetition_stats counts duplicate bigrams") {
    val r = Seq("a b a b a b", "x y z w").toDF("t")
      .select(TextAnalysis.repetition_stats($"t", 2).as("s"))
      .select($"s.n_grams", $"s.n_distinct", $"s.dup_fraction")
      .as[(Long, Long, Double)].collect()
    assert(r(0) === ((5L, 2L, 0.6)))   // a-b x3, b-a x2
    assert(r(1) === ((3L, 3L, 0.0)))
  }

  test("contamination flags overlap with the benchmark set") {
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "zz yy xx ww"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = TextAnalysis.contamination(corpus, "doc_id", "text", bench, "text", 3)
      .orderBy("doc_id")
      .select("n_shingles", "n_shared", "contaminated_frac")
      .as[(Long, Long, Double)].collect()
    assert(out(0) === ((2L, 2L, 1.0)))  // both 3-grams of doc 1 are in bench
    assert(out(1) === ((2L, 0L, 0.0)))
  }

  test("dsirWeights ranks target-like documents above off-target ones") {
    // target = docs made of "aa bb cc" vocabulary; raw corpus adds docs of
    // "xx yy zz" vocabulary. A held-out target-vocab doc must outscore the
    // off-vocab docs.
    val rows = Seq(
      (1L, "aa bb cc aa bb", true), (2L, "bb cc aa cc", true),
      (3L, "aa cc bb aa", true),
      (10L, "xx yy zz xx", false), (11L, "yy zz xx zz", false),
      (20L, "aa bb cc bb aa", false)) // target-vocab but not in target set
      .toDF("doc_id", "text", "is_tgt")
    val w = Sampling.dsirWeights(rows, "text", col("is_tgt"), buckets = 64)
      .select($"doc_id", $"dsir_weight").as[(Long, Double)].collect().toMap
    assert(w(20L) > w(10L) && w(20L) > w(11L),
      s"target-vocab doc must outscore off-vocab docs: $w")
    assert(w(10L) < 0 && w(11L) < 0, s"off-vocab docs score negative: $w")
    // deterministic across runs
    val w2 = Sampling.dsirWeights(rows, "text", col("is_tgt"), buckets = 64)
      .select($"doc_id", $"dsir_weight").as[(Long, Double)].collect().toMap
    assert(w === w2)
  }

  test("dsirResample returns the k highest-weight docs deterministically") {
    val out = Sampling.dsirResample(docs, "doc_id", "text",
      $"lang" === "en", k = 10)
    val got = out.select("doc_id").as[Long].collect()
    assert(got.length === 10 && got.distinct.length === 10)
    val all = Sampling.dsirWeights(docs, "text", $"lang" === "en")
      .select($"doc_id", $"dsir_weight").as[(Long, Double)].collect()
    val expect = all.sortBy { case (id, w) => (-w, id) }.take(10).map(_._1)
    assert(got.toSeq === expect.toSeq)
    // an English-target ranking enriches English beyond the corpus rate
    val langOf = docs.select($"doc_id", $"lang").as[(Long, String)]
      .collect().toMap
    val corpusRate = langOf.values.count(_ == "en").toDouble / langOf.size
    assert(got.count(id => langOf(id) == "en").toDouble / got.length > corpusRate,
      s"top-k must be enriched for the target language (corpus rate $corpusRate)")
  }

  test("lmTrain/lm_score: target-like docs outscore off-target; short docs null") {
    val rows = Seq(
      (1L, "aa bb aa bb aa bb", true), (2L, "bb aa bb aa", true),
      (10L, "xx yy xx yy xx", false),
      (20L, "aa bb aa bb", false), // target-like, held out
      (30L, "one", false), (31L, "", false)) // < 2 tokens → null
      .toDF("doc_id", "text", "is_tgt")
    val model = TextAnalysis.lmTrain(rows, "text", col("is_tgt"), buckets = 64)
    assert(model.length === 64 * 64)
    val sc = rows.select($"doc_id",
      TextAnalysis.lm_score($"text", model, buckets = 64).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(sc(30L).isEmpty && sc(31L).isEmpty)
    // per-bigram average: the held-out target-like doc beats the off-vocab one
    assert(sc(20L).get / 3 > sc(10L).get / 4,
      s"target-like doc must average higher log-prob: $sc")
    // deterministic
    val model2 = TextAnalysis.lmTrain(rows, "text", col("is_tgt"), buckets = 64)
    assert(model.toSeq === model2.toSeq)
  }

  test("pii scan single-pass expression ≡ chained regexp_replace/count, byte-for-byte") {
    val edge = Seq(
      "", "no pii here", "a@b.cc", "a@b.c", "a@b", "@x.com", "a@@b.cc",
      "a.b@c.dd", "a@b.cc@d.ee", "a@b.ccx@d.ee", "a@b.cc x@d.ee",
      // sequential-replace semantics: the quad glued to the email gains a
      // boundary only AFTER the email pass replaced it
      "a@b.cc1.2.3.4", "user_1@ex-a.co.uk tail",
      "1.2.3.4", "1.2.3.4.5", "1234.5.6.7", "12.34.56.789", "1.2.3.4567",
      "x1.2.3.4", "1.2.3.4x", "_1.2.3.4_", "10.0.0.7.", "..1.2.3.4..",
      "123-45-6789", "123-456-7890", "123-45-6789-123-456-7890",
      "1234-45-6789", "123-45-67890", "x123-45-6789", "123-45-6789y",
      "_123-45-6789", "555-867-5309 and 123-45-6789",
      "call 555-867-5309call", "%+-a@b.cc", "a@-.cc", "a@.cc", "a@c-.dd-",
      "émail@exämple.com", "日本@例.jp", "a@b.cc\n1.2.3.4",
      "123-45-6789@x.cc", // local part eats the ssn; counts still see it
      // Java's \b is Unicode-aware without UNICODE_CHARACTER_CLASS:
      // 'é'/'１'/astral letters suppress boundaries, '€'/emoji do not
      "é10.0.0.7", "10.0.0.7é", "€10.0.0.7€", "１123-45-6789", "123-45-6789１",
      "𝐀555-867-5309", "555-867-5309𝐀", "😀" + "1.2.3.4" + "😀"
    ).zipWithIndex.map { case (t, i) => (20000L + i, t) }
    // fuzz with a PII-heavy alphabet
    val rnd = new scala.util.Random(7)
    val alpha = "ab1@.-_% 9#é１€".toCharArray
    val fuzz = (0 until 300).map { i =>
      val len = rnd.nextInt(40)
      (30000L + i, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val aug = docs.select($"doc_id",
      concat($"text", lit(" contact user"), $"doc_id".cast("string"),
        lit("@example.com from 10.0."), ($"doc_id" % 256).cast("string"),
        lit(".7 ssn 123-45-6789 call 555-867-5309")).as("text"))
    val rows = aug.union(edge.toDF("doc_id", "text"))
      .union(fuzz.toDF("doc_id", "text"))
    val both = rows.select($"text",
      TextAnalysis.redact_pii($"text").as("er"),
      TextAnalysis.redact_pii_columns($"text").as("cr"),
      TextAnalysis.pii_counts($"text").as("ec"),
      TextAnalysis.pii_counts_columns($"text").as("cc"))
    val redactDiff = both.where(!($"er" <=> $"cr"))
    assert(redactDiff.count() === 0,
      s"redaction diverges: ${redactDiff.select("text", "er", "cr").take(3).mkString("; ")}")
    for (k <- TextAnalysis.piiPatterns.map(_._1)) {
      val d = both.where(!(col(s"ec.n_$k") <=> col(s"cc.n_$k")))
      assert(d.count() === 0,
        s"count n_$k diverges: ${d.select("text", s"ec.n_$k", s"cc.n_$k").take(3).mkString("; ")}")
    }
    // subset kinds route through the same scanner
    val sub = rows.select($"text",
      TextAnalysis.redact_pii($"text", Seq("ssn", "ipv4")).as("er"),
      TextAnalysis.redact_pii_columns($"text", Seq("ssn", "ipv4")).as("cr"))
      .where(!($"er" <=> $"cr"))
    assert(sub.count() === 0, s"subset-kind redaction diverges: ${sub.take(3).mkString("; ")}")
  }

  test("gopher_rules single-pass expression ≡ the regex column formulation, bit-for-bit") {
    // fixture docs + adversarial synthetics: empty, whitespace-only,
    // tab-led (kept empty first split field), "..."/"#" runs, overlapping
    // dots, stopwords at edges, digits-only words, surrogate pairs,
    // Kelvin sign (lowers into ASCII 'k'), trailing whitespace
    val edge = Seq("", " ", "\t", "\ta b", "a\t", "... .. ....", "#", "#...#",
      "the the the", "it", "of.", "...the...", "123 456", "a_b the",
      "x" + "😀" + " the y", "Kit is", "dots...here",
      "is it in the a of to and", ". . .", "a  b   c", "w " * 60,
      // Unicode \b word class: these join runs and kill stopword matches
      "éthe theé é the", "１the the１ the",
      "𝐀the the𝐀 the")
      .zipWithIndex.map { case (t, i) => (10000L + i, t) }
    val rows = docs.select($"doc_id", $"text")
      .union(edge.toDF("doc_id", "text"))
    val both = rows.select(
      TextAnalysis.gopher_rules($"text").as("e"),
      TextAnalysis.gopher_rules_columns($"text").as("c"))
    // struct equality in Spark is null-safe and exact on doubles (bitwise
    // via ordering comparison of equal values); compare field-by-field to
    // localize failures
    val fields = Seq("n_words", "mean_word_len", "symbol_ratio", "alpha_frac",
      "n_stopwords", "pass_word_count", "pass_word_length",
      "pass_symbol_ratio", "pass_alpha_frac", "pass_stopwords", "pass_gopher")
    for (f <- fields) {
      val diff = both.where(!(col(s"e.$f") <=> col(s"c.$f")))
      assert(diff.count() === 0, s"field $f diverges: ${diff.take(3).mkString("; ")}")
    }
  }

  test("gopher_rules: canonical pass and each rule's failure mode") {
    val good = (("the quick brown fox jumps over a lazy dog and runs to " * 5) +
      "the end of it all in time it is done now so").trim
    val shortDoc = "too short"
    val symbols = Seq.fill(60)("### ...").mkString(" ")
    val rows = Seq((1L, good), (2L, shortDoc), (3L, symbols))
      .toDF("doc_id", "text")
    val out = rows.select($"doc_id", TextAnalysis.gopher_rules($"text").as("g"))
      .select($"doc_id", $"g.pass_gopher", $"g.pass_word_count",
        $"g.pass_symbol_ratio", $"g.n_words")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1), s"canonical doc must pass: ${out(1L)}")
    assert(!out(2L).getBoolean(1) && !out(2L).getBoolean(2)) // word count
    assert(!out(3L).getBoolean(1) && !out(3L).getBoolean(3)) // symbol ratio
  }

  test("epochOrder: complete cover, dense per-shard ranks, epochs differ") {
    val out = Sampling.epochOrder(docs.select($"doc_id"), "doc_id",
      epoch = 1L, shards = 4)
      .as[(Long, Int, Int)].collect()
    assert(out.length === docs.count())
    assert(out.map(_._2).distinct.sorted.toSeq.forall(s => s >= 0 && s < 4))
    // positions are dense 1..n within each shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length).toSeq)
    }
    // deterministic; a different epoch produces a different order
    val again = Sampling.epochOrder(docs.select($"doc_id"), "doc_id", 1L, 4)
      .as[(Long, Int, Int)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    val e2 = Sampling.epochOrder(docs.select($"doc_id"), "doc_id", 2L, 4)
      .as[(Long, Int, Int)].collect()
    assert(out.sortBy(_._1).map(r => (r._2, r._3)).toSeq !==
      e2.sortBy(_._1).map(r => (r._2, r._3)).toSeq)
  }

  test("keepBestPerCluster keeps exactly the best-quality row per cluster") {
    val assign = Seq(
      (1L, 1L, 10L), (2L, 1L, 30L), (3L, 1L, 30L), // tie at 30 → min id 2
      (7L, 7L, 5L)) // singleton
      .toDF("doc_id", "cluster_id", "quality")
    val out = Clustering.keepBestPerCluster(assign, "doc_id", "cluster_id",
        col("quality"))
      .select($"doc_id", $"kept").as[(Long, Boolean)].collect().toMap
    assert(out === Map(1L -> false, 2L -> true, 3L -> false, 7L -> true))
  }

  test("dedupKeepBest keeps one representative per near-dup cluster") {
    val d0 = docs.where($"doc_id" === 0).select($"text").as[String].head()
    val extra = Seq(
      (90001L, d0 + " tail", "en", "x", (d0.length + 5).toLong)) // near dup, longer
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Clustering.dedupKeepBest(docs.unionByName(extra), "doc_id",
        "text", threshold = 0.5, quality = col("n_chars"))
      .as[(Long, Long, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // 0 and 90001 share a cluster; the longer doc (90001) is kept
    assert(byId(0L)._2 === byId(90001L)._2)
    assert(byId(90001L)._3 && !byId(0L)._3)
    // exactly one kept per cluster, every row labeled
    val perCluster = out.groupBy(_._2).view.mapValues(_.count(_._3)).toMap
    assert(perCluster.values.forall(_ == 1))
    assert(out.length === docs.count() + 1)
  }
}
