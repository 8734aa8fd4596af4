package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

class TrainingOpsSpec extends AnyFunSuite {
  lazy val spark = Graft.session("training-ops-spec", "local[4]", 4)
  import spark.implicits._

  private lazy val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")

  test("exact dedup finds injected duplicates") {
    val dup = docs.limit(3).withColumn("doc_id", col("doc_id") + 100000)
    val withDups = docs.unionByName(dup)
    val groups = Dedup.exactGroups(withDups, "text", "doc_id")
    assert(groups.where($"n" === 2).count() === 3)
    val kept = Dedup.dropExactDuplicates(withDups, "text", "doc_id")
    assert(kept.count() === docs.count())
    // lowest id survives
    assert(kept.where($"doc_id" >= 100000).count() === 0)
  }

  test("minhash+LSH near-dup pipeline finds a perturbed copy") {
    // perturb one word of doc 0 — jaccard stays high
    val d0 = docs.where($"doc_id" === 0).select($"text").as[String].head()
    val perturbed = d0.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 3) "zzz" else w }.mkString(" ")
    val withNear = docs.unionByName(Seq((99999L, perturbed, "en", "x", perturbed.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val pairs = Dedup.nearDuplicatePairs(withNear, "doc_id", "text",
      threshold = 0.5, shingleN = 3, numHashes = 32, bands = 16)
    val hit = pairs.where($"doc_id_a" === 0 && $"doc_id_b" === 99999)
    assert(hit.count() === 1)
    assert(hit.select($"jaccard").as[Double].head() > 0.5)
    // every emitted pair really is above the threshold (exact verify stage)
    assert(pairs.where($"jaccard" < 0.5).count() === 0)
  }

  test("hashed shingle sets reproduce string-set jaccard exactly") {
    // all fixture-doc pairs within a window + adversarial synthetics:
    // repeats (distinct must collapse), short docs (truncated gram),
    // disjoint, identical, single-token
    val edge = Seq((9001L, "a b c a b c a b c"), (9002L, "a b c"), (9003L, "x"),
      (9004L, "a"), (9005L, "p q r s t u"), (9006L, "p q r s t zzz"),
      (9007L, "the the the the"), (9008L, ""))
      .toDF("doc_id", "text")
    val rows = docs.select($"doc_id", $"text").union(edge)
    for (n <- Seq(1, 3)) {
      val sets = rows.select($"doc_id",
        Dedup.shingles($"text", n).as("ss"),
        Dedup.shingleHashes($"text", n).as("hs"))
      // distinct cardinalities agree (no within-doc collisions)
      val card = sets.where(size(array_distinct($"ss")) =!= size($"hs"))
      assert(card.count() === 0, s"n=$n cardinality diverges: ${card.take(3).mkString}")
      val a = sets.select($"doc_id".as("ida"), $"ss".as("ssa"), $"hs".as("hsa"))
      val b = sets.select($"doc_id".as("idb"), $"ss".as("ssb"), $"hs".as("hsb"))
      val pairs = a.join(b, $"ida" < $"idb" &&
        ($"idb" - $"ida") < 8) // banded window keeps it O(n), not n²
      val diff = pairs.select(
          Dedup.jaccard($"ssa", $"ssb").as("js"),
          Dedup.jaccardHashed($"hsa", $"hsb").as("jh"))
        .where(!($"js" <=> $"jh"))
      assert(diff.count() === 0, s"n=$n jaccard diverges: ${diff.take(3).mkString}")
    }
  }

  test("minhash estimate approximates exact jaccard") {
    val sh = Dedup.shingles(lit("a b c d e f g h i j"), 2)
    val sh2 = Dedup.shingles(lit("a b c d e f g h i zzz"), 2)
    val est = spark.range(1).select(
      Dedup.minhashEstimate(
        Dedup.minhashSignature(sh, 64), Dedup.minhashSignature(sh2, 64)).as("est"),
      Dedup.jaccard(sh, sh2).as("exact")).head()
    assert(math.abs(est.getDouble(0) - est.getDouble(1)) < 0.25)
  }

  test("simhash: identical texts collide, perturbed texts stay close") {
    val d0 = docs.where($"doc_id" === 0).select($"text").as[String].head()
    val perturbed = d0.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 2) "qqq" else w }.mkString(" ")
    val df = Seq((1L, d0), (2L, d0), (3L, perturbed)).toDF("id", "text")
      .select($"id", Dedup.simhash64($"text").as("sig"))
    val sigs = df.orderBy("id").select($"sig").as[Long].collect()
    assert(sigs(0) === sigs(1))
    val ham = spark.range(1).select(
      Dedup.hamming64(lit(sigs(0)), lit(sigs(2)))).as[Long].head()
    assert(ham <= 16, s"perturbation moved $ham bits")
  }

  test("simhash banded candidates find the near pair") {
    val d0 = docs.where($"doc_id" === 0).select($"text").as[String].head()
    val perturbed = d0.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 2) "qqq" else w }.mkString(" ")
    val withNear = docs.unionByName(Seq((99999L, perturbed, "en", "x", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val pairs = Dedup.simhashCandidatePairs(withNear, "doc_id", "text", maxHamming = 16)
    assert(pairs.where($"doc_id_a" === 0 && $"doc_id_b" === 99999).count() === 1)
  }

  test("ANN top-k finds planted near neighbors") {
    // random synthetic embeddings have no meaningful neighbors, so plant
    // some: 5 small perturbations of the query vector must dominate the
    // top-k and survive the LSH bucketing.
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.where($"vec_id" === 1)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val planted = (1 to 5).map { i =>
      (10000L + i, q.zipWithIndex.map { case (x, j) =>
        (x + (if (j % 5 == i % 5) 0.02 * i else 0.0)).toFloat }.toArray)
    }
    val withPlanted = emb.select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .unionByName(planted.toDF("vec_id", "embedding"))
    val ann = Similarity.annTopK(withPlanted, "vec_id", "embedding", q, 6,
      numPlanes = 12, maxFlips = 3)
      .select($"vec_id").as[Long].collect().toSet
    assert(ann.contains(1L)) // the query vector itself is its own nearest
    val found = ann.count(_ > 10000L)
    assert(found >= 4, s"recall too low: $found/5 planted neighbors in top-6")
  }

  test("q98 probe config: 4-table radius-7 indexed ANN ≡ brute force on the corpora") {
    // Pins the exact-by-construction claim behind q98's DuckDB oracle: the
    // multi-probe candidate union must cover the true top-10 on the real
    // testdata (measured required radii: 5 at sf0.01, 6 at sf0.001/sf0.1 —
    // radius 7 leaves ≥1 bit of slack on each).
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val emb = Tables.table(spark, s"/root/testdata/$sf", "embeddings")
      val q = emb.where($"vec_id" === 0)
        .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
      val indexed = Similarity.annIndex(emb, "embedding", dim = 64, numTables = 4)
      val got = Similarity.annTopKIndexed(indexed, "vec_id", "embedding",
        q, 10, numPlanes = 12, maxFlips = 7, numTables = 4)
        .select($"vec_id").as[Long].collect().toSeq
      val want = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .select($"vec_id").as[Long].collect().toSeq
      assert(got === want, s"$sf: indexed probe missed true top-10 members")
    }
  }

  test("text analysis basics") {
    val r = spark.range(1).select(
      TextAnalysis.token_count(lit("  the cat  sat ")).as("t"),
      TextAnalysis.subword_count(lit("don't stop 123")).as("p"),
      TextAnalysis.lang_id(lit("the cat and the dog is here")).as("l"),
      TextAnalysis.lang_id(lit("xyzzy qwerty")).as("u")).head()
    assert(r.getInt(0) === 3)
    assert(r.getInt(1) === 5) // don | ' | t | stop | 123
    assert(r.getString(2) === "en")
    assert(r.getString(3) === "und")
  }

  test("IVF top-k: full-probe equals brute force; partial probe keeps high recall") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.where(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // probing every cluster is an exact (if partitioned) scan
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10,
      nlist = 8, nprobe = 8).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(full === brute)
    // partial probe: the query's own cluster is probed, so the query vector
    // itself (cosine 1) is always found; most of the top-10 survives
    val part = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10,
      nlist = 8, nprobe = 4).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(part.contains(7L))
    assert((part & brute).size >= 5, s"IVF recall too low: ${(part & brute).size}/10")
  }

  test("trainer sampling: maxTrainRows below the corpus still yields " +
    "deterministic, usable centroids (the 100 TB default path)") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val n = emb.count()
    assert(n > 64, "corpus too small to exercise sampling")
    // the sample is hash-thresholded on the id: same ids → same sample →
    // bitwise-identical training, regardless of partition layout
    val a = Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist = 4,
      maxTrainRows = 64)
    val b = Similarity.ivfCentroids(emb.repartition(7), "vec_id", "embedding",
      nlist = 4, maxTrainRows = 64)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // sampled centroids still quantize: full-probe IVF over them stays a
    // partitioned exact scan (every cluster probed)
    val q = emb.where(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val assigned = emb.withColumn("_c", Similarity.nearestCentroid(
      col("embedding"), a))
    val full = (0 until 4).flatMap { c =>
      Similarity.bruteForceTopK(assigned.where(col("_c") === c),
        "vec_id", "embedding", q, 5).collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")),
          r.getDouble(r.fieldIndex("sim"))))
    }.sortBy(-_._2).take(5).map(_._1).toSet
    assert(full === brute)
    // pq codebooks sample the same way and stay deterministic
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val ca = Similarity.pqCodebooks(emb, "vec_id", "embedding", dim,
      m = 4, codebookSize = 4, maxTrainRows = 64)
    val cb = Similarity.pqCodebooks(emb.repartition(5), "vec_id", "embedding",
      dim, m = 4, codebookSize = 4, maxTrainRows = 64)
    assert(ca.map(_.map(_.toSeq).toSeq).toSeq === cb.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("knnJoin: per-query results equal bruteForceTopK; plan keeps the " +
      "top-k below the exchange (window group limit)") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.where($"vec_id" < 5)
    val corpus = emb.where($"vec_id" >= 5)
    val knn = Similarity.knnJoin(queries, corpus, "vec_id", "embedding",
      "vec_id", k = 10)
    // window-group-limit: each task forwards at most k rows per query
    // BEFORE the shuffle — the mark of a scale-safe batch top-k
    val phys = knn.queryExecution.executedPlan.toString
    assert(phys.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in the physical plan:\n$phys")
    val got = knn.select($"query_id", $"vec_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 5L).foreach { qid =>
      val q = emb.where($"vec_id" === qid)
        .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
      val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
        .select("vec_id").as[Long].collect().toSet
      assert(got(qid) === brute, s"query $qid mismatch")
    }
  }

  test("knnJoinIvf: full probe equals exact knnJoin; partial probe keeps " +
      "high recall") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.where($"vec_id" < 5)
    val corpus = emb.where($"vec_id" >= 5)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"vec_id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(Similarity.knnJoin(queries, corpus, "vec_id",
      "embedding", "vec_id", k = 10))
    val full = sets(Similarity.knnJoinIvf(queries, corpus, "vec_id",
      "embedding", "vec_id", k = 10, nlist = 8, nprobe = 8))
    assert(full === exact)
    val part = sets(Similarity.knnJoinIvf(queries, corpus, "vec_id",
      "embedding", "vec_id", k = 10, nlist = 8, nprobe = 4))
    val recall = (0L until 5L).map(q => (part(q) & exact(q)).size).sum / 50.0
    assert(recall >= 0.5, s"IVF knn-join recall too low: $recall")
  }

  test("lshCandidatePairs rejects band counts that do not divide the hash count") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    // bands > numHashes would slice empty bands: every doc in one bucket
    intercept[IllegalArgumentException] {
      Dedup.lshCandidatePairs(docs, "doc_id", "text", numHashes = 32, bands = 48)
    }
    // a non-dividing count would silently ignore trailing hashes
    intercept[IllegalArgumentException] {
      Dedup.lshCandidatePairs(docs, "doc_id", "text", numHashes = 32, bands = 5)
    }
  }

  test("lshCandidatePairs: an id repeated in the input yields no self-pair") {
    val base = docs.where($"doc_id" < 50)
    val twice = base.unionByName(base.where($"doc_id" === 0))
    val pairs = Dedup.lshCandidatePairs(twice, "doc_id", "text")
    assert(pairs.where($"doc_id_a" === $"doc_id_b").isEmpty,
      "a duplicated id must not pair with itself")
    assert(pairs.collect().toSet ===
      Dedup.lshCandidatePairs(base, "doc_id", "text").collect().toSet)
  }

  test("lshCandidatePairs: a bucket one over the cap yields no pairs, one at the cap all") {
    // the same text under n ids: one bucket per band holding all n ids
    val text = docs.where($"doc_id" === 0).select($"text").as[String].head()
    def pairs(n: Int, cap: Int) = Dedup.lshCandidatePairs(
      (1L to n).map(i => (i, text)).toDF("doc_id", "text"), "doc_id", "text",
      maxBucketSize = cap).count()
    assert(pairs(6, 5) === 0)
    assert(pairs(5, 5) === 10)
  }

  test("boundedCollectSet holds at most limit + 1 values, never the whole group") {
    // 4 input partitions, so partial buffers are merged; 200 values per key
    val in = spark.range(0, 400, 1, 4).select(($"id" % 2).as("k"), ($"id" / 2).cast("long").as("v"))
    val sets = in.groupBy($"k").agg(Dedup.boundedCollectSet($"v", 5).as("s"),
        collect_set($"v").as("all"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(sets.length === 2)
    sets.foreach { case (_, s, all) =>
      assert(s.size === 6 && s.toSet.subsetOf(all.toSet) && all.size === 200)
    }
    // at or under the limit: the whole set, as collect_set gives it
    val whole = in.groupBy($"k").agg(sort_array(Dedup.boundedCollectSet($"v", 200)).as("s"),
        sort_array(collect_set($"v")).as("all"))
    assert(whole.where($"s" =!= $"all").isEmpty)
  }

  test("lshPairs matches brute-force pairs exactly and plans as an equi-join") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val lsh = Similarity.lshPairs(emb, "vec_id", "embedding", 0.45)
    val brute = Similarity.bruteForcePairs(emb, "vec_id", "embedding", 0.45)
    assert(lsh.collect().toSet === brute.collect().toSet)
    // candidate generation is a bucket equi-join, never a nested-loop scan
    val plans = lsh.queryExecution.executedPlan.toString
    assert(!plans.contains("BroadcastNestedLoopJoin"),
      "lshPairs must not plan a BroadcastNestedLoopJoin")
    assert(!plans.contains("CartesianProduct"))
  }

  test("lshParams derives guaranteed-recall parameters from the threshold") {
    // low-sim regime: p ≈ 0.65 at 0.45 — banding degenerates to m=1, L≈20
    // (the advisor-derived regime), where a random pair collides in ~10
    // bands: lshPairs must dispatch to exact blockedPairs instead
    val (m045, l045) = Similarity.lshParams(0.45)
    assert(m045 === 1 && l045 === 20)
    // high-sim regime: multi-plane bands with bounded band count
    val (m09, l09) = Similarity.lshParams(0.9)
    assert(m09 >= 2 && l09 <= 24)
    // the derived parameters really do push the miss probability below eps
    val p = 1.0 - math.acos(0.9) / math.Pi
    assert(math.pow(1.0 - math.pow(p, m09), l09) <= 1e-9)
  }

  test("blockedPairs is exact and plans as an equi-join") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val blocked = Similarity.blockedPairs(emb, "vec_id", "embedding", 0.45, blocks = 8)
    val brute = Similarity.bruteForcePairs(emb, "vec_id", "embedding", 0.45)
    assert(blocked.collect().toSet === brute.collect().toSet)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("quality score and lang id iterate by code point with Java's Unicode word class") {
    // astral-plane punctuation (surrogate pair) is ONE [^A-Za-z0-9\s] match;
    // U+212A (Kelvin sign) lowercases into ASCII 'k' and joins a word run.
    // Java's \b is Unicode-aware even WITHOUT UNICODE_CHARACTER_CLASS
    // (word = '_' | Character.isLetterOrDigit): 'é', '１' (full-width
    // one) and astral letters like 𝐀 join word runs, so "éthe" has NO
    // stopword/marker match — a 100k-string fuzz caught the earlier ASCII
    // approximation diverging exactly here.
    val tricky = Seq("a 😀 b", "😀😀",
      "looK the cat", "Kthe cat", "King of the hill", "café the",
      "éthe theé é the", "１the the the１",
      "𝐀the of the𝐀", "the_ _the the")
      .toDF("text")
    val r = tricky.select(
      TextAnalysis.quality_score($"text").as("fast"),
      TextAnalysis.quality_score_columns($"text").as("ref")).collect()
    r.foreach(row => assert(
      java.lang.Double.doubleToLongBits(row.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(row.getDouble(1)),
      s"quality mismatch: ${row.getDouble(0)} vs ${row.getDouble(1)}"))
    // lang_id against the per-language regexp_count columns it fuses:
    // counts and first-wins argmax must agree exactly on every row
    val markers = TextAnalysis.LANG_MARKERS
    val counts = tricky.select(
      TextAnalysis.lang_id($"text").as("fused") +:
        markers.map { case (l, _) => TextAnalysis.lang_score($"text", l).as(l) }: _*)
      .collect()
    counts.foreach { row =>
      val byLang = markers.map { case (l, _) => row.getAs[Int](l) }
      val expected =
        if (byLang.sum == 0) "und"
        else markers(byLang.indexOf(byLang.max))._1
      assert(row.getString(0) === expected,
        s"lang_id diverges from the regex counts: $row")
    }
  }

  test("WordNGrams equals the higher-order-function formulation") {
    val edge = Seq("a b c d", "one", "", "  ", "x y", "t t t t t t").toDF("text")
    for (df <- Seq(docs.select($"text"), edge); n <- Seq(2, 3)) {
      val toks = split(trim($"text"), "\\s+")
      val fast = org.apache.spark.sql.GraftShims.toColumn(
        graft.expressions.WordNGrams(
          org.apache.spark.sql.GraftShims.toExpression(toks), n))
      val ref = transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " "))
      val bad = df.select(fast.as("f"), ref.as("r"))
        .where(not($"f" <=> $"r")).count()
      assert(bad === 0, s"WordNGrams($n) diverged on $bad rows")
    }
  }

  test("single-pass token_count / subword_count equal the split/regex " +
      "formulations exactly (round 13)") {
    val edge = Seq("", "   ", "\tleading tab", "trailing\t", "a  b   c",
      "vt start", "end\n", "a_b c-d e.f", "ab1cd 12ab",
      "é über naïve", "😀😀 a😀b", "１23４", "𝐀bc", "__ !! ..",
      "mixed😀text", "\t\t", "x").toDF("text")
    for (df <- Seq(docs.select($"text"), edge)) {
      val bad = df.select(
        TextAnalysis.token_count($"text").as("tf"),
        TextAnalysis.token_count_columns($"text").as("tr"),
        TextAnalysis.subword_count($"text").as("sf"),
        TextAnalysis.subword_count_columns($"text").as("sr"))
        .where(not($"tf" <=> $"tr") || not($"sf" <=> $"sr"))
      assert(bad.count() === 0,
        s"counter mismatch: ${bad.collect().take(3).mkString("; ")}")
    }
  }

  test("single-pass quality score equals the column formula bit-for-bit") {
    val edge = Seq("", "   ", "\tleading tab", "trailing\t", "the the the!",
      "a_b c-d e.f", "ALL CAPS AND the Of To", "x").toDF("text")
    for (df <- Seq(docs.select($"text"), edge)) {
      val r = df.select(
        TextAnalysis.quality_score($"text").as("fast"),
        TextAnalysis.quality_score_columns($"text").as("ref")).collect()
      r.foreach(row => assert(
        java.lang.Double.doubleToLongBits(row.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(row.getDouble(1)),
        s"quality mismatch: ${row.getDouble(0)} vs ${row.getDouble(1)}"))
    }
  }

  test("dot_product and minhash_sig are SQL-registered") {
    Graft.init(spark)
    val r = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       minhash_sig(split('a b c d', ' '), 3, 4) AS sig""".stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    val viaCol = spark.range(1)
      .select(Dedup.minhashFast(lit("a b c d"), 3, 4).as("sig"))
      .head().getSeq[Long](0)
    assert(r.getSeq[Long](1) === viaCol)
  }

  test("multimodal: fake container round-trips and decode is partition-parallel") {
    val media = docs.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, txt) =>
        (id, Multimodal.encodeFake("vid", 320, 240, 100, txt.getBytes("UTF-8")))
      }.toDF("doc_id", "media").repartition(4)
    val decoded = Multimodal.decode(spark, media, "doc_id", "media")
    assert(decoded.count() === docs.count())
    val row = decoded.where($"id" === 0).head()
    assert(row.format === "vid" && row.width === 320 && row.height === 240 && row.frames === 100)
    assert(row.feature.length === 8)
    val payload0 = docs.where($"doc_id" === 0).head().getAs[String]("text").getBytes("UTF-8").length
    assert(row.payloadBytes === payload0)
    // corrupt rows are dropped, not fatal
    val corrupt = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "media")
    assert(Multimodal.decode(spark, corrupt, "doc_id", "media").count() === 0)
    // frame sampling
    assert(Multimodal.sampleFrameIndices(100, 4) === Seq(0, 25, 50, 75))
    assert(Multimodal.sampleFrameIndices(3, 10) === Seq(0, 1, 2))
    // DataFrame-level resize: dims rewritten, payload length preserved
    val resized = Multimodal.decode(spark,
      Multimodal.resize(spark, media, "doc_id", "media", 64, 48).toDF(),
      "id", "media")
    val rr = resized.where($"id" === 0).head()
    assert(rr.width === 64 && rr.height === 48 && rr.frames === 100)
    assert(rr.payloadBytes === row.payloadBytes)
    // DataFrame-level frame sampling: 4 rows per video, distinct indices
    val frames = Multimodal.sampleFrames(spark, media, "doc_id", "media", 4)
    assert(frames.count() === docs.count() * 4)
    val f0 = frames.where($"id" === 0).collect()
    assert(f0.map(_.frameIdx).sorted.toSeq === Seq(0, 25, 50, 75))
    assert(f0.forall(_.feature.length === 8))
  }

  test("packSequences places documents on the concat-then-chop token grid " +
      "per shard") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a", "one two three"),          // 3 tokens, start 0
      (2L, "a", ""),                       // empty: 0 tokens, start 3
      (3L, "a", (1 to 6).map(_ => "t").mkString(" ")), // 6 tokens, start 3 → crosses 8
      (4L, "a", "x"),                      // start 9, window 1
      (5L, "b", "fresh shard")             // shard b packs from 0
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", "source",
        windowTokens = 8)
      .orderBy("source", "doc_id").collect()
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
    assert(row(out(0)) === ((1L, 3L, 0L, 0L, false)))
    assert(row(out(1)) === ((2L, 0L, 3L, 0L, false))) // empty doc never "crosses"
    assert(row(out(2)) === ((3L, 6L, 3L, 0L, true)))  // spans tokens 3..8 → chop at 8
    assert(row(out(3)) === ((4L, 1L, 9L, 1L, false)))
    assert(row(out(4)) === ((5L, 2L, 0L, 0L, false))) // shards are independent
    // a doc ending exactly AT the boundary does not cross it
    val exact = TextAnalysis.packSequences(
      Seq((1L, "a", (1 to 8).map(_ => "t").mkString(" "))).toDF("doc_id", "source", "text"),
      "doc_id", "text", "source", windowTokens = 8).head()
    assert(exact.getBoolean(5) === false)
  }

  test("redact_pii masks each kind, leaves clean text alone, and counts " +
      "agree with the masks") {
    import graft.operators.TextAnalysis
    val rows = Seq(
      (1L, "reach me at jane.doe+spam@corp.example.org today"),
      (2L, "server 192.168.0.17 and 8.8.8.8 are up"),
      (3L, "ssn 123-45-6789 phone 555-867-5309"),
      (4L, "no pii here, just 3.14 and v1.2.3 and a-b-c"),
      (5L, "mixed: bob@x.io at 10.0.0.1, 987-65-4321")
    ).toDF("id", "text")
    val out = rows.select($"id",
        TextAnalysis.redact_pii($"text").as("r"),
        TextAnalysis.pii_counts($"text").as("c"))
      .orderBy("id").collect()
    assert(out(0).getString(1) === "reach me at <EMAIL> today")
    assert(out(1).getString(1) === "server <IP> and <IP> are up")
    assert(out(2).getString(1) === "ssn <SSN> phone <PHONE>")
    // version strings / decimals / hyphenated words survive untouched
    assert(out(3).getString(1) === "no pii here, just 3.14 and v1.2.3 and a-b-c")
    assert(out(4).getString(1) === "mixed: <EMAIL> at <IP>, <SSN>")
    def counts(r: org.apache.spark.sql.Row) = {
      val c = r.getStruct(2)
      (c.getInt(0), c.getInt(1), c.getInt(2), c.getInt(3))
    }
    assert(counts(out(0)) === ((1, 0, 0, 0)))
    assert(counts(out(1)) === ((0, 2, 0, 0)))
    assert(counts(out(2)) === ((0, 0, 1, 1)))
    assert(counts(out(3)) === ((0, 0, 0, 0)))
    assert(counts(out(4)) === ((1, 1, 1, 0)))
    // kind selection: only the requested kinds are masked
    val only = rows.where($"id" === 5L)
      .select(TextAnalysis.redact_pii($"text", Seq("email")).as("r"))
      .head().getString(0)
    assert(only === "mixed: <EMAIL> at 10.0.0.1, 987-65-4321")
    intercept[IllegalArgumentException] {
      TextAnalysis.redact_pii($"text", Seq("credit_card"))
    }
  }

  test("int8 quantization: codes bounded, cosine approximated, rerank recalls") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    // codes stay in [-127, 127]; scale dequantizes to ~the original
    val qs = emb.select(Similarity.quantizeWithScale($"embedding").as("q"),
      $"embedding".cast("array<double>").as("v"))
    val r = qs.select(
      max(array_max(transform($"q.codes", c => abs(c)))).as("cmax"),
      max(expr("aggregate(zip_with(q.codes, v, (c, x) -> abs(c * q.scale / 127.0 - x)), 0D, (a, e) -> greatest(a, e))")).as("err"))
      .head()
    assert(r.getInt(0) <= 127)
    assert(r.getDouble(1) < 0.02, s"dequantization error ${r.getDouble(1)}")
    // quantized prefilter + exact rerank reproduces the exact top-k here
    val q = emb.where($"vec_id" === 7)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val rr = Similarity.quantizedRerankTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(rr === exact, "int8 prefilter + exact rerank diverged from brute force")
  }

  test("product quantization: codes shaped m, ADC ranks, rerank recalls") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dim = emb.select(size($"embedding")).head().getInt(0)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", dim,
      m = 8, codebookSize = 16)
    assert(cbs.length === 8 && cbs.forall(_.length === 16) &&
      cbs.forall(_.forall(_.length === dim / 8)))
    // codes: one int per subspace, within codebook range; deterministic
    val codes = emb.select($"vec_id",
      Similarity.pqEncode($"embedding", cbs).as("c"))
    val shape = codes.select(min(size($"c")), max(size($"c")),
      max(array_max($"c")), min(array_min($"c"))).head()
    assert(shape.getInt(0) === 8 && shape.getInt(1) === 8)
    assert(shape.getInt(2) < 16 && shape.getInt(3) >= 0)
    val again = emb.select($"vec_id",
      Similarity.pqEncode($"embedding", cbs).as("c"))
    assert(codes.exceptAll(again).count() === 0)

    // ADC ranking + exact rerank: high recall vs brute force; planted
    // self-vector is always its own nearest neighbor
    val q = emb.where($"vec_id" === 7)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", q, 10,
      m = 8, codebookSize = 16, oversample = 8)
    val got = pq.collect().map(_.getLong(0))
    assert(got.length === 10)
    assert(got.contains(7L), "query vector must find itself")
    val recall = (got.toSet & exact).size
    assert(recall >= 7, s"PQ rerank recall too low: $recall/10")
    // rerank similarities are EXACT cosines: the overlap rows agree with
    // brute force bit-for-bit
    val exactSims = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pq.collect().foreach { r =>
      exactSims.get(r.getLong(0)).foreach(s => assert(s === r.getDouble(1)))
    }
  }

  test("segment dedup matches an in-memory model on randomized corpora") {
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector("x", "y", "zz", "", "x y")
    val docs = (0L until 60L).map { id =>
      val n = rnd.nextInt(6)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString("|"))
    }
    for (minDup <- Seq(2, 3)) {
      // model: global first-occurrence scan in (id, pos) order
      val segs = docs.flatMap { case (id, t) =>
        t.split("\\|", -1).zipWithIndex.map { case (s, p) => (id, p, s) } }
      val counts = segs.groupBy(_._3).map { case (s, g) => s -> g.size }
      val firsts = segs.groupBy(_._3).map { case (s, g) =>
        s -> g.map(x => (x._1, x._2)).min }
      val expected = docs.map { case (id, t) =>
        val kept = t.split("\\|", -1).zipWithIndex.collect {
          case (s, p) if counts(s) < minDup || firsts(s) == (id, p) => s }
        id -> kept.mkString("|")
      }.toMap
      val out = Dedup.dedupSegments(docs.toDF("doc_id", "text"),
          "doc_id", "text", sep = "|", minDupCount = minDup)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out === expected, s"minDupCount=$minDup diverged from model")
    }
  }

  test("corpus-level segment dedup keeps first occurrence, rebuilds docs") {
    val df = Seq(
      (1L, "a\nb\na", "s0"),   // 2nd "a" is a later occurrence -> dropped
      (2L, "a\n\nc", "s1"),    // "a" dup of doc1 pos0 -> dropped; "" unique here...
      (3L, "", "s2"),          // ...no: "" also at doc2 pos1 -> doc3's dropped
      (4L, "only once", "s3")) // untouched (no separator, unique line)
      .toDF("doc_id", "text", "source")
    val out = Dedup.dedupSegments(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "a\nb", "s0"), (2L, "\nc", "s1"), (3L, "", "s2"),
        (4L, "only once", "s3")))
    // raising the threshold above every multiplicity is the identity
    val id = Dedup.dedupSegments(df, "doc_id", "text", minDupCount = 10)
      .orderBy("doc_id").collect()
    assert(id.map(_.getString(1)).toSeq === Seq("a\nb\na", "a\n\nc", "", "only once"))
  }
}
