package graft

import org.apache.spark.sql.functions._
import graft.functions.Functions._
import graft.operators.{Similarity, TextDedup}

/** LLM-pipeline operators: hashing portability, shingles, planted
  * near-dup recovery, top-k aggregator correctness. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("md5Long matches the cross-engine value (DuckDB parity)") {
    // DuckDB: ('0x' || substr(md5('abc'),1,15))::BIGINT = 648541476951500027
    val got = rows(Seq("abc").toDF("s").select(md5Long(col("s"))))
      .head.getLong(0)
    assert(got == 648541476951500027L)
  }

  test("wordShingles: count, content, and short-doc guard") {
    val df = Seq("The quick brown fox jumps", "a b", "").toDF("t")
    val got = rows(df.select(wordShingles(col("t"), 3)))
      .map(_.getSeq[String](0))
    assert(got(0) == Seq("the quick brown", "quick brown fox",
      "brown fox jumps"))
    assert(got(1) == Nil && got(2) == Nil)
  }

  test("charNgrams guard: shorter than n yields empty, not descending") {
    val got = rows(Seq("ab").toDF("t").select(charNgrams(col("t"), 5)))
      .head.getSeq[String](0)
    assert(got == Nil)
  }

  test("bpeishTokenCount: words + symbols, no lookarounds") {
    val got = rows(Seq("ab, cd!x").toDF("t")
      .select(bpeishTokenCount(col("t")))).head.getInt(0)
    assert(got == 5) // ab , cd ! x
  }

  test("exactDupStats counts raw vs normalized duplicates") {
    val docs = Seq("Hello  World", "hello world", "unique").toDF("text")
    val r = rows(TextDedup.exactDupStats(docs, "text")).head
    assert(r.getAs[Long]("n_docs") == 3)
    assert(r.getAs[Long]("n_distinct_raw") == 3)
    assert(r.getAs[Long]("n_distinct_norm") == 2)
    assert(r.getAs[Long]("n_dup_rows_norm") == 1)
  }

  test("exactDupLosers keeps min-id per normalized group") {
    val docs = Seq(
      (5L, "Hello  World"), (2L, "hello world"), (9L, "HELLO WORLD"),
      (1L, "unique"), (7L, "other"))
      .toDF("doc_id", "text")
    val losers = rows(TextDedup.exactDupLosers(docs, "doc_id", "text"))
      .map(_.getLong(0)).sorted
    assert(losers == Seq(5L, 9L)) // 2 is the group's min id; singles kept
  }

  test("minhashNearDups recovers a planted near-duplicate pair") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w20", "x20") // 1-word edit
    val docs = Seq(
      (1L, base), (2L, nearDup),
      (3L, (100 to 140).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = rows(TextDedup.minhashNearDups(docs, "doc_id", "text",
      3, 16, 4, 0.5))
    assert(got.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
    val jac = got.head.getAs[Double]("jaccard")
    assert(jac > 0.8 && jac < 1.0)
  }

  test("minhashNearDupsIncremental ≡ full pairs restricted to the batch") {
    // 12 docs in 4 near-dup families; batch = ids ≡ 0 (mod 3)
    val fams = (0 until 4).map(f => (300 to 340).map(i => s"f${f}w$i"))
    val docs = (0L until 12L).map { id =>
      val fam = fams((id % 4).toInt)
      // one-word perturbation per member keeps the family near-dup
      (id, fam.updated(id.toInt / 4, s"p$id").mkString(" "))
    }.toDF("doc_id", "text")
    val isNew = col("doc_id") % 3 === 0
    val inc = rows(TextDedup.minhashNearDupsIncremental(docs, "doc_id",
        "text", isNew, 3, 16, 4, 0.5))
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    // expected: every full-corpus pair touching a batch doc, oriented
    // (new, other), canonicalized a<b when both are new
    val full = rows(TextDedup.minhashNearDups(docs, "doc_id", "text",
        3, 16, 4, 0.5))
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val expected = full.flatMap { case (a, b, j) =>
      val (na, nb) = (a % 3 == 0, b % 3 == 0)
      if (na) Some((a, b, j))
      else if (nb) Some((b, a, j))
      else None
    }
    assert(inc.nonEmpty)
    assert(inc.toSet == expected.toSet)
    // no existing×existing pair ever appears
    assert(inc.forall(_._1 % 3 == 0))
  }

  test("batch-frame incremental overload equals the predicate form") {
    val fams = (0 until 4).map(f => (300 to 340).map(i => s"f${f}w$i"))
    val docs = (0L until 12L).map { id =>
      val fam = fams((id % 4).toInt)
      (id, fam.updated(id.toInt / 4, s"p$id").mkString(" "))
    }.toDF("doc_id", "text")
    val byPred = rows(TextDedup.minhashNearDups(docs, "doc_id", "text",
        3, 16, 4, 0.5)).map(r => (r.getLong(0), r.getLong(1)))
    val split = col("doc_id") % 3 === 0
    val byFrame = rows(TextDedup.minhashNearDupsIncremental(
        docs.filter(!split), docs.filter(split), "doc_id", "text",
        3, 16, 4, 0.5)).map(r => (r.getLong(0), r.getLong(1)))
    val viaPred = rows(TextDedup.minhashNearDupsIncremental(docs,
        "doc_id", "text", split, 3, 16, 4, 0.5))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(byFrame.toSet == viaPred.toSet)
    assert(byFrame.nonEmpty && byFrame.toSet.subsetOf(
      byPred.flatMap(p => Seq(p, p.swap)).toSet))
  }

  test("simhash: identical docs collide, near-dups are close") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base),
      (3L, base.replace("w30", "zz")))
      .toDF("doc_id", "text")
    val pairs = rows(TextDedup.simhashNearDups(docs, "doc_id", "text", 3))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("hamming"))
      .toMap
    assert(pairs((1L, 2L)) == 0L)
  }

  test("fingerprintPairs: exact copies share all fingerprints") {
    val text = (1 to 80).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val got = rows(TextDedup.fingerprintPairs(docs, "doc_id", "text",
      8, 16, 1, 10))
    assert(got.size == 1 && got.head.getAs[Long]("n_shared") >= 1)
  }

  test("contaminationPairs flags a planted near-copy of a probe doc") {
    val bench = (1 to 30).map(i => s"q$i").mkString(" ")
    val nearCopy = bench.replace("q15", "x15")
    val corpus = Seq((1L, nearCopy), (2L, "totally unrelated words here"),
      (100L, bench)).toDF("doc_id", "text")
    val probes = corpus.filter($"doc_id" === 100L)
    val got = rows(graft.operators.TextDedup.contaminationPairs(
      corpus, "doc_id", "text", probes, "doc_id", "text",
      n = 5, minShared = 3))
      .map(r => (r.getLong(0), r.getLong(1)))
    // the near-copy is flagged against the probe; the probe does not
    // match itself; the unrelated doc is clean
    assert(got == Seq((1L, 100L)))
  }

  test("dupClusters: components converge across multi-hop chains") {
    // chain 1-2-3-4 (diameter 3, needs several propagation rounds),
    // pair 10-11, singleton 99 absent (no pairs -> no row)
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = rows(TextDedup.dupClusters(pairs).orderBy("doc_id"))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("dupClusters equals driver-side union-find on random graphs") {
    // fixed-seed randomized check of the large-star/small-star
    // contraction against an independent union-find implementation
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val m = 30 + rnd.nextInt(40)
      val edges = (1 to m)
        .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("doc_a", "doc_b")
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(x => (x, find(x))).sortBy(_._1)
      val got = rows(TextDedup.dupClusters(pairs).orderBy("doc_id"))
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got == expect, s"trial $trial: $got != $expect")
    }
  }

  test("pqCodes recovers the codebook entry a vector was built from") {
    // vector = concat of centroid (s, s+2) per subspace, cast to float
    val dims = 32; val m = 4; val k = 8; val sub = dims / m
    val centroidVec = flatten(array((0 until m).map(s =>
      Similarity.pqWeights(s, s + 2, sub)): _*))
    val withCv = spark.range(1).select(lit(7L).as("vec_id"),
        centroidVec.as("__cv"))
      .select(col("vec_id"),
        col("__cv").cast("array<float>").as("embedding"))
    val r = rows(Similarity.pqCodes(withCv, "vec_id", "embedding",
      m, k, dims)).head
    for (s <- 0 until m)
      assert(r.getAs[Long](s"code$s") == s + 2, s"subspace $s")
    assert(r.getAs[Double]("err") < 1e-10) // only float-cast rounding
  }

  test("TopK aggregator: bounded buffer, exact order, tie-break") {
    val t = new Similarity.TopK(3)
    val xs = Seq(
      Similarity.Scored(1, 0.5), Similarity.Scored(2, 0.9),
      Similarity.Scored(3, 0.9), Similarity.Scored(4, 0.1),
      Similarity.Scored(5, 0.7))
    val half = xs.take(2).foldLeft(t.zero)(t.reduce)
    val rest = xs.drop(2).foldLeft(t.zero)(t.reduce)
    val merged = t.finish(t.merge(half, rest))
    assert(merged.ids == Seq(2L, 3L, 5L)) // 0.9/id2, 0.9/id3, 0.7/id5
    assert(merged.scores == Seq(0.9, 0.9, 0.7))
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),   // cosine 1 with query
      (2L, Array(0.0f, 1.0f)),   // cosine 0
      (3L, Array(1.0f, 1.0f)))   // cosine ~0.707
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val got = rows(Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      q, "query_id", "qvec", 2))
    assert(got.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
      == Seq((1L, 1L), (2L, 3L)))
  }

  test("hardNegativesTopK excludes same-label neighbors BEFORE ranking") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(1.0f, 0.0f), 7),   // cosine 1 but SAME label: excluded
      (2L, Array(0.0f, 1.0f), 8),   // cosine 0, other label
      (3L, Array(1.0f, 1.0f), 8))   // cosine ~0.707, other label
      .toDF("vec_id", "embedding", "label")
    val q = vecs.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"),
        $"label".as("qlabel"))
    val got = rows(Similarity.hardNegativesTopK(vecs, "vec_id",
      "embedding", "label", q, "query_id", "qvec", "qlabel", 2))
    // the same-label id=1 must NOT consume a rank slot: the negatives
    // are id=3 (0.707) then id=2 (0.0)
    assert(got.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
      == Seq((1L, 3L), (2L, 2L)))
    // and the positive counterpart sees ONLY the same-label neighbor
    val pos = rows(Similarity.labelPositivesTopK(vecs, "vec_id",
      "embedding", "label", q, "query_id", "qvec", "qlabel", 2))
    assert(pos.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
      == Seq((1L, 1L)))
  }

  test("prefixFilterPairs is LOSSLESS: equals brute-force shingle " +
      "Jaccard >= 0.5, and is a superset of the LSH pipeline's pairs") {
    val fams = (0 until 3).map(f => (200 to 240).map(i => s"f${f}w$i"))
    val docs = (0L until 9L).map { id =>
      val fam = fams((id % 3).toInt)
      (id, fam.updated(id.toInt / 3, s"p$id").mkString(" "))
    }.toDF("doc_id", "text").persist()
    val got = rows(TextDedup.prefixFilterPairs(docs, "doc_id", "text",
        3, 0.5))
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      .toSet
    // brute force over all pairs via the same shingle rows
    val sh = rows(TextDedup.docShingleRows(docs, "doc_id", "text", 3))
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val ids = sh.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      ovl = (sh(a) & sh(b)).size
      j = ovl.toDouble / (sh(a).size + sh(b).size - ovl)
      if j >= 0.5
    } yield (a, b, math.rint(j * 1e6) / 1e6)).toSet
    assert(got == brute, s"got ${got.size} brute ${brute.size}")
    graft.operators.InternalCache.release()
    // the probabilistic LSH path can only ever find a subset
    val lsh = rows(TextDedup.minhashNearDups(docs, "doc_id", "text",
        3, 16, 4, 0.5))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(got.map(t => (t._1, t._2))))
    graft.operators.InternalCache.release()
    docs.unpersist()
    ()
  }

  test("filtered ANN (q254): pre-filter respects the predicate, " +
      "over-probing never lowers recall, post-filter can only starve") {
    val dir = "/root/testdata/sf0.001"
    val byMethod = rows(
      SparkEntry.queries("q254_filtered_ann_recall")(spark, dir))
      .map(r => r.getAs[String]("method") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"))))
      .toMap
    graft.operators.InternalCache.release()
    // one exact denominator for all three strategies (same filtered
    // ground truth), and it is the full queries × k set: the filter
    // keeps far more than k candidates, so exact top-k never runs short
    assert(byMethod.values.map(_._1).toSet.size == 1)
    assert(byMethod("ivf_prefilter")._1 == 30L)
    // over-probing scores a strict SUPERSET of single-probe candidates,
    // so its hit count can never be lower
    assert(byMethod("ivf_prefilter_p2")._2 >=
      byMethod("ivf_prefilter")._2)
    // and the pre-filtered searches only ever return matching
    // candidates — the predicate bounds the search space, not the output
    import graft.operators.Similarity
    import graft.sources.Tables
    val v = Tables.embeddings(spark, dir)
    val cand = v.filter($"label" < 3)
    val q = v.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val pre2 = Similarity.ivfTopK(cand, "vec_id", "embedding",
      q, "query_id", "qvec", 3, 8, 64, nProbe = 2)
    val offLabel = pre2.join(
      v.select($"vec_id".as("neighbor_id"), $"label"), Seq("neighbor_id"))
      .filter($"label" >= 3).count()
    assert(offLabel == 0L)
    graft.operators.InternalCache.release()
    ()
  }
}
