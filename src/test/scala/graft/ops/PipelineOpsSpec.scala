package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force cross-checks for the LSH-based operators the DuckDB oracle
  * cannot replicate (xxhash64-seeded hashing). Ground truth is computed in
  * plain Scala over collected sf0.001 fixtures.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  // --- Scala-side ground-truth replicas -----------------------------------

  private def tokensOf(s: String): Vector[String] =
    s.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector

  private def wordShingles(s: String, n: Int): Set[String] = {
    val ws = tokensOf(s)
    if (ws.length < n) Set(ws.mkString(" "))
    else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  private def charShingles(s: String, n: Int): Set[String] = {
    val norm = s.toLowerCase.replaceAll("\\s+", " ").trim
    (0 to math.max(norm.length - n, 0)).map(i => norm.slice(i, i + n)).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.union(b).isEmpty) 0.0 else a.intersect(b).size.toDouble / a.union(b).size

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // --- MinHash ------------------------------------------------------------

  test("minhashPairs: verified pairs are exactly true-Jaccard>=t among its candidates") {
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val got = Dedup
      .minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)]
      .collect()
    val truePairs = (for {
      Seq(a, b) <- texts.keys.toSeq.sorted.combinations(2)
      j = jaccard(wordShingles(texts(a), 3), wordShingles(texts(b), 3))
      if j >= 0.5
    } yield (a, b)).toSet
    // no false positives: every emitted pair is a true near-dup pair
    got.foreach { case (a, b, j) =>
      val tj = jaccard(wordShingles(texts(a), 3), wordShingles(texts(b), 3))
      assert(tj >= 0.5, s"pair ($a,$b) emitted with jaccard $j but true $tj")
      assert(math.abs(tj - j) < 1e-3)
    }
    // recall sanity on this fixture (LSH 16x4 at j>=0.5 is probabilistic)
    if (truePairs.nonEmpty) {
      val recall = got.map(p => (p._1, p._2)).count(truePairs).toDouble / truePairs.size
      assert(recall >= 0.4, s"recall $recall over ${truePairs.size} true pairs")
    }
  }

  test("compiled minhash/band kernel is bitwise-equal to the Column HOF form") {
    // the candidate path runs the Scala kernel; sourceMinhash runs the HOF
    // form — they must stay the same hash family or LSH recall silently
    // diverges between the two
    val hof = docs
      .select(col("doc_id"), TextOps.wordShingles(col("text"), 3).as("shingles"))
      .select(
        col("doc_id"),
        col("shingles"),
        Dedup.minhashSignature(col("shingles"), 64).as("sig"))
      .select(
        col("doc_id"),
        col("sig"),
        transform(Dedup.lshBands(col("sig"), 16, 4), b => b.getField("bh")).as("bhs"))
      .as[(Long, Seq[Long], Seq[Long])]
      .collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val sig = Dedup.minhashSignatureScala(text, 64, 3)
      assert(sig.toSeq == hof(id)._1, s"signature mismatch for doc $id")
      assert(Dedup.bandHashesScala(sig, 16, 4).toSeq == hof(id)._2, s"band hash mismatch for doc $id")
    }
  }

  test("dedupByMinhash drops only rows with a smaller near-duplicate") {
    val kept = Dedup.dedupByMinhash(docs, "text", "doc_id").select("doc_id")
      .as[Long].collect().toSet
    val losers = Dedup.minhashPairs(docs, "text", "doc_id")
      .select("id_b").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    assert(kept == all -- losers)
  }

  test("duplicateClusters equals Scala union-find; chains collapse to one survivor") {
    // transitive chain 1-2-3 (3 never paired with 1), separate pair 5-6,
    // singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    val docs9 = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val kept = Dedup.dedupByClusters(docs9, "doc_id", pairs).as[Long].collect().toSet
    assert(kept == Set(1L, 5L, 9L), "one survivor per cluster, singleton untouched")
    // long path (worst-case diameter) still converges
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainLabels = Dedup.duplicateClusters(chain).as[(Long, Long)].collect().toMap
    assert(chainLabels.values.toSet == Set(1L) && chainLabels.size == 12)
    // the DISTRIBUTED regime (forced by a zero single-task limit) must give
    // the identical answer, including on the worst-case chain where pointer
    // halving does the work
    val distLabels = Dedup.duplicateClusters(chain, singleTaskLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(distLabels == chainLabels, "distributed loop diverges from union-find")
    val distPairs = Dedup.duplicateClusters(pairs, singleTaskLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(distPairs == labels)
    // realistic graph: minhash pairs on the fixture vs brute-force union-find
    val mh = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    if (mh.nonEmpty) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
      mh.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = mh.flatMap(p => Seq(p._1, p._2)).distinct
      val expected = ids.map(x => x -> find(x)).toMap
      val got = Dedup.duplicateClusters(mh.toSeq.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected)
    }
  }

  // --- SimHash ------------------------------------------------------------

  test("minhashPairsBetween == single-corpus pairs restricted to cross pairs; corpus dedup drops them") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val cross = Dedup.minhashPairsBetween(a, b, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2), p._3)).toSet
    val all = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter(p => (p._1 % 2) != (p._2 % 2)) // pairs spanning the halves
      .toSet
    assert(cross == all, s"cross=${cross.size} vs single-corpus cross subset=${all.size}")
    // planted near-dup across corpora is removed from the incoming side only
    val planted = b.select(col("doc_id") + 100000L, col("text")).toDF("doc_id", "text")
      .limit(3)
    val incoming = a.select("doc_id", "text").union(planted)
    val kept = Dedup.dedupAgainstCorpus(incoming, b, "text", "doc_id")
    assert(kept.filter(col("doc_id") >= 100000L).count() == 0, "exact copies of corpus docs must drop")
    assert(kept.count() >= a.count() - cross.size)
  }

  test("dedup kernels: null text rows are inert, non-integral ids are refused loudly") {
    // null text can neither NPE the kernels nor produce pairs
    val withNulls = docs.select(col("doc_id"), col("text"))
      .union(Seq((100001L, null: String), (100002L, null: String)).toDF("doc_id", "text"))
    val mh = Dedup.minhashPairs(withNulls, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(!mh.exists(p => p._1 > 100000L || p._2 > 100000L), "null-text rows must pair with nothing")
    val sh = Dedup.simhashPairs(withNulls, "text", "doc_id")
      .as[(Long, Long, Int)].collect()
    assert(!sh.exists(p => p._1 > 100000L || p._2 > 100000L))
    // a string id would silently cast to NULL and vanish every pair — refused
    val strIds = docs.select(concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairs(strIds, "text", "doc_id")
    }
    assert(e.getMessage.contains("integral"))
    intercept[IllegalArgumentException] { Dedup.simhashPairs(strIds, "text", "doc_id") }
  }

  test("simhashPairs: symmetric-unique, bounded hamming, exact dups at distance 0") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id").as[(Long, Long, Int)].collect()
    assert(pairs.forall { case (a, b, h) => a < b && h >= 0 && h <= 3 })
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
    // planted exact duplicates must surface with hamming 0
    val planted = Seq((9001L, "alpha beta gamma delta epsilon"), (9002L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val dupPairs = Dedup.simhashPairs(planted, "text", "doc_id").as[(Long, Long, Int)].collect()
    assert(dupPairs.toSeq == Seq((9001L, 9002L, 0)))
  }

  test("simhashPairsReplayable: blocked pairs equal brute force exactly") {
    // the 4-chunk pigeonhole is a proof, not a probability: any pair within
    // Hamming 3 shares a chunk, and verification admits no false positives,
    // so the blocked pair set must EQUAL the all-pairs answer — the same
    // argument that lets the DuckDB oracle replay it brute-force
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
      .filter(_._2 != null)
    val shs = rows.map { case (id, t) => (id, Dedup.simhash60Md5Scala(t)) }
    val expected = (for {
      Seq((a, sa), (b, sb)) <- shs.sortBy(_._1).toSeq.combinations(2)
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simhashPairsReplayable(docs, "text", "doc_id")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected, s"blocked=${got.size} brute=${expected.size}")
    assert(got.nonEmpty, "fixture must surface planted near-dups")
  }

  // --- n-gram Jaccard (fully deterministic → exact equality) --------------

  test("ngramJaccardPairs equals Scala brute force within blocks") {
    val rows = docs.select("doc_id", "text", "source").as[(Long, String, String)].collect()
    val bySource = rows.groupBy(_._3)
    val expected = (for {
      (_, grp) <- bySource.toSeq
      Seq((a, ta, _), (b, tb, _)) <- grp.sortBy(_._1).toSeq.combinations(2)
      j = jaccard(charShingles(ta, 5), charShingles(tb, 5))
      if j >= 0.30
    } yield (math.min(a, b), math.max(a, b))).toSet
    val got = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 5, 0.30)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("ngramJaccardPairs: triangular sub-block split returns identical pairs") {
    val whole = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 5, 0.30)
      .as[(Long, Long, Double)].collect().toSet
    // force every 30-doc block into the max 7 sub-blocks → 28 tasks/block
    val split = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 5, 0.30,
      targetBlockSize = 4, maxSplits = 7)
      .as[(Long, Long, Double)].collect().toSet
    assert(split == whole)
    // no duplicate pair may survive the decomposition
    val splitList = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 5, 0.30,
      targetBlockSize = 4, maxSplits = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(splitList.length == splitList.toSet.size)
    assert(Dedup.subBlocks(250, 4096, 16) == 1, "under target: no split")
    assert(Dedup.subBlocks(10000, 1000, 16) == 10)
    assert(Dedup.subBlocks(1000000, 1000, 16) == 16, "split factor is capped")
  }

  test("kmeansCodes: partition-invariant trajectory, seeds at zero, guards") {
    val out = Similarity.kmeansCodes(emb, "vec_id", "embedding", 8, 3)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(out.length == emb.count())
    assert(out.forall(r => r._2 >= 0 && r._2 < 8 && r._3 >= 0L))
    // identical trajectory under any partitioning: every step is either a
    // pure Column map or an order-free aggregate of exact longs
    val out13 = Similarity.kmeansCodes(emb.repartition(13), "vec_id", "embedding", 8, 3)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(out13 == out)
    // iters=0 assigns against the init codes: each seed vector is at
    // distance 0 (of its own cluster or an identical twin's)
    val seedIds = emb.orderBy("vec_id").limit(8).select("vec_id").as[Long].collect().toSet
    val zeroIter = Similarity.kmeansCodes(emb, "vec_id", "embedding", 8, 0)
      .as[(Long, Int, Long)].collect().filter(r => seedIds.contains(r._1))
    assert(zeroIter.nonEmpty && zeroIter.forall(_._3 == 0L))
    // k=1: one cluster holds everything
    assert(Similarity.kmeansCodes(emb, "vec_id", "embedding", 1, 1)
      .select("cluster").as[Int].collect().forall(_ == 0))
    // non-integral id fails loudly
    intercept[IllegalArgumentException] {
      Similarity.kmeansCodes(
        emb.withColumn("vec_id", col("vec_id").cast("string")),
        "vec_id", "embedding", 4, 1)
    }
  }

  test("duplicateSpans: cross-doc ranges merge, intra-doc repeats exempt, disjoint spans split") {
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta unique1 tail1 tail2"),
      (2L, "prefix2 alpha beta gamma delta epsilon zeta eta other2"),
      (3L, "solo solo solo solo solo solo"), // repeats only within itself
      (4L, "totally different words here nothing shared"),
      (5L, "alpha2 beta2 gamma2 delta2 q1 q2 q3 q4 rho sigma tau omega"),
      (6L, "alpha2 beta2 gamma2 delta2 x6"),
      (7L, "rho sigma tau omega y7")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(fixture, "doc_id", "text", 3)
      .as[(Long, Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 0, 7, 5L), // shared 7-token run: gram positions 0..4 coalesce
      (2L, 1, 8, 5L), // same run shifted by the doc-2 prefix token
      (5L, 0, 4, 2L), (5L, 8, 12, 2L), // two DISJOINT shared regions stay split
      (6L, 0, 4, 2L), (7L, 0, 4, 2L)))
    // doc 3 (intra-doc repetition) and doc 4 (unique) are absent
    assert(!got.exists(r => r._1 == 3L || r._1 == 4L))
    // partitioning invariance
    val got13 = Dedup.duplicateSpans(fixture.repartition(13), "doc_id", "text", 3)
      .as[(Long, Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got13 == got)
  }

  test("prefixJaccardPairs: lossless vs brute force; candidates pruned; guards") {
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    def setOf(s: String): Set[String] = {
      val ws = tokensOf(s)
      if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val nonEmpty = texts.filter { case (_, t) => setOf(t).nonEmpty }
    val expected = (for {
      Seq(a, b) <- nonEmpty.keys.toSeq.sorted.combinations(2)
      sa = setOf(texts(a)); sb = setOf(texts(b))
      inter = sa.intersect(sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.5
    } yield (a, b, j)).toSet
    val got = Dedup.prefixJaccardPairs(docs, "text", "doc_id", 0.5, n = 3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got == expected && got.nonEmpty)
    // partitioning invariance: the rarest-first order is total
    val got13 = Dedup.prefixJaccardPairs(docs.repartition(13), "text", "doc_id", 0.5, 3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got13 == got)
    // the point of prefix filtering: candidates ≪ all pairs (docs share a
    // small vocabulary, so a full token join would be near-quadratic)
    val toks = Dedup.prefixShingleSets(docs, "text", "doc_id", 0.5, 3)
    val nCand = Dedup.prefixCandidates(toks, 0.5).count()
    val nDocs = toks.count()
    assert(nCand >= expected.size && nCand < nDocs * (nDocs - 1) / 2 / 4,
      s"candidates $nCand should prune far below ${nDocs * (nDocs - 1) / 2} pairs")
    // threshold 1.0 keeps only identical sets
    assert(Dedup.prefixJaccardPairs(docs, "text", "doc_id", 1.0, 3)
      .select("jaccard").as[Double].collect().forall(_ == 1.0))
    // non-integral id fails loudly
    intercept[IllegalArgumentException] {
      Dedup.prefixJaccardPairs(
        docs.withColumn("doc_id", col("doc_id").cast("string")), "text", "doc_id", 0.5)
    }
  }

  // --- Embedding near-dup + ANN -------------------------------------------

  test("cosineNearDupPairs: no false positives; subset of brute force") {
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    val got = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.30, bits = 4)
      .as[(Long, Long, Double)].collect()
    got.foreach { case (a, b, _) =>
      assert(cosine(vecs(a), vecs(b)) >= 0.30 - 1e-9)
    }
  }

  test("centroidDrift: identical halves ~1, orthogonal 0, opposite -1, zero null") {
    val a = Seq(
      (1, Seq(1.0f, 0.0f)), (1, Seq(3.0f, 0.0f)), // label 1 along axis 1
      (2, Seq(0.0f, 2.0f)),                       // label 2 along axis 2
      (3, Seq(1.0f, 1.0f)),
      (4, Seq(0.0f, 0.0f))                        // zero centroid
    ).toDF("label", "embedding")
    val b = Seq(
      (1, Seq(2.0f, 0.0f)),                       // same direction
      (2, Seq(5.0f, 0.0f)),                       // orthogonal to a's label 2
      (3, Seq(-2.0f, -2.0f)),                     // opposite
      (4, Seq(1.0f, 1.0f))
    ).toDF("label", "embedding")
    val out = Similarity.centroidDrift(a, b, "label", "embedding")
      .as[(Int, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(out(1)._2 == 2L && out(1)._3 == 1L)
    assert(math.abs(out(1)._4.get - 1.0) < 1e-12, "same direction ~ 1")
    assert(out(2)._4.get == 0.0, "orthogonal centroids are exactly 0")
    assert(math.abs(out(3)._4.get + 1.0) < 1e-12, "opposite ~ -1")
    assert(out(4)._4.isEmpty, "zero centroid yields null, not NaN")
    val rep = Similarity.centroidDrift(a.repartition(3), b.repartition(2), "label", "embedding")
      .as[(Int, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(rep == out, "partitioning-invariant bits")
  }

  test("hardNegatives: label-filtered brute force; no self, no same-label") {
    val rows = emb.select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    val got = Similarity
      .hardNegatives(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", "label", 4)
      .select("q_id", "n_id", "n_label", "rank").as[(Long, Long, Int, Int)].collect()
    got.foreach { case (q, n, nl, _) =>
      assert(q != n, "self-matches excluded")
      assert(byId(q)._3 != nl, s"anchor $q retrieved a SAME-label negative $n")
    }
    val byQ = got.groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    (0L until 3L).foreach { q =>
      val (_, qv, ql) = byId(q)
      val expected = rows.toSeq
        .filter(r => r._1 != q && r._3 != ql)
        .map { case (id, v, _) => (id, cosine(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(4).map(_._1)
      assert(byQ(q) == expected, s"anchor $q")
    }
  }

  test("bruteForceTopK matches Scala brute force exactly") {
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    val got = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
      .select("q_id", "n_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    (0L until 3L).foreach { q =>
      val expected = vecs.toSeq
        .filter(_._1 != q)
        .map { case (id, v) => (id, cosine(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(5).map(_._1)
      assert(got(q) == expected, s"query $q")
    }
  }

  test("pq: identical vectors share codes; ADC retrieves same-cluster neighbors") {
    // three well-separated clusters in 8 dims, 4 points each
    def pt(center: Float, jitter: Float) =
      Seq.tabulate(8)(i => center + (if (i % 2 == 0) jitter else -jitter))
    val rows = (0 until 12).map { i =>
      val c = i / 4
      val center = Seq(-10f, 0f, 10f)(c)
      (i.toLong, pt(center, 0.1f * (i % 4)), c)
    }
    val df = rows.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding")
    val idx = Similarity.pqBuild(df, "vec_id", "embedding", nsub = 4, k = 3)
    val codes = idx.codes.as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == 12 && codes.values.forall(c =>
      c.length == 4 && c.forall(x => x >= 0 && x < 3)))
    // two IDENTICAL vectors must share a code vector
    val dup = df.union(Seq((99L, pt(-10f, 0f))).toDF("vec_id", "embedding"))
    val idx2 = Similarity.pqBuild(dup, "vec_id", "embedding", nsub = 4, k = 3)
    val c2 = idx2.codes.as[(Long, Seq[Int])].collect().toMap
    assert(c2(99L) == c2(0L), "identical vectors must encode identically")
    // ADC top-1 stays inside the query's own cluster for every point
    val top1 = Similarity.pqTopK(idx, df, "vec_id", "embedding", 1)
      .as[(Long, Long, Long, Double)].collect()
    assert(top1.length == 12)
    top1.foreach { case (q, n, _, _) =>
      assert(q / 4 == n / 4, s"query $q retrieved cross-cluster neighbor $n")
      assert(q != n, "self-matches excluded")
    }
    // ranks are dense from 1 and distances non-decreasing per query
    val top3 = Similarity.pqTopK(idx, df.filter(col("vec_id") === 0L),
      "vec_id", "embedding", 3).as[(Long, Long, Long, Double)].collect()
      .sortBy(_._3)
    assert(top3.map(_._3).toSeq == Seq(1L, 2L, 3L))
    assert(top3.sliding(2).forall(p => p(0)._4 <= p(1)._4))
  }

  test("pq/ivfpq ADC: corpus-sized query sets refuse loudly (driver contract)") {
    // per-query ADC tables are DRIVER-resident by contract — past
    // maxQueries the APIs must throw (probing only cap+1 rows), never OOM
    def pt(center: Float, j: Float) =
      Seq.tabulate(8)(i => center + (if (i % 2 == 0) j else -j))
    val df = (0 until 12).map(i =>
      (i.toLong, pt(Seq(-10f, 0f, 10f)(i / 4), 0.1f * (i % 4))))
      .toDF("vec_id", "embedding")
    val pqIdx = Similarity.pqBuild(df, "vec_id", "embedding", nsub = 4, k = 3)
    val ePq = intercept[IllegalArgumentException] {
      Similarity.pqTopK(pqIdx, df, "vec_id", "embedding", 1, maxQueries = 4)
    }
    assert(ePq.getMessage.contains("maxQueries"))
    val ivfIdx = Similarity.ivfBuild(df, "vec_id", "embedding", nlist = 3)
    val eIvf = intercept[IllegalArgumentException] {
      Similarity.ivfPqSearch(ivfIdx, pqIdx, df, "vec_id", "embedding",
        k = 1, nprobe = 3, maxQueries = 4)
    }
    assert(eIvf.getMessage.contains("maxQueries"))
    // at the bound the search still runs (12 queries ≤ 12)
    val ok = Similarity.pqTopK(pqIdx, df, "vec_id", "embedding", 1,
      maxQueries = 12)
    assert(ok.count() == 12)
  }

  test("pcaPower: recovers an axis-aligned dominant direction; invariant; degenerate keeps v0") {
    // all variance on axis 1 → loadings (2^20, 0); sign follows the
    // positive-energy direction from the all-ones start
    val axis = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)), (3L, Seq(-0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pcaPower(axis, "embedding", dim = 2, iterations = 4)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1048576L), (2L, 0L)))
    val rep = Similarity.pcaPower(axis.repartition(3), "embedding", 2, 4)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(rep.toSeq == out.toSeq, "partitioning-invariant bits")
    // all-zero matrix: degenerate — the start vector survives unchanged
    val zero = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val z = Similarity.pcaPower(zero, "embedding", 2, 3)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(z.toSeq == Seq((1L, 1048576L), (2L, 1048576L)))
  }

  test("pcaPower: a ragged (short) vector drops its row instead of failing the job") {
    val good = Seq((1L, Seq(1.0f, 0.5f)), (2L, Seq(2.0f, 1.0f)), (3L, Seq(-0.5f, 0.25f)))
    val clean = Similarity.pcaPower(good.toDF("vec_id", "embedding"), "embedding", 2, 4)
      .as[(Long, Long)].collect().sortBy(_._1)
    val ragged = Similarity.pcaPower(
      (good :+ ((4L, Seq(9.0f)))).toDF("vec_id", "embedding"), "embedding", 2, 4)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(ragged.toSeq == clean.toSeq)
  }

  test("lookalike: matches a Scala grid-centroid replay; partition-invariant; seeds excluded") {
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    val seeds = vecs.filter(_._1 < 8)
    // exact-grid centroid: per-component floor(x·2^20) long sums
    val dim = seeds.head._2.length
    val cent = (0 until dim).map { i =>
      seeds.values.map(v => math.floor(v(i).toDouble * 1048576.0).toLong).sum.toDouble
    }.toArray
    val cNorm = math.sqrt(cent.map(x => x * x).sum)
    val expected = vecs.toSeq.filter(_._1 >= 8)
      .map { case (id, v) =>
        val d = v.zip(cent).map { case (x, c) => x.toDouble * c }.sum
        val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
        (id, d / (n * cNorm))
      }
      .sortBy { case (id, c) => (-c, id) }.take(20).map(_._1)
    val got = Similarity.lookalike(emb, "vec_id", "embedding", col("vec_id") < 8, 20)
      .select("vec_id").as[Long].collect().toSeq
    // ranking must agree (scores differ only in fold order below 1e-12)
    assert(got == expected)
    assert(got.forall(_ >= 8), "seed members never appear in their own expansion")
    val re = Similarity.lookalike(emb.repartition(7), "vec_id", "embedding", col("vec_id") < 8, 20)
      .select("vec_id").as[Long].collect().toSeq
    assert(re == got, "grid centroid is partition-invariant")
    intercept[IllegalArgumentException](
      Similarity.lookalike(emb, "vec_id", "embedding", col("vec_id") < -1, 20))
  }

  test("lshTopK: well-formed ranks, nonzero recall vs brute force") {
    val brute = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = Similarity
      .lshTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10, bits = 4)
      .select("q_id", "n_id", "rank").as[(Long, Long, Int)].collect()
    assert(approx.groupBy(_._1).forall(_._2.map(_._3).sorted.sameElements(1 to 10)) ||
      approx.groupBy(_._1).forall(g => g._2.map(_._3).sorted.toSeq == (1 to g._2.length)))
    val recall = approx.map(p => (p._1, p._2)).count(brute).toDouble / brute.size
    assert(recall > 0.0 && recall <= 1.0)
  }

  test("ivfTopK: exhaustive probes equal brute force exactly; partial probes recall") {
    val brute = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
      .select("q_id", "n_id", "rank").as[(Long, Long, Int)].collect().toSet
    // nprobe == nlist: every cell searched — must be the exact answer
    val exhaustive = Similarity
      .ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10,
        nlist = 8, nprobe = 8)
      .select("q_id", "n_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(exhaustive == brute)
    // partial probes: approximate, but well-formed and with useful recall
    val approx = Similarity
      .ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10,
        nlist = 8, nprobe = 3)
      .select("q_id", "n_id", "rank").as[(Long, Long, Int)].collect()
    assert(approx.groupBy(_._1).forall(g => g._2.map(_._3).sorted.toSeq == (1 to g._2.length)))
    val recall = approx.map(p => (p._1, p._2)).count(p => brute.exists(b => (b._1, b._2) == p)).toDouble / brute.size
    assert(recall > 0.3, s"IVF recall $recall with 3/8 probes")
  }

  test("ivfPqTopK: exhaustive probes equal pqTopK exactly; partial probes well-formed") {
    // nprobe == nlist routes every candidate — the composite must
    // degenerate to plain PQ ADC search (same codes, same tables)
    val pqIdx = Similarity.pqBuild(emb, "vec_id", "embedding", nsub = 8, k = 16)
    val pqFull = Similarity
      .pqTopK(pqIdx, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSet
    val exhaustive = Similarity
      .ivfPqTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10,
        nlist = 8, nprobe = 8)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(exhaustive == pqFull)
    // partial probes: dense contiguous per-query ranks, no self-matches
    val approx = Similarity
      .ivfPqTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10,
        nlist = 8, nprobe = 3)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect()
    assert(approx.forall(p => p._1 != p._2), "self-match leaked")
    assert(approx.groupBy(_._1).forall(g =>
      g._2.map(_._3).sorted.toSeq == (1L to g._2.length)))
  }

  test("ivfTopK: reservoir training draw is seed-deterministic") {
    def run() = Similarity
      .ivfTopK(emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding", 5,
        nlist = 4, nprobe = 2, seed = 7L)
      .select("q_id", "n_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(run() == run(), "same corpus + seed must reproduce the same result")
  }

  test("lshTopK and cosineNearDupPairs adapt to non-64-dim embeddings") {
    // 8-dim vectors: two aligned clusters plus an orthogonal singleton.
    // With the r2 hardcoded dim=64 the planes were degenerate for d<64.
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Seq[Float] =
      base.map(x => x + rnd.nextFloat() * 0.01f).toSeq
    val up = Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
    val side = Array(0f, 0f, 0f, 0f, 1f, 1f, 1f, 1f)
    val vecs = (0L until 6L).map(i => (i, jitter(up))) ++
      (6L until 12L).map(i => (i, jitter(side)))
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", 0.99, bits = 2)
      .as[(Long, Long, Double)].collect()
    val raw = vecs.toMap
    pairs.foreach { case (a, b, _) =>
      assert(cosine(raw(a), raw(b)) >= 0.99 - 1e-9, s"false positive ($a,$b)")
    }
    assert(pairs.nonEmpty, "same-cluster near-dups must surface in 8-dim space")
    val topk = Similarity.lshTopK(df, df.filter(col("vec_id") === 0), "vec_id", "embedding", 3, bits = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(topk.nonEmpty && topk.forall(_._1 == 0L))
    // mismatched query/corpus dims must fail loudly, not truncate silently
    val bad = Seq((99L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(df, bad, "vec_id", "embedding", 3, bits = 2)
    }
  }

  // --- Multimodal ---------------------------------------------------------

  test("multimodal extractFeatures matches metadata arithmetic") {
    val media = Multimodal.mediaFromDocuments(spark, dir)
    val feats = Multimodal.extractFeatures(media, batchSize = 7)
      .as[Multimodal.MediaFeature].collect().map(f => f.media_id -> f).toMap
    val meta = Multimodal.metadata(media)
      .select("media_id", "n_bytes").as[(Long, Long)].collect().toMap
    assert(feats.keySet == meta.keySet)
    feats.values.foreach { f =>
      val n = meta(f.media_id)
      assert(f.n_bytes == n)
      assert(f.width == 16 + n % 64)
      assert(f.height == 16 + (n * 7) % 64)
      assert(f.n_frames == 1 + n % 10)
      assert(math.abs(f.aspect - f.width.toDouble / f.height) < 1e-4)
    }
  }

  // --- TextOps sanity ------------------------------------------------------

  test("rolling hashes: order-sensitive, zero on empty, replayable ≡ Scala fold") {
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "gamma beta alpha"), // same tokens, other order
      (3L, ""), (4L, null.asInstanceOf[String]), (5L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    def run(c: org.apache.spark.sql.Column) =
      df.select(col("doc_id"), c.as("h")).as[(Long, Option[Long])].collect().toMap
    for (h <- Seq(run(TextOps.rollingHash(col("text"))),
                  run(TextOps.rollingHashReplayable(col("text"))))) {
      assert(h(1L) != h(2L), "token order must change the hash")
      assert(h(1L) == h(5L), "equal content ⇒ equal hash")
      assert(h(3L).contains(0L), "empty text folds to 0")
      assert(h(4L).isEmpty, "null text hashes to null, like every content op")
    }
    // the replayable variant against a plain Scala fold of the same spec
    val p = 1000000007L
    def scalaRoll(s: String): Long =
      s.toLowerCase.split("\\s+").filter(_.nonEmpty).foldLeft(0L) { (acc, w) =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8"))
        val v = md.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
        (acc * 31L + v % p) % p
      }
    val got = run(TextOps.rollingHashReplayable(col("text")))
    assert(got(1L).contains(scalaRoll("alpha beta gamma")), s"got ${got(1L)}")
    assert(got(2L).contains(scalaRoll("gamma beta alpha")))
  }

  test("text ops on known strings") {
    val df = Seq(
      (1L, "The cat sat on the mat. It was warm."),
      (2L, "el gato y la casa de que en un los"),
      (3L, ""),
      (4L, "   spaced    out   words   ")).toDF("doc_id", "text")
    val r = df.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.langId(col("text")).as("lang"),
      TextOps.fingerprint(col("text")).as("fp"))
      .as[(Long, Int, String, String)].collect().map(t => t._1 -> t).toMap
    assert(r(1L)._2 == 9 && r(1L)._3 == "en")
    assert(r(2L)._3 == "es")
    assert(r(3L)._2 == 0 && r(3L)._3 == "unknown")
    assert(r(4L)._2 == 3)
    // fingerprint ignores whitespace differences
    val fps = Seq((1L, "a  b\tc"), (2L, "a b c")).toDF("doc_id", "text")
      .select(TextOps.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("repetition signals on known strings") {
    val df = Seq(
      (1L, "spam spam spam spam"), // one token repeated: dup 3/4, bigram "spam spam" covers all
      (2L, "all words are different here"), // no repetition at all
      (3L, "one"), // single token: no bigrams
      (4L, "")).toDF("doc_id", "text")
    val staged = df.select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
    val r = staged.select(
      col("doc_id"),
      TextOps.dupUnitFraction(col("ws")).as("dupf"),
      TextOps.wordNgramsAllOfTokens(col("ws"), 2).as("bgs"))
      .as[(Long, Double, Seq[String])].collect().map(t => t._1 -> t).toMap
    assert(r(1L)._2 == 0.75 && r(1L)._3 == Seq.fill(3)("spam spam"))
    assert(r(2L)._2 == 0.0 && r(2L)._3.distinct.length == 4)
    assert(r(3L)._3.isEmpty, "single token has no bigrams")
    assert(r(4L)._2 == 0.0 && r(4L)._3.isEmpty)
  }

  // --- int8 quantization ---------------------------------------------------

  test("quantizeInt8: codes bounded, extreme component saturates, reconstruction tight") {
    val q = Similarity.quantizeInt8(emb, "embedding")
      .select("vec_id", "scale", "q").as[(Long, Double, Seq[Int])].collect()
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    assert(q.length == vecs.size)
    q.foreach { case (id, scale, codes) =>
      val v = vecs(id)
      assert(codes.length == v.length)
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id codes out of range")
      // the max-|component| must quantize to exactly ±127
      val mx = v.map(x => math.abs(x.toDouble)).max
      if (mx > 0) assert(codes.map(math.abs).max == 127, s"vec $id missing saturated code")
      // reconstruction: |q/scale - v| <= half a quantization step
      codes.indices.foreach { i =>
        assert(math.abs(codes(i) / scale - v(i)) <= 0.5 / scale + 1e-12,
          s"vec $id component $i reconstruction off")
      }
    }
  }

  test("IVF lifecycle: save/load/search replays the fused path; cells prune partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val queries = emb.filter(col("vec_id") < 8)
    val direct = Similarity
      .ivfTopK(emb, queries, "vec_id", "embedding", 10, nlist = 8, nprobe = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    Similarity.ivfBuild(emb, "vec_id", "embedding", nlist = 8).save(dir)
    val loaded = Similarity.ivfLoad(spark, dir)
    val replay = Similarity
      .ivfSearch(loaded, queries, "vec_id", "embedding", 10, nprobe = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    // same seed, same quantizer, same cells: the persisted index must
    // reproduce the fused build+search answer exactly (cosines bitwise)
    assert(replay == direct)
    // the save layout is partitioned by cell: a cell filter prunes at the
    // FILE level, which is why a probe reads ~nprobe/nlist of the corpus
    val probe = loaded.assigned.filter(col("cell") === 3)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"), scan)
    assert(probe.count() > 0)
  }

  test("ivfAppend: incremental batch equals assign-union under the same quantizer") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    val seed = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val idx = Similarity.ivfBuild(seed, "vec_id", "embedding", nlist = 8)
    idx.save(dir)
    Similarity.ivfAppend(spark, dir, batch, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 8)
    val got = Similarity
      .ivfSearch(Similarity.ivfLoad(spark, dir), queries, "vec_id", "embedding", 10, nprobe = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    // reference: the whole union assigned in one shot with the SAME
    // centroids (append never refits the quantizer) — must match bitwise
    val rebuilt = Similarity.IvfIndex(
      idx.centroids, Similarity.assignCells(emb, "vec_id", "embedding", idx.centroids))
    val want = Similarity
      .ivfSearch(rebuilt, queries, "vec_id", "embedding", 10, nprobe = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want)
    // the appended batch is discoverable, and the layout still prunes
    assert(got.exists(_._2 % 2 == 1), "appended vectors must be searchable")
    val probe = Similarity.ivfLoad(spark, dir).assigned.filter(col("cell") === 3)
    assert(probe.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // a mismatched-dim batch is refused loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(spark, dir,
        Seq((9999L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
  }

  test("int8TopK: ranks well-formed, high recall vs float brute force") {
    val brute = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val int8 = Similarity
      .int8TopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
      .select("q_id", "n_id", "rank").as[(Long, Long, Int)].collect()
    assert(int8.groupBy(_._1).forall(g => g._2.map(_._3).sorted.toSeq == (1 to g._2.length)))
    // 8 bits per component on unit vectors preserves ordering except at
    // near-ties — and the synthetic fixture is full of near-equidistant
    // cluster siblings, so rank-boundary flips are expected (measured
    // ~0.79 here; real-corpus recall runs higher because true neighbors
    // separate more). The bound guards collapse, not ties.
    val recall = int8.map(p => (p._1, p._2)).count(brute).toDouble / brute.size
    assert(recall >= 0.7, s"int8 recall $recall vs float brute force")
  }

  test("int8TopK refuses mismatched query/corpus dims loudly") {
    // the guard now lives inside the plan (raise_error) so the former
    // per-side driver probe jobs are gone — the failure surfaces at
    // execution, still loudly
    val short = Seq((100L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.int8TopK(emb, short, "vec_id", "embedding", 5).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dim")), e.getMessage)
  }

  test("quantizeInt8 property: arbitrary float vectors stay bounded and reconstruct") {
    import org.scalacheck.{Gen, Prop}
    val genVec = for {
      d <- Gen.chooseNum(1, 16)
      v <- Gen.listOfN(d, Gen.chooseNum(-1e6f, 1e6f))
    } yield v
    val prop = Prop.forAll(Gen.listOfN(8, genVec)) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      val q = Similarity.quantizeInt8(df, "v")
        .select("vec_id", "scale", "q").as[(Long, Double, Seq[Int])].collect()
      q.forall { case (id, scale, codes) =>
        val v = vecs(id.toInt)
        scale > 0 &&
          codes.forall(c => c.abs <= 127) &&
          codes.indices.forall(i => math.abs(codes(i) / scale - v(i)) <= 0.5 / scale + 1e-9)
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("heavy_hitters: CMS prefilter is output-invisible (filtered ≡ unfiltered exact)") {
    val toks = docs.select(org.apache.spark.sql.functions.explode(
      TextOps.tokens(col("text"))).as("token"))
    val got = graft.queries.PipelineQueries.heavyHitters(spark, dir)
      .as[(String, Long)].collect().toMap
    // the definitionally-exact answer, no sketch anywhere
    val n = toks.count()
    val minFreq = math.ceil(n / 30.0).toLong
    val exact = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .as[(String, Long)].collect().toMap
    assert(got == exact,
      s"CMS prefilter changed the answer: got ${got.size} hitters, exact ${exact.size}")
    assert(exact.nonEmpty, "fixture must exercise the threshold")
    // and the prefilter must actually drop the tail (the scale lever):
    // the fixture's 'dup' token sits far below φ·N
    assert(!got.contains("dup"))
  }

  // --- incremental aggregate ----------------------------------------------

  test("IncrementalAgg: any batching gives the exact full-recompute answer") {
    val rows = (1L to 200L).map(i => (i, i % 7, (i * 37 % 1000) / 100.0)).toDF("id", "k", "v")
    def run(splits: Seq[org.apache.spark.sql.Column]): Map[Long, (Double, Long)] = {
      val agg = IncrementalAgg(spark, Seq("k"), "v", scale = 2)
      splits.foreach(p => agg.update(rows.filter(p)))
      agg.current().as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      // state backs the collected result; freed with the session
    }
    val oneShot = run(Seq(lit(true)))
    val threeWay = run((0 to 2).map(i => col("id") % 3 === i))
    assert(oneShot == threeWay, "incremental result must not depend on batching")
    // against a plain Spark full recompute (decimal-exact)
    val full = rows.groupBy("k")
      .agg(
        sum(col("v").cast("decimal(28,2)")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(oneShot == full)
  }

  test("IncrementalAgg.durable survives restart: recovery equals recompute") {
    val dir = java.nio.file.Files.createTempDirectory("graft_aggstore").toString
    val rows = (1L to 120L).map(i => (i, i % 5, (i * 53 % 997) / 100.0)).toDF("id", "k", "v")
    val a1 = IncrementalAgg.durable(spark, Seq("k"), "v", dir, scale = 2)
    a1.update(rows.filter(col("id") <= 60))
    a1.update(rows.filter(col("id") > 60 && col("id") <= 90))
    a1.close() // simulated shutdown: durable snapshots stay on disk
    val a2 = IncrementalAgg.durable(spark, Seq("k"), "v", dir, scale = 2)
    a2.update(rows.filter(col("id") > 90))
    val got = a2.current().as[(Long, Double, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val full = rows.groupBy("k")
      .agg(
        sum(col("v").cast("decimal(38,2)")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == full, "recovered-and-continued rollup must equal a full recompute")
    // superseded snapshots are garbage-collected: only the latest remains
    val snaps = new java.io.File(dir).list().filter(_.startsWith("state_v"))
    assert(snaps.length == 1, snaps.mkString(","))
  }

  test("IncrementalAgg retention window: time travel reads any kept epoch, loud outside") {
    val dir = java.nio.file.Files.createTempDirectory("graft_aggstore_tt").toString
    val rows = (1L to 90L).map(i => (i, i % 4, (i * 41 % 701) / 100.0)).toDF("id", "k", "v")
    val a = IncrementalAgg.durable(spark, Seq("k"), "v", dir, scale = 2, retain = 2)
    (0 to 2).foreach(i => a.update(rows.filter(col("id") % 3 === i)))
    // retain = 2 after three epochs → versions 2 and 3 on disk, 1 GC'd
    assert(IncrementalAgg.versions(spark, dir) == Seq(2L, 3L))
    // time-traveled epoch 2 equals a full recompute over batches 0..1
    def recompute(p: org.apache.spark.sql.Column) = rows.filter(p).groupBy("k")
      .agg(sum(col("v").cast("decimal(38,2)")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val v2 = IncrementalAgg.readVersion(spark, dir, 2L)
      .as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(v2 == recompute(col("id") % 3 <= 1))
    // the latest retained version equals the live rollup
    val v3 = IncrementalAgg.readVersion(spark, dir, 3L)
      .as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val live = a.current().as[(Long, Double, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(v3 == live && v3 == recompute(lit(true)))
    // outside the window (GC'd) or never written: loud failure, no fallback
    intercept[IllegalArgumentException](IncrementalAgg.readVersion(spark, dir, 1L))
    intercept[IllegalArgumentException](IncrementalAgg.readVersion(spark, dir, 9L))
    intercept[IllegalArgumentException](
      IncrementalAgg.durable(spark, Seq("k"), "v", dir, scale = 2, retain = 0))
  }

  test("IncrementalAgg.durable recovery skips a torn (no _SUCCESS) snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_aggstore_torn").toString
    val rows = (1L to 80L).map(i => (i, i % 4, (i * 31 % 503) / 100.0)).toDF("id", "k", "v")
    val a1 = IncrementalAgg.durable(spark, Seq("k"), "v", dir, scale = 2)
    a1.update(rows)
    a1.close()
    // simulate a crash mid-write of the NEXT snapshot: a higher-versioned
    // state_v dir exists without the job-commit _SUCCESS marker (reading it
    // would throw — so this also proves recovery never touches it)
    new java.io.File(dir, "state_v99").mkdirs()
    val a2 = IncrementalAgg.durable(spark, Seq("k"), "v", dir, scale = 2)
    val got = a2.current().as[(Long, Double, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val full = rows.groupBy("k")
      .agg(
        sum(col("v").cast("decimal(38,2)")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == full, "recovery must fall back to the latest committed snapshot")
  }

  test("IncrementalAgg.durable recovery works without Hadoop's _SUCCESS marker") {
    // object-store configs disable marksuccessfuljobs; recovery must key on
    // the engine's own _GRAFT_COMMIT, written after the parquet job returns
    val dir = java.nio.file.Files.createTempDirectory("graft_aggstore_nosucc").toString
    val rows = (1L to 60L).map(i => (i % 3, i * 0.5)).toDF("k", "v")
    val a1 = IncrementalAgg.durable(spark, Seq("k"), "v", dir, scale = 2)
    a1.update(rows)
    a1.close()
    val snap = new java.io.File(dir).listFiles().filter(_.getName.startsWith("state_v")).head
    val succ = new java.io.File(snap, "_SUCCESS")
    assert(new java.io.File(snap, IncrementalAgg.CommitMarker).exists(),
      "materialize must write its own commit marker")
    if (succ.exists()) succ.delete() // simulate marksuccessfuljobs=false
    val a2 = IncrementalAgg.durable(spark, Seq("k"), "v", dir, scale = 2)
    assert(a2.current().count() == 3, "recovery must not depend on _SUCCESS")
  }

  test("Snapshot.diff classifies all four transitions incl. null content") {
    val before = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (4L, None: Option[String]), (5L, Some(""))).toDF("id", "v")
    val after = Seq(
      (1L, Some("a")), // unchanged
      (2L, Some("B")), // changed
      // 3 removed
      (4L, Some("")), // null -> empty IS a change (marker prefix)
      (5L, Some("")), // unchanged empty
      (6L, Some("new")) // added
    ).toDF("id", "v")
    val got = Snapshot.diff(before, after, Seq("id"), Seq("v"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "unchanged", 6L -> "added"))
    val summary = Snapshot.diffSummary(before, after, Seq("id"), Seq("v"))
      .as[(String, Long)].collect().toMap
    assert(summary == Map("unchanged" -> 2L, "changed" -> 2L, "removed" -> 1L, "added" -> 1L))
  }

  test("Snapshot.diff digest is injective across cell boundaries") {
    // ("a1","b") vs ("a","1b") concatenate identically without a boundary
    // marker; the length prefix must keep them distinct ⇒ status = changed
    val before = Seq((1L, "a1", "b"), (2L, "x", "")).toDF("id", "u", "v")
    val after = Seq((1L, "a", "1b"), (2L, "", "x")).toDF("id", "u", "v")
    val got = Snapshot.diff(before, after, Seq("id"), Seq("u", "v"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "changed", 2L -> "changed"))
  }

  test("Checks count violations on a dirty frame (fixture data is clean)") {
    val child = Seq(
      (1L, Some(10L), Some("a")),
      (1L, Some(10L), Some("b")), // dup pk 1
      (2L, Some(99L), None), // orphan fk + null col
      (3L, None, Some("c")) // null fk (orphan by default)
    ).toDF("id", "fk", "v")
    val parent = Seq(10L).toDF("pk")
    assert(Checks.duplicateKeys(child, Seq("id")).head.getLong(0) == 1L)
    assert(Checks.orphans(child, parent, "fk", "pk").head.getLong(0) == 2L)
    assert(
      Checks.orphans(child, parent, "fk", "pk", countNullAsOrphan = false)
        .head.getLong(0) == 1L)
    assert(Checks.incomplete(child, Seq("fk", "v")).head.getLong(0) == 2L)
    val prof = Checks.profile(child, Seq("fk"))
      .as[(String, Long, Long, Long, String, String)].head()
    assert(prof == (("fk", 4L, 1L, 2L, "10", "99")))
  }

  test("Checks.keyProfile: all combos from one scan, verdicts and counts exact") {
    val df = Seq(
      (1L, 10L, "x"), (2L, 10L, "x"), (3L, 20L, "y"), (4L, 20L, "x"),
      (5L, 30L, "y")).toDF("id", "fk", "tag")
    // one scan however many combos (same accumulator technique as profile)
    val acc = spark.sparkContext.longAccumulator("keyprofile_rows_read")
    val mark = udf { (_: Long) => { acc.add(1L); true } }.asNondeterministic()
    val marked = df.filter(mark(col("id")))
    val out = Checks.keyProfile(marked,
      Seq(Seq("id"), Seq("fk"), Seq("fk", "tag")))
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(acc.value == 5, s"rows read ${acc.value}: grouping sets must scan once")
    // id: unique key; fk: 10→2, 20→2, 30→1; (fk,tag): (10,x)→2 others 1
    assert(out("id") == (("id", 5L, 0L, 1L, 5L, true)))
    assert(out("fk") == (("fk", 3L, 2L, 2L, 5L, false)))
    assert(out("fk,tag") == (("fk,tag", 4L, 1L, 2L, 5L, false)))
    // null key values group like values (SQL GROUP BY)
    val withNull = Seq((Some(1L), "a"), (None, "a"), (None, "b"), (None, "b"))
      .toDF("k", "v")
    val np = Checks.keyProfile(withNull, Seq(Seq("k", "v")))
      .as[(String, Long, Long, Long, Long, Boolean)].head()
    assert(np == (("k,v", 3L, 1L, 2L, 4L, false)))
  }

  test("Checks.profile: stats ride one pass; exact distincts one pruned pass per column") {
    // the nondeterministic marker counts rows each executed scan reads:
    // exact mode costs one stats pass plus one column-pruned pass per
    // column (k+1 scans — the Expand-free shape; the old single-agg
    // multi-countDistinct form expanded to (k+1)·rows and double-sorted
    // them, measured 2.4× slower at sf0.1)
    val acc = spark.sparkContext.longAccumulator("profile_rows_read")
    val mark = udf { (_: Long) => { acc.add(1L); true } }.asNondeterministic()
    val raw = (1L to 500L).map(i => (i, i % 7, s"s${i % 13}", i % 2 == 0))
      .toDF("a", "b", "c", "d")
    val df = raw.filter(mark(col("a")))
    val exact = Checks.profile(df, Seq("a", "b", "c", "d"))
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(acc.value == 500L * 5,
      s"rows read ${acc.value}: exact profile must cost the stats pass + 4 pruned passes")
    val expected = Map("a" -> 500L, "b" -> 7L, "c" -> 13L, "d" -> 2L)
    exact.foreach(r => assert(r._4 == expected(r._1), r.toString))
    // approx mode (the single-scan 100 TB path): one pass, estimates
    // within HLL++ error
    acc.reset()
    val approx = Checks.profile(df, Seq("a", "b", "c", "d"), approxDistinct = true)
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(acc.value == 500, s"approx profile read ${acc.value} rows")
    approx.foreach { r =>
      assert(math.abs(r._4 - expected(r._1)) <= expected(r._1) / 10 + 1, r.toString)
    }
    // duplicate entries must profile twice, not throw ambiguous-reference
    // (counters are aliased by position, not by the raw column name)
    val dup = Checks.profile(raw, Seq("a", "a"))
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(dup.length == 2 && dup.distinct.length == 1, dup.mkString(","))
    // a DERIVED input (aggregate upstream) pins ONCE: the k+1 exact passes
    // read the checkpoint, so the marked upstream executes exactly once —
    // not k+1 times (the r13 advisory's finding)
    acc.reset()
    val derived = df.groupBy("a", "b", "c", "d").count().drop("count")
    Checks.profile(derived, Seq("a", "b")).collect()
    assert(acc.value == 500,
      s"derived-input exact profile executed its upstream ${acc.value / 500.0} times; must pin once")
  }

  test("Funnel.stages counts only strictly-ordered conversions") {
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:00:$s%02d")
    val events = Seq(
      (1L, "view", t(1)), (1L, "click", t(2)), (1L, "purchase", t(3)),
      (2L, "click", t(1)), (2L, "view", t(2)), // click BEFORE view: stalls at view
      (3L, "purchase", t(1)), (3L, "view", t(2)), (3L, "click", t(3)), // early purchase doesn't count
      (4L, "click", t(1)) // never viewed: enters nothing
    ).toDF("user_id", "event_type", "ts")
    val got = Funnel
      .stages(events, "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .as[(String, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got == Map("view" -> 3L, "click" -> 2L, "purchase" -> 1L))
  }

  test("Funnel.stages scans the events table exactly once per stage") {
    // a nondeterministic marker filter cannot be reordered or deduplicated
    // away, so the accumulator counts every row each executed scan reads;
    // the un-materialized chain would re-embed stages 1..k in each count
    // branch (1+2+3 = 6n reads for 3 stages) — materialized survivors must
    // read exactly 3n
    val acc = spark.sparkContext.longAccumulator("funnel_rows_read")
    val mark = udf { (_: Long) => { acc.add(1L); true } }.asNondeterministic()
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:00:$s%02d")
    val raw = (1L to 300L).map { i =>
      val stage = (i % 3) match {
        case 0 => "view"; case 1 => "click"; case _ => "purchase"
      }
      (i % 50, stage, t((i % 60).toInt))
    }.toDF("user_id", "event_type", "ts")
    val events = raw.filter(mark(col("user_id")))
    Funnel.stages(events, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase")).collect()
    val n = raw.count()
    assert(acc.value == 3 * n,
      s"events rows read ${acc.value}, expected exactly ${3 * n} (one scan per stage)")
  }

  test("Linkage.fuzzyPairs: block gating, boundary distance, exact values") {
    val recs = Seq(
      (1L, "acme corp"), (2L, "acme korp"), // dist 1, same block 'a'
      (3L, "acme co"), // dist 2 from #1: over maxDist=1
      (4L, "beta llc"), (5L, "beta llc"), // dist 0, block 'b'
      (6L, "aeta llc") // dist 1 from #4 BUT different block: never compared
    ).toDF("id", "name")
    val got = Linkage
      .fuzzyPairs(recs, "id", "name", substring(col("name"), 1, 1), maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    // boundary dist == maxDist survives; cross-block near-match is honest recall loss
    assert(got == Set((1L, 2L, 1), (4L, 5L, 0)))
  }

  test("fuzzyPairsMultiKey recovers cross-block true pairs, gates each pair once") {
    val recs = Seq(
      (1L, "acme corp"), (2L, "acme korp"), // share prefix AND suffix blocks
      (3L, "acme co"), // dist 2 from #1: over maxDist=1 in any block
      (4L, "beta llc"), (5L, "beta llc"),
      (6L, "aeta llc"), // head typo of #4: prefix block misses, suffix block catches
      (7L, null.asInstanceOf[String]) // null name: its keys are null, no candidates
    ).toDF("id", "name")
    val prefix = substring(col("name"), 1, 1)
    val suffix = substring(col("name"), -1, 1)
    // single-key recall loss, pinned: (4,6) lost on prefix alone
    val single = Linkage.fuzzyPairs(recs, "id", "name", prefix, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(!single.exists(p => p._1 == 4L && p._2 == 6L))
    val multi = Linkage
      .fuzzyPairsMultiKey(recs, "id", "name", Seq(prefix, suffix), maxDist = 1)
      .as[(Long, Long, Int)].collect()
    // the union recovers it; pairs seen by both passes appear exactly once
    assert(multi.map(p => (p._1, p._2)).distinct.length == multi.length)
    assert(multi.toSet == Set((1L, 2L, 1), (4L, 5L, 0), (4L, 6L, 1), (5L, 6L, 1)))
  }

  // --- RAKE keyphrases -----------------------------------------------------

  test("rakePhrases: hand-computed deg/freq scores, run splits, dedup") {
    // doc 1: "deep learning of deep networks" →
    //   stopword 'of' splits runs: ["deep learning", "deep networks"]
    //   freq: deep=2, learning=1, networks=1; deg: deep=2+2=4,
    //   learning=2, networks=2
    //   wscore: deep=2e6, learning=2e6, networks=2e6
    //   phrase scores: both 4e6 → tie broken by phrase text asc
    val df = Seq(
      (1L, "deep learning of deep networks"),
      (2L, "alpha beta alpha beta") // one run of 4; identical dedup N/A
    ).toDF("doc_id", "text")
    val out = TextOps.rakePhrases(df, "doc_id", "text", topK = 3)
      .select("doc_id", "phrase", "score", "rank")
      .as[(Long, String, Long, Int)].collect().groupBy(_._1)
    val d1 = out(1L).sortBy(_._4).toSeq
    assert(d1 == Seq(
      (1L, "deep learning", 4000000L, 1),
      (1L, "deep networks", 4000000L, 2)))
    // doc 2: one phrase "alpha beta alpha beta"; freq a=2 b=2, deg a=8 b=8
    // wscore 4e6 each; phrase score = 4 occurrences × 4e6 = 16e6
    val d2 = out(2L).toSeq
    assert(d2 == Seq((2L, "alpha beta alpha beta", 16000000L, 1)))
    // duplicate phrase text collapses to one candidate
    val dup = Seq((3L, "red car of red car")).toDF("doc_id", "text")
    val d3 = TextOps.rakePhrases(dup, "doc_id", "text", 5)
      .select("phrase").as[String].collect().toSeq
    assert(d3 == Seq("red car"))
  }

  // --- sorted-neighborhood linkage -----------------------------------------

  test("sortedNeighborhoodPairs: positional recall, window bound, id order") {
    import graft.ops.Linkage
    // names with a LEADING typo ("Xmith"/"Smith"): prefix blocking would
    // separate them; sorted by REVERSED name they are adjacent
    val df = Seq(
      (1L, "Smith"), (2L, "Xmith"), // dist 1, adjacent under reverse sort
      (3L, "Jones"), (4L, "Janes"), // dist 1
      (5L, "Zzzzz") // far from everything
    ).toDF("id", "name")
    val out = Linkage.sortedNeighborhoodPairs(
      df, "id", "name", reverse(col("name")), window = 4, maxDist = 1)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(out.contains((1L, 2L, 1)), "leading-typo pair must be found")
    assert(out.contains((3L, 4L, 1)))
    assert(out.forall { case (a, b, _) => a < b })
    // window=1 with 5 rows: at most 4 candidate pairs ever compared;
    // a pair >window apart in sort order is invisible even at dist 0
    val tight = Seq((1L, "aa"), (2L, "ab"), (3L, "ac"), (4L, "aa")).toDF("id", "name")
    val w1 = Linkage.sortedNeighborhoodPairs(
      tight, "id", "name", col("name"), window = 1, maxDist = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // sort order: aa(1), aa(4), ab(2), ac(3) → rank pairs (1,4),(4,2),(2,3)
    assert(w1 == Set((1L, 4L), (2L, 4L), (2L, 3L)))
    // brute-force agreement at a window covering everything
    val all = Linkage.sortedNeighborhoodPairs(
      df, "id", "name", reverse(col("name")), window = 10, maxDist = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      a <- 1L to 5L; b <- (a + 1) to 5L
      na = df.filter(col("id") === a).head.getString(1)
      nb = df.filter(col("id") === b).head.getString(1)
      if na.zip(nb).count { case (x, y) => x != y } +
        math.abs(na.length - nb.length) <= 1
    } yield (a, b)).toSet
    assert(all == brute, "full window must equal all-pairs at dist <= 1")
  }

  // --- split-conformal thresholds ------------------------------------------

  test("conformalSplit: exact rank, clamp, and finite-sample coverage") {
    import graft.ops.Eval
    // cal scores 1..9: at α=1/10, k = ceil(10·9/10) = 9 → threshold 9;
    // at α=1/2, k = ceil(10·1/2) = 5 → threshold 5
    val cal = (1L to 9L).toDF("s")
    val test = (1L to 20L).toDF("s")
    val out = Eval.conformalSplit(cal, test, "s", Seq((1, 10), (1, 2)))
      .as[(Int, Int, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out((1, 10)) == ((1, 10, 9L, 9L, 9L, 20L, 9L)))
    assert(out((1, 2)) == ((1, 2, 9L, 5L, 5L, 20L, 5L)))
    // k beyond n_cal clamps to the max score (prediction set ⊇ everything
    // the calibration ever saw): tiny n with tiny α
    val tiny = Seq(3L, 1L).toDF("s")
    val t = Eval.conformalSplit(tiny, test, "s", Seq((1, 100)))
      .as[(Int, Int, Long, Long, Long, Long, Long)].head()
    assert(t._4 == 3L && t._5 == 3L, "k=3 > n_cal=2 clamps to rank 2 value 3")
    // exchangeable draw: empirical coverage lands near 1−α
    val rnd = new scala.util.Random(5)
    val all = (1 to 2000).map(_ => rnd.nextInt(100000).toLong)
    val (c, ts) = all.splitAt(1000)
    val cv = Eval.conformalSplit(c.toDF("s"), ts.toDF("s"), "s", Seq((1, 10)))
      .as[(Int, Int, Long, Long, Long, Long, Long)].head()
    val rate = cv._7.toDouble / cv._6
    assert(rate > 0.85 && rate < 0.95, s"coverage $rate should be near 0.9")
  }

  // --- PAV isotonic calibration --------------------------------------------

  test("isotonicFit: hand case, strict rate monotonicity, mass conservation") {
    import graft.ops.Eval
    // scores 1..4 with rates 1/2, 1/1, 0/2, 1/1: PAV must merge the
    // violating middle into one pool
    val df = Seq(
      (1L, 1L), (1L, 0L),
      (2L, 1L),
      (3L, 0L), (3L, 0L),
      (4L, 1L)).toDF("s", "y")
    val out = Eval.isotonicFit(df, "s", "y")
      .select("score_lo", "score_hi", "n", "pos")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // pools: [1,1] 1/2 then {2,3,4}: 1/1 vs 0/2 merge -> 1/3 vs 1/2 at
    // score1? recompute: push 1(1/2); push 2(1/1) ok (1/2 < 1/1);
    // push 3(0/2): 1/1 >= 0/2 merge -> (2-3:1/3); 1/2 >= 1/3 merge ->
    // (1-3: 2/5); push 4(1/1): 2/5 < 1 ok. Final: (1,3,5,2),(4,4,1,1)
    assert(out == Seq((1L, 3L, 5L, 2L), (4L, 4L, 1L, 1L)))
    // invariants on a randomized set: rates strictly increase, pools tile
    // the score range in order, total n/pos conserved; partitioning-invariant
    val rnd = new scala.util.Random(11)
    val big = (1 to 4000).map { _ =>
      val s = rnd.nextInt(60).toLong
      (s, if (rnd.nextInt(100) < 20 + s) 1L else 0L)
    }
    val bigDf = big.toDF("s", "y")
    val fit = Eval.isotonicFit(bigDf.repartition(13), "s", "y")
      .select("score_lo", "score_hi", "n", "pos")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fit.map(_._3).sum == big.length && fit.map(_._4).sum == big.map(_._2).sum)
    fit.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._2 < b._1, "pools must tile in score order")
        assert(a._4 * b._3 < b._4 * a._3, "fitted rates must strictly increase")
      case _ => ()
    }
    // PAV optimality cross-check vs an independent O(n²) reference
    def refPav(pools0: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long, Long)] = {
      var ps = pools0.sortBy(_._1).map(t => (t._1, t._1, t._2, t._3)).toVector
      var changed = true
      while (changed) {
        changed = false
        val i = ps.indices.dropRight(1).find(i => ps(i)._4 * ps(i + 1)._3 >= ps(i + 1)._4 * ps(i)._3)
        i.foreach { j =>
          val m = (ps(j)._1, ps(j + 1)._2, ps(j)._3 + ps(j + 1)._3, ps(j)._4 + ps(j + 1)._4)
          ps = (ps.take(j) :+ m) ++ ps.drop(j + 2)
          changed = true
        }
      }
      ps
    }
    val pools0 = big.groupBy(_._1).toSeq.map { case (s, xs) =>
      (s, xs.length.toLong, xs.map(_._2).sum)
    }
    assert(fit == refPav(pools0), "stack PAV must equal the fixpoint reference")
    // per-group fitting stays independent
    val g = Seq(("a", 1L, 1L), ("a", 2L, 0L), ("b", 1L, 0L), ("b", 2L, 1L))
      .toDF("g", "s", "y")
    val byG = Eval.isotonicFit(g, "s", "y", groupCol = Some("g"))
      .select("g", "score_lo", "score_hi", "n", "pos")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(byG == Set(("a", 1L, 2L, 2L, 1L), ("b", 1L, 1L, 1L, 0L), ("b", 2L, 2L, 1L, 1L)))
  }

  // --- format-preserving pseudonymization ----------------------------------

  test("pseudonymize: format kept, deterministic, salt-separated, null-safe") {
    import graft.ops.Privacy
    val df = Seq("AC-12345-xy", "AC-12345-xy", "AC-99999-zz", "415.555.0199")
      .toDF("v")
      .select(col("v"), Privacy.pseudonymize(col("v"), "s1").as("t1"),
        Privacy.pseudonymize(col("v"), "s2").as("t2"))
    val rows = df.as[(String, String, String)].collect()
    rows.foreach { case (v, t1, t2) =>
      assert(t1.length == v.length && t2.length == v.length)
      v.zip(t1).foreach { case (a, b) =>
        if (a.isDigit) assert(b.isDigit, s"$v -> $t1")
        else if (a.isLower) assert(b.isLower)
        else if (a.isUpper) assert(b.isUpper)
        else assert(a == b, "separators must pass through")
      }
      assert(t1 != v, "token must differ from the original")
      assert(t1 != t2, "different salts must give unlinkable tokens")
    }
    // determinism + linkability: equal inputs -> equal tokens
    assert(rows(0)._2 == rows(1)._2 && rows(0)._3 == rows(1)._3)
    assert(rows(0)._2 != rows(2)._2)
    // null passes through as null
    val n = Seq(Option.empty[String]).toDF("v")
      .select(Privacy.pseudonymize(col("v"), "s1")).as[Option[String]].head()
    assert(n.isEmpty)
  }

  // --- Luhn card scan ------------------------------------------------------

  test("cardScan: Luhn truth vectors, separators, shape rejection") {
    val rows = Seq(
      (1L, "pay 4532015112830366 now"), // valid Visa test number
      (2L, "pay 4532015112830367 now"), // last digit off → shape yes, Luhn no
      (3L, "pay 4532-0151-1283-0366 ok"), // separators clean away
      (4L, "ref 123456 and 12345"), // too short → not even a candidate
      (5L, "a 4532015112830366 b 1234567890123456 c"), // one valid of two
      (6L, "")).toDF("id", "t")
    val (c, v) = TextOps.cardScan(col("t"))
    val out = rows.select(col("id"), c, v).as[(Long, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1, 1)))
    assert(out(2L) == ((1, 0)))
    assert(out(3L) == ((1, 1)))
    assert(out(4L) == ((0, 0)))
    assert(out(5L) == ((2, 1)))
    assert(out(6L) == ((0, 0)))
    // luhnValid on the classic 79927398713 check vector
    val lv = Seq(("79927398713", 1L), ("79927398710", 2L)).toDF("s", "id")
      .select(col("id"), TextOps.luhnValid(col("s")).as("ok"))
      .as[(Long, Boolean)].collect().toMap
    assert(lv == Map(1L -> true, 2L -> false))
  }

  // --- greedy max-coverage selection ---------------------------------------

  test("coverageSelect: marginal gains, saturation stop, order-invariance") {
    // doc 1 covers {a,b,c}; doc 2 covers {c,d}; doc 3 covers {a,b} (subset
    // of 1); doc 4 covers {e}. Greedy: 1 (gain 3), 2 (gain 1: d), 4 (gain
    // 1: e — tie with nothing), then 3 has gain 0 → stop at 3 picks
    val pool = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "d")),
      (3L, Seq("a", "b")),
      (4L, Seq("e"))).toDF("id", "items")
    val out = Coverage.coverageSelect(pool, "id", "items", 10)
      .select("id", "gain", "covered_total", "pick")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4).toSeq
    assert(out == Seq((1L, 3L, 3L, 1), (2L, 1L, 4L, 2), (4L, 1L, 5L, 3)))
    // gain ties break by smaller id: docs 2 and 4 both gain 1 at step 2 →
    // 2 wins (and 4 follows)
    // duplicate items inside a document count once
    val dup = Seq((1L, Seq("x", "x", "y")), (2L, Seq("z", "z"))).toDF("id", "items")
    val d = Coverage.coverageSelect(dup, "id", "items", 10)
      .select("id", "gain").as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 2L, 2L -> 1L))
    // arrival order / partitioning invariance
    val shuffled = Coverage.coverageSelect(pool.orderBy(col("id").desc).repartition(5),
      "id", "items", 10)
      .select("id", "gain", "covered_total", "pick")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4).toSeq
    assert(shuffled == out)
    // k truncates before saturation
    assert(Coverage.coverageSelect(pool, "id", "items", 2).count() == 2)
    // per-group (GreeDi round-one shape): groups select independently
    val grouped = Seq(
      ("p0", 1L, Seq("a")), ("p0", 2L, Seq("a")), ("p1", 3L, Seq("b")))
      .toDF("part", "id", "items")
    val g = Coverage.coverageSelect(grouped, "id", "items", 5, groupCol = Some("part"))
      .select("part", "id").as[(String, Long)].collect().toSet
    assert(g == Set(("p0", 1L), ("p1", 3L))) // 2 adds nothing within p0
  }

  // --- MMR diversified selection -------------------------------------------

  test("mmrSelect: greedy replay, diversity beats redundancy, order-invariant") {
    // two near-identical high-rel docs (1, 2) and one orthogonal mid-rel
    // doc (3): plain top-2 takes {1, 2}; MMR must take {1, 3}
    val cands = Seq(
      (1L, 100L, Seq(10, 0)),
      (2L, 99L, Seq(10, 1)),
      (3L, 60L, Seq(0, 9))).toDF("id", "rel", "q")
    val out = Similarity.mmrSelect(cands, "id", "rel", "q", 2)
      .select("id", "mmr_score", "pick").as[(Long, Long, Int)].collect()
      .sortBy(_._3).toSeq
    // pick 1: id 1 (7*100, no diversity term); then sim(2,1)=100, sim(3,1)=0
    // → id 2 scores 7*99-3*100 = 393, id 3 scores 7*60-0 = 420 → id 3
    assert(out == Seq((1L, 700L, 1), (3L, 420L, 2)))
    // partitioning/arrival-order invariance (in-task sort by id)
    val shuffled = Similarity.mmrSelect(
      cands.orderBy(col("rel").asc).repartition(7), "id", "rel", "q", 2)
      .select("id", "mmr_score", "pick").as[(Long, Long, Int)].collect()
      .sortBy(_._3).toSeq
    assert(shuffled == out)
    // k > |C| returns everything; scores stay longs
    assert(Similarity.mmrSelect(cands, "id", "rel", "q", 99).count() == 3)
    // negative max-sim RAISES the score (formula, not clamp): doc 3's code
    // opposes doc 1's, so its round-2 score exceeds its pure-rel score
    val neg = Seq(
      (1L, 100L, Seq(10, 0)),
      (3L, 60L, Seq(-10, 0))).toDF("id", "rel", "q")
    val n2 = Similarity.mmrSelect(neg, "id", "rel", "q", 2)
      .select("id", "mmr_score", "pick").as[(Long, Long, Int)].collect()
      .sortBy(_._3).toSeq
    assert(n2 == Seq((1L, 700L, 1), (3L, 60L * 7 - 3L * -100L, 2)))
    // per-query fusion: groups select independently
    val multi = Seq(
      ("a", 1L, 10L, Seq(1, 0)), ("a", 2L, 9L, Seq(1, 0)),
      ("b", 2L, 5L, Seq(0, 1))).toDF("qid", "id", "rel", "q")
    val byQ = Similarity.mmrSelect(multi, "id", "rel", "q", 1, queryCol = Some("qid"))
      .select("qid", "id").as[(String, Long)].collect().toSet
    assert(byQ == Set(("a", 1L), ("b", 2L)))
  }

  // --- RRF fusion ----------------------------------------------------------

  test("rrfFuse: hand-computed grid weights, absent-list docs, tiebreak") {
    import org.apache.spark.sql.functions.{col => c}
    // list A ranks: d1=1, d2=2, d3=3; list B ranks: d2=1, d4=2
    val a = Seq((1L, 9.0), (2L, 5.0), (3L, 1.0)).toDF("id", "score")
    val b = Seq((2L, 100.0), (4L, 40.0)).toDF("id", "score")
    val out = Ranking.rrfFuse(Seq(a, b), "id", "score", kConst = 60, depth = 50, topN = 10)
      .select("id", "fused", "rank").as[(Long, Long, Int)].collect()
      .sortBy(_._3).toSeq
    def g(r: Int) = 1000000000L / (60L + r)
    // d2 appears in both lists (ranks 2 and 1) and must win
    assert(out == Seq(
      (2L, g(2) + g(1), 1),
      (1L, g(1), 2),        // ties with d4 on g-values? no: g(1) > g(2)
      (4L, g(2), 3),
      (3L, g(3), 4)))
    // depth truncation: depth=1 keeps only each list's top doc
    val shallow = Ranking.rrfFuse(Seq(a, b), "id", "score", depth = 1, topN = 10)
      .select("id").as[Long].collect().toSet
    assert(shallow == Set(1L, 2L))
    // equal scores tiebreak by id asc: ids 7 and 8 share score → 7 ranks first
    val t = Seq((8L, 3.0), (7L, 3.0)).toDF("id", "score")
    val tr = Ranking.rrfFuse(Seq(t), "id", "score", topN = 10)
      .select("id", "rank").as[(Long, Int)].collect().toMap
    assert(tr == Map(7L -> 1, 8L -> 2))
    // per-query fusion partitions: each query's ranks start at 1
    val qa = Seq(("q1", 1L, 9.0), ("q1", 2L, 5.0), ("q2", 2L, 9.0)).toDF("q", "id", "score")
    val qb = Seq(("q1", 2L, 7.0), ("q2", 3L, 7.0)).toDF("q", "id", "score")
    val qf = Ranking.rrfFuse(Seq(qa, qb), "id", "score", queryCol = Some("q"), topN = 10)
      .select("q", "id", "fused").as[(String, Long, Long)].collect().toSet
    assert(qf == Set(
      ("q1", 2L, g(2) + g(1)), ("q1", 1L, g(1)),
      ("q2", 2L, g(1)), ("q2", 3L, g(1))))
    // sanity: grid division really is integer (floor) division
    assert(Ranking.rrfFuse(Seq(a), "id", "score", topN = 1)
      .select(c("fused")).as[Long].head() == 1000000000L / 61L)
  }

  // --- BM25 ----------------------------------------------------------------

  test("bm25 equals a Scala reference implementation exactly (pre-rounding tolerance)") {
    val corpus = Seq(
      (1L, "vector search over vector data"),
      (2L, "stream processing with window functions"),
      (3L, "vector stream window vector stream"),
      (4L, "nothing relevant here at all"),
      (5L, "")).toDF("doc_id", "text")
    val terms = Seq("vector", "stream", "window")
    val got = Ranking.bm25(corpus, "text", "doc_id", terms)
      .as[(Long, Double)].collect().toMap
    // reference computation
    val toks = Map(
      1L -> tokensOf("vector search over vector data"),
      2L -> tokensOf("stream processing with window functions"),
      3L -> tokensOf("vector stream window vector stream"),
      4L -> tokensOf("nothing relevant here at all"),
      5L -> Vector.empty[String])
    val n = toks.size
    val avgdl = toks.values.map(_.length).sum.toDouble / n
    def score(id: Long): Double = terms.map { t =>
      val tf = toks(id).count(_ == t).toDouble
      if (tf == 0) 0.0
      else {
        val df = toks.values.count(_.contains(t)).toDouble
        val idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        val dl = toks(id).length.toDouble
        idf * tf * (Ranking.K1 + 1) / (tf + Ranking.K1 * (1 - Ranking.B + Ranking.B * dl / avgdl))
      }
    }.sum
    assert(got.keySet == Set(1L, 2L, 3L), "only docs with a matching term score")
    got.foreach { case (id, s) => assert(math.abs(s - score(id)) <= 5e-5, s"doc $id") }
    // the doc hitting all three terms outranks the single-topic docs
    assert(got(3L) > got(1L) && got(3L) > got(2L))
  }

  test("cluster-keyed split never strands near-dup pairs across splits") {
    // the leakage property the composition exists for: every near-dup pair
    // shares a split — and on the real fixture some clusters are non-trivial
    val got = graft.queries.PipelineQueries.sampleSplitNodup(spark, dir)
      .as[(Long, Long, String)].collect()
    val split = got.map(t => t._1 -> t._3).toMap
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "fixture must contain near-dups for the property to bite")
    pairs.foreach { case (a, b, _) =>
      assert(split(a) == split(b), s"pair ($a,$b) straddles ${split(a)}/${split(b)}")
    }
    // a plain id-hash split DOES strand at least one of the same pairs —
    // the failure mode this operator removes
    val idSplit = docs.select(col("doc_id"),
      Sampling.splitColumn(col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .as("split")).as[(Long, String)].collect().toMap
    assert(pairs.exists { case (a, b, _) => idSplit(a) != idSplit(b) },
      "fixture pairs all co-hash by id — property not demonstrated")
    // split is keyed by cluster alone: members of one cluster agree
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).distinct.length == 1)
    }
  }

  test("ngramContainmentPairs catches doc-inside-doc that Jaccard misses") {
    val short = "the quick brown fox jumps over the lazy dog tonight"
    val long = ("padding words before everything here now listen carefully " * 4) +
      short + (" trailing content continues for quite a while longer still" * 4)
    val recs = Seq((1L, short), (2L, long), (3L, "entirely unrelated corpus text"))
      .toDF("doc_id", "text").withColumn("blk", lit("b"))
    val cont = Dedup.ngramContainmentPairs(recs, "text", "doc_id", "blk", 5, 0.90)
      .as[(Long, Long, Double)].collect()
    assert(cont.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"the contained doc must pair with its container only, got ${cont.toSeq}")
    assert(cont.head._3 >= 0.99, "full inclusion scores ~1.0")
    // symmetric Jaccard under-scores the same pair (large union)
    val jac = Dedup.ngramJaccardPairs(recs, "text", "doc_id", "blk", 5, 0.90)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty, "Jaccard at the same threshold misses the inclusion")
  }

  // --- n-gram decontamination + boilerplate scrub --------------------------

  test("ngramOverlapOf flags partial inclusion the exact-digest gate misses") {
    val eval = Seq((100L, "what is the capital of france paris obviously")).toDF("doc_id", "text")
    val train = Seq(
      // quotes the eval 8-gram inside a longer page: NOT an exact copy
      (1L, "intro text here what is the capital of france paris obviously and more prose"),
      (2L, "completely unrelated words about spark shuffles and joins everywhere"),
      (3L, "short doc"), // < n tokens: no gram, cannot be flagged
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val flags = Dedup.ngramOverlapOf(train, "doc_id", "text", eval, "text", n = 7, minOverlap = 1)
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(flags.size == 4)
    // doc 1 shares exactly the 2 distinct 7-grams of the quoted 8-word span
    assert(flags(1L) == ((2L, true)), s"got ${flags(1L)}")
    assert(flags(2L) == ((0L, false)))
    assert(flags(3L) == ((0L, false)))
    assert(flags(4L) == ((0L, false)), "null text reports zero hits")
    // exact-digest decontamination misses the same inclusion
    val exact = Dedup.exceptContentOf(train, "text", eval, "text").select("doc_id")
      .as[Long].collect().toSet
    assert(exact.contains(1L), "digest gate keeps the partially-including doc")
    // the overlap threshold gates: minOverlap above the hit count unflags
    val strict = Dedup.ngramOverlapOf(train, "doc_id", "text", eval, "text", n = 7, minOverlap = 3)
      .filter(col("contaminated")).count()
    assert(strict == 0)
  }

  test("removeBoilerplateUnits strips corpus-frequent tiles, preserves order") {
    val bp = "subscribe to our newsletter now" // one 5-word tile
    val recs = Seq(
      (1L, s"alpha bravo charlie delta echo $bp"),
      (2L, s"$bp foxtrot golf hotel india juliett"),
      (3L, s"kilo lima mike november oscar $bp papa quebec romeo sierra tango"),
      (4L, "uniform victor whiskey xray yankee"), // untouched
      (5L, bp), // pure boilerplate -> empty, not dropped
      (6L, null.asInstanceOf[String]) // null text -> null out, still present
    ).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateUnits(recs, "doc_id", "text", unitWords = 5, minDocFreq = 3)
      .as[(Long, Option[String], Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(1L) == ((Some("alpha bravo charlie delta echo"), 1L)))
    assert(got(2L) == ((Some("foxtrot golf hotel india juliett"), 1L)))
    assert(got(3L) == ((Some("kilo lima mike november oscar papa quebec romeo sierra tango"), 1L)),
      "surviving tiles must rejoin in original order")
    assert(got(4L) == ((Some("uniform victor whiskey xray yankee"), 0L)))
    assert(got(5L) == ((Some(""), 1L)), "pure-boilerplate doc returns empty, stays in the corpus")
    assert(got(6L) == ((None, 0L)), "null-text doc stays in the output, untouched")
    // below the frequency floor nothing is removed (the tile appears 4x,
    // so minDocFreq = 5 must keep everything)
    val none = Dedup.removeBoilerplateUnits(recs, "doc_id", "text", unitWords = 5, minDocFreq = 5)
      .agg(sum("n_removed")).head.getLong(0)
    assert(none == 0L)
  }

  test("dupNgramStats scores cross-doc shared spans, not intra-doc repeats") {
    val span = "one two three four five six seven eight" // exactly one 8-gram
    val recs = Seq(
      (1L, s"$span alpha bravo charlie"),   // shares the span with doc 2
      (2L, s"delta echo foxtrot $span"),    // shares the span with doc 1
      (3L, "golf hotel india juliett kilo lima mike november oscar"), // unique
      (4L, "papa quebec romeo"),            // < 8 tokens: zero grams
      (5L, null.asInstanceOf[String])       // null text: zero grams
    ).toDF("doc_id", "text")
    val got = Dedup.dupNgramStats(recs, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got.size == 5, "one row per input row")
    // docs 1/2: 4 distinct 8-grams each (11 tokens), exactly 1 shared
    assert(got(1L) == ((4L, 1L, 0.25)), s"got ${got(1L)}")
    assert(got(2L) == ((4L, 1L, 0.25)), s"got ${got(2L)}")
    assert(got(3L) == ((2L, 0L, 0.0)), "unique doc has no duplicated gram")
    assert(got(4L) == ((0L, 0L, 0.0)), "sub-n doc carries zero grams")
    assert(got(5L) == ((0L, 0L, 0.0)), "null text carries zero grams")
    // intra-doc repetition alone is NOT cross-doc duplication
    val selfRep = Seq((1L, s"$span $span")).toDF("doc_id", "text")
    val self = Dedup.dupNgramStats(selfRep, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Double)].collect().head
    assert(self._3 == 0L, s"self-repeating doc must score 0 dup grams, got $self")
  }

  test("round-8 ops on degenerate inputs: empty corpus, 1-char vocab, single group") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Vocab.bpePairCounts(empty, "text", 5).count() == 0)
    assert(Dedup.dupNgramStats(empty, "doc_id", "text", 8).count() == 0)
    assert(Sampling.topFractionPerGroup(
      empty.withColumn("g", lit("x")).withColumn("s", lit(1.0)),
      "g", col("s"), "doc_id", 0.5).count() == 0)
    // a vocabulary of 1-char words has no adjacent pair
    assert(Vocab.bpePairCounts(Seq((1L, "a b a")).toDF("doc_id", "text"), "text", 5).count() == 0)
    // single group: q/Σq and T/t_g both cancel to 1 — rate IS the target
    // fraction, bit-exactly (pow(1,α)=1 lands on the grid with no floor loss)
    val one = Seq((1L, "g", 10L), (2L, "g", 20L)).toDF("doc_id", "source", "n_tok")
    val r = Sampling.temperatureRates(one, "source", "n_tok", 0.3, 0.7)
      .as[(String, Double)].collect()
    assert(r.toSeq == Seq("g" -> 0.7), s"single-group rate must equal tf exactly: ${r.toSeq}")
  }

  test("bpePairCounts: weighted multiset pair counts, deterministic cut line") {
    // vocab: "aba"x3 -> pairs ab, ba (once each per word instance)
    //        "bb" x2 -> pair bb; "a" x1 -> no pair
    val recs = Seq((1L, "aba bb aba"), (2L, "aba bb a")).toDF("doc_id", "text")
    val got = Vocab.bpePairCounts(recs, "text", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq("ab" -> 3L, "ba" -> 3L, "bb" -> 2L),
      s"pair counts + (freq DESC, pair ASC) order: $got")
    // the cut line is deterministic under ties: k=1 keeps "ab", not "ba"
    val top1 = Vocab.bpePairCounts(recs, "text", k = 1).as[(String, Long)].collect()
    assert(top1.toSeq == Seq("ab" -> 3L))
    // partitioning invariance
    val re = Vocab.bpePairCounts(recs.toDF.repartition(7), "text", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(re == got)
  }

  test("textKnn: brute-force cosine ground truth, self-exclusion, bounded k") {
    val got = Vectorize.textKnn(docs, "doc_id", "text", 64, Seq(0L, 1L), 3)
      .as[(Long, Long, Double)].collect()
    assert(got.forall(r => r._1 != r._2), "a query must not match itself")
    val gotRank = got.groupBy(_._1).view
      .mapValues(_.sortBy(r => (-r._3, r._2)).map(_._2).toSeq).toMap
    // plain-Scala replay: same md5_32 buckets, integer dots/norms
    def bucket(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("htf" + w).getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    def vec(s: String): Map[Long, Long] =
      tokensOf(s).groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val texts = docs.filter(col("text").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val vecs = texts.view.mapValues(vec).toMap
    def cos(a: Map[Long, Long], b: Map[Long, Long]): Double = {
      val dot = a.map { case (d, w) => w * b.getOrElse(d, 0L) }.sum
      dot.toDouble / (math.sqrt(a.values.map(w => w * w).sum.toDouble) *
        math.sqrt(b.values.map(w => w * w).sum.toDouble))
    }
    Seq(0L, 1L).foreach { q =>
      val expect = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .filter(_._2 > 0) // zero-overlap pairs never reach the join
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
      assert(gotRank(q) == expect, s"top-3 for query $q")
    }
  }

  test("hashTfIdf: idf grid replay, ubiquitous dims zero out, invariance") {
    val corpus = Seq(
      (1L, "the alpha"), (2L, "the beta"), (3L, "the gamma"), (4L, "the alpha alpha"))
      .toDF("doc_id", "text")
    val got = Vectorize.hashTfIdf(corpus, "doc_id", "text", 4096)
      .as[(Long, Long, Long, Long, Long)].collect()
    def bucket(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("htf" + w).getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 8), 16) % 4096
    }
    // Scala replay of the grid: df per dim over the 4-doc corpus
    val vecs = Map(
      1L -> Seq("the", "alpha"), 2L -> Seq("the", "beta"),
      3L -> Seq("the", "gamma"), 4L -> Seq("the", "alpha", "alpha"))
      .view.mapValues(_.groupBy(bucket).view.mapValues(_.size.toLong).toMap).toMap
    val dfm = vecs.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size).toMap
    def idfQ(df: Int): Long = math.floor(math.log(5.0 / (df + 1)) * 1000000.0).toLong
    got.foreach { case (id, dim, tf, idf, w) =>
      assert(tf == vecs(id)(dim), s"tf for ($id,$dim)")
      assert(idf == idfQ(dfm(dim)), s"idf for dim $dim")
      assert(w == tf * idf, s"weight must be the long product for ($id,$dim)")
    }
    // "the" appears in all 4 docs: idf_q = floor(ln(5/5)·1e6) = 0 — zeroed
    val theDim = bucket("the")
    assert(got.filter(_._2 == theDim).forall(_._5 == 0L))
    // a dim in one doc gets the max idf of this corpus
    assert(got.filter(_._2 == bucket("beta")).forall(_._4 == idfQ(1)))
    // partitioning invariance on the real fixture
    val a = Vectorize.hashTfIdf(docs, "doc_id", "text", 64)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val b = Vectorize.hashTfIdf(docs.repartition(13), "doc_id", "text", 64)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  test("textKnnFree: exact-match string ranks first at cosine 1; member parity") {
    val corpus = Seq(
      (10L, "alpha beta gamma"), (11L, "alpha beta delta"), (12L, "epsilon zeta"))
      .toDF("doc_id", "text")
    val got = Vectorize.textKnnFree(corpus, "doc_id", "text", 1024,
      Seq("alpha beta gamma", "nothing shared here"), 3)
      .as[(Long, Long, Double)].collect()
    val q0 = got.filter(_._1 == 0L).sortBy(r => (-r._3, r._2))
    assert(q0.head._2 == 10L && math.abs(q0.head._3 - 1.0) < 1e-12,
      s"identical stored doc must rank first at cos 1, got ${q0.toSeq}")
    // disjoint-vocabulary query yields nothing (no shared dims at 1024)
    assert(!got.exists(_._1 == 1L), "zero-overlap query must return no rows")
    // member-query parity: free-text search with doc 10's text agrees with
    // textKnn querying BY doc 10, once the self-match is dropped
    val byMember = Vectorize.textKnn(corpus, "doc_id", "text", 1024, Seq(10L), 3)
      .as[(Long, Long, Double)].collect().map(r => (r._2, r._3)).sortBy(_._1).toSeq
    val byString = q0.tail.map(r => (r._2, r._3)).sortBy(_._1).toSeq
    assert(byString == byMember, s"free-text and by-member search diverge")
  }

  test("hashTf: count conservation, unit norm, collision merge, invariance") {
    val out = Vectorize.hashTf(docs, "doc_id", "text", 64)
    val rows = out.as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty && rows.forall(r => r._2 >= 0 && r._2 < 64))
    // Σ tf per doc == the doc's token count: collisions MERGE, never drop
    val tokCounts = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val byDoc = rows.groupBy(_._1)
    byDoc.foreach { case (id, rs) =>
      assert(rs.map(_._3).sum == tokCounts(id), s"token mass lost for doc $id")
      assert(math.abs(rs.map(r => r._4 * r._4).sum - 1.0) < 1e-9, s"norm != 1 for doc $id")
      assert(rs.map(_._2).distinct.length == rs.length, s"duplicate dim rows for doc $id")
    }
    // at 64 dims the fixture vocabulary must collide: some doc has fewer
    // rows than distinct tokens (the merge path is actually exercised)
    val distinctToks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), size(array_distinct(TextOps.tokens(col("text")))).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(byDoc.exists { case (id, rs) => rs.length < distinctToks(id).toInt })
    // identical texts vectorize identically: cosine over the long form is 1
    val two = Seq((1L, "alpha beta beta gamma"), (2L, "alpha beta beta gamma"))
      .toDF("id", "text")
    val v = Vectorize.hashTf(two, "id", "text", 32)
      .as[(Long, Long, Long, Double)].collect()
    val va = v.filter(_._1 == 1L).map(r => r._2 -> r._4).toMap
    val vb = v.filter(_._1 == 2L).map(r => r._2 -> r._4).toMap
    assert(va == vb)
    val cos = va.map { case (d, w) => w * vb.getOrElse(d, 0.0) }.sum
    assert(math.abs(cos - 1.0) < 1e-12)
    // partitioning invariance
    val re = Vectorize.hashTf(docs.repartition(13), "doc_id", "text", 64)
      .as[(Long, Long, Long, Double)].collect()
    assert(re.sorted.toSeq == rows.sorted.toSeq)
  }

  test("chi2Terms: class-exclusive term scores highest; shared term scores 0") {
    // 'solo' only in A, 'bee' only in B, 'both' uniform — with EQUAL
    // tokens per doc, 'both' is exactly independent of class
    val docs = (
      (1 to 5).map(_ => ("A", "solo both")) ++
        (1 to 5).map(_ => ("B", "bee both"))
    ).zipWithIndex.map { case ((c, t), i) => (i.toLong, c, t) }
      .toDF("id", "cls", "text")
    val out = Ranking.chi2Terms(docs, "cls", "text", minCount = 5, topK = 10)
      .as[(String, String, Long, Double)].collect()
    val aTop = out.filter(_._1 == "A").maxBy(_._4)
    assert(aTop._2 == "solo" && aTop._3 == 5L)
    // independence: a=5,b=5,c=5,d=5 → ad−bc = 0 → χ² exactly 0
    assert(out.filter(r => r._2 == "both").forall(_._4 == 0.0))
    // hand cells for solo in A: a=5,b=0,c=5,d=10; N=20 — expected value
    // computed with the op's EXACT double operation order
    val (ad, bd, cd, dd, nd) = (5.0, 0.0, 5.0, 10.0, 20.0)
    val expected = (nd * ((ad * dd - bd * cd) * (ad * dd - bd * cd))) /
      (((ad + bd) * (cd + dd)) * ((ad + cd) * (bd + dd)))
    assert(aTop._4 == expected)
    val rep = Ranking.chi2Terms(docs.repartition(7), "cls", "text", 5, 10)
      .as[(String, String, Long, Double)].collect()
    assert(rep.sorted.toSeq == out.sorted.toSeq, "partitioning-invariant")
  }

  test("postings: df floor, top-docs by tf with id tie-break, exact counts") {
    val docs = Seq(
      (1L, "w w w q"), (2L, "w w q"), (3L, "w q"), (4L, "w q"), (5L, "rare")
    ).toDF("doc_id", "text")
    val out = Ranking.postings(docs, "doc_id", "text", minDf = 3, perToken = 2)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(!out.exists(_._1 == "rare"), "df floor drops singletons")
    val w = out.filter(_._1 == "w").sortBy(_._4)
    assert(w.map(r => (r._2, r._3)).distinct.toSeq == Seq((4L, 7L)), "df=4, Σtf=7")
    assert(w.map(r => (r._4, r._5, r._6)).toSeq ==
      Seq((1L, 1L, 3L), (2L, 2L, 2L)), "ranked by tf desc")
    val q = out.filter(_._1 == "q").sortBy(_._4)
    assert(q.map(_._5).toSeq == Seq(1L, 2L), "tf ties break by doc id asc")
  }

  test("kneserNeyBigrams: hand-solved KN rationals; discount mass routes by continuation") {
    // corpus bigrams: (a,b) x2, (c,b) x1, (a,d) x1
    // c(a)=3, c(c)=1; N1+(a.)=2, N1+(c.)=1; N1+(.b)=2, N1+(.d)=1; N=3
    val df = Seq("a b", "a b", "c b", "a d").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = Vocab.kneserNeyBigrams(df, "text", minCount = 1L)
      .select("w1", "w2", "p_kn_ppm").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // P(b|a) = 1.25/3 + (3/4)(2/3)(2/3) = 3/4 exactly
    assert(out(("a", "b")) == 750000L)
    // P(d|a) = 0.25/3 + (3/4)(2/3)(1/3) = 1/4 exactly
    assert(out(("a", "d")) == 250000L)
    // P(b|c) = 0.25/1 + (3/4)(1/1)(2/3) = 3/4 exactly
    assert(out(("c", "b")) == 750000L)
    // KN's point: seen-mass + backoff-mass per head is exactly 1 -
    // P(b|a) + P(d|a) + unseen mass routed via continuation = 1; with all
    // vocab words seen as tails the two outputs already sum to 1 for head a
    assert(out(("a", "b")) + out(("a", "d")) == 1000000L)
    // minCount cuts: only the twice-seen bigram survives at 2
    val cut = Vocab.kneserNeyBigrams(df, "text", minCount = 2L)
      .select("w1", "w2").as[(String, String)].collect().toSeq
    assert(cut == Seq(("a", "b")))
    intercept[IllegalArgumentException](Vocab.kneserNeyBigrams(df, "text", 0L))
  }

  test("winnowingPairs: shared runs >= w+k-1 tokens always share a fingerprint") {
    // two docs sharing a 6-token run (w=4, k=3 -> guarantee at >= 6):
    // must pair; a doc with no overlap must not
    val common = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two $common three four"),
      (2L, s"$common five six seven eight"),
      (3L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(df, "doc_id", "text",
      k = 3, w = 4, maxDf = 10, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed shared fingerprint: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "no false pair for 3")
    // the df cap drops boilerplate: a fingerprint in ALL docs pairs nobody
    val boiler = (1L to 6L).map(i => (i, s"common boiler plate text here d$i"))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowingPairs(boiler, "doc_id", "text",
      k = 3, w = 2, maxDf = 3, minShared = 1).count()
    assert(capped == 0L, "df-capped fingerprints must not generate pairs")
    // partitioning invariance
    val a = Dedup.winnowingPairs(df, "doc_id", "text", 3, 4, 10, 1)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val b = Dedup.winnowingPairs(df.repartition(5), "doc_id", "text", 3, 4, 10, 1)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(a == b)
    intercept[IllegalArgumentException](
      Dedup.winnowingPairs(df, "doc_id", "text", 0, 4))
  }
}
