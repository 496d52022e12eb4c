package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane-LSH bucketed variant as the scale path.
  * Vector math is `zip_with`/`aggregate` over array columns in double
  * precision — codegen'd, sequential accumulation (deterministic), no UDFs.
  */
object Similarity {

  /** Default cap on the query-set size of the ADC searches ([[pqTopK]],
    * [[ivfPqSearch]]): those paths materialize one nsub×ksub double table
    * per query on the DRIVER and broadcast the lot, so the query side must
    * stay bounded — 4096 queries ≈ 4 MB of tables at the default 8×16
    * geometry, far under any driver heap, while a corpus-sized query set
    * would OOM it. Exceeding the cap throws (loudly, after probing only
    * cap+1 rows); callers who know their |Q| and heap can raise it
    * per-call.
    */
  val DefaultMaxAdcQueries: Int = 4096

  /** Σ aᵢ·bᵢ in double; inputs may be float arrays (cast exact).
    * Delegates to the codegen'd native expression — same sequential double
    * accumulation as the higher-order `zip_with`+`aggregate` form (bitwise
    * identical results), minus the per-element interpreted dispatch.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  /** The higher-order-function formulation (kept as the portable reference
    * implementation; [[dot]] must stay bitwise-equal to it).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Σ aᵢ·bᵢ over int arrays in LONG — codegen'd kernel of the int8 path. */
  def intDot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.intDotProduct(a, b)

  /** Higher-order reference formulation of [[intDot]] (bitwise-pinned). */
  def intDotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L),
      (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact top-k nearest neighbors by cosine for each query vector.
    * The query set is broadcast (it is small by construction); the corpus
    * streams through map-side — the cross product never shuffles corpus
    * rows, and per-query ranking is one window over k·|Q| candidates.
    * At 100 TB corpus scale this is the right baseline: one scan, no
    * corpus-side state.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    cosineTopK(corpus, queries, idCol, vecCol, k, labelCol = None)

  /** Shared broadcast-anchors cosine-ranking core of [[bruteForceTopK]]
    * and [[hardNegatives]]: per-vector norms staged once per row (not
    * once per pair), queries broadcast, the corpus streams map-side,
    * per-query ranking is one window over k·|Q| candidates. `labelCol`
    * (when given) carries both labels through and adds the
    * label-inequality to the join condition — one copy of the pipeline
    * to keep normalization and tie-breaks in sync.
    */
  private def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      labelCol: Option[String]): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q = queries.select(Seq(
      col(idCol).as("q_id"),
      col(vecCol).as("q_vec"),
      l2Norm(col(vecCol)).as("q_norm")) ++
      labelCol.map(l => col(l).as("q_label")): _*)
    val c = corpus.select(Seq(
      col(idCol).as("n_id"),
      col(vecCol).as("n_vec"),
      l2Norm(col(vecCol)).as("n_norm")) ++
      labelCol.map(l => col(l).as("n_label")): _*)
    val cond = labelCol.foldLeft(col("q_id") =!= col("n_id")) { (acc, _) =>
      acc && col("q_label") =!= col("n_label")
    }
    val outCols = Seq(col("q_id")) ++ labelCol.map(_ => col("q_label")) ++
      Seq(col("n_id")) ++ labelCol.map(_ => col("n_label")) ++
      Seq((dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm"))).as("cos"))
    val scored = c.join(broadcast(q), cond).select(outCols: _*)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-NEGATIVE mining for contrastive training: for each anchor, the
    * top-k most-similar corpus vectors with a DIFFERENT label — the
    * near-boundary negatives that carry gradient signal (easy negatives
    * are uninformative; same-label hits are positives, not negatives).
    * Same scale shape as [[bruteForceTopK]]: anchors broadcast, the
    * corpus streams map-side, and the label inequality rides the join
    * condition so same-label pairs never reach scoring.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame =
    cosineTopK(corpus, queries, idCol, vecCol, k, labelCol = Some(labelCol))

  /** Look-alike audience expansion: rank every non-seed vector by cosine
    * similarity to the SEED SET'S CENTROID — the "find more users like
    * these" primitive behind ad-audience growth and seed-based data
    * selection (select training docs resembling a curated seed corpus).
    *
    * Exactness: the centroid is accumulated on the 2^20 integer grid
    * (per-component `floor(x·2²⁰)` long sums — order-free, partition-
    * invariant), and because cosine is scale-invariant the GRID vector
    * stands in for the mean directly: no division by the seed count ever
    * happens, so the score is the proven [[dot]]/[[l2Norm]] kernel over
    * exact inputs — bit-replayable cross-engine.
    *
    * Scale shape: seeds collapse to one dim-sized centroid (posexplode +
    * partial-agg'd per-position sums; the dim-sized collect is the same
    * justified pull as the IVF training draw) that embeds as a LITERAL in
    * a map-side scoring projection — the corpus never shuffles, and the
    * k-cut is TakeOrdered. A zero centroid (empty or cancelling seeds)
    * yields null scores rather than NaN.
    */
  def lookalike(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      seedPred: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val grid = df
      .filter(seedPred)
      .select(posexplode(
        transform(col(vecCol), x => floor(x.cast("double") * 1048576.0).cast("long"))))
    val cent: Array[Double] = grid
      .groupBy(col("pos"))
      .agg(sum(col("col")).as("__s"))
      .orderBy(col("pos"))
      .select(col("__s").cast("double"))
      .collect()
      .map(_.getDouble(0))
    require(cent.nonEmpty, "lookalike needs at least one seed vector")
    val cvec = typedLit(cent.toSeq)
    val cNorm = sqrt(dot(cvec, cvec))
    df.filter(!seedPred)
      .select(
        col(idCol),
        when(cNorm === 0.0 || l2Norm(col(vecCol)) === 0.0, lit(null).cast("double"))
          .otherwise(dot(col(vecCol), cvec) / (l2Norm(col(vecCol)) * cNorm))
          .as("cos"))
      .orderBy(col("cos").desc_nulls_last, col(idCol))
      .limit(k)
  }

  /** Encoder-drift probe between two corpus snapshots (crawls, encoder
    * versions): per label, the cosine between the snapshots' label
    * CENTROIDS on the 2^20 integer grid — cosine is scale-invariant, so
    * the grid SUM stands in for the mean (the [[lookalike]] discipline:
    * no count division ever happens) and the only doubles are the final
    * dot/norm triple per label, replayed bit-exactly by SQL. A drifting
    * encoder shows up as sub-1 centroid cosines on stable labels long
    * before downstream metrics move.
    *
    * Scale shape: each snapshot collapses to a label×dim grid-sum table
    * (posexplode + partial-agg'd long sums — one shuffle each, output
    * labels·dim rows); the drift report joins the two TINY tables. The
    * corpus never moves again after its one aggregation pass.
    */
  def centroidDrift(
      a: DataFrame,
      b: DataFrame,
      labelCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    // the vector count rides the grid aggregate: every vector contributes
    // exactly ONE exploded row per position, so count(*) per (label, pos)
    // IS the label's vector count — one scan per snapshot, no second pass
    // (null/empty embeddings explode to nothing and therefore don't count)
    def grid(df: DataFrame, sumAs: String, nAs: String): DataFrame =
      df.select(
        col(labelCol).as("label"),
        posexplode(transform(col(vecCol),
          x => floor(x.cast("double") * 1048576.0).cast("long"))))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as(sumAs), count(lit(1)).as(nAs))
    grid(a, "__sa", "n_a")
      .join(grid(b, "__sb", "n_b"), Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(
        // max, not first: deterministic even on malformed ragged-length
        // input (well-formed snapshots have identical counts on every pos)
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"),
        // cast BEFORE multiplying: a long×long grid-sum product wraps at
        // warehouse scale (sums grow with rows·2^20)
        sum(col("__sa").cast(d38) * col("__sb").cast(d38)).as("__dot"),
        sum(col("__sa").cast(d38) * col("__sa").cast(d38)).as("__na2"),
        sum(col("__sb").cast(d38) * col("__sb").cast(d38)).as("__nb2"))
      .select(
        col("label"), col("n_a"), col("n_b"),
        when(col("__na2") === 0 || col("__nb2") === 0, lit(null).cast("double"))
          .otherwise(col("__dot").cast("double") /
            (sqrt(col("__na2").cast("double")) * sqrt(col("__nb2").cast("double"))))
          .as("cos_centroid"))
  }

  /** Deterministic random hyperplanes: `bits` rows of `dim` components in
    * [-1, 1), seeded — the classic SimHash-for-vectors construction.
    */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** LSH bucket id: sign bit of the dot product against each hyperplane. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex
      .map { case (p, i) =>
        when(dot(vec, typedLit(p.toSeq)) > 0, lit(1L << i)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  /** Embedding dimensionality, read from the first row (one tiny driver job).
    * Hyperplanes MUST match the data dim: planes wider than the vectors
    * degenerate to dead components, narrower ones silently truncate the
    * vectors against the planes — wrong buckets, recall collapse, no error.
    */
  private def inferDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(1)

  /** Seeded per-partition RESERVOIR draw of ~`target` rows in ONE map-side
    * pass — the quantizer-training sampler shared by [[ivfBuild]] and
    * [[pqBuild]] (see ivfBuild's scaladoc for why heads would bias and a
    * full-corpus fit would be the scale-killer).
    */
  private def reservoirDraw(df: DataFrame, target: Int, seed: Long): DataFrame = {
    val parts = math.max(1, df.rdd.getNumPartitions)
    val perPart = math.max(1, (target + parts - 1) / parts)
    df.sparkSession.createDataFrame(
      df.rdd.mapPartitionsWithIndex { (pid, it) =>
        val rnd = new java.util.Random(seed ^ (pid.toLong * 0x9E3779B97F4A7C15L))
        val res = new Array[org.apache.spark.sql.Row](perPart)
        var seen = 0L
        while (it.hasNext) {
          val r = it.next()
          if (seen < perPart) res(seen.toInt) = r
          else {
            val j = rnd.nextLong(seen + 1)
            if (j < perPart) res(j.toInt) = r
          }
          seen += 1
        }
        res.iterator.take(math.min(seen, perPart.toLong).toInt)
      }, df.schema)
  }

  /** IVF/LSH-bucketed approximate top-k: corpus and queries are hashed to
    * hyperplane-sign buckets; each query searches only its own bucket.
    * One shuffle on the bucket id instead of a full cross product —
    * recall trades off with `bits` (more bits → smaller buckets).
    * `dim` defaults to 0 = infer from the corpus; queries must match.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      seed: Long = 42L,
      dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim else inferDim(corpus, vecCol)
    val qd = inferDim(queries, vecCol)
    require(qd == d, s"query embedding dim $qd != corpus dim $d")
    val planes = hyperplanes(bits, d, seed)
    val q = queries.select(
      col(idCol).as("q_id"),
      col(vecCol).as("q_vec"),
      l2Norm(col(vecCol)).as("q_norm"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val c = corpus.select(
      col(idCol).as("n_id"),
      col(vecCol).as("n_vec"),
      l2Norm(col(vecCol)).as("n_norm"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val scored = c
      .join(q, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(
        col("q_id"),
        col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm"))).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nlist` cells; each query probes its
    * `nprobe` nearest cells and ranks only those candidates. The classic
    * ANN scale path next to hyperplane LSH ([[lshTopK]]): cells adapt to
    * the data distribution, so recall per candidate examined is typically
    * higher than with data-oblivious hyperplanes.
    *
    * Scale shape: training touches the (small) corpus once; cell
    * assignment is a compiled map over broadcast centroids; candidate
    * generation is ONE equi-join on the cell id (corpus rows live in
    * exactly one cell, so no dedup); scoring/ranking reuse the codegen
    * dot product and a per-query window. `nprobe == nlist` degenerates to
    * exhaustive search — the spec pins that case bitwise to
    * [[bruteForceTopK]].
    */
  /** A built IVF index: the coarse-quantizer centroids (driver-resident —
    * nlist × dim doubles, tiny) plus the corpus with cell assignments.
    * [[save]] persists it with the corpus PARTITIONED BY cell, so an
    * [[ivfLoad]]ed index prunes to the probed cells at the FILE level —
    * a search then reads ~nprobe/nlist of the corpus bytes, which at
    * 100 TB is the entire point of IVF.
    */
  final case class IvfIndex(centroids: Array[Array[Double]], assigned: DataFrame) {
    def save(path: String): Unit = {
      val sp = assigned.sparkSession
      import sp.implicits._
      centroids.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/centroids")
      assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$path/corpus")
    }
  }

  /** Re-attach a saved [[IvfIndex]]. The corpus side stays a lazy
    * partition-pruned scan — nothing is read until a search probes cells.
    */
  def ivfLoad(spark: SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .select("cell", "centroid")
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    IvfIndex(centroids, spark.read.parquet(s"$path/corpus"))
  }

  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L): DataFrame =
    ivfSearch(ivfBuild(corpus, idCol, vecCol, nlist, seed), queries, idCol, vecCol, k, nprobe)

  /** Train the coarse quantizer and assign every corpus vector to its
    * nearest cell — the build half of the IVF lifecycle. Build once,
    * [[IvfIndex.save]], search many: refitting k-means per query batch
    * (what a fused build+search does) is the anti-pattern at scale.
    */
  def ivfBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      seed: Long = 42L): IvfIndex = {
    val sp = corpus.sparkSession
    import sp.implicits._
    graft.ops.Dedup.requireIntegralId(corpus, idCol)
    // Train the coarse quantizer on a bounded draw, NOT the full corpus:
    // k-means is iterative (many passes over its input), and centroid
    // quality saturates at a few hundred points per cell — at 100 TB a
    // full-corpus fit is the scale-killer. The draw is a seeded
    // per-partition RESERVOIR (one map-side pass, no count, no shuffle):
    // taking partition HEADS would be systematically biased on
    // sorted/clustered parquet layouts (typical), skewing centroids toward
    // whatever the layout fronts; the reservoir sees every row of its
    // partition once and keeps a uniform per-partition subsample, with the
    // seed driving the draw deterministically. Tradeoff vs heads: the
    // training draw reads each partition fully instead of stopping at the
    // quota — still ONE pass where the old full-corpus fit paid
    // maxIter passes, and the fit itself touches only the ~256·nlist
    // sample. (Partitions still get equal quotas regardless of size;
    // uniformity is per-partition, which is the right cheap compromise —
    // exact global uniformity would need the row count we refuse to pay
    // for.)
    val trainTarget = 256 * nlist
    // A coarse quantizer needs cell SHAPE, not convergence: 10 Lloyd
    // iterations is standard IVF practice. The draw is ≤256·nlist rows by
    // construction, so collect it ONCE and fit driver-side ([[lloydFit]],
    // k-means++ seeded) — one Spark job total, where a distributed fit
    // pays ~10 job launches for microseconds of arithmetic per pass.
    val raw = reservoirDraw(corpus.select(col(vecCol).as("vec")), trainTarget, seed)
      .collect()
      .map(_.getSeq[Float](0))
      .filter(_ != null)
    require(raw.nonEmpty, "cannot train an IVF quantizer on an empty corpus")
    // pin the dimension to the first drawn vector and drop ragged strays —
    // lloydFit indexes every point by the head's length (pqBuild's guard)
    val dim = raw.head.length
    val draw = raw.collect { case v if v.length == dim => v.map(_.toDouble).toArray }
    val centers = lloydFit(draw, nlist, iters = 10, seed = seed)
    IvfIndex(centers, assignCells(corpus, idCol, vecCol, centers))
  }

  /** Route rows to their nearest cell under an EXISTING quantizer — the
    * shared assignment step of [[ivfBuild]] and [[ivfAppend]]. Compiled
    * map over broadcast centroids; no shuffle.
    */
  private[ops] def assignCells(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centers: Array[Array[Double]]): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(centers)
    corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) => (nearestCells(bc.value, v, 1).head, id, v) }
      .toDF("cell", "n_id", "n_vec")
      .select(col("cell"), col("n_id"), col("n_vec"), l2Norm(col("n_vec")).as("n_norm"))
  }

  /** Incrementally admit a new batch into a SAVED [[IvfIndex]] — the
    * incremental-crawl ANN shape (the [[graft.ops.Dedup.dedupAgainstCorpus]]
    * counterpart): assign the batch to cells with the EXISTING centroids
    * and append the rows into the partitioned corpus layout. No rebuild,
    * no rewrite of existing files — the batch's rows land as new files
    * inside their cell directories, and the next [[ivfLoad]]+[[ivfSearch]]
    * sees saved ∪ appended with the same file-level pruning.
    *
    * Centroids stay fixed, which is standard IVF practice for appends:
    * cell quality degrades only as the data DISTRIBUTION drifts, at which
    * point the answer is a periodic [[ivfBuild]] rebuild, not a per-batch
    * refit. Appending batches whose vectors differ in dimension is refused
    * loudly (same guard as search).
    */
  def ivfAppend(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): Unit = {
    graft.ops.Dedup.requireIntegralId(batch, idCol)
    // one loader for append and search — the save format cannot drift
    // between the two read paths
    val centroids = ivfLoad(spark, path).centroids
    require(centroids.nonEmpty, s"no centroids under $path — not a saved IVF index")
    val bd = inferDim(batch, vecCol)
    require(bd == centroids.head.length,
      s"batch embedding dim $bd != index dim ${centroids.head.length}")
    assignCells(batch, idCol, vecCol, centroids)
      .write.mode("append").partitionBy("cell").parquet(s"$path/corpus")
  }

  /** Probe a built/loaded [[IvfIndex]]: each query searches its `nprobe`
    * nearest cells only. Over a [[IvfIndex.save]]d index the cell filter
    * prunes at the partition level — the scan reads ~nprobe/nlist of the
    * corpus files (plan-asserted in spec).
    */
  def ivfSearch(
      index: IvfIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val sp = queries.sparkSession
    import sp.implicits._
    graft.ops.Dedup.requireIntegralId(queries, idCol)
    // loud dim check against the INDEX, driver-side: a centroid/vector
    // mismatch must never silently truncate into wrong cells
    val qd = inferDim(queries, vecCol)
    require(
      qd == index.centroids.head.length,
      s"query embedding dim $qd != index dim ${index.centroids.head.length}")
    val bc = sp.sparkContext.broadcast(index.centroids)
    val nprobeCapped = math.min(nprobe, index.centroids.length)
    val q = queries
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        nearestCells(bc.value, v, nprobeCapped).map(cell => (cell, id, v))
      }
      .toDF("cell", "q_id", "q_vec")
      .select(col("cell"), col("q_id"), col("q_vec"), l2Norm(col("q_vec")).as("q_norm"))
    val scored = index.assigned
      .join(q, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(
        col("q_id"),
        col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm"))).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Indices of the `n` nearest centroids by squared L2 — the shared cell
    * router of build and search.
    */
  private def nearestCells(cs: Array[Array[Double]], v: Seq[Float], n: Int): Seq[Int] = {
    val d2 = cs.indices.map { i =>
      val c = cs(i)
      require(c.length == v.length,
        s"vector dim ${v.length} != centroid dim ${c.length}")
      var s = 0.0; var j = 0
      while (j < c.length) { val dd = v(j) - c(j); s += dd * dd; j += 1 }
      (s, i)
    }
    d2.sorted.take(n).map(_._2)
  }

  /** Unit-normalize an embedding column map-side (zero shuffle): after
    * this, dot product IS cosine, which halves the arithmetic of every
    * downstream similarity pass. The norm is staged as its own column —
    * an inline `l2Norm` inside the per-element lambda would recompute the
    * full reduction PER COMPONENT (the HOF trap). Zero vectors pass
    * through unchanged (no NaN poisoning).
    */
  def unitNormalize(df: DataFrame, vecCol: String, outCol: String = "unit"): DataFrame =
    df.withColumn("__n", l2Norm(col(vecCol)))
      .withColumn(
        outCol,
        when(col("__n") === 0.0, transform(col(vecCol), v => v.cast("double")))
          .otherwise(transform(col(vecCol), v => v.cast("double") / col("__n"))))
      .drop("__n")

  /** Per-vector symmetric int8 quantization: `q_i = ⌊v_i · 127/max|v| + ½⌋`
    * with the scale factor kept alongside, so approximate dot products and
    * distances reconstruct as `dot(qa, qb)/(scale_a·scale_b)`. This is THE
    * memory lever for embedding search at scale: a 100 TB float corpus
    * becomes ~25 TB of int8 (plus one double per vector), quadrupling what
    * fits in executor memory per ANN probe. Pure Column expressions — zero
    * shuffle, scan-speed, whole-stage codegen.
    *
    * Determinism: `⌊x + ½⌋` (round-half-up) is used instead of `round` so
    * any engine replays it bit-exactly; all arithmetic is double with exact
    * float→double widening. Zero vectors get scale 1.0 (all-zero codes, no
    * division by zero).
    *
    * @return input plus `scale` (double) and `q` (array<int> in [-127,127])
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    // stage the max-abs per the HOF discipline (inline it and the lambda
    // recomputes the full array reduction per component)
    df.withColumn("__mx", array_max(transform(col(vecCol), v => abs(v.cast("double")))))
      .withColumn("scale", when(col("__mx") === 0.0, 1.0).otherwise(lit(127.0) / col("__mx")))
      .withColumn(
        "q",
        transform(col(vecCol), v => floor(v.cast("double") * col("scale") + 0.5).cast("int")))
      .drop("__mx")
  }

  /** Deterministic ±1 sign matrix for random projection, derived from md5
    * over the coordinate pair — any engine with a standard md5 replays the
    * identical matrix from `(j, i)` alone (first hex nibble < 8 → +1), so
    * the "random" projection needs no seed exchange, no stored matrix, no
    * RNG-order coupling. Achlioptas (2001) showed ±1 entries carry the same
    * Johnson–Lindenstrauss distance-preservation guarantee as Gaussian
    * ones.
    */
  def signMatrix(k: Int, dim: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, dim) { (j, i) =>
      md.reset()
      val h = md.digest(s"$j:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1L else -1L
    }
  }

  /** Random-projection dimensionality reduction: project each embedding
    * onto `k` md5-derived ±1 directions — the JL sketch that turns a
    * 768-dim float corpus into a k-long integer corpus for cheap coarse
    * filtering (near-dup pre-screens, diversity sampling, ANN routing)
    * while approximately preserving pairwise distances.
    *
    * Exactness: components land on the 2^20 integer grid FIRST
    * (`⌊v_i · 2^20⌋` — one IEEE multiply+floor), so each projection is a
    * pure ±sum of longs — order-independent, overflow-free (dim · 2^20 ·
    * max|v| ≪ 2^63), bit-replayable in any engine.
    *
    * Scale shape: the sign matrix is a k×dim literal folded into the plan
    * (driver-computed, a few KB); the projection is `k` codegen'd
    * zip_with/aggregate folds per row — entirely map-side, zero shuffle,
    * scan-bounded at 100 TB. Output is long-form `(id, dim, value)` like
    * the vectorizer family, so downstream ops join per-dimension without
    * array surgery.
    *
    * No reference analog — pipeline-extension layer.
    */
  def signProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      gridScale: Long = 1L << 20): DataFrame = {
    require(k > 0, "k must be positive")
    val dim = inferDim(df, vecCol)
    val signs = signMatrix(k, dim)
    val proj = signs.map { row =>
      aggregate(
        zip_with(col("__qv"), typedLit(row.toSeq), (x, s) => x * s),
        lit(0L), (acc, x) => acc + x)
    }
    df.withColumn(
        "__qv",
        transform(col(vecCol), v => floor(v.cast("double") * gridScale.toDouble).cast("long")))
      .select(col(idCol), posexplode(array(proj: _*)))
      .toDF(idCol, "dim", "value")
  }

  /** Exact top-k by INTEGER dot product over int8-quantized, unit-normalized
    * vectors — the quantized replay of [[bruteForceTopK]]. Integer scores
    * make ranking fully deterministic (no float tie ambiguity), and because
    * inputs are unit-normalized first, the int dot preserves cosine order up
    * to quantization error (recall is pinned by spec). Same scale shape as
    * the float baseline: queries broadcast, corpus streams map-side.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // fused codegen'd prep — bitwise-equal to the staged HOF chain
    // `quantizeInt8(unitNormalize(df), "__u")` (spec-pinned); the HOF chain
    // pays three interpreted lambda transforms per corpus ROW, which at
    // scale is the scan throughput
    def prep(df: DataFrame, idAs: String, qAs: String) =
      df.select(
        col(idCol).as(idAs),
        graft.functions.VectorExpressions.int8UnitCodes(col(vecCol)).as(qAs))
    val q = prep(queries, "q_id", "q_q")
    val c = prep(corpus, "n_id", "n_q")
    // Dim guard INSIDE the plan: a silent dim mismatch would truncate the
    // dot and poison every score, but the former driver-side probe cost a
    // Spark job per side — at small scale those two jobs were most of the
    // gap to the float baseline this path exists to beat. The size compare
    // is O(1) per pair and raise_error participates in codegen.
    val guardedDot = when(
      size(col("q_q")) =!= size(col("n_q")),
      raise_error(format_string(
        "query embedding dim %d != corpus dim %d",
        size(col("q_q")), size(col("n_q")))).cast("long"))
      .otherwise(
        // codegen'd integer kernel — bitwise-equal to [[intDotHof]]
        // (spec-pinned); the HOF form paid per-element interpreted lambda
        // dispatch per PAIR, making the quantized path 2.8× slower than
        // the float baseline
        graft.functions.VectorExpressions.intDotProduct(col("q_q"), col("n_q")))
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), guardedDot.as("dot_q"))
    val w = Window.partitionBy("q_id").orderBy(col("dot_q").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) — greedy
    * diversified re-ranking of a bounded candidate list: each step picks
    * the candidate maximizing `wRel·rel − wDiv·maxSim(selected)`, so the
    * result trades relevance against redundancy (the dedup-aware cousin
    * of plain top-k; what retrieval stacks run between ANN and the
    * context window).
    *
    * Exact-integer contract: `relCol` is a long (e.g. an int8 dot score)
    * and similarity is the integer dot of the int8 `codesCol` arrays, so
    * every greedy decision compares longs — no float argmax ambiguity,
    * and a recursive-CTE oracle replays the selection bit-for-bit. Ties
    * break toward the smaller id. The first pick carries no diversity
    * term (selected set empty ⇒ penalty 0); `maxSim` may be negative, in
    * which case it raises the score — the MMR formula, not a clamp.
    *
    * Scale shape: candidates are RESULT lists (top-`depth` per query),
    * bounded by construction. Selection is inherently sequential per
    * query — k·|C| integer dots inside ONE task per query group after a
    * `collect_list` — and embarrassingly parallel across queries; the
    * collected list is sorted by id in-task before the loop, so the plan
    * is partitioning- and arrival-order-invariant. This is the
    * [[graft.ops.Packing]] per-group-sequential discipline: peak memory
    * = one candidate list (|C| ≤ depth rows of dim-length codes).
    *
    * Output: (queryCol?, idCol, mmr_score, pick) — `pick` is the 1-based
    * selection order, `mmr_score` the winning score AT selection time.
    */
  def mmrSelect(
      candidates: DataFrame,
      idCol: String,
      relCol: String,
      codesCol: String,
      k: Int,
      wRel: Long = 7L,
      wDiv: Long = 3L,
      queryCol: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be positive")
    val greedy = udf { (ids: Seq[Long], rels: Seq[Long], qs: Seq[Seq[Int]]) =>
      val cand = ids.indices
        .map(i => (ids(i), rels(i), qs(i).toArray))
        .sortBy(_._1)
        .toArray
      val n = cand.length
      val used = new Array[Boolean](n)
      // max integer-dot similarity to the selected set; valid once m >= 1
      val maxSim = new Array[Long](n)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      var m = 0
      while (m < math.min(k, n)) {
        var bi = -1
        var bs = Long.MinValue
        var i = 0
        while (i < n) {
          if (!used(i)) {
            val s = wRel * cand(i)._2 - (if (m == 0) 0L else wDiv * maxSim(i))
            if (s > bs) { bs = s; bi = i } // strict: ties keep the smaller id
          }
          i += 1
        }
        used(bi) = true
        out += ((cand(bi)._1, bs, m + 1))
        val qb = cand(bi)._3
        var j = 0
        while (j < n) {
          if (!used(j)) {
            val qj = cand(j)._3
            var d = 0L
            var t = 0
            val len = math.min(qb.length, qj.length)
            while (t < len) { d += qb(t).toLong * qj(t).toLong; t += 1 }
            if (m == 0 || d > maxSim(j)) maxSim(j) = d
          }
          j += 1
        }
        m += 1
      }
      out.toSeq
    }
    val parts = queryCol.map(col).toSeq
    val packed = candidates
      .groupBy(parts: _*)
      .agg(collect_list(struct(
        col(idCol).cast("long").as("i"),
        col(relCol).cast("long").as("r"),
        col(codesCol).as("q"))).as("__cand"))
      .select(parts :+ explode(greedy(
        transform(col("__cand"), x => x.getField("i")),
        transform(col("__cand"), x => x.getField("r")),
        transform(col("__cand"), x => x.getField("q")))).as("__p"): _*)
    packed.select(parts ++ Seq(
      col("__p._1").as(idCol),
      col("__p._2").as("mmr_score"),
      col("__p._3").as("pick")): _*)
  }

  /** Near-duplicate vector pairs: bucket by hyperplane signs, verify cosine
    * within buckets (embedding-cosine near-dup for dedup pipelines).
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 8,
      seed: Long = 42L,
      dim: Int = 0): DataFrame = {
    val planes = hyperplanes(bits, if (dim > 0) dim else inferDim(df, vecCol), seed)
    val h = df.select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      l2Norm(col(vecCol)).as("nrm"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val a = h.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = h.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Top principal direction of the (uncentered) embedding matrix by
    * POWER ITERATION, deterministic to the last bit — the
    * embedding-space health probe (a dominant direction with outsized
    * energy usually means a collapsed or biased encoder). Returns the
    * 64-element loading vector on the 2^20 grid as `(k, loading_grid)`.
    *
    * Exactness discipline: embeddings land on the 2^20 integer grid
    * once; each iteration computes per-row dots `d = Σ g·v` in longs
    * (≤ 2^46), accumulates `w = Σ g·d` as order-free DECIMAL(38) sums,
    * and renormalizes with ONE IEEE double combine per component
    * (`⌊w/max|w| · 2^20⌋`) — so the unrolled SQL replay is bit-identical.
    * The iterate `v` is DIM-sized and travels as plan literals (zero
    * corpus motion, the lookalike discipline); the per-iteration 1-row
    * collect is the same justified pull as the IVF training draw. A
    * degenerate all-zero iterate stops early and keeps the last v.
    *
    * Scale shape: `iterations` map-side aggregates over the corpus —
    * no shuffle beyond each 1-row statistics exchange, no pin (each
    * round is one scan; at 100 TB you trade 6 scans for no cached
    * state, the right default for a diagnostic).
    */
  def pcaPower(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      iterations: Int = 6): DataFrame = {
    require(dim > 0 && iterations >= 1, "need dim > 0 and iterations >= 1")
    val sp = df.sparkSession
    import sp.implicits._
    // the grid table feeds every iteration — pin it once
    val g = df.select(
      transform(col(vecCol), x => floor(x.cast("double") * 1048576.0).cast("long"))
        .as("__g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var v: Array[Long] = Array.fill(dim)(1048576L)
    var i = 0
    var degenerate = false
    while (i < iterations && !degenerate) {
      // COMPILED 128-bit per-partition accumulator (r14; guide §4): the
      // former shape — a 64-term codegen'd product chain feeding 64
      // DECIMAL(38) sum buffers — paid a fresh whole-stage-codegen compile
      // of a huge expression per iteration plus interpreted Decimal adds
      // per (row × component). Here each partition folds `w_k += g_k · d`
      // into two-long (hi, lo) signed-128 accumulators in plain JVM
      // arithmetic and emits ONE row; the driver merges per-partition
      // sums as BigInt. Headroom: |g_k·d| ≤ 2^72 with corpus-sized row
      // counts on top stays far below 2^127, so the sums are EXACT and
      // order-free — bit-identical to the DECIMAL(38) aggregate
      // (partitioning-invariance is spec-pinned). Null semantics match
      // the Column form: a null vector, or any null element, poisons the
      // row's dot product and the row contributes nothing anywhere.
      val vLoc = v
      val d = dim
      val partSums = g
        .mapPartitions { it =>
          val hi = new Array[Long](d)
          val lo = new Array[Long](d)
          it.foreach { row =>
            if (!row.isNullAt(0)) {
              val arr = row.getSeq[Any](0)
              // a ragged (short) vector drops the row like a null element:
              // element_at past the end is null in the Column form
              var ok = arr.length >= d
              var s = 0L
              var j = 0
              while (ok && j < d) {
                val e = arr(j)
                if (e == null) ok = false
                else s += e.asInstanceOf[Long] * vLoc(j)
                j += 1
              }
              if (ok) {
                var k = 0
                while (k < d) {
                  val gk = arr(k).asInstanceOf[Long]
                  val pLo = gk * s
                  val pHi = Math.multiplyHigh(gk, s)
                  val nl = lo(k) + pLo
                  if (java.lang.Long.compareUnsigned(nl, lo(k)) < 0) hi(k) += pHi + 1L
                  else hi(k) += pHi
                  lo(k) = nl
                  k += 1
                }
              }
            }
          }
          Iterator.single((hi, lo))
        }
        .collect()
      // an EMPTY (or all-null) corpus sums to zero everywhere — treat it
      // like the all-zero case and keep the start vector
      val w = (0 until dim).map { k =>
        var acc = BigInt(0)
        partSums.foreach { case (phi, plo) =>
          acc += (BigInt(phi(k)) << 64) +
            BigInt(java.lang.Long.toUnsignedString(plo(k)))
        }
        BigDecimal(acc)
      }
      val m = w.map(_.abs).max
      if (m == 0) degenerate = true
      else v = w.map(x =>
        math.floor(x.toDouble / m.toDouble * 1048576.0).toLong).toArray
      i += 1
    }
    g.unpersist(false)
    v.zipWithIndex.map { case (x, k) => ((k + 1).toLong, x) }
      .toSeq.toDF("k", "loading_grid")
  }

  /** Seeded driver-side k-means (k-means++ init, Lloyd refinement) over an
    * ALREADY-BOUNDED sample — the subspace-codebook fitter of [[pqBuild]].
    * Deliberately not Spark ML: the input is the ≤256·k-row training draw,
    * where a distributed fit pays ~10 job launches per subspace for
    * microseconds of arithmetic. Duplicate-heavy samples with fewer
    * distinct points than `k` converge to duplicate centroids, which
    * encode fine (nearest-centroid ties break to the lowest index).
    */
  private def lloydFit(
      pts: Array[Array[Double]],
      k: Int,
      iters: Int,
      seed: Long): Array[Array[Double]] = {
    val n = pts.length
    val dim = pts.head.length
    val rnd = new java.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    // k-means++ seeding: first center uniform, then proportional to the
    // squared distance from the nearest chosen center
    val centers = new Array[Array[Double]](k)
    centers(0) = pts(rnd.nextInt(n)).clone()
    val nearest = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var total = 0.0
      var i = 0
      while (i < n) {
        val d = d2(pts(i), centers(c - 1))
        if (d < nearest(i)) nearest(i) = d
        total += nearest(i); i += 1
      }
      if (total == 0.0) centers(c) = pts(rnd.nextInt(n)).clone()
      else {
        var r = rnd.nextDouble() * total
        var j = 0
        while (j < n - 1 && r >= nearest(j)) { r -= nearest(j); j += 1 }
        centers(c) = pts(j).clone()
      }
      c += 1
    }
    // Lloyd: assign to nearest (ties → lowest index), recompute means;
    // an emptied cluster keeps its previous centroid
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var cc = 0
        while (cc < k) {
          val d = d2(pts(i), centers(cc))
          if (d < bestD) { bestD = d; best = cc }
          cc += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i); counts(a) += 1
        var d = 0
        while (d < dim) { sums(a)(d) += pts(i)(d); d += 1 }
        i += 1
      }
      var cc = 0
      while (cc < k) {
        if (counts(cc) > 0) {
          var d = 0
          while (d < dim) { sums(cc)(d) /= counts(cc); d += 1 }
          centers(cc) = sums(cc)
        }
        cc += 1
      }
      it += 1
    }
    centers
  }

  /** A trained product-quantization index: `codebooks(s)(c)` is centroid
    * `c` of subspace `s`; `codes` holds one `nsub`-byte-equivalent code
    * vector per corpus row — the 8-bytes-per-vector representation that
    * makes billion-scale ANN fit in RAM.
    */
  case class PqIndex(
      codebooks: Array[Array[Array[Double]]],
      codes: DataFrame,
      dim: Int) {
    def nsub: Int = codebooks.length
    def k: Int = codebooks.head.length
  }

  /** Product quantization (Jégou et al.): split each vector into `nsub`
    * subvectors, k-means each subspace independently (on the SAME bounded
    * reservoir draw as [[ivfBuild]] — never the full corpus), and encode
    * every row as its per-subspace nearest-centroid ids. With nsub=8,
    * k=16 a 64-float vector compresses 64× (8 half-byte codes); search
    * never touches raw vectors again.
    *
    * Scale shape: `nsub` k-means fits over one ≤256·k-row sample, then
    * ONE compiled map over the corpus against broadcast codebooks — no
    * shuffle, no raw-vector motion after encode. Like the IVF quantizer,
    * the fit is seeded-deterministic per run but not replayable from the
    * SQL text alone, so the `knn_pq` / `knn_ivfpq` gates capture the
    * fitted codebooks as literals at run time ([[graft.queries
    * .DynamicOracles]]): the query `put()`s oracle SQL embedding the
    * exact per-subspace centroid grids, and DuckDB re-derives codes and
    * distances from those literals — a full hash gate, with the fixture
    * semantics (identical vectors share codes; cluster-separated
    * fixtures retrieve same-cluster neighbors) additionally spec-pinned.
    */
  def pqBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nsub: Int = 8,
      k: Int = 16,
      seed: Long = 42L): PqIndex = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val dim = inferDim(corpus, vecCol)
    require(nsub > 0 && dim % nsub == 0, s"dim $dim must split evenly into $nsub subvectors")
    require(k > 1, s"need k > 1 codewords, got $k")
    val sub = dim / nsub
    // The training draw is ≤256·k rows BY CONSTRUCTION (the same bounded
    // reservoir as ivfBuild), so collect it ONCE and run all `nsub`
    // subspace fits driver-side: one Spark job total, where nsub
    // distributed 10-iteration fits would cost ~nsub·10 jobs of pure
    // scheduling overhead on a sample this small. The corpus itself is
    // still touched exactly once (the encode map below).
    val train = reservoirDraw(corpus.select(col(vecCol).as("vec")), 256 * k, seed)
      .collect()
      .map(_.getSeq[Float](0))
      .filter(v => v != null && v.length == dim)
    require(train.nonEmpty, "cannot train a PQ codebook on an empty corpus")
    val codebooks = (0 until nsub).map { s =>
      val pts = train.map { v =>
        val a = new Array[Double](sub)
        var i = 0
        while (i < sub) { a(i) = v(s * sub + i).toDouble; i += 1 }
        a
      }
      lloydFit(pts, k, iters = 10, seed = seed + s)
    }.toArray
    val bc = sp.sparkContext.broadcast(codebooks)
    val codes = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) =>
        val cbs = bc.value
        val out = new Array[Int](cbs.length)
        val sd = v.length / cbs.length
        var s = 0
        while (s < cbs.length) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cbs(s).length) {
            var d = 0.0; var i = 0
            while (i < sd) {
              val diff = v(s * sd + i).toDouble - cbs(s)(c)(i)
              d += diff * diff; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          out(s) = best; s += 1
        }
        (id, out.toSeq)
      }
      .toDF("id", "codes")
    PqIndex(codebooks, codes, dim)
  }

  /** Asymmetric-distance (ADC) top-k over a PQ index: each query builds
    * its nsub×k table of exact subspace distances ONCE (driver-side,
    * queries are the small side by contract), the tables broadcast, and
    * every corpus code scores by `nsub` table lookups — the reason PQ
    * search reads 8 bytes per candidate instead of 256. Returns
    * `(q_id, n_id, rank, adc_dist)`, self-matches excluded, ties broken
    * by id; the per-query top-k is WindowGroupLimit-bounded.
    *
    * CONTRACT: the query set is the SMALL, bounded side — its ADC tables
    * live on the driver and broadcast (`maxQueries`, default
    * [[Similarity.DefaultMaxAdcQueries]]; nsub·k doubles per query). A
    * corpus-sized query set (e.g. PQ-accelerated all-pairs dedup) must
    * NOT come through this API — it would OOM the driver — so the bound
    * fails loudly, probing only `maxQueries + 1` rows to do it. Raise
    * `maxQueries` deliberately when you know |Q| and the driver heap.
    */
  def pqTopK(
      index: PqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      topK: Int,
      maxQueries: Int = DefaultMaxAdcQueries): DataFrame = {
    val sp = index.codes.sparkSession
    import sp.implicits._
    require(topK > 0, s"topK must be positive, got $topK")
    val sub = index.dim / index.nsub
    val qs = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].limit(maxQueries + 1).collect()
    require(qs.length <= maxQueries,
      s"pqTopK: query set exceeds maxQueries=$maxQueries — per-query ADC " +
        "tables are driver-resident by contract; route corpus-sized query " +
        "sets through the banded dedup/LSH paths or raise maxQueries " +
        "deliberately")
    val tables: Array[(Long, Array[Array[Double]])] = qs.map { case (qid, qv) =>
      require(qv.length == index.dim, s"query dim ${qv.length} != index dim ${index.dim}")
      val t = Array.tabulate(index.nsub, index.k) { (s, c) =>
        var d = 0.0; var i = 0
        while (i < sub) {
          val diff = qv(s * sub + i).toDouble - index.codebooks(s)(c)(i)
          d += diff * diff; i += 1
        }
        d
      }
      (qid, t)
    }
    val bc = sp.sparkContext.broadcast(tables)
    val scored = index.codes.as[(Long, Seq[Int])]
      .flatMap { case (id, cs) =>
        bc.value.iterator.collect { case (qid, t) if qid != id =>
          var d = 0.0; var s = 0
          while (s < cs.length) { d += t(s)(cs(s)); s += 1 }
          (qid, id, d)
        }
      }
      .toDF("q_id", "n_id", "adc_dist")
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
        col("adc_dist"))
  }

  /** IVF+PQ composite ANN (Jégou et al. — the FAISS `IVFPQ` shape, THE
    * billion-scale index): an IVF coarse quantizer routes each query to
    * its `nprobe` nearest cells, and within those cells candidates score
    * by PQ asymmetric distance over their `nsub`-byte codes — the search
    * reads ~nprobe/nlist of the corpus and 8 bytes per candidate instead
    * of the raw vectors. Composes [[ivfBuild]] (cell routing) with
    * [[pqBuild]]'s codebooks (scoring); both fits are seeded-deterministic
    * over the same bounded reservoir, so the whole search is replayable —
    * the knn_ivfpq oracle embeds BOTH literal sets and replays routing,
    * encode, and the ADC left-fold exactly.
    *
    * Scale shape: two bounded-draw fits + ONE compiled corpus map for
    * cells+codes (no shuffle); search joins the query's probe list to the
    * cell-partitioned code table (a saved index prunes at file level,
    * [[IvfIndex.save]]), scores by broadcast distance tables, and the
    * per-query top-k is WindowGroupLimit-bounded. Returns
    * `(q_id, n_id, rank, adc_dist)` like [[pqTopK]].
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 8,
      nprobe: Int = 3,
      nsub: Int = 8,
      ksub: Int = 16,
      seed: Long = 42L): DataFrame =
    ivfPqSearch(
      ivfBuild(corpus, idCol, vecCol, nlist, seed),
      pqBuild(corpus, idCol, vecCol, nsub, ksub, seed),
      queries, idCol, vecCol, k, nprobe)

  /** Search half of [[ivfPqTopK]] over PREBUILT indexes — build once,
    * search many (and the shape that lets a caller capture the fitted
    * literals for replay).
    *
    * Same bounded-query CONTRACT as [[pqTopK]]: per-query probe lists +
    * ADC tables are driver-resident and broadcast, so the query set must
    * stay ≤ `maxQueries` (fails loudly past the bound, probing only
    * `maxQueries + 1` rows).
    */
  def ivfPqSearch(
      ivf: IvfIndex,
      pq: PqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      maxQueries: Int = DefaultMaxAdcQueries): DataFrame = {
    val sp = queries.sparkSession
    import sp.implicits._
    require(k > 0, s"k must be positive, got $k")
    val sub = pq.dim / pq.nsub
    // one cell+code table: the assigned cells join the codes on id — both
    // came from the same compiled corpus maps, id-partitioned
    val indexed = ivf.assigned.select(col("cell"), col("n_id"))
      .join(pq.codes.select(col("id").as("n_id"), col("codes")), Seq("n_id"))
      .localCheckpoint(true)
    val qs = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].limit(maxQueries + 1).collect()
    require(qs.length <= maxQueries,
      s"ivfPqSearch: query set exceeds maxQueries=$maxQueries — per-query " +
        "ADC tables are driver-resident by contract; route corpus-sized " +
        "query sets through the banded dedup/LSH paths or raise maxQueries " +
        "deliberately")
    val nprobeCapped = math.min(nprobe, ivf.centroids.length)
    val tables: Array[(Long, Array[Int], Array[Array[Double]])] = qs.map {
      case (qid, qv) =>
        require(qv.length == pq.dim, s"query dim ${qv.length} != index dim ${pq.dim}")
        val cells = ivf.centroids.indices.map { i =>
          val c = ivf.centroids(i)
          var s = 0.0; var j = 0
          while (j < c.length) { val dd = qv(j) - c(j); s += dd * dd; j += 1 }
          (s, i)
        }.sorted.take(nprobeCapped).map(_._2).toArray
        val t = Array.tabulate(pq.nsub, pq.k) { (s, c) =>
          var d = 0.0; var i = 0
          while (i < sub) {
            val diff = qv(s * sub + i).toDouble - pq.codebooks(s)(c)(i)
            d += diff * diff; i += 1
          }
          d
        }
        (qid, cells, t)
    }
    val bc = sp.sparkContext.broadcast(tables)
    val scored = indexed.as[(Long, Int, Seq[Int])]
      .flatMap { case (id, cell, cs) =>
        bc.value.iterator.collect {
          case (qid, cells, t) if qid != id && cells.contains(cell) =>
            var d = 0.0; var s = 0
            while (s < cs.length) { d += t(s)(cs(s)); s += 1 }
            (qid, id, d)
        }
      }
      .toDF("q_id", "n_id", "adc_dist")
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
        col("adc_dist"))
  }

  /** Distributed Lloyd k-means over the [[graft.functions.Int8UnitCodes]]
    * integer codes — EXACT, seedless, and replayable step-for-step by a
    * SQL oracle: the one clustering formulation this library can put
    * under the cross-engine hash gate (float k-means is spec territory —
    * libm and reduction order shift centroids between engines).
    *
    * Determinism contract, pinned on both sides of the gate:
    *  - points are the int8 UNIT codes (cosine geometry on the integer
    *    grid, the same codes [[int8TopK]] searches);
    *  - init: the codes of the `k` smallest ids, cluster j = rank j —
    *    no RNG, no seed exchange;
    *  - dist² is exact long arithmetic; argmin ties break to the
    *    SMALLEST cluster index (`array_position` returns the FIRST hit);
    *  - centroid update is per-dimension floor(sum/n): sums are exact
    *    longs and the single double division is exact while |sum| < 2⁵³
    *    (at extreme per-cluster row counts route the sums through
    *    decimal(38) — same lever as the IVM aggregates);
    *  - empty clusters keep their previous centroid;
    *  - `iters` is FIXED, never convergence-tested: every engine and
    *    every partitioning computes the identical trajectory.
    *
    * Scale shape: per iteration ONE pass over the cached code table.
    * Assignment is a pure codegen'd Column fold over the BROADCAST-LITERAL
    * centroid table — no join, no shuffle, no UDF. The update shuffles
    * only map-side-combined `(cluster, dim)` partial sums (≤ k·dim rows
    * per task) and pulls k·dim aggregated longs to the driver per round —
    * the same bounded-pull discipline as [[ivfBuild]]'s training draw.
    * Vectors with null components are dropped up front (a null poisons
    * every distance); a ragged dimension fails loudly in-plan.
    *
    * @return one row per surviving input row: (id, cluster, dist2)
    */
  def kmeansCodes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val (_, cent, assigned) = kmeansFit(df, idCol, vecCol, k, iters)
    assigned(cent).select(col("id").as(idCol), col("cluster"), col("dist2"))
  }

  /** The deterministic k-means fit shared by [[kmeansCodes]] and
    * [[kmeansSilhouette]]: int8 unit codes, first-k-ids seeding, exact
    * long d², floor-mean centroid updates — returns the cached code
    * table, the fitted centroids, and the assignment builder. The
    * trajectory is bit-replayable (the kmeans oracle unrolls it), so two
    * callers running the same fit land on identical centroids.
    */
  private def kmeansFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): (DataFrame, Array[Array[Long]], Array[Array[Long]] => DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    graft.ops.Dedup.requireIntegralId(df, idCol)
    val codes = df
      .filter(col(vecCol).isNotNull)
      .select(
        col(idCol).cast("long").as("id"),
        graft.functions.VectorExpressions.int8UnitCodes(col(vecCol))
          .cast("array<long>").as("x"))
      .filter(!exists(col("x"), v => v.isNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val initRows = codes.orderBy("id").limit(k).collect()
    require(initRows.length == k,
      s"need >= $k vectors to seed $k clusters, got ${initRows.length}")
    var cent: Array[Array[Long]] = initRows.map(_.getSeq[Long](1).toArray)
    val dim = cent.head.length
    require(cent.forall(_.length == dim),
      s"ragged init vectors: expected dim $dim across the first $k ids")
    // assignment against a literal centroid table: d2s[j] folds exactly,
    // array_min + first-position argmin give the deterministic tie-break
    def assigned(c: Array[Array[Long]]): DataFrame = {
      val cLit = typedLit(c.map(_.toSeq).toSeq)
      val guarded = when(
        size(col("x")) =!= dim,
        raise_error(concat(lit("embedding dim "), size(col("x")).cast("string"),
          lit(s" != $dim"))).cast("array<bigint>"))
        .otherwise(col("x"))
      codes
        .withColumn("__gx", guarded)
        .withColumn("__d2s", transform(cLit, cv =>
          aggregate(zip_with(col("__gx"), cv, (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, v) => acc + v)))
        .select(col("id"), col("x"),
          (array_position(col("__d2s"), array_min(col("__d2s"))) - 1L)
            .cast("int").as("cluster"),
          array_min(col("__d2s")).as("dist2"))
    }
    for (_ <- 1 to iters) {
      val sums = assigned(cent)
        .select(col("cluster"), posexplode(col("x")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .groupBy("cluster")
        .agg(sort_array(collect_list(struct(col("pos"),
          floor(col("s").cast("double") / col("n")).cast("long").as("cv")))).as("st"))
        .select(col("cluster"), transform(col("st"), t => t("cv")).as("c"))
        .collect()
      val next = cent.map(_.clone) // empty clusters keep their centroid
      sums.foreach { r => next(r.getInt(0)) = r.getSeq[Long](1).toArray }
      cent = next
    }
    (codes, cent, assigned)
  }

  /** Simplified (centroid-based) silhouette per k-means cluster
    * (Rousseeuw 1987's diagnostic in the O(n·k) form production systems
    * actually run — the O(n²) pairwise original is the scale cliff this
    * avoids): per point, `a` = d² to its OWN centroid, `b` = min d² to
    * any OTHER centroid, `s = (b−a)/max(a,b)` on the 2²⁰ grid. With
    * argmin assignment `a` is the global minimum, so `s ∈ [0, 2²⁰]`:
    * near 2²⁰ = tight, well-separated cluster; near 0 = the point sits
    * on a boundary. Both-zero distances (a point equal to two centroids)
    * define s = 0. All distances are exact longs off the same fit as
    * [[kmeansCodes]] (shared deterministic trajectory), so per-cluster
    * means replay verbatim in the unrolled oracle.
    *
    * Scale shape: the k-means fit plus ONE more pass over the cached
    * code table against the k-row centroid literal — no joins, no pairs;
    * output is k rows.
    */
  def kmeansSilhouette(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2, got $k")
    val (codes, cent, _) = kmeansFit(df, idCol, vecCol, k, iters)
    val cLit = typedLit(cent.map(_.toSeq).toSeq)
    codes
      .withColumn("__d2s", transform(cLit, cv =>
        aggregate(zip_with(col("x"), cv, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v)))
      .select(
        col("id"),
        (array_position(col("__d2s"), array_min(col("__d2s"))) - 1L)
          .cast("int").as("cluster"),
        array_min(col("__d2s")).as("__a"),
        col("__d2s"),
        array_position(col("__d2s"), array_min(col("__d2s"))).cast("int").as("__p"))
      .withColumn("__b",
        array_min(concat(
          slice(col("__d2s"), lit(1), col("__p") - 1),
          slice(col("__d2s"), col("__p") + 1, lit(k) - col("__p")))))
      .withColumn("__s",
        when(greatest(col("__a"), col("__b")) === 0L, lit(0L))
          .otherwise(expr("(__b - __a) * 1048576 DIV greatest(__a, __b)")))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        sum(col("__s")).as("__sum"))
      .select(col("cluster"), col("n"),
        expr("__sum DIV n").as("mean_sil_grid"))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal, the classic 2-approximation) over the int8 unit codes —
    * the diversity-first data-selection step: each pick is the point
    * FARTHEST from everything already kept, so k points cover the
    * embedding space with the smallest achievable radius (up to 2×). The
    * dedup-complement of [[kmeansCodes]]: k-means finds the dense middles,
    * k-center finds the edges a curated eval set must not miss.
    *
    * Determinism contract (the kmeansCodes discipline): int8 unit codes,
    * exact long `d² = Σ(a−b)²`, start = smallest id, each round's pick =
    * argmax min-distance-to-selected with (d² DESC, id ASC) tie-break —
    * the trajectory replays pick for pick in the recursive-CTE oracle.
    *
    * Scale shape: per round ONE pass over the cached code table (the
    * selected set folds as a broadcast literal — no join), pulling ONE
    * row. k rounds total; k is small by the coreset contract.
    *
    * @return (pick, vec_id, d2_pick) — pick 1..k in selection order;
    *         d2_pick = the min-d² to the prior picks that won the round
    *         (null for the seed pick)
    */
  def kcenterSelect(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.ops.Dedup.requireIntegralId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val codes = df
      .filter(col(vecCol).isNotNull)
      .select(
        col(idCol).cast("long").as("id"),
        graft.functions.VectorExpressions.int8UnitCodes(col(vecCol))
          .cast("array<long>").as("x"))
      .filter(!exists(col("x"), v => v.isNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = codes.orderBy("id").limit(1).collect()
    require(first.nonEmpty, "need at least one vector")
    val dim = first(0).getSeq[Long](1).length
    var sel = Vector((first(0).getLong(0), first(0).getSeq[Long](1).toArray,
      None: Option[Long]))
    while (sel.length < k) {
      val cLit = typedLit(sel.map(_._2.toSeq))
      val ids = sel.map(_._1)
      val guarded = when(
        size(col("x")) =!= dim,
        raise_error(concat(lit("embedding dim "), size(col("x")).cast("string"),
          lit(s" != $dim"))).cast("array<bigint>"))
        .otherwise(col("x"))
      val win = codes
        .filter(!col("id").isin(ids: _*))
        .withColumn("__gx", guarded)
        .select(col("id"), col("x"),
          array_min(transform(cLit, cv =>
            aggregate(zip_with(col("__gx"), cv, (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, v) => acc + v))).as("__d2"))
        .orderBy(col("__d2").desc, col("id").asc)
        .limit(1)
        .collect()
      if (win.isEmpty) // fewer than k distinct vectors: return what exists
        return sel.zipWithIndex
          .map { case ((id, _, d2), i) => (i + 1, id, d2) }
          .toDF("pick", "vec_id", "d2_pick")
      sel = sel :+ ((win(0).getLong(0), win(0).getSeq[Long](1).toArray,
        Some(win(0).getLong(2))))
    }
    sel.zipWithIndex
      .map { case ((id, _, d2), i) => (i + 1, id, d2) }
      .toDF("pick", "vec_id", "d2_pick")
  }
}
