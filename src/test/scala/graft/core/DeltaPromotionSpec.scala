package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Delta-sized promotions: select-chain views promote their deltas without
  * a dedup plan (novel by construction), every materialized batch is sized
  * by its bytes, and a failed stabilization round rolls back what it
  * installed.
  *
  * Contents are checked against the [[FromScratch]] oracle — a fresh
  * session that evaluates the view's defining expression ad hoc over every
  * row inserted so far. Views are compared as sorted sequences, not sets:
  * a delta wrongly promoted as novel shows up as a duplicate row.
  */
class DeltaPromotionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import Expr._
  import DeltaPromotionSpec.marked

  private type Row = (Int, Int)
  private def rows(r: Range): Seq[Row] = r.map(i => (i, i * 7 % 23))

  /** `expr` over a relation `r` holding `all`, from scratch. */
  private def oracle[T: Ordering](all: Seq[Row])(expr: Rel[Row] => Expr[T]): Seq[T] =
    FromScratch(spark) { o =>
      val r = o.addRelation[Row]("r")
      o.insert(r, all)
      expr(r)
    }

  private def contents[T: Ordering](db: CoddSession, v: Expr[T]): Seq[T] =
    db.evaluate(v).collect().toSeq.sorted

  /** Epochs that stress the novelty argument: a plain first load, stable
    * rows re-inserted beside new ones, a duplicate-only epoch, and two
    * overlapping batches (with in-batch duplicates) staged in one epoch.
    */
  private val epochs: Seq[Seq[Seq[Row]]] = Seq(
    Seq(rows(1 to 40)),
    Seq(rows(30 to 70)),
    Seq(rows(1 to 20)),
    Seq(rows(60 to 90) ++ rows(85 to 88), rows(80 to 110)))

  test("select chains over a relation match a from-scratch oracle (fused)") {
    val db = new CoddSession(spark)
    val r = db.addRelation[Row]("r")
    val one: Rel[Row] => Expr[Row] = _.select(_._2 % 2 == 0)
    val two: Rel[Row] => Expr[Row] = _.select(_._2 > 5).select(_._1 % 3 != 0)
    val v1 = db.storeView(one(r))
    val v2 = db.storeView(two(r))
    var all = Seq.empty[Row]
    epochs.zipWithIndex.foreach { case (batches, e) =>
      batches.foreach { b => db.insert(r, b); all ++= b }
      db.stabilizeAll()
      assert(contents(db, v1) == oracle(all)(one), s"v1 after epoch $e")
      assert(contents(db, v2) == oracle(all)(two), s"v2 after epoch $e")
    }
    db.close()
  }

  test("select chains over a view match a from-scratch oracle (fused)") {
    val db = new CoddSession(spark)
    val r = db.addRelation[Row]("r")
    // the base view is a project (dedup path); the chains over it are not
    val base: Rel[Row] => Expr[Row] = _.project(t => (t._1 % 17, t._2))
    val w = db.storeView(base(r))
    val v1 = db.storeView(w.select(_._2 > 3))
    val v2 = db.storeView(v1.select(_._1 % 2 == 1).select(_._2 < 20))
    var all = Seq.empty[Row]
    epochs.zipWithIndex.foreach { case (batches, e) =>
      batches.foreach { b => db.insert(r, b); all ++= b }
      // read only the deepest view: its evaluate stabilizes the chain
      assert(contents(db, v2) ==
        oracle(all)(r => base(r).select(_._2 > 3).select(_._1 % 2 == 1).select(_._2 < 20)),
        s"v2 after epoch $e")
      assert(contents(db, v1) == oracle(all)(r => base(r).select(_._2 > 3)), s"v1 after epoch $e")
    }
    db.close()
  }

  test("a fork followed by divergent inserts keeps each side exact") {
    val db = new CoddSession(spark)
    val r = db.addRelation[Row]("r")
    val sel: Rel[Row] => Expr[Row] = _.select(_._2 >= 10)
    val v = db.storeView(sel(r))
    db.insert(r, rows(1 to 30))
    db.stabilizeAll()
    // a staged-but-unstabilized delta rides into the fork
    db.insert(r, rows(25 to 40))
    db.evaluate(r).count()
    val f = db.fork()
    db.insert(r, rows(35 to 60))
    f.insert(r, rows(1 to 10) ++ rows(70 to 90))
    db.stabilizeAll()
    f.stabilizeAll()
    assert(contents(db, v) == oracle(rows(1 to 60))(sel))
    assert(contents(f, v) == oracle(rows(1 to 40) ++ rows(70 to 90))(sel))
    f.close()
    db.close()
  }

  test("a project view still dedups its delta against stable") {
    val db = new CoddSession(spark)
    val r = db.addRelation[Row]("r")
    // many rows map to one tuple, so a delta repeats stable tuples
    val proj: Rel[Row] => Expr[Int] = _.project(_._2 % 5)
    val selProj: Rel[Row] => Expr[Int] = _.select(_._1 > 3).project(_._2 % 4)
    val v1 = db.storeView(proj(r))
    val v2 = db.storeView(selProj(r))
    var all = Seq.empty[Row]
    epochs.foreach { batches =>
      batches.foreach { b => db.insert(r, b); all ++= b }
      db.stabilizeAll()
      assert(contents(db, v1) == oracle(all)(proj))
      assert(contents(db, v2) == oracle(all)(selProj))
    }
    db.close()
  }

  // ------------------------------------------------------------- sizing

  test("a gated promotion's leaf is exactly one partition") {
    val i = new Instance[Int](spark.emptyDataset[Int])
    i.insert(spark.createDataset(1 to 100).repartition(4))
    assert(i.changed())
    assert(i.recent.rdd.getNumPartitions == 1, "first batch")
    i.insert(spark.createDataset(50 to 150).repartition(4))
    assert(i.changed())
    assert(i.recent.rdd.getNumPartitions == 1, "fused promotion")
    assert(i.recent.collect().sorted.toSeq == (101 to 150))
    i.close()
  }

  test("a compaction rewrite never has more partitions than its input") {
    val key = Instance.AdvisoryPartitionSizeKey
    val saved = spark.conf.getOption(key)
    // the default advisory size collapses a rewrite to one partition; a
    // one-byte advisory asks for far more partitions than the input has
    Seq("64MB", "1b").foreach { advisory =>
      spark.conf.set(key, advisory)
      val i = new Instance[Int](spark.emptyDataset[Int])
      try {
        var rewrites = 0
        (0 until 16).foreach { k =>
          i.insert(spark.createDataset((k * 10) until (k * 10 + 10)).repartition(3))
          i.changed()
          val in = i.stable.rdd.getNumPartitions + i.recent.rdd.getNumPartitions
          i.changed() // folds recent into stable, compacting
          val out = i.stable.rdd.getNumPartitions
          assert(out <= in, s"advisory $advisory, epoch $k: $in partitions became $out")
          if (out < in) rewrites += 1
        }
        if (advisory == "64MB") assert(rewrites > 0, "no rewrite collapsed its input")
        assert(i.stable.collect().sorted.toSeq == (0 until 160))
      } finally {
        i.close()
        saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
    }
  }

  test("a compaction rewrite keeps the partitions of the ingest run") {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    // without AQE the ingest's distinct keeps the configured shuffle width
    spark.conf.set(key, "false")
    val i = new Instance[Int](spark.emptyDataset[Int], lazyFirstBatch = true)
    try {
      i.insert(spark.createDataset(1 to 100))
      assert(i.changed())
      val width = i.recent.rdd.getNumPartitions
      assert(width > 1, "the lazy cached ingest is not sized")
      i.insert(spark.createDataset(101 to 200))
      assert(i.changed())
      assert(i.recent.rdd.getNumPartitions == 1)
      // folding the delta merges it into the cached ingest run, which
      // re-materializes on its first merge
      assert(!i.changed())
      assert(i.stableBatchCount == 1)
      assert(i.stable.rdd.getNumPartitions == width)
      assert(i.stable.collect().sorted.toSeq == (1 to 200))
    } finally {
      i.close()
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("partitionsFor is the ceiling of bytes over the advisory size") {
    assert(Instance.partitionsFor(0L, 64L) == 1)
    assert(Instance.partitionsFor(64L, 64L) == 1)
    assert(Instance.partitionsFor(65L, 64L) == 2)
    assert(Instance.partitionsFor(Long.MaxValue, 1L) == Int.MaxValue)
  }

  // ------------------------------------------------------------ rollback

  test("an aborted promotion restores the instance it was prepared on") {
    val i = new Instance[Int](spark.emptyDataset[Int])
    i.insert(spark.createDataset(1 to 10))
    assert(i.changed())
    i.insert(spark.createDataset(5 to 20))
    val p = i.prepareChanged().toOption.get
    i.installOptimistic(p)
    i.abortPrepared(p)
    assert(!i.hasRecent)
    assert(i.stableCount == 10)
    assert(i.pendingCount == 1, "the drained insert is staged again")
    assert(i.changed())
    assert(i.recent.collect().sorted.toSeq == (11 to 20))
    assert(i.stableCount == 10)
    i.close()
  }

  /** A round inserting rows 6..9 fails while [[DeltaPromotionSpec.armed]]
    * (`view` throws on row 7); it must free its checkpoints at once, keep
    * the inserted rows, and fail
    * again on retry while the fault lasts. Once the fault is lifted, a
    * retry converges to the from-scratch answer and the session keeps
    * maintaining the view.
    */
  private def failedRoundRecovers(seed: Seq[Row])(view: Rel[Row] => Expr[Row]): Unit = {
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val db = new CoddSession(spark)
    val r = db.addRelation[Row]("r")
    val v = db.storeView(view(r))
    db.insert(r, seed)
    db.stabilizeAll()
    val blocksSettled = spark.sparkContext.getPersistentRDDs.keySet
    var all = seed ++ rows(6 to 9)
    DeltaPromotionSpec.armed = true
    try {
      db.insert(r, rows(6 to 9))
      val e = intercept[Exception](db.stabilizeAll())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("marked row 7")))
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- blocksSettled
      assert(leaked.isEmpty, s"the failed round left checkpoints behind: $leaked")
      // the faulty row is still there, so is the fault
      intercept[Exception](db.stabilizeAll())
    } finally DeltaPromotionSpec.armed = false
    db.stabilizeAll()
    assert(contents(db, r) == all.distinct.sorted)
    assert(db.evaluate(r).count() == all.distinct.size)
    assert(contents(db, v) == oracle(all)(view))
    db.insert(r, rows(20 to 22))
    all ++= rows(20 to 22)
    assert(contents(db, v) == oracle(all)(view))
    db.close()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore
    assert(leaked.isEmpty, s"checkpoints outlived the session: $leaked")
  }

  test("a failed wave action rolls back and a retry converges (fused)") {
    // a select view: its prepare runs nothing, so the wave action throws
    failedRoundRecovers(rows(1 to 3))(_.select(marked))
  }

  test("a failed inline prepare rolls back and a retry converges (fused)") {
    // a project view over a non-empty stable set: its prepare broadcasts
    // the delta for the dedup, which throws before any wave action
    failedRoundRecovers(rows(1 to 6))(_.select(marked).project(t => (t._1, 0)))
  }

  test("a failed round re-derives a chain of views over the rolled-back relation") {
    val db = new CoddSession(spark)
    val r = db.addRelation[Row]("r")
    val base: Rel[Row] => Expr[Row] = _.project(t => (t._1, t._2 % 3))
    val w = db.storeView(base(r))
    val v = db.storeView(w.select(marked))
    val u = db.storeView(v.select(_._2 != 1))
    db.insert(r, rows(1 to 5))
    db.stabilizeAll()
    DeltaPromotionSpec.armed = true
    try {
      db.insert(r, rows(6 to 12))
      intercept[Exception](db.stabilizeAll())
    } finally DeltaPromotionSpec.armed = false
    db.insert(r, rows(13 to 15))
    db.stabilizeAll()
    val all = rows(1 to 15)
    assert(contents(db, w) == oracle(all)(base))
    assert(contents(db, v) == oracle(all)(r => base(r).select(marked)))
    assert(contents(db, u) == oracle(all)(r => base(r).select(marked).select(_._2 != 1)))
    db.close()
  }
}

object DeltaPromotionSpec {

  /** While set, [[marked]] throws on row 7, as a faulty user closure may. */
  @volatile var armed = false

  val marked: ((Int, Int)) => Boolean = { t =>
    if (armed && t._1 == 7) throw new IllegalStateException("marked row 7")
    t._1 > 5
  }
}
