package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** [[CoddSession.stabilizeAll]] — the batched epoch (one Spark action per
  * view-DAG wave) must keep every view equal to its defining expression
  * evaluated from scratch ([[FromScratch]]): same rows, each once, across
  * multi-epoch/multi-level cascades, and `stabilizeAll` epochs must
  * interleave freely with ordinary `evaluate`s on one session.
  */
class StabilizeAllSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import Expr._

  private def fresh = new CoddSession(spark)

  /** Orders, customers, and a join view over the orders above 100. */
  private def ordersByCustomer(db: CoddSession) = {
    val o = db.addRelation[(Int, Int)]("orders")
    val c = db.addRelation[(Int, String)]("cust")
    val joined = o.select(_._2 > 100).withKey(_._1)
      .join(c.withKey(_._1)).on((k, ord, cu) => (k, cu._2, ord._2))
    (o, c, joined)
  }

  /** [[ordersByCustomer]]'s join over `orders` and `cust`, from scratch. */
  private def joinOracle(orders: Seq[(Int, Int)], cust: Seq[(Int, String)]) =
    FromScratch(spark) { f =>
      val (o, c, joined) = ordersByCustomer(f)
      f.insert(o, orders); f.insert(c, cust)
      joined
    }

  test("flat fan-out: N views over one relation, one batched epoch each") {
    val db = fresh
    val r = db.addRelation[(Int, Int)]("r")
    val vs = (0 until 5).map { i =>
      db.storeView(r.select(_._2 > i * 10).project(t => (t._1, t._2 + i)))
    }
    db.insert(r, (1 to 50).map(i => (i, i)))
    db.stabilizeAll()
    val afterFirst = vs.zipWithIndex.map { case (v, i) =>
      val got = db.evaluate(v).collect().toSet
      val want = (1 to 50).filter(_ > i * 10).map(x => (x, x + i)).toSet
      assert(got == want, s"view $i after epoch 1")
      got.size
    }
    // second epoch: a delta plus duplicates — set semantics must hold
    db.insert(r, (40 to 60).map(i => (i, i)))
    db.stabilizeAll()
    vs.zipWithIndex.foreach { case (v, i) =>
      val got = db.evaluate(v).collect().toSet
      val want = (1 to 60).filter(_ > i * 10).map(x => (x, x + i)).toSet
      assert(got == want, s"view $i after epoch 2")
      assert(got.size >= afterFirst(i))
    }
    db.close()
  }

  test("chain: view over view over view cascades level by level") {
    val db = fresh
    val r = db.addRelation[Int]("r")
    val v1 = db.storeView(r.select(_ % 2 == 0))
    val v2 = db.storeView(v1.project(_ / 2))
    val v3 = db.storeView(v2.select(_ > 5))
    db.insert(r, 1 to 40)
    db.stabilizeAll()
    assert(db.evaluateSorted(v3) == (6 to 20))
    db.insert(r, 41 to 60)
    db.stabilizeAll()
    assert(db.evaluateSorted(v3) == (6 to 30))
    db.close()
  }

  test("batched epochs match a sequential twin session exactly (join view)") {
    // the twin is a fresh session per epoch evaluating the view's
    // expression from scratch over every row inserted so far
    val db = fresh
    val (o, c, joined) = ordersByCustomer(db)
    val v = db.storeView(joined)
    val custRows = (1 to 20).map(i => (i, s"c$i"))
    val epochs = Seq(
      (1 to 30).map(i => (i % 20 + 1, i * 10)),
      (1 to 10).map(i => (i, 50 + i * 20)),
      Seq((1, 110), (1, 110), (2, 999))) // dup rows + dup epoch content
    db.insert(c, custRows)
    var orders = Seq.empty[(Int, Int)]
    epochs.foreach { batch =>
      db.insert(o, batch); orders ++= batch
      db.stabilizeAll() // batched epoch
      assert(db.evaluateSorted(v) == joinOracle(orders, custRows),
        s"batched != from scratch after batch of ${batch.size}")
    }
    db.close()
  }

  test("empty deltas and already-stable sessions are a quiet no-op") {
    val db = fresh
    val r = db.addRelation[Int]("r")
    val v = db.storeView(r.select(_ > 5))
    db.stabilizeAll() // nothing inserted at all
    assert(db.evaluate(v).count() == 0)
    db.insert(r, 1 to 10)
    db.stabilizeAll()
    db.stabilizeAll() // idempotent second call
    assert(db.evaluateSorted(v) == (6 to 10))
    db.insert(r, Seq(3)) // delta that misses the view entirely
    db.stabilizeAll()
    assert(db.evaluateSorted(v) == (6 to 10))
    db.close()
  }

  /** Distinct SQL executions `body` runs, scoped by a unique job group
    * (a bare-RDD sentinel in the same group flushes the FIFO bus).
    */
  private def probeExecutions(body: => Unit): Int = {
    val group = s"stabilize_probe_${java.util.UUID.randomUUID()}"
    val execIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val sentinel = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == j.properties.getProperty("spark.jobGroup.id")) {
          Option(j.properties.getProperty("spark.sql.execution.id")) match {
            case Some(id) => execIds.add(id)
            case None     => sentinel.incrementAndGet()
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "stabilize probe window")
      body
      spark.sparkContext.range(0, 1).count() // FIFO sentinel, same group
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10e9.toLong
      while (sentinel.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      execIds.size
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fused evaluate: one action per dependency wave; a fan-out epoch is ONE action (r14)") {
    // A chain pays one action per DAG level (a dependent's plan must
    // never race its dependee's still-lazy leaf in one union action), but
    // SIBLING views fuse: rel→(v1,v2) epochs run the relation wave, then
    // ONE action for both views, then the consumer count.
    val db = fresh
    val r = db.addRelation[Int]("r")
    val v1 = db.storeView(r.select(_ % 2 == 0))
    val v2 = db.storeView(r.select(_ % 2 == 1))
    val both = v1.union(v2)
    db.insert(r, 1 to 40)
    val e1 = probeExecutions { db.evaluate(both).count() }
    assert(e1 == 3, s"epoch 1 must be rel wave + fused sibling wave + 1 count, saw $e1")
    assert(db.evaluateSorted(v1) == (2 to 40 by 2))
    db.insert(r, 30 to 60)
    val e2 = probeExecutions { db.evaluate(both).count() }
    // epoch 2: the relation's promotion still runs its prepare-time
    // checkpoint execution (the broadcast-dedup futures fire at RDD
    // construction — inherent to Dataset.localCheckpoint); the two select
    // views' deltas are novel by construction, so their prepares build no
    // dedup plan and run nothing. The three promotions run as TWO wave
    // actions (rel, then both views fused), plus the cached first batch's
    // flatten and the consumer count: 1 + 2 + 1 + 1.
    assert(e2 == 5, s"epoch 2 must be 1 prepare + 2 wave actions + flatten + 1 count, saw $e2")
    assert(db.evaluateSorted(v2) == (1 to 60 by 2))
    // a duplicate-only epoch: zero-novel commits must unwind cleanly
    db.insert(r, 30 to 60)
    assert(db.evaluateSorted(v1) == (2 to 60 by 2))
    db.close()
  }

  test("a select-only fan-out epoch's prepares run zero jobs") {
    // select views' deltas are novel by construction: each prepare
    // checkpoints its delta as is, with no dedup plan whose broadcasts
    // would run at RDD construction, so the round is its one wave action
    val db = fresh
    val r = db.addRelation[(Int, Int)]("r")
    val vs = (0 until 4).map(i => db.storeView(r.select(_._2 % 4 == i)))
    db.insert(r, (1 to 100).map(i => (i, i)))
    db.stabilizeAll()
    db.insert(r, (50 to 200).map(i => (i, i)))
    // stabilize the relation OUTSIDE the probe window (stages the deltas)
    db.evaluate(r).count()
    val e = probeExecutions { db.stabilizeAll() }
    assert(e == 1, s"a select-only fan-out round must be ONE action, saw $e")
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(db.evaluate(v).collect().toSeq.sorted ==
        (1 to 200).filter(_ % 4 == i).map(x => (x, x)))
    }
    db.close()
  }

  test("fused evaluate matches a sequential twin across mixed epochs (join view)") {
    // the twin is a fresh session per epoch evaluating the view's
    // expression from scratch over every row inserted so far
    val db = fresh
    val (o, c, joined) = ordersByCustomer(db)
    val v = db.storeView(joined)
    // BOTH relations receive batches in the SAME epoch — the fused round
    // promotes them together and the view's one staged delta must apply
    // the full 3-term rule (δL⋈Rˢ ∪ Lˢ⋈δR ∪ δL⋈δR)
    val epochs = Seq(
      ((1 to 15).map(i => (i, s"c$i")), (1 to 30).map(i => (i % 15 + 1, i * 10))),
      ((10 to 25).map(i => (i, s"c$i")), (1 to 10).map(i => (i + 10, 50 + i * 20))),
      (Seq((1, "c1")), Seq((1, 110), (1, 110), (2, 999))))
    var orders = Seq.empty[(Int, Int)]
    var cust = Seq.empty[(Int, String)]
    epochs.foreach { case (cb, ob) =>
      db.insert(c, cb); db.insert(o, ob)
      cust ++= cb; orders ++= ob
      assert(db.evaluateSorted(v) == joinOracle(orders, cust),
        "fused evaluate diverged from the from-scratch oracle")
    }
    db.close()
  }

  test("one batched round runs ONE action for a flat 8-view fan-out") {
    // count DISTINCT SQL executions (actions): one count() action per view
    // would be 8 execution ids; the batched round must run exactly ONE —
    // the union-of-counts action whose AQE stage sub-jobs all share that
    // execution id
    val db = fresh
    val r = db.addRelation[(Int, Int)]("r")
    val vs = (0 until 8).map { i =>
      db.storeView(r.select(_._2 % 8 == i).project(t => (t._1, i)))
    }
    db.insert(r, (1 to 100).map(i => (i, i)))
    // stabilize the relation OUTSIDE the probe window (stages the 8 view
    // deltas)
    db.evaluate(r).count()
    val e = probeExecutions { db.stabilizeAll() }
    assert(e == 1, s"a batched 8-view round must be ONE action, saw $e")
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(db.evaluate(v).collect().toSet ==
        (1 to 100).filter(_ % 8 == i).map(x => (x, i)).toSet)
    }
    db.close()
  }
}
