package graft.core

import graft.TestSpark
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot/SQL-bridge behavior plus the key IVM invariant as a property:
  * a view maintained incrementally over random insert schedules equals
  * from-scratch recomputation (the reference states this only implicitly
  * through its tests; SURVEY §5 calls it out as the property worth pinning).
  */
class CoddSessionExtrasSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import Expr._

  test("fork: snapshot isolation (database.rs:410-441)") {
    val db = new CoddSession(spark)
    val r = db.addRelation[Int]("r")
    db.insert(r, Seq(1, 2))
    assert(db.evaluateSorted(r) == Seq(1, 2))
    val db2 = db.fork()
    db.insert(r, Seq(3))
    db2.insert(r, Seq(4))
    assert(db.evaluateSorted(r) == Seq(1, 2, 3))
    assert(db2.evaluateSorted(r) == Seq(1, 2, 4))
  }

  test("fork carries staged-but-unstabilized inserts") {
    val db = new CoddSession(spark)
    val r = db.addRelation[Int]("r")
    db.insert(r, Seq(1, 2)) // staged only
    val db2 = db.fork()
    assert(db2.evaluateSorted(r) == Seq(1, 2))
  }

  test("sql bridge: relations and stored views as temp views (macros.rs analog)") {
    val db = new CoddSession(spark)
    val r = db.addRelation[(Int, String)]("people")
    db.insert(r, Seq((1, "ann"), (2, "bob"), (3, "cy")))
    val v = db.storeView(r.select(_._1 >= 2))
    db.evaluate(v).count()
    val names = db.sql(s"SELECT _2 AS name FROM view_${v.ref.id} ORDER BY 1")
      .as[String].collect().toSeq
    assert(names == Seq("bob", "cy"))
    val joined = db.sql(
      "SELECT p._2 FROM people p JOIN people q ON p._1 = q._1 WHERE q._1 = 1")
      .as[String].collect().toSeq
    assert(joined == Seq("ann"))
  }

  test("property: incremental view == full recomputation over random schedules") {
    val genBatch = Gen.listOf(Gen.zip(Gen.choose(0, 5), Gen.choose(0, 20)))
    val genSchedule = Gen.listOfN(3, Gen.zip(genBatch, genBatch))
    val prop = Prop.forAllNoShrink(genSchedule) { schedule =>
      val db = new CoddSession(spark)
      val r = db.addRelation[(Int, Int)]("r")
      val s = db.addRelation[(Int, Int)]("s")
      val expr = r
        .withKey(_._1)
        .join(s.withKey(_._1))
        .on((k, l, rr) => (k, l._2 + rr._2))
        .select(_._2 % 2 == 0)
        .union(r.project(t => (t._1, t._2 * 2)))
      val view = db.storeView(expr)
      var ok = true
      schedule.foreach { case (rb, sb) =>
        if (rb.nonEmpty) db.insert(r, rb)
        if (sb.nonEmpty) db.insert(s, sb)
        // incremental content (via view) vs from-scratch (direct expression)
        ok &&= db.evaluateSorted(view) == db.evaluateSorted(expr)
      }
      ok
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: stabilizeAll == per-view stabilization over random schedules") {
    // the batched epoch (one action per DAG wave) must be a pure
    // execution-strategy change: random insert schedules over a join
    // view AND a dependent view-over-view, one session driven by
    // stabilizeAll, each view equal at every epoch to its defining
    // expression evaluated from scratch over every row inserted so far
    val genBatch = Gen.listOf(Gen.zip(Gen.choose(0, 5), Gen.choose(0, 20)))
    val genSchedule = Gen.listOfN(3, Gen.zip(genBatch, genBatch))
    def joined(r: Expr[(Int, Int)], s: Expr[(Int, Int)]) =
      r.withKey(_._1).join(s.withKey(_._1)).on((k, l, rr) => (k, l._2 + rr._2))
    def over(v: Expr[(Int, Int)]) = v.select(_._2 % 3 != 1).project(_._2)
    val prop = Prop.forAllNoShrink(genSchedule) { schedule =>
      val db = new CoddSession(spark)
      val r = db.addRelation[(Int, Int)]("r")
      val s = db.addRelation[(Int, Int)]("s")
      val v1 = db.storeView(joined(r, s))
      val v2 = db.storeView(over(v1))
      var rs = Seq.empty[(Int, Int)]
      var ss = Seq.empty[(Int, Int)]
      def oracle[T: Ordering](expr: (Expr[(Int, Int)], Expr[(Int, Int)]) => Expr[T]) =
        FromScratch(spark) { f =>
          val fr = f.addRelation[(Int, Int)]("r")
          val fs = f.addRelation[(Int, Int)]("s")
          f.insert(fr, rs); f.insert(fs, ss)
          expr(fr, fs)
        }
      var ok = true
      schedule.foreach { case (rb, sb) =>
        if (rb.nonEmpty) { db.insert(r, rb); rs ++= rb }
        if (sb.nonEmpty) { db.insert(s, sb); ss ++= sb }
        db.stabilizeAll()
        ok &&= db.evaluateSorted(v1) == oracle(joined)
        ok &&= db.evaluateSorted(v2) == oracle((r, s) => over(joined(r, s)))
      }
      db.close()
      ok
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }
}
