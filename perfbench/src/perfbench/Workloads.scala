package perfbench

import scala.util.Random

import graft.SparkEntry
import graft.core._
import graft.core.Expr._
import graft.tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload needs from the harness. `dataDir` holds the base tables,
  * `inputDir` the seeded inputs made for this run.
  */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val catalyst: Option[CatalystProbe],
    val dataDir: String,
    val inputDir: String,
    val outDir: String,
    val seed: Long,
    val corruptCheck: Boolean) {

  /** Run `df` to completion the way the project's bench does
    * (`toRdd.count()`: the plan as written, no pruning by the consumer).
    */
  def consume(df: DataFrame): Long = tracer.span("consume") {
    val qe = df.queryExecution
    val n = qe.toRdd.count()
    catalyst.foreach(_.record(qe))
    n
  }

  /** Block-manager storage held by RDD blocks: (MB in memory and on disk, block count). */
  def storage(): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum / 1e6, infos.map(_.numCachedPartitions).sum)
  }

  /** The most storage the workload's state held in the timed phase, in MB. */
  var peakMb = 0.0

  /** Record the storage held now, less `baseMb` held before the work began. */
  def notePeak(baseMb: Double = 0.0): Unit = peakMb = math.max(peakMb, storage()._1 - baseMb)
}

/** One op's outcome. `tag` identifies the input it consumed (the delta
  * slice on ivm_stream); `digest` is its output, checked after the run;
  * `parts` are the slot runs of a catalogue pass: (slot, rows, nanoseconds).
  */
final case class OpResult(
    name: String,
    rows: Long,
    tag: Int = -1,
    deltaRows: Long = 0,
    digest: Seq[(Long, Long)] = Nil,
    parts: Seq[(String, Long, Long)] = Nil)

trait Workload {

  /** One whole set-up; the harness repeats it (`rep` counts from 0) and
    * times each.
    */
  def setUp(rep: Int): Unit

  /** Drop a set-up that is not the one the timed phase uses. */
  def tearDown(): Unit

  /** Untimed warm-up after the last set-up, before the timed phase. */
  def warmUp(): Unit = ()

  def hasNext: Boolean = true

  /** One timed op. */
  def run(): OpResult

  /** Untimed output check of the ops that ran: failure reason per op
    * index. Outputs checked by the DuckDB oracle are written under
    * `outDir/results` instead, and their names returned in `written`.
    */
  def check(ops: IndexedSeq[OpResult]): Map[Int, String] = Map.empty

  def written: Seq[String] = Nil

  def close(): Unit
}

object Workload {
  def apply(name: String, c: Ctx, slots: Seq[String]): Workload = name match {
    case "ivm_stream" => new IvmStream(c)
    case "catalogue"  => new Catalogue(c, slots)
    case other        => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent digest of each frame, all read in ONE action:
    * (row count, sum of the rows' 32-bit xxhash64).
    */
  def digest(dfs: Seq[DataFrame]): Seq[(Long, Long)] = {
    val tagged = dfs.zipWithIndex.map { case (df, i) => df.select(lit(i).as("v"), rowHash(df.columns)) }
    val got = tagged.reduce(_ union _).groupBy("v").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    dfs.indices.map(got.getOrElse(_, (0L, 0L)))
  }

  def rowHash(cols: Seq[String]): Column =
    xxhash64(cols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL)).as("h")
}

/** The reference's own traffic: one long-lived session over `events`,
  * `orders` and `customer`, seven maintained views, and per op one epoch of
  * inserts, `stabilizeAll`, a read of every view and one ad-hoc query.
  */
final class IvmStream(c: Ctx) extends Workload {
  import c.spark.implicits._
  import IvmStream._

  private val spark = c.spark
  private val tracer = c.tracer

  // Inputs, materialized once: the stable halves are parquet, every delta
  // slice is a driver-side local relation, so an epoch scans nothing else.
  // The slices are cut into `epoch`s by the input generator.
  private val stableEvents = Tables.events(spark, c.inputDir)
  private val stableOrders = Tables.orders(spark, c.inputDir)
  private val customers = Tables.customer(spark, c.dataDir)
  private val deltaEvents = spark.read.parquet(s"${c.inputDir}/events_delta.parquet")
    .withColumn("ts", col("ts").cast("timestamp"))
  private val deltaOrders = spark.read.parquet(s"${c.inputDir}/orders_delta.parquet")
  private val eventSlices = slices(deltaEvents.select(col("epoch"),
    struct(eventCols.map(col): _*)).as[(Int, Event)].collect())
  private val orderSlices = slices(deltaOrders.select(col("epoch"),
    struct(orderCols.map(col): _*)).as[(Int, Order)].collect())
  require(eventSlices.length == orderSlices.length, "event and order slice counts differ")

  private var db: CoddSession = _
  private var ev: Rel[Event] = _
  private var ord: Rel[Order] = _
  private var views: Seq[Expr[Any]] = Nil
  private var adhoc: Expr[Any] = _
  private var next = 0

  private def slices[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](rows: Array[(Int, T)]) =
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
      (spark.createDataset(rs.map(_._2).toSeq), rs.length.toLong)
    }.toIndexedSeq

  def setUp(rep: Int): Unit = {
    db = new CoddSession(spark)
    ev = db.addRelation[Event]("events")
    ord = db.addRelation[Order]("orders")
    val cust = db.addRelation[Customer]("customer")
    tracer.span("ingest") {
      db.insert(cust, customers)
      db.insert(ev, stableEvents)
      db.insert(ord, stableOrders)
      db.stabilizeAll()
    }
    // Every view keeps the event or order key, so each epoch's slice adds
    // rows to every view: the work per epoch does not depend on the seed.
    tracer.span("views") {
      val sel = db.storeView(
        ev.select(_.value > 50.0).project(e => (e.event_id, e.user_id, e.event_type)))
      val chain = db.storeView(sel.select(_._3 != "error").project(t => (t._1, t._2)))
      val join = db.storeView(
        ord.select(_.o_totalprice > 300000.0)
          .withKey(_.o_custkey)
          .join(cust.withKey(_.c_custkey))
          .on((k, o, c) => (k, c.c_name, o.o_orderkey)))
      val fan = FanOut.map(t => db.storeView(ev.select(_.event_type == t)))
      views = (Seq[Expr[_]](sel, chain, join) ++ fan).map(_.asInstanceOf[Expr[Any]])
      adhoc = ord.select(_.o_totalprice > 250000.0)
        .project(o => (o.o_custkey, o.o_orderpriority)).asInstanceOf[Expr[Any]]
      Workload.digest(views.map(db.evaluate(_).toDF()))
    }
    next = 0
  }

  def tearDown(): Unit = db.close()

  override def warmUp(): Unit = run()

  override def hasNext: Boolean = next < eventSlices.length

  def run(): OpResult = {
    val k = next
    next += 1
    val (es, ne) = eventSlices(k)
    val (os, no) = orderSlices(k)
    tracer.span("insert") {
      db.insert(ev, es)
      db.insert(ord, os)
    }
    tracer.span("stabilize")(db.stabilizeAll())
    val viewDfs = tracer.span("evaluate")(views.map(db.evaluate(_).toDF()))
    val vd = tracer.span("consume")(Workload.digest(viewDfs))
    val q = tracer.span("evaluate")(db.evaluate(adhoc).toDF())
    val qd = tracer.span("consume")(Workload.digest(Seq(q)))
    c.notePeak()
    OpResult("epoch", (vd ++ qd).map(_._1).sum, k, ne + no, vd ++ qd)
  }

  /** From-scratch recompute of every view and the ad-hoc query over all
    * rows inserted so far, for every slice at once: each output row is
    * tagged with the first slice that produces it (stable rows are -1).
    */
  override def check(ops: IndexedSeq[OpResult]): Map[Int, String] = {
    val e = stableEvents.toDF().withColumn("e", lit(-1))
      .union(deltaEvents.select((eventCols :+ "epoch").map(col): _*).toDF((eventCols :+ "e"): _*))
      .filter(col("e") < next)
    val o = stableOrders.toDF().withColumn("e", lit(-1))
      .union(deltaOrders.select((orderCols :+ "epoch").map(col): _*).toDF((orderCols :+ "e"): _*))
      .filter(col("e") < next)
    val cu = customers.toDF()
    val defs = Seq(
      e.filter(col("value") > 50.0).select("event_id", "user_id", "event_type", "e"),
      e.filter(col("value") > 50.0 && col("event_type") =!= "error").select("event_id", "user_id", "e"),
      o.filter(col("o_totalprice") > 300000.0)
        .join(cu, col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "e")) ++
      FanOut.map(t => e.filter(col("event_type") === t).select((eventCols :+ "e").map(col): _*)) :+
      o.filter(col("o_totalprice") > 250000.0).select("o_custkey", "o_orderpriority", "e")
    val firstSeen = defs.map { d =>
      val cols = d.columns.filter(_ != "e").toSeq
      d.groupBy(cols.map(col): _*).agg(min("e").as("e"))
        .select(col("e"), Workload.rowHash(cols))
        .groupBy("e").agg(count(lit(1)), sum("h")).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    def expected(k: Int): Seq[(Long, Long)] = firstSeen.zipWithIndex.map { case (m, d) =>
      val (n, s) = m.toSeq.collect { case (t, v) if t <= k => v }
        .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
      if (c.corruptCheck && d == 0) (n + 1, s) else (n, s)
    }
    ops.zipWithIndex.flatMap { case (r, i) =>
      val want = expected(r.tag)
      val bad = r.digest.zip(want).zipWithIndex.collect { case ((g, w), d) if g != w =>
        s"output $d: got (rows, hash) $g, expected $w"
      }
      if (r.digest.size != want.size) Some(i -> "digest size differs")
      else bad.headOption.map(i -> _)
    }.toMap
  }

  def close(): Unit = if (db != null) db.close()
}

object IvmStream {
  val FanOut = Seq("click", "view", "purchase", "signup")
  val eventCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
  val orderCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
}

/** A slice of the project's query registry (`SparkEntry.queries`). One op
  * is a pass over the slice in seeded order, each slot consumed as the
  * project's bench consumes it and its pinned state released after it. A
  * set-up is one untimed pass; the first one writes each slot's result for
  * the DuckDB oracle check instead of counting it.
  */
final class Catalogue(c: Ctx, slots: Seq[String]) extends Workload {
  private val fns = slots.map(n => n -> SparkEntry.queries(n)).toMap
  private val rng = new Random(c.seed)

  private def release(): Unit = {
    graft.queries.ParityQueries.releaseSessions()
    graft.ops.Linkage.releaseShared()
    graft.queries.RelationalQueries.releaseShared()
  }

  def setUp(rep: Int): Unit = slots.foreach { n =>
    val df = c.tracer.span("evaluate")(fns(n)(c.spark, c.dataDir))
    if (rep == 0) df.coalesce(1).write.mode("overwrite").parquet(s"${c.outDir}/results/$n")
    else c.consume(df)
    release()
  }

  def tearDown(): Unit = ()

  override def warmUp(): Unit = run()

  def run(): OpResult = {
    val parts = rng.shuffle(slots).map { n =>
      // what this slot pins: blocks an earlier slot left for the GC to
      // free are held before and after it alike
      val base = c.storage()._1
      val t0 = System.nanoTime()
      val rows = c.consume(c.tracer.span("evaluate")(fns(n)(c.spark, c.dataDir)))
      val ns = System.nanoTime() - t0
      c.notePeak(base)
      release()
      (n, rows, ns)
    }
    OpResult("pass", parts.map(_._2).sum, parts = parts)
  }

  override def written: Seq[String] = slots

  def close(): Unit = release()
}
