package graft

import org.apache.spark.sql.SparkSession

/** IVM epoch-budget experiment (VERDICT r9 stretch 8): the reference's 2x
  * geometric-compaction rule (instance.rs:177-187) was adopted in round 1
  * but never measured — and it is the one engine parameter that matters at
  * a long-lived 100x deployment, where a view's base relation sees
  * thousands of insert epochs.
  *
  * Three view shapes (VERDICT r10 item 5 added the second, r11 item 6 the
  * third):
  *  - `filter`: one relation + one filter/project view — the cheap
  *    per-epoch shape, isolates the compaction policy itself.
  *  - `join`: the THREE-TERM DELTA JOIN (δL⋈Rˢ ∪ Lˢ⋈δR ∪ δL⋈δR,
  *    evaluate.rs:198-250) — the expensive IVM shape, where deltas
  *    MULTIPLY: a mis-sized stable set is joined against every epoch's
  *    delta, so a wrong compaction factor compounds instead of adding.
  *    Dimension (customer) loads once; the fact side (orders) arrives in
  *    `batches` equal insert->stabilize epochs.
  *  - `fanout`: ONE relation feeding N dependent views (the DAG axis the
  *    chain/join shapes miss): the relation's promotion stages one
  *    `viewDeltaStep` per dependent view (`CoddSession.stabilize`), and
  *    each view's `evaluate` promotes its delta in an action of its own,
  *    so every epoch pays one delta step per dependent view. The claim
  *    under test: per-epoch cost is LINEAR in N with delta-sized work per
  *    view (each step reads only the relation's recent set, never the
  *    other views). N comes from the 4th arg.
  *
  * Prints per-epoch wall times (and the total) under the engine's
  * compaction factor ([[graft.core.Instance.CompactionFactor]]); SCALE.md
  * records the r10 sweep over factors x batch counts x shapes at sf1.
  *
  *  - `fanout_one` (round 13): the same N-view fan-out driven by
  *    `stabilizeAll` — every view promotion batched into ONE Spark action
  *    per DAG round, one union-of-counts consumption action — to measure
  *    how much of fanout's ~0.24 s/view marginal cost was per-job
  *    scheduling floor rather than delta work.
  *
  * Usage: runMain graft.EpochBudget <sfDir> <batches> [filter|join|restart|fanout|fanout_one] [nviews]
  */
object EpochBudget {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val batches = if (args.length > 1) args(1).toInt else 10
    val shape = if (args.length > 2) args(2) else "filter"
    require(Seq("filter", "join", "restart", "fanout", "fanout_one").contains(shape),
      s"unknown shape $shape")
    val nviews = if (args.length > 3) args(3).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val db = new graft.core.CoddSession(spark)
    val (n, times) = shape match {
      case "filter" =>
        val all = graft.tables.Tables.events(spark, dir).cache()
        val rows = all.count()
        val ev = db.addRelation[graft.tables.Event]("events")
        val v = db.storeView(
          ev.select(_.value > 100.0).project(e => (e.user_id, e.event_type)))
        rows -> (0 until batches).map { b =>
          val batch = all.filter(_.event_id % batches == b)
          val t0 = System.nanoTime()
          db.insert(ev, batch)
          db.evaluate(v).count()
          (System.nanoTime() - t0) / 1e9
        }
      case "restart" =>
        // r10 verdict stretch item 8: the durable-store RECOVERY path at
        // scale. N insert->stabilize epochs against a ReliableStore, hard
        // close ("crash"), then measure cold recovery: loadBatches +
        // attach + late-view init over the recovered content. Prints the
        // recovery seconds and the stable-batch count the store held —
        // the pair SCALE.md's long-lived-deployment row needs.
        val all = graft.tables.Tables.events(spark, dir).cache()
        val rows = all.count()
        val base = java.nio.file.Files
          .createTempDirectory("graft_restart_probe").toString
        val s1 = new graft.core.CoddSession(
          spark, graft.core.Instance.ReliableStore(base))
        val ev1 = s1.addRelation[graft.tables.Event]("events")
        val v1 = s1.storeView(
          ev1.select(_.value > 100.0).project(e => (e.user_id, e.event_type)))
        val epochTimes = (0 until batches).map { b =>
          val t0 = System.nanoTime()
          s1.insert(ev1, all.filter(_.event_id % batches == b))
          s1.evaluate(v1).count()
          (System.nanoTime() - t0) / 1e9
        }
        s1.close()
        val storeDir = s"$base/rel_events"
        val nBatches = java.nio.file.Files.list(java.nio.file.Paths.get(storeDir))
          .filter(p => p.getFileName.toString.startsWith("batch")).count()
        val t0 = System.nanoTime()
        val recovered = graft.core.Instance
          .loadBatches(spark, storeDir).as[graft.tables.Event]
        val s2 = new graft.core.CoddSession(
          spark, graft.core.Instance.ReliableStore(base, attach = true))
        val ev2 = s2.addRelation[graft.tables.Event]("events")
        s2.insert(ev2, recovered)
        val v2 = s2.storeView(
          ev2.select(_.value > 100.0).project(e => (e.user_id, e.event_type)))
        val n2 = s2.evaluate(v2).count()
        val recSec = (System.nanoTime() - t0) / 1e9
        s2.close()
        println(
          f"""{"experiment":"restart_recovery","batches":$batches,""" +
            f""""rows":$rows,"durable_batches":$nBatches,""" +
            f""""epoch_mean_sec":${epochTimes.sum / batches}%.3f,""" +
            f""""recovery_sec":$recSec%.2f,"view_rows":$n2}""")
        spark.stop()
        return
      case "fanout" =>
        // one relation, N dependent views: each epoch's stabilization loop
        // delivers the relation's delta to every dependent (one viewDeltaStep
        // per view per changed() round). Distinct thresholds/projections per
        // view so Catalyst cannot collapse the N plans into one.
        val all = graft.tables.Tables.events(spark, dir).cache()
        val rows = all.count()
        val ev = db.addRelation[graft.tables.Event]("events")
        val vs = (0 until nviews).map { i =>
          val lo = 5.0 + i * 3.0
          if (i % 2 == 0)
            db.storeView(ev.select(_.value > lo).project(e => (e.user_id, e.event_type)))
          else
            db.storeView(ev.select(_.value <= lo).project(e => (e.event_id % 1000, e.event_type)))
        }
        rows -> (0 until batches).map { b =>
          val batch = all.filter(_.event_id % batches == b)
          val t0 = System.nanoTime()
          db.insert(ev, batch)
          // stabilize EVERY view: stepping a dependent only STAGES its
          // delta plan (viewDeltaStep -> insertDistinct); the work
          // materializes when that view's own changed() runs inside ITS
          // evaluate. Evaluating just one view would leave the other N-1
          // deltas lazy and measure a 1-view epoch regardless of N.
          vs.foreach(v => db.evaluate(v).count())
          (System.nanoTime() - t0) / 1e9
        }
      case "fanout_one" =>
        // the r12 fanout's follow-up (VERDICT r12 item 3): same N views,
        // same batches, but the epoch is ONE stabilizeAll (all view
        // promotions in one batched action) plus ONE union-of-counts
        // consumption action — vs fanout's N sequential evaluate().count()
        // epochs, whose marginal ~0.24 s/view was pure per-job floor.
        val all = graft.tables.Tables.events(spark, dir).cache()
        val rows = all.count()
        val ev = db.addRelation[graft.tables.Event]("events")
        val vs = (0 until nviews).map { i =>
          val lo = 5.0 + i * 3.0
          if (i % 2 == 0)
            db.storeView(ev.select(_.value > lo).project(e => (e.user_id, e.event_type)))
          else
            db.storeView(ev.select(_.value <= lo).project(e => (e.event_id % 1000, e.event_type)))
        }
        rows -> (0 until batches).map { b =>
          val batch = all.filter(_.event_id % batches == b)
          val t0 = System.nanoTime()
          db.insert(ev, batch)
          db.stabilizeAll()
          // consume every view's content in ONE action, so the epoch's
          // verification cost matches fanout's per-view counts in kind
          vs.map(v => db.evaluate(v).toDF().groupBy().count())
            .reduce(_ union _).collect()
          (System.nanoTime() - t0) / 1e9
        }
      case _ =>
        // three-term delta join: dimension once, fact in epochs
        val cust = db.addRelation[graft.tables.Customer]("customer")
        db.insert(cust, graft.tables.Tables.customer(spark, dir))
        val all = graft.tables.Tables.orders(spark, dir).cache()
        val rows = all.count()
        val ord = db.addRelation[graft.tables.Order]("orders")
        val v = db.storeView(
          ord.select(_.o_totalprice > 300000.0)
            .withKey(_.o_custkey)
            .join(cust.withKey(_.c_custkey))
            .on((k, o, c) => (k, c.c_name, o.o_orderkey)))
        rows -> (0 until batches).map { b =>
          val batch = all.filter(_.o_orderkey % batches == b)
          val t0 = System.nanoTime()
          db.insert(ord, batch)
          db.evaluate(v).count()
          (System.nanoTime() - t0) / 1e9
        }
    }
    db.close()
    val total = times.sum
    val tail = times.takeRight(5).map(t => f"$t%.2f").mkString("/")
    val nv = if (shape.startsWith("fanout")) s""""nviews":$nviews,""" else ""
    println(
      f"""{"experiment":"epoch_budget","shape":"$shape","factor":${graft.core.Instance.CompactionFactor},""" +
        f""""batches":$batches,$nv"rows":$n,"total_sec":$total%.2f,""" +
        f""""mean_sec":${total / batches}%.3f,"last5":"$tail"}""")
    spark.stop()
  }
}
