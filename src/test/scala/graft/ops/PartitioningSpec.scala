package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Partitioning.densify]] — the small-input parallelism guard: a
  * CPU-dense stage over a one-partition scan must widen to
  * `defaultParallelism`; an input already at-or-above it must pass
  * through UNTOUCHED (the warehouse-scale no-op half of the contract —
  * at 100 TB the scan out-partitions the cores and densify must never
  * inject a full-data shuffle).
  */
class PartitioningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a below-parallelism input widens to defaultParallelism, values intact") {
    val par = spark.sparkContext.defaultParallelism
    val df = (1L to 1000L).toDF("id").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val out = Partitioning.densify(df, col("id"))
    assert(out.rdd.getNumPartitions == par,
      s"expected $par partitions, got ${out.rdd.getNumPartitions}")
    assert(out.as[Long].collect().sorted.toSeq == (1L to 1000L),
      "densify must be a pure repartition — same rows")
  }

  test("an at-or-above-parallelism input passes through with no exchange") {
    val par = spark.sparkContext.defaultParallelism
    val df = (1L to 1000L).toDF("id").repartition(par + 2)
    val out = Partitioning.densify(df, col("id"))
    assert(out.rdd.getNumPartitions == par + 2,
      "already-parallel input must be untouched")
    // identity, not a new plan: no repartition node appears
    assert(out.queryExecution.logical eq df.queryExecution.logical,
      "densify must return the input unchanged when the guard does not fire")
  }

  /** Jobs started by `body`, counted listener-side but scoped by a unique
    * job group: bus residue from earlier tests' jobs (delivered after the
    * listener attaches) carries a different/absent group and is ignored. A
    * sentinel job in the SAME group runs after `body`; the bus is FIFO, so
    * once the sentinel's event lands every `body` job event has too.
    */
  private def probeJobs[A](body: => A): (A, Int) = {
    val group = s"graft_probe_${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == j.properties.getProperty("spark.jobGroup.id")) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "densify probe window")
      val result =
        try body
        finally {
          // sentinel, same group: an RDD count is exactly ONE job (a SQL
          // count() under AQE runs one job per query stage)
          spark.sparkContext.range(0, 1).count()
          spark.sparkContext.clearJobGroup()
        }
      val deadline = System.nanoTime() + 10e9.toLong
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      (result, jobs.get() - 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a one-file parquet scan widens; the probe runs ZERO jobs") {
    val par = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_densify").toString
    (1L to 500L).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val (out, ran) = probeJobs(Partitioning.densify(df, col("id")))
    assert(ran == 0,
      s"the probe must size the scan from the compiled plan, not by running jobs ($ran ran)")
    assert(out.rdd.getNumPartitions == par,
      "a one-split scan must widen to defaultParallelism")
  }

  test("a shuffle-shaped input under AQE: identity, and the probe executes NOTHING upstream") {
    // the r12 probe (df.rdd.getNumPartitions) materialized the adaptive
    // plan, executing every upstream stage at DataFrame-construction time;
    // the probe must now neither run jobs nor change the plan
    val left = (1L to 2000L).map(i => (i % 50, i)).toDF("k", "v")
    val agg = left.groupBy("k").count().join(
      (1L to 50L).toDF("k"), Seq("k"))
    val (out, ran) = probeJobs(Partitioning.densify(agg, col("k")))
    assert(ran == 0,
      s"probing a shuffle-shaped plan must not execute its stages ($ran jobs ran)")
    assert(out.queryExecution.logical eq agg.queryExecution.logical,
      "post-shuffle parallelism is already configured — identity")
  }

  // ------------------------------------------------------- exchangeCount
  // The widen-only floor for explicit exchanges: never below
  // defaultParallelism, never a SHRINK of the input.

  test("exchangeCount floors a wide scan-shaped input at its own split count") {
    val par = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_xc").toString
    (1L to 2000L).toDF("id").repartition(par + 3).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val scanParts = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDD.getNumPartitions
    }.get
    assert(Partitioning.exchangeCount(df) == math.max(par, scanParts),
      "a many-split scan must keep its parallelism, not collapse to core count")
  }

  test("exchangeCount of a narrow input is defaultParallelism; shuffle-bearing floors at shuffle partitions") {
    val par = spark.sparkContext.defaultParallelism
    val narrow = (1L to 100L).toDF("id").coalesce(1)
    assert(Partitioning.exchangeCount(narrow) == par)
    val shuffled = (1L to 2000L).map(i => (i % 50, i)).toDF("k", "v").groupBy("k").count()
    val sp = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Partitioning.exchangeCount(shuffled) == math.max(par, sp))
  }

  test("an input repartitioned wider than shuffle partitions is never shrunk") {
    val par = spark.sparkContext.defaultParallelism
    val sp = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wide = math.max(par, sp) * 3
    val df = (1L to 2000L).toDF("id").repartition(wide)
    assert(Partitioning.exchangeCount(df) == wide)
    val plan = Partitioning.densifyCpu(df).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p                                                                => p
    }
    val topExchange = plan.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e.numPartitions
    }
    assert(topExchange.contains(wide), s"densifyCpu shrank a $wide-partition input: $topExchange")
  }

  test("exchangeCount sizes a materialized checkpoint leaf by its blocks") {
    val par = spark.sparkContext.defaultParallelism
    val ck = (1L to 2000L).toDF("id").repartition(par + 5).localCheckpoint(true)
    try assert(Partitioning.exchangeCount(ck) == par + 5,
      "an already-wide pin must not be mistaken for an unsizeable leaf")
    finally org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(ck)
  }

  // --------------------------------------------------- declarePinnedHash
  // The wrong-results-if-misused primitive: a declared layout must (a)
  // remove the consumer-side exchange EnsureRequirements would insert and
  // (b) leave every result byte-identical to the undeclared plan.

  test("declarePinnedHash removes the consumer exchange and preserves content") {
    val par = spark.sparkContext.defaultParallelism
    val base = (1L to 5000L).map(i => (i % 97, i)).toDF("k", "v")
    val pinnedPlan = base.repartition(par, col("k")).localCheckpoint(true)
    try {
      val declared = Partitioning.declarePinnedHash(pinnedPlan, "k")
      val other = (0L to 96L).map(k => (k, s"g$k")).toDF("k", "name")
        .repartition(par, col("k"))
      def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.initialPlan
          case p => p
        }
        plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
        }.size
      }
      // aggregate keyed on the pin: declared plan needs NO new exchange
      // above the checkpoint leaf; the undeclared one re-exchanges
      val aggDeclared = declared.groupBy("k").agg(sum("v").as("s"))
      val aggUndeclared = pinnedPlan.groupBy("k").agg(sum("v").as("s"))
      assert(exchanges(aggDeclared) == exchanges(aggUndeclared) - 1,
        "the declaration must remove exactly the aggregate's re-exchange")
      assert(
        aggDeclared.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
          aggUndeclared.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
        "declared and undeclared aggregates must agree row-for-row")
      // join keyed on the pin: content equality against the undeclared
      // plan (merge hint: a broadcast would bypass partitioning entirely
      // and hide the declaration's effect)
      val jDeclared = declared.join(other.hint("merge"), "k").select("k", "v", "name")
      val jUndeclared = pinnedPlan.join(other.hint("merge"), "k").select("k", "v", "name")
      assert(jDeclared.collect().map(_.toString).sorted.toSeq ==
        jUndeclared.collect().map(_.toString).sorted.toSeq,
        "a layout-breaking declaration would mis-join — content must match")
      assert(exchanges(jDeclared) < exchanges(jUndeclared),
        "the declared side of the join must reuse the pinned layout")
    } finally org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(pinnedPlan)
  }

  test("a leaf the probe cannot size driver-side passes through untouched") {
    // widening a cached relation could inject a full-data shuffle on a
    // big input; the guard must refuse to guess and return the input
    val df = (1L to 1000L).toDF("id").cache()
    try {
      df.count()
      val out = Partitioning.densify(df, col("id"))
      assert(out.queryExecution.logical eq df.queryExecution.logical,
        "unknown-sized leaves (InMemoryTableScan) must pass through")
    } finally df.unpersist()
  }
}
