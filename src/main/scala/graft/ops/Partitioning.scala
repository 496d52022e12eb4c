package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Small-input parallelism guard for CPU-DENSE stages (hash cascades,
  * per-token kernels, signature pipelines): a few-megabyte parquet scan
  * arrives as ONE partition (`spark.sql.files.maxPartitionBytes` splits by
  * bytes, not by downstream cost), so everything pipelined on top of it —
  * including a 16-permutation MinHash or a 48-replica bootstrap — runs
  * single-task no matter how many cores the cluster has. AQE cannot help:
  * it only re-plans around SHUFFLES, and a scan→project→partial-agg
  * prefix has none.
  *
  * `densify` hash-repartitions to `defaultParallelism` ONLY when a
  * SCAN-SHAPED input (scans + narrow transforms, no shuffle) arrives in
  * fewer partitions: at warehouse scale a real scan already carries orders
  * of magnitude more partitions than cores and this is a no-op. The
  * shuffled bytes in the guarded case are by definition small (few
  * partitions ⇒ small scan).
  *
  * The probe inspects the COMPILED physical plan only — scan partition
  * counts come from the scan nodes' own split planning (`inputRDD`, a
  * driver-side construction over the already-listed files). It never
  * materializes the adaptive plan: under AQE, touching `df.rdd` (or
  * `queryExecution.toRdd`) on a plan whose lineage contains shuffles
  * EXECUTES every upstream query stage at probe time, and that work is not
  * reused by the returned plan's own execution — a caller passing a
  * joined/aggregated input would pay its pipeline twice. Plans that
  * contain a shuffle are instead passed through untouched: their output
  * already runs at the configured shuffle parallelism, which is the
  * cluster-sized knob this guard must never second-guess.
  */
object Partitioning {

  /** Repartition `df` on `keys` to `defaultParallelism` when it is
    * scan-shaped and arrives in fewer partitions; identity otherwise.
    * Hash partitioning (not round-robin) keeps the exchange sort-free and
    * deterministic. Identity cases (no plan change, no job, no upstream
    * execution):
    *  - the plan contains a shuffle (post-shuffle parallelism is already
    *    `spark.sql.shuffle.partitions` / AQE-coalesced);
    *  - a leaf the probe cannot size driver-side (cached relations, RDD
    *    scans — widening those could inject a full-data shuffle);
    *  - the summed scan splits already reach `defaultParallelism`.
    */
  def densify(df: DataFrame, keys: Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // compiled plan with exchanges inserted, never executed: under AQE the
    // wrapper's initialPlan is built at construction, before any stage runs
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val hasShuffle =
      plan.collectFirst { case e: ShuffleExchangeLike => e }.nonEmpty
    if (hasShuffle) df
    else
      scanPartitions(plan) match {
        case Some(parts) if parts < par => df.repartition(par, keys: _*)
        case _                          => df
      }
  }

  /** Parallelism guard for CPU-DENSE per-row kernels (hash cascades,
    * per-token compiled maps) whose cost per byte dwarfs a scan's:
    *  - scan-shaped input: [[densify]] semantics — widen a narrow scan to
    *    `defaultParallelism`, pass a wide one through untouched (no
    *    exchange at warehouse scale);
    *  - shuffle-bearing input: an EXPLICIT round-robin exchange at
    *    `max(defaultParallelism, spark.sql.shuffle.partitions)` — explicit
    *    counts are exempt from AQE coalescing, which sizes partitions by
    *    BYTES and would collapse a kB-sized but CPU-bound stage to one
    *    task (measured r14: pipeline_dedup_cascade's simhash stage over
    *    stage-2 survivors, 5.9 s → 8.2 s when the exchange was dropped).
    * Never shrinks: the count floors at the configured shuffle width, the
    * cluster-sized knob, not at local core count — and at the topmost
    * exchange's own count when the input was repartitioned wider still.
    */
  def densifyCpu(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    shuffleFloor(df, plan) match {
      case Some(n) => df.repartition(math.max(par, n))
      case None =>
        scanPartitions(plan) match {
          case Some(parts) if parts < par => df.repartition(par)
          case _                          => df
        }
    }
  }

  /** Floor for an exchange over a plan that already carries a shuffle:
    * the configured shuffle width, or the topmost exchange's own count when
    * the input was explicitly repartitioned wider. None = no shuffle.
    */
  private def shuffleFloor(df: DataFrame, plan: SparkPlan): Option[Int] =
    plan.collectFirst { case e: ShuffleExchangeLike => e }.map { e =>
      math.max(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, e.numPartitions)
    }

  /** Partition count for an EXPLICIT exchange that must always run (pinned
    * layouts feeding [[declarePinnedHash]], AQE-coalescing-exempt CPU-bound
    * stages): at least `defaultParallelism`, and never a SHRINK of the
    * input — the count floors at the input's own scan split count
    * (scan-shaped plans, probed driver-side exactly like [[densify]]) or
    * at the configured shuffle parallelism or the topmost exchange's own
    * count, whichever is wider (plans already carrying a shuffle). On the
    * local bench all three are the core count, so plans
    * are byte-identical; at warehouse scale a many-thousand-partition scan
    * keeps its parallelism instead of collapsing to core count — a
    * fixed-count `repartition(defaultParallelism)` there is a full shuffle
    * of the corpus into ~10 GB tasks (guide §2 unnecessary-shuffle, §5
    * spill/OOM).
    */
  def exchangeCount(df: DataFrame): Int = {
    val sp = df.sparkSession
    val par = sp.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val floor = shuffleFloor(df, plan).getOrElse(scanPartitions(plan).getOrElse(par))
    math.max(par, floor)
  }

  /** Declare an existing eager checkpoint's hash layout (see
    * [[org.apache.spark.sql.GraftColumnBridge.withDeclaredHashPartitioning]]).
    * CALLER CONTRACT: the checkpointed plan must be an explicit
    * `repartition(n, keys)` (count from [[exchangeCount]], or
    * `defaultParallelism` where the input is provably delta-sized) with
    * only partitioning-PRESERVING operators above it (filter / project /
    * aggregate / window keyed on the same `keys` — anything
    * EnsureRequirements satisfies without a new exchange). The pin's
    * exchange is always fused with other per-key work (dedup, degree
    * windows), so a separate plain repartition would pay a second shuffle.
    */
  def declarePinnedHash(ckpt: DataFrame, keys: String*): DataFrame =
    org.apache.spark.sql.GraftColumnBridge
      .withDeclaredHashPartitioning(ckpt, keys)

  /** Sum of the leaves' partition counts, None when any leaf cannot be
    * sized without running a job. `inputRDD` on the scan nodes builds the
    * split plan driver-side from the (already-listed) file metadata — no
    * Spark job. A local (driver-side Seq) table counts as 1: it is small
    * by construction and exactly the shape the guard exists for.
    */
  private def scanPartitions(plan: SparkPlan): Option[Int] = {
    val leaves = plan.collectLeaves()
    val counts = leaves.map {
      case f: FileSourceScanExec  => Some(f.inputRDD.getNumPartitions)
      case b: BatchScanExec       => Some(b.inputRDD.getNumPartitions)
      case _: LocalTableScanExec  => Some(1)
      // materialized checkpoints (LogicalRDD) carry their blocks' own
      // count — already-wide pins must not be mistaken for unsizeable
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        Some(r.inputRDD.getNumPartitions)
      case _                      => None
    }
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }
}
