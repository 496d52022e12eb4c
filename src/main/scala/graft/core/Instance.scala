package graft.core

import org.apache.spark.sql.{Dataset, GraftColumnBridge, SaveMode, SparkSession}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.functions.broadcast

import scala.collection.immutable.SortedSet

/** The datafrog-style three-set relation instance, re-expressed over Spark
  * Datasets (reference: core/src/database/instance.rs:103-206).
  *
  *  - `stable`: batches already reflected in all dependent views. Each batch
  *    is distinct and the batches are mutually disjoint (promotion anti-joins
  *    against stable), so their union needs no dedup.
  *  - `recent`: the batch added but not yet propagated to views.
  *  - `toAdd`: staged insert batches; possibly overlapping/duplicated.
  *
  * Batches are materialized per [[Instance.CheckpointPolicy]]: the IVM loop
  * would otherwise grow an unbounded lineage of unions/joins across epochs,
  * blowing up Catalyst analysis time. Materialization truncates lineage each
  * epoch — the moral equivalent of the reference's sorted runs. Counts ride
  * along so the geometric-compaction rule can be applied without extra jobs.
  *
  * Storage discipline:
  *  - Staged intermediates (the dedup'd union of `toAdd`) are ALWAYS
  *    transient (`localCheckpoint`): they exist only to be anti-joined and,
  *    being epoch-private, are unpersisted as soon as the promoted batch is
  *    materialized. Only promoted and compacted runs reach the durable
  *    store.
  *  - A [[Instance.ReliableStore]] keeps a versioned `_MANIFEST.v<n>` of
  *    live batch ids, written fresh each epoch (readers take the max), so
  *    [[Instance.loadBatches]] returns exactly stable ∪ recent with no
  *    double-counting. Superseded batch files are delisted at the epoch
  *    commit and physically deleted at [[close]].
  *  - Runs superseded by compaction are EXPOSED (unconsumed view-delta
  *    plans may still read them), so their truncated-lineage blocks are
  *    condemned, not freed — [[close]] releases them together with live
  *    state. A long-lived session holds current state plus the condemned
  *    tail, never unbounded history. All freeing is suppressed after
  *    [[snapshot]]: batches are shared with the clone and must outlive
  *    this instance.
  *
  * Promotion is delta-proportional (reference: the gallop anti-join,
  * core/src/database/helpers.rs:7-26, is O(batch·log stable)): a small staged
  * batch is broadcast and stable is scanned map-side by a broadcast left-semi
  * join — stable never shuffles. The smallness test is the MEASURED block
  * size of the staged checkpoint against a byte budget (a row count says
  * nothing about wide rows). Only when the staged batch is genuinely big
  * (a bulk load into a non-empty store) does promotion fall back to a full
  * EXCEPT, which is then proportional to the data actually being loaded.
  *
  * A staged batch whose stager guarantees it is NOVEL skips the dedup plan
  * altogether when it is the epoch's only batch ([[insertNovel]]). The one
  * such stager is a select-chain view `V = σ(I)`: its delta `σ(δI)` is
  * disjoint from `σ(Iˢ) = Vˢ`, because promotion keeps `I`'s recent
  * disjoint from `I`'s stable and each recent of `I` is delivered to `V`
  * exactly once (see `CoddSession.viewDeltaStep`).
  *
  * Batches are sized by bytes, not by the width of the plan that built
  * them ([[sized]]): a promotion that passed the fused-promotion gate is
  * ONE partition; a measured-path broadcast promotion gets
  * `ceil(measured bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)`,
  * and a compaction rewrite the same but never fewer than its widest
  * leaf's partitions (so the ingest run keeps its partitioning). The
  * bulk-load EXCEPT reads all of stable and keeps its shuffle width.
  * Per-epoch cost then follows the delta, not per-task overhead: a
  * delta-sized batch checkpointed at the shuffle width would make every
  * later read of stable a stage with one task per partition of every run.
  *
  * At cluster scale each batch is a partitioned Dataset; the compaction rule
  * (merge trailing batches while `last.count <= 2 * recent.count`, reference
  * instance.rs:177-187) keeps the number of stable batches O(log n) so scans
  * stay cheap.
  */
final class Instance[T](
    empty: => Dataset[T],
    policy: Instance.CheckpointPolicy = Instance.LocalCheckpoint,
    lazyFirstBatch: Boolean = false) {

  import Instance.{Leaf, Run}

  private var stableBatches: Vector[Run[T]] = Vector.empty
  private var recentBatch: Option[Run[T]] = None
  // (batch, guarantee): engine-internal inserts (view deltas, view init)
  // are already sets — every delta/stable rule ends in distinct()/a set-op/
  // the instance invariant — so a lone engine batch skips the staged
  // re-distinct shuffle in [[changed]], and a lone NOVEL one also skips the
  // dedup against stable. User inserts are always `Raw`.
  private var toAdd: Vector[(Dataset[T], Instance.Guarantee)] = Vector.empty
  private var batchCounter = 0
  private var manifestVersion = 0L
  private var counterInitialized = false
  private var liveIds: SortedSet[Int] = SortedSet.empty
  private var pendingDeletes: Vector[String] = Vector.empty
  // Superseded-but-possibly-still-referenced storage, freed at close():
  // checkpointed leaves have TRUNCATED lineage, and staged-but-unconsumed
  // view-delta plans (or returned DataFrames) may still read them — an
  // immediate unpersist turns those reads into checkpoint-block-not-found
  // errors. Cached (persist) leaves are exempt: their lineage is intact,
  // so an early unpersist only costs a recompute.
  private var graveyard: Vector[Leaf[T]] = Vector.empty
  private var graveyardPaths: Vector[String] = Vector.empty
  // Set once this instance has been snapshot()ed: its batches are shared
  // with the clone, so neither side may unpersist or delete them.
  private var shared = false

  /** Stage a batch; O(1), no Spark job (reference: instance.rs:127-131). */
  def insert(ds: Dataset[T]): Unit = synchronized { toAdd :+= (ds -> Instance.Raw) }

  /** Stage a batch the CALLER guarantees is already distinct (engine-internal
    * delta/init plans). When it is the epoch's only staged batch, promotion
    * skips the redundant distinct shuffle.
    */
  private[core] def insertDistinct(ds: Dataset[T]): Unit = synchronized {
    toAdd :+= (ds -> Instance.Distinct)
  }

  /** Stage a batch the CALLER guarantees is distinct AND disjoint from
    * this instance's stable set at its promotion (a select-chain view's
    * delta, see [[graft.core.CoddSession]]). When it is the epoch's only
    * staged batch, promotion checkpoints it directly — no dedup plan.
    */
  private[core] def insertNovel(ds: Dataset[T]): Unit = synchronized {
    toAdd :+= (ds -> Instance.Novel)
  }

  /** Deep-copy the three sets. Batches are immutable materialized Datasets,
    * so a snapshot shares them — O(#batches) driver work, zero data copied
    * (the Spark analog of the reference's `Clone`, database.rs:345-363).
    * Both sides stop retiring shared batches from here on.
    */
  private[core] def snapshot(
      newPolicy: Instance.CheckpointPolicy = policy): Instance[T] = synchronized {
    val c = new Instance[T](empty, newPolicy, lazyFirstBatch)
    c.stableBatches = stableBatches
    c.recentBatch = recentBatch
    c.toAdd = toAdd
    shared = true
    c.shared = true
    c
  }

  def stable: Dataset[T] =
    stableBatches.map(_.ds).reduceOption(_ union _).getOrElse(empty)

  def recent: Dataset[T] = recentBatch.map(_.ds).getOrElse(empty)

  def hasRecent: Boolean = recentBatch.nonEmpty
  def pendingCount: Int = toAdd.size
  private[core] def stableBatchCount: Int = stableBatches.size
  def stableCount: Long = stableBatches.map(_.count).sum

  /** Release every transient (block-manager) batch this instance holds.
    * Durable parquet batches stay on disk — surviving close/restart is their
    * point. No-op on shared batches (a fork still reads them). The instance
    * is empty afterwards.
    */
  def close(): Unit = synchronized {
    if (!shared) {
      ((stableBatches ++ recentBatch.toVector).flatMap(_.leaves) ++ graveyard)
        .foreach { l =>
          if (l.durableId == Instance.CachedLeafId) l.ds.unpersist(false)
          else if (l.durableId < 0) GraftColumnBridge.unpersistLocalCheckpoint(l.ds)
        }
      if (graveyardPaths.nonEmpty) {
        val f = fs(hadoopPath(graveyardPaths.head))
        graveyardPaths.foreach(p => f.delete(hadoopPath(p), true))
      }
    }
    graveyard = Vector.empty
    graveyardPaths = Vector.empty
    stableBatches = Vector.empty
    recentBatch = None
    toAdd = Vector.empty
  }

  // ------------------------------------------------------------- persistence

  private lazy val session: SparkSession = empty.sparkSession

  private def hadoopPath(p: String) = new org.apache.hadoop.fs.Path(p)
  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(session.sparkContext.hadoopConfiguration)

  /** Executor-storage checkpoint: fast, lineage-truncating, transient.
    * `eager = false` defers materialization to the caller's immediate
    * `count()`, folding checkpoint + count into ONE Spark job — the epoch
    * loop otherwise pays two jobs per batch. Callers that RETIRE the
    * batch's inputs before any action (compaction) MUST pass `eager =
    * true`: a lazy checkpoint would try to recompute from just-unpersisted,
    * lineage-truncated blocks.
    */
  private def materializeTransient(ds: Dataset[T], eager: Boolean = false): Leaf[T] =
    Leaf(ds.localCheckpoint(eager), -1)

  /** The one batch-sizing rule: every batch the engine materializes from
    * a delta-sized plan (promotions, view-init batches, compaction
    * rewrites) passes through here, so its partition count follows its
    * bytes, not the plan's shuffle width or the union of the leaves it was
    * built from.
    *  - `bytes = None`: the batch passed the
    *    [[Instance.FusedPromoteMaxBytes]] gate — its size is a proven
    *    small upper bound — and becomes ONE partition;
    *  - `bytes = Some(b)`: MEASURED bytes give
    *    `max(floor, ceil(b / spark.sql.adaptive.advisoryPartitionSizeInBytes))`
    *    partitions (`b < 0`, not measurable: the plan is left as is).
    * Coalesce-only: no shuffle is added, and a batch never gets more
    * partitions than its plan already has.
    */
  private def sized(ds: Dataset[T], bytes: Option[Long] = None, floor: Int = 1): Dataset[T] =
    bytes match {
      case None => ds.coalesce(1)
      case Some(b) if b >= 0 =>
        ds.coalesce(math.max(floor, Instance.partitionsFor(b, JavaUtils.byteStringAsBytes(
          session.conf.get(Instance.AdvisoryPartitionSizeKey)))))
      case _ => ds
    }

  /** The optimizer's size estimate of `ds` in bytes, -1 when unavailable. */
  private def estBytes(ds: Dataset[T]): Long =
    try ds.queryExecution.optimizedPlan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong
    catch { case _: Throwable => -1L }

  /** Materialize a batch that becomes part of stable ∪ recent content —
    * parquet under a [[Instance.ReliableStore]], block-manager otherwise.
    * The manifest is committed once per epoch (see [[commitState]]), so a
    * crash mid-epoch never exposes a half-promoted store.
    */
  private def materializeDurable(ds: Dataset[T], eager: Boolean = false): Leaf[T] = policy match {
    case Instance.LocalCheckpoint => materializeTransient(ds, eager)
    case Instance.ReliableStore(dir, _) =>
      ensureCounter(dir)
      batchCounter += 1
      val id = batchCounter
      val path = s"$dir/batch_$id"
      ds.write.mode(SaveMode.Overwrite).parquet(path)
      liveIds += id
      Leaf(session.read.schema(ds.schema).parquet(path).as(ds.encoder), id)
  }

  /** First touch of the store directory. Best-effort guard for the
    * single-writer contract: a directory that already carries a manifest
    * belongs to a previous writer, and silently becoming a second one would
    * leave two interleaved manifests racing over the same files — refused
    * unless the policy explicitly opted in with `attach = true` (the
    * deliberate re-attach/recovery path). On attach, both counters resume
    * above the existing maxima so old batches and manifests are never
    * clobbered. This is check-then-act at first materialization: writers
    * racing on a still-manifest-less directory are NOT detected (see
    * [[Instance.ReliableStore]] — concurrent-writer coordination is the
    * caller's job).
    */
  private def ensureCounter(dir: String): Unit = if (!counterInitialized) {
    val base = hadoopPath(dir)
    val f = fs(base)
    if (f.exists(base)) {
      val names = f.listStatus(base).map(_.getPath.getName)
      val hasManifest =
        names.contains(Instance.ManifestName) || names.exists(Instance.manifestVersion(_).nonEmpty)
      val attach = policy match {
        case Instance.ReliableStore(_, a) => a
        case _                            => false
      }
      // refusal must precede counterInitialized = true: a caught-and-retried
      // operation on a refused instance would otherwise skip this check and
      // overwrite the legitimate writer's batch_1 with a zeroed counter
      if (hasManifest && !attach)
        throw new IllegalStateException(
          s"reliable store at $dir already has a manifest (another writer's state). " +
            "Pass ReliableStore(dir, attach = true) to deliberately take over the " +
            "store, or replay Instance.loadBatches(dir) into a fresh directory.")
      batchCounter = names.flatMap(Instance.batchId).foldLeft(0)(math.max)
      manifestVersion = names.flatMap(Instance.manifestVersion).foldLeft(0L)(math.max)
    }
    counterInitialized = true
  }

  /** Immediately free a batch PRIVATE to the current epoch step (staged
    * intermediates, empty promotions) — nothing outside `changed()` can
    * hold a reference. Durable files are deleted only after the epoch's
    * manifest commit no longer lists them.
    */
  private def retire(l: Leaf[T]): Unit =
    if (!shared) {
      if (l.durableId == Instance.CachedLeafId) l.ds.unpersist(false)
      else if (l.durableId < 0) GraftColumnBridge.unpersistLocalCheckpoint(l.ds)
      else
        policy match {
          case Instance.ReliableStore(dir, _) =>
            liveIds -= l.durableId
            pendingDeletes :+= s"$dir/batch_${l.durableId}"
          case _ => ()
        }
    }

  /** Mark an EXPOSED batch (a superseded stable/recent run) as dead.
    * Staged-but-unconsumed view-delta plans and returned DataFrames may
    * still read it, so checkpointed blocks and durable files outlive the
    * epoch and are freed at [[close]]; only the manifest delisting (what
    * recovery sees) happens now. Cached leaves unpersist immediately —
    * their lineage is intact, so late readers just recompute.
    */
  private def condemn(l: Leaf[T]): Unit =
    if (!shared) {
      if (l.durableId == Instance.CachedLeafId) l.ds.unpersist(false)
      else if (l.durableId < 0) graveyard :+= l
      else
        policy match {
          case Instance.ReliableStore(dir, _) =>
            liveIds -= l.durableId
            graveyardPaths :+= s"$dir/batch_${l.durableId}"
          case _ => ()
        }
    }

  /** Attach MEASURED statistics to a just-materialized transient leaf:
    * a checkpointed delta otherwise keeps its origin plan's estimates
    * (join products, unreduced filters — often orders of magnitude off),
    * which would poison every downstream size decision that reads this
    * batch: the fused-promotion gate, broadcast choices in the delta
    * joins. Durable (parquet-scan) leaves pass through — their file-size
    * stats are already real. Must be called AFTER the count() that
    * materialized the checkpoint, when the block sizes exist.
    */
  private def measured(leaf: Leaf[T], rows: Long): Leaf[T] =
    if (leaf.durableId >= 0 || leaf.durableId == Instance.CachedLeafId) leaf
    else
      leaf.copy(ds = GraftColumnBridge.withMeasuredStats(
        leaf.ds, GraftColumnBridge.storageBytes(leaf.ds), rows))

  /** The tail of every promotion, once its `n` rows are counted: measure
    * the leaf, retire the epoch-private `spent` batch (a pin or staged
    * checkpoint the count no longer needs), then install the leaf as
    * `recent` — or, when empty, retire it and clear `recent`.
    */
  private def installCounted(raw: Leaf[T], n: Long, depth: Int, spent: Option[Leaf[T]]): Boolean = {
    val leaf = measured(raw, n)
    spent.foreach(retire)
    if (n > 0) { recentBatch = Some(Run(leaf.ds, n, depth, Vector(leaf))); true }
    else { retire(leaf); recentBatch = None; false }
  }

  /** Epoch commit for reliable stores: write the live set as a NEW
    * `_MANIFEST.v<n>` (tmp-write + rename to a name that never pre-exists —
    * no delete-then-rename window, so a valid manifest exists at every
    * instant; readers take the max version), THEN garbage-collect older
    * manifest versions, orphaned tmp files, and superseded batch files — a
    * crash anywhere leaves orphans, never a lying or missing manifest.
    */
  private def commitState(): Unit = policy match {
    case Instance.ReliableStore(dir, _) =>
      ensureCounter(dir)
      val base = hadoopPath(dir)
      val f = fs(base)
      manifestVersion += 1
      val name = s"${Instance.ManifestName}.v$manifestVersion"
      val tmp = new org.apache.hadoop.fs.Path(base, name + ".tmp")
      val dst = new org.apache.hadoop.fs.Path(base, name)
      val out = f.create(tmp, true)
      out.write(liveIds.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      // Hadoop rename REPORTS failure instead of throwing; garbage-collecting
      // after a failed rename would delete the previous good manifest AND the
      // tmp, leaving no manifest at all — the exact state this scheme exists
      // to rule out. Fail the epoch loudly and leave old state readable.
      if (!f.rename(tmp, dst))
        throw new java.io.IOException(
          s"manifest commit failed: rename $tmp -> $dst returned false; " +
            "previous manifest left intact")
      // the new manifest is live: everything older is garbage
      f.listStatus(base).map(_.getPath).foreach { p =>
        val n = p.getName
        val stale =
          n == Instance.ManifestName ||
            Instance.manifestVersion(n).exists(_ < manifestVersion) ||
            (n.startsWith(Instance.ManifestName) && n.endsWith(".tmp"))
        if (stale) f.delete(p, false)
      }
      pendingDeletes.foreach(p => f.delete(hadoopPath(p), true))
      pendingDeletes = Vector.empty
    case _ => ()
  }

  // ------------------------------------------------------------------ epochs

  /** Advance one epoch (reference: instance.rs:173-206):
    *  1. fold `recent` into `stable`, geometrically compacting trailing
    *     batches (merge while `last.count <= 2 * recent.count`);
    *  2. drain ALL `toAdd` batches in one round, dedup, anti-join against
    *     stable (broadcast-semi, delta-proportional), and make the genuinely
    *     new tuples the new `recent`;
    *  3. commit the durable manifest and return whether `recent` is non-empty.
    *
    * Split into [[prepareChanged]] (plan the promotion, no materializing
    * action) + [[commitPrepared]] (bookkeeping under the caller-computed
    * count) so [[graft.core.CoddSession.stabilizeAll]] can materialize
    * MANY instances' promotions in one Spark action; run back-to-back
    * here, the pair is the exact pre-split epoch (the count over the lazy
    * checkpoint is the same one fused job).
    */
  def changed(): Boolean = synchronized {
    prepareChanged() match {
      case Left(done) => done
      case Right(p) =>
        val n = try p.leaf.ds.count() catch { case t: Throwable => abortPrepared(p); throw t }
        commitPrepared(p, n)
    }
  }

  /** Phase 1 of an epoch: fold `recent` (compaction), drain `toAdd`, and
    * BUILD the promotion. `Right(prepared)` carries a PERSISTED (cache-
    * manager) leaf whose plan has not compiled or executed at all — the
    * first action over `prepared.leaf.ds` (a count, possibly unioned with
    * other instances' counts) executes the promotion and populates the
    * cache in one pass; the caller must then feed the measured count to
    * [[commitPrepared]]. `Left(r)` = the epoch completed inline: nothing
    * was staged, or the shape is one the deferred path does not cover —
    * durable stores (their materialization is a parquet write, an action
    * of its own) and non-fusable/over-budget promotions (the measured
    * path needs its own count before the broadcast-vs-EXCEPT choice) —
    * all of which run exactly the undeferred epoch. If building throws
    * before a promotion is installed, the drained batches are staged
    * again.
    */
  private[core] def prepareChanged(): Either[Boolean, Instance.Prepared[T]] = synchronized {
    foldRecent()
    if (toAdd.isEmpty) { commitState(); Left(false) }
    else {
      val drained = toAdd
      toAdd = Vector.empty
      try build(drained)
      catch {
        case t: Throwable =>
          if (recentBatch.isEmpty) toAdd = drained ++ toAdd
          throw t
      }
    }
  }

  /** The promotion of the batches [[prepareChanged]] drained. */
  private def build(
      drained: Vector[(Dataset[T], Instance.Guarantee)]): Either[Boolean, Instance.Prepared[T]] = {
    // a single engine batch (the common view-delta epoch) needs no
    // staged re-distinct; anything else unions and dedups
    val lone = if (drained.size == 1) Some(drained.head._2) else None
    val engineBatch = lone.exists(_ != Instance.Raw)
    val novel = lone.contains(Instance.Novel)
    val staged =
      if (engineBatch) drained.head._1
      else
        (if (drained.size == 1) drained.head._1
         else drained.map(_._1).reduce(_ union _)).distinct()
    val direct = engineBatch || Instance.provablyFusable(staged)
    val pinnedSafe = !direct && Instance.estimateUpperBoundSafe(staged)
    val est = estBytes(staged)
    // [[promote]]'s fused-regime gate: the estimate is a proven upper
    // bound only for certified plans, and a deferred promotion must be
    // the same one-job plan the inline path builds
    val gated = (direct || pinnedSafe) && est >= 0 && BigInt(est) <= Instance.FusedPromoteMaxBytes
    def inline(): Either[Boolean, Instance.Prepared[T]] = {
      val r =
        if (stableBatches.isEmpty) firstBatch(staged, gated)
        else promote(staged, gated, direct)
      commitState()
      Left(r)
    }
    if (policy != Instance.LocalCheckpoint) inline()
    else if (stableBatches.isEmpty) {
      // The lazy first ingest stays INLINE (persist+count under the
      // user's AQE session). Deferring it was tried in r14 and reverted:
      // the cache's child plan compiles ADAPTIVE, so a dependent's
      // twin-checkpoint prepare executes the whole ingest eagerly at
      // RDD-construction time — the exact serialization deferral exists
      // to remove — and a fully persist-based deferral measured slower
      // with wild variance on the view family (OPTIMIZATION_r14.md).
      if (lazyFirstBatch) inline()
      else
        Right(Instance.Prepared(
          materializeTransient(GraftColumnBridge.withSession(
            if (gated) sized(staged) else staged, Instance.planSession(session))),
          None, est, drained))
    } else if (!gated) inline()
    else {
      // compile the deferred plan under the AQE-OFF twin session: a
      // lazy checkpoint's toRdd on an ADAPTIVE plan executes every
      // non-result stage at prepare time (one eager action per view —
      // exactly the serialization the batched rounds exist to remove);
      // classically compiled, only the plan's BroadcastExchange
      // futures run at prepare (they block at RDD construction — an
      // r14 persist-based variant that deferred even those measured
      // SLOWER with much higher variance on the view family and was
      // reverted; see OPTIMIZATION_r14.md). commitPrepared re-homes
      // the materialized batch to the user's session.
      val twin = Instance.planSession(session)
      val pin =
        if (direct) None
        else Some(materializeTransient(GraftColumnBridge.withSession(staged, twin)))
      try {
        // a lone novel batch is disjoint from stable by its stager's
        // guarantee: checkpoint it as is — no dedup plan, so no
        // broadcast job runs at prepare time
        val batch = if (novel) staged else broadcastNovelPlan(pin.map(_.ds).getOrElse(staged))
        Right(Instance.Prepared(
          materializeTransient(GraftColumnBridge.withSession(sized(batch), twin)),
          pin, est, drained))
      } catch { case t: Throwable => pin.foreach(retire); throw t }
    }
  }

  /** Install a PREPARED-but-uncounted promotion as the provisional
    * `recent` so dependent views can stage delta plans over it BEFORE the
    * batched action runs — the r14 cross-level fusion: a relation's
    * promotion, its dependent views' delta promotions, and chained views'
    * promotions all materialize in ONE Spark action instead of one per
    * DAG level. The staged plans capture the leaf's Dataset by reference,
    * so the later [[commitPrepared]] (which re-homes and re-stats the
    * same blocks, or clears `recent` on an empty count) never invalidates
    * them. Provisional statistics come from the staged plan's estimate:
    * without them the checkpoint leaf reports the unknown-leaf default
    * and every downstream size gate (fused-promotion budget, broadcast
    * choice) misfires to the conservative path.
    */
  private[core] def installOptimistic(p: Instance.Prepared[T]): Unit = synchronized {
    val ds =
      if (p.estBytes >= 0 && p.leaf.durableId < 0 && p.leaf.durableId != Instance.CachedLeafId)
        GraftColumnBridge.withMeasuredStats(
          p.leaf.ds, p.estBytes, math.max(1L, p.estBytes / 16L))
      else p.leaf.ds
    recentBatch = Some(Run(ds, -1L, p.depth, Vector(p.leaf)))
  }

  /** Undo a [[prepareChanged]] `Right` whose round failed before
    * [[commitPrepared]]: drop the provisional `recent` an
    * [[installOptimistic]] put in place (its count is unknown — folding
    * it would corrupt `stableCount` and the compaction thresholds),
    * retire the epoch-private leaf and pin, and stage the drained batches
    * again, ahead of anything staged since: `stable` keeps exactly the
    * content it held before the round, and no insert is lost.
    */
  private[core] def abortPrepared(p: Instance.Prepared[T]): Unit = synchronized {
    if (recentBatch.exists(_.leaves.contains(p.leaf))) recentBatch = None
    retire(p.leaf)
    p.pin.foreach(retire)
    toAdd = p.drained ++ toAdd
  }

  /** Replace every engine-staged batch with `full`, a plan of this view's
    * whole content (see `CoddSession.stabilize`): the replaced
    * deltas may read promotions a failed round rolled back. `full` is
    * staged as merely distinct, so its promotion dedups against stable.
    */
  private[core] def restageEngineBatches(full: Dataset[T]): Unit = synchronized {
    toAdd = toAdd.filter(_._2 == Instance.Raw) :+ (full -> Instance.Distinct)
  }

  /** Phase 2: bookkeeping for a [[prepareChanged]] `Right`, given the
    * count the caller's action measured: the promotion tail every epoch
    * shares ([[installCounted]] — an empty count also clears any
    * [[installOptimistic]] provisional install), then commit
    * the manifest (a no-op here — the deferred path only exists under
    * [[Instance.LocalCheckpoint]]).
    */
  private[core] def commitPrepared(p: Instance.Prepared[T], n: Long): Boolean = synchronized {
    // re-home the materialized checkpoint to the user's session: the
    // deferred plan compiled under the AQE-off twin, but everything built
    // OVER this batch from here on must execute under the session the
    // user configured
    val home = p.leaf.copy(ds = GraftColumnBridge.withSession(p.leaf.ds, session))
    val result = installCounted(home, n, p.depth, p.pin)
    commitState()
    result
  }

  /** Epoch step 1: fold `recent` into `stable` under geometric compaction.
    *
    * Cached (persist-deferred) runs carry their FULL origin plan — unlike
    * checkpoint leaves their lineage is not flat — so two rules bound the
    * nesting Catalyst re-analyzes each epoch: a cached run re-materializes
    * on its first merge (it enters at [[Instance.MaxUnionDepth]]), and
    * stable never holds more than ONE cached run (a second one, even
    * unmerged, flattens eagerly — a cheap job reading the warm cache).
    */
  private def foldRecent(): Unit =
    recentBatch.foreach { r =>
      def cachedRun(x: Run[T]): Boolean =
        x.leaves.exists(_.durableId == Instance.CachedLeafId)
      var merged: Run[T] = r
      while (stableBatches.nonEmpty &&
        stableBatches.last.count <= Instance.CompactionFactor * merged.count) {
        val last = stableBatches.last
        stableBatches = stableBatches.init
        // Batches are disjoint: plain union, no distinct needed; logical
        // union only — counts add, no Spark job.
        merged = Run(
          last.ds.union(merged.ds),
          last.count + merged.count,
          math.max(last.depth, merged.depth) + 1,
          last.leaves ++ merged.leaves)
      }
      if (merged.depth > Instance.MaxUnionDepth ||
        (cachedRun(merged) && stableBatches.exists(cachedRun))) {
        // eager: the replacement must be fully materialized while its
        // inputs are still certainly readable. Its leaves carry measured
        // statistics, so the union's size is the run's measured bytes; it
        // keeps at least the partitions of its widest leaf, so the ingest
        // run's partitioning survives and only delta leaves collapse.
        val widest = merged.leaves.map(_.ds.rdd.getNumPartitions).foldLeft(1)(math.max)
        val leaf = measured(
          materializeDurable(sized(merged.ds, Some(estBytes(merged.ds)), widest), eager = true),
          merged.count)
        merged.leaves.foreach(condemn)
        merged = Run(leaf.ds, merged.count, 0, Vector(leaf))
      }
      stableBatches :+= merged
      recentBatch = None
    }

  /** First batch into an empty store. Under a transient policy with
    * [[lazyFirstBatch]] (base relations ingesting from sources) the batch is
    * NOT checkpointed — its lineage is one scan + distinct, so copying the
    * whole input through executor storage buys nothing — but it IS
    * `persist`ed: the count populates the cache in the same job, the
    * consumer's plan hits the cached subtree instead of re-running the
    * distinct, and [[close]]/retirement free it. Net: ONE execution of the
    * ingest plan for the dominant one-shot ingest-and-query shape.
    */
  private def firstBatch(staged: Dataset[T], gated: Boolean): Boolean = policy match {
    case Instance.LocalCheckpoint if lazyFirstBatch =>
      val cached = staged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = cached.count()
      if (n > 0) {
        recentBatch = Some(
          Run(cached, n, Instance.MaxUnionDepth, Vector(Leaf(cached, Instance.CachedLeafId))))
        true
      } else { cached.unpersist(false); false }
    case _ =>
      val raw = materializeDurable(if (gated) sized(staged) else staged)
      installCounted(raw, raw.ds.count(), 0, None)
  }

  /** The delta-proportional dedup plan: stable streams map-side against the
    * broadcast staged batch; the duplicates found are at most |staged|
    * rows, so they broadcast right back into an anti-join against the
    * (already-distinct) staged batch. NOTHING in this plan shuffles beyond
    * what `stagedDf`'s own plan contains: stable never moves, and both
    * joins are broadcasts of batch-sized sets — at cluster scale the epoch
    * cost is one pass over stable plus two tiny broadcasts.
    */
  private def broadcastNovelPlan(stagedDf: Dataset[T]): Dataset[T] = {
    val sDf = stable.toDF()
    val nDf = stagedDf.toDF()
    // zip by position: batches of different provenance may carry
    // different column names for the same tuple type
    val cond = sDf.columns
      .zip(nDf.columns)
      .map { case (sc, nc) => sDf(sc) <=> nDf(nc) }
      .reduce(_ && _)
    val dups = sDf.join(broadcast(nDf), cond, "left_semi")
    // fresh names on the dup side: staged and stable may share names,
    // and the anti-join needs unambiguous column references
    val dupR = dups.toDF(dups.columns.map(c => s"__dup_$c").toIndexedSeq: _*)
    val anti = nDf.columns
      .zip(dupR.columns)
      .map { case (nc, dc) => nDf(nc) <=> dupR(dc) }
      .reduce(_ && _)
    nDf.join(broadcast(dupR), anti, "left_anti").as(stagedDf.encoder)
  }

  /** Promote a staged batch into a non-empty store: dedup against stable
    * and durably materialize only the novel set.
    *
    * Two regimes. When Catalyst's size ESTIMATE for the staged plan is
    * small, the whole promotion is ONE job: the broadcast dedup plan is
    * built directly over the staged plan (referenced twice — ReuseExchange
    * dedupes its distinct shuffle) and materialized+counted in one pass.
    * The estimate without CBO is an upper bound of the usual inputs (scan
    * bytes, unreduced through filters/projections), so a small estimate
    * PROVES the batch is broadcastable — no measurement job needed, and a
    * big-but-actually-small batch merely falls through to the measured
    * path, never the reverse. Otherwise: materialize + count + measure the
    * staged batch (job 1), then broadcast-dedup or, for genuinely bulk
    * loads, full EXCEPT (job 2) — exactly the r6 behavior.
    *
    * The fused plan references `staged` TWICE (broadcast build side and
    * anti-join probe side), so it needs both evaluations to agree AND the
    * size ESTIMATE to be a trustworthy upper bound. Three regimes, chosen
    * by the caller's gate ([[prepareChanged]]):
    *
    *  - `gated && direct` (direct fuse): engine-internal pre-distinct
    *    batches (deterministic by construction — built over materialized
    *    recents) and user plans [[Instance.provablyFusable]] certifies (no
    *    nondeterministic expressions, no Generate/typed-closure nodes) —
    *    both sides provably evaluate identically, no pinning needed.
    *  - `gated && !direct` (pinned fuse): plans that CANNOT be certified
    *    deterministic (typed-closure filters, rand projections) but whose
    *    estimate is still an upper bound
    *    ([[Instance.estimateUpperBoundSafe]] — no row- or size-expanding
    *    nodes). A LAZY executor-storage checkpoint pins exactly one
    *    evaluation: the broadcast build job computes and caches the
    *    blocks, the probe side reads them — same job count as the direct
    *    fuse, plus only the block writes.
    *  - `!gated` (row-expanding plans, estimate unavailable or over
    *    budget): the measured path, which checkpoints + counts staged
    *    first — the broadcast-vs-EXCEPT choice and a broadcast
    *    promotion's partition count are then made on MEASURED bytes.
    */
  private def promote(staged: Dataset[T], gated: Boolean, direct: Boolean): Boolean = {
    if (gated) {
      val pin = if (direct) None else Some(materializeTransient(staged))
      val raw = materializeDurable(sized(broadcastNovelPlan(pin.map(_.ds).getOrElse(staged))))
      // novel is fully materialized by the count; the pin is epoch-private
      installCounted(raw, raw.ds.count(), 0, pin)
    } else {
      val stagedLeaf = materializeTransient(staged)
      val stagedCp = stagedLeaf.ds
      val stagedN = stagedCp.count()
      if (stagedN == 0) { retire(stagedLeaf); false }
      else {
        val stagedBytes = GraftColumnBridge.storageBytes(stagedCp)
        val broadcastable =
          if (stagedBytes >= 0) stagedBytes <= Instance.BroadcastPromoteMaxBytes
          else stagedN <= Instance.BroadcastPromoteMaxRows
        val novel =
          // novel ⊆ staged: the staged batch's measured bytes bound it
          if (broadcastable) sized(broadcastNovelPlan(stagedCp), Some(stagedBytes))
          else
            // Bulk load into a non-empty store: a broadcast would not fit;
            // fall back to the full anti-join (work ∝ data being loaded),
            // left at its shuffle width — it reads all of stable.
            stagedCp.except(stable)
        val raw = materializeDurable(novel)
        installCounted(raw, raw.ds.count(), 0, Some(stagedLeaf))
      }
    }
  }
}

object Instance {

  /** A materialized batch segment: `durableId >= 0` when it lives as
    * `batch_<id>` parquet in a [[ReliableStore]], -1 for transient
    * block-manager checkpoints.
    */
  private[core] final case class Leaf[T](ds: Dataset[T], durableId: Int)

  /** A stable run: dataset, row count, union-lineage depth since the last
    * materialization, and the materialized leaves backing it (for
    * retirement). Compaction merges are LOGICAL unions (free — counts add,
    * no job); a merge only re-materializes once its lineage depth exceeds
    * [[MaxUnionDepth]], bounding both plan size and the number of
    * materialization jobs per epoch. `leaves` empty = lazily-ingested run
    * (not yet materialized at all).
    */
  private[core] final case class Run[T](
      ds: Dataset[T],
      count: Long,
      depth: Int,
      leaves: Vector[Leaf[T]])

  /** A promotion planned by [[Instance.prepareChanged]] but not yet
    * materialized: `leaf` is the LAZY transient checkpoint of the novel
    * set (the caller's action computes and caches it), `pin` the
    * epoch-private staged checkpoint of a non-certified plan (retired at
    * commit, exactly like the inline fused promotion's pin). `depth` is
    * the union-lineage depth the committed Run records (MaxUnionDepth for
    * the cached lazy first ingest — its lineage is intact, so the first
    * compaction merge must re-materialize). `estBytes` is the staged
    * plan's size ESTIMATE — [[installOptimistic]] exposes it as
    * provisional leaf statistics so delta plans staged over the
    * uncommitted batch see a sane size instead of the unknown-leaf
    * default. `drained` holds the staged batches the promotion consumed,
    * for [[Instance.abortPrepared]] to stage again.
    */
  private[core] final case class Prepared[T](
      leaf: Leaf[T],
      pin: Option[Leaf[T]],
      estBytes: Long,
      drained: Vector[(Dataset[T], Guarantee)],
      depth: Int = 0)

  /** What the stager of a batch guarantees about it (see [[insert]],
    * [[insertDistinct]], [[insertNovel]]). `Raw`: nothing — user
    * inserts, possibly duplicated, possibly already stable. `Distinct`:
    * a set (every engine delta/init rule ends distinct). `Novel`: a set
    * disjoint from the instance's stable content when it is promoted.
    */
  private[core] sealed trait Guarantee
  private[core] case object Raw extends Guarantee
  private[core] case object Distinct extends Guarantee
  private[core] case object Novel extends Guarantee

  /** The conf [[Instance]] sizes measured batches by — the same target
    * AQE coalesces shuffle partitions to.
    */
  private[core] val AdvisoryPartitionSizeKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** `ceil(bytes / advisory)`, at least 1 and at most `Int.MaxValue`. */
  private[core] def partitionsFor(bytes: Long, advisory: Long): Int = {
    val a = math.max(1L, advisory)
    math.min(Int.MaxValue.toLong, math.max(1L, bytes / a + (if (bytes % a == 0) 0 else 1))).toInt
  }

  /** Max logical-union lineage depth of a stable run before it is
    * re-materialized: folds below this depth cost zero Spark jobs; the
    * materialization amortizes to O(1) per `MaxUnionDepth` merges.
    */
  val MaxUnionDepth = 4

  /** Geometric-compaction factor: fold `recent` into the trailing stable
    * batch while `last.count <= factor * recent.count`. The reference
    * adopts 2 (instance.rs:177-187) and so do we — and round 10 MEASURED
    * it at sf1 (SCALE.md "IVM epoch budget"): factor 2 keeps stable-run
    * count logarithmic in epochs at the flattest epoch-cost curve;
    * factor 1 over-compacts (more logical-union folds re-materialize per
    * [[MaxUnionDepth]], costing extra jobs), factor 4 under-compacts
    * (longer stable chains make every promotion anti-join wider).
    */
  val CompactionFactor: Long = 2L

  /** Broadcast budget for the promotion semi-join, against the MEASURED
    * block size of the staged checkpoint (deserialized, i.e. an overestimate
    * of the broadcast payload — conservative). Aligned with Spark's default
    * `autoBroadcastJoinThreshold` order of magnitude; well under executor
    * memory at 1000-way parallelism.
    */
  val BroadcastPromoteMaxBytes: Long = 32L * 1024 * 1024

  /** Row-count fallback when no measured size is available. */
  val BroadcastPromoteMaxRows: Long = 1L << 20

  /** Estimate budget for the FUSED one-job promotion: Catalyst's
    * non-CBO sizeInBytes tracks COMPRESSED scan bytes unreduced through
    * filters, while the broadcast payload is deserialized rows — a 4×
    * headroom under [[BroadcastPromoteMaxBytes]] absorbs the
    * representation gap, and an estimate over budget only costs the
    * measurement job, never a wrong broadcast.
    */
  val FusedPromoteMaxBytes: BigInt = BigInt(8L * 1024 * 1024)

  /** Certify a USER insert plan for the fused one-job promotion, which
    * evaluates the plan twice (broadcast build + anti-join probe sides).
    * Sound only when both evaluations provably agree: rejects any
    * nondeterministic expression (rand/uuid/monotonically_increasing_id —
    * also AQE re-partitioning of a Sample), any Generate (explode breaks
    * the estimate-upper-bound argument), any Limit/Offset/Tail (the
    * selected row SET depends on shuffle-fetch order, which Spark
    * randomizes per read — `distinct().limit(k)` can pick different k
    * rows on each side even though every expression is deterministic),
    * and any typed-closure node — ObjectProducer/Consumer (map/flatMap/
    * mapPartitions) plus the two closure nodes NOT under those traits,
    * TypedFilter (`ds.filter(f)`) and AppendColumns (`groupByKey`'s key
    * extractor): closures are opaque, so determinism cannot be certified,
    * and the reference's own contract is that closures run ONCE per tuple
    * (its FnMut mappers are never re-evaluated) — an impure closure must
    * therefore see exactly one evaluation, which only the checkpoint-
    * pinning measured path guarantees. False = take the measured path;
    * never unsound, only ever slower by one job.
    */
  private[core] def provablyFusable(ds: Dataset[_]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    try !ds.queryExecution.analyzed.exists {
      case _: Generate => true
      case _: Sample => true
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case _: Offset => true
      case _: Tail => true
      case _: ObjectProducer => true
      case _: ObjectConsumer => true
      case _: TypedFilter => true
      case _: AppendColumns => true
      case p => p.expressions.exists(_.exists(!_.deterministic))
    } catch { case _: Throwable => false }
  }

  /** Certify that Catalyst's non-CBO size estimate is a trustworthy UPPER
    * bound for a staged plan — the only property the PINNED fused promotion
    * still needs once a lazy checkpoint pins one evaluation (determinism
    * becomes irrelevant: whatever the plan computes, both join references
    * read the same pinned blocks). Rejects every node that can make output
    * bytes exceed the estimate: Generate (explode multiplies rows), Sample
    * (withReplacement can exceed the input), the typed-closure object nodes
    * (map/flatMap/mapPartitions produce arbitrary row sizes and counts),
    * and AppendColumns (appends computed columns the child estimate never
    * saw). TypedFilter passes — its closure only DROPS rows and the schema
    * is exactly the child's — as do Limit/Offset/Tail (row-reducing; the
    * pinned evaluation fixes which rows) and nondeterministic expressions
    * (rand sized like any other double).
    */
  private[core] def estimateUpperBoundSafe(ds: Dataset[_]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    try !ds.queryExecution.analyzed.exists {
      case _: Generate => true
      case _: Sample => true
      case _: ObjectProducer => true
      case _: ObjectConsumer => true
      case _: AppendColumns => true
      case _ => false
    } catch { case _: Throwable => false }
  }

  /** Leaf id marking a cache-manager-persisted (not checkpointed) batch:
    * the lazy first-ingest run, freed with `Dataset.unpersist`.
    */
  private[core] val CachedLeafId: Int = -2

  /** One AQE-off twin per user session (see
    * [[org.apache.spark.sql.GraftColumnBridge.sessionWithoutAqe]]),
    * shared by every instance on that session — cloning per instance
    * would duplicate SessionState hundreds of times.
    */
  private val noAqeSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private[core] def planSession(s: SparkSession): SparkSession =
    noAqeSessions.computeIfAbsent(s, GraftColumnBridge.sessionWithoutAqe(_))

  private[core] val ManifestName = "_MANIFEST"

  private val BatchName = "batch_(\\d+)".r
  private[core] def batchId(name: String): Option[Int] = name match {
    case BatchName(n) => Some(n.toInt)
    case _            => None
  }

  private val VersionedManifest = "_MANIFEST\\.v(\\d+)".r
  private[core] def manifestVersion(name: String): Option[Long] = name match {
    case VersionedManifest(v) => Some(v.toLong)
    case _                    => None
  }

  /** Where epoch state lives once materialized. */
  sealed trait CheckpointPolicy extends Serializable

  /** Executor-block-manager checkpoints: fastest, not fault-tolerant — a lost
    * executor loses the store. The right default for local mode and for
    * pipelines that can replay inserts.
    */
  case object LocalCheckpoint extends CheckpointPolicy

  /** Durable store: every promoted/compacted batch is persisted as parquet
    * under `dir` and scanned back, with a versioned `_MANIFEST.v<n>` of live
    * batch ids committed per epoch (readers take the max version — a valid
    * manifest exists at every instant, no rename-over-destination window).
    * Survives executor loss and JVM restart; an instance's content can be
    * re-attached with [[loadBatches]].
    *
    * One WRITER per directory is the CONTRACT; the guard is BEST-EFFORT
    * against accidental reuse, not a lock: at the writer's FIRST
    * materialization (not construction) a `dir` that already carries a
    * manifest throws unless `attach = true` is passed (the deliberate
    * take-over path, e.g. a restart of the same logical writer; batch ids
    * and manifest versions then resume above the existing maxima so nothing
    * is clobbered). Two writers opened over the same fresh directory BEFORE
    * either commits its first manifest both pass the check and interleave —
    * coordinating concurrent writers is the caller's job. For read-only
    * recovery, prefer replaying [[loadBatches]] output into a fresh
    * directory.
    */
  final case class ReliableStore(dir: String, attach: Boolean = false) extends CheckpointPolicy

  /** Re-read everything a [[ReliableStore]] instance persisted under `dir` —
    * the restart-recovery path. Reads the highest-version live-batch
    * manifest, so the result is exactly the stable ∪ recent content
    * (superseded and mid-promotion files are never listed);
    * staged-but-never-stabilized inserts were never durable and are the
    * caller's to replay, exactly like the reference's in-memory `to_add`.
    * Falls back to the legacy unversioned `_MANIFEST`, then to a `batch_*`
    * glob for pre-manifest stores.
    */
  def loadBatches(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val f = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versioned = f
      .listStatus(base)
      .flatMap(s => manifestVersion(s.getPath.getName).map(_ -> s.getPath))
      .sortBy(_._1)
      .lastOption
      .map(_._2)
    val legacy = new org.apache.hadoop.fs.Path(base, ManifestName)
    versioned.orElse(if (f.exists(legacy)) Some(legacy) else None) match {
      case Some(manifest) =>
        val in = f.open(manifest)
        val ids =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toVector
          finally in.close()
        if (ids.isEmpty) spark.emptyDataFrame
        else spark.read.parquet(ids.map(i => s"$dir/batch_$i"): _*)
      case None => spark.read.parquet(s"$dir/batch_*")
    }
  }
}
