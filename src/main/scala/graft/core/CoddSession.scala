package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import scala.collection.immutable.SortedSet
import scala.collection.mutable
import scala.reflect.ClassTag

/** The engine's database: a registry of base relations and materialized views
  * plus the two evaluators (full + delta), mirroring the reference's
  * `Database` (reference: core/src/database.rs:162-336) on top of Spark.
  *
  * Responsibilities:
  *  - relation registry with runtime type checks (the analog of the
  *    `DynInstance` downcasts, database.rs:213-225);
  *  - lazy insert staging (inserts never run Spark jobs);
  *  - ad-hoc evaluation: stabilize dependencies, then compile the expression
  *    tree bottom-up to a `Dataset[T]` (database.rs:179-185,
  *    evaluate.rs:491-740);
  *  - materialized views kept incrementally up to date by per-operator delta
  *    rules — semi-naive evaluation, work proportional to delta size
  *    (evaluate.rs:25-260);
  *  - stabilization cascading deltas down the view DAG
  *    (database.rs:287-336).
  *
  * Scale note: all per-epoch state lives in distributed Datasets; the driver
  * only keeps names, counts and flags. Delta joins (δL⋈Rˢ etc.) are ordinary
  * Spark joins, so AQE/broadcast/skew handling apply unchanged on a cluster.
  */
final class CoddSession private (
    val spark: SparkSession,
    storage: Instance.CheckpointPolicy,
    dirSuffix: String) {
  import CoddSession.{RelEntry, ViewEntry}

  /** Default: fast executor-local checkpoints (see [[Instance.LocalCheckpoint]]). */
  def this(spark: SparkSession) = this(spark, Instance.LocalCheckpoint, "")

  /** Engine state materialized per `storage` — pass
    * [[Instance.ReliableStore]] for a store that survives executor loss and
    * JVM restart (each relation's batches land under
    * `dir/rel_<name>/batch_<n>`; recover with [[Instance.loadBatches]]).
    */
  def this(spark: SparkSession, storage: Instance.CheckpointPolicy) =
    this(spark, storage, "")

  private val relations = mutable.Map.empty[String, RelEntry]
  private val views = mutable.Map.empty[Int, ViewEntry]
  private var viewCounter = 0
  private var forkCounter = 0

  /** Per-instance storage policy: reliable stores get a label-scoped subdir
    * so relation/view/fork batch files never collide.
    */
  private def policyFor(label: String): Instance.CheckpointPolicy = storage match {
    case Instance.LocalCheckpoint     => Instance.LocalCheckpoint
    case Instance.ReliableStore(base, attach) =>
      Instance.ReliableStore(s"$base$dirSuffix/$label", attach)
  }

  // ---------------------------------------------------------------- registry

  /** Register a base relation of `T`-tuples (reference: database.rs:189-200). */
  def addRelation[T](name: String)(implicit enc: Encoder[T], tag: ClassTag[T]): Rel[T] = {
    if (relations.contains(name)) throw CoddError.InstanceExists(name)
    relations(name) =
      new RelEntry(
        new Instance[Any](
          spark.emptyDataset(enc).asInstanceOf[Dataset[Any]],
          policyFor(s"rel_$name"),
          // Base relations ingest straight from sources: their first batch
          // is one scan + distinct, not worth copying through executor
          // storage (views are derived plans and stay eager).
          lazyFirstBatch = true),
        tag,
        enc.schema)
    Rel[T](name)
  }

  /** Stage tuples for insertion; lazy, no Spark job
    * (reference: database.rs:203-210).
    */
  def insert[T](rel: Rel[T], data: Seq[T]): Unit =
    insert(rel, spark.createDataset(data)(rel.enc))

  /** Stage a whole Dataset batch for insertion; lazy. Column names are
    * normalized to the encoder's canonical field names: a parquet-derived
    * `Dataset[(Long, String)]` arrives named (c_custkey, c_name) while a
    * Seq-created one is (_1, _2), and batches of both provenances must union
    * and anti-join against each other by position, not by accidental name.
    */
  def insert[T](rel: Rel[T], ds: Dataset[T]): Unit = {
    val e = relEntry(rel)
    val canon = ds.toDF(e.schema.fieldNames.toIndexedSeq: _*).as(rel.enc)
    e.instance.insert(canon.asInstanceOf[Dataset[Any]])
  }

  /** The analog of the reference's `DynInstance` downcast (database.rs:213-225).
    * `ClassTag` alone is too coarse under erasure — `(Long, Long)` and
    * `(Long, String)` both tag as `Tuple2` — so the encoder schema is compared
    * too, which distinguishes any two types Spark can actually store.
    */
  private def relEntry(rel: Rel[_]): RelEntry = {
    val e = relations.getOrElse(rel.name, throw CoddError.InstanceNotFound(rel.name))
    if (e.tag != rel.tag || e.schema != rel.enc.schema) throw CoddError.InstanceNotFound(rel.name)
    e
  }

  private def viewEntry(v: ViewExpr[_]): ViewEntry = {
    val e = views.getOrElse(v.ref.id, throw CoddError.InstanceNotFound(v.ref.toString))
    if (e.tag != v.tag || e.schema != v.enc.schema) throw CoddError.InstanceNotFound(v.ref.toString)
    e
  }

  // ------------------------------------------------------------------- views

  /** Register a materialized view over `expr` (reference: database.rs:229-266).
    * Rejects non-monotone expressions (`Difference`) — their one-sided delta
    * rule is unsound under IVM (reference: core/src/database/validate.rs).
    * The view is initialized from current *stable* content; staged-but-not-yet
    * -stabilized inserts reach it later as ordinary deltas
    * (reference: core/src/database/instance.rs:274-282).
    */
  def storeView[T](expr: Expr[T])(implicit tag: ClassTag[T]): ViewExpr[T] = {
    if (Expr.containsDifference(expr))
      throw CoddError.UnsupportedExpression("Difference", "View")
    val anyExpr = expr.asInstanceOf[Expr[Any]]
    val ref = viewCounter
    viewCounter += 1
    val inst = new Instance[Any](
      spark.emptyDataset(expr.enc).asInstanceOf[Dataset[Any]],
      policyFor(s"view_$ref"))
    val entry = new ViewEntry(inst, anyExpr, tag, expr.enc.schema, expr.relDeps, expr.viewDeps)
    expr.relDeps.foreach(n => relations.get(n).foreach(_.dependents += ref))
    expr.viewDeps.foreach(i => views.get(i).foreach(_.dependents += ref))
    // Stable rules all end distinct — the init batch is a set by
    // construction. When no dependency holds stable content yet (the
    // create-view-then-stabilize shape), the init plan is PROVABLY empty:
    // skip it so epoch 1 stages only the real delta. FullRel is never
    // "provably empty" — its init insert must still throw on evaluation.
    if (!provablyEmptyStable(anyExpr)) inst.insertDistinct(collectStable(anyExpr))
    views(ref) = entry
    ViewExpr[T](ViewRef(ref))(expr.enc, tag)
  }

  /** Driver-side proof that `collectStable(e)` is empty — no instance under
    * `e` has promoted a batch yet and no constant contributes a tuple.
    * Conservative: `FullRel` reports non-empty so its error path survives.
    */
  private def provablyEmptyStable(e: Expr[_]): Boolean = e match {
    case r: Rel[_]        => relEntry(r).instance.stableBatchCount == 0
    case v: ViewExpr[_]   => viewEntry(v).instance.stableBatchCount == 0
    case _: EmptyRel[_]   => true
    case _: Singleton[_]  => false
    case _: FullRel[_]    => false
    case s: Select[_]     => provablyEmptyStable(s.child)
    case p: Project[_, _] => provablyEmptyStable(p.child)
    case u: Union[_]      => provablyEmptyStable(u.left) && provablyEmptyStable(u.right)
    case i: Intersect[_]  => provablyEmptyStable(i.left) || provablyEmptyStable(i.right)
    case d: Difference[_] => provablyEmptyStable(d.left)
    case p: Prod[_, _, _] => provablyEmptyStable(p.left) || provablyEmptyStable(p.right)
    case j: EquiJoin[_, _, _, _] =>
      provablyEmptyStable(j.left) || provablyEmptyStable(j.right)
  }

  // -------------------------------------------------------------- evaluation

  /** Ad-hoc evaluation: stabilize every dependency, then return the full
    * current content of `expr` as a distinct Dataset
    * (reference: database.rs:179-185; evaluate.rs:491-740 — the result is
    * `collect_stable ∪ collect_recent` after stabilization).
    */
  def evaluate[T](expr: Expr[T]): Dataset[T] = {
    stabilize(expr.relDeps, expr.viewDeps)
    val s = collectStable(expr)
    val memo = newMemo
    // After stabilization every leaf's recent is provably empty (the driver
    // knows via hasRecent) — composing and executing the full 3-term δ plans
    // would only re-join/re-distinct data that cannot exist. Short-circuit:
    // the answer is the stable content (reference asserts the same invariant,
    // evaluate.rs:536-537, then merges a vacuous collect_recent).
    if (deltaFree(expr, memo)) s
    else
      expr match {
        // Leaf instances keep stable/recent disjoint and distinct already.
        case _: Rel[_] | _: ViewExpr[_] | _: EmptyRel[_] | _: Singleton[_] =>
          s.union(collectRecent(expr, memo))
        case _ => s.union(collectRecent(expr, memo)).distinct()
      }
  }

  /** Evaluate and collect, sorted by `Ordering[T]` — the reference returns
    * sorted, dedup'd `Vec<T>` (reference: instance.rs:15-28, 47-49).
    */
  def evaluateSorted[T](expr: Expr[T])(implicit ord: Ordering[T]): Seq[T] =
    evaluate(expr).collect().toSeq.sorted

  /** Snapshot clone: a new session over the same SparkSession whose
    * relations/views share the immutable batch Datasets but evolve
    * independently from here on (reference: `impl Clone for Database`,
    * database.rs:345-363; isolation test database.rs:410-441).
    */
  def fork(): CoddSession = {
    forkCounter += 1
    // A fork writes its future reliable batches under its own subdir; the
    // already-materialized batches stay shared (immutable).
    val c = new CoddSession(spark, storage, s"$dirSuffix/fork_$forkCounter")
    relations.foreach { case (n, e) =>
      val ne = new RelEntry(e.instance.snapshot(c.policyFor(s"rel_$n")), e.tag, e.schema)
      ne.dependents = e.dependents
      c.relations(n) = ne
    }
    views.foreach { case (id, v) =>
      val nv = new ViewEntry(
        v.instance.snapshot(c.policyFor(s"view_$id")),
        v.expr, v.tag, v.schema, v.dependeeRels, v.dependeeViews)
      nv.dependents = v.dependents
      c.views(id) = nv
    }
    c.viewCounter = viewCounter
    c
  }

  private var closed = false

  /** Release all executor storage held by this session's relation and view
    * instances (reliable parquet batches stay on disk). The session is empty
    * afterwards; call when done with it — engine state is otherwise pinned in
    * the block manager for the life of the JVM, which at cluster scale leaks
    * executor storage without bound. Idempotent: a session may be closed
    * directly AND by a tracking release pass (e.g. the restart query closes
    * its "crashed" first session explicitly).
    */
  def close(): Unit = if (!closed) {
    closed = true
    relations.valuesIterator.foreach(_.instance.close())
    views.valuesIterator.foreach(_.instance.close())
  }

  /** Ad-hoc SQL over the engine's store — the Spark-native analog of the
    * reference's unstable `query!` macro DSL (reference: core/src/macros.rs).
    * Every relation is stabilized and exposed as a temp view named after it;
    * stored views appear as `view_<id>`. Returns the lazy DataFrame.
    */
  def sql(query: String): DataFrame = {
    stabilize(relations.keys, views.keys)
    relations.keys.toSeq.sorted.foreach { n =>
      relations(n).instance.stable.toDF().createOrReplaceTempView(n)
    }
    views.keys.toSeq.sorted.foreach { id =>
      views(id).instance.stable.toDF().createOrReplaceTempView(s"view_$id")
    }
    spark.sql(query)
  }

  // ------------------------------------------------------------ stabilization

  /** One maintenance step of a view: compute the delta of its defining
    * expression and stage it (reference: instance.rs:284-290). Delta rules
    * all end distinct, so promotion may skip the re-distinct; it still
    * anti-joins against the view's stable set — except for a select chain,
    * whose delta is novel by construction:
    *
    * A select never changes a tuple, so every tuple a view `σ…σ(I)` holds
    * is one its dependee `I` promoted earlier — now in `Iˢ`, as promotion
    * folds `I`'s recent into its stable before anything else. `I`'s recent
    * is disjoint from `Iˢ` (promotion dedups against stable), so
    * `σ(δI)` is disjoint from the view's stable set, and it is distinct
    * because `δI` is. Each dependee recent reaches this step exactly once;
    * two staged batches (a second delta, the init batch, or a failed
    * round's [[rederive]]) take the ordinary dedup again.
    */
  private def viewDeltaStep(ref: Int): Unit = {
    val v = views(ref)
    val delta = collectRecent(v.expr, newMemo)
    if (selectChain(v.expr)) v.instance.insertNovel(delta)
    else v.instance.insertDistinct(delta)
  }

  /** Replace a view's staged deltas with its whole content over its
    * dependees' committed state (stable ∪ recent), after a failed round
    * of [[stabilize]].
    */
  private def rederive(ref: Int): Unit = {
    val v = views(ref)
    val memo = newMemo
    val s = collectStable(v.expr)
    v.instance.restageEngineBatches(
      if (deltaFree(v.expr, memo)) s else s.union(collectRecent(v.expr, memo)).distinct())
  }

  /** One or more `Select`s over a single relation or view. */
  private def selectChain(e: Expr[_]): Boolean = e match {
    case s: Select[_] =>
      s.child match {
        case _: Rel[_] | _: ViewExpr[_] => true
        case c                          => selectChain(c)
      }
    case _ => false
  }

  /** Stabilize EVERY relation and view, batching each round of view
    * promotions into ONE Spark action (SCALE.md r13 §fanout). One job per
    * dependent view per epoch would cost ~0.24 s per view at N=32 (the r12
    * fan-out measurement): Spark's per-job scheduling floor, not delta
    * work. Here every view on the current DAG frontier PLANS its promotion
    * ([[Instance.prepareChanged]] — a lazy checkpoint, no action), then a
    * single union-of-counts action materializes all of them at once: N
    * delta-sized maintenance plans ride one job's scheduling overhead, and
    * on a cluster their tiny stages pack the executors in parallel instead
    * of serializing on the driver.
    *
    * Rounds walk the view DAG exactly as cascaded [[evaluate]]s would:
    * relations first (staging their dependents' deltas), then each round
    * promotes the staged frontier and stages the NEXT level's deltas, so a
    * chain of depth d costs d batched actions, and a flat N-view fan-out
    * exactly one. Shapes the deferred path does not cover (durable stores,
    * measured-path promotions) fall back inline per instance — identical
    * semantics, just without the batching.
    */
  def stabilizeAll(): Unit = stabilize(relations.keys, views.keys)

  /** Batched stabilization of a dependency CLOSURE, the engine's one
    * stabilization path: ONE Spark action per dependency WAVE
    * materializes every INDEPENDENT promotion on the frontier (SCALE.md
    * r13 §fanout, generalized r14: relations promote in the same batched
    * rounds as views, and `evaluate`/`sql` ride the batching too, not
    * just `stabilizeAll`). The walk is topological
    * (relations, then views in ascending id order — a view can only
    * depend on earlier-created views), and each deferred promotion is
    * installed as a PROVISIONAL `recent`
    * ([[Instance.installOptimistic]]) so the next level's delta plans
    * compose over it lazily; slots whose prepared plan reads another
    * prepared slot's still-lazy leaf materialize one wave later, so a
    * chain costs one action per level while a flat N-instance fan-out
    * still costs one. Within a round:
    *  - simultaneous dependee deltas reach a view as ONE staged 3-term
    *    rule application — the semi-naive identity
    *    δ(L⋈R) = δL⋈Rˢ ∪ Lˢ⋈δR ∪ δL⋈δR;
    *  - dependents OUTSIDE the closure get their delta staged only after
    *    a non-zero commit (their staged plans must never capture a leaf
    *    a zero-count commit retires), reading the committed recent;
    *  - instances whose epoch cannot defer (durable stores, over-budget
    *    promotions) run inline inside the walk.
    *
    * A round that throws (a wave action, or an inline epoch) rolls back
    * every promotion it installed but did not commit
    * ([[Instance.abortPrepared]]): no provisional recent survives to be
    * folded with an unknown count, the round's checkpoints are freed, and
    * the drained batches are staged again. A view stepped or owed a step
    * in that round may hold deltas over a rolled-back recent, or have
    * promoted one inline; it re-stages its whole content instead
    * ([[rederive]]), which a retry dedups against its stable set. Views
    * outside the closure get the delta of whatever did commit. A retry
    * thus converges to the from-scratch answer.
    */
  private def stabilize(rels0: Iterable[String], views0: Iterable[Int]): Unit = {
    // dependee closure; unregistered names are skipped (the collector
    // raises InstanceNotFound when it reads such a leaf)
    val vset = mutable.SortedSet.empty[Int]
    def addV(id: Int): Unit = views.get(id).foreach { v =>
      if (vset.add(id)) v.dependeeViews.foreach(addV)
    }
    views0.foreach(addV)
    val rset = mutable.SortedSet.empty[String]
    rels0.foreach(n => if (relations.contains(n)) rset += n)
    vset.foreach(id => views(id).dependeeRels.foreach(n => if (relations.contains(n)) rset += n))
    // promotions installed as provisional recents but not yet committed:
    // a round that throws rolls exactly these back
    val uncommitted = mutable.Buffer.empty[(Instance[Any], Instance.Prepared[Any])]
    // dependent views owed a delta step by this round's changes: in-closure
    // ones are staged just before their own walk slot (ONE composed 3-term
    // step per view per round, recorded in `stepped`); the rest after commit
    val toStage = mutable.SortedSet.empty[Int]
    val stepped = mutable.SortedSet.empty[Int]
    // out-of-closure dependents: stage only when a dependee really changed
    // (post-commit `hasRecent` is exactly that signal)
    def stageLive(id: Int): Unit = {
      val v = views(id)
      val live =
        v.dependeeRels.exists(n => relations.get(n).exists(_.instance.hasRecent)) ||
          v.dependeeViews.exists(i => views.get(i).exists(_.instance.hasRecent))
      if (live) viewDeltaStep(id)
    }
    try {
      val slots: Seq[Either[String, Int]] = rset.toSeq.map(Left(_)) ++ vset.toSeq.map(Right(_))
      def instOf(s: Either[String, Int]): Instance[Any] =
        s.fold(relations(_).instance, views(_).instance)
      def depsOf(s: Either[String, Int]): SortedSet[Int] =
        s.fold(relations(_).dependents, views(_).dependents)
      var continue = true
      while (continue) {
        toStage.clear()
        stepped.clear()
        val prepared = mutable.Buffer.empty[(Either[String, Int], Instance.Prepared[Any])]
        var anyWork = false
        slots.foreach { s =>
          s.foreach { id => if (toStage.remove(id)) { viewDeltaStep(id); stepped += id } }
          val inst = instOf(s)
          if (inst.pendingCount > 0 || inst.hasRecent) {
            anyWork = true
            inst.prepareChanged() match {
              case Left(true)  => toStage ++= depsOf(s)
              case Left(false) => ()
              case Right(p) =>
                inst.installOptimistic(p)
                uncommitted += ((inst, p))
                prepared += ((s, p))
                toStage ++= depsOf(s)
            }
          }
        }
        if (!anyWork) continue = false
        else {
          // One action per dependency WAVE, not one for everything: a
          // prepared view whose plan READS another slot's still-lazy leaf
          // must not share that leaf's materializing action — two union
          // branches would race to compute the same checkpoint (duplicated
          // work, block-lock stalls; view_chain_ivm measured +63% with
          // wild variance under a single all-in action). Wave 0 holds the
          // independent promotions (the whole flat fan-out — stabilizeAll's
          // case — stays ONE action); wave k+1 holds slots depending on a
          // wave-k leaf, so every read hits materialized blocks.
          val preparedIdx: Map[Either[String, Int], Int] =
            prepared.zipWithIndex.map { case ((s, _), i) => (s, i) }.toMap
          val wave = new Array[Int](prepared.size)
          prepared.zipWithIndex.foreach { case ((s, _), i) =>
            val depWaves = s.fold(
              _ => Seq.empty[Int],
              id => {
                val v = views(id)
                (v.dependeeRels.toSeq.map(Left(_): Either[String, Int]) ++
                  v.dependeeViews.toSeq.map(Right(_): Either[String, Int]))
                  .flatMap(preparedIdx.get).map(wave)
              })
            wave(i) = if (depWaves.isEmpty) 0 else depWaves.max + 1
          }
          val counts = mutable.Map.empty[Int, Long]
          prepared.zipWithIndex.groupBy { case (_, i) => wave(i) }
            .toSeq.sortBy(_._1).foreach { case (_, slice) =>
              if (slice.size == 1) {
                val ((_, p), i) = slice.head
                counts(i) = p.leaf.ds.count()
              } else {
                // one action: each deferred promotion contributes a single
                // (slot index, count) row; computing the union materializes
                // every lazy checkpoint of the wave in one job
                import org.apache.spark.sql.functions.{count => fcount}
                val u = slice.map { case ((_, p), i) =>
                  p.leaf.ds.toDF().groupBy().agg(fcount(lit(1)).as("__n"))
                    .select(lit(i).as("__i"), col("__n"))
                }.reduce(_ union _)
                u.collect().foreach(r => counts(r.getInt(0)) = r.getLong(1))
              }
            }
          prepared.zipWithIndex.foreach { case ((s, p), i) =>
            instOf(s).commitPrepared(p, counts(i))
            uncommitted -= ((instOf(s), p))
          }
          toStage.foreach(stageLive)
        }
      }
    } catch {
      case t: Throwable =>
        uncommitted.foreach { case (inst, p) => inst.abortPrepared(p) }
        (stepped ++ toStage).foreach(id => if (vset.contains(id)) rederive(id) else stageLive(id))
        throw t
    }
  }

  // ---------------------------------------------------- delta (recent) rules

  /** Delta-freeness memo, one per evaluation round: leaf `hasRecent` flags
    * are fixed within a round, and without memoization every guard in
    * [[collectRecent]] re-walks whole subtrees — O(n²) driver traversals on
    * deep trees. Keyed by node identity (closure fields defeat structural
    * equality anyway).
    */
  private type Memo = mutable.Map[Expr[_], Boolean]
  private def newMemo: Memo = mutable.Map.empty

  /** True iff no leaf under `e` holds a recent batch — the expression's delta
    * is provably empty, known driver-side without running a job. `Full` is
    * never delta-free so its evaluation error path is preserved.
    */
  private def deltaFree(e: Expr[_], memo: Memo): Boolean =
    memo.getOrElseUpdate(
      e,
      e match {
        case r: Rel[_]                        => !relEntry(r).instance.hasRecent
        case v: ViewExpr[_]                   => !viewEntry(v).instance.hasRecent
        case _: FullRel[_]                    => false
        case _: EmptyRel[_] | _: Singleton[_] => true
        case other                            => other.children.forall(deltaFree(_, memo))
      })

  /** Per-operator delta rules — semi-naive evaluation
    * (reference: evaluate.rs:25-260, `IncrementalCollector`). Delta-free
    * subtrees are pruned driver-side: Catalyst's PropagateEmptyRelation
    * cannot see through the typed map/filter closures, so without pruning
    * the provably-empty δ-join terms would still execute.
    */
  private def collectRecent[T](e: Expr[T], memo: Memo): Dataset[T] = (e match {
    case r: Rel[_]      => relEntry(r).instance.recent
    case v: ViewExpr[_] => viewEntry(v).instance.recent
    case _: EmptyRel[_] => empty(e)
    case _: FullRel[_]  => throw CoddError.UnsupportedExpression("Full", "Evaluate")
    // Constants are born stable: empty delta (reference: evaluate.rs:43-48).
    case _: Singleton[_]         => empty(e)
    case _ if deltaFree(e, memo) => empty(e)
    case s: Select[_] =>
      val ss = s.asInstanceOf[Select[Any]]
      collectRecent(ss.child, memo).filter(ss.p)
    case p: Project[_, _] =>
      val pp = p.asInstanceOf[Project[Any, Any]]
      collectRecent(pp.child, memo).map(pp.f)(pp.enc).distinct()
    case u: Union[_] =>
      val uu = u.asInstanceOf[Union[Any]]
      unionDistinct(e, deltaTerm(uu.left, memo), deltaTerm(uu.right, memo))
    case i: Intersect[_] =>
      // δ = (δL ∩ Rˢ) ∪ (Lˢ ∩ δR) ∪ (δL ∩ δR)   (evaluate.rs:95-119);
      // terms whose delta side is provably empty are never composed.
      val ii = i.asInstanceOf[Intersect[Any]]
      val dl = deltaTerm(ii.left, memo); val dr = deltaTerm(ii.right, memo)
      unionDistinct(
        e,
        dl.map(_.intersect(collectStable(ii.right))),
        dr.map(collectStable(ii.left).intersect(_)),
        (for (l <- dl; r <- dr) yield l.intersect(r)))
    case d: Difference[_] =>
      // δ = δL − Rˢ; right-side deltas ignored — sound only because stored
      // views reject Difference (evaluate.rs:121-146). The reference's extra
      // Lˢ−Rˢ term belongs to the maintenance path it can never take; ad-hoc
      // evaluation already unions collectStable's identical Lˢ−Rˢ, so
      // computing it here would run the full EXCEPT twice.
      val dd = d.asInstanceOf[Difference[Any]]
      collectRecent(dd.left, memo).except(collectStable(dd.right))
    case p: Prod[_, _, _] =>
      // δ = δL×Rˢ ∪ Lˢ×δR ∪ δL×δR, fused with the mapper (evaluate.rs:162-196)
      val pp = p.asInstanceOf[Prod[Any, Any, Any]]
      val dl = deltaTerm(pp.left, memo); val dr = deltaTerm(pp.right, memo)
      unionDistinct(
        e,
        dl.map(prodDs(pp, _, collectStable(pp.right))),
        dr.map(prodDs(pp, collectStable(pp.left), _)),
        (for (l <- dl; r <- dr) yield prodDs(pp, l, r)))
    case j: EquiJoin[_, _, _, _] =>
      // δ = δL⋈Rˢ ∪ Lˢ⋈δR ∪ δL⋈δR (evaluate.rs:198-250)
      val jj = j.asInstanceOf[EquiJoin[Any, Any, Any, Any]]
      val dl = deltaTerm(jj.left, memo); val dr = deltaTerm(jj.right, memo)
      unionDistinct(
        e,
        dl.map(joinDs(jj, _, collectStable(jj.right))),
        dr.map(joinDs(jj, collectStable(jj.left), _)),
        (for (l <- dl; r <- dr) yield joinDs(jj, l, r)))
  }).asInstanceOf[Dataset[T]]

  /** The child's delta, or `None` when provably empty (driver-side). */
  private def deltaTerm(e: Expr[Any], memo: Memo): Option[Dataset[Any]] =
    if (deltaFree(e, memo)) None else Some(collectRecent(e, memo))

  /** Distinct union of the present terms; empty when none are. */
  private def unionDistinct(of: Expr[_], terms: Option[Dataset[Any]]*): Dataset[Any] =
    terms.flatten.reduceOption(_ union _).map(_.distinct()).getOrElse(empty(of))

  // ----------------------------------------------------------- stable rules

  /** Stable-content rules (reference: evaluate.rs:263-487). The reference
    * returns per-batch lists; a single union Dataset is equivalent because
    * stable batches are disjoint.
    */
  private def collectStable[T](e: Expr[T]): Dataset[T] = (e match {
    case r: Rel[_]      => relEntry(r).instance.stable
    case v: ViewExpr[_] => viewEntry(v).instance.stable
    case _: EmptyRel[_] => empty(e)
    case _: FullRel[_]  => throw CoddError.UnsupportedExpression("Full", "Evaluate")
    case s: Singleton[_] =>
      val sg = s.asInstanceOf[Singleton[Any]]
      spark.createDataset(Seq(sg.tuple))(sg.enc)
    case s: Select[_] =>
      val ss = s.asInstanceOf[Select[Any]]
      collectStable(ss.child).filter(ss.p)
    case p: Project[_, _] =>
      val pp = p.asInstanceOf[Project[Any, Any]]
      collectStable(pp.child).map(pp.f)(pp.enc).distinct()
    case u: Union[_] =>
      val uu = u.asInstanceOf[Union[Any]]
      collectStable(uu.left).union(collectStable(uu.right)).distinct()
    case i: Intersect[_] =>
      val ii = i.asInstanceOf[Intersect[Any]]
      collectStable(ii.left).intersect(collectStable(ii.right))
    case d: Difference[_] =>
      val dd = d.asInstanceOf[Difference[Any]]
      collectStable(dd.left).except(collectStable(dd.right))
    case p: Prod[_, _, _] =>
      val pp = p.asInstanceOf[Prod[Any, Any, Any]]
      prodDs(pp, collectStable(pp.left), collectStable(pp.right)).distinct()
    case j: EquiJoin[_, _, _, _] =>
      val jj = j.asInstanceOf[EquiJoin[Any, Any, Any, Any]]
      joinDs(jj, collectStable(jj.left), collectStable(jj.right)).distinct()
  }).asInstanceOf[Dataset[T]]

  // ----------------------------------------------------------------- kernels

  private def empty[T](e: Expr[T]): Dataset[Any] =
    spark.emptyDataset(e.enc).asInstanceOf[Dataset[Any]]

  /** Cartesian product fused with the mapper. `joinWith` keeps the typed pair;
    * Catalyst will broadcast the smaller side under AQE.
    */
  private def prodDs(
      p: Prod[Any, Any, Any],
      l: Dataset[Any],
      r: Dataset[Any]): Dataset[Any] = {
    val f = p.f
    l.joinWith(r, lit(true), "cross").map { t => f(t._1, t._2) }(p.enc)
  }

  /** Typed equi-join on computed keys, fused with the mapper. Keys are
    * extracted into a column and joined with `<=>` (null-safe equality) —
    * verified to preserve the reference's `Ord`-equality semantics where
    * `None == None` matches (reference: core/src/database/helpers.rs:58-87;
    * music.rs:163-175), including for struct keys with null fields.
    *
    * A relational join (not `cogroup`) on purpose: Catalyst sees the key
    * column, so small sides — IVM deltas above all — broadcast instead of
    * shuffling both inputs, and AQE handles skew. That is what makes the
    * delta rules (δL⋈Rˢ etc.) cheap at scale: the delta side is batch-sized
    * and rides a broadcast while the stable side never moves.
    */
  private def joinDs(
      j: EquiJoin[Any, Any, Any, Any],
      l: Dataset[Any],
      r: Dataset[Any]): Dataset[Any] = {
    val lk = j.leftKey; val rk = j.rightKey; val f = j.f
    // Explicit aliases: both sides expose a `_1` key column, and unaliased
    // `lKeyed("_1") <=> rKeyed("_1")` resolves same-named attributes into a
    // trivially-true self-compare under Spark's ambiguity heuristic — noisy
    // warnings and illegible plans.
    val lKeyed = l.map(x => (lk(x), x))(Encoders.tuple(j.kEnc, j.left.enc)).alias("gl")
    val rKeyed = r.map(x => (rk(x), x))(Encoders.tuple(j.kEnc, j.right.enc)).alias("gr")
    lKeyed
      .joinWith(rKeyed, org.apache.spark.sql.functions.col("gl._1") <=> org.apache.spark.sql.functions.col("gr._1"), "inner")
      .map(t => f(t._1._1, t._1._2, t._2._2))(j.enc)
  }
}

object CoddSession {

  private final class RelEntry(
      val instance: Instance[Any],
      val tag: ClassTag[_],
      val schema: org.apache.spark.sql.types.StructType) {
    var dependents: SortedSet[Int] = SortedSet.empty
  }

  private final class ViewEntry(
      val instance: Instance[Any],
      val expr: Expr[Any],
      val tag: ClassTag[_],
      val schema: org.apache.spark.sql.types.StructType,
      val dependeeRels: Set[String],
      val dependeeViews: Set[Int]) {
    var dependents: SortedSet[Int] = SortedSet.empty
  }
}
