package graft

import org.apache.spark.sql.DataFrame

/** Eager materialization of intermediate frames with lineage truncation —
  * the primitive behind the dedup pair builders, iterative path closures
  * and multi-template CONSTRUCT (re-deriving those relations per consumer
  * would re-run whole join trees).
  *
  * Two modes, switched by the session conf `graft.checkpoint.dir`:
  *
  *  - UNSET (default): `localCheckpoint(eager = true)` — blocks live on
  *    executors, zero external storage, the right call single-JVM and for
  *    clusters that prefer recompute-from-source on loss. NOT
  *    fault-tolerant past the checkpoint: losing an executor loses its
  *    blocks and the lineage that could rebuild them.
  *  - SET to a durable directory (HDFS/object store on a cluster):
  *    RELIABLE `checkpoint(eager = true)` — blocks persist to that
  *    directory, and recomputation after executor loss replays from
  *    durable storage. The 100 TB deployment setting.
  *
  * The checkpoint directory is installed on the SparkContext on first use
  * and re-installed if the conf changes between queries.
  */
object Materialize {

  /** Session conf key: durable checkpoint directory (empty/unset →
    * executor-local checkpointing). */
  val DirProp = "graft.checkpoint.dir"

  /** Tag the eager job with the real caller — every checkpoint otherwise
    * profiles as "Materialize.scala", hiding which lifecycle stage pays
    * the fixed cost (the dominant tax on the IVM keys). Shared by every
    * entry point so the tagging and dir-install logic cannot drift. */
  private def tagged[A](df: DataFrame, what: String)(f: => A): A = {
    val sc = df.sparkSession.sparkContext
    val caller = Thread.currentThread.getStackTrace
      .find(e => e.getClassName.startsWith("graft.") &&
        !e.getClassName.contains("Materialize"))
      .map(e => s"$what at ${e.getFileName}:${e.getLineNumber}")
    caller.foreach(sc.setCallSite)
    try f finally caller.foreach(_ => sc.clearCallSite())
  }

  /** Mark a LAZY checkpoint in the session's configured mode and run
    * `probe` over it: the probe's pass is what materializes it. In
    * reliable-dir mode the marked RDD is persisted for the probe so the
    * probe and the checkpoint-file write job read ONE computation —
    * without it ReliableRDDCheckpointData recomputes the plan for the
    * file write, and a non-deterministic plan could checkpoint rows the
    * probe never saw. Once the files are written, reads come from them,
    * so the persisted blocks are dropped at once instead of pinning
    * storage until driver GC. */
  private def lazyProbe[A](df: DataFrame)(probe: DataFrame => A): (DataFrame, A) = {
    val sc = df.sparkSession.sparkContext
    df.sparkSession.conf.getOption(DirProp).filter(_.nonEmpty) match {
      case Some(dir) =>
        // setCheckpointDir appends a per-install UUID subdir; only
        // (re)install when the configured root actually changed
        if (!sc.getCheckpointDir.exists(_.startsWith(dir)))
          sc.setCheckpointDir(dir)
        val ck = df.checkpoint(eager = false)
        val rdd = rddOf(ck)
        rdd.foreach(_.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val a = probe(ck)
        rdd.filter(_.isCheckpointed).foreach(_.unpersist(blocking = false))
        (ck, a)
      case None =>
        val ck = df.localCheckpoint(eager = false)
        (ck, probe(ck))
    }
  }

  /** The internal RDD a checkpointed Dataset wraps (its logical plan is
    * a LogicalRDD leaf by construction). */
  private def rddOf(ck: DataFrame)
      : Option[org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow]] =
    ck.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  def apply(df: DataFrame): DataFrame = tagged(df, "materialize") {
    df.sparkSession.conf.getOption(DirProp).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.exists(_.startsWith(dir)))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** [[apply]] fused with a row-count probe in ONE scheduler job: the
    * checkpoint is marked lazily and the probe aggregate's pass over it
    * both materializes the blocks and returns `count_if(pred)` — where
    * the eager-checkpoint-then-probe shape pays two driver-blocking
    * jobs, this pays one. On this sandbox a scheduler job floors at
    * ~0.3 s regardless of data, and the fixpoint loops (closure, DRed,
    * min-label propagation, OWL entailment) each run one
    * materialize+probe per round — fusing them nearly halves every
    * round's fixed cost (measured: q_graph_cc loop 12.3 → 6.7 s).
    *
    * The probe aggregate consumes every row of every partition, so the
    * localCheckpoint/checkpoint cache is complete after it — identical
    * post-state to [[apply]]. (Reliable-dir mode persists the marked RDD
    * first, so the deferred checkpoint-file write job re-reads the same
    * cached computation the probe counted — see [[lazyProbe]].) */
  def probed(df: DataFrame,
      pred: org.apache.spark.sql.Column): (DataFrame, Long) = {
    val (ck, ns) = probedN(df, pred)
    (ck, ns.head)
  }

  /** [[probed]] with any number of predicates in the same single pass —
    * one scheduler job materializes the blocks and returns one count per
    * predicate (e.g. a change feed's add, delete and chain counts). The
    * counts fold over the checkpoint RDD itself, as [[counted]] does: a
    * global aggregate would add a shuffle stage, and a job with it. */
  def probedN(df: DataFrame, preds: org.apache.spark.sql.Column*)
      : (DataFrame, IndexedSeq[Long]) = {
    import org.apache.spark.sql.functions.{lit, when}
    tagged(df, "materialize+probe") {
      val n = preds.size
      val (ck, sums) = lazyProbe(df) { ck =>
        ck.select(preds.map(p => when(p, lit(1L)).otherwise(lit(0L))): _*)
          .queryExecution.toRdd
          .aggregate(new Array[Long](n))(
            (acc, row) => { for (i <- 0 until n) acc(i) += row.getLong(i); acc },
            (a, b) => { for (i <- 0 until n) a(i) += b(i); a })
      }
      (ck, sums.toIndexedSeq)
    }
  }

  /** [[probed]] with the always-true predicate: materialize + total row
    * count in one job. Counting needs no column evaluation, so this
    * skips the aggregate entirely and counts the checkpoint RDD itself —
    * ONE stage (per-partition sizes summed on the driver) where the
    * aggregate pays a partial/final exchange stage per call; on the DRed
    * loops' tiny per-round deltas that extra stage was the whole
    * regression of q_path_ivm in round 11. */
  def counted(df: DataFrame): (DataFrame, Long) =
    tagged(df, "materialize+count") {
      lazyProbe(df) { ck =>
        rddOf(ck) match {
          case Some(rdd) => rdd.count()
          case None => // unreachable for checkpoint-backed frames; keep a
            // working fallback rather than a MatchError
            import org.apache.spark.sql.functions.{count, lit}
            ck.agg(count(lit(1))).first().getLong(0)
        }
      }
    }

  /** Semi-naive fixpoint: the round loop behind every accumulating
    * recursive operator (path closures, DRed re-derivation, closure
    * insertion, BFS). Round 0 materializes `seed`; round r ≥ 1
    * materializes `step(frontier, known, r)`, where `frontier` is round
    * r-1's rows and `known` is everything derived so far. Each round is
    * ONE fused checkpoint+count job ([[counted]]); the loop stops at the
    * first empty frontier.
    *
    * `known` starts as `base`, or as the seed round itself without one,
    * and grows by a LAZY left-deep union of every later non-empty
    * frontier: each leaf is checkpointed, so consumers scan block sets
    * with no recompute, and no round pays a job to re-checkpoint the
    * accumulated union. Returns `known` and the frontiers appended to
    * its start, in round order.
    *
    * No round cap: every step anti-joins `known` on the row's key
    * (directly, or through a candidate set that does), so a non-empty
    * frontier adds keys not yet known. Keys come from a finite set — the
    * input graph's nodes or node pairs — so only finitely many rounds
    * can be non-empty, and the first empty one ends the loop. A step
    * that can re-emit a known key breaks that argument and must not run
    * through here. */
  private[graft] def semiNaive(seed: DataFrame, base: Option[DataFrame] = None)(
      step: (DataFrame, DataFrame, Int) => DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val (first, n0) = counted(seed)
    var known = base.getOrElse(first)
    val appended = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def append(f: DataFrame): Unit = {
      known = known.unionByName(f)
      appended += f
    }
    if (base.nonEmpty && n0 > 0L) append(first)
    var (frontier, n, round) = (first, n0, 0)
    while (n > 0L) {
      round += 1
      val (next, m) = counted(step(frontier, known, round))
      if (m > 0L) append(next)
      frontier = next
      n = m
    }
    (known, appended.toSeq)
  }

  /** [[apply]] unless the frame is ALREADY cheap to re-read: a
    * deterministic project/filter/limit chain over an existing
    * checkpoint, a local relation, or a bare parquet scan. Re-reading
    * those per consumer costs a scan of data that is already sitting in
    * blocks or small files — re-checkpointing them costs a whole
    * scheduler job, which on delta-sized lifecycle plans IS the cost.
    *
    * Use at call sites that never [[release]] the result: the returned
    * frame may alias its INPUT's checkpoint blocks, so releasing it
    * would free storage some other consumer still reads. */
  def reuse(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def cheap(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: LocalRelation => true
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.catalogTable.isEmpty // bare file scan
      case Project(pl, c) => pl.forall(_.deterministic) && cheap(c)
      case Filter(cond, c) => cond.deterministic && cheap(c)
      case GlobalLimit(_, c) => cheap(c)
      case LocalLimit(_, c) => cheap(c)
      case SubqueryAlias(_, c) => cheap(c)
      case _ => false
    }
    if (cheap(df.queryExecution.analyzed)) df else apply(df)
  }

  /** Free the executor blocks of a frame produced by [[apply]] once it is
    * superseded. Iterative loops (PageRank, BFS, closure, min-label
    * propagation) otherwise pin EVERY round's checkpoint blocks until
    * driver GC — on a long-converging run that is rounds × |labels| of
    * executor memory for frames that will never be read again.
    *
    * Only call on frames that are dead: a local checkpoint's lineage is
    * truncated, so unpersisting its RDD is irrecoverable by design. No-op
    * for non-checkpointed frames (round-0 seeds over source tables) and
    * harmless for reliable checkpoints (the files on the durable store
    * remain authoritative; only cached blocks drop).
    *
    * Scope: only the checkpoint the frame OWNS is freed — the one on its
    * unary plan spine ([[apply]]'s product, possibly under projections a
    * caller added). The walk stops at joins/unions: a checkpoint reached
    * through a binary node belongs to some OTHER, possibly-live frame
    * (e.g. the still-current round of an enclosing loop feeding this
    * frame's lineage), and deep-collecting leaves there would unpersist
    * it mid-flight — the CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND failure mode.
    */
  def release(df: DataFrame): Unit = {
    @annotation.tailrec
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      p match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false): Unit
        case u: org.apache.spark.sql.catalyst.plans.logical.UnaryNode =>
          walk(u.child)
        case _ => ()
      }
    walk(df.queryExecution.logical)
  }
}
