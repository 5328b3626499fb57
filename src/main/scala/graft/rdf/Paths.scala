package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SPARQL 1.1 property-path expression algebra (the post-parse AST the
  * [[Sparql]] parser lowers path syntax into; [[Paths.evalPath]] evaluates
  * it to a (src, dst) pair set over any (s,p,o) triples frame).
  *
  * [[PEdge]]'s value is an RDF term string in the string-triples plan or a
  * Long dictionary id in id space — same monomorphic-per-plan convention as
  * [[C]].
  */
sealed trait Path
final case class PEdge(p: Any) extends Path
/** sequence `a/b` */
final case class PSeq(l: Path, r: Path) extends Path
/** alternation `a|b` */
final case class PAlt(l: Path, r: Path) extends Path
/** one-or-more `a+` */
final case class PPlus(p: Path) extends Path
/** zero-or-more `a*` */
final case class PStar(p: Path) extends Path
/** zero-or-one `a?` */
final case class POpt(p: Path) extends Path
/** inverse `^a` */
final case class PInv(p: Path) extends Path
/** negated property set `!(p1|…|pn|^q1|…|^qm)` (SPARQL 1.1 §9.1): forward
  * members exclude forward edges, inverse members exclude REVERSED edges;
  * a side with no members contributes nothing (`!(^q)` matches no forward
  * edge at all, per the grammar's translation to alt of the two parts). */
final case class PNps(fwd: Seq[Any], inv: Seq[Any]) extends Path

/** Property-path evaluation: SPARQL `p+` (one-or-more) reachability over
  * an edge set, the graph-traversal operator BGP joins can't express at a
  * fixed depth, plus its incremental maintenance and the [[Path]] algebra
  * evaluator built on it.
  *
  * Semi-naive iteration (the distributed datalog pattern, run by
  * [[graft.Materialize.semiNaive]]): each round joins only the FRONTIER
  * (paths discovered last round) against the edge list, anti-joins away
  * already-known pairs, and stops when the frontier is empty. Work per
  * round is O(new paths), not O(all paths) — the difference between this
  * converging and re-deriving everything every round. A pair first
  * appears in the round of its SHORTEST path, so rounds = the longest
  * shortest path plus the final empty one; each is two shuffles (join +
  * dedup). Driver sees only per-round emptiness checks, never data.
  */
object Paths {

  /** All (src, dst) pairs connected by 1+ hops over `edges(src, dst)`. */
  def transitiveClosure(edges: DataFrame): DataFrame =
    closure(edges, identity)

  /** [[transitiveClosure]] restricted to the given source nodes: the
    * frontier STARTS at the seeds, so work per round is O(reachable from
    * seeds) instead of O(all pairs) — the scale path for a constant-subject
    * `p+` pattern (a full closure filtered afterward computes every other
    * node's reachability just to discard it). */
  def closureFrom(edges: DataFrame, seeds: Seq[Any]): DataFrame =
    closure(edges, _.filter(col("src").isin(seeds: _*)))

  /** [[transitiveClosure]] over per-graph edge sets `(g, src, dst)`: `g`
    * rides as one more equi-join key, so no derived pair ever composes
    * edges from two graphs — the SPARQL active-graph rule for paths under
    * `GRAPH ?var`, expressed as a wider join key rather than a per-graph
    * loop (one distributed fixpoint covers every named graph at once). */
  def transitiveClosureGraphs(edges: DataFrame): DataFrame =
    closure(edges, identity, keys = Seq("g"))

  /** [[closureFrom]] with the per-graph key: reachability from the seed
    * sources, independently inside each graph. */
  def closureFromGraphs(edges: DataFrame, seeds: Seq[Any]): DataFrame =
    closure(edges, _.filter(col("src").isin(seeds: _*)), keys = Seq("g"))

  /** Run `f` with Catalyst constraint propagation off. Spark's Union
    * constraint rewriting (UnionBase.rewriteConstraints) can throw "key
    * not found: <attr>" when unioning localCheckpoint frames whose origin
    * constraints reference attributes pruned from the pre-checkpoint plan
    * (observed with edges derived from the dictionary-encode join tree).
    * The fixpoints' unions gain nothing from constraint propagation —
    * every frame is checkpointed — and the iteration is eager, so the
    * setting can be scoped to the call. */
  private def withoutConstraintPropagation[A](spark: SparkSession)(
      f: => A): A = {
    val flag = "spark.sql.constraintPropagation.enabled"
    val prev = spark.conf.get(flag)
    spark.conf.set(flag, "false")
    try f finally spark.conf.set(flag, prev)
  }

  private def closure(edges: DataFrame, init: DataFrame => DataFrame,
      keys: Seq[String] = Nil): DataFrame =
    withoutConstraintPropagation(edges.sparkSession) {
      val cols = keys :+ "src" :+ "dst"
      val e = edges.select(cols.map(col): _*).distinct().persist()
      val joinCond = keys.map(k => col(s"d.$k") === col(s"e.$k"))
        .foldLeft(col("d.dst") === col("e.src"))(_ && _)
      val (all, _) = graft.Materialize.semiNaive(init(e)) { (delta, all, _) =>
        delta.as("d").join(e.as("e"), joinCond)
          .select(keys.map(k => col(s"d.$k").as(k)) ++
            Seq(col("d.src").as("src"), col("e.dst").as("dst")): _*)
          .distinct()
          // only genuinely new pairs survive into the next frontier
          .join(all, cols, "left_anti")
      }
      e.unpersist()
      all
    }

  /** Incrementally maintained transitive closure: advance a materialized
    * [[transitiveClosure]] under an edge churn `(adds, dels)` without
    * recomputing it — the recursive-view analog of [[BgpView.maintain]].
    *
    * Counting IVM cannot serve recursion (a pair's derivation count is
    * unbounded and deletion of one edge can kill unboundedly many
    * derivations at once), so deletions use DRed — delete-and-rederive:
    *
    *  1. OVER-DELETE every pair with SOME derivation through a deleted
    *     edge. For reachability that set is exact WITHOUT iteration: any
    *     path through deleted edge (u,v) decomposes as x→*u, (u,v), v→*y,
    *     so suspects = (C ∪ id) ∘ dels ∘ (C ∪ id) — two joins against the
    *     old closure C ([[throughClosure]]), and suspects ⊆ C by C's
    *     transitivity.
    *  2. RE-DERIVE the suspects still reachable over surviving edges,
    *     semi-naive: (x,y) survives iff some surviving edge (x,m) has
    *     m = y, or continues into a KEPT pair (round 0) or an
    *     already-re-derived one (later rounds — a new derivation must
    *     pass through a newly recovered pair, so joining the frontier
    *     only is complete). Rounds ≤ the affected region's diameter.
    *
    * Insertions seed with the same composition through the (post-DRed)
    * closure C′: (C′ ∪ id) ∘ adds ∘ (C′ ∪ id) ∖ C′ is every new pair
    * whose path uses ONE added edge. Each later semi-naive round adds one
    * more added edge to the path, so rounds are the chain depth of the
    * added edges, not the path's length — and ZERO past the seed when
    * K = {(v, u) : v an added edge's head, u an added edge's tail,
    * v = u or (v, u) ∈ C} is empty. Proof sketch: on a shortest path
    * that uses two or more added edges, take two consecutive ones,
    * (u₁, v₁) then (u₂, v₂). The stretch v₁ →* u₂ between them uses
    * only surviving old edges, so v₁ = u₂ or (v₁, u₂) ∈ C′ ⊆ C, and
    * (v₁, u₂) ∈ K. So with K = ∅ no new pair needs two added edges, and
    * the seed is the whole insertion. K is counted in the churn probe's
    * own pass, over C and over any superset of the added edges (both
    * only over-approximate it, which merely runs the loop).
    *
    * Scale shape: the churned edge sets ride broadcast; per-round
    * frontiers are affected-region-sized and broadcast into scans of the
    * closure where possible. The over-delete and kept-set anti-joins
    * shuffle the closure once each — DRed's intrinsic cost, still far
    * under the diameter-many |C| shuffles of a recompute. The old edge
    * set is read only when DRed runs. Contract (the
    * [[QuadStore.changes]] guarantee): `adds` disjoint from `oldEdges`,
    * `dels` ⊆ `oldEdges`; both (src, dst) sets.
    */
  def maintainClosure(closure: DataFrame, oldEdges: DataFrame,
      adds: DataFrame, dels: DataFrame): DataFrame =
    // needDeltas=false: skips the net-delta checkpoint when both phases
    // run — a caller that only wants the new closure would pay a
    // scheduler job for frames it immediately discards
    maintainClosureImpl(closure, oldEdges, churnOf(adds, dels),
      sel(adds), needDeltas = false)._1

  /** [[maintainClosure]] also returning the NET closure-level change as
    * `(closure, pairAdds, pairDels)` — disjoint frames, a pair deleted by
    * the DRed phase and re-derived by the insertion phase nets out. The
    * persisted path view's sync consumes this to write O(|Δclosure|)
    * segments instead of diffing two closure snapshots. */
  def maintainClosureDelta(closure: DataFrame, oldEdges: DataFrame,
      adds: DataFrame, dels: DataFrame): (DataFrame, DataFrame, DataFrame) =
    maintainClosureImpl(closure, oldEdges, churnOf(adds, dels), sel(adds),
      needDeltas = true)

  /** [[maintainClosureDelta]] over an edge churn given as tagged rows
    * `(src, dst, __op)` — `a` net adds, `d` net deletes — still lazy, so
    * the churn probe materializes it: a caller that derives the churn
    * itself (the path view's presence probe of the old slice) pays no
    * job of its own. `candAdds` is any superset of the adds; K is counted
    * over it. */
  private[rdf] def maintainClosureChurn(closure: DataFrame,
      oldEdges: DataFrame, churn: DataFrame, candAdds: DataFrame)
      : (DataFrame, DataFrame, DataFrame) =
    maintainClosureImpl(closure, oldEdges, churn, sel(candAdds),
      needDeltas = true)

  private val pair = Seq("src", "dst")
  private def sel(df: DataFrame): DataFrame = df.select(pair.map(col): _*)

  private def churnOf(adds: DataFrame, dels: DataFrame): DataFrame =
    sel(dels).withColumn("__op", lit("d"))
      .unionByName(sel(adds).withColumn("__op", lit("a")))

  /** (C ∪ id) ∘ X ∘ (C ∪ id): every (x, y) with x = s or (x, s) ∈ C,
    * (s, d) ∈ X, and y = d or (d, y) ∈ C — the pairs whose path passes
    * an X edge. X is delta-sized and rides broadcast into the first
    * closure scan. */
  private def throughClosure(x: DataFrame, c: DataFrame,
      bcastLeft: Boolean): DataFrame =
    thenClosure(x.unionByName(
      c.select(col("src"), col("dst").as("m"))
        .join(x.select(col("src").as("m"), col("dst")).hint("broadcast"),
          Seq("m"))
        .select(pair.map(col): _*)), c, bcastLeft)

  /** X ∘ (C ∪ id), distinct. `bcast` broadcasts X into the closure scan:
    * right for an insertion's frontiers, whose left ends are new paths'
    * sources, but not for DRed's suspects, which hold every predecessor
    * of a deleted edge and can span a dense region. */
  private def thenClosure(x: DataFrame, c: DataFrame,
      bcast: Boolean): DataFrame =
    x.unionByName((if (bcast) x.hint("broadcast") else x)
        .select(col("src"), col("dst").as("m"))
        .join(c.select(col("src").as("m"), col("dst")), Seq("m"))
        .select(pair.map(col): _*))
      .distinct()

  private def maintainClosureImpl(closure: DataFrame, oldEdges: DataFrame,
      churn: DataFrame, candAdds: DataFrame,
      needDeltas: Boolean): (DataFrame, DataFrame, DataFrame) =
    withoutConstraintPropagation(closure.sparkSession) {
      // the phases below re-read the closure (over/kept/seed all join
      // against it): reuse() keeps a caller's checkpoint- or scan-backed
      // frame (the view store's fold read) and materializes anything else
      var cur = graft.Materialize.reuse(sel(closure))
      // ONE probe materializes the churn together with the chain pairs K
      // and answers all three counts
      val heads = candAdds.select(col("dst").as("src"))
      val tails = candAdds.select(col("src").as("dst")).hint("broadcast")
      val chains = heads
        .join(tails, col("src") === col("dst"), "left_semi")
        .select(col("src"), col("src").as("dst"))
        .unionByName(cur.join(heads.hint("broadcast"), Seq("src"), "left_semi")
          .join(tails, Seq("dst"), "left_semi"))
      val (feed, counts) = graft.Materialize.probedN(
        churn.select(col("src"), col("dst"), col("__op"))
          .unionByName(chains.withColumn("__op", lit("k"))),
        col("__op") === "a", col("__op") === "d", col("__op") === "k")
      val Seq(nAdd, nDel, nChain) = counts
      // edges are null-free; saying so keeps every use of a side's plan
      // identical, so its broadcasts are shared where inferred not-null
      // filters would make them differ
      def side(op: String) = feed
        .filter(col("__op") === op && col("src").isNotNull &&
          col("dst").isNotNull)
        .select(pair.map(col): _*)
      var pairDels: Option[DataFrame] = None
      var pairAdds: Option[DataFrame] = None
      if (nDel > 0L) {
        val delsM = side("d")
        val edges = graft.Materialize.reuse(sel(oldEdges))
        // the suspects' shuffle is DRed's intrinsic cost, proportional to
        // the severed region
        val over = graft.Materialize(
          throughClosure(delsM, cur, bcastLeft = false))
        val kept = graft.Materialize(cur.join(over, pair, "left_anti"))
        // surviving out-edges of suspect sources — the only edges a
        // re-derivation can start with
        val eAff = graft.Materialize(
          edges.join(delsM.hint("broadcast"), pair, "left_anti")
            .join(over.select("src").distinct().hint("broadcast"),
              Seq("src"), "left_semi"))
        def witnessed(cand: DataFrame, reached: DataFrame): DataFrame = {
          val via = cand.join(
            eAff.select(col("src"), col("dst").as("m")), Seq("src"))
          via.filter(col("m") === col("dst")).select(pair.map(col): _*)
            .unionByName(via.join(
              reached.select(col("src").as("m"), col("dst")),
              Seq("m", "dst"), "left_semi").select(pair.map(col): _*))
            .distinct()
        }
        // candidates are the suspects not yet re-derived, so each round
        // recovers only new pairs
        val (red, _) = graft.Materialize.semiNaive(witnessed(over, kept)) {
          (frontier, red, _) =>
            witnessed(over.join(red, pair, "left_anti"), frontier)
        }
        // lazy: over and red are checkpoint-backed, so the anti-join is a
        // delta-bounded plan its one consumer runs
        pairDels = Some(over.join(red, pair, "left_anti"))
        cur = graft.Materialize(kept.unionByName(red))
      }
      if (nAdd > 0L) {
        val a = side("a")
        val base = cur // post-deletion closure: already transitively closed
        val seed = throughClosure(a, base, bcastLeft = true)
          .join(base, pair, "left_anti")
        val added =
          // K = ∅: the seed is the whole insertion (scaladoc) — it stays
          // lazy, and its one consumer computes it
          if (nChain == 0L) seed
          else {
            val (_, frontiers) = graft.Materialize.semiNaive(seed,
                base = Some(base)) { (frontier, all, _) =>
              // paths with one MORE added edge: frontier ∘ adds ∘ (C ∪ id)
              val viaAdd = frontier.select(col("src"), col("dst").as("m"))
                .join(a.select(col("src").as("m"), col("dst"))
                  .hint("broadcast"), Seq("m"))
                .select(pair.map(col): _*)
              thenClosure(viaAdd, base, bcast = true)
                .join(all, pair, "left_anti")
            }
            frontiers.reduceOption(_.unionByName(_)).getOrElse(seed.limit(0))
          }
        pairAdds = Some(added)
        cur = base.unionByName(added)
      }
      val none = cur.limit(0)
      (pairAdds, pairDels) match {
        case _ if !needDeltas => (cur, none, none)
        // a pair the DRed phase dropped and the insertion phase recovered
        // was present before AND after — it nets out of both delta sides.
        // ONE tagged checkpoint materializes BOTH net sides
        case (Some(pa), Some(pd)) =>
          val net = graft.Materialize(
            pa.join(pd, pair, "left_anti").withColumn("__op", lit("a"))
              .unionByName(pd.join(pa, pair, "left_anti")
                .withColumn("__op", lit("d"))))
          (cur,
            net.filter(col("__op") === "a").select(pair.map(col): _*),
            net.filter(col("__op") === "d").select(pair.map(col): _*))
        // one phase ran (or none): its pairs are already net
        case (pa, pd) => (cur, pa.getOrElse(none), pd.getOrElse(none))
      }
    }

  /** SPARQL `pred+` over the triples table: reachability through edges
    * labeled with any of the given predicates. */
  def predicatePlus(triples: DataFrame, preds: Seq[String]): DataFrame =
    transitiveClosure(
      triples.filter(col("p").isin(preds: _*))
        .select(col("s").as("src"), col("o").as("dst")))

  /** Evaluate a [[Path]] expression to its (src, dst) pair set.
    *
    * Cardinality semantics follow SPARQL 1.1 §18.4/9.3: sequence and
    * alternation are bag-preserving (two derivations of the same pair keep
    * two rows), while `+` / `*` / `?` are defined as *node-pair existence*
    * (ZeroOrMorePath/OneOrMorePath) and therefore distinct. The zero-length
    * path of `*` and `?` matches every term of the graph — all subjects and
    * objects — paired with itself, per the spec's "all terms in the graph"
    * rule.
    *
    * Every operator is a scan/filter, equi-join, or union — all distributed,
    * no driver data paths; `+`/`*` reuse [[transitiveClosure]]'s semi-naive
    * frontier iteration, so work per round is O(new pairs) at any scale.
    */
  def evalPath(triples: DataFrame, path: Path): DataFrame =
    path match {
      case PEdge(p) =>
        triples.filter(col("p") === lit(p))
          .select(col("s").as("src"), col("o").as("dst"))
      case PInv(q) =>
        evalPath(triples, q)
          .select(col("dst").as("src"), col("src").as("dst"))
      case alt: PAlt =>
        // an alternation of DISTINCT plain predicates collapses to ONE
        // scan with an IN filter instead of N scans unioned — the same bag
        // (each triple matches exactly one branch). Duplicate predicate
        // IRIs (e.g. via a prefix alias) must keep the union: alternation
        // is bag-preserving, so each duplicated branch contributes its own
        // derivation.
        val leaves = flattenAlt(alt)
        val preds = leaves.collect { case PEdge(v) => v }
        if (preds.size == leaves.size && preds.distinct.size == preds.size)
          triples.filter(col("p").isin(preds: _*))
            .select(col("s").as("src"), col("o").as("dst"))
        else leaves.map(evalPath(triples, _)).reduce(_.unionByName(_))
      case PSeq(l, r) =>
        val a = evalPath(triples, l).as("l")
        val b = evalPath(triples, r).as("r")
        a.join(b, col("l.dst") === col("r.src"))
          .select(col("l.src").as("src"), col("r.dst").as("dst"))
      case PPlus(q) => transitiveClosure(evalPath(triples, q))
      case PStar(q) =>
        zeroHop(triples)
          .unionByName(transitiveClosure(evalPath(triples, q)))
          .distinct()
      case POpt(q) =>
        zeroHop(triples).unionByName(evalPath(triples, q)).distinct()
      case PNps(fwd, inv) =>
        // one scan per present direction, each a NOT-IN predicate filter
        // that reaches the source (no join, no shuffle); union is
        // bag-preserving per the spec's alt translation
        val parts =
          (if (fwd.isEmpty) Nil
           else Seq(triples.filter(!col("p").isin(fwd: _*))
             .select(col("s").as("src"), col("o").as("dst")))) ++
          (if (inv.isEmpty) Nil
           else Seq(triples.filter(!col("p").isin(inv: _*))
             .select(col("o").as("src"), col("s").as("dst"))))
        parts.reduce(_.unionByName(_))
    }

  /** [[evalPath]] per named graph: a quads frame `(g, s, p, o)` →
    * `(g, src, dst)` pairs solved WITHIN each graph. Every operator is the
    * same scan/join/union as [[evalPath]] with `g` carried as one more
    * equi-join key — sequence joins, `+`/`*` closures and the zero-length
    * node set all stay inside their graph, so one distributed plan covers
    * all named graphs at once instead of a driver loop over graph names
    * (which at 100 TB with millions of named graphs would serialize the
    * whole query on the driver). */
  def evalPathGraphs(quads: DataFrame, path: Path): DataFrame = path match {
    case PEdge(p) =>
      quads.filter(col("p") === lit(p))
        .select(col("g"), col("s").as("src"), col("o").as("dst"))
    case PInv(q) =>
      evalPathGraphs(quads, q)
        .select(col("g"), col("dst").as("src"), col("src").as("dst"))
    case alt: PAlt =>
      // same one-scan IN-collapse as evalPath (bag-exact for distinct
      // predicate leaves; duplicates keep the union)
      val leaves = flattenAlt(alt)
      val preds = leaves.collect { case PEdge(v) => v }
      if (preds.size == leaves.size && preds.distinct.size == preds.size)
        quads.filter(col("p").isin(preds: _*))
          .select(col("g"), col("s").as("src"), col("o").as("dst"))
      else leaves.map(evalPathGraphs(quads, _)).reduce(_.unionByName(_))
    case PSeq(l, r) =>
      val a = evalPathGraphs(quads, l).as("l")
      val b = evalPathGraphs(quads, r).as("r")
      a.join(b, col("l.dst") === col("r.src") && col("l.g") === col("r.g"))
        .select(col("l.g").as("g"), col("l.src").as("src"),
          col("r.dst").as("dst"))
    case PPlus(q) => transitiveClosureGraphs(evalPathGraphs(quads, q))
    case PStar(q) =>
      zeroHopGraphs(quads)
        .unionByName(transitiveClosureGraphs(evalPathGraphs(quads, q)))
        .distinct()
    case POpt(q) =>
      zeroHopGraphs(quads).unionByName(evalPathGraphs(quads, q)).distinct()
    case PNps(fwd, inv) =>
      val parts =
        (if (fwd.isEmpty) Nil
         else Seq(quads.filter(!col("p").isin(fwd: _*))
           .select(col("g"), col("s").as("src"), col("o").as("dst")))) ++
        (if (inv.isEmpty) Nil
         else Seq(quads.filter(!col("p").isin(inv: _*))
           .select(col("g"), col("o").as("src"), col("s").as("dst"))))
      parts.reduce(_.unionByName(_))
  }

  private def flattenAlt(p: Path): Seq[Path] = p match {
    case PAlt(l, r) => flattenAlt(l) ++ flattenAlt(r)
    case other => Seq(other)
  }

  /** The zero-length path relation: every term of the graph paired with
    * itself (SPARQL's ZeroLengthPath over variable endpoints). */
  private def zeroHop(triples: DataFrame): DataFrame = {
    val nodes = triples.select(col("s").as("n"))
      .unionByName(triples.select(col("o").as("n"))).distinct()
    nodes.select(col("n").as("src"), col("n").as("dst"))
  }

  /** Per-graph zero-length relation: each graph's terms paired with
    * themselves (the `*`/`?` zero-hop, scoped to the active graph). */
  private def zeroHopGraphs(quads: DataFrame): DataFrame = {
    val nodes = quads.select(col("g"), col("s").as("n"))
      .unionByName(quads.select(col("g"), col("o").as("n"))).distinct()
    nodes.select(col("g"), col("n").as("src"), col("n").as("dst"))
  }
}
