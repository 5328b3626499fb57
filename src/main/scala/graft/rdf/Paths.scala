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
    *     so suspects = {(x,y) : ∃(u,v)∈dels, (x=u ∨ x→*u) ∧ (y=v ∨
    *     v→*y)} — two joins against the old closure with the deleted
    *     edges broadcast, and suspects ⊆ C by C's transitivity.
    *  2. RE-DERIVE the suspects still reachable over surviving edges,
    *     semi-naive: (x,y) survives iff some surviving edge (x,m) has
    *     m = y, or continues into a KEPT pair (round 0) or an
    *     already-re-derived one (later rounds — a new derivation must
    *     pass through a newly recovered pair, so joining the frontier
    *     only is complete). Rounds ≤ the affected region's diameter.
    *
    * Insertions extend semi-naive from the ADDED edges with old segments
    * pre-composed — x →* u, (u,v) ∈ adds, v →* y, identities included —
    * so rounds are bounded by the number of added edges on a path, not
    * the path's length.
    *
    * Scale shape: the deleted/added edge sets ride broadcast; per-round
    * frontiers are affected-region-sized and broadcast into scans of the
    * closure where possible. The over-delete and kept-set anti-joins
    * shuffle the closure once each — DRed's intrinsic cost, still far
    * under the diameter-many |C| shuffles of a recompute. Contract (the
    * [[QuadStore.changes]] guarantee): `adds` disjoint from `oldEdges`,
    * `dels` ⊆ `oldEdges`; both (src, dst) sets.
    */
  def maintainClosure(closure: DataFrame, oldEdges: DataFrame,
      adds: DataFrame, dels: DataFrame): DataFrame =
    // needDeltas=false: skips the net-delta anti-joins AND their
    // materialization job — a caller that only wants the new closure
    // paid two scheduler jobs for frames it immediately discarded
    maintainClosureImpl(closure, oldEdges, adds, dels, needDeltas = false)._1

  /** [[maintainClosure]] also returning the NET closure-level change as
    * `(closure, pairAdds, pairDels)` — disjoint frames, a pair deleted by
    * the DRed phase and re-derived by the insertion phase nets out. The
    * persisted path view's sync consumes this to write O(|Δclosure|)
    * segments instead of diffing two closure snapshots. */
  def maintainClosureDelta(closure: DataFrame, oldEdges: DataFrame,
      adds: DataFrame, dels: DataFrame): (DataFrame, DataFrame, DataFrame) =
    maintainClosureImpl(closure, oldEdges, adds, dels, needDeltas = true)

  private def maintainClosureImpl(closure: DataFrame, oldEdges: DataFrame,
      adds: DataFrame, dels: DataFrame,
      needDeltas: Boolean): (DataFrame, DataFrame, DataFrame) =
    withoutConstraintPropagation(closure.sparkSession) {
      val cols = Seq("src", "dst")
      val sel = (df: DataFrame) => df.select(cols.map(col): _*)
      // the rounds below re-read BOTH inputs (over/kept/witnessed all
      // join against them): materialize once so a caller's lazy closure
      // (a segment-fold view read) or derived edge set (a sequence view's
      // composed-edge join) doesn't re-execute per round
      // reuse(): a caller handing in frames that are already checkpoint-
      // or scan-backed (the view store's artifact reads) skips two jobs
      var cur = graft.Materialize.reuse(sel(closure))
      val edges = graft.Materialize.reuse(sel(oldEdges))
      // ONE fused job materializes BOTH delta sides and answers both
      // emptiness probes (probed2): the old shape paid an isEmpty job per
      // side plus a reuse() checkpoint of the add side, and left the
      // delete side to recompute per consumer (it feeds three joins)
      val (dFeed, nDel, nAdd) = graft.Materialize.probed2(
        sel(dels).withColumn("__op", lit("d"))
          .unionByName(sel(adds).withColumn("__op", lit("a"))),
        col("__op") === "d", col("__op") === "a")
      var pairDels = cur.limit(0)
      var pairAdds = cur.limit(0)
      if (nDel > 0L) {
        val delsM = dFeed.filter(col("__op") === "d")
          .select(cols.map(col): _*)
        val d = delsM.select(col("src").as("u"), col("dst").as("v"))
        // {(x, u, v)}: x reaches the deleted edge's tail (or IS it)
        val lefts = d.select(col("u").as("x"), col("u"), col("v"))
          .unionByName(cur.select(col("src").as("x"), col("dst").as("u"))
            .join(d.hint("broadcast"), Seq("u"))
            .select(col("x"), col("u"), col("v")))
        // … × {y : y = v ∨ v →* y}. `lefts` is affected-region-sized
        // (Δ-descended, not Δ-sized) — this join's shuffle is DRed's
        // intrinsic cost, proportional to the severed region
        val over = graft.Materialize(
          lefts.select(col("x").as("src"), col("v").as("dst"))
            .unionByName(lefts.select(col("x"), col("v"))
              .join(cur.select(col("src").as("v"), col("dst").as("y")),
                Seq("v"))
              .select(col("x").as("src"), col("y").as("dst")))
            .distinct())
        val kept = graft.Materialize(cur.join(over, cols, "left_anti"))
        // surviving out-edges of suspect sources — the only edges a
        // re-derivation can start with
        val eAff = graft.Materialize(
          edges.join(delsM.hint("broadcast"), cols, "left_anti")
            .join(over.select("src").distinct().hint("broadcast"),
              Seq("src"), "left_semi"))
        def witnessed(cand: DataFrame, base: DataFrame): DataFrame = {
          val via = cand.join(
            eAff.select(col("src"), col("dst").as("m")), Seq("src"))
          via.filter(col("m") === col("dst")).select(cols.map(col): _*)
            .unionByName(via.join(
              base.select(col("src").as("m"), col("dst")),
              Seq("m", "dst"), "left_semi").select(cols.map(col): _*))
            .distinct()
        }
        // candidates are the suspects not yet re-derived, so each round
        // recovers only new pairs
        val (red, _) = graft.Materialize.semiNaive(witnessed(over, kept)) {
          (frontier, red, _) =>
            witnessed(over.join(red, cols, "left_anti"), frontier)
        }
        // lazy: over and red are checkpoint-backed, so the anti-join is a
        // delta-bounded plan; it is consumed only by the final tagged
        // net-delta materialization (or not at all when needDeltas=false)
        pairDels = over.join(red, cols, "left_anti")
        cur = graft.Materialize(kept.unionByName(red))
      }
      if (nAdd > 0L) {
        val a = dFeed.filter(col("__op") === "a").select(cols.map(col): _*)
        val base = cur // post-deletion closure: already transitively closed
        // one added edge, old closed segments composed on the left…
        val leftExt = a.unionByName(
          base.select(col("src"), col("dst").as("m"))
            .join(a.select(col("src").as("m"), col("dst"))
              .hint("broadcast"), Seq("m"))
            .select(cols.map(col): _*))
        // …and on the right: frontier broadcast into the closure scan
        def rightExt(f: DataFrame): DataFrame =
          f.unionByName(f.hint("broadcast")
            .select(col("src"), col("dst").as("m"))
            .join(base.select(col("src").as("m"), col("dst")), Seq("m"))
            .select(cols.map(col): _*)).distinct()
        val (all, frontiers) = graft.Materialize.semiNaive(
            rightExt(leftExt).join(base, cols, "left_anti"),
            base = Some(base)) { (frontier, all, _) =>
          // paths with one MORE added edge: frontier ∘ adds ∘ (C ∪ id)
          val viaAdd = frontier.select(col("src"), col("dst").as("m"))
            .join(a.select(col("src").as("m"), col("dst"))
              .hint("broadcast"), Seq("m"))
            .select(cols.map(col): _*)
          rightExt(viaAdd).join(all, cols, "left_anti")
        }
        if (frontiers.nonEmpty) pairAdds = frontiers.reduce(_.unionByName(_))
        cur = all
      }
      // edge-level no-op churn (the store changed, this view's predicates
      // didn't) leaves the closure untouched and skips the net-delta job
      if (!needDeltas || (nDel == 0L && nAdd == 0L))
        (cur, cur.limit(0), cur.limit(0))
      else {
        // a pair the DRed phase dropped and the insertion phase recovered
        // was present before AND after — it nets out of both delta sides.
        // ONE tagged checkpoint materializes BOTH net sides — two
        // separate Materialize calls paid two scheduler jobs for frames
        // every caller consumes exactly once each
        val net = graft.Materialize(
          pairAdds.join(pairDels, cols, "left_anti")
            .withColumn("__op", lit("a"))
            .unionByName(pairDels.join(pairAdds, cols, "left_anti")
              .withColumn("__op", lit("d"))))
        (cur,
          net.filter(col("__op") === "a").select(cols.map(col): _*),
          net.filter(col("__op") === "d").select(cols.map(col): _*))
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
