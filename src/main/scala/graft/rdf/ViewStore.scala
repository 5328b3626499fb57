package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED materialized BGP view kept in sync with a delta-log
  * [[QuadStore]] — [[BgpView]]'s delta-join rule given a persisted
  * lifecycle. The view, its summaries and a path view's edge sets are
  * each one [[graft.sources.VersionChain]] (naming, contiguity checks,
  * publish-then-prune compaction live there):
  *
  *  - `meta.tsv` — the view definition: its kind, graph slice and
  *    defining SPARQL text ([[writeDefinition]]), written ONCE at
  *    create and re-classified on every open ([[classify]]);
  *    lastSynced is derived from entry names, never from mutable
  *    metadata (crash-safe by construction).
  *  - the `b`/`s` chain — full snapshots and the view-level net change
  *    between store versions (op 'a'/'d' rows over the binding columns).
  *  - the `e`/`es` chain (path views) — per-node edge sets, below.
  *
  * Scale shape: [[sync]] writes O(|Δview|) — the base view (which can be
  * corpus-sized) is folded at READ time with one constant-depth
  * last-op-per-binding window, and rewritten only by [[compact]]. The
  * store's 100 TB base is scanned but never shuffled during sync
  * ([[BgpView.delta]]'s broadcast-Δ fold); nothing in the steady state
  * is proportional to |view| on the write axis.
  *
  * Retention contract (same as the mirror's): sync before the store's
  * vacuum drops the last synced version — violations fail loudly in
  * [[QuadStore.changes]], never silently diverge.
  */
object ViewStore {

  import graft.sources.VersionChain.{Edges, Rows}
  import MetaCodec._

  /** Highest store version the view reflects (0 = never created). */
  def lastSynced(root: String): Int = Rows.lastSynced(root)

  /** Live entry count (bases + segments) — the read-side fold width a
    * maintenance job bounds with [[compact]]. */
  def segmentCount(root: String): Int = Rows.segmentCount(root)

  // ---- the view definition: (kind, graph, SPARQL text) ---------------

  /** The `meta.tsv` definition format. Content-keyed roots that hold a
    * view take it as a key input, so a root an older format wrote is
    * never reopened under this one. */
  val Format = "kind-graph-sparql"

  /** A maintainable view shape: what [[classify]] finds in a defining
    * text, and what create, sync, read and compact dispatch on. */
  sealed trait Shape { def kind: String }
  /** A plain conjunctive BGP — the graph-slice view. */
  final case class TripleBgp(patterns: Seq[TP]) extends Shape {
    def kind = "triple"
  }
  /** Plain and `GRAPH term { BGP }` patterns; a plain pattern addresses
    * the default graph, a variable graph term binds as a view column. */
  final case class QuadBgp(patterns: Seq[(TP, Term)]) extends Shape {
    def kind = "quads"
  }
  /** A BGP plus row-local FILTERs over its own variables: they commute
    * with the counting delta rule, so one predicate restricts the
    * bootstrap and every delta feed. */
  final case class FilteredBgp(patterns: Seq[TP],
      filters: Seq[Sparql.Expr]) extends Shape {
    def kind = "filtered"
  }
  /** Two or more `{ BGP } UNION { BGP }` branches over one variable set,
    * persisted as support counts. */
  final case class UnionBgp(branches: Seq[Seq[TP]]) extends Shape {
    def kind = "union"
  }
  /** A BGP plus exactly one `OPTIONAL { BGP }`. */
  final case class OptionalBgp(left: Seq[TP], right: Seq[TP])
      extends Shape {
    def kind = "optional"
  }
  /** `?src (p1|…|^q1|…)+ ?dst`: the closure of a LINEAR predicate
    * alternation, whose edge delta is the alternation over the change
    * feed. */
  final case class AltPath(src: String, dst: String, tree: Path)
      extends Shape {
    def kind = "path"
    /** The alternation's forward and inverse predicates. */
    val (fwd, inv): (Seq[String], Seq[String]) = linearAlt(tree).get
  }
  /** `?src (EXPR)+ ?dst` over any tree of sequences, alternations,
    * (inverse) edges and nested `+` closures: the tree's per-node edge
    * sets persist beside the closure. */
  final case class ExprPath(src: String, dst: String, tree: Path)
      extends Shape {
    def kind = "pathexpr"
  }

  /** A view root's definition: its stored kind, graph slice and the
    * shape its text classifies to, as that kind. */
  final case class Definition(kind: String, graph: String, shape: Shape)

  /** Classify a defining SPARQL text. The maintainable fragment is one
    * SELECT with no solution modifiers or aggregation, projecting the
    * full binding, whose body is a BGP with at most one of: row-local
    * FILTERs, GRAPH-wrapped BGPs, one `OPTIONAL { BGP }` — or two or
    * more plain `UNION` branches, or exactly one `?src (EXPR)+ ?dst`
    * path. Anything else is rejected loudly: the delta rules maintain
    * these shapes, and richer ones compose DOWNSTREAM of the
    * materialization (as reads over it, or via IncrementalAgg on its
    * delta). */
  def classify(text: String): Shape = {
    val q = Sparql.parse(text)
    require(!q.ask && q.construct.isEmpty && q.describe.isEmpty,
      "view definitions are SELECTs")
    require(!q.distinct && q.orderKeys.isEmpty && q.limit.isEmpty &&
      q.offset.isEmpty && q.selectAggs.isEmpty && q.groupVars.isEmpty &&
      q.having.isEmpty && q.selectBinds.isEmpty &&
      q.trailingValues.isEmpty,
      "view definitions take no solution modifiers or aggregation")
    val shape =
      if (q.branches.size > 1) unionShape(q.branches)
      else bodyShape(q.branches.head)
    val vars = shape match {
      case TripleBgp(p) => tpVars(p)
      case QuadBgp(p) => tpVars(p.map(_._1)) ++
        p.map(_._2).collect { case V(n) => n }
      case FilteredBgp(p, _) => tpVars(p)
      case UnionBgp(bs) => tpVars(bs.head)
      case OptionalBgp(l, r) => tpVars(l ++ r)
      case AltPath(s, d, _) => Seq(s, d)
      case ExprPath(s, d, _) => Seq(s, d)
    }
    require(q.projection == Seq("*") || q.projection.toSet == vars.toSet,
      s"the materialized view holds the FULL binding (${
        vars.distinct.sorted.mkString(", ")}) — project or aggregate " +
        "over the view's reads, or via IncrementalAgg on its delta")
    shape
  }

  /** The pattern groups a block holds beyond its plain BGP, by name. */
  private def members(b: Sparql.Block): Seq[String] = Seq(
    "OPTIONAL" -> b.optionals, "FILTER" -> b.filters, "MINUS" -> b.minuses,
    "VALUES" -> b.values, "BIND" -> b.binds, "path" -> b.paths,
    "EXISTS" -> b.exists, "subquery" -> b.subqueries, "GRAPH" -> b.graphs,
    "nested UNION" -> b.unions, "SERVICE" -> b.services)
    .collect { case (name, xs) if xs.nonEmpty => name }

  private def bodyShape(b: Sparql.Block): Shape = members(b) match {
    case Seq() => TripleBgp(bgp(b.where))
    case Seq("FILTER") =>
      val vars = tpVars(b.where)
      b.filters.foreach { f =>
        val free = Sparql.filterVars(f).filterNot(vars.contains)
        require(free.isEmpty,
          s"FILTER references ${free.map("?" + _).mkString(", ")} which " +
            "the view's BGP does not bind — constant row-local " +
            "constraints only")
      }
      FilteredBgp(bgp(b.where), b.filters)
    case Seq("GRAPH") =>
      QuadBgp(b.where.map(inDefault) ++ b.graphs.flatMap { case (g, in) =>
        require(members(in).isEmpty,
          "GRAPH blocks in view definitions take bare BGP bodies")
        bgp(in.where).map(tp => (tp, g))
      })
    case Seq("OPTIONAL") =>
      require(b.optionals.size == 1, "exactly one OPTIONAL block")
      val ob = b.optionals.head
      require(ob.pats.nonEmpty && ob.paths.isEmpty && ob.filters.isEmpty,
        "the OPTIONAL body of a maintainable view is a bare BGP")
      OptionalBgp(bgp(b.where), ob.pats)
    case Seq("path") =>
      require(b.where.isEmpty && b.paths.size == 1,
        "a maintainable path view is exactly one path pattern")
      b.paths.head match {
        case (V(s), PPlus(inner), V(d)) =>
          require(s != d, "path view endpoints must be distinct variables")
          if (linearAlt(inner).isDefined) AltPath(s, d, inner)
          else { validatePathExpr(inner); ExprPath(s, d, inner) }
        case (_, p, _) => throw new IllegalArgumentException(
          s"a maintainable path view is `?src (expr)+ ?dst`, got $p — " +
            "`*`'s zero-hop row set and constant endpoints compose " +
            "downstream of the materialization")
      }
    case other => throw new IllegalArgumentException(
      s"a maintainable view body is a BGP plus at most one of FILTER, " +
        s"GRAPH, OPTIONAL or one path — got ${other.mkString(" + ")}; " +
        "compose the rest downstream of the materialization")
  }

  private def unionShape(branches: Seq[Sparql.Block]): Shape = {
    val bs = branches.map { b =>
      require(members(b).isEmpty, "each union branch of a maintainable " +
        "view is a plain BGP — anything richer composes downstream of " +
        "the materialization")
      bgp(b.where)
    }
    val per = bs.map(tpVars(_).toSet)
    require(per.forall(_ == per.head),
      "union view branches must bind the same variable set, got " +
        per.map(_.toSeq.sorted.mkString("{", ",", "}")).mkString(" vs "))
    UnionBgp(bs)
  }

  private def bgp(pats: Seq[TP]): Seq[TP] = {
    require(pats.nonEmpty, "a view definition's BGP blocks are non-empty")
    pats
  }

  private def validatePathExpr(p: Path): Unit = p match {
    case PEdge(_: String) =>
    case PInv(PEdge(_: String)) =>
    case PSeq(l, r) => validatePathExpr(l); validatePathExpr(r)
    case PAlt(l, r) => validatePathExpr(l); validatePathExpr(r)
    // a NESTED one-or-more: its pair set persists as one more tree node
    // and maintains by the closure's own DRed/semi-naive rule over the
    // inner operand's deltas — `(p+/q)|r` and friends
    case PPlus(in) => validatePathExpr(in)
    case other => throw new IllegalArgumentException(
      s"a maintainable path expression composes sequences, alternations, " +
        s"(inverse) edges and nested `+` closures — got $other " +
        "(`*`/`?`/negated sets compose downstream of the materialization)")
  }

  /** (forward, inverse) predicates of a LINEAR alternation `p|…|^q|…`
    * — linear in the triples, so its edge delta is the alternation
    * applied to the change feed; None for any other tree. */
  private def linearAlt(p: Path): Option[(Seq[String], Seq[String])] =
    p match {
      case PEdge(v: String) => Some((Seq(v), Nil))
      case PInv(PEdge(v: String)) => Some((Nil, Seq(v)))
      case PAlt(l, r) =>
        for ((lf, li) <- linearAlt(l); (rf, ri) <- linearAlt(r))
          yield (lf ++ rf, li ++ ri)
      case _ => None
    }

  private def tpVars(pats: Seq[TP]): Seq[String] =
    pats.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect { case V(n) => n }.distinct

  private def inDefault(tp: TP): (TP, Term) = (tp, C(Quads.DefaultGraph))

  /** `shape` as a `kind` view. Where two kinds accept one text — a
    * GRAPH-free BGP is a triple, quads or id-space view; a linear
    * alternation a path or pathexpr view — the stored kind says which. */
  private def as(kind: String, shape: Shape): Shape = (kind, shape) match {
    case (k, s) if k == s.kind => s
    case ("encoded", s: TripleBgp) => s
    case ("quads", TripleBgp(p)) => QuadBgp(p.map(inDefault))
    case ("pathexpr", AltPath(s, d, t)) => ExprPath(s, d, t)
    case (k, s) => notA(k, s)
  }

  private def notA(kind: String, s: Shape): Nothing =
    throw new IllegalArgumentException(
      s"the definition is a ${s.kind} view, not a $kind view")

  /** A pattern-form definition as SPARQL text. Every constant renders
    * as an escaped `"…"` literal, which [[Sparql]] reads back to the same
    * string in subject, predicate, object and GRAPH position;
    * default-graph patterns render outside any GRAPH block. */
  private[rdf] def render(patterns: Seq[(TP, Term)]): String = {
    def term(t: Term): String = t match {
      case V(n) if n.matches("(_:)?[A-Za-z_]\\w*") =>
        if (n.startsWith("_:")) n else "?" + n
      case C(v: String) => Sparql.quote(v)
      case other => throw new IllegalArgumentException(
        s"persisted view definitions are STRING patterns over named " +
          s"variables, got $other")
    }
    patterns.map { case (tp, g) =>
      val pat = Seq(tp.s, tp.p, tp.o).map(term).mkString("", " ", " .")
      if (g == C(Quads.DefaultGraph)) pat else s"GRAPH ${term(g)} { $pat }"
    }.mkString("SELECT * WHERE { ", " ", " }")
  }

  /** Persist a view definition — the ONE writer of a view's `meta.tsv`:
    * a single line `view <kind> <graph> <text>`, graph and text
    * base64-armored. The text is classified as a `kind` view before
    * anything is written. */
  private[rdf] def writeDefinition(root: String, kind: String,
      graph: String, text: String): Definition = {
    val d = Definition(kind, graph, as(kind, classify(text)))
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      Seq("view", kind, b64(graph), b64(text)).mkString("\t"))
    d
  }

  /** The ONE reader: re-classifies the stored text, so the parser stays
    * the single source of truth for a definition's meaning. A summary's
    * `meta.tsv`, or one written in an older format, is a loud error
    * naming the root — no older format is read. */
  private[rdf] def readDefinition(root: String): Definition =
    graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\t", -1) match {
      case Array("view", kind, g, t) =>
        Definition(kind, unb64(g), as(kind, classify(unb64(t))))
      case Array("mode", "agg" | "aggx" | "aggenc", _*) =>
        throw new IllegalArgumentException(
          s"$root holds an aggregate summary, not a view")
      case _ => throw new IllegalArgumentException(
        s"$root holds no view definition this build can read (a " +
          "meta.tsv from before the kind/graph/SPARQL-text format?) — " +
          "remove the root and create the view again")
    }

  /** [[readDefinition]] for the string-space lifecycle: an id-space
    * root ([[EncodedView]]) is rejected by name. */
  private[rdf] def definitionOf(root: String): Definition = {
    val d = readDefinition(root)
    require(d.kind != "encoded", s"$root is an id-space view — create, " +
      "sync and read it through EncodedView")
    d
  }

  /** The view's stored kind: "triple", "quads", "filtered", "union",
    * "optional", "path", "pathexpr" — or "encoded" for an id-space
    * [[EncodedView]] root. */
  def mode(root: String): String = readDefinition(root).kind

  /** Is this a quad-pattern (GRAPH-aware) view? */
  def isQuadView(root: String): Boolean = mode(root) == "quads"

  /** The persisted TRIPLE-view definition: (graph slice, patterns). */
  def definition(root: String): (String, Seq[TP]) =
    definitionOf(root) match {
      case Definition(_, g, TripleBgp(p)) => (g, p)
      case d => throw new IllegalArgumentException(
        s"$root is a ${d.kind} view, not a triple-slice view")
    }

  /** The persisted QUAD-view definition. */
  def definitionQuads(root: String): Seq[(TP, Term)] =
    definitionOf(root).shape match {
      case QuadBgp(p) => p
      case s => throw new IllegalArgumentException(
        s"$root is a ${s.kind} view, not a quad view")
    }

  // ---- the fragments as projections of the classified text ------------

  /** The conjunctive fragment: `SELECT * WHERE { <plain BGP> }` (or a
    * projection naming every pattern variable). */
  def patternsFromSparql(text: String): Seq[TP] = classify(text) match {
    case TripleBgp(p) => p
    case s => notA("triple", s)
  }

  /** The FILTERED fragment: a BGP plus row-local FILTERs over its own
    * variables → (patterns, filters). */
  def filteredPatternsFromSparql(
      text: String): (Seq[TP], Seq[Sparql.Expr]) = classify(text) match {
    case FilteredBgp(p, fs) => (p, fs)
    case s => notA("filtered", s)
  }

  /** The QUAD fragment: plain patterns address the default graph,
    * `GRAPH term { BGP }` blocks carry their graph term. */
  def quadPatternsFromSparql(text: String): Seq[(TP, Term)] =
    as("quads", classify(text)) match {
      case QuadBgp(p) => p
      case s => notA("quads", s)
    }

  /** The UNION fragment: two or more top-level `{ BGP } UNION { BGP }`
    * branches over the SAME variable set. */
  def unionBranchesFromSparql(text: String): Seq[Seq[TP]] =
    classify(text) match {
      case UnionBgp(bs) => bs
      case s => notA("union", s)
    }

  /** The OPTIONAL fragment: a BGP plus one `OPTIONAL { BGP }` →
    * (left, right). */
  def optionalFromSparql(text: String): (Seq[TP], Seq[TP]) =
    classify(text) match {
      case OptionalBgp(l, r) => (l, r)
      case s => notA("optional", s)
    }

  /** The PATH fragment: `?src (p1|…|^q1|…)+ ?dst` →
    * (srcVar, dstVar, forward preds, inverse preds). */
  def pathFromSparql(text: String)
      : (String, String, Seq[String], Seq[String]) = classify(text) match {
    case p: AltPath => (p.src, p.dst, p.fwd, p.inv)
    case s => notA("path", s)
  }

  /** `?src (s1/s2/…)+ ?dst` with each step a linear alternation →
    * (srcVar, dstVar, steps as (forward, inverse) predicates). It is a
    * pathexpr view; nested closures inside a step stay rejected. */
  def pathSeqFromSparql(text: String)
      : (String, String, Seq[(Seq[String], Seq[String])]) = {
    val (s, d, tree) = pathExprFromSparql(text)
    def steps(p: Path): Seq[Path] = p match {
      case PSeq(l, r) => steps(l) ++ steps(r)
      case other => Seq(other)
    }
    (s, d, steps(tree).map(st => linearAlt(st).getOrElse(
      throw new IllegalArgumentException(
        s"each step of a sequence path is a linear alternation, got $st"))))
  }

  /** The GENERAL path fragment: `?src (EXPR)+ ?dst` →
    * (srcVar, dstVar, EXPR). */
  def pathExprFromSparql(text: String): (String, String, Path) =
    as("pathexpr", classify(text)) match {
      case ExprPath(s, d, t) => (s, d, t)
      case s => notA("pathexpr", s)
    }

  // ---- create --------------------------------------------------------

  /** Bootstrap a view at the store's current version as a `kind` view of
    * `text`: persists the definition, then publishes the base — a
    * pathexpr view's per-node edge sets first, since its closure
    * bootstraps from the published root set. Idempotent: an existing
    * complete base at the same version is kept. */
  private def createView(spark: SparkSession, storeRoot: String,
      viewRoot: String, kind: String, graph: String, text: String): Int = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before create()"))
    val d = writeDefinition(viewRoot, kind, graph, text)
    lazy val t = slice(spark, storeRoot, cur, graph)
    d.shape match {
      case e: ExprPath =>
        graft.sources.AtomicStore.materializeParquet(
            Edges.basePath(viewRoot, cur)) {
          nodeSetsFrame(t, edgeNodes(e.tree))
        }: Unit
      case _ =>
    }
    graft.sources.AtomicStore.materializeParquet(
        Rows.basePath(viewRoot, cur)) {
      d.shape match {
        case TripleBgp(p) => BgpView.compute(t, p)
        case QuadBgp(p) => BgpView.computeQuads(
          QuadStore.readVersion(spark, storeRoot, cur), p)
        case FilteredBgp(p, fs) => BgpView.compute(t, p)
          .filter(fs.map(Sparql.filterColumn).reduce(_ && _))
        case UnionBgp(bs) => BgpView.computeUnionCounts(t, bs)
        case OptionalBgp(l, r) => BgpView.computeOptional(t, l, r)
        case p: AltPath => named(Paths.transitiveClosure(
          pathEdges(t, p.fwd, p.inv)), p.src, p.dst)
        case ExprPath(s, dst, _) => named(Paths.transitiveClosure(
          rootEdgeSet(spark, viewRoot, cur)), s, dst)
      }
    }
    cur
  }

  /** Bootstrap a triple view of `patterns` over the `graph` slice. */
  def create(spark: SparkSession, storeRoot: String, viewRoot: String,
      patterns: Seq[TP], graph: String = ""): Int =
    createView(spark, storeRoot, viewRoot, "triple", graph,
      render(patterns.map(inDefault)))

  /** Bootstrap a QUAD-pattern view (GRAPH-aware — constant graph terms
    * pin legs, a shared variable makes the graph a view column tracking
    * every graph). */
  def createQuads(spark: SparkSession, storeRoot: String, viewRoot: String,
      patterns: Seq[(TP, Term)]): Int =
    createView(spark, storeRoot, viewRoot, "quads", Quads.DefaultGraph,
      render(patterns))

  /** Bootstrap whatever maintainable view `text` defines ([[classify]]). */
  def createFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    createView(spark, storeRoot, viewRoot, classify(text).kind, graph, text)

  /** A FILTERED view: segments are the counting rule's net a/d rows
    * restricted by the same row-local predicate as the bootstrap. */
  def createFilteredFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    createView(spark, storeRoot, viewRoot, "filtered", graph, text)

  /** A QUAD view from text (a GRAPH-free BGP is a default-graph one). */
  def createQuadsFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String): Int =
    createView(spark, storeRoot, viewRoot, "quads", Quads.DefaultGraph, text)

  /** A UNION view — persisted as the counting algorithm's SUPPORT COUNT
    * frame ([[BgpView.computeUnionCounts]]): set union does not
    * distribute over set deltas, support does — segments carry
    * per-binding net support changes and membership is support > 0. */
  def createUnionFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    createView(spark, storeRoot, viewRoot, "union", graph, text)

  /** An OPTIONAL view — `left ⟕ right`, padded rows carrying null
    * optional columns; segments are net a/d rows maintained by
    * [[BgpView.deltaOptional]]'s transition rule. */
  def createOptionalFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    createView(spark, storeRoot, viewRoot, "optional", graph, text)

  /** A PATH view — the closure of a linear alternation, columns
    * (srcVar, dstVar); segments are net a/d pair rows maintained by
    * [[Paths.maintainClosureChurn]] (DRed deletions, semi-naive
    * insertions). */
  def createPathFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    createView(spark, storeRoot, viewRoot, "path", graph, text)

  /** A SEQUENCE path view `(s1/s2/…)+` ([[pathSeqFromSparql]]): a
    * pathexpr view whose tree is a sequence of linear alternations. */
  def createPathSeqFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int = {
    pathSeqFromSparql(text): Unit
    createView(spark, storeRoot, viewRoot, "pathexpr", graph, text)
  }

  /** A GENERAL path-expression view — the transitive closure of any
    * seq/alt tree's edge set, maintained by [[maintainEdgeSets]]
    * composed with the closure's DRed rule. */
  def createPathExprFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    createView(spark, storeRoot, viewRoot, "pathexpr", graph, text)

  // ---- lifecycle ------------------------------------------------------

  /** The `graph` slice of a pinned store version, as (s,p,o) — the
    * partition-pruned sliced read: a view over one graph never scans
    * the other graphs' files (or a full-store snapshot checkpoint). */
  private def slice(spark: SparkSession, storeRoot: String, v: Int,
      graph: String): DataFrame =
    QuadStore.readVersionGraph(spark, storeRoot, v, graph)
      .select("s", "p", "o")

  /** (src, dst) pairs renamed to a path view's endpoint columns. */
  private def named(df: DataFrame, src: String, dst: String): DataFrame =
    df.select(col("src").as(src), col("dst").as(dst))

  /** The per-direction edge scan of a path view — a SET (the closure's
    * domain), so alternation duplicates collapse. */
  private def pathEdges(t: DataFrame, fwd: Seq[String],
      inv: Seq[String]): DataFrame =
    pathDerivations(t, fwd, inv).distinct()

  /** One (src, dst) row per triple-direction deriving a path-view edge:
    * a bag, one row per alternative that derives the edge. */
  private def pathDerivations(t: DataFrame, fwd: Seq[String],
      inv: Seq[String]): DataFrame = {
    val parts =
      (if (fwd.isEmpty) Nil
       else Seq(t.filter(col("p").isin(fwd: _*))
         .select(col("s").as("src"), col("o").as("dst")))) ++
      (if (inv.isEmpty) Nil
       else Seq(t.filter(col("p").isin(inv: _*))
         .select(col("o").as("src"), col("s").as("dst"))))
    parts.reduce(_.unionByName(_))
  }

  /** A path view's NET edge churn under the net triple churn
    * `(tAdds, tDels)` of the old slice `oldT`, as lazy tagged rows
    * `(src, dst, __op)`, plus the candidate added edges. Triple-level net
    * is not edge-level net under alternation: an edge survives while ANY
    * alternative still derives it. So the old slice is probed once
    * against the BROADCAST candidate edges of the feed, and each
    * candidate edge counts its derivations: `o` in the old slice, `a`
    * from added triples, `d` from deleted ones. Deleted triples are old
    * ones (the [[QuadStore.changes]] contract), so o − d derivations
    * survive, and an edge is
    *  - added iff an added triple derives it and no old triple did;
    *  - deleted iff a deleted triple derived it and no surviving or
    *    added triple still does.
    * The grouping is candidate-sized; no full old or new edge set is
    * built, let alone anti-joined. */
  private def pathChurn(oldT: DataFrame, tAdds: DataFrame, tDels: DataFrame,
      fwd: Seq[String], inv: Seq[String]): (DataFrame, DataFrame) = {
    val pair = Seq("src", "dst")
    val candAdds = pathDerivations(tAdds, fwd, inv)
    val cand = candAdds.withColumn("__op", lit("a")).unionByName(
      pathDerivations(tDels, fwd, inv).withColumn("__op", lit("d")))
    val old = pathDerivations(oldT, fwd, inv)
      .join(broadcast(cand.select(pair.map(col): _*)), pair, "left_semi")
      .withColumn("__op", lit("o"))
    val n = (op: String) => sum(when(col("__op") === op, 1L).otherwise(0L))
    val churn = cand.unionByName(old).groupBy(pair.map(col): _*)
      .agg(n("a").as("a"), n("d").as("d"), n("o").as("o"))
      .select(col("src"), col("dst"),
        when(col("a") > 0 && col("o") === 0, lit("a"))
          .when(col("d") > 0 && col("a") === 0 && col("o") === col("d"),
            lit("d")).as("__op"))
      .filter(col("__op").isNotNull)
    (churn, candAdds)
  }

  // ---- persisted composed step-edge sets (pathexpr views)
  //
  // Round-11 lifecycle fix: earlier rounds recomputed the UNCHANGED
  // operand's composed edge set from the store slice at every sync
  // (predicate-pushdown bounded, plus a distinct + self-join per seq
  // node) — at 100 TB a per-minute CDC sync would re-join the full
  // region-predicate partition each tick. The composed sets are now
  // PERSISTED as part of the view artifact (the VP-table discipline,
  // [[ExtVp.maintain]]'s precedent) and maintained by delta rules whose
  // only non-artifact input is the store's NET triple change feed:
  //
  //  - `e{v}` — all tree nodes' edge sets at store version v, one frame
  //    tagged by node id (`__n`; 0 = root, preorder).
  //  - `es{from}_{to}` — per-node net edge a/d rows between syncs.
  //
  // The tree is decomposed to single-(predicate, direction) ATOMS: an
  // atom's edge set is 1:1 with its predicate's triples, so its delta
  // IS the change feed's slice — no netting, no store-state reads.
  // Every composed node then nets exactly from its children's persisted
  // old sets + deltas. Sync never touches the store slice at all.

  /** All nodes' edge sets as they stood at synced version `v`:
    * (__n, src, dst), the base plus net segments folded by one
    * last-op window — [[readAt]]'s fold over the edge chain, through the
    * same fold cache (separate key): the edge state is re-folded by
    * every sync and compaction, and extends by its net segments exactly
    * like the binding fold. Same ownership rule as [[readAt]]: the frame
    * belongs to the fold cache and must never be passed to
    * [[graft.Materialize.release]]. */
  private def readEdgesAt(spark: SparkSession, root: String,
      v: Int): DataFrame = cachedFold(spark, Edges, root, root + "#edges", v)

  /** The edge-set tree in flat form, id = index, root = 0, children
    * after parents (preorder): atoms carry one (predicate, direction);
    * composites reference child ids. */
  private sealed trait ENode
  private final case class EAtom(pred: String, inv: Boolean) extends ENode
  private final case class EJoin(l: Int, r: Int) extends ENode
  private final case class EUnion(l: Int, r: Int) extends ENode
  /** A NESTED one-or-more closure: this node's set is the transitive
    * closure of its child's — maintained by the same DRed/semi-naive
    * rule the root closure uses, over the child's net deltas. */
  private final case class EClosure(l: Int) extends ENode

  /** Flatten a maintainable seq/alt tree to [[ENode]]s (preorder). */
  private def edgeNodes(p: Path): Vector[ENode] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[ENode]
    def go(p: Path): Int = {
      val id = buf.length
      p match {
        case PEdge(v: String) => buf += EAtom(v, inv = false)
        case PInv(PEdge(v: String)) => buf += EAtom(v, inv = true)
        case PSeq(l, r) =>
          buf += EJoin(-1, -1); buf(id) = EJoin(go(l), go(r))
        case PAlt(l, r) =>
          buf += EUnion(-1, -1); buf(id) = EUnion(go(l), go(r))
        case PPlus(in) =>
          buf += EClosure(-1); buf(id) = EClosure(go(in))
        case other => throw new IllegalArgumentException(
          s"unmaintainable path node $other")
      }
      id
    }
    go(p): Unit
    buf.toVector
  }

  private def atomEdges(t: DataFrame, pred: String,
      inv: Boolean): DataFrame =
    if (inv) t.filter(col("p") === pred)
      .select(col("o").as("src"), col("s").as("dst"))
    else t.filter(col("p") === pred)
      .select(col("s").as("src"), col("o").as("dst"))

  /** Every node's full edge set over triple state `t`, tagged by node
    * id — the e-base frame. Atoms are 1:1 with their predicate's
    * triples (already a set); composites distinct per node, the same
    * dedup the old recompute path applied. */
  private def nodeSetsFrame(t: DataFrame,
      nodes: Vector[ENode]): DataFrame = {
    val sets = new Array[DataFrame](nodes.length)
    for (i <- nodes.indices.reverse) sets(i) = nodes(i) match {
      case EAtom(p, v) => atomEdges(t, p, v)
      case EJoin(l, r) =>
        sets(l).select(col("src"), col("dst").as("__m"))
          .join(sets(r).select(col("src").as("__m"), col("dst")), "__m")
          .select("src", "dst").distinct()
      case EUnion(l, r) =>
        sets(l).unionByName(sets(r)).distinct()
      case EClosure(l) =>
        Paths.transitiveClosure(sets(l))
    }
    nodes.indices.map(i => sets(i).withColumn("__n", lit(i)))
      .reduce(_.unionByName(_)).select("__n", "src", "dst")
  }

  /** The root node's published edge set at version `v` — what the
    * closure bootstraps from. */
  private def rootEdgeSet(spark: SparkSession, root: String,
      v: Int): DataFrame =
    readEdgesAt(spark, root, v).filter(col("__n") === 0)
      .select("src", "dst")

  /** Net per-node edge deltas from the store's net triple deltas, ALL
    * state read from the persisted artifact — never the store.
    * Returns (the LAZY tagged segment frame, the root's old set) — the
    * caller's segment-publish job is what computes it (write-then-read,
    * one job, instead of checkpoint-then-write, two). Rules, per node
    * kind (sets throughout):
    *  - atom: Δ = the feed's predicate slice (1:1 with triples, no
    *    netting needed).
    *  - union: add cands ΔL⁺ ∪ ΔR⁺ anti old (already derived via the
    *    other branch); del cands ΔL⁻ ∪ ΔR⁻ anti BOTH new children
    *    (an edge survives while any branch still derives it).
    *  - join: add cands ΔL⁺⋈R_new ∪ L_new⋈ΔR⁺ anti old (any new
    *    derivation passes a changed child edge); del cands ΔL⁻⋈R_old ∪
    *    L_old⋈ΔR⁻, kept only if NO new-state derivation survives —
    *    checked by seeding the candidate pairs through L_new then
    *    semi-joining R_new, so the probe stays candidate-bounded.
    * Children's new sets are old ∖ Δ⁻ ∪ Δ⁺ over the checkpointed old
    * frame — lazy, delta-sized extra work. */
  private def maintainEdgeSets(spark: SparkSession, viewRoot: String,
      last: Int, nodes: Vector[ENode], tAdds: DataFrame,
      tDels: DataFrame, hasAdds: Boolean,
      hasDels: Boolean): (DataFrame, DataFrame) = {
    val pair = Seq("src", "dst")
    // reuse, not Materialize: readEdgesAt comes back checkpoint- or
    // scan-backed from the fold cache — re-checkpointing it would pay a
    // job for blocks that already exist
    val oldAll = graft.Materialize.reuse(readEdgesAt(spark, viewRoot, last))
    def old(i: Int): DataFrame =
      oldAll.filter(col("__n") === i).select("src", "dst")
    // statically-empty sides (known from the caller's fused feed probe)
    // prune whole rule branches: an insert-only sync runs NO delete
    // machinery at all, and vice versa — the dominant lifecycle cost
    // here is scheduler round-trips, not data
    // None = statically empty. Inner deltas stay LAZY — their consumers
    // (the parent rules, the segment write, the root checkpoints below)
    // re-run only delta-bounded joins against checkpointed inputs, and
    // path trees are expression-sized, so recompute is bounded; eager
    // per-node checkpoints would cost a scheduler job per node per sync
    val da = new Array[Option[DataFrame]](nodes.length)
    val dd = new Array[Option[DataFrame]](nodes.length)
    val nw = new Array[DataFrame](nodes.length)
    def chain(a: DataFrame, b: DataFrame): DataFrame =
      a.select(col("src"), col("dst").as("__m"))
        .join(b.select(col("src").as("__m"), col("dst")), "__m")
        .select("src", "dst")
    def merge(parts: Seq[Option[DataFrame]]): Option[DataFrame] =
      parts.flatten.reduceOption(_.unionByName(_)).map(_.distinct())
    for (i <- nodes.indices.reverse) {
      nodes(i) match {
        case EAtom(p, v) =>
          da(i) = if (hasAdds) Some(atomEdges(tAdds, p, v)) else None
          dd(i) = if (hasDels) Some(atomEdges(tDels, p, v)) else None
        case EUnion(l, r) =>
          da(i) = merge(Seq(da(l), da(r)))
            .map(_.join(old(i), pair, "left_anti"))
          dd(i) = merge(Seq(dd(l), dd(r)))
            .map(_.join(nw(l), pair, "left_anti")
              .join(nw(r), pair, "left_anti"))
        case EJoin(l, r) =>
          da(i) = merge(Seq(da(l).map(chain(_, nw(r))),
              da(r).map(chain(nw(l), _))))
            .map(_.join(old(i), pair, "left_anti"))
          dd(i) = merge(Seq(dd(l).map(chain(_, old(r))),
              dd(r).map(chain(old(l), _))))
            .map { ddCand =>
              // candidate-bounded survival probe through the NEW children
              val surv = ddCand
                .select(col("src").as("__cs"), col("dst").as("__cd"))
                .hint("broadcast")
                .join(nw(l).select(
                  col("src").as("__cs"), col("dst").as("__m")), Seq("__cs"))
                .join(nw(r).select(col("src").as("__m"),
                  col("dst").as("__cd")), Seq("__m", "__cd"), "left_semi")
                .select(col("__cs").as("src"), col("__cd").as("dst"))
                .distinct()
              ddCand.join(surv, pair, "left_anti")
            }
        case EClosure(l) =>
          // the nested closure maintains by the SAME DRed/semi-naive
          // rule the root uses, seeded by the child's net deltas; when
          // the subtree is untouched the loop never runs at all. The
          // returned net pair deltas are checkpoints or lazy plans over
          // them.
          if (da(l).isEmpty && dd(l).isEmpty) {
            da(i) = None; dd(i) = None
          } else {
            val empty = old(i).limit(0)
            val (_, pa, pd) = Paths.maintainClosureDelta(
              old(i), old(l),
              da(l).getOrElse(empty), dd(l).getOrElse(empty))
            da(i) = Some(pa); dd(i) = Some(pd)
          }
      }
      nw(i) = {
        val kept = dd(i).fold(old(i))(d =>
          old(i).join(d.hint("broadcast"), pair, "left_anti"))
        da(i).fold(kept)(kept.unionByName(_))
      }
    }
    // the ENTIRE per-node delta computation stays LAZY: the caller's
    // single segment-publish job computes it straight into the parquet
    // write, and the root deltas (which feed the closure's iterative
    // maintenance) re-read the published one-file segment — no
    // checkpoint job, no per-node or per-side jobs
    val segFrame = nodes.indices.flatMap { i =>
      da(i).map(_.withColumn("__op", lit("a")).withColumn("__n", lit(i))) ++
        dd(i).map(_.withColumn("__op", lit("d")).withColumn("__n", lit(i)))
    }.reduceOption(_.unionByName(_))
      .map(_.select("__n", "src", "dst", "__op"))
      .getOrElse(spark.range(0).select(lit(0).as("__n"),
        lit("").as("src"), lit("").as("dst"), lit("").as("__op")))
    (segFrame, old(0))
  }

  /** Fold the store's changes since the last sync into one view-delta
    * segment; returns the store version the view now reflects.
    * Idempotent and crash-safe (marker-gated, coverage-named). Serves
    * every view shape — the classified definition discriminates; union
    * segments carry net SUPPORT changes, the rest net a/d binding rows. */
  def sync(spark: SparkSession, storeRoot: String,
      viewRoot: String): Int = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before sync()"))
    val last = lastSynced(viewRoot)
    require(last > 0, s"no view under $viewRoot — create() before sync()")
    val Definition(_, graph, shape) = definitionOf(viewRoot)
    if (cur <= last) return last
    val (adds, dels) = QuadStore.changes(spark, storeRoot, last, cur)
    val opRows = (d: (DataFrame, DataFrame)) =>
      d._1.withColumn("__op", lit("a"))
        .unionByName(d._2.withColumn("__op", lit("d")))
    val t = (df: DataFrame) =>
      df.filter(col("g") === graph).select("s", "p", "o")
    lazy val oldT = slice(spark, storeRoot, last, graph)
    // no-op fast path: versions advanced but the raw change log is
    // empty (idempotent replays) — coverage still needs its segment, but
    // the shape's whole delta machinery (conjunctive chains, DRed,
    // transition rules) has nothing to do. The RAW probe is one plain
    // segment scan; probing `adds`/`dels` directly would execute the
    // whole net-delta plan (broadcast anti-joins) just for the verdict —
    // measured ~7 scheduler round-trips per sync on the lifecycle keys.
    if (QuadStore.changesRawEmpty(spark, storeRoot, last, cur)) {
      val empty = shape match {
        case _: UnionBgp => readUnionCountsAt(spark, viewRoot, last).limit(0)
        case _ => cachedFold(spark, Rows, viewRoot, viewRoot, last).limit(0)
          .withColumn("__op", lit("a"))
      }
      // the edge-set chain needs its (empty) segment too — contiguity
      // is checked per chain
      if (shape.isInstanceOf[ExprPath])
        graft.sources.AtomicStore.materializeParquet(
            Edges.segPath(viewRoot, last, cur)) {
          spark.range(0).select(lit(0).as("__n"), lit("").as("src"),
            lit("").as("dst"), lit("").as("__op"))
        }
      graft.sources.AtomicStore.materializeParquet(
          Rows.segPath(viewRoot, last, cur)) {
        empty.repartition(1)
      }
      return cur
    }
    val segment = shape match {
      case QuadBgp(pats) =>
        opRows(BgpView.deltaQuads(
          QuadStore.readVersion(spark, storeRoot, last), adds, dels, pats))
      case UnionBgp(branches) =>
        BgpView.deltaUnionCounts(oldT, t(adds), t(dels), branches)
      case OptionalBgp(left, right) =>
        opRows(BgpView.deltaOptional(oldT, t(adds), t(dels), left, right))
      case ExprPath(sv, dv, tree) =>
        // store-free: composed-set state comes from the persisted
        // artifact, deltas from the net change feed. The feed frames fan
        // into every atom slice AND the segment write — ONE fused job
        // checkpoints the feed and answers both side-emptiness probes
        // (the old shape paid the checkpoint plus an isEmpty job per side)
        val (feed, counts) = graft.Materialize.probedN(
          t(adds).withColumn("__op", lit("a"))
            .unionByName(t(dels).withColumn("__op", lit("d"))),
          col("__op") === "a", col("__op") === "d")
        val Seq(nA, nD) = counts
        val tAdds = feed.filter(col("__op") === "a").select("s", "p", "o")
        val tDels = feed.filter(col("__op") === "d").select("s", "p", "o")
        val (edgeSeg, oldE) = maintainEdgeSets(spark, viewRoot, last,
          edgeNodes(tree), tAdds, tDels, nA > 0L, nD > 0L)
        // edge segment FIRST: if a crash lands between the two
        // publishes, the closure chain (the coverage authority) still
        // ends at `last` and the replayed sync's edge publish no-ops.
        // The write job IS the delta computation's materialization; the
        // closure maintenance below re-reads the published one-file
        // segment (write-then-read: one job where checkpoint-then-write
        // paid two)
        graft.sources.AtomicStore.materializeParquet(
            Edges.segPath(viewRoot, last, cur)) {
          edgeSeg.repartition(1)
        }
        val segM = graft.sources.AtomicStore.readParquet(spark, Edges.segPath(viewRoot, last, cur))
        val eAdds = segM.filter(col("__n") === 0 && col("__op") === "a")
          .select("src", "dst")
        val eDels = segM.filter(col("__n") === 0 && col("__op") === "d")
          .select("src", "dst")
        val (_, pa, pd) = Paths.maintainClosureDelta(
          cachedFold(spark, Rows, viewRoot, viewRoot, last)
            .select(col(sv).as("src"), col(dv).as("dst")),
          oldE, eAdds, eDels)
        opRows((named(pa, sv, dv), named(pd, sv, dv)))
      case path: AltPath =>
        val AltPath(sv, dv, _) = path
        val (churn, candAdds) =
          pathChurn(oldT, t(adds), t(dels), path.fwd, path.inv)
        // the old edge set stays lazy: only a DRed phase reads it
        val (_, pa, pd) = Paths.maintainClosureChurn(
          cachedFold(spark, Rows, viewRoot, viewRoot, last)
            .select(col(sv).as("src"), col(dv).as("dst")),
          pathEdges(oldT, path.fwd, path.inv), churn, candAdds)
        opRows((named(pa, sv, dv), named(pd, sv, dv)))
      case FilteredBgp(pats, fs) =>
        // the row-local predicate commutes with the counting rule:
        // filtering the NET a/d rows is the filtered view's exact delta
        val cond = fs.map(Sparql.filterColumn).reduce(_ && _)
        val (ba, bd) = BgpView.delta(oldT, t(adds), t(dels), pats)
        opRows((ba.filter(cond), bd.filter(cond)))
      case TripleBgp(pats) =>
        opRows(BgpView.delta(oldT, t(adds), t(dels), pats))
    }
    // an empty delta still writes its (tiny) segment: coverage
    // contiguity is what lets a replayed or raced sync be a no-op and
    // makes gaps loudly detectable at read. Segments are O(|churn|), so
    // ONE output file: the repartition shuffles only delta-sized bytes
    // while the delta computation keeps its full scan parallelism.
    graft.sources.AtomicStore.materializeParquet(
        Rows.segPath(viewRoot, last, cur)) {
      segment.repartition(1)
    }
    cur
  }

  /** The maintained view: newest base plus the ordered segment chain,
    * folded by one last-op-per-binding window. Rejects a non-contiguous
    * chain loudly (two racing syncers from different `from` versions). */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    readAt(spark, viewRoot, lastSynced(viewRoot))

  // ---- fold cache: the store-version-fold memo the sync hot path reads
  //
  // A lifecycle invocation folds the SAME view state several times — each
  // sync's closure bootstrap, compaction, the final read — and every fold
  // re-scanned the whole chain and re-ran the last-op window. Segments
  // are NET deltas, so fold(v2) = fold(v1) ∖ touched ∪ adds — the cached
  // MATERIALIZED fold at v1 extends with only the (v1, v2] segments (the
  // same version-immutability argument as QuadStore's snapshot cache).
  // Keyed per session; fingerprinted by the publish token of the chain
  // entry that DEFINES v1, so a wiped + re-created root can never serve
  // pre-wipe state. Entries are small (checkpointed binding sets); stale
  // ones drop from the LRU and Spark's ContextCleaner reclaims their
  // blocks once unreferenced.
  private final case class CachedFold(v: Int, endPath: String,
      token: String, df: DataFrame)
  // small on purpose: maintenance touches one root at a time, so a
  // handful of recent roots is all the hit rate needs — a large LRU would
  // pin every root's checkpoint blocks for the whole session (executor
  // storage = driver heap in local mode)
  private val foldCache =
    new graft.sources.Lru[(String, String), CachedFold](8)

  /** Apply a batch of NET segments to a folded state: per-binding last
    * op wins (the window runs over the TINY segment batch only), touched
    * bindings leave the state, surviving adds re-enter. Null-safe keys:
    * OPTIONAL views carry null pads, and the window fold groups nulls
    * together — the anti-join must too. */
  private def applySegs(spark: SparkSession, state: DataFrame,
      root: String, segs: Seq[(Int, Int)],
      chain: graft.sources.VersionChain): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cols = state.columns.toSeq
    val ops = chain.segFrames(spark, root, segs).zip(segs)
      .map { case (df, (_, t)) => df.withColumn("__v", lit(t)) }
      .reduce(_.unionByName(_))
    val w = Window.partitionBy(cols.map(col): _*).orderBy(col("__v").desc)
    val last = ops.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val touched = last.select(cols.map(col): _*)
    val adds = last.filter(col("__op") === "a").select(cols.map(col): _*)
    val cond = cols.map(c => state(c) <=> touched(c)).reduce(_ && _)
    state.join(touched.hint("broadcast"), cond, "left_anti")
      .unionByName(adds)
  }

  /** TIME-TRAVEL read: the view exactly as it stood at synced store
    * version `v` — the audit question ("what did this dashboard serve
    * at version 12?") answered from the same segments the live read
    * folds, just capped. Historical depth = the retention window:
    * compaction rewrites the base forward, after which older pins are
    * loud errors, never approximations. Serves every view mode.
    *
    * Non-union reads come back MATERIALIZED through the fold cache:
    * within one maintenance invocation the same state is folded several
    * times (sync bootstraps, compaction, the final read), and across
    * versions the cached fold advances by applying only the new net
    * segments instead of re-folding the whole chain.
    *
    * Ownership: the returned frame BELONGS TO THE FOLD CACHE — later
    * reads may be served from its checkpoint blocks. Never pass it, or a
    * frame derived from it, to [[graft.Materialize.release]]: that
    * unpersists the cache's truncated-lineage RDD and every later hit
    * fails irrecoverably. The blocks are reclaimed by Spark's
    * ContextCleaner once the entry leaves the LRU and nothing else
    * reaches it. */
  def readAt(spark: SparkSession, viewRoot: String, v: Int): DataFrame =
    definitionOf(viewRoot).shape match {
      case _: UnionBgp =>
        readUnionCountsAt(spark, viewRoot, v).drop(BgpView.SupportCol)
      case _ => cachedFold(spark, Rows, viewRoot, viewRoot, v)
    }

  /** `chain`'s fold at `v` through the fold cache under `key`: a hit at
    * `v` is served as is, a hit at an earlier version that a segment
    * starts from extends by exactly the (hit, v] sub-chain, and a miss
    * folds the whole link. */
  private def cachedFold(spark: SparkSession,
      chain: graft.sources.VersionChain, root: String, key: String,
      v: Int): DataFrame = {
    val link = chain.at(root, v)
    val k = (graft.sources.AtomicStore.sessionId(spark), key)
    val cached = foldCache.get(k)
      // the fingerprint must still match ITS path — a wiped/recompacted
      // root reads as a miss, never as pre-wipe state
      .filter(c => graft.sources.AtomicStore.markerToken(c.endPath) ==
        c.token && c.token.nonEmpty)
    def put(df: DataFrame): DataFrame = {
      val end = chain.endPath(root, link)
      val tok = graft.sources.AtomicStore.markerToken(end)
      if (tok.nonEmpty) foldCache.put(k, CachedFold(v, end, tok, df))
      df
    }
    cached match {
      case Some(c) if c.v == v => c.df
      case Some(c) if c.v < v && link.segs.exists(_._1 == c.v) =>
        put(graft.Materialize(applySegs(spark, c.df, root,
          link.segs.filter(_._1 >= c.v), chain)))
      case _ =>
        // a bare base is already a cheap one-file scan — cache it lazy
        // (extensions anti-join against the scan; Materialize.reuse-class
        // argument), where a checkpoint would cost a job for nothing
        val folded = chain.foldLastOp(spark, root, link)
        put(if (link.segs.isEmpty) folded else graft.Materialize(folded))
    }
  }

  /** A union view's maintained support-count frame: base supports plus
    * net segment changes, one sum per binding; membership is > 0. The
    * same contiguity gate as every read path. */
  def readUnionCounts(spark: SparkSession, viewRoot: String): DataFrame =
    readUnionCountsAt(spark, viewRoot, lastSynced(viewRoot))

  private def readUnionCountsAt(spark: SparkSession, viewRoot: String,
      v: Int): DataFrame = {
    val frames = Rows.frames(spark, viewRoot, Rows.at(viewRoot, v))
    val bcols = frames.head.columns.filterNot(_ == BgpView.SupportCol).toSeq
    frames.reduce(_.unionByName(_))
      .groupBy(bcols.map(col): _*)
      .agg(sum(BgpView.SupportCol).as(BgpView.SupportCol))
      .filter(col(BgpView.SupportCol) > 0L)
  }

  /** A grouped COUNT over the maintained view, folded WITHOUT
    * materializing the full binding set: the base contributes +1 per
    * row and each segment ±1 by op — sound because segments are NET
    * view deltas (every binding's signed sum across the chain is 0 or
    * 1), so per-group sign sums ARE the group counts. One shuffle on
    * the group keys; groups netting zero leave the summary, matching
    * [[graft.operators.IncrementalAgg]]'s recompute contract. */
  def readCounts(spark: SparkSession, viewRoot: String,
      groupVars: Seq[String], countCol: String = "n"): DataFrame = {
    require(!groupVars.contains(countCol),
      s"count column '$countCol' collides with a group variable — " +
        "pass countCol explicitly")
    // a union view's counts are per-binding supports, not ±1 signs —
    // fold the supports first, then count present bindings per group
    if (definitionOf(viewRoot).shape.isInstanceOf[UnionBgp])
      return readUnionCounts(spark, viewRoot)
        .groupBy(groupVars.map(col): _*)
        .agg(count(lit(1)).as(countCol))
    // same contiguity gate as read(): a gapped/overlapping chain would
    // otherwise sum ±1 signs over the wrong segment set SILENTLY
    val frames =
      Rows.frames(spark, viewRoot, Rows.at(viewRoot, lastSynced(viewRoot)))
    val gcols = groupVars.map(col)
    val signed = (frames.head.select(gcols :+ lit(1L).as("__sgn"): _*) +:
      frames.tail.map(_.select(gcols :+ when(col("__op") === "a", 1L)
        .otherwise(-1L).as("__sgn"): _*))).reduce(_.unionByName(_))
    signed.groupBy(gcols: _*).agg(sum("__sgn").as(countCol))
      .filter(col(countCol) =!= 0L)
  }

  /** Steady-state retention policy — run on the maintenance cadence:
    * compacts only when the fold chain is deep, so syncs stay
    * O(|Δview|) and the O(|view|) rewrite amortizes across the window
    * (the store's vacuumIfDeep / the mirror's compact-at-depth shape). */
  def compactIfDeep(spark: SparkSession, viewRoot: String,
      maxChain: Int = 8): Boolean =
    if (segmentCount(viewRoot) > maxChain) {
      compact(spark, viewRoot); true
    } else false

  /** Fold the chain into a fresh base at the synced head and drop the
    * replaced entries ([[graft.sources.VersionChain.compact]]) — bounds
    * read-side fold width. A path view's edge-set chain compacts
    * alongside, at the same head. */
  def compact(spark: SparkSession, viewRoot: String): Unit = {
    val head = lastSynced(viewRoot)
    val shape = definitionOf(viewRoot).shape
    Rows.compact(viewRoot, head)(tmp => (shape match {
      case _: UnionBgp => readUnionCountsAt(spark, viewRoot, head)
      case _ => cachedFold(spark, Rows, viewRoot, viewRoot, head)
    }).write.parquet(tmp))
    if (shape.isInstanceOf[ExprPath])
      Edges.compact(viewRoot, head)(tmp =>
        readEdgesAt(spark, viewRoot, head).write.parquet(tmp))
  }

  // ---- persisted AGGREGATE views: the summary's own segment lifecycle

  private def writeMetaAgg(root: String, groupVars: Seq[String],
      countCol: String, sums: Seq[(String, String)],
      exts: Seq[(String, String, String)]): Unit = {
    // count-only/SUM summaries keep the round-7 "agg" head; extremum
    // summaries write "aggx" with an explicit sums arity so the pair
    // list and the (out, src, fn) triple list parse unambiguously
    val head = (if (exts.isEmpty)
      Seq("mode", "agg", b64(countCol)) ++
        sums.flatMap { case (out, src) => Seq(b64(out), b64(src)) }
    else
      Seq("mode", "aggx", b64(countCol), sums.size.toString) ++
        sums.flatMap { case (out, src) => Seq(b64(out), b64(src)) } ++
        exts.flatMap { case (out, src, fn) => Seq(b64(out), b64(src), fn) })
      .mkString("\t")
    val lines = head +: groupVars.map(b64)
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      lines.mkString("\n"))
  }

  /** The persisted AGGREGATE-view definition: (groupVars, countCol,
    * sum measures as (outCol, bindingVar), extremum/avg measures as
    * (outCol, bindingVar, "min"|"max"|"avg")). */
  def definitionAgg(root: String): (Seq[String], String,
      Seq[(String, String)], Seq[(String, String, String)]) = {
    val lines = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").toSeq
    val (cc, sums, exts) = lines.head.split("\t").toSeq match {
      case Seq("mode", "agg", b, rest @ _*) =>
        require(rest.size % 2 == 0,
          s"corrupt aggregate-view meta under $root")
        (unb64(b), rest.grouped(2).map {
          case Seq(o, s) => (unb64(o), unb64(s)) }.toSeq,
          Seq.empty[(String, String, String)])
      case Seq("mode", "aggx", b, n, rest @ _*) =>
        val nSums = n.toInt
        val (sp, ep) = rest.splitAt(nSums * 2)
        require(ep.size % 3 == 0,
          s"corrupt aggregate-view meta under $root")
        (unb64(b), sp.grouped(2).map {
          case Seq(o, s) => (unb64(o), unb64(s)) }.toSeq,
          ep.grouped(3).map {
            case Seq(o, s, f) => (unb64(o), unb64(s), f) }.toSeq)
      case _ => throw new IllegalArgumentException(
        s"not an aggregate view under $root")
    }
    (lines.tail.map(unb64), cc, sums, exts)
  }

  /** A SUM measure over a binding column: long-cast with a LOUD failure
    * on a non-integer lexical form — a silent null would sum as a
    * dropped value and the maintained summary would diverge from the
    * recompute with no signal (raise_error is codegen'd: free on clean
    * data). Integer-only is [[graft.operators.IncrementalAgg]]'s
    * exactness discipline — long sums are combine-order-independent
    * where double sums are not. */
  private[rdf] def longMeasure(src: String): Column = {
    // try_cast, not cast: the ANSI cast would throw its own error before
    // the guard runs — this way the failure names the measure
    val cast = expr(s"try_cast(`$src` AS long)")
    when(col(src).isNotNull && cast.isNull,
      raise_error(concat(
        lit(s"non-integer value in SUM measure over '$src': "),
        col(src))).cast("long"))
      .otherwise(cast)
  }

  /** The segment/base grain of a summary: extremum measures (MIN/MAX)
    * are not additive under deletes — a deleted extremum needs the
    * runner-up — so their summaries persist per-(group, VALUE) support
    * counts (the value variables join the segment keys) and the read
    * takes the extremum over values with live support. COUNT/SUM/AVG
    * stay exact at that finer grain because they re-sum. */
  private def fineKeys(groupVars: Seq[String],
      exts: Seq[(String, String, String)]): Seq[String] =
    groupVars ++ exts.collect { case (_, src, fn) if fn != "avg" => src }
      .distinct.filterNot(groupVars.contains)

  /** AVG is served as an exact integer SUM over the live COUNT (one
    * IEEE division at read); the sum rides a hidden persisted measure. */
  private def persistedSums(sums: Seq[(String, String)],
      exts: Seq[(String, String, String)]): Seq[(String, String)] =
    sums ++ exts.collect { case (out, src, "avg") => (s"__avg_$out", src) }

  /** Bootstrap a PERSISTED grouped-count summary over a maintained view:
    * the base snapshot is [[readCounts]] at the view's current coverage
    * (the only time the summary is derived by folding the view); after
    * this, [[syncAgg]] advances it from the view's delta SEGMENTS alone
    * — a dashboard summary over a corpus-sized view is maintained and
    * served without ever refolding the binding set. Layout:
    * (groupVars..., countCol, sumCols...).
    *
    * `sums` adds grouped SUM measures, each `(outCol, bindingVar)` =
    * SUM of the binding variable's integer value ([[longMeasure]]'s
    * loud-cast discipline). Sums are additive, so [[syncAgg]] maintains
    * them from the view's delta segments exactly like the count — the
    * only difference is the bootstrap, which must fold the binding
    * VALUES once (count-only summaries fold ±1 signs instead).
    *
    * `exts` adds MIN/MAX/AVG measures, each `(outCol, bindingVar, fn)`.
    * MIN/MAX are NOT additive — deleting the current extremum needs the
    * runner-up — so the summary's persisted grain widens to
    * per-(group, extremum-value) support counts ([[fineKeys]]): the
    * delete of an extremum nets its value's support to zero and the
    * read's `support > 0` gate reveals the runner-up exactly, with no
    * rescan of the view. Segment size is O(distinct changed value
    * combos), still Δ-bounded. AVG = hidden SUM / COUNT, both exact
    * integers, divided once at read ([[persistedSums]]). */
  def createAgg(spark: SparkSession, viewRoot: String, aggRoot: String,
      groupVars: Seq[String], countCol: String = "n",
      sums: Seq[(String, String)] = Nil,
      exts: Seq[(String, String, String)] = Nil): Int = {
    val v = lastSynced(viewRoot)
    require(v > 0, s"no view under $viewRoot — create() before createAgg()")
    require(exts.forall(e => Set("min", "max", "avg")(e._3)),
      s"extremum measures are min/max/avg, got ${exts.map(_._3)}")
    val outs = countCol +: (sums.map(_._1) ++ exts.map(_._1))
    require(outs.distinct.size == outs.size &&
      !outs.exists(groupVars.contains),
      "summary output columns must be distinct and disjoint from the " +
        "group variables")
    writeMetaAgg(aggRoot, groupVars, countCol, sums, exts)
    val keys = fineKeys(groupVars, exts)
    val psums = persistedSums(sums, exts)
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(aggRoot, v)) {
      if (psums.isEmpty && exts.isEmpty)
        readCounts(spark, viewRoot, groupVars, countCol)
      else read(spark, viewRoot).groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(countCol), psums.map { case (o, s) =>
          sum(longMeasure(s)).as(o) }: _*)
    }
    v
  }

  /** Fold the view's delta segments above the summary's coverage into
    * ONE summary segment of per-group NET count changes (segments are
    * net view deltas, so ±1 signs sum to the group's exact change —
    * [[graft.operators.IncrementalAgg]]'s rule as a persisted artifact).
    * O(|Δview|) read and write; the view's BASE is never touched.
    *
    * Retention contract (the store/mirror shape): syncAgg before
    * compact(view) drops the segments it needs — a compacted-away range
    * fails loudly here, never a silently stale summary. */
  def syncAgg(spark: SparkSession, viewRoot: String,
      aggRoot: String): Int = {
    val (gv0, countCol, sums0, exts) = definitionAgg(aggRoot)
    // extremum summaries sync at their persisted grain: the same net
    // ±1 rule over (group, value) keys — nothing else changes
    val gv = fineKeys(gv0, exts)
    val sums = persistedSums(sums0, exts)
    val aggLast = lastSynced(aggRoot)
    require(aggLast > 0, s"no aggregate view under $aggRoot — createAgg()")
    val viewLast = lastSynced(viewRoot)
    if (viewLast <= aggLast) return aggLast
    val vsegs = Rows.since(viewRoot, aggLast)
    val gcols = gv.map(col)
    val sgn = when(col("__op") === "a", 1L).otherwise(-1L)
    // a group whose COUNT nets to zero can still carry a nonzero SUM
    // change (a binding replaced by one with a different value), so the
    // drop-empty-delta filter must test every measure, not just the count
    val live = sums.map { case (o, _) => col(o) =!= 0L }
      .foldLeft(col(countCol) =!= 0L)(_ || _)
    val delta = Rows.segFrames(spark, viewRoot, vsegs).reduce(_.unionByName(_))
      .select(gcols ++ (sgn.as("__sgn") +: sums.map { case (o, s) =>
        (sgn * longMeasure(s)).as(o) }): _*)
      .groupBy(gcols: _*).agg(sum("__sgn").as(countCol),
        sums.map { case (o, _) => sum(o).as(o) }: _*)
      .filter(live)
    graft.sources.AtomicStore.materializeParquet(
      Rows.segPath(aggRoot, aggLast, viewLast)) {
      // summary deltas are O(distinct changed groups): one output file
      delta.repartition(1)
    }
    viewLast
  }

  /** The maintained summary: base counts plus net segment changes,
    * summed per group in one shuffle over SUMMARY-sized frames — the
    * binding view is never opened. Zero-netting groups leave, matching
    * the recompute (which has no empty groups). Same contiguity gate as
    * every read path. */
  def readAgg(spark: SparkSession, aggRoot: String): DataFrame =
    readAggAt(spark, aggRoot, lastSynced(aggRoot))

  /** TIME-TRAVEL summary read — "what did the dashboard show at
    * version v?" ([[readAt]]'s contract on the summary chain). */
  def readAggAt(spark: SparkSession, aggRoot: String,
      v: Int): DataFrame = {
    val (gv, countCol, sums, exts) = definitionAgg(aggRoot)
    val link = Rows.at(aggRoot, v)
    val keys = fineKeys(gv, exts)
    val psums = persistedSums(sums, exts)
    // level 1: net support + sums per persisted (group[, value]) combo.
    // NO liveness filter here — a combo whose support nets to zero can
    // still carry a nonzero SUM delta (a binding swapped for one with
    // the same extremum value but a different sum value); dropping it
    // would lose that contribution. Liveness gates only what follows.
    val fine = Rows.frames(spark, aggRoot, link).reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*).agg(sum(countCol).as(countCol),
        psums.map { case (o, _) => sum(o).as(o) }: _*)
    if (exts.isEmpty)
      // count/SUM grain IS the group grain: one aggregation, done
      fine.filter(col(countCol) =!= 0L)
    else {
      // level 2 (summary-sized): extremums over values with LIVE
      // support — the deleted-extremum case resolves to the runner-up
      // right here, with no rescan of the binding view
      val live = col(countCol) > 0L
      val measures =
        sum(countCol).as(countCol) +:
          (sums.map { case (o, _) => sum(o).as(o) } ++
            exts.map {
              case (o, s, "min") => min(when(live, longMeasure(s))).as(o)
              case (o, s, "max") => max(when(live, longMeasure(s))).as(o)
              case (o, _, _) => // avg: exact integer sum / live count
                (sum(s"__avg_$o").cast("double") /
                  sum(countCol).cast("double")).as(o)
            })
      fine.groupBy(gv.map(col): _*).agg(measures.head, measures.tail: _*)
        .filter(col(countCol) =!= 0L)
    }
  }

  /** The grouped-summary view fragment from SPARQL text:
    * `SELECT ?g1 … (COUNT(*) AS ?n) [(SUM(?v) AS ?s) …] WHERE
    * { <conjunctive BGP> } GROUP BY ?g1 …` →
    * (patterns, groupVars, count alias, sum measures). The same
    * conjunctive-only discipline as [[patternsFromSparql]]; the
    * admitted aggregates are exactly ONE COUNT(*) (the group-liveness
    * measure [[syncAgg]] requires) plus any number of SUM/MIN/MAX/AVG
    * over pattern variables — SUM/AVG because integer sums are
    * additive, MIN/MAX because [[createAgg]] widens the persisted grain
    * to per-(group, value) support counts, which makes the deleted-
    * extremum case exact. The GROUP BY variables must be pattern
    * variables and the projection must name exactly the group
    * variables plus the aggregate aliases. */
  def aggPatternsFromSparql(text: String): (Seq[TP], Seq[String], String,
      Seq[(String, String)], Seq[(String, String, String)]) = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view definitions are single-block SELECTs")
    val b = q.branches.head
    require(b.optionals.isEmpty && b.filters.isEmpty && b.minuses.isEmpty &&
      b.values.isEmpty && b.binds.isEmpty && b.paths.isEmpty &&
      b.exists.isEmpty && b.subqueries.isEmpty && b.graphs.isEmpty &&
      b.unions.isEmpty && b.services.isEmpty && b.where.nonEmpty,
      "a maintainable view body is a plain BGP — compose OPTIONAL/" +
        "FILTER/UNION/paths downstream of the materialization")
    require(!q.distinct && q.orderKeys.isEmpty && q.limit.isEmpty &&
      q.offset.isEmpty && q.having.isEmpty && q.selectBinds.isEmpty,
      "aggregate view definitions take no solution modifiers, HAVING " +
        "or select expressions")
    val (counts, rest) = q.selectAggs.partition(
      _._2 == Sparql.EAgg("COUNT", None, false, None, None))
    require(counts.size == 1,
      "aggregate views need exactly one `(COUNT(*) AS ?alias)` — the " +
        "group-liveness measure syncAgg maintains")
    val alias = counts.head._1
    val (sumAggs, extAggs) = rest.partition(_._2.fn == "SUM")
    val sums = sumAggs.map {
      case (a, Sparql.EAgg("SUM", Some(v), false, None, None)) => (a, v)
      case (a, other) => throw new IllegalArgumentException(
        s"?$a: SUM measures take a plain pattern variable, got " +
          s"${other.fn}${if (other.distinct) " DISTINCT" else ""}")
    }
    val exts = extAggs.map {
      case (a, Sparql.EAgg(fn, Some(v), false, None, None))
          if Set("MIN", "MAX", "AVG")(fn) => (a, v, fn.toLowerCase)
      case (a, other) => throw new IllegalArgumentException(
        s"aggregate views maintain COUNT(*), SUM, MIN, MAX and AVG over " +
          s"pattern variables — ?$a is ${other.fn}${
            if (other.distinct) " DISTINCT" else ""}, which is not " +
          "maintainable from deltas; compose it over the binding " +
          "view's reads")
    }
    require(q.groupVars.nonEmpty,
      "aggregate view definitions need GROUP BY")
    val vars = b.where.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect { case V(n) => n }.distinct
    require(q.groupVars.forall(vars.contains),
      s"GROUP BY variables must be pattern variables (${
        q.groupVars.filterNot(vars.contains).mkString(", ")} are not)")
    val measureVars = sums.map(_._2) ++ exts.map(_._2)
    require(measureVars.forall(vars.contains),
      s"aggregate arguments must be pattern variables (${
        measureVars.filterNot(vars.contains).mkString(", ")} are not)")
    require(q.projection.toSet ==
      (q.groupVars ++ (alias +: (sums.map(_._1) ++ exts.map(_._1)))).toSet,
      "project exactly the GROUP BY variables plus the aggregate aliases")
    (b.where, q.groupVars, alias, sums, exts)
  }

  /** The full store→view→summary pipeline from ONE SPARQL text
    * ([[aggPatternsFromSparql]]'s fragment): creates the binding view
    * AND its persisted summary; returns the bootstrapped version.
    * Thereafter [[sync]] + [[syncAgg]] advance both incrementally. */
  def createAggFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, aggRoot: String, text: String,
      graph: String = ""): Int = {
    val (pats, groupVars, countCol, sums, exts) =
      aggPatternsFromSparql(text)
    create(spark, storeRoot, viewRoot, pats, graph): Unit
    createAgg(spark, viewRoot, aggRoot, groupVars, countCol, sums, exts)
  }

  /** [[compactIfDeep]] for the summary chain. */
  def compactAggIfDeep(spark: SparkSession, aggRoot: String,
      maxChain: Int = 8): Boolean =
    if (segmentCount(aggRoot) > maxChain) {
      compactAgg(spark, aggRoot); true
    } else false

  /** Fold the summary chain into a fresh base at its synced head — at
    * the PERSISTED grain ([[fineKeys]]): an extremum summary's base must
    * keep its per-(group, value) support counts or future deletes lose
    * the runner-up. Kept rows are any with live support OR a nonzero
    * sum (the swapped-binding corner readAggAt documents). */
  def compactAgg(spark: SparkSession, aggRoot: String): Unit = {
    val (gv, countCol, sums, exts) = definitionAgg(aggRoot)
    val keys = fineKeys(gv, exts)
    val psums = persistedSums(sums, exts)
    val head = lastSynced(aggRoot)
    Rows.compact(aggRoot, head) { tmp =>
      val live = psums.map { case (o, _) => col(o) =!= 0L }
        .foldLeft(col(countCol) =!= 0L)(_ || _)
      Rows.frames(spark, aggRoot, Rows.at(aggRoot, head))
        .reduce(_.unionByName(_))
        .groupBy(keys.map(col): _*).agg(sum(countCol).as(countCol),
          psums.map { case (o, _) => sum(o).as(o) }: _*)
        .filter(live).write.parquet(tmp)
    }
  }
}
