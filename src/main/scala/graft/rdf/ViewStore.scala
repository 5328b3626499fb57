package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED materialized BGP view kept in sync with a delta-log
  * [[QuadStore]] — [[BgpView]]'s delta-join rule given a persisted
  * lifecycle. The view, its summaries and a path view's edge sets are
  * each one [[graft.sources.VersionChain]] (naming, contiguity checks,
  * publish-then-prune compaction live there):
  *
  *  - `meta.tsv` — the view definition (graph slice + patterns),
  *    written ONCE at [[create]]; lastSynced is derived from entry
  *    names, never from mutable metadata (crash-safe by construction).
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

  // ---- view definition metadata: one-shot, base64-armored TSV --------

  private def writeMeta(root: String, graph: String,
      patterns: Seq[TP]): Unit = {
    val lines = s"graph\t${b64(graph)}" +:
      patterns.map(tp =>
        Seq(termEnc(tp.s), termEnc(tp.p), termEnc(tp.o)).mkString("\t"))
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      lines.mkString("\n"))
  }

  private def writeMetaQuads(root: String,
      patterns: Seq[(TP, Term)]): Unit = {
    val lines = "mode\tquads" +:
      patterns.map { case (tp, g) =>
        Seq(termEnc(tp.s), termEnc(tp.p), termEnc(tp.o), termEnc(g))
          .mkString("\t")
      }
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      lines.mkString("\n"))
  }

  /** Is this a quad-pattern (GRAPH-aware) view? */
  def isQuadView(root: String): Boolean = mode(root) == "quads"

  /** The view's maintenance mode: "triple" (the original conjunctive
    * slice view), "quads", "agg", "union", "optional" or "path" — every
    * lifecycle entry point dispatches on this, so one `sync`/`read`/
    * `compact` surface serves all view shapes. */
  def mode(root: String): String = {
    val head = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").head.split("\t", -1)
    if (head(0) == "graph") "triple" else head(1)
  }

  /** The persisted TRIPLE-view definition: (graph slice, patterns). */
  def definition(root: String): (String, Seq[TP]) = {
    val lines = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").toSeq
    // -1: the default graph encodes to an EMPTY field, which a plain
    // split would drop
    val g = lines.head.split("\t", -1) match {
      case Array("graph", b) => unb64(b)
      case _ => throw new IllegalArgumentException(
        s"not a triple-slice view under $root — use definitionQuads")
    }
    val pats = lines.tail.map { l =>
      val Array(s, p, o) = l.split("\t")
      TP(termDec(s), termDec(p), termDec(o))
    }
    (g, pats)
  }

  /** The persisted QUAD-view definition. */
  def definitionQuads(root: String): Seq[(TP, Term)] = {
    val lines = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").toSeq
    require(lines.head == "mode\tquads",
      s"not a quad view under $root — use definition")
    lines.tail.map { l =>
      val Array(s, p, o, g) = l.split("\t")
      (TP(termDec(s), termDec(p), termDec(o)), termDec(g))
    }
  }

  // ---- beyond the conjunctive fragment: union / optional / path ------

  private def writeMetaUnion(root: String, graph: String,
      branches: Seq[Seq[TP]]): Unit = {
    val lines = s"mode\tunion\t${b64(graph)}" +:
      branches.zipWithIndex.flatMap { case (pats, i) =>
        pats.map(tp => (Seq(i.toString) ++
          Seq(termEnc(tp.s), termEnc(tp.p), termEnc(tp.o))).mkString("\t"))
      }
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      lines.mkString("\n"))
  }

  /** The persisted UNION-view definition: (graph slice, branches). */
  def definitionUnion(root: String): (String, Seq[Seq[TP]]) = {
    val lines = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").toSeq
    val g = lines.head.split("\t", -1) match {
      case Array("mode", "union", b) => unb64(b)
      case _ => throw new IllegalArgumentException(
        s"not a union view under $root")
    }
    val branches = lines.tail.map { l =>
      val Array(i, s, p, o) = l.split("\t")
      (i.toInt, TP(termDec(s), termDec(p), termDec(o)))
    }.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    (g, branches)
  }

  private def writeMetaOptional(root: String, graph: String,
      left: Seq[TP], right: Seq[TP]): Unit = {
    val enc = (tag: String, pats: Seq[TP]) => pats.map(tp =>
      (Seq(tag) ++ Seq(termEnc(tp.s), termEnc(tp.p), termEnc(tp.o)))
        .mkString("\t"))
    val lines = s"mode\toptional\t${b64(graph)}" +:
      (enc("L", left) ++ enc("R", right))
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      lines.mkString("\n"))
  }

  /** The persisted OPTIONAL-view definition: (graph, left, right). */
  def definitionOptional(root: String): (String, Seq[TP], Seq[TP]) = {
    val lines = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").toSeq
    val g = lines.head.split("\t", -1) match {
      case Array("mode", "optional", b) => unb64(b)
      case _ => throw new IllegalArgumentException(
        s"not an optional view under $root")
    }
    val pats = lines.tail.map { l =>
      val Array(tag, s, p, o) = l.split("\t")
      (tag, TP(termDec(s), termDec(p), termDec(o)))
    }
    (g, pats.collect { case ("L", tp) => tp },
      pats.collect { case ("R", tp) => tp })
  }

  private def writeMetaPath(root: String, graph: String, srcVar: String,
      dstVar: String, fwd: Seq[String], inv: Seq[String]): Unit = {
    val lines = Seq(
      s"mode\tpath\t${b64(graph)}",
      (Seq("vars", b64(srcVar), b64(dstVar))).mkString("\t"),
      (Seq("fwd") ++ fwd.map(b64)).mkString("\t"),
      (Seq("inv") ++ inv.map(b64)).mkString("\t"))
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      lines.mkString("\n"))
  }

  /** The persisted PATH-view definition:
    * (graph, srcVar, dstVar, forward preds, inverse preds). */
  def definitionPath(root: String)
      : (String, String, String, Seq[String], Seq[String]) = {
    val lines = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").toSeq
    val g = lines.head.split("\t", -1) match {
      case Array("mode", "path", b) => unb64(b)
      case _ => throw new IllegalArgumentException(
        s"not a path view under $root")
    }
    val byTag = lines.tail.map { l =>
      val parts = l.split("\t", -1).toSeq
      (parts.head, parts.tail)
    }.toMap
    val Seq(sv, dv) = byTag("vars").map(unb64)
    (g, sv, dv, byTag("fwd").map(unb64), byTag("inv").map(unb64))
  }

  private def writeMetaPathSeq(root: String, graph: String, srcVar: String,
      dstVar: String, steps: Seq[(Seq[String], Seq[String])]): Unit = {
    val lines = Seq(
      s"mode\tpathseq\t${b64(graph)}",
      (Seq("vars", b64(srcVar), b64(dstVar))).mkString("\t")) ++
      steps.map { case (fwd, inv) =>
        (Seq("step", fwd.size.toString) ++ fwd.map(b64) ++ inv.map(b64))
          .mkString("\t")
      }
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      lines.mkString("\n"))
  }

  /** The persisted SEQUENCE-path-view definition:
    * (graph, srcVar, dstVar, steps), each step a (forward, inverse)
    * predicate alternation. */
  def definitionPathSeq(root: String)
      : (String, String, String, Seq[(Seq[String], Seq[String])]) = {
    val lines = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").toSeq
    val g = lines.head.split("\t", -1) match {
      case Array("mode", "pathseq", b) => unb64(b)
      case _ => throw new IllegalArgumentException(
        s"not a sequence-path view under $root")
    }
    val Seq(sv, dv) = lines(1).split("\t", -1).toSeq match {
      case Seq("vars", a, b) => Seq(unb64(a), unb64(b))
      case other => throw new IllegalArgumentException(
        s"corrupt pathseq meta under $root: $other")
    }
    val steps = lines.drop(2).map { l =>
      l.split("\t", -1).toSeq match {
        case Seq("step", n, rest @ _*) =>
          val (f, i) = rest.splitAt(n.toInt)
          (f.map(unb64), i.map(unb64))
        case other => throw new IllegalArgumentException(
          s"corrupt pathseq step under $root: $other")
      }
    }
    (g, sv, dv, steps)
  }

  private def writeMetaPathExpr(root: String, graph: String,
      srcVar: String, dstVar: String, text: String): Unit = {
    val lines = Seq(
      s"mode\tpathexpr\t${b64(graph)}",
      Seq("vars", b64(srcVar), b64(dstVar)).mkString("\t"),
      Seq("text", b64(text)).mkString("\t"))
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      lines.mkString("\n"))
  }

  /** The persisted GENERAL path-view definition: (graph, srcVar, dstVar,
    * inner path tree). The stored form is the defining SPARQL text — the
    * parser stays the single source of truth for its meaning. */
  def definitionPathExpr(root: String): (String, String, String, Path) = {
    val lines = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").toSeq
    val g = lines.head.split("\t", -1) match {
      case Array("mode", "pathexpr", b) => unb64(b)
      case _ => throw new IllegalArgumentException(
        s"not a pathexpr view under $root")
    }
    val byTag = lines.tail.map { l =>
      val parts = l.split("\t", -1).toSeq
      (parts.head, parts.tail)
    }.toMap
    val Seq(sv, dv) = byTag("vars").map(unb64)
    val (psv, pdv, inner) = pathExprFromSparql(unb64(byTag("text").head))
    require(psv == sv && pdv == dv, s"corrupt pathexpr meta under $root")
    (g, sv, dv, inner)
  }

  /** The GENERAL path-view fragment from SPARQL text:
    * `SELECT … WHERE { ?src (EXPR)+ ?dst }` where EXPR is ANY tree of
    * sequences, alternations and (inverse) edges — `((p/q)|r)+`, nested
    * shapes, anything whose edge set is joins-and-unions (the round-10
    * generalization; [[pathFromSparql]] and [[pathSeqFromSparql]] are its
    * linear special cases). Closures (`+ * ?`) and negated property sets
    * INSIDE the expression keep the loud rejection: their edge sets are
    * themselves closures / complements, not joins. */
  def pathExprFromSparql(text: String): (String, String, Path) = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view definitions are single-block SELECTs")
    val b = q.branches.head
    require(b.where.isEmpty && b.paths.size == 1,
      "a maintainable path view is exactly one path pattern")
    bareBody(b, "a maintainable path view is exactly one path pattern",
      allowPaths = true)
    noModifiers(q)
    val (sv, dv, inner) = b.paths.head match {
      case (V(s), PPlus(in), V(d)) => (s, d, in)
      case (_, p, _) => throw new IllegalArgumentException(
        s"a maintainable path view is `?src (expr)+ ?dst`, got $p")
    }
    validatePathExpr(inner)
    require(sv != dv, "path view endpoints must be distinct variables")
    fullBinding(q, Seq(sv, dv).sorted)
    (sv, dv, inner)
  }

  private def validatePathExpr(p: Path): Unit = p match {
    case PEdge(_: String) =>
    case PInv(PEdge(_: String)) =>
    case PSeq(l, r) => validatePathExpr(l); validatePathExpr(r)
    case PAlt(l, r) => validatePathExpr(l); validatePathExpr(r)
    // a NESTED one-or-more (round 11): its pair set persists as one
    // more tree node and maintains by the closure's own DRed/semi-naive
    // rule over the inner operand's deltas — `(p+/q)|r` and friends
    case PPlus(in) => validatePathExpr(in)
    case other => throw new IllegalArgumentException(
      s"a maintainable path expression composes sequences, alternations, " +
        s"(inverse) edges and nested `+` closures — got $other " +
        "(`*`/`?`/negated sets compose downstream of the materialization)")
  }

  /** Extract a maintainable pattern set from SPARQL text: a single
    * `SELECT * WHERE { <plain BGP> }` (or a projection naming every
    * pattern variable). Anything beyond the BGP fragment — OPTIONAL,
    * FILTER, UNION, paths, GRAPH, aggregation, modifiers — is rejected
    * loudly: the delta-join rule maintains conjunctive views; richer
    * shapes compose DOWNSTREAM of the materialization (filters as reads
    * over it, projections/aggregates via IncrementalAgg on the delta). */
  def patternsFromSparql(text: String): Seq[TP] = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view definitions are single-block SELECTs")
    val b = q.branches.head
    require(b.optionals.isEmpty && b.filters.isEmpty && b.minuses.isEmpty &&
      b.values.isEmpty && b.binds.isEmpty && b.paths.isEmpty &&
      b.exists.isEmpty && b.subqueries.isEmpty && b.graphs.isEmpty &&
      b.unions.isEmpty && b.services.isEmpty && b.where.nonEmpty,
      "a maintainable view body is a plain BGP — compose OPTIONAL/" +
        "FILTER/UNION/paths/aggregation downstream of the materialization")
    require(!q.distinct && q.orderKeys.isEmpty && q.limit.isEmpty &&
      q.offset.isEmpty && q.selectAggs.isEmpty && q.groupVars.isEmpty &&
      q.having.isEmpty && q.selectBinds.isEmpty,
      "view definitions take no solution modifiers or aggregation")
    val vars = b.where.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect { case V(n) => n }.distinct
    require(q.projection == Seq("*") || q.projection.toSet == vars.toSet,
      s"the materialized view holds the FULL binding (${
        vars.mkString(", ")}) — project or aggregate over the view's " +
        "reads, or via IncrementalAgg on its delta")
    b.where
  }

  /** [[create]] from SPARQL text ([[patternsFromSparql]]'s fragment). */
  def createFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    create(spark, storeRoot, viewRoot, patternsFromSparql(text), graph)

  /** The FILTERED-view fragment: a plain conjunctive BGP plus constant
    * row-local FILTER constraints over its own variables — "customers
    * in BUILDING with acctbal > X" as a maintained view. Row-local
    * filters COMMUTE with the counting delta rule (a binding passes or
    * fails independent of every other row), so the same predicate
    * restricts the bootstrap and every delta feed identically; anything
    * richer (EXISTS, aggregates, unbound vars) stays a loud rejection. */
  def filteredPatternsFromSparql(
      text: String): (Seq[TP], Seq[Sparql.Expr]) = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view definitions are single-block SELECTs")
    val b = q.branches.head
    require(b.optionals.isEmpty && b.minuses.isEmpty &&
      b.values.isEmpty && b.binds.isEmpty && b.paths.isEmpty &&
      b.exists.isEmpty && b.subqueries.isEmpty && b.graphs.isEmpty &&
      b.unions.isEmpty && b.services.isEmpty && b.where.nonEmpty,
      "a maintainable filtered view is a plain BGP plus row-local " +
        "FILTERs — compose OPTIONAL/UNION/paths/aggregation downstream " +
        "of the materialization")
    require(b.filters.nonEmpty,
      "no FILTER in the definition — use createFromSparql for plain " +
        "conjunctive views")
    noModifiers(q)
    val vars = tpVars(b.where)
    b.filters.foreach { f =>
      val free = Sparql.filterVars(f).filterNot(vars.contains)
      require(free.isEmpty,
        s"FILTER references ${free.map("?" + _).mkString(", ")} which " +
          "the view's BGP does not bind — constant row-local " +
          "constraints only")
    }
    require(q.projection == Seq("*") || q.projection.toSet == vars.toSet,
      s"the materialized view holds the FULL binding (${
        vars.mkString(", ")}) — project or aggregate over the view's " +
        "reads, or via IncrementalAgg on its delta")
    (b.where, b.filters)
  }

  // the filtered view's meta persists the DEFINITION TEXT — the filter
  // expressions re-parse from it at every sync (the pathexpr precedent)
  private def writeMetaFiltered(root: String, graph: String,
      text: String): Unit =
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      Seq("mode", "filtered", b64(graph), b64(text)).mkString("\t"))

  /** The persisted FILTERED-view definition:
    * (graph slice, patterns, filter expressions). */
  def definitionFiltered(
      root: String): (String, Seq[TP], Seq[Sparql.Expr]) = {
    val head = graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\n").head.split("\t", -1)
    head match {
      case Array("mode", "filtered", g, t) =>
        val (pats, fs) = filteredPatternsFromSparql(unb64(t))
        (unb64(g), pats, fs)
      case _ => throw new IllegalArgumentException(
        s"not a filtered view under $root")
    }
  }

  /** Bootstrap a FILTERED view — [[filteredPatternsFromSparql]]'s
    * fragment; segments are net a/d binding rows, the conjunctive delta
    * rule's output restricted by the same row-local predicate that
    * restricts the bootstrap. */
  def createFilteredFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int = {
    val (pats, fs) = filteredPatternsFromSparql(text)
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before createFiltered()"))
    writeMetaFiltered(viewRoot, graph, text)
    val cond = fs.map(Sparql.filterColumn).reduce(_ && _)
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(viewRoot, cur)) {
      BgpView.compute(slice(spark, storeRoot, cur, graph), pats)
        .filter(cond)
    }
    cur
  }

  /** The QUAD-view fragment from SPARQL text: plain patterns address
    * the default graph, `GRAPH term { patterns }` blocks carry their
    * graph term (constant or variable — a variable binds as a view
    * column). The same conjunctive-only discipline as
    * [[patternsFromSparql]]: graph blocks take bare BGP bodies, and
    * everything else is rejected loudly. */
  def quadPatternsFromSparql(text: String): Seq[(TP, Term)] = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view definitions are single-block SELECTs")
    val b = q.branches.head
    require(b.optionals.isEmpty && b.filters.isEmpty && b.minuses.isEmpty &&
      b.values.isEmpty && b.binds.isEmpty && b.paths.isEmpty &&
      b.exists.isEmpty && b.subqueries.isEmpty && b.unions.isEmpty &&
      b.services.isEmpty,
      "a maintainable view body is a conjunction of plain and GRAPH-" +
        "wrapped BGPs — compose the rest downstream of the materialization")
    val fromGraphs = b.graphs.flatMap { case (g, inner) =>
      require(inner.where.nonEmpty && inner.optionals.isEmpty &&
        inner.filters.isEmpty && inner.minuses.isEmpty &&
        inner.values.isEmpty && inner.binds.isEmpty &&
        inner.paths.isEmpty && inner.exists.isEmpty &&
        inner.subqueries.isEmpty && inner.graphs.isEmpty &&
        inner.unions.isEmpty && inner.services.isEmpty,
        "GRAPH blocks in view definitions take bare BGP bodies")
      inner.where.map(tp => (tp, g))
    }
    val plain = b.where.map(tp =>
      (tp, C(Quads.DefaultGraph): Term))
    val pats = plain ++ fromGraphs
    require(pats.nonEmpty, "empty view body")
    require(!q.distinct && q.orderKeys.isEmpty && q.limit.isEmpty &&
      q.offset.isEmpty && q.selectAggs.isEmpty && q.groupVars.isEmpty &&
      q.having.isEmpty && q.selectBinds.isEmpty,
      "view definitions take no solution modifiers or aggregation")
    val vars = pats.flatMap { case (tp, g) => Seq(tp.s, tp.p, tp.o, g) }
      .collect { case V(n) => n }.distinct
    require(q.projection == Seq("*") || q.projection.toSet == vars.toSet,
      s"the materialized view holds the FULL binding (${
        vars.mkString(", ")}) — project or aggregate over the view's " +
        "reads, or via IncrementalAgg on its delta")
    pats
  }

  /** [[createQuads]] from SPARQL text. */
  def createQuadsFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String): Int =
    createQuads(spark, storeRoot, viewRoot, quadPatternsFromSparql(text))

  // the shared loud rejections of the maintainable-fragment parsers
  private def noModifiers(q: Sparql.Query): Unit =
    require(!q.distinct && q.orderKeys.isEmpty && q.limit.isEmpty &&
      q.offset.isEmpty && q.selectAggs.isEmpty && q.groupVars.isEmpty &&
      q.having.isEmpty && q.selectBinds.isEmpty &&
      q.trailingValues.isEmpty,
      "view definitions take no solution modifiers or aggregation")
  private def bareBody(b: Sparql.Block, what: String,
      allowOptional: Boolean = false, allowPaths: Boolean = false): Unit =
    require((allowOptional || b.optionals.isEmpty) && b.filters.isEmpty &&
      b.minuses.isEmpty && b.values.isEmpty && b.binds.isEmpty &&
      (allowPaths || b.paths.isEmpty) && b.exists.isEmpty &&
      b.subqueries.isEmpty &&
      b.graphs.isEmpty && b.unions.isEmpty && b.services.isEmpty,
      s"$what — anything richer composes downstream of the " +
        "materialization")
  private def tpVars(pats: Seq[TP]): Seq[String] =
    pats.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect { case V(n) => n }.distinct
  private def fullBinding(q: Sparql.Query, vars: Seq[String]): Unit =
    require(q.projection == Seq("*") || q.projection.toSet == vars.toSet,
      s"the materialized view holds the FULL binding (${
        vars.mkString(", ")}) — project over the view's reads")

  /** The UNION-view fragment from SPARQL text: two or more top-level
    * `{ BGP } UNION { BGP }` branches over the SAME variable set. */
  def unionBranchesFromSparql(text: String): Seq[Seq[TP]] = {
    val q = Sparql.parse(text)
    require(!q.ask && q.construct.isEmpty && q.describe.isEmpty,
      "view definitions are SELECTs")
    require(q.branches.size >= 2,
      "a union view needs two or more UNION branches — use " +
        "createFromSparql for a single BGP")
    noModifiers(q)
    val branches = q.branches.map { b =>
      bareBody(b, "each union branch of a maintainable view is a " +
        "plain BGP")
      require(b.where.nonEmpty, "empty union branch")
      b.where
    }
    val per = branches.map(tpVars(_).toSet)
    require(per.forall(_ == per.head),
      "union view branches must bind the same variable set, got " +
        per.map(_.toSeq.sorted.mkString("{", ",", "}")).mkString(" vs "))
    fullBinding(q, per.head.toSeq.sorted)
    branches
  }

  /** [[createUnion]] from SPARQL text. */
  def createUnionFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    createUnion(spark, storeRoot, viewRoot,
      unionBranchesFromSparql(text), graph)

  /** The OPTIONAL-view fragment from SPARQL text: a plain required BGP
    * plus exactly one `OPTIONAL { BGP }` block → (left, right). */
  def optionalFromSparql(text: String): (Seq[TP], Seq[TP]) = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view definitions are single-block SELECTs")
    val b = q.branches.head
    bareBody(b, "a maintainable OPTIONAL view is a plain BGP plus one " +
      "OPTIONAL { BGP }", allowOptional = true)
    require(b.where.nonEmpty, "empty required body")
    require(b.optionals.size == 1, "exactly one OPTIONAL block")
    val ob = b.optionals.head
    require(ob.pats.nonEmpty && ob.paths.isEmpty && ob.filters.isEmpty,
      "the OPTIONAL body of a maintainable view is a bare BGP")
    noModifiers(q)
    fullBinding(q, tpVars(b.where ++ ob.pats).sorted)
    (b.where, ob.pats)
  }

  /** [[createOptional]] from SPARQL text. */
  def createOptionalFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int = {
    val (left, right) = optionalFromSparql(text)
    createOptional(spark, storeRoot, viewRoot, left, right, graph)
  }

  /** The PATH-view fragment from SPARQL text: exactly
    * `SELECT … WHERE { ?src (p1|…|^q1|…)+ ?dst }` — a one-or-more
    * closure over a LINEAR predicate alternation (linear in the triples,
    * so the edge-level delta is the alternation applied to the change
    * feed). Sequences/nesting inside the `+` are rejected loudly: their
    * edge sets are joins, whose deltas need the full conjunctive rule. */
  def pathFromSparql(text: String)
      : (String, String, Seq[String], Seq[String]) = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view definitions are single-block SELECTs")
    val b = q.branches.head
    require(b.where.isEmpty && b.paths.size == 1,
      "a maintainable path view is exactly one path pattern")
    bareBody(b, "a maintainable path view is exactly one path pattern",
      allowPaths = true)
    noModifiers(q)
    val (sv, dv, fwd, inv) = b.paths.head match {
      case (V(s), PPlus(inner), V(d)) =>
        val (f, i) = linearAlt(inner)
        (s, d, f, i)
      case (_, p, _) => throw new IllegalArgumentException(
        s"a maintainable path view is `?src (preds)+ ?dst`, got $p — " +
          "`*`'s zero-hop row set and constant endpoints compose " +
          "downstream of the materialization")
    }
    require(sv != dv, "path view endpoints must be distinct variables")
    fullBinding(q, Seq(sv, dv).sorted)
    (sv, dv, fwd, inv)
  }

  private def linearAlt(p: Path): (Seq[String], Seq[String]) = p match {
    case PEdge(v: String) => (Seq(v), Nil)
    case PInv(PEdge(v: String)) => (Nil, Seq(v))
    case PAlt(l, r) =>
      val (lf, li) = linearAlt(l)
      val (rf, ri) = linearAlt(r)
      (lf ++ rf, li ++ ri)
    case other => throw new IllegalArgumentException(
      s"a maintainable path view closes over a LINEAR predicate " +
        s"alternation (p|…|^q|…), got $other — for `p/q` SEQUENCES use " +
        "the pathseq mode (createPathSeqFromSparql) and for any nested " +
        "seq/alt tree the pathexpr mode (createPathExprFromSparql); " +
        "their edge deltas run the conjunctive rule")
  }

  /** `?src (s1/s2/…)+ ?dst` where each `s_i` is a linear predicate
    * alternation — the SEQUENCE generalization of [[pathFromSparql]]
    * (which is the one-step special case). Nested `+`/`*`/`?` inside a
    * step stay rejected: their step-edge sets are themselves closures,
    * not joins. */
  def pathSeqFromSparql(text: String)
      : (String, String, Seq[(Seq[String], Seq[String])]) = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view definitions are single-block SELECTs")
    val b = q.branches.head
    require(b.where.isEmpty && b.paths.size == 1,
      "a maintainable path view is exactly one path pattern")
    bareBody(b, "a maintainable path view is exactly one path pattern",
      allowPaths = true)
    noModifiers(q)
    val (sv, dv, steps) = b.paths.head match {
      case (V(s), PPlus(inner), V(d)) =>
        (s, d, flattenSeq(inner).map(linearAlt))
      case (_, p, _) => throw new IllegalArgumentException(
        s"a maintainable sequence-path view is `?src (s1/s2/…)+ ?dst`, " +
          s"got $p")
    }
    require(sv != dv, "path view endpoints must be distinct variables")
    fullBinding(q, Seq(sv, dv).sorted)
    (sv, dv, steps)
  }

  private def flattenSeq(p: Path): Seq[Path] = p match {
    case PSeq(l, r) => flattenSeq(l) ++ flattenSeq(r)
    case other => Seq(other)
  }

  /** [[createPath]] from SPARQL text. */
  def createPathFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int = {
    val (sv, dv, fwd, inv) = pathFromSparql(text)
    createPath(spark, storeRoot, viewRoot, sv, dv, fwd, inv, graph)
  }

  // ---- lifecycle ------------------------------------------------------

  /** The `graph` slice of a pinned store version, as (s,p,o) — the
    * partition-pruned sliced read: a view over one graph never scans
    * the other graphs' files (or a full-store snapshot checkpoint). */
  private def slice(spark: SparkSession, storeRoot: String, v: Int,
      graph: String): DataFrame =
    QuadStore.readVersionGraph(spark, storeRoot, v, graph)
      .select("s", "p", "o")

  /** Bootstrap the view at the store's current version: computes the
    * full view once, publishes it as the base, persists the definition.
    * Idempotent: an existing complete base at the same version is kept. */
  def create(spark: SparkSession, storeRoot: String, viewRoot: String,
      patterns: Seq[TP], graph: String = ""): Int = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before create()"))
    writeMeta(viewRoot, graph, patterns)
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(viewRoot, cur)) {
      BgpView.compute(slice(spark, storeRoot, cur, graph), patterns)
    }
    cur
  }

  /** Bootstrap a QUAD-pattern view (GRAPH-aware — constant graph terms
    * pin legs, a shared variable makes the graph a view column tracking
    * every graph) at the store's current version. */
  def createQuads(spark: SparkSession, storeRoot: String, viewRoot: String,
      patterns: Seq[(TP, Term)]): Int = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before create()"))
    writeMetaQuads(viewRoot, patterns)
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(viewRoot, cur)) {
      BgpView.computeQuads(QuadStore.readVersion(spark, storeRoot, cur),
        patterns)
    }
    cur
  }

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

  /** Bootstrap a UNION view — branches of conjunctive BGPs over the same
    * variable set. The persisted artifact is the counting algorithm's
    * SUPPORT COUNT frame ([[BgpView.computeUnionCounts]]): set union
    * does not distribute over set deltas, support does — segments carry
    * per-binding net support changes and membership is support > 0. */
  def createUnion(spark: SparkSession, storeRoot: String, viewRoot: String,
      branches: Seq[Seq[TP]], graph: String = ""): Int = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before createUnion()"))
    writeMetaUnion(viewRoot, graph, branches)
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(viewRoot, cur)) {
      BgpView.computeUnionCounts(slice(spark, storeRoot, cur, graph),
        branches)
    }
    cur
  }

  /** Bootstrap an OPTIONAL view — `left ⟕ right`, padded rows carrying
    * null optional columns; segments are net a/d rows maintained by
    * [[BgpView.deltaOptional]]'s transition rule. */
  def createOptional(spark: SparkSession, storeRoot: String,
      viewRoot: String, left: Seq[TP], right: Seq[TP],
      graph: String = ""): Int = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before createOptional()"))
    writeMetaOptional(viewRoot, graph, left, right)
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(viewRoot, cur)) {
      BgpView.computeOptional(slice(spark, storeRoot, cur, graph),
        left, right)
    }
    cur
  }

  // ---- persisted composed step-edge sets (pathseq / pathexpr)
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

  /** Does the view carry the edge-set artifact? Views created before it
    * existed do not ([[bootstrapEdges]] migrates them at their next
    * non-empty sync). */
  private def hasEdges(root: String): Boolean = Edges.lastSynced(root) > 0

  /** All nodes' edge sets as they stood at synced version `v`:
    * (__n, src, dst), the base plus net segments folded by one
    * last-op window — [[readAt]]'s fold over the edge chain. Same
    * ownership rule as [[readAt]]: the frame belongs to the fold cache
    * and must never be passed to [[graft.Materialize.release]]. */
  private def readEdgesAt(spark: SparkSession, root: String,
      v: Int): DataFrame = {
    val link = Edges.at(root, v)
    // same fold cache as [[readAt]] (separate key space): the edge state
    // is re-folded by every sync and compaction, and extends by its net
    // segments exactly like the binding fold
    val key = (graft.sources.AtomicStore.sessionId(spark), root + "#edges")
    val cached = foldCache.get(key)
      .filter(c => graft.sources.AtomicStore.markerToken(c.endPath) ==
        c.token && c.token.nonEmpty)
    def put(df: DataFrame): DataFrame = {
      val end = Edges.endPath(root, link)
      val tok = graft.sources.AtomicStore.markerToken(end)
      if (tok.nonEmpty) foldCache.put(key, CachedFold(v, end, tok, df))
      df
    }
    cached match {
      case Some(c) if c.v == v => c.df
      case Some(c) if c.v < v && link.segs.exists(_._1 == c.v) =>
        put(graft.Materialize(applySegs(spark, c.df, root,
          link.segs.filter(_._1 >= c.v), Edges)))
      case _ =>
        val folded = Edges.foldLastOp(spark, root, link)
        put(if (link.segs.isEmpty) folded else graft.Materialize(folded))
    }
  }

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

  /** A step sequence as a [[Path]] tree (each step's alternation a
    * PAlt chain, steps joined by PSeq) — one engine serves both view
    * modes. */
  private def stepsTree(steps: Seq[(Seq[String], Seq[String])]): Path =
    steps.map { case (f, i) =>
      (f.map(PEdge(_): Path) ++ i.map(p => PInv(PEdge(p)): Path))
        .reduce(PAlt(_, _))
    }.reduce(PSeq(_, _))

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

  /** Migrate a legacy view (created before the edge artifact existed):
    * publish the full per-node sets at the view's current version, ONCE
    * — every later sync is incremental. */
  private def bootstrapEdges(spark: SparkSession, storeRoot: String,
      viewRoot: String, v: Int, graph: String,
      nodes: Vector[ENode]): Unit =
    if (!hasEdges(viewRoot))
      graft.sources.AtomicStore.materializeParquet(
          Edges.basePath(viewRoot, v)) {
        nodeSetsFrame(slice(spark, storeRoot, v, graph), nodes)
      }: Unit

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

  /** Bootstrap a GENERAL path-expression view — the transitive closure
    * of any seq/alt tree's edge set, maintained by [[exprEdgeCands]]
    * composed with the closure's DRed rule (the sequence mode's
    * lifecycle over an arbitrary tree). Defined from SPARQL text only —
    * the text IS the persisted definition. */
  def createPathExprFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int = {
    val (sv, dv, inner) = pathExprFromSparql(text)
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before createPathExpr()"))
    writeMetaPathExpr(viewRoot, graph, sv, dv, text)
    // per-node composed edge sets first — the closure bootstraps from
    // the published root set, and sync maintains both incrementally
    graft.sources.AtomicStore.materializeParquet(
        Edges.basePath(viewRoot, cur)) {
      nodeSetsFrame(slice(spark, storeRoot, cur, graph),
        edgeNodes(inner))
    }
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(viewRoot, cur)) {
      Paths.transitiveClosure(rootEdgeSet(spark, viewRoot, cur))
        .select(col("src").as(sv), col("dst").as(dv))
    }
    cur
  }

  /** Candidate composed-edge pairs whose derivation passes through at
    * least one CHANGED step edge — the conjunctive delta rule: for each
    * step position, the chain joins the Δ-slice's edges at that step
    * against the full `state` at every other step. Candidates OVERcount
    * (a pair may have surviving derivations); the caller's membership
    * anti-joins net them. Each step edge derives from ONE triple (steps
    * are linear alternations), so Δ step edges come straight off the
    * triple change feed. */
  private def seqEdgeCands(state: DataFrame, deltaT: DataFrame,
      steps: Seq[(Seq[String], Seq[String])]): DataFrame =
    steps.indices.map { i =>
      steps.zipWithIndex.map { case ((f, v), j) =>
        if (j == i) pathEdges(deltaT, f, v) else pathEdges(state, f, v)
      }.reduce { (a, b) =>
        a.select(col("src"), col("dst").as("__m"))
          .join(b.select(col("src").as("__m"), col("dst")), "__m")
          .select("src", "dst")
      }
    }.reduce(_.unionByName(_)).distinct()

  /** Bootstrap a SEQUENCE-path view — the transitive closure of a step
    * sequence `(s1/s2/…)+` (each step a linear alternation), columns
    * (srcVar, dstVar). Maintenance composes the conjunctive rule (step-
    * edge deltas, [[seqEdgeCands]]) with the closure's DRed rule — the
    * single-alternation mode's lifecycle, one level of join deeper. */
  def createPathSeq(spark: SparkSession, storeRoot: String,
      viewRoot: String, srcVar: String, dstVar: String,
      steps: Seq[(Seq[String], Seq[String])], graph: String = ""): Int = {
    require(steps.nonEmpty &&
      steps.forall(s => s._1.nonEmpty || s._2.nonEmpty),
      "every sequence step needs at least one predicate")
    require(srcVar != dstVar, "path view endpoints must be distinct vars")
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before createPathSeq()"))
    writeMetaPathSeq(viewRoot, graph, srcVar, dstVar, steps)
    graft.sources.AtomicStore.materializeParquet(
        Edges.basePath(viewRoot, cur)) {
      nodeSetsFrame(slice(spark, storeRoot, cur, graph),
        edgeNodes(stepsTree(steps)))
    }
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(viewRoot, cur)) {
      Paths.transitiveClosure(rootEdgeSet(spark, viewRoot, cur))
        .select(col("src").as(srcVar), col("dst").as(dstVar))
    }
    cur
  }

  /** [[createPathSeq]] from SPARQL text. */
  def createPathSeqFromSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int = {
    val (sv, dv, steps) = pathSeqFromSparql(text)
    createPathSeq(spark, storeRoot, viewRoot, sv, dv, steps, graph)
  }

  /** Bootstrap a PATH view — the transitive closure of a predicate
    * alternation `(p1|…|^q1|…)+`, columns (srcVar, dstVar); segments are
    * net a/d pair rows maintained by [[Paths.maintainClosureDelta]]
    * (DRed deletions, semi-naive insertions). */
  def createPath(spark: SparkSession, storeRoot: String, viewRoot: String,
      srcVar: String, dstVar: String, fwd: Seq[String],
      inv: Seq[String] = Nil, graph: String = ""): Int = {
    require(fwd.nonEmpty || inv.nonEmpty, "empty predicate alternation")
    require(srcVar != dstVar, "path view endpoints must be distinct vars")
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before createPath()"))
    writeMetaPath(viewRoot, graph, srcVar, dstVar, fwd, inv)
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(viewRoot, cur)) {
      Paths.transitiveClosure(
          pathEdges(slice(spark, storeRoot, cur, graph), fwd, inv))
        .select(col("src").as(srcVar), col("dst").as(dstVar))
    }
    cur
  }

  /** Fold the store's changes since the last sync into one view-delta
    * segment; returns the store version the view now reflects.
    * Idempotent and crash-safe (marker-gated, coverage-named). Serves
    * every view shape — the meta's mode discriminates; union segments
    * carry net SUPPORT changes, the rest net a/d binding rows. */
  def sync(spark: SparkSession, storeRoot: String,
      viewRoot: String): Int = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before sync()"))
    val last = lastSynced(viewRoot)
    require(last > 0, s"no view under $viewRoot — create() before sync()")
    if (cur <= last) return last
    val (adds, dels) = QuadStore.changes(spark, storeRoot, last, cur)
    val opRows = (d: (DataFrame, DataFrame)) =>
      d._1.withColumn("__op", lit("a"))
        .unionByName(d._2.withColumn("__op", lit("d")))
    val tOf = (graph: String) => (df: DataFrame) =>
      df.filter(col("g") === graph).select("s", "p", "o")
    // no-op fast path: versions advanced but the raw change log is
    // empty (idempotent replays) — coverage still needs its segment, but
    // the mode's whole delta machinery (conjunctive chains, DRed,
    // transition rules) has nothing to do. The RAW probe is one plain
    // segment scan; probing `adds`/`dels` directly would execute the
    // whole net-delta plan (broadcast anti-joins) just for the verdict —
    // measured ~7 scheduler round-trips per sync on the lifecycle keys.
    if (QuadStore.changesRawEmpty(spark, storeRoot, last, cur)) {
      val empty =
        if (mode(viewRoot) == "union")
          readUnionCountsAt(spark, viewRoot, last).limit(0)
        else readAt(spark, viewRoot, last).limit(0)
          .withColumn("__op", lit("a"))
      // the edge-set chain needs its (empty) segment too — contiguity
      // is checked per chain; legacy views without the artifact skip
      // (they bootstrap at their next non-empty sync, gap-free)
      if (Seq("pathseq", "pathexpr").contains(mode(viewRoot)) &&
          hasEdges(viewRoot))
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
    val segment = mode(viewRoot) match {
      case "quads" =>
        opRows(BgpView.deltaQuads(
          QuadStore.readVersion(spark, storeRoot, last),
          adds, dels, definitionQuads(viewRoot)))
      case "union" =>
        val (graph, branches) = definitionUnion(viewRoot)
        val t = tOf(graph)
        BgpView.deltaUnionCounts(slice(spark, storeRoot, last, graph),
          t(adds), t(dels), branches)
      case "optional" =>
        val (graph, left, right) = definitionOptional(viewRoot)
        val t = tOf(graph)
        opRows(BgpView.deltaOptional(slice(spark, storeRoot, last, graph),
          t(adds), t(dels), left, right))
      case m @ ("pathseq" | "pathexpr") =>
        val (graph, sv, dv, nodes) =
          if (m == "pathseq") {
            val (g, s, d, steps) = definitionPathSeq(viewRoot)
            (g, s, d, edgeNodes(stepsTree(steps)))
          } else {
            val (g, s, d, inner) = definitionPathExpr(viewRoot)
            (g, s, d, edgeNodes(inner))
          }
        val t = tOf(graph)
        // legacy views (pre-edge-artifact) migrate once, then every
        // sync below is store-free: composed-set state comes from the
        // persisted artifact, deltas from the net change feed
        bootstrapEdges(spark, storeRoot, viewRoot, last, graph, nodes)
        // the feed frames fan into every atom slice AND the segment
        // write — ONE fused job checkpoints the feed and answers both
        // side-emptiness probes (the old shape paid the checkpoint plus
        // an isEmpty job per side)
        val (feed, counts) = graft.Materialize.probedN(
          t(adds).withColumn("__op", lit("a"))
            .unionByName(t(dels).withColumn("__op", lit("d"))),
          col("__op") === "a", col("__op") === "d")
        val Seq(nA, nD) = counts
        val tAdds = feed.filter(col("__op") === "a").select("s", "p", "o")
        val tDels = feed.filter(col("__op") === "d").select("s", "p", "o")
        val (edgeSeg, oldE) = maintainEdgeSets(spark, viewRoot, last,
          nodes, tAdds, tDels, nA > 0L, nD > 0L)
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
          read(spark, viewRoot)
            .select(col(sv).as("src"), col(dv).as("dst")),
          oldE, eAdds, eDels)
        val named = (df: DataFrame) =>
          df.select(col("src").as(sv), col("dst").as(dv))
        opRows((named(pa), named(pd)))
      case "path" =>
        val (graph, sv, dv, fwd, inv) = definitionPath(viewRoot)
        val t = tOf(graph)
        val oldT = slice(spark, storeRoot, last, graph)
        val (churn, candAdds) = pathChurn(oldT, t(adds), t(dels), fwd, inv)
        // the old edge set stays lazy: only a DRed phase reads it
        val (_, pa, pd) = Paths.maintainClosureChurn(
          read(spark, viewRoot)
            .select(col(sv).as("src"), col(dv).as("dst")),
          pathEdges(oldT, fwd, inv), churn, candAdds)
        val named = (df: DataFrame) =>
          df.select(col("src").as(sv), col("dst").as(dv))
        opRows((named(pa), named(pd)))
      case "filtered" =>
        val (graph, pats, fs) = definitionFiltered(viewRoot)
        val t = tOf(graph)
        // the row-local predicate commutes with the counting rule:
        // filtering the NET a/d rows is the filtered view's exact delta
        val cond = fs.map(Sparql.filterColumn).reduce(_ && _)
        val (ba, bd) = BgpView.delta(slice(spark, storeRoot, last, graph),
          t(adds), t(dels), pats)
        opRows((ba.filter(cond), bd.filter(cond)))
      case _ =>
        val (graph, patterns) = definition(viewRoot)
        val t = tOf(graph)
        opRows(BgpView.delta(slice(spark, storeRoot, last, graph),
          t(adds), t(dels), patterns))
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
      chain: graft.sources.VersionChain = Rows): DataFrame = {
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
  def readAt(spark: SparkSession, viewRoot: String, v: Int): DataFrame = {
    if (mode(viewRoot) == "union")
      return readUnionCountsAt(spark, viewRoot, v)
        .drop(BgpView.SupportCol)
    val link = Rows.at(viewRoot, v)
    val key = (graft.sources.AtomicStore.sessionId(spark), viewRoot)
    val cached = foldCache.get(key)
      // the fingerprint must still match ITS path — a wiped/recompacted
      // root reads as a miss, never as pre-wipe state
      .filter(c => graft.sources.AtomicStore.markerToken(c.endPath) ==
        c.token && c.token.nonEmpty)
    def put(df: DataFrame): DataFrame = {
      val end = Rows.endPath(viewRoot, link)
      val tok = graft.sources.AtomicStore.markerToken(end)
      if (tok.nonEmpty) foldCache.put(key, CachedFold(v, end, tok, df))
      df
    }
    cached match {
      case Some(c) if c.v == v => c.df
      case Some(c) if c.v < v && link.segs.exists(_._1 == c.v) =>
        // contiguous extension: exactly the (c.v, v] sub-chain
        val ext = link.segs.filter(_._1 >= c.v)
        put(graft.Materialize(applySegs(spark, c.df, viewRoot, ext)))
      case _ =>
        // a bare base is already a cheap one-file scan — cache it lazy
        // (extensions anti-join against the scan; Materialize.reuse-class
        // argument), where a checkpoint would cost a job for nothing
        val folded = Rows.foldLastOp(spark, viewRoot, link)
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
    if (mode(viewRoot) == "union")
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
    Rows.compact(viewRoot, head)(tmp =>
      (if (mode(viewRoot) == "union") readUnionCounts(spark, viewRoot)
       else read(spark, viewRoot)).write.parquet(tmp))
    if (Seq("pathseq", "pathexpr").contains(mode(viewRoot)) &&
        hasEdges(viewRoot))
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
