package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** View-based query answering: rewrite a BGP to read MATERIALIZED views
  * for the pattern legs they cover, scanning the triples only for the
  * residual.
  *
  * This is the payoff side of [[BgpView]]/[[ViewStore]]: maintenance
  * keeps a view current for O(|Δ|) per sync, and answering turns a
  * k-pattern query into ONE scan of the (pre-joined, usually far
  * smaller) view plus joins for the uncovered patterns. At warehouse
  * scale that replaces k triples-scans and k−1 shuffles of the biggest
  * table in the system with one columnar read of a result-sized
  * artifact — the entire economic argument for materialized views.
  *
  * Soundness (conjunctive fragment, set semantics): if `h` maps every
  * view pattern onto SOME query pattern (constants exactly, variables
  * consistently), then `h(view)` — the view filtered where `h` merges
  * variables or binds them to constants, renamed to the query's names —
  * equals the solve of the covered query patterns, because the view
  * stores the FULL binding of its pattern set (the [[ViewStore]]
  * create-time invariant) and triples frames are sets, so the full
  * binding join is a set. Hence
  * `solve(Q) = h(view) ⋈ solve(Q \ covered)`. Overlapping covers are
  * harmless for the same reason (idempotent joins).
  */
object ViewAnswer {

  /** A homomorphism from the view's patterns into the query's BGP:
    * each view pattern maps to some query pattern, constants match
    * exactly, and each view variable maps to ONE query term throughout
    * (a variable may map to a constant — the view then answers a more
    * specific query than it stores, via a filter). Returns the variable
    * mapping and the covered query-pattern indices, or None. The search
    * is driver-side backtracking over pattern lists (tens of entries),
    * never touching data. */
  def embed(viewPats: Seq[TP],
      query: Seq[TP]): Option[(Map[String, Term], Set[Int])] = {
    def term(vt: Term, qt: Term,
        m: Map[String, Term]): Option[Map[String, Term]] = (vt, qt) match {
      case (C(a), C(b)) => if (a == b) Some(m) else None
      // a view constant can never produce the open binding a query
      // variable needs
      case (C(_), V(_)) => None
      case (V(n), t) => m.get(n) match {
        case Some(prev) => if (prev == t) Some(m) else None
        case None => Some(m + (n -> t))
      }
    }
    def rec(vps: List[TP], m: Map[String, Term],
        used: Set[Int]): Option[(Map[String, Term], Set[Int])] = vps match {
      case Nil => Some((m, used))
      case vp :: rest =>
        query.zipWithIndex.view.flatMap { case (qp, i) =>
          for {
            m1 <- term(vp.s, qp.s, m)
            m2 <- term(vp.p, qp.p, m1)
            m3 <- term(vp.o, qp.o, m2)
            r <- rec(rest, m3, used + i)
          } yield r
        }.headOption
    }
    require(viewPats.nonEmpty && query.nonEmpty, "empty pattern set")
    rec(viewPats.toList, Map.empty, Set.empty)
  }

  /** Apply an embedding to the materialized view: filter where the
    * mapping merges view variables or binds them to constants, then
    * rename the surviving columns to the query's variable names. */
  def rewrite(view: DataFrame, h: Map[String, Term]): DataFrame = {
    val byTarget = h.toSeq.sortBy(_._1).groupBy(_._2)
    val filtered = byTarget.foldLeft(view) {
      case (df, (C(v), vs)) =>
        vs.foldLeft(df) { case (d, (vn, _)) => d.filter(col(vn) === v) }
      case (df, (V(_), vs)) if vs.size > 1 =>
        vs.tail.foldLeft(df) { case (d, (vn, _)) =>
          d.filter(col(vn) === col(vs.head._1)) }
      case (df, _) => df
    }
    val cols = byTarget.toSeq.collect {
      case (V(q), vs) => (q, vs.head._1)
    }.sortBy(_._1)
    require(cols.nonEmpty,
      "the embedding binds every view variable to a constant — the " +
        "rewrite would be a boolean, not a binding set; solve directly")
    filtered.select(cols.map { case (q, vn) => col(vn).as(q) }: _*)
  }

  /** Answer `query` using whichever of `views` embed into it (greedy,
    * most-covering first, each view at most once, views covering
    * nothing new skipped), joining the residual patterns solved from
    * `triples`. Falls back to a plain [[Bgp.solve]] when nothing
    * embeds. */
  def answer(triples: DataFrame, query: Seq[TP],
      views: Seq[(Seq[TP], DataFrame)]): DataFrame = {
    val embeds = views.flatMap { case (pats, df) =>
      embed(pats, query).map { case (h, covered) => (df, h, covered) }
    }.sortBy(-_._3.size)
    val (frames, covered) = embeds
      .foldLeft((Seq.empty[DataFrame], Set.empty[Int])) {
        case ((fs, cov), (df, h, c)) =>
          if ((c -- cov).isEmpty) (fs, cov)
          else (fs :+ rewrite(df, h), cov ++ c)
      }
    val residual = query.zipWithIndex.collect {
      case (qp, i) if !covered(i) => qp
    }
    val pieces = frames ++
      (if (residual.isEmpty) Nil else Seq(Bgp.solve(triples, residual)))
    pieces.reduce(Bgp.joinSolved)
  }

  /** [[answerStored]] from SPARQL text — the user-facing front door:
    * `SELECT ?x ?y WHERE { <conjunctive BGP> }` (any projection subset,
    * optional DISTINCT), answered from the registered views. Richer
    * query shapes are rejected loudly — the conjunctive fragment is
    * where the view-substitution soundness argument lives; compose
    * OPTIONAL/FILTER/aggregation downstream of the answered frame. */
  def answerSparql(spark: SparkSession, storeRoot: String,
      viewRoots: Seq[String], text: String,
      graph: String = ""): DataFrame = {
    val q = Sparql.parse(text)
    require(q.branches.size == 1 && !q.ask && q.construct.isEmpty &&
      q.describe.isEmpty, "view answering takes single-block SELECTs")
    val b = q.branches.head
    require(b.optionals.isEmpty && b.filters.isEmpty && b.minuses.isEmpty &&
      b.values.isEmpty && b.binds.isEmpty && b.paths.isEmpty &&
      b.exists.isEmpty && b.subqueries.isEmpty && b.graphs.isEmpty &&
      b.unions.isEmpty && b.services.isEmpty && b.where.nonEmpty,
      "view answering serves the conjunctive fragment — compose " +
        "OPTIONAL/FILTER/UNION/aggregation downstream of the answer")
    require(q.orderKeys.isEmpty && q.limit.isEmpty && q.offset.isEmpty &&
      q.selectAggs.isEmpty && q.groupVars.isEmpty && q.having.isEmpty &&
      q.selectBinds.isEmpty,
      "view answering takes no solution modifiers or aggregation")
    val full = answerStored(spark, storeRoot, viewRoots, b.where, graph)
    val projected =
      if (q.projection == Seq("*")) full
      else full.select(q.projection.map(col): _*)
    if (q.distinct) projected.distinct() else projected
  }

  /** Answer a grouped COUNT/SUM query from a PERSISTED summary
    * ([[ViewStore.createAgg]]): the dashboard read — a query over a
    * corpus-sized store served from the summary-sized artifact, zero
    * scans of the triples OR the binding view.
    *
    * Soundness needs more than embedding here — aggregates count
    * bindings, so the query's BGP must be ISOMORPHIC to the view's
    * (full-cover embedding with every view variable mapped to a
    * DISTINCT query variable: the binding sets are then in bijection
    * and per-group counts/sums carry over exactly). The group variables
    * and SUM arguments must align under that mapping; anything else is
    * a loud error, as is a view not synced to the store head or a
    * summary not synced to the view. */
  def answerAggSparql(spark: SparkSession, storeRoot: String,
      viewRoot: String, aggRoot: String, text: String,
      graph: String = ""): DataFrame = {
    val (qPats, qGroup, qCount, qSums, qExts) =
      ViewStore.aggPatternsFromSparql(text)
    // summary answering rides a conjunctive (triple) binding view
    val (g, vPats) = ViewStore.definition(viewRoot)
    require(g == graph,
      s"$viewRoot is a view over graph '$g', query runs over '$graph'")
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(s"no store under $storeRoot"))
    require(ViewStore.lastSynced(viewRoot) == cur,
      s"$viewRoot reflects store version ${ViewStore.lastSynced(viewRoot)
        } but the store is at $cur — sync() first, or the answer is stale")
    require(ViewStore.lastSynced(aggRoot) == cur,
      s"$aggRoot reflects version ${ViewStore.lastSynced(aggRoot)} but " +
        s"the store is at $cur — syncAgg() first, or the answer is stale")
    val (h, covered) = embed(vPats, qPats).getOrElse(
      throw new IllegalArgumentException(
        "the view's patterns do not embed into the query"))
    require(covered == qPats.indices.toSet,
      "summary answering needs the view's patterns to cover the WHOLE " +
        "query BGP — an uncovered pattern changes the counts")
    val varMap = h.collect { case (v, V(q)) => v -> q }
    require(varMap.size == h.size && varMap.values.toSeq.distinct.size ==
      varMap.size,
      "summary answering needs every view variable mapped to a DISTINCT " +
        "query variable — a merge or constant specialization changes " +
        "the counts")
    val (aGroup, aCount, aSums, aExts) = ViewStore.definitionAgg(aggRoot)
    require(aGroup.map(varMap).toSet == qGroup.toSet,
      s"the summary groups by ${aGroup.map(varMap).mkString(", ")} but " +
        s"the query groups by ${qGroup.mkString(", ")}")
    val sumCols = qSums.map { case (alias, v) =>
      val out = aSums.collectFirst {
        case (o, src) if varMap(src) == v => o
      }.getOrElse(throw new IllegalArgumentException(
        s"the summary has no SUM measure over ?$v — stored measures: ${
          aSums.map(s => s"?${varMap(s._2)}").mkString(", ")}"))
      col(out).as(alias)
    }
    // extremum/avg aliases match on (mapped variable, function) — the
    // bijection argument covers them: per-group value multisets carry
    // over exactly, so so do their min/max/avg
    val extCols = qExts.map { case (alias, v, fn) =>
      val out = aExts.collectFirst {
        case (o, src, f) if varMap(src) == v && f == fn => o
      }.getOrElse(throw new IllegalArgumentException(
        s"the summary has no ${fn.toUpperCase} measure over ?$v — " +
          s"stored: ${aExts.map(e =>
            s"${e._3}(?${varMap(e._2)})").mkString(", ")}"))
      col(out).as(alias)
    }
    ViewStore.readAgg(spark, aggRoot).select(
      aGroup.map(gv => col(gv).as(varMap(gv))) ++
        (col(aCount).as(qCount) +: (sumCols ++ extCols)): _*)
  }

  /** [[answer]] over PERSISTED views: reads each conjunctive view's
    * definition and maintained state from its [[ViewStore]] root and the
    * triples from the store head. Every view must be synced to the
    * store's current version and defined over `graph` — a stale or
    * cross-graph view would silently answer from the past, so both are
    * loud errors (sync() first; it's O(|Δ|)). */
  def answerStored(spark: SparkSession, storeRoot: String,
      viewRoots: Seq[String], query: Seq[TP],
      graph: String = ""): DataFrame = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(s"no store under $storeRoot"))
    val views = viewRoots.map { root =>
      // the conjunctive fragment: other view shapes compose downstream
      val (g, pats) = ViewStore.definition(root)
      require(g == graph,
        s"$root is a view over graph '$g', query runs over '$graph'")
      val synced = ViewStore.lastSynced(root)
      require(synced == cur,
        s"$root reflects store version $synced but the store is at " +
          s"$cur — sync() before answering, or the answer is stale")
      (pats, ViewStore.read(spark, root))
    }
    val triples = QuadStore.readVersion(spark, storeRoot, cur)
      .filter(col("g") === graph).select("s", "p", "o")
    answer(triples, query, views)
  }
}
