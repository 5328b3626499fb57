package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SPARQL front-end for the engine-supported fragment: SELECT, ASK,
  * CONSTRUCT (incl. `CONSTRUCT WHERE`) and DESCRIBE over basic graph
  * patterns with OPTIONAL / MINUS / [NOT] EXISTS blocks (each carrying
  * block-scoped FILTERs; OPTIONAL also property paths), FILTERs (boolean
  * connectives, BOUND, regex, arithmetic comparisons, IN / NOT IN),
  * BIND, VALUES inline bindings (incl. UNDEF partial bindings, and the
  * query-final ValuesClause joining the whole result per 18.2.4.4), UNION
  * (top-level and nested `{A} UNION {B}` group members), property paths
  * (incl. negated property sets and the `a` rdf:type shorthand),
  * predicate-object (`;`) and object (`,`) lists, `{ SELECT ... }`
  * subqueries, GRAPH blocks with full group bodies and FROM / FROM NAMED
  * dataset clauses over quad datasets, aggregation (GROUP BY incl.
  * expression keys, COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT over
  * variables or expressions, HAVING, SELECT expression projections incl.
  * aggregate-bearing ones) and the solution modifiers DISTINCT / ORDER
  * BY (variables or expression keys) / LIMIT / OFFSET.
  *
  * The reference delegates SPARQL parsing to Jena ARQ and answers the BGP
  * algebra (SURVEY.md §3.3); this is a self-contained recursive-descent
  * parser for exactly the fragment the engine executes, lowering to the
  * [[Bgp]] DSL, [[Path]] algebra and Spark relational operators. Supported:
  *
  * {{{
  *   PREFIX ex: <http://example.org/>
  *   SELECT [DISTINCT] ?a ?b | SELECT * | SELECT ?g (COUNT(?x) AS ?n)
  *   WHERE {
  *     ?a <pred> ?b .
  *     ?a ex:p "literal" .           # plain, typed ("5"^^xsd:int) or
  *     _:bn <p> ?a .                 # lang-tagged ("x"@en) literals;
  *     ?a (<p>|<q>)+/<r> ?c .        # property paths: / | + * ? ^ ( )
  *     ?a <p> ?x ; <q> ?y , ?z .     # predicate-object and object lists
  *     OPTIONAL { ?a <p2> ?c . }
  *     BIND (?n + 1 AS ?m)  BIND (CONCAT("x-", ?b) AS ?tag)
  *     FILTER (?b = "x" || (?n >= 10 && !BOUND(?c)))
  *     FILTER regex(?b, "^ab")
  *   }
  *   GROUP BY ?g HAVING (COUNT(?x) > 5)
  *   ORDER BY ?a DESC(?b)  LIMIT 100  OFFSET 10
  * }}}
  *
  * Semantics notes:
  *  - UNION is SPARQL bag union of solution mappings; variables unbound in
  *    a branch are null-padded (lowered to `unionByName` with
  *    `allowMissingColumns = true`, the exact same padding rule). A nested
  *    union joined with the rest of its block distributes the join over
  *    the branches, each joining on the variables IT binds — so a branch
  *    leaving a shared variable unbound keeps its solutions (SPARQL
  *    compatibility), never silently dropped by a null-key equi-join.
  *    Pattern-group joins, VALUES data blocks (UNDEF rows included),
  *    OPTIONAL, MINUS and FILTER [NOT] EXISTS on possibly-unbound
  *    shared variables all run the EXACT compatibility semantics via
  *    mask-group decomposition ([[compatJoin]], [[compatOptional]],
  *    [[compatMinus]], [[compatSemiAnti]]).
  *  - numeric comparisons (a numeric constant, arithmetic, or numeric
  *    aggregate on either side) coerce both sides via `try_cast(double)`:
  *    a binding that is not a number compares unknown → row dropped,
  *    matching SPARQL's type-error-eliminates-row rule (and DuckDB's
  *    TRY_CAST). `BOUND(?v)` is `isNotNull` — with OPTIONAL + `!BOUND` this
  *    is the standard pre-MINUS negation idiom, proven ≡ MINUS in
  *    SparqlSpec.
  *  - a typed literal keeps its LEXICAL form for pattern matching (the
  *    triples store holds plain lexical terms); in a FILTER/BIND
  *    expression, an xsd numeric datatype makes it a numeric constant.
  *    Lang tags are parsed and compared by lexical form.
  *  - blank nodes (`_:b`) are non-projectable variables: they join within
  *    their pattern group like any variable, can never be SELECTed (no
  *    `?` token can name them) and are dropped from `SELECT *`; reusing a
  *    label across pattern groups is rejected (SPARQL grammar note 10).
  *  - aggregation lowers to `groupBy(...).agg(...)`: SUM/AVG accumulate
  *    exact decimals of `try_cast`-coerced values and emit double (the
  *    [[graft.Det]] determinism rule; non-numeric bindings are skipped,
  *    DuckDB-TRY_CAST-aligned), COUNT(DISTINCT ?v) is `countDistinct`,
  *    MIN/MAX compare lexical forms. Non-aggregated projected variables
  *    must appear in GROUP BY (rejected otherwise, as in SQL). Where the
  *    spec leaves a choice, the deterministic one is taken: SAMPLE is the
  *    group minimum and GROUP_CONCAT concatenates in sorted order — both
  *    conformant, and reproducible under any partitioning.
  *  - property paths: `+`/`*`/`?` have node-pair (distinct) semantics and
  *    `*`'s zero-length path matches every graph term, per SPARQL 18.4;
  *    sequence / alternation stay bags. Closures run as distributed
  *    semi-naive iteration ([[Paths.transitiveClosure]]).
  *  - ORDER BY sorts ascending nulls-first / descending nulls-last;
  *    OFFSET applies before LIMIT (SPARQL 18.2.5 modifier order).
  *
  * One evaluator answers every entry point. [[run]], [[runEncoded]],
  * [[runQuads]], [[runQuadsEncoded]], [[runHttpFederated]] and
  * [[runQuadsHttpFederated]] each parse the text, describe their store as
  * one [[Dataset]] and evaluate it ([[execute]]). The dataset holds the
  * default graph, the named graphs (none for a triples store, so FROM
  * and GRAPH are rejected there), the [[TermSpace]] (strings, or
  * dictionary ids with all of the query's constants resolved in one
  * lookup), the BGP solver (plain, star-collapsed or ExtVP) and the
  * SERVICE solver (registered endpoints or live HTTP endpoints). Pattern
  * groups and paths solve in the dataset's term space and come out as
  * terms, so everything above them lowers the same way for all six.
  *
  * Also supported: FILTER [NOT] EXISTS blocks (semi/anti-join lowering),
  * `SERVICE [SILENT] <iri> { ... }` federation over registered endpoint
  * datasets (the `endpoints` map of [[run]]/[[runQuads]] — the body solves
  * over the endpoint's triples and joins set-at-a-time; `SERVICE ?ep`
  * ranges the variable over the registry, binding it per branch), and the
  * built-ins STR / STRLEN / UCASE / LCASE / CONTAINS / STRSTARTS /
  * STRENDS / SUBSTR / ABS / FLOOR / CEIL / ROUND / IF / COALESCE
  * alongside CONCAT and regex.
  *
  * Collection syntax (`(...)` lists in subject/object position) desugars
  * to rdf:first/rdf:rest/rdf:nil chains over fresh `_:collN` blank-node
  * variables — non-projectable, exactly the spec's expansion. Subqueries
  * under `GRAPH ?var` correlate by the active graph ([[adoptGraphVar]] —
  * the solver threads ?g like one more join key, exactly as property
  * paths do via [[Paths.evalPathGraphs]]); SERVICE federates from the
  * encoded engines too (the endpoint body solves string-space, joining
  * on the decoded bindings).
  *
  * Subquery ORDER BY/LIMIT/OFFSET under `GRAPH ?var` apply PER GRAPH
  * (a row_number window over the threaded ?g — eval(GRAPH ?g P) runs P
  * once per named graph, so its modifiers slice each graph's sequence).
  * CORRELATED filters — a FILTER inside OPTIONAL or [NOT] EXISTS
  * referencing outer variables — carry the expression in the join
  * CONDITION (18.5 LeftJoin(Ω1, Ω2, F) / the errata EXISTS
  * substitution): a row pads, or fails EXISTS, when no compatible block
  * row satisfies F, not merely when none exists.
  *
  * Out of fragment (rejected, not silently mis-run): SPARQL Update via
  * this entry point (see [[Update]]), a correlated filter inside MINUS
  * (the spec evaluates MINUS's group independently, so an
  * outer-referencing filter there would see its variable UNBOUND and
  * empty the whole subtrahend — the loud gate protects against that
  * silent no-op), and correlated filters over possibly-unbound shared
  * variables.
  * The tokenizer verifies every non-whitespace, non-comment character is
  * consumed by a token and errors with the offset of the first unsupported
  * character, so unsupported syntax can never be silently dropped; trailing
  * tokens after the solution modifiers are likewise an error. SPARQL bag
  * semantics on this fragment coincide with the SQL bag semantics of the
  * lowered plan.
  */
object Sparql {

  // ---- expression AST: FILTER, BIND and HAVING share one grammar -------
  sealed trait Expr
  final case class EVar(n: String) extends Expr
  final case class ENum(v: BigDecimal) extends Expr
  final case class EStr(v: String) extends Expr
  final case class ECmp(l: Expr, op: String, r: Expr) extends Expr
  final case class EAnd(l: Expr, r: Expr) extends Expr
  final case class EOr(l: Expr, r: Expr) extends Expr
  final case class ENot(e: Expr) extends Expr
  final case class EBound(v: String) extends Expr
  /** REGEX(text, pattern[, flags]) — 17.4.3.14 / XPath fn:matches:
    * unanchored match of `text` (any string expression) against a
    * LITERAL pattern, with the XPath flags `i s m x q`. Pattern and
    * flags must be literals (the dialect-translation caveat as REPLACE:
    * a variable pattern can't be checked for Java/RE2 divergence). */
  final case class ERegex(text: Expr, pattern: String,
    flags: String) extends Expr
  final case class EArith(l: Expr, op: String, r: Expr) extends Expr
  final case class EConcat(args: Seq[Expr]) extends Expr
  /** Built-in call — the `builtinFns` set: string (STR, STRLEN, UCASE,
    * LCASE, CONTAINS, STRSTARTS, STRENDS, SUBSTR, REPLACE, STRBEFORE,
    * STRAFTER, ENCODE_FOR_URI), numeric (ABS, FLOOR, CEIL, ROUND),
    * hashes (MD5, SHA1, SHA256, SHA384, SHA512), control (IF, COALESCE),
    * term introspection ([[Terms]]), and the dateTime accessors
    * (YEAR..SECONDS, TZ). */
  final case class EFun(fn: String, args: Seq[Expr]) extends Expr
  /** Aggregate call; `v=None` is `COUNT(*)`, `sep` is GROUP_CONCAT's
    * SEPARATOR. Valid only in SELECT `(AGG(?v) AS ?alias)` bindings and
    * HAVING. */
  final case class EAgg(fn: String, v: Option[String], distinct: Boolean,
      sep: Option[String] = None,
      /** Non-variable argument, e.g. `SUM(?price * ?qty)`: materialized
        * as a hidden column before the hash aggregation. */
      argExpr: Option[Expr] = None)
    extends Expr

  /** An OPTIONAL group body: triple patterns, property paths, and
    * block-scoped FILTERs. A filter may reference only variables bound
    * inside the OPTIONAL (then filtering the block before the left join
    * IS the spec's LeftJoin condition — shared variables agree on
    * compatible pairs); filters on left-only variables are rejected at
    * solve. */
  final case class OptBody(pats: Seq[TP],
      paths: Seq[(Term, Path, Term)], filters: Seq[Expr])

  /** One group graph pattern: a BGP plus its property-path patterns,
    * VALUES tables, BINDs, OPTIONALs, MINUSes and FILTERs (applied in that
    * order within the block). Each VALUES entry is (variable names, rows
    * of constants). */
  final case class Block(where: Seq[TP],
      optionals: Seq[OptBody],
      filters: Seq[Expr],
      /** MINUS blocks: full group bodies — patterns, property paths, and
        * block-scoped FILTERs (the filter is part of the inner group per
        * spec — it applies before subtraction). */
      minuses: Seq[OptBody] = Nil,
      /** VALUES tables: (vars, rows); a None cell is UNDEF (the row
        * leaves that variable unconstrained — a partial binding). */
      values: Seq[(Seq[String], Seq[Seq[Option[String]]])] = Nil,
      binds: Seq[(String, Expr)] = Nil,
      paths: Seq[(Term, Path, Term)] = Nil,
      /** FILTER [NOT] EXISTS blocks: (positive, body) — patterns,
        * property paths, and inner-bound filter vars only, as with
        * OPTIONAL. */
      exists: Seq[(Boolean, OptBody)] = Nil,
      /** `{ SELECT ... }` subqueries: evaluated independently, joined with
        * the block on their projected variables (SPARQL 18.2.2.12). */
      subqueries: Seq[Query] = Nil,
      /** `GRAPH term { group }` blocks (quad datasets only): both constant
        * and variable graphs take full group bodies; a variable graph
        * additionally excludes paths/subqueries (enforced at parse). */
      graphs: Seq[(Term, Block)] = Nil,
      /** Nested `{ group } [UNION { group }]*` members: each entry's
        * branches bag-union (null-padding unshared vars) and the result
        * joins the rest of the block on shared variables — SPARQL's
        * GroupGraphPattern union, legal anywhere in a body. */
      unions: Seq[Seq[Block]] = Nil,
      /** `SERVICE [SILENT] term { group }` blocks: (silent, endpoint,
        * body). Endpoints are REGISTERED datasets (the `endpoints` map of
        * [[Sparql.run]]/[[Sparql.runQuads]]) — set-at-a-time federation:
        * the body solves over the endpoint's triples and joins the
        * enclosing block on shared variables, one distributed join
        * instead of the per-binding network chatter of wire-protocol
        * federation. SILENT turns an unregistered endpoint into the unit
        * solution instead of an error. A VARIABLE endpoint ranges over
        * the whole registry — ⋃ over registered e of (solve(body, e) ⋈
        * {?ep → e}), the federation analog of GRAPH ?g over named graphs
        * (the spec leaves the variable's domain implementation-defined;
        * the registry is this engine's service description). */
      services: Seq[(Boolean, Term, Block)] = Nil)

  final case class OrderKey(v: String, asc: Boolean,
      /** Expression sort key (OrderCondition beyond a bare variable);
        * materialized as a hidden column, dropped after LIMIT/OFFSET.
        * May reference projected variables only (ORDER applies to the
        * projected solutions in this engine). */
      expr: Option[Expr] = None)

  final case class Query(projection: Seq[String], branches: Seq[Block],
      distinct: Boolean, orderKeys: Seq[OrderKey],
      limit: Option[Int], offset: Option[Int], ask: Boolean = false,
      construct: Option[Seq[TP]] = None,
      selectAggs: Seq[(String, EAgg)] = Nil,
      groupVars: Seq[String] = Nil,
      having: Option[Expr] = None,
      /** The query-final `VALUES` clause (grammar 28 ValuesClause):
        * joins the whole query result after aggregation/HAVING, before
        * projection and the remaining modifiers (18.2.4.4). */
      trailingValues: Option[(Seq[String], Seq[Seq[Option[String]]])] = None,
      /** DESCRIBE resources: IRIs and/or WHERE-bound variables. */
      describe: Option[Seq[Term]] = None,
      /** `FROM <g>` graphs: the query's default graph is their RDF merge
        * (set union — a graph is a set of triples). Quads runs only. */
      fromGraphs: Seq[String] = Nil,
      /** `FROM NAMED <g>` graphs: the dataset's named-graph set. When any
        * dataset clause is present the dataset is EXACTLY as described —
        * FROM only ⇒ GRAPH matches nothing; FROM NAMED only ⇒ empty
        * default graph (SPARQL 13.2). */
      fromNamed: Seq[String] = Nil,
      /** `GROUP BY (expr AS ?v)` keys: materialized before grouping. */
      groupBinds: Seq[(String, Expr)] = Nil,
      /** `SELECT (expr AS ?v)` non-aggregate-call projections; the
        * expression may contain aggregates (computed via the EAgg→alias
        * env after the hash aggregation). */
      selectBinds: Seq[(String, Expr)] = Nil) {
    // single-branch accessors (the pre-UNION shape most callers inspect);
    // guarded so a union query can never silently expose only its first
    // branch to plan analysis — inspect `branches` for those
    private def only: Block = {
      require(branches.size == 1,
        s"query has ${branches.size} UNION branches — use `branches`")
      branches.head
    }
    def where: Seq[TP] = only.where
    def optionals: Seq[OptBody] = only.optionals
    def filters: Seq[Expr] = only.filters
  }

  /** Parse and execute against a triples DataFrame(s,p,o).
    *
    * Executes via the join solver, which is correct for multi-valued
    * predicates (the RDF norm: one subject, many objects per predicate).
    * Pass `collapseStars = true` only when the data is known single-valued
    * per (subject, predicate) — property-table-shaped corpora — to get the
    * one-shuffle-per-star plan (see [[Bgp.solveStarCollapsed]]).
    */
  def run(triples: DataFrame, text: String,
      collapseStars: Boolean = false,
      endpoints: Map[String, DataFrame] = Map.empty,
      extVp: Option[ExtVp.Store] = None): DataFrame = {
    val q = parse(text)
    val plain = bgpSolver(collapseStars)
    // the ExtVP reduction store serves any all-constant-predicate group
    // (the overwhelmingly common SPARQL shape); a variable predicate falls
    // back to the full-table solver — same results, just no reduction
    // pruning for that group. The store describes `triples`, the one graph
    // of a triples dataset, so it never stands in for another frame.
    val bgp = extVp.fold(plain)(st => (t: DataFrame, pats: Seq[TP]) =>
      if (pats.forall(_.p.isInstanceOf[C])) ExtVp.solve(st, pats)
      else plain(t, pats))
    execute(q, triplesDataset(q, "runQuads", triples, Strings, bgp,
      endpointSolver(endpoints)).scope)
  }

  /** [[run]] with SERVICE federation against LIVE HTTP endpoints
    * (IRI → base URL, e.g. an [[HttpEndpoint]] server or any conformant
    * SPARQL Protocol service): the SERVICE body executes REMOTELY over
    * the wire and its solution document joins set-at-a-time — true
    * distributed federation over the real transport. The remote
    * fragment is pure basic graph patterns (the dominant federation
    * shape; anything else in a SERVICE body is loud). Everything
    * outside SERVICE runs the full local grammar. */
  def runHttpFederated(triples: DataFrame, text: String,
      urls: Map[String, String],
      collapseStars: Boolean = false): DataFrame = {
    val q = parse(text)
    execute(q, triplesDataset(q, "runQuads", triples, Strings,
      bgpSolver(collapseStars),
      HttpEndpoint.serviceSolver(triples.sparkSession, urls)).scope)
  }

  /** Render a SERVICE body back to SPARQL surface syntax for remote
    * execution — basic graph patterns plus BIND and FILTER (real
    * federation pushes the restriction to the remote endpoint instead of
    * pulling the whole pattern extension; anything beyond that fragment
    * is loud — the LOCAL grammar stays full). Constants render as
    * `<iri>` in subject/predicate position and as quoted literals in
    * object position; both parse back to the same plain lexical terms on
    * a conformant remote (this engine's own convention). BINDs render
    * before FILTERs — the order [[Block]] documents and the solver
    * applies. */
  private[rdf] def renderService(body: Block): String = {
    require(body.minuses.isEmpty && body.values.isEmpty &&
      body.paths.isEmpty && body.exists.isEmpty &&
      body.subqueries.isEmpty && body.graphs.isEmpty &&
      body.unions.isEmpty && body.services.isEmpty,
      "HTTP SERVICE federation executes basic graph patterns plus " +
        "BIND/FILTER/OPTIONAL remotely in this fragment — restructure " +
        "the SERVICE block (the local grammar outside SERVICE is " +
        "unrestricted)")
    require(body.where.nonEmpty, "empty SERVICE body")
    def term(t: Term, objPos: Boolean): String = t match {
      case V(n) => s"?$n"
      case C(v: String) if objPos => quote(v)
      case C(v: String) =>
        require(!v.contains(">") && !v.exists(_.isWhitespace),
          s"term '$v' is not renderable as an IRI")
        s"<$v>"
      case C(other) => throw new IllegalArgumentException(
        s"non-string constant $other cannot render to surface syntax")
    }
    def pat(tp: TP, indent: String): String =
      s"$indent${term(tp.s, objPos = false)} ${term(tp.p, objPos = false)} ${
        term(tp.o, objPos = true)} ."
    val pats = body.where.map(pat(_, "  "))
    val binds = body.binds.map { case (v, e) =>
      s"  BIND(${renderExpr(e)} AS ?$v)" }
    // OPTIONAL groups render with their block-scoped FILTERs inside —
    // real federation pushes the left join to the remote endpoint
    // instead of failing the query; the remote's unbound cells come back
    // as empty CSV fields → nulls, which the enclosing compatJoin
    // already treats as possibly-unbound (maybeNullVars covers optional
    // vars). Property paths inside OPTIONAL stay loud.
    val optionals = body.optionals.map { ob =>
      require(ob.paths.isEmpty,
        "property paths inside a remote OPTIONAL are not renderable in " +
          "this fragment — restructure the SERVICE block")
      require(ob.pats.nonEmpty, "empty OPTIONAL body in SERVICE block")
      (ob.pats.map(pat(_, "    ")) ++
        ob.filters.map(e => s"    FILTER (${renderExpr(e)})"))
        .mkString("  OPTIONAL {\n", "\n", "\n  }")
    }
    val filters = body.filters.map(e => s"  FILTER (${renderExpr(e)})")
    (pats ++ binds ++ optionals ++ filters)
      .mkString("SELECT * WHERE {\n", "\n", "\n}")
  }

  /** Render a FILTER/BIND expression back to surface syntax — the
    * inverse of the expression grammar for the fragment SERVICE
    * federation ships remotely. Aggregates can't appear in a group body
    * (loud). REGEX/REPLACE pattern literals re-quote verbatim; every
    * composite parenthesizes, so remote re-parsing can't re-associate. */
  private def renderExpr(e: Expr): String = e match {
    case EVar(n) => s"?$n"
    case ENum(v) => v.bigDecimal.toPlainString
    case EStr(v) =>
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case ECmp(l, op, r) => s"(${renderExpr(l)} $op ${renderExpr(r)})"
    case EAnd(l, r) => s"(${renderExpr(l)} && ${renderExpr(r)})"
    case EOr(l, r) => s"(${renderExpr(l)} || ${renderExpr(r)})"
    case ENot(x) => s"(!${renderExpr(x)})"
    case EBound(v) => s"BOUND(?$v)"
    case ERegex(t, p, flags) =>
      val quotedP = "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val quotedF = "\"" + flags + "\""
      if (flags.isEmpty) s"REGEX(${renderExpr(t)}, $quotedP)"
      else s"REGEX(${renderExpr(t)}, $quotedP, $quotedF)"
    case EArith(l, op, r) => s"(${renderExpr(l)} $op ${renderExpr(r)})"
    case EConcat(args) => s"CONCAT(${args.map(renderExpr).mkString(", ")})"
    case EFun(fn, args) if fn.startsWith("XSD:") =>
      // casts re-render as full-IRI function calls — prefix-free text
      s"<http://www.w3.org/2001/XMLSchema#${fn.stripPrefix("XSD:")}>(${
        args.map(renderExpr).mkString(", ")})"
    case EFun(fn, args) => s"$fn(${args.map(renderExpr).mkString(", ")})"
    case _: EAgg => throw new IllegalArgumentException(
      "an aggregate cannot appear in a SERVICE body expression")
  }

  /** The SERVICE solver over a registered-endpoint map: each endpoint is
    * a triples DataFrame (another TripleStore, another parquet corpus, a
    * different cluster's exported graph) or — when the frame carries a
    * `g` column — a full DATASET, and the SERVICE body solves over it
    * with the full group grammar — set-at-a-time federation as one
    * distributed join, not per-binding round-trips. Against a dataset
    * endpoint, patterns outside GRAPH match ITS default graph and GRAPH
    * blocks (nested ones too) match its named graphs — the spec's "the
    * service's dataset" rule. Nested SERVICE resolves against the same
    * map. A VARIABLE endpoint ranges over the registry: the body solves
    * once per registered endpoint (a bounded, driver-known set — the
    * engine's service description) and the branches bag-union with ?ep
    * bound to each IRI; a body that already binds the same variable
    * filters instead, SPARQL's same-variable rule. An endpoint's terms
    * are not in any local dictionary, so its body always solves in string
    * space; from an id-space dataset it joins on the decoded bindings. */
  private def endpointSolver(endpoints: Map[String, DataFrame])
      : (Boolean, Term, Block) => Option[DataFrame] = {
    lazy val solve: (Boolean, Term, Block) => Option[DataFrame] = {
      case (silent, V(epVar), body) =>
        require(endpoints.nonEmpty,
          "SERVICE with a variable endpoint needs a non-empty endpoint " +
            "registry — the variable ranges over registered IRIs")
        val branches = endpoints.keys.toSeq.sorted.flatMap { iri =>
          // under SILENT a per-endpoint failure (e.g. a GRAPH block
          // against a plain-triples endpoint, rejected at solve) skips
          // that branch instead of aborting the whole union — one
          // incompatible registry entry must not make SILENT
          // SERVICE ?ep unusable
          val solved =
            if (silent)
              try solve(silent, C(iri), body)
              catch { case _: IllegalArgumentException => None }
            else solve(silent, C(iri), body)
          solved.map { df =>
            if (df.columns.contains(epVar)) df.filter(col(epVar) === lit(iri))
            else df.withColumn(epVar, lit(iri))
          }
        }
        if (branches.isEmpty) None
        else Some(branches.reduce(_.unionByName(_, allowMissingColumns = true)))
      case (_, C(other), _) if !other.isInstanceOf[String] =>
        throw new IllegalArgumentException(
          s"SERVICE endpoint must be an IRI or a variable, got $other")
      case (silent, C(iriAny), body) =>
        val iri = iriAny.asInstanceOf[String]
        endpoints.get(iri) match {
        // exactly the (s,p,o,g) shape means a DATASET endpoint; a wider
        // frame that merely happens to carry a g column keeps the plain
        // triples semantics it always had
        case Some(ep) if ep.columns.toSet == Set("s", "p", "o", "g") =>
          Some(solveBranch(body,
            quadsDataset(ep, Strings, None, Bgp.solve, solve).scope))
        case Some(ep) => Some(solveBranch(body, Dataset(ep, Left(
          "GRAPH inside SERVICE needs a DATASET endpoint — register a " +
            "quads frame with exactly the columns (s,p,o,g) for this IRI"),
          Strings, Bgp.solve, solve).scope))
        case None if silent => None
        case None => throw new IllegalArgumentException(
          s"SERVICE endpoint <$iri> is not registered — pass it in " +
            "`endpoints` (SILENT would tolerate this)")
        }
    }
    solve
  }

  /** Normalize a variable-graph block's solution against the dataset's
    * named-graph NAME set (`names`: one `gName` column, distinct).
    * Three cases, all required by GRAPH ?g's semantics — eval(GRAPH ?g P)
    * = ⋃ over named g of (eval(P, g) ⋈ {?g → g}):
    *  - ?g never bound (body anchored only by nested GRAPH / SERVICE):
    *    cross with the full name set — ?g is unconstrained;
    *  - ?g bound but NULL on some rows (a UNION branch without a direct
    *    anchor null-pads it): those rows expand over the name set too;
    *  - ?g bound to arbitrary TERMS (the body uses the same variable name
    *    as, say, a subject — `GRAPH ?g { GRAPH <g2> { ?g <q> ?v } }`):
    *    SPARQL makes that the SAME variable, so solutions survive only
    *    when the term IS a named graph — a semi-join against the name
    *    set, which is a no-op for values threaded from the g column. */
  private def normalizeGraphVar(solved: DataFrame, gName: String,
      names: DataFrame): DataFrame =
    if (!solved.columns.contains(gName)) solved.crossJoin(names)
    else {
      val bound = solved.filter(col(gName).isNotNull)
        .join(names, Seq(gName), "left_semi")
      val unbound = solved.filter(col(gName).isNull).drop(gName)
        .crossJoin(names)
      bound.unionByName(unbound)
    }

  /** How a dataset's frames spell terms: as the strings themselves
    * ([[Strings]]) or as dictionary ids ([[Ids]]). The space alone
    * encodes pattern and path constants, gates a pattern group whose
    * constants did not all resolve, and decodes solutions at emission —
    * everything above the pattern groups (joins, FILTER, BIND,
    * aggregation, modifiers) sees terms in either space. */
  private sealed trait TermSpace {
    /** The spelling of one constant term in this space. */
    def spell(v: String): Any
    /** The patterns in this space, and whether every constant resolved. */
    def encode(pats: Seq[TP]): (Seq[TP], Boolean)
    /** A solution's columns back to terms. */
    def decode(solved: DataFrame): DataFrame
    final def term(t: Term): Term = t match {
      case C(v: String) => C(spell(v))
      case other => other
    }
    final def path(p: Path): Path = mapPath(p, spell)
  }

  private case object Strings extends TermSpace {
    def spell(v: String): Any = v
    def encode(pats: Seq[TP]): (Seq[TP], Boolean) = (pats, true)
    def decode(solved: DataFrame): DataFrame = solved
  }

  /** Dictionary ids, with the query's constants resolved once
    * ([[idSpace]]). */
  private final case class Ids(dict: DataFrame, idOf: Map[String, Long])
      extends TermSpace {
    // An unresolved constant (a term occurring in no triple) spells as a
    // sentinel id that matches nothing. A pattern group with one is gated
    // to empty ([[Scope.bgp]]); a path is not gated, so each unresolved
    // alternation branch or endpoint contributes no pairs — matching
    // string-space semantics. Gating the WHOLE path would wrongly empty
    // resolvable branches of `(<known>|<unknown>)+` and break `*`'s
    // zero-hop. Sentinel collision with a real id is impossible for dense
    // ids (≥ 1) and 2^-64 for hashed ids — the same audited assumption as
    // Dictionary.hashIds. One inherent dictionary-semantics divergence
    // remains: an out-of-dictionary constant path endpoint cannot appear
    // in results (its zero-hop row has no term to decode to), where the
    // string engine emits it.
    def spell(v: String): Any = idOf.getOrElse(v, Long.MinValue)
    def encode(pats: Seq[TP]): (Seq[TP], Boolean) =
      EncodedBgp.encodeResolved(pats, idOf)
    def decode(solved: DataFrame): DataFrame =
      EncodedBgp.decode(solved, dict, solved.columns)
  }

  /** The id space of one query over `dict`: ONE dictionary-lookup job
    * resolves every constant the query can spell — patterns and paths of
    * every block (UNION branches, OPTIONAL, MINUS and EXISTS bodies,
    * subqueries, GRAPH and SERVICE bodies) and, for a quads store, graph
    * names of GRAPH and FROM clauses and the default-graph name (a triples
    * store resolves them too, unused). MINUS must be in the batch: a
    * MINUS-only constant absent from the map would gate the MINUS block to
    * empty, silently returning a superset (nothing subtracted). */
  private def idSpace(dict: DataFrame, q: Query): Ids = {
    val blocks = allBlocks(q)
    val bodies = blocks.flatMap(b =>
      b.optionals ++ b.minuses ++ b.exists.map(_._2))
    val pats = blocks.flatMap(_.where) ++ bodies.flatMap(_.pats)
    val pathTerms = (blocks.flatMap(_.paths) ++ bodies.flatMap(_.paths))
      .flatMap { case (s, path, o) =>
        pathStrings(path) ++ Seq(s, o).collect { case C(v: String) => v } }
    val graphTerms = blocks.flatMap(_.graphs.map(_._1))
      .collect { case C(v: String) => v } ++
      q.fromGraphs ++ q.fromNamed :+ Quads.DefaultGraph
    Ids(dict, EncodedBgp.resolveConstants(dict, pats,
      (pathTerms ++ graphTerms).distinct))
  }

  /** The RDF dataset one query evaluates over: the default graph's
    * `(s, p, o)`, the named graphs' `(s, p, o, g)` (Left: why GRAPH is
    * rejected — a triples store has none), both spelled in `space`; the
    * BGP solver a pattern group runs over one graph's frame (plain,
    * star-collapsed or ExtVP); and the SERVICE solver (registered
    * endpoints or [[HttpEndpoint.serviceSolver]]). */
  private final case class Dataset(default: DataFrame,
      graphs: Either[String, DataFrame], space: TermSpace,
      bgp: (DataFrame, Seq[TP]) => DataFrame,
      service: (Boolean, Term, Block) => Option[DataFrame]) {

    /** Patterns outside any GRAPH block match the default graph. */
    def scope: Scope = Scope(this, default)

    /** `GRAPH g { inner }`. A constant graph: the block's FULL group body
      * (OPTIONAL, FILTER, BIND, paths, …) solves over that one graph's
      * slice; a NESTED GRAPH re-scopes the active graph, so it recurses
      * and its solutions join the body on shared variables — the spec's
      * group-join semantics. A variable graph ranges over the NAMED
      * graphs only (the dataset rule): every pattern group threads the ?g
      * binding ([[Scope]]; subqueries under it correlate via
      * [[adoptGraphVar]], their LIMIT/OFFSET applying per graph) and the
      * solution normalizes against the named-graph name set
      * ([[normalizeGraphVar]]). */
    def graph(g: Term, inner: Block): DataFrame = {
      val named = graphs.fold(why => throw new IllegalArgumentException(why),
        identity)
      g match {
        case C(gv: String) => solveBranch(inner, Scope(this, named
          .filter(col("g") === lit(space.spell(gv))).select("s", "p", "o")))
        case C(other) => throw new IllegalArgumentException(
          s"GRAPH constant must be an IRI, got $other")
        case V(gName) =>
          val inNamed =
            named.filter(col("g") =!= lit(space.spell(Quads.DefaultGraph)))
          val solved = solveBranch(inner, Scope(this, inNamed, Some(gName)))
          normalizeGraphVar(solved, gName,
            space.decode(inNamed.select(col("g").as(gName)).distinct()))
      }
    }
  }

  /** Where a group pattern solves: the `active` graph's `(s, p, o)` or,
    * under `GRAPH ?g` (`graphVar`), the named graphs' `(s, p, o, g)` with
    * the graph name threaded through every pattern group and path as ?g
    * — one more join key, so a group's patterns match in one graph and
    * closures never cross graphs. Either way the solutions come out as
    * terms. */
  private final case class Scope(ds: Dataset, active: DataFrame,
      graphVar: Option[String] = None) {

    def bgp(pats: Seq[TP]): DataFrame = {
      val (encoded, resolved) = ds.space.encode(pats)
      val solved = graphVar match {
        case None => ds.bgp(active, encoded)
        case Some(g) => encoded.map(tp => Bgp.onePattern(active,
            Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o, "g" -> V(g))))
          .reduce(Bgp.joinSolved)
      }
      // a constant absent from the dictionary occurs in no triple: the
      // group provably has no solutions
      ds.space.decode(if (resolved) solved else solved.filter(lit(false)))
    }

    def path(path: Path, s: Term, o: Term): DataFrame = {
      val (p, ps, po) =
        (ds.space.path(path), ds.space.term(s), ds.space.term(o))
      ds.space.decode(graphVar.fold(solvePathOver(active, p, ps, po))(
        solvePathOverGraphs(active, _, p, ps, po)))
    }
  }

  private def bgpSolver(collapseStars: Boolean)
      : (DataFrame, Seq[TP]) => DataFrame =
    if (collapseStars) Bgp.solveStarCollapsed else Bgp.solve

  /** A triples store as a dataset: its one graph is the default graph, so
    * FROM / FROM NAMED and GRAPH are rejected, naming the quads entry
    * point. `space` is by-name: a rejected query runs no lookup. */
  private def triplesDataset(q: Query, quadsEntry: String,
      triples: DataFrame, space: => TermSpace,
      bgp: (DataFrame, Seq[TP]) => DataFrame,
      service: (Boolean, Term, Block) => Option[DataFrame]): Dataset = {
    require(q.fromGraphs.isEmpty && q.fromNamed.isEmpty,
      "FROM / FROM NAMED dataset clauses require a quads dataset — " +
        s"use Sparql.$quadsEntry")
    Dataset(triples,
      Left(s"GRAPH requires a quad dataset — use Sparql.$quadsEntry"),
      space, bgp, service)
  }

  /** A quads frame `(s, p, o, g)` as a dataset. Without a dataset
    * description the default graph is [[Quads.DefaultGraph]] and every
    * other graph is named. `from` = (FROM, FROM NAMED) describes the
    * dataset EXACTLY (SPARQL 13.2): the default graph becomes the RDF
    * MERGE of the FROM graphs — a set union, so multi-graph merges dedup
    * (one distinct, only when needed) — and GRAPH ranges over the FROM
    * NAMED graphs only (none when the description has no FROM NAMED). */
  private def quadsDataset(quads: DataFrame, space: TermSpace,
      from: Option[(Seq[String], Seq[String])],
      bgp: (DataFrame, Seq[TP]) => DataFrame,
      service: (Boolean, Term, Block) => Option[DataFrame]): Dataset = {
    def in(gs: Seq[String]) =
      quads.filter(col("g").isin(gs.map(space.spell): _*))
    val default = from match {
      case None => quads
        .filter(col("g") === lit(space.spell(Quads.DefaultGraph)))
        .select("s", "p", "o")
      case Some((fromGraphs, _)) =>
        val merged = in(fromGraphs).select("s", "p", "o")
        if (fromGraphs.size > 1) merged.distinct() else merged
    }
    Dataset(default, Right(from.fold(quads)(d => in(d._2))), space, bgp,
      service)
  }

  /** The query's own FROM / FROM NAMED description, if it has one. */
  private def fromClauses(q: Query): Option[(Seq[String], Seq[String])] =
    Some((q.fromGraphs, q.fromNamed))
      .filter { case (f, n) => f.nonEmpty || n.nonEmpty }

  /** Parse and execute against a quads DataFrame(s,p,o,g) — an RDF
    * dataset. Patterns outside GRAPH match the default graph
    * ([[Quads.DefaultGraph]]); `GRAPH ?g`/`GRAPH <iri>` blocks match named
    * graphs ([[Dataset.graph]]). */
  def runQuads(quads: DataFrame, text: String,
      collapseStars: Boolean = false,
      endpoints: Map[String, DataFrame] = Map.empty,
      protocolDataset: Option[(Seq[String], Seq[String])] = None)
      : DataFrame = {
    val q = parse(text)
    // SPARQL Protocol §2.1.4: a dataset given in the request
    // (default-graph-uri*/named-graph-uri*) takes PRECEDENCE over the
    // query's own FROM / FROM NAMED clauses
    execute(q, quadsDataset(quads, Strings,
      protocolDataset.orElse(fromClauses(q)), bgpSolver(collapseStars),
      endpointSolver(endpoints)).scope)
  }

  /** [[runQuads]] with SERVICE federation against LIVE HTTP endpoints —
    * the quads twin of [[runHttpFederated]]: GRAPH blocks solve the
    * local dataset with the full grammar while SERVICE bodies (pure
    * BGPs) execute on remote SPARQL Protocol endpoints and join
    * set-at-a-time. */
  def runQuadsHttpFederated(quads: DataFrame, text: String,
      urls: Map[String, String],
      collapseStars: Boolean = false): DataFrame = {
    val q = parse(text)
    require(q.fromGraphs.isEmpty && q.fromNamed.isEmpty,
      "combine FROM / FROM NAMED with live federation via runQuads's " +
        "protocolDataset parameter — not supported on this entry point")
    execute(q, quadsDataset(quads, Strings, None, bgpSolver(collapseStars),
      HttpEndpoint.serviceSolver(quads.sparkSession, urls)).scope)
  }

  /** Parse and execute against the dictionary-encoded id-triple store —
    * the complete reference pipeline: text → BGP algebra → constants
    * encoded to ids → the whole join tree over longs → bindings decoded at
    * emission ([[EncodedBgp]]). OPTIONAL / MINUS blocks and property paths
    * are likewise solved in id space (path closures iterate over 8-byte
    * longs) and joined after decode; FILTER / BIND / aggregation apply to
    * the decoded bindings, where they mean the same thing as in [[run]].
    *
    * SERVICE federates from id space too: the endpoint body solves over
    * the registered frame in STRING space (an endpoint's terms are not in
    * this store's dictionary, so id-space execution there is meaningless)
    * and joins the enclosing block on the decoded bindings — decode
    * already happens at every pattern group's emission, so the federation
    * boundary costs nothing extra.
    */
  def runEncoded(enc: DataFrame, dict: DataFrame, text: String,
      collapseStars: Boolean = false,
      endpoints: Map[String, DataFrame] = Map.empty): DataFrame = {
    val q = parse(text)
    execute(q, triplesDataset(q, "runQuadsEncoded", EncodedBgp.asTriples(enc),
      idSpace(dict, q), bgpSolver(collapseStars),
      endpointSolver(endpoints)).scope)
  }

  /** Parse and execute against a dictionary-encoded QUADS store
    * (sid, pid, oid, gid) — the reference's id-space execution model
    * extended to RDF datasets: GRAPH blocks (constant AND variable),
    * FROM / FROM NAMED dataset clauses and property paths (including
    * under `GRAPH ?var`) all solve over 8-byte longs, with the graph id
    * one more fixed-width join key; bindings decode to terms only at
    * emission. Build the store with [[Dictionary.buildQuads]] +
    * [[Dictionary.encodeQuads]] (graph names are dictionary terms). */
  def runQuadsEncoded(encQuads: DataFrame, dict: DataFrame, text: String,
      collapseStars: Boolean = false,
      endpoints: Map[String, DataFrame] = Map.empty): DataFrame = {
    val q = parse(text)
    val quads = encQuads.select(col("sid").as("s"), col("pid").as("p"),
      col("oid").as("o"), col("gid").as("g"))
    execute(q, quadsDataset(quads, idSpace(dict, q), fromClauses(q),
      bgpSolver(collapseStars), endpointSolver(endpoints)).scope)
  }

  /** Evaluate a path pattern over a triples frame, seeding the closure at
    * a constant endpoint when the whole path is a `+` — reachability FROM
    * a seed is O(reachable) frontier work, where filtering the full
    * closure would compute every node's reachability just to discard it.
    * (`*`/`?` keep the unseeded evaluation: their zero-length row depends
    * on the graph's term set, which the seeded form can't observe.) */
  private def solvePathOver(triples: DataFrame, path: Path, s: Term,
      o: Term): DataFrame = {
    val edges = (path, s, o) match {
      case (PPlus(q), C(v), V(_)) =>
        Paths.closureFrom(Paths.evalPath(triples, q), Seq(v))
      case (PPlus(q), V(_), C(v)) =>
        // seed the REVERSED edges at the constant object, then swap back
        Paths.closureFrom(Paths.evalPath(triples, q)
            .select(col("dst").as("src"), col("src").as("dst")), Seq(v))
          .select(col("dst").as("src"), col("src").as("dst"))
      case _ => Paths.evalPath(triples, path)
    }
    // SPARQL 18.4: a zero-length path matches a CONSTANT endpoint to
    // itself unconditionally — even a term occurring in no triple (the
    // graph-term zero-hop inside evalPath only covers occurring terms)
    val withZero = (path, s, o) match {
      case (PStar(_) | POpt(_), C(v), _) =>
        edges.unionByName(selfPair(triples, v)).distinct()
      case (PStar(_) | POpt(_), _, C(v)) =>
        edges.unionByName(selfPair(triples, v)).distinct()
      case _ => edges
    }
    pathSolution(withZero, s, o)
  }

  /** [[solvePathOver]] under `GRAPH ?g`, over the named graphs' quads
    * only (GRAPH ?var ranges over NAMED graphs — the default graph must
    * contribute neither edges nor zero-hop terms): pairs solve per named
    * graph ([[Paths.evalPathGraphs]] — `g` is one more equi-join key, so
    * closures and sequences never cross graphs) and the graph name stays
    * bound as `?g` in the solution, which is exactly the same-active-graph
    * join variable the rest of the block threads. */
  private def solvePathOverGraphs(quads: DataFrame, gName: String,
      path: Path, s: Term, o: Term): DataFrame = {
    val edges = (path, s, o) match {
      case (PPlus(q), C(v), V(_)) =>
        Paths.closureFromGraphs(Paths.evalPathGraphs(quads, q), Seq(v))
      case (PPlus(q), V(_), C(v)) =>
        Paths.closureFromGraphs(Paths.evalPathGraphs(quads, q)
            .select(col("g"), col("dst").as("src"), col("src").as("dst")),
            Seq(v))
          .select(col("g"), col("dst").as("src"), col("src").as("dst"))
      case _ => Paths.evalPathGraphs(quads, path)
    }
    // zero-length constant endpoint: the active graph iterates over every
    // named graph, and in each the constant matches itself unconditionally
    def allGraphSelf(v: Any): DataFrame = quads.select(col("g")).distinct()
      .select(col("g"), lit(v).as("src"), lit(v).as("dst"))
    val withZero = (path, s, o) match {
      case (PStar(_) | POpt(_), C(v), _) =>
        edges.unionByName(allGraphSelf(v)).distinct()
      case (PStar(_) | POpt(_), _, C(v)) =>
        edges.unionByName(allGraphSelf(v)).distinct()
      case _ => edges
    }
    // keep the graph under a reserved temp name while binding endpoints:
    // an endpoint VARIABLE may itself be named "g", which must not be
    // conflated with the frame's graph column
    val tmp = "__graft_g"
    val g0 = withZero.withColumnRenamed("g", tmp)
    val (sol, endpointVars) = (s, o) match {
      case (V(a), V(b)) if a == b =>
        (g0.filter(col("src") === col("dst"))
          .select(col(tmp), col("src").as(a)), Set(a))
      case (V(a), V(b)) =>
        (g0.select(col(tmp), col("src").as(a), col("dst").as(b)), Set(a, b))
      case (C(v), V(b)) =>
        (g0.filter(col("src") === lit(v))
          .select(col(tmp), col("dst").as(b)), Set(b))
      case (V(a), C(v)) =>
        (g0.filter(col("dst") === lit(v))
          .select(col(tmp), col("src").as(a)), Set(a))
      case (C(_), C(_)) => throw new IllegalArgumentException(
        "a property-path pattern needs at least one variable endpoint")
    }
    // the graph variable may coincide with a path endpoint variable
    // (GRAPH ?g { ?g <p> ?x }): that's an equality constraint, not a
    // second column
    if (endpointVars.contains(gName))
      sol.filter(col(tmp) === col(gName)).drop(tmp)
    else sol.withColumnRenamed(tmp, gName)
  }

  /** A one-row (v, v) pair frame, typed like the plan's node columns. */
  private def selfPair(ref: DataFrame, v: Any): DataFrame =
    ref.sparkSession.range(1)
      .select(lit(v).as("src"), lit(v).as("dst"))

  /** Bind a path's (src, dst) pair set to the pattern's endpoint terms. */
  private def pathSolution(edges: DataFrame, s: Term, o: Term): DataFrame =
    (s, o) match {
      case (V(a), V(b)) if a == b =>
        edges.filter(col("src") === col("dst")).select(col("src").as(a))
      case (V(a), V(b)) => edges.select(col("src").as(a), col("dst").as(b))
      case (C(v), V(b)) =>
        edges.filter(col("src") === lit(v)).select(col("dst").as(b))
      case (V(a), C(v)) =>
        edges.filter(col("dst") === lit(v)).select(col("src").as(a))
      case (C(_), C(_)) => throw new IllegalArgumentException(
        "a property-path pattern needs at least one variable endpoint")
    }

  /** Every block of the query — nested union branches and subquery blocks
    * recursively — so the encoded path resolves ALL constants in one
    * dictionary lookup (a constant seen only inside a nested group must
    * not gate its patterns to empty). */
  private def allBlocks(q: Query): Seq[Block] = {
    def tree(b: Block): Seq[Block] =
      b +: (b.unions.flatten.flatMap(tree) ++ b.subqueries.flatMap(allBlocks) ++
        b.graphs.map(_._2).flatMap(tree) ++ b.services.map(_._3).flatMap(tree))
    q.branches.flatMap(tree)
  }

  private def pathStrings(path: Path): Seq[String] = path match {
    case PEdge(v: String) => Seq(v)
    case PEdge(_) => Nil
    case PSeq(l, r) => pathStrings(l) ++ pathStrings(r)
    case PAlt(l, r) => pathStrings(l) ++ pathStrings(r)
    case PPlus(q) => pathStrings(q)
    case PStar(q) => pathStrings(q)
    case POpt(q) => pathStrings(q)
    case PInv(q) => pathStrings(q)
    // NPS members resolve too: an unresolved member maps to the sentinel
    // and excludes nothing — matching string-space semantics, where a
    // never-occurring negated predicate doesn't constrain the scan
    case PNps(fwd, inv) => (fwd ++ inv).collect { case v: String => v }
  }

  private def mapPath(path: Path, f: String => Any): Path = path match {
    case PEdge(v: String) => PEdge(f(v))
    case e: PEdge => e
    case PSeq(l, r) => PSeq(mapPath(l, f), mapPath(r, f))
    case PAlt(l, r) => PAlt(mapPath(l, f), mapPath(r, f))
    case PPlus(q) => PPlus(mapPath(q, f))
    case PStar(q) => PStar(mapPath(q, f))
    case POpt(q) => POpt(mapPath(q, f))
    case PInv(q) => PInv(mapPath(q, f))
    case PNps(fwd, inv) =>
      def m(xs: Seq[Any]) = xs.map { case v: String => f(v); case other => other }
      PNps(m(fwd), m(inv))
  }

  /** The one evaluator: lower a parsed query in a [[Scope]] of its
    * [[Dataset]]. The scope's pattern groups and paths come out as terms,
    * so everything above them (BIND, OPTIONAL, FILTER, UNION,
    * aggregation, solution modifiers) is independent of the term space
    * and the dataset shape. */
  private def execute(q: Query, scope: Scope): DataFrame = {
    // DESCRIBE has its own result shape (a graph about the named
    // resources) and may have no WHERE at all
    q.describe.foreach { terms => return describeResult(q, terms, scope) }
    val solved = q.branches.map(solveBranch(_, scope))
    var df = solved.reduce(_.unionByName(_, allowMissingColumns = true))
    // ASK = "does any solution exist": limit(1) stops the scan at the
    // first match, the aggregate makes it a 1-row boolean frame
    if (q.ask) return df.limit(1).agg((count(lit(1)) > 0).as("ask"))
    // CONSTRUCT = instantiate each template pattern once per solution and
    // union; a graph is a SET of triples, hence the distinct
    q.construct.foreach { template =>
      val bound = df.columns.toSet
      val tVars = template.flatMap(tp => Seq(tp.s, tp.p, tp.o))
        .collect { case V(n) => n }
      require(tVars.forall(bound), s"CONSTRUCT template uses unbound " +
        s"variables: ${tVars.filterNot(bound).mkString(", ")}")
      def t2c(t: Term): Column = t match {
        case V(n) => col(n)
        case C(v) => lit(v)
      }
      // materialize the solved bindings ONCE when the template has several
      // patterns — mapping the template over the unmaterialized frame
      // would re-run the whole BGP join tree once per pattern
      // ([[graft.Materialize]]: executor-local by default, reliable when
      // graft.checkpoint.dir is set).
      val mat = if (template.size > 1) graft.Materialize(df) else df
      return template.map(tp => mat.select(
          t2c(tp.s).cast("string").as("s"), t2c(tp.p).cast("string").as("p"),
          t2c(tp.o).cast("string").as("o")))
        .reduce(_.unionByName(_)).distinct()
    }
    val aggregated = q.groupVars.nonEmpty || q.selectAggs.nonEmpty ||
      q.having.isDefined ||
      q.selectBinds.exists(b => collectAggs(b._2).nonEmpty) ||
      q.orderKeys.exists(_.expr.exists(collectAggs(_).nonEmpty))
    // aggEnv resolves EAgg references in ORDER BY expression keys to the
    // hidden aggregate columns; aggDrop defers their removal until after
    // the sort keys are computed below
    var aggEnv = Map.empty[EAgg, String]
    var aggDrop = Seq.empty[String]
    if (aggregated) {
      val (adf, env, drops) = aggregate(q, df)
      df = adf; aggEnv = env; aggDrop = drops
    }
    // non-aggregate select-bindings compute from the solution directly
    else q.selectBinds.foreach { case (v, e) =>
      require(!df.columns.contains(v), s"SELECT (... AS ?$v) would rebind ?$v")
      df = df.withColumn(v, scalarCol(e, numericExpr(e), Map.empty))
    }
    // the query-final VALUES (18.2.4.4): join the data block after
    // aggregation/HAVING, before projection and the remaining modifiers.
    // Possibly-unbound shared variables (anything trailingDefinite
    // cannot prove bound — a sound over-approximation: a spurious
    // maybe-null only adds an empty mask group) run the compatibility
    // join like every other join in the engine.
    q.trailingValues.foreach { case (vars, rows) =>
      val (vdf, undef) = valuesFrame(df.sparkSession, vars, rows)
      val definite = trailingDefinite(q)
      df = compatJoin(
        Sol(df, df.columns.toSet.filterNot(definite)),
        Sol(vdf, undef)).df
    }
    // hidden expression ORDER keys compute BEFORE projection (18.2.5:
    // ordering sees the full solution) — except under DISTINCT, where a
    // key over non-projected variables could split equal projected rows,
    // so only projected variables are allowed there (loudly)
    val hiddenKeys = scala.collection.mutable.ArrayBuffer.empty[String]
    q.orderKeys.zipWithIndex.foreach { case (k, i) =>
      k.expr.foreach { e =>
        if (q.distinct) {
          val out = exprVars(e).filterNot(q.projection.contains)
          require(out.isEmpty, "an ORDER BY expression under DISTINCT may " +
            s"use projected variables only; not projected: ${
              out.map("?" + _).mkString(", ")}")
        }
        val n = s"__ok$i"
        hiddenKeys += n
        df = df.withColumn(n, scalarCol(e, numericExpr(e), aggEnv))
      }
    }
    if (q.projection != Seq("*"))
      df = df.select((q.projection ++ hiddenKeys).map(col): _*)
    else {
      // SELECT * projects only named variables — blank-node bindings are
      // internal and must not leak
      val bnodes = df.columns.filter(_.startsWith("_:"))
      if (bnodes.nonEmpty) df = df.drop(bnodes: _*)
      if (aggDrop.nonEmpty) df = df.drop(aggDrop: _*)
    }
    // under DISTINCT the hidden keys are functions of projected variables
    // (enforced above), so distinct over projection+keys ≡ over projection
    if (q.distinct) df = df.distinct()
    val orderCols = q.orderKeys.zipWithIndex.flatMap { case (k, i) =>
      // expression keys are computed scalars (numbers/strings) and sort
      // natively; a plain VARIABLE key sorts by the SPARQL 15.1 total
      // order (unbound < blank < IRI < literal, numerics by value) —
      // Terms.orderKeyCols' flat sort orders, which reduce to raw-string
      // order on bare plain-lexical stores
      if (k.expr.isDefined) {
        val key = col(s"__ok$i")
        Seq(if (k.asc) key.asc_nulls_first else key.desc_nulls_last)
      } else if (df.schema(k.v).dataType !=
          org.apache.spark.sql.types.StringType) {
        // a NATIVE typed column (a BIND's numeric cast, a subquery
        // aggregate): its value order IS the SPARQL order for its kind —
        // the term-string key machinery would stringify it
        val key = col(k.v)
        Seq(if (k.asc) key.asc_nulls_first else key.desc_nulls_last)
      } else Terms.orderKeyCols(col(k.v), k.asc)
    }
    // when the per-graph window below will slice, it re-applies the same
    // keys inside its own per-partition sort — a global orderBy here
    // would add a redundant full-relation range exchange + sort
    val graphWindow = scope.graphVar.filter(g => df.columns.contains(g) &&
      (q.limit.nonEmpty || q.offset.nonEmpty))
    if (orderCols.nonEmpty && graphWindow.isEmpty)
      df = df.orderBy(orderCols: _*)
    graphWindow match {
      case Some(g) =>
        // this query is a subquery under GRAPH ?g: eval(GRAPH ?g P)
        // evaluates P once per named graph, so its OFFSET/LIMIT slice
        // EACH graph's solution sequence (18.2.5 applied per
        // evaluation), not the union — a window, not a global limit.
        // Declared order keys lead; the remaining columns tie-break so
        // the slice is deterministic where the spec leaves a choice
        // (the same refinement a re-run must reproduce).
        val ties = df.columns.toSeq.sorted.map(asc_nulls_first)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(g)).orderBy(orderCols ++ ties: _*)
        val off = q.offset.getOrElse(0)
        var keep = col("__rn") > off
        q.limit.foreach(l => keep = keep && col("__rn") <= off + l)
        df = df.withColumn("__rn", row_number().over(w))
          .filter(keep).drop("__rn")
      case None =>
        q.offset.foreach(n => df = df.offset(n))
        q.limit.foreach(n => df = df.limit(n))
    }
    if (hiddenKeys.nonEmpty) df = df.drop(hiddenKeys.toSeq: _*)
    df
  }

  /** Rewrite a subquery under `GRAPH ?g` so the active-graph variable
    * survives its projection and grouping: eval(GRAPH ?g P) evaluates P
    * once per named graph, so a subquery inside P is correlated BY ?g —
    * the solver already threads ?g through its pattern groups (one more
    * join key, exactly like property paths do), and this rewrite keeps
    * the column visible: appended to an explicit projection, and, when
    * the subquery aggregates, to GROUP BY (a global aggregate under
    * GRAPH ?g IS a per-graph aggregate). LIMIT/OFFSET likewise apply
    * PER GRAPH — [[execute]] lowers them to a row_number window
    * partitioned by ?g instead of a global limit; every branch needs a
    * triple/path anchor to bind ?g. */
  private def adoptGraphVar(q: Query, g: String): Query = {
    q.branches.foreach { b =>
      require(b.where.nonEmpty || b.paths.nonEmpty,
        s"every branch of a subquery under GRAPH ?$g needs a triple or " +
          s"path anchor to bind ?$g")
    }
    val aggregated = q.groupVars.nonEmpty || q.selectAggs.nonEmpty ||
      q.having.isDefined ||
      q.selectBinds.exists(b => collectAggs(b._2).nonEmpty) ||
      q.orderKeys.exists(_.expr.exists(collectAggs(_).nonEmpty))
    q.copy(
      projection =
        if (q.projection == Seq("*") || q.projection.contains(g)) q.projection
        else q.projection :+ g,
      groupVars =
        if (aggregated && !q.groupVars.contains(g)) q.groupVars :+ g
        else q.groupVars)
  }

  /** A VALUES data block as a nullable solution frame (UNDEF → null)
    * plus the set of variables any row leaves UNDEF — the Sol shape, so
    * block-level VALUES and the query-final ValuesClause both join
    * through [[compatJoin]]'s mask-group decomposition like every other
    * solution join in the engine. */
  private def valuesFrame(spark: SparkSession, vars: Seq[String],
      rows: Seq[Seq[Option[String]]]): (DataFrame, Set[String]) = {
    val schema = org.apache.spark.sql.types.StructType(vars.map(v =>
      org.apache.spark.sql.types.StructField(v,
        org.apache.spark.sql.types.StringType, nullable = true)))
    val vdf = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r.map(_.orNull): _*)): _*), schema)
    (vdf, vars.zipWithIndex.collect {
      case (v, i) if rows.exists(_(i).isEmpty) => v }.toSet)
  }

  /** A solution frame plus the variables whose bindings may be
    * SPARQL-unbound (null cells) in some row — union padding, OPTIONAL,
    * VALUES UNDEF, nullable BIND expressions, subquery non-definite
    * projections. Joins must never equi-join on such a variable: SPARQL
    * compatibility treats unbound as matching anything, SQL null keys
    * match nothing. */
  private final case class Sol(df: DataFrame, maybeNull: Set[String])

  /** Inner-join two solution frames on shared variables under SPARQL
    * COMPATIBILITY (18.2.2.4): an unbound shared cell matches anything
    * and the joined row takes the bound side's value. Statically-bound
    * shared variables ride the plain equi-join. Each possibly-unbound
    * shared variable splits its side into bound/unbound row groups, and
    * the join distributes over that partition EXACTLY: every
    * (maskA, maskB) group pair equi-joins on the variables bound on
    * both sides (a cross join when none are — that IS the spec's
    * semantics for fully-incomparable rows) and the group results
    * bag-union. ≤ 2^|maybeNull∩shared| groups per side; a loud cap
    * keeps a pathological query from silently exploding the plan —
    * at that point the query needs restructuring, not patience.
    *
    * The result's maybe-null set is PRECISE on shared variables: a
    * variable bound on either side is definitely bound after the
    * compatibility join (the coalesce picks the bound cell), which
    * keeps downstream joins on it single-group. */
  private def compatJoin(a: Sol, b: Sol): Sol = {
    val shared = (a.df.columns.toSet intersect b.df.columns.toSet)
      .toSeq.sorted
    val ma = shared.filter(a.maybeNull)
    val mb = shared.filter(b.maybeNull)
    val outMaybe = (a.maybeNull ++ b.maybeNull) --
      shared.filter(v => !a.maybeNull(v) || !b.maybeNull(v))
    if (ma.isEmpty && mb.isEmpty)
      return Sol(Bgp.joinSolved(a.df, b.df), outMaybe)
    // the cap bounds the PRODUCT of mask groups (what the plan actually
    // pays — part joins unioned into one plan), not each side alone:
    // 4-per-side would still admit 2^4 × 2^4 = 256 part joins
    require((1 << ma.size) * (1 << mb.size) <= 16,
      "joining pattern groups would need " +
        s"${(1 << ma.size) * (1 << mb.size)} part joins (> 16) over the " +
        s"possibly-unbound shared variables ${(ma ++ mb).distinct
          .map("?" + _).mkString(", ")} — restructure the query")
    val aCols = a.df.columns.toSeq
    val outCols = aCols ++ b.df.columns.toSeq.filterNot(aCols.contains)
    val parts = for (mka <- maskSeq(ma); mkb <- maskSeq(mb)) yield {
      val fa = maskSlice(a.df, ma, mka)
      val fb0 = maskSlice(b.df, mb, mkb)
      // shared vars bound on both sides in this group pair = join keys;
      // the rest collide by name only — rename b's, merge by coalesce
      // (at most one side is bound, so coalesce IS the spec's merge)
      val keys = shared.filter(v =>
        mka.getOrElse(v, true) && mkb.getOrElse(v, true))
      val collide = shared.filterNot(keys.contains)
      val fb = collide.foldLeft(fb0)((df, v) =>
        df.withColumnRenamed(v, s"__cj_$v"))
      Bgp.joinSolved(fa, fb).select(outCols.map {
        case v if collide.contains(v) =>
          coalesce(col(v), col(s"__cj_$v")).as(v)
        case v => col(v)
      }: _*)
    }
    Sol(parts.reduce(_.unionByName(_)), outMaybe)
  }

  private def maskSlice(df: DataFrame, vs: Seq[String],
      mask: Map[String, Boolean]): DataFrame =
    vs.foldLeft(df)((d, v) =>
      d.filter(if (mask(v)) col(v).isNotNull else col(v).isNull))

  private def maskSeq(vs: Seq[String]): Seq[Map[String, Boolean]] =
    (0 until (1 << vs.size)).map(i =>
      vs.zipWithIndex.map { case (v, j) =>
        v -> (((i >> j) & 1) == 1) }.toMap)

  /** SPARQL LeftJoin with compatibility on possibly-unbound left-side
    * shared variables — the nested-OPTIONAL idiom (`OPTIONAL { … ?x }
    * OPTIONAL { ?x … }`): decompose the LEFT side into bound/unbound
    * mask groups (the right side of an OPTIONAL body always binds its
    * variables), left-outer-join each group on the vars its mask keeps
    * bound, merge the rest by coalesce. Each left row lands in exactly
    * one group, so the bag union is exact. */
  private def compatOptional(left: DataFrame, maybeNull: Set[String],
      solved: DataFrame): DataFrame = {
    val shared = solved.columns.filter(left.columns.contains).toSeq.sorted
    val m = shared.filter(maybeNull)
    if (m.isEmpty) return Bgp.optionalSolved(left, solved)
    require(m.size <= 4,
      s"OPTIONAL over ${m.size} possibly-unbound shared variables (${
        m.map("?" + _).mkString(", ")}) — restructure the query")
    val leftCols = left.columns.toSeq
    val outCols = leftCols ++ solved.columns.filterNot(leftCols.contains)
    maskSeq(m).map { mk =>
      val fa = maskSlice(left, m, mk)
      val keys = shared.filter(v => mk.getOrElse(v, true))
      val collide = shared.filterNot(keys.contains)
      val fb = collide.foldLeft(solved)((df, v) =>
        df.withColumnRenamed(v, s"__cj_$v"))
      Bgp.optionalSolved(fa, fb).select(outCols.map {
        case v if collide.contains(v) =>
          coalesce(col(v), col(s"__cj_$v")).as(v)
        case v => col(v)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** FILTER [NOT] EXISTS with compatibility on possibly-unbound
    * left-side shared variables: μ1 passes EXISTS iff some block row is
    * compatible — each mask group semi-joins (anti for NOT) on exactly
    * its bound shared vars; a group binding none is compatible with
    * every block row, which the empty-key semi/anti (join on `true`)
    * expresses exactly. */
  private def compatSemiAnti(left: DataFrame, maybeNull: Set[String],
      blk: DataFrame, positive: Boolean): DataFrame = {
    val shared = blk.columns.filter(left.columns.contains).toSeq.sorted
    val m = shared.filter(maybeNull)
    def plain(fa: DataFrame, fb: DataFrame) =
      if (positive) Bgp.existsSolved(fa, fb)
      else Bgp.notExistsSolved(fa, fb)
    if (m.isEmpty) return plain(left, blk)
    require(m.size <= 4,
      s"FILTER [NOT] EXISTS over ${m.size} possibly-unbound shared " +
        s"variables (${m.map("?" + _).mkString(", ")}) — restructure " +
        "the query")
    maskSeq(m).map { mk =>
      val fa = maskSlice(left, m, mk)
      val bound = shared.filter(v => mk.getOrElse(v, true))
      // drop the block columns this mask leaves unbound on the left, so
      // the semi/anti keys are exactly the bound shared vars
      plain(fa, blk.drop(shared.filterNot(bound.contains): _*))
    }.reduce(_.unionByName(_))
  }

  /** SPARQL MINUS with compatibility on possibly-unbound left-side
    * shared variables: μ1 is removed iff some block row agrees on
    * dom(μ1) ∩ dom(μ2) ≠ ∅ — so a left row binding NONE of the shared
    * variables survives (empty domain intersection, 8.3.3), and every
    * other mask group anti-joins on exactly its bound shared vars. */
  private def compatMinus(left: DataFrame, maybeNull: Set[String],
      blk: DataFrame): DataFrame = {
    val shared = blk.columns.filter(left.columns.contains).toSeq.sorted
    val m = shared.filter(maybeNull)
    if (m.isEmpty) return Bgp.minusSolved(left, blk)
    require(m.size <= 4,
      s"MINUS over ${m.size} possibly-unbound shared variables (${
        m.map("?" + _).mkString(", ")}) — restructure the query")
    maskSeq(m).map { mk =>
      val fa = maskSlice(left, m, mk)
      val bound = shared.filter(v => mk.getOrElse(v, true))
      if (bound.isEmpty) fa // no domain overlap: MINUS removes nothing
      else fa.join(blk.select(bound.map(col): _*), bound, "left_anti")
    }.reduce(_.unionByName(_))
  }

  /** One group graph pattern → its solution mappings: BGP and path and
    * GRAPH and subquery pieces joined on shared variables, then VALUES,
    * BIND, OPTIONAL, MINUS, [NOT] EXISTS and FILTER in that order.
    *
    * Nested `{ A } UNION { B }` members are joined by DISTRIBUTION: join
    * distributes over bag union, so each branch joins the rest of the
    * block on the variables THAT BRANCH actually binds — a branch leaving
    * a shared variable unbound joins without it (SPARQL compatibility)
    * instead of null-padding into an inner join that would drop its
    * solutions. Alternatives multiply across union members (product of
    * branch counts — bounded by the query text, typically 2–3). */
  private def solveBranch(b: Block, scope: Scope): DataFrame = {
    val simple: Seq[Sol] =
      (if (b.where.nonEmpty) Seq(Sol(scope.bgp(b.where), Set.empty)) else Nil) ++
      b.paths.map { case (s, path, o) => Sol(scope.path(path, s, o), Set.empty) } ++
      b.graphs.map { case (g, inner) =>
        Sol(scope.ds.graph(g, inner), maybeNullVars(inner)) } ++
      // SERVICE: the endpoint-solved body joins like any pattern group; a
      // None (SILENT + unregistered) contributes the unit solution, i.e.
      // no Sol at all
      b.services.flatMap { case (silent, iri, body) =>
        scope.ds.service(silent, iri, body).map(df =>
          Sol(df, maybeNullVars(body) intersect df.columns.toSet))
      } ++
      // subqueries evaluate independently (own projection, aggregation,
      // modifiers) and join on their projected variables. Under GRAPH ?g
      // the subquery is CORRELATED by the active graph: the solver
      // threads ?g through its pattern groups (one more join key, like
      // paths), and adoptGraphVar keeps the column through projection
      // and grouping, so the outer compatJoin re-correlates on it.
      b.subqueries.map { sq =>
        val sq2 = scope.graphVar.fold(sq)(adoptGraphVar(sq, _))
        val solved = execute(sq2, scope)
        // the threaded active-graph variable is solver-bound on every
        // row of an anchored branch (adoptGraphVar enforces the anchor)
        // — never null, so it must not trip the unbound-join guard
        Sol(solved,
          solved.columns.toSet -- definiteProjection(sq2) -- scope.graphVar)
      }
    var alts: Seq[Sol] =
      if (simple.isEmpty) Nil else Seq(simple.reduce(compatJoin))
    b.unions.foreach { member =>
      val branchSols = member.map { blk =>
        val solved = solveBranch(blk, scope)
        Sol(solved, maybeNullVars(blk) intersect solved.columns.toSet)
      }
      alts =
        if (alts.isEmpty) branchSols
        else for { a <- alts; br <- branchSols } yield compatJoin(a, br)
    }
    // a block whose every member dropped out (all SILENT services on
    // unregistered endpoints — the parser rejects genuinely empty blocks)
    // is SPARQL's UNIT solution: one row, no bindings
    if (alts.isEmpty)
      alts = Seq(Sol(org.apache.spark.sql.SparkSession.active
        .range(1).select(), Set.empty))
    // bag-union of the alternatives; a column absent from some alternative
    // arrives null-padded → possibly-unbound from here on
    val commonCols = alts.map(_.df.columns.toSet).reduce(_ intersect _)
    val allCols = alts.flatMap(_.df.columns).toSet
    val maybeNull = scala.collection.mutable.Set.empty[String]
    maybeNull ++= alts.flatMap(_.maybeNull) ++= (allCols -- commonCols)
    var df = alts.map(_.df).reduce(_.unionByName(_, allowMissingColumns = true))
    // possibly-unbound variables may flow through FILTER/BIND (null
    // propagation IS the spec's error→unbound rule, and BOUND sees them)
    // but never into an equi-join — reject those loudly
    // VALUES = join with the inline solution table (restricts shared
    // vars, cross-products disjoint ones — SPARQL join semantics). UNDEF
    // cells are partial bindings: rows are grouped by their defined-column
    // mask, each group joins on only its defined columns, and the per-mask
    // results bag-union — exact, because join distributes over union of
    // the VALUES multiset. No join condition ever compares to null.
    b.values.foreach { case (vars, rows) =>
      // the data block is one more solution frame: UNDEF cells are
      // unbound bindings, and the compatibility join handles every
      // pairing of UNDEF rows with possibly-unbound block variables
      val (vdf, undef) = valuesFrame(df.sparkSession, vars, rows)
      val joined = compatJoin(Sol(df, maybeNull.toSet), Sol(vdf, undef))
      df = joined.df
      maybeNull.clear()
      maybeNull ++= joined.maybeNull
    }
    // BIND derives a new binding column. Application is dependency-driven:
    // a BIND whose referenced variables are already bound applies before
    // the OPTIONAL/MINUS joins (so they can share its variable); a BIND
    // referencing an OPTIONAL-bound variable — the COALESCE-default idiom
    // — applies after them. A reference that never binds is a loud error.
    var pendingBinds = b.binds
    def applyReadyBinds(): Unit = {
      var progressed = true
      while (progressed && pendingBinds.nonEmpty) {
        val (ready, rest) = pendingBinds.partition { case (_, e) =>
          exprVars(e).forall(df.columns.contains)
        }
        progressed = ready.nonEmpty
        ready.foreach { case (v, e) =>
          require(!df.columns.contains(v), s"BIND would rebind ?$v")
          if (exprEverNull(e, df.columns.toSet -- maybeNull)) maybeNull += v
          df = df.withColumn(v, scalarCol(e, numericExpr(e), Map.empty))
        }
        pendingBinds = rest
      }
    }
    applyReadyBinds()
    // a block-scoped FILTER over variables the block itself binds applies
    // to the block's own solutions before its join (left/anti/semi) —
    // equivalent to carrying it in the join condition, and cheaper.
    def solveFiltered(solved: DataFrame, fs: Seq[Expr], what: String): DataFrame = {
      var right = solved
      fs.foreach { f =>
        val missing = exprVars(f).filterNot(right.columns.contains)
        require(missing.isEmpty,
          s"a FILTER inside $what may reference only variables bound " +
            s"inside its block in this fragment; unbound there: ${
              missing.map("?" + _).mkString(", ")}")
        right = right.filter(boolCol(f, Map.empty))
      }
      right
    }
    // CORRELATED block filters — referencing OUTER variables — are the
    // join-condition case: SPARQL 18.5 LeftJoin(Ω1, Ω2, F) / the errata
    // EXISTS substitution evaluate F over the MERGED solution, so a row
    // pads (resp. fails EXISTS) when no compatible block row SATISFIES F,
    // not merely when none exists. Lowered as a left/semi/anti join whose
    // condition is the shared-variable equality AND F: the block's shared
    // columns are renamed aside so F's variable references resolve
    // unambiguously (outer variables to the left frame, block-only
    // variables to the block — shared ones to the left, whose value
    // equals the block's under the equi condition). An F-error (null
    // condition cell) is a non-match, exactly the spec's error→false.
    // Out of fragment (loud): correlated filters over possibly-unbound
    // SHARED variables (the mask-group decomposition does not compose
    // with an in-condition F).
    def correlatedJoin(solved: DataFrame, correlated: Seq[Expr],
        joinType: String, what: String): DataFrame = {
      val missing = correlated.flatMap(exprVars).distinct.filterNot(v =>
        df.columns.contains(v) || solved.columns.contains(v))
      require(missing.isEmpty, s"a FILTER inside $what references " +
        s"variables bound nowhere: ${missing.map("?" + _).mkString(", ")}")
      val shared = solved.columns.filter(df.columns.contains).toSeq.sorted
      val unbound = shared.filter(maybeNull)
      require(unbound.isEmpty, s"a correlated FILTER inside $what with " +
        s"possibly-unbound shared variables (${
          unbound.map("?" + _).mkString(", ")}) is out of fragment — " +
        "restructure the query")
      val renamed = shared.foldLeft(solved)((d, v) =>
        d.withColumnRenamed(v, s"__blk_$v"))
      val cond = (shared.map(v => col(v) === col(s"__blk_$v")) ++
        correlated.map(boolCol(_, Map.empty))).reduce(_ && _)
      df.join(renamed, cond, joinType)
        .drop(shared.map(v => s"__blk_$v"): _*)
    }
    // OPTIONAL / MINUS / EXISTS bodies: patterns and property paths
    // joined on shared variables, before the block filters
    def joinedBody(body: OptBody): DataFrame =
      ((if (body.pats.nonEmpty) Seq(scope.bgp(body.pats)) else Nil) ++
        body.paths.map { case (ps, path, po) => scope.path(path, ps, po) })
        .reduce(Bgp.joinSolved)
    b.optionals.foreach { ob =>
      val body = joinedBody(ob)
      val (inner, correlated) =
        ob.filters.partition(f => exprVars(f).forall(body.columns.contains))
      val solved = solveFiltered(body, inner, "OPTIONAL")
      val before = df.columns.toSet
      df =
        if (correlated.nonEmpty)
          correlatedJoin(solved, correlated, "left", "OPTIONAL")
        else
          // possibly-unbound shared vars run the compatibility LeftJoin
          // (mask-group decomposition) — the nested-OPTIONAL idiom
          compatOptional(df, maybeNull.toSet, solved)
      // OPTIONAL-introduced columns are unbound on unmatched rows
      maybeNull ++= df.columns.toSet -- before
    }
    b.minuses.foreach { body =>
      val blk = solveFiltered(joinedBody(body), body.filters, "MINUS")
      // possibly-unbound shared vars run the compatibility MINUS: each
      // mask group subtracts on exactly its bound shared variables, and
      // the group binding none survives (empty domain intersection)
      df = compatMinus(df, maybeNull.toSet, blk)
    }
    applyReadyBinds()
    require(pendingBinds.isEmpty, "BIND references unbound variables: " +
      pendingBinds.map { case (v, e) =>
        s"?$v ← ${exprVars(e).filterNot(df.columns.contains)
          .map("?" + _).mkString(", ")}"
      }.mkString("; "))
    b.exists.foreach { case (positive, body) =>
      val raw = joinedBody(body)
      val (inner, correlated) =
        body.filters.partition(f => exprVars(f).forall(raw.columns.contains))
      val blk = solveFiltered(raw, inner, "EXISTS")
      df =
        if (correlated.nonEmpty)
          // the errata's substitution semantics: μ1 passes EXISTS iff
          // some compatible block row satisfies F over the MERGED row —
          // the semi (anti for NOT) join carries F in its condition
          correlatedJoin(blk, correlated,
            if (positive) "left_semi" else "left_anti", "EXISTS")
        else compatSemiAnti(df, maybeNull.toSet, blk, positive)
    }
    b.filters.foreach(f => df = df.filter(boolCol(f, Map.empty)))
    df
  }

  /** Variables a block's solution DEFINITELY binds (non-null in every
    * row). Conservative: BINDs count only when their expression can never
    * evaluate to null given the block's other definite variables. */
  private def definiteVars(b: Block): Set[String] = {
    var defs: Set[String] =
      (b.where.flatMap(tp => Seq(tp.s, tp.p, tp.o)) ++
        b.paths.flatMap { case (s, _, o) => Seq(s, o) })
        .collect { case V(n) => n }.toSet ++
        b.graphs.flatMap { case (g, inner) =>
          definiteVars(inner) ++ (g match { case V(n) => Seq(n); case _ => Nil })
        } ++
        b.values.flatMap { case (vars, rows) =>
          vars.zipWithIndex.collect {
            case (v, i) if rows.forall(_(i).isDefined) => v
          }
        } ++
        b.subqueries.flatMap(definiteProjection) ++
        // a SILENT service's bindings are never definite (the whole Sol
        // may vanish on an unregistered endpoint); a variable endpoint
        // binds ?ep on every surviving row
        b.services.flatMap { case (silent, ep, inner) =>
          if (silent) Nil
          else definiteVars(inner) ++
            (ep match { case V(n) => Seq(n); case _ => Nil }) } ++
        b.unions.flatMap(m => m.map(definiteVars).reduce(_ intersect _))
    // dependency-ordered, mirroring applyReadyBinds
    var pending = b.binds
    var progressed = true
    while (progressed) {
      val (ok, rest) = pending.partition { case (_, e) =>
        exprVars(e).forall(defs) && !exprEverNull(e, defs)
      }
      progressed = ok.nonEmpty
      defs ++= ok.map(_._1)
      pending = rest
    }
    defs
  }

  /** Variables a block's solution may leave SPARQL-unbound (null) in some
    * row: OPTIONAL-only vars, VALUES UNDEF cells, nullable BINDs, subquery
    * non-definite projections, and vars not bound by every nested union
    * branch. A variable also definitely bound elsewhere in the block is
    * removed — the join re-anchors it. */
  private def maybeNullVars(b: Block): Set[String] = {
    val defs = definiteVars(b)
    val opt = b.optionals.flatMap(ob =>
      ob.pats.flatMap(tp => Seq(tp.s, tp.p, tp.o)) ++
        ob.paths.flatMap { case (s, _, o) => Seq(s, o) })
      .collect { case V(n) => n }
    val undef = b.values.flatMap { case (vars, rows) =>
      vars.zipWithIndex.collect { case (v, i) if rows.exists(_(i).isEmpty) => v }
    }
    val binds = b.binds.collect { case (v, e) if exprEverNull(e, defs) => v }
    val sub = b.subqueries.flatMap(sq =>
      projectedCols(sq) -- definiteProjection(sq))
    val uni = b.unions.flatMap { m =>
      val branchOut = m.map(outVars)
      branchOut.reduce(_ union _) -- branchOut.reduce(_ intersect _) ++
        m.flatMap(maybeNullVars)
    }
    // a variable graph term is ALWAYS bound on the block's solutions
    // (normalizeGraphVar fills unbound rows from the name set), even when
    // the body itself leaves it possibly-null (e.g. a subquery projecting
    // the threaded ?g)
    val grph = b.graphs.flatMap { case (g, inner) =>
      val mn = maybeNullVars(inner)
      g match { case V(n) => mn - n; case _ => mn }
    }
    // a SILENT service may drop out entirely (unregistered endpoint), so
    // every variable it would bind is possibly-absent downstream; a
    // non-silent one contributes its body's own possibly-null vars
    // SILENT + constant: the whole Sol may vanish, so every bound var is
    // possibly-absent; variable endpoints never vanish (registry-driven)
    val svc = b.services.flatMap { case (silent, ep, inner) =>
      if (silent && !ep.isInstanceOf[V]) outVars(inner)
      else maybeNullVars(inner) }
    (opt ++ undef ++ binds ++ sub ++ uni ++ grph ++ svc).toSet -- defs
  }

  /** Every variable column a block's solution carries (bound or null). */
  private def outVars(b: Block): Set[String] =
    (b.where.flatMap(tp => Seq(tp.s, tp.p, tp.o)) ++
      b.paths.flatMap { case (s, _, o) => Seq(s, o) } ++
      b.optionals.flatMap(ob =>
        ob.pats.flatMap(tp => Seq(tp.s, tp.p, tp.o)) ++
          ob.paths.flatMap { case (s, _, o) => Seq(s, o) }))
      .collect { case V(n) => n }.toSet ++
      b.values.flatMap(_._1) ++ b.binds.map(_._1) ++
      b.subqueries.flatMap(projectedCols) ++
      b.graphs.flatMap { case (g, inner) =>
        outVars(inner) ++ (g match { case V(n) => Seq(n); case _ => Nil })
      } ++
      b.services.flatMap { case (_, ep, inner) =>
        outVars(inner) ++ (ep match { case V(n) => Seq(n); case _ => Nil })
      } ++
      b.unions.flatMap(_.flatMap(outVars))

  private def projectedCols(q: Query): Set[String] =
    if (q.projection == Seq("*"))
      q.branches.map(outVars).reduceOption(_ union _).getOrElse(Set.empty)
        .filterNot(_.startsWith("_:"))
    else q.projection.toSet

  /** Variables definitely bound at the trailing-VALUES join point
    * (post-aggregation, pre-projection): branch-definite variables —
    * restricted to the group keys when the query aggregates — plus the
    * always-non-null aggregate aliases. */
  private def trailingDefinite(q: Query): Set[String] = {
    val base = q.branches.map(definiteVars).reduceOption(_ intersect _)
      .getOrElse(Set.empty)
    val aggregated = q.groupVars.nonEmpty || q.selectAggs.nonEmpty ||
      q.having.isDefined ||
      q.selectBinds.exists(b => collectAggs(b._2).nonEmpty)
    if (!aggregated) base
    else {
      val aggDef = q.selectAggs.collect {
        case (alias, EAgg("COUNT", _, _, _, _)) => alias
        case (alias, EAgg(fn, Some(v), _, _, None))
          if Set("MIN", "MAX", "SAMPLE", "GROUP_CONCAT")(fn) && base(v) =>
            alias
      }.toSet
      (q.groupVars.toSet intersect base) ++ aggDef
    }
  }

  /** Subquery projections that are definitely bound: variables definite in
    * every branch, plus always-non-null aggregates (COUNT; MIN/MAX/SAMPLE/
    * GROUP_CONCAT of a definite variable — groups are never empty).
    * SUM/AVG try_cast-coerce (all-non-numeric group → null) and select
    * expressions may error → not definite. */
  private def definiteProjection(q: Query): Set[String] = {
    val base = q.branches.map(definiteVars).reduceOption(_ intersect _)
      .getOrElse(Set.empty)
    val aggDef = q.selectAggs.collect {
      case (alias, EAgg("COUNT", _, _, _, _)) => alias
      case (alias, EAgg(fn, Some(v), _, _, None))
        if Set("MIN", "MAX", "SAMPLE", "GROUP_CONCAT")(fn) && base(v) => alias
    }.toSet
    val gbDef = q.groupBinds.collect {
      case (v, e) if exprVars(e).forall(base) && !exprEverNull(e, base) => v
    }.toSet
    projectedCols(q) intersect (base ++ aggDef ++ gbDef)
  }

  /** Can this scalar expression evaluate to null (SPARQL error → unbound)
    * when every variable in `definite` is non-null? Conservative: the
    * numeric paths try_cast-coerce, so any arithmetic or numeric built-in
    * over a string binding may null out. */
  private def exprEverNull(e: Expr, definite: Set[String]): Boolean = e match {
    case EVar(n) => !definite(n)
    case ENum(_) | EStr(_) => false
    case EArith(_, _, _) => true
    case EFun("ABS" | "FLOOR" | "CEIL" | "ROUND", _) => true
    // LANG/DATATYPE error (→ null) on IRI and blank-node arguments
    case EFun("LANG" | "DATATYPE", _) => true
    // dateTime accessors error (→ null) on non-dateTime lexical forms
    case EFun("YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" | "SECONDS"
      | "TZ", _) => true
    case EFun("IF", Seq(_, t, f)) =>
      exprEverNull(t, definite) || exprEverNull(f, definite)
    case EFun("COALESCE", as) => as.forall(exprEverNull(_, definite))
    // XSD casts (17.5) null on any out-of-type lexical form — except
    // xsd:string, which succeeds on every bound term (default case)
    case EFun(fn, _) if fn.startsWith("XSD:") && fn != "XSD:string" => true
    case EFun(_, as) => as.exists(exprEverNull(_, definite))
    case EConcat(as) => as.exists(exprEverNull(_, definite))
    case _ => true // aggregates, booleans-in-scalar-position: conservative
  }

  /** DESCRIBE: the subgraph about the named resources — every triple
    * whose subject is a DESCRIBEd constant or a WHERE-bound value of a
    * DESCRIBEd variable (outgoing concise description). The variable form
    * is a distributed semi-join of the full triple set against the
    * distinct bindings — no driver-side collection of subjects. */
  private def describeResult(q: Query, terms: Seq[Term],
      scope: Scope): DataFrame = {
    val all = scope.bgp(Seq(TP(V("s"), V("p"), V("o"))))
    val consts = terms.collect { case C(v) => v }
    val vars = terms.collect { case V(n) => n }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (consts.nonEmpty) parts += all.filter(col("s").isin(consts: _*))
    if (vars.nonEmpty) {
      require(q.branches.nonEmpty, "DESCRIBE ?var needs a WHERE clause")
      val bindings = q.branches.map(solveBranch(_, scope))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val unbound = vars.filterNot(bindings.columns.contains)
      require(unbound.isEmpty, "DESCRIBE variables not bound in WHERE: " +
        unbound.map("?" + _).mkString(", "))
      val subjects = vars.map(v => bindings.select(col(v).as("s")))
        .reduce(_.unionByName(_)).filter(col("s").isNotNull).distinct()
      parts += all.join(subjects, Seq("s"), "left_semi")
    }
    // a graph is a SET of triples
    parts.reduce(_.unionByName(_)).distinct()
  }

  /** GROUP BY / aggregate-SELECT / HAVING lowering: one hash aggregation
    * over the solved bindings (map-side partial combine for free), HAVING
    * as a filter over the aggregated frame. Aggregates referenced only by
    * HAVING or ORDER BY (not SELECTed) compute as hidden columns in the
    * SAME hash aggregate — no second pass — and drop after use: HAVING's
    * here, ORDER BY's in [[execute]] via the returned env + drop list. */
  private def aggregate(q: Query, solved: DataFrame)
      : (DataFrame, Map[EAgg, String], Seq[String]) = {
    val aliasOf: Map[EAgg, String] = q.selectAggs.map(_.swap).toMap
    val hidden = (q.having.toSeq ++ q.selectBinds.map(_._2) ++
        q.orderKeys.flatMap(_.expr))
      .flatMap(collectAggs).distinct
      .filterNot(aliasOf.contains).zipWithIndex
      .map { case (a, i) => (a, s"__h$i") }
    val env: Map[EAgg, String] = aliasOf ++ hidden
    // expression arguments (SUM(?a * ?b)) materialize as hidden columns
    // in ONE pre-aggregation projection — still a single scan + single
    // hash aggregate, the same plan as a pre-spelled BIND
    val exprAggs = (q.selectAggs.map(_._2) ++ hidden.map(_._1))
      .filter(_.argExpr.isDefined).distinct.zipWithIndex
      .map { case (a, i) => (a, s"__ae$i") }.toMap
    val withKeys = q.groupBinds.foldLeft(solved) { case (df, (n, e)) =>
      require(!df.columns.contains(n), s"GROUP BY ... AS would rebind ?$n")
      df.withColumn(n, scalarCol(e, numericExpr(e), Map.empty))
    }
    val pre = exprAggs.foldLeft(withKeys) { case (df, (a, n)) =>
      df.withColumn(n,
        scalarCol(a.argExpr.get, numericExpr(a.argExpr.get), Map.empty))
    }
    def rewrite(a: EAgg): EAgg =
      exprAggs.get(a).map(n => a.copy(v = Some(n), argExpr = None)).getOrElse(a)
    val aggCols =
      q.selectAggs.map { case (alias, a) => aggCol(rewrite(a)).as(alias) } ++
        hidden.map { case (a, n) => aggCol(rewrite(a)).as(n) }
    // GROUP BY with no aggregates is legal (one row per group): aggregate
    // a hidden count to satisfy agg()'s arity, drop it after
    val all = if (aggCols.nonEmpty) aggCols else Seq(count(lit(1)).as("__g"))
    val grouped =
      if (q.groupVars.nonEmpty) pre.groupBy(q.groupVars.map(col): _*)
      else pre.groupBy()
    var df = grouped.agg(all.head, all.tail: _*)
    q.having.foreach(h => df = df.filter(boolCol(h, env)))
    // select-bindings over the aggregated row: EAgg references resolve
    // through the alias env (projection aliases + hidden columns)
    q.selectBinds.foreach { case (v, e) =>
      require(!df.columns.contains(v), s"SELECT (... AS ?$v) would rebind ?$v")
      df = df.withColumn(v, scalarCol(e, numericExpr(e), env))
    }
    // hidden columns that ORDER BY expression keys still need survive
    // until solve() computes the keys; everything else drops now
    val orderAggs = q.orderKeys.flatMap(_.expr).flatMap(collectAggs).toSet
    val keep = hidden.filter { case (a, _) => orderAggs.contains(a) }
    val dropNow = hidden.filterNot { case (a, _) => orderAggs.contains(a) }
    (df.drop(dropNow.map(_._2) :+ "__g": _*), env, keep.map(_._2))
  }

  private def aggCol(a: EAgg): Column = a match {
    case EAgg("COUNT", None, false, _, _) => count(lit(1))
    case EAgg("COUNT", Some(v), false, _, _) => count(col(v))
    case EAgg("COUNT", Some(v), true, _, _) => countDistinct(col(v))
    // exact decimal accumulation → double emission: order-independent and
    // bit-identical to the DuckDB oracle (graft.Det rule); try_cast skips
    // non-numeric lexical forms on both engines
    case EAgg("SUM", Some(v), false, _, _) =>
      sum(expr(s"try_cast(`$v` AS decimal(27,6))")).cast("double")
    case EAgg("AVG", Some(v), false, _, _) =>
      sum(expr(s"try_cast(`$v` AS decimal(27,6))")).cast("double") /
        count(expr(s"try_cast(`$v` AS double)"))
    // DISTINCT forms: distinctness over the same decimal coercion on both
    // numerator and denominator ("1" and "1.00" coincide consistently)
    case EAgg("SUM", Some(v), true, _, _) =>
      sum_distinct(expr(s"try_cast(`$v` AS decimal(27,6))")).cast("double")
    case EAgg("AVG", Some(v), true, _, _) =>
      sum_distinct(expr(s"try_cast(`$v` AS decimal(27,6))")).cast("double") /
        countDistinct(expr(s"try_cast(`$v` AS decimal(27,6))"))
    // MIN/MAX are idempotent under DISTINCT
    case EAgg("MIN", Some(v), _, _, _) => min(col(v))
    case EAgg("MAX", Some(v), _, _, _) => max(col(v))
    // SAMPLE returns an implementation-chosen group element (18.5.1.9);
    // min is a conformant choice and, unlike first(), independent of
    // partition order — the only reproducible option on a cluster
    case EAgg("SAMPLE", Some(v), _, _, _) => min(col(v))
    // GROUP_CONCAT's sequence order is likewise implementation-defined:
    // sort the collected values so the result is deterministic under any
    // partitioning (and oracle-able: string_agg(... ORDER BY) in DuckDB)
    case EAgg("GROUP_CONCAT", Some(v), distinct, sep, _) =>
      array_join(
        array_sort(if (distinct) collect_set(col(v)) else collect_list(col(v))),
        sep.getOrElse(" "))
    case other => throw new IllegalArgumentException(
      s"unsupported aggregate: $other")
  }

  /** A FILTER expression as a row-local boolean Column over bound
    * binding columns — the maintained-view hook ([[ViewStore]]'s
    * "filtered" mode): a constant row-local predicate commutes with the
    * counting delta rule, so the same Column filters the bootstrap and
    * every delta segment identically. Aggregates are rejected by the
    * caller's fragment parser; unbound-variable references surface as
    * unresolved columns, loudly. */
  private[rdf] def filterColumn(e: Expr): Column = boolCol(e, Map.empty)

  /** The variables a FILTER expression references (for the maintainable-
    * fragment parser's binding check). */
  private[rdf] def filterVars(e: Expr): Seq[String] = exprVars(e).distinct

  /** Variables an expression references (for BIND dependency ordering). */
  private def exprVars(e: Expr): Seq[String] = e match {
    case EVar(n) => Seq(n)
    case EBound(v) => Seq(v)
    case ERegex(t, _, _) => exprVars(t)
    case ECmp(l, _, r) => exprVars(l) ++ exprVars(r)
    case EAnd(l, r) => exprVars(l) ++ exprVars(r)
    case EOr(l, r) => exprVars(l) ++ exprVars(r)
    case ENot(x) => exprVars(x)
    case EArith(l, _, r) => exprVars(l) ++ exprVars(r)
    case EConcat(as) => as.flatMap(exprVars)
    case EFun(_, as) => as.flatMap(exprVars)
    case _ => Nil
  }

  private def collectAggs(e: Expr): Seq[EAgg] = e match {
    case a: EAgg => Seq(a)
    case ECmp(l, _, r) => collectAggs(l) ++ collectAggs(r)
    case EAnd(l, r) => collectAggs(l) ++ collectAggs(r)
    case EOr(l, r) => collectAggs(l) ++ collectAggs(r)
    case ENot(x) => collectAggs(x)
    case EArith(l, _, r) => collectAggs(l) ++ collectAggs(r)
    case EConcat(as) => as.flatMap(collectAggs)
    // aggregates inside built-in calls — COALESCE(SUM(?x), 0),
    // IF(COUNT(?x) > 5, ...) — mark the query aggregated too
    case EFun(_, as) => as.flatMap(collectAggs)
    case _ => Nil
  }

  /** Does this expression force numeric comparison semantics? */
  private def numericExpr(e: Expr): Boolean = e match {
    case ENum(_) => true
    case EArith(_, _, _) => true
    case EAgg(fn, _, _, _, _) => fn == "COUNT" || fn == "SUM" || fn == "AVG"
    case EFun("STRLEN" | "ABS" | "FLOOR" | "CEIL" | "ROUND", _) => true
    case EFun("YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" | "SECONDS",
      _) => true
    case EFun("IF", args) => args.drop(1).exists(numericExpr)
    case EFun("COALESCE", args) => args.exists(numericExpr)
    case EFun(fn, _) if xsdNumericFns(fn) => true
    case _ => false
  }

  private def boolCol(e: Expr, env: Map[EAgg, String]): Column = e match {
    case EAnd(l, r) => boolCol(l, env) && boolCol(r, env)
    case EOr(l, r) => boolCol(l, env) || boolCol(r, env)
    case ENot(x) => !boolCol(x, env)
    case EBound(v) => col(v).isNotNull
    // XPath flags: i/s/m/x ride as a Java-embedded flag group (both
    // dialects define them identically); q means "pattern is a literal
    // string", which is a contains-match, not a regex at all
    case ERegex(t, p, flags) =>
      require(flags.forall("ismxq".contains(_)),
        s"unsupported REGEX flags '$flags' — XPath defines i s m x q")
      val txt = scalarCol(t, numeric = false, env)
      if (flags.contains('q')) {
        if (flags.contains('i')) lower(txt).contains(p.toLowerCase)
        else txt.contains(p)
      } else {
        val pre = flags.filter("ismx".contains(_))
        txt.rlike(if (pre.isEmpty) p else s"(?$pre)$p")
      }
    case EFun("CONTAINS", Seq(a, b)) =>
      scalarCol(a, numeric = false, env).contains(scalarCol(b, numeric = false, env))
    case EFun("STRSTARTS", Seq(a, b)) =>
      scalarCol(a, numeric = false, env).startsWith(scalarCol(b, numeric = false, env))
    case EFun("STRENDS", Seq(a, b)) =>
      scalarCol(a, numeric = false, env).endsWith(scalarCol(b, numeric = false, env))
    // 17.4.1.8: term identity — exact equality of the STORED term
    // representation (term strings compare full node identity; the
    // default plain-lexical stores compare lexical forms, which is the
    // identity those stores have)
    case EFun("SAMETERM", Seq(a, b)) =>
      scalarCol(a, numeric = false, env) ===
        scalarCol(b, numeric = false, env)
    // term-introspection predicates (17.4.1/17.4.2); null (e.g. LANG of an
    // IRI) is a SPARQL type error → row eliminated, matching the filter
    case EFun("LANGMATCHES", Seq(a, b)) =>
      Terms.langMatches(scalarCol(a, numeric = false, env),
        scalarCol(b, numeric = false, env))
    case EFun("ISIRI" | "ISURI", Seq(a)) =>
      Terms.isIri(scalarCol(a, numeric = false, env))
    case EFun("ISLITERAL", Seq(a)) =>
      Terms.isLiteral(scalarCol(a, numeric = false, env))
    case EFun("ISBLANK", Seq(a)) =>
      Terms.isBlank(scalarCol(a, numeric = false, env))
    case EFun("ISNUMERIC", Seq(a)) =>
      Terms.isNumeric(scalarCol(a, numeric = false, env))
    // xsd:boolean(?x) in constraint position: the cast IS the verdict
    // (a cast error is null → not true → row eliminated)
    case f @ EFun("XSD:boolean", Seq(_)) =>
      scalarCol(f, numeric = false, env)
    case ECmp(l, op, r) =>
      // a numeric side switches the comparison to numeric semantics over
      // both sides; try_cast (not cast) so that a non-numeric binding is a
      // SPARQL type error → row eliminated, even under ANSI mode
      val numeric = numericExpr(l) || numericExpr(r)
      val (lc, rc) = (scalarCol(l, numeric, env), scalarCol(r, numeric, env))
      op match {
        // 17.4.1.1: '=' between two NUMERIC literals compares by VALUE
        // (`"01"^^xsd:integer = "1"^^xsd:integer` holds) — a typed term
        // string carries its own datatype, so the probe dispatches at
        // runtime; every non-numeric-pair case keeps the stored-term
        // comparison, which on plain-lexical stores (probe always null)
        // is bitwise the previous behavior. sameTerm stays identity.
        case "=" | "!=" =>
          val (na, nb) = (Terms.numericValue(lc.cast("string")),
            Terms.numericValue(rc.cast("string")))
          // integer-family pairs compare as decimal(38,0) first: two
          // distinct big integers (9007199254740993 vs …992) collapse to
          // one double but stay distinct decimals; mixed pairs (integer
          // vs double/decimal) promote to double per XPath op:numeric-eq
          val (ia, ib) = (Terms.integerValue(lc.cast("string")),
            Terms.integerValue(rc.cast("string")))
          val eq = when(ia.isNotNull && ib.isNotNull, ia === ib)
            .otherwise(when(na.isNotNull && nb.isNotNull, na === nb)
              .otherwise(lc === rc))
          if (op == "=") eq else !eq
        case "<" => lc < rc
        case ">" => lc > rc
        case "<=" => lc <= rc
        case ">=" => lc >= rc
      }
    case other => throw new IllegalArgumentException(
      s"FILTER/HAVING needs a boolean expression, got: $other")
  }

  private def scalarCol(e: Expr, numeric: Boolean,
      env: Map[EAgg, String]): Column = e match {
    // backticks: a variable named like a SQL keyword/literal (?true,
    // ?order) must stay a column reference inside the expr text
    case EVar(n) => if (numeric) expr(s"try_cast(`$n` AS double)") else col(n)
    case ENum(v) => lit(v.toDouble)
    case EStr(v) => lit(v)
    case EArith(l, op, r) =>
      val (lc, rc) = (scalarCol(l, numeric = true, env),
        scalarCol(r, numeric = true, env))
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
      }
    case EConcat(args) =>
      concat(args.map(a => scalarCol(a, numeric = false, env).cast("string")): _*)
    // built-ins: numeric-valued ones emit double (the arithmetic
    // convention, DuckDB-CAST-alignable); SUBSTR is SPARQL/SQL 1-based
    // STR strips term-string markup (IRI brackets, literal quotes and
    // annotations) and is the identity on plain-lexical cells ([[Terms]])
    case EFun("STR", Seq(a)) =>
      Terms.lexical(scalarCol(a, numeric = false, env).cast("string"))
    case EFun("LANG", Seq(a)) =>
      Terms.lang(scalarCol(a, numeric = false, env))
    case EFun("DATATYPE", Seq(a)) =>
      Terms.datatype(scalarCol(a, numeric = false, env))
    case EFun("STRLANG", Seq(a, b)) =>
      Terms.strlang(scalarCol(a, numeric = false, env),
        scalarCol(b, numeric = false, env))
    case EFun("STRDT", Seq(a, b)) =>
      Terms.strdt(scalarCol(a, numeric = false, env),
        scalarCol(b, numeric = false, env))
    case EFun("IRI" | "URI", Seq(a)) =>
      Terms.iri(scalarCol(a, numeric = false, env))
    case EFun("BNODE", Seq(a)) =>
      Terms.bnode(scalarCol(a, numeric = false, env))
    case EFun("STRLEN", Seq(a)) =>
      length(scalarCol(a, numeric = false, env)).cast("double")
    case EFun("UCASE", Seq(a)) => upper(scalarCol(a, numeric = false, env))
    case EFun("LCASE", Seq(a)) => lower(scalarCol(a, numeric = false, env))
    case EFun("ABS", Seq(a)) => abs(scalarCol(a, numeric = true, env))
    case EFun("MD5", Seq(a)) => md5(scalarCol(a, numeric = false, env))
    // STRBEFORE/STRAFTER with a literal needle (17.4.3.3/4): empty-needle
    // edges follow the spec — STRBEFORE(x, "") = "", STRAFTER(x, "") = x
    case EFun("STRBEFORE", Seq(_, EStr(""))) => lit("")
    case EFun("STRBEFORE", Seq(a, EStr(sub))) =>
      val c = scalarCol(a, numeric = false, env)
      when(instr(c, sub) > 0, substring_index(c, sub, 1)).otherwise(lit(""))
    case EFun("STRAFTER", Seq(a, EStr(""))) => scalarCol(a, numeric = false, env)
    case EFun("STRAFTER", Seq(a, EStr(sub))) =>
      val c = scalarCol(a, numeric = false, env)
      when(instr(c, sub) > 0,
        c.substr(instr(c, sub) + sub.length, lit(Int.MaxValue))).otherwise(lit(""))
    case EFun("SHA256", Seq(a)) => sha2(scalarCol(a, numeric = false, env), 256)
    case EFun("SHA1", Seq(a)) => sha1(scalarCol(a, numeric = false, env))
    case EFun("SHA384", Seq(a)) => sha2(scalarCol(a, numeric = false, env), 384)
    case EFun("SHA512", Seq(a)) => sha2(scalarCol(a, numeric = false, env), 512)
    case EFun("ENCODE_FOR_URI", Seq(a)) =>
      Terms.encodeForUri(scalarCol(a, numeric = false, env))
    // dateTime accessors (17.4.5) — lexical-form parses, [[Terms]]
    case EFun("YEAR", Seq(a)) => Terms.year(scalarCol(a, numeric = false, env))
    case EFun("MONTH", Seq(a)) => Terms.month(scalarCol(a, numeric = false, env))
    case EFun("DAY", Seq(a)) => Terms.day(scalarCol(a, numeric = false, env))
    case EFun("HOURS", Seq(a)) =>
      Terms.hours(scalarCol(a, numeric = false, env))
    case EFun("MINUTES", Seq(a)) =>
      Terms.minutes(scalarCol(a, numeric = false, env))
    case EFun("SECONDS", Seq(a)) =>
      Terms.seconds(scalarCol(a, numeric = false, env))
    case EFun("TZ", Seq(a)) => Terms.tz(scalarCol(a, numeric = false, env))
    case EFun("TIMEZONE", Seq(a)) =>
      Terms.timezone(scalarCol(a, numeric = false, env))
    // 17.4.5.1 NOW: Spark evaluates current_timestamp ONCE per query,
    // which is exactly the spec's same-value-for-the-whole-execution
    // rule; rendered as an xsd:dateTime lexical form with offset
    case EFun("NOW", Nil) =>
      date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    // 17.4.1.4-6: fresh per solution (nondeterministic per row)
    case EFun("RAND", Nil) => rand()
    case EFun("UUID", Nil) =>
      Terms.iri(concat(lit("urn:uuid:"), expr("uuid()")))
    case EFun("STRUUID", Nil) => expr("uuid()")
    // REPLACE with literal pattern/replacement only (the regex dialects
    // of the two engines agree on literals; patterns would need escaping
    // audits) — the common template-rewrite use
    case EFun("REPLACE", Seq(a, EStr(pat), EStr(rep))) =>
      regexp_replace(scalarCol(a, numeric = false, env),
        java.util.regex.Pattern.quote(pat), rep)
    // xsd numeric semantics: results stay doubles (Spark's floor/ceil
    // return longs); ROUND ties go toward +Inf (17.4.4.1), which Spark's
    // HALF_UP round violates for negatives — floor(x + 0.5) is the spec
    // AND bit-identical in DuckDB (the Det.roundSafe reasoning)
    case EFun("FLOOR", Seq(a)) =>
      floor(scalarCol(a, numeric = true, env)).cast("double")
    case EFun("CEIL", Seq(a)) =>
      ceil(scalarCol(a, numeric = true, env)).cast("double")
    case EFun("ROUND", Seq(a)) =>
      floor(scalarCol(a, numeric = true, env) + lit(0.5)).cast("double")
    case EFun("SUBSTR", Seq(a, ENum(pos))) =>
      scalarCol(a, numeric = false, env).substr(lit(pos.toInt), lit(Int.MaxValue))
    case EFun("SUBSTR", Seq(a, ENum(pos), ENum(len))) =>
      scalarCol(a, numeric = false, env).substr(lit(pos.toInt), lit(len.toInt))
    case EFun("IF", Seq(c, t, f)) =>
      val n = numeric || numericExpr(t) || numericExpr(f)
      when(boolCol(c, env), scalarCol(t, n, env))
        .otherwise(scalarCol(f, n, env))
    case EFun("COALESCE", args) if args.nonEmpty =>
      val n = numeric || args.exists(numericExpr)
      coalesce(args.map(scalarCol(_, n, env)): _*)
    // XSD constructor casts (17.5): cast error → null cell → unbound
    // BIND / eliminated FILTER row, the spec's error propagation
    case EFun(fn, Seq(a)) if fn.startsWith("XSD:") =>
      xsdCastCol(fn, scalarCol(a, numeric = false, env))
    case f: EFun => throw new IllegalArgumentException(
      s"unsupported function or arity: ${f.fn}/${f.args.size} " +
        "(SUBSTR positions must be numeric literals)")
    case a: EAgg =>
      val n = env.getOrElse(a, throw new IllegalArgumentException(
        s"aggregate ${a.fn} is only valid in SELECT (… AS ?v) or HAVING"))
      if (numeric) expr(s"try_cast(`$n` AS double)") else col(n)
    case other => throw new IllegalArgumentException(
      s"not a scalar expression: $other")
  }

  // ----------------------------- parsing -------------------------------

  // IRI bodies exclude whitespace (as in SPARQL) — essential so that a
  // bare '<' comparison operator can never swallow text up to some later
  // '>' in the query. Literals may carry a ^^datatype or @lang suffix.
  // '#' outside a token starts a comment (dropped after tokenizing).
  private val tokenRe = (
    """\?[A-Za-z_]\w*""" +
      """|_:[A-Za-z_]\w*""" +
      """|<[^>\s]*>""" +
      """|"(?:[^"\\]|\\.)*"(?:\^\^(?:<[^>\s]*>|[A-Za-z_][\w-]*:[\w-]*)""" +
      """|@[A-Za-z]+(?:-[A-Za-z0-9]+)*)?""" +
      """|#[^\n]*""" +
      """|[A-Za-z_][\w-]*:[\w-]*""" +
      """|[A-Za-z][A-Za-z_0-9]*""" +
      """|-?\d+(?:\.\d+)?""" +
      """|&&|\|\||<=|>=|!=|=|[{}().,;*+/|^?!<>-]""").r

  /** Tokenize with full-coverage verification: any character not consumed
    * by a token, whitespace, or a comment is an error AT ITS OFFSET — so
    * unsupported syntax (unknown operators, stray punctuation) fails loudly
    * at the offending character instead of being dropped pre-parse and
    * surfacing as a confusing error on the wrong token. */
  private[rdf] def tokenize(text: String): List[String] = {
    val ms = tokenRe.findAllMatchIn(text).toList
    def gap(from: Int, to: Int): Unit = {
      var i = from
      while (i < to) {
        require(text.charAt(i).isWhitespace,
          s"unsupported syntax at offset $i: '" +
            text.substring(i, math.min(i + 12, text.length))
              .takeWhile(_ != '\n') + "'")
        i += 1
      }
    }
    var pos = 0
    ms.foreach { m => gap(pos, m.start); pos = m.end }
    gap(pos, text.length)
    ms.map(_.matched).filterNot(_.startsWith("#"))
  }

  def parse(text: String): Query = {
    val p = new P(tokenize(text))
    val prefixes = Iterator.continually(()).takeWhile(_ => p.peekKw("PREFIX")).map { _ =>
      p.expectKw("PREFIX")
      val name = p.next() // "ex:" parses as prefixed-name token "ex:"
      val iri = p.nextIri()
      name.stripSuffix(":") -> iri
    }.toMap
    val ask = p.peekKw("ASK")
    var constructWhere = false
    val construct =
      if (p.peekKw("CONSTRUCT")) {
        p.expectKw("CONSTRUCT")
        // CONSTRUCT WHERE { patterns } shorthand (grammar 10): the WHERE
        // patterns double as the template — parsed below with everything
        // else; plain triple patterns only, enforced after the parse.
        // Dataset clauses may precede WHERE (CONSTRUCT FROM <g> WHERE):
        // the shared datasetClauses call below consumes them.
        if (p.peekKw("WHERE") || p.peekKw("FROM")) {
          constructWhere = true; Some(Nil)
        }
        else {
          p.expect("{")
          val template = scala.collection.mutable.ArrayBuffer.empty[TP]
          while (p.peek() != "}") {
            template ++= sameSubject(p, prefixes, allowPaths = false)._1
            p.maybe(".")
          }
          p.expect("}")
          require(template.nonEmpty, "empty CONSTRUCT template")
          Some(template.toSeq)
        }
      } else None
    val describe =
      if (p.peekKw("DESCRIBE")) {
        p.expectKw("DESCRIBE")
        val ts = scala.collection.mutable.ArrayBuffer.empty[Term]
        while (p.hasNext &&
            ((p.peek().startsWith("?") && p.peek().length > 1) ||
              p.peek().startsWith("<") ||
              (p.peek().contains(":") && !p.peek().startsWith("_:") &&
                !p.peek().startsWith("\""))))
          ts += term(p, prefixes)
        require(ts.nonEmpty, "DESCRIBE needs at least one IRI or variable")
        Some(ts.toSeq)
      } else None
    if (ask || construct.isDefined || describe.isDefined) {
      if (ask) p.expectKw("ASK")
      val (fromGraphs, fromNamed) = datasetClauses(p, prefixes)
      // DESCRIBE <iri> needs no WHERE at all
      val branches =
        if (describe.isDefined && !p.peekKw("WHERE")) Nil
        else whereBranches(p, prefixes)
      require(!p.hasNext, "ASK/CONSTRUCT/DESCRIBE take no solution " +
        s"modifiers in this fragment; got: ${p.rest.take(5).mkString(" ")}")
      // CONSTRUCT WHERE: the template IS the (plain-pattern-only) WHERE
      val template =
        if (!constructWhere) construct
        else {
          require(branches.size == 1, "CONSTRUCT WHERE takes a single group")
          val b = branches.head
          require(b.optionals.isEmpty && b.filters.isEmpty &&
            b.minuses.isEmpty && b.values.isEmpty && b.binds.isEmpty &&
            b.paths.isEmpty && b.exists.isEmpty && b.subqueries.isEmpty &&
            b.graphs.isEmpty && b.unions.isEmpty && b.where.nonEmpty,
            "CONSTRUCT WHERE takes plain triple patterns only (grammar 10)")
          Some(b.where)
        }
      Query(Seq("*"), branches, distinct = false, Nil, None, None, ask,
        template, describe = describe,
        fromGraphs = fromGraphs, fromNamed = fromNamed)
    } else {
      val q = selectQuery(p, prefixes, topLevel = true)
      require(!p.hasNext,
        s"unsupported trailing clause: ${p.rest.take(5).mkString(" ")}")
      q
    }
  }

  /** `FROM <g>` / `FROM NAMED <g>` dataset clauses (SPARQL grammar 13):
    * legal between the query head and WHERE, top level only. */
  private def datasetClauses(p: P,
      prefixes: Map[String, String]): (Seq[String], Seq[String]) = {
    val from = scala.collection.mutable.ArrayBuffer.empty[String]
    val named = scala.collection.mutable.ArrayBuffer.empty[String]
    def iri(): String = {
      val t = p.next()
      if (t.startsWith("<")) t.stripPrefix("<").stripSuffix(">")
      else if (t.contains(":") && !t.startsWith("\"") && !t.startsWith("_:")) {
        val Array(pre, local) = t.split(":", 2)
        prefixes.getOrElse(pre, throw new IllegalArgumentException(
          s"unknown prefix '$pre:' in '$t'")) + local
      } else throw new IllegalArgumentException(s"FROM needs an IRI, got $t")
    }
    while (p.peekKw("FROM")) {
      p.expectKw("FROM")
      if (p.peekKw("NAMED")) { p.expectKw("NAMED"); named += iri() }
      else from += iri()
    }
    (from.toSeq, named.toSeq)
  }

  /** SELECT clause through solution modifiers — the shape shared by the
    * top-level query and `{ SELECT ... }` subqueries (which stop at their
    * closing brace). */
  private def selectQuery(p: P, prefixes: Map[String, String],
      topLevel: Boolean = false): Query = {
    val selectAggs = scala.collection.mutable.ArrayBuffer.empty[(String, EAgg)]
    val selectBinds = scala.collection.mutable.ArrayBuffer.empty[(String, Expr)]
    p.expectKw("SELECT")
    // REDUCED *permits* duplicate elimination; eliminating them all (i.e.
    // DISTINCT) is a conformant implementation
    val distinct =
      if (p.peekKw("DISTINCT") || p.peekKw("REDUCED")) { p.next(); true }
      else false
    val proj =
      if (p.peek() == "*") { p.next(); Seq("*") }
      else {
        val items = scala.collection.mutable.ArrayBuffer.empty[String]
        while (p.hasNext &&
            ((p.peek().startsWith("?") && p.peek().length > 1) ||
              p.peek() == "(")) {
          if (p.peek() == "(") {
            // ( Expression AS ?alias ): a bare aggregate call keeps the
            // direct selectAggs path; any other expression — including
            // one CONTAINING aggregates, e.g. (SUM(?x)/COUNT(?x) AS ?r)
            // — becomes a select-binding computed from the solution (or
            // from the aggregated row via the EAgg→alias env)
            p.expect("(")
            val e = orExpr(p, prefixes, allowAgg = true)
            p.expectKw("AS")
            val v = p.next()
            require(v.startsWith("?"), s"AS needs a variable, got $v")
            p.expect(")")
            e match {
              case a: EAgg => selectAggs += v.drop(1) -> a
              case other => selectBinds += v.drop(1) -> other
            }
            items += v.drop(1)
          } else items += p.next().drop(1)
        }
        items.toSeq
      }
    require(proj.nonEmpty, "SELECT needs variables or *")
    val (fromGraphs, fromNamed) =
      if (topLevel) datasetClauses(p, prefixes) else (Nil, Nil)
    val branches = whereBranches(p, prefixes)
    val groupVars = scala.collection.mutable.ArrayBuffer.empty[String]
    val groupBinds = scala.collection.mutable.ArrayBuffer.empty[(String, Expr)]
    if (p.peekKw("GROUP")) {
      p.expectKw("GROUP"); p.expectKw("BY")
      // GroupCondition (grammar 19): ?var | ( expr [AS ?var] ) — an
      // expression key materializes pre-aggregation ([[aggregate]]);
      // without AS it groups on a hidden non-projectable column
      while (p.hasNext &&
          ((p.peek().startsWith("?") && p.peek().length > 1) || p.peek() == "(")) {
        if (p.peek() == "(") {
          p.expect("(")
          val e = orExpr(p, prefixes, allowAgg = false)
          val name =
            if (p.peekKw("AS")) {
              p.expectKw("AS")
              val v = p.next()
              require(v.startsWith("?"), s"GROUP BY AS needs ?var, got $v")
              v.drop(1)
            } else s"__gk${groupBinds.size}"
          p.expect(")")
          groupBinds += name -> e
          groupVars += name
        } else groupVars += p.next().drop(1)
      }
      require(groupVars.nonEmpty, "empty GROUP BY")
    }
    var having = Option.empty[Expr]
    if (p.peekKw("HAVING")) {
      p.expectKw("HAVING")
      having = Some(constraint(p, prefixes, allowAgg = true))
    }
    val orderKeys = scala.collection.mutable.ArrayBuffer.empty[OrderKey]
    if (p.peekKw("ORDER")) {
      p.expectKw("ORDER"); p.expectKw("BY")
      // OrderCondition: ?var | [ASC|DESC] ( expr ) | builtin-call —
      // a bare variable stays a named key; anything else is an
      // expression key (hidden sort column)
      def key(e: Expr, asc: Boolean): OrderKey = e match {
        case EVar(n) => OrderKey(n, asc)
        case other => OrderKey("", asc, Some(other))
      }
      // aggregates are legal order conditions on aggregated queries
      // (grammar 24 OrderCondition → BrackettedExpression | BuiltInCall);
      // solve() resolves them against the same hash aggregate as HAVING
      val aggKws = Seq("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE",
        "GROUP_CONCAT")
      while (p.hasNext &&
          ((p.peek().startsWith("?") && p.peek().length > 1) ||
            p.peek() == "(" || p.peekKw("ASC") || p.peekKw("DESC") ||
            builtinFns.exists(p.peekKw) || aggKws.exists(p.peekKw))) {
        if (p.peekKw("ASC") || p.peekKw("DESC")) {
          val asc = p.next().equalsIgnoreCase("ASC")
          p.expect("(")
          val e = orExpr(p, prefixes, allowAgg = true)
          p.expect(")")
          orderKeys += key(e, asc)
        } else if (p.peek() == "(") {
          p.expect("(")
          val e = orExpr(p, prefixes, allowAgg = true)
          p.expect(")")
          orderKeys += key(e, asc = true)
        } else if (builtinFns.exists(p.peekKw) || aggKws.exists(p.peekKw))
          orderKeys += key(orExpr(p, prefixes, allowAgg = true), asc = true)
        else orderKeys += OrderKey(p.next().drop(1), asc = true)
      }
      require(orderKeys.nonEmpty, "empty ORDER BY")
    }
    // LIMIT and OFFSET may appear in either order (SPARQL LimitOffsetClauses)
    var limit, offset = Option.empty[Int]
    while (p.hasNext && (p.peekKw("LIMIT") || p.peekKw("OFFSET"))) {
      val kw = p.next()
      val n = p.nextInt()
      if (kw.equalsIgnoreCase("LIMIT")) limit = Some(n) else offset = Some(n)
    }
    val hasAgg = selectAggs.nonEmpty || groupVars.nonEmpty ||
      having.isDefined || selectBinds.exists(b => collectAggs(b._2).nonEmpty) ||
      orderKeys.exists(_.expr.exists(collectAggs(_).nonEmpty))
    if (hasAgg) {
      require(proj != Seq("*"),
        "SELECT * cannot combine with GROUP BY/aggregates")
      val aliases = selectAggs.map(_._1).toSet ++ selectBinds.map(_._1)
      val bad = proj.filterNot(aliases).filterNot(groupVars.contains)
      require(bad.isEmpty, "non-aggregated SELECT variables must appear " +
        s"in GROUP BY: ${bad.map("?" + _).mkString(", ")}")
    }
    // grammar 28 ValuesClause: a query-final data block (top level only
    // — subqueries stop at their closing brace)
    val trailing =
      if (topLevel && p.hasNext && p.peekKw("VALUES")) {
        p.expectKw("VALUES")
        Some(valuesTable(p, prefixes))
      } else None
    Query(proj, branches, distinct, orderKeys.toSeq, limit, offset,
      ask = false, None, selectAggs.toSeq, groupVars.toSeq, having,
      trailingValues = trailing,
      fromGraphs = fromGraphs, fromNamed = fromNamed,
      groupBinds = groupBinds.toSeq, selectBinds = selectBinds.toSeq)
  }

  /** The `VALUES`-keyword-consumed data block: `?x { c… }` or
    * `(?x ?y) { (c c)… }` with UNDEF cells — shared by block-level
    * VALUES members and the query-final ValuesClause. */
  private def valuesTable(p: P, prefixes: Map[String, String])
      : (Seq[String], Seq[Seq[Option[String]]]) = {
    def constant(): Option[String] = {
      if (p.peekKw("UNDEF")) { p.next(); return None }
      term(p, prefixes) match {
        case C(v) => Some(v.toString)
        case V(n) => throw new IllegalArgumentException(
          s"VALUES rows take constants or UNDEF, got ?$n")
      }
    }
    val vars =
      if (p.peek() == "(") {
        p.expect("(")
        val vs = scala.collection.mutable.ArrayBuffer.empty[String]
        while (p.peek() != ")") {
          val v = p.next()
          require(v.startsWith("?"), s"VALUES needs variables, got $v")
          vs += v.drop(1)
        }
        p.expect(")")
        vs.toSeq
      } else {
        val v = p.next()
        require(v.startsWith("?"), s"VALUES needs a variable, got $v")
        Seq(v.drop(1))
      }
    require(vars.nonEmpty, "VALUES needs at least one variable")
    p.expect("{")
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Option[String]]]
    while (p.peek() != "}") {
      rows += (if (vars.size == 1) Seq(constant())
      else {
        p.expect("(")
        val r = vars.map(_ => constant())
        p.expect(")")
        r
      })
    }
    p.expect("}")
    require(rows.nonEmpty, "empty VALUES table")
    (vars, rows.toSeq)
  }

  /** `WHERE { ... }`: a plain block, or `{ group } UNION { group }...`.
    * A leading `{` followed by SELECT is a subquery member of a plain
    * block, not a union branch. */
  private def whereBranches(p: P, prefixes: Map[String, String]): Seq[Block] = {
    p.expectKw("WHERE"); p.expect("{")
    if (p.peek() == "{" &&
        !p.rest.drop(1).headOption.exists(_.equalsIgnoreCase("SELECT"))) {
      // { group } UNION { group } [ UNION { group } ]*
      val bs = scala.collection.mutable.ArrayBuffer(group(p, prefixes))
      while (p.peekKw("UNION")) { p.expectKw("UNION"); bs += group(p, prefixes) }
      if (p.peek() != "}") {
        // further group members follow the union: it is a nested member of
        // a plain block (SPARQL GroupGraphPattern), joined on shared vars
        val b = blockBody(p, prefixes, leading = Some(bs.toSeq))
        p.expect("}")
        Seq(b)
      } else {
        p.expect("}")
        // a single braced group is a plain nested group, not a union: wrap
        // it so its filters/optionals keep group scope
        if (bs.size == 1) Seq(Block(Nil, Nil, Nil, unions = Seq(bs.toSeq)))
        else bs.toSeq
      }
    } else {
      val b = blockBody(p, prefixes)
      p.expect("}")
      Seq(b)
    }
  }

  private def aggCall(p: P, prefixes: Map[String, String]): EAgg = {
    val fn = p.next().toUpperCase
    require(Set("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE",
      "GROUP_CONCAT")(fn), s"unsupported aggregate: $fn")
    p.expect("(")
    val distinct = p.peekKw("DISTINCT")
    if (distinct) p.next()
    // the argument is `*`, a bare ?var, or a full scalar expression
    // (SPARQL grammar 127 takes any Expression)
    var argExpr = Option.empty[Expr]
    val arg =
      if (p.peek() == "*") { p.next(); None }
      else orExpr(p, prefixes, allowAgg = false) match {
        case EVar(n) => Some(n)
        case e =>
          // DISTINCT composes with expression arguments for every
          // aggregate: the hidden pre-aggregation column materializes
          // the expression, and distinctness applies over that column
          // (GROUP_CONCAT → collect_set, SAMPLE's min is idempotent)
          argExpr = Some(e)
          Some("*expr*") // placeholder; aggregate() materializes argExpr
      }
    // GROUP_CONCAT(?v ; SEPARATOR = "sep") — SPARQL grammar 127
    val sep =
      if (p.peek() == ";") {
        require(fn == "GROUP_CONCAT", s"only GROUP_CONCAT takes a SEPARATOR")
        p.next(); p.expectKw("SEPARATOR"); p.expect("=")
        Some(unquote(p.next()))
      } else None
    p.expect(")")
    require(arg.isDefined || (fn == "COUNT" && !distinct),
      s"$fn(${if (distinct) "DISTINCT " else ""}*) is not supported")
    EAgg(fn, arg, distinct, sep, argExpr)
  }

  /** `{ ... }` union branch. */
  private def group(p: P, prefixes: Map[String, String]): Block = {
    p.expect("{")
    val b = blockBody(p, prefixes)
    p.expect("}")
    b
  }

  /** Triples / paths / OPTIONAL / MINUS / FILTER / BIND / VALUES members
    * up to (not consuming) `}`; `leading` is a `{ group } [UNION ...]`
    * member the caller already consumed. */
  private def blockBody(p: P, prefixes: Map[String, String],
      leading: Option[Seq[Block]] = None): Block = {
    val where = scala.collection.mutable.ArrayBuffer.empty[TP]
    val paths = scala.collection.mutable.ArrayBuffer.empty[(Term, Path, Term)]
    val optionals = scala.collection.mutable.ArrayBuffer.empty[OptBody]
    val minuses = scala.collection.mutable.ArrayBuffer.empty[OptBody]
    val filters = scala.collection.mutable.ArrayBuffer.empty[Expr]
    val binds = scala.collection.mutable.ArrayBuffer.empty[(String, Expr)]
    val exists = scala.collection.mutable
      .ArrayBuffer.empty[(Boolean, OptBody)]
    val subqueries = scala.collection.mutable.ArrayBuffer.empty[Query]
    val graphs = scala.collection.mutable.ArrayBuffer.empty[(Term, Block)]
    val unions = scala.collection.mutable.ArrayBuffer.from(leading)
    val services =
      scala.collection.mutable.ArrayBuffer.empty[(Boolean, Term, Block)]
    def bracedPatterns(): Seq[TP] = {
      p.expect("{")
      val block = scala.collection.mutable.ArrayBuffer.empty[TP]
      while (p.peek() != "}") {
        block ++= sameSubject(p, prefixes, allowPaths = false)._1
        p.maybe(".")
      }
      p.expect("}")
      block.toSeq
    }
    // OPTIONAL / MINUS / EXISTS bodies: triple patterns, property paths,
    // and block-scoped FILTERs
    def groupBody(what: String): OptBody = {
      p.expect("{")
      val pats = scala.collection.mutable.ArrayBuffer.empty[TP]
      val pps = scala.collection.mutable.ArrayBuffer.empty[(Term, Path, Term)]
      val fs = scala.collection.mutable.ArrayBuffer.empty[Expr]
      while (p.peek() != "}") {
        if (p.peekKw("FILTER")) {
          p.expectKw("FILTER")
          fs += constraint(p, prefixes, allowAgg = false)
        } else {
          val (tps, paths) = sameSubject(p, prefixes, allowPaths = true)
          pats ++= tps
          pps ++= paths
          p.maybe(".")
        }
      }
      p.expect("}")
      require(pats.nonEmpty || pps.nonEmpty, s"empty $what block")
      OptBody(pats.toSeq, pps.toSeq, fs.toSeq)
    }
    val values = scala.collection.mutable
      .ArrayBuffer.empty[(Seq[String], Seq[Seq[Option[String]]])]
    while (p.peek() != "}") {
      // GroupGraphPatternSub (grammar 54): an optional '.' may follow any
      // non-triples member; the triples branch consumes its own
      val nonTriples = !(!p.peekKw("OPTIONAL") && !p.peekKw("MINUS") &&
        !p.peekKw("FILTER") && !p.peekKw("BIND") && !p.peekKw("GRAPH") &&
        !p.peekKw("VALUES") && p.peek() != "{")
      if (p.peekKw("OPTIONAL")) {
        p.expectKw("OPTIONAL")
        optionals += groupBody("OPTIONAL")
      } else if (p.peekKw("MINUS")) {
        p.expectKw("MINUS")
        minuses += groupBody("MINUS")
      } else if (p.peekKw("FILTER")) {
        p.expectKw("FILTER")
        if (p.peekKw("EXISTS")) {
          p.expectKw("EXISTS")
          exists += ((true, groupBody("EXISTS")))
        } else if (p.peekKw("NOT")) {
          p.expectKw("NOT"); p.expectKw("EXISTS")
          exists += ((false, groupBody("NOT EXISTS")))
        } else filters += constraint(p, prefixes, allowAgg = false)
      } else if (p.peekKw("BIND")) {
        p.expectKw("BIND"); p.expect("(")
        val e = orExpr(p, prefixes, allowAgg = false)
        p.expectKw("AS")
        val v = p.next()
        require(v.startsWith("?"), s"BIND needs AS ?var, got $v")
        p.expect(")")
        binds += v.drop(1) -> e
      } else if (p.peek() == "{") {
        if (p.rest.drop(1).headOption.exists(_.equalsIgnoreCase("SELECT"))) {
          // { SELECT ... } subquery member
          p.expect("{")
          subqueries += selectQuery(p, prefixes)
          p.expect("}")
        } else {
          // nested { group } [UNION { group }]* member — a single braced
          // group is the one-branch case (its filters/optionals scope to
          // the group, then it joins the enclosing block)
          val bs = scala.collection.mutable.ArrayBuffer(group(p, prefixes))
          while (p.peekKw("UNION")) { p.expectKw("UNION"); bs += group(p, prefixes) }
          unions += bs.toSeq
        }
      } else if (p.peekKw("GRAPH")) {
        p.expectKw("GRAPH")
        val gt = term(p, prefixes)
        p.expect("{")
        val inner = blockBody(p, prefixes)
        p.expect("}")
        // a VARIABLE graph threads ?g through every pattern group of its
        // body (see Dataset.graph); property paths carry the correlation too
        // (per-graph pair sets with ?g bound — solvePathOverGraphs), and
        // subqueries keep ?g through their projection/grouping
        // (adoptGraphVar — their own solve-time validation). An
        // all-optional body has no anchor group to bind ?g — rejected
        // loudly rather than silently mis-run
        if (gt.isInstanceOf[V]) {
          // a NESTED graph re-scopes the active graph, so it cannot
          // anchor the outer ?g; a body made only of nested graphs is
          // fine (the evaluator then crosses the solution with the named-graph
          // name set — the spec's unconstrained ?g range), but a body
          // whose only other members are OPTIONAL/MINUS/EXISTS/FILTER
          // still needs a direct anchor to thread ?g through them
          val anchored = inner.where.nonEmpty || inner.unions.nonEmpty ||
            inner.paths.nonEmpty || inner.subqueries.nonEmpty
          val needsAnchor = inner.optionals.nonEmpty ||
            inner.minuses.nonEmpty || inner.exists.nonEmpty ||
            inner.filters.nonEmpty || inner.binds.nonEmpty
          require(anchored || (inner.graphs.nonEmpty && !needsAnchor),
            "GRAPH ?var blocks take a group body anchored by at least " +
              "one triple, path, union or subquery member")
        }
        graphs += gt -> inner
      } else if (p.peekKw("SERVICE")) {
        p.expectKw("SERVICE")
        val silent =
          if (p.peekKw("SILENT")) { p.expectKw("SILENT"); true } else false
        val ep = term(p, prefixes)
        ep match {
          case C(_: String) | V(_) => ()
          case other => throw new IllegalArgumentException(
            s"SERVICE takes an endpoint IRI or a variable, got $other")
        }
        p.expect("{")
        val inner = blockBody(p, prefixes)
        p.expect("}")
        // GRAPH inside SERVICE is legal against a DATASET endpoint (a
        // registered quads frame); triples endpoints reject at solve
        services += ((silent, ep, inner))
      } else if (p.peekKw("VALUES")) {
        // VALUES ?x { "a" "b" }  |  VALUES (?x ?y) { ("a" "b") ("c" "d") }
        p.expectKw("VALUES")
        values += valuesTable(p, prefixes)
      } else {
        // triples-same-subject: plain patterns, property paths in the
        // predicate slot, and `;`/`,` predicate-object and object lists
        val (tps, pps) = sameSubject(p, prefixes, allowPaths = true)
        where ++= tps
        paths ++= pps
        p.maybe(".")
      }
      if (nonTriples) p.maybe(".")
    }
    require(where.nonEmpty || paths.nonEmpty || subqueries.nonEmpty ||
      graphs.nonEmpty || unions.nonEmpty || services.nonEmpty,
      "empty WHERE block")
    val block = Block(where.toSeq, optionals.toSeq, filters.toSeq,
      minuses.toSeq, values.toSeq, binds.toSeq, paths.toSeq, exists.toSeq,
      subqueries.toSeq, graphs.toSeq, unions.toSeq, services.toSeq)
    checkBnodeScopes(block)
    block
  }

  /** A blank-node label is scoped to ONE pattern group (SPARQL grammar
    * note 10): reuse across the WHERE group and any OPTIONAL/MINUS block
    * is an error, never a silent cross-group join. */
  private def checkBnodeScopes(b: Block): Unit = {
    def labels(tps: Seq[TP]): Set[String] =
      tps.flatMap(tp => Seq(tp.s, tp.p, tp.o))
        .collect { case V(n) if n.startsWith("_:") => n }.toSet
    def pathLabels(pps: Seq[(Term, Path, Term)]): Set[String] =
      pps.flatMap { case (s, _, o) => Seq(s, o) }
        .collect { case V(n) if n.startsWith("_:") => n }.toSet
    def bodyLabels(ob: OptBody): Set[String] =
      labels(ob.pats) ++ pathLabels(ob.paths)
    def blockLabels(blk: Block): Set[String] =
      labels(blk.where) ++ pathLabels(blk.paths) ++
        (blk.optionals ++ blk.minuses ++ blk.exists.map(_._2))
          .flatMap(bodyLabels)
    val whereLabels = labels(b.where) ++ pathLabels(b.paths)
    val groups = whereLabels +:
      ((b.optionals ++ b.minuses ++ b.exists.map(_._2)).map(bodyLabels) ++
        b.graphs.map(g => blockLabels(g._2)) ++
        // each nested union branch is its own label scope
        b.unions.flatten.map(blockLabels))
    val dup = groups.combinations(2).flatMap(pair => pair(0) intersect pair(1))
      .toSeq.distinct
    require(dup.isEmpty,
      s"blank node label used across pattern groups: ${dup.mkString(", ")}")
  }

  /** SPARQL 1.1 path grammar: `alt := seq ('|' seq)*`, `seq := elt ('/'
    * elt)*`, inverse `^elt`, modifiers `+ * ?` on a primary, primaries are
    * IRIs / prefixed names / parenthesized paths. */
  private def parsePath(p: P, prefixes: Map[String, String]): Path = {
    def iri(): String = {
      val t = p.next()
      // the `a` verb shorthand (SPARQL grammar rule 106) — legal wherever
      // a path primary is, i.e. verb and path positions but never as a
      // subject/object term
      if (t == "a") "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
      else if (t.startsWith("<")) t.stripPrefix("<").stripSuffix(">")
      else if (!t.startsWith("\"") && !t.startsWith("?") &&
          !t.startsWith("_:") && t.contains(":")) {
        val Array(pre, local) = t.split(":", 2)
        prefixes.getOrElse(pre, throw new IllegalArgumentException(
          s"unknown prefix '$pre:' in '$t'")) + local
      } else throw new IllegalArgumentException(s"unsupported path element: $t")
    }
    // PathNegatedPropertySet: `!member` or `!(member|…)`, each member an
    // IRI or `^`IRI — forward and inverse members split per §9.1
    def negatedSet(): Path = {
      def member(): (Boolean, String) = {
        val isInv = p.peek() == "^"
        if (isInv) p.next()
        (isInv, iri())
      }
      val ms = scala.collection.mutable.ArrayBuffer.empty[(Boolean, String)]
      if (p.peek() == "(") {
        p.expect("(")
        ms += member()
        while (p.peek() == "|") { p.next(); ms += member() }
        p.expect(")")
      } else ms += member()
      PNps(ms.collect { case (false, v) => v }.toSeq,
        ms.collect { case (true, v) => v }.toSeq)
    }
    def primary(): Path =
      if (p.peek() == "(") { p.expect("("); val q = alt(); p.expect(")"); q }
      else if (p.peek() == "!") { p.next(); negatedSet() }
      else PEdge(iri())
    def elt(): Path = {
      val base = primary()
      if (p.hasNext && Set("+", "*", "?")(p.peek()))
        p.next() match {
          case "+" => PPlus(base)
          case "*" => PStar(base)
          case _ => POpt(base)
        }
      else base
    }
    def eltOrInv(): Path =
      if (p.peek() == "^") { p.next(); PInv(elt()) } else elt()
    def seq(): Path = {
      var q = eltOrInv()
      while (p.hasNext && p.peek() == "/") { p.next(); q = PSeq(q, eltOrInv()) }
      q
    }
    def alt(): Path = {
      var q = seq()
      while (p.hasNext && p.peek() == "|") { p.next(); q = PAlt(q, seq()) }
      q
    }
    alt()
  }

  /** TriplesSameSubject (SPARQL grammar 75/77/79): a subject followed by
    * `verb objectList` groups separated by `;` (predicate-object list),
    * each objectList being objects separated by `,` — all expanding to
    * individual patterns sharing the subject. A verb that is a variable,
    * literal or number is a plain predicate term; anything else parses as
    * a property path (a bare IRI collapses to a plain pattern). A trailing
    * `;` before `.` or `}` is permitted, as in Turtle. */
  private def sameSubject(p: P, prefixes: Map[String, String],
      allowPaths: Boolean): (Seq[TP], Seq[(Term, Path, Term)]) = {
    val tps = scala.collection.mutable.ArrayBuffer.empty[TP]
    val pths = scala.collection.mutable.ArrayBuffer.empty[(Term, Path, Term)]
    val s = termOrColl(p, prefixes, tps)
    // grammar 75: a collection as subject may stand alone (its chain IS
    // the pattern set); a plain term still requires a predicate-object
    // list, as before
    if (tps.nonEmpty && p.hasNext && (p.peek() == "." || p.peek() == "}"))
      return (tps.toSeq, Seq.empty)
    var more = true
    while (more) {
      val pk = p.peek()
      val addObject: Term => Unit =
        if ((pk.startsWith("?") && pk.length > 1) || pk.startsWith("\"") ||
            numRe.matches(pk)) {
          val pd = term(p, prefixes)
          o => tps += TP(s, pd, o)
        } else parsePath(p, prefixes) match {
          case PEdge(iri) => o => tps += TP(s, C(iri), o)
          case composite =>
            require(allowPaths, "property paths are not allowed in " +
              "MINUS/EXISTS blocks or CONSTRUCT templates")
            o => pths += ((s, composite, o))
        }
      addObject(termOrColl(p, prefixes, tps))
      while (p.hasNext && p.peek() == ",") {
        p.next(); addObject(termOrColl(p, prefixes, tps))
      }
      more = p.hasNext && p.peek() == ";" && {
        p.next()
        p.hasNext && p.peek() != "." && p.peek() != "}"
      }
    }
    (tps.toSeq, pths.toSeq)
  }

  private val numRe = """-?\d+(?:\.\d+)?""".r

  private val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

  /** A term, or an RDF collection `( e1 e2 … )` desugared to its
    * rdf:first/rdf:rest/rdf:nil chain (SPARQL grammar 102): each cell is
    * a fresh `_:collN` blank-node variable — non-projectable and
    * block-scoped like any `_:` label — the chain's patterns append to
    * `tps`, and the collection's value is its head cell (rdf:nil when
    * empty). Nested collections recurse. */
  private def termOrColl(p: P, prefixes: Map[String, String],
      tps: scala.collection.mutable.ArrayBuffer[TP]): Term =
    if (p.hasNext && p.peek() == "(") {
      p.expect("(")
      val items = scala.collection.mutable.ArrayBuffer.empty[Term]
      while (p.peek() != ")") items += termOrColl(p, prefixes, tps)
      p.expect(")")
      if (items.isEmpty) C(RdfNs + "nil")
      else {
        val cells: Seq[Term] = items.map { _ =>
          p.collN += 1; V(s"_:coll${p.collN}")
        }.toSeq
        cells.zip(items).foreach { case (cell, item) =>
          tps += TP(cell, C(RdfNs + "first"), item)
        }
        cells.zip(cells.drop(1) :+ C(RdfNs + "nil")).foreach {
          case (cell, nxt) => tps += TP(cell, C(RdfNs + "rest"), nxt)
        }
        cells.head
      }
    } else term(p, prefixes)

  private def term(p: P, prefixes: Map[String, String]): Term = {
    val t = p.next()
    if (t.startsWith("?") && t.length > 1) V(t.drop(1))
    // blank node → internal variable named by its label: joins within its
    // scope like any variable, can never be projected (no '?' token can
    // name it) and is dropped from SELECT *
    else if (t.startsWith("_:")) V(t)
    else if (t.startsWith("<")) C(t.stripPrefix("<").stripSuffix(">"))
    // typed/lang-tagged literals match by LEXICAL form — the triples store
    // holds plain lexical terms (numeric semantics live in FILTER)
    else if (t.startsWith("\"")) C(splitLiteral(t, prefixes)._1)
    // a bare number in a *pattern* matches the term's lexical form
    else if (numRe.matches(t)) C(t)
    else if (t.contains(":")) {
      val Array(pre, local) = t.split(":", 2)
      val base = prefixes.getOrElse(pre,
        throw new IllegalArgumentException(s"unknown prefix '$pre:' in '$t'"))
      C(base + local)
    } else throw new IllegalArgumentException(s"unsupported term: $t")
  }

  private val litRe = """(?s)^("(?:[^"\\]|\\.)*")(.*)$""".r
  private val numericXsd = Set("integer", "int", "long", "short", "byte",
    "decimal", "double", "float", "nonNegativeInteger", "negativeInteger",
    "positiveInteger", "nonPositiveInteger", "unsignedLong", "unsignedInt",
    "unsignedShort", "unsignedByte")

  /** Split a literal token into (lexical form, datatype IRI if any).
    * Lang tags compare by lexical form → datatype None. */
  private def splitLiteral(t: String,
      prefixes: Map[String, String]): (String, Option[String]) = t match {
    case litRe(quoted, suffix) =>
      val lex = unquote(quoted)
      if (suffix.isEmpty || suffix.startsWith("@")) (lex, None)
      else {
        val dt = suffix.stripPrefix("^^")
        val iri =
          if (dt.startsWith("<")) dt.stripPrefix("<").stripSuffix(">")
          else {
            val Array(pre, local) = dt.split(":", 2)
            prefixes.getOrElse(pre, throw new IllegalArgumentException(
              s"unknown prefix '$pre:' in datatype '$dt'")) + local
          }
        (lex, Some(iri))
      }
    case _ => throw new IllegalArgumentException(s"malformed literal: $t")
  }

  private def isNumericDatatype(iri: String): Boolean =
    numericXsd(iri.substring(
      math.max(iri.lastIndexOf('#'), iri.lastIndexOf('/')) + 1))

  // ------------------- expression grammar (FILTER/BIND/HAVING) ----------
  // orExpr := andExpr ('||' andExpr)*        precedence: ! > && > ||,
  // andExpr := notExpr ('&&' notExpr)*       comparisons above arithmetic,
  // notExpr := '!' notExpr | relExpr         '*'/'/' above '+'/'-'
  // relExpr := addExpr (cmpOp addExpr)?
  // addExpr := mulExpr (('+'|'-') mulExpr)*
  // mulExpr := prim (('*'|'/') prim)*
  // prim := '(' orExpr ')' | regex(..) | BOUND(?v) | CONCAT(..) | AGG(..)
  //       | ?var | number | literal | IRI

  /** FILTER/HAVING constraint: a bracketted expression or built-in call
    * (the two shapes SPARQL's `Constraint` production allows). */
  private def constraint(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr =
    if (p.peek() == "(") {
      p.expect("(")
      val e = orExpr(p, prefixes, allowAgg)
      p.expect(")")
      e
    } else {
      // grammar 69: Constraint ::= BrackettedExpression | BuiltInCall |
      // FunctionCall — a bare call (`FILTER langMatches(...)`) is legal
      // without parentheses; anything else (`FILTER ?x > 3`) is not
      require(p.rest.drop(1).headOption.contains("("),
        s"FILTER needs a bracketted expression or a function call, " +
          s"got '${p.peek()}'")
      prim(p, prefixes, allowAgg)
    }

  private def builtin(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr =
    if (p.peekKw("regex")) {
      p.expectKw("regex"); p.expect("(")
      val text = orExpr(p, prefixes, allowAgg)
      p.maybe(",")
      val pat = p.next()
      require(pat.startsWith("\""),
        s"regex needs a literal pattern, got $pat — a variable pattern " +
          "can't be checked for regex-dialect divergence")
      val flags = if (p.peek() == ",") {
        p.next()
        val f = p.next()
        require(f.startsWith("\""), s"regex flags must be a literal, got $f")
        unquote(f)
      } else ""
      p.expect(")")
      ERegex(text, unquote(pat), flags)
    } else {
      p.expectKw("BOUND"); p.expect("(")
      val v = p.next()
      require(v.startsWith("?"), s"BOUND needs a variable, got $v")
      p.expect(")")
      EBound(v.drop(1))
    }

  private def orExpr(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr = {
    var e = andExpr(p, prefixes, allowAgg)
    while (p.hasNext && p.peek() == "||") {
      p.next(); e = EOr(e, andExpr(p, prefixes, allowAgg))
    }
    e
  }

  private def andExpr(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr = {
    var e = notExpr(p, prefixes, allowAgg)
    while (p.hasNext && p.peek() == "&&") {
      p.next(); e = EAnd(e, notExpr(p, prefixes, allowAgg))
    }
    e
  }

  private def notExpr(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr =
    if (p.peek() == "!") { p.next(); ENot(notExpr(p, prefixes, allowAgg)) }
    else relExpr(p, prefixes, allowAgg)

  private val cmpOps = Set("=", "!=", "<", ">", "<=", ">=")

  private def relExpr(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr = {
    val l = addExpr(p, prefixes, allowAgg)
    if (p.hasNext && cmpOps(p.peek())) {
      val op = p.next()
      ECmp(l, op, addExpr(p, prefixes, allowAgg))
    } else if (p.hasNext && (p.peekKw("IN") ||
        (p.peekKw("NOT") && p.rest.drop(1).headOption
          .exists(_.equalsIgnoreCase("IN"))))) {
      // IN/NOT IN are defined as `=`-chain sugar (SPARQL 17.4.1.9/.10):
      // desugar here so they inherit equality's coercion rules exactly
      val negated = p.peekKw("NOT")
      if (negated) p.next()
      p.next(); p.expect("(")
      val elems = scala.collection.mutable.ArrayBuffer.empty[Expr]
      if (p.peek() != ")") {
        elems += addExpr(p, prefixes, allowAgg)
        while (p.peek() == ",") { p.next(); elems += addExpr(p, prefixes, allowAgg) }
      }
      p.expect(")")
      // empty list: IN () is false, NOT IN () is true (no error case here)
      val folded = elems.map(e => ECmp(l, "=", e): Expr)
        .reduceOption(EOr.apply)
        .getOrElse(ECmp(ENum(0), "=", ENum(1)))
      if (negated) ENot(folded) else folded
    } else l
  }

  private def addExpr(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr = {
    var e = mulExpr(p, prefixes, allowAgg)
    while (p.hasNext && (p.peek() == "+" || p.peek() == "-")) {
      val op = p.next()
      e = EArith(e, op, mulExpr(p, prefixes, allowAgg))
    }
    e
  }

  private def mulExpr(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr = {
    var e = prim(p, prefixes, allowAgg)
    while (p.hasNext && (p.peek() == "*" || p.peek() == "/")) {
      val op = p.next()
      e = EArith(e, op, prim(p, prefixes, allowAgg))
    }
    e
  }

  private def prim(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Expr =
    if (p.peek() == "(") {
      p.expect("("); val e = orExpr(p, prefixes, allowAgg); p.expect(")"); e
    } else if (p.peekKw("regex") || p.peekKw("BOUND"))
      builtin(p, prefixes, allowAgg)
    else if (p.peekKw("CONCAT")) {
      p.expectKw("CONCAT")
      EConcat(argList(p, prefixes, allowAgg))
    } else if (zeroArgFns.exists(p.peekKw)) {
      val fn = p.next().toUpperCase
      p.expect("("); p.expect(")")
      EFun(fn, Nil)
    } else if (builtinFns.exists(p.peekKw)) {
      val fn = p.next().toUpperCase
      EFun(fn, argList(p, prefixes, allowAgg))
    } else if (allowAgg && Seq("COUNT", "SUM", "AVG", "MIN", "MAX",
        "SAMPLE", "GROUP_CONCAT").exists(p.peekKw)) aggCall(p, prefixes)
    else if (p.hasNext &&
        (p.peek().startsWith("<") ||
          (p.peek().contains(":") && !p.peek().startsWith("_:") &&
            !p.peek().startsWith("\"") && !p.peek().startsWith("?"))) &&
        p.rest.drop(1).headOption.contains("(")) {
      // IRI function call (grammar 70, iriOrFunction): the supported set
      // is the XSD constructor casts (17.5) — xsd:integer(?x) etc. Any
      // other IRI head is a loud error, not a silent cross product.
      val t = p.next()
      val iri =
        if (t.startsWith("<")) t.stripPrefix("<").stripSuffix(">")
        else {
          val Array(pre, local) = t.split(":", 2)
          prefixes.getOrElse(pre, throw new IllegalArgumentException(
            s"unknown prefix '$pre:' in function call '$t'")) + local
        }
      require(iri.startsWith(XsdNs),
        s"IRI function calls support the XSD constructor casts (SPARQL " +
          s"17.5) — <$iri> is not in the XSD namespace")
      val local = iri.stripPrefix(XsdNs)
      require(xsdCastFns(local),
        s"unsupported XSD constructor: xsd:$local (supported: ${
          xsdCastFns.toSeq.sorted.mkString(", ")})")
      val args = argList(p, prefixes, allowAgg)
      require(args.size == 1, s"xsd:$local takes exactly one argument")
      EFun("XSD:" + local, args)
    }
    else {
      val t = p.next()
      if (t.startsWith("?") && t.length > 1) EVar(t.drop(1))
      else if (numRe.matches(t)) ENum(BigDecimal(t))
      else if (t.startsWith("\"")) splitLiteral(t, prefixes) match {
        // an xsd-numeric typed literal is a numeric constant in
        // expressions — "10"^^xsd:integer compares numerically
        case (lex, Some(dt)) if isNumericDatatype(dt) =>
          require(numRe.matches(lex),
            s"non-numeric lexical form for numeric datatype: $t")
          ENum(BigDecimal(lex))
        case (lex, _) => EStr(lex)
      }
      else if (t.startsWith("<")) EStr(t.stripPrefix("<").stripSuffix(">"))
      else if (t.contains(":") && !t.startsWith("_:")) {
        val Array(pre, local) = t.split(":", 2)
        EStr(prefixes.getOrElse(pre, throw new IllegalArgumentException(
          s"unknown prefix '$pre:' in '$t'")) + local)
      } else throw new IllegalArgumentException(s"unsupported expression term: $t")
    }

  private val builtinFns = Set("STR", "STRLEN", "UCASE", "LCASE", "CONTAINS",
    "STRSTARTS", "STRENDS", "SUBSTR", "ABS", "FLOOR", "CEIL", "ROUND",
    "MD5", "SHA256", "REPLACE", "STRBEFORE", "STRAFTER", "IF", "COALESCE",
    // term introspection ([[Terms]]): exact over term-string stores,
    // plain-literal verdicts over the default plain-lexical stores
    "LANG", "DATATYPE", "LANGMATCHES", "ISIRI", "ISURI", "ISLITERAL",
    "ISBLANK", "ISNUMERIC", "STRLANG", "STRDT", "IRI", "URI", "BNODE",
    // dateTime accessors + the rest of the hash/URI family ([[Terms]])
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
    "TIMEZONE",
    "SHA1", "SHA384", "SHA512", "ENCODE_FOR_URI", "SAMETERM")

  /** Zero-argument built-ins (17.4.1.4-6, 17.4.5.1) — parsed apart from
    * [[argList]], which requires at least one argument. */
  private val zeroArgFns = Seq("NOW", "RAND", "UUID", "STRUUID")

  private val XsdNs = "http://www.w3.org/2001/XMLSchema#"

  /** XSD constructor casts admitted as expression functions (17.5).
    * Integer variants share one lowering; a cast error (lexical form
    * outside the target type's space) is the XPath error → the SPARQL
    * expression errors → BIND leaves the variable unbound, FILTER
    * eliminates the row — exactly a null column cell in both uses. */
  private val xsdCastFns = Set("integer", "long", "int", "short", "byte",
    "decimal", "double", "float", "string", "boolean", "dateTime", "date")

  private val xsdIntegerFns =
    Set("XSD:integer", "XSD:long", "XSD:int", "XSD:short", "XSD:byte")
  private val xsdNumericFns = xsdIntegerFns ++
    Set("XSD:decimal", "XSD:double", "XSD:float")

  // lexical validation is by REGEX, not by engine parser, so the DuckDB
  // oracle states the identical rule (DuckDB would happily round "1.5"
  // to BIGINT 2 where XPath demands a cast error)
  private val xsdIntRe = "^[+-]?[0-9]+$"
  private val xsdDecRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)$"
  private val xsdDblRe =
    "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
  // date/dateTime validate the XSD lexical shape with in-range fields;
  // value-space checks beyond the shape (Feb 30) are documented slack
  private val xsdDateRe = "^-?[0-9]{4,}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
  private val xsdTimeRe = "T([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]" +
    "(\\.[0-9]+)?(Z|[+-](0[0-9]|1[0-4]):[0-5][0-9])?$"

  /** The shared lowering for [[xsdCastFns]]: lexical-form gate by regex
    * (identical rule on both engines), emission in the engine's binding
    * representation — integers as longs, decimal/double as doubles,
    * boolean as boolean, string/dateTime/date as the lexical form. */
  private def xsdCastCol(fn: String, arg: Column): Column = {
    val lex = Terms.lexical(arg.cast("string"))
    fn match {
      case f if xsdIntegerFns(f) =>
        when(lex.rlike(xsdIntRe), lex.cast("long"))
      case "XSD:decimal" =>
        when(lex.rlike(xsdDecRe), lex.cast("double"))
      case "XSD:double" | "XSD:float" =>
        when(lex.rlike(xsdDblRe), lex.cast("double"))
      case "XSD:string" => lex
      case "XSD:boolean" =>
        when(lex.isin("true", "1"), lit(true))
          .when(lex.isin("false", "0"), lit(false))
      case "XSD:dateTime" =>
        when(lex.rlike(xsdDateRe + xsdTimeRe), lex)
      case "XSD:date" =>
        when(lex.rlike(xsdDateRe +
          "(Z|[+-](0[0-9]|1[0-4]):[0-5][0-9])?$"), lex)
    }
  }

  private def argList(p: P, prefixes: Map[String, String],
      allowAgg: Boolean): Seq[Expr] = {
    p.expect("(")
    val args = scala.collection.mutable.ArrayBuffer(
      orExpr(p, prefixes, allowAgg))
    while (p.peek() == ",") { p.next(); args += orExpr(p, prefixes, allowAgg) }
    p.expect(")")
    args.toSeq
  }

  /** `v` as a `"…"` literal that [[unquote]] reads back exactly. */
  private[rdf] def quote(v: String): String =
    "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def unquote(t: String): String =
    t.stripPrefix("\"").stripSuffix("\"")
      .replace("\\\"", "\"").replace("\\\\", "\\")

  private final class P(var toks: List[String]) {
    /** Fresh-label counter for desugared collection cells — per-parse,
      * so a given query text always yields the same internal names. */
    var collN: Int = 0
    def peek(): String = toks.headOption.getOrElse(
      throw new IllegalArgumentException("unexpected end of query"))
    def next(): String = { val t = peek(); toks = toks.tail; t }
    def hasNext: Boolean = toks.nonEmpty
    def rest: List[String] = toks
    def peekKw(kw: String): Boolean = toks.headOption.exists(_.equalsIgnoreCase(kw))
    def expectKw(kw: String): Unit = {
      val t = next()
      require(t.equalsIgnoreCase(kw), s"expected $kw, got $t")
    }
    def expect(s: String): Unit = {
      val t = next()
      require(t == s, s"expected '$s', got '$t'")
    }
    def maybe(s: String): Unit = if (toks.headOption.contains(s)) { toks = toks.tail }
    def nextInt(): Int = {
      val t = next()
      require(t.matches("""\d+"""), s"expected a count, got $t")
      t.toInt
    }
    def nextIri(): String = {
      val t = next()
      require(t.startsWith("<"), s"expected IRI, got $t")
      t.stripPrefix("<").stripSuffix(">")
    }
  }
}
