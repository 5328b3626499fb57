package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SPARQL 1.1 Update subset over the VERSIONED persisted quad store
  * ([[QuadStore]]): `INSERT DATA`, `DELETE DATA`, `DELETE WHERE` and the
  * Modify operation `DELETE { t }? INSERT { t }? WHERE { p }`, each
  * publishing a new immutable snapshot.
  *
  * Operation semantics (SPARQL 1.1 Update §3.1):
  *  - `INSERT DATA { quads }` — ground quads only; graphs are SETS, so
  *    already-present quads are not duplicated.
  *  - `DELETE DATA { quads }` — exact ground-quad removal; tombstones
  *    for absent quads change nothing.
  *  A request made only of these two is resolved on the driver: one
  *  broadcast-semi probe of the store against the request's distinct
  *  quads finds the present ones, and [[groundNet]] folds the ops over
  *  them into the net change. A request with any other op lowers through
  *  [[deltaSeq]], each run of ground ops first folded into at most one
  *  DELETE DATA and one INSERT DATA ([[foldGround]]): a tombstone block
  *  and a broadcast presence check per run, never a global distinct.
  *  - `DELETE WHERE { patterns }` — the pattern is both the match and
  *    the delete template: solve the conjunction (shared variables join
  *    across patterns, `GRAPH <g>` blocks match that named graph),
  *    instantiate every pattern per solution, remove the resulting quad
  *    set.
  *  - `WITH <g>? DELETE { t }? INSERT { t }? USING* WHERE { p }`
  *    (§3.1.3) — WHERE solves once against the original snapshot, both
  *    templates instantiate from those solutions, deletes apply before
  *    inserts: (G \ D) ∪ I. Template variables must be WHERE-bound
  *    (rejected loudly otherwise — this fragment has no bnode-minting
  *    templates). `WITH` redirects the operation's default graph;
  *    `USING` / `USING NAMED` describe the WHERE dataset exactly
  *    (§3.1.3.2/3: default = merge of USING graphs, GRAPH ranges over
  *    the USING NAMED set, WITH then governs templates only).
  *
  * Graph management (§3.2) over the same snapshot model:
  *  - `CLEAR GRAPH <g> | DEFAULT | NAMED | ALL` — empty the target.
  *  - `DROP` ≡ `CLEAR`: this store keeps no empty-graph bookkeeping (a
  *    graph exists iff it has quads), the degenerate case §3.2.2
  *    explicitly permits — so dropping and clearing coincide, and
  *    `CREATE GRAPH` is the matching no-op.
  *  - `ADD|COPY|MOVE (GRAPH <g> | DEFAULT) TO (GRAPH <g> | DEFAULT)` —
  *    set-union into / overwrite / overwrite-and-clear-source; same
  *    source and destination is a no-op per spec.
  *  - `LOAD <file:path> [INTO GRAPH <g>]` — distributed N-Triples or
  *    Turtle ingest (by extension) into the target graph, set semantics.
  *  - `SILENT` is accepted everywhere the grammar allows it (this model
  *    has no "graph does not exist" failures to silence).
  *
  * `GRAPH <iri> { ... }` blocks target named graphs in all forms; quads
  * outside GRAPH target the default graph (or the WITH graph in a
  * Modify). Pattern blocks (DELETE WHERE / Modify) also take
  * `GRAPH ?var { ... }` — the variable ranges over the store's NAMED
  * graphs, binds per solution, and templates may instantiate with it
  * (the "purge this subject wherever it lives" admin idiom:
  * `DELETE WHERE { GRAPH ?g { <s> ?p ?o } }`). Ground data blocks
  * (INSERT/DELETE DATA) stay constant-graph per grammar.
  */
object Update {

  sealed trait Op

  /** CLEAR/DROP target. */
  sealed trait Target
  case object DefaultG extends Target
  case object AllNamed extends Target
  case object AllGraphs extends Target
  final case class OneGraph(g: String) extends Target
  /** A ground quad: (s, p, o, g) with [[Quads.DefaultGraph]] for the
    * default graph. */
  type Quad = (String, String, String, String)
  final case class InsertData(quads: Seq[Quad]) extends Op
  final case class DeleteData(quads: Seq[Quad]) extends Op
  /** Patterns with their target graph: `C(iri)` for a constant graph
    * (`C(Quads.DefaultGraph)` outside GRAPH blocks), `V(name)` for
    * `GRAPH ?var` — the variable ranges over the store's NAMED graphs
    * (SPARQL semantics; the default graph is not in scope) and binds like
    * any other pattern variable, so templates can instantiate with it. */
  final case class DeleteWhere(patterns: Seq[(TP, Term)]) extends Op
  /** The Modify operation (§3.1.3): `WITH <g>? DELETE { t }? INSERT
    * { t }? USING* WHERE { p }` — WHERE solves once against the ORIGINAL
    * store, both templates instantiate from those solutions, deletes
    * apply before inserts: result = (G \ D) ∪ I. Template variables must
    * be WHERE-bound.
    *
    * `withGraph` redirects the operation's default graph: template quads
    * outside GRAPH blocks are stamped with it at parse, and WHERE
    * patterns outside GRAPH match it INSTEAD of the default graph —
    * unless any USING clause is present, in which case (per §3.1.3.2/3)
    * the WHERE dataset is exactly as described: its default graph is the
    * RDF merge of the `usingDefault` graphs and GRAPH blocks range over
    * exactly the `usingNamed` set (a GRAPH naming anything else matches
    * nothing), while WITH keeps governing only the templates. */
  final case class Modify(deleteTpl: Seq[(TP, Term)],
      insertTpl: Seq[(TP, Term)], where: Seq[(TP, Term)],
      withGraph: Option[String] = None,
      usingDefault: Seq[String] = Nil,
      usingNamed: Seq[String] = Nil) extends Op
  /** CLEAR (and DROP — see scaladoc) of a graph target. */
  final case class Clear(target: Target) extends Op
  /** CREATE GRAPH — a no-op in the no-empty-graph model, kept so the
    * syntax round-trips. */
  final case class Create(g: String) extends Op
  /** ADD/COPY/MOVE src TO dst; graphs named by value,
    * [[Quads.DefaultGraph]] for DEFAULT. */
  final case class GraphXfer(kind: String, src: String, dst: String) extends Op
  /** LOAD a local N-Triples/Turtle document into a graph. */
  final case class Load(path: String, graph: String) extends Op

  /** Parse a single-operation update request (errors on sequences —
    * callers that accept full requests use [[parseAll]]). */
  def parse(text: String): Op = {
    val ops = parseAll(text)
    require(ops.size == 1,
      s"expected one update operation, got ${ops.size} — use parseAll")
    ops.head
  }

  /** Parse a full update REQUEST: one or more operations separated by
    * `;`, evaluated in order against the evolving store state (SPARQL
    * 1.1 Update §3). */
  def parseAll(text: String): Seq[Op] = {
    val toks = Sparql.tokenize(text)
    new UParser(toks).parseSeq()
  }

  /** The CHANGE an operation makes against a snapshot, as data: quads to
    * append, quad tombstones, and whole-graph clears, applied in the fixed
    * order clears → dels → adds ([[applyDelta]]). This is what the
    * delta-log store persists per update — O(|delta|) bytes, not
    * O(|store|) — and `adds` is constructed DISJOINT from the
    * post-delete state, so replaying a delta is a plain union with no
    * read-time distinct. */
  final case class Delta(adds: DataFrame, dels: DataFrame,
      clears: Seq[Target])

  /** Apply an operation to a quad snapshot → the successor quad set. */
  def apply(current: DataFrame, op: Op): DataFrame =
    applyDelta(current, delta(current, op))

  /** Replay one [[Delta]] on a snapshot: clears, then tombstones (an
    * anti-join — tiny delta sides broadcast off their file stats, so the
    * store itself never shuffles), then the disjoint-by-construction adds
    * as a bare union. */
  def applyDelta(current: DataFrame, d: Delta): DataFrame = {
    val afterClear = d.clears.foldLeft(current) { (st, t) => t match {
      case DefaultG => st.filter(col("g") =!= Quads.DefaultGraph)
      case OneGraph(g) => st.filter(col("g") =!= g)
      case AllNamed => st.filter(col("g") === Quads.DefaultGraph)
      case AllGraphs => st.limit(0)
    }}
    afterClear.join(d.dels, Seq("s", "p", "o", "g"), "left_anti")
      .unionByName(d.adds)
  }

  /** The sequential composition of two deltas: ONE delta whose replay
    * equals `applyDelta(applyDelta(st, d1), d2)` for every snapshot `st`
    * d1 was computed against. This is what makes a `;`-separated update
    * REQUEST atomic: the whole sequence folds into one published segment
    * instead of one commit per operation (SPARQL 1.1 Protocol expects a
    * request to succeed or fail as a whole).
    *
    * Derivation (replay order is clears → tombstones → adds):
    *  - clears concatenate — every clear removes whole graphs from the
    *    base, so applying d2's clears "early" is harmless for base rows,
    *    and d1's adds into graphs d2 clears are dropped HERE instead.
    *  - d1's adds survive unless d2 clears their graph or tombstones them.
    *  - d2's tombstones for quads d1 added are redundant (those quads were
    *    absent from the pre-d1 state — that's [[Delta]]'s adds-disjointness
    *    invariant — and the add is dropped above), so only tombstones
    *    aimed at pre-d1 quads carry over.
    *  - adds stay disjoint from the composed post-delete state: anything
    *    present after (clears', dels') was present after d1 resp. d2 and
    *    would have been screened out of that delta's adds.
    * A quad in BOTH dels' and adds' (deleted by d1, re-inserted by d2) is
    * fine — tombstones apply before adds, so the base copy is removed and
    * exactly one copy returns. */
  def composeDeltas(d1: Delta, d2: Delta): Delta = {
    val keys = Seq("s", "p", "o", "g")
    def covered(clears: Seq[Target]): Column =
      clears.foldLeft(lit(false)) { (acc, t) => acc || (t match {
        case AllGraphs => lit(true)
        case AllNamed => col("g") =!= Quads.DefaultGraph
        case DefaultG => col("g") === Quads.DefaultGraph
        case OneGraph(g) => col("g") === g
      })}
    val a1s = d1.adds.filter(!covered(d2.clears))
      .join(d2.dels, keys, "left_anti")
    val carriedTombs = d2.dels.join(d1.adds, keys, "left_anti")
    Delta(a1s.unionByName(d2.adds),
      d1.dels.filter(!covered(d2.clears)).unionByName(carriedTombs),
      d1.clears ++ d2.clears)
  }

  /** The net [[Delta]] of a whole operation SEQUENCE against `current`:
    * each operation's delta is computed against the state its
    * predecessors left (per SPARQL 1.1 Update §3), then folded via
    * [[composeDeltas]] into one delta — so a request publishes ONE
    * version atomically, and any mid-sequence failure (unbound template
    * variable, empty block) surfaces before anything is committed.
    * Each op's plan reads the previous state, so the plan grows with
    * every lowered op; runs of ground ops lower as at most two
    * ([[foldGround]]), and a request that alternates ground and pattern
    * ops op by op still grows per op. */
  def deltaSeq(current: DataFrame, ops: Seq[Op]): Delta = {
    require(ops.nonEmpty, "empty update request")
    val spark = current.sparkSession
    import spark.implicits._
    def none: DataFrame =
      Seq.empty[(String, String, String, String)].toDF("s", "p", "o", "g")
    var state = current
    var acc = Delta(none, none, Nil)
    foldGround(ops).foreach { op =>
      val d = delta(state, op)
      state = applyDelta(state, d)
      acc = composeDeltas(acc, d)
    }
    acc
  }

  /** Fold each maximal run of consecutive `INSERT DATA` / `DELETE DATA`
    * ops into at most one `DELETE DATA` D followed by one `INSERT DATA`
    * A, on the driver: an insert of q adds q to A and drops it from D, a
    * delete the reverse. Exact, since replaying the pair gives
    * S′ = (S ∖ D) ∪ A, and each quad's last op in the run decides which
    * side holds it. Empty sides are dropped; other ops pass through in
    * place. */
  def foldGround(ops: Seq[Op]): Seq[Op] = {
    val out = Seq.newBuilder[Op]
    val adds = scala.collection.mutable.LinkedHashSet.empty[Quad]
    val dels = scala.collection.mutable.LinkedHashSet.empty[Quad]
    def flush(): Unit = {
      if (dels.nonEmpty) out += DeleteData(dels.toSeq)
      if (adds.nonEmpty) out += InsertData(adds.toSeq)
      dels.clear(); adds.clear()
    }
    ops.foreach {
      case InsertData(qs) => adds ++= qs; dels --= qs
      case DeleteData(qs) => dels ++= qs; adds --= qs
      case op => flush(); out += op
    }
    flush()
    out.result()
  }

  /** The candidate set of an ALL-GROUND request — every op `INSERT DATA`
    * or `DELETE DATA` — as its distinct quads in request order; `None`
    * when any op needs the store to compute its effect. */
  def groundCandidates(ops: Seq[Op]): Option[Seq[Quad]] = {
    val blocks = ops.collect {
      case InsertData(qs) => qs
      case DeleteData(qs) => qs
    }
    if (ops.nonEmpty && blocks.size == ops.size) Some(blocks.flatten.distinct)
    else None
  }

  /** The NET change of an all-ground request, computed on the driver:
    * `present` is the subset of its [[groundCandidates]] the snapshot
    * holds; folding the ops over it in request order (insert adds its
    * quads, delete removes them) gives the end state E of the candidates,
    * and the request's net change is `(E ∖ present, present ∖ E)` — the
    * same sets [[deltaSeq]] screened to net form publishes, since
    * replaying any delta (A, D) gives S′ = (S ∖ D) ∪ A. Both sides come
    * back in candidate order. */
  def groundNet(ops: Seq[Op], present: Set[Quad]): (Seq[Quad], Seq[Quad]) = {
    val cands = groundCandidates(ops).getOrElse(throw new IllegalArgumentException(
      "groundNet takes INSERT DATA / DELETE DATA requests only"))
    val end = ops.foldLeft(present) {
      case (st, InsertData(qs)) => st ++ qs
      case (st, DeleteData(qs)) => st -- qs
      case (st, _) => st
    }
    (cands.filter(q => end(q) && !present(q)),
      cands.filter(q => present(q) && !end(q)))
  }

  /** Compute an operation's [[Delta]] against `current`. The store may be
    * SCANNED here (set-semantics presence checks), but everything returned
    * is delta-sized: ground blocks, template instantiations, one moved
    * graph — never a rewritten store. */
  def delta(current: DataFrame, op: Op): Delta = {
    val spark = current.sparkSession
    import spark.implicits._
    def lit4(qs: Seq[(String, String, String, String)]): DataFrame =
      qs.toDF("s", "p", "o", "g")
    def none: DataFrame =
      Seq.empty[(String, String, String, String)].toDF("s", "p", "o", "g")
    val keys = Seq("s", "p", "o", "g")
    op match {
      case InsertData(qs) =>
        // set semantics per graph without a global distinct: only the
        // genuinely-new literal quads append. Presence-check shape: a
        // direct block-anti-current join would put the STORE on the build
        // side (LeftAnti can only broadcast its right), shuffling the
        // whole store to screen a handful of ground quads — instead scan
        // the store once against the BROADCAST block (semi, shuffle-free;
        // ≤ |block| survivors) and anti the block against that tiny set
        val block = lit4(qs).distinct()
        val present = current.join(broadcast(block), keys, "left_semi")
        Delta(block.join(present, keys, "left_anti"), none, Nil)
      case DeleteData(qs) =>
        // tombstones for quads that were never present are harmless under
        // anti-join replay, so no presence screen is needed
        Delta(none, lit4(qs).distinct(), Nil)
      case DeleteWhere(pats) =>
        require(pats.nonEmpty, "empty DELETE WHERE")
        // the pattern is both match and template
        modifyDelta(current, pats, Nil, pats, None, Nil, Nil)
      case Modify(del, ins, where, withG, usingD, usingN) =>
        require(del.nonEmpty || ins.nonEmpty,
          "Modify needs a DELETE or INSERT template")
        require(where.nonEmpty, "empty WHERE in Modify")
        modifyDelta(current, del, ins, where, withG, usingD, usingN)
      case Clear(target) => Delta(none, none, Seq(target))
      case Create(_) => Delta(none, none, Nil) // no empty-graph bookkeeping
      case GraphXfer(kind, src, dst) =>
        if (src == dst) Delta(none, none, Nil) // §3.2.5: no-op
        else {
          val moved = current.filter(col("g") === src)
            .withColumn("g", lit(dst))
          kind match {
            // set union: only quads not already in the destination append
            case "ADD" => Delta(moved.join(current, keys, "left_anti"),
              none, Nil)
            // overwrite: clear the destination, append the whole source
            case "COPY" => Delta(moved, none, Seq(OneGraph(dst)))
            case "MOVE" => Delta(moved, none,
              Seq(OneGraph(dst), OneGraph(src)))
          }
        }
      case Load(path, g) =>
        val triples =
          if (path.endsWith(".ttl")) Turtle.read(spark, path)
          else if (path.endsWith(".nt")) NTriples.read(spark, path)
          else throw new IllegalArgumentException(
            s"LOAD reads .nt or .ttl documents, got: $path")
        val quads = triples.withColumn("g", lit(g))
        Delta(quads.join(current, keys, "left_anti"), none, Nil)
    }
  }

  private def term2col(t: Term): org.apache.spark.sql.Column = t match {
    case V(n) => col(n)
    case C(v) => typedLit(v.toString)
  }

  /** Solve WHERE once over the current snapshot, instantiate both
    * templates from the solutions, deletes before inserts (set semantics
    * per graph, no global distinct over the store). The insert leg is
    * screened against the post-delete state the same semi-then-anti way as
    * INSERT DATA — the store is scanned, never put on an anti-join's
    * build side. */
  private def modifyDelta(current: DataFrame, del: Seq[(TP, Term)],
      ins: Seq[(TP, Term)], where: Seq[(TP, Term)],
      withGraph: Option[String], usingDefault: Seq[String],
      usingNamed: Seq[String]): Delta = {
    val spark = current.sparkSession
    import spark.implicits._
    def none: DataFrame =
      Seq.empty[(String, String, String, String)].toDF("s", "p", "o", "g")
    val keys = Seq("s", "p", "o", "g")
    val hasDataset = usingDefault.nonEmpty || usingNamed.nonEmpty
    // the graph slice a WHERE pattern matches: the default-graph token
    // resolves through WITH / USING (scaladoc on [[Modify]]); an explicit
    // GRAPH <g> outside the USING NAMED set of a described dataset
    // matches nothing
    def slice(g: String): DataFrame =
      if (g == Quads.DefaultGraph) {
        if (usingDefault.nonEmpty) {
          // RDF merge: a graph is a SET of triples, so a multi-graph
          // merge dedups (one distinct, only when >1 graph is merged)
          val merged = current.filter(col("g").isin(usingDefault: _*))
          if (usingDefault.size > 1)
            merged.select("s", "p", "o").distinct()
              .withColumn("g", lit(Quads.DefaultGraph))
          else merged
        } else if (hasDataset) current.limit(0) // USING NAMED only: empty default
        else current.filter(
          col("g") === withGraph.getOrElse(Quads.DefaultGraph))
      } else if (hasDataset && !usingNamed.contains(g)) current.limit(0)
      else current.filter(col("g") === g)
    // GRAPH ?var ranges over the NAMED graphs (never the default — SPARQL
    // dataset semantics); with a USING-described dataset it ranges over
    // exactly the USING NAMED set
    def sliceVar: DataFrame =
      if (usingNamed.nonEmpty) current.filter(col("g").isin(usingNamed: _*))
      else if (hasDataset) current.limit(0)
      else current.filter(col("g") =!= Quads.DefaultGraph)
    // solve the conjunction: each pattern over its graph slice, joined on
    // shared variables; a variable graph binds `g` as a solution column
    val solved0 = where.map { case (tp, gt) =>
      gt match {
        case C(g) => Bgp.onePattern(slice(g.toString),
          Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o))
        case v @ V(_) => Bgp.onePattern(sliceVar,
          Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o, "g" -> v))
      }
    }.reduce(Bgp.joinSolved)
    // both templates instantiate from the SAME solution set; materialize
    // when more than one template leg would re-run the solve
    val solved = if (del.size + ins.size > 1) graft.Materialize(solved0)
      else solved0
    val bound = solved.columns.toSet
    def inst(tpl: Seq[(TP, Term)]): DataFrame = {
      tpl.foreach { case (tp, gt) =>
        Seq(tp.s, tp.p, tp.o, gt).foreach {
          case V(n) => require(bound(n),
            s"template variable ?$n is not bound by the WHERE pattern")
          case _ => ()
        }
      }
      tpl.map { case (tp, gt) =>
        solved.select(term2col(tp.s).as("s"), term2col(tp.p).as("p"),
          term2col(tp.o).as("o"), term2col(gt).as("g"))
      }.reduce(_ unionByName _).distinct()
    }
    val delQ = if (del.isEmpty) none else inst(del)
    if (ins.isEmpty) Delta(none, delQ, Nil)
    else {
      val insQ = inst(ins)
      val afterDel =
        if (del.isEmpty) current
        else current.join(delQ, keys, "left_anti")
      val present = afterDel.join(insQ, keys, "left_semi")
      Delta(insQ.join(present, keys, "left_anti"), delQ, Nil)
    }
  }

  // ------------------------------ parser -------------------------------

  private final class UParser(var toks: List[String]) {
    private def peek: String = toks.headOption.getOrElse(
      throw new IllegalArgumentException("unexpected end of update"))
    private def next(): String = { val t = peek; toks = toks.tail; t }
    private def peekKw(kw: String): Boolean =
      toks.headOption.exists(_.equalsIgnoreCase(kw))
    private def expectKw(kw: String): Unit = {
      val t = next()
      require(t.equalsIgnoreCase(kw), s"expected $kw, got $t")
    }
    private def expect(s: String): Unit = {
      val t = next()
      require(t == s, s"expected '$s', got '$t'")
    }

    private var prefixes = Map.empty[String, String]

    def parseOp(): Op = {
      while (peekKw("PREFIX")) {
        expectKw("PREFIX")
        val name = next().stripSuffix(":")
        val iri = next()
        require(iri.startsWith("<"), s"PREFIX needs an IRI, got $iri")
        prefixes += name -> iri.stripPrefix("<").stripSuffix(">")
      }
      // WITH <g> may only prefix the full Modify operation (grammar 41);
      // it redirects the templates' and (absent USING) the WHERE's
      // default graph
      val withG: Option[String] =
        if (peekKw("WITH")) { expectKw("WITH"); Some(graphIri()) } else None
      def requireNoWith(what: String): Unit = require(withG.isEmpty,
        s"WITH applies to DELETE/INSERT ... WHERE only, not $what")
      // stamp a template's non-GRAPH quads with the WITH graph
      def stamp(tpl: Seq[(TP, Term)]): Seq[(TP, Term)] = tpl.map {
        case (tp, C(g)) if g == Quads.DefaultGraph =>
          (tp, C(withG.getOrElse(Quads.DefaultGraph)))
        case x => x
      }
      // `USING <g>` / `USING NAMED <g>` dataset clauses before WHERE
      def usingClauses(): (Seq[String], Seq[String]) = {
        val d = scala.collection.mutable.ArrayBuffer.empty[String]
        val n = scala.collection.mutable.ArrayBuffer.empty[String]
        while (peekKw("USING")) {
          expectKw("USING")
          if (peekKw("NAMED")) { expectKw("NAMED"); n += graphIri() }
          else d += graphIri()
        }
        (d.toSeq, n.toSeq)
      }
      val op =
        if (peekKw("INSERT")) {
          expectKw("INSERT")
          if (peekKw("DATA")) {
            requireNoWith("INSERT DATA")
            expectKw("DATA"); InsertData(groundBlock())
          } else {
            // INSERT { template } USING* WHERE { patterns }
            val ins = patternBlock()
            val (ud, un) = usingClauses()
            expectKw("WHERE")
            Modify(Nil, stamp(ins), patternBlock(), withG, ud, un)
          }
        } else if (peekKw("DELETE")) {
          expectKw("DELETE")
          if (peekKw("DATA")) {
            requireNoWith("DELETE DATA")
            expectKw("DATA"); DeleteData(groundBlock())
          } else if (peekKw("WHERE")) {
            requireNoWith("DELETE WHERE")
            expectKw("WHERE"); DeleteWhere(patternBlock())
          } else if (peek == "{") {
            // DELETE { t } [INSERT { t }] USING* WHERE { patterns }
            val del = patternBlock()
            val ins = if (peekKw("INSERT")) { expectKw("INSERT"); patternBlock() }
              else Nil
            val (ud, un) = usingClauses()
            expectKw("WHERE")
            Modify(stamp(del), stamp(ins), patternBlock(), withG, ud, un)
          } else throw new IllegalArgumentException(
            "DELETE takes DATA, WHERE, or a { template } " +
              s"(got DELETE ${peek})")
        } else if (peekKw("CLEAR") || peekKw("DROP")) {
          requireNoWith(peek.toUpperCase)
          next() // DROP ≡ CLEAR in the no-empty-graph model (scaladoc)
          maybeSilent()
          Clear(
            if (peekKw("DEFAULT")) { next(); DefaultG }
            else if (peekKw("NAMED")) { next(); AllNamed }
            else if (peekKw("ALL")) { next(); AllGraphs }
            else { expectKw("GRAPH"); OneGraph(graphIri()) })
        } else if (peekKw("CREATE")) {
          requireNoWith("CREATE")
          expectKw("CREATE"); maybeSilent(); expectKw("GRAPH")
          Create(graphIri())
        } else if (peekKw("ADD") || peekKw("COPY") || peekKw("MOVE")) {
          requireNoWith(peek.toUpperCase)
          val kind = next().toUpperCase
          maybeSilent()
          val src = graphOrDefault()
          expectKw("TO")
          GraphXfer(kind, src, graphOrDefault())
        } else if (peekKw("LOAD")) {
          requireNoWith("LOAD")
          expectKw("LOAD"); maybeSilent()
          val iri = graphIri()
          val path = iri.stripPrefix("file://")
          val g = if (peekKw("INTO")) {
            expectKw("INTO"); expectKw("GRAPH"); graphIri()
          } else Quads.DefaultGraph
          Load(path, g)
        } else throw new IllegalArgumentException(
          s"unsupported update operation: $peek")
      op
    }

    /** A full update REQUEST: `;`-separated operation sequence (SPARQL
      * 1.1 Update grammar [29]). PREFIX declarations accumulate across
      * operations, per spec; a trailing `;` is legal. */
    def parseSeq(): Seq[Op] = {
      val ops = Seq.newBuilder[Op]
      ops += parseOp()
      while (toks.headOption.contains(";")) {
        next()
        if (toks.nonEmpty) ops += parseOp()
      }
      require(toks.isEmpty,
        s"trailing tokens after update sequence: ${toks.take(5).mkString(" ")}")
      ops.result()
    }

    private def maybeSilent(): Unit = if (peekKw("SILENT")) { next(); () }

    /** A graph IRI (bare or after GRAPH), as its plain value. */
    private def graphIri(): String = term() match {
      case C(v) => v.toString
      case V(n) => throw new IllegalArgumentException(
        s"graph management names graphs with IRIs, got ?$n")
    }

    /** `GraphOrDefault ::= DEFAULT | GRAPH? iri` (grammar 45/46). */
    private def graphOrDefault(): String =
      if (peekKw("DEFAULT")) { next(); Quads.DefaultGraph }
      else { if (peekKw("GRAPH")) next(); graphIri() }

    /** `{ quads }` — ground terms only. */
    private def groundBlock(): Seq[Quad] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Quad]
      expect("{")
      while (peek != "}") {
        if (peekKw("GRAPH")) {
          expectKw("GRAPH")
          val g = groundTerm()
          expect("{")
          while (peek != "}") { out ++= groundTriples(g); maybeDot() }
          expect("}")
        } else { out ++= groundTriples(Quads.DefaultGraph); maybeDot() }
      }
      expect("}")
      require(out.nonEmpty, "empty data block")
      out.toSeq
    }

    private def groundTriples(g: String): Seq[Quad] =
      sameSubject().map(tp => (ground(tp.s), ground(tp.p), ground(tp.o), g))

    private def maybeDot(): Unit =
      if (toks.headOption.contains(".")) toks = toks.tail

    private def groundTerm(): String = ground(term())

    private def ground(t: Term): String = t match {
      case C(v) => v.toString
      case V(n) => throw new IllegalArgumentException(
        s"INSERT/DELETE DATA take ground terms only, got ?$n")
    }

    /** `{ patterns }` with optional `GRAPH (<g> | ?var) { ... }` members —
      * a variable graph ranges over the named graphs and binds like any
      * pattern variable (see [[DeleteWhere]]). */
    private def patternBlock(): Seq[(TP, Term)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(TP, Term)]
      expect("{")
      while (peek != "}") {
        if (peekKw("GRAPH")) {
          expectKw("GRAPH")
          val g = term()
          expect("{")
          while (peek != "}") { out ++= sameSubject().map((_, g)); maybeDot() }
          expect("}")
          maybeDot()
        } else {
          out ++= sameSubject().map((_, C(Quads.DefaultGraph)))
          maybeDot()
        }
      }
      expect("}")
      out.toSeq
    }

    /** One same-subject group, `s p o (, o)* (; (p o (, o)*)?)*` —
      * object lists after `,` and predicate-object lists after `;`
      * (grammar rules 75–79), as triples in written order. */
    private def sameSubject(): Seq[TP] = {
      val s = term()
      val out = Seq.newBuilder[TP]
      def objects(p: Term): Unit = {
        out += TP(s, p, term())
        while (peek == ",") { next(); out += TP(s, p, term()) }
      }
      objects(verb())
      while (peek == ";") {
        next()
        if (!Set(";", ".", "}").contains(peek)) objects(verb())
      }
      out.result()
    }

    /** A predicate: `a` abbreviates rdf:type in verb position (grammar
      * rule 106), as in the query parser. */
    private def verb(): Term =
      if (peek == "a") {
        next(); C("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
      } else term()

    /** A single RDF term (no lists/paths — update blocks are flat). */
    private def term(): Term = {
      val t = next()
      if (t.startsWith("?") && t.length > 1) V(t.drop(1))
      else if (t.startsWith("<")) C(t.stripPrefix("<").stripSuffix(">"))
      else if (t.startsWith("\"")) {
        // lexical-form convention, as in the query parser
        val litRe = """(?s)^"((?:[^"\\]|\\.)*)".*$""".r
        t match {
          case litRe(lex) => C(NtEscapes.unescape(lex))
          case _ => throw new IllegalArgumentException(s"malformed literal: $t")
        }
      } else if (t.matches("""-?\d+(?:\.\d+)?""")) C(t)
      else if (t.contains(":") && !t.startsWith("_:")) {
        val Array(pre, local) = t.split(":", 2)
        C(prefixes.getOrElse(pre, throw new IllegalArgumentException(
          s"unknown prefix '$pre:' in '$t'")) + local)
      } else throw new IllegalArgumentException(s"unsupported term: $t")
    }
  }
}

/** Versioned persisted quad store with a DELTA LOG: full parquet
  * snapshots `v00001, …` (bases) interleaved with per-update delta
  * segments `d00002, …` under one root, every directory published
  * crash-safely via [[graft.sources.AtomicStore]] (build → marker →
  * atomic rename, Hadoop-FS-portable). Version `v`'s state is the newest
  * base at-or-below `v` with the deltas `(base, v]` replayed in order
  * ([[Update.applyDelta]]: clears → tombstones → adds). Readers resolve
  * the highest COMPLETE version — a torn write is invisible — and a
  * version, once published, never changes: queries pinned to a version
  * are repeatable while updates land.
  *
  * Scale notes: an update writes O(|delta|) bytes — a one-quad
  * `INSERT DATA` against a 100 TB store appends a few-KB segment, never a
  * rewritten snapshot (the old copy-on-write path cost O(|store|) per
  * statement). Updates still SCAN the store for set-semantics presence
  * checks, scan-only and never shuffled: an all-ground request
  * (`INSERT DATA` / `DELETE DATA` only) scans it once, one broadcast
  * probe for its candidate quads; any other request scans it once per
  * presence check or pattern solve, plus once for the net screen. Delta
  * replay adds one anti-join + union per segment to read plans, with
  * the tiny segment sides broadcast off their file stats; [[vacuum]] is
  * the compaction step that folds a delta chain back into a base,
  * bounding replay depth — run it on the same cadence as Delta/Iceberg
  * table maintenance. Bases are written `partitionBy("g")`, so
  * constant-GRAPH queries partition-prune. Concurrent writers are safe:
  * writers racing for the same successor version serialize through
  * [[occPublish]] — exactly one wins the slot, and each loser recomputes
  * its delta against the winner's state and publishes at the next
  * version, so no update is dropped.
  */
object QuadStore {

  // {5,}: path formatting pads to five digits but grows past them at
  // version 100000 — an exact-width match would silently drop newer
  // versions from the listing (readers would serve stale snapshots)
  private val VersionRe = """^v(\d{5,})$""".r
  private val DeltaRe = """^d(\d{5,})$""".r

  // the default graph's "" would round-trip as a Hive null partition;
  // store it under a real directory token instead
  private val DefaultGraphDir = "__default__"

  // clear-tombstone sentinels in a delta segment's `g` column; a NUL
  // (written as an escape so the file greps as text) cannot open a graph
  // IRI, so these never collide with real graphs
  private val ClearAll = "\u0000ALL"
  private val ClearNamed = "\u0000NAMED"

  /** Publish `quads` as the next version — a full base snapshot; returns
    * the version number. Updates go through [[update]] (delta segments);
    * this is the bulk-load / compaction write. */
  def publish(quads: DataFrame, root: String): Int = {
    val v = currentVersion(root).getOrElse(0) + 1
    writeBase(quads, path(root, v))
    v
  }

  private def writeBase(quads: DataFrame, dest: String): Unit = {
    graft.sources.AtomicStore.materialize(dest)(tmp => {
      val out = quads.withColumn("g",
        when(col("g") === Quads.DefaultGraph, lit(DefaultGraphDir))
          .otherwise(col("g")))
      // a zero-row partitioned write leaves no schema-bearing files and the
      // snapshot would be unreadable — an empty store (CLEAR ALL, a
      // delete-everything Modify) writes one unpartitioned schema-only file
      if (out.isEmpty) out.write.parquet(tmp)
      else out.write.partitionBy("g").parquet(tmp)
    }): Unit
  }

  /** Initialize the store with version 1 unless versions already exist. */
  def init(quads: DataFrame, root: String): Int =
    currentVersion(root).getOrElse(publish(quads, root))

  /** Complete versions under `root` as (version, isBase), ascending. A
    * version compacted in place can carry both a base and a (redundant)
    * delta directory — the base wins. */
  private def versions(root: String): Seq[(Int, Boolean)] =
    graft.sources.AtomicStore.list(root).flatMap { f =>
      val name = f.getPath.getName
      val complete = () =>
        graft.sources.AtomicStore.isComplete(f.getPath.toString)
      name match {
        case VersionRe(n) if complete() => Some(n.toInt -> true)
        case DeltaRe(n) if complete() => Some(n.toInt -> false)
        case _ => None
      }
    }.groupBy(_._1).map { case (v, vs) => v -> vs.exists(_._2) }
      .toSeq.sortBy(_._1)

  /** Number of live (base + delta) versions under `root` — the replay
    * chain length, the quantity retention policies bound. */
  def chainLength(root: String): Int = versions(root).size

  def currentVersion(root: String): Option[Int] = {
    val vs = versions(root)
    if (vs.isEmpty) None else Some(vs.map(_._1).max)
  }

  private def path(root: String, v: Int): String = f"$root%s/v$v%05d"
  private def deltaPath(root: String, v: Int): String = f"$root%s/d$v%05d"

  /** The current snapshot (highest complete version). */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no complete version under $root")))

  /** A PINNED version — immutable, repeatable reads: the newest base
    * at-or-below `v` plus the ordered replay of the delta segments up to
    * `v`. Fails fast when the supporting chain was vacuumed.
    *
    * Small stores are served from a session-scoped SNAPSHOT CACHE
    * (see [[SnapshotCacheMaxBytesProp]]): the replayed state is
    * checkpointed once and every subsequent consumer — the next update's
    * delta computation, a view sync reading (last, cur), the final
    * query — reuses the materialized blocks instead of re-planning and
    * re-broadcasting the whole replay chain. Versions are immutable, so
    * a cached (root, v) can never be stale; a new version extends the
    * nearest cached ancestor with only its own tiny segments. Stores
    * above the byte gate bypass the cache entirely — at 100 TB a
    * snapshot must stay a lazy scan, not a materialized copy. */
  def readVersion(spark: SparkSession, root: String, v: Int): DataFrame = {
    val sess = graft.sources.AtomicStore.sessionId(spark)
    val enabled = cacheMaxBytes(spark) > 0
    (if (enabled) snapCache.synchronized(
       Option(snapCache.get((sess, root, v, vFingerprint(root, v)))))
     else None) match {
      case Some(df) => df
      case None =>
        val vs = versions(root).toMap
        val base = vs.filter { case (i, isBase) => isBase && i <= v }
          .keys.maxOption.getOrElse(throw new IllegalArgumentException(
            s"no base snapshot at or below v$v under $root — vacuumed?"))
        val segs = (base + 1 to v)
        segs.foreach(i => require(vs.contains(i),
          s"version $i missing from the delta chain under $root — vacuumed?"))
        // extend the NEWEST cached ancestor in (base, v) instead of
        // replaying from the base: per version, the incremental work is
        // one tiny-segment fold, however long the session has run
        val anc = if (!enabled) None else snapCache.synchronized {
          (v - 1 to base + 1 by -1).iterator
            .map(b => b ->
              Option(snapCache.get((sess, root, b, vFingerprint(root, b)))))
            .collectFirst { case (b, Some(df)) => (b, df) }
        }
        val (startV, startDf) = anc.getOrElse(
          base -> readBase(spark, root, base))
        val rest = (startV + 1 to v)
        val df =
          if (rest.isEmpty) startDf
          else if (rest.size <= flatReplayThreshold)
            rest.foldLeft(startDf) { (st, i) =>
              Update.applyDelta(st, readDelta(spark, root, i))
            }
          else readVersionFlat(spark, startDf, root, rest)
        maybeCacheSnapshot(spark, root, v, base, segs, df)
    }
  }

  /** A PINNED version restricted to ONE graph — the graph filter lands
    * on the `partitionBy("g")` base scan as a partition filter (pruned
    * at file-listing time) and on each tiny delta segment, never on a
    * materialized full-store snapshot: a view over one graph of a
    * 100 TB multi-graph store reads that graph's files only. Bypasses
    * the snapshot cache on purpose (a checkpoint cannot
    * partition-prune); replay depth is vacuum-bounded, and each
    * segment's ops shrink to the graph's sliver before the anti-joins.
    * Clears apply unchanged — [[Update.applyDelta]] evaluates their
    * coverage per row over the (already sliced) `g` column.
    *
    * Cache interplay: when the store is WITHIN the snapshot-cache
    * budget, the slice filters the checkpointed snapshot instead — for
    * a small store, one materialized scan beats re-running the replay
    * fold's broadcasts per consumer, and the slice inherits every other
    * consumer's cache hit. The pruned lazy fold below is the BIG-store
    * path, where a full-snapshot checkpoint is exactly what must not
    * happen. */
  def readVersionGraph(spark: SparkSession, root: String, v: Int,
      graph: String): DataFrame = {
    val maxBytes = cacheMaxBytes(spark)
    if (maxBytes > 0) {
      val sess = graft.sources.AtomicStore.sessionId(spark)
      val cached = snapCache.synchronized(
        Option(snapCache.get((sess, root, v, vFingerprint(root, v)))))
      val served = cached.getOrElse {
        val vs0 = versions(root).toMap
        val base0 = vs0.filter { case (i, b) => b && i <= v }
          .keys.maxOption.getOrElse(-1)
        val bytes =
          if (base0 < 0) Long.MaxValue
          else graft.sources.AtomicStore.sizeBytes(path(root, base0)) +
            (base0 + 1 to v).map(i =>
              graft.sources.AtomicStore.sizeBytes(deltaPath(root, i))).sum
        if (bytes <= maxBytes) readVersion(spark, root, v) else null
      }
      if (served != null)
        return served.filter(col("g") === graph)
    }
    val vs = versions(root).toMap
    val base = vs.filter { case (i, isBase) => isBase && i <= v }
      .keys.maxOption.getOrElse(throw new IllegalArgumentException(
        s"no base snapshot at or below v$v under $root — vacuumed?"))
    val segs = (base + 1 to v)
    segs.foreach(i => require(vs.contains(i),
      s"version $i missing from the delta chain under $root — vacuumed?"))
    // filter on the STORAGE token before the default-graph remap — a
    // filter through the CASE expression would not partition-prune
    val storageG = if (graph == Quads.DefaultGraph) DefaultGraphDir else graph
    val baseDf = spark.read.schema(baseSchema).parquet(path(root, base))
      .filter(col("g") === storageG)
      .withColumn("g",
        when(col("g") === DefaultGraphDir, lit(Quads.DefaultGraph))
          .otherwise(col("g").cast("string")))
      .select("s", "p", "o", "g")
    segs.foldLeft(baseDf) { (st, i) =>
      val d = readDelta(spark, root, i)
      Update.applyDelta(st, Update.Delta(
        d.adds.filter(col("g") === graph),
        d.dels.filter(col("g") === graph), d.clears))
    }
  }

  /** Session conf: byte budget (summed parquet size of the base + delta
    * chain) under which [[readVersion]] snapshots are checkpointed and
    * cached per session. `0` disables the cache. */
  val SnapshotCacheMaxBytesProp = "graft.snapshot.cache.maxBytes"
  private val SnapshotCacheDefaultMaxBytes = 1L << 30
  private val SnapshotCacheMaxEntries = 16

  // access-ordered LRU of (sessionUUID, root, version, fingerprint) →
  // checkpointed snapshot. sessionUUID is guaranteed-unique (an identity
  // hash could collide across SparkSessions, or an entry from a stopped
  // session could survive in the LRU and serve a defunct plan); the
  // fingerprint is the version's completion-marker publish TOKEN (a
  // per-publish UUID — mtime would alias a wipe + re-init landing within
  // one coarse filesystem timestamp tick), so a root wiped and
  // re-initialized in the same session misses instead of serving the
  // stale pre-wipe snapshot. Eviction only drops the REFERENCE —
  // Spark's ContextCleaner unpersists the blocks once no consumer plan
  // reaches them, so a gate key's returned DataFrame stays executable
  // after its entry ages out.
  private val snapCache =
    new java.util.LinkedHashMap[(String, String, Int, String), DataFrame](
      32, 0.75f, true)

  /** The fingerprint of version `v` under `root`: its segment dir's
    * completion-marker publish token (base or delta — whichever exists). */
  private def vFingerprint(root: String, v: Int): String =
    graft.sources.AtomicStore.markerToken(path(root, v)) + "|" +
      graft.sources.AtomicStore.markerToken(deltaPath(root, v))

  private def cacheMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption(SnapshotCacheMaxBytesProp)
      .map(_.toLong).getOrElse(SnapshotCacheDefaultMaxBytes)

  private def maybeCacheSnapshot(spark: SparkSession, root: String, v: Int,
      base: Int, segs: Range, df: DataFrame): DataFrame = {
    val maxBytes = cacheMaxBytes(spark)
    if (maxBytes <= 0) return df
    val bytes = graft.sources.AtomicStore.sizeBytes(path(root, base)) +
      segs.map(i => graft.sources.AtomicStore.sizeBytes(deltaPath(root, i))).sum
    if (bytes > maxBytes) return df
    val mat = graft.Materialize(df)
    val sess = graft.sources.AtomicStore.sessionId(spark)
    snapCache.synchronized {
      snapCache.put((sess, root, v, vFingerprint(root, v)), mat)
      import scala.jdk.CollectionConverters._
      // per root keep the two newest versions (a view sync reads both
      // `last` and `cur`); older ones only waste the LRU budget
      val sameRoot = snapCache.keySet.asScala
        .filter(k => k._1 == sess && k._2 == root).toSeq.sortBy(-_._3)
      sameRoot.drop(2).foreach(snapCache.remove)
      while (snapCache.size > SnapshotCacheMaxEntries) {
        val eldest = snapCache.keySet.iterator.next()
        snapCache.remove(eldest): Unit
      }
    }
    mat
  }

  /** Below this replay depth the sequential fold wins: each segment's
    * tombstones broadcast into a map-side anti join, so a 1–2-segment
    * replay never shuffles the store. Beyond it the nested plan's cost
    * grows with depth and the flat fold's ONE quad-keyed shuffle is
    * cheaper — and constant, however deep the chain. */
  private val flatReplayThreshold = 3

  /** Above this summed delta-segment size the flat fold's op set stops
    * being broadcastable and replay falls back to one store-wide shuffle
    * — still constant-depth, just not shuffle-free. Delta segments are
    * O(|update|) by construction, so an 8-deep chain of typical updates
    * sits far below this. */
  private val broadcastFoldMaxBytes = 64L << 20

  /** Constant-depth replay: fold ALL delta segments into one
    * last-op-per-quad winner set, then apply it to the base in a single
    * pass. Semantics: a quad survives iff its latest op is an add whose
    * sequence is ≥ the latest graph-clear covering its graph (≥ because
    * within one segment [[Update.applyDelta]] applies clears before adds,
    * so a same-version add beats a same-version clear — MOVE relies on
    * this); a delete/add tie at one sequence resolves to the add (rank
    * 1 > 0), matching the sequential order dels-then-adds; a base quad
    * counts as an add that predates every clear.
    *
    * Plan shape when the op set fits the broadcast budget (the designed
    * case — segments are O(|update|)): the winner fold aggregates only
    * the TINY op union, the base is screened by a broadcast anti join and
    * the clear fold is a map-side filter — the store is scanned ONCE and
    * never shuffled, whatever the chain depth. Oversized chains fall back
    * to one store-wide shuffle (still constant-depth). Either way the
    * read cost no longer grows with how long compaction was deferred. */
  private def readVersionFlat(spark: SparkSession, startDf: DataFrame,
      root: String, segs: Range): DataFrame = {
    val keys = Seq("s", "p", "o", "g")
    val base = segs.head - 1
    val rawSegs = segs.map { i =>
      readSegment(spark, root, i)
        .select(col("s"), col("p"), col("o"), col("g"), col("op"),
          lit(i).as("__seq"))
    }.reduce(_.unionByName(_))
    val opsDf = rawSegs.filter(col("op") =!= "g")
      .select(col("s"), col("p"), col("o"), col("g"), col("__seq"),
        when(col("op") === "a", lit(1)).otherwise(lit(0)).as("__rank"))
    // clear selectors are driver-bounded (≤2 per update statement); fold
    // them into one covering-max expression instead of per-clear filters.
    // The per-segment sidecar ([[clearsSidecar]]) answers without a Spark
    // job; only pre-sidecar segments pay ONE collect over the union — a
    // per-segment readDelta here would run one driver-blocking job per
    // segment, re-introducing the O(depth) latency the flat fold removes
    val clears: Seq[(Update.Target, Int)] =
      segs.map(i => i -> clearsSidecarRead(root, i)) match {
        case all if all.forall(_._2.isDefined) =>
          all.flatMap { case (i, ts) => ts.get.map(_ -> i) }
        case _ => rawSegs
          .filter(col("op") === "g").select("g", "__seq").collect()
          .map(r => targetOf(r.getString(0)) -> r.getInt(1)).toIndexedSeq
      }
    val lastClear: Column = clears.foldLeft(lit(-1)) { case (acc, (t, i)) =>
      val covers = t match {
        case Update.AllGraphs => lit(true)
        case Update.AllNamed => col("g") =!= Quads.DefaultGraph
        case Update.DefaultG => col("g") === Quads.DefaultGraph
        case Update.OneGraph(gg) => col("g") === lit(gg)
      }
      when(covers && lit(i) > acc, lit(i)).otherwise(acc)
    }
    val baseDf = startDf
    val deltaBytes = segs.map(i =>
      graft.sources.AtomicStore.list(deltaPath(root, i)).map(_.getLen).sum).sum
    if (deltaBytes <= broadcastFoldMaxBytes) {
      val winners = opsDf
        .groupBy(keys.map(col): _*)
        .agg(max(struct(col("__seq"), col("__rank"))).as("m"))
      val keep = winners
        .filter(col("m.__rank") === 1 && col("m.__seq") >= lastClear)
        .select(keys.map(col): _*)
      baseDf.filter(lastClear < lit(0)) // every clear postdates the base
        .join(broadcast(winners.select(keys.map(col): _*)), keys, "left_anti")
        .unionByName(keep)
    } else {
      val baseOps = baseDf.select(col("s"), col("p"), col("o"), col("g"),
        lit(base).as("__seq"), lit(1).as("__rank"))
      baseOps.unionByName(opsDf)
        .groupBy(keys.map(col): _*)
        .agg(max(struct(col("__seq"), col("__rank"))).as("m"))
        .filter(col("m.__rank") === 1 && col("m.__seq") >= lastClear)
        .select(keys.map(col): _*)
    }
  }

  // fixed quad schema for base snapshots: skips footer-sampling schema
  // inference. `g` resolves either as the partition directory column
  // (the normal partitionBy("g") layout) or as a data column (the
  // empty-store unpartitioned fallback) — user schemas cover both.
  private val baseSchema = org.apache.spark.sql.types.StructType(
    Seq("s", "p", "o", "g").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType)))

  private def readBase(spark: SparkSession, root: String, v: Int): DataFrame =
    spark.read.schema(baseSchema).parquet(path(root, v))
      .withColumn("g",
        when(col("g") === DefaultGraphDir, lit(Quads.DefaultGraph))
          .otherwise(col("g").cast("string")))
      .select("s", "p", "o", "g")

  /** One delta segment: a single parquet of (s,p,o,g,op) rows, op ∈
    * {a,d,g} for add / tombstone / graph-clear. The clear rows are
    * collected driver-side — bounded at two per update statement. */
  /** Decode a persisted clear-row selector back to its [[Update.Target]]. */
  private def targetOf(g: String): Update.Target = g match {
    case ClearAll => Update.AllGraphs
    case ClearNamed => Update.AllNamed
    case Quads.DefaultGraph => Update.DefaultG
    case other => Update.OneGraph(other)
  }

  // delta segments have a FIXED schema; supplying it skips the
  // footer-sampling inference job every read would otherwise launch
  private val segmentSchema = org.apache.spark.sql.types.StructType(
    Seq("s", "p", "o", "g", "op").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType)))

  private def readSegment(spark: SparkSession, root: String,
      v: Int): DataFrame =
    spark.read.schema(segmentSchema).parquet(deltaPath(root, v))

  /** The clears sidecar: the segment's graph-clear targets, written
    * driver-side at publish (they are known there, bounded per update
    * statement) so readers resolve them with one tiny FS read instead of
    * a driver-blocking Spark collect per segment. Base64 per line keeps
    * arbitrary graph IRIs newline-safe. */
  private val ClearsSidecar = "_GRAFT_CLEARS"

  private def clearsSidecarWrite(dir: String,
      clears: Seq[Update.Target]): Unit = {
    val enc = java.util.Base64.getEncoder
    val body = clears.map {
      case Update.AllGraphs => ClearAll
      case Update.AllNamed => ClearNamed
      case Update.DefaultG => Quads.DefaultGraph
      case Update.OneGraph(g) => g
    }.map(s => enc.encodeToString(s.getBytes("UTF-8"))).mkString("\n")
    graft.sources.AtomicStore.writeString(s"$dir/$ClearsSidecar", body)
  }

  private def clearsSidecarRead(root: String,
      v: Int): Option[Seq[Update.Target]] = {
    val p = s"${deltaPath(root, v)}/$ClearsSidecar"
    try {
      val dec = java.util.Base64.getDecoder
      val body = graft.sources.AtomicStore.readString(p)
      Some(body.split("\n").toIndexedSeq.filter(_.nonEmpty)
        .map(l => targetOf(new String(dec.decode(l), "UTF-8"))))
    } catch {
      // absent (pre-sidecar segment) OR damaged (truncated/corrupt
      // base64 after a partial filesystem write) — both degrade to the
      // in-segment collect path rather than failing the read
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** The NET sidecar: present in a segment directory iff the segment's
    * rows are exactly the net change against its predecessor version —
    * adds all absent before, dels all present before, no quad on both
    * sides, no clears. [[changes]] reads net chains straight off the
    * segments, never re-screening against a store snapshot. */
  private val NetSidecar = "_GRAFT_NET"

  private def netSidecar(root: String, v: Int): Boolean =
    graft.sources.AtomicStore.exists(s"${deltaPath(root, v)}/$NetSidecar")

  /** Screen the delta `mkDelta` computes against `current` to its NET
    * form against that same snapshot: netAdds = adds ∖ state, netDels =
    * (dels ∩ state) ∖ adds — replay equivalence is exact (a
    * del-then-re-add of a present quad nets to nothing on both sides),
    * and the result satisfies the [[NetSidecar]] contract, which buys
    * every downstream [[changes]] call a snapshot-free segment read (the
    * sync hot path). The broadcast-semi screen stays LAZY so it fuses
    * into the publish's single write job (the store side is the snapshot
    * cache's checkpoint at gate scale; at worst two scan-only passes —
    * never a shuffle). Deltas carrying clears pass through unscreened
    * (their readers use the snapshot-diff fallback anyway). */
  private def screened(mkDelta: DataFrame => Update.Delta)(
      current: DataFrame): Update.Delta = {
    val d = mkDelta(current)
    if (d.clears.nonEmpty) return d
    val keys = Seq("s", "p", "o", "g")
    val adds = d.adds.select(keys.map(col): _*).distinct()
    val dels = d.dels.select(keys.map(col): _*).distinct()
    val cand = adds.unionByName(dels).distinct()
    val present = current.join(broadcast(cand), keys, "left_semi")
    Update.Delta(
      adds.join(present, keys, "left_anti"),
      dels.join(present, keys, "left_semi")
        .join(adds, keys, "left_anti"),
      Nil)
  }

  private def readDelta(spark: SparkSession, root: String,
      v: Int): Update.Delta = {
    val df = readSegment(spark, root, v)
    val clears = clearsSidecarRead(root, v).getOrElse(
      df.filter(col("op") === "g").select("g").collect()
        .map(r => targetOf(r.getString(0))).toIndexedSeq)
    Update.Delta(
      df.filter(col("op") === "a").select("s", "p", "o", "g"),
      df.filter(col("op") === "d").select("s", "p", "o", "g"),
      clears)
  }

  /** Persist a [[Update.Delta]] as version `v`'s segment; returns true
    * iff THIS writer won the publish (see
    * [[graft.sources.AtomicStore.materializeExclusive]]) — a losing
    * concurrent writer must recompute its delta against the winner's
    * state and retry at the next version, never drop its operation. */
  def publishDeltaAt(spark: SparkSession, d: Update.Delta,
      root: String, v: Int, net: Boolean = false): Boolean = {
    import spark.implicits._
    val clearRows = d.clears.map {
      case Update.AllGraphs => ClearAll
      case Update.AllNamed => ClearNamed
      case Update.DefaultG => Quads.DefaultGraph
      case Update.OneGraph(g) => g
    }.map(g => (null: String, null: String, null: String, g, "g"))
      .toDF("s", "p", "o", "g", "op")
    val rows = clearRows
      .unionByName(d.dels.withColumn("op", lit("d")))
      .unionByName(d.adds.withColumn("op", lit("a")))
    graft.sources.AtomicStore.materializeExclusive(deltaPath(root, v),
        rows.schema) { tmp =>
      // segments are O(|update|) by construction: ONE output file keeps
      // the task count, the segment listing, and every later read flat —
      // the repartition shuffles only delta-sized bytes while the
      // upstream store scan keeps its full parallelism (coalesce would
      // narrow it to the write's single task)
      rows.repartition(1).write.parquet(tmp)
      clearsSidecarWrite(tmp, d.clears)
      if (net && d.clears.isEmpty)
        graft.sources.AtomicStore.writeString(s"$tmp/$NetSidecar", "")
    }
  }

  /** Persist a [[Update.Delta]] as the next version's segment; returns
    * the new version number. Single-writer convenience — under writer
    * concurrency use the OCC loop shape of [[update]]/[[appendQuads]]
    * (the delta must be recomputed against the winner's state, which
    * this method cannot do). */
  def publishDelta(spark: SparkSession, d: Update.Delta,
      root: String): Int = {
    val v = currentVersion(root).getOrElse(throw new IllegalArgumentException(
      s"no store under $root — init() before update()")) + 1
    publishDeltaAt(spark, d, root, v): Unit
    v
  }

  /** Optimistic-concurrency write loop: recompute the delta against the
    * CURRENT state and try to publish it as the next version, retrying
    * while racing writers win the slot — Delta-Lake-style OCC over the
    * same marker protocol, so concurrent updaters serialize without a
    * lock service and no operation is ever silently dropped. `mkNet`
    * must return the NET change against the snapshot it is given (see
    * [[NetSidecar]]) whenever the delta has no clears: [[screened]] makes
    * any delta net, the ground path ([[groundDelta]]) is net by
    * construction. Each attempt reads its snapshot once. */
  private[rdf] def occPublish(spark: SparkSession, root: String,
      mkNet: DataFrame => Update.Delta): Int = {
    val maxAttempts = 50
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = currentVersion(root).getOrElse(
        throw new IllegalArgumentException(
          s"no store under $root — init() before update()"))
      val d = mkNet(readVersion(spark, root, cur))
      if (publishDeltaAt(spark, d, root, cur + 1,
          net = d.clears.isEmpty)) return cur + 1
    }
    throw new IllegalStateException(
      s"update lost the publish race $maxAttempts times under $root — " +
        "pathological writer contention")
  }

  /** Parse and apply one update REQUEST — a `;`-separated operation
    * sequence — ATOMICALLY: the whole request parses up front, each
    * operation's delta is computed against the state its predecessors
    * left, and the composed net delta publishes as ONE segment / ONE
    * version ([[Update.deltaSeq]]). A failure anywhere (parse error,
    * unbound template variable, exhausted OCC retries) leaves the store
    * untouched — SPARQL 1.1 Protocol's request-level success-or-failure.
    * O(Σ|delta|) bytes written; safe under concurrent writers (OCC
    * retry, [[occPublish]]). Returns the new version number. */
  def update(spark: SparkSession, root: String, text: String): Int =
    updateOps(spark, root, Update.parseAll(text))

  /** [[update]] over PRE-PARSED operations — the protocol layer rewrites
    * ops (the `using-graph-uri` request dataset) before applying; same
    * atomic one-version commit. An all-ground request (`INSERT DATA` /
    * `DELETE DATA` only) takes [[groundDelta]]; any other op lowers the
    * whole request through [[Update.deltaSeq]]. */
  def updateOps(spark: SparkSession, root: String,
      ops: Seq[Update.Op]): Int =
    occPublish(spark, root, Update.groundCandidates(ops) match {
      case Some(cands) => groundDelta(ops, cands)
      case None => screened(Update.deltaSeq(_, ops))
    })

  /** The net delta of an all-ground request from ONE presence probe: the
    * snapshot is scanned once against the BROADCAST candidate quads, the
    * ≤ |candidates| present ones come back to the driver, and
    * [[Update.groundNet]] folds the request over them. The published
    * segment holds the same sets as [[screened]] over [[Update.deltaSeq]]
    * — one store scan and one collect instead of a semi-join and an
    * anti-join per op plus the net re-screen. */
  private def groundDelta(ops: Seq[Update.Op],
      cands: Seq[Update.Quad]): DataFrame => Update.Delta = { current =>
    val spark = current.sparkSession
    import spark.implicits._
    val keys = Seq("s", "p", "o", "g")
    val present = current
      .join(broadcast(cands.toDF(keys: _*)), keys, "left_semi")
      .as[Update.Quad].collect().toSet
    val (adds, dels) = Update.groundNet(ops, present)
    Update.Delta(adds.toDF(keys: _*), dels.toDF(keys: _*), Nil)
  }

  /** Append a quads frame as one delta segment, set-semantically: only
    * quads NOT already in the store land in the segment (the same
    * scan-store-once-against-the-broadcast-block presence screen as
    * INSERT DATA, so the store never shuffles). An append whose content
    * is already present produces an EMPTY segment — which makes this the
    * idempotent micro-batch sink primitive: an at-least-once replay of
    * the same batch appends nothing (see
    * [[graft.streaming.StreamOps.quadStoreSink]]). The segment is net
    * by construction (distinct block minus present quads, no
    * tombstones), so it publishes unscreened. Returns the new version.
    * Safe under concurrent writers (OCC retry). */
  def appendQuads(spark: SparkSession, root: String,
      quads: DataFrame): Int = {
    val keys = Seq("s", "p", "o", "g")
    val block = quads.select(keys.map(col): _*).distinct()
    occPublish(spark, root, { current =>
      val present = current.join(broadcast(block), keys, "left_semi")
      Update.Delta(block.join(present, keys, "left_anti"),
        current.limit(0), Nil)
    })
  }

  /** Replace one graph's content in ONE version (the Graph Store
    * Protocol's PUT): the clear and the new content compose into a
    * single delta segment, so readers see the old graph or the new one,
    * never a window between. A DIRECT API rather than update-text
    * composition on purpose — a graph IRI or payload with hostile
    * characters never round-trips through SPARQL surface syntax. The
    * incoming frame's g column is overwritten with `graph`: a PUT
    * payload addresses exactly one graph. Safe under concurrent writers
    * (OCC retry). */
  def replaceGraph(spark: SparkSession, root: String, graph: String,
      triples: DataFrame): Int = {
    val block = triples.select(col("s"), col("p"), col("o"),
      lit(graph).as("g")).distinct()
    val clear =
      if (graph == Quads.DefaultGraph) Update.DefaultG
      else Update.OneGraph(graph)
    occPublish(spark, root, { current =>
      Update.Delta(block, current.limit(0), Seq(clear))
    })
  }

  /** Drop one graph's content in ONE version (the Graph Store
    * Protocol's DELETE) — the same direct-API rationale as
    * [[replaceGraph]]. Returns the new version. */
  def dropGraph(spark: SparkSession, root: String, graph: String): Int = {
    val clear =
      if (graph == Quads.DefaultGraph) Update.DefaultG
      else Update.OneGraph(graph)
    occPublish(spark, root, { current =>
      Update.Delta(current.limit(0), current.limit(0), Seq(clear))
    })
  }

  /** SPARQL over the store's CURRENT snapshot — read-side sugar closing
    * the loop with [[update]]'s write side. `endpoints` passes through to
    * SERVICE federation, so one query can join this store against other
    * registered datasets. */
  def query(spark: SparkSession, root: String, text: String,
      endpoints: Map[String, DataFrame] = Map.empty,
      protocolDataset: Option[(Seq[String], Seq[String])] = None): DataFrame =
    Sparql.runQuads(read(spark, root), text, endpoints = endpoints,
      protocolDataset = protocolDataset)

  /** SPARQL over a PINNED version — repeatable time-travel reads: the
    * same query against v answers identically forever (until vacuum
    * drops v's supporting chain). */
  def queryVersion(spark: SparkSession, root: String, v: Int, text: String,
      endpoints: Map[String, DataFrame] = Map.empty,
      protocolDataset: Option[(Seq[String], Seq[String])] = None): DataFrame =
    Sparql.runQuads(readVersion(spark, root, v), text, endpoints = endpoints,
      protocolDataset = protocolDataset)

  /** Net change between two pinned versions: `(adds, dels)` quad frames —
    * what a downstream consumer (an incremental index, a replica, a CDC
    * feed) must apply to move from `from` to `to`.
    *
    * Fast path: fold the delta segments alone — for each touched quad the
    * LAST add/tombstone in the range decides its candidate direction, and
    * ONE presence screen against the `from` snapshot (store scanned once
    * against the BROADCAST candidate set, same shape as the INSERT DATA
    * presence check — the store never shuffles) removes phantom
    * tombstones and re-adds. Work is O(Σ|delta|) plus one store scan,
    * never a two-snapshot join. A graph-clear inside the range (a
    * store-sized effect no segment enumerates) or a compacted-away
    * segment falls back to the exact two-way `exceptAll` diff of the
    * pinned reads. */
  /** Cheap NON-EMPTINESS probe of the raw change log in (from, to]: one
    * plain segment scan — no version replay, no clears resolution, no
    * broadcast anti-joins (a [[changes]]`.isEmpty` probe executes the
    * whole net-delta plan, ~7 scheduler round-trips for a verdict the
    * raw ops already give). `true` GUARANTEES the net change is empty
    * (no operations recorded at all — clears included, they are rows of
    * the segment); `false` may still net empty (set-semantic
    * re-inserts), so callers gate FAST PATHS on it, never correctness. */
  def changesRawEmpty(spark: SparkSession, root: String, from: Int,
      to: Int): Boolean = {
    if (from >= to) return true
    val range = (from + 1) to to
    if (!range.forall(i =>
        graft.sources.AtomicStore.isComplete(deltaPath(root, i))))
      return false // torn chain: let changes() take its own fallback
    range.map(i => readSegment(spark, root, i))
      .reduce(_.unionByName(_)).isEmpty
  }

  def changes(spark: SparkSession, root: String, from: Int,
      to: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(from <= to, s"changes: from $from > to $to")
    val keys = Seq("s", "p", "o", "g")
    if (from == to) {
      val empty = readVersion(spark, root, from).limit(0)
      return (empty, empty)
    }
    def fallback: (DataFrame, DataFrame) = {
      val fromState = readVersion(spark, root, from)
      val toState = readVersion(spark, root, to)
      (toState.exceptAll(fromState), fromState.exceptAll(toState))
    }
    val range = (from + 1) to to
    val segsReadable = range.forall(i =>
      graft.sources.AtomicStore.isComplete(deltaPath(root, i)))
    if (!segsReadable) return fallback
    // NET chains resolve without touching any store snapshot: every
    // segment is exact against its predecessor, so a quad's op sequence
    // across the range strictly alternates — the net verdict is "first
    // op == last op" (a→…→a: absent at `from`, present at `to`; d→…→d
    // symmetric; mixed ends cancel). One segment-sized aggregation, the
    // 100 TB sync path (a snapshot re-screen scans the store per tick).
    if (range.forall(i => netSidecar(root, i))) {
      if (range.size == 1) {
        val seg = readSegment(spark, root, range.head)
        return (seg.filter(col("op") === "a").select(keys.map(col): _*),
          seg.filter(col("op") === "d").select(keys.map(col): _*))
      }
      val all = range.map(i => readSegment(spark, root, i)
          .withColumn("v", lit(i)))
        .reduce(_.unionByName(_))
      val ends = all.groupBy(keys.map(col): _*)
        .agg(min_by(col("op"), col("v")).as("__fo"),
          max_by(col("op"), col("v")).as("__lo"))
      return (
        ends.filter(col("__fo") === "a" && col("__lo") === "a")
          .select(keys.map(col): _*),
        ends.filter(col("__fo") === "d" && col("__lo") === "d")
          .select(keys.map(col): _*))
    }
    val fromState = readVersion(spark, root, from)
    val all = range.map(i => readSegment(spark, root, i)
        .withColumn("v", lit(i)))
      .reduce(_.unionByName(_))
    // sidecars answer "any clears in range?" without a Spark job; only
    // pre-sidecar segments pay the probe
    val sidecarClears = range.map(i => clearsSidecarRead(root, i))
    val anyClears =
      if (sidecarClears.forall(_.isDefined)) sidecarClears.exists(_.get.nonEmpty)
      else !all.filter(col("op") === "g").isEmpty
    if (anyClears) return fallback
    // last operation per quad decides the candidate direction; within one
    // version replay order is dels-then-adds, so 'a' wins a same-version tie
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("v").desc, col("op").asc)
    val last = all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val candAdds = last.filter(col("op") === "a").select(keys.map(col): _*)
    val candDels = last.filter(col("op") === "d").select(keys.map(col): _*)
    val present = fromState.join(
      broadcast(candAdds.unionByName(candDels)), keys, "left_semi")
    (candAdds.join(present, keys, "left_anti"),
      candDels.join(present, keys, "left_semi"))
  }

  /** Compaction + retention: fold the delta chain below the retention
    * window into a full base snapshot, then drop every older version and
    * any torn build leftovers. Deleted version numbers are returned.
    *
    * Concretely, with `cut = current - keep + 1`: version `cut` is
    * rewritten as a base (one full-store write — the ONLY place the store
    * is ever rewritten), versions `< cut` are deleted, and every retained
    * version `cut..current` stays pinned-readable off the new base. The
    * invariant "the oldest surviving version is a base" holds from init
    * onward. The current version is always retained, so [[read]]ers are
    * unaffected; a reader PINNED to a vacuumed version fails fast on its
    * next scan — retention is an operational contract, exactly as in
    * Delta/Iceberg VACUUM. Without it the delta chain (and replay depth)
    * grows by one segment per update forever. */
  /** The steady-state retention policy — run this on the maintenance
    * cadence; [[vacuum]] directly is the "compact now" override.
    *
    * Two independent triggers:
    * - DEEP chain (> `maxChain` versions): a regular [[vacuum]] bounds
    *   replay depth, amortizing the O(|store|) rewrite to one per
    *   `maxChain − keep` updates.
    * - FAT chain (delta bytes since the newest base > `maxDeltaFrac` of
    *   that base): the CURRENT version is compacted into a base IN PLACE
    *   — nothing is dropped, every pinned version stays readable off the
    *   old chain, but new reads start from the fresh base instead of
    *   replaying graph-scale segments. This matters for COPY/ADD/MOVE,
    *   whose single delta rivals the base; crucially it also compacts
    *   deltas still inside the keep window, which [[vacuum]] alone never
    *   touches (it only base-ifies the version at the retention cut — a
    *   fat NEWEST delta would otherwise be replayed by every read while
    *   repeated byte-triggered vacuums accomplished nothing). */
  def vacuumIfDeep(root: String, keep: Int = 2, maxChain: Int = 8,
      maxDeltaFrac: Double = 0.3): Seq[Int] = {
    val vs = versions(root)
    if (vs.isEmpty) return Nil
    val cur = vs.map(_._1).max
    val newestBase = vs.filter(_._2).map(_._1).maxOption.getOrElse(0)
    val baseBytes =
      graft.sources.AtomicStore.sizeBytes(path(root, newestBase))
    val deltaBytes = vs.map(_._1).filter(_ > newestBase)
      .map(v => graft.sources.AtomicStore.sizeBytes(deltaPath(root, v))).sum
    // crash-window note: in-place compaction publishes base v{cur} then
    // deletes d{cur}; a crash between the two leaves BOTH directories for
    // cur. versions() already collapses that duplicate (groupBy version,
    // base wins), so the toMap lookup and the chain-depth count below are
    // deterministic, and the delete retries on the next call
    if (deltaBytes > baseBytes * maxDeltaFrac && !vs.toMap.getOrElse(cur, false)) {
      val spark = SparkSession.active
      writeBase(readVersion(spark, root, cur), path(root, cur))
      graft.sources.AtomicStore.delete(deltaPath(root, cur))
    }
    if (versions(root).size > maxChain) vacuum(root, keep) else Nil
  }

  def vacuum(root: String, keep: Int = 2): Seq[Int] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val spark = SparkSession.active
    val vs = versions(root)
    val cut = vs.map(_._1).maxOption.getOrElse(0) - keep + 1
    // compact the oldest retained version into a base so everything newer
    // chains from it and everything older is droppable
    vs.find(_._1 == cut).foreach { case (v, isBase) =>
      if (!isBase) {
        writeBase(readVersion(spark, root, v), path(root, v))
        graft.sources.AtomicStore.delete(deltaPath(root, v))
      }
    }
    val doomed = vs.map(_._1).filter(_ < cut)
    doomed.foreach { v =>
      graft.sources.AtomicStore.delete(path(root, v))
      graft.sources.AtomicStore.delete(deltaPath(root, v))
    }
    // torn builds (no marker) are garbage regardless of age
    graft.sources.AtomicStore.list(root).filter(f =>
      f.getPath.getName match {
        case VersionRe(_) | DeltaRe(_) =>
          !graft.sources.AtomicStore.isComplete(f.getPath.toString)
        case _ => false
      }).foreach(f => graft.sources.AtomicStore.delete(f.getPath.toString))
    doomed
  }
}
