package graft.rdf

import graft.QueryModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-analytics surface over the EAV entity graph (SURVEY.md §2.2
  * addendum): RDFS entailment, degree statistics, and an integer-exact
  * PageRank — the "graph side" of an RDF store that BGP pattern matching
  * doesn't cover.
  *
  * PageRank determinism note: ranks are kept in MICRO-units as BIGINTs and
  * every division is integer floor division, so partial-aggregation order
  * can never perturb a result bit — double-valued PageRank would differ in
  * ulps between engines and across 1000-executor combine orders. Floor
  * drift vs real-valued PR is ≤ outdeg micro-units per node per round —
  * noise far below ranking granularity, and identical in both engines.
  */
object GraphOps extends QueryModule {

  /** The directed entity graph: order→customer (custkey), customer→nation
    * (nation), nation→region (region). */
  private def entityEdges(s: SparkSession, d: String): DataFrame =
    Triples.build(s, d)
      .filter(col("p").isin("custkey", "nation", "region"))
      .select(col("s").as("src"), col("o").as("dst"))

  private val edgesCte: String =
    """SELECT s AS src, o AS dst FROM triples
      |WHERE p IN ('custkey', 'nation', 'region')""".stripMargin

  /** `iters` rounds of damped PageRank over `edges(src, dst)`, ranks in
    * micro-units. One join + one aggregate per round (the Pregel shape);
    * edges (with their out-degrees) are computed once and persisted, and
    * each round's ranks frame is eagerly materialized so the plan doesn't
    * grow with iteration count ([[graft.Materialize]]: executor-local
    * single-JVM, durable dir on a cluster). At scale, pre-partitioning
    * edges and ranks by the join key makes every round reuse one exchange.
    */
  def pageRankMicro(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val contribSrc = e.join(outdeg, "src").persist()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().persist()
    var ranks = nodes.withColumn("rank", lit(1000000L))
    for (_ <- 1 to iters) {
      val inbound = contribSrc.join(ranks, col("src") === col("node"))
        // `div` is exact long floor division — never a double in the path
        .select(col("dst").as("node"), expr("rank div d").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      val next = graft.Materialize(
        nodes.join(inbound, Seq("node"), "left")
          .select(col("node"),
            expr("150000L + (85L * coalesce(m, 0L)) div 100L").as("rank")))
      // superseded round's blocks are dead once `next` exists (no-op on
      // the non-checkpointed round-0 seed)
      graft.Materialize.release(ranks)
      ranks = next
    }
    ranks
  }

  /** Shortest hop distance from `source` to every reachable node over the
    * UNDIRECTED view of `edges(src, dst)` — frontier-expansion BFS, the
    * min-distance complement of [[graft.rdf.Paths.transitiveClosure]]
    * (which computes reachability, not distance).
    *
    * Scale shape: each round is ONE join (frontier ⋈ edges) + distinct +
    * anti join against the settled set — all keyed on the node id, so at
    * scale every round reuses one hash partitioning; the frontier frame is
    * eagerly materialized ([[graft.Materialize]]) so the plan stays
    * constant-depth instead of growing per round. The settled set is
    * (node, dist) — never the edge list — so its anti-join side stays
    * narrow. The round loop is [[graft.Materialize.semiNaive]]: each
    * frontier is checkpointed and probed in one job, and rounds stop at
    * the first empty frontier — the anti-join against the settled set
    * already stops cycles. `maxDepth` is a distance limit: nodes farther
    * than it are left out.
    *
    * Determinism: a node's distance is the round number that first reached
    * it — partition order can't perturb an integer round count.
    */
  def bfs(edges: DataFrame, source: String, maxDepth: Int): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    val spark = edges.sparkSession
    import spark.implicits._
    val (dist, _) = graft.Materialize.semiNaive(
        Seq((source, 0)).toDF("node", "dist")) { (frontier, dist, d) =>
      if (d > maxDepth) frontier.limit(0)
      else frontier.join(und, frontier("node") === und("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(d))
    }
    und.unpersist()
    dist
  }

  /** Customer–part interaction edges (who bought what), SYMMETRIC
    * undirected form: one distinct on the pair (a single shuffle), then
    * both directions unioned map-side. */
  private def custPartEdges(s: SparkSession, d: String): DataFrame = {
    val li = graft.sources.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
    val o = graft.sources.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
    val cp = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c:"), col("o_custkey").cast("string")).as("a"),
        concat(lit("p:"), col("l_partkey").cast("string")).as("b"))
      .distinct()
    cp.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(cp.select(col("b").as("src"), col("a").as("dst")))
  }

  /** k-core decomposition by iterative peeling: drop every node of
    * degree < k, recompute degrees, repeat until stable. What remains is
    * the maximal subgraph where everyone keeps ≥ k neighbors — the
    * standard cohesion filter before community detection or as a
    * spam/leaf trim on interaction graphs.
    *
    * `edges` must be the SYMMETRIC undirected form (both directions
    * present), so degree is one groupBy on `src`. Each round is one
    * partial-aggregated degree count + two semi-joins on the node id —
    * all equi-keyed, so at scale every round reuses one hash
    * partitioning; frames are eagerly materialized per round
    * ([[graft.Materialize]]) so the plan stays constant-depth, and the
    * loop stops at the first round that peels nothing (a count on the
    * already-materialized frame). Every round before the first stable
    * one removes at least one edge, so the loop ends within |edges|
    * rounds without a cap — a path peels from both ends, about two nodes
    * a round. `maxRounds` (default: none) is for callers that must
    * match an externally bounded unroll; exhausting it is a LOUD error
    * rather than a silently partial core.
    *
    * Determinism: membership of the k-core is unique (the fixpoint does
    * not depend on peel order), so partitioning can't perturb it. */
  def kcore(edges: DataFrame, k: Int,
      maxRounds: Int = Int.MaxValue): DataFrame = {
    // counted(): each round's checkpoint job doubles as its edge count —
    // one scheduler job per round instead of two
    var (e, m) = graft.Materialize.counted(
      edges.select(col("src"), col("dst")))
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      val (next, m2) = graft.Materialize.counted(
        e.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
      graft.Materialize.release(e)
      e = next
      stable = m2 == m
      m = m2
      rounds += 1
    }
    require(stable, s"kcore did not converge within $maxRounds rounds")
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Common-neighbor link prediction over the UNDIRECTED graph: for
    * every unordered node pair sharing at least one neighbor, the shared
    * count — the classic first-order similarity score, here with the
    * standard scale guard: paths are counted only THROUGH nodes of
    * degree ≤ `maxDegree`, because a hub of degree h contributes h²/2
    * pairs (one nation hub at sf0.1 would alone emit ~18M rows) while
    * contributing near-zero signal — exactly why production link
    * prediction degree-caps or inverse-degree-weights hubs (cf.
    * Adamic–Adar). The cap bounds the blowup at Σ_through deg² ≤
    * maxDegree · |E|: LINEAR in edges at fixed cap. Output is the exact
    * top-`k` by (count desc, a, b) — a TakeOrderedAndProject, no global
    * sort. */
  def commonNeighbors(edges: DataFrame, maxDegree: Int,
      topK: Int): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy(col("dst").as("mid")).agg(count(lit(1)).as("d"))
    val through = und.select(col("src").as("a"), col("dst").as("mid"))
      .join(deg.filter(col("d") <= maxDegree), "mid")
    val pairs = through.select(col("a"), col("mid"))
      .join(through.select(col("a").as("b"), col("mid")), "mid")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    pairs.orderBy(col("common").desc, col("a"), col("b")).limit(topK)
  }

  /** Per-node triangle counts by DEGREE-ORDERED ORIENTATION (the
    * standard distributed formulation — Suri & Vassilvitskii WWW'11's
    * "counting triangles" shape, public): orient every undirected edge
    * from its lower-(degree, node) endpoint to the higher, enumerate
    * wedges only at each edge's LOW end, and close them against the
    * oriented edge set. Orientation bounds every node's oriented
    * out-degree by O(√m) on any graph, so the wedge join — the only
    * superlinear risk — generates O(m^1.5) candidates worst-case and far
    * fewer on real degree distributions; a hub of degree 10⁶ contributes
    * ZERO wedges at its own end. Each triangle appears exactly once,
    * then explodes to its three corners for the per-node counts. Output
    * is the exact top-`k` by (count desc, node) — TakeOrderedAndProject,
    * no global sort. */
  def triangles(edges: DataFrame, topK: Int,
      decode: Column => Column = identity): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient by the (degree, node) total order; carry the head's key so
    // the wedge join can order its two far endpoints without re-joining
    val ka = struct(col("da").as("kd"), col("a").as("kn"))
    val kb = struct(col("db").as("kd"), col("b").as("kn"))
    // deg is node-sized — small next to the edge list but NOT a safe
    // static broadcast at arbitrary scale (billions of nodes), so the
    // attachment joins stay unhinted and AQE picks broadcast when the
    // runtime size allows; oriented is read THREE times (both wedge
    // legs + the closing probe) → persist, or each consumer re-runs
    // the whole upstream including both degree joins
    val oriented = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(ka < kb, col("a")).otherwise(col("b")).as("lo"),
        // carry the head's DEGREE (a long), not the (degree, node)
        // struct: the struct duplicated the node string into every
        // wedge-join row — the ordering test rebuilds the struct on the
        // fly from (degree, node) instead (§2.3: narrower exchanges)
        when(ka < kb, col("db")).otherwise(col("da")).as("hd"),
        when(ka < kb, col("b")).otherwise(col("a")).as("hi"))
      .persist()
    val wedges = oriented.select(col("lo"), col("hd").as("vd"),
        col("hi").as("v"))
      .join(oriented.select(col("lo"), col("hd").as("wd"),
        col("hi").as("w")), "lo")
      .filter(struct(col("vd"), col("v")) < struct(col("wd"), col("w")))
    // left_semi: oriented's (lo, hi) pairs are unique (distinct +
    // orientation), so the closing probe is pure existence — the semi
    // build stores keys only and emits each closing wedge once, exactly
    // like the old inner join
    val tri = wedges.join(
      oriented.select(col("lo").as("v"), col("hi").as("w")),
      Seq("v", "w"), "left_semi")
      .select(col("lo").as("u"), col("v"), col("w"))
    val out = graft.Materialize(
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        // decode BEFORE the top-k sort: the tie-break must run on the
        // EMITTED node representation or a count tie at the k boundary
        // would admit different nodes than the oracle's order
        .select(decode(col("node")).as("node"), col("n_triangles"))
        .orderBy(col("n_triangles").desc, col("node")).limit(topK))
    oriented.unpersist()
    out
  }

  /** Single-source shortest WEIGHTED distance after `rounds` Bellman-Ford
    * relaxations over the UNDIRECTED view of `edges(src, dst, w)` —
    * integer weights, so distances are exact longs and every engine
    * agrees bitwise. After K rounds the frame holds the exact shortest
    * distance among paths of ≤ K edges — a well-defined (and oracle-able)
    * result even when K < diameter; pick K ≥ diameter for the classic
    * SSSP answer.
    *
    * Scale shape ([[bfs]]'s discipline, plus weights): each round is ONE
    * join keyed on the node id + a min-aggregate, the dist frame is
    * (node, dist) — never edge-sized — and eager materialization keeps
    * the plan constant-depth across rounds. Unlike [[bfs]] there is no
    * settled set to anti-join: a node's distance can IMPROVE in a later
    * round (that is what relaxation means), so the min-fold is the whole
    * update rule. */
  def sssp(edges: DataFrame, source: Any, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges.select(col("src"), col("dst"), col("w"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy("src", "dst").agg(min("w").as("w")) // parallel edges: keep best
      .persist()
    var dist = graft.Materialize(
      Seq(source.toString).toDF("__n")
        .select(col("__n").cast(und.schema("src").dataType).as("node"),
          lit(0L).as("dist")))
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(und, dist("node") === und("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .unionByName(dist)
        .groupBy("node").agg(min("dist").as("dist"))
      val next = graft.Materialize(relaxed)
      graft.Materialize.release(dist)
      dist = next
    }
    und.unpersist()
    dist
  }

  /** The tripartite lineitem graph: every line item links its order, part
    * and supplier pairwise, so each (order, part, supplier) row closes a
    * triangle by construction — plus whatever extra closures shared
    * parts/suppliers induce.
    *
    * Node ids are REVERSIBLE LONGS (key·4 + a type code) so every shuffle
    * in the triangle pipeline — 14M wedge rows at sf0.1 — carries 8-byte
    * keys with long comparisons instead of decorated strings; only the
    * final top-k decodes ([[decodeLineitemNode]]). */
  private def lineitemEdges(s: SparkSession, d: String): DataFrame = {
    val l = graft.sources.Tables.lineitem(s, d).select(
      (col("l_orderkey").cast("long") * 4L).as("o"),
      (col("l_partkey").cast("long") * 4L + 1L).as("p"),
      (col("l_suppkey").cast("long") * 4L + 2L).as("sp"))
    l.select(col("o").as("src"), col("p").as("dst"))
      .unionByName(l.select(col("o").as("src"), col("sp").as("dst")))
      .unionByName(l.select(col("p").as("src"), col("sp").as("dst")))
  }

  /** [[lineitemEdges]] with integer weights: each edge carries the
    * minimum l_quantity over the line items that induce it. */
  private def lineitemEdgesW(s: SparkSession, d: String): DataFrame = {
    val l = graft.sources.Tables.lineitem(s, d).select(
      (col("l_orderkey").cast("long") * 4L).as("o"),
      (col("l_partkey").cast("long") * 4L + 1L).as("p"),
      (col("l_suppkey").cast("long") * 4L + 2L).as("sp"),
      col("l_quantity").cast("long").as("w"))
    l.select(col("o").as("src"), col("p").as("dst"), col("w"))
      .unionByName(l.select(col("o").as("src"), col("sp").as("dst"),
        col("w")))
      .unionByName(l.select(col("p").as("src"), col("sp").as("dst"),
        col("w")))
  }

  private def decodeLineitemNode(c: Column): Column =
    concat(
      when(c.bitwiseAND(3L) === 0L, lit("o:"))
        .when(c.bitwiseAND(3L) === 1L, lit("p:")).otherwise(lit("s:")),
      shiftright(c, 2).cast("string"))

  private val lineitemEdgesCte: String =
    """SELECT 'o:' || CAST(l_orderkey AS VARCHAR) AS src,
      |       'p:' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem
      |UNION ALL
      |SELECT 'o:' || CAST(l_orderkey AS VARCHAR),
      |       's:' || CAST(l_suppkey AS VARCHAR) FROM lineitem
      |UNION ALL
      |SELECT 'p:' || CAST(l_partkey AS VARCHAR),
      |       's:' || CAST(l_suppkey AS VARCHAR) FROM lineitem"""
      .stripMargin

  val queries: Map[String, Q] = Map(
    // RDFS ρdf materialization: all inferred types + lifted properties.
    // Instance data carries no rdf:type at all — every type row is
    // entailed through domain/range + the schema closures.
    "q_rdfs_infer" -> ((s, d) => {
      Rdfs.entail(Triples.build(s, d), Rdfs.tpchSchema)
        .filter(col("p").isin("type", "locatedIn", "involves", "relatedTo"))
        .orderBy(col("s"), col("p"), col("o"))
    }),

    // Incrementally maintained RDFS entailment through DATA and SCHEMA
    // churn: bootstrap on a reduced ontology (region not yet a
    // locatedIn-subproperty, no region domain) with phantom triples
    // whose emissions OVERLAP the real ones (phantomrel lifts to the
    // same relatedTo rows nation emits — support 2→1 must survive the
    // retraction); then orderstatus arrives + phantoms retract
    // (maintainCounts, delta-only), and the ontology completes
    // (maintainSchema — a predicate-pruned rescan of exactly the
    // 'region' slice, never a recompute). The final state equals the
    // canonical entailment, so q_rdfs_infer's recursive oracle checks
    // the MAINTAINED materialization exactly.
    "q_rdfs_ivm" -> ((s, d) => {
      val t = graft.Materialize(Triples.build(s, d))
      val full = Rdfs.tpchSchema
      val schema0 = full.copy(
        subPropertyOf = full.subPropertyOf
          .filterNot(_ == ("region" -> "locatedIn")) :+
          ("phantomrel" -> "locatedIn"),
        domain = full.domain.filterNot(_ == ("region" -> "Nation")))
      val adds = t.filter(col("p") === "orderstatus")
      val phantom = t.filter(col("p") === "nation")
        .withColumn("p", lit("phantomrel"))
      // not exceptAll: adds IS t.filter(pred) — the null-safe negated
      // filter subtracts it exactly, without a two-sided shuffle of t
      val old = graft.Materialize(t.filter(
        !(col("p") <=> "orderstatus")).unionByName(phantom))
      var counts = graft.Materialize(Rdfs.supportCounts(old, schema0))
      counts = graft.Materialize(
        Rdfs.maintainCounts(counts, adds, phantom, schema0))
      counts = Rdfs.maintainSchema(counts, t, schema0, full)
      counts.select("s", "p", "o")
        .filter(col("p").isin("type", "locatedIn", "involves", "relatedTo"))
        .orderBy(col("s"), col("p"), col("o"))
    }),

    // owl:sameAs canonicalization: customer facts scattered across a
    // 3-member alias clique (x2:… sameAs x1:… sameAs c:… — a CHAIN, so
    // min-label propagation must walk two hops) are rewritten onto the
    // class minimum; the oracle expresses the post-merge semantics
    // directly over the unaliased data.
    "q_owl_sameas" -> ((s, d) => {
      val t = Triples.build(s, d)
      val name = t.filter(col("p") === "name" && col("s").startsWith("c:"))
      val seg = t.filter(col("p") === "mktsegment")
        .select(concat(lit("x1:"), col("s")).as("s"), col("p"), col("o"))
      val nat = t.filter(col("p") === "nation")
        .select(concat(lit("x2:"), col("s")).as("s"), col("p"), col("o"))
      val sa = t.filter(col("p") === "mktsegment")
        .select(concat(lit("x1:"), col("s")).as("s"),
          lit("sameAs").as("p"), col("s").as("o"))
        .unionByName(t.filter(col("p") === "nation")
          .select(concat(lit("x2:"), col("s")).as("s"),
            lit("sameAs").as("p"), concat(lit("x1:"), col("s")).as("o")))
      val merged = Owl.sameAsCanonical(
        name.unionByName(seg).unionByName(nat).unionByName(sa))
      Bgp.solve(merged, Seq(
        TP(V("cust"), C("name"), V("cname")),
        TP(V("cust"), C("mktsegment"), V("seg")),
        TP(V("cust"), C("nation"), V("nat"))))
        .orderBy(col("cust"))
    }),

    // OWL-Horst property rules: locatedIn (the rdfs7-lifted nation ∪
    // region edges) declared TRANSITIVE — customers reach their region
    // through the closure; custkey's declared INVERSE hasOrder; region
    // edges as a SYMMETRIC linkedTo. The oracle recomputes each rule
    // family in SQL (closure as a recursive CTE).
    "q_owl_infer" -> ((s, d) => {
      val t = Triples.build(s, d)
      val in = t.filter(col("p").isin("nation", "region"))
        .select(col("s"), lit("locatedIn").as("p"), col("o"))
        .unionByName(t.filter(col("p") === "custkey"))
        .unionByName(t.filter(col("p") === "region")
          .select(col("s"), lit("linkedTo").as("p"), col("o")))
      Owl.entail(in, transitive = Seq("locatedIn"),
        inverses = Seq("custkey" -> "hasOrder"),
        symmetric = Seq("linkedTo"))
        .orderBy(col("s"), col("p"), col("o"))
    }),

    // OWL-Horst CLASS rules end-to-end (Owl.entailClass): duplicate
    // customer records (dup:<s>) carry the segment facts under an
    // EQUIVALENT property (segment ≡ mktsegment) and their nation under
    // ALIASED objects (z:n:K); name is INVERSE-FUNCTIONAL (dup subjects
    // merge onto c:*), nation FUNCTIONAL (the object aliases merge onto
    // n:* — a merge only derivable AFTER the subject merge landed both
    // values on one subject: the sameAs feedback loop), hasValue types
    // BUILDING customers and conversely materializes x:vip's witness
    // segment from its bare membership, equivalentClass lifts the type,
    // and someValuesFrom types customers whose nation lies in region
    // r:1 through a hasValue-derived nation type. Iterated to fixpoint;
    // the oracle REPLAYS each rule in dependency order (the ontology's
    // chain is acyclic, so no recursion is needed).
    "q_owl_class" -> ((s, d) => {
      val t = Triples.build(s, d)
      val nat = t.filter(col("p") === "nation")
      val name = t.filter(col("p") === "name" && col("s").startsWith("c:"))
      val dup = concat(lit("dup:"), col("s"))
      val fixture = nat
        .unionByName(t.filter(col("p") === "region"))
        .unionByName(name)
        .unionByName(name.select(dup.as("s"), col("p"), col("o")))
        .unionByName(t.filter(col("p") === "mktsegment")
          .select(dup.as("s"), lit("segment").as("p"), col("o")))
        .unionByName(nat.select(dup.as("s"), col("p"),
          concat(lit("z:"), col("o")).as("o")))
        .unionByName(s.sql(
          "SELECT 'x:vip' AS s, 'type' AS p, 'BuildingCust' AS o"))
      val cs = Owl.ClassSchema(
        equivalentClass = Seq("BuildingCust" -> "ConstructionCust"),
        equivalentProperty = Seq("segment" -> "mktsegment"),
        functional = Seq("nation"),
        inverseFunctional = Seq("name"),
        hasValue = Seq(("BuildingCust", "mktsegment", "BUILDING"),
          ("NationInR1", "region", "r:1")),
        someValuesFrom = Seq(("CustNearR1", "nation", "NationInR1")))
      Owl.entailClass(fixture, cs)
        .filter(col("p").isin("type", "mktsegment", "nation") &&
          (col("s").startsWith("c:") || col("s") === "x:vip"))
        .orderBy(col("s"), col("p"), col("o"))
    }),

    // k-core over the customer–part interaction graph (orders⋈lineitem,
    // distinct, symmetric): K=20 sits near the median degree, so peeling
    // actually CASCADES (3–5 rounds at every SF) instead of terminating
    // on round one — the multi-round fixpoint is the point of the key
    // maxRounds = 10 MATCHES the oracle's unroll count: a dataset whose
    // cascade needs more rounds must fail LOUDLY here (kcore's
    // non-convergence require) rather than silently under-peel on the
    // oracle side and report a phantom engine mismatch
    "q_graph_kcore" -> ((s, d) =>
      kcore(custPartEdges(s, d), k = 20, maxRounds = 10)
        .orderBy(col("node"))),

    // degree statistics per node over the entity graph — one union-side
    // aggregate each, outer-merged so zero-degree sides stay visible
    "q_graph_degree" -> ((s, d) => {
      val e = entityEdges(s, d)
      val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
      val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("indeg"))
      out.join(in, Seq("node"), "full")
        .select(col("node"),
          coalesce(col("outdeg"), lit(0L)).as("outdeg"),
          coalesce(col("indeg"), lit(0L)).as("indeg"))
        .orderBy(col("node"))
    }),

    // 3 damped rounds; the entity graph is a DAG (order→customer→nation→
    // region) so depth 3 reaches the fixpoint of every path
    "q_graph_pagerank" -> ((s, d) =>
      pageRankMicro(entityEdges(s, d), iters = 3)
        .orderBy(col("node"))),

    // shortest hop distances from region 0 over the undirected entity
    // graph — reaches exactly region 0's component (nations at 1 hop,
    // their customers at 2, those customers' orders at 3)
    "q_graph_bfs" -> ((s, d) =>
      bfs(entityEdges(s, d), source = "r:0", maxDepth = 8)
        .orderBy(col("node"))),

    // connected components over the UNDIRECTED entity graph, via the same
    // generic min-label-propagation engine the near-dup clusterer uses
    // ([[graft.llm.Dedup.connectedComponents]]) — this query is what makes
    // that iterative engine ORACLED, not just spec-tested: the entity
    // graph's known topology (everything hangs off one region) lets DuckDB
    // compute the exact same labels non-recursively, while Spark runs the
    // general fixpoint loop. Label = lexicographic min node id in the
    // component (identical bytewise string MIN in both engines).
    "q_graph_cc" -> ((s, d) => {
      val comps = graft.llm.Dedup.connectedComponents(
        entityEdges(s, d)
          .select(col("src").as("doc_a"), col("dst").as("doc_b")))
      val out = graft.Materialize(
        comps.select(col("doc_id").as("node"), col("label").as("component")))
      graft.Materialize.release(comps)
      out.orderBy(col("node"))
    }),

    // common-neighbor link prediction, hub-capped (degree ≤ 64 keeps
    // order→customer co-membership and excludes the nation/region hubs
    // whose quadratic pair fan-out carries no signal); exact top-100
    "q_graph_common" -> ((s, d) =>
      commonNeighbors(entityEdges(s, d), maxDegree = 64, topK = 100)),

    // triangle counting over the tripartite lineitem graph (every line
    // item closes an order–part–supplier triangle by construction);
    // degree-ordered orientation, exact top-20 nodes
    "q_graph_triangles" -> ((s, d) =>
      triangles(lineitemEdges(s, d), topK = 20,
        decode = decodeLineitemNode)),

    // weighted single-source shortest distance from supplier 1 (id 6 =
    // 1·4+2), exactly four Bellman-Ford rounds — the ≤4-edge shortest
    // distance, integer-exact, the oracle unrolling the same rounds
    "q_graph_sssp" -> ((s, d) =>
      sssp(lineitemEdgesW(s, d), source = 6L, rounds = 4)
        .select(decodeLineitemNode(col("node")).as("node"), col("dist"))
        .orderBy(col("node"))))

  /** One unrolled PageRank round in DuckDB (integer floor division `//`
    * matches Spark's long `div` on the all-positive ranks). */
  private def duckRound(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT n.node,
       |    CAST(150000 + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, SUM(r.rank // od.d) AS m
       |    FROM e JOIN outd od ON e.src = od.src
       |    JOIN $prev r ON r.node = e.src
       |    GROUP BY e.dst) s ON n.node = s.node
       |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_rdfs_infer" ->
      s"""WITH RECURSIVE triples AS (
         |${Triples.duckCte}
         |),
         |${Rdfs.entailDuckSql(Rdfs.tpchSchema)}
         |-- DISTINCT, not UNION dedup: inside WITH RECURSIVE, DuckDB 1.0
         |-- evaluates UNION in NON-recursive CTEs as UNION ALL
         |SELECT DISTINCT s, p, o FROM entailed
         |WHERE p IN ('type', 'locatedIn', 'involves', 'relatedTo')
         |ORDER BY s, p, o""".stripMargin,

    // the merged clique semantics, expressed directly over the
    // unaliased data (aliases map 1:1 onto c:K subjects)
    "q_owl_sameas" ->
      s"""WITH triples AS (
         |${Triples.duckCte}
         |)
         |SELECT t1.s AS cust, t1.o AS cname, t2.o AS seg, t3.o AS nat
         |FROM triples t1, triples t2, triples t3
         |WHERE t1.p = 'name' AND t1.s LIKE 'c:%'
         |  AND t2.p = 'mktsegment' AND t2.s = t1.s
         |  AND t3.p = 'nation' AND t3.s = t1.s
         |ORDER BY cust""".stripMargin,

    // the class rules REPLAYED in dependency order (the ontology chain
    // is acyclic, so the fixpoint unrolls): fixture → inverse-functional
    // subject merge → property equivalence → functional object merge →
    // hasValue/equivalentClass → someValuesFrom
    "q_owl_class" ->
      s"""WITH triples AS (
         |${Triples.duckCte}
         |), fx AS (
         |  SELECT s, p, o FROM triples WHERE p IN ('nation', 'region')
         |  UNION ALL
         |  SELECT s, p, o FROM triples WHERE p = 'name' AND s LIKE 'c:%'
         |  UNION ALL
         |  SELECT 'dup:' || s, 'name', o FROM triples
         |  WHERE p = 'name' AND s LIKE 'c:%'
         |  UNION ALL
         |  SELECT 'dup:' || s, 'segment', o FROM triples
         |  WHERE p = 'mktsegment'
         |  UNION ALL
         |  SELECT 'dup:' || s, 'nation', 'z:' || o FROM triples
         |  WHERE p = 'nation'
         |  UNION ALL
         |  SELECT 'x:vip', 'type', 'BuildingCust'
         |),
         |-- rdfp2: subjects sharing an inverse-functional name merge
         |-- onto the group MIN
         |srep AS (
         |  SELECT DISTINCT s AS node, MIN(s) OVER (PARTITION BY o) AS rep
         |  FROM fx WHERE p = 'name'
         |), c1 AS (
         |  SELECT COALESCE(r.rep, f.s) AS s, f.p, f.o
         |  FROM fx f LEFT JOIN srep r ON f.s = r.node
         |),
         |-- rdfp13: segment ≡ mktsegment, both spellings hold
         |c2 AS (
         |  SELECT s, p, o FROM c1
         |  UNION SELECT s, 'mktsegment', o FROM c1 WHERE p = 'segment'
         |  UNION SELECT s, 'segment', o FROM c1 WHERE p = 'mktsegment'
         |),
         |-- rdfp1: a subject's functional nation values merge onto MIN
         |orep AS (
         |  SELECT DISTINCT o AS node, MIN(o) OVER (PARTITION BY s) AS rep
         |  FROM c2 WHERE p = 'nation'
         |), c3 AS (
         |  SELECT c.s, c.p, COALESCE(r.rep, c.o) AS o
         |  FROM c2 c LEFT JOIN orep r ON c.o = r.node
         |),
         |-- rdfp14a/14b + rdfp12: hasValue both directions, then the
         |-- equivalentClass lift
         |c4 AS (
         |  SELECT s, p, o FROM c3
         |  UNION SELECT s, 'type', t.cls FROM c3,
         |    (VALUES ('BuildingCust'), ('ConstructionCust')) t(cls)
         |  WHERE p = 'mktsegment' AND o = 'BUILDING'
         |  UNION SELECT s, 'type', 'ConstructionCust' FROM c3
         |  WHERE p = 'type' AND o = 'BuildingCust'
         |  UNION SELECT s, 'mktsegment', 'BUILDING' FROM c3
         |  WHERE p = 'type' AND o = 'BuildingCust'
         |  UNION SELECT s, 'type', 'NationInR1' FROM c3
         |  WHERE p = 'region' AND o = 'r:1'
         |),
         |-- rdfp15: nation into an R1-typed witness
         |c5 AS (
         |  SELECT s, p, o FROM c4
         |  UNION SELECT a.s, 'type', 'CustNearR1' FROM c4 a
         |  JOIN c4 b ON a.o = b.s
         |  WHERE a.p = 'nation' AND b.p = 'type' AND b.o = 'NationInR1'
         |)
         |SELECT DISTINCT s, p, o FROM c5
         |WHERE p IN ('type', 'mktsegment', 'nation')
         |  AND (s LIKE 'c:%' OR s = 'x:vip')
         |ORDER BY s, p, o""".stripMargin,

    "q_owl_infer" ->
      s"""WITH RECURSIVE triples AS (
         |${Triples.duckCte}
         |), loc AS (
         |  SELECT DISTINCT s, o FROM triples WHERE p IN ('nation', 'region')
         |), reach(s, o) AS (
         |  SELECT s, o FROM loc
         |  UNION
         |  SELECT l.s, r.o FROM loc l JOIN reach r ON l.o = r.s
         |)
         |SELECT s, p, o FROM (
         |  SELECT s, 'locatedIn' AS p, o FROM reach
         |  UNION SELECT s, 'custkey', o FROM triples WHERE p = 'custkey'
         |  UNION SELECT o, 'hasOrder', s FROM triples WHERE p = 'custkey'
         |  UNION SELECT s, 'linkedTo', o FROM triples WHERE p = 'region'
         |  UNION SELECT o, 'linkedTo', s FROM triples WHERE p = 'region'
         |)
         |ORDER BY s, p, o""".stripMargin,

    // the maintained materialization must land exactly on the recompute
    "q_rdfs_ivm" ->
      s"""WITH RECURSIVE triples AS (
         |${Triples.duckCte}
         |),
         |${Rdfs.entailDuckSql(Rdfs.tpchSchema)}
         |SELECT DISTINCT s, p, o FROM entailed
         |WHERE p IN ('type', 'locatedIn', 'involves', 'relatedTo')
         |ORDER BY s, p, o""".stripMargin,

    // peeling unrolled to 10 rounds (measured convergence is 3–5 at
    // sf0.001/0.01/0.1 — see the key's comment): each round keeps the
    // edges whose BOTH endpoints still have degree ≥ 20. Rounds past the
    // fixpoint are no-ops, so the unroll count only needs to be ≥ the
    // actual round count, never equal to it.
    "q_graph_kcore" -> {
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
      // round references the previous one three times — 10 inlined rounds
      // would expand the scan tree 3^10-fold (observed as an fd blowup)
      val rounds = (0 until 10).map { i =>
        s"""d$i AS MATERIALIZED (SELECT src, count(*) AS n FROM e$i GROUP BY src),
           |e${i + 1} AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM e$i e
           |  JOIN d$i x ON x.src = e.src AND x.n >= 20
           |  JOIN d$i y ON y.src = e.dst AND y.n >= 20)""".stripMargin
      }.mkString(",\n")
      s"""WITH cp AS MATERIALIZED (
         |  SELECT DISTINCT 'c:' || o.o_custkey AS a, 'p:' || l.l_partkey AS b
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM cp
         |       UNION ALL SELECT b, a FROM cp),
         |$rounds
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |FROM e10 GROUP BY src ORDER BY node""".stripMargin
    },

    "q_graph_degree" ->
      s"""WITH triples AS (
         |${Triples.duckCte}
         |), e AS (
         |$edgesCte
         |), od AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
         |id AS (SELECT dst AS node, count(*) AS indeg FROM e GROUP BY dst)
         |SELECT COALESCE(od.node, id.node) AS node,
         |  COALESCE(outdeg, 0) AS outdeg, COALESCE(indeg, 0) AS indeg
         |FROM od FULL OUTER JOIN id ON od.node = id.node
         |ORDER BY node""".stripMargin,

    "q_graph_pagerank" ->
      s"""WITH triples AS (
         |${Triples.duckCte}
         |), e AS (
         |$edgesCte
         |), outd AS (SELECT src, count(*) AS d FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM e
         |          UNION SELECT DISTINCT dst FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |${duckRound("r0", "r1")},
         |${duckRound("r1", "r2")},
         |${duckRound("r2", "r3")}
         |SELECT node, rank FROM r3 ORDER BY node""".stripMargin,

    // Bounded recursive walk: UNION (not UNION ALL) dedups (node, dist)
    // pairs and the dist < 8 guard terminates the even/odd revisit cycle
    // an undirected edge pair creates; min(dist) is the BFS distance.
    "q_graph_bfs" ->
      s"""WITH RECURSIVE triples AS (
         |${Triples.duckCte}
         |), e AS (
         |$edgesCte
         |), und AS (
         |  SELECT src, dst FROM e UNION SELECT dst, src FROM e
         |), walk(node, dist) AS (
         |  SELECT 'r:0', 0
         |  UNION
         |  SELECT u.dst, w.dist + 1 FROM walk w JOIN und u ON w.node = u.src
         |  WHERE w.dist < 8
         |)
         |SELECT node, min(dist) AS dist FROM walk GROUP BY node
         |ORDER BY node""".stripMargin,

    // Non-recursive CC oracle: the undirected entity graph's components
    // are exactly "one region + its nations + their customers + their
    // orders" (all 5 regions are referenced; every edge column is
    // non-null), so each node's component root is its region key reached
    // by the fixed-depth chain — no recursive CTE needed. Label = MIN
    // node id per root group, matching min-label propagation's fixpoint.
    "q_graph_cc" ->
      """WITH roots AS (
        |  SELECT 'r:' || CAST(r_regionkey AS VARCHAR) AS node,
        |         r_regionkey AS root FROM region
        |  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
        |         n_regionkey FROM nation
        |  UNION ALL SELECT 'c:' || CAST(c_custkey AS VARCHAR), n_regionkey
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 'o:' || CAST(o_orderkey AS VARCHAR), n_regionkey
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |), lab AS (
        |  SELECT root, min(node) AS component FROM roots GROUP BY root
        |)
        |SELECT r.node, l.component FROM roots r JOIN lab l ON r.root = l.root
        |ORDER BY r.node""".stripMargin,

    // same undirected + degree-cap + pair-count derivation, first
    // principles: hubs (degree > 64) contribute no paths
    "q_graph_common" ->
      s"""WITH triples AS (
         |${Triples.duckCte}
         |), e AS (
         |$edgesCte
         |), und AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
         |), deg AS (SELECT dst AS mid, count(*) AS d FROM und GROUP BY dst),
         |thr AS (SELECT u.src AS a, u.dst AS mid
         |        FROM und u JOIN deg ON u.dst = deg.mid WHERE deg.d <= 64)
         |SELECT t1.a AS a, t2.a AS b, CAST(count(*) AS BIGINT) AS common
         |FROM thr t1 JOIN thr t2 ON t1.mid = t2.mid AND t1.a < t2.a
         |GROUP BY t1.a, t2.a
         |ORDER BY common DESC, t1.a, t2.a
         |LIMIT 100""".stripMargin,

    // the same orientation from first principles: row-value comparison
    // (d, n) replicates the Spark struct order, each triangle appears
    // once at its minimum-order corner
    "q_graph_triangles" ->
      s"""WITH e AS (
         |$lineitemEdgesCte
         |), und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e WHERE src <> dst
         |), deg AS (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY n
         |), o AS (
         |  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b
         |           END AS lo,
         |         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d
         |           END AS hd,
         |         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a
         |           END AS hi
         |  FROM und u JOIN deg da ON u.a = da.n JOIN deg db ON u.b = db.n
         |), wdg AS (
         |  SELECT e1.lo, e1.hi AS v, e2.hi AS w
         |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo
         |  WHERE (e1.hd, e1.hi) < (e2.hd, e2.hi)
         |), tri AS (
         |  SELECT wdg.lo AS u, wdg.v, wdg.w
         |  FROM wdg JOIN o ON o.lo = wdg.v AND o.hi = wdg.w)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
         |  SELECT u AS node FROM tri
         |  UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w FROM tri)
         |GROUP BY node ORDER BY n_triangles DESC, node
         |LIMIT 20""".stripMargin,

    // the same four relaxation rounds unrolled; parallel edges keep
    // their minimum weight, mirroring makes the graph undirected
    "q_graph_sssp" -> {
      val rounds = (1 to 4).map { k =>
        s"""d$k AS (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT e.dst AS node, d.dist + e.w AS dist
           |    FROM d${k - 1} d JOIN e ON d.node = e.src
           |    UNION ALL SELECT node, dist FROM d${k - 1})
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH l AS (
         |  SELECT 'o:' || CAST(l_orderkey AS VARCHAR) AS o,
         |         'p:' || CAST(l_partkey AS VARCHAR) AS p,
         |         's:' || CAST(l_suppkey AS VARCHAR) AS sp,
         |         CAST(l_quantity AS BIGINT) AS w
         |  FROM lineitem),
         |e0 AS (
         |  SELECT o AS src, p AS dst, w FROM l
         |  UNION ALL SELECT o, sp, w FROM l
         |  UNION ALL SELECT p, sp, w FROM l),
         |e AS (
         |  SELECT src, dst, min(w) AS w FROM (
         |    SELECT src, dst, w FROM e0
         |    UNION ALL SELECT dst, src, w FROM e0)
         |  GROUP BY src, dst),
         |d0 AS (SELECT 's:1' AS node, CAST(0 AS BIGINT) AS dist),
         |$rounds
         |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4
         |ORDER BY node""".stripMargin
    })
}
