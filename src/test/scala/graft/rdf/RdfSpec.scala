package graft.rdf

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RdfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val triples = Triples.build(spark, sf0001).cache()

  test("dictionary encode ∘ decode = identity (as a bag of triples)") {
    val dict = Dictionary.build(spark, triples)
    val roundtrip = Dictionary.decode(Dictionary.encode(triples, dict), dict)
    assert(roundtrip.count() === triples.count())
    assert(roundtrip.exceptAll(triples).count() === 0)
    assert(triples.exceptAll(roundtrip).count() === 0)
  }

  test("dense dictionary ids are 1..N with no gaps") {
    val dict = Dictionary.build(spark, triples)
    val n = dict.count()
    val (minId, maxId, distinct) = dict
      .agg(min("id"), max("id"), countDistinct("id"))
      .as[(Long, Long, Long)].head()
    assert(minId === 1L && maxId === n && distinct === n)
  }

  test("hashed dictionary has no collisions on this corpus") {
    assert(Dictionary.auditCollisions(Dictionary.hashIds(triples)).count() === 0)
  }

  test("BGP star ≡ property-table lookup (two plans, same answer)") {
    val viaJoins = Bgp.solve(triples, Seq(
      TP(V("cust"), C("name"), V("cname")),
      TP(V("cust"), C("mktsegment"), C("BUILDING"))))
    val pt = triples.filter($"s".startsWith("c:"))
      .groupBy("s").pivot("p", Seq("name", "mktsegment")).agg(first("o"))
    val viaPt = pt.filter($"mktsegment" === "BUILDING")
      .select($"s".as("cust"), $"name".as("cname"))
    assert(viaJoins.exceptAll(viaPt).count() === 0)
    assert(viaPt.exceptAll(viaJoins).count() === 0)
    assert(viaJoins.count() > 0)
  }

  test("BGP repeated variable within a pattern filters to equality") {
    val t = Seq(("a", "p1", "a"), ("a", "p1", "b")).toDF("s", "p", "o")
    val got = Bgp.solve(t, Seq(TP(V("x"), C("p1"), V("x"))))
    assert(got.as[String].collect().toSeq === Seq("a"))
  }

  test("N-Triples parser handles IRIs, literals, typed/lang literals, comments") {
    val lines = Seq(
      "<http://ex/s1> <http://ex/p> <http://ex/o1> .",
      "<http://ex/s1> <http://ex/name> \"Alice\" .",
      "<http://ex/s2> <http://ex/age> \"30\"^^<http://www.w3.org/2001/XMLSchema#integer> .",
      "<http://ex/s2> <http://ex/label> \"hola\"@es .",
      "# a comment",
      "",
      "not a triple").toDF("value")
    val got = NTriples.parse(lines).as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("http://ex/s1", "http://ex/p", "http://ex/o1"),
      ("http://ex/s1", "http://ex/name", "Alice"),
      ("http://ex/s2", "http://ex/age", "30"),
      ("http://ex/s2", "http://ex/label", "hola")))
    assert(NTriples.corrupt(lines).count() === 1)
  }

  test("N-Triples decodes ECHAR and \\uXXXX escapes; empty IRI/literal lines are valid") {
    val lines = Seq(
      """<http://ex/s> <http://ex/p> "line\nbreak\tand \"quote\" and back\\slash" .""",
      """<http://ex/s> <http://ex/p> "café \U0001F600" .""",
      """<> <http://ex/p> <http://ex/o> .""", // empty IRI subject: valid, not corrupt
      """<http://ex/s> <http://ex/p> "" .""", // empty literal: valid
      "<http://ex/s> <http://ex/p> \"trunc\\" + "u12\" .", // truncated UCHAR: corrupt
      // 8 hex digits but NOT a code point (> U+10FFFF): must be a corrupt
      // line, never a decode crash
      "<http://ex/s> <http://ex/p> \"bad \\" + "UFFFFFFFF\" .",
      "<http://ex/s> <http://ex/p> \"bad \\" + "U00110000\" ."
    ).toDF("value")
    val got = NTriples.parse(lines).as[(String, String, String)].collect().toSet
    assert(got.contains(("http://ex/s", "http://ex/p", "line\nbreak\tand \"quote\" and back\\slash")))
    assert(got.contains(("http://ex/s", "http://ex/p", "café 😀")))
    assert(got.contains(("", "http://ex/p", "http://ex/o")))
    assert(got.contains(("http://ex/s", "http://ex/p", "")))
    assert(got.size === 4)
    assert(NTriples.corrupt(lines).count() === 3)
  }

  test("N-Triples write → read round-trips, including escapes and node kinds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nt").toString
    val lines = Seq(
      "<http://ex/s1> <http://ex/p> <http://ex/o1> .",
      """<http://ex/s1> <http://ex/name> "Ali\tce\n\"x\" café" .""",
      """<http://ex/s2> <http://ex/note> "plain" .""",
      "<http://ex/s2> <http://ex/link> <http://ex/o2> .").toDF("value")
    val typed = NTriples.parseTyped(lines)
    NTriples.write(typed, dir)
    val back = NTriples.parseTyped(spark.read.text(dir))
    assert(back.count() === 4)
    assert(typed.exceptAll(back).count() === 0)
    assert(back.exceptAll(typed).count() === 0)
    // and the relational→triples table round-trips at corpus scale too
    val dir2 = java.nio.file.Files.createTempDirectory("graft-nt2").toString
    val corpus = triples.withColumn("o_is_iri", lit(false))
    NTriples.write(corpus, dir2)
    val corpusBack = NTriples.parseTyped(spark.read.text(dir2))
    assert(corpusBack.count() === triples.count())
    assert(corpusBack.exceptAll(corpus).count() === 0)
  }

  test("N-Quads parse, graph defaulting, round-trip, and runQuads composition") {
    val lines = Seq(
      "<http://ex/s1> <http://ex/p> <http://ex/o1> <http://ex/g1> .",
      """<http://ex/s1> <http://ex/name> "Ali\tce \"q\"" <http://ex/g1> .""",
      "<http://ex/s2> <http://ex/p> <http://ex/o2> .", // default graph
      """<http://ex/s3> <http://ex/note> "plain" .""",
      "# comment", "",
      "<http://ex/bad> <http://ex/p> ." // malformed → corrupt
    ).toDF("value")
    val q = NQuads.parse(lines)
    assert(q.count() === 4)
    assert(q.filter($"g" === "http://ex/g1").count() === 2)
    assert(q.filter($"g" === Quads.DefaultGraph).count() === 2)
    assert(q.filter($"o" === "Ali\tce \"q\"").count() === 1)
    assert(NQuads.corrupt(lines).count() === 1)
    // write → read round-trips node kinds, escapes and graph labels
    val dir = java.nio.file.Files.createTempDirectory("graft-nq").toString
    val typed = NQuads.parseTyped(lines)
    NQuads.write(typed, dir)
    val back = NQuads.parseTyped(spark.read.text(dir))
    assert(typed.exceptAll(back).count() === 0)
    assert(back.exceptAll(typed).count() === 0)
    // and the parsed quads feed GRAPH queries directly
    val got = Sparql.runQuads(q,
      """SELECT ?g ?o WHERE { GRAPH ?g { ?s <http://ex/p> ?o . } }""")
    assert(got.as[(String, String)].collect().toSet ===
      Set("http://ex/g1" -> "http://ex/o1"))
    val dflt = Sparql.runQuads(q,
      "SELECT ?o WHERE { ?s <http://ex/p> ?o . }")
    assert(dflt.as[String].collect().toSeq === Seq("http://ex/o2"))
  }

  test("star-collapsed solve ≡ join solve (star, chain, const-object)") {
    val starPats = Seq(
      TP(V("cust"), C("name"), V("cname")),
      TP(V("cust"), C("mktsegment"), C("BUILDING")),
      TP(V("cust"), C("nation"), V("nat")))
    val chainPats = Seq(
      TP(V("ord"), C("custkey"), V("cust")),
      TP(V("ord"), C("orderpriority"), C("1-URGENT")),
      TP(V("cust"), C("mktsegment"), V("seg")),
      TP(V("cust"), C("name"), V("cname")))
    for (pats <- Seq(starPats, chainPats)) {
      val viaJoin = Bgp.solve(triples, pats)
      val viaStar = Bgp.solveStarCollapsed(triples, pats)
        .select(viaJoin.columns.map(col): _*)
      assert(viaJoin.count() > 0)
      assert(viaJoin.exceptAll(viaStar).count() === 0)
      assert(viaStar.exceptAll(viaJoin).count() === 0)
    }
  }

  test("star-collapsed solve shuffles once per star, not once per pattern") {
    val pats = Seq(
      TP(V("cust"), C("name"), V("cname")),
      TP(V("cust"), C("mktsegment"), V("seg")),
      TP(V("cust"), C("nation"), V("nat")))
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      "Exchange hashpartitioning".r.findAllIn(df.queryExecution.executedPlan.toString).size
    // at toy scale Catalyst broadcast-joins everything; disable broadcast to
    // see the plan shape a large triples table would get
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the analyzer rule defaults ON since round 10 and would collapse
    // the join baseline too — opt out to measure the join path itself
    spark.conf.set(graft.plans.StarCollapse.Flag, "false")
    try {
      val joinPlanShuffles = shuffles(Bgp.solve(triples, pats))
      val starPlanShuffles = shuffles(Bgp.solveStarCollapsed(triples, pats))
      assert(starPlanShuffles < joinPlanShuffles,
        s"star=$starPlanShuffles join=$joinPlanShuffles")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset(graft.plans.StarCollapse.Flag)
    }
  }

  test("encoded BGP (id-space solve + decode) ≡ string-space solve") {
    val pats = Seq(
      TP(V("ord"), C("custkey"), V("cust")),
      TP(V("ord"), C("orderpriority"), C("1-URGENT")),
      TP(V("cust"), C("mktsegment"), V("seg")),
      TP(V("cust"), C("name"), V("cname")))
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val viaString = Bgp.solve(triples, pats)
    for (collapse <- Seq(false, true)) {
      val viaIds = EncodedBgp.solve(enc, dict, pats, collapseStars = collapse)
        .select(viaString.columns.map(col): _*)
      assert(viaString.count() > 0)
      assert(viaString.exceptAll(viaIds).count() === 0)
      assert(viaIds.exceptAll(viaString).count() === 0)
    }
  }

  test("encoded BGP joins run over longs, not strings") {
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val pats = Seq(
      TP(V("ord"), C("custkey"), V("cust")),
      TP(V("cust"), C("mktsegment"), V("seg")))
    val (encoded, allResolved) = EncodedBgp.encodePatterns(dict, pats)
    assert(allResolved)
    assert(encoded.forall { tp =>
      Seq(tp.s, tp.p, tp.o).forall { case C(v) => v.isInstanceOf[Long]; case _ => true }
    })
    // the solved (pre-decode) bindings are long-typed end to end
    val solved = Bgp.solve(EncodedBgp.asTriples(enc), encoded)
    assert(solved.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType))
  }

  test("encoded BGP over the hashed (100TB-path) dictionary ≡ dense dictionary") {
    val pats = Seq(
      TP(V("ord"), C("custkey"), V("cust")),
      TP(V("ord"), C("orderpriority"), C("1-URGENT")),
      TP(V("cust"), C("name"), V("cname")))
    val dense = Dictionary.build(spark, triples)
    val hashed = Dictionary.hashIds(triples)
    // the scale path's post-load invariant, then the same solver unchanged
    assert(Dictionary.auditCollisions(hashed).count() === 0)
    val viaDense = EncodedBgp.solve(Dictionary.encode(triples, dense), dense, pats)
    val viaHash = EncodedBgp.solve(Dictionary.encode(triples, hashed), hashed, pats)
      .select(viaDense.columns.map(col): _*)
    assert(viaDense.count() > 0)
    assert(viaDense.exceptAll(viaHash).count() === 0)
    assert(viaHash.exceptAll(viaDense).count() === 0)
  }

  test("transitive closure: chains, branches, cycles, and convergence guard") {
    import spark.implicits._
    // a 5-node chain, a branch, and a 3-cycle
    val edges = Seq(
      "a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", // chain
      "b" -> "x", // branch
      "p" -> "q", "q" -> "r", "r" -> "p" // cycle
    ).toDF("src", "dst")
    val closure = Paths.transitiveClosure(edges)
    val got = closure.as[(String, String)].collect().toSet
    def reach(from: String, to: Seq[String]) = to.map(from -> _).toSet
    assert(got === reach("a", Seq("b", "c", "d", "e", "x"))
      ++ reach("b", Seq("c", "d", "e", "x"))
      ++ reach("c", Seq("d", "e")) ++ reach("d", Seq("e"))
      // a cycle reaches every member including itself
      ++ reach("p", Seq("p", "q", "r")) ++ reach("q", Seq("p", "q", "r"))
      ++ reach("r", Seq("p", "q", "r")))
    // every round adds only pairs not yet known — the reason the loop
    // ends with no round cap — so the closure holds each pair once
    assert(closure.count() === got.size)
  }

  test("encoded BGP with a constant absent from the dictionary is empty, not wrong") {
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val got = EncodedBgp.solve(enc, dict, Seq(
      TP(V("cust"), C("mktsegment"), C("NO-SUCH-SEGMENT"))))
    assert(got.count() === 0)
  }

  test("BGP chain joins star results through the shared variable") {
    val got = RdfOps.queries("q_bgp_chain")(spark, sf0001)
    assert(got.columns.sorted.toSeq === Seq("cname", "cust", "ord", "seg"))
    assert(got.count() > 0)
  }

  test("property-table star solving ≡ join solving, zero joins per star") {
    val triples = Triples.build(spark, sf0001)
    val pats = Seq(
      TP(V("cust"), C("name"), V("cname")),
      TP(V("cust"), C("mktsegment"), C("BUILDING")),
      TP(V("cust"), C("nation"), V("nat")))
    val pt = Bgp.propertyTable(triples, Seq("name", "mktsegment", "nation"))
    val viaPt = Bgp.solveOverPropertyTable(pt, pats)
    val viaJoin = Bgp.solve(triples, pats)
    assert(viaPt.count() > 0)
    assert(viaPt.exceptAll(viaJoin).count() === 0)
    assert(viaJoin.exceptAll(viaPt).count() === 0)
    // the single-star solve is join-free (the reference's one-lookup shape)
    val plan = viaPt.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), plan.take(1500))
    // a predicate the table lacks empties the star instead of erroring
    assert(Bgp.solveOverPropertyTable(pt,
      pats :+ TP(V("cust"), C("ghost"), V("g"))).count() === 0)
    // constant subject restricts; repeated object var forces equality
    val one = Bgp.solveOverPropertyTable(pt,
      Seq(TP(C("c:1"), C("name"), V("n"))))
    assert(one.count() === 1)
    assert(Bgp.solveOverPropertyTable(pt, Seq(
      TP(V("c"), C("name"), V("x")),
      TP(V("c"), C("mktsegment"), V("x")))).count() === 0,
      "no customer's name equals its segment")
  }

  test("selectivity reorder is result-invariant under any input order") {
    val triples = Triples.build(spark, sf0001)
    val stats = Bgp.predicateCounts(triples)
    assert(stats("custkey") > stats("region"),
      "fixture sanity: order edges outnumber region edges")
    val pats = Seq(
      TP(V("ord"), C("custkey"), V("cust")),
      TP(V("ord"), C("orderpriority"), C("1-URGENT")),
      TP(V("cust"), C("mktsegment"), V("seg")),
      TP(V("cust"), C("name"), V("cname")))
    val base = Bgp.solve(triples, pats)
    pats.permutations.take(6).foreach { perm =>
      val got = Bgp.solveReordered(triples, perm, stats)
      assert(got.exceptAll(base).count() === 0 &&
        base.exceptAll(got).count() === 0, s"order $perm diverged")
      // the greedy reorder must stay CONNECTED: a selectivity sort alone
      // can make adjacent fold steps variable-disjoint, and a disjoint
      // step is a cross join — quadratic intermediates on a linear query
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("NestedLoop"),
        s"order $perm cross-joined:\n$plan")
    }
  }
}
