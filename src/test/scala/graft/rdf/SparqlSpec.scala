package graft.rdf

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SparqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val triples = Triples.build(spark, sf0001).cache()

  test("SPARQL star query text ≡ DSL result") {
    val viaText = Sparql.run(triples,
      """SELECT ?cust ?cname ?nat WHERE {
        |  ?cust <name> ?cname .
        |  ?cust <mktsegment> "BUILDING" .
        |  ?cust <nation> ?nat .
        |}""".stripMargin)
    val viaDsl = Bgp.solve(triples, Seq(
      TP(V("cust"), C("name"), V("cname")),
      TP(V("cust"), C("mktsegment"), C("BUILDING")),
      TP(V("cust"), C("nation"), V("nat"))))
    assert(viaText.count() > 0)
    assert(viaText.exceptAll(viaDsl).count() === 0)
    assert(viaDsl.exceptAll(viaText).count() === 0)
  }

  test("predicate-object (;) and object (,) lists expand to shared-subject patterns") {
    // `;` star syntax ≡ the same patterns written out one per line
    val listed = Sparql.run(triples,
      """SELECT ?cust ?cname ?nat WHERE {
        |  ?cust <name> ?cname ;
        |        <mktsegment> "BUILDING" ;
        |        <nation> ?nat .
        |}""".stripMargin)
    val spelled = Sparql.run(triples,
      """SELECT ?cust ?cname ?nat WHERE {
        |  ?cust <name> ?cname .
        |  ?cust <mktsegment> "BUILDING" .
        |  ?cust <nation> ?nat .
        |}""".stripMargin)
    assert(listed.count() === spelled.count() && listed.count() > 0)
    assert(listed.exceptAll(spelled).count() === 0)
    // object list: both objects must hold for the same (s, p)
    val t = Seq(("s1", "p", "a"), ("s1", "p", "b"), ("s2", "p", "a"),
      ("s1", "q", "z")).toDF("s", "p", "o")
    val both = Sparql.run(t, """SELECT ?s WHERE { ?s <p> "a" , "b" . }""")
    assert(both.as[String].collect().toSeq === Seq("s1"))
    // trailing ';' before '.' is Turtle-style and accepted
    val trail = Sparql.run(t, """SELECT ?s WHERE { ?s <p> "a" ; . }""")
    assert(trail.as[String].collect().toSet === Set("s1", "s2"))
    // lists work inside OPTIONAL blocks and with path verbs
    val opt = Sparql.run(triples,
      """SELECT ?cust ?on WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  OPTIONAL { ?ord <custkey> ?cust ; <orderstatus> "P" ; <name> ?on . }
        |}""".stripMargin)
    assert(opt.count() > 0)
    val withPath = Sparql.run(triples,
      """SELECT ?o ?dst WHERE {
        |  ?o <custkey> ?c .
        |  ?c <nation>/<region> ?dst ; <mktsegment> "BUILDING" .
        |}""".stripMargin)
    val withPathSpelled = Sparql.run(triples,
      """SELECT ?o ?dst WHERE {
        |  ?o <custkey> ?c .
        |  ?c <nation>/<region> ?dst .
        |  ?c <mktsegment> "BUILDING" .
        |}""".stripMargin)
    assert(withPath.count() === withPathSpelled.count() && withPath.count() > 0)
    // paths are legal in OPTIONAL/MINUS/EXISTS bodies but stay out of
    // CONSTRUCT templates, loudly
    Sparql.parse("SELECT ?s WHERE { ?s <p> ?x . MINUS { ?x <q>+ ?y . } }")
    intercept[IllegalArgumentException](Sparql.parse(
      "CONSTRUCT { ?s <q>+ ?y . } WHERE { ?s <p> ?y . }"))
    // a blank node still cannot sit in predicate position
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?s WHERE { ?s _:b ?x . }"))
  }

  test("OPTIONAL keeps unmatched left rows with nulls") {
    val got = Sparql.run(triples,
      """SELECT ?cust ?seg ?ord WHERE {
        |  ?cust <mktsegment> ?seg .
        |  OPTIONAL { ?ord <custkey> ?cust . ?ord <orderstatus> "P" . }
        |}""".stripMargin)
    assert(got.filter(col("ord").isNull).count() > 0)
    assert(got.filter(col("ord").isNotNull).count() > 0)
  }

  test("FILTER equality, inequality and regex") {
    val eq = Sparql.run(triples,
      """SELECT ?c ?s WHERE { ?c <mktsegment> ?s . FILTER (?s = "BUILDING") }""")
    assert(eq.select("s").distinct().as[String].collect().toSeq === Seq("BUILDING"))
    val ne = Sparql.run(triples,
      """SELECT ?c ?s WHERE { ?c <mktsegment> ?s . FILTER (?s != "BUILDING") }""")
    assert(ne.filter($"s" === "BUILDING").count() === 0 && ne.count() > 0)
    val re = Sparql.run(triples,
      """SELECT ?c ?n WHERE { ?c <name> ?n . FILTER regex(?n, "^Customer#00000001") }""")
    assert(re.count() === 10) // Customer#000000010..19
    assert(re.filter(!$"n".startsWith("Customer#00000001")).count() === 0)
  }

  test("PREFIX expansion and SELECT *") {
    val t = Seq(("s1", "http://ex/p", "o1"), ("s2", "http://ex/p", "o2"))
      .toDF("s", "p", "o")
    val got = Sparql.run(t,
      """PREFIX ex: <http://ex/>
        |SELECT * WHERE { ?s ex:p ?o . }""".stripMargin)
    assert(got.columns.toSet === Set("s", "o"))
    assert(got.count() === 2)
  }

  test("variable-disjoint empty OPTIONAL block keeps all required rows") {
    val got = Sparql.run(triples,
      """SELECT ?r ?n WHERE {
        |  ?r <name> ?n .
        |  OPTIONAL { ?x <no_such_predicate> ?y . }
        |}""".stripMargin)
    val required = Sparql.run(triples, "SELECT ?r ?n WHERE { ?r <name> ?n . }")
    assert(got.count() === required.count())
    assert(got.count() > 0)
  }

  test("multi-valued predicates return every binding through the default path") {
    import spark.implicits._
    val t = Seq(("s1", "p", "a"), ("s1", "p", "b"), ("s1", "q", "z"))
      .toDF("s", "p", "o")
    val got = Sparql.run(t, "SELECT ?x WHERE { ?s <p> ?x . ?s <q> ?y . }")
      .as[String].collect().toSet
    assert(got === Set("a", "b")) // star-collapse would lose one binding
  }

  test("collection syntax in term position desugars and matches") {
    val doc =
      """@prefix ex: <http://ex/> .
        |ex:menu ex:items ( ex:soup ex:fish ex:cake ) .
        |ex:short ex:items ( ex:one ) .
        |ex:none ex:items ( ) .
        |""".stripMargin
    val lists = Turtle.parseDoc(doc, "q").map(r => (r.s, r.p, r.o))
      .toDF("s", "p", "o")
    // a 3-element collection pattern matches only the 3-list, binding
    // its cells' rdf:first values
    val three = Sparql.run(lists,
      """PREFIX ex: <http://ex/>
        |SELECT ?s ?a ?c WHERE { ?s ex:items ( ?a ?b ?c ) . }""".stripMargin)
    assert(three.as[(String, String, String)].collect().toSeq ===
      Seq(("http://ex/menu", "http://ex/soup", "http://ex/cake")))
    // constants inside collections constrain the match
    val one = Sparql.run(lists,
      """PREFIX ex: <http://ex/>
        |SELECT ?s WHERE { ?s ex:items ( ex:one ) . }""".stripMargin)
    assert(one.as[String].collect().toSeq === Seq("http://ex/short"))
    // the empty collection is the rdf:nil constant
    val none = Sparql.run(lists,
      """PREFIX ex: <http://ex/>
        |SELECT ?s WHERE { ?s ex:items ( ) . }""".stripMargin)
    assert(none.as[String].collect().toSeq === Seq("http://ex/none"))
    // a subject-position collection standing alone: its chain IS the
    // pattern set (grammar 75's TriplesNode with empty property list)
    val heads = Sparql.run(lists,
      """SELECT ?x WHERE { ( ?x ) . }""")
    assert(heads.as[String].collect().toSet ===
      Set("http://ex/cake", "http://ex/one"))
    // nested collections recurse; the blank-node cells stay
    // non-projectable (dropped from SELECT *)
    val nested = Turtle.parseDoc(
      "@prefix e: <http://e/> . e:s e:l ( ( e:a ) e:b ) .", "n")
      .map(r => (r.s, r.p, r.o)).toDF("s", "p", "o")
    val star = Sparql.run(nested,
      """PREFIX e: <http://e/>
        |SELECT * WHERE { ?s e:l ( ( ?inner ) ?flat ) . }""".stripMargin)
    assert(star.columns.toSet === Set("s", "inner", "flat"))
    assert(star.select("s", "inner", "flat")
      .as[(String, String, String)].collect().toSeq ===
      Seq(("http://e/s", "http://e/a", "http://e/b")))
  }

  test("out-of-fragment constructs are rejected, not mis-run") {
    intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?x WHERE { }"))
    intercept[IllegalArgumentException](
      Sparql.parse("""SELECT ?x WHERE { ?x zz:p ?y . }"""))
    intercept[IllegalArgumentException](
      Sparql.parse("""SELECT WHERE { ?x <p> ?y . }"""))
    // trailing clauses outside the fragment must error, never be ignored
    intercept[IllegalArgumentException](
      Sparql.parse("""SELECT ?x WHERE { ?x <p> ?y . } GRAPH <g>"""))
    // a lone braced group parses as a plain nested group (one-branch
    // union) — but an empty one is still an error
    assert(Sparql.parse("""SELECT ?x WHERE { { ?x <p> ?y . } }""")
      .branches.head.unions.head.size === 1)
    intercept[IllegalArgumentException](
      Sparql.parse("""SELECT ?x WHERE { { } }"""))
  }

  test("tokenizer rejects unsupported syntax at its offset; comments pass") {
    // an unknown operator character: the coverage check names the
    // offending character and offset instead of dropping it
    val e = intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?x WHERE { ?x <p> ?y . FILTER (?y ~ 3) }"))
    assert(e.getMessage.contains("offset 41") && e.getMessage.contains("~"))
    // comments are whitespace; '#' inside IRIs/literals is data
    val got = Sparql.run(triples,
      """SELECT ?c ?n WHERE {   # projection comment
        |  ?c <name> ?n .       # pattern comment
        |  FILTER regex(?n, "^Customer#000000011$")
        |}""".stripMargin)
    assert(got.count() === 1)
  }

  test("UNION null-pads variables unbound in a branch") {
    val got = Sparql.run(triples,
      """SELECT ?s ?n ?seg WHERE {
        |  { ?s <mktsegment> ?seg . ?s <name> ?n . }
        |  UNION
        |  { ?s <orderpriority> "1-URGENT" . ?s <custkey> ?n . }
        |}""".stripMargin)
    assert(got.columns.toSeq === Seq("s", "n", "seg"))
    val cust = got.filter($"seg".isNotNull)
    val ord = got.filter($"seg".isNull)
    assert(cust.count() > 0 && ord.count() > 0)
    assert(ord.filter(!$"s".startsWith("o:")).count() === 0)
    assert(cust.filter(!$"s".startsWith("c:")).count() === 0)
  }

  test("SELECT REDUCED eliminates duplicates (conformant as DISTINCT)") {
    val reduced = Sparql.run(triples,
      """SELECT REDUCED ?s WHERE {
        |  { ?s <mktsegment> "BUILDING" . } UNION { ?s <mktsegment> "BUILDING" . }
        |}""".stripMargin)
    assert(reduced.count() === reduced.distinct().count())
    assert(reduced.count() > 0)
  }

  test("DISTINCT collapses duplicate solutions across UNION branches") {
    val bag = Sparql.run(triples,
      """SELECT ?s WHERE {
        |  { ?s <mktsegment> "BUILDING" . } UNION { ?s <mktsegment> "BUILDING" . }
        |}""".stripMargin)
    val set = Sparql.run(triples,
      """SELECT DISTINCT ?s WHERE {
        |  { ?s <mktsegment> "BUILDING" . } UNION { ?s <mktsegment> "BUILDING" . }
        |}""".stripMargin)
    assert(bag.count() === 2 * set.count())
    assert(set.count() === set.distinct().count())
  }

  test("ORDER BY + LIMIT + OFFSET page deterministically") {
    def page(offset: Int, limit: Int) = Sparql.run(triples,
      s"""SELECT ?c ?n WHERE { ?c <name> ?n . FILTER regex(?c, "^c:") }
         |ORDER BY ?c ?n LIMIT $limit OFFSET $offset""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    val all = Sparql.run(triples,
      """SELECT ?c ?n WHERE { ?c <name> ?n . FILTER regex(?c, "^c:") }
        |ORDER BY ?c ?n""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(page(0, 10) === all.take(10))
    assert(page(10, 5) === all.slice(10, 15))
    // DESC reverses the single-valued, duplicate-free key ordering
    val desc = Sparql.run(triples,
      """SELECT ?c WHERE { ?c <name> ?n . FILTER regex(?c, "^c:") }
        |ORDER BY DESC(?c) LIMIT 3""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(desc === all.distinct.reverse.take(3))
  }

  test("numeric FILTER coerces; lexicographic would differ") {
    val numeric = Sparql.run(triples,
      """SELECT ?c ?nk WHERE {
        |  ?c <nationkey> ?nk . FILTER (?nk >= 10) FILTER (?nk < 20)
        |}""".stripMargin)
    val nks = numeric.select("nk").distinct().as[String].collect().map(_.toInt)
    assert(nks.nonEmpty && nks.forall(v => v >= 10 && v < 20))
    // "2" passes the lexicographic test ("2" >= "10") but not the numeric one
    assert(numeric.filter($"nk" === "2").count() === 0)
    // a non-numeric binding is a type error → row eliminated, not a crash
    val mixed = Sparql.run(triples,
      "SELECT ?c ?s WHERE { ?c <mktsegment> ?s . FILTER (?s > 5) }")
    assert(mixed.count() === 0)
    // a variable named like a SQL keyword/literal must stay a column
    // reference inside the numeric cast, not become the literal `true`
    val kw = Sparql.run(triples,
      "SELECT ?c ?true WHERE { ?c <nationkey> ?true . FILTER (?true >= 20) }")
    assert(kw.count() > 0)
    assert(kw.select("true").distinct().as[String].collect().map(_.toInt).forall(_ >= 20))
  }

  test("ASK returns a 1-row boolean for existence, over strings and ids") {
    val yes = "ASK WHERE { ?c <mktsegment> \"BUILDING\" . }"
    val no = "ASK WHERE { ?c <mktsegment> \"NO-SUCH-SEGMENT\" . }"
    def one(df: org.apache.spark.sql.DataFrame): Boolean = {
      assert(df.columns.toSeq === Seq("ask") && df.count() === 1)
      df.as[Boolean].head()
    }
    assert(one(Sparql.run(triples, yes)))
    assert(!one(Sparql.run(triples, no)))
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    assert(one(Sparql.runEncoded(enc, dict, yes)))
    assert(!one(Sparql.runEncoded(enc, dict, no)))
    // ASK takes no projection or solution modifiers
    intercept[IllegalArgumentException](
      Sparql.parse("ASK ?x WHERE { ?x <p> ?y . }"))
    intercept[IllegalArgumentException](
      Sparql.parse("ASK WHERE { ?x <p> ?y . } LIMIT 5"))
  }

  test("VALUES joins inline bindings: shared, multi-var, and disjoint forms") {
    val shared = Sparql.run(triples,
      """SELECT ?c ?s WHERE {
        |  ?c <mktsegment> ?s .
        |  VALUES ?s { "BUILDING" "MACHINERY" }
        |}""".stripMargin)
    assert(shared.select("s").distinct().as[String].collect().toSet ===
      Set("BUILDING", "MACHINERY"))
    // multi-var rows restrict to exact combinations: pick one that exists
    // in the data plus one that cannot
    val all = Sparql.run(triples,
      "SELECT ?c ?s ?nk WHERE { ?c <mktsegment> ?s . ?c <nationkey> ?nk . }")
    val (seg0, nk0) = {
      val r = all.select("s", "nk").head()
      (r.getString(0), r.getString(1))
    }
    val multi = Sparql.run(triples,
      s"""SELECT ?c ?s ?nk WHERE {
         |  ?c <mktsegment> ?s . ?c <nationkey> ?nk .
         |  VALUES (?s ?nk) { ("$seg0" "$nk0") ("$seg0" "no-such-key") }
         |}""".stripMargin)
    assert(multi.select("s", "nk").distinct()
      .as[(String, String)].collect().toSet === Set(seg0 -> nk0))
    assert(multi.count() ===
      all.filter($"s" === seg0 && $"nk" === nk0).count())
    // a VALUES var not bound in the pattern cross-products (SPARQL join)
    val disjoint = Sparql.run(triples,
      """SELECT ?c ?tag WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  VALUES ?tag { "t1" "t2" }
        |}""".stripMargin)
    val base = Sparql.run(triples,
      "SELECT ?c WHERE { ?c <mktsegment> \"BUILDING\" . }")
    assert(disjoint.count() === 2 * base.count())
    intercept[IllegalArgumentException](
      Sparql.parse("SELECT ?c WHERE { ?c <p> ?s . VALUES ?s { ?notconst } }"))
  }

  test("SAMETERM compares stored term identity (17.4.1.8)") {
    val t = Seq(("a", "p", "x"), ("b", "p", "x"), ("c", "p", "y"))
      .toDF("s", "p", "o")
    val same = Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?o . FILTER (SAMETERM(?o, "x")) }
        |ORDER BY ?s""".stripMargin)
    assert(same.as[String].collect().toSeq === Seq("a", "b"))
    val diff = Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?o . FILTER (!SAMETERM(?o, "x")) }""")
    assert(diff.as[String].collect().toSeq === Seq("c"))
    // on a TERM-STRING store, node kind is part of identity: the typed
    // literal "5"^^xsd:integer is NOT the same term as the plain "5"
    // (STRDT constructs the typed term string to compare against)
    val dir = java.nio.file.Files.createTempDirectory("sameterm").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.ttl"),
      """@prefix ex: <http://ex/> .
        |ex:s1 ex:n 5 . ex:s2 ex:n "5" .""".stripMargin.getBytes("UTF-8"))
    val terms = Turtle.termStrings(Turtle.readTyped(spark, s"$dir/*.ttl"))
    val typedOnly = Sparql.run(terms,
      """PREFIX ex: <http://ex/>
        |SELECT ?s WHERE { ?s ex:n ?o .
        |  FILTER (SAMETERM(?o,
        |    STRDT("5", <http://www.w3.org/2001/XMLSchema#integer>))) }"""
        .stripMargin)
    assert(typedOnly.as[String].collect().toSeq === Seq("http://ex/s1"))
  }

  test("REGEX takes expressions and XPath flags (17.4.3.14)") {
    val t = Seq(("a", "p", "Foo-Bar"), ("b", "p", "foobar"),
      ("c", "p", "a.b"), ("d", "p", "axb")).toDF("s", "p", "o")
    // case-insensitive flag
    val i = Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?o . FILTER regex(?o, "^foo", "i") }
        |ORDER BY ?s""".stripMargin)
    assert(i.as[String].collect().toSeq === Seq("a", "b"))
    // expression operand, not just a variable
    val e = Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?o . FILTER regex(UCASE(?o), "^FOO") }
        |ORDER BY ?s""".stripMargin)
    assert(e.as[String].collect().toSeq === Seq("a", "b"))
    // without q the dot is a metacharacter; with q the pattern is a
    // literal string and matches only itself
    val dot = Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?o . FILTER regex(?o, "a.b") }
        |ORDER BY ?s""".stripMargin)
    assert(dot.as[String].collect().toSeq === Seq("c", "d"))
    val q = Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?o . FILTER regex(?o, "a.b", "q") }""")
    assert(q.as[String].collect().toSeq === Seq("c"))
    // unknown flags and variable patterns are loud errors
    intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?o . FILTER regex(?o, "x", "g") }"""))
    intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?s WHERE { ?s <p> ?o . FILTER regex(?o, ?o) }"""))
  }

  test("NOW/RAND/UUID/STRUUID/TIMEZONE (17.4.1.4-6, 17.4.5)") {
    val t = Seq(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3"))
      .toDF("s", "p", "o")
    // NOW is constant for the whole query execution (17.4.5.1)
    val now = Sparql.run(t,
      "SELECT ?s (NOW() AS ?t) WHERE { ?s <p> ?o . }")
      .select("t").as[String].collect().toSeq
    assert(now.size === 3 && now.distinct.size === 1)
    assert(now.head.matches(
      """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}.*"""))
    // RAND in [0, 1) (17.4.1.4)
    val rnd = Sparql.run(t,
      "SELECT ?s (RAND() AS ?r) WHERE { ?s <p> ?o . }")
      .select("r").as[Double].collect().toSeq
    assert(rnd.forall(r => r >= 0.0 && r < 1.0))
    // UUID is an urn:uuid IRI, STRUUID the bare form; fresh per solution
    val ids = Sparql.run(t,
      "SELECT (UUID() AS ?u) (STRUUID() AS ?su) WHERE { ?s <p> ?o . }")
      .select("u", "su").as[(String, String)].collect().toSeq
    assert(ids.map(_._2).distinct.size === 3)
    // UUID goes through IRI(), so it carries the term-string brackets
    assert(ids.forall(_._1.startsWith("<urn:uuid:")))
    assert(ids.forall(_._2.matches("[0-9a-f-]{36}")))
    // TIMEZONE is the zone as an xsd:dayTimeDuration; absent = error
    val tz = Seq(
      ("m5", "at", "2011-01-10T14:45:13.815-05:00"),
      ("none", "at", "2011-01-10T14:45:13.815"),
      ("p530", "at", "2011-01-10T14:45:13.815+05:30"),
      ("z", "at", "2011-01-10T14:45:13.815Z"),
      ("z0", "at", "2011-01-10T14:45:13.815+00:00")).toDF("s", "p", "o")
    val tzs = Sparql.run(tz,
      """SELECT ?s (TIMEZONE(?o) AS ?d) WHERE { ?s <at> ?o . }""")
      .select("s", "d").as[(String, String)].collect().toMap
    assert(tzs === Map("z" -> "PT0S", "z0" -> "PT0S", "m5" -> "-PT5H",
      "p530" -> "PT5H30M", "none" -> null))
  }

  test("trailing VALUES clause joins the whole query result (18.2.4.4)") {
    // post-hoc restriction of a plain query
    val two = Sparql.run(triples,
      """SELECT ?cust ?seg WHERE { ?cust <mktsegment> ?seg . }
        |ORDER BY ?cust
        |VALUES ?seg { "BUILDING" "MACHINERY" }""".stripMargin)
    val inline = Sparql.run(triples,
      """SELECT ?cust ?seg WHERE { ?cust <mktsegment> ?seg .
        |  VALUES ?seg { "BUILDING" "MACHINERY" } }
        |ORDER BY ?cust""".stripMargin)
    assert(two.count() > 0)
    assert(two.exceptAll(inline).count() === 0 &&
      inline.exceptAll(two).count() === 0)
    // applies AFTER aggregation: the data block restricts group keys
    val agg = Sparql.run(triples,
      """SELECT ?seg (COUNT(?c) AS ?n) WHERE { ?c <mktsegment> ?seg . }
        |GROUP BY ?seg
        |VALUES ?seg { "BUILDING" }""".stripMargin)
    assert(agg.count() === 1)
    assert(agg.select("seg").as[String].head() === "BUILDING")
    // a fresh variable cross-products in (parameter injection); UNDEF
    // rows leave it unconstrained on that row
    val fresh = Sparql.run(triples,
      """SELECT ?cust ?tag WHERE { ?cust <mktsegment> "BUILDING" . }
        |VALUES ?tag { "a" "b" }""".stripMargin)
    val base = Sparql.run(triples,
      """SELECT ?cust WHERE { ?cust <mktsegment> "BUILDING" . }""")
    assert(fresh.count() === 2 * base.count())
    // multi-var rows with UNDEF partial bindings work like block VALUES
    val undef = Sparql.run(triples,
      """SELECT ?cust ?seg WHERE { ?cust <mktsegment> ?seg . }
        |VALUES (?cust ?seg) { (UNDEF "BUILDING") ("c:1" UNDEF) }"""
        .stripMargin)
    val expect = Sparql.run(triples,
      """SELECT ?cust ?seg WHERE { ?cust <mktsegment> ?seg .
        |  VALUES (?cust ?seg) { (UNDEF "BUILDING") ("c:1" UNDEF) } }"""
        .stripMargin)
    assert(undef.exceptAll(expect).count() === 0 &&
      expect.exceptAll(undef).count() === 0)
    // trailing VALUES on an OPTIONAL-bound variable runs the
    // compatibility join: bound rows filter to the listed value, the
    // unbound row ADOPTS it (18.2.2.4)
    val tv = Seq(("c1", "p", "B"), ("c2", "p", "B"), ("c1", "nk", "3"),
      ("c3", "p", "B"), ("c3", "nk", "9")).toDF("s", "p", "o")
    val trail = Sparql.run(tv,
      """SELECT ?cust ?nk WHERE { ?cust <p> "B" .
        |  OPTIONAL { ?cust <nk> ?nk . } }
        |VALUES ?nk { "3" }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(trail === Set(("c1", "3"), ("c2", "3")))
  }

  test("MINUS removes compatible solutions; disjoint MINUS removes nothing") {
    val withOrders = Sparql.run(triples,
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" .
        |}""".stripMargin).distinct()
    val all = Sparql.run(triples,
      "SELECT ?c WHERE { ?c <mktsegment> \"BUILDING\" . }")
    val minus = Sparql.run(triples,
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  MINUS { ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(minus.count() === all.count() - withOrders.count())
    assert(minus.intersect(withOrders).count() === 0)
    // a MINUS block sharing no variable is incompatible with everything —
    // SPARQL keeps every solution
    val disjoint = Sparql.run(triples,
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  MINUS { ?x <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(disjoint.count() === all.count())
  }

  test("CONSTRUCT instantiates the template per solution into a deduped graph") {
    val t = Seq(("o1", "custkey", "c1"), ("o2", "custkey", "c1"),
      ("o1", "flag", "x"), ("o2", "flag", "x"))
      .toDF("s", "p", "o")
    val g = Sparql.run(t,
      """CONSTRUCT { ?c <ordered> ?o . ?o <cls> "f" . }
        |WHERE { ?o <custkey> ?c . ?o <flag> "x" . }""".stripMargin)
    assert(g.columns.toSeq === Seq("s", "p", "o"))
    val got = g.as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("c1", "ordered", "o1"), ("c1", "ordered", "o2"),
      ("o1", "cls", "f"), ("o2", "cls", "f")))
    // the constructed graph is itself queryable — the composition that
    // makes CONSTRUCT a graph-transformation operator
    val back = Sparql.run(g, "SELECT ?c WHERE { ?c <ordered> ?o . }")
    assert(back.distinct().as[String].collect().toSeq === Seq("c1"))
    // template variables must be bound in WHERE
    intercept[IllegalArgumentException](
      Sparql.run(t, "CONSTRUCT { ?z <p> ?c . } WHERE { ?o <custkey> ?c . }")
        .count())
  }

  test("ORDER BY follows the 15.1 total order: unbound < blank < IRI < " +
    "literal, numerics by VALUE; string ≡ encoded; DESC reversed") {
    import spark.implicits._
    val t = Seq(
      ("x:1", "p", "_:bn1"),
      ("x:2", "p", "<http://z.example/a>"),
      ("x:3", "p", "\"10\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("x:4", "p", "\"2\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("x:5", "p", "\"apple\""),
      // x:6 matches <p> but has no <q> — its ?o is UNBOUND
      ("x:6", "p", "lone"),
      ("x:1", "q", "y"), ("x:2", "q", "y"), ("x:3", "q", "y"),
      ("x:4", "q", "y"), ("x:5", "q", "y"))
      .toDF("s", "p", "o")
    // mixed + unbound: ?o is each subject's <p> object; x:7 has none,
    // so its ?o stays unbound through the OPTIONAL
    val q2 =
      """SELECT ?s ?o WHERE { ?s <q> "y" OPTIONAL { ?s <p> ?o } }""" +
        "\nORDER BY ?o ?s"
    val withUnbound = Seq(("x:7", "q", "y")).toDF("s", "p", "o")
      .unionByName(t)
    val got = Sparql.run(withUnbound, q2)
      .select("s").as[String].collect().toSeq
    // unbound (x:7) < blank (x:1) < IRI (x:2) < numeric 2 (x:4) <
    // numeric 10 (x:3) — BY VALUE, not lexicographically — < "apple"
    assert(got === Seq("x:7", "x:1", "x:2", "x:4", "x:3", "x:5"))
    // DESC is the reversed sequence (unbound last)
    val gotDesc = Sparql.run(withUnbound,
      q2.replace("ORDER BY ?o ?s", "ORDER BY DESC(?o) ?s"))
      .select("s").as[String].collect().toSeq
    assert(gotDesc === Seq("x:5", "x:3", "x:4", "x:2", "x:1", "x:7"))
    // encoded execution agrees (ordering happens after decode)
    val dict2 = Dictionary.build(spark, withUnbound)
    val enc2 = Dictionary.encode(withUnbound, dict2)
    assert(Sparql.runEncoded(enc2, dict2, q2)
      .select("s").as[String].collect().toSeq === got)
  }

  test("SPARQL over the encoded id-store ≡ string-space execution") {
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    // the full fragment in one query: UNION + OPTIONAL + regex and numeric
    // FILTERs + DISTINCT + ORDER BY
    val text =
      """SELECT DISTINCT ?s ?n ?extra WHERE {
        |  { ?s <name> ?n . FILTER regex(?n, "^Customer#0000000[12]\\d$")
        |    OPTIONAL { ?s <nation> ?extra . } }
        |  UNION
        |  { ?s <nationkey> ?n . FILTER (?n < 3) }
        |}
        |ORDER BY ?s ?n""".stripMargin
    val viaString = Sparql.run(triples, text)
    val viaIds = Sparql.runEncoded(enc, dict, text)
    assert(viaString.count() > 0)
    assert(viaString.exceptAll(viaIds).count() === 0)
    assert(viaIds.exceptAll(viaString).count() === 0)
  }

  test("XSD constructor casts (17.5): cast errors are unbound, lexical " +
      "gates are exact, string ≡ encoded") {
    val t = Seq(
      ("a", "v", "7"), ("b", "v", "1.5"), ("c", "v", "2e3"),
      ("d", "v", "x9"), ("e", "v", "true"), ("f", "v", "0"),
      ("g", "v", "2024-03-01T12:00:00Z"), ("h", "v", "2024-13-01T12:00:00Z"))
      .toDF("s", "p", "o")
    val text =
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s ?i ?dec ?dbl ?str ?bool ?dt WHERE {
        |  ?s <v> ?o .
        |  BIND (xsd:integer(?o) AS ?i)
        |  BIND (xsd:decimal(?o) AS ?dec)
        |  BIND (xsd:double(?o) AS ?dbl)
        |  BIND (xsd:string(?o) AS ?str)
        |  BIND (xsd:boolean(?o) AS ?bool)
        |  BIND (xsd:dateTime(?o) AS ?dt)
        |} ORDER BY ?s""".stripMargin
    val got = Sparql.run(t, text).collect().map(r =>
      r.getString(0) -> r).toMap
    // "7": integer everywhere; boolean/dateTime error → unbound
    assert(got("a").getLong(1) === 7L && got("a").getDouble(2) === 7.0 &&
      got("a").getDouble(3) === 7.0 && got("a").getString(4) === "7" &&
      got("a").isNullAt(5) && got("a").isNullAt(6))
    // "1.5": NOT an integer (XPath cast error, where SQL CAST would
    // round); decimal and double fine
    assert(got("b").isNullAt(1) && got("b").getDouble(2) === 1.5 &&
      got("b").getDouble(3) === 1.5)
    // "2e3": exponent form — double yes, DECIMAL no (XSD lexical space)
    assert(got("c").isNullAt(1) && got("c").isNullAt(2) &&
      got("c").getDouble(3) === 2000.0)
    // "x9": nothing numeric; xsd:string is the identity on any term
    assert(got("d").isNullAt(1) && got("d").isNullAt(2) &&
      got("d").isNullAt(3) && got("d").getString(4) === "x9")
    // boolean lexical space: true/false/1/0 only
    assert(got("e").getBoolean(5) && !got("f").getBoolean(5) &&
      got("f").getLong(1) === 0L)
    // dateTime: valid shape passes through, month 13 errors
    assert(got("g").getString(6) === "2024-03-01T12:00:00Z" &&
      got("h").isNullAt(6))
    // FILTER position: the cast coerces the comparison numerically
    // ("x9" is a cast error → eliminated, not lexicographically compared)
    assert(Sparql.run(t,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE { ?s <v> ?o . FILTER (xsd:integer(?o) >= 7) }"""
        .stripMargin).as[String].collect().toSet === Set("a"))
    // xsd:boolean as the whole constraint: EBV is the cast itself
    assert(Sparql.run(t,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE { ?s <v> ?o . FILTER (xsd:boolean(?o)) }"""
        .stripMargin).as[String].collect().toSet === Set("e"))
    // encoded execution agrees bit-for-bit
    val dict = Dictionary.build(spark, t)
    val enc = Dictionary.encode(t, dict)
    val viaString = Sparql.run(t, text)
    val viaIds = Sparql.runEncoded(enc, dict, text)
    assert(viaString.exceptAll(viaIds).count() === 0)
    assert(viaIds.exceptAll(viaString).count() === 0)
    // loud gates: unknown constructor, non-XSD IRI call, unknown prefix
    assert(intercept[IllegalArgumentException](Sparql.run(t,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE { ?s <v> ?o . FILTER (xsd:gYear(?o)) }"""
        .stripMargin)).getMessage.contains("unsupported XSD constructor"))
    assert(intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?s WHERE { ?s <v> ?o .
        |  FILTER (<http://example.org/f>(?o)) }""".stripMargin))
      .getMessage.contains("XSD namespace"))
    assert(intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?s WHERE { ?s <v> ?o . FILTER (xsd:integer(?o) > 1) }"""))
      .getMessage.contains("unknown prefix"))
  }

  test("correlated block filters: OPTIONAL pads when no compatible row " +
      "SATISFIES F; EXISTS substitutes outer bindings; MINUS stays loud") {
    val t = Seq(
      ("c1", "nk", "5"), ("c2", "nk", "20"), ("c3", "nk", "30"),
      ("o1", "of", "c1"), ("o2", "of", "c2"))
      .toDF("s", "p", "o")
    // c1 has an order but nk=5 fails the bar → PADS (a pre-filter of the
    // body cannot express this: the body row exists); c2 clears it and
    // matches; c3 clears it but has no order → pads
    val opt =
      """SELECT ?c ?nk ?o WHERE {
        |  ?c <nk> ?nk .
        |  OPTIONAL { ?o <of> ?c . FILTER (?nk >= 10) }
        |} ORDER BY ?c""".stripMargin
    assert(Sparql.run(t, opt).as[(String, String, Option[String])]
      .collect().toSeq === Seq(
      ("c1", "5", None), ("c2", "20", Some("o2")), ("c3", "30", None)))
    // correlated EXISTS: passes only where a block row satisfies F over
    // the MERGED row; NOT EXISTS is its complement
    val ex =
      """SELECT ?c WHERE {
        |  ?c <nk> ?nk .
        |  FILTER EXISTS { ?o <of> ?c . FILTER (?nk >= 10) }
        |}""".stripMargin
    assert(Sparql.run(t, ex).as[String].collect().toSeq === Seq("c2"))
    val nex =
      """SELECT ?c WHERE {
        |  ?c <nk> ?nk .
        |  FILTER NOT EXISTS { ?o <of> ?c . FILTER (?nk >= 10) }
        |} ORDER BY ?c""".stripMargin
    assert(Sparql.run(t, nex).as[String].collect().toSeq ===
      Seq("c1", "c3"))
    // encoded execution agrees bit-for-bit on all three shapes
    val dict = Dictionary.build(spark, t)
    val enc = Dictionary.encode(t, dict)
    for (q <- Seq(opt, ex, nex)) {
      val viaString = Sparql.run(t, q)
      val viaIds = Sparql.runEncoded(enc, dict, q)
      assert(viaString.exceptAll(viaIds).count() === 0, q)
      assert(viaIds.exceptAll(viaString).count() === 0, q)
    }
    // MINUS keeps the loud gate: per spec its group evaluates
    // INDEPENDENTLY, so an outer-referencing filter would see the
    // variable unbound and silently empty the subtrahend
    val boom = intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?c WHERE {
        |  ?c <nk> ?nk .
        |  MINUS { ?o <of> ?c . FILTER (?nk >= 10) }
        |}""".stripMargin))
    assert(boom.getMessage.contains("MINUS"))
    // a filter variable bound NOWHERE is loud, not silently null
    val boom2 = intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?c WHERE {
        |  ?c <nk> ?nk .
        |  OPTIONAL { ?o <of> ?c . FILTER (?ghost >= 10) }
        |}""".stripMargin))
    assert(boom2.getMessage.contains("ghost"))
  }

  test("MINUS-only constants resolve on the encoded path (encoded ≡ string)") {
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    // custkey / orderpriority / 1-URGENT appear ONLY inside the MINUS block:
    // if the encoded path forgot to resolve MINUS constants, the block would
    // be gated to empty and the result would silently be the full superset
    val text =
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  MINUS { ?ord <custkey> ?cust . ?ord <orderpriority> "1-URGENT" . }
        |}""".stripMargin
    val viaString = Sparql.run(triples, text)
    val viaIds = Sparql.runEncoded(enc, dict, text)
    val all = Sparql.run(triples,
      "SELECT ?cust WHERE { ?cust <mktsegment> \"BUILDING\" . }")
    assert(viaString.count() > 0)
    assert(viaString.count() < all.count()) // MINUS removed something
    assert(viaIds.count() === viaString.count())
    assert(viaString.exceptAll(viaIds).count() === 0)
    assert(viaIds.exceptAll(viaString).count() === 0)
  }

  test("filters and optionals apply per union branch") {
    val got = Sparql.run(triples,
      """SELECT ?s ?n ?nat WHERE {
        |  { ?s <name> ?n . FILTER regex(?n, "^Customer#00000001\\d$")
        |    OPTIONAL { ?s <nation> ?nat . } }
        |  UNION
        |  { ?s <nationkey> ?n . FILTER (?n = "3") }
        |}""".stripMargin)
    val branch1 = got.filter($"n".startsWith("Customer#"))
    val branch2 = got.filter($"n" === "3")
    assert(branch1.count() === 10 && branch2.count() > 0)
    assert(branch1.filter($"nat".isNull).count() === 0) // OPTIONAL matched
    assert(branch2.filter($"nat".isNotNull).count() === 0) // padded
    assert(got.count() === branch1.count() + branch2.count())
  }

  test("FILTER boolean connectives: &&, ||, ! with precedence and parens") {
    val base = Sparql.run(triples,
      "SELECT ?c ?s ?nk WHERE { ?c <mktsegment> ?s . ?c <nationkey> ?nk . }")
    val got = Sparql.run(triples,
      """SELECT ?c ?s ?nk WHERE {
        |  ?c <mktsegment> ?s . ?c <nationkey> ?nk .
        |  FILTER (?s = "BUILDING" || ?s = "AUTOMOBILE" && ?nk >= 10)
        |}""".stripMargin)
    // && binds tighter than ||: BUILDING rows keep ALL nationkeys
    val expect = base.filter($"s" === "BUILDING" ||
      ($"s" === "AUTOMOBILE" && $"nk".cast("double") >= 10))
    assert(got.count() === expect.count() && got.count() > 0)
    assert(got.filter($"s" === "BUILDING" && $"nk".cast("double") < 10).count() > 0)
    // parens override precedence
    val parens = Sparql.run(triples,
      """SELECT ?c ?s ?nk WHERE {
        |  ?c <mktsegment> ?s . ?c <nationkey> ?nk .
        |  FILTER ((?s = "BUILDING" || ?s = "AUTOMOBILE") && ?nk >= 10)
        |}""".stripMargin)
    assert(parens.filter($"nk".cast("double") < 10).count() === 0)
    assert(parens.count() > 0 && parens.count() < got.count())
    // ! negates; !(a || b) === !a && !b
    val not = Sparql.run(triples,
      """SELECT ?c ?s WHERE {
        |  ?c <mktsegment> ?s .
        |  FILTER (!(?s = "BUILDING" || ?s = "AUTOMOBILE"))
        |}""".stripMargin)
    assert(not.count() > 0)
    assert(not.filter($"s".isin("BUILDING", "AUTOMOBILE")).count() === 0)
  }

  test("OPTIONAL + !BOUND is the negation idiom: ≡ MINUS on the shared var") {
    val viaBound = Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  OPTIONAL { ?ord <custkey> ?cust . ?ord <orderpriority> "1-URGENT" . }
        |  FILTER (!BOUND(?ord))
        |}""".stripMargin).select("cust")
    val viaMinus = Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  MINUS { ?ord <custkey> ?cust . ?ord <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(viaBound.count() > 0)
    assert(viaBound.exceptAll(viaMinus).count() === 0)
    assert(viaMinus.exceptAll(viaBound).count() === 0)
    // positive BOUND keeps exactly the matched rows
    val pos = Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  OPTIONAL { ?ord <custkey> ?cust . ?ord <orderpriority> "1-URGENT" . }
        |  FILTER (BOUND(?ord))
        |}""".stripMargin)
    val all = Sparql.run(triples,
      "SELECT ?cust WHERE { ?cust <mktsegment> \"BUILDING\" . }")
    assert(pos.select("cust").distinct().count() + viaBound.count() === all.count())
  }

  test("BIND derives arithmetic and CONCAT bindings usable downstream") {
    val got = Sparql.run(triples,
      """SELECT ?c ?nk2 ?tag WHERE {
        |  ?c <nationkey> ?nk .
        |  BIND (?nk * 2 + 1 AS ?nk2)
        |  BIND (CONCAT("n-", ?nk) AS ?tag)
        |  FILTER (?nk2 >= 21)
        |}""".stripMargin)
    assert(got.count() > 0)
    val rows = got.collect()
    rows.foreach { r =>
      val nk2 = r.getDouble(1)
      assert(nk2 >= 21 && (nk2 - 1) % 2 == 0)
      assert(r.getString(2) === "n-" + ((nk2 - 1) / 2).toInt)
    }
    // rebinding an existing variable is an error
    intercept[IllegalArgumentException](
      Sparql.run(triples,
        "SELECT ?c WHERE { ?c <nationkey> ?nk . BIND (?nk + 1 AS ?nk) }")
        .count())
  }

  test("GROUP BY + aggregates + HAVING lower to one hash aggregation") {
    val got = Sparql.run(triples,
      """SELECT ?seg (COUNT(?c) AS ?n) (SUM(?nk) AS ?tot) (MIN(?nm) AS ?first)
        |WHERE {
        |  ?c <mktsegment> ?seg . ?c <nationkey> ?nk . ?c <name> ?nm .
        |}
        |GROUP BY ?seg
        |HAVING (COUNT(?c) > 20)
        |ORDER BY ?seg""".stripMargin)
    val oracle = Triples.build(spark, sf0001)
      .filter($"p" === "mktsegment").select($"s", $"o".as("seg"))
      .join(triples.filter($"p" === "nationkey").select($"s", $"o".as("nk")), "s")
      .join(triples.filter($"p" === "name").select($"s", $"o".as("nm")), "s")
      .groupBy("seg")
      .agg(count("s").as("n"),
        sum($"nk".cast("decimal(27,6)")).cast("double").as("tot"),
        min("nm").as("first"))
      .filter($"n" > 20)
      .orderBy("seg")
    assert(got.columns.toSeq === Seq("seg", "n", "tot", "first"))
    assert(got.count() > 0)
    assert(got.exceptAll(oracle).count() === 0)
    assert(oracle.exceptAll(got).count() === 0)
  }

  test("aggregation edge shapes: global group, COUNT(*), DISTINCT, bare GROUP BY") {
    val global = Sparql.run(triples,
      "SELECT (COUNT(*) AS ?n) WHERE { ?c <mktsegment> ?s . }")
    assert(global.columns.toSeq === Seq("n"))
    assert(global.head().getLong(0) ===
      triples.filter($"p" === "mktsegment").count())
    val cd = Sparql.run(triples,
      "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?c <mktsegment> ?s . }")
    assert(cd.head().getLong(0) === 5)
    // GROUP BY with no aggregates = one row per group
    val bare = Sparql.run(triples,
      "SELECT ?s WHERE { ?c <mktsegment> ?s . } GROUP BY ?s")
    assert(bare.count() === 5 && bare.columns.toSeq === Seq("s"))
    // AVG skips non-numeric bindings, matching TRY_CAST oracles
    val avg = Sparql.run(triples,
      "SELECT (AVG(?nk) AS ?a) WHERE { ?c <nationkey> ?nk . }")
    val nks = triples.filter($"p" === "nationkey")
      .select($"o".cast("double")).as[Double].collect()
    assert(math.abs(avg.head().getDouble(0) - nks.sum / nks.length) < 1e-9)
    // projecting a non-grouped, non-aggregated variable is an error
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?c ?s (COUNT(?x) AS ?n) WHERE { ?c <p> ?s . ?c <q> ?x . } GROUP BY ?s"))
    // SELECT * cannot combine with aggregation
    intercept[IllegalArgumentException](Sparql.parse(
      "SELECT * WHERE { ?c <p> ?s . } GROUP BY ?s"))
    // HAVING over an aggregate not in SELECT computes hidden and drops
    val hidden = Sparql.run(triples,
      """SELECT ?s (COUNT(?c) AS ?n) WHERE { ?c <mktsegment> ?s . }
        |GROUP BY ?s HAVING (SUM(?c) >= 0 || COUNT(?c) > 0)""".stripMargin)
    assert(hidden.columns.toSeq === Seq("s", "n") && hidden.count() === 5)
  }

  test("IN / NOT IN desugar to equality chains with coercion intact") {
    val in = Sparql.run(triples,
      """SELECT ?c ?s WHERE { ?c <mktsegment> ?s .
        |FILTER (?s IN ("BUILDING", "MACHINERY")) }""".stripMargin)
    assert(in.select("s").distinct().as[String].collect().toSet ===
      Set("BUILDING", "MACHINERY"))
    val notIn = Sparql.run(triples,
      """SELECT ?c ?s WHERE { ?c <mktsegment> ?s .
        |FILTER (?s NOT IN ("BUILDING", "MACHINERY")) }""".stripMargin)
    assert(notIn.filter($"s".isin("BUILDING", "MACHINERY")).count() === 0)
    assert(in.count() + notIn.count() ===
      triples.filter($"p" === "mktsegment").count())
    // numeric elements coerce like '=' does: "05" would match 5 numerically
    val num = Sparql.run(triples,
      """SELECT ?c WHERE { ?c <nationkey> ?nk . FILTER (?nk IN (3, 7)) }""")
    val spelled = Sparql.run(triples,
      """SELECT ?c WHERE { ?c <nationkey> ?nk . FILTER (?nk = 3 || ?nk = 7) }""")
    assert(num.count() === spelled.count() && num.count() > 0)
    // empty lists: IN () selects nothing, NOT IN () everything
    assert(Sparql.run(triples,
      "SELECT ?c WHERE { ?c <mktsegment> ?s . FILTER (?s IN ()) }").count() === 0)
    assert(Sparql.run(triples,
      "SELECT ?c WHERE { ?c <mktsegment> ?s . FILTER (?s NOT IN ()) }").count() ===
      triples.filter($"p" === "mktsegment").count())
  }

  test("GROUP_CONCAT concatenates sorted; SAMPLE is the deterministic min") {
    val t = Seq(("s1", "p", "b"), ("s1", "p", "a"), ("s1", "p", "b"),
      ("s2", "p", "z")).toDF("s", "p", "o")
    // default separator is a single space; duplicates kept without DISTINCT
    val plain = Sparql.run(t,
      """SELECT ?s (GROUP_CONCAT(?v) AS ?all) WHERE { ?s <p> ?v . }
        |GROUP BY ?s ORDER BY ?s""".stripMargin)
    assert(plain.as[(String, String)].collect().toSeq ===
      Seq(("s1", "a b b"), ("s2", "z")))
    // DISTINCT + SEPARATOR; SAMPLE picks the group minimum
    val rich = Sparql.run(t,
      """SELECT ?s (GROUP_CONCAT(DISTINCT ?v ; SEPARATOR = "|") AS ?set)
        |       (SAMPLE(?v) AS ?one)
        |WHERE { ?s <p> ?v . } GROUP BY ?s ORDER BY ?s""".stripMargin)
    assert(rich.as[(String, String, String)].collect().toSeq ===
      Seq(("s1", "a|b", "a"), ("s2", "z", "z")))
    // SEPARATOR is GROUP_CONCAT-only
    intercept[IllegalArgumentException](Sparql.parse(
      """SELECT (SUM(?v ; SEPARATOR = ",") AS ?x) WHERE { ?s <p> ?v . }"""))
    // DISTINCT composes with EXPRESSION arguments: the hidden
    // pre-aggregation column materializes the expression and distinctness
    // applies over it (s1's "a"/"b"/"b" all upper-case to one A and one B)
    val exprDistinct = Sparql.run(t,
      """SELECT ?s (GROUP_CONCAT(DISTINCT UCASE(?v) ; SEPARATOR = ",") AS ?set)
        |       (SAMPLE(DISTINCT UCASE(?v)) AS ?one)
        |WHERE { ?s <p> ?v . } GROUP BY ?s ORDER BY ?s""".stripMargin)
    assert(exprDistinct.as[(String, String, String)].collect().toSeq ===
      Seq(("s1", "A,B", "A"), ("s2", "Z", "Z")))
  }

  test("property paths: + and | from text ≡ the Paths closure") {
    val viaText = Sparql.run(triples,
      "SELECT ?src ?dst WHERE { ?src (<nation>|<region>)+ ?dst . }")
    val viaDsl = Paths.predicatePlus(triples, Seq("nation", "region"))
    assert(viaText.count() === viaDsl.count() && viaText.count() > 0)
    assert(viaText.exceptAll(viaDsl).count() === 0)
    // constant subject seeds the closure (frontier starts at c:1)
    val c1 = Sparql.run(triples,
      "SELECT ?dst WHERE { <c:1> (<nation>|<region>)+ ?dst . }")
    assert(c1.count() === 2) // its nation and that nation's region
    // constant object seeds the REVERSED closure; must equal the filtered
    // full closure exactly
    val toR = Sparql.run(triples,
      "SELECT ?src WHERE { ?src (<nation>|<region>)+ <r:1> . }")
    val full = viaDsl.filter(col("dst") === "r:1").select(col("src"))
    assert(toR.count() === full.count() && toR.count() > 0)
    assert(toR.exceptAll(full.withColumnRenamed("src", "src")).count() === 0)
  }

  test("property paths: sequence, star, optional and inverse semantics") {
    val t = Seq(("a", "p", "b"), ("b", "q", "c"), ("c", "q", "d"),
      ("x", "r", "y")).toDF("s", "p", "o")
    def pairs(text: String): Set[(String, String)] =
      Sparql.run(t, text).as[(String, String)].collect().toSet
    // sequence: p then q
    assert(pairs("SELECT ?a ?b WHERE { ?a <p>/<q> ?b . }") === Set("a" -> "c"))
    // zero-or-more: zero-hop pairs every graph term with itself
    val star = pairs("SELECT ?a ?b WHERE { ?a <q>* ?b . }")
    val nodes = Set("a", "b", "c", "d", "x", "y")
    assert(star === nodes.map(n => n -> n) ++ Set("b" -> "c", "c" -> "d", "b" -> "d"))
    // zero-or-one: zero-hop plus single q edges only
    assert(pairs("SELECT ?a ?b WHERE { ?a <q>? ?b . }") ===
      nodes.map(n => n -> n) ++ Set("b" -> "c", "c" -> "d"))
    // inverse flips direction; sequence with inverse composes
    assert(pairs("SELECT ?a ?b WHERE { ?a ^<p> ?b . }") === Set("b" -> "a"))
    assert(pairs("SELECT ?a ?b WHERE { ?a <q>/^<q> ?b . }") ===
      Set("b" -> "b", "c" -> "c"))
    // same-variable endpoints keep only cycles (none here beyond zero-hop)
    val self = Sparql.run(t, "SELECT ?a WHERE { ?a <q>* ?a . }")
    assert(self.as[String].collect().toSet === nodes)
    // alternation is bag-preserving: duplicate predicate branches yield
    // each matching triple once PER branch (no silent IN-collapse dedup)
    val dup = Sparql.run(t, "SELECT ?a ?b WHERE { ?a <p>|<p> ?b . }")
    assert(dup.count() === 2 && dup.distinct().count() === 1)
  }

  test("SELECT expression projections, plain and aggregate-bearing") {
    val t = Seq(("a", "g", "x"), ("a", "nk", "4"), ("b", "g", "x"),
      ("b", "nk", "6"), ("c", "g", "y"), ("c", "nk", "10"))
      .toDF("s", "p", "o")
    // plain scalar projection (BIND-in-SELECT)
    val plain = Sparql.run(t,
      """SELECT ?s (?nk * 10 AS ?x10) WHERE { ?s <nk> ?nk . } ORDER BY ?s""")
    assert(plain.columns.toSeq === Seq("s", "x10"))
    assert(plain.as[(String, Double)].collect().toSeq ===
      Seq(("a", 40.0), ("b", 60.0), ("c", 100.0)))
    // an expression CONTAINING aggregates: ratio of two aggregate values
    val ratio = Sparql.run(t,
      """SELECT ?grp (SUM(?nk) AS ?tot) (SUM(?nk) / COUNT(?nk) AS ?mean)
        |WHERE { ?s <g> ?grp . ?s <nk> ?nk . }
        |GROUP BY ?grp
        |ORDER BY ?grp""".stripMargin)
    assert(ratio.columns.toSeq === Seq("grp", "tot", "mean"))
    assert(ratio.as[(String, Double, Double)].collect().toSeq ===
      Seq(("x", 10.0, 5.0), ("y", 10.0, 10.0)))
    // and an aggregate-bearing projection with NO explicit alias ... AS
    // reuse: group key arithmetic over the aggregated row
    val keyed = Sparql.run(t,
      """SELECT ?grp (COUNT(?s) AS ?n) (COUNT(?s) * 2 AS ?n2)
        |WHERE { ?s <g> ?grp . }
        |GROUP BY ?grp ORDER BY ?grp""".stripMargin)
    assert(keyed.as[(String, Long, Double)].collect().toSeq ===
      Seq(("x", 2L, 4.0), ("y", 1L, 2.0)))
    // rebinding an in-scope variable is a loud error
    intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?nk (?nk + 1 AS ?nk) WHERE { ?s <nk> ?nk . }""").count())
  }

  test("ORDER BY expression keys sort without leaking hidden columns") {
    val t = Seq(("s1", "nk", "12"), ("s2", "nk", "3"), ("s3", "nk", "7"))
      .toDF("s", "p", "o")
    // arithmetic inside DESC(...): numeric sort, hidden key dropped
    val got = Sparql.run(t,
      """SELECT ?s ?v WHERE { ?s <nk> ?v . } ORDER BY DESC(?v * 2)""")
    assert(got.columns.toSeq === Seq("s", "v"))
    assert(got.select("s").as[String].collect().toSeq === Seq("s1", "s3", "s2"))
    // bare bracketed expression ascends; composes with LIMIT
    val lim = Sparql.run(t,
      """SELECT ?s WHERE { ?s <nk> ?v . } ORDER BY (?v + 0) LIMIT 2""")
    assert(lim.as[String].collect().toSeq === Seq("s2", "s3"))
    // builtin-call condition (STRLEN) with a secondary variable key
    val t2 = Seq(("a", "name", "xx"), ("b", "name", "z"), ("c", "name", "yy"))
      .toDF("s", "p", "o")
    val byLen = Sparql.run(t2,
      """SELECT ?s ?n WHERE { ?s <name> ?n . } ORDER BY STRLEN(?n) ?s""")
    assert(byLen.select("s").as[String].collect().toSeq === Seq("b", "a", "c"))
    // under DISTINCT, a key over a non-projected variable is a loud error
    // (it could split equal projected rows)
    intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT DISTINCT ?s WHERE { ?s <nk> ?v . } ORDER BY (?v + 0)""")
      .count())
  }

  test("ORDER BY aggregate expressions sort the aggregated solution") {
    val t = Seq(("s1", "g", "a"), ("s1", "v", "1"),
      ("s2", "g", "a"), ("s2", "v", "2"),
      ("s3", "g", "b"), ("s3", "v", "10"),
      ("s4", "g", "c"), ("s4", "v", "5"), ("s5", "g", "c"), ("s5", "v", "6"))
      .toDF("s", "p", "o")
    // the sort key SUM(?v) is not projected: a=3, b=10, c=11 → c, b, a
    val bySum = Sparql.run(t,
      """SELECT ?grp (COUNT(?s) AS ?n) WHERE {
        |  ?s <g> ?grp . ?s <v> ?v .
        |} GROUP BY ?grp ORDER BY DESC(SUM(?v)) ?grp""".stripMargin)
    assert(bySum.columns.toSeq === Seq("grp", "n"))
    assert(bySum.select("grp").as[String].collect().toSeq ===
      Seq("c", "b", "a"))
    // a SELECTed aggregate referenced by spelling resolves to its alias
    // column — no duplicate aggregate computed
    val byAliased = Sparql.run(t,
      """SELECT ?grp (COUNT(?s) AS ?n) WHERE {
        |  ?s <g> ?grp .
        |} GROUP BY ?grp ORDER BY DESC(COUNT(?s)) ?grp""".stripMargin)
    assert(byAliased.select("grp").as[String].collect().toSeq ===
      Seq("a", "c", "b"))
    // HAVING and ORDER BY sharing the same non-projected aggregate use
    // ONE hidden column; arithmetic around the aggregate works
    val shared = Sparql.run(t,
      """SELECT ?grp WHERE {
        |  ?s <g> ?grp . ?s <v> ?v .
        |} GROUP BY ?grp HAVING (SUM(?v) > 3)
        |ORDER BY (0 - SUM(?v))""".stripMargin)
    assert(shared.as[String].collect().toSeq === Seq("c", "b"))
    // ungrouped aggregate ORDER BY is legal (single-row solution)
    val one = Sparql.run(t,
      """SELECT (COUNT(?s) AS ?n) WHERE { ?s <v> ?v . }
        |ORDER BY DESC(SUM(?v))""".stripMargin)
    assert(one.as[Long].collect().toSeq === Seq(5L))
    // an aggregate order key makes the query aggregated: projecting a
    // bare variable without GROUP BY is then a loud error, not a mis-run
    intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?s WHERE { ?s <v> ?v . } ORDER BY SUM(?v)"""))
  }

  test("VALUES rows with UNDEF are partial bindings") {
    val t = Seq(("s1", "p", "a"), ("s1", "q", "x"), ("s2", "p", "b"),
      ("s2", "q", "y"), ("s3", "p", "a"), ("s3", "q", "z"))
      .toDF("s", "p", "o")
    // (?po ?qo): a fully-bound row restricts both; an UNDEF ?qo row
    // restricts only ?po (any ?qo matches)
    val got = Sparql.run(t,
      """SELECT ?s ?po ?qo WHERE {
        |  ?s <p> ?po . ?s <q> ?qo .
        |  VALUES (?po ?qo) { ("b" "y") ("a" UNDEF) }
        |}
        |ORDER BY ?s""".stripMargin)
      .as[(String, String, String)].collect().toSeq
    assert(got === Seq(("s1", "a", "x"), ("s2", "b", "y"), ("s3", "a", "z")))
    // UNDEF in the single-variable short form: the row matches everything
    val short = Sparql.run(t,
      """SELECT ?s WHERE { ?s <p> ?po . VALUES ?po { "b" UNDEF } }
        |ORDER BY ?s""".stripMargin)
    // bag semantics: "b" matches s2 once, UNDEF matches all three
    assert(short.as[String].collect().toSeq.sorted ===
      Seq("s1", "s2", "s2", "s3"))
    // all-UNDEF rows multiply: 2 unconstraining rows → every solution ×2
    val mult = Sparql.run(t,
      """SELECT ?s WHERE { ?s <q> ?qo . VALUES ?qo { UNDEF UNDEF } }""")
    assert(mult.count() === 6)
  }

  test("GROUP BY expression keys, aliased and hidden") {
    val t = Seq(("a", "nk", "3"), ("b", "nk", "7"), ("c", "nk", "8"),
      ("d", "nk", "12")).toDF("s", "p", "o")
    // aliased key is projectable
    val got = Sparql.run(t,
      """SELECT ?bucket (COUNT(?s) AS ?n) WHERE { ?s <nk> ?v . }
        |GROUP BY (FLOOR(?v / 5) AS ?bucket)
        |ORDER BY ?bucket""".stripMargin)
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(got.toSeq === Seq((0.0, 1L), (1.0, 2L), (2.0, 1L)))
    // an un-aliased expression key groups but never reaches the output
    val hidden = Sparql.run(t,
      """SELECT (COUNT(?s) AS ?n) WHERE { ?s <nk> ?v . }
        |GROUP BY (FLOOR(?v / 5))
        |ORDER BY ?n""".stripMargin)
    assert(hidden.columns.toSeq === Seq("n"))
    assert(hidden.as[Long].collect().toSeq === Seq(1L, 1L, 2L))
    // rebinding a WHERE variable is a loud error
    intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?v (COUNT(?s) AS ?n) WHERE { ?s <nk> ?v . }
        |GROUP BY (FLOOR(?v / 5) AS ?v)""".stripMargin).count())
  }

  test("aggregates take expression arguments (SUM(?a * ?b), HAVING)") {
    val t = Seq(
      ("o1", "cat", "a"), ("o1", "price", "10"), ("o1", "qty", "3"),
      ("o2", "cat", "a"), ("o2", "price", "4"), ("o2", "qty", "5"),
      ("o3", "cat", "b"), ("o3", "price", "2"), ("o3", "qty", "x"))
      .toDF("s", "p", "o")
    val got = Sparql.run(t,
      """SELECT ?cat (SUM(?pr * ?q) AS ?rev) (COUNT(?pr) AS ?n) WHERE {
        |  ?s <cat> ?cat . ?s <price> ?pr . ?s <qty> ?q .
        |}
        |GROUP BY ?cat
        |ORDER BY ?cat""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(2)))
    // a: 10*3 + 4*5 = 50; b: 2 * "x" is a type error → null, SUM of
    // nothing numeric is null, COUNT still sees the bound ?pr
    assert(got.toSeq === Seq(
      ("a", Some(50.0), 2L), ("b", None, 1L)))
    // the same expression in HAVING reuses the projection's aggregate
    val having = Sparql.run(t,
      """SELECT ?cat (SUM(?pr * ?q) AS ?rev) WHERE {
        |  ?s <cat> ?cat . ?s <price> ?pr . ?s <qty> ?q .
        |}
        |GROUP BY ?cat
        |HAVING (SUM(?pr * ?q) > 25)
        |ORDER BY ?cat""".stripMargin)
    assert(having.collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("FILTER inside OPTIONAL restricts the block before the left join") {
    val got = Sparql.run(triples,
      """SELECT ?cust ?ord ?pr WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  OPTIONAL { ?ord <custkey> ?cust . ?ord <orderpriority> ?pr .
        |             FILTER (?pr = "1-URGENT") }
        |}""".stripMargin)
    val custs = Sparql.run(triples,
      """SELECT ?cust WHERE { ?cust <mktsegment> "BUILDING" . }""")
    // every customer survives (left join), extended only by urgent orders
    assert(got.select("cust").distinct().count() === custs.count())
    assert(got.filter($"pr".isNotNull && $"pr" =!= "1-URGENT").count() === 0)
    assert(got.filter($"pr".isNull).count() > 0, "unmatched rows keep nulls")
    assert(got.filter($"pr" === "1-URGENT").count() > 0)
    // ≡ pre-filtering the optional pattern with a constant object
    val viaConst = Sparql.run(triples,
      """SELECT ?cust ?ord WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  OPTIONAL { ?ord <custkey> ?cust . ?ord <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(got.select("cust", "ord").exceptAll(viaConst).count() === 0)
    assert(viaConst.exceptAll(got.select("cust", "ord")).count() === 0)
    // a filter on an OUTER variable runs the LeftJoin-condition
    // semantics (18.5): orders attach only where the outer segment
    // clears the condition — other customers pad even when orders exist
    val corr = Sparql.run(triples,
      """SELECT ?cust ?seg ?ord WHERE {
        |  ?cust <mktsegment> ?seg .
        |  OPTIONAL { ?ord <custkey> ?cust . FILTER (?seg = "BUILDING") }
        |}""".stripMargin)
    assert(corr.filter($"ord".isNotNull && $"seg" =!= "BUILDING")
      .count() === 0, "non-BUILDING rows must pad, not match")
    assert(corr.filter($"ord".isNotNull && $"seg" === "BUILDING").count() > 0)
    assert(corr.filter($"ord".isNull && $"seg" =!= "BUILDING").count() > 0)
  }

  test("CONSTRUCT WHERE shorthand uses the patterns as the template") {
    val full = Sparql.run(triples,
      """CONSTRUCT { ?c <mktsegment> ?s . ?c <nation> ?n . }
        |WHERE { ?c <mktsegment> ?s . ?c <nation> ?n . }""".stripMargin)
    val short = Sparql.run(triples,
      "CONSTRUCT WHERE { ?c <mktsegment> ?s . ?c <nation> ?n . }")
    assert(short.count() === full.count() && short.count() > 0)
    assert(short.exceptAll(full).count() === 0)
    // non-plain members are out of the shorthand's grammar, loudly
    intercept[IllegalArgumentException](Sparql.parse(
      "CONSTRUCT WHERE { ?c <p> ?s . FILTER (?s = \"x\") }"))
  }

  test("property paths inside OPTIONAL left-join their reachability") {
    val t = Seq(("a", "p", "b"), ("b", "p", "c"), ("x", "q", "y"))
      .toDF("s", "p", "o")
    // nodes with q-edges have no p-reachability → null-extended
    val got = Sparql.run(t,
      """SELECT ?s ?far WHERE {
        |  ?s ?e ?o .
        |  OPTIONAL { ?s <p>+ ?far . }
        |}
        |ORDER BY ?s ?far""".stripMargin)
      .as[(String, Option[String])].collect().toSeq
    assert(got === Seq(("a", Some("b")), ("a", Some("c")),
      ("b", Some("c")), ("x", None)))
    // paths compose with patterns and filters inside the same OPTIONAL
    val mixed = Sparql.run(triples,
      """SELECT ?cust ?dst WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  OPTIONAL { ?cust <nation>/<region> ?dst . ?cust <nationkey> ?nk .
        |             FILTER (?nk < 10) }
        |}""".stripMargin)
    assert(mixed.count() > 0)
    assert(mixed.filter($"dst".isNotNull).count() > 0)
    assert(mixed.filter($"dst".isNull).count() > 0)
    // encoded ≡ string for an optional path
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val text =
      """SELECT ?cust ?r WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  OPTIONAL { ?cust <nation>/<region> ?r . }
        |}""".stripMargin
    val viaString = Sparql.run(triples, text)
    val viaIds = Sparql.runEncoded(enc, dict, text)
    assert(viaString.count() > 0)
    assert(viaString.exceptAll(viaIds).count() === 0)
    assert(viaIds.exceptAll(viaString).count() === 0)
    // under GRAPH ?var an optional path now parses and threads ?g (the
    // per-graph behavior is asserted in "property paths inside GRAPH ?var")
    Sparql.parse(
      """SELECT ?c WHERE {
        |  GRAPH ?g { ?c <p> ?s . OPTIONAL { ?c <q>+ ?t . } }
        |}""".stripMargin)
  }

  test("property paths inside MINUS and EXISTS blocks") {
    val t = Seq(("a", "p", "b"), ("b", "p", "c"), ("x", "q", "y"),
      ("a", "tag", "t1"), ("b", "tag", "t2"), ("x", "tag", "t3"),
      ("c", "tag", "t4")).toDF("s", "p", "o")
    // MINUS subtracts subjects whose p+ closure reaches c: a (a→b→c) and
    // b (b→c) go; x (no p-edges) and c (closure is forward-only) stay
    val minus = Sparql.run(t,
      """SELECT ?s WHERE {
        |  ?s <tag> ?v .
        |  MINUS { ?s <p>+ ?far . FILTER (?far = "c") }
        |}
        |ORDER BY ?s""".stripMargin)
    assert(minus.as[String].collect().toSeq === Seq("c", "x"))
    // FILTER EXISTS with the same block is the exact complement
    val exist = Sparql.run(t,
      """SELECT ?s WHERE {
        |  ?s <tag> ?v .
        |  FILTER EXISTS { ?s <p>+ ?far . FILTER (?far = "c") }
        |}
        |ORDER BY ?s""".stripMargin)
    assert(exist.as[String].collect().toSeq === Seq("a", "b"))
    // NOT EXISTS ≡ MINUS for this shared-variable shape
    val notex = Sparql.run(t,
      """SELECT ?s WHERE {
        |  ?s <tag> ?v .
        |  FILTER NOT EXISTS { ?s <p>+ ?far . FILTER (?far = "c") }
        |}
        |ORDER BY ?s""".stripMargin)
    assert(notex.as[String].collect().toSeq === Seq("c", "x"))
    // paths compose with plain patterns inside the MINUS body (joined on
    // the shared block variable before subtraction): only subjects that
    // BOTH reach c and carry tag t1 are subtracted
    val mixed = Sparql.run(t,
      """SELECT ?s WHERE {
        |  ?s <tag> ?v .
        |  MINUS { ?s <p>+ ?far . ?s <tag> "t1" . }
        |}
        |ORDER BY ?s""".stripMargin)
    assert(mixed.as[String].collect().toSeq === Seq("b", "c", "x"))
    // encoded ≡ string for a path inside MINUS (constants in the block
    // resolve through the same one-batch dictionary lookup)
    val dict = Dictionary.build(spark, t)
    val enc = Dictionary.encode(t, dict)
    val text =
      """SELECT ?s WHERE {
        |  ?s <tag> ?v .
        |  MINUS { ?s <p>+ ?far . FILTER (?far = "c") }
        |}""".stripMargin
    val viaIds = Sparql.runEncoded(enc, dict, text)
    assert(viaIds.select("s").as[String].collect().sorted.toSeq ===
      Seq("c", "x"))
    // under GRAPH ?var a MINUS/EXISTS path now parses and threads ?g (the
    // per-graph behavior is asserted in "property paths inside GRAPH ?var")
    Sparql.parse(
      """SELECT ?c WHERE {
        |  GRAPH ?g { ?c <p> ?s . MINUS { ?c <q>+ ?t . } }
        |}""".stripMargin)
    Sparql.parse(
      """SELECT ?c WHERE {
        |  GRAPH ?g { ?c <p> ?s . FILTER EXISTS { ?c <q>+ ?t . } }
        |}""".stripMargin)
    // a MINUS block FILTER referencing an outer-only variable stays a
    // loud correlation error with paths present too
    intercept[IllegalArgumentException](Sparql.run(t,
      """SELECT ?s WHERE {
        |  ?s <tag> ?v .
        |  MINUS { ?s <p>+ ?far . FILTER (?v = "t1") }
        |}""".stripMargin).collect())
  }

  test("nested GRAPH blocks re-scope the active graph") {
    val quads = Seq(
      ("a", "p", "b", "g1"), ("b", "q", "c", "g2"),
      ("x", "p", "y", "g2"), ("y", "q", "z", "g1"),
      ("a", "tag", "t", "")).toDF("s", "p", "o", "g")
    // constant inside constant: the inner block matches in ITS graph,
    // joining the outer slice's bindings on the shared variable
    val cc = Sparql.runQuads(quads,
      """SELECT ?s ?v WHERE {
        |  GRAPH <g1> { ?s <p> ?m . GRAPH <g2> { ?m <q> ?v . } }
        |}""".stripMargin)
    assert(cc.as[(String, String)].collect().toSeq === Seq(("a", "c")))
    // constant inside VARIABLE: the outer anchor binds ?g per graph, the
    // nested block is graph-fixed — only g2's <p> edge chains into g1's
    // <q> edge
    val vc = Sparql.runQuads(quads,
      """SELECT ?g ?s ?v WHERE {
        |  GRAPH ?g { ?s <p> ?m . GRAPH <g1> { ?m <q> ?v . } }
        |} ORDER BY ?g""".stripMargin)
    assert(vc.as[(String, String, String)].collect().toSeq ===
      Seq(("g2", "x", "z")))
    // a body anchored ONLY by nesting leaves ?g unconstrained: it ranges
    // over every named graph (the spec's GRAPH ?g semantics)
    val only = Sparql.runQuads(quads,
      """SELECT ?g ?v WHERE {
        |  GRAPH ?g { GRAPH <g2> { ?x <q> ?v . } }
        |} ORDER BY ?g ?v""".stripMargin)
    assert(only.as[(String, String)].collect().toSeq ===
      Seq(("g1", "c"), ("g2", "c")))
    // variable inside variable: the inner block binds its OWN graph var
    val vv = Sparql.runQuads(quads,
      """SELECT ?g ?h ?s ?v WHERE {
        |  GRAPH ?g { ?s <p> ?m . GRAPH ?h { ?m <q> ?v . } }
        |} ORDER BY ?g ?h""".stripMargin)
    assert(vv.as[(String, String, String, String)].collect().toSeq ===
      Seq(("g1", "g2", "a", "c"), ("g2", "g1", "x", "z")))
    // SAME variable nested: inner and outer must agree — no row here,
    // since no graph chains <p> into <q> within itself
    val same = Sparql.runQuads(quads,
      """SELECT ?g ?s ?v WHERE {
        |  GRAPH ?g { ?s <p> ?m . GRAPH ?g { ?m <q> ?v . } }
        |}""".stripMargin)
    assert(same.count() === 0)
    // a UNION member anchored only by nesting: ITS rows expand over every
    // named graph (?g unconstrained for that branch) while the anchored
    // branch's rows keep their threaded binding
    val unionMix = Sparql.runQuads(quads,
      """SELECT ?g ?s ?x ?v WHERE {
        |  GRAPH ?g { { ?s <tag2> ?t . } UNION { GRAPH <g2> { ?x <q> ?v . } } }
        |} ORDER BY ?g ?s ?x""".stripMargin)
    // no <tag2> triples exist → only the nested branch contributes: its
    // one solution (b q c) × named graphs {g1, g2}
    assert(unionMix.select("g", "x", "v").as[(String, String, String)]
      .collect().toSeq === Seq(("g1", "b", "c"), ("g2", "b", "c")))
    // the graph variable coinciding with an inner TERM variable is the
    // SAME variable: solutions survive only when the term IS a named
    // graph — "b" is not, so zero rows (not ?g="b")
    val coincide = Sparql.runQuads(quads,
      """SELECT ?g ?v WHERE {
        |  GRAPH ?g { GRAPH <g2> { ?g <q> ?v . } }
        |}""".stripMargin)
    assert(coincide.count() === 0)
    // ...and when the term IS a named graph, it binds: add g1 <q> w in g2
    val quads2 = quads.union(Seq(("g1", "q", "w", "g2")).toDF("s", "p", "o", "g"))
    val coincide2 = Sparql.runQuads(quads2,
      """SELECT ?g ?v WHERE {
        |  GRAPH ?g { GRAPH <g2> { ?g <q> ?v . } }
        |}""".stripMargin)
    assert(coincide2.as[(String, String)].collect().toSeq ===
      Seq(("g1", "w")))
  }

  test("property paths inside GRAPH ?var solve per graph") {
    // g1 holds a 2-hop chain a→b→c; g2 holds c→d; the default graph tags a.
    // A pooled (graph-ignoring) closure would derive a→d / b→d — the keyed
    // closure must not.
    val quads = Seq(
      ("a", "p", "b", "g1"), ("b", "p", "c", "g1"),
      ("c", "p", "d", "g2"),
      ("g1", "p", "z", "g1"),
      ("a", "tag", "t1", "")).toDF("s", "p", "o", "g")
    val plus = Sparql.runQuads(quads,
      """SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <p>+ ?y . } }
        |ORDER BY ?g ?x ?y""".stripMargin)
    assert(plus.as[(String, String, String)].collect().toSeq === Seq(
      ("g1", "a", "b"), ("g1", "a", "c"), ("g1", "b", "c"),
      ("g1", "g1", "z"), ("g2", "c", "d")))
    // zero-hop with a constant source matches in EVERY named graph, even
    // one where the constant occurs in no triple (SPARQL 18.4)
    val star = Sparql.runQuads(quads,
      """SELECT ?g ?y WHERE { GRAPH ?g { <a> <p>* ?y . } }
        |ORDER BY ?g ?y""".stripMargin)
    assert(star.as[(String, String)].collect().toSeq === Seq(
      ("g1", "a"), ("g1", "b"), ("g1", "c"), ("g2", "a")))
    // graph variable coinciding with the path source is an equality
    // constraint: only g1's node "g1" satisfies ?g <p> ?y with ?g = g1
    val coincide = Sparql.runQuads(quads,
      """SELECT ?g ?y WHERE { GRAPH ?g { ?g <p> ?y . } }""")
    assert(coincide.as[(String, String)].collect().toSeq === Seq(("g1", "z")))
    // OPTIONAL path inside GRAPH ?var: extension stays in the active graph
    // (b→c extends within g1; c's continuation c→d lives in g2 only, so
    // the g1 row for b→c gets a null, not a cross-graph d)
    val opt = Sparql.runQuads(quads,
      """SELECT ?g ?x ?y ?t WHERE {
        |  GRAPH ?g { ?x <p> ?y . OPTIONAL { ?y <p>+ ?t . } }
        |}
        |ORDER BY ?g ?x ?y ?t""".stripMargin)
    val optRows = opt.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), Option(r.getString(3)))).toSeq
    assert(optRows.contains(("g1", "a", "b", Some("c"))))
    assert(optRows.contains(("g1", "b", "c", None)),
      "OPTIONAL path must not extend across graphs")
    assert(optRows.contains(("g2", "c", "d", None)))
    // MINUS with a path: per-graph subtraction — c reaches d inside g2, so
    // g2's edge is subtracted; nothing in g1 reaches d, so g1 edges stay
    val minus = Sparql.runQuads(quads,
      """SELECT ?g ?x WHERE {
        |  GRAPH ?g { ?x <p> ?y . MINUS { ?x <p>+ ?far . FILTER (?far = "d") } }
        |}
        |ORDER BY ?g ?x""".stripMargin)
    assert(minus.as[(String, String)].collect().toSeq === Seq(
      ("g1", "a"), ("g1", "b"), ("g1", "g1")))
    // FILTER EXISTS is the complement
    val exists = Sparql.runQuads(quads,
      """SELECT ?g ?x WHERE {
        |  GRAPH ?g { ?x <p> ?y .
        |             FILTER EXISTS { ?x <p>+ ?far . FILTER (?far = "d") } }
        |}
        |ORDER BY ?g ?x""".stripMargin)
    assert(exists.as[(String, String)].collect().toSeq === Seq(("g2", "c")))
    // a path-only GRAPH ?var body anchors ?g by itself
    val pathOnly = Sparql.runQuads(quads,
      """SELECT ?g WHERE { GRAPH ?g { <a> <p>+ ?y . } }""")
    assert(pathOnly.select("g").distinct().as[String].collect().toSeq ===
      Seq("g1"))
  }

  test("subqueries under GRAPH ?var correlate by the active graph") {
    val quads = Seq(
      ("a", "p", "b", "g1"), ("a", "p", "c", "g1"), ("x", "p", "y", "g1"),
      ("a", "p", "b", "g2"),
      ("a", "tagged", "t1", "g1"), ("x", "tagged", "t2", "g1"),
      ("a", "tagged", "t3", "g2"),
      ("a", "tag", "d", "")).toDF("s", "p", "o", "g")
    // a global aggregate under GRAPH ?g IS a per-graph aggregate:
    // eval(GRAPH ?g P) runs P once per named graph
    val agg = Sparql.runQuads(quads,
      """SELECT ?g ?n WHERE {
        |  GRAPH ?g { { SELECT (COUNT(?s) AS ?n) WHERE { ?s <p> ?o . } } }
        |} ORDER BY ?g""".stripMargin)
    assert(agg.as[(String, String)].collect().toSeq ===
      Seq(("g1", "3"), ("g2", "1")))
    // the user-visible correlated form: ?g projected and grouped inside
    val aggG = Sparql.runQuads(quads,
      """SELECT ?g ?n WHERE {
        |  GRAPH ?g { { SELECT ?g (COUNT(?s) AS ?n)
        |               WHERE { ?s <p> ?o . } GROUP BY ?g } }
        |} ORDER BY ?g""".stripMargin)
    assert(aggG.as[(String, String)].collect().toSeq ===
      Seq(("g1", "3"), ("g2", "1")))
    // the subquery joins the outer anchor per graph — g1's count lands
    // on g1's tagged subjects, g2's on g2's
    val joined = Sparql.runQuads(quads,
      """SELECT ?g ?s ?n WHERE {
        |  GRAPH ?g { ?s <tagged> ?t .
        |             { SELECT (COUNT(?x) AS ?n) WHERE { ?x <p> ?o . } } }
        |} ORDER BY ?g ?s""".stripMargin)
    assert(joined.as[(String, String, String)].collect().toSeq === Seq(
      ("g1", "a", "3"), ("g1", "x", "3"), ("g2", "a", "1")))
    // a plain (non-aggregating) subquery: binds per graph, joins on the
    // shared variable AND the active graph — x is tagged only in g1, so
    // g2's <p> subjects never pick it up
    val plain = Sparql.runQuads(quads,
      """SELECT ?g ?s WHERE {
        |  GRAPH ?g { ?s <p> ?o .
        |             { SELECT ?s WHERE { ?s <tagged> ?t . } } }
        |} ORDER BY ?g ?s""".stripMargin)
    assert(plain.distinct().orderBy($"g", $"s")
      .as[(String, String)].collect().toSeq ===
      Seq(("g1", "a"), ("g1", "x"), ("g2", "a")))
    // the ENCODED engine agrees on every shape
    val dict = Dictionary.buildQuads(spark, quads)
    val enc = Dictionary.encodeQuads(quads, dict)
    // LIMIT/OFFSET inside apply PER GRAPH (eval(GRAPH ?g P) runs P once
    // per named graph, so the modifiers slice each graph's sequence):
    // g1's three ordered <p> rows slice to rows 2..3, g2's single row
    // is exhausted by the offset — a global limit would keep 2 rows
    // total across graphs instead
    val slicedText =
      """SELECT ?g ?s ?o WHERE {
        |  GRAPH ?g { { SELECT ?s ?o WHERE { ?s <p> ?o . }
        |               ORDER BY ?s ?o LIMIT 2 OFFSET 1 } }
        |} ORDER BY ?g ?s ?o""".stripMargin
    assert(Sparql.runQuads(quads, slicedText)
      .as[(String, String, String)].collect().toSeq ===
      Seq(("g1", "a", "c"), ("g1", "x", "y")))
    // LIMIT-only: each graph contributes ITS first row (a global LIMIT 1
    // would keep one row total)
    val limText =
      """SELECT ?g ?s ?o WHERE {
        |  GRAPH ?g { { SELECT ?s ?o WHERE { ?s <p> ?o . }
        |               ORDER BY ?s ?o LIMIT 1 } }
        |} ORDER BY ?g ?s ?o""".stripMargin
    assert(Sparql.runQuads(quads, limText)
      .as[(String, String, String)].collect().toSeq ===
      Seq(("g1", "a", "b"), ("g2", "a", "b")))
    for (q <- Seq(
      """SELECT ?g ?n WHERE {
        |  GRAPH ?g { { SELECT (COUNT(?s) AS ?n) WHERE { ?s <p> ?o . } } }
        |} ORDER BY ?g""".stripMargin,
      """SELECT ?g ?s ?n WHERE {
        |  GRAPH ?g { ?s <tagged> ?t .
        |             { SELECT (COUNT(?x) AS ?n) WHERE { ?x <p> ?o . } } }
        |} ORDER BY ?g ?s""".stripMargin,
      slicedText, limText)) {
      assert(Sparql.runQuadsEncoded(enc, dict, q).collect().toSeq ===
        Sparql.runQuads(quads, q).collect().toSeq, s"encoded diverged: $q")
    }
    // a subquery alone anchors ?g (no extra triple needed)
    val alone = Sparql.runQuads(quads,
      """SELECT ?g ?s WHERE {
        |  GRAPH ?g { { SELECT ?s WHERE { ?s <tagged> ?t . } } }
        |} ORDER BY ?g ?s""".stripMargin)
    assert(alone.distinct().orderBy($"g", $"s")
      .as[(String, String)].collect().toSeq ===
      Seq(("g1", "a"), ("g1", "x"), ("g2", "a")))
  }

  test("encoded quads engine ≡ string engine across dataset features") {
    val quads = Quads.build(spark, sf0001)
    val dict = Dictionary.buildQuads(spark, quads)
    val enc = Dictionary.encodeQuads(quads, dict)
    def both(text: String): Unit = {
      val viaString = Sparql.runQuads(quads, text)
      val viaIds = Sparql.runQuadsEncoded(enc, dict, text)
      assert(viaString.count() > 0, s"vacuous: $text")
      assert(viaString.exceptAll(viaIds).count() === 0, text)
      assert(viaIds.exceptAll(viaString).count() === 0, text)
    }
    // constant graph with a full body + default-graph pattern outside
    both("""SELECT ?c ?nat ?nn WHERE {
           |  GRAPH <g:customer> { ?c <mktsegment> "BUILDING" .
           |                       ?c <nation> ?nat . }
           |  ?nat <name> ?nn .
           |}""".stripMargin)
    // variable graph: ?g binds per named graph, OPTIONAL stays in-graph
    both("""SELECT ?g ?o ?st ?cn WHERE {
           |  GRAPH ?g { ?o <custkey> ?c . ?o <orderstatus> ?st .
           |             OPTIONAL { ?c <name> ?cn . } }
           |}""".stripMargin)
    // property path inside GRAPH ?var, solved in id space per graph
    both("""SELECT ?g ?src ?nn WHERE {
           |  GRAPH ?g { ?src (<custkey>|<nation>)+ ?dst . }
           |  ?dst <name> ?nn .
           |}""".stripMargin)
    // FROM / FROM NAMED dataset clauses
    both("""SELECT ?g ?cust ?ord FROM <g:customer> FROM NAMED <g:orders>
           |WHERE {
           |  ?cust <mktsegment> "BUILDING" .
           |  GRAPH ?g { ?ord <custkey> ?cust . ?ord <orderstatus> "F" . }
           |}""".stripMargin)
    // aggregation over a GRAPH ?var solve
    both("""SELECT ?g (COUNT(?o) AS ?n) WHERE {
           |  GRAPH ?g { ?o <orderstatus> "F" . }
           |} GROUP BY ?g""".stripMargin)
    // SERVICE federation from the encoded quads engine: the endpoint
    // body solves string-space and joins on decoded bindings
    val ep = Map("graft://names" -> quads
      .filter($"g" === "" && $"p" === "name").select("s", "p", "o"))
    val fedText =
      """SELECT ?c ?nat ?nn WHERE {
        |  GRAPH <g:customer> { ?c <mktsegment> "BUILDING" .
        |                       ?c <nation> ?nat . }
        |  SERVICE <graft://names> { ?nat <name> ?nn . }
        |}""".stripMargin
    val fedS = Sparql.runQuads(quads, fedText, endpoints = ep)
    val fedE = Sparql.runQuadsEncoded(enc, dict, fedText, endpoints = ep)
    assert(fedS.count() > 0 && fedS.exceptAll(fedE).count() === 0 &&
      fedE.exceptAll(fedS).count() === 0)
    // NESTED GRAPH: a var-graph body chaining into a constant-graph block
    both("""SELECT ?g ?ord ?cust ?seg WHERE {
           |  GRAPH ?g { ?ord <custkey> ?cust .
           |             GRAPH <g:customer> { ?cust <mktsegment> ?seg . } }
           |}""".stripMargin)
    // an unknown graph IRI gates to empty on both engines
    val ghost = Sparql.runQuadsEncoded(enc, dict,
      """SELECT ?s WHERE { GRAPH <g:nope> { ?s <custkey> ?c . } }""")
    assert(ghost.count() === 0)
  }

  test("SERVICE solves over registered endpoints and joins set-at-a-time") {
    val local = Seq(("a", "kind", "K"), ("b", "kind", "K"), ("c", "kind", "L"))
      .toDF("s", "p", "o")
    val remote = Seq(("a", "score", "1"), ("c", "score", "2"),
      ("x", "hop", "a"), ("a", "hop", "b")).toDF("s", "p", "o")
    val eps = Map("graft://remote" -> remote)
    // plain join on the shared subject variable
    val joined = Sparql.run(local,
      """SELECT ?s ?v WHERE {
        |  ?s <kind> ?k .
        |  SERVICE <graft://remote> { ?s <score> ?v . }
        |}
        |ORDER BY ?s""".stripMargin, endpoints = eps)
    assert(joined.as[(String, String)].collect().toSeq ===
      Seq(("a", "1"), ("c", "2")))
    // the full group grammar works inside the body: paths, filters
    val withPath = Sparql.run(local,
      """SELECT ?s ?far WHERE {
        |  ?s <kind> "K" .
        |  SERVICE <graft://remote> { ?far <hop>+ ?s . }
        |}
        |ORDER BY ?s ?far""".stripMargin, endpoints = eps)
    assert(withPath.as[(String, String)].collect().toSeq ===
      Seq(("a", "x"), ("b", "a"), ("b", "x")))
    // unregistered endpoint: loud error...
    val boom = intercept[IllegalArgumentException](Sparql.run(local,
      """SELECT ?s WHERE { SERVICE <graft://nope> { ?s <p> ?o . } }""",
      endpoints = eps))
    assert(boom.getMessage.contains("graft://nope"))
    // ...unless SILENT, which degrades to the unit solution
    val silent = Sparql.run(local,
      """SELECT ?s ?v WHERE {
        |  ?s <kind> "L" .
        |  OPTIONAL { ?s <missing> ?v . }
        |  SERVICE SILENT <graft://nope> { ?s <score> ?v2 . }
        |}""".stripMargin, endpoints = eps)
    assert(silent.select("s").as[String].collect().toSeq === Seq("c"))
    // a block whose ONLY member is a SILENT service on an unregistered
    // endpoint degrades to the UNIT solution (one row, no bindings), so
    // an ASK over it answers true
    val unit = Sparql.run(local,
      """ASK WHERE { SERVICE SILENT <graft://nope> { ?s <p> ?o . } }""",
      endpoints = eps)
    assert(unit.as[Boolean].head() === true)
    // SERVICE inside a GRAPH body resolves through the same endpoint map
    // (its dataset is the endpoint's, independent of the active graph)
    val quads = local.withColumn("g", lit("g:k"))
    val inGraph = Sparql.runQuads(quads,
      """SELECT ?g ?s ?v WHERE {
        |  GRAPH ?g { ?s <kind> "K" . }
        |  SERVICE <graft://remote> { ?s <score> ?v . }
        |}
        |ORDER BY ?s""".stripMargin, endpoints = eps)
    assert(inGraph.select("s", "v").as[(String, String)].collect().toSeq ===
      Seq(("a", "1")))
    val nested = Sparql.runQuads(quads,
      """SELECT ?g ?s ?v WHERE {
        |  GRAPH ?g { ?s <kind> "K" .
        |             SERVICE <graft://remote> { ?s <score> ?v . } }
        |}
        |ORDER BY ?s""".stripMargin, endpoints = eps)
    assert(nested.select("s", "v").as[(String, String)].collect().toSeq ===
      Seq(("a", "1")))
    // a DATASET endpoint (quads frame): outside-GRAPH patterns match ITS
    // default graph, GRAPH blocks its named graphs — the spec's "the
    // service's dataset" rule
    val remoteDs = Seq(("a", "score", "9", ""), ("a", "flag", "f1", "gA"),
      ("c", "flag", "f2", "gB")).toDF("s", "p", "o", "g")
    val dsEps = Map("graft://ds" -> remoteDs)
    val viaDs = Sparql.run(local,
      """SELECT ?s ?v ?rg ?f WHERE {
        |  ?s <kind> "K" .
        |  SERVICE <graft://ds> { ?s <score> ?v .
        |                         GRAPH ?rg { ?s <flag> ?f . } }
        |}""".stripMargin, endpoints = dsEps)
    assert(viaDs.select("s", "v", "rg", "f")
      .as[(String, String, String, String)].collect().toSeq ===
      Seq(("a", "9", "gA", "f1")))
    // GRAPH against a TRIPLES endpoint stays a loud error
    intercept[IllegalArgumentException](Sparql.run(local,
      """SELECT ?s WHERE {
        |  ?s <kind> "K" .
        |  SERVICE <graft://remote> { GRAPH ?g { ?s <score> ?v . } }
        |}""".stripMargin, endpoints = eps).collect())
    // a VARIABLE endpoint ranges over the registry, binding ?ep per
    // branch — the federation analog of GRAPH ?var
    val remote2 = Seq(("b", "score", "7")).toDF("s", "p", "o")
    val twoEps = Map("graft://remote" -> remote, "graft://r2" -> remote2)
    val varEp = Sparql.run(local,
      """SELECT ?ep ?s ?v WHERE {
        |  ?s <kind> ?k .
        |  SERVICE ?ep { ?s <score> ?v . }
        |}
        |ORDER BY ?ep ?s""".stripMargin, endpoints = twoEps)
    assert(varEp.as[(String, String, String)].collect().toSeq ===
      Seq(("graft://r2", "b", "7"), ("graft://remote", "a", "1"),
        ("graft://remote", "c", "2")))
    // a body binding the SAME variable filters (SPARQL's same-variable
    // rule): solutions survive only where the term equals the endpoint IRI
    val sameVar = Sparql.run(local,
      """SELECT ?ep WHERE { SERVICE ?ep { ?s <score> ?ep . } }""",
      endpoints = twoEps)
    assert(sameVar.count() === 0)
    // an empty registry cannot give the variable a domain — loud error
    intercept[IllegalArgumentException](Sparql.run(local,
      """SELECT ?s WHERE { SERVICE ?ep { ?s <p> ?o . } }"""))
    // SILENT SERVICE ?ep skips a shape-incompatible registry entry (a
    // GRAPH body against a plain-triples endpoint) instead of aborting
    // the whole union — one bad entry must not kill the federation
    val mixedEps = Map("graft://remote" -> remote, "graft://ds" -> remoteDs)
    val silentVar = Sparql.run(local,
      """SELECT ?ep ?s ?f WHERE {
        |  SERVICE SILENT ?ep { GRAPH ?g { ?s <flag> ?f . } }
        |} ORDER BY ?s""".stripMargin, endpoints = mixedEps)
    assert(silentVar.select("ep", "s", "f")
      .as[(String, String, String)].collect().toSeq ===
      Seq(("graft://ds", "a", "f1"), ("graft://ds", "c", "f2")))
    // without SILENT the incompatible branch stays a loud error
    intercept[IllegalArgumentException](Sparql.run(local,
      """SELECT ?ep ?s WHERE {
        |  SERVICE ?ep { GRAPH ?g { ?s <flag> ?f . } }
        |}""".stripMargin, endpoints = mixedEps).collect())
    // SERVICE federates from the ENCODED engine too: the endpoint body
    // solves in string space (its terms are not in this store's
    // dictionary) and joins on the decoded bindings — encoded ≡ string
    // on every federation shape above
    val dict = Dictionary.build(spark, local)
    val enc = Dictionary.encode(local, dict)
    val fedQ =
      """SELECT ?s ?k ?v WHERE { ?s <kind> ?k .
        |SERVICE <graft://remote> { ?s <score> ?v . } }
        |ORDER BY ?s""".stripMargin
    assert(Sparql.runEncoded(enc, dict, fedQ, endpoints = eps)
      .collect().toSeq ===
      Sparql.run(local, fedQ, endpoints = eps).collect().toSeq)
    val fedVar =
      """SELECT ?ep ?s ?v WHERE {
        |  ?s <kind> ?k .
        |  SERVICE ?ep { ?s <score> ?v . }
        |} ORDER BY ?ep ?s""".stripMargin
    assert(Sparql.runEncoded(enc, dict, fedVar, endpoints = twoEps)
      .collect().toSeq ===
      Sparql.run(local, fedVar, endpoints = twoEps).collect().toSeq)
    // without a registry the error stays loud (unregistered endpoint)
    intercept[IllegalArgumentException](Sparql.runEncoded(enc, dict,
      """SELECT ?s WHERE { ?s <kind> ?k .
        |SERVICE <graft://remote> { ?s <score> ?v . } }""".stripMargin))
  }

  test("FILTERs inside MINUS and EXISTS blocks scope to the block") {
    // MINUS { P FILTER F }: the filter is part of the inner group — only
    // urgent orders' customers are subtracted
    val viaMinus = Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  MINUS { ?ord <custkey> ?cust . ?ord <orderpriority> ?pr .
        |          FILTER (?pr = "1-URGENT") }
        |}""".stripMargin)
    val viaConst = Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  MINUS { ?ord <custkey> ?cust . ?ord <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(viaMinus.count() === viaConst.count() && viaMinus.count() > 0)
    assert(viaMinus.exceptAll(viaConst).count() === 0)
    // FILTER EXISTS { P FILTER F } — same equivalence for the semi join
    val viaExists = Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  FILTER EXISTS { ?ord <custkey> ?cust . ?ord <orderstatus> ?st .
        |                  FILTER (?st = "F") }
        |}""".stripMargin)
    val existsConst = Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  FILTER EXISTS { ?ord <custkey> ?cust . ?ord <orderstatus> "F" . }
        |}""".stripMargin)
    assert(viaExists.count() === existsConst.count() && viaExists.count() > 0)
    assert(viaExists.exceptAll(existsConst).count() === 0)
    // outer-variable references stay loud errors in MINUS (its group
    // evaluates independently — the filter would see ?seg unbound and
    // silently empty the subtrahend)
    intercept[IllegalArgumentException](Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <mktsegment> ?seg .
        |  MINUS { ?ord <custkey> ?cust . FILTER (?seg = "BUILDING") }
        |}""".stripMargin).count())
    // ...but run the errata substitution semantics in [NOT] EXISTS: only
    // customers whose OUTER segment fails the condition (or who have no
    // orders at all) survive the NOT EXISTS
    val nexCorr = Sparql.run(triples,
      """SELECT ?cust ?seg WHERE {
        |  ?cust <mktsegment> ?seg .
        |  FILTER NOT EXISTS { ?ord <custkey> ?cust .
        |                      FILTER (?seg = "BUILDING") }
        |}""".stripMargin)
    assert(nexCorr.count() > 0)
    val withOrders = Sparql.run(triples,
      """SELECT ?cust ?seg WHERE {
        |  ?cust <mktsegment> ?seg .
        |  FILTER EXISTS { ?ord <custkey> ?cust . }
        |}""".stripMargin)
    // no surviving BUILDING customer has any order
    assert(nexCorr.filter($"seg" === "BUILDING")
      .join(withOrders, Seq("cust"), "left_semi").count() === 0)
    // every non-BUILDING customer survives (the condition can't hold)
    assert(nexCorr.filter($"seg" =!= "BUILDING").count() ===
      Sparql.run(triples,
        """SELECT ?cust ?seg WHERE { ?cust <mktsegment> ?seg .
          |  FILTER (?seg != "BUILDING") }""".stripMargin).count())
  }

  test("nested { group } UNION { group } joins the enclosing block on shared vars") {
    // union nested AFTER a pattern: the disjunction restricts ?cust
    val nested = Sparql.run(triples,
      """SELECT ?cust ?seg WHERE {
        |  ?cust <mktsegment> ?seg .
        |  { ?cust <mktsegment> "BUILDING" . } UNION { ?cust <mktsegment> "AUTOMOBILE" . }
        |}""".stripMargin)
    val viaFilter = Sparql.run(triples,
      """SELECT ?cust ?seg WHERE {
        |  ?cust <mktsegment> ?seg .
        |  FILTER (?seg = "BUILDING" || ?seg = "AUTOMOBILE")
        |}""".stripMargin)
    assert(nested.count() === viaFilter.count() && nested.count() > 0)
    assert(nested.exceptAll(viaFilter).count() === 0)
    // branches may bind DIFFERENT variables: unshared ones null-pad and
    // the union piece cross-joins nothing it shouldn't (shared ?cust)
    val mixedVars = Sparql.run(triples,
      """SELECT ?cust ?nat ?ord WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  { ?cust <nation> ?nat . } UNION { ?ord <custkey> ?cust . }
        |}""".stripMargin)
    assert(mixedVars.filter($"nat".isNotNull).count() > 0)
    assert(mixedVars.filter($"ord".isNotNull).count() > 0)
    assert(mixedVars.filter($"nat".isNotNull && $"ord".isNotNull).count() === 0)
    // a filter inside a branch scopes to that branch only (it can only
    // see the branch's own bindings, per SPARQL group scoping)
    val scoped = Sparql.run(triples,
      """SELECT ?cust ?nk WHERE {
        |  ?cust <nationkey> ?nk .
        |  { ?cust <mktsegment> "BUILDING" . ?cust <nationkey> ?bnk .
        |    FILTER (?bnk >= 10) }
        |  UNION { ?cust <mktsegment> "AUTOMOBILE" . }
        |}""".stripMargin)
    val autoLow = Sparql.run(triples,
      """SELECT ?cust WHERE {
        |  ?cust <nationkey> ?nk . ?cust <mktsegment> "AUTOMOBILE" .
        |  FILTER (?nk < 10)
        |}""".stripMargin)
    assert(autoLow.count() > 0)
    assert(scoped.join(autoLow, "cust").count() === autoLow.count(),
      "the branch-scoped filter must not leak onto the other branch")
    // a single nested group is legal, with group-scoped members
    assert(Sparql.run(triples,
      """SELECT ?cust WHERE { { ?cust <mktsegment> "BUILDING" . } }""")
      .count() === viaFilter.filter($"seg" === "BUILDING").count())
    // nested unions work inside GRAPH ?var (threading ?g through branches)
    val quads = Quads.build(spark, sf0001)
    val inGraph = Sparql.runQuads(quads,
      """SELECT ?g ?o WHERE {
        |  GRAPH ?g {
        |    ?o <custkey> ?c .
        |    { ?o <orderpriority> "1-URGENT" . } UNION { ?o <orderstatus> "P" . }
        |  }
        |}""".stripMargin)
    assert(inGraph.count() > 0)
    assert(inGraph.filter($"g" =!= "g:orders").count() === 0)
    // and on the encoded path, with union-only constants resolved
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val txt =
      """SELECT ?cust ?seg WHERE {
        |  ?cust <mktsegment> ?seg .
        |  { ?cust <mktsegment> "BUILDING" . } UNION { ?cust <mktsegment> "AUTOMOBILE" . }
        |}""".stripMargin
    val encRun = Sparql.runEncoded(enc, dict, txt)
    assert(encRun.count() === nested.count())
    assert(encRun.exceptAll(nested).count() === 0)
  }

  test("the `a` verb expands to rdf:type in verb and path positions only") {
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val t = Seq(("alice", rdfType, "Person"), ("acme", rdfType, "Company"),
      ("alice", "works_for", "acme")).toDF("s", "p", "o")
    assert(Sparql.run(t, """SELECT ?s WHERE { ?s a "Person" . }""")
      .as[String].collect().toSeq === Seq("alice"))
    // `a` composes inside property paths (it is a path primary)
    assert(Sparql.run(t, """SELECT ?c WHERE { ?s <works_for>/a ?c . }""")
      .as[String].collect().toSeq === Seq("Company"))
    // and in predicate-object lists
    assert(Sparql.run(t,
      """SELECT ?s WHERE { ?s a "Person" ; <works_for> ?e . }""")
      .as[String].collect().toSeq === Seq("alice"))
    // but never as a subject or object term
    intercept[IllegalArgumentException] {
      Sparql.run(t, "SELECT ?p WHERE { a ?p ?o . }")
    }
  }

  test("negated property sets: forward, inverse and mixed members (§9.1)") {
    val t = Seq(("a", "p", "b"), ("a", "q", "c"), ("b", "r", "a"),
      ("c", "q", "d")).toDF("s", "p", "o")
    def pairs(text: String): Set[(String, String)] =
      Sparql.run(t, text).as[(String, String)].collect().toSet
    // single negated member: every forward edge except p
    assert(pairs("SELECT ?a ?b WHERE { ?a !<p> ?b . }") ===
      Set("a" -> "c", "b" -> "a", "c" -> "d"))
    // set form: everything except p and q
    assert(pairs("SELECT ?a ?b WHERE { ?a !(<p>|<q>) ?b . }") === Set("b" -> "a"))
    // inverse-only: REVERSED edges whose predicate is not q — and NO
    // forward component at all (§9.1 splits the directions)
    assert(pairs("SELECT ?a ?b WHERE { ?a !(^<q>) ?b . }") ===
      Set("b" -> "a", "a" -> "b"))
    // mixed: forward non-p edges ∪ reversed non-r edges
    assert(pairs("SELECT ?a ?b WHERE { ?a !(<p>|^<r>) ?b . }") ===
      Set("a" -> "c", "b" -> "a", "c" -> "d", "c" -> "a", "d" -> "c"))
    // NPS is a path primary: modifiers apply (closure over non-q edges)
    assert(pairs("SELECT ?a ?b WHERE { ?a !<q>+ ?b . }") ===
      Set("a" -> "b", "b" -> "a", "a" -> "a", "b" -> "b"))
    // encoded ≡ string, including an out-of-dictionary negated member
    // (resolves to the sentinel and excludes nothing)
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val text =
      """SELECT ?c ?v WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  ?c !(<name>|<no_such_pred>) ?v .
        |}""".stripMargin
    val viaString = Sparql.run(triples, text)
    val viaIds = Sparql.runEncoded(enc, dict, text)
    assert(viaString.count() > 0)
    assert(viaString.exceptAll(viaIds).count() === 0)
    assert(viaIds.exceptAll(viaString).count() === 0)
  }

  test("property paths run in id space on the encoded store (≡ string)") {
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val text =
      """SELECT ?src ?dst WHERE {
        |  ?src (<nation>|<region>)+ ?dst .
        |  ?src <mktsegment> "BUILDING" .
        |}""".stripMargin
    val viaString = Sparql.run(triples, text)
    val viaIds = Sparql.runEncoded(enc, dict, text)
    assert(viaString.count() > 0)
    assert(viaString.exceptAll(viaIds).count() === 0)
    assert(viaIds.exceptAll(viaString).count() === 0)
    // a path predicate absent from the dictionary → provably empty
    assert(Sparql.runEncoded(enc, dict,
      "SELECT ?a ?b WHERE { ?a <no_such_pred>+ ?b . }").count() === 0)
    // but an UNRESOLVED branch must not empty the resolvable one: only
    // that branch contributes nothing (encoded ≡ string here too)
    val mixed = "SELECT ?a ?b WHERE { ?a (<nation>|<no_such_pred>)+ ?b . }"
    val mixedString = Sparql.run(triples, mixed)
    val mixedIds = Sparql.runEncoded(enc, dict, mixed)
    assert(mixedString.count() > 0)
    assert(mixedIds.count() === mixedString.count())
    assert(mixedIds.exceptAll(mixedString).count() === 0)
  }

  test("zero-length paths match constant endpoints unconditionally (18.4)") {
    // a term occurring in NO triple still matches itself under * and ?
    val ghost = Sparql.run(triples,
      "SELECT ?b WHERE { <no:such:term> <region>* ?b . }")
    assert(ghost.as[String].collect().toSeq === Seq("no:such:term"))
    val ghostOpt = Sparql.run(triples,
      "SELECT ?a WHERE { ?a <region>? <no:such:term> . }")
    assert(ghostOpt.as[String].collect().toSeq === Seq("no:such:term"))
    // an in-graph constant keeps its zero-hop row exactly once plus edges
    val n1 = Sparql.run(triples,
      "SELECT ?b WHERE { <n:1> <region>* ?b . }")
    assert(n1.as[String].collect().toSet ===
      Set("n:1") ++ triples.filter($"s" === "n:1" && $"p" === "region")
        .select("o").as[String].collect().toSet)
    // encoded store: dictionary semantics — an out-of-dictionary endpoint
    // cannot decode, so it is absent (the one documented divergence)
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    assert(Sparql.runEncoded(enc, dict,
      "SELECT ?b WHERE { <no:such:term> <region>* ?b . }").count() === 0)
    assert(Sparql.runEncoded(enc, dict,
      "SELECT ?b WHERE { <n:1> <region>* ?b . }").count() === n1.count())
  }

  test("BIND after OPTIONAL sees the optional variable (COALESCE idiom)") {
    val got = Sparql.run(triples,
      """SELECT ?cust ?tag WHERE {
        |  ?cust <mktsegment> "BUILDING" .
        |  OPTIONAL { ?ord <custkey> ?cust . ?ord <orderstatus> "P" . }
        |  BIND (COALESCE(?ord, "none") AS ?tag)
        |}""".stripMargin)
    assert(got.filter($"tag" === "none").count() > 0)
    assert(got.filter($"tag" =!= "none").count() > 0)
    assert(got.filter($"tag".isNull).count() === 0)
    // a BIND referencing a variable bound nowhere stays a loud error
    val e = intercept[IllegalArgumentException](Sparql.run(triples,
      """SELECT ?c WHERE { ?c <name> ?n . BIND (?ghost AS ?x) }""").count())
    assert(e.getMessage.contains("ghost"))
  }

  test("typed and lang-tagged literals: lexical patterns, numeric filters") {
    // pattern position matches the lexical form
    val typed = Sparql.run(triples,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?c WHERE { ?c <nationkey> "3"^^xsd:integer . }""".stripMargin)
    val plain = Sparql.run(triples,
      "SELECT ?c WHERE { ?c <nationkey> \"3\" . }")
    assert(typed.count() === plain.count() && typed.count() > 0)
    // numeric typed literal in FILTER compares numerically ("2" < "10")
    val range = Sparql.run(triples,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?c ?nk WHERE {
        |  ?c <nationkey> ?nk .
        |  FILTER (?nk >= "10"^^xsd:integer)
        |}""".stripMargin)
    assert(range.count() > 0)
    assert(range.filter($"nk" === "2").count() === 0)
    assert(range.select("nk").as[String].collect().forall(_.toInt >= 10))
    // lang-tagged literals compare by lexical form
    val lang = Sparql.run(triples,
      """SELECT ?c WHERE { ?c <mktsegment> "BUILDING"@en . }""")
    assert(lang.count() === plainSeg("BUILDING"))
    // a non-numeric lexical form under a numeric datatype is rejected
    intercept[IllegalArgumentException](Sparql.parse(
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?c WHERE { ?c <p> ?v . FILTER (?v > "abc"^^xsd:int) }""".stripMargin))
  }

  private def plainSeg(seg: String): Long =
    Sparql.run(triples, s"""SELECT ?c WHERE { ?c <mktsegment> "$seg" . }""").count()

  test("blank nodes join within their group and never reach the projection") {
    // _:o joins the two order patterns exactly like a variable would
    val viaBnode = Sparql.run(triples,
      """SELECT ?cname WHERE {
        |  _:o <custkey> ?cust .
        |  _:o <orderpriority> "1-URGENT" .
        |  ?cust <name> ?cname .
        |}""".stripMargin)
    val viaVar = Sparql.run(triples,
      """SELECT ?cname WHERE {
        |  ?o <custkey> ?cust .
        |  ?o <orderpriority> "1-URGENT" .
        |  ?cust <name> ?cname .
        |}""".stripMargin)
    assert(viaBnode.count() === viaVar.count() && viaBnode.count() > 0)
    // SELECT * excludes the internal blank-node binding
    val star = Sparql.run(triples,
      """SELECT * WHERE { _:o <custkey> ?cust . _:o <orderpriority> "1-URGENT" . }""")
    assert(star.columns.toSeq === Seq("cust"))
    // a label reused across pattern groups is rejected (SPARQL note 10)
    intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?c WHERE {
        |  _:o <custkey> ?c .
        |  OPTIONAL { _:o <orderstatus> "P" . }
        |}""".stripMargin))
  }

  test("FILTER EXISTS / NOT EXISTS semi/anti-join; disjoint ≠ MINUS") {
    val has = Sparql.run(triples,
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  FILTER EXISTS { ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    val hasNot = Sparql.run(triples,
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  FILTER NOT EXISTS { ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    val all = Sparql.run(triples,
      "SELECT ?c WHERE { ?c <mktsegment> \"BUILDING\" . }")
    assert(has.count() > 0 && hasNot.count() > 0)
    assert(has.count() + hasNot.count() === all.count())
    assert(has.intersect(hasNot).count() === 0)
    // EXISTS never duplicates left rows (semi-join, not inner)
    assert(has.count() === has.distinct().count())
    // a variable-DISJOINT NOT EXISTS with any block solution empties the
    // result — where MINUS would keep everything (the spec-mandated
    // difference between the two negations)
    val disjointNE = Sparql.run(triples,
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  FILTER NOT EXISTS { ?x <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(disjointNE.count() === 0)
    val disjointMinus = Sparql.run(triples,
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  MINUS { ?x <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(disjointMinus.count() === all.count())
    // encoded path: EXISTS-only constants resolve ≡ string
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val encd = Sparql.runEncoded(enc, dict,
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  FILTER NOT EXISTS { ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(encd.count() === hasNot.count())
    assert(encd.exceptAll(hasNot).count() === 0)
  }

  test("string/conditional built-ins lower to codegen column functions") {
    val got = Sparql.run(triples,
      """SELECT ?c ?len ?pre ?cls ?co WHERE {
        |  ?c <name> ?nm . ?c <mktsegment> ?seg .
        |  BIND (STRLEN(?nm) AS ?len)
        |  BIND (UCASE(SUBSTR(?seg, 1, 3)) AS ?pre)
        |  BIND (IF(CONTAINS(?seg, "BUILD"), "b", "x") AS ?cls)
        |  BIND (COALESCE(?seg, "none") AS ?co)
        |  FILTER (STRSTARTS(?nm, "Customer#"))
        |  FILTER (STRLEN(?nm) >= 18)
        |}""".stripMargin)
    assert(got.count() > 0)
    got.collect().foreach { r =>
      assert(r.getDouble(1) === 18.0) // Customer#NNNNNNNNN
      assert(r.getString(2).length === 3 &&
        r.getString(2) === r.getString(2).toUpperCase)
      assert(Set("b", "x")(r.getString(3)))
      assert(r.getString(4) === r.getString(4)) // coalesce passthrough
    }
    // hash built-ins match Java references; REPLACE is literal-exact
    val hashed = Sparql.run(triples,
      """SELECT ?c ?h ?h2 ?rep WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  BIND (MD5(?c) AS ?h)
        |  BIND (SHA256(?c) AS ?h2)
        |  BIND (REPLACE(?c, "c:", "cust-") AS ?rep)
        |}""".stripMargin).limit(5).collect()
    assert(hashed.nonEmpty)
    hashed.foreach { r =>
      val c = r.getString(0)
      def hex(alg: String) = java.security.MessageDigest.getInstance(alg)
        .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(1) === hex("MD5"))
      assert(r.getString(2) === hex("SHA-256"))
      assert(r.getString(3) === c.replace("c:", "cust-"))
    }
    // STRBEFORE / STRAFTER spec edges (17.4.3.3/4)
    val sba = Sparql.run(
      Seq(("s1", "p", "abc")).toDF("s", "p", "o"),
      """SELECT ?b1 ?b2 ?b3 ?a1 ?a2 ?a3 WHERE {
        |  ?s <p> ?v .
        |  BIND (STRBEFORE(?v, "b") AS ?b1)
        |  BIND (STRBEFORE(?v, "xyz") AS ?b2)
        |  BIND (STRBEFORE(?v, "") AS ?b3)
        |  BIND (STRAFTER(?v, "b") AS ?a1)
        |  BIND (STRAFTER(?v, "xyz") AS ?a2)
        |  BIND (STRAFTER(?v, "") AS ?a3)
        |}""".stripMargin).collect().head
    assert((0 until 6).map(sba.getString) ===
      Seq("a", "", "", "c", "", "abc"))
    // LCASE / STRENDS / ABS / STR
    val more = Sparql.run(triples,
      """SELECT ?c ?lc ?a WHERE {
        |  ?c <mktsegment> ?seg . ?c <nationkey> ?nk .
        |  BIND (LCASE(?seg) AS ?lc)
        |  BIND (ABS(?nk - 10) AS ?a)
        |  FILTER (STRENDS(?seg, "ING"))
        |}""".stripMargin)
    assert(more.count() > 0)
    more.collect().foreach { r =>
      assert(r.getString(1) === r.getString(1).toLowerCase)
      assert(r.getDouble(2) >= 0)
    }
    // unknown arity fails loudly
    intercept[IllegalArgumentException](
      Sparql.run(triples,
        "SELECT ?c WHERE { ?c <name> ?n . BIND (STRLEN(?n, ?n) AS ?x) }")
        .count())
  }

  test("subqueries evaluate independently and join on projected variables") {
    // aggregate-then-join: each customer with its segment's population
    val got = Sparql.run(triples,
      """SELECT ?c ?n WHERE {
        |  ?c <mktsegment> ?seg .
        |  { SELECT ?seg (COUNT(?x) AS ?n) WHERE { ?x <mktsegment> ?seg . }
        |    GROUP BY ?seg }
        |}""".stripMargin)
    val segCounts = triples.filter($"p" === "mktsegment")
      .groupBy($"o").count()
      .as[(String, Long)].collect().toMap
    val rows = Sparql.run(triples,
      "SELECT ?c ?seg WHERE { ?c <mktsegment> ?seg . }")
      .as[(String, String)].collect()
    assert(got.count() === rows.length)
    val gotMap = got.as[(String, Long)].collect().toMap
    rows.foreach { case (c, seg) => assert(gotMap(c) === segCounts(seg)) }
    // subquery LIMIT applies inside the subquery, before the join
    val limited = Sparql.run(triples,
      """SELECT ?c ?seg WHERE {
        |  ?c <mktsegment> ?seg .
        |  { SELECT ?seg WHERE { ?x <mktsegment> ?seg . } ORDER BY ?seg LIMIT 1 }
        |}""".stripMargin)
    assert(limited.select("seg").distinct().count() === 1)
    assert(limited.select("seg").as[String].head() === segCounts.keys.min)
    // a subquery-only group works on the encoded path too (constants
    // inside the subquery resolve in the shared batch)
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val sq =
      """SELECT ?c ?n WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  { SELECT (COUNT(?o) AS ?n) WHERE { ?o <orderpriority> "1-URGENT" . } }
        |}""".stripMargin
    val viaString = Sparql.run(triples, sq)
    val viaIds = Sparql.runEncoded(enc, dict, sq)
    assert(viaString.count() > 0)
    assert(viaString.exceptAll(viaIds).count() === 0)
    assert(viaIds.exceptAll(viaString).count() === 0)
    // non-SELECT braced groups inside a block are nested group members
    assert(Sparql.parse("SELECT ?c WHERE { ?c <p> ?s . { ?c <q> ?t . } }")
      .branches.head.unions.size === 1)
  }

  test("GRAPH blocks scope patterns to named graphs; default stays outside") {
    val quads = Quads.build(spark, sf0001)
    // constant graph = that graph's slice only
    val cust = Sparql.runQuads(quads,
      """SELECT ?c WHERE { GRAPH <g:customer> { ?c <mktsegment> "BUILDING" . } }""")
    val viaTriples = Sparql.run(triples,
      "SELECT ?c WHERE { ?c <mktsegment> \"BUILDING\" . }")
    assert(cust.count() === viaTriples.count() && cust.count() > 0)
    // the same pattern outside GRAPH sees only the default graph → empty
    // (customer triples live in g:customer)
    assert(Sparql.runQuads(quads,
      "SELECT ?c WHERE { ?c <mktsegment> \"BUILDING\" . }").count() === 0)
    // a default-graph pattern works outside GRAPH
    assert(Sparql.runQuads(quads,
      "SELECT ?n ?r WHERE { ?n <region> ?r . }").count() ===
      triples.filter($"p" === "region").count())
    // GRAPH ?g binds the graph and joins the block's patterns on it
    val bound = Sparql.runQuads(quads,
      """SELECT DISTINCT ?g WHERE {
        |  GRAPH ?g { ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" . }
        |}""".stripMargin)
    assert(bound.as[String].collect().toSeq === Seq("g:orders"))
    // GRAPH over a plain triples run is a loud error, not a silent miss
    intercept[IllegalArgumentException](Sparql.run(triples,
      "SELECT ?c WHERE { GRAPH ?g { ?c <mktsegment> ?s . } }").count())
    // a CONSTANT graph takes a full group body: OPTIONAL + FILTER + BIND
    // solve inside that graph's slice
    val rich = Sparql.runQuads(quads,
      """SELECT ?c ?nk ?tag WHERE {
        |  GRAPH <g:customer> {
        |    ?c <nationkey> ?nk .
        |    OPTIONAL { ?c <mktsegment> "BUILDING" . ?c <name> ?bn . }
        |    FILTER (?nk < 5)
        |    BIND (COALESCE(?bn, "other") AS ?tag)
        |  }
        |}""".stripMargin)
    val expect = Sparql.run(triples,
      """SELECT ?c ?nk ?tag WHERE {
        |  ?c <nationkey> ?nk .
        |  OPTIONAL { ?c <mktsegment> "BUILDING" . ?c <name> ?bn . }
        |  FILTER (?nk < 5)
        |  BIND (COALESCE(?bn, "other") AS ?tag)
        |}""".stripMargin)
    assert(rich.count() === expect.count() && rich.count() > 0)
    assert(rich.filter($"tag" =!= "other").count() > 0)
    assert(rich.exceptAll(expect).count() === 0)
    // a VARIABLE graph takes a full group body too — and OPTIONAL obeys
    // the same-active-graph rule: orders' <name> triples live in
    // g:customer, so inside GRAPH ?g (bound to g:orders) they never match
    val varRich = Sparql.runQuads(quads,
      """SELECT ?g ?o ?st ?cn WHERE {
        |  GRAPH ?g {
        |    ?o <custkey> ?c .
        |    ?o <orderstatus> ?st .
        |    OPTIONAL { ?c <name> ?cn . }
        |    FILTER (?st = "F")
        |  }
        |}""".stripMargin)
    assert(varRich.count() > 0)
    assert(varRich.filter($"g" =!= "g:orders").count() === 0)
    assert(varRich.filter($"cn".isNotNull).count() === 0,
      "OPTIONAL must not match across graphs")
    // the same OPTIONAL under a CONSTANT customer graph would match: the
    // cross-graph absence above is the graph scoping, not a data artifact
    assert(Sparql.runQuads(quads,
      """SELECT ?c ?cn WHERE {
        |  GRAPH <g:customer> { ?c <nationkey> ?nk . OPTIONAL { ?c <name> ?cn . } }
        |}""".stripMargin).filter($"cn".isNotNull).count() > 0)
    // MINUS inside GRAPH ?g subtracts within the bound graph
    val minusIn = Sparql.runQuads(quads,
      """SELECT ?g ?o WHERE {
        |  GRAPH ?g {
        |    ?o <orderstatus> "F" .
        |    MINUS { ?o <orderpriority> "1-URGENT" . }
        |  }
        |}""".stripMargin)
    val fOrders = Sparql.runQuads(quads,
      """SELECT ?o WHERE { GRAPH <g:orders> { ?o <orderstatus> "F" .
        |  MINUS { ?o <orderpriority> "1-URGENT" . } } }""".stripMargin)
    assert(minusIn.count() === fOrders.count() && minusIn.count() > 0)
    // paths and subqueries inside GRAPH ?var parse (behavior tested in
    // "property paths inside GRAPH ?var" / "subqueries under GRAPH ?var")
    Sparql.parse(
      """SELECT ?c WHERE {
        |  GRAPH ?g { ?c <p>+ ?s . }
        |}""".stripMargin)
    Sparql.parse(
      """SELECT ?c WHERE {
        |  GRAPH ?g { { SELECT ?c WHERE { ?c <p> ?s . } } ?c <q> ?t . }
        |}""".stripMargin)
    // nested GRAPH parses (behavior tested in "nested GRAPH blocks
    // re-scope the active graph")
    Sparql.parse(
      """SELECT ?c WHERE {
        |  GRAPH <g:a> { ?c <p> ?s . GRAPH <g:b> { ?c <q> ?t . } }
        |}""".stripMargin)
  }

  test("FROM / FROM NAMED define the dataset exactly (13.2)") {
    val quads = Quads.build(spark, sf0001)
    // FROM <g:customer>: customer triples become the DEFAULT graph, so a
    // pattern outside GRAPH now matches them
    val viaFrom = Sparql.runQuads(quads,
      """SELECT ?c FROM <g:customer> WHERE { ?c <mktsegment> "BUILDING" . }""")
    val expect = Sparql.run(triples,
      """SELECT ?c WHERE { ?c <mktsegment> "BUILDING" . }""")
    assert(viaFrom.count() === expect.count() && viaFrom.count() > 0)
    // the merge of two graphs is their set union
    val merged = Sparql.runQuads(quads,
      """SELECT ?s ?o FROM <g:customer> FROM <g:orders>
        |WHERE { ?s <custkey> ?o . }""".stripMargin)
    assert(merged.count() === triples.filter($"p" === "custkey").count())
    // FROM only ⇒ the named-graph set is EMPTY: GRAPH matches nothing
    assert(Sparql.runQuads(quads,
      """SELECT ?c FROM <g:customer>
        |WHERE { GRAPH ?g { ?c <mktsegment> ?s . } }""".stripMargin)
      .count() === 0)
    // FROM NAMED only ⇒ empty default graph, GRAPH ranges over the set
    val named = Sparql.runQuads(quads,
      """SELECT ?g ?c FROM NAMED <g:customer>
        |WHERE { GRAPH ?g { ?c <mktsegment> "BUILDING" . } }""".stripMargin)
    assert(named.count() === expect.count())
    assert(Sparql.runQuads(quads,
      """SELECT ?n FROM NAMED <g:customer>
        |WHERE { ?n <region> ?r . }""".stripMargin).count() === 0,
      "FROM NAMED only leaves the default graph empty")
    // a constant GRAPH outside the FROM NAMED set matches nothing
    assert(Sparql.runQuads(quads,
      """SELECT ?o FROM NAMED <g:customer>
        |WHERE { GRAPH <g:orders> { ?o <orderstatus> ?s . } }""".stripMargin)
      .count() === 0)
    // dataset clauses over a plain triples run are a loud error
    intercept[IllegalArgumentException](Sparql.run(triples,
      """SELECT ?c FROM <g:x> WHERE { ?c <p> ?o . }"""))
    // and over the encoded run too (it has no dataset axis either)
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    intercept[IllegalArgumentException](Sparql.runEncoded(enc, dict,
      """SELECT ?c FROM NAMED <g:x> WHERE { ?c <p> ?o . }"""))
  }

  test("DESCRIBE returns the subgraph about named IRIs and bound variables") {
    // direct IRI: its outgoing triples
    val n1 = Sparql.run(triples, "DESCRIBE <n:1>")
    assert(n1.columns.toSeq === Seq("s", "p", "o"))
    assert(n1.count() === triples.filter($"s" === "n:1").count())
    // bound variable: triples of every matching subject
    val got = Sparql.run(triples,
      """DESCRIBE ?c WHERE { ?c <mktsegment> "BUILDING" . }""")
    val custs = triples.filter($"p" === "mktsegment" && $"o" === "BUILDING")
      .select($"s")
    val expect = triples.join(custs, Seq("s"), "left_semi")
    assert(got.count() === expect.count() && got.count() > 0)
    assert(got.exceptAll(expect).count() === 0)
    // mixed form unions both, deduped; unbound DESCRIBE var is an error
    val mixed = Sparql.run(triples,
      """DESCRIBE <n:1> ?c WHERE { ?c <mktsegment> "BUILDING" . }""")
    assert(mixed.count() === got.count() + n1.count())
    intercept[IllegalArgumentException](Sparql.run(triples,
      "DESCRIBE ?nope WHERE { ?c <mktsegment> \"BUILDING\" . }").count())
    // DESCRIBE works over the encoded store too
    val dict = Dictionary.build(spark, triples)
    val enc = Dictionary.encode(triples, dict)
    val encd = Sparql.runEncoded(enc, dict,
      """DESCRIBE ?c WHERE { ?c <mktsegment> "BUILDING" . }""")
    assert(encd.count() === got.count())
    assert(encd.exceptAll(got).count() === 0)
  }

  test("UNION branch leaving a shared variable unbound keeps its solutions") {
    // SPARQL compatibility: a branch that does not bind ?x is compatible
    // with any ?x from the rest of the block — the join must distribute
    // over the branches, not inner-join a null-padded column
    val t = Seq(
      ("s1", "p", "a"), ("s2", "p", "b"), ("s3", "p", "z"),
      ("s1", "q", "a"), ("s3", "q", "w"),
      ("s2", "r", "c")).toDF("s", "p", "o")
    val got = Sparql.run(t,
      """SELECT ?s ?x ?y WHERE {
        |  ?s <p> ?x .
        |  { ?s <q> ?x . } UNION { ?s <r> ?y . }
        |}""".stripMargin)
    val rows = got.collect().map(r =>
      (r.getString(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
    // s1: branch 1 agrees on ?x=a. s2: branch 2 binds only ?y, joins on ?s
    // alone, ?x comes from the enclosing pattern (previously dropped).
    // s3: branch 1 disagrees on ?x (z vs w) and branch 2 has no row.
    assert(rows === Set(
      ("s1", Some("a"), None), ("s2", Some("b"), Some("c"))))
    // union-first order (no preceding piece) works the same
    val reversed = Sparql.run(t,
      """SELECT ?s ?x ?y WHERE {
        |  { ?s <q> ?x . } UNION { ?s <r> ?y . }
        |  ?s <p> ?x .
        |}""".stripMargin)
    assert(reversed.collect().map(r =>
      (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
      .toSet === rows)
    // two union members in one block: alternatives multiply (join
    // distributes over both), still compatibility-exact
    val two = Sparql.run(t,
      """SELECT ?s ?x ?y WHERE {
        |  ?s <p> ?x .
        |  { ?s <q> ?x . } UNION { ?s <r> ?y . }
        |  { ?s <p> ?x . } UNION { ?s <q> ?x . }
        |}""".stripMargin)
    assert(two.collect().map(r =>
      (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
      .toSet === Set(("s1", Some("a"), None), ("s1", Some("a"), None),
        ("s2", Some("b"), Some("c"))))
    // OPTIONAL joining a union-padded variable runs the compatibility
    // LeftJoin: the y-unbound row is compatible with the body's row and
    // TAKES its ?y (18.2.2.4's merge), the y-bound row equi-joins
    val t4 = t.unionByName(Seq(("c", "t", "zz")).toDF("s", "p", "o"))
    val opt = Sparql.run(t4,
      """SELECT ?s ?x ?y ?z WHERE {
        |  ?s <p> ?x .
        |  { ?s <q> ?x . } UNION { ?s <r> ?y . }
        |  OPTIONAL { ?y <t> ?z . }
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(opt === Set(
      ("s1", "a", Some("c"), Some("zz")), // unbound ?y adopts the body's
      ("s2", "b", Some("c"), Some("zz"))))
    // …and when the OPTIONAL body matches nothing, rows pad as usual
    val optEmpty = Sparql.run(t,
      """SELECT ?s ?x ?y ?z WHERE {
        |  ?s <p> ?x .
        |  { ?s <q> ?x . } UNION { ?s <r> ?y . }
        |  OPTIONAL { ?y <t> ?z . }
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(optEmpty === Set(
      ("s1", "a", None, None), ("s2", "b", Some("c"), None)))
    // MINUS on an OPTIONAL-bound variable: the y-unbound row still
    // shares a bound ?s with the block row — dom intersection {?s} is
    // non-empty, so it IS removed (8.3.3); bound-?y rows subtract on
    // (?s, ?y) and survive here
    val minus = Sparql.run(t,
      """SELECT ?s ?x ?y WHERE {
        |  ?s <p> ?x .
        |  OPTIONAL { ?s <q> ?y . }
        |  MINUS { ?s <r> ?y . }
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(minus === Set(
      ("s1", "a", Some("a")), ("s3", "z", Some("w"))))
    // EXISTS on an OPTIONAL-bound variable: the y-unbound row is
    // compatible with the block row through its bound ?s — it PASSES
    // EXISTS (and is the only one that does; bound rows disagree on ?y)
    def existsQ(not: String) = Sparql.run(t,
      s"""SELECT ?s ?x ?y WHERE {
         |  ?s <p> ?x .
         |  OPTIONAL { ?s <q> ?y . }
         |  FILTER $not EXISTS { ?s <r> ?y . }
         |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(existsQ("") === Set(("s2", "b", None)))
    assert(existsQ("NOT") === Set(
      ("s1", "a", Some("a")), ("s3", "z", Some("w"))))
  }

  test("aggregates inside built-in calls and DISTINCT numeric aggregates") {
    val t = Seq(("s1", "v", "1"), ("s1", "v", "2"), ("s1", "v", "2"),
      ("s2", "v", "3")).toDF("s", "p", "o")
    // SUM/AVG(DISTINCT ?v) — previously a bare MatchError
    val d = Sparql.run(t,
      """SELECT ?s (SUM(DISTINCT ?o) AS ?sd) (AVG(DISTINCT ?o) AS ?ad)
        |WHERE { ?s <v> ?o . } GROUP BY ?s ORDER BY ?s""".stripMargin)
    val by = d.collect().map(r =>
      r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(by === Map("s1" -> ((3.0, 1.5)), "s2" -> ((3.0, 3.0))))
    // an aggregate nested in a built-in call marks the query aggregated
    // (previously mis-diagnosed as "only valid in SELECT (… AS ?v)")
    val coal = Sparql.run(t,
      """SELECT (COALESCE(SUM(?none), 0) AS ?v) WHERE {
        |  ?s <v> ?o . OPTIONAL { ?s <w> ?none . }
        |}""".stripMargin)
    assert(coal.collect().map(_.getDouble(0)).toSeq === Seq(0.0))
    val iffed = Sparql.run(t,
      """SELECT (IF(COUNT(?o) > 3, "big", "small") AS ?c) WHERE {
        |  ?s <v> ?o .
        |}""".stripMargin)
    assert(iffed.collect().map(_.getString(0)).toSeq === Seq("big"))
  }

  test("term introspection: LANG, LANGMATCHES, DATATYPE, node kinds, constructors") {
    val xsdInt = "http://www.w3.org/2001/XMLSchema#integer"
    val t = Seq(
      ("<s1>", "p", "\"chat\"@en"),
      ("<s1>", "p", "\"chatter\"@en-US"),
      ("<s2>", "p", "\"plain\""),
      ("<s2>", "p", "<http://ex/iri>"),
      ("<s3>", "p", s""""5"^^<$xsdInt>"""),
      ("<s3>", "p", "_:b0"),
      ("<s4>", "p", "bare"),
      // a bare plain-lexical payload that merely ENDS in @word is a plain
      // literal (LANG = ""), not a tagged one — only quoted term strings
      // carry tags
      ("<s4>", "p", "user@example")).toDF("s", "p", "o")
    def os(q: String): Set[String] =
      Sparql.run(t, q).select("o").as[String].collect().toSet
    // LANG = "" for untagged literals (quoted, typed, or plain-lexical);
    // IRIs and blanks are a type error → row eliminated
    assert(os("""SELECT ?o WHERE { ?s <p> ?o . FILTER (LANG(?o) = "") }""")
      === Set("\"plain\"", s""""5"^^<$xsdInt>""", "bare", "user@example"))
    // LANGMATCHES: subtag-boundary prefix, case-insensitive; "*" = tagged
    assert(os("""SELECT ?o WHERE { ?s <p> ?o . FILTER (LANGMATCHES(LANG(?o), "EN")) }""")
      === Set("\"chat\"@en", "\"chatter\"@en-US"))
    assert(os("""SELECT ?o WHERE { ?s <p> ?o . FILTER (LANGMATCHES(LANG(?o), "*")) }""")
      === Set("\"chat\"@en", "\"chatter\"@en-US"))
    // DATATYPE: declared IRI / rdf:langString / xsd:string
    assert(os(s"""SELECT ?o WHERE { ?s <p> ?o . FILTER (DATATYPE(?o) = "$xsdInt") }""")
      === Set(s""""5"^^<$xsdInt>"""))
    assert(os("""SELECT ?o WHERE { ?s <p> ?o .
      | FILTER (DATATYPE(?o) = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString") }""".stripMargin)
      === Set("\"chat\"@en", "\"chatter\"@en-US"))
    // node kinds and isNumeric
    assert(os("""SELECT ?o WHERE { ?s <p> ?o . FILTER (ISIRI(?o)) }""")
      === Set("<http://ex/iri>"))
    assert(os("""SELECT ?o WHERE { ?s <p> ?o . FILTER (ISBLANK(?o)) }""")
      === Set("_:b0"))
    assert(os("""SELECT ?o WHERE { ?s <p> ?o . FILTER (ISNUMERIC(?o)) }""")
      === Set(s""""5"^^<$xsdInt>"""))
    assert(!os("""SELECT ?o WHERE { ?s <p> ?o . FILTER (ISLITERAL(?o)) }""")
      .exists(o => o.startsWith("<") || o.startsWith("_:")))
    // STR strips markup on every node kind
    val strs = Sparql.run(t,
      """SELECT ?v WHERE { ?s <p> ?o . BIND (STR(?o) AS ?v) }""")
      .select("v").as[String].collect().toSet
    assert(strs === Set("chat", "chatter", "plain", "http://ex/iri", "5",
      "_:b0", "bare", "user@example"))
    // constructors round-trip through the introspectors
    val built = Sparql.run(t,
      """SELECT ?s ?tl ?td ?ti WHERE {
        |  ?s <p> "bare" .
        |  BIND (STRLANG("x", "en-GB") AS ?tl)
        |  BIND (STRDT("7", "http://www.w3.org/2001/XMLSchema#integer") AS ?td)
        |  BIND (IRI("http://ex/new") AS ?ti)
        |  FILTER (LANGMATCHES(LANG(?tl), "en") && ISNUMERIC(?td) && ISIRI(?ti))
        |}""".stripMargin)
    assert(built.count() === 1)
    // BNODE is deterministic per argument and a blank node
    val bn = Sparql.run(t,
      """SELECT ?b WHERE { ?s <p> "bare" . BIND (BNODE(?s) AS ?b) .
        | FILTER (ISBLANK(?b)) }""".stripMargin)
      .select("b").as[String].collect()
    assert(bn.length === 1 && bn.head.startsWith("_:b"))
  }

  test("dateTime accessors: YEAR..SECONDS, TZ; errors eliminate rows") {
    val xsdDt = "http://www.w3.org/2001/XMLSchema#dateTime"
    val t = Seq(
      ("<e1>", "at", s""""2024-03-05T10:30:45"^^<$xsdDt>"""),
      ("<e2>", "at", s""""1999-12-31T23:59:59.5Z"^^<$xsdDt>"""),
      ("<e3>", "at", s""""2001-07-04T08:15:00+05:30"^^<$xsdDt>"""),
      ("<e4>", "at", "2024-03-05T10:30:45"), // plain-lexical degrade
      ("<e5>", "at", "\"not a date\"")).toDF("s", "p", "o")
    val fields = Sparql.run(t,
      """SELECT ?s ?y ?mo ?d ?h ?mi ?sec ?z WHERE {
        |  ?s <at> ?t .
        |  BIND (YEAR(?t) AS ?y)    BIND (MONTH(?t) AS ?mo)
        |  BIND (DAY(?t) AS ?d)     BIND (HOURS(?t) AS ?h)
        |  BIND (MINUTES(?t) AS ?mi) BIND (SECONDS(?t) AS ?sec)
        |  BIND (TZ(?t) AS ?z)
        |} ORDER BY ?s""".stripMargin).collect()
    assert(fields.length === 5)
    val byS = fields.map(r => r.getString(0) ->
      (1 to 6).map(i => if (r.isNullAt(i)) null else r.getDouble(i))).toMap
    assert(byS("<e1>") === Seq(2024.0, 3.0, 5.0, 10.0, 30.0, 45.0))
    assert(byS("<e2>") === Seq(1999.0, 12.0, 31.0, 23.0, 59.0, 59.5))
    assert(byS("<e3>") === Seq(2001.0, 7.0, 4.0, 8.0, 15.0, 0.0))
    assert(byS("<e4>") === Seq(2024.0, 3.0, 5.0, 10.0, 30.0, 45.0))
    // invalid lexical form: every accessor errors → unbound (null)
    assert(byS("<e5>") === Seq(null, null, null, null, null, null))
    val tzs = fields.map(r => r.getString(0) ->
      (if (r.isNullAt(7)) null else r.getString(7))).toMap
    assert(tzs === Map("<e1>" -> "", "<e2>" -> "Z", "<e3>" -> "+05:30",
      "<e4>" -> "", "<e5>" -> null))
    // a FILTER over an accessor eliminates error rows like any type error
    val y2k = Sparql.run(t,
      """SELECT ?s WHERE { ?s <at> ?t . FILTER (YEAR(?t) >= 2000) }""")
      .select("s").as[String].collect().toSet
    assert(y2k === Set("<e1>", "<e3>", "<e4>"))
  }

  test("SHA1/384/512 and ENCODE_FOR_URI built-ins") {
    val t = Seq(("<s>", "p", "Les Misérables + 100%")).toDF("s", "p", "o")
    val r = Sparql.run(t,
      """SELECT ?h1 ?h384 ?h512 ?u WHERE {
        |  ?s <p> ?o .
        |  BIND (SHA1(?o) AS ?h1) BIND (SHA384(?o) AS ?h384)
        |  BIND (SHA512(?o) AS ?h512)
        |  BIND (ENCODE_FOR_URI(?o) AS ?u)
        |}""".stripMargin).head()
    val md = (alg: String) => java.security.MessageDigest.getInstance(alg)
      .digest("Les Misérables + 100%".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getString(0) === md("SHA-1"))
    assert(r.getString(1) === md("SHA-384"))
    assert(r.getString(2) === md("SHA-512"))
    // RFC 3986 unreserved stays; space is %20 (not +); é is UTF-8 bytes
    assert(r.getString(3) === "Les%20Mis%C3%A9rables%20%2B%20100%25")
  }

  test("CONSTRUCT FROM <g> WHERE shorthand parses the dataset clause") {
    val quads = Quads.build(spark, sf0001)
    val cf = Sparql.runQuads(quads,
      """CONSTRUCT FROM <g:customer> WHERE { ?s <mktsegment> ?seg . }""")
    assert(cf.columns.toSeq === Seq("s", "p", "o"))
    assert(cf.count() > 0)
    assert(cf.filter(!col("s").startsWith("c:")).count() === 0)
  }

  test("SPARQL UPDATE over the versioned quad store: mutate, query, pin") {
    val root = java.nio.file.Files.createTempDirectory("quadstore").toString
    val quads = Quads.build(spark, sf0001)
    assert(QuadStore.init(quads, root) === 1)
    val graphQ =
      """SELECT ?g ?o WHERE { GRAPH ?g { ?o <orderstatus> "P" . } }"""
    val baseline = Sparql.runQuads(QuadStore.read(spark, root), graphQ).count()
    assert(baseline > 0)
    // the persisted snapshot answers GRAPH queries exactly like the
    // in-memory dataset it was built from
    assert(Sparql.runQuads(quads, graphQ).count() === baseline)

    // INSERT DATA into the default graph and a named graph
    assert(QuadStore.update(spark, root,
      """INSERT DATA {
        |  <x:1> <label> "new" .
        |  GRAPH <g:orders> { <o:999999> <orderstatus> "P" . }
        |}""".stripMargin) === 2)
    val cur = QuadStore.read(spark, root)
    assert(Sparql.runQuads(cur, graphQ).count() === baseline + 1)
    assert(Sparql.runQuads(cur,
      """SELECT ?o WHERE { <x:1> <label> ?o . }""").count() === 1)
    // graphs are sets: re-inserting the same quad does not duplicate
    QuadStore.update(spark, root, """INSERT DATA { <x:1> <label> "new" . }""")
    assert(QuadStore.read(spark, root)
      .filter(col("s") === "x:1").count() === 1)
    // snapshots are immutable: version 1 still answers without the insert
    assert(Sparql.runQuads(QuadStore.readVersion(spark, root, 1),
      """SELECT ?o WHERE { <x:1> <label> ?o . }""").count() === 0)
    assert(Sparql.runQuads(QuadStore.readVersion(spark, root, 1), graphQ)
      .count() === baseline)

    // DELETE DATA removes the exact quad
    QuadStore.update(spark, root,
      """DELETE DATA { GRAPH <g:orders> { <o:999999> <orderstatus> "P" . } }""")
    assert(Sparql.runQuads(QuadStore.read(spark, root), graphQ)
      .count() === baseline)

    // DELETE WHERE: the pattern is match and template at once
    val urgent = QuadStore.read(spark, root)
      .filter(col("p") === "orderpriority" && col("o") === "1-URGENT")
    assert(urgent.count() > 0)
    QuadStore.update(spark, root,
      """DELETE WHERE { GRAPH <g:orders> { ?o <orderpriority> "1-URGENT" . } }""")
    assert(QuadStore.read(spark, root)
      .filter(col("p") === "orderpriority" && col("o") === "1-URGENT")
      .count() === 0)
    // conjunctive DELETE WHERE: only subjects matching BOTH patterns lose
    // their triples — region names (no <region> edge) survive
    val regionNames = QuadStore.read(spark, root)
      .filter(col("s").startsWith("r:") && col("p") === "name").count()
    assert(regionNames > 0)
    QuadStore.update(spark, root,
      """DELETE WHERE { ?n <name> ?nm . ?n <region> ?r . }""")
    val afterConj = QuadStore.read(spark, root)
    assert(afterConj.filter(col("s").startsWith("n:")
      && (col("p") === "name" || col("p") === "region")).count() === 0)
    assert(afterConj.filter(col("s").startsWith("r:") && col("p") === "name")
      .count() === regionNames)

    // crash safety: a torn (marker-less) version directory is invisible
    val before = QuadStore.currentVersion(root).get
    new java.io.File(root, "v00099").mkdirs()
    assert(QuadStore.currentVersion(root).get === before)

    // retention: vacuum drops everything below the newest `keep` complete
    // versions plus torn build dirs; the current version still reads,
    // vacuumed pins fail fast
    val afterCount = afterConj.count()
    assert(QuadStore.vacuum(root, keep = 2) === (1 to before - 2))
    assert(QuadStore.currentVersion(root).get === before)
    assert(QuadStore.read(spark, root).count() === afterCount)
    assert(!new java.io.File(root, "v00099").exists())
    intercept[Exception](QuadStore.readVersion(spark, root, 1).collect())
    // idempotent: nothing more to drop
    assert(QuadStore.vacuum(root, keep = 2) === Seq.empty)

    // `a` abbreviates rdf:type in predicate position, as in queries
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert(Update.parse("INSERT DATA { <s> a <C> . }") ===
      Update.InsertData(Seq(("s", rdfType, "C", Quads.DefaultGraph))))
    assert(Update.parse("DELETE WHERE { ?s a <C> }") ===
      Update.DeleteWhere(
        Seq((TP(V("s"), C(rdfType), C("C")), C(Quads.DefaultGraph)))))

    // out-of-fragment updates reject loudly
    intercept[IllegalArgumentException](
      Update.parse("""INSERT DATA { ?s <p> "x" . }"""))
    // WITH prefixes the full Modify only (grammar 41) — not CLEAR, not
    // the DATA forms
    intercept[IllegalArgumentException](
      Update.parse("""WITH <g:x> CLEAR GRAPH <g:y>"""))
    intercept[IllegalArgumentException](
      Update.parse("""WITH <g:x> INSERT DATA { <a> <p> "v" . }"""))
    // GRAPH ?var is IN fragment for pattern blocks since round 6 (the
    // graph-wildcard purge); it parses to a variable graph term
    assert(Update.parse("DELETE WHERE { GRAPH ?g { ?s ?p ?o . } }") ===
      Update.DeleteWhere(Seq((TP(V("s"), V("p"), V("o")), V("g")))))
    // ...but ground DATA blocks stay constant-graph per grammar
    intercept[IllegalArgumentException](
      Update.parse("""INSERT DATA { GRAPH ?g { <a> <p> "v" . } }"""))
  }

  test("Modify WITH/USING dataset semantics (§3.1.3.2/3)") {
    val quads = Seq(
      ("a", "p", "1", "g:one"), ("a", "p", "1", "g:two"),
      ("b", "p", "2", "g:two"), ("c", "p", "3", ""),
      ("a", "q", "x", "g:with")).toDF("s", "p", "o", "g")
    // WITH alone: WHERE reads the WITH graph, the template writes it
    val r1 = Update(quads, Update.parse(
      """WITH <g:one> INSERT { ?s <hit> "y" . } WHERE { ?s <p> ?v . }"""))
    assert(r1.filter($"p" === "hit").select("s", "g").as[(String, String)]
      .collect().toSeq === Seq(("a", "g:one")))
    // USING merges the described default graph; non-matching graphs
    // (g:with, the real default) contribute nothing
    val r2 = Update(quads, Update.parse(
      """INSERT { ?s <cnt> ?v . } USING <g:one> USING <g:two>
        |WHERE { ?s <p> ?v . }""".stripMargin))
    assert(r2.filter($"p" === "cnt").select("s", "o").as[(String, String)]
      .collect().toSet === Set(("a", "1"), ("b", "2")))
    // WITH is ignored for WHERE once USING appears — it still directs
    // the template
    val r3 = Update(quads, Update.parse(
      """WITH <g:with> INSERT { ?s <hit2> ?v . } USING <g:two>
        |WHERE { ?s <p> ?v . }""".stripMargin))
    assert(r3.filter($"p" === "hit2").select("s", "g").as[(String, String)]
      .collect().toSet === Set(("a", "g:with"), ("b", "g:with")))
    // a GRAPH block outside the USING NAMED set matches nothing
    val r4 = Update(quads, Update.parse(
      """INSERT { ?s <n> ?v . } USING NAMED <g:one>
        |WHERE { GRAPH <g:two> { ?s <p> ?v . } }""".stripMargin))
    assert(r4.count() === quads.count())
    // USING NAMED alone leaves the described default graph EMPTY
    val r5 = Update(quads, Update.parse(
      """INSERT { ?s <n> ?v . } USING NAMED <g:one>
        |WHERE { ?s <p> ?v . }""".stripMargin))
    assert(r5.count() === quads.count())
  }

  test("UPDATE graph management: CLEAR/DROP/CREATE/ADD/COPY/MOVE/LOAD") {
    val root = java.nio.file.Files.createTempDirectory("quadstore_gm").toString
    val quads = Seq(
      ("a", "p", "1", Quads.DefaultGraph),
      ("b", "p", "2", "g:one"),
      ("c", "p", "3", "g:one"),
      ("d", "p", "4", "g:two")).toDF("s", "p", "o", "g")
    QuadStore.init(quads, root)
    def cur = QuadStore.read(spark, root)

    // CREATE is a no-op (no empty-graph bookkeeping); SILENT accepted
    QuadStore.update(spark, root, "CREATE SILENT GRAPH <g:new>")
    assert(cur.count() === 4)
    // ADD set-unions into the destination, source untouched; idempotent
    QuadStore.update(spark, root, "ADD GRAPH <g:one> TO GRAPH <g:two>")
    assert(cur.filter(col("g") === "g:two").count() === 3)
    assert(cur.filter(col("g") === "g:one").count() === 2)
    QuadStore.update(spark, root, "ADD GRAPH <g:one> TO GRAPH <g:two>")
    assert(cur.filter(col("g") === "g:two").count() === 3)
    // COPY overwrites the destination with the source
    QuadStore.update(spark, root, "COPY DEFAULT TO GRAPH <g:two>")
    assert(cur.filter(col("g") === "g:two")
      .select("s").as[String].collect().toSet === Set("a"))
    // MOVE = COPY + clear source
    QuadStore.update(spark, root, "MOVE GRAPH <g:one> TO GRAPH <g:three>")
    assert(cur.filter(col("g") === "g:one").count() === 0)
    assert(cur.filter(col("g") === "g:three").count() === 2)
    // same source and destination is a no-op, not a self-clear
    QuadStore.update(spark, root, "MOVE GRAPH <g:three> TO GRAPH <g:three>")
    assert(cur.filter(col("g") === "g:three").count() === 2)
    // DROP ≡ CLEAR in this model
    QuadStore.update(spark, root, "DROP GRAPH <g:three>")
    assert(cur.filter(col("g") === "g:three").count() === 0)
    // LOAD: distributed N-Triples ingest into a named graph, set semantics
    val nt = new java.io.File(root, "doc.nt")
    java.nio.file.Files.write(nt.toPath,
      "<x:1> <p> \"v\" .\n<x:2> <p> <x:1> .\n".getBytes("UTF-8"))
    QuadStore.update(spark, root,
      s"LOAD <file://${nt.getPath}> INTO GRAPH <g:ld>")
    assert(cur.filter(col("g") === "g:ld").count() === 2)
    QuadStore.update(spark, root,
      s"LOAD <file://${nt.getPath}> INTO GRAPH <g:ld>")
    assert(cur.filter(col("g") === "g:ld").count() === 2)
    // CLEAR NAMED keeps only the default graph
    QuadStore.update(spark, root, "CLEAR NAMED")
    assert(cur.select("g").distinct().as[String].collect().toSet
      === Set(Quads.DefaultGraph))
    // CLEAR ALL publishes a readable EMPTY snapshot, and the store
    // accepts further updates from it
    QuadStore.update(spark, root, "CLEAR ALL")
    assert(cur.count() === 0)
    QuadStore.update(spark, root, """INSERT DATA { <z> <p> "back" . }""")
    assert(cur.count() === 1)
  }

  test("Modify: DELETE/INSERT templates over one WHERE solve") {
    val root = java.nio.file.Files.createTempDirectory("quadstore_mod").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    val nStatus = QuadStore.read(spark, root)
      .filter(col("p") === "orderstatus").count()
    assert(nStatus > 0)
    // predicate rename: delete + insert instantiated from the same
    // solutions, applied delete-first against the original snapshot
    QuadStore.update(spark, root,
      """DELETE { GRAPH <g:orders> { ?o <orderstatus> ?s . } }
        |INSERT { GRAPH <g:orders> { ?o <status> ?s . } }
        |WHERE { GRAPH <g:orders> { ?o <orderstatus> ?s . } }""".stripMargin)
    val cur = QuadStore.read(spark, root)
    assert(cur.filter(col("p") === "orderstatus").count() === 0)
    assert(cur.filter(col("p") === "status").count() === nStatus)
    // INSERT-only with a join in WHERE: derive a cross-graph edge for
    // customers that have an urgent order
    QuadStore.update(spark, root,
      """INSERT { ?c <has_urgent> "y" . }
        |WHERE { GRAPH <g:orders> { ?o <custkey> ?c .
        |                           ?o <orderpriority> "1-URGENT" . } }""".stripMargin)
    val flagged = QuadStore.read(spark, root)
      .filter(col("p") === "has_urgent")
    val expected = Quads.build(spark, sf0001).filter(col("g") === "g:orders")
      .groupBy("s").pivot("p", Seq("custkey", "orderpriority"))
      .agg(first(col("o")))
      .filter(col("orderpriority") === "1-URGENT")
      .select(col("custkey")).distinct().count()
    assert(flagged.count() === expected)
    // set semantics: re-applying the same Modify inserts nothing new
    QuadStore.update(spark, root,
      """INSERT { ?c <has_urgent> "y" . }
        |WHERE { GRAPH <g:orders> { ?o <custkey> ?c .
        |                           ?o <orderpriority> "1-URGENT" . } }""".stripMargin)
    assert(QuadStore.read(spark, root)
      .filter(col("p") === "has_urgent").count() === expected)
    // DELETE-only template narrower than WHERE: drop the flag only for
    // customers that ALSO have an F-status order (join restricts)
    QuadStore.update(spark, root,
      """DELETE { ?c <has_urgent> "y" . }
        |WHERE { ?c <has_urgent> "y" .
        |        GRAPH <g:orders> { ?o <custkey> ?c . ?o <status> "F" . } }""".stripMargin)
    assert(QuadStore.read(spark, root)
      .filter(col("p") === "has_urgent").count() < expected)
    // an unbound template variable is a loud error
    intercept[IllegalArgumentException](
      QuadStore.update(spark, root,
        """INSERT { ?c <x> ?nope . } WHERE { ?c <has_urgent> "y" . }"""))
  }

  test("multi-pattern CONSTRUCT materializes the solved bindings once") {
    val g = Sparql.run(triples,
      """CONSTRUCT {
        |  ?cust <has_urgent_order> ?ord .
        |  ?ord <status_class> "urgent" .
        |}
        |WHERE {
        |  ?ord <custkey> ?cust .
        |  ?ord <orderpriority> "1-URGENT" .
        |}""".stripMargin)
    // the union's two template instantiations must read the checkpointed
    // bindings, not re-run the BGP join over the parquet scans
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"))
    assert(!plan.contains("Scan parquet"))
    assert(g.count() > 0)
  }

  test("compatibility join: a subquery's possibly-unbound projection " +
      "joins outer patterns per 18.2.2.4, not an equi-join drop") {
    val t = Seq(
      ("s1", "p", "a"), ("s2", "p", "b"),            // outer anchors
      ("s1", "q", "k1"),                              // only s1 has q
      ("k1", "t", "v1"), ("k2", "t", "v2"))           // key table
      .toDF("s", "p", "o")
    // subquery: every ?s with <p>, OPTIONAL key — s2's ?k is unbound.
    // outer: ?k <t> ?v. SPARQL compatibility: s1 (k=k1) joins the k1
    // row only; s2 (k unbound) is compatible with EVERY key row and
    // takes ?k from the right side.
    val got = Sparql.run(t,
      """SELECT ?s ?k ?v WHERE {
        |  { SELECT ?s ?k WHERE { ?s <p> ?x . OPTIONAL { ?s <q> ?k } } }
        |  ?k <t> ?v .
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got === Set(
      ("s1", "k1", "v1"),
      ("s2", "k1", "v1"), ("s2", "k2", "v2")))
    // the bound-both group still enforces equality: flip the data so
    // s1's key has no <t> row — s1 drops, s2 still fans out
    val t2 = Seq(("s1", "p", "a"), ("s2", "p", "b"), ("s1", "q", "k9"),
      ("k1", "t", "v1")).toDF("s", "p", "o")
    val got2 = Sparql.run(t2,
      """SELECT ?s ?k ?v WHERE {
        |  { SELECT ?s ?k WHERE { ?s <p> ?x . OPTIONAL { ?s <q> ?k } } }
        |  ?k <t> ?v .
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got2 === Set(("s2", "k1", "v1")))
    // both sides possibly-unbound: two padded subqueries share ?k;
    // (bound,bound) needs equality, (bound,unbound)/(unbound,bound)
    // merge by coalesce, (unbound,unbound) stays unbound
    val t3 = Seq(("s1", "p", "a"), ("s2", "p", "b"),
      ("s1", "q", "k1"), ("s2", "r", "k2")).toDF("s", "p", "o")
    val got3 = Sparql.run(t3,
      """SELECT ?s ?u ?k WHERE {
        |  { SELECT ?s ?k WHERE { ?s <p> ?x . OPTIONAL { ?s <q> ?k } } }
        |  { SELECT ?u ?k WHERE { ?u <p> ?x2 . OPTIONAL { ?u <r> ?k } } }
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(got3 === Set(
      ("s1", "s1", Some("k1")), // bound ⋈ unbound → the bound k1
      ("s2", "s1", None),       // unbound ⋈ unbound → stays unbound
      ("s2", "s2", Some("k2"))))// unbound ⋈ bound → the bound k2
      // and (s1 bound k1) ⋈ (s2 bound k2) is INCOMPATIBLE — dropped
  }

  test("compatibility joins: encoded ≡ string across join, OPTIONAL, " +
      "MINUS and EXISTS positions") {
    val t = Seq(
      ("s1", "p", "a"), ("s2", "p", "b"), ("s3", "p", "z"),
      ("s1", "q", "k1"), ("s3", "q", "w"),
      ("s2", "r", "c"), ("k1", "t", "v1"), ("k2", "t", "v2"))
      .toDF("s", "p", "o")
    val dict = Dictionary.build(spark, t)
    val enc = Dictionary.encode(t, dict)
    for (text <- Seq(
      // padded subquery joined to a pattern
      """SELECT ?s ?k ?v WHERE {
        |  { SELECT ?s ?k WHERE { ?s <p> ?x . OPTIONAL { ?s <q> ?k } } }
        |  ?k <t> ?v . }""".stripMargin,
      // OPTIONAL on a padded variable
      """SELECT ?s ?k ?v WHERE {
        |  { SELECT ?s ?k WHERE { ?s <p> ?x . OPTIONAL { ?s <q> ?k } } }
        |  OPTIONAL { ?k <t> ?v . } }""".stripMargin,
      // MINUS and EXISTS on a padded variable
      """SELECT ?s ?x ?y WHERE { ?s <p> ?x .
        |  OPTIONAL { ?s <q> ?y . } MINUS { ?s <r> ?y . } }""".stripMargin,
      """SELECT ?s ?x ?y WHERE { ?s <p> ?x .
        |  OPTIONAL { ?s <q> ?y . }
        |  FILTER NOT EXISTS { ?s <r> ?y . } }""".stripMargin,
      // VALUES with UNDEF meeting a padded variable
      """SELECT ?s ?y WHERE { ?s <p> ?x . OPTIONAL { ?s <q> ?y . }
        |  VALUES ?y { "k1" UNDEF } }""".stripMargin)) {
      val viaString = Sparql.run(t, text)
      val viaIds = Sparql.runEncoded(enc, dict, text)
      assert(viaString.count() > 0, text)
      assert(viaString.exceptAll(viaIds).count() === 0, text)
      assert(viaIds.exceptAll(viaString).count() === 0, text)
    }
  }
}
