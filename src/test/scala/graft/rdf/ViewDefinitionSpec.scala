package graft.rdf

import org.scalatest.funsuite.AnyFunSuite

/** The persisted view definition without a Spark session: one
  * classifier over the SPARQL text, the pattern-form render, and the
  * one `meta.tsv` codec. */
class ViewDefinitionSpec extends AnyFunSuite {

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("viewdef").toString

  private def writeMeta(root: String, content: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "meta.tsv"),
      content.getBytes("UTF-8")): Unit

  // (the kind its create entry point stores, a text that entry point takes)
  private val texts = Seq(
    "triple" -> """SELECT * WHERE { ?c <name> ?n . ?c <seg> "B" . }""",
    "filtered" -> """SELECT * WHERE { ?cust <mktsegment> ?seg .
      |  ?cust <nationkey> ?k .
      |  FILTER (?seg = "BUILDING" && ?k > 10) }""".stripMargin,
    "quads" -> """SELECT * WHERE { ?c <kind> "k" .
      |  GRAPH ?g { ?c <name> ?n . } GRAPH <gMeta> { ?c <flag> "y" . } }"""
      .stripMargin,
    "union" -> """SELECT * WHERE {
      |  { ?c <seg> "B" } UNION { ?c <seg> "A" . ?c <vip> "y" } }"""
      .stripMargin,
    "optional" -> "SELECT * WHERE { ?c <name> ?n OPTIONAL { ?c <ord> ?o } }",
    "path" -> "SELECT * WHERE { ?x (<nation>|<region>)+ ?y }",
    // createPathSeqFromSparql: a sequence of alternations is a pathexpr
    "pathexpr" -> "SELECT * WHERE { ?x (<region>/^<region>)+ ?y }",
    "pathexpr" -> "SELECT * WHERE { ?x ((<region>/^<region>)|<name>)+ ?y }",
    "pathexpr" -> "SELECT * WHERE { ?x ((<region>+/<name>)|<nation>)+ ?y }")

  test("each entry point's text classifies to the kind it creates, and " +
      "the stored definition reads back as that kind") {
    texts.foreach { case (kind, text) =>
      val shape = ViewStore.classify(text)
      assert(shape.kind === kind, text)
      val root = tmpRoot()
      ViewStore.writeDefinition(root, kind, "g:x", text): Unit
      assert(ViewStore.readDefinition(root) ===
        ViewStore.Definition(kind, "g:x", shape))
      assert(ViewStore.mode(root) === kind)
    }
    // one text, two kinds: the stored kind records the entry point's
    val bgp = texts.head._2
    val root = tmpRoot()
    ViewStore.writeDefinition(root, "quads", "", bgp): Unit
    assert(ViewStore.isQuadView(root))
    assert(ViewStore.definitionQuads(root) ===
      ViewStore.quadPatternsFromSparql(bgp))
    intercept[IllegalArgumentException](ViewStore.definition(root))
    val alt = "SELECT * WHERE { ?x (<a>|^<b>)+ ?y }"
    ViewStore.writeDefinition(root, "pathexpr", "", alt): Unit
    assert(ViewStore.readDefinition(root).shape ===
      ViewStore.ExprPath("x", "y", PAlt(PEdge("a"), PInv(PEdge("b")))))
    // a text is never stored as a kind it is not
    intercept[IllegalArgumentException](
      ViewStore.writeDefinition(root, "union", "", bgp))
    intercept[IllegalArgumentException](
      ViewStore.writeDefinition(root, "path", "", texts(6)._2))
    assert(ViewStore.mode(root) === "pathexpr")
  }

  test("texts outside the maintainable fragment are rejected") {
    Seq(
      "SELECT * WHERE { }",
      "SELECT * WHERE { { ?c <seg> ?s } UNION { } }",
      "SELECT * WHERE { GRAPH ?g { } }",
      "SELECT DISTINCT * WHERE { ?c <name> ?n }",
      "SELECT ?c WHERE { ?c <name> ?n }",
      "SELECT * WHERE { ?c <name> ?n } LIMIT 3",
      "SELECT * WHERE { ?c <name> ?n FILTER (?x > 1) }",
      "SELECT * WHERE { ?c <name> ?n MINUS { ?c <vip> ?v } }",
      "SELECT * WHERE { ?c <name> ?n FILTER (?n = \"a\") OPTIONAL { ?c <o> ?o } }",
      "SELECT * WHERE { { ?c <seg> ?s } UNION { ?c <vip> ?v } }",
      "SELECT * WHERE { ?x <p>* ?y }",
      "SELECT * WHERE { ?x (<p>/<q>?)+ ?y }",
      "SELECT * WHERE { ?x <p>+ ?x }",
      "ASK { ?c <name> ?n }"
    ).foreach { text =>
      intercept[IllegalArgumentException](ViewStore.classify(text))
    }
  }

  test("the pattern-form render round-trips hostile constants in every " +
      "position") {
    val alphabet = Seq("\\", "\"", "a", ">", "\t", "\n", " ")
    val upTo5 = (0 to 5).flatMap(n =>
      Seq.fill(n)(alphabet).foldLeft(Seq(""))((acc, cs) =>
        for (a <- acc; c <- cs) yield a + c))
    val strings = upTo5 ++ Seq("é", "日本語", "😀", "a\\\"b\\",
      "<iri>", "?v", "_:b", "42", "#", "{ }", "'")
    strings.foreach { s =>
      val pats = Seq((TP(C(s), C(s), C(s)), C(s): Term),
        (TP(V("x"), C(s), V("y")), V("g")))
      assert(ViewStore.quadPatternsFromSparql(ViewStore.render(pats)) ===
        pats, s)
    }
    // triple patterns render outside any GRAPH block
    val tps = Seq(TP(V("s"), C("p"), C("we\"ird\tterm\nwith\\stuff")),
      TP(V("_:b"), C("q"), V("s")))
    assert(ViewStore.patternsFromSparql(ViewStore.render(
      tps.map((_, C(Quads.DefaultGraph))))) === tps)
    // non-string constants and unnameable variables stay loud
    intercept[IllegalArgumentException](ViewStore.render(
      Seq((TP(V("s"), C(42L), V("o")), C("")))))
    intercept[IllegalArgumentException](ViewStore.render(
      Seq((TP(V("s p"), C("p"), V("o")), C("")))))
  }

  test("an old-format or foreign meta.tsv is rejected loudly, naming the " +
      "root") {
    val old = Seq(
      "graph\tZzpjdXN0b21lcg==\nV:Yw==\tC:bmFtZQ==\tV:bg==",
      "mode\tunion\tZzp4\n0\tV:Yw==\tC:c2Vn\tC:Qg==",
      "mode\tquads\nV:Yw==\tC:bmFtZQ==\tV:bg==\tC:",
      "mode\tpathexpr\t\nvars\teA==\teQ==\ntext\tU0VMRUNU",
      "encgraph\t\nV:Yw==\tC:bmFtZQ==\tV:bg==")
    old.foreach { content =>
      val root = tmpRoot()
      writeMeta(root, content)
      val e = intercept[IllegalArgumentException](ViewStore.mode(root))
      assert(e.getMessage.contains(root) &&
        e.getMessage.contains("format"), e.getMessage)
      intercept[IllegalArgumentException](ViewStore.definition(root))
      intercept[IllegalArgumentException](EncodedView.definition(root))
      intercept[IllegalArgumentException](
        ViewCatalog.register(tmpRoot(), root))
    }
    // a summary root is not a view either
    val agg = tmpRoot()
    writeMeta(agg, "mode\tagg\tbg==\nbmF0")
    val e = intercept[IllegalArgumentException](ViewStore.mode(agg))
    assert(e.getMessage.contains(agg) && e.getMessage.contains("summary"))
  }

  test("an id-space definition is rejected by the string-space readers") {
    val root = tmpRoot()
    ViewStore.writeDefinition(root, "encoded", "",
      "SELECT * WHERE { ?c <name> ?n }"): Unit
    assert(ViewStore.mode(root) === "encoded")
    assert(EncodedView.definition(root) ===
      (("", Seq(TP(V("c"), C("name"), V("n"))))))
    val e = intercept[IllegalArgumentException](ViewStore.definition(root))
    assert(e.getMessage.contains("id-space"), e.getMessage)
    val cat = tmpRoot()
    intercept[IllegalArgumentException](ViewCatalog.register(cat, root))
    assert(ViewCatalog.roots(cat).isEmpty)
  }
}
