package graft.rdf

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The four term-space × dataset-shape combinations of the one SPARQL
  * evaluator — strings or dictionary ids, over triples or quads — answer
  * the same bag for the same query, and lowering a query costs the same
  * number of Spark jobs in each (none in string space, the one dictionary
  * lookup in id space). */
class SparqlEvaluatorSpec extends SparkSpec {

  private lazy val triples = Triples.build(spark, sf0001).cache()
  private lazy val dict = Dictionary.build(spark, triples)
  private lazy val enc = Dictionary.encode(triples, dict)
  // every triple in the default graph, so GRAPH-free queries mean the
  // same thing over the quads store as over the triples store
  private lazy val quads = triples.withColumn("g", lit(Quads.DefaultGraph))
  private lazy val qdict = Dictionary.buildQuads(spark, quads)
  private lazy val encQuads = Dictionary.encodeQuads(quads, qdict)

  private def spaces(text: String): Seq[(String, DataFrame)] = Seq(
    "run" -> Sparql.run(triples, text),
    "runEncoded" -> Sparql.runEncoded(enc, dict, text),
    "runQuads" -> Sparql.runQuads(quads, text),
    "runQuadsEncoded" -> Sparql.runQuadsEncoded(encQuads, qdict, text))

  /** The rows of a frame as a sorted bag, columns in name order. */
  private def bag(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(c => col(c).cast("string")): _*).collect()
      .map(_.toSeq.mkString("\u0001")).toSeq.sorted
  }

  /** `{A} UNION {B}` (or a single `{A}`) opening a WHERE and continued by
    * one more member, paired with the same query written with that
    * member inside every branch. */
  private val leadingGroupShapes: Seq[(String, String, String)] = Seq(
    ("UNION then FILTER",
      """SELECT ?s ?v WHERE {
        |  { ?s <orderstatus> ?v . } UNION { ?s <mktsegment> ?v . }
        |  FILTER (?v = "F" || ?v = "BUILDING")
        |}""".stripMargin,
      """SELECT ?s ?v WHERE {
        |  { ?s <orderstatus> ?v . FILTER (?v = "F" || ?v = "BUILDING") }
        |  UNION
        |  { ?s <mktsegment> ?v . FILTER (?v = "F" || ?v = "BUILDING") }
        |}""".stripMargin),
    ("UNION then OPTIONAL",
      """SELECT ?s ?v ?n WHERE {
        |  { ?s <orderstatus> ?v . } UNION { ?s <mktsegment> ?v . }
        |  OPTIONAL { ?s <name> ?n . }
        |}""".stripMargin,
      """SELECT ?s ?v ?n WHERE {
        |  { ?s <orderstatus> ?v . OPTIONAL { ?s <name> ?n . } }
        |  UNION
        |  { ?s <mktsegment> ?v . OPTIONAL { ?s <name> ?n . } }
        |}""".stripMargin),
    ("UNION then VALUES",
      """SELECT ?s ?v WHERE {
        |  { ?s <orderstatus> ?v . } UNION { ?s <mktsegment> ?v . }
        |  VALUES ?v { "O" "MACHINERY" }
        |}""".stripMargin,
      """SELECT ?s ?v WHERE {
        |  { ?s <orderstatus> ?v . VALUES ?v { "O" "MACHINERY" } }
        |  UNION
        |  { ?s <mktsegment> ?v . VALUES ?v { "O" "MACHINERY" } }
        |}""".stripMargin),
    ("UNION then BIND",
      """SELECT ?s ?v ?tag WHERE {
        |  { ?s <orderpriority> ?v . } UNION { ?s <mktsegment> ?v . }
        |  BIND (CONCAT("t-", ?v) AS ?tag)
        |}""".stripMargin,
      """SELECT ?s ?v ?tag WHERE {
        |  { ?s <orderpriority> ?v . BIND (CONCAT("t-", ?v) AS ?tag) }
        |  UNION
        |  { ?s <mktsegment> ?v . BIND (CONCAT("t-", ?v) AS ?tag) }
        |}""".stripMargin),
    ("single group then FILTER",
      """SELECT ?c ?k WHERE {
        |  { ?c <nationkey> ?k . }
        |  FILTER (?k < 4)
        |}""".stripMargin,
      """SELECT ?c ?k WHERE {
        |  { ?c <nationkey> ?k . FILTER (?k < 4) }
        |}""".stripMargin),
    ("UNION then MINUS",
      """SELECT ?s WHERE {
        |  { ?s <mktsegment> "BUILDING" . } UNION { ?s <mktsegment> "FURNITURE" . }
        |  MINUS { ?s <nationkey> ?k . FILTER (?k < 10) }
        |}""".stripMargin,
      """SELECT ?s WHERE {
        |  { ?s <mktsegment> "BUILDING" .
        |    MINUS { ?s <nationkey> ?k . FILTER (?k < 10) } }
        |  UNION
        |  { ?s <mktsegment> "FURNITURE" .
        |    MINUS { ?s <nationkey> ?k . FILTER (?k < 10) } }
        |}""".stripMargin))

  test("a WHERE opening with a braced group may continue with FILTER, " +
      "OPTIONAL, VALUES, BIND or MINUS") {
    leadingGroupShapes.foreach { case (what, continued, distributed) =>
      val got = bag(Sparql.run(triples, continued))
      assert(got.nonEmpty, s"vacuous: $what")
      assert(got === bag(Sparql.run(triples, distributed)), what)
    }
  }

  private val crossSpaceQueries: Seq[(String, String)] = Seq(
    "OPTIONAL" ->
      """SELECT ?c ?n ?o WHERE {
        |  ?c <mktsegment> "BUILDING" . ?c <name> ?n .
        |  OPTIONAL { ?o <custkey> ?c . ?o <orderstatus> "F" . }
        |}""".stripMargin,
    "MINUS" ->
      """SELECT ?c WHERE {
        |  ?c <mktsegment> "BUILDING" .
        |  MINUS { ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" . }
        |}""".stripMargin,
    "FILTER NOT EXISTS" ->
      """SELECT ?n WHERE {
        |  ?c <mktsegment> "BUILDING" . ?c <name> ?n .
        |  FILTER NOT EXISTS { ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" . }
        |}""".stripMargin,
    "nested UNION with VALUES" ->
      """SELECT ?s ?v WHERE {
        |  VALUES ?v { "F" "O" "BUILDING" }
        |  { ?s <orderstatus> ?v . } UNION { ?s <mktsegment> ?v . }
        |}""".stripMargin,
    "GROUP BY with COUNT" ->
      """SELECT ?nat (COUNT(?c) AS ?n) WHERE {
        |  ?c <nation> ?nat .
        |} GROUP BY ?nat""".stripMargin,
    "sequence path" ->
      """SELECT ?o ?nat WHERE { ?o <custkey>/<nation> ?nat . }""",
    "one-or-more path with FILTER" ->
      """SELECT ?x ?r WHERE {
        |  ?x (<nation>|<region>)+ ?r .
        |  FILTER (?r = "r:1")
        |}""".stripMargin,
    "subquery with BIND" ->
      """SELECT ?c ?tag WHERE {
        |  { SELECT ?c WHERE { ?c <mktsegment> "AUTOMOBILE" . } }
        |  ?c <name> ?n .
        |  BIND (CONCAT("x-", ?n) AS ?tag)
        |}""".stripMargin) ++
    leadingGroupShapes.map { case (what, continued, _) => what -> continued }

  test("strings and ids, triples and quads answer the same bag") {
    crossSpaceQueries.foreach { case (what, text) =>
      val answers = spaces(text).map { case (entry, df) => entry -> bag(df) }
      val (_, reference) = answers.head
      assert(reference.nonEmpty, s"vacuous: $what")
      answers.tail.foreach { case (entry, got) =>
        assert(got === reference, s"$entry diverges from run on: $what")
      }
    }
  }

  test("lowering runs no job in string space and one lookup in id space") {
    val text =
      """SELECT ?c ?n ?nat WHERE {
        |  { ?c <mktsegment> "BUILDING" . } UNION { ?c <mktsegment> "MACHINERY" . }
        |  ?c <name> ?n .
        |  ?c <nation>/<region> ?r .
        |  OPTIONAL { ?c <nation> ?nat . }
        |  MINUS { ?o <custkey> ?c . ?o <orderpriority> "1-URGENT" . }
        |  FILTER NOT EXISTS { ?o2 <custkey> ?c . ?o2 <orderstatus> "P" . }
        |  VALUES ?r { "r:1" "r:2" }
        |}""".stripMargin
    // materialize the inputs first so only lowering runs under the group
    Seq(triples, dict, enc, quads, qdict, encQuads).foreach(_.columns)
    val sc = spark.sparkContext
    def jobsWhileLowering(entry: String, lower: => DataFrame): Int = {
      val group = s"lowering-$entry-${System.nanoTime()}"
      sc.setJobGroup(group, entry)
      try lower finally sc.clearJobGroup()
      // the status store is fed by the listener bus; a later marker job
      // becoming visible means every earlier job event was processed
      val marker = s"$group-marker"
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    assert(jobsWhileLowering("run", Sparql.run(triples, text)) === 0)
    assert(jobsWhileLowering("runQuads", Sparql.runQuads(quads, text)) === 0)
    assert(jobsWhileLowering("runEncoded",
      Sparql.runEncoded(enc, dict, text)) === 1)
    assert(jobsWhileLowering("runQuadsEncoded",
      Sparql.runQuadsEncoded(encQuads, qdict, text)) === 1)
  }

  test("FROM on the id-triple store points at the id-quad entry point") {
    val e = intercept[IllegalArgumentException](Sparql.runEncoded(enc, dict,
      "SELECT ?s FROM <g:x> WHERE { ?s <name> ?n . }"))
    assert(e.getMessage.contains("use Sparql.runQuadsEncoded"), e.getMessage)
    val s = intercept[IllegalArgumentException](Sparql.run(triples,
      "SELECT ?s FROM <g:x> WHERE { ?s <name> ?n . }"))
    assert(s.getMessage.contains("use Sparql.runQuads"), s.getMessage)
  }
}
