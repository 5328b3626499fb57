package graft.rdf

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Requests made only of `INSERT DATA` / `DELETE DATA` commit their net
  * change from one presence probe ([[Update.groundNet]]). Every published
  * segment is checked against the general lowering — [[Update.deltaSeq]]
  * replayed by [[Update.applyDelta]] on the same snapshot — and the block
  * parser's `;` / `,` lists are pinned. */
class GroundUpdateSpec extends SparkSpec {
  import spark.implicits._

  private type Quad = Update.Quad

  private def set(df: DataFrame): Set[Quad] =
    df.select("s", "p", "o", "g").as[Quad].collect().toSet

  private def render(q: Quad): String = {
    val (s, p, o, g) = q
    val lit = "\"" + o.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val triple = s"<$s> <$p> $lit ."
    if (g == Quads.DefaultGraph) triple else s"GRAPH <$g> { $triple }"
  }

  private def request(ops: Seq[(Boolean, Seq[Quad])]): String =
    ops.map { case (ins, qs) =>
      (if (ins) "INSERT DATA { " else "DELETE DATA { ") +
        qs.map(render).mkString(" ") + " }"
    }.mkString(" ;\n")

  private def segment(root: String, v: Int): String = f"$root/d$v%05d"

  /** `deltaSeq` replayed by `applyDelta`: the general lowering. */
  private def lowered(snap: DataFrame, ops: Seq[Update.Op]): Set[Quad] =
    set(Update.applyDelta(snap, Update.deltaSeq(snap, ops)))

  /** The request folded over the whole collected snapshot on the driver.
    * The reference for long chains: `deltaSeq`'s plan doubles with each
    * INSERT DATA (its presence check and the next state both read the
    * previous state), so a 64-op request cannot be planned that way. */
  private def folded(snap: DataFrame, ops: Seq[Update.Op]): Set[Quad] =
    ops.foldLeft(set(snap)) {
      case (st, Update.InsertData(qs)) => st ++ qs
      case (st, Update.DeleteData(qs)) => st -- qs
      case (_, op) => fail(s"not a ground op: $op")
    }

  /** Commit `text` and check the segment and the new version against
    * `reference` on the snapshot it was committed to. */
  private def commitAndCheck(root: String, text: String,
      reference: (DataFrame, Seq[Update.Op]) => Set[Quad] = lowered): Int = {
    val v = QuadStore.currentVersion(root).get
    val snap = QuadStore.readVersion(spark, root, v)
    val before = set(snap)
    val after = reference(snap, Update.parseAll(text))
    assert(QuadStore.update(spark, root, text) === v + 1)
    val seg = spark.read.parquet(segment(root, v + 1))
    assert(set(seg.filter(col("op") === "a")) === after -- before, text)
    assert(set(seg.filter(col("op") === "d")) === before -- after, text)
    assert(seg.filter(col("op") === "g").isEmpty, text)
    assert(new java.io.File(segment(root, v + 1), "_GRAFT_NET").exists(),
      s"ground segment must carry the net sidecar: $text")
    assert(set(QuadStore.readVersion(spark, root, v + 1)) === after, text)
    v + 1
  }

  test("groundNet folds the request over the present candidates") {
    val (a, b, c) = (("s:a", "p", "1", ""), ("s:b", "p", "2", "g:x"),
      ("s:c", "p", "3", ""))
    val ops = Seq(Update.InsertData(Seq(a, b, b)), Update.DeleteData(Seq(a)),
      Update.DeleteData(Seq(c)), Update.InsertData(Seq(a)))
    assert(Update.groundCandidates(ops) === Some(Seq(a, b, c)))
    // a present: deleted then re-inserted nets to nothing; c present:
    // deleted; b absent: added once
    assert(Update.groundNet(ops, Set(a, c)) === ((Seq(b), Seq(c))))
    assert(Update.groundNet(ops, Set.empty) === ((Seq(a, b), Nil)))
    assert(Update.groundCandidates(ops :+ Update.Clear(Update.AllGraphs))
      === None)
    assert(Update.groundCandidates(Nil) === None)
  }

  test("predicate-object lists with ; and , in every block kind") {
    val d = Quads.DefaultGraph
    assert(Update.parseAll("""INSERT DATA { <s:1> <p> "a" ; <q> "b" . }""") ===
      Seq(Update.InsertData(Seq(("s:1", "p", "a", d), ("s:1", "q", "b", d)))))
    assert(Update.parseAll("""INSERT DATA { <s:1> <p> "a" , "b" }""") ===
      Seq(Update.InsertData(Seq(("s:1", "p", "a", d), ("s:1", "p", "b", d)))))
    // a trailing `;`, a `,` list after `;`, `a` as the verb after `;`
    assert(Update.parseAll(
      """DELETE DATA { GRAPH <g:x> { <s:1> <p> "a" ; <q> "b" , "c" ;
        |  a <T> ; . } }""".stripMargin) ===
      Seq(Update.DeleteData(Seq(("s:1", "p", "a", "g:x"),
        ("s:1", "q", "b", "g:x"), ("s:1", "q", "c", "g:x"),
        ("s:1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "T",
          "g:x")))))
    assert(Update.parseAll("""DELETE WHERE { <s:1> <p> ?o ; <q> ?z . }""") ===
      Seq(Update.DeleteWhere(Seq(
        (TP(C("s:1"), C("p"), V("o")), C(d)),
        (TP(C("s:1"), C("q"), V("z")), C(d))))))
    // `;` inside a block lists predicates; between blocks it separates ops
    val ops = Update.parseAll(
      """INSERT { GRAPH ?g { ?s <q> ?o , "k" } } WHERE { GRAPH ?g { ?s <p> ?o ; <r> ?w } } ;
        |INSERT DATA { <s:2> <p> "x" ; <q> "y" }""".stripMargin)
    assert(ops.size === 2)
    assert(ops.head === Update.Modify(Nil,
      Seq((TP(V("s"), C("q"), V("o")), V("g")),
        (TP(V("s"), C("q"), C("k")), V("g"))),
      Seq((TP(V("s"), C("p"), V("o")), V("g")),
        (TP(V("s"), C("r"), V("w")), V("g")))))
  }

  test("ground requests publish what deltaSeq + applyDelta give, seeded") {
    val root = java.nio.file.Files.createTempDirectory("qsground").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    // present quads from the default graph and a named one, plus absent
    // quads in both; subjects and predicates must survive `<…>` rendering
    val safe = col("s").rlike("^[A-Za-z0-9:_#.-]+$") &&
      col("p").rlike("^[A-Za-z0-9:_#.-]+$")
    val present = Seq(Quads.DefaultGraph, "g:customer").flatMap { g =>
      set(QuadStore.read(spark, root).filter(col("g") === g && safe)
        .orderBy("s", "p", "o").limit(6)).toSeq.sorted
    }
    assert(present.size === 12)
    val absent = (1 to 6).map(i =>
      (s"x:$i", "label", s"""v "$i"""", if (i % 2 == 0) "g:extra" else ""))
    val pool = (present ++ absent).toIndexedSeq

    // the named shapes first
    val (p1, p2, a1) = (present.head, present(7), absent.head)
    commitAndCheck(root, request(Seq(
      true -> Seq(p1, a1, a1),          // present re-insert, in-block dup
      false -> Seq(absent(1)),          // absent delete
      false -> Seq(p2), true -> Seq(p2) // delete-then-reinsert (named graph)
    )))
    // seeded chains over the pool: short ones against the lowering, a
    // 64-op one against the driver-side fold
    val r = new scala.util.Random(20261019L)
    def chain(n: Int): String = request(Seq.fill(n)(
      r.nextBoolean() -> Seq.fill(1 + r.nextInt(3))(pool(r.nextInt(pool.size)))))
    Seq(1, 2, 3, 4, 6).foreach(n => commitAndCheck(root, chain(n)))
    commitAndCheck(root, chain(64), folded)
  }

  test("a request that nets to nothing publishes an empty segment") {
    val root = java.nio.file.Files.createTempDirectory("qsnetzero").toString
    val view = java.nio.file.Files.createTempDirectory("qsnetzerov").toString
    QuadStore.init(Seq(("c:1", "nat", "de", ""), ("c:2", "nat", "fr", ""))
      .toDF("s", "p", "o", "g"), root)
    ViewStore.create(spark, root, view, Seq(TP(V("c"), C("nat"), V("nat"))))
    val before = set(ViewStore.read(spark, view)
      .select(col("c").as("s"), lit("nat").as("p"), col("nat").as("o"),
        lit("").as("g")))
    val v = commitAndCheck(root,
      """INSERT DATA { <c:1> <nat> "de" . } ;
        |DELETE DATA { <c:9> <nat> "xx" . } ;
        |INSERT DATA { <c:3> <nat> "it" } ;
        |DELETE DATA { <c:3> <nat> "it" , "yy" } ;
        |INSERT DATA { <c:2> <nat> "fr" }""".stripMargin)
    assert(spark.read.parquet(segment(root, v)).isEmpty)
    // the raw-log probe is the gate of ViewStore.sync's no-op fast path
    assert(QuadStore.changesRawEmpty(spark, root, v - 1, v))
    assert(ViewStore.sync(spark, root, view) === v)
    assert(set(ViewStore.read(spark, view)
      .select(col("c").as("s"), lit("nat").as("p"), col("nat").as("o"),
        lit("").as("g"))) === before)
  }
}
