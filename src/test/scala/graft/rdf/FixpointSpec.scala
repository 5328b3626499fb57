package graft.rdf

import graft.SparkSpec
import graft.llm.Dedup
import org.apache.spark.sql.DataFrame

/** The recursive operators (path closures, their maintenance, BFS and
  * connected components) finish on graphs deeper than any fixed round
  * count, and run a pinned number of scheduler jobs per call. Every
  * expected answer is computed on the driver from the edge list. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def node(i: Int): String = f"n$i%02d"

  /** `n00 → n01 → … → n<hops>` */
  private def chain(hops: Int): Seq[(String, String)] =
    (0 until hops).map(i => node(i) -> node(i + 1))

  /** Exact 1+-hop reachability of a small edge list. */
  private def closureOf(edges: Seq[(String, String)]): Set[(String, String)] = {
    val succ = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    def from(s: String): Set[String] = {
      val seen = scala.collection.mutable.Set.empty[String]
      var todo = succ.getOrElse(s, Nil).toList
      while (todo.nonEmpty) {
        val n = todo.head
        todo = todo.tail
        if (seen.add(n)) todo = succ.getOrElse(n, Nil).toList ++ todo
      }
      seen.toSet
    }
    edges.map(_._1).distinct.flatMap(s => from(s).map(s -> _)).toSet
  }

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.select(df.columns.take(2).map(df.col): _*)
      .as[(String, String)].collect().toSet

  private def triples(edges: Seq[(String, String)], p: String): DataFrame =
    edges.map { case (s, o) => (s, p, o) }.toDF("s", "p", "o")

  // ---- chains deeper than the old 20-round cap ----

  test("p+ over a 64-hop chain through Sparql.run") {
    val c = chain(64)
    val got = Sparql.run(triples(c, "p"), "SELECT ?a ?b WHERE { ?a <p>+ ?b . }")
    assert(pairs(got) === closureOf(c))
  }

  test("connectedComponents over a 64-hop chain") {
    val got = Dedup.connectedComponents(
      (0 until 64).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b"))
    assert(got.columns.toSeq === Seq("doc_id", "label"))
    assert(got.as[(Long, Long)].collect().toMap ===
      (0L to 64L).map(_ -> 0L).toMap)
  }

  test("sameAsCanonical over a 64-link sameAs chain") {
    val in = triples(chain(64), "sameAs").unionByName(Seq(
      (node(64), "name", "far"), ("z", "knows", node(32))).toDF("s", "p", "o"))
    val got = Owl.sameAsCanonical(in).as[(String, String, String)]
      .collect().toSet
    assert(got === Set((node(0), "name", "far"), ("z", "knows", node(0))))
  }

  test("p* over a 24-hop chain through Sparql.run") {
    val c = chain(24)
    val got = Sparql.run(triples(c, "p"), "SELECT ?a ?b WHERE { ?a <p>* ?b . }")
    assert(pairs(got) === closureOf(c) ++ (0 to 24).map(i => node(i) -> node(i)))
  }

  test("p+ over a 24-hop chain through Sparql.runEncoded") {
    val c = chain(24)
    val t = triples(c, "p")
    val dict = Dictionary.build(spark, t)
    val got = Sparql.runEncoded(Dictionary.encode(t, dict), dict,
      "SELECT ?a ?b WHERE { ?a <p>+ ?b . }")
    assert(pairs(got) === closureOf(c))
  }

  test("closureFrom over a 24-hop chain") {
    val got = Paths.closureFrom(chain(24).toDF("src", "dst"), Seq(node(0)))
    assert(pairs(got) === (1 to 24).map(i => node(0) -> node(i)).toSet)
  }

  test("transitiveClosureGraphs over a 24-hop chain stays inside its graph") {
    val edges = (chain(24).map { case (s, d) => ("g1", s, d) } :+
      (("g2", node(24), "zz"))).toDF("g", "src", "dst")
    val got = Paths.transitiveClosureGraphs(edges)
      .as[(String, String, String)].collect().toSet
    assert(got === closureOf(chain(24)).map { case (s, d) => ("g1", s, d) } +
      (("g2", node(24), "zz")))
  }

  test("maintainClosure inserts a 24-edge added chain") {
    val old = Seq(node(24) -> "end", "pre" -> node(0))
    val adds = chain(24)
    val got = Paths.maintainClosure(closureOf(old).toSeq.toDF("src", "dst"),
      old.toDF("src", "dst"), adds.toDF("src", "dst"),
      Seq.empty[(String, String)].toDF("src", "dst"))
    assert(pairs(got) === closureOf(old ++ adds))
  }

  test("maintainClosure re-derives a deletion more than 20 rounds deep") {
    // x0 → … → x24 → u, and u reaches v directly and via w: deleting u→v
    // suspends every (xi, v), and each is recovered one round after
    // (xi+1, v)
    val xs = (0 to 24).map(i => f"x$i%02d")
    val old = xs.zip(xs.tail) ++ Seq(xs.last -> "u", "u" -> "v", "u" -> "w",
      "w" -> "v")
    val dels = Seq("u" -> "v")
    val got = Paths.maintainClosure(closureOf(old).toSeq.toDF("src", "dst"),
      old.toDF("src", "dst"), Seq.empty[(String, String)].toDF("src", "dst"),
      dels.toDF("src", "dst"))
    assert(pairs(got) === closureOf(old.filterNot(dels.contains)))
  }

  // ---- driver actions per call ----

  test("round actions: transitiveClosure on a 5-edge chain") {
    val edges = chain(5).toDF("src", "dst")
    assert(actions(Paths.transitiveClosure(edges)) === ActionsClosure)
  }

  test("round actions: maintainClosureDelta with one add and one delete") {
    val old = chain(4)
    val closure = closureOf(old).toSeq.toDF("src", "dst")
    val edges = old.toDF("src", "dst")
    val adds = Seq(node(4) -> node(5)).toDF("src", "dst")
    val dels = Seq(node(1) -> node(2)).toDF("src", "dst")
    assert(actions(Paths.maintainClosureDelta(closure, edges, adds, dels)) ===
      ActionsMaintain)
  }

  test("round actions: bfs") {
    val edges = chain(5).toDF("src", "dst")
    assert(actions(GraphOps.bfs(edges, node(0), maxDepth = 8)) === ActionsBfs)
  }

  test("round actions: connectedComponents on a 5-node chain") {
    val pairs = (0 until 4).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    assert(actions(Dedup.connectedComponents(pairs)) === ActionsCc)
  }

  // measured with one fused checkpoint+count per round; a change here
  // means a round gained or lost a driver action
  private val ActionsClosure = 12
  private val ActionsMaintain = 12
  private val ActionsBfs = 13
  private val ActionsCc = 10
}
