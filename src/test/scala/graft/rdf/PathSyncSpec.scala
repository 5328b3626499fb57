package graft.rdf

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Closure maintenance as the path view's sync runs it: the churn probe,
  * the insertion that stops at its seed when no path can use two added
  * edges, and the edge delta a view derives from its triple churn. Every
  * case is checked against a recompute. */
class PathSyncSpec extends SparkSpec {
  import spark.implicits._

  private type Pair = (String, String)

  private def pairs(df: DataFrame): Set[Pair] =
    df.select(df.columns.take(2).map(df.col): _*).as[Pair].collect().toSet

  /** Exact 1+-hop reachability of a small edge list. */
  private def closureOf(edges: Seq[Pair]): Set[Pair] = {
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

  /** Maintain closureOf(old) under (adds, dels) and check the closure
    * and both net pair deltas against the recompute; returns the pair
    * adds. */
  private def maintained(old: Seq[Pair], adds: Seq[Pair],
      dels: Seq[Pair]): Set[Pair] = {
    val before = closureOf(old)
    val after = closureOf(old.filterNot(dels.contains) ++ adds)
    val (c, pa, pd) = Paths.maintainClosureDelta(before.toSeq.toDF("src", "dst"),
      old.toDF("src", "dst"), adds.toDF("src", "dst"), dels.toDF("src", "dst"))
    assert(pairs(c) === after)
    assert(pairs(pa) === after -- before)
    assert(pairs(pd) === before -- after)
    after -- before
  }

  private val none = Seq.empty[Pair]

  test("two added edges linked only through an old closure pair") {
    // b →C c over b → m → c, so K holds (b, c): the loop must run past
    // the seed to find (a, d), whose path uses both added edges
    val added = maintained(Seq("b" -> "m", "m" -> "c"),
      Seq("a" -> "b", "c" -> "d"), none)
    assert(added.contains("a" -> "d"))
  }

  test("two added edges that meet head to tail") {
    val added = maintained(Seq("x" -> "a"), Seq("a" -> "b", "b" -> "c"), none)
    assert(added === Set("x" -> "b", "x" -> "c", "a" -> "b", "a" -> "c",
      "b" -> "c"))
  }

  test("an added edge that closes a cycle") {
    val added = maintained(Seq("a" -> "b", "b" -> "c"), Seq("c" -> "a"), none)
    assert(Seq("a", "b", "c").forall(n => added.contains(n -> n)))
  }

  test("one added edge with no chain: the seed is the whole insertion") {
    val added = maintained(Seq("a" -> "b", "b" -> "c", "x" -> "y"),
      Seq("c" -> "x"), none)
    assert(added === Set("a", "b", "c").flatMap(s => Set(s -> "x", s -> "y")))
  }

  test("one churn with adds and deletes: re-derived pairs net out") {
    // deleting a → b drops (a, b) and (a, c); the added a → x → b
    // recovers both, so only the pairs through x are net changes
    val added = maintained(Seq("a" -> "b", "b" -> "c"),
      Seq("a" -> "x", "x" -> "b"), Seq("a" -> "b"))
    assert(added === Set("a" -> "x", "x" -> "b", "x" -> "c"))
  }

  // ---- through the path view's sync ----

  private def freshRoots(tag: String): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory(s"pathsync_$tag")
    (s"$base/store", s"$base/view")
  }

  /** The view against `text` solved over the store's head. */
  private def checkView(storeRoot: String, viewRoot: String,
      text: String): Set[Pair] = {
    val got = pairs(ViewStore.read(spark, viewRoot))
    assert(got === pairs(graft.Graft.sparqlQuads(
      QuadStore.read(spark, storeRoot), text)))
    got
  }

  test("a deleted triple whose edge survives through the other predicate") {
    val (storeRoot, viewRoot) = freshRoots("alt")
    val text = "SELECT ?x ?y WHERE { ?x (<nation>|<region>)+ ?y }"
    QuadStore.init(Seq(("a", "nation", "b", ""), ("a", "region", "b", ""),
      ("b", "region", "c", "")).toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createPathFromSparql(spark, storeRoot, viewRoot, text)
    val before = checkView(storeRoot, viewRoot, text)
    QuadStore.update(spark, storeRoot, """DELETE DATA { <a> <nation> "b" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(checkView(storeRoot, viewRoot, text) === before)
    // the edge's last derivation goes: now it is deleted
    QuadStore.update(spark, storeRoot, """DELETE DATA { <a> <region> "b" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(checkView(storeRoot, viewRoot, text) === Set("b" -> "c"))
  }

  test("an inverse-predicate path, synced insert-only and then mixed") {
    val (storeRoot, viewRoot) = freshRoots("inv")
    val text = "SELECT ?x ?y WHERE { ?x (<p>|^<q>)+ ?y }"
    // a →p b, and c <q b reads b → c
    QuadStore.init(Seq(("a", "p", "b", ""), ("c", "q", "b", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createPathFromSparql(spark, storeRoot, viewRoot, text)
    checkView(storeRoot, viewRoot, text)
    QuadStore.update(spark, storeRoot, """INSERT DATA { <d> <q> "c" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(checkView(storeRoot, viewRoot, text).contains("a" -> "d"))
    // one sync with both sides: b → c goes, b → e → c comes back
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c> <q> "b" } ; INSERT DATA { <b> <p> "e" . <c> <q> "e" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(checkView(storeRoot, viewRoot, text).contains("a" -> "d"))
  }

  test("seeded differential: an sf0.001 path view across several syncs") {
    val (storeRoot, viewRoot) = freshRoots("diff")
    val graph = "g:customer"
    val text = "SELECT * WHERE { ?x (<nation>|<region>)+ ?y }"
    val head = s"SELECT ?x ?y WHERE { GRAPH <$graph> { " +
      "?x (<nation>|<region>)+ ?y } }"
    QuadStore.init(Quads.build(spark, sf0001), storeRoot)
    ViewStore.createPathFromSparql(spark, storeRoot, viewRoot, text, graph)
    val present = QuadStore.read(spark, storeRoot)
      .filter($"g" === graph && $"p".isin("nation", "region"))
      .select("s", "p", "o").as[(String, String, String)].collect()
      .sortBy(_.toString).take(12).toIndexedSeq
    val nodes = (1 to 4).map(i => s"c:$i") ++ (0 to 3).map(i => s"n:$i") ++
      (0 to 1).map(i => s"r:$i") :+ "c:new"
    val r = new scala.util.Random(20261019L)
    def triple(t: (String, String, String)) = s"""<${t._1}> <${t._2}> "${t._3}" ."""
    def fresh() = (nodes(r.nextInt(nodes.size)),
      if (r.nextBoolean()) "nation" else "region", nodes(r.nextInt(nodes.size)))
    (1 to 4).foreach { round =>
      val ins = Seq.fill(1 + r.nextInt(3))(fresh())
      val del = if (round % 2 == 0) Seq(present(r.nextInt(present.size)),
        present(r.nextInt(present.size))) else Nil
      val ops = Seq(s"INSERT DATA { GRAPH <$graph> { ${ins.map(triple).mkString(" ")} } }") ++
        del.map(t => s"DELETE DATA { GRAPH <$graph> { ${triple(t)} } }")
      QuadStore.update(spark, storeRoot, r.shuffle(ops).mkString(" ;\n"))
      ViewStore.sync(spark, storeRoot, viewRoot)
      assert(pairs(ViewStore.read(spark, viewRoot)) === pairs(
        graft.Graft.sparqlQuads(QuadStore.read(spark, storeRoot), head)),
        s"round $round")
    }
  }
}
