package graft.rdf

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ViewStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rowSet(df: DataFrame): Set[Seq[Any]] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
  }

  private def recompute(storeRoot: String, viewRoot: String): DataFrame = {
    val (g, pats) = ViewStore.definition(viewRoot)
    BgpView.compute(QuadStore.read(spark, storeRoot)
      .filter(col("g") === g).select("s", "p", "o"), pats)
  }

  test("create/sync/read track the store through update batches") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_store").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_view").toString
    val g = "g:x"
    QuadStore.init(Seq(
      ("c1", "name", "alice", g), ("c1", "seg", "B", g),
      ("c2", "name", "bob", g), ("n1", "other", "zzz", "g:y"))
      .toDF("s", "p", "o", "g"), storeRoot)
    val pats = Seq(TP(V("c"), C("name"), V("n")), TP(V("c"), C("seg"), C("B")))
    val v1 = ViewStore.create(spark, storeRoot, viewRoot, pats, g)
    assert(ViewStore.lastSynced(viewRoot) === v1)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === Set(Seq("c1", "alice")))
    // definition survives round-trip, including the graph slice
    assert(ViewStore.definition(viewRoot) === (g, pats))

    // batch 1: c2 joins the view, c1 leaves it
    QuadStore.update(spark, storeRoot,
      s"""INSERT DATA { GRAPH <$g> { <c2> <seg> "B" . } } ;
         |DELETE DATA { GRAPH <$g> { <c1> <seg> "B" . } }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === Set(Seq("c2", "bob")))
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      rowSet(recompute(storeRoot, viewRoot)))

    // batch 2: a fresh member arrives; other-graph noise must not leak in
    QuadStore.update(spark, storeRoot,
      s"""INSERT DATA { GRAPH <$g> { <c3> <name> "carol" . <c3> <seg> "B" . }
         |              GRAPH <g:y> { <c9> <name> "noise" . <c9> <seg> "B" . } }"""
        .stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c2", "bob"), Seq("c3", "carol")))

    // a replayed sync is a no-op; lastSynced tracks the store head
    val head = QuadStore.currentVersion(storeRoot).get
    assert(ViewStore.sync(spark, storeRoot, viewRoot) === head)
    assert(ViewStore.lastSynced(viewRoot) === head)

    // compaction folds the chain into one base and keeps the answer
    val beforeCompact = rowSet(ViewStore.read(spark, viewRoot))
    ViewStore.compact(spark, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === beforeCompact)
    assert(graft.sources.AtomicStore.list(viewRoot)
      .map(_.getPath.getName).count(_.startsWith("s")) === 0,
      "compaction must drop the subsumed segments")

    // syncs keep working off the fresh base
    QuadStore.update(spark, storeRoot,
      s"""DELETE DATA { GRAPH <$g> { <c2> <name> "bob" . } }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === Set(Seq("c3", "carol")))
    // the summary folds from base+segments without materializing the
    // view, and matches the grouped recompute (c2's group netted away)
    assert(rowSet(ViewStore.readCounts(spark, viewRoot, Seq("n"),
        countCol = "cnt")) ===
      rowSet(ViewStore.read(spark, viewRoot).groupBy("n")
        .agg(count(lit(1)).as("cnt"))))
    intercept[IllegalArgumentException](
      ViewStore.readCounts(spark, viewRoot, Seq("n"), countCol = "n"))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("a streaming quad feed drives the maintained view end to end") {
    // CDC loop: exactly-once streaming ingest appends store deltas,
    // sync folds them into the view — no batch recompute anywhere
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.Triple3
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s3").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v3").toString
    val g = "g:live"
    QuadStore.init(Seq(("c1", "name", "alice", g)).toDF("s", "p", "o", "g"),
      storeRoot)
    val pats = Seq(TP(V("c"), C("name"), V("n")), TP(V("c"), C("seg"), C("B")))
    ViewStore.create(spark, storeRoot, viewRoot, pats, g)
    assert(ViewStore.read(spark, viewRoot).count() === 0)
    val mem = MemoryStream[Triple3]
    // the one-hook composition: store append + view sync per micro-batch
    val q = mem.toDF().withColumn("g", lit(g)).writeStream
      .foreachBatch(StreamOps.maintainedViewSink(storeRoot, viewRoot))
      .outputMode("append").start()
    try {
      mem.addData(Triple3("c1", "seg", "B"), Triple3("c2", "name", "bob"))
      q.processAllAvailable()
      assert(rowSet(ViewStore.read(spark, viewRoot)) === Set(Seq("c1", "alice")))
      // a replayed quad (at-least-once shape) plus the completing leg
      mem.addData(Triple3("c1", "seg", "B"), Triple3("c2", "seg", "B"))
      q.processAllAvailable()
      assert(rowSet(ViewStore.read(spark, viewRoot)) ===
        Set(Seq("c1", "alice"), Seq("c2", "bob")))
      assert(rowSet(ViewStore.read(spark, viewRoot)) ===
        rowSet(recompute(storeRoot, viewRoot)))
    } finally q.stop()
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("a streaming feed maintains a PATH view — sync dispatches on mode") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.Triple3
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (storeRoot, viewRoot) = freshRoots("pstream")
    QuadStore.init(Seq(("a", "next", "b", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createPathFromSparql(spark, storeRoot, viewRoot,
      "SELECT * WHERE { ?x (<next>)+ ?y }")
    val mem = MemoryStream[Triple3]
    val q = mem.toDF().withColumn("g", lit("")).writeStream
      .foreachBatch(StreamOps.maintainedViewSink(storeRoot, viewRoot))
      .outputMode("append").start()
    try {
      // two arriving edges extend the chain; the closure must gain the
      // composed 2- and 3-hop pairs, maintained per micro-batch by DRed
      mem.addData(Triple3("b", "next", "c"))
      q.processAllAvailable()
      assert(rowSet(ViewStore.read(spark, viewRoot)) ===
        Set(Seq("a", "b"), Seq("a", "c"), Seq("b", "c")))
      mem.addData(Triple3("c", "next", "d"))
      q.processAllAvailable()
      assert(rowSet(ViewStore.read(spark, viewRoot)) ===
        Set(Seq("a", "b"), Seq("a", "c"), Seq("a", "d"),
          Seq("b", "c"), Seq("b", "d"), Seq("c", "d")))
    } finally q.stop()
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("a streaming feed drives store → view → summary end to end") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.Triple3
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s9").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v9").toString
    val aggRoot = java.nio.file.Files.createTempDirectory("vs_a9").toString
    val g = "g:live"
    QuadStore.init(Seq(("c1", "nat", "de", g)).toDF("s", "p", "o", "g"),
      storeRoot)
    ViewStore.create(spark, storeRoot, viewRoot,
      Seq(TP(V("c"), C("nat"), V("n"))), g)
    ViewStore.createAgg(spark, viewRoot, aggRoot, Seq("n"), countCol = "cnt")
    val mem = MemoryStream[Triple3]
    val q = mem.toDF().withColumn("g", lit(g)).writeStream
      .foreachBatch(StreamOps.maintainedAggSink(storeRoot, viewRoot, aggRoot))
      .outputMode("append").start()
    try {
      mem.addData(Triple3("c2", "nat", "de"), Triple3("c3", "nat", "fr"))
      q.processAllAvailable()
      assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
        Set(Seq(2L, "de"), Seq(1L, "fr")))
      // a replayed triple (at-least-once shape) plus a fresh one
      mem.addData(Triple3("c3", "nat", "fr"), Triple3("c4", "nat", "fr"))
      q.processAllAvailable()
      assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
        Set(Seq(2L, "de"), Seq(2L, "fr")))
    } finally q.stop()
    Seq(storeRoot, viewRoot, aggRoot).foreach(p =>
      rmTree(new java.io.File(p)))
  }

  test("SPARQL-text definitions: the BGP fragment in, the rest rejected") {
    assert(ViewStore.patternsFromSparql(
      """SELECT * WHERE { ?c <name> ?n . ?c <seg> "B" . }""") ===
      Seq(TP(V("c"), C("name"), V("n")), TP(V("c"), C("seg"), C("B"))))
    // a projection naming every variable is the same thing
    assert(ViewStore.patternsFromSparql(
      """SELECT ?n ?c WHERE { ?c <name> ?n . }""") ===
      Seq(TP(V("c"), C("name"), V("n"))))
    // everything beyond the conjunctive fragment is loud
    for (bad <- Seq(
      """SELECT * WHERE { ?c <name> ?n . FILTER (?n = "x") }""",
      """SELECT * WHERE { ?c <name> ?n . OPTIONAL { ?c <x> ?y . } }""",
      """SELECT * WHERE { { ?c <name> ?n . } UNION { ?c <x> ?n . } }""",
      """SELECT * WHERE { ?c <knows>+ ?n . }""",
      """SELECT ?c WHERE { ?c <name> ?n . }""",
      """SELECT DISTINCT * WHERE { ?c <name> ?n . }""",
      """SELECT (COUNT(?c) AS ?k) WHERE { ?c <name> ?n . }"""))
      intercept[IllegalArgumentException](
        ViewStore.patternsFromSparql(bad))
    // and the text path drives the real lifecycle
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s4").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v4").toString
    QuadStore.init(Seq(("c1", "name", "alice", ""), ("c1", "seg", "B", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createFromSparql(spark, storeRoot, viewRoot,
      """SELECT * WHERE { ?c <name> ?n . ?c <seg> "B" . }""")
    assert(rowSet(ViewStore.read(spark, viewRoot)) === Set(Seq("c1", "alice")))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("a graph CLEAR in the sync range empties the view via the " +
      "changes fallback") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s6").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v6").toString
    val g = "g:x"
    QuadStore.init(Seq(("c1", "name", "alice", g), ("c1", "seg", "B", g))
      .toDF("s", "p", "o", "g"), storeRoot)
    val pats = Seq(TP(V("c"), C("name"), V("n")), TP(V("c"), C("seg"), C("B")))
    ViewStore.create(spark, storeRoot, viewRoot, pats, g)
    assert(ViewStore.read(spark, viewRoot).count() === 1)
    // CLEAR is a store-sized effect no delta segment enumerates —
    // QuadStore.changes falls back to the exact snapshot diff, and the
    // view-level delta nets every binding away
    QuadStore.update(spark, storeRoot, s"CLEAR GRAPH <$g>")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(ViewStore.read(spark, viewRoot).count() === 0)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      rowSet(recompute(storeRoot, viewRoot)))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("sync after retention dropped the last synced version fails " +
      "loudly, never silently diverges") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s7").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v7").toString
    QuadStore.init(Seq(("c1", "name", "alice", "")).toDF("s", "p", "o", "g"),
      storeRoot)
    ViewStore.create(spark, storeRoot, viewRoot,
      Seq(TP(V("c"), C("name"), V("n"))))
    // advance the store far past the view, then vacuum the view's
    // pinned version away
    (1 to 4).foreach(i => QuadStore.update(spark, storeRoot,
      s"""INSERT DATA { <c$i> <name> "x$i" . }"""))
    QuadStore.vacuum(storeRoot, keep = 2)
    intercept[Exception] {
      ViewStore.sync(spark, storeRoot, viewRoot)
    }
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("a persisted QUAD view tracks every graph through update batches") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s8").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v8").toString
    QuadStore.init(Seq(
      ("c1", "name", "alice", "gA"), ("c1", "seg", "B", "gA"),
      ("c2", "name", "bob", "gB")).toDF("s", "p", "o", "g"), storeRoot)
    val pats = Seq((TP(V("c"), C("name"), V("n")), V("gr")),
      (TP(V("c"), C("seg"), C("B")), V("gr")))
    ViewStore.createQuads(spark, storeRoot, viewRoot, pats)
    assert(ViewStore.isQuadView(viewRoot))
    assert(ViewStore.definitionQuads(viewRoot) === pats)
    intercept[IllegalArgumentException](ViewStore.definition(viewRoot))
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c1", "gA", "alice")))
    // one request touches TWO graphs; one sync folds both
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { GRAPH <gB> { <c2> <seg> "B" . } } ;
        |DELETE DATA { GRAPH <gA> { <c1> <seg> "B" . } }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c2", "gB", "bob")))
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      rowSet(BgpView.computeQuads(QuadStore.read(spark, storeRoot), pats)))
    // summaries group on the graph column like any other view variable
    assert(rowSet(ViewStore.readCounts(spark, viewRoot, Seq("gr"),
        countCol = "cnt")) === Set(Seq(1L, "gB")))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("quad views define from SPARQL text with GRAPH blocks") {
    assert(ViewStore.quadPatternsFromSparql(
      """SELECT * WHERE {
        |  ?c <kind> "k" .
        |  GRAPH ?g { ?c <name> ?n . }
        |  GRAPH <gMeta> { ?c <flag> "y" . }
        |}""".stripMargin) === Seq(
      (TP(V("c"), C("kind"), C("k")), C("")),
      (TP(V("c"), C("name"), V("n")), V("g")),
      (TP(V("c"), C("flag"), C("y")), C("gMeta"))))
    // non-conjunctive bodies and narrowing projections stay loud
    intercept[IllegalArgumentException](ViewStore.quadPatternsFromSparql(
      """SELECT * WHERE { GRAPH ?g { ?c <name> ?n . FILTER (?n = "x") } }"""))
    intercept[IllegalArgumentException](ViewStore.quadPatternsFromSparql(
      """SELECT ?c WHERE { GRAPH ?g { ?c <name> ?n . } }"""))
    // the text path drives the persisted quad-view lifecycle
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s9").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v9").toString
    QuadStore.init(Seq(("c1", "name", "alice", "gA"), ("c1", "seg", "B", "gA"))
      .toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createQuadsFromSparql(spark, storeRoot, viewRoot,
      """SELECT * WHERE { GRAPH ?g { ?c <name> ?n . ?c <seg> "B" . } }""")
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c1", "gA", "alice")))
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { GRAPH <gB> { <c2> <name> "bob" . <c2> <seg> "B" . } }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c1", "gA", "alice"), Seq("c2", "gB", "bob")))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("persisted aggregate view: maintained from view segments alone") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s7").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v7").toString
    val aggRoot = java.nio.file.Files.createTempDirectory("vs_a7").toString
    val g = "g:x"
    QuadStore.init(Seq(
      ("c1", "name", "alice", g), ("c1", "nat", "de", g),
      ("c2", "name", "bob", g), ("c2", "nat", "de", g),
      ("c3", "name", "carol", g), ("c3", "nat", "fr", g))
      .toDF("s", "p", "o", "g"), storeRoot)
    val pats = Seq(TP(V("c"), C("name"), V("n")), TP(V("c"), C("nat"), V("nat")))
    ViewStore.create(spark, storeRoot, viewRoot, pats, g)
    ViewStore.createAgg(spark, viewRoot, aggRoot, Seq("nat"), countCol = "cnt")
    assert(ViewStore.definitionAgg(aggRoot) ===
      ((Seq("nat"), "cnt", Nil, Nil)))
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
      Set(Seq(2L, "de"), Seq(1L, "fr")))

    // churn round 1: a member joins de, carol leaves fr (group nets to 0)
    QuadStore.update(spark, storeRoot,
      s"""INSERT DATA { GRAPH <$g> { <c4> <name> "dan" . <c4> <nat> "de" . } } ;
         |DELETE DATA { GRAPH <$g> { <c3> <nat> "fr" . } }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)
    // churn round 2: fr returns with one member
    QuadStore.update(spark, storeRoot,
      s"""INSERT DATA { GRAPH <$g> { <c5> <name> "eve" . <c5> <nat> "fr" . } }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)

    // the summary is maintained OFF SEGMENTS ALONE: deleting the binding
    // view's BASE snapshot breaks read()/readCounts(), but the persisted
    // summary neither notices nor refolds — the whole point of the
    // artifact (a dashboard over a corpus-sized view never touches it)
    val baseName = graft.sources.AtomicStore.list(viewRoot)
      .map(_.getPath.getName).filter(_.startsWith("b")).min
    graft.sources.AtomicStore.delete(s"$viewRoot/$baseName")
    intercept[Exception](ViewStore.read(spark, viewRoot).collect())
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
      Set(Seq(3L, "de"), Seq(1L, "fr")),
      "summary must land on the GROUP BY oracle off segments alone")

    // replayed syncAgg is a no-op; compaction folds and keeps the answer
    assert(ViewStore.syncAgg(spark, viewRoot, aggRoot) ===
      ViewStore.lastSynced(viewRoot))
    val before = rowSet(ViewStore.readAgg(spark, aggRoot))
    ViewStore.compactAgg(spark, aggRoot)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === before)
    assert(graft.sources.AtomicStore.list(aggRoot)
      .map(_.getPath.getName).count(_.startsWith("s")) === 0)

    // retention contract: compacting the VIEW past the summary's
    // coverage makes the next syncAgg loud, never silently stale
    QuadStore.update(spark, storeRoot,
      s"""DELETE DATA { GRAPH <$g> { <c5> <nat> "fr" . } }""")
    // restore a readable view base first (the earlier delete broke read)
    // by re-creating the view at the store head, then advancing past it
    rmTree(new java.io.File(viewRoot))
    ViewStore.create(spark, storeRoot, viewRoot, pats, g)
    QuadStore.update(spark, storeRoot,
      s"""INSERT DATA { GRAPH <$g> { <c6> <name> "fin" . <c6> <nat> "fi" . } }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    val agg2 = java.nio.file.Files.createTempDirectory("vs_a7b").toString
    ViewStore.createAgg(spark, viewRoot, agg2, Seq("nat"), countCol = "cnt")
    QuadStore.update(spark, storeRoot,
      s"""INSERT DATA { GRAPH <$g> { <c7> <name> "gus" . <c7> <nat> "fi" . } }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.compact(spark, viewRoot) // drops the segment syncAgg needs
    val boom = intercept[IllegalArgumentException](
      ViewStore.syncAgg(spark, viewRoot, agg2))
    assert(boom.getMessage.contains("compacted past"), boom.getMessage)
    Seq(storeRoot, viewRoot, aggRoot, agg2).foreach(p =>
      rmTree(new java.io.File(p)))
  }

  test("time-travel readAt: the view as it stood at each synced version") {
    val (storeRoot, viewRoot) = freshRoots("tt")
    QuadStore.init(Seq(("c1", "seg", "B", ""), ("c2", "seg", "A", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    val v1 = ViewStore.create(spark, storeRoot, viewRoot,
      Seq(TP(V("c"), C("seg"), C("B"))))
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <c2> <seg> "B" }""")
    val v2 = ViewStore.sync(spark, storeRoot, viewRoot)
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c1> <seg> "B" }""")
    val v3 = ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.readAt(spark, viewRoot, v1)) ===
      Set(Seq("c1")))
    assert(rowSet(ViewStore.readAt(spark, viewRoot, v2)) ===
      Set(Seq("c1"), Seq("c2")))
    assert(rowSet(ViewStore.readAt(spark, viewRoot, v3)) ===
      rowSet(ViewStore.read(spark, viewRoot)))
    // a version no sync landed on is loud, not interpolated
    intercept[IllegalArgumentException](
      ViewStore.readAt(spark, viewRoot, v3 + 7))
    // compaction rewrites the base forward: older pins leave the window
    ViewStore.compact(spark, viewRoot)
    intercept[IllegalArgumentException](
      ViewStore.readAt(spark, viewRoot, v1))
    assert(rowSet(ViewStore.readAt(spark, viewRoot, v3)) ===
      Set(Seq("c2")))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("SUM-measure summary maintained through churn, incl. count-zero") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s9").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v9").toString
    val aggRoot = java.nio.file.Files.createTempDirectory("vs_a9").toString
    QuadStore.init(Seq(
      ("c1", "nat", "de", ""), ("c1", "bal", "10", ""),
      ("c2", "nat", "de", ""), ("c2", "bal", "5", ""),
      ("c3", "nat", "fr", ""), ("c3", "bal", "7", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    val pats = Seq(TP(V("c"), C("nat"), V("nat")),
      TP(V("c"), C("bal"), V("bal")))
    ViewStore.create(spark, storeRoot, viewRoot, pats)
    ViewStore.createAgg(spark, viewRoot, aggRoot, Seq("nat"),
      countCol = "cnt", sums = Seq("total" -> "bal"))
    assert(ViewStore.definitionAgg(aggRoot) ===
      ((Seq("nat"), "cnt", Seq("total" -> "bal"), Nil)))
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
      Set(Seq(2L, "de", 15L), Seq(1L, "fr", 7L)))
    // churn 1: c3's balance CHANGES (fr count nets to 0, sum must move)
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c3> <bal> "7" } ;
        |INSERT DATA { <c3> <bal> "9" }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
      Set(Seq(2L, "de", 15L), Seq(1L, "fr", 9L)),
      "a count-neutral value change must still move the sum")
    // churn 2: de loses a member, a new group arrives
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c2> <nat> "de" } ;
        |INSERT DATA { <c4> <nat> "fi" . <c4> <bal> "3" }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)
    val expect = Set(Seq(1L, "de", 10L), Seq(1L, "fi", 3L),
      Seq(1L, "fr", 9L))
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === expect)
    // time-travel on the SUMMARY: the dashboard as it stood before
    // churn 2 (fr already at 9, de still at 2 members)
    assert(rowSet(ViewStore.readAggAt(spark, aggRoot,
        ViewStore.lastSynced(aggRoot) - 1)) ===
      Set(Seq(2L, "de", 15L), Seq(1L, "fr", 9L)))
    intercept[IllegalArgumentException](
      ViewStore.readAggAt(spark, aggRoot, 99))
    // compaction keeps measures; replay is a no-op
    ViewStore.compactAgg(spark, aggRoot)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === expect)
    assert(ViewStore.syncAgg(spark, viewRoot, aggRoot) ===
      ViewStore.lastSynced(viewRoot))
    // a non-integer lexical form in the measure fails LOUDLY at sync
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <c5> <nat> "fi" . <c5> <bal> "oops" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    val boom = intercept[Exception] {
      ViewStore.syncAgg(spark, viewRoot, aggRoot)
      ViewStore.readAgg(spark, aggRoot).collect()
    }
    assert(boom.getMessage.contains("non-integer value in SUM measure"),
      boom.getMessage)
    // the one-call SPARQL pipeline carries SUM measures end to end:
    // bootstrap folds the binding VALUES, so the "oops" row in this
    // store's head makes it loud right at create
    val v2 = java.nio.file.Files.createTempDirectory("vs_v9b").toString
    val a2 = java.nio.file.Files.createTempDirectory("vs_a9b").toString
    val boom2 = intercept[Exception](
      ViewStore.createAggFromSparql(spark, storeRoot, v2, a2,
        """SELECT ?nat (COUNT(*) AS ?cnt) (SUM(?bal) AS ?total) WHERE {
          |  ?c <nat> ?nat . ?c <bal> ?bal . } GROUP BY ?nat"""
          .stripMargin))
    assert(boom2.getMessage.contains("non-integer value in SUM measure"),
      boom2.getMessage)
    Seq(storeRoot, viewRoot, aggRoot, v2, a2).foreach(p =>
      rmTree(new java.io.File(p)))
  }

  test("MIN/MAX/AVG summary: deleted extremum resolves to the runner-up " +
      "from persisted support counts, never a view rescan") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_sx").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_vx").toString
    val aggRoot = java.nio.file.Files.createTempDirectory("vs_ax").toString
    QuadStore.init(Seq(
      ("c1", "nat", "de", ""), ("c1", "bal", "10", ""),
      ("c2", "nat", "de", ""), ("c2", "bal", "5", ""),
      ("c3", "nat", "fr", ""), ("c3", "bal", "7", ""),
      ("c4", "nat", "fr", ""), ("c4", "bal", "3", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    val pats = Seq(TP(V("c"), C("nat"), V("nat")),
      TP(V("c"), C("bal"), V("bal")))
    ViewStore.create(spark, storeRoot, viewRoot, pats)
    val exts = Seq(("lo", "bal", "min"), ("hi", "bal", "max"),
      ("mean", "bal", "avg"))
    ViewStore.createAgg(spark, viewRoot, aggRoot, Seq("nat"),
      countCol = "cnt", sums = Seq("total" -> "bal"), exts = exts)
    // definition round-trips through the aggx meta head
    assert(ViewStore.definitionAgg(aggRoot) ===
      ((Seq("nat"), "cnt", Seq("total" -> "bal"), exts)))
    // rowSet orders columns by name: cnt, hi, lo, mean, nat, total
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === Set(
      Seq(2L, 10L, 5L, 7.5d, "de", 15L),
      Seq(2L, 7L, 3L, 5.0d, "fr", 10L)))
    // churn 1: de LOSES ITS MINIMUM (c2 leaves the view) — the naive-IVM
    // killer; fr's c3 changes value 7→9 (extremum value churn both ways)
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c2> <bal> "5" . <c3> <bal> "7" } ;
        |INSERT DATA { <c3> <bal> "9" }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === Set(
      Seq(1L, 10L, 10L, 10.0d, "de", 10L),
      Seq(2L, 9L, 3L, 6.0d, "fr", 12L)),
      "deleting the minimum must reveal the runner-up")
    // churn 2: a new de maximum arrives, fr loses its minimum member
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <c5> <nat> "de" . <c5> <bal> "20" } ;
        |DELETE DATA { <c4> <nat> "fr" }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)
    val afterTwo = Set(
      Seq(2L, 20L, 10L, 15.0d, "de", 30L),
      Seq(1L, 9L, 9L, 9.0d, "fr", 9L))
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === afterTwo)
    // summary time travel serves extremums at the pinned version too
    assert(rowSet(ViewStore.readAggAt(spark, aggRoot,
        ViewStore.lastSynced(aggRoot) - 1)) === Set(
      Seq(1L, 10L, 10L, 10.0d, "de", 10L),
      Seq(2L, 9L, 3L, 6.0d, "fr", 12L)))
    // compaction folds at the PERSISTED (group, value) grain…
    ViewStore.compactAgg(spark, aggRoot)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === afterTwo)
    // …so a post-compaction extremum delete still finds the runner-up
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c5> <bal> "20" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === Set(
      Seq(1L, 10L, 10L, 10.0d, "de", 10L),
      Seq(1L, 9L, 9L, 9.0d, "fr", 9L)),
      "the compacted base must keep runner-up supports")
    Seq(storeRoot, viewRoot, aggRoot).foreach(p =>
      rmTree(new java.io.File(p)))
  }

  test("extremum summary: a support-neutral swap must still move sums " +
      "over OTHER variables (no liveness filter at the fine grain)") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_sy").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_vy").toString
    val aggRoot = java.nio.file.Files.createTempDirectory("vs_ay").toString
    QuadStore.init(Seq(
      ("c1", "nat", "de", ""), ("c1", "bal", "10", ""),
      ("c1", "sc", "2", ""),
      ("c2", "nat", "de", ""), ("c2", "bal", "7", ""),
      ("c2", "sc", "4", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    val pats = Seq(TP(V("c"), C("nat"), V("nat")),
      TP(V("c"), C("bal"), V("bal")), TP(V("c"), C("sc"), V("sc")))
    ViewStore.create(spark, storeRoot, viewRoot, pats)
    ViewStore.createAgg(spark, viewRoot, aggRoot, Seq("nat"),
      countCol = "cnt", sums = Seq("tsc" -> "sc"),
      exts = Seq(("lo", "bal", "min")))
    // columns sorted: cnt, lo, nat, tsc
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
      Set(Seq(2L, 7L, "de", 6L)))
    // c1 (bal 10, sc 2) swaps for c9 (bal 10, sc 8): the fine combo
    // (de, 10)'s support nets to ZERO change while tsc moves +6 — a
    // liveness filter before the sum re-aggregation would lose it
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c1> <nat> "de" . <c1> <bal> "10" . <c1> <sc> "2" } ;
        |INSERT DATA { <c9> <nat> "de" . <c9> <bal> "10" . <c9> <sc> "8" }"""
        .stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
      Set(Seq(2L, 7L, "de", 12L)))
    Seq(storeRoot, viewRoot, aggRoot).foreach(p =>
      rmTree(new java.io.File(p)))
  }

  test("aggregate views define from SPARQL text; the rest is loud") {
    assert(ViewStore.aggPatternsFromSparql(
      """SELECT ?nat (COUNT(*) AS ?cnt) WHERE {
        |  ?c <seg> "B" . ?c <nat> ?nat . } GROUP BY ?nat""".stripMargin) ===
      ((Seq(TP(V("c"), C("seg"), C("B")), TP(V("c"), C("nat"), V("nat"))),
        Seq("nat"), "cnt", Nil, Nil)))
    // SUM measures parse alongside the COUNT
    assert(ViewStore.aggPatternsFromSparql(
      """SELECT ?nat (COUNT(*) AS ?cnt) (SUM(?bal) AS ?total)
        |WHERE { ?c <bal> ?bal . ?c <nat> ?nat . } GROUP BY ?nat"""
        .stripMargin)._4 === Seq("total" -> "bal"))
    // MIN/MAX/AVG parse as extremum measures
    assert(ViewStore.aggPatternsFromSparql(
      """SELECT ?nat (COUNT(*) AS ?cnt) (MIN(?bal) AS ?lo)
        |  (MAX(?bal) AS ?hi) (AVG(?bal) AS ?mean)
        |WHERE { ?c <bal> ?bal . ?c <nat> ?nat . } GROUP BY ?nat"""
        .stripMargin)._5 === Seq(("lo", "bal", "min"),
        ("hi", "bal", "max"), ("mean", "bal", "avg")))
    // SAMPLE and DISTINCT aggregates stay out — not delta-maintainable
    for (bad <- Seq(
      """SELECT ?nat (COUNT(*) AS ?n) (SAMPLE(?bal) AS ?s)
        |WHERE { ?c <bal> ?bal . ?c <nat> ?nat . } GROUP BY ?nat"""
        .stripMargin,
      """SELECT ?nat (COUNT(*) AS ?n) (SUM(DISTINCT ?bal) AS ?s)
        |WHERE { ?c <bal> ?bal . ?c <nat> ?nat . } GROUP BY ?nat"""
        .stripMargin))
      intercept[IllegalArgumentException](
        ViewStore.aggPatternsFromSparql(bad))
    for (bad <- Seq(
      // no GROUP BY
      """SELECT (COUNT(*) AS ?n) WHERE { ?c <nat> ?nat . }""",
      // non-COUNT aggregate
      """SELECT ?nat (SUM(?x) AS ?n) WHERE { ?c <nat> ?nat . ?c <x> ?x . }
        |GROUP BY ?nat""".stripMargin,
      // projection must be groupVars + alias
      """SELECT ?nat WHERE { ?c <nat> ?nat . } GROUP BY ?nat""",
      // beyond the conjunctive fragment
      """SELECT ?nat (COUNT(*) AS ?n) WHERE {
        |  ?c <nat> ?nat . OPTIONAL { ?c <x> ?y . } } GROUP BY ?nat"""
        .stripMargin,
      // modifiers
      """SELECT ?nat (COUNT(*) AS ?n) WHERE { ?c <nat> ?nat . }
        |GROUP BY ?nat LIMIT 5""".stripMargin))
      intercept[IllegalArgumentException](
        ViewStore.aggPatternsFromSparql(bad))
    // the one-call pipeline drives the real lifecycle
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s8").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v8").toString
    val aggRoot = java.nio.file.Files.createTempDirectory("vs_a8").toString
    QuadStore.init(Seq(
      ("c1", "seg", "B", ""), ("c1", "nat", "de", ""),
      ("c2", "seg", "B", ""), ("c2", "nat", "de", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createAggFromSparql(spark, storeRoot, viewRoot, aggRoot,
      """SELECT ?nat (COUNT(*) AS ?cnt) WHERE {
        |  ?c <seg> "B" . ?c <nat> ?nat . } GROUP BY ?nat""".stripMargin)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) === Set(Seq(2L, "de")))
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <c3> <seg> "B" . <c3> <nat> "fr" . }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    ViewStore.syncAgg(spark, viewRoot, aggRoot)
    assert(rowSet(ViewStore.readAgg(spark, aggRoot)) ===
      Set(Seq(2L, "de"), Seq(1L, "fr")))
    Seq(storeRoot, viewRoot, aggRoot).foreach(p =>
      rmTree(new java.io.File(p)))
  }

  test("a chain gap is rejected loudly, not silently mis-served") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s5").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v5").toString
    QuadStore.init(Seq(("c1", "name", "alice", "")).toDF("s", "p", "o", "g"),
      storeRoot)
    val pats = Seq(TP(V("c"), C("name"), V("n")))
    val v1 = ViewStore.create(spark, storeRoot, viewRoot, pats)
    QuadStore.update(spark, storeRoot, """INSERT DATA { <c2> <name> "b" . }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    QuadStore.update(spark, storeRoot, """INSERT DATA { <c3> <name> "c" . }""")
    val v3 = ViewStore.sync(spark, storeRoot, viewRoot)
    assert(ViewStore.read(spark, viewRoot).count() === 3)
    // simulate the two-racing-syncers hole: the middle segment vanishes
    graft.sources.AtomicStore.delete(f"$viewRoot%s/s${v1}%05d" + f"_${v1 + 1}%05d")
    val boom = intercept[IllegalArgumentException](
      ViewStore.read(spark, viewRoot))
    assert(boom.getMessage.contains("chain gap"), boom.getMessage)
    // the SUMMARY read path runs the same gate — a gapped chain must
    // never silently sum the wrong segment set (round-6 advice)
    val boomCounts = intercept[IllegalArgumentException](
      ViewStore.readCounts(spark, viewRoot, Seq("n"), countCol = "cnt"))
    assert(boomCounts.getMessage.contains("chain gap"), boomCounts.getMessage)
    assert(v3 === v1 + 2)
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("definition armors hostile terms; non-string constants reject") {
    val storeRoot = java.nio.file.Files.createTempDirectory("vs_s2").toString
    val viewRoot = java.nio.file.Files.createTempDirectory("vs_v2").toString
    val nasty = "we\"ird\tterm\nwith\\stuff"
    QuadStore.init(Seq((nasty, "p", "x", "")).toDF("s", "p", "o", "g"),
      storeRoot)
    val pats = Seq(TP(V("s"), C("p"), C(nasty)))
    ViewStore.create(spark, storeRoot, viewRoot, pats)
    assert(ViewStore.definition(viewRoot) === (("", pats)))
    intercept[IllegalArgumentException](
      ViewStore.create(spark, storeRoot, viewRoot + "_2",
        Seq(TP(V("s"), C(42L), V("o")))))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  // ---- beyond the conjunctive fragment --------------------------------

  private def freshRoots(tag: String): (String, String) = (
    java.nio.file.Files.createTempDirectory(s"vs_${tag}_store").toString,
    java.nio.file.Files.createTempDirectory(s"vs_${tag}_view").toString)

  test("filtered view: row-local FILTER constraints restrict bootstrap " +
      "and every delta feed; threshold exits retract") {
    val (storeRoot, viewRoot) = freshRoots("filt")
    QuadStore.init(Seq(
      ("c1", "seg", "B", ""), ("c1", "bal", "50", ""),
      ("c2", "seg", "B", ""), ("c2", "bal", "5", ""),
      ("c3", "seg", "A", ""), ("c3", "bal", "90", ""))
      .toDF("s", "p", "o", "g"), storeRoot)
    val defText =
      """SELECT * WHERE { ?c <seg> ?s . ?c <bal> ?b .
        |  FILTER (?s = "B" && ?b > 10) }""".stripMargin
    ViewStore.createFilteredFromSparql(spark, storeRoot, viewRoot, defText)
    assert(ViewStore.mode(viewRoot) === "filtered")
    // bootstrap: only c1 passes both constraints
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("50", "c1", "B")))
    def filteredRecompute(): Set[Seq[Any]] = {
      val t = QuadStore.read(spark, storeRoot)
        .filter(col("g") === "").select("s", "p", "o")
      rowSet(BgpView.compute(t,
          Seq(TP(V("c"), C("seg"), V("s")), TP(V("c"), C("bal"), V("b"))))
        .filter(col("s") === "B" &&
          expr("try_cast(b AS double)") > 10))
    }
    // churn 1: c2 crosses the threshold, c4 arrives passing, c1's seg
    // flips to A (exits via the CONSTANT constraint)
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c2> <bal> "5" . <c1> <seg> "B" . } ;
        |INSERT DATA { <c2> <bal> "55" . <c1> <seg> "A" .
        |  <c4> <seg> "B" . <c4> <bal> "11" . }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === filteredRecompute())
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("55", "c2", "B"), Seq("11", "c4", "B")))
    // churn 2: c4 drops BELOW the threshold — a row that passed in an
    // earlier round must retract
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c4> <bal> "11" . } ;
        |INSERT DATA { <c4> <bal> "9" . }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === filteredRecompute())
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("55", "c2", "B")))
    // compaction preserves the filtered answer
    ViewStore.compact(spark, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("55", "c2", "B")))
    // beyond the fragment: unbound filter vars and no-filter bodies loud
    intercept[IllegalArgumentException] {
      ViewStore.filteredPatternsFromSparql(
        """SELECT * WHERE { ?c <seg> ?s . FILTER (?zz > 10) }""")
    }
    intercept[IllegalArgumentException] {
      ViewStore.filteredPatternsFromSparql(
        """SELECT * WHERE { ?c <seg> ?s . }""")
    }
  }

  test("union view: persisted support counts survive branch exits") {
    val (storeRoot, viewRoot) = freshRoots("union")
    QuadStore.init(Seq(
      ("c1", "seg", "B", ""), ("c1", "vip", "y", ""),
      ("c2", "seg", "A", ""), ("c2", "vip", "y", ""),
      ("c3", "seg", "B", "")).toDF("s", "p", "o", "g"), storeRoot)
    val text =
      """SELECT * WHERE {
        |  { ?c <seg> "B" } UNION { ?c <seg> "A" . ?c <vip> "y" } }"""
        .stripMargin
    ViewStore.createUnionFromSparql(spark, storeRoot, viewRoot, text)
    assert(ViewStore.mode(viewRoot) === "union")
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c1"), Seq("c2"), Seq("c3")))
    // c1 flips B→A: leaves branch 1, ENTERS branch 2 — membership holds
    // because support moves 1→1 (the over-delete a set-delta union makes)
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c1> <seg> "B" } ; INSERT DATA { <c1> <seg> "A" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c1"), Seq("c2"), Seq("c3")))
    // cut the LAST deriving branch; counts fold without the binding view
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c1> <vip> "y" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c2"), Seq("c3")))
    // compaction preserves support counts (c2 must survive losing ONE
    // branch after compaction, so supports — not memberships — folded)
    ViewStore.compact(spark, viewRoot)
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <c2> <seg> "B" } ;
        |DELETE DATA { <c2> <seg> "A" }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c2"), Seq("c3")))
    assert(rowSet(ViewStore.readCounts(spark, viewRoot, Seq("c"))) ===
      Set(Seq("c2", 1L), Seq("c3", 1L)))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("optional view: persisted pad transitions through churn") {
    val (storeRoot, viewRoot) = freshRoots("opt")
    QuadStore.init(Seq(
      ("c1", "name", "alice", ""), ("c1", "ord", "o1", ""),
      ("c2", "name", "bob", "")).toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createOptionalFromSparql(spark, storeRoot, viewRoot,
      "SELECT * WHERE { ?c <name> ?n OPTIONAL { ?c <ord> ?o } }")
    assert(ViewStore.mode(viewRoot) === "optional")
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c1", "alice", "o1"), Seq("c2", "bob", null)))
    // c2 pads→matches, c1 matches→pads, matchless c3 arrives
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <c2> <ord> "o2" . <c3> <name> "carol" } ;
        |DELETE DATA { <c1> <ord> "o1" }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c1", "alice", null), Seq("c2", "bob", "o2"),
        Seq("c3", "carol", null)))
    ViewStore.compact(spark, viewRoot)
    // post-compaction: the padded c1 leaves entirely
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <c1> <name> "alice" }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("c2", "bob", "o2"), Seq("c3", "carol", null)))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("path view: persisted closure maintained by DRed through churn") {
    val (storeRoot, viewRoot) = freshRoots("path")
    QuadStore.init(Seq(
      ("a", "next", "b", ""), ("b", "next", "c", ""),
      ("c", "hop", "d", "")).toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createPathFromSparql(spark, storeRoot, viewRoot,
      "SELECT * WHERE { ?x (<next>|<hop>)+ ?y }")
    assert(ViewStore.mode(viewRoot) === "path")
    val full = Set(Seq("a", "b"), Seq("a", "c"), Seq("a", "d"),
      Seq("b", "c"), Seq("b", "d"), Seq("c", "d"))
    assert(rowSet(ViewStore.read(spark, viewRoot)) === full)
    // sever b→c; keep (b,?) alive via a fresh bypass in the SAME batch
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <b> <next> "c" } ;
        |INSERT DATA { <b> <hop> "d" }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("a", "b"), Seq("a", "d"), Seq("b", "d"), Seq("c", "d")))
    // alternation subtlety: deleting ONE predicate of a doubly-derived
    // edge must not drop the pair
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <b> <next> "d" } ;
        |DELETE DATA { <b> <hop> "d" }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("a", "b"), Seq("a", "d"), Seq("b", "d"), Seq("c", "d")))
    ViewStore.compact(spark, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("a", "b"), Seq("a", "d"), Seq("b", "d"), Seq("c", "d")))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("sequence-path view: conjunctive edge deltas + DRed through churn") {
    val (storeRoot, viewRoot) = freshRoots("pathseq")
    // p/q composed edges over: a-p->m1-q->b, b-p->m2-q->c  ⇒ E = {ab, bc}
    QuadStore.init(Seq(
      ("a", "p", "m1", ""), ("m1", "q", "b", ""),
      ("b", "p", "m2", ""), ("m2", "q", "c", "")).toDF("s", "p", "o", "g"),
      storeRoot)
    ViewStore.createPathSeqFromSparql(spark, storeRoot, viewRoot,
      "SELECT * WHERE { ?x (<p>/<q>)+ ?y }")
    assert(ViewStore.mode(viewRoot) === "pathexpr")
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("a", "b"), Seq("a", "c"), Seq("b", "c")))
    // churn 1: grow c's chain (composed edge c→d appears, plus derived)
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <c> <p> "m3" . <m3> <q> "d" . }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("a", "b"), Seq("a", "c"), Seq("a", "d"),
        Seq("b", "c"), Seq("b", "d"), Seq("c", "d")))
    // churn 2: sever ONE leg of the a→b composed edge — DRed retracts
    // every pair derived through it, downstream pairs survive
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <m1> <q> "b" . }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("b", "c"), Seq("b", "d"), Seq("c", "d")))
    // multi-derivation survival: give b→c a SECOND derivation, then
    // delete the first — the composed edge must hold (the conjunctive
    // candidates overcount; the membership screen nets them)
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <b> <p> "m4" . <m4> <q> "c" . } ;
        |DELETE DATA { <b> <p> "m2" . }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("b", "c"), Seq("b", "d"), Seq("c", "d")))
    // a MID-node swap that rederives the same composed edge is a no-op
    ViewStore.compact(spark, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("b", "c"), Seq("b", "d"), Seq("c", "d")))
    // maintained ≡ recompute from the final state
    val recomputed = Paths.transitiveClosure(
      QuadStore.read(spark, storeRoot)
        .filter(col("p") === "p")
        .select(col("s").as("src"), col("o").as("__m"))
        .join(QuadStore.read(spark, storeRoot).filter(col("p") === "q")
          .select(col("s").as("__m"), col("o").as("dst")), "__m")
        .select("src", "dst").distinct())
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      recomputed.collect().map(r => Seq(r.getString(0), r.getString(1)))
        .toSet)
    // alternation INSIDE a step parses; three-step sequences parse
    assert(ViewStore.pathSeqFromSparql(
      "SELECT * WHERE { ?x ((<a>|^<b>)/<c>/<d>)+ ?y }") ===
      (("x", "y", Seq((Seq("a"), Seq("b")), (Seq("c"), Seq.empty),
        (Seq("d"), Seq.empty)))))
    // nested closure inside a step stays rejected
    intercept[IllegalArgumentException](ViewStore.pathSeqFromSparql(
      "SELECT * WHERE { ?x (<a>+/<b>)+ ?y }"))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("general path-expression view: ((p/q)|r)+ maintained through " +
      "churn, cross-branch derivation survival, DRed retraction") {
    val (storeRoot, viewRoot) = freshRoots("pathexpr")
    // branch A = p/q composed edges, branch B = plain r edges
    QuadStore.init(Seq(
      ("a", "p", "m1", ""), ("m1", "q", "b", ""), // A-edge a→b
      ("b", "r", "c", "")                         // B-edge b→c
    ).toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createPathExprFromSparql(spark, storeRoot, viewRoot,
      "SELECT * WHERE { ?x ((<p>/<q>)|<r>)+ ?y }")
    assert(ViewStore.mode(viewRoot) === "pathexpr")
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("a", "b"), Seq("a", "c"), Seq("b", "c")))
    // churn 1: extend the chain through BOTH branches (r edge c→d,
    // composed edge d→e) — both branch deltas fire in one sync
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <c> <r> "d" . <d> <p> "m2" . <m2> <q> "e" . }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("a", "b"), Seq("a", "c"), Seq("a", "d"), Seq("a", "e"),
        Seq("b", "c"), Seq("b", "d"), Seq("b", "e"),
        Seq("c", "d"), Seq("c", "e"), Seq("d", "e")))
    // churn 2: sever a→b's only derivation (DRed drops a's pairs);
    // SWAP b→c's derivation across branches in one batch — the r edge
    // leaves, a fresh p/q chain arrives — the composed edge must hold
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <m1> <q> "b" . <b> <r> "c" . } ;
        |INSERT DATA { <b> <p> "m3" . <m3> <q> "c" . }""".stripMargin)
    ViewStore.sync(spark, storeRoot, viewRoot)
    val expected = Set(Seq("b", "c"), Seq("b", "d"), Seq("b", "e"),
      Seq("c", "d"), Seq("c", "e"), Seq("d", "e"))
    assert(rowSet(ViewStore.read(spark, viewRoot)) === expected)
    ViewStore.compact(spark, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === expected)
    // maintained ≡ recompute from the final store state
    val t = QuadStore.read(spark, storeRoot)
    val seqE = t.filter(col("p") === "p")
      .select(col("s").as("src"), col("o").as("__m"))
      .join(t.filter(col("p") === "q")
        .select(col("s").as("__m"), col("o").as("dst")), "__m")
      .select("src", "dst")
    val altE = t.filter(col("p") === "r")
      .select(col("s").as("src"), col("o").as("dst"))
    val recomputed = Paths.transitiveClosure(
      seqE.unionByName(altE).distinct())
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      recomputed.collect().map(r => Seq(r.getString(0), r.getString(1)))
        .toSet)
    // deeply nested trees parse; closures inside the tree stay loud
    ViewStore.pathExprFromSparql(
      "SELECT * WHERE { ?x (((<a>|^<b>)/<c>)|(<d>/<e>/<f>))+ ?y }"): Unit
    intercept[IllegalArgumentException](ViewStore.pathExprFromSparql(
      "SELECT * WHERE { ?x ((<a>*/<b>)|<c>)+ ?y }"))
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("nested closure in a path-expression view: (p+/q)|r maintained " +
      "through churn including a retraction inside the inner closure") {
    val (storeRoot, viewRoot) = freshRoots("pathnest")
    QuadStore.init(Seq(
      ("a", "p", "b", ""), ("b", "q", "nm1", ""),
      ("x", "r", "a", "")).toDF("s", "p", "o", "g"), storeRoot)
    ViewStore.createPathExprFromSparql(spark, storeRoot, viewRoot,
      "SELECT * WHERE { ?s ((<p>+/<q>)|<r>)+ ?t }")
    // base: p+ = {(a,b)}; composed a→nm1; r: x→a; closure adds x→nm1
    assert(rowSet(ViewStore.read(spark, viewRoot)) ===
      Set(Seq("a", "nm1"), Seq("x", "a"), Seq("x", "nm1")))
    def recompute(): Set[Seq[Any]] = {
      val t = QuadStore.read(spark, storeRoot)
      val pPlus = Paths.transitiveClosure(t.filter(col("p") === "p")
        .select(col("s").as("src"), col("o").as("dst")))
      val comp = pPlus.select(col("src"), col("dst").as("__m"))
        .join(t.filter(col("p") === "q")
          .select(col("s").as("__m"), col("o").as("dst")), "__m")
        .select("src", "dst")
      val rE = t.filter(col("p") === "r")
        .select(col("s").as("src"), col("o").as("dst"))
      Paths.transitiveClosure(comp.unionByName(rE).distinct())
        .collect().map(r => Seq(r.getString(0), r.getString(1))).toSet
    }
    // churn 1: extend the INNER chain b→c→d with a name at d — the
    // inner closure must derive (a,c),(a,d),(b,c),(b,d) transitively
    // and the composition must reach the new name from a, b AND x
    QuadStore.update(spark, storeRoot,
      """INSERT DATA { <b> <p> "c" . <c> <p> "d" . <d> <q> "nm2" . }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === recompute())
    assert(rowSet(ViewStore.read(spark, viewRoot))
      .contains(Seq("x", "nm2")))
    // churn 2: sever the inner chain's MIDDLE link — the inner closure
    // retracts (a,c),(a,d),(b,c),(b,d) by DRed and every composed /
    // outer-closed pair through them must cascade out
    QuadStore.update(spark, storeRoot,
      """DELETE DATA { <b> <p> "c" . }""")
    ViewStore.sync(spark, storeRoot, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === recompute())
    assert(!rowSet(ViewStore.read(spark, viewRoot))
      .contains(Seq("x", "nm2")))
    ViewStore.compact(spark, viewRoot)
    assert(rowSet(ViewStore.read(spark, viewRoot)) === recompute())
    rmTree(new java.io.File(storeRoot)); rmTree(new java.io.File(viewRoot))
  }

  test("fragment parsers reject what the delta rules cannot maintain") {
    // union: misaligned branch variables
    intercept[IllegalArgumentException](ViewStore.unionBranchesFromSparql(
      "SELECT * WHERE { { ?a <p> ?b } UNION { ?a <q> ?c } }"))
    // union: a single branch is the conjunctive fragment's job
    intercept[IllegalArgumentException](ViewStore.unionBranchesFromSparql(
      "SELECT * WHERE { ?a <p> ?b }"))
    // optional: filters inside the optional body
    intercept[IllegalArgumentException](ViewStore.optionalFromSparql(
      "SELECT * WHERE { ?c <name> ?n OPTIONAL { ?c <ord> ?o " +
        "FILTER (?o != \"x\") } }"))
    // path: a sequence inside the closure is a join-shaped edge set
    intercept[IllegalArgumentException](ViewStore.pathFromSparql(
      "SELECT * WHERE { ?x (<a>/<b>)+ ?y }"))
    // path: * needs the zero-hop row set
    intercept[IllegalArgumentException](ViewStore.pathFromSparql(
      "SELECT * WHERE { ?x <a>* ?y }"))
    // well-formed shapes parse
    assert(ViewStore.pathFromSparql(
      "SELECT * WHERE { ?x (<a>|^<b>)+ ?y }") ===
      (("x", "y", Seq("a"), Seq("b"))))
    assert(ViewStore.optionalFromSparql(
      "SELECT ?c ?n ?o WHERE { ?c <name> ?n OPTIONAL { ?c <ord> ?o } }")
      === ((Seq(TP(V("c"), C("name"), V("n"))),
        Seq(TP(V("c"), C("ord"), V("o"))))))
  }
}
