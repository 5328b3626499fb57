package graft.rdf

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The delta-log quad store's scale contract: updates write O(|delta|)
  * bytes, never a rewritten store; vacuum is the one compaction point;
  * the replayed chain answers exactly like the in-memory application of
  * the same operations. */
class QuadStoreDeltaSpec extends SparkSpec {

  private def dirBytes(p: java.io.File): Long =
    if (p.isDirectory)
      Option(p.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else p.length()

  test("a single-quad INSERT DATA writes O(delta), not O(store)") {
    val root = java.nio.file.Files.createTempDirectory("qsdelta").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    val baseBytes = dirBytes(new java.io.File(root, "v00001"))
    assert(baseBytes > 10 * 1024, s"base snapshot unexpectedly small: $baseBytes")

    val v = QuadStore.update(spark, root,
      """INSERT DATA { <x:delta> <label> "one quad" . }""")
    assert(v === 2)
    val deltaDir = new java.io.File(root, "d00002")
    assert(deltaDir.isDirectory, "update must append a delta segment")
    assert(!new java.io.File(root, "v00002").exists(),
      "update must NOT publish a full successor snapshot")
    val deltaBytes = dirBytes(deltaDir)
    // the one-quad segment is footers + one row; the old copy-on-write
    // path would have written >= baseBytes here (at real scale the ratio
    // is |delta|/|store|; at sf0.001 parquet footer overhead dominates,
    // so the bound is deliberately loose)
    assert(deltaBytes < baseBytes / 4,
      s"delta segment is store-sized: $deltaBytes vs base $baseBytes")

    // and the merged read serves the new quad plus the untouched base
    val cur = QuadStore.read(spark, root)
    assert(cur.filter(col("s") === "x:delta").count() === 1)
    assert(cur.count() === QuadStore.readVersion(spark, root, 1).count() + 1)
  }

  test("delta replay matches in-memory application across op kinds") {
    val root = java.nio.file.Files.createTempDirectory("qsdelta2").toString
    val base = Quads.build(spark, sf0001)
    QuadStore.init(base, root)
    val ops = Seq(
      """INSERT DATA { <x:1> <label> "a" . GRAPH <g:extra> { <x:2> <label> "b" . } }""",
      """DELETE DATA { GRAPH <g:extra> { <x:2> <label> "b" . } }""",
      """DELETE { GRAPH <g:orders> { ?o <orderstatus> ?st . } }
        |INSERT { GRAPH <g:orders> { ?o <status> ?st . } }
        |WHERE { GRAPH <g:orders> { ?o <orderstatus> ?st . } }""".stripMargin,
      "COPY GRAPH <g:customer> TO GRAPH <g:work>",
      "CLEAR GRAPH <g:customer>")
    // in-memory truth: fold Update.apply over the same op sequence
    val expected = ops.foldLeft(base)((st, t) =>
      graft.Materialize(Update(st, Update.parse(t))))
    ops.foreach(QuadStore.update(spark, root, _))
    val replayed = QuadStore.read(spark, root)
    assert(replayed.count() === expected.count())
    assert(replayed.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(replayed).count() === 0)

    // vacuum compacts the oldest retained version into a base and the
    // store still answers identically
    val cur = QuadStore.currentVersion(root).get
    val dropped = QuadStore.vacuum(root, keep = 2)
    assert(dropped === (1 until cur - 1))
    assert(new java.io.File(root, f"v${cur - 1}%05d").isDirectory,
      "vacuum must compact the cut version into a base")
    assert(!new java.io.File(root, f"d${cur - 1}%05d").exists(),
      "the compacted version's delta segment is redundant")
    val afterVacuum = QuadStore.read(spark, root)
    assert(afterVacuum.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(afterVacuum).count() === 0)
    // pinned read of the previous (now base) version also works
    assert(QuadStore.readVersion(spark, root, cur - 1).count() > 0)
  }

  test("concurrent writers serialize via OCC — no update is lost") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("qsocc").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    // 6 writers race disjoint INSERT DATA on the same root: the version
    // slot is contended, losers must recompute+retry, and afterward EVERY
    // quad must be present — the materialize() path would silently drop
    // the losers' segments
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 6).map { i =>
      Future(QuadStore.update(spark, root,
        s"""INSERT DATA { <w:$i> <wrote> "yes" . }"""))
    }
    val versions = Await.result(Future.sequence(writers), 120.seconds)
    assert(versions.toSet.size === 6, "each writer must get its own version")
    assert(QuadStore.currentVersion(root).get === 7)
    val wrote = QuadStore.read(spark, root)
      .filter(col("p") === "wrote").select("s")
      .as[String].collect().toSet
    assert(wrote === (1 to 6).map(i => s"w:$i").toSet)
  }

  test("a three-op ground request takes two actions: probe and publish") {
    val root = java.nio.file.Files.createTempDirectory("qsactions").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    // the head snapshot is cached the way a view sync leaves it, so the
    // count is the update's own work
    QuadStore.read(spark, root)
    val n = actions(QuadStore.update(spark, root,
      """INSERT DATA { GRAPH <g:customer> { <c:new> <name> "New" .
        |  <c:new> <mktsegment> "AUTOMOBILE" . } } ;
        |DELETE DATA { GRAPH <g:customer> { <c:1> <mktsegment> "BUILDING" . } } ;
        |INSERT DATA { GRAPH <g:customer> { <c:1> <mktsegment> "MACHINERY" . } }"""
        .stripMargin))
    assert(n <= 2, s"ground request took $n actions")
  }

  test("readVersionGraph ≡ filtered readVersion, with partition pruning") {
    val root = java.nio.file.Files.createTempDirectory("qsslice").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    QuadStore.update(spark, root,
      """INSERT DATA { GRAPH <g:customer> { <zc:s1> <p> "v" . }
        |  <zd:s2> <q> "w" . }""".stripMargin)
    QuadStore.update(spark, root, "CLEAR GRAPH <g:orders>")
    QuadStore.update(spark, root,
      """DELETE WHERE { GRAPH <g:customer> { <c:1> <mktsegment> ?x . } }""")
    val cur = QuadStore.currentVersion(root).get
    for (g <- Seq("g:customer", "g:orders", Quads.DefaultGraph)) {
      val sliced = QuadStore.readVersionGraph(spark, root, cur, g)
      val filtered = QuadStore.readVersion(spark, root, cur)
        .filter(col("g") === g)
      assert(sliced.exceptAll(filtered).isEmpty, s"graph $g: extra rows")
      assert(filtered.exceptAll(sliced).isEmpty, s"graph $g: missing rows")
    }
    // on a CACHE-BYPASSED (big) store the graph filter reaches the base
    // scan as a PARTITION filter — other graphs' files are pruned at
    // listing time, never scanned (small stores serve the slice off the
    // checkpointed snapshot instead; equality above covers both paths)
    spark.conf.set(QuadStore.SnapshotCacheMaxBytesProp, "0")
    try {
      for (g <- Seq("g:customer", Quads.DefaultGraph)) {
        val sliced = QuadStore.readVersionGraph(spark, root, cur, g)
        val filtered = QuadStore.readVersion(spark, root, cur)
          .filter(col("g") === g)
        assert(sliced.exceptAll(filtered).isEmpty, s"uncached $g: extra")
        assert(filtered.exceptAll(sliced).isEmpty, s"uncached $g: missing")
      }
      val plan = QuadStore.readVersionGraph(spark, root, cur, "g:customer")
        .queryExecution.executedPlan.toString()
      assert(plan.contains("PartitionFilters: [isnotnull(g"),
        s"expected a partition filter on g in:\n$plan")
    } finally spark.conf.unset(QuadStore.SnapshotCacheMaxBytesProp)
  }

  test("a deep chain replays FLAT: no per-segment join chain in the plan") {
    val root = java.nio.file.Files.createTempDirectory("qsflat").toString
    // the snapshot cache would serve a checkpointed scan here; this test
    // pins the plan shape big (cache-bypassed) stores fall back to
    spark.conf.set(QuadStore.SnapshotCacheMaxBytesProp, "0")
    QuadStore.init(Quads.build(spark, sf0001), root)
    (1 to 5).foreach(i => QuadStore.update(spark, root,
      s"""INSERT DATA { <x:$i> <p> "v$i" . }"""))
    // depth 5 > flatReplayThreshold: the read folds all segments into one
    // broadcast winner set — the base is screened by ONE map-side anti
    // join (not a per-segment chain) and the only shuffle in the plan is
    // the op-union's own tiny aggregation, so read cost stops depending
    // on chain depth and the store itself is never shuffled
    val df = QuadStore.read(spark, root)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"deep replay must screen the base with one broadcast anti join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"store must not shuffle:\n$plan")
    // the winner fold shows up once per use (anti screen + survivors),
    // both over the tiny op union — the base FileScan feeds the anti join
    // directly, with no exchange of store rows
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"only the tiny op union may shuffle:\n$plan")
    assert(df.filter(col("s") === "x:3").count() === 1)
    // threshold-gated retention: nothing compacts while the chain is
    // shallow enough, then one vacuum bounds it
    assert(QuadStore.vacuumIfDeep(root, keep = 2, maxChain = 8).isEmpty)
    assert(QuadStore.chainLength(root) === 6)
    assert(QuadStore.vacuumIfDeep(root, keep = 2, maxChain = 3).nonEmpty)
    assert(QuadStore.chainLength(root) === 2)
    // fresh read after compaction (the pre-vacuum frame is pinned to
    // dropped files by design); contents unchanged
    assert(QuadStore.read(spark, root)
      .filter(col("s") === "x:3").count() === 1)
    spark.conf.unset(QuadStore.SnapshotCacheMaxBytesProp)
  }

  test("snapshot cache: reads agree with the cold path across updates, " +
    "vacuum, and clears") {
    val root = java.nio.file.Files.createTempDirectory("qscache").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    def coldCount(): Long = {
      // a fresh key bypasses the cache map hit but the conf switch is the
      // honest cold read: disable, read, re-enable
      spark.conf.set(QuadStore.SnapshotCacheMaxBytesProp, "0")
      val n = QuadStore.read(spark, root).count()
      spark.conf.unset(QuadStore.SnapshotCacheMaxBytesProp)
      n
    }
    (1 to 4).foreach { i =>
      QuadStore.update(spark, root,
        s"""INSERT DATA { <zc:$i> <p> "v$i" . }""")
      // cached (warm) read must equal the uncached replay at EVERY version
      assert(QuadStore.read(spark, root).count() === coldCount(), s"v$i")
    }
    // the cached frame survives vacuum (checkpoint blocks are decoupled
    // from the store files the lazy plan would have re-read)
    val pinned = QuadStore.read(spark, root)
    QuadStore.vacuum(root, keep = 1): Unit
    assert(pinned.filter(col("s") === "zc:2").count() === 1)
    // a graph-clear lands as a new version; the cache must not leak the
    // pre-clear state
    QuadStore.update(spark, root, "CLEAR ALL")
    assert(QuadStore.read(spark, root).count() === 0L)
    assert(coldCount() === 0L)
  }

  test("an update REQUEST is a ;-sequence, each op seeing the last's state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("qsseq").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    // one request, three operations; the DELETE WHERE only matches what
    // the first INSERT created, and PREFIX carries across operations
    val v = QuadStore.update(spark, root,
      """PREFIX ex: <http://ex/>
        |INSERT DATA { ex:a <p> "one" . ex:b <p> "two" . } ;
        |DELETE WHERE { ex:a <p> ?o . } ;
        |INSERT DATA { ex:c <p> "three" . } ;""".stripMargin)
    // the whole request commits ATOMICALLY as one composed segment
    assert(QuadStore.currentVersion(root).get === v && v === 2)
    val got = QuadStore.read(spark, root)
      .filter(col("p") === "p").select("s", "o")
      .as[(String, String)].collect().toSet
    assert(got === Set(("http://ex/b", "two"), ("http://ex/c", "three")))
    // the single-op parser refuses sequences loudly
    val e = intercept[IllegalArgumentException](
      Update.parse("""CLEAR ALL ; CLEAR ALL"""))
    assert(e.getMessage.contains("one update operation"))
  }

  test("a request fails as a whole: no prefix of it is ever committed") {
    val root = java.nio.file.Files.createTempDirectory("qsatomic").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    val v0 = QuadStore.currentVersion(root).get
    // op 2 is invalid (template variable ?y unbound by WHERE): the
    // request must leave the store untouched — op 1 included
    intercept[IllegalArgumentException](QuadStore.update(spark, root,
      """INSERT DATA { <ex:a> <p> "one" . } ;
        |DELETE { ?x <p> ?y } WHERE { ?x <q> ?w }""".stripMargin))
    assert(QuadStore.currentVersion(root).get === v0)
    assert(QuadStore.read(spark, root)
      .filter(col("s") === "ex:a").count() === 0)
  }

  test("composed request semantics match sequential application") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("qscompose").toString
    QuadStore.init(
      Seq(("b:1", "p", "v", ""), ("b:2", "p", "w", "g:x"))
        .toDF("s", "p", "o", "g"), root)
    // insert-then-delete nets to absent; delete-then-reinsert of a BASE
    // quad nets to exactly one copy; clear between inserts keeps only the
    // post-clear insert
    QuadStore.update(spark, root,
      """INSERT DATA { <t:1> <p> "gone" . } ;
        |DELETE DATA { <t:1> <p> "gone" . } ;
        |DELETE DATA { <b:1> <p> "v" . } ;
        |INSERT DATA { <b:1> <p> "v" . } ;
        |INSERT DATA { GRAPH <g:x> { <t:2> <p> "pre" . } } ;
        |CLEAR GRAPH <g:x> ;
        |INSERT DATA { GRAPH <g:x> { <t:3> <p> "post" . } }""".stripMargin)
    // ONE delta segment for the whole request
    assert(QuadStore.currentVersion(root).get === 2)
    val got = QuadStore.read(spark, root)
      .select("s", "p", "o", "g").as[(String, String, String, String)]
      .collect().toSet
    assert(got === Set(
      ("b:1", "p", "v", ""),
      ("t:3", "p", "post", "g:x")))
  }

  test("GRAPH ?var in updates: purge across named graphs, bind in templates") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("qsgvar").toString
    QuadStore.init(Seq(
      ("a", "p", "1", "g:x"), ("b", "p", "2", "g:y"),
      ("c", "q", "3", "g:x"), ("d", "p", "4", "")) // default graph NOT in ?g's range
      .toDF("s", "p", "o", "g"), root)
    // delete ?s <p> ?o wherever it lives among the NAMED graphs
    QuadStore.update(spark, root,
      "DELETE WHERE { GRAPH ?g { ?s <p> ?o . } }")
    val afterPurge = QuadStore.read(spark, root)
      .select("s", "p", "o", "g").as[(String, String, String, String)]
      .collect().toSet
    assert(afterPurge === Set(("c", "q", "3", "g:x"), ("d", "p", "4", "")))
    // Modify with ?g in BOTH templates: rename q→r in the graph it lives
    QuadStore.update(spark, root,
      """DELETE { GRAPH ?g { ?s <q> ?o . } }
        |INSERT { GRAPH ?g { ?s <r> ?o . } }
        |WHERE { GRAPH ?g { ?s <q> ?o . } }""".stripMargin)
    val afterRename = QuadStore.read(spark, root)
      .select("s", "p", "o", "g").as[(String, String, String, String)]
      .collect().toSet
    assert(afterRename === Set(("c", "r", "3", "g:x"), ("d", "p", "4", "")))
    // an unbound graph variable in a template still fails loudly
    val e = intercept[IllegalArgumentException](QuadStore.update(spark, root,
      """DELETE { GRAPH ?h { ?s <r> ?o . } }
        |WHERE { ?s <r> ?o . }""".stripMargin))
    assert(e.getMessage.contains("?h"))
  }

  test("a FAT chain base-ifies the current version in place, keeping pins") {
    val root = java.nio.file.Files.createTempDirectory("qsfat").toString
    // tiny base, then a graph-scale COPY: the one delta rivals the base
    QuadStore.init(Quads.build(spark, sf0001)
      .filter(col("g") === "g:customer"), root)
    QuadStore.update(spark, root, "COPY GRAPH <g:customer> TO GRAPH <g:work>")
    val before = QuadStore.read(spark, root).count()
    // byte trigger fires even though the fat delta is INSIDE the keep
    // window; nothing is dropped (no doomed versions), the current
    // version just becomes a base
    assert(QuadStore.vacuumIfDeep(root, keep = 2, maxChain = 8).isEmpty)
    assert(new java.io.File(root, "v00002").isDirectory,
      "current version must be compacted into a base")
    assert(!new java.io.File(root, "d00002").exists(),
      "the compacted delta segment is redundant")
    assert(QuadStore.read(spark, root).count() === before)
    // the pinned pre-copy version still reads off the old base
    assert(QuadStore.readVersion(spark, root, 1).count() > 0)
    // a second maintenance call is a no-op, not a repeated rewrite
    assert(QuadStore.vacuumIfDeep(root, keep = 2, maxChain = 8).isEmpty)
  }

  test("changes() returns the exact net diff between pinned versions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("qsdelta3").toString
    QuadStore.init(Quads.build(spark, sf0001), root)
    QuadStore.update(spark, root,
      """INSERT DATA { <x:1> <p> "a" . <x:2> <p> "b" . }""")       // v2
    QuadStore.update(spark, root,
      """DELETE DATA { <x:2> <p> "b" .
        |              <x:ghost> <p> "never there" . }""".stripMargin) // v3
    QuadStore.update(spark, root,
      """INSERT DATA { <x:2> <p> "b" . <x:3> <p> "c" . }""")       // v4
    def spo(df: org.apache.spark.sql.DataFrame) =
      df.select("s", "p", "o").as[(String, String, String)].collect().toSet
    // fast path (segments only): net of add→del→re-add is one add; the
    // phantom tombstone nets to nothing
    val (adds, dels) = QuadStore.changes(spark, root, 1, 4)
    assert(spo(adds) === Set(("x:1", "p", "a"), ("x:2", "p", "b"),
      ("x:3", "p", "c")))
    assert(dels.count() === 0)
    // a middle window sees the deletion of a quad that DID exist at from
    val (a23, d23) = QuadStore.changes(spark, root, 2, 3)
    assert(spo(a23).isEmpty)
    assert(spo(d23) === Set(("x:2", "p", "b")))
    // the fold must agree with the exact two-snapshot diff
    val exact = QuadStore.readVersion(spark, root, 4)
      .exceptAll(QuadStore.readVersion(spark, root, 1))
    assert(adds.exceptAll(exact).count() === 0)
    assert(exact.exceptAll(adds).count() === 0)
    // a CLEAR in the range exercises the fallback path and stays exact
    QuadStore.update(spark, root, "CLEAR GRAPH <g:customer>")      // v5
    val (a45, d45) = QuadStore.changes(spark, root, 4, 5)
    assert(a45.count() === 0)
    assert(d45.count() ===
      QuadStore.readVersion(spark, root, 4)
        .filter(col("g") === "g:customer").count())
    // identical versions diff to nothing
    val (same, sameD) = QuadStore.changes(spark, root, 3, 3)
    assert(same.count() === 0 && sameD.count() === 0)

    // SPARQL directly over the store, current and time-traveled: v4 has
    // x:2 re-added; v3 (pinned) must still answer without it
    val q = """SELECT ?s WHERE { ?s <p> ?v . FILTER (STRSTARTS(STR(?s), "x:")) }
              |ORDER BY ?s""".stripMargin
    assert(QuadStore.queryVersion(spark, root, 4, q)
      .as[String].collect().toSeq === Seq("x:1", "x:2", "x:3"))
    assert(QuadStore.queryVersion(spark, root, 3, q)
      .as[String].collect().toSeq === Seq("x:1"))
    // and SERVICE federation works against the store read
    val ep = Seq(("x:1", "ext", "E")).toDF("s", "p", "o")
    val fed = QuadStore.queryVersion(spark, root, 4,
      """SELECT ?s ?e WHERE {
        |  ?s <p> ?v . SERVICE <graft://ext> { ?s <ext> ?e . }
        |}""".stripMargin, endpoints = Map("graft://ext" -> ep))
    assert(fed.as[(String, String)].collect().toSeq === Seq(("x:1", "E")))
  }
}
