package graft.rdf

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EncodedViewSpec extends SparkSpec {
  import spark.implicits._

  private def rowSet(df: DataFrame): Set[Seq[Any]] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
  }

  private def roots(tag: String): (String, String, String) = (
    java.nio.file.Files.createTempDirectory(s"ev_${tag}_store").toString,
    java.nio.file.Files.createTempDirectory(s"ev_${tag}_mirror").toString,
    java.nio.file.Files.createTempDirectory(s"ev_${tag}_view").toString)

  test("id-space view lifecycle: create, churn syncs, decode at emission") {
    val (store, mirror, view) = roots("life")
    QuadStore.init(Seq(
      ("c1", "name", "alice", ""), ("c1", "seg", "B", ""),
      ("c2", "name", "bob", ""), ("c2", "seg", "A", ""),
      ("c3", "name", "carol", "")).toDF("s", "p", "o", "g"), store)
    EncodedMirror.sync(spark, store, mirror)
    val pats = Seq(TP(V("c"), C("name"), V("n")),
      TP(V("c"), C("seg"), C("B")))
    EncodedView.create(spark, mirror, view, pats)
    assert(EncodedView.definition(view) === (("", pats)))
    // the id read is 8-byte columns; the decode lands on string space
    val ids = EncodedView.read(spark, view)
    assert(ids.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType))
    assert(rowSet(EncodedView.readDecoded(spark, mirror, view)) ===
      Set(Seq("c1", "alice")))
    // churn 1: a member arrives, one flips out of the B segment
    QuadStore.update(spark, store,
      """INSERT DATA { <c3> <seg> "B" } ;
        |DELETE DATA { <c1> <seg> "B" }""".stripMargin)
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.sync(spark, mirror, view)
    assert(rowSet(EncodedView.readDecoded(spark, mirror, view)) ===
      Set(Seq("c3", "carol")))
    // churn 2: brand-new terms enter through the mirror's dict segment
    QuadStore.update(spark, store,
      """INSERT DATA { <c9> <name> "zoe" . <c9> <seg> "B" }""")
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.sync(spark, mirror, view)
    val want = Set(Seq("c3", "carol"), Seq("c9", "zoe"))
    assert(rowSet(EncodedView.readDecoded(spark, mirror, view)) === want)
    // the maintained id view ≡ a from-scratch id recompute ≡ the
    // string-space solve over the store head
    val gid = Seq("").toDF("t").select(xxhash64(col("t")))
      .collect()(0).getLong(0)
    val recomputed = BgpView.compute(
      EncodedMirror.encoded(spark, mirror).filter(col("gid") === gid)
        .select(col("sid").as("s"), col("pid").as("p"),
          col("oid").as("o")),
      Seq(TP(V("c"), C(Seq("name").toDF("t").select(xxhash64(col("t")))
          .collect()(0).getLong(0)), V("n")),
        TP(V("c"), C(Seq("seg").toDF("t").select(xxhash64(col("t")))
          .collect()(0).getLong(0)),
          C(Seq("B").toDF("t").select(xxhash64(col("t")))
            .collect()(0).getLong(0)))))
    assert(rowSet(EncodedView.read(spark, view)) === rowSet(recomputed))
    // time-travel: the id view as it stood BEFORE churn 2
    val preChurn2 = EncodedView.lastSynced(view) - 1
    assert(EncodedView.readAt(spark, view, preChurn2).count() === 1)
    intercept[IllegalArgumentException](
      EncodedView.readAt(spark, view, preChurn2 + 99))
    // replayed sync is a no-op; compaction folds and keeps the answer
    assert(EncodedView.sync(spark, mirror, view) ===
      EncodedView.lastSynced(view))
    EncodedView.compact(spark, view)
    assert(rowSet(EncodedView.readDecoded(spark, mirror, view)) === want)
    assert(EncodedView.segmentCount(view) === 1)
    Seq(store, mirror, view).foreach(p => rmTree(new java.io.File(p)))
  }

  test("id-space summary: maintained from the view's id segments alone, " +
      "decoded only at emission") {
    val (store, mirror, view) = roots("agg")
    val agg = java.nio.file.Files.createTempDirectory("ev_agg_sum").toString
    QuadStore.init(Seq(
      ("c1", "nat", "de", ""), ("c1", "seg", "B", ""),
      ("c2", "nat", "de", ""), ("c2", "seg", "B", ""),
      ("c3", "nat", "fr", ""), ("c3", "seg", "B", ""))
      .toDF("s", "p", "o", "g"), store)
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.create(spark, mirror, view, Seq(
      TP(V("c"), C("seg"), C("B")), TP(V("c"), C("nat"), V("nat"))))
    EncodedView.createAgg(spark, view, agg, Seq("nat"), countCol = "cnt")
    assert(EncodedView.definitionAgg(agg) === ((Seq("nat"), "cnt")))
    // the id summary is all-long; the decoded read lands in string space
    val ids = EncodedView.readAgg(spark, agg)
    assert(ids.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType))
    assert(rowSet(EncodedView.readAggDecoded(spark, mirror, agg)) ===
      Set(Seq(2L, "de"), Seq(1L, "fr")))
    // churn 1: fr's only member leaves (group nets to zero and must
    // vanish), a NEW nation arrives through the mirror's dict segment
    QuadStore.update(spark, store,
      """DELETE DATA { <c3> <seg> "B" } ;
        |INSERT DATA { <c9> <nat> "fi" . <c9> <seg> "B" }""".stripMargin)
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.sync(spark, mirror, view)
    EncodedView.syncAgg(spark, view, agg)
    assert(rowSet(EncodedView.readAggDecoded(spark, mirror, agg)) ===
      Set(Seq(2L, "de"), Seq(1L, "fi")))
    // replayed syncAgg is a no-op; compaction keeps the answer
    assert(EncodedView.syncAgg(spark, view, agg) ===
      EncodedView.lastSynced(view))
    EncodedView.compactAgg(spark, agg)
    assert(rowSet(EncodedView.readAggDecoded(spark, mirror, agg)) ===
      Set(Seq(2L, "de"), Seq(1L, "fi")))
    assert(EncodedView.segmentCount(agg) === 1)
    // churn 2 lands on the compacted base; the view compacting PAST the
    // summary's sync point is loud, never silently stale
    QuadStore.update(spark, store,
      """DELETE DATA { <c1> <seg> "B" }""")
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.sync(spark, mirror, view)
    EncodedView.compact(spark, view) // drops the range syncAgg needs
    val boom = intercept[IllegalArgumentException](
      EncodedView.syncAgg(spark, view, agg))
    assert(boom.getMessage.contains("compacted past"), boom.getMessage)
    Seq(store, mirror, view, agg).foreach(p => rmTree(new java.io.File(p)))
  }

  test("a streaming feed drives store → mirror → id-space view") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.Triple3
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (store, mirror, view) = roots("stream")
    QuadStore.init(Seq(("c1", "name", "alice", ""))
      .toDF("s", "p", "o", "g"), store)
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.create(spark, mirror, view, Seq(
      TP(V("c"), C("name"), V("n")), TP(V("c"), C("seg"), C("B"))))
    val mem = MemoryStream[Triple3]
    val q = mem.toDF().withColumn("g", lit("")).writeStream
      .foreachBatch(StreamOps.encodedViewSink(store, mirror, view))
      .outputMode("append").start()
    try {
      mem.addData(Triple3("c1", "seg", "B"), Triple3("c2", "name", "bob"))
      q.processAllAvailable()
      assert(rowSet(EncodedView.readDecoded(spark, mirror, view)) ===
        Set(Seq("c1", "alice")))
      mem.addData(Triple3("c2", "seg", "B"))
      q.processAllAvailable()
      assert(rowSet(EncodedView.readDecoded(spark, mirror, view)) ===
        Set(Seq("c1", "alice"), Seq("c2", "bob")))
    } finally q.stop()
    Seq(store, mirror, view).foreach(p => rmTree(new java.io.File(p)))
  }

  test("the string-space lifecycle rejects an id-space view by name") {
    val (store, mirror, view) = roots("kind")
    val cat = java.nio.file.Files.createTempDirectory("ev_kind_cat").toString
    QuadStore.init(Seq(("c1", "name", "alice", ""))
      .toDF("s", "p", "o", "g"), store)
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.create(spark, mirror, view,
      Seq(TP(V("c"), C("name"), V("n"))))
    assert(ViewStore.mode(view) === "encoded")
    val reg = intercept[IllegalArgumentException](
      ViewCatalog.register(cat, view))
    assert(reg.getMessage.contains("id-space"), reg.getMessage)
    assert(ViewCatalog.roots(cat).isEmpty)
    QuadStore.update(spark, store, """INSERT DATA { <c2> <name> "bob" }""")
    val sync = intercept[IllegalArgumentException](
      ViewStore.sync(spark, store, view))
    assert(sync.getMessage.contains("id-space"), sync.getMessage)
    Seq(store, mirror, view, cat).foreach(p => rmTree(new java.io.File(p)))
  }

  test("mirror retention: compacting past the view's sync point is loud") {
    val (store, mirror, view) = roots("ret")
    QuadStore.init(Seq(("c1", "name", "alice", ""))
      .toDF("s", "p", "o", "g"), store)
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.create(spark, mirror, view,
      Seq(TP(V("c"), C("name"), V("n"))))
    QuadStore.update(spark, store,
      """INSERT DATA { <c2> <name> "bob" }""")
    EncodedMirror.sync(spark, store, mirror)
    // the mirror compacts BEFORE the view synced — the change range the
    // view needs is pruned; sync must fail loudly, never serve stale
    EncodedMirror.compact(spark, mirror): Unit
    val boom = intercept[Exception](EncodedView.sync(spark, mirror, view))
    assert(boom.getMessage.contains("mirror"), boom.getMessage)
    // recovery: rebuild the view at the mirror head, via SPARQL text
    EncodedView.createFromSparql(spark, mirror, view,
      "SELECT * WHERE { ?c <name> ?n }")
    assert(rowSet(EncodedView.readDecoded(spark, mirror, view)) ===
      Set(Seq("c1", "alice"), Seq("c2", "bob")))
    Seq(store, mirror, view).foreach(p => rmTree(new java.io.File(p)))
  }
}
