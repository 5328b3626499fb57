package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import graft.llm.LshIndex
import graft.rdf._
import graft.sources.VersionChain

/** What a crash between "publish the new base" and "prune the old
  * entries" leaves behind, recreated on tiny data: compact through the
  * public API, then put back every entry the prune removed. Reads must
  * answer as before, and the next compaction must finish the prune. */
class CrashLeftoverSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"leftover_$tag").toString

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).sorted().forEach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.COPY_ATTRIBUTES)
    }

  private def children(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).toSet.flatten

  /** Run `compact`, then restore what it deleted under `dir`. Returns
    * the restored entry names. */
  private def crashAfterPublish(dir: String)(compact: => Any): Set[String] = {
    val saved = Files.createTempDirectory("leftover_saved")
    copyTree(java.nio.file.Paths.get(dir), saved)
    compact
    val pruned = children(saved.toString) -- children(dir)
    pruned.foreach(n =>
      copyTree(saved.resolve(n), java.nio.file.Paths.get(dir, n)))
    rmTree(saved.toFile)
    pruned
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def quads(t: (String, String, String)*): DataFrame =
    t.map { case (s, p, o) => (s, p, o, "") }.toDF("s", "p", "o", "g")

  test("binding view and its summary") {
    val (store, view, agg) = (tmp("s"), tmp("v"), tmp("a"))
    QuadStore.init(quads(("c1", "nat", "de"), ("c2", "nat", "fr")), store)
    ViewStore.create(spark, store, view, Seq(TP(V("c"), C("nat"), V("nat"))))
    ViewStore.createAgg(spark, view, agg, Seq("nat"))
    QuadStore.update(spark, store, """INSERT DATA { <c3> <nat> "de" . }""")
    val mid = ViewStore.sync(spark, store, view)
    ViewStore.syncAgg(spark, view, agg)
    QuadStore.update(spark, store, """DELETE DATA { <c2> <nat> "fr" . }""")
    ViewStore.sync(spark, store, view)
    ViewStore.syncAgg(spark, view, agg)
    val state = rows(ViewStore.read(spark, view))
    val atMid = rows(ViewStore.readAt(spark, view, mid))
    val counts = rows(ViewStore.readCounts(spark, view, Seq("nat")))
    val summary = rows(ViewStore.readAgg(spark, agg))
    assert(summary === Set(Seq("de", 2L)))

    assert(crashAfterPublish(view)(ViewStore.compact(spark, view)).nonEmpty)
    assert(crashAfterPublish(agg)(ViewStore.compactAgg(spark, agg)).nonEmpty)
    assert(ViewStore.segmentCount(view) > 1)
    assert(ViewStore.segmentCount(agg) > 1)
    assert(rows(ViewStore.read(spark, view)) === state)
    assert(rows(ViewStore.readAt(spark, view, mid)) === atMid)
    assert(rows(ViewStore.readCounts(spark, view, Seq("nat"))) === counts)
    assert(rows(ViewStore.readAgg(spark, agg)) === summary)

    ViewStore.compact(spark, view)
    ViewStore.compactAgg(spark, agg)
    assert(ViewStore.segmentCount(view) === 1)
    assert(ViewStore.segmentCount(agg) === 1)
    assert(rows(ViewStore.readCounts(spark, view, Seq("nat"))) === counts)
    assert(rows(ViewStore.readAgg(spark, agg)) === summary)
    // the chain keeps syncing from the compacted base
    QuadStore.update(spark, store, """INSERT DATA { <c4> <nat> "fi" . }""")
    ViewStore.sync(spark, store, view)
    ViewStore.syncAgg(spark, view, agg)
    assert(rows(ViewStore.readAgg(spark, agg)) ===
      Set(Seq("de", 2L), Seq("fi", 1L)))
    Seq(store, view, agg).foreach(p => rmTree(new java.io.File(p)))
  }

  test("path view whose edge-set chain shares the root") {
    val (store, view) = (tmp("ps"), tmp("pv"))
    QuadStore.init(quads(("a", "p", "m1"), ("m1", "q", "b")), store)
    ViewStore.createPathSeqFromSparql(spark, store, view,
      "SELECT * WHERE { ?x (<p>/<q>)+ ?y }")
    QuadStore.update(spark, store,
      "INSERT DATA { <b> <p> <m2> . <m2> <q> <c> . }")
    ViewStore.sync(spark, store, view)
    QuadStore.update(spark, store, "DELETE DATA { <m1> <q> <b> . }")
    ViewStore.sync(spark, store, view)
    val state = rows(ViewStore.read(spark, view))
    assert(state === Set(Seq("b", "c")))

    assert(crashAfterPublish(view)(ViewStore.compact(spark, view))
      .exists(_.startsWith("es")))
    assert(ViewStore.segmentCount(view) > 1)
    assert(VersionChain.Edges.segmentCount(view) > 1)
    assert(rows(ViewStore.read(spark, view)) === state)

    ViewStore.compact(spark, view)
    assert(ViewStore.segmentCount(view) === 1)
    assert(VersionChain.Edges.segmentCount(view) === 1)
    // the edge sets still maintain the closure from the compacted bases
    QuadStore.update(spark, store, "INSERT DATA { <c> <p> <m3> . <m3> <q> <d> . }")
    ViewStore.sync(spark, store, view)
    assert(rows(ViewStore.read(spark, view)) ===
      Set(Seq("b", "c"), Seq("c", "d"), Seq("b", "d")))
    Seq(store, view).foreach(p => rmTree(new java.io.File(p)))
  }

  test("id mirror and an id-space view") {
    val (store, mirror, view) = (tmp("es"), tmp("em"), tmp("ev"))
    QuadStore.init(quads(("c1", "name", "alice"), ("c2", "name", "bob")),
      store)
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.create(spark, mirror, view, Seq(TP(V("c"), C("name"), V("n"))))
    // churn over known terms only: the mirror's dictionary stays one
    // segment, so its compaction touches `enc/` alone
    QuadStore.update(spark, store, """DELETE DATA { <c1> <name> "alice" . }""")
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.sync(spark, mirror, view)
    QuadStore.update(spark, store, """INSERT DATA { <c1> <name> "bob" . }""")
    EncodedMirror.sync(spark, store, mirror)
    EncodedView.sync(spark, mirror, view)
    val q = "SELECT ?c ?n WHERE { ?c <name> ?n }"
    val answer = rows(EncodedMirror.query(spark, mirror, q))
    assert(answer === Set(Seq("c1", "bob"), Seq("c2", "bob")))
    val decoded = rows(EncodedView.readDecoded(spark, mirror, view))

    assert(crashAfterPublish(view)(EncodedView.compact(spark, view)).nonEmpty)
    assert(crashAfterPublish(s"$mirror/enc")(
      EncodedMirror.compact(spark, mirror)).nonEmpty)
    assert(EncodedView.segmentCount(view) > 1)
    assert(EncodedMirror.segmentCount(mirror) > 1)
    assert(rows(EncodedMirror.query(spark, mirror, q)) === answer)
    assert(rows(EncodedView.readDecoded(spark, mirror, view)) === decoded)

    EncodedView.compact(spark, view)
    EncodedMirror.compact(spark, mirror)
    assert(EncodedView.segmentCount(view) === 1)
    assert(EncodedMirror.segmentCount(mirror) === 1)
    assert(rows(EncodedMirror.query(spark, mirror, q)) === answer)
    assert(rows(EncodedView.readDecoded(spark, mirror, view)) === decoded)
    Seq(store, mirror, view).foreach(p => rmTree(new java.io.File(p)))
  }

  test("LSH index") {
    val root = tmp("lsh")
    val text = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the green hills tonight under a pale moon"
    def doc(i: Int) = Seq((i.toLong, text.replace("green", s"shade$i")))
      .toDF("doc_id", "text")
    LshIndex.build(doc(1), root)
    LshIndex.append(doc(2), root)
    LshIndex.append(doc(3), root)
    val probe = Seq((100L, text)).toDF("doc_id", "text")
    def hits() = LshIndex.probe(spark, root, probe, minEst = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val before = hits()
    assert(before.map(_._2) === Set(1L, 2L, 3L))

    val pruned = crashAfterPublish(root)(LshIndex.compact(spark, root))
    assert(pruned === Set("seg00001", "seg00002", "seg00003"))
    assert(LshIndex.segmentCount(root) === 1) // leftovers sit below the base
    assert(hits() === before)

    assert(LshIndex.compact(spark, root) === 1)
    assert(children(root) === Set("base00003"))
    assert(hits() === before)
    rmTree(new java.io.File(root))
  }
}
