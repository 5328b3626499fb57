package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for the persisted-store design: one place decides
  * where roots live, and the build-once store modules keep no private
  * handle cache of their own (those go through `AtomicStore.opened`,
  * which re-checks the root's publish token on every hit). The
  * coverage-named stores list, check and compact their entries only
  * through `sources.VersionChain`. Also for the fixpoints: no round cap,
  * the path closures' rounds all run through `Materialize.semiNaive`,
  * their composition through the closure is written once, and the path
  * view's edge delta is a probe, not anti-joins of whole edge sets. A
  * view's definition has one codec. */
class SourceGuardSpec extends AnyFunSuite {

  private val main = new java.io.File("src/main/scala/graft")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  private def rel(f: java.io.File): String =
    main.toPath.relativize(f.toPath).toString

  test("java.io.tmpdir is read only by sources/AtomicStore.scala") {
    val all = sources(main)
    assert(all.nonEmpty, s"no sources under ${main.getAbsolutePath}")
    val readers = all.filter(f => text(f).contains("java.io.tmpdir")).map(rel)
    assert(readers === Seq("sources/AtomicStore.scala"))
  }

  test("the build-once store modules keep no private concurrent map") {
    val stores = Seq("rdf/TripleStore.scala", "rdf/ExtVp.scala",
      "sources/BucketedTables.scala", "llm/IvfIndex.scala",
      "llm/PqIndex.scala", "llm/IvfPq.scala", "llm/EmbeddingOps.scala")
    val offenders = stores.filter { p =>
      val f = new java.io.File(main, p)
      assert(f.isFile, s"store module $p moved — update this guard")
      val t = text(f)
      t.contains("TrieMap") || t.contains("ConcurrentHashMap")
    }
    assert(offenders.isEmpty,
      s"per-module handle caches are back in: ${offenders.mkString(", ")}")
  }

  test("no fixpoint loop carries a round cap") {
    val capped = sources(main).filter(f => text(f).contains("maxIter")).map(rel)
    assert(capped.isEmpty, s"round caps are back in: ${capped.mkString(", ")}")
  }

  test("every Paths round runs through the shared semi-naive driver") {
    val paths = new java.io.File(main, "rdf/Paths.scala")
    assert(paths.isFile, "rdf/Paths.scala moved — update this guard")
    assert(!text(paths).contains("while ("),
      "rdf/Paths.scala runs its own round loop")
  }

  test("Paths composes through the closure in one place") {
    // (C ∪ id) ∘ X ∘ (C ∪ id): C ∘ X (the closure's dst renamed to the
    // join key) only in throughClosure, X ∘ C (its src renamed) only in
    // thenClosure; DRed's over-delete and the insertion seed both call it
    val t = text(new java.io.File(main, "rdf/Paths.scala"))
    def count(re: String) = re.r.findAllIn(t).size
    val closure = "\\b(c|cur|base|closure)\\.select\\("
    assert(count(closure + """col\("src"\), col\("dst"\)\.as\("m"\)""") === 1)
    assert(count(closure + """col\("src"\)\.as\("m"\), col\("dst"\)""") === 1)
    assert(count("""def throughClosure\(""") === 1)
    assert(count("""throughClosure\(""") === 3,
      "the over-delete and the insertion seed compose through one helper")
  }

  test("the path view's edge delta anti-joins no full edge set") {
    val t = text(new java.io.File(main, "rdf/ViewStore.scala"))
    def between(from: String, to: String): String = {
      val i = t.indexOf(from)
      assert(i >= 0, s"`$from` moved — update this guard")
      t.substring(i, t.indexOf(to, i + from.length))
    }
    val branch =
      between("case path: AltPath =>", "case FilteredBgp(")
    val churn = between("private def pathChurn(", "  /** ")
    assert(branch.contains("pathChurn("))
    assert(!branch.contains("left_anti") && !churn.contains("left_anti"),
      "the path sync anti-joins to get its edge delta")
    assert(!churn.contains("pathEdges("),
      "the edge delta builds a full (distinct) edge set")
  }

  test("a view's meta.tsv has one writer/reader pair beside the summary " +
      "codec") {
    val users = Seq("rdf/ViewStore.scala", "rdf/EncodedView.scala").flatMap {
      p =>
        val f = new java.io.File(main, p)
        assert(f.isFile, s"view module $p moved — update this guard")
        val t = text(f)
        "/meta\\.tsv\"".r.findAllMatchIn(t).map(m => p ->
          "def (\\w+)".r.findAllMatchIn(t.substring(0, m.start)).toSeq
            .last.group(1)).toSeq
    }
    assert(users.toSet === Set(
      "rdf/ViewStore.scala" -> "writeDefinition",
      "rdf/ViewStore.scala" -> "readDefinition",
      "rdf/ViewStore.scala" -> "writeMetaAgg",
      "rdf/ViewStore.scala" -> "definitionAgg",
      "rdf/EncodedView.scala" -> "writeMetaAgg",
      "rdf/EncodedView.scala" -> "definitionAgg"))
  }

  test("rdf/ reaches into llm/ only for connected components") {
    val rdf = sources(new java.io.File(main, "rdf"))
    assert(rdf.nonEmpty)
    val users = rdf.filter(f => text(f).contains("graft.llm")).map(rel)
    assert(users === Seq("rdf/GraphOps.scala", "rdf/Owl.scala"))
    val other = rdf.flatMap(f =>
      "graft\\.llm\\.[\\w.]+".r.findAllIn(text(f)).toSeq)
      .filterNot(_ == "graft.llm.Dedup.connectedComponents")
    assert(other.isEmpty, s"rdf/ uses more of llm/: ${other.mkString(", ")}")
  }

  test("versioned stores keep no private entry listing") {
    val entryRe = """\\d\{5,\}""".r
    val chained = Seq("rdf/ViewStore.scala", "rdf/EncodedView.scala",
      "rdf/EncodedMirror.scala", "llm/LshIndex.scala")
    chained.foreach { p =>
      val f = new java.io.File(main, p)
      assert(f.isFile, s"store module $p moved — update this guard")
      assert(!text(f).contains("isComplete"),
        s"$p gates entries on completeness itself")
    }
    // every entry-name regex outside the two listing owners, by name:
    // the quad store's one-version-per-entry listing and the mirror's
    // append-only dictionary are different shapes from the chain
    val named = sources(main)
      .filterNot(f => Set("sources/VersionChain.scala",
        "sources/SegmentedStore.scala")(rel(f)))
      .flatMap(f => text(f).linesIterator
        .filter(l => entryRe.findFirstIn(l).isDefined)
        .map(l => rel(f) -> "val (\\w+)".r.findFirstMatchIn(l)
          .map(_.group(1)).getOrElse(l.trim)))
    assert(named.toSet === Set(
      "rdf/Update.scala" -> "VersionRe", "rdf/Update.scala" -> "DeltaRe",
      "rdf/EncodedMirror.scala" -> "DictRe",
      "llm/IvfIndex.scala" -> "RefitModelRe"))
  }
}
