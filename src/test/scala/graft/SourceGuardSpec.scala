package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for the persisted-store design: one place decides
  * where roots live, and the build-once store modules keep no private
  * handle cache of their own (those go through `AtomicStore.opened`,
  * which re-checks the root's publish token on every hit). */
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
}
