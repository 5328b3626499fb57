package graft.sources

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** The coverage-named chain on its own: entries are empty marker-stamped
  * directories, so no Spark session is needed. */
class VersionChainSpec extends AnyFunSuite {
  import VersionChain.{Edges, Link, Rows}

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("chain-spec").toString

  private def publish(path: String): Unit =
    AtomicStore.materialize(path)(tmp => new File(tmp).mkdirs(): Unit): Unit

  private def base(root: String, v: Int): Unit = publish(Rows.basePath(root, v))
  private def seg(root: String, f: Int, t: Int): Unit =
    publish(Rows.segPath(root, f, t))

  private def names(root: String): Set[String] =
    Option(new File(root).list()).toSet.flatten

  private def fails(what: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(what), e.getMessage)
  }

  test("versions past 99,999 keep resolving as names grow to 6 digits") {
    val root = fresh()
    base(root, 99998)
    seg(root, 99998, 99999)
    seg(root, 99999, 100000)
    seg(root, 100000, 100001)
    assert(names(root).contains("s99999_100000"))
    assert(Rows.lastSynced(root) === 100001)
    assert(Rows.segmentCount(root) === 4)
    assert(Rows.at(root, 100001) ===
      Link(99998, Seq((99998, 99999), (99999, 100000), (100000, 100001))))
    assert(Rows.since(root, 99999) === Seq((99999, 100000), (100000, 100001)))
    Rows.compact(root, 100001)(tmp => new File(tmp).mkdirs(): Unit)
    assert(names(root) === Set("b100001"))
    assert(Rows.at(root, 100001) === Link(100001, Nil))
  }

  test("a gap, an overlap and a version no sync landed on are loud") {
    val gap = fresh()
    base(gap, 1); seg(gap, 1, 2); seg(gap, 3, 4)
    fails("chain gap")(Rows.at(gap, 4))
    fails("chain gap")(Rows.since(gap, 1))
    assert(Rows.at(gap, 2) === Link(1, Seq((1, 2))))

    val overlap = fresh()
    base(overlap, 1); seg(overlap, 1, 2); seg(overlap, 1, 3)
    fails("chain gap")(Rows.at(overlap, 3))
    fails("chain gap")(Rows.since(overlap, 1))

    val sparse = fresh()
    base(sparse, 1); seg(sparse, 1, 3)
    fails("not a synced boundary")(Rows.at(sparse, 2))
    fails("not a synced boundary")(Rows.at(sparse, 4))
    assert(Rows.at(sparse, 3) === Link(1, Seq((1, 3))))
  }

  test("a version or a change range compacted past is loud") {
    val root = fresh()
    base(root, 5); seg(root, 5, 6)
    fails("compacted past")(Rows.at(root, 3))
    fails("compacted past")(Rows.since(root, 3))
    assert(Rows.since(root, 5) === Seq((5, 6)))
    assert(Rows.since(root, 6) === Nil)
    fails("nothing published")(Rows.at(fresh(), 1))
  }

  test("compaction keeps every entry above the folded head") {
    val root = fresh()
    base(root, 1); seg(root, 1, 2); seg(root, 2, 3); seg(root, 3, 4)
    var writes = 0
    Rows.compact(root, 3) { tmp => writes += 1; new File(tmp).mkdirs(): Unit }
    assert(writes === 1)
    assert(names(root) === Set("b00003", "s00003_00004"))
    assert(Rows.at(root, 4) === Link(3, Seq((3, 4))))
  }

  test("a crash between publish and prune leaves a readable chain the " +
      "next compaction finishes") {
    val root = fresh()
    base(root, 1); seg(root, 1, 2); seg(root, 2, 3)
    base(root, 3) // the new base landed; the prune never ran
    assert(Rows.segmentCount(root) === 4)
    assert(Rows.at(root, 3) === Link(3, Nil))
    assert(Rows.at(root, 2) === Link(1, Seq((1, 2))))
    assert(Rows.since(root, 1) === Seq((1, 2), (2, 3)))
    Rows.compact(root, 3)(_ => fail("the base at the head is already published"))
    assert(Rows.segmentCount(root) === 1)
    assert(names(root) === Set("b00003"))
  }

  test("chains with different prefixes share a root unseen; unmarked " +
      "entries are invisible") {
    val root = fresh()
    base(root, 1); seg(root, 1, 2)
    publish(Edges.basePath(root, 2))
    new File(Rows.segPath(root, 2, 3)).mkdirs() // a crashed sync's leftover
    assert(Rows.lastSynced(root) === 2)
    assert(Edges.lastSynced(root) === 2)
    assert(Edges.at(root, 2) === Link(2, Nil))
    Edges.compact(root, 2)(_ => fail("already based at the head"))
    assert(Rows.segmentCount(root) === 2)
  }
}
