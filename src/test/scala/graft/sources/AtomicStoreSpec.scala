package graft.sources

import java.io.File

class AtomicStoreSpec extends graft.SparkSpec {

  private def freshBase(name: String): String =
    java.nio.file.Files.createTempDirectory("as-spec").toString + "/" + name

  test("partial stores are rebuilt; complete stores are served untouched") {
    val base = freshBase("store")
    // a partial leftover: directory exists but carries no completion marker
    // (crash between writes, or a /tmp cleaner ate files)
    new File(base).mkdirs()
    new File(base, "half.parquet").createNewFile()
    var builds = 0
    AtomicStore.materialize(base) { tmp =>
      builds += 1
      new File(tmp).mkdirs()
      new File(tmp, "data").createNewFile()
    }
    assert(builds === 1)
    assert(!new File(base, "half.parquet").exists(), "partial content discarded")
    assert(new File(base, "data").exists())
    // second call: complete store served, builder not invoked
    AtomicStore.materialize(base)(_ => builds += 1)
    assert(builds === 1)
  }

  test("a failed build propagates and leaves no temp directories behind") {
    val base = freshBase("store2")
    val parent = new File(base).getParentFile
    val boom = intercept[RuntimeException](
      AtomicStore.materialize(base) { tmp =>
        new File(tmp).mkdirs()
        new File(tmp, "partial").createNewFile()
        throw new RuntimeException("builder failed")
      })
    assert(boom.getMessage === "builder failed")
    assert(!new File(base).exists(), "failed build must not publish")
    val leftovers = Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(".build."))
    assert(leftovers.isEmpty, s"temp dirs leaked: ${leftovers.mkString(", ")}")
    // and the store is rebuildable after the failure
    AtomicStore.materialize(base) { tmp =>
      new File(tmp).mkdirs()
      new File(tmp, "data").createNewFile()
    }
    assert(new File(base, "data").exists())
  }

  test("the schema memo is an LRU: overfilling it keeps recently used entries") {
    var inferred = 0
    def schema(path: String, fp: String) = AtomicStore.schemaOf(path, fp) {
      inferred += 1
      new org.apache.spark.sql.types.StructType().add(path, "long")
    }
    schema("hot", "t1")
    (1 to AtomicStore.SchemaCapacity + 500).foreach { i =>
      schema(s"cold$i", "t1")
      if (i % 100 == 0) schema("hot", "t1") // stays recently used
    }
    val before = inferred
    schema("hot", "t1")
    assert(inferred === before, "a recently used schema was dropped")
    schema("cold1", "t1") // the least recently used entries are the ones gone
    assert(inferred === before + 1)
    schema("hot", "t2") // a new fingerprint is a new entry, never a stale hit
    assert(inferred === before + 2)
  }

  test("Lru drops the least-recently-used entry, never the whole map") {
    val lru = new Lru[Int, Int](3)
    (1 to 3).foreach(i => lru.put(i, i))
    lru.get(1) // 1 is now the most recently used
    lru.put(4, 4)
    assert(lru.get(2).isEmpty)
    assert(Seq(1, 3, 4).flatMap(lru.get) === Seq(1, 3, 4))
  }

  test("opened caches a handle per root and re-opens a removed or re-published root") {
    val root = freshBase("handle")
    var builds = 0
    var opens = 0
    def open(): String = AtomicStore.opened(spark, root) { tmp =>
      builds += 1
      AtomicStore.writeString(s"$tmp/v", s"build$builds")
    } { p => opens += 1; AtomicStore.readString(s"$p/v") }
    assert(open() === "build1")
    assert(open() === "build1")
    assert((builds, opens) === ((1, 1)), "a hit must not rebuild or re-open")
    AtomicStore.delete(root) // removed between two calls
    assert(open() === "build2")
    assert((builds, opens) === ((2, 2)))
    // re-published by someone else: same path, new publish token
    AtomicStore.delete(root)
    AtomicStore.materialize(root)(tmp => AtomicStore.writeString(s"$tmp/v", "other"))
    assert(open() === "other")
    assert((builds, opens) === ((2, 3)))
  }

  test("roots live under java.io.tmpdir as graft_<kind>_<key>") {
    val tmp = sys.props("java.io.tmpdir")
    assert(AtomicStore.root("extvp", "a", "b") ===
      s"$tmp/graft_extvp_${AtomicStore.key("a", "b")}")
    assert(AtomicStore.root("sf1_v2") === s"$tmp/graft_sf1_v2")
  }
}
