package graft

import graft.llm.{EmbeddingOps, IvfIndex}
import graft.rdf.{C, ExtVp, TP, Triples, V}
import graft.sources.{AtomicStore, Tables}

/** A persisted root removed between two calls in ONE session is rebuilt
  * and served fresh — never a cached handle over files that are gone
  * (FAILED_READ_FILE.FILE_NOT_EXIST). Each test works on a private copy
  * of the sf0.001 tables, so the roots it deletes are its own. Root
  * paths are spelled out as `<tmpdir>/graft_<kind>_<key>`, which also
  * pins the naming the `graft_*` leak checks rely on. */
class PersistedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def copyOfSf0001(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pstore")
    new java.io.File(sf0001).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  private def tmpRoot(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_$name"

  private def withData(body: String => Unit): Unit = {
    val d = copyOfSf0001()
    try body(d) finally rmTree(new java.io.File(d))
  }

  test("ExtVp.forDataset rebuilds a root removed between two calls") {
    withData { d =>
      val root = tmpRoot("extvp_" +
        AtomicStore.key(d, Triples.duckCte, "extvp-0.9"))
      val chain = Seq(
        TP(V("ord"), C("custkey"), V("cust")),
        TP(V("cust"), C("mktsegment"), V("seg")))
      def solve(): Set[(String, String)] = ExtVp.solve(
        ExtVp.forDataset(spark, d), chain)
        .select("ord", "seg").as[(String, String)].collect().toSet
      try {
        val first = solve()
        assert(first.nonEmpty)
        assert(AtomicStore.isComplete(root), s"no published store at $root")
        rmTree(new java.io.File(root))
        assert(solve() === first)
        assert(AtomicStore.isComplete(root), "removed root was not rebuilt")
      } finally rmTree(new java.io.File(root))
    }
  }

  test("IvfIndex.forEmbeddings rebuilds a root removed between two calls") {
    withData { d =>
      val root = tmpRoot(s"ivf_${AtomicStore.key(d)}_4")
      def search(): Seq[Long] = IvfIndex.search(
        IvfIndex.forEmbeddings(spark, d, 4), 0L, 5, 2)
        .select("vec_id").as[Long].collect().toSeq
      try {
        val first = search()
        assert(first.nonEmpty)
        assert(AtomicStore.isComplete(root), s"no published index at $root")
        rmTree(new java.io.File(root))
        assert(search() === first)
        assert(AtomicStore.isComplete(root), "removed root was not rebuilt")
      } finally rmTree(new java.io.File(root))
    }
  }

  test("EmbeddingOps.indexForEmbeddings rebuilds a root removed between two calls") {
    withData { d =>
      val root = tmpRoot("lsh_" + AtomicStore.key(d,
        EmbeddingOps.NumTables.toString, EmbeddingOps.PlanesPerTable.toString))
      def topK(): Seq[Long] = EmbeddingOps.annTopKIndexed(
        Tables.embeddings(spark, d), EmbeddingOps.indexForEmbeddings(spark, d),
        0L, 5).select("vec_id").as[Long].collect().toSeq
      try {
        val first = topK()
        assert(AtomicStore.isComplete(root), s"no published index at $root")
        rmTree(new java.io.File(root))
        assert(topK() === first)
        assert(AtomicStore.isComplete(root), "removed root was not rebuilt")
      } finally rmTree(new java.io.File(root))
    }
  }

  test("a Tables path regenerated with a new schema is read with the new schema") {
    val d = java.nio.file.Files.createTempDirectory("graft-regen").toString
    try {
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/region.parquet")
      assert(Tables.region(spark, d).columns.toSeq === Seq("k", "v"))
      Seq((2L, 3.5, "x")).toDF("id", "score", "tag")
        .write.mode("overwrite").parquet(s"$d/region.parquet")
      val again = Tables.region(spark, d)
      assert(again.columns.toSeq === Seq("id", "score", "tag"))
      assert(again.as[(Long, Double, String)].collect().toSeq ===
        Seq((2L, 3.5, "x")))
    } finally rmTree(new java.io.File(d))
  }
}
