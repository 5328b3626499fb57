package graft.sources

import graft.SparkSpec
import graft.rdf.{C, QuadStore, TP, V, ViewStore}
import VersionChain.{Edges, Rows}

/** A publish that writes a DataFrame records the written schema in the
  * [[AtomicStore.readParquet]] memo, so the first read of a fresh base or
  * segment runs no schema-inference job. Checked for every published
  * shape of the view lifecycle: the seeded schema must be the one parquet
  * reads back. */
class SchemaSeedSpec extends SparkSpec {
  import spark.implicits._

  /** Call sites of the jobs `run` submits. */
  private def jobSites(run: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"sites-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        seen.add((prop("spark.jobGroup.id").orNull,
          prop("callSite.short").getOrElse(""))): Unit
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
      // listener events arrive in order: the marker job flushes the rest
      sc.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      def all = seen.toArray(Array.empty[(String, String)]).toSeq
      while (!all.exists(_._1 == s"$group-marker") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      all.filter(_._1 == group).map(_._2)
    } finally sc.removeSparkListener(listener)
  }

  private def inferences(run: => Any): Int =
    jobSites(run).count(_.startsWith("parquet at AtomicStore.scala"))

  /** The published `path` reads with no job before its action, and with
    * the schema parquet itself reports. */
  private def seeded(path: String): Unit = {
    assert(AtomicStore.isComplete(path), path)
    assert(jobSites(AtomicStore.readParquet(spark, path)).isEmpty, path)
    assert(AtomicStore.readParquet(spark, path).schema ===
      spark.read.parquet(path).schema, path)
  }

  test("each published shape is read first with its seeded schema") {
    val base = java.nio.file.Files.createTempDirectory("schemaseed").toString
    val (store, view, agg, pview) =
      (s"$base/store", s"$base/view", s"$base/agg", s"$base/pview")
    val v0 = QuadStore.init(Seq(("c:1", "nat", "de", ""), ("c:2", "nat", "fr", ""),
      ("a", "p", "m", ""), ("m", "q", "b", "")).toDF("s", "p", "o", "g"), store)
    ViewStore.create(spark, store, view, Seq(TP(V("c"), C("nat"), V("nat"))))
    ViewStore.createAgg(spark, view, agg, Seq("nat"))
    ViewStore.createPathSeqFromSparql(spark, store, pview,
      "SELECT * WHERE { ?x (<p>/<q>)+ ?y }")
    // bases: the view's rows and the summary's counts
    seeded(Rows.basePath(view, v0))
    seeded(Rows.basePath(agg, v0))

    // a real change: a quad-store delta, view rows with __op, summary
    // count changes and an edge segment
    val v1 = QuadStore.update(spark, store,
      """INSERT DATA { <c:3> <nat> "de" . <b> <p> "n" . <n> <q> "c" . } ;
        |DELETE DATA { <c:2> <nat> "fr" }""".stripMargin)
    seeded(f"$store/d$v1%05d")
    assert(inferences(ViewStore.sync(spark, store, view)) === 0)
    seeded(Rows.segPath(view, v0, v1))
    assert(inferences(ViewStore.syncAgg(spark, view, agg)) === 0)
    seeded(Rows.segPath(agg, v0, v1))
    // the sync reads its own edge segment back: no inference there either
    assert(inferences(ViewStore.sync(spark, store, pview)) === 0)
    seeded(Rows.segPath(pview, v0, v1))
    assert(AtomicStore.readParquet(spark, Edges.segPath(pview, v0, v1)).schema
      === spark.read.parquet(Edges.segPath(pview, v0, v1)).schema)

    // a request that nets to nothing: the empty fast-path segments
    val v2 = QuadStore.update(spark, store, """INSERT DATA { <c:1> <nat> "de" }""")
    ViewStore.sync(spark, store, view)
    seeded(Rows.segPath(view, v1, v2))
    assert(inferences(ViewStore.sync(spark, store, pview)) === 0)
    seeded(Edges.segPath(pview, v1, v2))
    seeded(Rows.segPath(pview, v1, v2))
  }
}
