package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * a single forked JVM so getOrCreate returns the same instance).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Driver actions the eager part of `run` takes, found by job group: one
    * per SQL execution plus one per job outside any. Raw job counts are
    * not stable: the number of jobs adaptive execution submits inside one
    * execution varies between runs of the same call. */
  def actions(run: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"actions-${System.nanoTime()}"
    val marker = s"$group-marker"
    // (job group, SQL execution id or job id) of every job started
    val started =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        started.add((prop("spark.jobGroup.id").orNull,
          prop("spark.sql.execution.id").getOrElse(s"job-${j.jobId}"))): Unit
      }
    }
    def seen(g: String) =
      started.toArray(Array.empty[(String, String)]).filter(_._1 == g)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every earlier job of the group has been
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (seen(marker).isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(seen(marker).nonEmpty)
      seen(group).map(_._2).distinct.length
    } finally sc.removeSparkListener(listener)
  }

  /** Recursive delete for warehouse/output dirs left by previous JVMs. */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // mirror GraftSession: CBO on (inert without stats) so specs assert
      // the same plans Verify/Bench run
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the suite runs ~120k tasks' worth of checkpoint-heavy jobs in one
      // session; dead localCheckpoint blocks are only unpersisted when
      // the ContextCleaner notices their RDDs are unreachable, which is
      // GC-driven. The default 30min periodic GC fires ~once per run —
      // a 2min cadence keeps executor storage (same JVM heap here) from
      // accumulating across suites.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
