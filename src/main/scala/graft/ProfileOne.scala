package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Local-iteration profiler: run one query key and report wall seconds,
  * DRIVER ACTIONS, Spark job count and summed job time. Lifecycle keys
  * (stores, views) are dominated by fixed per-commit overhead — many tiny
  * driver-blocking jobs — which this makes visible without an event-log
  * UI.
  *
  * Actions are what to compare between runs: one per SQL execution plus
  * one per job outside any. The number of jobs adaptive execution
  * submits inside one execution varies between runs of the same code,
  * so raw job counts do not repeat. Each run is a job group, and the
  * listener bus is drained by a marker job before counting.
  *
  * Usage: runMain graft.ProfileOne <sfDir> <name1,name2,...> [repeats]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("WARN")
    // (job group, SQL execution id or job id) of every job started
    val started =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val jobMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // boxed key/value types: a primitive-typed CHM would unbox a missing
    // key's null remove() to 0L and corrupt the sum with epoch millis
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
    val bySite = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val siteOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // SQL execution id → the ACTION's call site (async broadcast /
    // subquery jobs run on a capture pool whose own stage site is a
    // useless lambda; the enclosing execution's description is the
    // attribution that matters)
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execSite.put(s.executionId, s.description.takeWhile(_ != '\n')): Unit
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val group = prop("spark.jobGroup.id").orNull
        started.add((group,
          prop("spark.sql.execution.id").getOrElse(s"job-${j.jobId}"))): Unit
        if (group != null && group.endsWith("-marker")) return
        starts.put(j.jobId, j.time)
        val fromExec = prop("spark.sql.execution.id")
          .flatMap(id => Option(execSite.get(id.toLong)))
        val fromStages = j.stageInfos.map(_.name.takeWhile(_ != '\n'))
          .filterNot(_.contains("CompletableFuture")).lastOption
        val site = fromExec.orElse(fromStages)
          .orElse(j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        siteOf.put(j.jobId, site.take(90)): Unit
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(Integer.valueOf(j.jobId))).foreach { s =>
          jobMs.addAndGet(j.time - s)
          val site = Option(siteOf.remove(j.jobId)).getOrElse("?")
          bySite.compute(site, (_, v) => {
            val a = if (v == null) Array(0L, 0L) else v
            a(0) += 1; a(1) += (j.time - s); a
          }): Unit
        }
    })
    val sc = spark.sparkContext
    def inGroup[A](g: String)(body: => A): A = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    def seen(g: String) =
      started.toArray(Array.empty[(String, String)]).filter(_._1 == g)
    names.foreach { name =>
      (1 to repeats).foreach { r =>
        jobMs.set(0L); bySite.clear()
        val group = s"profile-$name-$r"
        val t0 = System.nanoTime()
        val n = inGroup(group)(SparkEntry.queries(name)(spark, sfDir).count())
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events arrive in order: once the marker job is seen,
        // every earlier job has been
        inGroup(s"$group-marker")(spark.range(1).count())
        val deadline = System.currentTimeMillis() + 30000
        while (seen(s"$group-marker").isEmpty &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
        val jobs = seen(group)
        println(f"[profile] $name run$r: wall=$wall%.2fs" +
          f" actions=${jobs.map(_._2).distinct.length} jobs=${jobs.length}" +
          f" jobTime=${jobMs.get / 1000.0}%.2fs rows=$n")
        import scala.jdk.CollectionConverters._
        bySite.asScala.toSeq.sortBy(-_._2(1)).take(40).foreach {
          case (site, a) => println(
            f"[profile]   $site%-50s n=${a(0)}%3d t=${a(1) / 1000.0}%.2fs")
        }
      }
    }
    spark.stop()
  }
}
