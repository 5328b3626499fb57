package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced window. Layer names are the engine's
  * module names, except `exec` (Spark's scheduler), `plans` (Catalyst),
  * and `setup`. Each is a per-op median unless noted: ms-grained
  * planning phases and GC are per-op means, compaction and vacuum are
  * per-round means (most rounds skip them), and held storage and files
  * are end-of-run values. Every workload reports every layer; a layer
  * its ops bypass reads 0. `rdf.Sparql.parse_s` is one parse of the op's
  * text, timed after the op (the facade's own parses run inside
  * `rdf.Sparql.lower_s`). */
object Layers {

  /** Bytes of cached and checkpointed RDD blocks the session still holds. */
  def heldBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize)
      .sum.toDouble

  def compute(ops: Seq[Workload.Op], tr: Tracer, ctx: Workload.Context,
      sessionS: Double, setupCalls: Map[String, Double],
      heldSetup: Double, heldEnd: Double, files: Long)
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, u: String): Unit = out(k) = (v, u)
    val med = Stats.median _
    val mean = Stats.mean _
    val jobs = ops.map(o => tr.jobsUnder(o.span))
    val plans = ops.map(o => tr.plansIn(o.span))
    def perJob(f: JobRec => Double): Seq[Double] = jobs.map(_.map(f).sum)
    def named(o: Workload.Op, names: Set[String]): Seq[Span] =
      tr.subtree(o.span).filter(s => names(s.name))
    def secs(names: String*): Seq[Double] =
      ops.map(o => named(o, names.toSet).map(_.seconds).sum)
    def jobCount(names: String*): Seq[Double] =
      ops.map(o => named(o, names.toSet).map(s => tr.jobsUnder(s).size).sum
        .toDouble)

    put("plans.analysis_s", mean(plans.map(_.map(_.analysisMs).sum / 1e3)), "s")
    put("plans.optimization_s",
      mean(plans.map(_.map(_.optimizationMs).sum / 1e3)), "s")
    put("plans.planning_s", mean(plans.map(_.map(_.planningMs).sum / 1e3)), "s")
    put("plans.physical_nodes", med(plans.map(_.map(_.nodes).sum.toDouble)),
      "count")

    put("exec.jobs", med(jobs.map(_.size.toDouble)), "count")
    put("exec.stages", med(perJob(_.stagesRun)), "count")
    put("exec.tasks", med(perJob(_.tasks.toDouble)), "count")
    put("exec.job_s", med(perJob(j => (j.endMs - j.startMs) / 1e3)), "s")
    put("exec.scheduler_delay_s", med(perJob(_.schedDelayMs / 1e3)), "s")
    put("exec.driver_gap_s", med(ops.zip(jobs).map { case (o, js) =>
      math.max(0.0, o.span.seconds -
        Tracer.unionMs(js.map(j => (j.startMs, j.endMs))) / 1e3)
    }), "s")
    put("exec.shuffle_read_bytes", med(perJob(_.shuffleRead.toDouble)), "bytes")
    put("exec.shuffle_write_bytes", med(perJob(_.shuffleWrite.toDouble)),
      "bytes")
    put("exec.spill_bytes", med(perJob(_.spill.toDouble)), "bytes")
    put("exec.task_cpu_frac", med(jobs.map { js =>
      val run = js.map(_.runMs).sum
      if (run == 0) 0.0 else js.map(_.cpuNs).sum / 1e6 / run
    }), "ratio")
    put("exec.input_rows_per_result_row", med(ops.zip(jobs).map { case (o, js) =>
      js.map(_.recordsRead).sum.toDouble / math.max(1L, o.resultRows)
    }), "ratio")
    put("exec.gc_s", mean(ops.map(_.span.counts.getOrElse("gc_ms", 0.0) / 1e3)),
      "s")

    put("Materialize.jobs",
      med(jobs.map(_.count(_.site.startsWith("materialize")).toDouble)), "count")
    put("Materialize.storage_held_bytes", heldEnd, "bytes")
    put("Materialize.storage_held_growth", heldEnd - heldSetup, "bytes")

    put("rdf.Sparql.parse_s",
      med(ops.map(_.span.counts.getOrElse("parse_s", 0.0))), "s")
    put("rdf.Sparql.lower_s", med(secs("rdf.Sparql.lower")), "s")
    put("rdf.Sparql.lower_jobs", med(jobCount("rdf.Sparql.lower")), "count")
    put("rdf.Update.update_s", med(secs("rdf.Update.update")), "s")
    put("rdf.Update.update_jobs", med(jobCount("rdf.Update.update")), "count")
    put("rdf.Update.vacuum_s", mean(secs("rdf.Update.vacuum")), "s")
    for (v <- Seq("binding", "agg", "path")) {
      put(s"rdf.ViewStore.sync_s.$v", med(secs(s"rdf.ViewStore.sync.$v")), "s")
      put(s"rdf.ViewStore.sync_jobs.$v",
        med(jobCount(s"rdf.ViewStore.sync.$v")), "count")
    }
    put("rdf.ViewStore.compact_s", mean(secs("rdf.ViewStore.compact")), "s")
    val reads = Seq("rdf.ViewStore.read.binding", "rdf.ViewStore.read.agg")
    put("rdf.ViewStore.read_s", med(secs(reads: _*)), "s")
    put("rdf.ViewStore.read_jobs", med(jobCount(reads: _*)), "count")
    put("rdf.ViewStore.fold_segments",
      med(ops.map(_.span.counts.getOrElse("fold_segments", 0.0))), "count")
    put("rdf.ViewAnswer.answer_s", med(secs("rdf.ViewAnswer.answer")), "s")
    put("rdf.ViewAnswer.answer_jobs", med(jobCount("rdf.ViewAnswer.answer")),
      "count")
    put("sources.AtomicStore.bytes_written_per_round",
      med(perJob(_.bytesWritten.toDouble)), "bytes")
    put("sources.AtomicStore.files_on_disk", files.toDouble, "count")
    // jobs per path-template query or path-view sync: the ops that ran one
    val closure = jobs.map(_.count(_.site.contains("Paths.scala")).toDouble)
      .filter(_ > 0)
    put("rdf.Paths.closure_jobs", if (closure.isEmpty) 0.0 else med(closure),
      "count")

    put("llm.Dedup.pairs_s", med(secs("llm.Dedup.pairs")), "s")
    put("llm.Dedup.pairs_jobs", med(jobCount("llm.Dedup.pairs")), "count")
    put("llm.Dedup.cc_s", med(secs("llm.Dedup.cc")), "s")
    put("llm.Dedup.cc_jobs", med(jobCount("llm.Dedup.cc")), "count")
    put("llm.Dedup.candidate_precision",
      ctx.notes.getOrElse("candidate_precision", 0.0), "ratio")
    val searches = ops.flatMap(o => named(o, Set("llm.IvfIndex.search")))
    put("llm.IvfIndex.search_s", med(searches.map(_.seconds)) match {
      case x if x.isNaN => 0.0
      case x => x
    }, "s")
    put("llm.IvfIndex.rows_scanned_per_result",
      if (searches.isEmpty) 0.0
      else med(searches.map(s =>
        tr.jobsUnder(s).map(_.recordsRead).sum / LlmDedup.K.toDouble)),
      "ratio")

    put("setup.session_s", sessionS, "s")
    Workload.SetupCalls.foreach(c =>
      put(s"setup.${c}_s", setupCalls.getOrElse(s"setup.$c", 0.0), "s"))
    out.map { case (k, (v, u)) => k -> ((if (v.isNaN) 0.0 else v), u) }
  }
}
