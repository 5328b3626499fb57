package perfbench

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: session, seeded inputs, set-up, a
  * closed-loop measurement window, correctness checks, and a result file
  * with every metric the run computed (`run.py` keeps the ones
  * BENCHMARK.json lists). `perfbench/run.py` builds this and launches it;
  * see README.md.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --sf X
  * --cpus N --work DIR --result FILE --trace-file FILE --floors k=v,... */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sf: Double, cpus: Int, work: String, result: String,
      traceFile: String, floors: Map[String, Double])

  /** `--key value` pairs. */
  def options(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  /** `k=v,...` correctness floors. */
  def floors(s: String): Map[String, Double] =
    s.split(",").map { kv => val Array(k, v) = kv.split("="); k -> v.toDouble }
      .toMap

  def parse(a: Array[String]): Args = {
    val m = options(a)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("sf").toDouble, m("cpus").toInt, m("work"),
      m("result"), m("trace-file"), floors(m("floors")))
  }

  /** Human names of each workload's two legs. */
  val LegNames = Map(
    "sparql_read" -> ("string_store", "id_store"),
    "store_lifecycle" -> ("write", "read"),
    "llm_dedup" -> ("dedup", "probe"))

  /** Tables each workload's set-up reads. */
  val Tables = Map(
    "sparql_read" -> Set("customer", "orders", "nation", "region"),
    "store_lifecycle" -> Set("customer", "orders", "nation", "region"),
    "llm_dedup" -> Set("documents", "embeddings"))

  def workload(name: String, spark: SparkSession,
      ctx: Workload.Context): Workload = name match {
    case "sparql_read" => new SparqlRead(spark, ctx)
    case "store_lifecycle" => new StoreLifecycle(spark, ctx)
    case _ => new LlmDedup(spark, ctx)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(LegNames.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1e3

    // inputs are generated while the session starts
    val generated = scala.concurrent.Future(Data.write(s"${a.work}/data",
      a.seed, a.sf, Tables(a.workload)))(scala.concurrent.ExecutionContext.global)

    // session start: the factory every entry point shares, with every
    // persisted location inside this run's work directory
    val t0 = System.nanoTime()
    val spark = GraftSession.local(a.cpus.toString, Map(
      "spark.sql.warehouse.dir" -> s"${a.work}/warehouse",
      "spark.local.dir" -> s"${a.work}/local"))
    spark.sparkContext.setLogLevel("ERROR")
    val contextS = (System.nanoTime() - t0) / 1e9
    sentinelJob(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sentinelHead = sentinel(spark)
    val phases = mutable.LinkedHashMap("jvm" -> jvmS, "context" -> contextS,
      "session" -> sessionS)
    def phase[A](name: String)(f: => A): A = {
      val t = System.nanoTime()
      try f finally phases(name) = (System.nanoTime() - t) / 1e9
    }

    val corpus = phase("generate")(scala.concurrent.Await.result(generated,
      scala.concurrent.duration.Duration.Inf))
    val ctx = new Workload.Context(a.seed, a.work, corpus, a.floors)
    val w = workload(a.workload, spark, ctx)
    val inputHash = Workload.sha256(corpus.digest + "\n" +
      w.inputs.mkString("\n"))

    // set-up; a traced run also traces it
    val tracer = new Tracer(spark, traced = a.trace)
    tracer.start()
    val (_, setup) = phase("setup")(tracer.op("setup", -1)(w.setup(tracer)))
    tracer.stop()
    val setupCalls = tracer.subtree(setup).filter(_.parent == setup.id)
      .map(s => s.name -> s.seconds).toMap
    val setupS = sessionS + setup.seconds
    val heldAfterSetup = Layers.heldBytes(spark)

    // the measurement window: closed loop, one client, at least `seconds`
    // of op time in whole blocks
    val ops = phase("measure") {
      tracer.start()
      val ops = mutable.ArrayBuffer.empty[Workload.Op]
      var busy = 0.0
      while (busy < a.seconds || ops.size % w.block != 0) {
        val o = w.op(ops.size, tracer)
        ops += o
        busy += o.span.seconds
      }
      tracer.stop()
      ops.toSeq
    }

    val errors = ops.filterNot(_.ok).map(o => s"op ${o.span.op} failed") ++
      phase("check")(w.finish(tracer))
    val (diskBytes, files) = Workload.diskUsage(ctx.roots)
    val liveBytes = phase("live_copy")(w.live().zipWithIndex.map { case (df, i) =>
      val p = s"${a.work}/live_$i"
      df.write.parquet(p)
      Workload.diskUsage(Seq(p))._1
    }.sum)
    val heldEnd = Layers.heldBytes(spark)
    val sentinelTail = sentinel(spark)

    val lat = ops.map(_.span.seconds)
    val legA = ops.flatMap(_.legA)
    val legB = ops.flatMap(_.legB)
    val failed = ops.count(!_.ok)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_p50_s" -> (Stats.pct(lat, 0.5), "s"),
      "op_tail_s" -> (Stats.pct(lat, Stats.Tail), "s"),
      "ops_per_s" -> (ops.size / lat.sum, "1/s"),
      "leg_a_mean_s" -> (Stats.mean(legA), "s"),
      "leg_b_mean_s" -> (Stats.mean(legB), "s"),
      "store_bytes_per_live_byte" -> (diskBytes.toDouble / liveBytes, "ratio"))
    val layers =
      if (!a.trace) mutable.LinkedHashMap.empty[String, (Double, String)]
      else Layers.compute(ops, tracer, ctx, sessionS, setupCalls,
        heldAfterSetup, heldEnd, files)

    val (la, lb) = LegNames(a.workload)
    val out = new StringBuilder
    out ++= s"perfbench ${a.workload} seed=${a.seed} sf=${a.sf} " +
      s"trace=${if (a.trace) 1 else 0} cpus=${a.cpus} ops=${ops.size} " +
      s"failed=$failed failed_frac=${failed.toDouble / ops.size}\n"
    out ++= s"  input_sha256 $inputHash\n"
    out ++= s"  sentinel_s head=${sentinelHead.mkString(",")} " +
      s"tail=${sentinelTail.mkString(",")}\n"
    out ++= s"  tail percentile p${(Stats.Tail * 100).round}; leg a = $la, " +
      s"leg b = $lb\n"
    e2e.foreach { case (k, (v, u)) =>
      val alias = k.replace("leg_a", la).replace("leg_b", lb)
      out ++= f"  $k%-28s $v%14.6f $u%-6s ${if (alias != k) alias else ""}\n"
    }
    out ++= "  op_s " + lat.map(x => f"$x%.3f").mkString(" ") + "\n"
    ctx.notes.foreach { case (k, v) => out ++= f"  note $k%-23s $v%14.6f\n" }
    setupCalls.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out ++= f"  $k%-45s $v%10.3f s\n" }
    out ++= "  run phases " + phases.map { case (k, v) => f"$k=$v%.1fs" }
      .mkString(" ") + "\n"
    layers.foreach { case (k, (v, u)) => out ++= f"  layer $k%-45s $v%16.6f $u\n" }
    errors.foreach(e => out ++= s"  ERROR $e\n")
    print(out.result())

    if (a.trace) tracer.write(a.traceFile, setup.startMs)
    val metrics = (if (a.trace) layers else e2e).map { case (k, (v, u)) =>
      s""""$k":{"value":${Stats.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val sentinelJson = s"""{"head":${sentinelHead.mkString("[", ",", "]")},""" +
      s""""tail":${sentinelTail.mkString("[", ",", "]")}}"""
    // a failed end-of-run check counts as one more failed operation
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.result),
      s"""{"correct":${errors.isEmpty},"attempted":${ops.size},""" +
        s""""failed":${failed + (if (errors.size > failed) 1 else 0)},""" +
        s""""metrics":$metrics,"input_sha256":"$inputHash",""" +
        s""""sentinel":$sentinelJson}""")
    spark.stop()
  }

  /** A fixed, data-independent job (one small shuffle and aggregate),
    * sampled before and after the run: a contended host shows here. */
  def sentinel(spark: SparkSession): Seq[Double] = (1 to 2).map { _ =>
    val t0 = System.nanoTime()
    sentinelJob(spark)
    (System.nanoTime() - t0) / 1e9
  }

  def sentinelJob(spark: SparkSession): Unit =
    spark.range(1L << 19).selectExpr("pmod(id, 97) as k", "id as v")
      .groupBy("k").sum("v").count(): Unit
}

object Stats {
  /** The tail percentile every latency metric reports. */
  val Tail = 0.9

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear interpolation between closest ranks; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** JSON number (NaN and infinities are not JSON). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString
}
