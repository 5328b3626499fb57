package perfbench

import graft.GraftSession

/** Loads the classes benchmark runs use, so that `run.py` can record the
  * JVM's class-data archive once per build: one session runs every
  * workload's set-up, first op, checks and storage copy, traced, at a
  * tiny scale. Its results are thrown away.
  *
  * Arguments: --work DIR --cpus N --floors k=v,... */
object Train {
  def main(argv: Array[String]): Unit = {
    val m = Main.options(argv)
    val work = m("work")
    val spark = GraftSession.local(m("cpus"), Map(
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.local.dir" -> s"$work/local"))
    spark.sparkContext.setLogLevel("ERROR")
    Main.sentinelJob(spark)
    for (name <- Main.Tables.keys.toSeq.sorted) {
      val dir = s"$work/$name"
      val corpus = Data.write(s"$dir/data", 1L, 0.001, Main.Tables(name))
      val w = Main.workload(name, spark,
        new Workload.Context(1L, dir, corpus, Main.floors(m("floors"))))
      val tr = new Tracer(spark, traced = true)
      tr.start()
      w.setup(tr)
      w.op(0, tr)
      w.finish(tr)
      tr.stop()
      w.live().zipWithIndex.foreach { case (df, i) =>
        df.write.parquet(s"$dir/live_$i") }
    }
    spark.stop()
  }
}
