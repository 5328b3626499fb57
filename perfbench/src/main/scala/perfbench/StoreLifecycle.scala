package perfbench

import java.util.SplittableRandom

import graft.{Graft, rdf}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `store_lifecycle`: a versioned quad store with three maintained views —
  * a binding view with its grouped-count summary, and a
  * `(<nation>|<region>)+` path view — driven round by round. A round
  * commits one seeded SPARQL Update on `g:customer` and syncs every view
  * (leg a, the write), reads the view and the summary and answers one
  * query from the views (leg b, the read), then applies the retention
  * policy the engine's own lifecycle keys use. */
final class StoreLifecycle(spark: SparkSession, ctx: Workload.Context)
    extends Workload {
  import StoreLifecycle._

  private val corpus = ctx.corpus
  private var store, view, agg, path: String = _

  /** One update per round: a new customer arrives (name, segment,
    * nation) and an original customer changes segment, so the binding
    * view and the summary change in both directions and the path view
    * grows; a customer changes segment at most once. */
  val updates: IndexedSeq[String] = {
    val r = new SplittableRandom(ctx.seed * 104729L + 3L)
    val n = corpus.custSeg.length
    val movers = Workload.shuffled(r, (0 until n).toArray)
    (0 until math.min(Workload.StreamLength, n)).map { i =>
      val v = movers(i)
      val old = corpus.custSeg(v)
      val seg = (old + 1 + r.nextInt(Data.Segments.length - 1)) %
        Data.Segments.length
      s"""INSERT DATA { GRAPH <g:customer> {
         |  <c:new$i> <name> "New#$i" .
         |  <c:new$i> <mktsegment> "${Data.Segments(r.nextInt(Data.Segments.length))}" .
         |  <c:new$i> <nation> "n:${r.nextInt(25)}" . } } ;
         |DELETE DATA { GRAPH <g:customer> {
         |  <c:$v> <mktsegment> "${Data.Segments(old)}" . } } ;
         |INSERT DATA { GRAPH <g:customer> {
         |  <c:$v> <mktsegment> "${Data.Segments(seg)}" . } }""".stripMargin
    }
  }

  def inputs: Seq[String] = updates

  def setup(tr: Tracer): Unit = {
    val base = s"${ctx.tmp}/graft_lifecycle"
    store = s"$base/store"; view = s"$base/view"; agg = s"$base/agg"
    path = s"$base/path"
    tr.span("setup.QuadStore.init")(
      Graft.storeInit(rdf.Quads.build(spark, ctx.data), store))
    tr.span("setup.ViewStore.createAggFromSparql")(
      Graft.summaryCreate(spark, store, view, agg, SummaryText, Graph))
    tr.span("setup.ViewStore.createPathFromSparql")(
      rdf.ViewStore.createPathFromSparql(spark, store, path, PathText, Graph))
    ctx.roots = Seq(base)
    round = 0
  }

  private var round = 0

  def op(i: Int, tr: Tracer): Workload.Op = {
    val u = updates(round)
    round += 1
    val (rows, s) = tr.op("lifecycle.round", i) {
      tr.span("leg.a") {
        tr.span("rdf.Update.update")(Graft.storeUpdate(spark, store, u))
        tr.span("rdf.ViewStore.sync.binding")(Graft.viewSync(spark, store, view))
        tr.span("rdf.ViewStore.sync.agg")(Graft.summarySync(spark, view, agg))
        tr.span("rdf.ViewStore.sync.path")(Graft.viewSync(spark, store, path))
      }
      val (n, _) = tr.span("leg.b") {
        val a = tr.span("rdf.ViewStore.read.binding")(
          Graft.viewRead(spark, view).collect())._1
        val b = tr.span("rdf.ViewStore.read.agg")(
          Graft.summaryRead(spark, agg).collect())._1
        val c = tr.span("rdf.ViewAnswer.answer")(
          Graft.viewAnswer(spark, store, Seq(view), AnswerText, Graph)
            .collect())._1
        a.length + b.length + c.length
      }
      tr.span("maintain") {
        tr.span("rdf.ViewStore.compact") {
          rdf.ViewStore.compactIfDeep(spark, view, MaxChain)
          rdf.ViewStore.compactAggIfDeep(spark, agg, MaxChain)
          rdf.ViewStore.compactIfDeep(spark, path, MaxChain)
        }
        tr.span("rdf.Update.vacuum")(rdf.QuadStore.vacuumIfDeep(store, Keep))
      }
      n
    }
    if (tr.traced) s.counts("fold_segments") =
      Seq(view, agg, path).map(rdf.ViewStore.segmentCount).sum.toDouble
    val errs = if (isCheckRound(round)) check() else Nil
    errs.foreach(ctx.log)
    val legs = tr.subtree(s).filter(_.parent == s.id)
    Workload.Op(s, legs.filter(_.name == "leg.a").map(_.seconds),
      legs.filter(_.name == "leg.b").map(_.seconds), errs.isEmpty, rows)
  }

  /** Each view and the summary against a recompute over the store head. */
  def check(): Seq[String] = {
    val head = rdf.QuadStore.read(spark, store)
    def same(what: String, got: DataFrame, want: String,
        cols: Seq[String]): Option[String] = {
      val g = got.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect()
      val w = Graft.sparqlQuads(head, want)
        .select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
      if (Workload.rowsDigest(g) == Workload.rowsDigest(w)) None
      else Some(s"round $round: $what has ${g.length} rows, recompute " +
        s"${w.length}")
    }
    Seq(
      same("binding view", Graft.viewRead(spark, view),
        s"SELECT ?cust ?seg ?nat WHERE { GRAPH <$Graph> { $Bgp } }",
        Seq("cust", "seg", "nat")),
      same("summary", Graft.summaryRead(spark, agg),
        s"SELECT ?seg (COUNT(*) AS ?cnt) WHERE { GRAPH <$Graph> { $Bgp } } " +
          "GROUP BY ?seg", Seq("seg", "cnt")),
      same("path view", Graft.viewRead(spark, path),
        s"SELECT ?x ?y WHERE { GRAPH <$Graph> { ?x (<nation>|<region>)+ ?y } }",
        Seq("x", "y"))).flatten
  }

  def finish(tr: Tracer): Seq[String] =
    if (isCheckRound(round)) Nil else check()

  def live(): Seq[DataFrame] = Seq(rdf.QuadStore.read(spark, store),
    Graft.viewRead(spark, view), Graft.summaryRead(spark, agg),
    Graft.viewRead(spark, path))
}

object StoreLifecycle {
  val Graph = "g:customer"
  val Bgp = "?cust <mktsegment> ?seg . ?cust <nation> ?nat ."
  val SummaryText =
    s"SELECT ?seg (COUNT(*) AS ?cnt) WHERE { $Bgp } GROUP BY ?seg"
  val PathText = "SELECT * WHERE { ?x (<nation>|<region>)+ ?y }"
  val AnswerText =
    s"SELECT ?cust ?seg ?nat ?n WHERE { $Bgp ?cust <name> ?n . }"
  /** The retention policy of the engine's lifecycle keys: compact a view
    * whose fold chain is deeper than 6, vacuum the store to 2 versions. */
  val MaxChain = 6
  val Keep = 2
  /** Rounds after which every view is checked (2, 4, 8, ...); the end of
    * a run is checked too. */
  def isCheckRound(r: Int): Boolean = r >= 2 && (r & (r - 1)) == 0
}
