package perfbench

import java.util.SplittableRandom

import graft.{Graft, rdf}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `sparql_read`: a seeded stream of SELECT texts from seven templates,
  * each run on the subject-bucketed string store (`Graft.sparql`) and on
  * the dictionary-encoded id store (`Graft.sparqlEncoded`), all rows
  * fetched, in blocks of one instance per template. Leg a is the string
  * store, leg b the id store. */
final class SparqlRead(spark: SparkSession, ctx: Workload.Context)
    extends Workload {
  import SparqlRead._

  private val corpus = ctx.corpus
  private var store: DataFrame = _
  private var dict: DataFrame = _
  private var enc: DataFrame = _

  /** The query stream: text and template index per op. Blocks run the
    * templates in a fixed order, so every seed measures the same mix in
    * the same JIT state; the seed draws the constants. */
  val stream: IndexedSeq[(Int, String)] = {
    val r = new SplittableRandom(ctx.seed * 7919L + 1L)
    (0 until Workload.StreamLength / Templates).flatMap { _ =>
      (0 until Templates).map(t => t -> text(t, r))
    }
  }

  def inputs: Seq[String] = stream.map(_._2)

  private def text(t: Int, r: SplittableRandom): String = {
    val c = corpus.custSeg.length
    def seg = Data.Segments(r.nextInt(Data.Segments.length))
    def nat = s"n:${r.nextInt(25)}"
    t match {
      case 0 =>
        val k = r.nextInt(c)
        s"SELECT ?n ?seg ?nat WHERE { <c:$k> <name> ?n . " +
          s"<c:$k> <mktsegment> ?seg . <c:$k> <nation> ?nat . }"
      case 1 =>
        s"""SELECT ?c ?n WHERE { ?c <mktsegment> "$seg" . """ +
          s"""?c <nation> "$nat" . ?c <name> ?n . }"""
      case 2 =>
        s"SELECT ?o ?c WHERE { ?o <custkey> ?c . " +
          s"""?o <orderstatus> "${Data.Statuses(r.nextInt(3))}" . """ +
          s"""?o <orderpriority> "${Data.Priorities(r.nextInt(5))}" . """ +
          s"""?c <mktsegment> "$seg" . ?c <nation> "$nat" . }"""
      case 3 =>
        val lo = r.nextInt(22)
        s"""SELECT ?c ?k WHERE { ?c <nationkey> ?k . ?c <mktsegment> "$seg" . """ +
          s"FILTER (?k >= $lo && ?k < ${lo + 3}) }"
      case 4 =>
        s"""SELECT ?c ?n ?o WHERE { ?c <nation> "$nat" . ?c <name> ?n . """ +
          s"""OPTIONAL { ?o <custkey> ?c . ?o <orderpriority> "${Data.Priorities(r.nextInt(5))}" . } }"""
      case 5 =>
        s"""SELECT ?nat (COUNT(*) AS ?cnt) WHERE { ?c <nation> ?nat . ?c <mktsegment> "$seg" . } """ +
          "GROUP BY ?nat"
      case _ =>
        s"""SELECT ?x WHERE { ?x (<nation>|<region>)+ ?y . FILTER (?y = "r:${r.nextInt(5)}") }"""
    }
  }

  def setup(tr: Tracer): Unit = {
    val before = ctx.tmpRoots()
    val table = "perfbench_triples"
    val (t, _) = tr.span("setup.Graft.triples")(Graft.triples(spark, ctx.data))
    tr.span("setup.TripleStore.saveBucketed")(Graft.saveBucketed(t, table))
    val ((d, e), _) = tr.span("setup.TripleStore.encodedFor")(
      rdf.TripleStore.encodedFor(spark, ctx.data))
    store = spark.table(table)
    dict = d
    enc = e
    ctx.roots = s"${ctx.warehouse}/$table" +: (ctx.tmpRoots() -- before).toSeq
  }

  private def query(q: String, tr: Tracer): (Array[Row], Array[Row]) = {
    def leg(name: String, lower: => DataFrame): Array[Row] =
      tr.span(name) {
        val (df, _) = tr.span("rdf.Sparql.lower")(lower)
        tr.span("fetch")(df.collect())._1
      }._1
    (leg("leg.a", Graft.sparql(store, q)),
      leg("leg.b", Graft.sparqlEncoded(enc, dict, q)))
  }

  def op(i: Int, tr: Tracer): Workload.Op = {
    val (template, q) = stream(i % stream.length)
    val ((a, b), s) = tr.op(s"sparql.t$template", i)(query(q, tr))
    // the facade parses inside `lower`; a traced run times one more parse
    // of the same text after the op, outside its span
    if (tr.traced) {
      val t0 = System.nanoTime()
      rdf.Sparql.parse(q)
      s.counts("parse_s") = (System.nanoTime() - t0) / 1e9
    }
    val ok = Workload.rowsDigest(a) == Workload.rowsDigest(b)
    if (!ok) ctx.log(s"mismatch: string store ${a.length} rows, id store " +
      s"${b.length} rows for: $q")
    val legs = tr.subtree(s).filter(_.parent == s.id)
    Workload.Op(s, legs.filter(_.name == "leg.a").map(_.seconds),
      legs.filter(_.name == "leg.b").map(_.seconds), ok, a.length + b.length)
  }

  def finish(tr: Tracer): Seq[String] = Nil

  override def block: Int = Templates

  def live(): Seq[DataFrame] = Seq(store)
}

object SparqlRead {
  val Templates = 7
}
