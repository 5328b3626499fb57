package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** One benchmark workload: its seeded inputs, a repeatable set-up, and
  * one closed-loop operation at a time. */
trait Workload {
  /** The generated inputs the program receives, in stream order. */
  def inputs: Seq[String]
  /** The set-up: build the stores the ops run on from the generated
    * tables, each public call in a `setup.<call>` span (names in
    * [[Workload.SetupCalls]]). */
  def setup(tr: Tracer): Unit
  /** Run op `i` of the stream inside `tr.op` and check its answer. */
  def op(i: Int, tr: Tracer): Workload.Op
  /** End-of-run correctness checks; each returned line is a failure. */
  def finish(tr: Tracer): Seq[String]
  /** The live contents of the workload's stores, for the storage ratio. */
  def live(): Seq[DataFrame]
  /** A window measures whole blocks of this many ops, so every run sees
    * the same mix. */
  def block: Int = 1
}

object Workload {
  /** Inputs generated per run; a run never gets near the end. */
  val StreamLength = 1000

  /** One measured operation: its span, the samples of its two legs, and
    * whether its answer checked out. */
  final case class Op(span: Span, legA: Seq[Double], legB: Seq[Double],
      ok: Boolean, resultRows: Long)

  final class Context(val seed: Long, val work: String,
      val corpus: Data.Corpus, val floors: Map[String, Double]) {
    val data = s"$work/data"
    val tmp: String = sys.props("java.io.tmpdir")
    val warehouse = s"$work/warehouse"
    /** Directories holding the final set-up's persisted state. */
    var roots: Seq[String] = Nil
    val notes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
    def note(k: String, v: Double): Unit = notes(k) = v
    def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

    /** The engine's own persisted roots under the run's temp directory. */
    def tmpRoots(): Set[String] =
      Option(new java.io.File(tmp).list()).map(_.toSet).getOrElse(Set.empty)
        .filter(_.startsWith("graft_")).map(n => s"$tmp/$n")
  }

  /** Every workload's set-up calls, as `setup.<call>` span names; a traced
    * run reports each one's time, 0 for the calls its workload skips. */
  val SetupCalls = Seq("Graft.triples", "TripleStore.saveBucketed",
    "TripleStore.encodedFor", "QuadStore.init",
    "ViewStore.createAggFromSparql", "ViewStore.createPathFromSparql",
    "IvfIndex.forEmbeddings")

  /** Seeded Fisher–Yates shuffle. */
  def shuffled(r: SplittableRandom, a: Array[Int]): Array[Int] = {
    val b = a.clone()
    var i = b.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
      i -= 1
    }
    b
  }

  /** Order-insensitive digest of a row multiset. */
  def rowsDigest(rows: Array[Row]): String = sha256(
    rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
      .mkString("\n"))

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Bytes and regular files under `dirs`. */
  def diskUsage(dirs: Seq[String]): (Long, Long) = {
    val files = dirs.map(Paths.get(_)).filter(Files.exists(_))
      .flatMap(d => Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toSeq)
    (files.map(Files.size).sum, files.size.toLong)
  }
}
