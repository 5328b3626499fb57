package perfbench

import java.util.SplittableRandom

import graft.llm
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `llm_dedup`: each op ingests one seeded batch — a sample of the corpus
  * plus near-copies (word edits, and copies of copies to a geometric,
  * untruncated depth) — through MinHash pairs, connected components and
  * one survivor per cluster (leg a), then runs a seeded set of IVF probes
  * against the prebuilt index (leg b, one sample per probe). */
final class LlmDedup(spark: SparkSession, ctx: Workload.Context)
    extends Workload {
  import LlmDedup._

  private val corpus = ctx.corpus
  private var index: llm.IvfIndex.Model = _
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def batch(b: Int, r: SplittableRandom): Batch = {
    val n = corpus.docs.length
    val size = math.min(SampleSize, n)
    val ids = Workload.shuffled(r, (0 until n).toArray).take(size).sorted
    val rows = ids.map(i => i.toLong -> corpus.docs(i)).toBuffer
    val copies = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var next = 1000000000L + b * 100000L
    ids.take(math.max(1, size * CopyPct / 100)).foreach { root =>
      var parent = root.toLong -> corpus.docs(root)
      var more = true
      while (more) {
        val child = next -> edit(parent._2, r)
        next += 1
        rows += child
        copies += child._1 -> parent._1
        parent = child
        more = r.nextDouble() < DeeperP
      }
    }
    Batch(rows.toIndexedSeq, copies.toIndexedSeq)
  }

  /** One or two word substitutions, insertions or deletions. */
  private def edit(text: String, r: SplittableRandom): String = {
    val ws = text.split(" ").toBuffer
    (0 to r.nextInt(2)).foreach { _ =>
      val at = r.nextInt(ws.length)
      r.nextInt(3) match {
        case 0 => ws(at) = Data.Vocab(r.nextInt(Data.Vocab.length))
        case 1 => ws.insert(at, Data.Vocab(r.nextInt(Data.Vocab.length)))
        case _ => if (ws.length > 10) ws.remove(at)
      }
    }
    ws.mkString(" ")
  }

  val stream: IndexedSeq[(Batch, Seq[Long])] = {
    val r = new SplittableRandom(ctx.seed * 15485863L + 5L)
    val nv = corpus.vectors.length
    (0 until Workload.StreamLength / 8).map(b =>
      batch(b, r) -> Seq.fill(ProbesPerBatch)(r.nextInt(nv).toLong))
  }

  def inputs: Seq[String] = stream.map { case (b, p) =>
    b.rows.map { case (i, t) => s"$i\t$t" }.mkString("\n") + p.mkString(",")
  }

  def setup(tr: Tracer): Unit = {
    val before = ctx.tmpRoots()
    index = tr.span("setup.IvfIndex.forEmbeddings")(
      llm.IvfIndex.forEmbeddings(spark, ctx.data, lists(corpus.vectors.length)))._1
    ctx.roots = (ctx.tmpRoots() -- before).toSeq
  }

  // exact answers and the verified/candidate counts, outside timed spans
  private var recallHits, recallTotal = 0L
  private var copyHits, copyTotal = 0L
  private var verified, candidates = 0L

  private def frame(b: Batch): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(b.rows.map { case (i, t) => Row(i, t) },
      4), schema)

  /** The op's timed body: the dedup leg, then one span per probe. */
  private def run(in: (Batch, Seq[Long]), tr: Tracer)
      : (Array[Long], DataFrame, DataFrame, Seq[(Long, Array[Long])]) = {
    val (b, probes) = in
    val docs = frame(b)
    val ((surv, cc, pairs), _) = tr.span("leg.a") {
      val (pairs, _) = tr.span("llm.Dedup.pairs")(
        llm.Dedup.minHashPairs(docs, Threshold))
      val (cc, _) = tr.span("llm.Dedup.cc")(
        llm.Dedup.connectedComponents(pairs))
      val (surv, _) = tr.span("survivors") {
        val dropped = cc.filter(col("doc_id") =!= col("label"))
          .select("doc_id")
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .select("doc_id").collect().map(_.getLong(0))
      }
      (surv, cc, pairs)
    }
    val answers = probes.map { p =>
      tr.span("leg.b") {
        p -> tr.span("llm.IvfIndex.search")(
          llm.IvfIndex.search(index, p, K, NProbe).collect()
            .map(_.getLong(0)))._1
      }._1
    }
    (surv, cc, pairs, answers)
  }

  def op(i: Int, tr: Tracer): Workload.Op = {
    val in = stream(i % stream.length)
    val ((surv, cc, pairs, answers), s) = tr.op("dedup.batch", i)(run(in, tr))
    val labels = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (tr.traced) {
      // banded candidates of the same batch, for candidate precision
      val sh = llm.Dedup.shingles(frame(in._1))
      candidates += llm.Dedup.candidatePairs(llm.Dedup.signatures(sh)).count()
      verified += pairs.count()
    }
    graft.Materialize.release(cc)
    graft.Materialize.release(pairs)
    val errs = check(in._1, surv, labels, answers)
    errs.foreach(ctx.log)
    val legs = tr.subtree(s).filter(_.parent == s.id)
    Workload.Op(s, legs.filter(_.name == "leg.a").map(_.seconds),
      legs.filter(_.name == "leg.b").map(_.seconds), errs.isEmpty,
      surv.length + answers.map(_._2.length).sum)
  }

  /** Survivors are one per cluster; probe recall and copy recall are
    * accumulated here and judged against their floors in [[finish]]. */
  private def check(b: Batch, surv: Array[Long], labels: Map[Long, Long],
      answers: Seq[(Long, Array[Long])]): Seq[String] = {
    val want = b.rows.map(_._1).filter(d => labels.getOrElse(d, d) == d)
    answers.foreach { case (p, got) =>
      recallHits += exactTopK(p).intersect(got.toSeq).size
      recallTotal += K
    }
    b.copies.foreach { case (c, p) =>
      if (jaccard(text(b, c), text(b, p)) >= Threshold) {
        copyTotal += 1
        if (labels.contains(c) && labels.get(c) == labels.get(p)) copyHits += 1
      }
    }
    if (want.sorted == surv.toSeq.sorted) Nil
    else Seq(s"survivors: got ${surv.length}, want ${want.length}")
  }

  private def text(b: Batch, id: Long): String =
    b.rows.find(_._1 == id).get._2

  private def exactTopK(p: Long): Seq[Long] = {
    val q = corpus.vectors(p.toInt)
    corpus.vectors.indices.filter(_ != p.toInt)
      .map(j => j.toLong -> dot(q, corpus.vectors(j)))
      .sortBy { case (j, s) => (-s, j) }.take(K).map(_._1)
  }

  def finish(tr: Tracer): Seq[String] = {
    val floors = ctx.floors
    val probe = recallHits.toDouble / math.max(1L, recallTotal)
    val copy = copyHits.toDouble / math.max(1L, copyTotal)
    ctx.note("ivf_recall_at_10", probe)
    ctx.note("copy_recall", copy)
    ctx.note("copies_checked", copyTotal.toDouble)
    if (tr.traced) ctx.note("candidate_precision",
      verified.toDouble / math.max(1L, candidates))
    Seq(
      if (probe < floors("ivf_recall_at_10"))
        Some(f"IVF recall@10 $probe%.3f below its floor") else None,
      if (copyTotal > 0 && copy < floors("copy_recall"))
        Some(f"copy recall $copy%.3f below its floor") else None).flatten
  }

  def live(): Seq[DataFrame] = Seq(index.assigned)
}

object LlmDedup {
  /** A batch: its rows and the injected (copy, parent) pairs. */
  final case class Batch(rows: IndexedSeq[(Long, String)],
      copies: IndexedSeq[(Long, Long)])

  /** Batch shape: corpus sample size, share of sampled docs that seed a
    * copy chain, and the chance a chain grows one copy deeper. */
  val SampleSize = 500
  val CopyPct = 10
  val DeeperP = 0.5
  val Threshold = 0.7
  val ProbesPerBatch = 4
  val K = 10
  val NProbe = 4

  /** IVF lists: 16, or fewer so that a list holds about 25 vectors (a
    * 40-vector corpus in 16 lists cannot give recall at nProbe 4); k-means
    * needs at least 2. */
  def lists(vectors: Int): Int = math.max(2, math.min(16, vectors / 25))

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Exact Jaccard of distinct word 3-shingles (`Dedup.shingles`). */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String) = {
      val ws = t.split(" ")
      if (ws.length <= 3) Set(ws.mkString(" "))
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
