package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF+PQ — the composition of the two ANN indexes, and the architecture
  * production vector stores standardize on: the IVF coarse quantizer
  * ([[IvfIndex]]) prunes the scan to `nProbe` of `k` posting lists, and
  * within those lists the PQ code table ([[PqIndex]]) is scanned in the
  * compressed domain (ADC lookups, no float arrays). At 10^9 vectors,
  * k=4096 / nProbe=64 / 16-byte codes means reading ~1.6% of a table
  * that is itself ~16× narrower than the embeddings — a ~1000× scan
  * reduction over brute force, paid for at ingest.
  *
  * This is the IVF+PQ-"flat-codes" variant: codes quantize the RAW
  * vectors with the global PQ codebooks rather than per-list residuals
  * (classic IVFADC). Residual encoding buys accuracy at the same code
  * size but needs per-list lookup tables (k·M·K entries per query);
  * recall here is recovered the same way as everywhere else in this
  * module — an exact rerank of the top ADC candidates — so the
  * simpler encoding changes candidate quality only, never reported
  * similarities. [[IvfPqSpec]] measures the recall.
  *
  * Storage: the code table persists PARTITIONED BY `list_id`, so a
  * search's `nProbe` lists prune to `nProbe` directories at scan time —
  * the same layout contract as [[IvfIndex]], carrying codes instead of
  * vectors.
  */
object IvfPq {

  case class Model(centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], codes: DataFrame)

  /** Fit both quantizers and produce the list-tagged code table. Both fits
    * are ingest-time work; deterministic for fixed seed and input. */
  def build(vectors: DataFrame, k: Int, seed: Long = 42L): Model = {
    val ivf = IvfIndex.build(vectors, k, seed)
    val pq = PqIndex.build(vectors, seed)
    Model(ivf.centroids, pq.codebooks,
      pq.codes.join(ivf.assigned.select("vec_id", "list_id"), "vec_id"))
  }

  def save(m: Model, path: String): Unit = {
    val spark = m.codes.sparkSession
    import spark.implicits._
    m.codes.write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/codes")
    m.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    m.codebooks.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (c, kk) => (sub, kk, c.toSeq) }
    }.toSeq.toDF("sub", "centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  def load(spark: SparkSession, path: String): Model = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val books = Array.fill(PqIndex.M)(Array.ofDim[Array[Double]](PqIndex.K))
    spark.read.parquet(s"$path/codebooks").collect().foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    Model(centroids, books, spark.read.parquet(s"$path/codes"))
  }

  /** The prebuilt persisted index over `<sfDir>/embeddings.parquet` —
    * built and atomically published once, served from the `list_id`-
    * partitioned on-disk layout so partition pruning is real. */
  def forEmbeddings(spark: SparkSession, sfDir: String, k: Int = 16): Model =
    graft.sources.AtomicStore.opened(spark, graft.sources.AtomicStore.root(
        "ivfpq", sfDir, k.toString, PqIndex.M.toString, PqIndex.K.toString))(
      tmp => save(build(graft.sources.Tables.embeddings(spark, sfDir), k), tmp))(
      load(spark, _))

  // ---- appendable persisted lifecycle (the LshIndex contract) --------

  import graft.sources.{AtomicStore, SegmentedStore}

  /** List-tagged codes for a batch at a FIXED model: the canonical IVF
    * assigner + the canonical PQ encoder, joined on vec_id — the one
    * code path create, append, and the identity spec's one-shot rebuild
    * all share. */
  private def codesWith(centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]], vectors: DataFrame): DataFrame =
    PqIndex.encodeWith(books, vectors)
      .join(IvfIndex.assignWith(centroids, vectors)
        .select("vec_id", "list_id"), "vec_id")

  /** Bootstrap an APPENDABLE composed index: both quantizers fit on the
    * initial corpus and persist as the immutable model (reusing the
    * component stores' model layouts under `root/ivf` and `root/pq`);
    * the corpus's list-tagged codes land as segment 1. Idempotent. */
  def create(vectors: DataFrame, root: String, k: Int,
      seed: Long = 42L): Unit = {
    val spark = vectors.sparkSession
    // the component creates publish the models AND their own seg 1 —
    // cheap, and it keeps each component independently probe-able
    IvfIndex.create(vectors, s"$root/ivf", k, seed)
    PqIndex.create(vectors, s"$root/pq", seed)
    AtomicStore.materialize(SegmentedStore.segPath(root, 1))(tmp =>
      SegmentedStore.writePartitioned(
        codesWith(IvfIndex.centroidsOf(spark, s"$root/ivf"),
          PqIndex.booksOf(spark, s"$root/pq"), vectors), tmp, "list_id")): Unit
  }

  /** Encode + assign an ARRIVING batch at the existing model as the
    * next segment (no re-fit anywhere, prior segments untouched). */
  def append(vectors: DataFrame, root: String): Int =
    writeSigned(vectors, root, sign = 1)

  /** Retract vectors as a SIGNED (−1) segment: the batch re-encodes at
    * the immutable model to the identical (list_id, code) rows, which
    * cancel the earlier +1 rows at the read fold ([[IvfIndex.remove]]'s
    * contract — pass the vectors as indexed). */
  def remove(vectors: DataFrame, root: String): Int =
    writeSigned(vectors, root, sign = -1)

  private def writeSigned(vectors: DataFrame, root: String,
      sign: Int): Int = {
    val spark = vectors.sparkSession
    // the COMPONENT stores ingest the batch too (round 11): they stay
    // independently probe-able, and the IVF sub-store's segments keep
    // carrying the full live vectors — what makes [[refit]] self-
    // sufficient from the artifact alone
    if (sign > 0) {
      IvfIndex.append(vectors, s"$root/ivf"): Unit
      PqIndex.append(vectors, s"$root/pq"): Unit
    } else {
      IvfIndex.remove(vectors, s"$root/ivf"): Unit
      PqIndex.remove(vectors, s"$root/pq"): Unit
    }
    val n = SegmentedStore.nextN(root)
    AtomicStore.materialize(SegmentedStore.segPath(root, n)) { tmp =>
      SegmentedStore.writePartitioned(
        codesWith(IvfIndex.centroidsOf(spark, s"$root/ivf"),
          PqIndex.booksOf(spark, s"$root/pq"), vectors)
          .withColumn("sign", lit(sign)), tmp, "list_id")
      if (sign < 0) SegmentedStore.flagSigned(tmp)
    }: Unit
    n
  }

  /** Live fold depth of the appendable index (0 = not created). */
  def segmentCount(root: String): Int = SegmentedStore.liveCount(root)

  /** The appendable index as a searchable [[Model]]: each live entry is
    * `list_id`-partitioned, so probes prune inside every entry — plain
    * union until a live entry carries tombstones, then the sign
    * net-fold (`list_id` in the grouping key keeps pruning pushable). */
  def readIndex(spark: SparkSession, root: String): Model = {
    val live = SegmentedStore.liveEntries(root)
    require(live.nonEmpty, s"no IVF+PQ index under $root — create() first")
    Model(IvfIndex.centroidsOf(spark, s"$root/ivf"),
      PqIndex.booksOf(spark, s"$root/pq"),
      SegmentedStore.readFolded(spark, live).drop("sign"))
  }

  /** Fold live entries into ONE base (probe-identical: the read fold's
    * net rows — removed vectors leave the artifact — re-partitioned by
    * `list_id`), then drop the superseded entries. */
  def compact(spark: SparkSession, root: String): Int =
    SegmentedStore.compactWith(root) { (live, tmp) =>
      SegmentedStore.writePartitioned(
        SegmentedStore.readFolded(spark, live), tmp, "list_id")
    }

  def compactIfDeep(spark: SparkSession, root: String,
      maxSegments: Int = 8): Unit =
    if (segmentCount(root) > maxSegments) compact(spark, root): Unit

  /** MODEL REFRESH under drift for the composed index. The live corpus
    * comes from the IVF sub-store's own artifact (its segments carry
    * the full embeddings, tombstones already net-folded out — removals
    * survive the refit), so no external table is needed: both component
    * quantizers re-fit on it ([[IvfIndex.refit]] / [[PqIndex.refit]],
    * each crash-consistent via the base-matched model rule), then the
    * composed list-tagged codes re-encode into a fresh base.
    *
    * The three publishes are individually atomic but not jointly: a
    * crash between them can leave the composed codes one model behind,
    * which degrades candidate RECALL until refit is re-run — never the
    * reported similarities (the exact rerank reads true embeddings).
    * Re-running refit converges (idempotent publishes). */
  def refit(spark: SparkSession, root: String, seed: Long = 42L): Unit = {
    require(SegmentedStore.liveEntries(root).nonEmpty,
      s"no IVF+PQ index under $root — create() first")
    IvfIndex.refit(spark, s"$root/ivf", seed)
    val vectors = IvfIndex.readIndex(spark, s"$root/ivf")
      .assigned.drop("list_id")
    PqIndex.refit(vectors, s"$root/pq", seed)
    compact(spark, root): Unit
    val n = SegmentedStore.nextN(root)
    AtomicStore.materialize(SegmentedStore.basePath(root, n)) { tmp =>
      SegmentedStore.writePartitioned(
        codesWith(IvfIndex.centroidsOf(spark, s"$root/ivf"),
          PqIndex.booksOf(spark, s"$root/pq"), vectors)
          .withColumn("sign", lit(1)), tmp, "list_id")
    }: Unit
    SegmentedStore.bases(root).filter(_ < n).foreach(b =>
      AtomicStore.delete(SegmentedStore.basePath(root, b)))
    SegmentedStore.segments(root).filter(_ < n).foreach(s =>
      AtomicStore.delete(SegmentedStore.segPath(root, s)))
  }

  /** Search: rank the `k` coarse centroids against the probe driver-side,
    * ADC-scan ONLY the `nProbe` nearest lists' codes (partition-pruned),
    * exact-rerank the top candidates. */
  def search(m: Model, vectors: DataFrame, probeId: Long, k: Int,
      nProbe: Int, rerank: Int = 50): DataFrame = {
    val probe = PqIndex.probeVector(vectors, probeId)
    val ranked = m.centroids.zipWithIndex.map { case (c, i) =>
      var dot = 0.0; var na = 0.0; var i2 = 0
      val n = math.min(c.length, probe.length)
      while (i2 < n) { dot += c(i2) * probe(i2); na += c(i2) * c(i2); i2 += 1 }
      (i, dot / math.sqrt(na))
    }.sortBy(-_._2).take(nProbe).map(_._1)
    val cands = m.codes
      .filter(col("list_id").isin(ranked.toSeq: _*) && col("vec_id") =!= probeId)
      .withColumn("adc", PqIndex.adcCosine(m.codebooks, probe))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(rerank)
      .select("vec_id")
    PqIndex.rerankExact(cands, vectors, probeId, k)
  }
}
