package graft.llm

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization (PQ) ANN: the compressed-domain scale path next to
  * LSH ([[EmbeddingOps]]) and IVF ([[IvfIndex]]).
  *
  * Train: split each `Dim`-dim vector into `M` contiguous subvectors and
  * fit an independent `K`-centroid k-means per subspace (MLlib, fixed
  * seed). Encode: each vector becomes `M` small ints (nearest centroid per
  * subspace) — 64 floats (256 B) shrink to 8 codes (≈8 B), so a 100 TB
  * embedding corpus scans as ≈3 TB of codes.
  *
  * Search (ADC — asymmetric distance computation): the query stays exact;
  * per subspace, its dot product against all K centroids is precomputed
  * driver-side (`M×K` entries, broadcast as a literal array), and each
  * stored vector's approximate dot product is then `M` table lookups over
  * its codes — no float arrays are read, the scan touches only the narrow
  * codes table. Approximate cosine divides by the codes-reconstructed norm
  * (a second `M×K` lookup table of centroid self-dots). The ADC top
  * `rerank` candidates re-join the full embeddings BY ID for an exact
  * cosine rerank, so approximation affects recall only, never the
  * reported similarity values.
  *
  * Recall/latency trade-off is (M, K, rerank); [[PqSpec]] measures recall
  * against the brute-force top-k.
  */
object PqIndex {

  val Dim = 64
  val M = 16         // subspaces
  val SubDim: Int = Dim / M
  val K = 16         // centroids per subspace (256 at production scale)

  /** codebooks(m)(k) = centroid k of subspace m (SubDim doubles);
    * codes = (vec_id, label, code array<int> of length M). */
  case class Model(codebooks: Array[Array[Array[Double]]], codes: DataFrame)

  /** Fit the per-subspace quantizers and encode every vector.
    * Deterministic for a fixed seed and input. One k-means per subspace is
    * ingest-time work (like [[IvfIndex.build]]'s single fit); encoding is
    * the canonical [[encodeWith]] expression, shared with [[append]] so
    * "same codebooks ⇒ same codes" holds exactly. */
  def build(vectors: DataFrame, seed: Long = 42L): Model = {
    val books = fitBooks(vectors, seed)
    Model(books, encodeWith(books, vectors))
  }

  /** The per-subspace k-means fits alone (no encode). */
  private def fitBooks(vectors0: DataFrame,
      seed: Long): Array[Array[Array[Double]]] = {
    // content-deterministic fit input — see [[IvfIndex.canonicalFit]]
    val vectors = IvfIndex.canonicalFit(vectors0)
    val books = Array.ofDim[Array[Array[Double]]](M)
    (0 until M).foreach { m =>
      val sub = vectors.withColumn("__sub",
        array_to_vector(slice(col("embedding"), m * SubDim + 1, SubDim)
          .cast("array<double>")))
      val km = new KMeans().setK(K).setSeed(seed + m)
        .setFeaturesCol("__sub").setPredictionCol("__ignored")
      books(m) = km.fit(sub).clusterCenters.map(_.toArray)
    }
    books
  }

  /** The canonical encoder: per subspace, nearest codebook centroid by
    * squared Euclidean, FIRST minimum on a tie — one deterministic
    * codegen'd expression (the PQ sibling of [[IvfIndex.assignExpr]]),
    * so a vector appended later encodes bit-identically to a one-shot
    * encode at the same codebooks. */
  private[llm] def encodeExpr(codebooks: Array[Array[Array[Double]]]):
      org.apache.spark.sql.Column = {
    val flat = codebooks.flatten.flatten.mkString("array(", ", ", ")")
    // dist(m, kk) over the m-th SubDim slice of the double-cast embedding
    val dist =
      s"aggregate(sequence(0, ${SubDim - 1}), 0D, (a, j) -> a + " +
        s"pow(element_at(__e, m * $SubDim + j + 1) - " +
        s"element_at($flat, m * ${K * SubDim} + kk * $SubDim + j + 1), 2))"
    val dists = s"transform(sequence(0, ${K - 1}), kk -> $dist)"
    expr(s"transform(sequence(0, ${M - 1}), m -> " +
      s"cast(array_position($dists, array_min($dists)) - 1 as int))")
  }

  /** Encode vectors with EXISTING codebooks (no re-fit). */
  def encodeWith(codebooks: Array[Array[Array[Double]]],
      vectors: DataFrame): DataFrame =
    vectors
      .withColumn("__e", col("embedding").cast("array<double>"))
      .withColumn("code", encodeExpr(codebooks))
      .select(col("vec_id"), col("label"), col("code"))

  /** Persist codes + codebooks; atomic publication via the caller's
    * AtomicStore.materialize (same lifecycle as [[IvfIndex.save]]). */
  def save(m: Model, path: String): Unit = {
    val spark = m.codes.sparkSession
    import spark.implicits._
    m.codes.write.mode("overwrite").parquet(s"$path/codes")
    m.codebooks.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (c, k) => (sub, k, c.toSeq) }
    }.toSeq.toDF("sub", "centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  def load(spark: SparkSession, path: String): Model = {
    val books = Array.fill(M)(Array.ofDim[Array[Double]](K))
    spark.read.parquet(s"$path/codebooks").collect().foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    Model(books, spark.read.parquet(s"$path/codes"))
  }

  /** The prebuilt PQ index over `<sfDir>/embeddings.parquet` (built and
    * atomically published once; searches never re-fit or re-encode). */
  def forEmbeddings(spark: SparkSession, sfDir: String): Model =
    graft.sources.AtomicStore.opened(spark, graft.sources.AtomicStore.root(
        "pq", sfDir, M.toString, K.toString))(tmp =>
      save(build(graft.sources.Tables.embeddings(spark, sfDir)), tmp))(
      load(spark, _))

  // ---- appendable persisted lifecycle (the LshIndex contract) --------

  import graft.sources.{AtomicStore, SegmentedStore}

  private def writeBooks(books: Array[Array[Array[Double]]], root: String,
      spark: SparkSession): Unit = {
    import spark.implicits._
    AtomicStore.materialize(s"$root/model") { tmp =>
      books.zipWithIndex.flatMap { case (book, sub) =>
        book.zipWithIndex.map { case (c, k) => (sub, k, c.toSeq) }
      }.toSeq.toDF("sub", "centroid_id", "centroid")
        .coalesce(1).write.parquet(tmp)
    }: Unit
  }

  /** The persisted codebooks — the IMMUTABLE part of an appendable
    * index: append encodes against these, never re-fits (a [[refit]]
    * publishes a NEW model+base pair; resolution follows
    * [[IvfIndex.modelPath]]'s base-matched rule). */
  def booksOf(spark: SparkSession,
      root: String): Array[Array[Array[Double]]] = {
    val books = Array.fill(M)(Array.ofDim[Array[Double]](K))
    spark.read.parquet(IvfIndex.modelPath(root)).collect().foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    books
  }

  /** Bootstrap an APPENDABLE index: fit the codebooks on the initial
    * corpus, persist them as the immutable model, write the corpus's
    * codes as segment 1. Idempotent per root. */
  def create(vectors: DataFrame, root: String, seed: Long = 42L): Unit = {
    val spark = vectors.sparkSession
    if (!AtomicStore.isComplete(s"$root/model"))
      writeBooks(fitBooks(vectors, seed), root, spark)
    AtomicStore.materialize(SegmentedStore.segPath(root, 1))(tmp =>
      encodeWith(booksOf(spark, root), vectors).write.parquet(tmp)): Unit
  }

  /** Encode an ARRIVING batch with the EXISTING codebooks as the next
    * segment (no k-means re-fit, prior segments untouched). */
  def append(vectors: DataFrame, root: String): Int =
    writeSigned(vectors, root, sign = 1)

  /** Retract vectors as a SIGNED (−1) segment: the batch re-encodes at
    * the immutable codebooks to the identical code rows, which cancel
    * the earlier +1 rows at the read fold (pass the vectors as
    * indexed — [[IvfIndex.remove]]'s contract). */
  def remove(vectors: DataFrame, root: String): Int =
    writeSigned(vectors, root, sign = -1)

  private def writeSigned(vectors: DataFrame, root: String,
      sign: Int): Int = {
    val spark = vectors.sparkSession
    val n = SegmentedStore.nextN(root)
    AtomicStore.materialize(SegmentedStore.segPath(root, n)) { tmp =>
      encodeWith(booksOf(spark, root), vectors)
        .withColumn("sign", lit(sign)).write.parquet(tmp)
      if (sign < 0) SegmentedStore.flagSigned(tmp)
    }: Unit
    n
  }

  /** Live fold depth of the appendable index (0 = not created). */
  def segmentCount(root: String): Int = SegmentedStore.liveCount(root)

  /** The appendable index as a searchable [[Model]] — plain union until
    * a live entry carries tombstones, then the sign net-fold. */
  def readIndex(spark: SparkSession, root: String): Model = {
    val live = SegmentedStore.liveEntries(root)
    require(live.nonEmpty, s"no PQ index under $root — create() first")
    Model(booksOf(spark, root),
      SegmentedStore.readFolded(spark, live).drop("sign"))
  }

  /** Fold live entries into ONE base (probe-identical: the read fold's
    * net rows — removed vectors leave the artifact), then drop the
    * superseded entries. */
  def compact(spark: SparkSession, root: String): Int =
    SegmentedStore.compactWith(root) { (live, tmp) =>
      SegmentedStore.readFolded(spark, live).write.parquet(tmp)
    }

  def compactIfDeep(spark: SparkSession, root: String,
      maxSegments: Int = 8): Unit =
    if (segmentCount(root) > maxSegments) compact(spark, root): Unit

  /** MODEL REFRESH under drift — the PQ twin of [[IvfIndex.refit]].
    * PQ segments store CODES, not vectors, so the caller passes the
    * current live corpus (the same external vectors table [[search]]'s
    * rerank reads); the new codebooks fit on it and the whole index
    * re-encodes into a fresh base. Removed vectors must not be in
    * `vectors` — they were net-folded out of the old index and simply
    * never re-enter. Same crash-consistent model{n}/base{n} pairing as
    * the IVF refit; an UNdrifted corpus re-fits to identical codebooks
    * (fixed seed), so search is probe-identical across a no-op refit. */
  def refit(vectors: DataFrame, root: String, seed: Long = 42L): Unit = {
    val spark = vectors.sparkSession
    require(SegmentedStore.liveEntries(root).nonEmpty,
      s"no PQ index under $root — create() first")
    compact(spark, root): Unit
    val books = fitBooks(vectors, seed)
    val n = SegmentedStore.nextN(root)
    AtomicStore.materialize(f"$root%s/model$n%05d") { tmp =>
      import spark.implicits._
      books.zipWithIndex.flatMap { case (book, sub) =>
        book.zipWithIndex.map { case (c, k) => (sub, k, c.toSeq) }
      }.toSeq.toDF("sub", "centroid_id", "centroid")
        .coalesce(1).write.parquet(tmp)
    }: Unit
    AtomicStore.materialize(SegmentedStore.basePath(root, n)) { tmp =>
      encodeWith(books, vectors).withColumn("sign", lit(1))
        .write.parquet(tmp)
    }: Unit
    SegmentedStore.bases(root).filter(_ < n).foreach { b =>
      AtomicStore.delete(SegmentedStore.basePath(root, b))
      AtomicStore.delete(f"$root%s/model$b%05d")
    }
    // pre-refit segments are superseded by the re-encoded base
    SegmentedStore.segments(root).filter(_ < n).foreach(s =>
      AtomicStore.delete(SegmentedStore.segPath(root, s)))
  }

  /** The approximate-cosine ADC scoring column over a `code` array column:
    * per-subspace lookup tables computed once driver-side (`M×K` entries,
    * inlined as literal arrays) — dtab = dot(query_sub, centroid), ntab =
    * |centroid|² — then
    * approx_cos = Σ_m dtab[m][code_m] / (|q| · sqrt(Σ_m ntab[m][code_m])):
    * pure codegen'd lookups, no vector arithmetic in the scan. */
  private[llm] def adcCosine(codebooks: Array[Array[Array[Double]]],
      probe: Array[Double]): org.apache.spark.sql.Column = {
    val dtab = Array.tabulate(M, K) { (m, kk) =>
      val c = codebooks(m)(kk)
      var d = 0.0; var i = 0
      while (i < SubDim) { d += probe(m * SubDim + i) * c(i); i += 1 }
      d
    }
    val ntab = Array.tabulate(M, K) { (m, kk) =>
      val c = codebooks(m)(kk)
      var n = 0.0; var i = 0
      while (i < SubDim) { n += c(i) * c(i); i += 1 }
      n
    }
    val qNorm = math.sqrt(probe.map(x => x * x).sum)
    def flat(t: Array[Array[Double]]): String =
      t.flatten.mkString("array(", ", ", ")")
    def lut(tab: String): String =
      s"aggregate(transform(sequence(0, ${M - 1}), " +
        s"j -> element_at($tab, j * $K + element_at(code, j + 1) + 1)), " +
        "0D, (a, x) -> a + x)"
    expr(lut(flat(dtab))) / (lit(qNorm) * sqrt(expr(lut(flat(ntab)))))
  }

  private[llm] def probeVector(vectors: DataFrame, probeId: Long): Array[Double] =
    vectors.filter(col("vec_id") === probeId)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray

  /** Exact-cosine rerank of an ADC candidate id set: broadcast the (small)
    * candidate frame into the vectors table, never the reverse. */
  private[llm] def rerankExact(cands: DataFrame, vectors: DataFrame,
      probeId: Long, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val probeEmb = vectors.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pe"))
    broadcast(cands).join(vectors, "vec_id")
      .crossJoin(broadcast(probeEmb))
      .withColumn("sim",
        graft.Det.roundSafe(EmbeddingOps.cosine("embedding", "pe"), 6))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("sim"))
  }

  /** ADC search: scan ONLY the codes table for approximate scores, take
    * the top `rerank` candidates (TakeOrderedAndProject over narrow rows),
    * then exact-cosine rerank just those against the full vectors. */
  def search(model: Model, vectors: DataFrame, probeId: Long, k: Int,
      rerank: Int = 50): DataFrame = {
    val probe = probeVector(vectors, probeId)
    val cands = model.codes.filter(col("vec_id") =!= probeId)
      .withColumn("adc", adcCosine(model.codebooks, probe))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(rerank)
      .select("vec_id")
    rerankExact(cands, vectors, probeId, k)
  }
}
