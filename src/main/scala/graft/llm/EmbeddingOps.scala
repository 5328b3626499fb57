package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity: exact cosine top-k (baseline) and random-
  * hyperplane LSH (the scale path for both ANN search and cosine near-dup
  * detection).
  *
  * All dot products fold float elements into a double accumulator
  * left-to-right via `aggregate` (codegen'd higher-order function, no UDF),
  * which is both fast and bit-deterministic.
  *
  * Scale: brute force is a broadcast of the probe + one scan — already the
  * right plan for "one probe vs 10^9 vectors" (it parallelizes perfectly
  * and reads each vector once). LSH buckets cut the scanned fraction to
  * ~bucket_hit_rate for repeated querying; `Tables × PlanesPerTable`
  * trades recall vs candidate count (more tables → higher recall).
  */
object EmbeddingOps {

  val Dim = 64
  val NumTables = 8
  val PlanesPerTable = 6

  /** Deterministic ±1 hyperplanes (seeded LCG; java.util.Random's algorithm
    * is specified, so identical across JVMs). */
  private def planes(): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(42L)
    Array.fill(NumTables, PlanesPerTable, Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  private def dot(vec: String, plane: Array[Double]): String = {
    val arr = plane.mkString("array(", ", ", ")")
    s"aggregate(zip_with($vec, $arr, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)"
  }

  /** One bucket id per table: the sign pattern of `PlanesPerTable` dots. */
  def withBuckets(df: DataFrame, vecCol: String): DataFrame = {
    val ps = planes()
    val bucketExprs = (0 until NumTables).map { t =>
      (0 until PlanesPerTable).map { p =>
        s"(CASE WHEN ${dot(vecCol, ps(t)(p))} > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
    df.withColumn("buckets", expr(bucketExprs.mkString("array(", ", ", ")")))
  }

  /** Cosine similarity via the native codegen expression
    * ([[graft.functions.CosineSimilarity]]); requires
    * `GraftFunctions.register` on the session (all entry points below do
    * it). Bit-identical to [[cosineHof]]. */
  def cosine(a: String, b: String): Column = expr(s"cosine_sim($a, $b)")

  /** Built-in higher-order-function formulation — same left-to-right fold,
    * kept as the pure-public-API reference the native kernel is tested
    * against. */
  def cosineHof(a: String, b: String): Column = {
    val d = s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    val na = s"sqrt(aggregate($a, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val nb = s"sqrt(aggregate($b, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    expr(s"$d / ($na * $nb)")
  }

  /** Exact top-k by cosine against one probe vector (brute force):
    * broadcast the probe, scan once, TakeOrderedAndProject for the top-k —
    * no shuffle of the vector table.
    */
  def cosineTopK(vectors: DataFrame, probeId: Long, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val probe = vectors.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pe"))
    vectors.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .withColumn("sim", graft.Det.roundSafe(cosine("embedding", "pe"), 6))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("sim"))
  }

  /** (vec_id, tbl, bkt) — the NARROW bucket index. Candidate generation
    * always self-joins this 3-column frame, never frames carrying the
    * embedding arrays: shuffling/deduping 64-float arrays is what turns an
    * LSH join from metadata-sized into data-sized. Embeddings are re-joined
    * by id only for the final exact-cosine check.
    */
  def bucketIndex(vectors: DataFrame): DataFrame =
    withBuckets(vectors, "embedding")
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bkt")))

  /** Approximate top-k over an in-memory bucket index built on the fly.
    * One-shot use only: for repeated querying this recomputes all
    * `NumTables × PlanesPerTable` hyperplane dot products per vector per
    * call — strictly more work than the brute-force scan for a single
    * probe. Production searches go through [[annTopKIndexed]] against the
    * persisted index ([[indexForEmbeddings]]). */
  def annTopK(vectors: DataFrame, probeId: Long, k: Int): DataFrame =
    annTopKIndexed(vectors, bucketIndex(vectors), probeId, k)

  /** Approximate top-k against a PREBUILT bucket index: the probe's
    * buckets are computed once (one vector × 48 dots — driver-scale), the
    * index scan prunes to the probe's `NumTables` (tbl, bkt) partitions,
    * and only the candidates are ranked by exact cosine. The hyperplane
    * pass over the corpus happened at ingest, exactly like
    * [[IvfIndex.forEmbeddings]]'s k-means fit. */
  def annTopKIndexed(vectors: DataFrame, index: DataFrame, probeId: Long,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val probeBuckets = withBuckets(
        vectors.filter(col("vec_id") === probeId), "embedding")
      .select(posexplode(col("buckets")).as(Seq("tbl", "bkt")))
      .collect().map(r => (r.getInt(0), r.getAs[Number](1).longValue()))
    // OR of (tbl, bkt) equality conjunctions: partition-prunable when the
    // index is stored partitioned by (tbl, bkt)
    val cond = probeBuckets.map { case (t, b) =>
      col("tbl") === t && col("bkt") === b
    }.reduce(_ || _)
    val candIds = index.filter(cond)
      .filter(col("vec_id") =!= probeId)
      .select("vec_id").distinct()
    val probeEmb = vectors.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pe"))
    candIds.join(vectors, "vec_id")
      .crossJoin(broadcast(probeEmb))
      .withColumn("sim", graft.Det.roundSafe(cosine("embedding", "pe"), 6))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("sim"))
  }

  /** The persisted random-hyperplane bucket index over
    * `<sfDir>/embeddings.parquet`: (vec_id, tbl, bkt) stored PARTITIONED
    * BY (tbl, bkt), so a probe's bucket lookups prune to `NumTables`
    * directories at scan time. Built once at ingest via AtomicStore
    * (crash-safe atomic publication); searches never recompute corpus
    * hyperplane dot products. The root carries every build input:
    * dataset dir + LSH geometry (the hyperplane seed is fixed). Reads
    * come from the partitioned on-disk layout, not the in-memory
    * lineage, so (tbl, bkt) pruning is real. */
  def indexForEmbeddings(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame =
    graft.sources.AtomicStore.opened(spark, graft.sources.AtomicStore.root(
        "lsh", sfDir, NumTables.toString, PlanesPerTable.toString))(tmp =>
      bucketIndex(graft.sources.Tables.embeddings(spark, sfDir))
        .write.partitionBy("tbl", "bkt").parquet(tmp))(
      spark.read.parquet(_))

  /** [[annTopKIndexed]] against [[indexForEmbeddings]] — the production
    * search path (one pruned index scan + one candidate ranking). */
  def annTopKPersisted(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, probeId: Long, k: Int): DataFrame =
    annTopKIndexed(graft.sources.Tables.embeddings(spark, sfDir),
      indexForEmbeddings(spark, sfDir), probeId, k)

  /** EXACT cosine radius search: every pair (a < b) with rounded cosine
    * ≥ `threshold`. Inherently quadratic — this is the correctness
    * BASELINE the LSH radius path ([[cosineNearDupPairs]]) recalls
    * against, the same role [[cosineTopK]] plays for the ANN top-k
    * keys. The right side broadcasts in blocks (Spark's broadcast
    * nested-loop), so the left streams once per block and nothing
    * shuffles; at corpus scale you run the LSH path and sample THIS one
    * on a bounded block to measure its recall — never the full matrix.
    */
  def cosineRange(vectors: DataFrame, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val a = vectors.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = vectors.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.crossJoin(broadcast(b))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", graft.Det.roundSafe(cosine("ea", "eb"), 6))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** Embedding near-dup pairs: narrow LSH-bucket equi-join → distinct id
    * pairs → embeddings re-joined by id → exact cosine filter. Never forms
    * the full cross product, never shuffles arrays for candidate dedup. */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    // persisted across the self-join: the bucket index costs
    // NumTables × PlanesPerTable dot products per vector, and without the
    // persist both join sides recompute all of them
    val idx = bucketIndex(vectors).persist()
    val cands = idx.as("a")
      .join(idx.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val emb = vectors.select(col("vec_id"), col("embedding"))
    val out = cands
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("sim", graft.Det.roundSafe(cosine("ea", "eb"), 6))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("sim"))
      .transform(graft.Materialize.apply)
    idx.unpersist()
    out
  }
}
