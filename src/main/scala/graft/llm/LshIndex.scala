package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SegmentedStore

/** A PERSISTED, APPENDABLE MinHash-LSH index — the near-dup complement
  * of the Bloom-filter exact-dedup ingest path
  * ([[Dedup.incrementalExactBloom]])
  * and the text-side analog of the persisted ANN index
  * ([[EmbeddingOps.indexForEmbeddings]]): signatures and banded buckets
  * are computed ONCE per corpus segment and written as immutable
  * AtomicStore snapshots, so an arriving batch checks itself against a
  * 100 TB corpus by probing buckets — never recomputing the corpus's
  * signatures, never self-joining it.
  *
  * Layout under `root`: one immutable segment per [[build]]/[[append]],
  * each holding `bands` (band, bh, doc_id) and `sigs` (doc_id, sig[64])
  * parquet, plus the base [[compact]] folds them into — the
  * [[graft.sources.SegmentedStore]] contract: which entries readers
  * fold, how a batch is numbered, and publish-then-drop compaction (a
  * crash between the two leaves a larger-but-consistent index).
  * Without compaction each ingest batch adds one segment to every
  * probe's union forever.
  *
  * Probing estimates Jaccard as the fraction of agreeing minhash
  * components (the unbiased MinHash estimator, ±1/√64 ≈ 0.125 std at
  * the decision boundary) — candidates come only from banded-bucket
  * collisions, so the probe cost is bucket-bound, not corpus-bound.
  * Exact verification over shingles stays available downstream for the
  * pairs that matter ([[Dedup.withJaccard]]); the estimator is what
  * makes the index self-contained (shingle storage is corpus-sized,
  * signatures are 512 bytes/doc). Approximate ⇒ no DuckDB oracle;
  * LshIndexSpec pins recall against the brute-force pass and the
  * estimator's accuracy.
  */
object LshIndex {

  private def writeSegment(docs: DataFrame, dest: String,
      sign: Int = 1): Unit =
    graft.sources.AtomicStore.materialize(dest) { tmp =>
      val sigs = Dedup.signatures(Dedup.shingles(docs)).persist()
      val banded = sigs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${Dedup.Bands - 1}), " +
          s"b -> xxhash64(b, slice(sig, b * ${Dedup.Rows} + 1, " +
          s"${Dedup.Rows})))")).as(Seq("band", "bh")))
      banded.withColumn("sign", lit(sign)).write.parquet(s"$tmp/bands")
      sigs.withColumn("sign", lit(sign)).write.parquet(s"$tmp/sigs")
      if (sign < 0) SegmentedStore.flagSigned(tmp)
      sigs.unpersist(): Unit
    }

  /** Index a corpus from scratch as segment 1. Idempotent per root. */
  def build(docs: DataFrame, root: String): Unit =
    writeSegment(docs, SegmentedStore.segPath(root, 1))

  /** Live entry count — a compacted base counts as 1 (0 = no index
    * yet). This is the depth of every probe's union fold. */
  def segmentCount(root: String): Int = SegmentedStore.liveCount(root)

  /** Index an ARRIVING batch as the next segment — the corpus's existing
    * segments are untouched (their signatures never recompute). The
    * batch should already be registered under corpus-unique doc_ids. */
  def append(docs: DataFrame, root: String): Int = {
    val n = SegmentedStore.nextN(root)
    writeSegment(docs, SegmentedStore.segPath(root, n))
    n
  }

  /** Retract documents as a SIGNED (−1) segment: the removal batch
    * carries the docs' TEXT (the same change-feed contract as
    * [[InvertedIndex.remove]]); their signatures and banded buckets
    * re-derive here and cancel the earlier +1 rows at the read fold, so
    * a retracted doc stops seeding candidates without touching any
    * existing segment. */
  def remove(docs: DataFrame, root: String): Int = {
    val n = SegmentedStore.nextN(root)
    writeSegment(docs, SegmentedStore.segPath(root, n), sign = -1)
    n
  }

  private def readAll(spark: SparkSession, root: String,
      name: String): DataFrame = {
    val live = SegmentedStore.liveEntries(root)
    require(live.nonEmpty, s"no LSH index under $root — build() first")
    SegmentedStore.readFolded(spark, live, name).drop("sign")
  }

  /** The doc_ids currently indexed (live net fold — a removed doc is
    * absent, so it can re-enter) — the streaming ingest sink's
    * presence screen ([[graft.streaming.StreamOps.lshIndexSink]]). */
  def indexedIds(spark: SparkSession, root: String): DataFrame =
    readAll(spark, root, "sigs").select("doc_id").distinct()

  /** Fold every live entry into ONE new base, then drop the superseded
    * entries — the index's vacuum ([[SegmentedStore.compactWith]]).
    * Probe results are identical before and after (the fold is a plain
    * union of immutable rows; LshIndexSpec pins it). Returns the live
    * entry count after (1, or a no-op when already single-entry). */
  def compact(spark: SparkSession, root: String): Int =
    SegmentedStore.compactWith(root) { (live, tmp) =>
      // the read fold's net rows — removed docs leave the artifact here
      SegmentedStore.readFolded(spark, live, "bands")
        .write.parquet(s"$tmp/bands")
      SegmentedStore.readFolded(spark, live, "sigs")
        .write.parquet(s"$tmp/sigs")
    }

  /** Compact when the fold depth exceeds `maxSegments` — the retention
    * policy an ingest loop calls after each [[append]], keeping probe
    * plans bounded across thousands of batches. */
  def compactIfDeep(spark: SparkSession, root: String,
      maxSegments: Int = 8): Unit =
    if (segmentCount(root) > maxSegments) compact(spark, root): Unit

  /** Estimated-Jaccard agreement of two signature columns: the fraction
    * of agreeing minhash components. */
  private def estJaccard(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> IF(x = y, 1, 0)), " +
      s"0, (acc, v) -> acc + v)").cast("double") / Dedup.NumHashes

  /** Near-duplicates of `queryDocs` within the INDEXED corpus: one row
    * per (query doc, corpus doc) candidate pair at estimated Jaccard ≥
    * `minEst`. Candidates come from banded-bucket collisions against
    * the persisted bands (an equi-join — the query side is batch-sized
    * and broadcasts); estimation joins the stored signatures, 512
    * bytes/doc. Self-hits (same doc_id) are excluded, so probing the
    * corpus with itself finds its internal near-dup pairs. */
  def probe(spark: SparkSession, root: String, queryDocs: DataFrame,
      minEst: Double): DataFrame = {
    val qSigs = Dedup.signatures(Dedup.shingles(queryDocs)).persist()
    val qBands = qSigs.select(col("doc_id").as("q_id"), posexplode(expr(
      s"transform(sequence(0, ${Dedup.Bands - 1}), " +
        s"b -> xxhash64(b, slice(sig, b * ${Dedup.Rows} + 1, " +
        s"${Dedup.Rows})))")).as(Seq("band", "bh")))
    val cands = readAll(spark, root, "bands")
      .join(broadcast(qBands), Seq("band", "bh"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id")).distinct()
    val out = cands
      .join(readAll(spark, root, "sigs"), "doc_id")
      .withColumnRenamed("sig", "c_sig")
      .join(qSigs.select(col("doc_id").as("q_id"), col("sig").as("q_sig")),
        "q_id")
      .withColumn("est_jaccard",
        graft.Det.roundSafe(estJaccard("q_sig", "c_sig"), 4))
      .filter(col("est_jaccard") >= minEst)
      .select(col("q_id"), col("doc_id").as("corpus_id"), col("est_jaccard"))
      .transform(graft.Materialize.apply)
    qSigs.unpersist()
    out
  }
}
