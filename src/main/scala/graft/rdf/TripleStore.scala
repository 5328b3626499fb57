package graft.rdf

import graft.sources.AtomicStore
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Persisted triple storage, bucketed by subject.
  *
  * Reference parity: D-SPARQ partitions the RDF graph METIS-style, places
  * each subject's triples on one node, and replicates boundary triples so
  * subject-star queries run without cross-node communication (ISWC 2013
  * demo; SURVEY.md §2 R10). The Spark-native equivalent is hash bucketing
  * on `s`: every self-join of the triples table on the subject — i.e.
  * every star pattern — becomes *shuffle-free*, because both sides already
  * share the same partitioning (verified by TripleStoreSpec: the physical
  * plan of a bucketed star join contains no shuffle exchange). Boundary
  * replication is unnecessary — chain joins simply shuffle on demand, and
  * at 100 TB the win is precisely that the dominant star workload reads
  * co-located buckets while Catalyst plans the rest.
  *
  * `sortBy(s)` within buckets additionally lets the star join run as a
  * sort-merge without re-sorting.
  */
object TripleStore {

  /** Write the triples table bucketed+sorted by subject as a catalog table
    * (bucketing metadata lives in the catalog, so `bucketBy` requires
    * `saveAsTable` rather than a path write). `subjectCol` defaults to the
    * string store's `s`; pass `sid` to bucket the encoded id-store, which
    * composes both reference techniques — subject co-location (R10) over
    * dictionary ids (R2) — into shuffle-free star joins on 8-byte keys. */
  def saveBucketed(triples: DataFrame, table: String, buckets: Int = 32,
      subjectCol: String = "s"): Unit = {
    triples.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, subjectCol)
      .sortBy(subjectCol)
      .format("parquet")
      .saveAsTable(table)
    // stats are ingest-time state (round-10): ANALYZE here so CBO reorder
    // works on the store without the caller knowing to ask
    graft.sources.Tables.analyze(triples.sparkSession, table)
  }

  def load(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Vertical partitioning (S2RDF-style, SURVEY.md §1.2): the triples table
    * written `partitionBy("p")` — one directory per predicate. A triple
    * pattern with a constant predicate then *partition-prunes* to exactly
    * its predicate's files (the scan's PartitionFilters; asserted in
    * TripleStoreSpec), the parquet-native analog of d-sparq's per-predicate
    * Mongo indexes. Chain joins over VP read two 2-column slices instead
    * of the whole graph.
    *
    * Skew note: predicate frequencies are zipfian, so a hot predicate's
    * directory is large — combine with bucketing by `s` inside partitions
    * ([[saveBucketed]]) when star joins dominate.
    */
  def saveVerticalPartitioned(triples: DataFrame, path: String): Unit =
    triples.write.mode(SaveMode.Overwrite).partitionBy("p").parquet(path)

  def loadVertical(spark: SparkSession, path: String): DataFrame =
    AtomicStore.readParquet(spark, path)

  /** The dictionary-encoded id-triple store for a dataset: `(dict,
    * encoded)` read from the persisted load artifacts, building + saving
    * them first only if they were never materialized. This is the
    * reference's load phase (SURVEY.md §3.3: dictionary encoding runs in
    * MapReduce at load, never at query time) — queries must come through
    * here so term→id encoding stays ingest-time work. The on-disk copy
    * outlives the JVM, so later sessions skip the dictionary build.
    *
    * The encoded table is persisted BUCKETED BY `sid` — composing both
    * reference techniques end-to-end: subject co-location (R10) over
    * dictionary ids (R2), so every star over the on-disk id-store is
    * exchange-free on 8-byte keys (asserted in TripleStoreSpec). Bucket
    * metadata lives in the session catalog (in-memory), so each JVM
    * re-registers the published files as an external bucketed table;
    * Spark recovers each file's bucket id from the bucketed file names.
    */
  def encodedFor(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    // keyed by dataset, corpus definition AND on-disk layout: a change
    // to Triples.build (fingerprinted by its DuckDB rendering) or to the
    // bucketing scheme must invalidate the store, not silently serve the
    // previous corpus/layout (bucketed reads over un-bucketed files fail
    // at scan time). SHA-256 key — a 32-bit hash could collide across
    // datasets and serve the wrong store.
    val key = AtomicStore.key(sfDir, Triples.duckCte,
      s"bucketed-sid-$buckets")
    AtomicStore.opened(spark, AtomicStore.root(s"idtriples_$key")) { tmp =>
      val t = Triples.build(spark, sfDir)
      val dict = Dictionary.build(spark, t)
      dict.write.parquet(s"$tmp/dict")
      // bucketBy requires a catalog table; the explicit path makes it
      // external, so dropping the staging entry keeps the files for the
      // atomic rename that publishes the store
      val stage = s"graft_enc_stage_$key"
      spark.sql(s"DROP TABLE IF EXISTS $stage")
      Dictionary.encode(t, AtomicStore.readParquet(spark, s"$tmp/dict"))
        .write.bucketBy(buckets, "sid").sortBy("sid")
        .option("path", s"$tmp/enc").format("parquet")
        .saveAsTable(stage)
      spark.sql(s"DROP TABLE $stage")
    } { path =>
      val table = s"graft_enc_$key"
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $table (sid BIGINT, pid BIGINT, oid BIGINT)
           |USING PARQUET
           |CLUSTERED BY (sid) SORTED BY (sid) INTO $buckets BUCKETS
           |LOCATION '$path/enc'""".stripMargin)
      // a rebuilt root has new file names under the same location
      spark.catalog.refreshTable(table)
      // ingest-time ANALYZE: CBO sees the id-store's row count/NDVs
      // without caller opt-in (skipped when stats already present)
      graft.sources.Tables.analyze(spark, table)
      (AtomicStore.readParquet(spark, s"$path/dict"), spark.table(table))
    }
  }

  /** Matches `spark.sql.shuffle.partitions` (32) so bucketed scans line up
    * with shuffle partitioning and aggregations need no exchange. */
  private val buckets = 32

  /** The persisted dictionary-encoded QUADS store for `sfDir`:
    * (dict, encQuads(sid,pid,oid,gid)), built once per dataset
    * (AtomicStore-published, crash-safe) and partitioned by `gid` so
    * constant-GRAPH queries partition-prune — the dataset sibling of
    * [[encodedFor]]. The dictionary build (global term ranking) is the
    * one expensive step and is exactly what this store makes ingest-time
    * instead of per-query. */
  def quadsEncodedFor(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) =
    AtomicStore.opened(spark, AtomicStore.root("idquads",
        sfDir, Triples.duckCte, Quads.duckCte, "quads-gid")) { tmp =>
      val q = Quads.build(spark, sfDir)
      val dict = Dictionary.buildQuads(spark, q)
      dict.write.parquet(s"$tmp/dict")
      Dictionary.encodeQuads(q, AtomicStore.readParquet(spark, s"$tmp/dict"))
        .write.partitionBy("gid").parquet(s"$tmp/enc")
    } { path =>
      (AtomicStore.readParquet(spark, s"$path/dict"),
        AtomicStore.readParquet(spark, s"$path/enc").select("sid", "pid", "oid", "gid"))
    }
}
