package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted BUCKETED copies of the relational fact tables — the
  * co-located-join primitive for the 100 TB tier. Both `orders` and
  * `lineitem` are written bucketed (and sorted) by their order key into
  * the same bucket count, so an orderkey equi-join (and any orderkey
  * aggregation above it) plans with ZERO shuffle exchanges: each task
  * reads bucket i of both sides and sort-merges in place. At cluster
  * scale this turns the biggest TPC-H-shaped shuffle (lineitem ⋈ orders)
  * into a scan-speed stage — the bucketing cost is paid once at ingest,
  * like every other persisted store in graft (AtomicStore-published,
  * crash-safe, rebuilt only when the layout key changes).
  *
  * Bucket metadata lives in the session catalog, so each JVM re-registers
  * the published files as external bucketed tables (same recovery pattern
  * as rdf.TripleStore.encodedFor).
  */
object BucketedTables {

  /** Matches spark.sql.shuffle.partitions (32) so downstream aggregations
    * line up with the bucketing too. */
  private val buckets = 32

  /** (orders, lineitem), both bucketed+sorted by order key. */
  def ordersLineitem(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val specs = Seq(
      ("orders", "o_orderkey", () => Tables.orders(spark, sfDir)),
      ("lineitem", "l_orderkey", () => Tables.lineitem(spark, sfDir)))
    // keyed by dataset, LAYOUT and SCHEMA: a loader/schema change must
    // invalidate the store — AtomicStore's marker would otherwise keep
    // serving old files under the new CREATE TABLE DDL, reading missing
    // columns as nulls (same rule as TripleStore.encodedFor's corpus
    // fingerprint)
    val schemaKey = specs.map { case (n, _, load) =>
      s"$n:${load().schema.toDDL}" }.mkString(";")
    val key = AtomicStore.key(sfDir, s"bucketed-orderkey-$buckets", schemaKey)
    AtomicStore.opened(spark, AtomicStore.root(s"bucketed_$key")) { tmp =>
      specs.foreach { case (name, bucketCol, load) =>
        // bucketBy requires a catalog table; the explicit path makes it
        // external, so dropping the staging entry keeps the files for
        // the atomic publish rename
        val stage = s"graft_bk_${name}_stage_$key"
        spark.sql(s"DROP TABLE IF EXISTS $stage")
        load().write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .option("path", s"$tmp/$name").format("parquet")
          .saveAsTable(stage)
        spark.sql(s"DROP TABLE $stage")
      }
    } { path =>
      val frames = specs.map { case (name, bucketCol, load) =>
        val table = s"graft_bk_${name}_$key"
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $table (${load().schema.toDDL})
             |USING PARQUET
             |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
             |INTO $buckets BUCKETS
             |LOCATION '$path/$name'""".stripMargin)
        // a rebuilt root has new file names under the same location
        spark.catalog.refreshTable(table)
        // ingest-time ANALYZE (round-10): co-located joins also get CBO
        // row counts/NDVs without caller opt-in
        Tables.analyze(spark, table)
        spark.table(table)
      }
      (frames(0), frames(1))
    }
  }
}
