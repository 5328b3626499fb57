package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md /
  * FIXTURES.md).
  *
  * Design notes for scale: every loader is a plain parquet scan, so Catalyst
  * pushes filters and projections into the scan (PushedFilters / ReadSchema
  * in `.explain`), and partition-parallelism follows
  * `spark.sql.files.maxPartitionBytes`. No caching happens here — callers
  * decide persistence policy.
  *
  * The reference engine loads N-Triples into subject-sharded MongoDB
  * (D-SPARQ, ISWC 2013 demo; reference snapshot at /root/reference was empty
  * — see SURVEY.md §0). Our equivalent storage primitive is columnar parquet
  * + optional bucketing on the join key (see graft.rdf).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Plain scan, with one normalization: parquet files written with
    * isAdjustedToUTC=false are inferred as TIMESTAMP_NTZ by Spark 4 (the
    * scale-factor dirs differ on this flag) — cast those to TIMESTAMP. The
    * session timezone is pinned to UTC, so the cast preserves the instant
    * and time functions (unix_millis, date_trunc, window) apply uniformly.
    *
    * A schema-less spark.read.parquet launches a footer-sampling JOB per
    * call, and lifecycle queries CONSTRUCT these frames on every
    * invocation even when the store init never executes them (4 inference
    * jobs per invocation at the ~0.1-0.3 s/job floor). So the schema is
    * memoized in AtomicStore's schema LRU, fingerprinted by the path's
    * modification time: a table regenerated in place re-infers.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = AtomicStore.readFingerprinted(spark, path,
      "mtime:" + AtomicStore.modificationTime(path))
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == TimestampNTZType)
        acc.withColumn(f.name, col(f.name).cast(TimestampType))
      else acc
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` has shipped under two physical types across driver data
    * generations: parquet TIMESTAMP(NANOS) (read as raw nanos Long via the
    * legacy conf, which Spark's reader otherwise rejects) and plain
    * TIMESTAMP(MICROS). Both normalize to the same three derived columns so
    * every downstream query and oracle is schema-generation-agnostic:
    *   - `ts_ns`: exact epoch nanos (Long) — use for arithmetic that must
    *     not lose precision (as-of joins, session gaps);
    *   - `ts_us_long`: epoch micros (Long);
    *   - `ts_us`: micros TimestampType — use for window functions
    *     (`window`, `session_window`) which require TimestampType.
    * Truncation ns→us is a floor; window-bucket membership is unaffected
    * because bucket boundaries are whole seconds. The DuckDB oracles use
    * `epoch_ns(ts)`, which is precision-agnostic on their side too.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(table(spark, sfDir, "events"))
  }

  /** Normalize a raw events scan (batch OR streaming — pure column logic)
    * from either physical `ts` type to the derived-column contract above. */
  def normalizeEvents(raw: DataFrame): DataFrame = {
    val fromNanosLong =
      raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val df =
      if (fromNanosLong)
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us_long", expr("ts_ns div 1000"))
          .withColumn("ts_us", timestamp_micros(col("ts_us_long")))
      else
        raw.withColumn("ts_us_long",
            unix_micros(col("ts").cast(TimestampType)))
          .withColumn("ts_ns", col("ts_us_long") * lit(1000L))
          .withColumn("ts_us", timestamp_micros(col("ts_us_long")))
    // identical column order regardless of the source generation
    df.select("event_id", "ts_ns", "user_id", "event_type", "value",
      "props", "ts_us_long", "ts_us")
  }

  // ------------------------- CBO statistics -------------------------

  /** The per-dataset statistics database name ([[analyzeAll]]). */
  def statsDb(sfDir: String): String =
    "graft_" + AtomicStore.key(sfDir).take(12)

  private val analyzedKeys =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Register `sfDir`'s parquet tables as EXTERNAL catalog tables under a
    * per-dataset database and feed Catalyst's cost-based optimizer:
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS` per table
    * (row counts, NDVs, min/max — what join reorder and build-side choice
    * plan from). This replaces the reference's per-predicate selectivity
    * counts with the engine-native statistics machinery (SURVEY.md §4).
    *
    * Scale shape: EXTERNAL tables are metadata only — no data is copied,
    * the ANALYZE scan is the entire cost and it is paid ONCE per dataset
    * per catalog (idempotent: a table that already carries stats is
    * skipped, and a per-session memo skips even the metadata round-trip).
    * The current database is switched to the dataset's, so plain-name SQL
    * (`FROM lineitem ...`) resolves to the analyzed tables. Returns the
    * database name. */
  def analyzeAll(spark: SparkSession, sfDir: String,
      tables: Seq[String] = names): String = {
    val db = statsDb(sfDir)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    tables.foreach { t =>
      if (analyzedKeys.add(
          s"${System.identityHashCode(spark.sessionState)}:$db.$t")) {
        spark.sql(s"CREATE TABLE IF NOT EXISTS $db.$t USING parquet " +
          s"LOCATION '$sfDir/$t.parquet'")
        analyze(spark, s"$db.$t")
      }
    }
    spark.catalog.setCurrentDatabase(db)
    db
  }

  /** Compute CBO statistics for one catalog table unless it already has
    * them, restricted to the stat-supported column types (ANALYZE rejects
    * arrays/maps/structs outright — embeddings, event props). TIMESTAMP_NTZ
    * is additionally excluded although ANALYZE accepts it: Spark's
    * FilterEstimation lacks an NTZ case and a stats-carrying NTZ column
    * crashes optimization with a MatchError the moment a filter touches it
    * (hit by the o_orderdate range predicates on NTZ-generation parquet).
    * A table with NO stat-able column still gets table-level row counts. */
  def analyze(spark: SparkSession, table: String): Unit = {
    import org.apache.spark.sql.types._
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val hasStats = spark.sessionState.catalog.getTableMetadata(ident)
      .stats.exists(s => s.colStats.nonEmpty || s.rowCount.isDefined)
    if (!hasStats) {
      val cols = spark.table(table).schema.fields.collect {
        case f if (f.dataType match {
          case _: NumericType | _: TimestampType | DateType |
               BooleanType | _: StringType | BinaryType => true
          case _ => false
        }) => s"`${f.name}`"
      }
      if (cols.isEmpty)
        spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS"): Unit
      else
        spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS " +
          s"FOR COLUMNS ${cols.mkString(", ")}"): Unit
    }
  }
}
