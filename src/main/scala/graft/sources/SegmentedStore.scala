package graft.sources

/** Shared plumbing for SEGMENTED persisted artifacts — the
  * append/compact lifecycle [[graft.llm.LshIndex]] established, factored
  * so the ANN indexes ([[graft.llm.IvfIndex]], [[graft.llm.PqIndex]],
  * [[graft.llm.IvfPq]]) follow the identical contract:
  *
  *  - `seg00001, seg00002, …` — one immutable AtomicStore-published
  *    directory per build/append; existing segments never recompute.
  *  - at most one live `baseNNNNN` — the fold a compaction publishes.
  *  - readers take the highest complete base plus every segment numbered
  *    ABOVE it; superseded entries a crashed compaction left behind are
  *    invisible, and a batch appended concurrently with a compaction
  *    numbers above the fold and survives it untouched.
  */
object SegmentedStore {

  /** Partitioned parquet write that survives an EMPTY frame: a zero-row
    * `partitionBy` write leaves a marker-complete directory with no
    * schema-bearing files, after which every read of the store fails
    * with "Unable to infer schema" — plausible for a continuous-ingest
    * micro-batch that happened to carry no rows. Fall back to an
    * unpartitioned schema-only write: the partition column stays a
    * regular column with its original type, so readers' `unionByName`
    * and partition pruning are unaffected (pruning on an empty entry is
    * trivially correct). */
  def writePartitioned(df: org.apache.spark.sql.DataFrame, dest: String,
      cols: String*): Unit =
    if (df.isEmpty) df.write.parquet(dest)
    else df.write.partitionBy(cols: _*).parquet(dest)

  // ------------- sign-tombstone deletion (shared plumbing) -------------
  //
  // The signed-segment pattern graft.llm.InvertedIndex established,
  // factored for the vector/LSH indexes: a removal batch writes the SAME
  // rows an add wrote at sign = −1; reads NET-FOLD (group by every
  // payload column, keep net-positive rows once). The −1 segment carries
  // a flag file so a store that never saw a deletion keeps today's plain
  // union — zero extra shuffles on the no-deletes path — and a
  // compaction folds the signs away, restoring that fast path.

  /** Tombstone flag a signed (−1) segment carries at its top level.
    * Parquet readers skip underscore-prefixed files, so it can sit
    * inside the segment's data directory. */
  val SignedFlag = "_GRAFT_SIGNED"

  def flagSigned(dir: String): Unit =
    AtomicStore.writeString(s"$dir/$SignedFlag", "")

  /** Does ANY live entry carry tombstones? (One listing per entry —
    * metadata-cheap, and the answer gates the fold's shuffle.) */
  def anySigned(entries: Seq[String]): Boolean =
    entries.exists(p =>
      AtomicStore.list(p).exists(_.getPath.getName == SignedFlag))

  /** Default the `sign` column for segments written before deletion
    * support existed. */
  def withSign(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    if (df.columns.contains("sign")) df
    else df.withColumn("sign", org.apache.spark.sql.functions.lit(1))

  /** Net-fold of sign-weighted rows: group by every column but `sign`,
    * keep net-positive rows, ONE copy each at sign = 1 (ids are keys —
    * a double-add dedups at the fold). Cancellation is exact-match: a
    * removal must carry the row as written (same id, same payload), the
    * same contract as [[graft.llm.InvertedIndex.remove]] re-deriving
    * postings from the removed docs' text. */
  def netFold(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    val keys = df.columns.filterNot(_ == "sign").map(col)
    df.groupBy(keys: _*)
      .agg(sum("sign").as("__net")).filter(col("__net") > 0)
      .drop("__net").withColumn("sign", lit(1))
  }

  /** Union live entries (optionally a sub-artifact of each), defaulting
    * `sign`, net-folding ONLY when some entry carries tombstones. */
  def readFolded(spark: org.apache.spark.sql.SparkSession,
      entries: Seq[String], sub: String = ""): org.apache.spark.sql.DataFrame = {
    val all = entries
      .map(p => if (sub.isEmpty) p else s"$p/$sub")
      .map(p => withSign(spark.read.parquet(p)))
      .reduce(_.unionByName(_))
    if (anySigned(entries)) netFold(all) else all
  }

  private val SegRe = "seg(\\d{5,})".r
  private val BaseRe = "base(\\d{5,})".r

  def segPath(root: String, n: Int): String = f"$root%s/seg$n%05d"
  def basePath(root: String, n: Int): String = f"$root%s/base$n%05d"

  private def complete(root: String, re: scala.util.matching.Regex) =
    AtomicStore.listComplete(root) { case re(n) => n.toInt }
      .map(_._1).sorted

  def segments(root: String): Seq[Int] = complete(root, SegRe)
  def bases(root: String): Seq[Int] = complete(root, BaseRe)

  /** The entries a reader folds RIGHT NOW: highest complete base (if
    * any) plus the segments above it. */
  def liveEntries(root: String): Seq[String] = {
    val b = bases(root).maxOption
    b.map(basePath(root, _)).toSeq ++
      segments(root).filter(n => b.forall(n > _)).map(segPath(root, _))
  }

  /** Live entry count (0 = nothing built yet) — the fold depth of every
    * read. */
  def liveCount(root: String): Int = liveEntries(root).size

  /** The number the NEXT segment must take. Counts bases too: after a
    * fold into base k the next batch lands at k+1 — a reused low number
    * would sit below the base and be invisible to readers. */
  def nextN(root: String): Int =
    (segments(root) ++ bases(root)).maxOption.getOrElse(0) + 1

  /** Fold every live entry into ONE new base via `write(liveEntries,
    * tmpDir)`, then drop the entries the newest base subsumes —
    * publish-then-drop, so a crash between the two leaves a
    * larger-but-consistent store whose leftovers the next call drops
    * (even when nothing is left to fold). Returns the live entry count
    * after. */
  def compactWith(root: String)(
      write: (Seq[String], String) => Unit): Int = {
    val live = liveEntries(root)
    require(live.nonEmpty, s"no segmented store under $root")
    if (live.size > 1) {
      val top = (segments(root) ++ bases(root)).max
      AtomicStore.materialize(basePath(root, top))(tmp => write(live, tmp))
    }
    bases(root).maxOption.foreach { top =>
      segments(root).filter(_ <= top).foreach(n =>
        AtomicStore.delete(segPath(root, n)))
      bases(root).filter(_ < top).foreach(n =>
        AtomicStore.delete(basePath(root, n)))
    }
    liveEntries(root).size
  }
}
