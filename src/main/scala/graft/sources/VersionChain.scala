package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, row_number}

/** One COVERAGE-NAMED version chain under a root — the persisted shape of
  * every maintained view, summary, path-view edge set and id mirror:
  *
  *  - `<base>{v}` — a full snapshot at source version v.
  *  - `<seg>{from}_{to}` — the net change between two synced versions.
  *
  * Entries are AtomicStore-published and named by what they COVER, so a
  * replayed or crashed sync is a no-op (its entry already exists or is
  * invisible), the last synced version is derived from names alone, and
  * two syncers that raced from different versions leave a detectably
  * non-contiguous chain. The prefix pair is the chain's one parameter:
  * two chains with different prefixes share a root without seeing each
  * other's entries.
  *
  * Readers resolve a version through [[at]] (newest base ≤ v plus the
  * segments reaching exactly v) and consumers of the change stream
  * through [[since]]; both fail loudly on a gap, an overlap or a range a
  * compaction rewrote. [[compact]] publishes the folded base FIRST and
  * prunes what it subsumes after, so a crash between the two leaves a
  * larger-but-consistent chain that the next compaction cleans up, and
  * an entry published above the folded head survives it.
  */
final case class VersionChain(base: String, seg: String) {
  import VersionChain.{Entry, Link}

  def basePath(root: String, v: Int): String = f"$root%s/$base%s$v%05d"
  def segPath(root: String, from: Int, to: Int): String =
    f"$root%s/$seg%s$from%05d" + f"_$to%05d"

  // {5,}: %05d PADS to five digits but grows past them at version
  // 100000 — an exact-width match would silently ignore newer entries,
  // freezing lastSynced and serving stale data with no error
  private val BaseRe = s"$base(\\d{5,})".r
  private val SegRe = s"$seg(\\d{5,})_(\\d{5,})".r

  /** Every complete (marker-stamped) entry; bases read as (v, v). */
  def entries(root: String): Seq[Entry] =
    AtomicStore.listComplete(root) {
      case BaseRe(v) => Entry(v.toInt, v.toInt, isBase = true)
      case SegRe(f, t) => Entry(f.toInt, t.toInt, isBase = false)
    }.map(_._1)

  /** Highest version the chain covers (0 = nothing published). */
  def lastSynced(root: String): Int =
    entries(root).map(_.to).maxOption.getOrElse(0)

  /** Complete entries, bases and segments alike — the read-side fold
    * width a maintenance job bounds by compacting. */
  def segmentCount(root: String): Int = entries(root).size

  /** The chain capped at a synced version `v`: the newest base ≤ v plus
    * the contiguous segments reaching exactly v. Loud when nothing is
    * published, when a compaction rewrote past v (no base at or below
    * it), on a gap or overlap, and on a v no sync landed on — never a
    * silently approximate state. */
  def at(root: String, v: Int): Link = {
    val es = entries(root)
    require(es.nonEmpty, s"nothing published under $root")
    val b = es.collect { case e if e.isBase && e.to <= v => e.to }
      .maxOption.getOrElse(throw new IllegalArgumentException(
        s"no $base base at or below $v under $root — compacted past " +
          "it? reads and consumers live within the retention window"))
    val segs = es.filter(e => !e.isBase && e.to > b && e.to <= v)
      .sortBy(_.to)
    val reached = contiguous(root, b, segs)
    require(reached == v, s"$v is not a synced boundary of the " +
      s"$base/$seg chain under $root (it reaches $reached)")
    Link(b, segs.map(e => (e.from, e.to)))
  }

  /** The segments from sync point `from` up to the head, in order — the
    * change stream a consumer synced at `from` folds next. Loud on a gap
    * or overlap, and when a compaction pruned part of the range. */
  def since(root: String, from: Int): Seq[(Int, Int)] = {
    val es = entries(root)
    val head = es.map(_.to).maxOption.getOrElse(0)
    val segs = es.filter(e => !e.isBase && e.from >= from).sortBy(_.to)
    val pruned = s" — compacted past a consumer's sync point? sync " +
      "consumers before compacting"
    require(head == from || segs.headOption.exists(_.from == from),
      s"no $seg segment under $root starts at $from (the chain is at " +
        s"$head)$pruned")
    val reached = contiguous(root, from, segs)
    require(reached == head, s"$seg segments under $root cover " +
      s"$from..$reached but the chain is at $head$pruned")
    segs.map(e => (e.from, e.to))
  }

  private def contiguous(root: String, from: Int, segs: Seq[Entry]): Int =
    segs.foldLeft(from) { (at, e) =>
      require(e.from == at, s"chain gap under $root: segment " +
        s"$seg${e.from}_${e.to} does not extend $at — syncs raced from " +
        "different versions? rebuild the artifact")
      e.to
    }

  /** The entry that DEFINES the linked version: its last segment, or the
    * base when there is none — what a fold cache fingerprints. */
  def endPath(root: String, l: Link): String =
    l.segs.lastOption.map { case (f, t) => segPath(root, f, t) }
      .getOrElse(basePath(root, l.base))

  /** The linked entries as frames, base first. */
  def frames(spark: SparkSession, root: String, l: Link): Seq[DataFrame] =
    AtomicStore.readParquet(spark, basePath(root, l.base)) +:
      segFrames(spark, root, l.segs)

  def segFrames(spark: SparkSession, root: String,
      segs: Seq[(Int, Int)]): Seq[DataFrame] =
    segs.map { case (f, t) =>
      AtomicStore.readParquet(spark, segPath(root, f, t))
    }

  /** The linked state of a SET-valued chain — base rows plus segments of
    * net `__op` 'a'/'d' rows — folded by one last-op-per-row window: the
    * newest op on each row wins and rows whose last op is 'd' leave. A
    * bare base is returned as its scan. */
  def foldLastOp(spark: SparkSession, root: String, l: Link): DataFrame = {
    val b = AtomicStore.readParquet(spark, basePath(root, l.base))
    if (l.segs.isEmpty) return b
    val cols = b.columns.toSeq
    val all = b.withColumn("__v", lit(l.base))
      .withColumn("__op", lit("a"))
      .unionByName(l.segs.map { case (f, t) =>
        AtomicStore.readParquet(spark, segPath(root, f, t))
          .withColumn("__v", lit(t))
      }.reduce(_.unionByName(_)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(cols.map(col): _*).orderBy(col("__v").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") === "a")
      .select(cols.map(col): _*)
  }

  /** Fold the chain into ONE base at synced version `head` via
    * `write(tmpDir)` (skipped when that base is already published), then
    * prune every entry the base subsumes: older bases and segments
    * ending at or below `head`. Publish-then-prune: a crash between the
    * two leaves a readable chain the next call finishes, and an entry
    * published above `head` meanwhile is kept. */
  def compact(root: String, head: Int)(write: String => Unit): Unit = {
    AtomicStore.materialize(basePath(root, head))(write): Unit
    entries(root).foreach {
      case e if e.isBase && e.to < head =>
        AtomicStore.delete(basePath(root, e.to))
      case e if !e.isBase && e.to <= head =>
        AtomicStore.delete(segPath(root, e.from, e.to))
      case _ =>
    }
  }
}

object VersionChain {

  /** A complete entry: a base at v is (v, v). */
  final case class Entry(from: Int, to: Int, isBase: Boolean)

  /** A resolved chain: the base version plus the (from, to) segments
    * that extend it, in order. */
  final case class Link(base: Int, segs: Seq[(Int, Int)])

  /** Binding views, summaries, id views and the mirror's `enc/`. */
  val Rows = VersionChain("b", "s")

  /** Path views' per-node edge sets, sharing the view's root. */
  val Edges = VersionChain("e", "es")
}
