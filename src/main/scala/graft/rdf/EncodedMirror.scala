package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An ID-SPACE mirror of a delta-log [[QuadStore]] — the reference's
  * dictionary-encoded execution model (8-byte ids everywhere, decode at
  * emission) kept IN SYNC with SPARQL UPDATE traffic, instead of being a
  * read-only ingest artifact.
  *
  * Design, built from parts that already exist:
  *  - ids are `xxhash64(term)` ([[Dictionary.hashIds]]' scale path) — a
  *    PURE function of the term, so id assignment needs zero coordination
  *    with the store's writers and the mirror's dictionary is append-only
  *    by construction ([[Dictionary.auditCollisions]] is the 64-bit
  *    collision check, ~n²/2⁶⁵ expected).
  *  - each `sync` folds [[QuadStore.changes]] (net adds/dels between the
  *    last synced version and the head — O(|delta|), computed from the
  *    delta segments without rescanning the base) into ONE encoded
  *    segment of (sid,pid,oid,gid,op) rows plus one dictionary segment of
  *    genuinely-new terms. The encoded segments under `enc/` are one
  *    [[graft.sources.VersionChain]]: a bootstrap/compaction writes a
  *    base (the full state at v), an incremental sync a coverage-named
  *    segment, so a replayed or crashed sync is a no-op and two racing
  *    syncers leave a chain [[encoded]] rejects loudly instead of
  *    silently resurrecting deleted quads. The dictionary under `dict/`
  *    is append-only, one `s{v}` per dictionary-growing sync.
  *  - [[encoded]] reads the newest base plus the later segments with the
  *    same constant-depth last-op-per-quad fold as the store's flat
  *    replay.
  *
  * Retention contract: `sync` needs the last-synced version to still be
  * pinned-readable in the store ([[QuadStore.changes]] reads it for the
  * clear-fallback and phantom screens) — sync at least as often as
  * retention allows, i.e. before `vacuum` drops the last synced version.
  * A violated contract fails loudly, never silently diverges.
  */
object EncodedMirror {

  import graft.sources.VersionChain.Rows

  private def encDir(root: String) = s"$root/enc"
  private def dictDir(root: String) = s"$root/dict"
  private def dictSegPath(dir: String, v: Int) = f"$dir%s/s$v%05d"
  private val DictRe = "s(\\d{5,})".r

  /** Complete dictionary segments as (version, listed path). */
  private def dictSegs(root: String): Seq[(Int, String)] =
    graft.sources.AtomicStore.listComplete(dictDir(root)) {
      case DictRe(v) => v.toInt
    }

  /** Highest store version folded into the mirror (0 = never synced). */
  def lastSynced(root: String): Int = Rows.lastSynced(encDir(root))

  /** Live segment count (bases + deltas) — the fold width a maintenance
    * job bounds with [[compact]]. */
  def segmentCount(root: String): Int = Rows.segmentCount(encDir(root))

  /** Fold the store's changes since the last sync into the mirror;
    * returns the store version the mirror now reflects. Idempotent and
    * crash-safe (marker-gated segments named by their coverage). */
  def sync(spark: SparkSession, storeRoot: String, root: String): Int = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no store under $storeRoot — init() before sync()"))
    val last = lastSynced(root)
    if (cur <= last) return last
    val (adds, dels) =
      if (last == 0) (QuadStore.readVersion(spark, storeRoot, cur),
        QuadStore.readVersion(spark, storeRoot, cur).limit(0))
      else QuadStore.changes(spark, storeRoot, last, cur)
    // dictionary first: a crash between the two writes leaves extra terms
    // (harmless superset) — never an encoded row without its terms.
    // Deleted quads' terms entered the dictionary when the quad did, so
    // only `adds` can introduce new terms — and a no-new-terms sync (the
    // steady state of idempotent traffic) writes NO dictionary segment,
    // so the dict fold width doesn't grow with sync count.
    val known = dict(spark, root).select("term")
    val newTerms = graft.Materialize(
      Dictionary.quadTerms(adds)
        .join(known, Seq("term"), "left_anti")
        .withColumn("id", xxhash64(col("term"))))
    if (!newTerms.isEmpty) {
      graft.sources.AtomicStore.materialize(dictSegPath(dictDir(root), cur))(
        tmp => newTerms.write.parquet(tmp)): Unit
      // collision screen: every sync that grew the dictionary re-proves
      // id uniqueness (O(|dict|) groupBy over the kilobyte-scale mirror
      // dict) — a 64-bit xxhash collision would silently merge two terms
      // (two distinct quads collapse to one id-quad; deleting one drops
      // the other), so it must fail LOUDLY here, at write time
      auditDict(spark, root)
    }
    graft.Materialize.release(newTerms)
    val full = dict(spark, root)
    val dest =
      if (last == 0) Rows.basePath(encDir(root), cur)
      else Rows.segPath(encDir(root), last, cur)
    graft.sources.AtomicStore.materialize(dest) { tmp =>
      Dictionary.encodeQuads(adds, full).withColumn("op", lit("a"))
        .unionByName(
          Dictionary.encodeQuads(dels, full).withColumn("op", lit("d")))
        .write.parquet(tmp)
    }
    cur
  }

  /** Fail loudly if any two distinct terms share an id — the 'fails
    * loudly, never silently diverges' contract on the hashed-id space.
    * [[sync]] runs this after every dictionary-growing write; callers
    * building hashed dictionaries elsewhere should do the same. */
  def auditDict(spark: SparkSession, root: String): Unit = {
    val coll = Dictionary.auditCollisions(dict(spark, root)).limit(1).collect()
    if (coll.nonEmpty) throw new IllegalStateException(
      s"xxhash64 id collision in mirror dictionary under $root: id=" +
        s"${coll(0).getLong(0)} terms=${coll(0).getSeq[String](2).mkString(", ")}" +
        " — the id space is corrupt; rebuild with a wider/dense id scheme")
  }

  /** The mirror's dictionary: union of the append-only segments. */
  def dict(spark: SparkSession, root: String): DataFrame = {
    val segs = dictSegs(root).map(e =>
      graft.sources.AtomicStore.readParquet(spark, e._2))
    if (segs.isEmpty)
      spark.range(0).select(col("id").cast("string").as("term"), col("id"))
    else segs.reduce(_.unionByName(_)).distinct()
  }

  /** The mirror's CURRENT id-quads (sid,pid,oid,gid): the newest base
    * plus the later segments, folded last-op-per-quad — same
    * constant-depth shape as the store's flat replay. A gapped or
    * overlapping chain (two syncers raced) is rejected loudly: delete
    * the mirror and resync. */
  def encoded(spark: SparkSession, root: String): DataFrame =
    encodedAt(spark, root, lastSynced(root))

  /** The mirror's id-quads AT a pinned SYNCED version `v` — the same
    * fold as the head read, stopped at v. Needs the newest base ≤ v
    * plus a contiguous chain reaching exactly v; a compaction that
    * rewrote past v makes this loud (the retention contract consumers
    * like [[EncodedView]] rely on: sync views before compacting the
    * mirror), never a silently wrong pin. */
  def encodedAt(spark: SparkSession, root: String, v: Int): DataFrame =
    encodedAt(spark, root, v, None)

  /** [[encodedAt]] with a pre-fold filter. The predicate may reference
    * only the quad KEY columns (sid/pid/oid/gid) — filtering the frames
    * BEFORE the last-op-per-quad fold then commutes with it exactly,
    * and a consumer that needs one graph's slice (an [[EncodedView]])
    * folds a slice-sized shuffle with the filter pushed into every
    * parquet scan, instead of shuffling the whole mirror. */
  def encodedAt(spark: SparkSession, root: String, v: Int,
      where: Option[Column]): DataFrame = {
    val keys = Seq("sid", "pid", "oid", "gid")
    val pre = (df: DataFrame) => where.fold(df)(df.filter)
    val link = Rows.at(encDir(root), v)
    val frames = Rows.frames(spark, encDir(root), link).map(pre)
    // an empty chain (fresh bootstrap, or right after compact) means the
    // base IS the state — it's adds-only by construction, so the
    // last-op-per-quad fold would be a store-wide shuffle computing the
    // identity; skip it
    if (link.segs.isEmpty) return frames.head.select(keys.map(col): _*)
    frames.zip(link.base +: link.segs.map(_._2))
      .map { case (df, t) => df.withColumn("__seq", lit(t)) }
      .reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(max(struct(col("__seq"),
        when(col("op") === "a", lit(1)).otherwise(lit(0)).as("__rank")))
        .as("m"))
      .filter(col("m.__rank") === 1)
      .select(keys.map(col): _*)
  }

  /** NET id-quad changes from synced version `from` to the mirror head,
    * as disjoint (adds, dels) — the BgpView.delta contract. Segments in
    * the range are per-range net, so composition needs the membership
    * screens: a quad whose LAST op is 'a' is a net add only if absent
    * at `from` (a delete-then-re-add nets out), and a last-op 'd' is a
    * net del only if present. Both screens are joins of the (Δ-sized)
    * folded range against the pinned state — the state is scanned with
    * pushdown, never shuffled beyond the join. */
  def changesSince(spark: SparkSession, root: String,
      from: Int): (DataFrame, DataFrame) =
    changesSince(spark, root, from, None)

  /** [[changesSince]] restricted by a KEY-column predicate, pushed
    * below both the range fold and the membership screens (same
    * commuting argument as [[encodedAt]]'s `where`). */
  def changesSince(spark: SparkSession, root: String, from: Int,
      where: Option[Column]): (DataFrame, DataFrame) = {
    val keys = Seq("sid", "pid", "oid", "gid")
    val pre = (df: DataFrame) => where.fold(df)(df.filter)
    val cur = lastSynced(root)
    require(cur > from, s"nothing to fold: mirror at $cur, from=$from")
    val segs = Rows.since(encDir(root), from)
    val folded = Rows.segFrames(spark, encDir(root), segs).zip(segs)
      .map { case (df, (_, t)) => pre(df).withColumn("__seq", lit(t)) }
      .reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(max(struct(col("__seq"),
        when(col("op") === "a", lit(1)).otherwise(lit(0)).as("__rank")))
        .as("m"))
      .select(keys.map(col) :+ col("m.__rank").as("__rank"): _*)
    val old = encodedAt(spark, root, from, where)
    (folded.filter(col("__rank") === 1).drop("__rank")
        .join(old, keys, "left_anti"),
      folded.filter(col("__rank") === 0).drop("__rank")
        .join(old, keys, "left_semi"))
  }

  /** SPARQL over the mirror — the reference's id-space execution
    * ([[Sparql.runQuadsEncoded]]: every join over longs, decode at
    * emission), against update-fresh data. */
  def query(spark: SparkSession, root: String, text: String,
      collapseStars: Boolean = false): DataFrame =
    Sparql.runQuadsEncoded(encoded(spark, root), dict(spark, root), text,
      collapseStars)

  /** Fold the base and every segment into one NEW base at the
    * last-synced version, then drop the superseded entries — the
    * mirror's vacuum. Run it on the same maintenance cadence as the
    * store's [[QuadStore.vacuum]]; without it each sync adds one (cheap,
    * constant-depth) segment to every read's fold forever. Publish-
    * then-prune ([[graft.sources.VersionChain.compact]]), for the
    * dictionary too. */
  def compact(spark: SparkSession, root: String): Int = {
    val last = lastSynced(root)
    require(last > 0, s"no synced mirror under $root — sync() first")
    if (segmentCount(root) <= 1) return last
    Rows.compact(encDir(root), last)(tmp =>
      encoded(spark, root).withColumn("op", lit("a")).write.parquet(tmp))
    // fold the dictionary segments too, publish-then-drop: the folded
    // union lands at s{last} FIRST, the superseded segments go after, so
    // every intermediate state is a superset of the encoded terms
    // (which is all dict correctness needs). Two bounds mirror the enc
    // loop's discipline: (a) compare by NAME — list() yields
    // fully-qualified URIs, and a string-vs-URI comparison would
    // silently never match, letting the no-op materialize "publish" a
    // pre-existing segment and the delete loop destroy the dictionary;
    // (b) fold and delete ONLY segments with version ≤ last — a
    // concurrent sync's NEWER segment carries terms the fold lacks, and
    // deleting it would silently orphan its encoded rows. Folding is
    // skipped when s{last} already exists (a new-terms sync at exactly
    // `last`) — rare, since steady-state syncs write no dict segment.
    val folding = dictSegs(root).filter(_._1 <= last)
    if (folding.size > 1 && !folding.exists(_._1 == last)) {
      val folded = folding
        .map(e => graft.sources.AtomicStore.readParquet(spark, e._2))
        .reduce(_.unionByName(_)).distinct()
      graft.sources.AtomicStore.materialize(
        dictSegPath(dictDir(root), last))(
        tmp => folded.write.parquet(tmp))
      folding.foreach(e => graft.sources.AtomicStore.delete(e._2))
    }
    last
  }
}
