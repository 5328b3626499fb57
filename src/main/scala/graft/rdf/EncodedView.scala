package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted materialized views IN ID SPACE, over an [[EncodedMirror]] —
  * the last string-vs-id asymmetry closed: an id-space deployment
  * (the reference's execution model — 8-byte keys everywhere, decode at
  * emission) can now also MAINTAIN its views without ever touching term
  * strings. Create folds the mirror's id-quads once; sync feeds
  * [[BgpView.delta]] with the mirror's own net id-changes
  * ([[EncodedMirror.changesSince]]); reads fold id-binding segments and
  * decode only at emission ([[readDecoded]]).
  *
  * Same lifecycle contracts as [[ViewStore]]: one-shot definition
  * (ViewStore's own pair, kind "encoded"), and the view and its
  * summaries each one [[graft.sources.VersionChain]] — plus the
  * mirror-side retention rule: sync views BEFORE compacting the mirror
  * (a pruned change range fails loudly in `changesSince`, never a
  * silently stale view).
  *
  * Pattern constants encode as `xxhash64(term)` — the mirror's PURE id
  * function — so encoding a definition needs no dictionary read, and a
  * view can be created before its constants ever appear in the data.
  */
object EncodedView {

  import graft.sources.VersionChain.Rows
  import MetaCodec._

  /** Highest mirror version the view reflects (0 = never created). */
  def lastSynced(root: String): Int = Rows.lastSynced(root)

  def segmentCount(root: String): Int = Rows.segmentCount(root)

  /** The persisted definition: (graph, STRING patterns) — the one
    * [[ViewStore.readDefinition]], kind "encoded". */
  def definition(root: String): (String, Seq[TP]) =
    ViewStore.readDefinition(root) match {
      case ViewStore.Definition("encoded", g, ViewStore.TripleBgp(p)) =>
        (g, p)
      case d => throw new IllegalArgumentException(
        s"not an id-space view under $root: a ${d.kind} view")
    }

  // ---- id encoding of the definition ----------------------------------

  /** Encode a definition's constants by the mirror's pure id function.
    * The collect is bounded by the number of DISTINCT pattern constants
    * (a handful per definition — driver-scale by construction). */
  private def encodePatterns(spark: SparkSession,
      patterns: Seq[TP]): Seq[TP] = {
    import spark.implicits._
    val consts = patterns.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect { case C(v: String) => v }.distinct
    val ids =
      if (consts.isEmpty) Map.empty[String, Long]
      else consts.toDF("term").select(col("term"), xxhash64(col("term")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def tr(t: Term): Term = t match {
      case C(v: String) => C(ids(v))
      case other => other
    }
    patterns.map(tp => TP(tr(tp.s), tr(tp.p), tr(tp.o)))
  }

  private def gidOf(spark: SparkSession, graph: String): Long = {
    import spark.implicits._
    // one row — the same pure hash the mirror's dictionary assigns
    Seq(graph).toDF("term").select(xxhash64(col("term")))
      .collect()(0).getLong(0)
  }

  /** The `graph` slice of an id-quads frame as (s, p, o) id-triples. */
  private def slice(quads: DataFrame, gid: Long): DataFrame =
    quads.filter(col("gid") === gid)
      .select(col("sid").as("s"), col("pid").as("p"), col("oid").as("o"))

  // ---- lifecycle -------------------------------------------------------

  /** Bootstrap at the mirror's current version: one fold of the
    * id-quads through [[BgpView.compute]]; idempotent (an existing base
    * at the same version is kept). */
  def create(spark: SparkSession, mirrorRoot: String, viewRoot: String,
      patterns: Seq[TP], graph: String = ""): Int = {
    val cur = EncodedMirror.lastSynced(mirrorRoot)
    require(cur > 0, s"no synced mirror under $mirrorRoot — sync() first")
    ViewStore.writeDefinition(viewRoot, "encoded", graph,
      ViewStore.render(patterns.map((_, C(Quads.DefaultGraph))))): Unit
    val enc = encodePatterns(spark, patterns)
    val gid = gidOf(spark, graph)
    // the gid filter rides BELOW the mirror's last-op fold (pushdown in
    // every scan), and the folded slice is materialized ONCE — compute
    // scans it per pattern leg, and re-running the fold per leg is the
    // difference between slice-sized and mirror-sized work each time
    val old = graft.Materialize(slice(EncodedMirror.encodedAt(spark,
      mirrorRoot, cur, Some(col("gid") === gid)), gid))
    try graft.sources.AtomicStore.materializeParquet(
        Rows.basePath(viewRoot, cur)) {
      BgpView.compute(old, enc)
    } finally graft.Materialize.release(old)
    cur
  }

  /** [[create]] from SPARQL text — the same conjunctive fragment (and
    * parser) as the string-space [[ViewStore.createFromSparql]]. */
  def createFromSparql(spark: SparkSession, mirrorRoot: String,
      viewRoot: String, text: String, graph: String = ""): Int =
    create(spark, mirrorRoot, viewRoot,
      ViewStore.patternsFromSparql(text), graph)

  /** Advance the view to the mirror head: net id-changes through the
    * telescoping delta rule, one O(|Δview|) segment — never a
    * recompute, never a decode. Idempotent, crash-safe, loud on a
    * compacted-away range. */
  def sync(spark: SparkSession, mirrorRoot: String,
      viewRoot: String): Int = {
    val cur = EncodedMirror.lastSynced(mirrorRoot)
    val last = lastSynced(viewRoot)
    require(last > 0, s"no view under $viewRoot — create() before sync()")
    if (cur <= last) return last
    val (graph, patterns) = definition(viewRoot)
    val enc = encodePatterns(spark, patterns)
    val gid = gidOf(spark, graph)
    val sliceOnly = Some(col("gid") === gid)
    val (adds, dels) = EncodedMirror.changesSince(spark, mirrorRoot, last,
      sliceOnly)
    // the telescoping delta rule scans its pre-state once per leg —
    // materialize the (slice-sized, gid-pushed-down) fold so each leg
    // reads a cached frame instead of re-shuffling the fold
    val old = graft.Materialize(slice(
      EncodedMirror.encodedAt(spark, mirrorRoot, last, sliceOnly), gid))
    try {
      val (va, vd) = BgpView.delta(old, slice(adds, gid),
        slice(dels, gid), enc)
      val segment = va.withColumn("__op", lit("a"))
        .unionByName(vd.withColumn("__op", lit("d")))
      graft.sources.AtomicStore.materializeParquet(
          Rows.segPath(viewRoot, last, cur)) {
        segment
      }
    } finally graft.Materialize.release(old)
    cur
  }

  /** The maintained ID-BINDING view: base + segments, one
    * last-op-per-binding window — all 8-byte columns. */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    readAt(spark, viewRoot, lastSynced(viewRoot))

  /** TIME-TRAVEL id read: the view at pinned mirror version `v`
    * (the [[ViewStore.readAt]] contract, in id space). */
  def readAt(spark: SparkSession, viewRoot: String, v: Int): DataFrame =
    Rows.foldLastOp(spark, viewRoot, Rows.at(viewRoot, v))

  /** [[read]] decoded at emission through the mirror's dictionary —
    * the only place term strings appear. One join per binding column
    * (ids are unique by the mirror's collision audit, so joins cannot
    * fan out). */
  def readDecoded(spark: SparkSession, mirrorRoot: String,
      viewRoot: String): DataFrame = {
    val ids = read(spark, viewRoot)
    val dict = EncodedMirror.dict(spark, mirrorRoot)
    val cols = ids.columns.toSeq
    cols.foldLeft(ids) { (df, c) =>
      df.join(dict.select(col("id").as(c), col("term").as(s"__t_$c")),
          Seq(c))
        .drop(c).withColumnRenamed(s"__t_$c", c)
    }.select(cols.map(col): _*)
  }

  /** Fold everything into a fresh base at the synced head
    * ([[graft.sources.VersionChain.compact]]). */
  def compact(spark: SparkSession, viewRoot: String): Unit =
    Rows.compact(viewRoot, lastSynced(viewRoot))(tmp =>
      read(spark, viewRoot).write.parquet(tmp))

  def compactIfDeep(spark: SparkSession, viewRoot: String,
      maxChain: Int = 8): Boolean =
    if (segmentCount(viewRoot) > maxChain) { compact(spark, viewRoot); true }
    else false

  // ---- id-space aggregate summary ------------------------------------

  private def writeMetaAgg(root: String, groupVars: Seq[String],
      countCol: String): Unit =
    graft.sources.AtomicStore.writeString(s"$root/meta.tsv",
      (Seq("mode", "aggenc", b64(countCol)) ++ groupVars.map(b64))
        .mkString("\t"))

  /** The id-space summary definition: (groupVars, countCol). */
  def definitionAgg(root: String): (Seq[String], String) =
    graft.sources.AtomicStore.readString(s"$root/meta.tsv")
      .split("\t").toSeq match {
      case Seq("mode", "aggenc", cc, gv @ _*) => (gv.map(unb64), unb64(cc))
      case _ => throw new IllegalArgumentException(
        s"not an id-space aggregate view under $root")
    }

  /** Bootstrap a PERSISTED grouped-count summary over a maintained
    * ID-SPACE view — [[ViewStore.createAgg]]'s shape with every group
    * key an 8-byte id: the dashboard over an id-space deployment never
    * touches a term string until [[readAggDecoded]]'s emission joins.
    * COUNT is the only measure — binding CELLS are ids here, so a SUM
    * over them would sum dictionary hashes; a numeric-measure summary
    * belongs on the string-space [[ViewStore]] (or decode first). */
  def createAgg(spark: SparkSession, viewRoot: String, aggRoot: String,
      groupVars: Seq[String], countCol: String = "n"): Int = {
    val v = lastSynced(viewRoot)
    require(v > 0, s"no view under $viewRoot — create() before createAgg()")
    require(!groupVars.contains(countCol),
      "the count column must not collide with a group variable")
    writeMetaAgg(aggRoot, groupVars, countCol)
    graft.sources.AtomicStore.materializeParquet(Rows.basePath(aggRoot, v)) {
      read(spark, viewRoot).groupBy(groupVars.map(col): _*)
        .agg(count(lit(1)).as(countCol))
    }
    v
  }

  /** Advance the summary from the view's delta SEGMENTS alone — the
    * segments are exact set transitions (a binding enters as "a",
    * leaves as "d"), so ±1 signs sum to each group's exact count
    * change; the view's base is never refolded. Same retention
    * contract as [[ViewStore.syncAgg]]: a compacted-away range fails
    * loudly here. */
  def syncAgg(spark: SparkSession, viewRoot: String,
      aggRoot: String): Int = {
    val (gv, countCol) = definitionAgg(aggRoot)
    val aggLast = lastSynced(aggRoot)
    require(aggLast > 0, s"no summary under $aggRoot — createAgg() first")
    val viewLast = lastSynced(viewRoot)
    if (viewLast <= aggLast) return aggLast
    val vsegs = Rows.since(viewRoot, aggLast)
    val sgn = when(col("__op") === "a", 1L).otherwise(-1L)
    val delta = Rows.segFrames(spark, viewRoot, vsegs).reduce(_.unionByName(_))
      .select(gv.map(col) :+ sgn.as("__sgn"): _*)
      .groupBy(gv.map(col): _*).agg(sum("__sgn").as(countCol))
      .filter(col(countCol) =!= 0L)
    graft.sources.AtomicStore.materializeParquet(
      Rows.segPath(aggRoot, aggLast, viewLast)) {
      delta
    }
    viewLast
  }

  /** The maintained id-keyed summary: base + net segment changes summed
    * per group over summary-sized frames. */
  def readAgg(spark: SparkSession, aggRoot: String): DataFrame = {
    val (gv, countCol) = definitionAgg(aggRoot)
    Rows.frames(spark, aggRoot, Rows.at(aggRoot, lastSynced(aggRoot)))
      .reduce(_.unionByName(_))
      .groupBy(gv.map(col): _*).agg(sum(countCol).as(countCol))
      .filter(col(countCol) =!= 0L)
  }

  /** [[readAgg]] with the group keys decoded at emission — the only
    * strings in the whole summary lifecycle. */
  def readAggDecoded(spark: SparkSession, mirrorRoot: String,
      aggRoot: String): DataFrame = {
    val (gv, _) = definitionAgg(aggRoot)
    val ids = readAgg(spark, aggRoot)
    val dict = EncodedMirror.dict(spark, mirrorRoot)
    gv.foldLeft(ids) { (df, c) =>
      df.join(dict.select(col("id").as(c), col("term").as(s"__t_$c")),
          Seq(c))
        .drop(c).withColumnRenamed(s"__t_$c", c)
    }.select(ids.columns.toSeq.map(col): _*)
  }

  /** Fold the summary chain into a fresh base at its synced head. */
  def compactAgg(spark: SparkSession, aggRoot: String): Unit =
    Rows.compact(aggRoot, lastSynced(aggRoot))(tmp =>
      readAgg(spark, aggRoot).write.parquet(tmp))

  def compactAggIfDeep(spark: SparkSession, aggRoot: String,
      maxChain: Int = 8): Boolean =
    if (segmentCount(aggRoot) > maxChain) { compactAgg(spark, aggRoot); true }
    else false
}
