package graft.rdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BGP execution over dictionary-encoded id-triples — the reference's
  * actual execution model (SURVEY.md §3.3: after load, every query runs
  * over numeric id-triples; variable bindings stay ids through all joins
  * and decode to terms only at emission).
  *
  * Why it matters at 100 TB: every BGP join key becomes an 8-byte long
  * instead of a variable-length string — smaller shuffles, cheaper hash
  * probes and sort comparisons, fixed-width tungsten rows. The string
  * dictionary is touched exactly twice: once at load (encode) and once per
  * result emission (decode), never inside the join tree.
  */
object EncodedBgp {

  /** Rename (sid,pid,oid) → (s,p,o) so the [[Bgp]] solvers run unchanged
    * over long-typed triples. */
  def asTriples(encoded: DataFrame): DataFrame =
    encoded.select(col("sid").as("s"), col("pid").as("p"), col("oid").as("o"))

  /** Translate the patterns' string constants into id space. The lookup
    * touches only the query's own constants — a driver-side fetch of a
    * handful of rows, the same bounded step the reference performs against
    * its dictionary collection before broadcasting a plan (this is NOT a
    * data-path collect; it is O(constants-in-query)).
    *
    * Returns the translated patterns plus whether every constant resolved:
    * a constant absent from the dictionary occurs in no triple, so the BGP
    * provably has no solutions and the caller short-circuits to empty
    * rather than comparing against a sentinel id that could (with hashed
    * dictionaries) collide with a real one.
    */
  def encodePatterns(dict: DataFrame, patterns: Seq[TP]): (Seq[TP], Boolean) = {
    val idOf = resolveConstants(dict, patterns)
    encodeResolved(patterns, idOf)
  }

  /** The one definition of "constant" shared by resolution and the
    * allResolved check — they must never diverge. */
  private def constantsOf(patterns: Seq[TP]): Seq[String] =
    patterns.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect { case C(v: String) => v }.distinct

  /** One dictionary lookup for the constants of any number of pattern
    * groups — a multi-block query (UNION branches, OPTIONALs) resolves all
    * its constants in a single job instead of one per block.
    * `extraTerms` lets the caller batch non-pattern constants (e.g.
    * property-path predicate IRIs and endpoints) into the same single
    * lookup job. */
  def resolveConstants(dict: DataFrame, patterns: Seq[TP],
      extraTerms: Seq[String] = Nil): Map[String, Long] = {
    val consts = (constantsOf(patterns) ++ extraTerms).distinct
    if (consts.isEmpty) Map.empty
    else dict.filter(col("term").isin(consts: _*))
      .select(col("term"), col("id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Translate with an already-resolved constant map (see
    * [[resolveConstants]]); the Boolean is "every constant resolved". */
  def encodeResolved(patterns: Seq[TP],
      idOf: Map[String, Long]): (Seq[TP], Boolean) = {
    def tr(t: Term): Term = t match {
      case C(v: String) => C(idOf.getOrElse(v, Long.MinValue))
      case other => other
    }
    (patterns.map(tp => TP(tr(tp.s), tr(tp.p), tr(tp.o))),
      constantsOf(patterns).forall(idOf.contains))
  }

  /** Decode the named id-binding columns back to terms — the emission step.
    * One dictionary equi-join per variable; the joins are outside the BGP
    * join tree and scale as ordinary shuffle (or broadcast) joins.
    */
  def decode(bindings: DataFrame, dict: DataFrame, vars: Seq[String]): DataFrame = {
    val order = bindings.columns.toSeq
    vars.foldLeft(bindings) { (df, v) =>
      df.join(dict.select(col("id").as(v), col("term").as(s"__$v")), v)
        .drop(v)
        .withColumnRenamed(s"__$v", v)
    }.select(order.map(col): _*)
  }

  /** The full id-space lifecycle for one query: constants → ids, solve over
    * longs, bindings → terms. `encoded`/`dict` are load-time artifacts
    * (from [[Dictionary.encode]] / [[Dictionary.build]] or
    * [[Dictionary.hashIds]]) — build them once, query many times.
    */
  def solve(encoded: DataFrame, dict: DataFrame, patterns: Seq[TP],
      collapseStars: Boolean = false): DataFrame = {
    val (pats, allResolved) = encodePatterns(dict, patterns)
    val t = asTriples(encoded)
    val solved =
      if (collapseStars) Bgp.solveStarCollapsed(t, pats) else Bgp.solve(t, pats)
    val gated = if (allResolved) solved else solved.filter(lit(false))
    decode(gated, dict, gated.columns)
  }
}
