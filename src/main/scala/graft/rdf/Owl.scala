package graft.rdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OWL-Horst-style property semantics beyond the ρdf core ([[Rdfs]]):
  * owl:sameAs identity cliques, owl:TransitiveProperty,
  * owl:inverseOf and owl:SymmetricProperty — plus the CLASS rules of the
  * same fragment ([[entailClass]]): owl:equivalentClass /
  * owl:equivalentProperty, owl:FunctionalProperty /
  * owl:InverseFunctionalProperty → sameAs derivation feeding the clique
  * canonicalizer, and owl:hasValue / owl:someValuesFrom restrictions —
  * the fragment of OWL that stays rule-shaped and therefore scales like
  * the RDFS pass (ter Horst, JWS 2005, public; WebPIE treats the same
  * fragment).
  *
  * Scale shapes, per rule family:
  *  - sameAs: equivalence classes by min-label propagation
  *    ([[graft.llm.Dedup.connectedComponents]] — O(clique diameter)
  *    rounds, eager-materialized), then ONE rewrite join per position.
  *    Canonicalization-by-representative is the production choice
  *    (emitting all n² same-as-expanded triples of an n-clique is the
  *    classic OWL blow-up; picking the MINIMUM member is deterministic
  *    and join-free to verify).
  *  - TransitiveProperty: per-predicate closure via the semi-naive
  *    [[Paths.transitiveClosure]] (diameter rounds).
  *  - inverseOf / SymmetricProperty: map-side emissions, one scan.
  */
object Owl {

  /** The class-rule side of the OWL-Horst fragment, as a KB-sized schema
    * (the [[Rdfs.Schema]] discipline: ontology declarations are tiny
    * next to TB-sized instance data, so they ride the plan as broadcast
    * tables / literal maps and no rule ever joins instance data against
    * instance data except the one genuinely binary rule).
    *
    *  - `equivalentClass` / `equivalentProperty` (rdfp12/13): symmetric-
    *    transitive cliques, closed driver-side, applied map-side.
    *  - `functional` / `inverseFunctional` (rdfp1/2): two descriptions
    *    of one individual under a key property are the SAME individual —
    *    derived sameAs pairs feed [[sameAsCanonical]]'s clique engine.
    *  - `hasValue` (rdfp14a/b, both directions): `(cls, prop, value)` —
    *    membership ⇄ the witness triple.
    *  - `someValuesFrom` (rdfp15): `(cls, prop, valueCls)` — (x p y) ∧
    *    (y type valueCls) ⊢ (x type cls); the only binary class rule.
    */
  final case class ClassSchema(
      equivalentClass: Seq[(String, String)] = Nil,
      equivalentProperty: Seq[(String, String)] = Nil,
      functional: Seq[String] = Nil,
      inverseFunctional: Seq[String] = Nil,
      hasValue: Seq[(String, String, String)] = Nil,
      someValuesFrom: Seq[(String, String, String)] = Nil)

  /** Rewrite every subject/object to its owl:sameAs equivalence-class
    * representative (the class MINIMUM — deterministic), consuming the
    * sameAs triples; non-aliased terms pass through. One distinct at
    * the end: distinct aliased triples can collapse onto one canonical
    * triple. */
  def sameAsCanonical(triples: DataFrame,
      sameAsPred: String = "sameAs"): DataFrame =
    canonicalizeBy(
      triples.filter(col("p") =!= sameAsPred).select("s", "p", "o"),
      triples.filter(col("p") === sameAsPred)
        .select(col("s").as("doc_a"), col("o").as("doc_b")))

  /** Canonicalize `data(s, p, o)` by the equivalence classes of
    * `pairs(doc_a, doc_b)`: min-label propagation picks each class's
    * MINIMUM as representative, then ONE rewrite join per position. */
  private def canonicalizeBy(data: DataFrame, pairs: DataFrame): DataFrame = {
    val reps = graft.llm.Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("node"), col("label").as("rep"))
    data
      .join(reps.select(col("node").as("s"), col("rep").as("__rs")),
        Seq("s"), "left")
      .join(reps.select(col("node").as("o"), col("rep").as("__ro")),
        Seq("o"), "left")
      .select(coalesce(col("__rs"), col("s")).as("s"), col("p"),
        coalesce(col("__ro"), col("o")).as("o"))
      .distinct()
  }

  /** Driver-side symmetric-transitive closure of equivalence pairs into
    * member → sorted clique maps (union-find; the declarations are
    * KB-sized by [[ClassSchema]]'s contract). */
  private def cliques(pairs: Seq[(String, String)]): Map[String, Seq[String]] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find)
      .values.flatMap(ms => ms.map(_ -> ms.sorted)).toMap
  }

  /** One expansion pass of the class rules over a canonical triple set:
    * every input triple survives (the clique lookups include identity),
    * plus the rule emissions. Map-side except rdfp15's one equi-join. */
  private def expandClassRules(t: DataFrame, cs: ClassSchema): DataFrame = {
    import org.apache.spark.sql.Column
    val spark = t.sparkSession
    import spark.implicits._
    def lookup(m: Map[String, Seq[String]]): Column =
      if (m.isEmpty) typedLit(Map.empty[String, Seq[String]])
      else map(m.toSeq.flatMap { case (k, vs) =>
        Seq(lit(k), array(vs.map(lit): _*)) }: _*)
    val clsMap = lookup(cliques(cs.equivalentClass))
    val prpMap = lookup(cliques(cs.equivalentProperty))
    // rdfp12a/b: a type triple holds for every clique member — applied
    // to EVERY emitted membership (not just the input's), so an
    // equivalence lift never costs an extra fixpoint round
    def liftCls(typed: DataFrame): DataFrame =
      typed.select(col("s"), col("p"), explode(
        coalesce(element_at(clsMap, col("o")), array(col("o")))).as("o"))
    val viaCls = liftCls(t.filter(col("p") === "type"))
    // rdfp13a/b: a triple holds under every equivalent predicate
    val viaPrp = t.filter(col("p") =!= "type").select(col("s"), explode(
      coalesce(element_at(prpMap, col("p")), array(col("p")))).as("p"),
      col("o"))
    // downstream rules consume the LIFTED frames, so a witness arriving
    // through property equivalence (or a membership through class
    // equivalence) fires its dependent rule in the SAME round — the
    // fixpoint's round count tracks only the sameAs feedback and the
    // genuinely sequential rule chains, not the clique declarations
    var out = viaCls.unionByName(viaPrp)
    if (cs.hasValue.nonEmpty) {
      val hv = broadcast(cs.hasValue.toDF("__cls", "__prop", "__value"))
      // rdfp14b: membership ⊢ the witness triple
      out = out.unionByName(viaCls.join(hv, col("o") === col("__cls"))
        .select(col("s"), col("__prop").as("p"), col("__value").as("o")))
      // rdfp14a: the witness triple ⊢ membership (clique-lifted)
      out = out.unionByName(liftCls(viaPrp.join(hv,
          col("p") === col("__prop") && col("o") === col("__value"))
        .select(col("s"), lit("type").as("p"), col("__cls").as("o"))))
    }
    if (cs.someValuesFrom.nonEmpty) {
      val sv = broadcast(cs.someValuesFrom.toDF("__cls", "__prop", "__vcls"))
      // rdfp15: the one instance×instance rule — an equi-join on the
      // witness node, schema broadcast, both sides predicate-pruned
      val typed = viaCls.select(col("s").as("__y"), col("o").as("__yc"))
      out = out.unionByName(liftCls(viaPrp.join(sv, col("p") === col("__prop"))
        .join(typed, col("o") === col("__y") && col("__yc") === col("__vcls"))
        .select(col("s"), lit("type").as("p"), col("__cls").as("o"))))
    }
    out.distinct()
  }

  /** sameAs pairs the (inverse-)functional declarations derive from a
    * triple set (rdfp1/2), emitted as a STAR onto each key group's
    * minimum — linear in group size where the spec's pairwise form is
    * quadratic, with identical equivalence classes (the clique engine
    * closes the star). */
  private def functionalPairs(t: DataFrame, cs: ClassSchema): DataFrame = {
    val spark = t.sparkSession
    import spark.implicits._
    def star(keyed: DataFrame, keys: Seq[String], v: String): DataFrame =
      keyed.groupBy(keys.map(col): _*)
        .agg(min(col(v)).as("__rep"), collect_set(col(v)).as("__all"))
        .select(explode(col("__all")).as("doc_a"), col("__rep").as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
    val none = Seq.empty[(String, String)].toDF("doc_a", "doc_b")
    val f =
      if (cs.functional.isEmpty) none
      else star(t.filter(col("p").isin(cs.functional: _*)), Seq("s", "p"), "o")
    val inf =
      if (cs.inverseFunctional.isEmpty) none
      else star(t.filter(col("p").isin(cs.inverseFunctional: _*)),
        Seq("p", "o"), "s")
    f.unionByName(inf)
  }

  /** Materialize the class-rule entailment of `triples` under `cs`,
    * canonicalized by declared AND derived owl:sameAs (the feedback
    * loop: a functional-property merge rewrites already-derived triples,
    * which can fire further rules — so the pass iterates to fixpoint).
    * Round count is bounded by the SCHEMA's dependency depth (a rule
    * emission only feeds a different rule through the ontology, never
    * through data), so `maxRounds` is an ontology-shaped constant, not a
    * data-shaped one; non-convergence inside it fails loudly. Per round:
    * the map-side expansions + one schema-broadcast equi-join + a
    * distinct, then a clique canonicalization only in rounds that
    * actually derived pairs. */
  def entailClass(triples: DataFrame, cs: ClassSchema,
      sameAsPred: String = "sameAs", maxRounds: Int = 8): DataFrame = {
    // an input without declared sameAs skips the initial clique pass
    // entirely (the common case — aliases usually arrive DERIVED, from
    // the functional rules, not declared)
    // counted(): the materialize job doubles as the row count — one
    // scheduler job, not two (see Materialize.probed)
    var (cur, n) = graft.Materialize.counted(
      if (triples.filter(col("p") === sameAsPred).isEmpty)
        triples.select("s", "p", "o").distinct()
      else sameAsCanonical(triples, sameAsPred))
    var round = 0
    while (true) {
      require(round < maxRounds,
        s"OWL class entailment did not converge in $maxRounds rounds — " +
          "the ontology's rule-dependency depth exceeds the bound")
      // materialize the expansion ONCE: the merge probe, the
      // canonicalization's data side AND its pair derivation all read
      // it — lazily it would be recomputed up to three times per round
      val (expanded, nExp) = graft.Materialize.counted(
        expandClassRules(cur, cs))
      // counted(), not a limit(1) probe: the probe had to run the full
      // group-by anyway, so the same job now MATERIALIZES the pairs —
      // the merge round's clique engine and rewrite joins read blocks
      // instead of re-running the aggregate
      val (pairs, nPairs) = graft.Materialize.counted(
        functionalPairs(expanded, cs))
      val merged = nPairs > 0L
      val (next, n2) =
        if (merged) graft.Materialize.counted(canonicalizeBy(expanded, pairs))
        else (expanded, nExp)
      graft.Materialize.release(cur)
      graft.Materialize.release(pairs)
      if (merged) graft.Materialize.release(expanded)
      // expansion includes identity, so without a merge cur ⊆ next and
      // count equality IS set equality; a merge round is never final
      if (!merged && n2 == n) return next
      cur = next; n = n2; round += 1
    }
    cur // unreachable
  }

  /** Close every predicate in `transitive` over itself (owl rule rdfp4)
    * and mirror every declared inverse/symmetric emission (rdfp8/rdfp3)
    * — inverses and symmetry first, so a transitive predicate is closed
    * over its full (declared + mirrored) edge set. Returns the input
    * plus the entailed triples, one distinct. */
  def entail(triples: DataFrame, transitive: Seq[String] = Nil,
      inverses: Seq[(String, String)] = Nil,
      symmetric: Seq[String] = Nil): DataFrame = {
    val t = triples.select("s", "p", "o")
    val mirrored = inverses.flatMap { case (p0, q0) => Seq(
        t.filter(col("p") === p0).select(col("o").as("s"),
          lit(q0).as("p"), col("s").as("o")),
        t.filter(col("p") === q0).select(col("o").as("s"),
          lit(p0).as("p"), col("s").as("o")))
      } ++ symmetric.map(p0 =>
        t.filter(col("p") === p0).select(col("o").as("s"), col("p"),
          col("s").as("o")))
    val base = (t +: mirrored).reduce(_.unionByName(_))
    val closed = transitive.map { p0 =>
      Paths.transitiveClosure(base.filter(col("p") === p0)
          .select(col("s").as("src"), col("o").as("dst")))
        .select(col("src").as("s"), lit(p0).as("p"), col("dst").as("o"))
    }
    (base +: closed).reduce(_.unionByName(_)).distinct()
  }
}
