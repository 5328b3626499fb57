package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RDF datasets: quads (s,p,o,g) — the default graph plus named graphs.
  * SPARQL GRAPH blocks solve over them in [[Sparql]]'s evaluator.
  *
  * The reference is single-graph (d-sparq's MongoDB store has no dataset
  * axis), so this is a capability extension, not reference parity: it
  * makes the SPARQL front-end's `GRAPH ?g { ... }` / `GRAPH <iri> { ... }`
  * clauses executable over a 4-column quads frame.
  *
  * Conventions (documented, oracle-checked):
  *  - the default graph is `g = ""` ([[Quads.DefaultGraph]]); patterns
  *    OUTSIDE any GRAPH clause match only the default graph (the SPARQL
  *    dataset rule, not the union of all graphs);
  *  - `GRAPH ?g` ranges over NAMED graphs only (`g != ""`), binding `?g`
  *    per solution; `GRAPH <iri>` filters to that one graph.
  *
  * Scale: a constant graph is a pushdown filter on `g` (partition-prune
  * when the store is written `partitionBy("g")`); a graph variable adds
  * `g` as one more join column — same equi-join machinery, no new shuffle
  * shape.
  */
object Quads {

  val DefaultGraph = ""

  /** The canonical quads table: the triples corpus with customer triples
    * in named graph `g:customer`, order triples in `g:orders`, and the
    * nation/region triples in the default graph. */
  def build(spark: SparkSession, sfDir: String): DataFrame =
    Triples.build(spark, sfDir).withColumn("g",
      when(col("s").startsWith("c:"), lit("g:customer"))
        .when(col("s").startsWith("o:"), lit("g:orders"))
        .otherwise(lit(DefaultGraph)))

  /** DuckDB rendering of [[build]] as a CTE body over the triples CTE. */
  val duckCte: String =
    """SELECT s, p, o,
      |  CASE WHEN s LIKE 'c:%' THEN 'g:customer'
      |       WHEN s LIKE 'o:%' THEN 'g:orders'
      |       ELSE '' END AS g
      |FROM triples""".stripMargin
}
