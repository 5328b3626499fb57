package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A catalog of registered materialized-view roots — the DISCOVERY
  * layer above [[ViewAnswer]]. The answering calls are deliberately
  * STRICT (a stale or cross-graph view passed explicitly is a loud
  * error); the catalog is where policy lives: [[answer]] FILTERS the
  * registry down to the views usable for THIS query — conjunctive
  * mode, same graph, synced to the store head — and hands exactly
  * those through, so registering views over other graphs, or letting
  * one lag a sync behind, never breaks unrelated queries. A query no
  * registered view can serve still answers (plain solve fallback
  * inside [[ViewAnswer.answer]]).
  *
  * The registry is one small base64-armored TSV, rewritten whole on
  * each (rare, administrative) registration — deliberately NOT a
  * segment log: it is driver-scale metadata, and last-writer-wins on
  * an admin race is acceptable where silent view staleness is not.
  */
object ViewCatalog {

  import MetaCodec.{b64, unb64}

  private def file(root: String) = s"$root/catalog.tsv"

  /** Registered view roots, registration order, deduplicated. */
  def roots(catalogRoot: String): Seq[String] =
    try graft.sources.AtomicStore.readString(file(catalogRoot))
      .split("\n").toSeq.filter(_.nonEmpty).map(unb64).distinct
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Add a view root (idempotent). The view must already exist — a
    * typo'd root would otherwise poison every later [[answer]]. */
  def register(catalogRoot: String, viewRoot: String): Unit = {
    // loud if there is no string-space view here (a typo'd root, a
    // summary, an id-space view)
    ViewStore.definitionOf(viewRoot): Unit
    val now = (roots(catalogRoot) :+ viewRoot).distinct
    graft.sources.AtomicStore.writeString(file(catalogRoot),
      now.map(b64).mkString("\n"))
  }

  def deregister(catalogRoot: String, viewRoot: String): Unit =
    graft.sources.AtomicStore.writeString(file(catalogRoot),
      roots(catalogRoot).filterNot(_ == viewRoot).map(b64).mkString("\n"))

  /** The registered views usable for a query over `graph` right now:
    * conjunctive mode, defined over the same graph, synced to the
    * store's current version. */
  def usable(spark: SparkSession, storeRoot: String, catalogRoot: String,
      graph: String = ""): Seq[String] = {
    val cur = QuadStore.currentVersion(storeRoot).getOrElse(
      throw new IllegalArgumentException(s"no store under $storeRoot"))
    roots(catalogRoot).filter { r =>
      ViewStore.definitionOf(r) match {
        case ViewStore.Definition(_, g, _: ViewStore.TripleBgp) =>
          g == graph && ViewStore.lastSynced(r) == cur
        case _ => false
      }
    }
  }

  /** Answer a conjunctive SPARQL query from whatever registered views
    * are usable — see [[ViewAnswer.answerSparql]] for the fragment. */
  def answer(spark: SparkSession, storeRoot: String, catalogRoot: String,
      text: String, graph: String = ""): DataFrame =
    ViewAnswer.answerSparql(spark, storeRoot,
      usable(spark, storeRoot, catalogRoot, graph), text, graph)

  // ---- aggregate-summary routing ------------------------------------

  private def aggFile(root: String) = s"$root/catalog_agg.tsv"

  /** Registered (binding view, summary) pairs, registration order. */
  def aggPairs(catalogRoot: String): Seq[(String, String)] =
    try graft.sources.AtomicStore.readString(aggFile(catalogRoot))
      .split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val Array(v, a) = line.split("\t")
        (unb64(v), unb64(a))
      }.distinct
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Register a maintained summary with its binding view (idempotent);
    * both must already exist. */
  def registerAgg(catalogRoot: String, viewRoot: String,
      aggRoot: String): Unit = {
    ViewStore.definitionOf(viewRoot): Unit
    ViewStore.definitionAgg(aggRoot): Unit // loud if not a summary
    val now = (aggPairs(catalogRoot) :+ ((viewRoot, aggRoot))).distinct
    graft.sources.AtomicStore.writeString(aggFile(catalogRoot),
      now.map { case (v, a) => s"${b64(v)}\t${b64(a)}" }.mkString("\n"))
  }

  def deregisterAgg(catalogRoot: String, viewRoot: String,
      aggRoot: String): Unit =
    graft.sources.AtomicStore.writeString(aggFile(catalogRoot),
      aggPairs(catalogRoot).filterNot(_ == ((viewRoot, aggRoot)))
        .map { case (v, a) => s"${b64(v)}\t${b64(a)}" }.mkString("\n"))

  /** Route a grouped COUNT/SUM/MIN/MAX/AVG query to the first registered
    * summary that can serve it — same policy shape as [[answer]]: the
    * strict checks live in [[ViewAnswer.answerAggSparql]] (isomorphic
    * BGP, aligned groups and measures, double staleness gate), and the
    * catalog tries each usable pair, skipping the ones whose strictness
    * trips. A query no summary serves falls back to a recompute over
    * the store head, so registration mistakes degrade to performance,
    * never to wrong or refused answers.
    *
    * Representation contract: queries inside the maintainable fragment
    * get the summary layer's NUMERIC measure semantics on BOTH routes —
    * SUM/MIN/MAX are exact longs over [[ViewStore.longMeasure]]'s
    * loud-cast integers, AVG one double division — so whether a
    * registered summary happens to serve a query changes latency only,
    * never values or column types. (Plain [[Sparql.run]] would order
    * MIN/MAX lexicographically over the string bindings — right for the
    * general engine, wrong to let routing pick between the two.) Only a
    * query OUTSIDE the fragment — one no summary could ever serve —
    * runs the general engine. */
  def answerAgg(spark: SparkSession, storeRoot: String,
      catalogRoot: String, text: String, graph: String = ""): DataFrame = {
    import org.apache.spark.sql.functions._
    val parsed =
      try Some(ViewStore.aggPatternsFromSparql(text))
      catch { case _: IllegalArgumentException => None }
    val parsedFallback = parsed.map {
      case (pats, groupVars, countCol, sums, exts) => () => {
        // the recompute mirrors ViewStore.readAgg's representation
        // exactly: solve the BGP over the head, then the same integer
        // measures the summary would have persisted
        val sol = ViewAnswer.answerStored(spark, storeRoot, Nil, pats, graph)
        val aggs = count(lit(1)).as(countCol) +:
          (sums.map { case (a, v) =>
            sum(ViewStore.longMeasure(v)).as(a)
          } ++ exts.map {
            case (a, v, "min") => min(ViewStore.longMeasure(v)).as(a)
            case (a, v, "max") => max(ViewStore.longMeasure(v)).as(a)
            case (a, v, _) => // avg: exact integer sum, one IEEE division
              (sum(ViewStore.longMeasure(v)).cast("double") /
                count(lit(1)).cast("double")).as(a)
          })
        sol.groupBy(groupVars.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    }
    val fallback = parsedFallback.getOrElse(() => {
      val cur = QuadStore.currentVersion(storeRoot).getOrElse(
        throw new IllegalArgumentException(s"no store under $storeRoot"))
      Sparql.run(QuadStore.readVersion(spark, storeRoot, cur)
        .filter(col("g") === graph)
        .select("s", "p", "o"), text)
    })
    if (parsed.isEmpty) return fallback()
    aggPairs(catalogRoot).view.flatMap { case (v, a) =>
      try Some(ViewAnswer.answerAggSparql(spark, storeRoot, v, a, text,
        graph))
      catch { case _: IllegalArgumentException => None }
    }.headOption.getOrElse(fallback())
  }
}
