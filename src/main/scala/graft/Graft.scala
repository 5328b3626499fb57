package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** RDF triple — the typed row at API boundaries (`Dataset[Triple]`);
  * internally everything stays `DataFrame` so Catalyst optimizes freely. */
case class Triple(s: String, p: String, o: String)

/** The library façade: what a d-sparq user imports to switch engines.
  *
  * {{{
  * import graft.Graft
  * val t  = Graft.triples(spark, "/data/sf0.01")         // or triplesFromNTriples
  * val rs = Graft.sparql(t,
  *   """SELECT ?c ?n WHERE { ?c <name> ?n . ?c <mktsegment> "BUILDING" . }""")
  * Graft.saveBucketed(t, "triples_bucketed")             // shuffle-free stars
  * val dups = Graft.nearDuplicates(docs, threshold = 0.8)
  * val hits = Graft.cosineTopK(embeddings, probeId = 42, k = 10)
  * }}}
  *
  * Each method is a thin delegate; the modules stay independently usable.
  */
object Graft {

  // ---- data in ----
  def triples(spark: SparkSession, sfDir: String): DataFrame =
    rdf.Triples.build(spark, sfDir)
  def triplesFromNTriples(spark: SparkSession, path: String): DataFrame =
    rdf.NTriples.read(spark, path)
  /** (s,p,o,g) quads from N-Quads files; feeds [[sparqlQuads]]. */
  def quadsFromNQuads(spark: SparkSession, path: String): DataFrame =
    rdf.NQuads.read(spark, path)
  def typedTriples(df: DataFrame): Dataset[Triple] = {
    import df.sparkSession.implicits._
    df.select("s", "p", "o").as[Triple]
  }

  // ---- dictionary ----
  def dictionary(spark: SparkSession, t: DataFrame): DataFrame =
    rdf.Dictionary.build(spark, t)
  def encode(t: DataFrame, dict: DataFrame): DataFrame = rdf.Dictionary.encode(t, dict)
  def decode(e: DataFrame, dict: DataFrame): DataFrame = rdf.Dictionary.decode(e, dict)

  // ---- query ----
  def sparql(t: DataFrame, text: String): DataFrame = rdf.Sparql.run(t, text)
  /** SPARQL text over the dictionary-encoded id-store (the reference's
    * execution model): joins run over longs, bindings decode at emission. */
  def sparqlEncoded(enc: DataFrame, dict: DataFrame, text: String): DataFrame =
    rdf.Sparql.runEncoded(enc, dict, text)
  /** SPARQL with GRAPH clauses over an (s,p,o,g) quad dataset. */
  def sparqlQuads(quads: DataFrame, text: String): DataFrame =
    rdf.Sparql.runQuads(quads, text)
  def bgp(t: DataFrame, patterns: Seq[rdf.TP]): DataFrame =
    rdf.Bgp.solve(t, patterns)
  /** One-shuffle-per-star plan — only sound when (subject, predicate) is
    * single-valued; see [[rdf.Bgp.solveStarCollapsed]]. */
  def bgpStarCollapsed(t: DataFrame, patterns: Seq[rdf.TP]): DataFrame =
    rdf.Bgp.solveStarCollapsed(t, patterns)

  // ---- storage ----
  def saveBucketed(t: DataFrame, table: String, buckets: Int = 32): Unit =
    rdf.TripleStore.saveBucketed(t, table, buckets)
  def saveVerticalPartitioned(t: DataFrame, path: String): Unit =
    rdf.TripleStore.saveVerticalPartitioned(t, path)

  /** Quads from TriG documents (Turtle + graph blocks). */
  def quadsFromTrig(spark: SparkSession, path: String): DataFrame =
    rdf.Trig.read(spark, path)
  /** SPARQL with SERVICE federation: the endpoints map names other
    * registered datasets the query may join set-at-a-time. */
  def sparqlFederated(t: DataFrame, text: String,
      endpoints: Map[String, DataFrame]): DataFrame =
    rdf.Sparql.run(t, text, endpoints = endpoints)
  /** SPARQL over the dictionary-encoded QUADS store (GRAPH in id space). */
  def sparqlQuadsEncoded(encQuads: DataFrame, dict: DataFrame,
      text: String): DataFrame =
    rdf.Sparql.runQuadsEncoded(encQuads, dict, text)
  /** BGP solving over the S2RDF-style semi-join-reduction store. */
  def bgpExtVp(store: rdf.ExtVp.Store, patterns: Seq[rdf.TP]): DataFrame =
    rdf.ExtVp.solve(store, patterns)

  // ---- LLM-pipeline ----
  def deduplicateExact(docs: DataFrame): DataFrame = llm.Dedup.exact(docs)
  def nearDuplicates(docs: DataFrame, threshold: Double): DataFrame =
    llm.Dedup.minHashPairs(docs, threshold)
  /** SemDeDup survivors: k-means-cluster-confined cosine dedup. */
  def semanticDeduplicate(assigned: DataFrame, centroids: DataFrame,
      eps: Double): DataFrame =
    llm.SemDedup.removeSemanticDuplicates(assigned, centroids, eps)
  /** The Gopher/MassiveWeb quality-rule verdicts + measurements. */
  def gopherRules(docs: DataFrame): DataFrame = llm.TextOps.gopherRules(docs)
  /** BM25 ⊕ vector retrieval fused by reciprocal-rank fusion. */
  def hybridSearch(docs: DataFrame, vectors: DataFrame, query: Seq[String],
      probeId: Long, k: Int): DataFrame =
    llm.Retrieval.hybridRrf(docs, vectors, query, probeId, k)
  def cosineTopK(vectors: DataFrame, probeId: Long, k: Int): DataFrame =
    llm.EmbeddingOps.cosineTopK(vectors, probeId, k)
  def annTopK(vectors: DataFrame, probeId: Long, k: Int): DataFrame =
    llm.EmbeddingOps.annTopK(vectors, probeId, k)
  def qualityScores(docs: DataFrame): DataFrame = llm.TextOps.qualityScored(docs)
  def letterEntropy(docs: DataFrame): DataFrame = llm.TextOps.letterEntropy(docs)
  /** PQ ANN: ingest-time build ([[llm.PqIndex.build]]) + compressed-domain
    * ADC search with exact rerank. */
  def pqTopK(vectors: DataFrame, probeId: Long, k: Int): DataFrame =
    llm.PqIndex.search(llm.PqIndex.build(vectors), vectors, probeId, k)

  /** C4 cleaning battery (Raffel et al. 2020 §2.2): line keeps + page
    * verdicts + cleaned text in one map-only scan. */
  def c4Rules(docs: DataFrame): DataFrame = llm.TextOps.c4Rules(docs)

  /** Weighted epoch upsampling (per-mille weights per stratum value). */
  def upsample(docs: DataFrame, stratum: Column,
      weightsPerMille: Map[String, Int],
      defaultPerMille: Int = 1000): DataFrame =
    llm.Corpus.upsample(docs, stratum, weightsPerMille, defaultPerMille)

  /** The composed pretraining pipeline: quality gate → exact dedup →
    * decontamination → stratified sample, one Catalyst plan. */
  def corpusPipeline(docs: DataFrame, isBench: Column, grams: Column,
      ratesPerMille: Map[String, Int], defaultPerMille: Int): DataFrame =
    llm.Corpus.pipeline(docs, isBench, grams, ratesPerMille, defaultPerMille)

  /** Per-stratum mergeable HLL sketch table; see [[operators.Sketches]]
    * for union-estimates and incremental maintenance. */
  def hllSketches(df: DataFrame, stratum: Column, value: Column): DataFrame =
    operators.Sketches.hllSketches(df, stratum, value)

  /** Per-stratum MinHash+HLL pair table → pairwise distinct-intersection
    * estimates from summaries alone ([[operators.Sketches]]). */
  def setSketches(df: DataFrame, stratum: Column, value: Column): DataFrame =
    operators.Sketches.setSketches(df, stratum, value)

  /** W3C SPARQL results serializations of a solution frame
    * ([[rdf.SparqlResults]]): CSV/TSV per sparql11-results-csv-tsv,
    * results-json bindings — the endpoint wire formats, distributed. */
  def resultsCsv(df: DataFrame): DataFrame = rdf.SparqlResults.toCsvRows(df)
  def resultsTsv(df: DataFrame): DataFrame = rdf.SparqlResults.toTsvRows(df)
  def resultsJson(df: DataFrame): Dataset[String] =
    rdf.SparqlResults.toJsonBindings(df)

  /** Sync the dictionary-encoded mirror of a quad store and query it in
    * id space ([[rdf.EncodedMirror]]). */
  def mirrorSync(spark: SparkSession, storeRoot: String,
      mirrorRoot: String): Int =
    rdf.EncodedMirror.sync(spark, storeRoot, mirrorRoot)
  def mirrorQuery(spark: SparkSession, mirrorRoot: String,
      text: String): DataFrame =
    rdf.EncodedMirror.query(spark, mirrorRoot, text)
  /** The ID-SPACE maintained view over a mirror ([[rdf.EncodedView]]):
    * create/sync run entirely on 8-byte ids, decode only at emission. */
  def encodedViewCreate(spark: SparkSession, mirrorRoot: String,
      viewRoot: String, patterns: Seq[rdf.TP],
      graph: String = ""): Int =
    rdf.EncodedView.create(spark, mirrorRoot, viewRoot, patterns, graph)
  def encodedViewSync(spark: SparkSession, mirrorRoot: String,
      viewRoot: String): Int =
    rdf.EncodedView.sync(spark, mirrorRoot, viewRoot)
  def encodedViewRead(spark: SparkSession, mirrorRoot: String,
      viewRoot: String): DataFrame =
    rdf.EncodedView.readDecoded(spark, mirrorRoot, viewRoot)

  // ---- versioned quad store + SPARQL Protocol surface ----
  /** Bootstrap a delta-log [[rdf.QuadStore]] from an (s,p,o,g) frame. */
  def storeInit(quads: DataFrame, root: String): Int =
    rdf.QuadStore.init(quads, root)
  /** SPARQL 1.1 Update request — atomic: one committed version. */
  def storeUpdate(spark: SparkSession, root: String, text: String): Int =
    rdf.QuadStore.update(spark, root, text)
  /** SPARQL over the store head (see [[rdf.QuadStore.queryVersion]] for
    * pinned time-travel reads). */
  def storeQuery(spark: SparkSession, root: String, text: String): DataFrame =
    rdf.QuadStore.query(spark, root, text)
  /** The network-free SPARQL Protocol operation: content-negotiated
    * (media type, document) for a query, incl. the W3C result formats
    * and the `default-graph-uri`/`named-graph-uri` request dataset. */
  def protocolQuery(spark: SparkSession, root: String, text: String,
      accept: String = "",
      defaultGraphUris: Seq[String] = Nil,
      namedGraphUris: Seq[String] = Nil): (String, String) =
    rdf.Endpoint.query(spark, root, text, accept,
      defaultGraphUris = defaultGraphUris, namedGraphUris = namedGraphUris)
  /** Serve the store over REAL HTTP on loopback: the SPARQL 1.1
    * Protocol (query + update) and the Graph Store Protocol, JDK
    * httpserver transport over [[rdf.Endpoint]]'s protocol logic.
    * `port = 0` binds an ephemeral port; stop with `.stop()`. */
  def serveHttp(spark: SparkSession, root: String,
      port: Int = 0): rdf.HttpEndpoint.Server =
    rdf.HttpEndpoint.serve(spark, root, port)
  /** TRUE live federation: SERVICE bodies execute on remote HTTP
    * endpoints (IRI → base URL) and their solution documents join
    * set-at-a-time — one round-trip per SERVICE block. */
  def sparqlHttpFederated(t: DataFrame, text: String,
      urls: Map[String, String]): DataFrame =
    rdf.Sparql.runHttpFederated(t, text, urls)

  // ---- persisted materialized views (binding + summary) ----
  /** Materialize the maintained view a SPARQL text defines — a BGP, with
    * FILTERs, GRAPH blocks or one OPTIONAL, a UNION of BGPs, or one
    * `?s (path)+ ?o` ([[rdf.ViewStore.classify]]) — over a store;
    * incremental thereafter via [[viewSync]]. */
  def viewCreate(spark: SparkSession, storeRoot: String, viewRoot: String,
      text: String, graph: String = ""): Int =
    rdf.ViewStore.createFromSparql(spark, storeRoot, viewRoot, text, graph)
  def viewSync(spark: SparkSession, storeRoot: String,
      viewRoot: String): Int =
    rdf.ViewStore.sync(spark, storeRoot, viewRoot)
  def viewRead(spark: SparkSession, viewRoot: String): DataFrame =
    rdf.ViewStore.read(spark, viewRoot)
  /** Materialize a grouped-COUNT summary pipeline (store → view →
    * summary) from one SPARQL text; advance with [[viewSync]] +
    * [[summarySync]], serve with [[summaryRead]] — the summary never
    * refolds the binding view. */
  def summaryCreate(spark: SparkSession, storeRoot: String,
      viewRoot: String, aggRoot: String, text: String,
      graph: String = ""): Int =
    rdf.ViewStore.createAggFromSparql(spark, storeRoot, viewRoot, aggRoot,
      text, graph)
  def summarySync(spark: SparkSession, viewRoot: String,
      aggRoot: String): Int =
    rdf.ViewStore.syncAgg(spark, viewRoot, aggRoot)
  def summaryRead(spark: SparkSession, aggRoot: String): DataFrame =
    rdf.ViewStore.readAgg(spark, aggRoot)
  /** Time-travel reads: the view / summary exactly as it stood at a
    * pinned synced version (loud outside the retention window). */
  def viewReadAt(spark: SparkSession, viewRoot: String, v: Int): DataFrame =
    rdf.ViewStore.readAt(spark, viewRoot, v)
  def summaryReadAt(spark: SparkSession, aggRoot: String,
      v: Int): DataFrame =
    rdf.ViewStore.readAggAt(spark, aggRoot, v)
  /** Answer a conjunctive SPARQL query from the registered views —
    * covered legs read the materialized views, only the residual scans
    * the store; stale views are loud errors ([[rdf.ViewAnswer]]). */
  def viewAnswer(spark: SparkSession, storeRoot: String,
      viewRoots: Seq[String], text: String,
      graph: String = ""): DataFrame =
    rdf.ViewAnswer.answerSparql(spark, storeRoot, viewRoots, text, graph)
  /** Catalog-discovered answering: registered views are FILTERED to
    * the usable ones (conjunctive, same graph, synced to the store
    * head) — lagging or cross-graph registrations never break a query
    * ([[rdf.ViewCatalog]]). */
  def catalogAnswer(spark: SparkSession, storeRoot: String,
      catalogRoot: String, text: String, graph: String = ""): DataFrame =
    rdf.ViewCatalog.answer(spark, storeRoot, catalogRoot, text, graph)
  /** Answer a grouped COUNT/SUM query from the persisted summary alone
    * (isomorphism-matched, staleness-gated — the dashboard read). */
  def summaryAnswer(spark: SparkSession, storeRoot: String,
      viewRoot: String, aggRoot: String, text: String,
      graph: String = ""): DataFrame =
    rdf.ViewAnswer.answerAggSparql(spark, storeRoot, viewRoot, aggRoot,
      text, graph)

  // ---- ExtVP (S2RDF semi-join reductions) ----
  def extVpBuild(t: DataFrame, threshold: Double = 0.9): rdf.ExtVp.Store =
    rdf.ExtVp.build(t, threshold)
  /** Advance an ExtVP store from a net (adds, dels) triple feed — the
    * semi-join delta rule; never a rebuild. */
  def extVpMaintain(store: rdf.ExtVp.Store, adds: DataFrame,
      dels: DataFrame): rdf.ExtVp.Store =
    rdf.ExtVp.maintain(store, adds, dels)

  // ---- entailment (RDFS ρdf + OWL-Horst) ----
  /** Materialize the RDFS entailment (rdfs2/3/5/7/9/11) of a triple
    * frame under a KB-sized schema — one map-side scan + distinct. */
  def rdfsEntail(t: DataFrame, schema: rdf.Rdfs.Schema): DataFrame =
    rdf.Rdfs.entail(t, schema)
  /** Rewrite subjects/objects onto their owl:sameAs clique minimum,
    * consuming the sameAs triples. */
  def sameAsCanonical(t: DataFrame, sameAsPred: String = "sameAs"): DataFrame =
    rdf.Owl.sameAsCanonical(t, sameAsPred)
  /** OWL-Horst property rules: per-predicate transitive closure,
    * declared inverses, symmetric mirrors. */
  def owlEntail(t: DataFrame, transitive: Seq[String] = Nil,
      inverses: Seq[(String, String)] = Nil,
      symmetric: Seq[String] = Nil): DataFrame =
    rdf.Owl.entail(t, transitive, inverses, symmetric)
  /** OWL-Horst CLASS rules to fixpoint: equivalence cliques,
    * (inverse-)functional→sameAs feedback, hasValue, someValuesFrom. */
  def owlClassEntail(t: DataFrame, cs: rdf.Owl.ClassSchema): DataFrame =
    rdf.Owl.entailClass(t, cs)

  // ---- multimodal ----
  /** REAL image decode (JDK javax.imageio, per-partition): exact
    * geometry + per-channel pixel sums per payload. */
  def decodeImages(media: Dataset[llm.Multimodal.Media])
      : Dataset[llm.Multimodal.ImageFeatures] =
    llm.Multimodal.decodeImage(media)
  /** Media → fixed-dim embedding (per-partition encoder batches),
    * directly joinable to the vector stack. */
  def embedMedia(media: Dataset[llm.Multimodal.Media], dim: Int = 16): DataFrame =
    llm.Multimodal.embedMedia(media, dim)

  // ---- persisted MinHash-LSH index (appendable, compacting) ----
  def lshIndexBuild(docs: DataFrame, root: String): Unit =
    llm.LshIndex.build(docs, root)
  /** Index an arriving batch as a new immutable segment (existing
    * signatures never recompute). */
  def lshIndexAppend(docs: DataFrame, root: String): Int =
    llm.LshIndex.append(docs, root)
  /** Near-dup candidates of a probe batch against the whole index. */
  def lshIndexProbe(spark: SparkSession, root: String, probes: DataFrame,
      minEst: Double): DataFrame =
    llm.LshIndex.probe(spark, root, probes, minEst)
  /** Retract documents (takedown/recrawl) as a signed tombstone
    * segment — the batch carries the docs' text, like
    * [[llm.InvertedIndex.remove]]; candidates stop at the next probe. */
  def lshIndexRemove(docs: DataFrame, root: String): Int =
    llm.LshIndex.remove(docs, root)
  /** Fold-to-base retention: probe plans stay bounded across thousands
    * of ingest batches. */
  def lshIndexCompact(spark: SparkSession, root: String): Int =
    llm.LshIndex.compact(spark, root)
  /** Retract vectors from a persisted IVF index as a signed tombstone
    * segment (pass the vectors as indexed — same ids and embeddings). */
  def ivfIndexRemove(vectors: DataFrame, root: String): Int =
    llm.IvfIndex.remove(vectors, root)
  /** Retract vectors from a persisted IVF+PQ index (signed tombstones,
    * re-encoded at the immutable model). */
  def ivfPqIndexRemove(vectors: DataFrame, root: String): Int =
    llm.IvfPq.remove(vectors, root)
  /** Retract vectors from a persisted PQ index (signed tombstones). */
  def pqIndexRemove(vectors: DataFrame, root: String): Int =
    llm.PqIndex.remove(vectors, root)

  // ---- span-level dedup / decontamination ----
  /** Corpus-wide exact line dedup (C4/Dolma): first occurrence wins,
    * lines under `minLen` chars exempt, texts rebuilt from survivors. */
  def dedupLines(docs: DataFrame, minLen: Int = 10): DataFrame =
    llm.Dedup.dedupLines(docs, minLen)
  /** Per-document duplicated-span statistics; `hashSpans` shuffles
    * 8-byte xxhash64 keys instead of span text (the 100 TB path). */
  def spanDupStats(docs: DataFrame, k: Int = 8,
      hashSpans: Boolean = false): DataFrame =
    llm.Dedup.spanDupStats(docs, k, hashSpans)
  /** ExactSubstr-style cross-document span removal. */
  def removeDuplicatedSpans(docs: DataFrame, k: Int = 8,
      hashSpans: Boolean = false): DataFrame =
    llm.Dedup.removeDupSpans(docs, k, hashSpans)
  /** Span-level benchmark decontamination (surgical, not whole-doc). */
  def removeBenchmarkSpans(docs: DataFrame, bench: DataFrame, k: Int = 8,
      hashSpans: Boolean = false): DataFrame =
    llm.Dedup.removeBenchmarkSpans(docs, bench, k, hashSpans)

  // ---- round-8 continuation surface ------------------------------------

  /** Serialize term-string triples to N-Triples lines (`value` column) —
    * the wire form the protocol endpoints emit. */
  def renderNTriples(t: DataFrame): DataFrame = rdf.NTriples.renderTerms(t)
  /** Parse N-Triples lines (`value` column) back to (s, p, o). */
  def parseNTriples(lines: DataFrame): DataFrame = rdf.NTriples.parse(lines)

  /** REAL WAV/PCM decode: exact sample statistics via the hand-rolled
    * RIFF chunk walker (no codec library). */
  def decodeAudio(media: Dataset[llm.Multimodal.Media])
      : Dataset[llm.Multimodal.AudioFeatures] = llm.Multimodal.decodeWav(media)

  /** REAL per-frame video decode over the length-prefixed keyframe
    * container (each frame a PNG, imageio-decoded in the closure). */
  def decodeVideo(media: Dataset[llm.Multimodal.Media])
      : Dataset[llm.Multimodal.FrameFeatures] = llm.Multimodal.decodeVideo(media)

  /** URL parse + canonical key over a frame with a `url` column. */
  def canonicalizeUrls(u: DataFrame): DataFrame = llm.UrlOps.canonicalized(u)
  /** Recrawl dedup on the canonical URL key (keeper = min doc_id). */
  def deduplicateByUrl(u: DataFrame): DataFrame =
    llm.UrlOps.dedupByCanonical(llm.UrlOps.canonicalized(u))

  /** EXACT cosine radius pairs — the LSH radius path's recall baseline. */
  def cosineRange(vectors: DataFrame, threshold: Double): DataFrame =
    llm.EmbeddingOps.cosineRange(vectors, threshold)

  /** k-core of a SYMMETRIC undirected edge frame, peeled to fixpoint. */
  def kcore(edges: DataFrame, k: Int): DataFrame = rdf.GraphOps.kcore(edges, k)

  /** Two-step conversion funnel (entry → target within window). */
  def funnel(df: DataFrame, keyCol: String, tsCol: String, typeCol: String,
      fromType: String, toType: String, windowUnits: Long): DataFrame =
    operators.TimeSeries.funnel(df, keyCol, tsCol, typeCol, fromType,
      toType, windowUnits)
  /** Float-free trailing-window z-score outlier flags. */
  def rollingAnomaly(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valCol: String, n: Int): DataFrame =
    operators.TimeSeries.rollingAnomaly(df, keyCol, tsCol, idCol, valCol, n)

  /** Source-fair round-robin training order: (rank, source) curriculum. */
  def interleaveSources(docs: DataFrame): DataFrame =
    llm.Corpus.interleaveSources(docs)

  /** First-arrival dedup per (user, type) — streaming-ingest batch dual. */
  def firstEventPerKey(ev: DataFrame): DataFrame =
    streaming.StreamOps.firstEventPerKey(ev)
  /** CDC last-writer-wins materialization with tombstone deletes. */
  def cdcMaterialize(ev: DataFrame): DataFrame =
    streaming.StreamOps.cdcMaterialize(ev)
}
