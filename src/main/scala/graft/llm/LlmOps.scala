package graft.llm

import graft.QueryModule
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Query surface for the LLM-data-pipeline operators (BASELINE.json north
  * star): dedup ladder, similarity search, text analysis, multimodal
  * plumbing. Approximate / sketch-based queries have no SQL oracle (the
  * driver records rows-only); each is instead verified against exact brute
  * force in ScalaTest (see DedupSpec / EmbeddingSpec).
  *
  * Thresholds are tuned to this synthetic corpus: the driver's documents
  * table contains planted near-duplicates at word-shingle Jaccard ≳ 0.6
  * (background pairs sit at ≈ 0.01), while embeddings contain NO planted
  * near-dups (max cosine ≈ 0.51), so the cosine-pair threshold 0.4 exists
  * to exercise the path end-to-end.
  */
object LlmOps extends QueryModule {

  val queries: Map[String, Q] = Map(
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // Representative selection: which copy of a duplicate group SURVIVES.
    // The corpus has no natural exact dupes, so both engines derive the
    // same mirrored slice (doc_id < 50 re-tagged source "src7", the
    // top-preference source) — the mirror then WINS its group whenever
    // the original's source ranks lower, proving selection follows the
    // preference order and not arrival/id order.
    "q_dedup_keepbest" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val mirror = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("source", lit("src7"))
      Dedup.exactKeepBest(docs.unionByName(mirror), Seq("src7", "src3"))
        .orderBy(col("doc_id"))
    }),

    // Continuous-ingestion dedup: docs arriving after the snapshot
    // boundary (doc_id >= 250) dedup against the already-ingested corpus
    // by content digest, then within their own batch.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalExact(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250))
        .orderBy(col("doc_id"))
    }),

    // Same ingestion semantics through the Bloom-prefiltered path: the
    // snapshot collapses to a compact filter and only bloom-positive rows
    // reach the exact confirm join. Result is bitwise-identical to
    // q_dedup_incremental (the confirm is exact), so this APPROXIMATE
    // acceleration structure is fully ORACLED, not just spec-tested.
    "q_dedup_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // minSeenForBloom = 0 FORCES the filter path: at test scale the
      // auto-switch would (correctly — see the crossover scaladoc) pick
      // the plain anti join, and the point of this key is to oracle the
      // bloom machinery itself
      Dedup.incrementalExactBloom(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          expectedSeen = 1 << 14, minSeenForBloom = 0)
        .orderBy(col("doc_id"))
    }),

    // the bucket-partitioned bloom variant (executor-built per-bucket
    // filters, shuffle-joined probe) must ALSO reproduce the incremental
    // relation exactly — the beyond-10^9-seen scale path, oracled at test
    // scale
    "q_dedup_bloom_part" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalExactBloomPartitioned(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          expectedSeen = 1 << 14, buckets = 8)
        .orderBy(col("doc_id"))
    }),

    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minHashPairs(Tables.documents(s, d), 0.6)
        .orderBy(col("doc_a"), col("doc_b"))),

    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simHashPairs(Tables.documents(s, d), 6)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Exact Jaccard on the same word-3-shingle sets MinHash approximates:
    // 3-grams are the sparsest feature space this corpus offers (2-grams /
    // char-grams all come from a ~40-word vocabulary and have no rare
    // features, which defeats ANY exact similarity join).
    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), TextOps.wordShingles(3), 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Full near-dup removal: pairs → connected components → keep each
    // cluster's min doc_id (transitive closure, not just pairwise drops).
    "q_dedup_cluster" -> ((s, d) =>
      Dedup.removeNearDuplicates(Tables.documents(s, d), 0.6)
        .select(col("doc_id")).orderBy(col("doc_id"))),

    // substring-level: spans shared across documents (boilerplate), which
    // whole-doc near-dup scoring can't see — exact, hence oracled
    "q_dedup_span" -> ((s, d) =>
      Dedup.spanDupStats(Tables.documents(s, d), k = 8)
        .orderBy(col("doc_id"))),

    // ...and the acted-on form: excise every word covered by a span that
    // also lives in a lower-doc_id document (ExactSubstr-style removal,
    // canonical doc keeps its text) — exact, hence oracled
    "q_dedup_span_removal" -> ((s, d) =>
      Dedup.removeDupSpans(Tables.documents(s, d), k = 8)
        .orderBy(col("doc_id"))),

    // the PRODUCTION span-dedup path in the gate: xxhash64(span) 8-byte
    // shuffle keys instead of span text (~10x shuffle-byte drop at k=8).
    // hashed ≡ text on collision-free corpora (DedupSpec pins it), so
    // the SAME text-keyed DuckDB oracle as q_dedup_span checks it —
    // the gate itself proves the hash introduces no divergence here
    "q_dedup_span_hashed" -> ((s, d) =>
      Dedup.spanDupStats(Tables.documents(s, d), k = 8, hashSpans = true)
        .orderBy(col("doc_id"))),

    // corpus-wide exact LINE dedup (round-10) — the C4/Dolma cleaning
    // step between per-doc filters and span-level ExactSubstr: a line
    // survives only at its first (doc_id, idx) occurrence, short lines
    // exempt, texts rebuilt from survivors. The single-line fixture
    // gains line structure IN-PLAN (10-word lines, chr(10)-joined),
    // identically derived in the oracle; the corpus's exact-dup docs
    // make every one of their lines a real cross-doc duplicate.
    "q_dedup_lines" -> ((s, d) => {
      val structured = Tables.documents(s, d).select(col("doc_id"),
        // bind the split ONCE (outer single-element transform) — a
        // slice(split(text), …) per line index re-splits the whole text
        // per line (quadratic per doc; see TextOps.wordShingles)
        expr("array_join(flatten(transform(array(split(text, ' ')), ws -> " +
          "transform(sequence(0, (size(ws) - 1) div 10), " +
          "i -> array_join(slice(ws, i * 10 + 1, 10), ' ')" +
          "))), chr(10))").as("text"))
      Dedup.dedupLines(structured).orderBy(col("doc_id"))
    }),

    // the persisted, APPENDABLE MinHash-LSH index: build on the odd
    // half of the corpus, append the even half as a second immutable
    // segment (existing signatures never recompute), RETRACT a takedown
    // slice as a signed tombstone segment (round-10: its docs stop
    // seeding candidates with no rebuild), COMPACT to one base
    // (fold-to-base retention — probe plans stay bounded across
    // thousands of ingest batches, and the signs fold away), then probe
    // with a doc slice — banded-bucket candidates, signature-estimated
    // jaccard. Approximate (minhash estimator) → declared no-oracle;
    // LshIndexSpec pins recall against brute force, the estimator's
    // accuracy, probe-identity across compaction, and removal ≡ rebuild.
    "q_dedup_lsh_index" -> ((s, d) => {
      val root = graft.sources.AtomicStore.root("lshidx", d, "rm")
      val docs = Tables.documents(s, d)
      if (LshIndex.segmentCount(root) == 0) {
        LshIndex.build(docs.filter(pmod(col("doc_id"), lit(2)) === 1), root)
        LshIndex.append(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          root): Unit
        LshIndex.remove(docs.filter(pmod(col("doc_id"), lit(16)) === 3),
          root): Unit
      }
      LshIndex.compactIfDeep(s, root, maxSegments = 1)
      LshIndex.probe(s, root, docs.filter(col("doc_id") < 60), minEst = 0.5)
        .orderBy(col("q_id"), col("corpus_id"))
    }),

    "q_dedup_embcos" -> ((s, d) =>
      EmbeddingOps.cosineNearDupPairs(Tables.embeddings(s, d), 0.4)
        .orderBy(col("vec_a"), col("vec_b"))),

    // SemDeDup: k-means clusters (the SHARED persisted IVF model) confine
    // the quadratic pair search; within a near-dup pair the member farther
    // from its centroid survives. Declared no-oracle (k-means clustering
    // is not SQL-expressible); SemDedupSpec proves the keep-rule invariants
    // against a brute-force pass.
    "q_dedup_semantic" -> ((s, d) =>
      SemDedup.forEmbeddings(s, d, k = 16, eps = 0.4)
        .select(col("vec_id"), col("list_id")).orderBy(col("vec_id"))),

    "q_sim_cosine_topk" -> ((s, d) =>
      EmbeddingOps.cosineTopK(Tables.embeddings(s, d), probeId = 0L, k = 10)),

    // exact radius search over a bounded evaluation block (vec_id <
    // 2000): the oracled baseline whose pair set the LSH radius path
    // (q_dedup_embcos) recalls against. The block cap keeps the
    // deliberately-quadratic baseline's bench cost flat across SFs —
    // production radius queries run the LSH path and sample this one.
    "q_sim_range" -> ((s, d) =>
      EmbeddingOps.cosineRange(
        Tables.embeddings(s, d).filter(col("vec_id") < 2000), 0.4)
        .orderBy(col("a_id"), col("b_id"))),

    // searches the PREBUILT persisted LSH index (built once per dataset by
    // EmbeddingOps.indexForEmbeddings, partitioned by (tbl, bkt)); the
    // corpus hyperplane pass is ingest-time work and never charges a query
    "q_sim_ann_topk" -> ((s, d) =>
      EmbeddingOps.annTopKPersisted(s, d, probeId = 0L, k = 10)),

    // searches the PREBUILT index (built+persisted once per dataset by
    // IvfIndex.forEmbeddings); the k-means fit is ingest-time work and
    // never charges a query
    "q_sim_ivf_topk" -> ((s, d) => {
      IvfIndex.search(IvfIndex.forEmbeddings(s, d, k = 16),
        probeId = 0L, k = 10, nProbe = 4)
    }),

    // the APPENDABLE IVF lifecycle in the gate: the quantizer fits on
    // the first half of the corpus only, the other two quarters arrive
    // as append segments assigned to the EXISTING centroids (no k-means
    // re-fit — the continuous-ingest path a rebuild-only index lacks),
    // a REMOVAL batch retracts an eighth of the corpus as a signed
    // tombstone segment (round-10: the takedown path), compaction folds
    // the signs away, and the search probes the result. Approximate
    // (k-means pruning) → declared no-oracle; IvfSpec proves
    // create+append+remove ≡ one-shot encode of the surviving vectors at
    // the fixed model, row- and probe-identically, through compaction.
    "q_sim_ivf_append" -> ((s, d) => {
      val root = graft.sources.AtomicStore.root("ivfapp", d, "rm")
      val vecs = Tables.embeddings(s, d)
      if (IvfIndex.segmentCount(root) == 0) {
        IvfIndex.create(vecs.filter(pmod(col("vec_id"), lit(4)) < 2),
          root, k = 16)
        IvfIndex.append(vecs.filter(pmod(col("vec_id"), lit(4)) === 2),
          root): Unit
        IvfIndex.append(vecs.filter(pmod(col("vec_id"), lit(4)) === 3),
          root): Unit
        IvfIndex.remove(vecs.filter(pmod(col("vec_id"), lit(8)) === 7),
          root): Unit
      }
      IvfIndex.compactIfDeep(s, root, maxSegments = 1)
      IvfIndex.search(IvfIndex.readIndex(s, root),
        probeId = 0L, k = 10, nProbe = 4)
    }),

    // product quantization: the ADC scan reads only the 16-codes-per-vector
    // table (~4× narrower here, ~16× with byte codes at production dims),
    // reranks the top-50 candidates by exact cosine; the per-subspace
    // k-means fits + encoding are ingest-time work published once by
    // PqIndex.forEmbeddings
    "q_sim_pq_topk" -> ((s, d) =>
      PqIndex.search(PqIndex.forEmbeddings(s, d), Tables.embeddings(s, d),
        probeId = 0L, k = 10, rerank = 50)),

    // IVF+PQ composition (the production vector-store architecture): the
    // coarse quantizer prunes to nProbe list_id partitions, the PQ codes
    // inside them scan in the compressed domain, exact rerank recovers
    // true similarities — ~1000× scan reduction vs brute force at 10^9
    "q_sim_ivfpq_topk" -> ((s, d) =>
      IvfPq.search(IvfPq.forEmbeddings(s, d), Tables.embeddings(s, d),
        probeId = 0L, k = 10, nProbe = 4, rerank = 50)),

    // the APPENDABLE composed IVF+PQ lifecycle (the production vector
    // store's ingest path): both quantizers fit on the first half, two
    // append batches encode + assign at the FIXED model, a removal
    // batch retracts an eighth as signed tombstones (round-10),
    // compaction folds, the search partition-prunes the result.
    // Declared no-oracle; IvfPqSpec proves row- and probe-identity vs
    // the one-shot encode of the surviving vectors through compaction,
    // with pruning asserted on the compacted base.
    "q_sim_ivfpq_append" -> ((s, d) => {
      val root = graft.sources.AtomicStore.root("ivfpqapp", d, "rm")
      val vecs = Tables.embeddings(s, d)
      if (IvfPq.segmentCount(root) == 0) {
        IvfPq.create(vecs.filter(pmod(col("vec_id"), lit(4)) < 2),
          root, k = 16)
        IvfPq.append(vecs.filter(pmod(col("vec_id"), lit(4)) === 2),
          root): Unit
        IvfPq.append(vecs.filter(pmod(col("vec_id"), lit(4)) === 3),
          root): Unit
        IvfPq.remove(vecs.filter(pmod(col("vec_id"), lit(8)) === 7),
          root): Unit
      }
      IvfPq.compactIfDeep(s, root, maxSegments = 1)
      IvfPq.search(IvfPq.readIndex(s, root), vecs,
        probeId = 0L, k = 10, nProbe = 4, rerank = 50)
    }),

    "q_text_tokens" -> ((s, d) =>
      TextOps.termFrequencies(Tables.documents(s, d))
        .orderBy(col("n").desc, col("tok")).limit(50)),

    // LLM token-cost proxy: whitespace tokens vs BPE-style pre-tokens.
    "q_text_tokens_bpe" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(TextOps.bpeishTokens).cast("long").as("bpe_tokens"))
        .orderBy(col("doc_id"))),

    // URL hygiene for web corpora (see UrlOps): parse + canonicalize are
    // map-only codegen string expressions over an in-plan deterministic
    // URL (the oracle derives the identical string)
    "q_text_url" -> ((s, d) =>
      UrlOps.canonicalized(UrlOps.withUrls(Tables.documents(s, d)))
        .select(col("doc_id"), col("url"), col("host"), col("domain"),
          col("path_depth"), col("canonical"))
        .orderBy(col("doc_id"))),

    // recrawl dedup on the canonical URL key: every consecutive doc-id
    // pair folds to one canonical, so the groups are real at every SF
    "q_dedup_url" -> ((s, d) =>
      UrlOps.dedupByCanonical(
        UrlOps.canonicalized(UrlOps.withUrls(Tables.documents(s, d))))
        .orderBy(col("canonical"))),

    "q_text_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("source"))),

    "q_text_quality" -> ((s, d) =>
      TextOps.qualityScored(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tok"), col("n_stop"),
          graft.Det.roundSafe(col("avg_wlen"), 4).as("avg_wlen"),
          graft.Det.roundSafe(col("stop_ratio"), 4).as("stop_ratio"), col("quality"))
        .orderBy(col("doc_id"))),

    // Learned-BPE training on the word-frequency table (one corpus pass,
    // then vocabulary-sized merge rounds). Declared no-oracle (the
    // iterative argmax is not SQL-expressible); BpeSpec proves the merge
    // sequence equals a naive single-node reference implementation.
    "q_text_bpe_train" -> ((s, d) =>
      Bpe.mergeTable(Tables.documents(s, d), numMerges = 20)
        .orderBy(col("rank"))),

    // Flesch-style readability in integer micro-units: words by space
    // split, syllables by the vowel-group proxy (one regexp_count), the
    // score from the classic constants entirely in integer arithmetic so
    // 1000-executor combine orders and DuckDB agree bit-for-bit. A
    // map-only codegen scan like every text-quality feature.
    "q_text_readability" -> ((s, d) => {
      val words = size(split(col("text"), " ")).cast("long")
      val syll = regexp_count(col("text"), lit("[aeiouy]+")).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), words.as("n_words"), syll.as("n_syll"))
        .withColumn("fk_micro",
          expr("206835000L - 1015000L * n_words" +
            " - (84600L * ((1000000L * n_syll) div n_words)) div 1000L"))
        .orderBy(col("doc_id"))
    }),

    "q_text_gopher" -> ((s, d) =>
      TextOps.gopherRules(Tables.documents(s, d))
        .select(col("doc_id"), col("n_words"), col("mean_wlen"),
          col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
          col("alpha_frac"), col("n_stop_kinds"), col("gopher_pass"))
        .orderBy(col("doc_id"))),

    // C4 cleaning battery (Raffel et al. 2020 §2.2): line-level keep rules
    // + page-level verdicts in one map-only scan, cleaned text emitted.
    "q_text_c4" -> ((s, d) =>
      TextOps.c4Rules(Tables.documents(s, d))
        .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
          col("clean_text"), col("n_sentences"), col("has_lorem"),
          col("has_brace"), col("has_blockword"), col("c4_pass"))
        .orderBy(col("doc_id"))),

    "q_text_entropy" -> ((s, d) =>
      TextOps.letterEntropy(Tables.documents(s, d))
        .select(col("doc_id"), col("n_letters"), col("entropy_bits"))
        .orderBy(col("doc_id"))),

    "q_text_langid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // profiles are a MODEL: train on a bounded deterministic sample
      // (1 in 4 docs) — at corpus scale you never profile-train on the
      // full data, and topK=40 trigram ranks are stable under sampling
      val train = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      TextOps.predictLanguage(docs, TextOps.languageProfiles(train))
        .select(col("doc_id"), col("lang"), col("pred"),
          (col("lang") === col("pred")).as("correct"))
        .orderBy(col("doc_id"))
    }),

    "q_text_fingerprint" -> ((s, d) =>
      TextOps.fingerprints(Tables.documents(s, d))
        .select(col("doc_id"), size(col("fp")).as("fp_count"),
          array_min(col("fp")).as("fp_min"))
        .orderBy(col("doc_id"))),

    // Rare-token ratio against the corpus vocabulary (df < 3): the
    // vocab-based noise filter; two aggregates, exact integer counts.
    "q_text_oov" -> ((s, d) =>
      Corpus.rareTokenStats(Tables.documents(s, d), minDf = 3)
        .orderBy(col("doc_id"))),

    // BM25 lexical retrieval: postings pre-filtered to the query's terms
    // (the shuffle carries a sliver of the corpus, not the corpus), df/idf
    // in a ≤4-row broadcast, Det-rounded scores, total-order top-k.
    "q_text_bm25" -> ((s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d),
        Seq("hash", "join", "vector", "spark"), k = 20)),

    // BM25 over the PERSISTED incrementally-maintained inverted index
    // (InvertedIndex): built with real CHURN — two-thirds created, the
    // last third added, a synthetic junk batch added then RETRACTED
    // (sign-cancelling segments), compacted to one net base — and the
    // query reads only the narrow doc-length artifact plus its terms'
    // postings buckets (partition-pruned), never the corpus text. The
    // net index state equals the plain corpus, so this lands BITWISE on
    // q_text_bm25's oracle.
    "q_text_bm25_indexed" -> ((s, d) => {
      val root = graft.sources.AtomicStore.root("invidx", d)
      val docs = Tables.documents(s, d)
      if (InvertedIndex.segmentCount(root) == 0) {
        // deterministic junk batch: re-derivable, so the remove segment
        // cancels the add exactly
        val junk = docs.filter(col("doc_id") < 32)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("junk spark hash vector "), col("text")).as("text"))
        InvertedIndex.create(docs.filter(pmod(col("doc_id"), lit(3)) < 2),
          root)
        InvertedIndex.add(docs.filter(pmod(col("doc_id"), lit(3)) === 2),
          root): Unit
        InvertedIndex.add(junk, root): Unit
        InvertedIndex.remove(junk, root): Unit
      }
      InvertedIndex.compactIfDeep(s, root, maxSegments = 1)
      InvertedIndex.bm25TopK(s, root,
        Seq("hash", "join", "vector", "spark"), k = 20)
    }),

    // RRF fusion of the BM25 ranking with a query-by-example vector
    // ranking — the production RAG retrieval shape, fully oracled (both
    // rankings and the fusion are deterministic rank arithmetic).
    "q_retrieval_hybrid" -> ((s, d) =>
      Retrieval.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
        Seq("hash", "join", "vector", "spark"), probeId = 0L, k = 20)),

    // TF-IDF (doc, term) weights over a fixed vocabulary — same postings
    // machinery, per-cell weights instead of a per-doc score.
    "q_text_tfidf" -> ((s, d) =>
      Retrieval.tfidf(Tables.documents(s, d),
        Seq("hash", "join", "vector", "spark"))
        .orderBy(col("doc_id"), col("tok"))),

    // the same vectors served from the PERSISTED inverted index (the
    // q_text_bm25_indexed churned artifact — created/added/retracted/
    // compacted, net state == the corpus): identical arithmetic, so it
    // lands on q_text_tfidf's oracle bitwise while reading only the
    // query vocabulary's postings buckets
    "q_text_tfidf_indexed" -> ((s, d) => {
      val root = graft.sources.AtomicStore.root("invidx", d)
      val docs = Tables.documents(s, d)
      if (InvertedIndex.segmentCount(root) == 0) {
        val junk = docs.filter(col("doc_id") < 32)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("junk spark hash vector "), col("text")).as("text"))
        InvertedIndex.create(docs.filter(pmod(col("doc_id"), lit(3)) < 2),
          root)
        InvertedIndex.add(docs.filter(pmod(col("doc_id"), lit(3)) === 2),
          root): Unit
        InvertedIndex.add(junk, root): Unit
        InvertedIndex.remove(junk, root): Unit
      }
      InvertedIndex.compactIfDeep(s, root, maxSegments = 1)
      InvertedIndex.tfidf(s, root, Seq("hash", "join", "vector", "spark"))
        .orderBy(col("doc_id"), col("tok"))
    }),

    // bigram-LM mean conditional probability per doc (integer micro-units,
    // [[TextOps.bigramLmScore]]) — the classic pre-neural perplexity proxy
    "q_text_bigram_lm" -> ((s, d) =>
      TextOps.bigramLmScore(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // a LEARNED quality filter the gate can oracle bitwise: integer
    // batch-perceptron training (order-free integer updates, fixed
    // rounds) on a fixed vocabulary, labels derived from the text in
    // both engines; the oracle replays the SAME five rounds as an
    // unrolled SQL chain. Output = the trained weight vector.
    "q_text_classifier" -> ((s, d) =>
      Perceptron.train(Tables.documents(s, d),
          Seq("spark", "hash", "join", "vector"),
          when(array_contains(split(col("text"), " "), "spark"), 1L)
            .otherwise(-1L),
          rounds = 5)
        .orderBy(col("feature"))),

    // CCNet-style reference-LM filtering: the model fits on the trusted
    // src0 slice only, every document scores against IT (penalized
    // unigram backoff for unseen bigrams), and the keep flag thresholds
    // the mean micro-probability — unlike q_text_bigram_lm's self-trained
    // score, spam can't teach the model to like spam.
    "q_text_lm_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.refLmFilter(docs, docs.filter(col("source") === "src0"),
          keepAboveMicro = 30000L)
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing — regexp_replace chain for emails / SSNs / phones /
    // IPv4s, a standard training-data sanitization pass. This corpus has
    // no natural PII, so the query derives a deterministic contact line
    // from real columns (same derivation in the oracle) to give the
    // patterns real matches; the raw `text` column is scrubbed too.
    "q_text_pii" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val contact = concat(
        substring(col("text"), 1, 40),
        lit(" reach user"), id, lit("@mail.example.com or 555-010-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" ssn 123-45-6789 from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.scrubPii(contact).as("scrubbed"),
          TextOps.scrubPii(col("text")).as("text_clean"))
        .orderBy(col("doc_id"))
    }),

    // Repetition signals (Gopher-style): duplicate-word and duplicate-
    // bigram fractions per document — the cheap boilerplate/spam filters
    // that length and stopword ratios miss.
    "q_text_repetition" -> ((s, d) =>
      TextOps.repetitionStats(Tables.documents(s, d))
        .select(col("doc_id"), col("n_words"),
          col("dup_word_frac"), col("dup_bigram_frac"))
        .orderBy(col("doc_id"))),

    // Benchmark decontamination: docs sharing any word 3-shingle with the
    // pseudo-benchmark slice (doc_id % 97 == 0 — tiny, like a real eval
    // set) are flagged. Exact, and the benchmark gram set broadcasts.
    "q_decontaminate" -> ((s, d) =>
      Corpus.decontaminate(Tables.documents(s, d),
          isBench = pmod(col("doc_id"), lit(97)) === 0,
          grams = TextOps.wordShingles(3))
        .orderBy(col("doc_id"))),

    // ...and the span-level scrub: words covered by any 5-gram occurring
    // in the benchmark slice are EXCISED from the training docs (whole-
    // doc dropping is too blunt when only a quoted line leaked); the
    // benchmark span set broadcasts. Exact, hence oracled.
    "q_decontaminate_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.removeBenchmarkSpans(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), k = 5)
        .orderBy(col("doc_id"))
    }),

    // ...and the MEASUREMENT that precedes either scrub: per benchmark
    // document, how many of its 5-gram spans leaked into the training
    // slice and the leaked fraction — the eval-integrity report read
    // before choosing drop vs excise vs accept. Bench spans broadcast;
    // the corpus never self-joins. Exact, hence oracled.
    "q_decontaminate_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminationReport(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), k = 5)
        .orderBy(col("doc_id"))
    }),

    // Deterministic stratified sampling: per-lang keep rates driven by a
    // pure-arithmetic id bucket — reproducible, shuffle-free, oracle-exact.
    "q_sample_stratified" -> ((s, d) =>
      Corpus.sampleStratified(Tables.documents(s, d), col("lang"),
          ratesPerMille = Map("en" -> 300), defaultPerMille = 150)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))),

    // The WHOLE corpus pipeline composed into one plan: gate → exact
    // dedup → decontaminate → stratified sample, each stage the oracled
    // operator — the flagship "switch your pipeline to this library"
    // query.
    "q_corpus_pipeline" -> ((s, d) =>
      Corpus.pipeline(Tables.documents(s, d),
          isBench = pmod(col("doc_id"), lit(97)) === 0,
          grams = TextOps.wordShingles(3),
          ratesPerMille = Map("en" -> 600), defaultPerMille = 400)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("quality"),
          col("bucket"))
        .orderBy(col("doc_id"))),

    // Overlapping 120-char chunks with 20-char overlap (stride 100) —
    // the RAG/context-window splitter, one map-side explode.
    "q_text_chunks" -> ((s, d) =>
      Corpus.chunkText(Tables.documents(s, d), size = 120, overlap = 20)
        .orderBy(col("doc_id"), col("chunk_no"))),

    // Token-budget mixing: 3000 whitespace tokens per language, filled in
    // deterministic doc_id order (the "N tokens per domain" mix spec).
    "q_corpus_budget" -> ((s, d) =>
      Corpus.sampleTokenBudget(Tables.documents(s, d), col("lang"),
          tokens = size(split(col("text"), " ")), budgetPerStratum = 3000L)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("cum_tok"))
        .orderBy(col("doc_id"))),

    // Concatenate-then-chunk sequence packing into ctx=256 windows across
    // 8 independent shards (whitespace tokens as the cost proxy).
    "q_pack_sequences" -> ((s, d) =>
      Corpus.packSequences(Tables.documents(s, d),
          tokens = size(split(col("text"), " ")), ctx = 256, shards = 8)
        .orderBy(col("doc_id"))),

    // Weighted epoch upsampling (the pretraining mixture primitive):
    // src0 runs 2.5 epochs, src1 0.3, everything else exactly 1 —
    // fractional epochs realized by the deterministic id bucket, one
    // map-side explode, zero shuffles.
    "q_corpus_upsample" -> ((s, d) =>
      Corpus.upsample(Tables.documents(s, d), col("source"),
          weightsPerMille = Map("src0" -> 2500, "src1" -> 300))
        .select(col("doc_id"), col("source"), col("n_epochs"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),

    // Deterministic training-order shuffle into 16 shards (the step
    // between filtering and packing): hash-sharded, no global sort
    "q_corpus_shuffle" -> ((s, d) =>
      Corpus.shuffleIntoShards(Tables.documents(s, d), shards = 16)
        .orderBy(col("doc_id"))),

    // JSONL ingest round-trip: the corpus exported once per dataset as
    // JSON Lines (the interchange staple of LLM data pipelines,
    // AtomicStore-published), then read back by Spark's DISTRIBUTED
    // JSON reader under an EXPLICIT schema — no inference pass, so
    // ingest is one scan — proving write→parse is the identity on the
    // corpus against the plain parquet oracle.
    "q_ingest_jsonl" -> ((s, d) => {
      val base = graft.sources.AtomicStore.root("docs_jsonl", d)
      val path = graft.sources.AtomicStore.materialize(base) { tmp =>
        Tables.documents(s, d).write.json(tmp)
      }
      s.read.schema(
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .json(s"$path/part-*")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Source-fair round-robin curriculum: training order = (rank within
    // source, source), so consecutive positions cycle sources — the
    // fairness a hash shuffle gives only in expectation
    "q_corpus_interleave" -> ((s, d) =>
      Corpus.interleaveSources(Tables.documents(s, d))
        .orderBy(col("rank"), col("source"))),

    // The C4/Gopher rule stack as ONE scan: quality + repetition +
    // length + language rules fused into a single projection and filter.
    "q_corpus_filter" -> ((s, d) =>
      Corpus.qualityGate(Tables.documents(s, d), minQuality = 0.7,
          maxDupWordFrac = 0.6, minTokens = 20,
          langs = Seq("en", "de", "fr", "es"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("quality"), col("dup_word_frac"))
        .orderBy(col("doc_id"))),

    // Domain-level filtering: a SOURCE whose mean quality is below the
    // bar drops wholesale (RefinedWeb-style), regardless of individual
    // documents — the per-source mean is decimal-exact so the threshold
    // compare is partition-order-independent.
    "q_corpus_sourcefilter" -> ((s, d) =>
      Corpus.filterBySourceQuality(Tables.documents(s, d), col("source"),
          minMeanQuality = 0.79)
        .select(col("doc_id"), col("source"), col("quality"))
        .orderBy(col("doc_id"))),

    // Language-mix rebalancing: every lang downsampled toward the rarest
    // lang's size, survivors picked by the deterministic id bucket.
    "q_corpus_mix" -> ((s, d) =>
      Corpus.rebalanceToMin(Tables.documents(s, d), col("lang"))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))),

    "q_multimodal_join" -> ((s, d) =>
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d),
          col("doc_id") === col("vec_id") && col("label") < 5)
        .select(col("doc_id"), col("lang"), col("source"), col("label"))
        .orderBy(col("doc_id"))),

    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.describe(s, Tables.documents(s, d)).orderBy(col("doc_id"))),

    // REAL image decode: deterministic PNGs generated in-plan (geometry
    // and colors are pure functions of doc_id), decoded by the JDK's
    // javax.imageio inside the per-partition closure. The oracle states
    // the decoded features arithmetically — PNG is lossless, so exact
    // geometry AND exact channel sums (red is an x-gradient: wrong pixel
    // addressing mismatches even at a correct total) prove the decode.
    "q_multimodal_image" -> ((s, d) =>
      Multimodal.decodeImage(
          Multimodal.encodePng(Tables.documents(s, d)))
        .toDF().orderBy(col("doc_id"))),

    // the LOSSY real-world format through the same imageio closure:
    // JPEG round-trip oracled on GEOMETRY only (pixels aren't hashable
    // across lossy codecs — MultimodalSpec bounds the color error and
    // pins a corrupt-JPEG loud failure)
    "q_multimodal_jpeg" -> ((s, d) =>
      Multimodal.decodeImage(
          Multimodal.encodeJpeg(Tables.documents(s, d)))
        .select(col("doc_id"), col("width"), col("height"))
        .orderBy(col("doc_id"))),

    // REAL audio decode: 16-bit PCM mono WAV generated in-plan, parsed
    // back by a hand-rolled RIFF chunk walker (PCM needs no codec lib).
    // The oracle restates sample count, duration and exact amplitude
    // statistics arithmetically — raw PCM must land exactly there.
    "q_multimodal_audio" -> ((s, d) =>
      Multimodal.decodeWav(
          Multimodal.encodeWav(Tables.documents(s, d)))
        .toDF().orderBy(col("doc_id"))),

    // REAL video decode: a length-prefixed container of PNG keyframes
    // (bounded: doc_id < 100 → 300 frames), each frame imageio-decoded
    // in the executor closure, one row per frame — the oracle restates
    // per-frame geometry and channel sums (green/blue step per frame)
    "q_multimodal_video" -> ((s, d) =>
      Multimodal.decodeVideo(
          Multimodal.encodeVideo(
            Tables.documents(s, d).filter(col("doc_id") < 100)))
        .toDF().orderBy(col("doc_id"), col("frame_no"))),

    // Video-frame-subsample shape: payload → fixed-size frames → keep every
    // 3rd. Oracled on the frame geometry (number, stride, byte length) —
    // the part an engine owns regardless of codec.
    "q_multimodal_framesample" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.withPayload(Tables.documents(s, d).filter(col("doc_id") < 100)),
          stride = 3)
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          length(col("frame")).as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_no"))),

    // Sample → resize, the full frame pipeline: the byte-decimation stand-in
    // (codec STUB, Multimodal.resizeFrames scaladoc) is oracled on the
    // output geometry — resized length = ceil(frame/factor) — which a real
    // resampler must also satisfy; bytes never route through the driver
    "q_multimodal_resize" -> ((s, d) =>
      Multimodal.resizeFrames(
          Multimodal.sampleFrames(
            Multimodal.withPayload(Tables.documents(s, d).filter(col("doc_id") < 100)),
            stride = 3),
          factor = 4)
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          length(col("frame")).as("resized_bytes"))
        .orderBy(col("doc_id"), col("frame_no")))
  )

  /** Shared by `q_dedup_span` (text keys) and `q_dedup_span_hashed`
    * (xxhash64 keys): both must land on the identical statistics. */
  private val spanStatsOracle: String = {
    val frac = graft.Det.roundSafeSql(
      "CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sp AS (SELECT DISTINCT doc_id, array_to_string(ws[i : i + 7], ' ') AS sp
       |       FROM (SELECT doc_id, ws,
       |               unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
       |             FROM w) t),
       |nd AS (SELECT sp, count(*) AS ndocs FROM sp GROUP BY sp)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  $frac AS dup_frac
       |FROM sp JOIN nd USING (sp)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // the BM25 formula spelled in DuckDB SQL — identical IEEE evaluation
  // order, Det decimal-exact per-doc sum, same tie-break. Shared by the
  // recompute key (q_text_bm25) and the persisted-index key
  // (q_text_bm25_indexed), whose net state is the same corpus.
  private val bm25OracleSql: String = {
    val score = graft.Det.roundSafeSql(graft.Det.dsumSql("w", 6), 6)
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), lens AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents
       |), consts AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM lens
       |), post AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM toks
       |  WHERE tok IN ('hash', 'join', 'vector', 'spark')
       |  GROUP BY doc_id, tok
       |), dfs AS (
       |  SELECT tok, count(*) AS df FROM post GROUP BY tok
       |), w AS (
       |  SELECT p.doc_id,
       |         ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * p.tf /
       |           (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / c.avgdl)) AS w
       |  FROM post p JOIN dfs d USING (tok) JOIN lens l USING (doc_id),
       |       consts c
       |)
       |SELECT doc_id, $score AS score FROM w GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // TF-IDF spelled in DuckDB SQL — shared by the recompute key and the
  // persisted-index key (whose churned net state is the same corpus)
  private val tfidfOracleSql: String = {
    val wt = graft.Det.roundSafeSql(
      "p.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df)", 6)
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), post AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM toks
       |  WHERE tok IN ('hash', 'join', 'vector', 'spark')
       |  GROUP BY doc_id, tok
       |), dfs AS (
       |  SELECT tok, count(*) AS df FROM post GROUP BY tok
       |), n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT p.doc_id, p.tok, p.tf, d.df, $wt AS tfidf
       |FROM post p JOIN dfs d USING (tok), n
       |ORDER BY doc_id, tok""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    // same mirrored-slice derivation; the survivor is row_number() = 1
    // under the (source preference, doc_id) total order
    "q_dedup_keepbest" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, 'src7' FROM documents
        |  WHERE doc_id < 50),
        |ranked AS (
        |  SELECT doc_id, source, text,
        |    CASE source WHEN 'src7' THEN 0 WHEN 'src3' THEN 1
        |      ELSE 2 END AS r
        |  FROM all_docs)
        |SELECT doc_id, source, n_copies FROM (
        |  SELECT doc_id, source,
        |    CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS n_copies,
        |    row_number() OVER (PARTITION BY text ORDER BY r, doc_id) AS rn
        |  FROM ranked) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents n
        |WHERE doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id < 250 AND s.text = n.text)
        |GROUP BY text ORDER BY doc_id""".stripMargin,

    // the bloom path must produce exactly the incremental-dedup relation
    "q_dedup_bloom" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents n
        |WHERE doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id < 250 AND s.text = n.text)
        |GROUP BY text ORDER BY doc_id""".stripMargin,

    // ... and so must its bucket-partitioned variant
    "q_dedup_bloom_part" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents n
        |WHERE doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id < 250 AND s.text = n.text)
        |GROUP BY text ORDER BY doc_id""".stripMargin,

    "q_sim_cosine_topk" ->
      """WITH probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
        |sims AS (
        |  SELECT e.vec_id, e.label,
        |    floor((
        |      list_aggregate(list_transform(list_zip(e.embedding, p.pe),
        |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
        |      / (sqrt(list_aggregate(list_transform(e.embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |         * sqrt(list_aggregate(list_transform(p.pe,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))) * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM embeddings e CROSS JOIN probe p
        |  WHERE e.vec_id <> 0)
        |SELECT vec_id, label, sim FROM sims
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_sim_range" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        |  FROM embeddings WHERE vec_id < 2000),
        |s AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    floor((
        |      list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
        |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
        |      / (a.nrm * b.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, sim FROM s WHERE sim >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    // identical BM25 and cosine derivations to their standalone oracles,
    // ranked with the same (score desc, id) total order, fused with the
    // fixed two-term coalesce addition — deterministic across engines
    "q_retrieval_hybrid" -> {
      val score = graft.Det.roundSafeSql(graft.Det.dsumSql("w", 6), 6)
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), lens AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |  FROM documents
         |), consts AS (
         |  SELECT count(*) AS n_docs,
         |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM lens
         |), post AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM toks
         |  WHERE tok IN ('hash', 'join', 'vector', 'spark')
         |  GROUP BY doc_id, tok
         |), dfs AS (
         |  SELECT tok, count(*) AS df FROM post GROUP BY tok
         |), w AS (
         |  SELECT p.doc_id,
         |         ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * p.tf /
         |           (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / c.avgdl)) AS w
         |  FROM post p JOIN dfs d USING (tok) JOIN lens l USING (doc_id),
         |       consts c
         |), lexpool AS (
         |  SELECT doc_id, $score AS score FROM w GROUP BY doc_id
         |  ORDER BY score DESC, doc_id LIMIT 100
         |), lex AS (
         |  SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
         |  FROM lexpool
         |), probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
         |sims AS (
         |  SELECT e.vec_id, floor((
         |      list_aggregate(list_transform(list_zip(e.embedding, p.pe),
         |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
         |      / (sqrt(list_aggregate(list_transform(e.embedding,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
         |         * sqrt(list_aggregate(list_transform(p.pe,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM embeddings e CROSS JOIN probe p
         |  WHERE e.vec_id <> 0
         |), vecpool AS (
         |  SELECT vec_id FROM sims ORDER BY sim DESC, vec_id LIMIT 100
         |), vec AS (
         |  SELECT s.vec_id AS doc_id, CAST(row_number() OVER
         |    (ORDER BY s.sim DESC, s.vec_id) AS BIGINT) AS vec_rank
         |  FROM sims s JOIN vecpool v ON s.vec_id = v.vec_id
         |), fused AS (
         |  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         |    lex.lex_rank AS lex_rank, vec.vec_rank AS vec_rank,
         |    ${graft.Det.roundSafeSql(
              "COALESCE(1.0 / (60 + lex.lex_rank), 0.0) + " +
                "COALESCE(1.0 / (60 + vec.vec_rank), 0.0)", 6)} AS rrf
         |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
         |)
         |SELECT doc_id, lex_rank, vec_rank, rrf FROM fused
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
    },

    // q_dedup_ngram is EXACT (prefix filtering is a complete candidate
    // generator; the spec proves it loses no pairs) — so unlike the
    // LSH-gated minhash/simhash/embcos paths it CAN be oracled: DuckDB
    // recomputes brute-force word-3-shingle jaccard from scratch.
    "q_dedup_ngram" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i : i + 2], ' ') AS g
        |      FROM (SELECT doc_id, ws,
        |              unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        |            FROM w)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, (1.0 * i) / (sa.sz + sb.sz - i) AS jac
        |      FROM inter
        |      JOIN sizes sa ON sa.doc_id = doc_a
        |      JOIN sizes sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, (floor(jac * 10000.0 + 0.5) / 10000.0) AS jaccard
        |FROM j WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    // distinct 8-word sliding spans per doc (same ws[i : i+k-1] slice
    // equivalence as the 3-shingle oracle above), then corpus-wide span
    // document frequency, then per-doc dup-span stats
    "q_dedup_span" -> spanStatsOracle,
    // the hashed production path lands on the SAME text-keyed oracle:
    // the gate itself proves xxhash64 span keys introduce no divergence
    "q_dedup_span_hashed" -> spanStatsOracle,

    // the same 10-word-line derivation, owner election (tuple-min over
    // (doc_id, lidx) — a struct min, NOT a doc_id*1e6+lidx composite,
    // which would silently diverge on a document with ≥1e6 lines),
    // short-line exemption and ordered rebuild in DuckDB
    "q_dedup_lines" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents),
        |ls AS (SELECT doc_id, i AS lidx,
        |         array_to_string(w[i*10+1 : i*10+10], ' ') AS line
        |       FROM (SELECT doc_id, w,
        |               unnest(generate_series(0, (len(w)-1)//10)) AS i
        |             FROM ws)),
        |own AS (SELECT line, min(row(doc_id, lidx)) AS k
        |        FROM ls WHERE length(line) >= 10 GROUP BY line),
        |kept AS (SELECT ls.doc_id, ls.lidx, ls.line
        |         FROM ls LEFT JOIN own USING (line)
        |         WHERE own.k IS NULL OR row(ls.doc_id, ls.lidx) = own.k),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM ls GROUP BY doc_id),
        |reb AS (SELECT doc_id, count(*) AS n_kept_lines,
        |          string_agg(line, chr(10) ORDER BY lidx) AS text
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.text, '') AS text,
        |  t.n_lines, CAST(coalesce(r.n_kept_lines, 0) AS BIGINT) AS n_kept_lines
        |FROM tot t LEFT JOIN reb r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_decontaminate_report" -> {
      val frac = graft.Det.roundSafeSql(
        "CAST(coalesce(max(l.n_leaked), 0) AS DOUBLE) / count(*)", 4)
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |sp AS (SELECT DISTINCT doc_id, array_to_string(ws[i : i + 4], ' ') AS sp
         |       FROM (SELECT doc_id, ws,
         |               unnest(generate_series(1, greatest(len(ws) - 4, 1))) AS i
         |             FROM w) t),
         |bench AS (SELECT * FROM sp WHERE doc_id % 97 = 0),
         |corpus AS (SELECT DISTINCT sp FROM sp WHERE doc_id % 97 <> 0),
         |leaked AS (SELECT b.doc_id, count(*) AS n_leaked
         |           FROM bench b JOIN corpus c USING (sp) GROUP BY b.doc_id)
         |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(coalesce(max(l.n_leaked), 0) AS BIGINT) AS n_leaked,
         |  $frac AS leak_frac
         |FROM bench b LEFT JOIN leaked l USING (doc_id)
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin
    },

    // positions are 1-based here (generate_subscripts / generate_series)
    // and 0-based on the Spark side — each engine is internally
    // consistent, and only the reconstructed text crosses engines
    "q_dedup_span_removal" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |wpos AS (SELECT doc_id, generate_subscripts(ws, 1) AS idx,
        |                unnest(ws) AS word FROM w),
        |pos AS (SELECT doc_id, i, array_to_string(ws[i : i + 7], ' ') AS sp
        |        FROM (SELECT doc_id, ws,
        |                unnest(generate_series(1, len(ws) - 7)) AS i
        |              FROM w WHERE len(ws) >= 8) t),
        |own AS (SELECT sp, min(doc_id) AS odoc FROM pos GROUP BY sp),
        |cov AS (SELECT DISTINCT p.doc_id, x.idx
        |        FROM pos p JOIN own o ON p.sp = o.sp AND p.doc_id > o.odoc
        |        JOIN wpos x ON x.doc_id = p.doc_id
        |          AND x.idx BETWEEN p.i AND p.i + 7),
        |kept AS (SELECT wp.doc_id, wp.idx, wp.word
        |         FROM wpos wp LEFT JOIN cov c
        |           ON wp.doc_id = c.doc_id AND wp.idx = c.idx
        |         WHERE c.doc_id IS NULL)
        |SELECT d.doc_id,
        |  CAST(COALESCE(kc.nk, 0) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(cv.nr, 0) AS BIGINT) AS n_removed,
        |  COALESCE(kt.txt, '') AS cleaned_text
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, count(*) AS nk FROM kept GROUP BY doc_id)
        |  kc USING (doc_id)
        |LEFT JOIN (SELECT doc_id, count(*) AS nr FROM cov GROUP BY doc_id)
        |  cv USING (doc_id)
        |LEFT JOIN (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS txt
        |           FROM kept GROUP BY doc_id) kt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // same 1-based/0-based position note as q_dedup_span_removal
    "q_decontaminate_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE doc_id % 97 <> 0),
        |b AS (SELECT doc_id, string_split(text, ' ') AS ws
        |      FROM documents WHERE doc_id % 97 = 0),
        |bsp AS (SELECT DISTINCT array_to_string(ws[i : i + 4], ' ') AS sp
        |        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 4)) AS i
        |              FROM b WHERE len(ws) >= 5) t),
        |wpos AS (SELECT doc_id, generate_subscripts(ws, 1) AS idx,
        |                unnest(ws) AS word FROM w),
        |pos AS (SELECT doc_id, i, array_to_string(ws[i : i + 4], ' ') AS sp
        |        FROM (SELECT doc_id, ws,
        |                unnest(generate_series(1, len(ws) - 4)) AS i
        |              FROM w WHERE len(ws) >= 5) t),
        |cov AS (SELECT DISTINCT p.doc_id, x.idx
        |        FROM pos p JOIN bsp USING (sp)
        |        JOIN wpos x ON x.doc_id = p.doc_id
        |          AND x.idx BETWEEN p.i AND p.i + 4),
        |kept AS (SELECT wp.doc_id, wp.idx, wp.word
        |         FROM wpos wp LEFT JOIN cov c
        |           ON wp.doc_id = c.doc_id AND wp.idx = c.idx
        |         WHERE c.doc_id IS NULL)
        |SELECT d.doc_id,
        |  CAST(COALESCE(kc.nk, 0) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(cv.nr, 0) AS BIGINT) AS n_removed,
        |  COALESCE(kt.txt, '') AS cleaned_text
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN (SELECT doc_id, count(*) AS nk FROM kept GROUP BY doc_id)
        |  kc USING (doc_id)
        |LEFT JOIN (SELECT doc_id, count(*) AS nr FROM cov GROUP BY doc_id)
        |  cv USING (doc_id)
        |LEFT JOIN (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS txt
        |           FROM kept GROUP BY doc_id) kt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_text_oov" -> {
      val ratio = graft.Det.roundSafeSql(
        "CAST(sum(CASE WHEN df < 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |              FROM documents),
         |dfs AS (SELECT tok, count(DISTINCT doc_id) AS df
         |        FROM toks GROUP BY tok)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |  CAST(sum(CASE WHEN df < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  $ratio AS rare_ratio
         |FROM toks JOIN dfs USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // the BM25 formula spelled in SQL — identical IEEE evaluation order,
    // Det decimal-exact per-doc sum, same tie-break
    "q_text_bm25" -> bm25OracleSql,

    // the indexed path nets out to the same corpus state (churn segments
    // cancel), so it lands on the SAME oracle bitwise
    "q_text_bm25_indexed" -> bm25OracleSql,

    // all-integer bigram LM: per-instance micro-probability is BIGINT
    // floor division, per-doc mean an integer-divided integer sum — the
    // exact arithmetic Spark's `div` performs, so no rounding helper needed
    "q_text_bigram_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |      FROM (SELECT doc_id, ws,
        |              unnest(generate_series(1, len(ws) - 1)) AS i
        |            FROM w WHERE len(ws) >= 2) t),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY w1),
        |m AS (SELECT b.doc_id, (1000000 * c2.n2) // c1.n1 AS micro
        |      FROM b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |      JOIN c1 ON b.w1 = c1.w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(micro) // count(*) AS BIGINT) AS score_micro
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same five batch-perceptron rounds unrolled: each round joins
    // the sparse features against the previous weight vector, sums the
    // misclassified docs' integer updates, and folds them in — every
    // step integer-exact, so the final weights match Spark's bitwise
    "q_text_classifier" -> {
      val vocab = Seq("spark", "hash", "join", "vector")
      val names = "__bias" +: vocab
      val inList = vocab.map(v => s"'$v'").mkString(", ")
      val w0 = names.map(n => s"('$n', CAST(0 AS BIGINT))").mkString(", ")
      val rounds = (1 to 5).map { k =>
        s"""m$k AS (
           |  SELECT f.doc_id, sum(f.x * w.weight) AS margin
           |  FROM f JOIN w${k - 1} w USING (feature) GROUP BY f.doc_id),
           |mis$k AS (
           |  SELECT l.doc_id, l.y FROM lab l JOIN m$k m USING (doc_id)
           |  WHERE l.y * m.margin <= 0),
           |d$k AS (
           |  SELECT f.feature, sum(m.y * f.x) AS d
           |  FROM mis$k m JOIN f USING (doc_id) GROUP BY f.feature),
           |w$k AS (
           |  SELECT w.feature, w.weight + coalesce(d.d, 0) AS weight
           |  FROM w${k - 1} w LEFT JOIN d$k d USING (feature))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH docs0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |lab AS (
         |  SELECT doc_id, CASE WHEN list_contains(ws, 'spark')
         |    THEN 1 ELSE -1 END AS y FROM docs0),
         |f AS (
         |  SELECT doc_id, tok AS feature, CAST(count(*) AS BIGINT) AS x
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM docs0)
         |  WHERE tok IN ($inList) GROUP BY doc_id, tok
         |  UNION ALL
         |  SELECT doc_id, '__bias', CAST(1 AS BIGINT) FROM docs0),
         |w0 AS (SELECT * FROM (VALUES $w0) AS t(feature, weight)),
         |$rounds
         |SELECT feature, CAST(weight AS BIGINT) AS weight FROM w5
         |ORDER BY feature""".stripMargin
    },

    // the reference-LM filter: counts fit on the src0 slice only,
    // unseen bigrams back off to the penalized reference unigram —
    // identical integer floor arithmetic to the engine's
    "q_text_lm_filter" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        |           FROM documents),
        |b AS (SELECT doc_id, source, ws[i] AS w1, ws[i + 1] AS w2
        |      FROM (SELECT doc_id, source, ws,
        |              unnest(generate_series(1, len(ws) - 1)) AS i
        |            FROM w WHERE len(ws) >= 2) t),
        |rb AS (SELECT w1, w2 FROM b WHERE source = 'src0'),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM rb GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS n1 FROM rb GROUP BY w1),
        |uni AS (SELECT tok AS w2, count(*) AS u FROM (
        |          SELECT unnest(ws) AS tok FROM w WHERE source = 'src0')
        |        GROUP BY tok),
        |tot AS (SELECT count(*) AS t_ref FROM (
        |          SELECT unnest(ws) AS tok FROM w WHERE source = 'src0')),
        |m AS (SELECT b.doc_id,
        |        CASE WHEN c2.n2 IS NOT NULL THEN (1000000 * c2.n2) // c1.n1
        |             ELSE (100000 * coalesce(uni.u, 0)) // tot.t_ref
        |        END AS micro
        |      FROM b
        |      LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |      LEFT JOIN c1 ON b.w1 = c1.w1
        |      LEFT JOIN uni ON b.w2 = uni.w2, tot)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(micro) // count(*) AS BIGINT) AS score_micro,
        |  CAST(sum(micro) // count(*) >= 30000 AS BIGINT) AS kept
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_tfidf" -> tfidfOracleSql,

    // net index state == the corpus, so the indexed path shares the oracle
    "q_text_tfidf_indexed" -> tfidfOracleSql,

    // the oracle scrubs with the very same pattern list (TextOps
    // .piiPatterns), rendered as a DuckDB regexp_replace(..., 'g') chain
    "q_text_pii" -> {
      def scrub(e: String): String = TextOps.piiPatterns.foldLeft(e) {
        case (acc, (re, tag)) => s"regexp_replace($acc, '$re', '$tag', 'g')"
      }
      s"""WITH raw AS (
         |  SELECT doc_id, text,
         |    substr(text, 1, 40) || ' reach user' || CAST(doc_id AS VARCHAR)
         |    || '@mail.example.com or 555-010-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    || ' ssn 123-45-6789 from 10.0.'
         |    || CAST(doc_id % 256 AS VARCHAR) || '.7' AS contact
         |  FROM documents)
         |SELECT doc_id,
         |  ${scrub("contact")} AS scrubbed,
         |  ${scrub("text")} AS text_clean
         |FROM raw ORDER BY doc_id""".stripMargin
    },

    "q_text_repetition" -> {
      val dupWord = graft.Det.roundSafeSql(
        "1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)", 4)
      val dupBigram = graft.Det.roundSafeSql(
        "1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / (len(ws) - 1)", 4)
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |b AS (SELECT doc_id, ws,
         |        list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg
         |      FROM w)
         |SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  $dupWord AS dup_word_frac,
         |  CASE WHEN len(ws) < 2 THEN 0.0 ELSE $dupBigram END AS dup_bigram_frac
         |FROM b ORDER BY doc_id""".stripMargin
    },

    "q_text_tokens" ->
      """SELECT tok, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin,

    "q_text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|d|m|t|ll|ve|re)| ?[\p{L}]+| ?[0-9]+| ?[^\s\p{L}0-9]+', 0)) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_readability" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_syll,
        |  206835000 - 1015000 * n_words
        |    - (84600 * ((1000000 * n_syll) // n_words)) // 1000 AS fk_micro
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_text_url" ->
      s"""WITH ${UrlOps.duckCanonicalCte}
         |SELECT doc_id, url, host, domain, path_depth, canonical
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_dedup_url" ->
      s"""WITH ${UrlOps.duckCanonicalCte}
         |SELECT canonical, CAST(count(*) AS BIGINT) AS n_dups,
         |  min(doc_id) AS keeper_id
         |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (CAST(sum(n_chars) AS DOUBLE) / count(*)) AS avg_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // identical word/line derivations and identical rounding to
    // TextOps.gopherRules (arXiv:2112.11446 §A.1.1 thresholds verbatim)
    "q_text_gopher" -> {
      val nWords = "len(string_split(text, ' '))"
      val sumWlen =
        "list_sum(list_transform(string_split(text, ' '), x -> length(x)))"
      val nHash = "(length(text) - length(replace(text, '#', '')))"
      val nEll = "((length(text) - length(replace(text, '...', ''))) // 3)"
      val nLines = "len(string_split(text, chr(10)))"
      val nBullet = ("len(list_filter(string_split(text, chr(10)), l -> " +
        "starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')))")
      val nEllLine = ("len(list_filter(string_split(text, chr(10)), l -> " +
        "ends_with(rtrim(l), '...')))")
      val nAlpha = ("len(list_filter(string_split(text, ' '), w -> " +
        "regexp_matches(w, '[A-Za-z]')))")
      val stopList = graft.llm.TextOps.gopherStops
        .map(s => s"'$s'").mkString("[", ", ", "]")
      val nStopKinds = ("len(list_intersect(list_distinct(" +
        s"string_split(text, ' ')), $stopList))")
      val meanWlen = graft.Det.roundSafeSql(
        s"CAST($sumWlen AS DOUBLE) / $nWords", 4)
      val symbolRatio = graft.Det.roundSafeSql(
        s"CAST($nHash + $nEll AS DOUBLE) / $nWords", 4)
      val bulletFrac = graft.Det.roundSafeSql(
        s"CAST($nBullet AS DOUBLE) / $nLines", 4)
      val ellipsisFrac = graft.Det.roundSafeSql(
        s"CAST($nEllLine AS DOUBLE) / $nLines", 4)
      val alphaFrac = graft.Det.roundSafeSql(
        s"CAST($nAlpha AS DOUBLE) / $nWords", 4)
      s"""SELECT doc_id,
         |  CAST($nWords AS BIGINT) AS n_words,
         |  $meanWlen AS mean_wlen,
         |  $symbolRatio AS symbol_ratio,
         |  $bulletFrac AS bullet_frac,
         |  $ellipsisFrac AS ellipsis_frac,
         |  $alphaFrac AS alpha_frac,
         |  CAST($nStopKinds AS BIGINT) AS n_stop_kinds,
         |  CAST(CASE WHEN $nWords BETWEEN 50 AND 100000
         |    AND $meanWlen BETWEEN 3.0 AND 10.0
         |    AND $symbolRatio < 0.1
         |    AND $bulletFrac < 0.9 AND $ellipsisFrac < 0.3
         |    AND $alphaFrac > 0.8 AND $nStopKinds >= 2
         |    THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // identical letter-count shape and identical left-associated addition
    // order to TextOps.letterEntropy — double sums agree bit-for-bit
    "q_text_entropy" -> {
      val cnt = ('a' to 'z').map(c =>
        s"(length(__lt) - length(replace(__lt, '$c', '')))")
      val total = cnt.mkString("(", " + ", ")")
      val sumClnC = cnt.map(c =>
        s"(CASE WHEN $c > 0 THEN CAST($c AS DOUBLE) * ln(CAST($c AS DOUBLE)) ELSE 0.0 END)")
        .mkString("(", " + ", ")")
      val h = s"""CASE WHEN $total > 0 THEN
        |  (ln(CAST($total AS DOUBLE)) - $sumClnC / CAST($total AS DOUBLE))
        |    / ln(2.0)
        |ELSE 0.0 END""".stripMargin
      s"""WITH l AS (SELECT doc_id, lower(text) AS __lt FROM documents)
         |SELECT doc_id, CAST($total AS BIGINT) AS n_letters,
         |  ${graft.Det.roundSafeSql(h, 6)} AS entropy_bits
         |FROM l ORDER BY doc_id""".stripMargin
    },

    "q_text_quality" -> {
      val nTok = "len(string_split(text, ' '))"
      val nStop = """len(list_filter(string_split(text, ' '),
        | x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to' OR x = 'in'))""".stripMargin
      val avgWlen = s"((CAST(length(text) AS DOUBLE) - $nTok + 1) / $nTok)"
      val stopRatio = s"(CAST($nStop AS DOUBLE) / $nTok)"
      val quality = s"""(least(CAST($nTok AS DOUBLE) / 50.0, 1.0) * 0.5
        | + (1.0 - $stopRatio) * 0.3 + least($avgWlen / 8.0, 1.0) * 0.2)""".stripMargin
      s"""SELECT doc_id,
         |  CAST($nTok AS BIGINT) AS n_tok,
         |  CAST($nStop AS BIGINT) AS n_stop,
         |  ${graft.Det.roundSafeSql(avgWlen, 4)} AS avg_wlen,
         |  ${graft.Det.roundSafeSql(stopRatio, 4)} AS stop_ratio,
         |  ${graft.Det.roundSafeSql(quality, 4)} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // identical shingle derivation to the q_dedup_ngram oracle (proven
    // equivalent to TextOps.wordShingles(3) there)
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i : i + 2], ' ') AS g
        |      FROM (SELECT doc_id, ws,
        |              unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        |            FROM w)),
        |bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        |hits AS (SELECT g.doc_id, count(*) AS n
        |         FROM g JOIN bg USING (g) WHERE g.doc_id % 97 <> 0
        |         GROUP BY g.doc_id)
        |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_hit_grams,
        |  coalesce(n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
        |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin,

    "q_sample_stratified" -> {
      val bucket = graft.llm.Corpus.idBucketSql("doc_id")
      s"""SELECT doc_id, lang, CAST($bucket AS BIGINT) AS bucket
         |FROM documents
         |WHERE $bucket < (CASE WHEN lang = 'en' THEN 300 ELSE 150 END)
         |ORDER BY doc_id""".stripMargin
    },

    // each CTE mirrors its stage's standalone oracle (q_corpus_filter,
    // q_dedup_exact, q_decontaminate, q_sample_stratified), composed
    "q_corpus_pipeline" -> {
      val nTok = "len(string_split(text, ' '))"
      val nStop = """len(list_filter(string_split(text, ' '),
        | x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to' OR x = 'in'))""".stripMargin
      val avgWlen = s"((CAST(length(text) AS DOUBLE) - $nTok + 1) / $nTok)"
      val stopRatio = s"(CAST($nStop AS DOUBLE) / $nTok)"
      val quality = graft.Det.roundSafeSql(
        s"""(least(CAST($nTok AS DOUBLE) / 50.0, 1.0) * 0.5
           | + (1.0 - $stopRatio) * 0.3 + least($avgWlen / 8.0, 1.0) * 0.2)""".stripMargin, 4)
      val dupWord = graft.Det.roundSafeSql(
        "1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) " +
          s"/ $nTok", 4)
      val bucket = graft.llm.Corpus.idBucketSql("doc_id")
      s"""WITH q AS (
         |  SELECT doc_id, lang, text, CAST($nTok AS BIGINT) AS n_tok,
         |    $quality AS quality, $dupWord AS dup_word_frac
         |  FROM documents),
         |gated AS (
         |  SELECT * FROM q
         |  WHERE quality >= 0.7 AND dup_word_frac <= 0.6 AND n_tok >= 20
         |    AND lang IN ('en', 'de', 'fr', 'es')),
         |dd AS (
         |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id)
         |    AS rn FROM gated),
         |surv AS (SELECT * FROM dd WHERE rn = 1),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i : i + 2], ' ') AS g
         |      FROM (SELECT doc_id, ws,
         |              unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
         |            FROM w)),
         |bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
         |hits AS (SELECT DISTINCT g.doc_id
         |         FROM g JOIN bg USING (g) WHERE g.doc_id % 97 <> 0)
         |SELECT doc_id, lang, n_tok, quality, CAST($bucket AS BIGINT) AS bucket
         |FROM surv
         |WHERE doc_id % 97 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM hits)
         |  AND $bucket < (CASE WHEN lang = 'en' THEN 600 ELSE 400 END)
         |ORDER BY doc_id""".stripMargin
    },

    "q_text_chunks" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
        |  substr(text, CAST(i * 100 + 1 AS INT), 120) AS chunk
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(0,
        |          CAST(ceil(greatest(length(text) - 20, 1) / 100.0)
        |            AS INT) - 1)) AS i
        |      FROM documents)
        |ORDER BY doc_id, chunk_no""".stripMargin,

    "q_corpus_budget" ->
      """WITH t AS (SELECT doc_id, lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum_tok
        |      FROM t)
        |SELECT doc_id, lang, n_tok, cum_tok FROM c
        |WHERE cum_tok <= 3000 ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |o AS (SELECT doc_id, shard, n_tok,
        |        CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard
        |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |      FROM t)
        |SELECT doc_id, shard, n_tok, start_off,
        |  CAST(floor(start_off / 256.0) AS BIGINT) AS chunk_first,
        |  CAST(floor((start_off + n_tok - 1) / 256.0) AS BIGINT) AS chunk_last
        |FROM o ORDER BY doc_id""".stripMargin,

    "q_corpus_upsample" -> {
      val bucket = Corpus.idBucketSql("doc_id")
      s"""WITH w AS (SELECT doc_id, source,
         |  CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 300
         |    ELSE 1000 END AS wpm FROM documents),
         |e AS (SELECT doc_id, source,
         |  wpm // 1000 + CASE WHEN $bucket < wpm % 1000
         |    THEN 1 ELSE 0 END AS n_epochs FROM w)
         |SELECT doc_id, source, CAST(n_epochs AS BIGINT) AS n_epochs,
         |  CAST(unnest(generate_series(0, n_epochs - 1)) AS BIGINT) AS epoch
         |FROM e WHERE n_epochs > 0 ORDER BY doc_id, epoch""".stripMargin
    },

    "q_text_c4" -> {
      val kept = """list_filter(string_split(text, chr(10)), l ->
        | (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!') OR
        |  ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"')) AND
        | len(string_split(l, ' ')) >= 3 AND
        | NOT contains(lower(l), 'javascript'))""".stripMargin
      val blockList = TextOps.c4Blocklist
        .map(s => s"'$s'").mkString("[", ", ", "]")
      val nSent = Seq(".", "!", "?").map(c =>
          s"(length(clean_text) - length(replace(clean_text, '$c', '')))")
        .mkString("(", " + ", ")")
      s"""WITH k AS (SELECT doc_id, text, $kept AS kept FROM documents),
         |m AS (SELECT doc_id, text,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
         |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text FROM k),
         |v AS (SELECT doc_id, n_lines, n_kept_lines, clean_text,
         |  CAST($nSent AS BIGINT) AS n_sentences,
         |  CAST(CASE WHEN contains(lower(text), 'lorem ipsum')
         |    THEN 1 ELSE 0 END AS BIGINT) AS has_lorem,
         |  CAST(CASE WHEN contains(text, '{')
         |    THEN 1 ELSE 0 END AS BIGINT) AS has_brace,
         |  CAST(CASE WHEN len(list_intersect(list_distinct(
         |      regexp_split_to_array(lower(text), '[^a-z0-9]+')), $blockList)) > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS has_blockword
         |  FROM m)
         |SELECT doc_id, n_lines, n_kept_lines, clean_text, n_sentences,
         |  has_lorem, has_brace, has_blockword,
         |  CAST(CASE WHEN n_sentences >= 5 AND has_lorem = 0
         |    AND has_brace = 0 AND has_blockword = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS c4_pass
         |FROM v ORDER BY doc_id""".stripMargin
    },

    // same derivations as the q_text_quality / q_text_repetition oracles,
    // fused and filtered — the oracle proves the one-scan gate applies
    // exactly the documented rule stack
    "q_corpus_filter" -> {
      val nTok = "len(string_split(text, ' '))"
      val nStop = """len(list_filter(string_split(text, ' '),
        | x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to' OR x = 'in'))""".stripMargin
      val avgWlen = s"((CAST(length(text) AS DOUBLE) - $nTok + 1) / $nTok)"
      val stopRatio = s"(CAST($nStop AS DOUBLE) / $nTok)"
      val quality = graft.Det.roundSafeSql(
        s"""(least(CAST($nTok AS DOUBLE) / 50.0, 1.0) * 0.5
           | + (1.0 - $stopRatio) * 0.3 + least($avgWlen / 8.0, 1.0) * 0.2)""".stripMargin, 4)
      val dupWord = graft.Det.roundSafeSql(
        "1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) " +
          s"/ $nTok", 4)
      s"""WITH q AS (
         |  SELECT doc_id, lang, CAST($nTok AS BIGINT) AS n_tok,
         |    $quality AS quality, $dupWord AS dup_word_frac
         |  FROM documents)
         |SELECT doc_id, lang, n_tok, quality, dup_word_frac FROM q
         |WHERE quality >= 0.7 AND dup_word_frac <= 0.6 AND n_tok >= 20
         |  AND lang IN ('en', 'de', 'fr', 'es')
         |ORDER BY doc_id""".stripMargin
    },

    "q_corpus_sourcefilter" -> {
      val nTok = "len(string_split(text, ' '))"
      val nStop = """len(list_filter(string_split(text, ' '),
        | x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to' OR x = 'in'))""".stripMargin
      val avgWlen = s"((CAST(length(text) AS DOUBLE) - $nTok + 1) / $nTok)"
      val stopRatio = s"(CAST($nStop AS DOUBLE) / $nTok)"
      val quality = graft.Det.roundSafeSql(
        s"""(least(CAST($nTok AS DOUBLE) / 50.0, 1.0) * 0.5
           | + (1.0 - $stopRatio) * 0.3 + least($avgWlen / 8.0, 1.0) * 0.2)""".stripMargin, 4)
      s"""WITH q AS (
         |  SELECT doc_id, source, $quality AS quality FROM documents),
         |g AS (SELECT source FROM q GROUP BY source
         |      HAVING ${graft.Det.davgSql("quality")} >= 0.79)
         |SELECT doc_id, source, quality FROM q JOIN g USING (source)
         |ORDER BY doc_id""".stripMargin
    },

    "q_corpus_mix" -> {
      val bucket = graft.llm.Corpus.idBucketSql("d.doc_id")
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |t AS (SELECT min(n) AS t FROM c),
         |r AS (SELECT lang, CAST(floor(t * 1000 / n) AS BIGINT) AS rate_pm
         |      FROM c, t)
         |SELECT d.doc_id, d.lang, CAST($bucket AS BIGINT) AS bucket
         |FROM documents d JOIN r USING (lang)
         |WHERE $bucket < rate_pm
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_ingest_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_corpus_interleave" -> {
      val key = Corpus.shuffleKeySql("doc_id")
      s"""WITH k AS (SELECT doc_id, source, $key AS key FROM documents)
         |SELECT CAST(row_number() OVER (
         |    PARTITION BY source ORDER BY key, doc_id) - 1 AS BIGINT) AS rank,
         |  source, doc_id
         |FROM k ORDER BY rank, source""".stripMargin
    },

    // same multiplicative-hash key and per-shard row_number; ties
    // impossible (key, doc_id) is unique per doc
    "q_corpus_shuffle" -> {
      val key = Corpus.shuffleKeySql("doc_id")
      s"""WITH k AS (SELECT doc_id, $key AS key FROM documents),
         |s AS (SELECT doc_id, key, CAST(key % 16 AS BIGINT) AS shard FROM k)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
         |       - 1 AS BIGINT) AS pos
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q_multimodal_join" ->
      """SELECT doc_id, lang, source, label
        |FROM documents JOIN embeddings ON doc_id = vec_id AND label < 5
        |ORDER BY doc_id""".stripMargin,

    "q_multimodal_decode" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  CAST(ceil(octet_length(encode(text)) / 32.0) AS INT) AS n_frames,
        |  'txt' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the decoded features restated arithmetically: width/height from
    // doc_id, green/blue solid (sum = w*h*color), red an x-gradient
    // summed per row via a correlated series — lossless PNG must land
    // exactly here
    // per-frame: red the same x-gradient as the image key, green/blue
    // step 11/29 per frame index
    "q_multimodal_video" ->
      """SELECT d.doc_id,
        |  CAST(f.f AS INT) AS frame_no,
        |  CAST(1 + d.doc_id % 8 AS INT) AS width,
        |  CAST(1 + d.doc_id % 5 AS INT) AS height,
        |  CAST((1 + d.doc_id % 5) * r.rowsum AS BIGINT) AS sum_r,
        |  CAST((1 + d.doc_id % 8) * (1 + d.doc_id % 5)
        |    * ((d.doc_id * 7 + 11 * f.f) % 256) AS BIGINT) AS sum_g,
        |  CAST((1 + d.doc_id % 8) * (1 + d.doc_id % 5)
        |    * ((d.doc_id * 13 + 29 * f.f) % 256) AS BIGINT) AS sum_b
        |FROM documents d
        |JOIN (SELECT unnest(generate_series(0, 2)) AS f) f ON TRUE
        |JOIN (
        |  SELECT doc_id, SUM((doc_id + x) % 256) AS rowsum
        |  FROM (SELECT doc_id, unnest(generate_series(0, doc_id % 8)) AS x
        |        FROM documents)
        |  GROUP BY doc_id) r ON d.doc_id = r.doc_id
        |WHERE d.doc_id < 100
        |ORDER BY d.doc_id, frame_no""".stripMargin,

    // n = 16 + id%32 samples at 8 kHz; sample(i) = (id*31 + i*17) % 2003
    // - 1001 — the sum and max-abs restated via a correlated series
    "q_multimodal_audio" ->
      """SELECT d.doc_id,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(16 + d.doc_id % 32 AS BIGINT) AS n_samples,
        |  CAST((16 + d.doc_id % 32) * 1000000 // 8000 AS BIGINT) AS duration_us,
        |  s.sum_amp, s.max_abs
        |FROM documents d JOIN (
        |  SELECT doc_id,
        |    CAST(SUM((doc_id * 31 + x * 17) % 2003 - 1001) AS BIGINT) AS sum_amp,
        |    CAST(MAX(abs((doc_id * 31 + x * 17) % 2003 - 1001)) AS BIGINT) AS max_abs
        |  FROM (SELECT doc_id,
        |          unnest(generate_series(0, 15 + doc_id % 32)) AS x
        |        FROM documents)
        |  GROUP BY doc_id) s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // geometry-only: JPEG is lossy, so pixel statistics are decoder-
    // dependent; width/height are exact under any conformant decoder
    "q_multimodal_jpeg" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS INT) AS width,
        |  CAST(1 + doc_id % 5 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_multimodal_image" ->
      """SELECT d.doc_id,
        |  CAST(1 + d.doc_id % 8 AS INT) AS width,
        |  CAST(1 + d.doc_id % 5 AS INT) AS height,
        |  CAST((1 + d.doc_id % 5) * r.rowsum AS BIGINT) AS sum_r,
        |  CAST((1 + d.doc_id % 8) * (1 + d.doc_id % 5)
        |    * ((d.doc_id * 7) % 256) AS BIGINT) AS sum_g,
        |  CAST((1 + d.doc_id % 8) * (1 + d.doc_id % 5)
        |    * ((d.doc_id * 13) % 256) AS BIGINT) AS sum_b
        |FROM documents d JOIN (
        |  SELECT doc_id, SUM((doc_id + x) % 256) AS rowsum
        |  FROM (SELECT doc_id, unnest(generate_series(0, doc_id % 8)) AS x
        |        FROM documents)
        |  GROUP BY doc_id) r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_multimodal_framesample" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |  CAST(least(32, octet_length(encode(text)) - i * 32) AS INT) AS frame_bytes
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(0,
        |          CAST(ceil(octet_length(encode(text)) / 32.0) AS INT) - 1)) AS i
        |      FROM documents WHERE doc_id < 100)
        |WHERE i % 3 = 0
        |ORDER BY doc_id, frame_no""".stripMargin,

    "q_multimodal_resize" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |  CAST(ceil(least(32, octet_length(encode(text)) - i * 32) / 4.0) AS INT)
        |    AS resized_bytes
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(0,
        |          CAST(ceil(octet_length(encode(text)) / 32.0) AS INT) - 1)) AS i
        |      FROM documents WHERE doc_id < 100)
        |WHERE i % 3 = 0
        |ORDER BY doc_id, frame_no""".stripMargin
  )
}
