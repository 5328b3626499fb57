package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), MinHash+LSH (Jaccard on word shingles),
  * SimHash (Hamming on a 64-bit sketch), exact n-gram Jaccard (blocked),
  * and embedding-cosine near-dup (see [[EmbeddingOps]]).
  *
  * Everything is pair-free until LSH banding has shrunk the candidate set:
  * the only self-joins are on (band, bucket) keys, so the quadratic blowup
  * of naive pairwise comparison never materializes — the property that
  * makes these runnable over 100 TB corpora. Skewed buckets (a shingle
  * shared by millions of docs) are bounded by banding width and handled by
  * AQE skew-join splitting.
  */
object Dedup {

  /** Exact dedup: content hash → keep the smallest doc_id per group.
    * `sha2` collisions are cryptographically negligible; grouping by the
    * 64-char digest instead of the full text keeps shuffle rows small.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.withColumn("h", sha2(col("text"), 256))
      .groupBy("h")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .drop("h")

  /** Exact dedup with REPRESENTATIVE SELECTION: real pipelines don't keep
    * an arbitrary copy — the same text crawled from a high-trust source
    * and a content mirror should survive as the high-trust row (its
    * metadata: provenance, license, timestamps). `preference` ranks
    * sources best-first; unlisted sources rank after all listed ones,
    * ties break on the smaller doc_id, so the choice is a deterministic
    * total order.
    *
    * Scale: identical to [[exact]] — ONE hash aggregation whose shuffle
    * rows carry the 32-byte digest plus (rank, doc_id, source); `min_by`
    * over the (rank, doc_id) struct combines map-side, so no group's
    * copies ever co-locate as text. */
  def exactKeepBest(docs: DataFrame,
      preference: Seq[String]): DataFrame = {
    val rank = preference.zipWithIndex
      .foldRight(lit(preference.size): org.apache.spark.sql.Column) {
        case ((src, i), els) => when(col("source") === src, lit(i))
          .otherwise(els)
      }
    docs.withColumn("h", sha2(col("text"), 256))
      .withColumn("r", rank)
      .groupBy("h")
      .agg(
        expr("min_by(doc_id, struct(r, doc_id))").as("doc_id"),
        expr("min_by(source, struct(r, doc_id))").as("source"),
        count(lit(1)).as("n_copies"))
      .drop("h")
  }

  /** Incremental exact dedup — the continuous-ingestion shape: drop any
    * new document whose content digest already exists in the ingested
    * corpus (anti join on the digest), then exact-dedup within the batch
    * itself (keep the smallest doc_id per digest).
    *
    * Scale shape: the seen side reduces to ONE digest column before the
    * join — at 100 TB the historical corpus contributes 32-byte rows, not
    * text; both the anti join and the in-batch groupBy shuffle on the
    * digest, so the two stages share partitioning. */
  def incrementalExact(newDocs: DataFrame, seenDocs: DataFrame): DataFrame = {
    val seen = seenDocs.select(sha2(col("text"), 256).as("h")).distinct()
    newDocs.withColumn("h", sha2(col("text"), 256))
      .join(seen, Seq("h"), "left_anti")
      .groupBy("h")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .drop("h")
  }

  /** Bloom-prefiltered incremental exact dedup — same result as
    * [[incrementalExact]] (bitwise: the confirm step is exact, so bloom
    * false positives never change the output), different scale shape.
    *
    * [[incrementalExact]] shuffles the ENTIRE new batch into the anti
    * join against the snapshot digests. Here the snapshot is first
    * collapsed into a compact Bloom filter over xxhash64(text) (one
    * aggregate; ~1.2 GB per 10^9 seen docs at 1% fpp), which ships to
    * executors inside the probe expression ([[graft.functions.BloomMightContain]],
    * task-binary broadcast). The batch then splits map-side:
    *   - bloom says NO  → definitely unseen, bypasses the join entirely;
    *   - bloom says yes → candidate (true dup or fp), and ONLY these
    *     rows — a (dup_rate + fpp) fraction of the batch — enter the
    *     exact sha2-digest anti join.
    * For append-mostly corpus ingestion (the common 100 TB case: most of
    * each batch is new), the expensive confirm join shrinks by 10-100×
    * while the fast path stays one codegen'd scan. The LSM-tree bloom
    * discipline, applied to corpus dedup.
    *
    * `expectedSeen` sizes the filter (must be ≥ the snapshot's distinct
    * digest count for `fpp` to hold; oversizing only costs memory).
    *
    * CROSSOVER — when the prefilter pays: the bloom path adds a fixed
    * cost (a full aggregate over the seen keys to build the filter, plus
    * ~1.2 bytes/key of task-binary shipping at 1% fpp) to save per-batch
    * shuffle rows. With |seen| ≈ |batch| the build costs about as much
    * as the anti join it replaces and the filter saves nothing (measured
    * at sf0.1: bloom 0.45 s vs plain 0.24 s — the build dominates); the
    * filter wins when the snapshot DWARFS the batch (|seen| ≳ 10·|batch|
    * and large in absolute terms), the steady state of continuous corpus
    * ingestion, where it also amortizes across batches. Below
    * `minSeenForBloom` expected keys this method therefore AUTO-SWITCHES
    * to the plain [[incrementalExact]] anti join — bitwise the same
    * output either way (spec-proven), so the switch is purely a plan
    * choice; pass `minSeenForBloom = 0` to force the filter path.
    * Beyond ~10⁹ seen keys, switch to
    * [[incrementalExactBloomPartitioned]] instead — same output, filters
    * built executor-side per bucket so the driver never holds them.
    */
  private val bloomFnIds = new java.util.concurrent.atomic.AtomicLong()

  def incrementalExactBloom(newDocs: DataFrame, seenDocs: DataFrame,
      expectedSeen: Long, fpp: Double = 0.01,
      minSeenForBloom: Long = 1L << 22): DataFrame = {
    if (expectedSeen < minSeenForBloom)
      return incrementalExact(newDocs, seenDocs)
    val spark = newDocs.sparkSession
    val bloom = seenDocs.select(xxhash64(col("text")).as("hl"))
      .stat.bloomFilter("hl", expectedSeen, fpp)
    // expose the probe through the function registry (the repo-standard
    // route from a custom Expression to a Column); a monotone counter —
    // not identityHashCode, which can collide across live filters — keeps
    // concurrent bloom dedups from clobbering each other's resolution
    val fn = s"graft_bloom_seen_${bloomFnIds.incrementAndGet()}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fn, exprs => graft.functions.BloomMightContain(bloom, exprs.head),
      "built-in")
    try {
      val keyed = newDocs.withColumn("hl", xxhash64(col("text")))
      // map-only fast path: no false negatives ⇒ !mightContain is unseen.
      // NULL text ⇒ NULL probe key, which both filters would silently drop;
      // route null-key rows to the fresh side explicitly so this path keeps
      // them exactly like [[incrementalExact]] does (a NULL digest never
      // matches its anti join) — the documented bitwise equivalence.
      val fresh = keyed.filter(col("hl").isNull || !expr(s"$fn(hl)"))
      val candidates = keyed.filter(col("hl").isNotNull && expr(s"$fn(hl)"))
      val seen = seenDocs.select(sha2(col("text"), 256).as("h")).distinct()
      val confirmedNew = candidates.withColumn("h", sha2(col("text"), 256))
        .join(seen, Seq("h"), "left_anti").drop("h")
      fresh.unionByName(confirmedNew).drop("hl")
        .withColumn("h", sha2(col("text"), 256))
        .groupBy("h")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .drop("h")
    } finally {
      // Dataset construction analyzes eagerly, so every $fn reference above
      // is already resolved to a BloomMightContain bound to this filter
      // object; dropping the registration immediately keeps repeated-ingest
      // usage from pinning every filter (GB-scale at the documented 10^9
      // sizing) in the session FunctionRegistry forever.
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(fn)): Unit
    }
  }

  /** Bucket-partitioned variant of [[incrementalExactBloom]] for the
    * beyond-10⁹-seen-docs regime — same output (bitwise: the confirm step
    * is identical), different build and transport:
    *
    *  - the seen keys are hash-bucketed (`pmod(xxhash64(text), buckets)`)
    *    and ONE Bloom filter per bucket is built EXECUTOR-SIDE by a typed
    *    aggregation — partial filters merge where the data lives and the
    *    driver never materializes any filter (the single-filter path's
    *    `stat.bloomFilter` does its final merge on the driver: ≈1.2 GB at
    *    10⁹ keys / 1% fpp, the scaling wall this variant removes);
    *  - the batch shuffles ON THE SAME BUCKET KEY and equi-joins its
    *    bucket's filter, so each task receives only the filters for the
    *    buckets it processes — per-executor filter residency is
    *    total/buckets × (buckets touched per task), not the full set;
    *  - the probe ([[graft.functions.BloomCheckBucketed]]) memoizes
    *    bucket→filter per task, deserializing each filter once.
    *
    * The price versus the single-filter path is one extra shuffle of the
    * batch (by bucket) — which is why the task-binary-broadcast variant
    * stays the default below its driver-memory wall. Per-bucket sizing is
    * `expectedSeen / buckets` keys at the same `fpp`, so total filter
    * bytes match the single filter; `buckets` should comfortably exceed
    * max-executor-count to spread the build's final merges.
    */
  def incrementalExactBloomPartitioned(newDocs: DataFrame,
      seenDocs: DataFrame, expectedSeen: Long, fpp: Double = 0.01,
      buckets: Int = 64): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val perBucket = math.max(expectedSeen / buckets, 1L)
    // materialized eagerly: the fresh/candidate split below scans the
    // joined frame twice, and without this the per-bucket aggregation
    // would run once per branch
    val filters = graft.Materialize(
      seenDocs.select(xxhash64(col("text")).as("hl"))
        .filter(col("hl").isNotNull).as[Long]
        .groupByKey(k => java.lang.Math.floorMod(k, buckets.toLong))
        .agg(new BloomBuildAgg(perBucket, fpp).toColumn.name("bloom_bin"))
        .toDF("bkt", "bloom_bin"))
    val keyed = newDocs.withColumn("hl", xxhash64(col("text")))
      .withColumn("bkt", pmod(col("hl"), lit(buckets.toLong)))
    // equi-join on the bucket: shuffle-hash, NOT broadcast — broadcasting
    // the filter table would ship every bucket's filter to every executor,
    // re-creating exactly the residency problem this variant removes
    val joined = keyed.join(filters.hint("shuffle_hash"), Seq("bkt"), "left")
    // any-null → false probe: NULL text (no key) and empty buckets (no
    // filter row off the left join) both land on the fresh side, exactly
    // like [[incrementalExact]] treats them
    val probe = expr("bloom_check_bucketed(bkt, bloom_bin, hl)")
    val fresh = joined.filter(!probe)
    val candidates = joined.filter(probe)
    val seen = seenDocs.select(sha2(col("text"), 256).as("h")).distinct()
    val confirmedNew = candidates.withColumn("h", sha2(col("text"), 256))
      .join(seen, Seq("h"), "left_anti").drop("h")
    fresh.unionByName(confirmedNew).drop("hl", "bkt", "bloom_bin")
      .withColumn("h", sha2(col("text"), 256))
      .groupBy("h")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .drop("h")
  }

  /** Executor-side per-bucket Bloom builder for
    * [[incrementalExactBloomPartitioned]]: partial filters fill where the
    * data lives and merge per bucket — a typed aggregation, so the only
    * serialization points are partial-output boundaries, never per row.
    * (`stat.bloomFilter`'s treeAggregate ends with a driver-side merge;
    * this one ends on whichever executor owns the bucket.) */
  private[llm] class BloomBuildAgg(expected: Long, fpp: Double)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
    import org.apache.spark.util.sketch.BloomFilter
    def zero: BloomFilter = BloomFilter.create(expected, fpp)
    def reduce(b: BloomFilter, key: Long): BloomFilter = { b.putLong(key); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = a.mergeInPlace(b)
    def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[BloomFilter] =
      org.apache.spark.sql.Encoders.javaSerialization[BloomFilter]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  // ---------------- MinHash + LSH ----------------

  val NumHashes = 64
  val Bands = 16
  val Rows = 4 // NumHashes = Bands * Rows; tuned for jaccard ≥ ~0.6

  /** (doc_id, sh): distinct word 3-shingles per doc. */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), explode(TextOps.wordShingles(k)).as("sh"))

  /** 64-hash MinHash signature per doc. One hash aggregate computes all 64
    * mins (64 codegen'd agg expressions over `xxhash64(i, sh)`), so the
    * signature costs a single shuffle of (doc_id → 64 longs).
    */
  def signatures(sh: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    sh.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH banding: docs agreeing on any band's row-slice become candidates.
    * Join is equi on (band, bucket-hash) — no cross product.
    *
    * Skew: a HOT bucket (n docs sharing one (band, bh)) emits n²/2 pairs
    * — correct but quadratic in the bucket width. The shuffle side is
    * equi-keyed, so AQE's skew-join split handles partition imbalance at
    * cluster scale; the OUTPUT blowup is the real hazard, and
    * `maxBucket > 0` bounds it by dropping buckets wider than the cap.
    * That is the standard production guard: a bucket that wide means
    * near-identical mass, which the pipeline's EXACT dedup stage (run
    * first — [[exact]]) already collapses, so the cap costs recall only
    * on corpora that skipped exact dedup. Off (0) by default: the oracle
    * paths stay exhaustive. DedupSpec's adversarial-skew case measures
    * both modes. */
  def candidatePairs(sigs: DataFrame, maxBucket: Int = 0): DataFrame = {
    val banded = sigs.select(col("doc_id"), posexplode(
      expr(s"transform(sequence(0, ${Bands - 1}), b -> xxhash64(b, slice(sig, b * $Rows + 1, $Rows)))"))
      .as(Seq("band", "bh")))
    val limited =
      if (maxBucket <= 0) banded
      else banded.join(
        banded.groupBy("band", "bh").agg(count(lit(1)).as("__bw"))
          .filter(col("__bw") <= maxBucket).drop("__bw"),
        Seq("band", "bh"), "left_semi")
    limited.as("a")
      .join(limited.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard for candidate pairs via shared-shingle counting (no
    * array materialization per pair — an equi-join on the shingle).
    *
    * Pairs sharing NO element are omitted (their Jaccard is 0): keeping
    * them would need a second pass over `pairs`, recomputing the whole
    * candidate-generation pipeline, to left-join zeros that every caller
    * filters away at a positive threshold anyway.
    */
  def withJaccard(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shA = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("sh"))
    pairs.join(shA, "doc_a").join(shB, Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
  }

  /** End-to-end MinHash near-dup pairs at a Jaccard threshold.
    *
    * The shingle relation appears four times in this DAG (signature build,
    * A-side join, B-side join, size counts) and Spark does not share scans
    * across joins, so it is persisted for the duration of the computation.
    * The pair list itself — tiny relative to the corpus — is materialized
    * eagerly via localCheckpoint so the shingle cache can be released here
    * instead of leaking into the caller's session.
    *
    * NOTE: this makes the pair-builder APIs (here, [[simHashPairs]],
    * [[ngramJaccardPairs]], [[removeNearDuplicates]]) EAGER. The
    * materialization mode is [[graft.Materialize]]'s: executor-local
    * checkpoint by default (single-JVM optimal, not fault-tolerant past
    * the checkpoint); set the session conf `graft.checkpoint.dir` to a
    * durable directory (HDFS/object store) for reliable checkpointing on
    * a cluster — the 100 TB deployment setting.
    */
  def minHashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = shingles(docs).persist()
    // signatures are also persisted: candidatePairs SELF-joins the banded
    // frame, and without the persist the 64-min aggregate runs twice
    val sigs = signatures(sh).persist()
    val pairs = withJaccard(candidatePairs(sigs), sh)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        graft.Det.roundSafe(col("jaccard"), 4).as("jaccard"))
      .transform(graft.Materialize.apply)
    sigs.unpersist()
    sh.unpersist()
    pairs
  }

  // ---------------- near-dup clusters → deduplicated corpus ----------------

  /** Connected components over a near-dup pair list by iterative min-label
    * propagation: every node repeatedly adopts the smallest label in its
    * neighborhood until fixpoint. Converges in O(component diameter)
    * rounds — near-dup clusters are small and dense, so a handful — and
    * each round is two shuffles (join + aggregate). The driver loop only
    * checks a converged flag per round (the standard shape for iterative
    * graph algorithms on Spark; no data ever collects to the driver).
    *
    * No round cap: a node's label only ever changes to a strictly smaller
    * one, and labels come from the finite set of node ids, so some round
    * changes nothing and the loop ends. (Labels are replaced, not
    * accumulated, so this is not [[graft.Materialize.semiNaive]]'s
    * shape.)
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // undirected edge list, both directions — persisted: every propagation
    // round re-reads it, and without the persist each round would recompute
    // the whole upstream pair-finding pipeline (e.g. MinHash LSH)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .persist()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    // SEMI-NAIVE frontier: only labels that CHANGED last round can lower
    // a neighbor this round (a y whose label was already L when round
    // k-1 ran has already pushed L to every neighbor), so the per-round
    // propagation join shrinks with the frontier instead of rescanning
    // every label. Round 0's frontier is every node.
    var frontier = labels
    var converged = false
    while (!converged) {
      val cand = edges
        .join(frontier.select(col("doc_id").as("dst"), col("label")), "dst")
        .select(col("src").as("doc_id"), col("label"))
      // EAGER full materialization ([[graft.Materialize]]), not a lazy
      // persist: a convergence probe that early-exits (limit 1) would
      // compute only SOME partitions of a lazily-cached round frame, and
      // every later round would then rebuild the uncached partitions
      // through the whole chain of earlier rounds — superlinear recompute
      // that turned this loop pathological at 165k nodes. Materialize
      // computes every partition once and truncates lineage, so each
      // round costs exactly its own shuffles.
      //
      // ONE aggregate computes the new label AND the change flag: the
      // node's own row rides the union (tagged), so the old shape's
      // third exchange — joining the neighbor minima back against the
      // old labels — is gone (2 exchanges per round instead of 3).
      // (measured alternatives at sf0.1, both slower: pre-partitioning
      // edges on dst adds a shuffle AQE's exchange reuse already covers;
      // pointer-jump shortcutting halves rounds but the per-round label
      // self-join costs more than the rounds it saves at these diameters
      // — revisit only for high-diameter graphs)
      // [[graft.Materialize.probed]]: the checkpoint job doubles as the
      // convergence probe — one scheduler job per round instead of two
      val (updated, changed) = graft.Materialize.probed(
        labels.select(col("doc_id"), col("label"), lit(true).as("__own"))
          .unionByName(cand.withColumn("__own", lit(false)))
          .groupBy("doc_id")
          .agg(min(col("label")).as("label"),
            min(when(col("__own"), col("label"))).as("__old"))
          // __old is non-null TODAY because cand doc_ids (edges.src) ⊆
          // labels doc_ids (distinct edges.src), but a future caller
          // feeding asymmetric edges would turn a NULL __old into a NULL
          // __changed and the probe would silently under-converge —
          // treat a label-less node as changed (type-agnostic: labels
          // are longs in dedup, strings in the OWL clique engine)
          .select(col("doc_id"), col("label"),
            (col("__old").isNull ||
              col("label") < col("__old")).as("__changed")),
        col("__changed"))
      // the superseded round's checkpoint blocks are dead once `updated`
      // is materialized — release them, or a long-converging run holds
      // every round's labels on executors simultaneously (round 0's
      // labels frame isn't checkpointed, so this is a no-op there)
      graft.Materialize.release(labels)
      labels = updated
      frontier = updated.filter(col("__changed"))
      converged = changed == 0
    }
    edges.unpersist()
    // the returned frame is the final round's checkpointed projection —
    // already fully computed; callers release it via Materialize.release
    // once they have folded it into their own result
    labels.drop("__changed")
  }

  /** The materialization step of near-dup removal: cluster the pair list,
    * keep each cluster's smallest doc_id, pass through untouched docs.
    *
    * The dropped-id list (bounded by the duplicate count, tiny next to the
    * corpus) is localCheckpointed so the component labels' cache can be
    * released here — otherwise every invocation leaks cached partitions
    * into the session.
    */
  def removeNearDuplicates(docs: DataFrame, threshold: Double): DataFrame = {
    val comps = connectedComponents(minHashPairs(docs, threshold))
    val dropped = comps.filter(col("doc_id") =!= col("label")).select("doc_id")
      .transform(graft.Materialize.apply)
    graft.Materialize.release(comps)
    docs.join(dropped, Seq("doc_id"), "left_anti")
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash over word tokens: bit j of the sketch is the sign of
    * Σ_tokens (±1 depending on bit j of the token hash). Computed as 64
    * conditional-sum aggregates then assembled with shifts — all codegen.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TextOps.tokens).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val assembled = (0 until 64)
      .map(j => shiftleft(when(col(s"b$j") > 0, lit(1L)).otherwise(lit(0L)), j))
      .reduce(_ bitwiseOR _)
    toks.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxHamming, blocked on 8-bit
    * chunks: a pair differing in ≤ 7 bits must agree exactly on at least
    * one of the 8 chunks (pigeonhole), so blocking is complete for
    * maxHamming ≤ 7 — enforced, because a silent recall hole is worse than
    * a rejected parameter.
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 7,
      s"8-chunk blocking is only complete for hamming <= 7, got $maxHamming")
    // persisted across the self-join below — otherwise the 64-bit-sum
    // sketch aggregate over every token runs twice
    val sigs = simhash(docs).persist()
    val chunked = sigs.select(col("doc_id"), col("simhash"), posexplode(
      expr("transform(sequence(0, 7), c -> (simhash >> (c * 8)) & 255)"))
      .as(Seq("chunk", "ch")))
    val pairs = chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .transform(graft.Materialize.apply)
    sigs.unpersist()
    pairs
  }

  // ---------------- exact n-gram Jaccard, blocked ----------------

  /** Character n-gram Jaccard near-dups — exact, via *prefix filtering*
    * (AllPairs/PPJoin family): with grams globally ordered rarest-first,
    * two sets with Jaccard ≥ t must share a gram inside each set's first
    * `|A| - ⌈t·|A|⌉ + 1` grams. Only those prefix grams are exploded into
    * the candidate join, so ubiquitous grams (shared by every doc in a
    * language) never fan out quadratically — the difference between this
    * finishing and not finishing at corpus scale. A length filter
    * (`t·|B| ≤ |A|`) prunes further before exact verification.
    *
    * `gramsCol` picks the set representation (word shingles, char n-grams).
    * Prefix filtering presumes a long-tailed gram frequency distribution;
    * on a corpus whose grams are ALL common (e.g. char-4-grams over a tiny
    * vocabulary, background Jaccard ≈ 0.3) no exact algorithm avoids the
    * quadratic candidate set — pick a sparser gram space instead (word
    * 2-grams here), or fall back to MinHash LSH and accept approximation.
    */
  def ngramJaccardPairs(docs: DataFrame, gramsCol: org.apache.spark.sql.Column,
      threshold: Double): DataFrame = {
    // distinct: jaccard is SET similarity — a non-deduplicated gramsCol
    // (e.g. raw charNgrams) would inflate sizes and overcount intersections.
    // Persisted: this relation feeds the frequency count, the prefix build,
    // and all three legs of exact verification — five scans that would each
    // recompute the explode+distinct shuffle otherwise.
    val grams = docs.select(col("doc_id"), explode(gramsCol).as("g"))
      .distinct().persist()
    val freq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    // Rarest-first FULL gram array per doc via collect_list + sort_array
    // (struct ordering (df, g) = the rarest-first total order). One
    // groupBy shuffle on doc_id; the array serves BOTH the prefix build
    // (a slice + explode) and exact verification (below). A doc's gram
    // set is bounded by its length, so the per-group array is small.
    val docArr = grams.join(freq, "g")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("gs"))
      .withColumn("sz", size(col("gs")).cast("long"))
      .persist()
    val prefix = docArr
      .select(col("doc_id"), col("sz"),
        explode(slice(col("gs"), lit(1),
          (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))).as("dg"))
      .select(col("doc_id"), col("dg.g").as("g"), col("sz"))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id")
          && col("a.sz") >= col("b.sz") * threshold
          && col("b.sz") >= col("a.sz") * threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verification in the ARRAY domain: grams here are distinct
    // (set semantics), so |A∩B| is a row-wise codegen array_intersect
    // over the two attached arrays — same jaccard value bit-for-bit as
    // the shared-gram counting join, WITHOUT exploding every candidate
    // pair into |grams(A)| rows and shuffling that by (doc_b, gram)
    // (that explosion was this operator's dominant cost). The MinHash
    // path keeps withJaccard: its shingle relation is a MULTISET and the
    // counting join's multiplicity semantics must be preserved there.
    val garr = docArr.select(col("doc_id"), col("gs.g").as("ga"), col("sz"))
    val out = cands
      .join(garr.select(col("doc_id").as("doc_a"), col("ga").as("__ga"),
        col("sz").as("na")), "doc_a")
      .join(garr.select(col("doc_id").as("doc_b"), col("ga").as("__gb"),
        col("sz").as("nb")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .filter(col("inter") > 0L)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        graft.Det.roundSafe(col("jaccard"), 4).as("jaccard"))
      .transform(graft.Materialize.apply)
    docArr.unpersist()
    grams.unpersist()
    out
  }

  /** Per-document duplicated-SPAN statistics: of a doc's distinct k-word
    * spans (sliding windows), how many also occur in at least one OTHER
    * document — the exact substring-level dedup signal from the "train-data
    * dedup" literature (duplicated long spans ⇒ trim or drop the doc),
    * complementing whole-doc near-dup detection, which misses documents
    * that merely SHARE boilerplate passages.
    *
    * Two shuffles total: one aggregate over spans for corpus-wide document
    * frequency, one join back + per-doc aggregate. With the default
    * `hashSpans = false` the span TEXT is the shuffle key — hash-free,
    * hence exactly verifiable cross-engine and oracled. `hashSpans = true`
    * is the 100 TB production path: the shuffle key is xxhash64(span),
    * 8 bytes per span instead of ~8 words of text (a ~10× shuffle-byte
    * drop at k=8; 64-bit collisions are ~n²/2⁶⁵ false dup marks —
    * negligible against the dup base rate). Both paths produce identical
    * output on collision-free corpora (DedupSpec proves it on the
    * fixtures and measures the shuffle-byte drop).
    */
  def spanDupStats(docs: DataFrame, k: Int,
      hashSpans: Boolean = false): DataFrame = {
    // one row per (doc, span): wordShingles is already distinct-per-doc
    val text = docs.select(col("doc_id"),
      explode(TextOps.wordShingles(k)).as("sp"))
    val spans =
      if (hashSpans) text.select(col("doc_id"), xxhash64(col("sp")).as("sp"))
      else text
    // rows are unique per (doc, span), so count(*) = document frequency
    val df = spans.groupBy(col("sp")).agg(count(lit(1)).as("ndocs"))
    spans.join(df, "sp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        graft.Det.roundSafe(
          col("n_dup_spans").cast("double") / col("n_spans"), 4).as("dup_frac"))
  }

  /** Cross-document duplicated-span REMOVAL — the acted-on form of
    * [[spanDupStats]]'s signal and the distributed k-gram analog of
    * ExactSubstr dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022): every word covered by a k-word
    * span that also occurs in a LOWER-doc_id document is excised, and
    * the remaining words rejoin in order. The lowest doc_id owning a
    * span is its canonical document and keeps its text for that span
    * untouched (within-document repetition stays q_text_repetition's
    * domain); overlapping duplicated spans merge naturally through the
    * distinct covered-position set.
    *
    * Returns (doc_id, n_kept, n_removed, cleaned_text), one row per
    * input document (fully-excised docs keep an empty text). Word
    * positions come from one `split`, so reconstruction normalizes
    * whitespace exactly like the split — both engines agree by
    * construction.
    *
    * Scale shape: three shuffles, each linear in corpus words — span
    * ownership (groupBy span), coverage distinct, per-doc rebuild. Same
    * 100 TB lever as [[spanDupStats]]: `hashSpans = true` shuffles
    * xxhash64(span) 8-byte keys in the ownership join instead of span
    * text (the coverage/rebuild shuffles already carry only
    * (doc_id, idx) pairs); the text path stays the default so the
    * operator is exactly verifiable cross-engine.
    */
  def removeDupSpans(docs: DataFrame, k: Int,
      hashSpans: Boolean = false): DataFrame = {
    val spans = positionedSpans(docs, k, hashSpans)
    val owners = spans.groupBy("sp").agg(min("doc_id").as("odoc"))
    val marked = spans.join(owners, "sp").filter(col("doc_id") > col("odoc"))
    excise(docs, marked, k)
  }

  /** Span-level benchmark DECONTAMINATION — the acted-on form of
    * [[graft.llm.Corpus]]' decontaminate flag: every word covered by a
    * k-word span occurring ANYWHERE in the benchmark corpus is excised
    * (the standard leakage scrub when dropping whole documents is too
    * blunt), same output shape and reconstruction discipline as
    * [[removeDupSpans]]. The benchmark span set is typically tiny
    * against the corpus; Catalyst broadcasts it. `hashSpans = true`
    * broadcasts 8-byte xxhash64 keys instead of span text — the same
    * ~10× byte drop applied to the broadcast table. */
  def removeBenchmarkSpans(docs: DataFrame, bench: DataFrame,
      k: Int, hashSpans: Boolean = false): DataFrame = {
    val benchSpans = positionedSpans(bench, k, hashSpans)
      .select("sp").distinct()
    val marked = positionedSpans(docs, k, hashSpans).join(benchSpans, "sp")
    excise(docs, marked, k)
  }

  /** Per-BENCHMARK-document leakage report — the measure-before-scrub
    * step of decontamination: of each benchmark doc's distinct k-word
    * spans, how many occur ANYWHERE in the training corpus, and the
    * leaked fraction (the number an eval-integrity review reads before
    * deciding between whole-doc dropping, [[removeBenchmarkSpans]]'
    * surgical excision, or acceptance). The benchmark span set is tiny
    * → BROADCAST into one join against corpus spans: the corpus is
    * scanned once and never self-joins or shuffles (matched pairs are
    * benchmark-sized). Exact with text keys, hence oracled;
    * `hashSpans` is the same 8-byte-key production lever as
    * [[spanDupStats]]. */
  def decontaminationReport(docs: DataFrame, bench: DataFrame, k: Int,
      hashSpans: Boolean = false): DataFrame = {
    def spansOf(df: DataFrame): DataFrame = {
      val t = df.select(col("doc_id"),
        explode(TextOps.wordShingles(k)).as("sp"))
      if (hashSpans) t.select(col("doc_id"), xxhash64(col("sp")).as("sp"))
      else t
    }
    val benchSp = spansOf(bench)
    val totals = benchSp.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val leaked = spansOf(docs).select("sp")
      .join(broadcast(benchSp), "sp")
      .select(col("doc_id"), col("sp")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_leaked"))
    totals.join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        graft.Det.roundSafe(coalesce(col("n_leaked"), lit(0L))
          .cast("double") / col("n_spans"), 4).as("leak_frac"))
  }

  /** One row per k-word window: (doc_id, i, sp) with 0-based start;
    * `hashed` swaps the span text for its xxhash64 (the 8-byte shuffle
    * key of the production path). */
  private def positionedSpans(docs: DataFrame, k: Int,
      hashed: Boolean = false): DataFrame = {
    val text = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(ws) - $k), " +
          s"i -> struct(i AS i, array_join(slice(ws, i + 1, $k), ' ') AS sp))"))
        .as("x"))
      .select(col("doc_id"), col("x.i").as("i"), col("x.sp").as("sp"))
    if (hashed)
      text.select(col("doc_id"), col("i"), xxhash64(col("sp")).as("sp"))
    else text
  }

  /** Remove every word of `docs` covered by a marked span occurrence
    * ((doc_id, i) rows); rebuild the residual text in word order. */
  private def excise(docs: DataFrame, marked: DataFrame,
      k: Int): DataFrame = {
    val words = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("idx", "word")))
    val cov = marked.select(col("doc_id"),
        explode(sequence(col("i"), col("i") + lit(k - 1))).as("idx"))
      .distinct()
    val kept = words.join(cov, Seq("doc_id", "idx"), "left_anti")
    val keptAgg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("word")))),
        x => x.getField("word")), " ").as("cleaned_text"))
    val covCnt = cov.groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    docs.select(col("doc_id"))
      .join(keptAgg, Seq("doc_id"), "left")
      .join(covCnt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Corpus-wide exact LINE dedup — the C4/Dolma cleaning step between
    * per-document filters and span-level ExactSubstr: a line occurring
    * anywhere else in the corpus survives only at its FIRST occurrence
    * (minimal (doc_id, line index)), and every document's text rebuilds
    * from its surviving lines. Lines shorter than `minLen` characters
    * are exempt (blank lines, headings, list bullets — dedup'ing those
    * would weld every document's structure together; the same guard the
    * production pipelines apply).
    *
    * Exact and deterministic (oracled): ONE partial-agg'd struct-min
    * shuffle on the line text elects owners, one join classifies
    * occurrences, one grouped rebuild — all linear in corpus lines. At
    * 100 TB the owner shuffle rides `xxhash64(line)` 8-byte keys exactly
    * like [[spanDupStats]]'s `hashSpans` path; the text key here keeps
    * the operator verifiable cross-engine. */
  def dedupLines(docs: DataFrame, minLen: Int = 10): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    // owners exist only for dedup-ELIGIBLE lines, so short lines join
    // to null and pass through unconditionally
    val owner = lines.filter(length(col("line")) >= minLen)
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("idx"))).as("__o"))
    val kept = lines.join(owner, Seq("line"), "left")
      .filter(col("__o").isNull ||
        (col("__o.doc_id") === col("doc_id") && col("__o.idx") === col("idx")))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept_lines"),
      array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("line")))),
        x => x.getField("line")), "\n").as("text"))
    val totals = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"),
        col("n_lines"),
        coalesce(col("n_kept_lines"), lit(0L)).as("n_kept_lines"))
  }
}
