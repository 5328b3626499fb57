package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("removeDupSpans excises shared spans, canonical doc untouched") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"intro $boiler outro"),          // canonical owner of boiler
      (2L, s"alpha $boiler beta"),           // loses the 8 boiler words
      (3L, "completely different text here"),// untouched (short + unique)
      (4L, boiler))                          // fully excised
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.removeDupSpans(docs, k = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) === ((1L, 10L, 0L, s"intro $boiler outro")))
    assert(out(1) === ((2L, 2L, 8L, "alpha beta")))
    assert(out(2) === ((3L, 4L, 0L, "completely different text here")))
    assert(out(3) === ((4L, 0L, 8L, "")))
    // overlapping duplicated spans merge: doc 5 shares a 9-word run
    // with doc 1's window space → two overlapping 8-spans, 9 covered
    val nine = s"intro $boiler"
    val more = docs.unionByName(Seq((5L, s"$nine tail")).toDF("doc_id", "text"))
    val five = graft.llm.Dedup.removeDupSpans(more, 8)
      .filter($"doc_id" === 5L)
      .as[(Long, Long, Long, String)].head()
    assert(five === ((5L, 1L, 9L, "tail")))
  }

  test("removeBenchmarkSpans scrubs leaked benchmark lines, not the doc") {
    import spark.implicits._
    val leak = "the quick brown fox jumps"
    val bench = Seq((100L, s"eval question: $leak end"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, s"prefix $leak suffix words"),    // leaked 5-gram excised
      (2L, "nothing shared with the benchmark at all"))
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.removeBenchmarkSpans(docs, bench, k = 5)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) === ((1L, 3L, 5L, "prefix suffix words")))
    assert(out(1)._3 === 0L)
    assert(out(1)._4 === "nothing shared with the benchmark at all")
  }
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text").withColumn("lang", lit("xx"))

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green hills tonight"
  private val nearDup = base.replace("green", "blue")
  private val unrelated = "completely different words about database engines and columnar storage formats for analytics"

  test("exact dedup keeps smallest doc_id per identical text") {
    val docs = docsDF(Seq(1L -> base, 2L -> base, 3L -> unrelated))
    val kept = Dedup.exact(docs).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(kept === Seq((1L, 2L), (3L, 1L))) // (doc_id, n_copies)
  }

  test("exactKeepBest picks by source preference, then doc_id; unlisted " +
      "sources rank last") {
    val docs = Seq(
      // group A: wiki (preferred) must beat the crawl copy with the
      // smaller doc_id
      (5L, base, "crawl"), (9L, base, "wiki"),
      // group B: two copies from the same listed source — doc_id breaks
      (3L, unrelated, "crawl"), (4L, unrelated, "crawl"),
      // group C: only unlisted sources — doc_id breaks the rank tie
      (8L, "solo text here", "blogs"), (7L, "solo text here", "forums"))
      .toDF("doc_id", "text", "source")
    val kept = Dedup.exactKeepBest(docs, Seq("wiki", "crawl"))
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(kept === Seq((3L, "crawl", 2L), (7L, "forums", 2L),
      (9L, "wiki", 2L)))
  }

  test("bloom-prefiltered incremental dedup == exact incremental dedup") {
    val seen = docsDF(Seq(1L -> base, 2L -> unrelated))
    val batch = docsDF(Seq(
      10L -> base,      // true dup of the snapshot → dropped
      11L -> nearDup,   // unseen (near-dup is not exact-dup) → kept
      12L -> nearDup,   // in-batch dup of 11 → folded into its group
      13L -> unrelated, // true dup of the snapshot → dropped
      14L -> "fresh text never seen before in any corpus at all"))
    val want = Dedup.incrementalExact(batch, seen)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val got = Dedup.incrementalExactBloom(batch, seen, expectedSeen = 1024,
        minSeenForBloom = 0)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(want === Seq((11L, 2L), (14L, 1L)))
    assert(got === want)
  }

  test("bloom path keeps NULL-text rows exactly like the plain path") {
    // NULL text hashes to a NULL probe key; the bloom path must route such
    // rows to the fresh side (not drop them map-side) to stay bitwise
    // equal to incrementalExact, whose NULL digest never matches the anti
    // join and survives into the final group
    val seen = docsDF(Seq(1L -> base))
    val batch = Seq((10L, base), (11L, null), (12L, null),
        (13L, unrelated)).toDF("doc_id", "text").withColumn("lang", lit("xx"))
    val want = Dedup.incrementalExact(batch, seen)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val got = Dedup.incrementalExactBloom(batch, seen, expectedSeen = 64,
        minSeenForBloom = 0)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(want === Seq((11L, 2L), (13L, 1L))) // null rows fold to one group
    assert(got === want)
  }

  test("repeated bloom dedup calls do not pin filters in the registry") {
    val seen = docsDF(Seq(1L -> base))
    val batch = docsDF(Seq(10L -> base, 11L -> unrelated))
    val reg = spark.sessionState.functionRegistry
    def bloomFns = reg.listFunction()
      .count(_.funcName.startsWith("graft_bloom_seen_"))
    val before = bloomFns
    (1 to 3).foreach { _ =>
      Dedup.incrementalExactBloom(batch, seen, expectedSeen = 64,
        minSeenForBloom = 0).count(): Unit
    }
    assert(bloomFns === before) // every registration was dropped on return
  }

  test("bloom false positives are removed by the exact confirm join") {
    // an undersized, high-fpp filter makes nearly every probe a
    // candidate — the exact confirm must still produce the exact result
    val seen = docsDF((1L to 50L).map(i => i -> s"seen document number $i"))
    val batch = docsDF((1L to 200L).map(i =>
      (1000L + i) -> (if (i <= 40) s"seen document number $i"
                      else s"new document number $i")))
    val want = Dedup.incrementalExact(batch, seen)
      .as[(Long, Long)].collect().toSet
    val got = Dedup.incrementalExactBloom(batch, seen,
        expectedSeen = 8, fpp = 0.5, minSeenForBloom = 0) // way undersized
      .as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(got.size === 160)
  }

  test("auto-switch takes the plain path below the crossover, bitwise equal") {
    val seen = docsDF(Seq(1L -> base, 2L -> unrelated))
    val batch = docsDF(Seq(10L -> base, 11L -> nearDup, 12L -> nearDup,
      13L -> unrelated, 14L -> "fresh text never seen before at all"))
    val want = Dedup.incrementalExact(batch, seen)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // default minSeenForBloom (2^22) >> expectedSeen → the call is a plan
    // choice only: no graft_bloom_seen_* registration may appear, and the
    // output must be bitwise the plain relation
    val reg = spark.sessionState.functionRegistry
    def bloomFns = reg.listFunction()
      .count(_.funcName.startsWith("graft_bloom_seen_"))
    val before = bloomFns
    val auto = Dedup.incrementalExactBloom(batch, seen, expectedSeen = 1024)
    assert(bloomFns === before,
      "below the crossover no bloom filter may even be built")
    assert(auto.orderBy("doc_id").as[(Long, Long)].collect().toSeq === want)
  }

  test("bucket-partitioned bloom == exact incremental dedup (nulls too)") {
    val seen = docsDF(Seq(1L -> base, 2L -> unrelated))
    val batch = Seq((10L, base), (11L, nearDup), (12L, nearDup),
        (13L, unrelated), (14L, "fresh text never seen before at all"),
        (15L, null), (16L, null))
      .toDF("doc_id", "text").withColumn("lang", lit("xx"))
    val want = Dedup.incrementalExact(batch, seen)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    for (buckets <- Seq(1, 4, 64)) {
      val got = Dedup.incrementalExactBloomPartitioned(batch, seen,
          expectedSeen = 1024, buckets = buckets)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      assert(got === want, s"buckets=$buckets")
    }
    // undersized + high fpp: every probe is a candidate, confirm is exact
    val fuzzy = Dedup.incrementalExactBloomPartitioned(batch, seen,
        expectedSeen = 2, fpp = 0.5, buckets = 4)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(fuzzy === want)
  }

  test("minhash LSH finds planted near-dup and skips unrelated docs") {
    val docs = docsDF(Seq(1L -> base, 2L -> nearDup, 3L -> unrelated))
    val pairs = Dedup.minHashPairs(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("minhash jaccard estimate tracks exact ngram jaccard") {
    val docs = docsDF(Seq(1L -> base, 2L -> nearDup))
    val mh = Dedup.minHashPairs(docs, 0.1).select("jaccard").as[Double].head()
    // exact word-3-shingle jaccard, brute force
    val sh = Dedup.shingles(docs)
    val a = sh.filter($"doc_id" === 1).select("sh").as[String].collect().toSet
    val b = sh.filter($"doc_id" === 2).select("sh").as[String].collect().toSet
    val exact = a.intersect(b).size.toDouble / a.union(b).size
    // pair jaccard is the exact value (LSH only gates candidates), rounded to 4
    assert(math.abs(mh - exact) < 5e-4)
  }

  test("reliable-checkpoint mode (graft.checkpoint.dir) matches default results") {
    val docs = docsDF(Seq(1L -> base, 2L -> nearDup, 3L -> unrelated))
    val viaLocal = Dedup.minHashPairs(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val closureLocal = graft.rdf.Paths.transitiveClosure(edges)
      .as[(String, String)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(graft.Materialize.DirProp, dir)
    try {
      val viaReliable = Dedup.minHashPairs(docs, 0.5)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(viaReliable === viaLocal)
      val closureReliable = graft.rdf.Paths.transitiveClosure(edges)
        .as[(String, String)].collect().toSet
      assert(closureReliable === closureLocal)
      // the durable checkpoint actually wrote blocks to the directory
      assert(new java.io.File(dir).listFiles().nonEmpty,
        "reliable mode did not write to graft.checkpoint.dir")
      // once the checkpoint files are written the probe's persisted
      // blocks are dropped: connected components (one materialize+probe
      // per round, final round returned unreleased) leaves no RDD held
      val held = spark.sparkContext.getPersistentRDDs.keySet
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
      val cc = Dedup.connectedComponents(pairs)
      assert(cc.select("label").distinct().count() === 2L)
      val leaked = spark.sparkContext.getRDDStorageInfo
        .filter(i => !held.contains(i.id) && i.numCachedPartitions > 0)
      assert(leaked.isEmpty, "RDD blocks still held after connectedComponents: " +
        leaked.map(i => s"${i.id}:${i.numCachedPartitions}").mkString(", "))
      assert((spark.sparkContext.getPersistentRDDs.keySet -- held).isEmpty)
    } finally spark.conf.unset(graft.Materialize.DirProp)
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    // SimHash stabilizes with length: use ~90-token docs differing in one
    // rare token (short docs flip many bits on any edit — that's inherent).
    val long1 = (Seq.fill(4)(base).mkString(" ")) + " " + unrelated.takeWhile(_ != 'f')
    val long2 = long1.replace("columnar", "rowwise")
    val other = Seq.fill(5)(unrelated).mkString(" ")
    val docs = docsDF(Seq(1L -> long1, 2L -> long2, 3L -> other))
    val pairs = Dedup.simHashPairs(docs, 7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("ngram jaccard pairs: prefix-filtered exact matches brute force") {
    val docs = docsDF(Seq(1L -> base, 2L -> nearDup, 3L -> unrelated))
    for (grams <- Seq(TextOps.wordShingles(2), array_distinct(TextOps.charNgrams(4)))) {
      val got = Dedup.ngramJaccardPairs(docs, grams, 0.5)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 2L)))
    }
  }

  test("prefix filtering loses no pairs vs unfiltered exact jaccard") {
    // brute-force exact jaccard on the sf0.001 corpus (500 docs) vs the
    // prefix-filtered operator — identical pair sets, any threshold.
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val grams = docs.select($"doc_id", explode(TextOps.wordShingles(2)).as("g"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val brute = grams.as("a").join(grams.as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("nb")), "doc_b")
      .filter($"inter" / ($"na" + $"nb" - $"inter") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val got = Dedup.ngramJaccardPairs(docs, TextOps.wordShingles(2), 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.nonEmpty)
  }

  test("connected components merge transitively-linked near-dups") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L)
    assert(comps(10L) === 10L && comps(11L) === 10L)
  }

  test("removeNearDuplicates keeps one representative per cluster") {
    // a ~ b and b ~ c (one word each), so {a,b,c} is one transitive
    // cluster even though a ~ c alone would fall under the threshold
    val b = nearDup
    val c = nearDup.replace("quick", "speedy")
    val docs = docsDF(Seq(1L -> base, 2L -> b, 3L -> c, 9L -> unrelated))
    val kept = Dedup.removeNearDuplicates(docs, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 9L))
  }

  test("corpus near-dups found at sf0.001 (planted dups exist)") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    assert(Dedup.minHashPairs(docs, 0.6).count() > 0)
  }

  test("spanDupStats: shared boilerplate spans counted, unique text not") {
    // doc 1 and 2 share an 8-word prefix (boilerplate) but differ after —
    // whole-doc jaccard is low, the span signal still fires; doc 3 shares
    // nothing; doc 4 is 3 words (single short span, unique)
    val boiler = "this document is provided as is without warranty"
    val docs = docsDF(Seq(
      1L -> s"$boiler of any kind either express or implied",
      2L -> s"$boiler and no liability is accepted by anyone",
      3L -> unrelated,
      4L -> "three word doc"))
    val got = Dedup.spanDupStats(docs, k = 8)
      .select("doc_id", "n_spans", "n_dup_spans")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // 15 words → 8 sliding 8-spans; exactly one (the boilerplate) is shared
    assert(got(1L) === ((8L, 1L)))
    assert(got(2L) === ((8L, 1L)))
    assert(got(3L)._2 === 0L)
    assert(got(4L) === ((1L, 0L)))
  }

  test("decontaminationReport counts leaked spans per benchmark doc") {
    val leak = "the quick brown fox jumps"
    val docs = Seq(
      (1L, s"training text with $leak inside it"),
      (2L, "clean training text nothing shared here")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, s"eval question about $leak right"),   // one 5-span leaked
      (101L, "totally novel benchmark content words"))
      .toDF("doc_id", "text")
    val got = Dedup.decontaminationReport(docs, bench, k = 5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 100: 9 words → 5 sliding 5-spans; exactly the leak span is in
    // the corpus. doc 101: nothing leaked.
    assert(got(0)._1 === 100L && got(0)._2 === 5L && got(0)._3 === 1L)
    assert(got(0)._4 === 0.2)
    assert(got(1) === ((101L, 1L, 0L, 0.0)))
    // hashed keys land on identical numbers
    assert(Dedup.decontaminationReport(docs, bench, 5, hashSpans = true)
      .orderBy("doc_id").collect().toSeq ===
      Dedup.decontaminationReport(docs, bench, 5)
        .orderBy("doc_id").collect().toSeq)
  }

  /** Sum of shuffle-write bytes across all tasks run by `body`. Listener
    * delivery is async, so poll until the counter is quiescent. */
  private def shuffleWriteBytes(body: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1L
      var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val cur = bytes.get()
        if (cur == prev) same += 1 else { same = 0; prev = cur }
      }
      bytes.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("adversarial skew: one hot LSH bucket — exact output, bounded time") {
    // 800 IDENTICAL docs share every (band, bucket) → one hot bucket per
    // band emitting C(800,2) = 319,600 pairs, against a unique-text
    // background that shares nothing. The join stays equi-keyed on
    // (band, bh) — the shape AQE's skew-join splits at cluster scale
    // (local[4] spec data sits far under the 256 MB split threshold, so
    // the assertion here is exact OUTPUT + bounded wall time, not plan
    // shape). Measured locally: ~8 s for the hot corpus — the quadratic
    // OUTPUT is the cost, the shuffle itself is balanced by banding.
    val hotText = (1 to 20).map(i => s"dup$i").mkString(" ")
    val docs = ((0 until 800).map(d => (d.toLong, hotText)) ++
      (800 until 1200).map(d =>
        (d.toLong, (0 until 20).map(w => s"u${d}w$w").mkString(" "))))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs).persist()
    val sigs = Dedup.signatures(sh).persist()
    val t0 = System.nanoTime()
    val n = Dedup.candidatePairs(sigs).count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n === 800L * 799 / 2,
      "hot bucket must yield exactly its pair set; background none")
    assert(secs < 120, f"skewed band join took $secs%.1f s — runaway")
    // the production guard: capping bucket width drops the degenerate
    // bucket entirely (its mass is exact-dup territory — the pipeline
    // runs Dedup.exact first), background buckets unaffected
    assert(Dedup.candidatePairs(sigs, maxBucket = 100).count() === 0L)
    sigs.unpersist(); sh.unpersist(): Unit
  }

  test("hashed-span path ≡ text path; shuffle bytes drop") {
    // a corpus big enough that the shuffle-byte gap is unambiguous:
    // 120 docs × ~60 words, every third doc carries a 12-word boilerplate
    // run (→ overlapping duplicated 8-spans), the rest unique filler
    val boiler = (1 to 12).map(i => s"common$i").mkString(" ")
    val rows = (0 until 120).map { d =>
      val filler = (0 until 48).map(w => s"u${d}x$w").mkString(" ")
      val text = if (d % 3 == 0) s"$boiler $filler" else filler
      (d.toLong, text)
    }
    val docs = rows.toDF("doc_id", "text")
    val bench = Seq((999L, s"eval item: $boiler tail")).toDF("doc_id", "text")

    // equivalence on all three operators (no span-hash collisions here,
    // and 64-bit collisions are negligible in general)
    val statsT = Dedup.spanDupStats(docs, 8).orderBy("doc_id").collect().toSeq
    val statsH = Dedup.spanDupStats(docs, 8, hashSpans = true)
      .orderBy("doc_id").collect().toSeq
    assert(statsH === statsT)
    val remT = Dedup.removeDupSpans(docs, 8).orderBy("doc_id").collect().toSeq
    val remH = Dedup.removeDupSpans(docs, 8, hashSpans = true)
      .orderBy("doc_id").collect().toSeq
    assert(remH === remT)
    val benT = Dedup.removeBenchmarkSpans(docs, bench, 8)
      .orderBy("doc_id").collect().toSeq
    val benH = Dedup.removeBenchmarkSpans(docs, bench, 8, hashSpans = true)
      .orderBy("doc_id").collect().toSeq
    assert(benH === benT)

    // the point of the production path: spanDupStats' shuffle carries
    // 8-byte keys instead of ~8-word span text — measure the drop
    val bT = shuffleWriteBytes {
      Dedup.spanDupStats(docs, 8).count(): Unit
    }
    val bH = shuffleWriteBytes {
      Dedup.spanDupStats(docs, 8, hashSpans = true).count(): Unit
    }
    // measured locally: ~4-6× smaller (text spans here are ~48 chars);
    // assert a conservative 2× so compression jitter can't flake it
    info(s"spanDupStats shuffle-write bytes: text=$bT hashed=$bH " +
      f"(${bT.toDouble / bH}%.1fx)")
    assert(bH * 2 < bT, s"hashed=$bH text=$bT — expected ≥2× drop")
  }

  test("dedupLines: first occurrence wins, short lines exempt, texts " +
      "rebuild in line order, fully-duplicated docs empty out") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: owns both long lines, plus a short structural line
      (1L, "the quick brown fox jumps high\n--\nover the lazy sleeping dog"),
      // doc 2: repeats doc 1's first line (drops), keeps its own
      (2L, "the quick brown fox jumps high\na completely different line here"),
      // doc 3: an exact dup of doc 1 — every eligible line drops, the
      // short line survives
      (3L, "the quick brown fox jumps high\n--\nover the lazy sleeping dog"),
      // doc 4: repeats a line WITHIN itself — only its first copy stays
      (4L, "echo echo echo echo one\necho echo echo echo one"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, minLen = 10)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "the quick brown fox jumps high\n--\nover the lazy sleeping dog",
        3L, 3L),
      (2L, "a completely different line here", 2L, 1L),
      (3L, "--", 3L, 1L),
      (4L, "echo echo echo echo one", 2L, 1L)))
    // idempotent: a second pass removes nothing
    val again = Dedup.dedupLines(
      docs.limit(0).unionByName(
        got.toDF("doc_id", "text", "a", "b").select("doc_id", "text")),
      minLen = 10).orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(again.map(r => (r._1, r._2)) === got.map(r => (r._1, r._2)))
  }
}
