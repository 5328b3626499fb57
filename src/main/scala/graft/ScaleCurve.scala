package graft

/** Empirical scaling-exponent probe (not part of the driver contract):
  * times the most expensive bench keys at sf0.001 / sf0.01 / sf0.1 and
  * reports the per-decade slope e = log10(t_big/t_small) — the empirical
  * counterpart to the plan-shape audits. e ≈ 1 is linear in data size;
  * e < 1 means fixed overheads still dominate at these scales; e
  * materially above 1 flags a query whose cost law would not survive the
  * 100 TB extrapolation and names where to look.
  *
  * The 0.01→0.1 decade is the honest one: at sf0.001 almost every key is
  * job-setup-bound (~0.3 s floor), so that column is reported but not
  * graded. Per-dataset ingest state (encoded stores, IVF index, ExtVP,
  * CBO stats) is built before timing at each scale, exactly like Bench,
  * so slopes measure the recurring query cost, not one-off builds.
  *
  * Usage: sbt "runMain graft.ScaleCurve [outPath]"   (writes SCALING.md)
  */
object ScaleCurve {

  /** The judge-measured most expensive keys (BENCH_r05/r06 + verdict
    * plan audits) plus the iterative family the 100 TB claims lean on,
    * and the round-7 lifecycle keys (persisted aggregate view,
    * maintained ExtVP). */
  val keys: Seq[String] = Seq(
    "q_graph_cc", "q_graph_pagerank", "q_sparql_mirror", "q_sparql_with",
    "q_sparql_update", "q_dedup_ngram", "q_dedup_cluster",
    "q_dedup_minhash", "q_text_bpe_train", "q_sparql_union_nested",
    "q_corpus_pipeline", "q_bgp_ivm", "q_bgp_view_store",
    "q_bgp_agg_store", "q_bgp_extvp_ivm", "q_dedup_span",
    // round-7 second wave: maintained union/optional/path views, the
    // DRed closure, maintained RDFS, and the two answering surfaces
    "q_bgp_view_union", "q_bgp_view_optional", "q_bgp_view_path",
    "q_path_ivm", "q_rdfs_ivm", "q_bgp_view_answer", "q_bgp_agg_answer",
    "q_bgp_view_encoded",
    // round-7 third wave: extremum summaries, the id-space summary,
    // triangle counting, bounded-round SSSP, and the compatibility join
    "q_bgp_agg_minmax", "q_bgp_agg_encoded", "q_graph_triangles",
    "q_graph_sssp", "q_sparql_compat",
    // round-8: the entailment layer (sameAs cliques, the class-rule
    // fixpoint with its two merge rounds) and the distributed codec
    "q_owl_sameas", "q_owl_class", "q_multimodal_image",
    // round-8 continuation: the k-core peeling fixpoint, the exact
    // radius baseline (block-capped — its slope should be ~flat), and
    // the canonical-URL dedup shuffle
    "q_graph_kcore", "q_sim_range", "q_dedup_url",
    // round-9: the remaining expensive keys (RRF fusion over two rank
    // pools, EXISTS-over-path, the wire-format round-trip) and the new
    // lifecycle keys (appendable ANN indexes, the maintained inverted
    // index, the sequence-path view)
    "q_retrieval_hybrid", "q_sparql_existspath", "q_rdf_roundtrip",
    "q_sim_ivf_append", "q_sim_ivfpq_append", "q_text_bm25_indexed",
    "q_bgp_view_path_seq",
    // round-10: the general path-expression view
    "q_bgp_view_path_expr",
    // round-11: the filtered maintained view and the nested-closure
    // path view
    "q_bgp_view_filtered", "q_bgp_view_path_nested")

  /** The sf0.1→sf1 decade (round-10): the 0.01→0.1 decade cannot expose
    * superlinearity that only bites past the small-SF noise floor, so
    * the top data-proportional keys additionally time against a
    * 10×-scaled synthetic dataset ([[ScaleData]] — referential-integrity-
    * preserving key shifts; diagnostic only, oracles never run on it). */
  val sf1Keys: Seq[String] = Seq(
    "q_dict_encode", "q_dedup_minhash", "q_dedup_span_hashed",
    "q_dedup_ngram", "q_graph_cc", "q_graph_triangles", "q_graph_kcore",
    "q_graph_sssp", "q_sparql_path", "q_tpch_q9",
    // round-11: the lifecycle keys — the flat-slope (fixed-overhead)
    // claim for view syncs and the entailment fixpoint was previously
    // proven only on 0.01→0.1; grade it on the honest decade too
    "q_bgp_view_path_seq", "q_bgp_view_path_expr", "q_bgp_agg_minmax",
    "q_owl_class")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SCALING.md")
    val sfDirs = Seq("/root/testdata/sf0.001" -> 0.001,
      "/root/testdata/sf0.01" -> 0.01, "/root/testdata/sf0.1" -> 0.1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    // SPARK_GRAFT_SF1=0 skips the synthetic sf1 decade (it is the
    // expensive part of the probe)
    val withSf1 = sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0"
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    val allKeys = (keys ++ sf1Keys).distinct
    val times = scala.collection.mutable.Map.empty[(String, Double), Double]
    def setup(dir: String): Unit =
      try {
        llm.IvfIndex.forEmbeddings(spark, dir): Unit
        llm.EmbeddingOps.indexForEmbeddings(spark, dir): Unit
        rdf.TripleStore.encodedFor(spark, dir): Unit
        rdf.TripleStore.quadsEncodedFor(spark, dir): Unit
        rdf.ExtVp.forDataset(spark, dir): Unit
        sources.Tables.analyzeAll(spark, dir): Unit
      } catch {
        case e: Throwable =>
          System.err.println(s"[scale] setup($dir) failed: ${e.getMessage}")
      }
    def time(dir: String, sf: Double, ks: Seq[String]): Unit =
      ks.foreach { k =>
        val fn = SparkEntry.queries(k)
        // a failed run records NaN, never its time-to-failure — garbage
        // timings must not flow into the graded slope table
        val ts = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, dir).count(); true } catch {
            case e: Throwable =>
              System.err.println(s"[scale] $k@$sf FAILED: ${e.getMessage}")
              false
          }
          if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
        }
        val good = ts.filterNot(_.isNaN)
        times((k, sf)) = if (good.nonEmpty) good.min else Double.NaN
        println(f"[scale] $k%-24s sf=$sf%-6s ${times((k, sf))}%7.2fs")
      }
    sfDirs.foreach { case (dir, sf) =>
      // ingest-time state per scale, as in Bench — slopes must measure
      // the recurring solve, not the one-off build
      setup(dir)
      time(dir, sf, allKeys)
    }
    if (withSf1) {
      // the dir name carries the GENERATOR version — the published
      // dataset is immutable, so a generator change must mint a new one
      val sf1Dir = ScaleData.generate(spark, "/root/testdata/sf0.1",
        graft.sources.AtomicStore.root("sf1_v2"), copies = 10)
      setup(sf1Dir)
      time(sf1Dir, 1.0, sf1Keys)
    }

    def slope(k: String, a: Double, b: Double): Double =
      math.log10(times((k, b)) / times((k, a))) / math.log10(b / a)
    val rows = allKeys.map { k =>
      val (t1, t2, t3) = (times((k, 0.001)), times((k, 0.01)), times((k, 0.1)))
      val t4 = times.getOrElse((k, 1.0), Double.NaN)
      val sf1Cols =
        if (t4.isNaN || t3.isNaN) "— | —"
        else f"$t4%.2f | ${slope(k, 0.1, 1.0)}%.2f"
      if (Seq(t1, t2, t3).exists(_.isNaN))
        s"| `$k` | — | — | — | — | — | $sf1Cols | FAILED (see stderr) |"
      else {
        val e = slope(k, 0.01, 0.1)
        // grade the LARGEST measured decade: sf1 where present (it sits
        // above the noise floor), else 0.01→0.1
        val graded = if (!t4.isNaN) slope(k, 0.1, 1.0) else e
        val verdict =
          if (graded <= 1.1) "near-linear or better"
          else if (graded <= 1.3) "mildly superlinear"
          else "SUPERLINEAR — investigate"
        f"| `$k` | $t1%.2f | $t2%.2f | $t3%.2f | ${slope(k, 0.001, 0.01)}%.2f | $e%.2f | $sf1Cols | $verdict |"
      }
    }
    val doc =
      s"""# SCALING — empirical per-decade slopes
         |
         |Generated by `graft.ScaleCurve` (local[$cpus], $runs runs/query,
         |per-query min; per-dataset ingest state prebuilt at each scale).
         |Slope e = log10(t_big/t_small) across one 10x data decade: e = 1 is
         |linear, e < 1 is overhead-dominated (the ~0.3 s per-job floor at
         |small SF), e >> 1 would flag a cost law that fails the 100 TB
         |extrapolation. The 0.01->0.1 column is the graded one; 0.001->0.01
         |is reported for the floor effect.
         |
         |The sf1 columns (round-10) time the top data-proportional keys
         |against a 10x synthetic scale-up of sf0.1 (graft.ScaleData:
         |referential-integrity-preserving key shifts; diagnostic only) —
         |the decade that sits fully above the noise floor. Where present,
         |its slope is the graded one.
         |
         || query | t(sf0.001) s | t(sf0.01) s | t(sf0.1) s | e(0.001->0.01) | e(0.01->0.1) | t(sf1) s | e(0.1->1) | reading |
         ||---|---|---|---|---|---|---|---|---|
         |@@ROWS@@
         |
         |Interpretation notes:
         |- Iterative fixpoints (`q_graph_cc`, `q_graph_pagerank`) add a
         |  log-diameter factor on top of linear work; their slope reads
         |  slightly above row-linear without implying a scale wall.
         |- Store-lifecycle keys (`q_sparql_mirror`, `q_sparql_with`,
         |  `q_sparql_update`) include one-off store init inside the query
         |  body; steady-state updates are O(|delta|) by the delta-log design
         |  (spec-asserted), so their slope overstates the recurring cost.
         |- LSH dedup (`q_dedup_minhash`, `q_dedup_cluster`) and the PPJoin
         |  n-gram join (`q_dedup_ngram`) are candidate-pair bound: slopes
         |  track candidate growth, which banding keeps near-linear in
         |  corpus size at fixed similarity thresholds.
         |- The round-7 lifecycle keys (`q_bgp_agg_store`,
         |  `q_bgp_extvp_ivm`) charge store/index bootstrap to the query
         |  body; their steady-state increments are O(|delta|) by
         |  construction (ViewStore.syncAgg folds view SEGMENTS only —
         |  plan-asserted in PlanShapeSpec; ExtVp.maintain touches only
         |  changed predicates), so the slope overstates recurring cost.
         |
         |## Hashed-span shuffle keys (round 7)
         |
         |`Dedup.spanDupStats` / `removeDupSpans` / `removeBenchmarkSpans`
         |take a `hashSpans` flag: the production path shuffles
         |`xxhash64(span)` 8-byte keys instead of span text (the default
         |stays text-keyed so the operator is exactly verifiable
         |cross-engine — the oracle rides the default). Measured on the
         |DedupSpec fixture corpus (120 docs x ~60 words, LZ4-compressed
         |shuffle): `spanDupStats` shuffle-write drops 147,069 -> 57,509
         |bytes (2.6x) — on the fixture the residual is dominated by
         |per-row framing and the (doc_id, idx) coverage shuffles, which
         |the hash does not touch; at k=8 real-corpus spans (~50-60 chars
         |vs 8 bytes) the ownership shuffle's payload term shrinks ~7x,
         |the dominant term at 100 TB. Equivalence (hashed == text on all
         |three operators) is pinned in DedupSpec.
         |""".stripMargin
        // interpolating the rows before stripMargin would strip their
        // leading table pipes — substitute after
        .replace("@@ROWS@@", rows.mkString("\n"))
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      doc.getBytes("UTF-8")): Unit
    println(s"[scale] wrote $out")
    spark.stop()
  }
}
