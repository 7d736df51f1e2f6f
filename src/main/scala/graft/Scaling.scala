package graft

/** Scaling-curve harness: times the heaviest declared queries across the
  * shipped scale factors (sf0.001 → sf0.01 → sf0.1, a 100× row-count span)
  * and fits a per-query growth exponent, so the SCALE.md complexity
  * arguments are MEASURED rather than asserted. This is the check that can
  * falsify the 100 TB story: a hidden super-linear candidate generator
  * (per-cell Σ|cell|², prefix-collision volume, CC round count) shows up
  * here as an exponent, long before a real scale-up finds it.
  *
  * Method. Spark has a large fixed per-query overhead at these SFs
  * (session, planning, JIT, task dispatch — ~0.1–0.5 s) that DOMINATES the
  * small-SF readings; a raw t(sf0.1)/t(sf0.01) ratio therefore
  * UNDER-states growth and would hide a quadratic whose absolute cost is
  * still small. We instead estimate each query's fixed overhead as its
  * sf0.001 time (data cost there is ≤1% of the sf0.1 data cost, so the
  * reading is ≈ pure overhead, slightly high) and fit the exponent on the
  * overhead-corrected span: e = log10((t(0.1)−ovh)/(t(0.01)−ovh)).
  * Over-estimating overhead deflates the denominator, so this errs toward
  * FLAGGING — conservative in the right direction. Noise discipline
  * follows Bench: per SF, two interleaved passes over the query list, min
  * per query, cache teardown untimed.
  *
  * Output: one JSON line per (query, sf) with the min time, then one line
  * per query with the fitted exponent, then a summary line. The committed
  * analysis lives in SCALING.md.
  */
object Scaling {

  /** The ~35 heaviest queries from the round-7 bench plus every query the
    * round-7 verdict named as an unmeasured-bound candidate (q169, q185,
    * q101, q110, q127, q63, q119, q65, q87, q30, q105). Streaming queries
    * are included but interpreted separately in SCALING.md — their
    * per-microbatch fixed overhead is much larger than batch overhead and
    * makes even linear work look flat. */
  val Heavy: Seq[String] = Seq(
    "q123_bucketed_join", "q155_kcore", "q139_dedup_eval",
    "q119_embedding_clusters", "q63_dedup_clusters", "q154_gram_matrix",
    "q169_interval_join", "q131_reachability", "q101_setsim_join",
    "q147_label_propagation", "q125_dedup_survivors", "q205_modularity",
    "q133_mmr_select", "q149_bpe_tokenize", "q206_conductance",
    "q142_cooccurrence", "q110_containment_join", "q79_prepare_corpus",
    "q99_pagerank", "q193_frequent_triples", "q207_assortativity",
    "q179_percentile_interp", "q204_negative_sampling",
    "q113_fingerprint_match", "q183_link_prediction", "q163_salted_join",
    "q199_edge_jaccard", "q105_triangle_count", "q65_salted_join",
    "q87_verify_candidates", "q30_dedup_minhash_lsh", "q127_semdedup",
    "q185_grid_join", "q137_bpe_merges", "q100_heavy_hitters",
    "q117_stream_sessions", "q121_stream_interval_join",
    // round-8 additions: the new census/eval/chunker queries
    "q213_sink_order", "q214_bigram_lm_score", "q215_mrr_eval",
    "q216_cdc_chunk_dedup", "q217_l_diversity",
    "q218_tokenizer_fertility", "q219_burst_detection",
    "q220_hist_equalize", "q221_dense_ids", "q222_incremental_cc",
    // late-round-8 additions: every new query with a join/iteration
    // whose volume could hide growth (fusion and censuses excluded as
    // structurally domain-sized)
    "q224_split_leakage", "q227_margin_knn", "q228_quantile_normalize",
    "q230_blocking_eval", "q231_payload_phash", "q234_sssp",
    // q247+ additions: every new query whose join/window/stream volume
    // could hide growth — the Theil-Sen pair join (time-domain² by
    // design), the probe-batch evals, the 5-geometry LSH re-banding
    // (bucket-census volume), the click×purchase pair join (per-user
    // activity²), the stratified rank window, the stateful streams
    "q256_theil_sen", "q257_ndcg_eval", "q269_lsh_curve",
    "q275_attribution_sweep", "q263_stratified_folds",
    "q264_kendall_tau", "q253_stream_quantile",
    "q267_stream_rate_limit",
    // round-9 additions: the chunk-corpus band join (q30's shape over
    // ~2.3x rows) and the containment eval (NOTE: carries q110's exact
    // truth join — its super-linear reading is the eval side's, by
    // construction; the triage path alone is the q113 capped shape)
    "q300_chunk_near_dup", "q301_containment_eval",
    // round-9 Stats surface: the fact-fact star joins (q305/q311/q312),
    // the n·w sorted-neighborhood pair join + distributed rank (q306),
    // and the user-keyed KM join (q308). q303/q304/q307/q309/q310 are
    // structurally domain-sized censuses (value-grid / day-grid /
    // 6-bucket frames) and excluded on the census-family grounds.
    "q305_market_share", "q306_sorted_neighborhood",
    "q308_kaplan_meier", "q311_local_supplier_volume",
    "q312_promo_revenue",
    // round-9 session-3 additions: the join/window carriers among
    // q320-q336 (the census-bound stats — q320/q321/q322/q326/q330/
    // q333 — are structurally domain-sized and excluded; q331's spine
    // is vocab-bounded). q324 is the broadcast-codebook slice join,
    // q327 the probe-batch brute-force eval, q328/q329 the top-k star
    // joins, q332 the user-partitioned lag window, q335 the
    // endpoint-sweep attribution, q323/q334 the embedding censuses
    // with the id join / moment explosion.
    "q323_centroid_drift", "q324_pq_assign", "q325_cohort_retention",
    "q327_matryoshka_eval", "q328_shipping_priority",
    "q329_returned_items", "q332_interarrival_cv", "q334_class_separability",
    "q335_multi_touch",
    // round-9 session-4 additions: the join/iteration carriers among
    // q337-q351. q338 runs BOTH verified dedup pipelines (eval-priced,
    // q139's family), q339 the user-keyed survival joins, q341 the
    // iterative word-graph PageRank, q344 the gram outer-product census,
    // q346 the trigram first-bucket min census, q350 the labeled-pair
    // field joins, q351 the iterative matvec over the same census.
    // q337/q340/q342/q343/q345/q348/q349 are structurally census/
    // scalar-bounded (vocab² / cells / day frames) and excluded on the
    // census-family grounds; q347 is the streaming twin of q343.
    "q338_capture_recapture", "q339_logrank", "q341_textrank",
    "q344_cka_prefix", "q346_vocab_growth", "q350_fellegi_sunter",
    "q351_power_iteration",
    // q352-q359 late additions: q356 carries the signature-blocked
    // name join (q194's volume law), q357 the B-way relabeling
    // explode over the user frame. The rest are census/scalar-bounded
    // (source / value-band / day frames) and excluded on the standing
    // grounds; q353 is q346's streaming twin.
    "q356_typo_join_dl", "q357_permutation_test",
    // round-9 session-5 additions: the TPC-H portfolio completions all
    // carry fact joins (Q7 two-dimension-path star, Q17 correlated
    // partkey agg, Q18 HAVING-over-join, Q19 broadcast disjunct scan,
    // Q22 date-pruned anti-join)
    "q360_trade_volume", "q361_small_qty_revenue", "q362_large_orders",
    "q363_disjunctive_revenue", "q364_lapsed_customers",
    // q365 is four fact-keyed shuffles (bipartite HITS); q366 runs the
    // star-contraction CC over q231's band pairs. q367/q368 are
    // census/domain-bounded (vocab-head moments / value-band-bin
    // triple) and excluded on the standing census grounds.
    "q365_hits", "q366_phash_clusters",
    // round-9 session-6 additions: the portfolio completions that
    // carry fact joins or fact-wide aggregates (Q2 correlated-min over
    // the region-pruned fact, Q9 five-table profit join, Q13 outer-join
    // double aggregate, Q16 pair-distinct census, Q20 nested-aggregate
    // semi, Q21 aggregate-rewritten exists/not-exists) plus the q381
    // probe-batch retrieval eval. q371/q372/q374/q375/q377 are
    // pushdown/census/scalar-bounded; q382/q383 one-scan censuses;
    // q384 rides q202's domain-sized census spine — excluded on the
    // standing grounds.
    "q370_min_cost_supplier", "q373_product_profit", "q376_custdist",
    "q378_supplier_counts", "q379_excess_suppliers",
    "q380_sole_failing_supplier", "q381_map_eval",
    // round-9 session-7 additions: the carriers among q389-q400 —
    // q390's orders⋈customer fact join, q393's total-order ntile over
    // the user frame, q396's lineitem⋈supplier fact join, q397's
    // wedge census over the brand graph, q398's corpus-wide typed
    // aggregator. q389/q391/q392/q394/q395/q399 are day-frame or
    // user-keyed censuses and q400 the q395 streaming twin — excluded
    // on the standing census grounds.
    "q390_jackknife_ratio", "q393_uplift_quintiles",
    "q396_herfindahl", "q397_adamic_adar", "q398_bottomk_sample",
    // round-10 session-8 additions: the probe-batch retrieval evals
    // (q381's law), the brand-graph sweeps (q397's wedge law), and
    // the fact-wide exact-distinct advisor. q426-q433, q438, q440,
    // q441 are value-domain / day / month / source censuses and q442
    // is q433's streaming twin — excluded on the standing grounds.
    "q434_rbp_eval", "q435_err_eval", "q436_rich_club",
    "q437_katz_index", "q439_bloom_sizing",
    // session-8b: q448 carries the corpus token explode (q59/q98
    // law), q449 the four audited FK equi-joins. q443-q447 are
    // daily/weekly/month censuses — excluded on the standing grounds.
    "q448_rake_keywords", "q449_join_cardinality",
    // session-8c: q450 carries q351's census+iteration (round-
    // dominated, SF-invariant — measured flat), q452 the token
    // explode. q451 is q446's streaming twin; q453/q454 are
    // write+scan / typed-scan bounded — excluded.
    "q450_rayleigh_certificate", "q452_burrows_delta",
    // session-8 closeout carriers: q455 the winnow token pass, q464
    // the CC stack, q470 the audited q12 fact chain, q473 the
    // fact⋈part decomposition, q475 three bounded retrieval runs.
    // q456-q478's other additions are census/advisory/write-scan
    // bounded or streaming twins — excluded on the standing grounds.
    "q455_cross_lingual_contamination", "q464_cluster_size_profile",
    "q470_stage_reconciliation", "q473_price_volume_decomposition",
    "q475_bm25_param_sweep",
    // session-8 final batch: q483 carries the LSH candidate+verify
    // stack, q485 the orderkey fact⋈fact bipartite closure, q486 the
    // |parts| total-order window, q482 the user-keyed lag pass.
    // q479-q481/q484 are census/IVM/scalar-bounded or streaming twins.
    "q482_session_gap_sweep", "q483_dedup_threshold_sweep",
    "q485_degree_distribution", "q486_abc_classification",
    // session-8 closeout II: q488 the fact-join edge derivation,
    // q493 the (user, day) census self-join, q494 the CC+survivor
    // stack. q487/q489-q492/q495 are census/metadata/streaming
    // bounded — excluded on the standing grounds.
    "q488_graph_reciprocity", "q493_growth_accounting",
    "q494_dedup_savings")

  def main(args: Array[String]): Unit = {
    val sfDirs = sys.env.getOrElse("SPARK_GRAFT_SF_LIST",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").toSeq
    val spark = GraftSession()

    // "ALL" sweeps every declared query (the sf10 endurance mode: one
    // reading per key at the third decade, not just the Heavy carriers).
    val names =
      if (args.toSeq == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else Heavy.filter(SparkEntry.queries.contains)
    // Endurance runs at sf10 take minutes per heavy query; a single pass
    // per SF (vs the default min-of-2) halves the wall while still
    // answering the completes-at-all / order-of-magnitude question.
    val passes = sys.env.getOrElse("SPARK_GRAFT_SCALING_PASSES", "2").toInt

    def materialize(name: String, sfDir: String): Double = {
      val dt =
        try {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      spark.catalog.clearCache()
      dt
    }

    // warmup on the smallest SF: JIT + parquet footer IO, untimed
    names.headOption.foreach(materialize(_, sfDirs.head))

    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "scaling_full.jsonl"))
    // Flush each reading as it lands: an endurance run that dies at query
    // 400 of 503 should still leave 399 adjudicable rows on disk.
    val out = java.nio.file.Files.newBufferedWriter(outPath)
    def emit(line: String): Unit = {
      println(line); out.write(line); out.newLine(); out.flush()
    }

    // Per-reading rows go to the artifact too: a single-SF sweep (the
    // full-suite sf10 endurance run) has no exponent rows, so without
    // these the output file would be empty. Single-pass mode emits each
    // reading AS IT LANDS (a JVM death at query 400 of 505 leaves 399
    // adjudicable rows); min-of-2 mode can only emit after both passes.
    val times: Map[(String, String), Double] = sfDirs.flatMap { sf =>
      if (passes < 2) {
        names.map { n =>
          val t = materialize(n, sf)
          emit(s"""{"query":"$n","sf":"$sf","sec":$t}""")
          (n, sf) -> t
        }
      } else {
        val p1 = names.map(n => n -> materialize(n, sf))
        val p2 = names.map(n => n -> materialize(n, sf)).toMap
        p1.map { case (n, a) =>
          val b = p2(n)
          val t = if (a < 0 || b < 0) math.max(a, b) else math.min(a, b)
          emit(s"""{"query":"$n","sf":"$sf","sec":$t}""")
          (n, sf) -> t
        }
      }
    }.toMap
    names.foreach { n =>
      val ts = sfDirs.map(sf => times((n, sf)))
      if (ts.forall(_ >= 0) && ts.size >= 3) {
        val ovh = ts.head // sf0.001 reading ≈ fixed overhead (slightly high)
        val eps = 0.010   // 10 ms floor: below this the signal is noise
        val d1 = math.max(ts(1) - ovh, eps)
        val d2 = math.max(ts(2) - ovh, eps)
        // exponent over the 10× span sf0.01 → sf0.1 (the span where data
        // cost is measurable); raw uncorrected ratio reported alongside
        val e = math.log10(d2 / d1)
        val raw = math.log10(ts(2) / ts(1))
        emit(f"""{"query":"$n%s","t":[${ts.map(t => f"$t%.3f").mkString(",")}],"exp":$e%.2f,"exp_raw":$raw%.2f}""")
      }
    }
    out.close()
    spark.stop()
  }
}
