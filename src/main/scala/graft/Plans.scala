package graft

import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans for representative queries → PLANS.md.
  * Usage: runMain graft.Plans [sfDir] [outFile]
  */
object Plans {

  private val picks = Seq(
    "q01_pricing_summary" -> "filter pushdown + two-phase hash aggregate",
    "q13_broadcast_side_join" -> "broadcast side-input join (NEXMark q13 analog)",
    "q17_multi_join_revenue" -> "star join: broadcast dims + shuffled fact joins",
    "q12_sort_limit" -> "top-k via TakeOrderedAndProject (no global sort)",
    "q22_tumbling_window" -> "event-time tumbling window aggregation",
    "q33_minhash_lsh_pairs" -> "MinHash LSH: per-row signatures, id-only band join",
    "q37_knn_bruteforce" -> "broadcast query vectors, distributed scan side",
    "q52_asof_join" -> "as-of join via single (key,time) shuffle + window",
    "q62_asof_native" -> "native AsOfJoinExec (custom strategy): per-side exchange+sort, single-pass merge",
    "q06_rank_per_key" -> "rank-k filter → WindowGroupLimit partial top-k before the shuffle (built-in; no custom rule needed)",
    "tpch_q05" -> "6-table join: dims broadcast, date filter pushed to the orders scan",
    "tpch_q18" -> "HAVING-subquery join with top-k output (TakeOrderedAndProject)",
    "q61_minhash_md5" -> "oracle-reproducible MinHash LSH (md5 base hashes, id-only band join)",
    "q82_decontaminate" -> "decontamination: broadcast eval n-gram digest, corpus text never shuffles",
    "q84_tfidf_topk" -> "vocabulary build: explode → two-phase (lang,token) agg → top-k over the small vocab relation",
    "q85_kmeans_update" -> "centroid update: broadcast argmin carrying the vector via min_by (no vec_id join-back exchange) + element-wise VecSum aggregate (k×dim state)",
    "q93_semdedup" -> "SemDeDup: broadcast-centroid assign, pair join confined to cluster-local shuffles",
    "q94_bloom_dedup" -> "bloom build = bit_or agg over (word,mask); probe = map-side broadcast join",
    "q95_zorder_layout" -> "z-value = one codegen'd bit-fold map pass; 1-row bounds broadcast",
    "q96_hist_quantiles" -> "mergeable quantile rollup: global tier re-aggregates the tiny (bin,count) relation",
    "q99_corpus_report" -> "one-plan report card: single tokenize pass, GROUPING SETS tiers, hash-only dup shuffle",
    "q100_cms_topk" -> "Count-Min sketch: map-side-combined token counts → 8192-cell sketch, broadcast lookup, top-k without a global sort",
    "q101_source_overlap" -> "contamination matrix: 16-token-prefix md5 only, pair join after per-source distinct",
    "q110_graph_rank" -> "power iteration over adjacency lists: collect_set folds dedup+degree+neighbors into the one build shuffle; each round is explode → partial-summed groupBy, no per-round edge joins (hub-skew salt-split path available via graphRank nSeg)",
    "q111_inverted_index" -> "inverted index: WindowGroupLimit truncates postings BEFORE collect (O(k) agg state)",
    "q112_bm25_topk" -> "BM25 serving: 3-term query broadcast, per-doc score agg over candidates only",
    "q105_ivfpq_ann" -> "IVF-PQ: broadcast centroid routing (k=16), per-list candidate join, PQ distance inside codegen",
    "q130_rows_sliding" -> "rows-schedule sliding window: per-key arrival-order ROWS frame + every-slide-th emission filter, one (key) shuffle",
    "q133_source_quota" -> "per-source quota: row_number <= K compiles to WindowGroupLimit partial top-k below the exchange; output constant in corpus size",
    "q134_setsim_prefix_join" -> "exact setsim join: rare-token prefix probes the token index (no frequent-token blowup), int64 length filter inside the join, exact-intersection verify on distinct candidate pairs",
    "q135_token_budget" -> "token-budget selection: row_number <= budget pre-prune compiles to WindowGroupLimit (n_tok >= 1 makes it a provable superset), bounding the one (lang) exchange; cumsum sorts <= budget rows per language; rollup reuses the window partitioning",
    "q136_dup_span_coverage" -> "duplicated-span coverage: one scan, no join — map-side (hash,doc) counts, distinct-doc test is a COUNT window over the hash partition, text never shuffles (boilerplate-skew salt-split path via dupSpanCoverage nSeg, q110-style)",
    "q137_colloc_pairs" -> "collocations, single-pass form: every consumer reuses the one (doc,prev,cur) Exchange; TakeOrdered-30 before the lift joins",
    "q138_bigram_surprisal" -> "bigram LM scoring, single-pass form: one position-scale Exchange reused by unigram counts, model, and scoring; model joins shuffle-keyed (no broadcast-vocab assumption), only (doc, bits) reach the rollup",
    "q139_containment_decontam" -> "containment decontamination: eval gram digest broadcasts, train windows explode map-side, argmax over eval-keyed tiny window",
    "q141_lasttouch_attribution" -> "last-touch attribution: one user-keyed window pass carries the running last-click struct; no as-of join, channel rollup shuffles one row per purchase",
    "q142_hard_negatives" -> "hard-negative mining on the IVF route: broadcast centroids + query probes, map-side max_by assignment, one bounded-state groupBy (KTopScored) — the candidate relation never shuffles",
    "q143_span_dedup_budget" -> "span-dedup budget: positions ride the q136 hash scan, >=2-docs test = min/max windows over the hash partition (salt-split degrade via withCrossDocDup nSeg), interval union = one lag pass re-keyed by doc",
    "q144_bpe_merges" -> "BPE training: one corpus pass to word counts; BATCHED merge rounds on the checkpointed word-type table (safe-prefix selector, exact vs sequential) — top candidates collect to the driver and apply as literal codegen'd array folds, no per-merge broadcast join",
    "q145_bpe_segment" -> "BPE application report: one corpus pass to (source,word) counts, vocab-cardinality join to the learned word-type table — nothing per-position after training",
    "q146_source_divergence" -> "per-source divergence: (source,token) counts once, global model rolls up through the reused Exchange, all bit terms folded as masses",
    "q147_ivf_learned" -> "IVF over LEARNED centroids: Lloyd run to CONVERGENCE (lloydPass fuses update+stats, driver stops at improvement < 1 or 4 iters; passes eagerly checkpointed at 16 rows) feeding the q40-shape 2-probe serve — corpus contributes one long + one carried vector per assignment pass",
    "q148_split_leakage" -> "split-leakage audit: banded LSH pair join (never all-pairs) + map-side md5 split assignment; classification joins at PAIR cardinality, 6-row matrix rollup",
    "q149_kmeans_convergence" -> "Lloyd convergence report: the stats ride the SAME lloydPass as each round's centroid update (16-row cell rollup collected per round), so the final plan is just the driver-assembled report — no corpus work beyond training itself",
    "q150_zipf_profile" -> "Zipf profile: one (source,tok) count pass; rank window pre-prunes rk <= 256 into WindowGroupLimit (never sorts a full vocabulary on one task); totals reuse the count exchange",
    "q151_dup_spectrum" -> "duplicate-mass spectrum: in-row CDC chunking, md5 map-side so only (digest, ch_tok) shuffles once with map-side combine; 6-row rollup — text never moves",
    "q152_ivf_index_serve" -> "persisted-IVF serve: STORED centroids broadcast, probe list collected (<= nlists ids) and pushed as a STATIC partition filter on the cid-partitioned postings — the scan plans to nprobe directories; exact re-rank + broadcast cell-size join",
    "q153_ivf_incremental" -> "incremental IVF ingest: one broadcast-argmin cross of the batch vs the stored 16-row centroid table, generation append without touching base postings, occupancy = 16-row rollup left-joined to the centroid ids",
    "q154_span_dedup_apply" -> "span-dedup APPLY: q143's hash scan + dup flags fold duplicated starts into MERGED interval structs (one doc-keyed sort shared by lag+running-break windows); the interval join to documents is AQE-broadcastable (dup docs only) and the strip is one codegen'd filter lambda — text never rides a hash shuffle",
    "q159_ivfpq_store" -> "PQ store build+serve: coarse assignment and the literal-codebook pq_encode ride ONE corpus pass; serve carries the 8x16 per-query LUT on the broadcast probe side, the probed scan reads (vec_id, code) — one long per candidate — and pq_adc sums 8 JIT'd lookups",
    "q163_hybrid_retrieval" -> "hybrid RRF: tf/df/len fold from one (tok,doc) aggregation, 5 rare terms/query bound the sparse candidates (per-query window over posting lists only), the dense exact side folds map-side through the bounded top-k aggregator, fusion joins <= 40 rows/query",
    "q164_index_time_travel" -> "time-travel serve: two serves against two MANIFESTS over the same immutable directories — each probe list pushed as its epoch's static partition filter; the asof read costs the same plan as the live one",
    "q165_filtered_pq_ann" -> "filtered PQ ANN: (cid,label,gen) layout gives BOTH partition levels static pruning predicates; probed same-label candidates ranked by pq_adc on one long per row",
    "q166_reservoir_sample" -> "deterministic reservoir: rank-by-md5 window compiles to WindowGroupLimit — partial top-k per task, the exchange carries <= k rows per task x stratum",
    "q167_kneser_ney" -> "Kneser-Ney scoring: bigram model folds map-side to type cardinality (N1/Ncont/Nc derive from the SAME checkpointed relation); scoring join broadcasts at this vocab, degrades to one co-partitioned position shuffle at scale",
    "q168_snapshot_diff" -> "reindex audit: full-outer join of two partition-pruned posting snapshots on vec_id, per-row classes fold map-side to cell cardinality",
    "q169_pagerank" -> "damped PageRank: adjacency checkpointed once; each round = mass join + explode + partial-summed groupBy (edge-volume shuffle, no per-round edge joins); driver stops on the relative L1 residual",
    "q170_canonical_docs" -> "canonical-doc election: max_by argmax per cluster rep + join-back (no per-cluster row_number window — mega-cluster safe); verdicts join at member cardinality",
    "q171_semdedup_lloyd" -> "SemDeDup: converged-Lloyd assignment (broadcast centroids, ONE argmin exchange), pair join shuffles on cid only (intra-cell pairs, AQE-splittable), verdict rollups partial-aggregate",
    "q173_ann_tuning_curve" -> "ANN tuning curve: four probe-pruned serves of ONE stored PQ index (fixed 1/2/4 + the ratio-adaptive router, static partition filters per level), refine-25/refine-100 off one shortlist-100 ADC ranking, routing ceiling = exact-top5 homes semi-joined to the probed sets, all vs the session-shared exact ground truth",
    "q181_semdedup_capped" -> "capped SemDeDup: exact-dup collapse (one qv-keyed aggregate), recursive median bisection touches ONLY over-cap cells per round (semi/anti joins + broadcast axis/threshold/mean rows, rank window per hot cell), verdict pair join shuffles on the leaf path — pair mass bounded cap*N_distinct",
    "q182_maxsim_store" -> "MaxSim from disk: query chunks/vectors derive in-flight, df + posting reads prune to the batch's token BUCKETS (static partition filters), candidates join stored postings on tok, scoring = the q178 SHUFFLE_HASH tail over the stored chunk relation",
    "q174_embedding_drift" -> "drift monitor: one broadcast-argmin corpus pass; TVD + distortion fold to <= 10 x nlists rows (slice x cell frame), slice boundary from a 1-row max broadcast",
    "q175_index_merge" -> "shard merge serve: source's live postings re-assigned via one broadcast-argmin pass and committed as an ingest generation; merged serve = the q152 probe-pruned plan over union'd generation directories",
    "q172_release_to_serving" -> "release-to-serving composition: q155's stage frames reused as-is, admitted ids broadcast-semi-join the embedding scan, recall gate joins the 2-stage serve against the session-shared exact ground truth at query cardinality",
    "q176_sequence_packing" -> "sequence packing: ONE documents scan; the only exchange is the per-source cumsum window carrying (n_tok, id) — offsets, sequence ids, and boundary splits all derive arithmetically from the running sum",
    "q177_epoch_order" -> "epoch ordering: upsample = explode over a literal copy array (map-side), shard = pmod(md5), per-(epoch,shard) rank window compiles to a bounded sort per shard — no global sort at any point",
    "q178_maxsim_chunks" -> "late-interaction MaxSim: chunk vectors pack to ONE 16-long array row off one scan (dim-granular form spilled 37+ GB); query-side vectors broadcast (1% sample), corpus side SHUFFLE_HASH so the pair relation is never sorted; MaxSim = max-then-sum partial aggregates; final top-5 compiles to WindowGroupLimit",
    "q179_store_clone" -> "store clone serve: cloneAt materializes the epoch's masked logical contents as fresh base generations (one partition-pruned scan + one partitioned write, no re-assignment) — the serve is then exactly the q152 probe-pruned plan over the clone's directories",
    "q180_release_packing" -> "release-to-loader: the q155 stage chain keeps its postures; the packing adds ONE cumsum window over the ADMITTED rows only (budget-bounded per language) — manifest cost tracks the release size, not the corpus",
    "q185_dsir_select" -> "DSIR selection: native one-digest gram hashing, bucket models fold to 256 rows map-side and broadcast, per-doc weight partial-aggregates before its exchange; only the per-source (weight, id) rank relation is corpus-count-sized",
    "q186_watermark_detect" -> "watermark z-test: ONE codegen'd map pass (inline per-transition hash, no explode), text never shuffles, per-source rollup is the only exchange",
    "q187_semantic_decontam" -> "semantic decontamination: broadcast eval vectors (BNLJ = the q37 class), per-eval argmax via an order-free packed max aggregate — map-side partials collapse to |eval| rows before the single exchange",
    "q188_release_diff" -> "release diff: both budget tails over ONE shared dedup/quality head (checkpointed), diff joins carry (doc_id, lang, n_clean) triples only — fixed-width, release-sized, language-cardinality rollups",
    "q189_incremental_release" -> "incremental release: the corpus-scale old-window digest joins shuffle-keyed on the 16-hex hash (NOT broadcast — the q136 exchange class; production scans the release's materialized digest instead of deriving it), everything downstream is batch-sized",
    "q191_binary_sign_ann" -> "binary-sign ANN width table: ONE 100-deep Hamming scan (map-side bounded top-k, checkpointed); widths 20/64/100 derive by rank filters — the wrank re-rank compiles to WindowGroupLimit, so the width sweep costs one window over the 100-deep relation, never a second corpus scan",
    "q192_quality_train" -> "perceptron trainer: feature build is one scan to a dense 33-long array per doc; each epoch is a codegen'd map (weights inlined as an array literal) + a VecSum partial aggregate — driver state 33 longs, the Lloyd loop posture",
    "q193_labeler_agreement" -> "labeler kappa: three integer label tests in one scan, contingency cells partial-aggregate to (pair × source) rows — the only exchange is labeler-pair × source cardinality",
    "q194_preference_pairs" -> "preference pairs: both rank directions compile to WindowGroupLimit (partitions pre-prune to local top-4 before the per-language exchange); the pair join matches 4 rows per language",
    "q195_binary_store" -> "binary tier from disk: stage 1 scans ONLY the 16-byte codes relation; the refine fetch pushes the shortlist's bucket set as a partition filter on the vectors relation (<=20 of 64 dirs for one query)",
    "q196_auc_exact" -> "exact AUC: one scan collapses to (source x permille-score) counts; the tie-group window and the kappa-grade integer rational run on that tiny relation",
    "q198_threshold_calibration" -> "threshold calibration: the 90%-recall order statistic is one per-source rank window over the positives (k grows with the corpus - the documented log-histogram swap point); admit counts run in one pass",
    "q199_data_map" -> "data map: three epoch snapshots inline as array literals into ONE fused codegen'd margin pass over the checkpointed features; the rollup exchange carries (source x 4) rows",
    "q200_trained_filter_release" -> "trained-filter release: q155's chain with the gate = averaged-perceptron score >= calibrated threshold; training is driver-bounded (33 longs), scoring one inlined-weights map, chain stages keep their own postures",
    "q201_lsh_operating_points" -> "LSH operating points: four band-keyed id-only joins off one checkpointed signature relation; exact verification only on the (16,1) ceiling candidates (never all-pairs)",
    "q204_lsh_sampled_ceiling" -> "sampled LSH ceiling: deterministic 1-in-4 md5 doc sample applied BEFORE the checkpoint, so all four banded self-joins and the exact verify run ~16x smaller; estimator + CI assemble driver-side (LocalTableScan report)",
    "q205_doremi_weights" -> "DoReMi training: corpus work is ONE checkpointed (source,tok,c) relation; each round's mixture/cost aggregates are vocab-bounded exchanges collected to |sources| rows — the report is driver state (LocalTableScan)",
    "q206_doremi_mixture" -> "DoReMi admission: one md5-ordered cumsum window per source partition over (doc, n_tok); the learned weight table broadcasts (|sources| rows); nothing else touches the corpus",
    "q207_ivf_binary" -> "IVF-routed binary tier: converged-Lloyd routing (broadcast 16-row centroids), Hamming scan confined to probed cells, per-(query,cell) top-100 folds map-side; operating points derive by rank filters off the one probed scan",
    "q208_ivf_binary_store" -> "composed tier from disk: cid-partitioned codes read under the probe list's static partition filter; the lifecycle report is two serves (pre/post compaction) of the q207 shape against the committed snapshot",
    "q209_maxsim_capped" -> "capped MaxSim: the 4-bit proxy stage admits <= cap candidate docs per query (checkpointed rank relation); ONE full-vector SHUFFLE_HASH scoring join at the widest cap, every narrower cap derived by the carried admission rank",
    "q210_doremi_release" -> "DoReMi-budgeted release: q155's chain head unchanged (checkpointed survivor relation), budgets = learned ppm x clean token mass, admission = q206's cumsum window per source over the survivors; weight table broadcasts")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Session.local(Session.cpus)
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `runMain graft.Plans`)\n\n")
    sb.append(s"Data: `$sfDir`. Plans are the pre-execution formatted plans; AQE\n")
    sb.append("may further coalesce partitions / convert joins at runtime.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"PLANS written: $out (${picks.size} queries)")
    spark.stop()
  }
}
