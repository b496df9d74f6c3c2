package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{SessionMemo, Tables, TempArtifacts}

/** Scale-evidence bench: runs the dedup + ANN family on synthesized
  * 1x / 2x / 5x / 10x copies of the sf0.1 corpus and reports each
  * query's scaling exponent alpha = log(t_10x / t_1x) / log(10) — the
  * one-command check that the blocked/bucketed operators actually grow
  * near-linearly (alpha ≈ 1) instead of quadratically (alpha ≈ 2), the
  * claim every oversize guard and chunk grid exists to defend.
  *
  * Corpus synthesis preserves structure instead of inflating dup rates:
  * copy k of a document salts EVERY token with `_k`, so each copy
  * reproduces the original's internal near-dup clusters while sharing
  * no shingles across copies — output size, vocabulary, and candidate
  * volume all scale by s, which is exactly the regime where a linear
  * operator shows alpha ≈ 1. (A naive row replication would create
  * s-sized cross-copy dup clusters — a different, denser problem whose
  * output grows s² and which no correct near-dup pass can keep linear.)
  * Embeddings shift vec_ids per copy and nudge each vector by k/1000 so
  * copies are distinct but the cell/label geometry is preserved; the
  * probe set stays the original NQueryVecs, so ANN times measure
  * corpus-side scaling at fixed query load.
  *
  * Timing is STEADY STATE: each query runs twice per scale and the
  * second run is reported, so one-time session/memo builds (shingle
  * table, persisted indexes) do not smear the exponent; memos and
  * caches are evicted between scales so each scale starts cold then
  * warms identically. Fixed per-query overhead (~0.1–0.3 s of job
  * machinery) biases small-corpus points, so alpha is computed from the
  * 1x→10x endpoints where the bias is smallest — expect alpha slightly
  * BELOW 1 for linear operators at these sizes.
  */
object ScaleBench {
  /** Default scale ladder; override with SPARK_GRAFT_SCALES="1,2,5,10,20"
    * for targeted deeper ladders (e.g. the 20x exponent-drift check on
    * the bounded-block exact-verify dedup paths — their candidate volume
    * is the one surface whose alpha could creep toward 1 as blocks
    * saturate, so it gets re-measured at a deeper point than the
    * full-table default).
    */
  val Scales: Seq[Int] = sys.env.get("SPARK_GRAFT_SCALES")
    .map(_.split(",").toSeq.map(_.trim.toInt))
    .getOrElse(Seq(1, 2, 5, 10))

  val QueryNames = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram_jaccard",
    "q_dedup_simhash", "q_dedup_clusters", "q_decontaminate_bloom",
    "q_dedup_incremental_bucketed", "q_dedup_weights",
    "q_sim_cosine_topk", "q_ann_lsh",
    "q_ann_ivf", "q_ann_incremental", "q_embed_quantize",
    "q_weighted_sample", "q_pack_sequences", "q_repeated_spans",
    // event/ingest family (reads the synthesized events table): window
    // programs should hold alpha ≈ 1 (per-user histories scale in count,
    // not depth); the upsert's per-batch merge scales with batch size
    "q_scd2", "q_sessionize", "q_event_window", "q_asof_join",
    // SQL-text frame-spec windows: RANGE INTERVAL + ROWS frames over
    // one shared sort — expect alpha ≈ 1 (per-user histories scale in
    // count; WindowExec frame state is bounded sliding windows)
    "q_sql_window_frames",
    // recursive CTE (top-down frontier walk): O(reachable keys) total
    // recursion volume; the synthesized copies shift custkeys by
    // disjoint ranges whose parent chains exit the key set, so the
    // walk's OUTPUT stays base-tree-sized while each iteration's
    // frontier⋈customer join probes the s-scaled table — the exponent
    // prices the per-iteration join scans. (The bottom-up ancestry
    // shape this replaced tripped Spark's 1M recursion row limit at 5x
    // on its first ladder run — the ladder doing its job.)
    "q_sql_recursive",
    // correlated LATERAL top-k: decorrelated into a ranked window over
    // the orders⋈customer join — expect the join's linear exponent
    "q_sql_lateral",
    "q_compact", "q_stream_upsert", "q_event_sequences",
    // r21 — the state-store-floor queries the round's state-partition
    // sizing touched (16384 rows/partition, noData skip on the inner
    // join): state partitions grow linearly with input rows, so expect
    // the per-batch commit floor at 1x and alpha ≈ the stateful
    // operator's data term beyond it
    "q_stream_join", "q_stream_event_window", "q_stream_sessions",
    "q_stream_dedup",
    // streaming RTBF: the upsert's replay (one store generation per
    // microbatch) plus one tombstone generation (deletion-set-sized) —
    // expect q_stream_upsert's flat-floor line
    "q_stream_forget",
    // versioned (copy-on-write) store read: per-generation cost is
    // delta + touched-bucket sized, and the snapshot read is
    // manifest-resolved pruning over <=Buckets dirs — expect the
    // q_stream_upsert microbatch floor
    "q_time_travel",
    // the RTBF audit adds one tombstone generation and reads TWO
    // snapshots (pre/post) through the same manifest pruning — expect
    // q_time_travel's line plus one bounded read-back
    "q_forget_audit",
    // OPTIMIZE + VACUUM: the replay's microbatch floor plus ONE
    // live-store-sized compaction rewrite and a file-listing vacuum
    // (bucket-count-bounded metadata walk) — expect q_time_travel's
    // line plus a linear rewrite term
    "q_store_vacuum",
    // CDC between generations: two manifest-pruned snapshot scans into
    // one user-keyed full-outer exchange — live-store-sized, expect
    // q_forget_audit's line
    "q_change_feed",
    // timestamp-resolved snapshot read: q_time_travel's manifest pruning
    // plus a descending driver-side manifest walk (retained-generation-
    // bounded metadata, zero data cost) — the shared-ingest line
    "q_time_travel_ts",
    // interior CDC pair: two manifest-pruned reads of the SAME memoized
    // store into one key exchange — q_change_feed's read shape minus
    // the ingest (whichever sibling sorts first pays it)
    "q_change_feed_pair",
    // point lookup (serving read): two single-bucket-dir scans with the
    // key pushed down + one 1-row min/max aggregate over events — the
    // aggregate scan is the only corpus-sized surface (expect a flat
    // line with a small linear term from the min/max pass)
    "q_store_lookup",
    // OCC race: two ntile merges + one compaction + the rebased commit
    // over a private store — per-generation cost is delta + touched-
    // bucket sized, and the rebase itself is MANIFEST-ONLY (bounded
    // metadata, no data rewrite), so expect q_store_vacuum's
    // write-bound replay line
    "q_concurrent_commit",
    // add-column evolution: two ntile merges + one mixed-writer-schema
    // snapshot read (grouped scans union by name, no inference) — the
    // q_concurrent_commit class minus the compaction rewrite
    "q_store_schema_evolution",
    // rewind-and-replay: three ntile merges + one MANIFEST-ONLY restore
    // (zero data moved — the copy-on-write payoff priced directly) —
    // expect q_concurrent_commit's replay-bound line minus its
    // compaction rewrite
    "q_store_restore",
    // zone-map predicate read: bucket pruning through the manifest
    // stats happens DRIVER-SIDE on bounded metadata, the surviving
    // scan is a fixed key band — expect the flat steady-read line of
    // q_change_feed_pair (the shared ingest paid by context)
    "q_store_skipping",
    // predicate DELETE: two ntile merges + one bounded match-count
    // aggregate + a rewrite of only the matched buckets (live-store-
    // sized worst case) — the q_concurrent_commit replay class with
    // the compaction rewrite replaced by the delete rewrite
    "q_store_delete",
    // incremental CDF consumer: per generation, two manifest-pruned
    // snapshot reads + one live-store-sized key join (generation count
    // is FIXED by the fixture) — expect q_change_feed's line times the
    // window count, alpha ~ 1
    "q_store_mv",
    // persisted-state variant: the same per-window feed joins plus one
    // key-state-sized parquet write per window — q_store_mv's line
    // with a linear state-write term
    "q_store_mv_persisted",
    // DSv2 front-door band read: planner-side zone-map pruning over
    // bounded manifest metadata + a fixed key band scan — expect
    // q_store_skipping's flat steady-read line
    "q_store_dsv2",
    // predicate UPDATE: q_store_delete's replay class with the delete
    // rewrite replaced by the assignment rewrite (matched buckets only)
    "q_store_update",
    // SQL AS-OF view: the q_time_travel pruned scan behind a temp view
    // + one bucket-grouped rollup — the steady-read line
    "q_store_sql_asof",
    "q_robust_outliers", "q_watermark_audit",
    // streaming KMV distinct: salted copies add USERS (ids shift per
    // copy) inside the same fixed hour windows, so the sketch side is
    // constant (k longs per window) while the exact-acceptance side's
    // distinct exchange scales with users — expect alpha ≈ 1 from the
    // exact epilogue, with the state-bounded claim carried by the
    // sketch column staying ≤k at every scale
    "q_stream_distinct",
    // linkage/index family: salted copies share no first-token blocks
    // and no vocabulary across copies, so blocked fuzzy matching, the
    // bounded-postings index build, and the fingerprint diff should all
    // hold alpha ≈ 1
    "q_fuzzy_match", "q_inverted_index", "q_snapshot_diff",
    // salted copies share no bigrams, so the common set and per-doc
    // coverage scale by s — the broadcast join-back's linear regime
    "q_bigram_coverage", "q_drift_ks", "q_schema_evolution",
    "q_winsorize",
    // round-11 additions: the projection is one map-side pass over the
    // vector corpus (expect flat-to-linear); the leakage gate is the
    // minhash pipeline plus two broadcast label joins, so its exponent
    // tracks q_dedup_minhash's
    "q_embed_project", "q_split_leakage",
    // round-11 join-reduction/view-maintenance + chunk/graph family:
    // chunk dedup is two bounded exchanges over fingerprints (linear);
    // transitivity runs on the dup-pair-sized graph (near-flat); the
    // bloom probe and semi/anti scale with the probe side (linear); the
    // MV refresh's steady-state run is delta-sized (delta grows with s
    // here, so expect alpha ≈ 1 — the fixed-delta probe isolation lives
    // in the dedup row above)
    "q_chunk_dedup", "q_dup_transitivity", "q_bloom_join",
    "q_semi_anti", "q_mv_refresh",
    // analytics/feature family: cube fans each row out over its grouping
    // sets map-side (linear); the histogram and correlation collapse to
    // bin-/group-sized partials (linear scan cost); target encoding is
    // two key-joins over the scaled star; window lag partitions by user
    // (history count scales, per-history depth constant)
    "q_cube", "q_histogram", "q_correlation", "q_target_encode",
    "q_window_lag",
    // funnel: three pushed-filter event passes + user-sized step joins;
    // the HOF stats and regex extraction are zero-exchange map passes
    "q_funnel", "q_array_stats", "q_regex_extract",
    // wave 4: the pit join is one user_id exchange over events+history
    // (linear); negative sampling is anchors×k probe rows + one hash
    // join (linear); containment shares ngram-jaccard's candidate bound
    "q_pit_join", "q_negative_sample", "q_dedup_containment",
    // wave 5: simhash pairs are banded+capped (linear candidates); the
    // range window is one user exchange; the coverage report collapses
    // to group-count rows
    "q_simhash_pairs", "q_rolling_range", "q_coverage_report",
    // NFC normalization: now a native codegen'd expression, zero
    // exchanges
    "q_text_normalize",
    // round-12 corpus-wide additions: HTML extraction is a map-side
    // regexp chain (expect flat-to-linear); URL canonicalization is one
    // map pass + one window exchange on the canonical key (group count
    // scales with s, group size is fixture-fixed). The modality dedups
    // are NOT here: their corpus rows are magic-filtered out before
    // decode, so their cost is planted-set-sized by construction.
    "q_html_extract", "q_url_canonical",
    // boilerplate removal: three linear exchanges (line df, anti join,
    // reassembly); salted copies share no lines, so the df floor and the
    // boilerplate set scale by s. Corpus overlap rides the memoized
    // (doc_id, sid) stream into one sid exchange — both expect alpha ≈ 1
    "q_boilerplate_lines", "q_corpus_overlap",
    // vocab drift is one term exchange + a 1-row totals fold (salted
    // copies multiply the vocabulary by s — the linear regime); the PII
    // audit is a zero-exchange regexp scan pass
    "q_vocab_drift", "q_pii_audit",
    // domain filter: suffix-chain explode (rows×labels, labels bounded)
    // + broadcast blocklist join on top of the canonical-url window
    "q_domain_filter",
    // quality-rule bundle: a zero-exchange map pass (token/stopword/
    // bigram folds all inside the row)
    "q_quality_rules",
    // k-anonymity: one grouped rollup + a group-sized residual fold
    "q_k_anonymity",
    // link graph: map-side synth + href explode + one dst_host exchange
    // (host cardinality scales with s — the linear regime); perplexity
    // bucketing rides the unigram-LM exchanges plus ONE lang-partitioned
    // window whose per-language partitions each scale by s (the
    // documented skew surface: 5 langs ⇒ 5 sort partitions regardless
    // of corpus size — expect alpha ≈ 1 with a visible sort share)
    "q_link_graph", "q_perplexity_bucket",
    // KMV distinct sketch: the sketch pass ships ≤k longs per group;
    // the exact countDistinct side it verifies against dominates the
    // cost and scales with the per-source vocabulary (expect alpha ≈ 1
    // on the exact side's distinct exchange)
    "q_kmv_distinct",
    // KMV Jaccard: the sketch-algebra side is sources²×O(k) array math,
    // constant in corpus bytes; the exact vocab pair self-join scales
    // with per-source VOCABULARY, which saturates under the
    // row-duplication synth — measured flat (alpha ≈ 0) here, and the
    // vocabulary-growth regime is what q_kmv_distinct's salted synth row
    // prices
    "q_kmv_jaccard",
    // CMS frequency: the counter table is depth×width integers at every
    // scale (map-side partials bound the wire); the exact top-20
    // acceptance side's term exchange saturates under the
    // row-duplication synth (counts grow, the vocabulary doesn't), so
    // the measured exponent is flat — the token-explode scan is the
    // only linear surface and it hides under fixed machinery here
    "q_cms_freq",
    // round-13: script-aware segmentation is one codegen'd regexp pass
    // + one byte fold per row, zero exchanges — the same flat-to-linear
    // class as q_text_normalize (the planted CJK rows are 6 constants;
    // the cost is the corpus scan)
    "q_segment_cjk",
    // quantile reservoir: the sketch side ships <=k (hash,value) pairs
    // per group regardless of scale; the exact nearest-rank acceptance
    // side pays the value-grouped count + per-flag cumulative window,
    // which scales with distinct values per group (linear regime) —
    // expect the exact side to dominate like q_kmv_distinct's
    "q_kmv_quantiles",
    // exact-substring dedup: window positions explode map-side, ONE sid
    // exchange (a window count over positions, never a pair join), one
    // doc_id exchange for the island fold — salted copies preserve each
    // copy's internal duplication and share no shingles, so positions,
    // marked positions, and spans all scale by s (alpha ~ 1)
    "q_substring_dedup",
    // frozen-classifier scoring: a zero-exchange map pass (features +
    // one linear margin per row) — the q_quality_rules class
    "q_quality_score",
    // adaptive join: the measured-decision loop — at fixture regimes the
    // decision is broadcast, so the cost is the fact scan + dim count
    // probe + broadcast agg; scales as the fact side (the probe is one
    // map-side-combined aggregate, skipped entirely in this regime)
    "q_adaptive_join",
    // the regime-flip triple: three strategies over the same events
    // join — broadcast + salted SMJ + plain SMJ, each one fact-side
    // pass (the salted regime adds the hot-key profile aggregate);
    // expect ~3x the single-join line, scaling with events
    "q_adaptive_join_regimes",
    // adaptive window regimes: the plain per-key window (one exchange +
    // per-key sort) plus the range-prefix shape (range exchange +
    // (pid,key) exchange + broadcast offsets) over the same events —
    // both scale with the events scan; output is row-sized by design
    "q_adaptive_window",
    // adaptive aggregation regimes: the same per-event-type aggregate
    // through the Expand distinct plan AND the hand-lowered two-level
    // shape, plus two skew probes — four events passes total, each
    // map-side combined into key-bounded exchanges (expect alpha ~ 1
    // tracking the events scan; the salted level-2 exchange ships one
    // row per (event_type, user) — user cardinality scales by s, the
    // linear regime)
    "q_adaptive_agg",
    // frozen deploy-LR confusion: the star join's fact-side exchanges
    // (orders/lineitem/events rollups) dominate and scale by s; past
    // the star, scoring is a map pass and everything downstream is one
    // exchange of <= (2*clamp+1)*4 partial-count rows — expect the
    // q_basetable_star exponent
    "q_lr_confusion",
    // frozen deploy-GBT confusion: same star + epilogue with the margin
    // swapped for 10 codegen'd CASE trees — expect q_lr_confusion's
    // star-bound exponent
    "q_gbt_confusion",
    // frozen deploy-RF hard-vote confusion: same class again
    "q_rf_confusion",
    // duplication report: NOTE the bench's count() action lets Catalyst
    // ELIMINATE the left join-back (the span side's keys are provably
    // unique from its Aggregate, and only the group count survives
    // pruning), so this row prices the per-doc token rollup only — the
    // span pass's true exponent is q_substring_dedup's row; Verify
    // materializes every column, so correctness sees the full plan
    "q_dedup_report",
    // catalog stats: one stacked corpus pass (rows x 4 map-side) into a
    // 4-group aggregate. Same count()-pruning caveat as q_dedup_report:
    // only the grouping keys survive the bench action, so this row
    // prices the stacked scan + key agg; the exact-NDV distinct
    // exchange (linear in per-column cardinality) and the <=k-longs KMV
    // side are exercised by Verify's full materialization
    "q_table_stats",
    // release manifest: one partitioned write + one grouped read-back
    // scan; the fingerprint is a map-side fold into a 5-group sum —
    // write volume scales by s, the rollup is language-count-sized
    "q_dataset_manifest",
    // ingest-time substring probe: delta windows semi-join the corpus
    // sid set — both sides' sid exchanges scale linearly with tokens;
    // the island fold is delta-sized
    "q_substring_incremental",
    // the persisted-index twin: the corpus sid set reads co-located
    // from the bucketBy(sid) table (build cost paid once per session,
    // ScaleBench's cold pass); the timed steady state is the
    // delta-side exchange + bucket-pruned probe only — expect under
    // q_substring_incremental at every scale
    "q_substring_incremental_bucketed",
    // XML quarantine: the same write+read as q_xml_roundtrip plus the
    // 3 planted malformed part files and one conditional aggregate —
    // expect q_xml_roundtrip's serde-bound exponent
    "q_xml_quarantine",
    // JSONL quarantine: same shape over the line-delimited mouth —
    // expect the q_jsonl_roundtrip line
    "q_jsonl_quarantine",
    // CSV quarantine: same skeleton over the third text mouth — expect
    // the q_csv_roundtrip serde line
    "q_csv_quarantine",
    // XML round-trip: write + rowTag-split read of the scaled events
    // table — both sides are zero-exchange scans, so the exponent
    // prices the (row-at-a-time) XML serde itself; expect alpha ~ 1
    // like q_compact's rewrite
    "q_xml_roundtrip",
    // Avro round-trip: same write+read shape over the row-major binary
    // serde — expect the q_orc_roundtrip class (columnar write cost
    // swapped for Avro's record encoder, still scan-linear)
    "q_avro_roundtrip",
    // tokenizer fertility: two regexp counts + two lengths per row into
    // one lang-grouped 5-long partial-sum exchange (map-side combined,
    // langs-count output rows) — the corpus scan is the only linear
    // surface, expect alpha ~ 1 with a flat floor
    "q_tokenizer_fertility",
    // epoch plan: one source-grouped partial-sum exchange (corpus scan
    // linear) + two 1-row totals broadcasts over the source dimension —
    // everything after the first aggregate is source-count-sized
    "q_epoch_plan",
    // threshold sensitivity: ONE candidate+verify pass (the
    // q_dedup_minhash pipeline — banded, capped) feeds all five sweep
    // points; the sweep is a 5-way explode over the dup-sized verified
    // pairs + two 5-row group-counts, so the exponent should track
    // q_dedup_minhash's
    "q_dedup_sensitivity",
    // span-removal surgery: q_substring_dedup's exchanges plus one
    // doc_id join-back and a map-side reconstruct. NOTE the bench's
    // count() action lets Catalyst ELIMINATE the left join-back (the
    // span side's doc_id keys are provably unique from its Aggregate,
    // and count references no columns), the q_dedup_report caveat —
    // this row prices the segmentation scan only; the span pass's true
    // exponent is q_substring_dedup's row, and Verify materializes
    // every column so correctness sees the full plan
    "q_substring_scrub",
    // intra-doc line collapse: ONE zero-exchange map pass (index-aware
    // array filter vs the previous element) — the q_quality_rules
    // class; the corpus scan is the only linear surface
    "q_line_collapse",
    // nprobe sweep: one centroid/assignment pass + the brute-force
    // truth pass (NQueryVecs x corpus, the priced baseline) feed all
    // four sweep points via min-nprobe filters — expect the truth
    // pass's linear exponent, like q_sim_cosine_topk's row
    "q_ann_nprobe_sweep",
    // pack manifest: packSequences' prefix sum + map-side pack explode
    // + ONE pack_id window whose partitions hold <= PackLen+1 segments
    // — expect q_pack_sequences' linear exponent
    "q_pack_manifest",
    // source dup matrix: the memoized minhash verified pairs re-labeled
    // through two doc_id equi-joins + a sources^2-bounded rollup —
    // expect q_dedup_minhash's machinery-floor exponent
    "q_dup_source_matrix",
    // content flags: zero-exchange map pass (category folds inside the
    // row) — the q_quality_rules class
    "q_content_flags",
    // lsh recall canary: the minhash pipeline + the rare-shingle exact
    // pass + one dup-sized full join — expect the exact pass's
    // exponent (q_dedup_ngram_jaccard's row) to dominate
    "q_lsh_recall",
    // sampled recall canary: exact truth restricted to the 1/4 doc
    // panel (~1/16 of the full pair volume); the LSH side reuses the
    // memoized full pass, so the marginal cost is the panel's exact
    // pass — expect well under q_lsh_recall at every scale (production
    // grows the panel modulus with the corpus to pin the panel size,
    // making the canary flat per batch)
    "q_lsh_recall_sampled",
    // anchor text: map-side synth + regexp explode + ONE dst_host
    // exchange; the majority window runs over distinct (host, text)
    // labels, not link instances — the q_link_graph class
    "q_anchor_text",
    // deletion audit: one regexp map pass + one 1-row global aggregate
    // — the q_pii_audit scan class with a DECIMAL sum epilogue
    "q_deletion_audit",
    // bm25 retrieval: the postings scan + two bounded joins end in
    // TakeOrderedAndProject (per-partition heaps, k rows to the
    // driver) — never a partition-less window; expect q_bm25's class
    "q_bm25_search",
    // vocab growth: one linear term exchange (min-decile per distinct
    // token) + two 10-key aggregates over a 1-row bounds broadcast —
    // the q_vocab_drift class; the sequence explode multiplies ten
    // rows, never corpus rows
    "q_vocab_growth",
    // index forget: the deleted docs' band recompute rides the memoized
    // signature table (the minhash machinery floor); the patch itself
    // is one anti/semi join pair against the deletion-batch-sized dirty
    // set plus a dirty-bucket-partitioned window — expect the
    // q_dedup_incremental_bucketed class (index scan + delta-sized work)
    "q_index_forget",
    // quality calibration: the q_quality_score zero-exchange scoring
    // map pass + one 8-key aggregate — the q_quality_rules scan class
    "q_quality_calibration",
    // collocations: one bigram-instance exchange + one term exchange
    // (both linear, floor-bounded fan-in) + two term equi-joins into
    // TakeOrderedAndProject — expect the q_bigram_coverage class
    "q_collocations",
    // join size estimate: two per-key aggregates + one key equi-join
    // into a single global agg — linear in rows on both sides (the
    // exact acceptance side dominates; production pays only the
    // 1/16-key sampled exchanges)
    "q_join_size_estimate",
    // cdc dedup: one token explode + one doc-bounded boundary window +
    // the fp keeper window — q_chunk_dedup's class plus the window
    "q_cdc_dedup",
    // embed sensitivity: ONE label-blocked chunk-grid pass at the sweep
    // floor feeds all five points (the q_dedup_sensitivity shape on the
    // q_embed_near_dup machinery) — expect q_embed_near_dup's exponent
    "q_embed_sensitivity",
    // degree distribution: linkGraph's dst_host exchange + a
    // bucket-count aggregate — expect q_link_graph's exponent
    "q_degree_dist",
    // shingle profile: the memoized shingle stream's one sid exchange +
    // a bucket-count aggregate — the dedup machinery floor
    "q_shingle_profile",
    // memorization audit: generated side is output-sized; the corpus
    // side is the memoized sid stream's distinct projection — expect
    // the q_decontaminate class (one linear sid join)
    "q_memorization_audit",
    // dataset card: ONE corpus scan computes all per-doc verdicts (the
    // native stats structs keep it single-pass) + the lang rollup +
    // the memoized dup-pair table — expect the corpus-scan line plus
    // the minhash machinery floor
    "q_dataset_card",
    // streaming content gate: stateless map+filter over the synthesized
    // ingest file (native TokenSetStats inside the streaming pipeline,
    // zero state) — expect the streaming machinery floor plus a linear
    // ingest-write term
    "q_stream_content_gate",
    // data contract: one corpus scan + one id-grouped aggregate into a
    // 5-row literal unpivot — the q_null_audit class
    "q_data_contract",
    // ingest report: the XML+JSONL quarantine mouths (serde-bound, the
    // q_xml_roundtrip class) + the contract scan + the evolution
    // write/merge-read — four already-gated passes into
    // constraint-count-sized rows; expect roughly their sum, alpha ~ 1
    "q_ingest_report")

  /** Memo-sharing measurement context (round 17): queries whose
    * committed alphas were measured with these siblings warming the
    * shared session memos (shingle tables, verified-pair passes,
    * signature tables) in the same scale loop. A targeted or
    * adjudication re-run must execute the context rows FIRST at each
    * scale — they are neither gated nor committed by a targeted run —
    * so the suspect measures the same steady state the full ladder
    * committed. Evidence: round 17's isolated re-measure inflated
    * q_lsh_recall's 10x endpoint from the full-ladder ~2.3 s to
    * 6–8 s (its exact and LSH sides re-execute pipelines whose JIT,
    * page-cache, and memo warmth the dedup family provides in a full
    * run), turning host weather into a CONFIRMED drift the full
    * ladder would have cleared — a manufactured-drift class in the
    * gate's own protocol, closed by this map.
    */
  val RemeasureContext: Map[String, Seq[String]] = Map(
    "q_lsh_recall" -> Seq("q_dedup_minhash", "q_dedup_ngram_jaccard"),
    "q_lsh_recall_sampled" ->
      Seq("q_dedup_minhash", "q_dedup_ngram_jaccard"),
    "q_dedup_sensitivity" -> Seq("q_dedup_minhash"),
    "q_dup_source_matrix" -> Seq("q_dedup_minhash"),
    "q_dup_transitivity" -> Seq("q_dedup_minhash"),
    "q_index_forget" -> Seq("q_dedup_minhash"),
    "q_dataset_card" -> Seq("q_dedup_minhash"),
    // shared versioned-store riders: q_time_travel pays the one
    // memoized ingest in the full ladder's list order; a targeted
    // re-measure must keep that steady-read context
    "q_store_skipping" -> Seq("q_time_travel"),
    "q_store_dsv2" -> Seq("q_time_travel"),
    "q_store_mv" -> Seq("q_time_travel"),
    "q_store_mv_persisted" -> Seq("q_time_travel"),
    "q_store_sql_asof" -> Seq("q_time_travel"),
    "q_shingle_profile" -> Seq("q_substring_dedup"),
    "q_corpus_overlap" -> Seq("q_substring_dedup"),
    "q_memorization_audit" -> Seq("q_substring_dedup"))

  /** Context queries prepended (deduplicated, warm-first order) to a
    * targeted name list.
    */
  private[graft] def withContext(names: Seq[String]): Seq[String] =
    (names.flatMap(n => RemeasureContext.getOrElse(n, Nil)) ++ names)
      .distinct

  private[graft] def synth(spark: SparkSession, base: String, s: Int): String = {
    val dir = TempArtifacts.tempDir(s"graft_scale_${s}x")
    val docs = Tables.documents(spark, base)
    (0 until s).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + k * 1000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = Tables.embeddings(spark, base)
    (0 until s).map { k =>
      if (k == 0) e
      else e.select(
        (col("vec_id") + k * 10000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(k * 0.001f))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // events: copy k shifts event ids and USER ids, keeping timestamps —
    // each copy reproduces the original's per-user history shapes and
    // window densities without merging histories across copies, so
    // session counts, change histories, and upsert keys all scale by s
    // while per-key work stays constant (the linear regime)
    val ev = Tables.events(spark, base)
    (0 until s).map { k =>
      if (k == 0) ev
      else ev.select(
        (col("event_id") + k * 100000000L).as("event_id"),
        col("ts"),
        (col("user_id") + k * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // relational star: copy k shifts order/customer keys by disjoint
    // ranges, so key cardinality scales by s while per-key join fan-out
    // stays constant (the linear regime for the join-reduction and MV
    // ops); the key shifts are multiples of 10, so q_mv_refresh's
    // `l_orderkey % 10` base/delta carve keeps its 90/10 split in every
    // copy. Priorities/flags copy verbatim ⇒ the bloom build-side
    // FRACTION is constant; its fixed 64 Kbit bitmap therefore saturates
    // as build count grows — expected, and exactly the fp-rate-vs-m
    // trade the operator's scaladoc tells production to re-size.
    // Nation is a fixed dimension and copies once.
    val ord = Tables.orders(spark, base)
    (0 until s).map { k =>
      if (k == 0) ord
      else ord.select(
        (col("o_orderkey") + k * 100000000L).as("o_orderkey"),
        (col("o_custkey") + k * 10000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val li = Tables.lineitem(spark, base)
    (0 until s).map { k =>
      if (k == 0) li
      else li.select(
        (col("l_orderkey") + k * 100000000L).as("l_orderkey"),
        (col("l_partkey") + k * 10000000L).as("l_partkey"),
        (col("l_suppkey") + k * 10000000L).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val cust = Tables.customer(spark, base)
    (0 until s).map { k =>
      if (k == 0) cust
      else cust.select(
        (col("c_custkey") + k * 10000000L).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // part: keys shift in lockstep with lineitem's l_partkey shift, so
    // every copy preserves the original's fact→dim join structure
    val prt = Tables.part(spark, base)
    (0 until s).map { k =>
      if (k == 0) prt
      else prt.select(
        (col("p_partkey") + k * 10000000L).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Tables.nation(spark, base)
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    dir
  }

  /** Run the ladder for `names` over `scales`, steady-state seconds per
    * (query, scale). Extracted so the drift gate can RE-MEASURE its
    * offenders at the two endpoint scales before failing the run —
    * transient host contention inflates one ladder pass, not two
    * independent ones, so a drift that survives the re-measure is a
    * plan regression, not noise.
    */
  private def runLadder(spark: SparkSession, base: String,
      names: Seq[String], scales: Seq[Int])
      : Map[String, Map[Int, Double]] = {
    val queries = SparkEntry.queries
    val times = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[Int, Double]]
    for (s <- scales) {
      val dir = synth(spark, base, s)
      for (name <- names) {
        def once(): Double = {
          val t0 = System.nanoTime()
          queries(name)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        once() // cold pass pays session/memo/index builds
        val steady = once()
        times.getOrElseUpdate(name,
          scala.collection.mutable.Map.empty)(s) = steady
        System.err.println(f"[scalebench] ${s}%2dx $name%-30s $steady%.2f s")
      }
      // probe-cost isolation (VERDICT r10 #7): the bucketed-index probe
      // with the delta FROZEN to the 1x copy while the indexed corpus
      // scales. The index + shingle memos are warm from the query loop
      // above, so this times exactly the per-batch ingest cost; expect
      // near-flat absolute seconds (alpha ≈ 0), the delta-sized-probe
      // claim made by the persisted index.
      if (names.contains("q_dedup_incremental_bucketed")) {
        def probeOnce(): Double = {
          val t0 = System.nanoTime()
          graft.engine.Dedup.probeFixedDelta(spark, dir, 1000000L).count()
          (System.nanoTime() - t0) / 1e9
        }
        probeOnce() // plan/codegen warm-up for the capped variant
        val steady = probeOnce()
        times.getOrElseUpdate("probe_fixed_delta",
          scala.collection.mutable.Map.empty)(s) = steady
        System.err.println(
          f"[scalebench] ${s}%2dx probe_fixed_delta               $steady%.2f s")
      }
      // same isolation for the substring sid index: delta frozen to the
      // 1x copy, indexed corpus scales — the flat row is the per-batch
      // ingest-cost claim
      if (names.contains("q_substring_incremental_bucketed")) {
        def probeOnce(): Double = {
          val t0 = System.nanoTime()
          graft.engine.Dedup.substrProbeFixedDelta(spark, dir, 1000000L)
            .count()
          (System.nanoTime() - t0) / 1e9
        }
        probeOnce()
        val steady = probeOnce()
        times.getOrElseUpdate("substr_probe_fixed_delta",
          scala.collection.mutable.Map.empty)(s) = steady
        System.err.println(
          f"[scalebench] ${s}%2dx substr_probe_fixed_delta        $steady%.2f s")
      }
      // each scale tears down its memoized shingle tables, models, and
      // persisted indexes so the next starts from the same (cold) state
      SessionMemo.evictSession(spark)
      spark.catalog.clearCache()
      TempArtifacts.delete(dir)
    }
    times.view.mapValues(_.toMap).toMap
  }

  /** Endpoint exponent over whatever scales a ladder measured. */
  private[graft] def alphaOf(t: Map[Int, Double]): Double = {
    val lo = t.keys.min; val hi = t.keys.max
    math.log(t(hi) / t(lo)) / math.log(hi.toDouble / lo)
  }

  def main(args: Array[String]): Unit = {
    // optional args: run only the named queries (incremental re-measure
    // after adding a family; no args = the full list). Targeted runs
    // execute each suspect's RemeasureContext first at every scale, but
    // gate and commit ONLY the requested rows — context rows measured
    // outside the full-ladder order must never become (or fail against)
    // a committed baseline.
    val requested =
      if (args.nonEmpty) QueryNames.filter(args.toSet) else QueryNames
    val names =
      if (args.nonEmpty) withContext(requested).filter(QueryNames.contains)
      else QueryNames
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val commitMode = sys.env.get("SPARK_GRAFT_SCALE_COMMIT").contains("1")
    val spark = GraftSession.getOrCreate(GraftSession.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    var times = runLadder(spark, base, names, Scales)
    // rows eligible for gating/commit/report: the REQUESTED queries plus
    // their probe side-effect rows — never context rows
    val probeOf = Map(
      "q_dedup_incremental_bucketed" -> "probe_fixed_delta",
      "q_substring_incremental_bucketed" -> "substr_probe_fixed_delta")
    val reportSet = (requested ++ requested.flatMap(probeOf.get)).toSet
    times = times.filter { case (n, _) => reportSet(n) }
    // ---- standing alpha-drift gate (VERDICT r14 #1) ----
    // Compare every measured endpoint exponent against the committed
    // SCALE_GATE.json; suspected drifts go through the standing
    // noisy-host adjudication (VERDICT r16 #2, ScaleGate.adjudicate):
    // up to TWO fresh 1x-floor-AND-endpoint re-measures of the suspects
    // only, min-alpha kept, exit 3 only for a drift that reproduces in
    // every re-run — the exact standing-gate move that made the
    // materialized-cost audit pay off in round 14.
    val committed = if (commitMode) Map.empty[String, Double]
      else ScaleGate.readCommitted(ScaleGate.DefaultPath, Scales)
    if (!commitMode && committed.nonEmpty) {
      // the fixed-delta probe rows are measured as side effects of
      // their triggering query — map them back for any re-run
      val probeTriggers = Map(
        "probe_fixed_delta" -> "q_dedup_incremental_bucketed",
        "substr_probe_fixed_delta" -> "q_substring_incremental_bucketed")
      val remeasure = (suspectNames: Seq[String]) => {
        System.err.println(s"[scalegate] ${suspectNames.size} " +
          "suspect(s) — re-measuring fresh 1x floor AND endpoint " +
          "(memo-context rows first): " + suspectNames.mkString(", "))
        val rerunNames = withContext(suspectNames
          .map(n => probeTriggers.getOrElse(n, n)).distinct)
          .filter(SparkEntry.queries.contains)
        runLadder(spark, base, rerunNames, Seq(Scales.head, Scales.last))
      }
      val (merged, confirmed) =
        ScaleGate.adjudicate(committed, times, alphaOf, remeasure)
      times = merged
      confirmed.foreach { case (n, meas, comm) =>
        System.err.println(f"[scalegate] ALPHA DRIFT $n: measured " +
          f"$meas%.2f vs committed $comm%.2f " +
          f"(+${meas - comm}%.2f > +${ScaleGate.DriftTol}%.2f) — " +
          "reproduced in every re-run")
      }
      if (confirmed.nonEmpty) { spark.stop(); sys.exit(3) }
      System.err.println(s"[scalegate] OK — ${committed.size} committed " +
        s"alphas, 0 confirmed drifts")
    } else if (!commitMode) {
      System.err.println("[scalegate] WARNING: gate VACUOUS — no " +
        s"committed alphas for scales ${Scales.mkString(",")} in " +
        s"${ScaleGate.DefaultPath}; run with SPARK_GRAFT_SCALE_COMMIT=1 " +
        "on a quiet host to establish them")
    }
    spark.stop()
    if (commitMode)
      ScaleGate.writeCommitted(ScaleGate.DefaultPath, Scales,
        times.view.mapValues(alphaOf).toMap,
        times.view.mapValues(t => t(t.keys.max)).toMap)
    val header = "| query | " +
      Scales.map(s => s"${s}x (s)").mkString(" | ") + " | alpha |"
    val sep = "| --- |" + Scales.map(_ => " --- |").mkString + " --- |"
    val reported = requested ++
      (if (times.contains("probe_fixed_delta")) Seq("probe_fixed_delta")
       else Nil) ++
      (if (times.contains("substr_probe_fixed_delta"))
         Seq("substr_probe_fixed_delta")
       else Nil)
    val rows = reported.map { name =>
      val t = times(name)
      s"| $name | " +
        Scales.map(s => f"${t(s)}%.2f").mkString(" | ") +
        f" | ${alphaOf(t)}%.2f |"
    }
    println((header +: sep +: rows).mkString("\n"))
  }
}
