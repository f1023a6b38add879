package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression net: the scale-critical properties of each
  * headline query's physical plan, asserted as hard bounds.
  *
  * A query can stay hash-correct while silently regressing into a
  * scale-killer (a dropped broadcast hint turns a dim join into a
  * full shuffle; a moved filter stops reaching the scan). These specs
  * pin the current measured plan shapes on the pinned Spark version:
  *  - `maxShuffles`: ceiling on materialized shuffle Exchanges (AQE
  *    additionally dedups identical stages at runtime — the static
  *    count is the worst case)
  *  - `minBroadcasts`: joins that must stay broadcast (dims, query
  *    sets, sketch-guard survivor lists) — never shuffle joins
  *  - `minPushedScans`: scans that must keep non-empty PushedFilters
  *  - zero-shuffle queries (pure scan projections, in-scan dedup) must
  *    stay zero-shuffle
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession._

  private case class Shape(
      name: String, maxShuffles: Int, minBroadcasts: Int = 0,
      minPushedScans: Int = 0)

  // measured via PlanAudit at Spark 4.1.2 (see SURVEY.md §5)
  private val shapes = Seq(
    Shape("q1_agg", maxShuffles = 2, minPushedScans = 1),
    Shape("q2_filter_comparators", maxShuffles = 0, minPushedScans = 1),
    Shape("q3_join_multiway", maxShuffles = 2, minBroadcasts = 2,
      minPushedScans = 3),
    Shape("q4_topk_order_slice", maxShuffles = 0),
    Shape("d1_dedup_exact", maxShuffles = 1),
    Shape("d2_dedup_ngram_jaccard", maxShuffles = 5, minBroadcasts = 2),
    // r17: the size guard is a window inside the set build's (band,
    // key) exchange — the sketch-key broadcast join and its exchange
    // are gone (4/1 → 3/0, plans/r17/)
    Shape("d3_dedup_minhash_lsh", maxShuffles = 3),
    // d5 r5: the bounded-block rewrite trades the old 0-shuffle raw
    // label join (unbounded n² per label) for the guarded shape — the
    // size-guard window shares the set build's label exchange and the
    // chunk expansion rebalances descriptors (r17: 3 → 2 shuffles)
    Shape("d5_dedup_embedding", maxShuffles = 2, minBroadcasts = 1),
    Shape("s1_ann_brute_topk", maxShuffles = 2, minBroadcasts = 1),
    Shape("s2_ann_lsh", maxShuffles = 2, minBroadcasts = 1),
    // r17: the flat quantizer is a one-subtree TreeMatrix, so s3, s3b
    // and s9 run s7's plan: assignment and probes are scan projections,
    // the two centroid broadcasts under the crossJoins and the
    // corpus-grain argmax exchange are gone (s3 8/3 → 2/1, s3b 6/3 →
    // 2/1, s9 8/4 → 2/2 with the allowed-id semi-join broadcast;
    // plans/r17/*_picker_*.txt)
    Shape("s3_ann_ivf", maxShuffles = 2, minBroadcasts = 1),
    Shape("s3b_ann_ivf_agg", maxShuffles = 2, minBroadcasts = 1),
    Shape("s9_ann_filtered", maxShuffles = 2, minBroadcasts = 2),
    // r12: the trained tree rides as ONE expression-local matrix
    // (TreeAssign/TreeProbeExpression), so corpus descent is a scan
    // projection — no corpus-grain argmax exchange, no centroid
    // broadcast joins. What remains: the probe broadcast onto the
    // assigned corpus and the two top-k aggregation exchanges
    // (the parent flat s3 had 8; it shares this plan since r17). A
    // blowup past 2 means the descent fell back to a join form
    Shape("s7_ann_ivf_tree", maxShuffles = 2, minBroadcasts = 1),
    Shape("f2_entity_assembly", maxShuffles = 1),
    Shape("f6_fpx_table", maxShuffles = 0),
    // r15: +1 shuffle — the deliberate block-grain spread exchange
    // before the chunk-descriptor explodes (expandSortedSets
    // spread=true): it moves the member-set rows once so descriptor
    // generation is not serialized into one AQE-coalesced task
    // r17: the size guard is a window in the set build's value
    // exchange; the sketch-key broadcast join is gone (5/1 → 4/0)
    Shape("f8_xref_block", maxShuffles = 4),
    // r13: f24 = f8's 4 + the entity-grain name aggregation + the two
    // pair-grain name attaches. r15: the attaches are PINNED to merge
    // joins — the name table is entity-grain (data-sized), and the
    // statically under-estimated broadcast the planner used to pick
    // collected a >1 GiB relation to the driver at sf10. r17: f8's
    // sketch-key broadcast, the old broadcast floor, is gone (9/1 → 8/0).
    Shape("f24_name_editdist", maxShuffles = 8),
    Shape("f11_canonical_lookup", maxShuffles = 3),
    // r17: clause flags and the sort key are canonical_id windows —
    // one exchange serves them and assembly, no join back (3 → 1)
    Shape("f12_entity_query", maxShuffles = 1),
    // r17: both grouped props are collected per canonical_id in the
    // selection's one exchange, then exploded; only the group
    // aggregation shuffles again (the two-read join form was 3/1)
    Shape("f15_query_agg", maxShuffles = 2),
    Shape("t1_lang_id", maxShuffles = 0),
    // r12: the RETURNED t15 plan is the scan-local apply stage — the
    // vocab-build aggregation ran eagerly at query build (d12/d13
    // discipline); a shuffle here means ids joined instead of mapped
    Shape("t15_bpe_tokenize", maxShuffles = 0),
    Shape("t4_doc_fingerprint", maxShuffles = 0),
    // r6: the as-of join must stay the union-and-carry form — one
    // shuffle for the click dedup, one for the per-user carry window;
    // a regression to the naive range join would explode per key
    Shape("q20_asof_join", maxShuffles = 2, minPushedScans = 2),
    // scan-local by construction: sampling decision / redaction /
    // gram fold never leave the scan projection
    Shape("d7_sample_stratified", maxShuffles = 0),
    Shape("t6_pii_scrub", maxShuffles = 0),
    Shape("t7_repetition", maxShuffles = 0),
    // r13: t17 = one tokenize scan → (doc,term) tf aggregate; df and
    // the corpus totals are term-grain/1-row BROADCASTS (never a
    // shuffle join — df is query-term-bounded); final doc-grain sum.
    // The 5 static exchanges are the tf aggregate + the two bounded
    // aggregates' own builds + the final sum; past 5 means a
    // broadcast degraded to a shuffle join
    Shape("t17_bm25", maxShuffles = 5, minBroadcasts = 2),
    // r13: t16 = one codegen'd deflate pass in the scan projection;
    // the ratio/verdict arithmetic rides the same projection — any
    // exchange means the gate leaked into a join or window
    Shape("t16_compress_ratio", maxShuffles = 0),
    // doc stream shuffles ONCE (to (source,term) grain); term totals
    // attach via the term-window (r8 — never a vocabulary broadcast);
    // only the bounded source counts + 1-row total broadcast
    Shape("t8_distinctive_terms", maxShuffles = 5, minBroadcasts = 2),
    // r7 pins for the multi-stage/iterative queries most able to
    // regress silently into extra shuffles:
    // t5: probe gram set must stay BROADCAST onto the corpus gram
    // stream — a shuffle join here would move hashed corpus grams
    Shape("t5_contamination", maxShuffles = 3, minBroadcasts = 1,
      minPushedScans = 2),
    // d4b: pigeonhole band buckets equi-join, survivor probe broadcast
    // r17: the sketch-key broadcast join is gone (4/3 → 3/2)
    Shape("d4b_simhash_hamming", maxShuffles = 3, minBroadcasts = 2,
      minPushedScans = 2),
    // d6: the returned frame is the final label join over the
    // checkpointed loop output — the loop's per-round cost is pinned
    // by its own convergence contract, the tail must stay 2 shuffles
    Shape("d6_dedup_clusters", maxShuffles = 2),
    // f18/f19: FINAL-window dedup + attr enrichment; the dim joins
    // must stay broadcast
    // r15: +1 each — the f8 spread exchange rides into every
    // blocking-pair consumer. r17: the third broadcast was the
    // blocking's sketch-key join, now a window (8/3 → 7/2)
    Shape("f18_xref_judgements", maxShuffles = 7, minBroadcasts = 2),
    Shape("f19_xref_reverse", maxShuffles = 7, minBroadcasts = 2),
    // f20: judgement filter + component labels + canonical min
    Shape("f20_resolver_canonical", maxShuffles = 3),
    // q16: ONE sort window feeding all three quantiles + broadcast
    // count join-back — a regression to per-quantile sorts or a
    // partition-count window would multiply both numbers
    Shape("q16_percentile", maxShuffles = 2, minBroadcasts = 1,
      minPushedScans = 2),
    // single-shuffle window queries: rank / sessionize / phonetic fpx
    Shape("q9_window_rank", maxShuffles = 1),
    Shape("q19_sessionize", maxShuffles = 1),
    Shape("f17_fpx_phonetic", maxShuffles = 1),
    // the r7 oracle-gated variants: q20b's two-phase carry is 3 extra
    // bounded shuffles over q20 (bucketed carry + bucket-grain agg +
    // patch join) — NOT a range-join blowup; d6b's tail matches d6
    Shape("q20b_asof_bucketed", maxShuffles = 6, minBroadcasts = 1,
      minPushedScans = 4),
    Shape("d6b_dedup_clusters_stars", maxShuffles = 2),
    // r8: d8 = d6's 2-shuffle tail + the (doc_id, n_chars) attach +
    // one row_number window on the cluster label; the attach join is
    // AQE-broadcast at test SF but full-size-vs-full-size at scale, so
    // the ceiling leaves room for its shuffle form — the pin catches a
    // regression that carries TEXT through the window or re-runs the
    // component loop
    Shape("d8_dedup_keep_best", maxShuffles = 5),
    // r8: t11's example-id semi-join AND text-recovery join must keep
    // the CAPPED survivor top-K as the broadcast build sides — without
    // the hints the planner was measured building the corpus gram-text
    // stream; statically the survivor subtree appears twice (its two
    // identical Exchanges dedup to one ReusedExchange at runtime,
    // asserted separately), plus the bounded min-text agg = 3
    Shape("t11_dup_passages", maxShuffles = 3, minBroadcasts = 2),
    // r8: chunking must stay a per-row scan fan-out — any Exchange
    // means someone "optimized" it into a shuffle
    Shape("t9_chunking", maxShuffles = 0),
    // r8: d10's doc stream shuffles at (stratum, bucket) grain for the
    // intra-bucket windows — never at stratum grain (the single-task-
    // per-stratum hot spot the bucketed form exists to avoid); the
    // bounded bucket rollup adds its agg + window exchanges, and the
    // offset table must stay a broadcast join
    Shape("d10_sample_budget", maxShuffles = 3, minBroadcasts = 1),
    // r12: the dataset mix is d10's 3-shuffle prefix-sum shape exactly —
    // the per-stratum budget table joins the BOUNDED (stratum, bucket)
    // rollup as a second broadcast, never a shuffle of the doc stream
    Shape("p4_dataset_mix", maxShuffles = 3, minBroadcasts = 2),
    // r17: the (stratum, bucket) rollup is collected at build and the
    // budgets derive on the driver, so the returned plan is the doc
    // stream joined to ONE broadcast local offsets table and ONE
    // (stratum, bucket) window exchange — a second exchange means the
    // rollup or the budgets went back into the plan
    Shape("p7_temperature_mix", maxShuffles = 1, minBroadcasts = 1),
    // r8: term frequencies attach via the term-grain window (never a
    // vocabulary rollup joined/broadcast back); the only broadcast is
    // the 1-row token total. 3 shuffles: term window, total agg, doc
    // re-assembly
    Shape("t10_unigram_surprisal", maxShuffles = 3, minBroadcasts = 1),
    // r12: BOTH bigram-frequency windows (c(w1·), c(w1w2)) ride the ONE
    // hash(w1) exchange — hash(w1) satisfies the (w1,w2) clustering, so
    // the second window plans as a sort, never a second shuffle of the
    // bigram stream. 4 = that exchange + the 2-phase vocab distinct +
    // doc re-assembly; the only broadcast is the 1-row V
    Shape("t14_bigram_surprisal", maxShuffles = 4, minBroadcasts = 1),
    // r8: quantization is per-row arithmetic — must stay a pure scan
    Shape("s4_embedding_quantize", maxShuffles = 0),
    // r8: grouping sets = ONE aggregate over an Expand (3× map-side
    // replay, partial agg before the single exchange) — never a union
    // of per-grain aggregates re-scanning the table
    Shape("q22_grouping_sets", maxShuffles = 1),
    // r8: d9 = df window + probe-prefix join + verify (measured 3
    // static exchanges + broadcast verify joins at test SF; same
    // family/ceiling as d2 — a blowup means the prefix filter stopped
    // bounding the candidate join)
    Shape("d9_dedup_containment", maxShuffles = 5, minBroadcasts = 1),
    // r8: s5 PQ = codebook train (2 groupBy) + encode + ADC score +
    // shortlist/re-rank windows — measured 12 static exchanges; the 5
    // hint-broadcasts (seeds, codebook, dtable, shortlist, query set)
    // are all structurally bounded and must never become shuffle joins
    Shape("s5_ann_pq", maxShuffles = 12, minBroadcasts = 5),
    // r9: the codec path is synth → encode → decode → reduce inside
    // the scan partition, one output row per doc — any Exchange means
    // payload bytes started shuffling
    Shape("m2b_frame_decode", maxShuffles = 0),
    // r9: same contract as m2b on the image side
    Shape("m3_image_features", maxShuffles = 0),
    // r9: the whole preprocess is ONE scan + ONE shuffle (the
    // content-hash dedup window over gate survivors); a second
    // Exchange means a signal started computing post-shuffle or the
    // gates stopped filtering before the window
    Shape("p1_preprocess", maxShuffles = 1),
    // r9: d11 = t11's 3 pinned shuffles + the one-row passage-list
    // collect; the scrub itself must stay a broadcast-fed scan fold —
    // the passage list and t11's capped build sides are the only
    // broadcasts, and document text must never reach an Exchange
    Shape("d11_passage_scrub", maxShuffles = 4, minBroadcasts = 3),
    // r9: t12 rides d10's bucketed prefix-sum machinery — same ceiling
    // (bucket rollup agg + its prefix window + the per-bucket window;
    // the offset table must stay a broadcast join) and the shuffle
    // must stay at (stratum, bucket) grain, never stratum grain
    Shape("t12_sequence_pack", maxShuffles = 3, minBroadcasts = 1),
    // r12: p5 = t12's prefix-sum ceiling + the doc_id source attach +
    // the one (stratum, seq) assembly aggregation that moves the ids —
    // a blowup past 6 means the slices joined instead of aggregating
    Shape("p5_pack_sequences", maxShuffles = 6, minBroadcasts = 1),
    // r9: s6 = s3's list machinery + s5's PQ subtree with the ADC join
    // additionally keyed on list; every build side is structurally
    // bounded and must never become a shuffle join (the s5 rule, one
    // more join deep). r17 re-pin, re-measured with PlanAudit on
    // GraftSession (plans/r17/): the in-query PQ train now runs at
    // query BUILD through the eager codebook checkpoint
    // (Similarity.ivfPqTopK), so its subtree — 6 exchanges plus the
    // train's broadcast(seeds), once per codebook consumer — left the
    // static plan: 19 → 13 exchanges, 9 → 7 broadcasts. r17 list
    // picker: corpus lists and probes are scan projections through the
    // flat matrix — the two centroid broadcasts and the list argmax
    // exchanges left (13 → 6); the (vec_id, list_id) and probe-list
    // joins broadcast in their place (7 → 7)
    Shape("s6_ann_ivfpq", maxShuffles = 6, minBroadcasts = 7),
    // r9b: the rule battery is one codegen'd scan projection — any
    // Exchange means a metric started computing post-shuffle
    Shape("t13_gopher_filter", maxShuffles = 0),
    // r9b: windowing happens inside the decode partition (the m2b
    // contract with a fan-out tail) — payload bytes must never shuffle
    Shape("m4_audio_windows", maxShuffles = 0),
    // r9b: p2 rides t12's bucketed prefix-sum machinery with a
    // computed stratum — same ceiling, offsets stay a broadcast join
    Shape("p2_shuffle_shard", maxShuffles = 3, minBroadcasts = 1),
    // r9b: p3 = ONE scan of doc signals → content-hash window →
    // bounded (source, lang) report agg; a third Exchange means a
    // signal started computing post-shuffle or text reached a window
    Shape("p3_corpus_report", maxShuffles = 2),
    // r9b: q23 = explode scan → ONE sketch aggregate (partial
    // map-side combine + final), its shuffle carrying at most
    // `capacity` counters per (task, source) — a second Exchange
    // means the sketch regressed into a term-grain plan
    Shape("q23_topk_sketch", maxShuffles = 1),
    // r10: q23b updates at DOC grain (value = source, weight = scan-
    // local token count) — one sketch aggregate, shuffle carries ≤
    // capacity counters per (task, lang); a second Exchange means the
    // weights started pre-aggregating through a real shuffle
    Shape("q23b_topk_weighted", maxShuffles = 1),
    // r9b: d12's returned frame hangs off the checkpointed assignment
    // table (the expensive centroid subtree runs ONCE, before the
    // plan) — set build + balanced expansion + two pair joins + drop
    // agg + verdict join; a blowup past 7 means a consumer started
    // re-deriving the assignment (r17: 8 → 7, the size guard is a
    // window in the set build's exchange; then 7 → 4 with 2 pair-side
    // broadcasts: the checkpointed assignment is a scan projection
    // through the flat matrix, so its size estimate is the corpus
    // scan's and both pair joins broadcast)
    Shape("d12_semdedup", maxShuffles = 4),
    // r10: d13's final frame hangs off the two checkpointed assignment
    // tables — the probed-list distinct and the one verdict aggregation
    // are the only shuffles; everything stored-side joins broadcast
    // (probed set, oversize set, batch rows, verdict rows), so the
    // stored side never shuffles. A blowup means a consumer started
    // re-deriving an assignment or the verdict frame began sort-merging
    Shape("d13_semdedup_incremental", maxShuffles = 2, minBroadcasts = 3),
    // r11: the real-BPE count is ONE scan through the mapPartitions
    // encoder (merges broadcast via SparkContext, invisible to the
    // plan) — any Exchange means text started shuffling to tokenize
    Shape("t3b_bpe_token_count", maxShuffles = 0),
    // r11: the lossy-codec path keeps the m2b contract — synth →
    // JPEG encode → decode → geometry reduce inside the scan
    // partition; payload bytes must never reach an Exchange
    Shape("m5_jpeg_decode", maxShuffles = 0),
    // r12: the compressed-lossless path too — synth → PNG encode →
    // hand inflate/unfilter → pixel-stats reduce, all in-partition
    Shape("m6_png_decode", maxShuffles = 0),
    // r12: the Walsh spectrum is window math inside the scan
    // partition, same contract as m4
    Shape("m7_spectrogram", maxShuffles = 0),
    // r12: bin-decomposed interval join — one shuffled equi-join on
    // (user_id, bin): an exchange per side, pushed event_type filters
    // on both scans. A blowup past 2 means the range predicate slid
    // into a nested-loop / per-key-quadratic plan
    Shape("q24_interval_join", maxShuffles = 2, minPushedScans = 2),
    // r12: overlap twin — both sides explode over their bins, still
    // one shuffled equi-join on (user_id, bin); the responsibility-
    // bin filter is a post-join projection, not another exchange
    Shape("q24b_overlap_join", maxShuffles = 2, minPushedScans = 2),
    // r11: the incremental resolver's RETURNED plan is the O(component)
    // claim made structural — a broadcast-relabel pass over the
    // checkpointed prior mapping (+ union of batch-sized fresh rows);
    // any Exchange means the fold started recomputing the graph
    Shape("f20b_resolver_incremental", maxShuffles = 0),
    // r12: the as-of FINAL is f3's single latest-per-key window over a
    // PUSHED version-cutoff scan — time travel must not add a shuffle
    Shape("f21_final_asof", maxShuffles = 1, minPushedScans = 1),
    // r12: the KMV distinct sketch is the q23 shape — explode scan →
    // ONE aggregate whose partials carry ≤ k longs per (task, source);
    // a second exchange means the sketch fell back to a value-grain
    // distinct
    Shape("q25_distinct_kmv", maxShuffles = 1),
    // r12: substring-run dedup = anchor scan → df-cap agg (2: the
    // countDistinct pair) → anchor self-join on h (1 + the cap join) →
    // ONE diagonal-islands exchange whose clustering the run aggregate
    // reuses (group keys ⊇ window partition keys — no second exchange)
    Shape("d14_dup_spans", maxShuffles = 6),
    // r12: d14b = d14's pipeline + the interval-union islands window +
    // the doc-grain interval attach; token grain must never shuffle
    // (the apply is a scan-local HOF over span-bounded interval arrays)
    Shape("d14b_span_scrub", maxShuffles = 9),
    // r12: the RETURNED k-hop frame is the final visited checkpoint —
    // all frontier joins already ran (frontier-bounded, inside khop);
    // an Exchange here means the traversal leaked lazy plan
    Shape("f22_khop_traversal", maxShuffles = 0),
    // r12: d15b = d15's sketch scan + the band self-join (band rows =
    // sources × B, candidate-bounded output) + the two sketch
    // attach joins — still never a value-grain pair join
    Shape("d15b_overlap_lsh", maxShuffles = 5, minBroadcasts = 1),
    // r12: p6 = ONE gopher-rule scan (compiled metrics, no joins) →
    // t12's bucketed prefix sum keyed by quality level — the same
    // ≤3-exchange budget as t12 plus the level derivation being free
    Shape("p6_curriculum", maxShuffles = 3, minBroadcasts = 1),
    // r12: m9 = pushed length-filter scan → in-partition LZW
    // encode/decode/stats — a zero-shuffle codec pipeline
    Shape("m9_gif_decode", maxShuffles = 0, minPushedScans = 1),
    // r13: m10 = synth → Rice/LPC encode → decode → stats, all inside
    // the scan partition (the m2b contract)
    Shape("m10_flac_decode", maxShuffles = 0, minPushedScans = 1),
    // r12: d15 = ONE corpus scan into per-source sketches (the q25
    // exchange) + a broadcast sources² sketch grid; the pair algebra
    // runs on ≤k-long arrays — no value-grain pair join anywhere
    Shape("d15_source_overlap", maxShuffles = 2, minBroadcasts = 1),
    // r12: s8 = s1's broadcast-query scoring scan → ONE query-keyed
    // exchange shared by the shortlist window AND the per-query
    // grouping (clustering reuse) → in-partition greedy on bounded
    // arrays; a second exchange means the greedy leaked into joins
    Shape("s8_ann_mmr", maxShuffles = 1, minBroadcasts = 1),
    // r12: q26 = projected event scan → ONE funnel aggregate whose
    // partials carry the group's funnel events (map-side combine);
    // a second exchange means the chain logic fell back to joins
    Shape("q26_window_funnel", maxShuffles = 1),
    // r13: q27/q27b share q26's shape — ONE sequence aggregate over
    // the projected event scan, merge-concat partials; q28 is two
    // bounded hash aggregates (user grain, then cohort grain)
    Shape("q27_sequence_match", maxShuffles = 1),
    Shape("q27b_sequence_count", maxShuffles = 1),
    Shape("q28_retention", maxShuffles = 2),
    // r13: q29 is ONE aggregation whose partials carry ≤ N+1 values
    // per (task, supplier) — a second exchange or a distinct
    // expansion means the cap stopped doing its job
    Shape("q29_uniq_upto", maxShuffles = 1),
    // r13: q30 is ONE aggregation whose partials carry a ~k-item KLL
    // summary per (task, group) with map-side combine; the three
    // rank-selects run at summary grain AFTER the exchange — a second
    // exchange means a quantile leaked back to the value grain
    Shape("q30_quantile_sketch", maxShuffles = 1),
    // r13: q31 = ONE event-grain scan collapsing at the hourly
    // aggregate, then lead()+bounded-explode gap fill inside a
    // span-grain window exchange — a third exchange (or any join)
    // means the calendar went back to a second corpus scan
    Shape("q31_time_fill", maxShuffles = 2),
    // r13: q32 = q31's plan + the decayed-sum window, which shares
    // q31's event_type partitioning — a Sort inside the exchange,
    // never a third shuffle
    Shape("q32_decayed_counts", maxShuffles = 2),
    // r13: q33 = the d15 grid shape at bitmap grain — per-type
    // summary aggregation + a broadcast types² summary grid; the
    // pair algebra runs on summary rows, never a user-grain pair join
    Shape("q33_bitmap_overlap", maxShuffles = 2, minBroadcasts = 1),
    // r13: q34 = the sweep-line — union fan-out is scan-local, the
    // running-sum window and the per-user max SHARE one user-grain
    // exchange; a second exchange means the aggregate stopped reusing
    // the window's partitioning (or the sweep leaked into a join)
    Shape("q34_max_concurrent", maxShuffles = 1, minPushedScans = 1),
    // r13: q35 = two bounded hash aggregates ((user,type) grain, then
    // user grain) with map-side combine; the nanobit log lattice is
    // scan-local arithmetic — any third exchange means the entropy
    // formula fell back to a join or window
    Shape("q35_entropy", maxShuffles = 2),
    // r13: q37 = the 1-row min/max broadcast + ONE (type,bin) hash
    // aggregate with map-side combine; bin math is scan-local
    Shape("q37_histogram", maxShuffles = 2, minBroadcasts = 1),
    // r14: q38 = ONE user-grain exchange shared by BOTH window passes
    // (lead ×2 / row_number use the same (user, ts, event_id)
    // ordering; the first-match rank reuses the partitioning) — a
    // second exchange means a window stopped sharing, a join appeared
    // (no pushed-filter pin: the view→click predicate reads window
    // output, so nothing is pushable below the timeline scan)
    Shape("q38_sequence_next_node", maxShuffles = 1),
    // r13: q36 = the q14 hourly rollup + ONE lttb aggregate whose
    // state is the series itself (time-span-bounded, never corpus);
    // a third exchange means the selection leaked into joins/windows
    Shape("q36_lttb_downsample", maxShuffles = 2),
    // r13: f26's RETURNED plan is the post-checkpoint census — wedge
    // self-join + closing edge lookup (both size-based joins over the
    // materialized oriented/edge blocks) + ONE final corner aggregate;
    // the edge canonicalization/degree/orientation exchanges ran at
    // build into localCheckpoint blocks (the f20b discipline)
    Shape("f26_triangles", maxShuffles = 2),
    // r13: f27's RETURNED plan runs over the checkpointed item set —
    // the per-basket self-join (one order-keyed exchange both sides
    // reuse), the pair aggregate, the two node-grain count attaches,
    // and the 1-row basket-total broadcast; past 5 means a count
    // table re-derived items from scratch
    Shape("f27_cooccur_pmi", maxShuffles = 5),
    // r13: s10 = s1's broadcast-query scoring scan MINUS the top-k
    // windows — radius needs no rank, so the whole query is a pushed
    // scan projection + filter: ZERO exchanges, ever
    Shape("s10_range_search", maxShuffles = 0, minBroadcasts = 1,
      minPushedScans = 1),
    // r12: m8 = pushed length-filter scan → in-partition encode/
    // decode/hash (image bytes never leave the scan) → ONE window
    // exchange on the 8-byte hash for the dup verdict
    Shape("m8_image_dhash", maxShuffles = 1, minPushedScans = 1),
    // r12: f23's returned plan joins the two visited CHECKPOINTS (the
    // expansions already ran) + the broadcast 1-row min — membership
    // costs the da⋈db equi-join, never a re-expansion
    Shape("f23_shortest_path", maxShuffles = 5, minBroadcasts = 1))

  // t8 r8: the vocabulary rollup lost its forced broadcast — its row
  // count grows with corpus vocabulary, the one former small side that
  // was NOT structurally bounded. Term totals now attach via a window
  // inside the term-grain exchange, so even with the broadcast budget
  // at ZERO (the web-scale regime for anything vocabulary-sized) the
  // plan keeps only the two structurally-bounded hint-broadcasts
  // (per-source counts, 1-row total) and never joins on term at all.
  test("plan shape: t8 term stats survive a web-scale vocabulary") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = SparkEntry.queries("t8_distinctive_terms")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(PlanCounters.broadcasts(plan) == 2,
        s"t8 no-broadcast regime: expected exactly the 2 bounded hint " +
          s"broadcasts:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"t8 no-broadcast regime: no join may depend on the vocabulary " +
          s"rollup:\n$plan")
      assert(PlanCounters.shuffles(plan) <= 5, plan)
    } finally spark.conf.set(key, prev)
  }

  // t11 r8: the survivor subtree feeds both the example-id semi-join
  // and the final text-recovery join, so it appears twice statically;
  // at runtime its two identical gram-hash-count Exchanges MUST dedup
  // (ReusedExchange) — losing the reuse silently doubles the one
  // corpus-sized pass of the whole query
  test("plan shape: t11 survivor shuffle is computed once at runtime") {
    val df = SparkEntry.queries("t11_dup_passages")(spark, sf)
    df.queryExecution.toRdd.count() // materialize AQE stages
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"t11 executed plan lost the survivor-subtree exchange reuse:\n$plan")
  }

  for (s <- shapes) test(s"plan shape: ${s.name}") {
    val plan = SparkEntry.queries(s.name)(spark, sf)
      .queryExecution.executedPlan.toString
    // counters shared with PlanAudit (one definition, no drift)
    val shuffles = PlanCounters.shuffles(plan)
    val broadcasts = PlanCounters.broadcasts(plan)
    val pushed = PlanCounters.pushedScans(plan)
    assert(shuffles <= s.maxShuffles,
      s"${s.name}: $shuffles shuffles (max ${s.maxShuffles}):\n$plan")
    assert(broadcasts >= s.minBroadcasts,
      s"${s.name}: $broadcasts broadcasts (need ${s.minBroadcasts}):\n$plan")
    assert(pushed >= s.minPushedScans,
      s"${s.name}: $pushed scans with pushed filters " +
        s"(need ${s.minPushedScans}):\n$plan")
  }
}
