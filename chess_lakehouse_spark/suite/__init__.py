r"""The oracle-gated query suite.

Every operator claimed in SURVEY.md §2 (plus the training-data-pipeline
extensions) is exercised by a named query implemented twice:

- a PySpark implementation (DataFrame/SQL, Catalyst-planned) in QUERIES
- an equivalent ANSI-SQL string for the DuckDB oracle in ORACLES

Determinism contract (so the driver's order-insensitive value-hash matches):

- Aggregates over doubles cast each element to DECIMAL(18,6) BEFORE summing —
  decimal addition is exact and order-independent, where double summation
  differs in low bits between engines/partitionings — then cast the final
  value back to DOUBLE (<= 15 significant digits: lossless both ways).
- Timestamps are emitted as epoch microseconds (unix_micros / epoch_us), never
  raw timestamp values, to sidestep tz/precision formatting differences.
- Every top-k / argmax has a total order (unique key as final tie-break).
- MEANS of decimal sums must round in exact integer arithmetic
  (functions/exact.py sum6_long + mean6; SQL twins _sum6_sql/_mean6_sql
  in suite/llm.py), never ``ROUND(double_sum / n, 6)``: a quotient
  landing exactly on a half at the 7th decimal (data-dependent; first hit
  at sf0.1 in label_centroids) is resolved differently by Spark's
  BigDecimal-HALF_UP and DuckDB's floating round(). Every sum-then-divide
  mean in the suite uses the integer form (centroids, lm scores, rolling
  time mean, z-score group means, avg_chars, pandas source stats).
  Residual accepted risk: ROUND of a transcendental output (ln/sqrt/pow
  chains) can still diverge if the double lands within an ulp of a
  6-decimal half — not integer-izable; measure-near-zero and unobserved
  at either verified scale.
- Oracle outputs must be explicitly cast: DuckDB widens integer SUM (plain
  AND windowed) to HUGEINT (int128), which the driver's value-hasher
  represents differently from Spark's BIGINT even when values are equal —
  wrap every integer SUM in CAST(... AS BIGINT). The full allowlist of
  driver-safe oracle output types is {BIGINT, INTEGER, DOUBLE, VARCHAR,
  BOOLEAN}, enforced by tests/test_oracle_types.py (r4 postmortem:
  chunk_dedup / dq_check / budget_sample).

The cross-engine portability pillars these rules rest on are each
sweep-tested: the md5-derived 60-bit hash (Spark conv == DuckDB CAST
hex), the sequential double fold (F.aggregate == list_dot_product,
bit-identical), ROUND(ln(int ratio), 6) (tests/test_llm_ops.py), and
whitespace tokenization via the EXPLICIT class functions/text.py:WS_SPLIT
— never ``\s``, whose Java-vs-RE2 definitions diverge on exactly U+000B
(full-codepoint sweep in tests/test_tokenization_parity.py).
"""

from __future__ import annotations

from chess_lakehouse_spark.suite import chess, core, llm, mm

_ALL_QUERIES = {**core.QUERIES, **chess.QUERIES, **mm.QUERIES, **llm.QUERIES}
_ALL_ORACLES = {**core.ORACLES, **chess.ORACLES, **mm.ORACLES, **llm.ORACLES}

# The driver's correctness harness records exactly the FIRST 50 entries of
# queries() in dict-iteration order, so the window must be budgeted like a
# scarce resource. WINDOW_BUDGETED_FOR names the driver round this window
# plans for (the staleness ratchet in tests/test_suite_order.py is
# two-phase on it: evidence within the revisit bound before that round's
# CORRECTNESS file lands, one round looser after, so pytest is green on
# both sides of a driver run).
#
# Revisit-period math (introduced r8, the first round the suite exceeded
# 100 gated queries): with N non-rows-only registered queries and a
# 50-slot window, round-robin rotation revisits every query within
# P = ceil(N / 50) rounds. At N = 109 (110 registered minus the
# rows-only approx_stats; 105 before the r9 registrations) P = 3, so the
# ratchet bound — enforced by tests/test_suite_order.py dynamically from
# the recorded CORRECTNESS files — is: NO query's newest hash-green row
# may age more than P - 1 = 2 recorded rounds behind the latest file
# (out-of-window queries strictly; in-window queries are refreshed by the
# budgeted run itself).
#
# Round-8 window priority:
#   1. the 5 queries NEW to the gate, never driver-verified — dedup_span
#      (ExactSubstr, Lee et al. 2021), quality_gopher (Rae et al. 2021
#      rule battery with stop-hit case/punct normalization), bm25_batch
#      (one-pass batch scoring), corpus_sketch_counts (HLL sketch path,
#      exact-column projection), url_canonical (C4/RefinedWeb URL
#      canonicalize + host cap, built new in r8). The first four oracles
#      were promoted from tests/ into suite/llm.py at registration (the
#      bm25_topk anti-divergence pattern: tests import the suite
#      template) after exact value parity in tests/test_r8_candidates.py;
#      url_canonical's oracle is generated from the SAME regex constants
#      the Spark chain compiles (suite/llm.py:_URL_CANON_CORE) and
#      parity-pinned in tests/test_urls.py.
#   2. 45 of the 50 queries whose newest green row is r06 — rotated back
#      in. The remaining 5 r6-green queries (qc_count, semi_join,
#      sort_limit, union_append, window_topk — the five cheapest,
#      most-stable relational ops) defer to the FRONT of the r9 window;
#      their age at r8-commit time is latest - 1 = within the P - 1 bound.
# Every query outside the window is hash-green in r07 or r06 (within the
# bound) AND in scripts/verify_local.py's full-suite run, committed per
# round as VERIFY_LOCAL_r{N}.txt at both sf0.01 and sf0.1.
#
# Round-9 window (re-planned per the committed r8 plan below; ratchet
# bumped FIRST):
#   1. the 4 queries NEW to the gate, never driver-verified — the three
#      r8-staged candidates `lm_staged` / `pii_scan` / `html_strip`
#      (each registered with its suite-defined oracle after two-scale
#      exact parity + a cold-JVM ANSI run + the type-allowlist guard:
#      tests/test_lm_staged.py, test_pii_scan.py, test_strip_html.py)
#      plus `classifier_serve` (r8 verdict task 3: the learned-gate
#      SERVING path with a FIXED literal weight dict — the keep boolean
#      derives from the bit-exact linear margin z >= 0, the sigmoid
#      output is the documented ROUND-of-a-transcendental accepted-risk
#      class; oracle generated from the SAME model dict,
#      suite/llm.py:classifier_oracle_sql; tests/test_r9_candidates.py).
#   2. the 5 queries whose newest green row is r06 (deferred from r8 at
#      the P - 1 bound per the committed plan): qc_count, semi_join,
#      sort_limit, union_append, window_topk.
#   3. 41 of the 50 r7-green queries. The remaining 9 (event-/relational
#      core ops: events_hourly, export_projection, filter_null_predicate,
#      groupby_agg, join_star, json_extract, rolling_avg, scalar_kitchen,
#      supplier_revenue — cheap, never-regressed) defer to the FRONT of
#      the r10 window; their age at r9-commit time is latest - 1 = within
#      the P - 1 bound.
# After r9 lands the steady-state rotation holds: 50 r9-green (age 0),
# 50 r8-green (age 1), 9 r7-green (age 2, at the bound) — r10's window
# must take the 9 deferred queries first, then the 41 stalest r8-green;
# the remaining 9 r8-green defer to r11 the same way. With N = 109
# non-rows-only registered queries (110 minus approx_stats) the revisit
# period stays P = ceil(109/50) = 3.
#
# r10 window planning — FIRST bump WINDOW_BUDGETED_FOR to 10: (1) any
# never-verified queries registered at the re-plan go first — FOUR
# staged candidates are ready, each with a suite-defined oracle,
# two-scale exact parity, and a cold-JVM ANSI run (the full machine-
# checkable manifest, registered-name collisions and oracle shape
# enforced by tests/test_suite_order.py, is llm.py:STAGED_CANDIDATES —
# a re-plan MOVES entries from there into QUERIES/ORACLES):
#   - q_bm25_staged / BM25_STAGED_ORACLE (register as `bm25_staged`;
#     the staged-index serving path, the one scale-headline operator
#     without a driver row; pinned in tests/test_bm25.py);
#   - q_classifier_hashed / HASHED_CLASSIFIER_ORACLE (register as
#     `classifier_hashed`; the fastText-class hashed-ngram gate's
#     serving path — fixed literal token weights bucketed in-engine
#     through the portable md5 chain; tests/test_hashed_classifier.py);
#   - q_contamination_semantic / SEM_CONTAM_ORACLE (register as
#     `contamination_semantic`; cross-set embedding decontamination via
#     OR-ed banded RHP signatures; tests/test_semantic_contamination.py);
#   - q_hamming64 / HAMMING64_ORACLE (register as `dedup_hamming64`;
#     the generalized 64-bit banded hamming join under phash_near_pairs
#     — radius inside the pigeonhole bound, so the brute-force oracle
#     checks recall; tests/test_phash.py);
# Eleven r11 staging candidates are also ready ahead of schedule:
#   - q_badwords / BADWORDS_ORACLE (register as `badwords_gate`; the C4
#     word-blocklist boolean with the Gopher-normalized membership test;
#     tests/test_gopher.py);
#   - q_rollup_staged / ROLLUP_STAGED_ORACLE (register as
#     `rollup_staged`; the incremental materialized rollup lifecycle —
#     build + O(delta) batch-partition fold + zero-corpus serve —
#     against the direct full-table GROUP BY; tests/test_rollup.py);
#   - q_corpus_overlap / CORPUS_OVERLAP_ORACLE (register as
#     `corpus_overlap`; the corpus-grain pairwise shingle-set Jaccard
#     grid with integer-exact rounding; tests/test_corpus_overlap.py);
#   - q_funnel / FUNNEL_ORACLE (register as `funnel_steps`; ordered-step
#     progression counts with strict-order first-occurrence semantics
#     and an entry-anchored integer-microsecond window;
#     tests/test_funnel.py);
#   - q_gapfill / GAPFILL_ORACLE (register as `gapfill`; per-series time
#     grid completion with LOCF forward fill and is_filled markers;
#     tests/test_gapfill.py);
#   - q_anomaly / ANOMALY_ORACLE (register as `anomaly_flags`; trailing
#     z-score flags with the float algebra'd away into one integer
#     comparison — (w·x − s)² > k²(w·ss − s²); tests/test_anomaly.py).
#   - q_dedup_edit / EDIT_DIST_ORACLE (register as `dedup_edit`; exact
#     Levenshtein-<=d pairs via the Gravano VLDB'01 positional q-gram
#     count filter + threshold-DP verify, ASCII scope pinning the
#     byte-vs-char cross-engine boundary; tests/test_edit_join.py).
#   - q_cms_freq / CMS_FREQ_ORACLE (register as `cms_freq`; count-min
#     sketch frequency estimates vs exact counts — md5 buckets make the
#     sketch family's first fully-deterministic cross-engine member;
#     tests/test_cms.py).
#   - q_substring_search / SUBSTR_SEARCH_ORACLE (register as
#     `substring_search`; exact substring lookup through a staged
#     trigram-class index — posting-list intersection + contains verify
#     vs the index-free brute scan; tests/test_substring_index.py).
#   - q_session_pairs / SESSION_PAIRS_ORACLE (register as
#     `session_pairs`; session-grain market-basket co-occurrence with
#     the lift in exact integer millionths via DECIMAL/HUGEINT floor
#     division; tests/test_session_pairs.py).
#   - q_event_transitions / EVENT_TRANSITIONS_ORACLE (register as
#     `event_transitions`; first-order Markov transition matrix within
#     sessions, row-normalized probability in exact millionths;
#     tests/test_session_pairs.py).
# (2) then the 9 deferred r7-green queries (events_hourly,
# export_projection, filter_null_predicate, groupby_agg, join_star,
# json_extract, rolling_avg, scalar_kitchen, supplier_revenue) — at the
# P - 1 bound; (3) then the stalest r8-green queries to fill the
# window. With the 4 registrations N grows to 113 non-rows-only; P
# stays ceil(113/50) = 3.
#
# Round-10 window (executed per the committed r9 plan above; ratchet
# bumped FIRST):
#   1. the 4 queries NEW to the gate, never driver-verified — the four
#      r9-staged candidates promoted verbatim from llm.py's
#      STAGED_CANDIDATES manifest after two-scale exact parity + a
#      cold-JVM ANSI run + the type-allowlist guard: `bm25_staged`
#      (staged-index BM25 serving, tests/test_bm25.py),
#      `classifier_hashed` (hashed-ngram fastText-class gate serving,
#      tests/test_hashed_classifier.py), `contamination_semantic`
#      (cross-set embedding decontamination, banded-OR RHP,
#      tests/test_semantic_contamination.py), `dedup_hamming64`
#      (generalized 64-bit banded hamming join under phash_near_pairs,
#      brute-force-recall oracle inside the pigeonhole bound,
#      tests/test_phash.py).
#   2. the 9 queries whose newest green row is r07 (deferred from r9 at
#      the P - 1 bound per the committed plan): events_hourly,
#      export_projection, filter_null_predicate, groupby_agg, join_star,
#      json_extract, rolling_avg, scalar_kitchen, supplier_revenue.
#   3. 37 of the 50 r8-green queries. The remaining 13 (relational core
#      ops + the cheapest never-regressed entries: anti_join,
#      collect_set, cube, distinct_agg, except, intersect, pivot,
#      range_join, rollup, running_sum, sessionize, shipping_priority,
#      text_normalize) defer to the FRONT of the r11 window; their age
#      at r10-commit time is latest - 1 = within the P - 1 bound.
# After r10 lands the steady-state rotation holds: 50 r10-green (age 0),
# 50 r9-green (age 1), 13 r8-green (age 2, at the bound) — r11's window
# must take the 13 deferred queries first, then the stalest r9-green.
# With the 4 registrations N = 113 non-rows-only; P stays
# ceil(113/50) = 3.
#
# r11 window planning — FIRST bump WINDOW_BUDGETED_FOR to 11: (1) any
# staged candidates registered at the re-plan go first. SIXTEEN are
# ready in llm.py:STAGED_CANDIDATES — the eleven staged in r9
# (badwords_gate, rollup_staged, corpus_overlap, funnel_steps, gapfill,
# anomaly_flags, dedup_edit, cms_freq, substring_search, session_pairs,
# event_transitions) plus five staged in r10:
#   - q_exact_quantiles / EXACT_QUANTILES_ORACLE (register as
#     `exact_quantiles`; distributed sort-rank global quantiles, rank in
#     integer millionths; tests/test_exact_quantiles.py);
#   - q_group_quantiles / GROUP_QUANTILES_ORACLE (register as
#     `group_quantiles`; the by-group form; same test file);
#   - q_bloom_gate / BLOOM_GATE_ORACLE (register as `bloom_gate`; the
#     portable Bloom bitmap gate, FP set engine-identical;
#     tests/test_bloom.py);
#   - q_salted_join / SALTED_JOIN_ORACLE (register as `salted_join`;
#     the skew-salted equi-join vs the PLAIN-join oracle;
#     tests/test_llm_ops.py);
#   - q_gate_attribution / GATE_ATTRIBUTION_ORACLE (register as
#     `gate_attribution`; one-pass curation gate audit vs the
#     conditional-sum oracle; tests/test_llm_ops.py).
# Register as many as window arithmetic allows after (2) the 13 deferred
# r8-green queries (anti_join, collect_set, cube, distinct_agg, except,
# intersect, pivot, range_join, rollup, running_sum, sessionize,
# shipping_priority, text_normalize — at the P - 1 bound, they MUST take
# slots) and (3) enough stalest r9-green to keep every registered query
# within the bound — with N' = 113 + R registrations, P stays 3 while
# N' <= 150, so a full 16-candidate registration (N' = 129) leaves
# 50 - 16 - 13 = 21 slots for r9-green rotation, which satisfies the
# bound only if the remaining 29 r9-green + 37 r10-green queries stay
# within age 2 — they do (r9-green age 2 at r12, revisited in r12's
# window per the same rotation). Verify with tests/test_suite_order.py
# before committing the re-plan.
#
# Round-11 window (executed per the committed r10 plan above; ratchet
# bumped FIRST):
#   1. the 16 queries NEW to the gate, never driver-verified — all
#      sixteen STAGED_CANDIDATES promoted verbatim from llm.py's
#      manifest (each with a suite-defined oracle, two-scale exact
#      parity, and a cold-JVM ANSI run): exact_quantiles,
#      group_quantiles, bloom_gate, salted_join, gate_attribution (the
#      five r10-staged, scale-headline distributed-sort-rank /
#      broadcast-bitmap / skew-salt family) plus the eleven r9-staged
#      (badwords_gate, rollup_staged, corpus_overlap, funnel_steps,
#      gapfill, anomaly_flags, dedup_edit, cms_freq, substring_search,
#      session_pairs, event_transitions).
#   2. approx_stats — newly ORACLED in r11 (the checked-projection
#      rewrite retired the suite's last no_oracle row, suite/core.py);
#      never hash-verified, so it takes a slot the same round its
#      oracle lands. One extra slot vs the committed plan, absorbed by
#      item 4 taking 20 instead of 21 rotation slots.
#   3. the 13 queries whose newest green row is r08 (deferred from r10
#      at the P - 1 bound per the committed plan): anti_join,
#      collect_set, cube, distinct_agg, except, intersect, pivot,
#      range_join, rollup, running_sum, sessionize, shipping_priority,
#      text_normalize.
#   4. 20 of the 50 r9-green queries — selected as the 20 MOST
#      EXPENSIVE by the committed BENCH_FULL.json per-query record (the
#      complex plans carry the most regression risk, so they refresh
#      first; the established defer-the-cheap-stable pattern). The
#      remaining 30 (activity_islands, asof_join, budget_sample,
#      canary_scan, chess_export, chunk_dedup, dedup_exact, dq_check,
#      enrich_argmax, html_strip, lateral_topk, merge_update,
#      mm_frame_sample, paragraph_dedup, pii_scan, qc_count,
#      sample_temperature, semi_join, shard_assignments, sort_limit,
#      source_stats_pandas, text_langid, text_quality, token_count,
#      token_entropy, udaf_gmean, udtf_bigrams, union_append,
#      window_topk, winsorize) defer to the FRONT of the r12 window;
#      their age at r11-commit time is latest - 1 = within the P - 1
#      bound.
# After r11 lands the steady-state rotation holds: 50 r11-green (age
# 0), 50 r10-green (age 1), 30 r9-green (age 2, at the bound) — r12's
# window must take the 30 deferred queries first. With the 16
# registrations (plus approx_stats' oracle) N = 129 non-rows-only
# (130 registered minus approx_stats' historic no_oracle exemption);
# P stays ceil(129/50) = 3.
#
# r12 window planning — FIRST bump WINDOW_BUDGETED_FOR to 12: (1) any
# staged candidates registered at the re-plan go first. EIGHT are ready
# in llm.py:STAGED_CANDIDATES, built and parity-pinned in r11
# (tests/test_r12_candidates.py):
#   - q_bloom_gate_table / BLOOM_GATE_TABLE_ORACLE (register as
#     `bloom_gate_table`; the word-TABLE Bloom layout past the
#     single-row 2^31-bit cap — oracle is BLOOM_GATE_ORACLE verbatim,
#     the layout may never change a verdict);
#   - q_score_percentile / SCORE_PERCENTILE_ORACLE (register as
#     `score_percentile`; global percent-rank in exact integer
#     millionths riding global_sort_rank);
#   - q_robust_zscore / ROBUST_ZSCORE_ORACLE (register as
#     `robust_zscore`; median/MAD Hampel outlier flags, both medians
#     exact discrete quantiles);
#   - q_group_buckets / GROUP_BUCKETS_ORACLE (register as
#     `group_buckets`; the per-group exact-ntile `by` form of
#     score_buckets);
#   - q_pareto_frontier / PARETO_FRONTIER_ORACLE (register as
#     `pareto_frontier`; the 2-D skyline via groupBy-collapse +
#     distributed exclusive prefix-max — the sort-rank skeleton
#     generalized to prefix aggregates);
#   - q_weighted_quantiles / WEIGHTED_QUANTILES_ORACLE (register as
#     `weighted_quantiles`; exact weighted quantiles — cumulative
#     integer-weight cut at ceil(q·W), the prefix-SUM form of the
#     skeleton);
#   - q_scd2 / SCD2_ORACLE (register as `scd2_versions`; the Kimball
#     Type-2 slowly-changing-dimension fold — per-key event windows,
#     no-op collapse, validity-interval chaining);
#   - q_asof_nearest / ASOF_NEAREST_ORACLE (register as `asof_nearest`;
#     the merge_asof nearest-direction + tolerance surface — two
#     ordered key-window passes, backward-preferred distance ties).
# A second r11-built batch raises the manifest to ELEVEN (same
# two-scale + sf0.1 hand-check + cold-JVM + plan-guard discipline,
# tests/test_r12_candidates.py):
#   - q_upsample_epochs / UPSAMPLE_EPOCHS_ORACLE (register as
#     `upsample_epochs`; budgeted data-constrained corpus repetition,
#     Muennighoff 2023 — integer allocation, broadcast plan, map-side
#     epoch explode, zero corpus shuffles);
#   - q_user_growth / USER_GROWTH_ORACLE (register as `user_growth`;
#     daily active/new/cumulative distinct users with NO running-
#     distinct state — first-day counts + calendar-bounded cumsum);
#   - q_interleave_sources / INTERLEAVE_ORACLE (register as
#     `interleave_sources`; deterministic round-robin training order —
#     two global_sort_rank passes, per-group rebase via broadcast
#     min-rank offsets).
# (2) then the 30 deferred r9-green queries listed above — at the
# P - 1 bound, they MUST take slots; (3) then 50 - R - 30 stalest
# r10-green. With R = 11 that is exactly 11 + 30 + 9 = 50; N' = 141,
# P stays 3, and the r10-green left out defer to the r13 front the
# same way. Verify with tests/test_suite_order.py before committing.
#
# r12 window (EXECUTED per the committed plan above; ratchet bumped
# FIRST):
#   1. the 11 queries NEW to the gate, never driver-verified — the
#      eleven r11-staged candidates promoted verbatim from
#      llm.py:STAGED_CANDIDATES at this re-plan (bloom_gate_table,
#      score_percentile, robust_zscore, group_buckets, pareto_frontier,
#      weighted_quantiles, scd2_versions, asof_nearest, upsample_epochs,
#      user_growth, interleave_sources — two-scale exact parity +
#      cold-JVM ANSI + plan guards in tests/test_r12_candidates.py,
#      hand-verified at sf0.1 in the r11 build session).
#   2. the 30 queries whose newest green row is r09 (deferred from r11
#      at the P - 1 bound per the committed plan): activity_islands …
#      winsorize, alphabetical.
#   3. the 9 most expensive r10-green queries by BENCH_FULL.json
#      (defer-the-cheap-stable: complex plans refresh first):
#      bm25_batch, bm25_staged, contamination_ngram, knn_ivf_kmeans,
#      dedup_incremental, dsir_topk, dedup_span, tfidf_cosine,
#      contamination_semantic. The remaining 41 r10-green defer to the
#      FRONT of the r13 window; their age at r12-commit time is
#      latest - 1 = within the P - 1 bound (N' = 141, P = ceil(141/50)
#      = 3 — the bound is unchanged).
# After r12 lands the steady-state rotation holds: 50 r12-green (age
# 0), 50 r11-green (age 1), 41 r10-green (age 2, at the bound) — r13's
# window must take those 41 first, then 50 - R' - 41 stalest r11-green
# (with R' staged registrations; the manifest holds TWELVE after the
# r12 build session: length_histogram, shard_skew, quantile_normalize,
# ann_recall staged in r11, plus dedup_semdedup, tokenizer_fertility,
# stream_interval_join, heavy_hitters, lsh_recall, stream_sessionize,
# heavy_hitters_staged, stream_dedup_watermark staged in r12. The r13
# window has room for R' = 9 never-verified registrations ahead of the
# 41 age-bound rows (9 + 41 = 50, zero rotation slots); register the
# seven r11/early-r12-staged first plus TWO of the r12 second batch
# and carry the other three to r14 — N'' = 150, P stays 3, and the
# carried candidates plus fresh r13 staging keep the manifest
# non-empty across the promotion, the standing invariant.)
#
# r13 window (EXECUTED per the committed r12 plan above; ratchet bumped
# FIRST):
#   1. the 9 queries NEW to the gate, never driver-verified — nine
#      staged candidates promoted verbatim from llm.py:STAGED_CANDIDATES
#      at this re-plan: the four r11-staged (length_histogram,
#      shard_skew, quantile_normalize, ann_recall —
#      tests/test_r12_candidates.py), the three early-r12-staged
#      (dedup_semdedup, tokenizer_fertility, stream_interval_join —
#      tests/test_r13_candidates.py), and the two broadest-audit-value
#      entries of the r12 second batch (heavy_hitters, lsh_recall —
#      tests/test_r14_candidates.py); each with two-scale exact parity +
#      cold-JVM ANSI + plan guards.
#   2. the 41 queries whose newest green row is r10 (at the P - 1 = 2
#      age bound after r12 — they MUST take the remaining slots):
#      bm25_topk … vocab_topk, alphabetical. 9 + 41 = 50, zero rotation
#      slack — exactly the committed arithmetic.
# After r13 lands the steady-state rotation holds: 50 r13-green (age
# 0), 50 r12-green (age 1), 50 r11-green (age 2, at the bound) — r14's
# window must take those 50 r11-green first. N'' = 150, P stays
# ceil(150/50) = 3, so an r14 registration is only legal because each
# new registration RAISES N past 150 and with it P to ceil(N/50) = 4,
# loosening the bound to 3 exactly when the window gives up a refresh
# slot — the ratchet's self-balancing arithmetic
# (tests/test_suite_order.py computes P dynamically). The manifest
# holds NINE after this promotion: the three r12-staged carries
# (stream_sessionize, heavy_hitters_staged, stream_dedup_watermark)
# plus six staged in the r13 build session (sample_reservoir,
# curriculum_order, stream_rollup, qc_card_signals, record_linkage,
# knn_pq_adc — tests/test_r15_candidates.py: two-scale exact parity +
# cold-JVM ANSI + plan guards each). COMMITTED r14 plan: bump the
# budget FIRST, register R of the nine (suggest 5-6, newest-evidence
# first: qc_card_signals, sample_reservoir, curriculum_order,
# stream_rollup, record_linkage, knn_pq_adc; carry the stream trio if
# slots run short), then 50 - R of the stalest r11-green; the R
# r11-green left out sit at age 3 = the NEW P - 1 bound (P becomes
# ceil((150 + R)/50) = 4 at the same moment the registrations raise N
# past 150), so r15's window MUST take them first — verify with
# tests/test_suite_order.py before committing, as always.
#
# r14 window (EXECUTED per the committed r13 plan above; ratchet bumped
# FIRST):
#   1. the 6 queries NEW to the gate, never driver-verified — six
#      staged candidates promoted verbatim from llm.py:STAGED_CANDIDATES
#      at this re-plan, newest-evidence first per the committed plan:
#      sample_reservoir, curriculum_order, stream_rollup,
#      qc_card_signals, record_linkage, knn_pq_adc (all staged in the
#      r13 build session — two-scale exact parity + cold-JVM ANSI +
#      plan guards in tests/test_r15_candidates.py).
#   2. 44 of the 50 queries whose newest green row is r11 (at the
#      P - 1 = 2 age bound after r13): anomaly_flags … sessionize,
#      alphabetical. 6 + 44 = 50, zero rotation slack.
# The 6 r11-green left out (alphabetical tail: shipping_priority,
# source_kl, split_leakage_safe, substring_search, text_normalize,
# tfidf) sit at age 3 = the NEW P - 1 bound: the six registrations
# raise N to 156, so P becomes ceil(156/50) = 4 at the same moment the
# window gives up six refresh slots — the ratchet's self-balancing
# arithmetic (tests/test_suite_order.py computes P dynamically).
# COMMITTED r15 plan: bump the budget FIRST, then (1) the 6 age-bound
# r11-green above MUST take slots; (2) register R of the staged
# manifest, oldest staged evidence first — the manifest holds NINE
# after the r14 build session: the three r12-staged carries
# (stream_sessionize, heavy_hitters_staged, stream_dedup_watermark),
# the r13-staged pq_recall, and five staged in r14 (rank_sketch,
# linkage_score, knn_ivfpq, rank_sketch_staged, linkage_entities —
# tests/test_r16_candidates.py: two-scale exact parity + cold-JVM ANSI
# + plan guards each); (3) fill the remaining 50 - 6 - R slots with
# the stalest r12-green. Registering R of the nine raises N to 156 + R
# past the next P boundary only at R >= 45, so P stays 4 and the bound
# stays 3 — there is NO self-balancing slack this round: the 6
# age-bound rows plus R <= 9 registrations leave 50 - 6 - R >= 35
# refresh slots, and the stalest r12-green MUST fill them. Verify with
# tests/test_suite_order.py before committing, as always.
#
# r15 window (EXECUTED per the committed r14 plan above with R = 9;
# ratchet bumped FIRST):
#   1. the 9 queries NEW to the gate, never driver-verified — ALL nine
#      staged candidates promoted verbatim from llm.py:STAGED_CANDIDATES
#      at this re-plan, oldest staged evidence first per the committed
#      plan: stream_sessionize, heavy_hitters_staged,
#      stream_dedup_watermark (r12-staged, tests/test_r14_candidates.py),
#      pq_recall (r13-staged, tests/test_r15_candidates.py), rank_sketch,
#      linkage_score, knn_ivfpq, rank_sketch_staged, linkage_entities
#      (r14-staged, tests/test_r16_candidates.py) — each with two-scale
#      exact parity + cold-JVM ANSI + plan guards before promotion.
#   2. the 6 queries whose newest green row is r11 (at the P - 1 = 3
#      age bound, deferred from r14 per the committed plan):
#      shipping_priority, source_kl, split_leakage_safe,
#      substring_search, text_normalize, tfidf.
#   3. 35 of the 50 queries whose newest green row is r12 — the stalest
#      cohort, alphabetical: activity_islands … shard_assignments.
#      9 + 6 + 35 = 50, zero rotation slack.
# The 15 r12-green left out (alphabetical tail: sort_limit,
# source_stats_pandas, text_langid, text_quality, tfidf_cosine,
# token_count, token_entropy, udaf_gmean, udtf_bigrams, union_append,
# upsample_epochs, user_growth, weighted_quantiles, window_topk,
# winsorize) sit at age 3 = the P - 1 bound: the nine registrations
# raise N to 165, so P stays ceil(165/50) = 4 and the bound stays 3
# (tests/test_suite_order.py computes P dynamically).
# COMMITTED r16 plan: bump the budget FIRST, then (1) the 15 age-bound
# r12-green above MUST take slots; (2) register R of the staged
# manifest, oldest staged evidence first — the manifest holds
# knn_ivfpq_stream (staged in the r15 build session:
# tests/test_r17_candidates.py, two-scale exact parity + cold-JVM ANSI
# + plan guards) plus whatever later r15-session commits stage; (3)
# fill the remaining 50 - 15 - R slots with the stalest r13-green,
# alphabetical. Registering R <= ~35 keeps N = 165 + R under 200, so P
# stays 4 and the bound stays 3: the 15 age-bound rows plus R
# registrations leave 50 - 15 - R refresh slots, and the stalest
# r13-green MUST fill them. Verify with tests/test_suite_order.py
# before committing, as always.
#
# r16 window (EXECUTED per the committed r15 plan above with R = 0 — no
# candidate registered; the plan landed after CORRECTNESS_r16.json, so
# the budget names r16 and the ratchet checks its post-run floor):
#   1. the 15 queries whose newest green row is r12 (at the P - 1 = 3
#      age bound): sort_limit … winsorize, alphabetical.
#   2. 35 of the 50 queries whose newest green row is r13 — the stalest
#      cohort, alphabetical: ann_recall … repetition_metrics.
#      15 + 35 = 50, zero rotation slack.
# The 15 r13-green left out (alphabetical tail: rolling_avg … vocab_topk)
# sit at age 3 = the P - 1 bound once r16 is the latest record, so the
# next re-plan MUST take them first, then the stalest r14-green.
WINDOW_BUDGETED_FOR = 16

_WINDOW_ORDER = [
    # newest green row r12 — the 15 deferred from r15, at the age bound
    "sort_limit",
    "source_stats_pandas",
    "text_langid",
    "text_quality",
    "tfidf_cosine",
    "token_count",
    "token_entropy",
    "udaf_gmean",
    "udtf_bigrams",
    "union_append",
    "upsample_epochs",
    "user_growth",
    "weighted_quantiles",
    "window_topk",
    "winsorize",
    # newest green row r13 — 35 of the 50 stalest, alphabetical (the 15
    # left out move to age 3 = the P - 1 bound; the next window takes them)
    "ann_recall",
    "bm25_topk",
    "boilerplate_strip",
    "bpe_train",
    "classifier_hashed",
    "corpus_delta",
    "corpus_sketch_counts",
    "dedup_hamming64",
    "dedup_minhash_lsh",
    "dedup_semdedup",
    "doc_chunks",
    "embedding_drift",
    "event_funnel",
    "event_outliers",
    "events_hourly",
    "export_projection",
    "filter_null_predicate",
    "groupby_agg",
    "heavy_hitters",
    "join_star",
    "json_extract",
    "knn_quantized",
    "label_centroids",
    "lake_skipping_read",
    "length_histogram",
    "lm_score",
    "lm_score_bigram",
    "lsh_recall",
    "mm_decode_meta",
    "pack_sequences",
    "pmi_topk",
    "quality_buckets",
    "quality_gopher",
    "quantile_normalize",
    "repetition_metrics",
]

QUERIES = {name: _ALL_QUERIES[name] for name in _WINDOW_ORDER}
QUERIES.update(
    (name, fn) for name, fn in sorted(_ALL_QUERIES.items()) if name not in QUERIES
)
ORACLES = {name: _ALL_ORACLES[name] for name in QUERIES if name in _ALL_ORACLES}
