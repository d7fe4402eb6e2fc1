"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Output protocol (round 5 — VERDICT r4 item 2): the driver records
only the LAST ~2000 characters of stdout and parses a JSON line out
of that tail; round 4's single all-detail line outgrew the window and
the official record became an unparseable fragment (`parsed: null`).
So the LAST stdout line is now a size-capped summary — wall-clock +
every headline timing (2 dp, compact separators), with the scale-probe
ratios appended only if the line stays under the cap — and the full
uncapped result (probe sec values, error text) is written to
`BENCH_FULL.json` next to this script and echoed to stderr.

Each query is forced through the noop sink so the FULL plan executes
(count() would let Catalyst prune window/projection work).

Measurement protocol (round 4, hardened round 5): each headline/x10
query runs TWICE at the measured scale and the BEST of the two runs is
recorded ("measure": "warm_best_of_2"), with the Spark cache cleared
between runs so both runs recompute everything — warm in the
JIT/page-cache sense only, never the data sense. Rationale:
single-shot timings fold ~1-2 s of per-plan-shape JVM C2 compilation
into the number; that noise produced the spurious r1→r3 "+34% drift"
verdict on dedup_minhash_lsh (isolated steady state: 1.5-1.6 s, under
the r1 value). Round 4 recorded the second run unconditionally, but a
transient stall (GC pause, OS page-out late in the ~50-query session)
landing ON the second run still poisons the record — ts_gapfill's
events_x10 probe once recorded 14.3× that reproduces at 1.4-1.6× in
isolation. min(run1, run2) is identical to second-run in the steady
state (run 2 is almost always the faster one) and immune to a one-off
stall on either run. Steady state is what a resident engine process
delivers — and is this harness's stated intent since round 1. Since
round 6 the 100× probes use a warm multi-run protocol: their original
single-shot design ("first-touch scaling") produced a 32.5×
dedup_incremental_near record that isolated re-checks place far lower
— and round 7 deepened that tier to min-of-5 on BOTH sides
("steady_min_of_5", VERDICT r6 item 4) after instrumentation showed
the residual 8.27×-vs-17.49× oscillation lived entirely in the
overhead-dominated ~1-2 s denominator, not the stable 100× side.

VARIANCE ENVELOPE (round 7, VERDICT r6 item 5): best-of-2 records a
point, not a band, so a +7% suite wall or a 1.9× single-query move
between rounds was unclassifiable from the artifacts alone (r6 had
three >30% sub-second regressions with zero code change). After the
headline pass, a 10-query SENTINEL subset — the three r6 movers plus
a cross-section of every tier — is re-run 3 more times and the per-
query spread (max/min of all recorded runs, as a % of min) is emitted
under "variance"; a cross-round move inside a sentinel's recorded
band is session noise, outside it a real change.

Protocol provenance per round (cross-round comparisons must be
tagged, ADVICE r5): r1-r3 single-shot; r4 warm_second_run; r5+
warm_best_of_2 (min-of-2 <= second-of-2 by construction, so
cross-protocol deltas slightly flatter newer rounds); r7+ x100 tier
steady_min_of_5 (deeper floor — expect x100 ratios to read slightly
LOWER than r5/r6 records of the same code); graph_x4
ratios measure ITERATION cost only — the one-time bucketed edge
ingest runs during the first 4x pass and best-of-2 excludes it,
exactly as a per-source-version ingest is excluded from per-query
cost in deployment. r8+: the embeddings_x100 tier ALSO runs
steady_min_of_5 (ADVICE r7 — it shares docs_x100's overhead-dominated
denominator physics; r7's emb_x100 records were warm_best_of_2, so
expect r8 ratios to read slightly lower on protocol alone); the
sign-LSH key sidecar ingests are pre-warmed outside every timed
window (VERDICT r7 item 2 — they are per-source-version costs, and
the amplified corpora regenerate per driver-testdata generation, so
the ingest previously landed inside the timed window
nondeterministically); and a "suite_band" record (three full-suite
pass sums) classifies fleet-wide wall moves the per-query sentinel
envelope cannot (VERDICT r7 item 3). r13: the two x100 tiers moved
from in-session measurement to fresh subprocesses (JVM-session
contamination, see probe notes below). r14 (VERDICT r13 item 1 — the
r13 driver bench exceeded its budget and was SIGTERM'd with no JSON
line): the x100 subprocesses are batched ONE PER TIER (2 JVM starts,
not 13), their protocol is steady_min_of_3 with the per-run spread
recorded (expect r14+ x100 walls to read slightly HIGHER than r13
min-of-5 records of the same code — min over fewer runs), the floors
subprocess runs once (no retry), and a SIGTERM handler emits the
capped summary line for whatever completed ("partial": true) so even
a killed run yields a parseable record.
"""

from __future__ import annotations

import gc
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdatafinalproject_hockey_spark.queries import QUERIES  # noqa: E402
from bigdatafinalproject_hockey_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The engine's headline suite: the reference-shaped relational core
# (agg/join/window/pipeline) + the scale-path extension operators.
HEADLINE = [
    "agg_group_multi",      # TPC-H Q1 shape: grouped multi-measure agg
    "join_star",            # Q5 shape: fact ⋈ broadcast dims
    "join_self_matchup",    # the reference's matchup self-join
    "win_expanding_avg",    # flagship leakage-free window
    "win_sliding_avg",
    "pipeline_features",    # composed end-to-end reference flow
    "join_asof",            # union + single-sort as-of (trades/quotes shape)
    "dedup_exact",
    "dedup_minhash_lsh",    # sub-quadratic near-dup (scale path)
    "sim_cosine_topk",
    "sim_ann_ivf",          # coarse-quantized ANN (scale path)
    "text_quality_score",
    "dedup_segments",       # segment-level dedup (curation path)
    "pipeline_document_curation",  # composed corpus-curation flow
    "text_top_tokens",      # global top-k over an exploded token stream
    # new in round 2 (no round-1 comparison point):
    "join_bucketed",        # co-bucketed ingest + shuffle-free join
    "pack_sequences",       # greedy training-sequence packing per shard
    # new in round 3:
    "dedup_minhash_lsh_portable",  # oracle-verified flagship dedup variant
    "tokenize_to_ids",      # broadcast-vocab text→ids (pretraining step)
    # new in round 4 (no earlier comparison point):
    "text_quality_classifier",  # row-local hashed-feature model filter
    "mv_incremental_agg",   # incremental materialized-view maintenance
    "join_bloom_pruned",    # selective fact⋈dim (bloom semi-join shape)
    "merge_scd2",           # SCD2 versioned dimension merge
    "scan_files_pruned",    # manifest file skipping (ingest amortized)
    "embedding_quantize",   # int8 vector compression (pure map)
    "pipeline_incremental_curation",  # composed ingest-day-N flow
    "ts_gapfill",           # densify + forward-fill (all user-keyed)
    "graph_pagerank",       # iterative joins+aggs (Pregel-as-dataflow)
    "sim_hybrid_rrf",       # dense+sparse fusion (RAG retrieval shape)
    "win_rolling_median",   # order-statistic window
    # new in round 4c:
    "events_attribution",   # last-touch window carry (no interval join)
    "ts_downsample",        # OHLC bars: 2 windows + agg, one shuffle
    "analytics_promo_share",  # Q14 shape: broadcast join + cond. agg
    "events_anomaly_mad",   # 4 user-keyed stages (median/MAD fences)
    "join_dpp",             # runtime partition pruning (fact ⋈ dim)
    "join_interval_binned", # non-broadcast interval join via binning
    # new in round 4d:
    "graph_triangle_count", # degree-oriented wedge join (O(m^1.5))
    "graph_bfs_hops",       # frontier BFS, 4 checkpointed rounds
    "ts_ewma",              # applyInPandas sequential fold per user
    "events_top_paths",     # 2 lead() windows + trigram top-k
    "sample_weighted",      # integer priority sampling (TakeOrdered)
    "mv_incremental_join",  # delta-join view: 4 store round-trips
    "analytics_top_supplier",    # Q15 argmax-over-aggregate
    "analytics_idle_customers",  # Q22 anti-join + scalar avg
    "analytics_parts_supplier",  # Q16 distinct-count + exclusion
    # new in rounds 4e/4f:
    "events_peak_concurrency",   # sweep-line: explode + day-window sum
    "events_activity_streaks",   # gaps-and-islands, two windows
    "ts_holt_forecast",          # Arrow fold per user (2-var recursion)
    "join_lateral_topn",         # decorrelated LATERAL top-n
    "agg_bitmap_distinct",       # bitmap-rollup distinct (no Expand)
    # new in round 6:
    "dedup_semantic",            # SemDeDup: IVF-cell blocked embedding dedup
    "ml_centroid_classify",      # Rocchio nearest-class-mean classifier
    "sample_temperature",        # alpha-temperature source mixture
    # new in round 8 (headline holds at the 55-entry driver-tail cap
    # by swapping out two near-duplicate walls: dedup_semantic_autokey
    # REPLACES dedup_semantic_scaled — at sf0.1 the computed width
    # floors at 8 bits, so the two are bit- and plan-identical and a
    # second wall would be a duplicate record — and
    # text_quality_classifier_fast leaves (its slow twin stays; the
    # xxhash64-vs-md5 delta is a documented constant). Both leavers
    # keep their oracle/smoke rows and probe-tier entries):
    "dedup_semantic_autokey",    # SemDeDup, computed key width (the 100 TB config)
    "sim_ann_ivfpq_fitted",      # Lloyd-fitted codebooks -> IVF-PQ search
    # new in round 9 (dedup_keep_best stays headline-OUT like its
    # dedup_components base -- the component pass IS its wall; it keeps
    # its oracle row and the driver-tail line stays under the cap):
    "sim_ann_ivfpq_rerank",      # IVF-PQ + exact-rerank refine (production ANN shape)
]

# Curation-tier queries re-run against a 10×-amplified documents
# corpus (~sf1 for this tier; true sf1 parquet isn't provisioned, so
# the bench derives it from the sf corpus — each copy appends a
# distinct tag token, making copies NEAR-duplicates, the hard case
# for the dedup tier). Shuffle behavior that fixed job overhead hides
# at sf0.1 shows up here.
X10 = [
    "pipeline_document_curation",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_portable",
    "text_top_tokens",
    # new in round 10 (headline stays at its 56-entry driver-tail cap;
    # each X10 entry's sec_1x records the sf0.1 wall regardless):
    "text_extract_html",   # row-local Arrow extraction — should be ~linear
    "dedup_substring",     # repeated-span dedup on the NEAR-DUP corpus —
                           # the output-explosion hard case (clone families
                           # share full-doc spans; expect super-1x from
                           # output growth, like the minhash pair tiers)
    "dedup_substring_rewrite",  # the apply step: detection + interval
                           # merge + corpus rebuild (output ∝ corpus)
    "reshard_training",    # pack fold + one shard window — ~linear
    "pipeline_web_curation",  # extract -> gate -> span dedup composed;
                           # the near-dup corpus explodes the span
                           # stage's output exactly as for
                           # dedup_substring (its slower half)
    # new in round 11:
    "pipeline_web_to_shards",  # the FULL day-0 chain (round 13: URL ->
                           # extract -> gate -> normalize -> gopher ->
                           # mix -> decon -> rewrite -> tokenize ->
                           # pack -> reshard); near-dup clones explode
                           # the span half like its
                           # pipeline_web_curation subset
    "bpe_learn_vocab",     # corpus pass scales ~linearly; the 8 learn
                           # iterations are VOCAB-bound (word types grow
                           # only with the near-dup tag tokens)
    "filter_url_blocklist",  # scan-local canonicalization + broadcast
                           # anti-join + one URL window — ~linear
    # new in round 13 (VERDICT r12 items 4/6/7 — scale evidence for
    # the round-12 cohort + the near-dup tier's production apply):
    "text_repetition_ngram_profile",  # 9x gram explode -> counts-only
                           # shuffle; the heaviest new scan shape
    "decontaminate_redact",  # positional-cut rebuild — the corpus
                           # crosses ONE equi-join; near-linear
    "decontaminate_corpus",  # broadcast bench grams + anti-join;
                           # expected ~1x-10x (scan-bound)
    "sample_tertile_mix",  # tertile window + scan-local rate filter;
                           # expected ~linear
    "dedup_keep_best_minhash",  # quality-aware cluster apply over the
                           # sub-quadratic MinHash candidate stage —
                           # the production action of the near-dup tier
    "dedup_substring_rewrite_cheap",  # the default (pipeline) path,
                           # without the hub-exempt counter branch
]


# 100×-amplified corpus for the input-scaling probes (round 4,
# VERDICT r3 item 6). Unlike the x10 corpus (copies are NEAR-DUPS —
# the output-explosion hard case), the x100 copies get every token
# suffixed with the copy id: DISJOINT vocabularies, zero cross-copy
# similarity. That isolates INPUT scaling — a sub-quadratic op should
# grow ~linearly here, while on the near-dup corpus its output (and so
# its cost floor) necessarily grows with the pair count.
X100 = [
    "dedup_simhash",
    "dedup_incremental_near",
    "tokenize_to_ids",
    # round 10: the substring pair's input-scaling law (disjoint vocab
    # -> zero cross-copy duplication; only within-copy repeats
    # replicate, so output grows linearly and the probe isolates input
    # scaling). Isolated steady floors at 500k docs: 29.3 s detection,
    # 32.1 s rewrite (scripts/isolated_probe.py, round 10).
    "dedup_substring",
    "dedup_substring_rewrite",
    # round 12 (VERDICT r11 item 4): the flagship web->shards
    # composite gets the same docs_x100 promotion dedup_substring got
    # in r10 — on the disjoint-vocab corpus its span stage sees zero
    # cross-copy duplication, so the probe isolates the chain's input
    # scaling (round 13: now the ELEVEN-stage production order — URL
    # blocklist, extract/normalize Arrow stages, gopher battery,
    # tertile mix, decontaminate, span rewrite, tokenize, pack,
    # reshard).
    "pipeline_web_to_shards",
    # round 13 (VERDICT r12 items 6/7): the substring rewrite's
    # DEFAULT path (what composed pipelines actually run — the
    # registered dedup_substring_rewrite measures the opt-in
    # hub-exempt observability branch), and the near-dup tier's
    # production apply step (keep-best over MinHash components — the
    # exact-blocked dedup_keep_best variant is block-scoped by design
    # and explodes on the amplified corpora's heavy posting lists).
    "dedup_substring_rewrite_cheap",
    "dedup_keep_best_minhash",
    # round 13 (VERDICT r12 item 4): the r12 cohort's heaviest scan
    # shape, promoted from docs_x10 per the >3x rule — isolated
    # steady 97.5 s at 500k docs (9.7x of its 10.0 s 1x base for
    # 100x input: the 9-width gram explode is string-heavy but
    # scales linearly with input).
    "text_repetition_ngram_profile",
]
X100_COPIES = 100

# Variance-envelope sentinels (round 7, VERDICT r6 item 5): re-run
# 3 extra times after the headline pass to record each query's
# session-noise band. The three r6 >30% movers lead; the rest are a
# cross-section (scan-agg, broadcast join, window, minhash, IVF,
# composed pipeline, watch-listed gapfill).
SENTINELS = [
    "events_activity_streaks",   # r6 mover: 0.31 -> 0.59 s
    "graph_pagerank",            # r6 mover: 0.80 -> 1.10 s
    "join_lateral_topn",         # r6 mover: 0.82 -> 1.09 s
    "agg_group_multi",
    "join_star",
    "win_expanding_avg",
    "dedup_minhash_lsh",
    "sim_ann_ivf",
    "pipeline_features",
    "ts_gapfill",
]

# Events-tier scaling probe (round 4c): the documents probes say
# nothing about the user-keyed window/agg tier. Amplify events 10×
# with DISJOINT user ids (offset per copy) — 10× the groups at the
# same per-group size, the shape a growing user base actually has;
# per-user window ops should scale ~linearly (sort is per-group).
X10_EVENTS = [
    "events_attribution",   # strictly-prior carry window
    "ts_downsample",        # 2 windows + reusing agg, one shuffle
    "events_anomaly_mad",   # agg→join→agg→join, all user-keyed
    "ts_gapfill",           # grid densify + forward-fill window
    # round 4d — both user-keyed, should scale ~linearly in groups:
    "ts_ewma",              # Arrow fold per user (10× the batches)
    "events_top_paths",     # lead windows + low-cardinality agg
    # round 4f tier (VERDICT r4 item 7 — newest ops had correctness
    # evidence but no scale measurement):
    "events_dau_wau_mau",   # ×30 contribution explosion + distincts
    "agg_bitmap_distinct",  # bitmap words over a 10×-sparser id domain
    "stream_session_dynamic_gap",  # streaming session windows, 10× keys
]

# Multimodal/binary tier at 10× documents (round 6, VERDICT r5
# item 5): the one operator tier that had correctness evidence but no
# scale ratios, and binary payloads are exactly where partition-size
# assumptions break. Reuses the near-dup docs_x10 corpus — payload
# bytes are derived per-row (PPM/PNG synthesis from doc_id, frames
# from text), so 10× rows means 10× payloads through the same
# mapInPandas batch path; the feature/hash columns that DO shuffle
# stay bytes-per-row constant, so these ops should land near-linear.
X10_MULTIMODAL = [
    "multimodal_phash_dedup",   # 60-bit block hash + groupBy dedup
    "multimodal_decode_ppm",    # real P6 decode, two chained stages
    "multimodal_decode_png",    # real PNG inflate+unfilter decode
    "multimodal_frame_sample",  # 1→N frame expansion via mapInPandas
]

# Embedding tier at 10× vectors (round 6): disjoint vec_ids,
# per-copy component rotation (within-copy similarity preserved,
# cross-copy decorrelated, cells stay balanced). The IVF centroid
# set is CAPPED (copy-0 ids only, ≤50 centroids — queries/scale.py
# _ivf_centroids), so the quantizer assignment must scale linearly
# in the corpus; an uncapped every-50th rule would measure ~100×
# here (C grows with n → |corpus|×C quadratic), which is exactly
# the regression this probe exists to catch for the SEARCH ops.
# dedup_semantic is the deliberate exception: cluster-blocked dedup
# pays Σ|cell|² in the pair scan, so with a FIXED codebook its 10×
# ratio lands near the square law (~(10)²/5 — measured ~20-30×); the
# probe records the law rather than hiding it, and round 7 added the
# fix: dedup_semantic_scaled grows the codebook with the corpus
# (C = n/50, target cell ~50 → Σ|cell|² linear) and replaces the
# |corpus|×C flat quantizer with an LSH-bucketed assignment
# (similarity.bucketed_ivf_assignment) so the assignment pass is
# linear too — its ratio here is the VERDICT r6 item 3 gate (≤~5×).
# Embedding tier at 100× vectors (round 7; membership revised round 8):
# the 10× probe bounds the linear tier at ~2-4×; a 100× reading is the
# one a log factor or a leaked quadratic term cannot hide inside. Only
# the designed-linear operators run here. TWO exclusions BY DESIGN,
# one per recorded law: the fixed-CODEBOOK dedup_semantic twin (square
# law in cell size — ~100²×, minutes per shot, already proven at 10×)
# and since round 8 the fixed-KEY-WIDTH dedup_semantic_scaled twin —
# at its pinned 8-bit keys, C = n/50 centroids stop resolving into 2^8
# buckets and candidates/vector grow ∝ C/256 (official r7 x100: 165.8×,
# 29.1M candidate cosines at 200k vectors; its docstring states the
# law). The linear configuration of the same operator IS measured
# here: dedup_semantic_autokey computes bits = max(8, ⌈log2 C⌉) from
# the corpus's parquet footer count (12 bits at 200k vectors —
# ~8 candidates/vector), the VERDICT r7 item 1 gate. Judge the
# WALL, not the ratio (ADVICE r8): across the four committed round-8
# runs the 100× wall held 21.5-23.3 s (≈ the linear extrapolation of
# the 1× pair scan) while the overhead-dominated 0.70-1.15 s base
# spread the ratio 20.2-33.4× — the committed BENCH_FULL entry
# records 33.4× of a 0.70 s base: denominator session noise, not a
# scale law. The 20-33× band is the standing artifact's envelope.
X100_EMB = [
    "dedup_semantic_autokey", # C = n/50 codebook + computed-width keys
    "sim_ann_pq_adc",         # PQ encode + integer ADC scan
    "sim_ann_ivfpq",          # bounded-C cells + code lookups
    "sim_ann_ivfpq_residual", # residual-encoded IVFPQ (same linear shape)
]

X10_EMB = [
    "dedup_semantic",        # cell-blocked pair scan (square law, see above)
    "dedup_semantic_scaled", # scaled codebook, FIXED 8-bit keys (law visible ~x10+)
    "dedup_semantic_autokey",# scaled codebook + computed key width (linear)
    "ml_centroid_classify",  # class means + broadcast argmax
    "sim_ann_ivf",           # bounded-C assignment + cell probe
    "sim_ann_pq_adc",        # PQ encode + integer ADC scan (linear)
    "sim_ann_ivfpq",         # composed IVFPQ: cell probe + code lookups
    "sim_ann_ivfpq_fitted",  # Lloyd fit + IVF-PQ search (fit is linear too)
    "sim_ann_ivfpq_residual",  # residual-encoded IVFPQ (FAISS default shape)
    "sim_ann_ivfpq_rerank",  # IVFPQ + exact-rerank refine (round 9; adds a
                             # bounded |queries|*20 exact-scoring stage)
    "ann_index_delta",       # incremental index ingest (round 9; cost is the
                             # delta slice + frozen broadcast tables)
    "pipeline_embedding_curation",  # composed dedup -> index build (round 9;
                             # both halves designed-linear)
]

# Graph tier re-run against a 4×-amplified lineitem/part/supplier set
# (disjoint key offsets per copy → 4 disjoint replicas of the
# co-purchase graph: 4× nodes, 4× edges, 4× BFS seeds). The round-5
# bucketed edge ingest claims graph queries pay ITERATION cost only —
# this probe measures that cost's scaling in edges. The ingest itself
# (the lineitem self-join) runs during the first 4× run and is
# excluded by the best-of-2 protocol, exactly as a per-source-version
# ingest is excluded from per-query cost in deployment.
X4_GRAPH = [
    "graph_pagerank",       # 3 power iterations over 4× edges
    "graph_triangle_count", # wedge join over 4× oriented edges
    "graph_bfs_hops",       # 4 frontier rounds from 4× seeds
]


def parse_probe_lines(stdout_text: str) -> dict:
    """Extract per-entry probe records from a tier subprocess's stdout
    (round 14): the final ``{"probes": {...}}`` summary line when the
    subprocess finished, else whatever per-entry ``{"probe_partial":
    {name: rec}}`` salvage lines it printed before a timeout killed it
    — so a tier timeout loses only the UNFINISHED entries."""
    recs: dict[str, dict] = {}
    for line in stdout_text.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        payload = doc.get("probes") or doc.get("probe_partial")
        if isinstance(payload, dict):  # a malformed payload is skipped
            recs.update(payload)
    return recs


# Tier/floors children in flight. Each runs in its own process group
# with the JVM it starts, so killing the group leaves no orphan JVM
# busy on the cores the next measurement uses.
_LIVE_CHILDREN: list[subprocess.Popen] = []


def kill_live_children() -> None:
    for proc in _LIVE_CHILDREN:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_child(args: list[str], timeout: float) -> str:
    """``subprocess.run(args, capture_output=True, text=True, timeout=timeout,
    check=True).stdout``, except that the child runs in a new process
    group that a timeout or ``kill_live_children`` kills whole."""
    proc = subprocess.Popen(
        args, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    _LIVE_CHILDREN.append(proc)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        raise subprocess.TimeoutExpired(args, timeout, output=out) from None
    finally:
        _LIVE_CHILDREN.remove(proc)
    if proc.returncode:
        raise subprocess.CalledProcessError(proc.returncode, args, out, err)
    return out


def _amplified_is_fresh(target: str, src: str) -> bool:
    """Staleness gate for a cached amplified table (the repo's staged-
    sink convention): fresh only while a ``_source_token`` sidecar
    matches the source file's size+mtime. ``_SUCCESS`` alone would
    serve STALE amplified data after a driver testdata regeneration —
    probe ratios would silently divide new 1× timings by old 10×
    ones (the ADVICE-r4 stage_payload_files bug class)."""
    st = os.stat(src)
    token = f"{st.st_size}:{st.st_mtime_ns}"
    tok_path = os.path.join(target, "_source_token")
    if os.path.exists(os.path.join(target, "_SUCCESS")) and os.path.isfile(tok_path):
        with open(tok_path) as fh:
            if fh.read() == token:
                return True
    return False


def _record_amplified_token(target: str, src: str) -> None:
    st = os.stat(src)
    with open(os.path.join(target, "_source_token"), "w") as fh:
        fh.write(f"{st.st_size}:{st.st_mtime_ns}")


def _ensure_graph_amplified(spark, sf_dir: str, copies: int) -> str:
    """Materialize a ``copies``×-amplified graph source set under
    .tmp (once): lineitem with per-copy offsets on l_orderkey,
    l_partkey, AND l_suppkey (orders never span copies, so the
    co-purchase graph is ``copies`` disjoint replicas — clean
    ``copies``× nodes and edges), plus part/supplier with matching
    key offsets so BFS seed selection and the pagerank node set scale
    with the graph."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.catalog import load_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".tmp",
        f"bench_graph_x{copies}_{tag}",
    )
    offsets = {
        "l_orderkey": 1_000_000_000,
        "l_partkey": 100_000_000,
        "l_suppkey": 100_000_000,
        "p_partkey": 100_000_000,
        "s_suppkey": 100_000_000,
    }
    for table in ("lineitem", "part", "supplier"):
        target = os.path.join(out_dir, f"{table}.parquet")
        src_path = os.path.join(sf_dir, f"{table}.parquet")
        if _amplified_is_fresh(target, src_path):
            continue
        src = load_table(spark, table, sf_dir)
        parts = [
            src.select(
                *[
                    (F.col(c) + F.lit(k * offsets[c])).alias(c)
                    if c in offsets
                    else F.col(c)
                    for c in src.columns
                ]
            )
            for k in range(copies)
        ]
        reduce(DataFrame.unionByName, parts).repartition(8).write.mode(
            "overwrite"
        ).parquet(target)
        _record_amplified_token(target, src_path)
    return out_dir


def _ensure_docs_amplified(
    spark, sf_dir: str, copies: int, disjoint_vocab: bool
) -> str:
    """Materialize an amplified documents corpus under .tmp (once)."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    flavor = "d" if disjoint_vocab else ""
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".tmp",
        f"bench_x{copies}{flavor}_{tag}",
    )
    target = os.path.join(out_dir, "documents.parquet")
    src_path = os.path.join(sf_dir, "documents.parquet")
    if not _amplified_is_fresh(target, src_path):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

        def text_of(k: int):
            if disjoint_vocab:
                return F.regexp_replace(F.col("text"), r"(\S+)", f"$1q{k}")
            return F.concat_ws(" ", F.col("text"), F.lit(f"rep{k}"))

        parts = [
            docs.select(
                (F.col("doc_id") + F.lit(k * 100_000_000)).alias("doc_id"),
                *[
                    text_of(k).alias(c) if c == "text" else F.col(c)
                    for c in docs.columns
                    if c != "doc_id"
                ],
            )
            for k in range(copies)
        ]
        reduce(DataFrame.unionByName, parts).repartition(32).write.mode(
            "overwrite"
        ).parquet(target)
        _record_amplified_token(target, src_path)
    return out_dir


def ensure_docs_x10(spark, sf_dir: str) -> str:
    """Materialize the 10× near-dup documents corpus under .tmp (once)."""
    return _ensure_docs_amplified(spark, sf_dir, 10, disjoint_vocab=False)


def _ensure_embeddings_amplified(spark, sf_dir: str, copies: int) -> str:
    """Materialize a ``copies``×-amplified embeddings table under
    .tmp (once): disjoint vec_id offsets per copy, with a
    deterministic per-copy component perturbation so copies are
    neither byte-identical (which would degenerate the dedup probe
    into pure output explosion) nor orthogonal — a realistic
    near/far similarity mix. Labels are preserved (class count
    constant, per-class population ×copies). Query ids (vec_id < 20)
    and the capped IVF centroid set (vec_id < 2500) both live in
    copy 0 only, so the query/codebook side stays FIXED while the
    corpus grows — the shape a production index actually has."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".tmp",
        f"bench_emb_x{copies}r2_{tag}",  # r2: rotation amplifier
    )
    target = os.path.join(out_dir, "embeddings.parquet")
    src_path = os.path.join(sf_dir, "embeddings.parquet")
    if not _amplified_is_fresh(target, src_path):
        emb = spark.read.parquet(src_path)

        def rotated(k: int):
            if k == 0:
                return F.col("embedding")
            return F.transform(
                "embedding",
                lambda x, i: F.element_at(
                    F.col("embedding"),
                    ((i + F.lit(13 * k)) % F.size("embedding")) + F.lit(1),
                ),
            )

        parts = [
            emb.select(
                (F.col("vec_id") + F.lit(k * 100_000_000)).alias("vec_id"),
                rotated(k).alias("embedding"),
                "label",
            )
            for k in range(copies)
        ]
        reduce(DataFrame.unionByName, parts).repartition(8).write.mode(
            "overwrite"
        ).parquet(target)
        _record_amplified_token(target, src_path)
    return out_dir


def _prewarm_emb_sidecars(spark, sf_dir: str) -> None:
    """Materialize the sign-LSH key sidecars for ``sf_dir``'s
    embeddings OUTSIDE any timed window (round 8, VERDICT r7 item 2):
    both the static 8-bit family (`dedup_semantic_scaled`) and, when
    the corpus is large enough that the computed rule leaves the
    8-bit floor, the computed-width family (`dedup_semantic_autokey`)
    — plus the Lloyd-fitted PQ codebook sidecar
    (`sim_ann_ivfpq_fitted`'s per-corpus-version index BUILD).
    Idempotent — every ingest is source-token gated, so a pre-warmed
    sidecar costs one metadata check on every later call."""
    from bigdatafinalproject_hockey_spark.queries.scale import (
        _emb_signkeys_bucketed,
        _parquet_num_rows,
        _pq_fitted_codebook_sidecar,
    )
    from bigdatafinalproject_hockey_spark.similarity import (
        computed_bits_per_band,
    )

    _emb_signkeys_bucketed(spark, sf_dir, 8)
    n = _parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))
    bits = computed_bits_per_band(max(n // 50, 1))
    if bits != 8:
        _emb_signkeys_bucketed(spark, sf_dir, bits)
    _pq_fitted_codebook_sidecar(spark, sf_dir)


def _ensure_events_amplified(spark, sf_dir: str, copies: int) -> str:
    """Materialize a ``copies``×-amplified events table under .tmp
    (once): per-copy user_id/event_id offsets keep users DISJOINT, so
    the probe isolates group-count scaling (per-group work constant).

    Written as ONE part file to match the driver testdata's layout
    (sf0.1 events.parquet is a single file): the file-stream source
    turns each staged file into its own micro-batch, so a 32-part
    amplified table made the streaming session probe replay 32
    micro-batches against the 1× run's one — its first measured
    "ratio" (20×) was batch-count amplification, not operator
    scaling. Equal layout ⇒ equal batch count ⇒ the probe measures
    the 10× key-space, which is the question being asked."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.catalog import load_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".tmp",
        f"bench_ev_x{copies}_{tag}",
    )
    target = os.path.join(out_dir, "events.parquet")
    src_path = os.path.join(sf_dir, "events.parquet")
    if not _amplified_is_fresh(target, src_path):
        ev = load_table(spark, "events", sf_dir)
        parts = [
            ev.select(
                (F.col("event_id") + F.lit(k * 1_000_000_000)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(k * 100_000_000)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            for k in range(copies)
        ]
        reduce(DataFrame.unionByName, parts).coalesce(1).write.mode(
            "overwrite"
        ).parquet(target)
        _record_amplified_token(target, src_path)
    return out_dir


def main() -> None:
    spark = get_session(app_name="bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # JVM/codegen/scan warmup so query timings reflect steady state
    # rather than first-touch session costs: exercise the vectorized
    # parquet reader, whole-stage codegen, a hash agg, and an exchange
    # once, on a query that is NOT in the suite.
    from pyspark.sql import functions as F

    (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_linestatus")
        .agg(F.sum("l_tax"), F.count(F.lit(1)))
        .write.format("noop").mode("overwrite").save()
    )
    # Run every suite query once at the SMALLEST scale factor first:
    # the generated code depends on expression structure, not data, so
    # this JIT/Janino-compiles the exact classes the measured runs use
    # (classic steady-state benchmarking; at 1/100th the data the warm
    # pass costs little). Warmup-created caches are dropped so measured
    # queries materialize their own.
    for name in HEADLINE:
        try:
            QUERIES[name](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass  # warmup must never fail the bench
    spark.catalog.clearCache()

    def run_once(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    def release_probe_state() -> None:
        """Probe-tier measurement independence (round 13). The r13
        official run read dedup_incremental_near's x100 wall at
        81.9 s and dedup_keep_best_minhash's at 93.9 s — 3-5× their
        fresh-process isolated walls (16-20 s / 33.4 s) — while
        every OTHER x100 entry matched its isolated record, the two
        queries' own 1× bases were normal, and round 7's
        instrumentation had shown loaded sessions did NOT inflate
        the 100× side. What changed in r13 is the probe tiers
        themselves: the new component-propagation probes
        (dedup_keep_best_minhash x10 on the near-dup corpus) eagerly
        localCheckpoint per propagation round, and those blocks —
        plus accumulated broadcast pieces — stay pinned in the
        single shared JVM until the Python-side handles are GC'd and
        the ContextCleaner runs, which py4j does lazily. Later
        entries with the biggest shuffle/allocation footprints (the
        32-hash banding joins) then pay the memory pressure. Each
        probe entry therefore starts from a released state:
        unpersist every leaked persistent RDD (localCheckpoint
        blocks register here), drop Python refs, and nudge the
        ContextCleaner via a JVM GC. Headline/variance protocol is
        untouched — suite-realistic warm state is what those
        measure; probe records measure the QUERY."""
        spark.catalog.clearCache()
        try:
            it = spark.sparkContext._jsc.sc().getPersistentRDDs() \
                .values().iterator()
            while it.hasNext():
                it.next().unpersist(False)
        except Exception:
            pass  # hygiene must never fail the bench
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    def run_warm(name: str, sf_dir: str) -> float:
        """Steady-state measurement: run twice at the measured scale,
        record the BEST, cache cleared between runs (both runs
        recompute all data — warm JIT, not warm caches). min() equals
        the round-4 second-run protocol in the steady state but is
        immune to a transient stall landing on either single run."""
        dt1 = run_once(name, sf_dir)
        spark.catalog.clearCache()
        dt2 = run_once(name, sf_dir)
        spark.catalog.clearCache()
        return min(dt1, dt2)

    def run_steady(name: str, sf_dir: str, n: int = 5) -> float:
        """Deep steady state: min of ``n`` full recomputes. Used for
        the x100 ratios (round 7, VERDICT r6 item 4): a 100× ratio
        divides a stable large-scale numerator by a ~1-2 s
        overhead-dominated DENOMINATOR, and best-of-2 leaves up to
        ±50% residual JIT/first-touch noise in that base — which is
        the entire 8.27× (r5) vs 17.49× (r6) disagreement for
        dedup_incremental_near (instrumented round 7: the 100× side
        was 16-19 s in fresh AND loaded sessions; only the base
        moved, 1.07-2.26 s). min-of-5 pins both sides to the
        resident-engine floor the ratio is defined over, and matches
        scripts/isolated_probe.py's sec_steady protocol exactly so
        the official and isolated records are the same measurement."""
        runs = []
        for _ in range(n):
            runs.append(run_once(name, sf_dir))
            spark.catalog.clearCache()
        return min(runs)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0
    # Round 14 (VERDICT r13 item 1d): the r13 driver bench was killed
    # by `timeout` (SIGTERM) before the one-line JSON ever printed, so
    # PERF had NOTHING — every query read "dropped". The summary
    # record is now assembled INCREMENTALLY in `out` (each tier's dict
    # is attached as soon as it exists and fills in place), and a
    # SIGTERM handler prints the capped summary line for whatever has
    # completed (marked "partial": true) before exiting — a killed run
    # now yields a parseable record of every finished section. Normal
    # completion still prints exactly one stdout line.
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    out: dict = {
        "metric": "headline_suite_wall_sec",
        "value": 0.0,
        "unit": "sec",
        "measure": "warm_best_of_2",
        "queries": timings,
        "sf": sf_val,
        "errors": errors,
        "partial": True,
    }

    def _emit_partial(signum, frame):  # noqa: ARG001
        try:
            kill_live_children()
            out["value"] = round(total, 3)
            print(build_summary_line(out), flush=True)
        finally:
            os._exit(128 + signum)

    signal.signal(signal.SIGTERM, _emit_partial)
    # Suite-level variance band (round 8, VERDICT r7 item 3): the
    # per-query sentinel envelope can classify single-query moves but
    # not a fleet-wide wall drift (+23% r6→r7 was unclassifiable).
    # run_warm already takes two full passes over every headline
    # query; recording BOTH runs' sums gives two complete suite walls
    # for free, and a third full pass after the sentinel block (below)
    # adds a post-warm wall — the three sums' spread is the
    # session-state band a cross-round suite-wall comparison must
    # clear before reading a move as real.
    headline_runs: dict[str, list[float]] = {}
    # Key sidecars for the headline's semantic-dedup entries are a
    # per-source-version ingest — materialize outside the timed runs
    # (see _prewarm_emb_sidecars; VERDICT r7 item 2).
    try:
        _prewarm_emb_sidecars(spark, SF_DIR)
    except Exception as exc:  # noqa: BLE001
        errors["prewarm:sidecars"] = f"{type(exc).__name__}: {exc}"[:200]
    # One failing query must cost ONE entry, not the whole bench
    # (round 2's BENCH was rc=1 and every number was lost): errors are
    # recorded per query and the suite keeps going.
    for name in HEADLINE:
        try:
            dt1 = run_once(name, SF_DIR)
            spark.catalog.clearCache()
            dt2 = run_once(name, SF_DIR)
            spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"  {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        dt = min(dt1, dt2)
        headline_runs[name] = [round(dt1, 3), round(dt2, 3)]
        timings[name] = round(dt, 3)
        total += dt
        print(f"  {name}: {dt:.3f}s", file=sys.stderr)
    # Variance envelope (round 7, VERDICT r6 item 5): 3 extra
    # recomputes of each sentinel, recorded alongside the two runs
    # the headline best-of-2 already took — spread = the session-
    # noise band a cross-round comparison must clear before reading
    # a move as real. The headline best is the band's floor by
    # construction (same protocol, same session).
    variance: dict[str, dict] = {}
    out["variance"] = variance
    for name in SENTINELS:
        if name not in timings:
            continue
        runs = [timings[name]]
        try:
            for _ in range(3):
                runs.append(round(run_once(name, SF_DIR), 3))
                spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001
            errors[f"variance:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        lo, hi = min(runs), max(runs)
        variance[name] = {
            "runs": runs,
            "spread_pct": round(100.0 * (hi - lo) / lo, 1) if lo else None,
        }
        print(
            f"  [var] {name}: {runs} spread "
            f"{variance[name]['spread_pct']}%",
            file=sys.stderr,
        )
    # Third full suite pass → the suite-level wall band (round 8,
    # VERDICT r7 item 3). Pass 3 runs AFTER the sentinel block, so it
    # is the deepest-warm wall of the session; pass 1 carries
    # first-touch JIT. The spread over the three sums is the recorded
    # suite-state envelope.
    suite_band: dict = {}
    run3_sum = 0.0
    run3_ok = True
    for name in timings:
        try:
            run3_sum += run_once(name, SF_DIR)
            spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001
            errors[f"suite_band:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            run3_ok = False
            break
    sums = [
        round(sum(r[0] for r in headline_runs.values()), 3),
        round(sum(r[1] for r in headline_runs.values()), 3),
    ]
    if run3_ok:
        sums.append(round(run3_sum, 3))
    lo, hi = min(sums), max(sums)
    suite_band = {
        "pass_sums": sums,  # [first-touch, second, post-sentinel]
        "best_of_2_wall": round(total, 3),
        "spread_pct": round(100.0 * (hi - lo) / lo, 1) if lo else None,
    }
    print(
        f"  [suite_band] passes {sums} spread {suite_band['spread_pct']}% "
        f"(best-of-2 wall {total:.2f}s)",
        file=sys.stderr,
    )
    # curation tier at 10× documents: per-query wall + the 10×/1×
    # scaling ratio (sub-quadratic ops should stay well under 10×
    # after subtracting fixed job overhead; quadratic ones explode)
    x10_dir = ensure_docs_x10(spark, SF_DIR)
    spark.catalog.clearCache()
    docs_x10: dict[str, dict] = {}
    out["docs_x10"] = docs_x10
    for name in X10:
        release_probe_state()
        # Skip a probe only when the query IS a headline member whose
        # headline run errored. Round 10 added probe-tier-only X10
        # entries (the headline sits at its 56-entry driver-tail cap),
        # and the old `name not in timings` guard silently skipped
        # every non-headline entry.
        if name in HEADLINE and name not in timings:
            continue  # headline run errored; skip its probe
        try:
            # Re-measure the 1× base ADJACENT to the probe under the
            # same warm protocol (round 5, VERDICT r4 item 3): r4's
            # ratios divided a probe taken minutes later by the
            # headline timing, and that cross-session-state division
            # produced the spurious 3.25× portable-minhash ratio
            # (clean-box re-runs: 2.3-2.7×). Same-moment pairs make
            # the ratio a measurement, not an artifact.
            base = run_warm(name, SF_DIR)
            dt = run_warm(name, x10_dir)
        except Exception as exc:  # noqa: BLE001
            errors[f"x10:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        docs_x10[name] = {
            "sec_1x": round(base, 3),
            "sec_10x": round(dt, 3),
            "ratio": round(dt / base, 2) if base else None,
        }
        print(f"  [x10] {name}: {dt:.3f}s", file=sys.stderr)
    # round-3 tier at 100× documents with DISJOINT vocab (input
    # scaling, no cross-copy pairs). DEEP STEADY (min-of-5) at BOTH
    # scales since round 7 (VERDICT r6 item 4): best-of-2 (round 6)
    # still left the dedup_incremental_near record oscillating
    # (official 8.27× r5 → 17.49× r6 with no code change). Round-7
    # instrumentation localized the noise to the DENOMINATOR: the
    # 100× side measured a stable 16-19 s in fresh and 20-query-
    # loaded sessions alike, while the ~1-2 s overhead-dominated 1×
    # base swung 1.07-2.26 s with residual JIT — a 2× lever on the
    # ratio. min-of-5 pins both sides to the resident-engine floor
    # and is byte-identical to scripts/isolated_probe.py's
    # sec_steady protocol, so official and isolated records now
    # measure the same quantity. Sublinear-or-linear ratios
    # expected; dedup_simhash's output also grows 100× (within-copy
    # pairs), so its ratio bounds input+output scaling together.
    x100_dir = _ensure_docs_amplified(
        spark, SF_DIR, X100_COPIES, disjoint_vocab=True
    )
    spark.catalog.clearCache()

    # Round-13 MEASUREMENT FIX (in-bench x100 contamination,
    # characterized in round 13's build notes and SURVEY §6): two
    # x100 entries (dedup_incremental_near, dedup_keep_best_minhash)
    # repeatedly read 3-6× their fresh-process steady walls when
    # measured inside this long suite session, while every neighbor
    # entry, both 1× bases, and all other tiers matched their
    # committed records; releasing leaked persistent RDDs + forcing
    # JVM GC between entries (release_probe_state, kept as hygiene)
    # did NOT cure it — the residue is JVM-session state (JIT/
    # code-cache/allocator) this process cannot shed. The x100 tiers
    # therefore run in fresh subprocesses (the isolated-floors
    # precedent) on the SAME pre-materialized corpora, so the official
    # record measures the committed fresh-process protocol by
    # construction.
    #
    # Round-14 RESTRUCTURE (VERDICT r13 item 1 — the r13 driver bench
    # timed out, rc=124 at both core counts, and every query was
    # "dropped"): (a) ONE subprocess per TIER instead of one per entry
    # — 2 cold JVM starts instead of 13; fresh-process isolation is
    # preserved (the contamination residue accumulated over the
    # ~50-query suite session, and the committed r13 fresh-process
    # records themselves measured several entries per probe process);
    # (b) steady min-of-3 instead of min-of-5, with the per-run spread
    # recorded (round-7 instrumentation showed the big side is stable
    # — min-of-5 on 60-100 s entries was pure wall); (c) the
    # subprocess streams one salvage line per completed entry, so a
    # timeout loses only the UNFINISHED entries — those fall back to
    # the in-session protocol (provenance "in_bench_fallback"), never
    # silently dropped. Cross-round note: r13's min-of-5 fresh-process
    # records are the comparison baseline; min-of-3 reads ≥ min-of-5
    # of the same code by construction (a subset of the same runs).
    def probe_tier_fresh(
        tier: str, names: list[str], big_dir: str, scale_key: str,
        timeout_sec: int,
    ) -> dict:
        probe_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "scripts",
            "isolated_probe.py",
        )
        recs: dict[str, dict] = {}
        stdout_text = ""
        try:
            stdout_text = run_child(
                [sys.executable, probe_path, "--tier", tier, *names], timeout_sec
            )
        except subprocess.TimeoutExpired as exc:
            stdout_text = exc.stdout or ""
            errors[f"fresh:{tier}"] = f"TimeoutExpired: {timeout_sec}s"
        except Exception as exc:  # noqa: BLE001
            stdout_text = getattr(exc, "stdout", "") or ""
            errors[f"fresh:{tier}"] = f"{type(exc).__name__}: {exc}"[:200]
        # Salvage per-entry records: the final summary line when the
        # subprocess finished, else the per-entry probe_partial lines.
        recs.update(parse_probe_lines(stdout_text))
        # In-session fallback for entries the subprocess never reached
        # — recorded with distinct provenance, never silently dropped.
        for name in names:
            if name in recs:
                continue
            try:
                release_probe_state()
                base = run_steady(name, SF_DIR, n=3)
                dt = run_steady(name, big_dir, n=3)
            except Exception as exc:  # noqa: BLE001
                errors[f"x100:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
                continue
            recs[name] = {
                "sec_1x": round(base, 3),
                scale_key: round(dt, 3),
                "ratio": round(dt / base, 2) if base else None,
                "protocol": "steady_min_of_3",
                "provenance": "in_bench_fallback",
            }
        return recs

    docs_x100: dict[str, dict] = {}
    out["docs_x100"] = docs_x100
    docs_x100.update(
        probe_tier_fresh(
            "docs_x100", X100, x100_dir, f"sec_{X100_COPIES}x",
            timeout_sec=3600,
        )
    )
    for name, rec in docs_x100.items():
        print(
            f"  [x{X100_COPIES}] {name}: {rec.get(f'sec_{X100_COPIES}x')}s "
            f"({rec.get('provenance')})",
            file=sys.stderr,
        )
    # events tier at 10× users (disjoint ids): warm at both scales;
    # per-user window/agg ops should land near 10× minus fixed job
    # overhead — superlinear growth here means a group-size assumption
    # leaked into the plan.
    ev_x10_dir = _ensure_events_amplified(spark, SF_DIR, 10)
    spark.catalog.clearCache()
    events_x10: dict[str, dict] = {}
    out["events_x10"] = events_x10
    for name in X10_EVENTS:
        release_probe_state()
        try:
            # Adjacent same-protocol base, as for docs_x10 above.
            base = round(run_warm(name, SF_DIR), 3)
            dt = run_warm(name, ev_x10_dir)
        except Exception as exc:  # noqa: BLE001
            errors[f"ev_x10:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        events_x10[name] = {
            "sec_1x": base,
            "sec_10x": round(dt, 3),
            "ratio": round(dt / base, 2) if base else None,
        }
        print(f"  [ev_x10] {name}: {dt:.3f}s", file=sys.stderr)
    # Multimodal tier at 10× documents: payload-per-row constant,
    # rows 10× — the mapInPandas decode/hash paths should scale with
    # rows; superlinear growth here means payload bytes leaked into
    # a shuffle or a driver collect.
    spark.catalog.clearCache()
    mm_x10: dict[str, dict] = {}
    out["multimodal_x10"] = mm_x10
    for name in X10_MULTIMODAL:
        release_probe_state()
        try:
            base = round(run_warm(name, SF_DIR), 3)
            dt = run_warm(name, x10_dir)
        except Exception as exc:  # noqa: BLE001
            errors[f"mm_x10:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        mm_x10[name] = {
            "sec_1x": base,
            "sec_10x": round(dt, 3),
            "ratio": round(dt / base, 2) if base else None,
        }
        print(f"  [mm_x10] {name}: {dt:.3f}s", file=sys.stderr)
    # Embedding tier at 10× vectors: bounded-C quantizer → linear
    # assignment; superlinear growth here means centroid count or
    # pair blow-up leaked into the plan.
    emb_x10_dir = _ensure_embeddings_amplified(spark, SF_DIR, 10)
    spark.catalog.clearCache()
    # PRE-WARM the sign-LSH key sidecar ingest for every corpus the
    # emb probes touch (round 8, VERDICT r7 item 2): the amplified
    # corpora are regenerated whenever the driver regenerates
    # testdata (fresh size+mtime token), so without this the sidecar
    # ingest landed INSIDE the timed window in some sessions and not
    # others — the entire official-13.55× / committed-3.81× x10
    # disagreement for dedup_semantic_scaled. An ingest is a
    # per-source-version cost, excluded from per-query cost exactly
    # as the graph tier's bucketed edge ingest is.
    # Guarded like the headline prewarm: a failed ingest costs one
    # error entry, never the rest of the bench (ADVICE r8). Each
    # corpus gets its OWN guard (ADVICE r9): a failed SF_DIR ingest
    # must neither skip the x10 ingest nor mislabel which corpus
    # failed — either miss silently inflates that corpus's timings.
    try:
        _prewarm_emb_sidecars(spark, SF_DIR)
    except Exception as exc:  # noqa: BLE001
        errors["prewarm:emb_sf_sidecars"] = f"{type(exc).__name__}: {exc}"[:200]
    try:
        _prewarm_emb_sidecars(spark, emb_x10_dir)
    except Exception as exc:  # noqa: BLE001
        errors["prewarm:emb_x10_sidecars"] = f"{type(exc).__name__}: {exc}"[:200]
    emb_x10: dict[str, dict] = {}
    out["embeddings_x10"] = emb_x10
    for name in X10_EMB:
        release_probe_state()
        try:
            base = round(run_warm(name, SF_DIR), 3)
            dt = run_warm(name, emb_x10_dir)
        except Exception as exc:  # noqa: BLE001
            errors[f"emb_x10:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        emb_x10[name] = {
            "sec_1x": base,
            "sec_10x": round(dt, 3),
            "ratio": round(dt / base, 2) if base else None,
        }
        print(f"  [emb_x10] {name}: {dt:.3f}s", file=sys.stderr)
    # Embedding tier at 100× vectors: the linearity gate for the
    # round-7/8 scaled/PQ operators (see X100_EMB note). DEEP STEADY
    # (min-of-5) at BOTH scales since round 8 (ADVICE r7): this
    # tier's ratios divide by the same overhead-dominated ~1-2 s base
    # as docs_x100, which moved to steady_min_of_5 in round 7 for
    # exactly that physics — measuring the two x100 tiers under
    # different protocols was a silent inconsistency.
    emb_x100_dir = _ensure_embeddings_amplified(spark, SF_DIR, 100)
    spark.catalog.clearCache()
    try:
        _prewarm_emb_sidecars(spark, emb_x100_dir)
    except Exception as exc:  # noqa: BLE001
        errors["prewarm:emb_x100_sidecars"] = f"{type(exc).__name__}: {exc}"[:200]
    # One fresh subprocess for the whole tier, like docs_x100 above —
    # this tier shares the same overhead-dominated-base physics AND
    # the same long-session JVM-state exposure (round 13/14).
    emb_x100: dict[str, dict] = {}
    out["embeddings_x100"] = emb_x100
    emb_x100.update(
        probe_tier_fresh(
            "emb_x100", X100_EMB, emb_x100_dir, "sec_100x",
            timeout_sec=1800,
        )
    )
    for name, rec in emb_x100.items():
        print(
            f"  [emb_x100] {name}: {rec.get('sec_100x')}s "
            f"({rec.get('provenance')})",
            file=sys.stderr,
        )
    # Graph tier at 4× edges: does iteration cost scale with the
    # graph, now that edge derivation is an amortized bucketed ingest?
    gr_x4_dir = _ensure_graph_amplified(spark, SF_DIR, 4)
    spark.catalog.clearCache()
    graph_x4: dict[str, dict] = {}
    out["graph_x4"] = graph_x4
    for name in X4_GRAPH:
        release_probe_state()
        try:
            base = round(run_warm(name, SF_DIR), 3)
            dt = run_warm(name, gr_x4_dir)
        except Exception as exc:  # noqa: BLE001
            errors[f"gr_x4:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        graph_x4[name] = {
            "sec_1x": base,
            "sec_4x": round(dt, 3),
            "ratio": round(dt / base, 2) if base else None,
        }
        print(f"  [gr_x4] {name}: {dt:.3f}s", file=sys.stderr)
    # All tiers complete: the record is no longer partial (the tier
    # dicts were attached to `out` as they were created and filled in
    # place — see the round-14 SIGTERM note above).
    out["value"] = round(total, 3)
    out["suite_band"] = suite_band
    out.pop("partial", None)
    # Hardware/session calibration wall (round 11, ADVICE r10): a
    # FIXED registry-independent workload (range scan + expression
    # aggregate over 50M generated rows, steady min-of-5) whose wall
    # pins this machine+JVM's speed into the artifact. The x100 wall
    # gates (tests/test_bench.py X100_WALL_BOUNDS_SEC) scale their
    # bounds UP by calib_wall_sec / CALIB_REFERENCE_SEC on slower
    # hardware, so a committed record from a slower box no longer
    # fails the absolute-seconds gates spuriously. (Faster hardware
    # keeps the pinned bounds — a floor, so regressions can't hide
    # behind a fast machine any more than they could before.)
    calib_runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        (
            spark.range(0, 50_000_000, 1, 32)
            .selectExpr(
                "sum(id * 3 + (id % 7)) AS s",
                "count(1) AS c",
                "avg(id % 1000) AS a",
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        calib_runs.append(time.perf_counter() - t0)
    out["calib_wall_sec"] = round(min(calib_runs), 3)
    print(f"[calib] {out['calib_wall_sec']}s steady", file=sys.stderr)

    # Isolated floors for the TOP-10 headline entries (round 11,
    # VERDICT r10 item 5): re-measure the suite's slowest queries in
    # a FRESH process+JVM (scripts/isolated_probe.py, floors-only
    # mode) so any future suite-embedded "regression" is classifiable
    # from the committed artifact alone — an entry whose isolated
    # floor is stable while its suite number moved is session-state
    # noise, not a plan regression. The subprocess runs AFTER this
    # session stops: two resident JVMs would contend for the same
    # cores and corrupt both measurements.
    top10 = [
        n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    ]
    out["isolated_floors"] = {}
    spark.stop()
    if top10:
        probe_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "scripts",
            "isolated_probe.py",
        )
        # SINGLE attempt since round 14 (VERDICT r13 item 1c): the
        # r11 retry doubled a subprocess worth up to 30 minutes and
        # helped kill the r13 driver bench (rc=124). Typical floors
        # wall is ~3-5 min (10 entries × 8 sub-second-to-3 s runs);
        # the timeout is a backstop, not a budget, and a failure is
        # recorded loudly so the artifact shows why floors are absent.
        try:
            stdout_text = run_child(
                [sys.executable, probe_path, "--floors-only", *top10], 1500
            )
            rec = json.loads(stdout_text.strip().splitlines()[-1])
            out["isolated_floors"] = rec.get("probes", {})
            print(
                f"[floors] {len(out['isolated_floors'])} isolated "
                f"floors recorded for the top-10 headline entries",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            errors["isolated_floors"] = f"{type(exc).__name__}: {exc}"[:200]
            print(
                f"[floors] failed: {errors['isolated_floors']}",
                file=sys.stderr,
            )
    # Full uncapped record → file + stderr (humans, SURVEY, judge).
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(full_path, "w") as fh:
        json.dump(out, fh)
    print(json.dumps(out), file=sys.stderr)
    # Driver-facing record → the LAST stdout line, capped so it fits
    # entirely inside the driver's ~2000-char stdout tail capture
    # (see module docstring). Wall + all headline timings always;
    # probe RATIOS appended only while the line stays under the cap.
    print(build_summary_line(out))


def build_summary_line(out: dict, cap: int = 1960) -> str:
    """Serialize the driver-facing summary to one JSON line ≤ ``cap``
    characters: metric/value/unit/measure/sf + every headline timing
    at 2 dp, then (budget permitting) the suite-wall band, per-probe
    scale ratios and the error count. Separated from main() for
    direct unit testing. The cap rides just under the driver's
    2000-char stdout tail: the summary is bench stdout's ONLY line
    (full detail goes to stderr + BENCH_FULL.json), so cap + newline
    ≤ 2000 keeps the parsed record complete."""
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "measure": out["measure"],
        "sf": out["sf"],
        "n_queries": len(out["queries"]),
        "queries": {k: round(v, 2) for k, v in out["queries"].items()},
    }
    if out.get("errors"):
        compact["n_errors"] = len(out["errors"])
    if out.get("partial"):
        # Round 14: a SIGTERM'd run emits the completed sections with
        # this marker so the driver record is parseable AND honest —
        # a partial wall must never be read as a full-suite wall.
        compact["partial"] = True

    def dumps(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    line = dumps(compact)
    # Suite-level wall band (round 8, VERDICT r7 item 3) goes FIRST —
    # the driver line is the durable per-round record, and the suite
    # band is the one datum that classifies a fleet-wide wall move.
    band = out.get("suite_band") or {}
    if band.get("pass_sums"):
        trial = dict(compact)
        trial["suite_band"] = {
            "pass_sums": band["pass_sums"],
            "spread_pct": band.get("spread_pct"),
        }
        if len(dumps(trial)) <= cap:
            compact = trial
            line = dumps(compact)
    # Sentinel variance band (round 7) next — it is the datum
    # that classifies single-query cross-round moves, so it must
    # survive the cap ahead of the probe ratios.
    spreads = {
        name: rec.get("spread_pct")
        for name, rec in (out.get("variance") or {}).items()
        if rec.get("spread_pct") is not None
    }
    if spreads:
        trial = dict(compact)
        trial["variance_spread_pct"] = spreads
        if len(dumps(trial)) <= cap:
            compact = trial
            line = dumps(compact)
    # Append probe ratio dicts one section at a time while they fit.
    for key in (
        "docs_x10",
        "docs_x100",
        "events_x10",
        "multimodal_x10",
        "embeddings_x10",
        "embeddings_x100",
        "graph_x4",
    ):
        probes = out.get(key) or {}
        ratios = {
            name: rec.get("ratio")
            for name, rec in probes.items()
            if rec.get("ratio") is not None
        }
        if not ratios:
            continue
        trial = dict(compact)
        trial[f"{key}_ratio"] = ratios
        if len(dumps(trial)) <= cap:
            compact = trial
            line = dumps(compact)
    # Last-resort degradation (should not trigger at current suite
    # size — asserted by tests): drop per-query detail rather than
    # ever emitting an unparseable over-cap line.
    while len(line) > cap and compact["queries"]:
        slowest = sorted(
            compact["queries"], key=compact["queries"].get, reverse=True
        )
        compact["queries"] = {
            k: compact["queries"][k] for k in slowest[: len(slowest) // 2]
        }
        compact["queries_truncated"] = True
        line = dumps(compact)
    return line


if __name__ == "__main__":
    main()
