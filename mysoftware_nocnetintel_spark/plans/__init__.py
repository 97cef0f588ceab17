from .queries import QUERIES as _CORE, flagship_report  # noqa: F401
from .queries_relational import RELATIONAL_QUERIES as _REL
from .queries_timeseries import TIMESERIES_QUERIES as _TS
from .queries_text import TEXT_QUERIES as _TXT
from .queries_ml import ML_QUERIES as _ML, ML_ORACLES as _O_ML
from .queries_extra import EXTRA_QUERIES as _EXTRA
from .queries_r4 import R4_QUERIES as _R4
from .queries_r5 import R5_QUERIES as _R5
from .queries_r6 import R6_QUERIES as _R6
from .queries_r7 import R7_QUERIES as _R7
from .queries_r8 import R8_QUERIES as _R8
from .queries_r9 import R9_QUERIES as _R9
from .queries_r10 import R10_QUERIES as _R10
from .queries_r11 import R11_QUERIES as _R11
from .oracles import ORACLES as _O_CORE
from .oracles_r6 import ORACLES_R6 as _O_R6
from .oracles_r7 import ORACLES_R7 as _O_R7
from .oracles_r8 import ORACLES_R8 as _O_R8
from .oracles_r9 import ORACLES_R9 as _O_R9
from .oracles_r10 import ORACLES_R10 as _O_R10
from .oracles_r11 import ORACLES_R11 as _O_R11
from .oracles_ext import ORACLES_EXT as _O_EXT
from .oracles_extra import ORACLES_EXTRA as _O_EXTRA
from .oracles_r4 import ORACLES_R4 as _O_R4
from .oracles_r5 import ORACLES_R5 as _O_R5

_ALL = {
    **_CORE, **_REL, **_TS, **_TXT, **_ML, **_EXTRA, **_R4, **_R5,
    **_R6, **_R7, **_R8, **_R9, **_R10, **_R11,
}

# The driver's CORRECTNESS gate grades the FIRST 50 dict entries in insertion
# order, so ordering here is load-bearing. ROTATION RULE (apply every round):
# (1) every registry query with no driver signal yet goes in first; (2) then
# every query whose implementation or oracle changed this round (space
# permitting); (3) fill the remainder with the queries whose last green
# signal is oldest. ROUND 11 (per VERDICT r10 task 1, derived from merged
# CORRECTNESS_r01-r10 latest signals — r10:50 / r9:49 / r8:42 / r7:19):
# rule (1) admits q159/q160 — the v3 deletion-vector read and write
# queries ADDED this round,
# never graded; rule (3)-first clears the ENTIRE r7-signal tail in one
# window — the 19 holdovers q105, q107-q123, q125 (the registry's
# largest-ever freshness debt, queued since round 7); rule (2) admits
# q150/q151 (their sampled-decode stage, video.video_sampled_frames,
# became a LAZY generator this round — the round-11 advisor fix),
# q157/q158 (the drop verbs' survivor entries now copy as EXISTING with
# explicit original snapshot ids; delta protocol upgrades list
# legacy-implied features), q102/q127 (the Iceberg snapshot walk they
# ride gained the PUFFIN entry branch + the narrowed v3 gate), and
# q153 (ann_index rides the same walk through _pin_cell). Rule (3)
# fills the remaining 22 slots with the head of the r8-signal block in
# numeric order (q7_approx, q11-q24, q26, q27, q29-q33 — q160's late
# rule-1 admission displaced q35). Round-12 debt: the r8 tail (q35,
# q40, q42-q44, q94, q124, q126-q137, q155 — 20 queries), then the r9
# block.
# ROUND-13 ROTATION (VERDICT r12 task 3): no rule-1 entries (nothing
# added). Rule 2 pulls EVERY query whose implementation changed in r12
# or r13 — the r12 window was a carbon copy of r11's, so the r12-touched
# set never got a driver signal: q1/q5 (spark.sql rewrites), q38 (band
# checkpoint+gate, re-touched r13), q48/q76/q90/q92 (Arrow sample
# fetches; q48 also rides ivf_centroids' r13 signature), q107 (task
# sizing), q118/q148 (audio/video stage internals, re-touched r13 by the
# RIFF-bound fix + group chunking), q123 (Arrow fetch), q147/q149/q150/
# q151 (vectorized media kernels, re-touched r13), q153/q154 (ANN
# cell-clustered layout + embed-once, r13), q152/q156 (fingerprint-once
# gates, r13), and the snapshot-reader riders q102/q127/q157-q160
# (NoMatchingFilesError seam, r13) — 25 entries. Rule 3 clears the
# ENTIRE r8-signal tail (q35, q40, q42-q44, q94, q124, q126, q128-q137,
# q155 — 19 after q127 moved to rule 2), closing the r12-recorded debt;
# the last 6 slots start the r9-signal block in numeric order (q46, q47,
# q49, q51-q53). Remaining debt: the r9 block tail (q53.. onward).
_WINDOW = [
    # --- rule 2: implementation changed in r12/r13, driver-ungraded ---
    "q1_pricing_summary",
    "q5_sessionize",
    "q38_simhash_neardup",
    "q48_ann_ivf",
    "q76_ann_pq",
    "q90_ann_ivfpq",
    "q92_ann_opq",
    "q102_snapshot_diff",
    "q107_decontamination",
    "q118_frame_sample",
    "q123_semdedup",
    "q127_incremental_ingest",
    "q147_image_neardup",
    "q148_audio_features",
    "q149_audio_neardup",
    "q150_video_frames",
    "q151_video_neardup",
    "q152_incremental_neardup",
    "q153_ann_index",
    "q154_text_semantic_search",
    "q156_media_index",
    "q157_partition_drop",
    "q158_partition_drop_iceberg",
    "q159_dv_read",
    "q160_dv_write",
    # --- rule 3 first: the whole r8-signal tail (19) ---
    "q35_embedding_neardup",
    "q40_lang_id",
    "q42_ann_lsh",
    "q43_grouping_sets",
    "q44_map_ops",
    "q94_token_budget",
    "q124_bm25",
    "q126_edit_distance_pairs",
    "q128_balanced_sample",
    "q129_bpe_pairs",
    "q130_repetition",
    "q131_chunk_overlap",
    "q132_session_funnel",
    "q133_rfm_segments",
    "q134_profile",
    "q135_repeated_spans",
    "q136_temperature_mix",
    "q137_gopher_rules",
    "q155_shard_plan",
    # --- rule 3 fill: r9-signal block head, numeric order ---
    "q46_sliding_window",
    "q47_session_window",
    "q49_forecast_score",
    "q51_dispatch_plan",
    "q52_model_metrics",
    "q53_multimodal_features",
]

assert len(_WINDOW) == 50, len(_WINDOW)
_missing = [k for k in _WINDOW if k not in _ALL]
assert not _missing, _missing

QUERIES = {k: _ALL[k] for k in _WINDOW}
QUERIES.update({k: v for k, v in _ALL.items() if k not in QUERIES})
ORACLES = {
    **_O_CORE, **_O_EXT, **_O_ML, **_O_EXTRA, **_O_R4, **_O_R5,
    **_O_R6, **_O_R7, **_O_R8, **_O_R9, **_O_R10, **_O_R11,
}
