"""Scaling-slope gates (VERDICT r7 #2): candidate-pair growth for the
dedup/ANN families is measured at two corpus sizes (4× apart, same
generator, same seed discipline) and the fitted log-log exponent is
asserted sub-quadratic. This is the hard version of every "~linear at
scale" claim in PLANS.md — a regression that turns a banded join
quadratic (dropped distinct, widened bucket, broken band key) fails
HERE, not in a 100 TB incident.

The full four-point curves (sf0.03/0.1/0.3/1) live in
tools/scaling_curves.py → SCALING_r8.json / PERF_NOTES §r8; this gate
reruns the same counters at the two smallest sizes so the suite stays
fast while the invariant stays pinned.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.operators import components as CC
from kingsfoil_seed_data_ingestor_spark.operators import similarity as SIM
from kingsfoil_seed_data_ingestor_spark.operators import text_dedup as DD
from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope
from kingsfoil_seed_data_ingestor_spark.operators.codebook import FROZEN_IVF_SF0_01
from kingsfoil_seed_data_ingestor_spark.plans.tables import load
from tools.scaling_curves import simhash_counts

SF_A, SF_B = 0.03, 0.12  # 4× apart; docs 1500 → 6000, emb 600 → 2400
RATIO = SF_B / SF_A


def _slope(a: float, b: float) -> float:
    return math.log(b / a) / math.log(RATIO)


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    from tools.gen_scaling_data import generate

    root = tmp_path_factory.mktemp("scaling")
    out = {}
    for sf in (SF_A, SF_B):
        d = str(root / f"sf{sf}")
        generate(d, sf)
        out[sf] = d
    return out


@pytest.fixture(scope="module")
def counts(spark, dirs):
    """One pass collecting every counter at both sizes."""
    got: dict[float, dict] = {}
    for sf, d in dirs.items():
        row: dict = {}
        docs = load(spark, d, "documents")
        emb = load(spark, d, "embeddings")
        sigs = DD.minhash_signatures(docs, num_hashes=128)
        row["mh_cand"] = DD.lsh_candidate_pairs(
            sigs, bands=32, rows_per_band=4
        ).count()
        from kingsfoil_seed_data_ingestor_spark.plans.llm import (
            SIMHASH64_BUCKET_CAP,
        )

        sh64 = DD.simhash64_table(docs)
        masks64 = DD.simhash_subset_masks(4, bits=64)
        for key, cap in (
            ("sh64_pairs", None),
            ("sh64_capped_pairs", SIMHASH64_BUCKET_CAP),
        ):
            with CacheScope() as scope:
                row[key] = (
                    DD.simhash_candidates(sh64, masks64, cap, scope)
                    .filter(F.col("hamming") <= 3)
                    .count()
                )

        # the REGISTERED 32-bit family (dedup_simhash_auto, VERDICT r10
        # #1): candidate + true-pair + waste counts on the structured
        # corpus for BOTH the N-aware and the fixed 4×8 banding — the
        # dominance gate below compares them (the uniform-model bound
        # itself is gated on a structure-free corpus, see
        # test_simhash32_auto_random_mass_bounded_uniform)
        n_docs = docs.count()
        row["n_docs"] = n_docs
        blocks = DD.simhash_blocks_for(n_docs)
        row["sh32_auto_blocks"] = blocks
        sh = DD.simhash_table(docs).persist()
        for label, masks in (
            ("auto", DD.simhash_subset_masks(blocks)),
            ("fixed", DD.simhash_subset_masks(4)),
        ):
            cand, pairs = simhash_counts(sh, masks)
            row[f"sh32_{label}_cand"] = cand
            row[f"sh32_{label}_pairs"] = pairs
            row[f"sh32_{label}_waste"] = cand - pairs
        sh.unpersist()

        mh_pairs = DD.minhash_near_dups(docs, threshold=0.8).persist()
        row["mh_verified"] = mh_pairs.count()
        stats: dict = {}
        CC.connected_components(
            mh_pairs, src="i", dst="j", fast_rounds=0, stats=stats
        ).count()
        row["star_rounds"] = stats["rounds"]
        mh_pairs.unpersist()

        def rhp_count(bands: int, rows: int, with_recall: bool = False):
            planes = SIM.rhp_sign_planes(bands * rows, 64)
            banded = SIM.rhp_banded(emb, planes, bands, rows).persist()
            left = banded.select(F.col("_id").alias("i"), "band", "bucket")
            right = banded.select(F.col("_id").alias("j"), "band", "bucket")
            cand = (
                left.join(right, ["band", "bucket"])
                .filter(F.col("i") < F.col("j"))
                .select("i", "j")
                .distinct()
                .persist()
            )
            n = cand.count()
            recall = None
            if with_recall:
                import pyarrow.parquet as pq

                tw = pq.read_table(os.path.join(d, "_twins.parquet")).to_pandas()
                twins = spark.createDataFrame(tw, schema="i long, j long")
                recall = cand.join(twins, ["i", "j"], "left_semi").count() / len(tw)
            cand.unpersist()
            banded.unpersist()
            return n, recall

        row["rhp_fixed_cand"], _ = rhp_count(4, 8)
        n_emb = emb.count()
        tb, tr = SIM.rhp_params_for(n_emb, threshold=0.99, target_per_vec=16.0)
        row["rhp_tuned_cand"], row["rhp_tuned_recall"] = rhp_count(
            tb, tr, with_recall=True
        )

        # the REGISTERED auto family (dedup_semantic_clusters_auto):
        # masked banding over the planted-twin augmented table, r from
        # the integer rhp_mask_bits rule — this is the exact candidate
        # stage the driver's oracle gates, measured for growth
        from kingsfoil_seed_data_ingestor_spark.plans.corpus import (
            SEM_AUTO_BANDS,
            SEM_AUTO_MAX_R,
            SEM_AUTO_PLANES,
            SEM_AUTO_TARGET,
            SEM_TWIN_A,
            SEM_TWIN_B,
            semantic_augmented,
        )

        aug = semantic_augmented(spark, d)
        n_aug = 3 * n_emb
        r_bits = SIM.rhp_mask_bits(
            n_aug, SEM_AUTO_BANDS, SEM_AUTO_TARGET, hi=SEM_AUTO_MAX_R
        )
        banded = (
            SIM.rhp_banded(aug, SEM_AUTO_PLANES, SEM_AUTO_BANDS, SEM_AUTO_MAX_R)
            .withColumn("bucket", F.col("bucket").bitwiseAND(F.lit((1 << r_bits) - 1)))
            .persist()
        )
        left = banded.select(F.col("_id").alias("i"), "band", "bucket")
        right = banded.select(F.col("_id").alias("j"), "band", "bucket")
        cand = (
            left.join(right, ["band", "bucket"])
            .filter(F.col("i") < F.col("j"))
            .select("i", "j")
            .distinct()
            .persist()
        )
        row["rhp_auto_cand"] = cand.count()
        row["rhp_auto_r"] = r_bits
        # planted recall: every base vector has twins at vec_id+A / +B
        # (cosine ≈ 0.994) — the pairs the clustering must recover
        planted = (
            emb.select(F.col("vec_id").alias("i"))
            .withColumn("j", F.col("i") + F.lit(SEM_TWIN_A))
            .unionByName(
                emb.select(F.col("vec_id").alias("i")).withColumn(
                    "j", F.col("i") + F.lit(SEM_TWIN_B)
                )
            )
        )
        row["rhp_auto_recall"] = (
            cand.join(planted, ["i", "j"], "left_semi").count() / (2 * n_emb)
        )
        cand.unpersist()
        banded.unpersist()

        ann_stats: dict = {}
        SIM.knn_ivf_frozen(
            emb, FROZEN_IVF_SF0_01, [0, 1, 2, 3, 4], stats=ann_stats
        ).count()
        row["ann_scored_rows"] = ann_stats["scored_rows"]
        got[sf] = row
        spark.catalog.clearCache()
    return got


def test_minhash_lsh_candidates_subquadratic(counts):
    s = _slope(counts[SF_A]["mh_cand"], counts[SF_B]["mh_cand"])
    assert s <= 1.5, f"MinHash LSH candidate slope {s:.2f} (want ≤ 1.5)"
    sv = _slope(counts[SF_A]["mh_verified"], counts[SF_B]["mh_verified"])
    assert sv <= 1.5, f"verified-pair slope {sv:.2f}"


def test_simhash64_pairs_subquadratic(counts):
    s = _slope(counts[SF_A]["sh64_pairs"], counts[SF_B]["sh64_pairs"])
    assert s <= 1.5, f"SimHash64 pair slope {s:.2f} (want ≤ 1.5)"


def test_simhash64_capped_production_path_near_linear(counts):
    """The PRODUCTION simhash path (hot-bucket cap, the exact family
    `dedup_simhash64_capped` oracle-pins) must grow strictly slower
    than the uncapped pigeonhole — the cap exists because the uncapped
    family measured exponent 1.51 over 100× (SCALING_r9.json,
    fingerprint concentration) and a capped bucket contributes O(cap²)
    pairs instead of O(k²). Gate: capped slope ≤ 1.3 AND ≤ uncapped."""
    capped = _slope(
        counts[SF_A]["sh64_capped_pairs"], counts[SF_B]["sh64_capped_pairs"]
    )
    uncapped = _slope(counts[SF_A]["sh64_pairs"], counts[SF_B]["sh64_pairs"])
    assert capped <= 1.3, f"capped SimHash64 slope {capped:.2f} (want ≤ 1.3)"
    assert capped <= uncapped + 1e-9, (
        f"capped slope {capped:.2f} must not exceed uncapped {uncapped:.2f}"
    )


def test_simhash32_auto_random_mass_bounded_uniform(spark):
    """VERDICT r10 #1 'Done' criterion, live half — measured on a
    STRUCTURE-FREE corpus, because that is what the claim is about:
    the N-aware block ladder bounds the RANDOM band-collision mass at
    ~target per document at every N (the fixed 4×8 family's random
    mass is Θ(N²/256)). On the planted scaling corpus the dominant
    candidate term is the near-dup CLUSTER structure, which inflates
    the answer itself quadratically (sh64_pairs exponent 1.51 — a data
    property every lossless enumerator shares, see the dominance gate
    below), so the random term is only measurable where it is the only
    term. Sizes straddle a ladder rung (B: 5 → 6) so the gate fails if
    the rule stops advancing."""
    from tools.gen_scaling_data import uniform_docs

    for n, want_blocks in ((2000, 5), (9000, 6)):
        docs = uniform_docs(spark, n)
        blocks = DD.simhash_blocks_for(n)
        assert blocks == want_blocks, (n, blocks)
        sh = DD.simhash_table(docs).persist()
        cand, pairs = simhash_counts(sh, DD.simhash_subset_masks(blocks))
        sh.unpersist()
        per_doc = (cand - pairs) / n
        assert per_doc <= 32.0, (
            f"uniform-corpus random candidates/doc {per_doc:.1f} at n={n} "
            "(want ≤ 32: target 16 + multi-subset slack)"
        )


def test_simhash32_auto_dominates_fixed_on_structured_corpus(counts):
    """On the planted corpus (where cluster structure, not random
    collisions, dominates) the N-aware family must still strictly
    dominate the fixed 4×8 banding in wasted candidates at every size,
    return the IDENTICAL true pair set size (lossless banding), and
    never regress below ~2× — the measured margin is ~3× at both
    sizes."""
    for sf in (SF_A, SF_B):
        row = counts[sf]
        assert row["sh32_auto_pairs"] == row["sh32_fixed_pairs"], row
        assert row["sh32_auto_waste"] * 2 <= row["sh32_fixed_waste"], row


def test_simhash32_auto_exponent_artifact():
    """The recorded five-point (sf0.03→sf3) exponent of the registered
    N-aware 32-bit simhash family's RANDOM candidate mass — measured
    on the matched-size structure-free corpus — must be ≤ 1.3: the
    VERDICT r10 #1 'Done' gate, applied to the term the algorithm
    controls. On the planted corpus both the TRUE pair count (the
    answer — sh64_pairs exponent 1.51 in SCALING_r10) and the
    near-miss cluster collisions are data properties every lossless
    hamming ≤ 3 enumerator shares; the artifact records those too
    (sh32_auto_cand/pairs/waste) for context. Reads SCALING_r11.json
    by name and fails when the file or the metric is missing: a gate
    never skips."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SCALING_r11.json")) as fh:
        slopes = json.load(fh)["slopes"]
    assert "sh32_uniform_waste" in slopes, "SCALING_r11.json lacks sh32_uniform_waste"
    slope = slopes["sh32_uniform_waste"]
    assert slope <= 1.3, (
        f"sh32 auto uniform-corpus random-mass exponent {slope} (want ≤ 1.3)"
    )


def test_rhp_tuned_bands_linearize_candidates(counts):
    """The N-aware band rule (rhp_params_for) must beat the fixed 4×8
    family's growth AND stay near-linear itself, at full recall on the
    planted twins — the measured content of the 'r = Θ(log N) keeps LSH
    sub-quadratic' claim."""
    fixed = _slope(counts[SF_A]["rhp_fixed_cand"], counts[SF_B]["rhp_fixed_cand"])
    tuned = _slope(counts[SF_A]["rhp_tuned_cand"], counts[SF_B]["rhp_tuned_cand"])
    assert tuned <= 1.6, f"tuned RHP slope {tuned:.2f} (want ≤ 1.6)"
    assert tuned < fixed, (
        f"tuned slope {tuned:.2f} must undercut fixed-band slope {fixed:.2f}"
    )
    for sf in (SF_A, SF_B):
        assert counts[sf]["rhp_tuned_recall"] >= 0.9, counts[sf]


def test_registered_auto_family_subquadratic(counts):
    """VERDICT r8 #1 'Done' criterion: the DRIVER-ORACLE-GATED semantic
    clustering family (dedup_semantic_clusters_auto's masked banding)
    must measure candidate exponent ≤ 1.3 with planted-twin recall
    ≥ 0.9 — the property whose absence convicted the fixed 4×8 family
    (measured exponent 2.00, SCALING_r8.json)."""
    s = _slope(counts[SF_A]["rhp_auto_cand"], counts[SF_B]["rhp_auto_cand"])
    assert s <= 1.3, f"registered auto-band candidate slope {s:.2f} (want ≤ 1.3)"
    for sf in (SF_A, SF_B):
        assert counts[sf]["rhp_auto_recall"] >= 0.9, counts[sf]
    # the mask rule actually widened the band between the two sizes
    # (4× more rows ⇒ r grows by 2) — otherwise the slope test would
    # silently measure a fixed family
    assert counts[SF_B]["rhp_auto_r"] == counts[SF_A]["rhp_auto_r"] + 2, counts


def test_star_component_rounds_flat(counts):
    ra, rb = counts[SF_A]["star_rounds"], counts[SF_B]["star_rounds"]
    assert rb <= ra + 1, f"star rounds grew {ra} → {rb}"
    assert rb <= 6, f"star rounds {rb} exceed the log² bound at this size"


def test_ivf_scored_rows_linear(counts):
    s = _slope(counts[SF_A]["ann_scored_rows"], counts[SF_B]["ann_scored_rows"])
    assert s <= 1.25, f"IVF scored-row slope {s:.2f} (want ~1, ≤ 1.25)"


# ----------------------------------------------------------------------
# round 9 (VERDICT r8 #6): sketch family — MERGE cost bounded by
# geometry, not N
# ----------------------------------------------------------------------


@pytest.fixture(scope="module")
def sketch_sizes(spark, dirs):
    from kingsfoil_seed_data_ingestor_spark.plans.events import (
        sketch_state_sizes,
    )

    return {sf: sketch_state_sizes(spark, d) for sf, d in dirs.items()}


def test_sketch_merge_state_capped_by_geometry(sketch_sizes):
    """The mergeable state table of every sketch query must stay
    inside its geometric cap at BOTH corpus sizes — the property that
    makes cross-partition (and cross-day) merges O(geometry) no matter
    how many events were absorbed. Scan cost is trivially linear; THIS
    is the 100 TB invariant worth pinning (VERDICT r8 #6)."""
    for sf, row in sketch_sizes.items():
        assert row["hll_regs"] <= row["hll_cap"], (sf, row)
        assert row["cms_counters"] <= row["cms_cap"], (sf, row)
        assert row["bloom_words"] <= row["bloom_cap"], (sf, row)


def test_sketch_merge_state_saturates(sketch_sizes):
    """State growth vs a 4× event scale-up follows the concave
    register-occupancy curve, never the data: HLL measures ~0.62,
    CMS ~0.78 (both still filling their register files at these sizes
    — the curve flattens to 0 at saturation, and the cap test above
    bounds the limit), Bloom is already saturated flat at 64 words.
    A linear slope here would mean per-row state — a broken sketch."""
    a, b = sketch_sizes[SF_A], sketch_sizes[SF_B]
    s_hll = _slope(a["hll_regs"], b["hll_regs"])
    assert s_hll <= 0.75, f"HLL register-table slope {s_hll:.2f} (want ≤ 0.75)"
    s_cms = _slope(a["cms_counters"], b["cms_counters"])
    assert s_cms <= 0.9, f"CMS counter-table slope {s_cms:.2f} (want ≤ 0.9)"
    s_bf = _slope(a["bloom_words"], b["bloom_words"])
    assert s_bf <= 0.05, f"Bloom word-table slope {s_bf:.2f} (want flat)"


# ----------------------------------------------------------------------
# round 10: incremental LSH index — per-batch cost vs index size
# ----------------------------------------------------------------------


def test_stream_lsh_per_batch_cost_flat_in_index_size(spark, dirs, tmp_path):
    """VERDICT r9 #5: the micro-bench's 4 batches cannot separate fixed
    per-batch overhead from growth-with-index; this gate feeds 12
    equal batches (fixed batch size, so the index grows 12× under a
    constant workload) and pins the two per-batch cost curves:

    * probe files touched — FLAT under the LSM layout (bounded by the
      live runs' size-bounded files + ≤ compact_every L0 dirs), vs the
      uncompacted control growing linearly in batches;
    * per-batch wall — the late-index batches must not cost more than
      a lenient multiple of the early ones (the flat-files property is
      what holds at 100 TB; wall on micro data is scheduler-floor
      dominated, so the bound is deliberately loose).
    """
    import time as _time

    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import StreamingLSHIndex

    docs = load(spark, dirs[SF_A], "documents").select("doc_id", "text")
    n_batches = 12
    batches = [
        docs.filter(F.col("doc_id") % n_batches == i) for i in range(n_batches)
    ]
    probe = batches[0].limit(5)

    # tier_fanout=3 so the 12-batch schedule (3 folds) exercises a tier
    # merge — the run count at the b11 checkpoint is back to 1-2, which
    # is what keeps probe fan-out logarithmic at any batch count
    lsm = StreamingLSHIndex(
        str(tmp_path / "lsm"), threshold=0.8, compact_every=3,
        tier_fanout=3,
    )
    flat = StreamingLSHIndex(
        str(tmp_path / "flat"), threshold=0.8, compact_every=0
    )
    walls, files_lsm, files_flat = [], {}, {}
    for b, df in enumerate(batches):
        t0 = _time.perf_counter()
        lsm.process_batch(df, b)
        walls.append(_time.perf_counter() - t0)
        flat.process_batch(df, b)
        if b in (3, 11):
            files_lsm[b] = lsm.probe_files_touched(spark, probe)
            files_flat[b] = flat.probe_files_touched(spark, probe)

    # control grows ~linearly (3x the batches); LSM stays near-flat
    # (bounded by the O(log batches) tiered-run count, one banded file
    # per run at this size, + the L0 tail)
    assert files_flat[11] >= 2 * files_flat[3], (files_flat, files_lsm)
    assert files_lsm[11] <= files_lsm[3] + 16, (files_lsm, files_flat)
    assert files_lsm[11] < files_flat[11]

    # per-batch wall: late window (index ~2-4x the early window's) vs
    # early; compaction batches excluded from neither side — the
    # amortized cost is part of the claim. MEDIANS, not means, and a
    # loose bound: single-shot walls on this host carry 2-4x hypervisor
    # noise spikes (PERF_NOTES §r10), and this suite runs under load —
    # the load-bearing deterministic gate is the files-touched pair
    # above; the wall gate only catches gross (≥2.5x median) growth
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    early = med(walls[1:6])
    late = med(walls[6:12])
    assert late <= 2.5 * early, (walls, early, late)
