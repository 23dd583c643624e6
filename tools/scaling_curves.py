"""Measured scaling curves for the dedup/ANN/components/sketch
families (VERDICT r7 #2, extended per r8 #6): every 100 TB argument in
PLANS.md is a plan audit at sf0.1 — this harness turns them into
NUMBERS by running the families at sf0.03/0.1/0.3/1/3 over the
locally-generated driver-marginal-matched testdata
(tools/gen_scaling_data.py) and fitting log-log growth exponents.
Round 9 adds the sf3 column (another 3× past sf1, confirming the
1.0-1.2 dedup exponents hold), the REGISTERED N-aware semantic family
(``dedup_semantic_clusters_auto``'s masked banding — the driver-oracle
path since r9), and the sketch-family MERGE-cost curves
(``plans.events.sketch_state_sizes``: HLL/CMS/Bloom state-table rows
vs their geometric caps — saturating, never linear).

Metrics per SF:

* candidate-pair counts — the load-bearing scale metric (wall time on
  local[32] has a ~0.3-0.5 s scheduler floor that flattens small-SF
  slopes; pair counts are exact and floor-free):
  - MinHash LSH (128 hashes, 32×4 bands): expected ~linear (planted
    dup rates are constant per document);
  - SimHash64 pigeonhole (4×16-bit bands): ~linear while fingerprint
    diversity outruns corpus growth;
  - RHP FIXED 4 bands × 8 bits (the registered blocked-cluster
    family's band shape): expected Θ(N²/2^r) — the measured quadratic
    that motivates the next row;
  - RHP TUNED via ``rhp_params_for(n)`` (r = Θ(log N)): candidates
    ~linear at matched recall on the planted twins;
  - RHP AUTO (the registered ``dedup_semantic_clusters_auto``
    candidate stage: 8 bands masked to ``rhp_mask_bits(3N)`` bits over
    the twin-augmented table): ~linear with planted recall ≥ 0.9.
* sketch MERGE state (rows in the mergeable counter tables vs their
  geometric caps): HLL registers ≤ types×1024, CMS counters ≤ 4×2048,
  Bloom words ≤ 64 — the saturation curves behind the "merge cost is
  O(geometry), not O(N)" claim.
* star-component rounds on the MinHash near-dup edge set
  (``fast_rounds=0`` pure star): flat in N (the O(log² n) bound).
* IVF scored rows (frozen codebook, nprobe=3, 5 queries): ~linear in N
  with slope times the probed fraction.
* warm wall time (best of 2 after a cold pass) for the registered
  family queries.

Round 10 adds the incremental-LSH per-batch cost curve (VERDICT r9
#5): 16 fixed-size batches at two corpus sizes — per-batch wall,
probe files touched (flat under the LSM store layout), index rows.

Output: SCALING_r10.json + a markdown table on stdout (pasted into
PERF_NOTES §r9). The pytest twin (tests/test_scaling_slopes.py) runs
the same counters at two small SFs and gates the exponents.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark import plans  # noqa: F401
from kingsfoil_seed_data_ingestor_spark.operators import components as CC
from kingsfoil_seed_data_ingestor_spark.operators import similarity as SIM
from kingsfoil_seed_data_ingestor_spark.operators import text_dedup as DD
from kingsfoil_seed_data_ingestor_spark.operators.caching import CacheScope
from kingsfoil_seed_data_ingestor_spark.operators.codebook import FROZEN_IVF_SF0_01
from kingsfoil_seed_data_ingestor_spark.plans.core import QUERIES
from kingsfoil_seed_data_ingestor_spark.plans.tables import load
from kingsfoil_seed_data_ingestor_spark.session import get_spark, pin_comparable_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALING_ROOT = os.path.join(REPO, ".scaling")
SFS = ["0.03", "0.1", "0.3", "1", "3"]

TIMED_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_auto",
    "dedup_simhash64",
    "dedup_semantic_clusters_blocked",
    "dedup_semantic_clusters_auto",
    "embed_ann_ivf_frozen",
    "events_distinct_users_hll",
    "events_heavy_hitters_cms",
    "text_length_quantile_sketch",
]


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, reps: int = 2) -> float:
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def simhash_counts(sh, masks) -> tuple[int, int]:
    """(distinct band-collision candidates, true hamming ≤ 3 pairs) of
    a simhash table under the given subset masks."""
    with CacheScope() as scope:
        cand = scope.persist(DD.simhash_candidates(sh, masks, scope=scope))
        return cand.count(), cand.filter(F.col("hamming") <= 3).count()


def candidate_counts(spark, sf_dir: str) -> dict:
    out: dict = {}
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    out["n_docs"] = docs.count()
    out["n_emb"] = emb.count()
    out["n_events"] = load(spark, sf_dir, "events").count()

    sigs = DD.minhash_signatures(docs, num_hashes=128)
    out["mh_cand"] = DD.lsh_candidate_pairs(sigs, bands=32, rows_per_band=4).count()
    mh_pairs = DD.minhash_near_dups(docs, threshold=0.8)
    mh_pairs = mh_pairs.persist()
    out["mh_verified"] = mh_pairs.count()

    out["sh64_pairs"] = simhash_counts(
        DD.simhash64_table(docs), DD.simhash_subset_masks(4, bits=64)
    )[1]

    # the REGISTERED N-aware 32-bit family (dedup_simhash_auto, r11):
    # candidate mass of the multi-block pigeonhole banding — the
    # VERDICT r10 #1 exponent-≤1.3 gate reads this curve's fit
    blocks = DD.simhash_blocks_for(out["n_docs"])
    out["sh32_auto_blocks"] = blocks
    masks = DD.simhash_subset_masks(blocks)
    # true hamming<=3 pairs are the ANSWER (a data property — this
    # corpus plants near-dup clusters, answer exponent ~1.5); the
    # algorithmic claim is about the WASTE term the ladder bounds
    cand, pairs = simhash_counts(DD.simhash_table(docs), masks)
    out["sh32_auto_cand"] = cand
    out["sh32_auto_pairs"] = pairs
    out["sh32_auto_waste"] = cand - pairs

    # the ladder's own claim — random collision mass ≤ ~target/doc — is
    # only measurable where randomness is the only term: a structure-
    # free corpus of the SAME size (the planted corpus's cluster
    # structure inflates answer and near-miss collisions quadratically,
    # for any lossless banding)
    from tools.gen_scaling_data import uniform_docs

    udocs = uniform_docs(spark, out["n_docs"])
    cand, pairs = simhash_counts(DD.simhash_table(udocs), masks)
    out["sh32_uniform_waste"] = cand - pairs

    # star components over the MinHash edge set: rounds must stay flat
    stats: dict = {}
    CC.connected_components(
        mh_pairs, src="i", dst="j", fast_rounds=0, stats=stats
    ).count()
    out["star_rounds"] = stats.get("rounds")
    mh_pairs.unpersist()

    # RHP fixed band shape (the registered 4×8 family): band-collision
    # candidates only — the quadratic onset this harness exists to show
    fixed_b, fixed_r = 4, 8
    planes = SIM.rhp_sign_planes(fixed_b * fixed_r, 64)
    banded = SIM.rhp_banded(emb, planes, fixed_b, fixed_r).persist()
    left = banded.select(F.col("_id").alias("i"), "band", "bucket")
    right = banded.select(F.col("_id").alias("j"), "band", "bucket")
    out["rhp_fixed_cand"] = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
        .count()
    )
    banded.unpersist()

    # RHP tuned to N (rhp_params_for): candidates ~linear, recall held
    n = out["n_emb"]
    tb, tr = SIM.rhp_params_for(n, threshold=0.99, target_per_vec=16.0)
    tplanes = SIM.rhp_sign_planes(tb * tr, 64)
    tbanded = SIM.rhp_banded(emb, tplanes, tb, tr).persist()
    tl = tbanded.select(F.col("_id").alias("i"), "band", "bucket")
    trr = tbanded.select(F.col("_id").alias("j"), "band", "bucket")
    cand = (
        tl.join(trr, ["band", "bucket"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
        .persist()
    )
    out["rhp_tuned_bands"] = tb
    out["rhp_tuned_rows"] = tr
    out["rhp_tuned_cand"] = cand.count()
    # underscore-prefixed files are invisible to Spark's listing (by
    # design — they must not pollute the embeddings table read); load
    # the tiny ground-truth table via pyarrow instead
    import pyarrow.parquet as pq

    tw = pq.read_table(os.path.join(sf_dir, "_twins.parquet")).to_pandas()
    twins = spark.createDataFrame(tw, schema="i long, j long")
    n_twins = len(tw)
    hit = cand.join(twins, ["i", "j"], "left_semi").count()
    out["twin_pairs"] = n_twins
    out["rhp_tuned_recall"] = round(hit / n_twins, 4) if n_twins else None
    cand.unpersist()
    tbanded.unpersist()

    # the REGISTERED auto family (dedup_semantic_clusters_auto, the
    # driver-oracle path since r9): masked banding over the
    # twin-augmented table, r from the integer rhp_mask_bits rule
    from kingsfoil_seed_data_ingestor_spark.plans.corpus import (
        SEM_AUTO_BANDS,
        SEM_AUTO_MAX_R,
        SEM_AUTO_PLANES,
        SEM_AUTO_TARGET,
        SEM_TWIN_A,
        SEM_TWIN_B,
        semantic_augmented,
    )

    aug = semantic_augmented(spark, sf_dir)
    r_bits = SIM.rhp_mask_bits(3 * n, SEM_AUTO_BANDS, SEM_AUTO_TARGET, hi=SEM_AUTO_MAX_R)
    abanded = (
        SIM.rhp_banded(aug, SEM_AUTO_PLANES, SEM_AUTO_BANDS, SEM_AUTO_MAX_R)
        .withColumn("bucket", F.col("bucket").bitwiseAND(F.lit((1 << r_bits) - 1)))
        .persist()
    )
    al = abanded.select(F.col("_id").alias("i"), "band", "bucket")
    ar = abanded.select(F.col("_id").alias("j"), "band", "bucket")
    acand = (
        al.join(ar, ["band", "bucket"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
        .persist()
    )
    out["rhp_auto_cand"] = acand.count()
    out["rhp_auto_r"] = r_bits
    planted = (
        emb.select(F.col("vec_id").alias("i"))
        .withColumn("j", F.col("i") + F.lit(SEM_TWIN_A))
        .unionByName(
            emb.select(F.col("vec_id").alias("i")).withColumn(
                "j", F.col("i") + F.lit(SEM_TWIN_B)
            )
        )
    )
    out["rhp_auto_recall"] = round(
        acand.join(planted, ["i", "j"], "left_semi").count() / (2 * n), 4
    )
    acand.unpersist()
    abanded.unpersist()

    # frozen-codebook IVF: scored rows = Σ probed-cluster sizes
    ann_stats: dict = {}
    SIM.knn_ivf_frozen(
        emb, FROZEN_IVF_SF0_01, [0, 1, 2, 3, 4], stats=ann_stats
    ).count()
    out["ann_scored_rows"] = ann_stats.get("scored_rows")

    # sketch MERGE state: counter-table rows vs geometric caps
    from kingsfoil_seed_data_ingestor_spark.plans.events import sketch_state_sizes

    out.update(sketch_state_sizes(spark, sf_dir))
    return out


def wall_times(spark, sf_dir: str, sf: float) -> dict:
    out = {}
    for name in TIMED_QUERIES:
        # (r11: the pre-cap skip of dedup_semantic_clusters_blocked at
        # sf >= 3 is gone — the referee runs on the REFEREE_CAP_N lowest
        # vec_ids in both engines now, so its cost is O(1) in sf and the
        # full sweep is runnable at any size: VERDICT r10 #4's 'Done'.)
        q = QUERIES[name]
        try:
            drain(q.spark(spark, sf_dir))  # cold (codegen) pass
            out[name] = timed(lambda: drain(q.spark(spark, sf_dir)))
        except Exception as exc:
            print(f"[scaling] {name} FAILED at {sf_dir}: {exc}", file=sys.stderr)
            out[name] = -1.0
        spark.catalog.clearCache()
    return out


def stream_lsh_curve(spark, sf_dir: str, n_batches: int = 24) -> dict:
    """Per-batch cost of the incremental LSH index as the index grows
    (VERDICT r9 #5; widened to 24 batches + write accounting per r10
    #2): feed ``n_batches`` equal fixed-size batches — so the index is
    24× larger under the last batch than the first — and record
    per-batch wall, the probe's files-touched at four checkpoints
    (near-flat under the tiered-LSM layout: O(log) runs of size-bounded
    files + ≤ compact_every L0 dirs), the final index row count, and
    the WRITE-AMPLIFICATION witness (rows/bytes rewritten by folds +
    tier merges vs L0 rows ingested — bounded under size-tiering,
    O(batches/compact_every)× under r10's fold-everything). Run at two
    corpus sizes so per-batch wall and the amplification ratio are
    attributable to BATCH size, not index size."""
    import shutil
    import tempfile

    from kingsfoil_seed_data_ingestor_spark.streaming.lsh import (
        StreamingLSHIndex,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="lsh-curve-")
    try:
        index = StreamingLSHIndex(
            os.path.join(tmp, "store"),
            threshold=0.8,
            compact_every=4,
        )
        probe = docs.limit(8)
        walls: list[float] = []
        first_walls: list[float] = []
        files: dict[str, int] = {}
        for b in range(n_batches):
            batch = docs.filter(F.col("doc_id") % n_batches == b)
            # min over the first run and one idempotent REPLAY of the
            # same batch id (byte-identical overwrites by contract) —
            # single-shot per-batch walls on this host carry 2-4×
            # hypervisor noise spikes that swamp the growth signal
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                index.process_batch(batch, b)
                runs.append(time.perf_counter() - t0)
            # NB: on fold batches the replay (no re-compaction) is the
            # min — so `walls` is the pure index+probe cost curve and
            # `first_run_walls` keeps the compaction-inclusive walls
            walls.append(round(min(runs), 3))
            first_walls.append(round(runs[0], 3))
            if b in (3, 9, 16, 23):
                files[str(b)] = index.probe_files_touched(spark, probe)
        banded_rows = index._read_indexed(spark, "banded").count()
        pairs = index.near_dup_pairs(spark).count()
        early = sum(walls[1:5]) / 4
        late = sum(walls[-4:]) / 4
        log = index.write_log()
        l0_rows = sum(e["banded_rows"] for e in log if e["event"] == "batch")
        compacts = [e for e in log if e["event"] == "compact"]
        rewritten = sum(e["fold_rows"] + e["merge_rows"] for e in compacts)
        return {
            "n_docs": docs.count(),
            "per_batch_wall": walls,
            "first_run_walls": first_walls,
            "probe_files": files,
            "banded_rows": banded_rows,
            "pairs": pairs,
            "wall_late_over_early": round(late / early, 3),
            "l0_rows": l0_rows,
            "compact_rewritten_rows": rewritten,
            "write_amplification": round(rewritten / l0_rows, 3) if l0_rows else None,
            "n_compactions": len(compacts),
            "final_runs": compacts[-1]["n_runs"] if compacts else 0,
            "last_fold_rows": compacts[-1]["fold_rows"] if compacts else 0,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def fit_slope(ns: list[float], ys: list[float]) -> float | None:
    pts = [(n, y) for n, y in zip(ns, ys) if n and y and y > 0]
    if len(pts) < 2:
        return None
    lx = np.log([p[0] for p in pts])
    ly = np.log([p[1] for p in pts])
    return round(float(np.polyfit(lx, ly, 1)[0]), 3)


def main() -> int:
    from tools.gen_scaling_data import GEN_VERSION, generate

    # per-SF checkpoint: a multi-SF run is ~20 min end-to-end; caching
    # finished SF rows (keyed by generator version + the metric set)
    # makes interrupted runs resume instead of restarting
    cache_path = os.path.join(SCALING_ROOT, "curves_cache_r11.json")
    cache_key = f"g{GEN_VERSION}-m4"
    cache: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            stored = json.load(fh)
        if stored.get("key") == cache_key:
            cache = stored.get("per_sf", {})

    spark = get_spark(app_name="kingsfoil-scaling")
    pin_comparable_conf(spark)
    per_sf: dict[str, dict] = {}
    for sf_s in SFS:
        if sf_s in cache:
            per_sf[sf_s] = cache[sf_s]
            print(f"[scaling] sf{sf_s}: cached", file=sys.stderr)
            continue
        sf_dir = os.path.join(SCALING_ROOT, f"sf{sf_s}")
        generate(sf_dir, float(sf_s))
        row = candidate_counts(spark, sf_dir)
        row["wall"] = wall_times(spark, sf_dir, float(sf_s))
        per_sf[sf_s] = row
        print(f"[scaling] sf{sf_s}: {json.dumps(row)}", file=sys.stderr)
        cache[sf_s] = row
        with open(cache_path, "w") as fh:
            json.dump({"key": cache_key, "per_sf": cache}, fh)

    docs_n = [per_sf[s]["n_docs"] for s in SFS]
    emb_n = [per_sf[s]["n_emb"] for s in SFS]
    ev_n = [per_sf[s]["n_events"] for s in SFS]
    slopes = {
        "mh_cand": fit_slope(docs_n, [per_sf[s]["mh_cand"] for s in SFS]),
        "mh_verified": fit_slope(docs_n, [per_sf[s]["mh_verified"] for s in SFS]),
        "sh64_pairs": fit_slope(docs_n, [per_sf[s]["sh64_pairs"] for s in SFS]),
        "sh32_auto_cand": fit_slope(
            docs_n, [per_sf[s]["sh32_auto_cand"] for s in SFS]
        ),
        "sh32_auto_pairs": fit_slope(
            docs_n, [per_sf[s]["sh32_auto_pairs"] for s in SFS]
        ),
        "sh32_auto_waste": fit_slope(
            docs_n, [per_sf[s]["sh32_auto_waste"] for s in SFS]
        ),
        "sh32_uniform_waste": fit_slope(
            docs_n, [per_sf[s]["sh32_uniform_waste"] for s in SFS]
        ),
        "rhp_fixed_cand": fit_slope(emb_n, [per_sf[s]["rhp_fixed_cand"] for s in SFS]),
        "rhp_tuned_cand": fit_slope(emb_n, [per_sf[s]["rhp_tuned_cand"] for s in SFS]),
        "rhp_auto_cand": fit_slope(emb_n, [per_sf[s]["rhp_auto_cand"] for s in SFS]),
        "ann_scored_rows": fit_slope(emb_n, [per_sf[s]["ann_scored_rows"] for s in SFS]),
        "hll_regs": fit_slope(ev_n, [per_sf[s]["hll_regs"] for s in SFS]),
        "cms_counters": fit_slope(ev_n, [per_sf[s]["cms_counters"] for s in SFS]),
        "bloom_words": fit_slope(ev_n, [per_sf[s]["bloom_words"] for s in SFS]),
    }
    for q in TIMED_QUERIES:
        base = ev_n if q.startswith(("events", "text_length")) else (
            emb_n if "embed" in q or "semantic" in q else docs_n
        )
        slopes[f"wall:{q}"] = fit_slope(base, [per_sf[s]["wall"][q] for s in SFS])

    # round 10 (VERDICT r9 #5): incremental-LSH per-batch cost curve at
    # two corpus sizes, 16 batches each — checkpointed like the SF rows
    stream_lsh: dict[str, dict] = {}
    for sf_s in ("0.1", "0.3"):
        ck = f"lsh{sf_s}"
        if ck in cache:
            stream_lsh[sf_s] = cache[ck]
            print(f"[scaling] stream_lsh sf{sf_s}: cached", file=sys.stderr)
            continue
        stream_lsh[sf_s] = stream_lsh_curve(
            spark, os.path.join(SCALING_ROOT, f"sf{sf_s}")
        )
        print(
            f"[scaling] stream_lsh sf{sf_s}: {json.dumps(stream_lsh[sf_s])}",
            file=sys.stderr,
        )
        cache[ck] = stream_lsh[sf_s]
        with open(cache_path, "w") as fh:
            json.dump({"key": cache_key, "per_sf": cache}, fh)

    result = {
        "per_sf": per_sf,
        "slopes": slopes,
        "sfs": SFS,
        "stream_lsh": stream_lsh,
    }
    with open(os.path.join(REPO, "SCALING_r11.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")

    # markdown table for PERF_NOTES
    print("| metric | " + " | ".join(f"sf{s}" for s in SFS) + " | exponent |")
    print("|---|" + "---|" * (len(SFS) + 1))
    for key in (
        "n_docs", "n_emb", "mh_cand", "mh_verified", "sh64_pairs",
        "sh32_auto_blocks", "sh32_auto_cand", "sh32_auto_pairs",
        "sh32_auto_waste", "sh32_uniform_waste",
        "star_rounds", "rhp_fixed_cand", "rhp_tuned_cand",
        "rhp_tuned_recall", "rhp_auto_cand", "rhp_auto_r",
        "rhp_auto_recall", "ann_scored_rows",
        "hll_regs", "cms_counters", "bloom_words",
    ):
        vals = " | ".join(str(per_sf[s].get(key)) for s in SFS)
        print(f"| {key} | {vals} | {slopes.get(key, '—')} |")
    for q in TIMED_QUERIES:
        vals = " | ".join(f"{per_sf[s]['wall'][q]:.2f}" for s in SFS)
        print(f"| wall:{q} | {vals} | {slopes[f'wall:{q}']} |")
    print()
    print(
        "| stream_lsh | n_docs | probe_files b3→b23 | wall late/early "
        "| banded_rows | write_amp | runs |"
    )
    print("|---|---|---|---|---|---|---|")
    for sf_s, row in stream_lsh.items():
        pf = row["probe_files"]
        print(
            f"| sf{sf_s} | {row['n_docs']} | "
            f"{pf.get('3')}→{pf.get('23')} | "
            f"{row['wall_late_over_early']} | {row['banded_rows']} | "
            f"{row.get('write_amplification')} | {row.get('final_runs')} |"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
