"""Self-tests of the benchmark itself; no Spark session is started.

    python3 perfbench/selftest.py

* The same seed gives byte-identical inputs and another seed gives
  different ones, for every generator.
* The document replay reproduces ``tools/gen_scaling_data`` exactly.
* Every CMS upload carries typed samples to check, for many seeds.
* Every generated CMS header is resolved by the package's header
  detection to the intended columns.
* Every output check passes on a correct result and fails on a
  deliberately corrupted one: a pair dropped, a count changed, a cell
  altered, a component relabelled.

Exits 1 if any test fails.
"""

from __future__ import annotations

import csv
import filecmp
import shutil
import sys
import tempfile
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import gen_cms  # noqa: E402
import gen_docs  # noqa: E402
import harness  # noqa: E402
import stream_feed  # noqa: E402
import wl_cms  # noqa: E402
from kingsfoil_seed_data_ingestor_spark.registry import get_source  # noqa: E402
from kingsfoil_seed_data_ingestor_spark.sources.headers import detect_header  # noqa: E402
from kingsfoil_seed_data_ingestor_spark.sources.readers import _parse_xlsx_rows  # noqa: E402


def _same_tree(a: Path, b: Path) -> bool:
    names = sorted(p.name for p in a.iterdir())
    if names != sorted(p.name for p in b.iterdir()):
        return False
    return all(filecmp.cmp(a / n, b / n, shallow=False) for n in names)


def test_cms_inputs_seeded(tmp: Path):
    a = gen_cms.generate(tmp / "a", seed=5)
    gen_cms.generate(tmp / "b", seed=5)
    gen_cms.generate(tmp / "c", seed=6)
    assert _same_tree(tmp / "a", tmp / "b"), "same seed, different CMS files"
    for u in a:
        assert not filecmp.cmp(u.path, tmp / "c" / u.path.name, shallow=False), (
            f"{u.path.name} identical under another seed"
        )


def test_every_upload_has_typed_samples(tmp: Path):
    for seed in range(40):
        for u in gen_cms.generate(tmp / f"s{seed}", seed, scale=0.5):
            assert u.typed, f"{u.path.name} seed {seed}: no typed samples"


def test_doc_inputs_seeded(tmp: Path):
    a = gen_docs.documents(400, 5)
    assert a.equals(gen_docs.documents(400, 5)), "same seed, different documents"
    assert not a.equals(gen_docs.documents(400, 6)), "documents identical under another seed"


def test_stream_files_seeded(tmp: Path):
    feeds = [
        stream_feed.prepare(harness.Context(None, seed, 0, None, tmp / name), files=3)[2]
        for name, seed in (("a", 5), ("b", 5), ("c", 6))
    ]
    a, b, c = feeds
    assert _same_tree(a, b), "same seed, different stream files"
    first = sorted(a.iterdir())[0]
    assert not filecmp.cmp(first, c / first.name, shallow=False), "stream files identical under another seed"


def test_planted_replay_matches_generator(tmp: Path):
    texts, pairs = gen_docs.planted(3000, 9)
    assert texts == gen_docs.documents(3000, 9).column("text").to_pylist()
    kinds = {k for _, _, k in pairs}
    assert kinds == {"exact", "light", "medium"}, kinds
    for src, dst, kind in pairs:
        if kind == "exact":
            assert texts[src] == texts[dst]


def _head(path: Path) -> list[list[str]]:
    if path.suffix == ".xlsx":
        return [[c.strip() for c in r] for r in _parse_xlsx_rows(str(path))[:50]]
    with open(path, newline="") as fh:
        delim = "\t" if path.suffix == ".txt" else ","
        return [[c.strip() for c in r] for _, r in zip(range(50), csv.reader(fh, delimiter=delim))]


def test_headers_resolve(tmp: Path):
    for seed in range(6):
        for u in gen_cms.generate(tmp / f"h{seed}", seed):
            head = _head(u.path)
            det = detect_header(head, get_source(u.source_code).header_mappings)
            assert det.found, f"{u.path.name} seed {seed}: {det.error}"
            want = {name: i for i, (name, _, _) in enumerate(gen_cms.SPECS[u.source_code]) if name}
            assert det.column_index == want, (u.path.name, seed, det.column_index, want)


def test_cms_checks_catch_corruption(tmp: Path):
    u = next(x for x in gen_cms.generate(tmp / "k", 3) if x.source_code == "PFS_RVU")
    good = {
        "records_inserted": u.expected["inserted"],
        "records_quarantined": u.expected["quarantined"],
        "duplicates_skipped": u.expected["duplicates"],
        "rows_skipped": u.expected["skipped"],
    }
    assert wl_cms.upload_problem(u, good) is None
    assert wl_cms.upload_problem(u, {**good, "rows_skipped": good["rows_skipped"] + 1})
    view = (u.source_code, u.variant)
    assert wl_cms.check_read("count", view, u.view_rows, u.view_rows) is None
    assert wl_cms.check_read("count", view, u.view_rows, u.view_rows - 1)
    key, row = next(iter(u.typed.items()))
    assert wl_cms.check_read("lookup", view, (key, row), [dict(row)]) is None
    col = next(c for c, v in row.items() if isinstance(v, float))
    assert wl_cms.check_read("lookup", view, (key, row), [{**row, col: row[col] + 0.01}])
    fees = {k: 1.0 for k in u.typed}
    assert wl_cms.check_read("fee", view, fees, dict(fees)) is None
    assert wl_cms.check_read("fee", view, fees, {**fees, key: 1.5})


def _true_pairs(texts, planted, threshold):
    out = []
    for src, dst, _ in planted:
        i, j = min(src, dst), max(src, dst)
        jac = gen_docs.jaccard(gen_docs.shingles(texts[i]), gen_docs.shingles(texts[j]))
        if jac >= threshold:
            out.append((i, j, round(jac, 6)))
    return sorted(set(out))


def test_pair_checks_catch_corruption(tmp: Path):
    texts, planted = gen_docs.planted(3000, 4)
    texts = dict(enumerate(texts))
    alive = set(texts)
    pairs = _true_pairs(texts, planted, 0.5)
    assert checks.pair_problems(texts, pairs, planted, alive, 0.5) == []
    assert checks.pair_problems(texts, pairs[1:], planted, alive, 0.5), "dropped pair not caught"
    i, j, jac = pairs[0]
    assert checks.pair_problems(texts, [(i, j, jac - 0.1)] + pairs[1:], planted, alive, 0.5)
    low = next((s, d) for s, d, k in planted if k == "medium"
               and gen_docs.jaccard(gen_docs.shingles(texts[s]), gen_docs.shingles(texts[d])) < 0.8)
    assert checks.pair_problems(texts, [(min(low), max(low), 0.9)], [], alive, 0.8), (
        "pair below the threshold not caught"
    )


def test_query_checks_catch_corruption(tmp: Path):
    import pandas as pd

    from kingsfoil_seed_data_ingestor_spark.plans.verify import compare_frames

    oracle = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.5, 2.0, 3.25]})
    assert compare_frames(oracle.copy(), oracle) == []
    altered = oracle.copy()
    altered.loc[1, "v"] = 2.5
    assert compare_frames(altered, oracle), "altered cell not caught"
    assert compare_frames(oracle.iloc[1:], oracle), "dropped row not caught"


def test_component_checks_catch_corruption(tmp: Path):
    pairs = [(1, 2, 1.0), (2, 5, 1.0), (7, 9, 1.0)]
    comps = {1: 1, 2: 1, 5: 1, 7: 7, 9: 7}
    assert checks.component_problems(pairs, comps) == []
    assert checks.component_problems(pairs, {**comps, 5: 2}), "relabelled node not caught"
    assert checks.component_problems(pairs, {k: v for k, v in comps.items() if k != 9})


def main() -> int:
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    failed = 0
    for name, fn in tests:
        root = HERE.parent / ".perfbench_run"
        root.mkdir(exist_ok=True)
        tmp = Path(tempfile.mkdtemp(prefix="selftest-", dir=root))
        try:
            fn(tmp)
            print(f"ok    {name}")
        except Exception:  # noqa: BLE001 — report every test, then fail the run
            failed += 1
            print(f"FAIL  {name}\n{traceback.format_exc()}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(tests) - failed}/{len(tests)} self-tests passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
