"""Property-based checks (SURVEY.md §5 item 4) for the semantically
subtle operators: the sentinel × type transform matrix, date-format
priority, numeric/integer truncation, and keep-first dedup.

Strategy: hypothesis generates *batches* of values; each example runs
ONE Spark job over a single DataFrame (a job per scalar would be
minutes per test). The Spark Column expressions are compared against a
plain-Python executable spec that restates the reference semantics
(`/root/reference/app/services/transformers.py:11-140` and
`ingestor.py:468-496`) independently of the Spark implementation.
"""

from __future__ import annotations

import datetime as dt

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover - baked into the image per env spec
    pytest.skip("hypothesis not available", allow_module_level=True)

from kingsfoil_seed_data_ingestor_spark.functions import transforms as X
from kingsfoil_seed_data_ingestor_spark.operators.dedup import keep_first

# ----------------------------------------------------------------------
# plain-Python spec of the reference transform semantics
# ----------------------------------------------------------------------

_DATE_PY_FORMATS = ["%Y%m%d", "%m/%d/%Y", "%Y-%m-%d", "%Y/%m/%d", "%m-%d-%Y"]


def spec_parse_date(s):
    if s is None:
        return None
    t = s.strip()
    if t in X.DATE_SENTINELS:
        return None
    for fmt in _DATE_PY_FORMATS:
        try:
            return dt.datetime.strptime(t, fmt).date()
        except ValueError:
            continue
    return None


def spec_parse_numeric(s):
    if s is None:
        return None
    t = s.strip()
    if t in X.NUMERIC_SENTINELS:
        return None
    try:
        return float(t.replace(",", ""))
    except ValueError:
        return None


def spec_parse_integer(s):
    v = spec_parse_numeric(s)
    return None if v is None else int(v)  # int() truncates toward zero


def spec_parse_boolean(s):
    if s is None:
        return None
    t = s.strip().lower()
    if t in ("1", "true", "yes", "y", "*"):
        return True
    if t in ("0", "false", "no", "n", ""):
        return False
    return None


def spec_clean_code(s):
    # reference transformers.py:121-140: upper-case FIRST, then check
    # sentinels — so "nan"/"NaN" upper-case to "NAN" and survive (the
    # lowercase entries in the reference's list are unreachable)
    if s is None:
        return None
    cleaned = s.strip().upper()
    if cleaned in ("", "NULL", "N/A"):
        return None
    return cleaned


# ----------------------------------------------------------------------
# strategies
# ----------------------------------------------------------------------

_sentinel = st.sampled_from(X.NUMERIC_SENTINELS + X.TEXT_SENTINELS + ["  *  ", " NULL "])

_date_component = st.builds(
    lambda y, m, d, f: dt.date(y, m, d).strftime(f),
    st.integers(1990, 2030),
    st.integers(1, 12),
    st.integers(1, 28),
    st.sampled_from(_DATE_PY_FORMATS),
)

# digits/commas/dots/sign plus letters that never form float syntax
# ("e"/"inf" excluded so Python float() and Spark CAST agree on garbage)
_numericish = st.text(alphabet="0123456789.,-xz ", max_size=12)

_codeish = st.text(
    alphabet="abcdefghjkXYZ0123456789 _-", max_size=10
)

_boolish = st.one_of(
    st.sampled_from(["1", "0", "true", "FALSE", "Yes", "no", "Y", "n", "*", "", "2", "maybe"]),
    st.text(alphabet="01truefalsynTFYN* ", max_size=6),
)

_any_cell = st.one_of(st.none(), _sentinel, _date_component, _numericish, _codeish)


def _run_expr(spark, values, expr_builder):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    return [r[0] for r in df.select(expr_builder("raw")).collect()]


_SLOW = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


# ----------------------------------------------------------------------
# transform properties
# ----------------------------------------------------------------------


@_SLOW
@given(st.lists(st.one_of(_sentinel, _date_component, _codeish), min_size=1, max_size=40))
def test_parse_date_matches_spec(spark, values):
    got = _run_expr(spark, values, X.parse_date)
    assert got == [spec_parse_date(v) for v in values]


@_SLOW
@given(st.lists(st.one_of(_sentinel, _numericish), min_size=1, max_size=40))
def test_parse_numeric_matches_spec(spark, values):
    got = _run_expr(spark, values, X.parse_numeric)
    expected = [spec_parse_numeric(v) for v in values]
    for g, e in zip(got, expected):
        assert (g is None) == (e is None)
        if g is not None:
            assert g == pytest.approx(e)


@_SLOW
@given(st.lists(st.one_of(_sentinel, _numericish), min_size=1, max_size=40))
def test_parse_integer_truncates_toward_zero(spark, values):
    got = _run_expr(spark, values, X.parse_integer)
    expected = []
    for v in values:
        e = spec_parse_integer(v)
        # spec overflow outside int32 is out of contract; cap the strategy
        expected.append(e if e is None or -(2**31) <= e < 2**31 else None)
    assert got == expected


@_SLOW
@given(st.lists(_boolish, min_size=1, max_size=40))
def test_parse_boolean_matches_spec(spark, values):
    got = _run_expr(spark, values, X.parse_boolean)
    assert got == [spec_parse_boolean(v) for v in values]


@_SLOW
@given(st.lists(st.one_of(_sentinel, _codeish), min_size=1, max_size=40))
def test_clean_code_matches_spec(spark, values):
    got = _run_expr(spark, values, X.clean_code)
    assert got == [spec_clean_code(v) for v in values]


@_SLOW
@given(st.lists(_any_cell, min_size=1, max_size=30))
def test_transforms_are_total(spark, values):
    """Every transform is a TOTAL function: arbitrary cells never raise
    (ANSI mode is ON in the session) — they null out instead."""
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    out = df.select(
        X.parse_date("raw").alias("d"),
        X.parse_numeric("raw").alias("n"),
        X.parse_integer("raw").alias("i"),
        X.parse_boolean("raw").alias("b"),
        X.clean_code("raw").alias("c"),
        X.parse_mue_value("raw").alias("m"),
        X.parse_deletion_date("raw").alias("dd"),
        X.parse_modifier_indicator("raw").alias("mi"),
    ).collect()
    assert len(out) == len(values)


# ----------------------------------------------------------------------
# keep-first dedup properties
# ----------------------------------------------------------------------

_row = st.tuples(
    st.one_of(st.none(), st.integers(0, 5)),  # key1 (small domain → collisions)
    st.one_of(st.none(), st.integers(0, 3)),  # key2
    st.integers(0, 10**6),  # payload
)


@_SLOW
@given(st.lists(_row, min_size=1, max_size=60))
def test_keep_first_properties(spark, rows):
    data = [(k1, k2, p, i) for i, (k1, k2, p) in enumerate(rows)]
    df = spark.createDataFrame(data, "k1 int, k2 int, payload long, row_idx long")
    kept, dups = keep_first(df, ["k1", "k2"], "row_idx")
    kept_rows = {r.row_idx: r for r in kept.collect()}
    dup_rows = {r.row_idx: r for r in dups.collect()}

    # partition: every input row lands in exactly one side
    assert set(kept_rows) | set(dup_rows) == set(range(len(rows)))
    assert not (set(kept_rows) & set(dup_rows))

    seen: set[tuple] = set()
    for i, (k1, k2, _p) in enumerate(rows):
        if k1 is None or k2 is None:
            assert i in kept_rows  # null-key rows always exempt
        elif (k1, k2) in seen:
            assert i in dup_rows  # later occurrence dropped
        else:
            assert i in kept_rows  # first occurrence kept
            seen.add((k1, k2))


# ----------------------------------------------------------------------
# connected components vs a plain union-find spec
# ----------------------------------------------------------------------


def spec_components(edges: "list[tuple[int, int]]") -> "dict[int, int]":
    """Reference union-find: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


_edge = st.tuples(
    st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)
).filter(lambda e: e[0] != e[1])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_edge, min_size=1, max_size=40))
def test_connected_components_matches_union_find(spark, edges):
    from kingsfoil_seed_data_ingestor_spark.operators.components import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "i long, j long")
    got = {r.doc_id: r.component_id for r in connected_components(df).collect()}
    assert got == spec_components(edges)


# ----------------------------------------------------------------------
# hashed-shingle Jaccard ≡ string-shingle Jaccard (plain-Python spec)
# ----------------------------------------------------------------------

_word = st.text(alphabet="abcde", min_size=1, max_size=3)
_doc_text = st.lists(_word, min_size=0, max_size=12).map(" ".join)


def spec_jaccard_pairs(texts: list[str], n: int = 3) -> dict:
    """Executable spec: string n-gram shingle sets, exact Jaccard for
    every pair sharing at least one shingle."""
    sets = []
    for t in texts:
        toks = t.split()
        sets.append(
            {" ".join(toks[k : k + n]) for k in range(len(toks) - n + 1)}
        )
    out = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = sets[i] & sets[j]
            if inter:
                out[(i, j)] = round(
                    len(inter) / len(sets[i] | sets[j]), 6
                )
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_doc_text, min_size=2, max_size=8))
def test_hashed_shingle_jaccard_matches_string_spec(spark, texts):
    # pins the hash-invariance claim of shingle_hash_table: Jaccard over
    # 64-bit shingle hashes equals Jaccard over the shingle strings
    from kingsfoil_seed_data_ingestor_spark.operators.text_dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.i, r.j): r.jaccard for r in jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert got == spec_jaccard_pairs(texts)


# ----------------------------------------------------------------------
# streaming dedup fold: batch-boundary and order invariance
# ----------------------------------------------------------------------

_fp = st.sampled_from(["a", "b", "c"])
_doc_row = st.tuples(st.integers(min_value=0, max_value=999), _fp)


class _FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists, self._v = True, v


@settings(max_examples=50, deadline=None)
@given(
    st.lists(_doc_row, min_size=1, max_size=30),
    st.randoms(use_true_random=False),
)
def test_streaming_dedup_fold_is_order_and_batch_invariant(rows, rnd):
    # the applyInPandasWithState fold must equal batch exact dedup no
    # matter how rows split into micro-batches or in what order
    import pandas as pd

    from kingsfoil_seed_data_ingestor_spark.streaming.dedup import _fold_dedup

    def run(order: list[tuple[int, str]], cuts: list[int]) -> dict:
        state_by_fp: dict[str, _FakeState] = {}
        final = {}
        bounds = sorted({0, len(order), *cuts})
        for lo, hi in zip(bounds, bounds[1:]):
            batch = order[lo:hi]
            for fp in {f for _, f in batch}:
                ids = [d for d, f in batch if f == fp]
                st_ = state_by_fp.setdefault(fp, _FakeState())
                (out,) = _fold_dedup(
                    (fp,), iter([pd.DataFrame({"doc_id": ids})]), st_
                )
                final[fp] = (out["keeper_id"][0], out["n_copies"][0])
        return final

    shuffled = rows[:]
    rnd.shuffle(shuffled)
    cuts_a = [rnd.randrange(len(rows) + 1) for _ in range(2)]
    cuts_b = [rnd.randrange(len(rows) + 1) for _ in range(3)]
    want = {
        fp: (min(d for d, f in rows if f == fp), sum(1 for _, f in rows if f == fp))
        for fp in {f for _, f in rows}
    }
    assert run(rows, cuts_a) == want
    assert run(shuffled, cuts_b) == want


# ----------------------------------------------------------------------
# span dedup: Spark plan vs a plain-Python spec
# ----------------------------------------------------------------------


def spec_span_dedup(texts, span=8):
    """First-occurrence span dedup computed the obvious way."""
    seen = set()
    out = {}
    for doc_id, text in enumerate(texts):
        toks = text.split()
        chunks = [toks[i : i + span] for i in range(0, len(toks), span)]
        n_dup = kept = 0
        for ch in chunks:
            key = " ".join(ch)
            if key in seen:
                n_dup += 1
            else:
                seen.add(key)
                kept += len(ch)
        if chunks:
            out[doc_id] = (len(chunks), n_dup, kept)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.lists(_word, min_size=0, max_size=20).map(" ".join), min_size=1, max_size=8))
def test_dedup_spans_matches_python_spec(spark, tmp_path_factory, texts):
    from kingsfoil_seed_data_ingestor_spark.plans.corpus import dedup_spans

    tmp = tmp_path_factory.mktemp("spanprop")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.kept_tokens)
        for r in dedup_spans(spark, str(tmp)).collect()
    }
    assert got == spec_span_dedup(texts)
