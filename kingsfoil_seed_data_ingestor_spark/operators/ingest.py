"""The typed ingest pipeline as one declarative Spark plan.

The reference processes uploads row-at-a-time in Python
(``app/services/ingestor.py:504-648``: per-row ``transform_record`` +
try/except + dict accumulation). Here the same semantics compile into a
single columnar plan that Catalyst whole-stage-codegens:

    raw grid (row_idx) → slice rows after header → one SELECT of typed
    column expressions + the ≥80 %-empty flag → validity split
    (quarantine) → keep-first dedup

The counters ride on that plan as two Observations, so the one action
that writes ``records`` also computes every count and null stat, and
the keep-first shuffle runs once per upload.

Every transform expression is total (unparsable → NULL, never throws),
so the reference's per-row try/except has nothing left to catch — the
row-level error channel is the quarantine split (SURVEY.md §7.4 risk 1).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from functools import reduce

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.functions import transforms as X
from kingsfoil_seed_data_ingestor_spark.operators.dedup import split_first
from kingsfoil_seed_data_ingestor_spark.registry import Source
from kingsfoil_seed_data_ingestor_spark.sources.headers import HeaderDetection

#: share of empty-ish cells at which a row is metadata/blank
#: (reference ``ingestor.py:291-303``)
EMPTY_ROW_THRESHOLD = 0.8
#: cell values that count as empty-ish in the raw grid (the reference
#: str()s pandas cells, so NaN/None render as "nan"/"None")
EMPTYISH = ("", "nan", "NaN", "None")

ROW_NUMBER = "row_number"  # 1-indexed original file position
_EMPTY = "__empty"


def empty_row_predicate(raw_cols: list[str], threshold: float = EMPTY_ROW_THRESHOLD) -> str:
    """SQL text, TRUE when ≥ ``threshold`` of the row's cells are empty-ish.

    Columnar restatement of reference ``is_empty_row`` — a sum of
    boolean flags over the positional columns, no Python per row. One
    parsed string: as a Column chain it cost about 100 py4j round trips
    per column.
    """
    flags = " + ".join(
        f"CASE WHEN {X.sql_in(f'trim({q})', EMPTYISH)} OR {q} IS NULL THEN 1 ELSE 0 END"
        for q in map(X.sql_ident, raw_cols)
    )
    return f"{flags} >= {threshold!r}D * {len(raw_cols)}"


def _column_expr(source: Source, internal_name: str, raw: str) -> str:
    """Typed SQL text for one canonical column read from the raw column
    ``raw`` — the dispatch mirror of reference ``transform_record``
    (``ingestor.py:306-355``)."""
    if source.source_code.startswith("NCCI_MUE") and internal_name == "mue_value":
        return X.parse_mue_value.sql(raw)
    if source.source_code == "NCCI_PTP":
        if internal_name == "deletion_date":
            return X.parse_deletion_date.sql(raw)
        if internal_name == "modifier_indicator":
            return X.parse_modifier_indicator.sql(raw)
        if internal_name == "prior_1996_flag":
            return X.parse_prior_1996_flag.sql(raw)
    if internal_name.endswith("_code"):
        return X.clean_code.sql(raw)
    return X.transform_value.sql(raw, source.column(internal_name).data_type)


def typed_projection(source: Source, column_index: dict[str, int]) -> list[str]:
    """The SELECT list, as ``selectExpr`` text: one typed, aliased
    expression per canonical column.

    Derived columns handled the way the reference does cross-column
    derivation (``ingestor.py:326-333``) plus the documented
    ``mac_locality`` rule (reference ``SCHEMA.md:95``):

    * NCCI_MUE ``mai_id`` ⇐ leading digits of the mapped
      ``mai_description`` cell;
    * PFS_LOCALITY ``mac_locality`` ⇐ ``carrier_number‖locality_code``
      (``transforms.mac_locality``) when the file didn't carry it
      directly.

    Unmapped optional columns materialize as typed NULLs so every
    ingest of a source lands the full target schema.
    """
    exprs: list[str] = []
    for c in source.columns:
        name = c.internal_name
        if source.source_code.startswith("NCCI_MUE") and name == "mai_id":
            desc_idx = column_index.get("mai_description")
            expr = (
                X.parse_mai_id.sql(f"_c{desc_idx}")
                if desc_idx is not None
                else "CAST(NULL AS INT)"
            )
        elif (
            source.source_code == "PFS_LOCALITY"
            and name == "mac_locality"
            and name not in column_index
            and {"carrier_number", "locality_code"} <= set(column_index)
        ):
            carrier, locality = (
                X.clean_code.sql(f"_c{column_index[k]}")
                for k in ("carrier_number", "locality_code")
            )
            expr = f"concat({carrier}, {locality})"
        elif name in column_index:
            expr = _column_expr(source, name, f"_c{column_index[name]}")
        else:
            expr = f"CAST(NULL AS {c.spark_type.simpleString()})"
        exprs.append(f"{expr} AS {X.sql_ident(name)}")
    return exprs


@dataclass
class IngestPlan:
    """The split outputs of one ingest, all lazy DataFrames.

    ``records`` is observed: the first action that reads it whole (in
    ``ingest_file``, the staging write) also counts every row's
    disposition and the per-column nulls. ``quarantine``, ``duplicates``
    and the sample head derive from an unobserved copy of the same plan,
    so actions on them never fill the counters with partial counts.
    """

    #: valid, deduplicated, typed records (what gets written); its first
    #: action fills the counters, so it must read every row (a write or
    #: a collect, never a ``first``/``take``)
    records: DataFrame
    #: rows failing key validation, with row_number + error message
    quarantine: DataFrame
    #: duplicate rows dropped by keep-first dedup
    duplicates: DataFrame
    _source: Source = field(repr=False)
    #: every valid row, first and later occurrences (the sample-head input)
    _valid: DataFrame = field(repr=False)
    #: processed / quarantined / skipped counts + per-column valid-row nulls
    _region_counts: Observation = field(repr=False)
    #: the inserted count, observed on the kept rows
    _kept_count: Observation = field(repr=False)

    def _counted(self) -> bool:
        """Whether an action on ``records`` has filled the counters.

        Observations are filled by a query-execution listener, so an
        action that has already returned may not show yet: drain the
        listener bus before answering.
        """
        done = self._kept_count._jo.future()
        if not done.isCompleted():
            try:
                self.records.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            except Py4JJavaError:  # bus still busy: a second pass is merely redundant
                pass
        return done.isCompleted()

    def stats(self, sample_rows: int = 100) -> dict:
        """Materialize the reference's result dict
        (``ingestor.py:617-648``): counts, null stats, samples.

        Every counter and null stat comes from the Observations the
        first action on ``records`` filled; when none has run yet, one
        pass of ``records`` through Spark's ``noop`` sink fills them.
        ``duplicates_skipped`` is ``processed - inserted``. The bounded
        head for sample values — a UI nicety in the reference, first 3
        values per column — is the only job of its own: a ``limit`` of
        ``sample_rows`` valid rows, sorted by file position on the
        driver. The valid rows have no exchange above the scan, so the
        collect reads partitions in file order (the invariant
        ``row_idx`` rests on) and stops as soon as it holds the head,
        instead of typing every row for a global top-N.
        """
        if not self._counted():
            self.records.write.format("noop").mode("overwrite").save()
        counts = self._region_counts.get
        inserted = self._kept_count.get["__inserted"]
        records_processed = counts["__processed"]

        cols = [c.internal_name for c in self._source.columns]
        head = sorted(
            self._valid.limit(sample_rows).collect(), key=lambda r: r[ROW_NUMBER]
        )
        column_stats = {}
        for c in cols:
            samples = [str(r[c])[:50] for r in head if r[c] is not None][:3]
            nulls = counts[c]
            column_stats[c] = {
                "null_count": nulls,
                "sample_values": samples,
                "null_percentage": (
                    round(100 * nulls / records_processed, 2) if records_processed else 0.0
                ),
            }
        return {
            "success": inserted > 0,
            "records_processed": records_processed,
            "records_inserted": inserted,
            "duplicates_skipped": records_processed - inserted,
            "records_quarantined": counts["__quarantined"],
            "rows_skipped": counts["__skipped"],
            "column_stats": column_stats,
        }


def build_ingest_plan(
    raw: DataFrame, source: Source, detection: HeaderDetection
) -> IngestPlan:
    """Compile the full ingest into lazy DataFrames.

    ``raw`` is the all-string grid with ``row_idx`` (sources layer);
    ``detection`` the resolved header. Mirrors the driver flow of
    reference ``ingest_data`` (``ingestor.py:504-615``) as one plan.

    The typed projection and the empty-row flag are built once, as
    ``typed_region``. The keep-first window runs over valid rows only:
    every key is non-null there, so ``keep_first``'s null-key branch
    would be empty and is left out. No union sits above the observed
    node, so each action executes it exactly once.
    """
    raw_cols = [c for c in raw.columns if c.startswith("_c")]
    typed_region = raw.filter(f"row_idx > {detection.header_row_index}").selectExpr(
        f"row_idx + 1 AS {ROW_NUMBER}",  # 1-indexed file position
        f"{empty_row_predicate(raw_cols)} AS {_EMPTY}",
        *typed_projection(source, detection.column_index),
    )

    keys = list(source.unique_keys)
    # parenthesized left-deep, as a Column ``&`` chain builds it: the
    # parser would balance a bare AND chain of four or more keys
    key_ok = reduce(
        lambda a, b: f"({a} AND {b})", [f"{X.sql_ident(k)} IS NOT NULL" for k in keys]
    )
    is_valid = f"NOT {_EMPTY} AND ({key_ok})"
    is_quarantined = f"NOT {_EMPTY} AND NOT ({key_ok})"

    def count_if(cond: str, name: str) -> Column:
        return F.expr(f"count(CASE WHEN {cond} THEN 1 END) AS {X.sql_ident(name)}")

    tag = uuid.uuid4().hex  # one session may run concurrent ingests
    region_counts = Observation(f"ingest-region-{tag}")
    kept_count = Observation(f"ingest-kept-{tag}")
    observed = typed_region.observe(
        region_counts,
        count_if(is_valid, "__processed"),
        count_if(is_quarantined, "__quarantined"),
        count_if(_EMPTY, "__skipped"),
        *[count_if(f"{is_valid} AND {X.sql_ident(c.internal_name)} IS NULL", c.internal_name)
          for c in source.columns],
    )
    kept, _ = split_first(observed.filter(is_valid).drop(_EMPTY), keys, ROW_NUMBER)
    records = kept.observe(kept_count, F.expr("count(1) AS __inserted"))

    valid = typed_region.filter(is_valid).drop(_EMPTY)
    _, dups = split_first(valid, keys, ROW_NUMBER)
    quarantine = (
        typed_region.filter(is_quarantined)
        .drop(_EMPTY)
        .withColumn(
            "error",
            F.expr(
                f"concat('Row ', CAST({ROW_NUMBER} AS STRING), ': Missing required key column')"
            ),
        )
    )
    return IngestPlan(
        records=records,
        quarantine=quarantine,
        duplicates=dups,
        _source=source,
        _valid=valid,
        _region_counts=region_counts,
        _kept_count=kept_count,
    )
