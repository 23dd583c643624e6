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
from operator import and_

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


def empty_row_predicate(raw_cols: list[str], threshold: float = EMPTY_ROW_THRESHOLD) -> Column:
    """TRUE when ≥ ``threshold`` of the row's cells are empty-ish.

    Columnar restatement of reference ``is_empty_row`` — a sum of
    boolean flags over the positional columns, no Python per row.
    """
    flags = [
        F.when(F.trim(F.col(c)).isin(*EMPTYISH) | F.col(c).isNull(), 1).otherwise(0)
        for c in raw_cols
    ]
    empty_count = reduce(lambda a, b: a + b, flags)
    return empty_count >= F.lit(threshold) * F.lit(len(raw_cols))


def _column_expr(source: Source, internal_name: str, raw: Column) -> Column:
    """Typed expression for one canonical column — the dispatch mirror
    of reference ``transform_record`` (``ingestor.py:306-355``)."""
    if source.source_code.startswith("NCCI_MUE") and internal_name == "mue_value":
        return X.parse_mue_value(raw)
    if source.source_code == "NCCI_PTP":
        if internal_name == "deletion_date":
            return X.parse_deletion_date(raw)
        if internal_name == "modifier_indicator":
            return X.parse_modifier_indicator(raw)
        if internal_name == "prior_1996_flag":
            return X.parse_prior_1996_flag(raw)
    if internal_name.endswith("_code"):
        return X.clean_code(raw)
    return X.transform_value(raw, source.column(internal_name).data_type)


def typed_projection(source: Source, column_index: dict[str, int]) -> list[Column]:
    """The SELECT list: one typed, aliased expression per canonical column.

    Derived columns handled the way the reference does cross-column
    derivation (``ingestor.py:326-333``) plus the documented
    ``mac_locality`` rule (reference ``SCHEMA.md:95``):

    * NCCI_MUE ``mai_id`` ⇐ leading digits of the mapped
      ``mai_description`` cell;
    * PFS_LOCALITY ``mac_locality`` ⇐ ``carrier_number‖locality_code``
      when the file didn't carry it directly.

    Unmapped optional columns materialize as typed NULLs so every
    ingest of a source lands the full target schema.
    """
    exprs: list[Column] = []
    for c in source.columns:
        name = c.internal_name
        if source.source_code.startswith("NCCI_MUE") and name == "mai_id":
            desc_idx = column_index.get("mai_description")
            expr = (
                X.parse_mai_id(F.col(f"_c{desc_idx}"))
                if desc_idx is not None
                else F.lit(None).cast("int")
            )
        elif (
            source.source_code == "PFS_LOCALITY"
            and name == "mac_locality"
            and name not in column_index
            and {"carrier_number", "locality_code"} <= set(column_index)
        ):
            expr = X.mac_locality(
                X.clean_code(F.col(f"_c{column_index['carrier_number']}")),
                X.clean_code(F.col(f"_c{column_index['locality_code']}")),
            )
        elif name in column_index:
            expr = _column_expr(source, name, F.col(f"_c{column_index[name]}"))
        else:
            expr = F.lit(None).cast(c.spark_type)
        exprs.append(expr.alias(name))
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
    typed_region = raw.filter(F.col("row_idx") > detection.header_row_index).select(
        (F.col("row_idx") + 1).alias(ROW_NUMBER),  # 1-indexed file position
        empty_row_predicate(raw_cols).alias(_EMPTY),
        *typed_projection(source, detection.column_index),
    )

    keys = list(source.unique_keys)
    key_ok = reduce(and_, [F.col(k).isNotNull() for k in keys])
    is_valid = ~F.col(_EMPTY) & key_ok
    is_quarantined = ~F.col(_EMPTY) & ~key_ok

    def count_if(cond: Column, name: str) -> Column:
        return F.count(F.when(cond, 1)).alias(name)

    tag = uuid.uuid4().hex  # one session may run concurrent ingests
    region_counts = Observation(f"ingest-region-{tag}")
    kept_count = Observation(f"ingest-kept-{tag}")
    observed = typed_region.observe(
        region_counts,
        count_if(is_valid, "__processed"),
        count_if(is_quarantined, "__quarantined"),
        count_if(F.col(_EMPTY), "__skipped"),
        *[count_if(is_valid & F.col(c.internal_name).isNull(), c.internal_name)
          for c in source.columns],
    )
    kept, _ = split_first(observed.filter(is_valid).drop(_EMPTY), keys, ROW_NUMBER)
    records = kept.observe(kept_count, F.count(F.lit(1)).alias("__inserted"))

    valid = typed_region.filter(is_valid).drop(_EMPTY)
    _, dups = split_first(valid, keys, ROW_NUMBER)
    quarantine = (
        typed_region.filter(is_quarantined)
        .drop(_EMPTY)
        .withColumn(
            "error",
            F.concat(
                F.lit("Row "),
                F.col(ROW_NUMBER).cast("string"),
                F.lit(": Missing required key column"),
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
