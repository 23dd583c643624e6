"""Local stand-in for the driver's correctness gate.

Runs every registered query's Spark plan AND its DuckDB oracle at the
given scale factor, canonicalizes both results (columns sorted by name,
rows sorted), and reports row-count / schema / exact-value matches.
Catches oracle drift before the driver does. The comparison core lives
in ``plans/verify.py`` and is shared with tests/test_oracle_parity.py,
which pins the same parity in pytest at sf0.001.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from kingsfoil_seed_data_ingestor_spark.plans.verify import (  # noqa: E402
    compare_frames,
    duck_connection,
)
from kingsfoil_seed_data_ingestor_spark.session import (  # noqa: E402
    get_spark,
    pin_comparable_conf,
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="correctness-check")
    pin_comparable_conf(spark)
    con = duck_connection(sf_dir)

    qs, oracles = queries(), oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: oracle raised {type(e).__name__}: {e}")
            continue

        problems = compare_frames(sdf, odf)
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows")

    print(f"\n{checked - len(failures)}/{checked} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
