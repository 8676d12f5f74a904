"""Output checks for the batch workload: DuckDB-oracle digests.

A digest is the canonical form of a result under the repository's own
parity comparison (``tests/test_oracle_parity.py``: sorted columns,
pandas dtype kinds with the all-NULL wildcard, exact order-insensitive
values), reduced to a hash so it can be committed.

Regenerate the committed digests after changing the data generator or the
mix (from the repository root):

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "oracle_digests.json")


@functools.cache
def _parity():
    """The parity-suite module, imported (not copied) from the tests."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_parity", os.path.join(ROOT, "tests", "test_oracle_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(pdf) -> dict:
    """Digest of one result frame (pandas), comparable across engines."""
    rows = _parity()._canon(pdf)
    return {
        "columns": sorted(pdf.columns),
        "rows": len(rows),
        "kinds": _parity()._dtype_kinds(pdf),
        "sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
    }


def matches(expected: dict, actual: dict) -> bool:
    """The parity suite's acceptance rule, applied to two digests."""
    if expected["columns"] != actual["columns"] or expected["rows"] != actual["rows"]:
        return False
    for c, k in expected["kinds"].items():
        a = actual["kinds"].get(c)
        if a != k and "null" not in (a, k):
            return False
    return expected["sha256"] == actual["sha256"]


def load() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def main() -> None:
    import duckdb

    import datagen
    import mixes

    sys.path.insert(0, ROOT)
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry

    data_dir, fp = datagen.ensure(os.path.join(ROOT, ".perfbench", "data"))
    con = duckdb.connect()
    for t in sorted(os.listdir(data_dir)):
        if t.endswith(".parquet"):
            path = os.path.join(data_dir, t)
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{path}')")
    sql = registry.oracle_sql()
    out = {"data_fingerprint": fp, "sf": datagen.SF, "queries": {}}
    for name in sorted(mixes.ITERATIVE):
        out["queries"][name] = digest(con.execute(sql[name]).df())
        print(name, out["queries"][name]["rows"], file=sys.stderr)
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
