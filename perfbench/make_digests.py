#!/usr/bin/env python3
"""Regenerate digests.json: the expected result digest of every benchmark
query, computed by the DuckDB oracle over the generated dataset.

    python3 perfbench/make_digests.py

The oracle takes minutes on the dedup keys where the engine takes seconds,
which is why runs compare against these stored digests instead of running
it. Digests are keyed by the dataset fingerprint, so a change to the
generator invalidates them visibly rather than silently.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import datagen  # noqa: E402
from measure import result_digest  # noqa: E402
from queries import WORKLOAD_KEYS  # noqa: E402


def main() -> int:
    from lambdatotheslaughter_spark import registry
    from lambdatotheslaughter_spark.tables import TABLE_NAMES

    os.makedirs(os.path.join(HERE, ".scratch"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(HERE, ".scratch"))
    try:
        fingerprint = datagen.write_dataset(work)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(work, t + '.parquet')}')")
        oracles = registry.all_oracles()
        digests = {}
        for key in sorted({k for keys in WORKLOAD_KEYS.values() for k in keys}):
            t = time.perf_counter()
            digests[key] = result_digest(con.execute(oracles[key]).df())
            print(f"{key} {time.perf_counter() - t:.1f}s", flush=True)
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump({fingerprint: digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
