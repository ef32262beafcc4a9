"""Manifest-commit latency vs catalog size (VERDICT r10 #7).

The partition catalog is one parquet file per view, wholly rewritten per
commit (now CAS-claimed per generation, batch.py _commit_manifest). At
fleet scale (10^6 partitions in one view) every materialize tick pays a
full read + rewrite of that file; this script measures that cost at
10^4 / 10^5 / 10^6 synthetic entries so SCALE.md carries a measured
watchpoint instead of a guess. If the rewrite dominates the tick at the
catalog sizes a deployment actually reaches, the documented next step is
a segment-log + periodic compaction (the Delta checkpoint shape) behind
the same _commit_delta API — the commit appends a delta file and readers
fold deltas into the last checkpoint.

Every row carries a realistic ``schema_json`` (a thread-spans-like Spark
schema, ~1 KB): the catalog records each partition's schema, and reads it
dictionary-encoded, so its cost shows in the size and read columns.

Usage: python scripts/measure_manifest_scale.py [--out SCALE_ROW.json]
No Spark session needed — the catalog layer is pure pyarrow.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from micromegas_spark.materialize.batch import Lakehouse, Partition, _head  # noqa: E402

# the recorded Spark schema of a thread-spans partition
SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in [
                ("stream_id", "string"), ("id", "long"), ("parent", "long"),
                ("depth", "integer"), ("hash", "long"), ("begin_ns", "long"),
                ("end_ns", "long"), ("duration", "long"), ("name", "string"),
                ("target", "string"), ("filename", "string"), ("line", "integer"),
            ]
        ],
    }
)


def measure(n: int) -> dict:
    wh = tempfile.mkdtemp(prefix=f"manifest_scale_{n}_")
    try:
        lake = Lakehouse(None, wh)
        parts = [
            Partition(
                begin_insert_ns=i * 1000,
                end_insert_ns=(i + 1) * 1000,
                source_hash=i,
                min_event_ns=i * 1000,
                max_event_ns=(i + 1) * 1000,
                path=f"{wh}/v/{i * 1000}_{(i + 1) * 1000}_deadbeef",
                schema_hash="0123456789abcdef",
                column_stats={"process_id": ["p-000", "p-999"], "count": [1, 9999]},
                schema_json=SCHEMA_JSON,
            )
            for i in range(n)
        ]
        t0 = time.time()
        lake._save_manifest("v", parts)
        t_full_write = time.time() - t0

        # steady state: ONE bucket committed on top of an n-entry catalog
        # (read + delta-apply + full rewrite + claim) — the per-tick cost
        add = Partition(
            begin_insert_ns=n * 1000,
            end_insert_ns=(n + 1) * 1000,
            source_hash=n,
            min_event_ns=n * 1000,
            max_event_ns=(n + 1) * 1000,
            path=f"{wh}/v/{n * 1000}_x",
            schema_hash="0123456789abcdef",
            column_stats={},
            schema_json=SCHEMA_JSON,
        )
        t0 = time.time()
        lake._commit_delta("v", add=[add])
        t_commit = time.time() - t0

        t0 = time.time()
        got = lake.list_partitions("v")
        t_read = time.time() - t0
        assert len(got) == n + 1

        # the query path: Arrow-vectorized pruning to a bounded range
        # (survivors become the only Python objects built)
        t0 = time.time()
        pruned = lake._pruned_partitions("v", None, 0, 200 * 1000)
        t_pruned = time.time() - t0
        assert len(pruned) == 200

        fname = _head(lake._manifest_candidates("v"))[1]
        size = os.path.getsize(
            lake.fs.fs_path(lake.fs.url("_partitions", fname))
        )
        return {
            "n_partitions": n,
            "full_write_sec": round(t_full_write, 3),
            "incremental_commit_sec": round(t_commit, 3),
            "read_sec": round(t_read, 3),
            "pruned_read_sec": round(t_pruned, 3),
            "manifest_bytes": size,
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="10000,100000,1000000")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    rows = []
    for n in (int(s) for s in args.sizes.split(",")):
        row = measure(n)
        rows.append(row)
        print(json.dumps(row), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rows, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
