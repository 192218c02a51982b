"""Order-insensitive digests of a job's sink, for output-identity checks.

Prints one JSON line: a sha256 over every row of ``extracted`` (all
columns but ``elapsed_ms``, which is wall time), one over every row of
``lineage`` (without ``job_id`` and ``elapsed_ms``), the row counts, and a
sha256 of the last snapshot manifest without ``ts`` and ``job_id`` (its
snapshot id and summary, rendered as committed). Two runs of
``zerox_spark/job.py`` over the same input wrote the same output iff the
digests match, whatever task layout or row order each run had. The oracle queries cannot show this for the job: they extract through
the fused ``render`` path, not ``salted_repartition``.

Usage: python tools/job_digest.py SINK_DIR
"""

from __future__ import annotations

import glob
import hashlib
import json
import sys

import duckdb


def table_digest(glob: str, exclude: list[str]) -> tuple[str, int]:
    rel = duckdb.sql(
        f"SELECT * EXCLUDE ({', '.join(exclude)}) "
        f"FROM read_parquet('{glob}', hive_partitioning = true)"
    )
    cols = sorted(rel.columns)
    rows = sorted(repr(r) for r in rel.select(*cols).fetchall())
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def manifest_digest(sink_dir: str) -> str | None:
    snaps = sorted(glob.glob(f"{sink_dir}/_snapshots/snap-*.json"))
    if not snaps:
        return None
    with open(snaps[-1], encoding="utf-8") as fh:
        meta = json.load(fh)
    for key in ("ts", "job_id"):
        meta.pop(key, None)
    return hashlib.sha256(
        json.dumps(meta, sort_keys=True).encode()
    ).hexdigest()


def main(sink_dir: str) -> None:
    ex, n_ex = table_digest(f"{sink_dir}/extracted/*/*.parquet", ["elapsed_ms"])
    lin, n_lin = table_digest(
        f"{sink_dir}/lineage/*.parquet", ["job_id", "elapsed_ms"]
    )
    print(json.dumps({
        "extracted": ex, "extracted_rows": n_ex,
        "lineage": lin, "lineage_rows": n_lin,
        "manifest": manifest_digest(sink_dir),
    }))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
