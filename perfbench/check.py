"""Output check: order-insensitive digests of what the program produced,
compared with the digest of what the repo's DuckDB oracles expect over the
same generated documents.

A digest is (row count, sum of per-row 64-bit BLAKE2b hashes mod 2^64).
Summing, unlike XOR, keeps duplicate rows from cancelling.
"""

from __future__ import annotations

import hashlib
from typing import Iterable

from perfbench import gen

_MASK = (1 << 64) - 1


class Digest:
    """Order-insensitive multiset digest of string rows."""

    __slots__ = ("count", "total")

    def __init__(self) -> None:
        self.count = 0
        self.total = 0

    def add(self, row: str) -> None:
        h = int.from_bytes(
            hashlib.blake2b(row.encode("utf-8"), digest_size=8).digest(),
            "little",
        )
        self.count += 1
        self.total = (self.total + h) & _MASK

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Digest)
            and (self.count, self.total) == (other.count, other.total)
        )

    def __repr__(self) -> str:
        return f"Digest(count={self.count}, total={self.total:016x})"


def page_row(url: str, page_no: int, markdown: str) -> str:
    return f"{url}\x00{int(page_no)}\x00{markdown}"


def page_digest(rows: Iterable) -> Digest:
    """Digest of (url, page_no, markdown) rows."""
    d = Digest()
    for url, page_no, markdown in rows:
        d.add(page_row(url, page_no, markdown))
    return d


def normalize_row(values: dict) -> str:
    """Column-order-free rendering of a result row, floats to 6 places —
    the comparison tools/verify_oracles.py applies to oracle results."""
    out = []
    for name in sorted(values):
        v = values[name]
        if isinstance(v, float):
            v = round(v, 6)
        out.append(f"{name}={v!r}")
    return "|".join(out)


def result_digest(rows: Iterable[dict]) -> Digest:
    d = Digest()
    for r in rows:
        d.add(normalize_row(r))
    return d


def _oracle(sql_name: str, docs):
    """Run the repo's DuckDB oracle ``sql_name`` over a documents table."""
    import duckdb

    from zerox_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        res = con.execute(ORACLE_SQL[sql_name])
        cols = [c[0] for c in res.description]
        return [dict(zip(cols, r)) for r in res.fetchall()]
    finally:
        con.close()


# extraction oracle of each documents family an extraction input is built from
_PAGE_ORACLES = {
    "taxonomy": "extract_markdown",
    **{f: sql for f, (_, sql) in gen.FORMAT_FAMILIES.items()},
}


def expected_rows(inputs: gen.Inputs) -> list[tuple[str, int, str]]:
    """The (url, page_no, markdown) rows an extraction workload must write:
    each oracle page once under every exact url (replica or family
    prefixed) the program saw its document under."""
    out = []
    for family, docs in inputs.docs.items():
        urls = inputs.urls[family]
        for r in _oracle(_PAGE_ORACLES[family], docs):
            out.extend(
                (url, r["page_no"], r["markdown"]) for url in urls[r["url"]]
            )
    return out


def expected_pages(inputs: gen.Inputs) -> Digest:
    return page_digest(expected_rows(inputs))


def expected_results(inputs: gen.Inputs) -> dict[str, Digest]:
    """Digests of the ``dedup_minhash`` and ``curation`` oracle results."""
    docs = inputs.docs["documents"]
    return {
        name: result_digest(_oracle(name, docs))
        for name in ("dedup_minhash", "curation")
    }
