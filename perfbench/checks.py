"""Output checks: every timed call's result is verified, outside the timers.

A call's result is reduced to a fingerprint right after its timer stops.
After the timed passes the fingerprints are compared with the expected
ones:

- oracle keys: the canonical digest of the DuckDB result of
  ``registry.all_oracle_sql()[key]`` over the same parquet;
- rows-only keys: rows > 0 and one digest on every pass;
- ``zonal_polygons``: the NumPy ray cast in ``polygons.py``.

Canonical form is ``zonal_datacube_spark.compare``'s: columns sorted by
name, cells stringified (floats rounded to 9 places), rows sorted.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd


@dataclass(frozen=True)
class Digest:
    rows: int
    columns: tuple[str, ...]
    sha: str


def digest(df: pd.DataFrame) -> Digest:
    """Order-insensitive fingerprint of a result frame."""
    from zonal_datacube_spark.compare import _canon

    canon = _canon(df)
    h = hashlib.sha256()
    h.update("\x1f".join(canon.columns).encode())
    for col in canon.columns:
        h.update(b"\x1e")
        h.update("\x1f".join(canon[col]).encode())
    return Digest(len(df), tuple(canon.columns), h.hexdigest())


def digest_mismatch(got: Digest, want: Digest) -> str | None:
    if got.columns != want.columns:
        return f"columns: got {list(got.columns)} want {list(want.columns)}"
    if got.rows != want.rows:
        return f"rows: got {got.rows} want {want.rows}"
    if got.sha != want.sha:
        return "values differ from the oracle"
    return None


def rows_only_mismatch(seen: list[Digest]) -> list[str | None]:
    """Per-pass problems for a rows-only key: empty results, or a digest
    that differs from the key's first result."""
    out: list[str | None] = []
    for d in seen:
        if d.rows == 0:
            out.append("no rows")
        elif d != seen[0]:
            out.append("result changed between passes")
        else:
            out.append(None)
    return out


def oracle_digests(sf_dir: str, sql_by_key: dict[str, str]) -> dict[str, Digest]:
    """Digest of each oracle query's DuckDB result over ``sf_dir``."""
    from zonal_datacube_spark.compare import duck_connect

    con = duck_connect(sf_dir)
    try:
        return {k: digest(con.execute(sql).fetchdf()) for k, sql in sql_by_key.items()}
    finally:
        con.close()
