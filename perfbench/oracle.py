"""Independent answers from DuckDB over the benchmark's own input files.

Every expected row is computed here from the raw parquet the workload
generated, never from anything the engine wrote. Doubles are compared after
the registry's quantisation ``floor(x * 10^n + 0.5) / 10^n``, which gives
the same result in every engine for the same double; exact decimal sums and
counts are compared as they are.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal
from typing import Iterable

import duckdb
import pyarrow as pa

SEC_30M = 1800


def q(x: float | None, scale: int) -> float | None:
    if x is None:
        return None
    s = float(10**scale)
    return math.floor(x * s + 0.5) / s


def bucket_sql(col: str, seconds: int) -> str:
    """End-labelled bucket: the smallest multiple of ``seconds`` at or after
    the timestamp, in exact integer microseconds."""
    b = seconds * 1_000_000
    return f"make_timestamp(((epoch_us({col}) + {b - 1}) // {b}) * {b})"


MONTH_SQL = (
    "CAST(date_trunc('month', warc_ts - INTERVAL 1 SECOND) + INTERVAL 1 MONTH"
    " AS TIMESTAMP)"
)


class Oracle:
    """DuckDB over a list of raw page files (the latest version of every
    landed day)."""

    def __init__(self, files: Iterable[str] = ()):
        self.con = duckdb.connect()
        listing = ", ".join(f"'{f}'" for f in files)
        if listing:
            self.con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet([{listing}])")

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    @staticmethod
    def _where(series: list[str] | None, start: dt.datetime | None,
               end: dt.datetime | None) -> str:
        conds = ["TRUE"]
        if series is not None:
            conds.append("url IN (" + ", ".join(f"'{s}'" for s in series) + ")")
        if start is not None:
            conds.append(f"warc_ts > TIMESTAMP '{start}'")
        if end is not None:
            conds.append(f"warc_ts <= TIMESTAMP '{end}'")
        return " AND ".join(conds)

    def tier(self, seconds: int | None, series=None, start=None, end=None) -> list[tuple]:
        """Aggregate tier rows at ``seconds`` (None: calendar month)."""
        label = MONTH_SQL if seconds is None else bucket_sql("warc_ts", seconds)
        rows = self._rows(f"""
            SELECT url, {label},
                   CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value),
                   min(value), max(value),
                   sum(CAST(value AS DECIMAL(20,4))), count(value)
            FROM raw WHERE {self._where(series, start, end)} GROUP BY 1, 2""")
        return sorted(agg_row(r) for r in rows)

    def avg_30m(self, series=None, start=None, end=None) -> list[tuple]:
        rows = self._rows(f"""
            SELECT url, {bucket_sql("warc_ts", SEC_30M)},
                   CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)
            FROM raw WHERE {self._where(series, start, end)} GROUP BY 1, 2""")
        return sorted((s, b, q(v, 4)) for s, b, v in rows)

    def exact_groups(self, texts: list[str]) -> list[tuple[int, int]]:
        """(lowest doc id, size) of every group of identical texts."""
        docs = pa.table({"doc_id": list(range(len(texts))), "text": texts})
        self.con.register("docs", docs)
        return sorted(
            (int(k), int(n))
            for k, n in self._rows(
                "SELECT min(doc_id), count(*) FROM docs GROUP BY text HAVING count(*) > 1"
            )
        )


def agg_row(r: tuple) -> tuple:
    """(series, bucket_ts, avg, min, max, sum, count), doubles quantised."""
    s, b, avg, mn, mx, sm, cnt = r
    return (s, b, q(avg, 4), q(mn, 4), q(mx, 4), Decimal(sm), int(cnt))


def diff(got: list[tuple], want: list[tuple], limit: int = 3) -> list[str]:
    """Human-readable multiset difference; empty when equal."""
    got_s, want_s = sorted(got), sorted(want)
    if got_s == want_s:
        return []
    gs, ws = set(got_s), set(want_s)
    out = [f"rows: got {len(got_s)}, want {len(want_s)}"]
    out += [f"unexpected {r}" for r in sorted(gs - ws)[:limit]]
    out += [f"missing {r}" for r in sorted(ws - gs)[:limit]]
    return out


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    """Exact Jaccard of the byte n-gram sets, the similarity MinHash
    estimates."""
    def grams(t: str) -> set[bytes]:
        raw = t.encode()
        return {raw[i:i + n] for i in range(max(1, len(raw) - n + 1))}

    x, y = grams(a), grams(b)
    return len(x & y) / len(x | y) if x | y else 1.0
