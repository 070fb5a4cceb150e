"""Seeded input generators. Everything a workload feeds the engine is made
here from ``--seed`` with numpy and written as parquet, so Spark and the
DuckDB oracle read the very same bytes.

Dates are fixed and only the values depend on the seed, so every run lands
the same days of the same month (late-month days cost more in the 1d/1mo
cascades, and a run must not drift across that).
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.date(2024, 3, 1)
N_URLS = 200
OBS_PER_DAY = 48  # per url: one crawl snapshot per half hour on average
N_CLIENTS = 40  # the pages' client column


def day_str(i: int) -> str:
    return (DAY0 + dt.timedelta(days=i)).isoformat()


def urls() -> list[str]:
    return [f"https://site{i % 17}.example.org/page/{i}" for i in range(N_URLS)]


def page_day(seed: int, day: int, version: int = 0) -> pa.Table:
    """One crawl day: ``N_URLS`` x ``OBS_PER_DAY`` rows with timestamps in
    (day 00:00, day+1 00:00] (end-labelled, so every row belongs to
    ``day``). A fifth of the timestamps sit exactly on a half-hour edge,
    the case end-labelled bucketing gets wrong first. ``version`` > 0 is a
    late re-crawl of the day with different values."""
    rng = np.random.default_rng([seed, day, version])
    n = N_URLS * OBS_PER_DAY
    url_idx = np.repeat(np.arange(N_URLS), OBS_PER_DAY)
    secs = rng.integers(1, 86401, size=n)
    edge = rng.random(n) < 0.2
    secs[edge] = (rng.integers(1, 49, size=int(edge.sum())) * 1800)
    base = np.datetime64(DAY0 + dt.timedelta(days=day), "us")
    ts = base + secs.astype("timedelta64[s]").astype("timedelta64[us]")
    # four decimals: DECIMAL(20,4) partial sums hold them exactly
    value = np.round(rng.gamma(2.0, 8.0, size=n), 4)
    client = rng.integers(0, N_CLIENTS, size=n)
    u = np.array(urls(), dtype=object)
    return pa.table(
        {
            "url": pa.array(u[url_idx], pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "value": pa.array(value, pa.float64()),
            "client": pa.array([f"c{c}" for c in client], pa.string()),
        }
    )


def write_days(root: str, seed: int, days: list[tuple[int, int]]) -> dict:
    """Write each (day, version) as its own parquet file; returns
    {(day, version): path}."""
    os.makedirs(root, exist_ok=True)
    out = {}
    for day, version in days:
        path = os.path.join(root, f"day={day_str(day)}_v{version}.parquet")
        pq.write_table(page_day(seed, day, version), path)
        out[(day, version)] = path
    return out


# ------------------------------------------------------------------ curate
_SYLLABLES = [c + v for c in "bcdfgklmnprstvz" for v in "aeiou"]


def _vocabulary(n: int = 4000) -> np.ndarray:
    """Pseudo-words from a fixed generator: a vocabulary large enough that
    two unrelated documents share few character shingles."""
    rng = np.random.default_rng(0)
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, size=k)))
    return np.array(sorted(words))


_WORDS = _vocabulary()

_TEMPLATES = [
    "<html><head><title>{title}</title><style>p {{color: red}}</style></head>"
    "<body><h1>{title}</h1>{paras}</body></html>",
    "<html><body><div class=\"main\">\n  <h2>{title}</h2>\n{paras}\n</div>"
    "<script>var x = 1;</script></body></html>",
]


def _doc_blocks(rng: np.random.Generator) -> list[str]:
    title = " ".join(rng.choice(_WORDS, size=int(rng.integers(3, 7))))
    paras = []
    for _ in range(int(rng.integers(2, 5))):
        paras.append(" ".join(rng.choice(_WORDS, size=int(rng.integers(30, 60)))))
    return [title.capitalize(), *(p.capitalize() + "." for p in paras)]


def _render(blocks: list[str], template: int) -> str:
    title, *paras = blocks
    body = "".join(f"<p>{p.replace('&', '&amp;')}</p>" for p in paras)
    if template == 1:
        body = "\n".join(f"  <p>  {p}  </p>" for p in paras)
    return _TEMPLATES[template].format(title=title, paras=body)


def expected_text(blocks: list[str]) -> str:
    """What extraction must return for a rendered document: its blocks,
    whitespace-collapsed, joined by a blank line."""
    return "\n\n".join(re.sub(r"\s+", " ", b).strip() for b in blocks)


EXACT_COPIES = 2


def corpus(seed: int, n_base: int, exact_groups: int, near_pairs: int):
    """HTML corpus with planted duplicates.

    - ``n_base`` distinct documents;
    - ``exact_groups`` of them re-published ``EXACT_COPIES`` more times,
      alternating templates (different markup, same extracted text: an
      exact duplicate only after extraction);
    - ``near_pairs`` of them re-published with three words replaced (a
      near duplicate, character 3-shingle Jaccard well above 0.7).

    Returns (arrow table doc_id/html, expected text per doc_id,
    exact groups as sorted id lists, planted near pairs as (lo, hi))."""
    rng = np.random.default_rng([seed, 7])
    docs: list[tuple[list[str], int]] = []
    for _ in range(n_base):
        docs.append((_doc_blocks(rng), int(rng.integers(0, 2))))
    groups, pairs = [], []
    picks = rng.choice(n_base, size=exact_groups + near_pairs, replace=False)
    for src in picks[:exact_groups]:
        ids = [int(src)]
        for k in range(EXACT_COPIES):
            ids.append(len(docs))
            docs.append((docs[src][0], (docs[src][1] + k + 1) % 2))
        groups.append(sorted(ids))
    for src in picks[exact_groups:]:
        blocks = list(docs[src][0])
        words = blocks[1].split(" ")
        for pos in rng.choice(np.arange(1, len(words) - 1), size=3, replace=False):
            words[pos] = str(rng.choice(_WORDS)).upper()
        blocks[1] = " ".join(words)
        pairs.append((int(src), len(docs)))
        docs.append((blocks, docs[src][1]))
    order = rng.permutation(len(docs))  # planted copies are not adjacent ids
    new_id = {int(old): i for i, old in enumerate(order)}
    html = [""] * len(docs)
    text = [""] * len(docs)
    for old, (blocks, tpl) in enumerate(docs):
        html[new_id[old]] = _render(blocks, tpl)
        text[new_id[old]] = expected_text(blocks)
    groups = [sorted(new_id[i] for i in g) for g in groups]
    pairs = [tuple(sorted((new_id[a], new_id[b]))) for a, b in pairs]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(docs)), pa.int64()),
            "html": pa.array([h.encode() for h in html], pa.binary()),
        }
    )
    return table, text, groups, pairs
