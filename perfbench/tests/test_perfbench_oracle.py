import datetime as dt
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from oracle import Oracle, agg_row, diff
from workloads import Curate, CurateResult


def _raw(tmp_path):
    t = dt.datetime(2024, 3, 1)
    rows = {
        "url": ["a", "a", "a", "b"],
        # 00:30 sits exactly on an edge: it closes the first 30m bucket
        "warc_ts": [t + dt.timedelta(minutes=m) for m in (10, 30, 31, 5)],
        "value": [1.0, 2.5, 4.0, 3.0],
        "client": ["x", "y", "x", "x"],
    }
    path = str(tmp_path / "raw.parquet")
    pq.write_table(pa.table(rows).cast(pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("value", pa.float64()), ("client", pa.string())])), path)
    return path


def test_oracle_tier_and_a_planted_wrong_answer(tmp_path):
    orc = Oracle([_raw(tmp_path)])
    try:
        want = orc.tier(1800, ["a"])
        b1, b2 = dt.datetime(2024, 3, 1, 0, 30), dt.datetime(2024, 3, 1, 1, 0)
        assert want == [
            ("a", b1, 1.75, 1.0, 2.5, Decimal("3.5"), 2),
            ("a", b2, 4.0, 4.0, 4.0, Decimal("4"), 1),
        ]
        assert diff(list(want), want) == []
        # the engine answering 1.7501 instead of 1.75 must be caught
        wrong = [agg_row(("a", b1, 1.7501, 1.0, 2.5, Decimal("3.5"), 2)), want[1]]
        assert diff(wrong, want)
    finally:
        orc.close()


def test_curate_check_catches_planted_wrong_answers():
    import hashlib

    table, text, groups, pairs = inputs.corpus(seed=5, n_base=60, exact_groups=4, near_pairs=5)
    cur = Curate.__new__(Curate)
    cur.text, cur.planted_groups, cur.planted_pairs = text, groups, pairs
    md5 = {i: hashlib.md5(t.encode()).hexdigest() for i, t in enumerate(text)}
    good = CurateResult(md5, sorted((min(g), len(g)) for g in groups), sorted(pairs))
    cur.results = [good]
    assert cur.check(1) == set()
    missing_pairs = CurateResult(md5, good.groups, good.pairs[:3])  # recall 0.6
    missing_group = CurateResult(md5, good.groups[1:], good.pairs)
    bad_text = CurateResult({**md5, 0: "0" * 32}, good.groups, good.pairs)
    unrelated_pair = CurateResult(md5, good.groups, sorted(good.pairs + [(0, 1)]))
    cur.results = [missing_pairs, missing_group, bad_text, unrelated_pair]
    assert cur.check(4) == {0, 1, 2, 3}
