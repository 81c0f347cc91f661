"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/selftest -q     # from the repository root

- the input generators are byte-identical for one seed and differ across
  seeds;
- every correctness check fails on a deliberately corrupted output (a
  dropped, perturbed or duplicated feature; a perturbed or lost query
  row; a lost, changed or duplicated verdict row), so a zero failure
  count cannot be vacuous.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import wl_a911  # noqa: E402


def _corpus(tmp_path, name: str, seed: int) -> str:
    d = str(tmp_path / name)
    gen.write_corpus(seed, 300, 120, d)
    return d


@pytest.mark.parametrize("table", ["documents", "embeddings"])
def test_corpus_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path, table):
    a, b, c = (_corpus(tmp_path, n, s) for n, s in (("a", 7), ("b", 7), ("c", 8)))
    f = f"{table}.parquet"
    assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
    assert not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)


def test_corpus_has_the_fixture_shape():
    rows = gen.corpus_rows(3, 2000)
    dups = [r for r in rows if r["text"].endswith(" dup")]
    assert 0.03 < len(dups) / len(rows) < 0.07
    assert all(10 <= len(r["text"].split()) <= 100 for r in rows)
    assert {r["source"] for r in rows} == {f"src{i}" for i in range(20)}


def test_arrival_files_are_byte_identical_per_seed_and_split_in_doc_id_order(tmp_path):
    import pyarrow.parquet as pq

    sizes = [3, 4, 5]
    a, b, c = (
        gen.write_arrivals(gen.corpus_rows(s, 12), sizes, str(tmp_path / n))
        for n, s in (("a", 7), ("b", 7), ("c", 8))
    )
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))
    ids = [pq.read_table(p).column("doc_id").to_pylist() for p in a]
    assert ids == [[0, 1, 2], [3, 4, 5, 6], [7, 8, 9, 10, 11]]


def test_pull_plan_is_deterministic_fresh_and_fixed():
    a = wl_a911.pull_plan(5, trace=False)
    assert a == wl_a911.pull_plan(5, trace=False)
    assert a != wl_a911.pull_plan(6, trace=False)
    keys = [k for _, ks in a for k in ks]
    assert len(keys) == len(set(keys)), "a key repeats across pulls"
    assert [len(ks) for n, ks in a] == [n for n, _ in a]
    roles = [r for r, _ in wl_a911.schedule(5, trace=False)]
    assert roles == ["cold"] + ["timed"] * wl_a911.CYCLE
    assert a[0][0] >= wl_a911.BACKFILL[0]
    cycle = [n for n, _ in a[1:]]
    assert cycle[-1] >= wl_a911.BACKFILL[0]
    assert all(n <= wl_a911.SMALL[1] for n in cycle[:-1])


@pytest.mark.parametrize("seed", range(12))
def test_traced_schedule_twins_one_small_and_the_backfill_pull(seed):
    plain = wl_a911.schedule(seed, trace=False)
    traced = wl_a911.schedule(seed, trace=True)
    assert [p for p in traced if p[0] != "traced"] == plain
    twins = [traced[i - 1] for i, (r, _) in enumerate(traced) if r == "traced"]
    assert [r for r, _ in twins] == ["timed", "timed"]
    assert sorted(n >= wl_a911.BACKFILL[0] for _, n in twins) == [False, True]
    assert [n for r, n in traced if r == "traced"] == [n for _, n in twins]
    tkeys = [k for _, ks in wl_a911.pull_plan(seed, trace=True) for k in ks]
    assert len(tkeys) == len(set(tkeys))


def test_payloads_are_byte_identical_per_seed():
    plan = wl_a911.pull_plan(5, trace=False)[1:3]
    one = wl_a911.payloads(plan, wl_a911.alerts_by_key(plan))
    two = wl_a911.payloads(plan, wl_a911.alerts_by_key(plan))
    assert one == two


# -- a911_ingest: posted features vs the a911_features_nested oracle ----------


def _a911_case():
    plan = wl_a911.pull_plan(9, trace=False)[1:4]
    keys = [k for _, ks in plan for k in ks]
    pull_of = {k: i for i, (_, ks) in enumerate(plan) for k in ks}
    expected = wl_a911.oracle_rows(keys)
    return expected, pull_of


def _as_feature(row: tuple) -> dict:
    """The GeoJSON feature the sink would post for one oracle row."""
    fid, ftype, callsign, start, remarks, links, gtype, lon, lat = row
    return {
        "id": fid,
        "type": ftype,
        "properties": {
            "callsign": callsign,
            "start": start,
            "links": [
                dict(zip(("relation", "callsign", "remarks", "production_time"), l.split("|")))
                | ({"production_time": None} if l.split("|")[3] == "-" else {})
                for l in (links.split("\x1f") if links else [])
            ],
            "remarks": remarks,
        },
        "geometry": {"type": gtype, "coordinates": [lon, lat]},
    }


def test_a911_check_passes_on_the_oracle_itself():
    expected, pull_of = _a911_case()
    posted = [wl_a911.flatten(_as_feature(r)) for r in expected]
    assert wl_a911.failed_pulls(posted, expected, pull_of) == set()


def test_a911_check_fails_on_a_dropped_feature():
    expected, pull_of = _a911_case()
    posted = [wl_a911.flatten(_as_feature(r)) for r in expected]
    victim = posted.pop(5)
    assert wl_a911.failed_pulls(posted, expected, pull_of) == {
        pull_of[int(victim[0].removeprefix("active911-"))]
    }


def test_a911_check_fails_on_a_malformed_or_foreign_feature():
    expected, pull_of = _a911_case()
    posted = [wl_a911.flatten(_as_feature(r)) for r in expected]
    broken = _as_feature(expected[2])
    del broken["geometry"]
    posted[2] = wl_a911.flatten(broken)
    assert wl_a911.failed_pulls(posted, expected, pull_of) == {
        pull_of[int(expected[2][0].removeprefix("active911-"))]
    }
    posted = [wl_a911.flatten(_as_feature(r)) for r in expected]
    posted.append(("active911-not-a-key", "malformed"))
    assert wl_a911.failed_pulls(posted, expected, pull_of) == {-1}


def test_a911_check_fails_on_a_perturbed_or_duplicated_feature():
    expected, pull_of = _a911_case()
    posted = [wl_a911.flatten(_as_feature(r)) for r in expected]
    posted[0] = posted[0][:4] + (posted[0][4] + " ",) + posted[0][5:]
    assert len(wl_a911.failed_pulls(posted, expected, pull_of)) == 1
    posted = [wl_a911.flatten(_as_feature(r)) for r in expected] + [posted[1]]
    assert len(wl_a911.failed_pulls(posted, expected, pull_of)) == 1


# -- corpus_curation: each query vs its oracle, tests/parity.py rules ---------


@pytest.fixture(scope="module")
def curation_case(tmp_path_factory):
    """A launcher-side harness over a generated corpus, and each query's
    oracle output on it."""
    import duckdb
    from etl_active911_spark.plans import registry
    from tests.parity import fetch_df

    import wl_curation

    registry.load_all()
    work = str(tmp_path_factory.mktemp("work"))
    harness = wl_curation.Harness(4, False, work)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/corpus/{t}.parquet')")
    return harness, {q: fetch_df(con, registry.ORACLES[q]) for q in wl_curation.QUERIES}


def _check(harness, outputs: dict[str, pd.DataFrame]) -> dict:
    """Run the launcher's check on ``outputs`` as if the worker had
    collected them in a run of 4 passes."""
    d = os.path.join(harness.work, "collected")
    os.makedirs(d, exist_ok=True)
    for q, pdf in outputs.items():
        pdf.to_pickle(os.path.join(d, f"{q}.pkl"))
    res = {"failed": 0, "passes": 4, "problems": {}}
    harness.check(res)
    return res


def test_every_curation_query_has_an_oracle_and_passes_on_it(curation_case):
    from wl_curation import QUERIES

    harness, oracles = curation_case
    assert set(oracles) == set(QUERIES)
    assert all(len(df) > 0 for df in oracles.values())
    assert _check(harness, oracles) == {"failed": 0, "passes": 4, "problems": {}}


def test_curation_check_fails_on_one_perturbed_row(curation_case):
    harness, oracles = curation_case
    for q, want in oracles.items():
        bad = want.copy()
        col = bad.columns[-1]
        v = bad.at[0, col]
        bad.at[0, col] = (v + 1) if not isinstance(v, str) and v is not None else f"{v}x"
        res = _check(harness, dict(oracles, **{q: bad}))
        assert res["failed"] == 4 and list(res["problems"]) == [q], q


def test_curation_check_fails_on_one_lost_row(curation_case):
    harness, oracles = curation_case
    for q, want in oracles.items():
        res = _check(harness, dict(oracles, **{q: want.iloc[1:]}))
        assert res["failed"] == 4 and list(res["problems"]) == [q], q


# -- streaming ingest: verdict rows vs the batch fold --------------------------


def _verdicts() -> list[tuple]:
    return [
        (d, f"src{d % 20}", d % 2, 40 + d, 30 + d, d % 3, 1, 1, 1)
        for d in range(20)
    ]


def test_ingest_check_passes_on_the_fold_itself():
    from wl_curation import verdict_problems

    want = _verdicts()
    assert verdict_problems(list(reversed(want)), want) == set()


def test_ingest_check_fails_on_a_lost_changed_or_duplicated_verdict_row():
    from wl_curation import verdict_problems

    want = _verdicts()
    assert verdict_problems(want[:7] + want[8:], want) == {7}
    changed = list(want)
    changed[3] = changed[3][:2] + (1 - changed[3][2],) + changed[3][3:]
    assert verdict_problems(changed, want) == {3}
    assert verdict_problems(want + [want[11]], want) == {11}
