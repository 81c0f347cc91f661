"""``a911_ingest``: the reference's scheduled pull → transform → submit job.

A closed loop with one client: pulls run back to back. Each pull reads
the ``active911`` DataSource with ``transport=http`` from a loopback
Active911 interface (login, then one fetch per agency), runs
``pipeline.active911.to_features`` and posts the features with
``streaming.http_sink.submit_features`` to a loopback collector; the pull
ends when the last POST is acknowledged. Every pull carries fresh alerts
(``SYNTH_ALERTS_SQL`` over its own seeded ``o_orderkey`` set).

The schedule is fixed: one cold backfill-sized pull (reported on its
own; it also warms the per-row code paths), then one cycle of ``CYCLE``
timed pulls, the last of them backfill-sized. With
``--trace 1`` the last two cycle pulls, a small one and the backfill one,
are each followed by a traced twin with fresh keys of the same size,
split into layer spans, each span over its cached input, so the sum of
span times can be set against the two untraced pulls (``reconcile.*``).

Pull sizes. A small pull is one daytime 6-hour window (the reference's
pull window, task.ts:134-135) at the rate of the sf0.1 synthetic alerts:
150,000 alerts (one per sf0.1 order) whose ``sent`` times fall on days
1-28 of 96 months, 06:00-17:59, i.e. 5,376 daytime windows of 27.9
alerts on average. The seeded size is drawn from ``SMALL`` around that
mean. The backfill size is an assumption, not a figure from the
reference: a catch-up pull large enough that its per-row time is a
large share of it (see perfbench/README.md for the measured split).

The launcher side (``Harness``) serves the interface and the collector
and checks, after the worker has exited, every posted feature against
the registry's DuckDB oracle for ``a911_features_nested`` evaluated on
the keys that were pulled. The worker side (``run``) only pulls.
"""

from __future__ import annotations

import json
import os
import random
import traceback
import urllib.request

from common import force_plan, log, median, memo_entries, noop, now
from servers import PASSWORD, USERNAME, WINDOW_MS, CollectorServer, InterfaceServer, encode_jsonp

#: alerts in a small pull: one daytime 6-h window at the sf0.1 rate (27.9)
SMALL = (21, 35)
#: alerts in a backfill pull (an assumption: a pull whose per-row time is
#: a large share of it). The range is narrow because ``items_per_s`` is
#: dominated by these alerts: with 2,500-3,000 it followed the seed.
BACKFILL = (2_700, 2_800)
CYCLE = 5
AGENCIES = (1, 2, 3, 4)


def schedule(seed: int, trace: bool) -> list[tuple[str, int]]:
    """(role, alerts) of every pull in order. Roles: ``cold`` (the first,
    backfill-sized pull), ``timed`` (the cycle) and ``traced`` (a twin of
    the timed pull before it, traced runs only)."""
    rng = random.Random(f"pulls:{seed}")
    out = [("cold", rng.randint(*BACKFILL))]
    # The backfill pull ends the cycle. Pulls still get faster over the
    # first few after the cold one (JIT), so a seeded position would make
    # the small pulls' median depend on the seed.
    cycle = [rng.randint(*SMALL) for _ in range(CYCLE - 1)] + [rng.randint(*BACKFILL)]
    for j, n in enumerate(cycle):
        out.append(("timed", n))
        if trace and j >= CYCLE - 2:
            out.append(("traced", n))
    return out


def pull_plan(seed: int, trace: bool) -> list[tuple[int, list[int]]]:
    """(alerts, fresh o_orderkeys) of every pull of ``schedule``."""
    import gen

    return gen.pull_keys(seed, [n for _, n in schedule(seed, trace)])


# -- launcher side -------------------------------------------------------------


def alerts_by_key(plan) -> dict[int, tuple]:
    """SYNTH_ALERTS_SQL evaluated by DuckDB over every planned key."""
    import duckdb
    import pyarrow as pa
    from etl_active911_spark.pipeline.active911 import ALERT_COLUMNS
    from etl_active911_spark.pipeline.fixtures import SYNTH_ALERTS_SQL

    con = duckdb.connect()
    orders = pa.table({"o_orderkey": pa.array([k for _, ks in plan for k in ks], pa.int64())})
    con.register("orders", orders)
    rows = con.execute(f"SELECT {', '.join(ALERT_COLUMNS)} FROM ({SYNTH_ALERTS_SQL})").fetchall()
    return {int(r[0]): r for r in rows}


def payloads(plan, alerts) -> list[dict[int, bytes]]:
    """``[pull][agency]`` → the JSONP bytes of that agency's fetch."""
    from etl_active911_spark.pipeline.active911 import ALERT_COLUMNS

    out = []
    for _, keys in plan:
        by_agency: dict[int, list] = {a: [] for a in AGENCIES}
        for k in keys:
            by_agency[AGENCIES[k % len(AGENCIES)]].append(alerts[k])
        out.append({a: encode_jsonp(ALERT_COLUMNS, rows) for a, rows in by_agency.items()})
    return out


def flatten(feature: dict) -> tuple:
    """A posted GeoJSON feature → the ``a911_features_nested`` oracle row
    (feature_id, ftype, callsign, start_iso, remarks, links_str,
    geo_type, lon_d, lat_d). A malformed feature becomes a row that
    matches nothing, so it fails its pull."""
    try:
        p, g = feature["properties"], feature["geometry"]
        links = "\x1f".join(
            "|".join(
                [l["relation"], l["callsign"], l["remarks"], l["production_time"] or "-"]
            )
            for l in p["links"]
        )
        lon, lat = g["coordinates"]
        return (feature["id"], feature["type"], p["callsign"], p["start"], p["remarks"],
                links, g["type"], lon, lat)
    except (KeyError, TypeError, ValueError):
        return (str(feature.get("id")) if isinstance(feature, dict) else "", "malformed")


def oracle_rows(keys: list[int]) -> list[tuple]:
    """The registry's DuckDB oracle for ``a911_features_nested`` on ``keys``."""
    import duckdb
    import pyarrow as pa
    from etl_active911_spark.plans import registry

    registry.load_all()
    con = duckdb.connect()
    con.register("orders", pa.table({"o_orderkey": pa.array(keys, pa.int64())}))
    sql = registry.ORACLES["a911_features_nested"]
    cols = ("feature_id", "ftype", "callsign", "start_iso", "remarks", "links_str",
            "geo_type", "lon_d", "lat_d")
    return con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall()


def failed_pulls(posted: list[tuple], expected: list[tuple], pull_of: dict[int, int]) -> set[int]:
    """Pulls whose features differ from the oracle: a missing, extra,
    duplicated or differing row marks its pull failed."""
    from collections import Counter

    def key(row):
        return (row[0],) + tuple("NaN" if isinstance(v, float) and v != v else v for v in row[1:])

    def pull(row) -> int:
        try:
            return pull_of.get(int(str(row[0]).removeprefix("active911-")), -1)
        except ValueError:
            return -1  # an id that names no pull

    diff = (Counter(map(key, posted)) - Counter(map(key, expected))) + (
        Counter(map(key, expected)) - Counter(map(key, posted))
    )
    return {pull(row) for row in diff}


class Harness:
    """The launcher's part of a run: the planned payloads, the two
    loopback servers, and the check of every posted feature."""

    def __init__(self, seed: int, trace: bool, work: str):
        cpus = os.cpu_count() or 1
        self.plan = pull_plan(seed, trace)
        threads = max(1, cpus // 2)
        self.iface = InterfaceServer(
            payloads(self.plan, alerts_by_key(self.plan)), AGENCIES, threads
        ).start()
        self.collector = CollectorServer(max(1, cpus - threads)).start()
        with open(os.path.join(work, "a911.json"), "w") as fh:
            json.dump(
                {
                    "interface": self.iface.url,
                    "collector": self.collector.url,
                    "schedule": schedule(seed, trace),
                },
                fh,
            )

    def check(self, res: dict) -> None:
        """Count the failed pulls of the worker's result ``res``."""
        t = now()
        posted = [flatten(f) for f in self.collector.take()]
        pull_of = {k: i for i, (_, ks) in enumerate(self.plan) for k in ks}
        expected = oracle_rows([k for _, ks in self.plan for k in ks])
        bad = failed_pulls(posted, expected, pull_of) | set(res["raised"])
        log(f"check {now() - t:.2f}s, {len(posted)} features, failed pulls {sorted(bad)}")
        res["failed"] = len(bad)
        res["problems"] = {f"pull {j}": ["features differ from the oracle"] for j in sorted(bad)}

    def close(self) -> None:
        self.iface.stop()
        self.collector.stop()


# -- worker side ---------------------------------------------------------------


def _alerts(raw):
    """The 24 alert columns of the rows that carry no fetch error."""
    from pyspark.sql import functions as F
    from etl_active911_spark.pipeline.active911 import ALERT_COLUMNS

    return raw.filter(F.col("_error").isNull()).select(*ALERT_COLUMNS)


def _stats(url: str) -> dict:
    with urllib.request.urlopen(f"{url}/stats") as resp:
        return json.loads(resp.read())


class _Puller:
    def __init__(self, spark, interface_url: str, collector_url: str):
        self.spark, self.interface_url, self.collector_url = spark, interface_url, collector_url

    def read(self, i: int):
        """Pull ``i``'s raw DataSource frame (alert columns, agency_id, _error)."""
        return (
            self.spark.read.format("active911")
            .option("transport", "http")
            .option("base_url", self.interface_url)
            .option("username", USERNAME)
            .option("password", PASSWORD)
            .option("from_date", str(i * WINDOW_MS))
            .option("to_date", str((i + 1) * WINDOW_MS))
            .load()
        )

    def pull(self, i: int) -> float:
        from etl_active911_spark.pipeline.active911 import to_features
        from etl_active911_spark.streaming.http_sink import submit_features

        t = now()
        submit_features(to_features(_alerts(self.read(i))), self.collector_url)
        return now() - t

    def traced_pull(self, i: int) -> dict[str, float]:
        from pyspark.sql import functions as F
        from etl_active911_spark.functions.timeparse import parse_alert_time
        from etl_active911_spark.pipeline.active911 import (
            links_array_native,
            resolve_coordinates,
            to_features,
        )
        from etl_active911_spark.streaming.http_sink import submit_features

        s: dict[str, float] = {}
        before = (_stats(self.interface_url), _stats(self.collector_url))
        raw = self.read(i).cache()
        t = now()
        noop(raw)
        s["sources.read_s"] = now() - t
        rows, errors = raw.agg(F.count("*"), F.count("_error")).first()
        s["sources.rows"], s["sources.error_rows"] = rows, errors
        alerts = _alerts(raw)
        t = now()
        feats = to_features(alerts)
        s["pipeline.build_s"] = now() - t
        t = now()
        force_plan(feats)
        s["catalyst.plan_s.a911_features"] = now() - t
        t = now()
        noop(feats)
        s["pipeline.to_features_s"] = now() - t
        for name, df in (
            ("pipeline.links_s", alerts.select(links_array_native())),
            ("functions.timeparse_s", alerts.select(parse_alert_time(F.col("sent")))),
            ("pipeline.coords_s", resolve_coordinates(alerts)),
        ):
            t = now()
            noop(df)
            s[name] = now() - t
        feats = feats.cache()
        noop(feats)
        t = now()
        try:
            submit_features(feats, self.collector_url)
            s["http_sink.failed_posts"] = 0
        except Exception:  # noqa: BLE001 — counted, and the pull fails the check
            log(f"submit of pull {i} raised:\n{traceback.format_exc()}")
            s["http_sink.failed_posts"] = 1
        s["http_sink.submit_s"] = now() - t
        s["features"] = feats.agg(F.count("*")).first()[0]
        feats.unpersist()
        raw.unpersist()
        iface, coll = _stats(self.interface_url), _stats(self.collector_url)
        s["sources.logins"] = iface["logins"] - before[0]["logins"]
        s["sources.fetches"] = iface["fetches"] - before[0]["fetches"]
        s["sources.bytes"] = iface["bytes"] - before[0]["bytes"]
        s["http_sink.posts"] = coll["posts"] - before[1]["posts"]
        s["http_sink.bytes"] = coll["bytes"] - before[1]["bytes"]
        return s


def run(spark, args) -> dict:
    from etl_active911_spark.sources.active911_source import register

    register(spark)
    with open(os.path.join(args.work, "a911.json")) as fh:
        cfg = json.load(fh)
    plan = cfg["schedule"]
    puller = _Puller(spark, cfg["interface"], cfg["collector"])
    first = puller.pull(0)
    log(f"first pull {first:.2f}s ({plan[0][1]} alerts)")
    times, spans, timed_sizes, raised = [], [], [], []
    twins: list[float] = []  # the untraced pulls that have a traced twin
    for j, (role, n) in enumerate(plan[1:], start=1):
        try:
            if role == "traced":
                spans.append(puller.traced_pull(j))
                twins.append(times[-1])
            else:
                times.append(puller.pull(j))
                timed_sizes.append(n)
                log(f"pull {j}: {times[-1]:.2f}s ({n} alerts)")
        except Exception:  # noqa: BLE001 — a failed pull is counted
            log(f"pull {j} raised:\n{traceback.format_exc()}")
            raised.append(j)

    out = {
        "attempted": len(plan),
        "raised": raised,
        "e2e": {
            "first_op_s": first,
            "op_p50_s": median(times),
            "items_per_s": sum(timed_sizes) / sum(times),
        },
        "named": {
            "first_pull_s": (first, "s"),
            "pull_p50_s": (median(times), "s"),
            "alerts_per_s": (sum(timed_sizes) / sum(times), "1/s"),
            "pulls": (len(times), "count"),
        },
    }
    if args.trace:
        layers = {k: sum(s[k] for s in spans) for k in spans[0] if k != "features"}
        layers["pipeline.features_ratio"] = sum(s["features"] for s in spans) / layers["sources.rows"]
        layers["catalyst.plan_s.a911_features"] /= len(spans)
        layers["plans.memo_entries"] = memo_entries()
        self_s = sum(
            layers[k]
            for k in ("sources.read_s", "pipeline.build_s", "pipeline.to_features_s", "http_sink.submit_s")
        )
        layers["reconcile.layers_s"] = self_s
        layers["reconcile.untraced_s"] = sum(twins)
        layers["reconcile.overhead_ratio"] = self_s / sum(twins) - 1
        out["layers"] = layers
    return out
