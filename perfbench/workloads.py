"""The benchmark's workloads. Each is a closed loop with one client: the
next request is sent only after the previous one has completed.

A workload object is used in this order: ``prepare`` (benchmark inputs
and expected answers, untimed), then ``setup``/``close`` once per set-up
repetition, ``warmup``, and for each request ``execute`` (the timed
call) followed by ``check`` (untimed). In traced runs ``probe`` adds the
in-process measurements Spark's workers hide from the driver.

Request parameters come from ``random.Random(f"{name}:{seed}")``; the
warm-up draws from a separate stream and never repeats a timed request,
so neither the broker's result cache nor Spark's plan reuse is primed
with a timed body.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import math
import os
import random
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import fixtures
import sparkstats
from tracing import Tracer, median_or_zero

TIME = fixtures.TIME


def _close(a, b) -> bool:
    """Sums of doubles may differ in the last bits with summation order."""
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def _epoch_ms(value) -> int:
    if isinstance(value, str):
        value = dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
    if value.tzinfo is None:
        value = value.replace(tzinfo=dt.timezone.utc)
    return round(value.timestamp() * 1000)


def _iso(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.000Z")


class Workload:
    name = ""
    # a run of --seconds S sends max(min_requests, round(S * rate))
    # requests: a fixed count, so every run of one seed sends the same
    # requests whatever their speed
    rate = 1.0
    min_requests = 3
    kinds: tuple[str, ...] = ()
    warm_kinds: tuple[str, ...] = ()

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.tracer: Tracer = ctx.tracer
        self.spark = None

    def request_count(self) -> int:
        return max(self.min_requests, round(self.ctx.seconds * self.rate))

    def traced_count(self) -> int:
        """Requests of the traced loop: one of each kind."""
        return max(self.min_requests, len(self.kinds))

    def streams(self, n: int, make) -> tuple[list, list]:
        """``n`` timed requests (plus ``traced_count()`` fresh ones for
        the traced loop) and the warm-up requests. Request kinds follow
        the fixed rotations ``kinds`` and ``warm_kinds``, so every run
        times the same mix; ``make(rng, kind)`` draws the parameters from
        separate seeded streams. No request repeats and no warm-up
        request is timed."""
        timed_rng = random.Random(f"{self.name}:{self.ctx.seed}")
        warm_rng = random.Random(f"{self.name}:{self.ctx.seed}:warmup")
        seen: set[str] = set()

        def draw(rng, kinds):
            out = []
            for kind in kinds:
                while True:
                    req = make(rng, kind)
                    key = json.dumps(req, sort_keys=True, default=str)
                    if key not in seen:
                        break
                seen.add(key)
                out.append(req)
            return out

        total = n + (self.traced_count() if self.tracer.enabled else 0)
        timed = draw(timed_rng, [self.kinds[i % len(self.kinds)] for i in range(total)])
        return timed, draw(warm_rng, self.warm_kinds)

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        self.spark = spark

    def close(self) -> None:
        pass

    def warmup(self) -> int:
        """Send the warm-up requests; returns how many answered wrong."""
        return sum(not self.check(req, self.execute(req)) for req in self.warm)

    def execute(self, req):
        raise NotImplementedError

    def check(self, req, answer) -> bool:
        raise NotImplementedError

    def rows(self, req) -> int:
        """Input rows the request scans or writes (0: not reported)."""
        return 0

    def probe(self, req, answer, latency_s: float, jobs: list[dict]) -> None:
        """Traced runs only: in-process measurements after a request."""

    def probe_once(self) -> None:
        """Traced runs only: in-process measurements after the loop."""

    def finish(self) -> int:
        """After the loop: timed requests that failed a run-level check."""
        return 0

    def cleanup(self) -> None:
        """Remove what the run wrote."""

    def details(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# tpch_headline: the catalog/queries path, no segment code
# ---------------------------------------------------------------------------


def _canon(value):
    """Exact, order-insensitive comparison key for one result value."""
    if isinstance(value, float):
        return ("nan",) if math.isnan(value) else ("f", repr(value))
    if isinstance(value, bool):
        return ("b", value)
    if isinstance(value, int):
        return ("i", value)
    if isinstance(value, (dt.datetime, dt.date)):
        return (type(value).__name__, value.isoformat())
    if isinstance(value, (list, tuple)):
        return ("arr", tuple(_canon(v) for v in value))
    if value is None:
        return ("null",)
    if hasattr(value, "normalize"):  # Decimal
        return ("dec", str(value.normalize()))
    return ("o", str(value))


def _canon_rows(rows, columns: list[str]) -> list:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(_canon(row[i]) for i in order) for row in rows), key=repr
    )


class TpchHeadline(Workload):
    """One request: one of bench.py's 15 HEADLINE queries, timed from
    the registry call (DataFrame build, including ``catalog.table``)
    through planning to a finished noop write; passes in a seeded order.
    The queries take no parameters, so the warm-up pass runs the same
    15 queries (once each, collected and checked against their DuckDB
    oracles): it warms codegen the way bench.py's untimed run does."""

    name = "tpch_headline"
    rate = 0.1  # passes of the 15 queries (about 11 s each on 4 cores)

    def prepare(self) -> None:
        from bench import HEADLINE

        from druid_datafusion_bridge_spark.catalog import TABLES
        from druid_datafusion_bridge_spark.queries import all_oracles, all_queries

        self.sf = self.ctx.tpch_sf
        self.queries = all_queries()
        oracles = all_oracles()
        passes = max(1, round(self.ctx.seconds * self.rate))
        rng = random.Random(f"{self.name}:{self.ctx.seed}")
        n_passes = passes + (1 if self.tracer.enabled else 0)
        self.timed = [
            q for _ in range(n_passes) for q in rng.sample(HEADLINE, len(HEADLINE))
        ]
        self.n_timed = passes * len(HEADLINE)
        self.warm = list(HEADLINE)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'"
            )
        self.expected = {}
        for q in HEADLINE:
            rel = con.sql(oracles[q])
            self.expected[q] = _canon_rows(rel.fetchall(), list(rel.columns))
        con.close()
        self.verdict: dict[str, bool] = {}

    def setup(self, spark) -> None:
        super().setup(spark)
        from druid_datafusion_bridge_spark.catalog import build_scan_mirrors

        with self.tracer.span("catalog.build_scan_mirrors"):
            build_scan_mirrors(spark, self.sf)

    def warmup(self) -> int:
        for q in self.warm:
            df = self.queries[q](self.spark, self.sf)
            rows = [tuple(r) for r in df.collect()]
            self.verdict[q] = _canon_rows(rows, df.columns) == self.expected[q]
        return 0  # a wrong query fails each of its timed requests instead

    def execute(self, q):
        tr = self.tracer
        with tr.span("queries.build"):
            df = self.queries[q](self.spark, self.sf)
        if tr.enabled:
            with tr.span("queries.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("queries.exec"):
            df.write.mode("overwrite").format("noop").save()
        return None

    def check(self, q, answer) -> bool:
        # the timed request ends in a noop write; its answer is the
        # warm-up's collected result for the same (parameterless) query
        return self.verdict.get(q, False)

    def details(self) -> dict:
        return {
            "scale": os.path.basename(self.sf),
            "wrong_queries": sorted(q for q, ok in self.verdict.items() if not ok),
        }


# ---------------------------------------------------------------------------
# segment workloads
# ---------------------------------------------------------------------------


def _replay_scan(tracer: Tracer, options: dict) -> int:
    """Run a druidsegment scan in-process, as Spark's workers would:
    schema(), reader().partitions(), then read() of every partition.
    Returns the partition count."""
    from druid_datafusion_bridge_spark.sources.datasource import DruidSegmentDataSource

    ds = DruidSegmentDataSource(options)
    with tracer.span("datasource.schema"):
        schema = ds.schema()
    reader = ds.reader(schema)
    with tracer.span("datasource.partitions"):
        parts = reader.partitions()
    for part in parts:
        with tracer.span("datasource.read"):
            for _ in reader.read(part):
                pass
    return len(parts)


class _SegmentWorkload(Workload):
    fixture = ""

    def prepare_fixture(self) -> None:
        self.sf = self.ctx.segment_sf
        self.fixture_desc = fixtures.ensure_fixture(
            self.ctx.work_dir, self.sf, self.fixture
        )
        self.root = fixtures.fixture_root(self.ctx.work_dir, self.sf, self.fixture)
        self.source = fixtures.source_table(self.sf, self.fixture)
        from druid_datafusion_bridge_spark.sources.datasource import (
            find_segment_dirs,
            load_plan_meta,
        )

        meta = load_plan_meta(self.root, find_segment_dirs(self.root))
        self.segment_intervals = [(m["start"], m["end"]) for m in meta.values()]
        self.partition_stats: list[dict] = []

    def setup(self, spark) -> None:
        super().setup(spark)
        from druid_datafusion_bridge_spark.sources import register_druid_datasource

        register_druid_datasource(spark)

    def scan_probe(self, options: dict, interval, latency_s, jobs) -> None:
        """Decode replay plus the partition accounting of one request."""
        tr = self.tracer
        with tr.span("replay"):
            parts = _replay_scan(tr, options)
        scan = sparkstats.scan_stage(jobs)
        lo, hi = interval
        useful = sum(1 for s, e in self.segment_intervals if s < hi and e > lo)
        read_s = sum(
            s["end"] - s["start"]
            for s in tr.spans
            if s["name"] == "datasource.read" and s["request"] == tr.request
        )
        tasks = scan["tasks"] if scan else parts
        wall_s = scan["wall_ms"] / 1e3 if scan else latency_s
        cores = self.ctx.cores
        self.partition_stats.append(
            {
                "partitions": tasks,
                "useful": useful / tasks if tasks else 0.0,
                "overhead_ms": (wall_s * min(cores, tasks) - read_s) * 1e3 / tasks
                if tasks
                else 0.0,
            }
        )

    def details(self) -> dict:
        return {"fixture": self.fixture_desc}


SCAN_COLUMNS = [
    TIME, "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
]
SCAN_WIDTH = 8  # every request decodes 8 of the 11 columns
ROLLUP_KEYS = {"l_returnflag": "l_returnflag", "l_linestatus": "l_linestatus",
               "ship_year": TIME}


class SegmentScan(_SegmentWorkload):
    """One request: a ``druidsegment`` full-table read of a seeded
    8-column projection of lineitem (7 yearly real-LZ4 segments), either
    rolled up by a seeded key or filtered to seeded order keys, and
    collected to the driver. Every request decodes the same number of
    columns over all rows, so decode dominates and stays comparable."""

    name = "segment_scan"
    fixture = "lineitem_yearly"
    rate = 0.4  # a request takes about 2.5 s on 4 cores
    kinds = ("rollup", "lookup")
    warm_kinds = ("lookup", "rollup")

    def prepare(self) -> None:
        self.prepare_fixture()
        orderkeys = sorted(set(self.source["l_orderkey"].to_pylist()))

        def make(rng, kind):
            if kind == "rollup":
                key = rng.choice(sorted(ROLLUP_KEYS))
                need = ROLLUP_KEYS[key]
                req = {"kind": kind, "key": key}
            else:
                need = "l_orderkey"
                req = {"kind": kind, "orderkeys": sorted(rng.sample(orderkeys, 8))}
            others = [c for c in SCAN_COLUMNS if c != need]
            picked = set(rng.sample(others, SCAN_WIDTH - 1)) | {need}
            req["columns"] = [c for c in SCAN_COLUMNS if c in picked]
            return req

        self.timed, self.warm = self.streams(self.request_count(), make)
        self.n_timed = self.request_count()

    def _measures(self, req) -> list[str]:
        return [
            c for c in req["columns"]
            if c not in (TIME, "l_returnflag", "l_linestatus", ROLLUP_KEYS[req["key"]])
        ]

    def execute(self, req):
        from pyspark.sql import functions as F

        tr = self.tracer
        with tr.span("spark.load"):
            df = (
                self.spark.read.format("druidsegment")
                .option("columns", ",".join(req["columns"]))
                .load(self.root)
            )
        with tr.span("spark.collect"):
            if req["kind"] == "rollup":
                col = ROLLUP_KEYS[req["key"]]
                key = F.year(col) if col == TIME else F.col(col)
                out = df.groupBy(key.alias("k")).agg(
                    F.count("*").alias("n"),
                    *[F.sum(c).alias(c) for c in self._measures(req)],
                ).collect()
            else:
                out = df.filter(F.col("l_orderkey").isin(req["orderkeys"])).collect()
        return [tuple(r) for r in out]

    def check(self, req, answer) -> bool:
        t = self.source.select(req["columns"])
        if req["kind"] == "lookup":
            t = t.filter(pc.is_in(t["l_orderkey"], pa.array(req["orderkeys"])))
            want = sorted(tuple(r.values()) for r in t.to_pylist())
            return sorted(answer) == want
        col = ROLLUP_KEYS[req["key"]]
        keys = pc.year(t[TIME]) if col == TIME else t[col]
        measures = self._measures(req)
        grouped = (
            t.select(measures).append_column("k", keys)
            .group_by("k")
            .aggregate([("k", "count")] + [(c, "sum") for c in measures])
        )
        want = {
            r["k"]: [r["k_count"]] + [r[f"{c}_sum"] for c in measures]
            for r in grouped.to_pylist()
        }
        got = {r[0]: list(r[1:]) for r in answer}
        return want.keys() == got.keys() and all(
            len(got[k]) == len(v) and all(_close(a, b) for a, b in zip(got[k], v))
            for k, v in want.items()
        )

    def rows(self, req) -> int:
        return self.fixture_desc["rows"]

    def probe(self, req, answer, latency_s, jobs) -> None:
        options = {"path": self.root, "columns": ",".join(req["columns"])}
        self.scan_probe(options, (-(2**62), 2**62), latency_s, jobs)


# --- broker_serve -----------------------------------------------------------


class BrokerServe(_SegmentWorkload):
    """One request: an HTTP POST to a started DruidBrokerShim — a
    /druid/v2 timeseries, topN, groupBy or scan, or a /druid/v2/sql
    GROUP BY — over a seeded 1-hour to 3-day interval of 30 daily
    real-LZ4 event segments, with a seeded filter value. The broker
    registers the root with no time options, as it does in production."""

    name = "broker_serve"
    fixture = "events_daily"
    rate = 0.2  # a request takes about 2.8 s on 4 cores
    # every kind, both endpoints, in a fixed rotation; the warm-up's
    # timeseries pays the first-use costs no other kind shares
    kinds = ("timeseries", "sql", "topN", "groupBy", "scan")
    warm_kinds = ("timeseries",)

    def prepare(self) -> None:
        self.prepare_fixture()
        src = self.source
        event_types = sorted(set(src["event_type"].to_pylist()))
        user_ids = sorted(set(src["user_id"].to_pylist()))
        t_lo = pc.min(src[TIME]).cast(pa.int64()).as_py()
        day = 86_400_000
        start = t_lo - t_lo % day
        span_min = 30 * 24 * 60

        def make(rng, kind):
            hours = rng.randint(1, 72)
            lo = start + rng.randrange(0, span_min - hours * 60) * 60_000
            hi = lo + hours * 3_600_000
            interval = [f"{_iso(lo)}/{_iso(hi)}"]
            aggs = [
                {"type": "count", "name": "n"},
                {"type": "doubleSum", "name": "v", "fieldName": "value"},
            ]
            lower = rng.randrange(user_ids[0], user_ids[-1])
            bound = {"type": "bound", "dimension": "user_id", "lower": str(lower),
                     "ordering": "numeric"}
            if kind == "timeseries":
                body = {"queryType": "timeseries", "granularity":
                        rng.choice(["hour", "day"]),
                        "filter": {"type": "selector", "dimension": "event_type",
                                   "value": rng.choice(event_types)},
                        "aggregations": aggs}
            elif kind == "topN":
                body = {"queryType": "topN", "granularity": "all",
                        "dimension": "event_type", "metric": "v", "threshold": 3,
                        "filter": bound, "aggregations": aggs}
            elif kind == "groupBy":
                body = {"queryType": "groupBy", "granularity": "all",
                        "dimensions": ["event_type"], "filter": bound,
                        "aggregations": aggs}
            elif kind == "scan":
                body = {"queryType": "scan", "resultFormat": "list",
                        "columns": [TIME, "event_id", "user_id", "event_type",
                                    "value"],
                        "filter": {"type": "equals", "column": "user_id",
                                   "matchValueType": "LONG",
                                   "matchValue": rng.choice(user_ids)},
                        "limit": 10_000}
            if kind != "sql":
                body.update({"dataSource": "events", "intervals": interval})
                return {"kind": kind, "lo": lo, "hi": hi, "path": "/druid/v2",
                        "body": body}
            sql = (
                "SELECT event_type, COUNT(*) AS n, SUM(`value`) AS v FROM events "
                f"WHERE __time >= TIMESTAMP '{_iso(lo)[:19].replace('T', ' ')}' "
                f"AND __time < TIMESTAMP '{_iso(hi)[:19].replace('T', ' ')}' "
                f"AND user_id >= {lower} GROUP BY event_type"
            )
            return {"kind": kind, "lo": lo, "hi": hi, "path": "/druid/v2/sql",
                    "body": {"query": sql}, "lower": lower}

        self.timed, self.warm = self.streams(self.request_count(), make)
        self.n_timed = self.request_count()
        self.expected = {}
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW ev AS SELECT *, epoch_ms(ts) AS t_ms FROM "
            f"'{self.sf}/events.parquet'"
        )
        for req in self.timed + self.warm:
            self.expected[id(req)] = self._expect(con, req)
        con.close()

    @staticmethod
    def _expect(con, req):
        b = req["body"]
        where = f"t_ms >= {req['lo']} AND t_ms < {req['hi']}"
        filt = b.get("filter", {})
        if filt.get("type") == "selector":
            where += f" AND event_type = '{filt['value']}'"
        elif filt.get("type") == "bound":
            where += f" AND user_id >= {filt['lower']}"
        elif filt.get("type") == "equals":
            where += f" AND user_id = {filt['matchValue']}"
        elif req["kind"] == "sql":
            where += f" AND user_id >= {req['lower']}"
        kind = req["kind"]
        if kind == "timeseries":
            trunc = b["granularity"]
            rows = con.sql(
                f"SELECT epoch_ms(date_trunc('{trunc}', ts)), count(*), sum(value) "
                f"FROM ev WHERE {where} GROUP BY 1"
            ).fetchall()
            return {r[0]: (r[1], r[2]) for r in rows}
        if kind == "scan":
            rows = con.sql(
                f"SELECT event_id, t_ms, user_id, event_type, value FROM ev "
                f"WHERE {where}"
            ).fetchall()
            return {r[0]: r[1:] for r in rows}
        rows = con.sql(
            f"SELECT event_type, count(*), sum(value) AS v FROM ev WHERE {where} "
            "GROUP BY event_type ORDER BY v DESC"
        ).fetchall()
        if kind == "topN":
            return [(r[0], r[1], r[2]) for r in rows[: b["threshold"]]]
        return {r[0]: (r[1], r[2]) for r in rows}

    def setup(self, spark) -> None:
        super().setup(spark)
        from druid_datafusion_bridge_spark.broker import DruidBrokerShim

        df = spark.read.format("druidsegment").option("path", self.root).load()
        self.shim = DruidBrokerShim(
            spark, {"events": df}, segment_roots={"events": self.root}
        )
        self.port = self.shim.start()

    def close(self) -> None:
        self.shim.stop()

    def execute(self, req):
        with self.tracer.span("broker.http"):
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            try:
                conn.request(
                    "POST", req["path"], json.dumps(req["body"]),
                    {"Content-Type": "application/json"},
                )
                resp = conn.getresponse()
                payload = resp.read()
            finally:
                conn.close()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {payload[:300]!r}")
        return json.loads(payload)

    def check(self, req, answer) -> bool:
        want = self.expected[id(req)]
        kind = req["kind"]
        if kind == "timeseries":
            got = {
                _epoch_ms(e["timestamp"]): (e["result"]["n"], e["result"]["v"])
                for e in answer
                if e["result"]["n"]  # zero-filled empty buckets carry no rows
            }
        elif kind == "topN":
            got = [
                (r["event_type"], r["n"], r["v"])
                for e in answer for r in e["result"]
            ]
            return len(got) == len(want) and all(
                g[0] == w[0] and g[1] == w[1] and _close(g[2], w[2])
                for g, w in zip(got, want)
            )
        elif kind == "scan":
            got = {
                r["event_id"]: (_epoch_ms(r[TIME]), r["user_id"], r["event_type"],
                                r["value"])
                for e in answer for r in e["events"]
            }
            return got == want
        else:
            rows = [e["event"] for e in answer] if kind == "groupBy" else answer
            got = {r["event_type"]: (r["n"], r["v"]) for r in rows}
        return got.keys() == want.keys() and all(
            got[k][0] == want[k][0] and _close(got[k][1], want[k][1]) for k in want
        )

    def probe(self, req, answer, latency_s, jobs) -> None:
        tr = self.tracer
        self.scan_probe({"path": self.root}, (req["lo"], req["hi"]), latency_s, jobs)
        if req["kind"] == "sql":
            return
        from druid_datafusion_bridge_spark.native_query import native_query

        with tr.span("native_query.compile"):
            df = native_query(None, req["body"], time_col=TIME, tables=self.shim.tables)
        with tr.span("native_query.collect"):
            df.limit(self.shim.max_rows + 1).collect()

    def probe_once(self) -> None:
        """The write side of the same events, for the ingest layer's
        metrics: segment_ingest's request (a warm-up, then one traced
        and checked) and its in-process segment writer."""
        ingest = SegmentIngest(self.ctx)
        ingest.prepare()
        self.tracer.request = None
        self.tracer.enabled = False
        ingest.setup(self.spark)
        try:
            ingest.warmup()
            self.tracer.enabled = True
            req = {"root": f"seed{self.ctx.seed}-probe"}
            answer = ingest.execute(req)
            self.tracer.enabled = False
            self.ingest_ok = ingest.check(req, answer)
            self.tracer.enabled = True
            ingest.probe_once()
        finally:
            ingest.cleanup()
        self.bytes_written = ingest.bytes_written
        self.segments_written = ingest.segments_written
        self.ingest_details = ingest.details()

    def finish(self) -> int:
        # every timed body is new, so a cache hit means a primed cache
        self.cache_hits = self.shim._result_cache.hits
        return self.cache_hits + (getattr(self, "ingest_ok", True) is False)

    def details(self) -> dict:
        out = super().details()
        if hasattr(self, "ingest_details"):
            out["ingest_probe"] = self.ingest_details
        return out


# --- segment_ingest ---------------------------------------------------------


class SegmentIngest(Workload):
    """One request: ``write_druid_segments(events, <fresh root>,
    granularity="P1D").collect()`` (sf0.1: 100k rows into 30 daily
    segments); the root is checked and deleted after the clock stops.
    The input is the same every request; the seed only names roots."""

    name = "segment_ingest"
    fixture = "events_daily"
    rate = 1.0  # a request takes about 1 s on 4 cores
    min_requests = 5

    def prepare(self) -> None:
        self.sf = self.ctx.segment_sf
        src = fixtures.source_table(self.sf, self.fixture)
        self.arrow_bytes = pq.read_table(f"{self.sf}/events.parquet").nbytes
        self.n_rows = src.num_rows
        days = pc.floor_temporal(src[TIME], unit="day").cast(pa.int64())
        self.day_rows = {
            d["values"]: d["counts"] for d in pc.value_counts(days).to_pylist()
        }
        self.checksum = (
            pc.sum(src["event_id"]).as_py(), pc.sum(src["user_id"]).as_py()
        )
        self.source = src
        self.out_dir = os.path.join(self.ctx.work_dir, "ingest")
        shutil.rmtree(self.out_dir, ignore_errors=True)
        n = self.request_count()
        self.n_timed = n
        total = n + (self.traced_count() if self.tracer.enabled else 0)
        self.timed = [{"root": f"seed{self.ctx.seed}-{i}"} for i in range(total)]
        self.warm = [{"root": f"seed{self.ctx.seed}-warm"}]
        self.bytes_written: list[int] = []
        self.segments_written: list[int] = []

    def setup(self, spark) -> None:
        super().setup(spark)
        from druid_datafusion_bridge_spark.catalog import table

        self.events = table(spark, self.sf, "events").withColumnRenamed("ts", TIME)

    def execute(self, req):
        from druid_datafusion_bridge_spark.sources import write_druid_segments

        root = os.path.join(self.out_dir, req["root"])
        with self.tracer.span("ingest.write"):
            manifest = write_druid_segments(self.events, root, granularity="P1D")
            return [tuple(r) for r in manifest.collect()]

    def check(self, req, answer) -> bool:
        from druid_datafusion_bridge_spark.sources.datasource import find_segment_dirs
        from druid_datafusion_bridge_spark.sources.segment import DruidSegment

        root = os.path.join(self.out_dir, req["root"])
        try:
            rows, ids, users = {}, 0, 0
            seg_dirs = find_segment_dirs(root)
            for seg_dir in seg_dirs:
                seg = DruidSegment(seg_dir)
                try:
                    start = seg.metadata.interval_start_ms
                    rows[start - start % 86_400_000] = seg.num_rows_meta()
                    ids += int(seg.read_column("event_id").to_numpy().sum())
                    users += int(seg.read_column("user_id").to_numpy().sum())
                finally:
                    seg.close()
            self.bytes_written.append(fixtures.dir_bytes(root))
            self.segments_written.append(len(seg_dirs))
            return (
                rows == self.day_rows
                and (ids, users) == self.checksum
                and sum(r[3] for r in answer) == self.n_rows
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def rows(self, req) -> int:
        return self.n_rows

    def probe_once(self) -> None:
        """In-process write_segment of every daily bucket, to time the
        LZ4 encoder and the segment writer without Spark around them."""
        from druid_datafusion_bridge_spark.sources import segment

        root = os.path.join(self.out_dir, "probe")
        self.tracer.request = None
        try:
            with self.tracer.span("probe.write_segments"):
                for k_ms, part in fixtures.buckets(self.source, "day"):
                    segment.write_segment(part, os.path.join(root, f"segment_{k_ms}"))
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def cleanup(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def details(self) -> dict:
        bpu = median_or_zero(self.bytes_written) / self.arrow_bytes
        return {"bytes_per_user_byte": {"value": round(bpu, 6), "unit": "ratio"},
                "arrow_bytes_ingested": self.arrow_bytes}


WORKLOADS = {
    w.name: w for w in (TpchHeadline, SegmentScan, BrokerServe, SegmentIngest)
}
