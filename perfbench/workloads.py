"""The benchmark's workloads.

Both run as a closed loop with one client thread: the next operation
starts when the previous one returns. Inputs come from the seed (the
medallion fixtures, the corpus query order) and the fixed corpus
tables; the program sees only the files.

- ``medallion_replay``: bulk backfill of an August-shaped fixture, then
  an ordered replay of 15-minute intervals (about 1.5k events each),
  each followed by an uncached freshness read of the ``dau`` panel.
  It is the only write path; it loads bronze/silver/dims/gold with
  one large scan and then with many small batches whose cost grows
  with the state already written.
- ``corpus_operators``: every ``bench``-tagged catalog query that is
  also tagged dedup, vector, graph or similarity, in a seeded order,
  over the catalog's sf0.01 test tables (copied under
  ``perfbench/data/``). It is the only workload that runs
  ``operators.dedup``, ``operators.similarity`` and ``operators.graph``;
  the medallion layers are idle.

Every timed operation is checked; a failure or a mismatch counts in
``failed`` and never stops the run.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timedelta

# One set-up launches the JVM, the rest build a session in it; the
# median of seven stays on a warm build when up to two of them hit a
# pause (a warm build reads about 0.5 s, and now and then 1.0-1.2 s).
SETUP_REPS = 7
INTERVAL = timedelta(minutes=15)
OPERATOR_TAGS = frozenset({"dedup", "vector", "graph", "similarity"})

# Fixture shapes. ``tiny`` only serves the benchmark's own smoke test.
SHAPES = {
    "full": {
        "bulk_users": 300,
        "bulk_days": 2,
        "events_per_interval": 1500,
        "corpus": "sf0.01",
        "name": "full",
    },
    "tiny": {
        "bulk_users": 40,
        "bulk_days": 2,
        "events_per_interval": 100,
        "corpus": "sf0.001",
        "name": "tiny",
    },
}


@dataclass
class Outcome:
    """Timed operations of one run, with their check results."""

    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)

    def record(self, ok: bool, what: str, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED {what}: {why}", file=sys.stderr, flush=True)


def _timed_check(outcome: Outcome, what: str, op, check) -> float | None:
    """Run ``op`` timed, then ``check(result)`` untimed. Returns the
    op's seconds, or None when it raised."""
    t0 = time.perf_counter()
    try:
        result = op()
    except Exception:  # the run keeps going; the op counts as failed
        outcome.record(False, what, traceback.format_exc())
        return None
    dt = time.perf_counter() - t0
    try:
        why = check(result)
    except Exception:
        why = traceback.format_exc()
    outcome.record(not why, what, why or "")
    return dt


# ---------------------------------------------------------------- medallion


def parse_staging(paths: list[str]) -> dict:
    """Ground truth from staging JSONL in plain Python: line count,
    valid events (parseable, with an event_id) by event_id."""
    lines = 0
    events: dict[str, dict] = {}
    for p in paths:
        with open(p) as f:
            for line in f:
                lines += 1
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if isinstance(ev, dict) and ev.get("event_id"):
                    events[ev["event_id"]] = ev
    return {"lines": lines, "events": events}


def dau_expected(events: dict[str, dict]) -> dict[str, int]:
    """DAU TOTAL per KST event date: distinct known users."""
    users: dict[str, set] = {}
    for ev in events.values():
        if ev.get("user_id") is not None:
            users.setdefault(ev["timestamp"][:10], set()).add(ev["user_id"])
    return {d: len(u) for d, u in users.items()}


def check_dau(rows: list, expected: dict[str, int]) -> str:
    got = {r["event_date"]: r["dau"] for r in rows if r["segment_type"] == "TOTAL"}
    if got != expected:
        diff = sorted(d for d in set(got) | set(expected) if got.get(d) != expected.get(d))
        return f"dau TOTAL differs on {diff[:5]}"
    return ""


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs)


class MedallionReplay:
    name = "medallion_replay"
    BULK_TS = datetime(2025, 8, 3)
    REPLAY_START = datetime(2025, 9, 1)
    TIME_DIM = ("2025-07-01 00:00:00", "2025-09-30 23:00:00")

    def __init__(self, seed: int, seconds: int, work: str, shape: dict):
        self.seed, self.work, self.shape = seed, work, shape
        # fixed work per --seconds: one bulk plus this many intervals
        self.n_intervals = max(2, seconds // 10)

    def session(self):
        from reciping_data_pipeline_spark.pipeline import runner

        return runner.pipeline_session("perfbench-medallion")

    def prepare(self) -> None:
        """Fixtures and ground truth; the load generator's cost, untimed."""
        from reciping_data_pipeline_spark.pipeline import datagen

        s, sh = self.seed, self.shape
        self.bulk = datagen.generate_fixture(
            os.path.join(self.work, "bulk"), seed=s * 10 + 1, n_users=sh["bulk_users"],
            n_days=sh["bulk_days"], start=datetime(2025, 8, 1), partitioned=False,
        )
        span = self.n_intervals * 900
        self.replay = datagen.generate_fixture(
            os.path.join(self.work, "replay"), seed=s * 10 + 2,
            n_users=max(10, sh["events_per_interval"] * self.n_intervals // 4),
            n_days=1, start=self.REPLAY_START, span_seconds=span,
        )
        self.bulk_truth = parse_staging(self.bulk["files"])
        self.interval_truth = []
        for k in range(self.n_intervals):
            t = self.REPLAY_START + k * INTERVAL
            d = os.path.join(
                self.replay["staging_dir"], f"year={t.year:04d}", f"month={t.month:02d}",
                f"day={t.day:02d}", f"hour={t.hour:02d}", f"minute={t.minute:02d}",
            )
            files = [os.path.join(d, "events.jsonl")] if os.path.isdir(d) else []
            self.interval_truth.append((parse_staging(files), files))

    def setup(self, spark, rep: int) -> None:
        """Touch the bulk staging file. The measured bulk itself runs
        cold, as a backfill job does."""
        spark.read.text(self.bulk["staging_dir"]).count()

    def measure(self, spark, tracer) -> Outcome:
        from reciping_data_pipeline_spark.pipeline import analytics, bronze, gold, runner, silver

        out = Outcome()
        wh = os.path.join(self.work, "warehouse")
        bt = self.bulk_truth
        n_bulk_valid = len(bt["events"])

        def bulk():
            with tracer.span("medallion.bulk", "pipeline.runner"):
                return runner.bulk_backfill(
                    spark, self.bulk["staging_dir"], wh, self.bulk["recipe_master"],
                    self.BULK_TS, time_dim_range=self.TIME_DIM,
                )

        def check_bulk(r):
            if (r.bronze_rows, r.silver_rows, r.fact_rows) != (bt["lines"], n_bulk_valid, n_bulk_valid):
                return (f"bronze/silver/fact {r.bronze_rows}/{r.silver_rows}/{r.fact_rows} "
                        f"!= {bt['lines']}/{n_bulk_valid}/{n_bulk_valid}")
            if r.retention < 0.95:
                return f"retention {r.retention:.4f} < 0.95"
            return ""

        bulk_s = _timed_check(out, "bulk_backfill", bulk, check_bulk)

        lines = bt["lines"]
        events = dict(bt["events"])
        staged_bytes = sum(os.path.getsize(p) for p in self.bulk["files"])
        interval_s: list[float] = []
        replay_events = 0
        for k, (truth, files) in enumerate(self.interval_truth):
            start = self.REPLAY_START + k * INTERVAL
            lines += truth["lines"]
            events.update(truth["events"])
            staged_bytes += sum(os.path.getsize(p) for p in files)
            replay_events += truth["lines"]
            expected = (lines, len(events), len(events))
            expected_dau = dau_expected(events)

            def interval(start=start, k=k):
                with tracer.span("medallion.interval", "pipeline.runner", interval=k):
                    with tracer.span("medallion.incremental_run", "pipeline.runner"):
                        loaded = runner.incremental_run(
                            spark, self.replay["staging_dir"], wh, start, start + INTERVAL
                        )
                    analytics.register_gold_views(spark, wh)
                    df = analytics.run(spark, "dau")
                    with tracer.span("pipeline.analytics.exec", "pipeline.analytics") as s:
                        rows = df.collect()
                    if s is not None:
                        plan = df._jdf.queryExecution().executedPlan().toString()
                        s.attrs["cached_scans"] = plan.count("InMemoryTableScan")
                        s.attrs["file_scans"] = plan.count("FileScan")
                return loaded, rows

            def check_interval(result, expected=expected, expected_dau=expected_dau):
                loaded, rows = result
                if not loaded:
                    return "incremental_run reported an empty interval"
                got = tuple(
                    spark.read.parquet(p).count()
                    for p in (bronze.bronze_path(wh), silver.silver_path(wh), gold.fact_path(wh))
                )
                if got != expected:
                    return f"bronze/silver/fact {got} != {expected}"
                if got[1] / got[0] < 0.95:
                    return f"retention {got[1] / got[0]:.4f} < 0.95"
                return check_dau(rows, expected_dau)

            dt = _timed_check(out, f"interval {k}", interval, check_interval)
            if dt is not None:
                interval_s.append(dt)

        out.op_s = interval_s
        wall = (bulk_s or 0.0) + sum(interval_s)
        out.detail = {
            "bulk_events": bt["lines"],
            "bulk_s": bulk_s,
            "bulk_events_per_s": bt["lines"] / bulk_s if bulk_s else None,
            "interval_s": interval_s,
            "interval_p50_s": statistics.median(interval_s) if interval_s else None,
            "replay_events": replay_events,
            "replay_events_per_s": replay_events / sum(interval_s) if interval_s else None,
            "storage_amplification": _dir_bytes(wh) / staged_bytes,
            "pass_s": wall,
        }
        return out


# ---------------------------------------------------------------- corpus


def operator_queries() -> dict:
    from reciping_data_pipeline_spark.queries import all_queries

    return {
        n: q
        for n, q in sorted(all_queries().items())
        if "bench" in q.tags and OPERATOR_TAGS & set(q.tags)
    }


def frames_match(got, want) -> str:
    """Compare a result with a canonical oracle frame the way
    ``tests/oracle_utils`` does (its canonicalizer and value equality);
    '' when equal."""
    from tests.oracle_utils import _canon, _values_equal

    got = _canon(got)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _values_equal(x, y):
                return f"column {c!r} row {i}: {x!r} != {y!r}"
    return ""


def fingerprint(pdf) -> str:
    """Order-insensitive digest of a result frame: column names plus
    the row hashes of its canonical form."""
    import hashlib

    import pandas as pd

    from tests.oracle_utils import _canon

    canon = _canon(pdf)
    h = hashlib.sha256(json.dumps(list(canon.columns)).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    return f"{len(canon)}:{h.hexdigest()[:24]}"


HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "corpus_fingerprints.json")
# The tables the operator queries read, copied from the catalog's test
# tables (sf0.01 for the measured runs, sf0.001 for the smoke test).
# The corpus is fixed; the run seed only shuffles the query order.
CORPUS_TABLES = ("documents", "embeddings", "events", "lineitem", "part")


class CorpusOperators:
    name = "corpus_operators"

    def __init__(self, seed: int, seconds: int, work: str, shape: dict):
        self.seed, self.work, self.shape = seed, work, shape
        self.passes = max(1, seconds // 40)
        self.sf_dir = os.path.join(HERE, "data", shape["corpus"])

    def session(self):
        from reciping_data_pipeline_spark.session import get_spark

        return get_spark(app_name="perfbench-corpus")

    def load_catalog(self) -> None:
        import pyarrow.parquet as pq

        self.rows = {
            t: pq.read_metadata(os.path.join(self.sf_dir, f"{t}.parquet")).num_rows
            for t in CORPUS_TABLES
        }
        self.queries = operator_queries()

    def prepare(self) -> None:
        """Queries, expected fingerprints and the seeded order."""
        self.load_catalog()
        with open(FINGERPRINTS) as f:
            self.expected = json.load(f)[self.shape["name"]]
        rng = random.Random(f"{self.seed}/order")
        self.orders = []
        for _ in range(self.passes):
            names = sorted(self.queries)
            rng.shuffle(names)
            self.orders.append(names)

    def setup(self, spark, rep: int) -> None:
        """Touch the documents table. The pass itself runs cold:
        whichever query comes first in the seeded order starts the
        Python workers and compiles the shared code paths."""
        from reciping_data_pipeline_spark.tables import load_table

        load_table(spark, self.sf_dir, "documents").count()

    def check(self, name: str, got) -> str:
        want = self.expected.get(name)
        fp = fingerprint(got)
        return "" if fp == want else f"fingerprint {fp} != recorded {want}"

    def measure(self, spark, tracer) -> Outcome:
        out = Outcome()
        pass_s = []
        per_query: dict[str, list[float]] = {}
        for order in self.orders:
            total = 0.0
            for n in order:
                q = self.queries[n]

                def op(q=q, n=n):
                    with tracer.span("corpus.query", "queries", query=n):
                        with tracer.span("queries.build", "queries", query=n):
                            df = q.fn(spark, self.sf_dir)
                        with tracer.span("queries.exec", "queries", query=n):
                            return df.toPandas()

                dt = _timed_check(out, n, op, lambda got, n=n: self.check(n, got))
                if dt is not None:
                    out.op_s.append(dt)
                    per_query.setdefault(n, []).append(dt)
                    total += dt
            pass_s.append(total)
        out.detail = {
            "queries": len(self.queries),
            "passes": len(pass_s),
            "operators_pass_s": statistics.median(pass_s),
            "pass_s": statistics.median(pass_s),
            "query_s": {n: statistics.median(v) for n, v in sorted(per_query.items())},
            "table_rows": self.rows,
        }
        return out

    def record(self, spark) -> dict[str, str]:
        """Fingerprint every query's Spark result after checking it
        against the catalog's DuckDB oracle: output type families
        (``assert_dtype_parity``), then values (``frames_match``)."""
        import duckdb

        from tests.oracle_utils import _canon, assert_dtype_parity

        con = duckdb.connect()
        out = {}
        try:
            for t in CORPUS_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'")
            for n, q in sorted(self.queries.items()):
                df = q.fn(spark, self.sf_dir)
                assert_dtype_parity(df, con, q.oracle, n)
                got = df.toPandas()
                con.execute("CREATE OR REPLACE TEMP TABLE __o AS " + q.oracle)
                why = frames_match(got, _canon(con.execute("SELECT * FROM __o").fetchdf()))
                if why:
                    raise AssertionError(f"{n}: Spark result differs from the DuckDB oracle: {why}")
                out[n] = fingerprint(got)
                print(f"recorded {n} {out[n]}", file=sys.stderr, flush=True)
        finally:
            con.close()
        return out


WORKLOADS = {w.name: w for w in (MedallionReplay, CorpusOperators)}
