"""Per-layer metrics from a span file, and the traced-run report.

A layer's self time is its spans' durations minus the part of each
interval that the span's children cover. Counts (jobs, records,
bytes) are inclusive: a span owns the Spark jobs of its whole subtree,
so a writer call inside ``silver.run_batch`` counts for both layers.
Nested calls within one layer are counted once, at the outermost span.

    python3 perfbench/report.py .perfbench/results/<run>.spans.jsonl
"""

from __future__ import annotations

import json
import statistics
import sys

# Per-layer metric names as they appear in BENCHMARK.json, grouped by
# layer. Layers idle on a workload report 0.
MEDALLION_LAYERS = ("pipeline.bronze", "pipeline.silver", "pipeline.gold")
MEDALLION_METRICS = (
    "self_s",
    "jobs",
    "input_records",
    "output_records",
    "read_amplification",
    "shuffle_bytes",
    "spill_bytes",
)
OPERATOR_LAYERS = ("operators.dedup", "operators.similarity", "operators.graph")
SPARK_METRICS = (
    "task_s",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "task_skew",
    "idle_share",
    "cached_blocks_after",
)

# (metric, unit) in BENCHMARK.json order.
PER_LAYER: list[tuple[str, str]] = (
    [
        (f"{layer}.{m}", unit)
        for layer in MEDALLION_LAYERS
        for m, unit in zip(
            MEDALLION_METRICS, ("s", "count", "count", "count", "ratio", "bytes", "bytes")
        )
    ]
    + [
        ("pipeline.dims.self_s", "s"),
        ("pipeline.dims.jobs", "count"),
        ("pipeline.dims.output_bytes", "bytes"),
        ("sources.writers.calls", "count"),
        ("sources.writers.self_s", "s"),
        ("sources.writers.output_bytes", "bytes"),
        ("sources.writers.files_written", "count"),
        ("sources.jsonl.self_s", "s"),
        ("pipeline.analytics.plan_s", "s"),
        ("pipeline.analytics.exec_s", "s"),
        ("pipeline.analytics.jobs", "count"),
        ("pipeline.analytics.input_bytes", "bytes"),
        ("pipeline.analytics.cache_scan_share", "ratio"),
        ("pipeline.runner.jobs_per_interval", "count"),
        ("pipeline.silver.read_amplification_first_interval", "ratio"),
        ("pipeline.silver.read_amplification_last_interval", "ratio"),
        ("queries.build_s", "s"),
        ("queries.build_jobs", "count"),
        ("queries.exec_s", "s"),
        ("queries.exec_jobs", "count"),
    ]
    + [
        (f"{layer}.{m}", unit)
        for layer in OPERATOR_LAYERS
        for m, unit in (("calls", "count"), ("self_s", "s"), ("eager_jobs", "count"))
    ]
    + [
        (f"spark.{m}", unit)
        for m, unit in zip(
            SPARK_METRICS, ("s", "ms", "bytes", "bytes", "ratio", "ratio", "count")
        )
    ]
    + [("trace.overhead_s", "s")]
)

# Which end-to-end metric each layer metric should move, and where
# (written down before measuring; a later change checks its saving
# against these rows).
PREDICTIONS: list[tuple[str, str]] = [
    ("pipeline.bronze/silver/gold.*",
     "op_mean_s and pass_s on medallion_replay (silver read_amplification climbs "
     "across intervals); nothing on corpus_operators"),
    ("pipeline.dims.*", "op_mean_s on medallion_replay (upsert_dim_user runs every interval)"),
    ("sources.writers.*",
     "pass_s and the freshness part of op_mean_s on medallion_replay (small files)"),
    ("sources.jsonl.self_s", "op_mean_s on medallion_replay"),
    ("pipeline.analytics.*", "op_mean_s on medallion_replay (uncached freshness read)"),
    ("queries.*", "pass_s and op_mean_s on corpus_operators"),
    ("operators.*",
     "pass_s on corpus_operators; operators.dedup.eager_jobs drops by 1 per "
     "minhash_lsh_pairs call when the max-size probe goes (ROADMAP 3(b))"),
    ("spark.task_skew", "pass_s on corpus_operators (single-task cross expansion, ROADMAP 3(a))"),
    ("spark.cached_blocks_after", "a leak here slows later operations on every workload"),
]


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the union of its children's intervals,
    clipped to the span."""
    lo, hi = span["start"], span["end"]
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda c: c["start"]):
        a, b = max(c["start"], lo), min(c["end"], hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


class SpanTree:
    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.by_id = {s["span_id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {s["span_id"]: [] for s in spans}
        for s in spans:
            if s["parent_id"] is not None:
                self.children[s["parent_id"]].append(s)
        self.roots = [s for s in spans if s["parent_id"] is None]
        self._incl: dict[int, dict] = {}

    def self_s(self, s: dict) -> float:
        return self_time(s, self.children[s["span_id"]])

    def inclusive(self, s: dict) -> dict:
        """Own stage sums + jobs + files of the span's whole subtree."""
        sid = s["span_id"]
        if sid not in self._incl:
            tot = dict(s["stage_sums"])
            tot["jobs"] = s["jobs"]
            tot["files_written"] = s["attrs"].get("files_written", 0)
            for c in self.children[sid]:
                for k, v in self.inclusive(c).items():
                    tot[k] = tot.get(k, 0) + v
            self._incl[sid] = tot
        return self._incl[sid]

    def outermost(self, pred) -> list[dict]:
        """Spans matching ``pred`` with no matching ancestor."""
        out = []
        for s in self.spans:
            if not pred(s):
                continue
            p = s["parent_id"]
            while p is not None and not pred(self.by_id[p]):
                p = self.by_id[p]["parent_id"]
            if p is None:
                out.append(s)
        return out

    def slowest_stage(self, s: dict) -> tuple[int, float]:
        best = (s["slowest_stage_ms"], s["slowest_stage_skew"])
        for c in self.children[s["span_id"]]:
            cand = self.slowest_stage(c)
            if cand[0] > best[0]:
                best = cand
        return best


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _sum(tree: SpanTree, spans: list[dict], key: str) -> int:
    return sum(tree.inclusive(s).get(key, 0) for s in spans)


def layer_metrics(spans: list[dict], cores: int, overhead_s: float = 0.0) -> dict[str, float]:
    """Every PER_LAYER metric from one run's spans."""
    tree = SpanTree(spans)
    out: dict[str, float] = {}

    def in_layer(layer):
        return lambda s: s["layer"] == layer

    def self_sum(layer):
        return sum(tree.self_s(s) for s in spans if s["layer"] == layer)

    for layer in MEDALLION_LAYERS:
        top = tree.outermost(in_layer(layer))
        rin, rout = _sum(tree, top, "inputRecords"), _sum(tree, top, "outputRecords")
        out[f"{layer}.self_s"] = self_sum(layer)
        out[f"{layer}.jobs"] = _sum(tree, top, "jobs")
        out[f"{layer}.input_records"] = rin
        out[f"{layer}.output_records"] = rout
        out[f"{layer}.read_amplification"] = _ratio(rin, rout)
        out[f"{layer}.shuffle_bytes"] = _sum(tree, top, "shuffleReadBytes") + _sum(
            tree, top, "shuffleWriteBytes"
        )
        out[f"{layer}.spill_bytes"] = _sum(tree, top, "memoryBytesSpilled") + _sum(
            tree, top, "diskBytesSpilled"
        )

    dims = tree.outermost(in_layer("pipeline.dims"))
    out["pipeline.dims.self_s"] = self_sum("pipeline.dims")
    out["pipeline.dims.jobs"] = _sum(tree, dims, "jobs")
    out["pipeline.dims.output_bytes"] = _sum(tree, dims, "outputBytes")

    writes = tree.outermost(in_layer("sources.writers"))
    out["sources.writers.calls"] = len(writes)
    out["sources.writers.self_s"] = self_sum("sources.writers")
    out["sources.writers.output_bytes"] = _sum(tree, writes, "outputBytes")
    out["sources.writers.files_written"] = _sum(tree, writes, "files_written")
    out["sources.jsonl.self_s"] = self_sum("sources.jsonl")

    # analytics: wrapped plan-side calls plus the benchmark's own
    # ``pipeline.analytics.exec`` spans around the result fetch
    plan = [
        s
        for s in tree.outermost(in_layer("pipeline.analytics"))
        if s["name"] != "pipeline.analytics.exec"
    ]
    execs = [s for s in spans if s["name"] == "pipeline.analytics.exec"]
    out["pipeline.analytics.plan_s"] = sum(s["end"] - s["start"] for s in plan)
    out["pipeline.analytics.exec_s"] = sum(s["end"] - s["start"] for s in execs)
    out["pipeline.analytics.jobs"] = _sum(tree, plan + execs, "jobs")
    out["pipeline.analytics.input_bytes"] = _sum(tree, plan + execs, "inputBytes")
    mem = sum(s["attrs"].get("cached_scans", 0) for s in execs)
    files = sum(s["attrs"].get("file_scans", 0) for s in execs)
    out["pipeline.analytics.cache_scan_share"] = _ratio(mem, mem + files)

    series = interval_series(tree)
    out["pipeline.runner.jobs_per_interval"] = (
        statistics.mean(r["jobs"] for r in series) if series else 0.0
    )
    out["pipeline.silver.read_amplification_first_interval"] = (
        series[0]["silver_read_amplification"] if series else 0.0
    )
    out["pipeline.silver.read_amplification_last_interval"] = (
        series[-1]["silver_read_amplification"] if series else 0.0
    )

    builds = [s for s in spans if s["name"] == "queries.build"]
    execs = [s for s in spans if s["name"] == "queries.exec"]
    out["queries.build_s"] = sum(s["end"] - s["start"] for s in builds)
    out["queries.build_jobs"] = _sum(tree, builds, "jobs")
    out["queries.exec_s"] = sum(s["end"] - s["start"] for s in execs)
    out["queries.exec_jobs"] = _sum(tree, execs, "jobs")

    for layer in OPERATOR_LAYERS:
        top = tree.outermost(in_layer(layer))
        out[f"{layer}.calls"] = len(top)
        out[f"{layer}.self_s"] = self_sum(layer)
        out[f"{layer}.eager_jobs"] = _sum(tree, top, "jobs")

    roots = tree.roots
    task_ms = _sum(tree, roots, "executorRunTime")
    wall = sum(s["end"] - s["start"] for s in roots)
    out["spark.task_s"] = task_ms / 1000.0
    out["spark.gc_ms"] = _sum(tree, roots, "jvmGcTime")
    out["spark.shuffle_read_bytes"] = _sum(tree, roots, "shuffleReadBytes")
    out["spark.shuffle_write_bytes"] = _sum(tree, roots, "shuffleWriteBytes")
    out["spark.task_skew"] = max((tree.slowest_stage(s)[1] for s in roots), default=0.0)
    out["spark.idle_share"] = 1.0 - _ratio(task_ms / 1000.0, wall * cores) if wall else 0.0
    out["spark.cached_blocks_after"] = roots[-1]["cached_blocks_after"] if roots else 0
    out["trace.overhead_s"] = overhead_s
    return out


def interval_series(tree: SpanTree) -> list[dict]:
    """Per replayed interval: Spark jobs of ``incremental_run``, silver
    read amplification, wall seconds."""
    rows = []
    for s in tree.roots:
        if s["name"] != "medallion.interval":
            continue
        silver = tree.outermost(
            lambda x, root=s["span_id"]: x["layer"] == "pipeline.silver" and _under(tree, x, root)
        )
        rin, rout = _sum(tree, silver, "inputRecords"), _sum(tree, silver, "outputRecords")
        # jobs of incremental_run alone: the interval span also holds
        # the freshness read, whose jobs count under pipeline.analytics
        runs = [c for c in tree.children[s["span_id"]] if c["name"] == "medallion.incremental_run"]
        rows.append(
            {
                "interval": s["attrs"].get("interval"),
                "jobs": _sum(tree, runs, "jobs"),
                "silver_read_amplification": _ratio(rin, rout),
                "wall_s": s["end"] - s["start"],
            }
        )
    return rows


def _under(tree: SpanTree, s: dict, root_id: int) -> bool:
    p = s["parent_id"]
    while p is not None:
        if p == root_id:
            return True
        p = tree.by_id[p]["parent_id"]
    return False


def check_nesting(spans: list[dict]) -> list[str]:
    """Spans whose children's time exceeds their own (should be none)."""
    tree = SpanTree(spans)
    bad = []
    for s in spans:
        kids = tree.children[s["span_id"]]
        if sum(c["end"] - c["start"] for c in kids) > (s["end"] - s["start"]) + 1e-6:
            bad.append(s["name"])
    return bad


def load_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    spans = load_spans(argv[0])
    header = json.loads(open(argv[0].replace(".spans.jsonl", ".result.json")).read())
    cores = header["stamp"]["nproc"]
    metrics = layer_metrics(spans, cores, header.get("trace_overhead_s", 0.0))
    print(f"# per-layer report: {argv[0]}")
    print(f"workload={header['workload']} seed={header['seed']} nproc={cores} spans={len(spans)}")
    bad = check_nesting(spans)
    print(f"spans whose children outlast them: {len(bad)} {bad[:5]}")
    for name, unit in PER_LAYER:
        print(f"{name:55s} {metrics[name]:>16.4f} {unit}")
    rows = interval_series(SpanTree(spans))
    if rows:
        print("\ninterval  jobs  silver_read_amplification  wall_s")
        for r in rows:
            print(f"{r['interval']:>8}  {r['jobs']:>4}  {r['silver_read_amplification']:>25.3f}  {r['wall_s']:.3f}")
    print("\npredicted interactions (layer metric -> end-to-end metric it should move):")
    for layer, moves in PREDICTIONS:
        print(f"  {layer}: {moves}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
