"""Spans around calls into the package's layers, and the Spark event-log
task metrics keyed by the job group each span runs under.

A span is (name, start, end, parent, run_id). Spans live in memory and are
written out once, at the end of the traced run. A traced span also names
the Spark job group of every job it launches, so the event log attributes
each stage's task metrics to exactly one span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans are always recorded (they are cheap); job groups are set only
    when tracing is enabled and a SparkContext has been attached (`sc`)."""

    def __init__(self, run_id: str, enabled: bool):
        self.sc = None
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _set_group(self, name: str | None) -> None:
        if self.enabled and self.sc is not None:
            if name is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        """Time the block as a child of the innermost open span, running its
        Spark jobs under job group `name`."""
        parent = self._stack[-1] if self._stack else None
        self._set_group(name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id}
            )

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it that child spans cover."""
        out = {}
        for s in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in self.spans if c["parent"] == s["name"]]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def materialize(df):
    """Persist and compute every partition without collecting anything, so
    the enclosing span covers this layer's work and the next layer reads
    the cache."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: summed task run time, spill and shuffle-write bytes,
    per-stage task run times, and the number of files the binaryFile scans
    (the WARC segments) read. Parsed the way tools/shuffle_audit.py does:
    one pass maps stages to groups and finds the scan nodes' row counters
    in the SQL plans, a second attributes task ends."""
    paths = [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(log_dir)
        for name in files
        if not name.startswith("appstatus")
    ]

    def events():
        for path in sorted(paths):
            with open(path) as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue

    def scan_row_counters(node: dict):
        if node.get("nodeName", "").startswith("Scan binaryFile"):
            yield from (m["accumulatorId"] for m in node["metrics"] if m["name"] == "number of output rows")
        for child in node.get("children", []):
            yield from scan_row_counters(child)

    stage_group: dict[int, str] = {}
    scan_ids: set[int] = set()
    for e in events():
        if e.get("Event") == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for si in e.get("Stage Infos", []):
                    stage_group.setdefault(si["Stage ID"], group)
        elif "sparkPlanInfo" in e:  # SQL execution start / adaptive re-plan
            scan_ids.update(scan_row_counters(e["sparkPlanInfo"]))

    agg: dict[str, dict] = {}
    for e in events():
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(e.get("Stage ID"))
        tm = e.get("Task Metrics")
        if group is None or tm is None:
            continue
        b = agg.setdefault(
            group,
            {"task_run_s": 0.0, "spill_bytes": 0, "shuffle_write_bytes": 0, "stage_tasks": {}, "warc_files_read": 0},
        )
        run_s = tm.get("Executor Run Time", 0) / 1000
        b["task_run_s"] += run_s
        b["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        b["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        b["stage_tasks"].setdefault(e["Stage ID"], []).append(run_s)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in scan_ids:
                b["warc_files_read"] += int(acc.get("Update", 0))
    return agg


def task_skew(stage_tasks: dict[int, list[float]]) -> float:
    """max/median task run time of the stage with the most total task time
    (the stage that bounds the layer); 1.0 when there is no such stage."""
    stages = [t for t in stage_tasks.values() if len(t) > 1]
    if not stages:
        return 1.0
    worst = max(stages, key=sum)
    med = statistics.median(worst)
    return max(worst) / med if med > 0 else 1.0


def _dir_files(path: str) -> list[str]:
    return [os.path.join(r, f) for r, _d, files in os.walk(path) for f in files if f.endswith(".parquet")]


def traced_run(bench, name: str) -> dict:
    """The workload once through the production path (its calls under job
    groups, nothing extra materialized) and once through the layer-isolated
    chain; batch_parquet also drives the corpus through the closed-loop
    stream. Returns the per-layer metrics."""
    from perfbench.chain import isolated_chain, run_stream, validate_and_write
    from perfbench.checks import cross_check, read_results
    from perfbench.inputs import warc_segments

    spark, tracer, gate = bench.spark, bench.tracer, bench.gate
    work = os.path.join(bench.work, "traced")
    wl = bench.prepare(name)
    warc_dir = wl["source"] if name == "warc_recrawl" else None

    with tracer.span("prod"):
        _, persisted = validate_and_write(wl["ingest"](), os.path.join(work, "prod"), wl["source"],
                                          group=tracer.span)
    for df in persisted:
        df.unpersist()
    chain = isolated_chain(spark, tracer, None if warc_dir else wl["source"], warc_dir,
                           os.path.join(work, "chain"))
    prod_res = read_results(spark, os.path.join(work, "prod", "results"))
    cross_check(gate, f"{name}.isolated_chain_same_as_validate",
                read_results(spark, chain["results_dir"]), prod_res)
    for df in chain["frames"]:
        df.unpersist()

    stream = {"stream.epochs": 0, "stream.add_batch_s": 0.0, "stream.epoch_overhead_s": 0.0,
              "stream.state.rows": 0, "stream.state.bytes": 0, "stream.latency_growth": 0.0}
    if name == "batch_parquet":
        with tracer.span("stream"):
            run = run_stream(spark, bench.split_dir, os.path.join(work, "stream"))
        cross_check(gate, "stream_incremental.same_as_batch", read_results(spark, run["sink"]), prod_res)
        ep = run["epochs"]
        q = max(1, len(ep) // 4)
        trig = [e["trigger_s"] for e in ep]
        stream = {
            "stream.epochs": len(ep),
            "stream.add_batch_s": statistics.median(e["add_batch_s"] for e in ep),
            "stream.epoch_overhead_s": statistics.median(e["trigger_s"] - e["add_batch_s"] for e in ep),
            "stream.state.rows": spark.read.parquet(run["state"]).count(),
            "stream.state.bytes": sum(os.path.getsize(p) for p in _dir_files(run["state"])),
            "stream.latency_growth": statistics.median(trig[-q:]) / statistics.median(trig[:q]),
        }

    bench.stop()  # flushes and closes the event log
    ev = event_log_metrics(bench.event_dir)
    selfs = tracer.self_times()
    layers = ("io.warc", "dedup.url", "enrich", "dedup", "rules", "scrub", "io.catalog", "metrics")
    chain_groups = [ev.get(g, {}) for g in layers]
    prod_groups = [v for g, v in ev.items() if g.startswith("prod.")]
    untraced = tracer.duration("prod")
    self_sum = sum(selfs.get(g, 0.0) for g in layers)
    span_file = os.path.join(bench.traces, f"{name}-seed{bench.args.seed}-{tracer.run_id}.json")
    tracer.write(span_file)
    print(f"trace: spans in {span_file}")
    print(f"trace: layer self times sum {self_sum:.3f}s (chain {tracer.duration('chain'):.3f}s, "
          f"unattributed {selfs.get('chain', 0.0):.3f}s) vs untraced wall {untraced:.3f}s")

    records = chain.get("warc_records", 0)
    survivors = chain.get("url_survivors", [])
    no_scheme = [u.split("://", 1)[1] for u in survivors]
    twins_kept = len(no_scheme) - len(set(no_scheme))
    files = _dir_files(chain["results_dir"])
    warc_files = warc_segments(warc_dir) if warc_dir else []
    dedup_ev = ev.get("dedup", {})
    values = {
        "session.start_s": (tracer.duration("session.start"), "s"),
        "session.warm_s": (wl["setup_s"] - tracer.duration("session.start"), "s"),
        "io.warc.parse_s": (selfs.get("io.warc", 0.0), "s"),
        "io.warc.records": (records, "count"),
        "io.warc.bytes_in": (sum(os.path.getsize(p) for p in warc_files), "bytes"),
        "io.warc.scan_passes": (
            sum(g.get("warc_files_read", 0) for g in prod_groups) / len(warc_files) if warc_files else 0.0,
            "count",
        ),
        "dedup.url.s": (selfs.get("dedup.url", 0.0), "s"),
        "dedup.url.drop_ratio": (1 - len(survivors) / records if records else 0.0, "ratio"),
        "dedup.url.scheme_twins_kept": (twins_kept, "count"),
        "enrich.s": (selfs["enrich"], "s"),
        "enrich.rows": (chain["rows"], "count"),
        "enrich.rows_per_s": (chain["rows"] / selfs["enrich"], "rows/s"),
        "dedup.s": (selfs["dedup"], "s"),
        "dedup.exact_flagged": (chain["exact_flagged"], "count"),
        "dedup.near_flagged": (chain["near_flagged"], "count"),
        "dedup.shuffle_write_bytes": (dedup_ev.get("shuffle_write_bytes", 0), "bytes"),
        "dedup.task_skew": (task_skew(dedup_ev.get("stage_tasks", {})), "ratio"),
        "rules.s": (selfs["rules"], "s"),
        "rules.keep_ratio": (chain["kept"] / chain["rows"], "ratio"),
        "scrub.s": (selfs["scrub"], "s"),
        "io.catalog.write_s": (selfs["io.catalog"], "s"),
        "io.catalog.files_written": (len(files), "count"),
        "io.catalog.bytes_written": (sum(os.path.getsize(p) for p in files), "bytes"),
        "metrics.s": (selfs["metrics"], "s"),
        "metrics.shuffle_write_bytes": (ev.get("prod.metrics", {}).get("shuffle_write_bytes", 0), "bytes"),
        "stream.epochs": (stream["stream.epochs"], "count"),
        "stream.add_batch_s": (stream["stream.add_batch_s"], "s"),
        "stream.epoch_overhead_s": (stream["stream.epoch_overhead_s"], "s"),
        "stream.state.rows": (stream["stream.state.rows"], "count"),
        "stream.state.bytes": (stream["stream.state.bytes"], "bytes"),
        "stream.latency_growth": (stream["stream.latency_growth"], "ratio"),
        "spark.task_busy_s": (sum(g.get("task_run_s", 0.0) for g in chain_groups), "s"),
        "spark.spill_bytes": (sum(g.get("spill_bytes", 0) for g in chain_groups), "bytes"),
        "trace.self_sum_s": (self_sum, "s"),
        "trace.untraced_wall_s": (untraced, "s"),
        "trace.overhead_ratio": (tracer.duration("chain") / untraced, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
