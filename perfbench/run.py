"""Benchmark of the web-text quality-filter engine (wikidataquality_spark).

    python3 perfbench/run.py [--workload NAME|all] [--seed N] [--seconds S] [--trace 0|1]

Builds seeded inputs (cached under .bench_cache/, outside timing), starts a
local[nproc] session, warms it with the golden pre-flight pass, then repeats
the workload's production path for --seconds and checks its outputs. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
--trace 0 reports the end-to-end metrics; --trace 1 runs the workload once
more layer by layer under Spark job groups with the event log on and
reports per-layer metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_parquet", "warc_recrawl", "stream_incremental")
N_PAGES = 1500
GOLDEN_N, GOLDEN_SEED = 800, 42
GOLDEN_FIXTURE = os.path.join(ROOT, "tests", "fixtures", "golden_labels.parquet")
STREAM_FILES = 8


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all", choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    return ap.parse_args(argv)


def confine(work: str) -> None:
    """Keep every file the run writes inside the checkout, and size the
    session to the host: local[nproc] and a driver heap of an eighth of
    memory (at most 8g)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(8, int(mem_gb // 8)))}g",
    )


def code_hash() -> str:
    """Content hash of the package, keying cached reference outputs."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "wikidataquality_spark")
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) below eleven samples."""
    d = sorted(values)
    if len(d) < 11:
        return d[-1], 100.0
    return d[-11], round(100 * (len(d) - 10) / len(d), 1)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Bench:
    """One process: one session, the shared inputs, the gate."""

    def __init__(self, args):
        from perfbench.checks import Gate
        from perfbench.inputs import Corpus

        self.args = args
        self.work = os.path.join(ROOT, ".bench_work")
        self.cache = os.path.join(ROOT, ".bench_cache")
        self.traces = os.path.join(ROOT, ".bench_traces")
        self.gate = Gate()
        self.corpus = Corpus(self.cache, N_PAGES, args.seed)
        self.ref_path = os.path.join(self.cache, f"ref_{N_PAGES}_{args.seed}_{code_hash()}.parquet")
        self.n_segments = 2 * len(os.sched_getaffinity(0))
        self.spark = None

    # -- inputs that need no session ----------------------------------------
    def build_inputs(self, workloads) -> None:
        from perfbench.inputs import golden_pages

        self.golden_path = golden_pages(self.cache, GOLDEN_N, GOLDEN_SEED)
        self.corpus.build_pages()
        if "stream_incremental" in workloads or ("batch_parquet" in workloads and self.args.trace):
            self.split_dir = self.corpus.build_split(STREAM_FILES)
        self.truth = self.corpus.truth()

    # -- session --------------------------------------------------------------
    def start_session(self) -> None:
        """The shared part of setup_s: get_spark + ensure_shipped + the
        warm-up run, which is the golden pre-flight pass through the batch
        production path (prepare() adds the workload's own warm pass)."""
        from perfbench.checks import preflight
        from perfbench.host import PeakRss
        from perfbench.tracing import Tracer

        self.tracer = tracer = Tracer(uuid.uuid4().hex[:12], enabled=bool(self.args.trace))
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            })
        with tracer.span("session"):
            with tracer.span("session.start"):
                from wikidataquality_spark.deploy import ensure_shipped
                from wikidataquality_spark.session import get_spark

                self.spark = get_spark(app_name="perfbench", extra_conf=conf)
                ensure_shipped(self.spark)
            self.jvm = self.spark.sparkContext._gateway.proc
            self.rss = PeakRss(self.jvm.pid).start()
            tracer.sc = self.spark.sparkContext
            with tracer.span("session.warm"):
                res = self.batch_results(self.golden_path, os.path.join(self.work, "preflight"))
        self.setup_s = tracer.duration("session")
        preflight(self.gate, res, GOLDEN_FIXTURE)

    def stop(self) -> None:
        """Stop the session and wait for the gateway JVM (and with it the
        Python workers) to exit. Idempotent."""
        if self.spark is None:
            return
        self.rss.stop()
        self.spark.stop()
        self.spark = None
        self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        self.jvm.wait(timeout=60)

    # -- production path --------------------------------------------------------
    def batch_results(self, pages_path: str, out_dir: str):
        from perfbench.chain import validate_and_write
        from perfbench.checks import read_results

        _, persisted = validate_and_write(self.spark.read.parquet(pages_path), out_dir, pages_path)
        for df in persisted:
            df.unpersist()
        return read_results(self.spark, os.path.join(out_dir, "results"))

    def reference(self):
        """batch_parquet results for this seed: cached per package content,
        computed untimed when no batch run of this checkout left them."""
        import pandas as pd

        if not os.path.exists(self.ref_path):
            self.save_reference(
                self.batch_results(self.corpus.pages_path, os.path.join(self.work, "reference"))
            )
        ref = pd.read_parquet(self.ref_path)
        ref["violated_rules"] = ref["violated_rules"].map(tuple)
        return ref

    def save_reference(self, res) -> None:
        staging = f"{self.ref_path}.staging.{os.getpid()}"
        res[["url", "keep", "violated_rules", "scrubbed_text"]].to_parquet(staging)
        os.replace(staging, self.ref_path)

    def timed_loop(self, iteration) -> list[float]:
        """Run iteration(i) -> seconds until --seconds have passed (at
        least once)."""
        times: list[float] = []
        start = time.perf_counter()
        while not times or time.perf_counter() - start < self.args.seconds:
            times.append(iteration(len(times)))
        return times

    def prepare(self, name: str) -> dict:
        """The workload's session-side inputs, then one untimed pass over
        its own input so the timed loop starts warm: batch_parquet and
        stream_incremental run their whole path, warc_recrawl its ingest
        (the rest of its path is the batch path the pre-flight warmed). The
        pass counts in the workload's setup_s; a job pays it once per
        session."""
        from perfbench.chain import ingest_warc, run_stream
        from perfbench.inputs import warc_segments

        pages = self.corpus.pages_path
        wl = {"source": pages, "ingest": lambda: self.spark.read.parquet(pages), "n_in": N_PAGES,
              "rows": N_PAGES, "twins": []}
        if name == "warc_recrawl":
            warc_dir = self.corpus.build_warc(self.spark, self.n_segments)
            # one segment per binaryFile task, as tools/ingest_bench.py sizes it
            seg = max(os.path.getsize(p) for p in warc_segments(warc_dir))
            self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(seg))
            truth = self.corpus.warc_truth(self.n_segments)
            wl.update(source=warc_dir, ingest=lambda: ingest_warc(self.spark, warc_dir),
                      n_in=truth["records"], rows=N_PAGES + len(truth["twins"]), twins=truth["twins"])
        with self.tracer.span(f"session.warm_{name}"):
            if name == "warc_recrawl":
                wl["ingest"]().write.format("noop").mode("overwrite").save()
            elif name == "batch_parquet":
                self.save_reference(self.batch_results(pages, os.path.join(self.work, "warm")))
            else:
                run_stream(self.spark, self.split_dir, os.path.join(self.work, "warm"))
        wl["setup_s"] = self.setup_s + self.tracer.duration(f"session.warm_{name}")
        return wl

    def run_workload(self, name: str) -> dict:
        from perfbench.chain import validate_and_write
        from perfbench.checks import cross_check, read_metrics, read_results, twin_affected, warc_docs, workload_checks
        from wikidataquality_spark.pipeline import PIPELINE_RULES

        wl = self.prepare(name)
        wdir = os.path.join(self.work, name)
        if name == "stream_incremental":
            return self.run_stream(wdir, wl)

        def iteration(i: int) -> float:
            out = os.path.join(wdir, f"iter-{i}")
            t0 = time.perf_counter()
            entry, persisted = validate_and_write(wl["ingest"](), out, wl["source"])
            elapsed = time.perf_counter() - t0
            for df in persisted:
                df.unpersist()
            shutil.rmtree(os.path.join(wdir, f"iter-{i - 1}"), ignore_errors=True)
            self.gate.check(f"{name}.run{i}.rows", entry["rows"] == wl["rows"],
                            f"{entry['rows']} rows written, expected {wl['rows']}")
            self.last_out = out
            return elapsed

        times = self.timed_loop(iteration)
        res = read_results(self.spark, os.path.join(self.last_out, "results"))
        met = read_metrics(self.spark, os.path.join(self.last_out, "metrics"))
        rule_ids = [r.rule_id for r in PIPELINE_RULES]
        workload_checks(self.gate, name, res, met, warc_docs(self.truth, wl["twins"]), rule_ids)
        if name == "warc_recrawl":
            excluded = twin_affected(self.truth, wl["twins"])
            compared = cross_check(self.gate, f"{name}.same_as_batch", res, self.reference(), excluded)
            print(f"{name}: compared {compared} urls with batch_parquet, excluded {len(excluded)} "
                  f"next to {len(wl['twins'])} surviving http/https twins")
        med = statistics.median(times)
        print(f"{name}: {len(times)} runs, median {med:.3f}s, runs {[round(t, 3) for t in times]}")
        return {
            "setup_s": metric(wl["setup_s"], "s"),
            "docs_per_s": metric(wl["n_in"] / med, "docs/s"),
            "peak_rss_mb": metric(self.rss.peak_mb, "MB"),
        }

    def run_stream(self, wdir: str, wl: dict) -> dict:
        from perfbench.chain import run_stream
        from perfbench.checks import cross_check, read_results, workload_checks

        runs: list[dict] = []

        def iteration(i: int) -> float:
            run = run_stream(self.spark, self.split_dir, os.path.join(wdir, f"iter-{i}"))
            for j in range(STREAM_FILES):
                self.gate.check(f"stream_incremental.run{i}.epoch{j}", j < len(run["epochs"]),
                                f"{len(run['epochs'])} epochs for {STREAM_FILES} files")
            runs.append(run)
            return run["wall_s"]

        times = self.timed_loop(iteration)
        res = read_results(self.spark, runs[-1]["sink"])
        workload_checks(self.gate, "stream_incremental", res, None, self.truth, [])
        cross_check(self.gate, "stream_incremental.same_as_batch", res, self.reference())
        epochs = [e["trigger_s"] for r in runs for e in r["epochs"]]
        tail_s, tail_pct = tail(epochs)
        print(f"stream_incremental: {len(runs)} runs, {len(epochs)} epochs, tail = p{tail_pct}")
        return {
            "setup_s": metric(wl["setup_s"], "s"),
            "docs_per_s": metric(N_PAGES / statistics.median(times), "docs/s"),
            "epoch_p50_s": metric(statistics.median(epochs), "s"),
            "epoch_tail_s": metric(tail_s, "s"),
            "peak_rss_mb": metric(self.rss.peak_mb, "MB"),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "wikidataquality_spark")) or not os.path.exists(GOLDEN_FIXTURE):
        print("perfbench: wikidataquality_spark/ or its golden fixture is missing beside perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    confine(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    from perfbench.host import host_info

    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    host = host_info()
    print("host " + json.dumps(host), flush=True)
    bench = Bench(args)
    bench.build_inputs(workloads)
    try:
        bench.start_session()
        if args.trace:
            from perfbench.tracing import traced_run

            metrics = traced_run(bench, workloads[0])
        else:
            metrics = {}
            for name in workloads:
                m = bench.run_workload(name)
                bench.spark.conf.unset("spark.sql.files.maxPartitionBytes")
                m["success_rate"] = metric(1 - bench.gate.failed / bench.gate.attempted, "ratio")
                metrics.update(m if len(workloads) == 1 else {f"{name}.{k}": v for k, v in m.items()})
    except Exception:
        traceback.print_exc()
        bench.gate.attempted += 1
        bench.gate.failed += 1
        metrics = {}
    finally:
        bench.stop()
    gate = bench.gate
    print(f"error_rate {gate.failed}/{gate.attempted}")
    print(json.dumps({"correct": gate.failed == 0, "attempted": gate.attempted, "failed": gate.failed,
                      "metrics": metrics}))
    return 0 if gate.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
