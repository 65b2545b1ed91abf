"""The production path the benchmark times, and the layer-isolated chain the
traced run times layer by layer.

`ingest_warc` + `validate_and_write` make the calls tools/run_pipeline.py
makes, in its order. `isolated_chain` re-composes validate() from the same
operators with every layer materialized on its own; checks.py compares its
results with validate()'s, so a drift in validate's composition fails the
run instead of silently detaching the trace from the timed path.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

RESULT_COLS = (
    "url", "warc_ts", "lang", "lang_pred", "lang_conf", "perplexity",
    "keep", "scrubbed_text", "violations", "violated_rules",
)


def _no_group(_name: str):
    return nullcontext()


def ingest_warc(spark, warc_dir: str):
    from wikidataquality_spark.io.warc import read_warc, warc_to_documents
    from wikidataquality_spark.operators.dedup import drop_url_dups_narrow

    return drop_url_dups_narrow(warc_to_documents(read_warc(spark, warc_dir)))


def validate_and_write(pages, out_dir: str, input_snapshot: str, group=_no_group) -> tuple[dict, list]:
    """run_pipeline's path from the ingested pages to the committed metrics
    table. Returns the results manifest entry and validate()'s persisted
    intermediates, which the caller releases after its timed region."""
    from wikidataquality_spark.io.catalog import write_partitioned
    from wikidataquality_spark.metrics import partition_column, rule_metrics
    from wikidataquality_spark.pipeline import results, validate

    pages = partition_column(pages, by="date")
    with group("prod.probe"):
        if pages.isEmpty():
            raise RuntimeError(f"no input documents in {input_snapshot}")
    persisted: list = []
    with group("prod.validate"):
        validated = validate(pages, persist_registry=persisted)
    out = validated.select(*results(validated).columns, "partition")
    with group("prod.write"):
        entry = write_partitioned(
            out, os.path.join(out_dir, "results"), partition_col="partition",
            input_snapshot=input_snapshot, config_fingerprint={"normalize": False},
        )
    with group("prod.metrics"):
        write_partitioned(
            rule_metrics(validated, by="date"), os.path.join(out_dir, "metrics"),
            partition_col="partition", run_id=entry["run_id"], input_snapshot=input_snapshot,
        )
    return entry, persisted


def isolated_chain(spark, tracer, pages_path: str | None, warc_dir: str | None, out_dir: str) -> dict:
    """validate()'s composition with each layer in its own span and job
    group, its output persisted and computed before the next layer starts.
    Returns the persisted frames and counts the per-layer metrics need."""
    from pyspark.sql import functions as F

    from wikidataquality_spark.io.catalog import write_partitioned
    from wikidataquality_spark.io.warc import read_warc, warc_to_documents
    from wikidataquality_spark.metrics import partition_column, rule_metrics
    from wikidataquality_spark.operators.dedup import drop_url_dups_narrow, dup_marks
    from wikidataquality_spark.operators.scrub import scrub_column
    from wikidataquality_spark.pipeline import PipelineConfig, validate
    from wikidataquality_spark.rules.builder import apply_rules

    from perfbench.tracing import materialize

    cfg = PipelineConfig()
    out: dict = {"frames": []}
    with tracer.span("chain"):
        if warc_dir is not None:
            with tracer.span("io.warc"):
                raw = materialize(read_warc(spark, warc_dir))
            with tracer.span("dedup.url"):
                pages = materialize(drop_url_dups_narrow(warc_to_documents(raw)))
            out["frames"] += [raw, pages]
            out["warc_records"] = raw.count()
            out["url_survivors"] = [r.url for r in pages.select("url").collect()]
        else:
            pages = spark.read.parquet(pages_path)
        pages = partition_column(pages, by="date")
        persisted: list = []
        with tracer.span("enrich"):  # validate() computes and seals the enrich pass eagerly
            validate(pages, config=cfg, persist_registry=persisted)
        enriched = persisted[0]
        out["frames"] += persisted
        with tracer.span("dedup"):
            marked = materialize(
                dup_marks(enriched, text_col="text_extracted", id_col=cfg.id_col, sig_col="minhash_sig")
            )
        with tracer.span("rules"):
            ruled = materialize(apply_rules(marked, list(cfg.rules)))
        with tracer.span("scrub"):
            scrubbed = materialize(ruled.withColumn("scrubbed_text", scrub_column("text_extracted")))
        out["frames"] += [marked, ruled, scrubbed]
        with tracer.span("io.catalog"):
            entry = write_partitioned(
                scrubbed.select(*RESULT_COLS, "partition"), os.path.join(out_dir, "results"),
                partition_col="partition",
            )
        with tracer.span("metrics"):
            write_partitioned(
                rule_metrics(scrubbed, by="date"), os.path.join(out_dir, "metrics"),
                partition_col="partition", run_id=entry["run_id"],
            )
    row = marked.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("is_exact_dup").cast("int")).alias("exact"),
        F.sum(F.col("is_near_dup").cast("int")).alias("near"),
    ).first()
    out.update(rows=row["rows"], exact_flagged=row["exact"], near_flagged=row["near"])
    out["kept"] = ruled.filter(F.col("keep")).count()
    out["results_dir"] = os.path.join(out_dir, "results")
    return out


def run_stream(spark, split_dir: str, work_dir: str) -> dict:
    """One closed-loop incremental run: every split file is one micro-batch
    (maxFilesPerTrigger=1), and the next epoch starts only after the
    previous one committed. Returns wall time and per-epoch progress."""
    from wikidataquality_spark.streaming.windows import incremental_validate

    shutil.rmtree(work_dir, ignore_errors=True)
    schema = spark.read.parquet(split_dir).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(split_dir)
    dirs = {k: os.path.join(work_dir, k) for k in ("sink", "checkpoint", "state")}
    t0 = time.perf_counter()
    query = incremental_validate(spark, stream, dirs["sink"], dirs["checkpoint"], state_dir=dirs["state"])
    try:
        query.awaitTermination()
    finally:
        query.stop()
    wall = time.perf_counter() - t0
    progress = [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]
    epochs = [
        {
            "trigger_s": p["durationMs"]["triggerExecution"] / 1000,
            "add_batch_s": p["durationMs"].get("addBatch", 0) / 1000,
        }
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    return {"wall_s": wall, "epochs": epochs, **dirs}
