"""The correctness gate: every check is one counted operation, and any
failure makes the run incorrect and its exit code non-zero.

  - preflight: the frozen 800-row seed-42 corpus against
    tests/fixtures/golden_labels.parquet (keep F1 >= 0.99, scrubbed text
    byte-identical), read-only;
  - per workload: each expected url exactly once, rule-metric counts add up
    to row counts, planted gibberish and non-survivor exact dups dropped, no
    email or blockword left in scrubbed text;
  - across workloads: warc_recrawl and stream_incremental agree with
    batch_parquet per url on keep, violated_rules and scrubbed_text;
  - traced run: the layer-isolated chain agrees with validate() per url.
"""

from __future__ import annotations

import re
import sys

import pandas as pd

F1_FLOOR = 0.99
COMPARED = ("keep", "violated_rules", "scrubbed_text")
_EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")


class Gate:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr, flush=True)
        return ok


def read_results(spark, results_dir: str) -> pd.DataFrame:
    df = spark.read.parquet(results_dir)
    cols = [c for c in ("url", "keep", "violated_rules", "scrubbed_text", "partition") if c in df.columns]
    pdf = df.select(*cols).toPandas()
    pdf["violated_rules"] = pdf["violated_rules"].map(lambda v: tuple(sorted(v)))
    return pdf


def read_metrics(spark, metrics_dir: str) -> pd.DataFrame:
    return spark.read.parquet(metrics_dir).toPandas()


def preflight(gate: Gate, res: pd.DataFrame, golden_path: str) -> None:
    gold = pd.read_parquet(golden_path).set_index("url")
    got = res.set_index("url")
    gate.check("preflight.urls", set(got.index) == set(gold.index) and got.index.is_unique,
               f"{len(got)} result rows vs {len(gold)} golden rows")
    m = got.join(gold[["keep", "scrubbed_text"]], rsuffix="_gold", how="inner")
    tp = int((m.keep & m.keep_gold).sum())
    fp = int((m.keep & ~m.keep_gold).sum())
    fn = int((~m.keep & m.keep_gold).sum())
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    gate.check("preflight.keep_f1", f1 >= F1_FLOOR, f"F1={f1:.4f} tp={tp} fp={fp} fn={fn}")
    diff = int((m.scrubbed_text != m.scrubbed_text_gold).sum())
    gate.check("preflight.scrub_bytes", diff == 0 and len(m) == len(gold), f"{diff} urls differ")


def workload_checks(gate: Gate, name: str, res: pd.DataFrame, metrics: pd.DataFrame,
                    docs: pd.DataFrame, rule_ids: list[str]) -> None:
    """docs: url, text, defect of every document the output must hold;
    metrics: the rule-metrics table, None where the path writes none."""
    gate.check(f"{name}.urls_once",
               res.url.is_unique and set(res.url) == set(docs.url),
               f"{len(res)} rows, {res.url.nunique()} distinct, expected {len(docs)}")

    if metrics is not None:
        rows = res.groupby("partition").size()
        fails = (
            res[["partition", "violated_rules"]].explode("violated_rules").dropna()
            .groupby(["partition", "violated_rules"]).size()
        )
        bad = []
        for r in metrics.itertuples():
            total = r.pass_count + r.fail_count + r.exception_count
            if total != rows.get(r.partition, -1) or r.fail_count != fails.get((r.partition, r.rule_id), 0):
                bad.append((r.partition, r.rule_id))
        gate.check(f"{name}.metrics_add_up",
                   not bad and len(metrics) == len(rows) * len(rule_ids)
                   and set(metrics.rule_id) == set(rule_ids),
                   f"{len(bad)} (partition, rule) rows disagree with the results, e.g. {bad[:3]}")

    merged = res.merge(docs, on="url", how="inner")
    kept_gib = merged[(merged.defect == "gibberish") & merged.keep]
    gate.check(f"{name}.gibberish_dropped", len(kept_gib) == 0, f"{len(kept_gib)} kept")
    first = merged.groupby("text").url.transform("min")
    kept_dups = merged[(merged.url != first) & merged.keep]
    gate.check(f"{name}.exact_dups_dropped", len(kept_dups) == 0,
               f"{len(kept_dups)} non-survivor exact dups kept, e.g. {list(kept_dups.url[:3])}")

    from wikidataquality_spark.datagen import BLOCKWORDS

    block_re = re.compile(r"\b(?:" + "|".join(BLOCKWORDS) + r")\b")
    leaks = res.scrubbed_text.dropna().map(lambda t: bool(_EMAIL_RE.search(t) or block_re.search(t)))
    gate.check(f"{name}.scrubbed_clean", not leaks.any(), f"{int(leaks.sum())} rows leak")


def cross_check(gate: Gate, name: str, res: pd.DataFrame, ref: pd.DataFrame,
                exclude: set[str] = frozenset()) -> int:
    """Check `name`: per url of the reference `ref` (minus `exclude`), `res`
    has the same keep, violated_rules and scrubbed_text. Returns the number
    of urls compared."""
    a = ref[~ref.url.isin(exclude)].set_index("url")[list(COMPARED)]
    b = res.set_index("url")[list(COMPARED)].reindex(a.index)
    differ = [u for u in a.index if not all(_same(a.at[u, c], b.at[u, c]) for c in COMPARED)]
    gate.check(name, not differ,
               f"{len(differ)} of {len(a)} urls differ, e.g. {differ[:3]}")
    return len(a)


def _same(x, y) -> bool:
    """Equality where a missing url (NaN after reindex) matches nothing
    but a NULL scrubbed_text matches NULL."""
    if isinstance(x, tuple) or isinstance(y, tuple):
        return x == y
    return x == y or (x is None and y is None)


def twin_affected(truth: pd.DataFrame, twins: list[str]) -> set[str]:
    """Batch urls whose dedup flags an http:// twin can change: the twinned
    page itself and every page sharing its exact text or one of its MinHash
    band keys. canonical_url keeps the scheme, so the twin survives recrawl
    dedup and, as the smallest url of those groups, becomes their
    survivor."""
    from wikidataquality_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_ROWS,
        minhash_params,
        minhash_sig_series,
    )

    if not twins:
        return set()
    originals = {"https://" + t[len("http://"):] for t in twins}
    a, b = minhash_params()
    keys_of: dict[str, list] = {}
    members: dict[tuple, set[str]] = {}
    for url, text, sig in zip(truth.url, truth.text, minhash_sig_series(truth.text, a, b, {})):
        keys = [("text", text)]
        if sig is not None:
            keys += [(i, tuple(sig[i * MINHASH_ROWS:(i + 1) * MINHASH_ROWS])) for i in range(MINHASH_BANDS)]
        keys_of[url] = keys
        for k in keys:
            members.setdefault(k, set()).add(url)
    affected = set(originals)
    for url in originals:
        for k in keys_of[url]:
            affected |= members[k]
    return affected


def warc_docs(truth: pd.DataFrame, twins: list[str]) -> pd.DataFrame:
    """The documents warc_recrawl must output: every page under its batch
    url, plus each http:// twin carrying its page's text and defect."""
    by_url = truth.set_index("url")
    originals = ["https://" + t[len("http://"):] for t in twins]
    extra = by_url.loc[originals, ["text", "defect"]].reset_index(drop=True)
    extra.insert(0, "url", twins)
    return pd.concat([truth[["url", "text", "defect"]], extra], ignore_index=True)
