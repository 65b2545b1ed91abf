"""Seeded workload inputs: the pages corpus, its WARC recrawl segments and
the stream split files, built once per (seed, size, datagen version) and
cached under the checkout, outside every timed region.

Layout of one corpus entry (``<cache>/corpus_<n>_<seed>_v<DATAGEN_VERSION>/``):

    pages.parquet        the datagen.generate_pages(n, seed) rows (program input)
    truth.parquet        url, defect — planted ground truth (checks only)
    warc_s<S>/           per-record-gzip .warc.gz segments with recrawls, and
                         truth.json: record count and the http:// twin urls
    split_f<F>/          url-ascending parquet files, staggered mtimes

Every entry is published with an atomic rename (io.locking), so a run killed
mid-build leaves a staging orphan, never a torn input.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

PAGES_SCHEMA_FIELDS = (
    ("url", "string"),
    ("warc_ts", "timestamp[us]"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
)

# Recrawl planting for the warc_recrawl workload. Every page is captured
# once more (and a quarter of them twice) under a URL variant that
# operators.dedup.canonical_url collapses onto the original; a share of
# pages also gets an http:// twin, which canonical_url keeps apart.
EXTRA_CAPTURE_P = 0.25
SCHEME_TWIN_P = 0.05
_TRACKING = ("utm_source=feed", "utm_medium=rss", "gclid=x7", "fbclid=ab", "ref=home")


def _pages_schema():
    import pyarrow as pa

    types = {"string": pa.string(), "timestamp[us]": pa.timestamp("us"), "binary": pa.binary()}
    return pa.schema([pa.field(n, types[t]) for n, t in PAGES_SCHEMA_FIELDS])


def _write_parquet(pdf: pd.DataFrame, path: str, schema=None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table.cast(schema) if schema is not None else table, path)


def _publish_dir(target: str, write) -> str:
    """io.locking.publish_dir with the _SUCCESS marker written by us."""
    from wikidataquality_spark.io.locking import publish_dir

    def fill(staging: str) -> None:
        os.makedirs(staging, exist_ok=True)
        write(staging)
        open(os.path.join(staging, "_SUCCESS"), "w").close()

    return publish_dir(target, fill)


class Corpus:
    """One seeded corpus and the inputs derived from it."""

    def __init__(self, cache_root: str, n_pages: int, seed: int):
        from wikidataquality_spark.datagen import DATAGEN_VERSION

        self.n_pages = n_pages
        self.seed = seed
        self.root = os.path.join(cache_root, f"corpus_{n_pages}_{seed}_v{DATAGEN_VERSION}")

    # -- pages ------------------------------------------------------------
    def build_pages(self) -> None:
        from wikidataquality_spark.datagen import generate_pages_with_meta

        def write(staging: str) -> None:
            pdf = generate_pages_with_meta(self.n_pages, self.seed)
            _write_parquet(
                pdf[[n for n, _ in PAGES_SCHEMA_FIELDS]],
                os.path.join(staging, "pages.parquet"),
                _pages_schema(),
            )
            _write_parquet(pdf[["url", "text", "defect"]], os.path.join(staging, "truth.parquet"))

        _publish_dir(self.root, write)

    @property
    def pages_path(self) -> str:
        return os.path.join(self.root, "pages.parquet")

    def truth(self) -> pd.DataFrame:
        """url, text, defect of every page (text is what extract(html) yields)."""
        return pd.read_parquet(os.path.join(self.root, "truth.parquet"))

    # -- warc_recrawl -----------------------------------------------------
    def recrawl_captures(self) -> tuple[pd.DataFrame, list[str]]:
        """Every capture of the WARC crawl (url, warc_ts, html) in a seeded
        shuffled order, and the http:// twin urls. The original capture of
        each page is its earliest, so first-crawl-wins keeps the page's
        batch url."""
        pages = pd.read_parquet(self.pages_path, columns=["url", "warc_ts", "html"])
        rng = np.random.default_rng([self.seed, 0x77A2C])
        extra: list[tuple] = []
        twins: list[str] = []
        for url, ts, html in zip(pages["url"], pages["warc_ts"], pages["html"]):
            for _ in range(1 + int(rng.random() < EXTRA_CAPTURE_P)):
                later = ts + pd.Timedelta(days=int(rng.integers(1, 60)), seconds=int(rng.integers(1, 86400)))
                extra.append((_url_variant(url, rng), later, html))
            if rng.random() < SCHEME_TWIN_P:
                twin = "http://" + url[len("https://"):]
                twins.append(twin)
                # hours, not days: surviving twins must not add date
                # partitions the batch corpus lacks
                extra.append((twin, ts + pd.Timedelta(hours=int(rng.integers(1, 12))), html))
        caps = pd.concat([pages, pd.DataFrame(extra, columns=pages.columns)], ignore_index=True)
        caps = caps.iloc[rng.permutation(len(caps))].reset_index(drop=True)
        return caps, twins

    def warc_dir(self, n_segments: int) -> str:
        return os.path.join(self.root, f"warc_s{n_segments}")

    def build_warc(self, spark, n_segments: int) -> str:
        """Per-record-gzip .warc.gz segments, one per Spark partition of
        io.warc.encode_warc_partitions."""
        from wikidataquality_spark.io.warc import encode_warc_partitions

        target = self.warc_dir(n_segments)

        def write(staging: str) -> None:
            caps, twins = self.recrawl_captures()
            df = spark.createDataFrame(caps).repartition(n_segments)
            blobs = encode_warc_partitions(df).collect()
            if len(blobs) != n_segments:
                raise RuntimeError(f"expected {n_segments} WARC segments, encoded {len(blobs)}")
            for i, row in enumerate(blobs):
                with open(os.path.join(staging, f"seg-{i:05d}.warc.gz"), "wb") as f:
                    f.write(bytes(row["warc_blob"]))
            with open(os.path.join(staging, "truth.json"), "w") as f:
                json.dump({"records": len(caps), "twins": sorted(twins)}, f)

        return _publish_dir(target, write)

    def warc_truth(self, n_segments: int) -> dict:
        with open(os.path.join(self.warc_dir(n_segments), "truth.json")) as f:
            return json.load(f)

    # -- stream_incremental -----------------------------------------------
    def build_split(self, n_files: int) -> str:
        """The corpus as n_files url-ascending parquet files whose mtimes
        rise with the url range, so a maxFilesPerTrigger=1 file stream
        delivers micro-batches in survivor order."""
        target = os.path.join(self.root, f"split_f{n_files}")

        def write(staging: str) -> None:
            pdf = pd.read_parquet(self.pages_path).sort_values("url", kind="stable")
            for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
                path = os.path.join(staging, f"part-{i:05d}.parquet")
                _write_parquet(pdf.iloc[part], path, _pages_schema())
                os.utime(path, (1_700_000_000 + 10 * i,) * 2)

        return _publish_dir(target, write)


def warc_segments(warc_dir: str) -> list[str]:
    return sorted(os.path.join(warc_dir, f) for f in os.listdir(warc_dir) if f.endswith(".warc.gz"))


def golden_pages(cache_root: str, n_rows: int, seed: int) -> str:
    """The frozen golden corpus (tests/fixtures/golden_labels.parquet was
    derived from datagen at this size and seed)."""
    from wikidataquality_spark.datagen import DATAGEN_VERSION, generate_pages

    target = os.path.join(cache_root, f"golden_{n_rows}_{seed}_v{DATAGEN_VERSION}")
    _publish_dir(
        target,
        lambda staging: _write_parquet(
            generate_pages(n_rows, seed), os.path.join(staging, "pages.parquet"), _pages_schema()
        ),
    )
    return os.path.join(target, "pages.parquet")


def _url_variant(url: str, rng: np.random.Generator) -> str:
    """A recrawl URL that canonical_url maps back onto `url`: one to three
    of www./upper-case host, default port, trailing slash, tracking params,
    fragment."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    kinds = rng.choice(6, size=int(rng.integers(1, 4)), replace=False)
    query = ""
    for k in kinds:
        if k == 0:
            host = "www." + host
        elif k == 1:
            host = host.upper()
        elif k == 2:
            host = host + ":443"
        elif k == 3:
            path = path + "/"
        elif k == 4:
            picks = rng.choice(len(_TRACKING), size=int(rng.integers(1, 3)), replace=False)
            query = "?" + "&".join(_TRACKING[p] for p in picks)
    frag = f"#s{int(rng.integers(1, 9))}" if 5 in kinds else ""
    return f"{scheme}://{host}/{path}{query}{frag}"
