"""Seeded benchmark inputs: the planted corpus from dedup.corpus, written
as multi-file parquet the way a crawl lands.

Only pages and the sources side table reach the program; the truth
table stays in this process and feeds the output checks.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dedup.corpus import generate_corpus
from dedup.pages import EPOCH_BASE

_STRS = pa.list_(pa.string())
# arrow twin of dedup.schema.PAGES_SCHEMA: explicit so a file whose
# slice holds only empty lists still writes list<string>, and warc_ts
# as a UTC-adjusted microsecond timestamp (Spark's TimestampType)
PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("canonical_links", _STRS),
    ("meta_tags", _STRS),
    ("tracking_ids", _STRS),
    ("headings", _STRS),
    ("extent", pa.string()),
])
SOURCES_ARROW = pa.schema([
    ("url", pa.string()),
    ("source", pa.string()),
    ("source_local_id", pa.string()),
])

# stream event times: drop k spans DROP_SPAN_S from k * DROP_GAP_S; a
# share of rows is pulled back by up to OOO_MAX_S. OOO_MAX_S stays
# inside the 1-hour watermark, and DROP_GAP_S - OOO_MAX_S exceeds the
# span, so every row of drop k+1 is later than every row of drop k and
# no row can be late against the watermark of the drains before it.
DROP_SPAN_S = 3600
DROP_GAP_S = 2 * 3600
OOO_SHARE = 0.10
OOO_MAX_S = 1800


def _write_pages(pages: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(pages, schema=PAGES_ARROW, preserve_index=False),
        path,
        coerce_timestamps="us",
    )


def write_sources(sources: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(sources, schema=SOURCES_ARROW,
                             preserve_index=False),
        path,
    )


def kind_shares(truth: pd.DataFrame) -> dict[str, float]:
    """Planted dup_kind mix as shares of the corpus."""
    counts = truth["dup_kind"].value_counts()
    return {k: round(int(v) / len(truth), 4) for k, v in counts.items()}


def batch_corpus(
    root: str, n_docs: int, seed: int, n_files: int
) -> tuple[str, str, pd.DataFrame]:
    """Write one corpus as `n_files` parquet files (rows dealt round-
    robin) plus its sources side table. Returns (pages_dir,
    sources_path, truth)."""
    pages, truth, sources = generate_corpus(n_docs, seed)
    pages_dir = os.path.join(root, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    for i in range(n_files):
        _write_pages(pages.iloc[i::n_files],
                     os.path.join(pages_dir, f"part-{i:04d}.parquet"))
    sources_path = os.path.join(root, "sources.parquet")
    write_sources(sources, sources_path)
    return pages_dir, sources_path, truth


def stream_drops(
    root: str, first_docs: int, drop_docs: int, seed: int
) -> tuple[list[str], str, pd.DataFrame, pd.DataFrame]:
    """Split one corpus, in a seeded crawl order, into drop 0 of
    `first_docs` rows and drop 1 of `drop_docs` rows, each staged as
    one parquet file (one file = one micro-batch), drop 1's event times
    all later than drop 0's.

    Returns (staged drop files, sources_path, truth, pages) where
    `pages` keeps url and text for the store check."""
    pages, truth, sources = generate_corpus(first_docs + drop_docs, seed)
    rng = np.random.default_rng(seed + 1)
    pages = pages.iloc[rng.permutation(len(pages))].reset_index(drop=True)
    drop = (np.arange(len(pages)) >= first_docs).astype(int)
    pos = np.where(drop == 0, np.arange(len(pages)),
                   np.arange(len(pages)) - first_docs)
    size = np.where(drop == 0, first_docs, drop_docs)
    ts = (EPOCH_BASE + drop * DROP_GAP_S
          + (pos * DROP_SPAN_S) // size).astype(np.int64)
    late = rng.random(len(pages)) < OOO_SHARE
    ts = ts - np.where(late, rng.integers(1, OOO_MAX_S, len(pages)), 0)
    pages["warc_ts"] = pd.to_datetime(ts, unit="s", utc=True)

    stage = os.path.join(root, "staged")
    os.makedirs(stage, exist_ok=True)
    files = []
    for k in (0, 1):
        path = os.path.join(stage, f"drop-{k:04d}.parquet")
        _write_pages(pages[drop == k], path)
        files.append(path)
    sources_path = os.path.join(root, "sources.parquet")
    write_sources(sources, sources_path)
    return files, sources_path, truth, pages[["url", "text"]]
