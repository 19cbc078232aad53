"""Output checks against the planted truth.

Recall and false merges are computed here in pandas, not through the
program, from the truth table the program never sees. The definitions
are those of tests/test_pipeline_e2e.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# planted kinds each path is built to merge. The batch CLI composition
# runs MinHash LSH, SimHash and substring channels. The streaming path
# (dedup/streaming.py, `cli.py --streaming`) is watermark exact dedup
# plus MinHash LSH bucket state: it has no SimHash or substring channel.
RECALL_KINDS = ("exact", "near", "simhash_near", "substring")
STREAM_RECALL_KINDS = ("exact", "near")
MIN_RECALL = 0.99


def recall(
    assign: pd.DataFrame, truth: pd.DataFrame,
    kinds: tuple[str, ...] = RECALL_KINDS,
) -> tuple[float, int]:
    """Dup-pair recall: a planted dup of one of `kinds` lands in its
    base's cluster. Only pairs whose two urls were both assigned count.
    Returns (recall, pairs counted)."""
    cid = assign.set_index("url")["cluster_id"]
    base = truth[truth["dup_kind"] == "unique"][["true_cluster_id", "url"]]
    dups = truth[truth["dup_kind"].isin(kinds)][
        ["true_cluster_id", "url"]
    ]
    pairs = dups.merge(base, on="true_cluster_id", suffixes=("_dup", "_base"))
    c_dup = pairs["url_dup"].map(cid)
    c_base = pairs["url_base"].map(cid)
    both = c_dup.notna() & c_base.notna()
    total = int(both.sum())
    if total == 0:
        return 1.0, 0
    return float((c_dup[both] == c_base[both]).sum()) / total, total


def false_merges(assign: pd.DataFrame, truth: pd.DataFrame) -> int:
    """Clusters holding two different planted unique/boilerplate
    families."""
    labeled = assign.merge(truth, on="url")
    fam = labeled[labeled["dup_kind"].isin(("unique", "boilerplate"))]
    n = fam.groupby("cluster_id")["true_cluster_id"].nunique()
    return int((n > 1).sum())


def fingerprint(assign: DataFrame) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64(url, cluster_id)) of an assignment
    table — equal iff (with overwhelming probability) the clusterings
    are equal."""
    row = assign.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("url", "cluster_id")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def store_check(
    stored: set[str], landed: pd.DataFrame, truth: pd.DataFrame
) -> tuple[list[str], int]:
    """Stream store vs the rows that landed.

    Accepted rows are the landed rows the truth does not mark as
    quarantine. The stream's watermark exact dedup may keep any
    non-empty subset of a group of byte-identical texts, depending on
    how far apart the copies arrive, so the check is: the store holds
    only accepted urls, every accepted text with a single url is
    stored, and every group of identical texts keeps at least one url.
    Returns (problems, accepted rows lost — the late-dropped count)."""
    kind = truth.set_index("url")["dup_kind"]
    acc = landed[landed["url"].map(kind) != "quarantine"]
    problems = []
    foreign = stored - set(acc["url"])
    if foreign:
        problems.append(f"{len(foreign)} stored urls are not accepted rows")
    kept = acc["url"].isin(stored)
    per_text = kept.groupby(acc["text"]).agg(["size", "sum"])
    lost = int(per_text.loc[per_text["size"] == 1, "size"].sum()
               - per_text.loc[per_text["size"] == 1, "sum"].sum())
    lost += int((per_text.loc[per_text["size"] > 1, "sum"] == 0).sum())
    if lost:
        problems.append(f"{lost} accepted rows (or identical-text "
                        "groups) missing from the store")
    return problems, lost
