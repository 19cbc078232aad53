"""The measured units: one batch run of the CLI composition, one
streaming drain, and the staged replay that gives the layers run_dedup
keeps private their own numbers."""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark import StorageLevel
from pyspark.sql import functions as F

from dedup.candidates import (
    exact_edges,
    exact_groups,
    lsh_candidates,
    representatives,
)
from dedup.cluster import assignments_with_singletons, connected_components
from dedup.cluster import DRIVER_CC_MAX_EDGES
from dedup.minhash import explode_bands, signatures
from dedup.pipeline import (
    _estimate_filter,
    _jaccard_incl_exact,
    _orient_uid_pairs,
    _uid_sources,
    prepare_clean,
    run_dedup,
)
from dedup.session import auto_shuffle_partitions
from dedup.simhash import simhash_channel
from dedup.streaming import run_streaming_dedup
from dedup.suffix import substring_edges
from dedup.survivor import (
    apply_authorized_override,
    reprint_notes,
    select_survivors,
)
from dedup.verify import (
    attach_features,
    pair_reasons,
    url_features,
    verified_edges,
    with_stat_parity,
)

OUTPUTS = ("assignments", "survivors")


def _now_iso() -> str:
    return datetime.now(timezone.utc).isoformat(timespec="seconds")


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def write_outputs(res, out_dir: str) -> None:
    for name in OUTPUTS:
        getattr(res, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, name))


def bulk_run(spark, tracer, cfg, pages_dir: str, sources_path: str,
             out_dir: str, timings: dict) -> None:
    """dedup/cli.py's batch composition over parquet input, through the
    parquet writes of assignments and survivors."""
    with tracer.span("plan"):
        pages = spark.read.parquet(pages_dir)
        sources = spark.read.parquet(sources_path)
        parts = auto_shuffle_partitions(
            pages.count(),
            min_partitions=spark.sparkContext.defaultParallelism,
            target_docs_per_partition=cfg.target_docs_per_partition,
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        caches: list = []
        clean = prepare_clean(pages, uid_bits=cfg.uid_bits).persist(
            StorageLevel.MEMORY_AND_DISK)
        caches.append(clean)
        sim_pairs, _ = simhash_channel(clean, cfg, cache_registry=caches)
        sub_edges, _ = substring_edges(clean, cfg, cache_registry=caches)
    try:
        with tracer.span("pipeline"):
            res = run_dedup(
                pages, cfg, sources=sources,
                bypass_jaccard_channels=[
                    sim_pairs.select("url_a", "url_b"),
                    sub_edges.select("url_a", "url_b"),
                ],
                run_ts=_now_iso(), persist_pairs=True, clean=clean,
                timings=timings,
            )
        try:
            with tracer.span("sinks"):
                write_outputs(res, out_dir)
        finally:
            res.release()
    finally:
        for df in caches:
            df.unpersist()


class Stream:
    """A landing directory that staged drops are moved into, drained by
    the streams and by run_streaming_dedup(incremental=True)."""

    def __init__(self, spark, cfg, root: str, sources_path: str,
                 timeout_s: int) -> None:
        self.spark, self.cfg = spark, cfg
        self.landing = os.path.join(root, "landing")
        self.work = os.path.join(root, "work")
        self.out = os.path.join(root, "out")
        os.makedirs(self.landing, exist_ok=True)
        self.sources = spark.read.parquet(sources_path)
        self.timeout_s = timeout_s

    def land(self, staged: str) -> None:
        # rename is atomic: the file source never lists a partial file
        os.replace(staged, os.path.join(self.landing,
                                        os.path.basename(staged)))

    def drain(self, tracer, timings: dict) -> None:
        with tracer.span("streaming"):
            res = run_streaming_dedup(
                self.spark, self.landing, self.work, self.cfg,
                sources=self.sources, incremental=True, timings=timings,
                timeout_s=self.timeout_s, run_ts=_now_iso(),
            )
        try:
            with tracer.span("sinks"):
                write_outputs(res, self.out)
        finally:
            res.release()

    def stored_urls(self) -> set[str]:
        rows = self.spark.read.parquet(os.path.join(self.work, "pages")) \
            .select("url").collect()
        return {r["url"] for r in rows}

    def state_mb(self) -> float:
        return dir_mb(self.work)


def replay(spark, tracer, cfg, pages_dir: str, sources_path: str,
           counts: dict) -> tuple[int, int]:
    """Staged replay of bulk_run: the same composition as run_dedup,
    called module by module with a materialisation after each layer so
    that layer's work runs inside its own span and job group. run_dedup
    reaches minhash, candidates and verify only inside one lazy plan,
    so their cost cannot be split from outside it. Fills
    `counts` with per-layer record counts; returns the assignment
    fingerprint, which must equal the production run's."""
    from perfbench.checks import fingerprint

    keep: list = []

    def mat(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        keep.append(df)
        return df, df.count()

    pages = spark.read.parquet(pages_dir)
    sources = spark.read.parquet(sources_path)
    try:
        with tracer.span("normalize"):
            clean, counts["normalize"] = mat(
                prepare_clean(pages, uid_bits=cfg.uid_bits))
        with tracer.span("simhash"):
            sim_pairs, _ = simhash_channel(clean, cfg, cache_registry=keep)
            sim_pairs, counts["simhash"] = mat(sim_pairs)
        with tracer.span("suffix"):
            sub_edges, _ = substring_edges(clean, cfg, cache_registry=keep)
            sub_edges, counts["suffix"] = mat(sub_edges)

        uid = (F.xxhash64("url") if cfg.uid_bits == 64
               else F.unhex(F.md5("url")))
        keyed = clean.withColumn("uid", uid)
        kpages = keyed.select(
            F.col("uid").alias("url"), F.col("url").alias("real_url"),
            *[c for c in keyed.columns if c not in ("url", "uid")],
        )
        ids = keyed.select(F.col("url").alias("real_url"), F.col("uid"))

        def to_uid_pairs(ch):
            ia = ids.select(F.col("real_url").alias("url_a"),
                            F.col("uid").alias("ua"))
            ib = ids.select(F.col("real_url").alias("url_b"),
                            F.col("uid").alias("ub"))
            return (ch.select("url_a", "url_b").join(ia, "url_a")
                    .join(ib, "url_b")
                    .select(F.least("ua", "ub").alias("url_a"),
                            F.greatest("ua", "ub").alias("url_b")))

        with tracer.span("candidates"):
            groups, _ = mat(exact_groups(kpages, cfg))
        rep_pages = kpages.join(representatives(groups), "url")
        with tracer.span("minhash"):
            sigs, counts["minhash"] = mat(
                signatures(rep_pages, cfg).select("url", "sig"))
        with tracer.span("candidates"):
            bandable = rep_pages.filter(
                F.length("norm_text") >= F.lit(cfg.k_shingle)
            ).select("url")
            bands = explode_bands(sigs.join(bandable, "url"), cfg)
            raw, hot = lsh_candidates(bands, cfg, cache_registry=keep)
            cand = raw.unionByName(
                exact_edges(groups).select("url_a", "url_b")).distinct()
            if cfg.estimate_prefilter and cfg.hash_mode == "fast":
                cand = _estimate_filter(cand, sigs, groups, cfg)
            cand, counts["candidates"] = mat(_orient_uid_pairs(cand, ids))
            counts["hot_buckets"] = hot.count()

        with tracer.span("verify"):
            gate_cols = tuple(sorted(
                set(cfg.field_rules) | set(cfg.count_fields)))
            feats = url_features(kpages, None, extra_cols=gate_cols) \
                .drop("sources")
            feats = feats.join(_uid_sources(sources, ids), "url", "left") \
                .withColumn("sources", F.coalesce(
                    "sources", F.array().cast("array<string>")))
            feats, _ = mat(feats)
            rule_columns = {t: (f"a_{t}", f"b_{t}")
                            for t in sorted(cfg.field_rules)
                            if t in kpages.columns}
            count_columns = {t: (f"a_{t}", f"b_{t}")
                             for t in cfg.count_fields if t in kpages.columns}
            with_j = _jaccard_incl_exact(cand, rep_pages, groups, cfg,
                                         persist=True, cache_registry=keep)
            pairs = with_stat_parity(pair_reasons(
                attach_features(with_j, feats), cfg, None,
                rule_columns=rule_columns or None,
                count_columns=count_columns or None))
            pairs, n_lsh_pairs = mat(pairs)
            edges = verified_edges(pairs, cfg, "lsh")
            bypass = to_uid_pairs(sim_pairs).unionByName(
                to_uid_pairs(sub_edges))
            bpairs = pair_reasons(
                attach_features(_orient_uid_pairs(bypass.distinct(), ids),
                                feats),
                cfg, None, rule_columns=rule_columns or None,
                count_columns=count_columns or None)
            bpairs, n_bypass_pairs = mat(bpairs)
            edges = edges.unionByName(
                bpairs.filter(F.col("can_merge")).select(
                    "url_a", "url_b", F.lit(1.0).alias("jaccard"),
                    F.lit("bypass").alias("channel")))
            edges = edges.select("url_a", "url_b").distinct() \
                .localCheckpoint(eager=True)
            n_edges = edges.count()
            counts["verify"] = n_lsh_pairs + n_bypass_pairs
            counts["edges"] = n_edges

        with tracer.span("cluster"):
            assign = connected_components(
                edges, n_edges=n_edges,
                driver_max_edges=cfg.cc_driver_max_edges)
            assign = assignments_with_singletons(
                assign, kpages.select("url"))
            assign, counts["cluster"] = mat(assign)
        counts["cc_driver_regime"] = int(
            n_edges <= (cfg.cc_driver_max_edges or DRIVER_CC_MAX_EDGES))

        with tracer.span("survivor"):
            members_uid = assign.join(feats, "url")
            labels = members_uid.groupBy("cluster_id").agg(
                F.min("real_url").alias("cluster_label"))
            members = (
                members_uid.join(labels, "cluster_id")
                .drop("cluster_id", "url")
                .withColumnRenamed("real_url", "url")
                .withColumnRenamed("cluster_label", "cluster_id")
            )
            members, _ = mat(members)
            surv = select_survivors(
                members, cfg, authority_sources=cfg.authority_sources,
                run_ts=_now_iso())
            surv = apply_authorized_override(
                reprint_notes(members, surv), members, None)
            _, counts["survivor"] = mat(
                surv.filter(F.col("reject_reason").isNull()))
        return fingerprint(members.select("url", "cluster_id"))
    finally:
        for df in keep:
            df.unpersist()
