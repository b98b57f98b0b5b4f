"""The four benchmark workloads, driven through fever_spark's public API.

Each workload's ``run_op`` performs one closed-loop operation (a batch job,
or one drain of a drop directory whose triggers are the operations) and
checks its output against the exact references made with the fixture.
With a ``Tracer`` the same calls are wrapped in layer spans and lazy
frames are materialized at each layer boundary; with ``NullTracer`` they
run as a user would run them.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import fixtures as FX
from fever_spark.jobs.curate import curate
from fever_spark.jobs.run_pipeline import run_pipeline
from fever_spark.operators import dedup
from fever_spark.ops import (SketchSpec, build_sketches, cms_estimate_col,
                             hll_estimate_col, prehash_col, quantile_col,
                             two_level_merge)
from fever_spark.ops.bloom_match import bloom_match_events, build_ioc_filter
from fever_spark.sketch import HyperLogLog, KLLSketch, sketch_from_bytes
from fever_spark.sources.eve import parse_eve
from fever_spark.streaming import (bloom_stream_dedup, exact_stream_dedup,
                                   windowed_counts_stream)


@dataclass
class OpResult:
    """One operation's outcome. ``times`` holds one wall time per job, or
    one ``triggerExecution`` per non-empty trigger of a drain."""

    rows: int = 0
    wall: float = 0.0
    times: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    run_ids: list[str] = field(default_factory=list)
    cpu: float = 0.0
    # share of the VM's CPU time stolen by the hypervisor during the op
    steal_share: float = 0.0


def dup_quality(kept_ids: np.ndarray, ref_ids: np.ndarray,
                ref_group: np.ndarray) -> tuple[float, float]:
    """(recall, precision) of duplicate removal. ``ref_group`` maps each
    doc to the first copy of its content; negative groups (docs another
    stage removes on purpose) are left out.

    recall = planted copies removed ÷ planted copies;
    precision = removed rows whose content survives ÷ removed rows."""
    keep = ref_group >= 0
    ids, grp = ref_ids[keep], ref_group[keep]
    kept = np.isin(ids, kept_ids)
    n_groups = np.unique(grp).size
    planted = len(ids) - n_groups
    kept_groups = np.unique(grp[kept]).size
    removed = len(ids) - int(kept.sum())
    leaked = int(kept.sum()) - kept_groups
    lost = n_groups - kept_groups
    recall = (planted - leaked) / planted if planted else 1.0
    precision = (removed - lost) / removed if removed else 1.0
    return recall, precision


def _rank_error(sorted_vals: np.ndarray, value: float, q: float) -> float:
    """Distance from q to the exact rank interval of ``value`` (ties give
    an interval, not a point)."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, value, side="left") / n
    hi = np.searchsorted(sorted_vals, value, side="right") / n
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


class Workload:
    fixture = ""
    # fixtures used only by the traced run's layer probes
    probe_fixtures: tuple[str, ...] = ()

    def __init__(self, fixtures: dict[str, str], seed: int, work_dir: str,
                 progress):
        self.fixtures = fixtures
        self.fx = fx_dir = fixtures[self.fixture]
        self.seed = seed
        self.work = work_dir
        self.progress = progress
        with open(os.path.join(fx_dir, "refs.json")) as f:
            self.refs = json.load(f)
        npz = os.path.join(fx_dir, "refs.npz")
        self.arrays = dict(np.load(npz)) if os.path.exists(npz) else {}
        self._n = 0

    def prepare(self, spark) -> None:
        """Per-run state built during set-up."""

    def run_op(self, spark, tr) -> OpResult:
        raise NotImplementedError

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{tag}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def trace_extra(self, spark, tr) -> tuple[dict, list[str]]:
        """Layer probes run once after the traced operations."""
        return {}, []

    def _drain_triggers(self, before: set[str], res: OpResult) -> list[dict]:
        """Progress of the one query started since ``before``."""
        runs = self.progress.wait_new_runs(before, 1)
        res.run_ids += runs
        return self.progress.triggers(runs)


# --------------------------------------------------------------- page_sketch

class PageSketch(Workload):
    """Batch sketch job: scan → build_sketches per (lang, day) →
    two_level_merge → estimate, every estimate checked against its bound."""

    fixture = "pages"
    probe_fixtures = ("docs",)
    keys = ["lang", "day"]

    def __init__(self, *a):
        super().__init__(*a)
        self.path = os.path.join(self.fx, "pages")
        self.specs = [
            SketchSpec("hll_url", "hll", "url", {"p": FX.HLL_P}),
            SketchSpec("cms_url", "cms", "url",
                       {"epsilon": FX.CMS_EPS, "delta": FX.CMS_DELTA},
                       prehash=True),
            SketchSpec("kll_len", "kll", "len", {"k": FX.KLL_K}),
            SketchSpec("td_len", "tdigest", "len",
                       {"delta": FX.TDIGEST_DELTA}),
            SketchSpec("bloom_url", "bloom", "url",
                       {"capacity": 2 * self.refs["max_group_rows"],
                        "fpp": FX.BLOOM_FPP}),
        ]
        offs = self.arrays["offsets"]
        self.lens = {g: self.arrays["lens"][offs[i]:offs[i + 1]]
                     for i, g in enumerate(self.refs["groups"])}
        self.group_rows = {g: len(v) for g, v in self.lens.items()}
        # claimed bounds: 4 standard errors for HLL (as the kernel tests
        # use), ε·N for CMS, the published rank error for KLL. t-digest
        # publishes none; its k1 scale function caps a centroid's rank span
        # at 2π·sqrt(q(1-q))/δ, and an estimate interpolated between the
        # centroids around q is off by at most that span plus one rank
        self.hll_bound = 4 * HyperLogLog(p=FX.HLL_P).relative_error
        self.kll_bound = KLLSketch(k=FX.KLL_K).rank_error()

    def prepare(self, spark):
        self.probes = spark.createDataFrame(
            pd.DataFrame(self.refs["cms_probes"])).cache()
        self.probes.count()

    def run_op(self, spark, tr) -> OpResult:
        res = OpResult(rows=self.refs["rows"])
        t0 = time.perf_counter()
        with tr.span("sources.scan"):
            pages = spark.read.parquet(self.path).select(
                "url", "lang", F.date_format("warc_ts", "yyyy-MM-dd").alias("day"),
                F.length("text").cast("double").alias("len"))
            pages, _ = tr.materialize(pages)
        with tr.span("ops.build"):
            built, row = tr.materialize(
                build_sketches(pages, self.keys, self.specs),
                F.sum(F.length("state")).alias("bytes"))
            if row is not None:
                res.layer.update({"ops.build.partial_rows": row["_rows"],
                                  "ops.build.partial_bytes": row["bytes"]})
        with tr.span("ops.merge"):
            merged = two_level_merge(built, self.keys).persist()
            n_merged = merged.count()
        try:
            with tr.span("ops.estimate"):
                est = self._estimate(merged)
        finally:
            merged.unpersist()
            tr.release()
        res.wall = time.perf_counter() - t0
        res.times.append(res.wall)
        self._check(est, n_merged, res)
        return res

    def trace_extra(self, spark, tr):
        """jobs.curate and its near-dup operators are probed in this
        workload's traced run: both are batch jobs, and curate_dedup as a
        timed workload of its own does not fit the run budget (README)."""
        cur = CurateDedup(self.fixtures, self.seed, self.work, self.progress)
        res = cur.run_op(spark, tr)
        layer, failures = cur.trace_extra(spark, tr)
        layer.update(res.layer)
        layer.update({f"jobs.curate.{k}": v for k, v in res.report.items()})
        return layer, failures + res.failures

    def _estimate(self, merged) -> dict[str, list]:
        """The estimates a user would read back: one collect per sketch
        kind (the Bloom states are collected whole)."""
        key = F.concat_ws("|", "lang", "day").alias("g")
        return {
            "hll": merged.filter(F.col("sketch") == "hll_url")
            .select(key, hll_estimate_col(F.col("state")).alias("est"))
            .collect(),
            "cms": merged.filter(F.col("sketch") == "cms_url")
            .join(self.probes, ["lang", "day"])
            .select(key, "count", cms_estimate_col(
                F.col("state"), prehash_col("url")).alias("est"))
            .collect(),
            "quantiles": merged.filter(F.col("sketch").isin("kll_len", "td_len"))
            .select(key, "sketch",
                    quantile_col(F.col("state"), FX.QUANTILES).alias("q"))
            .collect(),
            "bloom": merged.filter(F.col("sketch") == "bloom_url")
            .select(key, "state").collect(),
        }

    def _check(self, est: dict[str, list], n_merged: int,
               res: OpResult) -> None:
        """Every estimate against the exact references, untimed."""
        if n_merged != len(self.lens) * len(self.specs):
            res.failures.append(f"merged rows {n_merged}")
        ratios = {"hll": 0.0, "cms": 0.0, "kll": 0.0, "tdigest": 0.0}
        for r in est["hll"]:
            exact = self.refs["distinct"][r["g"]]
            ratios["hll"] = max(ratios["hll"], abs(r["est"] - exact) / exact
                                / self.hll_bound)
        for r in est["cms"]:
            over = r["est"] - r["count"]
            if over < 0:
                res.failures.append("cms undercount")
            ratios["cms"] = max(ratios["cms"], over / (
                FX.CMS_EPS * self.group_rows[r["g"]]))
        for r in est["quantiles"]:
            vals = self.lens[r["g"]]
            for q, v in zip(FX.QUANTILES, r["q"]):
                err = _rank_error(vals, v, q)
                if r["sketch"] == "kll_len":
                    ratios["kll"] = max(ratios["kll"], err / self.kll_bound)
                else:
                    bound = (2 * np.pi * np.sqrt(q * (1 - q))
                             / FX.TDIGEST_DELTA + 1 / len(vals))
                    ratios["tdigest"] = max(ratios["tdigest"], err / bound)
        blooms = {r["g"]: sketch_from_bytes(bytes(r["state"]))
                  for r in est["bloom"]}
        present = pd.DataFrame(self.refs["bloom_present"],
                               columns=["lang", "day", "url"])
        fn = 0
        for (lang, day), grp in present.groupby(["lang", "day"]):
            fn += int((~blooms[f"{lang}|{day}"].contains(
                grp["url"].to_numpy(dtype=object))).sum())
        absent = np.array(self.refs["bloom_absent"], dtype=object)
        fp_rate = float(np.mean([b.contains(absent).mean()
                                 for b in blooms.values()]))
        if fn:
            res.failures.append(f"bloom false negatives: {fn}")
        worst = max(ratios.values())
        if worst > 1.0:
            res.failures.append(f"estimate outside bound: {ratios}")
        res.report["est_error_ratio"] = worst
        res.layer.update({f"ops.estimate.error_ratio.{k}": v
                          for k, v in ratios.items()})
        res.layer.update({"ops.bloom.false_negatives": fn,
                          "ops.bloom.fp_rate": fp_rate})


# ----------------------------------------------------------------- eve_alert

class EveAlert(Workload):
    """fever's daemon loop: jobs.run_pipeline drains an EVE drop directory
    one file per trigger (parse → Bloom IOC alerts → DNS forward →
    deferred HLL/CMS stats every 5 triggers, the last of a drain).
    Operations are triggers."""

    fixture = "eve"
    probe_fixtures = ("stream",)
    files_per_trigger = 1

    def __init__(self, *a):
        super().__init__(*a)
        self.drop = os.path.join(self.fx, "drop")

    def prepare(self, spark):
        self.ioc_bc = spark.sparkContext.broadcast(
            build_ioc_filter(self.refs["iocs"], fpp=1e-7).to_bytes())

    def run_op(self, spark, tr) -> OpResult:
        res = OpResult(rows=self.refs["rows"])
        out = self.fresh_dir("eve")
        before = self.progress.run_ids()
        t0 = time.perf_counter()
        try:
            with tr.span("jobs.run_pipeline"):
                summary = run_pipeline(
                    spark, self.drop, os.path.join(out, "o"),
                    iocs=self.refs["iocs"],
                    checkpoint=os.path.join(out, "ck"),
                    forwards={"dns_only": ["dns"]},
                    max_files_per_trigger=self.files_per_trigger,
                    stats_every=5)
            res.wall = time.perf_counter() - t0
            trig = self._drain_triggers(before, res)
            forwarded = 0
            for p in glob.glob(os.path.join(out, "o", "forward", "dns_only",
                                            "batch=*", "part-*")):
                with open(p, "rb") as f:
                    forwarded += sum(1 for _ in f)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        res.times = [p["durationMs"]["triggerExecution"] / 1e3 for p in trig]
        if summary["alerts"] != self.refs["alerts"]:
            res.failures.append(
                f"alerts {summary['alerts']} != {self.refs['alerts']}")
        if forwarded != self.refs["dns"]:
            res.failures.append(f"forwards {forwarded} != {self.refs['dns']}")
        if summary["events"] != self.refs["rows"]:
            res.failures.append(f"events {summary['events']}")
        ph = summary["phase_seconds"]
        res.layer.update({
            "jobs.run_pipeline.alerts_write_s": ph["alerts_write"],
            "jobs.run_pipeline.forwards_s": ph["forwards"],
            "jobs.run_pipeline.stats_s": ph["stats"],
            "jobs.run_pipeline.stats_flush_s": ph["stats_flush"],
            "jobs.run_pipeline.batches": summary["batches"],
            "jobs.run_pipeline.sink_files": sum(summary["sink_files"].values()),
        })
        return res

    def trace_extra(self, spark, tr):
        """Parse and match outside the daemon, so each layer has a span;
        then one stream_state drain for the state-store layer, which
        run_pipeline does not use (stream_state as a timed workload of its
        own does not fit the run budget, README)."""
        st = StreamState(self.fixtures, self.seed, self.work, self.progress)
        res = st.run_op(spark, tr)
        failures = list(res.failures)
        state = {k: v for k, v in streaming_layer(
            self.progress.triggers(res.run_ids)).items()
            if k.startswith("streaming.state.")}
        state.update(res.layer)
        state.update({f"stream_state.{k}": v for k, v in res.report.items()})
        with tr.span("sources.eve.parse"):
            parsed, row = tr.materialize(
                parse_eve(spark.read.text(self.drop), columns=[
                    "event_type", "ts", "dns_type", "http_host", "http_url",
                    "dns_rrname", "tls_sni", "tls_fingerprint"])
                .filter(F.col("event_type").isNotNull()),
                F.count(F.when(F.col("event_type").isin("http", "dns", "tls"),
                               1)).alias("probes"))
        with tr.span("ops.bloom_match"):
            alerts = bloom_match_events(parsed, self.ioc_bc).count()
        exact = self.refs["alerts"]
        if alerts != exact:
            failures.append(f"bloom_match alerts {alerts} != {exact}")
        tr.release()
        d = tr.durations()
        return state | {
            "sources.eve.parse_s": d["sources.eve.parse"][-1],
            "sources.eve.rows": row["_rows"],
            "ops.bloom_match.s": d["ops.bloom_match"][-1],
            "ops.bloom_match.probes": row["probes"],
            "ops.bloom_match.alerts": alerts,
            "ops.bloom_match.false_negatives": max(0, exact - alerts),
        }, failures


# -------------------------------------------------------------- curate_dedup

class CurateDedup(Workload):
    """jobs.curate over a corpus with 15% planted duplicates: quality
    filter → exact dedup → MinHash-LSH near-dup → write."""

    fixture = "docs"
    threshold = 0.7

    def __init__(self, *a):
        super().__init__(*a)
        self.path = os.path.join(self.fx, "docs")
        # digest of the first run's output for this seed: every later
        # operation, in this run or another, must write the same doc ids
        self.digest_file = os.path.join(self.fx, "written_ids.sha256")

    def run_op(self, spark, tr) -> OpResult:
        res = OpResult(rows=self.refs["rows"])
        out = self.fresh_dir("curate")
        t0 = time.perf_counter()
        try:
            with tr.span("jobs.curate"):
                man = curate(spark, self.path, out, min_quality=0.5,
                             min_tokens=5, near_dup_threshold=self.threshold)
            res.wall = time.perf_counter() - t0
            ids = np.sort(pq.read_table(out, columns=["doc_id"])
                          .column("doc_id").to_numpy())
        finally:
            shutil.rmtree(out, ignore_errors=True)
        res.times.append(res.wall)
        digest = hashlib.sha256(ids.tobytes()).hexdigest()
        if not os.path.exists(self.digest_file):
            with open(self.digest_file, "w") as f:
                f.write(digest)
        with open(self.digest_file) as f:
            if f.read() != digest:
                res.failures.append("written doc ids differ between runs")
        recall, precision = dup_quality(ids, self.arrays["doc_id"],
                                        self.arrays["group"])
        res.report.update(dup_recall=recall, dup_precision=precision)
        res.layer.update({f"jobs.curate.{k}_s": v for k, v in
                          man["stage_seconds"].items()})
        return res

    def trace_extra(self, spark, tr):
        """The near-dup operators one by one on the curate input."""
        docs = spark.read.parquet(self.path)
        with tr.span("operators.dedup.signatures"):
            sigs, _ = tr.materialize(dedup.minhash_signatures(docs))
        with tr.span("operators.dedup.lsh_pairs"):
            pairs, row = tr.materialize(
                dedup.lsh_candidate_pairs(sigs, num_hashes=128),
                F.count(F.when(F.col("est_jaccard") >= self.threshold, 1))
                .alias("verified"))
        with tr.span("operators.dedup.clusters"):
            dedup.near_dup_clusters(
                pairs.filter(F.col("est_jaccard") >= self.threshold)).count()
        tr.release()
        d = tr.durations()
        cand, ver = row["_rows"], row["verified"]
        return {
            "operators.dedup.signatures_s": d["operators.dedup.signatures"][-1],
            "operators.dedup.lsh_pairs_s": d["operators.dedup.lsh_pairs"][-1],
            "operators.dedup.clusters_s": d["operators.dedup.clusters"][-1],
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.verified_pairs": ver,
            "operators.dedup.pair_yield": ver / cand if cand else 0.0,
        }, []


# -------------------------------------------------------------- stream_state

class StreamState(Workload):
    """A parquet drop of timestamped docs in event-time order, drained two
    files per trigger through the three stateful streaming paths.
    Operations are triggers."""

    fixture = "stream"
    files_per_trigger = 2
    schema = "doc_id long, ts timestamp, text string"

    def __init__(self, *a):
        super().__init__(*a)
        self.drop = os.path.join(self.fx, "drop")
        distinct = self.refs["distinct"]
        self.queries = {
            "exact_dedup": lambda st: exact_stream_dedup(
                st, F.xxhash64("text"), "ts", "10 minutes"),
            "bloom_dedup": lambda st: bloom_stream_dedup(
                st, n_buckets=8, capacity=max(1000, distinct // 2),
                fpp=1e-6, ttl_ms=None),
            "windowed_counts": lambda st: windowed_counts_stream(
                st, [], "ts", window="1 minute", watermark="2 minutes"),
        }

    def _drain(self, spark, name, make, tr, res):
        chunks = []
        if name == "windowed_counts":
            def sink(bdf, _bid):
                chunks.append(bdf.select(
                    F.col("window.start").cast("long").alias("w"),
                    "count").toPandas())
        else:
            def sink(bdf, _bid):
                chunks.append(bdf.select("doc_id").toPandas())
        ck = self.fresh_dir(f"ck-{name}")
        before = self.progress.run_ids()
        stream = (spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", self.files_per_trigger)
                  .parquet(self.drop))
        try:
            with tr.span(f"streaming.{name}"):
                q = (make(stream).writeStream.queryName(f"perfbench-{name}")
                     .foreachBatch(sink).option("checkpointLocation", ck)
                     .trigger(availableNow=True).start())
                q.awaitTermination()
        finally:
            shutil.rmtree(ck, ignore_errors=True)
        trig = self._drain_triggers(before, res)
        res.times += [p["durationMs"]["triggerExecution"] / 1e3 for p in trig]
        out = (pd.concat(chunks, ignore_index=True) if chunks
               else pd.DataFrame({"doc_id": [], "w": [], "count": []}))
        return out, trig

    def run_op(self, spark, tr) -> OpResult:
        res = OpResult(rows=3 * self.refs["rows"])
        t0 = time.perf_counter()
        outs, trig = {}, []
        for name, make in self.queries.items():
            outs[name], t = self._drain(spark, name, make, tr, res)
            trig += t
        res.wall = time.perf_counter() - t0
        distinct = self.refs["distinct"]
        ids, grp = self.arrays["doc_id"], self.arrays["group"]
        kept_exact = outs["exact_dedup"]["doc_id"].to_numpy()
        kept_bloom = outs["bloom_dedup"]["doc_id"].to_numpy()
        if len(kept_exact) != distinct:
            res.failures.append(f"exact kept {len(kept_exact)} != {distinct}")
        slack = 5
        if not distinct - slack <= len(kept_bloom) <= distinct:
            res.failures.append(f"bloom kept {len(kept_bloom)} of {distinct}")
        q = [dup_quality(k, ids, grp) for k in (kept_exact, kept_bloom)]
        res.report.update(dup_recall=min(r for r, _ in q),
                          dup_precision=min(p for _, p in q))
        win = outs["windowed_counts"]
        ref = self.refs["window_counts"]
        bad = sum(ref.get(str(int(w))) != c
                  for w, c in zip(win["w"], win["count"]))
        if bad or len(win) < len(ref) - 4:
            res.failures.append(f"windows: {bad} wrong, {len(win)} emitted")
        state = [op for p in trig for op in p.get("stateOperators", [])]
        late = sum(op.get("numRowsDroppedByWatermark", 0) for op in state)
        if late:
            res.failures.append(f"{late} rows dropped as late")
        res.layer["streaming.state.rows_dropped_late"] = late
        return res


WORKLOADS = {"page_sketch": PageSketch, "eve_alert": EveAlert,
             "curate_dedup": CurateDedup, "stream_state": StreamState}


def streaming_layer(triggers: list[dict]) -> dict[str, float]:
    """Median per trigger of the progress phases and the state commit
    time; the largest state seen (rows and memory)."""
    def med(vals):
        return statistics.median(vals) if vals else 0.0

    out = {}
    for key, name in (("addBatch", "add_batch_s"),
                      ("queryPlanning", "query_planning_s"),
                      ("walCommit", "wal_commit_s"),
                      ("commitOffsets", "commit_offsets_s"),
                      ("latestOffset", "latest_offset_s")):
        out[f"streaming.trigger.{name}"] = med(
            [p["durationMs"].get(key, 0) / 1e3 for p in triggers])
    state = [p.get("stateOperators", []) for p in triggers]
    out["streaming.state.rows_total"] = max(
        sum(op.get("numRowsTotal", 0) for op in s) for s in state)
    out["streaming.state.commit_s"] = med(
        [sum(op.get("commitTimeMs", 0) for op in s) / 1e3 for s in state])
    out["streaming.state.memory_bytes"] = max(
        sum(op.get("memoryUsedBytes", 0) for op in s) for s in state)
    return out
