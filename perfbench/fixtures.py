"""Seeded benchmark inputs and their exact references.

Run as a script (``python3 perfbench/fixtures.py WORKLOAD SEED OUTDIR``) so
generation happens in its own process: the measured process never carries
the generator's memory peak, and no Spark session is needed. Each fixture
directory holds the input files plus ``refs.json`` (and ``refs.npz`` for
array references), computed here once from the same arrays and never timed.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# page_sketch is sized so per-row work (scan, sketch updates, the Arrow
# boundary; 3.9 us a page on a 4-core host) outweighs the fixed per-job
# cost (3.3 s); the others keep one operation (one drain of a drop
# directory) to a few seconds, so a run holds several triggers after
# Spark's start-up cost
PAGES = 1_000_000
PAGE_FILES = 8
EVENTS = 24_000
EVE_FILES = 5
DOCS = 8_000
STREAM_DOCS = 48_000
STREAM_FILES = 12

KLL_K = 200
TDIGEST_DELTA = 200.0
HLL_P = 14
CMS_EPS = 1e-3
CMS_DELTA = 1e-3
BLOOM_FPP = 1e-3
QUANTILES = [0.1, 0.5, 0.9, 0.99]


def _write_parquet_files(df: pd.DataFrame, out: str, n_files: int) -> None:
    os.makedirs(out, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(out, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


def _pages_file(args) -> pd.DataFrame:
    """Write one parquet file of pages; → its (url, lang, day, len) columns
    for the references."""
    from fever_spark.sources.synth import pages_chunk

    seed, out, i, ids = args
    df = pages_chunk(ids, seed=seed, n_total=PAGES)
    df["html"] = df["html"].map(bytes)
    # UTC-aware so Spark reads TIMESTAMP, the type watermarks accept
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]").dt.tz_localize("UTC")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(out, f"part-{i:05d}.parquet"),
                   coerce_timestamps="us")
    return pd.DataFrame({"url": df["url"], "lang": df["lang"],
                         "day": df["warc_ts"].dt.strftime("%Y-%m-%d"),
                         "len": df["text"].str.len().astype(np.float64)})


def pages(seed: int, out: str) -> None:
    """Common-Crawl-style pages; references per (lang, day) group. Files
    are generated in parallel: rows are a function of (seed, row id), so
    they equal ``synth_pages(PAGES, seed)`` in order."""
    from concurrent.futures import ProcessPoolExecutor

    os.makedirs(os.path.join(out, "pages"))
    parts = np.array_split(np.arange(PAGES, dtype=np.int64), PAGE_FILES)
    jobs = [(seed, os.path.join(out, "pages"), i, ids)
            for i, ids in enumerate(parts)]
    with ProcessPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        df = pd.concat(list(pool.map(_pages_file, jobs)), ignore_index=True)

    rng = np.random.default_rng(seed)
    groups, distinct, lens, offsets, probes = [], {}, [], [0], []
    length = df["len"].to_numpy()
    for (lang, d), idx in df.groupby(["lang", "day"]).indices.items():
        key = f"{lang}|{d}"
        groups.append(key)
        urls = df["url"].to_numpy()[idx]
        distinct[key] = int(pd.unique(urls).size)
        lens.append(np.sort(length[idx]))
        offsets.append(offsets[-1] + len(idx))
        counts = pd.Series(urls).value_counts()
        for u in rng.choice(urls, size=min(8, len(urls)), replace=False):
            probes.append({"lang": lang, "day": d, "url": u,
                           "count": int(counts[u])})
    present = rng.choice(len(df), size=2000, replace=False)
    absent = [f"https://absent{seed}-{i}.example.net/q/{i}" for i in range(2000)]
    np.savez(os.path.join(out, "refs.npz"), lens=np.concatenate(lens),
             offsets=np.array(offsets, dtype=np.int64))
    _dump(out, {"rows": len(df), "groups": groups, "distinct": distinct,
                "cms_probes": probes,
                "bloom_present": [[df["lang"].iat[i], df["day"].iat[i],
                                   df["url"].iat[i]] for i in present],
                "bloom_absent": absent,
                "max_group_rows": int(np.diff(offsets).max())})


def _eve_line(r: dict) -> str:
    ev = {"event_type": r["event_type"],
          "timestamp": r["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f") + "+0000",
          "src_ip": r["src_ip"], "dest_ip": r["dest_ip"],
          "src_port": int(r["src_port"]), "dest_port": int(r["dest_port"]),
          "proto": r["proto"], "flow_id": r["flow_id"]}
    t = r["event_type"]
    if t == "flow":
        ev["flow"] = {k: int(r[k]) for k in (
            "bytes_toserver", "bytes_toclient", "pkts_toserver",
            "pkts_toclient")}
    elif t == "http":
        ev["http"] = {"hostname": r["http_host"], "url": r["http_url"]}
    elif t == "dns":
        ev["dns"] = {"rrname": r["dns_rrname"], "type": r["dns_type"],
                     "rrtype": r["dns_rrtype"]}
    elif t == "tls":
        ev["tls"] = {"sni": r["tls_sni"], "fingerprint": r["tls_fingerprint"]}
    return json.dumps(ev, separators=(",", ":"))


def eve(seed: int, out: str) -> None:
    """EVE JSON-lines drop directory, files in event-time order, plus the
    IOC list and the exact alert count of fever's BloomHandler semantics."""
    from fever_spark.sources.synth import synth_events

    df = synth_events(EVENTS, seed=seed).sort_values("ts", kind="stable")
    rng = np.random.default_rng(seed)
    # IOCs drawn from each probe domain, plus values absent from the data;
    # none of them equals a url/host+path/path probe string, so url probes
    # never fire and the alert count is a plain set-membership count
    iocs = ([f"host{i}" for i in rng.choice(30, 3, replace=False)]
            + [f"name{i}" for i in rng.choice(80, 4, replace=False)]
            + [f"sni{i}" for i in rng.choice(40, 2, replace=False)]
            + [f"fp:{i}" for i in rng.choice(40, 2, replace=False)]
            + [f"absent-{seed}-{i}" for i in range(5)])
    ioc = set(iocs)
    t = df["event_type"]
    http_hit = (t == "http") & df["http_host"].isin(ioc)
    dns_hit = (t == "dns") & df["dns_type"].isin(["query", "answer"]) \
        & df["dns_rrname"].isin(ioc)
    sni_hit = (t == "tls") & df["tls_sni"].isin(ioc)
    fp_hit = (t == "tls") & ~sni_hit & df["tls_fingerprint"].isin(ioc)
    alerts = int(http_hit.sum() + dns_hit.sum() + sni_hit.sum() + fp_hit.sum())

    drop = os.path.join(out, "drop")
    os.makedirs(drop)
    lines = [_eve_line(r) for r in df.to_dict("records")]
    for i, part in enumerate(np.array_split(np.arange(len(lines)), EVE_FILES)):
        with open(os.path.join(drop, f"eve-{i:05d}.json"), "w") as f:
            f.write("\n".join(lines[j] for j in part) + "\n")
    _dump(out, {"rows": len(df), "iocs": iocs, "alerts": alerts,
                "dns": int((t == "dns").sum()),
                "probes": int(t.isin(["http", "dns", "tls"]).sum())})


def _texts(rng, n: int, lo: int, hi: int) -> list[str]:
    from fever_spark.sources.synth import vocab

    voc = vocab()
    n_tok = rng.integers(lo, hi, size=n)
    toks = voc[rng.integers(0, len(voc), size=int(n_tok.sum()))]
    return [" ".join(t) for t in np.split(toks, np.cumsum(n_tok)[:-1])]


def docs(seed: int, out: str) -> None:
    """Curation corpus: base docs, 5% low-quality junk, 5% exact copies and
    10% near copies (one word replaced) of base docs — 15% planted
    duplicates. ``group`` maps each doc to the base doc it copies."""
    rng = np.random.default_rng(seed)
    n_junk, n_exact, n_near = DOCS // 20, DOCS // 20, DOCS // 10
    n_base = DOCS - n_junk - n_exact - n_near
    text = _texts(rng, n_base, 60, 120)
    group = list(range(n_base))
    for k, src in enumerate(rng.choice(n_base, n_exact + n_near)):
        words = text[src].split(" ")
        if k >= n_exact:
            words[rng.integers(len(words))] = f"edit{seed}x{k}"
        text.append(" ".join(words))
        group.append(int(src))
    text += [f"$$$ 111 !!! buy {i} ### 999 win %%% {i}" for i in range(n_junk)]
    group += [-1] * n_junk
    # doc ids are a seeded permutation so copies are not adjacent to
    # their sources in id order or in file order
    ids = rng.permutation(DOCS).astype(np.int64)
    df = pd.DataFrame({"doc_id": ids, "text": text, "lang": "en",
                       "group": np.array(group, dtype=np.int64)})
    df = df.sort_values("doc_id").reset_index(drop=True)
    _write_parquet_files(df[["doc_id", "text", "lang"]],
                         os.path.join(out, "docs"), 4)
    np.savez(os.path.join(out, "refs.npz"), doc_id=df["doc_id"].to_numpy(),
             group=df["group"].to_numpy())
    _dump(out, {"rows": DOCS, "junk": n_junk, "planted": n_exact + n_near,
                "distinct": n_base})


def stream(seed: int, out: str) -> None:
    """Timestamped docs at 10 per second in event-time order across files;
    within a file rows are shuffled in 20-second blocks, far below the
    2-minute watermark. 25% of rows repeat the text of a doc from the
    previous minute."""
    rng = np.random.default_rng(seed)
    n = STREAM_DOCS
    group = np.arange(n, dtype=np.int64)
    dup = np.flatnonzero(rng.random(n) < 0.25)
    dup = dup[dup >= 600]
    group[dup] = dup - rng.integers(1, 600, size=len(dup))
    # resolve chains so every row points at the first copy of its text
    while True:
        nxt = group[group]
        if (nxt == group).all():
            break
        group = nxt
    body = _texts(rng, n, 8, 16)
    text = np.array([f"doc {g} {body[g]}" for g in group], dtype=object)
    ts_us = 1_780_000_000_000_000 + np.arange(n, dtype=np.int64) * 100_000
    order = np.arange(n)
    for s in range(0, n, 200):
        rng.shuffle(order[s:s + 200])
    df = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64)[order],
                       "ts": pd.to_datetime(ts_us[order], unit="us", utc=True),
                       "text": text[order]})
    _write_parquet_files(df, os.path.join(out, "drop"), STREAM_FILES)
    minute = ts_us // 60_000_000 * 60
    windows = pd.Series(minute).value_counts()
    np.savez(os.path.join(out, "refs.npz"), doc_id=np.arange(n),
             group=group)
    _dump(out, {"rows": n, "distinct": int(np.unique(group).size),
                "window_counts": {str(k): int(v) for k, v in windows.items()}})


def _dump(out: str, refs: dict) -> None:
    with open(os.path.join(out, "refs.json"), "w") as f:
        json.dump(refs, f)


GENERATORS = {"pages": pages, "eve": eve, "docs": docs, "stream": stream}


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    GENERATORS[kind](seed, out)
