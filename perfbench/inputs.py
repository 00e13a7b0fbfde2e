"""Seeded, deterministic benchmark inputs, cached per (seed, size).

Three input sets, one per workload family:

* ``mr``     — the MapReduce text corpus (word count) and the AMPLab
               ``rankings``/``uservisits`` CSV files (Q3 join), sharded
               into several files so the map side runs in parallel, plus
               the expected answers, computed here in pure Python from
               the generator's own draws (never through Spark).
* ``tables`` — TPC-H-ish star schema plus ``events`` and ``documents``
               parquet files with the column names and value shapes the
               registry queries read.
* ``docs``   — ``documents`` alone, for the dedup pipeline.

Everything derives from one ``numpy.random.Generator`` seeded with the
run's seed, so the same seed gives byte-identical files; the seed also
sets the row order of every fact table. A content hash over the files
is stored next to them and re-checked on every run.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes are expressed per unit scale (rows at scale 1.0 match the
# shape of the TPC-H-ish generator at sf 1).
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
_USERS_PER_SF = 15_000
_ROW_GROUP = 122_880

_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_KINDS = ("mr", "tables", "docs")


def _days(first: str, last: str) -> tuple[int, int]:
    d0 = np.datetime64(first, "D").astype(np.int64)
    d1 = np.datetime64(last, "D").astype(np.int64)
    return int(d0), int(d1)


def _timestamps_us(rng: np.random.Generator, n: int, first: str, last: str):
    d0, d1 = _days(first, last)
    return rng.integers(d0, d1 + 1, n, dtype=np.int64) * _DAY_US


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return cents / 100.0


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=_ROW_GROUP)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Templated corpus over a 30-word vocabulary, 10-100 words per
    document; 5% near-duplicates (an original document plus a trailing
    ``dup``) and a few exact copies, so every dedup stage has work.
    Copies are only ever made of originals, so every near-duplicate
    cluster is a star and the dedup graph has the same depth for every
    seed."""
    vocab = np.array(_DOC_VOCAB)
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(vocab), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[words[bounds[i] : bounds[i + 1]]]) for i in range(n)]
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    originals = [0]
    for i in range(1, n):
        j = originals[int(src[i]) % len(originals)]
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[j]
        else:
            originals.append(i)
    order = rng.permutation(n)  # doc ids are the seed's row order
    ids = np.arange(n, dtype=np.int64)
    texts = [texts[k] for k in order]
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _tables(rng: np.random.Generator, sf: float, out: str) -> None:
    n = {k: max(int(v * sf), 1) for k, v in _ROWS_PER_SF.items()}
    users = max(int(_USERS_PER_SF * sf), 1)
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": _REGIONS,
            }
        ),
        f"{out}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{out}/nation.parquet",
    )
    nc = n["customer"]
    _write(
        pa.table(
            {
                "c_custkey": np.arange(nc, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
                "c_acctbal": _money(rng, nc, -999.99, 9999.99),
                "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
            }
        ),
        f"{out}/customer.parquet",
    )
    ns = n["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(ns, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
                "s_acctbal": _money(rng, ns, -999.99, 9999.99),
            }
        ),
        f"{out}/supplier.parquet",
    )
    no = n["orders"]
    okeys = rng.permutation(no).astype(np.int64)
    _write(
        pa.table(
            {
                "o_orderkey": okeys,
                "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                "o_totalprice": _money(rng, no, 1000.0, 500000.0),
                "o_orderdate": pa.array(
                    _timestamps_us(rng, no, "1995-01-01", "2001-08-01"),
                    pa.timestamp("us"),
                ),
                "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
            }
        ),
        f"{out}/orders.parquet",
    )
    nl = n["lineitem"]
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
                "l_partkey": rng.integers(0, max(nl // 30, 1), nl, dtype=np.int64),
                "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
                "l_shipdate": pa.array(
                    _timestamps_us(rng, nl, "1995-01-02", "2001-11-04"),
                    pa.timestamp("us"),
                ),
            }
        ),
        f"{out}/lineitem.parquet",
    )
    ne = n["events"]
    t0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts_us = t0 + rng.integers(0, 30 * _DAY_US, ne, dtype=np.int64)
    _write(
        pa.table(
            {
                "event_id": np.arange(ne, dtype=np.int64),
                "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
                "user_id": rng.integers(0, users, ne, dtype=np.int64),
                "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
                "value": _money(rng, ne, 0.0, 560.0),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
            }
        ),
        f"{out}/events.parquet",
    )
    _write(_documents(rng, n["documents"]), f"{out}/documents.parquet")


def _shard_lines(lines: list[str], out: str, stem: str, shards: int) -> None:
    per = -(-len(lines) // shards)
    for s in range(shards):
        with open(f"{out}/{stem}-{s:02d}.txt", "w") as f:
            f.write("\n".join(lines[s * per : (s + 1) * per]) + "\n")


def _mr(rng: np.random.Generator, size: float, out: str, shards: int) -> dict:
    """Word-count corpus and AMPLab CSVs; returns the expected outputs.

    Corpus: Zipf(1.1) draws over a random lowercase vocabulary, each
    occurrence rendered as one of several surface forms (capitalised,
    upper case, punctuation around it) that the reference tokenizer
    folds back to the base word, so expected counts are plain counts of
    the base-word draws."""
    n_words = int(1_200_000 * size)
    vocab_n = 20_000
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    lens = rng.integers(2, 11, vocab_n)
    raw = rng.integers(0, 26, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    vocab = [bytes(letters[raw[cuts[i] : cuts[i + 1]]]).decode() for i in range(vocab_n)]
    vocab = list(dict.fromkeys(vocab))  # unique base words
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks**1.1
    draws = rng.choice(len(vocab), n_words, p=p / p.sum())
    forms = rng.integers(0, 8, n_words)
    render = (
        lambda w: w,
        lambda w: w.capitalize(),
        lambda w: w + ",",
        lambda w: w + ".",
        lambda w: w.upper(),
        lambda w: "(" + w + ")",
        lambda w: w,
        lambda w: w + "!",
    )
    tokens = [render[f](vocab[d]) for d, f in zip(draws.tolist(), forms.tolist())]
    per_line = rng.integers(6, 19, n_words // 6)
    lines, pos = [], 0
    for k in per_line.tolist():
        if pos >= n_words:
            break
        lines.append(" ".join(tokens[pos : pos + k]))
        pos += k
    os.makedirs(f"{out}/corpus")
    _shard_lines(lines, f"{out}/corpus", "part", shards)
    counts = np.bincount(draws, minlength=len(vocab))
    wordcount = {vocab[i]: str(int(c)) for i, c in enumerate(counts) if c}

    n_rank = int(30_000 * size)
    n_visit = int(300_000 * size)
    urls = [f"url{i:07d}.example.com/p{i % 97}" for i in range(n_rank)]
    page_rank = rng.integers(1, 100, n_rank)
    duration = rng.integers(1, 60, n_rank)
    rank_lines = [f"{u},{r},{d}" for u, r, d in zip(urls, page_rank.tolist(), duration.tolist())]
    # A tenth of the visits point at URLs that have no ranking.
    dest = rng.integers(0, int(n_rank * 1.1), n_visit).tolist()
    ips = rng.integers(0, max(n_visit // 20, 1), n_visit).tolist()
    d0, d1 = _days("1995-01-01", "2004-12-31")
    vdays = rng.integers(d0, d1 + 1, n_visit).astype("datetime64[D]").astype(str).tolist()
    rev = rng.integers(1, 100_000, n_visit).tolist()
    visit_lines, joined = [], defaultdict(lambda: ([], []))
    for ip_i, d, day, c in zip(ips, dest, vdays, rev):
        ip = f"10.{ip_i >> 16 & 255}.{ip_i >> 8 & 255}.{ip_i & 255}"
        url = urls[d] if d < n_rank else f"missing{d}.example.com"
        visit_lines.append(f"{ip},{url},{day},{c / 100},agent,US,en,word,{c % 50}")
        if day < "2000-01-01" and d < n_rank:
            ranks_, revs = joined[ip]
            ranks_.append(int(page_rank[d]))
            revs.append(c / 100)
    os.makedirs(f"{out}/amplab")
    _shard_lines(rank_lines, f"{out}/amplab", "rankings", max(shards // 4, 1))
    _shard_lines(visit_lines, f"{out}/amplab", "uservisits", shards)
    amplab3 = {
        ip: f"{sum(r) / len(r):f}\t{math.fsum(v) / len(v):f}"
        for ip, (r, v) in joined.items()
    }
    return {"wordcount": wordcount, "amplab3": amplab3}


def _content_hash(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(files):
            if name == "MANIFEST.json":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                for block in iter(lambda: f.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def ensure(cache: str, kind: str, seed: int, size: float, shards: int) -> str:
    """Return the directory of input set ``kind`` for (seed, size),
    generating it on first use. The directory's content hash is
    checked on every call; a mismatch regenerates it."""
    with open(__file__, "rb") as f:  # a changed generator never reuses a cache
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    root = os.path.join(cache, f"{kind}-seed{seed}-size{size:g}-x{shards}-{version}")
    manifest = os.path.join(root, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            want = json.load(f)["sha256"]
        if _content_hash(root) == want:
            return root
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, _KINDS.index(kind)])
    if kind == "mr":
        expected = _mr(rng, size, tmp, shards)
        with open(f"{tmp}/expected.json", "w") as f:
            json.dump(expected, f, sort_keys=True)
    elif kind == "tables":
        _tables(rng, size, tmp)
    else:
        _write(_documents(rng, int(_ROWS_PER_SF["documents"] * size)), f"{tmp}/documents.parquet")
    with open(f"{tmp}/MANIFEST.json", "w") as f:
        json.dump({"seed": seed, "size": size, "sha256": _content_hash(tmp)}, f)
    os.rename(tmp, root)
    return root
