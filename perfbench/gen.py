"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, scale): the same seed gives
byte-identical parquet files. The shapes mirror the repository's
TPC-H-ish test tables (same schemas, physical types and value
distributions), so every registry query runs on them unchanged:

- region / nation: the fixed 5 / 25 row dimensions;
- customer, supplier, part, orders, lineitem: uniform keys and
  attributes, row counts proportional to the scale factor (sf 1 =
  6M lineitem rows);
- events: a 30-day stream whose `ts` is monotone in `event_id`;
- documents: word-salad text over a 30-word vocabulary, 5 % of the
  documents planted as near-duplicates (a copy of another document
  plus the token "dup");
- embeddings: 64-d unit vectors around 10 labelled centroids.

The curation workload also gets a decontamination eval set (a seeded
sample of document spans, perturbed) and its corpus packed as zip
archive shards for the ingest step.
"""
import datetime as dt
import io
import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = dt.datetime(1970, 1, 1)


def _days(y, m, d):
    return (dt.datetime(y, m, d) - EPOCH).days


def _ts_days(days):
    return pa.array(days.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    tbl = pa.table(cols)
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    return tbl.num_rows


def _docs(rng, n):
    """Word-salad documents with planted near-duplicates (text list)."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    dups = np.flatnonzero(rng.random(n) < 0.05)
    for i in dups:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return texts


def tables(out, seed, sf):
    """Write the ten tables under `out`; return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    rows = {}
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 200)
    n_li = max(int(6_000_000 * sf), 600)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 20)
    n_doc = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 100)

    rows["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def bal(n):
        return np.round(rng.uniform(-999.99, 9999.99, n), 2)

    rows["customer"] = _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": bal(n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": bal(n_supp)})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    rows["part"] = _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_days(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    s0, s1 = _days(1995, 1, 2), _days(2001, 11, 4)
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(rng.integers(s0, s1 + 1, n_li))})
    t0 = (dt.datetime(2024, 1, 1) - EPOCH).total_seconds() * 1e6
    ts = np.sort(rng.integers(int(t0), int(t0 + 30 * 86_400e6), n_ev))
    rows["events"] = _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _docs(rng, n_doc)
    rows["documents"] = _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    cent = rng.normal(0, 1, (10, 64))
    vec = cent[labels] * 0.35 + rng.normal(0, 1, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return rows


def corpus(out, seed, n_docs, n_shards):
    """Curation inputs: `n_docs` raw documents packed into `n_shards` zip
    archives (`shards/`), plus a decontamination eval set
    (`evalset.parquet`). Raw documents carry HTML markup and a few
    non-NFC characters so the clean step has work to do; every line ends
    in terminal punctuation so the C4 rules keep most documents."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7, n_docs])
    texts = _docs(rng, n_docs)
    raw = []
    for i, t in enumerate(texts):
        w = t.split(" ")
        lines = [" ".join(w[k:k + 12]) + "." for k in range(0, len(w), 12)]
        body = "\n".join(lines)
        if i % 7 == 0:
            body = body.replace("data", "datá", 1)
        raw.append(f"<html><body><p>{body}</p>"
                   f"<script>var x = {i};</script></body></html>")
    shard_dir = os.path.join(out, "shards")
    os.makedirs(shard_dir, exist_ok=True)
    nbytes = 0
    for s in range(n_shards):
        path = os.path.join(shard_dir, f"docs-{s:03d}.zip")
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            for i in range(s, n_docs, n_shards):
                info = zipfile.ZipInfo(f"{i:08d}.html", (2024, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                z.writestr(info, raw[i])
        with open(path, "wb") as f:
            f.write(buf.getvalue())
        nbytes += len(buf.getvalue())
    # eval set: 12-token spans of sampled documents, every fourth token
    # swapped, so the overlap report finds real but partial overlaps
    picks = rng.choice(n_docs, size=max(n_docs // 50, 10), replace=False)
    evals = []
    for j, i in enumerate(sorted(picks)):
        w = texts[i].split(" ")
        k = int(rng.integers(0, max(len(w) - 12, 1)))
        span = w[k:k + 12]
        if j % 2:
            span = [VOCAB[int(rng.integers(0, len(VOCAB)))] if q % 4 == 3
                    else x for q, x in enumerate(span)]
        evals.append(" ".join(span))
    _write(out, "evalset", {
        "eval_id": pa.array(np.arange(len(evals)), pa.int64()),
        "text": evals})
    return {"docs": n_docs, "shards": n_shards, "eval_rows": len(evals),
            "shard_bytes": nbytes}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def ensure(cache, key, build):
    """Build `cache/key` once (atomic publish); return its manifest."""
    target = os.path.join(cache, key)
    manifest = os.path.join(target, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    tmp = target + f".tmp{os.getpid()}"
    info = build(tmp)
    info["bytes"] = dir_bytes(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f)
    os.makedirs(cache, exist_ok=True)
    if os.path.exists(target):
        shutil.rmtree(target)
    os.replace(tmp, target)
    return info
