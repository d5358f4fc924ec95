"""Seeded input tables for the benchmark.

The generator mirrors the shape of the project's synthetic test data
(see TESTDATA.md): a TPC-H-style `lineitem`, a `documents` corpus drawn
from a 30-word vocabulary with planted exact and near duplicates, and
unit-norm 64-d `embeddings` with ten labels. Only the tables the
benchmark's queries read are written.

`scaled` applies graft.ScaleUp's perturbations to a base set: replica i
shifts keys, appends " replica<i>" to every document, nudges embeddings
by 0.001*i and moves ship dates i weeks on, so the copy stays
adversarial (near-duplicates, not exact ones).
"""
import datetime
import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ("a the big small fast slow data table column row value key "
         "part line order customer query scan join filter group agg "
         "sort hash merge window stream batch vector spark").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SHIP0 = datetime.datetime(1995, 1, 2)


def documents(rng, n):
    counts = rng.integers(8, 96, n)
    words = rng.integers(0, len(VOCAB), int(counts.sum()))
    texts, at = [], 0
    for c in counts:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + c]))
        at += c
    # about 5% near duplicates and 0.2% exact duplicates of earlier docs
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif u < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    v = 0.5 * centers[label] + rng.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": label,
    })


def lineitem(rng, n):
    # orders of 1..7 lines, keys drawn sparsely as in the test data
    lines = rng.integers(1, 8, n)
    order = np.repeat(np.arange(n, dtype=np.int64), lines)[:n]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:n]
    days = rng.integers(0, 2498, n)
    return pa.table({
        "l_orderkey": order,
        "l_partkey": rng.integers(0, max(1, n // 30), n),
        "l_suppkey": rng.integers(0, max(1, n // 600), n),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(
            np.datetime64(SHIP0, "us") + days.astype("timedelta64[D]"),
            type=pa.timestamp("us")),
    })


def base(seed, docs, embs, lines):
    rng = np.random.default_rng(seed)
    return {"documents": documents(rng, docs),
            "embeddings": embeddings(rng, embs),
            "lineitem": lineitem(rng, lines)}


def _shift(col, by):
    return pc.add(col, pa.scalar(by, col.type))


def scaled(tables, factor):
    out = {}
    d, e, l = tables["documents"], tables["embeddings"], tables["lineitem"]
    out["documents"] = pa.concat_tables([d] + [
        d.set_column(0, "doc_id", _shift(d["doc_id"], i * 50_000_000))
         .set_column(1, "text", pc.binary_join_element_wise(
             d["text"], pa.scalar(f"replica{i}"), " "))
        for i in range(1, factor)])
    vecs = e["embedding"].combine_chunks()
    out["embeddings"] = pa.concat_tables([e] + [
        e.set_column(0, "vec_id", _shift(e["vec_id"], i * 50_000_000))
         .set_column(1, "embedding", pa.ListArray.from_arrays(
             vecs.offsets, pc.add(vecs.values, np.float32(0.001 * i))))
        for i in range(1, factor)])
    ship = l["l_shipdate"].to_numpy()
    out["lineitem"] = pa.concat_tables([l] + [
        l.set_column(0, "l_orderkey", _shift(l["l_orderkey"], i * 100_000_000))
         .set_column(10, "l_shipdate", pa.array(
             ship + np.timedelta64(7 * i, "D"), type=pa.timestamp("us")))
        for i in range(1, factor)])
    return out


def write(tables, path):
    """Write each table as <path>/<name>.parquet plus a manifest of row
    counts and sizes; returns the manifest."""
    path.mkdir(parents=True, exist_ok=True)
    manifest = {}
    for name, t in tables.items():
        f = path / f"{name}.parquet"
        pq.write_table(t, f, compression="snappy")
        manifest[name] = {"rows": t.num_rows,
                          "mb": round(f.stat().st_size / 2**20, 3)}
    (path / "manifest.json").write_text(json.dumps(manifest, sort_keys=True))
    return manifest
