#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

    python3 perfbench/gen.py --seed N --out DIR

Writes, byte-stable per seed (numpy PCG64 + pyarrow with fixed writer
options, one row group per file):

  DIR/tabular/<table>.parquet   TPC-H-ish star schema + `events`, with the
                                schemas of the repo's test tables; row
                                counts are in spec.json ("tabular.rows").
  DIR/corpus/documents.parquet  Zipf-vocabulary documents with planted
                                exact and near duplicates and a `y`
                                quality label (spam docs are y = 0).
  DIR/ingest/arrivals.parquet   the arrival schedule: (batch, doc_id,
                                source, text, kind); `kind` is fresh,
                                exact (copy of a corpus doc), near (10%
                                of its words swapped) or spam.

The Spark program only ever sees these files.
"""
import argparse
import datetime as dt
import hashlib
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPEC = json.loads((Path(__file__).parent / "spec.json").read_text())
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def write(tbl: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows),
                   compression="snappy", use_dictionary=True,
                   write_statistics=True)


def ts_us(offsets_us: np.ndarray, start: dt.datetime) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tabular(rng: np.random.Generator, out: Path) -> None:
    rows = SPEC["tabular"]["rows"]
    day = 86_400 * 1_000_000
    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        out / "region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        out / "nation.parquet")

    nc = rows["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]}), out / "customer.parquet")

    ns = rows["supplier"]
    write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)}), out / "supplier.parquet")

    npart = rows["part"]
    colors = np.array(["red", "blue", "green", "small", "large", "dark", "pale", "bright"])
    nouns = np.array(["widget", "bolt", "ring", "gear", "valve", "spring", "plate", "screw"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    keys = np.arange(npart)
    write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 8, npart)], " "),
                              nouns[rng.integers(0, 8, npart)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)}), out / "part.parquet")

    no = rows["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odays = rng.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1, no)
    write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": ts_us(odays * day, dt.datetime(1995, 1, 1)),
        "o_orderpriority": prio[rng.integers(0, 5, no)]}), out / "orders.parquet")

    # 1..7 lines per order, trimmed to the target count; (orderkey,
    # linenumber) stays unique as in TPC-H
    nl = rows["lineitem"]
    per = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), per)[:nl]
    lnum = np.concatenate([np.arange(1, p + 1) for p in per])[:nl]
    n = len(okey)
    sdays = rng.integers(1, (dt.date(2001, 11, 4) - dt.date(1995, 1, 1)).days + 1, n)
    write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ts_us(sdays * day, dt.datetime(1995, 1, 1))}), out / "lineitem.parquet")

    ne = rows["events"]
    nusers = max(10, ne * 15 // 1000)
    offs = np.sort(rng.integers(0, 30 * day, ne))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": ts_us(offs, dt.datetime(2024, 1, 1)),
        "user_id": pa.array(rng.integers(0, nusers, ne), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, ne)],
        "value": money(rng, 0.01, 500.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        out / "events.parquet")


def det_word(rank: int) -> str:
    h = hashlib.md5(f"w{rank}".encode()).digest()
    return "".join(LETTERS[h[1 + i % 14] % 26] for i in range(2 + h[0] % 11))


class Words:
    """Zipf(s) vocabulary plus a disjoint spam vocabulary."""

    def __init__(self, rng: np.random.Generator, size: int, s: float):
        self.rng = rng
        self.vocab = np.array([det_word(r) for r in range(size)], dtype=object)
        p = np.arange(1, size + 1, dtype=np.float64) ** -s
        self.cdf = np.cumsum(p / p.sum())
        self.spam = np.array([f"spam{i}" for i in range(40)], dtype=object)

    def draw(self, n: int) -> list:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return list(self.vocab[np.minimum(idx, len(self.vocab) - 1)])

    def doc(self, spam: bool) -> str:
        words = self.draw(int(self.rng.integers(20, 90)))
        if spam:  # every third word from the spam vocabulary
            for i in range(0, len(words), 3):
                words[i] = self.spam[self.rng.integers(0, len(self.spam))]
        return " ".join(words)

    def near(self, text: str) -> str:
        words = text.split(" ")
        pos = self.rng.choice(len(words), size=max(1, len(words) // 10), replace=False)
        for p, w in zip(pos, self.draw(len(pos))):
            words[p] = w
        return " ".join(words)


def gen_corpus_and_arrivals(rng: np.random.Generator, out: Path) -> None:
    c, a = SPEC["corpus"], SPEC["ingest"]
    words = Words(rng, c["vocab"], c["zipf_s"])
    texts, ys = [], []
    for _ in range(c["docs"]):
        r = rng.random()
        if texts and r < c["exact_dup_frac"] + c["near_dup_frac"]:
            j = int(rng.integers(0, len(texts)))
            near = r >= c["exact_dup_frac"]
            texts.append(words.near(texts[j]) if near else texts[j])
            ys.append(ys[j])
        else:
            spam = rng.random() < c["spam_frac"]
            texts.append(words.doc(spam))
            ys.append(0 if spam else 1)
    write(pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "y": pa.array(ys, pa.int32())}), out / "corpus" / "documents.parquet")

    mix = a["mix"]  # kind -> share of arrivals
    kinds = list(mix)
    cum = np.cumsum([mix[k] for k in kinds])
    rows = {"batch": [], "doc_id": [], "source": [], "text": [], "kind": []}
    next_id = 1_000_000
    for b in range(a["max_batches"]):
        for _ in range(a["docs_per_batch"]):
            kind = kinds[int(np.searchsorted(cum, rng.random() * cum[-1], side="right"))]
            src = texts[int(rng.integers(0, len(texts)))]
            text = {"fresh": lambda: words.doc(False), "spam": lambda: words.doc(True),
                    "exact": lambda: src, "near": lambda: words.near(src)}[kind]()
            rows["batch"].append(b)
            rows["doc_id"].append(next_id)
            rows["source"].append(f"feed{int(rng.integers(0, a['sources']))}")
            rows["text"].append(text)
            rows["kind"].append(kind)
            next_id += 1
    write(pa.table({
        "batch": pa.array(rows["batch"], pa.int32()),
        "doc_id": pa.array(rows["doc_id"], pa.int64()),
        "source": rows["source"], "text": rows["text"], "kind": rows["kind"]}),
        out / "ingest" / "arrivals.parquet")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    out = Path(args.out)
    gen_tabular(np.random.Generator(np.random.PCG64(args.seed)), out / "tabular")
    gen_corpus_and_arrivals(np.random.Generator(np.random.PCG64([args.seed, 1])), out)


if __name__ == "__main__":
    main()
