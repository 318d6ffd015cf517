"""Seeded input generator for the benchmark.

Writes the engine's ten parquet tables (the schemas in FIXTURES.md, with the
value domains of the synthetic TPC-H-ish test tables) plus a Zipf text corpus
of plain line files. Everything is drawn from one ``numpy`` generator seeded
by ``--seed``: the same seed gives byte-identical files, another seed gives
other bytes with the same statistical shape.

The generator also returns what the benchmark needs to check results without
running an engine: the exact word counts of the corpus, and the SHA-256 of
every file it wrote.

Usage: python3 perfbench/gen.py OUT_DIR --workload NAME --seed N
"""

from __future__ import annotations

import argparse
import collections
import datetime
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_RATE = 0.05
EMB_DIM = 64

# Row counts. SF scales the relational tables and events like the TPC-H scale
# factor; documents, embeddings and the corpus are sized on their own because
# the text and vector operators load other layers.
SF = 0.01
DOCUMENTS = 500
EMBEDDINGS = 500
CORPUS_LINES = 4_000  # per file
CORPUS_VOCAB = 20_000
CORPUS_WORDS_PER_LINE = 10
CORPUS_ZIPF_S = 1.2

DAY_US = 86_400_000_000
ORDER_START = datetime.datetime(1995, 1, 1)
ORDER_DAYS = (datetime.datetime(2001, 8, 1) - ORDER_START).days + 1
SHIP_START = datetime.datetime(1995, 1, 2)
SHIP_DAYS = (datetime.datetime(2001, 11, 4) - SHIP_START).days + 1
EVENT_START = datetime.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * DAY_US


@dataclass
class Inputs:
    """What was written: table directory, corpus files, exact corpus word
    counts (for checking the MapReduce jobs) and file hashes."""

    table_dir: str
    corpus_files: list[str]
    word_counts: dict[str, int]
    hashes: dict[str, str]

    @property
    def total_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.paths())

    def paths(self) -> list[str]:
        return [
            os.path.join(self.table_dir, f"{t}.parquet") for t in TABLE_NAMES
        ] + self.corpus_files


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _write(table: pa.Table, path: str) -> None:
    # Bounded row groups (at most about eight per table, at least 2048 rows)
    # keep the files splittable the way larger inputs are.
    rg = max(2048, table.num_rows // 8)
    pq.write_table(table, path, row_group_size=rg, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: datetime.datetime, offsets: np.ndarray) -> pa.Array:
    base = int((start - datetime.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.array(base + offsets.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _relational(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    i32 = pa.int32()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    }
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": (9000 + keys % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(ORDER_START, rng.integers(0, ORDER_DAYS, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(SHIP_START, rng.integers(0, SHIP_DAYS, n_line)),
        }
    )
    ev_base = int((EVENT_START - datetime.datetime(1970, 1, 1)).total_seconds()) * 10**6
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)) + ev_base
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(DOC_VOCAB, dtype=object)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # near-duplicates: a few documents are another document plus " dup"
    for i in np.flatnonzero(rng.random(n) < DUP_RATE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
        pa.array(v.reshape(-1)),
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, 10, n, dtype=np.int32),
        }
    )


def _word(i: int) -> str:
    s = ""
    while True:
        s = chr(97 + i % 26) + s
        i //= 26
        if i == 0:
            return s


def _corpus(rng: np.random.Generator, n_files: int, out_dir: str):
    """Zipf-distributed words, CORPUS_WORDS_PER_LINE per line. A seeded
    permutation maps frequency rank to word, so the hot keys differ from
    seed to seed while the rank-frequency curve stays the same."""
    v = CORPUS_VOCAB
    p = np.arange(1, v + 1, dtype=np.float64) ** -CORPUS_ZIPF_S
    p /= p.sum()
    words = np.asarray(
        [_word(int(i)) for i in rng.permutation(16 * v)[:v]], dtype=object
    )
    counts: collections.Counter[str] = collections.Counter()
    files = []
    for f in range(n_files):
        ranks = rng.choice(v, CORPUS_LINES * CORPUS_WORDS_PER_LINE, p=p)
        w = words[ranks].reshape(CORPUS_LINES, CORPUS_WORDS_PER_LINE)
        text = [" ".join(row) for row in w]
        path = os.path.join(out_dir, f"part-{f:05d}.txt")
        with open(path, "w", encoding="ascii", newline="\n") as fh:
            fh.write("\n".join(text) + "\n")
        files.append(path)
        counts.update(words[ranks].tolist())
    return files, dict(counts)


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(out_dir: str, seed: int, corpus_files: int) -> Inputs:
    """Write one input set under ``out_dir`` (tables in ``out_dir`` itself,
    ``corpus_files`` line files in ``out_dir/corpus``) and describe it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = _relational(rng, SF)
    tables["documents"] = _documents(rng, DOCUMENTS)
    tables["embeddings"] = _embeddings(rng, EMBEDDINGS)
    for name in TABLE_NAMES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    corpus_dir = os.path.join(out_dir, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    files, words = _corpus(rng, corpus_files, corpus_dir)
    inputs = Inputs(out_dir, files, words, {})
    inputs.hashes = {
        os.path.relpath(p, out_dir): sha256(p) for p in inputs.paths()
    }
    return inputs


def main() -> None:
    from run import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    inputs = generate(a.out_dir, a.seed, WORKLOADS[a.workload].corpus_files)
    print(json.dumps({"bytes": inputs.total_bytes, "sha256": inputs.hashes}, indent=1))


if __name__ == "__main__":
    main()
