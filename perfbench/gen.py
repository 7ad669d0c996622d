"""Seeded input generator: every parquet file the benchmark hands the engine.

Same seed, same sizes -> byte-identical files (pyarrow writes no
timestamps; `manifest` records a sha256 per file so a test can prove
it). A different seed changes every drawn value.

Inputs per workload:

- ``ingest``: a base lake (region, nation, customer, supplier, part;
  ``scale`` multiplies the row counts), a pool of landing tables
  ``land_<k>`` and one read-after-write query table ``q_<k>`` per
  landing table.
- ``simjoin``: a pool of document corpora ``docs_<k>/documents.parquet``,
  each ``scale`` token-salted replicas of one base corpus, so pair
  counts grow linearly with ``scale``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

COLORS = (
    "red", "blue", "green", "ivory", "khaki", "lemon", "linen", "maroon",
    "navy", "olive", "orchid", "peach", "plum", "rose", "salmon", "sienna",
    "tan", "teal", "violet", "wheat",
)
NOUNS = (
    "bolt", "ring", "gear", "valve", "spring", "washer", "hinge", "clamp",
    "screw", "pipe", "rivet", "bracket", "flange", "gasket", "nozzle",
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
WORDS = (
    "spark", "join", "key", "table", "row", "column", "scan", "sort", "hash",
    "group", "filter", "window", "stream", "batch", "merge", "vector", "index",
    "query", "plan", "stage", "task", "shuffle", "broadcast", "probe", "verify",
    "score", "posting", "floor", "lake", "store", "commit", "append", "read",
    "write", "page", "block", "cache", "spill", "memory", "disk", "network",
    "driver", "executor", "core", "thread", "lock", "queue", "buffer", "codec",
    "schema", "field", "value", "record", "token", "shingle", "prefix", "suffix",
    "length", "order", "rank", "top", "limit", "offset", "range", "bucket",
    "replica", "salt", "seed", "trace", "span", "metric", "layer", "budget",
    "median", "tail", "spread", "bound", "noise", "signal", "drift",
)

BASE_ROWS = {"customer": 300, "supplier": 40, "part": 400}
LAND_ROWS = 200
QUERY_ROWS = (20, 60)
DOCS_PER_REPLICA = 100


def _write(path: str, columns: dict[str, list], types: dict[str, pa.DataType]) -> None:
    table = pa.table({c: pa.array(v, type=types[c]) for c, v in columns.items()})
    pq.write_table(table, path, compression="snappy", write_statistics=False)


def _dirty(rng: random.Random, value: str) -> str:
    """Case and punctuation noise the engine's normalizer must undo."""
    out = value.upper() if rng.random() < 0.3 else value
    if rng.random() < 0.3:
        out = out.replace(" ", rng.choice((" - ", ", ", "  ", "_")))
    if rng.random() < 0.2:
        out = f"{out}!"
    return out


def write_lake(out_dir: str, seed: int, scale: int) -> None:
    """The base lake the floored store is built over (table layout of
    ``index.LAKE_TABLES``)."""
    rng = random.Random(f"lake-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    i64, i32, s = pa.int64(), pa.int32(), pa.string()
    _write(
        f"{out_dir}/region.parquet",
        {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
        {"r_regionkey": i32, "r_name": s},
    )
    _write(
        f"{out_dir}/nation.parquet",
        {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION {rng.choice(NOUNS).upper()} {i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    n = BASE_ROWS["customer"] * scale
    _write(
        f"{out_dir}/customer.parquet",
        {
            "c_custkey": list(range(n)),
            "c_name": [f"Customer#{rng.randrange(10**9):09d}" for _ in range(n)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n)],
        },
        {"c_custkey": i64, "c_name": s, "c_mktsegment": s},
    )
    n = BASE_ROWS["supplier"] * scale
    _write(
        f"{out_dir}/supplier.parquet",
        {
            "s_suppkey": list(range(n)),
            "s_name": [f"Supplier#{rng.randrange(10**9):09d}" for _ in range(n)],
        },
        {"s_suppkey": i64, "s_name": s},
    )
    n = BASE_ROWS["part"] * scale
    _write(
        f"{out_dir}/part.parquet",
        {
            "p_partkey": list(range(n)),
            "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(n)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n)],
            "p_type": [rng.choice(TYPES) for _ in range(n)],
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s},
    )


def write_landing(out_dir: str, seed: int, k: int) -> None:
    """Landing table ``land_<k>`` and its read-after-write query ``q_<k>``.

    ``l_name`` mixes three key populations so an append exercises every
    floor case: part names already in the index, lot-numbered names from
    a small shared pool (sub-floor on first landing, crossing the floor
    when a later table repeats them) and one-off notes that stay in the
    residual half.
    """
    rng = random.Random(f"land-{seed}-{k}")
    os.makedirs(out_dir, exist_ok=True)
    names, tags, notes = [], [], []
    for i in range(LAND_ROWS):
        base = f"{rng.choice(COLORS)} {rng.choice(NOUNS)}"
        names.append(base if rng.random() < 0.4 else f"{base} lot {rng.randrange(40)}")
        tags.append(rng.choice(SEGMENTS) if rng.random() < 0.5 else f"Brand#{rng.randint(1, 25)}")
        notes.append(f"note {seed} {k} {i} {rng.choice(WORDS)}")
    s = pa.string()
    _write(
        f"{out_dir}/land_{k}.parquet",
        {"l_id": list(range(LAND_ROWS)), "l_name": names, "l_tag": tags, "l_note": notes},
        {"l_id": pa.int64(), "l_name": s, "l_tag": s, "l_note": s},
    )
    rows = rng.sample(range(LAND_ROWS), rng.randint(*QUERY_ROWS))
    q_name, q_tag = [], []
    for i in rows:
        name = names[i] if rng.random() < 0.75 else f"{names[i]} zz{rng.randrange(10**6)}"
        q_name.append(_dirty(rng, name))
        q_tag.append(_dirty(rng, tags[i]))
    _write(f"{out_dir}/q_{k}.parquet", {"l_name": q_name, "l_tag": q_tag}, {"l_name": s, "l_tag": s})


def write_corpus(out_dir: str, seed: int, k: int, scale: int) -> None:
    """``documents`` for one simjoin pass: near-duplicate edits (Jaccard
    pairs), short quotes of longer docs (containment pairs) and fresh
    text; replica ``r`` salts every token with ``r<r>`` so no shingle
    crosses replicas."""
    rng = random.Random(f"docs-{seed}-{k}")
    base: list[list[str]] = []
    for _ in range(DOCS_PER_REPLICA):
        roll = rng.random()
        if base and roll < 0.25:
            toks = list(rng.choice(base))
            for _ in range(rng.randint(1, 2)):
                toks[rng.randrange(len(toks))] = rng.choice(WORDS)
        elif base and roll < 0.4:
            src = rng.choice(base)
            n = rng.randint(4, min(12, len(src)))
            start = rng.randrange(len(src) - n + 1)
            toks = src[start:start + n]
        else:
            toks = [rng.choice(WORDS) for _ in range(rng.randint(8, 40))]
        base.append(toks)
    ids, texts, langs, sources = [], [], [], []
    for r in range(scale):
        for i, toks in enumerate(base):
            ids.append(r * DOCS_PER_REPLICA + i)
            texts.append(" ".join(t if r == 0 else f"{t}r{r}" for t in toks))
            langs.append(rng.choice(("en", "de", "zh")))
            sources.append(f"src{rng.randrange(5)}")
    os.makedirs(out_dir, exist_ok=True)
    s = pa.string()
    _write(
        f"{out_dir}/documents.parquet",
        {"doc_id": ids, "text": texts, "lang": langs, "source": sources},
        {"doc_id": pa.int64(), "text": s, "lang": s, "source": s},
    )


def manifest(root: str) -> dict[str, str]:
    """sha256 of every file under ``root``, keyed by relative path."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f == "manifest.json":
                continue
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def write_manifest(root: str) -> dict[str, str]:
    m = manifest(root)
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(m, fh, indent=1, sort_keys=True)
    return m
