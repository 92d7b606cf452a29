"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
the same rows. Nothing is read from outside the benchmark's working
directory.

* :func:`write_relational` writes the ten tables the catalog's ``load_table``
  reads (``region`` … ``embeddings``), with the schemas and value
  distributions of the TPC-H-style test tables at scale factor ``sf``
  (``lineitem`` has ``6_000_000 * sf`` rows).
* :func:`corpus_table` takes documents from the library's
  ``synthetic_corpus`` source (``metaframe_spark.sources``) and injects
  exact and near duplicates, so both dedup stages have work.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EPOCH_1995 = datetime.datetime(1995, 1, 1)
_EPOCH_2024 = datetime.datetime(2024, 1, 1)
_US_PER_DAY = 86_400_000_000


def _ts(base: datetime.datetime, offsets_us: np.ndarray) -> pa.Array:
    base_us = int((base - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base_us + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_relational(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten catalog tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(20, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    n_docs = max(100, int(500_000 * sf))
    n_vecs = max(100, int(500_000 * sf))

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2404, n_ord) * _US_PER_DAY),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        # keys are drawn, not enumerated: like the test tables, the declared
        # (l_orderkey, l_linenumber) key has duplicate groups
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, 2500, n_line) * _US_PER_DAY),
    })
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(_EPOCH_2024, np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events))),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(rng.choice(_DOC_WORDS, int(n)))
        for n in rng.integers(10, 100, n_docs)
    ]
    # a few near-duplicates of earlier documents, as in the test tables
    for i in range(0, n_docs, 20):
        if i > 0:
            texts[i] = texts[i - 1] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_DOC_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def corpus_table(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents of the ``synthetic_corpus`` source for ``seed``
    (ids ``0 .. n_docs-1``), with injected copies.

    The rows come from the source's own reader, called in this process
    (the rows are a pure function of seed and index, so they are the rows
    ``spark.read.format("synthetic_corpus")`` loads, without a Spark job).
    Exactly 2% of the rows (rounded down) are then replaced by exact copies
    of an earlier original row and 2% by near copies of one (one appended
    token), each under its own id. Copies never copy a copy, and sit in
    the second half of the ids while their originals sit in the first.
    """
    from metaframe_spark.sources import SyntheticCorpusDataSource

    source = SyntheticCorpusDataSource({"rows": n_docs, "partitions": 1, "seed": seed})
    schema = source.schema()
    reader = source.reader(schema)
    rows = [row for part in reader.partitions() for row in reader.read(part)]
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows],
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                   ("source", pa.string()), ("n_chars", pa.int64())]),
    )
    texts = table.column("text").to_pylist()
    rng = np.random.default_rng(seed)
    n_copies = n_docs // 50
    half = n_docs // 2
    slots = half + rng.permutation(n_docs - half)[: 2 * n_copies]
    sources = rng.permutation(half)[: 2 * n_copies]
    for k, (i, src) in enumerate(zip(slots, sources)):
        texts[i] = texts[src] if k < n_copies else texts[src] + " tail"
    return table.set_column(
        table.schema.get_field_index("text"), "text", pa.array(texts, pa.string())
    ).set_column(
        table.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(t) for t in texts], pa.int64()),
    )


def write_corpus(path: str, seed: int, n_docs: int, n_files: int) -> None:
    """Write one corpus as ``n_files`` parquet files under ``path``, file
    ``k`` holding the ``k``-th contiguous id range, so a later file can
    repeat a document of an earlier one."""
    os.makedirs(path, exist_ok=True)
    table = corpus_table(seed, n_docs)
    per = -(-n_docs // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per, per),
                       os.path.join(path, f"part-{k:03d}.parquet"))
