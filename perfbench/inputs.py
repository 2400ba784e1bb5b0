"""Seeded input generators for the three workloads.

Everything the engine reads is made here from the ``--seed`` argument
and written as parquet under the benchmark's work directory; the
engine receives only those files. The same seed gives byte-identical
inputs.

- ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the headline queries read,
  in the column types and value distributions of the repository's
  seed-42 test tables at sf0.1 (one parquet file per table).
- ``write_corpora``: document corpora in the shape of
  ``tools/stress_bench.gen_documents`` (planted near-duplicate
  families, a hot shared first word), one file per corpus.
- ``write_embeddings``: labelled 128-d float32 embeddings for the kNN
  eval head, candidates in one file per core and probes partitioned
  by chunk.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

EMBED_DIM = 128
N_CLASSES = 10


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, size=k)) for k in lens]
    # 5% near-duplicates (another doc plus one appended word) and a
    # few exact duplicate pairs, as in the seed-42 table
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for _ in range(8):
        a, b = rng.integers(0, n, 2)
        texts[b] = texts[a]
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _unit_vectors(rng, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim)).astype("float32")
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vec_column(v: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(v.reshape(-1), pa.float32()), v.shape[1]
    ).cast(pa.list_(pa.float32()))


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the ten catalog tables; returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32 = pa.int32()
    slots = rng.permutation(n_ord * 7)[:n_li]
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(("O", "F", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
        "lineitem": {
            # (l_orderkey, l_linenumber) unique, as TPC-H's primary key:
            # queries order on it and cut with LIMIT (q41), which is only
            # deterministic on a unique key
            "l_orderkey": slots // 7,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(slots % 7 + 1, i32),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": rng.choice(("N", "R", "A"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": (
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.cumsum(rng.exponential(25.9e6, n_ev)).astype("int64")
            ),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": _vec_column(_unit_vectors(rng, n_emb, 64)),
            "label": pa.array(rng.integers(0, N_CLASSES, n_emb), i32),
        },
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def write_corpora(out_dir: str, seed: int, n_corpora: int, n_docs: int) -> list[str]:
    """Write ``n_corpora`` corpora as ``corpus_<i>.parquet`` (one file
    each: the narrow layout); returns their table names."""
    from tools.stress_bench import gen_documents

    names = []
    for i in range(n_corpora):
        name = f"corpus_{i}"
        df = gen_documents(n_docs, seed=seed * 1000 + i)
        _write(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )
        names.append(name)
    return names


def _labelled(rng, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, len(centers), n)
    v = centers[labels] + rng.standard_normal((n, centers.shape[1])) * 0.35
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return v, labels.astype("int32")


def write_embeddings(
    out_dir: str, seed: int, n_cand: int, n_chunks: int, chunk: int, n_files: int
) -> dict[str, np.ndarray]:
    """Candidates as ``cands.parquet/part-<k>.parquet`` (``n_files``
    files, so the scan yields one partition per core) and probes as
    ``probes.parquet/chunk=<c>/part-0.parquet`` (one file per chunk).
    Returns the arrays for the reference check."""
    rng = np.random.default_rng([seed, 3])
    centers = _unit_vectors(rng, N_CLASSES, EMBED_DIM)
    cv, cl = _labelled(rng, centers, n_cand)
    pv, _ = _labelled(rng, centers, n_chunks * chunk)
    cand_ids = np.arange(n_cand, dtype="int64")
    for k, part in enumerate(np.array_split(np.arange(n_cand), n_files)):
        _write(
            pa.table(
                {
                    "cand_id": cand_ids[part],
                    "vec": _vec_column(cv[part]),
                    "label": pa.array(cl[part], pa.int32()),
                }
            ),
            os.path.join(out_dir, "cands.parquet", f"part-{k}.parquet"),
        )
    probe_ids = np.arange(n_chunks * chunk, dtype="int64") + 10_000_000
    for c in range(n_chunks):
        sl = slice(c * chunk, (c + 1) * chunk)
        _write(
            pa.table({"probe_id": probe_ids[sl], "vec": _vec_column(pv[sl])}),
            os.path.join(out_dir, "probes.parquet", f"chunk={c}", "part-0.parquet"),
        )
    return {
        "cand_vec": cv,
        "cand_label": cl,
        "probe_id": probe_ids,
        "probe_vec": pv,
    }
