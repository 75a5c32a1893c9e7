"""Seeded input generator for the benchmark workloads, with ground truth.

Every input is synthesized from ``numpy.random.default_rng(seed)``; the
same seed writes byte-identical files. The program under test only ever
sees the written files. The expected outputs (row counts, post-merge
key sets, planted duplicate groups, exact nearest neighbours) are
returned to the benchmark alongside the paths and never written where
the program reads.

Layouts:

- DMS: ``<root>/dms/<table>/LOAD0000000N.parquet`` full-load chunks and,
  for the CDC workload, ``<root>/dms/<table>/YYYYMMDD-NNNNNNNNN.parquet``
  change files carrying the DMS ``Op`` and ``_dms_ingestion_timestamp``
  columns. The five tables are TPC-H-shaped (customer, supplier, part,
  orders, lineitem).
- Corpus: ``<root>/documents/part-NNNNN.parquet`` in the ``documents``
  shape, split into ``CORPUS_FILES`` files as a sharded corpus is, and
  ``<root>/doc_embeddings.parquet`` in the ``embeddings`` shape with one
  vector per doc (``vec_id`` = ``doc_id``).
- Vectors: ``<root>/embeddings.parquet`` in the ``embeddings`` shape.

Held-out query vectors are returned in memory.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes of the DMS layouts, in rows.
SNAPSHOT_ROWS = {"customer": 4_000, "supplier": 600, "part": 6_000, "orders": 40_000, "lineitem": 160_000}
LOAD_FILES_PER_TABLE = 8
CDC_FILES_PER_TABLE = 4
# Share of each table's keys touched by CDC records, split as updates,
# deletes and inserts of new keys.
CDC_UPDATE_FRAC, CDC_DELETE_FRAC, CDC_INSERT_FRAC = 0.08, 0.03, 0.04
# Share of touched keys that change again in a later file, and the number
# of records of the one hot key.
CDC_REPEAT_FRAC = 0.25
CDC_HOT_KEY_RECORDS = 400
CDC_START = dt.date(2024, 1, 15)

# Corpus shape: base docs, plus planted exact-duplicate groups,
# near-duplicates and junk docs as shares of the base docs.
CORPUS_BASE_DOCS = 800
CORPUS_FILES = 8
EXACT_DUP_SHARE, EXACT_DUP_COPIES = 0.05, 2
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EDITS = 2
LOW_QUALITY_SHARE = 0.075
# Distance of a planted copy's embedding from its source's.
DUP_EMBEDDING_NOISE = 0.01

# Vector shape.
VEC_DIM = 64
VEC_CORPUS = 3_000
VEC_CLUSTERS = 32
VEC_QUERIES = 400
TOP_K = 10

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
TYPES = [f"{a} {b} {c}" for a in ("STANDARD", "SMALL", "LARGE") for b in ("ANODIZED", "PLATED") for c in ("TIN", "STEEL", "COPPER")]
COLORS = ["almond", "antique", "azure", "blush", "chiffon", "coral", "cyan", "forest", "ivory", "khaki", "linen", "navy"]
STOPWORDS = ["the", "and", "of", "to", "is", "in", "that", "it", "a", "for", "on", "with", "as", "was", "are"]


@dataclass
class SnapshotTruth:
    """Expected state of every DMS table after the workload's snapshot."""

    rows: dict[str, int] = field(default_factory=dict)
    # post-merge primary keys per table (CDC workload only); lineitem keys
    # are encoded as l_orderkey * 8 + l_linenumber
    keys: dict[str, np.ndarray] = field(default_factory=dict)


@dataclass
class DmsInputs:
    source_dir: str
    input_rows: int
    input_bytes: int
    truth: SnapshotTruth


@dataclass
class CorpusInputs:
    path: str
    input_rows: int
    input_bytes: int
    exact_groups: list[list[int]]
    near_dup_ids: np.ndarray
    # the doc ids a correct curation keeps: exactly the base docs
    survivor_ids: set[int]
    embeddings_path: str
    queries: np.ndarray
    query_ids: np.ndarray
    # exact top-TOP_K neighbours of every query among the survivors
    exact_top: np.ndarray


@dataclass
class VectorInputs:
    corpus_path: str
    input_rows: int
    input_bytes: int
    queries: np.ndarray
    query_ids: np.ndarray
    exact_top: np.ndarray


def _words(rng: np.random.Generator, n: int, vocab: np.ndarray) -> np.ndarray:
    return vocab[rng.integers(0, len(vocab), n)]


def _names(rng: np.random.Generator, prefix: str, keys: np.ndarray) -> np.ndarray:
    tails = rng.integers(0, len(COLORS), len(keys))
    return np.array([f"{prefix}#{k:09d} {COLORS[t]}" for k, t in zip(keys, tails)], dtype=object)


def _table(rng: np.random.Generator, name: str, n: int, first_key: int = 1) -> pa.Table:
    """``n`` TPC-H-shaped rows of ``name`` with keys from ``first_key``."""
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    day0 = np.datetime64("1992-01-01", "us")
    days = lambda: day0 + rng.integers(0, 2500, n).astype("timedelta64[D]")  # noqa: E731
    money = lambda lo, hi: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda xs: np.array(xs, dtype=object)[rng.integers(0, len(xs), n)]  # noqa: E731
    nc, ns, npart = SNAPSHOT_ROWS["customer"], SNAPSHOT_ROWS["supplier"], SNAPSHOT_ROWS["part"]
    if name == "customer":
        cols = {
            "c_custkey": keys,
            "c_name": _names(rng, "Customer", keys),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": money(-999, 9999),
            "c_mktsegment": pick(SEGMENTS),
        }
    elif name == "supplier":
        cols = {
            "s_suppkey": keys,
            "s_name": _names(rng, "Supplier", keys),
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": money(-999, 9999),
        }
    elif name == "part":
        cols = {
            "p_partkey": keys,
            "p_name": np.array([" ".join(w) for w in _words(rng, 3 * n, np.array(COLORS)).reshape(n, 3)], dtype=object),
            "p_brand": pick(BRANDS),
            "p_type": pick(TYPES),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": money(900, 2000),
        }
    elif name == "orders":
        cols = {
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, nc + 1, n).astype(np.int64),
            "o_orderstatus": pick(["F", "O", "P"]),
            "o_totalprice": money(800, 500_000),
            "o_orderdate": days(),
            "o_orderpriority": pick(PRIORITIES),
        }
    elif name == "lineitem":
        # the PK is (l_orderkey, l_linenumber): four lines per order
        cols = {
            "l_orderkey": (keys - 1) // 4 + 1,
            "l_partkey": rng.integers(1, npart + 1, n).astype(np.int64),
            "l_suppkey": rng.integers(1, ns + 1, n).astype(np.int64),
            "l_linenumber": ((keys - 1) % 4 + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": money(900, 100_000),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": pick(["A", "N", "R"]),
            "l_linestatus": pick(["F", "O"]),
            "l_shipdate": days(),
        }
    else:
        raise ValueError(name)
    return pa.table(cols)


PRIMARY_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}


def encoded_keys(tbl: pa.Table, table: str) -> np.ndarray:
    """One int64 per row for the table's (possibly composite) PK."""
    pk = PRIMARY_KEYS[table]
    k = tbl.column(pk[0]).to_numpy().astype(np.int64)
    if len(pk) == 2:
        k = k * 8 + tbl.column(pk[1]).to_numpy().astype(np.int64)
    return k


def _write_parts(tbl: pa.Table, out_dir: str, name: str, n_files: int) -> int:
    """Write ``tbl`` as ``n_files`` consecutive slices named
    ``name.format(1..n_files)``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    size = 0
    bounds = np.linspace(0, tbl.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        p = os.path.join(out_dir, name.format(i + 1))
        pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]), p, compression="snappy")
        size += os.path.getsize(p)
    return size


def generate_dms(root: str, seed: int, with_cdc: bool) -> DmsInputs:
    """Write the five tables as a DMS layout; with ``with_cdc``, also
    seeded CDC files and the last-writer-wins expected key sets."""
    rng = np.random.default_rng([seed, 1 if with_cdc else 0])
    source = os.path.join(root, "dms")
    truth = SnapshotTruth()
    rows = size = 0
    ts_counter = 0
    for table, n in SNAPSHOT_ROWS.items():
        base = _table(rng, table, n)
        table_dir = os.path.join(source, table)
        size += _write_parts(base, table_dir, "LOAD{:08d}.parquet", LOAD_FILES_PER_TABLE)
        rows += n
        truth.rows[table] = n
        if not with_cdc:
            continue
        # CDC: updates/deletes of existing keys and inserts of new ones,
        # scattered over the change files in ingestion order.
        n_upd, n_del, n_ins = (int(n * f) for f in (CDC_UPDATE_FRAC, CDC_DELETE_FRAC, CDC_INSERT_FRAC))
        touched = rng.choice(n, n_upd + n_del, replace=False)
        upd_rows, del_rows = touched[:n_upd], touched[n_upd:]
        inserts = _table(rng, table, n_ins, first_key=n + 1)
        # updates keep the original key columns and take fresh values
        fresh, old = _table(rng, table, n_upd), base.take(pa.array(upd_rows))
        upd = pa.table({c: (old if c in PRIMARY_KEYS[table] else fresh).column(c) for c in base.column_names})
        dele = base.take(pa.array(del_rows))
        repeat = upd.take(pa.array(rng.choice(n_upd, int(n_upd * CDC_REPEAT_FRAC), replace=False)))
        hot = base.take(pa.array(np.full(CDC_HOT_KEY_RECORDS, int(rng.integers(0, n)))))
        recs = pa.concat_tables([upd, dele, inserts, repeat, hot])
        ops = np.array(["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins + ["U"] * (repeat.num_rows + hot.num_rows), dtype=object)
        # a random ingestion order, except that a key's delete or its
        # repeat update always lands after its first record
        order = np.concatenate([rng.permutation(n_upd + n_del + n_ins), n_upd + n_del + n_ins + np.arange(repeat.num_rows + hot.num_rows)])
        recs, ops = recs.take(pa.array(order)), ops[order]
        m = recs.num_rows
        ts = np.datetime64("2024-01-15T00:00:00", "us") + (ts_counter + np.arange(m)).astype("timedelta64[ms]")
        ts_counter += m
        recs = recs.append_column("Op", pa.array(ops, pa.string())).append_column("_dms_ingestion_timestamp", pa.array(ts))
        bounds = np.linspace(0, m, CDC_FILES_PER_TABLE + 1).astype(int)
        for i in range(CDC_FILES_PER_TABLE):
            day = CDC_START + dt.timedelta(days=i)
            p = os.path.join(table_dir, f"{day:%Y%m%d}-{i:09d}.parquet")
            pq.write_table(recs.slice(bounds[i], bounds[i + 1] - bounds[i]), p, compression="snappy")
            size += os.path.getsize(p)
        rows += m
        # last writer wins: the final record per key decides
        rkeys = encoded_keys(recs, table)
        last_op = dict(zip(rkeys.tolist(), ops.tolist()))
        alive = set(encoded_keys(base, table).tolist())
        for k, op in last_op.items():
            if op == "D":
                alive.discard(k)
            else:
                alive.add(k)
        truth.keys[table] = np.array(sorted(alive), dtype=np.int64)
        truth.rows[table] = len(alive)
    return DmsInputs(source, rows, size, truth)


def _doc_text(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> list[str]:
    words = list(_words(rng, n_words, vocab))
    # prose-like: a stopword every few words keeps quality_score high
    for i in range(0, n_words, 4):
        words[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return words


def generate_corpus(root: str, seed: int) -> CorpusInputs:
    """Base docs plus planted exact duplicates, near-duplicates and
    low-quality docs, and one embedding per doc. Planted copies get
    higher ids than their source, so the minimum-id survivor of every
    group is the source, and an embedding next to their source's."""
    rng = np.random.default_rng([seed, 2])
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "do", "za", "fu"]
    vocab = np.array(sorted({"".join(rng.choice(syl, int(rng.integers(2, 5)))) for _ in range(6000)}), dtype=object)
    base = [_doc_text(rng, vocab, int(rng.integers(60, 160))) for _ in range(CORPUS_BASE_DOCS)]
    texts = [" ".join(w) for w in base]
    ids = list(range(1, CORPUS_BASE_DOCS + 1))
    draw = _clusters(rng)
    vecs = list(draw(CORPUS_BASE_DOCS))
    n_exact, n_near = int(CORPUS_BASE_DOCS * EXACT_DUP_SHARE), int(CORPUS_BASE_DOCS * NEAR_DUP_SHARE)
    picks = rng.permutation(CORPUS_BASE_DOCS)
    exact_src, near_src = picks[:n_exact], picks[n_exact : n_exact + n_near]

    def plant(text: str, vec: np.ndarray) -> int:
        texts.append(text)
        vecs.append(vec)
        ids.append(len(ids) + 1)
        return ids[-1]

    def near(s: int) -> np.ndarray:
        return (vecs[s] + rng.normal(size=VEC_DIM) * DUP_EMBEDDING_NOISE).astype(np.float32)

    exact_groups: list[list[int]] = []
    for s in exact_src:
        # case and whitespace differences normalize away
        copies = [texts[s].upper() if c % 2 else texts[s].replace(" ", "  ", 3) for c in range(EXACT_DUP_COPIES)]
        exact_groups.append([ids[s]] + [plant(t, near(s)) for t in copies])
    near_ids = []
    for s in near_src:
        w = list(base[s])
        for pos in rng.choice(len(w), NEAR_DUP_EDITS, replace=False):
            w[pos] = vocab[int(rng.integers(0, len(vocab)))]
        near_ids.append(plant(" ".join(w), near(s)))
    junk = np.array(["$$$", "!!!", "@@", "###", "%%", "**", "&&", ":::"], dtype=object)
    for v in draw(int(CORPUS_BASE_DOCS * LOW_QUALITY_SHARE)):
        w = list(_words(rng, int(rng.integers(3, 10)), junk)) + list(_words(rng, 3, vocab))
        plant(" ".join(w), v)
    order = rng.permutation(len(ids))
    tbl = pa.table(
        {
            "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(np.array(["web", "books", "code", "forum"], dtype=object)[rng.integers(0, 4, len(ids))], pa.string()),
            "n_chars": pa.array(np.array([len(texts[i]) for i in order], dtype=np.int64)),
        }
    )
    path = os.path.join(root, "documents")
    docs_bytes = _write_parts(tbl, path, "part-{:05d}.parquet", CORPUS_FILES)
    all_ids = np.arange(1, len(ids) + 1, dtype=np.int64)
    emb_path = _write_vectors(rng, os.path.join(root, "doc_embeddings.parquet"), all_ids, np.array(vecs))
    queries = draw(VEC_QUERIES)
    top = _exact_top(queries, np.array(vecs[:CORPUS_BASE_DOCS]), all_ids[:CORPUS_BASE_DOCS])
    return CorpusInputs(
        path, tbl.num_rows, docs_bytes + os.path.getsize(emb_path), exact_groups, np.array(near_ids),
        set(range(1, CORPUS_BASE_DOCS + 1)), emb_path, queries, np.arange(1, VEC_QUERIES + 1, dtype=np.int64), top,
    )


def _clusters(rng: np.random.Generator):
    """A sampler of float32 vectors from ``VEC_CLUSTERS`` seeded clusters."""
    centers = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))
    spread = rng.uniform(0.3, 0.6, VEC_CLUSTERS)

    def draw(n: int) -> np.ndarray:
        c = rng.integers(0, VEC_CLUSTERS, n)
        return (centers[c] + rng.normal(size=(n, VEC_DIM)) * spread[c, None]).astype(np.float32)

    return draw


def _write_vectors(rng: np.random.Generator, path: str, ids: np.ndarray, vecs: np.ndarray) -> str:
    tbl = pa.table(
        {
            "vec_id": ids,
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, len(ids)).astype(np.int32)),
        }
    )
    pq.write_table(tbl, path, compression="snappy")
    return path


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _exact_top(queries: np.ndarray, corpus: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """The ids of every query's exact cosine top-``TOP_K``."""
    sims = _unit(queries.astype(np.float64)) @ _unit(corpus.astype(np.float64)).T
    return ids[np.argsort(-sims, axis=1, kind="stable")[:, :TOP_K]]


def generate_vectors(root: str, seed: int) -> VectorInputs:
    """Clustered float32 vectors plus held-out queries drawn from the
    same clusters, and the exact cosine top-``TOP_K`` of every query."""
    rng = np.random.default_rng([seed, 3])
    draw = _clusters(rng)
    corpus, queries = draw(VEC_CORPUS), draw(VEC_QUERIES)
    ids = np.arange(1, VEC_CORPUS + 1, dtype=np.int64)
    qids = np.arange(1, VEC_QUERIES + 1, dtype=np.int64)
    path = _write_vectors(rng, os.path.join(root, "embeddings.parquet"), ids, corpus)
    return VectorInputs(path, VEC_CORPUS, os.path.getsize(path), queries, qids, _exact_top(queries, corpus, ids))
