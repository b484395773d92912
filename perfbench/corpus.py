"""Seeded input corpora for the benchmark, cached inside the benchmark's
own data directory.

Three kinds of input are built here, all from numpy generators:

* ``base(sf)``: a TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the column names, types and
  value domains the engine's loaders expect (``sources/loaders.SCHEMAS``).
  It depends only on the generator and ``CORPUS_SEED``, never on the
  workload seed, so every workload seed runs on the same data.
* ``scaled(sf, factor)``: ``factor`` key-shifted replicas of ``base(sf)``.
  Every key column is shifted by ``replica * KEY_SHIFT``, so joins stay
  consistent inside a replica and row counts of every join scale linearly.
  ``KEY_SHIFT`` is a multiple of 16, so a key keeps its hash bucket
  (``key % 16``) across replicas.
* ``changesets(...)``: the ingest writer's seeded commit sequence
  (upserts, deletes, appends) over the ``orders`` table of a corpus.

Every output directory is keyed on a signature of this file and its
parameters, and published with one ``os.rename`` so a half-written corpus
is never read.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
KEY_SHIFT = 1 << 33

_HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(_HERE, ".cache")

SCALED_KEYS = {
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "zh", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _signature(*parts) -> str:
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    h.update(repr(parts).encode())
    return h.hexdigest()[:12]


def _publish(out: str, build) -> str:
    """Build into a private temp dir, then rename it to ``out``. A
    concurrent process that loses the rename discards its copy."""
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _base_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    pnames = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, pnames, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(25)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odays),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    per_order = rng.poisson(4.0, n_ord)
    lk = np.repeat(ok, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lnum = (np.arange(len(lk)) - starts) % 7 + 1
    n_li = len(lk)
    perm = rng.permutation(n_li)  # rows arrive unordered, as in TPC-H dbgen
    t["lineitem"] = pa.table({
        "l_orderkey": lk[perm],
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum[perm], i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng.integers(1, 2499, n_li)),  # .. 2001-11-04
    })
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * _US_PER_DAY - 60_000_000
    ts_us = np.cumsum(gaps) / gaps.sum() * span_us
    ev_epoch = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_epoch + ts_us.astype(np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n_cust // 10), n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]),
    })
    texts = []
    vocab = np.array(_VOCAB)
    for n_words in rng.integers(8, 95, n_doc).tolist():
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    # ~5 % near-duplicates: a shared 40-char prefix plus a marker token,
    # so dedup and similarity queries have real signal.
    for i in rng.choice(n_doc, n_doc // 20, replace=False).tolist():
        src = texts[int(rng.integers(0, n_doc))]
        texts[i] = f"{src[:60]} dup {texts[i][:80]}".strip()
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    return t


def base(sf: float) -> str:
    """Directory of the ``sf`` corpus (one parquet file per table)."""
    out = os.path.join(CACHE_DIR, f"base-sf{sf}-{_signature('base', sf)}")

    def build(tmp: str) -> None:
        for name, table in _base_tables(sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

    return _publish(out, build)


def _shift(table: pa.Table, keys: list[str], replica: int) -> pa.Table:
    for k in keys:
        i = table.schema.get_field_index(k)
        col = table.column(k).to_numpy() + np.int64(replica * KEY_SHIFT)
        table = table.set_column(i, k, pa.array(col, pa.int64()))
    return table


def scaled(sf: float, factor: int) -> str:
    """Directory of ``factor`` key-shifted replicas of ``base(sf)``.
    Replicated tables get one row group per replica (written
    incrementally, so peak memory is one replica); the bounded
    dimensions and the text/vector tables are copied once."""
    src = base(sf)
    out = os.path.join(
        CACHE_DIR, f"x{factor}-sf{sf}-{_signature('scaled', sf, factor)}"
    )

    def build(tmp: str) -> None:
        for fname in sorted(os.listdir(src)):
            table = pq.read_table(os.path.join(src, fname))
            keys = SCALED_KEYS.get(fname.removesuffix(".parquet"))
            dst = os.path.join(tmp, fname)
            if not keys:
                shutil.copyfile(os.path.join(src, fname), dst)
                continue
            with pq.ParquetWriter(dst, table.schema) as w:
                for r in range(factor):
                    w.write_table(_shift(table, keys, r), row_group_size=table.num_rows)

    return _publish(out, build)


def changesets(
    sf_dir: str, seed: int, cycles: int, upsert_frac: float,
    delete_frac: float, append_frac: float, appends: int,
) -> str:
    """Directory with the ingest writer's ``cycles`` seeded cycles over
    ``sf_dir/orders.parquet``: ``c{i}_merge.parquet`` (upserts: ~90 %
    updates of live keys, ~10 % new keys), ``c{i}_delete.parquet`` (live
    keys) and ``appends`` files ``c{i}_append{j}.parquet`` (new keys).
    Keys deleted earlier are never updated again, and new keys never
    collide with live ones."""
    src = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src)
    sig = _signature(
        "changes", src, st.st_size, st.st_mtime_ns, seed, cycles,
        upsert_frac, delete_frac, append_frac, appends,
    )
    out = os.path.join(CACHE_DIR, f"changes-seed{seed}-{sig}")

    def build(tmp: str) -> None:
        orders = pq.read_table(src)
        rng = np.random.default_rng(seed)
        live = orders.column("o_orderkey").to_numpy()
        n = len(live)
        next_key = int(live.max()) + 1
        template = orders.slice(0, 0)

        def rows(keys: np.ndarray) -> pa.Table:
            m = len(keys)
            days = rng.integers(0, 2404, m)
            return pa.table({
                "o_orderkey": keys.astype(np.int64),
                "o_custkey": rng.integers(0, 1 << 20, m),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], m),
                "o_totalprice": _money(rng, 1000.0, 500000.0, m),
                "o_orderdate": _ts(days),
                "o_orderpriority": _pick(rng, _PRIORITIES, m),
            }, schema=template.schema)

        def fresh(m: int) -> np.ndarray:
            nonlocal next_key
            # New keys keep the table's key density per bucket: consecutive.
            keys = np.arange(next_key, next_key + m, dtype=np.int64)
            next_key += m
            return keys

        for c in range(cycles):
            n_up = max(1, int(n * upsert_frac))
            n_new = max(1, n_up // 10)
            upd = rng.choice(live, n_up - n_new, replace=False)
            merge = np.concatenate([upd, fresh(n_new)])
            pq.write_table(rows(merge), os.path.join(tmp, f"c{c}_merge.parquet"))
            live = np.concatenate([live, merge[-n_new:]])
            dele = rng.choice(live, max(1, int(n * delete_frac)), replace=False)
            pq.write_table(
                pa.table({"o_orderkey": dele}),
                os.path.join(tmp, f"c{c}_delete.parquet"),
            )
            live = np.setdiff1d(live, dele, assume_unique=True)
            for j in range(appends):
                app = fresh(max(1, int(n * append_frac)))
                pq.write_table(rows(app), os.path.join(tmp, f"c{c}_append{j}.parquet"))
                live = np.concatenate([live, app])

    return _publish(out, build)
