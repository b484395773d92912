"""Amplified copies of a testdata directory, built once per content signature.

- ``prepare_layout``: the same tables re-chunked into ``N_ROW_GROUPS`` row
  groups, so scans parallelize across cores (the testdata files carry one
  row group each, and a row group is Spark's minimum split unit).
- ``scaled_layout``: a ``factor``× copy whose keyed tables are replicated
  with their key columns shifted by ``KEY_SHIFT`` per replica, so joins stay
  key-consistent and their cardinalities scale linearly.
- ``scaled_docs_layout``: a ``factor``× documents/embeddings corpus whose
  replicas are disjoint shards (see its docstring).

These are timing and plan-coverage corpora: values at amplified points are
not oracle-checked here, DuckDB reads the same files. Every layout is
published by ``lakeformat.publish_dir`` under ``ROOT``, so concurrent
builders (a bench run beside ``tools/check.py --amplify``) never read
each other's half-written files.
Each function falls back to its source directory when synthesis fails.
"""

from __future__ import annotations

from pathlib import Path

from cuny_courses_spark.lakeformat import content_signature, publish_dir, source_key

ROOT = Path("/tmp") / "ccs_bench_layout"
N_ROW_GROUPS = 32
KEY_SHIFT = 1 << 33  # >> any sf0.1 key; 100 replicas stay far inside int64

# The headline queries whose DuckDB oracles stay linear in data size: the
# bench's amplified sweep suite and ``tools/check.py --amplify``'s default.
SWEEP = [
    "q_agg_groupby",
    "q_limit_topk",
    "q_join_star_multiway",
    "q_win_latest_per_key",
    "q_stream_tumbling",
]

# Key columns shifted per replica (lineitem↔orders↔customer,
# lineitem↔supplier/part stay join-consistent). Other tables are copied once.
_SCALE_KEYS = {
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}


def prepare_layout(sf_dir: str) -> str:
    """``sf_dir`` re-chunked into ``N_ROW_GROUPS`` row groups per file;
    values are bit-identical, only the layout changes."""
    import pyarrow.parquet as pq

    files = sorted(Path(sf_dir).glob("*.parquet"))

    def build(out: Path) -> None:
        for f in files:
            t = pq.read_table(f)
            rg = max(1, (t.num_rows + N_ROW_GROUPS - 1) // N_ROW_GROUPS)
            pq.write_table(t, out / f.name, row_group_size=rg)
            if pq.read_table(out / f.name).schema != t.schema:
                raise RuntimeError(f"schema drift re-chunking {f.name}")

    try:
        sig = content_signature("rg:v2", sf_dir, files)
        return str(publish_dir(ROOT, f"rg_{source_key(sf_dir)}", sig, build))
    except Exception:
        return sf_dir


def scaled_layout(sf_dir: str, factor: int = 10) -> str:
    """A ``factor``× copy of ``sf_dir``: each keyed table replicated
    ``factor`` times with its key columns shifted by ``i * KEY_SHIFT`` in
    replica ``i`` (join cardinalities scale linearly, window groups
    multiply, values untouched); other tables copied once.

    Replicas stream through one ParquetWriter (peak memory is one
    replica), with ⌈N_ROW_GROUPS/factor⌉ row groups per replica, so scans
    keep ~32-100 work units at every factor."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = sorted(Path(sf_dir).glob("*.parquet"))

    def build(out: Path) -> None:
        per_replica_groups = max(1, (N_ROW_GROUPS + factor - 1) // factor)
        for f in files:
            t = pq.read_table(f)
            keys = _SCALE_KEYS.get(f.stem)
            if not keys:
                rg = max(1, (t.num_rows + N_ROW_GROUPS - 1) // N_ROW_GROUPS)
                pq.write_table(t, out / f.name, row_group_size=rg)
                continue
            rg = max(1, (t.num_rows + per_replica_groups - 1) // per_replica_groups)
            with pq.ParquetWriter(out / f.name, t.schema) as w:
                for i in range(factor):
                    r = t
                    for k in keys:
                        col = r.column(k)
                        shifted = pc.add(
                            pc.cast(col, pa.int64()),
                            pa.scalar(i * KEY_SHIFT, type=pa.int64()),
                        )
                        r = r.set_column(
                            r.schema.get_field_index(k), k, pc.cast(shifted, col.type)
                        )
                    w.write_table(r, row_group_size=rg)

    try:
        sig = content_signature(f"scale{factor}:v3", sf_dir, files)
        return str(publish_dir(ROOT, f"scaled_x{factor}_{source_key(sf_dir)}", sig, build))
    except Exception:
        return sf_dir


def scaled_docs_layout(sf_dir: str, factor: int = 10) -> str:
    """A ``factor``× documents/embeddings corpus whose replicas are
    disjoint shards, so dedup/similarity work grows linearly in ``factor``
    (plain replication would make every replica a near-duplicate of every
    other, and candidate pairs would grow quadratically):

    - documents: doc_id shifted per replica; every token gets a ``\\x01<i>``
      replica suffix (no text token carries a control byte), so token sets
      are disjoint across replicas while duplicate structure within a
      replica is preserved bit-for-bit.
    - embeddings: vec_id shifted; replica ``i``'s vectors are rotated by
      ``1 + i % (dim-1)`` and multiplied by a per-replica ±1 sign pattern.
      A uniform sign pattern keeps norms and intra-replica dot products
      exact, and decorrelates replicas that share a rotation (replicas 63
      apart at dim 64; property-tested in tests/test_scale_profile.py).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = [Path(sf_dir) / n for n in ("documents.parquet", "embeddings.parquet")]

    def shift_ids(r, col: str, i: int):
        ids = pc.add(r.column(col), pa.scalar(i * KEY_SHIFT))
        return r.set_column(r.schema.get_field_index(col), col, ids)

    def build(out: Path) -> None:
        docs = pq.read_table(files[0])
        with pq.ParquetWriter(out / "documents.parquet", docs.schema) as w:
            for i in range(factor):
                r = shift_ids(docs, "doc_id", i)
                if i:
                    txt = pc.replace_substring_regex(
                        r.column("text"), pattern=r"(\S+)", replacement=f"\\1\x01{i}"
                    )
                    r = r.set_column(r.schema.get_field_index("text"), "text", txt)
                w.write_table(r, row_group_size=max(1, r.num_rows // 4))
        emb = pq.read_table(files[1])
        mat = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
        with pq.ParquetWriter(out / "embeddings.parquet", emb.schema) as w:
            for i in range(factor):
                r = shift_ids(emb, "vec_id", i)
                if i:
                    rolled = np.roll(mat, 1 + i % (mat.shape[1] - 1), axis=1)
                    signs = (
                        np.random.default_rng(0xE5EED ^ i)
                        .integers(0, 2, size=mat.shape[1])
                        .astype(np.float32)
                        * 2
                        - 1
                    )
                    col = pa.array(
                        list(rolled * signs), type=emb.schema.field("embedding").type
                    )
                    r = r.set_column(r.schema.get_field_index("embedding"), "embedding", col)
                w.write_table(r, row_group_size=max(1, r.num_rows // 4))

    try:
        sig = content_signature(f"docscale{factor}:v4", sf_dir, files)
        return str(publish_dir(ROOT, f"docs_x{factor}_{source_key(sf_dir)}", sig, build))
    except Exception:
        return sf_dir
