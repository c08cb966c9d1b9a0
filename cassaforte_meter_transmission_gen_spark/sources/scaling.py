"""Structure-preserving corpus amplification for scale-growth probes.

The 100 TB story needs MEASURED growth curves, not just plan audits
(VERDICT r10, next-round #1). This module stages a K× replica of the
driver's synthetic corpus (TESTDATA.md tables) that keeps every
query-relevant distribution the same *per replica* while replicas stay
disjoint — so a scale-path query's work grows ~K× the way real data
growth would, never quadratically through artificial cross-replica
duplicate groups:

- **dims** (region, nation, customer, supplier, part) are copied
  verbatim — at 100 TB the fact tables grow, the dimensions don't.
- **facts** (orders, lineitem, events) are replicated K× with join
  keys shifted per replica (orderkeys shift together so the
  orders⋈lineitem edge is preserved inside each replica; event/user
  ids shift so sessionization and attribution see K× independent
  users).
- **documents** are replicated with doc_ids shifted and every
  whitespace token suffixed ``·rK`` for replicas > 0: word-shingle
  near-dup structure (MinHash/SimHash/prefix-filter Jaccard) is
  bit-preserved within a replica, and cross-replica token sets are
  disjoint — each replica contributes the same candidate-pair mass,
  so total pairs grow linearly, exactly like ingesting K independent
  crawls.
- **embeddings** are replicated with vec_ids shifted and the 64
  dimensions PERMUTED by a per-replica deterministic permutation
  (identity for replica 0): cosine similarity is permutation-
  invariant within a replica (all ANN/near-dup structure preserved),
  while cross-replica pairs decorrelate — no artificial 10×-sized
  duplicate groups.

Generation runs through DuckDB (no Spark session needed, no executor
contention with a concurrently-running bench) and is idempotent: a
manifest records (base_dir, k, per-table row counts) and staging is
skipped when it matches.
"""

from __future__ import annotations

import json
import os
import random

from ..schemas import EMB_DIM

DIM_TABLES = ("region", "nation", "customer", "supplier", "part")
ALL_TABLES = DIM_TABLES + (
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: per-replica key shift — far above any base-table key at sf ≤ 1
KEY_SHIFT = 1_000_000_000

#: bump to invalidate previously-staged corpora when generation SQL
#: changes (v2: n_chars recomputed from the salted replica text)
GEN_VERSION = 2


def replica_permutation(replica: int) -> list[int]:
    """Deterministic permutation of the EMB_DIM embedding dimensions for
    a replica (identity for replica 0), 1-indexed for DuckDB
    ``list_select``."""
    perm = list(range(1, EMB_DIM + 1))
    if replica:
        random.Random(0xC0FFEE + replica).shuffle(perm)
    return perm


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_scale_manifest.json")


def stage_scaled_corpus(base_dir: str, out_dir: str, k: int) -> dict:
    """Stage the K× corpus under ``out_dir`` (one ``{table}.parquet``
    each, the TESTDATA layout) and return the manifest. Idempotent on
    a matching manifest."""
    import duckdb

    want = {
        "base_dir": os.path.abspath(base_dir),
        "k": int(k),
        "gen_version": GEN_VERSION,
    }
    mpath = _manifest_path(out_dir)
    if os.path.exists(mpath):
        try:
            with open(mpath) as f:
                have = json.load(f)
            if all(have.get(kk) == vv for kk, vv in want.items()) and all(
                os.path.exists(os.path.join(out_dir, f"{t}.parquet"))
                for t in ALL_TABLES
            ):
                return have
        except (json.JSONDecodeError, OSError):
            pass

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    rows: dict[str, int] = {}

    def src(t: str) -> str:
        return f"read_parquet('{base_dir}/{t}.parquet')"

    def copy(sql: str, t: str) -> None:
        out = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        rows[t] = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}')"
        ).fetchone()[0]

    for t in DIM_TABLES:
        copy(f"SELECT * FROM {src(t)}", t)

    # facts: orderkey shifts on BOTH sides of the orders⋈lineitem edge
    copy(
        f"""SELECT o_orderkey + r.range * {KEY_SHIFT} AS o_orderkey,
                   o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority
            FROM {src('orders')} CROSS JOIN range({k}) r""",
        "orders",
    )
    copy(
        f"""SELECT l_orderkey + r.range * {KEY_SHIFT} AS l_orderkey,
                   l_partkey, l_suppkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax, l_returnflag,
                   l_linestatus, l_shipdate
            FROM {src('lineitem')} CROSS JOIN range({k}) r""",
        "lineitem",
    )
    copy(
        f"""SELECT event_id + r.range * {KEY_SHIFT} AS event_id, ts,
                   user_id + r.range * {KEY_SHIFT} AS user_id,
                   event_type, value, props
            FROM {src('events')} CROSS JOIN range({k}) r""",
        "events",
    )

    # documents: replica-0 text verbatim; replicas > 0 token-salted so
    # shingle spaces are disjoint across replicas, identical within.
    # n_chars is recomputed from the salted text (base data holds
    # n_chars = length(text); salting adds ~4 chars per token, so the
    # base value would understate replica lengths and skew any family
    # that correlates n_chars with actual text length).
    copy(
        f"""SELECT doc_id, text, lang, source,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT doc_id + r.range * {KEY_SHIFT} AS doc_id,
                         CASE WHEN r.range = 0 THEN text
                              ELSE array_to_string(
                                  list_transform(string_split(text, ' '),
                                                 t -> t || '·r' || r.range),
                                  ' ')
                         END AS text,
                         lang, source
                  FROM {src('documents')} CROSS JOIN range({k}) r)""",
        "documents",
    )

    # embeddings: per-replica dimension permutation (cosine-invariant
    # within a replica, decorrelating across replicas)
    branches = []
    for r in range(k):
        perm = replica_permutation(r)
        sel = (
            "embedding"
            if r == 0
            else f"list_select(embedding, {perm})"
        )
        branches.append(
            f"""SELECT vec_id + {r * KEY_SHIFT} AS vec_id,
                       CAST({sel} AS FLOAT[]) AS embedding,
                       label
                FROM {src('embeddings')}"""
        )
    copy(" UNION ALL ".join(branches), "embeddings")

    con.close()
    manifest = dict(want, rows=rows)
    with open(mpath, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
