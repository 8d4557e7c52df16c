"""Seeded benchmark inputs and their oracle answers, cached per seed.

Every input is generated from the workload's size and the ``--seed`` value and
written under the cache directory together with its oracle answers, so a
second run with the same seed skips both. The program under test only ever
sees the generated files.

* Co-purchase graphs: TPC-H ``lineitem`` from DuckDB's bundled ``dbgen`` (fixed
  content per scale factor), with the part keys relabeled by a seeded
  permutation and the rows shuffled. The graph is the package's own
  ``copart_graph`` derivation, so the triangle count is the same for every
  seed while vertex ids, degree-order tie-breaks and file layout change.
* R-MAT graphs: the package's ``rmat_graph`` with ``--seed`` as generator seed.
* Pages: the package's ``synth_pages`` with every ``/page/<i>`` url relabeled
  by a seeded affine bijection of the page numbers.

Oracles come from DuckDB SQL (the package's unrolled oracle queries for the
iterative operators) or, for pages, from ``fixtures.expected_link_id_edges``.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _duckdb():
    import duckdb

    con = duckdb.connect()
    # never fetch an extension: dbgen must come from the bundled tpch build
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _edges_table(con, sql: str) -> np.ndarray:
    """Run ``sql`` (columns u, v) and return an (m, 2) int64 array."""
    a = con.execute(sql).fetchnumpy()
    return np.stack([a["u"].astype(np.int64), a["v"].astype(np.int64)], axis=1)


def triangle_oracle(con, edges_sql: str) -> dict:
    """Triangle count and kernel probe count of a canonical (u < v) edge set.

    Probes follow the kernel's definition: every degree-ordered edge
    (src -> dst) binary-searches the out-neighbors of dst once, so
    probes = sum over DODG edges of outdeg(dst), with rank = (degree, id)."""
    row = con.execute(
        f"""
        WITH e AS MATERIALIZED ({edges_sql}),
        deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM
            (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x),
        d AS MATERIALIZED (SELECT
            CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v) THEN e.u ELSE e.v END AS src,
            CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v) THEN e.v ELSE e.u END AS dst
            FROM e JOIN deg du ON du.v = e.u JOIN deg dv ON dv.v = e.v),
        od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM d GROUP BY src)
        SELECT
          (SELECT count(*) FROM e) AS edges,
          (SELECT count(*) FROM d e1 JOIN d e2 ON e2.src = e1.dst
             JOIN d e3 ON e3.src = e1.src AND e3.dst = e2.dst) AS triangles,
          (SELECT coalesce(sum(od.outdeg), 0) FROM d JOIN od ON od.src = d.dst) AS probes
        """
    ).fetchone()
    return {"edges": int(row[0]), "triangles": int(row[1]), "probes": int(row[2])}


# ---------------------------------------------------------------------------
# Co-purchase graph (TPC-H lineitem, seeded part-key relabeling)
# ---------------------------------------------------------------------------

def _tpch_lineitem(cache: str, sf: float) -> str:
    """Base (order, part) columns of dbgen's lineitem at ``sf``, cached."""
    path = os.path.join(cache, f"tpch-sf{sf}", "lineitem_base.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = _duckdb()
        try:
            con.execute("LOAD tpch")
            con.execute(f"CALL dbgen(sf={sf})")
            tbl = con.execute(
                "SELECT l_orderkey, l_partkey FROM lineitem ORDER BY l_orderkey, l_linenumber"
            ).arrow()
        finally:
            con.close()
        pq.write_table(tbl, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def copart_input(cache: str, sf: float, seed: int, iterative: tuple[int, int] | None = None) -> dict:
    """Relabeled lineitem for ``seed`` plus its triangle oracle and, with
    ``iterative=(pagerank_iterations, ktruss_k)``, the iterative oracles."""
    from trianglecounting_spark.sources.generators import COPART_EDGES_SQL

    tag = "" if iterative is None else "-pr%d-k%d" % iterative
    d = os.path.join(cache, f"copart-sf{sf}{tag}", f"seed{seed}")
    oracle_path = os.path.join(d, "oracle.json")
    if os.path.exists(oracle_path):
        return {"sf_dir": d, "oracle": _read_json(oracle_path)}
    os.makedirs(d, exist_ok=True)
    base = pq.read_table(_tpch_lineitem(cache, sf))
    order = base.column("l_orderkey").to_numpy()
    part = base.column("l_partkey").to_numpy()
    rng = np.random.default_rng(seed)
    n = int(part.max())
    perm = rng.permutation(n) + 1  # part key p -> perm[p - 1], a bijection on 1..n
    rows = rng.permutation(len(part))
    lineitem = pa.table(
        {"l_orderkey": order[rows], "l_partkey": perm[part[rows] - 1].astype(np.int64)}
    )
    pq.write_table(lineitem, os.path.join(d, "lineitem.parquet"), row_group_size=1 << 16)
    con = _duckdb()
    try:
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{d}/lineitem.parquet')"
        )
        oracle = triangle_oracle(con, COPART_EDGES_SQL)
        if iterative is not None:
            oracle.update(iterative_oracle(con, COPART_EDGES_SQL, *iterative))
    finally:
        con.close()
    _write_json(oracle_path, oracle)
    return {"sf_dir": d, "oracle": oracle}


def iterative_oracle(con, edges_sql: str, iterations: int, k: int) -> dict:
    """PageRank, connected components and k-truss of a (u < v) edge set,
    from the package's unrolled DuckDB oracle SQL."""
    from trianglecounting_spark.operators.components import cc_minlabel_unrolled_sql
    from trianglecounting_spark.operators.ktruss import ktruss_unrolled_sql
    from trianglecounting_spark.operators.pagerank import pagerank_unrolled_sql

    pr = con.execute(pagerank_unrolled_sql(edges_sql, iterations)).fetchnumpy()
    return {
        "pagerank": {
            "v": pr["v"].astype(np.int64).tolist(),
            "score": pr["score"].astype(np.float64).tolist(),
        },
        "components": _cc_oracle(con, edges_sql, cc_minlabel_unrolled_sql),
        "ktruss": _ktruss_oracle(con, edges_sql, k, ktruss_unrolled_sql).tolist(),
    }


def _cc_oracle(con, edges_sql: str, cc_sql) -> dict:
    """Min-label components from the unrolled oracle, with rounds doubled
    until the labeling is a fixpoint (equal labels across every edge)."""
    edges = _edges_table(con, edges_sql)
    rounds = 8
    while True:
        out = con.execute(cc_sql(edges_sql, rounds)).fetchnumpy()
        v = out["v"].astype(np.int64)
        lbl = out["component"].astype(np.int64)
        label = dict(zip(v.tolist(), lbl.tolist()))
        if all(label[u] == label[w] for u, w in edges.tolist()):
            return {"v": v.tolist(), "component": lbl.tolist()}
        rounds *= 2


def _ktruss_oracle(con, edges_sql: str, k: int, ktruss_sql) -> np.ndarray:
    """Sorted (u, v) k-truss edges: unrolled peels, rounds doubled until one
    more round removes nothing."""
    rounds = 8
    while True:
        a = _edges_table(con, ktruss_sql(edges_sql, k, rounds))
        b = _edges_table(con, ktruss_sql(edges_sql, k, rounds + 1))
        if len(a) == len(b):
            return a
        rounds *= 2


# ---------------------------------------------------------------------------
# R-MAT graph (generator seed = --seed)
# ---------------------------------------------------------------------------

def rmat_input(session, cache: str, scale: int, edge_factor: int, seed: int) -> dict:
    """Raw (dirty multigraph) R-MAT edges for ``seed`` plus oracle answers
    over their normalized simple graph."""
    from trianglecounting_spark.sources.generators import rmat_graph

    d = os.path.join(cache, f"rmat-s{scale}-e{edge_factor}", f"seed{seed}")
    oracle_path = os.path.join(d, "oracle.json")
    if os.path.exists(oracle_path):
        return {"raw": os.path.join(d, "raw.parquet"), "oracle": _read_json(oracle_path)}
    os.makedirs(d, exist_ok=True)
    raw = os.path.join(d, "raw.parquet")
    rmat_graph(session(), scale, edge_factor, seed=seed).write.mode("overwrite").parquet(raw)
    con = _duckdb()
    try:
        oracle = triangle_oracle(
            con,
            "SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v "
            f"FROM read_parquet('{raw}/*.parquet') WHERE src <> dst",
        )
    finally:
        con.close()
    _write_json(oracle_path, oracle)
    return {"raw": raw, "oracle": oracle}


# ---------------------------------------------------------------------------
# Synthetic pages (seeded url relabeling)
# ---------------------------------------------------------------------------

_PAGE_NO = re.compile(r"/page/(\d+)")


def _page_bijection(n: int, seed: int):
    """Affine bijection i -> (a*i + b) mod n with gcd(a, n) = 1."""
    rng = np.random.default_rng(seed)
    while True:
        a = int(rng.integers(1, max(n, 2)))
        if np.gcd(a, n) == 1:
            break
    b = int(rng.integers(0, n))
    return lambda i: (a * i + b) % n


def pages_input(session, cache: str, n: int, out_deg: int, seed: int) -> dict:
    """Relabeled ``synth_pages`` table for ``seed`` plus the expected
    canonical (u < v) page-id edge set."""
    from trianglecounting_spark.sources.fixtures import expected_link_id_edges, synth_pages

    d = os.path.join(cache, f"pages-n{n}-d{out_deg}", f"seed{seed}")
    oracle_path = os.path.join(d, "oracle.json")
    path = os.path.join(d, "pages.parquet")
    if os.path.exists(oracle_path):
        return {"pages": path, "oracle": _read_json(oracle_path)}
    os.makedirs(d, exist_ok=True)
    f = _page_bijection(n, seed)
    spark = session()

    def relabel(s: str) -> str:
        return _PAGE_NO.sub(lambda m: f"/page/{f(int(m.group(1)))}", s)

    pdf = synth_pages(spark, n=n, out_deg=out_deg).toPandas()
    pdf["url"] = pdf["url"].map(relabel)
    pdf["html"] = pdf["html"].map(lambda b: relabel(b.decode("utf-8")).encode("utf-8"))
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(tbl, path, row_group_size=1 << 14, coerce_timestamps="us")

    exp = expected_link_id_edges(spark, n=n, out_deg=out_deg).toPandas()
    src = exp["src_url"].map(relabel).to_numpy()
    dst = exp["dst_url"].map(relabel).to_numpy()
    # page ids are positions in the sorted url dictionary (pages + targets)
    urls = np.unique(np.concatenate([pdf["url"].to_numpy(), dst]).astype(str))
    s = np.searchsorted(urls, src.astype(str))
    t = np.searchsorted(urls, dst.astype(str))
    keep = s != t
    uv = np.unique(np.stack([np.minimum(s, t)[keep], np.maximum(s, t)[keep]], axis=1), axis=0)
    oracle = {"pages": n, "edges": int(len(uv)), "edge_list": uv.astype(np.int64).tolist()}
    _write_json(oracle_path, oracle)
    return {"pages": path, "oracle": oracle}
