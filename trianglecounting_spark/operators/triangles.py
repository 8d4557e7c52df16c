"""Exact triangle counting — the reference's core query, two physical plans.

The reference implements Δ = Σ_{(u,v) ∈ DODG} |N⁺(u) ∩ N⁺(v)| with five
hand-picked physical intersection strategies (SURVEY.md §2.5, J3–J7). Here:

1. ``triangle_count_sql`` — the fully declarative plan: a three-way self-join
   of the oriented edge table. Catalyst chooses the physical join (SMJ or
   shuffled-hash, AQE-skew-split); whole-stage codegen keeps it JVM-side.
   This is the *idiomatic Spark* strategy and the differential oracle.

2. ``triangle_count_kernel`` — the reference-mirroring plan: co-partitioned
   adjacency lists + an Arrow-native numpy intersection kernel (`mapInArrow`
   over zero-copy list buffers = the reference's CSR arriving over the wire),
   with the hub path re-expressing the dense-range bitmap/packed-words
   strategy (J2/J3) as a broadcast flat-CSR, and ``np.searchsorted`` standing
   in for the galloping intersector (J5, `util/set_inter_cnt_utils.h:13-48`).
   ``triangle_enumerate_kernel`` additionally emits triangle corners — the
   per-edge-support / k-truss input.

Both return exact LongType counts — integer end-to-end, so results are
partitioning-invariant (no FP accumulation; north_rule requires exact parity).

Scale notes: on the DODG, out-degree ≤ O(√m), so (a) adjacency groups are
bounded and (b) the kernel's per-group work is bounded. The dominant data
volume is Σ indeg·outdeg (the wedge count) of N⁺(dst) replication through the
join; the hub broadcast removes ~99% of it on power-law graphs, and the
kernel scans what remains in place (no gathers), so peak task memory is
O(rows) regardless of wedge skew. The three-way-join plan shuffles the full
wedge-candidate volume — kept as the declarative differential oracle.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.normalize import adjacency, orient_dodg, undirect


# ---------------------------------------------------------------------------
# Plan 1: declarative three-way join (Catalyst-owned physical strategy)
# ---------------------------------------------------------------------------

def triangle_count_sql(edges: DataFrame) -> DataFrame:
    """Global exact triangle count: ``count(*)`` over ``triangle_enumerate``'s
    three-way self-join of the DODG. Output: one row ``(triangles: long)``.
    """
    return triangle_enumerate(edges).agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )


def triangle_enumerate(edges: DataFrame) -> DataFrame:
    """Materialize each triangle once as ``(a, b, c)`` with rank a < b < c.

    Plan: e1(a,b) ⋈ e2(b,c) on b ⋈ e3(a,c) on (a,c). Each triangle {x,y,z}
    with rank x<y<z matches exactly once with a=x, b=y, c=z (DODG property,
    `pre_processing_dodg.h:6-9`). Feeds per-edge support and k-truss.
    """
    # materialize the DODG once (lazy localCheckpoint): the three self-join
    # branches would otherwise each recompute the degree aggregation and
    # orientation joins — AQE does not reuse those exchanges across branches
    d = orient_dodg(edges).localCheckpoint(eager=False)
    e1 = d.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = d.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = d.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


def triangle_per_edge_support(edges: DataFrame) -> DataFrame:
    """Per-undirected-edge triangle count (support) — the k-truss input.

    Each triangle (a,b,c) contributes +1 support to edges (a,b), (a,c), (b,c).
    The reference computes only per-*directed*-edge intersection counts; the
    per-edge explode is our extension required for k-truss (north_star).
    Output: ``(u, v, support: long)`` for every edge, u < v (support 0 kept).
    """
    # kernel support counts with in-partition partial aggregation (round 6:
    # replaces the 3-per-triangle explode + full-row groupBy; the SMJ
    # enumerate remains the differential oracle via the SQL path)
    d = orient_dodg(edges).localCheckpoint(eager=False)
    return _canonical_support(edges, triangle_support_counts_oriented(d))


def triangle_per_edge_support_oriented(
    d: DataFrame, num_partitions: int | None = None, hub_k: int | None = None
) -> DataFrame:
    """Per-edge support keyed on an ALREADY-ORIENTED acyclic edge table
    ``(src, dst)`` (any orientation induced by a fixed total vertex order —
    e.g. ``orient_dodg``'s output or any subgraph of it).

    Support is an undirected-edge property and every orientation from a total
    order enumerates each triangle exactly once, so the counts are identical
    to ``triangle_per_edge_support`` on the canonicalized edges — but the
    caller skips the per-call degree aggregation + orientation joins, which
    is what makes the k-truss peel loop pay orientation ONCE instead of once
    per round (the orientation of the shrinking subgraph under the ORIGINAL
    order stays acyclic; out-degrees only shrink, so the O(√m) bound holds).

    Output: ``(src, dst, support: long)`` for every input row (0 kept).
    Corners from the enumerate kernel come out in rank order, so the three
    incidence pairs of a triangle ARE oriented input rows — no
    least/greatest canonicalization anywhere.
    """
    support = triangle_support_counts_oriented(d, num_partitions, hub_k)
    return d.join(support, ["src", "dst"], "left").select(
        "src",
        "dst",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
    )


def wedge_count(edges: DataFrame) -> DataFrame:
    """Number of wedges (paths of length 2) = Σ_v C(deg(v), 2).

    The clustering-coefficient denominator; pure aggregate, no join.
    Output: one row ``(wedges: long)``.
    """
    from trianglecounting_spark.operators.normalize import degrees

    return degrees(edges).agg(
        F.sum(F.col("deg") * (F.col("deg") - F.lit(1)) / F.lit(2))
        .cast("long")
        .alias("wedges")
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle count + local clustering numerator/denominator.

    Output: ``(v, tri: long, wedges_v: long)`` — integers only, so the driver
    hash is stable; callers divide. Global coefficient = 3·Δ / Σ wedges.
    """
    from trianglecounting_spark.operators.normalize import degrees

    # kernel enumeration (the SMJ 3-way enumerate measured ~4x slower; the
    # declarative form remains the differential oracle via the SQL path)
    tris = triangle_enumerate_kernel(edges)
    # explode, not union — a union would re-run the triangle join per branch
    per_vertex_tri = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    return (
        degrees(edges)
        .join(per_vertex_tri, "v", "left")
        .select(
            "v",
            F.coalesce("tri", F.lit(0)).cast("long").alias("tri"),
            (F.col("deg") * (F.col("deg") - F.lit(1)) / F.lit(2))
            .cast("long")
            .alias("wedges_v"),
        )
    )


def clustering_by_degree(edges: DataFrame) -> DataFrame:
    """Clustering spectrum c(k): mean local clustering coefficient over
    vertices of each degree k ≥ 2 — the Ravasz-Barabási hierarchy plot
    (c(k) ~ k^-1 signals hierarchical modularity in web graphs). Output one
    row per occupied degree: ``(deg, n_k, sum_tri, c_k)``.

    Every vertex of degree k has the SAME wedge denominator k(k−1)/2, so
    the mean of per-vertex ratios collapses to exact integers until one
    final division:  c(k) = Σ_v tri_v / (n_k · k(k−1)/2)  — no distributed
    float aggregate, bit-stable across partitionings. One extra
    map-side-combined groupBy over the per-vertex table (≤ max_deg rows
    out); the triangle kernel cost is shared with ``clustering``.
    """
    from trianglecounting_spark.operators.normalize import degrees

    per_v = clustering_coefficients(edges).join(
        degrees(edges), "v"
    )
    return (
        per_v.where(F.col("deg") >= 2)
        .groupBy("deg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_k"),
            F.sum("tri").cast("long").alias("sum_tri"),
        )
        .select(
            "deg",
            "n_k",
            "sum_tri",
            F.round(
                F.col("sum_tri").cast("double")
                / (
                    F.col("n_k").cast("double")
                    * (F.col("deg") * (F.col("deg") - 1) / F.lit(2)).cast("double")
                ),
                6,
            ).alias("c_k"),
        )
    )


# ---------------------------------------------------------------------------
# Plan 2: Arrow-vectorized intersection kernel over co-partitioned adjacency
# ---------------------------------------------------------------------------
#
# Intersection strategy: ONE strategy, deliberately. The reference dispatches
# per neighbor-pair on a size-ratio rule between a merge intersector (J4,
# `util/set_inter_cnt_utils.h:161-171`) and a galloping binary-search
# intersector (J5, `set_inter_cnt_utils.h:13-48`) because a scalar CPU loop
# pays per-element either way and the cheaper loop wins per pair. In numpy the
# cost model is different: per-CALL dispatch overhead (~µs) dominates
# per-element cost, so the winning move is to batch EVERY pair of a src group
# into a single `searchsorted` over the concatenated neighbor segments
# (`_intersect_groups`) — one vectorized binary search per group and probe
# source, the galloping analogue, regardless of size ratio. A per-pair
# merge/gallop dispatch was measured slower at every ratio because it
# re-introduces per-pair Python/numpy call overhead; it is therefore not
# implemented.
#
# Round-3 measurement — whole-PARTITION vectorization rejected: the obvious
# next step (segment-offset keys grp·M+dst, one partition-wide lexsort +
# ONE searchsorted over all candidates, no Python loop at all) was built and
# A/B-measured on the materialized layout: sf0.1 web graph (1.196M edges,
# ~600-row groups) 1.8–2.4s vs 1.1–1.45s per-group; R-MAT scale-18
# (3.8M edges, ~16-row groups — the many-small-groups shape) 9.2–18.7s vs
# 2.2–3.4s per-group. The per-group loop wins BOTH regimes because the
# searched array grows from one group's neighbors (L1-resident,
# log₂|group| ≈ 4–10 steps) to the whole partition (≈1 MB, log₂|rows| ≈ 16–17
# steps of cache-missing binary search) — a per-PROBE cost increase that
# swamps the ~µs-per-GROUP dispatch it saves (probes outnumber groups ~250:1).
# What survives from that experiment: the per-group `np.sort` is hoisted into
# one stable partition-wide lexsort below (sorted neighbor sets become views,
# zero per-group allocations).
#
# The four kernel variants (count, per-directed-edge, enumerate, support
# partials) share that one group loop and differ only in what they emit.


def _partition_views(batches, hub_idx):
    """One partition's (src, dst[, nbrs]) Arrow batches → zero-copy numpy views.

    The partition is one CSR block (src groups are contiguous thanks to
    sortWithinPartitions), so whole-partition processing needs no
    batch-boundary carry logic.

    Returns (srcs, dsts, j_offsets, j_values, hub_pos):
      * j_values / j_offsets — the list column's raw Arrow buffers: this is
        literally the reference's CSR (values = `adj`, offsets = `row_ptrs`,
        `util/graph.h:11-12`) arriving over the wire. Spark's Arrow writer
        repeats offsets at null rows, so a group's joined neighbor data is
        the contiguous slice j_values[j_offsets[gs]:j_offsets[ge]] — no copy.
      * hub_pos[i] — for null rows (hub destinations), the row's position in
        the broadcast hub CSR (-1 when absent = true sink), resolved with one
        vectorized searchsorted.
    Nothing here is O(neighbor volume); peak extra memory is O(rows).
    """
    import pyarrow as pa

    rbs = [rb for rb in batches if rb.num_rows > 0]
    if not rbs:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, np.zeros(1, dtype=np.int64), empty, empty
    tbl = pa.Table.from_batches(rbs)
    srcs = tbl.column("src").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    dsts = tbl.column("dst").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    n = len(srcs)
    if "nbrs" not in tbl.schema.names:
        # full-CSR layout (round 6): every dst resolves against the broadcast
        # CSR — the layout ships no list column at all (an all-null
        # array<long> column measured 15+ s of Arrow serialization per pass
        # at sf0.1; two plain int columns are ~50× cheaper to move)
        j_offsets = np.zeros(n + 1, dtype=np.int64)
        j_values = np.empty(0, dtype=np.int64)
        valid = np.zeros(n, dtype=bool)
    else:
        nb = tbl.column("nbrs")
        if hasattr(nb, "combine_chunks"):
            nb = nb.combine_chunks()
        j_offsets = np.asarray(nb.offsets).astype(np.int64, copy=False)
        j_values = nb.values.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        valid = np.asarray(nb.is_valid())
    hub_pos = np.full(n, -1, dtype=np.int64)
    if hub_idx is not None and (~valid).any():
        ids, _offs, _vals = hub_idx
        if len(ids):
            cand = dsts[~valid]
            j = np.searchsorted(ids, cand)
            j_clip = np.minimum(j, len(ids) - 1)
            found = ids[j_clip] == cand
            hub_pos[~valid] = np.where(found, j_clip, -1)
    return srcs, dsts, j_offsets, j_values, hub_pos


def _intersect_groups(srcs, dsts, j_offsets, j_values, hub_pos, hub_idx):
    """The intersection loop of every kernel variant.

    Per src group u and non-empty probe source — first the group's *joined*
    neighbor data (a contiguous zero-copy slice of the Arrow values buffer),
    then the group's hub rows against the broadcast CSR — yields
    ``(seg, hit, rows, starts)``: ``hit = seg ∈ N⁺(u)`` from ONE vectorized
    binary search (numpy's analogue of the reference's galloping intersector
    J5, `util/set_inter_cnt_utils.h:13-48`), and
    ``seg[starts[j]:starts[j+1]]`` is N⁺(dst) of partition row ``rows[j]``
    (empty for rows the other source covers). Nothing is gathered except one
    group's hub segments, so peak memory stays O(rows), immune to
    wedge-volume skew.
    """
    offs = vals = None
    if hub_idx is not None:
        _ids, offs, vals = hub_idx
    hub_rows = np.flatnonzero(hub_pos >= 0)
    bounds = np.concatenate(([0], np.flatnonzero(srcs[1:] != srcs[:-1]) + 1, [len(srcs)]))
    # one stable partition-wide sort replaces a np.sort per group: group
    # boundaries are unchanged (srcs is the major key), so each group's
    # sorted neighbor set is a zero-copy VIEW of sdsts
    sdsts = dsts[np.lexsort((dsts, srcs))]

    def probe(nbrs_u, seg, rows, starts):
        idx = np.searchsorted(nbrs_u, seg)
        idx[idx == len(nbrs_u)] = len(nbrs_u) - 1
        return seg, nbrs_u[idx] == seg, rows, starts

    lo = 0
    for k in range(len(bounds) - 1):
        gs, ge = bounds[k], bounds[k + 1]
        nbrs_u = sdsts[gs:ge]
        base = j_offsets[gs]
        if j_offsets[ge] > base:
            yield probe(nbrs_u, j_values[base:j_offsets[ge]], np.arange(gs, ge),
                        j_offsets[gs:ge + 1] - base)
        hi = np.searchsorted(hub_rows, ge, side="left")
        if hi > lo:
            # batch the group's hub segments: views → one concat → ONE
            # vectorized search (per-row numpy dispatch would cost ~40µs/row;
            # this is volume-bound). Peak memory = one group's hub volume ≤
            # outdeg(u)·max_hub_len — bounded.
            rows = hub_rows[lo:hi]
            ps = hub_pos[rows]
            first, last = offs[ps], offs[ps + 1]
            starts = np.zeros(len(ps) + 1, dtype=np.int64)
            np.cumsum(last - first, out=starts[1:])
            # Python-int slice bounds: numpy-scalar indexing per row costs more
            segs = [vals[a:b] for a, b in zip(first.tolist(), last.tolist())]
            if starts[-1]:
                yield probe(nbrs_u, np.concatenate(segs) if len(segs) > 1 else segs[0],
                            rows, starts)
            lo = hi


def _kernel(emit, hub_bc):
    """The ``mapInArrow`` function of a kernel variant: one partition's views
    and group iterator are handed to ``emit(srcs, dsts, groups)``, which
    yields the output batches."""

    def run(batches):
        hub_idx = hub_bc.value if hub_bc is not None else None
        srcs, dsts, j_offsets, j_values, hub_pos = _partition_views(batches, hub_idx)
        return emit(srcs, dsts,
                    _intersect_groups(srcs, dsts, j_offsets, j_values, hub_pos, hub_idx))

    return run


def _emit_count(srcs, dsts, groups):
    """One partial row per partition: ``(tri_cnt, probes)`` where probes =
    the number of intersection candidates binary-searched (Σ |N⁺(dst)| over
    the partition's edges — the instrumented work counter the reference
    reports as probes/MP-sec, `2017-karypis-hepc-tc/ptc.c:282-397`,
    `main.c:49-51`)."""
    import pyarrow as pa

    total = probes = 0
    for seg, hit, _rows, _starts in groups:
        total += int(np.count_nonzero(hit))
        probes += int(seg.size)
    yield pa.RecordBatch.from_pydict(
        {"tri_cnt": pa.array([total], pa.int64()), "probes": pa.array([probes], pa.int64())}
    )


def _emit_per_edge(srcs, dsts, groups):
    """``(src, dst, cnt)`` for every partition row: one ``reduceat`` of the
    hits per probe source."""
    import pyarrow as pa

    counts = np.zeros(len(srcs), dtype=np.int64)
    for _seg, hit, rows, starts in groups:
        # reduceat gives an empty segment its successor's first element: skip
        nonempty = starts[1:] > starts[:-1]
        counts[rows[nonempty]] = np.add.reduceat(hit, starts[:-1][nonempty], dtype=np.int64)
    yield pa.RecordBatch.from_pydict(
        {"src": pa.array(srcs, pa.int64()), "dst": pa.array(dsts, pa.int64()),
         "cnt": pa.array(counts, pa.int64())}
    )


def _triangles(srcs, dsts, groups):
    """Every triangle of the partition once, as numpy columns (a, b, c):
    a = src, b = dst, c = the matched common out-neighbor. None if there
    are none."""
    out_a, out_b, out_c = [], [], []
    for seg, hit, rows, starts in groups:
        pos = np.flatnonzero(hit)
        if pos.size:
            # row attribution: position → owning row via the segment starts
            row = rows[np.searchsorted(starts, pos, side="right") - 1]
            out_a.append(srcs[row])
            out_b.append(dsts[row])
            out_c.append(seg[pos])
    if not out_a:
        return None
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def _emit_enumerate(srcs, dsts, groups):
    """Each triangle once as (a, b, c) — exactly one row per triangle, the
    kernel analogue of the declarative ``triangle_enumerate`` without the
    three-way sort-merge join."""
    import pyarrow as pa

    tris = _triangles(srcs, dsts, groups)
    if tris is not None:
        yield pa.RecordBatch.from_arrays(
            [pa.array(x, pa.int64()) for x in tris], names=["a", "b", "c"]
        )


def _emit_support_partial(srcs, dsts, groups):
    """Per-partition PARTIAL per-edge support: every triangle (a, b, c)
    found here contributes +1 to its three edges (a,b), (a,c), (b,c) —
    pre-aggregated inside the partition with one numpy lexsort+run-length
    pass, so the downstream groupBy-sum moves one row per partition-distinct
    edge instead of three rows per triangle (the map-side combine the
    Catalyst explode+count could not do across the Arrow boundary). Pairs
    stay in rank order = the DODG's oriented rows; edges in no triangle are
    absent (support 0)."""
    import pyarrow as pa

    tris = _triangles(srcs, dsts, groups)
    if tris is None:
        return
    a, b, c = tris
    xs = np.concatenate((a, a, b))
    ys = np.concatenate((b, c, c))
    order = np.lexsort((ys, xs))
    xs, ys = xs[order], ys[order]
    new = np.empty(len(xs), dtype=bool)
    new[0] = True
    new[1:] = (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
    starts = np.flatnonzero(new)
    cnts = np.diff(np.append(starts, len(xs)))
    yield pa.RecordBatch.from_pydict(
        {
            "src": pa.array(xs[starts], pa.int64()),
            "dst": pa.array(ys[starts], pa.int64()),
            "cnt": pa.array(cnts.astype(np.int64), pa.int64()),
        }
    )


def _count(laid_out: DataFrame, hub_bc, observation=None) -> DataFrame:
    """Kernel count partials → one row ``(triangles: long)``; the optional
    ``observation`` reads the probe/hit totals off the same job."""
    partials = laid_out.mapInArrow(
        _kernel(_emit_count, hub_bc), schema="tri_cnt long, probes long"
    )
    if observation is not None:
        partials = partials.observe(
            observation,
            F.sum("probes").alias("probes"),
            F.sum("tri_cnt").alias("hits"),
        )
    # coalesce: an empty graph (zero partitions after AQE) must count 0,
    # not NULL — the incremental-delta path feeds empty batches here
    return partials.agg(
        F.coalesce(F.sum("tri_cnt"), F.lit(0)).cast("long").alias("triangles")
    )


def _support_counts(laid_out: DataFrame, hub_bc) -> DataFrame:
    """Support partials → ``(src, dst, support)`` per oriented row in ≥ 1
    triangle: one groupBy-sum, no 3-per-triangle explode."""
    partials = laid_out.mapInArrow(
        _kernel(_emit_support_partial, hub_bc), schema="src long, dst long, cnt long"
    )
    return partials.groupBy("src", "dst").agg(
        F.sum("cnt").cast("long").alias("support")
    )


def _canonical_support(edges_uv: DataFrame, counts: DataFrame) -> DataFrame:
    """Oriented support counts → ``(u, v, support)`` for every canonical
    (u < v) edge, 0 kept. Corners are in RANK order (deg, id), so each pair
    is canonicalized by id before it joins the edge table."""
    support = counts.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        "support",
    )
    return edges_uv.join(support, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def triangle_support_counts_oriented(
    d: DataFrame,
    num_partitions: int | None = None,
    hub_k: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Per-edge triangle support over an already-oriented edge table, WITHOUT
    zero-support rows: ``(src, dst, support)`` keyed on the oriented rows,
    only for edges in ≥ 1 triangle. One kernel pass with in-partition
    partial aggregation (``_emit_support_partial``) + one groupBy-sum — no
    3-per-triangle explode, no join back to the edge table. The k-truss peel
    (k ≥ 3) filters ``support >= k-2 >= 1``, so the absent zero rows are
    exactly the rows the filter would drop.
    ``n_rows``: the caller's known row count of ``d`` (skips the layout's
    budget-probe count job — the peel loop already counts every round)."""
    return _support_counts(*_kernel_layout(d, num_partitions, hub_k, n_rows))


def triangle_enumerate_kernel(
    edges: DataFrame, num_partitions: int | None = None, hub_k: int | None = None
) -> DataFrame:
    """Materialize each triangle once as (a, b, c) in rank order — via the
    vectorized intersection kernel instead of the three-way sort-merge join
    (the SMJ streams the full wedge-candidate volume through two shuffles;
    the kernel touches it in-place against Arrow buffers)."""
    d = orient_dodg(edges).localCheckpoint(eager=False)
    return triangle_enumerate_from_dodg(d, num_partitions, hub_k)


def triangle_enumerate_from_dodg(
    d: DataFrame, num_partitions: int | None = None, hub_k: int | None = None
) -> DataFrame:
    """`triangle_enumerate_kernel` over an already-materialized DODG —
    callers that also join against the DODG afterwards (e.g. the 4-clique
    extension in `operators/motifs.py`) build it once and share it."""
    laid_out, hub_bc = _kernel_layout(d, num_partitions, hub_k)
    return laid_out.mapInArrow(
        _kernel(_emit_enumerate, hub_bc), schema="a long, b long, c long"
    )


# Driver/executor byte budget for the broadcast hub CSR (two int64 columns).
# The bound "high in-degree ⇒ high rank ⇒ short out-list" (measured 48 MB at
# m = 7.7M) is an ENFORCED contract: past the budget the kernel falls back to
# the plain dst join (hub split disabled) instead of a silent driver/executor
# memory blow-up — same answers, just without the wedge-replication
# optimization. 256 MB suits the sf-scale graphs; at R-MAT scale 22+ (64 M+
# edges) the 65 k hubs it admits leave mid-degree destinations (indeg
# 8..~200) replicating their adjacency through the layout join — measured 5x
# per-probe slowdown (BENCH/BASELINE.md appendix). On a real cluster this
# scales with executor memory; here it is env-tunable for the large-graph
# runs.
HUB_BUDGET_BYTES = int(os.environ.get("SPARK_GRAFT_HUB_BUDGET_BYTES", 256 << 20))
HUB_K_DEFAULT = int(os.environ.get("SPARK_GRAFT_HUB_K", 65536))
# Row cap for the full-graph broadcast-CSR fast path (round 6), separate from
# (and additionally bounded by) the byte budget above. MEASURED crossover vs
# the hub-split path on R-MAT ef=16, local[32], identical counts:
#   1.2 M edges (sf0.1): ~2× faster;  3.8 M (scale 18): even (8-11 s both);
#   7.7 M (scale 19): 2× SLOWER (30-37 s vs 16.5 s — the per-call edge-table
#   collect + whole-graph rebroadcast stops amortizing). 4 M keeps the win
#   and never enters the losing regime; env-tunable like the byte budget.
FULL_CSR_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_FULL_CSR_ROWS", 4_000_000))


def _budget_rows() -> int:
    return max(1, HUB_BUDGET_BYTES // 16)  # two int64 columns per row


def _kernel_layout(
    d: DataFrame,
    num_partitions: int | None = None,
    hub_k: int | None = None,
    n_rows: int | None = None,
    adj: DataFrame | None = None,
    hub_csr: DataFrame | None = None,
):
    """The one decision point for the kernel's layout regime. ``d`` is the
    oriented edge table; returns (laid_out_df, hub_broadcast_or_None) with
    every src group contiguous — repartition(src) + sortWithinPartitions(src),
    the DataFrame analogue of the reference's CSR row layout
    (`util/graph.h:11-12`). ``hub_k = 0`` forces the plain join.

    1. Full-CSR broadcast (round 6) — when the WHOLE oriented edge table
       fits the hub byte budget and ``FULL_CSR_MAX_ROWS``: broadcasting
       everything strictly dominates the hub split (the adjacency grouping
       shuffle, the hub-selection jobs and the dst join all disappear; the
       layout is the edge table itself). Probe totals are identical (every
       edge's |N⁺(dst)| is probed exactly once either way). Skipped when the
       caller passes a pre-grouped ``adj``: the bucketed tables exist so the
       kernel join is exchange-free on read, and collecting the whole edge
       table would waive that pay-once layout (and re-collect per query).
    2. Hub split — the edges ⋈ dst-adjacency join replicates N⁺(dst) once
       per in-edge of dst, i.e. Σ indeg·outdeg = the wedge count, the
       dominant data volume on power-law graphs, concentrated on
       high-in-degree hubs. Those destinations are EXCLUDED from the join
       and their (short — high rank ⇒ low out-degree) adjacency lists
       broadcast instead: the re-expression of the reference's
       dense-hub-range bitmap/packed-words strategy (J2/J3,
       `triangle_counting.h:9,11-34`) — pay O(hub lists) once per executor
       instead of once per edge. ``hub_csr`` is a pre-materialized flat hub
       CSR (src, nbr) that replaces the selection jobs while it fits the
       budget.
    3. Plain join — no hubs, or the hub CSR is over budget.

    The left join keeps sink vertices (empty N⁺(dst)) — they contribute 0.
    When ``d``/``adj`` come from tables bucketed by dst/src, the join plans
    with ZERO shuffle exchanges (SURVEY §4 "bucketed write"). ``n_rows``:
    the caller's known row count of ``d`` (skips the full-CSR count job).
    """
    spark = d.sparkSession
    if hub_k is None:
        hub_k = HUB_K_DEFAULT
    if adj is None:
        if hub_k > 0:
            if n_rows is None:
                n_rows = d.count()
            if n_rows <= min(_budget_rows(), FULL_CSR_MAX_ROWS):
                # no nbrs column: the kernel resolves every dst via the
                # broadcast CSR (see _partition_views)
                flat = d.toPandas().rename(columns={"dst": "nbr"})
                return _by_src(d, num_partitions), _broadcast_hub_csr(spark, flat)
        # referenced by the hub-collect job AND the kernel job — materialize
        # once (lazy localCheckpoint), don't rebuild the collect_list
        adj = adjacency(d, num_partitions).localCheckpoint(eager=False)
    flat = _collect_within_budget(hub_csr) if hub_csr is not None else None
    if flat is not None:
        # hubs with empty out-lists aren't in the CSR and need no anti-join
        # membership either: they have no adjacency row
        hubs = hub_csr.select(F.col("src").alias("dst")).distinct()
    elif hub_k > 0:
        hubs, flat = _select_hub_csr(d, hub_k)
    adj_dst = adj.select(F.col("src").alias("dst"), F.col("nbrs"))
    hub_bc = None
    if flat is not None:
        hub_bc = _broadcast_hub_csr(spark, flat)
        # hub dsts now miss the join → nbrs NULL → kernel consults the
        # broadcast CSR; genuine sinks are in neither → count 0 either way.
        adj_dst = adj_dst.join(hubs.hint("broadcast"), "dst", "left_anti")
    return _by_src(d.join(adj_dst, "dst", "left"), num_partitions), hub_bc


def _by_src(df: DataFrame, num_partitions: int | None) -> DataFrame:
    if num_partitions is not None:
        df = df.repartition(num_partitions, "src")
    else:
        df = df.repartition("src")
    return df.sortWithinPartitions("src")


def _collect_within_budget(flat: DataFrame):
    """Collect a flat (src, nbr) CSR to the driver through Arrow, as a LIMIT
    probe against the byte budget: the pandas frame, or None if over it."""
    budget_rows = _budget_rows()
    pdf = flat.limit(budget_rows + 1).toPandas()
    return pdf if len(pdf) <= budget_rows else None


def _select_hub_csr(d: DataFrame, hub_k: int):
    """Pick the hub set and collect its flat CSR to the driver.

    Hub selection by in-degree THRESHOLD, not top-K: orderBy().limit(K)
    merges num_partitions·K candidate rows single-threaded on the driver
    (~tens of seconds of serial time at K=65536 — measured as the dominant
    Amdahl term). A threshold filter is fully distributed; indeg ≥ 8 means
    each broadcast list saves ≥8× its own size in join replication. If the
    threshold admits more than hub_k vertices, an approximate quantile raises
    it so executor broadcast memory stays bounded (worst case hub_k·O(√m)
    longs; in practice high in-degree ⇒ high rank ⇒ short out-list: 65k hubs
    ≈ 48 MB at m = 7.7M while absorbing 99.3% of replication).

    Returns (hubs_df (dst: long), flat_pdf (src, nbr) pandas, unsorted) — the
    flat CSR is collected through Arrow as two FLAT int columns: a
    row-object collect of 65k list rows costs tens of seconds of
    single-threaded driver work; this is two zero-copy numpy columns. If the
    flat CSR would exceed the byte budget, returns (None, None) and the
    caller runs hub-less.
    """
    indeg = d.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    candidates = indeg.where(F.col("indeg") >= 8).localCheckpoint(eager=False)
    n_cand = candidates.count()
    if n_cand > hub_k:
        frac = 1.0 - hub_k / float(n_cand)
        thresh = candidates.approxQuantile("indeg", [frac], 0.01)[0]
        candidates = candidates.where(F.col("indeg") >= thresh)
    hubs = candidates.select("dst").localCheckpoint(eager=False)
    # the flat CSR is the hub vertices' out-EDGES — read them straight off
    # the edge table instead of exploding the grouped adjacency lists (same
    # rows; _broadcast_hub_csr lexsorts driver-side, so order is free)
    flat_pdf = _collect_within_budget(
        d.join(hubs.withColumnRenamed("dst", "src"), "src")
        .select("src", F.col("dst").alias("nbr"))
    )
    if flat_pdf is None:
        return None, None
    return hubs, flat_pdf


def _broadcast_hub_csr(spark, flat_pdf):
    """(src, nbr) flat pandas frame → broadcast (ids, offsets, values) CSR.
    Grouping happens here with one driver-side lexsort (the collect is
    order-free, so the limit probe needs no distributed sort); values need no
    order — they are the PROBE side of the intersection, the searched side is
    always the partition-sorted group neighbors. Hubs with empty out-lists
    vanish in the explode — a kernel lookup miss means empty, which is
    exactly right."""
    hub_srcs = flat_pdf["src"].to_numpy(dtype=np.int64)
    values = flat_pdf["nbr"].to_numpy(dtype=np.int64)
    if len(hub_srcs):
        order = np.lexsort((values, hub_srcs))
        hub_srcs, values = hub_srcs[order], values[order]
        ids, first_idx = np.unique(hub_srcs, return_index=True)
        offsets = np.concatenate((first_idx, [len(hub_srcs)])).astype(np.int64)
    else:
        ids = np.empty(0, dtype=np.int64)
        offsets = np.zeros(1, dtype=np.int64)
    return spark.sparkContext.broadcast((ids, offsets, values))


def triangle_count_kernel(
    edges: DataFrame,
    num_partitions: int | None = None,
    hub_k: int | None = None,
    observation=None,
) -> DataFrame:
    """Global exact triangle count via the vectorized intersection kernel.

    Physical plan: DODG → ``_kernel_layout`` (full-CSR broadcast, or
    adjacency + hub split (broadcast of top-in-degree adjacency, J2/J3
    analogue) + edges ⋈ non-hub adj on dst, AQE-skew-split) →
    repartition+sort by src → mapInArrow partial sums → final sum over
    ≤ num_partitions rows. Mirrors `CountTriBMPAndMergeWithPackDODG`
    (`triangle_counting.h:36-129`) with numpy replacing SIMD intrinsics and
    map-side partial aggregation replacing the OpenMP reduction. Output: one
    row ``(triangles: long)``.

    ``observation``: an optional ``pyspark.sql.Observation``; after the count
    is consumed it carries ``{"probes": ..., "hits": ...}`` — the instrumented
    intersection work (not wall-time-derived), mirroring the reference's probe
    counters (`2017-karypis-hepc-tc/main.c:49-51`).
    """
    d = orient_dodg(edges).localCheckpoint(eager=False)
    return _count(*_kernel_layout(d, num_partitions, hub_k), observation)


def triangle_count_per_directed_edge_kernel(
    edges: DataFrame, num_partitions: int | None = None, hub_k: int | None = None
) -> DataFrame:
    """Per-DODG-edge intersection counts ``(src, dst, cnt)`` — the kernel
    analogue of the reference's per-edge loop body, and the base quantity the
    per-edge support explode starts from."""
    d = orient_dodg(edges).localCheckpoint(eager=False)
    laid_out, hub_bc = _kernel_layout(d, num_partitions, hub_k)
    return laid_out.mapInArrow(
        _kernel(_emit_per_edge, hub_bc), schema="src long, dst long, cnt long"
    )


# ---------------------------------------------------------------------------
# Pre-bucketed physical layout (SURVEY §4 "bucketed write or repartition" —
# the strong half): when the canonical DODG edge table is bucketed by dst and
# the adjacency table by src (plans/layout.py writes them), the kernel's
# adjacency join is exchange-free on read — the co-location is paid ONCE at
# write time, not per query, exactly like an Iceberg bucket-partitioned table
# feeding a 1000-executor cluster.
# ---------------------------------------------------------------------------

def bucketed_kernel_layout(
    spark,
    edges_table: str,
    adj_table: str,
    hub_k: int | None = None,
    hub_table: str | None = None,
):
    """Kernel input layout from pre-bucketed catalog tables (see
    plans/layout.write_graph_layout). Returns (laid_out_df, hub_broadcast).

    ``hub_table``: optional pre-materialized flat hub CSR (src, nbr) written
    by the layout — the hub SELECTION (in-degree agg + threshold/quantile
    jobs) then happens zero times per query instead of once per query; the
    steady-state kernel pays one small scan + Arrow collect. A table over
    the budget (written under a larger one) falls back to fresh selection,
    whose own guard applies."""
    return _kernel_layout(
        spark.table(edges_table),
        hub_k=hub_k,
        adj=spark.table(adj_table),
        hub_csr=spark.table(hub_table) if hub_table is not None else None,
    )


def triangle_count_kernel_bucketed(
    spark,
    edges_table: str,
    adj_table: str,
    hub_k: int | None = None,
    observation=None,
    hub_table: str | None = None,
) -> DataFrame:
    """`triangle_count_kernel` over the pre-bucketed layout: identical result,
    but the DODG build + adjacency grouping shuffles are already on disk and
    the dst join needs no exchange. Output: one row ``(triangles: long)``."""
    return _count(
        *bucketed_kernel_layout(spark, edges_table, adj_table, hub_k, hub_table),
        observation,
    )


def triangle_per_edge_support_bucketed(
    spark, edges_table: str, adj_table: str, hub_k: int | None = None,
    hub_table: str | None = None,
) -> DataFrame:
    """`triangle_per_edge_support` over the pre-bucketed layout (same
    support-partial kernel + groupBy; the canonical (u<v) edge set is
    recovered from the DODG table, which holds each edge exactly once)."""
    counts = _support_counts(
        *bucketed_kernel_layout(spark, edges_table, adj_table, hub_k, hub_table)
    )
    edges = spark.table(edges_table).select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    )
    return _canonical_support(edges, counts)


# ---------------------------------------------------------------------------
# Exact incremental maintenance: triangles added by a batch of new edges.
# The streaming lane's analytic operator — a foreachBatch sink calls this per
# micro-batch to keep a running EXACT global count without ever recounting
# the accumulated graph.
# ---------------------------------------------------------------------------

def triangle_count_delta(existing: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Exact number of NEW triangles created by adding ``new_edges`` (B) to
    ``existing`` (G): Δ = tri(G ∪ B) − tri(G), computed incrementally.

    Inclusion–exclusion over which of a triangle's edges are new (both
    inputs canonical ``(u, v)`` with u < v; B is deduplicated against G
    internally, so re-delivered edges contribute nothing — the semantics a
    micro-batch sink needs):

      S1 = Σ_{b=(u,v) ∈ B} |N_U(u) ∩ N_U(v)|     (counts T1 + 2·T2 + 3·T3)
      S2 = #{B-edge pairs sharing a vertex, closed by a U edge}  (T2 + 3·T3)
      S3 = tri(B)                                                (T3)
      Δ  = S1 − S2 + S3 = T1 + T2 + T3   (Tj = new triangles with j B edges)

    Scale shape (the reason this exists): every term joins the SMALL batch
    against the big graph — S1 is two vertex-keyed joins of B against the
    symmetric closure of U (B broadcastable, G never re-enumerated), S2 is a
    B self-join probed against U membership, S3 runs the kernel on B alone.
    Per-batch cost is O(|B| · avg-degree), not O(|U|): the incremental
    contract a 10^12-edge crawl needs.

    Output: one row ``(new_triangles: long)`` — integer-exact,
    partitioning-invariant.
    """
    g = existing.select("u", "v").localCheckpoint(eager=False)
    b = (
        new_edges.select("u", "v")
        .dropDuplicates(["u", "v"])
        .join(g, ["u", "v"], "left_anti")
        .localCheckpoint(eager=False)
    )
    u_all = g.unionAll(b).localCheckpoint(eager=False)
    sym_u = undirect(u_all)

    # S1: common U-neighbors of each new edge's endpoints
    w1 = sym_u.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    w2 = sym_u.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    s1 = (
        b.join(w1, "u").join(w2, ["v", "w"])
        .agg(F.count(F.lit(1)).alias("n"))
    )

    # S2: two new edges sharing vertex x, closed by any U edge (a, b) —
    # each canonical U edge appears once, so each unordered B-edge pair
    # {(x,a),(x,b)} counts once. Joined CLOSING-EDGE-FIRST: attach a's
    # B-neighbors x to each U edge, then keep rows where (x, b) is also a
    # B edge. The round-3 form built ALL B-pairs sharing x before the
    # closure filter — O(deg_B(x)²) rows, |B|² for a star-shaped batch (a
    # crawl frontier hitting one hub page); this form's intermediate is
    # Σ_{(a,b)∈U} deg_B(a) — the same wedge-bounded shape as S1, so the
    # per-batch contract stays O(|B|·avg-degree) on any batch shape.
    sym_b = undirect(b)
    closing = u_all.select(F.col("u").alias("a"), F.col("v").alias("b"))
    ba = sym_b.select(F.col("dst").alias("a"), F.col("src").alias("x"))
    bb = sym_b.select(F.col("dst").alias("b"), F.col("src").alias("x"))
    s2 = closing.join(ba, "a").join(bb, ["b", "x"]).agg(
        F.count(F.lit(1)).alias("n")
    )

    # S3: triangles entirely inside the batch
    s3 = triangle_count_kernel(b)

    return (
        s1.select(F.col("n").alias("s1"))
        .crossJoin(s2.select(F.col("n").alias("s2")))
        .crossJoin(s3.select(F.col("triangles").alias("s3")))
        .select(
            (F.col("s1") - F.col("s2") + F.col("s3"))
            .cast("long")
            .alias("new_triangles")
        )
    )


# ---------------------------------------------------------------------------
# Approximate triangle counting (explicitly approximate; the exact kernels
# above remain the north-rule contract)
# ---------------------------------------------------------------------------

# modulus/multipliers for the deterministic edge-sampling hash: pure int64
# arithmetic with no overflow in either Spark or DuckDB, so the sample — and
# therefore the estimate — is bit-identical across engines and partitionings.
_SAMPLE_M = 1_000_000_007
_SAMPLE_A = 2_654_435_761
_SAMPLE_B = 40_503


def triangle_count_approx(edges: DataFrame, p_inv: int = 4, seed: int = 42) -> DataFrame:
    """DOULION-style estimate (Tsourakakis et al., KDD'09): keep each edge
    with probability 1/p_inv via a deterministic hash, count triangles EXACTLY
    on the sample with the vectorized kernel, scale by p_inv³.

    Unbiased (E[est] = Δ); variance shrinks with triangle count — the standard
    cheap pre-pass at 10^12-edge scale before committing to an exact run.
    Output: one row ``(triangles_est: long, sampled_triangles: long)``.
    """
    h = F.pmod(
        F.pmod(F.col("u"), F.lit(_SAMPLE_M)) * F.lit(_SAMPLE_A)
        + F.pmod(F.col("v"), F.lit(_SAMPLE_M)) * F.lit(_SAMPLE_B)
        + F.lit(seed),
        F.lit(_SAMPLE_M),
    )
    sampled = edges.where(F.pmod(h, F.lit(p_inv)) == 0)
    cnt = triangle_count_kernel(sampled)
    return cnt.select(
        (F.col("triangles") * F.lit(p_inv ** 3)).cast("long").alias("triangles_est"),
        F.col("triangles").alias("sampled_triangles"),
    )


def triangle_count_approx_sql(edges_sql: str, p_inv: int = 4, seed: int = 42) -> str:
    """DuckDB twin of ``triangle_count_approx``: identical hash sample (exact
    int64 arithmetic) + the DODG three-way join on the sample."""
    return (
        f"WITH e0 AS MATERIALIZED ({edges_sql}), "
        f"e AS MATERIALIZED (SELECT u, v FROM e0 WHERE "
        f"(((u % {_SAMPLE_M}) * {_SAMPLE_A} + (v % {_SAMPLE_M}) * {_SAMPLE_B} + {seed}) "
        f"% {_SAMPLE_M}) % {p_inv} = 0), "
        "deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
        "(SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x), "
        "d AS MATERIALIZED (SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v) "
        "THEN e.u ELSE e.v END AS src, "
        "CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v) "
        "THEN e.v ELSE e.u END AS dst "
        "FROM e JOIN deg du ON du.v = e.u JOIN deg dv ON dv.v = e.v), "
        "c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d e1 "
        "JOIN d e2 ON e2.src = e1.dst "
        "JOIN d e3 ON e3.src = e1.src AND e3.dst = e2.dst) "
        f"SELECT CAST(n * {p_inv ** 3} AS BIGINT) AS triangles_est, "
        "n AS sampled_triangles FROM c"
    )


def knn_by_degree(edges: DataFrame) -> DataFrame:
    """Average-neighbor-degree spectrum k_nn(k) (Pastor-Satorras et al.
    2001) — the degree-correlation companion to ``clustering_by_degree``:
    rising k_nn(k) = assortative (social-network-like), falling =
    disassortative (web/internet-like). Output one row per occupied degree:
    ``(deg, n_k, sum_nbr_deg, knn)``.

    Every vertex of degree k divides its neighbor-degree sum by the SAME k,
    so the mean-of-means collapses to exact integers until one division:
    k_nn(k) = Σ_v sum_nbr_deg_v / (n_k · k) — bit-stable across
    partitionings. Plan: one degree join per endpoint on the symmetric edge
    list (the same vertex-keyed shuffle every per-round LP join uses), two
    map-side-combined aggregates; output ≤ max_deg rows.
    """
    from trianglecounting_spark.operators.normalize import degrees, undirect

    deg = degrees(edges).localCheckpoint(eager=False)
    sym = undirect(edges)
    dd_ = deg.select(F.col("v").alias("dst"), F.col("deg").alias("nbr_deg"))
    per_v = (
        sym.join(dd_, "dst")
        .groupBy("src")
        .agg(F.sum("nbr_deg").cast("long").alias("sum_nbr_deg"))
        .withColumnRenamed("src", "v")
        .join(deg, "v")
    )
    return (
        per_v.groupBy("deg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_k"),
            F.sum("sum_nbr_deg").cast("long").alias("sum_nbr_deg"),
        )
        .select(
            "deg",
            "n_k",
            "sum_nbr_deg",
            F.round(
                F.col("sum_nbr_deg").cast("double")
                / (F.col("n_k").cast("double") * F.col("deg").cast("double")),
                6,
            ).alias("knn"),
        )
    )


def knn_by_degree_sql(edges_sql: str) -> str:
    """DuckDB twin of ``knn_by_degree``."""
    return (
        f"WITH e AS MATERIALIZED ({edges_sql}), "
        "deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
        "(SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x), "
        "sym AS (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v AS src, u AS dst FROM e), "
        "per_v AS (SELECT s.src AS v, sum(d.deg) AS sum_nbr_deg "
        "FROM sym s JOIN deg d ON d.v = s.dst GROUP BY s.src) "
        "SELECT CAST(deg.deg AS BIGINT) AS deg, CAST(count(*) AS BIGINT) AS n_k, "
        "CAST(sum(p.sum_nbr_deg) AS BIGINT) AS sum_nbr_deg, "
        "round(CAST(sum(p.sum_nbr_deg) AS DOUBLE) / "
        "(CAST(count(*) AS DOUBLE) * CAST(deg.deg AS DOUBLE)), 6) AS knn "
        "FROM per_v p JOIN deg ON deg.v = p.v GROUP BY deg.deg"
    )


def edge_jaccard(edges: DataFrame) -> DataFrame:
    """Per-edge neighborhood Jaccard (tie strength / embeddedness,
    Granovetter-style): for edge (u,v) with triangle support s,

        jaccard = s / (deg(u) + deg(v) − 2 − s)

    — |N(u)∩N(v)| is exactly the edge's triangle support, and
    |N(u)∪N(v)\\{u,v}| = deg(u)+deg(v)−2−s. Edges with jaccard 0 are LOCAL
    BRIDGES (no shared neighbors) — the weak ties that hold web communities
    together. Output ``(u, v, support, jaccard)``; integer support rides
    the existing per-edge kernel, one degree join per endpoint, one final
    division at 6dp (a 2-path pendant edge has empty union → NULL).
    """
    from trianglecounting_spark.operators.normalize import degrees

    sup = triangle_per_edge_support(edges)
    deg = degrees(edges)
    du = deg.select(F.col("v").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("v").alias("v"), F.col("deg").alias("dv"))
    denom = F.col("du") + F.col("dv") - F.lit(2) - F.col("support")
    return (
        sup.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "support",
            F.when(
                denom > 0,
                F.round(F.col("support").cast("double") / denom.cast("double"), 6),
            ).alias("jaccard"),
        )
    )
