"""Synchronous label propagation (community detection) — north_star algorithm.

Deterministic variant so results are exactly reproducible across partitionings
and match the SQL oracle (north_rule: exact equality):

  label_0(v) = v
  label_{k+1}(v) = the most frequent label among N(v)'s labels at step k,
                   ties broken by smallest label; isolated semantics keep
                   the previous label.

The mode-with-min-tiebreak is one aggregation trick, all JVM-side:
``max(struct(cnt, -label))`` picks max count then min label. Two shuffles per
round (count by (v,label), then max by v). Runs a *fixed* round count — LP has
no guaranteed fixpoint under synchronous updates (bipartite oscillation), so a
fixed-round contract is both deterministic and oracle-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.normalize import undirect
from trianglecounting_spark.plans.checkpoint import IterationCheckpointer
from trianglecounting_spark.plans.fixpoint import RoundDriver
from trianglecounting_spark.plans.tuning import iteration_partitions


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    checkpointer: IterationCheckpointer | None = None,
) -> DataFrame:
    """Output: ``(v: long, label: long)`` after `rounds` synchronous rounds.

    Every round is materialized (|V| rows) and the previous one released, so
    the plan never grows and the result is lineage-free before the edge-side
    cache is released — callers never silently re-execute the round chain."""
    spark = edges.sparkSession
    with RoundDriver(spark, checkpointer) as loop:
        n_part = iteration_partitions(spark, edges.count() * 2)
        # pre-partition the big side by the join key: per-round joins then only
        # shuffle the |V|-row label table (see pagerank.py); partition count
        # matches the loop's shuffles so the label join never re-exchanges sym
        sym = loop.cache(undirect(edges).repartition(n_part, "src"))
        labels = loop.resume(
            sym.select(F.col("src").alias("v")).distinct().select(
                "v", F.col("v").alias("label")
            )
        )

        def step(_k: int, labels: DataFrame) -> DataFrame:
            nbr_labels = sym.join(labels.withColumnRenamed("v", "src"), "src").select(
                F.col("dst").alias("v"), "label"
            )
            counted = nbr_labels.groupBy("v", "label").agg(F.count(F.lit(1)).alias("cnt"))
            return counted.groupBy("v").agg(
                (-F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg")))["neg"])
                .cast("long")
                .alias("label")
            )

        return loop.run(labels, step, rounds, n_part=n_part)


def label_propagation_unrolled_sql(edges_sql: str, rounds: int = 4) -> str:
    """DuckDB oracle: identical fixed-round synchronous LP, mode with min
    tie-break via row_number ordering (cnt DESC, label ASC)."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v AS src, u AS dst FROM e)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS label FROM sym)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT s.dst AS v, p.label AS label, count(*) AS cnt "
            f"FROM sym s JOIN l{k-1} p ON p.v = s.src GROUP BY s.dst, p.label)"
        )
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT v, label FROM (SELECT v, label, "
            f"row_number() OVER (PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn "
            f"FROM c{k}) WHERE rn = 1)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, CAST(label AS BIGINT) AS label FROM l{rounds} ORDER BY v"
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a labeling over the canonical edge table —
    the community-quality scalar every LP/louvain pipeline reports:

        Q = Σ_c [ e_c/m − (d_c/2m)² ] = E_in/m − (Σ_c d_c²)/(4m²)

    computed from EXACT integer sums (E_in = intra-community edge count;
    d_c = community degree sums, squared in decimal(38) so a giant
    community cannot overflow int64), with ONE double expression at the
    end — bit-identical across engines/partitionings like graph_stats'
    assortativity. Output: one row ``(m, intra_edges, q)``, q at 6dp.

    Scale: one labels join per endpoint (same shape as every per-round LP
    join) + two map-side-combined aggregates; no per-community pass.
    """
    lu = labels.select(F.col("v").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("v").alias("v"), F.col("label").alias("lv"))
    j = edges.join(lu, "u").join(lv, "v")
    ecounts = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum((F.col("lu") == F.col("lv")).cast("long")).alias("intra"),
    )
    from trianglecounting_spark.operators.normalize import degrees

    dsum = (
        degrees(edges)
        .join(labels, "v")
        .groupBy("label")
        .agg(F.sum("deg").alias("d_c"))
        .agg(
            F.sum(
                F.col("d_c").cast("decimal(38,0)") * F.col("d_c").cast("decimal(38,0)")
            ).alias("sum_d2")
        )
    )
    out = ecounts.crossJoin(dsum)
    m = F.col("m").cast("double")
    return out.select(
        F.col("m").cast("long").alias("m"),
        F.col("intra").cast("long").alias("intra_edges"),
        F.round(
            F.col("intra").cast("double") / m
            - F.col("sum_d2").cast("double") / (F.lit(4.0) * m * m),
            6,
        ).alias("q"),
    )


def modularity_sql(edges_sql: str, labels_sql: str) -> str:
    """DuckDB twin of ``modularity`` (labels from any labeling query with
    columns (v, label) — e.g. ``label_propagation_unrolled_sql``)."""
    # CTE names are mq_-prefixed: labels_sql is typically itself a WITH
    # query (e.g. the unrolled LP oracle) nested as a subquery, and DuckDB
    # rejects duplicate CTE aliases across the two scopes.
    return (
        f"WITH mq_e AS MATERIALIZED ({edges_sql}), "
        f"mq_lab AS MATERIALIZED (SELECT v, label FROM ({labels_sql})), "
        "mq_deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
        "(SELECT u AS x FROM mq_e UNION ALL SELECT v AS x FROM mq_e) GROUP BY x), "
        "mq_ec AS (SELECT count(*) AS m, "
        "sum(CASE WHEN lu.label = lv.label THEN 1 ELSE 0 END) AS intra "
        "FROM mq_e JOIN mq_lab lu ON lu.v = mq_e.u "
        "JOIN mq_lab lv ON lv.v = mq_e.v), "
        "mq_ds AS (SELECT sum(CAST(d_c AS HUGEINT) * CAST(d_c AS HUGEINT)) AS sum_d2 "
        "FROM (SELECT mq_lab.label, sum(mq_deg.deg) AS d_c FROM mq_deg "
        "JOIN mq_lab ON mq_lab.v = mq_deg.v GROUP BY mq_lab.label)) "
        "SELECT CAST(mq_ec.m AS BIGINT) AS m, "
        "CAST(mq_ec.intra AS BIGINT) AS intra_edges, "
        "round(CAST(mq_ec.intra AS DOUBLE) / CAST(mq_ec.m AS DOUBLE) "
        "- CAST(mq_ds.sum_d2 AS DOUBLE) / "
        "(4.0 * CAST(mq_ec.m AS DOUBLE) * CAST(mq_ec.m AS DOUBLE)), 6) AS q "
        "FROM mq_ec, mq_ds"
    )


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance φ(C) — the cut-quality companion to the
    single-scalar :func:`modularity` (Kannan/Vempala/Vetta's cluster-quality
    measure; the score spectral/sweep-cut methods optimize):

        φ(C) = cut(C) / min(vol(C), 2m − vol(C))

    with cut(C) = #edges leaving C, vol(C) = Σ_{v∈C} deg(v) — ALL exact
    integers; the single float division happens once per community row, so
    the 6dp output is partitioning-invariant. A community with
    min(vol, 2m−vol) = 0 (the whole graph, or degree-0 noise) reports
    φ = 0.0 — both engines spell that as coalesce(cut/nullif(den,0), 0).

    Scale: one labels join per endpoint (the LP-round shuffle shape), the
    cut count via an unioned per-community aggregate (each boundary edge
    contributes to BOTH its communities), a degree⋈label sum — every
    aggregate map-side combined, keyed by community (bounded by #labels;
    a mega-community is one row, never a row pileup).

    Output: ``(label, n_vertices, vol, cut, phi)`` one row per community.
    No counterpart in /root/reference; public community-detection metric.
    """
    lu = labels.select(F.col("v").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("v").alias("v"), F.col("label").alias("lv"))
    j = edges.join(lu, "u").join(lv, "v")
    boundary = j.where(F.col("lu") != F.col("lv"))
    cut = (
        boundary.select(F.col("lu").alias("label"))
        .unionAll(boundary.select(F.col("lv").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("cut"))
    )
    from trianglecounting_spark.operators.normalize import degrees

    vol = (
        degrees(edges)
        .join(labels, "v")
        .groupBy("label")
        .agg(
            F.sum("deg").cast("long").alias("vol"),
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
        )
    )
    two_m = edges.agg((F.count(F.lit(1)) * 2).cast("long").alias("__2m"))
    den = F.least(F.col("vol"), F.col("__2m") - F.col("vol"))
    return (
        vol.join(cut, "label", "left")
        .crossJoin(F.broadcast(two_m))
        .select(
            "label",
            "n_vertices",
            "vol",
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.round(
                F.coalesce(
                    F.coalesce(F.col("cut"), F.lit(0)).cast("double")
                    / F.nullif(den.cast("double"), F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("phi"),
        )
    )


def conductance_sql(edges_sql: str, labels_sql: str) -> str:
    """DuckDB twin of :func:`conductance` (labels from any (v, label)
    query, e.g. ``label_propagation_unrolled_sql``)."""
    return (
        f"WITH cq_e AS MATERIALIZED ({edges_sql}), "
        f"cq_lab AS MATERIALIZED (SELECT v, label FROM ({labels_sql})), "
        "cq_deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
        "(SELECT u AS x FROM cq_e UNION ALL SELECT v AS x FROM cq_e) GROUP BY x), "
        "cq_j AS MATERIALIZED (SELECT lu.label AS lu, lv.label AS lv "
        "FROM cq_e JOIN cq_lab lu ON lu.v = cq_e.u "
        "JOIN cq_lab lv ON lv.v = cq_e.v), "
        "cq_cut AS (SELECT label, CAST(count(*) AS BIGINT) AS cut FROM "
        "(SELECT lu AS label FROM cq_j WHERE lu <> lv "
        "UNION ALL SELECT lv FROM cq_j WHERE lu <> lv) GROUP BY label), "
        "cq_vol AS (SELECT cq_lab.label, "
        "CAST(sum(cq_deg.deg) AS BIGINT) AS vol, "
        "CAST(count(*) AS BIGINT) AS n_vertices "
        "FROM cq_deg JOIN cq_lab ON cq_lab.v = cq_deg.v GROUP BY cq_lab.label), "
        "cq_m AS (SELECT CAST(count(*) * 2 AS BIGINT) AS m2 FROM cq_e) "
        "SELECT v.label, v.n_vertices, v.vol, "
        "CAST(coalesce(c.cut, 0) AS BIGINT) AS cut, "
        "round(coalesce(CAST(coalesce(c.cut, 0) AS DOUBLE) / "
        "nullif(CAST(least(v.vol, m.m2 - v.vol) AS DOUBLE), 0.0), 0.0), 6) AS phi "
        "FROM cq_vol v LEFT JOIN cq_cut c ON c.label = v.label, cq_m m "
        "ORDER BY v.label"
    )
