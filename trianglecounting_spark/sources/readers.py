"""Edge-list source readers — Spark re-expressions of the reference's scans.

S1/S2/S5 binary pair scan   → binaryFile source + Arrow decode
S3 METIS text scan          → spark.read.text + posexplode
S4 TSV (i j v) scan         → spark.read.csv

All return a raw directed edge DataFrame (src: long, dst: long) to feed
`normalize_edges`. Split-parallel IO, predicate pushdown, and column pruning
come free from the DataFrame sources (the reference hand-rolls Direct IO with
16 threads, `triangle-counting/triangle_counting_main.cpp:47-71`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F


def read_edges_binary_pairs(spark: SparkSession, path: str, dtype: str = "<u4") -> DataFrame:
    """Raw little-endian (u32,u32) pair files — the reference's `.bin` format
    (`triangle_counting_main.cpp:42-43`: edge count inferred from file size).

    spark.read.format("binaryFile") gives (path, content) rows; an Arrow
    mapInPandas decodes each file's bytes with one numpy frombuffer — no
    per-row Python. One file = one task; shard big graphs into many files
    (the writer below does) for parallel scan.
    """
    files = spark.read.format("binaryFile").load(path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                arr = np.frombuffer(content, dtype=np.dtype(dtype))
                pairs = arr.reshape(-1, 2)
                yield pd.DataFrame(
                    {"src": pairs[:, 0].astype(np.int64), "dst": pairs[:, 1].astype(np.int64)}
                )

    return files.select("content").mapInPandas(decode, schema="src long, dst long")


def write_edges_binary_pairs(edges: DataFrame, path: str, dtype: str = "<u4") -> int:
    """Edge-list sink in the reference's raw pair format (S6,
    `playground/output_remove_duplicate.cpp:123-147`) — one .bin shard per
    partition, written executor-side through an Arrow kernel (one
    ``np.column_stack`` + ``tobytes`` per batch; no per-row Python).

    Returns the number of edges written. The target must be a filesystem every
    executor can reach (shared/NFS/fuse mount — the natural target for this
    format, which exists to hand shards to the reference's single-node
    tooling; big-data interchange stays on the parquet/Iceberg path).
    """
    import os

    os.makedirs(path, exist_ok=True)
    dt = dtype

    def dump(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        lo, hi = 0, int(np.iinfo(np.dtype(dt)).max)
        rows, fh = 0, None
        try:
            for b in batches:
                if b.num_rows == 0:
                    continue
                u = b.column(0).to_numpy(zero_copy_only=False)
                v = b.column(1).to_numpy(zero_copy_only=False)
                # ids out of the target dtype's range would silently WRAP in
                # the astype, corrupting the interchange file handed to the
                # reference tooling — fail instead
                for arr in (u, v):
                    if arr.size and (arr.min() < lo or arr.max() > hi):
                        raise ValueError(
                            f"vertex id outside {dt} range [{lo}, {hi}]: "
                            "this graph cannot round-trip the raw pair format"
                        )
                pairs = np.column_stack((u, v)).astype(np.dtype(dt))
                if fh is None:
                    fh = open(os.path.join(path, f"part-{pid:05d}.bin"), "wb")
                fh.write(pairs.tobytes())
                rows += b.num_rows
        finally:
            if fh is not None:
                fh.close()
        yield pa.RecordBatch.from_pydict({"rows": pa.array([rows], pa.int64())})

    partials = edges.select("u", "v").mapInArrow(dump, "rows long")
    return int(partials.agg(F.sum("rows")).collect()[0][0] or 0)


def read_edges_yche_bin(spark: SparkSession, path: str) -> DataFrame:
    """S5: the reference's count-prefixed normalized output format
    (`yche/yche_serialization.h:53-58,62-81`, reader `yche_helpers.cpp:35-45`):
    one little-endian uint64 pair count, then count × (int32, int32) pairs.
    The header is validated against the payload length — a truncated or
    raw-pair (headerless) file fails loudly instead of silently shifting every
    edge by 8 bytes."""
    files = spark.read.format("binaryFile").load(path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                n = int(np.frombuffer(content[:8], dtype="<u8")[0])
                payload = np.frombuffer(content[8:], dtype="<i4")
                if len(payload) != 2 * n:
                    raise ValueError(
                        f"{fpath}: header says {n} pairs but payload holds "
                        f"{len(payload) // 2} — not a yche undir_edge_list.bin?"
                    )
                pairs = payload.reshape(-1, 2)
                yield pd.DataFrame(
                    {"src": pairs[:, 0].astype(np.int64), "dst": pairs[:, 1].astype(np.int64)}
                )

    return files.select("path", "content").mapInPandas(decode, schema="src long, dst long")


def write_edges_yche_bin(edges: DataFrame, file_path: str, max_edges: int = 50_000_000) -> int:
    """Single-file yche export (`yche_serialization.h:62-81` writes ONE
    count-prefixed file). A single file is inherently one writer, so this
    collects through Arrow on the driver — appropriate for handing a (already
    reduced) graph to the reference's single-node tools, guarded by
    ``max_edges``; full-scale data interchange stays sharded/parquet."""
    pdf = edges.select(
        F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v")
    ).toPandas()
    n = len(pdf)
    if n > max_edges:
        raise ValueError(f"{n} edges > max_edges={max_edges}: not a single-file export")
    u64 = pdf["u"].to_numpy(np.int64)
    v64 = pdf["v"].to_numpy(np.int64)
    # the format stores int32 ids; a silent wrap would corrupt the file the
    # reference tooling reads — validate before narrowing
    hi = np.iinfo(np.int32).max
    for arr in (u64, v64):
        if arr.size and (arr.min() < 0 or arr.max() > hi):
            raise ValueError(
                f"vertex id outside int32 range [0, {hi}]: this graph cannot "
                "round-trip the yche count-prefixed format"
            )
    pairs = np.column_stack((u64.astype(np.int32), v64.astype(np.int32)))
    with open(file_path, "wb") as f:
        f.write(np.uint64(n).tobytes())
        f.write(pairs.astype("<i4").tobytes())
    return n


def read_edges_metis(spark: SparkSession, path: str) -> DataFrame:
    """METIS adjacency format (S3, `GKlib/graph.c:87-258`): line 1 = "nvtxs
    nedges [fmt]", line i+1 = space-separated 1-based neighbor ids of vertex i.
    Comment lines start with '%'. Returns 0-based directed edges (both
    directions present, as the format stores them)."""
    # Read whole (METIS line number = vertex id, so numbering must survive
    # distribution); drop comment/blank lines BEFORE numbering, exactly like
    # the reference's reader skips them pre-parse (GKlib/graph.c:118-124).
    whole = spark.read.text(path, wholetext=True)
    content = F.filter(
        F.split(F.col("value"), "\n"),
        lambda l: (~l.startswith("%")) & (F.trim(l) != ""),
    )
    split_lines = whole.select(
        F.posexplode(content).alias("lineno", "line")
    )
    body = split_lines.where(F.col("lineno") > 0)
    nbrs = body.select(
        F.col("lineno").cast("long").alias("src"),  # 1-based vertex id
        F.explode(F.split(F.trim(F.col("line")), r"\s+")).alias("dst_s"),
    ).where(F.col("dst_s") != "")
    return nbrs.select(
        (F.col("src") - 1).alias("src"), (F.col("dst_s").cast("long") - 1).alias("dst")
    )


def read_edges_tsv(spark: SparkSession, path: str, sep: str = "\t") -> DataFrame:
    """(i, j, v) triple format (S4, `GKlib/graph.c:267-340`); weight dropped
    exactly as the reference frees it (`2017-karypis-hepc-tc/io.c:28-29`)."""
    df = spark.read.csv(path, sep=sep, comment="%", schema="src LONG, dst LONG, w DOUBLE")
    return df.select("src", "dst")
