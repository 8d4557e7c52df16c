"""Phase-level timing of the kernel triangle pipeline (perf debugging)."""

import sys, time, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F
from trianglecounting_spark.session import get_spark
from trianglecounting_spark.sources import generators as g
from trianglecounting_spark.operators.normalize import normalize_edges, orient_dodg, adjacency
from trianglecounting_spark.operators import triangles as T

cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
scale = int(sys.argv[2]) if len(sys.argv) > 2 else 17

spark = get_spark(app_name=f"dbg-{cores}", cores=cores, shuffle_partitions=128)
spark.sparkContext.setLogLevel("ERROR")

t0 = time.time()
edges = normalize_edges(g.rmat_graph(spark, scale, 16)).localCheckpoint(True)
n = edges.count()
print(f"gen+normalize: {time.time()-t0:.1f}s  edges={n}", flush=True)

t0 = time.time()
d = orient_dodg(edges).localCheckpoint(True)
print(f"dodg: {time.time()-t0:.1f}s  rows={d.count()}", flush=True)

t0 = time.time()
adj = adjacency(d, 128).localCheckpoint(True)
print(f"adjacency: {time.time()-t0:.1f}s  rows={adj.count()}", flush=True)

t0 = time.time()
laid_out, hub_bc = T._kernel_layout(d, 128)
joined = laid_out.localCheckpoint(True)
rows = joined.count()
# the full-CSR layout ships no list column: every dst resolves via the broadcast
nbr_vol = (joined.select(F.sum(F.size(F.coalesce(F.col("nbrs"), F.array())))).collect()[0][0]
           if "nbrs" in joined.columns else 0)
ids, offs, vals = hub_bc.value if hub_bc is not None else (None, None, [])
print(f"hub+join+layout: {time.time()-t0:.1f}s rows={rows} shipped_nbr_elems={nbr_vol} "
      f"hub_elems={len(vals)}", flush=True)

t0 = time.time()
partials = joined.mapInArrow(T._kernel(T._emit_count, hub_bc), schema="tri_cnt long, probes long")
tri = partials.agg(F.sum("tri_cnt")).collect()[0][0]
print(f"kernel only: {time.time()-t0:.1f}s  tri={tri}", flush=True)

t0 = time.time()
tri2 = T.triangle_count_kernel(edges).collect()[0].triangles
print(f"full kernel pipeline: {time.time()-t0:.1f}s tri={tri2}", flush=True)
spark.stop()
