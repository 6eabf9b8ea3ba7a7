"""olive_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the capabilities of the reference GPU graph framework
(ACSAlab/olive, see /root/reference) on Apache Spark DataFrames:

- ``Graph``: the data model — an explicit vertex table plus a directed
  edge table ``(src, dst, weight)`` (reference: csrGraph.h:55-84 CSR /
  edgeTuple.h:39-54 COO; here a hash-partitioned DataFrame).
- ``pregel``: the superstep core mirroring Oliver::edgeMap/edgeFilter +
  vertexMap/vertexFilter (reference: oliver.h:56-183) as
  join -> groupBy(dst).agg -> conditional update DataFrame iterations.
- ``algorithms``: PageRank, BFS, SSSP, connected components,
  label propagation (GAS-style), and triangle counting
  (sorted-adjacency intersection — not GAS).
- ``ingest``: Common-Crawl-style page table -> link extraction
  (native JVM regex; text via vectorized Arrow UDFs) -> resolved edge
  table.
- ``pipeline``: large-scale training-data ops (dedup, similarity,
  text stats) over document/embedding tables.

Everything is DataFrame-first: Catalyst plans the joins/aggregations,
AQE handles skew, and the only Python-side loop is the driver-side
superstep ``while`` (reference: PageRank.cu:122-133).
"""

from olive_spark.graph import Graph
from olive_spark.pregel import PregelProgram, pregel
from olive_spark.session import get_spark

__all__ = ["Graph", "PregelProgram", "pregel", "get_spark"]

__version__ = "0.1.0"
