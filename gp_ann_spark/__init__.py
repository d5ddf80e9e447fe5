"""gp_ann_spark — a PySpark-native partitioned nearest-neighbor link-graph
analytics engine.

Brand-new Spark-first engine with the query/data-processing capabilities of
the reference C++ harness ``larsgottesbueren/gp-ann`` (read-only snapshot at
``/root/reference``; paper arXiv:2403.01797):

- corpus front-end: Iceberg-style ``repos(repo, path, commit, lang, content)``
  table → sha256 dedup → deterministic featurizer → ``points(id, vec)``;
- k-NN edge-table builders (exact blocked oracle + recursive leader-sketch
  approximate builder, reference ``src/knn_graph.h``);
- link-graph analytics over the edge table: PageRank, connected components,
  label propagation, triangle counting — superstep loops with checkpointing;
- partitioners: k-means family (``src/kmeans.cpp``, ``src/partitioning.cpp``)
  and a from-scratch multilevel graph partitioner (LP coarsening + balanced
  refinement) replacing KaMinPar;
- routing (k-means tree / broadcast top-k scoring, ``src/routes.cpp``,
  ``src/hnsw_router.h``) and sharded search (``src/inverted_index.h``);
- evaluation: recall@k vs shards probed, oracle recall, partition balance
  (``src/recall.h``, ``src/route_search_combination.cpp``).

Everything is expressed as pyspark.sql DataFrame programs plus vectorized
pandas/Arrow UDFs (no per-row Python UDFs anywhere).
"""

__version__ = "0.1.0"

# Engine UDFs import this package when they are unpickled on a worker, so
# this reaches every Python worker (see _pyworker and README
# "Python-boundary fixed cost").
from gp_ann_spark import _pyworker

_pyworker.install()
