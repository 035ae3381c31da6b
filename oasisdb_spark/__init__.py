"""oasisdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of lizzy-0323/oasisdb (a single-process Go
vector database), re-expressed Spark-first.

The reference (see SURVEY.md) is a REST-served vector similarity store:
collection CRUD, document CRUD, batch index build, and top-k nearest
neighbor search over four index kinds (flat, ivf_flat, ivfpq, hnsw) and
four distance spaces (l2, ip, cos, hamming). This package reproduces that
surface as DataFrame plans:

- ``catalog.Catalog``  collection CRUD and document upsert/get/delete
                       (reference internal/db/{collection,document}.go)
- ``functions.distance``  the distance kernels (internal/index/distance.go)
- ``index.*``          index strategies: flat / ivf / ivfpq / ivfsq / binq
                       / lsh (internal/index/{flat,ivf,ivfpq,hnsw}.go;
                       ivfsq and binq are extension tiers)
- ``search``           search_vectors / search_documents (internal/server/handlers.go)
- ``embed``            embedding providers (internal/embedding/)
- ``client`` / ``server``  the reference SDK surface (client-sdk/Python)
                       and its 13 HTTP routes (internal/server/server.go)
- ``functions.sketch`` KMV distinct-count sketch (mergeable, oracle-exact)
- ``functions.fusion`` hybrid retrieval (RRF) + generic rrf_fuse
- ``functions.dimred`` distributed PCA (embedding compression)
- ``index.text``       persisted BM25 inverted index (build/search split)
- ``operators.*``      as-of / range joins, connected components, skew
                       tools, table profiler, retrieval evaluation
- ``pipeline.*``       LLM-data-pipeline extensions: dedup (incl. blocked-
                       GEMM near-dup), ANN (GEMM + packed-bits hamming),
                       text analysis, curation, sampling/chunking,
                       sequence packing, multimodal over real
                       PNG/WAV/VID0 codecs (beyond reference surface)
- ``streaming.*``      Structured Streaming extensions over the events table

Everything is Parquet tables + Catalyst plans; pandas UDFs appear only
where SQL arrays are genuinely awkward (PQ/ADC kernels, embedders).
"""

from oasisdb_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
