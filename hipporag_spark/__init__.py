"""hipporag_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the query/data-processing capabilities of HippoRAG's
graph-memory core (reference: Johnless31/HippoRAG, read-only at
/root/reference) as idiomatic Spark: DataFrame/SQL plans optimized by
Catalyst, vectorized Arrow/pandas UDFs for the numeric kernels, and an
edge-table data model ``(src, dst, weight, relation)`` instead of a
pointer graph.  No code is copied from the reference; file:line citations
in docstrings identify the *behavior* being reproduced.

Layout
------
- :mod:`hipporag_spark.session`     Spark session factory (local or cluster)
- :mod:`hipporag_spark.corpus`      source-code corpus synthesis / derivation
- :mod:`hipporag_spark.extract`     chunking + deterministic entity/fact extraction
- :mod:`hipporag_spark.llmjson`     LLM-output JSON extraction + truncation repair
- :mod:`hipporag_spark.graph`       edge-table construction (HippoRAG §1.4 semantics)
- :mod:`hipporag_spark.ppr`         distributed Personalized PageRank
- :mod:`hipporag_spark.components`  connected components (min-label propagation)
- :mod:`hipporag_spark.lpa`         deterministic label propagation clustering
- :mod:`hipporag_spark.triangles`   triangle counting
- :mod:`hipporag_spark.knn`         exact blocked top-k cosine (synonym edges, ANN)
- :mod:`hipporag_spark.embed`       deterministic hashed-n-gram featurizer
- :mod:`hipporag_spark.retrieve`    HippoRAG retrieval flow (reset vector → PPR → top-k)
- :mod:`hipporag_spark.dedup`       exact / MinHash-LSH / SimHash / Jaccard / cosine dedup
- :mod:`hipporag_spark.similarity`  exact + IVF + SRP-LSH similarity search
- :mod:`hipporag_spark.textstats`   language-ID, quality scoring, token counts, fingerprints
- :mod:`hipporag_spark.multimodal`  binary media columns: decode/resize/frame-sample plumbing
- :mod:`hipporag_spark.events`      event-time windows + multi-interval stateful sessionization
- :mod:`hipporag_spark.api`         REST service (/index, /retrieve) over the multi-tenant engine
- :mod:`hipporag_spark.checkpoint`  superstep checkpoint store (parquet + manifest)
- :mod:`hipporag_spark._worker_cache`  per-worker block cache + chunked superstep kernel
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: E402
from .corpus import corpus_from_documents, synthesize_corpus  # noqa: E402
from .extract import extract_all  # noqa: E402
from .llmjson import (  # noqa: E402
    extract_entities_json,
    extract_triples_json,
    fix_broken_generated_json,
    tables_from_llm_responses,
)
from .graph import build_graph, symmetrize  # noqa: E402
from .ppr import (  # noqa: E402
    pagerank,
    personalized_pagerank,
    personalized_pagerank_batch,
    ppr_from_blocks,
    prepare_csr_blocks,
)
from .components import connected_components  # noqa: E402
from .kcore import bfs_distances, core_decomposition  # noqa: E402
from .lpa import label_propagation  # noqa: E402
from .triangles import triangle_count, triangle_list  # noqa: E402
from .retrieve import GraphRetriever, RetrievalConfig  # noqa: E402
from .engine import HippoIndex  # noqa: E402
from .checkpoint import CheckpointStore  # noqa: E402
from .streaming import corpus_stream, stream_index  # noqa: E402
from .events import sessionize, sessionize_stream, windowed_stats  # noqa: E402

__all__ = [
    "get_spark",
    "corpus_from_documents", "synthesize_corpus", "extract_all",
    "extract_entities_json", "extract_triples_json",
    "fix_broken_generated_json", "tables_from_llm_responses",
    "build_graph", "symmetrize",
    "pagerank", "personalized_pagerank", "personalized_pagerank_batch",
    "ppr_from_blocks", "prepare_csr_blocks",
    "connected_components", "core_decomposition", "bfs_distances",
    "label_propagation",
    "triangle_count", "triangle_list",
    "GraphRetriever", "RetrievalConfig", "HippoIndex", "CheckpointStore",
    "corpus_stream", "stream_index",
    "sessionize", "sessionize_stream", "windowed_stats",
]
