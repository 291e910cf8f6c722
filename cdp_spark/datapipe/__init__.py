"""LLM-data-pipeline extensions (beyond the reference's surface).

Operators a large-scale training-data pipeline needs, built
shuffle-aware for the 100 TB regime: text analysis, exact and
near-duplicate detection, embedding similarity search, and multimodal
column plumbing.  String work and hashing stay JVM-side Column
expressions (split/filter/transform higher-order functions, md5,
xxhash64).  The wide per-row folds (MinHash, SimHash, winnowing,
centroid argmin/argmax, the embedding matmuls, the EWMA/Holt
recurrences) run as vectorized numpy code in ``mapInPandas`` plan
nodes.  The tests pin the hash and argmin/argmax kernels
(``_kernels``) bit-for-bit against Column-fold oracles.
"""

from . import (
    dedup,
    graph,
    multimodal,
    quality_rules,
    sampling,
    similarity,
    sketches,
    text,
)

__all__ = [
    "dedup",
    "graph",
    "multimodal",
    "quality_rules",
    "sampling",
    "similarity",
    "sketches",
    "text",
]
