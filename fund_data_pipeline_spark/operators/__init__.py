"""Large-scale training-data operators beyond the reference's own surface.

- ``multimodal``  opaque-binary media columns: decode / feature-extract /
  resize / frame-sample plumbing over ``mapInPandas`` (decoders stubbed —
  the image/audio libraries are not in this container; the Spark-side
  schema, batching, and partitioning are real and tested)
- ``sampling``    deterministic hash-based sampling, train/val/test
  splits, and per-stratum mixture rates (reproducible across engines and
  runs, no RNG state)
- ``chunking``    token-window document chunking with overlap — the
  context-window prep stage; pure scan + explode
- ``asof``        reusable LEFT as-of join (merge_asof parity: backward/
  forward, tolerance) via the one-shuffle union + window-LOCF pattern
- ``graph``       connected components for dedup cluster assignment: one
  driver union-find when the edge set fits a bound, else min-label
  propagation with a large-star/small-star contraction fallback
- ``redaction``   PII scrubbing as a map-side ``regexp_replace`` chain —
  the redacting transform behind the ``pii_scrub_stats`` audit query
- ``timeseries``  daily date-spine gap fill with LOCF carry; spine
  boundable to the trailing N days with carry-in across the cap
- ``similarity``  Arrow-batched exact top-k cosine and the skew-bounded
  blocked self-join behind every LSH band / IVF cell pair join
- ``profiling``   sketch-based table profiling (HLL++ distinct, GK
  quantiles) — the 100 TB complement of the exact table_profile query

The dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search, and text analysis live in
:mod:`fund_data_pipeline_spark.queries` as oracle-checked catalog entries.
"""

from . import (
    asof,
    chunking,
    graph,
    multimodal,
    profiling,
    redaction,
    sampling,
    similarity,
    timeseries,
)

__all__ = [
    "asof",
    "chunking",
    "graph",
    "multimodal",
    "profiling",
    "redaction",
    "sampling",
    "similarity",
    "timeseries",
]
