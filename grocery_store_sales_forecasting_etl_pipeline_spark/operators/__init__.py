"""Relational operator library — the engine's reusable API surface.

Each module exposes composable DataFrame → DataFrame operators that the
registered queries (``plans/``) and the pipeline modules build on:

- ``dedup``      : exact-text grouping, n-gram Jaccard, MinHash-LSH and
                   SimHash near-duplicate detection.
- ``graph``      : connected components / dedup clusters, PageRank,
                   triangles, k-core, BFS over edge frames.
- ``joins``      : semi/anti joins, range join, salted join, as-of join.
- ``aggregates`` : exact money sums, conditional counts, grouped/rollup/
                   cube aggregation helpers.
- ``windows``    : deterministic per-group top-k.
- ``timeseries`` : per-entity calendar and gap fill.
- ``similarity`` : embedding cosine top-k (brute force, block GEMM,
                   LSH-bucketed) and the IVF coarse quantizer.
- ``sizing``     : input-size probes behind the scale-gated plan choices.
- ``quality``    : data-quality expectation checks (reference §2.13).
"""
