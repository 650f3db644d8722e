"""Relational + pipeline operators.

- ``joins``       row-aligned (positional) merge, mapping-key join, FK remap
- ``dedup``       exact & near-duplicate detection (hash, MinHash-LSH,
                  SimHash, PPJoin n-gram Jaccard, span dedup,
                  star connected components, holdout decontamination)
- ``similarity``  vector similarity search (brute-force + LSH/IVF ANN)
- ``clustering``  distributed k-means over embedding columns
- ``text``        language ID, quality scoring, token counts, fingerprints
- ``stats``       column profiling (≙ reference Stats subsystem)
- ``sketches``    mergeable summaries: exact MG heavy hitters, HLL rollups
- ``sampling``    deterministic splits, weighted samples, corpus shuffle shards
- ``windows``     distributed substitutes for global windows
- ``graph``       PageRank, triangles, k-core over edge DataFrames
- ``incremental`` incremental MinHash-LSH index
- ``maintenance`` FK cascade delete, FK-consistent pseudonymization
- ``multimodal``  binary-column plumbing (pluggable decode / features / transform)
"""
