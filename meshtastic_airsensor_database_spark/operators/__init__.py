"""Operator library — pure DataFrame -> DataFrame transforms.

Each module covers one SURVEY.md §2 family:

- ``parse``    — §2.2/§2.8: envelope parse, type routing, field extraction
- ``enrich``   — §2.3: node-dimension broadcast join, latest-wins upsert
- ``clean``    — §2.2/§2.6/§2.7/§2.8: cleandata.py batch-ETL parity
- ``align``    — §2.3/§2.5: time-series alignment, gaps, latest, rolling
- ``dedup``    — §2.11: exact / MinHash-LSH / SimHash / Jaccard / embedding
- ``similarity`` — §2.11: brute-force + LSH/IVF top-k vector search
- ``textops``  — §2.11: vocabulary encoding, shingle novelty/overlap cores
- ``multimodal`` — §2.11: binary columns + decode/feature plumbing

Persisted-index lifecycles (build once / extend append-only / probe by
broadcasting the small side against one index scan; compaction via
sources/maintenance.py):

- ``vindex``      — IVF vector index (cluster partitioning IS the
  inverted list; probes are partition-pruned scans)
- ``dedup_index`` — MinHash-LSH band index for incremental corpus dedup
- ``decon_index`` — sign-LSH band index for incremental semantic
  decontamination (float64 or int8 vector storage)
"""
