"""Relational + pipeline operators.

- ``pairs``       : the within-key pair self-join every pair builder uses
- ``intervals``   : interval-overlap self-joins (naive + skew-bucketed)
- ``dedup``       : exact / MinHash-LSH / n-gram Jaccard / SimHash dedup
- ``similarity``  : cosine top-k, SRP-LSH ANN, embedding near-dup
- ``llm``         : model-backed structured extraction (stub backend)
- ``validation``  : event-schema validation (reject + repair modes)
"""
