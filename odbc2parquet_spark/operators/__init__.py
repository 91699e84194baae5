"""Large-scale training-data-pipeline operators.

Beyond reference parity (the reference is a transfer tool; SURVEY §2.1),
these are the operations a 100 TB curation pipeline runs on Spark:

- ``dedup``      : exact + near-duplicate detection (hash, MinHash+LSH,
                   SimHash, n-gram Jaccard).
- ``similarity`` : embedding similarity search (brute-force top-k baseline,
                   random-hyperplane LSH scale path).
- ``text``       : language-ID, quality scoring, token counting,
                   fingerprinting.
- ``multimodal`` : opaque-binary column plumbing with Pandas-UDF decode
                   stubs (schema/partitioning/batch shape real, codecs
                   stubbed — the container has no image/audio libs).

All operators are DataFrame -> DataFrame, no driver-side materialization,
and every hash function is deterministic: md5-derived, built by the one
hash module ``functions/hashing.py``, so results are reproducible and
independently checkable by the DuckDB oracle.
"""
