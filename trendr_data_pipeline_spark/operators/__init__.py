"""Composed dataflow operators.

POI pipeline:

- ``grid``        : hex/square grid work queue (H1-H4)
- ``ingestion``   : place-ingestion filters, projections and novelty
- ``candidates``  : candidate query generation and preparation
- ``mentions``    : reference mention pipeline (W1 dedup, F6 decision)
- ``classifier``  : reference A1-A8 score aggregates and percentiles
- ``collections`` : collection tag engine
- ``spatial``     : haversine/bbox joins, point-in-polygon refine
- ``temporal``    : interval joins
- ``skew``        : bucketed co-located joins (c54's layout)

Corpus/LLM-data operators (no POI caller):

- ``dedup``       : exact, prefix-filtered Jaccard, MinHash-LSH, SimHash
- ``graph``       : connected components over near-dup pairs
- ``similarity``  : exact cosine top-k and embedding near-dup pairs
  (sign-bit LSH candidates, exact verify)
- ``quality``, ``quality_model`` : document quality metrics and model
- ``sampling``, ``packing``, ``vectorize`` : mixture sampling,
  sequence packing, feature hashing
"""
