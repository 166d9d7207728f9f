"""Column-expression library (SURVEY §2.7).

Modules mirror the survey's function groups:

- ``text``    : ST1–ST12 string/URL/normalization functions
- ``dates``   : DT1–DT9 date parsing/decay/TTL functions
- ``math_geo``: M1–M9 clamps, blends, haversine, geo signals

Everything returns ``pyspark.sql.Column`` built from JVM-side
builtins unless exact reference parity demands Python (accent
normalization, difflib ratio, trigram sets) — those are vectorized
pandas UDFs, clearly marked.
"""
