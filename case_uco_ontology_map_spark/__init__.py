"""PySpark-native CASE/UCO knowledge-graph construction engine.

A from-scratch re-expression of the query/data-processing capabilities of
kismatkunwar89/CASE-UCO-ontology-map (reference at /root/reference/) on
idiomatic PySpark: DataFrame/SQL plans, broadcast ontology dictionaries,
Arrow-vectorized pandas UDFs, and explicit partitioning/skew handling so the
same plans hold at 100 TB on a multi-executor cluster.

Layout:
  refmap/      pure-Python reference semantics (fingerprint, uuid5 minting,
               property matching, facet naming, triple emission) — imported by
               BOTH the Spark UDFs and the pytest oracles so parity with the
               reference's deterministic path holds by construction.
  functions/   Spark Column expressions + pandas UDFs.
  operators/   record fan-out, planning, dedup, similarity, text analysis.
  sources/     synthetic corpus generator, payload and WARC readers.
  plans/       end-to-end pipeline (documents → triples/entities/lineage).
  streaming/   checkpoint/resume semantics, time-window aggregations.
"""

__version__ = "0.1.0"
