"""datacapsule_spark — a PySpark-native knowledge-graph construction engine.

From-scratch reimplementation of the capabilities of loukie7/Datacapsule
(reference at /root/reference, read-only) as idiomatic, distributed Spark
dataflow: schema-guided triple extraction over a source-code corpus,
entity linking (normal form + exact 3-gram Jaccard join), connected-components
canonicalization, graph + relational materialization, vector search, and
rank-constrained graph traversal.

See SURVEY.md for the full mapping from reference operators to modules.
"""

__version__ = "0.1.0"
