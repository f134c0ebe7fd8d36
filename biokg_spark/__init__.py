"""biokg_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch DataFrame/Catalyst re-expression of the capabilities of the
reference pipeline ``dsi-bdi/biokg`` (a single-threaded Python batch
compiler): parse → map/link → aggregate/dedup → emit, over partitioned
tables of multi-turn transcripts, plus the data-pipeline operators a
large-scale training-data system needs (dedup, similarity search, text
analysis).

Design rules (see SURVEY.md):
- DataFrame/SQL only; Catalyst does pushdown/pruning/broadcast/AQE.
- Python touches data only through Arrow-batched ``mapInPandas``
  kernels — never row-at-a-time UDFs.
- Every stage is a checkpointed table write with a manifest, enabling
  exact resume (the Spark analog of the reference's md5 memoization,
  reference: main.py:91-98, biokg/util/io.py:202-254).
"""

__version__ = "0.1.0"
