"""metadata_reconciliation_tool_spark — a PySpark-native entity-reconciliation
engine rebuilt from scratch with the query/data-processing capabilities of
simonsiminsimon/metadata-reconciliation-tool (reference, read-only at
/root/reference/).

Architecture (Spark-first, NOT a port):

- ``session``    SparkSession builder (Arrow, AQE, skew-join, shuffle sizing)
- ``schemas``    canonical StructTypes (transcripts, entities, dictionary,
                 pairs, scores, clusters, metrics)
- ``fixtures``   deterministic synthetic transcripts / reference dictionary /
                 labeled pairs / expected clusters (seeded, no wall clock)
- ``functions``  scalar layer: normalization, similarity kernels
                 (Jaro-Winkler, token-aligned names, metaphone, MinHash)
                 behind one Arrow scoring UDF and the blocking-key UDFs,
                 confidence formulas as pure Column expressions
- ``operators``  dataflow layer: extraction, multi-pass blocking,
                 pair scoring, ranking/top-k, iterative connected-components
                 clustering
- ``sources``    readers (parquet / flexible CSV / Iceberg-if-available) and
                 writers (stage checkpoints, CSV/JSON exports)
- ``plans``      pipeline orchestration with idempotent checkpoint/resume and
                 per-stage lineage + metrics tables
- ``streaming``  Structured Streaming micro-batch ingest into the
                 incremental reconciler

The reference is a single-process Flask/Celery/SQLite app that loops over
pandas rows and calls external authority HTTP APIs per entity
(see /root/repo/SURVEY.md). This engine re-expresses the same semantics as a
set-oriented Spark batch pipeline: external authorities become broadcast
reference dictionaries, the per-entity loop becomes multi-pass blocking
joins, the implicit "same authority record" equivalence becomes explicit
transitive clustering, and every scalar formula is either a Catalyst Column
expression or an Arrow-batched pandas UDF — never per-row Python.
"""

__version__ = "0.1.0"
