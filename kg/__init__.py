"""kg — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the relation-extraction capabilities of the reference
(``chen1310054465/RE``; reference checkout was empty at survey time —
see SURVEY.md §0, every semantic claim is cited to BASELINE.json and
published papers instead) as a partition-parallel triple factory over
tables of multi-turn agent transcripts.

Layout
------
- :mod:`kg.spec`      — the pinned spec: tokenizer rules, relation &
  entity inventories, templates, thresholds, model hyperparameters.
- :mod:`kg.schemas`   — declared StructType literals for the Spark
  tables (T0..T9 in SURVEY.md §1.2); never inferred. The T10
  checkpoint manifest is JSON (kg.stages.checkpoint).
- :mod:`kg.session`   — SparkSession factory (AQE on, Arrow on).
- :mod:`kg.io`        — lakehouse seam: Parquet + atomic manifest
  locally, Iceberg ``writeTo`` branch when a runtime jar is present.
- :mod:`kg.datagen`   — deterministic synthetic transcripts with
  by-construction gold triples (seeded, no wall-clock).
- :mod:`kg.model`     — numpy PCNN (piecewise-CNN) forward/backward.
- :mod:`kg.stages.*`  — the pipeline operators (SURVEY.md §2 A–E).
- :mod:`kg.pipeline`  — stage composition, pure DataFrame → DataFrame.
"""

__version__ = "0.1.0"
