"""tts_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
surface of the reference TTS-corpus pipeline (``quochuy242/tts-data-pipeline``,
read-only at ``/root/reference``), extended with large-scale training-data
operators (dedup, similarity search, multimodal columns, text analysis).

Design stance (SURVEY.md §7):

- Pure DataFrame/SQL builders — declare the logical plan, let Catalyst +
  Tungsten pick the physical strategy. No RDDs, no custom Catalyst rules.
- Explicit ``StructType`` schemas over Parquet (``schemas.py``): every driver
  table is read with its declared schema, never inferred from the footer.
- Heavy non-relational work (NLP, audio) in Arrow-batched ``pandas_udf`` /
  ``applyInPandas`` / ``mapInPandas`` only where built-ins can't express the
  semantics.
- 100 TB posture: no driver-side collects in operator paths, broadcast for
  dimension joins, LSH instead of O(n^2) similarity, bounded per-group state,
  AQE for skew.
"""

__version__ = "0.1.0"

from tts_data_pipeline_spark.session import get_spark  # noqa: F401
