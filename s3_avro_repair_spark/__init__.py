"""s3_avro_repair_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference pipeline ``pauloeli/S3-Avro-Repair`` (an Avro
validate/repair/rewrite tool, see ``/root/reference/src/services/repair-avro.ts``)
plus the full relational / streaming / LLM-data-pipeline operator
surface described in ``SURVEY.md §2B``.

Design principles (100 TB posture):
- Declare logical plans with the DataFrame/SQL API; let Catalyst pick
  physical strategies (pushdown, pruning, join selection, AQE).
- One Spark job for every batch Avro pass: the driver lists the files
  and packs them into byte-balanced per-core bins, each task reads its
  own files, and no file byte is shuffled — never buffer whole
  datasets on the driver (the reference buffers every file in
  RAM and processes them strictly sequentially,
  ``repair-avro.ts:52-71``; we invert that).
- Python only at Arrow-vectorized boundaries (``pandas_udf``,
  ``mapInPandas``); never row-at-a-time UDFs in hot paths.
- Per-file/per-record failure isolation with report rows, never
  abort-the-run (contrast the reference's single try/catch abort,
  ``repair-avro.ts:72-74``).
"""

__version__ = "0.1.0"
