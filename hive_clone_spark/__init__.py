"""hive_clone_spark — a PySpark-native analytics engine.

Re-expresses the computational semantics of the reference
(SunnyScorpio/hive-clone, surveyed in SURVEY.md) as an idiomatic
Spark DataFrame/SQL engine, plus the driver-mandated relational,
streaming, and LLM-data-pipeline operator surface.

Layout:
  session.py    SparkSession factory (AQE, Arrow, UTC, tuned shuffle,
                checkpoint manager) and `local_rows` driver-row frames
  catalog.py    table loading/registration for the TESTDATA parquet dirs
  registry.py   query + oracle registration (drives __spark_entry__.py)
  operators/    generic relational operator surface (SURVEY.md §2b)
  hive_game/    game-domain layer: board model, move generation (§2a)
  pipeline/     dedup / similarity / text / multimodal ops
  streaming/    structured-streaming ops (windows, watermark, state)
"""

__version__ = "0.1.0"
