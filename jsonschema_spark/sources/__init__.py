from jsonschema_spark.sources.clips import clips_schema, synth_clips
from jsonschema_spark.sources.tables import load_table, TPCH_TABLES

__all__ = ["clips_schema", "synth_clips", "load_table", "TPCH_TABLES"]
