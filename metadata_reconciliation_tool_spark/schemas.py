"""Canonical StructTypes for every stage table (SURVEY.md §1.2).

The reference keeps row-oriented Python objects + SQLite rows
(Entity / MatchResult / ReconciliationResult / jobs / results / matches —
/root/reference/app/services/reconciliation_engine.py:44-86,
/root/reference/app/database.py:40-95). Here each becomes an explicit Spark
schema so that stage tables are stable contracts for idempotent resume.

Where schemas come from on read: the streaming transcript source reads
under :data:`TRANSCRIPTS`; the pipeline's own stage read-backs
(``sources/writers.read_stage``) infer theirs from the parquet footers;
incremental state reads (``plans/incremental.py``) infer each state table's
schema once per ``IncrementalRecon`` from its bootstrap stage and pass it
to every later read of that table, so batch-dir reads never infer.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Driver input_hint shape: Iceberg table of multi-turn agent transcripts.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Entity mention extracted from a turn (reference Entity dataclass,
# reconciliation_engine.py:56-74; normalized_name/search_key become columns).
ENTITIES = T.StructType(
    [
        T.StructField("entity_key", T.StringType(), False),  # md5 F5 key
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("norm_name", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("context", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Broadcast reference dictionary — internal replacement for live
# Wikidata/VIAF/Getty candidate sources (FIXTURES.md §2).
DICTIONARY = T.StructType(
    [
        T.StructField("auth_id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("norm_label", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("aliases", T.ArrayType(T.StringType()), True),
        T.StructField("n_sources", T.IntegerType(), True),
        T.StructField("external_ids", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Multi-source dictionary: Wikidata ∪ VIAF ∪ Getty rows per entity
# (reconciliation_engine.py:388-399; data_sources.py:312-509). `source`
# drives the F9/F10 boosts in scoring; `term_type` is Getty's
# preferred/alternate flag.
DICTIONARY_MULTISOURCE = T.StructType(
    list(DICTIONARY.fields)
    + [
        T.StructField("source", T.StringType(), False),
        T.StructField("term_type", T.StringType(), True),
    ]
)

# Candidate pair out of blocking (entity ↔ dictionary or entity ↔ entity).
PAIRS = T.StructType(
    [
        T.StructField("left_key", T.StringType(), False),
        T.StructField("right_key", T.StringType(), False),
        T.StructField("block_pass", T.StringType(), False),  # prefix | lsh | metaphone
        T.StructField("block_key", T.StringType(), False),
    ]
)

# Scored pair (reference matches table, database.py:80-95).
SCORES = T.StructType(
    [
        T.StructField("left_key", T.StringType(), False),
        T.StructField("right_key", T.StringType(), False),
        T.StructField("block_pass", T.StringType(), False),
        T.StructField("jaro_winkler", T.DoubleType(), False),
        T.StructField("token_lev_ratio", T.DoubleType(), False),
        T.StructField("jaccard", T.DoubleType(), False),
        T.StructField("wikidata_confidence", T.DoubleType(), False),  # F7 formula
        T.StructField("score", T.DoubleType(), False),  # field-weighted composite
        T.StructField("confidence", T.StringType(), False),  # 5-level band
    ]
)

CLUSTERS = T.StructType(
    [
        T.StructField("entity_key", T.StringType(), False),
        T.StructField("cluster_id", T.StringType(), False),  # min entity_key of component
    ]
)

# Per-stage lineage/metrics rows (replaces the reference's mutable jobs.progress
# counters, database.py:200-223 — immutable log instead of in-place UPDATE).
METRICS = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

LABELED_PAIRS = T.StructType(
    [
        T.StructField("left_key", T.StringType(), False),
        T.StructField("right_key", T.StringType(), False),
        T.StructField("block_key", T.StringType(), False),
        T.StructField("is_match", T.BooleanType(), False),
        T.StructField("variant_rule", T.StringType(), False),
    ]
)
