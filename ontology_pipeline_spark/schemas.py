"""Explicit StructType schemas for every table/stage in the engine.

The reference's de-facto schema system is JSON templates embedded in LLM
prompts with lenient post-hoc parsing (reference src/extractor.py:120-155,
src/prompts.py:77-101); here every stage declares a static, enforced schema.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style web pages (BASELINE.json input_hint).
# `url` plays the role of the reference's `file_name` primary key
# (reference src/extractor.py:82-90); `text` the transcript body.
# ---------------------------------------------------------------------------
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Ontology lexicon — the broadcast vocabulary / alias dictionary
# (reference config/ontology_schema.py:2-28, src/prompts.py:14-45).
# ---------------------------------------------------------------------------
LEXICON = StructType(
    [
        StructField("entity_class", StringType(), False),
        StructField("canonical_name", StringType(), False),
        StructField("alias", StringType(), False),  # one row per surface form
        StructField("parent", StringType(), True),
        StructField("unit", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Mentions — output of the mention-detection stage (replaces reference
# extraction passes M1-M4, src/extractor.py:178-188, :613-636).
# ---------------------------------------------------------------------------
MENTIONS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("sent_id", LongType(), False),
        StructField("pos", LongType(), False),  # char offset of match start
        StructField("surface", StringType(), False),
        StructField("canonical", StringType(), False),
        StructField("entity_class", StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Triples — the knowledge graph edge table (reference edge construction at
# streamlit_app.py:744-760; edge classes src/extractor.py:718-755).
# ---------------------------------------------------------------------------
TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("subj_class", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("obj_class", StringType(), False),
        StructField("url", StringType(), False),  # provenance
    ]
)

# ---------------------------------------------------------------------------
# Lineage — per-partition commit metadata for resume (reference checkpoint
# semantics: load_existing_results / merge_results src/extractor.py:46-104).
# ---------------------------------------------------------------------------
LINEAGE = StructType(
    [
        StructField("url", StringType(), False),
        StructField("run_id", StringType(), False),
        StructField("n_mentions", LongType(), True),
        StructField("n_triples", LongType(), True),
        StructField("status", StringType(), True),  # ok | error
        StructField("error", StringType(), True),
        StructField("committed_ts", TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Per-page nested extraction document — reference-shape compatibility
# (assembled shape at reference src/extractor.py:894-912; field schemas from
# src/prompts.py:86-93, :523-541, :565-572, :589-596). Used by the
# document-normalization operators (docs.py) and the lenient-JSON-parse path.
# ---------------------------------------------------------------------------
_domain = StructType(
    [
        StructField("domain_name", StringType(), True),
        StructField("domain_description", StringType(), True),
        StructField("specialization_notes", StringType(), True),
    ]
)
_construct = StructType(
    [
        StructField("construct_name", StringType(), True),
        StructField("construct_description", StringType(), True),
        StructField("domain_association", StringType(), True),
        StructField("assessment_context", StringType(), True),
    ]
)
_assessment = StructType(
    [
        StructField("assessment_name", StringType(), True),
        StructField("assessment_description", StringType(), True),
        StructField("modality", StringType(), True),
        StructField("constructs_measured", ArrayType(StringType()), True),
    ]
)
_intervention = StructType(
    [
        StructField("intervention_name", StringType(), True),
        StructField("intervention_description", StringType(), True),
        StructField("purpose", StringType(), True),
        StructField("constructs_targeted", ArrayType(StringType()), True),
        StructField("intervention_types", ArrayType(StringType()), True),
    ]
)
_technology = StructType(
    [
        StructField("technology_name", StringType(), True),
        StructField("vendor_manufacturer", StringType(), True),
        StructField("technology_type", StringType(), True),
        StructField("specific_model", StringType(), True),
        StructField("used_for_assessments", ArrayType(StringType()), True),
    ]
)
_metric = StructType(
    [
        StructField("metric_name", StringType(), True),
        StructField("measurement_unit", StringType(), True),
        StructField("assessment_source", StringType(), True),
        StructField("normal_ranges", StringType(), True),
        StructField("interpretation_notes", StringType(), True),
    ]
)
_construct_rel = StructType(
    [
        StructField("source_construct", StringType(), True),
        StructField("target_construct", StringType(), True),
        StructField("relationship_type", StringType(), True),
        StructField("relationship_description", StringType(), True),
        StructField("directionality", StringType(), True),
    ]
)
_assessment_link = StructType(
    [
        StructField("assessment_name", StringType(), True),
        StructField("constructs_measured", ArrayType(StringType()), True),
        StructField("measurement_relationship", StringType(), True),
    ]
)
_intervention_link = StructType(
    [
        StructField("intervention_name", StringType(), True),
        StructField("constructs_targeted", ArrayType(StringType()), True),
        StructField("mechanism_of_action", StringType(), True),
    ]
)
_ai_connection = StructType(
    [
        StructField("assessment_name", StringType(), True),
        StructField("intervention_name", StringType(), True),
        StructField("connection_type", StringType(), True),
        StructField("connection_description", StringType(), True),
    ]
)

RELATIONSHIPS = StructType(
    [
        StructField("construct_relationships", ArrayType(_construct_rel), True),
        StructField("assessment_construct_links", ArrayType(_assessment_link), True),
        StructField("intervention_construct_links", ArrayType(_intervention_link), True),
        StructField(
            "assessment_intervention_connections", ArrayType(_ai_connection), True
        ),
    ]
)

EXTRACTION_DOC = StructType(
    [
        StructField("url", StringType(), False),
        StructField("text_length", LongType(), True),
        StructField("constructs_identified", LongType(), True),
        StructField("domains", ArrayType(_domain), True),
        StructField("constructs", ArrayType(_construct), True),
        StructField("assessments", ArrayType(_assessment), True),
        StructField("interventions", ArrayType(_intervention), True),
        StructField("technologies", ArrayType(_technology), True),
        StructField("metrics", ArrayType(_metric), True),
        StructField("relationships", RELATIONSHIPS, True),
        StructField("error", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Multimodal: opaque binary payloads with typed metadata (engine extension).
# ---------------------------------------------------------------------------
MEDIA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
        # content label (synth.MEDIA_LABELS), or the kind of negative row
        StructField("label", StringType(), True),
    ]
)

MEDIA_FEATURES = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("sha1", StringType(), False),
        StructField("feature", ArrayType(DoubleType()), True),
    ]
)
