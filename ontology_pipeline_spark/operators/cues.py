"""Sentence cue-scan — the goals/constraints extraction pass (M5).

Reference semantics: pass 5 of the 8-pass extractor pulls `client_goals`,
`constraints_preferences`, `moderating_factors` and `individual_differences`
out of each transcript given the constructs found so far (reference
src/extractor.py:638-688; 7-pass variant :361-400).  Here the LLM prompt is
replaced by a deterministic cue-phrase rule table evaluated entirely with
JVM expressions:

    pages -> posexplode(sentence split) -> per-cue rlike -> (url, sent_id,
    kind, sentence) -> optional join with construct mentions on
    (url, sent_id) to attach `related_constructs`.

The stage is narrow until the optional mention join (an equi-shuffle on
(url, sent_id), co-partitioned with the mentions aggregation); at 100 TB it
scales with input partitions like every other scan stage.  Cue patterns are
RE2-compatible (no lookarounds) so external engines can replay them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .mentions import detect_mentions

# mirrors mentions._SENT_SPLIT so sent_id aligns across stages.  The (?U)
# flag makes Java's \s match Unicode whitespace like Python's does (Java \s
# is ASCII-only by default) — without it a NBSP after a period splits on the
# Python side but not the JVM side, shifting every later sent_id and
# attaching constructs/protocol subjects to the wrong sentences.  \x1C-\x1F:
# separators Python's \s matches and Java's White_Space does not.
SENT_SPLIT_RE = r"(?U)(?<=[.!?])[\s\x1C-\x1F]+|\n"

# (kind, RE2-safe pattern over the lowercased sentence)
DEFAULT_CUES: list[tuple[str, str]] = [
    ("client_goal", r"\b(goal|aims? to|wants? to|objective|hopes? to)\b"),
    ("constraint_preference", r"\b(avoid|cannot|can't|unable to|prefers?|limited)\b"),
    ("moderating_factor", r"\b(depends on|varies with|moderated by|influenced by|affected by)\b"),
    (
        "individual_difference",
        r"\b(individual differences?|training history|baseline fitness|genetics|menopause status)\b",
    ),
]


def sentences(
    pages: DataFrame, text_col: str = "text", id_col: str = "url"
) -> DataFrame:
    """(url, sent_id, sentence) rows; sent_id keeps the pre-filter split
    position so it aligns with mention rows from `detect_mentions`."""
    return pages.select(
        F.col(id_col).alias("url"),
        F.posexplode(F.split(F.col(text_col), SENT_SPLIT_RE)).alias(
            "sent_id", "sentence"
        ),
    ).filter(F.length(F.trim("sentence")) > 0)


def cue_scan(
    pages: DataFrame,
    cues: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "url",
) -> DataFrame:
    """One row per (sentence, matched cue kind): (url, sent_id, kind,
    sentence).  A sentence matching k cue kinds emits k rows."""
    cues = DEFAULT_CUES if cues is None else cues
    sents = sentences(pages, text_col, id_col)
    matched = F.filter(
        F.array(
            *[
                F.when(F.lower(F.col("sentence")).rlike(pat), F.lit(kind))
                for kind, pat in cues
            ]
        ),
        lambda k: k.isNotNull(),
    )
    return sents.select(
        "url", "sent_id", F.explode(matched).alias("kind"), "sentence"
    )


def extract_goals_constraints(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    cues: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "url",
    mentions: DataFrame | None = None,
) -> DataFrame:
    """M5 with construct context: cue rows plus the sorted distinct canonical
    constructs mentioned in the same sentence (the reference feeds the pass
    the constructs list for exactly this association, src/extractor.py:643).

    Pass `mentions` (the S2 output, ideally persisted) to reuse the
    pipeline's existing mention scan instead of re-running the full
    mapInPandas pass over pages — at corpus scale the rescan is a redundant
    full-corpus Python stage."""
    scan = cue_scan(pages, cues, text_col, id_col)
    if mentions is None:
        mentions = detect_mentions(pages, lexicon_rows, text_col=text_col, id_col=id_col)
    ments = (
        mentions.filter(F.col("entity_class") == "construct")
        .select("url", "sent_id", "canonical")
        .distinct()
    )
    return (
        scan.join(ments, ["url", "sent_id"], "left")
        .groupBy("url", "sent_id", "kind", "sentence")
        .agg(
            F.array_sort(
                F.filter(F.collect_set("canonical"), lambda c: c.isNotNull())
            ).alias("related_constructs")
        )
    )
