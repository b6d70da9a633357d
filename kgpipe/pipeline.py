"""End-to-end composition: transcripts -> triples / nodes / edges.

``build_annotations`` builds the structured path's ONE union frame —
``filter_union(annotate_union(...))`` plus the W1 id window, persisted
once — and hands out its per-kind views (mentions, timexes, with and
without annotation ids). Every structured consumer reads those views:
triples here, and cross-turn edges, canonical nodes and Anafora documents
in their own modules.

Two equivalent triple plans (equality-tested):

* ``build_triples(..., fused=False)`` — structured: every SURVEY.md §2
  operator is a visible DataFrame op over the union frame. Plan shape
  (plan-asserted in PLANS.md):

      scan -> mapInPandas(annotate -> union rows)         [narrow]
        -> F1 predicate, F2 broadcast anti-join, F5       [narrow]
        -> W1 row_number window   ── exchange on (conv_id, turn_idx)
        -> persist; kind splits are projections of the cache
        -> J1 band join + token join on (conv_id, turn_idx)
        -> tlink label (narrow Arrow UDF) + instance string (JVM)
        -> union with attribution/entity/dtr projections

* ``build_triples(..., fused=True)`` — one narrow mapInPandas, zero
  shuffles; the 10^12-turn scale path (scan-bound, embarrassingly parallel).

The O1 semi-join gate (normalize timexes only for turns that have a
surviving entity mention — TimeMentionNormalizer.java:104-117,
Timelines.piper:32-35) is inherent here: annotation runs in one fused pass
per turn, and downstream joins are inner on turns with mentions, so
timex-only turns never reach pairing/scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .extract import (
    MENTION_FIELDS,
    TIMEX_FIELDS,
    annotate_union,
    assign_union_ids,
    filter_union,
)
from .graph import attribution_triples, dtr_triples, entity_mention_triples
from .pair import fused_triples, pair_window, tlink_triples_from_pairs

__all__ = [
    "build_annotations",
    "build_triples",
    "summarized_timelines",
    "ntriples_view",
]


def _kind_view(union: DataFrame, kind_rank: int, idx: str, fields, ids: bool):
    """One kind's relation as a projection of the union frame: in_kind_idx
    renamed to the kind's own index column, plus annotation_id if asked."""
    return union.where(F.col("kind_rank") == kind_rank).select(
        "conv_id", "turn_idx", "anchor_date", F.col("in_kind_idx").alias(idx),
        *fields, *(["annotation_id"] if ids else []),
    )


def build_annotations(
    transcripts: DataFrame,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    persist: bool = True,
    timexes: bool = True,
):
    """Structured intermediate tables, all views of ONE frame.

    ``annotated`` is ``filter_union(annotate_union(...))`` followed by the
    W1 id window (``assign_union_ids``). It is the expensive Arrow-UDF stage
    and every view below reads it, so it is persisted MEMORY_AND_DISK by
    default — one cache, released by ``annotated.unpersist()``. The views
    are kind_rank projections of it: ``mentions_f`` / ``timexes_f``
    (filtered, no annotation_id — consumers that never read ids) and
    ``mentions`` / ``timexes`` (the same rows with annotation_id).

    ``timexes=False`` is the mentions-only fast path: timex detection is
    skipped inside the Arrow UDF, no id window runs, and the returned dict
    carries ONLY annotated / mentions_f — the W1 window ranks mentions and
    timexes together, so ids from a timex-free pass would disagree with
    the full pipeline's; omitting the keys makes that misuse impossible."""
    annotated = filter_union(
        annotate_union(transcripts, gazetteer, blacklist, cfg, timexes=timexes),
        blacklist, cfg,
    )
    if timexes:
        annotated = assign_union_ids(annotated)
    if persist:
        from pyspark import StorageLevel

        annotated = annotated.persist(StorageLevel.MEMORY_AND_DISK)
    out = {
        "annotated": annotated,
        "mentions_f": _kind_view(annotated, 0, "mention_idx", MENTION_FIELDS, False),
    }
    if timexes:
        out["timexes_f"] = _kind_view(annotated, 1, "timex_idx", TIMEX_FIELDS, False)
        out["mentions"] = _kind_view(annotated, 0, "mention_idx", MENTION_FIELDS, True)
        out["timexes"] = _kind_view(annotated, 1, "timex_idx", TIMEX_FIELDS, True)
    return out


def build_triples(
    transcripts: DataFrame,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    fused: bool = False,
) -> DataFrame:
    """transcripts -> all triples (tlink + entity-mention + doc-time-rel
    (opt-in) + speaker-attribution + tool-invocation)."""
    if cfg.salt_partitions > 0:
        # salted repartition on hash(conv_id, turn_idx): a hot conversation's
        # turns scatter across all executors before the (embarrassingly
        # parallel) annotation stage instead of staying in one input split
        from .skew import spread_by_turn

        transcripts = spread_by_turn(transcripts, cfg.salt_partitions)
    if fused:
        return fused_triples(transcripts, gazetteer, blacklist, cfg)

    # One-pass structured shape: the mention, timex and token splits are
    # co-partitioned views of build_annotations' one persisted union frame,
    # so the path pays exactly ONE window exchange and ONE persist, and the
    # band join, the pair groupBy and the token join add no turn shuffle.
    ann = build_annotations(transcripts, gazetteer, blacklist, cfg)
    mentions_id = ann["mentions"]
    toks = ann["annotated"].where(F.col("kind_rank") == 2)

    # F3 (empty-doc skip) + O1 (entity gate on timex work) fall out of the
    # inner equi-join in pair_window: timexes of mention-less turns never
    # reach instance assembly or scoring.
    pairs = pair_window(mentions_id, ann["timexes"])
    tlink = tlink_triples_from_pairs(pairs, toks, cfg)

    out = attribution_triples(transcripts).unionByName(
        entity_mention_triples(mentions_id)
    )
    if cfg.use_dtr:
        out = out.unionByName(dtr_triples(mentions_id))
    return out.unionByName(tlink)


_NT_LITERAL_PREDS = ("speaker-attribution", "tool-invocation")


def ntriples_view(triples: DataFrame) -> DataFrame:
    """RDF N-Triples serialization of the triple table — the
    standards-facing KG export (the Anafora XML sink's graph-world
    sibling). One output column ``ntriple`` per input row, plus the
    conv_id for partitioned writes.

    Mapping (documented spec): subjects and predicates live under a
    ``urn:kg:`` namespace; objects of the attribution predicates
    (speaker/tool) are string literals with full N-Triples escaping
    (backslash first, then quote, newline, carriage return, tab — the
    spec's required literal escapes), every other object is an id -> URI.
    Pure JVM string algebra (concat/regexp_replace), zero UDFs —
    serialization stays in whole-stage codegen and scales with the scan.
    """
    esc = F.col("obj")
    for raw, escaped in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                         ("\r", "\\r"), ("\t", "\\t")):
        esc = F.replace(esc, F.lit(raw), F.lit(escaped))
    obj_term = (
        F.when(
            F.col("pred").isin(*_NT_LITERAL_PREDS),
            F.concat(F.lit('"'), esc, F.lit('"')),
        )
        .otherwise(F.concat(F.lit("<urn:kg:id:"), F.col("obj"), F.lit(">")))
    )
    return triples.select(
        "conv_id",
        F.concat(
            F.lit("<urn:kg:id:"), F.col("subj"), F.lit("> "),
            F.lit("<urn:kg:pred:"), F.col("pred"), F.lit("> "),
            obj_term, F.lit(" ."),
        ).alias("ntriple"),
    )


def summarized_timelines(triples: DataFrame) -> DataFrame:
    """The reference's END PRODUCT: per-patient summarized timelines.

    The unsummarized TSV (triples_output_view) carries one row per scored
    (mention, timex) pair; the shared task's deliverable is the
    DEDUPLICATED (patient, chemo, tlink, normed_timex) tuple set
    (/root/reference/README.md:17-19,40 — "summarized gold timelines";
    the reference delegates this dedup to an external consumer of its
    annotation ids, timeline_delegator.py:468-477 — here it is a
    first-class operator). ``n_evidence`` counts the supporting pairs and
    ``first_dct``/``last_dct`` bound the provenance dates.

    One hash aggregate keyed on the 4-tuple; lower-cased chemo surface so
    casing variants of one mention collapse, mirroring the gold files'
    normalized surfaces.
    """
    return (
        triples.where(F.col("pred").startswith("tlink:"))
        .groupBy(
            F.col("conv_id").alias("patient_id"),
            F.lower("subj_text").alias("chemo_text"),
            F.regexp_replace("pred", "^tlink:", "").alias("tlink"),
            F.col("obj_text").alias("normed_timex"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.min(F.date_format("anchor_date", "yyyy-MM-dd")).alias("first_dct"),
            F.max(F.date_format("anchor_date", "yyyy-MM-dd")).alias("last_dct"),
        )
    )


def triples_output_view(triples: DataFrame) -> DataFrame:
    """Reference-TSV-compatible projection of the tlink triples
    (NO_DTR_OUTPUT_COLUMNS, timeline_delegator.py:42-52) for golden
    comparison: DCT, patient_id, chemo_text, chemo_annotation_id,
    normed_timex, timex_annotation_id, tlink, note_name, tlink_inst."""
    return (
        triples.where(F.col("pred").startswith("tlink:"))
        .select(
            F.date_format("anchor_date", "yyyy-MM-dd").alias("DCT"),
            F.col("conv_id").alias("patient_id"),
            F.col("subj_text").alias("chemo_text"),
            F.col("subj").alias("chemo_annotation_id"),
            F.col("obj_text").alias("normed_timex"),
            F.col("obj").alias("timex_annotation_id"),
            F.regexp_replace("pred", "^tlink:", "").alias("tlink"),
            F.format_string("%s_%d", "conv_id", "turn_idx").alias("note_name"),
            F.col("instance").alias("tlink_inst"),
        )
        .orderBy("patient_id", "note_name", "chemo_annotation_id", "timex_annotation_id")
    )
