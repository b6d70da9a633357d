"""build_annotations contract: every table is a kind_rank projection of ONE
union frame, with the relational column names, order and types of the
mention / timex tables, and persisting it registers exactly one cache."""

from __future__ import annotations

import pytest

from kgpipe.config import DEFAULT_CONFIG
from kgpipe.fixtures import synthetic_transcripts_df
from kgpipe.pipeline import build_annotations
from kgpipe.schemas import ANNOTATION_UNION_SCHEMA

_MENTION = [
    ("conv_id", "string"), ("turn_idx", "int"), ("anchor_date", "date"),
    ("mention_idx", "int"), ("begin", "int"), ("end", "int"),
    ("tok_begin", "int"), ("tok_end", "int"), ("surface", "string"),
    ("term", "string"), ("cui", "string"), ("tui", "string"),
    ("confidence", "double"), ("conmod", "string"), ("conmod_inst", "string"),
    ("dtr", "string"), ("dtr_inst", "string"), ("win_char_begin", "int"),
    ("win_char_end", "int"),
]
_TIMEX = [
    ("conv_id", "string"), ("turn_idx", "int"), ("anchor_date", "date"),
    ("timex_idx", "int"), ("begin", "int"), ("end", "int"),
    ("tok_begin", "int"), ("tok_end", "int"), ("surface", "string"),
    ("kind", "string"), ("normed", "string"),
]
_ID = [("annotation_id", "string")]
_UNION = [(f.name, f.dataType.simpleString()) for f in ANNOTATION_UNION_SCHEMA.fields]


@pytest.fixture(scope="module")
def transcripts(spark):
    return synthetic_transcripts_df(spark, n_conv=4, turns_per_conv=5)


@pytest.mark.parametrize("persist", [True, False])
@pytest.mark.parametrize("timexes", [True, False])
def test_view_contract(spark, transcripts, gazetteer, blacklist, timexes, persist):
    ann = build_annotations(
        transcripts, gazetteer, blacklist, DEFAULT_CONFIG,
        persist=persist, timexes=timexes,
    )
    try:
        if timexes:
            expected = {
                "annotated": _UNION + [("ann_rank", "int")] + _ID,
                "mentions_f": _MENTION,
                "timexes_f": _TIMEX,
                "mentions": _MENTION + _ID,
                "timexes": _TIMEX + _ID,
            }
        else:
            expected = {"annotated": _UNION, "mentions_f": _MENTION}
        assert set(ann) == set(expected)
        for key, cols in expected.items():
            assert ann[key].dtypes == cols, key
    finally:
        ann["annotated"].unpersist()


def test_one_cache_released_by_one_call(spark, transcripts, gazetteer, blacklist):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    ann = build_annotations(transcripts, gazetteer, blacklist, DEFAULT_CONFIG)
    assert ann["mentions"].count() > 0
    assert not cache.isEmpty()
    ann["annotated"].unpersist()
    assert cache.isEmpty()

    # the release loop benchmark and CLI callers run: unpersisting views is
    # a harmless no-op next to the one call that releases the frame
    ann = build_annotations(transcripts, gazetteer, blacklist, DEFAULT_CONFIG)
    ann["timexes"].count()
    for key in ("annotated", "mentions", "timexes"):
        ann[key].unpersist()
    assert cache.isEmpty()
