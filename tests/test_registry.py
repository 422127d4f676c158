"""Extension surface (rex/utils/registry.py re-expression): namespace
registry + custom extractor plug-in through run_pipeline's M1 slot."""

import pytest

from rex_spark.pipeline import build_pages_df, run_pipeline
from rex_spark.registry import (
    NAMESPACE_REGISTRY,
    get_registered,
    register,
    registered_names,
)


def test_builtin_extractors_registered():
    assert {"casrel", "usm"} <= set(registered_names("extractor"))


def test_register_and_get_roundtrip():
    @register("test_ns")
    def some_stage(x):
        return x + 1

    assert get_registered("test_ns", "some_stage") is some_stage
    assert "some_stage" in registered_names("test_ns")


def test_register_overwrites_like_reference():
    # ref registry.py:37-40: the duplicate guard is commented out —
    # last registration wins
    @register("test_ns", name="dup")
    def first(x):
        return 1

    @register("test_ns", name="dup")
    def second(x):
        return 2

    assert get_registered("test_ns", "dup") is second


def test_get_unknown_raises_with_known_names():
    with pytest.raises(KeyError, match="not registered"):
        get_registered("extractor", "nope")


def test_custom_extractor_through_pipeline(spark):
    """A user-registered mechanism runs through run_pipeline exactly
    like the built-ins (same stage interface, graph plane intact)."""

    @register("extractor", name="casrel_again")
    def casrel_again(sentences):
        from rex_spark.operators.pointer_extraction import casrel_extract

        return casrel_extract(sentences)

    try:
        pages = build_pages_df(spark, 40, seed=42)
        r = run_pipeline(spark, pages, store=None, extractor="casrel_again")
        base = run_pipeline(spark, pages, store=None, extractor="casrel")
        key = ["url", "subj", "pred", "obj"]
        got = {tuple(x) for x in r["triple_set"].select(*key).collect()}
        want = {tuple(x) for x in base["triple_set"].select(*key).collect()}
        assert got == want and got
        assert r["edges"].count() == base["edges"].count() > 0
    finally:
        NAMESPACE_REGISTRY["extractor"].pop("casrel_again", None)

    with pytest.raises(ValueError, match="unknown extractor"):
        run_pipeline(spark, pages, store=None, extractor="casrel_again")
