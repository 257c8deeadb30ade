"""Event-type parsing semantics ported from the reference's own tests
(/root/reference/process_events_test.go:7-205): the only unit tests the
reference ships, so they pin the F1-F3 semantics exactly."""

from __future__ import annotations

from allora_indexer_spark.functions.events import (
    EVENT_WHITELIST,
    base_event_type_sql,
    is_whitelisted_sql,
)


def _base_types(spark, types_: list[str]) -> list[str]:
    df = spark.createDataFrame([(t,) for t in types_], ["type"])
    return [
        r["base"]
        for r in df.selectExpr(f"{base_event_type_sql('type')} AS base")
        .collect()
    ]


def _filtered(spark, types_: list[str]) -> list[str]:
    df = spark.createDataFrame([(t,) for t in types_], ["type"])
    return [r["type"] for r in df.filter(is_whitelisted_sql("type")).collect()]


def test_get_base_event_type(spark):
    # TestGetBaseEventType cases (process_events_test.go:169-205)
    assert _base_types(
        spark,
        [
            "emissions.v1.EventScoresSet",
            "emissions.v2.EventNetworkLossSet",
            "mint.v1.EventTokenomicsSet",
            "EventScoresSet",  # no version prefix → invalid
        ],
    ) == [
        "EventScoresSet",
        "EventNetworkLossSet",
        "EventTokenomicsSet",
        "invalid",
    ]


def test_filter_all_match(spark):
    types_ = [
        "emissions.v1.EventScoresSet",
        "emissions.v1.EventRewardsSettled",
        "emissions.v1.EventNetworkLossSet",
    ]
    assert _filtered(spark, types_) == types_


def test_filter_some_match(spark):
    types_ = [
        "emissions.v1.EventScoresSet",
        "emissions.v1.EventUnknown",
        "transfer.v1.EventCoinSpent",
    ]
    assert _filtered(spark, types_) == ["emissions.v1.EventScoresSet"]


def test_filter_none_match(spark):
    assert _filtered(
        spark, ["other.v1.EventFoo", "emissions.v1.EventNotListed"]
    ) == []


def test_filter_two_digit_version(spark):
    # the version-agnostic matching case (process_events_test.go:110-151):
    # emissions.v12 must pass even though only v1..v5 existed when written
    types_ = ["emissions.v12.EventScoresSet", "mint.v12.EventTokenomicsSet"]
    assert _filtered(spark, types_) == types_


def test_filter_versionless_rejected(spark):
    # a whitelisted base type with no version prefix must NOT pass
    assert _filtered(spark, ["EventScoresSet"]) == []


def test_whitelist_covers_all_event_families(spark):
    assert len(EVENT_WHITELIST) == 11
    assert len(set(EVENT_WHITELIST.values())) == 10  # two last-commit kinds
