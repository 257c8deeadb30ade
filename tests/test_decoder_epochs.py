"""S5 version-routed decode: epoch selection and per-epoch parse schemas.

The reference picks a decoder binary per height epoch
(/root/reference/execute.go:82-109); the engine turns that table into a
decoder_version column and keys parse schemas on it. These tests pin the
epoch boundaries (the round-2 ordering bug would have flipped them) and
prove the SAME message JSON parses differently on either side of an epoch
edge — version-correct parsing, not a silent union-schema null.
"""

import json

import pytest
from pyspark.sql import functions as F

from allora_indexer_spark import schemas
from allora_indexer_spark.plans.ingest import (
    decoder_version_sql,
    inferences,
    reputer_payload,
    topics,
    transfers,
    with_versioned_parse,
    worker_registrations,
)

# (height, expected version) — each epoch edge from execute.go:88-98 plus a
# far-future height; the edge-1 row pins the previous epoch's upper end.
EPOCH_CASES = [
    (0, "v0.2.14"),
    (101, "v0.2.14"),
    (811999, "v0.2.14"),
    (812000, "v0.3.0"),
    (1004549, "v0.3.0"),
    (1004550, "v0.4.0"),
    (1296199, "v0.4.0"),
    (1296200, "v0.5.0"),
    (1574266, "v0.5.0"),
    (1574267, "v0.6.0"),
    (1600000, "v0.6.0"),
]


def test_decoder_version_epoch_boundaries(spark):
    df = spark.createDataFrame(
        [(h,) for h, _ in EPOCH_CASES], "height long"
    ).withColumn("ver", F.expr(decoder_version_sql("height")))
    got = {r.height: r.ver for r in df.collect()}
    assert got == {h: v for h, v in EPOCH_CASES}


TOPIC_JSON = json.dumps(
    {
        "@type": "/emissions.v1.MsgCreateNewTopic",
        "creator": "alice",
        "metadata": "m1",
        "loss_logic": "ll",
        "loss_method": "lm",
        "inference_logic": "il",
        "inference_method": "im",
        "epoch_length": "10",
        "ground_truth_lag": "5",
        "default_arg": "da",
        "pnorm": "3",
        "alpha_regret": "0.1",
        "preward_reputer": "0.5",
        "preward_inference": "0.3",
        "preward_forecast": "0.2",
        "f_tolerance": "0.01",
        "allow_negative": True,
    }
)


def _msgs_at(spark, heights):
    rows = [
        (h, 0, 0, h * 1_000_000, "/emissions.v1.MsgCreateNewTopic", "alice",
         TOPIC_JSON, 1)
        for h in heights
    ]
    df = spark.createDataFrame(
        rows,
        "height long, tx_idx int, msg_idx int, message_id long, type string,"
        " sender string, data string, hash long",
    )
    return df.withColumn("decoder_version", F.expr(decoder_version_sql("height")))


def test_same_payload_parses_by_epoch(spark):
    """The identical CreateNewTopic JSON at 811999 vs 812000: the legacy
    epoch's decoder knows the WASM-logic fields, the modern one does not —
    even though the bytes carry them."""
    t = topics(_msgs_at(spark, [811999, 812000])).orderBy("message_height")
    legacy, modern = t.collect()
    assert legacy["message_height"] == 811999
    assert legacy["loss_logic"] == "ll"
    assert legacy["preward_reputer"] == "0.5"
    assert legacy["f_tolerance"] == "0.01"
    assert modern["message_height"] == 812000
    assert modern["loss_logic"] is None
    assert modern["preward_reputer"] is None
    assert modern["f_tolerance"] is None
    # shared fields parse identically on both sides
    for row in (legacy, modern):
        assert row["creator"] == "alice"
        assert row["loss_method"] == "lm"
        assert row["epoch_length"] == "10"
        assert row["pnorm"] == "3"
        assert row["allow_negative"] is True


@pytest.mark.parametrize(
    "height,expect_legacy",
    [(0, True), (811999, True), (812000, False), (1600000, False)],
)
def test_versioned_parse_field_gating(spark, height, expect_legacy):
    df = with_versioned_parse(
        _msgs_at(spark, [height]),
        F.col("data"),
        F.col("decoder_version"),
        schemas.MSG_CREATE_NEW_TOPIC_SCHEMAS,
    )
    row = df.select("m.loss_logic", "m.metadata").collect()[0]
    assert (row["loss_logic"] == "ll") is expect_legacy
    assert row["metadata"] == "m1"


def _typed_msgs_at(spark, rows):
    """rows = [(height, type, data_json)] → a messages-shaped frame."""
    df = spark.createDataFrame(
        [
            (h, 0, i, h * 1_000_000 + i, t, "s", d, h * 31 + i)
            for i, (h, t, d) in enumerate(rows)
        ],
        "height long, tx_idx int, msg_idx int, message_id long, type string,"
        " sender string, data string, hash long",
    )
    return df.withColumn("decoder_version", F.expr(decoder_version_sql("height")))


REGISTER_JSON = json.dumps(
    {
        "@type": "/emissions.v1.MsgRegister",
        "sender": "dave",
        "topic_id": "1",
        "owner": "dave",
        "lib_p2p_key": "p2p-dave",
        "multi_address": "/ip4/1.2.3.4",
        "is_reputer": False,
    }
)


def test_register_parses_by_epoch(spark):
    """Register family epoch edge (r3 verdict #2): the identical JSON at
    811999 vs 812000 — the legacy decoder knows the WASM-era lib_p2p_key,
    the modern one declares it away; epoch-stable fields parse on both."""
    regs = {
        r["message_height"]: r
        for r in worker_registrations(
            _typed_msgs_at(
                spark,
                [
                    (811999, "/emissions.v1.MsgRegister", REGISTER_JSON),
                    (812000, "/emissions.v2.RegisterRequest", REGISTER_JSON),
                ],
            )
        ).collect()
    }
    assert regs[811999]["worker_libp2pkey"] == "p2p-dave"
    assert regs[812000]["worker_libp2pkey"] is None
    for r in regs.values():
        assert r["sender"] == "dave"
        assert r["topic_id"] == 1
        assert r["owner"] == "dave"
        assert r["is_reputer"] is False


FUND_JSON = json.dumps(
    {
        "@type": "/emissions.v1.MsgFundTopic",
        "sender": "alice",
        "topic_id": "1",
        "amount": "500",
    }
)


def test_fund_topic_stable_across_epochs(spark):
    """Transfer family rides the versioned dispatcher too; today's epochs
    share one shape, so the SAME payload must parse identically on both
    sides of every edge — this pins the no-drift contract."""
    rows = transfers(
        _typed_msgs_at(
            spark,
            [(h, "/emissions.v1.MsgFundTopic", FUND_JSON) for h, _ in EPOCH_CASES],
        )
    ).collect()
    assert len(rows) == len(EPOCH_CASES)
    for r in rows:
        assert r["from_address"] == "alice"
        assert r["topic_id"] == 1
        assert r["amount"] == "500"
        assert r["denom"] == "uallo"


def _bulk_worker_json(worker: str) -> str:
    return json.dumps(
        {
            "sender": worker,
            "topic_id": "1",
            "nonce": {"block_height": "105"},
            "worker_data_bundles": [
                {
                    "worker": worker,
                    "nonce": {"block_height": "105"},
                    "topic_id": "1",
                    "inference_forecasts_bundle": {
                        "inference": {
                            "value": "2.5",
                            "inferer": worker,
                            "topic_id": "1",
                            "block_height": "105",
                        }
                    },
                }
            ],
        }
    )


def test_bulk_worker_payload_gated_to_emissions_v1(spark):
    """Worker family version routing: bulk forms are accepted ONLY from the
    emissions.v1 proto family (process_tx.go:120-131) — a v3-prefixed bulk
    message must contribute no inference rows."""
    msgs = _typed_msgs_at(
        spark,
        [
            (105, "/emissions.v1.MsgInsertBulkWorkerPayload",
             _bulk_worker_json("dave")),
            (105, "/emissions.v3.MsgInsertBulkWorkerPayload",
             _bulk_worker_json("mallory")),
        ],
    )
    got = {r["inferer"] for r in inferences(msgs).collect()}
    assert got == {"dave"}


def _bulk_reputer_json(reputer: str) -> str:
    return json.dumps(
        {
            "sender": reputer,
            "topic_id": "2",
            "reputer_request_nonce": {
                "worker_nonce": {"block_height": "105"},
                "reputer_nonce": {"block_height": "106"},
            },
            "reputer_value_bundles": [
                {
                    "pubkey": f"pk-{reputer}",
                    "signature": "sig",
                    "value_bundle": {
                        "reputer": reputer,
                        "topic_id": "2",
                        "naive_value": "1.0",
                        "combined_value": "1.1",
                    },
                }
            ],
        }
    )


def test_bulk_reputer_payload_gated_to_emissions_v1(spark):
    """Reputer family version routing: same v1-only bulk gate
    (process_tx.go:144-155)."""
    msgs = _typed_msgs_at(
        spark,
        [
            (106, "/emissions.v1.MsgInsertBulkReputerPayload",
             _bulk_reputer_json("erin")),
            (106, "/emissions.v2.MsgInsertBulkReputerPayload",
             _bulk_reputer_json("zora")),
        ],
    )
    got = {r["sender"] for r in reputer_payload(msgs).collect()}
    assert got == {"erin"}


def test_versioned_parse_rejects_unmapped_epoch(spark):
    """ADVICE r3: a DECODER_EPOCHS label absent from the schema dict must be
    a loud error at plan time, not all-NULL structs for that epoch's rows."""
    partial = {
        k: v for k, v in schemas.MSG_CREATE_NEW_TOPIC_SCHEMAS.items()
        if k != "v0.6.0"
    }
    with pytest.raises(ValueError, match="v0.6.0"):
        with_versioned_parse(
            _msgs_at(spark, [101]),
            F.col("data"),
            F.col("decoder_version"),
            partial,
        )


def test_versioned_parse_one_parse_per_distinct_schema(spark):
    """Cost guard: 5 versions but 2 distinct schemas must evaluate exactly
    2 from_json parses per row — re-referencing the parse per union field
    would let the optimizer split it into one pruned parse per field."""
    df = with_versioned_parse(
        _msgs_at(spark, [101]),
        F.col("data"),
        F.col("decoder_version"),
        schemas.MSG_CREATE_NEW_TOPIC_SCHEMAS,
    ).select("m.loss_logic", "m.metadata", "m.creator", "m.pnorm")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") == 2
