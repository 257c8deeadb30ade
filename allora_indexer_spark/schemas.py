"""Explicit schemas for the ingest pipeline.

Input side mirrors the reference's wire shapes (schema-on-read JSON):
- raw block payload        — types.BlockQuery, /root/reference/types/block.go:107-156
- raw block_results events — BlockResult/Event/Attribute,
                             /root/reference/process_events.go:63-89
- decoded transactions     — types.Tx (messages as untyped maps),
                             /root/reference/types/tx.go:5-38; per-message
                             typed shapes /root/reference/types/messages.go

Output side is the reference's 23-table relational model
(/root/reference/db.go:178-525). SERIAL surrogate keys are replaced by
natural composite keys (height, tx_idx, msg_idx, ...) — Spark has no
INSERT..RETURNING, and natural keys make every write idempotent and
deterministic (SURVEY.md §2.2 K2/K7).

NUMERIC(72,18) narrows to DECIMAL(38,18): Spark's max precision is 38. The
raw string is preserved alongside every narrowed value (``*_raw`` columns)
for lossless round-trip, and the same Infinity/NaN guard the reference
applies (/root/reference/db.go:1715-1717) runs before every cast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Wire schemas (input)
# ---------------------------------------------------------------------------


def _s(*fields: StructField) -> StructType:
    return StructType(list(fields))


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


_PART_SET_HEADER = _s(_f("total", IntegerType()), _f("hash", StringType()))
_BLOCK_ID = _s(_f("hash", StringType()), _f("part_set_header", _PART_SET_HEADER))

# types.BlockQuery header (block.go:107-156); height/time arrive as strings.
RAW_BLOCK_SCHEMA = _s(
    _f("block_id", _BLOCK_ID),
    _f(
        "header",
        _s(
            _f("version", _s(_f("block", StringType()), _f("app", StringType()))),
            _f("chain_id", StringType()),
            _f("height", StringType()),
            _f("time", StringType()),
            _f("last_block_id", _BLOCK_ID),
            _f("last_commit_hash", StringType()),
            _f("data_hash", StringType()),
            _f("validators_hash", StringType()),
            _f("next_validators_hash", StringType()),
            _f("consensus_hash", StringType()),
            _f("app_hash", StringType()),
            _f("last_results_hash", StringType()),
            _f("evidence_hash", StringType()),
            _f("proposer_address", StringType()),
        ),
    ),
    # data.txs: opaque base64 tx blobs (block.go: Data.Txs)
    _f("data", _s(_f("txs", ArrayType(StringType())))),
    _f(
        "last_commit",
        _s(
            _f("height", StringType()),
            _f(
                "signatures",
                ArrayType(
                    _s(
                        _f("block_id_flag", StringType()),
                        _f("validator_address", StringType()),
                        _f("timestamp", StringType()),
                        _f("signature", StringType()),
                    )
                ),
            ),
        ),
    ),
)

# Event / Attribute (process_events.go:80-89)
ATTRIBUTE_SCHEMA = _s(_f("key", StringType()), _f("value", StringType()))
EVENT_SCHEMA = _s(
    _f("type", StringType()), _f("attributes", ArrayType(ATTRIBUTE_SCHEMA))
)

# BlockResult (process_events.go:63-78)
RAW_BLOCK_RESULTS_SCHEMA = _s(
    _f(
        "result",
        _s(
            _f("height", StringType()),
            _f("finalize_block_events", ArrayType(EVENT_SCHEMA)),
            _f(
                "txs_results",
                ArrayType(
                    _s(
                        _f("code", IntegerType()),
                        _f("gas_wanted", StringType()),
                        _f("gas_used", StringType()),
                        _f("events", ArrayType(EVENT_SCHEMA)),
                    )
                ),
            ),
        ),
    )
)

# Decoded tx (types/tx.go:5-38): body.messages kept as raw JSON strings —
# the schema-on-read analog of Go's map[string]interface{}; each message is
# re-parsed with its typed schema after @type dispatch.
TX_SCHEMA = _s(
    _f(
        "body",
        _s(
            _f("messages", ArrayType(StringType())),
            _f("memo", StringType()),
        ),
    ),
    _f(
        "auth_info",
        _s(_f("fee", _s(_f("gas_limit", StringType()), _f("payer", StringType())))),
    ),
    _f("signatures", ArrayType(StringType())),
)

# Typed message payloads (types/messages.go). All chain numerics are
# string-encoded on the wire; casts happen in the ingest plan.
_VALUE_WORKER = _s(_f("value", StringType()), _f("worker", StringType()))

# CreateNewTopic drifted across chain upgrades (S5): the reference carries
# the UNION of every epoch's fields in one Go struct
# (types/messages.go:3-22) and lets fields absent from a given epoch's
# decoder output come back empty — silently. We key the parse schema by
# decoder epoch instead (execute.go:82-109's binary table as data): the
# v0.2.14-era decoder emits the WASM-logic field set (loss_logic,
# inference_logic/method, preward_*, f_tolerance, default_arg); the
# v0.3.0+ decoders dropped those fields, so parsing them at a modern
# height is *declared* impossible rather than silently null.
MSG_CREATE_NEW_TOPIC_LEGACY_SCHEMA = _s(
    _f("@type", StringType()),
    _f("creator", StringType()),
    _f("metadata", StringType()),
    _f("loss_logic", StringType()),
    _f("loss_method", StringType()),
    _f("inference_logic", StringType()),
    _f("inference_method", StringType()),
    _f("epoch_length", StringType()),
    _f("ground_truth_lag", StringType()),
    _f("default_arg", StringType()),
    _f("pnorm", StringType()),
    _f("alpha_regret", StringType()),
    _f("preward_reputer", StringType()),
    _f("preward_inference", StringType()),
    _f("preward_forecast", StringType()),
    _f("f_tolerance", StringType()),
    _f("allow_negative", BooleanType()),
)

MSG_CREATE_NEW_TOPIC_MODERN_SCHEMA = _s(
    _f("@type", StringType()),
    _f("creator", StringType()),
    _f("metadata", StringType()),
    _f("loss_method", StringType()),
    _f("epoch_length", StringType()),
    _f("ground_truth_lag", StringType()),
    _f("pnorm", StringType()),
    _f("alpha_regret", StringType()),
    _f("allow_negative", BooleanType()),
)

# decoder version label -> parse schema for this family. Consumed by
# ingest.with_versioned_parse; extending another family to version-keyed
# parsing means adding its dict here and swapping its from_json call.
MSG_CREATE_NEW_TOPIC_SCHEMAS = {
    "v0.2.14": MSG_CREATE_NEW_TOPIC_LEGACY_SCHEMA,
    "v0.3.0": MSG_CREATE_NEW_TOPIC_MODERN_SCHEMA,
    "v0.4.0": MSG_CREATE_NEW_TOPIC_MODERN_SCHEMA,
    "v0.5.0": MSG_CREATE_NEW_TOPIC_MODERN_SCHEMA,
    "v0.6.0": MSG_CREATE_NEW_TOPIC_MODERN_SCHEMA,
}

MSG_SEND_SCHEMA = _s(
    _f("@type", StringType()),
    _f("from_address", StringType()),
    _f("to_address", StringType()),
    _f(
        "amount",
        ArrayType(_s(_f("denom", StringType()), _f("amount", StringType()))),
    ),
)

MSG_FUND_TOPIC_SCHEMA = _s(
    _f("@type", StringType()),
    _f("sender", StringType()),
    _f("topic_id", StringType()),
    _f("amount", StringType()),
)

MSG_REGISTER_SCHEMA = _s(
    _f("@type", StringType()),
    _f("sender", StringType()),
    _f("topic_id", StringType()),
    _f("owner", StringType()),
    _f("lib_p2p_key", StringType()),
    _f("multi_address", StringType()),
    _f("is_reputer", BooleanType()),
)

# lib_p2p_key is a WASM-era emissions.v1 concept (the reference's DDL calls
# the column worker_libp2pkey and its union struct marks the field
# omitempty, /root/reference/types/messages.go:158-166); modern decoder
# epochs declare it away, so a modern registration yields NULL by schema,
# not by silent parse miss — same legacy/modern split as the topic family.
MSG_REGISTER_MODERN_SCHEMA = _s(
    _f("@type", StringType()),
    _f("sender", StringType()),
    _f("topic_id", StringType()),
    _f("owner", StringType()),
    _f("multi_address", StringType()),
    _f("is_reputer", BooleanType()),
)

MSG_REGISTER_SCHEMAS = {
    "v0.2.14": MSG_REGISTER_SCHEMA,
    "v0.3.0": MSG_REGISTER_MODERN_SCHEMA,
    "v0.4.0": MSG_REGISTER_MODERN_SCHEMA,
    "v0.5.0": MSG_REGISTER_MODERN_SCHEMA,
    "v0.6.0": MSG_REGISTER_MODERN_SCHEMA,
}

_NONCE = _s(_f("block_height", StringType()))

WORKER_DATA_BUNDLE_SCHEMA = _s(
    _f("worker", StringType()),
    _f("nonce", _NONCE),
    _f("topic_id", StringType()),
    _f(
        "inference_forecasts_bundle",
        _s(
            _f(
                "forecast",
                _s(
                    _f("topic_id", StringType()),
                    _f("extra_data", StringType()),
                    _f("forecaster", StringType()),
                    _f("block_height", StringType()),
                    _f("forecast_elements", ArrayType(_s(
                        _f("inferer", StringType()), _f("value", StringType())
                    ))),
                ),
            ),
            _f(
                "inference",
                _s(
                    _f("value", StringType()),
                    _f("inferer", StringType()),
                    _f("topic_id", StringType()),
                    _f("extra_data", StringType()),
                    _f("block_height", StringType()),
                    _f("proof", StringType()),
                ),
            ),
        ),
    ),
    _f("inferences_forecasts_bundle_signature", StringType()),
    _f("pubkey", StringType()),
)

MSG_WORKER_PAYLOAD_SCHEMA = _s(
    _f("@type", StringType()),
    _f("sender", StringType()),
    _f("worker_data_bundle", WORKER_DATA_BUNDLE_SCHEMA),
)

MSG_BULK_WORKER_PAYLOAD_SCHEMA = _s(
    _f("@type", StringType()),
    _f("nonce", _NONCE),
    _f("sender", StringType()),
    _f("topic_id", StringType()),
    _f("worker_data_bundles", ArrayType(WORKER_DATA_BUNDLE_SCHEMA)),
)

VALUE_BUNDLE_SCHEMA = _s(
    _f("reputer", StringType()),
    _f("topic_id", StringType()),
    _f("extra_data", StringType()),
    _f("naive_value", StringType()),
    _f("combined_value", StringType()),
    _f("inferer_values", ArrayType(_VALUE_WORKER)),
    _f("forecaster_values", ArrayType(_VALUE_WORKER)),
    _f(
        "reputer_request_nonce",
        _s(_f("worker_nonce", _NONCE), _f("reputer_nonce", _NONCE)),
    ),
    _f("one_out_inferer_values", ArrayType(_VALUE_WORKER)),
    _f("one_in_forecaster_values", ArrayType(_VALUE_WORKER)),
    _f("one_out_forecaster_values", ArrayType(_VALUE_WORKER)),
    _f(
        "one_out_inferer_forecaster_values",
        ArrayType(
            _s(
                _f("forecaster", StringType()),
                _f("one_out_inferer_values", ArrayType(_VALUE_WORKER)),
            )
        ),
    ),
)

MSG_REPUTER_PAYLOAD_SCHEMA = _s(
    _f("@type", StringType()),
    _f("sender", StringType()),
    _f(
        "reputer_value_bundle",
        _s(
            _f("pubkey", StringType()),
            _f("signature", StringType()),
            _f("value_bundle", VALUE_BUNDLE_SCHEMA),
        ),
    ),
)

MSG_BULK_REPUTER_PAYLOAD_SCHEMA = _s(
    _f("@type", StringType()),
    _f("sender", StringType()),
    _f("topic_id", StringType()),
    _f(
        "reputer_request_nonce",
        _s(_f("worker_nonce", _NONCE), _f("reputer_nonce", _NONCE)),
    ),
    _f(
        "reputer_value_bundles",
        ArrayType(
            _s(
                _f("pubkey", StringType()),
                _f("signature", StringType()),
                _f("value_bundle", VALUE_BUNDLE_SCHEMA),
            )
        ),
    ),
)

# Per-epoch dicts for the remaining versioned-parse families. The reference
# union structs (types/messages.go) show no field drift across today's
# epochs for these shapes, so every label maps to the same schema object —
# with_versioned_parse collapses that to a single parse (zero cost) while
# keeping the dispatch seam + epoch-coverage fail-fast in place: a future
# epoch that drifts gets its own entry here, nothing else moves.
_ALL_EPOCHS = ("v0.2.14", "v0.3.0", "v0.4.0", "v0.5.0", "v0.6.0")

MSG_FUND_TOPIC_SCHEMAS = {v: MSG_FUND_TOPIC_SCHEMA for v in _ALL_EPOCHS}
MSG_WORKER_PAYLOAD_SCHEMAS = {v: MSG_WORKER_PAYLOAD_SCHEMA for v in _ALL_EPOCHS}
MSG_REPUTER_PAYLOAD_SCHEMAS = {
    v: MSG_REPUTER_PAYLOAD_SCHEMA for v in _ALL_EPOCHS
}

# ---------------------------------------------------------------------------
# Message routes (process_tx.go:66-170 dispatch) as (prefix, suffixes) data.
# The builders' @type filters (ingest._route_spec) and the spec rows'
# presence rules below read the SAME tuples, so the two cannot drift.
#
# The *_BULK routes are gated on the reference's LITERAL prefix check
# HasPrefix("/emissions.v1") (process_tx.go:120-131, 144-155) —
# reproduced exactly, including its quirk: the prefix also matches
# /emissions.v1x.* families (v10, v11, ...), which the reference routes
# through the v1 bulk schema. Matching a stricter "/emissions.v1." here
# would silently DROP a v1x bulk payload the reference processes.
# ---------------------------------------------------------------------------

TOPIC_ROUTE = ("/emissions.v", ("MsgCreateNewTopic", "CreateNewTopicRequest"))
REGISTER_ROUTE = ("/emissions.v", ("MsgRegister", "RegisterRequest"))
SEND_ROUTE = ("/cosmos.bank.v1beta1", ("MsgSend",))
FUND_ROUTE = (
    "/emissions.v",
    ("MsgFundTopic", "FundTopicRequest", "MsgAddStake", "AddStakeRequest"),
)
WORKER_SINGLE_ROUTE = (
    "/emissions.v",
    ("MsgInsertWorkerPayload", "InsertWorkerPayloadRequest"),
)
WORKER_BULK_ROUTE = ("/emissions.v1", ("MsgInsertBulkWorkerPayload",))
REPUTER_SINGLE_ROUTE = (
    "/emissions.v",
    ("MsgInsertReputerPayload", "InsertReputerPayloadRequest"),
)
REPUTER_BULK_ROUTE = ("/emissions.v1", ("MsgInsertBulkReputerPayload",))


def _check_route_literals(*specs: tuple) -> None:
    """Raise ValueError for a route literal that would break out of the
    SQL string literal ingest._route inlines it into."""
    for prefix, suffixes in specs:
        for lit in (prefix, *suffixes):
            if any(c in lit for c in "'\"\\"):
                raise ValueError(
                    f"route literal {lit!r} contains a quote or backslash"
                )


_check_route_literals(
    TOPIC_ROUTE, REGISTER_ROUTE, SEND_ROUTE, FUND_ROUTE,
    WORKER_SINGLE_ROUTE, WORKER_BULK_ROUTE,
    REPUTER_SINGLE_ROUTE, REPUTER_BULK_ROUTE,
)

# Postgres ENUM domain for bundle-value type tags (reputerValueType /
# networklossBundleValueType, db.go:340-350, 442-452). The DDL declares 5
# labels, but the reference's own inserts write a 6th
# ('OneOutInfererForecasterValues', db.go:1628-1646) — we validate against
# what the reference WRITES, and note the DDL/insert divergence here.
VALUE_BUNDLE_TAGS = [
    "InfererValues",
    "ForecasterValues",
    "OneOutInfererValues",
    "OneInForecasterValues",
    "OneOutForecasterValues",
    "OneOutInfererForecasterValues",
]


# ---------------------------------------------------------------------------
# The output tables of the reference's model (db.go:54-78), one row
# each: the ingest builders' tables plus consensus_params. A row is
# everything the engine knows about a table apart from its builder (the
# two per-feed builder dicts in plans/ingest.py), and every consumer
# iterates this list: presence pruning, the span set, the writer choice
# in warehouse.write_tables, merge-on-read resolution, the FK write order,
# integrity_report, table_health, precreation and both streaming sinks.
# tests/test_ingest.py::test_table_specs_agree_with_builders checks the
# rows against the builders' frames.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TableSpec:
    """One output table.

    - ``keys``: the natural key (the reference's unique constraints,
      db.go:1654-1686, become merge keys); non-null by construction.
    - ``feed``: the streaming sink that writes it, "block" or "event";
      None for a table no sink writes.
    - presence (which batches CAN give the table rows; an under-
      approximation silently drops writes, an over-approximation only
      wastes an empty one): ``always`` — every batch, a row per block
      even for an empty block; else ``routes`` — the @type routes that
      feed a block-feed table; else ``family`` — the whitelist family
      that feeds an event-feed table (flat_events routes exactly one
      family per event); with none of these, any batch with a root row.
    - ``span``: the table's probe-prune column (warehouse._prune_col
      over ``keys``) is DERIVED FROM THE FEED'S BLOCK HEIGHT, so a
      micro-batch's block-height span covers every row's prune value and
      may stand in for the per-table min/max aggregation
      (write_insert_if_absent(key_span=...)). Pinned by
      tests/test_ingest.py::test_block_span_covers_prune_columns.
    - ``keep_one``: (column, descending) order that picks the row kept on
      key collision — the table is written by warehouse.write_keep_one
      (ON CONFLICT DO UPDATE, K5/K6), which appends each batch's per-key
      winners, and every read, fold and compact keeps the first row per
      key under this order (merge-on-read); it never takes a span.
      Empty: the table is insert-if-absent (ON CONFLICT DO NOTHING,
      K1/K4).
    - ``fks``: (child_cols, parent, parent_cols) logical foreign keys —
      the relationships the reference's DDL declares (db.go:359-389;
      Postgres enforcement is commented out there, the ingest order is
      what really guarantees them) plus the parent/child cascades the
      builders create (K7). Nothing enforces them at write time:
      parents-before-children ordering in write_tables() is the
      operational guarantee, and warehouse.integrity_report() AUDITS
      them. NULL child keys are exempt (SQL FK semantics — F7's
      quarantine rows must not read as orphans).
    - ``enums``: (column, allowed values) CHECK-style domains (Spark has
      no enum type; the merge keys + these expectations replace the
      Postgres constraints — K8). NULL passes.
    """

    name: str
    keys: tuple[str, ...]
    feed: str | None = None
    always: bool = False
    routes: tuple[tuple[str, tuple[str, ...]], ...] = ()
    family: str | None = None
    span: bool = False
    keep_one: tuple[tuple[str, bool], ...] = ()
    fks: tuple[tuple[tuple[str, ...], str, tuple[str, ...]], ...] = ()
    enums: tuple[tuple[str, tuple[str, ...]], ...] = ()


_WORKER_ROUTES = (WORKER_SINGLE_ROUTE, WORKER_BULK_ROUTE)
_REPUTER_ROUTES = (REPUTER_SINGLE_ROUTE, REPUTER_BULK_ROUTE)
_BUNDLE = ("message_height", "message_id", "bundle_idx")
_NETWORKLOSS = ("height_tx", "height", "topic_id")
_BLOCK_FK = ((("height",), "block_info", ("height",)),)
_MESSAGE_FK = (
    (("message_height", "message_id"), "messages", ("height", "message_id")),
)
_TOPIC_FK = ((("topic_id",), "topics", ("id",)),)
_VALUE_TYPE_ENUM = (("reputer_value_type", tuple(VALUE_BUNDLE_TAGS)),)
# ascending raw-value tiebreaks mirror the BUILDERS' deterministic
# same-height_tx survivor (ingest.scores/rewards/ema_scores): the
# write-side merge must keep the same row the builder would, or a
# replayed batch carrying a key whose height_tx ties the stored row's
# could flip the survivor arbitrarily between runs
_SCORE_ORDER = (("height_tx", True), ("value_raw", False))

TABLE_SPECS: dict[str, TableSpec] = {s.name: s for s in (
    # --- block feed (the tx path), in sink write order. block_info and
    # messages are present structurally: a row per block, a row per
    # message, whatever the routing. *_height message tables are span-
    # covered: message_height = CAST(height).
    TableSpec("block_info", ("height",), "block", always=True, span=True),
    # UNIQUE(height, hash) per db.go:1662-1668 — an in-block duplicate tx
    # is ONE message row (tx_idx/msg_idx of the first occurrence survive
    # as ordinary columns)
    TableSpec("messages", ("height", "hash"), "block", span=True,
              fks=_BLOCK_FK),
    # not span-covered: the prune column `id` is a creation-order rank
    TableSpec("topics", ("id",), "block", routes=(TOPIC_ROUTE,)),
    # addr_key = coalesce(address, pub_key): the table holds BOTH address
    # rows and reputer-bundle pubkey-only rows (address NULL,
    # process_tx.go:202/252), and natural keys must be non-null. Not
    # span-covered: addr_key is a string identity.
    TableSpec("addresses", ("addr_key",), "block", routes=(
        SEND_ROUTE, FUND_ROUTE, REGISTER_ROUTE, *_REPUTER_ROUTES,
        TOPIC_ROUTE,
    )),
    TableSpec("worker_registrations",
              ("message_height", "message_id", "topic_id"), "block",
              routes=(REGISTER_ROUTE,), span=True,
              fks=_MESSAGE_FK + _TOPIC_FK),
    TableSpec("transfers", ("message_height", "message_id"), "block",
              routes=(SEND_ROUTE, FUND_ROUTE), span=True, fks=_MESSAGE_FK),
    TableSpec("inferences", _BUNDLE, "block", routes=_WORKER_ROUTES,
              span=True, fks=_MESSAGE_FK),
    TableSpec("forecasts", _BUNDLE, "block", routes=_WORKER_ROUTES,
              span=True, fks=_MESSAGE_FK),
    TableSpec("forecast_values", _BUNDLE + ("element_idx",), "block",
              routes=_WORKER_ROUTES, span=True,
              fks=((_BUNDLE, "forecasts", _BUNDLE),)),
    TableSpec("reputer_payload", _BUNDLE, "block", routes=_REPUTER_ROUTES,
              span=True, fks=_MESSAGE_FK),
    TableSpec("reputer_bundles", _BUNDLE, "block", routes=_REPUTER_ROUTES,
              span=True, fks=((_BUNDLE, "reputer_payload", _BUNDLE),)),
    TableSpec("bundle_values", _BUNDLE + ("reputer_value_type", "value_idx"),
              "block", routes=_REPUTER_ROUTES, span=True,
              fks=((_BUNDLE, "reputer_bundles", _BUNDLE),),
              enums=_VALUE_TYPE_ENUM),
    # --- event feed, in sink write order. `events` keeps every
    # whitelisted row; height (events) and height_tx (the scalar tables)
    # are the result feed's height, hence span-covered.
    TableSpec("events", ("height", "hash", "type"), "event", span=True,
              fks=_BLOCK_FK),
    TableSpec("scores", ("height", "topic_id", "type", "address"), "event",
              family="score", keep_one=_SCORE_ORDER, fks=_TOPIC_FK),
    TableSpec("rewards", ("height", "topic_id", "type", "address"), "event",
              family="reward", keep_one=_SCORE_ORDER, fks=_TOPIC_FK),
    # networklosses and its bundle values are not span-covered: their
    # keys carry BOTH height_tx and `height`, and _prune_col picks
    # `height` — the event's block_height ATTRIBUTE, a nonce-like value
    # the feed span does not cover
    TableSpec("networklosses", _NETWORKLOSS, "event", family="network_loss",
              fks=_TOPIC_FK),
    TableSpec("networkloss_bundle_values",
              _NETWORKLOSS + ("reputer_value_type", "value_idx"), "event",
              family="network_loss",
              fks=((_NETWORKLOSS, "networklosses", _NETWORKLOSS),),
              enums=_VALUE_TYPE_ENUM),
    TableSpec("ema_scores", ("topic_id", "type", "address", "height"),
              "event", family="ema_score", keep_one=(
                  ("height_tx", True), ("score_raw", False),
                  ("is_active", False),
              ), fks=_TOPIC_FK),
    TableSpec("last_commit_values", ("topic_id", "is_worker"), "event",
              family="actor_last_commit",
              keep_one=(("height_tx", True), ("height", True)),
              fks=_TOPIC_FK),
    TableSpec("topic_rewards", ("topic_id", "height_tx"), "event",
              family="topic_reward", span=True, fks=_TOPIC_FK),
    TableSpec("topic_forecasting_scores", ("topic_id", "height_tx"), "event",
              family="forecast_task_score", span=True, fks=_TOPIC_FK),
    TableSpec("tokenomics", ("height_tx",), "event", family="tokenomics",
              span=True),
    TableSpec("ecosystem_token_mint", ("height_tx", "block_height"), "event",
              family="ecosystem_token_mint", span=True),
    TableSpec("reward_current_block_emission", ("height_tx", "block_height"),
              "event", family="reward_current_block_emission", span=True),
    # --- the one-shot chain-state snapshot (ingest.read_consensus_params)
    TableSpec("consensus_params", ("height",)),
)}

# natural keys by table, as the lists the writers' Spark calls take
TABLE_KEYS: dict[str, list[str]] = {
    n: list(s.keys) for n, s in TABLE_SPECS.items()
}


# ---------------------------------------------------------------------------
# DDL export (round 17): the ingest builders batch their projections into
# single selectExpr calls (see functions/events.py's module note), and
# an inline `from_json(col, '<ddl>')` needs the schema as DDL text. The
# conversion goes through the JVM's own StructType.toDDL — the StructType
# object above stays the single source of truth — and is cached per
# schema object, so it costs two py4j calls once per process. The entry
# holds the schema itself: an id() is only unique while its object lives,
# so a cache that let the schema die could hand a later schema, allocated
# at the same address, the dead one's DDL.
# ---------------------------------------------------------------------------

_DDL_CACHE: dict[int, tuple[StructType, str]] = {}


def ddl(spark, schema: StructType) -> str:
    """DDL text of ``schema`` (e.g. "`a` STRING, `b` BIGINT"), suitable
    for inline SQL ``from_json``. Cached per schema object identity."""
    hit = _DDL_CACHE.get(id(schema))
    if hit is not None:
        return hit[1]
    jdt = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
        schema.json()
    )
    out = jdt.toDDL()
    _DDL_CACHE[id(schema)] = (schema, out)
    return out
