"""Batch ingest plan: raw block / block_results feeds → the 23-table model.

Spark-first redesign of the reference pipeline (SURVEY.md §3):

  reference (Go)                         this plan (Catalyst)
  ------------------------------------   --------------------------------------
  worker goroutines per height           partition-parallel DataFrame over heights
  allorad tx decode subprocess (S5)      unbase64 + from_json with typed schema
  @type switch dispatch (F4)             one filtered+parsed DataFrame per route
  per-row INSERT ... RETURNING id (K2)   deterministic natural keys, no round-trip
  waitCreation FK retry loop (A4/T4)     parents and children built from the same
                                         lineage — ordering holds by construction
  ON CONFLICT DO NOTHING (K1/K4)         dropDuplicates on the natural key
  ON CONFLICT DO UPDATE (K5/K6)          window keep-latest (row_number = 1)

Natural keys: message_id = height*1_000_000 + tx_idx*1_000 + msg_idx (unique
for <1000 txs/block and <1000 msgs/tx — the chain's actual envelope), child
tables extend it with bundle/element indexes. Every output is therefore
idempotent under replay — reprocessing a height yields byte-identical rows,
which is the reference's at-least-once + unique-constraint contract (T3).

Scale notes: the whole plan is narrow (explode/filter/project) except the
final per-table dropDuplicates, which shuffles on each table's natural key —
the same key the table would be partitioned by at rest. No join touches two
fact-sized inputs; the only windows partition by low-cardinality keys
(topic_id, actor class). At 100 TB the input feed arrives partitioned by
height range, and every stage here preserves that partitioning until the
keyed dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from allora_indexer_spark import schemas
from allora_indexer_spark.functions.events import (
    attrs_to_map_sql,
    event_family_sql,
    is_invalid_numeric_sql,
    is_reputer_last_commit_sql,
    is_whitelisted_sql,
    strip_quotes_sql,
)

DECIMAL = "decimal(38,18)"

# Version-epoch decode dispatch (DecodeTx, /root/reference/execute.go:82-109):
# the binary-selection table becomes plain data.
DECODER_EPOCHS = [
    (1574267, "v0.6.0"),
    (1296200, "v0.5.0"),
    (1004550, "v0.4.0"),
    (812000, "v0.3.0"),
    (0, "v0.2.14"),
]


def decoder_version_sql(height: str) -> str:
    """The decoder epoch label of ``height`` (a SQL expression), as SQL
    text: the reference picks the highest matching epoch
    (execute.go:88-98), e.g. height 1600000 → v0.6.0, not v0.3.0, so the
    CASE arms are emitted highest bound first. Column callers wrap it in
    ``F.expr``."""
    arms = " ".join(
        f"WHEN {height} >= {bound} THEN '{version}'"
        for bound, version in DECODER_EPOCHS[:-1]
    )
    return f"CASE {arms} ELSE '{DECODER_EPOCHS[-1][1]}' END"


def with_versioned_parse(
    df: DataFrame,
    data: Column,
    version: Column,
    schemas_by_version: dict,
    out: str = "m",
) -> DataFrame:
    """S5 version-routed decode: parse ``data`` under the schema of the row's
    decoder epoch and surface the UNION of all epochs' fields as struct
    column ``out`` — a field a given epoch's decoder does not emit is NULL
    for that epoch's rows *by schema declaration*, not by silent parse miss.
    This is the DataFrame analog of the reference's per-epoch decoder
    binaries (DecodeTx, /root/reference/execute.go:82-109): the binary
    choice table becomes a when() dispatch over ``decoder_version``.

    Columnar mechanics: one gated from_json per DISTINCT schema (not per
    version), each materialized in its own projection before field
    extraction — re-referencing the parse per union field would otherwise
    let OptimizeJsonExprs split it into one pruned parse per field (~17x
    the JSON-decode cost for the topic family)."""
    # Fail fast on an unmapped epoch: a DECODER_EPOCHS label missing from
    # the schema dict would otherwise fall through every when() gate and
    # yield all-NULL structs for that epoch's rows — exactly the silent
    # parse miss this dispatch exists to eliminate.
    missing = {label for _, label in DECODER_EPOCHS} - set(schemas_by_version)
    if missing:
        raise ValueError(
            f"schemas_by_version lacks decoder epochs {sorted(missing)}; "
            "every DECODER_EPOCHS label needs a parse schema"
        )
    # group version labels by schema object identity
    by_schema: list[tuple[object, list[str]]] = []
    for ver, sch in schemas_by_version.items():
        for sch2, vers in by_schema:
            if sch2 is sch:
                vers.append(ver)
                break
        else:
            by_schema.append((sch, [ver]))
    # ``data``/``version`` are Column objects from the caller; everything
    # else is batched as SQL text (round 17 — one selectExpr per step
    # instead of one withColumn per schema + one F.coalesce per field,
    # see functions/events.py's module note)
    tmp = [f"__parse_{i}" for i in range(len(by_schema))]
    parse_step = df.select(
        "*",
        *[
            F.when(version.isin(vers), F.from_json(data, sch)).alias(tmp[i])
            for i, (sch, vers) in enumerate(by_schema)
        ],
    )
    # union field list, first-seen order; coalesce across the variants that
    # declare the field (missing-from-schema access would be an analysis
    # error, so each field pulls only from its declaring variants)
    fields: list[tuple[str, list[int]]] = []
    for i, (sch, _) in enumerate(by_schema):
        for f in sch.fieldNames():
            for name, idxs in fields:
                if name == f:
                    idxs.append(i)
                    break
            else:
                fields.append((f, [i]))
    combined = ", ".join(
        "coalesce({}) AS `{}`".format(
            ", ".join(f"{tmp[i]}.`{name}`" for i in idxs), name
        )
        for name, idxs in fields
    )
    return parse_step.selectExpr(
        *[f"`{c}`" for c in df.columns], f"struct({combined}) AS {out}"
    )


# ---------------------------------------------------------------------------
# Sources (S2/S4): JSONL feeds with explicit schemas, no inference.
# ---------------------------------------------------------------------------


def with_block_height(raw: DataFrame) -> DataFrame:
    """Height/time extraction + validity gate: rows whose payload did not
    decode to a height are dropped (the reference logs-and-skips failed
    heights, main.go:270-307 — permissive from_json + this filter is the
    declarative analog)."""
    return (
        raw.withColumn("height", F.col("header.height").cast("long"))
        .withColumn("block_time", F.to_timestamp("header.time"))
        .filter(F.col("height").isNotNull())
    )


def with_result_height(raw: DataFrame) -> DataFrame:
    return raw.withColumn(
        "height", F.col("result.height").cast("long")
    ).filter(F.col("height").isNotNull())


def read_blocks(spark: SparkSession, path: str) -> DataFrame:
    return with_block_height(spark.read.schema(schemas.RAW_BLOCK_SCHEMA).json(path))


def read_block_results(spark: SparkSession, path: str) -> DataFrame:
    return with_result_height(
        spark.read.schema(schemas.RAW_BLOCK_RESULTS_SCHEMA).json(path)
    )


# ---------------------------------------------------------------------------
# Block header → block_info (K1: idempotent append, PK height)
# ---------------------------------------------------------------------------


def block_info(blocks: DataFrame) -> DataFrame:
    """19 header columns (createBlockInfoTableSQL, db.go:178-201). One
    selectExpr call — the whole projection crosses py4j once (round 17,
    see functions/events.py's module note)."""
    return blocks.selectExpr(
        "block_id.hash AS block_hash",
        "block_id.part_set_header.total AS block_total_parts",
        "block_id.part_set_header.hash AS block_part_set_header_hash",
        "header.version.block AS block_version",
        "header.chain_id AS chain_id",
        "height",
        "block_time",
        "header.last_block_id.hash AS last_block_hash",
        "header.last_block_id.part_set_header.total"
        " AS last_block_total_parts",
        "header.last_block_id.part_set_header.hash"
        " AS last_block_part_set_header_hash",
        "header.last_commit_hash AS last_commit_hash",
        "header.data_hash AS data_hash",
        "header.validators_hash AS validators_hash",
        "header.next_validators_hash AS next_validators_hash",
        "header.consensus_hash AS consensus_hash",
        "header.app_hash AS app_hash",
        "header.last_results_hash AS last_results_hash",
        "header.evidence_hash AS evidence_hash",
        "header.proposer_address AS proposer_address",
    ).dropDuplicates(["height"])


# ---------------------------------------------------------------------------
# Tx path (E1/E2, S5, F4, F5): blocks → messages → routed typed tables
# ---------------------------------------------------------------------------

# ONE decode for the type discriminator AND the sender candidates: the
# hottest path pays a single JSON parse per message (two separate
# from_json(data, ...) calls ran two full parses of every message body)
_ENVELOPE_SCHEMA = (
    "STRUCT<`@type`: STRING, creator: STRING, sender: STRING,"
    " from_address: STRING>"
)


def messages(blocks: DataFrame) -> DataFrame:
    """Explode block → txs → messages; decode the tx blob; extract the type
    discriminator and the coalesced sender (processTx, process_tx.go:21-173).

    The natural message_id replaces the SERIAL id + RETURNING round-trip."""
    tx_ddl = schemas.ddl(blocks.sparkSession, schemas.TX_SCHEMA)
    txs = blocks.selectExpr(
        "height",
        "posexplode(data.txs) AS (tx_idx, tx_b64)",
    )
    decoded = txs.selectExpr(
        "height",
        "tx_idx",
        f"{decoder_version_sql('height')} AS decoder_version",
        f"from_json(CAST(unbase64(tx_b64) AS STRING), '{tx_ddl}') AS tx",
    )
    msgs = decoded.selectExpr(
        "height",
        "tx_idx",
        "decoder_version",
        "posexplode(tx.body.messages) AS (msg_idx, data)",
    )
    # message_id packs (height, tx_idx, msg_idx) into one natural key;
    # the packing silently COLLIDES past 1000 msgs/tx or txs/block
    # (msg_idx=1000 == next tx's msg_idx=0), and the idempotent writer
    # would then drop legitimate child rows as duplicates — so the
    # envelope is enforced, not hoped for: assert_true rides the
    # message_id expression itself (un-prunable) and fails the batch
    # loudly on the first out-of-envelope row.
    _pack_guard = (
        "coalesce(CAST(assert_true(tx_idx < 1000 AND msg_idx < 1000, "
        "'message_id packing overflow: tx_idx/msg_idx >= 1000 "
        "(widen the packing factors before ingesting this chain)') "
        "AS LONG), 0)"
    )
    # ONE envelope parse materialized in its own projection — four
    # independent from_json(data, ...).getField(...) refs would let
    # OptimizeJsonExprs split them into four pruned JSON decodes per
    # message on the hottest path (the with_versioned_parse trap,
    # documented there); type and sender now share the single decode
    typed = msgs.selectExpr(
        "*", f"from_json(data, '{_ENVELOPE_SCHEMA}') AS _envelope"
    ).selectExpr(
        "height",
        "tx_idx",
        "msg_idx",
        "decoder_version",
        "height * 1000000L + tx_idx * 1000 + msg_idx"
        f" + {_pack_guard} AS message_id",
        "_envelope.`@type` AS type",
        "coalesce(_envelope.creator, _envelope.sender,"
        " _envelope.from_address) AS sender",
        "data",
        "xxhash64(data) AS hash",
    )
    # Key parity with the reference: messages dedup on (height, hash) —
    # UNIQUE(height, hash), /root/reference/db.go:1662-1668 — so an
    # identical tx duplicated WITHIN a block collapses to one row, first
    # occurrence winning (the reference's first INSERT succeeds, the
    # second hits the constraint). row_number over (tx_idx, msg_idx)
    # keeps the survivor deterministic where dropDuplicates would not.
    return (
        typed.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY height, hash"
            " ORDER BY tx_idx, msg_idx) AS _rn",
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def _route(
    msgs: DataFrame, *suffixes: str, prefix: str = "/emissions.v"
) -> DataFrame:
    """@type dispatch = module-PREFIX gate + suffix match (process_tx.go:
    66-170; both Msg* and *Request forms are accepted). The prefix gate is
    part of the reference contract: every emissions arm requires
    HasPrefix("/emissions.v") and MsgSend requires "/cosmos.bank.v1beta1"
    — without it a same-named FOREIGN-module message (e.g.
    /cosmos.nft.v1beta1.MsgSend, or any *.MsgCreateNewTopic) would
    fabricate rows the reference never inserts, and a foreign topic
    create would permanently shift every subsequent topic id. Suffix
    match keeps the '.' separator so MsgInsertWorkerPayload does not
    swallow its Bulk variant. No suffixes routes nothing. The literals are
    inlined into SQL string literals; schemas._check_route_literals keeps
    quotes out of them."""
    if not suffixes:
        return msgs.filter("false")
    cond = " OR ".join(f"endswith(type, '.{s}')" for s in suffixes)
    return msgs.filter(f"startswith(type, '{prefix}') AND ({cond})")


def _route_spec(msgs: DataFrame, spec: tuple) -> DataFrame:
    """Route by one of the schemas.*_ROUTE (prefix, suffixes) tuples —
    the same tuples the table specs' presence rules read."""
    prefix, suffixes = spec
    return _route(msgs, *suffixes, prefix=prefix)


def topics(
    msgs: DataFrame,
    chain_topics: DataFrame | None = None,
    skip_unmatched: bool = False,
    existing_topics: DataFrame | None = None,
) -> DataFrame:
    """CreateNewTopic → topics. Topic ids are assigned by global creation
    order (rank of (height, tx_idx, msg_idx)) — the deterministic
    replacement for the reference's chain-state next-topic-id lookup at
    height (S6, process_topic.go:17-111). Numbering is height-partitioned
    with broadcast cumulative offsets — no unpartitioned window over the
    data (see the inline note).

    ``chain_topics`` is the optional chain-state snapshot (columns: id,
    metadata) standing in for the reference's topicById point lookup.
    When given, each created topic is reconciled against chain state by
    metadata equality (process_topic.go:44-58) into ``metadata_matched``:
    True = chain agrees, False = mismatched create. The reference silently
    SKIPS the insert on mismatch; the default here keeps and flags the row
    so the divergence is observable, and ``skip_unmatched=True`` reproduces
    the reference's skip exactly (rows with ``metadata_matched = False``
    are dropped; unverified NULL rows are kept). Without a snapshot the
    column is NULL (unverified). Broadcast join: the topic dimension is
    tiny by nature.

    ``existing_topics`` (the warehouse's current topics table) makes the
    numbering CONTINUE across calls — the streaming path passes it so a
    later micro-batch does not restart at id 1 and collide with written
    rows (write_insert_if_absent keys topics on ``id``, so a collision
    silently drops the new create). The offset is the MAX id among
    topics created at strictly EARLIER heights than this batch's first
    create, which makes replays idempotent: a redelivered batch's own
    previously-written rows sit inside its height span, are excluded
    from the offset, and the recomputed ids are identical — the anti-join
    then dedups them exactly. (Block feeds are height-ordered, and a
    block's messages never split across micro-batches, so "earlier
    height" is the correct batch boundary.)"""
    # S5: the parse schema follows the row's decoder epoch — legacy
    # WASM-logic fields (loss_logic, preward_*, ...) exist only for
    # v0.2.14-era heights; modern epochs declare them away.
    parsed = with_versioned_parse(
        _route_spec(msgs, schemas.TOPIC_ROUTE),
        F.col("data"),
        F.col("decoder_version"),
        schemas.MSG_CREATE_NEW_TOPIC_SCHEMAS,
    ).select("height", "tx_idx", "msg_idx", "message_id", "m")
    # Global creation-order ids WITHOUT a global single-partition sort:
    # number within each height (partitioned window — parallel), then add
    # a per-height cumulative offset computed over the per-height COUNTS.
    # The offsets window is unpartitioned but runs on one row per creation
    # height — dimension-sized by nature (topic creation is rare), never
    # the event stream — and the offset join is an explicit broadcast, so
    # no stage funnels the full data through one task at any scale.
    offsets = (
        parsed.groupBy("height")
        .agg(F.count("*").alias("_n"))
        .selectExpr(
            "height",
            "coalesce(sum(_n) OVER (ORDER BY height ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _off",
        )
    )
    parsed = parsed.join(F.broadcast(offsets), "height")
    base_id = 0
    if existing_topics is not None:
        # two tiny driver-side scalars, once per call: topic creates are
        # rare, and the route filter bounds both jobs to the batch's
        # CreateNewTopic rows / the dimension-sized topics table
        lo = parsed.agg(F.min("height")).collect()[0][0]
        if lo is not None:
            base_id = (
                existing_topics.filter(
                    F.col("message_height") < F.lit(int(lo))
                )
                .agg(F.coalesce(F.max("id"), F.lit(0)))
                .collect()[0][0]
            )
    return parsed.selectExpr(
        "CAST(row_number() OVER (PARTITION BY height ORDER BY tx_idx,"
        f" msg_idx) + _off + {int(base_id)} AS INT) AS id",
        "m.creator AS creator",
        "m.metadata AS metadata",
        "m.loss_logic AS loss_logic",
        "m.loss_method AS loss_method",
        "m.inference_logic AS inference_logic",
        "m.inference_method AS inference_method",
        "m.epoch_length AS epoch_length",
        "m.ground_truth_lag AS ground_truth_lag",
        "m.default_arg AS default_arg",
        "m.pnorm AS pnorm",
        "m.alpha_regret AS alpha_regret",
        "m.preward_reputer AS preward_reputer",
        "m.preward_inference AS preward_inference",
        "m.preward_forecast AS preward_forecast",
        "m.f_tolerance AS f_tolerance",
        "m.allow_negative AS allow_negative",
        "CAST(height AS INT) AS message_height",
        "message_id",
    ).transform(lambda t: _reconcile_topics(t, chain_topics, skip_unmatched))


def _reconcile_topics(
    created: DataFrame,
    chain_topics: DataFrame | None,
    skip_unmatched: bool = False,
) -> DataFrame:
    """S6 metadata reconciliation (process_topic.go:44-58) as a validation
    column. NULL = no chain snapshot to check against.

    Presence is tracked by a join marker (not metadata non-nullness) and
    equality is null-safe, so a chain row carrying NULL metadata compares
    as a real value: present + both NULL → True, present + one NULL →
    False — never the NULL that is reserved for "no snapshot"."""
    if chain_topics is None:
        return created.withColumn(
            "metadata_matched", F.lit(None).cast("boolean")
        )
    chain = F.broadcast(
        chain_topics.selectExpr(
            "CAST(id AS INT) AS id",
            "metadata AS _chain_metadata",
            "true AS _chain_present",
        )
    )
    out = created.join(chain, "id", "left").selectExpr(
        *[f"`{c}`" for c in created.columns],
        "coalesce(_chain_present, false)"
        " AND (_chain_metadata <=> metadata) AS metadata_matched",
    )
    if skip_unmatched:
        # process_topic.go:44-58 parity: drop mismatched creates outright;
        # unverified rows (no snapshot given for the id) have no chain
        # verdict to act on and are kept.
        out = out.filter("metadata_matched IS NULL OR metadata_matched")
    return out


def worker_registrations(msgs: DataFrame) -> DataFrame:
    """S5: the registration parse follows the row's decoder epoch — the
    WASM-era lib_p2p_key field exists only for v0.2.14-era heights
    (schemas.MSG_REGISTER_SCHEMAS); modern epochs null it by declaration."""
    parsed = with_versioned_parse(
        _route_spec(msgs, schemas.REGISTER_ROUTE),
        F.col("data"),
        F.col("decoder_version"),
        schemas.MSG_REGISTER_SCHEMAS,
    ).select("height", "message_id", "m")
    return parsed.selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "m.sender AS sender",
        "CAST(m.topic_id AS INT) AS topic_id",
        "m.owner AS owner",
        "m.lib_p2p_key AS worker_libp2pkey",
        "m.is_reputer AS is_reputer",
    ).dropDuplicates(["message_height", "message_id"])


def transfers(msgs: DataFrame) -> DataFrame:
    """MsgSend (first coin of the amount list, insertMsgSend
    process_tx.go:558-586) ∪ FundTopic/AddStake (denom fixed 'uallo',
    insertMsgFundTopic process_tx.go:526-557)."""
    send_ddl = schemas.ddl(msgs.sparkSession, schemas.MSG_SEND_SCHEMA)
    send = _route_spec(msgs, schemas.SEND_ROUTE).selectExpr(
        "height",
        "message_id",
        f"from_json(data, '{send_ddl}') AS m",
    ).selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "m.from_address AS from_address",
        "CAST(NULL AS INT) AS topic_id",
        "m.to_address AS to_address",
        "element_at(m.amount, 1).amount AS amount",
        "element_at(m.amount, 1).denom AS denom",
    )
    # S5: epoch-keyed parse (one shape across today's epochs — see
    # schemas.MSG_FUND_TOPIC_SCHEMAS); MsgSend stays single-schema, it is
    # a cosmos-sdk bank message outside the emissions versioning domain.
    fund = with_versioned_parse(
        _route_spec(msgs, schemas.FUND_ROUTE),
        F.col("data"),
        F.col("decoder_version"),
        schemas.MSG_FUND_TOPIC_SCHEMAS,
    ).select("height", "message_id", "m").selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "m.sender AS from_address",
        "CAST(m.topic_id AS INT) AS topic_id",
        "CAST(NULL AS STRING) AS to_address",
        "m.amount AS amount",
        "'uallo' AS denom",
    )
    return send.unionByName(fund).dropDuplicates(["message_height", "message_id"])


def addresses(msgs: DataFrame, raw: DataFrame | None = None) -> DataFrame:
    """Entity table: every address observed in any message arm PLUS the
    reputer-bundle PUBKEY rows (insertAddress call sites,
    process_tx.go:467-586 and the pubkey inserts at process_tx.go:202,
    252 — address NULL, pub_key set). Natural key: ``addr_key`` =
    coalesce(address, pub_key), the non-null identity the reference's
    unique-violation skip dedups on in spirit (its DDL has no
    constraint, so raw inserts actually duplicate — the keyed dedup here
    is the deliberate improvement, see README divergences).

    Single-schema parses are deliberate here: this builder projects only
    epoch-stable fields (sender / from_address / to_address / pubkey,
    present in every epoch's shape), so the union schema is version-safe
    without the versioned dispatch the field-drifting builders need."""
    spark = msgs.sparkSession
    send_ddl = schemas.ddl(spark, schemas.MSG_SEND_SCHEMA)
    send = _route_spec(msgs, schemas.SEND_ROUTE).selectExpr(
        f"from_json(data, '{send_ddl}') AS m"
    )
    reg_ddl = schemas.ddl(spark, schemas.MSG_REGISTER_SCHEMA)
    fund_ddl = schemas.ddl(spark, schemas.MSG_FUND_TOPIC_SCHEMA)
    outs = [
        send.selectExpr("m.from_address AS address"),
        send.selectExpr("m.to_address AS address"),
        _route_spec(msgs, schemas.REGISTER_ROUTE).selectExpr(
            f"from_json(data, '{reg_ddl}').sender AS address"
        ),
        _route_spec(msgs, schemas.FUND_ROUTE).selectExpr(
            f"from_json(data, '{fund_ddl}').sender AS address"
        ),
        # topic CREATOR rows (insertAddress in insertMsgCreateNewTopic,
        # process_topic.go:54): the reference inserts the creator only
        # for metadata-RECONCILED creates; this engine's topic policy is
        # keep-and-flag rather than skip (see topics() / README's known
        # divergence), so the creator row is inserted for every create —
        # a superset of the reference on unreconciled creates, matching
        # the documented policy
        _route_spec(msgs, schemas.TOPIC_ROUTE).selectExpr(
            "from_json(data, 'STRUCT<creator: STRING>').creator AS address"
        ),
    ]
    all_addrs = outs[0]
    for o in outs[1:]:
        all_addrs = all_addrs.unionByName(o)
    addr_rows = (
        all_addrs.filter("address IS NOT NULL AND address != ''")
        .distinct()
        .selectExpr(
            "CAST(NULL AS STRING) AS pub_key",
            "'allora' AS type",
            "CAST(NULL AS STRING) AS memo",
            "address",
        )
    )
    # the reference also inserts one addresses row PER REPUTER BUNDLE
    # carrying only the pubkey (address NULL) — both the bulk and single
    # arms (process_tx.go:202, 252). ``raw`` shares the caller's already-
    # built bundle subtree (build_tables_for_blocks passes rb).
    pk_rows = (
        (_reputer_bundles_raw(msgs) if raw is None else raw)
        .selectExpr("rb.pubkey AS pub_key")
        .filter("pub_key IS NOT NULL AND pub_key != ''")
        .distinct()
        .selectExpr(
            "pub_key",
            "'allora' AS type",
            "CAST(NULL AS STRING) AS memo",
            "CAST(NULL AS STRING) AS address",
        )
    )
    return addr_rows.unionByName(pk_rows).selectExpr(
        "*", "coalesce(address, pub_key) AS addr_key"
    )


def _worker_bundles(msgs: DataFrame) -> DataFrame:
    """Single + bulk worker payloads → one exploded bundle stream
    (insertWorkerPayload / insertBulkWorkerPayload, process_tx.go:292-449).
    Bulk messages carry the nonce at the message level, singles at the
    bundle level — coalesced here."""
    single = with_versioned_parse(
        _route_spec(msgs, schemas.WORKER_SINGLE_ROUTE),
        F.col("data"),
        F.col("decoder_version"),
        schemas.MSG_WORKER_PAYLOAD_SCHEMAS,
    ).select("height", "message_id", "m").selectExpr(
        "height",
        "message_id",
        "CAST(NULL AS STRING) AS msg_nonce",
        "CAST(NULL AS STRING) AS msg_topic_id",
        "array(m.worker_data_bundle) AS bundles",
    )
    bulk_ddl = schemas.ddl(
        msgs.sparkSession, schemas.MSG_BULK_WORKER_PAYLOAD_SCHEMA
    )
    bulk = _route_spec(msgs, schemas.WORKER_BULK_ROUTE).selectExpr(
        "height",
        "message_id",
        f"from_json(data, '{bulk_ddl}') AS m",
    ).selectExpr(
        "height",
        "message_id",
        "m.nonce.block_height AS msg_nonce",
        "m.topic_id AS msg_topic_id",
        "m.worker_data_bundles AS bundles",
    )
    return single.unionByName(bulk).selectExpr(
        "height",
        "message_id",
        "msg_nonce",
        "msg_topic_id",
        "posexplode(bundles) AS (bundle_idx, b)",
    ).selectExpr(
        "*",
        "CAST(coalesce(msg_nonce, b.nonce.block_height) AS INT)"
        " AS nonce_block_height",
        # the reference's topic_id PARAMETER (insertWorkerDataBundle,
        # process_tx.go:301-303, 427-429): msg-level TopicID for bulk,
        # BUNDLE-level TopicID for single — NOT the inner
        # inference/forecast struct's topic_id, which the reference only
        # compares against this for a log line
        "CAST(coalesce(msg_topic_id, b.topic_id) AS INT)"
        " AS param_topic_id",
    )


def inferences(msgs: DataFrame, bundles: DataFrame | None = None) -> DataFrame:
    """Inference rows with the float-parse gate (F8, process_tx.go:344-367):
    non-numeric values are dropped, not errored — the try_cast contract.
    topic_id is the reference's bundle/message-level PARAMETER (see
    _worker_bundles.param_topic_id); block_height falls back to the
    FORECAST's block_height when the inference's does not parse — the
    reference's strconv.Atoi fallback (process_tx.go:306-314, 430-437)."""
    b = _worker_bundles(msgs) if bundles is None else bundles
    inf = b.selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "bundle_idx",
        "nonce_block_height",
        "param_topic_id",
        "b.inference_forecasts_bundle.inference AS i",
        "b.inference_forecasts_bundle.forecast AS f",
    )
    return inf.filter("try_cast(i.value AS DOUBLE) IS NOT NULL").selectExpr(
        "message_height",
        "message_id",
        "bundle_idx",
        "nonce_block_height",
        "param_topic_id AS topic_id",
        "coalesce(CAST(i.block_height AS INT), CAST(f.block_height AS INT))"
        " AS block_height",
        "i.inferer AS inferer",
        "i.value AS value",
        "i.extra_data AS extra_data",
        "i.proof AS proof",
    )


def forecasts(msgs: DataFrame, bundles: DataFrame | None = None) -> DataFrame:
    """Forecast parent rows. The gate is the reference's EXACT condition
    (process_tx.go:373): len(forecast_elements) > 0 — no forecaster
    check (an empty forecaster is stored as-is); topic_id is the
    bundle/message-level parameter, block_height the forecast's own."""
    b = _worker_bundles(msgs) if bundles is None else bundles
    return b.selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "bundle_idx",
        "nonce_block_height",
        "param_topic_id",
        "b.inference_forecasts_bundle.forecast AS f",
    ).filter("size(f.forecast_elements) > 0").selectExpr(
        "message_height",
        "message_id",
        "bundle_idx",
        "nonce_block_height",
        "param_topic_id AS topic_id",
        "CAST(f.block_height AS INT) AS block_height",
        "f.forecaster AS forecaster",
        "f.extra_data AS extra_data",
    )


def forecast_values(
    msgs: DataFrame, bundles: DataFrame | None = None
) -> DataFrame:
    """Child of forecasts via the natural composite key (no RETURNING id —
    K2/K7 redesign), exploding forecast_elements (E5). Parent/child
    consistency is structural: the parent's gate is exactly
    len(forecast_elements) > 0 (process_tx.go:373), and posexplode of an
    empty/null array emits nothing — every element row has its parent,
    every parent has its elements."""
    b = _worker_bundles(msgs) if bundles is None else bundles
    return b.selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "bundle_idx",
        "posexplode(b.inference_forecasts_bundle.forecast.forecast_elements)"
        " AS (element_idx, e)",
    ).selectExpr(
        "message_height",
        "message_id",
        "bundle_idx",
        "element_idx",
        "e.value AS value",
        "e.inferer AS inferer",
    )


def _reputer_bundles_raw(msgs: DataFrame) -> DataFrame:
    """Single + bulk reputer payloads → exploded (bundle_idx, pubkey,
    signature, value_bundle) stream (process_tx.go:175-290)."""
    single = with_versioned_parse(
        _route_spec(msgs, schemas.REPUTER_SINGLE_ROUTE),
        F.col("data"),
        F.col("decoder_version"),
        schemas.MSG_REPUTER_PAYLOAD_SCHEMAS,
    ).select("height", "message_id", "m").selectExpr(
        "height",
        "message_id",
        "m.sender AS sender",
        "false AS is_bulk",
        "CAST(NULL AS STRING) AS msg_topic_id",
        "CAST(NULL AS STRING) AS msg_worker_nonce",
        "CAST(NULL AS STRING) AS msg_reputer_nonce",
        "array(m.reputer_value_bundle) AS bundles",
    )
    bulk_ddl = schemas.ddl(
        msgs.sparkSession, schemas.MSG_BULK_REPUTER_PAYLOAD_SCHEMA
    )
    bulk = _route_spec(msgs, schemas.REPUTER_BULK_ROUTE).selectExpr(
        "height",
        "message_id",
        f"from_json(data, '{bulk_ddl}') AS m",
    ).selectExpr(
        "height",
        "message_id",
        "m.sender AS sender",
        "true AS is_bulk",
        "m.topic_id AS msg_topic_id",
        "m.reputer_request_nonce.worker_nonce.block_height"
        " AS msg_worker_nonce",
        "m.reputer_request_nonce.reputer_nonce.block_height"
        " AS msg_reputer_nonce",
        "m.reputer_value_bundles AS bundles",
    )
    return single.unionByName(bulk).selectExpr(
        "height",
        "message_id",
        "sender",
        "is_bulk",
        "msg_topic_id",
        "msg_worker_nonce",
        "msg_reputer_nonce",
        "posexplode(bundles) AS (bundle_idx, rb)",
    )


def reputer_payload(msgs: DataFrame, raw: DataFrame | None = None) -> DataFrame:
    """The reference's two arms store DIFFERENT nonce shapes
    (insertBulkReputerPayload process_tx.go:175-196 vs
    insertReputerPayload process_tx.go:241-270): bulk fills
    worker_nonce_block_height from the MESSAGE-level request nonce;
    single inserts NO worker nonce at all (NULL) and takes the reputer
    nonce from the bundle's value_bundle — reproduced exactly, keyed on
    is_bulk, instead of a coalesce that would fill single rows with
    bundle values the reference leaves NULL."""
    r = _reputer_bundles_raw(msgs) if raw is None else raw
    return r.selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "bundle_idx",
        "sender",
        "CAST(CASE WHEN is_bulk THEN msg_worker_nonce END AS INT)"
        " AS worker_nonce_block_height",
        "CAST(coalesce(msg_reputer_nonce,"
        " rb.value_bundle.reputer_request_nonce.reputer_nonce.block_height)"
        " AS INT) AS reputer_nonce_block_height",
        "CAST(coalesce(msg_topic_id, rb.value_bundle.topic_id) AS INT)"
        " AS topic_id",
    )


def reputer_bundles(msgs: DataFrame, raw: DataFrame | None = None) -> DataFrame:
    r = _reputer_bundles_raw(msgs) if raw is None else raw
    return r.selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "bundle_idx",
        "rb.pubkey AS pubkey",
        "rb.signature AS signature",
        "rb.value_bundle.reputer AS reputer",
        "CAST(rb.value_bundle.topic_id AS INT) AS topic_id",
        "rb.value_bundle.extra_data AS extra_data",
        "rb.value_bundle.naive_value AS naive_value",
        "rb.value_bundle.combined_value AS combined_value",
        # bulk: the BUNDLE's request worker nonce (process_tx.go:200-201);
        # single: NULL — the reference's single-arm INSERT has no
        # reputer_request_worker_nonce column at all (process_tx.go:272-281)
        "CAST(CASE WHEN is_bulk THEN"
        " rb.value_bundle.reputer_request_nonce.worker_nonce.block_height"
        " END AS INT) AS reputer_request_worker_nonce",
        "CAST(rb.value_bundle.reputer_request_nonce.reputer_nonce"
        ".block_height AS INT) AS reputer_request_reputer_nonce",
    )


def _unpivot_value_bundle(df: DataFrame, vb: str, key_cols: list[str]) -> DataFrame:
    """E4: one MsgValueBundle → N rows tagged by reputer_value_type
    (insertValueBundle, db.go:1540-1652). The doubly-nested sixth branch
    re-serializes its inner array to JSON (E7) with worker = forecaster.

    ``vb`` is the SQL path of the value-bundle struct column. One
    inline(concat(transform(...))) pass replaces the old 6-branch union
    (round 17): each branch maps its array to (tag, value_idx, value,
    worker) structs with transform's own 0-based index (exactly
    posexplode's pos), the concat stitches the branches per row, and ONE
    Generate explodes them — 6 scans of the bundle subtree collapse into
    1, and the whole projection is a single selectExpr (the driver-side
    plan-construction cost is what made this the most expensive builder,
    see functions/events.py's module note). Branch arrays are
    coalesced to array() so a NULL field contributes nothing instead of
    nulling the concat. Row multiset is identical (per-branch emission
    order within a row is not part of any contract — every consumer
    dedups or writes keyed)."""
    simple_branches = [
        ("InfererValues", "inferer_values"),
        ("ForecasterValues", "forecaster_values"),
        ("OneOutInfererValues", "one_out_inferer_values"),
        ("OneInForecasterValues", "one_in_forecaster_values"),
        ("OneOutForecasterValues", "one_out_forecaster_values"),
    ]
    parts = [
        f"coalesce(transform({vb}.{field}, (v, i) -> struct("
        f"'{tag}' AS reputer_value_type, i AS value_idx,"
        " v.value AS value, v.worker AS worker)), array())"
        for tag, field in simple_branches
    ]
    parts.append(
        f"coalesce(transform({vb}.one_out_inferer_forecaster_values,"
        " (v, i) -> struct("
        "'OneOutInfererForecasterValues' AS reputer_value_type,"
        " i AS value_idx,"
        " CASE WHEN size(v.one_out_inferer_values) > 0"
        " THEN to_json(v.one_out_inferer_values) ELSE '' END AS value,"
        " v.forecaster AS worker)), array())"
    )
    return df.selectExpr(
        *key_cols, f"inline(concat({', '.join(parts)}))"
    )


def bundle_values(msgs: DataFrame, raw: DataFrame | None = None) -> DataFrame:
    r = (_reputer_bundles_raw(msgs) if raw is None else raw).selectExpr(
        "CAST(height AS INT) AS message_height",
        "message_id",
        "bundle_idx",
        "rb.value_bundle AS vb",
    )
    return _unpivot_value_bundle(
        r, "vb", ["message_height", "message_id", "bundle_idx"]
    )


# ---------------------------------------------------------------------------
# Event path (F1-F3, F6, E3, E6): block_results → flattened typed tables
# ---------------------------------------------------------------------------


def flat_events(block_results: DataFrame) -> DataFrame:
    """Both event streams (finalize_block_events + txs_results[].events,
    FilterEvents process_events.go:119-145) → whitelist-filtered rows with
    the attribute map, the raw attrs JSON, and the routing family."""
    finalize = block_results.selectExpr(
        "height", "explode(result.finalize_block_events) AS ev"
    )
    per_tx = block_results.selectExpr(
        "height", "explode(result.txs_results) AS txr"
    ).selectExpr("height", "explode(txr.events) AS ev")
    ev = finalize.unionByName(per_tx)
    ev = ev.filter(is_whitelisted_sql("ev.type"))
    return ev.selectExpr(
        "height",
        "ev.type AS type",
        f"{event_family_sql('ev.type')} AS family",
        f"{attrs_to_map_sql('ev.attributes')} AS attr",
        "to_json(ev.attributes) AS data",
    ).selectExpr(
        "*",
        # F6 sender projection: raw attribute value, as the reference stores it
        "attr['sender'] AS sender",
        "xxhash64(data) AS hash",
    )


def events_table(fev: DataFrame) -> DataFrame:
    """Raw whitelisted events (insertEvents, db.go:691-758): columns
    (height, type, sender, data, hash), dedup on (height, hash, type)."""
    return fev.select("height", "type", "sender", "data", "hash").dropDuplicates(
        ["height", "hash", "type"]
    )


def _attr_int_sql(key: str) -> str:
    """An attribute's quoted integer as SQL text (Column callers wrap it
    in ``F.expr``)."""
    return f"CAST({strip_quotes_sql(f_attr(key))} AS INT)"


def f_attr(key: str) -> str:
    """SQL map access for an attribute key."""
    return f"attr['{key}']"


def _zip_addresses_values(
    fev: DataFrame, value_key: str, value_alias: str
) -> DataFrame:
    """E3 parallel-array zip: addresses[i] ⇄ values[i] with the length-
    mismatch guard (db.go:909-920) and the Infinity/NaN numeric guard
    (db.go:1715-1717). Guard failures are quarantined (filtered), the
    reference's hard-error analog."""
    parsed = fev.selectExpr(
        "height AS height_tx",
        f"{_attr_int_sql('topic_id')} AS topic_id",
        f"{strip_quotes_sql(f_attr('actor_type'))} AS type",
        f"{_attr_int_sql('block_height')} AS height",
        f"from_json({f_attr('addresses')}, 'array<string>') AS addresses",
        f"from_json({f_attr(value_key)}, 'array<string>') AS vals",
    ).filter("size(addresses) = size(vals)")
    rows = parsed.selectExpr(
        "height_tx",
        "height",
        "topic_id",
        "type",
        "explode(arrays_zip(addresses, vals)) AS z",
    ).selectExpr(
        "height_tx",
        "height",
        "topic_id",
        "type",
        "z.addresses AS address",
        f"{strip_quotes_sql('z.vals')} AS value_raw",
    )
    return rows.filter(
        f"NOT {is_invalid_numeric_sql('value_raw')}"
    ).selectExpr(
        "height_tx",
        "height",
        "topic_id",
        "type",
        "address",
        f"CAST(value_raw AS {DECIMAL}) AS {value_alias}",
        "value_raw",
    )


def _keep_first(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """Window keep-one-per-key — the MERGE/ON CONFLICT replacement (K5/K6).
    ``order`` entries are SQL order terms, e.g. "height_tx DESC" (round 17
    — the whole window crosses py4j as one selectExpr string)."""
    return (
        df.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {', '.join(keys)}"
            f" ORDER BY {', '.join(order)}) AS _rn",
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def scores(fev: DataFrame) -> DataFrame:
    """EventScoresSet → scores (insertScore db.go:842-937); dedup key
    (height, topic_id, type, address) mirrors unique_score_entry.
    asc(value_raw) is the deterministic same-height_tx tiebreak (the
    q99/topic_rewards pattern): flat_events discards within-block event
    position, so an address listed twice at one height_tx with
    different values would otherwise keep an arbitrary survivor and a
    replay could keep a DIFFERENT one than was first written."""
    df = _zip_addresses_values(
        fev.filter("family = 'score'"), "scores", "value"
    )
    return _keep_first(
        df,
        ["height", "topic_id", "type", "address"],
        ["height_tx DESC", "value_raw ASC"],
    )


def rewards(fev: DataFrame) -> DataFrame:
    """EventRewardsSettled → rewards (insertReward db.go:939-1017);
    same deterministic tiebreak as scores()."""
    df = _zip_addresses_values(
        fev.filter("family = 'reward'"), "rewards", "value"
    )
    return _keep_first(
        df,
        ["height", "topic_id", "type", "address"],
        ["height_tx DESC", "value_raw ASC"],
    )


def _networkloss_rows(fev: DataFrame) -> DataFrame:
    """Shared deduped (height_tx, height, topic_id, vb) rows for the
    networklosses parent and its bundle_values children. The survivor
    under key collision is DETERMINISTIC — ordered by the canonical JSON
    of the whole value bundle — and, because both tables derive from
    THIS one dedup, parent and children always describe the SAME
    surviving bundle (independent dropDuplicates calls could keep
    different arbitrary survivors, splitting parent and children across
    two source events)."""
    vb_ddl = schemas.ddl(fev.sparkSession, schemas.VALUE_BUNDLE_SCHEMA)
    nl = fev.filter("family = 'network_loss'").selectExpr(
        "height AS height_tx",
        f"{_attr_int_sql('block_height')} AS height",
        f"{_attr_int_sql('topic_id')} AS topic_id",
        f"from_json({f_attr('value_bundle')}, '{vb_ddl}') AS vb",
    )
    return _keep_first(
        nl,
        ["height_tx", "height", "topic_id"],
        ["to_json(vb) ASC"],
    )


def networklosses(fev: DataFrame) -> DataFrame:
    """EventNetworkLossSet → networklosses (insertNetworkLoss
    db.go:1019-1067): the value_bundle attribute is itself JSON."""
    return _networkloss_rows(fev).selectExpr(
        "height_tx",
        "height",
        "topic_id",
        "vb.naive_value AS naive_value",
        "vb.combined_value AS combined_value",
    )


def networkloss_bundle_values(fev: DataFrame) -> DataFrame:
    return _unpivot_value_bundle(
        _networkloss_rows(fev),
        "vb",
        ["height_tx", "height", "topic_id"],
    )


def topic_forecasting_scores(fev: DataFrame) -> DataFrame:
    """EventForecastTaskScoreSet (insertForecastTaskScore db.go:1069-1116)."""
    df = fev.filter("family = 'forecast_task_score'").selectExpr(
        "height AS height_tx",
        f"{_attr_int_sql('topic_id')} AS topic_id",
        f"{strip_quotes_sql(f_attr('score'))} AS score",
    )
    # asc(score) is the deterministic same-block tiebreak (the q99/
    # topic_rewards pattern): flat_events discards within-block event
    # position, so ordering by the partition column alone left the
    # survivor arbitrary — a replay could keep a DIFFERENT row than the
    # one first written, breaking byte-identical reprocessing
    return _keep_first(df, ["topic_id", "height_tx"], ["score ASC"])


def last_commit_values(fev: DataFrame) -> DataFrame:
    """Worker/Reputer last-commit keep-latest per (topic_id, is_worker) —
    the reference's ON CONFLICT DO UPDATE latest-state table
    (insertActorLastCommit db.go:1118-1185): height_tx takes the
    block_height attribute, height takes the nonce's block_height."""
    df = fev.filter("family = 'actor_last_commit'").selectExpr(
        f"{_attr_int_sql('block_height')} AS height_tx",
        f"CAST(from_json({f_attr('nonce')},"
        " 'STRUCT<block_height: STRING>').block_height AS INT) AS height",
        f"{_attr_int_sql('topic_id')} AS topic_id",
        f"NOT {is_reputer_last_commit_sql('type')} AS is_worker",
    )
    return _keep_first(
        df,
        ["topic_id", "is_worker"],
        ["height_tx DESC", "height DESC"],
    )


def ema_scores(fev: DataFrame) -> DataFrame:
    """EventEMAScoresSet → ema_scores (insertEMAScore db.go:1246-1350):
    three parallel arrays (addresses ⇄ scores ⇄ is_active), upsert key
    (topic_id, type, address, height) with the nonce as height."""
    parsed = fev.filter("family = 'ema_score'").selectExpr(
        "height AS height_tx",
        f"{_attr_int_sql('topic_id')} AS topic_id",
        f"{strip_quotes_sql(f_attr('actor_type'))} AS type",
        f"{_attr_int_sql('nonce')} AS height",
        f"from_json({f_attr('addresses')}, 'array<string>') AS addresses",
        f"from_json({f_attr('scores')}, 'array<string>') AS vals",
        f"from_json({f_attr('is_active')}, 'array<boolean>') AS actives",
    ).filter(
        "size(addresses) = size(vals) AND (actives IS NULL"
        " OR size(addresses) = size(actives))"
    )
    rows = parsed.selectExpr(
        "height_tx",
        "height",
        "topic_id",
        "type",
        "posexplode(arrays_zip(addresses, vals)) AS (i, z)",
        "actives",
    ).selectExpr(
        "height_tx",
        "height",
        "topic_id",
        "type",
        "z.addresses AS address",
        f"{strip_quotes_sql('z.vals')} AS score_raw",
        "element_at(actives, i + 1) AS is_active",
    )
    rows = rows.filter(
        f"NOT {is_invalid_numeric_sql('score_raw')}"
    ).selectExpr(
        "height_tx",
        "height",
        "topic_id",
        "type",
        "address",
        f"CAST(score_raw AS {DECIMAL}) AS score",
        "score_raw",
        "is_active",
    )
    # asc(score_raw)/asc(is_active): deterministic same-height_tx
    # tiebreak (same rationale as scores())
    return _keep_first(
        rows,
        ["topic_id", "type", "address", "height"],
        ["height_tx DESC", "score_raw ASC", "is_active ASC"],
    )


def topic_rewards(fev: DataFrame) -> DataFrame:
    """EventTopicRewardsSet: topic_ids[i] ⇄ rewards[i] zip
    (insertTopicReward db.go:1187-1244), key (topic_id, height_tx)."""
    parsed = fev.filter("family = 'topic_reward'").selectExpr(
        "height AS height_tx",
        f"from_json({f_attr('topic_ids')}, 'array<string>') AS tids",
        f"from_json({f_attr('rewards')}, 'array<string>') AS vals",
    ).filter("size(tids) = size(vals)")
    rows = parsed.selectExpr(
        "height_tx",
        "explode(arrays_zip(tids, vals)) AS z",
    ).selectExpr(
        "height_tx",
        "CAST(z.tids AS INT) AS topic_id",
        f"{strip_quotes_sql('z.vals')} AS reward",
    )
    return _keep_first(rows, ["topic_id", "height_tx"], ["reward ASC"])


def tokenomics(fev: DataFrame) -> DataFrame:
    """EventTokenomicsSet (insertTokenomics db.go:1352-1410). The DDL's
    ecosystem_mint_amount column has no source attribute → null."""
    def dec(key: str) -> str:
        v = strip_quotes_sql(f_attr(key))
        return (
            f"CASE WHEN NOT {is_invalid_numeric_sql(v)}"
            f" THEN CAST({v} AS {DECIMAL}) END"
        )

    df = fev.filter("family = 'tokenomics'").selectExpr(
        "height AS height_tx",
        f"{dec('staked_token_amount')} AS staked_amount",
        f"{dec('circulating_supply')} AS circulating_supply",
        f"{dec('emissions_amount')} AS emissions_amount",
        f"CAST(NULL AS {DECIMAL}) AS ecosystem_mint_amount",
    )
    # deterministic survivor under same-height_tx collision: value-
    # ordered tiebreak instead of dropDuplicates' arbitrary pick
    return _keep_first(
        df,
        ["height_tx"],
        [
            "staked_amount ASC",
            "circulating_supply ASC",
            "emissions_amount ASC",
        ],
    )


def _mint_like(fev: DataFrame, family: str) -> DataFrame:
    v = strip_quotes_sql(f_attr("token_amount"))
    df = fev.filter(f"family = '{family}'").selectExpr(
        "height AS height_tx",
        f"{_attr_int_sql('block_height')} AS block_height",
        f"CASE WHEN NOT {is_invalid_numeric_sql(v)}"
        f" THEN CAST({v} AS {DECIMAL}) END AS token_amount",
    )
    # value-ordered tiebreak: deterministic survivor on key collision
    return _keep_first(
        df, ["height_tx", "block_height"], ["token_amount ASC"]
    )


def ecosystem_token_mint(fev: DataFrame) -> DataFrame:
    """EventEcosystemTokenMintSet (insertEcosystemTokenMint db.go:1412-1462)."""
    return _mint_like(fev, "ecosystem_token_mint")


def reward_current_block_emission(fev: DataFrame) -> DataFrame:
    """EventRewardCurrentBlockEmission (db.go:1464-1514)."""
    return _mint_like(fev, "reward_current_block_emission")


# ---------------------------------------------------------------------------
# Presence pruning: which tables CAN be non-empty this batch
# ---------------------------------------------------------------------------

# The streaming sinks submit one write job per table per micro-batch; at the
# reference's 1-block/5 s steady state (main.go:251) most of the ~24 jobs
# carry provably-empty deltas, and the fixed per-job local floor — not data —
# set the commit p50. The table specs' presence rules (schemas.TableSpec)
# recover, from ONE bounded driver read of a persisted parse root, exactly
# which tables a batch can touch, so empty deltas are never submitted. A
# block-feed rule names the same route tuples its builder filters with, so
# rule and builder cannot drift; tests/test_ingest.py pins "non-empty table
# ⇒ marked present" over the full reference-shaped fixture feed.


def batch_height_span(batch_df: DataFrame) -> tuple | None:
    """(lo, hi) of the micro-batch's block heights — ONE bounded job that
    replaces the per-table span aggregations for every span-covered table
    (schemas.TableSpec.span). None when the batch has no usable heights
    (callers then fall back to per-table aggregation)."""
    row = batch_df.agg(
        F.min("height").alias("lo"), F.max("height").alias("hi")
    ).first()
    if row is None or row.lo is None:
        return None
    return (row.lo, row.hi)


def _type_matches(t: str, routes) -> bool:
    # the Python mirror of _route()'s prefix gate + '.'-separated suffix
    # match — over-approximate by design (a routed type whose payload
    # later fails its parse/guard still marks the table present; the
    # write of the then-empty delta is merely wasted, never wrong)
    return any(
        t.startswith(prefix) and any(t.endswith("." + s) for s in suffixes)
        for prefix, suffixes in routes
    )


def _present(feed: str, vocab, fed) -> set[str]:
    """The ``feed`` tables a batch whose root holds ``vocab`` (its distinct
    @types or families) can give rows, by each spec's presence rule: an
    ``always`` table always; otherwise none on an empty root, and else
    those ``fed(spec)`` accepts."""
    return {
        s.name
        for s in schemas.TABLE_SPECS.values()
        if s.feed == feed and (s.always or (bool(vocab) and fed(s)))
    }


def present_block_tables(msgs: DataFrame) -> set[str]:
    """Tx-side tables that CAN be non-empty for this batch, from one
    bounded job: the distinct @type vocabulary of the (persisted) message
    root — dozens of values at most, never data rows."""
    types = [r[0] for r in msgs.select("type").distinct().collect()]
    return _present("block", types, lambda s: not s.routes or any(
        t is not None and _type_matches(t, s.routes) for t in types
    ))


def present_event_tables(fev: DataFrame) -> set[str]:
    """Event-side tables that CAN be non-empty, from one bounded job on
    the (persisted) flat-events root: the distinct routing families (≤ 11
    values by the whitelist)."""
    fams = {r[0] for r in fev.select("family").distinct().collect()}
    return _present(
        "event", fams, lambda s: s.family is None or s.family in fams
    )


# ---------------------------------------------------------------------------
# The full plan
# ---------------------------------------------------------------------------


def build_tables_for_blocks(
    blocks: DataFrame,
    msgs: DataFrame | None = None,
    chain_topics: DataFrame | None = None,
    existing_topics: DataFrame | None = None,
    only: set[str] | None = None,
) -> dict[str, DataFrame]:
    """Tx-side tables only (the streaming block-feed branch). Pass a
    pre-built (persisted) ``msgs`` to share one decode across the fan-out;
    ``chain_topics`` (optional chain-state snapshot) enables S6 topic
    metadata reconciliation.

    ``only`` restricts CONSTRUCTION to the named tables: plan building is
    pure py4j driver work but costs ~2-3 s for the full 12-table fan-out
    — the single largest fixed cost of a streaming micro-batch — so the
    sinks pass the presence-pruned set and a caught-up 1-block batch
    builds 3-5 plans instead of 12."""
    if msgs is None:
        msgs = messages(blocks)

    def want(name: str) -> bool:
        return only is None or name in only

    # the two heavy shared subplans are constructed ONCE and passed to
    # their three consumers each: DataFrames are immutable, so reuse is
    # free, and it cuts ~1.5s of per-call py4j plan-construction overhead
    # out of every ingest pass / streaming micro-batch (the executed plan
    # is identical — Catalyst already deduplicated the subtree). Built
    # lazily so an `only` set that skips their whole family skips the
    # construction too.
    wb = (
        _worker_bundles(msgs)
        if any(want(n) for n in ("inferences", "forecasts", "forecast_values"))
        else None
    )
    rb = (
        _reputer_bundles_raw(msgs)
        if any(
            want(n)
            for n in ("reputer_payload", "reputer_bundles", "bundle_values",
                      "addresses")
        )
        else None
    )
    builders = {
        "block_info": lambda: block_info(blocks),
        "messages": lambda: msgs,
        "topics": lambda: topics(
            msgs,
            chain_topics=chain_topics,
            existing_topics=existing_topics,
        ),
        "addresses": lambda: addresses(msgs, raw=rb),
        "worker_registrations": lambda: worker_registrations(msgs),
        "transfers": lambda: transfers(msgs),
        "inferences": lambda: inferences(msgs, bundles=wb),
        "forecasts": lambda: forecasts(msgs, bundles=wb),
        "forecast_values": lambda: forecast_values(msgs, bundles=wb),
        "reputer_payload": lambda: reputer_payload(msgs, raw=rb),
        "reputer_bundles": lambda: reputer_bundles(msgs, raw=rb),
        "bundle_values": lambda: bundle_values(msgs, raw=rb),
    }
    return {name: fn() for name, fn in builders.items() if want(name)}


def build_tables_for_events(
    block_results: DataFrame | None,
    fev: DataFrame | None = None,
    only: set[str] | None = None,
) -> dict[str, DataFrame]:
    """Event-side tables only (the streaming block_results branch). Pass a
    pre-built (persisted) ``fev`` to share one flatten across the fan-out
    (``block_results`` may then be None — it is only read to build fev).
    ``only`` restricts plan construction exactly as in
    :func:`build_tables_for_blocks`."""
    if fev is None:
        fev = flat_events(block_results)
    builders = {
        "events": lambda: events_table(fev),
        "scores": lambda: scores(fev),
        "rewards": lambda: rewards(fev),
        "networklosses": lambda: networklosses(fev),
        "networkloss_bundle_values": lambda: networkloss_bundle_values(fev),
        "ema_scores": lambda: ema_scores(fev),
        "last_commit_values": lambda: last_commit_values(fev),
        "topic_rewards": lambda: topic_rewards(fev),
        "topic_forecasting_scores": lambda: topic_forecasting_scores(fev),
        "tokenomics": lambda: tokenomics(fev),
        "ecosystem_token_mint": lambda: ecosystem_token_mint(fev),
        "reward_current_block_emission": (
            lambda: reward_current_block_emission(fev)
        ),
    }
    return {
        name: fn()
        for name, fn in builders.items()
        if only is None or name in only
    }


def build_tables(
    blocks: DataFrame, block_results: DataFrame
) -> dict[str, DataFrame]:
    """All 23 tables from the two raw feeds. Pure plan construction — nothing
    executes until the caller writes/collects, so Catalyst sees every table's
    full lineage and prunes shared scans.

    Callers that materialize many tables from one batch should build and
    persist the parse roots themselves and use ``build_tables_from`` so the
    JSON decode runs once per feed (bench.py and the streaming foreachBatch
    sinks do exactly this, owning persist/unpersist of their handles)."""
    return build_tables_from(blocks, messages(blocks), flat_events(block_results))


def build_tables_from(
    blocks: DataFrame, msgs: DataFrame, fev: DataFrame
) -> dict[str, DataFrame]:
    """23-table fan-out from already-built (possibly persisted) parse roots.
    Callers that persist ``msgs``/``fev`` themselves keep the handles and
    unpersist after their writes complete. The table wiring lives solely in
    the two per-feed builders — one place to add table 24."""
    return {
        **build_tables_for_blocks(blocks, msgs=msgs),
        **build_tables_for_events(None, fev=fev),
    }


# ---------------------------------------------------------------------------
# Consensus params (S7): one-shot chain-state snapshot → static table
# ---------------------------------------------------------------------------

CONSENSUS_PARAMS_SCHEMA = (
    "STRUCT<height: STRING, params: STRUCT<"
    "block: STRUCT<max_bytes: STRING, max_gas: STRING>, "
    "evidence: STRUCT<max_age_num_blocks: STRING, max_age_duration: STRING, "
    "max_bytes: STRING>, "
    "validator: STRUCT<pub_key_types: ARRAY<STRING>>>>"
)


def read_consensus_params(spark: SparkSession, path: str) -> DataFrame:
    """processConsensusParams (/root/reference/process_consensus.go:10-30):
    flatten the params tree into the consensus_params table; pub_key_types
    joins with ',' exactly as the reference stores it."""
    import pyspark.sql.types as T

    schema = T.StructType.fromDDL(
        CONSENSUS_PARAMS_SCHEMA.removeprefix("STRUCT<").removesuffix(">")
    )
    raw = spark.read.schema(schema).json(path)
    return raw.select(
        F.col("height").cast("long").alias("height"),
        F.col("params.block.max_bytes").alias("max_bytes"),
        F.col("params.block.max_gas").alias("max_gas"),
        F.col("params.evidence.max_age_duration").alias("max_age_duration"),
        F.col("params.evidence.max_age_num_blocks").alias("max_age_num_blocks"),
        F.col("params.evidence.max_bytes").alias("evidence_max_bytes"),
        F.concat_ws(",", F.col("params.validator.pub_key_types"))
        .alias("pub_key_types"),
    ).filter(F.col("height").isNotNull())


# ---------------------------------------------------------------------------
# Quarantine: rows rejected by the numeric guard (F7). The reference fails
# the whole batch on an invalid numeric (db.go:893-905); a pipeline at scale
# must keep flowing — rejected rows are captured here for audit instead.
# ---------------------------------------------------------------------------


def numeric_quarantine(fev: DataFrame) -> DataFrame:
    """Every (family, address, raw value) pair whose value failed the
    Infinity/NaN guard across the score-like event families — PLUS one
    row per event whose parallel arrays mismatch in length (the
    db.go:909-920 guard): those events' rows are dropped entirely by
    _zip_addresses_values, and applying the same size filter here (the
    pre-fix shape) made the drop invisible — a corrupt upstream feed
    lost data with zero observability. Mismatch rows carry
    family='<family>_length_mismatch', address NULL, and the raw sizes
    as 'len(addresses)!=len(values)' in value_raw."""
    out = []
    for family, value_key in (
        ("score", "scores"),
        ("reward", "rewards"),
        ("ema_score", "scores"),
    ):
        parsed = fev.filter(F.col("family") == family).select(
            F.col("height").alias("height_tx"),
            F.lit(family).alias("family"),
            F.expr(_attr_int_sql("topic_id")).alias("topic_id"),
            F.from_json(F.col("attr.addresses"), "array<string>").alias("addresses"),
            F.from_json(F.col("attr").getItem(value_key), "array<string>")
            .alias("vals"),
        )
        matched = parsed.filter(F.size("addresses") == F.size("vals"))
        mismatched = parsed.filter(
            F.size("addresses") != F.size("vals")
        ).select(
            "height_tx",
            F.concat(F.col("family"), F.lit("_length_mismatch")).alias(
                "family"
            ),
            "topic_id",
            F.lit(None).cast("string").alias("address"),
            F.concat_ws(
                "!=",
                F.size("addresses").cast("string"),
                F.size("vals").cast("string"),
            ).alias("value_raw"),
        )
        rows = matched.select(
            "height_tx",
            "family",
            "topic_id",
            F.explode(F.arrays_zip("addresses", "vals")).alias("z"),
        ).select(
            "height_tx",
            "family",
            "topic_id",
            F.col("z.addresses").alias("address"),
            F.expr(strip_quotes_sql("z.vals")).alias("value_raw"),
        )
        out.append(rows.filter(F.expr(is_invalid_numeric_sql("value_raw"))))
        out.append(mismatched)
    # the two remaining silent-drop guards, surfaced the same way:
    # topic_rewards' tids/rewards zip drops the whole event on a length
    # mismatch (topic_rewards(), size filter), and ema_scores drops the
    # event when a present is_active array mismatches addresses — both
    # previously lost data with zero observability
    tr = fev.filter(F.col("family") == "topic_reward").select(
        F.col("height").alias("height_tx"),
        F.from_json(F.col("attr.topic_ids"), "array<string>").alias("tids"),
        F.from_json(F.col("attr.rewards"), "array<string>").alias("vals"),
    )
    out.append(
        tr.filter(F.size("tids") != F.size("vals")).select(
            "height_tx",
            F.lit("topic_reward_length_mismatch").alias("family"),
            F.lit(None).cast("int").alias("topic_id"),
            F.lit(None).cast("string").alias("address"),
            F.concat_ws(
                "!=",
                F.size("tids").cast("string"),
                F.size("vals").cast("string"),
            ).alias("value_raw"),
        )
    )
    ema = fev.filter(F.col("family") == "ema_score").select(
        F.col("height").alias("height_tx"),
        F.expr(_attr_int_sql("topic_id")).alias("topic_id"),
        F.from_json(F.col("attr.addresses"), "array<string>").alias("addresses"),
        F.from_json(F.col("attr.is_active"), "array<boolean>").alias("actives"),
    )
    out.append(
        ema.filter(
            F.col("actives").isNotNull()
            & (F.size("addresses") != F.size("actives"))
        ).select(
            "height_tx",
            F.lit("ema_score_is_active_length_mismatch").alias("family"),
            "topic_id",
            F.lit(None).cast("string").alias("address"),
            F.concat_ws(
                "!=",
                F.size("addresses").cast("string"),
                F.size("actives").cast("string"),
            ).alias("value_raw"),
        )
    )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res
