"""End-to-end ingest pipeline tests: reference-shaped fixtures → 23 tables,
value-level assertions per table, plus the idempotent-replay property (T3:
processing the same data twice leaves every table unchanged)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from allora_indexer_spark.plans import ingest, warehouse
from allora_indexer_spark.sources.fixtures import write_fixtures


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ingest_fixtures")
    write_fixtures(str(d))
    return str(d)


@pytest.fixture(scope="module")
def tables(spark, fixture_dir):
    blocks = ingest.read_blocks(spark, f"{fixture_dir}/blocks")
    results = ingest.read_block_results(spark, f"{fixture_dir}/block_results")
    return ingest.build_tables(blocks, results)


def rows(tables, name):
    return {tuple(r) for r in tables[name].collect()}


def test_block_info(tables):
    df = tables["block_info"].orderBy("height").collect()
    assert len(df) == 6  # duplicate height 103 dropped (K1)
    assert [r["height"] for r in df] == [101, 102, 103, 104, 105, 106]
    assert df[0]["chain_id"] == "allora-testnet-fixture"
    assert df[0]["proposer_address"] == "valoper1ccc"  # 101 % 3 == 2
    assert df[0]["data_hash"] == "DH101"
    assert str(df[0]["block_time"]) == "2024-06-01 00:01:00"


def test_messages_explode_and_dedup(tables):
    msgs = tables["messages"].collect()
    # 3+2+1+1+3+2: the duplicate block collapsed AND block 106's in-block
    # duplicate AddStake tx collapsed under UNIQUE(height, hash)
    # (db.go:1662-1668) — the first occurrence (tx_idx 1) survives; block
    # 105's foreign-family bulk payload still lands in messages (every
    # decodable message does) even though no payload arm consumes it
    assert len(msgs) == 12
    stakes = [
        r for r in msgs if r["height"] == 106 and r["type"].endswith("MsgAddStake")
    ]
    assert len(stakes) == 1 and stakes[0]["tx_idx"] == 1
    by_height = {}
    for r in msgs:
        by_height.setdefault(r["height"], []).append(r)
    assert len(by_height[101]) == 3
    # F5 sender coalesce: creator for topic msg, from_address for bank send
    h101 = {r["type"]: r["sender"] for r in by_height[101]}
    assert h101["/emissions.v1.MsgCreateNewTopic"] == "alice"
    assert h101["/cosmos.bank.v1beta1.MsgSend"] == "bob"
    # natural message ids are unique and deterministic
    ids = [r["message_id"] for r in msgs]
    assert len(set(ids)) == len(ids)
    assert 101_000_000 in ids  # height 101, tx 0, msg 0


def test_topics_sequential_ids(tables):
    t = {r["id"]: r for r in tables["topics"].collect()}
    assert set(t) == {1, 2}
    assert t[1]["creator"] == "alice" and t[1]["metadata"] == "topic-one"
    assert t[2]["creator"] == "gail" and t[2]["allow_negative"] is False
    assert t[1]["allow_negative"] is True
    assert t[1]["message_height"] == 101 and t[2]["message_height"] == 105


def test_worker_registrations(tables):
    r = tables["worker_registrations"].collect()
    assert len(r) == 1
    reg = r[0]
    assert (reg["sender"], reg["topic_id"], reg["owner"], reg["is_reputer"]) == (
        "dave", 1, "dave", False
    )
    assert reg["worker_libp2pkey"] == "p2p-dave"


def test_transfers_union(tables):
    t = tables["transfers"].collect()
    assert len(t) == 3
    send = next(x for x in t if x["to_address"] == "carol")
    # MsgSend keeps the FIRST coin only (insertMsgSend semantics)
    assert (send["from_address"], send["amount"], send["denom"]) == (
        "bob", "1000", "uallo"
    )
    fund = next(x for x in t if x["from_address"] == "alice")
    assert (fund["topic_id"], fund["amount"], fund["denom"]) == (1, "500", "uallo")
    stake = next(x for x in t if x["from_address"] == "bob" and x["topic_id"] == 2)
    assert stake["amount"] == "250"


def test_addresses_entity_table(tables):
    rows = tables["addresses"].collect()
    addrs = {r["address"] for r in rows if r["address"] is not None}
    # gail: topic-two's CREATOR — the reference inserts the creator
    # address on every reconciled CreateNewTopic (insertAddress,
    # process_topic.go:54), a call site outside process_tx.go's arms
    assert addrs == {"alice", "bob", "carol", "dave", "gail"}
    # the reference also inserts one row per reputer-bundle PUBKEY
    # (address NULL, pub_key set — process_tx.go:202/252)
    pks = {r["pub_key"] for r in rows if r["pub_key"] is not None}
    assert pks == {"pk-erin", "pk-hank"}
    for r in rows:
        assert r["addr_key"] == (r["address"] or r["pub_key"])  # non-null key


def test_inferences_float_gate(tables):
    inf = tables["inferences"].collect()
    # dave 3.14 (h103) + dave 2.71 (bulk h105); fred's 'not-a-number' dropped (F8)
    assert {(r["inferer"], r["value"]) for r in inf} == {
        ("dave", "3.14"), ("dave", "2.71")
    }
    h103 = next(r for r in inf if r["value"] == "3.14")
    assert h103["proof"] == "proof-dave"
    assert h103["nonce_block_height"] == 103  # single: bundle-level nonce
    h105 = next(r for r in inf if r["value"] == "2.71")
    assert h105["nonce_block_height"] == 105  # bulk: message-level nonce


def test_forecasts_and_values(tables):
    f = tables["forecasts"].collect()
    assert len(f) == 3  # h103 single + 2 bulk bundles
    fv = tables["forecast_values"].collect()
    assert len(fv) == 4  # 2 elements + 1 + 1
    # child rows share the parent natural key (no RETURNING id needed)
    parent_keys = {(r["message_height"], r["message_id"], r["bundle_idx"]) for r in f}
    child_keys = {(r["message_height"], r["message_id"], r["bundle_idx"]) for r in fv}
    assert child_keys <= parent_keys
    assert {r["value"] for r in fv} == {"0.25", "1.25"}


def test_reputer_cascade(tables):
    rp = tables["reputer_payload"].collect()
    assert len(rp) == 3  # 1 single (h104) + 2 bulk (h106)
    single = next(r for r in rp if r["message_height"] == 104)
    assert (single["sender"], single["topic_id"]) == ("erin", 1)
    # the reference's single arm inserts NO worker nonce at all
    # (insertReputerPayload's INSERT has no worker_nonce_block_height
    # column, process_tx.go:262-266) — only the bulk arm fills it
    assert single["worker_nonce_block_height"] is None
    assert single["reputer_nonce_block_height"] is not None
    bulk = [r for r in rp if r["message_height"] == 106]
    assert all(r["topic_id"] == 2 and r["reputer_nonce_block_height"] == 106
               for r in bulk)
    assert all(r["worker_nonce_block_height"] is not None for r in bulk)

    rb = tables["reputer_bundles"].collect()
    assert len(rb) == 3
    assert {r["reputer"] for r in rb} == {"erin", "hank"}
    assert all(r["naive_value"] == "0.111" for r in rb)
    # same split on the bundle rows: request_worker_nonce NULL for the
    # single arm (process_tx.go:272-281), populated for bulk
    rb_single = [r for r in rb if r["message_height"] == 104]
    assert all(
        r["reputer_request_worker_nonce"] is None for r in rb_single
    )
    rb_bulk = [r for r in rb if r["message_height"] == 106]
    assert all(
        r["reputer_request_worker_nonce"] is not None for r in rb_bulk
    )

    bv = tables["bundle_values"].collect()
    # each bundle: 2+1+1+1+2+1 = 8 unpivoted rows (E4/E7)
    assert len(bv) == 24
    nested = [r for r in bv
              if r["reputer_value_type"] == "OneOutInfererForecasterValues"]
    assert len(nested) == 3
    assert all(r["worker"] == "w9" for r in nested)
    assert all(r["value"].startswith("[{") for r in nested)  # re-marshaled JSON


def test_events_whitelist_and_dedup(tables):
    ev = tables["events"].collect()
    assert len(ev) == 13  # unknown + versionless dropped; dup height 103 deduped
    types = {r["type"] for r in ev}
    assert "unlisted.v1.EventSomethingElse" not in types
    assert "noversion" not in types
    assert "emissions.v12.EventForecastTaskScoreSet" in types  # version-agnostic
    # F6 sender projection: raw attribute value as stored by the reference
    mint = next(r for r in ev if r["type"] == "mint.v2.EventTokenomicsSet")
    assert mint["sender"] == '"mintmod"'


def test_scores_zip_and_numeric_guard(tables):
    sc = tables["scores"].collect()
    # h101: 3 zipped rows; h106: Infinity quarantined, only w2 4.5 kept (F7)
    assert len(sc) == 4
    h101 = {(r["address"], str(r["value"])) for r in sc if r["height"] == 101}
    assert h101 == {
        ("w1", "1.500000000000000000"),
        ("w2", "2.500000000000000000"),
        ("w3", "3.500000000000000000"),
    }
    h106 = [r for r in sc if r["height"] == 106]
    assert len(h106) == 1 and h106[0]["address"] == "w2"
    assert h106[0]["value_raw"] == "4.5"


def test_rewards(tables):
    rw = tables["rewards"].collect()
    assert {(r["address"], r["value_raw"]) for r in rw} == {
        ("r1", "10.5"), ("r2", "20.25")
    }
    assert all(r["type"] == "reputer" for r in rw)


def test_networklosses_and_bundle(tables):
    nl = tables["networklosses"].collect()
    assert len(nl) == 1  # duplicate height-103 results deduped (K4)
    assert (nl[0]["naive_value"], nl[0]["combined_value"]) == ("0.111", "0.222")
    nbv = tables["networkloss_bundle_values"].collect()
    assert len(nbv) == 8


def test_ema_scores_arrays(tables):
    ema = {r["address"]: r for r in tables["ema_scores"].collect()}
    assert set(ema) == {"w1", "w2"}
    assert ema["w1"]["is_active"] is True and ema["w2"]["is_active"] is False
    assert ema["w1"]["score_raw"] == "0.5"
    assert ema["w1"]["height"] == 105  # nonce attr becomes the height key


def test_last_commit_keep_latest(tables):
    lc = {(r["topic_id"], r["is_worker"]): r
          for r in tables["last_commit_values"].collect()}
    assert set(lc) == {(1, True), (1, False)}
    # worker commit appears at height_tx 104 and 106 → keep-latest wins (K5/T5)
    assert lc[(1, True)]["height_tx"] == 106
    assert lc[(1, True)]["height"] == 105  # nonce of the winning event
    assert lc[(1, False)]["height_tx"] == 104


def test_topic_rewards_zip(tables):
    tr = {r["topic_id"]: r["reward"] for r in tables["topic_rewards"].collect()}
    assert tr == {1: "100.5", 2: "200.25"}


def test_scalar_event_tables(tables):
    tfs = tables["topic_forecasting_scores"].collect()
    assert len(tfs) == 1 and tfs[0]["score"] == "0.875"
    tok = tables["tokenomics"].collect()
    assert len(tok) == 1
    assert str(tok[0]["staked_amount"]) == "555.125000000000000000"
    assert tok[0]["ecosystem_mint_amount"] is None
    mint = tables["ecosystem_token_mint"].collect()
    assert len(mint) == 1 and str(mint[0]["token_amount"]).startswith("42.125")
    em = tables["reward_current_block_emission"].collect()
    assert len(em) == 1 and em[0]["block_height"] == 106


def test_idempotent_replay(spark, fixture_dir, tables, tmp_path):
    """T3: writing the same build twice leaves every table byte-identical."""
    root = str(tmp_path / "wh")
    warehouse.write_tables(spark, tables, root)
    counts1 = {
        name: warehouse.read_table(spark, root, name).count() for name in tables
    }
    warehouse.write_tables(spark, tables, root)  # full replay
    for name in tables:
        df = warehouse.read_table(spark, root, name)
        assert df.count() == counts1[name], f"{name} grew on replay"
        keys = warehouse.TABLE_KEYS[name]
        assert df.select(*keys).distinct().count() == counts1[name], (
            f"{name} has duplicate natural keys"
        )


def test_numeric_quarantine(spark, fixture_dir):
    """The Infinity score from height 106 must land in quarantine with its
    address, not silently vanish."""
    results = ingest.read_block_results(spark, f"{fixture_dir}/block_results")
    fev = ingest.flat_events(results)
    q = ingest.numeric_quarantine(fev).collect()
    assert len(q) == 1
    assert (q[0]["family"], q[0]["address"], q[0]["value_raw"]) == (
        "score", "w1", "Infinity"
    )
    assert q[0]["topic_id"] == 2


def test_corrupt_feed_lines_are_dropped(spark, tmp_path):
    """Permissive JSON read + the height validity gate: malformed lines,
    wrong-shaped JSON, and height-less payloads are dropped instead of
    failing the batch (the reference logs-and-skips failed heights,
    main.go:270-307)."""
    import json

    from allora_indexer_spark.sources.fixtures import build_blocks

    feed = tmp_path / "blocks"
    feed.mkdir()
    good = build_blocks()[:2]  # heights 101, 102
    with open(feed / "part-000.jsonl", "w") as f:
        f.write(json.dumps(good[0]) + "\n")
        f.write("{this is not json at all\n")
        f.write(json.dumps({"header": {"chain_id": "x"}}) + "\n")  # no height
        f.write(json.dumps({"unrelated": 1}) + "\n")
        f.write(json.dumps(good[1]) + "\n")

    blocks = ingest.read_blocks(spark, str(feed))
    assert sorted(r["height"] for r in blocks.select("height").collect()) == [101, 102]


def test_decimal_narrowing_keeps_raw_string(spark):
    """NUMERIC(72,18) → Decimal(38,18) narrowing (SURVEY hard part a): a
    value beyond 38 digits of precision nulls the computed decimal via
    try-cast semantics, but the lossless raw string column survives for
    downstream re-parse; in-range values round-trip exactly."""
    import json

    from allora_indexer_spark.sources.fixtures import _event, _j, _q

    huge = "9" * 50 + ".5"  # 52 digits > DecimalType max precision 38
    ok = "123.450000000000000001"  # 21 sig digits, fits (38,18) exactly
    payload = {
        "result": {
            "height": "200",
            "finalize_block_events": [
                _event(
                    "emissions.v1.EventScoresSet",
                    topic_id=_q(1),
                    actor_type=_q("inferer"),
                    block_height=_q(200),
                    addresses=_j(["big", "fine"]),
                    scores=_j([huge, ok]),
                )
            ],
            "txs_results": [],
        }
    }
    raw = spark.createDataFrame([(json.dumps(payload),)], "value STRING")
    from allora_indexer_spark import schemas

    results = ingest.with_result_height(
        raw.select(
            F.from_json("value", schemas.RAW_BLOCK_RESULTS_SCHEMA).alias("r")
        ).select("r.*")
    )
    rows = {
        r["address"]: r
        for r in ingest.scores(ingest.flat_events(results)).collect()
    }
    assert rows["big"]["value"] is None
    assert rows["big"]["value_raw"] == huge
    assert str(rows["fine"]["value"]) == ok
    assert rows["fine"]["value_raw"] == ok


def test_topic_metadata_reconciliation(spark, tables):
    """S6 (process_topic.go:44-58): a created topic whose metadata does not
    match chain state is flagged, not silently inserted as-is; without a
    snapshot the column stays NULL (unverified)."""
    msgs = tables["messages"]
    # no snapshot -> unverified
    unchecked = {r["id"]: r["metadata_matched"] for r in ingest.topics(msgs).collect()}
    assert unchecked == {1: None, 2: None}
    # snapshot agrees on topic 1, disagrees on topic 2
    chain = spark.createDataFrame(
        [(1, "topic-one"), (2, "tampered")], "id int, metadata string"
    )
    checked = {
        r["id"]: r["metadata_matched"]
        for r in ingest.topics(msgs, chain_topics=chain).collect()
    }
    assert checked == {1: True, 2: False}
    # a topic missing from chain state entirely is also a mismatch
    partial = spark.createDataFrame([(1, "topic-one")], "id int, metadata string")
    flagged = {
        r["id"]: r["metadata_matched"]
        for r in ingest.topics(msgs, chain_topics=partial).collect()
    }
    assert flagged == {1: True, 2: False}
    # a chain row whose metadata is NULL is PRESENT: null-safe equality
    # verdicts it False (mismatch), never NULL (ADVICE r3: == gave NULL)
    null_meta = spark.createDataFrame(
        [(1, None), (2, "topic-two")], "id int, metadata string"
    )
    verdicts = {
        r["id"]: r["metadata_matched"]
        for r in ingest.topics(msgs, chain_topics=null_meta).collect()
    }
    assert verdicts == {1: False, 2: True}


def test_topic_skip_unmatched_parity(spark, tables):
    """skip_unmatched=True reproduces the reference's silent skip
    (process_topic.go:44-58): mismatched creates vanish from the output;
    the default keeps and flags them; unverified rows are always kept."""
    msgs = tables["messages"]
    chain = spark.createDataFrame(
        [(1, "topic-one"), (2, "tampered")], "id int, metadata string"
    )
    kept = ingest.topics(msgs, chain_topics=chain)
    assert {r["id"] for r in kept.collect()} == {1, 2}
    skipped = ingest.topics(msgs, chain_topics=chain, skip_unmatched=True)
    assert {r["id"] for r in skipped.collect()} == {1}
    # without a snapshot nothing can be skipped
    unverified = ingest.topics(msgs, skip_unmatched=True)
    assert {r["id"] for r in unverified.collect()} == {1, 2}


def _write_blocks(tmp_path, blocks):
    import json as _json

    feed = tmp_path / "craft_blocks"
    feed.mkdir(exist_ok=True)
    with open(feed / "part-000.jsonl", "w") as f:
        for b in blocks:
            f.write(_json.dumps(b) + "\n")
    return str(feed)


def test_foreign_module_messages_are_not_routed(spark, tmp_path):
    """The dispatch gates every arm on a module PREFIX, like the
    reference (HasPrefix '/emissions.v' / '/cosmos.bank.v1beta1',
    process_tx.go:66-170): a same-named FOREIGN-module message must not
    fabricate rows — a /cosmos.nft.v1beta1.MsgSend is skipped where a
    suffix-only match would insert a transfer, and a foreign
    *.MsgCreateNewTopic must not be assigned a topic id (it would
    permanently shift every subsequent topic id)."""
    from allora_indexer_spark.sources.fixtures import _block, _msg, _tx

    foreign_send = {
        "@type": "/cosmos.nft.v1beta1.MsgSend",
        "from_address": "mallory", "to_address": "eve",
        "amount": [{"denom": "nft", "amount": "1"}],
    }
    foreign_topic = {
        "@type": "/foreign.v9.MsgCreateNewTopic",
        "creator": "mallory", "metadata": "fake-topic",
    }
    real_topic = _msg(
        "MsgCreateNewTopic", creator="carol", metadata="real-topic",
        epoch_length="10",
    )
    blocks = ingest.read_blocks(
        spark,
        _write_blocks(
            tmp_path,
            [_block(101, [_tx(foreign_send, foreign_topic, real_topic)])],
        ),
    )
    msgs = ingest.messages(blocks)
    transfers = ingest.transfers(msgs).collect()
    assert all(r["from_address"] != "mallory" for r in transfers)
    topics = ingest.topics(msgs).collect()
    assert [(r["id"], r["creator"]) for r in topics] == [(1, "carol")]
    addrs = ingest.addresses(msgs).collect()
    assert all(r["address"] != "mallory" for r in addrs)


def test_v1x_bulk_prefix_matches_reference_literally(spark, tmp_path):
    """The bulk gate reproduces the reference's LITERAL
    HasPrefix('/emissions.v1') (process_tx.go:120): it matches
    /emissions.v10.* too — a v10 bulk payload must be processed, not
    silently dropped, while /emissions.v2.* bulk stays foreign."""
    import json as _json

    from allora_indexer_spark.sources.fixtures import _block, _tx, _wdb

    def bulk(version, worker, height):
        return {
            "@type": f"/emissions.{version}.MsgInsertBulkWorkerPayload",
            "sender": "s",
            "nonce": {"block_height": str(height)},
            "topic_id": "1",
            "worker_data_bundles": [_wdb(worker, "1", str(height), "1.5")],
        }

    blocks = ingest.read_blocks(
        spark,
        _write_blocks(
            tmp_path,
            [_block(101, [
                _tx(bulk("v10", "ten", 101)),
                _tx(bulk("v2", "two", 101)),
            ])],
        ),
    )
    msgs = ingest.messages(blocks)
    inferers = {r["inferer"] for r in ingest.inferences(msgs).collect()}
    assert "ten" in inferers  # v10 bulk processed (reference parity)
    assert "two" not in inferers  # v2 bulk stays foreign


def test_duplicate_attribute_keys_keep_last_not_poison(spark):
    """Repeated attribute keys are legal in CometBFT events; the
    reference's attribute loop lets the LAST occurrence win. A bare
    map_from_entries THROWS under the default dedup policy — one such
    event then poisons its whole micro-batch forever."""
    import json as _json

    from allora_indexer_spark import schemas
    from allora_indexer_spark.sources.fixtures import _q

    payload = {
        "result": {
            "height": "200",
            "finalize_block_events": [
                {
                    "type": "emissions.v1.EventForecastTaskScoreSet",
                    "attributes": [
                        {"key": "topic_id", "value": _q(1)},
                        {"key": "score", "value": _q("0.1")},
                        {"key": "score", "value": _q("0.9")},  # last wins
                    ],
                }
            ],
            "txs_results": [],
        }
    }
    raw = spark.createDataFrame([(_json.dumps(payload),)], "value STRING")
    results = ingest.with_result_height(
        raw.select(
            F.from_json("value", schemas.RAW_BLOCK_RESULTS_SCHEMA).alias("r")
        ).select("r.*")
    )
    fev = ingest.flat_events(results)
    rows = ingest.topic_forecasting_scores(fev).collect()
    assert [(r["topic_id"], r["score"]) for r in rows] == [(1, "0.9")]


def test_message_id_packing_overflow_fails_loudly(spark, tmp_path):
    """message_id packs (height, tx_idx, msg_idx) with factor 1000: a tx
    with >= 1000 messages would silently collide with the next tx's ids
    and the idempotent writer would drop legitimate child rows — the
    packing envelope is enforced with a loud per-row assert instead."""
    import pytest as _pytest

    from allora_indexer_spark.sources.fixtures import _block, _msg, _tx

    big_tx = _tx(*[
        _msg("MsgFundTopic", sender=f"s{i}", topic_id="1", amount="1")
        for i in range(1001)
    ])
    blocks = ingest.read_blocks(
        spark, _write_blocks(tmp_path, [_block(101, [big_tx])])
    )
    with _pytest.raises(Exception, match="packing overflow"):
        ingest.messages(blocks).collect()


def test_length_mismatch_events_are_quarantined_visibly(spark):
    """An event whose parallel arrays mismatch in length (the
    db.go:909-920 hard-error case) is dropped from the scores table but
    must surface in numeric_quarantine — pre-fix the same size filter ran
    there too, so a corrupt feed lost data with zero observability."""
    import json as _json

    from allora_indexer_spark import schemas
    from allora_indexer_spark.sources.fixtures import _event, _j, _q

    payload = {
        "result": {
            "height": "200",
            "finalize_block_events": [
                _event(
                    "emissions.v1.EventScoresSet",
                    topic_id=_q(1),
                    actor_type=_q("inferer"),
                    block_height=_q(200),
                    addresses=_j(["a", "b", "c"]),
                    scores=_j(["1.0", "2.0"]),  # mismatch: 3 vs 2
                )
            ],
            "txs_results": [],
        }
    }
    raw = spark.createDataFrame([(_json.dumps(payload),)], "value STRING")
    results = ingest.with_result_height(
        raw.select(
            F.from_json("value", schemas.RAW_BLOCK_RESULTS_SCHEMA).alias("r")
        ).select("r.*")
    )
    fev = ingest.flat_events(results)
    assert ingest.scores(fev).count() == 0  # dropped from the table
    q = ingest.numeric_quarantine(fev).collect()
    assert [(r["family"], r["value_raw"]) for r in q] == [
        ("score_length_mismatch", "3!=2")
    ]


def test_presence_pruning_never_drops_a_nonempty_table(
    spark, fixture_dir, tables
):
    """The streaming sinks skip write jobs for tables the presence probe
    marks absent — an UNDER-approximation there is silent data loss, so
    this pins the safety direction over the full reference-shaped feed:
    every table that materializes rows is marked present."""
    blocks = ingest.read_blocks(spark, f"{fixture_dir}/blocks")
    results = ingest.read_block_results(spark, f"{fixture_dir}/block_results")
    present = ingest.present_block_tables(
        ingest.messages(blocks)
    ) | ingest.present_event_tables(ingest.flat_events(results))
    for name, df in tables.items():
        if df.count() > 0:
            assert name in present, f"{name} has rows but was pruned"


def test_presence_pruning_prunes_unrelated_routes(spark):
    """The other direction (the one that buys the cadence): a batch
    carrying only a bank MsgSend marks the send-fed tables and NOT the
    worker/reputer/topic families — so a caught-up 1-block micro-batch
    submits a handful of write jobs, not 12."""
    import json as _json

    from allora_indexer_spark.sources.fixtures import _block, _tx

    payload = _block(
        300,
        [
            _tx(
                {
                    "@type": "/cosmos.bank.v1beta1.MsgSend",
                    "from_address": "a1",
                    "to_address": "a2",
                    "amount": [{"denom": "uallo", "amount": "5"}],
                }
            )
        ],
    )
    from allora_indexer_spark import schemas

    raw = spark.createDataFrame([(_json.dumps(payload),)], "value STRING")
    blocks = ingest.with_block_height(
        raw.select(
            F.from_json("value", schemas.RAW_BLOCK_SCHEMA).alias("b")
        ).select("b.*")
    )
    present = ingest.present_block_tables(ingest.messages(blocks))
    assert {"block_info", "messages", "transfers", "addresses"} <= present
    assert present.isdisjoint(
        {
            "topics",
            "worker_registrations",
            "inferences",
            "forecasts",
            "forecast_values",
            "reputer_payload",
            "reputer_bundles",
            "bundle_values",
        }
    )


def test_presence_pruning_empty_batch(spark):
    from allora_indexer_spark import schemas

    blocks = spark.createDataFrame([], schemas.RAW_BLOCK_SCHEMA)
    blocks = ingest.with_block_height(blocks)
    assert ingest.present_block_tables(ingest.messages(blocks)) == {
        "block_info"
    }
    results = spark.createDataFrame([], schemas.RAW_BLOCK_RESULTS_SCHEMA)
    results = ingest.with_result_height(results)
    assert ingest.present_event_tables(ingest.flat_events(results)) == set()


def test_block_span_covers_prune_columns(spark, fixture_dir, tables):
    """TableSpec.span safety: for every span-covered table, the feed's
    block-height span covers every row's probe-prune value — an
    under-covering span would silently re-admit keys on replay, so this
    is the invariant that licenses skipping the per-table span job."""
    from allora_indexer_spark.plans.warehouse import _prune_col
    from allora_indexer_spark.schemas import TABLE_SPECS

    blocks = ingest.read_blocks(spark, f"{fixture_dir}/blocks")
    results = ingest.read_block_results(spark, f"{fixture_dir}/block_results")
    spans = {
        "block": ingest.batch_height_span(blocks),
        "event": ingest.batch_height_span(results),
    }
    for spec in TABLE_SPECS.values():
        if not spec.span:
            continue
        lo, hi = spans[spec.feed]
        pc = _prune_col(spec.keys)
        df = tables[spec.name]
        bad = df.filter(
            F.col(pc).isNotNull() & ~F.col(pc).between(F.lit(lo), F.lit(hi))
        )
        assert bad.count() == 0, f"{spec.name}.{pc} escapes the feed span"


def test_table_specs_agree_with_builders(spark, tmp_path):
    """schemas.TABLE_SPECS is the one list every consumer iterates, so
    each row must describe its builder's frame: per feed, the spec's
    tables are exactly the builder's tables (in sink order); every key,
    FK, keep-one order and enum column a row names exists on the built
    frame; every FK parent is itself a spec row; and each presence rule
    sits on the feed that can evaluate it."""
    from allora_indexer_spark import schemas
    from allora_indexer_spark.functions.events import EVENT_WHITELIST

    specs = schemas.TABLE_SPECS
    built = {
        "block": ingest.build_tables_for_blocks(ingest.with_block_height(
            spark.createDataFrame([], schemas.RAW_BLOCK_SCHEMA)
        )),
        "event": ingest.build_tables_for_events(ingest.with_result_height(
            spark.createDataFrame([], schemas.RAW_BLOCK_RESULTS_SCHEMA)
        )),
    }
    for feed, frames in built.items():
        assert [s.name for s in specs.values() if s.feed == feed] == list(
            frames
        ), feed
    cp = tmp_path / "consensus_params.jsonl"
    cp.write_text("")
    columns = {
        n: set(df.columns) for frames in built.values()
        for n, df in frames.items()
    }
    columns["consensus_params"] = set(
        ingest.read_consensus_params(spark, str(cp)).columns
    )
    assert set(columns) == set(specs)
    for s in specs.values():
        named = {*s.keys, *(c for c, _ in s.keep_one), *(c for c, _ in s.enums)}
        for child_cols, parent, parent_cols in s.fks:
            assert parent in specs, (s.name, parent)
            assert set(parent_cols) <= columns[parent], (s.name, parent)
            named |= set(child_cols)
        assert named <= columns[s.name], (s.name, named - columns[s.name])
        assert not s.routes or s.feed == "block", s.name
        assert s.family is None or (
            s.feed == "event" and s.family in EVENT_WHITELIST.values()
        ), s.name
        assert not (s.span and s.keep_one), s.name


def test_write_insert_if_absent_key_span_replay(spark, tmp_path):
    """A replayed batch written with key_span dedups exactly as without:
    the span path must preserve the idempotence contract."""
    root = str(tmp_path / "wh")
    df = spark.range(4).selectExpr(
        "id + 100 as height",
        "cast(id as long) as hash",
        "'t' as type",
        "'s' as sender",
        "'d' as data",
    )
    warehouse.write_insert_if_absent(spark, df, root, "messages")
    # replay the same rows THROUGH the span path
    warehouse.write_insert_if_absent(
        spark, df, root, "messages", key_span=(100, 103)
    )
    assert warehouse.read_table(spark, root, "messages").count() == 4
    # a new overlapping batch admits only the novel keys: (102,2) and
    # (103,3) already exist, (104,4) and (105,5) are new
    df2 = spark.range(4).selectExpr(
        "id + 102 as height",
        "cast(id + 2 as long) as hash",
        "'t' as type",
        "'s' as sender",
        "'d' as data",
    )
    warehouse.write_insert_if_absent(
        spark, df2, root, "messages", key_span=(102, 105)
    )
    got = warehouse.read_table(spark, root, "messages")
    assert got.count() == 6
    assert got.filter(F.col("height") > 103).count() == 2


def _blocks_df(spark, payload):
    import json as _json

    from allora_indexer_spark import schemas

    raw = spark.createDataFrame([(_json.dumps(payload),)], "value STRING")
    return ingest.with_block_height(
        raw.select(
            F.from_json("value", schemas.RAW_BLOCK_SCHEMA).alias("b")
        ).select("b.*")
    )


def test_worker_topic_param_and_block_height_fallback(spark):
    """Reference parity pinned on the paths the main fixture does not
    exercise: (a) inferences/forecasts store the BUNDLE/message-level
    topic_id parameter, not the inner struct's (insertWorkerDataBundle
    takes topic_id as a param and only LOGS when the inner one differs,
    process_tx.go:331-339, 410-412); (b) an inference whose own
    block_height does not parse falls back to the forecast's
    (process_tx.go:306-314); (c) a forecast with elements but an EMPTY
    forecaster is still inserted — the reference's gate is
    len(forecast_elements) > 0 alone (process_tx.go:373)."""
    from allora_indexer_spark.sources.fixtures import _block, _msg, _tx, _wdb

    wdb = _wdb("zoe", "7", "400", "1.5")
    wdb["inference_forecasts_bundle"]["inference"]["topic_id"] = "99"
    wdb["inference_forecasts_bundle"]["inference"]["block_height"] = "nope"
    wdb["inference_forecasts_bundle"]["forecast"]["topic_id"] = "98"
    wdb["inference_forecasts_bundle"]["forecast"]["forecaster"] = ""
    blocks = _blocks_df(
        spark,
        _block(400, [_tx(_msg("MsgInsertWorkerPayload",
                              sender="zoe", worker_data_bundle=wdb))]),
    )
    inf = ingest.inferences(ingest.messages(blocks)).collect()
    assert len(inf) == 1
    # bundle-level topic 7 wins over the inner structs' 99/98
    assert inf[0]["topic_id"] == 7
    # inference block_height unparseable -> forecast's 400
    assert inf[0]["block_height"] == 400
    fc = ingest.forecasts(ingest.messages(blocks)).collect()
    assert len(fc) == 1  # empty forecaster does NOT gate the insert
    assert fc[0]["topic_id"] == 7
    assert fc[0]["forecaster"] == ""
    fv = ingest.forecast_values(ingest.messages(blocks)).collect()
    assert len(fv) == 2  # children follow the same elements>0 gate


def test_forecast_without_elements_not_inserted(spark):
    from allora_indexer_spark.sources.fixtures import _block, _msg, _tx, _wdb

    wdb = _wdb("yan", "3", "401", "2.5", n_elements=0)
    blocks = _blocks_df(
        spark,
        _block(401, [_tx(_msg("MsgInsertWorkerPayload",
                              sender="yan", worker_data_bundle=wdb))]),
    )
    msgs = ingest.messages(blocks)
    # inference row still lands; forecast parent and children do not
    assert ingest.inferences(msgs).count() == 1
    assert ingest.forecasts(msgs).count() == 0
    assert ingest.forecast_values(msgs).count() == 0


def test_span_footer_proof_skips_probe_and_stays_exact(
    spark, tmp_path, monkeypatch
):
    """Round 17: when the batch's span lies strictly ABOVE the table's
    footer high-watermark, write_insert_if_absent skips the anti-join
    probe outright (the caught-up streaming case). Pins (a) that the
    skip path actually engages for a disjoint span, (b) that an
    overlapping span still runs the probe, and (c) that results are
    byte-identical either way."""
    root = str(tmp_path / "wh")

    def mk(lo):
        return spark.range(3).selectExpr(
            f"id + {lo} as height",
            "cast(id as long) as hash",
            "'t' as type",
            "'s' as sender",
            "'d' as data",
        )

    warehouse.write_insert_if_absent(spark, mk(100), root, "messages")

    probed = []
    real = warehouse.existing_keys_in_range

    def spy(*a, **k):
        probed.append(k.get("span"))
        return real(*a, **k)

    monkeypatch.setattr(warehouse, "existing_keys_in_range", spy)
    # strictly-above span: the footer proof must skip the probe
    warehouse.write_insert_if_absent(
        spark, mk(200), root, "messages", key_span=(200, 202)
    )
    assert probed == [], "disjoint span should not have probed"
    assert warehouse.read_table(spark, root, "messages").count() == 6
    # overlapping replay: the probe must run and dedup exactly
    warehouse.write_insert_if_absent(
        spark, mk(200), root, "messages", key_span=(200, 202)
    )
    assert probed, "overlapping span must fall back to the probe"
    assert warehouse.read_table(spark, root, "messages").count() == 6


def test_unpivot_value_bundle_is_single_pass(spark, fixture_dir):
    """Round 17: _unpivot_value_bundle emits the six reputer-value
    branches through ONE inline(concat(transform(...))) generator — the
    old 6-branch union re-scanned the bundle subtree per branch (24 JSON
    scans in bundle_values' physical plan; now 4, one per reputer arm x
    feed pass). Pinned so a refactor cannot quietly reintroduce the
    fan-out."""
    blocks = ingest.read_blocks(spark, f"{fixture_dir}/blocks")
    plan = (
        ingest.bundle_values(ingest.messages(blocks))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = plan.count("Scan json")
    assert scans <= 4, f"bundle_values re-fans the feed: {scans} scans"


def test_route_without_suffixes_routes_nothing(spark):
    msgs = spark.createDataFrame(
        [("/emissions.v9.MsgRegister",)], "type string"
    )
    assert ingest._route(msgs, prefix="/emissions.v").count() == 0
    assert ingest._route(msgs, "MsgRegister").count() == 1


@pytest.mark.parametrize(
    "spec",
    [
        ("/emissions.v", ("MsgRegister", "Msg') OR ('1")),
        ("/emissions.v' OR '", ("MsgRegister",)),
        ("/emissions.v", ('Msg"Register',)),
    ],
)
def test_route_literals_with_quotes_are_rejected(spec):
    from allora_indexer_spark import schemas

    with pytest.raises(ValueError, match="quote"):
        schemas._check_route_literals(spec)

