"""Event-type parsing and filtering (SURVEY.md §2.3 F1-F3, F6-F7).

Semantics pinned by the reference's own tests
(/root/reference/process_events_test.go:7-205), ported to
tests/test_event_filter.py:

- base type = last '.'-separated segment; a type with no '.' is invalid
  (getBaseEventType, process_events.go:148-154);
- the whitelist matches on base type only, so version prefixes
  (emissions.v1 … emissions.v12, mint.*) are accepted version-agnostically
  (event_whitelist, process_events.go:49-61);
- numeric values equal to Infinity/NaN (case-insensitive) are rejected
  before decimal parsing (isInvalidNumericValue, db.go:1715-1717).

Every helper takes the SQL text of its input column and returns SQL text
— JVM-side, codegen-friendly. The ingest builders batch a whole
projection into ONE selectExpr call: each F.col()/F.when() Column
construction costs a separate py4j round trip (~2-5 ms on a busy
driver), and Column-built builders paid ~4 s of pure driver-side plan
construction per 23-table pass (guide §7.3 "planning time itself can
become the bottleneck"). A Column caller wraps a helper in ``F.expr``;
the tests evaluate these exact strings, so the reference cases run
against the code ingest executes.
"""

from __future__ import annotations

# Base-type whitelist → event family (process_events.go:49-61).
EVENT_WHITELIST: dict[str, str] = {
    "EventScoresSet": "score",
    "EventRewardsSettled": "reward",
    "EventNetworkLossSet": "network_loss",
    "EventForecastTaskScoreSet": "forecast_task_score",
    "EventWorkerLastCommitSet": "actor_last_commit",
    "EventReputerLastCommitSet": "actor_last_commit",
    "EventTopicRewardsSet": "topic_reward",
    "EventEMAScoresSet": "ema_score",
    "EventTokenomicsSet": "tokenomics",
    "EventEcosystemTokenMintSet": "ecosystem_token_mint",
    "EventRewardCurrentBlockEmission": "reward_current_block_emission",
}

INVALID_TYPE = "invalid"


def base_event_type_sql(c: str) -> str:
    """`emissions.v2.EventScoresSet` → `EventScoresSet`; no dot → 'invalid'."""
    return (
        f"CASE WHEN size(split({c}, '\\\\.')) > 1 "
        f"THEN element_at(split({c}, '\\\\.'), -1) "
        f"ELSE '{INVALID_TYPE}' END"
    )


def is_whitelisted_sql(c: str) -> str:
    keys = ", ".join(f"'{k}'" for k in EVENT_WHITELIST)
    return f"{base_event_type_sql(c)} IN ({keys})"


def event_family_sql(c: str) -> str:
    """Route an event type to its processing family (db.go:707-732);
    non-whitelisted types map to NULL (a map lookup of a missing key)."""
    pairs = ", ".join(f"'{k}', '{v}'" for k, v in EVENT_WHITELIST.items())
    return f"map({pairs})[{base_event_type_sql(c)}]"


def is_reputer_last_commit_sql(c: str) -> str:
    """Worker vs reputer last-commit split (isReputerLastCommitEvent,
    db.go:676-678): prefix 'emissions.v' + suffix 'EventReputerLastCommitSet'."""
    return (
        f"(startswith({c}, 'emissions.v') "
        f"AND endswith({c}, 'EventReputerLastCommitSet'))"
    )


def is_invalid_numeric_sql(c: str) -> str:
    """Reject Infinity/NaN (case-insensitive substring match, db.go:1715-1717)."""
    return f"(contains(lower({c}), 'infinity') OR contains(lower({c}), 'nan'))"


def strip_quotes_sql(c: str) -> str:
    """Attribute values arrive JSON-encoded; scalars are quoted
    (`"\\"1\\""`). Mirror of strings.Trim(v, '"') (db.go:866 et al.)."""
    return f'regexp_replace({c}, \'^"|"$\', \'\')'


def attrs_to_map_sql(c: str) -> str:
    """[{key,value}] → map<key,value> (E6 attribute pivot entry point).

    Duplicate keys keep the LAST occurrence — the reference's attribute
    loop lets later assignments win (db.go's per-event for/switch), and
    repeated keys are legal in CometBFT events. A bare map_from_entries
    THROWS under Spark's default mapKeyDedupPolicy=EXCEPTION, turning
    one such event into a permanent batch poison pill (the checkpoint
    retries the same batch forever). The dedup is a tiny per-event
    O(n_attrs^2) filter, entirely JVM-side."""
    return (
        f"map_from_entries(filter({c}, (e, i) -> "
        f"NOT exists(slice({c}, i + 2, size({c})), "
        f"later -> later.key = e.key)))"
    )
