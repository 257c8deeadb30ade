"""Seeded, reference-shaped chain feed: blocks and block_results as JSONL.

Every height's content is a pure function of ``(seed, height)``, so a
re-delivered height is byte-identical to its first delivery, exactly as an
at-least-once source re-sending a height would be. The engine sees only
the files :class:`FeedWriter` writes; the expectations (distinct heights,
per-kind counts) stay on the benchmark's side.

The mix is dominated by worker and reputer payloads. Each block carries a
worker payload and a reputer payload (single or bulk form), and the rarer
kinds (topic creation, registration, transfers, funding) appear on a fixed
cadence, so every one of the 8 message kinds and 11 event kinds occurs in
any run of a few dozen blocks.

Run ``python3 perfbench/chainfeed.py --seed 1 --blocks 20 --out DIR`` to
write a feed and print its expectations.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
from collections import Counter

# heights sit in the newest decoder epoch (ingest.DECODER_EPOCHS)
FIRST_HEIGHT = 2_000_000
GENESIS_UNIX = 1_717_200_000  # 2024-06-01T00:00:00Z
BLOCK_SECONDS = 5
N_TOPICS = 6
WORKERS = [f"allo1worker{i:02d}" for i in range(12)]
REPUTERS = [f"allo1reputer{i:02d}" for i in range(6)]
VALIDATORS = ["allovaloper1aaa", "allovaloper1bbb", "allovaloper1ccc"]

MESSAGE_KINDS = (
    "MsgCreateNewTopic",
    "MsgRegister",
    "MsgSend",
    "MsgFundTopic",
    "MsgInsertWorkerPayload",
    "MsgInsertBulkWorkerPayload",
    "MsgInsertReputerPayload",
    "MsgInsertBulkReputerPayload",
)
EVENT_KINDS = (
    "EventScoresSet",
    "EventRewardsSettled",
    "EventNetworkLossSet",
    "EventForecastTaskScoreSet",
    "EventWorkerLastCommitSet",
    "EventReputerLastCommitSet",
    "EventEMAScoresSet",
    "EventTopicRewardsSet",
    "EventTokenomicsSet",
    "EventEcosystemTokenMintSet",
    "EventRewardCurrentBlockEmission",
)


def _b64(obj: dict) -> str:
    return base64.b64encode(json.dumps(obj).encode()).decode()


def _tx(*messages: dict) -> str:
    return _b64(
        {
            "body": {"messages": [json.dumps(m) for m in messages], "memo": ""},
            "auth_info": {"fee": {"gas_limit": "200000", "payer": ""}},
            "signatures": ["sig"],
        }
    )


def _iso(height: int) -> str:
    import time

    t = GENESIS_UNIX + (height - FIRST_HEIGHT) * BLOCK_SECONDS
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t))


def _num(rng: random.Random) -> str:
    return f"{rng.uniform(-5, 5):.6f}"


def _worker_bundle(rng, worker: str, topic: int, h: int) -> dict:
    return {
        "worker": worker,
        "nonce": {"block_height": str(h)},
        "topic_id": str(topic),
        "inference_forecasts_bundle": {
            "inference": {
                "value": _num(rng),
                "inferer": worker,
                "topic_id": str(topic),
                "extra_data": "",
                "block_height": str(h),
                "proof": f"proof-{worker}",
            },
            "forecast": {
                "topic_id": str(topic),
                "extra_data": "",
                "forecaster": worker,
                "block_height": str(h),
                "forecast_elements": [
                    {"inferer": w, "value": _num(rng)}
                    for w in rng.sample(WORKERS, 3)
                ],
            },
        },
        "inferences_forecasts_bundle_signature": f"bsig-{worker}-{h}",
        "pubkey": f"pk-{worker}",
    }


def _value_bundle(rng, reputer: str, topic: int, h: int) -> dict:
    def vw(ws):
        return [{"value": _num(rng), "worker": w} for w in ws]

    ws = rng.sample(WORKERS, 3)
    return {
        "reputer": reputer,
        "topic_id": str(topic),
        "extra_data": "",
        "naive_value": _num(rng),
        "combined_value": _num(rng),
        "inferer_values": vw(ws),
        "forecaster_values": vw(ws[:2]),
        "reputer_request_nonce": {
            "worker_nonce": {"block_height": str(h - 1)},
            "reputer_nonce": {"block_height": str(h)},
        },
        "one_out_inferer_values": vw(ws[:2]),
        "one_in_forecaster_values": vw(ws[:1]),
        "one_out_forecaster_values": vw(ws[1:]),
        "one_out_inferer_forecaster_values": [
            {"forecaster": ws[0], "one_out_inferer_values": vw(ws[1:])}
        ],
    }


def _event(etype: str, **attrs) -> dict:
    return {
        "type": etype,
        "attributes": [{"key": k, "value": v} for k, v in attrs.items()],
    }


def _q(v) -> str:
    return json.dumps(str(v))


def _j(v) -> str:
    return json.dumps(v)


def _emissions(version: int, name: str) -> str:
    return f"/emissions.v{version}.{name}"


def block_at(seed: int, height: int) -> tuple[dict, dict, Counter]:
    """(block, block_results, kind counts) of one height — deterministic
    in ``(seed, height)``."""
    rng = random.Random(seed * 1_000_003 + height)
    i = height - FIRST_HEIGHT
    h = str(height)
    topic = 1 + i % N_TOPICS
    kinds: Counter = Counter()
    msgs: list[list[dict]] = []

    # topic creation on a fixed cadence; the first N_TOPICS heights create
    # the topics every later payload refers to
    if i < N_TOPICS or i % 97 == 0:
        msgs.append([{
            "@type": _emissions(3, "MsgCreateNewTopic"),
            "creator": rng.choice(WORKERS), "metadata": f"topic-{height}",
            "loss_method": "mse", "epoch_length": str(10 + i % 50),
            "ground_truth_lag": "10", "pnorm": "3", "alpha_regret": "0.1",
            "allow_negative": bool(i % 2), "epsilon": "0.01",
        }])
        kinds["MsgCreateNewTopic"] += 1
    if i % 11 == 3:
        w = rng.choice(WORKERS)
        msgs.append([{
            "@type": _emissions(2, "MsgRegister"), "sender": w,
            "topic_id": str(topic), "owner": w, "lib_p2p_key": f"p2p-{w}",
            "multi_address": "/ip4/10.0.0.1", "is_reputer": i % 2 == 0,
        }])
        kinds["MsgRegister"] += 1
    if i % 5 == 1:
        a, b = rng.sample(WORKERS + REPUTERS, 2)
        msgs.append([{
            "@type": "/cosmos.bank.v1beta1.MsgSend", "from_address": a,
            "to_address": b,
            "amount": [{"denom": "uallo", "amount": str(rng.randint(1, 10**6))}],
        }])
        kinds["MsgSend"] += 1
    if i % 7 == 2:
        msgs.append([{
            "@type": _emissions(4, "MsgFundTopic"),
            "sender": rng.choice(REPUTERS), "topic_id": str(topic),
            "amount": str(rng.randint(1, 10**5)),
        }])
        kinds["MsgFundTopic"] += 1
    # worker payload: bulk every third block, single otherwise
    if i % 3 == 0:
        ws = rng.sample(WORKERS, 4)
        msgs.append([{
            "@type": "/emissions.v1.MsgInsertBulkWorkerPayload",
            "sender": ws[0], "topic_id": str(topic),
            "nonce": {"block_height": h},
            "worker_data_bundles": [
                _worker_bundle(rng, w, topic, height) for w in ws
            ],
        }])
        kinds["MsgInsertBulkWorkerPayload"] += 1
    else:
        for w in rng.sample(WORKERS, 2):
            msgs.append([{
                "@type": _emissions(5, "MsgInsertWorkerPayload"), "sender": w,
                "worker_data_bundle": _worker_bundle(rng, w, topic, height),
            }])
            kinds["MsgInsertWorkerPayload"] += 1
    # reputer payload: bulk every fourth block, single otherwise
    if i % 4 == 0:
        rs = rng.sample(REPUTERS, 3)
        msgs.append([{
            "@type": "/emissions.v1.MsgInsertBulkReputerPayload",
            "sender": rs[0], "topic_id": str(topic),
            "reputer_request_nonce": {
                "worker_nonce": {"block_height": str(height - 1)},
                "reputer_nonce": {"block_height": h},
            },
            "reputer_value_bundles": [
                {"pubkey": f"pk-{r}", "signature": f"s-{r}-{h}",
                 "value_bundle": _value_bundle(rng, r, topic, height)}
                for r in rs
            ],
        }])
        kinds["MsgInsertBulkReputerPayload"] += 1
    else:
        r = rng.choice(REPUTERS)
        msgs.append([{
            "@type": _emissions(5, "MsgInsertReputerPayload"), "sender": r,
            "reputer_value_bundle": {
                "pubkey": f"pk-{r}", "signature": f"s-{r}-{h}",
                "value_bundle": _value_bundle(rng, r, topic, height),
            },
        }])
        kinds["MsgInsertReputerPayload"] += 1

    block = {
        "block_id": {"hash": f"BH{h}", "part_set_header": {"total": 1, "hash": f"PH{h}"}},
        "header": {
            "version": {"block": "11", "app": "0"},
            "chain_id": "allora-bench",
            "height": h,
            "time": _iso(height),
            "last_block_id": {
                "hash": f"BH{height - 1}",
                "part_set_header": {"total": 1, "hash": f"PH{height - 1}"},
            },
            "last_commit_hash": f"LC{h}", "data_hash": f"DH{h}",
            "validators_hash": f"VH{h}", "next_validators_hash": f"NV{h}",
            "consensus_hash": f"CH{h}", "app_hash": f"AH{h}",
            "last_results_hash": f"LR{h}", "evidence_hash": f"EH{h}",
            "proposer_address": VALIDATORS[height % len(VALIDATORS)],
        },
        "data": {"txs": [_tx(*m) for m in msgs]},
        "last_commit": {
            "height": str(height - 1),
            "signatures": [
                {"block_id_flag": "BLOCK_ID_FLAG_COMMIT",
                 "validator_address": v, "timestamp": _iso(height),
                 "signature": f"S{h}{k}"}
                for k, v in enumerate(VALIDATORS)
            ],
        },
    }

    def addrs(n):
        return rng.sample(WORKERS, n)

    finalize = [
        _event("emissions.v3.EventScoresSet", topic_id=_q(topic),
               actor_type=_q("inferer"), block_height=_q(height),
               addresses=_j(addrs(4)),
               scores=_j([_num(rng) for _ in range(4)])),
        _event("emissions.v3.EventEMAScoresSet", topic_id=_q(topic),
               actor_type=_q("forecaster"), nonce=_q(height),
               addresses=_j(addrs(3)),
               scores=_j([_num(rng) for _ in range(3)]),
               is_active=_j([True, False, True])),
        _event("emissions.v4.EventWorkerLastCommitSet", topic_id=_q(topic),
               block_height=_q(height),
               nonce=_j({"block_height": str(height - 1)})),
    ]
    kinds.update(["EventScoresSet", "EventEMAScoresSet",
                  "EventWorkerLastCommitSet"])
    if i % 2 == 0:
        finalize.append(_event(
            "emissions.v4.EventRewardsSettled", topic_id=_q(topic),
            actor_type=_q("reputer"), block_height=_q(height),
            addresses=_j(rng.sample(REPUTERS, 2)),
            rewards=_j([_num(rng) for _ in range(2)])))
        finalize.append(_event(
            "emissions.v4.EventReputerLastCommitSet", topic_id=_q(topic),
            block_height=_q(height),
            nonce=_j({"block_height": str(height - 1)})))
        kinds.update(["EventRewardsSettled", "EventReputerLastCommitSet"])
    if i % 3 == 1:
        finalize.append(_event(
            "emissions.v5.EventNetworkLossSet", topic_id=_q(topic),
            block_height=_q(height - 1),
            value_bundle=_j(_value_bundle(rng, "netloss", topic, height))))
        finalize.append(_event(
            "emissions.v12.EventForecastTaskScoreSet", topic_id=_q(topic),
            score=_q(_num(rng))))
        kinds.update(["EventNetworkLossSet", "EventForecastTaskScoreSet"])
    if i % 5 == 0:
        tids = list(range(1, N_TOPICS + 1))
        finalize.append(_event(
            "emissions.v5.EventTopicRewardsSet", block_height=_q(height),
            topic_ids=_j([str(t) for t in tids]),
            rewards=_j([_num(rng) for _ in tids])))
        finalize.append(_event(
            "mint.v3.EventRewardCurrentBlockEmission", sender=_q("mintmod"),
            block_height=_q(height), token_amount=_q(f"{rng.uniform(1, 9):.3f}")))
        kinds.update(["EventTopicRewardsSet", "EventRewardCurrentBlockEmission"])
    per_tx = []
    if i % 4 == 2:
        per_tx.append([
            _event("mint.v2.EventTokenomicsSet", sender=_q("mintmod"),
                   circulating_supply=_q(f"{1e6 + i:.1f}"),
                   emissions_amount=_q(f"{rng.uniform(1, 99):.3f}"),
                   staked_token_amount=_q(f"{rng.uniform(1, 999):.3f}")),
            _event("mint.v1.EventEcosystemTokenMintSet", sender=_q("mintmod"),
                   block_height=_q(height),
                   token_amount=_q(f"{rng.uniform(1, 99):.3f}")),
        ])
        kinds.update(["EventTokenomicsSet", "EventEcosystemTokenMintSet"])
    results = {
        "result": {
            "height": h,
            "finalize_block_events": finalize,
            "txs_results": [
                {"code": 0, "gas_wanted": "100", "gas_used": "90", "events": evs}
                for evs in per_tx
            ],
        }
    }
    return block, results, kinds


class FeedWriter:
    """Writes the feed as block and block_results JSONL files, one pair per
    :meth:`write` call, and records what was delivered.

    Each file is written under a hidden name and renamed into place, so the
    streaming file source never lists a half-written file."""

    def __init__(self, root: str, seed: int) -> None:
        self.seed = seed
        self.blocks_dir = os.path.join(root, "blocks")
        self.results_dir = os.path.join(root, "block_results")
        os.makedirs(self.blocks_dir, exist_ok=True)
        os.makedirs(self.results_dir, exist_ok=True)
        self.heights: set[int] = set()
        self.deliveries = 0
        self.kinds: Counter = Counter()
        self.files = 0

    def write(self, heights: list[int]) -> tuple[str, str]:
        """One block file and its block_results file holding ``heights``
        (a height already written is a re-delivery)."""
        name = f"part-{self.files:06d}.jsonl"
        self.files += 1
        b_lines, r_lines = [], []
        for height in heights:
            block, results, kinds = block_at(self.seed, height)
            b_lines.append(json.dumps(block))
            r_lines.append(json.dumps(results))
            if height not in self.heights:
                self.heights.add(height)
                self.kinds.update(kinds)
        self.deliveries += len(heights)
        out = []
        for d, lines in ((self.blocks_dir, b_lines), (self.results_dir, r_lines)):
            tmp = os.path.join(d, "." + name)
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            final = os.path.join(d, name)
            os.rename(tmp, final)
            out.append(final)
        return out[0], out[1]

    def expectations(self) -> dict:
        return {
            "heights": sorted(self.heights),
            "deliveries": self.deliveries,
            "kinds": dict(sorted(self.kinds.items())),
        }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--blocks", type=int, default=20)
    ap.add_argument("--per-file", type=int, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    w = FeedWriter(a.out, a.seed)
    hs = list(range(FIRST_HEIGHT, FIRST_HEIGHT + a.blocks))
    for k in range(0, len(hs), a.per_file):
        w.write(hs[k:k + a.per_file])
    print(json.dumps(w.expectations()))


if __name__ == "__main__":
    main()
