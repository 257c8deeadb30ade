"""Model-based property test for the manifest warehouse writers.

The manifest layout (plans/warehouse.py) is the engine's most state-heavy
component: upserts append their batch and every read resolves one row per
key (merge-on-read), compact() changes the physical layout without
changing content, and fold_appends() rewrites only delta versions. This
test drives RANDOM operation sequences against a table and checks after
every operation that ``read_table`` equals a trivial in-memory model — the
executable form of the layout's contract ("any interleaving of writers,
replays and maintenance preserves exactly the logical rows"). Reference semantic being modeled:
the store-agnostic ON CONFLICT upsert + idempotent append
(/root/reference/db.go:1118-1185, 1654-1686).
"""

from __future__ import annotations

import os
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from allora_indexer_spark.plans import warehouse
from allora_indexer_spark.schemas import TABLE_SPECS


@pytest.fixture(scope="module")
def tmp_root(tmp_path_factory):
    # module-scoped (hypothesis re-enters the test body many times per
    # fixture instantiation); each example isolates itself with a uuid
    # subdir
    return str(tmp_path_factory.mktemp("wh_model"))

# -- upsert table (scores, keep-latest on height_tx) ------------------------
#
# Key domain is small on purpose (collisions exercise the keep-one merge);
# value is DERIVED from (key, height_tx) so an equal-height_tx tie between
# two generated rows is the identical row — keep-one's winner among exact
# ties is then content-deterministic without constraining the generator.

_KEYS = [(h, h, "inferer", a) for h in range(4) for a in ("x", "y")]

_upsert_batch = st.lists(
    st.tuples(
        st.sampled_from(_KEYS), st.integers(min_value=0, max_value=50)
    ),
    min_size=1,
    max_size=6,
)

_upsert_ops = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), _upsert_batch),
        # re-upsert an earlier batch (index taken modulo the batches so far)
        st.tuples(st.just("replay"), st.integers(min_value=0, max_value=5)),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(st.just("fold"), st.just(None)),
    ),
    min_size=1,
    max_size=6,
)


def _state(df):
    return {
        (r["height"], r["topic_id"], r["type"], r["address"]): (
            r["height_tx"],
            r["value"],
        )
        for r in df.collect()
    }


def _mk_rows(spark, batch):
    rows = [
        (h, t, ty, a, htx, float(htx) + h, str(float(htx) + h))
        for (h, t, ty, a), htx in batch
    ]
    return spark.createDataFrame(
        rows,
        "height int, topic_id int, type string, address string,"
        " height_tx long, value double, value_raw string",
    )


@settings(
    max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(ops=_upsert_ops)
def test_upsert_table_matches_model(spark, tmp_root, ops):
    root = f"{tmp_root}/wh_{uuid.uuid4().hex[:8]}"
    path = os.path.join(root, "scores")
    model: dict[tuple, tuple] = {}
    batches: list[list] = []
    order = warehouse._order_cols(TABLE_SPECS["scores"].keep_one)
    for op, arg in ops:
        before = dict(model)
        if op == "replay" and batches:
            op, arg = "upsert", batches[arg % len(batches)]
        if op == "upsert":
            warehouse.write_keep_one(
                spark, _mk_rows(spark, arg), root, "scores", order
            )
            batches.append(arg)
            for (h, t, ty, a), htx in arg:
                k = (h, t, ty, a)
                if k not in model or htx >= model[k][0]:
                    model[k] = (htx, float(htx) + h)
        elif op == "compact" and model:
            warehouse.compact(spark, path, target_partitions=1)
            # compaction leaves exactly one row per key on disk
            raw = warehouse.read_dir(spark, path)
            assert raw.count() == len(model)
            assert _state(raw) == model
        elif op == "fold":
            warehouse.fold_appends(spark, path)
        if not model:
            continue
        assert _state(warehouse.read_table(spark, root, "scores")) == model
        if op == "upsert" and before:
            # every upsert publishes one version: the one before it is
            # the model's state before this write
            old = warehouse.read_table_version(spark, root, "scores", 1)
            assert _state(old) == before


# -- append table (block_info, insert-if-absent) ----------------------------

_append_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("insert"),
            st.lists(
                st.integers(min_value=0, max_value=40),
                min_size=1,
                max_size=8,
            ),
        ),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(st.just("fold"), st.just(None)),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(ops=_append_ops)
def test_append_table_matches_model(spark, tmp_root, ops):
    root = f"{tmp_root}/wh_{uuid.uuid4().hex[:8]}"
    seen: set[int] = set()
    for op, arg in ops:
        if op == "insert":
            df = spark.createDataFrame(
                [(h, f"hash{h}") for h in arg],
                "height long, block_hash string",
            )
            warehouse.write_insert_if_absent(spark, df, root, "block_info")
            seen |= set(arg)
        elif op == "compact" and seen:
            warehouse.compact(
                spark, f"{root}/block_info", target_partitions=1
            )
        elif op == "fold":
            warehouse.fold_appends(spark, f"{root}/block_info")
        got = {
            r["height"]
            for r in warehouse.read_table(
                spark, root, "block_info"
            ).collect()
        } if seen else set()
        assert got == seen
