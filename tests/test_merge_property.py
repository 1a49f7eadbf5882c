"""Property-based MERGE test (SURVEY §5 pyramid; VERDICT r1 item 3).

Random changelog batches — arbitrary I/D sequences with repeated keys,
including I-then-D and D-then-I inside one batch — applied through
LakeTable.merge must equal a plain-Python replay of the reference
semantics (last change per key wins within a batch; D removes the key;
D of an absent key is a no-op: IcebergStream.java:116-120 equality
deletes + Paimon dedup, PaimonStream.java:90-91).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakeshed.catalog import Catalog

KEYS = st.integers(min_value=0, max_value=6)
EVENTS = st.lists(
    st.tuples(st.sampled_from(["I", "D"]), KEYS,
              st.text(alphabet="abcxyz", min_size=1, max_size=4)),
    min_size=1,
    max_size=25,
)


def replay(initial: dict[int, str], events) -> dict[int, str]:
    state = dict(initial)
    # last event per key wins (dedup by arrival seq), applied atomically
    last = {}
    for seq, (op, key, val) in enumerate(events):
        last[key] = (op, val)
    for key, (op, val) in last.items():
        if op == "D":
            state.pop(key, None)
        else:
            state[key] = val
    return state


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(initial=st.dictionaries(KEYS, st.text("mn", min_size=1, max_size=3),
                               max_size=5),
       events=EVENTS)
def test_merge_equals_python_replay(spark, tmp_path_factory, initial, events):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    t = cat.create_table(
        "default.prop",
        spark.createDataFrame(
            list(initial.items()) or [(None, None)],
            "k int, v string",
        ).where("k IS NOT NULL"),
    )
    batch = spark.createDataFrame(
        [(k, v, op, seq) for seq, (op, k, v) in enumerate(events)],
        "k int, v string, op string, seq int",
    )
    t.merge(
        batch,
        on="k",
        when_matched_update={"v": "s.v"},
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert="op <> 'D'",
        source_order="seq",
    )
    got = {r.k: r.v for r in t.read().collect()}
    assert got == replay(initial, events)
    t.drop()

def test_one_partition_dedup_equals_shuffled_dedup(spark, tmp_path):
    """A one-partition source is deduped without a shuffle; the same
    changelog batch merged as one partition and as ``repartition(7)``
    (deduped by the window's shuffle) leaves the same table, equal to the
    replay, over keys that arrive I-then-D, D-then-I and repeatedly."""
    import random

    from lakeshed.table import _one_partition

    rng = random.Random(11)
    initial = {k: f"i{k}" for k in range(0, 40, 2)}
    events = [(rng.choice("ID"), rng.randrange(40), f"e{n}")
              for n in range(160)]
    events[40:40] = [("I", 50, "a"), ("D", 51, "b"), ("D", 50, "c"),
                     ("I", 51, "d"), ("D", 2, "e"), ("I", 2, "f")]
    rows = [(k, v, op, seq) for seq, (op, k, v) in enumerate(events)]
    path = str(tmp_path / "batch")
    spark.createDataFrame(rows, "k int, v string, op string, seq int") \
        .coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    many = one.repartition(7)
    assert _one_partition(one) and not _one_partition(many)
    cat = Catalog(spark, str(tmp_path / "wh"))
    got = []
    for name, batch in (("one", one), ("many", many)):
        t = cat.create_table(f"default.{name}", spark.createDataFrame(
            sorted(initial.items()), "k int, v string").repartition(3))
        t.merge(batch, on="k", when_matched_update={"v": "s.v"},
                when_matched_delete="s.op = 'D'",
                when_not_matched_insert="op <> 'D'", source_order="seq")
        got.append({r.k: r.v for r in t.read().collect()})
    assert got[0] == got[1] == replay(initial, events)
