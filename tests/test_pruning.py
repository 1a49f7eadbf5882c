"""Stats-based file pruning (S12/S14 + SURVEY §4 file skipping) and
partitioned tables (D2 partitioned create, partitions() metadata)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakeshed.catalog import Catalog
from lakeshed.pruning import file_may_match, parse_predicate

SF = os.environ.get("LAKESHED_TEST_SF", "/root/testdata/sf0.001")


# ---------------------------------------------------------------- unit level


@pytest.mark.parametrize(
    "pred,lo,hi,expect",
    [
        ("x = 5", "10", "20", False),
        ("x = 15", "10", "20", True),
        ("x < 5", "10", "20", False),
        ("x <= 10", "10", "20", True),
        ("x > 20", "10", "20", False),
        ("x >= 20", "10", "20", True),
        # stringified numbers must compare numerically: lexically '9'>'10'
        ("x = 9", "9", "10", True),
        ("x > 99", "100", "200", True),
        # conjunction prunes if either side refutes; disjunction needs both
        ("x < 5 AND y = 1", "10", "20", False),
        ("x < 5 OR x > 15", "10", "20", True),
        ("(x < 5 OR x > 25) AND x = 30", "10", "20", False),
        # unknown shapes keep the file
        ("x IS NULL", "10", "20", True),
        ("upper(x) = 'A'", "10", "20", True),
        # IN = OR of equalities: prunes only when EVERY value misses
        ("x IN (1, 2, 3)", "10", "20", False),
        ("x IN (1, 15)", "10", "20", True),
        ("x IN (1, 2) AND x >= 10", "10", "20", False),
        # malformed / non-literal IN stays conservative
        ("x IN (y)", "10", "20", True),
        ("x IN ()", "10", "20", True),
    ],
)
def test_file_may_match(pred, lo, hi, expect):
    node = parse_predicate(pred)
    # the column type is required: pruning compares in the domain of
    # the file schema's type, exact for a numeric column
    types = {"x": "bigint", "y": "bigint"}
    assert file_may_match(node, {"x": lo}, {"x": hi}, {},
                          types=types) is expect


def test_wave20_untyped_fallback_prunes_only_on_order_agreement():
    """A STRING column's lex bounds do not bound the numeric cast domain
    of a numeric literal (lex bounds ['1000','999'] once wrongly refuted
    x = 1000 though the row '1000' is in the file); a numeric column
    prunes numerically."""
    # the reviewer's reproduction: row '1000' present, lex lo='1000'
    assert file_may_match(
        parse_predicate("x = 1000"), {"x": "1000"}, {"x": "999"}, {},
        types={"x": "string"})
    assert not file_may_match(
        parse_predicate("x = 5"), {"x": "60"}, {"x": "70"}, {},
        types={"x": "bigint"})
    # typed string column + numeric literal: Spark casts the COLUMN, so
    # lex bounds prove nothing → conservative keep
    assert file_may_match(
        parse_predicate("x = 500"), {"x": "1000"}, {"x": "999"}, {},
        types={"x": "string"})
    # typed numeric column: exact numeric pruning regardless of lex order
    assert not file_may_match(
        parse_predicate("x = 500"), {"x": "1000"}, {"x": "2000"}, {},
        types={"x": "bigint"})


def test_is_null_pruning_uses_null_counts():
    """IS NULL prunes files with zero nulls in the column; IS NOT NULL
    prunes all-null files; missing stats stay conservative."""
    isnull = parse_predicate("x IS NULL")
    notnull = parse_predicate("x IS NOT NULL")
    T = {"x": "bigint", "y": "bigint"}
    # zero nulls recorded → IS NULL unsatisfiable, IS NOT NULL fine
    assert file_may_match(isnull, {}, {}, {}, None, {"x": 0}, 10,
                          types=T) is False
    assert file_may_match(notnull, {}, {}, {}, None, {"x": 0}, 10,
                          types=T) is True
    # all-null file → the reverse
    assert file_may_match(isnull, {}, {}, {}, None, {"x": 10}, 10,
                          types=T) is True
    assert file_may_match(notnull, {}, {}, {}, None, {"x": 10}, 10,
                          types=T) is False
    # some nulls → both possible
    assert file_may_match(isnull, {}, {}, {}, None, {"x": 3}, 10,
                          types=T) is True
    assert file_may_match(notnull, {}, {}, {}, None, {"x": 3}, 10,
                          types=T) is True
    # no stats → keep
    assert file_may_match(isnull, {}, {}, {}, None, {}, 10, types=T) is True
    assert file_may_match(isnull, {}, {}, {}, types=T) is True
    # composes with AND
    both = parse_predicate("x IS NULL AND y = 1")
    assert file_may_match(both, {}, {}, {}, None, {"x": 0}, 10,
                          types=T) is False


def test_is_null_prunes_files_end_to_end(cat, spark):
    """Table-level: a file whose column has no nulls never enters an
    IS NULL scan plan."""
    from pyspark.sql import functions as F

    full = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ).coalesce(1)
    with_nulls = spark.createDataFrame(
        [(3, None), (4, "d")], "k int, v string"
    ).coalesce(1)
    t = cat.create_table("default.nullprune", full)
    t.append(with_nulls)
    assert len(t.plan_files()) == 2
    hits = t.plan_files("v IS NULL")
    assert len(hits) == 1 and hits[0].null_counts.get("v") == 1
    assert t.scan("v IS NULL").count() == 1


def test_in_list_uses_dictionary_skipping():
    """IN over a dict-indexed column decides per value exactly."""
    node = parse_predicate("cat IN ('m', 'q')")
    d = {"cat": ["a", "z"]}
    T = {"cat": "string"}
    assert file_may_match(node, {"cat": "a"}, {"cat": "z"}, {}, d,
                          types=T) is False
    d2 = {"cat": ["a", "q"]}
    assert file_may_match(node, {"cat": "a"}, {"cat": "z"}, {}, d2,
                          types=T) is True


def test_partition_value_acts_as_exact_bound():
    node = parse_predicate("p = 'b'")
    T = {"p": "string"}
    assert file_may_match(node, {}, {}, {"p": "a"}, types=T) is False
    assert file_may_match(node, {}, {}, {"p": "b"}, types=T) is True


def test_string_bounds():
    node = parse_predicate("name >= 'M'")
    T = {"name": "string"}
    assert file_may_match(node, {"name": "AAA"}, {"name": "LZZ"}, {},
                          types=T) is False
    assert file_may_match(node, {"name": "AAA"}, {"name": "ZOO"}, {},
                          types=T) is True


# ------------------------------------------------------------- table level


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))


def test_scan_prunes_files_same_rows(cat, spark):
    """Range-partitioned writes give disjoint per-file key ranges; a point
    predicate must plan a strict subset of files and return exactly the
    rows read().where() returns."""
    df = (
        spark.range(0, 10000)
        .withColumn("k", F.col("id"))
        .repartitionByRange(8, "k")
    )
    t = cat.create_table("default.pruned", df)
    all_files = t.plan_files()
    assert len(all_files) == 8
    hit = t.plan_files("k >= 9000")
    assert 0 < len(hit) < len(all_files)
    got = t.scan("k >= 9000").count()
    want = t.read().where("k >= 9000").count()
    assert got == want == 1000
    # impossible predicate → zero files planned, empty result, same schema
    assert t.plan_files("k < 0") == []
    empty = t.scan("k < 0")
    assert empty.count() == 0 and empty.columns == t.read().columns


def test_scan_residual_filter_correctness(cat, spark):
    """Pruning must never change results — predicates it can't reason
    about (modulo) fall through to the residual filter."""
    df = spark.range(0, 1000).withColumn("k", F.col("id"))
    t = cat.create_table("default.resid", df.repartition(4))
    got = {r.id for r in t.scan("k % 97 = 0").collect()}
    want = {r.id for r in t.read().where("k % 97 = 0").collect()}
    assert got == want and got


def test_partitioned_create_and_pruning(cat, spark):
    """D2 — PARTITIONED BY: partition dirs materialize, partitions()
    metadata rolls up, and both the engine's planner and Spark's
    PartitionFilters prune on the partition column."""
    df = spark.createDataFrame(
        [(i, ["red", "green", "blue"][i % 3], float(i)) for i in range(300)],
        "id bigint, color string, v double",
    )
    t = cat.create_table("default.part", df, partition_by=("color",))
    parts = {r.partition: r.record_count for r in t.partitions().collect()}
    assert len(parts) == 3 and sum(parts.values()) == 300
    # engine-level pruning from partition-dir values
    hit = t.plan_files("color = 'red'")
    assert all("color=red" in a.path for a in hit)
    assert len(hit) < len(t.plan_files())
    assert t.scan("color = 'red'").count() == 100
    # appends respect the live partition spec
    t.append(spark.createDataFrame([(999, "red", 9.9)],
                                   "id bigint, color string, v double"))
    assert t.scan("color = 'red'").count() == 101
    # partition column survives the read with correct type
    assert dict(t.read().dtypes)["color"] == "string"


def test_update_only_rewrites_matching_partition(cat, spark):
    """Copy-on-write DML + partitioning: an UPDATE keyed to one partition
    must leave other partitions' files untouched on disk."""
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(100)],
        "id bigint, p string, v double",
    )
    t = cat.create_table("default.cow", df, partition_by=("p",))
    before = {a.path for a in t.plan_files("p = 'b'")}
    t.update({"v": "v + 1000"}, where="p = 'a'")
    after = {a.path for a in t.plan_files("p = 'b'")}
    assert before == after  # b-partition files carried over by reference
    assert t.read().where("p = 'b' AND v >= 1000").count() == 0
    assert t.read().where("p = 'a' AND v >= 1000").count() == 50

# --------------------------------------------------- property: conservative


from hypothesis import given, settings
from hypothesis import strategies as st

_OPS = ["=", "!=", "<", "<=", ">", ">="]


def _leaf():
    return st.tuples(
        st.just("leaf"), st.sampled_from(_OPS), st.integers(-30, 30)
    )


_pred_tree = st.recursive(
    _leaf(),
    lambda kids: st.tuples(
        st.sampled_from(["AND", "OR"]), kids, kids
    ),
    max_leaves=5,
)


def _to_sql(node) -> str:
    if node[0] == "leaf":
        return f"x {node[1]} {node[2]}"
    return f"({_to_sql(node[1])}) {node[0]} ({_to_sql(node[2])})"


def _eval(node, x: int) -> bool:
    if node[0] == "leaf":
        op, lit = node[1], node[2]
        return {
            "=": x == lit, "!=": x != lit, "<": x < lit,
            "<=": x <= lit, ">": x > lit, ">=": x >= lit,
        }[op]
    l, r = _eval(node[1], x), _eval(node[2], x)
    return (l and r) if node[0] == "AND" else (l or r)


@settings(max_examples=300, deadline=None)
@given(
    vals=st.lists(st.integers(-40, 40), min_size=1, max_size=8),
    tree=_pred_tree,
)
def test_pruning_is_conservative(vals, tree):
    """file_may_match may keep too much but must NEVER prune a file that
    contains a matching row — the safety property every DML planner
    (update/delete/merge candidate selection) depends on."""
    sql = _to_sql(tree)
    node = parse_predicate(sql)
    keeps = file_may_match(
        node, {"x": str(min(vals))}, {"x": str(max(vals))}, {},
        types={"x": "bigint"},
    )
    has_match = any(_eval(tree, v) for v in vals)
    if has_match:
        assert keeps, f"pruned a matching file: {sql} over {sorted(vals)}"


def test_file_stats_multi_row_group_native_bounds(tmp_path):
    """Bounds must merge across row groups in the native type: with string
    merging, RG mins (9, 10) record lower='10' and upper='9' — both wrong —
    and pruning then drops files that contain matches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeshed.table import _file_stats

    p = str(tmp_path / "two_rg.parquet")
    pq.write_table(pa.table({"x": [9, 9, 10, 10]}), p, row_group_size=2)
    _, _, lo, hi, _, _, _ = _file_stats(p)
    assert lo["x"] == "9" and hi["x"] == "10"
    node = parse_predicate("x = 9")
    assert file_may_match(node, lo, hi, {}, types={"x": "bigint"})


# ----------------------------------------------------- temporal coercion


def test_temporal_equality_mixed_shape_keeps_file():
    """A timestamp column's stats stringify as '1995-01-01 00:00:00' while
    the predicate carries '1995-01-01'; Spark casts the literal so midnight
    rows DO match — pruning must keep the file (r5 ADVICE medium)."""
    lo = {"ts": "1995-01-01 00:00:00"}
    hi = {"ts": "1995-06-30 23:59:59"}
    T = {"ts": "timestamp"}
    assert file_may_match(parse_predicate("ts = '1995-01-01'"), lo, hi, {},
                          types=T)
    # IN routes through the same '=' path
    assert file_may_match(
        parse_predicate("ts IN ('1995-01-01', '2099-01-01')"), lo, hi, {},
        types=T)
    # and the dictionary path shares the coercion
    d = {"ts": ["1995-01-01 00:00:00", "1995-03-15 12:00:00"]}
    assert file_may_match(
        parse_predicate("ts IN ('1995-01-01')"), lo, hi, {}, d, types=T)
    # a value truly outside the range still prunes (datetime compare)
    assert not file_may_match(
        parse_predicate("ts = '1994-12-31'"), lo, hi, {}, types=T)
    assert not file_may_match(
        parse_predicate("ts IN ('1994-01-01', '2001-01-01')"), lo, hi, {}, d,
        types=T)


def test_temporal_mixed_shape_ranges_stay_conservative():
    """Temporal-shaped text in a STRING column compares as text: the
    string and timestamp interpretations disagree exactly at the
    midnight/prefix case, and a datetime compare there would prune."""
    lo = {"c": "1995-01-01 00:00:00"}
    hi = {"c": "1995-01-01 00:00:00"}
    T = {"c": "string"}
    # rows '1995-01-01 00:00:00' > '1995-01-01' as strings → a
    # datetime-compare would wrongly prune; must keep
    assert file_may_match(parse_predicate("c > '1995-01-01'"), lo, hi, {},
                          types=T)
    # != holds for the row '1995-01-01 00:00:00' as a string → keep
    d = {"c": ["1995-01-01 00:00:00"]}
    assert file_may_match(
        parse_predicate("c != '1995-01-01'"), lo, hi, {}, d, types=T)
    # same-shape strings remain exactly decidable
    assert not file_may_match(
        parse_predicate("c != '1995-01-01 00:00:00'"), lo, hi, {}, d,
        types=T)
    assert not file_may_match(
        parse_predicate("c > '1995-01-02 00:00:00'"), lo, hi, {}, types=T)


def test_temporal_pruning_end_to_end(cat, spark):
    """Table-level regression: date-shaped literal vs timestamp column —
    the scan must still return the midnight rows."""
    df = spark.createDataFrame(
        [(1, "1995-01-01 00:00:00"), (2, "1995-06-01 08:30:00")],
        "k int, s string",
    ).select("k", F.col("s").cast("timestamp").alias("ts")).coalesce(1)
    t = cat.create_table("default.tsprune", df)
    assert t.scan("ts = '1995-01-01'").count() == 1
    assert t.scan("ts >= '1995-01-01'").count() == 2
    # scan == full-read + filter for every predicate shape (Spark's own IN
    # coercion casts the timestamp column to STRING — unlike '=' — so the
    # invariant, not a literal row count, is the contract)
    for pred in ("ts = '1995-01-01'", "ts IN ('1995-01-01')",
                 "ts > '1995-01-01'", "ts != '1995-01-01'"):
        assert t.scan(pred).count() == t.read().where(pred).count(), pred


# ------------------------------------------------- stats completeness


def test_file_stats_null_count_requires_all_row_groups(tmp_path, monkeypatch):
    """If ANY row group lacks a null_count (or min/max) for a column, the
    file-level stat must be dropped — a partial sum understates nulls and
    IS NULL pruning would drop a file that contains nulls (r5 ADVICE low)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import lakeshed.table as lt

    p = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"x": [1, None, 3, 4]}), p, row_group_size=2)

    # Simulate a writer that emitted stats for only the first row group.
    real_pf = pq.ParquetFile

    class _NoStats:
        has_min_max = False
        null_count = None
        min = None
        max = None

    class _ColProxy:
        def __init__(self, col, strip):
            self._col = col
            self._strip = strip

        @property
        def path_in_schema(self):
            return self._col.path_in_schema

        @property
        def statistics(self):
            return _NoStats() if self._strip else self._col.statistics

    class _RGProxy:
        def __init__(self, rg, strip):
            self._rg = rg
            self._strip = strip

        def column(self, ci):
            return _ColProxy(self._rg.column(ci), self._strip)

    class _MDProxy:
        def __init__(self, md):
            self._md = md

        def __getattr__(self, a):
            return getattr(self._md, a)

        def row_group(self, rg):
            return _RGProxy(self._md.row_group(rg), strip=(rg == 1))

    class _PFProxy:
        def __init__(self, path):
            self._pf = real_pf(path)

        @property
        def metadata(self):
            return _MDProxy(self._pf.metadata)

    monkeypatch.setattr(pq, "ParquetFile", _PFProxy)
    rows, _, lo, hi, nulls, _, _ = lt._file_stats(p)
    assert rows == 4
    # RG0 reported null_count=1 but RG1 reported nothing → no file-level
    # claim (a recorded 1 would be right here, but the contract is about
    # provability: a 0-in-RG0 case would record 0 and wrongly prune IS NULL)
    assert "x" not in nulls
    assert "x" not in lo and "x" not in hi
    # conservative: no stats → IS NULL keeps the file
    assert file_may_match(parse_predicate("x IS NULL"), lo, hi, {}, None,
                          nulls, rows, types={"x": "bigint"})


def test_bloom_roundtrip_no_false_negatives():
    """Bloom contract: every inserted value reports maybe-present; absent
    values are mostly pruned (FPR well under 10% at these sizes)."""
    from lakeshed.pruning import bloom_encode, bloom_may_contain

    vals = [f"doc-{i:05d}" for i in range(1000)]
    b = bloom_encode(vals, 8192)
    assert all(bloom_may_contain(b, v) for v in vals)  # never a false neg
    misses = sum(
        bloom_may_contain(b, f"absent-{i:05d}") for i in range(1000)
    )
    assert misses < 100


def test_bloom_prunes_only_equality_on_strings():
    """file_may_match consults a bloom only for '=' with a string literal;
    every other shape stays conservative."""
    from lakeshed.pruning import (bloom_encode, file_may_match,
                                  parse_predicate)

    b = {"h": bloom_encode(["aaa", "bbb"], 1024)}
    lo, hi = {"h": "aaa"}, {"h": "zzz"}  # bounds straddle everything
    T = {"h": "string"}
    assert file_may_match(parse_predicate("h = 'bbb'"), lo, hi, {},
                          blooms=b, types=T) is True
    assert file_may_match(parse_predicate("h = 'absent'"), lo, hi, {},
                          blooms=b, types=T) is False
    # != / ranges / IS NULL never consult the bloom
    assert file_may_match(parse_predicate("h != 'absent'"), lo, hi, {},
                          blooms=b, types=T) is True
    assert file_may_match(parse_predicate("h > 'aaa'"), lo, hi, {},
                          blooms=b, types=T) is True
    # AND composition: bloom miss on one conjunct prunes the file
    assert file_may_match(
        parse_predicate("h = 'absent' AND h > 'aaa'"), lo, hi, {},
        blooms=b, types=T) is False


def test_temporal_iso_t_separator_never_prunes_wrongly():
    """Same-length temporal strings with MIXED ' '/'T' separators must not
    be compared lexicographically ('T' > ' ' breaks the order-agreement
    argument): a file whose bounds contain the instant must be kept for
    an ISO-'T' literal, in both the bounds and the dict path."""
    from lakeshed.pruning import file_may_match, parse_predicate

    lo = {"ts": "2024-01-01 00:00:00"}
    hi = {"ts": "2024-01-01 00:00:02"}
    T = {"ts": "timestamp"}
    node = parse_predicate("ts = '2024-01-01T00:00:01'")
    assert file_may_match(node, lo, hi, {}, types=T) is True
    # dict path: the entry is the same instant
    d = {"ts": ["2024-01-01 00:00:01"]}
    assert file_may_match(node, lo, hi, {}, d, types=T) is True
    # a different instant is refuted in either separator style
    for lit in ("2024-01-01 00:00:05", "2024-01-01T00:00:05"):
        assert file_may_match(
            parse_predicate(f"ts = '{lit}'"), lo, hi, {}, types=T) is False


def test_bloom_bits_round_to_bytes():
    """A non-multiple-of-8 bit count must not produce false negatives:
    encode rounds up so probe and encode agree on the modulus."""
    from lakeshed.pruning import bloom_encode, bloom_may_contain

    vals = [f"doc-{i}" for i in range(50)]
    b = bloom_encode(vals, 1001)
    assert all(bloom_may_contain(b, v) for v in vals)


def test_wave15_quoted_numeric_and_tz_stats_never_wrong_prune(cat, spark):
    """r11 review wave 15: (a) a QUOTED numeric literal compared against
    number-shaped stats must not prune lexicographically ('9' > '30'
    textually but 9 < 30 numerically — the file with k=30 was dropped
    while Spark's cast matched its rows); (b) offset-suffixed timestamp
    stats (tz-adjusted / externally written parquet) previously failed
    the temporal regex and fell to the lexicographic path."""
    from lakeshed.pruning import parse_predicate

    # (a) file with k in [9, 100] must match k = '30'
    assert file_may_match(
        parse_predicate("k = '30'"), {"k": "9"}, {"k": "100"}, {},
        types={"k": "bigint"})
    # lexicographic pruning for string-typed data still works
    assert not file_may_match(
        parse_predicate("k = 'zzz'"), {"k": "aaa"}, {"k": "mmm"}, {},
        types={"k": "string"})

    # (b) tz-suffixed stats: '=' both-aware compares temporally; every
    # mixed-awareness case keeps conservatively
    lo = {"ts": "1995-01-01 00:00:00+00:00"}
    hi = {"ts": "1995-06-01 00:00:00+00:00"}
    T = {"ts": "timestamp"}
    assert file_may_match(
        parse_predicate("ts = '1995-01-01 00:00:00+00:00'"), lo, hi, {},
        types=T)
    assert not file_may_match(
        parse_predicate("ts = '1996-01-01 00:00:00+00:00'"), lo, hi, {},
        types=T)
    # aware stat vs naive literal: keep (Spark would cast and match)
    assert file_may_match(
        parse_predicate("ts = '1995-01-01'"), lo, hi, {}, types=T)
    assert file_may_match(
        parse_predicate("ts >= '1995-01-01 00:00:00'"), lo, hi, {}, types=T)


def test_wave20_bigint_precision_nan_bool_inlist_and_depth():
    """r12 review batch: (a) int literals beyond 2^53 compare exactly —
    float(raw) rounding made '!=' refute a single-valued bigint file
    whose true value differs from the literal; (b) NaN literals never
    refute ordered bounds; (c) boolean stats stringify as 'True'/'False'
    (python repr) and must not lex-compare against SQL 'true'; (d) a
    3000-value IN list evaluates flat instead of recursing one frame per
    value; (e) monster AND chains degrade to keep-all, never
    RecursionError."""
    from lakeshed.pruning import InList

    # (a) 2^53+1 single-valued file, != 2^53 → values DIFFER, keep
    big, big1 = 2**53, 2**53 + 1
    assert file_may_match(
        parse_predicate(f"x != {big}"), {"x": str(big1)}, {"x": str(big1)},
        {}, types={"x": "bigint"})
    # equality beyond 2^53 stays exact both directions
    assert not file_may_match(
        parse_predicate(f"x = {big}"), {"x": str(big1)}, {"x": str(big1)},
        {}, types={"x": "bigint"})
    assert file_may_match(
        parse_predicate(f"x = {big1}"), {"x": str(big1)}, {"x": str(big1)},
        {}, types={"x": "bigint"})

    # (b) NaN: unordered against every bound → keep
    nan = float("nan")
    from lakeshed.pruning import Comparison
    assert file_may_match(Comparison("k", "<=", nan),
                          {"k": "1"}, {"k": "5"}, {}, types={"k": "double"})
    assert file_may_match(Comparison("k", ">=", nan),
                          {"k": "1"}, {"k": "5"}, {}, types={"k": "double"})

    # (c) boolean stats: all-true file matches flag = 'true'
    assert file_may_match(
        parse_predicate("flag = 'true'"), {"flag": "True"},
        {"flag": "True"}, {}, types={"flag": "boolean"})
    assert not file_may_match(
        parse_predicate("flag = 'false'"), {"flag": "True"},
        {"flag": "True"}, {}, types={"flag": "boolean"})
    # binary repr stats never prune
    assert file_may_match(
        parse_predicate("payload = 'abc'"), {"payload": "b'abc'"},
        {"payload": "b'abc'"}, {}, types={"payload": "binary"})

    # (d) 3000-value IN list: flat node, no RecursionError, still prunes
    vals = ", ".join(str(i) for i in range(3000))
    node = parse_predicate(f"x IN ({vals})")
    assert isinstance(node, InList)
    assert not file_may_match(node, {"x": "5000"}, {"x": "6000"}, {},
                              types={"x": "bigint"})
    assert file_may_match(node, {"x": "2999"}, {"x": "6000"}, {},
                          types={"x": "bigint"})

    # (e) a 2000-clause AND chain: conservative keep, not a crash
    chain = " AND ".join(f"x != {i}" for i in range(2000))
    assert file_may_match(parse_predicate(chain),
                          {"x": "1"}, {"x": "5"}, {},
                          types={"x": "bigint"}) is True


def test_wave20_partition_values_decoded_and_null_sentinel(cat, spark):
    """r12 review (top finding): pruning compared RAW percent-escaped
    partition-dir values, so a timestamp partition ('ts=2024-01-01
    00%3A00%3A00') wrongly pruned its own partition on the exact-match
    predicate. plan_files/scan now receive the Hive-decoded values; the
    null-sentinel dir refutes comparisons outright (every row is NULL
    there)."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1), ("2024-01-02 00:00:00", 2),
         (None, 3)],
        "ts string, k int",
    )
    t = cat.create_table("default.pdec", df, partition_by=["ts"])
    # the exact value that Spark percent-escapes in the dir name
    hits = t.plan_files("ts = '2024-01-01 00:00:00'")
    assert len(hits) == 1
    assert t.scan("ts = '2024-01-01 00:00:00'").count() == 1
    # the null-sentinel partition can match no comparison
    hits2 = t.plan_files("ts = 'x'")
    assert hits2 == []
    # UPDATE through the same pruning path touches the right partition
    t.update({"k": "k + 10"}, "ts = '2024-01-02 00:00:00'")
    assert {r.k for r in t.read().collect()} == {1, 12, 3}


def test_wave16_mixed_offset_string_stats_never_wrong_prune():
    """r11 ADVICE (medium): for a STRING column holding timestamp text
    with MIXED UTC offsets, the lexicographic min/max do not bound
    datetime order — a file containing '2024-01-01T01:00:00+00:00' and
    '2024-01-01T05:00:00+07:00' (= Dec31 22:00Z, the lexicographic max
    but datetime MIN) must not be pruned for an '=' on the latter
    literal, which is exactly in the file. A string column compares as
    text."""
    from lakeshed.pruning import file_may_match, parse_predicate

    lo = {"ts": "2024-01-01T01:00:00+00:00"}   # lexicographic min
    hi = {"ts": "2024-01-01T05:00:00+07:00"}   # lexicographic max
    T = {"ts": "string"}
    # the literal IS in the file: lo_dt (01:00Z) > v_dt (Dec31 22:00Z)
    # would fire a datetime prune; the string compare keeps it
    assert file_may_match(
        parse_predicate("ts = '2024-01-01T05:00:00+07:00'"), lo, hi, {},
        types=T)
    # a literal above both bounds as text still prunes
    assert not file_may_match(
        parse_predicate("ts = '2025-06-01T00:00:00+00:00'"), lo, hi, {},
        types=T)


def test_wave22_date_column_truncates_time_bearing_literal(cat, spark):
    """r12 ADVICE (medium): Spark casts a string literal to DATE —
    truncating any time-of-day — when compared against a date column
    (verified live: date '2024-06-15' matches ``= '2024-06-15
    12:00:00'``). The typed path compared at datetime granularity, so a
    file with date bounds lo=hi='2024-06-15' saw stat 00:00 < literal
    12:00 and wrongly pruned the file, silently dropping rows Spark
    returns."""
    lohi = {"d": "2024-06-15"}
    for pred in ("d = '2024-06-15 12:00:00'",
                 "d >= '2024-06-15 12:00:00'",
                 "d <= '2024-06-15 00:00:01'"):
        assert file_may_match(parse_predicate(pred), lohi, lohi, {},
                              types={"d": "date"}), pred
    # truncation must not weaken real pruning: a different day still cuts
    assert not file_may_match(
        parse_predicate("d = '2024-06-16 12:00:00'"), lohi, lohi, {},
        types={"d": "date"})
    # timestamp columns keep full granularity (literal midnight-cast)
    ts = {"t": "2024-06-15 00:00:00"}
    assert not file_may_match(
        parse_predicate("t = '2024-06-15 12:00:00'"), ts, ts, {},
        types={"t": "timestamp"})
    # offset-suffixed literal on a date column: session-tz cast → keep
    assert file_may_match(
        parse_predicate("d = '2024-06-16 01:00:00+05:00'"), lohi, lohi,
        {}, types={"d": "date"})

    # end-to-end: the file must stay in the plan and the row must come
    # back — pruning agrees with what Spark actually returns
    df = spark.createDataFrame([("2024-06-15",), ("2024-07-01",)],
                               "s string").selectExpr("cast(s as date) d")
    t = cat.create_table("default.dtrunc", df.repartition(2, "d"))
    pred = "d = '2024-06-15 12:00:00'"
    assert t.scan(pred).count() == df.where(pred).count() == 1
    assert len(t.plan_files("d >= '2024-06-15 12:00:00'")) >= 1
    assert t.scan("d >= '2024-06-15 12:00:00'").count() == 2


def test_wave23_pruning_soundness_fuzz(cat, spark):
    """Seeded-random differential: for hundreds of generated predicates
    over a typed multi-file table (bigint incl. >2^53, numeric-shaped
    strings, dates, timestamps, doubles, booleans, NULLs everywhere,
    plus a percent-escaped string partition), ``t.scan(pred)`` must
    return exactly the rows stock Spark returns on the same data —
    over-pruning anywhere in the stats/partition path is a silent
    wrong result (the bug class r12 wave 20 and the r13 date-truncation
    fix each shipped instances of)."""
    import random

    from pyspark.sql import functions as F

    big = 2 ** 53
    rows = [
        (1, "9", "2024-06-15", "2024-06-15 00:00:00", 1.5, True, "a b"),
        (2, "10", "2024-06-15", "2024-06-15 12:30:00", -0.5, False, "x:y"),
        (3, "1000", "2024-06-16", "2024-06-16 00:00:01", 2.0, True, "a b"),
        (big + 1, "999", "2024-07-01", "2024-07-01 23:59:59", 0.0, None,
         "x:y"),
        (5, None, None, None, None, True, "plain"),
        (6, "abc", "2023-12-31", "2023-12-31 23:59:59", float("inf"),
         False, "plain"),
    ]
    df = spark.createDataFrame(
        rows,
        "k bigint, s string, d_raw string, ts_raw string, f double, "
        "b boolean, p string",
    ).selectExpr("k", "s", "cast(d_raw as date) d",
                 "cast(ts_raw as timestamp) ts", "f", "b", "p")
    # multiple files per partition value so min/max stats differ
    t = cat.create_table("default.psfz", df.repartition(3, "k"),
                         partition_by=["p"])

    rng = random.Random(20260816)
    cols = {
        "k": ["1", "3", str(big), str(big + 1), "0", "5"],
        "s": ["'9'", "'10'", "'1000'", "'999'", "'abc'", "9", "1000"],
        "d": ["'2024-06-15'", "'2024-06-15 12:00:00'",
              "'2024-06-16 00:00:01'", "'2023-12-31'", "'2024-07-01'"],
        "ts": ["'2024-06-15'", "'2024-06-15 12:30:00'",
               "'2024-07-01 23:59:59'", "'2024-06-16'"],
        "f": ["0.0", "1.5", "-0.5", "2.0", "'1.5'"],
        "b": ["true", "false", "'true'"],
        "p": ["'a b'", "'x:y'", "'plain'", "'a%20b'"],
    }
    ops = ["=", "!=", "<", "<=", ">", ">="]

    def leaf() -> str:
        c = rng.choice(list(cols))
        kind = rng.random()
        if kind < 0.1:
            return f"{c} IS NULL"
        if kind < 0.2:
            return f"{c} IS NOT NULL"
        if kind < 0.3:
            vals = ", ".join(rng.sample(cols[c], k=min(2, len(cols[c]))))
            return f"{c} IN ({vals})"
        return f"{c} {rng.choice(ops)} {rng.choice(cols[c])}"

    def pred(depth: int = 0) -> str:
        if depth >= 2 or rng.random() < 0.5:
            return leaf()
        a, b_ = pred(depth + 1), pred(depth + 1)
        return f"({a}) {rng.choice(['AND', 'OR'])} ({b_})"

    from pyspark.errors.exceptions.captured import AnalysisException

    raw = t.read()  # same data through the table read path, unpruned
    checked = 0
    for i in range(120):
        p = pred()
        try:
            want = raw.where(p).count()
        except AnalysisException:
            # Spark rejects the predicate itself (e.g. mixed-type IN
            # lists) — nothing to differentiate against
            continue
        got = t.scan(p).count()
        assert got == want, f"predicate {i}: {p!r} scan={got} want={want}"
        checked += 1
    assert checked >= 100  # the generator must mostly produce valid SQL


# ------------------------------------------- predicate columns by field id


def _swapped(cat, spark, name):
    """Two one-row files written as (k, a, b) = (1, 10, 500), (2, 20, 600);
    then ``a`` and ``b`` swap names, so the read schema (k, b, a) reads
    the files' ``b`` as ``a`` and a name-keyed stat lookup reads the
    wrong column."""
    df = spark.createDataFrame([(1, 10, 500), (2, 20, 600)],
                               "k int, a int, b int").repartition(2, "k")
    t = cat.create_table(f"db.{name}", df)
    assert len(t.plan_files()) == 2
    t.rename_column("a", "tmp")
    t.rename_column("b", "a")
    t.rename_column("tmp", "b")
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_swapped_names_resolve_stats_by_field_id(cat, spark):
    """Pruning after a name swap reads each predicate column's own stats:
    every path returns what ``read().where`` returns."""
    cat.create_database("db")
    t = _swapped(cat, spark, "sw")
    pred = "a = 500"
    want = _rows(t.read().where(pred))
    assert want == [(1, 10, 500)]
    assert _rows(t.scan(pred)) == want
    assert t.to_arrow(pred).to_pylist() == [{"k": 1, "b": 10, "a": 500}]
    assert [a.rows for a in t.plan_files("b = 10")] == [1]

    t.update({"k": "k + 100"}, where=pred)
    assert _rows(t.read()) == [(2, 20, 600), (101, 10, 500)]

    t = _swapped(cat, spark, "sw_del")
    t.delete(pred)
    assert _rows(t.read()) == [(2, 20, 600)]

    t = _swapped(cat, spark, "sw_sql")
    cat.sql("DELETE FROM db.sw_sql WHERE a = 600")
    assert _rows(t.read()) == [(1, 10, 500)]

    # MERGE on the swapped key: the key-range prune must find the file
    # holding a = 500, or the update lands as a duplicate insert
    t = _swapped(cat, spark, "sw_merge")
    src = spark.createDataFrame([(7, 500, 11)], "k int, a int, b int")
    t.merge(src, on="a")
    assert _rows(t.read()) == [(2, 20, 600), (7, 11, 500)]


def test_dropped_and_readded_column_never_reads_old_stats(cat, spark):
    """A column dropped and added back is a new field id: files written
    before hold no value for it (all NULL), whatever stats they carry
    under the old name."""
    cat.create_database("db")

    def make(name):
        t = cat.create_table(f"db.{name}", spark.createDataFrame(
            [(1, 10), (2, 20)], "k int, a int").repartition(2, "k"))
        t.drop_column("a")
        t.add_column("a", "int")
        return t

    t = make("dr")
    pred = "a IS NULL"
    assert t.read().where(pred).count() == 2
    assert t.scan(pred).count() == 2
    assert t.to_arrow(pred).num_rows == 2
    assert t.scan("a IS NOT NULL").count() == 0
    t.update({"k": "k + 100"}, where=pred)
    assert _rows(t.read()) == [(101, None), (102, None)]

    t = make("dr_del")
    t.delete(pred)
    assert t.read().count() == 0

    t = make("dr_sql")
    cat.sql("DELETE FROM db.dr_sql WHERE a IS NULL AND k = 2")
    assert _rows(t.read()) == [(1, None)]


def test_renamed_column_prunes_by_its_old_stats(cat, spark):
    """A renamed column keeps its stats: the files' ``a`` bounds prune a
    predicate on its new name ``b``."""
    t = cat.create_table("default.rn", spark.createDataFrame(
        [(1, 10), (2, 20)], "k int, a int").repartition(2, "k"))
    t.rename_column("a", "b")
    assert len(t.plan_files()) == 2
    assert [a.lower_bounds["a"] for a in t.plan_files("b = 10")] == ["10"]
    assert t.scan("b = 10").count() == 1


def test_type_change_out_of_stats_domain_keeps_file(cat, spark):
    """Stats written under ``int`` do not bound the values read after the
    column becomes a string ('10' < '5' as text): keep the file. Integral
    widening keeps the stats usable."""
    t = cat.create_table("default.tc", spark.createDataFrame(
        [(1, 10)], "k int, a int").coalesce(1))
    t.alter_column("a", type="string")
    assert t.read().where("a < '5'").count() == 1
    assert t.scan("a < '5'").count() == 1
    w = cat.create_table("default.tw", spark.createDataFrame(
        [(1, 10)], "k int, a int").coalesce(1))
    w.alter_column("a", type="bigint")
    assert w.plan_files("a = 11") == []
    assert w.scan("a = 10").count() == 1


def test_nested_predicate_prunes_by_struct_leaf_type(cat, spark):
    """``s.x = 5`` resolves ``s`` by field id and takes the leaf type from
    the struct type, so the stats compare as numbers: one of 1,000
    one-row files is kept. Without a type, numeric literals against
    number-shaped stats could prune only where numeric and text order
    agree, which kept 441."""
    df = (spark.range(1000)
          .select("id", F.struct(F.col("id").alias("x")).alias("s"))
          .repartitionByRange(1000, "id"))
    t = cat.create_table("default.nest", df)
    assert len(t.plan_files()) == 1000
    kept = t.plan_files("s.x = 5")
    assert len(kept) == 1 and kept[0].lower_bounds["s.x"] == "5"
    assert _rows(t.scan("s.x = 5").select("id")) == [(5,)]
