"""Seeded-random spelling fuzz for the SQL router (VERDICT r10 #4).

r10's review waves 9-14 were all hand-found spelling bugs in
``catalog.py``'s regex routing layer (DESCRIBE variants, ``--`` comments
swallowing statement tails through the whitespace-collapsed ``low``,
backticked MERGE targets, alias-vs-catalog confusion) — evidence hand
inspection does not saturate this surface. This module generates
seeded-random EQUIVALENT spellings of each routed statement class —
keyword case jitter, whitespace/newlines, ``--`` and ``/* */`` comments
at token boundaries, backticks on any subset of table-name parts,
optional AS on aliases — and asserts the routed RESULT matches the
canonical spelling's result (value-compare, not just "did not raise":
a spelling that silently falls through to stock spark.sql on a temp
view would return differently-shaped data and fail here).

Mutation sensitivity: the router reads every statement through Spark's
own parser and takes names, values and predicates off the parsed node,
so comments, case and quoting never reach a statement-head pattern.
Handing DML a predicate's raw span (comments and all) instead of its
comment-blanked text turns stats pruning off for the comment-bearing
spellings (``test_comment_inside_predicate_keeps_pruning``); the
comment- and hint-shaped statements below run end to end where they once
asserted on the deleted hand-written lexer.

r12 (VERDICT r11 #8 — grow the corpus instead of bolting on regexes):
generative classes for stateful DML CHAINS (random statement sequences
replayed canonical-vs-jittered, final state compared), `branch_<name>`
suffix relations, VERSION AS OF '<branch>', and TIMESTAMP AS OF
(epoch-ms + quoted-ISO) spellings.
"""

from __future__ import annotations

import random

import pytest

from lakeshed.catalog import Catalog

WS = [" ", "  ", "\n", "\t", " \n ", "\n\t"]


def _case(rng: random.Random, w: str) -> str:
    return rng.choice([
        w.lower(), w.upper(), w.capitalize(),
        "".join(c.upper() if rng.random() < 0.5 else c.lower()
                for c in w),
    ])


def _comment(rng: random.Random) -> str:
    return rng.choice([
        f"/* c{rng.randint(0, 99)} */",
        "-- note\n",
        "/* multi\nline */",
        "--\n",
        # quote characters INSIDE comments (r11 review wave 3: the
        # quotes-first span scan let these open phantom literals that
        # leaked comment text into the statement — a pool without them
        # cannot see that failure mode)
        "-- don't\n",
        "/* it's \"x\" */",
    ])


def _ws(rng: random.Random) -> str:
    s = rng.choice(WS)
    if rng.random() < 0.35:
        s += _comment(rng) + rng.choice(WS)
    return s


def _hint(rng: random.Random) -> str:
    """A /*+ hint */ legal right after SELECT — Spark warns on unknown
    hint names but still parses. The pool deliberately carries the
    shapes the r11 hint-lexer waves fixed: quoted payloads with runs of
    spaces (wave 4), relation-shaped args that must follow rewrites
    (wave 7), nested plain comments with apostrophes and backticked
    args containing `*/` (wave 9). `--` inside a hint body (wave 8)
    stays helper-level only: Spark's own lexer treats it as a line
    comment, so it cannot round-trip end-to-end."""
    return rng.choice([
        "/*+ REPARTITION(3) */",
        "/*+ COALESCE(1) */",
        "/*+ FOO('a  b') */",
        "/*+ BROADCAST(nyc.fz) */",
        "/*+ F(/* don't */ x) */",
        "/*+ F(`a*/b`) */",
    ])


def _tick(rng: random.Random, dotted: str) -> str:
    """Random per-part backticks: nyc.fz -> `nyc`.fz / nyc.`fz` / ..."""
    return ".".join(
        f"`{p}`" if rng.random() < 0.5 else p
        for p in dotted.split(".")
    )


def _render(rng: random.Random, tokens: list) -> str:
    """tokens: str = keyword (case-jittered), ('name', x) = table name
    (tick-jittered), ('ref', x, suffix) = name-qualified reference
    (glued), ('lit', x) = verbatim, ('opt', x) = keyword present ~50%.
    Joined with random whitespace/comments; ~30% trailing comment."""
    out: list[str] = []
    for tok in tokens:
        if isinstance(tok, tuple):
            kind = tok[0]
            if kind == "name":
                out.append(_tick(rng, tok[1]))
            elif kind == "ref":
                out.append(_tick(rng, tok[1]) + tok[2])
            elif kind == "lit":
                out.append(tok[1])
            elif kind == "opt":
                if rng.random() < 0.5:
                    out.append(_case(rng, tok[1]))
        else:
            out.append(_case(rng, tok))
    stmt = out[0]
    for piece in out[1:]:
        stmt += _ws(rng) + piece
    if rng.random() < 0.3:
        stmt += rng.choice([" -- tail", "  /* tail */", "\n-- tail"])
    return stmt


N = 12  # spellings per statement class per seed


@pytest.fixture()
def fcat(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "whf"))
    c.create_database("nyc")
    return c


def _rows(cat: Catalog, name: str = "nyc.fz"):
    return sorted(
        (r.k, r.v) for r in cat.table(name).read().collect()
    )


@pytest.fixture()
def views(spark):
    """Make the temp views a statement text reads (``t``, ``s``, ``x``)
    from ``name=(ddl, rows)``; dropped after the test."""
    made: list[str] = []

    def make(**rows) -> None:
        for name, (ddl, data) in rows.items():
            spark.createDataFrame(data, ddl).createOrReplaceTempView(name)
            made.append(name)

    yield make
    for name in made:
        spark.catalog.dropTempView(name)


def _spy_spark_sql(monkeypatch, spark) -> list[str]:
    """Record every statement text the router hands to ``spark.sql``."""
    sent: list[str] = []
    real = type(spark).sql

    def spy(self, text, *a, **kw):
        sent.append(text)
        return real(self, text, *a, **kw)

    monkeypatch.setattr(type(spark), "sql", spy)
    return sent


def _reset(cat: Catalog, spark) -> None:
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    if cat._exists("nyc.fz"):
        cat.table("nyc.fz").overwrite(base)
    else:
        cat.create_table("nyc.fz", base)


def test_fuzz_select_and_describe(fcat, spark):
    cat = fcat
    _reset(cat, spark)
    rng = random.Random(20260815)

    canon_cnt = cat.sql("SELECT count(*) AS c FROM nyc.fz").first().c
    for _ in range(N):
        toks: list = ["select"]
        if rng.random() < 0.5:  # hint-lexer shapes in a legal position
            toks.append(("lit", _hint(rng)))
        toks += [
            ("lit", "count(*)"), "as", ("lit", "c"),
            "from", ("name", "nyc.fz"),
        ]
        stmt = _render(rng, toks)
        assert cat.sql(stmt).first().c == canon_cnt, stmt

    canon_sum = cat.sql(
        "SELECT sum(nyc.fz.k) AS s FROM nyc.fz WHERE nyc.fz.k > 1"
    ).first().s
    for _ in range(N):
        stmt = _render(rng, [
            "select", ("lit", "sum("), ("ref", "nyc.fz", ".k"),
            ("lit", ")"), "as", ("lit", "s"),
            "from", ("name", "nyc.fz"),
            "where", ("ref", "nyc.fz", ".k"), ("lit", "> 1"),
        ])
        assert cat.sql(stmt).first().s == canon_sum, stmt

    canon_desc = {r.col_name for r in cat.sql("DESCRIBE nyc.fz").collect()}
    for _ in range(N):
        toks: list = [rng.choice(["describe", "desc"])]
        if rng.random() < 0.5:
            toks.append("table")
        if rng.random() < 0.6:
            toks.append(rng.choice(["extended", "formatted"]))
        toks.append(("name", "nyc.fz"))
        stmt = _render(rng, toks)
        got = {r.col_name for r in cat.sql(stmt).collect()}
        assert got == canon_desc, stmt


def test_fuzz_insert_update_delete(fcat, spark):
    cat = fcat
    rng = random.Random(47)

    _reset(cat, spark)
    cat.sql("INSERT INTO nyc.fz VALUES (9, 'z')")
    want_ins = _rows(cat)
    for _ in range(N):
        _reset(cat, spark)
        stmt = _render(rng, [
            "insert", "into", ("opt", "table"), ("name", "nyc.fz"),
            "values", ("lit", "(9, 'z')"),
        ])
        cat.sql(stmt)
        assert _rows(cat) == want_ins, stmt

    _reset(cat, spark)
    cat.sql("INSERT OVERWRITE nyc.fz VALUES (7, 'q')")
    want_ovr = _rows(cat)
    for _ in range(N):
        _reset(cat, spark)
        stmt = _render(rng, [
            "insert", "overwrite", ("opt", "table"), ("name", "nyc.fz"),
            "values", ("lit", "(7, 'q')"),
        ])
        cat.sql(stmt)
        assert _rows(cat) == want_ovr, stmt

    _reset(cat, spark)
    cat.sql("UPDATE nyc.fz SET v = 'Q' WHERE k = 2")
    want_upd = _rows(cat)
    for _ in range(N):
        _reset(cat, spark)
        stmt = _render(rng, [
            "update", ("name", "nyc.fz"),
            "set", ("lit", "v = 'Q'"), "where", ("lit", "k = 2"),
        ])
        cat.sql(stmt)
        assert _rows(cat) == want_upd, stmt

    _reset(cat, spark)
    cat.sql("DELETE FROM nyc.fz WHERE k = 1")
    want_del = _rows(cat)
    for _ in range(N):
        _reset(cat, spark)
        stmt = _render(rng, [
            "delete", "from", ("name", "nyc.fz"),
            "where", ("lit", "k = 1"),
        ])
        cat.sql(stmt)
        assert _rows(cat) == want_del, stmt


def test_fuzz_merge(fcat, spark):
    cat = fcat
    rng = random.Random(83)
    cat.create_table("nyc.fzsrc", spark.createDataFrame(
        [(2, "B"), (4, "D")], "k int, v string"))

    _reset(cat, spark)
    cat.sql(
        "MERGE INTO nyc.fz t USING nyc.fzsrc s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *")
    want = _rows(cat)

    for _ in range(N):
        _reset(cat, spark)
        aliased = rng.random() < 0.5
        toks: list = ["merge", "into", ("name", "nyc.fz")]
        if aliased:
            toks += [("opt", "as"), ("lit", "t")]
            on_ref = ("lit", "t.k")
            set_ref = ("lit", "v")
        else:
            on_ref = ("ref", "nyc.fz", ".k")
            set_ref = ("ref", "nyc.fz", ".v") if rng.random() < 0.5 \
                else ("lit", "v")
        toks += [
            "using", ("name", "nyc.fzsrc"), ("opt", "as"), ("lit", "s"),
            "on", on_ref, ("lit", "="), ("lit", "s.k"),
            "when", "matched", "then", "update", "set",
            set_ref, ("lit", "="), ("lit", "s.v"),
            "when", "not", "matched", "then", "insert", ("lit", "*"),
        ]
        stmt = _render(rng, toks)
        cat.sql(stmt)
        assert _rows(cat) == want, stmt


def test_fuzz_ddl_and_show(fcat, spark):
    cat = fcat
    rng = random.Random(9)
    df = spark.createDataFrame([(1,)], "k int")

    for _ in range(N):
        if cat._exists("nyc.dd"):
            cat.drop_table("nyc.dd")
        cat.create_table("nyc.dd", df,
                         properties={"owner": "fuzz"})
        stmt = _render(rng, [
            "truncate", "table", ("name", "nyc.dd")])
        cat.sql(stmt)
        assert cat.table("nyc.dd").read().count() == 0, stmt
        stmt = _render(rng, [
            "show", "tblproperties", ("name", "nyc.dd")])
        props = {r.key: r.value for r in cat.sql(stmt).collect()}
        assert props.get("owner") == "fuzz", stmt
        stmt = _render(rng, [
            "drop", "table", ("opt", "if exists"), ("name", "nyc.dd")])
        cat.sql(stmt)
        assert not cat._exists("nyc.dd"), stmt


def test_fuzz_time_travel(fcat, spark):
    cat = fcat
    rng = random.Random(3)
    _reset(cat, spark)
    cat.sql("INSERT INTO nyc.fz VALUES (9, 'z')")
    canon = cat.sql(
        "SELECT count(*) AS c FROM nyc.fz VERSION AS OF 0").first().c
    for _ in range(N):
        stmt = _render(rng, [
            "select", ("lit", "count(*)"), "as", ("lit", "c"),
            "from", ("name", "nyc.fz"),
            "version", "as", "of", ("lit", "0"),
        ])
        assert cat.sql(stmt).first().c == canon, stmt


def test_quoted_comments_and_hints(fcat, spark, monkeypatch, views):
    """r11 review wave 3: an apostrophe inside a comment must not open
    a phantom string literal (pre-fix it masked the comment terminator
    and leaked comment text into the statement), and /*+ ... */
    optimizer hints — syntactically comments, semantically Spark
    directives — must reach Spark."""
    cat = fcat
    _reset(cat, spark)
    views(t=("k int, a int, b int", [(3, 1, 2), (1, 1, 2), (2, 1, 2)]),
          s=("k int", [(1,), (2,)]))
    sent = _spy_spark_sql(monkeypatch, spark)

    s = "SELECT k FROM t WHERE k > 0 -- don't touch\nORDER BY k"
    assert [r.k for r in cat.sql(s).collect()] == [1, 2, 3]
    s = "-- can't parse\nSELECT a, b FROM t"
    assert cat.sql(s).columns == ["a", "b"]
    hint = "SELECT /*+ BROADCAST(s) */ t.k FROM t JOIN s ON t.k = s.k"
    df = cat.sql(hint)
    assert sent[-1] == hint
    assert "Broadcast" in df._jdf.queryExecution().executedPlan().toString()

    # end-to-end: quoted comment on a routed statement
    assert cat.sql(
        "SELECT count(*) AS c FROM nyc.fz -- don't recount\n"
    ).first().c == 3
    cat.sql("UPDATE nyc.fz /* it's urgent */ SET v = 'Q' WHERE k = 1")
    assert ("Q" in {r.v for r in cat.table("nyc.fz").read().collect()})
    # end-to-end: the hint reaches Spark (REPARTITION(3) shapes the
    # output partitioning — observable, not just plan text)
    df = cat.sql("SELECT /*+ REPARTITION(3) */ k FROM nyc.fz")
    assert df.rdd.getNumPartitions() == 3


def test_fuzz_alter_and_call(fcat, spark):
    """Spelling fuzz for the ALTER TABLE branch/column routes and CALL
    procedures (the remaining routed classes r11's first fuzz pass did
    not cover)."""
    cat = fcat
    rng = random.Random(5150)

    for i in range(N):
        name = "nyc.af"
        if cat._exists(name):
            cat.drop_table(name)
        cat.create_table(name, spark.createDataFrame(
            [(1, "a")], "k int, v string"))
        stmt = _render(rng, [
            "alter", "table", ("name", name),
            "add", "column", ("lit", "w"), ("lit", "int")])
        cat.sql(stmt)
        assert "w" in [f.name for f in cat.table(name).schema_fields()], stmt
        stmt = _render(rng, [
            "alter", "table", ("name", name),
            "rename", "column", ("lit", "w"), "to", ("lit", "w2")])
        cat.sql(stmt)
        cols = [f.name for f in cat.table(name).schema_fields()]
        assert "w2" in cols and "w" not in cols, stmt
        stmt = _render(rng, [
            "alter", "table", ("name", name),
            "drop", "column", ("lit", "w2")])
        cat.sql(stmt)
        assert "w2" not in [
            f.name for f in cat.table(name).schema_fields()], stmt
        stmt = _render(rng, [
            "alter", "table", ("name", name),
            "create", "branch", ("lit", f"b{i}")])
        cat.sql(stmt)
        assert f"b{i}" in cat.table(name).branches(), stmt
        stmt = _render(rng, [
            "alter", "table", ("name", name),
            "set", "tblproperties", ("lit", "('owner'='fz')")])
        cat.sql(stmt)
        assert cat.table(name).properties().get("owner") == "fz", stmt

    # CALL procedures: named-arg + catalog-prefixed spellings
    cat.create_table("nyc.cf", spark.createDataFrame(
        [(1, "a")], "k int, v string"))
    t = cat.table("nyc.cf")
    for _ in range(3):
        t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    n_files = t.files().count()
    stmt = _render(rng, [
        "call", ("lit", "demo.system.rewrite_data_files"),
        ("lit", "(table => 'nyc.cf')")])
    out = cat.sql(stmt)
    assert out.first()["rewritten_data_files_count"] == n_files, stmt


def test_fuzz_ctas(fcat, spark):
    """Spelling fuzz for CTAS and typed CREATE TABLE."""
    cat = fcat
    rng = random.Random(606)
    _reset(cat, spark)
    for i in range(N // 2):
        name = f"nyc.ct{i}"
        stmt = _render(rng, [
            "create", "table", ("name", name),
            "as", "select", ("lit", "k, v"),
            "from", ("name", "nyc.fz"),
            "where", ("lit", "k > 1")])
        cat.sql(stmt)
        assert cat.table(name).read().count() == 2, stmt
        name2 = f"nyc.cs{i}"
        stmt = _render(rng, [
            "create", "table", ("name", name2),
            ("lit", "(a int, b string)"),
            "partitioned", "by", ("lit", "(a)")])
        cat.sql(stmt)
        assert [f.name for f in cat.table(name2).schema_fields()] == \
            ["a", "b"], stmt


def test_nested_comments_and_hint_payloads(fcat, spark, monkeypatch,
                                           views):
    """r11 review wave 4: bracketed comments nest in Spark 3.0+ — a
    comment ends at its own */, not the first — and a /*+ hint's
    payload (string literals, spacing, relation-name-shaped text) must
    be opaque to every rewrite."""
    cat = fcat
    _reset(cat, spark)
    views(t=("k int", [(1,), (2,)]))
    sent = _spy_spark_sql(monkeypatch, spark)

    # nested block comments are one comment
    s = "SELECT 1 AS x /* outer /* inner */ tail */ FROM t"
    assert [tuple(r) for r in cat.sql(s).collect()] == [(1,), (1,)]
    assert cat.sql(
        "SELECT count(*) AS c /* o /* i */ t */ FROM nyc.fz"
    ).first().c == 3

    # hint payloads reach Spark verbatim
    h = "SELECT /*+ FOO('a  b') */ k FROM t"
    assert cat.sql(h).count() == 2
    assert sent[-1] == h
    # ...and are invisible to relation rewriting: the literal inside the
    # hint's arguments stays a literal, and the query still runs
    assert cat.sql(
        "SELECT /*+ F('nyc.fz') */ 1 FROM nyc.fz").count() == 3
    assert sent[-1] == "SELECT /*+ F('nyc.fz') */ 1 FROM __lakeshed_nyc_fz"
    # end-to-end: hint still reaches Spark after the full router
    df = cat.sql("SELECT /*+ REPARTITION(4) */ k FROM nyc.fz")
    assert df.rdd.getNumPartitions() == 4


def test_wave6_glued_values_qualified_ticks_paren_literal(fcat, spark):
    """r11 review wave 6: VALUES( glued to the paren routes; a
    catalog-qualified whole-ticked MERGE ref strips in place (the full-
    name splice produced demo.demo.nyc.fz.k); an unknown-catalog ticked
    ref is left alone to fail loudly; a paren inside a string literal
    in a MERGE subquery source does not derail the balanced-paren scan."""
    cat = fcat
    _reset(cat, spark)

    cat.sql("INSERT INTO nyc.fz VALUES(9, 'z')")
    assert (9, "z") in _rows(cat)
    cat.sql("INSERT OVERWRITE nyc.fz VALUES(1, 'a'), (2, 'b'), (3, 'c')")

    cat.create_table("nyc.w6src", spark.createDataFrame(
        [(1, "X")], "k int, v string"))
    cat.sql(
        "MERGE INTO demo.nyc.fz USING nyc.w6src s "
        "ON demo.`nyc.fz`.k = s.k "
        "WHEN MATCHED AND `demo`.`nyc.fz`.k = 1 "
        "THEN UPDATE SET v = s.v")
    assert (1, "X") in _rows(cat)

    from lakeshed.table import TableError
    with pytest.raises(TableError):
        cat.sql(
            "MERGE INTO nyc.fz USING nyc.w6src s "
            "ON other.`nyc.fz`.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v")

    cat.sql(
        "MERGE INTO nyc.fz t USING (SELECT 1 AS k, '(' AS v) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v")
    assert (1, "(") in _rows(cat)


def test_hint_relation_args_follow_relation_rewrite(fcat, spark,
                                                     monkeypatch, views):
    """r11 review wave 7: a hint argument naming a lakeshed relation
    must follow the FROM clause's temp-view rename (or Spark drops the
    hint) — while string literals inside hints stay protected."""
    cat = fcat
    _reset(cat, spark)
    views(t=("k int", [(1,), (2,)]))
    sent = _spy_spark_sql(monkeypatch, spark)

    # relation-shaped hint args are rewritten with the query...
    assert cat.sql(
        "SELECT /*+ BROADCAST(nyc.fz) */ 1 FROM nyc.fz").count() == 3
    assert sent[-1] == (
        "SELECT /*+ BROADCAST(__lakeshed_nyc_fz) */ 1 FROM __lakeshed_nyc_fz")
    # ...but quoted payloads inside hints remain opaque
    h = "SELECT /*+ FOO('a  b') */ k FROM t"
    assert cat.sql(h).count() == 2
    assert sent[-1] == h
    assert cat.sql(
        "SELECT /*+ F('nyc.fz') */ 1 FROM nyc.fz").count() == 3
    assert sent[-1] == "SELECT /*+ F('nyc.fz') */ 1 FROM __lakeshed_nyc_fz"

    # end-to-end: a broadcast hint naming the TABLE survives routing —
    # the joined plan actually broadcasts (observable in the plan text)
    cat.create_table("nyc.fzdim", spark.createDataFrame(
        [(1, "d1"), (2, "d2")], "k int, d string"))
    df = cat.sql(
        "SELECT /*+ BROADCAST(nyc.fzdim) */ t.k, d.d "
        "FROM nyc.fz t JOIN nyc.fzdim d ON t.k = d.k")
    assert "Broadcast" in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == 2


def test_wave8_hint_comment_desync_and_merge_scoping(fcat, spark,
                                                    monkeypatch, views):
    """r11 review wave 8. (a) A plain comment nested in a /*+ hint body
    ends where Spark's lexer ends it, and literals AFTER the hint keep
    their text (``'p  q'`` is not collapsed). (b) MERGE target-spelling
    normalization is scoped to the tail after the source clause —
    identifiers inside the USING subquery that merely SPELL the target
    name stay untouched. (c) A spelling whose
    leading identifier names a source/target column is a struct path,
    not a table ref — the rewrite is skipped. (d) The subquery
    balanced-paren scan blanks backticked identifiers, so a paren
    inside `x(y` cannot swallow the ON/WHEN tail."""
    cat = fcat
    _reset(cat, spark)
    views(t=("k int", [(1,)]))
    sent = _spy_spark_sql(monkeypatch, spark)

    # (a) nested plain block inside a hint tracks depth past its */
    s3 = "SELECT /*+ F(/* x */a) */ 'p  q' AS v FROM t"
    assert cat.sql(s3).first().v == "p  q"
    assert sent[-1] == s3

    # (d) backticked alias containing a paren inside the USING subquery
    cat.sql(
        "MERGE INTO nyc.fz t USING (SELECT kk AS k, vv AS v FROM "
        "(SELECT 1 AS kk, 'Z' AS vv) `x(y`) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v")
    assert (1, "Z") in _rows(cat)

    # (b) a subquery alias SPELLING the target name is not rewritten
    cat.sql(
        "MERGE INTO nyc.fz t USING (SELECT 2 AS k, 'Q' AS `nyc.fz`) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.`nyc.fz`")
    assert (2, "Q") in _rows(cat)

    # (c) bare struct path nyc.fz.q (source column `nyc`) shadows the
    # catalog-less tail of the 3-part target — rewrite skipped, the
    # struct field is read, not t.q
    cat.sql(
        "MERGE INTO demo.nyc.fz USING (SELECT 3 AS k, "
        "named_struct('fz', named_struct('q', 'S')) AS nyc) s "
        "ON demo.nyc.fz.k = s.k WHEN MATCHED THEN UPDATE SET v = nyc.fz.q")
    assert (3, "S") in _rows(cat)

    # ticked spellings still normalize after the restructure (waves 6-7)
    cat.create_table("nyc.w8src", spark.createDataFrame(
        [(1, "X")], "k int, v string"))
    cat.sql(
        "MERGE INTO demo.nyc.fz USING nyc.w8src s "
        "ON demo.`nyc.fz`.k = s.k "
        "WHEN MATCHED AND `demo`.`nyc.fz`.k = 1 THEN UPDATE SET v = s.v")
    assert (1, "X") in _rows(cat)
    cat.sql(
        "MERGE INTO nyc.fz USING nyc.w8src s ON `nyc`.`fz`.k = s.k "
        "WHEN MATCHED THEN UPDATE SET `nyc`.fz.v = 'T'")
    assert (1, "T") in _rows(cat)


def test_fuzz_merge_subquery_source(fcat, spark):
    """Generative cover for the r11 wave-8 MERGE fixes: sources that are
    subqueries whose INTERNALS spell router-sensitive shapes — column
    aliases ticked with parens, dots, or the target's own name; string
    literals containing parens; comment jitter — must produce the same
    result as the canonical statement. Fails if the spelling rewriter
    reaches inside USING (alias hijack) or if the balanced-paren scan
    miscounts a paren inside backticks/literals (tail swallowed)."""
    cat = fcat
    rng = random.Random(977)

    _reset(cat, spark)
    cat.sql(
        "MERGE INTO nyc.fz t USING (SELECT 2 AS k, 'B' AS v) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *")
    want = _rows(cat)

    for _ in range(N):
        _reset(cat, spark)
        # decoy column whose ALIAS is the tricky spelling; it carries
        # the same value so SET may read either it or plain v
        dcol = rng.choice(["pad", "`nyc.fz`", "`v(x`", "`v.y`"])
        lit = rng.choice(["'('", "')'", "'((('", "'-- no comment'"])
        sub_alias = rng.choice(["`x(y`", "`nyc.fz`", "`a)b`", "q"])
        inner_comment = _comment(rng) if rng.random() < 0.5 else " "
        sub = (
            f"(SELECT kk AS k, vv AS v, vv AS {dcol}, {lit} AS lit "
            f"{inner_comment} FROM (SELECT 2 AS kk, 'B' AS vv) "
            f"{sub_alias})"
        )
        set_src = f"s.{dcol}" if rng.random() < 0.5 else "s.v"
        toks: list = [
            "merge", "into", ("name", "nyc.fz"), ("opt", "as"),
            ("lit", "t"), "using", ("lit", sub), ("opt", "as"),
            ("lit", "s"), "on", ("lit", "t.k"), ("lit", "="),
            ("lit", "s.k"), "when", "matched", "then", "update", "set",
            ("lit", "v"), ("lit", "="), ("lit", set_src),
            "when", "not", "matched", "then", "insert", ("lit", "*"),
        ]
        stmt = _render(rng, toks)
        cat.sql(stmt)
        assert _rows(cat) == want, stmt


def test_fuzz_statement_chains(fcat, spark):
    """Generative class (r12, VERDICT r11 #8): random SEQUENCES of routed
    DML kinds — INSERT VALUES, INSERT INTO SELECT, UPDATE, DELETE, MERGE
    (incl. NOT MATCHED BY SOURCE), INSERT OVERWRITE — replayed twice, a
    canonical-spelling table vs a quoting/comment/case-jittered table,
    comparing final state. Single-statement fuzz can't see ordering
    interactions (e.g. a router bug that silently no-ops one spelling
    mid-chain shifts every later statement's input); the chain makes any
    such divergence observable at the end."""
    cat = fcat
    rng = random.Random(1212)
    cat.create_table("nyc.chsrc", spark.createDataFrame(
        [(2, "B"), (4, "D"), (6, "F")], "k int, v string"))

    def step(kind: str, i: int, name: str, jitter: bool) -> str:
        nm = ("name", name)
        if kind == "ins":
            toks = ["insert", "into", ("opt", "table"), nm,
                    "values", ("lit", f"({10 + i}, 'x{i}')")]
        elif kind == "inssel":
            toks = ["insert", "into", nm, "select",
                    ("lit", "k + 100, v"), "from", ("name", "nyc.chsrc"),
                    "where", ("lit", "k > 2")]
        elif kind == "upd":
            toks = ["update", nm, "set", ("lit", f"v = 'U{i}'"),
                    "where", ("lit", "k % 2 = 0")]
        elif kind == "del":
            toks = ["delete", "from", nm, "where", ("lit", "k = 3")]
        elif kind == "ovr":
            toks = ["insert", "overwrite", ("opt", "table"), nm,
                    "values", ("lit", f"({i}, 'o{i}'), (2, 'b')")]
        elif kind == "merge":
            toks = ["merge", "into", nm, ("opt", "as"), ("lit", "t"),
                    "using", ("name", "nyc.chsrc"), ("opt", "as"),
                    ("lit", "s"), "on", ("lit", "t.k = s.k"),
                    "when", "matched", "then", "update", "set",
                    ("lit", "v = s.v"),
                    "when", "not", "matched", "then", "insert", ("lit", "*")]
        else:  # mergesrc: NOT MATCHED BY SOURCE leg
            toks = ["merge", "into", nm, ("opt", "as"), ("lit", "t"),
                    "using", ("name", "nyc.chsrc"), ("opt", "as"),
                    ("lit", "s"), "on", ("lit", "t.k = s.k"),
                    "when", "matched", "then", "update", "set",
                    ("lit", "v = s.v"),
                    "when", "not", "matched", "by", "source",
                    "and", ("lit", "t.k > 100"), "then", "delete"]
        if jitter:
            return _render(rng, toks)
        # canonical: plain single-space rendering, no jitter
        out = []
        for tok in toks:
            if isinstance(tok, tuple):
                if tok[0] in ("name", "lit"):
                    out.append(tok[1])
                elif tok[0] == "opt":
                    continue
                else:
                    out.append(tok[1] + tok[2])
            else:
                out.append(tok.upper())
        return " ".join(out)

    kinds = ["ins", "inssel", "upd", "del", "merge", "mergesrc", "ovr"]
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    for trial in range(3):
        for nm in ("nyc.cha", "nyc.chb"):
            if cat._exists(nm):
                cat.drop_table(nm)
            cat.create_table(nm, base)
        # 'ovr' early would erase the divergence surface; weight it rare
        chain = [rng.choice(kinds[:-1]) if rng.random() < 0.9
                 else "ovr" for _ in range(6)]
        for i, kind in enumerate(chain):
            cat.sql(step(kind, i, "nyc.cha", jitter=False))
            stmt = step(kind, i, "nyc.chb", jitter=True)
            cat.sql(stmt)
            assert _rows(cat, "nyc.chb") == _rows(cat, "nyc.cha"), \
                (trial, i, kind, stmt)


def test_fuzz_ddl_dml_interleaved_chains(fcat, spark):
    """Generative class (r12): random chains INTERLEAVING schema
    evolution (ADD/RENAME/DROP COLUMN) with DML whose arity/column set
    depends on the evolved schema — replayed canonical vs jittered,
    full-row final state compared. A router bug that silently no-ops an
    ALTER spelling shifts every later INSERT's arity and surfaces as a
    state divergence (or a loud analysis error), not a quiet pass."""
    cat = fcat
    rng = random.Random(40412)
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string")

    def rows_all(name: str):
        df = cat.table(name).read()
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    for trial in range(3):
        for nm in ("nyc.dda", "nyc.ddb"):
            if cat._exists(nm):
                cat.drop_table(nm)
            cat.create_table(nm, base)
        extra: list[str] = []  # evolves identically for both replicas
        for i in range(6):
            choices = ["ins", "upd", "addcol"]
            if extra:
                choices += ["dropcol", "rencol", "updx"]
            kind = rng.choice(choices)
            for nm, jitter in (("nyc.dda", False), ("nyc.ddb", True)):
                if kind == "ins":
                    vals = f"({50 + i}, 'n{i}'" + \
                        ", NULL" * len(extra) + ")"
                    toks = ["insert", "into", ("name", nm),
                            "values", ("lit", vals)]
                elif kind == "upd":
                    toks = ["update", ("name", nm), "set",
                            ("lit", f"v = 'j{i}'"),
                            "where", ("lit", "k = 2")]
                elif kind == "addcol":
                    toks = ["alter", "table", ("name", nm), "add",
                            "column", ("lit", f"w{i}"), ("lit", "int")]
                elif kind == "dropcol":
                    toks = ["alter", "table", ("name", nm), "drop",
                            "column", ("lit", extra[-1])]
                elif kind == "rencol":
                    toks = ["alter", "table", ("name", nm), "rename",
                            "column", ("lit", extra[-1]),
                            "to", ("lit", f"r{i}")]
                else:  # updx: write through the newest evolved column
                    toks = ["update", ("name", nm), "set",
                            ("lit", f"{extra[-1]} = k * 10"),
                            "where", ("lit", "k >= 2")]
                if jitter:
                    stmt = _render(rng, toks)
                else:
                    stmt = " ".join(
                        t[1] if isinstance(t, tuple) and t[0] != "opt"
                        else t.upper()
                        for t in toks if not (isinstance(t, tuple)
                                              and t[0] == "opt"))
                cat.sql(stmt)
            if kind == "addcol":
                extra.append(f"w{i}")
            elif kind == "dropcol":
                extra.pop()
            elif kind == "rencol":
                extra[-1] = f"r{i}"
            assert rows_all("nyc.ddb") == rows_all("nyc.dda"), \
                (trial, i, kind)


def test_fuzz_branch_and_timestamp_travel(fcat, spark):
    """Generative cover for the remaining travel spellings (r12, VERDICT
    r11 #8): `branch_<name>` suffix relations, VERSION AS OF '<branch>',
    and TIMESTAMP AS OF (epoch-ms and quoted-ISO literals) under
    identifier-quoting × comment × case jitter."""
    import time as _time
    from datetime import datetime, timezone

    cat = fcat
    rng = random.Random(31337)
    _reset(cat, spark)
    t = cat.table("nyc.fz")
    ts0 = t.committed_at_ms()
    cat.sql("ALTER TABLE nyc.fz CREATE BRANCH audit")
    while int(_time.time() * 1000) <= ts0:
        _time.sleep(0.002)
    cat.sql("INSERT INTO nyc.fz VALUES (9, 'z')")  # main moves past audit

    canon_b = cat.sql(
        "SELECT count(*) AS c FROM nyc.fz.branch_audit").first().c
    canon_m = cat.sql("SELECT count(*) AS c FROM nyc.fz").first().c
    assert canon_m == canon_b + 1
    for _ in range(N):
        stmt = _render(rng, [
            "select", ("lit", "count(*)"), "as", ("lit", "c"),
            "from", ("ref", "nyc.fz", ".branch_audit")])
        assert cat.sql(stmt).first().c == canon_b, stmt
        stmt = _render(rng, [
            "select", ("lit", "count(*)"), "as", ("lit", "c"),
            "from", ("name", "nyc.fz"),
            "version", "as", "of", ("lit", "'audit'")])
        assert cat.sql(stmt).first().c == canon_b, stmt

    iso = datetime.fromtimestamp(
        ts0 / 1000, tz=timezone.utc).isoformat()
    for _ in range(N):
        ts_lit = rng.choice([str(ts0), f"'{iso}'"])
        stmt = _render(rng, [
            "select", ("lit", "count(*)"), "as", ("lit", "c"),
            "from", ("name", "nyc.fz"),
            "timestamp", "as", "of", ("lit", ts_lit)])
        assert cat.sql(stmt).first().c == canon_b, stmt


def test_wave9_hint_nested_comment_and_shadow_guard_with_ticks(
        fcat, spark, monkeypatch, views):
    """r11 review wave 9. (a) A plain /* */ comment nested inside a /*+
    hint is one comment — an apostrophe inside it opens no phantom
    literal that would corrupt post-hint literals. (b) A backticked
    identifier whose text contains */ does not end the hint early, in a
    query or in a MERGE source subquery. (c) The column-shadow guard holds even when
    the tail contains a backtick: the whole-ticked catalog-less-tail
    spelling no longer carries a plain alternative under the wrong
    guard lead."""
    cat = fcat
    _reset(cat, spark)
    views(t=("k int", [(1,)]), x=("k int", [(1,)]))
    sent = _spy_spark_sql(monkeypatch, spark)

    # (a) apostrophe inside a hint-nested plain comment
    s = "SELECT /*+ F(/* don't */ a) */ 'x  y' AS v FROM t"
    assert cat.sql(s).first().v == "x  y"
    assert sent[-1] == s

    # (b) `a*/b` inside a hint: the hint ends at the real closing */
    h = "SELECT /*+ F(`a*/b`) */ 'x  y' AS v FROM t"
    assert cat.sql(h).first().v == "x  y"
    assert sent[-1] == h
    # ...and a MERGE source subquery holding it still closes
    w = "(SELECT /*+ F(`a*/b(`) */ k FROM x) tail"
    cat.sql(f"MERGE INTO nyc.fz t USING {w} ON t.k = tail.k "
            "WHEN MATCHED THEN UPDATE SET v = 'M'")
    assert (1, "M") in _rows(cat)

    # (c) has_tick via t.`k` must not re-admit the plain nyc.fz spelling
    # past the shadow guard (source column `nyc` shadows it)
    cat.sql(
        "MERGE INTO demo.nyc.fz t USING (SELECT 3 AS k, "
        "named_struct('fz', named_struct('q', 'S')) AS nyc) s "
        "ON t.k = s.k WHEN MATCHED AND t.`k` > 0 "
        "THEN UPDATE SET v = nyc.fz.q")
    assert (3, "S") in _rows(cat)

    # unshadowed whole-ticked catalog-less tail still normalizes
    cat.create_table("nyc.w9src", spark.createDataFrame(
        [(1, "Y")], "k int, v string"))
    cat.sql(
        "MERGE INTO demo.nyc.fz USING nyc.w9src s ON `nyc.fz`.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v")
    assert (1, "Y") in _rows(cat)
    cat.sql(
        "MERGE INTO demo.nyc.fz USING nyc.w9src s "
        "ON demo.`nyc.fz`.k = s.k "
        "WHEN MATCHED AND `demo`.`nyc.fz`.k = 1 THEN UPDATE SET v = 'W'")
    assert (1, "W") in _rows(cat)


# ---------------------------------------------------------------- r13 classes
# (VERDICT r12 #7: grow generation to the newer SQL surfaces — CHECK
# constraint DDL, named-arg CALL forms, branch-suffix relations in DML
# positions — instead of adding spelling regexes.)


def test_fuzz_check_constraint_ddl(fcat, spark):
    """Generative spellings of ADD CONSTRAINT ... CHECK (...) / DROP
    CONSTRAINT, asserted on routed EFFECT: the constraint lands in the
    catalog state, ENFORCES (a violating jittered INSERT aborts and the
    table is unchanged), and dropping it re-opens the gate."""
    cat = fcat
    rng = random.Random(7777)
    from lakeshed.table import ConstraintViolationError

    for i in range(N):
        name = "nyc.ck"
        if cat._exists(name):
            cat.drop_table(name)
        cat.create_table(name, spark.createDataFrame(
            [(1, 50.0)], "k int, price double"))
        stmt = _render(rng, [
            "alter", "table", ("name", name),
            "add", "constraint", ("lit", f"pos{i}"),
            "check", ("lit", "(price > 0 AND k < 1000)")])
        cat.sql(stmt)
        t = cat.table(name)
        assert set(t.constraints()) == {f"pos{i}"}, stmt
        bad = _render(rng, [
            "insert", "into", ("opt", "table"), ("name", name),
            ("lit", "values (2, -5.0)")])
        with pytest.raises(ConstraintViolationError):
            cat.sql(bad)
        assert t.read().count() == 1, bad   # abort left no partial state
        drop = _render(rng, [
            "alter", "table", ("name", name),
            "drop", "constraint", ("lit", f"pos{i}")])
        cat.sql(drop)
        assert t.constraints() == {}, drop
        cat.sql(f"INSERT INTO {name} VALUES (2, -5.0)")
        assert t.read().count() == 2


def _named_args(rng: random.Random, pairs: list) -> str:
    """A jittered named-arg CALL list: random arg ORDER, case-jittered
    arg names (the parser lowercases), whitespace/comments around the
    ``=>`` arrows and commas."""
    items = pairs[:]
    rng.shuffle(items)
    parts = [
        _case(rng, k) + _ws(rng) + "=>" + _ws(rng) + v for k, v in items
    ]
    return "(" + _ws(rng) + ("," + _ws(rng)).join(parts) + _ws(rng) + ")"


def test_fuzz_call_named_args(fcat, spark):
    """Named-arg CALL forms with the ARG LIST itself generated (prior
    fuzz jittered only the statement head around a verbatim list):
    random argument order, arg-name case, comments/whitespace inside
    the parens, across three procedures with value-checked effects."""
    cat = fcat
    rng = random.Random(31337)

    for i in range(N // 2):
        name = "nyc.cn"
        if cat._exists(name):
            cat.drop_table(name)
        cat.create_table(name, spark.createDataFrame(
            [(1, "a")], "k int, v string"))
        t = cat.table(name)
        for j in range(3):
            t.append(spark.createDataFrame([(2 + j, "b")],
                                           "k int, v string"))
        n_files = t.files().count()

        # rewrite_data_files(table =>, options => map(...))
        stmt = _render(rng, [
            "call", ("lit", "demo.system.rewrite_data_files"),
            ("lit", _named_args(rng, [
                ("table", f"'{name}'"),
                ("options", "map('target-file-size-bytes','52428800')"),
            ]))])
        out = cat.sql(stmt)
        assert out.first()["rewritten_data_files_count"] == n_files, stmt

        # rollback_to_snapshot(table =>, snapshot_id =>) — named, shuffled
        head = t.head()
        stmt = _render(rng, [
            "call", ("lit", "system.rollback_to_snapshot"),
            ("lit", _named_args(rng, [
                ("table", f"'{name}'"),
                ("snapshot_id", str(head - 1)),
            ]))])
        cat.sql(stmt)
        assert cat.table(name).head() == head - 1, stmt

        # expire_snapshots(older_than => TIMESTAMP ..., retain_last =>,
        # table =>) on a FRESH table (no rollback/branch survivors in
        # play): everything but the retained head expires
        ename = "nyc.ce"
        if cat._exists(ename):
            cat.drop_table(ename)
        cat.create_table(ename, spark.createDataFrame(
            [(1, "a")], "k int, v string"))
        te = cat.table(ename)
        te.append(spark.createDataFrame([(2, "b")], "k int, v string"))
        te.append(spark.createDataFrame([(3, "c")], "k int, v string"))
        n_snaps = te.snapshots().count()
        stmt = _render(rng, [
            "call", ("lit", "demo.system.expire_snapshots"),
            ("lit", _named_args(rng, [
                ("table", f"'{ename}'"),
                ("older_than", "TIMESTAMP '3000-01-01 00:00:00'"),
                ("retain_last", "1"),
            ]))])
        out = cat.sql(stmt)
        assert out.first()["deleted_snapshots_count"] == n_snaps - 1, stmt


def test_fuzz_branch_suffix_dml(fcat, spark):
    """`.branch_<name>` relations in DML TARGET positions (Iceberg
    branch-identifier writes): INSERT INTO / UPDATE / DELETE / MERGE
    INTO nyc.t.branch_etl route to the branch ref, main stays
    untouched, and the final branch state matches a python replay of
    the same edits. Unknown branches raise (identifier writes never
    auto-create — that is the wap.branch pin's behavior), the explicit
    target outranks a live spark.wap.branch pin, and conflicts with a
    spark.wap.id staging pin raise."""
    cat = fcat
    rng = random.Random(90210)
    from lakeshed.table import TableError

    for i in range(N // 2):
        name = "nyc.bd"
        if cat._exists(name):
            cat.drop_table(name)
        cat.create_table(name, spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"))
        t = cat.table(name)
        t.create_branch("etl")

        stmt = _render(rng, [
            "insert", "into", ("opt", "table"),
            ("ref", name, ".branch_etl"),
            ("lit", "values (3, 'c')")])
        cat.sql(stmt)
        stmt = _render(rng, [
            "update", ("ref", name, ".branch_etl"),
            "set", ("lit", "v = 'X'"), "where", ("lit", "k = 1")])
        cat.sql(stmt)
        stmt = _render(rng, [
            "delete", "from", ("ref", name, ".branch_etl"),
            "where", ("lit", "k = 2")])
        cat.sql(stmt)
        stmt = _render(rng, [
            "merge", "into", ("ref", name, ".branch_etl"),
            "as", ("lit", "tg"), "using",
            ("lit", "(SELECT 3 AS k, 'z' AS v UNION ALL "
                    "SELECT 4 AS k, 'w' AS v)"),
            ("lit", "s"), "on", ("lit", "tg.k = s.k"),
            "when", "matched", "then", "update",
            "set", ("lit", "v = s.v"),
            "when", "not", "matched", "then", "insert", ("lit", "*")])
        cat.sql(stmt)

        branch_rows = sorted(
            (r.k, r.v) for r in t.read(branch="etl").collect())
        assert branch_rows == [(1, "X"), (3, "z"), (4, "w")], stmt
        main_rows = sorted((r.k, r.v) for r in t.read().collect())
        assert main_rows == [(1, "a"), (2, "b")]   # main untouched

        # SELECT through the read path agrees with the DML's ref
        sel = sorted((r.k, r.v) for r in cat.sql(
            f"SELECT k, v FROM {name}.branch_etl").collect())
        assert sel == branch_rows

    # INSERT OVERWRITE onto the branch ref swaps the BRANCH, not main
    cat.sql("INSERT OVERWRITE nyc.bd.branch_etl SELECT 7 AS k, 'o' AS v")
    t = cat.table("nyc.bd")
    assert [(r.k, r.v) for r in t.read(branch="etl").collect()] == \
        [(7, "o")]
    assert sorted((r.k, r.v) for r in t.read().collect()) == \
        [(1, "a"), (2, "b")]

    # unknown branch: loud error, no auto-create
    with pytest.raises(TableError, match="does not exist"):
        cat.sql("INSERT INTO nyc.bd.branch_ghost VALUES (9, 'g')")
    assert "ghost" not in cat.table("nyc.bd").branches()

    # explicit target outranks the wap.branch pin
    cat.set_conf("spark.wap.branch", "other")
    try:
        cat.sql("INSERT INTO nyc.bd.branch_etl VALUES (5, 'p')")
    finally:
        cat.set_conf("spark.wap.branch", None)
    t = cat.table("nyc.bd")
    assert (5, "p") in {(r.k, r.v) for r in t.read(branch="etl").collect()}
    assert "other" not in t.branches()   # pin was NOT consulted

    # conflict with a live wap.id staging pin raises
    t.set_properties(**{"write.wap.enabled": "true"})
    cat.set_conf("spark.wap.id", "aud1")
    try:
        with pytest.raises(TableError, match="wap.id"):
            cat.sql("INSERT INTO nyc.bd.branch_etl VALUES (6, 'q')")
    finally:
        cat.set_conf("spark.wap.id", None)


def test_fuzz_branch_constraint_chains(fcat, spark):
    """r13 generative class: random chains interleaving branch-suffix
    DML, wap.branch-PINNED DML, CHECK constraint lifecycle, and
    deliberate constraint violations — twin tables replayed canonical
    vs jittered, with BOTH the branch and main states compared after
    every step. A route that silently no-ops (or a violation that
    half-applies) diverges the twins or the per-step invariants."""
    from lakeshed.table import ConstraintViolationError

    cat = fcat
    rng = random.Random(131313)
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string")

    def state(name: str):
        t = cat.table(name)
        main = sorted((r.k, r.v) for r in t.read().collect())
        br = sorted((r.k, r.v) for r in t.read(branch="etl").collect())
        return main, br

    for trial in range(3):
        for nm in ("nyc.bca", "nyc.bcb"):
            if cat._exists(nm):
                cat.drop_table(nm)
            cat.create_table(nm, base)
            cat.table(nm).create_branch("etl")
        has_cons = False
        for i in range(7):
            choices = ["ins_main", "ins_branch", "upd_branch",
                       "del_branch", "pin_ins"]
            choices += ["dropcons", "bad_branch"] if has_cons \
                else ["addcons"]
            kind = rng.choice(choices)
            for nm, jitter in (("nyc.bca", False), ("nyc.bcb", True)):
                if kind == "ins_main":
                    toks = ["insert", "into", ("name", nm),
                            "values", ("lit", f"({40 + i}, 'm{i}')")]
                elif kind == "ins_branch":
                    toks = ["insert", "into", ("ref", nm, ".branch_etl"),
                            "values", ("lit", f"({60 + i}, 'b{i}')")]
                elif kind == "upd_branch":
                    toks = ["update", ("ref", nm, ".branch_etl"),
                            "set", ("lit", f"v = 'u{i}'"),
                            "where", ("lit", "k = 1")]
                elif kind == "del_branch":
                    toks = ["delete", "from", ("ref", nm, ".branch_etl"),
                            "where", ("lit", "k = 3")]
                elif kind == "addcons":
                    toks = ["alter", "table", ("name", nm), "add",
                            "constraint", ("lit", f"cap{trial}"),
                            "check", ("lit", "(k < 1000)")]
                elif kind == "dropcons":
                    toks = ["alter", "table", ("name", nm), "drop",
                            "constraint", ("lit", f"cap{trial}")]
                elif kind == "bad_branch":
                    # a violating branch insert must abort LOUDLY and
                    # leave both refs untouched
                    toks = ["insert", "into", ("ref", nm, ".branch_etl"),
                            "values", ("lit", f"(5000, 'x{i}')")]
                else:  # pin_ins: the session pin lands main-DML on etl
                    cat.set_conf("spark.wap.branch", "etl")
                    try:
                        cat.sql(f"INSERT INTO {nm} VALUES "
                                f"({80 + i}, 'p{i}')")
                    finally:
                        cat.set_conf("spark.wap.branch", None)
                    continue
                def canon(t):
                    if isinstance(t, tuple):
                        return t[1] + t[2] if t[0] == "ref" else t[1]
                    return t.upper()
                stmt = _render(rng, toks) if jitter else " ".join(
                    canon(t) for t in toks)
                if kind == "bad_branch":
                    before = state(nm)
                    with pytest.raises(ConstraintViolationError):
                        cat.sql(stmt)
                    assert state(nm) == before, (trial, i, nm)
                else:
                    cat.sql(stmt)
            if kind == "addcons":
                has_cons = True
            elif kind == "dropcons":
                has_cons = False
            assert state("nyc.bcb") == state("nyc.bca"), (trial, i, kind)
        # main never saw a branch write in any chain
        main, br = state("nyc.bca")
        assert all(k < 40 or (40 <= k < 60) for k, _ in main), main


# ------------------------------------------------- one parse per statement


def test_names_keep_their_case(fcat, spark):
    """Column and branch names in ALTER TABLE keep the case they are
    written in, as table names do on every route."""
    cat = fcat
    t = cat.create_table("nyc.cased", spark.createDataFrame(
        [(1, 2.0)], "VendorID int, fare double"))
    cat.sql("ALTER TABLE nyc.cased ADD COLUMN TripDistance double")
    assert [f.name for f in t.schema_fields()] == \
        ["VendorID", "fare", "TripDistance"]
    cat.sql("ALTER TABLE nyc.cased ALTER COLUMN VendorID TYPE bigint")
    assert t.schema_fields()[0].type == "bigint"
    cat.sql("ALTER TABLE nyc.cased RENAME COLUMN VendorID TO vendor_id")
    assert t.schema_fields()[0].name == "vendor_id"
    cat.sql("ALTER TABLE nyc.cased CREATE BRANCH Audit")
    assert set(t.branches()) == {"main", "Audit"}
    # the pin lands on the branch the DDL made, auto-creating no other
    cat.set_conf("spark.wap.branch", "Audit")
    try:
        cat.sql("INSERT INTO nyc.cased VALUES (2, 3.0, 1.5)")
    finally:
        cat.set_conf("spark.wap.branch", None)
    assert set(t.branches()) == {"main", "Audit"}
    assert t.read(branch="Audit").count() == 2


def test_if_exists_clauses_are_honoured(fcat, spark):
    """DROP TABLE and CREATE DATABASE raise on a missing table and an
    existing database; their IF [NOT] EXISTS forms are no-ops."""
    from lakeshed.table import TableError

    cat = fcat
    with pytest.raises(TableError):
        cat.sql("CREATE DATABASE nyc")
    cat.sql("CREATE DATABASE IF NOT EXISTS nyc")
    with pytest.raises(TableError):
        cat.sql("DROP TABLE nyc.missing")
    cat.sql("DROP TABLE IF EXISTS nyc.missing")
    cat.sql("CREATE TABLE nyc.gone (k int)")
    cat.sql("DROP TABLE nyc.gone")
    assert not cat._exists("nyc.gone")


def test_each_statement_is_parsed_once(fcat, spark, monkeypatch):
    """Spark's parser reads a statement once, whatever its route — the
    query inside an INSERT, a CTAS or a MERGE source included."""
    cat = fcat
    _reset(cat, spark)
    seen: list[str] = []
    real = Catalog._parse

    def spy(self, text):
        seen.append(text)
        return real(self, text)

    monkeypatch.setattr(Catalog, "_parse", spy)
    for stmt in (
        "SELECT count(*) AS c FROM nyc.fz WHERE k > 1",
        "MERGE INTO nyc.fz t USING (SELECT 2 AS k, 'B' AS v) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v",
        "UPDATE nyc.fz SET v = 'U' WHERE k = 1",
        "CALL demo.system.rewrite_data_files(table => 'nyc.fz')",
        "INSERT INTO nyc.fz SELECT k + 10, v FROM nyc.fz",
        "CREATE TABLE nyc.once AS SELECT * FROM nyc.fz",
    ):
        seen.clear()
        cat.sql(stmt)
        assert seen == [stmt]


def test_comment_inside_predicate_keeps_pruning(fcat, spark, monkeypatch):
    """A comment inside an UPDATE or DELETE predicate changes nothing:
    the stats pruning keeps the same candidate files as for the
    comment-free text (handed over raw, the predicate would not parse
    for pruning and every file would be a candidate)."""
    from lakeshed.table import LakeTable

    cat = fcat
    t = cat.create_table("nyc.cm", spark.createDataFrame(
        [(0, "a")], "k int, v string"))
    for k in (10, 20, 30):
        t.append(spark.createDataFrame([(k, "a")], "k int, v string"))
    kept: list[int] = []
    real = LakeTable._prune

    def spy(self, *a):
        out = real(self, *a)
        kept.append(len(out))
        return out

    monkeypatch.setattr(LakeTable, "_prune", spy)
    for stmts, files in (
        (["UPDATE nyc.cm SET v = 'u' WHERE k = 20",
          "UPDATE nyc.cm SET v = 'u' WHERE k = /* c */ 20",
          "UPDATE nyc.cm SET v = 'u' WHERE k -- c\n = 20"], 1),
        (["DELETE FROM nyc.cm WHERE k = 5",
          "DELETE FROM nyc.cm WHERE k = /* c */ 5"], 0),
    ):
        kept.clear()
        for stmt in stmts:
            cat.sql(stmt)
        assert kept == [files] * len(stmts), stmts
    assert sorted((r.k, r.v) for r in t.read().collect()) == \
        [(0, "a"), (10, "a"), (20, "u"), (30, "a")]


def test_predicates_keep_their_left_operand(fcat, spark):
    """A LIKE / IN / BETWEEN node's own span starts at its keyword: MERGE
    and DELETE conditions still read from the left operand on, a
    parenthesized one included."""
    cat = fcat
    src = "(SELECT 1 AS k, 'X1' AS v UNION ALL SELECT 2, 'Y2') s"
    for cond, want in (("s.v LIKE 'X%'", [(1, "X1"), (2, "b"), (3, "c")]),
                       ("t.k IN (2, 3)", [(1, "a"), (2, "Y2"), (3, "c")])):
        _reset(cat, spark)
        cat.sql(f"MERGE INTO nyc.fz t USING {src} ON t.k = s.k "
                f"WHEN MATCHED AND {cond} THEN UPDATE SET v = s.v")
        assert _rows(cat) == want, cond
    _reset(cat, spark)
    cat.sql("DELETE FROM nyc.fz WHERE (k + 1) BETWEEN 3 AND 4")
    assert _rows(cat) == [(1, "a")]
