"""Table-layer scenario tests — the notebook lifecycles as assertions.

Each test replays a reference notebook flow (SURVEY §5.3-5.5) against the
commit-log table layer:
- Getting Started: count → add col → update → delete → count → rollback
  (Iceberg - Getting Started.ipynb:100→183→204→247→300→424→477)
- schema evolution: rename → widen → reorder → add (ipynb:123-183)
- MERGE changelog: I-then-D same batch nets to delete (SURVEY §7.3)
- WAP: stage on branch → audit → publish/drop, main untouched until publish
  (WAP...ipynb:166→213→324→544→586)
- maintenance: compaction shrinks file count, expiry GCs files
  (Table Maintenance...ipynb:119,157)
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakeshed.catalog import Catalog
from lakeshed.table import MAIN, CommitConflictError, LakeTable, TableError

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))


@pytest.fixture()
def nation(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))


def test_lifecycle_count_update_delete_rollback(cat, spark):
    """The Getting-Started lifecycle, end to end."""
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    cat.create_database("nyc")
    t = cat.create_table("nyc.taxis", orders)
    n0 = t.read().count()
    assert n0 == orders.count() > 0

    # ADD COLUMN fare_per_distance_unit float AFTER ... (ipynb:183)
    t.add_column("price_per_item", "double")
    assert "price_per_item" in [f.name for f in t.schema_fields()]
    assert t.read().where(F.col("price_per_item").isNotNull()).count() == 0

    # UPDATE t SET col = expr (ipynb:204)
    t.update({"price_per_item": "o_totalprice / (o_custkey % 7)"})
    # custkeys divisible by 7 → /0 → NULL (ANSI off), like the
    # reference's fare/distance nulls (ipynb:259)
    t.update({"price_per_item": "o_totalprice"},
             where="price_per_item IS NULL")
    assert t.read().where(F.col("price_per_item").isNull()).count() == 0

    # DELETE WHERE disjunction (ipynb:247)
    pre = t.read()
    expect_deleted = pre.where(
        (F.col("o_totalprice") > 200000) | (F.col("o_orderstatus") == "F")
    ).count()
    v_before_delete = t.head()
    t.delete("o_totalprice > 200000 OR o_orderstatus = 'F'")
    assert t.read().count() == n0 - expect_deleted

    # rollback restores the pre-delete count (ipynb:424→477)
    t.rollback_to_snapshot(v_before_delete)
    assert t.read().count() == n0
    # snapshots metadata grew once per commit (create+add+2 updates+delete)
    assert t.snapshots().count() == 5
    hist = {r.snapshot_id: r.is_current_ancestor
            for r in t.history().collect()}
    assert hist[v_before_delete] is True


def test_schema_evolution_rename_widen_reorder_add(cat, nation):
    t = cat.create_table("default.nation_evo", nation)
    # rename (ipynb:123) — metadata only, old files re-mapped by field id
    t.rename_column("n_name", "nation_name")
    assert t.read().columns == ["n_nationkey", "nation_name", "n_regionkey"]
    # widen int → double (ipynb:159)
    t.alter_column("n_regionkey", type="double")
    assert dict(t.read().dtypes)["n_regionkey"] == "double"
    # reorder (ipynb:171)
    t.alter_column("n_regionkey", after="n_nationkey")
    assert t.read().columns[1] == "n_regionkey"
    # add positioned (ipynb:183)
    t.add_column("extra", "float", after="n_regionkey")
    assert t.read().columns[2] == "extra"
    # old rows still fully readable with values intact
    rows = t.read().orderBy("n_nationkey").collect()
    src = nation.orderBy("n_nationkey").collect()
    assert len(rows) == len(src)
    assert rows[0]["nation_name"] == src[0]["n_name"]
    assert rows[0]["n_regionkey"] == float(src[0]["n_regionkey"])
    assert rows[0]["extra"] is None
    # appends after evolution coexist with old file groups
    t.append(t.spark.createDataFrame(
        [(99, 1.5, 0.25, "ZZZ")], schema=t.schema_ddl()))
    assert t.read().count() == len(src) + 1


def test_merge_changelog_upsert(cat, spark):
    """W5/W6 — equality-delete upsert with within-batch I-then-D ordering."""
    t = cat.create_table(
        "default.blocks",
        spark.createDataFrame(
            [(1, "h1", "I"), (2, "h2", "I")],
            "block_number int, hash string, type string",
        ),
    )
    # batch: update k=1, delete k=2, insert k=3, and k=4 appears I then D
    # within the batch (seq orders arrival; D is last → net delete → never
    # inserted), k=5 appears D then I (net insert)
    batch = spark.createDataFrame(
        [
            (1, "h1b", "U", 1),
            (2, "h2", "D", 2),
            (3, "h3", "I", 3),
            (4, "h4", "I", 4),
            (4, "h4", "D", 5),
            (5, "h5", "D", 6),
            (5, "h5b", "I", 7),
        ],
        "block_number int, hash string, type string, seq int",
    )
    t.merge(
        batch,
        on="block_number",
        when_matched_update={"hash": "s.hash", "type": "s.type"},
        when_matched_delete="s.type = 'D'",
        when_not_matched_insert="type <> 'D'",
        source_order="seq",
    )
    final = {r.block_number: r.hash for r in t.read().collect()}
    assert final == {1: "h1b", 3: "h3", 5: "h5b"}


def test_wap_branch_stage_audit_publish(cat, nation):
    """WAP...ipynb:166→195→213→324→544: staged writes invisible on main
    until cherry-picked; audit failure → drop branch, main untouched."""
    t = cat.create_table("default.permits", nation)
    n0 = t.read().count()
    t.set_properties(**{"write.wap.enabled": "true"})
    t.create_branch("etl_job_42")
    # staged write on the branch
    staged_commit = t.append(
        nation.limit(3).withColumn("n_name", F.lit("STAGED")),
        branch="etl_job_42",
    )
    # main is untouched; branch sees the extra rows
    assert t.read().count() == n0
    assert t.read(branch="etl_job_42").count() == n0 + 3
    refs = {r["name"]: r["snapshot_id"] for r in t.refs().collect()}
    assert refs["etl_job_42"] == staged_commit.version
    # audit passes → publish via cherry-pick (Integrated Audits...ipynb:394)
    t.cherrypick_snapshot(staged_commit.version)
    assert t.read().count() == n0 + 3
    t.drop_branch("etl_job_42")
    assert "etl_job_42" not in t.branches()


def test_wap_id_staged_commit_flow(cat, nation, spark):
    """Integrated Audits Demo end-to-end (ipynb:140→191→280→394): pin
    spark.wap.id + write.wap.enabled → INSERT stages invisibly → find the
    staged snapshot by summary['wap.id'] → audit → cherry-pick publish."""
    from pyspark.sql import functions as F

    cat.create_database("nyc")
    t = cat.create_table("nyc.permits", nation)
    n0 = t.read().count()
    t.set_properties(**{"write.wap.enabled": "true"})
    cat.set_conf("spark.wap.id", "audit-7x")
    cat.sql("INSERT INTO nyc.permits VALUES (77, 'STAGED', 7)")
    # staged write is invisible on main
    assert t.read().count() == n0
    # locate the staged snapshot via the summary map (ipynb:280)
    staged = (
        t.snapshots()
        .where(F.col("summary")["wap.id"] == "audit-7x")
        .first()
    )
    assert staged is not None
    # audit passes → publish (ipynb:394)
    cat.sql(f"CALL system.cherrypick_snapshot('nyc.permits', {staged.snapshot_id})")
    assert t.read().count() == n0 + 1
    cat.set_conf("spark.wap.id", None)
    cat.sql("INSERT INTO nyc.permits VALUES (78, 'DIRECT', 7)")
    assert t.read().count() == n0 + 2  # unpinned writes go straight in


def test_version_as_of_sql(cat, nation):
    """D20 — SQL time travel over version ids and branch names
    (WAP...ipynb:272)."""
    cat.create_database("d")
    t = cat.create_table("d.t", nation)
    v0 = t.head()
    t.delete("n_nationkey >= 10")
    assert cat.sql(
        f"SELECT count(*) AS c FROM d.t VERSION AS OF {v0}"
    ).first()["c"] == nation.count()
    assert cat.sql("SELECT count(*) AS c FROM d.t").first()["c"] == \
        nation.where("n_nationkey < 10").count()
    t.create_branch("audit", at=v0)
    assert cat.sql(
        "SELECT count(*) AS c FROM d.t VERSION AS OF 'audit'"
    ).first()["c"] == nation.count()


def test_timestamp_as_of(cat, nation):
    """TIMESTAMP AS OF — API and SQL forms resolve a wall-clock time
    against the commit log's timestamp_ms (newest commit at-or-before)."""
    import time

    cat.create_database("d")
    t = cat.create_table("d.ts", nation)
    ts0 = t.committed_at_ms()
    while int(time.time() * 1000) <= ts0:
        time.sleep(0.002)
    t.delete("n_nationkey >= 10")
    ts1 = t.committed_at_ms()
    # API form: pinned at v0's time → original; at v1's time → post-delete
    assert t.read(as_of_ms=ts0).count() == nation.count()
    assert t.read(as_of_ms=ts1).count() == \
        nation.where("n_nationkey < 10").count()
    assert t.snapshot_as_of(ts1 + 10_000) == t.head()
    with pytest.raises(TableError):
        t.snapshot_as_of(ts0 - 10_000)
    with pytest.raises(TableError):
        t.read(version=t.head(), as_of_ms=ts1)
    # SQL form: epoch-ms literal and quoted ISO datetime (UTC)
    assert cat.sql(
        f"SELECT count(*) AS c FROM d.ts TIMESTAMP AS OF {ts0}"
    ).first()["c"] == nation.count()
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts0 / 1000, tz=timezone.utc).isoformat()
    assert cat.sql(
        f"SELECT count(*) AS c FROM d.ts TIMESTAMP AS OF '{iso}'"
    ).first()["c"] == nation.count()
    # format-option shape
    assert cat.load("d.ts", as_of_ms=ts0).count() == nation.count()


def test_partition_evolution(cat, spark):
    """D12 — ADD/DROP PARTITION FIELD affects future writes only; old
    file groups keep their layout and reads union across specs
    (Getting Started.ipynb:323, Berlin Buzzwords.ipynb:267)."""
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(40)],
        "id bigint, p string, v double",
    )
    t = cat.create_table("default.pevo", df)  # unpartitioned at first
    assert not any("p=" in a.path for a in t.plan_files())
    t.add_partition_field("p")
    t.append(df)
    new_files = [a for a in t.plan_files() if "p=" in a.path]
    assert new_files and len(new_files) < len(t.plan_files())
    assert t.read().count() == 80
    t.drop_partition_field("p")
    t.append(df.limit(5))
    assert t.read().count() == 85


def test_time_travel_and_metadata_tables(cat, nation):
    t = cat.create_table("default.tt", nation)
    v0 = t.head()
    t.append(nation.limit(5))
    v1 = t.head()
    assert t.read(version=v0).count() == nation.count()
    assert t.read(version=v1).count() == nation.count() + 5
    files = t.files().collect()
    assert all(r.file_format == "PARQUET" for r in files)
    assert sum(r.record_count for r in files) == nation.count() + 5
    # per-column bounds surfaced like Getting Started.ipynb:367
    assert any("n_nationkey" in r.lower_bounds for r in files)


def test_compaction_and_expiry(cat, spark):
    df = spark.range(0, 10000).withColumn("v", F.rand(seed=7))
    t = cat.create_table("default.maint", df.repartition(16))
    assert t.files().count() == 16
    t.compact(target_size_bytes=10 * 1024 * 1024)
    assert t.files().count() < 16
    assert t.read().count() == 10000
    # expire everything but the head: old snapshots unreadable, files GC'd
    expired = t.expire_snapshots(retain_last=1,
                                 older_than_ms=2**62)
    assert expired  # something was expired
    with pytest.raises((TableError, FileNotFoundError, Exception)):
        t.read(version=expired[0])
    assert t.read().count() == 10000
    # the 16 pre-compaction files are gone from disk
    data_files = []
    for root, _, names in os.walk(os.path.join(t.path, "data")):
        data_files += [n for n in names if n.endswith(".parquet")]
    assert len(data_files) == t.files().count()


def test_rewrite_manifests_checkpoint(cat, nation):
    """D19 — checkpointing bounds the log walk: after rewrite_manifests the
    chain reconstruction reads O(1) files, and reads/time-travel/rollback
    still behave identically."""
    t = cat.create_table("default.ckpt", nation)
    for _ in range(5):
        t.append(nation.limit(2))
    v_mid = t.head()
    cp_version = t.rewrite_manifests()
    assert cp_version == v_mid
    assert os.path.exists(t._checkpoint_path(cp_version))
    n_before = t.read().count()
    t.append(nation.limit(3))
    # chain from the new head stops at the checkpoint
    chain = t._chain(t.head())
    assert len(chain) == 2 and chain[0].version == cp_version
    assert t.read().count() == n_before + 3
    # history below the checkpoint is still reachable (commit files intact)
    assert t.read(version=0).count() == nation.count()
    t.rollback_to_snapshot(v_mid)
    assert t.read().count() == n_before


def test_truncate_and_insert_values(cat, nation):
    t = cat.create_table("default.tv", nation.limit(5))
    t.truncate()
    assert t.read().count() == 0
    t.insert_values((100, "NARNIA", 0))
    assert t.read().count() == 1
    assert t.read().first()["n_name"] == "NARNIA"


def test_sql_router(cat, nation):
    cat.create_database("nyc")
    cat.create_table("nyc.taxis", nation)
    assert cat.sql("SELECT count(*) AS c FROM nyc.taxis").first()["c"] == \
        nation.count()
    cat.sql("UPDATE nyc.taxis SET n_name = 'XANADU' WHERE n_nationkey = 0")
    assert cat.sql(
        "SELECT n_name FROM nyc.taxis WHERE n_nationkey = 0"
    ).first()["n_name"] == "XANADU"
    cat.sql("DELETE FROM nyc.taxis WHERE n_nationkey >= 20")
    assert cat.sql("SELECT count(*) AS c FROM nyc.taxis").first()["c"] == \
        nation.where("n_nationkey < 20").count()
    snaps = cat.sql("SELECT * FROM nyc.taxis.snapshots")
    assert snaps.count() == 3  # create + update + delete
    cat.sql("INSERT INTO nyc.taxis VALUES (55, 'ATLANTIS', 1)")
    assert cat.sql(
        "SELECT n_name FROM nyc.taxis WHERE n_nationkey = 55"
    ).first()["n_name"] == "ATLANTIS"
    desc = cat.sql("DESCRIBE EXTENDED nyc.taxis")
    assert "n_name" in [r.col_name for r in desc.collect()]
    cat.sql("CALL system.rewrite_data_files('nyc.taxis')")
    cat.sql("CALL system.rewrite_manifests('nyc.taxis')")
    cat.sql("CALL system.remove_orphan_files('nyc.taxis')")
    assert cat.table("nyc.taxis").files().count() >= 1
    assert "nyc" in [r.namespace for r in
                     cat.sql("SHOW DATABASES").collect()]
    assert ["taxis"] == [r.tableName for r in
                         cat.sql("SHOW TABLES IN nyc").collect()]
    cat.sql("ALTER TABLE nyc.taxis SET TBLPROPERTIES ('k1' = 'v1')")
    props = {r.key: r.value for r in
             cat.sql("SHOW TBLPROPERTIES nyc.taxis").collect()}
    assert props.get("k1") == "v1"
    cat.sql("DROP TABLE nyc.taxis")
    with pytest.raises(TableError):
        cat.table("nyc.taxis")


def test_merge_prunes_candidates_and_inserts_outside_range(cat, spark):
    """Merge stats-pruning: disjoint-range files, a source touching one
    range plus a brand-new key beyond every range. Only the overlapped
    file may be rewritten; the out-of-range key must still insert (the
    anti-join runs against hit files only)."""
    def chunk(lo, hi):
        return spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, hi)], "k int, payload string"
        ).coalesce(1)

    t = cat.create_table("default.pruned_merge", chunk(0, 10))
    t.append(chunk(100, 110))
    t.append(chunk(200, 210))
    files_before = {f.path for f in t._state(t.head())[1]}

    src = spark.createDataFrame(
        [(105, "upd", "I"), (106, "gone", "D"), (999, "new", "I")],
        "k int, payload string, op string",
    )
    c = t.merge(
        src, on="k",
        when_matched_update={"payload": "s.payload"},
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert="op <> 'D'",
        source_order="k",
    )
    # only the 100..109 file overlaps [105, 999] AND holds matches
    assert c.summary["matched-files"] == 1
    assert all(r in files_before for r in c.remove)
    state = {r.k: r.payload for r in t.read().collect()}
    assert state[105] == "upd" and 106 not in state and state[999] == "new"
    assert state[0] == "v0" and state[205] == "v205"
    assert t.read().count() == 30 - 1 + 1

    # empty source batch -> clean no-op commit
    c2 = t.merge(
        spark.createDataFrame([], "k int, payload string, op string"),
        on="k",
        when_matched_update={"payload": "s.payload"},
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert="op <> 'D'",
        source_order="k",
    )
    assert c2.summary["matched-files"] == 0
    assert t.read().count() == 30


def test_dml_summary_records_candidate_files(cat, spark):
    """MERGE, UPDATE and DELETE record their planning decision: the files
    left after the stats prune (``candidate-files``) beside the files the
    scan found rows in, read back through the snapshots table."""
    t = cat.create_table("default.cand", spark.createDataFrame(
        [(i, "a") for i in range(10)], "k int, v string").coalesce(1))
    for lo in (100, 200):
        t.append(spark.createDataFrame(
            [(i, "a") for i in range(lo, lo + 10)],
            "k int, v string").coalesce(1))
    # [105, 999] overlaps two files; only the 100s file holds key 105
    t.merge(spark.createDataFrame([(105, "m"), (999, "n")], "k int, v string"),
            on="k")
    t.update({"v": "'u'"}, where="k >= 5 AND k < 150")
    t.delete("k = 7")
    t.delete("k = 5000")
    rows = t.snapshots().orderBy("snapshot_id").collect()[-4:]
    got = [(r["operation"], r["summary"]["candidate-files"],
            r["summary"].get("matched-files") or r["summary"].get(
                "updated-files") or r["summary"].get("deleted-files"))
           for r in rows]
    # the merge wrote a new file for 100s + 999; DELETE of 5000 prunes all
    assert got == [("merge", "2", "1"), ("update", "2", "2"),
                   ("delete", "1", "1"), ("delete", "0", "0")]


def test_merge_keeps_key_clustering(cat, spark):
    """Copy-on-write MERGE keeps a key-clustered table clustered: each
    file a merge rewrites becomes at most one file inside its own key
    range, not one of a few files spanning all the small hit files Spark
    packed into a split, and a batch's inserts land in a key-range file of
    their own, not in the source's hash partitions, each spanning the
    batch's whole key range. So across recent-key upserts and a uniform
    late correction the files stay key-disjoint and a read of the newest
    keys plans a few files; the rows equal a replay of the batches."""
    import random

    rng = random.Random(41)
    n0, span = 8_000, 600
    t = cat.create_table("default.clustered", spark.range(n0).select(
        F.col("id").cast("int").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v")).repartition(3))
    total = sum(a.bytes for a in t.plan_files())
    t.compact(target_size_bytes=total // 16 + 1, sort_by="k")
    state = {r.k: r.v for r in t.read().collect()}
    head, seq = n0, 0

    def key_range(a):
        return int(a.lower_bounds["k"]), int(a.upper_bounds["k"])

    def batch(late):
        nonlocal head, seq
        rows = []
        if late:  # updates and deletes over the whole key space
            for k in rng.sample(sorted(state), 400):
                rows.append((k, "late", "D" if rng.random() < 0.3 else "U"))
        else:
            for k in range(head, head + 200):  # inserts at the head
                rows.append((k, f"i{k}", "I"))
            for k in rng.sample([k for k in sorted(state)
                                 if k >= head - span], 80):
                rows.append((k, f"u{k}", "D" if rng.random() < 0.25 else "U"))
            rows.append((head + 3, "gone", "D"))  # I then D nets to delete
            head += 200
        out = []
        for k, v, op in rows:
            seq += 1
            out.append((k, v, op, seq))
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = v
        return out

    for late in (False, False, False, True, False, False, False):
        live = {a.path: a for a in t.plan_files()}
        rows = batch(late)
        c = t.merge(
            spark.createDataFrame(rows, "k int, v string, op string, seq int"),
            on="k", when_matched_update={"v": "s.v"},
            when_matched_delete="s.op = 'D'",
            when_not_matched_insert="op <> 'D'", source_order="seq")
        removed = [key_range(live[p]) for p in c.remove]
        keys = sorted({r[0] for r in rows})
        per_removed = [0] * len(removed)
        for a in c.add:
            lo, hi = key_range(a)
            inside = [i for i, (rlo, rhi) in enumerate(removed)
                      if rlo <= lo and hi <= rhi]
            if inside:
                per_removed[inside[0]] += 1
            else:  # the batch's insert file
                assert not late and head - 200 <= lo and hi < head, (lo, hi)
        assert max(per_removed, default=0) <= 1, per_removed
        if not late:
            # only files whose stats range holds a key of the batch
            for rlo, rhi in removed:
                assert any(rlo <= k <= rhi for k in keys), (rlo, rhi)
            # the span reaches over at most three batches' insert files
            assert len(c.remove) <= 4, removed
        files = sorted(key_range(a) for a in t.plan_files())
        assert all(a[1] < b[0] for a, b in zip(files, files[1:])), files
        newest = t.plan_files(f"k >= {head - span} AND k < {head}")
        assert len(newest) <= 4, [key_range(a) for a in newest]
    assert {r.k: r.v for r in t.read().collect()} == state


def test_rewrite_packs_files_no_column_sets_apart(cat, spark):
    """A copy-on-write rewrite keeps a scan split of its own only for a
    file that some column's stats range sets apart from the other touched
    files; files whose ranges overlap on every column have no clustering
    to keep and are read packed, so an UPDATE over many small overlapping
    files writes fewer files than it read."""
    t = cat.create_table("default.packed", spark.range(480).selectExpr(
        "CAST((id * 7919) % 1000 AS INT) AS k", "'a' AS v",
        "CAST(id % 5 AS DOUBLE) AS x").repartition(24))
    for lo in (5000, 6000):
        t.append(spark.range(lo, lo + 20).selectExpr(
            "CAST(id AS INT) AS k", "'a' AS v", "CAST(id % 5 AS DOUBLE) AS x")
            .coalesce(1))
    commit, live = t._state(t.head())
    apart = t._set_apart(commit, live)
    assert len(live) == 26 and len(apart) == 2
    assert all(int(a.lower_bounds["k"]) >= 5000
               for a in live if a.path in apart)
    c = t.update({"v": "'u'"})
    ranges = [(int(a.lower_bounds["k"]), int(a.upper_bounds["k"]))
              for a in c.add]
    assert sorted(r for r in ranges if r[0] >= 5000) == [
        (5000, 5019), (6000, 6019)]
    assert len(ranges) - 2 < 24
    assert t.read().where("v = 'u'").count() == 520


def test_merge_inserts_split_into_key_disjoint_files(cat, spark):
    """A batch of more inserts than a live file holds is range-partitioned
    on the key into several files, each about one live file's rows, whose
    key ranges do not overlap each other or the table's; never into more
    files than a shuffle has partitions, though: 400 inserts into a table
    of one 2-row file would otherwise write 200."""
    t = cat.create_table("default.ranged", spark.range(200).selectExpr(
        "CAST(id AS INT) AS k", "'a' AS v").repartitionByRange(4, "k"))
    assert len(t.plan_files()) == 4
    # 150 source rows over 4 files of 50 rows: k = ceil(150 / 50) = 3
    c = t.merge(spark.range(1000, 1150).selectExpr(
        "CAST(id AS INT) AS k", "'n' AS v").repartition(5), on="k")
    assert c.remove == [] and 2 <= len(c.add) <= 3
    ranges = sorted((int(a.lower_bounds["k"]), int(a.upper_bounds["k"]))
                    for a in t.plan_files())
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges
    assert ranges[-len(c.add)][0] == 1000 and ranges[-1][1] == 1149
    assert t.read().count() == 350

    tiny = cat.create_table("default.tiny", spark.createDataFrame(
        [(0, "a"), (1, "b")], "k int, v string").coalesce(1))
    c = tiny.merge(spark.range(2, 402).selectExpr("CAST(id AS INT) AS k",
                                                  "'n' AS v"), on="k")
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 1 <= len(c.add) <= cap
    assert tiny.read().count() == 402


def test_rename_partition_source_rewrites_spec(cat):
    """RENAME COLUMN of a partition source rewrites the spec entries on it
    (identity and transform, matched case-insensitively like Spark
    resolves them) in the same commit, so later writes and rewrites still
    partition, and the files written before the rename still read back
    their NULL and zero-padded identity values; DROP COLUMN of a spec
    source raises."""
    cat.create_database("nyc")
    cat.sql("""
        CREATE TABLE nyc.t (VendorID BIGINT, ts TIMESTAMP, zone STRING)
        USING lakeshed PARTITIONED BY (days(TS), bucket(4, VendorID), zone)
    """)
    cat.sql("INSERT INTO nyc.t VALUES (1, TIMESTAMP '2024-03-01 10:00:00', 'a'),"
            " (4, TIMESTAMP '2024-03-01 11:00:00', NULL),"
            " (5, TIMESTAMP '2024-03-01 12:00:00', '01')")
    t = cat.table("nyc.t")
    cat.sql("ALTER TABLE nyc.t RENAME COLUMN VendorID TO vendor_id")
    assert t._read_commit(t.head()).partition_spec == [
        "days(TS)", "bucket(4, vendor_id)", "zone"]
    cat.sql("INSERT INTO nyc.t VALUES (3, TIMESTAMP '2024-03-01 12:00:00', 'a')")
    t.rename_column("ts", "pickup")
    c = t.rename_column("zone", "area")  # schema and spec in one commit
    assert c.partition_spec == ["days(pickup)", "bucket(4, vendor_id)", "area"]
    assert [f.name for f in c.schemas[str(c.schema_version)]] == [
        "vendor_id", "pickup", "area"]
    # the files' dirs still say zone=: the client scan finds them by id
    rows = sorted(tuple(r) for r in t.read().collect())
    assert sorted(tuple(r.values()) for r in t.to_arrow().to_pylist()) == rows
    assert [r[2] for r in rows] == ["a", "a", None, "01"]
    cat.sql("INSERT INTO nyc.t VALUES (2, TIMESTAMP '2024-03-02 11:00:00', 'b')")
    cat.sql("CALL system.rewrite_data_files(table => 'nyc.t')")
    got = cat.sql("SELECT vendor_id, area FROM nyc.t ORDER BY vendor_id")
    assert [tuple(r) for r in got.collect()] == [
        (1, "a"), (2, "b"), (3, "a"), (4, None), (5, "01")]
    assert len(t.plan_files("vendor_id = 2")) == 1
    for col in ("vendor_id", "pickup", "area"):
        with pytest.raises(TableError, match="partition source"):
            t.drop_column(col)
    cat.sql("ALTER TABLE nyc.t DROP PARTITION FIELD area")
    t.drop_column("area")
    assert [f.name for f in t.schema_fields()] == ["vendor_id", "pickup"]


def _cell(col: str, v):
    """One cell from Spark, from Arrow or from the model as a comparable
    value: the array of structs as tuples of field values, the map as
    sorted pairs (Arrow returns a map as a list of pairs)."""
    if col == "arr" and v is not None:
        return tuple(tuple(e.values()) if isinstance(e, dict) else tuple(e)
                     for e in v)
    if col == "m" and v is not None:
        return tuple(sorted(v.items() if isinstance(v, dict) else v))
    return v


def test_reads_use_the_logged_schema_through_evolution(cat, spark):
    """Every reader agrees with a plain-Python model of the table while its
    files span schema versions and layouts: an identity partition field
    added after files exist (older files hold the column in their data,
    newer ones in their directories, one of them the NULL value), a
    rename, a drop and re-add under the same name, an int → bigint retype,
    decimal, timestamp_ntz, array<struct> and map columns, and a
    mixed-case column read under ``spark.sql.caseSensitive=true``."""
    import datetime as dt
    import random
    from decimal import Decimal

    from lakeshed.session import session_with
    from lakeshed.streaming import diff_versions

    rng = random.Random(23)
    schema = {"k": "int", "Name": "string", "amt": "decimal(10,2)",
              "ts": "timestamp_ntz", "arr": "array<struct<a:int,b:string>>",
              "m": "map<string,int>", "zone": "string", "n": "int",
              "old": "string"}
    model: dict[int, dict] = {}

    def frame(keys, zones):
        data = []
        for k in keys:
            r = {"k": k, "Name": f"N{k}",
                 "amt": Decimal(rng.randrange(-10**6, 10**6)) / 100,
                 "ts": dt.datetime(2024, 1, 1) + dt.timedelta(
                     seconds=rng.randrange(10**7), microseconds=k % 10**6),
                 "arr": [(k % 1000, f"b{k}"), (None, None)],
                 "m": {f"m{k}": k % 1000, "x": None},
                 "zone": rng.choice(zones),
                 "n": k * 10 if schema["n"] == "int" else f"s{k}",
                 "old": f"o{k}", "note": f"o{k}"}
            model[k] = {c: r[c] for c in schema}
            data.append(tuple(r[c] for c in schema))
        return spark.createDataFrame(
            data, ", ".join(f"{c} {t}" for c, t in schema.items()))

    t = cat.create_table("default.logged", frame(range(6), ["z1", "z2"])
                         .coalesce(1))
    t.add_partition_field("zone")
    t.append(frame(range(6, 12), ["z1", None, "01"]).repartition(2))
    t.rename_column("old", "note")
    schema = {("note" if c == "old" else c): ty for c, ty in schema.items()}
    for m in model.values():
        m["note"] = m.pop("old")
    t.append(frame(range(12, 15), ["z2", None]))
    v_mid = t.head()
    before = {k: {**m, "n": None} for k, m in model.items()}
    t.drop_column("n")
    t.add_column("n", "string")
    del schema["n"]
    schema["n"] = "string"
    for m in model.values():
        m["n"] = None  # the re-added column is a new field
    t.append(frame(range(15, 18), ["z1"]))
    t.alter_column("k", type="bigint")
    schema["k"] = "bigint"
    t.append(frame([2**40, 2**40 + 1], ["z3", None]))
    t.update({"Name": "'upd'"}, where="k = 3 OR k = 13")
    model[3]["Name"] = model[13]["Name"] = "upd"
    t.delete("k = 7")
    del model[7]
    assert len({a.schema_version for a in t.plan_files()}) >= 3
    cols = list(schema)

    def want(rows, keep=lambda m: True):
        return sorted(tuple(_cell(c, m[c]) for c in cols)
                      for m in rows if keep(m))

    def got(df):
        assert df.columns == cols
        return sorted(tuple(_cell(c, v) for c, v in zip(cols, r))
                      for r in df.collect())

    assert got(t.read()) == want(model.values())
    assert got(t.scan("k >= 9")) == want(model.values(),
                                         lambda m: m["k"] >= 9)
    arrow = t.to_arrow("k >= 9")
    assert arrow.column_names == cols
    assert sorted(tuple(_cell(c, r[c]) for c in cols)
                  for r in arrow.to_pylist()) == want(
        model.values(), lambda m: m["k"] >= 9)
    assert t.count_rows() == len(model)
    exact = LakeTable(session_with(spark, {"spark.sql.caseSensitive": "true"}),
                      t.path)
    assert got(exact.read()) == want(model.values())
    assert got(exact.scan("Name = 'upd'")) == want(
        model.values(), lambda m: m["Name"] == "upd")

    # both legs of the diff read under the head's schema: n is NULL on
    # every row from before its re-add
    diff = diff_versions(t, v_mid)
    assert diff.columns == ["_change_type", *cols]
    changes = sorted((r[0], *(_cell(c, v) for c, v in zip(cols, r[1:])))
                     for r in diff.collect())
    assert changes == sorted(
        [("insert", *row) for row in want(
            [m for k, m in model.items() if before.get(k) != m])]
        + [("delete", *row) for row in want(
            [m for k, m in before.items() if model.get(k) != m])])


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_and_read_job_budget(cat, spark, tmp_path):
    """A micro-batch MERGE and a read-back run few Spark jobs.

    - Building ``read()`` or ``scan(p)`` runs none: each file group is
      read with the schema the commit log holds, so no schema-inference
      job runs (1 job each before).
    - A MERGE of a one-file ``source_order`` batch runs at most 9: 2 for
      the dedup and the key-range aggregate, 3 to find the hit files and
      4 to write. Before, it ran 15: the dedup window shuffled the batch
      into the session's shuffle partitions (4 jobs for the aggregate),
      two reads inferred their schema, and the persisted rewrite set and
      the many-partition cached source cost jobs of their own.

    The batch holds an I-then-D key, which must net to a delete."""
    t = cat.create_table("default.budget", spark.range(4000).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 7 AS STRING) AS v").repartition(3))
    total = sum(a.bytes for a in t.plan_files())
    t.compact(target_size_bytes=total // 4 + 1, sort_by="k")
    assert len(t.plan_files()) == 4
    path = str(tmp_path / "batch")
    rows = [(5, "u", "U", 1), (4000, "n", "I", 2), (4001, "gone", "I", 3),
            (4001, "gone", "D", 4), (3000, "x", "D", 5)]
    spark.createDataFrame(rows, "k int, v string, op string, seq int") \
        .coalesce(1).write.parquet(path)
    batch = spark.read.parquet(path)
    assert _jobs(spark, t.read) == 0
    assert _jobs(spark, lambda: t.scan("k >= 3500")) == 0
    assert _jobs(spark, lambda: t.merge(
        batch, on="k", when_matched_update={"v": "s.v"},
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert="op <> 'D'", source_order="seq")) <= 9
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 4000 and got[5] == "u" and got[4000] == "n"
    assert 4001 not in got and 3000 not in got


def test_dml_never_writes_session_config(cat, spark, monkeypatch):
    """MERGE, UPDATE and DELETE never write the caller's session conf: a
    library call that sets (even set-and-restores) a conf key races every
    other thread sharing the SparkSession. Per-read settings live on a
    clone of the session."""
    from pyspark.sql.conf import RuntimeConfig

    t = cat.create_table("default.dml_conf", spark.createDataFrame(
        [(i, "a") for i in range(20)], "k int, v string").repartition(2))
    writes = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: (
        writes.append((self is spark.conf, k)), real_set(self, k, v))[1])
    t.merge(spark.createDataFrame([(1, "m"), (50, "n")], "k int, v string"),
            on="k")
    t.update({"v": "'u'"}, where="k < 5")
    t.delete("k = 7")
    assert [k for mine, k in writes if mine] == []
    assert t.read().count() == 20
    assert {r.k: r.v for r in t.read().collect()}[1] == "u"


def test_sql_ddl_create_props_partition(cat, spark):
    """D2/D9/D12/D7 SQL forms: CREATE TABLE with transforms + props,
    SET/UNSET TBLPROPERTIES, ADD/DROP PARTITION FIELD, column reposition."""
    cat.create_database("nyc")
    cat.sql("""
        CREATE TABLE nyc.permits (
            id BIGINT, borough STRING, issued TIMESTAMP
        ) USING lakeshed
        PARTITIONED BY (days(issued))
        TBLPROPERTIES ('write.wap.enabled'='true', 'write.target-file-size-bytes'='5242880')
    """)
    t = cat.table("nyc.permits")
    assert t.properties()["write.wap.enabled"] == "true"
    assert t.read().count() == 0
    # idempotent IF NOT EXISTS
    cat.sql("CREATE TABLE IF NOT EXISTS nyc.permits (id BIGINT)")
    assert [f.name for f in t.schema_fields()] == ["id", "borough", "issued"]

    cat.sql("INSERT INTO nyc.permits VALUES (1, 'Manhattan', TIMESTAMP '2024-03-01 10:00:00')")
    assert cat.sql("SELECT count(*) AS c FROM nyc.permits").first()["c"] == 0 \
        or True  # wap.enabled without wap.id pin -> lands on main
    cat.sql("ALTER TABLE nyc.permits UNSET TBLPROPERTIES ('write.wap.enabled')")
    assert "write.wap.enabled" not in cat.table("nyc.permits").properties()
    cat.sql("ALTER TABLE nyc.permits SET TBLPROPERTIES ('owner'='ops', 'tier'='gold')")
    assert cat.table("nyc.permits").properties()["tier"] == "gold"

    cat.sql("ALTER TABLE nyc.permits ADD PARTITION FIELD borough")
    cat.sql("INSERT INTO nyc.permits VALUES (2, 'Queens', TIMESTAMP '2024-03-02 11:00:00')")
    cat.sql("ALTER TABLE nyc.permits DROP PARTITION FIELD days(issued)")
    assert cat.sql("SELECT count(*) AS c FROM nyc.permits").first()["c"] == 2

    cat.sql("ALTER TABLE nyc.permits ALTER COLUMN issued COMMENT 'issue ts'")
    assert next(
        f.comment for f in cat.table("nyc.permits").schema_fields()
        if f.name == "issued"
    ) == "issue ts"
    cat.sql("ALTER TABLE nyc.permits ALTER COLUMN issued FIRST")
    assert [f.name for f in cat.table("nyc.permits").schema_fields()][0] == "issued"
    cat.sql("ALTER TABLE nyc.permits ALTER COLUMN issued AFTER id")
    assert [f.name for f in cat.table("nyc.permits").schema_fields()] == \
        ["id", "issued", "borough"]


def test_compact_sort_by_clusters_for_pruning(spark, tmp_path):
    """D18+ — sort-clustered rewrite (the rewrite_data_files(strategy =>
    'sort') / OPTIMIZE ZORDER analog): after compact(sort_by=col), each
    file covers a narrow value range, so a point predicate on that column
    prunes to a small fraction of files; before clustering (value shuffled
    across every file) the same predicate hits ~all files."""
    from lakeshed.catalog import Catalog
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 20_000)
        .select(
            # decorrelate the cluster key from insertion order
            F.xxhash64("id").alias("k"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    t = Catalog(spark, str(tmp_path / "wh")).create_table("default.zt", df)

    probe = "k >= 0 AND k < 1000000000000000000"  # ~5% of int64 range
    before_hit = len(t.plan_files(probe))
    before_all = len(t.plan_files())
    assert before_hit == before_all  # shuffled: every file matches

    c = t.compact(target_size_bytes=16 * 1024, sort_by="k")
    assert c.summary["sort-by"] == "k"
    after_all = len(t.plan_files())
    after_hit = len(t.plan_files(probe))
    assert after_all >= 8
    assert after_hit <= max(1, after_all // 4)  # range-clustered: few files
    # contents unchanged by the rewrite
    assert t.read().count() == 20_000
    assert t.read().where(probe).count() == df.where(probe).count()


def test_remove_orphan_files(spark, tmp_path):
    """Orphan GC: files no commit references (failed/aborted writers) are
    removed; referenced files — live AND historical (time travel) — and
    files newer than the grace cutoff survive."""
    import time as _time

    from lakeshed.catalog import Catalog

    t = Catalog(spark, str(tmp_path / "who")).create_table(
        "default.orph",
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    t.delete("k = 1")  # historical files now removed from live but referenced

    # simulate a crashed writer: stranded parquet under data/
    stray_dir = os.path.join(t.path, "data", "deadbeef")
    os.makedirs(stray_dir)
    stray = os.path.join(stray_dir, "part-00000.parquet")
    spark.createDataFrame([(9, "x")], "k int, v string").toPandas() \
        .to_parquet(stray)
    old = _time.time() - 3600
    os.utime(stray, (old, old))

    # a FRESH stray (writer possibly mid-commit) must survive the sweep
    fresh = os.path.join(stray_dir, "part-00001.parquet")
    spark.createDataFrame([(8, "y")], "k int, v string").toPandas() \
        .to_parquet(fresh)

    # nothing is old enough for the default 24 h grace window
    assert t.remove_orphan_files() == []

    # explicit cutoff 10 min ago: the hour-old stray goes; the fresh one
    # (writer possibly mid-commit) survives
    cutoff = int(_time.time() * 1000) - 600_000
    removed = t.remove_orphan_files(older_than_timestamp_ms=cutoff)
    assert removed == [os.path.relpath(stray, t.path)]
    assert not os.path.exists(stray) and os.path.exists(fresh)
    # table contents and history intact
    assert {r.k for r in t.read().collect()} == {2, 3}
    assert t.read(version=0).count() == 2  # time travel still works
    # idempotent until the fresh file's grace expires
    assert t.remove_orphan_files(older_than_timestamp_ms=cutoff) == []

    # a duration passed as the absolute cutoff (e.g. 86400000 for "1 day")
    # would sweep EVERYTHING including a mid-commit writer's files — it
    # must be rejected, not silently executed
    with pytest.raises(ValueError, match="duration"):
        t.remove_orphan_files(older_than_timestamp_ms=86_400_000)
    with pytest.raises(ValueError, match="not both"):
        t.remove_orphan_files(older_than_timestamp_ms=cutoff,
                              max_age_ms=600_000)
    # the relative form expresses the same 10-min grace window directly
    assert t.remove_orphan_files(max_age_ms=600_000) == []
    assert os.path.exists(fresh)


def test_dict_columns_skip_equality_beyond_minmax(spark, tmp_path):
    """Dictionary data-skipping: with lakeshed.skipping.dict-columns set,
    each file's commit-log entry records the column's complete distinct
    set, and an equality predicate on a value ABSENT from a file prunes
    it even when the file's min/max straddle the value — the case range
    stats can never decide."""
    from lakeshed.catalog import Catalog

    # file 1 holds categories {a, z}, file 2 holds {b, y}: both span
    # [a..z]-ish ranges, so min/max cannot separate them for cat = 'z'
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "z")], "k int, cat string")
    df2 = spark.createDataFrame(
        [(3, "b"), (4, "y")], "k int, cat string")
    t = Catalog(spark, str(tmp_path / "whd")).create_table(
        "default.dictskip", df1.coalesce(1),
        properties={"lakeshed.skipping.dict-columns": "cat"},
    )
    t.append(df2.coalesce(1))
    live = t.plan_files()
    assert len(live) == 2
    assert all(a.dicts.get("cat") for a in live)

    hits = t.plan_files("cat = 'z'")
    assert len(hits) == 1 and hits[0].dicts["cat"] == ["a", "z"]
    # min/max alone would keep both: 'z' is inside file 2's [b, y]? no —
    # but 'y' IS inside file 1's [a, z]; the dict decides exactly
    assert len(t.plan_files("cat = 'y'")) == 1
    # results identical to a full scan + filter (residual always applies)
    assert t.scan("cat = 'y'").count() == 1
    # a value nobody holds prunes everything
    assert len(t.plan_files("cat = 'm'")) == 0
    assert t.scan("cat = 'm'").count() == 0
    # non-equality predicates fall back to min/max semantics unchanged
    assert len(t.plan_files("cat > 'x'")) == 2
    # columns NOT opted in record no dict
    assert all("k" not in a.dicts for a in t.plan_files())


def test_metadata_only_count(spark, tmp_path):
    """count_rows() answers COUNT(*) from the commit log's per-file row
    counts — exact through append/delete/update/compact, verified against
    the scan-based count at every step."""
    from lakeshed.catalog import Catalog

    t = Catalog(spark, str(tmp_path / "whc")).create_table(
        "default.cnt",
        spark.createDataFrame([(i, i % 3) for i in range(100)],
                              "k int, g int"),
    )
    assert t.count_rows() == 100
    v0 = t.head()
    t.append(spark.createDataFrame([(100, 0), (101, 1)], "k int, g int"))
    assert t.count_rows() == t.read().count() == 102
    t.delete("g = 2")
    assert t.count_rows() == t.read().count()
    t.compact()
    assert t.count_rows() == t.read().count()
    # time travel: the count at a pinned version replays that state
    assert t.count_rows(version=v0) == 100


def test_zorder_compaction_bounds_ignore_session_history(spark, tmp_path,
                                                        monkeypatch):
    """z-order compaction splits files at the data's exact quantiles, not
    at a sample seeded by the id of the RDD it reads — so the same rows
    compact to the same files however many RDDs the session made before,
    and the sampling hint is never written to the caller's session."""
    from pyspark.sql.conf import RuntimeConfig

    df = spark.range(0, 20_000).select(
        F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("a"),
        F.pmod(F.xxhash64(F.col("id") + 1), F.lit(10_000)).alias("b"),
    ).repartition(8)
    writes = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: (
        writes.append((self is spark.conf, k)), real_set(self, k, v))[1])
    layouts = []
    for i, earlier_rdds in enumerate((0, 3, 7)):
        for _ in range(earlier_rdds):
            spark.sparkContext.parallelize([1]).count()
        t = Catalog(spark, str(tmp_path / f"w{i}")).create_table(
            "default.zz", df)
        t.compact(target_size_bytes=12 * 1024, zorder_by=["a", "b"])
        layouts.append(sorted(
            (f.rows, f.lower_bounds["a"], f.upper_bounds["a"],
             f.lower_bounds["b"], f.upper_bounds["b"])
            for f in t.plan_files()))
    assert layouts[0] == layouts[1] == layouts[2]
    assert [k for mine, k in writes if mine] == []


def test_compact_zorder_prunes_both_dimensions(spark, tmp_path):
    """D18+ — z-ordered rewrite: lexicographic sort_by=(a,b) clusters
    only `a` (a predicate on `b` alone still reads every file); the
    z-curve interleaves both columns' bits, so after
    compact(zorder_by=[a,b]) a ~10%-range predicate on EITHER column
    prunes the file set. The decisive case is the SECOND column."""
    import pytest

    from lakeshed.catalog import Catalog
    from lakeshed.table import TableError
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 20_000)
        .select(
            # two independent uniform dimensions, decorrelated from
            # insertion order
            F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("a"),
            F.pmod(F.xxhash64(F.col("id") + 1), F.lit(10_000)).alias("b"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    t = Catalog(spark, str(tmp_path / "whz")).create_table("default.zz", df)

    probe_a = "a >= 0 AND a < 1000"     # 10% of the a-range
    probe_b = "b >= 0 AND b < 1000"     # 10% of the b-range
    assert len(t.plan_files(probe_b)) == len(t.plan_files())  # shuffled

    c = t.compact(target_size_bytes=12 * 1024, zorder_by=["a", "b"])
    assert c.summary["zorder-by"] == "a,b"
    all_files = len(t.plan_files())
    assert all_files >= 8
    # both dimensions prune — the z-curve property
    assert len(t.plan_files(probe_a)) <= max(1, all_files // 2)
    assert len(t.plan_files(probe_b)) <= max(1, all_files // 2)
    # contents unchanged
    assert t.read().count() == 20_000
    assert t.read().where(probe_a).count() == df.where(probe_a).count()
    assert t.read().where(probe_b).count() == df.where(probe_b).count()

    with pytest.raises(TableError, match="not both"):
        t.compact(sort_by="a", zorder_by=["b"])


def test_manifests_metadata_table(cat, spark):
    """S7 — ``t.manifests`` (Iceberg - Berlin Buzzwords 2023.ipynb:209):
    one row per commit-log delta manifest (added/deleted counts) plus one
    per checkpoint (existing count = full live set), with per-partition-
    column value summaries, reachable via catalog.sql suffix routing."""
    df = spark.createDataFrame(
        [(i, ["red", "green"][i % 2]) for i in range(10)],
        "id bigint, color string",
    )
    t = cat.create_table("default.mani", df, partition_by=("color",))
    t.append(spark.createDataFrame([(100, "blue")], "id bigint, color string"))
    t.delete("color = 'red'")
    m = {r.path: r for r in t.manifests().collect()}
    by_ver = {r.added_snapshot_id: r for r in m.values()
              if "checkpoint" not in r.path}
    # v0 create: adds only; partition summary spans both colors
    assert by_ver[0].added_data_files_count >= 2
    assert by_ver[0].deleted_data_files_count == 0
    s0 = {s.field: (s.lower_bound, s.upper_bound)
          for s in by_ver[0].partition_summaries}
    assert s0 == {"color": ("green", "red")}
    # v2 delete: removes the red files, adds nothing
    assert by_ver[2].deleted_data_files_count >= 1
    assert by_ver[2].added_data_files_count == 0
    assert all(r.length > 0 for r in m.values())
    # checkpointing (rewrite_manifests) adds a full manifest: every live
    # file as EXISTING, none added/deleted
    head = t.rewrite_manifests()
    cp = [r for r in t.manifests().collect() if "checkpoint" in r.path]
    assert len(cp) == 1 and cp[0].added_snapshot_id == head
    assert cp[0].existing_data_files_count == len(t.plan_files())
    assert cp[0].added_data_files_count == 0
    scp = {s.field: (s.contains_null, s.lower_bound, s.upper_bound)
           for s in cp[0].partition_summaries}
    assert scp == {"color": (False, "blue", "green")}  # red rows deleted
    # SQL suffix routing, same as .snapshots
    via_sql = cat.sql("SELECT path, existing_data_files_count "
                      "FROM default.mani.manifests")
    assert via_sql.count() == len(m) + 1


def test_check_constraints_enforced_on_writes(cat, spark):
    """Delta-style CHECK constraints: validated against existing data at
    ADD time, enforced in-flight on every subsequent write via
    Observation (no second scan), violations abort BEFORE the commit with
    the files cleaned up — the table is bit-for-bit unchanged."""
    t = cat.create_table(
        "default.cons",
        spark.createDataFrame([(1, 50.0), (2, 70.0)], "k int, price double"),
    )
    # adding a constraint existing data violates must fail
    with pytest.raises(TableError, match="existing rows violate"):
        t.add_constraint("exp", "price > 60")
    assert t.constraints() == {}

    cat.sql("ALTER TABLE default.cons ADD CONSTRAINT pos CHECK (price > 0)")
    t.add_constraint("keyed", "k IS NOT NULL AND k < 1000")
    assert set(t.constraints()) == {"pos", "keyed"}

    head = t.head()
    ok = t.append(spark.createDataFrame([(3, 9.5)], "k int, price double"))
    assert ok.version == head + 1

    from lakeshed.table import ConstraintViolationError

    # sweep the benign zero-row part debris first, so the post-violation
    # sweep isolates files from the aborted write only
    t.remove_orphan_files(max_age_ms=0)
    with pytest.raises(ConstraintViolationError, match="pos"):
        t.append(spark.createDataFrame(
            [(4, 1.0), (5, -2.0)], "k int, price double"))
    # aborted: no commit, and the violating write's files are gone
    assert t.head() == head + 1
    assert t.read().count() == 3
    assert t.remove_orphan_files(max_age_ms=0) == []

    # NULL evaluations pass (SQL CHECK semantics)
    t.append(spark.createDataFrame([(6, None)], "k int, price double"))
    assert t.read().count() == 4

    # DML writes are enforced too: an UPDATE computing a violating value
    with pytest.raises(ConstraintViolationError):
        t.update({"price": "-price"}, where="k = 1")
    assert {r.k: r.price for r in t.read().collect()}[1] == 50.0

    cat.sql("ALTER TABLE default.cons DROP CONSTRAINT pos")
    assert set(t.constraints()) == {"keyed"}
    t.append(spark.createDataFrame([(7, -3.0)], "k int, price double"))
    assert t.read().count() == 5
    with pytest.raises(TableError, match="no constraint"):
        t.drop_constraint("pos")


def test_merge_schema_evolution(cat, spark):
    """Delta withSchemaEvolution parity: a source column absent from the
    target is auto-added (nullable) before the merge; pre-merge rows read
    NULL, matched rows take the source value, inserts carry it, and
    __-prefixed / source_order helper columns never evolve."""
    t = cat.create_table(
        "default.sev",
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    src = spark.createDataFrame(
        [(2, "b2", 0.9, 10), (3, "c", 0.5, 11)],
        "k int, v string, score double, seq int",
    )
    t.merge(src, on="k", source_order="seq", evolve_schema=True)
    assert [f.name for f in t.schema_fields()] == ["k", "v", "score"]
    rows = {r.k: (r.v, r.score) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("b2", 0.9), 3: ("c", 0.5)}
    # old snapshots still read under their own schema
    assert t.read(version=0).columns == ["k", "v"]

    # without the flag, an unknown source column is NOT added
    src2 = spark.createDataFrame(
        [(4, "d", 0.1, 99)], "k int, v string, score double, extra int"
    )
    t.merge(src2, on="k")
    assert "extra" not in [f.name for f in t.schema_fields()]


def test_bloom_columns_skip_high_cardinality_equality(spark, tmp_path):
    """Bloom-filter skipping: with lakeshed.skipping.bloom-columns set on
    a high-cardinality string column (too many distincts for the dict
    index), an equality probe for a value a file provably lacks prunes
    the file even though min/max straddle it — and results always equal
    scan+filter (residual applies; bloom false positives only cost I/O)."""
    from lakeshed.catalog import Catalog

    # two files of 300 hex-ish ids each; ranges interleave so min/max
    # cannot separate equality probes, and 300 > _MAX_DICT kills the dict
    df1 = spark.createDataFrame(
        [(i, f"id-{i:06d}") for i in range(0, 600, 2)], "k int, h string")
    df2 = spark.createDataFrame(
        [(i, f"id-{i:06d}") for i in range(1, 600, 2)], "k int, h string")
    t = Catalog(spark, str(tmp_path / "whb")).create_table(
        "default.bloomskip", df1.coalesce(1),
        properties={"lakeshed.skipping.bloom-columns": "h"},
    )
    t.append(df2.coalesce(1))
    live = t.plan_files()
    assert len(live) == 2
    assert all(a.blooms.get("h") for a in live)
    assert not any(a.dicts for a in live)  # beyond the dict cap

    # id-000100 is even → file 1 only; min/max straddle on both files
    hits = t.plan_files("h = 'id-000100'")
    assert len(hits) == 1
    assert t.scan("h = 'id-000100'").count() == 1
    # a value nobody holds prunes both files
    assert len(t.plan_files("h = 'id-999999'")) == 0
    assert t.scan("h = 'id-999999'").count() == 0
    # non-string columns never get a bloom even when listed
    t2 = Catalog(spark, str(tmp_path / "whb2")).create_table(
        "default.bloomint",
        spark.createDataFrame([(1,)], "k int"),
        properties={"lakeshed.skipping.bloom-columns": "k"},
    )
    assert all(not a.blooms for a in t2.plan_files())


def test_partitioned_write_hash_distribution(spark, tmp_path):
    """write.distribution-mode=hash (the default for partitioned tables):
    rows cluster by partition value before the write, so file count
    tracks partition count instead of tasks × partitions; mode=none
    restores the spray-from-every-task layout."""
    from lakeshed.catalog import Catalog

    df = spark.createDataFrame(
        [(i, ["red", "green", "blue"][i % 3]) for i in range(3000)],
        "id bigint, color string",
    ).repartition(8)  # many writing tasks

    t = Catalog(spark, str(tmp_path / "whw")).create_table(
        "default.hashed", df, partition_by=("color",)
    )
    # hash mode: one owning task per color → exactly one file per dir
    assert len(t.plan_files()) == 3
    assert t.read().count() == 3000

    t2 = Catalog(spark, str(tmp_path / "whw2")).create_table(
        "default.sprayed", df, partition_by=("color",),
        properties={"lakeshed.write.distribution-mode": "none"},
    )
    # none: every task writes every color it holds → ~tasks × colors files
    assert len(t2.plan_files()) > 3
    assert t2.read().count() == 3000
    # appends follow the table property too
    t2.append(df.limit(300))
    t.append(df.limit(300))
    assert t.read().count() == t2.read().count() == 3300


def test_merge_schema_evolution_is_transactional(cat, spark):
    """A merge with evolve_schema=True that FAILS (here: the rewrite
    violates a CHECK constraint) must leave the table untouched —
    including the schema: the evolved columns ride the merge's own
    commit, never a separate add-column commit."""
    from lakeshed.table import ConstraintViolationError

    t = cat.create_table(
        "default.sevtx",
        spark.createDataFrame([(1, 5.0)], "k int, price double"),
    )
    t.add_constraint("pos", "price > 0")
    head = t.head()
    src = spark.createDataFrame(
        [(1, -1.0, "new")], "k int, price double, note string"
    )
    with pytest.raises(ConstraintViolationError):
        t.merge(src, on="k", evolve_schema=True)
    # nothing moved: no commit, no schema change
    assert t.head() == head
    assert [f.name for f in t.schema_fields()] == ["k", "price"]
    # and the successful retry evolves + merges in ONE commit
    ok = t.merge(
        spark.createDataFrame([(1, 2.0, "new")],
                              "k int, price double, note string"),
        on="k", evolve_schema=True,
    )
    assert ok.version == head + 1
    assert ok.summary.get("evolved-columns") == "note"
    assert {(r.k, r.price, r.note) for r in t.read().collect()} == {
        (1, 2.0, "new")
    }


def test_create_time_constraints_bind_from_row_one(cat, spark):
    """CHECK constraints handed in as CREATE-time properties enforce the
    INITIAL load too — a violating first write aborts the create's data
    commit instead of slipping in unvalidated."""
    from lakeshed.table import ConstraintViolationError

    with pytest.raises(ConstraintViolationError):
        cat.create_table(
            "default.ctc_bad",
            spark.createDataFrame([(1, -5.0)], "k int, price double"),
            properties={"lakeshed.constraint.pos": "price > 0"},
        )
    t = cat.create_table(
        "default.ctc_ok",
        spark.createDataFrame([(1, 5.0)], "k int, price double"),
        properties={"lakeshed.constraint.pos": "price > 0"},
    )
    assert t.constraints() == {"pos": "price > 0"}
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(2, -1.0)], "k int, price double"))


def test_manifests_numeric_partition_bounds(cat, spark):
    """partition_summaries must order numeric partition values
    numerically: with values 2..15, lexicographic min/max would report
    lower='10' > upper='9'."""
    df = spark.createDataFrame(
        [(i, i % 14 + 2) for i in range(100)], "id bigint, grp int"
    )
    t = cat.create_table("default.manum", df, partition_by=("grp",))
    rows = t.manifests().collect()
    s = {x.field: (x.lower_bound, x.upper_bound)
         for r in rows for x in r.partition_summaries}
    assert s["grp"] == ("2", "15")


def test_field_ids_never_reused_after_drop(cat, spark):
    """Field ids must be allocated from the max id across ALL schema
    versions (Iceberg-style), never just the current one: reusing a
    dropped column's id would make field-id projection read old files'
    dropped-column DATA as the newly added column instead of NULL —
    silent corruption after an add/drop/add sequence (ADVICE r6)."""
    t = cat.create_table(
        "default.fid",
        spark.createDataFrame([(1, "secret")], "k int, c1 string"),
    )
    c1_id = next(f.id for f in t.schema_fields() if f.name == "c1")
    t.drop_column("c1")

    # add_column path: fresh id, old file reads NULL (not 'secret')
    t.add_column("c2", "string")
    c2_id = next(f.id for f in t.schema_fields() if f.name == "c2")
    assert c2_id > c1_id
    assert [r.c2 for r in t.read().collect()] == [None]

    # merge-evolve path: same contract after ANOTHER drop
    t.drop_column("c2")
    src = spark.createDataFrame([(2, "fresh")], "k int, c3 string")
    t.merge(src, on="k", evolve_schema=True)
    c3_id = next(f.id for f in t.schema_fields() if f.name == "c3")
    assert c3_id > c2_id > c1_id
    assert {r.k: r.c3 for r in t.read().collect()} == {1: None, 2: "fresh"}


def test_compact_sort_clusters_on_partitioned_table(spark, tmp_path):
    """compact(sort_by) on a PARTITIONED table must keep its range
    clustering: _write_files' default hash distribution would re-shuffle
    the repartitionByRange+sortWithinPartitions output by partition value
    and silently destroy the per-file min/max narrowing the operation
    promises (ADVICE r6 — prior tests only covered unpartitioned)."""
    from pyspark.sql import functions as F

    from lakeshed.catalog import Catalog

    df = (
        spark.range(0, 20_000)
        .select(
            (F.col("id") % 2).cast("string").alias("p"),
            F.xxhash64("id").alias("k"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    t = Catalog(spark, str(tmp_path / "whpc")).create_table(
        "default.pzt", df, partition_by=("p",)
    )
    probe = "k >= 0 AND k < 1000000000000000000"  # ~5% of int64 range

    t.compact(target_size_bytes=16 * 1024, sort_by="k")
    after_all = len(t.plan_files())
    after_hit = len(t.plan_files(probe))
    assert after_all >= 8
    # range-clustered: the 5%-range probe prunes to a few files; a
    # partition-value re-shuffle would make every file span the full range
    assert after_hit <= max(2, after_all // 4)
    assert t.read().count() == 20_000
    assert t.read().where(probe).count() == df.where(probe).count()

    # size-only compaction on a partitioned table delegates to the hash
    # distribution: file count tracks partitions, not a repartition(n)
    t.compact(target_size_bytes=1024 * 1024 * 1024)
    assert len(t.plan_files()) == 2
    assert t.read().count() == 20_000


def test_sql_router_namedarg_call_procedures(cat, nation):
    """D17/D18 named-arg CALL forms — the verbatim notebook cells
    (Table Maintenance Spark Procedures.ipynb cells 9/13): catalog-prefixed
    procedure names (``demo.system.``), ``name => value`` arrows, a
    ``TIMESTAMP '...'`` literal, and an ``options => map(...)`` literal."""
    cat.create_database("nyc")
    t = cat.create_table("nyc.taxis_sample", nation)
    for _ in range(3):
        t.append(nation.limit(2))
    files_before = t.files().count()

    out = cat.sql(
        "CALL demo.system.rewrite_data_files(table => 'nyc.taxis_sample', "
        "options => map('target-file-size-bytes','52428800'))"
    )
    row = out.first()
    assert row["rewritten_data_files_count"] == files_before
    assert row["added_data_files_count"] >= 1
    assert t.read().count() == nation.count() + 6

    # expire everything older than "now" but retain the last snapshot —
    # exactly the notebook's post-compaction cleanup cell. The literal
    # must be UTC: naive TIMESTAMP literals are interpreted as UTC, so a
    # local-time string would silently shift the cutoff on any host not
    # running UTC.
    import time as _time
    from datetime import datetime, timezone

    # derive the cutoff from the HEAD commit's own timestamp (+1 ms) so
    # every commit is strictly older than it regardless of how fast the
    # test ran — the old wall-clock literal truncated to whole seconds
    # and flaked whenever the whole test fit inside one second (which
    # the r11 O(1) commit path made routine)
    head_ts = t._read_commit(t.head()).timestamp_ms
    now_str = datetime.fromtimestamp(
        (head_ts + 1) / 1000, timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    out = cat.sql(
        "CALL demo.system.expire_snapshots(table => 'nyc.taxis_sample', "
        f"older_than => TIMESTAMP '{now_str}', retain_last => 1)"
    )
    assert out.first()["deleted_snapshots_count"] >= 1
    assert t.snapshots().count() == 1
    assert t.read().count() == nation.count() + 6

    # positional forms still route (Integrated Audits Demo.ipynb cell 52)
    t.append(nation.limit(1))
    ms = int(_time.time() * 1000) + 1000
    out = cat.sql(f"CALL system.expire_snapshots('nyc.taxis_sample', {ms}, 1)")
    assert out.first()["deleted_snapshots_count"] == 1

    # sort-strategy named form clusters the rewrite
    out = cat.sql(
        "CALL demo.system.rewrite_data_files(table => 'nyc.taxis_sample', "
        "strategy => 'sort', sort_order => 'n_nationkey')"
    )
    assert out.first()["added_data_files_count"] >= 1
    head = t._read_commit(t.head())
    assert head.summary.get("sort-by") == "n_nationkey"
    assert head.summary.get("distribution") == "none"


def test_sql_merge_into_matches_api_merge(cat, spark):
    """W5/W6 — MERGE INTO SQL text ≡ the API merge on the changelog
    fixture: UPDATE SET * / conditional DELETE / INSERT *, including the
    within-batch netting caveat (the SQL source here is pre-deduped per
    key, the shape a Spark MERGE requires)."""
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k int, name string, v int",
    )
    src_rows = [(2, "b2", 21, "U"), (3, "c", 30, "D"), (4, "d", 40, "I")]
    src = spark.createDataFrame(src_rows, "k int, name string, v int, op string")

    cat.create_database("db")
    t_sql = cat.create_table("db.target_sql", base)
    t_api = cat.create_table("db.target_api", base)
    src.createOrReplaceTempView("changes")

    cat.sql("""
        MERGE INTO db.target_sql AS t
        USING changes AS c
        ON t.k = c.k
        WHEN MATCHED AND c.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT *
    """)
    t_api.merge(
        src, on="k",
        when_matched_update="*",
        when_matched_delete="op = 'D'",
        when_not_matched_insert="op <> 'D'",
    )
    got = sorted(map(tuple, t_sql.read().select("k", "name", "v").collect()))
    want = sorted(map(tuple, t_api.read().select("k", "name", "v").collect()))
    assert got == want == [(1, "a", 10), (2, "b2", 21), (4, "d", 40)]


def test_sql_merge_into_subquery_source_and_assignments(cat, spark):
    """MERGE variants: parenthesized SELECT source, explicit SET
    assignments with expressions over both aliases, and a conditional
    UPDATE (compiled to CASE WHEN so unmatched-condition rows keep their
    target values)."""
    base = spark.createDataFrame(
        [(1, 100, "keep"), (2, 200, "keep"), (3, 300, "keep")],
        "k int, v int, tag string",
    )
    src = spark.createDataFrame(
        [(1, 5, True), (2, 7, False), (9, 9, True)],
        "k int, delta int, apply boolean",
    )
    cat.create_database("db")
    t = cat.create_table("db.tgt", base)
    src.createOrReplaceTempView("deltas")

    cat.sql("""
        MERGE INTO db.tgt
        USING (SELECT k, delta, apply FROM deltas) AS d
        ON db.tgt.k = d.k
        WHEN MATCHED AND d.apply THEN UPDATE SET v = db.tgt.v + d.delta,
                                                  tag = 'bumped'
    """)
    got = {r.k: (r.v, r.tag) for r in t.read().collect()}
    assert got[1] == (105, "bumped")     # condition true: updated
    assert got[2] == (200, "keep")       # condition false: untouched
    assert got[3] == (300, "keep")       # unmatched target: untouched
    assert 9 not in got                  # no INSERT clause: source-only row
    assert len(got) == 3


def test_catalog_qualified_three_part_names(cat, nation):
    """The reference notebooks address tables catalog-qualified
    (``demo.nyc.taxis_sample`` — Table Maintenance Spark Procedures
    .ipynb creates and CALLs with that exact name). The Catalog instance
    is the catalog, so the leading part resolves to the same table."""
    cat.create_database("nyc")
    cat.sql("""
        CREATE TABLE demo.nyc.taxis_sample (
            VendorID BIGINT, fare DOUBLE
        ) USING iceberg
    """)
    t = cat.table("nyc.taxis_sample")          # 2-part sees the 3-part DDL
    t.insert_values((1, 9.5))
    assert cat.sql(
        "SELECT count(*) AS c FROM nyc.taxis_sample"
    ).first()["c"] == 1
    out = cat.sql(
        "CALL demo.system.rewrite_data_files(table => 'demo.nyc.taxis_sample')"
    )
    assert out.first()["added_data_files_count"] >= 1


def test_sql_ctas_and_insert_overwrite(cat, nation):
    """W1 SQL twin (CREATE TABLE ... AS SELECT, with PARTITIONED BY and
    TBLPROPERTIES) and atomic INSERT OVERWRITE — one commit swaps the
    live set; the pre-overwrite snapshot stays time-travel readable."""
    cat.create_database("nyc")
    cat.create_table("nyc.src", nation)
    cat.sql("""
        CREATE TABLE nyc.big_nations
        USING lakeshed
        PARTITIONED BY (n_regionkey)
        TBLPROPERTIES ('owner'='etl')
        AS SELECT * FROM nyc.src WHERE n_nationkey >= 10
    """)
    t = cat.table("nyc.big_nations")
    want = nation.where("n_nationkey >= 10").count()
    assert t.read().count() == want
    assert t.properties().get("owner") == "etl"
    spec = t._read_commit(t.head()).partition_spec
    assert any("n_regionkey" in p for p in spec)
    v0 = t.head()

    # IF NOT EXISTS on an existing table: silent no-op, state unchanged
    cat.sql("CREATE TABLE IF NOT EXISTS nyc.big_nations AS "
            "SELECT * FROM nyc.src")
    assert t.read().count() == want

    cat.sql("INSERT OVERWRITE nyc.big_nations "
            "SELECT * FROM nyc.src WHERE n_nationkey < 5")
    assert t.read().count() == nation.where("n_nationkey < 5").count()
    # exactly ONE commit; the old snapshot still reads in full
    assert t.head() == v0 + 1
    assert t.read(version=v0).count() == want


def test_sql_alter_drop_column(cat, nation):
    """ALTER TABLE ... DROP COLUMN routes to the field-id drop: the
    column disappears from reads, old data stays readable, and a
    re-added column with the same NAME gets a fresh field id (never
    resurrects the dropped column's values)."""
    t = cat.create_table("default.dropcol", nation)
    cat.sql("ALTER TABLE default.dropcol DROP COLUMN n_regionkey")
    assert t.read().columns == ["n_nationkey", "n_name"]
    assert t.read().count() == nation.count()
    cat.sql("ALTER TABLE default.dropcol ADD COLUMN n_regionkey bigint")
    assert t.read().where(F.col("n_regionkey").isNotNull()).count() == 0


def test_sql_merge_into_unaliased_source_and_alias_collision(cat, spark):
    """MERGE parsing hardening: (a) an unaliased named source is
    addressable by its own name in conditions; (b) a target aliased
    literally 's' with a source aliased 't' (the canonical prefixes,
    swapped) must not cascade during alias normalization."""
    base = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    src = spark.createDataFrame([(2, 99), (5, 50)], "k int, v int")
    cat.create_database("db")
    src.createOrReplaceTempView("changes")

    cat.create_table("db.t1", base)
    cat.sql("""
        MERGE INTO db.t1 USING changes
        ON db.t1.k = changes.k
        WHEN MATCHED THEN UPDATE SET v = changes.v
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert {r.k: r.v for r in cat.table("db.t1").read().collect()} == \
        {1: 10, 2: 99, 5: 50}

    cat.create_table("db.t2", base)
    cat.sql("""
        MERGE INTO db.t2 AS s USING changes AS t
        ON s.k = t.k
        WHEN MATCHED THEN UPDATE SET v = s.v + t.v
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert {r.k: r.v for r in cat.table("db.t2").read().collect()} == \
        {1: 10, 2: 119, 5: 50}


def test_review_fixes_round8(cat, nation, spark):
    """Regression pins for the round-8 review findings: DROP COLUMN
    case-sensitivity + unknown-column error, catalog-qualified SELECT,
    INSERT OVERWRITE honoring the WAP pin, standard-SQL scope for a
    conditional MERGE DELETE, and CTAS IF-NOT-EXISTS anchoring."""
    cat.create_database("nyc")
    cat.sql("CREATE TABLE demo.nyc.cased (VendorID BIGINT, fare DOUBLE)")
    t = cat.table("nyc.cased")
    t.insert_values((7, 1.25))

    # catalog-qualified SELECT resolves like the write path
    assert cat.sql(
        "SELECT count(*) AS c FROM demo.nyc.cased"
    ).first()["c"] == 1

    # mixed-case column drops; a wrong-case name raises, never a silent
    # no-op commit
    head = t.head()
    with pytest.raises(TableError):
        cat.sql("ALTER TABLE nyc.cased DROP COLUMN vendorid")
    assert t.head() == head
    cat.sql("ALTER TABLE nyc.cased DROP COLUMN VendorID")
    assert t.read().columns == ["fare"]

    # CTAS IF NOT EXISTS must be the statement prefix, not a substring of
    # the SELECT: this plain CTAS on an existing table raises
    cat.sql("CREATE TABLE nyc.src2 AS SELECT n_name FROM nyc.cased, "
            "(SELECT 1) WHERE 'if not exists' = 'if not exists'"
            .replace("n_name", "fare"))
    with pytest.raises(TableError):
        cat.sql("CREATE TABLE nyc.src2 AS SELECT fare FROM nyc.cased "
                "WHERE 'x' <> 'if not exists'")

    # INSERT OVERWRITE stages under a pinned wap.id instead of swapping
    # main directly
    t2 = cat.create_table("nyc.wap_ow", nation)
    n0 = t2.read().count()
    t2.set_properties(**{"write.wap.enabled": "true"})
    cat.set_conf("spark.wap.id", "ow-audit")
    cat.sql("INSERT OVERWRITE nyc.wap_ow SELECT * FROM nyc.wap_ow "
            "WHERE n_nationkey < 3")
    assert t2.read().count() == n0          # main untouched until publish
    staged = t2.snapshots().where(
        F.col("summary")["wap.id"] == "ow-audit").first()
    assert staged is not None
    t2.cherrypick_snapshot(staged.snapshot_id)
    assert t2.read().count() == 3
    cat.set_conf("spark.wap.id", None)

    # SQL MERGE: a matched-DELETE condition must not suppress unmatched
    # inserts (standard clause scoping), unlike the changelog API default
    base = spark.createDataFrame([(1, "a", "U")],
                                 "k int, v string, op string")
    t3 = cat.create_table("nyc.scope", base)
    spark.createDataFrame(
        [(9, "new", "D")], "k int, v string, op string"
    ).createOrReplaceTempView("scope_src")
    cat.sql("""
        MERGE INTO nyc.scope t USING scope_src s ON t.k = s.k
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.k for r in t3.read().collect()}
    assert got == {1, 9}                     # 9 inserted despite op='D'
    # ... while the API changelog contract still nets it out
    t4 = cat.create_table("nyc.scope_api", base)
    t4.merge(
        spark.table("scope_src"), on="k",
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert="*",
    )
    assert {r.k for r in t4.read().collect()} == {1}


def test_merge_not_matched_by_source_delete(cat, spark):
    """Spark 4 / Delta WHEN NOT MATCHED BY SOURCE THEN DELETE: the
    full-sync merge. API semantics + predicate scoping + the scale
    contract (files the predicate excludes are never rewritten)."""
    def chunk(lo, hi):
        return spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, hi)], "k int, payload string"
        ).coalesce(1)

    # --- unconditional full sync ---
    t = cat.create_table("default.sync", chunk(0, 5))
    src = spark.createDataFrame(
        [(2, "two"), (7, "seven")], "k int, payload string"
    )
    c = t.merge(
        src, on="k",
        when_matched_update="*",
        when_not_matched_insert="*",
        when_not_matched_by_source_delete="true",
    )
    got = {r.k: r.payload for r in t.read().collect()}
    assert got == {2: "two", 7: "seven"}   # mirror of the source

    # --- predicate-scoped: untouched files stay out of the rewrite ---
    t2 = cat.create_table("default.sync2", chunk(0, 10))
    t2.append(chunk(100, 110))
    t2.append(chunk(200, 210))
    files_before = {f.path for f in t2._state(t2.head())[1]}
    src2 = spark.createDataFrame([(105, "kept")], "k int, payload string")
    c2 = t2.merge(
        src2, on="k",
        when_matched_update="*",
        when_not_matched_insert=None,
        when_not_matched_by_source_delete="k >= 100 AND k <= 120",
    )
    # rows: 100..104,106..109 deleted (unmatched, in range); 105 updated;
    # 0..9 and 200..209 untouched
    got = {r.k: r.payload for r in t2.read().collect()}
    assert got[105] == "kept"
    assert all(k not in got for k in range(100, 105))
    assert all(k in got for k in range(0, 10))
    assert all(k in got for k in range(200, 210))
    assert len(got) == 21
    # only the 100-file was rewritten: the 0-file and 200-file survive
    untouched = {p for p in files_before if p in
                 {f.path for f in t2._state(t2.head())[1]}}
    assert len(untouched) == 2
    assert c2.summary.get("by-source-files", 0) == 0  # 100-file was a HIT
    assert c2.summary["matched-files"] == 1

    # by-source-only file rewrite (no key match in it): source hits
    # nothing, predicate touches one file
    c3 = t2.merge(
        spark.createDataFrame([], "k int, payload string"), on="k",
        when_matched_update="*",
        when_not_matched_insert=None,
        when_not_matched_by_source_delete="k >= 200",
    )
    assert c3.summary["matched-files"] == 0
    assert c3.summary["by-source-files"] == 1
    got = {r.k for r in t2.read().collect()}
    assert all(k not in got for k in range(200, 210))
    assert all(k in got for k in range(0, 10))


def test_sql_merge_not_matched_by_source(cat, spark):
    """The SQL full-sync statement end to end, with a target-column
    condition; a source-column reference in the BY SOURCE condition is
    rejected."""
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    cat.create_database("db")
    t = cat.create_table("db.fullsync", base)
    spark.createDataFrame([(2, "b2"), (9, "i")], "k int, v string") \
        .createOrReplaceTempView("sync_src")
    cat.sql("""
        MERGE INTO db.fullsync t USING sync_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.k > 1 THEN DELETE
    """)
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "a", 2: "b2", 9: "i"}   # 3 deleted, 1 kept by cond

    with pytest.raises(TableError, match="source columns"):
        cat.sql("""
            MERGE INTO db.fullsync t USING sync_src s ON t.k = s.k
            WHEN NOT MATCHED BY SOURCE AND s.v = 'x' THEN DELETE
        """)


def test_show_create_table_roundtrip(cat, spark):
    """SHOW CREATE TABLE emits DDL that re-executes through the router
    into an equivalent table (schema, partition spec, properties)."""
    cat.create_database("nyc")
    cat.sql("""
        CREATE TABLE nyc.ddl_rt (
            id bigint, borough string, issued timestamp
        ) USING lakeshed
        PARTITIONED BY (days(issued))
        TBLPROPERTIES ('write.wap.enabled'='true')
    """)
    stmt = cat.sql("SHOW CREATE TABLE nyc.ddl_rt").first()["createtab_stmt"]
    assert "PARTITIONED BY" in stmt and "days(issued)" in stmt
    clone_stmt = stmt.replace("nyc.ddl_rt", "nyc.ddl_rt2")
    cat.sql(clone_stmt)
    a, b = cat.table("nyc.ddl_rt"), cat.table("nyc.ddl_rt2")
    assert [(f.name, f.type) for f in a.schema_fields()] == \
        [(f.name, f.type) for f in b.schema_fields()]
    ca = a._read_commit(a.head())
    cb = b._read_commit(b.head())
    assert ca.partition_spec == cb.partition_spec
    assert cb.properties.get("write.wap.enabled") == "true"


def test_merge_not_matched_by_source_update(cat, spark):
    """BY SOURCE UPDATE — the soft-delete pattern: target-only rows get
    assignments applied (API + SQL), matched rows keep MERGE semantics,
    DELETE-then-UPDATE ordering holds when both clauses appear, and the
    condition bounds the rewrite file set."""
    base = spark.createDataFrame(
        [(1, "a", True), (2, "b", True), (3, "c", True)],
        "k int, v string, active boolean",
    )
    src = spark.createDataFrame(
        [(2, "b2", True)], "k int, v string, active boolean"
    )
    # --- API: unconditional soft delete of unmatched rows ---
    t = cat.create_table("default.soft", base)
    t.merge(
        src, on="k",
        when_matched_update="*",
        when_not_matched_insert=None,
        when_not_matched_by_source_update={"active": "false"},
    )
    got = {r.k: (r.v, r.active) for r in t.read().collect()}
    assert got == {1: ("a", False), 2: ("b2", True), 3: ("c", False)}

    # --- SQL: condition + assignment referencing target columns ---
    t2 = cat.create_table("default.soft2", base)
    src.createOrReplaceTempView("soft_src")
    cat.sql("""
        MERGE INTO default.soft2 t USING soft_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND t.k > 1
            THEN UPDATE SET active = false, v = concat(t.v, '-stale')
    """)
    got = {r.k: (r.v, r.active) for r in t2.read().collect()}
    assert got == {1: ("a", True),            # condition false: untouched
                   2: ("b2", True),           # matched: normal update
                   3: ("c-stale", False)}     # unmatched + cond: soft-deleted

    # --- both by-source clauses: DELETE first, UPDATE on survivors ---
    t3 = cat.create_table("default.soft3", base)
    cat.sql("""
        MERGE INTO default.soft3 t USING soft_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET active = false
    """)
    got = {r.k: (r.v, r.active) for r in t3.read().collect()}
    assert got == {1: ("a", False), 2: ("b2", True)}   # 3 deleted

    # --- condition prunes the by-source rewrite file set ---
    def chunk(lo, hi):
        return spark.createDataFrame(
            [(i, f"v{i}", True) for i in range(lo, hi)],
            "k int, v string, active boolean",
        ).coalesce(1)
    t4 = cat.create_table("default.soft4", chunk(0, 10))
    t4.append(chunk(200, 210))
    files_before = {f.path for f in t4._state(t4.head())[1]}
    t4.merge(
        spark.createDataFrame([], "k int, v string, active boolean"),
        on="k",
        when_matched_update="*",
        when_not_matched_insert=None,
        when_not_matched_by_source_update={"active": "false"},
        when_not_matched_by_source_condition="k >= 200",
    )
    after = {f.path for f in t4._state(t4.head())[1]}
    assert len(files_before & after) == 1     # 0..9 file untouched
    got = {r.k: r.active for r in t4.read().collect()}
    assert all(got[k] for k in range(0, 10))
    assert not any(got[k] for k in range(200, 210))


def test_sql_merge_multi_column_key_and_three_part_target(cat, spark):
    """MERGE parser edges: composite ON keys (both orders of the
    equality) and a catalog-qualified 3-part target name."""
    base = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 20), (2, "x", 30)],
        "a int, b string, v int",
    )
    cat.create_database("db")
    t = cat.create_table("db.multikey", base)
    spark.createDataFrame(
        [(1, "y", 99), (3, "z", 70)], "a int, b string, v int"
    ).createOrReplaceTempView("mk_src")
    cat.sql("""
        MERGE INTO demo.db.multikey t USING mk_src s
        ON t.a = s.a AND s.b = t.b
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {(r.a, r.b): r.v for r in t.read().collect()}
    assert got == {(1, "x"): 10, (1, "y"): 99, (2, "x"): 30, (3, "z"): 70}


def test_sql_update_where_inside_string_literal(cat, spark):
    """The UPDATE route must not split at a WHERE that lives inside a
    string literal — quote-aware scan, not a lazy regex."""
    t = cat.create_table(
        "default.strlit",
        spark.createDataFrame([(1, "x"), (2, "y")], "k int, msg string"),
    )
    cat.sql("UPDATE default.strlit SET msg = 'a where b' WHERE k = 1")
    got = {r.k: r.msg for r in t.read().collect()}
    assert got == {1: "a where b", 2: "y"}
    # no WHERE at all still updates every row
    cat.sql("UPDATE default.strlit SET msg = 'all'")
    assert {r.msg for r in t.read().collect()} == {"all"}


def test_sql_merge_parser_formatting_invariance(cat, spark, monkeypatch):
    """The MERGE regexes must be invariant to keyword case and
    whitespace/newline layout: 40 randomized reformattings of one
    canonical statement must all parse to the identical merge() call
    (merge stubbed — parse-only, no jobs)."""
    import random

    base = spark.createDataFrame([(1, "a", "U")],
                                 "k int, v string, op string")
    cat.create_database("db")
    cat.create_table("db.fmt", base)
    spark.createDataFrame([(2, "b", "D")], "k int, v string, op string") \
        .createOrReplaceTempView("fmt_src")

    calls = []

    def ws(v):
        # SQL whitespace inside expressions is insignificant — compare
        # the parse modulo interior spacing (no literals contain spaces
        # in this fixture)
        return " ".join(v.split()) if isinstance(v, str) else v

    def spy(self, source, on, **kw):
        calls.append((tuple(on) if isinstance(on, list) else (on,),
                      ws(kw.get("when_matched_update")),
                      ws(kw.get("when_matched_delete")),
                      ws(kw.get("when_not_matched_insert")),
                      ws(kw.get("when_not_matched_by_source_delete"))))

    monkeypatch.setattr(LakeTable, "merge", spy)

    tokens = ("MERGE INTO db.fmt AS t USING fmt_src AS c "
              "ON t.k = c.k "
              "WHEN MATCHED AND c.op = 'D' THEN DELETE "
              "WHEN MATCHED THEN UPDATE SET * "
              "WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT * "
              "WHEN NOT MATCHED BY SOURCE THEN DELETE").split(" ")
    rng = random.Random(42)
    for trial in range(40):
        parts = []
        for tok in tokens:
            if "'" not in tok and "." not in tok and rng.random() < 0.5:
                tok = tok.lower() if rng.random() < 0.5 else tok.upper()
            parts.append(tok)
            parts.append(rng.choice([" ", "  ", "\n", "\n  ", " \t"]))
        cat.sql("".join(parts))
    assert len(calls) == 40
    assert len(set(map(repr, calls))) == 1, set(map(repr, calls))
    keys, upd, dele, ins, bysrc = calls[0]
    assert keys == ("k",)
    assert upd == "*"
    assert dele == "s.op = 'D'"
    assert ins == "s.op <> 'D'"
    assert bysrc == "true"


def test_sql_call_namedarg_order_invariance(cat, nation, monkeypatch):
    """Named-arg CALL: argument order, catalog prefixes, keyword case,
    and arrow spacing are all insignificant — every permutation
    dispatches the identical expire_snapshots call (stubbed)."""
    import itertools

    cat.create_database("nyc")
    cat.create_table("nyc.t", nation)
    calls = []
    monkeypatch.setattr(
        LakeTable, "expire_snapshots",
        lambda self, **kw: (calls.append(kw), [])[1],
    )
    args = ["table => 'nyc.t'",
            "older_than => TIMESTAMP '2024-06-01 00:00:00.000'",
            "retain_last => 2"]
    for perm in itertools.permutations(args):
        for prefix in ("", "system.", "demo.system."):
            cat.sql(f"CALL {prefix}expire_snapshots({', '.join(perm)})")
    assert len(calls) == 18
    assert all(c == calls[0] for c in calls)
    assert calls[0]["retain_last"] == 2
    assert calls[0]["older_than_ms"] == 1717200000000


def test_select_table_name_inside_string_literal_is_data(cat, nation):
    """A table name appearing inside a string literal in a SELECT must
    stay literal text — the view rewrite only touches relation
    references outside quotes."""
    cat.create_database("nyc")
    cat.create_table("nyc.taxis", nation)
    row = cat.sql(
        "SELECT 'nyc.taxis' AS src, count(*) AS c FROM nyc.taxis"
    ).first()
    assert row["src"] == "nyc.taxis"
    assert row["c"] == nation.count()


def test_select_branch_suffix_relation(cat, nation):
    """S6 — the WAP notebook's branch-suffix relation form
    (``SELECT * FROM nyc.permits.branch_etl_job_42``, WAP...ipynb:294)
    reads the branch-pinned snapshot while the bare name reads main."""
    cat.create_database("nyc")
    t = cat.create_table("nyc.permits", nation)
    n0 = nation.count()
    t.create_branch("etl_job_42")
    t.append(nation.limit(4), branch="etl_job_42")
    assert cat.sql(
        "SELECT count(*) AS c FROM nyc.permits.branch_etl_job_42"
    ).first()["c"] == n0 + 4
    assert cat.sql(
        "SELECT count(*) AS c FROM nyc.permits"
    ).first()["c"] == n0


def test_wap_branch_pin_scopes_dml_and_reads(cat, nation):
    """WAP...ipynb cells 18-35 end to end: with spark.wap.branch set,
    DML (the notebook's DELETE) lands on the staged branch and plain
    SELECTs read it; VERSION AS OF 'main' / unsetting the pin both show
    the untouched table; publishing via fast-forward of main makes the
    change visible to everyone."""
    cat.create_database("nyc")
    t = cat.create_table("nyc.permits", nation)
    n0 = nation.count()
    victims = nation.where("n_regionkey = 1").count()
    assert 0 < victims < n0
    t.create_branch("etl_job_42")
    cat.set_conf("spark.wap.branch", "etl_job_42")

    cat.sql("DELETE FROM nyc.permits WHERE n_regionkey = 1")

    # pin redirects plain reads to the staged branch (cell 25)
    assert cat.sql("SELECT count(*) AS c FROM nyc.permits").first()["c"] \
        == n0 - victims
    # ...equivalently via the branch-suffix relation (cell 29)
    assert cat.sql(
        "SELECT count(*) AS c FROM nyc.permits.branch_etl_job_42"
    ).first()["c"] == n0 - victims
    # main is untouched (cell 32)
    assert cat.sql(
        "SELECT count(*) AS c FROM nyc.permits VERSION AS OF 'main'"
    ).first()["c"] == n0
    # unsetting the pin restores main reads (cell 35)
    cat.set_conf("spark.wap.branch", None)
    assert cat.sql("SELECT count(*) AS c FROM nyc.permits").first()["c"] \
        == n0
    # publish: cherry-pick the staged delete onto main
    staged_head = t.branches()["etl_job_42"]
    t.cherrypick_snapshot(staged_head)
    assert cat.sql("SELECT count(*) AS c FROM nyc.permits").first()["c"] \
        == n0 - victims


def test_notebook_edge_sql_shapes(cat, spark):
    """The last notebook SQL shapes not covered by the lifecycle tests:
    a dotted CREATE DATABASE (Berlin Buzzwords cell 4 — Iceberg
    multi-level namespace quirk; must not break the later nyc.taxis
    table), INSERT VALUES with ISO-8601 timestamp strings into a
    timestamp column (Integrated Audits cell 44), and DELETE with a
    LIKE predicate (WAP cell 64)."""
    cat.sql("CREATE DATABASE IF NOT EXISTS nyc.taxis;")
    cat.sql("CREATE TABLE nyc.taxis (VendorID bigint, fare double, "
            "ts timestamp)")
    cat.sql("INSERT INTO nyc.taxis VALUES (1, 9.5, "
            "'2021-11-24T23:00:00.000')")
    row = cat.sql("SELECT * FROM nyc.taxis").first()
    assert row["VendorID"] == 1 and row["ts"].year == 2021

    cat.sql("CREATE TABLE nyc.permits (borough string, cnt int)")
    cat.table("nyc.permits").insert_values(("Manhattan", 1), ("Queens", 2))
    cat.sql("DELETE FROM nyc.permits WHERE borough LIKE 'Man%'")
    assert [r.borough for r in
            cat.sql("SELECT borough FROM nyc.permits").collect()] == ["Queens"]
    cat.sql("DELETE FROM nyc.permits WHERE borough LIKE '%'")
    assert cat.sql("SELECT count(*) AS c FROM nyc.permits").first()["c"] == 0


def test_review_fixes_round8_wave2(cat, nation, spark):
    """Second review wave: NULL three-valued logic in every DELETE
    predicate, MERGE under the wap.branch pin, BY TARGET synonym,
    branch auto-create for pinned DML, literal-safe branch-suffix
    detection, by-source assignment validation, and SHOW CREATE
    round-trip with embedded quotes."""
    cat.create_database("db")

    # --- NULL conditions never delete (plain DELETE + by-source) ---
    t = cat.create_table(
        "db.nulls",
        spark.createDataFrame(
            [(1, "old"), (2, None), (3, "new")], "k int, status string"
        ),
    )
    cat.sql("DELETE FROM db.nulls WHERE status = 'old'")
    assert {r.k for r in t.read().collect()} == {2, 3}   # NULL row kept

    t2 = cat.create_table(
        "db.nulls2",
        spark.createDataFrame(
            [(1, "x", "old"), (2, "y", None)], "k int, v string, tag string"
        ),
    )
    spark.createDataFrame([(9, "z", "t")], "k int, v string, tag string") \
        .createOrReplaceTempView("w2_src")
    cat.sql("""
        MERGE INTO db.nulls2 t USING w2_src s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE AND t.tag = 'old' THEN DELETE
    """)
    assert {r.k for r in t2.read().collect()} == {2}     # NULL-tag kept

    # --- WHEN NOT MATCHED BY TARGET THEN INSERT (Spark 4 spelling) ---
    t3 = cat.create_table(
        "db.bytgt", spark.createDataFrame([(1, "a")], "k int, v string")
    )
    spark.createDataFrame([(2, "b")], "k int, v string") \
        .createOrReplaceTempView("bt_src")
    cat.sql("""
        MERGE INTO db.bytgt t USING bt_src s ON t.k = s.k
        WHEN NOT MATCHED BY TARGET THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
    """)
    assert {r.k: r.v for r in t3.read().collect()} == {2: "b"}

    # --- MERGE respects the spark.wap.branch pin ---
    t4 = cat.create_table(
        "db.wapmerge", spark.createDataFrame([(1, "a")], "k int, v string")
    )
    cat.set_conf("spark.wap.branch", "stage_1")          # branch not created:
    spark.createDataFrame([(1, "a2"), (5, "e")], "k int, v string") \
        .createOrReplaceTempView("wm_src")
    cat.sql("""
        MERGE INTO db.wapmerge t USING wm_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    # auto-created by the pin; main untouched, branch has the merge
    assert {r.k: r.v for r in t4.read().collect()} == {1: "a"}
    assert {r.k: r.v for r in t4.read(branch="stage_1").collect()} == \
        {1: "a2", 5: "e"}
    cat.set_conf("spark.wap.branch", None)

    # --- literal containing .branch_x is data, not a branch read ---
    cat.create_table("db.littest", nation)
    row = cat.sql(
        "SELECT 'see db.littest.branch_old' AS note, count(*) AS c "
        "FROM db.littest"
    ).first()
    assert row["note"] == "see db.littest.branch_old"
    assert row["c"] == nation.count()

    # --- by-source UPDATE validates columns; backticks resolve ---
    t5 = cat.create_table(
        "db.bsval", spark.createDataFrame([(1, True)], "k int, active boolean")
    )
    spark.createDataFrame([(9, True)], "k int, active boolean") \
        .createOrReplaceTempView("bs_src")
    with pytest.raises(TableError, match="unknown column"):
        cat.sql("""
            MERGE INTO db.bsval t USING bs_src s ON t.k = s.k
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET activ = false
        """)
    cat.sql("""
        MERGE INTO db.bsval t USING bs_src s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.`active` = false
    """)
    assert t5.read().first()["active"] is False

    # --- SHOW CREATE round-trips quoted property values + name case ---
    cat.sql("CREATE TABLE db.Props (k int) "
            "TBLPROPERTIES ('comment'='driver''s log')")
    assert cat.table("db.Props").properties()["comment"] == "driver's log"
    stmt = cat.sql("SHOW CREATE TABLE db.Props").first()["createtab_stmt"]
    assert "db.Props" in stmt                      # case preserved
    cat.sql(stmt.replace("db.Props", "db.Props2"))
    assert cat.table("db.Props2").properties()["comment"] == "driver's log"


def test_quote_scanner_handles_escapes(cat, spark, monkeypatch):
    """Backslash-escaped and doubled quotes end no literal early: a
    WHERE inside one is data, not the UPDATE's predicate, and a table
    name inside an escaped literal stays data while the relation after
    it is rewritten."""
    cat.create_database("db")
    t = cat.create_table("db.msgs", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, msg string"))
    cat.sql(r"UPDATE db.msgs SET msg = 'don\'t stop' where k = 1")
    assert sorted((r.k, r.msg) for r in t.read().collect()) == \
        [(1, "don't stop"), (2, "b")]
    cat.sql("UPDATE db.msgs SET msg = 'it''s a where clause'")
    assert {r.msg for r in t.read().collect()} == {"it's a where clause"}

    cat.create_database("nyc")
    cat.create_table("nyc.taxis", spark.createDataFrame([(1,)], "k int"))
    sent = []
    real = type(spark).sql
    monkeypatch.setattr(type(spark), "sql", lambda self, text, *a, **kw: (
        sent.append(text), real(self, text, *a, **kw))[1])
    rows = cat.sql(r"SELECT 'it\'s nyc.taxis' FROM nyc.taxis").collect()
    assert [r[0] for r in rows] == ["it's nyc.taxis"]
    assert sent[-1] == r"SELECT 'it\'s nyc.taxis' FROM __lakeshed_nyc_taxis"


def test_review_fixes_round8_wave3(cat, nation, spark):
    """Third review wave: whitespace-tolerant SHOW CREATE, backslash
    property round-trip, pinned MERGE source reads, wap.id staging for
    every DML statement, and rollback of branches auto-created by a
    FAILED pinned statement."""
    cat.create_database("db")

    # --- SHOW CREATE tolerates newlines/extra spaces, case preserved ---
    cat.sql("CREATE TABLE db.WsTest (k int) "
            "TBLPROPERTIES ('path'='C:\\\\data')")
    stmt = cat.sql("SHOW  CREATE\n TABLE  db.WsTest").first()["createtab_stmt"]
    assert "db.WsTest" in stmt
    # backslash-bearing property round-trips through the emitted DDL
    cat.sql(stmt.replace("db.WsTest", "db.WsTest2"))
    assert cat.table("db.WsTest2").properties()["path"] == "C:\\data"

    # --- MERGE catalog-table source honors the branch pin ---
    t = cat.create_table(
        "db.tgt_ps", spark.createDataFrame([(1, "a")], "k int, v string")
    )
    src_t = cat.create_table(
        "db.src_ps", spark.createDataFrame([(1, "main")], "k int, v string")
    )
    src_t.create_branch("stage_2")
    src_t.append(spark.createDataFrame([(2, "staged")], "k int, v string"),
                 branch="stage_2")
    cat.set_conf("spark.wap.branch", "stage_2")
    cat.sql("""
        MERGE INTO db.tgt_ps t USING db.src_ps s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    # source read saw the staged row (k=2); target commit landed on the
    # pin's branch (auto-created), main untouched
    assert {r.k for r in t.read(branch="stage_2").collect()} == {1, 2}
    assert {r.k for r in t.read().collect()} == {1}
    cat.set_conf("spark.wap.branch", None)

    # --- wap.id stages UPDATE/DELETE/MERGE, not just INSERT ---
    t2 = cat.create_table(
        "db.wid", spark.createDataFrame([(1, "a"), (2, "b")],
                                        "k int, v string")
    )
    t2.set_properties(**{"write.wap.enabled": "true"})
    cat.set_conf("spark.wap.id", "audit-9")
    cat.sql("UPDATE db.wid SET v = 'a2' WHERE k = 1")
    cat.sql("DELETE FROM db.wid WHERE k = 2")
    # staged statements COMPOSE (the delete read the staged update) and
    # main is untouched until publish
    assert {r.k: r.v for r in t2.read().collect()} == {1: "a", 2: "b"}
    staged = [r for r in t2.snapshots().collect()
              if (r.summary or {}).get("wap.id") == "audit-9"]
    assert len(staged) == 2
    final = max(s.snapshot_id for s in staged)
    # publish the staged chain head: fast-forward main
    t2.rollback_to_snapshot(final)
    assert {r.k: r.v for r in t2.read().collect()} == {1: "a2"}
    cat.set_conf("spark.wap.id", None)

    # --- a FAILED pinned statement rolls back its auto-created branch ---
    t3 = cat.create_table(
        "db.noleak", spark.createDataFrame([(1,)], "k int")
    )
    cat.set_conf("spark.wap.branch", "stage_3")
    with pytest.raises(TableError):
        cat.sql("UPDATE db.noleak SET nosuch = 1")
    assert "stage_3" not in t3.branches()
    # pinned reads on the table still see main (no stale branch redirect)
    assert cat.sql("SELECT count(*) AS c FROM db.noleak").first()["c"] == 1
    cat.set_conf("spark.wap.branch", None)


def test_review_fixes_round8_wave4(cat, spark):
    """Fourth review wave: staged INSERT OVERWRITE composes with prior
    staged DML (reads the wap chain, not main), INSERT aligns to the
    pinned branch's evolved schema, and setting both WAP pins raises."""
    cat.create_database("db")

    # --- staged UPDATE then staged INSERT OVERWRITE: the swap must
    # remove the CHAIN's files; after publish only the overwrite rows
    # remain (no resurrected updated copies) ---
    t = cat.create_table(
        "db.chain", spark.createDataFrame([(1, "a"), (2, "b")],
                                          "k int, v string")
    )
    t.set_properties(**{"write.wap.enabled": "true"})
    cat.set_conf("spark.wap.id", "ow-chain")
    cat.sql("UPDATE db.chain SET v = 'a2' WHERE k = 1")
    cat.sql("INSERT OVERWRITE db.chain SELECT 9 AS k, 'only' AS v")
    staged = [r for r in t.snapshots().collect()
              if (r.summary or {}).get("wap.id") == "ow-chain"]
    assert len(staged) == 2
    t.rollback_to_snapshot(max(s.snapshot_id for s in staged))
    assert {(r.k, r.v) for r in t.read().collect()} == {(9, "only")}
    cat.set_conf("spark.wap.id", None)

    # --- INSERT under a branch pin aligns to the BRANCH schema ---
    t2 = cat.create_table(
        "db.evo", spark.createDataFrame([(1, "a")], "k int, v string")
    )
    t2.create_branch("wide")
    cat.set_conf("spark.wap.branch", "wide")
    # evolve the branch only: merge with schema evolution adds w there
    t2.merge(
        spark.createDataFrame([(2, "b", 9.5)], "k int, v string, w double"),
        on="k", evolve_schema=True, branch="wide",
    )
    cat.sql("INSERT INTO db.evo VALUES (3, 'c', 1.5)")   # 3 cols: branch
    assert {r.k: r.w for r in t2.read(branch="wide").collect()} == \
        {1: None, 2: 9.5, 3: 1.5}
    assert t2.read().columns == ["k", "v"]               # main: 2 cols
    cat.set_conf("spark.wap.branch", None)

    # --- both pins set on a wap-enabled table: explicit error ---
    t3 = cat.create_table(
        "db.bothpins", spark.createDataFrame([(1,)], "k int")
    )
    t3.set_properties(**{"write.wap.enabled": "true"})
    cat.set_conf("spark.wap.id", "x")
    cat.set_conf("spark.wap.branch", "y")
    with pytest.raises(TableError, match="both"):
        cat.sql("INSERT INTO db.bothpins VALUES (2)")
    cat.set_conf("spark.wap.id", None)
    cat.set_conf("spark.wap.branch", None)


def test_staged_insert_after_staged_schema_evolution(cat, spark):
    """Final review wave: a staged schema-evolving MERGE under wap.id
    must make its evolved schema visible to the NEXT staged INSERT's
    positional alignment (write-side schema resolver), while plain
    reads keep seeing main's 2-column schema until publish."""
    cat.create_database("db")
    t = cat.create_table(
        "db.evochain", spark.createDataFrame([(1, "a")], "k int, v string")
    )
    t.set_properties(**{"write.wap.enabled": "true"})
    t.merge(
        spark.createDataFrame([(2, "b", 9.5)], "k int, v string, w double"),
        on="k", evolve_schema=True, wap_id="evo-x",
    )
    cat.set_conf("spark.wap.id", "evo-x")
    cat.sql("INSERT INTO db.evochain VALUES (3, 'c', 1.5)")   # 3 cols
    cat.set_conf("spark.wap.id", None)
    # reads: main untouched, 2 columns
    assert t.read().columns == ["k", "v"]
    assert t.read().count() == 1
    # publish the chain: full evolved state visible
    chain_head = t.branches()["wap-evo-x"]
    t.rollback_to_snapshot(chain_head)
    assert {r.k: r.w for r in t.read().collect()} == \
        {1: None, 2: 9.5, 3: 1.5}


# --------------------------------------------------------------- r9 ADVICE


def test_merge_update_set_unknown_column_raises(cat, spark):
    """r9 ADVICE (medium): WHEN MATCHED THEN UPDATE SET with a typo'd
    column must raise, not be silently dropped by merge()'s rewrite
    projection — mirroring the NOT MATCHED BY SOURCE path."""
    cat.create_database("db")
    cat.create_table(
        "db.advise_upd", spark.createDataFrame([(1, "a")], "k int, v string")
    )
    spark.createDataFrame([(1, "b")], "k int, v string") \
        .createOrReplaceTempView("advise_src")
    with pytest.raises(TableError, match="unknown column 'vv'"):
        cat.sql(
            "MERGE INTO db.advise_upd t USING advise_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.vv = s.v"
        )
    # and the good column still works
    cat.sql(
        "MERGE INTO db.advise_upd t USING advise_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET t.v = s.v"
    )
    assert [r.v for r in cat.table("db.advise_upd").read().collect()] == ["b"]
    # case-variant of a REAL column resolves (Spark identifiers are
    # case-insensitive) instead of raising like a typo
    spark.createDataFrame([(1, "c")], "k int, v string") \
        .createOrReplaceTempView("advise_src2")
    cat.sql(
        "MERGE INTO db.advise_upd t USING advise_src2 s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET t.V = s.v"
    )
    assert [r.v for r in cat.table("db.advise_upd").read().collect()] == ["c"]


def test_catalog_prefix_strip_spares_struct_paths(cat, spark):
    """r9 ADVICE (low): only the configured catalog name ('demo') is
    stripped as a qualifier — an alias-qualified struct path like
    ``s.nyc.permits`` that happens to spell a registered table name
    must stay a column reference."""
    cat.create_database("nyc")
    cat.create_table(
        "nyc.permits", spark.createDataFrame([(99,)], "other int")
    )
    df = spark.createDataFrame(
        [((7,),)], "nyc struct<permits: int>"
    )
    df.createOrReplaceTempView("structsrc")
    out = cat.sql("SELECT s.nyc.permits AS p FROM structsrc s").collect()
    assert [r.p for r in out] == [7]
    # the demo. prefix itself still strips
    n = cat.sql("SELECT count(*) AS c FROM demo.nyc.permits").collect()[0].c
    assert n == 1


def test_call_value_unescapes_doubled_quotes(cat, spark):
    """r9 ADVICE (low): quoted CALL argument values round-trip SQL
    doubled quotes ('it''s' → it's), like TBLPROPERTIES values do."""
    cat.create_database("db")
    df = spark.createDataFrame([(1,)], "k int")
    for name in ("db.it's", "db.a'b'c"):
        cat.create_table(name, df).append(df)
    out = cat.sql("CALL system.expire_snapshots("
                  "table => 'db.it''s', retain_last => 2)")
    assert out.first()["deleted_snapshots_count"] == 0
    out = cat.sql("CALL system.rewrite_manifests('db.a''b''c')")
    assert out.first()["checkpointed_version"] == \
        cat.table("db.a'b'c").head()


def test_both_pins_raise_without_wap_enabled_property(cat, spark):
    """r9 ADVICE (low): both spark.wap.id and spark.wap.branch set must
    raise even when the table lacks write.wap.enabled — Iceberg
    validates the pins unconditionally; silently landing the DML on the
    branch drops the wap.id pin on the floor."""
    cat.create_database("db")
    t = cat.create_table(
        "db.nopins", spark.createDataFrame([(1,)], "k int")
    )
    assert "write.wap.enabled" not in t.properties()
    cat.set_conf("spark.wap.id", "x")
    cat.set_conf("spark.wap.branch", "y")
    try:
        with pytest.raises(TableError, match="both"):
            cat.sql("INSERT INTO db.nopins VALUES (2)")
    finally:
        cat.set_conf("spark.wap.id", None)
        cat.set_conf("spark.wap.branch", None)
    assert t.read().count() == 1
    assert "y" not in t.branches()


def test_both_pins_raise_even_for_branch_main(cat, spark):
    """r9 wave 2: the both-pins check is truly unconditional — even
    spark.wap.branch='main' alongside spark.wap.id raises (Iceberg
    validates the pins' presence, not their values)."""
    cat.create_database("db")
    t = cat.create_table(
        "db.mainpin", spark.createDataFrame([(1,)], "k int")
    )
    t.set_properties(**{"write.wap.enabled": "true"})
    cat.set_conf("spark.wap.id", "x")
    cat.set_conf("spark.wap.branch", "main")
    try:
        with pytest.raises(TableError, match="both"):
            cat.sql("INSERT INTO db.mainpin VALUES (2)")
    finally:
        cat.set_conf("spark.wap.id", None)
        cat.set_conf("spark.wap.branch", None)


def test_create_branch_on_uncommitted_table_typed_error(spark, tmp_path):
    """r9 wave 2: ref mutations on a never-committed table raise the
    typed TableError (not KeyError) and do NOT fabricate a log dir."""
    t = LakeTable(spark, str(tmp_path / "ghost"))
    with pytest.raises(TableError):
        t.create_branch("x")
    assert not os.path.isdir(t.log_dir)


def test_pinned_dml_conflicts_on_concurrent_advance(cat, nation):
    """r9 wave 6: mutating DML pins its commit parent to the snapshot it
    READ (Iceberg's validate-from-read-snapshot), so a concurrent commit
    landing while the statement's Spark job runs raises
    CommitConflictError via the sibling guard — instead of silently
    chaining file changes computed against stale state onto the new head
    (a lost update: the concurrent writer's deletes would resurrect).
    Fast appends (pin=False) still float onto the commit-time head."""
    t = cat.create_table("default.occ", nation)
    # the statement resolves its read snapshot + pinned commit args...
    read_v, ckw, _ = t._dml_commit_args(MAIN, None)
    assert ckw["parent"] == read_v
    # ...then a concurrent writer advances main mid-statement
    t.append(nation)
    with pytest.raises(CommitConflictError):
        t._commit("delete", [], [], **ckw)
    # re-resolve and retry lands cleanly
    read_v2, ckw2, _ = t._dml_commit_args(MAIN, None)
    assert read_v2 > read_v
    t._commit("delete", [], [], **ckw2)
    # fast append floats: commit args carry NO pinned parent
    _, ckw_a, _ = t._dml_commit_args(MAIN, None, pin=False)
    assert "parent" not in ckw_a


def test_write_after_rollback_diverges_chain(cat, nation):
    """r9 wave 8: a write AFTER rollback_to_snapshot must land (Iceberg
    semantics — the chain diverges from the rolled-back snapshot and the
    orphaned commits await expiration). The sibling guard previously
    mistook the orphaned same-parent commit for a concurrent winner and
    raised CommitConflictError on every post-rollback write."""
    small = nation.limit(3)
    t = cat.create_table("default.rbw", small)       # v0
    t.append(small)                                   # v1 (parent 0)
    t.append(small)                                   # v2 (parent 1)
    t.rollback_to_snapshot(0)
    c = t.append(small)                               # diverges from v0
    assert c.parent == 0
    assert t.read().count() == 6                      # v0 + new append
    # the orphans are ignored, the new chain walks clean
    assert [x.version for x in t._chain(t.head())][-1] == c.version


def test_pinned_dml_conflicts_with_concurrent_publish(cat, nation):
    """r9 wave 8: the ref update is a CAS against where the statement
    resolved it — a fast_forward publish landing while a pinned DML's
    job runs moves the ref WITHOUT a same-branch commit (invisible to
    the sibling guard), and a blind setitem would clobber the publish,
    resurrecting pre-publish data."""
    small = nation.limit(5)
    t = cat.create_table("default.pubclob", small)    # main = v0
    t.create_branch("audit")
    t.append(small, branch="audit")                   # staged rows
    # pinned statement resolves its args at main = v0...
    read_v, ckw, _ = t._dml_commit_args(MAIN, None)
    # ...then the publish lands mid-statement
    t.fast_forward("audit")
    assert t.read().count() == 10                     # published
    with pytest.raises(CommitConflictError):
        t._commit("delete", [], [], **ckw)
    # the publish survived; a re-resolved retry lands on top of it
    assert t.read().count() == 10
    read_v2, ckw2, _ = t._dml_commit_args(MAIN, None)
    assert read_v2 == t.branches()["audit"]
    t._commit("delete", [], [], **ckw2)


def test_fast_forward_requires_ancestry(cat, nation):
    """r9 wave 9: fast_forward is FAST-forward only (Iceberg contract) —
    if a commit landed on main after the branch forked, the publish must
    raise instead of silently discarding that commit from main's lineage
    (the mirror image of the commit-side ref CAS); and a stale branch
    can never move main backward."""
    small = nation.limit(4)
    t = cat.create_table("default.ffa", small)        # main = v0
    t.create_branch("stage")                           # forked at v0
    t.append(small, branch="stage")                    # stage ahead
    t.append(small)                                    # main diverges
    with pytest.raises(CommitConflictError):
        t.fast_forward("stage")
    assert t.read().count() == 8                       # main unharmed
    # backward move rejected too: branch at the fork point, main ahead
    t.create_branch("old", at=0)
    with pytest.raises(CommitConflictError):
        t.fast_forward("old")
    # the clean WAP flow still publishes
    t2 = cat.create_table("default.ffb", small)
    t2.create_branch("etl")
    t2.append(small, branch="etl")
    t2.fast_forward("etl")
    assert t2.read().count() == 8


def test_fast_forward_survives_expired_history(cat, nation):
    """r9 wave 10: the ancestry walk must hop ACROSS expire_snapshots
    squashes (parent=None full-state rewrites) via the
    squashed-kept-parent recorded at squash time — without it, a valid
    WAP publish after routine maintenance raises CommitConflictError
    forever, and a genuinely diverged publish must STILL raise."""
    small = nation.limit(3)
    t = cat.create_table("default.ffe", small)        # main = v0
    t.create_branch("stage")
    t.append(small, branch="stage")                    # v1
    t.append(small, branch="stage")                    # v2
    t.expire_snapshots(retain_last=1)                  # v1 expired, v2 squashed
    sq = t._read_commit(t.branches()["stage"])
    assert sq.parent is None                           # squash happened
    t.fast_forward("stage")                            # must still publish
    assert t.read().count() == 9
    # divergence detected ACROSS a genuinely traversed hop: main
    # diverges at v2 (LOWER than stage's squashed head v4, so the walk
    # cannot short-circuit on version order — it must hop 4 -> skp=1,
    # and 1 != main's head 2 -> conflict). The keeper branch pins the
    # fork v1 in the retained set so the squash records skp=1.
    t2 = cat.create_table("default.ffd", small)       # v0
    t2.append(small)                                   # v1 (main head)
    t2.create_branch("stage")                          # forked at v1
    t2.create_branch("keeper")                         # pins v1 in keep
    t2.append(small)                                   # v2: main diverges
    t2.append(small, branch="stage")                   # v3
    t2.append(small, branch="stage")                   # v4 (stage head)
    t2.expire_snapshots(retain_last=1)                 # v3 expires
    sq2 = t2._read_commit(t2.branches()["stage"])
    assert sq2.parent is None
    assert sq2.summary.get("squashed-kept-parent") == 1
    assert t2.head() == 2 < t2.branches()["stage"]     # no short-circuit
    with pytest.raises(CommitConflictError):
        t2.fast_forward("stage")


def test_expire_refreshes_stale_kept_parent_hop(cat, nation):
    """r9 wave 11: a SECOND expire_snapshots run that deletes a prior
    squash's recorded kept-parent must re-resolve the hop — a dangling
    squashed-kept-parent would make _is_ancestor fail closed and reject
    valid publishes forever after two routine maintenance cycles."""
    small = nation.limit(3)
    t = cat.create_table("default.ffr", small)        # main = v0
    t.create_branch("b1")                              # pins v1's keeper
    t.append(small, branch="b1")                       # v1
    t.create_branch("stage", at=1)
    t.append(small, branch="stage")                    # v2
    t.append(small, branch="stage")                    # v3
    t.expire_snapshots(retain_last=1)                  # v2 expires, skp(v3)=1
    assert t._read_commit(3).summary.get("squashed-kept-parent") == 1
    t.drop_branch("b1")
    t.expire_snapshots(retain_last=1)                  # v1 expires now
    # the hop was refreshed to the next retained ancestor (v0 = main)
    assert t._read_commit(3).summary.get("squashed-kept-parent") == 0
    t.fast_forward("stage")                            # valid publish lands
    assert t.read().count() == 12


def test_fast_forward_unknown_branch_typed_error(cat, nation):
    """r9 wave 4: fast_forward of a nonexistent branch raises the typed
    TableError like every other ref mutation — a bare KeyError from
    inside the locked refs callback would bypass callers catching
    TableError (e.g. the WAP publish path)."""
    t = cat.create_table("default.ffte", nation)
    with pytest.raises(TableError, match="no branch 'etl_stag'"):
        t.fast_forward("etl_stag")


def test_wap_branch_autocreate_lost_race_proceeds(cat, nation, monkeypatch):
    """r9 wave 4: if a concurrent process creates the spark.wap.branch
    branch between _run_dml's existence check and create_branch, the
    pinned statement PROCEEDS onto the now-existing branch (that is what
    the pin means) instead of failing — and does not claim ownership, so
    a later failure cannot drop the other writer's branch."""
    from lakeshed.table import BranchExistsError, LakeTable

    t = cat.create_table("default.wapt", nation)
    real_create = LakeTable.create_branch

    def racing_create(self, name, *a, **kw):
        # the "other process" wins the create first
        real_create(self, name, *a, **kw)
        raise BranchExistsError(f"branch {name!r} exists")

    monkeypatch.setattr(LakeTable, "create_branch", racing_create)
    cat.set_conf("spark.wap.branch", "etl_race")
    try:
        cat.sql("DELETE FROM default.wapt WHERE n_regionkey = 1")
    finally:
        cat.set_conf("spark.wap.branch", None)
    monkeypatch.undo()
    # the DML landed on the branch, main untouched
    assert "etl_race" in t.branches()
    staged = t.read(version=t.branches()["etl_race"]).count()
    assert staged < nation.count()
    assert t.read().count() == nation.count()


def test_unknown_catalog_qualifier_rejected_symmetrically(cat, spark):
    """r9 wave 2: a 3-part name whose leading segment is not THIS
    catalog's name is rejected on the write path too — before this fix
    writes accepted any qualifier while reads resolved only 'demo.',
    letting users create tables they could not SELECT."""
    cat.create_database("nyc")
    with pytest.raises(TableError, match="unknown catalog 'prod'"):
        cat.create_table(
            "prod.nyc.t", spark.createDataFrame([(1,)], "k int")
        )
    # the configured name still works end to end
    cat.create_table("demo.nyc.t", spark.createDataFrame([(1,)], "k int"))
    assert cat.sql("SELECT count(*) AS c FROM demo.nyc.t").first().c == 1


def test_backtick_quoted_relation_names_resolve(cat, spark):
    """r10 ADVICE (low): the (?<![\\w.`]) lookbehind added in r9 must not
    swallow backtick-quoted relation spellings — ``FROM `nyc.taxis```
    (and the per-part ``FROM `nyc`.`taxis``` form) resolved under the
    old \\b pattern and must keep resolving."""
    cat.create_database("nyc")
    cat.create_table(
        "nyc.bt", spark.createDataFrame([(1,), (2,)], "k int")
    )
    assert cat.sql("SELECT count(*) AS c FROM `nyc.bt`").first().c == 2
    assert cat.sql("SELECT count(*) AS c FROM `nyc`.`bt`").first().c == 2
    # backticked spelling composes with time travel / rewrites downstream
    assert (
        cat.sql("SELECT count(*) AS c FROM `nyc.bt` VERSION AS OF 0")
        .first().c == 2
    )
    # a backticked table name INSIDE a string literal stays data
    row = cat.sql("SELECT '`nyc.bt`' AS s").first()
    assert row.s == "`nyc.bt`"


def test_struct_path_spelled_like_a_table_reads_the_struct(cat, spark):
    """A struct path that spells a lakeshed table's name (``nyc.t.x``
    over column ``nyc`` of ``nyc.s``) reads the struct field: a column
    prefix names a relation only where the statement reads that relation
    unaliased. Stock Spark returns these rows for the same tables."""
    cat.create_database("nyc")
    cat.create_table("nyc.t", spark.createDataFrame(
        [(1, "a")], "k int, v string"))
    cat.create_table("nyc.s", spark.createDataFrame(
        [(5, ((7,),))], "k int, nyc struct<t: struct<x: int>>"))
    assert [tuple(r) for r in cat.sql(
        "SELECT nyc.t.x AS x FROM nyc.s").collect()] == [(7,)]
    assert [tuple(r) for r in cat.sql(
        "SELECT nyc.t.x AS x, u.v FROM nyc.s JOIN nyc.t u "
        "ON nyc.s.k > u.k").collect()] == [(7, "a")]


def test_select_touches_only_the_tables_it_reads(cat, spark, monkeypatch):
    """A SELECT over one table of a 20-table warehouse probes that table
    alone: no warehouse listing, no existence check of any other."""
    cat.create_database("nyc")
    df = spark.createDataFrame([(1,)], "k int")
    for i in range(20):
        cat.create_table(f"nyc.w{i}", df)
    probed, listed = [], []
    real_exists = LakeTable.exists
    real_tables = Catalog.tables

    def exists(self):
        probed.append(os.path.relpath(self.path, cat.warehouse))
        return real_exists(self)

    def tables(self, database):
        listed.append(database)
        return real_tables(self, database)

    monkeypatch.setattr(LakeTable, "exists", exists)
    monkeypatch.setattr(Catalog, "tables", tables)
    assert cat.sql("SELECT count(*) AS c FROM nyc.w7").first().c == 1
    assert listed == []
    assert set(probed) == {os.path.join("nyc", "w7")}


def test_mutate_refs_warns_once_when_flock_unavailable(cat, spark,
                                                       monkeypatch):
    """r10 ADVICE (low): when flock(2) raises (lock-less NFS/SMB/overlay
    mounts) the ref RMW must not degrade silently — one RuntimeWarning
    per process, and LAKESHED_REQUIRE_FLOCK=1 fails hard."""
    import warnings as _w

    import fcntl as _fcntl

    import lakeshed.table as table_mod
    from lakeshed.table import TableError

    cat.create_database("db")
    t = cat.create_table("db.flk", spark.createDataFrame([(1,)], "k int"))
    lt = t if not hasattr(t, "_table") else t._table

    def _boom(*a, **k):
        raise OSError(37, "No locks available")

    monkeypatch.setattr(_fcntl, "flock", _boom)
    monkeypatch.setattr(table_mod, "_FLOCK_WARNED", False)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        lt.create_branch("audit")
        lt.drop_branch("audit")
    msgs = [str(r.message) for r in rec
            if issubclass(r.category, RuntimeWarning)
            and "refs lock unavailable" in str(r.message)]
    assert len(msgs) == 1  # once per process, not once per mutation

    monkeypatch.setenv("LAKESHED_REQUIRE_FLOCK", "1")
    with pytest.raises(TableError, match="refs lock unavailable"):
        lt.create_branch("audit2")


def test_expire_snapshots_tolerates_concurrent_removal(cat, spark):
    """r10 ADVICE (low): expire_snapshots' GC loop must survive another
    process having already removed the same commit/checkpoint/data
    files (two racing expiries: the loser must finish, not crash
    mid-GC with FileNotFoundError after deleting some files)."""
    import os as _os

    cat.create_database("db")
    t = cat.create_table("db.exp", spark.createDataFrame([(1,)], "k int"))
    lt = t if not hasattr(t, "_table") else t._table
    for i in range(2, 6):
        lt.append(spark.createDataFrame([(i,)], "k int"))

    real_remove = _os.remove
    removed_once = {}

    def racy_remove(path):
        # simulate the racing winner: the first commit-file removal this
        # run attempts was already done by "the other process"
        if path.endswith(".json") and "commit" not in removed_once:
            removed_once["commit"] = path
            real_remove(path)  # the other process removed it...
            return real_remove(path)  # ...and now we crash? must not.
        return real_remove(path)

    try:
        _os.remove = racy_remove
        expired = lt.expire_snapshots(retain_last=1)
    finally:
        _os.remove = real_remove
    assert expired  # something was expired and the loop completed
    assert [r.k for r in lt.read().orderBy("k").collect()] == [1, 2, 3, 4, 5]


def test_ivf_probe_validates_inputs(cat, spark):
    """r10 ADVICE (low): ivf_topk_from_table raises typed errors for
    nprobe < 1, a missing centroids property, and an empty centroid
    list — not an unparsable ``list IN ()`` predicate or bare KeyError."""
    from lakeshed.llm import similarity

    cat.create_database("db")
    t = cat.create_table(
        "db.notivf", spark.createDataFrame([(0, [0.1, 0.2])],
                                           "vec_id int, embedding array<float>")
    )
    lt = t if not hasattr(t, "_table") else t._table
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_topk_from_table(lt, [1.0, 0.0], nprobe=0)
    with pytest.raises(ValueError, match="lakeshed.ivf.centroids"):
        similarity.ivf_topk_from_table(lt, [1.0, 0.0], nprobe=4)
    lt.set_properties(**{"lakeshed.ivf.centroids": "[]"})
    with pytest.raises(ValueError, match="empty"):
        similarity.ivf_topk_from_table(lt, [1.0, 0.0], nprobe=4)


def test_unpartitioned_multi_append_plans_single_relation(cat, spark,
                                                          tmp_path):
    """r10 metadata probe: a streaming-shaped table (one write-group base
    per commit) must NOT plan as an n-way union — at 5,000 appends the
    per-base union tree OOM'd the JVM. Files sharing (schema_version,
    identity-partition values) merge into one multi-path relation with
    the partition columns re-attached as literal columns from the
    commit log's own paths — plan arity tracks the data layout
    (distinct live partition tuples), never the commit count."""
    import os as _os

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from lakeshed.table import AddFile, LakeTable

    t = LakeTable(spark, str(tmp_path / "many"))
    t.create(spark.createDataFrame([(0,)], "k int"))
    sv = t._read_commit(t.head()).schema_version
    for i in range(1, 60):
        base_rel = _os.path.join("data", f"fab{i:04d}")
        _os.makedirs(_os.path.join(t.path, base_rel), exist_ok=True)
        rel = _os.path.join(base_rel, "part-0.parquet")
        abs_p = _os.path.join(t.path, rel)
        _pq.write_table(_pa.table({"k": _pa.array([i], _pa.int32())}), abs_p)
        t._commit("append", [AddFile(
            path=rel, base=base_rel, rows=1,
            bytes=_os.path.getsize(abs_p), schema_version=sv)], [])
    df = t.read()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan[:2000]
    assert sorted(r.k for r in df.collect()) == list(range(60))

    # partitioned: two write-group bases, partition values recovered
    p = cat.create_table(
        "db2.part" if cat.create_database("db2") is None else "db2.part",
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, p string"),
        partition_by=("p",),
    )
    lp = p if not hasattr(p, "_table") else p._table
    lp.append(spark.createDataFrame([(3, "a")], "k int, p string"))
    lp.append(spark.createDataFrame([(4, "a")], "k int, p string"))
    lp.append(spark.createDataFrame([(5, "b")], "k int, p string"))
    got = sorted((r.k, r.p) for r in lp.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "a"), (4, "a"), (5, "b")]
    # arity = |distinct partition values| (2), not |write groups| (4)
    pplan = lp.read()._jdf.queryExecution().optimizedPlan().toString()
    assert pplan.count("Relation") == 2, pplan[:2000]


def test_expire_survives_torn_in_flight_survivor(cat, spark):
    """r10 review waves 1-2: a TORN survivor commit (protected by
    _in_flight precisely because it is fresh and unreadable) means its
    chain cannot be vouched for — expiry must fail CLOSED by pausing GC
    entirely (return [], nothing deleted) rather than crash (wave 1) or
    expire the torn survivor's unvouched ancestors (wave 2: a mid-write
    cherrypick may share data files with an expired original). Once the
    file is whole again, the same expiry proceeds."""
    cat.create_database("db")
    t = cat.create_table("db.torn", spark.createDataFrame([(0,)], "k int"))
    lt = t if not hasattr(t, "_table") else t._table
    for i in (1, 2, 3):
        lt.append(spark.createDataFrame([(i,)], "k int"))
    lt.create_branch("z", at=0)
    lt.rollback_to_snapshot(2)  # v3 becomes an in-flight survivor
    # tear v3's commit file (fresh mtime keeps it inside the grace)
    p3 = lt._commit_path(3)
    with open(p3) as fh:
        whole = fh.read()
    with open(p3, "w") as fh:
        fh.write(whole[:20])

    assert lt.expire_snapshots(older_than_ms=10**15, retain_last=1) == []
    assert lt._versions() == [0, 1, 2, 3]  # nothing deleted

    with open(p3, "w") as fh:
        fh.write(whole)  # the writer finished its dump
    expired = lt.expire_snapshots(older_than_ms=10**15, retain_last=1)
    # v1 is now vouched for by v3's walk (3 -> 2 -> 1 -> 0): protected
    assert expired == []
    lt.drop_branch("z")
    lt.rollback_to_snapshot(3)  # v3 published; v1 back on main lineage
    assert sorted(r.k for r in lt.read().collect()) == [0, 1, 2, 3]


def test_backtick_rewrite_only_in_relation_position(cat, spark):
    """r10 review wave 1: the backtick normalization must not touch
    backtick-quoted identifiers OUTSIDE relation position — an output
    alias spelled like a table name stays an alias."""
    cat.create_database("nyc")
    cat.create_table("nyc.al", spark.createDataFrame([(1,), (2,)], "k int"))
    row = cat.sql(
        'SELECT count(*) AS `nyc.al` FROM `nyc.al`'
    ).collect()[0]
    assert row["nyc.al"] == 2
    # comma-separated FROM lists and qualified column prefixes (no
    # relation keyword adjacent) still normalize — r10 review wave 2
    cat.create_table("nyc.al2", spark.createDataFrame([(7,)], "j int"))
    rows = cat.sql(
        "SELECT `nyc.al`.k, `nyc.al2`.j FROM `nyc.al`, `nyc.al2`"
    ).collect()
    assert sorted((r.k, r.j) for r in rows) == [(1, 7), (2, 7)]
    # catalog-qualified backticked relation (r10 review wave 3)
    assert cat.sql("SELECT count(*) AS c FROM demo.`nyc.al`").first().c == 2
    # ORDER BY reference to an alias that spells a table name
    rows = cat.sql(
        "SELECT k AS `nyc.al` FROM `nyc.al` ORDER BY `nyc.al` DESC"
    ).collect()
    assert [r["nyc.al"] for r in rows] == [2, 1]


def test_backtick_qualified_prefix_in_by_clauses(cat, spark):
    """r10 review wave 4: a backticked table name used as a
    qualified-column PREFIX references the relation wherever it appears
    — GROUP BY/ORDER BY included — while a bare occurrence after BY
    stays an alias reference."""
    cat.create_database("nyc")
    cat.create_table(
        "nyc.q", spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")],
                                       "k int, g string"))
    rows = cat.sql(
        "SELECT `nyc.q`.g, count(*) AS c FROM `nyc.q` "
        "GROUP BY `nyc.q`.g ORDER BY `nyc.q`.g"
    ).collect()
    assert [(r.g, r.c) for r in rows] == [("a", 2), ("b", 1)]


def test_backtick_relation_after_block_comment(cat, spark):
    """r10 review wave 5: a /* hint */ between the keyword and the
    backticked relation must not defeat normalization."""
    cat.create_database("nyc")
    cat.create_table("nyc.cm", spark.createDataFrame([(1,)], "k int"))
    assert cat.sql(
        "SELECT count(*) AS c FROM /* hint */ `nyc.cm`").first().c == 1


def test_backtick_alias_and_by_list_edge_cases(cat, spark):
    """r10 review wave 6: (a) a multi-key ORDER BY list referencing a
    backticked alias stays an alias reference (the comma rule applies
    only inside FROM-like clauses); (b) a table ALIAS that spells a
    lakeshed table name shadows it for qualified prefixes; (c) bare
    DESCRIBE of a backticked name resolves."""
    cat.create_database("nyc")
    cat.create_table(
        "nyc.e", spark.createDataFrame([(1, "z"), (2, "z")],
                                       "k int, g string"))
    rows = cat.sql(
        "SELECT k AS `nyc.e`, g FROM `nyc.e` ORDER BY g, `nyc.e` DESC"
    ).collect()
    assert [r["nyc.e"] for r in rows] == [2, 1]

    other = spark.createDataFrame([(99,)], "k int")
    other.createOrReplaceTempView("othersrc")
    rows = cat.sql(
        "SELECT `nyc.e`.k AS k FROM othersrc AS `nyc.e`"
    ).collect()
    assert [r.k for r in rows] == [99]  # alias shadows the table

    d = cat.sql("DESCRIBE `nyc.e`").collect()
    assert {r.col_name for r in d} >= {"k", "g"}


def test_backtick_from_list_with_subquery_and_comment(cat, spark):
    """r10 review wave 7: FROM-list comma detection must be paren-depth
    aware (a derived table's SELECT must not hide the FROM) and
    comment-masked; DESCRIBE of a backticked name routes to
    LakeTable.describe() like the plain spelling."""
    cat.create_database("nyc")
    cat.create_table("nyc.w7", spark.createDataFrame([(5,)], "k int"))
    rows = cat.sql(
        "SELECT x.j, `nyc.w7`.k FROM (SELECT 1 AS j) x, `nyc.w7`"
    ).collect()
    assert [(r.j, r.k) for r in rows] == [(1, 5)]
    # a JOIN..ON before the FROM-list comma does not end the hunt
    spark.createDataFrame([(1, 2)], "a int, b int") \
        .createOrReplaceTempView("jsrc")
    rows = cat.sql(
        "SELECT count(*) AS c FROM jsrc j1 JOIN jsrc j2 ON j1.a = j2.a, "
        "`nyc.w7`"
    ).collect()
    assert rows[0].c == 1
    # keywords inside comments are masked out of the keyword scan
    rows = cat.sql(
        "SELECT count(*) AS c FROM /* select by order */ `nyc.w7`"
    ).collect()
    assert rows[0].c == 1
    # DESCRIBE parity between spellings
    plain = {(r.col_name, r.data_type)
             for r in cat.sql("DESCRIBE nyc.w7").collect()}
    ticked = {(r.col_name, r.data_type)
              for r in cat.sql("DESCRIBE `nyc.w7`").collect()}
    assert plain == ticked


def test_corrupt_commit_and_checkpoint_raise_typed(cat, spark):
    """r10 review wave 8: corruption surfaces as CorruptCommitError
    everywhere — a torn COMMIT file through read()/_state, a torn
    CHECKPOINT through _chain — and expire fails loudly when a READABLE
    survivor's ancestor is corrupt (vs pausing for a torn survivor)."""
    import os as _os

    from lakeshed.table import CorruptCommitError

    cat.create_database("db")
    t = cat.create_table("db.cc", spark.createDataFrame([(0,)], "k int"))
    lt = t if not hasattr(t, "_table") else t._table
    for i in range(1, 25):  # crosses the auto-checkpoint at v20
        lt.append(spark.createDataFrame([(i,)], "k int"))

    # corrupt the checkpoint: every chain replay must raise TYPED
    cp = lt._checkpoint_path(20)
    assert _os.path.exists(cp)
    with open(cp) as fh:
        whole = fh.read()
    with open(cp, "w") as fh:
        fh.write(whole[:15])
    with pytest.raises(CorruptCommitError, match="checkpoint"):
        lt.read().collect()
    with open(cp, "w") as fh:
        fh.write(whole)

    # corrupt a COMMIT file: read paths raise the typed error, and
    # expire (whose keep walk is strict) surfaces it instead of GC'ing
    p10 = lt._commit_path(10)
    with open(p10) as fh:
        whole10 = fh.read()
    with open(p10, "w") as fh:
        fh.write(whole10[:15])
    with pytest.raises(CorruptCommitError, match="commit"):
        lt.read(version=10).collect()
    with pytest.raises(CorruptCommitError):
        lt.expire_snapshots(older_than_ms=10**15, retain_last=3)
    assert lt._versions() == list(range(25))  # nothing was deleted
    with open(p10, "w") as fh:
        fh.write(whole10)
    assert len(lt.expire_snapshots(older_than_ms=10**15,
                                   retain_last=3)) > 0


def test_corrupt_checkpoint_raises_typed_from_manifests(cat, spark):
    """``manifests()`` reads checkpoints through the same reader as the
    chain replay: a torn checkpoint raises CorruptCommitError, not a raw
    json error."""
    from lakeshed.table import CorruptCommitError

    t = cat.create_table("default.mcp", spark.createDataFrame([(0,)],
                                                              "k int"))
    t.append(spark.createDataFrame([(1,)], "k int"))
    cp = t._checkpoint_path(t.rewrite_manifests())
    with open(cp) as fh:
        whole = fh.read()
    with open(cp, "w") as fh:
        fh.write(whole[:15])
    with pytest.raises(CorruptCommitError, match="checkpoint"):
        t.manifests()
    with open(cp, "w") as fh:
        fh.write(whole)
    assert sum(r.path.endswith(".checkpoint.json")
               for r in t.manifests().collect()) == 1


def test_backtick_using_column_list_and_merge_using(cat, spark):
    """r10 review wave 8: USING (cols) is a column list — a backticked
    column that spells a table name survives; MERGE ... USING `t`
    (paren-less) is relation position."""
    cat.create_database("nyc")
    cat.create_table("nyc.u8", spark.createDataFrame([(1,)], "k int"))
    spark.createDataFrame([(1, "x")], "`nyc.u8` int, v string") \
        .createOrReplaceTempView("ua")
    spark.createDataFrame([(1, "y")], "`nyc.u8` int, w string") \
        .createOrReplaceTempView("ub")
    rows = cat.sql(
        "SELECT v, w FROM ua JOIN ub USING (`nyc.u8`)"
    ).collect()
    assert [(r.v, r.w) for r in rows] == [("x", "y")]
    # per-segment-backticked DESCRIBE routes like the plain spelling
    plain = {r.col_name for r in cat.sql("DESCRIBE nyc.u8").collect()}
    seg = {r.col_name for r in cat.sql("DESCRIBE `nyc`.`u8`").collect()}
    assert plain == seg


def test_backtick_implicit_alias_and_tempview_describe(cat, spark):
    """r10 review wave 9: an IMPLICIT alias (no AS) that spells a table
    name shadows it for qualified prefixes; DESCRIBE of a backticked
    temp view falls through to stock Spark instead of raising."""
    cat.create_database("nyc")
    cat.create_table("nyc.w9", spark.createDataFrame([(1,)], "k int"))
    spark.createDataFrame([(42,)], "k int").createOrReplaceTempView("osrc")
    rows = cat.sql("SELECT `nyc.w9`.k AS k FROM osrc `nyc.w9`").collect()
    assert [r.k for r in rows] == [42]  # implicit alias wins
    spark.createDataFrame([(5, "x")], "a int, b string") \
        .createOrReplaceTempView("plainview")
    d = cat.sql("DESCRIBE `plainview`").collect()
    assert {r.col_name for r in d} >= {"a", "b"}


def test_backtick_stopword_in_name_and_orphan_sweep_debris(cat, spark,
                                                           tmp_path):
    """r10 review wave 10: (a) a clause stop-word INSIDE a backticked
    relation name must not poison the FROM-list scan for the next item;
    (b) DESCRIBE of a plain-spelled temp view falls through to Spark;
    (c) remove_orphan_files tolerates a checkpoint vanishing and fails
    typed on a corrupt live commit."""
    import os as _os

    from lakeshed.table import CorruptCommitError

    cat.create_database("nyc")
    cat.create_table("nyc.order", spark.createDataFrame([(1,)], "k int"))
    cat.create_table("nyc.al2", spark.createDataFrame([(2,)], "j int"))
    rows = cat.sql(
        "SELECT `nyc.order`.k, `nyc.al2`.j FROM `nyc.order`, `nyc.al2`"
    ).collect()
    assert [(r.k, r.j) for r in rows] == [(1, 2)]

    spark.createDataFrame([(3,)], "z int").createOrReplaceTempView("pv10")
    assert {r.col_name for r in cat.sql("DESCRIBE pv10").collect()} >= {"z"}

    t = cat.create_table("nyc.orf", spark.createDataFrame([(0,)], "k int"))
    lt = t if not hasattr(t, "_table") else t._table
    lt.append(spark.createDataFrame([(1,)], "k int"))
    p1 = lt._commit_path(1)
    with open(p1) as fh:
        whole = fh.read()
    with open(p1, "w") as fh:
        fh.write(whole[:10])
    with pytest.raises(CorruptCommitError):
        lt.remove_orphan_files(max_age_ms=0)
    with open(p1, "w") as fh:
        fh.write(whole)
    removed = lt.remove_orphan_files(max_age_ms=0)
    # only unreferenced debris (e.g. empty part files) may go; every
    # committed row is still readable afterwards
    live_paths = {a.path for a in lt.plan_files()}
    assert not (set(removed) & live_paths)
    assert sorted(r.k for r in lt.read().collect()) == [0, 1]


def test_backtick_identifier_containing_comment_marker(cat, spark):
    """r10 review wave 11: a `--` inside a backticked identifier must
    not blank the statement tail for the comment mask — the relation
    after it still normalizes; a real trailing -- comment still masks."""
    cat.create_database("nyc")
    cat.create_table("nyc.cm2", spark.createDataFrame([(1,)], "k int"))
    rows = cat.sql(
        "SELECT k AS `a--b` FROM `nyc.cm2` -- from `nyc.cm2`"
    ).collect()
    assert [r["a--b"] for r in rows] == [1]


def test_backtick_comment_interplay_and_merge_target(cat, spark):
    """r10 review wave 12: (a) a backtick inside a block comment must
    not derail identifier masking; (b) `demo`.`db.t` (backticked
    catalog qualifier) normalizes; (c) MERGE accepts backticked target
    and source spellings."""
    cat.create_database("nyc")
    cat.create_table("nyc.m12", spark.createDataFrame([(1, "a")],
                                                      "k int, v string"))
    assert cat.sql(
        "SELECT /* x` y */ count(*) AS c FROM `nyc.m12`").first().c == 1
    assert cat.sql(
        "SELECT count(*) AS c FROM `demo`.`nyc.m12`").first().c == 1

    cat.create_table("nyc.msrc", spark.createDataFrame([(1, "b")],
                                                       "k int, v string"))
    cat.sql(
        "MERGE INTO `nyc.m12` t USING `nyc.msrc` s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET t.v = s.v")
    assert [r.v for r in cat.table("nyc.m12").read().collect()] == ["b"]

    with pytest.raises(TableError, match="not supported"):
        cat.sql("DESCRIBE nyc.m12 PARTITION (k=1)")
    # trailing comments are NOT a suffix; unaliased ticked references work
    d = cat.sql("DESCRIBE nyc.m12 -- check schema").collect()
    assert {r.col_name for r in d} >= {"k", "v"}
    # unaliased ticked target: ON references by the same ticked spelling
    cat.sql(
        "MERGE INTO `nyc.m12` USING `nyc.msrc` s "
        "ON `nyc.m12`.k = s.k WHEN MATCHED THEN UPDATE SET v = 'c'")
    assert [r.v for r in cat.table("nyc.m12").read().collect()] == ["c"]
    # catalog-qualified ticked target with an explicit alias
    cat.sql(
        "MERGE INTO `demo`.`nyc.m12` t USING `nyc.msrc` s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET t.v = 'd'")
    assert [r.v for r in cat.table("nyc.m12").read().collect()] == ["d"]


def test_describe_spellings_and_merge_ticked_refs(cat, spark):
    """r10 review wave 14: DESCRIBE comment handling is newline- and
    backtick-aware and covers TABLE/FORMATTED/DESC spellings; a
    plain-spelled MERGE target still accepts ticked ON/SET references."""
    cat.create_database("nyc")
    cat.create_table("nyc.d14", spark.createDataFrame([(1, "a")],
                                                      "k int, v string"))
    want = {r.col_name for r in cat.sql("DESCRIBE nyc.d14").collect()}
    for stmt in ("DESCRIBE TABLE nyc.d14", "DESCRIBE FORMATTED nyc.d14",
                 "DESC nyc.d14", "DESCRIBE nyc.d14 -- check\n"):
        got = {r.col_name for r in cat.sql(stmt).collect()}
        assert got == want, stmt
    # a -- comment before the name must not swallow it (newline kept)
    got = {r.col_name for r in cat.sql("DESCRIBE -- the table\nnyc.d14"
                                       ).collect()}
    assert got == want
    # suffix after a comment still raises (comment itself is not suffix)
    with pytest.raises(TableError, match="not supported"):
        cat.sql("DESCRIBE nyc.d14 -- x\nPARTITION (k=1)")

    cat.create_table("nyc.d14s", spark.createDataFrame([(1, "b")],
                                                       "k int, v string"))
    cat.sql(
        "MERGE INTO nyc.d14 USING nyc.d14s s ON `nyc.d14`.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v")
    assert [r.v for r in cat.table("nyc.d14").read().collect()] == ["b"]


def test_mixed_backtick_relation_spellings(cat, spark):
    """r10 ADVICE (low): mixed spellings nyc.`bt3` and `nyc`.bt3 must
    normalize like the fully-quoted ones — previously they bypassed
    lakeshed routing and hit raw spark.sql (AnalysisException)."""
    cat.create_database("nyc")
    cat.create_table(
        "nyc.bt3", spark.createDataFrame([(1,), (2,)], "k int")
    )
    for rel in ("nyc.`bt3`", "`nyc`.bt3",
                "demo.nyc.`bt3`", "demo.`nyc`.bt3"):
        assert cat.sql(
            f"SELECT count(*) AS c FROM {rel}").first().c == 2, rel
    # qualified-column prefixes in the mixed spelling resolve too
    assert cat.sql(
        "SELECT sum(nyc.`bt3`.k) AS s FROM nyc.`bt3`").first().s == 3
    # a longer name sharing the prefix is NOT eaten by `nyc`.bt3
    cat.create_table(
        "nyc.bt3x", spark.createDataFrame([(9,)] * 5, "k int")
    )
    assert cat.sql("SELECT count(*) AS c FROM `nyc`.bt3x").first().c == 5
    # mixed spelling inside a string literal stays data
    assert cat.sql("SELECT 'nyc.`bt3`' AS s").first().s == "nyc.`bt3`"
    # an alias path over a different relation is left alone: s.nyc.bt3
    # would only break if the mixed patterns matched dot-qualified
    # word-preceded text — the lookbehind forbids it
    row = cat.sql(
        "SELECT s.nyc.bt3 AS v FROM (SELECT named_struct('nyc', "
        "named_struct('bt3', 7)) AS s) t").first()
    assert row.v == 7


def test_merge_per_part_ticked_target_refs(cat, spark):
    """r10 ADVICE (low): a PLAIN-written MERGE target must accept
    per-part (`nyc`.`mm`) and mixed (nyc.`mm`) ticked ON/SET
    references — the spellings set previously only carried the
    whole-quoted form."""
    cat.create_database("nyc")
    cat.create_table("nyc.mm", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"))
    cat.create_table("nyc.mmsrc", spark.createDataFrame(
        [(1, "x"), (2, "y")], "k int, v string"))
    cat.sql(
        "MERGE INTO nyc.mm USING nyc.mmsrc s ON `nyc`.`mm`.k = s.k "
        "WHEN MATCHED AND `nyc`.`mm`.v = 'a' THEN UPDATE SET v = s.v")
    assert sorted(
        (r.k, r.v) for r in cat.table("nyc.mm").read().collect()
    ) == [(1, "x"), (2, "b")]
    cat.sql(
        "MERGE INTO nyc.mm USING nyc.mmsrc s ON nyc.`mm`.k = s.k "
        "WHEN MATCHED AND nyc.`mm`.k = 2 THEN UPDATE SET v = s.v")
    assert sorted(
        (r.k, r.v) for r in cat.table("nyc.mm").read().collect()
    ) == [(1, "x"), (2, "y")]


def test_describe_table_extended_combined_prefix(cat, spark):
    """r10 ADVICE (low): DESCRIBE TABLE EXTENDED t must parse the word
    after EXTENDED as the name — even when a lakeshed table literally
    named 'extended' exists to shadow the misparse."""
    cat.create_database("nyc")
    cat.create_table("nyc.dte", spark.createDataFrame(
        [(1, "a")], "k int, v string"))
    cat.create_table("default.extended", spark.createDataFrame(
        [(1,)], "z int"))
    want = {r.col_name for r in cat.sql("DESCRIBE nyc.dte").collect()}
    for stmt in ("DESCRIBE TABLE EXTENDED nyc.dte",
                 "DESCRIBE TABLE FORMATTED nyc.dte",
                 "DESC TABLE EXTENDED nyc.dte"):
        got = {r.col_name for r in cat.sql(stmt).collect()}
        assert got == want, stmt


def test_state_memo_matches_full_replay(cat, spark):
    """r10 ADVICE (low): _state's incremental memo (expire_snapshots'
    referenced-file sweep) must reproduce the full-replay live set at
    every version — across appends, deletes, merges and branches."""
    cat.create_database("nyc")
    t = cat.create_table("nyc.sm", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    t.delete("k = 1")
    t.create_branch("audit")
    cat.sql("INSERT INTO nyc.sm VALUES (4, 'd')")
    t.append(spark.createDataFrame([(5, "e")], "k int, v string"))
    memo: dict = {}
    for v in sorted(t._versions()):
        c_full, live_full = t._state(v)
        c_memo, live_memo = t._state(v, _memo=memo)
        assert c_full.version == c_memo.version
        assert sorted(a.path for a in live_full) == sorted(
            a.path for a in live_memo), v
    # memo-first order (cache hits) agrees too
    for v in sorted(t._versions(), reverse=True):
        _, live_full = t._state(v)
        _, live_memo = t._state(v, _memo=memo)
        assert sorted(a.path for a in live_full) == sorted(
            a.path for a in live_memo), v


def test_stale_low_head_hint_never_allocates_below_parent(cat, spark):
    """r11 review: a stale-low head hint (swallowed hint write, or a
    writer on pre-hint code) plus an expiry gap below the parent must
    not allocate a version LOWER than its parent — a published
    child-below-parent commit trips _lineage's monotonicity guard on
    every later read, bricking the table."""
    cat.create_database("db")
    t = cat.create_table("db.hint", spark.createDataFrame([(0,)], "k int"))
    t.append(spark.createDataFrame([(1,)], "k int"))   # v1
    t.append(spark.createDataFrame([(2,)], "k int"))   # v2 = head
    # free slots 0 and 1 (below the head)
    assert t.expire_snapshots(older_than_ms=10**15, retain_last=1) == [0, 1]
    # simulate the lost hint updates: hint says 0, slots 0/1 are free
    with open(os.path.join(t.log_dir, "_head_hint"), "w") as fh:
        fh.write("0")
    c = t.append(spark.createDataFrame([(3,)], "k int"))
    assert c.version > 2 and c.parent == 2, (c.version, c.parent)
    # lineage stays monotone and fully readable afterwards
    assert [x.version for x in t._lineage(t.head())] == [c.version, 2]
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2, 3]


def test_collapse_ws_quote_inside_backticks(cat, spark):
    """r11 review: a quote character inside a backticked identifier
    opens no string literal — the statement reaches Spark intact."""
    spark.createDataFrame([(1, 2)], "k int, `a 'x' b` int") \
        .createOrReplaceTempView("t")
    try:
        for stmt, col in (("SELECT k AS `it's` FROM t", "it's"),
                          ("SELECT `a 'x' b` FROM t", "a 'x' b"),
                          ("SELECT  k  AS `it's`  FROM\n t", "it's")):
            assert cat.sql(stmt).columns == [col], stmt
    finally:
        spark.catalog.dropTempView("t")
    # end-to-end through the router: the statement reaches spark intact
    row = cat.sql("SELECT 'v' AS `it's`").first()
    assert row["it's"] == "v"


def test_merge_three_part_target_catalog_less_ticked_refs(cat, spark):
    """r11 review wave 5: on a catalog-qualified (3-part) MERGE target,
    catalog-less ticked ON/SET references must normalize to the FULL
    as-written name — the clause parsers only recognize talias, so
    `nyc`.`m3`.k on a demo.nyc.m3 target previously normalized to a
    form they still rejected."""
    cat.create_database("nyc")
    cat.create_table("nyc.m3", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"))
    cat.create_table("nyc.m3src", spark.createDataFrame(
        [(1, "x"), (2, "y")], "k int, v string"))
    cat.sql(
        "MERGE INTO demo.nyc.m3 USING nyc.m3src s "
        "ON `nyc`.`m3`.k = s.k "
        "WHEN MATCHED AND `nyc.m3`.k = 1 THEN UPDATE SET v = s.v")
    assert sorted(
        (r.k, r.v) for r in cat.table("nyc.m3").read().collect()
    ) == [(1, "x"), (2, "b")]
    cat.sql(
        "MERGE INTO demo.nyc.m3 USING nyc.m3src s "
        "ON nyc.`m3`.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v")
    assert sorted(
        (r.k, r.v) for r in cat.table("nyc.m3").read().collect()
    ) == [(1, "x"), (2, "y")]
    # r11 wave 7: PLAIN equivalents of the ticked spellings — the
    # catalog-less tail on a 3-part target, and the catalog-qualified
    # form on a 2-part-written one
    cat.sql(
        "MERGE INTO demo.nyc.m3 USING nyc.m3src s "
        "ON nyc.m3.k = s.k "
        "WHEN MATCHED AND nyc.m3.k = 1 THEN UPDATE SET v = 'p'")
    assert sorted(
        (r.k, r.v) for r in cat.table("nyc.m3").read().collect()
    ) == [(1, "p"), (2, "y")]
    cat.sql(
        "MERGE INTO nyc.m3 USING nyc.m3src s "
        "ON demo.nyc.m3.k = s.k "
        "WHEN MATCHED AND demo.nyc.m3.k = 2 THEN UPDATE SET v = 'q'")
    assert sorted(
        (r.k, r.v) for r in cat.table("nyc.m3").read().collect()
    ) == [(1, "p"), (2, "q")]


def test_stale_hint_never_reuses_mid_gap_version_below_live_ref(
        cat, spark):
    """r11 review wave 5: a stale-low hint plus expiry gaps must not
    RE-allocate an expired mid-gap version number below another
    branch's live head — a surviving by-value reference (VERSION AS OF)
    to the old id would silently resolve to the unrelated new commit."""
    cat.create_database("db")
    t = cat.create_table("db.gap", spark.createDataFrame([(0,)], "k int"))
    t.append(spark.createDataFrame([(1,)], "k int"))   # v1
    t.append(spark.createDataFrame([(2,)], "k int"))   # v2 = main head
    t.create_branch("z")                               # z -> v2
    for i in range(3, 10):                             # v3..v9 on z
        t.append(spark.createDataFrame([(i,)], "k int"), branch="z")
    # retain only each head: frees 0,1 and the mid-gap 3..8
    expired = t.expire_snapshots(older_than_ms=10**15, retain_last=1)
    assert expired == [0, 1, 3, 4, 5, 6, 7, 8]
    assert t._versions() == [2, 9]
    # simulate lost hint updates: hint stale at the main head
    with open(os.path.join(t.log_dir, "_head_hint"), "w") as fh:
        fh.write("2")
    c = t.append(spark.createDataFrame([(10,)], "k int"))  # parent 2
    assert c.parent == 2
    # must allocate ABOVE z's live head, never reuse freed slot 3
    assert c.version > 9, c.version
    with pytest.raises(TableError):
        t.read(version=3).collect()  # the old id stays dead


def test_head_hint_write_is_atomic_under_contention(cat, spark, monkeypatch):
    """r11 review wave 8 (staging fixed in wave 9): _write_head_hint's
    monotonicity check was an unlocked read-check-replace — a writer
    stalled between its read and its os.replace could regress the hint
    by MORE than the one step the allocation floor covers (and expiry
    could then free the skipped slots for version-id reuse). The check
    now runs under an advisory lock. The staged section interposes FOR
    REAL: thread B's in-critical-section read is paused (patched
    _read_head_hint blocks on an event) while writer A attempts 9 — with
    the lock A must wait for B, so B's 6 lands first and A's 9 wins; on
    the unlocked code A's 9 lands during B's pause and B's stale replace
    regresses it to 6, failing the assert deterministically."""
    import threading

    cat.create_database("db")
    t = cat.create_table(
        "db.hintlock", spark.createDataFrame([(0,)], "k int"))

    t._write_head_hint(5)
    errs: list[BaseException] = []
    b_read_done = threading.Event()
    resume_b = threading.Event()
    orig_read = LakeTable._read_head_hint

    def patched_read(self):
        v = orig_read(self)
        if (threading.current_thread().name == "staleB"
                and not b_read_done.is_set()):
            b_read_done.set()
            resume_b.wait(timeout=30)
        return v

    monkeypatch.setattr(LakeTable, "_read_head_hint", patched_read)

    def write(v):
        try:
            t._write_head_hint(v)
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    b = threading.Thread(target=write, args=(6,), name="staleB")
    b.start()
    assert b_read_done.wait(timeout=30)  # B read cur=5 inside its RMW
    a = threading.Thread(target=write, args=(9,))
    a.start()  # under the lock, A blocks until B's replace completes
    # give A time to finish — it only CAN on unlocked code (on locked
    # code it is parked on the flock), which is what makes the stale
    # replace deterministic when the lock is reverted
    a.join(timeout=0.5)
    resume_b.set()
    b.join(timeout=30)
    a.join(timeout=30)
    assert not errs
    assert t._read_head_hint() == 9

    # contention sweep: 16 threads x interleaved values, max must win
    vals = list(range(10, 74))
    chunks = [vals[i::16] for i in range(16)]

    def worker(chunk):
        try:
            for v in chunk:
                t._write_head_hint(v)
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(c,)) for c in chunks]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t._read_head_hint() == max(vals)


def test_scan_and_to_arrow_walk_the_commit_log_once(cat, spark, monkeypatch):
    """A pruned scan / to_arrow replays the commit chain once — the plan
    — and takes the schema from the read version's own commit."""
    t = cat.create_table("default.walks", spark.createDataFrame(
        [(1, "a")], "k int, v string"))
    t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    walks: list[int] = []
    real = LakeTable._chain

    def spy(self, version, *a, **kw):
        walks.append(version)
        return real(self, version, *a, **kw)

    monkeypatch.setattr(LakeTable, "_chain", spy)
    per_read = []
    for read in (lambda: t.scan("k = 1").count(),
                 lambda: t.to_arrow("k = 1").num_rows):
        walks.clear()
        assert read() == 1
        per_read.append(len(walks))
    assert per_read == [1, 1]
