"""Catalog facade — namespaces, table resolution, and the SQL surface.

The reference's catalog is a REST/Hive service resolving
``catalog.namespace.table`` (``spark/spark-defaults.conf:23-29``,
``IcebergStream.java:53-64``); here a warehouse directory plays that role:
``<warehouse>/<database>/<table>`` roots a :class:`lakeshed.table.LakeTable`.

``Catalog.sql`` is the engine's analog of the reference's ``%%sql`` magic
(``spark/ipython/startup/00-prettytables.py:60-81``): the lakehouse DDL/DML
statements the notebooks use (CREATE DATABASE, CREATE/DROP/TRUNCATE TABLE,
UPDATE, DELETE, DESCRIBE, CALL procedures) are routed to the table layer.
Queries and MERGE take their table references from Spark's own SQL parser
(``sqlParser().parsePlan``): each ``db.table`` it finds (and the
``db.table.snapshots``-style metadata relations, S7, branches and time
travel) reads through a temp view spliced in at the parsed span, and the
query runs on stock Spark SQL — Catalyst stays the optimizer for every
query (SURVEY §4: zero custom rules).
"""

from __future__ import annotations

import os
import re
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession

from lakeshed.table import MAIN, BranchExistsError, LakeTable, TableError

_META_TABLES = (
    "snapshots", "history", "files", "refs", "partitions", "manifests",
)


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str | None = None,
                 name: str = "demo"):
        self.spark = spark
        # the catalog's own name (Iceberg catalogs are named; the
        # reference notebooks use ``demo``): the one leading qualifier
        # a table name may carry
        self.name = name
        self.warehouse = os.path.abspath(
            warehouse
            or os.environ.get("LAKESHED_WAREHOUSE", "/tmp/lakeshed-warehouse")
        )
        os.makedirs(self.warehouse, exist_ok=True)
        # D14 — session conf pins the engine consults on writes
        # (spark.wap.branch: WAP...ipynb:195; spark.wap.id: Integrated
        # Audits...ipynb:191).
        self._conf: dict[str, str] = {}

    # ------------------------------------------------------------ namespaces

    def create_database(self, name: str, if_not_exists: bool = True) -> None:
        """D1 — CREATE DATABASE IF NOT EXISTS (Getting Started.ipynb:53)."""
        name = name.replace("`", "")  # accept quoted spellings (r11 fuzz)
        p = os.path.join(self.warehouse, name)
        if os.path.isdir(p) and not if_not_exists:
            raise TableError(f"database {name!r} exists")
        os.makedirs(p, exist_ok=True)

    def databases(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    def tables(self, database: str) -> list[str]:
        p = os.path.join(self.warehouse, database.replace("`", ""))
        if not os.path.isdir(p):
            return []
        return sorted(
            t for t in os.listdir(p)
            if LakeTable(self.spark, os.path.join(p, t)).exists()
        )

    # ----------------------------------------------------------- resolution

    def _path(self, name: str) -> str:
        # THE resolution funnel: every route (table/_exists/create/drop)
        # lands here, so stripping backticks once makes every
        # statement-head regex's ticked captures resolve (r11 fuzz).
        # Lakeshed names are \w-only, so quoting carries no information.
        name = name.replace("`", "")
        parts = name.split(".")
        if len(parts) == 1:
            parts = ["default", parts[0]]
        if len(parts) == 3:
            # catalog-qualified names — the reference notebooks address
            # tables as ``demo.nyc.taxis_sample`` (``spark.sql("CREATE
            # TABLE demo.nyc.taxis_sample ...")`` in Table Maintenance
            # Spark Procedures.ipynb); this Catalog instance IS the
            # catalog, so the leading part must NAME it (case-
            # insensitively, as reads resolve it) — accepting any
            # qualifier would let writes land where reads can't resolve
            if parts[0].lower() != self.name.lower():
                raise TableError(
                    f"unknown catalog {parts[0]!r} in table name "
                    f"{name!r} (this catalog is {self.name!r})"
                )
            parts = parts[1:]
        if len(parts) != 2:
            raise TableError(f"table name {name!r} is not [catalog.][db.]table")
        return os.path.join(self.warehouse, *parts)

    def table(self, name: str) -> LakeTable:
        t = LakeTable(self.spark, self._path(name))
        if not t.exists():
            raise TableError(f"no such table {name!r} in {self.warehouse}")
        return t

    def load(self, name: str, *, snapshot_id: int | None = None,
             branch: str | None = None,
             as_of_ms: int | None = None) -> DataFrame:
        """S4/S5/S6 — the format-option read shape:
        ``spark.read.format("iceberg").option("snapshot-id", id)
        .option("branch", b).load("nyc.permits")``
        (Integrated Audits...ipynb:104,314; WAP...ipynb:436);
        ``as_of_ms`` is the ``as-of-timestamp`` option (TIMESTAMP AS OF)."""
        return self.table(name).read(
            version=snapshot_id, branch=branch, as_of_ms=as_of_ms
        )

    def _exists(self, name: str) -> bool:
        try:
            return LakeTable(self.spark, self._path(name)).exists()
        except TableError:
            return False

    def create_table(
        self,
        name: str,
        df: DataFrame | None = None,
        *,
        schema: str | None = None,
        partition_by: tuple[str, ...] = (),
        properties: dict[str, str] | None = None,
        mode: str = "error",
    ) -> LakeTable:
        os.makedirs(os.path.dirname(self._path(name)), exist_ok=True)
        return LakeTable(self.spark, self._path(name)).create(
            df, schema=schema, partition_by=partition_by,
            properties=properties, mode=mode,
        )

    def drop_table(self, name: str, if_exists: bool = True) -> None:
        t = LakeTable(self.spark, self._path(name))
        if not t.exists() and not if_exists:
            raise TableError(f"no such table {name!r}")
        t.drop()

    # ------------------------------------------------------- session pins

    def set_conf(self, key: str, value: str | None) -> None:
        """D14 — ``spark.conf.set('spark.wap.branch', ...)`` analog."""
        if value is None:
            self._conf.pop(key, None)
        else:
            self._conf[key] = value

    def _dml_target(self, name: str) -> tuple[LakeTable, str | None]:
        """Resolve a DML target that may carry an explicit
        ``.branch_<name>`` suffix — Iceberg's branch-identifier WRITE
        surface (``INSERT INTO nyc.t.branch_audit ...``,
        ``UPDATE/DELETE/MERGE INTO nyc.t.branch_audit``), the write twin
        of the S6 read relation. Returns (table, branch-or-None).
        Identifier writes require the branch to EXIST (Iceberg rejects
        writes to unknown branch refs) — auto-creation is the
        ``spark.wap.branch`` pin's behavior, not the identifier's. A
        table whose literal name matches wins over the suffix reading
        when it exists (same disambiguation as the read path)."""
        raw = name.replace("`", "")
        m = re.match(r"(.+)\.branch_(\w+)$", raw)
        if m and not self._exists(raw) and self._exists(m.group(1)):
            t = self.table(m.group(1))
            b = m.group(2)
            if b != MAIN and b not in t.branches():
                raise TableError(
                    f"branch {b!r} does not exist on {m.group(1)!r}: "
                    "explicit branch-identifier DML writes to an "
                    "existing branch (CREATE BRANCH first; only the "
                    "spark.wap.branch pin auto-creates)"
                )
            return t, b
        return self.table(name), None

    def _run_dml(self, t: LakeTable, fn, explicit_branch: str | None = None):
        """Execute one DML statement with the D14 pins applied
        UNIFORMLY (Iceberg stages ALL writes under a pin, not just
        inserts): under ``spark.wap.id`` + ``write.wap.enabled`` the
        statement stages on the wap-<id> ref; under ``spark.wap.branch``
        it lands on that branch — auto-created at the current head if
        the table never ran CREATE BRANCH (Iceberg's wap.branch write
        behavior), and dropped again if the STATEMENT fails, so a typo'd
        statement can't leave a stale branch redirecting later pinned
        reads. ``fn`` receives either ``wap_id=`` or ``branch=``.

        ``explicit_branch`` (a ``.branch_<name>`` DML target, resolved
        by :meth:`_dml_target`) outranks the session ``spark.wap.branch``
        pin — Iceberg branch-identifier writes target that ref directly —
        but conflicts with a live ``spark.wap.id`` staging pin (two
        different staging destinations for one statement): raise."""
        if explicit_branch is not None:
            wap_id = self._conf.get("spark.wap.id")
            if wap_id and t.properties().get("write.wap.enabled") == "true":
                raise TableError(
                    "explicit .branch_<name> DML target conflicts with "
                    "the spark.wap.id staging pin; unset one"
                )
            return fn(branch=explicit_branch)
        wap_id = self._conf.get("spark.wap.id")
        wb = self._conf.get("spark.wap.branch")
        if wap_id and wb:
            # Iceberg raises when both pins are set — UNCONDITIONALLY:
            # before consulting write.wap.enabled, and even for
            # wb='main' (silently preferring one would stage writes
            # somewhere the user doesn't expect, and a table without
            # the property would otherwise drop the wap.id pin on the
            # floor and land on the branch)
            raise TableError(
                "both spark.wap.id and spark.wap.branch are set; "
                "unset one (Iceberg rejects this too)"
            )
        if wap_id and t.properties().get("write.wap.enabled") == "true":
            return fn(wap_id=wap_id)
        if not wb or wb == MAIN:
            return fn(branch=MAIN)
        # auto-create with a bounded retry: a concurrent pinned writer
        # can (a) create the branch between our existence check and
        # create_branch (their create wins -> ours raises), or (b) DROP
        # it again right after (their failed statement rolls its
        # auto-created branch back) — so a single proceed-on-existing
        # check is not enough; loop check->create until one of the two
        # states sticks. Landing on a branch someone else created is
        # exactly what the pin means; created=False then, so OUR later
        # failure can't drop THEIR branch.
        created = False
        created_head = None
        for _ in range(10):
            if wb in t.branches():
                break
            try:
                # create_branch resolves the fork point under the refs
                # lock and returns it — any later value of the ref that
                # differs from this is someone else's commit (reading
                # head() here first would race a concurrent main commit)
                created_head = t.create_branch(wb)
                created = True
                break
            except BranchExistsError:
                # lost the create race — loop back to land on the
                # now-existing branch. Typed discrimination: re-probing
                # t.branches() here would itself race the winner's
                # rollback drop and mis-classify the race as
                # deterministic. Other TableErrors (uncommitted table,
                # bad name) raise on the first attempt like before.
                continue
        else:
            # 10 flapping check/create interleavings (a concurrent
            # writer kept creating-and-rolling-back the branch)
            raise TableError(
                f"could not create or land on branch {wb!r}: "
                "concurrent pinned writers kept creating and rolling "
                "it back; retry the statement"
            )
        try:
            return fn(branch=wb)
        except BaseException:
            # drop the branch we auto-created ONLY if it still points at
            # its creation head — a concurrent writer may have committed
            # to it in the meantime, and their commits must survive. The
            # compare and the pop are ONE locked callback: a
            # check-then-act here would let the writer's ref update land
            # between our read and our drop, deleting their commit's ref
            if created:
                try:
                    t.drop_branch_if_at(wb, created_head)
                except TableError:
                    pass
            raise

    def _dml_read_version(self, t: LakeTable) -> int | None:
        """The snapshot a pinned statement READS (None = main head): the
        ``spark.wap.branch`` head when the table has that branch.
        Deliberately branch-only — ``spark.wap.id``-staged data is
        INVISIBLE to reads until published (the Integrated Audits flow
        asserts main is unchanged); target-side chain composition is the
        WRITE path's job (``LakeTable._dml_commit_args``)."""
        wb = self._conf.get("spark.wap.branch")
        return t.branches().get(wb) if wb else None

    def _dml_write_version(self, t: LakeTable) -> int | None:
        """The snapshot whose SCHEMA a pinned write must align to
        (None = main head): unlike reads, the wap-<id> staged chain IS
        visible here — a staged schema-evolving merge's columns must be
        what the next staged INSERT/MERGE aligns and validates against,
        or staged DML stops composing."""
        wap_id = self._conf.get("spark.wap.id")
        if wap_id and t.properties().get("write.wap.enabled") == "true":
            return t.branches().get(f"wap-{wap_id}")
        return self._dml_read_version(t)

    def _write_schema_version(
        self, t: LakeTable, explicit_branch: str | None = None,
    ) -> int | None:
        """The snapshot whose schema a write aligns/validates against:
        the explicit ``.branch_<name>`` target's head when given (it may
        have evolved past main), else the pin logic."""
        if explicit_branch is not None:
            if explicit_branch == MAIN:
                return None
            return t.branches().get(explicit_branch)
        return self._dml_write_version(t)

    def _align_to_target(
        self, t: LakeTable, df: DataFrame,
        explicit_branch: str | None = None,
    ) -> DataFrame:
        """Positional INSERT alignment against the schema the write
        will see (one definition for both INSERT paths)."""
        return df.toDF(*[
            f.name
            for f in t.schema_fields(
                version=self._write_schema_version(t, explicit_branch))
        ])

    # -------------------------------------------------------------- SQL

    def sql(self, statement: str, **fmt: object) -> DataFrame | None:
        """Route one SQL statement (C5 — the ``%%sql`` magic path).

        f-string style parameterization (``WAP...ipynb:520`` interpolates
        snapshot ids) is supported via ``**fmt``.
        """
        if fmt:
            statement = statement.format(**fmt)
        # comment-strip ONCE, up front (r11 fuzz — generalizing the r10
        # wave-14 DESCRIBE fix to every route): `low`'s whitespace
        # collapse would let a `--` comment swallow the statement tail,
        # and comments inside keyword gaps would break every \s+ in the
        # statement-head regexes.
        # _strip_comments blanks comments to spaces and is string-
        # literal- and backtick-aware; stock spark.sql fall-throughs see
        # semantically identical text.
        # ... then collapse whitespace outside string literals so the
        # statement-head regexes' single-space keyword gaps match any
        # spelling (newlines, tabs, comment-blanked runs)
        s = _collapse_ws(_strip_comments(statement))
        s = s.strip().rstrip(";").strip()
        low = " ".join(s.lower().split())

        m = re.match(r"create database (?:if not exists )?((?:`[\w.]+`|[\w.])+)", low)
        if m:
            self.create_database(m.group(1))
            return None
        m = re.match(
            r"create table (if not exists )?((?:`[\w.]+`|[\w.])+)\s*"
            r"(?:using \w+\s*)?(?:partitioned by \((.*?)\)\s*)?"
            r"(?:tblproperties \((.*?)\)\s*)?as\s+(select\b.+)$",
            s, re.IGNORECASE | re.DOTALL,
        )
        if m:
            # W1 — CTAS: the SQL twin of ``df.write.saveAsTable``
            # (Getting Started.ipynb's create-then-insert collapsed to the
            # statement a Spark SQL user types first). IF NOT EXISTS is a
            # capture group, not a substring test — the SELECT text may
            # legitimately contain those words.
            ine, name, part, props, select = m.groups()
            if ine and self._exists(name):
                return None
            self.create_table(
                name,
                df=self.sql(select),
                partition_by=tuple(
                    p.strip() for p in _split_top(part or "") if p.strip()
                ),
                properties=_parse_props(props),
            )
            return None
        m = re.match(
            r"create table (if not exists )?((?:`[\w.]+`|[\w.])+)\s*\((.*?)\)\s*"
            r"(?:using \w+\s*)?(?:partitioned by \((.*?)\)\s*)?"
            r"(?:tblproperties \((.*?)\)\s*)?$",
            s, re.IGNORECASE | re.DOTALL,
        )
        if m:
            # D2 — CREATE TABLE (typed cols, PARTITIONED BY transform,
            # TBLPROPERTIES) (PyIceberg...ipynb:75; Table Maintenance:42)
            ine, name, cols, part, props = m.groups()
            if ine and self._exists(name):
                return None
            self.create_table(
                name,
                schema=", ".join(_split_top(cols)),
                partition_by=tuple(
                    p.strip() for p in _split_top(part or "") if p.strip()
                ),
                properties=_parse_props(props),
            )
            return None
        m = re.match(r"drop table (?:if exists )?((?:`[\w.]+`|[\w.])+)", low)
        if m:
            self.drop_table(m.group(1), if_exists=True)
            return None
        m = re.match(r"truncate table ((?:`[\w.]+`|[\w.])+)", low)
        if m:
            self.table(m.group(1)).truncate()
            return None
        # backticked spellings route to the SAME LakeTable.describe() as
        # the plain ones (r10 review wave 7: letting `DESCRIBE `db.t``
        # fall through to _run_select would DESCRIBE the temp view —
        # a different shape than the metadata rows describe() emits).
        # Any mix of backticks normalizes by stripping them; a name that
        # is NOT a lakeshed table (a temp view, say) falls through to
        # stock spark.sql DESCRIBE (r10 wave 9)
        if low.startswith("desc"):
            # `low` is safe here since r11: sql() comment-strips and
            # collapses EVERY statement up front, which subsumes the
            # r10 wave-14 per-branch recomputation this block used to
            # carry (a -- comment can no longer swallow the tail).
            # TABLE may combine with EXTENDED/FORMATTED (Spark accepts
            # DESCRIBE TABLE EXTENDED t); without the combined prefix
            # the word after TABLE parsed as the name, so 'extended'
            # could shadow a real table of that name (r10 ADVICE)
            m = re.match(
                r"desc(?:ribe)?\s+"
                r"(?:table\s+(?:extended\s+|formatted\s+)?"
                r"|extended\s+|formatted\s+)?"
                r"([`\w.]+)\s*(.*)$", low)
            if m:
                name = m.group(1).replace("`", "")
                # DESCRIBE DATABASE/FUNCTION/QUERY operate on other
                # object kinds even when a table spells that name
                if (name.split(".")[0] not in
                        ("database", "function", "query", "schema")
                        and self._exists(name)):
                    if m.group(2):
                        # column-/PARTITION-describe on a lakeshed
                        # table: not supported — raising beats silently
                        # returning whole-table rows or misrouting to
                        # the temp view
                        raise TableError(
                            f"DESCRIBE ... {m.group(2)!r} is not "
                            "supported on lakeshed tables; use "
                            "DESCRIBE <table>")
                    return self.table(name).describe()
        # not a lakeshed table (a temp view, say): fall through to
        # stock spark.sql DESCRIBE for any spelling (r10 waves 10-14)
        if low in ("show databases", "show namespaces"):
            return self.spark.createDataFrame(
                [(d,) for d in sorted(self.databases())],
                "namespace string",
            )
        m = re.match(r"show tables(?: (?:in|from) ((?:`[\w.]+`|[\w.])+))?$", low)
        if m:
            db = (m.group(1) or "default").replace("`", "")
            return self.spark.createDataFrame(
                [(db, t) for t in sorted(self.tables(db))],
                "namespace string, tableName string",
            )
        m = re.match(r"show\s+create\s+table\s+((?:`[\w.]+`|[\w.])+)$", s,
                     re.IGNORECASE)
        if m:
            # DDL round-trip: the emitted statement re-executes through
            # this same router to an equivalent table (tested)
            t = self.table(m.group(1))
            c = t._read_commit(t.head())
            cols = ",\n  ".join(
                f"{f.name} {f.type}" for f in t.schema_fields()
            )
            stmt = f"CREATE TABLE {m.group(1)} (\n  {cols})\nUSING lakeshed"
            if c.partition_spec:
                stmt += (
                    "\nPARTITIONED BY ("
                    + ", ".join(c.partition_spec) + ")"
                )
            if c.properties:
                # SQL-escape embedded quotes (doubled) so the emitted
                # DDL round-trips through the router's property parser
                esc = lambda x: (str(x).replace("\\", "\\\\")  # noqa: E731
                                 .replace("'", "''"))
                stmt += "\nTBLPROPERTIES (" + ", ".join(
                    f"'{esc(k)}'='{esc(v)}'"
                    for k, v in sorted(c.properties.items())
                ) + ")"
            return self.spark.createDataFrame(
                [(stmt,)], "createtab_stmt string"
            )
        m = re.match(r"show tblproperties ((?:`[\w.]+`|[\w.])+)$", low)
        if m:
            props = self.table(m.group(1)).properties()
            return self.spark.createDataFrame(
                sorted(props.items()), "key string, value string"
            )
        m = re.match(
            r"update ((?:`[\w.]+`|[\w.])+) set (.+)$", s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # split SET list from WHERE with a quote-aware scan — a lazy
            # regex would cut at a "where" INSIDE a string literal
            # (``SET msg = 'a where b'``)
            body, where = _split_where(m.group(2))
            assigns = {}
            for part in _split_top(body):
                col, _, expr = part.partition("=")
                assigns[col.strip().strip("`")] = expr.strip()
            # D14 — the wap pins scope DML too (WAP...ipynb cell 21
            # DELETEs against the staged branch); an explicit
            # .branch_<name> target outranks the pin (_dml_target)
            t, xbr = self._dml_target(m.group(1))
            self._run_dml(
                t, lambda **kw: t.update(assigns, where=where, **kw),
                explicit_branch=xbr,
            )
            return None
        m = re.match(
            r"delete from ((?:`[\w.]+`|[\w.])+) where (.+)$", s, re.IGNORECASE | re.DOTALL
        )
        if m:
            t, xbr = self._dml_target(m.group(1))
            self._run_dml(t, lambda **kw: t.delete(m.group(2), **kw),
                          explicit_branch=xbr)
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) add constraint (\w+) check \((.+)\)$",
            s, re.IGNORECASE | re.DOTALL,
        )
        if m:
            # Delta-style CHECK constraint (expression kept in original
            # case — it is SQL evaluated against the data)
            self.table(m.group(1)).add_constraint(m.group(2), m.group(3))
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) drop constraint (\w+)$", s, re.IGNORECASE
        )
        if m:
            self.table(m.group(1)).drop_constraint(m.group(2))
            return None
        m = re.match(
            r"insert overwrite (?:table )?((?:`[\w.]+`|[\w.])+)\s+(select\b.+|values\b.+)$",
            s, re.IGNORECASE | re.DOTALL,
        )
        if m:
            # INSERT OVERWRITE — one ATOMIC commit swapping the live file
            # set (Iceberg dynamic-overwrite semantics on an unpartitioned
            # spec; readers pin the old snapshot until the commit lands,
            # and time travel still reaches it)
            tbl, rest = m.group(1), m.group(2)
            df = (
                self.sql(rest) if rest.lower().startswith("select")
                else self.spark.sql(f"SELECT * FROM {rest}")
            )
            t, xbr = self._dml_target(tbl)
            df = self._align_to_target(t, df, explicit_branch=xbr)
            # same D14 staging contract as INSERT INTO below — the
            # full-table swap must not bypass a pinned WAP audit
            self._run_dml(t, lambda **kw: t.overwrite(df, **kw),
                          explicit_branch=xbr)
            return None
        m = re.match(
            # \b, not a literal space, after SELECT/VALUES: Spark
            # accepts VALUES(1,'a') glued to the paren (r11 wave 6 —
            # the spaced pattern silently fell through to spark.sql)
            r"insert into (?:table )?((?:`[\w.]+`|[\w.])+)"
            r" (select\b.+|values\b.+)$", s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            tbl, rest = m.group(1), m.group(2)
            if rest.lower().startswith("select"):
                # W4 — INSERT INTO SELECT (PaimonStream.java:94)
                df = self.sql(rest)
            else:
                # W3 — INSERT VALUES (Integrated Audits...ipynb:471)
                df = self.spark.sql(
                    f"SELECT * FROM {rest}"  # VALUES (...) relation
                )
            t, xbr = self._dml_target(tbl)
            # SQL INSERT is positional (W2: df.write.insertInto,
            # Table Maintenance...ipynb:77) — rename to target schema
            df = self._align_to_target(t, df, explicit_branch=xbr)
            # D14 — spark.wap.id pin + write.wap.enabled stages the write
            # (Integrated Audits...ipynb:191,461)
            self._run_dml(t, lambda **kw: t.append(df, **kw),
                          explicit_branch=xbr)
            return None
        m = re.match(
            r"call\s+(?:[\w]+\.)*(\w+)\s*\((.*)\)$", s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # Iceberg stored procedures — catalog-prefixed
            # (``CALL demo.system.rewrite_data_files(...)``), positional
            # OR named-arg (``table => 'x'``) forms; see _call_procedure.
            return self._call_procedure(m.group(1).lower(), m.group(2))
        if low.startswith("merge into "):
            self._merge_into(s)
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) create branch (?:if not exists )?(\w+)", low
        )
        if m:
            try:
                self.table(m.group(1)).create_branch(m.group(2))
            except BranchExistsError:
                # ONLY the already-exists case is the IF NOT EXISTS
                # no-op; other TableErrors (uncommitted table, bad name)
                # must surface regardless of the clause
                if "if not exists" not in low:
                    raise
            return None
        m = re.match(r"alter table ((?:`[\w.]+`|[\w.])+) drop branch (\w+)", low)
        if m:
            self.table(m.group(1)).drop_branch(m.group(2))
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) set tblproperties \((.*)\)$", s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # D9 (WAP...ipynb:143; Table Maintenance...ipynb:109)
            self.table(m.group(1)).set_properties(
                **_parse_props(m.group(2))
            )
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) unset tblproperties \((.*)\)$", s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            names = [p.strip().strip("'\"") for p in _split_top(m.group(2))]
            self.table(m.group(1)).unset_properties(*names)
            return None
        m = re.match(r"alter table ((?:`[\w.]+`|[\w.])+) add partition field (.+)$", low)
        if m:
            # D12 (Getting Started.ipynb:323; Berlin Buzzwords.ipynb:279)
            self.table(m.group(1)).add_partition_field(m.group(2).strip())
            return None
        m = re.match(r"alter table ((?:`[\w.]+`|[\w.])+) drop partition field (.+)$", low)
        if m:
            self.table(m.group(1)).drop_partition_field(m.group(2).strip())
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) alter column (\w+) comment (.+)$", s,
            re.IGNORECASE,
        )
        if m:
            self.table(m.group(1)).alter_column(
                m.group(2), comment=m.group(3).strip().strip("'\"")
            )
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) alter column (\w+) (first|after (\w+))$",
            low,
        )
        if m:
            # D7 position form (Getting Started.ipynb:171)
            if m.group(3) == "first":
                self.table(m.group(1)).alter_column(m.group(2), first=True)
            else:
                self.table(m.group(1)).alter_column(
                    m.group(2), after=m.group(4)
                )
            return None
        m = re.match(r"alter table ((?:`[\w.]+`|[\w.])+) drop column (\w+)$", s,
                     re.IGNORECASE)
        if m:
            # D6-D8 family — DROP COLUMN (field-id projection keeps old
            # files readable; the id is never reused). Matched against
            # the original-case statement: column names are case-
            # sensitive in the schema, and drop_column now raises on an
            # unknown name instead of committing a no-op.
            self.table(m.group(1)).drop_column(m.group(2))
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) rename column (\w+) to (\w+)", low
        )
        if m:
            self.table(m.group(1)).rename_column(m.group(2), m.group(3))
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) add column (\w+) ([\w<>,() ]+?)"
            r"(?: after (\w+))?$", low
        )
        if m:
            self.table(m.group(1)).add_column(
                m.group(2), m.group(3).strip(), after=m.group(4)
            )
            return None
        m = re.match(
            r"alter table ((?:`[\w.]+`|[\w.])+) alter column (\w+) type ([\w<>,() ]+)", low
        )
        if m:
            self.table(m.group(1)).alter_column(m.group(2), type=m.group(3))
            return None

        # plain query: resolve db.table / db.table.<meta> names as temp views
        return self._run_select(s)

    # -------------------------------------------------------- procedures

    def _call_procedure(self, proc: str, argstr: str) -> DataFrame | None:
        """Dispatch an Iceberg stored procedure (D15-D19).

        Both argument conventions the reference notebooks use are routed:

        - positional — ``CALL system.expire_snapshots('nyc.permits',
          1690000000000, 100)`` (Integrated Audits Demo.ipynb cell 52);
        - named — ``CALL demo.system.expire_snapshots(table =>
          'nyc.taxis_sample', older_than => TIMESTAMP '...', retain_last
          => 1)`` and ``rewrite_data_files(table => ..., options =>
          map('target-file-size-bytes','52428800'))`` (Table Maintenance
          Spark Procedures.ipynb cells 9/13 — verbatim cells a reference
          user pastes).

        ``TIMESTAMP '...'`` literals resolve to epoch-ms (naive = UTC,
        same convention as ``TIMESTAMP AS OF``); ``map(...)`` literals
        become dicts. Maintenance procedures return a 1-row result frame
        like Iceberg's (the notebooks call ``.show()`` on it)."""
        pos, named = _parse_call_args(argstr)

        def arg(name: str, idx: int, default: object = None) -> object:
            if name in named:
                return named[name]
            if idx < len(pos):
                return pos[idx]
            return default

        tbl = arg("table", 0)
        if not isinstance(tbl, str):
            raise TableError(f"CALL {proc}: missing table argument")
        t = self.table(tbl)
        if proc == "rollback_to_snapshot":
            t.rollback_to_snapshot(int(arg("snapshot_id", 1)))
            return None
        if proc == "cherrypick_snapshot":
            t.cherrypick_snapshot(int(arg("snapshot_id", 1)))
            return None
        if proc == "rewrite_manifests":
            v = t.rewrite_manifests()
            return self.spark.createDataFrame(
                [(v,)], "checkpointed_version bigint"
            )
        if proc == "remove_orphan_files":
            older = arg("older_than", 1)
            kwargs = (
                {"older_than_timestamp_ms": int(older)}
                if older is not None else {}
            )
            removed = t.remove_orphan_files(**kwargs)
            return self.spark.createDataFrame(
                [(len(removed),)], "orphan_file_location_count bigint"
            )
        if proc == "expire_snapshots":
            older = arg("older_than", 1)
            expired = t.expire_snapshots(
                older_than_ms=int(older) if older is not None else None,
                retain_last=int(arg("retain_last", 2, 1)),
            )
            return self.spark.createDataFrame(
                [(len(expired),)], "deleted_snapshots_count bigint"
            )
        if proc == "rewrite_data_files":
            opts = arg("options", 3, {}) or {}
            if not isinstance(opts, dict):
                raise TableError("rewrite_data_files: options must be map()")
            kwargs: dict[str, object] = {}
            size = opts.get("target-file-size-bytes")
            if size is not None:
                kwargs["target_size_bytes"] = int(size)
            strategy = arg("strategy", 1)
            order = arg("sort_order", 2)
            if order is not None:
                zm = re.match(r"zorder\s*\((.*)\)$", str(order).strip(),
                              re.IGNORECASE)
                cols = [
                    c.strip().split()[0]  # drop ASC/DESC/NULLS qualifiers
                    for c in _split_top(zm.group(1) if zm else str(order))
                ]
                kwargs["zorder_by" if zm else "sort_by"] = cols
            elif strategy == "sort":
                raise TableError(
                    "rewrite_data_files(strategy => 'sort') needs sort_order"
                )
            c = t.compact(**kwargs)
            return self.spark.createDataFrame(
                [(len(c.remove), len(c.add))],
                "rewritten_data_files_count bigint, "
                "added_data_files_count bigint",
            )
        if proc == "compact_span_index":
            # lakeshed extension (not an Iceberg procedure): row-level
            # compaction of an LLM span index + ledger retention — the
            # maintenance op rides the same CALL surface as its
            # file-level siblings so pipelines schedule it the same way
            from lakeshed.llm.dedup import compact_span_index

            retention = arg("ledger_retention_ms", 1)
            # use the op's own Commit — re-reading t.head() here can
            # race a concurrent ingest onto an append commit whose
            # summary lacks these keys (wave 31)
            c = compact_span_index(
                t,
                ledger_retention_ms=(
                    int(retention) if retention is not None else None),
            )
            return self.spark.createDataFrame(
                [(int(c.summary["compacted-files"]),
                  int(c.summary["ledger-pruned"]))],
                "compacted_data_files_count bigint, "
                "pruned_ledger_entries_count bigint",
            )
        raise TableError(f"unknown procedure {proc!r}")

    # -------------------------------------------------------- MERGE INTO

    def _merge_into(self, s: str) -> None:
        """W5/W6 as SQL text — ``MERGE INTO target [AS] t USING source
        [AS] s ON t.k = s.k WHEN MATCHED [AND cond] THEN UPDATE SET * |
        col = expr, ... | DELETE WHEN NOT MATCHED [AND cond] THEN INSERT
        *`` — the statement shape SURVEY §2.2 maps the Flink changelog
        sink (``IcebergStream.java:116-120``) to. Routes to
        :meth:`lakeshed.table.LakeTable.merge`; conditional UPDATE
        compiles each assignment to ``CASE WHEN cond THEN expr ELSE
        t.col END`` so it rides the same rewrite projection.

        Everything comes off Spark's own ``MergeIntoTable`` node: the
        target and source (a name or a subquery, each with its alias),
        the ON equalities and each WHEN action's kind, condition and
        assignments. Column references are renamed by position to the
        ``t.``/``s.`` prefixes ``merge()`` evaluates against."""
        plan = self._parse(s)
        if plan is None or plan.nodeName() != "MergeIntoTable":
            raise TableError(f"cannot parse MERGE INTO: {s[:80]!r}")
        talias, trel = _unalias(plan.targetTable())
        salias, src = _unalias(plan.sourceTable())
        if trel.nodeName() != "UnresolvedRelation":
            raise TableError(f"cannot parse MERGE target: {s[:80]!r}")
        tparts = _flat(_parts(trel.multipartIdentifier()))
        sparts: list[str] = []
        if src.nodeName() == "UnresolvedRelation":
            sparts = _flat(_parts(src.multipartIdentifier()))
            src_name = ".".join(sparts)
            if self._exists(src_name):
                # the pins redirect catalog-table SOURCE reads exactly
                # like plain SELECTs (a subquery source routed through
                # _run_select already does)
                t_src = self.table(src_name)
                src_df = t_src.read(version=self._dml_read_version(t_src))
            else:
                src_df = self.spark.table(src_name)
        else:
            # a subquery source: its text is the union of its nodes' spans
            rels, nodes = _plan_walk(src)
            spans = [sp for sp in map(_span, [n for _, n in nodes]
                                      + [r for r, _, _ in rels]) if sp]
            src_df = self._run_select(
                s[min(a for a, _ in spans):max(b for _, b in spans)])
            salias = salias or "s"

        t_obj, xbr = self._dml_target(".".join(tparts))
        # validate/expand against the schema the merge will WRITE — a
        # pinned branch, explicit .branch_<name> target, or staged
        # wap-id chain may have evolved past main
        target_cols = [
            f.name for f in
            t_obj.schema_fields(
                version=self._write_schema_version(t_obj, xbr))
        ]

        # The qualifiers that name each side: its alias, or — unaliased —
        # its name with or without this catalog's prefix. A name-spelled
        # qualifier whose LEADING part is a target or source column is a
        # struct path (nyc.m3.f can be column nyc's field m3.f), not a
        # side reference, and is left as written.
        cat = self.name.lower()

        def forms(alias: str | None, parts: list[str]) -> set[tuple]:
            if alias is not None:
                return {(alias.lower(),)}
            p = tuple(x.lower() for x in parts)
            return {p, p[1:] if len(p) > 2 and p[0] == cat else (cat,) + p}

        sides = (("t", forms(talias, tparts), talias is None),
                 ("s", forms(salias, sparts), salias is None))
        shadowed = ({c.lower() for c in target_cols}
                    | {c.lower() for c in src_df.columns})

        def side(parts: list[str]) -> tuple[str | None, list[str]]:
            for sd, fm, named in sides:
                if named and parts[0].lower() in shadowed:
                    continue
                for i in range(len(parts) - 1, 0, -1):
                    if tuple(x.lower() for x in _flat(parts[:i])) in fm:
                        return sd, parts[i:]
            return None, parts

        def text(e, bare: bool = False) -> str:
            """An expression's text with each side-qualified column
            renamed to ``t.col``/``s.col``. ``bare`` (WHEN NOT MATCHED BY
            SOURCE, evaluated on target-only rows): to ``col``, and a
            source column raises — there is no source row to read."""
            span = _span(e)
            if span is None:
                return e.sql()
            edits = []
            for leaf in _seq(e.collectLeaves()):
                if leaf.nodeName() != "UnresolvedAttribute":
                    continue
                parts = _parts(leaf.nameParts())
                sd, rest = side(parts)
                sp = _span(leaf)
                if sd is None or not sp or not _spells(s[sp[0]:sp[1]],
                                                       parts):
                    continue
                if bare and sd == "s":
                    raise TableError("WHEN NOT MATCHED BY SOURCE cannot "
                                     "reference source columns")
                edits.append((sp[0] - span[0], sp[1] - span[0],
                              ("" if bare else sd + ".")
                              + ".".join(map(_ident, rest))))
            return _splice(s[span[0]:span[1]], edits)

        def cond(action, bare: bool = False) -> str | None:
            c = action.condition()
            return text(c.get(), bare) if c.isDefined() else None

        # Spark resolves identifiers case-insensitively — canonicalize
        # assignment targets to the schema's casing so `SET t.V = ...`
        # hits column `v`; a typo'd column raises instead of being
        # silently dropped by merge()'s projection
        target_ci = {c.lower(): c for c in target_cols}

        def assignments(action, bare: bool = False) -> dict[str, str]:
            out = {}
            for a in _seq(action.assignments()):
                col = _parts(a.key().nameParts())[-1]
                col = target_ci.get(col.lower(), col)
                if col not in target_cols:
                    raise TableError(
                        f"unknown column {col!r} in MERGE UPDATE SET "
                        f"(target has {target_cols})")
                out[col] = text(a.value(), bare)
            return out

        keys: list[str] = []
        todo = [plan.mergeCondition()]
        while todo:
            e = todo.pop()
            kind = e.nodeName()
            if kind == "And":
                todo.extend(reversed(_seq(e.children())))
                continue
            ops = [side(_parts(o.nameParts())) for o in _seq(e.children())
                   if o.nodeName() == "UnresolvedAttribute"]
            if (kind != "EqualTo" or len(ops) != 2
                    or {ops[0][0], ops[1][0]} != {"t", "s"}
                    or len(ops[0][1]) != 1 or len(ops[1][1]) != 1
                    or ops[0][1][0].lower() != ops[1][1][0].lower()):
                raise TableError(
                    f"MERGE ON must be t.col = s.col equalities, "
                    f"got {text(e)!r}")
            keys.append(ops[0][1][0])

        # merge() arguments; absent clauses must be None, not its defaults
        args: dict = {"when_matched_update": None,
                      "when_not_matched_insert": None}
        for action in _seq(plan.matchedActions()):
            kind, c = action.nodeName(), cond(action)
            if kind == "DeleteAction":
                args["when_matched_delete"] = c or "true"
            elif kind == "UpdateStarAction":
                args["when_matched_update"] = "*" if c is None else {
                    col: f"CASE WHEN {c} THEN s.`{col}` ELSE t.`{col}` END"
                    for col in target_cols if col in src_df.columns
                }
            else:
                args["when_matched_update"] = {
                    col: e if c is None
                    else f"CASE WHEN {c} THEN {e} ELSE t.`{col}` END"
                    for col, e in assignments(action).items()
                }
        for action in _seq(plan.notMatchedActions()):
            # WHEN NOT MATCHED BY TARGET is the same clause
            if action.nodeName() != "InsertStarAction":
                raise TableError(
                    "only WHEN NOT MATCHED THEN INSERT * is supported")
            args["when_not_matched_insert"] = cond(action) or "*"
        for action in _seq(plan.notMatchedBySourceActions()):
            # Spark 4 / Delta: acts on TARGET-only rows
            c = cond(action, bare=True)
            if action.nodeName() == "DeleteAction":
                args["when_not_matched_by_source_delete"] = c or "true"
            else:
                args["when_not_matched_by_source_update"] = assignments(
                    action, bare=True)
                args["when_not_matched_by_source_condition"] = c
        # D14 — MERGE respects the wap pins like every other DML
        # statement (reads the pinned state, stages/commits accordingly).
        # Standard SQL MERGE scope: matched-clause conditions never apply
        # to unmatched rows (the changelog netting default would
        # silently drop an unmatched row satisfying the DELETE condition
        # instead of inserting it).
        self._run_dml(t_obj, lambda **kw: t_obj.merge(
            src_df, keys, net_unmatched_deletes=False, **args, **kw,
        ), explicit_branch=xbr)

    # ------------------------------------------------------------ SELECT

    def _parse(self, s: str):
        """Spark's own parse of ``s`` — a JVM ``LogicalPlan`` whose nodes
        carry every relation and column name with the exact span of
        text it was read from — or None when Spark's grammar rejects
        the text."""
        try:
            return (self.spark._jsparkSession.sessionState().sqlParser()
                    .parsePlan(s))
        except (CapturedException, Py4JJavaError):
            return None

    def _lake_rel(self, parts: list[str]):
        """``(table, key, suffix)`` when a relation name reads a lakeshed
        table — ``[<catalog>.]db.t``, optionally followed by a metadata
        relation (``.snapshots``, S7) or ``.branch_<b>`` (S6) — else None.
        ``key`` is the lower-cased ``(db, t[, suffix])`` the name
        resolved to. Quoting carries no information (lakeshed names are
        \\w-only), so a whole-ticked `nyc.t` reads like nyc.t."""
        flat = _flat(parts)
        cands = [flat]
        if len(flat) > 2 and flat[0].lower() == self.name.lower():
            cands.insert(0, flat[1:])
        for c in cands:
            suffix = c[2] if len(c) == 3 else None
            if len(c) not in (2, 3) or not (
                    suffix is None or suffix.lower() in _META_TABLES
                    or suffix.lower().startswith("branch_")):
                continue
            t = LakeTable(self.spark, os.path.join(self.warehouse, *c[:2]))
            if t.exists():
                return t, tuple(x.lower() for x in c), suffix
        return None

    def _view(self, t: LakeTable, suffix: str | None, travel, text: str,
              made: set[str]) -> str:
        """The temp view one lakeshed relation reads through: the table
        (D14: at the ``spark.wap.branch`` head when pinned), a metadata
        relation, a ``.branch_<b>`` head, or a ``VERSION``/``TIMESTAMP
        AS OF`` pin (D20/S6; ``travel`` is Spark's RelationTimeTravel
        node, ``text`` the relation's text through its AS OF clause).
        Created once per statement."""
        db, tbl = t.path.split(os.sep)[-2:]
        view, read = f"__lakeshed_{db}_{tbl}", t.read
        if travel is not None and suffix is not None:
            raise TableError(
                f"time travel reads a table, not {db}.{tbl}.{suffix}")
        if travel is None and suffix is None:
            # D14 — spark.wap.branch redirects plain READS too
            # (WAP...ipynb cells 18-26); tables without that branch read
            # main. One resolver serves SELECTs, MERGE sources, and
            # INSERT schema alignment.
            pin = {"version": self._dml_read_version(t)}
        elif suffix is not None and suffix.lower() in _META_TABLES:
            view = f"{view}_{suffix.lower()}"
            read, pin = getattr(t, suffix.lower()), {}
        elif suffix is not None:
            branch = suffix[len("branch_"):]
            view, pin = f"{view}_br_{branch}", {"branch": branch}
        elif travel.version().isDefined():
            tag = travel.version().get()
            view = f"{view}_v_{tag}"
            pin = ({"branch": tag} if text[-1] in "'\""  # AS OF '<b>'
                   else {"version": int(tag)})
        else:
            # TIMESTAMP AS OF <epoch-ms | 'ISO datetime'>, resolved
            # against the commit log's timestamp_ms
            ts = travel.timestamp().get()
            lit = ts.value() if ts.nodeName() == "Literal" else None
            if lit is None:
                raise TableError(
                    "TIMESTAMP AS OF takes epoch ms or a quoted "
                    f"timestamp, got {ts.sql()!r}")
            ms = lit if isinstance(lit, int) else _ts_ms(str(lit))
            view, pin = f"{view}_ts_{ms}", {"as_of_ms": ms}
        if view not in made:
            read(**pin).createOrReplaceTempView(view)
            made.add(view)
        return view

    def _run_select(self, s: str) -> DataFrame:
        """Run a query on stock Spark SQL with each lakeshed relation it
        reads spliced out for a temp view. Spark's own parser finds the
        relations — in FROM/JOIN, subqueries, CTE bodies, time travel
        and hint arguments — so a name inside a string literal, a
        comment or a column alias is never one. Qualified column
        prefixes (``nyc.taxis.fare``) follow the relation only where it
        is read unaliased; a struct path that merely spells a table name
        stays as written. Text Spark cannot parse goes to ``spark.sql``
        unchanged, which raises Spark's own error."""
        plan = self._parse(s)
        if plan is None:
            return self.spark.sql(s)
        rels, nodes = _plan_walk(plan)
        edits: list[tuple[int, int, str]] = []
        made: set[str] = set()
        views: dict[tuple, str] = {}      # relation key -> view
        unaliased: dict[tuple, str] = {}  # the same, read without alias
        for rel, travel, aliased in rels:
            parts = _parts(rel.multipartIdentifier())
            hit = self._lake_rel(parts)
            span = hit and _span(rel)
            if not span or not _spells(s[span[0]:span[1]], parts):
                continue
            t, key, suffix = hit
            a, b = span
            if travel is not None:
                b = _span(travel)[1]
            view = self._view(t, suffix, travel, s[a:b], made)
            edits.append((a, b, view))
            views.setdefault(key, view)
            if not aliased:
                unaliased.setdefault(key, view)

        def qualified(parts: list[str], keys: dict, whole: bool = False):
            """(view, rest) when a leading run of ``parts`` (``whole``:
            all of them) names a relation in ``keys``, catalog prefix
            optional."""
            for i in [len(parts)] if whole else range(len(parts) - 1, 0, -1):
                k = tuple(x.lower() for x in _flat(parts[:i]))
                if k not in keys and len(k) > 2 and k[0] == self.name.lower():
                    k = k[1:]
                if k in keys:
                    return keys[k], parts[i:]
            return None

        # a qualified reference to a relation must spell its name, so the
        # expressions are walked only when a name recurs outside the
        # relation spans (hint arguments are relation names too)
        rest = list(s.lower())
        for a, b, _ in edits:
            rest[a:b] = " " * (b - a)
        rest = "".join(rest)
        if any(k[-1] in rest for k in views):
            for kind, node in nodes:
                hint = kind == "UnresolvedHint"
                for e in _seq(node.expressions()):
                    for leaf in _seq(e.collectLeaves()):
                        lk = leaf.nodeName()
                        if lk == "UnresolvedAttribute":
                            parts = _parts(leaf.nameParts())
                        elif (lk == "UnresolvedStar"
                              and leaf.target().isDefined()):
                            parts = _parts(leaf.target().get()) + ["*"]
                        else:
                            continue
                        # a hint argument may name the relation itself,
                        # aliased or not (BROADCAST(nyc.t))
                        m = ((hint and qualified(parts, views, whole=True))
                             or qualified(parts, unaliased))
                        span = m and _span(leaf)
                        if not span or not _spells(s[span[0]:span[1]],
                                                   parts):
                            continue
                        a, b = span
                        view, tail = m
                        edits.append((a, b, ".".join(
                            [view] + [p if p == "*" else _ident(p)
                                      for p in tail])))
        return self.spark.sql(_splice(s, edits))


def _parts(seq) -> list[str]:
    """A JVM ``Seq[String]`` of name parts as a list (one round trip)."""
    return seq.mkString("\x1f").split("\x1f")


def _flat(parts: list[str]) -> list[str]:
    """Name parts with dotted parts split — `nyc.t`.k ≡ nyc.t.k."""
    return [p for part in parts for p in part.split(".")]


def _seq(seq) -> list:
    """The elements of a JVM ``Seq``."""
    return [seq.apply(i) for i in range(seq.size())]


def _span(node) -> tuple[int, int] | None:
    """``[start, end)`` of the text a parsed node was read from; None
    for the shared constants (``true``, ``false``) the parser reuses."""
    o = node.origin()
    a = o.startIndex()
    return (a.get(), o.stopIndex().get() + 1) if a.isDefined() else None


def _spells(text: str, parts: list[str]) -> bool:
    """Whether ``text`` spells the name ``parts`` (quoting and spacing
    aside) — the guard before a span is spliced: some parsed names carry
    their whole clause's span (LATERAL VIEW and UNPIVOT output columns,
    MERGE SET targets)."""
    def norm(x: str) -> str:
        return "".join(x.split()).replace("`", "").lower()
    return norm(text) == norm(".".join(parts))


def _ident(part: str) -> str:
    """One name part as SQL: bare when the lexer reads it as an
    identifier, else backticked."""
    if part.isascii() and part.isidentifier():
        return part
    return "`" + part.replace("`", "``") + "`"


def _splice(s: str, edits: list[tuple[int, int, str]]) -> str:
    """``s`` with each ``(start, end, text)`` span replaced."""
    out, pos = [], 0
    for a, b, text in sorted(edits):
        out += [s[pos:a], text]
        pos = b
    out.append(s[pos:])
    return "".join(out)


def _unalias(node):
    """``(alias or None, relation)`` for a MERGE target/source node."""
    if node.nodeName() == "SubqueryAlias":
        return node.alias(), node.child()
    return None, node


def _plan_walk(plan):
    """Every relation (or command target) a parsed plan names — in the
    main tree, in Spark's ``innerChildren`` (subquery expressions, CTE
    bodies) and under EXPLAIN — as ``(relation, RelationTimeTravel or
    None, aliased)``, and every other plan node as ``(kind, node)``."""
    rels, nodes = [], []
    todo = [(plan, False)]
    while todo:
        node, aliased = todo.pop()
        kind = node.nodeName()
        if kind in ("UnresolvedRelation", "UnresolvedTableOrView"):
            rels.append((node, None, aliased))
        elif kind == "RelationTimeTravel":
            rels.append((node.relation(), node, aliased))
        elif kind == "ExplainCommand":
            todo.append((node.logicalPlan(), False))
        else:
            nodes.append((kind, node))
            todo += [(c, kind == "SubqueryAlias")
                     for c in _seq(node.children())]
            todo += [(c, False) for c in _seq(node.innerChildren())]
    return rels, nodes


def _ts_ms(literal: str) -> int:
    """Timestamp literal → epoch ms; naive means UTC. The ONE shared
    convention for ``TIMESTAMP AS OF`` and CALL ``older_than`` — keep
    these from drifting apart."""
    dt = datetime.fromisoformat(literal)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return round(dt.timestamp() * 1000)


def _call_value(v: str) -> object:
    """One CALL argument value → python: quoted string, integer,
    ``TIMESTAMP '...'`` (→ epoch ms, naive = UTC like TIMESTAMP AS OF),
    or ``map('k','v', ...)`` (→ dict)."""
    v = v.strip()
    m = re.match(r"timestamp\s+'([^']+)'$", v, re.IGNORECASE)
    if m:
        return _ts_ms(m.group(1))
    m = re.match(r"map\s*\((.*)\)$", v, re.IGNORECASE | re.DOTALL)
    if m:
        items = [_call_value(x) for x in _split_top(m.group(1))]
        if len(items) % 2:
            raise TableError(f"map() needs key/value pairs: {v!r}")
        return dict(zip(items[::2], items[1::2]))
    if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
        return _unquote(v)
    if re.match(r"-?\d+$", v):
        return int(v)
    return v


def _unquote(x: str) -> str:
    """Strip one layer of quotes and unescape: doubled quote chars
    ('it''s') and backslash escapes round-trip (SHOW CREATE emits both).
    The ONE unescaper shared by CALL argument values and TBLPROPERTIES —
    a fix applied to one must not diverge from the other."""
    x = x.strip()
    if len(x) >= 2 and x[0] == x[-1] and x[0] in "'\"":
        inner = x[1:-1].replace(x[0] * 2, x[0])
        return re.sub(r"\\(.)", r"\1", inner)
    return x


def _parse_call_args(argstr: str) -> tuple[list[object], dict[str, object]]:
    """Split a CALL argument list into (positional, named) — named uses
    Iceberg's ``name => value`` arrows; values parsed by :func:`_call_value`."""
    pos: list[object] = []
    named: dict[str, object] = {}
    for part in _split_top(argstr):
        m = re.match(r"(\w+)\s*=>\s*(.+)$", part, re.DOTALL)
        if m:
            named[m.group(1).lower()] = _call_value(m.group(2))
        else:
            pos.append(_call_value(part))
    return pos, named


def _block_comment_end(t: str, i: int) -> int:
    """Index just past the ``*/`` matching the block comment (or hint)
    opening at ``i`` — nesting-aware (Spark 3.0+ bracketed comments
    nest); an unterminated block runs to end of text. THE one depth
    walker `_quoted_spans` and `_bt_masks` share (r11 wave 6: two
    copies of this loop were one drift away from the wave-2 class of
    span-corruption bug)."""
    depth, j = 1, i + 2
    n = len(t)
    while j < n and depth:
        if t.startswith("/*", j):
            depth += 1
            j += 2
        elif t.startswith("*/", j):
            depth -= 1
            j += 2
        else:
            j += 1
    return j


def _hint_end(t: str, i: int) -> int:
    """Index just past the ``*/`` closing the /*+ hint opening at ``i``
    — the hint-body walk ``_bt_masks`` uses, mirroring construct-by-
    construct what ``_quoted_spans`` lexes in-line (r11 wave 9: the two
    previously used _block_comment_end here, which is backtick-blind,
    so ``BROADCAST(`a*/b`)`` ended the hint early for one walker only
    and desynced every downstream span). Spark lexes hint bodies as a
    normal token stream, so a backticked identifier is atomic (its
    ``*/`` is identifier text); a nested plain ``/* */`` block is
    consumed atomically via the shared depth walker; a nested ``/*+``
    nests. String literals are the caller's concern: _quoted_spans
    records them in-line, and _bt_masks receives them pre-masked (a
    literal's ``*/`` is already spaces). An unterminated hint runs to
    end of text."""
    depth, j = 1, i + 3
    n = len(t)
    while j < n and depth:
        c = t[j]
        if c == "`":
            k = t.find("`", j + 1)
            j = (n - 1 if k < 0 else k) + 1
        elif t.startswith("/*+", j):
            depth += 1
            j += 3
        elif t.startswith("/*", j):
            j = _block_comment_end(t, j)
        elif t.startswith("*/", j):
            depth -= 1
            j += 2
        else:
            j += 1
    return j


def _quoted_spans(s: str) -> list[tuple[int, int]]:
    """(start, end) spans of single-/double-quoted literals in ``s``.
    The ONE quote scanner every helper shares. Handles backslash escapes
    (``'it\\'s'``) and SQL doubled quotes (``'it''s'`` scans as two
    adjacent literals — same spans for our purposes).

    Positional precedence with comments, hints and backticked
    identifiers (r11 review wave 3): whichever construct OPENS first
    consumes its span, so an apostrophe inside ``-- don't`` or inside
    ``` `a'b` ``` is NOT a literal opener. The pre-r11 quotes-first scan
    let a quote inside a comment open a phantom literal that masked the
    comment's terminator — _strip_comments then leaked comment text
    into the statement."""
    spans: list[tuple[int, int]] = []
    quote, start = None, 0
    hint = 0  # /*+ hint */ nesting depth — see the /* branch below
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == "\\":
                i += 2
                continue
            if ch == quote:
                spans.append((start, i + 1))
                quote = None
        elif ch in "'\"":
            quote, start = ch, i
        elif ch == "`":
            j = s.find("`", i + 1)
            i = (n - 1 if j < 0 else j) + 1
            continue
        elif ch == "-" and i + 1 < n and s[i + 1] == "-" and not hint:
            # `--` INSIDE a hint body is hint text, not a line comment
            # (r11 wave 8): _bt_masks consumes the whole hint atomically
            # via _block_comment_end, so treating `--` as a comment here
            # desynchronized the two walkers — literals AFTER the hint
            # lost quote protection and _strip_comments truncated at a
            # `--` inside a post-hint literal.
            j = s.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        elif ch == "/" and i + 1 < n and s[i + 1] == "*":
            if s[i + 2:i + 3] == "+":
                # /*+ HINT — TRANSPARENT to this scan (r11 wave 7): a
                # hint argument naming a lakeshed relation must be
                # rewritten along with the query (BROADCAST(nyc.t) has
                # to follow the FROM clause's temp-view rename or Spark
                # drops the hint), so only the STRING LITERALS inside a
                # hint are protected (wave 4: FOO('a  b') payloads must
                # not be collapsed or rewritten) — the scan lexes the
                # body with the depth tracked so the closing */ is
                # consumed at the same position _hint_end walks to for
                # _bt_masks (r11 wave 9: the two walkers must agree
                # construct-by-construct, not just end-to-end).
                hint += 1
                i += 2
                continue
            # plain comment — ATOMIC nesting-aware skip, in or out of a
            # hint (r11 waves 4/9: ending at the first */ corrupted
            # inner blocks; lexing a hint-nested comment char-by-char
            # let an apostrophe inside it open a phantom literal)
            i = _block_comment_end(s, i)
            continue
        elif hint and ch == "*" and i + 1 < n and s[i + 1] == "/":
            hint -= 1
            i += 2
            continue
        i += 1
    if quote:
        spans.append((start, n))
    return spans


def _mask_quotes(s: str) -> str:
    """``s`` with every quoted literal replaced by spaces (same length)
    — run detection regexes on the mask, slice/replace on the original."""
    out = list(s)
    for a, b in _quoted_spans(s):
        for i in range(a, b):
            out[i] = " "
    return "".join(out)


def _collapse_ws(s: str) -> str:
    """Whitespace runs OUTSIDE string literals and backticked
    identifiers collapsed to one space (case and content untouched) —
    the router's statement-head regexes use single literal spaces
    between keywords, so newlines and comment-blanked gaps must
    normalize before matching (r11 fuzz), but a run inside ``'a  b'``
    is data and ``` `a  b` ``` is a (hostile but legal) identifier.
    Quote spans come from the raw text, backtick spans from the
    quote-masked text (the shared :func:`_backtick_spans` scanner)."""
    qspans = _quoted_spans(s)
    ms_l = list(s)  # mask derived from the spans already in hand —
    for a, b in qspans:  # calling _mask_quotes would re-scan (wave 5)
        for i in range(a, b):
            ms_l[i] = " "
    protected = qspans + _backtick_spans("".join(ms_l))
    # DEFENSIVE overlap merge: the r11 wave-3 interleaved lexer makes
    # these span sets disjoint by construction (ticks win by position,
    # and the backtick scan runs on the quote-masked text) — but an
    # overlap once duplicated spliced text and corrupted statements
    # (wave 2), so the 6-line invariant net stays against scanner drift
    merged: list[tuple[int, int]] = []
    for a, b in sorted(protected):
        if merged and a < merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], b))
        else:
            merged.append((a, b))
    out, pos = [], 0
    for a, b in merged:
        out.append(re.sub(r"\s+", " ", s[pos:a]))
        out.append(s[a:b])
        pos = b
    out.append(re.sub(r"\s+", " ", s[pos:]))
    return "".join(out)


def _backtick_spans(ms: str) -> list[tuple[int, int]]:
    """Spans of backtick-quoted identifiers in a QUOTE-MASKED text
    (an unterminated tick runs to end of text). Comment-blind by
    design: callers that must interleave comment classification (a
    backtick inside ``/* */`` is comment text) go through
    :func:`_bt_masks`, the authoritative combined walker — this helper
    serves the positions-only consumers (r11 review: three hand-rolled
    copies of this walk risked drifting apart)."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(ms)
    while i < n:
        if ms[i] == "`":
            j = ms.find("`", i + 1)
            j = n - 1 if j < 0 else j
            spans.append((i, j + 1))
            i = j + 1
        else:
            i += 1
    return spans


def _strip_comments(s: str) -> str:
    """``s`` with /* */ and -- comments blanked to spaces — string
    literals and backticked identifiers are opaque (a ``--`` inside
    either is data, not a comment). Derived FROM :func:`_bt_masks`
    rather than re-walking the text: comment positions are exactly
    where the combined walker's mcs diverges from the quote mask."""
    ms = _mask_quotes(s)
    mcs, _ = _bt_masks(ms)
    return "".join(
        " " if a != b else c for a, b, c in zip(ms, mcs, s)
    )


def _bt_masks(ms: str) -> tuple[str, str]:
    """One left-to-right pass over quote-masked text classifying block
    comments, line comments and backticked identifiers TOGETHER — a
    ``--`` inside an identifier is identifier text, a backtick inside a
    comment is comment text (r10 waves 11-12; two-regex ordering gets
    one or the other wrong). Returns (mcs, mscan): comments blanked
    with identifiers intact, and both blanked for position scanning."""
    mcs = list(ms)
    mscan = list(ms)
    i, n = 0, len(ms)
    while i < n:
        ch = ms[i]
        if ch == "`":
            j = ms.find("`", i + 1)
            j = n - 1 if j < 0 else j
            for k in range(i, j + 1):
                mscan[k] = " "
            i = j + 1
        elif ch == "/" and i + 1 < n and ms[i + 1] == "*":
            # A /*+ HINT is syntactically a comment but a Spark
            # directive: keep it in mcs (so _strip_comments preserves
            # it verbatim) while blanking it in mscan (so position/
            # keyword scans skip its text) — r11 waves 3/7. Its end is
            # found by _hint_end (backtick-aware, r11 wave 9), plain
            # comments by the nesting-aware shared walker (wave 4).
            hint = i + 2 < n and ms[i + 2] == "+"
            j = _hint_end(ms, i) if hint else _block_comment_end(ms, i)
            for k in range(i, j):
                if hint:
                    mscan[k] = " "
                else:
                    mcs[k] = mscan[k] = " "
            i = j
        elif ch == "-" and i + 1 < n and ms[i + 1] == "-":
            j = ms.find("\n", i)
            j = n if j < 0 else j
            for k in range(i, j):
                mcs[k] = mscan[k] = " "
            i = j
        else:
            i += 1
    return "".join(mcs), "".join(mscan)


def _split_where(s: str) -> tuple[str, str | None]:
    """Split ``<expr list> [WHERE <pred>]`` at the first top-level WHERE
    keyword OUTSIDE quotes/parens; returns (head, predicate-or-None)."""
    masked = _mask_quotes(s)
    low = masked.lower()
    depth = 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (depth == 0 and low.startswith("where", i)
              and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_"))
              and (i + 5 == len(low)
                   or not (low[i + 5].isalnum() or low[i + 5] == "_"))):
            return s[:i].strip(), s[i + 5:].strip() or None
    return s.strip(), None


def _split_top(s: str) -> list[str]:
    """Split on commas not nested in parens/quotes (UPDATE SET lists) —
    comma positions come from the quote-masked text (shared scanner, so
    escaped quotes behave identically everywhere)."""
    masked = _mask_quotes(s)
    out, depth, start = [], 0, 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return [p for p in (x.strip() for x in out) if p]


def _parse_props(s: str | None) -> dict[str, str]:
    """TBLPROPERTIES list — 'k'='v', 'k2'='v2' — to a dict; doubled
    quotes inside quoted values unescape via the shared :func:`_unquote`
    (round-trips SHOW CREATE)."""
    out: dict[str, str] = {}
    for part in _split_top(s or ""):
        if not part.strip():
            continue
        k, _, v = part.partition("=")
        out[_unquote(k)] = _unquote(v)
    return out
