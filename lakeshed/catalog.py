"""Catalog facade — namespaces, table resolution, and the SQL surface.

The reference's catalog is a REST/Hive service resolving
``catalog.namespace.table`` (``spark/spark-defaults.conf:23-29``,
``IcebergStream.java:53-64``); here a warehouse directory plays that role:
``<warehouse>/<database>/<table>`` roots a :class:`lakeshed.table.LakeTable`.

``Catalog.sql`` is the engine's analog of the reference's ``%%sql`` magic
(``spark/ipython/startup/00-prettytables.py:60-81``). Spark's own SQL
parser (``sqlParser().parsePlan``) reads each statement once, and the
statement's node picks the route: the lakehouse DDL/DML the notebooks use
(CREATE DATABASE, CREATE/DROP/TRUNCATE TABLE, INSERT, UPDATE, DELETE,
MERGE, ALTER TABLE, DESCRIBE, SHOW, CALL procedures) goes to the table
layer with every name, type, property and expression taken off the node.
Any other plan is a query: each ``db.table`` it reads (and the
``db.table.snapshots``-style metadata relations, S7, branches and time
travel) reads through a temp view spliced in at the parsed span, and the
query runs on stock Spark SQL — Catalyst stays the optimizer for every
query (SURVEY §4: zero custom rules). Only the Iceberg extensions Spark's
grammar lacks (CREATE/DROP BRANCH, ADD/DROP PARTITION FIELD) are matched
on tokens, those of Spark's own lexer.
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
        p = os.path.join(self.warehouse, database)
        if not os.path.isdir(p):
            return []
        return sorted(
            t for t in os.listdir(p)
            if LakeTable(self.spark, os.path.join(p, t)).exists()
        )

    # ----------------------------------------------------------- resolution

    def _path(self, name: str) -> str:
        # THE resolution funnel: every route (table/_exists/create/drop)
        # lands here
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

    def _dml_target(self, parts: list[str]) -> tuple[LakeTable, str | None]:
        """Resolve a DML target's parsed name parts, which may end in an
        explicit ``.branch_<name>`` — Iceberg's branch-identifier WRITE
        surface (``INSERT INTO nyc.t.branch_audit ...``,
        ``UPDATE/DELETE/MERGE INTO nyc.t.branch_audit``), the write twin
        of the S6 read relation — through the read path's resolver
        (:meth:`_lake_rel`), so a table whose literal name matches wins
        over the suffix reading. A bare name is in ``default``. Returns
        (table, branch-or-None). Identifier writes require the branch
        to EXIST (Iceberg rejects writes to unknown branch refs) —
        auto-creation is the ``spark.wap.branch`` pin's behavior, not
        the identifier's."""
        parts = _flat(parts)
        t, _, suffix = self._lake_rel(
            parts if len(parts) > 1 else ["default", *parts]) or (None,) * 3
        if t is None or (suffix and not suffix.lower().startswith("branch_")):
            # no such table, or a metadata relation: self.table raises
            return self.table(".".join(parts)), None
        b = None if suffix is None else suffix[len("branch_"):]
        if b is not None and b != MAIN and b not in t.branches():
            raise TableError(
                f"branch {b!r} does not exist on {'.'.join(parts[:-1])!r}: "
                "explicit branch-identifier DML writes to an "
                "existing branch (CREATE BRANCH first; only the "
                "spark.wap.branch pin auto-creates)"
            )
        return t, b

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

        Spark's own parser reads the statement once. A command node the
        table layer owns routes to its handler in ``_ROUTES``, which takes
        every name, flag, type, property and expression off the node;
        any other plan runs as a query (:meth:`_run_select`). Text the
        grammar rejects goes to :meth:`_unparsed`.
        """
        if fmt:
            statement = statement.format(**fmt)
        plan = self._parse(statement)
        if plan is None:
            return self._unparsed(statement)
        return self._route(statement, plan)

    def _route(self, s: str, plan) -> DataFrame | None:
        route = self._ROUTES.get(plan.nodeName())
        return route(self, s, plan) if route else self._run_select(s, plan)

    def _table_of(self, plan) -> LakeTable:
        return self.table(".".join(_name_parts(plan)))

    def _create_namespace(self, s: str, plan) -> None:
        # D1; a dotted name is one directory (Berlin Buzzwords cell 4)
        self.create_database(".".join(_name_parts(plan)),
                             if_not_exists=plan.ifNotExists())

    def _create_table(self, s: str, plan) -> None:
        """D2 — CREATE TABLE (typed columns, PARTITIONED BY transforms,
        TBLPROPERTIES; PyIceberg...ipynb:75, Table Maintenance:42) and
        W1 — CTAS, the SQL twin of ``df.write.saveAsTable``."""
        name = ".".join(_name_parts(plan))
        if plan.ignoreIfExists() and self._exists(name):
            return
        ctas = plan.nodeName() == "CreateTableAsSelect"
        self.create_table(
            name,
            df=self._run_select(s, plan.query(), sub=True) if ctas else None,
            schema=None if ctas else plan.tableSchema().toDDL(),
            partition_by=tuple(map(_spec_entry, _seq(plan.partitioning()))),
            properties=_props(plan.tableSpec().properties()),
        )

    def _drop_table(self, s: str, plan) -> None:
        self.drop_table(".".join(_name_parts(plan)), if_exists=plan.ifExists())

    def _truncate(self, s: str, plan) -> None:
        self._table_of(plan).truncate()

    def _describe(self, s: str, plan) -> DataFrame:
        """DESCRIBE of a lakeshed table, any spelling, is its metadata
        rows; a name that is not one (a temp view, say) goes to stock
        Spark DESCRIBE."""
        name = ".".join(_name_parts(plan))
        if not self._exists(name):
            return self._run_select(s, plan)
        if (plan.nodeName() == "DescribeColumn"
                or not plan.partitionSpec().isEmpty()):
            # raising beats silently returning whole-table rows
            raise TableError(
                "DESCRIBE of a column or partition is not supported on "
                "lakeshed tables; use DESCRIBE <table>")
        return self.table(name).describe()

    def _show_namespaces(self, s: str, plan) -> DataFrame:
        if plan.pattern().isDefined() or _name_parts(plan):
            return self._run_select(s, plan)
        return self.spark.createDataFrame(
            [(d,) for d in self.databases()], "namespace string")

    def _show_tables(self, s: str, plan) -> DataFrame:
        if plan.pattern().isDefined():
            return self._run_select(s, plan)
        db = ".".join(_name_parts(plan)) or "default"
        return self.spark.createDataFrame(
            [(db, t) for t in self.tables(db)],
            "namespace string, tableName string",
        )

    def _show_create(self, s: str, plan) -> DataFrame:
        """DDL round-trip: the emitted statement re-executes through
        this same router to an equivalent table (tested)."""
        name = ".".join(_name_parts(plan))
        t = self.table(name)
        c = t._read_commit(t.head())
        cols = ",\n  ".join(
            f"{_ident(f.name)} {f.type}" for f in t.schema_fields())
        stmt = f"CREATE TABLE {name} (\n  {cols})\nUSING lakeshed"
        if c.partition_spec:
            stmt += "\nPARTITIONED BY (" + ", ".join(c.partition_spec) + ")"
        if c.properties:
            # SQL-escape embedded quotes (doubled) and backslashes so
            # the emitted DDL reads back to the same values
            esc = lambda x: (str(x).replace("\\", "\\\\")  # noqa: E731
                             .replace("'", "''"))
            stmt += "\nTBLPROPERTIES (" + ", ".join(
                f"'{esc(k)}'='{esc(v)}'"
                for k, v in sorted(c.properties.items())
            ) + ")"
        return self.spark.createDataFrame([(stmt,)], "createtab_stmt string")

    def _show_properties(self, s: str, plan) -> DataFrame:
        if plan.propertyKey().isDefined():
            return self._run_select(s, plan)
        return self.spark.createDataFrame(
            sorted(self._table_of(plan).properties().items()),
            "key string, value string",
        )

    def _update(self, s: str, plan) -> None:
        assigns = {
            ".".join(_parts(a.key().nameParts())): self._text(s, a.value())
            for a in _seq(plan.assignments())
        }
        cond = plan.condition()
        where = self._text(s, cond.get()) if cond.isDefined() else None
        # D14 — the wap pins scope DML too (WAP...ipynb cell 21
        # DELETEs against the staged branch); an explicit
        # .branch_<name> target outranks the pin (_dml_target)
        t, xbr = self._dml_target(_name_parts(plan))
        self._run_dml(t, lambda **kw: t.update(assigns, where=where, **kw),
                      explicit_branch=xbr)

    def _delete(self, s: str, plan) -> None:
        where = self._text(s, plan.condition())
        t, xbr = self._dml_target(_name_parts(plan))
        self._run_dml(t, lambda **kw: t.delete(where, **kw),
                      explicit_branch=xbr)

    def _insert(self, s: str, plan) -> None:
        """W3/W4 — INSERT INTO ... VALUES | SELECT (Integrated
        Audits...ipynb:471; PaimonStream.java:94) and INSERT OVERWRITE,
        one ATOMIC commit swapping the live file set (readers pin the
        old snapshot until it lands; time travel still reaches it)."""
        if (not plan.partitionSpec().isEmpty() or plan.byName()
                or not plan.userSpecifiedCols().isEmpty()):
            raise TableError("INSERT takes no column list, PARTITION "
                             "clause or BY NAME on lakeshed tables")
        df = self._run_select(s, plan.query(), sub=True)
        t, xbr = self._dml_target(_name_parts(plan.table()))
        # SQL INSERT is positional (W2: df.write.insertInto, Table
        # Maintenance...ipynb:77) — rename to the target schema
        df = self._align_to_target(t, df, explicit_branch=xbr)
        # D14 — spark.wap.id pin + write.wap.enabled stages the write
        # (Integrated Audits...ipynb:191,461), the overwrite too
        write = t.overwrite if plan.overwrite() else t.append
        self._run_dml(t, lambda **kw: write(df, **kw), explicit_branch=xbr)

    def _add_constraint(self, s: str, plan) -> None:
        # Delta-style CHECK constraint, kept as the SQL it evaluates
        c = plan.checkConstraint()
        self._table_of(plan).add_constraint(c.name(), self._text(s, c.child()))

    def _drop_constraint(self, s: str, plan) -> None:
        t = self._table_of(plan)
        if not (plan.ifExists() and plan.name() not in t.constraints()):
            t.drop_constraint(plan.name())

    def _set_properties(self, s: str, plan) -> None:
        # D9 (WAP...ipynb:143; Table Maintenance...ipynb:109)
        self._table_of(plan).set_properties(**_props(plan.properties()))

    def _unset_properties(self, s: str, plan) -> None:
        self._table_of(plan).unset_properties(*[
            k.removeprefix(_KEY) for k in _seq(plan.propertyKeys())])

    def _add_columns(self, s: str, plan) -> None:
        # D8 (Getting Started.ipynb:183)
        t = self._table_of(plan)
        for c in _seq(plan.columnsToAdd()):
            if c.path().isDefined():
                raise TableError("ADD COLUMN of a nested field is not "
                                 "supported on lakeshed tables")
            comment = c.comment()
            t.add_column(c.colName(), c.dataType().simpleString(),
                         comment=comment.get() if comment.isDefined() else None,
                         **_position(c.position()))

    def _drop_columns(self, s: str, plan) -> None:
        # field-id projection keeps old files readable; the id is never
        # reused, and an unknown name raises unless IF EXISTS
        t = self._table_of(plan)
        for c in _seq(plan.columnsToDrop()):
            name = ".".join(_parts(c.name()))
            if not plan.ifExists() or name in {
                    f.name for f in t.schema_fields()}:
                t.drop_column(name)

    def _rename_column(self, s: str, plan) -> None:
        # D6 (Getting Started.ipynb:123)
        self._table_of(plan).rename_column(
            ".".join(_parts(plan.column().name())), plan.newName())

    def _alter_columns(self, s: str, plan) -> None:
        # D7 — TYPE, COMMENT, FIRST / AFTER (Getting Started.ipynb:147-171)
        t = self._table_of(plan)
        for c in _seq(plan.specs()):
            if (c.newNullability().isDefined() or c.dropDefault()
                    or c.newDefaultExpression().isDefined()):
                raise TableError("ALTER COLUMN takes TYPE, COMMENT, FIRST "
                                 "or AFTER on lakeshed tables")
            typ, comment = c.newDataType(), c.newComment()
            t.alter_column(
                ".".join(_parts(c.column().name())),
                type=typ.get().simpleString() if typ.isDefined() else None,
                comment=comment.get() if comment.isDefined() else None,
                **_position(c.newPosition()))

    def _unparsed(self, s: str) -> DataFrame | None:
        """Text Spark's grammar rejects. Iceberg's SQL extensions (see
        :meth:`_alter_extension`) match on the tokens of Spark's own
        lexer. TBLPROPERTIES keys Spark reserves (``owner``,
        ``location``, ``provider``) are ordinary properties here: the
        statement re-parses with its quoted keys under the ``_KEY``
        disguise. Anything else goes to ``spark.sql`` unchanged, which
        raises Spark's own error."""
        toks = [(s[a:b], a, b) for a, b, hidden in self._tokens(s)
                if not hidden]
        while toks and toks[-1][0] == ";":
            toks.pop()
        words = [t.upper() for t, _, _ in toks]
        i = 2  # ALTER TABLE <name> <action>, the name word(.word)*
        while i + 2 < len(toks) and words[i + 1] == ".":
            i += 2
        if words[:2] == ["ALTER", "TABLE"] and self._alter_extension(
                s, [t for t, _, _ in toks[2:i + 1:2]], toks[i + 1:]):
            return None
        disguised = _disguised(s, toks)
        plan = disguised and self._parse(disguised)
        if plan is None:
            return self.spark.sql(s)
        return self._route(disguised, plan)

    def _alter_extension(self, s: str, name: list[str],
                         toks: list[tuple[str, int, int]]) -> bool:
        """Run ``ALTER TABLE <name> <act>`` when it is one of Iceberg's
        SQL extensions — ``CREATE BRANCH [IF NOT EXISTS] b``, ``DROP
        BRANCH b``, ``ADD`` / ``DROP PARTITION FIELD <transform>`` (D12,
        Getting Started.ipynb:323; Berlin Buzzwords.ipynb:279); False
        when it is not. ``toks``: the action's tokens of ``s``, as
        ``(text, start, end)``."""
        act = [x.upper() for x, _, _ in toks]
        ine = act[2:5] == ["IF", "NOT", "EXISTS"]
        if act[:2] == ["CREATE", "BRANCH"] and len(act) == 3 + 3 * ine:
            op = "create_branch"
        elif act[:2] == ["DROP", "BRANCH"] and len(act) == 3:
            op = "drop_branch"
        elif act[1:3] == ["PARTITION", "FIELD"] and len(act) > 3 \
                and act[0] in ("ADD", "DROP"):
            op = act[0].lower() + "_partition_field"
        else:
            return False
        t = self.table(".".join(map(_unquote_ident, name)))
        if op.endswith("_field"):
            # spelled as CREATE TABLE's PARTITIONED BY spells it
            field = s[toks[3][1]:toks[-1][2]]
            spec = self._parse(f"CREATE TABLE t (c int) "
                               f"PARTITIONED BY ({field})")
            if spec is None:
                raise TableError(f"not a partition field: {field!r}")
            getattr(t, op)(_spec_entry(spec.partitioning().apply(0)))
        elif op == "drop_branch":
            t.drop_branch(_unquote_ident(toks[-1][0]))
        else:
            try:
                t.create_branch(_unquote_ident(toks[-1][0]))
            except BranchExistsError:
                # ONLY the already-exists case is the IF NOT EXISTS
                # no-op; other TableErrors must surface regardless
                if not ine:
                    raise
        return True

    def _tokens(self, s: str) -> list[tuple[int, int, bool]]:
        """``(start, end, hidden)`` of each token Spark's own lexer reads
        in ``s``; comments and whitespace are the hidden ones."""
        jvm = self.spark._jvm
        p = jvm.org.apache.spark.sql.catalyst.parser
        lexer = p.SqlBaseLexer(p.UpperCaseCharStream(
            jvm.org.antlr.v4.runtime.CharStreams.fromString(s)))
        return [(t.getStartIndex(), t.getStopIndex() + 1, t.getChannel() != 0)
                for t in lexer.getAllTokens()]

    def _uncomment(self, text: str) -> str:
        """``text`` with each comment blanked — ``pruning.parse_predicate``
        reads no comments, so a predicate handed over with one would
        silently stop pruning."""
        if "--" not in text and "/*" not in text:
            return text
        return "".join(" " if hidden else text[a:b]
                       for a, b, hidden in self._tokens(text))

    def _text(self, s: str, e) -> str:
        """An expression's text: its span of ``s`` with comments blanked,
        or Spark's rendering where it has no span."""
        span = self._expr_span(s, e)
        return e.sql() if span is None else self._uncomment(
            s[span[0]:span[1]])

    def _expr_span(self, s: str, e) -> tuple[int, int] | None:
        """``[start, end)`` of an expression's text in ``s``. A LIKE /
        IN / BETWEEN / IS node's own span starts at its keyword, so the
        span reaches back to the start of its left operand, and to each
        ``(`` that operand's own span leaves out."""
        span = _span(e)
        if span is None:
            return None
        a, b = span
        left = e
        while not left.children().isEmpty():
            left = left.children().apply(0)
            a = min(a, (_span(left) or span)[0])
        if a < span[0] and ")" in s[a:b]:
            depth = least = 0
            for x, y, _ in self._tokens(s[a:b]):
                tok = s[a + x:a + y]
                depth += (tok == "(") - (tok == ")")
                least = min(least, depth)
            for _ in range(-least):
                a = s.rindex("(", 0, a)
        return a, b

    # -------------------------------------------------------- procedures

    def _call_procedure(self, s: str, plan) -> DataFrame | None:
        """Dispatch an Iceberg stored procedure (D15-D19), catalog-
        prefixed or not (``CALL demo.system.rewrite_data_files(...)``).

        Both argument conventions the reference notebooks use are routed:

        - positional — ``CALL system.expire_snapshots('nyc.permits',
          1690000000000, 100)`` (Integrated Audits Demo.ipynb cell 52);
        - named — ``CALL demo.system.expire_snapshots(table =>
          'nyc.taxis_sample', older_than => TIMESTAMP '...', retain_last
          => 1)`` and ``rewrite_data_files(table => ..., options =>
          map('target-file-size-bytes','52428800'))`` (Table Maintenance
          Spark Procedures.ipynb cells 9/13 — verbatim cells a reference
          user pastes).

        Maintenance procedures return a 1-row result frame like
        Iceberg's (the notebooks call ``.show()`` on it)."""
        proc = _name_parts(plan)[-1].lower()
        pos, named = [], {}
        for a in _seq(plan.args()):
            if a.nodeName() == "NamedArgumentExpression":
                named[a.key().lower()] = self._call_value(s, a.value())
            else:
                pos.append(self._call_value(s, a))

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

    def _call_value(self, s: str, e) -> object:
        """One CALL argument as python: a literal's value, a ``TIMESTAMP
        '...'`` literal as epoch ms (naive = UTC, like TIMESTAMP AS OF —
        read off its text, not Spark's session-zone value), ``map(...)``
        as a dict, anything else as its text."""
        kind = e.nodeName()
        if (kind == "UnresolvedFunction"
                and _parts(e.nameParts())[-1].lower() == "map"):
            items = [self._call_value(s, c) for c in _seq(e.children())]
            if len(items) % 2:
                raise TableError(f"map() needs key/value pairs: {e.sql()}")
            return dict(zip(items[::2], items[1::2]))
        if kind != "Literal":
            return self._text(s, e)
        if e.dataType().typeName().startswith("timestamp"):
            text = self._text(s, e).rstrip()
            return _ts_ms(text[text.index(text[-1]) + 1:-1])
        v = e.value()
        return v if v is None or isinstance(v, (bool, int)) else str(v)

    # -------------------------------------------------------- MERGE INTO

    def _merge_into(self, s: str, plan) -> None:
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
        talias, trel = _unalias(plan.targetTable())
        salias, src = _unalias(plan.sourceTable())
        if trel.nodeName() != "UnresolvedRelation":
            raise TableError(f"cannot parse MERGE target: {s[:80]!r}")
        tparts = _flat(_parts(trel.multipartIdentifier()))
        sparts: list[str] = []
        if src.nodeName() == "UnresolvedRelation":
            # a lakeshed source reads through the view a SELECT would
            # (the pins redirect it the same way)
            sparts = _flat(_parts(src.multipartIdentifier()))
            hit = self._lake_rel(sparts)
            src_df = self.spark.table(
                self._view(hit[0], hit[2], None, "", set()) if hit
                else ".".join(sparts))
        else:
            src_df = self._run_select(s, src, sub=True)
            salias = salias or "s"

        t_obj, xbr = self._dml_target(tparts)
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
            span = self._expr_span(s, e)
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
            return self._uncomment(_splice(s[span[0]:span[1]], edits))

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

    def _run_select(self, s: str, plan, sub: bool = False) -> DataFrame:
        """Run the query ``plan`` parsed from ``s`` on stock Spark SQL
        with each lakeshed relation it reads spliced out for a temp
        view. Spark's own parser found the relations — in FROM/JOIN,
        subqueries, CTE bodies, time travel and hint arguments — so a
        name inside a string literal, a comment or a column alias is
        never one. Qualified column prefixes (``nyc.taxis.fare``) follow
        the relation only where it is read unaliased; a struct path that
        merely spells a table name stays as written. ``sub``: the query
        is part of a larger statement (INSERT, CTAS, a MERGE source),
        and its text is the union of its nodes' spans."""
        rels, nodes = _plan_walk(plan)
        lo, hi = 0, len(s)
        if sub:
            spans = [sp for sp in map(_span, [n for _, n in nodes]
                                      + [r for r, _, _ in rels]) if sp]
            lo, hi = min(a for a, _ in spans), max(b for _, b in spans)
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
        return self.spark.sql(_splice(
            s[lo:hi], [(a - lo, b - lo, t) for a, b, t in edits]))

    # statement node -> handler; any other plan is a query
    _ROUTES = {
        "CreateNamespace": _create_namespace,
        "CreateTable": _create_table,
        "CreateTableAsSelect": _create_table,
        "DropTable": _drop_table,
        "TruncateTable": _truncate,
        "DescribeRelation": _describe,
        "DescribeColumn": _describe,
        "ShowNamespacesCommand": _show_namespaces,
        "ShowTables": _show_tables,
        "ShowCreateTable": _show_create,
        "ShowTableProperties": _show_properties,
        "UpdateTable": _update,
        "DeleteFromTable": _delete,
        "InsertIntoStatement": _insert,
        "MergeIntoTable": _merge_into,
        "AddCheckConstraint": _add_constraint,
        "DropConstraint": _drop_constraint,
        "SetTableProperties": _set_properties,
        "UnsetTableProperties": _unset_properties,
        "AddColumns": _add_columns,
        "DropColumns": _drop_columns,
        "RenameColumn": _rename_column,
        "AlterColumns": _alter_columns,
        "Call": _call_procedure,
    }


def _parts(seq) -> list[str]:
    """A JVM ``Seq[String]`` of name parts as a list (one round trip)."""
    text = seq.mkString("\x1f")
    return text.split("\x1f") if text else []


def _flat(parts: list[str]) -> list[str]:
    """Name parts with dotted parts split — `nyc.t`.k ≡ nyc.t.k."""
    return [p for part in parts for p in part.split(".")]


def _seq(seq) -> list:
    """The elements of a JVM ``Seq``."""
    return [seq.apply(i) for i in range(seq.size())]


def _span(node) -> tuple[int, int] | None:
    """``[start, end)`` of the text a parsed node was read from; None
    for ``true`` and ``false``, one node each that the parser shares
    between statements, so its origin belongs to another text."""
    if node.nodeName() == "Literal" and \
            node.dataType().typeName() == "boolean":
        return None
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


def _split_top(s: str) -> list[str]:
    """Split a ``rewrite_data_files`` sort order on the commas outside
    parens (``a DESC, zorder(b, c)``) — data, not SQL."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        depth += (ch == "(") - (ch == ")")
        if ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return [p for p in (x.strip() for x in out) if p]


# Spark's parser rejects the TBLPROPERTIES keys it reserves (owner,
# location, provider); lakeshed stores them like any other, so a
# statement carrying one re-parses with this prefix inside every quoted
# key and the property handlers take it off again
_KEY = "__lakeshed_key__:"

# parsed nodes that carry a name, and the method that returns its parts
_NAMED = {
    "UnresolvedRelation": "multipartIdentifier",
    "UnresolvedTable": "multipartIdentifier",
    "UnresolvedTableOrView": "multipartIdentifier",
    "UnresolvedNamespace": "multipartIdentifier",
    "UnresolvedIdentifier": "nameParts",
    "UnresolvedProcedure": "nameParts",
}


def _name_parts(plan) -> list[str]:
    """The name parts of the table (namespace, procedure) a statement
    names: the first named node down its first children; [] for none."""
    node = plan
    while node.nodeName() not in _NAMED:
        kids = node.children()
        if kids.isEmpty():
            return []
        node = kids.apply(0)
    return _parts(getattr(node, _NAMED[node.nodeName()])())


def _props(m) -> dict[str, str]:
    """A parsed property map as a dict, each key out of its ``_KEY``
    disguise."""
    return {kv._1().removeprefix(_KEY): kv._2() for kv in _seq(m.toSeq())}


def _disguised(s: str, toks: list[tuple[str, int, int]]) -> str | None:
    """``s`` with ``_KEY`` inside each quoted key of a TBLPROPERTIES
    list (``toks``: its tokens as ``(text, start, end)``), or None when
    it has none."""
    edits = []
    for i, (t, _, _) in enumerate(toks):
        if t.upper() != "TBLPROPERTIES":
            continue
        depth = 0
        for j in range(i + 1, len(toks)):
            x, a, _ = toks[j]
            depth += (x == "(") - (x == ")")
            if depth == 0:
                break
            if depth == 1 and toks[j - 1][0] in ("(", ",") and x[0] in "'\"":
                edits.append((a + 1, a + 1, _KEY))
    return _splice(s, edits) if edits else None


def _spec_entry(transform) -> str:
    """A parsed PARTITIONED BY transform as a partition-spec entry: the
    column for identity, else Spark's ``name(args)`` with the name
    lower-cased (``bucket(4, a)``)."""
    name, text = transform.name().lower(), transform.toString()
    return text[len(name) + 1:-1] if name == "identity" \
        else name + text[len(name):]


def _unquote_ident(t: str) -> str:
    """One identifier token's name: a backticked one unquoted."""
    return t[1:-1].replace("``", "`") if t.startswith("`") else t


def _position(opt) -> dict[str, object]:
    """A parsed ``FIRST`` / ``AFTER c`` (a Scala ``Option``) as the
    ``add_column`` / ``alter_column`` keywords."""
    if opt.isEmpty():
        return {}
    p = opt.get().position()
    return {"first": True} if p.toString() == "FIRST" else {
        "after": p.column()}
