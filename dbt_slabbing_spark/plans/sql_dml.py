"""SQL DML front-end over manifest tables: ``INSERT INTO`` /
``DELETE FROM`` / ``UPDATE`` / ``MERGE INTO`` routed through the
manifest layer, plus snapshot-pinned ``SELECT`` passthrough.

Spark SQL itself can only run DML against catalog formats that
implement it (Delta, Iceberg); over plain parquet views every write
statement is rejected at analysis. This module closes the "dbt SQL →
Spark SQL" story end-to-end over governed tables: a
:class:`ManifestSession` registers manifest tables by name, parses the
DML HEAD with a deliberately thin, documented grammar (this is a
dispatcher, not a SQL parser — everything inside predicates,
assignments, VALUES and subqueries is handed to Spark SQL verbatim),
and routes:

- ``INSERT INTO t [(cols)] VALUES ... | SELECT ...`` → ``append_files``
  (one atomic manifest commit; CHECK constraints gate the batch);
  ``INSERT OVERWRITE t ...`` → ``overwrite_table`` (atomic full
  refresh — dbt's ``table`` materialization; the pre-overwrite
  snapshot stays time-travelable/restorable),
- ``DELETE FROM t [WHERE pred]``                    → ``delete_rows``,
- ``UPDATE t SET c = expr, ... [WHERE pred]``       → ``update_rows``
  (WHERE boundary found with a paren/quote-aware scan, so scalar
  subqueries and literals containing WHERE parse),
- ``MERGE INTO t [AS a] USING src [AS b] ON k [AND k2 ...]`` with
  Delta's FULL clause grammar                       → ``merge_rows``:
  ``WHEN MATCHED [AND c] THEN DELETE | UPDATE SET * | UPDATE SET col
  = expr, ...``, ``WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT
  *``, ``WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE | UPDATE SET
  col = expr`` — statement order of same-side clauses reproduced by
  condition composition; aliases rewritten to the engine's t/s,
- DDL: ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t [PARTITIONED
  BY (cols)] AS SELECT ...``                        → a new manifest
  table under the session's ``base_dir`` (one atomic first commit;
  OR REPLACE on an existing table is a one-commit full refresh with
  history preserved; PARTITIONED BY maps to liquid clustering —
  ``append_files(cluster_by=)``, see SCALE.md §Layout),
  ``ALTER TABLE t RENAME COLUMN a TO b``            → ``rename_column``
  (metadata-only),
  ``ALTER TABLE t ADD COLUMN c TYPE``               → ``add_column``
  (metadata-only typed-NULL column),
  ``ALTER TABLE t DROP COLUMN a``                   → ``drop_column``,
  ``ALTER TABLE t ADD CONSTRAINT n CHECK (expr)``   → ``add_constraint``,
  ``ALTER TABLE t DROP CONSTRAINT n``               → ``drop_constraint``,
  ``DROP TABLE t``                                  → deregister (the
  data stays; pass PURGE to also delete the directory),
- maintenance (Delta's SQL verbs):
  ``OPTIMIZE t [ZORDER BY (a, b)]``                 → ``compact_table``
  (clustered when ZORDER BY is given),
  ``VACUUM t [RETAIN n VERSIONS | RETAIN h HOURS]`` → ``vacuum_orphans``
  (version- or commit-timestamp-based retention),
  ``DESCRIBE HISTORY t``                            → ``table_snapshots``
  (the version log as a DataFrame, with commit ts + restorable),
  ``DESCRIBE DETAIL t``                             → ``table_detail``,
  ``SHOW TABLES``                                   → the session's
  registered tables,
  ``RESTORE TABLE t TO VERSION AS OF n``            → ``restore_table``
  (snapshot n becomes current via one new metadata commit; re-validated
  against CURRENT CHECK constraints),
  ``CREATE TABLE x SHALLOW CLONE t``                → ``clone_table``
  (zero-copy fork under the session base_dir),
- anything else (``SELECT``/``WITH``/``VALUES``)    → ``spark.sql``
  over freshly re-pinned snapshot views. ``FROM t VERSION AS OF n``
  time-travels: the reference is rewritten to a view pinned at that
  snapshot (``read_table(version=n)``), Delta's time-travel syntax.

Every mutation is the manifest layer's own atomic OCC commit, so the
SQL surface inherits snapshot isolation, deletion vectors, column
mapping, CHECK constraints, CDF and time travel for free. The
session's ``mode`` picks copy-on-write or merge-on-read (deletion
vectors) for DELETE/UPDATE/MERGE — the same knob a Delta table's
``delta.enableDeletionVectors`` sets table-wide.

Hardening (r13): the dispatcher REJECTS what it can't parse rather
than mis-dispatch — one statement per call (top-level ';' rejected),
unsupported verbs (TRUNCATE/COPY/...) and unknown clause actions fail
with a named SqlDmlError pointing at the supported form, never a
silent wrong dispatch (tests/test_sql_fuzz.py drives ~29 adversarial
near-misses).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.layout import (
    add_column,
    add_constraint,
    append_files,
    clone_table,
    compact_table,
    delete_rows,
    drop_column,
    drop_constraint,
    merge_rows,
    overwrite_table,
    read_table,
    register_table,
    rename_column,
    restore_table,
    table_detail,
    table_snapshots,
    update_rows,
    vacuum_orphans,
)


class SqlDmlError(ValueError):
    """Statement outside the documented DML grammar."""


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?P<overwrite>OVERWRITE|INTO)\s+"
    r"(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?(?P<rest>(?:VALUES|SELECT|WITH)\b.*)$",
    re.I | re.S,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?:WHERE\s+(?P<pred>.*))?$",
    re.I | re.S,
)
_UPDATE_HEAD_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+(?:AS\s+)?(?P<alias>[A-Za-z_][A-Za-z0-9_]*))?"
    r"\s+SET\s+(?P<rest>.*)$",
    re.I | re.S,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(?:(?P<replace>OR\s+REPLACE\s+)?)TABLE"
    r"(?:\s+(?P<ifnot>IF\s+NOT\s+EXISTS))?"
    r"\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+(?:PARTITIONED|CLUSTER)\s+BY\s*\((?P<pcols>[^)]*)\))?"
    r"\s+AS\s+(?P<select>(?:SELECT|WITH|VALUES)\b.*)$",
    re.I | re.S,
)
_ALTER_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"RENAME\s+COLUMN\s+(?P<old>[A-Za-z_][A-Za-z0-9_]*)\s+TO\s+"
    r"(?P<new>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.I,
)
_ALTER_ADDCOL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"ADD\s+COLUMN\s+(?P<col>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"(?P<dtype>[A-Za-z_][A-Za-z0-9_() ,<>]*?)\s*$",
    re.I,
)
_ALTER_DROPCOL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"DROP\s+COLUMN\s+(?P<col>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.I,
)
_ALTER_ADDCON_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"ADD\s+CONSTRAINT\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"CHECK\s*\((?P<expr>.*)\)\s*$",
    re.I | re.S,
)
_ALTER_DROPCON_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"DROP\s+CONSTRAINT\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.I,
)
_DROP_TABLE_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+(?P<purge>PURGE))?\s*$",
    re.I,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]*)\))?\s*$",
    re.I | re.S,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+RETAIN\s+(?:(?P<n>\d+)\s+VERSIONS|"
    r"(?P<hours>\d+(?:\.\d+)?)\s+HOURS))?\s*$",
    re.I,
)
_DESCRIBE_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.I,
)
_DESCRIBE_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.I,
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')\s*$",
    re.I,
)
_SHALLOW_CLONE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<target>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"SHALLOW\s+CLONE\s+(?P<source>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.I,
)
_VERSION_AS_OF_RE = re.compile(
    r"\b(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+"
    r"(?P<version>\d+)",
    re.I,
)
_TIMESTAMP_AS_OF_RE = re.compile(
    r"\b(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+TIMESTAMP\s+AS\s+OF\s+"
    r"'(?P<ts>[^']+)'",
    re.I,
)
_TABLE_CHANGES_RE = re.compile(
    r"\btable_changes\s*\(\s*'(?P<table>[A-Za-z_][A-Za-z0-9_]*)'\s*,\s*"
    r"(?P<vfrom>\d+)\s*,\s*(?P<vto>\d+)\s*\)",
    re.I,
)
_MERGE_HEAD_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+(?:AS\s+)?(?P<talias>[A-Za-z_][A-Za-z0-9_]*))?\s+"
    r"USING\s+(?P<src>\([^;]*?\)|[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+(?:AS\s+)?(?P<salias>[A-Za-z_][A-Za-z0-9_]*))?\s+"
    r"ON\s+(?P<rest>.*)$",
    re.I | re.S,
)
# one WHEN clause, already sliced at top-level WHEN boundaries:
# [NOT] MATCHED [BY TARGET|BY SOURCE] [AND cond] THEN <action>
_WHEN_HEAD_RE = re.compile(
    r"^(?P<not>NOT\s+)?MATCHED(?:\s+BY\s+(?P<by>TARGET|SOURCE))?"
    r"(?:\s+AND\s+(?P<cond>.*))?$",
    re.I | re.S,
)


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parens/quotes (assignments and VALUES
    tuples carry commas inside function calls and literals)."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def _split_at_keyword(text: str, keyword: str) -> tuple[str, str | None]:
    """Split ``text`` at the FIRST top-level occurrence of ``keyword``
    (word-bounded, outside parens and quotes) → ``(before, after)``;
    ``(text, None)`` when absent. This is how the UPDATE dispatcher
    finds its WHERE boundary: a greedy regex would split inside a
    scalar subquery (``SET v = (SELECT max(x) FROM s WHERE k=1)``) or
    a string literal containing the word WHERE — both stay intact here
    because subqueries sit at paren depth ≥ 1 and literals are
    quote-guarded."""
    kw = keyword.upper()
    n, i, depth, quote = len(text), 0, 0, None
    while i < n:
        ch = text[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and text[i : i + len(kw)].upper() == kw:
            # word-boundary guard only for word-like keywords (a ';'
            # token needs no boundary)
            wordish = kw[0].isalnum() or kw[0] == "_"
            before_ok = (
                not wordish
                or i == 0
                or not (text[i - 1].isalnum() or text[i - 1] == "_")
            )
            j = i + len(kw)
            after_ok = (
                not wordish
                or j >= n
                or not (text[j].isalnum() or text[j] == "_")
            )
            if before_ok and after_ok:
                return text[:i].rstrip(), text[j:].strip()
        i += 1
    return text, None


def _sub_outside_quotes(pattern: "re.Pattern", repl: str, text: str) -> str:
    """Apply ``pattern.sub`` only OUTSIDE single-quoted literals."""
    parts = re.split(r"('(?:[^']*)')", text)
    return "".join(
        p if i % 2 else pattern.sub(repl, p) for i, p in enumerate(parts)
    )


def _merge_keys(on_clause: str, table: str, aliases: tuple) -> list[str]:
    """Equi-key list from ``ON a.k = b.k AND ...`` (or bare ``k = k``).
    Both sides must name the SAME column after stripping qualifiers —
    the record-key form merge_rows implements."""
    keys = []
    for term in re.split(r"\s+AND\s+", on_clause.strip(), flags=re.I):
        m = re.match(
            r"^\s*(?:[A-Za-z_][A-Za-z0-9_]*\.)?([A-Za-z_][A-Za-z0-9_]*)\s*=\s*"
            r"(?:[A-Za-z_][A-Za-z0-9_]*\.)?([A-Za-z_][A-Za-z0-9_]*)\s*$",
            term,
        )
        if not m or m.group(1) != m.group(2):
            raise SqlDmlError(
                f"MERGE ON must be equi-joins on identical column names; "
                f"got {term!r}"
            )
        keys.append(m.group(1))
    return keys


class ManifestSession:
    """Named manifest tables + the ``sql()`` dispatcher. Views are
    re-pinned to the CURRENT snapshot before every statement, so a
    SELECT after a DML sees the mutation (per-statement snapshot
    isolation — each statement reads one consistent version)."""

    def __init__(
        self, spark: SparkSession, mode: str = "cow", base_dir: str | None = None
    ):
        if mode not in ("cow", "dv"):
            raise SqlDmlError(f"unknown DML mode {mode!r} (cow|dv)")
        self.spark = spark
        self.mode = mode
        self.base_dir = base_dir  # CREATE TABLE lands under here
        self.tables: dict[str, str] = {}

    def register(self, name: str, path: str) -> "ManifestSession":
        self.tables[name] = str(path)
        register_table(self.spark, name, path)
        return self

    def _refresh(self) -> None:
        for name, path in self.tables.items():
            register_table(self.spark, name, path)

    def _path(self, name: str) -> str:
        if name not in self.tables:
            raise SqlDmlError(f"unknown manifest table {name!r}")
        return self.tables[name]

    def sql(self, statement: str):
        """DML → mutation stats dict; everything else → DataFrame."""
        stmt = statement.strip().rstrip(";")
        head = stmt.split(None, 1)[0].upper() if stmt else ""
        # hardening guards (the dispatcher rejects what it can't parse
        # rather than mis-dispatch): one statement at a time, and
        # verbs with manifest-table semantics we don't implement must
        # not fall through to spark.sql over the pinned views
        _, after_semi = _split_at_keyword(stmt, ";")
        if after_semi:
            raise SqlDmlError(
                "one statement at a time (top-level ';' found) — "
                "issue each statement through its own sql() call"
            )
        if head in ("TRUNCATE", "REPLACE", "UPSERT", "COPY"):
            raise SqlDmlError(
                f"unsupported statement {head} — use DELETE FROM t (full "
                "delete), INSERT OVERWRITE (replace), or MERGE INTO "
                "(upsert) / the DataFrame API"
            )
        self._refresh()
        if head == "INSERT":
            return self._insert(stmt)
        if head == "DELETE":
            return self._delete(stmt)
        if head == "UPDATE":
            return self._update(stmt)
        if head == "MERGE":
            return self._merge(stmt)
        if head == "CREATE":
            return self._create(stmt)
        if head == "ALTER":
            return self._alter(stmt)
        if head == "DROP":
            return self._drop_table(stmt)
        if head == "OPTIMIZE":
            return self._optimize(stmt)
        if head == "VACUUM":
            return self._vacuum(stmt)
        if head == "RESTORE":
            m = _RESTORE_RE.match(stmt)
            if not m:
                raise SqlDmlError(f"unsupported RESTORE form: {stmt!r}")
            st = restore_table(
                self._path(m.group("table")),
                int(m.group("version")) if m.group("version") else None,
                spark=self.spark,
                timestamp=m.group("ts"),
            )
            self._refresh()
            return st
        if head == "SHOW":
            if re.match(r"^\s*SHOW\s+TABLES\s*$", stmt, re.I):
                return self.spark.createDataFrame(
                    sorted(self.tables.items()) or [(None, None)],
                    "name string, location string",
                ).filter(F.col("name").isNotNull())
            raise SqlDmlError(f"unsupported SHOW form (SHOW TABLES): {stmt!r}")
        m = _DESCRIBE_HISTORY_RE.match(stmt)
        if m:
            return table_snapshots(self.spark, self._path(m.group("table")))
        m = _DESCRIBE_DETAIL_RE.match(stmt)
        if m:
            return table_detail(self.spark, self._path(m.group("table")))
        if head == "DESCRIBE":
            raise SqlDmlError(
                f"unsupported DESCRIBE form (DESCRIBE HISTORY t | "
                f"DESCRIBE DETAIL t): {stmt!r}"
            )
        return self.spark.sql(self._rewrite_time_travel(stmt))

    def _optimize(self, stmt: str) -> dict:
        m = _OPTIMIZE_RE.match(stmt)
        if not m:
            raise SqlDmlError(f"unsupported OPTIMIZE form: {stmt!r}")
        cols = (
            [c.strip() for c in m.group("cols").split(",")]
            if m.group("cols")
            else None
        )
        st = compact_table(
            self.spark,
            self._path(m.group("table")),
            cluster_by=cols,
            where=m.group("where"),
        )
        self._refresh()
        return st

    def _vacuum(self, stmt: str) -> dict:
        m = _VACUUM_RE.match(stmt)
        if not m:
            raise SqlDmlError(
                f"unsupported VACUUM form (VACUUM t [RETAIN n VERSIONS | "
                f"RETAIN h HOURS]): {stmt!r}"
            )
        removed = vacuum_orphans(
            self._path(m.group("table")),
            retain_versions=int(m.group("n") or 0),
            retain_hours=(
                float(m.group("hours")) if m.group("hours") else None
            ),
        )
        return {"n_vacuumed": len(removed)}

    def _rewrite_time_travel(self, stmt: str) -> str:
        """``FROM t VERSION AS OF n`` → a view pinned at snapshot n
        (Delta's time-travel syntax). Each (table, version) pair gets
        one deterministic view name; unknown tables pass through so
        Spark reports them itself.

        Documented caveat: the rewrite is textual and does NOT skip
        string literals — a literal containing exactly
        ``<registered-table> VERSION AS OF <n>`` would be rewritten
        inside the string. Registered table names are user-chosen, so
        avoid embedding them in that phrase inside literals of a
        time-travel query (or SELECT via the DataFrame API:
        ``read_table(version=)``)."""

        def _sub(m: re.Match) -> str:
            name, version = m.group("table"), int(m.group("version"))
            if name not in self.tables:
                return m.group(0)
            view = f"_tt_{name}_v{version}"
            read_table(
                self.spark, self.tables[name], version=version
            ).createOrReplaceTempView(view)
            return view

        stmt = _VERSION_AS_OF_RE.sub(_sub, stmt)

        def _sub_ts(m: re.Match) -> str:
            name, ts = m.group("table"), m.group("ts")
            if name not in self.tables:
                return m.group(0)
            from ..operators.layout import _load, _version_at_timestamp
            import pathlib as _pl

            version = _version_at_timestamp(_load(_pl.Path(self.tables[name])), ts)
            view = f"_tt_{name}_v{version}"
            read_table(
                self.spark, self.tables[name], version=version
            ).createOrReplaceTempView(view)
            return view

        stmt = _TIMESTAMP_AS_OF_RE.sub(_sub_ts, stmt)

        def _sub_tc(m: re.Match) -> str:
            # table_changes('t', v_from, v_to) — Delta's CDF TVF with
            # THIS engine's snapshot-range convention (read_changes:
            # changes going from snapshot v_from to snapshot v_to;
            # Delta's TVF takes commit versions — subtract 1 from its
            # startingVersion to translate). Rows carry _change_type
            # and _commit_version.
            name = m.group("table")
            if name not in self.tables:
                return m.group(0)
            v_from, v_to = int(m.group("vfrom")), int(m.group("vto"))
            view = f"_tc_{name}_v{v_from}_v{v_to}"
            from ..operators.layout import read_changes

            read_changes(
                self.spark,
                self.tables[name],
                v_from,
                v_to,
                with_commit_version=True,
            ).createOrReplaceTempView(view)
            return view

        return _TABLE_CHANGES_RE.sub(_sub_tc, stmt)

    def _create(self, stmt: str) -> dict:
        mc = _SHALLOW_CLONE_RE.match(stmt)
        if mc:
            name = mc.group("target")
            if name in self.tables:
                raise SqlDmlError(f"table {name!r} already exists")
            if not self.base_dir:
                raise SqlDmlError(
                    "SHALLOW CLONE needs a session base_dir "
                    "(ManifestSession(..., base_dir=...))"
                )
            import pathlib

            path = str(pathlib.Path(self.base_dir) / name)
            st = clone_table(self._path(mc.group("source")), path)
            self.register(name, path)
            return st
        m = _CTAS_RE.match(stmt)
        if not m:
            raise SqlDmlError(
                f"unsupported CREATE form (need CREATE TABLE t AS SELECT "
                f"...): {stmt!r}"
            )
        name = m.group("table")
        replace, ifnot = bool(m.group("replace")), bool(m.group("ifnot"))
        if replace and ifnot:
            raise SqlDmlError("OR REPLACE and IF NOT EXISTS are exclusive")
        if name in self.tables:
            if ifnot:  # no-op, like SQL
                return {"table": name, "created": False}
            if replace:
                # dbt's full refresh: the new content replaces the
                # whole live list as ONE commit — history and
                # time travel to the pre-replace table survive
                # (unlike DROP + CREATE)
                st = overwrite_table(
                    self.spark,
                    self._path(name),
                    self.spark.sql(m.group("select")),
                )
                self._refresh()
                return st
            raise SqlDmlError(f"table {name!r} already exists")
        if not self.base_dir:
            raise SqlDmlError(
                "CREATE TABLE needs a session base_dir "
                "(ManifestSession(..., base_dir=...))"
            )
        import pathlib

        path = str(pathlib.Path(self.base_dir) / name)
        if (pathlib.Path(path) / "_manifest.json").exists():
            raise SqlDmlError(f"location {path!r} already holds a table")
        # PARTITIONED BY maps to liquid clustering: manifest tables
        # have no hive partition directories — the columns become the
        # table's cluster-by state (range-partitioned, in-file-sorted
        # writes + per-file min/max stats), which prunes day-style
        # workloads exactly as well (gate:
        # layout_partition_style_pruning; stance: SCALE.md §Layout)
        pcols = (
            [c.strip() for c in m.group("pcols").split(",") if c.strip()]
            if m.group("pcols")
            else None
        )
        st = append_files(
            self.spark, path, self.spark.sql(m.group("select")),
            cluster_by=pcols,
        )
        self.register(name, path)
        return st

    def _alter(self, stmt: str) -> dict:
        m = _ALTER_RENAME_RE.match(stmt)
        if m:
            st = rename_column(
                self._path(m.group("table")), m.group("old"), m.group("new")
            )
            self._refresh()
            return st
        m = _ALTER_ADDCOL_RE.match(stmt)
        if m:
            st = add_column(
                self._path(m.group("table")), m.group("col"), m.group("dtype")
            )
            self._refresh()
            return st
        m = _ALTER_DROPCOL_RE.match(stmt)
        if m:
            st = drop_column(self._path(m.group("table")), m.group("col"))
            self._refresh()
            return st
        m = _ALTER_ADDCON_RE.match(stmt)
        if m:
            return add_constraint(
                self.spark,
                self._path(m.group("table")),
                m.group("name"),
                m.group("expr").strip(),
            )
        m = _ALTER_DROPCON_RE.match(stmt)
        if m:
            return drop_constraint(self._path(m.group("table")), m.group("name"))
        raise SqlDmlError(f"unsupported ALTER form: {stmt!r}")

    def _drop_table(self, stmt: str) -> dict:
        m = _DROP_TABLE_RE.match(stmt)
        if not m:
            raise SqlDmlError(f"unsupported DROP form: {stmt!r}")
        name = m.group("table")
        path = self._path(name)
        self.tables.pop(name)
        self.spark.catalog.dropTempView(name)
        purged = bool(m.group("purge"))
        if purged:  # PURGE: delete the data too (otherwise just unmap)
            import shutil

            shutil.rmtree(path, ignore_errors=True)
        return {"table": name, "purged": purged}

    def _insert(self, stmt: str) -> dict:
        m = _INSERT_RE.match(stmt)
        if not m:
            raise SqlDmlError(f"unsupported INSERT form: {stmt!r}")
        path = self._path(m.group("table"))
        rest = m.group("rest").strip()
        cols = (
            [c.strip() for c in m.group("cols").split(",")]
            if m.group("cols")
            else list(read_table(self.spark, path).columns)
        )
        if rest.upper().startswith("VALUES"):
            df = self.spark.sql(
                f"SELECT * FROM {rest} AS _ins({', '.join(cols)})"
            )
        else:
            df = self.spark.sql(rest).toDF(*cols)
        # SQL INSERT's implicit cast to the target column types (a bare
        # `40.0` literal parses as DECIMAL(3,1), which parquet schema
        # merge rejects against DOUBLE); columns the target doesn't
        # have yet pass through untouched (add-column evolution).
        # ANSI semantics: an un-castable value ERRORS — without the
        # guard, 'abc' into a bigint would become NULL silently, then
        # sail past CHECK constraints (NULL-is-pass)
        target_schema = read_table(self.spark, path).schema
        target_types = {f.name: f.dataType for f in target_schema.fields}
        casted = [c for c in cols if c in target_types]
        if casted:
            bad_counts = df.agg(
                *[
                    F.count(
                        F.when(
                            F.col(c).isNotNull()
                            & F.col(c).try_cast(target_types[c]).isNull(),
                            1,
                        )
                    ).alias(c)
                    for c in casted
                ]
            ).collect()[0]
            bad = {c: int(bad_counts[c]) for c in casted if bad_counts[c]}
            if bad:
                raise SqlDmlError(
                    f"INSERT rejected: values not castable to the target "
                    f"column types (ANSI cast error, rows per column: "
                    f"{bad})"
                )
        df = df.select(
            *[
                F.col(c).cast(target_types[c]).alias(c)
                if c in target_types
                else F.col(c)
                for c in cols
            ]
        )
        if m.group("overwrite").upper() == "OVERWRITE":
            # SQL semantics for an explicit column list on OVERWRITE:
            # unspecified target columns NULL-fill — the new snapshot
            # keeps the FULL table schema (without this, files holding
            # only the listed columns would silently narrow it)
            fill = [f for f in target_schema.fields if f.name not in set(cols)]
            if fill:
                df = df.select(
                    "*",
                    *[
                        F.lit(None).cast(f.dataType).alias(f.name)
                        for f in fill
                    ],
                ).select(
                    *[f.name for f in target_schema.fields],
                    *[c for c in cols if c not in target_types],
                )
            st = overwrite_table(self.spark, path, df)
        else:
            st = append_files(self.spark, path, df)
        self._refresh()
        return st

    def _delete(self, stmt: str) -> dict:
        m = _DELETE_RE.match(stmt)
        if not m:
            raise SqlDmlError(f"unsupported DELETE form: {stmt!r}")
        st = delete_rows(
            self.spark,
            self._path(m.group("table")),
            m.group("pred") or "true",
            mode=self.mode,
        )
        self._refresh()
        return st

    def _update(self, stmt: str) -> dict:
        m = _UPDATE_HEAD_RE.match(stmt)
        if not m:
            raise SqlDmlError(f"unsupported UPDATE form: {stmt!r}")
        # WHERE boundary via the paren/quote-aware scanner: a WHERE
        # inside a scalar-subquery SET expression or a string literal
        # must NOT split the statement
        sets_part, pred = _split_at_keyword(m.group("rest"), "WHERE")
        # table alias (UPDATE t AS u SET ... WHERE u.x): strip the
        # qualifier — update_rows expressions bind unqualified
        alias = m.group("alias")
        if alias:
            qual = re.compile(rf"\b{re.escape(alias)}\s*\.", re.I)
            sets_part = _sub_outside_quotes(qual, "", sets_part)
            pred = _sub_outside_quotes(qual, "", pred) if pred else pred
        sets = {}
        for assign in _split_top_level(sets_part):
            am = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", assign, re.S)
            if not am:
                raise SqlDmlError(f"bad SET assignment: {assign!r}")
            sets[am.group(1)] = am.group(2).strip()
        st = update_rows(
            self.spark,
            self._path(m.group("table")),
            pred or "true",
            sets,
            mode=self.mode,
        )
        self._refresh()
        return st

    def _merge(self, stmt: str) -> dict:
        """Delta's MERGE clause grammar, sliced at top-level WHEN
        boundaries: ``WHEN MATCHED [AND c] THEN DELETE | UPDATE SET * |
        UPDATE SET col = expr, ...``, ``WHEN NOT MATCHED [BY TARGET]
        [AND c] THEN INSERT *``, ``WHEN NOT MATCHED BY SOURCE [AND c]
        THEN DELETE``. Statement order of the two matched clauses is
        reproduced by condition composition (the engine evaluates
        delete first; an update-first statement gets ``del AND NOT
        upd_cond``). Table/source aliases in conditions and
        assignments are rewritten to the engine's ``t``/``s``."""
        m = _MERGE_HEAD_RE.match(stmt)
        if not m:
            raise SqlDmlError(
                "unsupported MERGE form (need: MERGE INTO t [AS a] USING "
                f"src [AS b] ON keys WHEN ...): {stmt!r}"
            )
        path = self._path(m.group("table"))
        on_part, after = _split_at_keyword(m.group("rest"), "WHEN")
        if after is None:
            raise SqlDmlError(f"MERGE without WHEN clauses: {stmt!r}")
        keys = _merge_keys(
            on_part, m.group("table"), (m.group("talias"), m.group("salias"))
        )
        # alias rewrite: user-chosen qualifiers → the engine's t./s.
        subs = {}
        for alias in (m.group("talias"), m.group("table")):
            if alias:
                subs[alias.lower()] = "t"
        src_sql = m.group("src")
        for alias in (m.group("salias"),) + (
            () if src_sql.startswith("(") else (src_sql,)
        ):
            if alias:
                subs[alias.lower()] = "s"

        def _requalify(expr: str) -> str:
            return re.sub(
                r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\.",
                lambda am: subs.get(am.group(1).lower(), am.group(1)) + ".",
                expr,
            )

        clauses = []  # (kind, cond, action_text) in statement order
        rest = after
        while rest is not None:
            clause, rest = _split_at_keyword(rest, "WHEN")
            head, action = _split_at_keyword(clause, "THEN")
            if action is None:
                raise SqlDmlError(f"MERGE clause without THEN: {clause!r}")
            hm = _WHEN_HEAD_RE.match(head.strip())
            if not hm:
                raise SqlDmlError(f"unsupported MERGE clause head: {head!r}")
            negated, by = bool(hm.group("not")), (hm.group("by") or "").upper()
            if not negated and by:
                raise SqlDmlError(f"MATCHED BY {by} is not a clause: {head!r}")
            kind = (
                "matched"
                if not negated
                else ("nmbs" if by == "SOURCE" else "nmbt")
            )
            cond = hm.group("cond")
            clauses.append(
                (kind, _requalify(cond.strip()) if cond else None, action.strip())
            )

        upd: str | dict | None = None
        upd_cond = del_cond = nmbs_del = None
        nmbs_upd: dict | None = None
        nmbs_upd_cond = None
        ins: str | bool = False
        ins_values: dict | None = None
        matched_seen: list[str] = []  # "update"/"delete" in statement order
        nmbs_seen: list[str] = []
        for kind, cond, action in clauses:
            au = action.upper()
            if kind == "matched":
                if au == "DELETE":
                    if del_cond is not None or "delete" in matched_seen:
                        raise SqlDmlError("duplicate WHEN MATCHED DELETE clause")
                    del_cond = cond or "true"
                    matched_seen.append("delete")
                elif au.startswith("UPDATE"):
                    if upd is not None or "update" in matched_seen:
                        raise SqlDmlError("duplicate WHEN MATCHED UPDATE clause")
                    sm = re.match(r"^UPDATE\s+SET\s+(.*)$", action, re.I | re.S)
                    if not sm:
                        raise SqlDmlError(f"bad MATCHED action: {action!r}")
                    sets = sm.group(1).strip()
                    if sets == "*":
                        upd = "*"
                    else:
                        upd = {}
                        for assign in _split_top_level(sets):
                            am = re.match(
                                r"^(?:[A-Za-z_][A-Za-z0-9_]*\.)?"
                                r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$",
                                assign,
                                re.S,
                            )
                            if not am:
                                raise SqlDmlError(
                                    f"bad MERGE SET assignment: {assign!r}"
                                )
                            upd[am.group(1)] = _requalify(am.group(2).strip())
                    upd_cond = cond
                    matched_seen.append("update")
                else:
                    raise SqlDmlError(
                        f"unsupported WHEN MATCHED action {action!r} "
                        "(DELETE or UPDATE SET)"
                    )
            elif kind == "nmbt":
                if ins is not False:
                    raise SqlDmlError("duplicate WHEN NOT MATCHED clause")
                im = re.match(
                    r"^INSERT\s*\((?P<cols>[^)]*)\)\s*"
                    r"VALUES\s*\((?P<vals>.*)\)\s*$",
                    action,
                    re.I | re.S,
                )
                if au == "INSERT *":
                    pass
                elif im:
                    cols_l = [c.strip() for c in im.group("cols").split(",")]
                    vals_l = _split_top_level(im.group("vals"))
                    if len(cols_l) != len(vals_l):
                        raise SqlDmlError(
                            f"MERGE INSERT column/value count mismatch: "
                            f"{len(cols_l)} vs {len(vals_l)}"
                        )
                    ins_values = {
                        c: _requalify(v.strip())
                        for c, v in zip(cols_l, vals_l)
                    }
                else:
                    raise SqlDmlError(
                        f"unsupported WHEN NOT MATCHED action {action!r} "
                        "(INSERT * or INSERT (cols) VALUES (exprs))"
                    )
                ins = cond or True
            else:  # nmbs
                if au == "DELETE":
                    if "delete" in nmbs_seen:
                        raise SqlDmlError(
                            "duplicate WHEN NOT MATCHED BY SOURCE DELETE"
                        )
                    nmbs_del = cond or "true"
                    nmbs_seen.append("delete")
                elif au.startswith("UPDATE"):
                    if "update" in nmbs_seen:
                        raise SqlDmlError(
                            "duplicate WHEN NOT MATCHED BY SOURCE UPDATE"
                        )
                    sm = re.match(r"^UPDATE\s+SET\s+(.*)$", action, re.I | re.S)
                    if not sm or sm.group(1).strip() == "*":
                        raise SqlDmlError(
                            f"bad NOT MATCHED BY SOURCE action {action!r} "
                            "(UPDATE SET col = expr — no source row, so no *)"
                        )
                    nmbs_upd = {}
                    for assign in _split_top_level(sm.group(1).strip()):
                        am = re.match(
                            r"^(?:[A-Za-z_][A-Za-z0-9_]*\.)?"
                            r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$",
                            assign,
                            re.S,
                        )
                        if not am:
                            raise SqlDmlError(
                                f"bad MERGE SET assignment: {assign!r}"
                            )
                        nmbs_upd[am.group(1)] = _requalify(am.group(2).strip())
                    nmbs_upd_cond = cond
                    nmbs_seen.append("update")
                else:
                    raise SqlDmlError(
                        f"unsupported WHEN NOT MATCHED BY SOURCE action "
                        f"{action!r} (DELETE or UPDATE SET)"
                    )
        if matched_seen == ["update", "delete"]:
            # engine evaluates delete first; reproduce statement order
            if upd_cond is None:
                raise SqlDmlError(
                    "a non-final WHEN MATCHED clause needs an AND condition"
                )
            del_cond = f"({del_cond}) AND NOT ({upd_cond})"
        if nmbs_seen == ["update", "delete"]:
            if nmbs_upd_cond is None:
                raise SqlDmlError(
                    "a non-final WHEN NOT MATCHED BY SOURCE clause needs "
                    "an AND condition"
                )
            nmbs_del = f"({nmbs_del}) AND NOT ({nmbs_upd_cond})"

        src: DataFrame = self.spark.sql(
            f"SELECT * FROM {src_sql} AS _merge_src"
            if src_sql.startswith("(")
            else f"SELECT * FROM {src_sql}"
        )
        st = merge_rows(
            self.spark,
            path,
            src,
            on=keys,
            mode=self.mode,
            when_matched_update=upd,
            when_matched_update_condition=upd_cond,
            when_matched_delete=del_cond,
            when_not_matched_insert=ins,
            when_not_matched_insert_values=ins_values,
            when_not_matched_by_source_delete=nmbs_del,
            when_not_matched_by_source_update=nmbs_upd,
            when_not_matched_by_source_update_condition=nmbs_upd_cond,
        )
        self._refresh()
        return st
