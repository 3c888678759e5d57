"""YQL SQL dialect front-end (named expressions, backticked paths, PRAGMA)
— run the reference's own YQL query text on Spark. See dialect.py."""

from __future__ import annotations

import re

from ytsaurus_spark.yql.dialect import (  # noqa: F401
    PRAGMA_CONF_MAP,
    TranslatedQuery,
    YqlUnsupportedError,
    apply_pragmas,
    pragma_confs,
    translate_yql,
)
from ytsaurus_spark.yql.tpcds_star import (  # noqa: F401
    STAR_VIEW_SQL,
    oracle_with_star,
    register_star_views,
)


def _small_star_input(spark, sf_dir: str) -> bool:
    """True when the star fixture is below one scan split per core —
    the regime where AQE's per-exchange stage materialization is pure
    fixed cost (nothing to coalesce: every shuffle is already under one
    advisory partition). Byte-derived, never a constant: at production
    scale this is False and the wide-plan routing below is a no-op. The
    input is every ``*.parquet`` table of ``sf_dir``, a single file or a
    Spark output directory alike; an unknowable size is not small."""
    import glob
    import os

    from ytsaurus_spark.operators import local_input_bytes, split_bytes

    tables = glob.glob(os.path.join(glob.escape(sf_dir), "*.parquet"))
    total = local_input_bytes(tables)
    dp = spark.sparkContext.defaultParallelism
    return total is not None and total < split_bytes(spark) * dp


def _star_session(spark, sf_dir: str, cached: bool = True,
                  wide_plan: bool = False):
    """An isolated session over the TPC-DS star views of ``sf_dir``: a
    clone of the star template (``catalog.statement_session``), so the
    24 views register once per process and fixture listing, and confs a
    statement sets stay in its own clone.

    ``cached=False`` clones a parallel template whose star
    views are NOT persisted: every reference re-derives from parquet, so
    predicate pushdown and scan-level size estimates stay alive. Most
    statements are far faster on the cached views; a statement whose
    physical plan collapses over whole-view InMemoryRelations (q72's
    non-equi date triangle: 55-65 s warm cached vs 21-24 s uncached at
    sf0.1, identical results) opts out via this flag.

    ``wide_plan=True`` routes a statement whose physical plan is
    hundreds of tiny dim-bounded exchange/broadcast stages (q14a: 298
    stages, 32.8 s summed executorRunTime ≈ 1 s of parallel compute,
    11 s wall — the wall is AQE materializing each exchange as its own
    sequential job) to a session with AQE disabled, where the one-shot
    planner both pipelines independent stages and REUSES identical
    exchange subtrees (q14a: 0 → 32 ReusedExchange, 9.7 → 6.3 s; q14b
    5.3 → 3.2 s). Only honored while the star input is below one scan
    split per core (``_small_star_input``): at scale AQE's coalescing
    pays for its stage barriers, so the flag degrades to the plain
    cached session. Physical-plan-only in both directions — values are
    oracle-identical."""
    from ytsaurus_spark.catalog import statement_session

    if not cached:
        flavour = "star_uncached"
    elif wide_plan and _small_star_input(spark, sf_dir):
        flavour = "star_wide"
    else:
        flavour = "star"
    return statement_session(spark, sf_dir, flavour)


def _resolve_source_schema(src: str, s2, client):
    """Schema of a FLATTEN COLUMNS source token: a backticked cypress
    path (client-resolved when possible, else the registered basename
    view) or a bare view name."""
    if src.startswith("`"):
        path = src.strip("`")
        if client is not None and client.exists(path):
            return client.read_table(path).schema
        return s2.table(path.rstrip("/").rsplit("/", 1)[-1]).schema
    return s2.table(src).schema


def _expand(text: str, s2, client) -> str:
    """The context-aware expansions that run before translation, in
    order: table path functions (RANGE/CONCAT/EACH/LIKE/REGEXP/FILTER —
    yql_yt_io_discovery.cpp:101, served by ``client``), MATCH_RECOGNIZE
    (no single-SQL form: the DataFrame operator materializes each item
    into a temp view of ``s2``, yql/match_recognize_text.py) and FLATTEN
    COLUMNS (needs the source schema)."""
    if re.search(r"(?i)\b(range|concat|each|like|regexp|filter)\s*\(\s*[`']//",
                 text):
        from ytsaurus_spark.yql.table_functions import expand_table_functions

        text = expand_table_functions(text, client, s2)
    if re.search(r"(?i)\bmatch_recognize\b", text):
        from ytsaurus_spark.yql.match_recognize_text import (
            expand_match_recognize,
        )

        text = expand_match_recognize(s2, text)
    if re.search(r"(?i)\bflatten\s+columns\b", text):
        from ytsaurus_spark.yql.table_functions import expand_flatten_columns

        text = expand_flatten_columns(
            text, lambda src: _resolve_source_schema(src, s2, client)
        )
    return text


def yql_select(spark, text: str, sf_dir: str | None = None,
               star: bool = True, pragmas: bool = True,
               params: dict | None = None, client=None):
    """Execute one YQL script and return the result DataFrame.

    Runs in an ISOLATED session (own temp-view namespace + SQL conf) so
    the star views and any pragma-implied confs never leak into the
    caller's session or the next statement. The session is a clone of a
    template that registered the fixture tables of ``sf_dir`` (and, with
    ``star``, the derived TPC-DS views) once per process and fixture
    listing (``catalog.statement_session``); with ``sf_dir=None`` the
    template has no views, and backticked paths resolve through
    ``client`` (a YtClient), which also serves the
    RANGE/CONCAT/EACH/LIKE/REGEXP table functions.
    """
    if sf_dir is not None and star:
        s2 = _star_session(spark, sf_dir)
    else:
        from ytsaurus_spark.catalog import statement_session

        s2 = statement_session(spark, sf_dir, "yql")
    if client is not None:
        from ytsaurus_spark.client import YtClient

        exec_client = YtClient(root=client.root, spark=s2)
    else:
        exec_client = None
    tq = translate_yql(_expand(text, s2, exec_client), params=params)
    if pragmas:
        apply_pragmas(s2, tq.pragmas)
    return s2.sql(tq.sql)


def _dyn_keys(client, ypath: str) -> list[str]:
    """Key columns of a dynamic table at ``ypath`` ([] if absent or not
    dynamic/keyed)."""
    if client is None:
        return []
    from ytsaurus_spark.sources.formats import table_attributes

    try:
        return list(table_attributes(client._fs(ypath)).get(
            "key_columns") or [])
    except Exception:
        return []


def yql_execute(spark, text: str, client=None, sf_dir: str | None = None,
                params: dict | None = None):
    """Execute a full YQL SCRIPT, including write statements — the
    reference's primary batch workflow shape (SQLv1 into_table_stmt):

        $clean = (select ... from `//home/raw/docs` where ...);
        INSERT INTO `//home/out/docs` WITH TRUNCATE
        select * from $clean;

    ``INSERT INTO`` appends (``WITH TRUNCATE`` overwrites), ``REPLACE
    INTO`` overwrites, ``UPSERT INTO`` upserts into a DYNAMIC table by
    key (the reference's dynamic-table write). Backticked paths resolve
    through ``client`` (a YtClient); ``sf_dir`` additionally registers
    the fixture tables. Returns the LAST result-select's DataFrame, or
    None if the script is writes-only.

    Each statement sees the tables as of the previous statement's commit
    (client paths re-register per statement), matching YQL's sequential
    script semantics. The script runs in one clone of the ``yql``
    statement template (``catalog.statement_session``)."""
    from ytsaurus_spark.catalog import statement_session
    from ytsaurus_spark.yql.dialect import translate_yql_script

    s2 = statement_session(spark, sf_dir, "yql")

    # views are session-scoped: re-root the client onto the isolated
    # execution session so registrations land where the SQL runs
    if client is not None:
        from ytsaurus_spark.client import YtClient

        exec_client = YtClient(root=client.root, spark=s2)
    else:
        exec_client = None

    parts = translate_yql_script(_expand(text, s2, exec_client), params=params)
    apply_pragmas(s2, parts[0].pragmas if parts else {})

    def register_client_paths(stmt):
        if exec_client is None:
            return
        for p in stmt.paths:
            if p == stmt.target and stmt.kind not in ("update", "delete"):
                # the write target is not a read source — except for
                # UPDATE/DELETE, whose select body reads the target
                continue
            if exec_client.exists(p):
                name = p.rstrip("/").rsplit("/", 1)[-1]
                exec_client.read_table(p).createOrReplaceTempView(name)

    last = None
    for stmt in parts:
        if stmt.kind == "create_table":
            # create_table_stmt (SQLv1Antlr4.g.in:646): PRIMARY KEY ->
            # sorted DYNAMIC table, plain columns -> static schema
            if client is None:
                raise ValueError("CREATE TABLE needs a client")
            if exec_client.exists(stmt.target):
                if stmt.truncate:  # strict form (no IF NOT EXISTS)
                    raise ValueError(
                        f"CREATE TABLE: {stmt.target} already exists")
                last = None
                continue
            schema = [dict(c) for c in stmt.create_schema]
            dynamic = any(c.get("sort_order") for c in schema)
            exec_client.create("table", stmt.target, attributes={
                "schema": schema, **({"dynamic": True} if dynamic else {}),
            })
            last = None
            continue
        if stmt.kind == "alter_table":
            # alter_table_stmt (SQLv1Antlr4.g.in:697): ADD/DROP COLUMN.
            # Static tables rewrite in place (added columns read NULL);
            # dynamic tables keep their MVCC layout — alter through the
            # dynamic write path instead.
            if client is None:
                raise ValueError("ALTER TABLE needs a client")
            from pyspark.sql import functions as F

            from ytsaurus_spark.sources.formats import (
                _write_attrs, table_attributes,
            )
            from ytsaurus_spark.yt_types import yt_type_to_spark

            p = client._fs(stmt.target)
            attrs = dict(table_attributes(p))
            if attrs.get("dynamic"):
                raise YqlUnsupportedError(
                    "ALTER TABLE on a dynamic table is not supported — "
                    "write through UPSERT with the widened row shape")
            df = exec_client.read_table(stmt.target)
            schema = list(attrs.get("schema") or [])
            for op, name, typ in stmt.alter_actions:
                if op == "add":
                    if name in df.columns:
                        raise ValueError(
                            f"ALTER TABLE: column {name} already exists")
                    df = df.withColumn(
                        name, F.lit(None).cast(yt_type_to_spark(typ)))
                    schema.append({"name": name, "type": typ})
                else:
                    if name not in df.columns:
                        raise ValueError(
                            f"ALTER TABLE: no such column {name}")
                    if name in (attrs.get("sorted_by") or []):
                        # the table's attributes carry over the rewrite
                        raise ValueError(
                            f"ALTER TABLE: cannot drop key column {name}")
                    df = df.drop(name)
                    schema = [c for c in schema if c.get("name") != name]
            exec_client.write_table(stmt.target, df, append=False)
            if schema:
                _write_attrs(p, {**attrs, "schema": schema})
            last = None
            continue
        if stmt.kind == "drop":
            if client is None:
                raise ValueError("DROP TABLE needs a client")
            if exec_client.exists(stmt.target):
                exec_client.remove(stmt.target, recursive=True)
            elif stmt.truncate:  # strict form (no IF EXISTS)
                raise ValueError(f"DROP TABLE: no such table {stmt.target}")
            last = None
            continue
        register_client_paths(stmt)
        df = s2.sql(stmt.sql)
        if stmt.kind == "select":
            last = df
            continue
        if stmt.kind == "discard":
            # DISCARD SELECT: compute (validation/side effects), drop rows
            df.collect()
            continue
        if stmt.kind in ("update", "delete"):
            # SQLv1 delete_stmt/update_stmt (SQLv1Antlr4.g.in:968-969):
            # key-addressed DML on a DYNAMIC table. The translated select
            # produced the affected row images; route them through the
            # dynamic-table write path (delete_rows / upsert).
            from ytsaurus_spark.sources.formats import table_attributes

            if client is None:
                raise ValueError(
                    f"{stmt.kind.upper()} needs a client to write through")
            attrs = table_attributes(client._fs(stmt.target))
            if not attrs.get("dynamic"):
                raise ValueError(
                    f"{stmt.kind.upper()} targets a dynamic table; "
                    f"{stmt.target} is static")
            if stmt.kind == "delete":
                exec_client.delete_rows(
                    stmt.target, df.select(*attrs["key_columns"]))
            else:
                exec_client.insert_rows(stmt.target, df)
            last = None
            continue
        if stmt.target and stmt.target.startswith("@"):
            # anonymous (script-lifetime) table: a session temp view
            view = "__anon_" + stmt.target[1:]
            if stmt.kind == "upsert":
                raise ValueError("UPSERT INTO an anonymous table — "
                                 "anonymous tables are not dynamic")
            if stmt.columns:
                df = df.toDF(*stmt.columns)
            try:
                prior = None if stmt.truncate else s2.table(view)
            except Exception:
                prior = None
            (df if prior is None else prior.unionByName(df)) \
                .createOrReplaceTempView(view)
            last = None
            continue
        if client is None:
            raise ValueError(
                f"{stmt.kind.upper()} INTO needs a client to write through"
            )
        if stmt.columns:
            # INSERT INTO t (cols): the select maps positionally onto
            # the named columns; the target's other columns become NULL
            if len(df.columns) != len(stmt.columns):
                raise ValueError(
                    f"INSERT column list names {len(stmt.columns)} "
                    f"column(s), the select produces {len(df.columns)}"
                )
            df = df.toDF(*stmt.columns)
            if exec_client.exists(stmt.target):
                from pyspark.sql import functions as F

                tgt = exec_client.read_table(stmt.target).schema
                have = {c.lower() for c in stmt.columns}
                df = df.select(*(
                    df[f.name] if f.name.lower() in have
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in tgt.fields
                ))
        if stmt.kind == "upsert":
            from ytsaurus_spark.sources.formats import table_attributes

            if not table_attributes(client._fs(stmt.target)).get("dynamic"):
                raise ValueError(
                    f"UPSERT INTO targets a dynamic table; {stmt.target} "
                    "is static (use INSERT/REPLACE)"
                )
            exec_client.insert_rows(stmt.target, df)
        elif stmt.insert_mode == "ignore" and _dyn_keys(client, stmt.target):
            # INSERT OR IGNORE (into_table_stmt:578): keys already
            # present keep their stored row — only NEW keys land
            keys = _dyn_keys(client, stmt.target)
            current = exec_client.read_table(stmt.target).select(*keys)
            exec_client.insert_rows(
                stmt.target, df.join(current, list(keys), "left_anti"))
        else:
            # OR ABORT / OR REVERT add transactional failure modes the
            # sequential executor already has (a failed statement stops
            # the script); the write itself is a plain append
            exec_client.write_table(stmt.target, df, append=not stmt.truncate)
        last = None
    return last


def yql_explain(spark, text: str, sf_dir: str | None = None,
                params: dict | None = None) -> str:
    """ExplainQuery analog for the YQL surface: translate the script and
    return Spark's FORMATTED physical plan for the (single) result
    statement — what the reference's query tracker shows as the query
    plan stage. No execution happens."""
    df = yql_select(spark, text, sf_dir=sf_dir, params=params)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
