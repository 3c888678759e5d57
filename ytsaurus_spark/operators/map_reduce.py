"""MapReduce operation types (SURVEY §2.2) as DataFrame transforms.

Reference: EOperationType (yt/yt/client/scheduler/public.h:28-38) — Map,
Merge, Erase, Sort, Reduce, MapReduce, JoinReduce, Vanilla — with controllers
under yt/yt/server/controller_agent/controllers/ and the user-code contract
in yt/cpp/mapreduce/interface/operation.h (IMapper/IReducer, reducer called
once per distinct key, secondary sort via sort_by ⊇ reduce_by); Python SDK
mirror yt/python/yt/wrapper/run_operation_commands.py:63-387.

Spark re-expression (the whole §3.2 pipeline is one DataFrame chain):
- Map            → mapInPandas (Arrow-batched; ordered=false semantics)
- Reduce         → repartition(reduce_by) [+ sortWithinPartitions(sort_by)]
                   → applyInPandas per key group (key guarantee) or
                   mapPartitions-style grouped iteration without it
- JoinReduce     → broadcast/sort-merge join of foreign tables, then Reduce
- Sort           → repartitionByRange + sortWithinPartitions (Spark's
                   range-sampling shuffle is the reference's partition-tree
                   algorithm, sort_controller.cpp:241-308)
- Merge          → unionByName (unordered/ordered) or sorted k-way merge
- MapReduce      → map → reduce fused in one plan (combiner = Catalyst
                   partial aggregation, automatic)
- Erase          → complement filter rewrite
- input_query    → spark.sql view applied before user code (pushdown)
- sampling       → df.sample or deterministic hash-mod sampling

Scale notes: every transform here stays declarative until the user function
itself, so Catalyst handles pushdown/pruning; the only shuffles are the ones
the semantics require (one per reduce/sort). User functions cross the JVM
boundary in Arrow batches, never row-at-a-time.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ytsaurus_spark.operators import materialize

MapFn = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]
ReduceFn = Callable[[pd.DataFrame], pd.DataFrame]
KeyedReduceFn = Callable[[tuple, pd.DataFrame], pd.DataFrame]


def run_map(
    df: DataFrame,
    mapper: MapFn,
    output_schema: Any,
    *,
    ordered: bool = False,
) -> DataFrame:
    """Map operation: user function over row batches.

    Mirrors unordered/ordered_controller.cpp map semantics. ``ordered=True``
    ENFORCES global input order in the output: each output batch is tagged
    with (input partition id, batch sequence, row-in-batch) and the result
    is range-sorted on that triple — necessary because Spark's file scan
    packs splits largest-first, so partition order is NOT file order. Costs
    one range shuffle of the mapper output (the reference's ordered
    controller pays the same serialization by chaining chunks in order);
    the unordered variant is shuffle-free and lets Spark re-split freely.
    """
    if ordered:
        from pyspark import TaskContext

        def _tagged(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            for seq, out in enumerate(mapper(batches)):
                out = out.copy()
                out["__pid"] = pid
                out["__seq"] = seq
                out["__row"] = range(len(out))
                yield out

        if isinstance(output_schema, str):
            tagged_schema: Any = (
                output_schema + ", __pid int, __seq long, __row long"
            )
        else:
            from pyspark.sql.types import LongType, IntegerType, StructField

            tagged_schema = output_schema.add(
                StructField("__pid", IntegerType())
            ).add(StructField("__seq", LongType())).add(
                StructField("__row", LongType())
            )
        mapped = df.mapInPandas(_tagged, schema=tagged_schema)
        keep = [c for c in mapped.columns if c not in ("__pid", "__seq", "__row")]
        return mapped.sort("__pid", "__seq", "__row").select(*keep)
    return df.mapInPandas(mapper, schema=output_schema)


def run_map_multi_output(
    df: DataFrame,
    mapper: MapFn,
    output_schema: Any,
    tag_col: str,
    num_outputs: int,
) -> list[DataFrame]:
    """Map with multiple output tables (the reference mapper's N-output
    contract — AddRow(row, table_index); MapperOutputTableCount,
    yt/yt/ytlib/scheduler/config.h:1975). The mapper emits a ``tag_col``
    table index per row; each output is a filtered view of ONE mapped
    pass — Spark caches the mapped frame so the map runs once, not N times."""
    mapped = run_map(df, mapper, output_schema).transform(materialize)
    return [
        mapped.filter(F.col(tag_col) == i).drop(tag_col) for i in range(num_outputs)
    ]


def run_reduce(
    df: DataFrame,
    reduce_by: list[str],
    reducer: ReduceFn,
    output_schema: Any,
    *,
    sort_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Reduce with the key guarantee: the reducer sees ALL rows for a given
    ``reduce_by`` key in one call (operation.h:2132 — Do() per key range).

    Secondary sort: ``sort_by`` must extend ``reduce_by`` (spec rule,
    operation.h:978-983); rows arrive at the reducer sorted by it.

    Execution rides the SortedReduce shape (run_reduce_batched): the
    ``reducer`` runs on each key's slice inside multi-group Arrow batches,
    at the cost of a pandas slice per key. ``groupBy().applyInPandas`` paid
    a Python call + Arrow exchange per key (~1 ms; the 15k-customer
    JoinReduce query spent 13-20 s on round trips alone). Within-key tie
    order is unspecified.
    """

    def batch_apply(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = [
            reducer(g)
            for _k, g in pdf.groupby(reduce_by, sort=False, dropna=False)
        ]
        return (
            pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]
        )

    return run_reduce_batched(
        df, reduce_by, batch_apply, output_schema, sort_by=sort_by,
        num_partitions=num_partitions,
    )


def run_reduce_batched(
    df: DataFrame,
    reduce_by: list[str],
    batch_reducer: ReduceFn,
    output_schema: Any,
    *,
    sort_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """SortedReduce shape: the scale path for many small key groups.

    ``groupBy().applyInPandas`` pays a Python call + Arrow exchange per key
    group — ruinous when groups are small and numerous (the common case at
    100 TB: billions of keys). The reference's SortedReduce job instead
    merge-reads a sorted partition and walks key ranges sequentially
    (yt/yt/server/job_proxy via sorted readers, sorted_controller.cpp).

    This reproduces that: hash-repartition on ``reduce_by``, sort within
    partitions, then ``mapInPandas`` streams multi-group Arrow batches to
    ``batch_reducer``, which must aggregate per key itself (vectorized
    ``pdf.groupby`` — thousands of groups per Python call). A carry buffer
    keeps the trailing (possibly batch-split) key group for the next batch,
    so every key is still seen exactly once, whole — the key guarantee at
    batch granularity. The carry's key test is null-safe, as Spark groups,
    so a NULL or NaN key group also arrives whole (group it with
    ``dropna=False``); pandas holds a float NULL as NaN, so a NULL and a
    NaN group in one batch look like one group. This is the engine's one
    sorted-key pass: ``run_reduce`` and MATCH_RECOGNIZE run on it.
    """
    if sort_by and sort_by[: len(reduce_by)] != reduce_by:
        raise ValueError("sort_by must have reduce_by as prefix")
    sort_cols = sort_by or reduce_by
    # keyed repartition WITHOUT a pinned count unless the caller asks:
    # REPARTITION_BY_NUM disables AQE coalescing, so a fixed 32 would be a
    # local-core-count constant baked into the plan. Keyless form starts at
    # spark.sql.shuffle.partitions and lets AQE size the reduce stage by
    # bytes — the scale-adaptive behavior on any cluster. (Measured both
    # ways at sf0.1: pinning the width to 32 cores was ~1.5x SLOWER than
    # AQE's byte-coalesced 3 partitions — per-task Python/Arrow overhead
    # outweighs core width until partitions carry real data.)
    if num_partitions:
        arranged = df.repartition(int(num_partitions), *reduce_by)
    else:
        arranged = df.repartition(*reduce_by)
    arranged = arranged.sortWithinPartitions(*sort_cols)

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            mask = _last_key_rows(pdf, reduce_by)
            complete, carry = pdf[~mask], pdf[mask]
            if len(complete):
                yield batch_reducer(complete)
        if carry is not None and len(carry):
            yield batch_reducer(carry)

    return arranged.mapInPandas(runner, output_schema)


def _last_key_rows(pdf: pd.DataFrame, key_cols: list[str]) -> np.ndarray:
    """Mask of the rows whose key equals the last row's, NULL and NaN
    included (Spark's grouping equality, not pandas ``==``)."""
    mask = np.ones(len(pdf), dtype=bool)
    for c in key_cols:
        col = pdf[c]
        last = col.iloc[-1]
        if pd.api.types.is_scalar(last) and pd.isna(last):
            mask &= col.isna().to_numpy()
        else:
            mask &= (col == last).to_numpy()
    return mask


def run_reduce_multi_input(
    dfs: list[DataFrame],
    reduce_by: list[str],
    reducer: ReduceFn,
    output_schema: Any,
    *,
    table_index_col: str = "__table_index",
) -> DataFrame:
    """Reduce over MULTIPLE input tables: the reducer sees all rows for a
    key from every input, tagged with their table index — the reference's
    multi-input contract (readers expose GetTableIndex,
    yt/cpp/mapreduce/interface/operation.h:2056-2166).

    Inputs may have different columns; missing ones arrive as null (the
    reference's heterogeneous-input behavior with loose schemas).

    Execution rides the SortedReduce batched shape via ``run_reduce`` —
    the former ``groupBy().applyInPandas`` paid one Python call + Arrow
    exchange PER KEY (measured 32.9 s at sf0.1 for the 15k-customer
    multi-input count; batched: the same per-key contract at a
    pandas-slice cost). Within-key row order is unspecified in both
    forms, exactly as before.

    Shuffle width is ``python_stage_width`` (cluster-parallelism floor,
    byte-derived above it): the stage's cost is per-KEY user Python that
    AQE's byte coalescing misprices — the 15k-key count at sf0.1 was
    6.1 s on AQE's one coalesced partition vs 0.9 s at cluster width,
    and the per-key work is embarrassingly parallel across keys."""
    from ytsaurus_spark.operators import python_stage_width

    tagged = None
    for i, df in enumerate(dfs):
        t = df.withColumn(table_index_col, F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t, allowMissingColumns=True)
    assert tagged is not None, "need at least one input"
    return run_reduce(tagged, reduce_by, reducer, output_schema,
                      num_partitions=python_stage_width(tagged))


def run_join_reduce(
    primary: DataFrame,
    foreign: DataFrame,
    join_by: list[str],
    reducer: ReduceFn,
    output_schema: Any,
    *,
    reduce_by: list[str] | None = None,
    broadcast_foreign: bool = True,
) -> DataFrame:
    """JoinReduce: merge-join primary with foreign tables on ``join_by``
    (a prefix of the primary key), then reduce (operation.h:1051-1054 —
    key guarantee off by default). Foreign tables are the small side in the
    reference's design, so broadcast is the scale-correct default.

    Shuffle width is ``python_stage_width`` (cluster-parallelism floor,
    byte-derived above it): JoinReduce keys at the primary table's key
    prefix — many small keys by construction — so the stage cost is
    per-key user Python that AQE's byte coalescing misprices (measured:
    the 15k-customer reduce was 2.0 s on AQE's one coalesced partition
    vs 0.9 s at cluster width)."""
    from ytsaurus_spark.operators import python_stage_width

    f = F.broadcast(foreign) if broadcast_foreign else foreign
    joined = primary.join(f, on=join_by, how="left")
    return run_reduce(joined, reduce_by or join_by, reducer, output_schema,
                      num_partitions=python_stage_width(joined))


def run_sort(df: DataFrame, sort_by: list[str], num_partitions: int | None = None) -> DataFrame:
    """Sort operation: distributed range-partitioned sort.

    The reference samples input to build a partition tree of key ranges
    (sort_controller.cpp:241-308), sorts each partition, then concatenates —
    exactly Spark's repartitionByRange (reservoir-sampled bounds) +
    sortWithinPartitions. Output partitions are globally ordered; a consumer
    reading partitions in order sees total order, without ever materializing
    a single-node sort.

    Per-column sort order (TColumnSchema::SortOrder ascending/descending):
    a ``"col desc"`` entry sorts that key descending."""
    cols = []
    for spec in sort_by:
        parts = spec.split()
        c = F.col(parts[0])
        if len(parts) > 1 and parts[1].lower() == "desc":
            c = c.desc()
        cols.append(c)
    if num_partitions:
        return df.repartitionByRange(num_partitions, *cols).sortWithinPartitions(*cols)
    return df.repartitionByRange(*cols).sortWithinPartitions(*cols)


def run_merge(
    inputs: list[DataFrame],
    mode: str = "unordered",
    merge_by: list[str] | None = None,
) -> DataFrame:
    """Merge operation: ``unordered`` / ``ordered`` concat or ``sorted``
    k-way merge (mode auto-detect mirrors spec_builders.py:1966-1970).

    ``sorted`` re-establishes global order over already-sorted inputs. On a
    cluster the range shuffle only moves boundary-crossing chunks under AQE;
    the reference's SortedMerge job does the same k-way merge per range."""
    if not inputs:
        raise ValueError("run_merge needs at least one input")
    out = inputs[0]
    for other in inputs[1:]:
        out = out.unionByName(other)
    if mode == "sorted":
        if not merge_by:
            raise ValueError("sorted merge requires merge_by")
        return run_sort(out, merge_by)
    return out


def run_map_reduce(
    df: DataFrame,
    mapper: MapFn | None,
    map_schema: Any,
    reduce_by: list[str],
    reducer: ReduceFn,
    output_schema: Any,
    *,
    sort_by: list[str] | None = None,
) -> DataFrame:
    """Fused MapReduce (sort_controller.cpp shared pipeline): mapper feeds the
    reduce shuffle directly; Catalyst fuses the map into the shuffle write
    stage — the reference's PartitionMap job. A combiner (ReduceCombiner job)
    is not modeled explicitly: when the reducer is an aggregation, express it
    with groupBy().agg() instead and Spark's partial aggregation IS the
    combiner."""
    mapped = run_map(df, mapper, map_schema) if mapper else df
    return run_reduce(mapped, reduce_by, reducer, output_schema, sort_by=sort_by)


def run_erase(
    df: DataFrame,
    predicate,
) -> DataFrame:
    """Erase: delete rows matching the predicate (a Column or SQL text) by
    rewriting the complement (ordered_controller.cpp erase path does
    exactly this at chunk level). A row whose predicate is NULL is not
    matched and stays, as with SQL ``DELETE ... WHERE``."""
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    return df.filter(~F.coalesce(predicate, F.lit(False)))


def apply_input_query(df: DataFrame, query: str, view_name: str = "__input") -> DataFrame:
    """input_query: QL SELECT applied to the operation's input before user
    code (operation_controller_detail.cpp:7607-7690). In Spark the filter/
    project pushes down into the parquet scan — the exact optimization the
    reference implements by hand."""
    df.createOrReplaceTempView(view_name)
    return df.sparkSession.sql(query.replace("__input", view_name))


def sample_rows(df: DataFrame, rate: float, *, seed: int | None = None) -> DataFrame:
    """Operation input sampling (config.h:349-361). Bernoulli row sampling."""
    return df.sample(fraction=rate, seed=seed)


def sample_rows_deterministic(df: DataFrame, key: str, modulus: int) -> DataFrame:
    """Systematic deterministic sample: keep rows where key % modulus == 0.
    Reproducible across engines (used by the correctness oracle)."""
    return df.filter((F.col(key) % modulus) == 0)


def run_vanilla(
    spark,
    tasks: dict[str, tuple[int, Callable[[int], "pd.DataFrame"], Any]],
) -> dict[str, DataFrame]:
    """Vanilla operation: named tasks of N input-less parallel jobs each.

    Mirrors the reference's vanilla controller (vanilla_controller.cpp:
    TVanillaTask with a per-task ``job_count``, jobs get no input tables and
    emit rows to the task's outputs). Spark-first shape: each task is
    ``spark.range(job_count, numPartitions=job_count)`` — exactly one job
    index per partition, so every job body runs as its own Spark task — the scheduler
    places, retries and speculates them like any other stage, which is the
    cluster story at scale (the reference's chunk-pool job accounting maps
    to Spark task scheduling).

    ``tasks`` maps task name → ``(job_count, job_fn, output_schema)``;
    ``job_fn(job_index) -> pandas.DataFrame`` is the job body (rows for the
    task's output table). Jobs must be deterministic/idempotent: Spark may
    re-run a failed or speculated task, same as the reference re-schedules
    a failed job.
    """
    outputs: dict[str, DataFrame] = {}
    for name, (job_count, job_fn, output_schema) in tasks.items():
        if job_count < 1:
            raise ValueError(f"task {name!r}: job_count must be >= 1")

        def runner(batches: Iterator[pd.DataFrame], _fn=job_fn) -> Iterator[pd.DataFrame]:
            for batch in batches:
                for job_index in batch["id"]:
                    yield _fn(int(job_index))

        # range with numPartitions=n slices exactly one job index per
        # partition — no shuffle, guaranteed 1:1 job↔task placement
        seed = spark.range(0, job_count, 1, job_count)
        outputs[name] = seed.mapInPandas(runner, schema=output_schema)
    return outputs


def run_operation(cat, spec: dict, tracker: "OperationTracker | None" = None) -> DataFrame:
    """Spec-dict operation submission — the `yt.wrapper.run_operation`
    entry point (yt/python/yt/wrapper/run_operation_commands.py:63-387;
    spec shapes from spec_builders.py): a reference user who writes

        run_map_reduce(mapper, reducer, in_, out, reduce_by=[...])

    or submits a spec dict can hand the SAME spec here. Supported
    ``operation_type`` values: map, reduce, map_reduce, join_reduce,
    sort, merge, erase, vanilla. Recognized spec keys mirror the
    reference: ``input_table_paths`` (catalog names, rich paths
    accepted), ``output_table_path``, ``mapper``/``reducer``
    (``{"command": callable, "output_schema": ...}`` — the container
    runs Python callables over Arrow batches where the reference runs
    arbitrary executables over pipes), ``reduce_by``, ``sort_by``,
    ``join_by``, ``input_query``, ``sampling`` ({"sampling_rate": p} or
    {"key": col, "modulus": m} deterministic), ``merge_mode``,
    ``erase_predicate``, ``tasks`` (vanilla). Returns the result
    DataFrame; with ``output_table_path`` it is also committed to the
    catalog (overwrite, matching scheduler output-table semantics).

    Everything compiles to the declarative operators above, so specs get
    Catalyst planning (pushdown through input_query, partial-agg
    combiners) — not a literal job scheduler. Pass a tracker to record
    the run for get_operation / list_operations polling."""
    if tracker is not None:
        op_id = tracker._start(spec)
        try:
            out = run_operation(cat, spec)
        except Exception as e:
            tracker._finish(op_id, f"{type(e).__name__}: {e}")
            raise
        tracker._finish(op_id, None)
        return out
    op = spec["operation_type"]
    inputs = [cat.read(p) for p in spec.get("input_table_paths", [])]

    if spec.get("input_query"):
        inputs = [apply_input_query(df, spec["input_query"]) for df in inputs]
    samp = spec.get("sampling")
    if samp:
        if "sampling_rate" in samp:
            inputs = [
                sample_rows(df, samp["sampling_rate"], seed=samp.get("seed"))
                for df in inputs
            ]
        else:
            inputs = [
                sample_rows_deterministic(df, samp["key"], samp["modulus"])
                for df in inputs
            ]

    mapper = spec.get("mapper") or {}
    reducer = spec.get("reducer") or {}
    if op == "map":
        out = run_map(inputs[0], mapper["command"], mapper["output_schema"])
    elif op == "reduce":
        out = run_reduce(
            inputs[0],
            spec["reduce_by"],
            reducer["command"],
            reducer["output_schema"],
            sort_by=spec.get("sort_by"),
        )
    elif op == "map_reduce":
        out = run_map_reduce(
            inputs[0],
            mapper.get("command"),
            mapper.get("output_schema"),
            spec["reduce_by"],
            reducer["command"],
            reducer["output_schema"],
            sort_by=spec.get("sort_by"),
        )
    elif op == "join_reduce":
        out = run_join_reduce(
            inputs[0],
            inputs[1:],
            spec["join_by"],
            reducer["command"],
            reducer["output_schema"],
        )
    elif op == "sort":
        out = run_sort(inputs[0], spec["sort_by"])
    elif op == "merge":
        out = run_merge(
            inputs,
            mode=spec.get("merge_mode", "unordered"),
            merge_by=spec.get("merge_by"),
        )
    elif op == "erase":
        out = run_erase(inputs[0], spec["erase_predicate"])
    elif op == "vanilla":
        tasks = {
            name: (t["job_count"], t["command"], t["output_schema"])
            for name, t in spec["tasks"].items()
        }
        # multi-output: returns {task_name: DataFrame}, as the reference's
        # vanilla tasks each own their output tables
        return run_vanilla(cat.spark, tasks)
    else:
        raise ValueError(f"unknown operation_type {op!r}")

    dst = spec.get("output_table_path")
    if dst:
        cat.create_table(dst, out, mode="overwrite")
        out = cat.read(dst)
    return out


class OperationTracker:
    """Operation lifecycle bookkeeping — `get_operation` / `list_operations`
    parity (reference API: yt/yt/client/api/client.h TGetOperationOptions /
    TListOperationsOptions; scheduler states in
    yt/yt/client/scheduler/public.h EOperationState). `run_operation`
    records through a tracker when one is passed; states move
    running → completed|failed with wall-clock stamps and the failure's
    error text, which is what users poll the scheduler for. (The
    queueing states — pending/materializing — don't exist here:
    submission IS execution, there is no scheduler admission step.)"""

    def __init__(self) -> None:
        self._ops: dict[str, dict] = {}
        self._n = 0

    def _start(self, spec: dict) -> str:
        import time as _t

        self._n += 1
        op_id = f"op-{self._n:06d}"
        self._ops[op_id] = {
            "id": op_id,
            "operation_type": spec.get("operation_type"),
            "spec": {k: v for k, v in spec.items()
                     if isinstance(v, (str, int, float, list))},
            "state": "running",
            "start_time": _t.time(),
            "finish_time": None,
            "error": None,
        }
        return op_id

    def _finish(self, op_id: str, error: str | None) -> None:
        import time as _t

        op = self._ops[op_id]
        op["state"] = "failed" if error else "completed"
        op["finish_time"] = _t.time()
        op["error"] = error

    def get_operation(self, op_id: str) -> dict:
        return dict(self._ops[op_id])

    def list_operations(
        self, state: str | None = None, op_type: str | None = None
    ) -> list[dict]:
        out = [
            dict(o)
            for o in self._ops.values()
            if (state is None or o["state"] == state)
            and (op_type is None or o["operation_type"] == op_type)
        ]
        return sorted(out, key=lambda o: o["id"])
