"""Query Tracker: the reference's async-query submission surface.

Reference API (yt/yt/client/api/query_tracker_client.h:169-198):
``StartQuery`` returns a query id immediately; the query advances through
the state machine ``Draft | Pending → Running → Completing → Completed /
Failing → Failed / Aborting → Aborted``
(yt/yt/client/query_tracker_client/public.h:33-43), with ``GetQuery`` /
``ListQueries`` for polling, ``AbortQuery`` for cancellation,
``GetQueryResult`` / ``ReadQueryResult`` for result metadata and rows, and
``AlterQuery`` for annotations. Engines: Ql / Yql / Chyt / Mock / Spyt
(public.h:25-30).

Spark re-expression:

- **engines**: ``"sql"`` = Spark SQL over the registered catalog views
  (the Yql/Chyt analog — Catalyst is the one SQL engine here);
  ``"ql"`` = the dynamic-table QL string dialect through
  ``operators.select_rows`` (the Ql analog). ``"mock"`` echoes a literal
  row, mirroring the reference's test engine.
- **async + abort**: each query runs on a daemon thread inside its own
  Spark job group; ``abort_query`` cancels the group
  (``sparkContext.cancelJobGroup``), which interrupts the running stages —
  real mid-flight cancellation, not a flag check.
- **results**: persisted as parquet under ``root/results/<id>`` during
  Completing, so ``read_query_result`` is a plain parquet scan and results
  outlive the submitting thread (the reference writes results into
  tracker tables the same way). Result metadata carries row count and
  schema JSON (TQueryResult, query_tracker_client.h:119-128).
- **records**: one JSON manifest with atomic publishes
  (``jsonio.publish_json``); record mutation goes through
  one lock so state transitions are serialized.

At scale the tracker itself is metadata-only (a row per query); the
query's distributed work is whatever plan it runs. Nothing here adds a
driver-side data path: results stream executor→parquet.
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ytsaurus_spark.jsonio import load_json, publish_json
from ytsaurus_spark.operators import scratch_dir

STATES = (
    "draft",
    "pending",
    "running",
    "aborting",
    "aborted",
    "completing",
    "completed",
    "failing",
    "failed",
)


class QueryNotFoundError(KeyError):
    """QueryNotFound (error 3901, query_tracker_client/public.h:13)."""


class QueryStateMismatchError(RuntimeError):
    """StateMismatch (error 3904): operation invalid in the current state."""


class QueryTracker:
    """StartQuery/GetQuery/ListQueries/AbortQuery/ReadQueryResult parity."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root or scratch_dir("ytspark_qt_")
        os.makedirs(os.path.join(self.root, "results"), exist_ok=True)
        self._lock = threading.Lock()
        self._threads: dict[str, threading.Thread] = {}
        self._engines: dict[str, Callable[[SparkSession, str], DataFrame]] = {
            "sql": lambda spark, q: spark.sql(q),
            "ql": self._run_ql,
            "yql": self._run_yql,
            "chyt": self._run_chyt,
            "mock": lambda spark, q: spark.range(1).selectExpr(f"{q!r} as echo"),
        }

    @staticmethod
    def _run_ql(spark: SparkSession, q: str) -> DataFrame:
        from ytsaurus_spark.operators.select_rows import select_rows

        return select_rows(spark, q)

    @staticmethod
    def _run_yql(spark: SparkSession, q: str) -> DataFrame:
        """YQL engine (the reference Query Tracker's primary engine):
        translate the script (named/value bindings, DECLARE defaults,
        backticked paths, Module::Function calls) and run against the
        tracker session's registered views. Pragmas are recorded in the
        translation but not applied — a tracked query runs under the
        tracker's session confs, like the reference's per-stage ACO."""
        from ytsaurus_spark.yql.dialect import translate_yql

        return spark.sql(translate_yql(q).sql)

    @staticmethod
    def _run_chyt(spark: SparkSession, q: str) -> DataFrame:
        """CHYT engine: ClickHouse-dialect text (double-quoted cypress
        paths, PREWHERE, *If combinators — ytsaurus_spark/chyt.py)
        against the tracker session's registered views."""
        from ytsaurus_spark.chyt import resolve_chyt, translate_chyt

        return spark.sql(resolve_chyt(spark, translate_chyt(q)))

    # -- record store (atomic manifest, jsonio.publish_json) ------------

    @property
    def _manifest(self) -> str:
        return os.path.join(self.root, "_queries.json")

    def _load(self) -> dict:
        return load_json(self._manifest, {})

    def _publish(self, records: dict) -> None:
        publish_json(self._manifest, records)

    def _update(self, query_id: str, **fields) -> dict:
        with self._lock:
            records = self._load()
            if query_id not in records:
                raise QueryNotFoundError(query_id)
            records[query_id].update(fields)
            self._publish(records)
            return dict(records[query_id])

    # -- API -------------------------------------------------------------

    def start_query(
        self,
        engine: str,
        query: str,
        draft: bool = False,
        annotations: dict | None = None,
    ) -> str:
        """StartQuery (query_tracker_client.h:169-172): returns the id at
        submission; Draft queries are recorded but not executed
        (TStartQueryOptions.Draft, :42)."""
        if engine not in self._engines:
            raise ValueError(f"unknown engine {engine!r}; have {sorted(self._engines)}")
        query_id = uuid.uuid4().hex
        record = {
            "id": query_id,
            "engine": engine,
            "query": query,
            "state": "draft" if draft else "pending",
            "start_time": time.time(),
            "finish_time": None,
            "annotations": annotations or {},
            "error": None,
            "result_count": None,
        }
        with self._lock:
            records = self._load()
            records[query_id] = record
            self._publish(records)
        if not draft:
            t = threading.Thread(
                target=self._execute, args=(query_id,), daemon=True
            )
            self._threads[query_id] = t
            t.start()
        return query_id

    def _execute(self, query_id: str) -> None:
        rec = self.get_query(query_id)
        sc = self.spark.sparkContext
        try:
            self._update(query_id, state="running")
            sc.setJobGroup(f"qt-{query_id}", f"query tracker {query_id}", True)
            df = self._engines[rec["engine"]](self.spark, rec["query"])
            out = os.path.join(self.root, "results", query_id)
            df.write.mode("overwrite").parquet(out)
            # Count from what was durably written, then flip to completed.
            n = self.spark.read.parquet(out).count()
            cur = self.get_query(query_id)["state"]
            if cur == "aborting":
                self._update(
                    query_id, state="aborted", finish_time=time.time()
                )
                return
            self._update(query_id, state="completing")
            self._update(
                query_id,
                state="completed",
                finish_time=time.time(),
                result_count=int(n),
                result_schema=json.loads(df.schema.json()),
            )
        except Exception as exc:  # noqa: BLE001 — the error IS the result
            aborted = self.get_query(query_id)["state"] == "aborting"
            self._update(
                query_id,
                state="aborted" if aborted else "failed",
                finish_time=time.time(),
                error=None if aborted else "".join(
                    traceback.format_exception_only(type(exc), exc)
                ).strip(),
            )
        finally:
            sc.setJobGroup("", "")

    def abort_query(self, query_id: str) -> None:
        """AbortQuery (:174-176): cancels the query's Spark job group —
        running stages are interrupted, not just flagged."""
        rec = self.get_query(query_id)
        if rec["state"] in ("completed", "failed", "aborted"):
            raise QueryStateMismatchError(
                f"query {query_id} already {rec['state']}"
            )
        if rec["state"] == "draft":
            self._update(query_id, state="aborted", finish_time=time.time())
            return
        self._update(query_id, state="aborting")
        self.spark.sparkContext.cancelJobGroup(f"qt-{query_id}")
        t = self._threads.get(query_id)
        if t is not None:
            t.join(timeout=60)
        # If cancellation raced the final write, normalize terminal state.
        if self.get_query(query_id)["state"] == "aborting":
            self._update(query_id, state="aborted", finish_time=time.time())

    def get_query(self, query_id: str) -> dict:
        """GetQuery (:188-190)."""
        with self._lock:
            records = self._load()
        if query_id not in records:
            raise QueryNotFoundError(query_id)
        return dict(records[query_id])

    def list_queries(
        self,
        state: str | None = None,
        engine: str | None = None,
        substr: str | None = None,
        limit: int = 100,
    ) -> list[dict]:
        """ListQueries (:192) with the reference's filters: state, engine,
        substring over the query text (TListQueriesOptions:78-92), newest
        first, bounded by limit."""
        with self._lock:
            records = list(self._load().values())
        records.sort(key=lambda r: r["start_time"], reverse=True)
        out = [
            r
            for r in records
            if (state is None or r["state"] == state)
            and (engine is None or r["engine"] == engine)
            and (substr is None or substr in r["query"])
        ]
        return out[:limit]

    def alter_query(self, query_id: str, annotations: dict) -> None:
        """AlterQuery (:194-196): replace annotations."""
        self._update(query_id, annotations=annotations)

    def get_query_result(self, query_id: str) -> dict:
        """GetQueryResult (:178-181): result metadata — row count + schema
        (TQueryResult, :119-128)."""
        rec = self.get_query(query_id)
        if rec["state"] != "completed":
            raise QueryStateMismatchError(
                f"query {query_id} is {rec['state']}, not completed"
            )
        return {
            "id": query_id,
            "result_index": 0,
            "row_count": rec["result_count"],
            "schema": rec.get("result_schema"),
        }

    def read_query_result(self, query_id: str) -> DataFrame:
        """ReadQueryResult (:183-186): the persisted rows, as a DataFrame."""
        self.get_query_result(query_id)  # state check
        return self.spark.read.parquet(
            os.path.join(self.root, "results", query_id)
        )

    def wait(self, query_id: str, timeout: float = 300.0) -> dict:
        """Poll until the query reaches a terminal state (test/driver
        convenience; the reference clients poll GetQuery the same way)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            rec = self.get_query(query_id)
            if rec["state"] in ("completed", "failed", "aborted", "draft"):
                return rec
            time.sleep(0.05)
        raise TimeoutError(f"query {query_id} still {rec['state']}")
