"""Service facade — the reference's RPC surface, Spark-native.

Mirrors the seven endpoints of src/plan-server.ts and the refresh worker
of src/plan-processor.ts:

| reference (file:line)                        | here                      |
|----------------------------------------------|---------------------------|
| getPlans (plan-server.ts:30–38)              | ``get_plans``             |
| getPlanGroups (plan-server.ts:40–48)         | ``get_plan_groups``       |
| increaseJoinedCount (plan-server.ts:50–54)   | ``increase_joined_count`` |
| decreaseJoinedCount (plan-server.ts:56–60)   | ``decrease_joined_count`` |
| setJoinedCount (plan-server.ts:62–72)        | ``set_joined_count``      |
| getJoinedCount (plan-server.ts:74–83)        | ``get_joined_count``      |
| refresh (plan-server.ts:85–90 → processor)   | ``refresh``               |

Design mapping (SURVEY.md §3): the Redis materialized views become
overwrite-committed parquet tables (job-level atomicity ↔ MULTI/EXEC,
processor:31,41); the mutable counter becomes an append-only event log
folded by ``operators.counter`` (INCR/DECR/SET ↔ last-writer-wins
replay); the server/processor process split collapses into read methods
vs. the refresh job, preserving the stage-1→stage-2 dependency
(processor:79–80). Permission gating (plan-server.ts:25–26: reads open,
mutations admin-only) is enforced per call. Responses use the
reference's ``{code, data}`` envelope; counter reads collect a 1-row
aggregate and entity reads collect ≤64-row dimension tables — the only
driver-side collects, at the API edge exactly like the reference.
"""

from __future__ import annotations

import os
import tempfile
import time
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from hive_plan_service_spark.operators.counter import current_counter_value
from hive_plan_service_spark.sources.catalog import register_tables
from hive_plan_service_spark.sources.materialize import (
    has_parquet,
    refresh_entities,
)

ALLOW_ALL = ("mobile", "admin")  # plan-server.ts:25
ADMIN_ONLY = ("admin",)          # plan-server.ts:26

_COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event_id", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("delta", T.LongType(), False),
        T.StructField("set_value", T.LongType(), True),
    ]
)


class PlanService:
    """The plan service: reads from materialized views, admin mutations."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        warehouse: str | None = None,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        from hive_plan_service_spark.session import scratch_root

        self.warehouse = warehouse or tempfile.mkdtemp(
            prefix="hpss_api_", dir=scratch_root()
        )
        self._counter_seq = 0
        register_tables(spark, sf_dir)

    # -- permission gating (A15) -------------------------------------------
    @staticmethod
    def _check(role: str, allowed: tuple[str, ...]) -> dict[str, Any] | None:
        if role not in allowed:
            return {"code": 403, "msg": f"role {role!r} not permitted"}
        return None

    # -- refresh pipeline (A13/A14) ----------------------------------------
    def refresh(self, role: str = "admin") -> dict[str, Any]:
        if err := self._check(role, ADMIN_ONLY):
            return err
        try:
            register_tables(self.spark, self.sf_dir)
            refresh_entities(self.spark, self.warehouse)
            return {"code": 200, "data": "okay"}
        except Exception as e:  # processor:82–85 error envelope
            return {"code": 500, "msg": str(e)}

    # -- entity reads (A7/A8) ----------------------------------------------
    def get_plans(self, role: str = "mobile") -> dict[str, Any]:
        return self._read_entities("plan_entities", role)

    def get_plan_groups(self, role: str = "mobile") -> dict[str, Any]:
        return self._read_entities("plan_group_entities", role)

    # -- counter family (A9–A12) -------------------------------------------
    def increase_joined_count(self, role: str = "admin") -> dict[str, Any]:
        if err := self._check(role, ADMIN_ONLY):
            return err
        self._append_counter("incr", 1, None)
        return {"code": 200, "data": self._counter_value()}

    def decrease_joined_count(self, role: str = "admin") -> dict[str, Any]:
        if err := self._check(role, ADMIN_ONLY):
            return err
        self._append_counter("decr", -1, None)
        return {"code": 200, "data": self._counter_value()}

    def set_joined_count(self, count: Any, role: str = "admin") -> dict[str, Any]:
        if err := self._check(role, ADMIN_ONLY):
            return err
        # numberVerifier (plan-server.ts:65): invalid input → {code: 400}
        if isinstance(count, bool) or not isinstance(count, (int, float)):
            return {"code": 400, "msg": f"count must be a number, got {type(count).__name__}"}
        self._append_counter("set", 0, int(count))
        return {"code": 200, "data": self._counter_value()}

    def get_joined_count(self, role: str = "mobile") -> dict[str, Any]:
        if err := self._check(role, ALLOW_ALL):
            return err
        return {"code": 200, "data": self._counter_value()}

    # -- internals -----------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _read_entities(self, name: str, role: str) -> dict[str, Any]:
        if err := self._check(role, ALLOW_ALL):
            return err
        path = self._path(name)
        if not has_parquet(path):
            # empty cache → empty list (hvals semantics, server:32,42);
            # only a never-written materialization reads as empty
            return {"code": 200, "data": []}
        try:
            rows = self.spark.read.parquet(path).collect()
        except Exception as e:  # a corrupt cache is an error, not empty
            return {"code": 500, "msg": str(e)}
        return {"code": 200, "data": [r.asDict(recursive=True) for r in rows]}

    def _append_counter(self, op: str, delta: int, set_value: int | None) -> None:
        self._counter_seq += 1
        from datetime import datetime, timezone

        row = [
            (
                datetime.now(timezone.utc).replace(tzinfo=None),
                int(time.time_ns() // 1000) * 1000 + self._counter_seq,
                op,
                delta,
                set_value,
            )
        ]
        self.spark.createDataFrame(row, _COUNTER_SCHEMA).write.mode(
            "append"
        ).parquet(self._path("counter_log"))

    def _counter_value(self) -> int:
        path = self._path("counter_log")
        if not has_parquet(path):
            return 0  # missing key → 0 (plan-server.ts:80–81)
        log = self.spark.read.schema(_COUNTER_SCHEMA).parquet(path)
        row = current_counter_value(log).collect()[0]
        return int(row["joined_count"])
