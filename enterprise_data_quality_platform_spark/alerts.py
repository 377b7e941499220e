"""Alert sink with incident-key lifecycle (SURVEY.md §2.1 S4-S6, §2.5 O4).

The reference fans failures out over HTTP — PagerDuty events
(``/root/reference/airflow/dags/pager-workflow.py:10-45``), a Chicory agent
message (``:60-113``), GitHub repository_dispatch
(``test-pager-action.py:60-93``) — then resolves incidents from CI hooks
(``update-pager-duty.yml:25-47``). Here alert fan-out is modeled as rows in
an ``alerts`` table so the lifecycle is queryable; HTTP delivery would be a
downstream consumer of this table.

Key semantics preserved:
- deterministic ``incident_key`` = sha2(service, check, failure payload) —
  the reference captures PagerDuty's dedup_key for exactly this purpose
  (``test-pager-action.py:51-55``);
- **idempotent trigger writes**: the reference sets retries=0 on the alert
  task to avoid duplicate pages (``pager-workflow.py:320``); we instead make
  the write itself idempotent (anti-join on open incident keys before
  append), so retries are safe;
- ``trigger`` → ``resolve`` event pairs mirror the PR-merge / issue-close
  resolve hooks.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .checks.definitions import CheckResult
from .session import local_frame

ALERT_SCHEMA = T.StructType(
    [
        T.StructField("incident_key", T.StringType(), False),
        T.StructField("action", T.StringType(), False),  # trigger | resolve
        T.StructField("channel", T.StringType(), False),  # pagerduty|agent|github
        T.StructField("service", T.StringType(), False),
        T.StructField("check_name", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("details", T.StringType(), True),  # JSON payload
        T.StructField("event_ts", T.TimestampType(), False),
    ]
)


def incident_key(service: str, check_name: str) -> str:
    import hashlib

    return hashlib.sha256(f"{service}::{check_name}".encode()).hexdigest()[:32]


class AlertSink:
    """Parquet-backed alerts table with idempotent appends."""

    def __init__(self, spark: SparkSession, path: str, service: str = "edqp"):
        self.spark = spark
        self.path = path
        self.service = service

    def _existing(self) -> DataFrame:
        import os

        # cheap local-path check first (avoids a logged AnalysisException on
        # the first write); the try/except stays for non-local filesystems
        if "://" not in self.path and not os.path.exists(self.path):
            return local_frame(self.spark, [], ALERT_SCHEMA)
        try:
            return self.spark.read.parquet(self.path)
        except Exception:
            return local_frame(self.spark, [], ALERT_SCHEMA)

    def open_incidents(self) -> DataFrame:
        """Incidents with a trigger not followed by a resolve."""
        df = self._existing()
        last = (
            df.groupBy("incident_key")
            .agg(F.max_by("action", "event_ts").alias("last_action"))
        )
        return last.filter(F.col("last_action") == "trigger").select("incident_key")

    def trigger_for_failures(
        self,
        results: Sequence[CheckResult],
        channels: Iterable[str] = ("pagerduty", "agent"),
    ) -> int:
        """Append trigger rows for failed checks — once per open incident
        (idempotent: re-running a failed pipeline doesn't re-page)."""
        import json

        now = datetime.now(timezone.utc).replace(tzinfo=None)
        rows = [
            (
                incident_key(self.service, r.check_name),
                "trigger",
                channel,
                self.service,
                r.check_name,
                f"Validation failed: {r.check_name}",
                json.dumps(
                    {
                        "table": r.table,
                        "column": r.column,
                        "violations": r.violations,
                        "total": r.total,
                        "observed": r.observed,
                        "error": r.error_message,
                    }
                ),
                now,
            )
            for r in results
            if r.status != "pass"
            for channel in channels
        ]
        if not rows:
            return 0
        new = local_frame(self.spark, rows, ALERT_SCHEMA)
        deduped = new.join(self.open_incidents(), on="incident_key", how="left_anti")
        n = deduped.count()
        if n:
            deduped.write.mode("append").parquet(self.path)
        return n

    def resolve(self, check_name: str, channel: str = "pagerduty") -> int:
        """Resolve an open incident (PR-merge / issue-close hook analogue)."""
        key = incident_key(self.service, check_name)
        is_open = self.open_incidents().filter(F.col("incident_key") == key).count()
        if not is_open:
            return 0
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        row = [(key, "resolve", channel, self.service, check_name, None, None, now)]
        local_frame(self.spark, row, ALERT_SCHEMA).write.mode("append").parquet(
            self.path
        )
        return 1
