"""``daily_playback_etl``: one op lands, cleans, curates and delta-loads a day.

The op is the reference's daily job over one landing day:
``read_json`` of the day's user documents -> ``run_clean_zone`` ->
``write_parquet`` of the three clean-zone tables -> ``curate`` of the
clean ``playback_hist`` -> ``delta_append`` against the warehouse rows
since the previous day -> ``ParquetWarehouse.append``. The first day
has no warehouse yet, so it appends without the anti-join.

After each op, outside its timing, the warehouse row count is checked
against the generator's ground truth: the plays a day repeats from the
day before must append nothing. The last check also requires every
(played_at, track_id) key to be unique.
"""

from __future__ import annotations

import os
import time

from playback_gen import generate_days

KEYS = ["played_at", "track_id"]
# The timed window runs at least MIN_WINDOW_DAYS days and stops early
# if the MAX_WINDOW_DAYS generated for it run out.
MIN_WINDOW_DAYS = 4
MAX_WINDOW_DAYS = 10


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class DailyPlaybackEtl:
    name = "daily_playback_etl"

    def __init__(self, work: str, seed: int, size: dict):
        self.work = work
        self.seed = seed
        self.size = size
        self.days: list[dict] = []
        self.next_day = 0
        self.expected_rows = 0
        self.rows = 0
        # added to the ground truth of every op by the harness self-test,
        # which must see a wrong row count reported as a failed op
        self.skew = 0

    def generate(self, windows: int) -> dict:
        self.windows = windows
        n_days = 1 + self.size["warm_ops"] + windows * MAX_WINDOW_DAYS
        self.days = generate_days(
            os.path.join(self.work, "landing"),
            self.seed,
            n_days,
            self.size["users"],
            self.size["plays_per_doc"],
        )
        return {
            "days": n_days,
            "user_docs_per_day": self.size["users"],
            "plays_per_day": self.days[0]["offered"],
        }

    def start(self, spark) -> None:
        from spotify_pipeline_gcp_spark.sinks.writers import ParquetWarehouse

        self.spark = spark
        self.warehouse = ParquetWarehouse(spark, os.path.join(self.work, "warehouse"))

    def first_op(self, tracer):
        return self.run_op(tracer)

    def warm_ops(self) -> list:
        return [self.run_op] * self.size["warm_ops"]

    def window(self, seconds: float):
        """(round, day, op) until ``seconds`` and MIN_WINDOW_DAYS have passed.

        Each day is a round of its own.
        """
        t0 = time.perf_counter()
        first = self.next_day
        while self.next_day < len(self.days) and (
            time.perf_counter() - t0 < seconds
            or self.next_day - first < MIN_WINDOW_DAYS * self.windows
        ):
            yield self.next_day - first, self.days[self.next_day]["day"], self.run_op

    def final_ops(self) -> list:
        return [lambda tracer: (None, None, self.final_check())]

    def run_op(self, tracer) -> tuple[float, int, bool]:
        """Load the next day; return (op seconds, plays fed, check passed)."""
        from spotify_pipeline_gcp_spark.operators.delta import delta_append
        from spotify_pipeline_gcp_spark.operators.playback import curate, run_clean_zone
        from spotify_pipeline_gcp_spark.schemas import PLAYBACK_DOC
        from spotify_pipeline_gcp_spark.sinks.writers import write_parquet
        from spotify_pipeline_gcp_spark.sources.readers import read_json

        day = self.days[self.next_day]
        prev = self.days[self.next_day - 1]["day"] if self.next_day else None
        self.next_day += 1
        clean_dir = os.path.join(self.work, "clean", day["day"])
        wh_dir = os.path.join(self.work, "warehouse")
        wh_before = _tree_size(wh_dir) if tracer.enabled else (0, 0)
        t0 = time.perf_counter()
        with tracer.op() as rec:
            raw = tracer.span(
                "sources.read_json_s", read_json, self.spark, day["glob"], PLAYBACK_DOC
            )
            clean = tracer.span("playback.plan_s", run_clean_zone, raw)
            for table, df in clean.items():
                tracer.span(
                    "sinks.clean_write_s",
                    write_parquet,
                    df,
                    os.path.join(clean_dir, table),
                )
            hist = self.spark.read.parquet(os.path.join(clean_dir, "playback_hist"))
            curated = tracer.span("playback.plan_s", curate, hist)
            if prev is not None:
                existing = tracer.span(
                    "delta.append_s",
                    self.warehouse.scan,
                    "playback_hist",
                    f"played_at >= '{prev}'",
                )
                curated = tracer.span(
                    "delta.append_s", delta_append, curated, existing, KEYS
                )
            tracer.span("delta.append_s", self.warehouse.append, curated, "playback_hist")
            elapsed = time.perf_counter() - t0
        self.expected_rows += day["new"] + self.skew
        rows = self.warehouse.scan("playback_hist").count()
        appended, self.rows = rows - self.rows, rows
        if rec is not None:
            wh_after = _tree_size(wh_dir)
            clean_files, clean_bytes = _tree_size(clean_dir)
            rec["sources.files"] = float(len(raw.inputFiles()))
            rec["sinks.files_written"] = float(clean_files + wh_after[0] - wh_before[0])
            rec["sinks.bytes_written"] = float(clean_bytes + wh_after[1] - wh_before[1])
            rec["delta.rows_in"] = float(day["offered"])
            rec["delta.rows_appended"] = float(appended)
            rec["delta.append_ratio"] = appended / day["offered"]
        return elapsed, day["offered"], rows == self.expected_rows

    def final_check(self) -> bool:
        """Every warehouse key is unique and the row count is exact."""
        if not self.warehouse.exists("playback_hist"):
            return self.expected_rows == 0
        wh = self.warehouse.scan("playback_hist")
        distinct = wh.select(*KEYS).distinct().count()
        return distinct == wh.count() == self.expected_rows
