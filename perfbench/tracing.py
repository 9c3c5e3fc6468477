"""Spans recorded from outside the program, around calls into a layer.

A span sets a Spark job group, times the call, and takes the Python
UDF time the call caused from Spark's UDF profiler
(``spark.sql.pyspark.udf.profiler=perf``). Task time, GC time and
shuffle bytes come from Spark's uncompressed event log, read once the
session has stopped: each stage belongs to the span whose job group it
carries, or else (streaming queries run their jobs under their own
group) to the span whose time window holds its submission.

Spans stay in memory until ``attribute`` runs at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager

# UDF families: metric name -> (module, attribute) of each pandas UDF
# in the family. Missing attributes are skipped, so the trace survives
# the removal of a UDF.
UDF_FAMILIES = {
    "extract": [("dedupe_spark.operators.extract", "extract_text_udf")],
    "sketch": [("dedupe_spark.functions.hashing", "content_sketches_udf")],
    "doc_prep": [("dedupe_spark.functions.similarity", "doc_prep_udf")],
    "pair_text": [
        ("dedupe_spark.functions.similarity", "token_jaccard_udf"),
        ("dedupe_spark.functions.similarity", "tfidf_cosine_udf"),
    ],
    "jaro_winkler": [("dedupe_spark.functions.similarity", "jaro_winkler_udf")],
}


def _udf_codes() -> dict[tuple, str]:
    """pstats function key (file name, first line, name) -> family."""
    import importlib

    codes = {}
    for family, members in UDF_FAMILIES.items():
        for module, attr in members:
            obj = getattr(importlib.import_module(module), attr, None)
            if obj is None:
                continue
            if not hasattr(obj, "func"):  # a factory returning the UDF
                obj = obj()
            c = obj.func.__code__
            # Spark's profiler records file names without their directory
            codes[(os.path.basename(c.co_filename), c.co_firstlineno, c.co_name)] = family
    return codes


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        # no zstd module for Python here: keep the log readable
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, spark, work: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.profile_dir = os.path.join(work, "profiles")
        self.codes = _udf_codes()
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time one call; the profiler is on only inside spans."""
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.spark.profile.clear()
        self.sc.setJobGroup(name, name)
        rec = {"name": name, "t0": time.time()}
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["t1"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            rec["udf_s"] = self._udf_seconds()
            self.spans.append(rec)

    def _udf_seconds(self) -> dict[str, float]:
        shutil.rmtree(self.profile_dir, ignore_errors=True)
        os.makedirs(self.profile_dir)
        self.spark.profile.dump(self.profile_dir)
        self.spark.profile.clear()
        out: dict[str, float] = defaultdict(float)
        for path in glob.glob(os.path.join(self.profile_dir, "*.pstats")):
            st = pstats.Stats(path)
            family = next((self.codes[k] for k in st.stats if k in self.codes), "other")
            out[family] += st.total_tt
        return dict(out)

    def attribute(self, log_dir: str) -> None:
        """After the session stopped: add task_s, gc_s, shuffle_mb and
        jobs to every span from the event log."""
        logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
        by_name = {s["name"]: s for s in self.spans}
        for s in self.spans:
            s.update(task_s=0.0, gc_s=0.0, shuffle_mb=0.0, jobs=0)

        def owner(group, submit_ms):
            if group in by_name:
                return by_name[group]
            t = submit_ms / 1000.0
            return next((s for s in self.spans if s["t0"] <= t <= s["t1"]), None)

        stage_span = {}
        with open(logs[0]) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    s = owner(e.get("Properties", {}).get("spark.jobGroup.id"), e["Submission Time"])
                    if s is not None:
                        s["jobs"] += 1
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    s = owner(
                        (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        info.get("Submission Time", 0),
                    )
                    if s is not None:
                        stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = s
                elif ev == "SparkListenerTaskEnd":
                    s = stage_span.get((e["Stage ID"], e["Stage Attempt ID"]))
                    m = e.get("Task Metrics")
                    if s is None or not m:
                        continue
                    s["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    w = m.get("Shuffle Write Metrics") or {}
                    s["shuffle_mb"] += w.get("Shuffle Bytes Written", 0) / 1e6
