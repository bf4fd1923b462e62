"""Spans recorded in the benchmark's own code around each public call.

A span has a name, start, end, parent and run id, and is kept in memory
until the run ends (``Tracer.write``). Spark is lazy, so in a traced run the
workloads force each layer boundary with the ``noop`` sink. A forced layer
whose output the next layer reads is kept cached until the unit ends, so the
next layer's span does not re-execute it; a layer's self time is then its
span minus its nested spans. Each span runs its jobs under its own job
group, which is how job, stage, task and failed-task counts are attributed
to it afterwards.

With tracing off every method is a no-op, so the untraced run times exactly
the calls a user makes.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager

EXCHANGE_RE = re.compile(r"\b(?:\w*Exchange)\b")


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._sc = None
        self._kept: list = []

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        """Record one span; its parent is the innermost open span."""
        if not self.enabled:
            yield None
            return
        sp = {
            "id": next(self._ids),
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "exchanges": 0,
        }
        group = f"{self.run_id}-{sp['id']}"
        sp["group"] = group
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                outer = self._stack[-1]["group"] if self._stack else None
                if outer is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self._sc.setJobGroup(outer, self._stack[-1]["name"])
            self.spans.append(sp)

    def force(self, df, keep: bool = False):
        """Execute ``df`` fully into the noop sink (traced runs only) and
        return it. With ``keep`` the result stays cached until ``release``,
        so the layer that reads it next does not execute it again."""
        if not self.enabled:
            return df
        if keep:
            df = df.persist()
            self._kept.append(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    def release(self) -> None:
        """Drop what ``force(keep=True)`` cached."""
        for df in self._kept:
            df.unpersist()
        self._kept.clear()

    def note_plan(self, sp: dict | None, df) -> None:
        """Count the Exchange nodes of ``df``'s executed plan into ``sp``."""
        if sp is not None:
            plan = df._jdf.queryExecution().executedPlan().toString()
            sp["exchanges"] += len(EXCHANGE_RE.findall(plan))

    def collect_counts(self, settle_s: float = 1.0) -> None:
        """Attach job/stage/task counts to every span from the status tracker.
        The tracker is fed asynchronously by the listener bus, hence the
        settle wait before reading it."""
        if not self.enabled or self._sc is None:
            return
        time.sleep(settle_s)
        tracker = self._sc.statusTracker()
        for sp in self.spans:
            jobs = tracker.getJobIdsForGroup(sp["group"])
            tasks = failed = stages = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            sp.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed over the run: a span's duration
        minus the durations of the spans nested in it."""
        child_sum: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                child_sum[sp["parent"]] = child_sum.get(sp["parent"], 0.0) + _dur(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + _dur(sp) - child_sum.get(sp["id"], 0.0)
        return out

    def total(self, key: str, prefix: str | tuple[str, ...]) -> int:
        return sum(sp.get(key, 0) for sp in self.spans if sp["name"].startswith(prefix))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]
