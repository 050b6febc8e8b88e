"""Spans around the benchmark's calls into the library, with the Spark
work each span caused.

Spark is lazy: a call into a layer may only build a plan, and the jobs
run later inside whichever call forces them.  Every span therefore runs
under its own Spark job group, and after each item the jobs of every
group are read back from the status store (``jobs`` → stage ids →
``lastStageAttempt``), before the store's retention can evict them.
So the cost that ``to_parquet`` or a noop write executes is charged to
the span that ran it, and the eager jobs fired while a builder or
``assign`` runs are charged to that call.

With ``enabled=False`` a span only runs its body: no job group, no
status-store reads, nothing recorded.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

@dataclass
class Span:
    name: str
    item: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; :meth:`dump` writes them once."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pending: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, item: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, item, time.perf_counter(), parent=parent, group=f"perfbench-{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(sp.group, f"{item}:{name}", False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, f"{outer.item}:{outer.name}", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._pending.append(sp)

    def collect(self) -> None:
        """Attach job/stage/task metrics to every span closed since the
        last call.  Call after each item."""
        if not self.enabled:
            return
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for sp in self._pending:
            stage_ids: set[int] = set()
            job_ids = list(tracker.getJobIdsForGroup(sp.group))
            sp.jobs = len(job_ids)
            for jid in job_ids:
                it = store.job(jid).stageIds().iterator()
                while it.hasNext():
                    stage_ids.add(int(it.next()))
            for sid in stage_ids:
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                sp.stages += 1
                sp.tasks += st.numCompleteTasks()
                sp.run_ms += st.executorRunTime()
                sp.cpu_ns += st.executorCpuTime()
                sp.gc_ms += st.jvmGcTime()
                sp.shuffle_bytes += st.shuffleWriteBytes()
                sp.spill_bytes += st.diskBytesSpilled()
        self._pending.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def summarize(spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer sums over one pass's spans (see README for the names).

    Span names are ``<layer>.<call>``; the span around a whole item is
    named ``item``.  A job belongs to the innermost span open when it
    was submitted, so summing over all spans counts every job once, and
    a layer's job count is the jobs its own calls submitted."""
    by_name: dict[str, list[Span]] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)

    def secs(name: str) -> float:
        return sum((sp.seconds for sp in by_name.get(name, [])), 0.0)

    def jobs(name: str) -> int:
        return sum(sp.jobs for sp in by_name.get(name, []))

    def counts(key: str) -> float:
        return sum(sp.counts.get(key, 0) for sp in spans)

    wall = secs("item")
    stages = sum(sp.stages for sp in spans)
    tasks = sum(sp.tasks for sp in spans)
    run_s = sum(sp.run_ms for sp in spans) / 1e3
    tp, pairs = counts("true_positives"), counts("comparisons")
    before, after = counts("purge_before"), counts("purge_after")
    return {
        "blockers.assign_s": secs("blockers.assign"),
        "blockers.assign_jobs": jobs("blockers.assign"),
        "blockers.useful_pair_frac": tp / pairs if pairs else 0.0,
        "blocks.purge_s": secs("blocks.purge"),
        "blocks.purge_kept_frac": after / before if before else 0.0,
        "blocks.write_s": secs("blocks.to_parquet"),
        "blocks.write_jobs": jobs("blocks.to_parquet"),
        "blocks.write_bytes": counts("write_bytes"),
        "blocks.read_s": secs("blocks.read_parquet"),
        "eval.from_blocks_s": secs("eval.from_blocks"),
        "eval.jobs": jobs("eval.from_blocks"),
        "eval.recall": tp / counts("gold") if counts("gold") else 0.0,
        "eval.candidate_pairs": pairs,
        "queries.build_s": secs("queries.build"),
        "queries.build_jobs": jobs("queries.build"),
        "queries.action_s": secs("queries.action"),
        "queries.action_jobs": jobs("queries.action"),
        "ckpt.leaked_rdds": counts("leaked_rdds"),
        "ckpt.release_s": secs("ckpt.release"),
        "spark.jobs": sum(sp.jobs for sp in spans),
        "spark.stages": stages,
        "spark.tasks_per_stage": tasks / stages if stages else 0.0,
        "spark.busy_frac": run_s / (wall * cores) if wall else 0.0,
        "spark.executor_cpu_s": sum(sp.cpu_ns for sp in spans) / 1e9,
        "spark.gc_s": sum(sp.gc_ms for sp in spans) / 1e3,
        "spark.shuffle_bytes": sum(sp.shuffle_bytes for sp in spans),
        "spark.spill_bytes": sum(sp.spill_bytes for sp in spans),
    }
