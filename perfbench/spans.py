"""Spans, Spark accounting and process-tree memory for the benchmark.

Everything here observes the engine from outside: spans are opened by
the benchmark around its calls into the package, public functions are
wrapped (never edited), Spark work is charged to spans through job
groups, and memory is read from ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class RssSampler:
    """Peak resident memory of a process and all its descendants (the
    Python driver, the JVM it launches and the JVM's Python workers),
    sampled from ``/proc`` on a background thread.

    Each process counts its proportional set size (PSS): a page shared
    by n processes counts 1/n in each.  Python workers are forked from
    one daemon and share most of their pages with it, so plain RSS would
    count those pages once per worker, and the total would jump with
    the number of workers alive at the sampled instant."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children = defaultdict(list)
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    data = fh.read()
            except OSError:
                continue  # the process exited between listing and reading
            # the command name may hold spaces: fields resume after ')'
            fields = data[data.rindex(")") + 2 :].split()
            children[int(fields[1])].append(int(stat.split("/")[2]))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError, IndexError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 2**20


class Tracer:
    """Spans with a Spark job group each.

    Every span sets its own job group, so the jobs (and through them the
    stages and tasks) a span launches are charged to it alone; a child
    span's jobs belong to the child.  ``detail`` decides whether spans
    are kept for the per-layer report; job groups are set either way,
    so detailed and plain operations cost the same Spark calls."""

    def __init__(self, sc):
        self.sc = sc
        self.detail = False
        self.request = None
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[dict] = []
        self._seq = 0
        self._t0 = time.perf_counter()
        self.sc.setJobGroup("pb-idle", "idle")

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        rec = {
            "name": name,
            "id": self._seq,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "group": f"pb-{self._seq}",
            "child_s": 0.0,
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent is None:
                self.sc.setJobGroup("pb-idle", "idle")
            else:
                self.sc.setJobGroup(parent["group"], parent["name"])
                parent["child_s"] += end - start
            rec["start"] = start - self._t0
            rec["end"] = end - self._t0
            rec["self_s"] = end - start - rec["child_s"]
            rec["detail"] = self.detail
            self.spans.append(rec)

    def spark_counts(self) -> None:
        """Attach job, stage and task counts to every kept span from the
        status tracker (read after the timed region; counts are exact)."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    sinfo = st.getStageInfo(sid)
                    if sinfo is not None and sinfo.numTasks:
                        stages += 1
                        tasks += sinfo.numTasks
            rec["jobs"], rec["stages"], rec["tasks"] = len(jobs), stages, tasks

    def wrap(self, module, attr: str, name: str, should_trace=None):
        """Replace ``module.attr`` with a version that opens span ``name``
        around each call (or only calls where ``should_trace(*args)``),
        counting calls in ``self.counts`` whatever ``detail`` is."""
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            if should_trace is not None and not should_trace(*args, **kwargs):
                return orig(*args, **kwargs)
            self.counts[name] += 1
            if not self.detail:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run/CPU seconds, GC seconds, shuffle MiB
    written and failed tasks, from the Spark event log of the run."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id", "pb-idle")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    acc = out[stage_group.get(ev.get("Stage ID"), "pb-idle")]
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        acc["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    acc["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
    return out
