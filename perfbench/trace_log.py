"""Reads Spark's event log after a traced run and attributes jobs,
stages and tasks to the benchmark's spans.

The benchmark is a single closed-loop client, so a job belongs to the
span during which it was submitted; this also catches jobs submitted
from the program's own threads (the concurrent memo ingest), which a
job-group tag set on the calling thread would miss.
"""

from __future__ import annotations

import json
import pathlib
import statistics


class EventLog:
    def __init__(self, log_dir: pathlib.Path) -> None:
        files = [f for f in pathlib.Path(log_dir).iterdir() if f.is_file()]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {[f.name for f in files]}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with files[0].open() as fh:
            for line in fh:
                self._event(json.loads(line))
        owner: dict[int, int] = {}
        for jid in sorted(self.jobs, reverse=True):
            for sid in self.jobs[jid]["stage_ids"]:
                owner[sid] = jid  # a stage runs in the first job listing it
        for sid, st in self.stages.items():
            if sid in owner:
                self.jobs[owner[sid]]["stages"].append(st)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = dict(
                id=ev["Job ID"], submit=ev["Submission Time"] / 1000,
                end=None, group=props.get("spark.jobGroup.id"),
                stage_ids=ev.get("Stage IDs", []), stages=[])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(ev["Stage ID"], dict(
                tasks=0, busy_s=0.0, gc_s=0.0, shuffle_write_bytes=0,
                spill_bytes=0))
            st["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            st["busy_s"] += m.get("Executor Run Time", 0) / 1000
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000
            st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                          ).get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))

    def jobs_in(self, spans) -> list[dict]:
        return [j for j in self.jobs.values()
                if any(s["start"] <= j["submit"] <= s["end"] for s in spans)]

    def attribute(self, spans) -> dict:
        """Totals over the jobs submitted inside any of `spans`, and the
        span time during which at least one of them was running."""
        jobs = self.jobs_in(spans)
        job_s = 0.0
        for s in spans:
            iv = sorted((max(j["submit"], s["start"]),
                         min(j["end"] or s["end"], s["end"]))
                        for j in jobs if s["start"] <= j["submit"] <= s["end"])
            cur_a = cur_b = None
            for a, b in iv:
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        job_s += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                job_s += cur_b - cur_a
        stages = [st for j in jobs for st in j["stages"]]
        return dict(
            jobs=len(jobs), job_s=job_s, stages=len(stages),
            tasks=sum(st["tasks"] for st in stages),
            task_busy_s=sum(st["busy_s"] for st in stages),
            gc_s=sum(st["gc_s"] for st in stages),
            shuffle_write_bytes=sum(st["shuffle_write_bytes"]
                                    for st in stages),
            spill_bytes=sum(st["spill_bytes"] for st in stages))

    def op_layers(self, run, cores: int, n_tables: int) -> dict:
        """The workload-specific layer figures of the run record."""
        spans = run.spans
        ops = [s for s in spans if s.get("kind") == "op"]
        out: dict = {}
        for op, sp in zip(run.ops, ops):  # per-call figures for the record
            a = self.attribute([sp])
            op.update(jobs=a["jobs"], stages=a["stages"], tasks=a["tasks"],
                      task_busy_s=a["task_busy_s"])
        memo = [s for s in spans if s.get("kind") == "memo"]
        if memo:
            a = self.attribute(memo)
            out.update({"memo.jobs": a["jobs"],
                        "memo.task_busy_s": a["task_busy_s"]})
        if run.workload == "reports":
            out.update(self._query_layers(spans, ops, cores))
        if run.workload == "migrate":
            mig = [s for s in ops if s["name"] == "pipeline.migrate_tables"
                   and s["pass_no"] == 0]
            out["pipeline.jobs_per_table"] = (self.attribute(mig)["jobs"]
                                              / n_tables)
        return out

    def _query_layers(self, spans, ops, cores: int) -> dict:
        def total(kind, cold):
            return sum(s["seconds"] for s in spans if s.get("kind") == kind
                       and (s["pass_no"] == 0) == cold)

        builds = [s for s in spans if s.get("kind") == "build"]
        collect_s = sum(s["seconds"] for s in spans
                        if s.get("kind") == "collect")
        out = {
            "query.build_s_cold": total("build", True),
            "query.build_s_warm": total("build", False),
            "query.collect_s_cold": total("collect", True),
            "query.collect_s_warm": total("collect", False),
            "query.zero_job_builds": sum(
                1 for b in builds if self.attribute([b])["jobs"] == 0),
        }
        warm: dict[str, list[float]] = {}
        for s in ops:
            if s["pass_no"] > 0:
                warm.setdefault(s["name"], []).append(s["seconds"])
        if warm:
            out["query.first_run_extra_s"] = sum(
                s["seconds"] - statistics.median(warm[s["name"]])
                for s in ops if s["pass_no"] == 0 and s["name"] in warm)
        a = self.attribute(ops)
        out.update({
            "query.jobs": a["jobs"], "query.stages": a["stages"],
            "query.tasks": a["tasks"], "query.task_busy_s": a["task_busy_s"],
            "query.slot_util": (a["task_busy_s"] / (collect_s * cores)
                                if collect_s else 0.0),
            "query.shuffle_write_bytes": a["shuffle_write_bytes"],
            "query.spill_bytes": a["spill_bytes"], "query.gc_s": a["gc_s"],
        })
        return out

    def job_rows(self) -> list[dict]:
        return [dict(id=j["id"], group=j["group"], submit=j["submit"],
                     end=j["end"], stages=len(j["stages"]),
                     tasks=sum(st["tasks"] for st in j["stages"]))
                for j in sorted(self.jobs.values(), key=lambda j: j["id"])]

