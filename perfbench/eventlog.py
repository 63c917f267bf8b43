"""Task metrics from a Spark event log (``spark.eventLog.enabled``,
uncompressed JSON lines), grouped by the job group that was active
when each job started."""

from __future__ import annotations

import json
import os
from collections import defaultdict
from typing import Dict, List


def _apps(evdir: str) -> List[List[str]]:
    # per application, its log file, or (rolling logs) its directory of
    # ``events_*`` parts
    out = []
    for name in sorted(os.listdir(evdir)):
        p = os.path.join(evdir, name)
        if os.path.isdir(p):
            out.append(sorted(os.path.join(p, f) for f in os.listdir(p) if f.startswith("events_")))
        else:
            out.append([p])
    return out


def stages_by_group(evdir: str) -> Dict[str, Dict[tuple, dict]]:
    """{job group: {(application, stage id): stage}}, where a stage has
    ``python`` (it ran a Python UDF or ``mapInArrow``: its SQL metrics
    include data sent to Python workers) and ``tasks``, one entry per
    task attempt with ``ok``, ``attempt``, ``run_ms``, ``in_records``,
    ``shuffle_in_records`` and ``shuffle_out_bytes``. Stage ids restart
    in each application, hence the application index in the key."""
    stage_group: Dict[tuple, str] = {}
    python: set = set()
    tasks: Dict[tuple, List[dict]] = defaultdict(list)
    for app, paths in enumerate(_apps(evdir)):
        for path in paths:
            with open(path) as f:
                for line in f:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        for sid in ev["Stage IDs"]:
                            stage_group[app, sid] = group
                    elif '"SparkListenerStageCompleted"' in line:
                        info = json.loads(line)["Stage Info"]
                        if any(a.get("Name") == "data sent to Python workers"
                               for a in info.get("Accumulables", ())):
                            python.add((app, info["Stage ID"]))
                    elif '"SparkListenerTaskEnd"' in line:
                        ev = json.loads(line)
                        m = ev.get("Task Metrics") or {}
                        tasks[app, ev["Stage ID"]].append({
                            "ok": ev["Task End Reason"]["Reason"] == "Success",
                            "attempt": ev["Task Info"]["Attempt"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "in_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                            "shuffle_in_records":
                                (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0),
                            "shuffle_out_bytes":
                                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        })
    out: Dict[str, Dict[tuple, dict]] = defaultdict(dict)
    for key, ts in tasks.items():
        out[stage_group.get(key, "")][key] = {"python": key in python, "tasks": ts}
    return out
