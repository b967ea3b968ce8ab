"""Traced-run instruments: the per-SQL-node event-log reducer and the
in-process stage replay.

Event log. Spark writes one JSON event per line. SQL metrics are
accumulators: each plan node lists its metrics (name, accumulator id,
type) in ``SparkListenerSQLExecutionStart`` / ``...AdaptiveExecutionUpdate``;
tasks report their updates in ``SparkListenerTaskEnd``; driver-side
metrics arrive as ``SparkListenerDriverAccumUpdates``. Metric names repeat
across nodes ("number of output rows" is on almost every node), so
updates are summed per *node*, keyed by the accumulator ids the node
owns, never per name.

Replay. A seeded sample of the workload's rows runs in this process
through the public stage functions, in pipeline order. Each call records a
span (name, start, end, parent) under a per-row root span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

_SQL = "org.apache.spark.sql.execution.ui."


class Node:
    """One physical plan node and the totals of its SQL metrics."""

    __slots__ = ("name", "desc", "children", "metrics", "values", "task_ms")

    def __init__(self, name, desc):
        self.name, self.desc = name, desc
        self.children: list[Node] = []
        self.metrics: dict[int, tuple[str, str]] = {}  # acc id -> (name, type)
        self.values: dict[str, float] = {}
        self.task_ms: list[float] = []   # durations of tasks that updated it

    def get(self, metric: str) -> float:
        """Metric total in natural units: seconds for timings, bytes or
        counts otherwise."""
        return self.values.get(metric, 0.0)


def _unit_scale(mtype: str) -> float:
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(mtype, 1.0)


class EventLog:
    """Per-node metric totals of every SQL execution in one event log."""

    def __init__(self, path: str):
        self.execs: dict[int, dict] = {}    # id -> {"root", "start", "end"}
        self._acc: dict[int, Node] = {}     # accumulator id -> owning node
        tasks = []
        for line in _lines(path):
            ev = json.loads(line)
            kind = ev["Event"]
            if kind in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                eid = ev["executionId"]
                rec = self.execs.setdefault(eid, {"start": ev.get("time"),
                                                  "joins": []})
                rec["root"] = self._plan(ev["sparkPlanInfo"])
                # join operators of every plan version, in order: adaptive
                # execution may replace or remove the one planned first
                for n in self.nodes(eid):
                    if "Join" in n.name and n.name not in rec["joins"]:
                        rec["joins"].append(n.name)
                if "description" in ev:
                    rec["desc"] = ev["description"]
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                self.execs.setdefault(ev["executionId"], {})["end"] = ev["time"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in ev["accumUpdates"]:
                    self._add(acc_id, value)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev["Task Info"])
        for info in tasks:
            dur = info["Finish Time"] - info["Launch Time"]
            touched = {}
            for acc in info.get("Accumulables", []):
                node = self._acc.get(acc["ID"])
                if node is None or "Update" not in acc:
                    continue
                self._add(acc["ID"], acc["Update"])
                touched[id(node)] = node
            for node in touched.values():
                node.task_ms.append(dur)

    def _plan(self, info: dict) -> Node | None:
        """Build the node tree; a node already seen (same accumulators,
        re-sent by an adaptive re-plan) is reused, so its totals survive."""
        node = None
        for m in info["metrics"]:
            node = self._acc.get(m["accumulatorId"])
            if node is not None:
                break
        if node is None:
            node = Node(info["nodeName"].strip(), info["simpleString"])
        node.children = [c for c in (self._plan(ch)
                                     for ch in info["children"]) if c]
        for m in info["metrics"]:
            node.metrics[m["accumulatorId"]] = (m["name"], m["metricType"])
            self._acc[m["accumulatorId"]] = node
        return node

    def _add(self, acc_id: int, value) -> None:
        node = self._acc.get(acc_id)
        if node is None:
            return
        name, mtype = node.metrics[acc_id]
        node.values[name] = node.values.get(name, 0.0) + \
            float(value) * _unit_scale(mtype)

    def nodes(self, eid: int) -> list[Node]:
        """Nodes of an execution's final plan, parents before children."""
        out, stack = [], [self.execs[eid].get("root")]
        while stack:
            n = stack.pop()
            if n is None:
                continue
            out.append(n)
            stack.extend(reversed(n.children))
        return out


def _lines(path: str):
    files = sorted(glob.glob(os.path.join(path, "events_*"))) \
        if os.path.isdir(path) else [path]
    for fn in files:
        with open(fn) as f:
            yield from f


def latest_log(log_dir: str) -> str:
    entries = [os.path.join(log_dir, e) for e in os.listdir(log_dir)]
    return max(entries, key=os.path.getmtime)


def _write_exec(log: EventLog, eid: int, path: str) -> bool:
    root = log.execs[eid].get("root")
    nodes = log.nodes(eid) if root else []
    return any(n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")
               and f"file:{path}," in n.desc for n in nodes)


def pass_layers(log: EventLog, out_path: str, lineage_path: str,
                input_path: str, window: tuple[float, float]) -> dict:
    """Per-layer figures of one job pass: the SQL executions started
    within ``window`` (epoch seconds) that wrote ``out_path`` and
    ``lineage_path``."""
    ids = [e for e, r in log.execs.items() if r.get("start") is not None
           and window[0] * 1e3 <= r["start"] <= window[1] * 1e3]
    writes = [e for e in ids if _write_exec(log, e, out_path)]
    lins = [e for e in ids if _write_exec(log, e, lineage_path)]
    if len(writes) != 1:
        raise RuntimeError(f"expected one results write, found {writes}")
    nodes = log.nodes(writes[0])
    write = nodes[0] if nodes[0].name.startswith("Execute") else next(
        n for n in nodes if n.name.startswith("Execute"))
    pandas = [n for n in nodes if n.name == "MapInPandas"]
    # the outer MapInPandas is the lineage pass-through over the inner one
    lineage_node, work_node = pandas[0], pandas[1]
    scans = [n for n in nodes if n.name.startswith("Scan")]
    src = [n for n in scans if input_path in n.desc]
    done = [n for n in scans if n not in src]
    joins = [n for n in nodes if "Join" in n.name]
    exchanges = [n for n in nodes if n.name == "Exchange"]
    src_rows = sum(n.get("number of output rows") for n in src)
    out = {
        "join": " -> ".join(log.execs[writes[0]]["joins"]
                            + ([] if joins else ["removed"])),
        "sources.scan_s": sum(n.get("scan time") for n in src),
        "sources.scan_bytes": sum(n.get("size of files read") for n in src),
        "resume.done_scan_s": sum(n.get("scan time") for n in done),
        "resume.shuffle_bytes": sum(n.get("data size") for n in exchanges),
        "resume.rows_dropped": src_rows - (
            joins[0].get("number of output rows") if joins else src_rows),
        "resume.lineage_python_s": lineage_node.get(
            "time to run Python workers"),
        "resume.lineage_bytes_to_python": lineage_node.get(
            "data sent to Python workers"),
        "work.python_init_s": work_node.get(
            "time to initialize Python workers")
        + work_node.get("time to start Python workers"),
        "work.python_run_s": work_node.get("time to run Python workers"),
        "work.bytes_to_python": work_node.get("data sent to Python workers"),
        "work.bytes_from_python": work_node.get(
            "data returned from Python workers"),
        "work.task_max_s": max(work_node.task_ms, default=0) / 1e3,
        "work.task_median_s": (statistics.median(work_node.task_ms) / 1e3
                               if work_node.task_ms else 0.0),
        "sinks.bytes_written": write.get("written output"),
        "sinks.files_written": write.get("number of written files"),
        "sinks.commit_s": write.get("task commit time")
        + write.get("job commit time"),
        "sinks.lineage_write_s": sum(
            (log.execs[e]["end"] - log.execs[e]["start"]) / 1e3
            for e in lins if log.execs[e].get("end")),
    }
    return out


# ---------------------------------------------------------------- replay

class Spans:
    """In-memory spans (name, start, end, parent) of the stage replay."""

    def __init__(self):
        self.rows: list[tuple[str, float, float, int]] = []

    def call(self, name: str, parent: int, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        self.rows.append((name, t0, time.perf_counter(), parent))
        return out

    def open(self, name: str) -> int:
        self.rows.append((name, time.perf_counter(), 0.0, -1))
        return len(self.rows) - 1

    def close(self, idx: int) -> None:
        name, t0, _, parent = self.rows[idx]
        self.rows[idx] = (name, t0, time.perf_counter(), parent)

    def ms_per_row(self, name: str, n_rows: int) -> float:
        total = sum(e - s for nm, s, e, _ in self.rows if nm == name)
        return 1e3 * total / n_rows if n_rows else 0.0

    def stage_ms_per_row(self) -> float:
        """Mean time per row spent inside stage spans (root spans aside)."""
        roots = sum(1 for r in self.rows if r[3] == -1)
        inner = sum(e - s for _, s, e, parent in self.rows if parent != -1)
        return 1e3 * inner / roots if roots else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, s, e, parent in self.rows:
                f.write(json.dumps({"name": name, "start": s, "end": e,
                                    "parent": parent}) + "\n")


def replay_extract(pages: list[tuple[str, bytes]], spans: Spans) -> dict:
    """Each page through the public stages in ``extract_one``'s order."""
    from norsk_historisk_avis_ocr_spark.stages.htmlparse import extract_sections
    from norsk_historisk_avis_ocr_spark.stages.normalize import (
        default_normalizer,
    )
    from norsk_historisk_avis_ocr_spark.stages.textops import (
        clean_divider_noise, combine_sections, readable_diff, section_spans,
        transcribe_sections,
    )
    norm = default_normalizer()
    for _url, html in pages:
        root = spans.open("page")
        header, cols = spans.call("htmlparse.sections", root,
                                  extract_sections, html)
        raws = ([header] if header is not None else []) + cols
        labels = (["header"] if header is not None else []) + [
            f"column-{i}" for i in range(1, len(cols) + 1)]
        sections = spans.call("textops.clean", root,
                              lambda: [clean_divider_noise(r) for r in raws])
        spans.call("textops.combine", root, combine_sections, sections)
        transcribed = spans.call("textops.reflow", root,
                                 transcribe_sections, sections)
        spans.call("textops.spans", root, section_spans, sections, labels)
        normalized = spans.call("normalize.normalize", root,
                                norm.normalize_framed, transcribed)
        spans.call("textops.diff", root, readable_diff, transcribed[:-1],
                   normalized[:-1])
        spans.close(root)
    n = len(pages)
    return {f"{s}_ms": spans.ms_per_row(s, n) for s in (
        "htmlparse.sections", "textops.clean", "textops.reflow",
        "textops.combine", "textops.spans", "textops.diff",
        "normalize.normalize")}


def replay_scans(pages: list[tuple[str, bytes]], spans: Spans) -> dict:
    """Each payload through ``decode_payload_gray`` (span named after the
    codec family the magic bytes select) and ``split_columns_geometry``."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        decode_payload_gray,
    )
    from norsk_historisk_avis_ocr_spark.stages.layout import (
        split_columns_geometry,
    )
    counts = {"png": 0, "jpeg": 0, "pdf": 0}
    for _pid, data in pages:
        codec = ("jpeg" if data.startswith(b"\xff\xd8\xff") else
                 "pdf" if data.startswith(b"%PDF-") else "png")
        counts[codec] += 1
        root = spans.open("page")
        gray = spans.call(f"{codec}.decode", root, decode_payload_gray, data)
        spans.call("layout.geometry", root, split_columns_geometry, gray)
        spans.close(root)
    out = {f"{c}.decode_ms": spans.ms_per_row(f"{c}.decode", n)
           for c, n in counts.items()}
    out["layout.geometry_ms"] = spans.ms_per_row("layout.geometry",
                                                 len(pages))
    return out
