"""Outside-in tracing for the benchmark's traced run.

The engine has no instrumentation of its own, so the traced run wraps
the public functions of each layer from here: every call becomes a
span ``{name, start, end, parent, op_id}`` kept in memory and written
out when the run ends. Each span runs under its own Spark job group
(``spark.jobGroup.id``), so ``statusTracker()`` attributes jobs,
stages and tasks to the innermost span that launched them; inclusive
counts add the descendants.

Two limits follow from wrapping from outside:

* a function that returns a lazy DataFrame is timed for planning
  only — the job runs later, in whichever span collects it;
* code inside Python workers is out of reach, so the PDF extractor
  is timed by calling it in-process instead (see ``workloads``).
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import sys
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.installed = False
        self.sc = None
        self.op_id: int | None = None
        self.bookkeeping_s = 0.0
        self._tls = threading.local()
        self._seq = itertools.count()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._seq)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op_id": self.op_id,
            **attrs,
        }
        prev = None
        if self.sc is not None:
            rec["group"] = f"{GROUP_PREFIX}{sid}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    @contextmanager
    def paused(self, recording: bool = False):
        """Stop recording for a block — or, with ``recording=True``,
        record it whenever the tracer is installed (one-off set-up that
        only the untraced window runs)."""
        was = self.enabled
        self.enabled = recording and self.installed
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                _capture(rec, out)
                return out

        return traced

    # -- patching ------------------------------------------------------------
    def patch_function(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every engine module that imported
        the same function object under the same name."""
        orig = getattr(module, attr)
        wrapped = self.wrap(name, orig)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("pdf_etl_engine_spark"):
                continue
            if mod.__dict__.get(attr) is orig:
                setattr(mod, attr, wrapped)
                self._patches.append((mod, attr, orig))

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(name, orig))
        self._patches.append((cls, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.installed = False

    # -- Spark job accounting --------------------------------------------------
    def resolve(self) -> None:
        """Attach job/stage/task counts to every finished span that has
        none yet. Waits for the listener bus first so the status store
        has seen every finished job. The store keeps the last 1000 jobs
        and stages (``spark.ui.retainedJobs``/``retainedStages``), more
        than one run of the gated workloads launches."""
        if self.sc is None:
            return
        drain_listener_bus(self.sc)
        st = self.sc.statusTracker()
        for rec in self.spans:
            if "group" in rec and "jobs" not in rec:
                rec.update(job_counts(st, [rec["group"]]))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


def _capture(rec: dict | None, out) -> None:
    """Keep the small scalar part of a call's result on its span:
    route status codes, ingest counters, rollup refresh mode."""
    if rec is None:
        return
    if isinstance(out, tuple) and len(out) == 2 and isinstance(out[0], int):
        rec["status"] = out[0]
        out = out[1]
    if isinstance(out, dict):
        rec["ret"] = {
            k: v for k, v in out.items()
            if isinstance(v, (int, float, str)) and not isinstance(v, bool)
        }


def install(t: Tracer) -> None:
    """Wrap the public functions of every layer the per-layer metrics
    name."""
    from pdf_etl_engine_spark import catalog, pipeline
    from pdf_etl_engine_spark.sources import rollup, writers
    from pdf_etl_engine_spark.streaming import ingest

    for m in CATALOG_METHODS:
        t.patch_method(pipeline.Catalog, m, f"pipeline.Catalog.{m}")
    t.patch_function(pipeline, "latest_folder_metas", "pipeline.Catalog.latest_folder_metas")
    t.patch_function(pipeline, "ingest_batch", "pipeline.ingest_batch")
    t.patch_function(pipeline, "process_bound_batch", "pipeline.process_bound_batch")
    t.patch_function(writers, "append_rows", "sources.writers.append_rows")
    t.patch_function(writers, "read_fact_table", "sources.writers.read_fact_table")
    t.patch_function(rollup, "refresh_rollup", "sources.rollup.refresh_rollup")
    t.patch_function(ingest, "archive_from_manifest", "streaming.ingest.archive_from_manifest")
    t.patch_function(catalog, "load_table", "catalog.load_table")
    t.installed = True


CATALOG_METHODS = (
    "create_folder", "folders", "get_folder", "resolve_folder_for_read",
    "add_share", "shares", "effective_share", "can_read",
)
ROUTES = (
    "create_folder", "analyze_master", "confirm_kpis", "share_folder",
    "upload_batch_file", "process_batch", "get_results",
)


def drain_listener_bus(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_counts(status_tracker, groups: list[str]) -> dict:
    jobs, stages, tasks = 0, 0, 0
    for g in groups:
        for jid in status_tracker.getJobIdsForGroup(g):
            jobs += 1
            info = status_tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                # stages skipped for a reused shuffle ran no task
                s = status_tracker.getStageInfo(sid)
                if s is not None and s.numCompletedTasks:
                    stages += 1
                    tasks += s.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


# ---------------------------------------------------------------------------
# Span arithmetic
# ---------------------------------------------------------------------------

def self_time(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the time its direct children cover."""
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - covered.get(s["id"], 0.0) for s in spans}


def inclusive_counts(spans: list[dict]) -> dict[int, dict]:
    """Span id → jobs/stages/tasks of the span plus all descendants."""
    children: dict[int, list[int]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    memo: dict[int, dict] = {}

    def total(sid: int) -> dict:
        if sid not in memo:
            s = by_id[sid]
            acc = {k: s.get(k, 0) for k in ("jobs", "stages", "tasks")}
            for c in children.get(sid, ()):
                for k, v in total(c).items():
                    acc[k] += v
            memo[sid] = acc
        return memo[sid]

    return {sid: total(sid) for sid in by_id}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------

def count_ops(spans: list[dict]) -> int:
    return sum(1 for s in spans if s["name"].startswith("op.") and s["name"] != "op.warmup")


def per_layer(spans: list[dict], curation: tuple[str, ...]) -> dict[str, float]:
    """Derive the span-based per-layer metrics. A layer the workload
    never called reports 0."""
    self_s = self_time(spans)
    inc = inclusive_counts(spans)
    by_id = {s["id"]: s for s in spans}
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def ms(s: dict) -> float:
        return (s["end"] - s["start"]) * 1000.0

    def named(name: str) -> list[dict]:
        return by_name.get(name, [])

    def is_catalog(s: dict) -> bool:
        return s["name"].startswith("pipeline.Catalog.")

    def outermost_catalog(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            if is_catalog(by_id[p]):
                return False
            p = by_id[p]["parent"]
        return is_catalog(s)

    n_ops = max(1, count_ops(spans))
    out: dict[str, float] = {}
    for route in ROUTES:
        out[f"service.{route}.self_ms"] = median(
            self_s[s["id"]] * 1000.0 for s in named(f"op.{route}")
        )
    cat = [s for s in spans if outermost_catalog(s)]
    out["pipeline.Catalog.calls_per_op"] = len(cat) / n_ops
    out["pipeline.Catalog.ms_per_op"] = sum(ms(s) for s in cat) / n_ops
    out["pipeline.Catalog.spark_jobs_per_op"] = sum(inc[s["id"]]["jobs"] for s in cat) / n_ops

    ib = named("pipeline.ingest_batch")
    # ratios over the rounds' batches only (not the warm-up batch)
    rounds = {s["id"]: s["new_docs"] for s in named("op.process_batch") if "new_docs" in s}
    new_docs = sum(rounds.values())
    seen = sum(s.get("ret", {}).get("files_seen", 0) for s in ib if s["op_id"] in rounds)
    written = sum(s.get("ret", {}).get("rows_written", 0) for s in ib if s["op_id"] in rounds)
    out["pipeline.ingest_batch.files_seen_per_new_doc"] = seen / new_docs if new_docs else 0.0
    out["pipeline.ingest_batch.rows_written_per_new_doc"] = written / new_docs if new_docs else 0.0
    out["pipeline.ingest_batch.self_ms"] = median(self_s[s["id"]] * 1000.0 for s in ib)
    pbb = named("pipeline.process_bound_batch")
    out["pipeline.process_bound_batch.ms"] = median(ms(s) for s in pbb)
    out["pipeline.process_bound_batch.spark_jobs"] = median(inc[s["id"]]["jobs"] for s in pbb)
    out["pipeline.process_bound_batch.spark_tasks"] = median(inc[s["id"]]["tasks"] for s in pbb)

    out["sources.writers.append_rows_ms"] = median(ms(s) for s in named("sources.writers.append_rows"))
    out["sources.writers.read_fact_table_ms"] = median(
        ms(s) for s in named("sources.writers.read_fact_table")
    )
    rr = named("sources.rollup.refresh_rollup")
    modes = [s.get("ret", {}).get("mode") for s in rr]
    folds = [m for m in modes if m in ("incremental", "full")]
    out["sources.rollup.refresh_ms"] = median(ms(s) for s in rr)
    out["sources.rollup.incremental_share"] = (
        folds.count("incremental") / len(folds) if folds else 0.0
    )
    out["streaming.ingest.archive_ms"] = median(
        ms(s) for s in named("streaming.ingest.archive_from_manifest")
    )

    out["registry.plan_ms"] = median(
        ms(s) for s in named("registry.plan") if s.get("query") not in curation
    )
    out["catalog.load_table_ms"] = median(ms(s) for s in named("catalog.load_table"))
    queries = named("op.query")
    collects = [
        s for s in named("operators.collect")
        if s.get("query") not in curation and by_id[s["parent"]]["name"] == "op.query"
    ]
    out["operators.exec_ms"] = median(ms(s) for s in collects)
    out["spark.stages_per_query"] = median(inc[s["id"]]["stages"] for s in queries)
    out["spark.tasks_per_query"] = median(inc[s["id"]]["tasks"] for s in queries)
    out["result.rows"] = median(s.get("rows", 0) for s in collects)
    for q in curation:
        cur_ops = [s for s in named("op.curation") if s.get("query") == q]
        cur_collect = [s for s in named("operators.collect") if s.get("query") == q]
        out[f"curation.{q}.exec_ms"] = median(ms(s) for s in cur_collect)
        out[f"curation.{q}.spark_tasks"] = median(inc[s["id"]]["tasks"] for s in cur_ops)
        out[f"curation.{q}.rows_out"] = median(s.get("rows", 0) for s in cur_collect)
    return out
