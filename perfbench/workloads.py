"""The benchmark's workloads. Each one drives the engine through its
public API, checks every operation, and returns a ``Window``: the
latencies and counts of one measured stretch.

* ``ingest_lifecycle`` — the service routes of two tenants: folder
  set-up and training, then rounds of editor uploads, one
  ``process_batch`` and owner/viewer ``get_results`` reads.
* ``query_mix`` — seven short registry queries, planned fresh on every
  call, in a seeded order; ``query_rounding`` runs two more the same way.
* ``curation`` — passes over five curation operators.
* ``stream_ingest`` — an ``availableNow`` drain of a PDF backlog with a
  rollup attached.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

import checks
import tracing as tr


@dataclass
class Run:
    """What a workload needs: the session, the generator's manifest,
    a private work directory, the tracer and the run's knobs."""

    spark: object
    man: dict
    work: str
    seconds: int
    seed: int
    tracer: tr.Tracer
    state: dict = field(default_factory=dict)  # kept across windows


@dataclass
class Window:
    units: int = 0  # documents made readable, or queries / operator runs
    elapsed_s: float = 0.0
    op_ms: list[float] = field(default_factory=list)
    # operation kind -> latencies, for workloads that mix kinds
    kind_ms: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    # failure kind -> [failed operations, first example]
    failures: dict = field(default_factory=dict)

    def _fail(self, kind: str, n: int, example: str) -> None:
        self.failed += n
        entry = self.failures.setdefault(kind, [0, example[:300]])
        entry[0] += n

    def check(self, ok: bool, kind: str, example: str = "") -> None:
        self.attempted += 1
        if not ok:
            self._fail(kind, 1, example)

    def audit(self, a: dict, where: str) -> None:
        """Count an audit: one operation per row seen and per missing
        document; each duplicate, wrong row or missing document fails."""
        self.attempted += a["rows"] + a["missing"]
        for kind in ("duplicates", "wrong", "missing"):
            if a[kind]:
                self._fail(f"fact rows: {kind}", a[kind], f"{where}: {a}")


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def op_latency_ms(w: Window) -> float:
    """Median operation latency; for a mix of operation kinds, the
    geometric mean of each kind's median, so that the summary does not
    jump between kinds as the overall median would."""
    if not w.kind_ms:
        return percentile(w.op_ms, 0.5)
    meds = [percentile(v, 0.5) for v in w.kind_ms.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile; 0 for an empty list."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ---------------------------------------------------------------------------
# Registry queries: query_mix and curation
# ---------------------------------------------------------------------------

def _run_query(run: Run, w: Window, name: str, op_kind: str) -> float:
    from pdf_etl_engine_spark import registry

    t = run.tracer
    want = run.man["digests"][name]
    t0 = time.perf_counter()
    with t.span(f"op.{op_kind}", query=name) as op:
        if op is not None:
            t.op_id = op["id"]
        try:
            with t.span("registry.plan", query=name):
                df = registry.QUERIES[name](run.spark, run.man["tables"])
            with t.span("operators.collect", query=name) as c:
                rows = df.collect()
                if c is not None:
                    c["rows"] = len(rows)
            ok = checks.digest([tuple(r) for r in rows], df.columns) == want
        except Exception:  # counted as a failed operation
            ok = False
            traceback.print_exc()
    ms = _ms(t0)
    w.check(ok, "query result differs from the DuckDB oracle", name)
    return ms


def _cycles(run: Run, w: Window, kind: str, rng: random.Random | None):
    """Run whole cycles over the workload's queries — shuffled by
    ``rng`` when given — until ``--seconds`` have passed. Returns the
    per-query latencies and the cycle times."""
    names = list(run.man["queries"])
    per_q: dict[str, list[float]] = w.kind_ms
    per_q.update({q: [] for q in names})
    cycles: list[float] = []
    t0 = time.perf_counter()
    while not cycles or time.perf_counter() - t0 < run.seconds:
        tc = time.perf_counter()
        if rng is not None:
            rng.shuffle(names)
        for q in names:
            per_q[q].append(_run_query(run, w, q, kind))
            w.op_ms.append(per_q[q][-1])
        cycles.append(time.perf_counter() - tc)
    w.elapsed_s = time.perf_counter() - t0
    w.units = len(w.op_ms)
    return per_q, cycles


WARMUP_CYCLES = 1


def query_mix(run: Run, window: int) -> Window:
    w = Window()
    if window == 0:
        # warm-up, checked but not timed: loads and caches the tables and
        # compiles every plan once (the cold cycle takes five times a warm
        # one). JIT compilation keeps about two of four cores busy for
        # the next ~40 s; more warm-up cycles do not fit the run budget,
        # so the measured cycles still speed up and a long window
        # (``--seconds``) averages that out
        for _ in range(WARMUP_CYCLES):
            for q in run.man["queries"]:
                _run_query(run, w, q, "warmup")
    per_q, cycles = _cycles(run, w, "query", random.Random(run.seed * 7919 + window))
    w.report = {
        "queries_per_s": (w.units / w.elapsed_s, "1/s"),
        "query_p50_ms": (percentile(w.op_ms, 0.5), "ms"),
        "query_p90_ms": (percentile(w.op_ms, 0.9), "ms"),
        "queries": (w.units, "count"),
        "cycle_s": ([round(c, 3) for c in cycles], "s"),
        **{f"{q}_ms": (percentile(v, 0.5), "ms") for q, v in per_q.items()},
    }
    return w


def curation(run: Run, window: int) -> Window:
    w = Window()
    per_q, passes = _cycles(run, w, "curation", None)
    w.report = {
        "pass_p50_s": (percentile(passes, 0.5), "s"),
        "passes": (len(passes), "count"),
        **{f"{q}_ms": (percentile(v, 0.5), "ms") for q, v in per_q.items()},
    }
    return w


# ---------------------------------------------------------------------------
# Service lifecycle
# ---------------------------------------------------------------------------

SECRET = b"perfbench-secret"


class _Client:
    """Calls service routes as one closed-loop client: each call is
    one traced operation with its latency and status checked."""

    def __init__(self, run: Run, svc, w: Window):
        self.run, self.svc, self.w = run, svc, w
        self.ms: dict[str, list[float]] = {}

    def call(self, route: str, *args):
        t = self.run.tracer
        t0 = time.perf_counter()
        with t.span(f"op.{route}") as op:
            if op is not None:
                t.op_id = op["id"]
            try:
                status, body = getattr(self.svc, route)(*args)
            except Exception as e:  # counted as a failed operation
                traceback.print_exc()
                status, body = 599, {"error": f"{type(e).__name__}: {e}"}
        self.ms.setdefault(route, []).append(_ms(t0))
        self.w.check(status == 200, f"{route} did not answer 200",
                     f"{status} {str(body)[:200]}")
        return status, body


def _service(run: Run, root: str, verifier):
    """A service over its own fact and incoming roots, on the trained
    catalog once there is one."""
    from pdf_etl_engine_spark import pipeline
    from pdf_etl_engine_spark.service import Service

    return Service(
        run.spark,
        run.state.get("catalog") or pipeline.Catalog(run.spark, f"{root}/catalog"),
        f"{root}/facts",
        f"{root}/bucket/incoming",
        verifier,
    )


def _train_folders(run: Run, cli: "_Client", tok: dict, root: str) -> None:
    """Create, train and share every folder through the routes."""
    man, w = run.man, cli.w
    corpus = os.path.join(run.work, "inputs", "corpus")
    for t in man["tenants"]:
        owner = tok[t["uid"]]
        _, body = cli.call("create_folder", owner, {"name": t["folder_name"]})
        w.check(body.get("folder_id") == t["folder_id"], "create_folder: wrong folder id",
                str(body))
        master = os.path.join(root, "bucket", "incoming", t["uid"], t["folder_id"], "master")
        os.makedirs(master, exist_ok=True)
        shutil.copy(os.path.join(corpus, t["master_file"]), master)
        rel = f"incoming/{t['uid']}/{t['folder_id']}/master/{t['master_file']}"
        _, body = cli.call("analyze_master", owner, {"file_path": rel})
        found = {d["key"]: d["value"] for d in body.get("detected_kpis", [])}
        w.check(found == t["master_fields"], "analyze_master: wrong fields", str(found))
        _, body = cli.call("confirm_kpis", owner, {
            "folder_id": t["folder_id"],
            "selected_kpis": list(found),
            "kpi_samples": found,
        })
        typed = {k["name"]: k["type"] for k in body.get("kpi_metadata", [])}
        want = {k["name"]: k["type"] for k in t["kpis"]}
        w.check(typed == want, "confirm_kpis: wrong KPI types", f"{typed} != {want}")
        for who, perm in ((t["editor"], "edit"), (t["viewer"], "view")):
            cli.call("share_folder", owner, {
                "folder_id": t["folder_id"], "shared_email": who["email"],
                "permission": perm,
            })
    t0 = man["tenants"][0]
    un = man["untrained"]
    cli.call("create_folder", tok[t0["uid"]], {"name": un["folder_name"]})
    cli.call("share_folder", tok[t0["uid"]], {
        "folder_id": un["folder_id"], "shared_email": t0["editor"]["email"],
        "permission": "edit",
    })


def ingest_lifecycle(run: Run, window: int) -> Window:
    """Window 0 sets up and trains the folders, warms up with one
    round on a throwaway root, then runs the measured rounds. Later
    windows (the traced run's) run the same rounds against fresh fact
    and incoming roots on the already trained catalog."""
    from pdf_etl_engine_spark.service import HmacTokenVerifier

    man = run.man
    w = Window()
    verifier = HmacTokenVerifier(SECRET)
    tok = {
        who["uid"]: verifier.issue(who["uid"], who["email"])
        for t in man["tenants"] for who in (t, t["editor"], t["viewer"])
    }
    setup_s = 0.0
    if "catalog" not in run.state:
        root = os.path.join(run.work, "setup")
        cli = _Client(run, _service(run, root, verifier), w)
        with run.tracer.paused(recording=True):
            _train_folders(run, cli, tok, root)
        setup_s = sum(sum(v) for v in cli.ms.values()) / 1000.0
        run.state["catalog"] = cli.svc.catalog
        # warm-up: one round on a throwaway root, so the timed rounds
        # do not pay one-off compilation and Python worker start
        warm = _Client(run, _service(run, os.path.join(run.work, "warmup"), verifier), w)
        _rounds(run, warm, tok, man["rounds"][:1])
    cli = _Client(run, _service(run, os.path.join(run.work, f"svc{window}"), verifier), w)
    t_start = time.perf_counter()
    fresh_ms, docs_ok, dup_rows = _rounds(run, cli, tok, man["rounds"])
    w.elapsed_s = time.perf_counter() - t_start
    w.units = docs_ok
    w.op_ms = fresh_ms

    # -- untimed: bad uploads must be in quarantine
    bad = [d for docs in man["rounds"] for d in docs if d["kind"] != "valid"]
    _check_quarantined(w, cli.svc.quarantine_path, bad)
    w.report = {
        "docs_per_s": (w.units / w.elapsed_s, "1/s"),
        "freshness_p50_s": (percentile(fresh_ms, 0.5) / 1000.0, "s"),
        "upload_p50_ms": (percentile(cli.ms.get("upload_batch_file", []), 0.5), "ms"),
        "read_p50_ms": (percentile(cli.ms.get("get_results", []), 0.5), "ms"),
        "process_batch_p50_ms": (percentile(cli.ms.get("process_batch", []), 0.5), "ms"),
        "rounds": (len(man["rounds"]), "count"),
        "duplicate_fact_rows": (dup_rows, "count"),
        "folder_setup_s": (setup_s, "s"),
    }
    if run.tracer.enabled:
        corpus = os.path.join(run.work, "inputs", "corpus")
        w.layers.update(_pdftext_layer(man, corpus, [d for docs in man["rounds"] for d in docs]))
        w.layers.update(_snapshot_layer(cli.svc.fact_path, man["tenants"]))
    return w


def _rounds(run: Run, cli: _Client, tok: dict, rounds: list[list[dict]]):
    """Upload each round's documents as the editors, run
    ``process_batch`` once, then read every folder as owner and viewer,
    auditing each read against everything uploaded so far. Returns the
    freshness samples, the documents made readable and the duplicate
    rows in the last owner reads."""
    man, w = run.man, cli.w
    corpus = os.path.join(run.work, "inputs", "corpus")
    visible: list[dict[str, dict]] = [{} for _ in man["tenants"]]
    fresh_ms: list[float] = []
    docs_ok = dup_rows = 0
    for docs in rounds:
        for d in docs:
            t = man["tenants"][d["tenant"]]
            with open(os.path.join(corpus, d["filename"]), "rb") as fh:
                content = fh.read()
            cli.call("upload_batch_file", tok[t["editor"]["uid"]], {
                "folder_id": d["folder_id"], "owner_id": t["uid"],
                "filename": d["filename"], "content": content,
            })
        t_last = time.perf_counter()
        cli.call("process_batch")
        if run.tracer.enabled:
            run.tracer.spans[-1]["new_docs"] = len(docs)
        batch: list[set[str]] = [set() for _ in man["tenants"]]
        for d in docs:
            if d["kind"] == "valid":
                visible[d["tenant"]][d["filename"]] = d["expected"]
                batch[d["tenant"]].add(d["filename"])
        dup_rows = 0
        for ti, t in enumerate(man["tenants"]):
            _, body = cli.call("get_results", tok[t["uid"]], t["folder_id"], None, 1000)
            rows = body.get("results", [])
            if batch[ti] <= {r["file_name"] for r in rows}:
                fresh_ms.append((time.perf_counter() - t_last) * 1000.0)
                docs_ok += len(batch[ti])
            a = checks.audit_rows(rows, visible[ti])
            w.audit(a, f"owner read {t['uid']}")
            dup_rows += a["duplicates"]
        for ti, t in enumerate(man["tenants"]):
            _, body = cli.call(
                "get_results", tok[t["viewer"]["uid"]], t["folder_id"], t["uid"], 1000
            )
            w.audit(checks.audit_rows(body.get("results", []), visible[ti]),
                    f"viewer read {t['uid']}")
    return fresh_ms, docs_ok, dup_rows


def _check_quarantined(w: Window, qpath: str, bad: list[dict]) -> None:
    """Every malformed or untrained upload must sit in quarantine."""
    import pyarrow.parquet as pq

    seen = set()
    if os.path.isdir(qpath):
        seen = {
            os.path.basename(p)
            for p in pq.read_table(qpath, columns=["rel_path"]).column(0).to_pylist()
        }
    for d in bad:
        w.check(d["filename"] in seen, f"{d['kind']} document not in quarantine", d["filename"])


def _pdftext_layer(man: dict, corpus_dir: str | None, docs: list[dict]) -> dict:
    """Time the extractor and field discovery in-process over the valid
    documents of the corpus (the Spark path runs them in Python
    workers, out of the tracer's reach)."""
    from pdf_etl_engine_spark.functions.pdftext import pdf_discover_fields, pdf_kpi_extractor

    ext, disc = [], []
    for d in docs:
        if d["kind"] != "valid":
            continue
        t = man["tenants"][d["tenant"]]
        path = (
            os.path.join(corpus_dir, d["filename"]) if corpus_dir else d["path"]
        )
        with open(path, "rb") as fh:
            content = fh.read()
        names = [k["name"] for k in t["kpis"]]
        t0 = time.perf_counter()
        pdf_kpi_extractor(content, names, "")
        ext.append((time.perf_counter() - t0) * 1e6)
        t0 = time.perf_counter()
        pdf_discover_fields(content)
        disc.append((time.perf_counter() - t0) * 1e6)
    return {
        "functions.pdftext.extract_us_per_doc": tr.median(ext),
        "functions.pdftext.discover_us_per_doc": tr.median(disc),
    }


def _snapshot_layer(fact_path: str, tenants: list[dict]) -> dict:
    from pdf_etl_engine_spark.sources import writers

    files = writers.committed_files(fact_path) or []
    pruned = [
        len(writers.pruned_files(
            fact_path, [("tenant_id", "==", t["uid"]), ("folder_id", "==", t["folder_id"])]
        ) or [])
        for t in tenants
    ]
    return {
        "sources.writers.files_in_snapshot": float(len(files)),
        "sources.writers.files_after_pruning": tr.median(pruned),
    }


# ---------------------------------------------------------------------------
# Streaming drain
# ---------------------------------------------------------------------------

def stream_ingest(run: Run, window: int) -> Window:
    from pdf_etl_engine_spark import pipeline
    from pdf_etl_engine_spark.sources import rollup
    from pdf_etl_engine_spark.streaming.ingest import stream_ingest as start

    man = run.man
    root = os.path.join(run.work, f"stream{window}")
    bucket = os.path.join(root, "bucket")
    # each window drains its own copy of the backlog (the drain
    # archives what it ingests)
    shutil.copytree(os.path.join(run.work, "inputs", "bucket"), bucket)
    facts, rollup_path = f"{root}/facts", f"{root}/rollup"
    quarantine = f"{facts}_quarantine"
    t = run.tracer
    with t.paused():  # set-up: trained folders and the rollup definition
        cat = pipeline.Catalog(run.spark, f"{root}/catalog")
        for tn in man["tenants"]:
            meta = [{"name": k["name"], "sample_value": "", "type": k["type"]}
                    for k in tn["kpis"]]
            cat.create_folder(tn["uid"], tn["folder_id"], tn["folder_name"], "",
                              kpi_metadata=meta)
        un = man["untrained"]
        cat.create_folder(man["tenants"][0]["uid"], un["folder_id"], un["folder_name"])
        rollup.define_rollup(
            rollup_path, facts, ["tenant_id", "folder_id"], {"n_rows": ("count", "row_id")}
        )
    w = Window()
    t0 = time.perf_counter()
    with t.span("op.stream_drain") as op:
        if op is not None:
            t.op_id = op["id"]
        q = start(
            run.spark, bucket, cat, facts, f"{root}/checkpoint",
            quarantine_path=quarantine,
            extractor=pipeline.pdf_extractor,
            archive=True,
            max_files_per_trigger=man["files_per_trigger"],
            rollup_paths=[rollup_path],
        )
        finished = q.awaitTermination(150)
    w.elapsed_s = time.perf_counter() - t0
    err = q.exception()
    if not finished:
        q.stop()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    w.op_ms = [float(p.durationMs.get("triggerExecution", 0)) for p in progress]
    for p in progress:
        w.check(err is None and finished, "stream failed", f"batch {p.batchId}: {err}")
    if not progress:
        w.check(False, "stream produced no micro-batch", str(err))

    # -- audit (untimed, untraced)
    with t.paused():
        _audit_stream(run, w, facts, rollup_path, quarantine, bucket)
    w.units = sum(1 for d in man["docs"] if d["kind"] == "valid")
    w.report = {
        "docs_per_s": (w.units / w.elapsed_s, "1/s"),
        "microbatch_p50_s": (percentile(w.op_ms, 0.5) / 1000.0, "s"),
        "microbatches": (len(w.op_ms), "count"),
    }
    if t.enabled:
        t.resolve()
        st = run.spark.sparkContext.statusTracker()
        stream_jobs = tr.job_counts(st, [str(q.runId)])["jobs"]
        span_jobs = sum(s.get("jobs", 0) for s in t.spans if s.get("op_id") == t.op_id)
        dur = [p.durationMs for p in progress]
        w.layers.update({
            "streaming.ingest.add_batch_ms": tr.median(d.get("addBatch", 0) for d in dur),
            "streaming.ingest.query_planning_ms": tr.median(d.get("queryPlanning", 0) for d in dur),
            "streaming.ingest.wal_commit_ms": tr.median(d.get("walCommit", 0) for d in dur),
            "streaming.ingest.spark_jobs_per_batch": (stream_jobs + span_jobs) / max(1, len(progress)),
        })
        docs = [
            {**d, "path": os.path.join(
                run.work, "inputs", "bucket", "incoming", man["tenants"][d["tenant"]]["uid"],
                d["folder_id"], "batch", d["filename"])}
            for d in man["docs"]
        ]
        w.layers.update(_pdftext_layer(man, None, docs))
        w.layers.update(_snapshot_layer(facts, man["tenants"]))
    return w


def _audit_stream(run: Run, w: Window, facts: str, rollup_path: str,
                  quarantine: str, bucket: str) -> None:
    """Every valid document exactly once with its values, the rollup
    equal to the fact rows per folder, bad documents in quarantine,
    ingested files archived."""
    from pdf_etl_engine_spark.sources import writers

    man = run.man
    by_folder: dict[tuple[str, str], list[dict]] = {}
    if os.path.isdir(facts):
        for r in writers.read_fact_table(run.spark, facts).collect():
            d = r.asDict()
            by_folder.setdefault((d["tenant_id"], d["folder_id"]), []).append(d)
    counted = {}
    if os.path.isdir(rollup_path):
        counted = {
            (r["tenant_id"], r["folder_id"]): r["n_rows"]
            for r in writers.read_fact_table(run.spark, rollup_path).collect()
        }
    valid = [d for d in man["docs"] if d["kind"] == "valid"]
    for ti, tn in enumerate(man["tenants"]):
        key = (tn["uid"], tn["folder_id"])
        want = {d["filename"]: d["expected"] for d in valid if d["tenant"] == ti}
        w.audit(checks.audit_rows(by_folder.pop(key, []), want), f"stream facts {key}")
        w.check(counted.get(key) == len(want), "rollup count differs from fact rows",
                f"{key}: {counted.get(key)} != {len(want)}")
    for key, rows in by_folder.items():  # rows in folders that should have none
        w.audit(checks.audit_rows(rows, {}), f"unexpected facts {key}")
    _check_quarantined(w, quarantine, [d for d in man["docs"] if d["kind"] != "valid"])
    for d in valid:
        tn = man["tenants"][d["tenant"]]
        moved = os.path.exists(os.path.join(
            bucket, "processed", tn["uid"], d["folder_id"], "batch", d["filename"]))
        w.check(moved, "ingested document not archived", d["filename"])


# per-layer metrics measured by the workloads themselves rather than
# derived from spans
WORKLOAD_LAYERS = (
    "functions.pdftext.extract_us_per_doc",
    "functions.pdftext.discover_us_per_doc",
    "sources.writers.files_in_snapshot",
    "sources.writers.files_after_pruning",
    "streaming.ingest.add_batch_ms",
    "streaming.ingest.query_planning_ms",
    "streaming.ingest.wal_commit_ms",
    "streaming.ingest.spark_jobs_per_batch",
)

WORKLOADS = {
    "ingest_lifecycle": ingest_lifecycle,
    "query_mix": query_mix,
    "query_rounding": query_mix,  # the same loop over gen.QUERY_ROUNDING
    "curation": curation,
    "stream_ingest": stream_ingest,
}
