"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import run as bench  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _gen(tmp_path, workload: str, seed: int, tag: str) -> tuple[str, dict]:
    """Generate into a fresh directory; return (digest of the input
    files, manifest)."""
    out = str(tmp_path / f"{workload}-{seed}-{tag}")
    man = gen.generate(workload, seed, 8, out)
    os.remove(os.path.join(out, "expected.json"))  # names its own paths
    return _tree_digest(out), man


def test_same_seed_same_tables_and_oracle_digests(tmp_path):
    a, man_a = _gen(tmp_path, "query_mix", 11, "a")
    b, man_b = _gen(tmp_path, "query_mix", 11, "b")
    c, man_c = _gen(tmp_path, "query_mix", 12, "c")
    assert a == b and man_a["digests"] == man_b["digests"]
    assert a != c and man_a["digests"] != man_c["digests"]


def test_same_seed_same_pdf_corpus(tmp_path):
    for workload in ("ingest_lifecycle", "stream_ingest"):
        a, man_a = _gen(tmp_path, workload, 5, "a")
        b, man_b = _gen(tmp_path, workload, 5, "b")
        c, _ = _gen(tmp_path, workload, 6, "c")
        assert a == b and man_a == man_b
        assert a != c


def test_corpus_shape(tmp_path):
    """Both content-stream encodings, 2-6 KPIs of every type, a few
    malformed PDFs and uploads into the untrained folder."""
    _, man = _gen(tmp_path, "ingest_lifecycle", 3, "a")
    docs = [d for r in man["rounds"] for d in r]
    kinds = {d["kind"] for d in docs}
    assert {"valid", "malformed", "untrained"} <= kinds
    for t in man["tenants"]:
        assert 2 <= len(t["kpis"]) <= 6
    types = {k["type"] for t in man["tenants"] for k in t["kpis"]}
    assert types <= set(gen.KPI_TYPES)
    corpus = os.path.join(str(tmp_path), "ingest_lifecycle-3-a", "corpus")
    flate = plain = 0
    for d in docs:
        if d["kind"] == "valid":
            with open(os.path.join(corpus, d["filename"]), "rb") as fh:
                body = fh.read()
            flate += b"/FlateDecode" in body
            plain += b"/FlateDecode" not in body
    assert flate and plain


def test_expected_values_match_the_extractor(tmp_path):
    """The generator's printed KPI values are what the built-in
    extractor reads back."""
    from pdf_etl_engine_spark.functions.pdftext import pdf_kpi_extractor

    _, man = _gen(tmp_path, "ingest_lifecycle", 9, "a")
    corpus = os.path.join(str(tmp_path), "ingest_lifecycle-9-a", "corpus")
    for d in man["rounds"][0]:
        if d["kind"] != "valid":
            continue
        t = man["tenants"][d["tenant"]]
        with open(os.path.join(corpus, d["filename"]), "rb") as fh:
            got = pdf_kpi_extractor(fh.read(), [k["name"] for k in t["kpis"]], "")
        assert all(v != "N/A" for v in got.values())
        assert {checks.kpi_col(k) for k in got} == set(d["expected"])


def _rows(man: dict, tenant: int) -> tuple[list[dict], dict]:
    expected = {
        d["filename"]: d["expected"]
        for d in man["rounds"][0] if d["tenant"] == tenant and d["kind"] == "valid"
    }
    rows = [{"file_name": f, **want} for f, want in expected.items()]
    return rows, expected


def test_checker_rejects_duplicate_row(tmp_path):
    _, man = _gen(tmp_path, "ingest_lifecycle", 4, "a")
    rows, expected = _rows(man, 0)
    assert checks.audit_failures(checks.audit_rows(rows, expected)) == 0
    a = checks.audit_rows(rows + [dict(rows[0])], expected)
    assert a["duplicates"] == 1 and checks.audit_failures(a) == 1


def test_checker_rejects_wrong_value(tmp_path):
    _, man = _gen(tmp_path, "ingest_lifecycle", 4, "a")
    rows, expected = _rows(man, 1)
    col = next(c for c in rows[0] if c != "file_name")
    rows[0] = {**rows[0], col: "planted"}
    a = checks.audit_rows(rows, expected)
    assert a["wrong"] == 1 and checks.audit_failures(a) == 1


def test_checker_rejects_missing_and_unexpected_rows(tmp_path):
    _, man = _gen(tmp_path, "ingest_lifecycle", 4, "a")
    rows, expected = _rows(man, 0)
    assert checks.audit_rows(rows[1:], expected)["missing"] == 1
    assert checks.audit_rows(rows + [{"file_name": "x.pdf"}], expected)["wrong"] == 1


def test_digest_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None)]
    cols = ["k", "s", "f"]
    assert checks.digest(rows, cols) == checks.digest(rows[::-1], cols)
    assert checks.digest(rows, cols) == checks.digest(
        [(r[2], r[0], r[1]) for r in rows], ["f", "k", "s"]
    )
    assert checks.digest(rows, cols) != checks.digest([(1, "a", 0.3), (3, "b", None)], cols)


def _declared(kind: str) -> set[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def test_end_to_end_names_match_benchmark_json():
    printed = set(bench._e2e(workloads.Window(elapsed_s=1.0), 1.0))
    assert printed == _declared("end_to_end")


def test_per_layer_names_match_benchmark_json():
    """Every per-layer metric the traced run computes is declared,
    except those of layers only the ungated workloads reach, which go
    to the report line; and every declared one is computed."""
    e2e = bench._e2e(workloads.Window(elapsed_s=1.0), 1.0)
    computed = (
        set(bench.SETUP_LAYERS)
        | set(bench.JVM_LAYERS)
        | set(tracing.per_layer([], gen.CURATION))
        | set(workloads.WORKLOAD_LAYERS)
        | set(bench.peak_rss_mb())
        | {f"trace_overhead.{k}" for k in (*e2e, "peak_rss_mb")}
        | {"tracing.bookkeeping_ms_per_op"}
    )
    ungated = {n for n in computed if n.startswith(bench.UNGATED_LAYERS)}
    assert ungated and computed - ungated == _declared("per_layer")


def test_span_arithmetic():
    spans = [
        {"id": 0, "name": "op.x", "parent": None, "start": 0.0, "end": 1.0, "jobs": 1, "tasks": 4},
        {"id": 1, "name": "a", "parent": 0, "start": 0.1, "end": 0.4, "jobs": 2, "tasks": 8},
        {"id": 2, "name": "b", "parent": 1, "start": 0.2, "end": 0.3, "jobs": 1, "tasks": 1},
    ]
    st = tracing.self_time(spans)
    assert abs(st[0] - 0.7) < 1e-9 and abs(st[1] - 0.2) < 1e-9
    inc = tracing.inclusive_counts(spans)
    assert inc[0]["jobs"] == 4 and inc[0]["tasks"] == 13 and inc[2]["jobs"] == 1


def test_oracle_rounds_a_half_cent_tie_off_exact(tmp_path):
    """The defect that keeps j5 and a2 out of the gated query mix: on
    seed 603's sf0.01-shape tables NATION_17's exact j5 revenue is
    38783760.785, a
    half-cent tie. Half-up rounding, which the engine returns, gives
    .79; the DuckDB oracle rounds the binary double to .78. If this
    test fails, the oracle agrees again and both queries can return to
    ``gen.QUERY_MIX``."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from pdf_etl_engine_spark import registry

    tables = str(tmp_path / "tables")
    gen.make_tables(603, tables, 0.1, n_doc=500, n_emb=500)  # the sf0.01 shape
    registry.load_all()
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    oracle = dict(
        (r[0], r[1]) for r in con.execute(registry.ORACLES["j5_multiway_equi"]).fetchall()
    )
    cents_e4 = con.execute(
        "SELECT sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
        "WHERE o_orderstatus = 'F' AND n_name = 'NATION_17'"
    ).fetchone()[0]
    exact = (Decimal(cents_e4) / 10000).quantize(Decimal("0.01"), ROUND_HALF_UP)
    assert cents_e4 % 100 == 50
    assert exact == Decimal("38783760.79")
    assert Decimal(repr(oracle["NATION_17"])) == Decimal("38783760.78")
