"""Seeded input generator for the benchmark.

Everything a workload reads is made here from ``--seed`` (sizes follow
from ``--seconds``): the same seed gives byte-identical files.

* ``tables``  — the ten parquet tables the registry queries read
  (region … embeddings), in the shape of the engine's test data:
  sf0.1 row counts (600k lineitem rows) for the query mix, a small
  document/vector corpus for curation.
* ``corpus``  — multi-tenant PDF corpora in the ``Key: Value`` field
  layout the built-in extractor reads, with compressed and plain
  content streams, a seeded few-percent share of malformed PDFs and
  one untrained folder. The expected typed value of every KPI is kept
  in ``expected.json`` for the checker.
* oracle digests — for table workloads the DuckDB oracle of every
  selected registry query is run here, so the digests exist before the
  engine starts and never count towards a timed region.

Run:  python3 perfbench/gen.py --workload query_mix --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import calendar
import datetime as dt
import json
import os
import random
import sys
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402  (benchmark-local module)

QUERY_MIX = (
    "t1_results_topk",
    "w0_row_number",
    "s7b_json_extract_agg",
    "a3_count_distinct",
    "f2_coerce_number",
    "p6_filter_permission",
    "j6_point_lookup",
)
# Two more short queries sum money in fixed point and round the sum to
# cents. When a group's exact sum ends in half a cent, the engine and its
# DuckDB oracle disagree by one cent: Spark rounds the shortest decimal
# form of the double (half up), DuckDB rounds the binary double, and the
# oracle's 5e-10 nudge is below the spacing of doubles above about 1e6.
# This hit j5 on 2 of 80 seeds (603, 647) at the sf0.01 shape. They
# run, checked the same way, as the ungated workload ``query_rounding``.
QUERY_ROUNDING = (
    "a2_groupby_pricing_summary",
    "j5_multiway_equi",
)
CURATION = (
    "x2_dedup_exact",
    "x4j2_lsh_near_dup_colocated",
    "x55b_keep_best_prefix",
    "x16_contamination",
    "x53_curation_pipeline",
)
QUERIES = {"query_mix": QUERY_MIX, "query_rounding": QUERY_ROUNDING, "curation": CURATION}

# ---------------------------------------------------------------------------
# Sizing. Each knob is derived from --seconds only, so a seed names the
# same inputs on every run of the same BENCHMARK.json.
# ---------------------------------------------------------------------------

# Two tenants, not more: the folder set-up costs about 6 s of routes per
# tenant, and the driver's run budget (4 + 22 runs per workload within
# 3420 s) leaves about a minute per run.
N_TENANTS = 2
DOCS_PER_TENANT_ROUND = 3
KPIS_PER_CORPUS = 8
UNTRAINED_PER_ROUND = 1
MALFORMED_SHARE = 0.04
STREAM_FILES_PER_TRIGGER = 8
# The query mix runs at the sf0.1 shape (600k lineitem rows): at the
# sf0.01 shape a query is mostly planning and JIT-compiled planner code,
# and run-to-run spread was 0.2-0.3 of the median; at sf0.1 runs on a
# quiet host agree within a few percent.
QUERY_MIX_SCALE = 1.0  # × sf0.1 row counts
# The curation corpus is smaller than sf0.1 because the DuckDB oracle
# of x55b is a quadratic gram join (about 20 s at 500 documents on a
# 4-core host) and must run inside every benchmark run.
CURATION_DOCS = 200
CURATION_VECTORS = 500


def ingest_rounds(seconds: int) -> int:
    return max(2, round(seconds / 10))


def stream_batches(seconds: int) -> int:
    return max(4, round(seconds / 5))


# ---------------------------------------------------------------------------
# Tables
# ---------------------------------------------------------------------------

_WORDS = (
    "spark table query scan filter join group sort window stream batch "
    "value key row column part line order hash merge agg data vector fast "
    "slow big small a the index plan"
).split()


def make_tables(
    seed: int, out_dir: str, scale: float, n_doc: int, n_emb: int
) -> None:
    """Write the ten tables under ``out_dir`` as single-row-group
    parquet files. ``scale=1`` is the sf0.1 shape of the relational
    and event tables; ``n_doc``/``n_emb`` size the curation tables."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts_days(start: str, days: int, n: int):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, days, n)).astype("datetime64[us]")

    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_ev = int(150000 * scale), int(100000 * scale)

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjectives = np.array(["large", "hot", "small", "cold", "shiny", "matte"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "MEDIUM", "SMALL"])
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
            nouns[rng.integers(0, 6, n_part)],
        ),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": ts_days("1992-01-01", 2400, n_ord),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    # 1..7 lines per order, so (l_orderkey, l_linenumber) is unique and
    # every sort/top-k in the mix has a total order.
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = (np.arange(len(l_order)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_days("1995-01-02", 2498, n_li),
    })
    ev_types = np.array(["signup", "click", "error", "view", "purchase"])
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86400 * 10**6, n_ev
    ).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    write("documents", _documents(rng, n_doc))
    write("embeddings", _embeddings(rng, n_emb))


def _documents(rng, n: int) -> dict:
    """Word-soup documents with planted exact and near duplicates, so
    the dedup, near-dup and contamination operators all find work."""
    words = _WORDS
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:  # near duplicate: a few words edited
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(toks) // 12)):
                toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(words[j] for j in rng.integers(0, len(words), k)))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [["en", "es", "de", "fr", "zh"][j] for j in rng.integers(0, 5, n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": [len(t) for t in texts],
    }


def _embeddings(rng, n: int) -> dict:
    import numpy as np
    import pyarrow as pa

    dim, n_labels = 64, 10
    centroids = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centroids[labels] * 0.35 + rng.normal(0, 1, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels.astype(np.int32),
    }


def oracle_digests(tables_dir: str, names: tuple[str, ...]) -> dict[str, str]:
    """Run each query's DuckDB oracle over the generated tables and
    return its normalized digest."""
    import duckdb

    from pdf_etl_engine_spark import registry
    from pdf_etl_engine_spark.catalog import TABLES

    registry.load_all()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(tables_dir, t)}.parquet'"
        )
    out = {}
    for name in names:
        res = con.execute(registry.ORACLES[name])
        cols = [d[0] for d in res.description]
        out[name] = checks.digest(res.fetchall(), cols)
    con.close()
    return out


# ---------------------------------------------------------------------------
# PDF corpus
# ---------------------------------------------------------------------------

KPI_NAMES = (
    "Total Amount", "Tax Rate", "Invoice Date", "Due Date", "Status",
    "Vendor", "Payment Terms", "Region", "Discount", "Quantity",
    "Ship Date", "Notes", "Category", "Invoice Number",
)
KPI_TYPES = ("number", "date", "categorical", "string")
_CATEGORIES = ("Approved", "Pending", "Rejected", "On Hold", "KDC-54", "INV-001", "ABC123")
_PROSE = (
    "net terms apply to every shipped order and invoice line "
    "payment due after receipt of goods and signed delivery note"
).split()


def build_pdf(lines: list[str], compress: bool) -> bytes:
    """Minimal valid one-page PDF: catalog, pages, page, one content
    stream with one ``Tj`` per line, a font and an Info dict, with a
    correct xref table."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    for i, line in enumerate(lines):
        esc = line.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        if i:
            ops.append("0 -14 Td")
        ops.append(f"({esc}) Tj")
    ops.append("ET")
    stream = "\n".join(ops).encode("latin-1")
    filt = b""
    if compress:
        stream = zlib.compress(stream)
        filt = b"/Filter /FlateDecode "
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< " + filt + b"/Length " + str(len(stream)).encode() + b" >>\n"
        b"stream\n" + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Title (generated) >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objects, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objects) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R /Info "
        f"{len(objects)} 0 R >>\nstartxref\n{xref}\n%%EOF\n"
    ).encode()
    return bytes(out)


def malformed_pdf(rng: random.Random, good: bytes) -> bytes:
    """A PDF the extractor must reject: either bytes with no PDF header
    (a renamed file) or a Flate stream that does not inflate."""
    if rng.random() < 0.5:
        return b"<html>" + bytes(rng.randrange(256) for _ in range(300))
    head = good.index(b"stream\n") + 7
    return good[:head] + b"\x00" * 24 + good[head + 24:]


def kpi_value(rng: random.Random, kind: str, master: bool = False) -> tuple[str, str]:
    """(printed value, expected value normalized as the checker compares
    it). Master samples use the one printed form per type that the
    fallback inferrer types unambiguously."""
    if kind == "number":
        x = round(rng.uniform(1, 99999), 2)
        form = 0 if master else rng.randrange(4)
        if form == 0:
            return f"${x:,.2f}", checks.norm_number(x)
        if form == 1:
            p = rng.randrange(0, 101)
            return f"{p}%", checks.norm_number(float(p))
        if form == 2:
            return f"({x:,.2f})", checks.norm_number(-x)
        return f"{x:.2f}", checks.norm_number(x)
    if kind == "date":
        d = dt.date(2015, 1, 1) + dt.timedelta(days=rng.randrange(0, 4000))
        form = 0 if master else rng.randrange(3)
        if form == 0:
            return d.isoformat(), d.isoformat()
        if form == 1:
            return f"{d.month}/{d.day}/{d.year}", d.isoformat()
        return f"{calendar.month_name[d.month]} {d.day}, {d.year}", d.isoformat()
    if kind == "categorical":
        v = "Approved" if master else rng.choice(_CATEGORIES)
        return v, v
    words = [rng.choice(_PROSE) for _ in range(rng.randrange(6, 11))]
    v = f"{words[0].capitalize()} {rng.randrange(10, 99)} " + " ".join(words[1:])
    return v, v


def _folder_kpis(rng: random.Random) -> list[list[tuple[str, str]]]:
    """KPI (name, type) lists of the two tenants' folders: 2-6 each, 8
    in all, every type twice, names disjoint. Fixing the total keeps the
    width of the fact table — and so the ingest cost — the same for
    every seed; disjoint names keep out the engine's documented
    downgrade of a name declared with two types to string, which would
    bypass the coercion this corpus checks."""
    pairs = list(zip(
        rng.sample(KPI_NAMES, KPIS_PER_CORPUS),
        rng.sample(KPI_TYPES * (KPIS_PER_CORPUS // len(KPI_TYPES)), KPIS_PER_CORPUS),
    ))
    n0 = rng.randrange(2, 7)
    return [pairs[:n0], pairs[n0:]]


def _doc(rng: random.Random, kpis, malformed: bool) -> tuple[bytes, dict]:
    lines, expected = [], {}
    for name, kind in kpis:
        printed, want = kpi_value(rng, kind)
        lines.append(f"{name}: {printed}")
        expected[checks.kpi_col(name)] = want
    rng.shuffle(lines)
    pdf = build_pdf(lines, compress=rng.random() < 0.5)
    if malformed:
        return malformed_pdf(rng, build_pdf(lines, compress=True)), {}
    return pdf, expected


def _tenants(rng: random.Random) -> list[dict]:
    tenants = []
    for t, kpis in enumerate(_folder_kpis(rng)):
        tenants.append({
            "uid": f"owner{t}",
            "email": f"owner{t}@example.com",
            "editor": {"uid": f"editor{t}", "email": f"editor{t}@example.com"},
            "viewer": {"uid": f"viewer{t}", "email": f"viewer{t}@example.com"},
            "folder_name": f"Invoices T{t}",
            "folder_id": f"invoices_t{t}",
            "kpis": [{"name": n, "type": k} for n, k in kpis],
        })
    return tenants


UNTRAINED = {"folder_name": "Unsorted Inbox", "folder_id": "unsorted_inbox"}


def _malformed_slots(rng: random.Random, slots: list[int], n_uploads: int) -> set[int]:
    """Which trained-folder uploads are malformed: a fixed count per
    corpus size (so every seed has the same number of valid documents),
    at seeded positions."""
    k = max(1, round(MALFORMED_SHARE * n_uploads))
    return set(rng.sample(slots, k))


def make_ingest_corpus(seed: int, out_dir: str, seconds: int) -> dict:
    """Corpus for the service lifecycle: per tenant a master PDF, then
    per round a batch per tenant plus uploads into one untrained
    folder. PDFs land in ``out_dir/corpus``; the returned manifest
    names each upload and its expected typed values."""
    rng = random.Random(seed * 1_000_003 + 11)
    tenants = _tenants(rng)
    corpus = os.path.join(out_dir, "corpus")
    os.makedirs(corpus, exist_ok=True)
    for t in tenants:
        lines = []
        t["master_fields"] = {}
        for k in t["kpis"]:
            printed, _ = kpi_value(rng, k["type"], master=True)
            lines.append(f"{k['name']}: {printed}")
            t["master_fields"][k["name"]] = printed
        t["master_file"] = f"master_{t['uid']}.pdf"
        with open(os.path.join(corpus, t["master_file"]), "wb") as fh:
            fh.write(build_pdf(lines, compress=rng.random() < 0.5))
    n_rounds = ingest_rounds(seconds)
    per_round = N_TENANTS * DOCS_PER_TENANT_ROUND
    bad = _malformed_slots(
        rng, list(range(n_rounds * per_round)),
        n_rounds * (per_round + UNTRAINED_PER_ROUND),
    )
    rounds, slot = [], 0
    for r in range(n_rounds):
        docs = []
        for ti, t in enumerate(tenants):
            kpis = [(k["name"], k["type"]) for k in t["kpis"]]
            for i in range(DOCS_PER_TENANT_ROUND):
                pdf, want = _doc(rng, kpis, slot in bad)
                docs.append(_upload(corpus, ti, t["folder_id"], r, i, pdf, want, slot in bad))
                slot += 1
        for i in range(UNTRAINED_PER_ROUND):
            pdf, _ = _doc(rng, [(k["name"], k["type"]) for k in tenants[0]["kpis"]], False)
            doc = _upload(corpus, 0, UNTRAINED["folder_id"], r, i, pdf, {}, False)
            doc["kind"] = "untrained"
            docs.append(doc)
        rounds.append(docs)
    return {"tenants": tenants, "untrained": UNTRAINED, "rounds": rounds}


def _upload(corpus, ti, folder_id, r, i, pdf, want, bad) -> dict:
    name = f"{folder_id}_r{r}_{i:03d}.pdf"
    with open(os.path.join(corpus, name), "wb") as fh:
        fh.write(pdf)
    return {
        "tenant": ti,
        "folder_id": folder_id,
        "filename": name,
        "kind": "malformed" if bad else "valid",
        "expected": want,
    }


def make_stream_corpus(seed: int, out_dir: str, seconds: int) -> dict:
    """Backlog for the streaming drain, written straight into
    ``out_dir/bucket/incoming/{uid}/{folder}/batch/``."""
    rng = random.Random(seed * 1_000_003 + 29)
    tenants = _tenants(rng)
    n = stream_batches(seconds) * STREAM_FILES_PER_TRIGGER
    bad = _malformed_slots(rng, [j for j in range(n) if j % 16 != 15], n)
    docs = []
    for j in range(n):
        untrained = j % 16 == 15
        ti = 0 if untrained else j % N_TENANTS
        t = tenants[ti]
        kpis = [(k["name"], k["type"]) for k in t["kpis"]]
        pdf, want = _doc(rng, kpis, j in bad)
        folder = UNTRAINED["folder_id"] if untrained else t["folder_id"]
        d = os.path.join(out_dir, "bucket", "incoming", t["uid"], folder, "batch")
        os.makedirs(d, exist_ok=True)
        name = f"doc_{j:05d}.pdf"
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(pdf)
        kind = "malformed" if j in bad else ("untrained" if untrained else "valid")
        docs.append({
            "tenant": ti, "folder_id": folder, "filename": name,
            "kind": kind, "expected": want if kind == "valid" else {},
        })
    return {
        "tenants": tenants,
        "untrained": UNTRAINED,
        "docs": docs,
        "files_per_trigger": STREAM_FILES_PER_TRIGGER,
    }


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------

def generate(workload: str, seed: int, seconds: int, out_dir: str) -> dict:
    """Write the workload's inputs under ``out_dir`` and return the
    manifest (also saved as ``out_dir/expected.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    man: dict = {"workload": workload, "seed": seed, "seconds": seconds}
    if workload in QUERIES:
        tables = os.path.join(out_dir, "tables")
        if workload == "curation":
            make_tables(seed, tables, 0.01, n_doc=CURATION_DOCS, n_emb=CURATION_VECTORS)
        else:
            make_tables(seed, tables, QUERY_MIX_SCALE, n_doc=500, n_emb=500)
        names = QUERIES[workload]
        man["tables"] = tables
        man["queries"] = list(names)
        man["digests"] = oracle_digests(tables, names)
    elif workload == "ingest_lifecycle":
        man.update(make_ingest_corpus(seed, out_dir, seconds))
    elif workload == "stream_ingest":
        man.update(make_stream_corpus(seed, out_dir, seconds))
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(man, fh, sort_keys=True)
    return man


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.seconds, a.out)


if __name__ == "__main__":
    main()
