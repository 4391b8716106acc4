"""Seeded input generator: every input of every workload comes from here.

Plain numpy/pyarrow, never Spark, run before any timed region. The seed
draws the rows themselves (values, lengths, which docs are near
duplicates, which CSV lines are malformed), so two seeds give different
data of the same shape and size, not a reordering of one dataset.

- ``make_tables``: an sf-shaped directory of the ten catalog tables
  (``catalog.TABLES``) with the fixture schemas and value domains,
  sized like the sf0.01 fixture (``documents`` smaller); it gets a seeded
  near-duplicate expansion and ``embeddings`` a few perturbed copies.
- ``make_feeds``: cell-metrics CSV files (``CELL_METRICS_SCHEMA``, with
  ``nil``/`` NIL ``/empty sentinels and a known count of malformed lines)
  and measCollec documents for the ``gzip``/``xmlonly``/``hardware``
  feeds, plus the counts and checksums the drained sink must show.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import zlib
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so cached oracle results go stale.
GENERATOR_VERSION = "1"

TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 200,  # base documents, before the near-duplicate expansion
    "embeddings": 500,
}
NEAR_DUP_SHARE = 0.2  # share of the final documents that are near copies
EMB_DIM = 64
EMB_NEAR_SHARE = 0.05

WORKLOAD_TABLES = {
    "analytics_sql": ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events"),
    "corpus_curate": ("documents", "embeddings"),
}

# value domains of the driver fixtures (TESTDATA.md)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)

CSV_COLUMNS = (
    "Time", "eNodeB Name", "Cell Name", "Frequency band", "Downlink EARFCN",
    "Downlink bandwidth", "LocalCell Id", "Latitude", "Longitude", "Integrity",
    "FT_UL.Interference",
    "FT_AVE 4G/LTE DL USER THRPUT without Last TTI(ALL) (KBPS)(kbit/s)",
    "FT_PHYSICAL RESOURCE BLOCKS LOAD DL(%)",
    "FT_AVERAGE NB OF USERS (UEs RRC CONNECTED)",
    "FT_4G/LTE CALL SETUP SUCCESS RATE",
)
CSV_FILES = 6
CSV_LINES_PER_FILE = 800
XML_VARIANTS = ("gzip", "xmlonly", "hardware")
XML_DOCS_PER_VARIANT = 3
XML_MEAS_INFOS = 3
XML_MEAS_TYPES = 6
XML_CELLS = 25
MEASCOLLEC_NS = "http://www.3gpp.org/ftp/specs/archive/32_series/32.435#measCollec"


@dataclass
class Inputs:
    """Where a workload's inputs live and what its outputs must show."""

    workload: str
    seed: int
    root: Path
    rows: int = 0
    files: int = 0
    bytes: int = 0
    extra: dict = field(default_factory=dict)
    expected: dict = field(default_factory=dict)
    warmup: Inputs | None = None  # a smaller input set for the warm-up pass

    def size_block(self) -> str:
        parts = [f"rows={self.rows}", f"files={self.files}", f"bytes={self.bytes}"]
        parts += [f"{k}={v}" for k, v in self.extra.items()]
        return f"input[{self.workload} seed={self.seed}]: " + " ".join(parts)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table/feed, so adding a table does not
    # shift the draws of the others
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n_base: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n_base):
        target = int(rng.integers(46, 561))
        words = vocab[rng.integers(0, len(vocab), target // 3 + 2)]
        texts.append(" ".join(words)[:target].rstrip())
    n_dup = round(n_base * NEAR_DUP_SHARE / (1 - NEAR_DUP_SHARE))
    for src in rng.integers(0, n_base, n_dup):
        words = texts[src].split()
        if rng.random() < 0.5:
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts.append(" ".join(words) + " dup")
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    near = rng.choice(np.arange(1, n), int(n * EMB_NEAR_SHARE), replace=False)
    for i in near:
        vecs[i] = vecs[int(rng.integers(0, n))] + rng.normal(0.0, 0.15, EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _tpch(seed: int) -> dict[str, pa.Table]:
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n["customer"])]),
    })
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
    })
    r = _rng(seed, "part")
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(r.integers(0, 8, n["part"]), r.integers(0, 8, n["part"]))]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n["part"])]),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n["part"])]),
        "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1),
    })
    r = _rng(seed, "orders")
    odate = r.integers(0, 2404, n["orders"])  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[r.integers(0, 3, n["orders"])]),
        "o_totalprice": _money(r, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": pa.array(_days("1995-01-01", odate), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n["orders"])]),
    })
    r = _rng(seed, "lineitem")
    m = n["lineitem"]
    okey = r.integers(0, n["orders"], m)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, m),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[r.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[r.integers(0, 2, m)]),
        "l_shipdate": pa.array(_days("1995-01-02", odate[okey] + r.integers(0, 122, m)),
                               pa.timestamp("us")),
    })
    r = _rng(seed, "events")
    m = n["events"]
    micros = np.sort(r.integers(0, 30 * 86400 * 10**6, m))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, m), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, m)]),
        "value": np.maximum(np.round(r.exponential(50.0, m), 2), 0.01),
        "props": pa.array([json.dumps({"k": int(k)}) for k in r.integers(0, 100, m)]),
    })
    t["documents"] = _documents(_rng(seed, "documents"), n["documents"])
    t["embeddings"] = _embeddings(_rng(seed, "embeddings"), n["embeddings"])
    return t


def make_tables(workload: str, seed: int, out: Path) -> Inputs:
    """Write the ten catalog tables as ``<out>/<table>.parquet``."""
    out.mkdir(parents=True, exist_ok=True)
    tables = _tpch(seed)
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    used = WORKLOAD_TABLES[workload]
    inp = Inputs(workload, seed, out)
    inp.rows = sum(tables[t].num_rows for t in used)
    inp.files = len(used)
    inp.bytes = sum((out / f"{t}.parquet").stat().st_size for t in used)
    if workload == "corpus_curate":
        docs = tables["documents"].column("text").to_pylist()
        inp.extra["documents"] = len(docs)
        inp.extra["near_dup_share"] = round(sum(d.endswith(" dup") for d in docs) / len(docs), 4)
        inp.extra["embeddings"] = tables["embeddings"].num_rows
    return inp


# --------------------------------------------------------------------------
# feeds


def _csv_field(v: str) -> str:
    return f'"{v}"' if ("," in v or v != v.strip() or '"' in v) else v


def _csv_file(rng: np.random.Generator, n: int, n_bad: int, exp: dict) -> str:
    header = ",".join(_csv_field(c) if "." in c or "(" in c or "/" in c else c
                      for c in CSV_COLUMNS)
    bad = set(rng.choice(n, n_bad, replace=False).tolist())
    lines = [header]
    for i in range(n):
        null = rng.random(8) < 0.05
        enb = "" if null[0] else f"ENB{int(rng.integers(1, 60))}"
        lat = None if null[1] else round(float(rng.uniform(30.0, 36.0)), 6)
        ul = rng.random()
        if ul < 0.1:
            interference = ("nil", " NIL ", "Nil", "NIL")[int(rng.integers(0, 4))]
        elif ul < 0.15:
            interference = ""
        else:
            interference = f"{rng.uniform(-120.0, -90.0):.2f}"
        bandwidth = "" if null[2] else str(int(rng.choice((5, 10, 15, 20))))
        users = "" if null[3] else str(int(rng.integers(0, 400)))
        if i in bad:
            # a value the declared IntegerType cannot parse -> quarantined
            if rng.random() < 0.5:
                bandwidth = "NOT_AN_INT"
            else:
                users = "many"
        else:
            exp["csv"] += 1
            exp["csv_latitude_sum"] += 999.0 if lat is None else lat
            exp["csv_na_enodeb"] += enb == ""
            exp["csv_nil_interference"] += interference.strip().lower() == "nil"
        day, minute = int(rng.integers(0, 365)), int(rng.integers(0, 1440))
        t = dt.datetime(2025, 1, 1) + dt.timedelta(days=day, minutes=minute)
        row = (
            t.strftime("%m-%d-%Y %H:%M"),
            enb,
            "" if null[4] else f"Cell{int(rng.integers(1, 400))}",
            ("B1", "B3", "B7", "B20")[int(rng.integers(0, 4))],
            "" if null[5] else str(int(rng.integers(100, 6400))),
            bandwidth,
            "" if null[6] else str(int(rng.integers(0, 6))),
            "" if lat is None else f"{lat:.6f}",
            "" if null[7] else f"{rng.uniform(-8.0, 0.0):.6f}",
            "OK" if rng.random() < 0.9 else "NOK",
            interference,
            f"{rng.uniform(0.0, 90000.0):.2f}",
            f"{rng.uniform(0.0, 100.0):.2f}",
            users,
            f"{rng.uniform(0.8, 1.0):.4f}",
        )
        lines.append(",".join(_csv_field(v) for v in row))
    return "\n".join(lines) + "\n"


def _xml_doc(rng: np.random.Generator, variant: str, exp: dict) -> str:
    enb = int(rng.integers(1, 60))
    begin = dt.datetime(2025, 7, 4, 13, 0) + dt.timedelta(minutes=15 * int(rng.integers(0, 96)))
    end = begin + dt.timedelta(minutes=15)
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<measCollecFile xmlns="{MEASCOLLEC_NS}">',
        '  <fileHeader fileFormatVersion="32.435 V10.0">',
        f'    <measCollec beginTime="{begin:%Y-%m-%dT%H:%M:%S}+01:00"/>',
        "  </fileHeader>",
        "  <measData>",
        f'    <managedElement localDn="SubNetwork=1,ManagedElement=ENB{enb}"/>',
    ]
    for m in range(XML_MEAS_INFOS):
        out += [
            f'    <measInfo measInfoId="m{m}">',
            f'      <job jobId="j{int(rng.integers(1, 9))}"/>',
            f'      <granPeriod duration="PT900S" endTime="{end:%Y-%m-%dT%H:%M:%S}+01:00"/>',
        ]
        out += [f'      <measType p="{p}">KPI.{m}.{p}</measType>'
                for p in range(1, XML_MEAS_TYPES + 1)]
        for c in range(XML_CELLS):
            out.append(f'      <measValue measObjLdn="eNodeBFunctionName=E{enb},cellId={c}">')
            # p = XML_MEAS_TYPES + 1 has no measType: flattens to UNKNOWN_<p>
            for p in range(1, XML_MEAS_TYPES + 2):
                if rng.random() < 0.03:
                    value = "NIL"
                else:
                    value = str(int(rng.integers(0, 1000)))
                    exp[f"{variant}_kpi_sum"] += int(value)
                exp[variant] += 1
                out.append(f'        <r p="{p}">{value}</r>')
            out.append("      </measValue>")
        out.append("    </measInfo>")
    out += ["  </measData>", "</measCollecFile>", ""]
    return "\n".join(out)


def make_feeds(seed: int, out: Path, csv_files: int = CSV_FILES,
               xml_docs: int = XML_DOCS_PER_VARIANT, stream: str = "") -> Inputs:
    """Write ``<out>/csv`` and ``<out>/<variant>`` template directories;
    each feed_drain pass drains a fresh copy of them. A smaller set under
    ``<out>/warmup`` (its own draws) serves the warm-up pass."""
    exp = {k: 0 for k in ("csv", "quarantined", "csv_na_enodeb", "csv_nil_interference",
                          *XML_VARIANTS, *(f"{v}_kpi_sum" for v in XML_VARIANTS))}
    exp["csv_latitude_sum"] = 0.0
    exp["files"] = {"csv": csv_files, **{v: xml_docs for v in XML_VARIANTS}}
    rng = _rng(seed, f"{stream}csv")
    (out / "csv").mkdir(parents=True, exist_ok=True)
    for f in range(csv_files):
        n_bad = int(rng.integers(5, 26))
        exp["quarantined"] += n_bad
        text = _csv_file(rng, CSV_LINES_PER_FILE, n_bad, exp)
        (out / "csv" / f"cells_{f:03d}.csv").write_text(text)
    for variant in XML_VARIANTS:
        rng = _rng(seed, f"{stream}xml-{variant}")
        d = out / variant
        d.mkdir(parents=True, exist_ok=True)
        for k in range(xml_docs):
            doc = _xml_doc(rng, variant, exp)
            if variant == "gzip":
                with gzip.open(d / f"A{k:03d}.xml.gz", "wt") as fh:
                    fh.write(doc)
            else:
                (d / f"A{k:03d}.xml").write_text(doc)
    exp["csv_latitude_sum"] = round(exp["csv_latitude_sum"], 4)
    files = sorted(p for p in out.rglob("*") if p.is_file())
    inp = Inputs("feed_drain", seed, out, expected=exp)
    inp.files = len(files)
    inp.bytes = sum(p.stat().st_size for p in files)
    inp.rows = exp["csv"] + exp["quarantined"] + sum(exp[v] for v in XML_VARIANTS)
    inp.extra["malformed_lines"] = exp["quarantined"]
    if not stream:
        inp.warmup = make_feeds(seed, out / "warmup", 1, 1, stream="warmup-")
    return inp


def make(workload: str, seed: int, out: Path) -> Inputs:
    if workload == "feed_drain":
        return make_feeds(seed, out)
    return make_tables(workload, seed, out)
