"""Output checks, run outside every timed region.

Query ops are compared once per invocation against their ``oracle_sql()``
twin in DuckDB with the canon and comparison of
``tools/check_correctness.py`` (row count, column names, order-insensitive
canonical rows). Oracle results are cached per seed and generator
version under the benchmark's work directory.

Feed drains are checked after every pass from the files they left:
per-feed sink rows, quarantined lines, leftovers, archived files and
checksums of cleaned columns, read with pyarrow (no Spark jobs).
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import inputs


def _oracle_cache_key(workload: str, seed: int, oracles: dict[str, str]) -> str:
    h = hashlib.sha256()
    h.update(f"{inputs.GENERATOR_VERSION}|{workload}|{seed}".encode())
    for name in sorted(oracles):
        h.update(f"|{name}={oracles[name]}".encode())
    return h.hexdigest()[:20]


def oracle_canon(sf_dir: str, workload: str, seed: int, oracles: dict[str, str],
                 cache_dir: Path) -> dict[str, dict]:
    """``{query: {"cols": [...], "canon": [...]}}`` from DuckDB, cached."""
    import duckdb  # noqa: PLC0415

    from tools.check_correctness import canon  # noqa: PLC0415

    cache_dir.mkdir(parents=True, exist_ok=True)
    path = cache_dir / f"oracle-{workload}-{seed}-{_oracle_cache_key(workload, seed, oracles)}.json"
    if path.exists():
        return json.loads(path.read_text())
    from datapipelineetl_spark import catalog  # noqa: PLC0415

    con = duckdb.connect()
    try:
        for t in catalog.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = {"cols": cols, "canon": [list(r) for r in canon(res.fetchall(), cols)]}
    finally:
        con.close()
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(out))
    tmp.replace(path)
    return out


def compare(name: str, rows, cols: list[str], oracle: dict) -> str | None:
    """None when Spark's result matches the oracle, else the mismatch."""
    from tools.check_correctness import canon  # noqa: PLC0415

    problems = []
    if len(rows) != len(oracle["canon"]):
        problems.append(f"rowcount spark={len(rows)} oracle={len(oracle['canon'])}")
    if sorted(cols) != sorted(oracle["cols"]):
        problems.append(f"columns spark={sorted(cols)} oracle={sorted(oracle['cols'])}")
    if not problems:
        sc = canon(rows, cols)
        oc = [tuple(r) for r in oracle["canon"]]
        if sc != oc:
            diff = next((i for i, (a, b) in enumerate(zip(sc, oc)) if a != b), None)
            msg = "value mismatch"
            if diff is not None:
                msg += f" first at sorted-row {diff}: spark={sc[diff]} oracle={oc[diff]}"
            problems.append(msg)
    return f"{name}: " + "; ".join(problems) if problems else None


def parquet_files(path: Path) -> list[Path]:
    return sorted(p for p in path.rglob("*.parquet") if not p.name.startswith("."))


def parquet_rows(path: Path) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in parquet_files(path))


def _column(path: Path, column: str):
    tables = [pq.read_table(p, columns=[column]) for p in parquet_files(path)]
    return [t.column(column) for t in tables]


def feed_outputs(pass_dir: Path, results: dict, expected: dict) -> list[str]:
    """Mismatches between one drained pass and the generator's counts."""
    bad: list[str] = []

    def check(what: str, got, want, tol: float = 0.0) -> None:
        ok = math.isclose(got, want, rel_tol=tol, abs_tol=tol) if tol else got == want
        if not ok:
            bad.append(f"{what}: got {got}, expected {want}")

    for feed, res in results.items():
        check(f"{feed} FeedResult.rows", res.rows, expected[feed])
        check(f"{feed} leftovers", len(res.leftovers), 0)
        archived = [p for p in (pass_dir / "archive" / feed).rglob("*") if p.is_file()]
        check(f"{feed} archived files", len(archived), expected["files"][feed])
        sink = pass_dir / "sink" / feed / f"feed={feed}"
        check(f"{feed} sink rows after compact", parquet_rows(sink), expected[feed])
    check("quarantined lines", parquet_rows(pass_dir / "quarantine"), expected["quarantined"])
    csv_sink = pass_dir / "sink" / "csv" / "feed=csv"
    lat = sum(pc.sum(c).as_py() or 0.0 for c in _column(csv_sink, "Latitude"))
    check("csv Latitude checksum", round(lat, 4), expected["csv_latitude_sum"], tol=1e-6)
    na = sum(pc.sum(pc.equal(c, "N/A")).as_py() or 0 for c in _column(csv_sink, "eNodeB Name"))
    check("csv eNodeB N/A count", na, expected["csv_na_enodeb"])
    zero = sum(pc.sum(pc.equal(c, "0")).as_py() or 0
               for c in _column(csv_sink, "FT_UL_Interference"))
    check("csv nil->0 interference count", zero, expected["csv_nil_interference"])
    for variant in inputs.XML_VARIANTS:
        sink = pass_dir / "sink" / variant / f"feed={variant}"
        total = sum(pc.sum(c).as_py() or 0 for c in _column(sink, "kpiValue"))
        check(f"{variant} kpiValue checksum", total, expected[f"{variant}_kpi_sum"])
    return bad
