"""Independent oracle: DuckDB SQL over the same stored parquet.

Nothing here imports the package. Expected verdicts are derived from the
table with plain SQL and compared with what the CLI wrote.
"""

from __future__ import annotations

import json
from contextlib import closing
from pathlib import Path

import duckdb

# the spec every validate workload uses, one expected-count expression
# per constraint that can fire; each is a 0/1 per row
ROW_RULES = {
    "url.nullable": "url IS NULL",
    "url.pattern": "url IS NOT NULL AND NOT regexp_matches(url, '^https?://')",
    "url.max_length": "length(url) > 2048",
    "warc_ts.nullable": "warc_ts IS NULL",
    "text.nullable": "text IS NULL",
    "text.min_length": "length(text) < 1",
    "lang.min_length": "length(lang) < 2",
    "lang.max_length": "length(lang) > 2",
    "lang.references": "lang IS NOT NULL AND lang NOT IN (SELECT lang FROM dim)",
    # the generator's corrupt blob cannot be parsed; against stored
    # text that is an extraction mismatch (null text stays consistent)
    "html.extraction": "html = '\\x00corrupt\\x00'::BLOB AND text IS NOT NULL",
    # later warc_ts copies of a url are the violations
    "url.unique": (
        "url IS NOT NULL AND row_number() OVER "
        "(PARTITION BY url ORDER BY warc_ts, url) > 1"
    ),
}


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def expected_pages_verdict(table: str, dim: str, min_rows: int) -> dict:
    """Expected per-constraint counts and run totals for a pages table."""
    with closing(_connect()) as con:
        con.execute(
            f"CREATE VIEW t AS SELECT url, warc_ts, html, text, lang "
            f"FROM read_parquet('{table}/**/*.parquet')"
        )
        con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{dim}/*.parquet')")
        flags = ",\n".join(
            f"coalesce(({expr}), false)::INT AS \"{cid}\""
            for cid, expr in ROW_RULES.items()
        )
        con.execute(
            f"CREATE TABLE r AS SELECT CAST(warc_ts AS DATE) AS d, {flags} FROM t"
        )
        sums = ", ".join(f'sum("{c}")' for c in ROW_RULES)
        totals = con.execute(f"SELECT count(*), count(DISTINCT d), {sums} FROM r").fetchone()
        counts = {c: int(v) for c, v in zip(ROW_RULES, totals[2:]) if v}
        any_flag = " + ".join(f'"{c}"' for c in ROW_RULES)
        invalid_days = con.execute(
            f"SELECT count(DISTINCT d) FROM r WHERE {any_flag} > 0"
        ).fetchone()[0]
        card = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT lang FROM dim) k "
            "WHERE (SELECT count(*) FROM t WHERE t.lang = k.lang) < ?",
            [min_rows],
        ).fetchone()[0]
        if card:
            counts["lang.cardinality"] = int(card)
    return {
        "counts": counts,
        "total_rows": int(totals[0]),
        "total_partitions": int(totals[1]),
        # table-level classes (cardinality, drift) sit outside the
        # per-partition totals
        "total_violations": sum(
            v for k, v in counts.items() if k != "lang.cardinality"
        ),
        "invalid_partitions": int(invalid_days),
    }


def written_verdict(output_dir: str) -> dict:
    """Per-constraint counts and summary of one ``validate --output-dir``."""
    out = Path(output_dir)
    rows = []
    if any((out / "violations_0").rglob("*.parquet")):
        with closing(_connect()) as con:
            rows = con.execute(
                f"SELECT constraint_id, count(*) FROM "
                f"read_parquet('{out}/violations_0/**/*.parquet', union_by_name=true) "
                f"GROUP BY 1"
            ).fetchall()
    summary = json.loads((out / "summary_0.json").read_text())
    return {"counts": {c: int(n) for c, n in rows}, "summary": summary}


def check_pages(expected: dict, output_dir: str) -> list[str]:
    """Mismatches between the expected verdict and a written one."""
    got = written_verdict(output_dir)
    errs = []
    if got["counts"] != expected["counts"]:
        errs.append(f"counts {got['counts']} != expected {expected['counts']}")
    s = got["summary"]
    for k in ("total_rows", "total_partitions", "total_violations",
              "invalid_partitions"):
        if s.get(k) != expected[k]:
            errs.append(f"summary {k}={s.get(k)} != expected {expected[k]}")
    if s.get("valid") != (expected["invalid_partitions"] == 0):
        errs.append(f"summary valid={s.get('valid')}")
    # baseline and table come from one generator; the dirty table only
    # adds ~3% null/empty texts, so length KS stays ~0.03, under 0.1
    drift = s.get("drift") or []
    if len(drift) != 1 or drift[0].get("drifted") is not False:
        errs.append(f"drift {drift} != one undrifted text verdict")
    return errs


def check_curated(out_dir: str, expected_rows: dict, boilerplate: str) -> list[str]:
    """Stage counts against the corpus's closed form; no duplicate key or
    text in the output; the boilerplate line is gone."""
    out = Path(out_dir)
    rep = json.loads((out / "report.json").read_text())
    stages = rep["stages"]
    errs = [
        f"stage {st} out={stages.get(st, {}).get('out')} != {n}"
        for st, n in expected_rows.items()
        if stages.get(st, {}).get("out") != n
    ]
    with closing(_connect()) as con:
        n, keys, texts, boiler = con.execute(
            f"SELECT count(*), count(DISTINCT doc_id), count(DISTINCT text), "
            f"count(*) FILTER (WHERE contains(text, ?)) "
            f"FROM read_parquet('{out}/curated/*.parquet')",
            [boilerplate],
        ).fetchone()
    if not (n == keys == texts):
        errs.append(f"curated rows={n} keys={keys} texts={texts}")
    if boiler:
        errs.append(f"{boiler} curated docs keep the boilerplate line")
    if n != stages.get("mix", {}).get("out"):
        errs.append(f"curated rows={n} != mix out {stages.get('mix')}")
    return errs


def stage_rows(out_dir: str) -> dict[str, int]:
    rep = json.loads((Path(out_dir) / "report.json").read_text())
    return {k: v["out"] for k, v in rep["stages"].items()}
