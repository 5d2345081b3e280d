"""Self-test of the benchmark at a tiny input size (~5 minutes).

    python3 perfbench/selftest.py

1. Every workload runs once in each mode; every metric that
   BENCHMARK.json names prints with its unit, and the oracle passes.
2. The oracle flags a deliberately wrong expected count, for each
   workload, so the checker itself is tested.
3. The numpy pages table (``pages.py``) holds the same rows as the
   package's ``datagen.write_pages`` for two seeds: a small one, whose
   hash-stream literals are ints, and a large one, whose are longs.
4. The directory holding only BENCHMARK.json and the benchmark exits
   non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TINY = {"validate_pages": 3000, "curate_corpus": 400}


def run_benchmark(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def check_metrics_print(spec: dict) -> list[str]:
    errs = []
    for w in spec["workloads"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            p = run_benchmark(ROOT, "--workload", w["name"], "--seed", "1",
                              "--seconds", "1", "--trace", str(trace),
                              "--rows", str(TINY[w["name"]]))
            if p.returncode != 0:
                errs.append(f"{w['name']} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errs.append(f"{w['name']}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                errs.append(f"{w['name']} trace={trace}: oracle failed\n{p.stderr[-2000:]}")
            for m in names:
                got = result["metrics"].get(m["name"])
                printed = any(ln.split()[1:2] == [m["name"]] and ln.split()[-1] == m["unit"]
                              for ln in lines[:-1])
                if got is None or got["unit"] != m["unit"] or not printed:
                    errs.append(f"{w['name']} trace={trace}: {m['name']} [{m['unit']}] "
                                f"missing or wrong unit: {got}")
            print(f"ok: {w['name']} trace={trace} "
                  f"({result['attempted']} ops, {len(result['metrics'])} metrics)")
    return errs


def check_oracle_flags_wrong_counts() -> list[str]:
    """Run one op per workload in-process, then tamper with the expected
    verdict: the oracle must pass the real one and flag the wrong one."""
    sys.path[:0] = [str(ROOT), str(BENCH)]
    import oracle
    import run
    from workloads import CurateCorpus, ValidatePages

    errs = []
    work = Path(tempfile.mkdtemp(prefix="selftest-", dir=ROOT / ".perfbench"))
    run.fit_host(run.host_facts(), work)
    session = None
    try:
        pages = ValidatePages(work / "p", 5, TINY["validate_pages"])
        cur = CurateCorpus(work / "c", 5, TINY["curate_corpus"])
        cur.generate()
        pages.generate()
        session = run.Session()
        errs += check_pages_port(session.spark, work)
        for w in (pages, cur):
            op_errs = w.op(session.spark, "t") or w.check("t")
            if op_errs:
                errs.append(f"{w.name}: real verdict rejected: {op_errs}")
        wrong = json.loads(json.dumps(pages.expected))
        wrong["counts"]["text.nullable"] = wrong["counts"].get("text.nullable", 0) + 1
        if not oracle.check_pages(wrong, str(pages.out_dir("t"))):
            errs.append("validate_pages: oracle accepted a wrong text.nullable count")
        wrong_rows = {**cur.expected, "exact_dedup": cur.expected["exact_dedup"] + 1}
        if not oracle.check_curated(str(cur.out_dir("t")), wrong_rows, "x"):
            errs.append("curate_corpus: oracle accepted a wrong exact_dedup count")
        print("ok: the oracle flags wrong expected counts")
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(work, ignore_errors=True)
    return errs


def check_pages_port(spark, work: Path) -> list[str]:
    import duckdb
    import pages

    from py_schemax_spark.sources.datagen import write_pages

    errs = []
    q = ("SELECT url, warc_ts, html, text, lang, day FROM "
         "read_parquet('{}/**/*.parquet', hive_partitioning=true)")
    for seed in (11, 3_000_000_000):
        a, b = work / f"datagen-{seed}", work / f"port-{seed}"
        write_pages(spark, str(a), TINY["validate_pages"], seed=seed, words_scale=4)
        pages.write_pages(str(b), TINY["validate_pages"], seed, words_scale=4)
        with duckdb.connect() as con:
            for x, y in ((a, b), (b, a)):
                n = con.execute(f"SELECT count(*) FROM ({q.format(x)} EXCEPT ALL "
                                f"{q.format(y)})").fetchone()[0]
                if n:
                    errs.append(f"seed {seed}: {n} rows of {x.name} not in {y.name}")
    if not errs:
        print("ok: the numpy pages table equals datagen's")
    return errs


def check_refuses_without_program() -> list[str]:
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        shutil.copytree(BENCH, Path(d) / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run_benchmark(Path(d), "--workload", "validate_pages", "--seed", "1",
                          "--seconds", "1", "--trace", "0")
    if p.returncode == 0 or p.stdout.strip():
        return [f"without the program: exit {p.returncode}, stdout {p.stdout!r}"]
    print("ok: refuses to run without the program")
    return []


def main() -> int:
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errs = check_refuses_without_program()
    errs += check_oracle_flags_wrong_counts()
    errs += check_metrics_print(spec)
    for e in errs:
        print("FAIL:", e)
    print("self-test", "failed" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
