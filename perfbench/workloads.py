"""The benchmark's workloads: inputs, the operation, its oracle, its trace.

An operation is what a user runs, through ``cli.main([...], spark=...)``.
Inputs are generated from the seed before any timing and stored as
parquet; the program only ever sees the stored tables.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import oracle
import pages
from tracing import Tracer, group_counters, metric_sum, patched, plan_metrics

CHECKS = "schema,rows,extraction,uniqueness,referential,cardinality,drift"

# The datagen's pages columns plus the ``day`` partition column that
# ``write_pages(partition_by_day=True)`` adds: schema conformance is
# extra="forbid", so an undeclared ``day`` stops a plain run at the
# schema gate. ``min_rows`` makes the cardinality class run.
SPEC = {
    "fqn": "warehouse.pages",
    "key": "url",
    "extraction": {"source": "html", "target": "text"},
    "columns": [
        {"name": "url", "type": "string", "nullable": False, "unique": True,
         "pattern": "^https?://", "max_length": 2048},
        {"name": "warc_ts", "type": "datetime", "nullable": False},
        {"name": "html", "type": "binary"},
        {"name": "text", "type": "string", "min_length": 1, "nullable": False,
         "drift": {"on": "length", "psi_threshold": 0.2, "ks_threshold": 0.1}},
        {"name": "lang", "type": "string", "min_length": 2, "max_length": 2,
         "references": {"table": "lang_dim", "column": "lang", "min_rows": 1}},
        {"name": "day", "type": "date"},
    ],
}
MIN_ROWS = 1


def run_cli(args: list[str], spark) -> int:
    """One CLI call; what it prints is captured, as a terminal would."""
    from py_schemax_spark.cli import main

    with contextlib.redirect_stdout(io.StringIO()):
        return main(args, spark=spark)


class Workload:
    name = ""
    rows = 0
    min_ops = 2
    nominal_op_s = 10.0
    warmup_ops = 0

    def __init__(self, work: Path, seed: int, rows: int | None = None):
        self.work = work
        self.seed = seed
        if rows is not None:
            self.rows = rows

    def out_dir(self, tag: str) -> Path:
        return self.work / "out" / tag


class ValidatePages(Workload):
    """``validate --output-dir`` over ~1 KB pages with all seven classes."""

    name = "validate_pages"
    rows = 30_000
    words_scale = 4
    min_ops = 3
    nominal_op_s = 6.5
    # warm ops get faster for about six ops; the first two are steepest
    warmup_ops = 2

    def generate(self) -> None:
        from py_schemax_spark.sources.datagen import LANGS

        self.table = str(self.work / "pages")
        self.dim = str(self.work / "lang_dim")
        self.baseline = str(self.work / "baseline")
        self.spec_path = str(self.work / "spec.json")
        # the package's write_pages table, made without a JVM (pages.py)
        pages.write_pages(self.table, self.rows, self.seed, self.words_scale)
        # the package's lang_dim rows (gen_lang_dim)
        Path(self.dim).mkdir(parents=True)
        pq.write_table(pa.table({"lang": [c for c, _ in LANGS],
                                 "lang_name": [n for _, n in LANGS]}),
                       f"{self.dim}/part-0.parquet")
        # the baseline is a quantile grid; a quarter of the rows fixes it.
        # datagen's spark.range splits it into local[cpus] partitions
        pages.write_baseline(self.baseline, self.rows // 4, self.seed,
                             self.words_scale, int(os.environ["SPARK_GRAFT_CPUS"]))
        Path(self.spec_path).write_text(json.dumps(SPEC))
        self.expected = oracle.expected_pages_verdict(self.table, self.dim, MIN_ROWS)
        self.expected_rc = 1 if self.expected["counts"] else 0

    def sizes(self) -> dict:
        return {"rows": self.rows, "words_scale": self.words_scale,
                "table_bytes": _tree_bytes(Path(self.table)),
                "day_partitions": self.expected["total_partitions"]}

    def _args(self, *extra: str) -> list[str]:
        return ["validate", self.table, "--spec", self.spec_path,
                "--dim", f"lang_dim={self.dim}", "--baseline", self.baseline,
                "--check", CHECKS, "--order-col", "warc_ts", *extra]

    def op(self, spark, tag: str) -> list[str]:
        """Run one operation; returns its failures (empty = correct)."""
        out = self.out_dir(tag)
        rc = run_cli(self._args("--output-dir", str(out)), spark)
        if rc != self.expected_rc:
            return [f"exit {rc} != {self.expected_rc}"]
        return []

    def check(self, tag: str) -> list[str]:
        return oracle.check_pages(self.expected, str(self.out_dir(tag)))

    # -- traced run -----------------------------------------------------

    def traced_op(self, spark, tracer: Tracer, tag: str) -> tuple[list[str], dict]:
        import py_schemax_spark.runner as runner

        _, DataFrameWriter = _classes(spark)
        info: dict = {"driver_rows": 0}

        def summary_wrapper(fn):
            def summarize(*a, **k):
                with tracer.span("verdict.summary"):
                    rows, s = fn(*a, **k)
                info["driver_rows"] += len(rows)
                return rows, s
            return summarize

        def sink_wrapper(fn):
            def parquet(self_, path, *a, **k):
                with tracer.span("sink.write", path=str(path)):
                    return fn(self_, path, *a, **k)
            return parquet

        with contextlib.ExitStack() as st:
            st.enter_context(patched(runner.ValidationRun, "run",
                                     lambda fn: tracer.wrap("runner.run", fn)))
            st.enter_context(patched(runner, "summarize_partitions", summary_wrapper))
            st.enter_context(patched(runner, "drift_verdicts",
                                     lambda fn: tracer.wrap("drift.verdicts", fn)))
            st.enter_context(patched(runner, "schema_conformance",
                                     lambda fn: tracer.wrap("schema.conformance", fn)))
            st.enter_context(patched(DataFrameWriter, "parquet", sink_wrapper))
            with tracer.span("cli.validate") as cli_span:
                errs = self.op(spark, tag)
        info["cli_span"] = cli_span["id"]
        return errs, info

    def layer_metrics_from_op(self, m: dict, tracer: Tracer, info: dict,
                              tag: str, cli_s: float) -> None:
        cli = info["cli_span"]
        m["cli.validate_s"] = cli_s
        m["runner.run_s"] = tracer.within(cli, "runner.run")
        m["cli.sink_gap_s"] = cli_s - m["runner.run_s"]
        m["verdict.summary_s"] = tracer.within(cli, "verdict.summary")
        m["verdict.driver_rows"] = info["driver_rows"]
        m["sink.bytes"], m["sink.files"] = _parquet_size(self.out_dir(tag) / "violations_0")

    def layers(self, spark, tracer: Tracer, group) -> dict[str, float]:
        """Each check class's public function, forced on its own, with the
        SQL metrics of its executed plan."""
        from pyspark.sql import functions as F

        from py_schemax_spark.operators.drift import drift_verdicts, sketch_column
        from py_schemax_spark.operators.extraction_check import extraction_violations
        from py_schemax_spark.operators.referential import (
            cardinality_violations,
            referential_violations,
        )
        from py_schemax_spark.operators.uniqueness import uniqueness_violations
        from py_schemax_spark.operators.violations import row_violations
        from py_schemax_spark.plans.compiler import (
            extraction_constraint,
            referential_literal_constraints,
        )
        from py_schemax_spark.sources.readers import read_table
        from py_schemax_spark.specs.loader import validate_spec_dict

        spec = validate_spec_dict(SPEC).spec
        df = read_table(spark, self.table)
        dims = {"lang_dim": spark.read.parquet(self.dim)}
        part = F.to_date("warc_ts").cast("string")
        lits, _ = referential_literal_constraints(df, spec, dims)
        m: dict[str, float] = {}

        def force(name: str, frame):
            with group(name), tracer.span(name) as sp:
                agg = frame.agg(F.count(F.lit(1)).alias("n"),
                                F.bit_xor(F.xxhash64(*frame.columns)).alias("h"))
                n = agg.collect()[0]["n"]
            m[f"{name}.s"] = sp["end"] - sp["start"]
            return n, plan_metrics(agg)

        _, pm = force("sources.scan", df)
        m["sources.scan_bytes"] = metric_sum(pm, "Scan", "filesSize")
        m["sources.scan_s"] = m.pop("sources.scan.s")
        m["rows.violations"], _ = force("rows", row_violations(df, spec, partition_expr=part))
        force("rows.fused", row_violations(
            df, spec, partition_expr=part,
            extra_constraints=[extraction_constraint(spec), *lits]))
        m["rows.fused_s"] = m.pop("rows.fused.s")
        _, pm = force("extraction", extraction_violations(df, spec, partition_expr=part))
        m["extraction.python_bytes_sent"] = metric_sum(pm, "ArrowEvalPython", "pythonDataSent")
        m["extraction.python_bytes_received"] = metric_sum(
            pm, "ArrowEvalPython", "pythonDataReceived")
        m["extraction.python_s"] = metric_sum(pm, "ArrowEvalPython", "pythonTotalTime")
        force("uniqueness", uniqueness_violations(
            df, spec, order_col="warc_ts", partition_expr=part))
        m["uniqueness.shuffle_bytes"] = group.counters("uniqueness")["shuffle_write_bytes"]
        force("referential", referential_violations(df, spec, dims, partition_expr=part))
        force("cardinality", cardinality_violations(df, spec, dims, partition_expr=part))
        baseline = spark.read.parquet(self.baseline)
        with group("drift"), tracer.span("drift") as sp:
            drift_verdicts(df, spec, baseline)
        m["drift.s"] = sp["end"] - sp["start"]
        _, pm = force("drift.sketch", sketch_column(df, F.length("text").cast("double")))
        m.pop("drift.sketch.s")
        m["drift.python_bytes_sent"] = metric_sum(pm, "MapInPandas", "pythonDataSent")
        return m


class CurateCorpus(Workload):
    """``curate`` over a corpus with planted duplicates and boilerplate."""

    name = "curate_corpus"
    rows = 1_000
    min_ops = 3
    nominal_op_s = 9.5

    def generate(self) -> None:
        self.shape = corpus.CorpusShape(self.rows)
        self.table = str(self.work / "corpus")
        texts = corpus.write_corpus(self.table, self.shape, self.seed).column("text")
        # a budget of ~60% of each language's tokens, so the mix stage
        # really samples
        words = sum(len(t.split()) for t in texts.to_pylist())
        self.budget = int(0.6 * words / len(corpus.LANGS))
        self.expected = self.shape.expected_stage_rows()
        self.mix_rows: int | None = None

    def sizes(self) -> dict:
        return {"docs": self.rows, "table_bytes": _tree_bytes(Path(self.table)),
                "token_budget_per_lang": self.budget}

    def op(self, spark, tag: str) -> list[str]:
        out = self.out_dir(tag)
        rc = run_cli(["curate", self.table, "--out", str(out), "--url-col", "url",
                      "--default-budget", str(self.budget),
                      "--min-line-docs", "10"], spark)
        return [] if rc == 0 else [f"exit {rc} != 0"]

    def check(self, tag: str) -> list[str]:
        out = str(self.out_dir(tag))
        errs = oracle.check_curated(out, self.expected, corpus.BOILERPLATE)
        mix = oracle.stage_rows(out).get("mix")
        if self.mix_rows is None:
            self.mix_rows = mix
        elif mix != self.mix_rows:
            errs.append(f"mix out {mix} differs from the first op's {self.mix_rows}")
        return errs

    def traced_op(self, spark, tracer: Tracer, tag: str) -> tuple[list[str], dict]:
        import py_schemax_spark.curate as curate
        import py_schemax_spark.operators.dedup as dedup

        DataFrame, DataFrameWriter = _classes(spark)
        sc = spark.sparkContext
        info: dict = {"stages": [], "lsh_candidates": 0, "jaccard_pairs": 0}
        state = {"last": None, "k": 0}

        def set_group():
            g = f"{tag}-stage-{state['k']}"
            sc.setJobGroup(g, g)
            return g

        def count_wrapper(fn):
            # run_curation ends each stage with _record(stage, frame):
            # an eager localCheckpoint and a count; the count's return is
            # the stage boundary
            def count(self_):
                caller = sys._getframe(1)
                n = fn(self_)
                if caller.f_code.co_name == "_record" and \
                        caller.f_code.co_filename.endswith("curate.py"):
                    now = tracer.now()
                    stage = caller.f_locals["stage"]
                    tracer.add(f"curate.{stage}", state["last"], now)
                    info["stages"].append((stage, f"{tag}-stage-{state['k']}"))
                    state["last"] = now
                    state["k"] += 1
                    set_group()
                return n
            return count

        def run_wrapper(fn):
            def run_curation(*a, **k):
                state["last"] = tracer.now()
                set_group()
                with tracer.span("curate.run"):
                    return fn(*a, **k)
            return run_curation

        def jaccard_wrapper(fn):
            def ngram_jaccard_pairs(df, candidates, *a, **k):
                info["lsh_candidates"] += candidates.count()
                return fn(df, candidates, *a, **k)
            return ngram_jaccard_pairs

        def clusters_wrapper(fn):
            def dedup_clusters(df, pairs, *a, **k):
                info["jaccard_pairs"] += pairs.count()
                return fn(df, pairs, *a, **k)
            return dedup_clusters

        def sink_wrapper(fn):
            def parquet(self_, path, *a, **k):
                with tracer.span("sink.write", path=str(path)):
                    return fn(self_, path, *a, **k)
            return parquet

        with contextlib.ExitStack() as st:
            st.enter_context(patched(curate, "run_curation", run_wrapper))
            st.enter_context(patched(dedup, "ngram_jaccard_pairs", jaccard_wrapper))
            st.enter_context(patched(dedup, "dedup_clusters", clusters_wrapper))
            st.enter_context(patched(DataFrame, "count", count_wrapper))
            st.enter_context(patched(DataFrameWriter, "parquet", sink_wrapper))
            with tracer.span("cli.curate") as cli_span:
                errs = self.op(spark, tag)
        info["cli_span"] = cli_span["id"]
        info["stage_counters"] = {
            stage: group_counters(spark, g) for stage, g in info["stages"]
        }
        return errs, info

    def layer_metrics_from_op(self, m: dict, tracer: Tracer, info: dict,
                              tag: str, cli_s: float) -> None:
        out = self.out_dir(tag)
        for stage, n in oracle.stage_rows(str(out)).items():
            if f"curate.{stage}_s" in m:
                m[f"curate.{stage}_s"] = tracer.duration(tracer.find(f"curate.{stage}", tag)["id"])
                m[f"curate.{stage}_rows_out"] = n
        m["dedup.lsh_candidates"] = info["lsh_candidates"]
        m["dedup.jaccard_pairs"] = info["jaccard_pairs"]
        m["dedup.verify_yield"] = info["jaccard_pairs"] / max(1, info["lsh_candidates"])
        near = info["stage_counters"].get("near_dedup")
        m["dedup.shuffle_bytes"] = near["shuffle_write_bytes"] if near else 0
        m["sink.bytes"], m["sink.files"] = _parquet_size(out / "curated")


def _parquet_size(path: Path) -> tuple[int, int]:
    files = list(path.rglob("*.parquet"))
    return sum(f.stat().st_size for f in files), len(files)


def _classes(spark) -> tuple[type, type]:
    """The session's concrete DataFrame and writer classes (the classic
    implementation subclasses the ``pyspark.sql`` names)."""
    df = spark.range(1)
    return type(df), type(df.write)


def _tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


WORKLOADS = {w.name: w for w in (ValidatePages, CurateCorpus)}
