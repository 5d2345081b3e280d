"""Rule pipeline: registry of constraint classes, short-circuit, fail
modes — the analogue of RuleSetBasedValidation (reference
py_schemax/rulesets.py:17-49) and the fail-mode control flow
(config.py:18-21, output.py:46-65).

Reference semantics → data-level semantics:

- registry order + per-file short-circuit (rulesets.py:41-47):
  constraint CLASSES (the ``CHECKS`` table) run in registry order. The
  schema class is the parse gate (rulesets.py:35-39): a spec that does
  not structurally match the table stops the run. ``fail_mode="fast"``
  stops after the first class that reports violations (remaining Spark
  jobs are simply not submitted — the data-level analogue of stopping
  at the first failing rule).
- fail modes (config.py:137-150, output.py:55-65): ``after`` = run
  everything, exit 1 if any violation; ``fast`` = exit 1 at first
  failing class; ``never`` = always exit 0 (verdicts still produced).
- rule selection (cli.py:241-250): ``checks`` whitelists classes,
  ``skip`` subtracts, mirroring --rule-apply / --rule-ignore.

Checkpoint/resume: with a ``checkpoint_dir`` the same registry loop runs
the LOCAL classes only over partitions the manifest does not list as
done, persists their violations per partition, and runs the GLOBAL
classes over the full table. The verdict is then assembled as in a plain
run — one partition summary over the full table, from the persisted
local violations plus the global ones — so a resumed run gives the
verdict of an uninterrupted one. Done partitions skip the local classes'
work only: the summary's row counts and the global classes still scan
the full table. A run the gate or ``fast`` stopped marks nothing done,
so under ``fast`` done partitions are clean ones, unless an earlier
attempt used another fail mode: a local class then short-circuits on
the remaining partitions' violations only.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from py_schemax_spark.checkpoint import (
    CheckpointManifest,
    snapshot_id_for,
    spec_fingerprint,
)
from py_schemax_spark.operators.drift import drift_verdicts, drift_violations
from py_schemax_spark.operators.extraction_check import extraction_violations
from py_schemax_spark.operators.referential import (
    cardinality_violations,
    referential_violations,
)
from py_schemax_spark.operators.stats import column_stats
from py_schemax_spark.operators.uniqueness import uniqueness_violations
from py_schemax_spark.operators.violations import row_violations
from py_schemax_spark.plans.compiler import (
    extraction_constraint,
    referential_literal_constraints,
    schema_conformance,
)
from py_schemax_spark.specs.model import TableSpec
from py_schemax_spark.verdict import (
    RunSummary,
    merge_violations,
    partition_summary,
    summarize_partitions,
)


@dataclass(frozen=True)
class Check:
    """One constraint class of the registry.

    - ``scope``: ``local`` classes are a pure function of one partition's
      rows, so a checkpointed run skips them on done partitions;
      ``global`` classes (a duplicate pair or a dim key's row count
      spans partitions, drift is a whole-table distribution) run over
      the full table on every attempt.
    - ``plan(run, df, part, out)`` builds the class's violations lazily:
      no job runs, and `explain_plans` prints it. None for classes
      decided on the driver.
    - ``settle(run, df, v, out)`` is the driver-side step a run adds
      after the plan. It records schema errors, drift verdicts or a
      table-level failure on ``out`` and returns the violations the
      verdict uses.
    - ``fuse(run, df)`` returns the constraints that fold the class into
      the rows projection, or None when it cannot fuse.
    - ``applies(run)`` is False when the class is a no-op for this spec
      and run.
    """

    name: str
    scope: str
    plan: Optional[Callable] = None
    settle: Optional[Callable] = None
    fuse: Optional[Callable] = None
    applies: Callable = lambda run: True


@dataclass
class _Pass:
    """What one pass over the registry collects besides violations."""

    fused: list = field(default_factory=list)  # constraints folded into rows
    schema_errors: list = field(default_factory=list)
    drift: list = field(default_factory=list)
    persisted: list = field(default_factory=list)
    # a class whose rows sit at the ``__table__`` pseudo-partition
    # failed: partition_summary's per-partition join drops those rows,
    # so the verdict tracks them here
    table_failed: bool = False


def _rows(run, df, part, out):
    return row_violations(
        df, run.spec, partition_expr=part, extra_constraints=out.fused
    )


def _extraction(run, df, part, out):
    return extraction_violations(df, run.spec, partition_expr=part)


def _uniqueness(run, df, part, out):
    return uniqueness_violations(
        df, run.spec, order_col=run.config.order_col, partition_expr=part
    )


def _referential(run, df, part, out):
    return referential_violations(
        df, run.spec, run.dims, partition_expr=part,
        max_broadcast_rows=run.config.dim_broadcast_limit,
    )


def _cardinality(run, df, part, out):
    return cardinality_violations(df, run.spec, run.dims, partition_expr=part)


def _fuse_referential(run, df):
    # big dims (if any) still take the anti-join path, and the operator
    # re-derives its own column list, so fused literal dims would
    # double-report — fuse only when ALL referenced dims are literal-sized
    lits, remaining = referential_literal_constraints(df, run.spec, run.dims)
    return None if remaining else lits


def _settle_schema(run, df, v, out):
    out.schema_errors = schema_conformance(df, run.spec)


def _settle_cardinality(run, df, v, out):
    # persisted BEFORE the probe: count() (not isEmpty) materializes every
    # partition into the cache in one pass, so the summary (and any later
    # violations write) reads cached blocks instead of re-running the
    # fact aggregation + dim join (ADVICE r04)
    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    out.persisted.append(v)
    out.table_failed |= v.count() > 0
    return v


def _settle_drift(run, df, v, out):
    out.drift = drift_verdicts(df, run.spec, run.baseline)
    out.table_failed |= any(d["drifted"] for d in out.drift)
    return drift_violations(
        run.spark, out.drift, key_name=run.spec.key_column
    ).withColumn("part", F.lit("__table__"))


#: registry order — the analogue of VALIDATORS_IN_ORDER
#: (reference rulesets.py:17-21), extended with the data-level classes
CHECKS = (
    Check("schema", "local", settle=_settle_schema),
    Check("rows", "local", plan=_rows),
    Check("extraction", "local", plan=_extraction,
          fuse=lambda run, df: [extraction_constraint(run.spec)],
          applies=lambda run: run.spec.extraction is not None),
    Check("uniqueness", "global", plan=_uniqueness),
    Check("referential", "local", plan=_referential, fuse=_fuse_referential,
          applies=lambda run: any(
              cs.references is not None for cs in run.spec.columns)),
    Check("cardinality", "global", plan=_cardinality,
          settle=_settle_cardinality,
          applies=lambda run: any(
              cs.references is not None
              and (cs.references.min_rows is not None
                   or cs.references.max_rows is not None)
              for cs in run.spec.columns)),
    Check("drift", "global", settle=_settle_drift,
          applies=lambda run: run.baseline is not None),
)
#: DEFAULT_CHECKS mirrors the default rule set (rulesets.py:24)
ALL_CHECKS = DEFAULT_CHECKS = tuple(c.name for c in CHECKS)

EXIT_OK = 0
EXIT_INVALID = 1


@dataclass
class RunConfig:
    checks: tuple[str, ...] = DEFAULT_CHECKS
    skip: tuple[str, ...] = ()
    fail_mode: str = "after"  # after | fast | never  (C1)
    order_col: Optional[str] = None  # duplicate-attribution order (V3)
    checkpoint_dir: Optional[str] = None
    salt: int = 1  # salted stats pass
    # referential dims above this many rows take the distinct-keys
    # strategy instead of broadcast (None = always broadcast)
    dim_broadcast_limit: Optional[int] = None
    # per-partition summary rows materialized on the driver are capped
    # at this many (worst partitions first); run totals stay exact via
    # a single-row aggregate (verdict.summarize_partitions)
    max_summary_partitions: int = 10_000

    def __post_init__(self) -> None:
        # unknown check names are a config error, not a silent no-op —
        # the analogue of the reference's click.Choice rejection on
        # --rule-apply/--rule-ignore (reference cli.py:142-157)
        known = set(ALL_CHECKS)
        bad = [c for c in (*self.checks, *self.skip) if c not in known]
        if bad:
            raise ValueError(
                f"unknown check class(es) {bad}; valid: {list(ALL_CHECKS)}"
            )

    @property
    def enabled(self) -> tuple[str, ...]:
        return tuple(c for c in self.checks if c not in set(self.skip))


@dataclass
class RunResult:
    violations: DataFrame
    summary_rows: list
    run_summary: RunSummary
    exit_code: int
    stats: Optional[DataFrame] = None
    drift: list = field(default_factory=list)
    schema_errors: list = field(default_factory=list)
    skipped_parts: list = field(default_factory=list)
    checks_run: tuple = ()
    # DataFrames run() persisted into the session cache (today: the
    # cardinality violations). A long-lived session validating many
    # tables must release them after its terminal action on the
    # result, or cache blocks accumulate for the session lifetime.
    persisted: tuple = ()

    def release(self) -> None:
        """Unpersist every cached intermediate this run pinned.
        After release, re-materializing `violations` recomputes the
        released plans (correct, just uncached)."""
        for df in self.persisted:
            try:
                df.unpersist()
            except Exception:
                pass


class ValidationRun:
    """One compiled run over one table — constraints compiled once,
    reused across every partition (the analogue of the one-time model
    compilation at reference validator.py:99-101 / rulesets.py:32)."""

    def __init__(
        self,
        spark: SparkSession,
        spec: TableSpec,
        dims: Optional[dict[str, DataFrame]] = None,
        baseline: Optional[DataFrame] = None,
        config: Optional[RunConfig] = None,
    ):
        self.spark = spark
        self.spec = spec
        self.dims = dims or {}
        self.baseline = baseline
        self.config = config or RunConfig()

    # -- helpers -----------------------------------------------------------

    def _partition_expr(self, df: DataFrame):
        if "warc_ts" in df.columns:
            return F.to_date("warc_ts").cast("string")
        return F.lit("all")

    def _empty_violations(self, df: DataFrame, key: str) -> DataFrame:
        return (
            df.select(F.col(key).cast("string").alias(key))
            .limit(0)
            .select(
                key,
                F.lit("").alias("constraint_id"),
                F.lit("").alias("observed"),
                F.lit("").alias("expected"),
                F.lit("").alias("part"),
            )
        )

    def _checks(self) -> list[Check]:
        enabled = self.config.enabled
        return [c for c in CHECKS if c.name in enabled and c.applies(self)]

    def _fuse(self, df: DataFrame, checks: list[Check], out: _Pass) -> set:
        """Fold the fusable classes into the rows projection (one scan
        instead of three) and return their names. fail_mode="fast"
        needs per-class short-circuit order, so nothing fuses there."""
        fused: set[str] = set()
        if self.config.fail_mode == "fast" or not any(
            c.plan is _rows for c in checks
        ):
            return fused
        for c in checks:
            constraints = c.fuse(self, df) if c.fuse else None
            if constraints is not None:
                out.fused += constraints
                fused.add(c.name)
        return fused

    # -- main entry ----------------------------------------------------------

    def run(self, df: DataFrame, source: str = "<dataframe>") -> RunResult:
        cfg = self.config
        part = self._partition_expr(df)
        manifest, done, local_df = None, set(), df
        if cfg.checkpoint_dir:
            manifest = CheckpointManifest(
                cfg.checkpoint_dir,
                snapshot_id=snapshot_id_for(source),
                spec_fingerprint=spec_fingerprint(self.spec),
            )
            done = manifest.completed_parts
            if done:
                local_df = df.filter(~part.isin(sorted(done)))

        out = _Pass()
        checks = self._checks()
        fused = self._fuse(df, checks, out)
        parts: list[tuple[str, DataFrame]] = []
        checks_run: list[str] = []
        stopped = False
        for c in checks:
            checks_run.append(c.name)
            if c.name in fused:
                continue  # ran inside the rows projection
            cdf = local_df if c.scope == "local" else df
            v = c.plan(self, cdf, part, out) if c.plan else None
            if c.settle:
                v = c.settle(self, cdf, v, out)
            if v is not None:
                parts.append((c.scope, v))
            # the schema gate stops every mode; "fast" stops at the first
            # failing class (reference rulesets.py:41-47)
            if out.schema_errors or (
                cfg.fail_mode == "fast"
                and (out.table_failed if c.settle else not v.isEmpty())
            ):
                stopped = True
                break

        if manifest:
            fresh = [v for scope, v in parts if scope == "local"]
            if fresh:
                # dynamic partition OVERWRITE, not append: a run that
                # crashed after writing a partition but before mark_done
                # re-runs that partition on resume — append would then
                # duplicate its rows, dynamic overwrite replaces exactly
                # the re-run partitions and leaves completed ones untouched
                merge_violations(*fresh).write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("part").parquet(manifest.violations_dir)
            parts = [p for p in parts if p[0] != "local"]
            if any(Path(manifest.violations_dir).glob("part=*")):
                # the partition column reads back with an inferred type
                persisted = self.spark.read.option(
                    "basePath", manifest.violations_dir
                ).parquet(manifest.violations_dir).withColumn(
                    "part", F.col("part").cast("string")
                )
                parts.insert(0, ("local", persisted))

        violations = (
            merge_violations(*(v for _, v in parts))
            if parts
            else self._empty_violations(df, self.spec.key_column)
        )
        psum = partition_summary(df, violations, part)
        summary, run_summary = summarize_partitions(
            psum, max_rows=cfg.max_summary_partitions
        )
        if manifest and not stopped:
            # per-partition lineage of the full verdict, at most
            # max_summary_partitions new records per attempt; the rest
            # re-run (and overwrite their violations) next attempt
            lineage = summary
            if done and run_summary.suppressed_parts:
                # the capped worst-first rows repeat on every attempt
                # and may all be done: progress on not-yet-done ones
                lineage = (
                    psum.filter(~F.col("part").isin(sorted(done)))
                    .limit(cfg.max_summary_partitions)
                    .collect()
                )
            manifest.mark_done_many({
                str(r["part"]): {
                    "row_count": r["row_count"],
                    "violation_count": r["violation_count"],
                    "valid": bool(r["valid"]),
                }
                for r in lineage
                if str(r["part"]) not in done
            })
        invalid = (
            not run_summary.valid or bool(out.schema_errors)
            or out.table_failed
        )
        return RunResult(
            violations=violations,
            summary_rows=summary,
            run_summary=run_summary,
            exit_code=(
                EXIT_OK
                if cfg.fail_mode == "never" or not invalid
                else EXIT_INVALID
            ),
            drift=out.drift,
            schema_errors=out.schema_errors,
            skipped_parts=sorted(done),
            checks_run=tuple(checks_run),
            persisted=tuple(out.persisted),
        )

    def explain_plans(self, df: DataFrame) -> dict[str, str]:
        """Physical plan per enabled constraint class, WITHOUT running
        any jobs — the plan-first workflow (`validate --explain`):
        inspect where the exchanges, broadcasts, and pushed filters
        land before paying for a 100-TB pass. Classes decided on the
        driver (schema, drift) and classes that are no-ops for this
        spec (no extraction template, no references, no cardinality
        bounds) are omitted."""
        part = self._partition_expr(df)
        return {
            c.name: c.plan(self, df, part, _Pass())
            ._jdf.queryExecution().executedPlan().toString()
            for c in self._checks()
            if c.plan
        }

    def stats(self, df: DataFrame, exact_distinct: bool = False) -> DataFrame:
        return column_stats(
            df, self.spec, exact_distinct=exact_distinct, salt=self.config.salt
        )
