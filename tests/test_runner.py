"""Pipeline / fail-mode / checkpoint tests — analogues of the
reference's CLI fail-mode matrix (tests/test_cmd_validate.py:332-395)
and the resume hard-point (SURVEY.md §7 (e))."""

import pytest
from pyspark.sql import functions as F

from py_schemax_spark.checkpoint import (
    CheckpointManifest,
    snapshot_id_for,
    spec_fingerprint,
)
from py_schemax_spark.operators.drift import build_baseline
from py_schemax_spark.runner import RunConfig, ValidationRun
from py_schemax_spark.sources.datagen import gen_lang_dim, gen_pages, write_pages
from py_schemax_spark.specs.loader import validate_spec_dict


def _run(spark, df, spec, dims, baseline=None, **cfg):
    run = ValidationRun(
        spark, spec, dims, baseline, RunConfig(order_col="warc_ts", **cfg)
    )
    return run.run(df)


def test_dirty_table_fails_clean_table_passes(
    spark, pages, clean_pages, pages_spec, lang_dim
):
    dims = {"lang_dim": lang_dim}
    dirty = _run(spark, pages, pages_spec, dims)
    assert dirty.exit_code == 1
    assert not dirty.run_summary.valid
    assert dirty.run_summary.total_violations > 0

    clean = _run(spark, clean_pages, pages_spec, dims)
    assert clean.exit_code == 0
    assert clean.run_summary.valid
    assert clean.run_summary.total_violations == 0


def test_fail_never_exits_zero(spark, pages, pages_spec, lang_dim):
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim}, fail_mode="never"
    )
    assert res.exit_code == 0
    assert not res.run_summary.valid  # verdicts still produced


#: a checkpointed run must give the verdict of a plain one
CHECKPOINTED = pytest.mark.parametrize(
    "checkpointed", [False, True], ids=["plain", "checkpointed"]
)


@CHECKPOINTED
def test_fail_fast_short_circuits_classes(
    spark, pages, pages_spec, lang_dim, tmp_path, checkpointed
):
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim}, fail_mode="fast",
        checkpoint_dir=str(tmp_path) if checkpointed else None,
    )
    assert res.exit_code == 1
    # rows class already has violations → later classes never ran
    # (the analogue of stopping at the first failing rule,
    # reference rulesets.py:41-47)
    assert res.checks_run == ("schema", "rows")


def test_check_selection_and_skip(spark, pages, pages_spec, lang_dim):
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim},
        checks=("schema", "rows", "referential"), skip=("referential",),
    )
    assert res.checks_run == ("schema", "rows")
    ids = {
        r["constraint_id"]
        for r in res.violations.select("constraint_id").distinct().collect()
    }
    assert all(not i.endswith(".references") for i in ids)
    assert all(not i.endswith(".unique") for i in ids)


@CHECKPOINTED
def test_schema_gate_stops_everything(
    spark, pages_spec, lang_dim, tmp_path, checkpointed
):
    # table missing a required column → parse-gate semantics
    # (reference rulesets.py:35-39): no rule classes run
    bad = gen_pages(spark, 100).drop("text")
    res = _run(
        spark, bad, pages_spec, {"lang_dim": lang_dim},
        checkpoint_dir=str(tmp_path) if checkpointed else None,
    )
    assert res.schema_errors
    assert res.exit_code == 1
    assert res.checks_run == ("schema",)
    assert res.violations.count() == 0


def test_extraction_check_class(spark, pages, pages_spec, lang_dim):
    """The extraction invariant runs as a first-class check: corrupt
    html rows (and only those) are flagged ``html.extraction``."""
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim},
        checks=("schema", "extraction"),
    )
    assert res.checks_run == ("schema", "extraction")
    rows = res.violations.collect()
    assert rows, "seeded corrupt html must be flagged"
    assert all(r["constraint_id"] == "html.extraction" for r in rows)
    from py_schemax_spark.functions.extraction import extract_text_py

    flagged = {r["url"] for r in rows}
    # flagged set == rows where python reference extraction disagrees
    ref_mismatch = {
        r["url"]
        for r in pages.select("url", "html", "text").collect()
        if (extract_text_py(bytes(r["html"])) if r["html"] is not None else None)
        != r["text"]
    }
    assert flagged == ref_mismatch


def test_per_partition_summary(spark, pages, pages_spec, lang_dim):
    res = _run(spark, pages, pages_spec, {"lang_dim": lang_dim})
    parts = {r["part"] for r in res.summary_rows}
    assert len(parts) >= 2  # day-partitioned
    total = sum(r["row_count"] for r in res.summary_rows)
    assert total == pages.count()


def test_checkpoint_resume_identical_verdicts(spark, pages_spec, lang_dim, tmp_path):
    """Kill-after-k-partitions resume: validate first day only, then
    the full table with the same checkpoint — final verdicts must equal
    a single full run (SURVEY.md §7 hard-point (e))."""
    data_dir = str(tmp_path / "pages")
    write_pages(spark, data_dir, 2000)
    full = spark.read.parquet(data_dir).drop("day")
    dims = {"lang_dim": lang_dim}

    # single uninterrupted run (no checkpoint) = the golden verdict
    golden = _run(spark, full, pages_spec, dims)
    golden_rows = sorted(
        tuple(r)
        for r in golden.violations.select(
            "url", "constraint_id", "observed", "expected"
        ).collect()
    )

    ck = str(tmp_path / "ckpt")
    # partial run: first day only (simulates a killed run that
    # completed one partition)
    first_day = full.filter(F.to_date("warc_ts") == "2024-01-01")
    r1 = ValidationRun(
        spark, pages_spec, dims,
        config=RunConfig(order_col="warc_ts", checkpoint_dir=ck),
    ).run(first_day, source=data_dir)
    assert "2024-01-01" not in r1.skipped_parts

    # resumed run over the whole table: day 1 must be SKIPPED
    r2 = ValidationRun(
        spark, pages_spec, dims,
        config=RunConfig(order_col="warc_ts", checkpoint_dir=ck),
    ).run(full, source=data_dir)
    assert "2024-01-01" in r2.skipped_parts

    resumed_rows = sorted(
        tuple(r)
        for r in r2.violations.select(
            "url", "constraint_id", "observed", "expected"
        ).collect()
    )
    # uniqueness is a GLOBAL check (a dup pair may span partitions) —
    # the checkpointed runner re-runs it over the full table, so resumed
    # verdicts are identical to the uninterrupted run, including unique.
    assert resumed_rows == golden_rows
    assert r2.run_summary.to_dict() == golden.run_summary.to_dict()
    assert r2.exit_code == golden.exit_code
    assert r2.checks_run == golden.checks_run


def _url_table(spark, rows):
    """A (url, warc_ts) table with ``url`` unique, one day partition
    per distinct date."""
    spec = validate_spec_dict({
        "fqn": "t", "key": "url",
        "columns": [
            {"name": "url", "type": "string", "unique": True},
            {"name": "warc_ts", "type": "datetime"},
        ],
    }).spec
    df = spark.createDataFrame(rows, "url string, warc_ts string")
    return spec, df.withColumn("warc_ts", F.to_timestamp("warc_ts"))


def test_checkpoint_partition_validity_covers_global_classes(spark, tmp_path):
    """A partition whose only violation is a cross-partition duplicate
    (``url.unique``, a global class) is invalid in the checkpointed
    verdict exactly as in a plain run."""
    spec, df = _url_table(spark, [
        ("a", "2024-01-01 10:00:00"), ("b", "2024-01-01 11:00:00"),
        ("a", "2024-01-02 10:00:00"),
    ])
    plain = _run(spark, df, spec, {})
    checkpointed = _run(spark, df, spec, {}, checkpoint_dir=str(tmp_path))
    assert plain.run_summary.failed_parts == ["2024-01-02"]
    assert checkpointed.run_summary.to_dict() == plain.run_summary.to_dict()
    assert checkpointed.exit_code == plain.exit_code == 1
    assert checkpointed.checks_run == plain.checks_run


def test_checkpoint_resume_progresses_past_summary_cap(spark, tmp_path):
    """With more partitions than ``max_summary_partitions``, every
    attempt marks new partitions done (the capped worst-first rows are
    the same on each attempt), so a resume finishes with the verdict of
    a plain run."""
    spec, df = _url_table(spark, [
        ("a", "2024-01-01 10:00:00"), ("b", "2024-01-01 11:00:00"),
        ("a", "2024-01-02 10:00:00"), ("c", "2024-01-03 10:00:00"),
    ])
    plain = _run(spark, df, spec, {}, max_summary_partitions=1)
    for _ in range(3):
        res = _run(spark, df, spec, {}, max_summary_partitions=1,
                   checkpoint_dir=str(tmp_path))
    manifest = CheckpointManifest(
        str(tmp_path), snapshot_id_for("<dataframe>"), spec_fingerprint(spec)
    )
    assert manifest.completed_parts == {
        "2024-01-01", "2024-01-02", "2024-01-03"
    }
    assert len(res.skipped_parts) == 2  # the last attempt resumed
    assert res.run_summary.to_dict() == plain.run_summary.to_dict()
    assert res.exit_code == plain.exit_code == 1
    assert res.checks_run == plain.checks_run


def test_registry_order_regardless_of_check_list_order(
    spark, pages, pages_spec, lang_dim
):
    """Classes run in registry order whatever order ``checks`` lists
    them in: under ``fast`` a dirty table stops at ``rows`` even when
    ``uniqueness`` is listed first."""
    res = _run(
        spark, pages, pages_spec, {"lang_dim": lang_dim}, fail_mode="fast",
        checks=("uniqueness", "rows"),
    )
    assert res.exit_code == 1
    assert res.checks_run == ("rows",)


def test_checkpoint_dir_without_format_stamp_is_rejected(tmp_path):
    """A checkpoint dir from before format stamps (or with another
    version) fails loudly instead of resuming under changed semantics."""
    (tmp_path / "manifest.jsonl").write_text(
        '{"snapshot_id": "s", "spec_fingerprint": "f", "part": "p", '
        '"row_count": 1, "violation_count": 0, "valid": true}\n'
    )
    with pytest.raises(ValueError, match="format version"):
        CheckpointManifest(str(tmp_path), "s", "f")
    (tmp_path / "format_version").write_text("1\n")
    with pytest.raises(ValueError, match="format version 1"):
        CheckpointManifest(str(tmp_path), "s", "f")


def test_summary_collect_bounded_at_high_partition_count(spark, pages_spec, lang_dim):
    """A table with many partitions must not flood the driver: at most
    `max_summary_partitions` per-partition rows are collected (worst
    first, so every surfaced row is a FAILING partition here), the
    suppressed count is reported, and the run totals stay exact —
    identical to an unbounded run over the same frame."""
    # 600 distinct days -> 600 summary partitions; every day carries
    # the same deterministic dirt from gen_pages
    df = gen_pages(spark, 3000).withColumn(
        "warc_ts",
        F.expr("timestampadd(DAY, CAST(conv(substr(md5(url),1,4),16,10) "
               "AS INT) % 600, warc_ts)"),
    )
    dims = {"lang_dim": lang_dim}
    bounded = _run(spark, df, pages_spec, dims, max_summary_partitions=50)
    full = _run(spark, df, pages_spec, dims)

    assert len(bounded.summary_rows) == 50
    assert bounded.run_summary.suppressed_parts == (
        full.run_summary.total_partitions - 50
    )
    assert full.run_summary.suppressed_parts == 0
    # worst-first: with invalid partitions present, no valid partition
    # may occupy a surfaced slot
    if bounded.run_summary.invalid_partitions >= 50:
        assert all(not r["valid"] for r in bounded.summary_rows)
    # exact totals regardless of the bound
    for attr in ("total_partitions", "valid_partitions",
                 "invalid_partitions", "total_rows", "total_violations"):
        assert getattr(bounded.run_summary, attr) == getattr(
            full.run_summary, attr
        ), attr
    assert bounded.exit_code == full.exit_code == 1
