"""Plan-quality gates: the physical plans must show predicate pushdown,
column pruning, broadcast joins, and zero row-wise Python UDFs — the
properties that decide 100 TB behavior (north rule: 'no per-row
Python'; SURVEY.md §7.3)."""

from __future__ import annotations

import re

from cogie_spark.queries import QUERIES


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_pushdown_and_pruning(spark):
    df = QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200], plan[:2000]
    # column pruning: the scan must not read columns the query never uses
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schema and "l_shipdate" not in read_schema.group(1)


def test_q04_broadcast_joins(spark):
    df = QUERIES["q04_enrich_join"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]


def test_no_rowwise_python_udfs_in_source():
    """The engine must never register a row-at-a-time Python UDF
    (BASELINE.json: vectorized pandas/Arrow UDFs only). ``F.udf(`` /
    ``@udf`` are banned in the package source."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "cogie_spark"
    offenders = []
    for py in root.rglob("*.py"):
        src = py.read_text()
        if re.search(r"(?<!pandas_)\budf\(", src.replace("pandas_udf(", "")):
            # allow pandas_udf, catch bare udf(
            for m in re.finditer(r"\b(F\.)?udf\(", src):
                offenders.append(f"{py.name}:{src[:m.start()].count(chr(10)) + 1}")
    assert not offenders, offenders


def test_whole_stage_codegen_covers_blocking(spark):
    """The signature/banding path must be JVM-side (WholeStageCodegen
    present, no Python eval nodes)."""
    from cogie_spark.fixtures.codefiles import code_files
    from cogie_spark.operators.blocking import signature_table

    files = code_files(spark, n_groups=5, seed=42)
    sigs = signature_table(files, num_perm=8, mode="fast")
    plan = _plan(sigs)
    # map-side combine of the per-permutation minima before the shuffle
    assert "partial_min" in plan
    # one shuffle for the signature aggregation — formatted output names
    # each node twice (tree header + detail section)
    assert plan.count("Exchange") <= 2, plan
    # the only Python in the whole lineage is the fixture generator
    assert plan.count("ArrowEvalPython") == 0
    assert plan.count("BatchEvalPython") == 0


def test_run_linkage_uses_supplied_signatures(spark):
    """An input that already carries signature_table's ``sig`` column
    links to the same clusters as the same input without it, and a
    ``sig`` of any other type is rejected."""
    import pytest
    from pyspark.sql import functions as F

    from cogie_spark.fixtures.codefiles import code_files
    from cogie_spark.operators.blocking import signature_table
    from cogie_spark.plans.linkage import LinkageConfig, run_linkage

    cfg = LinkageConfig()
    files = code_files(spark, n_groups=10, seed=42).cache()
    sigs = signature_table(
        files, key_cols=cfg.key_cols, num_perm=cfg.num_perm,
        shingle_k=cfg.shingle_k, mode=cfg.signature_mode,
    )
    signed = files.join(sigs.select("file_id", "sig"), "file_id")
    got = []
    for df in (files, signed):
        out = run_linkage(df, cfg)
        got.append({(r["file_id"], r["cluster_id"]) for r in out["clusters"].collect()})
        for d in out["_persisted"] + out["_checkpoints"]:
            d.unpersist()
    assert got[0] == got[1]
    assert len(got[0]) == files.count()
    assert len({c for _, c in got[0]}) < len(got[0]), "fixture formed no clusters"

    with pytest.raises(TypeError, match="array<bigint>"):
        run_linkage(signed.withColumn("sig", F.col("sig").cast("array<int>")), cfg)


def test_run_linkage_skips_pairs_of_resolved_rows(spark):
    """A pair of two ``resolved`` rows forms no edge; resolved rows still
    link to unresolved ones. A non-boolean ``resolved`` is rejected."""
    import pytest
    from pyspark.sql import functions as F

    from cogie_spark.fixtures.codefiles import code_files
    from cogie_spark.plans.linkage import run_linkage

    files = code_files(spark, n_groups=10, seed=42, with_truth=True).cache()
    flagged = files.withColumn("resolved", F.col("member_idx") > 0)
    resolved = {r["file_id"] for r in flagged.filter("resolved").select("file_id").collect()}

    def edges(df):
        out = run_linkage(df.drop("group_id", "member_idx"))
        got = {(r["left_id"], r["right_id"]) for r in out["edges"].collect()}
        for d in out["_persisted"] + out["_checkpoints"]:
            d.unpersist()
        return got

    mixed = edges(flagged)
    assert mixed, "no edge touches an unresolved row"
    assert not any(a in resolved and b in resolved for a, b in mixed)
    assert any(a in resolved and b in resolved for a, b in edges(files))
    assert not edges(files.withColumn("resolved", F.lit(True)))

    with pytest.raises(TypeError, match="boolean"):
        run_linkage(files.withColumn("resolved", F.lit(1)))
