"""Checkpoint/resume semantics + the zero-temporal-leakage audit
(north rule: features at anchor (conv_id, ts) must not read rows with
ts' > ts)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from didtool_spark.data.transcripts import generate_transcripts
from didtool_spark.plans.checkpoint import CheckpointedRun
from didtool_spark.plans.materialize import materialize_features


@pytest.fixture(scope="module")
def tr(spark):
    return generate_transcripts(spark, n_convs=60, avg_turns=12).cache()


def test_checkpoint_resume(spark, tr, tmp_path_factory, monkeypatch):
    out = str(tmp_path_factory.mktemp("ckpt"))
    run = CheckpointedRun(spark, out, n_buckets=8)

    # row metrics must come from the write job itself (observe()), not
    # a read-back of the bucket output — spy on DataFrameReader.parquet
    # and assert no bucket directory is ever re-read during run()
    from pyspark.sql.readwriter import DataFrameReader

    read_paths = []
    orig_parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return orig_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    totals = run.run(tr, materialize_features)
    monkeypatch.setattr(DataFrameReader, "parquet", orig_parquet)
    assert not [p for p in read_paths if "bucket=" in str(p)], (
        "bucket output re-read during run(): metrics should come from "
        "the write job's observe(), one scan per bucket"
    )
    assert totals["buckets_run"] == 8
    assert totals["buckets_skipped"] == 0
    assert totals["rows"] == tr.count()
    assert totals["bytes"] > 0

    # resume: everything already committed -> nothing re-runs
    totals2 = CheckpointedRun(spark, out, n_buckets=8).run(tr, materialize_features)
    assert totals2["buckets_run"] == 0
    assert totals2["buckets_skipped"] == 8

    # simulate a crash: remove two manifest entries -> exactly those re-run
    for p in sorted(glob.glob(os.path.join(out, "_manifest", "bucket-*.json")))[:2]:
        os.remove(p)
    totals3 = CheckpointedRun(spark, out, n_buckets=8).run(tr, materialize_features)
    assert totals3["buckets_run"] == 2
    assert totals3["buckets_skipped"] == 6

    # the stitched result equals the one-shot job
    stitched = run.read_result()
    direct = materialize_features(tr)
    assert stitched.count() == direct.count()
    key = ["conv_id", "turn_idx"]
    a = stitched.select(*key, "session_id", "text_len_sum_last5").toPandas().sort_values(key).reset_index(drop=True)
    b = direct.select(*key, "session_id", "text_len_sum_last5").toPandas().sort_values(key).reset_index(drop=True)
    assert a.equals(b)

    # manifest carries lineage metrics
    man = run.manifest()
    assert len(man) == 8
    assert all(m["rows"] >= 0 and m["bytes"] > 0 and "finished_at" in m for m in man)


def test_zero_temporal_leakage(spark, tr):
    """Perturb every row's text/role/tool/ts in the FUTURE of an anchor
    cut; features at-or-before the cut must be bit-identical."""
    cut_expr = F.col("turn_idx") <= 5

    base = materialize_features(tr)
    # corrupt all turns after the cut (values AND timestamps move)
    corrupted = tr.withColumn(
        "text",
        F.when(~cut_expr, F.concat(F.lit("CORRUPTED "), F.col("text"))).otherwise(
            F.col("text")
        ),
    ).withColumn(
        "tool", F.when(~cut_expr, F.lit("poison")).otherwise(F.col("tool"))
    ).withColumn(
        "ts",
        F.when(~cut_expr, F.col("ts") + F.expr("INTERVAL 10 SECONDS")).otherwise(
            F.col("ts")
        ),
    )
    pert = materialize_features(corrupted)

    key = ["conv_id", "turn_idx"]
    feat_cols = [
        c for c in base.columns
        if c not in {"conv_id", "turn_idx", "role", "tool", "ts"}
    ]
    a = (
        base.where(cut_expr).select(*key, *feat_cols)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    b = (
        pert.where(cut_expr).select(*key, *feat_cols)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    assert a.equals(b), "temporal leakage: features at/before cut changed"


def test_audit_library_flags_leaky_features(spark, tr):
    """audit_no_leakage passes the leakage-free pipeline and catches a
    deliberately leaky feature (lead = reads the future)."""
    from didtool_spark.operators.temporal import with_lags
    from didtool_spark.plans.audit import audit_no_leakage

    cut = F.col("turn_idx") <= 4

    clean, offenders = audit_no_leakage(tr, materialize_features, cut)
    assert clean, offenders

    def leaky(df):
        out = materialize_features(df)
        lead = with_lags(
            df.select("conv_id", "turn_idx", "ts", F.length("text").alias("L")),
            ["L"], lags=[], leads=[1],
        ).drop("ts", "L")
        return lead.join(out, ["conv_id", "turn_idx"], "inner")

    clean2, offenders2 = audit_no_leakage(tr, leaky, cut)
    assert not clean2
    assert "L_lead1" in offenders2


def test_checkpoint_staged_scan_prunes(spark, tr, tmp_path_factory):
    """Per-bucket reads hit only their own staged partition: the parquet
    scan carries a PartitionFilters entry on __bucket instead of
    filtering a computed column over the full source (B full scans)."""
    from io import StringIO
    import contextlib

    out = str(tmp_path_factory.mktemp("ckpt_prune"))
    run = CheckpointedRun(spark, out, n_buckets=4)
    src = run._stage_source(tr, "fp-1")
    part = src.where(F.col("__bucket") == 2)
    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        part.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "__bucket" in p.split("PartitionFilters")[1].splitlines()[0], p[:2500]

    # staging is itself resumable: same fingerprint -> no rewrite
    marker = os.path.join(out, "_staged", "_STAGED.json")
    mtime = os.path.getmtime(marker)
    run._stage_source(tr, "fp-1")
    assert os.path.getmtime(marker) == mtime
    # changed input fingerprint -> restaged
    run._stage_source(tr, "fp-2")
    assert os.path.getmtime(marker) != mtime


def _ident(df):
    return df


def test_checkpoint_resume_with_new_input_reruns(spark, tmp_path_factory):
    """A manifest entry counts as done only for the input fingerprint
    that wrote it: a run over a new input in the same directory must
    re-run every bucket, not return the old input's rows."""
    out = str(tmp_path_factory.mktemp("ckpt_fp"))
    a = generate_transcripts(spark, n_convs=20, avg_turns=6, seed=1)
    b = generate_transcripts(spark, n_convs=30, avg_turns=6, seed=2)
    CheckpointedRun(spark, out, n_buckets=2).run(a, _ident, input_fingerprint="A")

    run = CheckpointedRun(spark, out, n_buckets=2)
    totals = run.run(b, _ident, input_fingerprint="B")
    assert totals["buckets_run"] == 2 and totals["buckets_skipped"] == 0
    assert totals["rows"] == b.count()
    assert run.read_result().count() == b.count()

    # a run over input A that dies after one bucket leaves a manifest
    # mixing A and B: read_result refuses it instead of stitching both
    calls = []

    def dies_after_one(df):
        calls.append(1)
        if len(calls) > 1:
            raise RuntimeError("crash")
        return df

    with pytest.raises(RuntimeError):
        run.run(a, dies_after_one, input_fingerprint="A")
    with pytest.raises(ValueError, match="fingerprint"):
        run.read_result()


def test_checkpoint_n_buckets_change_reruns(spark, tr, tmp_path_factory):
    """__bucket is computed with n_buckets: a staged copy or a manifest
    entry written under another bucket count must not be reused, even
    with the same input fingerprint."""
    n = tr.count()
    out = str(tmp_path_factory.mktemp("ckpt_nb"))
    CheckpointedRun(spark, out, n_buckets=4)._stage_source(tr, "fp")
    run = CheckpointedRun(spark, out, n_buckets=2)
    assert run.run(tr, _ident, input_fingerprint="fp")["rows"] == n

    out = str(tmp_path_factory.mktemp("ckpt_nb_manifest"))
    CheckpointedRun(spark, out, n_buckets=4).run(tr, _ident, input_fingerprint="fp")
    run = CheckpointedRun(spark, out, n_buckets=2)
    totals = run.run(tr, _ident, input_fingerprint="fp")
    assert totals["buckets_run"] == 2 and totals["buckets_skipped"] == 0
    assert totals["rows"] == n
    assert run.read_result().count() == n
