"""The benchmark's checkers and layer rollups, at TINY / sf0.001 sizes.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark import datagen as dg
from audio_feature_extraction_spark.oracle import oracle_features
from audio_feature_extraction_spark.plans.pipeline import feature_pipeline
from audio_feature_extraction_spark.sources.checkpoint import CheckpointTable
from perfbench import checks, harness, inputs
from perfbench.layers import SparkProbe, Tracer, _seq, parse_metric, sum_rollups, union_len
from perfbench.workloads import KEYS, manifest_sum, table_facts


@pytest.fixture(scope="module")
def spark():
    s = harness.start_session("perfbench-tests", 2)
    yield s
    harness.stop_session(s)


@pytest.fixture(scope="module")
def tiny(spark):
    seq = spark.createDataFrame(dg.gen_sequences_pdf(dg.TINY), dg.SEQ_SCHEMA)
    ref = spark.createDataFrame(dg.gen_reference_pdf(dg.TINY), dg.REF_SCHEMA)
    return seq, ref


def _flip_first_token(df):
    first = F.col("doc_id") == F.lit("doc00000000")
    bad = F.transform("tokens", lambda t, i: F.when(i == 0, t + 1).otherwise(t))
    return df.withColumn(
        "tokens", F.when(first & (F.col("seq") == 0), bad).otherwise(F.col("tokens"))
    )


def test_token_hash_rejects_a_corrupted_token_array(tiny):
    seq, ref = tiny
    out = feature_pipeline(seq, ref)
    assert checks.check_token_hash(checks.token_hash_agg(seq),
                                   checks.token_hash_agg(out)) == []
    errs = checks.check_token_hash(checks.token_hash_agg(seq),
                                   checks.token_hash_agg(_flip_first_token(out)))
    assert errs and "hash" in errs[0]


def test_oracle_sample_rejects_a_corrupted_token_array(tiny):
    seq, ref = tiny
    docs = ["doc00000000", "doc00000007"]
    pick = F.col("doc_id").isin(docs)
    want = oracle_features(seq.where(pick).toPandas(), ref.where(pick).toPandas())
    out = feature_pipeline(seq, ref).where(pick)
    assert checks.check_features(out.toPandas(), want) == []
    errs = checks.check_features(_flip_first_token(out).toPandas(), want)
    assert any("tokens" in e for e in errs)


def test_generated_flagship_input_matches_the_oracle(spark, tmp_path):
    inp = inputs.write_sequences(str(tmp_path), dg.GenConfig(n_docs=30, seed=5))
    seq, ref = spark.read.parquet(inp.seq_path), spark.read.parquet(inp.ref_path)
    assert seq.count() == inp.rows
    want = oracle_features(seq.toPandas(), ref.toPandas())
    assert checks.check_features(feature_pipeline(seq, ref).toPandas(), want) == []


def test_query_check_rejects_a_wrong_row(spark, tmp_path):
    import duckdb

    import __spark_entry__ as em
    from tools.check_entry import compare

    sf_dir = str(tmp_path / "sf")
    inputs.write_sf_tables(sf_dir, 0.001, seed=3)
    name = "grouped_stats"
    got = em.queries()[name](spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in inputs.SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = con.execute(em.oracle_sql()[name]).fetchdf()
    con.close()
    assert compare(name, got, want) == []
    wrong = got.copy()
    col = wrong.select_dtypes("number").columns[0]
    wrong.loc[0, col] = wrong.loc[0, col] + 1
    assert compare(name, wrong, want)


def test_resume_check_rejects_a_key_written_twice(spark, tiny, tmp_path):
    seq, ref = tiny
    out = feature_pipeline(seq, ref)
    n = out.count()
    half = out.where(F.col("doc_id") < "doc00000020")

    ok = str(tmp_path / "ok")
    t = CheckpointTable(ok)
    t.write_snapshot(half, KEYS, watermark_col="ts")
    t.write_snapshot(t.remaining(out, KEYS), KEYS, watermark_col="ts")
    single = str(tmp_path / "single")
    CheckpointTable(single).write_snapshot(out, KEYS, watermark_col="ts")
    ref_totals = manifest_sum(single)

    f = table_facts(spark, ok)
    assert checks.check_resume(f["verify_rows"], f["rows"], f["distinct_keys"], n,
                               f["manifest"], ref_totals) == []

    # a resume that rewrites everything instead of what remains
    dup = str(tmp_path / "dup")
    t = CheckpointTable(dup)
    t.write_snapshot(half, KEYS, watermark_col="ts")
    t.write_snapshot(out, KEYS, watermark_col="ts")
    f = table_facts(spark, dup)
    errs = checks.check_resume(f["verify_rows"], f["rows"], f["distinct_keys"], n,
                               f["manifest"], ref_totals)
    assert any("written twice" in e for e in errs)


def test_layer_rollup_sums_match_spark_job_totals(spark, tiny):
    seq, ref = tiny
    probe = SparkProbe(spark)
    probe.drain()
    before = {j.jobId() for j in _seq(probe.store.jobsList(None))}
    tr = Tracer(probe)
    spans = []
    for i in range(2):
        with tr.span("pass") as sp:
            with tr.span("plans.build", parent=sp) as b:
                out = feature_pipeline(seq, ref)
            out.write.format("noop").mode("overwrite").save()
        spans.append(tr.collect(sp, build=b)["spark"])
    with tr.span("media") as sp:
        spark.range(0, 64, 1, 4).mapInPandas(
            lambda it: it, schema="id long").write.format("noop").mode("overwrite").save()
    spans.append(tr.collect(sp)["spark"])
    total = sum_rollups(spans)

    probe.drain()
    new = [j for j in _seq(probe.store.jobsList(None)) if j.jobId() not in before]
    assert total["exec.jobs"] == len(new) > 0
    assert total["exec.tasks"] == sum(j.numCompletedTasks() for j in new)
    assert total["queries.build_jobs"] == 0  # building the plan runs no job
    assert spans[0]["python.worker_run_s"] == 0.0  # no Arrow node in the pipeline
    assert spans[2]["python.rows"] == 64
    for r in spans:
        assert 0 <= r["driver.gap_s"] <= r["jvm.executor_run_s"] + 60


def test_parse_metric_and_union():
    assert parse_metric("208 ms") == pytest.approx(0.208)
    assert parse_metric("1,024") == 1024
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n7.6 s (188 ms, 1.5 s, 1.7 s (stage 3.0: task 5))"
    ) == pytest.approx(7.6)
    assert parse_metric("total (min, med, max)\n1.5 KiB (1 B, 2 B, 3 B)") == 1536
    assert union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_len([(0, 2)], 1, 10) == 1


def test_sf_tables_match_the_testdata_schema():
    """Same column names and Arrow types as the shipped testdata tiers."""
    want = {
        "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                     "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                     "l_returnflag", "l_linestatus", "l_shipdate"],
        "embeddings": ["vec_id", "embedding", "label"],
    }
    t = inputs.sf_tables(0.001, seed=1)
    assert sorted(t) == sorted(inputs.SF_TABLES)
    for name, cols in want.items():
        assert t[name].column_names == cols
    assert t["lineitem"].num_rows == 6000 and t["documents"].num_rows == 500
    again = inputs.sf_tables(0.001, seed=1)
    assert all(t[k].equals(again[k]) for k in t)  # same seed, same inputs
    assert not t["events"].equals(inputs.sf_tables(0.001, seed=2)["events"])
    assert isinstance(pd.Timestamp(t["events"]["ts"][0].as_py()), pd.Timestamp)


def test_sf_tables_have_the_measured_shipped_statistics(tmp_path):
    """The generator's fit to the shipped sf0.01 tier (README): a 31-word
    vocabulary, ~5% near-duplicate docs, no exact copies, and embeddings
    whose nearest neighbour shares its label about as often as chance."""
    from perfbench.compare_sf import table_stats

    inputs.write_sf_tables(str(tmp_path), 0.01, seed=1)
    st = table_stats(str(tmp_path))
    assert st["docs"] == 500 and st["vocab"] == 31
    assert st["exact_dup_docs"] == 0
    assert 10 <= st["near_dup_docs"] <= 40
    assert 0.05 <= st["nn_same_label"] <= 0.15


def test_work_dirs_stay_inside_the_checkout():
    for p in (harness.WORK, harness.OUT):
        assert os.path.commonpath([p, harness.ROOT]) == harness.ROOT
    conf = harness.session_conf()
    for k in ("spark.local.dir", "spark.sql.warehouse.dir",
              "spark.driver.extraJavaOptions"):
        assert harness.ROOT in conf[k]
