"""End-to-end pipeline tests: the reference's entry-point flows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.operators import cellstore as CS
from applications_analytics_midas_hbase_metrics_spark.plans import pipelines as P

D = "\x00"


@pytest.fixture(scope="module")
def mupr_batch(tmp_path_factory):
    d = tmp_path_factory.mktemp("batch")
    rows = [
        D.join(["101", "SUB_A", "1", "5", "1.5", "7", "3.25", "AC", "PF", "MV", "t_volt"]),
        D.join(["101", "SUB_A", "1", "6", "2.5", "8", "4.5", "AC", "PF", "MV", "t_volt"]),
        D.join(["102", "SUB_B", "2", "1", "2.0", "9", "0.125", "IC", "FF", "MK", "t_amp"]),
    ]
    (d / "f1.mupr").write_text("\n".join(rows))
    (d / "trig.csv").write_text(
        "File_Name,Lot,Lato_Start_WW,Lots_seq_key\nf1.mupr,LOT_A,202233,9001\n"
    )
    return d


def test_ingest_mupr_roundtrip(spark, mupr_batch, tmp_path):
    store = str(tmp_path / "store")
    cells = P.ingest_mupr_to_store(
        spark, str(mupr_batch / "f1.mupr"), str(mupr_batch / "trig.csv"), store,
        mode="overwrite",
    )
    # two units x one test name each -> 2 cells; unit 101 has 2 values
    assert cells.count() == 2
    back = CS.read_cells(spark, store)
    assert back.count() == 2
    r101 = back.filter(F.col("row_key").contains("101")).first()
    assert r101.col_name == "t_volt" and len(r101.values) == 2
    assert r101.row_key.split(D) == ["LOT_A", "202233", "9001", "101"]
    # value blob layout must match the reference byte-for-byte
    # (Utils.scala:203-211): Measurement_Value, Substructure_ID,
    # Test_Result_Order_Num, Sub_Session_Seq_Num, Active, Pass_Fail,
    # Mask, Test_Result_Array_Seq_Num
    assert sorted(r101.values)[0].split(D) == [
        "3.25", "SUB_A", "5", "1", "AC", "PF", "MV", "1.5"
    ]


def test_validate_load_clean_and_corrupted(spark, mupr_batch, tmp_path):
    store = str(tmp_path / "store2")
    P.ingest_mupr_to_store(
        spark, str(mupr_batch / "f1.mupr"), str(mupr_batch / "trig.csv"), store,
        mode="overwrite",
    )
    summary = {
        r.verdict: r.n
        for r in P.validate_load(
            spark, str(mupr_batch / "f1.mupr"), str(mupr_batch / "trig.csv"), store
        ).collect()
    }
    assert summary == {"match": 2}

    # corrupt the store: drop one cell
    cells = CS.read_cells(spark, store)
    CS.write_cells(
        cells.filter(~F.col("row_key").contains("102")), store + "_bad",
        mode="overwrite",
    )
    summary_bad = {
        r.verdict: r.n
        for r in P.validate_load(
            spark, str(mupr_batch / "f1.mupr"), str(mupr_batch / "trig.csv"),
            store + "_bad",
        ).collect()
    }
    assert summary_bad == {"match": 1, "missing_in_table": 1}


def test_mucr_ingest(spark, tmp_path):
    d = tmp_path
    (d / "f1.mucr").write_text(
        D.join(["201", "1", "prog_x", "P", "SUB_A", "2", "CNT1", "3", "11", "C2", "4", "12"])
    )
    (d / "trig.csv").write_text(
        "File_Name,Lot,Lato_Start_WW,Lots_seq_key\nf1.mucr,LOT_B,202234,9002\n"
    )
    store = str(d / "mucr_store")
    cells = P.ingest_mucr_to_store(
        spark, str(d / "f1.mucr"), str(d / "trig.csv"), store, mode="overwrite"
    )
    rows = cells.collect()
    got = {r.col_name for r in rows}
    assert got == {"P4CNT1", "P2C2"}
    # MUCR value blob layout (Utils.scala:551): Unit_Counter_Seq_Num,
    # Substructure_ID, Repeating_Counter_Occurrences
    by_name = {r.col_name: r.values for r in rows}
    assert by_name["P4CNT1"] == ["11" + D + "SUB_A" + D + "3"]
    assert by_name["P2C2"] == ["12" + D + "SUB_A" + D + "4"]


def test_job_status_report(spark, tmp_path):
    log = tmp_path / "submit.log"
    log.write_text(
        "the spark submit job is successful for 12345678 with code 0\n"
        "noise line\n"
    )
    status_cells = spark.createDataFrame(
        [("IF12345678", "LOADSTATUS", "OK"), ("IF99999999", "LOADSTATUS", "OLD")],
        ["row_key", "col_name", "value"],
    )
    out = P.job_status_report(spark, str(log), status_cells).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.job_seq_key, r.job_status, r.value) == ("12345678", "successful", "OK")


def test_curation_pipeline_full_pin_modes(spark, monkeypatch):
    """The 10-stage pretraining build must produce an IDENTICAL
    manifest whichever flavor its pins take: the size-chosen default
    (every site a small checkpoint at smoke SF) and the forced all-disk
    mode (SMALL_FRAME_BYTES = 0: every eager pin a DISK_ONLY
    checkpoint) — pins are semantics-neutral by contract, and this is
    the contract's test."""
    from applications_analytics_midas_hbase_metrics_spark.operators import (
        pinning,
    )
    from applications_analytics_midas_hbase_metrics_spark.plans import (
        queries_curation as QC,
    )
    from tests.conftest import SF_SMOKE

    with pinning.scope() as default:
        base = sorted(
            tuple(r)
            for r in QC.q_curation_pipeline_full(spark, SF_SMOKE).collect()
        )
        flavors = {p.flavor for p in default.pins}
    assert "checkpoint" in flavors, flavors

    monkeypatch.setattr(pinning, "SMALL_FRAME_BYTES", 0)
    with pinning.scope() as disk:
        alt = sorted(
            tuple(r)
            for r in QC.q_curation_pipeline_full(spark, SF_SMOKE).collect()
        )
        sites = [p for p in disk.pins if p.label.startswith("curation:")]
    assert len(sites) >= 8 and all(p.disk for p in sites), sites
    assert base == alt


def test_curation_pipeline_full_footprint_disk_mode(spark, monkeypatch):
    """The all-disk mode (SMALL_FRAME_BYTES = 0) engages the
    stage-incremental drop accounting (eager drop-frame pins, early
    predecessor releases) over plan-truncating DISK_ONLY checkpoints.
    The manifest must equal the default path's, every accounted drop
    stage must appear in the scope's pin records, and because a
    released checkpoint cannot recompute, a mis-scheduled early release
    FAILS the query outright — so this passing IS the consumers-first
    ordering proof.  Closing the scope must then leave none of the
    pipeline's RDDs persistent."""
    from applications_analytics_midas_hbase_metrics_spark.operators import (
        pinning,
    )
    from applications_analytics_midas_hbase_metrics_spark.plans import (
        queries_curation as QC,
    )
    from tests.conftest import SF_SMOKE, persistent_rdd_ids

    base = sorted(
        tuple(r)
        for r in QC.q_curation_pipeline_full(spark, SF_SMOKE).collect()
    )

    monkeypatch.setattr(pinning, "SMALL_FRAME_BYTES", 0)
    before = persistent_rdd_ids(spark)
    with pinning.scope() as pipeline:
        alt = sorted(
            tuple(r)
            for r in QC.q_curation_pipeline_full(spark, SF_SMOKE).collect()
        )
        labels = {p.label for p in pipeline.pins}
        released = [p.label for p in pipeline.pins if not p.live]
    assert base == alt
    assert labels >= {
        f"curation:drop:{s}"
        for s in (
            "quality", "exact_dup", "near_dup",
            "decontaminated", "domain_cap", "mixture",
        )
    }, labels
    assert "curation:exact_dedup" in released, released
    assert persistent_rdd_ids(spark) - before == set()


def test_curation_pipeline_full_manifest_anti_join_shape(spark):
    """The drop-accounting branches must stay LEFT ANTI joins of
    consecutive pinned frames (never a full-materialize-and-subtract),
    on the full executed-plan string at smoke SF (tools/plan_audit.py
    checks the same fragment at sf0.01)."""
    from applications_analytics_midas_hbase_metrics_spark.plans import (
        queries_curation as QC,
    )
    from tests.conftest import SF_SMOKE

    df = QC.q_curation_pipeline_full(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one anti join per accounted drop stage: quality, exact_dup,
    # near_dup, decontaminated, domain_cap, mixture
    assert plan.count("LeftAnti") >= 6, plan.count("LeftAnti")
    # ... and they must ride BROADCAST, never sort-merge: the drop
    # frames join tiny id sets against stage frames, and a regression
    # to SortMergeJoin LeftAnti would add a full-width sort + exchange
    # per drop branch (ADVICE r15)
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all(
        "BroadcastHashJoin" in ln for ln in anti_lines
    ), anti_lines


def test_footprint_pin_policy(spark, monkeypatch):
    """operators/pinning.py's flavor contract: ``eager`` and the
    plan-size estimate pick one of four flavors, each returns the same
    rows, and :func:`pinning.release` drops the pin from the block
    manager at once — a checkpoint through its RDD handle, since
    ``DataFrame.unpersist`` is a no-op on a checkpointed frame."""
    from pyspark import StorageLevel

    from applications_analytics_midas_hbase_metrics_spark.operators import (
        pinning,
    )
    from tests.conftest import persistent_rdd_ids

    df = spark.range(1000).selectExpr("id", "id * 2 as v")
    assert pinning.plan_size_estimate(df) is not None
    want = sorted(tuple(r) for r in df.collect())
    cases = [
        (1 << 30, True, "checkpoint", None),
        (1, True, "checkpoint_disk", None),
        (1 << 30, False, "persist", StorageLevel.MEMORY_AND_DISK_DESER),
        (1, False, "persist_disk", StorageLevel.DISK_ONLY),
    ]
    for threshold, eager, flavor, level in cases:
        monkeypatch.setattr(pinning, "SMALL_FRAME_BYTES", threshold)
        before = persistent_rdd_ids(spark)
        with pinning.scope() as s:
            out = pinning.pin(df.selectExpr("id", "v"), "unit", eager=eager)
            assert [p.flavor for p in s.pins] == [flavor]
            if level is not None:
                assert out.storageLevel == level
            assert sorted(tuple(r) for r in out.collect()) == want
            assert persistent_rdd_ids(spark) - before, flavor
            assert pinning.is_disk(out) == flavor.endswith("_disk")
            pinning.release(out)
            assert persistent_rdd_ids(spark) - before == set(), flavor
            assert not pinning.is_disk(out)
            assert [p.live for p in s.pins] == [False]
        if not eager:
            # a released lazy pin keeps its lineage: it still evaluates
            assert sorted(tuple(r) for r in out.collect()) == want


def test_gopher_quality_pipeline_stages(spark):
    """The composed round-12 quality pipeline (NFC -> C4 -> line
    battery -> n-gram battery -> quality rules): every document gets
    exactly one row, all five stage classes are live at smoke SF (a
    degenerate class would make the differential oracle vacuous for
    it), the NFC flag fires exactly on the %4 injection (the corpus is
    ASCII salad), and the plan carries no per-key window sort — every
    signal is a partial-aggregating groupBy."""
    from applications_analytics_midas_hbase_metrics_spark.plans import (
        queries_curation as QC,
    )
    from tests.conftest import SF_SMOKE

    df = QC.q_gopher_quality_pipeline(spark, SF_SMOKE)
    out = df.collect()
    n_docs = spark.read.parquet(SF_SMOKE + "/documents.parquet").count()
    assert len(out) == n_docs
    assert {r.stage for r in out} == {
        "c4",
        "line_repetition",
        "ngram_repetition",
        "quality_rules",
        "kept",
    }
    for r in out:
        assert r.nfc_changed == (1 if r.id % 4 == 0 else 0), r
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_gopher_quality_pipeline_pin_modes(spark, monkeypatch):
    """Identical manifest under the default deferred pin (a lazy
    in-memory persist at smoke SF) and the forced DISK_ONLY persist
    (SMALL_FRAME_BYTES = 0) of its one multi-consumer site."""
    from applications_analytics_midas_hbase_metrics_spark.operators import (
        pinning,
    )
    from applications_analytics_midas_hbase_metrics_spark.plans import (
        queries_curation as QC,
    )
    from tests.conftest import SF_SMOKE

    flavors = []
    for threshold in (pinning.SMALL_FRAME_BYTES, 0):
        monkeypatch.setattr(pinning, "SMALL_FRAME_BYTES", threshold)
        with pinning.scope() as s:
            flavors.append(
                sorted(
                    tuple(r)
                    for r in QC.q_gopher_quality_pipeline(
                        spark, SF_SMOKE
                    ).collect()
                )
            )
            assert [p.flavor for p in s.pins if p.label == "deferred"] == (
                ["persist"] if threshold else ["persist_disk"]
            )
    assert flavors[0] == flavors[1]
