"""The one pin lifecycle (operators/pinning.py): it is the only code that
materializes or releases a frame, scopes release their pins on every
exit, and pinned frames survive task retries."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.operators import pinning
from tests.conftest import persistent_rdd_ids

PKG = os.path.join(
    os.path.dirname(__file__), "..", "applications_analytics_midas_hbase_metrics_spark"
)
_PIN_CALLS = {"persist", "localCheckpoint", "checkpoint", "cache", "unpersist"}


def test_only_pinning_materializes_or_releases():
    """No package file but operators/pinning.py calls persist,
    localCheckpoint, checkpoint, cache or unpersist, or refers to
    System.gc: a pin made anywhere else escapes the scope records and
    its release would wait on GC."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith(
                os.path.join("operators", "pinning.py")
            ):
                continue
            for node in ast.walk(ast.parse(open(path).read(), path)):
                rel = f"{os.path.relpath(path, PKG)}:{getattr(node, 'lineno', 0)}"
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr == "gc"
                    and getattr(node.value, "attr", None) == "System"
                ):
                    offenders.append(f"{rel} System.gc")
                elif (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _PIN_CALLS
                ):
                    offenders.append(f"{rel} .{node.func.attr}()")
    assert offenders == []


def test_scope_releases_on_exit_and_error_and_keeps(spark):
    """A scope releases every pin made inside it, normally or by an
    exception; a kept pin moves to the enclosing scope instead."""
    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    before = persistent_rdd_ids(spark)
    with pinning.scope() as outer:
        with pinning.scope() as inner:
            kept = pinning.pin(df.filter("k = 1"), "kept")
            pinning.pin(df.filter("k = 2"), "dropped")
            inner.keep(kept)
        assert [p.label for p in outer.pins] == ["kept"]
        assert kept.count() == len([i for i in range(100) if i % 7 == 1])
        with pytest.raises(RuntimeError):
            with pinning.scope():
                pinning.pin(df.filter("k = 3"), "failed", eager=False).count()
                raise RuntimeError("boom")
        assert len(persistent_rdd_ids(spark) - before) == 1
    assert persistent_rdd_ids(spark) - before == set()


_RETRY_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark import TaskContext
    from pyspark.sql import functions as F
    from applications_analytics_midas_hbase_metrics_spark.operators import pinning
    from applications_analytics_midas_hbase_metrics_spark.session import get_spark

    spark = get_spark(app_name="pin-retry", cpus="4,2", shuffle_partitions=4)
    pinning.SMALL_FRAME_BYTES = 0  # every eager pin is a DISK_ONLY checkpoint

    def first_attempt_fails(fail):
        @F.udf("bigint")
        def f(x):
            if fail and TaskContext.get().attemptNumber() == 0:
                raise RuntimeError("injected first-attempt fault")
            return x * 3
        return f

    def run(producer_fault, consumer_fault):
        src = spark.range(0, 4000, numPartitions=4)
        made = src.select("id", first_attempt_fails(producer_fault)("id").alias("v"))
        with pinning.scope() as s:
            pinned = pinning.pin(made, "retry")
            assert [p.flavor for p in s.pins] == ["checkpoint_disk"]
            out = pinned.select(
                "id", first_attempt_fails(consumer_fault)("v").alias("w")
            ).groupBy(F.col("id") % 10).agg(F.sum("w").alias("s"))
            return sorted(tuple(r) for r in out.collect())

    clean = run(False, False)
    print(json.dumps({{
        "producer": run(True, False) == clean,
        "consumer": run(False, True) == clean,
        "rows": len(clean),
    }}))
    spark.stop()
    """
)


def test_disk_pin_survives_task_retry(tmp_path):
    """``local[4,2]`` allows one retry per task.  A fault on every
    task's first attempt in the producer of an eager DISK_ONLY pin, and
    separately in a consumer that reads one, must both be retried to
    the fault-free result.  Runs in its own JVM: one JVM holds one
    SparkContext, and this one needs a different master."""
    repo = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    script = tmp_path / "retry.py"
    script.write_text(_RETRY_SCRIPT.format(repo=repo))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    res = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    verdict = res.stdout.strip().splitlines()[-1]
    assert verdict == '{"producer": true, "consumer": true, "rows": 10}', (
        verdict
    )


def test_scopes_are_per_thread_under_contention(spark):
    """Scopes are a per-thread stack over shared records: threads that
    open scopes and pin concurrently each see exactly their own pins,
    and every pin is released when its scope closes."""
    import threading

    df = spark.range(100)
    errors: list[str] = []

    def worker(i: int) -> None:
        try:
            for j in range(5):
                with pinning.scope() as s:
                    pinning.pin(df.filter(F.col("id") == i), f"t{i}", eager=False)
                    labels = [p.label for p in s.pins]
                    if labels != [f"t{i}"]:
                        errors.append(f"thread {i} round {j} saw {labels}")
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(f"thread {i}: {exc!r}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert pinning.live_pins() == []
