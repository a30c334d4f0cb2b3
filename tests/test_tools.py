"""Unit tests for the verification/bench tooling itself — the gates
must stay trustworthy (a broken comparator is how a regression hides).
No SparkSession needed."""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from bench_compare import load_timings, main as bench_main  # noqa: E402
from verify_queries import compare  # noqa: E402


def test_compare_reports_dtype_and_column_problems_together():
    """ADVICE r3: a query failing BOTH checks must report both — the
    early return used to discard the dtype findings."""
    spark_df = pd.DataFrame({"a": [1, 2], "extra": [1, 2]})
    oracle_df = pd.DataFrame({"a": [1.0, 2.0]})  # float kind + missing col
    problems = compare("q", spark_df, oracle_df)
    assert any("dtype kind differs" in p for p in problems)
    assert any("columns differ" in p for p in problems)
    assert len(problems) == 2


def test_compare_exact_pass_and_value_diff():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert compare("q", a, a.copy()) == []
    b = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    problems = compare("q", a, b)
    assert len(problems) == 1 and "cells differ" in problems[0]


def test_bench_compare_formats_and_gate(tmp_path):
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    # bench.py format on one side, driver tail-wrapper format on the other
    old.write_text(
        json.dumps({"queries": {"q_fast": 0.1, "q_slow": 1.0, "q_gone": 0.2}})
    )
    new.write_text(
        json.dumps(
            {
                "n": 3,
                "rc": 0,
                "tail": '"q_fast": 0.12, "q_slow": 2.6, "q_new": 0.3}',
            }
        )
    )
    assert load_timings(str(old)) == {"q_fast": 0.1, "q_slow": 1.0, "q_gone": 0.2}
    assert load_timings(str(new)) == {"q_fast": 0.12, "q_slow": 2.6, "q_new": 0.3}
    # q_slow: 1.0 -> 2.6 is >2x and >0.3s -> gate trips (exit 1)
    assert bench_main([str(old), str(new)]) == 1
    # with a looser ratio the same diff passes
    assert bench_main([str(old), str(new), "--ratio", "3.0"]) == 0
    # q_fast alone (ratio trips but abs floor doesn't) must NOT fail
    old2, new2 = tmp_path / "o2.json", tmp_path / "n2.json"
    old2.write_text(json.dumps({"queries": {"q_fast": 0.05}}))
    new2.write_text(json.dumps({"queries": {"q_fast": 0.2}}))
    assert bench_main([str(old2), str(new2)]) == 0


def test_bench_compare_gates_missing_and_failed_queries(tmp_path):
    """r12 ADVICE: a regression-to-FAILURE (-1.0 sentinel) or a query
    vanished from a full-format new artifact must trip the gate — it
    used to silently shrink the common set and read green."""
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"queries": {"q_a": 0.5, "q_b": 0.5}}))
    # q_b now fails (-1.0) -> exit 1 even though q_a is unchanged
    failed = tmp_path / "failed.json"
    failed.write_text(json.dumps({"queries": {"q_a": 0.5, "q_b": -1.0}}))
    assert bench_main([str(old), str(failed)]) == 1
    # q_b absent from a FULL-format artifact -> exit 1
    gone = tmp_path / "gone.json"
    gone.write_text(json.dumps({"queries": {"q_a": 0.5}}))
    assert bench_main([str(old), str(gone)]) == 1
    # absent from a tail-truncated driver artifact -> warn only (its
    # head loss is truncation, not regression)
    tail = tmp_path / "tail.json"
    tail.write_text(json.dumps({"tail": '"q_a": 0.5}'}))
    assert bench_main([str(old), str(tail)]) == 0


def test_bench_compare_reports_calibration_and_rep_protocol(tmp_path, capsys):
    """r13: both sides carrying calibration_sec yields a box-normalized
    line; differing per-query rep counts are named as protocol, and an
    --annotate run persists all of it into the artifact."""
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(
        json.dumps(
            {
                "queries": {"q_a": 1.0, "q_b": 2.0},
                "calibration_sec": 1.0,
                "rep_counts": {"q_a": 3, "q_b": 3},
            }
        )
    )
    new.write_text(
        json.dumps(
            {
                "queries": {"q_a": 1.2, "q_b": 2.4},
                "calibration_sec": 1.2,
                "rep_counts": {"q_a": 3, "q_b": 1},
            }
        )
    )
    assert bench_main([str(old), str(new), "--annotate"]) == 0
    out = capsys.readouterr().out
    assert "calibration: 1.000 s -> 1.200 s" in out
    assert "box +20.0%" in out
    assert "q_b (3->1 reps)" in out
    annotated = json.loads(new.read_text())["compare"]
    assert annotated["calibration_box_ratio"] == 1.2
    assert annotated["rep_protocol_mismatch"] == ["q_b"]
    assert annotated["missing_from_new"] == []
    assert annotated["failed_in_new"] == []


def test_coverage_citations_resolve():
    """Every `file.py:symbol` citation in COVERAGE.md must point at a
    real package file containing the symbol (r4 VERDICT found stale
    ones; this keeps the judge's audit trail trustworthy)."""
    from tools.check_coverage_citations import check

    assert check() == []


def test_doc_count_literals_match_artifacts():
    """Query-count literals in README/COVERAGE/PERF and the latest
    VERIFY_LOCAL must match the registry / the committed artifacts
    they cite (r8 VERDICT: a PERF row said "115 queries" against a
    117-query artifact and "123/0" against a 125-row probe — numeric
    drift the symbol checker can't see)."""
    from tools.check_coverage_citations import check_counts

    assert check_counts() == []


def test_verify_self_count_matches_checker():
    """The latest VERIFY_LOCAL's own '**N citations ...**' literal must
    equal the count the checker computes on the current code — the one
    figure the r9 audit couldn't see (the r9 judge caught a pasted 134
    against a committed 133: the VERIFY edit itself shifted the count
    after the number was written)."""
    from tools.check_coverage_citations import check_self_count

    assert check_self_count() == []


def test_gate_artifacts_are_fresh():
    """r10 VERDICT task 1 (structural fix): the r10 snapshot went red
    because functional commits landed AFTER the gate artifacts and
    prose were written. This test makes that drift class fail pytest:
    every local gate artifact named for the CURRENT round must carry
    the CURRENT engine fingerprint in GATE_FINGERPRINTS.json, and the
    round's VERIFY_LOCAL file must embed the current repo fingerprint
    — so any engine/tools/tests commit after a gate run forces the
    gates to be re-run on the final code."""
    from tools.gatefresh import check

    assert check() == []


def test_gate_fingerprint_reacts_to_engine_changes(tmp_path, monkeypatch):
    """The fingerprint must change when engine code changes and must
    IGNORE doc-only edits (aligning PERF.md prose after a run may not
    invalidate the run)."""
    import tools.gatefresh as gf

    fp0 = gf.engine_fingerprint()
    # doc edits are invisible to the engine fingerprint by design
    assert "PERF.md" not in str(gf._files([f"{gf.PACKAGE}/**/*.py", "tools/*.py"]))
    # a changed engine file changes the digest (simulated on a copy of
    # the file list by hashing with one extra virtual file)
    import hashlib

    h = hashlib.sha256()
    h.update(b"extra.py")
    assert gf._digest([]) != fp0  # empty set differs from the real tree
    # record/check round-trip on a scratch store
    monkeypatch.setattr(gf, "STORE", str(tmp_path / "fp.json"))
    art = tmp_path / f"CORRECTNESS_LOCAL_r999.json"
    art.write_text("{}")
    gf.record([str(art)])
    import json

    rec = json.loads((tmp_path / "fp.json").read_text())
    assert rec[art.name] == fp0


def test_gate_record_skips_artifacts_outside_the_checkout(tmp_path, monkeypatch):
    """``verify_queries.py --json PATH`` records PATH; a PATH outside
    the checkout (the directory holding the fingerprint store) must
    leave the store untouched, while one inside is still recorded."""
    import tools.gatefresh as gf

    repo = tmp_path / "checkout"
    repo.mkdir()
    store = repo / "GATE_FINGERPRINTS.json"
    monkeypatch.setattr(gf, "STORE", str(store))
    outside = tmp_path / "scratch" / "CORRECTNESS_LOCAL_r999.json"
    outside.parent.mkdir()
    outside.write_text("{}")
    gf.record([str(outside)])
    assert not store.exists()

    store.write_text('{"KEPT.json": "abc"}\n')
    inside = repo / "CORRECTNESS_LOCAL_r998.json"
    inside.write_text("{}")
    gf.record([str(outside), str(inside)])
    assert json.loads(store.read_text()) == {
        "KEPT.json": "abc",
        inside.name: gf.engine_fingerprint(),
    }


def test_store_stats_shapes(spark, tmp_path_factory):
    """store_stats (r11 ops surface) reads meta + manifests only and
    reports the next compaction's touched-bucket fraction."""
    from hubspot_neo4j_pipeline_spark.streaming import segments
    from hubspot_neo4j_pipeline_spark.streaming.hash_store import (
        hash_store_compact,
        hash_store_update_batch,
    )

    store = str(tmp_path_factory.mktemp("stats")) + "/hashes"
    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd"), (3, "aa bb")],
        "doc_id long, text string",
    )
    hash_store_update_batch(docs, store, batch_id=0)
    st = segments.store_stats(store)
    assert st["base"] is None and st["live_delta_ids"] == [0]
    assert st["live_delta_rows"][0] == 2  # two distinct contents
    assert 0 < st["next_compaction_bucket_fraction"] <= 1.0
    assert st["pinned"]["id_type"] == "bigint"
    hash_store_compact(spark, store)
    st = segments.store_stats(store)
    assert st["base"] == "base-0" and st["base_rows"] == 2
    assert st["live_delta_ids"] == []
    assert st["next_compaction_bucket_fraction"] == 0.0
    assert st["pending_bucket_growth"] is False


def test_jvm_cpu_thread_classes():
    from jvm_cpu import thread_class

    assert thread_class("C2 CompilerThre") == "c2"
    assert thread_class("C1 CompilerThre") == "c1"
    assert thread_class("Executor task l") == "tasks"
    assert thread_class("Thread-7") == "planning"
    assert thread_class("GC Thread#3") == "gc"
    assert thread_class("G1 Conc#0") == "gc"
    assert thread_class("VM Thread") == "other"
    assert thread_class("python3") == "other"


def test_jvm_cpu_snapshot_of_own_process():
    """One snapshot of this process lists every live thread; over a
    region the per-class seconds add up to the process total."""
    import threading
    import time

    from jvm_cpu import by_class, jvm_cpu, snapshot, thread_class

    pid = os.getpid()
    snap = snapshot(pid)
    tid = threading.get_native_id()
    assert tid in snap["threads"] and snap["total"] > 0
    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
        cls = thread_class(fh.read().rstrip("\n"))

    with jvm_cpu(pid) as region:
        end = time.thread_time() + 0.3
        while time.thread_time() < end:
            pass
    sec = region.seconds
    assert sec[cls] > 0.2
    assert abs(sum(v for k, v in sec.items() if k != "total") - sec["total"]) < 0.05
    assert by_class(snapshot(pid))["total"] >= sec["total"]


def test_jvm_cpu_counts_threads_that_end_inside_the_region(monkeypatch):
    """A thread that starts and ends inside the region (HotSpot's
    dynamic compiler threads) is counted in its class from its last
    sample, not lumped into ``exited``."""
    import time

    import jvm_cpu

    snaps = {
        "before": {"threads": {1: ("other", 1.0)}, "total": 1.0},
        "during": {"threads": {1: ("other", 1.5), 2: ("c2", 3.0)}, "total": 4.5},
        "after": {"threads": {1: ("other", 2.0)}, "total": 5.2},
    }
    phase, calls = ["before"], [0]

    def fake_snapshot(_pid):
        snap = snaps[phase[0]]
        phase[0] = "after" if phase[0] == "after" else "during"
        calls[0] += 1
        return snap

    monkeypatch.setattr(jvm_cpu, "snapshot", fake_snapshot)
    with jvm_cpu.jvm_cpu(0) as region:
        deadline = time.monotonic() + 30
        while calls[0] < 2 and time.monotonic() < deadline:
            time.sleep(0.05)  # until the sampler has read "during"
        phase[0] = "after"
    sec = region.seconds
    assert (sec["c2"], sec["other"], sec["exited"], sec["total"]) == (3.0, 1.0, 0.2, 4.2)


def test_py4j_calls_counts_round_trips_per_method(spark):
    """Each JVM method call inside the block is counted once under its
    method name; the wrapper is removed on exit, also after an error."""
    import pytest
    from py4j.java_gateway import JavaMember
    from py4j_calls import py4j_calls

    original = JavaMember.__call__
    system = spark.sparkContext._jvm.java.lang.System
    with py4j_calls() as calls:
        for _ in range(3):
            system.nanoTime()
        system.getProperty("java.version")
    assert JavaMember.__call__ is original
    assert dict(calls.counts) == {"nanoTime": 3, "getProperty": 1}
    assert calls.total == 4 and calls.seconds > 0
    assert calls.top(1) == [("nanoTime", 3, calls.wall["nanoTime"])]
    system.nanoTime()
    assert calls.total == 4

    with pytest.raises(ZeroDivisionError):
        with py4j_calls():
            1 / 0
    assert JavaMember.__call__ is original


def test_bench_sidecar_only_on_full_registry_run(tmp_path):
    """``BENCH_LAST.json`` holds the last full-registry bench: a run
    restricted by ``SPARK_GRAFT_BENCH_ONLY`` prints its line and leaves
    the file as it was."""
    import bench

    path = tmp_path / "BENCH_LAST.json"
    path.write_text("full\n")
    assert not bench.write_sidecar('{"n_queries": 1}', {"q1"}, str(path))
    assert path.read_text() == "full\n"
    assert bench.write_sidecar('{"n_queries": 154}', set(), str(path))
    assert path.read_text() == '{"n_queries": 154}\n'
    # a read-only checkout does not fail the bench
    assert not bench.write_sidecar("x", set(), str(tmp_path / "no" / "f.json"))
