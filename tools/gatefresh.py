"""Gate-freshness fingerprints: make "a commit landed after the gates
ran" structurally detectable (r10 VERDICT task 1 — the r10 snapshot
shipped with its own pytest red because two functional commits landed
AFTER the verify/bench artifacts and doc literals were written).

Mechanism:

* ``engine_fingerprint()`` — one sha256 over every file that can
  change what a gate MEASURES: the package's .py files, the tools'
  .py files, ``bench.py`` and ``__spark_entry__.py``. Doc edits
  (PERF.md, VERIFY_LOCAL, README) deliberately do NOT change it, so
  aligning prose after a gate run never invalidates the run.
* ``repo_fingerprint()`` — engine + ``tests/``: what the pytest gate
  ran on.
* ``record(paths)`` — writes each artifact's engine fingerprint into
  ``GATE_FINGERPRINTS.json``, for artifacts inside the checkout only. The artifact writers
  (tools/verify_queries.py --json, tools/scale_probe.py --json) call
  it automatically; hand-written artifacts (BENCH_LOCAL_*) are
  recorded via the CLI: ``python tools/gatefresh.py record FILE...``.
* ``check()`` — for the CURRENT round (latest VERDICT round + 1):
  every local gate artifact named for it must be recorded with the
  CURRENT engine fingerprint, and the round's VERIFY_LOCAL file (if
  written) must embed the CURRENT repo fingerprint on a line
  ``gate-fingerprint: <16 hex>``. Older rounds' artifacts are
  history and never re-checked. Enforced by
  tests/test_tools.py::test_gate_artifacts_are_fresh, so ANY
  functional commit after the gate run turns pytest red until the
  gates are re-run on the final code.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STORE = os.path.join(REPO, "GATE_FINGERPRINTS.json")
PACKAGE = "hubspot_neo4j_pipeline_spark"


def _files(patterns: list[str]) -> list[str]:
    out: list[str] = []
    for pat in patterns:
        out.extend(glob.glob(os.path.join(REPO, pat), recursive=True))
    return sorted(p for p in out if os.path.isfile(p))


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def engine_fingerprint() -> str:
    return _digest(
        _files(
            [
                f"{PACKAGE}/**/*.py",
                "tools/*.py",
                "bench.py",
                "__spark_entry__.py",
            ]
        )
    )


def repo_fingerprint() -> str:
    return _digest(
        _files(
            [
                f"{PACKAGE}/**/*.py",
                "tools/*.py",
                "bench.py",
                "__spark_entry__.py",
                "tests/**/*.py",
            ]
        )
    )


def record(paths: list[str]) -> None:
    """Pin the current engine fingerprint for each artifact in
    ``paths`` that lies under the directory holding ``STORE`` (the
    checkout); an artifact written elsewhere (an ad-hoc
    ``verify_queries.py --json /tmp/x.json``) is not the repo's and is
    skipped, leaving the tracked store untouched."""
    root = os.path.dirname(os.path.realpath(STORE))
    paths = [
        p for p in paths
        if os.path.commonpath([root, os.path.realpath(p)]) == root
    ]
    if not paths:
        return
    store: dict[str, str] = {}
    if os.path.exists(STORE):
        with open(STORE) as fh:
            store = json.load(fh)
    fp = engine_fingerprint()
    for p in paths:
        store[os.path.basename(p)] = fp
    with open(STORE, "w") as fh:
        json.dump(store, fh, indent=1, sort_keys=True)
        fh.write("\n")


def current_round() -> int | None:
    """The round being built NOW = the latest judge VERDICT's round
    + 1 (fallback: the latest driver BENCH_r artifact). None when
    neither exists (fresh repo)."""
    verdict = os.path.join(REPO, "VERDICT.md")
    if os.path.exists(verdict):
        with open(verdict) as fh:
            m = re.search(r"VERDICT\s*[—-]+\s*round\s+(\d+)", fh.read())
        if m:
            return int(m.group(1)) + 1
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r0*(\d+)\.json$", p))
    ]
    return max(rounds) + 1 if rounds else None


def round_artifacts(rnd: int) -> list[str]:
    pats = [
        f"CORRECTNESS_LOCAL_r{rnd}*.json",
        f"BENCH_LOCAL_r{rnd}*.json",
        f"SCALE_PROBE_r{rnd}*.json",
    ]
    return sorted(
        os.path.basename(p) for pat in pats for p in glob.glob(os.path.join(REPO, pat))
    )


def check() -> list[str]:
    rnd = current_round()
    if rnd is None:
        return []
    problems: list[str] = []
    arts = round_artifacts(rnd)
    if arts:
        store: dict[str, str] = {}
        if os.path.exists(STORE):
            with open(STORE) as fh:
                store = json.load(fh)
        fp = engine_fingerprint()
        for a in arts:
            if a not in store:
                problems.append(
                    f"{a} (round {rnd}) was never recorded in "
                    f"GATE_FINGERPRINTS.json — regenerate it via the gate "
                    f"tools (or `python tools/gatefresh.py record {a}`)"
                )
            elif store[a] != fp:
                problems.append(
                    f"{a} (round {rnd}) was generated on different engine "
                    f"code (recorded {store[a][:12]}, current {fp[:12]}) — "
                    f"re-run the gate on the final code"
                )
    verify_md = os.path.join(REPO, f"VERIFY_LOCAL_r{rnd}.md")
    if os.path.exists(verify_md):
        with open(verify_md) as fh:
            text = fh.read()
        want = f"gate-fingerprint: {repo_fingerprint()[:16]}"
        if want not in text:
            problems.append(
                f"VERIFY_LOCAL_r{rnd}.md does not carry the current repo "
                f"fingerprint line `{want}` — the pytest/verify numbers in "
                f"it predate the latest code; re-run the gates and update it"
            )
    return problems


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "record":
        record(sys.argv[2:])
        print(f"recorded {len(sys.argv) - 2} artifact(s) @ {engine_fingerprint()[:16]}")
    elif len(sys.argv) >= 2 and sys.argv[1] == "fingerprint":
        print(f"engine: {engine_fingerprint()[:16]}")
        print(f"repo:   {repo_fingerprint()[:16]}")
    else:
        problems = check()
        for p in problems:
            print(f"STALE {p}")
        print(f"gatefresh round {current_round()}: {len(problems)} stale")
        sys.exit(1 if problems else 0)
